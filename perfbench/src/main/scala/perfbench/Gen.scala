package perfbench

import scala.util.Random

/** Seeded input generation with planted truth.
  *
  * Every generator is a pure function of (seed, size): the same seed
  * gives identical rows, so a run is reproducible and two commits see
  * the same inputs. The tables mirror the column names, types and
  * value shapes of the library's TPC-H-like star schema (part,
  * customer, orders, lineitem, documents, embeddings), so
  * the library receives exactly the inputs its users feed it; only the
  * truth the checks compare against (renames, typos, duplicate
  * clusters, foreign keys) is kept back on the benchmark's side.
  */
object Gen {

  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
                        p_type: String, p_size: Int, p_retailprice: Double)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: java.sql.Timestamp,
                         o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                            l_linenumber: Int, l_quantity: Double,
                            l_extendedprice: Double, l_discount: Double, l_tax: Double,
                            l_returnflag: String, l_linestatus: String,
                            l_shipdate: java.sql.Timestamp)
  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Seq[Float], label: Int)

  val Adjectives = Vector("large", "hot", "blue", "small", "red", "old", "cold", "new")
  val Nouns = Vector("ring", "bolt", "widget", "rod", "gizmo", "plate", "anvil", "gear")
  val PartTypes = Vector("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
  val Segments = Vector("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Words = Vector("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge", "data",
    "the", "join", "customer", "vector", "level")
  val Langs = Vector("en", "en", "en", "de", "zh")

  /** One generator stream per (seed, purpose): adding a table never
    * shifts the rows of another.
    */
  def rng(seed: Long, purpose: String): Random =
    new Random(seed * 1000003L ^ purpose.hashCode.toLong)

  private val day = 86400000L
  private val epoch1995 = 788918400000L // 1995-01-01T00:00:00Z
  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  def parts(seed: Long, n: Int): Vector[Part] = {
    val r = rng(seed, "part")
    Vector.tabulate(n) { i =>
      Part(i, s"${Adjectives(r.nextInt(8))} ${Nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)
    }
  }

  def customers(seed: Long, n: Int): Vector[Customer] = {
    val r = rng(seed, "customer")
    Vector.tabulate(n) { i =>
      Customer(i, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        Segments(r.nextInt(5)))
    }
  }

  def orders(seed: Long, n: Int, nCustomers: Int): Vector[Order] = {
    val r = rng(seed, "orders")
    Vector.tabulate(n) { i =>
      Order(i, r.nextInt(nCustomers), Vector("F", "O", "P")(r.nextInt(3)),
        money(r, 1000, 400000),
        new java.sql.Timestamp(epoch1995 + r.nextInt(2500) * day),
        Priorities(r.nextInt(5)))
    }
  }

  /** Line items are skewed towards a few heavy orders and suppliers,
    * as real order books are. The line status is a function of the ship date (`F` up to the
    * cut-off, `O` after it): the planted exact dependency
    * `l_shipdate -> l_linestatus` that FD discovery must find.
    */
  val ShipCutoff: Long = epoch1995 + 1200 * day

  def lineitems(seed: Long, n: Int, nOrders: Int, nParts: Int,
                nSuppliers: Int): Vector[LineItem] = {
    val r = rng(seed, "lineitem")
    def skewed(m: Int) = math.min(m - 1, (m * math.pow(r.nextDouble(), 2.0)).toInt)
    Vector.tabulate(n) { i =>
      val ship = epoch1995 + r.nextInt(2500) * day
      val qty = 1 + r.nextInt(50)
      LineItem(skewed(nOrders), r.nextInt(nParts), skewed(nSuppliers), 1 + i % 7,
        qty.toDouble, money(r, 900, 2100) * qty, r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, Vector("A", "N", "R")(r.nextInt(3)),
        if (ship <= ShipCutoff) "F" else "O", new java.sql.Timestamp(ship))
    }
  }

  def randomText(r: Random, minWords: Int, maxWords: Int): String =
    Vector.fill(minWords + r.nextInt(maxWords - minWords + 1))(Words(r.nextInt(Words.size)))
      .mkString(" ")

  /** Near-duplicate edit: replaces `edits` random words. */
  def editWords(r: Random, text: String, edits: Int): String = {
    val ws = text.split(" ")
    (1 to edits).foreach(_ => ws(r.nextInt(ws.length)) = Words(r.nextInt(Words.size)))
    ws.mkString(" ")
  }

  /** A corpus with planted near-duplicate clusters: `n` documents; each
    * original gets, with probability `dupShare`, 1-3 copies with 1-2
    * replaced words each (Jaccard on word 3-shingles stays well above
    * 0.5). Returns the documents and (copy id -> origin id).
    */
  def corpus(seed: Long, n: Int, dupShare: Double,
             minWords: Int = 40, maxWords: Int = 70): (Vector[Document], Map[Long, Long]) = {
    val r = rng(seed, "corpus")
    val docs = Vector.newBuilder[Document]
    val origin = Map.newBuilder[Long, Long]
    var id = 0L
    while (id < n) {
      val text = randomText(r, minWords, maxWords)
      val lang = Langs(r.nextInt(Langs.size))
      val src = s"src${r.nextInt(20)}"
      val orig = id
      docs += Document(orig, text, lang, src, text.length.toLong)
      id += 1
      if (r.nextDouble() < dupShare) {
        val copies = 1 + r.nextInt(3)
        (1 to copies).foreach { _ =>
          if (id < n) {
            val t = editWords(r, text, 1 + r.nextInt(2))
            docs += Document(id, t, lang, src, t.length.toLong)
            origin += id -> orig
            id += 1
          }
        }
      }
    }
    (docs.result(), origin.result())
  }

  /** Clustered unit vectors: `nClusters` random centres plus noise, so
    * nearest-neighbour lists are meaningful and IVF cells are not
    * uniform.
    */
  def embeddings(seed: Long, n: Int, dim: Int, firstId: Long = 0L,
                 nClusters: Int = 10): Vector[Embedding] = {
    val centres = {
      val r = rng(seed, "centres")
      Vector.fill(nClusters)(Vector.fill(dim)(r.nextGaussian()))
    }
    val r = rng(seed, s"embeddings$firstId")
    Vector.tabulate(n) { i =>
      val c = r.nextInt(nClusters)
      val v = centres(c).map(_ + 0.8 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(firstId + i, v.map(x => (x / norm).toFloat), c)
    }
  }

  // ------------------------------------------------------------------ truth

  /** Column renames a data provider applies: the planted schema truth. */
  private val tablePrefix = Map("p" -> "part", "c" -> "cust", "s" -> "supp", "l" -> "line")

  def rename(r: Random, col: String): String = {
    val (pre, base) = col.span(_ != '_') match { case (p, b) => (p, b.drop(1)) }
    r.nextInt(5) match {
      case 0 => base
      case 1 => s"${tablePrefix.getOrElse(pre, pre)}_$base"
      case 2 => col.toUpperCase
      case 3 => base.split('_').zipWithIndex
        .map { case (w, i) => if (i == 0) w else w.capitalize }.mkString
      case _ => s"${base}_value"
    }
  }

  /** One or two random character edits (substitute, insert, delete). */
  def typo(r: Random, s: String): String = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    var t = s
    (1 to 1 + r.nextInt(2)).foreach { _ =>
      val i = r.nextInt(t.length)
      t = r.nextInt(3) match {
        case 0 => t.updated(i, alphabet(r.nextInt(alphabet.length)))
        case 1 => t.substring(0, i) + alphabet(r.nextInt(alphabet.length)) + t.substring(i)
        case _ if t.length > 3 => t.substring(0, i) + t.substring(i + 1)
        case _ => t.updated(i, alphabet(r.nextInt(alphabet.length)))
      }
    }
    t
  }

  /** Plants typos in a string domain: each distinct value is typo'd
    * with probability `share`, never onto another value of the domain
    * (that would be a real value, not a typo). Returns typo -> original.
    */
  def plantTypos(r: Random, domain: Seq[String], share: Double): Map[String, String] = {
    val taken = scala.collection.mutable.Set(domain: _*)
    domain.distinct.sorted.flatMap { v =>
      if (r.nextDouble() >= share) None
      else Iterator.continually(typo(r, v)).take(20).find(t => !taken(t) && t != v)
        .map { t => taken += t; t -> v }
    }.toMap
  }

  /** Reference Levenshtein distance, independent of the library's. */
  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }
}
