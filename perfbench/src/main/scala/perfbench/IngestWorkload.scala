package perfbench

import graft.Graft
import graft.dedup.Dedup
import graft.harmonize.Standards
import graft.similarity.Ann
import graft.text.Search
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** One client streaming small batches against indexes built in set-up.
  * Each batch probes and appends the exact-hash dedup index, appends
  * and queries the IVF-PQ vector index and the BM25 index, and matches
  * its new values against a registered standard. Inputs are small, so
  * fixed per-call cost (jobs, planning) dominates.
  */
final class IngestWorkload extends Workload("ingest") {
  val BaseDocs = 600
  val BaseVectors = 600
  val Dim = 64
  val Batches = 2
  val BatchDocs = 40
  val BatchVectors = 40
  val Queries = 5
  val BatchValues = 16
  val TopK = 10
  val DupShare = 0.2

  private var spark: SparkSession = _
  private var work: String = _
  private var batches: Seq[IngestWorkload.Batch] = Nil
  private var vectors: DataFrame = _
  private var allVectors: Map[Long, Seq[Float]] = Map.empty
  private var names: Seq[String] = Nil
  private var quantizers: Option[(Seq[Seq[Double]], IndexedSeq[IndexedSeq[Seq[Double]]])] = None
  private val ExactTable = "perfbench_exact"
  private val Bm25Table = "perfbench_bm25"
  private val Standard = "perfbench_parts"
  private def live(n: String) = s"$work/live/$n"
  private def snap(n: String) = s"$work/snapshot/$n"
  private def tablePath(t: String) =
    s"${spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")}/$t"

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.spark = spark
    work = s"$dir/ingest"
    val (base, _) = Gen.corpus(seed, BaseDocs, 0.0)
    val baseVecs = Gen.embeddings(seed, BaseVectors, Dim)
    val r = Gen.rng(seed, "ingest-batches")
    var seen = base.map(_.text).toSet
    names = (for (a <- Gen.Adjectives; n <- Gen.Nouns) yield s"$a $n").sorted
    batches = (0 until Batches).map { b =>
      val firstDoc = BaseDocs + b * BatchDocs
      val docs = (0 until BatchDocs).map { i =>
        // planted exact duplicates of the corpus seen so far
        val text = if (r.nextDouble() < DupShare) seen.toSeq.sorted.apply(r.nextInt(seen.size))
          else Gen.randomText(r, 20, 60)
        Gen.Document(firstDoc + i, text, "en", s"batch$b", text.length.toLong)
      }
      val expectedNew = docs.groupBy(_.text).collect {
        case (text, ds) if !seen(text) => ds.map(_.doc_id).min
      }.toSet
      seen ++= docs.map(_.text)
      val vecs = Gen.embeddings(seed, BatchVectors, Dim, BaseVectors + b * BatchVectors)
      val queries = Gen.embeddings(seed, Queries, Dim, 1000000L + b * Queries)
      val terms = (0 until Queries).map(q => q -> Gen.randomText(r, 2, 4))
      val values = (0 until BatchValues).map { i =>
        val v = names(r.nextInt(names.size))
        val shown = if (r.nextBoolean()) Gen.typo(r, v) else v
        (s"b${b}v$i", shown, v)
      }
      IngestWorkload.Batch(docs, vecs, queries, terms,
        values.map { case (id, shown, _) => (id, shown) },
        values.collect { case (_, shown, v) if shown != v => (shown, v) }.distinct,
        expectedNew)
    }
    val allVecs = baseVecs ++ batches.flatMap(_.vectors)
    allVectors = allVecs.map(e => e.vec_id -> e.embedding).toMap
    write(spark, dir, "documents", base)
    write(spark, dir, "embeddings", allVecs)
    val t = graft.Tables(spark, dir)
    vectors = t.embeddings
    inputs += (("batches", (Batches * (BatchDocs + BatchVectors + Queries + BatchValues)).toLong, 0L))

    import spark.implicits._
    Graft.registerStandard(Standard, Standards(names.map(n => ("part_name", n))
      .toDF("attribute", "value")))
    // indexes, built once; every pass starts from a copy of them
    Dedup.exactHashIndexBuild(t.documents, "text", ExactTable, nBuckets = 8)
    Search.bm25Build(t.documents, "doc_id", "text", Bm25Table, live("bm25_stats"),
      nBuckets = 8)
    quantizers = Some(Ann.ivfpqBuild(vectors.where(F.col("vec_id") < BaseVectors),
      "vec_id", "embedding", live("ivfpq"), nCells = 16, m = 8, ksub = 16))
    Files.copyTree(tablePath(ExactTable), snap("exact"))
    Files.copyTree(tablePath(Bm25Table), snap("bm25"))
    Files.copyTree(live("bm25_stats"), snap("bm25_stats"))
    Files.copyTree(live("ivfpq"), snap("ivfpq"))
  }

  /** Restores the indexes to their set-up state, so appends never
    * accumulate across passes.
    */
  override def beforePass(spark: SparkSession): Unit = {
    Files.copyTree(snap("exact"), tablePath(ExactTable))
    Files.copyTree(snap("bm25"), tablePath(Bm25Table))
    Files.copyTree(snap("bm25_stats"), live("bm25_stats"))
    Files.copyTree(snap("ivfpq"), live("ivfpq"))
    spark.catalog.refreshTable(ExactTable)
    spark.catalog.refreshTable(Bm25Table)
  }

  def pass(p: Pass): Unit = {
    val session = spark
    import session.implicits._
    batches.zipWithIndex.foreach { case (b, i) =>
      val w0 = System.nanoTime
      val x0 = p.excludedNanos
      val docs = spark.createDataFrame(b.docs)
      p.call("dedup.index", "Dedup.incrementalNewIdx")(
        Dedup.incrementalNewIdx(docs, spark.table(ExactTable), "doc_id", "text"))(
        df => Sink.collect(df.select("doc_id"))) { rows =>
        val got = rows.map(_.getLong(0)).toSet
        if (got == b.expectedNew) None
        else Some(s"new ids ${got.size}, expected ${b.expectedNew.size}")
      }
      p.call("dedup.index", "Dedup.exactHashIndexAppend")(
        Dedup.exactHashIndexAppend(docs, "text", ExactTable, ingestBatch = i, nBuckets = 8))(
        identity) { _ =>
        // read by path: a catalog read would warm the table's cached
        // file listing for the next timed call
        Checks.appended(spark.read.parquet(tablePath(ExactTable))
          .where(F.col("ingest_batch") === i).select("hash").as[String].collect().toSeq,
          b.docs.map(d => md5(d.text)).toSet)
      }

      val hi = BaseVectors + (i + 1) * BatchVectors
      p.call("similarity.ann", "Ann.ivfpqIndexAppend")(
        Ann.ivfpqIndexAppend(spark, live("ivfpq"), spark.createDataFrame(b.vectors),
          "vec_id", "embedding", batchId = i, quantizers = quantizers))(identity) { _ =>
        Checks.appended(spark.read.parquet(s"${live("ivfpq")}/codes")
          .where(F.col("ingest_batch") === i).select("neighbor_id").as[Long].collect().toSeq,
          b.vectors.map(_.vec_id).toSet)
      }
      p.call("similarity.ann", s"Ann.ivfpqQueryIndex k=$TopK")(
        Ann.ivfpqQueryIndex(spark, live("ivfpq"), spark.createDataFrame(b.queries),
          "vec_id", "embedding", vectors.where(F.col("vec_id") < hi), "vec_id", "embedding",
          k = TopK, quantizers = quantizers))(Sink.collect) { rows =>
        val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Number]("rank").intValue,
          r.getAs[Long]("neighbor_id"))).toSeq
        val exact = b.queries.map { q =>
          q.vec_id -> (0L until hi).sortBy(id => -dot(q.embedding, allVectors(id)))
            .take(TopK).toSet
        }.toMap
        p.addQuality("ann_recall", got.count { case (q, _, n) => exact(q)(n) }.toLong,
          (b.queries.size * TopK).toLong)
        Checks.topK(got, b.queries.map(_.vec_id).toSet, TopK, hi, id => id >= 0 && id < hi)
      }

      val statsPath = live("bm25_stats")
      p.call("text.search", "Search.bm25IndexAppend")(
        Search.bm25IndexAppend(docs, "doc_id", "text", Bm25Table, statsPath,
          nBuckets = 8, batchId = i))(identity) { _ =>
        val n = spark.read.parquet(statsPath).select("n").as[Long].collect().toSeq
        Checks.appended(spark.read.parquet(tablePath(Bm25Table))
          .where(F.col("ingest_batch") === i).select("doc_id").distinct().as[Long]
          .collect().toSeq, b.docs.map(_.doc_id).toSet)
          .orElse(if (n == Seq(BaseDocs + (i + 1L) * BatchDocs)) None
            else Some(s"index statistics count $n documents"))
      }
      val lastDoc = b.docs.last.doc_id
      p.call("text.search", s"Search.bm25QueryIndex k=$TopK")(
        Search.bm25QueryIndex(spark, Bm25Table, statsPath, b.terms, k = TopK))(
        Sink.collect) { rows =>
        val got = rows.map(r => (r.getAs[Number]("query_id").longValue,
          r.getAs[Number]("rank").intValue, r.getAs[Long]("doc_id"))).toSeq
        Checks.topK(got, b.terms.map(_._1.toLong).toSet, TopK, lastDoc.toInt + 1,
          id => id >= 0 && id <= lastDoc)
      }

      p.call("harmonize.values", "Graft.matchValues standard")(
        Graft.matchValues(b.values.toDF("id", "value"), "value", Standard, "part_name",
          "edit_distance", 0.3))(Sink.collect) { rows =>
        Checks.valueMatches(rows.map(r => (r.getAs[String]("source"), r.getAs[String]("target")))
          .toSeq, b.values.map(_._2).toSet, b.typos, names, 0.3)
      }
      p.batchSeconds += ((System.nanoTime - w0 - (p.excludedNanos - x0)) / 1e9)
    }
  }

  private def md5(text: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .map(x => f"${x & 0xff}%02x").mkString

  private def dot(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.size) { s += a(i) * b(i); i += 1 }
    s
  }
}

object IngestWorkload {
  /** One batch the client sends, with the new ids it must get back and
    * its planted (typo, original) values.
    */
  final case class Batch(docs: Seq[Gen.Document], vectors: Seq[Gen.Embedding],
                         queries: Seq[Gen.Embedding], terms: Seq[(Int, String)],
                         values: Seq[(String, String)], typos: Seq[(String, String)],
                         expectedNew: Set[Long])
}
