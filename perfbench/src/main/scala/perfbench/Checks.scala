package perfbench

import scala.collection.mutable

/** Output checks. Each returns None when the output is right, or a
  * one-line reason. They take plain collections so the tests can feed
  * them corrupted outputs directly.
  */
object Checks {

  private def fail(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)

  private def firstFailure(checks: (() => Option[String])*): Option[String] =
    checks.iterator.map(_()).collectFirst { case Some(m) => m }

  /** Edit-distance join: every pair re-verified with the reference
    * Levenshtein (distance <= k), no pair twice, and every planted
    * pair within k present.
    */
  def editJoin(pairs: Seq[(String, String)], k: Int,
               planted: Seq[(String, String)]): Option[String] = {
    lazy val got = pairs.toSet
    firstFailure(
      () => pairs.find { case (a, b) => Gen.levenshtein(a, b) > k }
        .map { case (a, b) => s"pair ($a, $b) is farther than $k" },
      () => fail(got.size == pairs.size, s"${pairs.size - got.size} duplicate pairs"),
      () => planted.filter { case (a, b) => Gen.levenshtein(a, b) <= k }
        .find(p => !got(p)).map(p => s"planted pair $p missing"))
  }

  /** Similarity pairs (id1 < id2) against a reference score: each
    * reported pair scores at least `threshold`, and every planted pair
    * scoring at least `recallFrom` is reported. An exact join passes
    * `recallFrom = threshold`; a probabilistic one a score it reaches
    * with near certainty. There must be such a planted pair, so an
    * empty answer never passes.
    */
  def simPairs(pairs: Seq[(Long, Long)], score: (Long, Long) => Double,
               threshold: Double, planted: Seq[(Long, Long)],
               recallFrom: Double): Option[String] = {
    lazy val got = pairs.toSet
    val eps = 1e-9
    lazy val mustFind = planted.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => score(a, b) >= recallFrom + eps }
    firstFailure(
      () => pairs.find { case (a, b) => a >= b }.map(p => s"pair $p not ordered"),
      () => fail(got.size == pairs.size, s"${pairs.size - got.size} duplicate pairs"),
      () => pairs.find { case (a, b) => score(a, b) < threshold - eps }
        .map(p => s"pair $p scores ${score(p._1, p._2)} < $threshold"),
      () => fail(mustFind.nonEmpty, s"no planted pair scores $recallFrom or more"),
      () => mustFind.find(p => !got(p)).map(p => s"planted pair $p missing"))
  }

  /** Value matching against a standard, one row (source, best target
    * or null) per source value: every source value is answered, and
    * each planted typo whose original is its unique closest standard
    * value (reference normalized Levenshtein, at least `threshold`)
    * maps back to that original. There must be such a typo.
    */
  def valueMatches(rows: Seq[(String, String)], sources: Set[String],
                   planted: Seq[(String, String)], standard: Seq[String],
                   threshold: Double): Option[String] = {
    def sim(a: String, b: String) =
      1.0 - Gen.levenshtein(a, b).toDouble / math.max(a.length, b.length)
    val best = rows.toMap
    val clear = planted.filter { case (typo, orig) =>
      val s = sim(typo, orig)
      s >= threshold && standard.forall(v => v == orig || sim(typo, v) < s)
    }
    firstFailure(
      () => fail(best.size == rows.size, "a source value answered twice"),
      () => fail(best.keySet == sources,
        s"answered ${best.size} source values, sent ${sources.size}"),
      () => fail(clear.nonEmpty, "no planted typo has a unique closest value"),
      () => clear.find { case (typo, orig) => best(typo) != orig }
        .map { case (typo, orig) => s"typo $typo matched ${best(typo)}, not $orig" })
  }

  /** An index append wrote exactly the batch's ids. */
  def appended[T](got: Seq[T], want: Set[T]): Option[String] =
    firstFailure(
      () => fail(got.toSet == want,
        s"index holds ${(got.toSet intersect want).size} of the batch's ${want.size} ids" +
          s" and ${(got.toSet diff want).size} others"),
      () => fail(got.distinct.size == got.size, "an id appended twice"))

  /** Connected components of an undirected pair list, labelled by the
    * smallest id in each component (the reference for `components`).
    */
  def referenceComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** `components` output is a partition consistent with its pair
    * list: every endpoint appears exactly once, both ends of every
    * pair share a component, and each component is labelled by its
    * smallest member, exactly as the reference closure says.
    */
  def partition(components: Seq[(Long, Long)], pairs: Seq[(Long, Long)]): Option[String] = {
    val comp = components.toMap
    val ref = referenceComponents(pairs)
    firstFailure(
      () => fail(comp.size == components.size,
        s"${components.size - comp.size} ids appear twice"),
      () => fail(comp.keySet == ref.keySet,
        s"ids differ from the pair endpoints: ${(comp.keySet diff ref.keySet).take(3)} " +
          s"extra, ${(ref.keySet diff comp.keySet).take(3)} missing"),
      () => pairs.find { case (a, b) => comp(a) != comp(b) }
        .map(p => s"pair $p split across components"),
      () => ref.find { case (id, c) => comp(id) != c }
        .map { case (id, c) => s"id $id labelled ${comp(id)}, expected $c" })
  }

  /** Top-k result lists: for each query exactly min(k, available)
    * neighbours ranked 1..n without gaps or repeats, all of them ids
    * that exist.
    */
  def topK(rows: Seq[(Long, Int, Long)], queries: Set[Long], k: Int,
           available: Int, exists: Long => Boolean): Option[String] = {
    val want = math.min(k, available)
    val byQ = rows.groupBy(_._1)
    firstFailure(
      () => fail(byQ.keySet == queries,
        s"answered queries ${byQ.keySet.size}, asked ${queries.size}"),
      () => byQ.collectFirst {
        case (q, rs) if rs.map(_._2).sorted != (1 to want) =>
          s"query $q ranks ${rs.map(_._2).sorted.take(12)}, want 1..$want"
      },
      () => byQ.collectFirst {
        case (q, rs) if rs.map(_._3).distinct.size != rs.size => s"query $q repeats a neighbour"
      },
      () => rows.find(r => !exists(r._3)).map(r => s"unknown neighbour ${r._3}"))
  }

  /** Inclusion dependencies: every planted foreign key has containment
    * exactly 1.0, and every containment is a share.
    */
  def containment(rows: Seq[(String, String, Double)],
                  plantedFks: Seq[(String, String)]): Option[String] = {
    val got = rows.map(r => (r._1, r._2) -> r._3).toMap
    firstFailure(
      () => rows.find(r => r._3 < 0 || r._3 > 1).map(r => s"containment out of range: $r"),
      () => plantedFks.find(fk => !got.get(fk).contains(1.0))
        .map(fk => s"planted FK $fk has containment ${got.get(fk)}"))
  }

  /** A materialized table keeps the source's row count and every
    * dictionary-mapped value equals the dictionary's image of its
    * source value.
    */
  def materialized(rows: Long, expectedRows: Long, mismatches: Long): Option[String] =
    firstFailure(
      () => fail(rows == expectedRows, s"$rows rows, source has $expectedRows"),
      () => fail(mismatches == 0, s"$mismatches values differ from the dictionary"))

  /** Fixed-round k-core peeling over an undirected pair list, the
    * contract of `Graph.kCore`: each round drops every node whose
    * degree in the surviving subgraph is below k; returns the degree
    * of every node still at or above k.
    */
  def referenceKCore[N](pairs: Seq[(N, N)], k: Int, rounds: Int): Map[N, Long] = {
    var e = (pairs ++ pairs.map(_.swap)).filter { case (a, b) => a != b }.distinct
    def degrees = e.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    for (_ <- 1 to rounds) {
      val keep = degrees.filter(_._2 >= k).keySet
      e = e.filter { case (a, b) => keep(a) && keep(b) }
    }
    degrees.filter(_._2 >= k)
  }
}
