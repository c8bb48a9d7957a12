package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private val planted = Seq("Customer#000000012" -> "Customer#000000013",
    "Customr#000000007" -> "Customer#000000007")
  private val joined = planted :+ ("Customer#000000001" -> "Customer#000000011")

  test("edit-distance join: the full answer passes") {
    assert(Checks.editJoin(joined, 2, planted).isEmpty)
  }

  test("edit-distance join: one planted pair dropped fails") {
    assert(Checks.editJoin(joined.tail, 2, planted).exists(_.contains("missing")))
  }

  test("edit-distance join: a pair beyond k or a repeated pair fails") {
    assert(Checks.editJoin(joined :+ ("abc" -> "xyz"), 2, planted).isDefined)
    assert(Checks.editJoin(joined :+ joined.head, 2, planted).isDefined)
  }

  private val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L))
  private val comps = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)

  test("components: a partition consistent with its pairs passes") {
    assert(Checks.partition(comps, pairs).isEmpty)
  }

  test("components: a dropped member, a split pair or a wrong label fails") {
    assert(Checks.partition(comps.filterNot(_._1 == 9L), pairs).isDefined)
    assert(Checks.partition(comps.map { case (3L, _) => 3L -> 3L; case x => x }, pairs).isDefined)
    assert(Checks.partition(comps.map { case (i, 7L) => i -> 9L; case x => x }, pairs).isDefined)
  }

  test("similarity pairs: one planted pair dropped fails") {
    val score = (a: Long, b: Long) => if (b - a <= 1) 0.9 else 0.1
    val got = Seq((1L, 2L), (2L, 3L))
    val planted = Seq((2L, 1L), (3L, 2L))
    assert(Checks.simPairs(got, score, 0.5, planted, 0.5).isEmpty)
    assert(Checks.simPairs(got.tail, score, 0.5, planted, 0.5).isDefined)
    assert(Checks.simPairs(got :+ ((1L, 5L)), score, 0.5, planted, 0.5).isDefined)
  }

  test("similarity pairs: an empty answer fails, a pair below recallFrom may be missed") {
    val score = (a: Long, b: Long) => if (b - a <= 1) 0.9 else 0.6
    val planted = Seq((1L, 2L), (1L, 3L))
    assert(Checks.simPairs(Seq((1L, 2L)), score, 0.5, planted, 0.8).isEmpty)
    assert(Checks.simPairs(Nil, score, 0.5, planted, 0.8).isDefined)
    assert(Checks.simPairs(Nil, score, 0.5, Nil, 0.8).isDefined)
  }

  test("value matching: a planted typo matched elsewhere or left out fails") {
    val standard = Seq("red ring", "blue gear", "old rod", "cold rod")
    val planted = Seq("red rng" -> "red ring", "olde rod" -> "old rod")
    val rows = Seq("red rng" -> "red ring", "olde rod" -> "old rod", "blue gear" -> "blue gear")
    val sources = rows.map(_._1).toSet
    assert(Checks.valueMatches(rows, sources, planted, standard, 0.3).isEmpty)
    assert(Checks.valueMatches(rows.map { case ("red rng", _) => "red rng" -> "blue gear"
      case x => x }, sources, planted, standard, 0.3).isDefined)
    assert(Checks.valueMatches(rows.tail, sources, planted, standard, 0.3).isDefined)
    assert(Checks.valueMatches(Nil, Set.empty, Nil, standard, 0.3).isDefined)
  }

  test("index append: a missing or foreign id fails") {
    assert(Checks.appended(Seq(5L, 6L), Set(5L, 6L)).isEmpty)
    assert(Checks.appended(Seq(5L), Set(5L, 6L)).isDefined)
    assert(Checks.appended(Seq(5L, 6L, 1L), Set(5L, 6L)).isDefined)
    assert(Checks.appended(Seq(5L, 6L, 6L), Set(5L, 6L)).isDefined)
  }

  test("top-k lists: well-formed passes, a dropped or repeated neighbour fails") {
    val rows = for (q <- Seq(100L, 101L); r <- 1 to 3) yield (q, r, q * 10 + r)
    val ok = Checks.topK(rows, Set(100L, 101L), 3, 50, _ => true)
    assert(ok.isEmpty)
    assert(Checks.topK(rows.tail, Set(100L, 101L), 3, 50, _ => true).isDefined)
    assert(Checks.topK(rows.map { case (q, 2, _) => (q, 2, q * 10 + 1); case x => x },
      Set(100L, 101L), 3, 50, _ => true).isDefined)
    assert(Checks.topK(rows, Set(100L, 101L), 3, 50, _ < 1005L).isDefined)
  }

  test("inclusion: a planted foreign key below 1.0 fails") {
    val rows = Seq(("l.k", "o.k", 1.0), ("o.k", "l.k", 0.4))
    assert(Checks.containment(rows, Seq("l.k" -> "o.k")).isEmpty)
    assert(Checks.containment(rows.tail, Seq("l.k" -> "o.k")).isDefined)
    assert(Checks.containment(Seq(("l.k", "o.k", 0.99)), Seq("l.k" -> "o.k")).isDefined)
  }

  test("materialize: a lost row or an unmapped value fails") {
    assert(Checks.materialized(10, 10, 0).isEmpty)
    assert(Checks.materialized(9, 10, 0).isDefined)
    assert(Checks.materialized(10, 10, 1).isDefined)
  }
}
