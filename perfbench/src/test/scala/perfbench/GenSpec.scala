package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def inputs(seed: Long) = (
    Gen.parts(seed, 200), Gen.customers(seed, 50),
    Gen.orders(seed, 100, 50), Gen.lineitems(seed, 500, 100, 200, 20),
    Gen.corpus(seed, 300, 0.2), Gen.embeddings(seed, 100, 16))

  test("the same seed gives identical inputs") {
    assert(inputs(7) == inputs(7))
  }

  test("another seed gives different inputs") {
    val (a, b) = (inputs(7), inputs(8))
    a.productIterator.zip(b.productIterator).foreach { case (x, y) => assert(x != y) }
  }

  test("planted near-duplicates point at an earlier original with a close text") {
    val (docs, origin) = Gen.corpus(3, 500, 0.2)
    val text = docs.map(d => d.doc_id -> d.text).toMap
    assert(origin.nonEmpty)
    origin.foreach { case (copy, orig) =>
      assert(orig < copy && !origin.contains(orig))
      assert(text(copy).split(" ").length == text(orig).split(" ").length)
    }
  }

  test("planted typos are one or two edits away and never another real value") {
    val r = Gen.rng(5, "typos")
    val domain = Gen.customers(5, 300).map(_.c_name)
    val typos = Gen.plantTypos(r, domain, share = 0.5)
    assert(typos.size > 100)
    typos.foreach { case (t, orig) =>
      assert(!domain.contains(t))
      val d = Gen.levenshtein(t, orig)
      assert(d >= 1 && d <= 2, s"$t vs $orig")
    }
  }

  test("reference levenshtein") {
    assert(Gen.levenshtein("kitten", "sitting") == 3)
    assert(Gen.levenshtein("", "abc") == 3)
    assert(Gen.levenshtein("same", "same") == 0)
  }
}
