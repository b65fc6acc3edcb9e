package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Checks.Nbr

/** Hand-computed cases for the brute-force reference the benchmark
  * checks the engine against. */
class ChecksSpec extends AnyFunSuite {

  private def nbrs(ds: Double*): Seq[Nbr] = ds.map(d => Nbr(d, d.toLong, 0L))

  test("merging partial top-k lists keeps the true top-k, not a positional merge") {
    // partition A holds [2,4,6], partition B [1,3,5]; the true top-3 is [1,2,3]
    val merged = Checks.mergeTopK(nbrs(2, 4, 6), nbrs(1, 3, 5), 3)
    assert(merged.map(_.dist) == Vector(1.0, 2.0, 3.0))
  }

  test("equal distances rank by id") {
    val top = Checks.topK(Seq(Nbr(1.0, 9, 0), Nbr(1.0, 4, 0), Nbr(0.5, 7, 0)), 2)
    assert(top.map(_.id) == Vector(7L, 4L))
  }

  test("a k=4 vote tie between two labels goes to the smaller label") {
    assert(Checks.vote(Seq(7L, 3L, 7L, 3L), legacy = false) == 3L)
    assert(Checks.vote(Seq(7L, 3L, 7L, 3L), legacy = true) == 3L)
  }

  test("plurality takes the most frequent label") {
    assert(Checks.vote(Seq(2L, 5L, 5L), legacy = false) == 5L)
    assert(Checks.vote(Seq(2L, 5L, 9L), legacy = false) == 2L)
  }

  test("the legacy vote needs two votes for a winner, else -1") {
    assert(Checks.vote(Seq(2L, 5L, 9L), legacy = true) == -1L)
    assert(Checks.vote(Seq(9L, 5L, 9L), legacy = true) == 9L)
  }

  test("squared Euclidean distance") {
    assert(Checks.squaredEuclidean(Array(0.0, 0.0), Array(3.0, 4.0)) == 25.0)
    assert(Checks.squaredEuclidean(Array(1.5), Array(1.5)) == 0.0)
  }

  test("brute-force classification of a tiny hand-computed set") {
    // train on a line: ids 0..5 at x = 0,1,2,10,11,12 with labels 0,0,1,1,1,2
    val train = IndexedSeq(0.0, 1.0, 2.0, 10.0, 11.0, 12.0).zipWithIndex.map { case (x, i) =>
      (i.toLong, Array(x, 0.0), Seq(0L, 0L, 1L, 1L, 1L, 2L)(i))
    }
    // query 0 at x=0.4: nearest ids 0 (0.16), 1 (0.36), 2 (2.56) -> labels 0,0,1
    // query 1 at x=11.2: nearest ids 4 (0.04), 5 (0.64), 3 (1.44) -> labels 1,2,1
    // query 2 at x=6: ids 2 (16) and 3 (16) tie, id 2 wins; then 1 (25) -> labels 1,1,0
    val test = IndexedSeq((0L, Array(0.4, 0.0)), (1L, Array(11.2, 0.0)), (2L, Array(6.0, 0.0)))
    assert(Checks.classify(train, test, 3, legacy = false) == Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
    assert(Checks.classify(train, test, 1, legacy = false) == Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
    // legacy: a single vote wins nothing
    assert(Checks.classify(train, test, 1, legacy = true) == Map(0L -> -1L, 1L -> -1L, 2L -> -1L))
  }

  test("exact top-k over a corpus") {
    val corpus = IndexedSeq((10L, Array(0.0)), (11L, Array(1.0)), (12L, Array(2.0)), (13L, Array(-1.0)))
    val top = Checks.exactTopK(corpus, IndexedSeq((0L, Array(0.9)), (1L, Array(-0.5))), 2)
    assert(top == Map(0L -> Vector(11L, 10L), 1L -> Vector(10L, 13L)))
  }
}
