package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every output check accepts a correct output and rejects a
  * deliberately corrupted one. */
class ChecksSpec extends AnyFunSuite {

  test("exact key/value outputs (word count, amplab1)") {
    val want = Map("the" -> "3", "fox" -> "1")
    assert(Checks.exactKv(want, Seq("fox" -> "1", "the" -> "3")).isEmpty)
    assert(Checks.exactKv(want, Seq("fox" -> "1", "the" -> "4")).isDefined)   // wrong count
    assert(Checks.exactKv(want, Seq("the" -> "3")).isDefined)                 // key lost
    assert(Checks.exactKv(want, Seq("fox" -> "1", "the" -> "3", "dog" -> "1")).isDefined)
    assert(Checks.exactKv(want, Seq("fox" -> "1", "the" -> "3", "the" -> "3")).isDefined)
  }

  test("numeric key/value outputs (amplab2, amplab3)") {
    val want = Map("10.1.2.3" -> Seq(51.5, 1234.56), "10.1.2.4" -> Seq(70.0, 2.0))
    val good = Seq("10.1.2.3" -> "51.500000\t1234.560000", "10.1.2.4" -> "70.000000\t2.000000")
    assert(Checks.numericKv(want, good).isEmpty)
    assert(Checks.numericKv(want, good.updated(0, "10.1.2.3" -> "51.500000\t1234.570000")).isDefined)
    assert(Checks.numericKv(want, good.updated(1, "10.1.2.4" -> "70.000000")).isDefined)
    assert(Checks.numericKv(want, good.updated(1, "10.1.2.4" -> "x\t2.000000")).isDefined)
    assert(Checks.numericKv(want, good.take(1)).isDefined)
  }

  private val pairs = Seq(2L -> 3L, 3L -> 4L, 7L -> 9L, 8L -> 9L)
  private val groups = Seq(2L -> 2L, 3L -> 2L, 4L -> 2L, 7L -> 7L, 8L -> 7L, 9L -> 7L)

  test("union-find over emitted pairs") {
    assert(Checks.unionFind(pairs) == groups.toMap)
    assert(Checks.groupsMatchPairs(groups, pairs).isEmpty)
    assert(Checks.groupsMatchPairs(groups.updated(2, 4L -> 4L), pairs).isDefined) // chain split
    assert(Checks.groupsMatchPairs(groups.updated(5, 9L -> 2L), pairs).isDefined) // groups merged
    assert(Checks.groupsMatchPairs(groups.dropRight(1), pairs).isDefined)         // doc lost
    assert(Checks.groupsMatchPairs(groups :+ (9L -> 2L), pairs).isDefined)        // doc twice
  }

  test("a day's resolved groups equal a doc -> group map") {
    assert(Checks.sameGroups("batch", groups.toMap, groups.reverse).isEmpty)
    assert(Checks.sameGroups("batch", groups.toMap, groups.updated(0, 2L -> 3L)).isDefined)
  }

  test("emitted pairs are exactly the band-bucket pairs that clear the threshold") {
    assert(Checks.shingles("a b c d") == Set("a b c", "b c d"))
    assert(Checks.jaccard(Checks.shingles("a b c d"), Checks.shingles("a b c e")) == 1.0 / 3)
    // docs 1, 2 share band 0's key; 2, 3 band 1's; 4 shares 7 with 1 only at another band
    val bkeys = Seq(1L -> Seq(7L, 8L), 2L -> Seq(7L, 9L), 3L -> Seq(5L, 9L), 4L -> Seq(6L, 7L))
    val cands = Checks.bucketPairs(bkeys)
    assert(cands == Set(1L -> 2L, 2L -> 3L))
    val jac = Map((1L, 2L) -> 0.9, (2L, 3L) -> 0.5)
    assert(Checks.candidatePairs(Seq(2L -> 1L), cands, jac, 0.8).isEmpty)
    assert(Checks.candidatePairs(Nil, cands, jac, 0.8).isDefined)                       // pair lost
    assert(Checks.candidatePairs(Seq(1L -> 2L, 2L -> 3L), cands, jac, 0.8).isDefined)   // below threshold
    assert(Checks.candidatePairs(Seq(1L -> 2L, 1L -> 4L), cands, jac, 0.8).isDefined)   // not a candidate
    assert(Checks.candidatePairs(Seq(1L -> 2L, 2L -> 1L), cands, jac, 0.8).isDefined)   // emitted twice
  }

  test("planted links: no group spans two components, recall at the floor") {
    val planted = Seq(Inputs.Planted("chain", Seq(2, 3, 4)), Inputs.Planted("cluster", Seq(7, 8, 9)))
    assert(Checks.plantedLinks(planted) == Seq(2L -> 3L, 3L -> 4L, 7L -> 8L, 7L -> 9L))
    assert(Checks.plantedRecall(planted, groups, 1.0).isEmpty)
    assert(Checks.plantedSplit(planted, groups) == 0.0)
    val split = groups.updated(2, 4L -> 4L)                                              // one link of 4 lost
    assert(Checks.plantedRecall(planted, split, 0.75).isEmpty)
    assert(Checks.plantedRecall(planted, split, 0.8).isDefined)
    assert(Checks.plantedSplit(planted, split) == 0.5)
    assert(Checks.plantedRecall(planted, groups.map { case (d, _) => d -> 2L }, 0.0).isDefined) // merged
    assert(Checks.plantedRecall(planted, groups.filterNot(_._1 == 7L), 0.8).isDefined)        // doc lost
  }

  test("survivors of keep/drop") {
    assert(Checks.survivors(10, groups, 6).isEmpty) // 4 non-leading members dropped
    assert(Checks.survivors(10, groups, 7).isDefined)
  }

  test("ANN batches: complete answers and recall floor") {
    val exact = Map(1L -> Seq(10L, 11L), 2L -> Seq(20L, 21L))
    assert(Checks.recall(exact, exact) == 1.0)
    assert(Checks.annBatch(exact, exact, 2, 0.9).isEmpty)
    val half = Map(1L -> Seq(10L, 99L), 2L -> Seq(20L, 98L))
    assert(Checks.recall(exact, half) == 0.5)
    assert(Checks.annBatch(exact, half, 2, 0.9).isDefined)                       // recall 0.5
    assert(Checks.annBatch(exact, exact - 2L, 2, 0.9).isDefined)                 // query lost
    assert(Checks.annBatch(exact, exact.updated(1L, Seq(10L)), 2, 0.5).isDefined) // short answer
    assert(Checks.annBatch(exact, exact.updated(1L, Seq(10L, 10L)), 2, 0.5).isDefined)
  }
}
