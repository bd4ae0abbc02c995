package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** A13 semantics locked to SURVEY.md §1.2 items 1–4 + FIXTURES.md §1. */
class MergeSpec extends AnyFunSuite with SparkTestBase {

  test("README parity: put then delete removes the doc") {
    // reference manual recipe: README_zh.md:382-383
    val put = mutDf(Seq(mut("test1", "U", "2024-01-01 00:00:00", 1, ("info", "c1", "value1"))))
    val afterPut = Merge.fold(put)
    assert(indexMap(afterPut) == Map("test1" -> Map("c1" -> "value1")))

    val del = mutDf(Seq(mut("test1", "D", "2024-01-01 00:00:01", 2)))
    val afterDel = Merge.mergeBatch(afterPut, del)
    assert(indexMap(afterDel).isEmpty)
  }

  test("family erasure: same qualifier in two families collapses last-wins") {
    val m = mutDf(Seq(mut("k", "U", "2024-01-01 00:00:00", 1, ("f1", "q", "a"), ("f2", "q", "b"))))
    assert(indexMap(Merge.fold(m)) == Map("k" -> Map("q" -> "b")))
  }

  test("duplicate qualifier within one family: last cell wins") {
    val m = mutDf(Seq(mut("k", "U", "2024-01-01 00:00:00", 1, ("f", "q", "v1"), ("f", "q", "v2"))))
    assert(indexMap(Merge.fold(m)) == Map("k" -> Map("q" -> "v2")))
  }

  test("partial-row puts merge (field union), they don't replace") {
    val m = mutDf(Seq(
      mut("k", "U", "2024-01-01 00:00:00", 1, ("f", "a", "1")),
      mut("k", "U", "2024-01-01 00:00:01", 2, ("f", "b", "2"))))
    assert(indexMap(Merge.fold(m)) == Map("k" -> Map("a" -> "1", "b" -> "2")))
  }

  test("upsert merges into existing index state, new value wins") {
    val idx = Merge.fold(mutDf(Seq(
      mut("k", "U", "2024-01-01 00:00:00", 1, ("f", "a", "old"), ("f", "b", "keep")))))
    val merged = Merge.mergeBatch(idx, mutDf(Seq(
      mut("k", "U", "2024-01-01 00:00:01", 2, ("f", "a", "new"), ("f", "c", "add")))))
    assert(indexMap(merged) == Map("k" -> Map("a" -> "new", "b" -> "keep", "c" -> "add")))
  }

  test("delete-then-put in one batch resurrects with only post-delete fields") {
    val idx = Merge.fold(mutDf(Seq(mut("k", "U", "2024-01-01 00:00:00", 1, ("f", "a", "stale")))))
    val merged = Merge.mergeBatch(idx, mutDf(Seq(
      mut("k", "D", "2024-01-01 00:00:01", 2),
      mut("k", "U", "2024-01-01 00:00:02", 3, ("f", "b", "fresh")))))
    assert(indexMap(merged) == Map("k" -> Map("b" -> "fresh")))
  }

  test("put-then-delete in one batch tombstones the doc") {
    val idx = Merge.fold(mutDf(Seq(mut("k", "U", "2024-01-01 00:00:00", 1, ("f", "a", "x")))))
    val merged = Merge.mergeBatch(idx, mutDf(Seq(
      mut("k", "U", "2024-01-01 00:00:01", 2, ("f", "b", "y")),
      mut("k", "D", "2024-01-01 00:00:02", 3))))
    assert(indexMap(merged).isEmpty)
  }

  test("empty put creates an empty doc (postPut with no cells upserts {})") {
    val merged = Merge.fold(mutDf(Seq(mut("k", "U", "2024-01-01 00:00:00", 1))))
    assert(indexMap(merged) == Map("k" -> Map.empty[String, String]))
  }

  test("idempotence: re-applying the same batch is a no-op") {
    val idx = Merge.fold(mutDf(Seq(mut("k", "U", "2024-01-01 00:00:00", 1, ("f", "a", "1")))))
    val batch = mutDf(Seq(
      mut("k", "U", "2024-01-01 00:00:01", 2, ("f", "b", "2")),
      mut("j", "D", "2024-01-01 00:00:02", 3)))
    val once = Merge.mergeBatch(idx, batch)
    val twice = Merge.mergeBatch(once, batch)
    assert(indexMap(once) == indexMap(twice))
  }

  test("batch-split invariance: any split of a random log folds identically") {
    val rnd = new Random(42)
    val keys = (1 to 20).map(i => s"k$i")
    val quals = Seq("a", "b", "c")
    val log = (1 to 300).map { seq =>
      val key = keys(rnd.nextInt(keys.size))
      if (rnd.nextDouble() < 0.15) mut(key, "D", f"2024-01-01 00:${seq / 60}%02d:${seq % 60}%02d", seq)
      else {
        val cells = (0 to rnd.nextInt(2)).map(_ =>
          ("f", quals(rnd.nextInt(quals.size)), s"v$seq"))
        mut(key, "U", f"2024-01-01 00:${seq / 60}%02d:${seq % 60}%02d", seq, cells: _*)
      }
    }
    val oneShot = indexMap(Merge.fold(mutDf(log)))
    for (splits <- Seq(Seq(100, 200), Seq(37, 161, 255), Seq(150))) {
      val bounds = (0 +: splits :+ log.size).sliding(2).toSeq
      var idx = Merge.emptyIndex(spark)
      for (Seq(lo, hi) <- bounds)
        idx = Merge.mergeBatch(idx, mutDf(log.slice(lo, hi)))
      assert(indexMap(idx) == oneShot, s"splits=$splits")
    }
  }
}
