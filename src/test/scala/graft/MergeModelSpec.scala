package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property check of the distributed fold against a direct in-memory
  * simulation of the reference's semantics (SURVEY.md §1.2): per mutation
  * in (ts, seq) order — delete removes the whole doc
  * (`observer6/HbaseDataSyncEsObserver.java:127-129`); put flattens cells
  * last-wins into `{qualifier: value}` (`:93-104`) and merge-upserts into
  * the standing doc (`:109`, `setDocAsUpsert`). */
class MergeModelSpec extends AnyFunSuite with SparkTestBase {

  /** The reference model: a sequential fold with plain maps. */
  private def simulate(log: Seq[Mutation]): Map[String, Map[String, String]] = {
    val docs = scala.collection.mutable.Map[String, Map[String, String]]()
    for (m <- log.sortBy(x => (x.ts.getTime, x.seq))) m.op match {
      case "D" => docs.remove(m.row_key)
      case "U" =>
        val flat = m.cells.foldLeft(Map.empty[String, String]) {
          (acc, c) => acc + (c.qualifier -> c.value) // HashMap.put last-wins
        }
        docs(m.row_key) = docs.getOrElse(m.row_key, Map.empty) ++ flat
    }
    docs.toMap
  }

  private val genLog: Gen[List[Mutation]] = {
    val keys = (1 to 8).map(i => s"k$i")
    val quals = Seq("a", "b", "c", "d")
    def genMut(seq: Int): Gen[Mutation] = for {
      key <- Gen.oneOf(keys)
      isD <- Gen.prob(0.2)
      nCells <- Gen.choose(0, 4)
      cells <- Gen.listOfN(nCells, for {
        q <- Gen.oneOf(quals); v <- Gen.alphaStr.map(_.take(5))
      } yield Cell("f", q, v))
      sameTsAsPrev <- Gen.prob(0.3) // exercise the seq tiebreak
    } yield {
      val t = if (sameTsAsPrev) (seq / 2) * 1000L else seq * 1000L
      Mutation(key, if (isD) "D" else "U",
        new java.sql.Timestamp(1700000000000L + t), seq.toLong,
        if (isD) Seq.empty else cells)
    }
    Gen.choose(5, 60).flatMap(n => Gen.sequence[List[Mutation], Mutation]((1 to n).map(genMut)))
  }

  test("fold == reference simulation on random logs (ScalaCheck)") {
    val prop = Prop.forAll(genLog) { log =>
      val got = indexMap(Merge.fold(mutDf(log)))
      val want = simulate(log)
      if (got != want) {
        println(s"MISMATCH log=$log\n got=$got\n want=$want")
      }
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("incremental merge == simulation under random batch splits (ScalaCheck)") {
    val prop = Prop.forAll(genLog, Gen.choose(1, 5)) { (log, nBatches) =>
      // batches arrive in commit order — the reference's contract (the
      // buffer preserves arrival order; SURVEY §3.3)
      val sorted = log.sortBy(x => (x.ts.getTime, x.seq))
      val chunks = sorted.grouped(math.max(1, sorted.size / nBatches)).toSeq
      var idx = Merge.emptyIndex(spark)
      for (c <- chunks) idx = Merge.mergeBatch(idx, mutDf(c))
      indexMap(idx) == simulate(log)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
