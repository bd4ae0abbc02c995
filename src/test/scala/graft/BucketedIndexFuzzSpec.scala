package graft

import graft.streaming.{BucketedIndex, Pipeline}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable
import scala.util.Random

/** Randomized crash/interleaving fuzz for the bucketed incremental index —
  * the streaming analog of the query-surface differential program.
  *
  * The hand-picked crash-window specs (BucketedIndexSpec) each pin ONE
  * window; here a seeded fuzzer drives the full `applyIncrementalBatch`
  * trigger (merge, compacting when the fan-out policy fires → publish →
  * vacuum) plus standalone vacuums, with a crash injected at a RANDOM
  * fault point between durable
  * file-system effects ([[BucketedIndex.faultHook]]: mid-manifest-publish,
  * between bucket write and swap, mid-vacuum file deletes, …). A crashed
  * trigger is redelivered exactly as the checkpointed stream would
  * redeliver it — possibly crashing again at a different point — until it
  * completes.
  *
  * The observable contract (the reference's retry semantics,
  * `observer6/ElasticSearchBulkOperator.java:91-99`, upgraded to
  * exactly-once): after every completed trigger, whatever crashes happened
  * on the way,
  *   - the live read equals the sequential reference fold of the prefix
  *     (MergeModelSpec's simulate model);
  *   - a manifest pinned at a completed publish still reads that exact
  *     snapshot one trigger (one publish) later, inside the vacuum grace
  *     window;
  *   - the version log parses and stays strictly monotone;
  *   - a final vacuum to keepLast=1 removes garbage without touching state.
  */
class BucketedIndexFuzzSpec extends AnyFunSuite with SparkTestBase {

  private case class InjectedCrash(point: String)
    extends RuntimeException(s"injected crash at $point")

  /** Run `body` with a crash armed at the `armAt`-th fault point. Left =
    * the point where the simulated process death fired; Right = the op
    * outran the arm point and completed. */
  private def attempt[T](armAt: Int)(body: => T): Either[String, T] = {
    var n = 0
    BucketedIndex.faultHook =
      p => { n += 1; if (n == armAt) throw InjectedCrash(p) }
    try Right(body)
    catch { case InjectedCrash(p) => Left(p) }
    finally BucketedIndex.faultHook = null
  }

  /** The reference model: sequential fold with plain maps (delete removes
    * the doc; put flattens cells last-wins and merge-upserts). */
  private def model(log: Seq[Mutation]): Map[String, Map[String, String]] = {
    val docs = mutable.Map[String, Map[String, String]]()
    for (m <- log.sortBy(x => (x.ts.getTime, x.seq))) m.op match {
      case "D" => docs.remove(m.row_key)
      case "U" =>
        val flat = m.cells.foldLeft(Map.empty[String, String]) {
          (acc, c) => acc + (c.qualifier -> c.value)
        }
        docs(m.row_key) = docs.getOrElse(m.row_key, Map.empty) ++ flat
    }
    docs.toMap
  }

  private def runSchedule(seed: Int): String = {
    val rnd = new Random(seed)
    val dir = Files.createTempDirectory(s"graft-fuzz$seed").toString
    val keys = (1 to 4 + rnd.nextInt(8)).map(i => s"k$i")
    val quals = Seq("a", "b", "c")
    var seq = 0
    val batches: Seq[Seq[Mutation]] = (0 until 3 + rnd.nextInt(3)).map { _ =>
      (0 until 2 + rnd.nextInt(4)).map { _ =>
        seq += 1
        val key = keys(rnd.nextInt(keys.size))
        if (rnd.nextDouble() < 0.25) mut(key, "D", f"2024-01-01 00:${seq / 60}%02d:${seq % 60}%02d", seq)
        else mut(key, "U", f"2024-01-01 00:${seq / 60}%02d:${seq % 60}%02d", seq,
          (0 to rnd.nextInt(2)).map(_ => ("f", quals(rnd.nextInt(quals.size)), s"v$seq")): _*)
      }
    }
    // schedule-level knobs: auto-compaction on/off+threshold, periodic
    // vacuum cadence, grace window ≥ 3 (one trigger = one publish, so a pin
    // checked one trigger later is always inside the window), buckets down
    // to 1 (max key co-location — the overwrite-while-reading regime)
    val cfg = Pipeline.Config(
      changeLogDir = "unused", indexDir = dir, checkpointDir = "unused",
      vacuumEveryBatches = Seq(0, 1, 2)(rnd.nextInt(3)),
      vacuumKeepManifests = 3 + rnd.nextInt(2),
      compactAfterDirs = Seq(0, 0, 1, 2, 3)(rnd.nextInt(5)))
    val nBuckets = Seq(1, 2, 4)(rnd.nextInt(3))

    val crashes = mutable.Buffer[String]()
    var pinned: Option[(Map[Int, Long], Map[String, Map[String, String]])] = None
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = mutDf(b)
      var delivered = false
      var tries = 0
      while (!delivered) {
        tries += 1
        // crash at a random fault point on the first attempts; the final
        // redelivery always runs clean (the stream eventually gets through)
        val arm = if (tries <= 3 && rnd.nextDouble() < 0.75) 1 + rnd.nextInt(14)
                  else Int.MaxValue
        attempt(arm)(Pipeline.applyIncrementalBatch(spark, cfg, df, i, nBuckets)) match {
          case Right(_) => delivered = true
          case Left(p)  => crashes += s"b$i:$p"
        }
      }
      // interleaved maintenance: a standalone vacuum, possibly crashing
      // mid-delete, then redelivered clean (the operator re-runs it)
      if (rnd.nextDouble() < 0.3) {
        val arm = if (rnd.nextDouble() < 0.5) 1 + rnd.nextInt(8) else Int.MaxValue
        attempt(arm)(BucketedIndex.vacuum(dir, cfg.vacuumKeepManifests)) match {
          case Left(p) => crashes += s"v$i:$p"
            BucketedIndex.vacuum(dir, cfg.vacuumKeepManifests)
          case Right(_) =>
        }
      }
      val ctx = s"seed=$seed batch=$i cfg=(${cfg.compactAfterDirs},${cfg.vacuumEveryBatches}," +
        s"${cfg.vacuumKeepManifests},$nBuckets) crashes=${crashes.mkString(",")}"
      val expect = model(batches.take(i + 1).flatten)
      assert(indexMap(BucketedIndex.read(spark, dir)) == expect, s"live state diverged: $ctx")
      pinned.foreach { case (m, want) =>
        assert(indexMap(BucketedIndex.readAt(spark, dir, m)) == want,
          s"pinned snapshot drifted across a crashing trigger: $ctx")
      }
      val log = BucketedIndex.manifestVersions(dir)
      assert(log == log.sorted && log.distinct == log, s"version log not monotone: $log $ctx")
      pinned = if (rnd.nextDouble() < 0.5)
        Some((BucketedIndex.readManifest(dir), expect)) else None
    }
    // close: a full-GC vacuum must drop garbage without touching state
    val finalExpect = model(batches.flatten)
    BucketedIndex.vacuum(dir, keepLast = 1)
    assert(indexMap(BucketedIndex.read(spark, dir)) == finalExpect,
      s"state changed across final vacuum: seed=$seed crashes=${crashes.mkString(",")}")
    crashes.mkString(",")
  }

  // 200 seeded schedules (the committed regression corpus), split into
  // four cases so a find reports its quarter immediately
  private def quarter(lo: Int, hi: Int): Unit = {
    var crashed = 0
    (lo until hi).foreach { seed => if (runSchedule(seed).nonEmpty) crashed += 1 }
    // the fixture must actually exercise crashes, not just clean runs
    assert(crashed >= (hi - lo) / 2, s"only $crashed/${hi - lo} schedules injected a crash")
  }

  test("crash/interleaving fuzz: seeds 0-49 converge to the reference fold")(quarter(0, 50))
  test("crash/interleaving fuzz: seeds 50-99")(quarter(50, 100))
  test("crash/interleaving fuzz: seeds 100-149")(quarter(100, 150))
  test("crash/interleaving fuzz: seeds 150-199")(quarter(150, 200))
}
