package graft

import graft.streaming.{BucketedIndex, Pipeline, SketchTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** §5.4 streaming equivalence: the real foreachBatch pipeline over varying
  * micro-batch splits must equal the batch fold of the same mutation log —
  * the reference's observable contract (ES state at batch granularity). */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Spark jobs still running. The status store follows the asynchronous
    * listener bus, so drain it first (`listenerBus` is private[spark],
    * public in bytecode). */
  private def activeJobIds(): Seq[Int] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    sc.statusTracker.getActiveJobIds().toSeq
  }

  /** Whether every job has ended within 10 s. A cancelled job's waiter is
    * released before its end event is posted, so a cancel is seen a moment
    * after the thread that ran the job has returned. */
  private def awaitNoActiveJobs(): Boolean = {
    val deadline = System.nanoTime() + 10e9
    while (activeJobIds().nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    activeJobIds().isEmpty
  }

  /** Assert the sketch tables under `sketchDir` equal the one-shot sketches
    * of `good`: HDR rows exactly, HLL per-day distinct-key estimates.
    * Returns the estimates. */
  private def assertSketchesMatchOneShot(sketchDir: String, good: DataFrame): Map[String, Long] = {
    val (bHdr, bHll) = SketchTable.oneShot(good)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(SketchTable.readHdr(spark, sketchDir)) == rows(bHdr))
    val est = SketchTable.distinctKeysByDay(spark, sketchDir).collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val expEst = bHll.select(col("day"), hll_sketch_estimate(col("sk")))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(est == expEst)
    est
  }

  test("MemoryStream pipeline == batch fold, including quarantine") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val log = Seq(
      mut("u1", "U", "2024-01-01 00:00:00", 1, ("f", "a", "1")),
      mut("u2", "U", "2024-01-01 00:00:01", 2, ("f", "a", "2")),
      mut("u1", "D", "2024-01-01 00:00:02", 3),
      mut("u3", "U", "2024-01-01 00:00:03", 4, ("f", "b", "3"), ("f", "c", "4")),
      mut("u1", "U", "2024-01-01 00:00:04", 5, ("f", "z", "9")),
      Mutation(null, "U", ts("2024-01-01 00:00:05"), 6, Seq(Cell("f", "bad", "x"))), // quarantined
      mut("u2", "X", "2024-01-01 00:00:06", 7, ("f", "bad", "y")), // bad op → quarantined
      mut("u4", null, "2024-01-01 00:00:07", 8, ("f", "bad", "z"))) // null op → quarantined

    val cfg = Pipeline.Config(changeLogDir = "unused", indexDir = tmpDir("graft-index"),
      checkpointDir = "unused", quarantineDir = Some(tmpDir("graft-quarantine")))
    val ms = MemoryStream[Mutation]
    val q = ms.toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", tmpDir("graft-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Pipeline.applyIncrementalBatch(b.sparkSession, cfg, b, id, nBuckets = 4)
      }
      .start()

    // three uneven micro-batches
    ms.addData(log.slice(0, 2)); q.processAllAvailable()
    ms.addData(log.slice(2, 3)); q.processAllAvailable()
    ms.addData(log.slice(3, 8)); q.processAllAvailable()
    q.stop()

    val streamed = indexMap(BucketedIndex.read(spark, cfg.indexDir))
    val batch = indexMap(Merge.fold(mutDf(log).filter(!Pipeline.isMalformed)))
    assert(streamed == batch)
    assert(streamed == Map(
      "u1" -> Map("z" -> "9"),
      "u2" -> Map("a" -> "2"),
      "u3" -> Map("b" -> "3", "c" -> "4")))

    val quarantined = spark.read.parquet(s"${cfg.quarantineDir.get}/*").count()
    assert(quarantined == 3)
  }

  test("streaming sketch tables == one-shot batch sketches, across batch splits") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    // three days, repeated keys within/across days, a delete, a large
    // payload (bucket width > 1 at k=8), and a malformed row (must be
    // excluded from the sketches like it is from the index)
    val log = Seq(
      mut("u1", "U", "2024-01-01 08:00:00", 1, ("f", "a", "x" * 12)),
      mut("u2", "U", "2024-01-01 09:00:00", 2, ("f", "a", "y" * 40)),
      mut("u1", "U", "2024-01-01 10:00:00", 3, ("f", "b", "z" * 7)),
      mut("u1", "D", "2024-01-02 08:00:00", 4),
      mut("u3", "U", "2024-01-02 09:00:00", 5, ("f", "a", "w" * 300)),
      mut("u2", "U", "2024-01-03 08:00:00", 6, ("f", "a", "q" * 5), ("f", "b", "r" * 9)),
      mut("u4", "U", "2024-01-03 09:00:00", 7),
      mut(null, "U", "2024-01-03 10:00:00", 8, ("f", "bad", "nope"))) // quarantined
    def hdrRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def hllEst(df: org.apache.spark.sql.DataFrame) =
      df.select(col("day"), hll_sketch_estimate(col("sk")))
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    def runSplit(splits: Seq[Seq[Int]]): String = {
      val cfg = Pipeline.Config(changeLogDir = "unused", indexDir = tmpDir("graft-sk-index"),
        checkpointDir = "unused", sketchDir = Some(tmpDir("graft-sk-sketch")))
      val ms = MemoryStream[Mutation]
      val q = ms.toDF().writeStream
        .outputMode("update")
        .option("checkpointLocation", tmpDir("graft-sk-ckpt"))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Pipeline.applyIncrementalBatch(b.sparkSession, cfg, b, id, nBuckets = 4)
        }
        .start()
      splits.foreach { ix => ms.addData(ix.map(log)); q.processAllAvailable() }
      q.stop()
      cfg.sketchDir.get
    }
    val skA = runSplit(Seq(Seq(0, 1), Seq(2, 3, 4), Seq(5, 6, 7)))
    val skB = runSplit(Seq(Seq(0), Seq(1, 2, 3, 4, 5), Seq(6), Seq(7)))
    val (bHdr, bHll) = SketchTable.oneShot(mutDf(log).filter(!Pipeline.isMalformed))
    // HDR: integer buckets union losslessly — EXACT row equality with the
    // one-shot twin, independent of the split
    assert(hdrRows(SketchTable.readHdr(spark, skA)) == hdrRows(bHdr))
    assert(hdrRows(SketchTable.readHdr(spark, skB)) == hdrRows(bHdr))
    // HLL: per-day distinct-key estimates match the one-shot sketch on
    // both splits (register-max union; exact at this cardinality)
    val exp = hllEst(bHll)
    assert(hllEst(SketchTable.readHll(spark, skA)) == exp)
    assert(hllEst(SketchTable.readHll(spark, skB)) == exp)
    assert(exp == Map("2024-01-01" -> 2L, "2024-01-02" -> 2L, "2024-01-03" -> 2L))
    // the serving views
    val dk = SketchTable.distinctKeysByDay(spark, skA).collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(dk == exp)
    val p = SketchTable.payloadPercentiles(spark, skA, "2024-01-01", "2024-01-02",
      Seq(0.5)).collect().head
    // day-1+2 payloads: {12, 40, 7, 300}; p50 -> first bucket with cum >= 2
    assert(p.getAs[Long]("v_bmin") <= 12L && p.getAs[Long]("v_est") >= 12L)
    // retry idempotence: replaying the last batch id changes nothing
    val before = hdrRows(SketchTable.readHdr(spark, skA))
    SketchTable.updateForBatch(spark, skA, mutDf(log.slice(5, 8)).filter(!Pipeline.isMalformed), 2L)
    assert(hdrRows(SketchTable.readHdr(spark, skA)) == before)
    // vacuum removes superseded versions, keeps _CURRENT intact
    def versions(dir: String) = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("v")).toSet
    assert(versions(skA) == Set("v0", "v1", "v2"))
    SketchTable.vacuum(skA)
    assert(versions(skA) == Set("v2"))
    assert(hdrRows(SketchTable.readHdr(spark, skA)) == before, "vacuum must not touch _CURRENT")
  }

  test("incremental stream vacuums superseded bucket versions on schedule") {
    val sp = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val cfg = Pipeline.Config(
      changeLogDir = "unused", indexDir = tmpDir("graft-vac-idx"),
      checkpointDir = tmpDir("graft-vac-ckpt"), vacuumEveryBatches = 2)
    // drive applyBatch + vacuum the way startIncremental's foreachBatch does
    (0 to 4).foreach { i =>
      BucketedIndex.applyBatch(spark,
        cfg.indexDir, mutDf(Seq(mut("k1", "U", s"2024-01-01 00:00:0$i", i, ("f", "a", s"$i")))),
        batchId = i, nBuckets = 4)
      if (cfg.vacuumEveryBatches > 0 && i > 0 && i % cfg.vacuumEveryBatches == 0)
        BucketedIndex.vacuum(cfg.indexDir)
    }
    // every batch rewrote k1's bucket; after the last vacuum at batch 4
    // only the live bucket version remains and fully-superseded batch dirs
    // are gone entirely (markers included)
    val batchDirs = java.nio.file.Files.list(java.nio.file.Paths.get(cfg.indexDir, "batches"))
      .iterator().asScala.toSeq
    assert(batchDirs.size == 1, s"superseded batch dirs survived: $batchDirs")
    val buckets = batchDirs.flatMap(b => java.nio.file.Files.list(b).iterator().asScala)
      .filter(_.getFileName.toString.startsWith("bucket="))
    assert(buckets.size == 1)
    assert(indexMap(BucketedIndex.read(spark, cfg.indexDir)) == Map("k1" -> Map("a" -> "4")))
  }

  test("concurrent reader during ingest sees only complete manifest states") {
    // Round-15 task: a 100 TB operator serves DURING ingest, not just
    // between batches. The _MANIFEST swap is a single atomic file move, so
    // any reader must observe a complete post-batch state — never a torn
    // one. A reader thread hammers the index (raw read + an ES-JSON term
    // query) while the writer publishes 25 batches; each batch writes a
    // marker doc plus 10 data docs, so "complete" is checkable: if marker
    // B is visible, every doc of batches 0..B must be too, with final
    // values. Vacuum runs every 3 batches — a reader that raced a vacuum
    // into deleted files retries (the documented grace-window contract);
    // what it must NEVER see is a SUCCESSFUL read of a torn state.
    val dir = tmpDir("graft-concread-idx")
    val nBatches = 25
    val torn = new java.util.concurrent.atomic.AtomicInteger(0)
    val complete = new java.util.concurrent.atomic.AtomicInteger(0)
    val transient0 = new java.util.concurrent.atomic.AtomicInteger(0)
    val esServed = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var writing = true
    val sp = spark
    val reader = new Thread(() => {
      while (writing || complete.get() < 5) {
        try {
          val st = indexMap(BucketedIndex.read(sp, dir))
          val markers = st.keys.filter(_.startsWith("batch_"))
            .map(_.stripPrefix("batch_").toInt)
          if (markers.nonEmpty) {
            val b = markers.max
            val ok = (0 to b).forall { i =>
              st.contains(s"batch_$i") &&
                (0 until 10).forall(j => st.get(s"k${i}_$j").exists(_.get("b").contains(i.toString)))
            }
            if (ok) complete.incrementAndGet() else torn.incrementAndGet()
            // the ES-JSON battery rides the same snapshot frame — but only
            // while ingest runs (post-ingest laps just need the complete
            // count; skipping the extra jobs keeps the drain fast when the
            // machine is loaded — this test once hit the join timeout
            // during a round-16 full-suite run under ambient load)
            if (writing) {
              val hits = graft.dsl.EsQueryJson.search(
                BucketedIndex.read(sp, dir),
                s"""{"query": {"term": {"info.b": "${b}"}},
                   | "sort": ["id"], "size": 100}""".stripMargin).count()
              if (hits >= 1) esServed.incrementAndGet()
            }
          }
        } catch { case _: Throwable => transient0.incrementAndGet() }
      }
    })
    reader.start()
    (0 until nBatches).foreach { i =>
      val docs = (0 until 10).map(j =>
        mut(s"k${i}_$j", "U", f"2024-01-01 00:${i}%02d:${j}%02d", i.toLong * 100 + j,
          ("f", "b", i.toString))) :+
        mut(s"batch_$i", "U", f"2024-01-01 00:${i}%02d:59", i.toLong * 100 + 99,
          ("f", "m", "1"))
      BucketedIndex.applyBatch(spark, dir, mutDf(docs), batchId = i, nBuckets = 8)
      if (i > 0 && i % 3 == 0) BucketedIndex.vacuum(dir)
    }
    writing = false
    reader.join(300000)
    assert(!reader.isAlive, "reader thread wedged")
    assert(torn.get() == 0, s"reader observed ${torn.get()} torn states")
    assert(complete.get() >= 5, s"too few complete reads: ${complete.get()}")
    assert(esServed.get() >= 1, "ES-JSON battery never served during ingest")
    // final state is the full fold
    val fin = indexMap(BucketedIndex.read(spark, dir))
    assert((0 until nBatches).forall(i => fin.contains(s"batch_$i")))
  }

  test("pinned reader inside the vacuum grace window: zero retries, stable pages") {
    // The round-16 contract upgrade over catch-and-retry: a cursor walk
    // pins the manifest once (readAt) and every page comes from that
    // snapshot; vacuum(keepLast) guarantees the pinned version's dirs
    // survive the next keepLast−1 publishes. Maximal delete pressure —
    // vacuum after EVERY batch — with keepLast=8 while a reader thread
    // loops pin → 3 page reads → verify stability. ANY exception in the
    // reader is a failed contract (the old reader needed catch-and-retry
    // here; StreamingSpec's concread test shows those retries firing).
    val dir = tmpDir("graft-grace-idx")
    val nBatches = 25
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val drift = new java.util.concurrent.atomic.AtomicInteger(0)
    val walks = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var writing = true
    val sp = spark
    BucketedIndex.applyBatch(spark, dir,
      mutDf(Seq(mut("seed", "U", "2024-01-01 00:00:00", 0, ("f", "b", "s")))),
      batchId = 0, nBuckets = 8)
    val reader = new Thread(() => {
      while (writing || walks.get() < 3) {
        try {
          val pinned = BucketedIndex.readManifest(dir)
          val first = indexMap(BucketedIndex.readAt(sp, dir, pinned))
          (1 to 2).foreach { _ =>
            val page = indexMap(BucketedIndex.readAt(sp, dir, pinned))
            if (page != first) drift.incrementAndGet()
          }
          walks.incrementAndGet()
        } catch { case _: Throwable => retries.incrementAndGet() }
      }
    })
    reader.start()
    (1 until nBatches).foreach { i =>
      val docs = (0 until 8).map(j =>
        mut(s"g${i}_$j", "U", f"2024-01-01 00:${i}%02d:${j}%02d", i.toLong * 100 + j,
          ("f", "b", i.toString)))
      BucketedIndex.applyBatch(spark, dir, mutDf(docs), batchId = i, nBuckets = 8)
      BucketedIndex.vacuum(dir, keepLast = 8) // delete pressure every publish
    }
    writing = false
    reader.join(300000)
    assert(!reader.isAlive, "pinned reader wedged")
    assert(retries.get() == 0,
      s"pinned reader inside the grace window hit ${retries.get()} vacuumed files")
    assert(drift.get() == 0, s"${drift.get()} pages drifted off their pinned snapshot")
    assert(walks.get() >= 3, s"too few completed walks: ${walks.get()}")
    // the window is a GRACE, not a leak: only the retained manifests'
    // dirs survive on disk (25 publishes, far fewer batch dirs left)
    BucketedIndex.vacuum(dir, keepLast = 1)
    val left = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "batches"))
      .iterator().asScala.size
    assert(left <= 8, s"vacuum leaked $left batch dirs")
  }

  test("streaming incremental dedup: standing corpus grows per batch, later dups rejected") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val corpusDir = tmpDir("graft-dedup-corpus")
    // seed the standing corpus with one already-admitted doc
    Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpusDir)
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .outputMode("update")
      .option("checkpointLocation", tmpDir("graft-dedup-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val standing = b.sparkSession.read.parquet(corpusDir)
        val admitted = graft.ext.Dedup.dedupIncremental(standing, b,
            col("doc_id"), col("text"))
          .filter(col("admitted"))
          .collect().map(_.getLong(0)).toSeq
        if (admitted.nonEmpty)
          b.filter(col("doc_id").isin(admitted: _*))
            .write.mode("append").parquet(corpusDir)
      }
      .start()
    ms.addData((2L, "alpha beta gamma delta epsilon zeta")) // dup of seeded 1 → out
    ms.addData((3L, "one two three four five six"))          // fresh → admitted
    q.processAllAvailable()
    ms.addData((4L, "one two three four five six"))          // dup of batch-1's 3 → out
    ms.addData((5L, "seven eight nine ten eleven twelve"))   // fresh → admitted
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L))
  }

  test("restart from checkpoint continues exactly-once") {
    val sp = spark
    val cfg = Pipeline.Config(changeLogDir = tmpDir("graft-changes-r"),
      indexDir = tmpDir("graft-index-r"), checkpointDir = tmpDir("graft-ckpt-r"),
      triggerSeconds = 1)
    mutDf(Seq(
      mut("a", "U", "2024-01-01 00:00:00", 1, ("f", "x", "1")),
      mut("b", "U", "2024-01-01 00:00:01", 2, ("f", "y", "2"))))
      .write.mode("append").parquet(cfg.changeLogDir)
    val q1 = Pipeline.startIncremental(sp, cfg, nBuckets = 4)
    q1.processAllAvailable(); q1.stop()
    assert(indexMap(BucketedIndex.read(sp, cfg.indexDir)) ==
      Map("a" -> Map("x" -> "1"), "b" -> Map("y" -> "2")))
    // new files arrive while the stream is DOWN; restart picks up only them
    mutDf(Seq(
      mut("a", "D", "2024-01-01 00:00:02", 3),
      mut("c", "U", "2024-01-01 00:00:03", 4, ("f", "z", "9"))))
      .write.mode("append").parquet(cfg.changeLogDir)
    val q2 = Pipeline.startIncremental(sp, cfg, nBuckets = 4)
    q2.processAllAvailable(); q2.stop()
    assert(indexMap(BucketedIndex.read(sp, cfg.indexDir)) ==
      Map("b" -> Map("y" -> "2"), "c" -> Map("z" -> "9")))
  }

  test("restart from checkpoint continues sketch tables exactly-once") {
    // the sketch twin of the restart test: a stop/restart (including the
    // replay of any batch id whose checkpoint commit was lost) must leave
    // the sketch table equal to the one-shot sketch of the WHOLE log —
    // no double-counted days, no missed batches
    val sp = spark
    val cfg = Pipeline.Config(changeLogDir = tmpDir("graft-changes-skr"),
      indexDir = tmpDir("graft-index-skr"), checkpointDir = tmpDir("graft-ckpt-skr"),
      triggerSeconds = 1, sketchDir = Some(tmpDir("graft-sketch-skr")))
    val sketchDir = cfg.sketchDir.get
    val part1 = Seq(
      mut("a", "U", "2024-01-01 00:00:00", 1, ("f", "x", "payload-one")),
      mut("b", "U", "2024-01-02 00:00:01", 2, ("f", "y", "pp")))
    val part2 = Seq(
      mut("a", "D", "2024-01-02 00:00:02", 3),
      mut("c", "U", "2024-01-03 00:00:03", 4, ("f", "z", "a-much-longer-payload")))
    mutDf(part1).write.mode("append").parquet(cfg.changeLogDir)
    val q1 = Pipeline.startIncremental(sp, cfg, nBuckets = 4)
    q1.processAllAvailable(); q1.stop()
    mutDf(part2).write.mode("append").parquet(cfg.changeLogDir)
    val q2 = Pipeline.startIncremental(sp, cfg, nBuckets = 4)
    q2.processAllAvailable(); q2.stop()
    // ALSO simulate the crash-replay: re-apply the last batch id manually
    // (the checkpoint-commit-lost case) — must be a no-op
    Pipeline.applyIncrementalBatch(sp, cfg, mutDf(part2),
      batchId = BucketedIndex.readHeader(cfg.indexDir)("appliedBatch").toLong, nBuckets = 4)
    assert(indexMap(BucketedIndex.read(sp, cfg.indexDir)) ==
      indexMap(Merge.fold(mutDf(part1 ++ part2))))
    val est = assertSketchesMatchOneShot(sketchDir, mutDf(part1 ++ part2))
    assert(est == Map("2024-01-01" -> 1L, "2024-01-02" -> 2L, "2024-01-03" -> 1L))
  }

  test("crash BETWEEN sketch publish and index publish: replay converges both tables") {
    // The torn-publish window SketchTable.scala documents:
    // applyIncrementalBatch publishes sketches FIRST, then the index. A
    // crash in between leaves sketches at v<id> and the index one batch
    // behind. On restart the stream replays the batch id: the sketch side
    // must SKIP (already published — re-unioning would double-count the
    // batch), the index side must APPLY. After replay both tables equal
    // the one-shot fold.
    val cfg = Pipeline.Config(changeLogDir = "unused", indexDir = tmpDir("graft-torn-idx"),
      checkpointDir = "unused", sketchDir = Some(tmpDir("graft-torn-sk")))
    val sketchDir = cfg.sketchDir.get
    def appliedBatch() = BucketedIndex.readHeader(cfg.indexDir).get("appliedBatch")
    val b0 = Seq(
      mut("a", "U", "2024-01-01 00:00:00", 1, ("f", "x", "payload-one")),
      mut("b", "U", "2024-01-02 00:00:01", 2, ("f", "y", "pp")))
    val b1 = Seq(
      mut("a", "U", "2024-01-02 00:00:02", 3, ("f", "x", "reissued")),
      mut("c", "U", "2024-01-03 00:00:03", 4, ("f", "z", "a-much-longer-payload")),
      mut("b", "D", "2024-01-03 00:00:04", 5))
    Pipeline.applyIncrementalBatch(spark, cfg, mutDf(b0), 0, nBuckets = 4)
    // ---- batch 1, TORN: the sketch publish happens, then "crash" ----
    SketchTable.updateForBatch(spark, sketchDir, mutDf(b1).filter(!Pipeline.isMalformed), 1L)
    assert(SketchTable.currentVersion(sketchDir).contains("v1"))
    assert(appliedBatch().contains("0"),
      "fixture must model the torn window: sketches ahead of the index")
    // ---- restart: the checkpoint replays batch id 1 ----
    Pipeline.applyIncrementalBatch(spark, cfg, mutDf(b1), 1, nBuckets = 4)
    assert(appliedBatch().contains("1"))
    // index == one-shot batch fold
    assert(indexMap(BucketedIndex.read(spark, cfg.indexDir)) ==
      indexMap(Merge.fold(mutDf(b0 ++ b1))))
    // sketches == one-shot over the whole log (no double-counted batch 1)
    assertSketchesMatchOneShot(sketchDir, mutDf(b0 ++ b1))
    // the OTHER torn shape never exists by ordering: index at v<id> with
    // sketches behind would double-apply sketches on replay — assert the
    // invariant applyIncrementalBatch maintains (sketch version >= the
    // index's applied batch)
    val sv = SketchTable.currentVersion(sketchDir).get.stripPrefix("v").toLong
    val iv = appliedBatch().get.toLong
    assert(sv >= iv)
  }

  test("overlapped branches: a failed side branch blocks the index swap; an index fault joins them") {
    // applyIncrementalBatch runs the quarantine write and the sketch update
    // beside the index fold; the index waits for both right before its
    // manifest swap. A failed side branch must abort that swap, and a
    // failed index must still wait for the side branches before throwing
    // (no straggling writer may race the redelivered batch).
    val cfg = Pipeline.Config(changeLogDir = "unused", indexDir = tmpDir("graft-side-idx"),
      checkpointDir = "unused", quarantineDir = Some(tmpDir("graft-side-q")),
      sketchDir = Some(tmpDir("graft-side-sk")))
    val sketchDir = cfg.sketchDir.get
    def appliedBatch() = BucketedIndex.readHeader(cfg.indexDir).get("appliedBatch")
    def index() = indexMap(BucketedIndex.read(spark, cfg.indexDir))
    val b0 = Seq(
      mut("a", "U", "2024-01-01 00:00:00", 1, ("f", "x", "one")),
      mut("b", "U", "2024-01-02 00:00:01", 2, ("f", "y", "two")))
    val b1 = Seq(
      mut("a", "U", "2024-01-02 00:00:02", 3, ("f", "x", "three")),
      mut("c", "U", "2024-01-03 00:00:03", 4, ("f", "z", "four")),
      mut("b", "D", "2024-01-03 00:00:04", 5),
      mut(null, "U", "2024-01-03 00:00:05", 6, ("f", "bad", "x")))
    val b2 = Seq(
      mut("d", "U", "2024-01-04 00:00:00", 7, ("f", "w", "five")),
      mut("a", "D", "2024-01-04 00:00:01", 8))
    Pipeline.applyIncrementalBatch(spark, cfg, mutDf(b0), 0, nBuckets = 4)
    val index0 = index()

    // ---- sketch branch fails: its version dir is a regular file ----
    val blocker = java.nio.file.Paths.get(sketchDir, "v1")
    Files.createFile(blocker)
    intercept[Exception](Pipeline.applyIncrementalBatch(spark, cfg, mutDf(b1), 1, nBuckets = 4))
    assert(appliedBatch().contains("0"), "a failed sketch branch must abort the index swap")
    assert(index() == index0)
    assert(SketchTable.currentVersion(sketchDir).contains("v0"))
    Files.delete(blocker)
    Pipeline.applyIncrementalBatch(spark, cfg, mutDf(b1), 1, nBuckets = 4)
    assert(appliedBatch().contains("1"))
    assert(index() == indexMap(Merge.fold(mutDf(b0 ++ b1).filter(!Pipeline.isMalformed))))

    // ---- index branch faults before its bucket write ----
    BucketedIndex.faultHook = p =>
      if (p == "apply.beforeBucketWrite") throw new IllegalStateException(s"injected crash at $p")
    try intercept[IllegalStateException](
      Pipeline.applyIncrementalBatch(spark, cfg, mutDf(b2), 2, nBuckets = 4))
    finally BucketedIndex.faultHook = null
    assert(activeJobIds().isEmpty, "a side branch outlived the call")
    assert(SketchTable.currentVersion(sketchDir).contains("v2"))
    assert(appliedBatch().contains("1"))
    // replay: the sketch side skips (already published), the index applies
    Pipeline.applyIncrementalBatch(spark, cfg, mutDf(b2), 2, nBuckets = 4)
    assert(appliedBatch().contains("2"))
    val good = mutDf(b0 ++ b1 ++ b2).filter(!Pipeline.isMalformed)
    assert(index() == indexMap(Merge.fold(good)))
    assertSketchesMatchOneShot(sketchDir, good)
    assert(spark.read.parquet(s"${cfg.quarantineDir.get}/*").count() == 1)
  }

  test("SideBranches: an interrupted join cancels the branches' jobs, joins all, re-asserts the interrupt") {
    // StreamingQuery.stop() cancels the jobs running at that moment, then
    // interrupts the stream thread; a side branch must not run its current
    // job to the end, nor start (and publish) its next one, while the
    // stream thread waits for it
    val started = new CountDownLatch(2)
    def slowJob(): Unit = spark.sparkContext.parallelize(Seq(1), 1).foreach(_ => Thread.sleep(120000))
    val side = new Pipeline.SideBranches(spark.sparkContext, 0L, Seq.fill(2)(() => {
      started.countDown()
      try slowJob() catch { case _: Exception => () }
      slowJob()
    }))
    assert(started.await(30, TimeUnit.SECONDS))
    val t0 = System.nanoTime()
    Thread.currentThread().interrupt() // what stop() does to the stream thread
    val failures = side.join()
    assert(Thread.interrupted(), "the caller's interrupt must be re-asserted")
    assert((System.nanoTime() - t0) / 1e9 < 30, "join waited out a branch's jobs")
    assert(failures.size == 2)
    assert(awaitNoActiveJobs())
  }

  test("stop() during a batch: side branches are joined before the stream ends; restart converges") {
    val sp = spark
    val cfg = Pipeline.Config(changeLogDir = tmpDir("graft-stop-changes"),
      indexDir = tmpDir("graft-stop-idx"), checkpointDir = tmpDir("graft-stop-ckpt"),
      triggerSeconds = 1, quarantineDir = Some(tmpDir("graft-stop-q")),
      sketchDir = Some(tmpDir("graft-stop-sk")))
    val log = Seq(
      mut("a", "U", "2024-01-01 00:00:00", 1, ("f", "x", "one")),
      mut("b", "U", "2024-01-02 00:00:01", 2, ("f", "y", "two")),
      mut("a", "D", "2024-01-02 00:00:02", 3),
      mut(null, "U", "2024-01-03 00:00:03", 4, ("f", "bad", "x")))
    mutDf(log).write.mode("append").parquet(cfg.changeLogDir)
    // hold the stream thread inside the index branch until stop() interrupts it
    val inBatch = new CountDownLatch(1)
    BucketedIndex.faultHook = p =>
      if (p == "apply.beforeBucketWrite") { inBatch.countDown(); Thread.sleep(120000) }
    val stopS = try {
      val q1 = Pipeline.startIncremental(sp, cfg, nBuckets = 4)
      assert(inBatch.await(60, TimeUnit.SECONDS), "batch 0 never reached the index write")
      val t0 = System.nanoTime()
      q1.stop()
      (System.nanoTime() - t0) / 1e9
    } finally BucketedIndex.faultHook = null
    assert(stopS < 60, s"stop() took $stopS s")
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("graft-batch-")),
      "a side branch outlived the stream thread")
    assert(awaitNoActiveJobs())
    assert(BucketedIndex.readHeader(cfg.indexDir).get("appliedBatch").isEmpty)
    // restart: the checkpoint redelivers batch 0 and every table converges
    val q2 = Pipeline.startIncremental(sp, cfg, nBuckets = 4)
    q2.processAllAvailable(); q2.stop()
    val good = mutDf(log).filter(!Pipeline.isMalformed)
    assert(indexMap(BucketedIndex.read(sp, cfg.indexDir)) == indexMap(Merge.fold(good)))
    assertSketchesMatchOneShot(cfg.sketchDir.get, good)
    assert(sp.read.parquet(s"${cfg.quarantineDir.get}/*").count() == 1)
  }

  test("JSON and CSV change-log sources fold identically to parquet") {
    val sp = spark
    val log = Seq(
      mut("j1", "U", "2024-01-01 00:00:00", 1, ("f", "a", "1"), ("f", "b", "2")),
      mut("j1", "D", "2024-01-01 00:00:01", 2),
      mut("j2", "U", "2024-01-01 00:00:02", 3, ("f", "c", "3")))
    val want = indexMap(Merge.fold(mutDf(log)))
    val jdir = tmpDir("graft-json")
    mutDf(log).write.mode("overwrite").json(jdir)
    assert(indexMap(Merge.fold(ChangeLog.readJson(sp, jdir))) == want)
    val cdir = tmpDir("graft-csv")
    mutDf(log).select(col("row_key"), col("op"), col("ts"), col("seq"),
      to_json(col("cells")).as("cells_json"))
      .write.mode("overwrite").option("header", "true").csv(cdir)
    assert(indexMap(Merge.fold(ChangeLog.readCsv(sp, cdir))) == want)
  }

  test("Config.fromMap: defaults from the case class, each key overrides, bad ints name their key") {
    val req = Map("graft.changelog.dir" -> "cl", "graft.index.dir" -> "idx",
      "graft.checkpoint.dir" -> "ck")
    val base = Pipeline.Config(changeLogDir = "cl", indexDir = "idx", checkpointDir = "ck")
    assert(Pipeline.Config.fromMap(req) == base)
    val overrides = Seq(
      "graft.quarantine.dir" -> ("q", base.copy(quarantineDir = Some("q"))),
      "graft.trigger.seconds" -> ("7", base.copy(triggerSeconds = 7)),
      "graft.maxFilesPerTrigger" -> ("3", base.copy(maxFilesPerTrigger = 3)),
      "graft.vacuum.everyBatches" -> ("5", base.copy(vacuumEveryBatches = 5)),
      "graft.sketch.dir" -> ("sk", base.copy(sketchDir = Some("sk"))),
      "graft.vacuum.keepManifests" -> ("4", base.copy(vacuumKeepManifests = 4)),
      "graft.compact.afterDirs" -> ("6", base.copy(compactAfterDirs = 6)))
    overrides.foreach { case (k, (v, want)) =>
      assert(Pipeline.Config.fromMap(req + (k -> v)) == want, k)
    }
    overrides.map(_._1).filterNot(_.endsWith(".dir")).foreach { k =>
      val e = intercept[IllegalArgumentException](Pipeline.Config.fromMap(req + (k -> "ten")))
      assert(e.getMessage.contains(k), e.getMessage)
    }
  }

  test("startIncremental maintains sketch tables alongside the bucketed index") {
    // the Config.sketchDir wiring through the REAL incremental stream
    // shell: sketches update in the same foreachBatch as the index, and
    // the scheduled vacuum sweeps both artifact families
    val sp = spark
    val changeDir = tmpDir("graft-sk-changes")
    val log = Seq(
      mut("a", "U", "2024-01-01 00:00:00", 1, ("f", "x", "pay")),
      mut("b", "U", "2024-01-02 00:00:01", 2, ("f", "y", "load")),
      mut("a", "D", "2024-01-02 00:00:02", 3))
    mutDf(log).write.mode("overwrite").parquet(changeDir)
    val cfg = Pipeline.Config(
      changeLogDir = changeDir, indexDir = tmpDir("graft-sk-idx"),
      checkpointDir = tmpDir("graft-sk-ckpt2"), triggerSeconds = 1,
      vacuumEveryBatches = 1, sketchDir = Some(tmpDir("graft-sk-tbl")))
    val q = Pipeline.startIncremental(sp, cfg, nBuckets = 4)
    q.processAllAvailable()
    q.stop()
    val sd = cfg.sketchDir.get
    val dk = SketchTable.distinctKeysByDay(sp, sd).collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(dk == Map("2024-01-01" -> 1L, "2024-01-02" -> 2L))
    val (bHdr, _) = SketchTable.oneShot(mutDf(log))
    val got = SketchTable.readHdr(sp, sd).collect().map(_.toString).sorted.toSeq
    assert(got == bHdr.collect().map(_.toString).sorted.toSeq)
    // index state and sketch vacuum both held
    assert(indexMap(BucketedIndex.read(sp, cfg.indexDir)) ==
      Map("b" -> Map("y" -> "load")))
  }

  test("composed shell: index + sketches + quarantine in one foreachBatch, ES-JSON-served") {
    // The full reference workflow in ONE stream (round-14 soak's spec
    // twin): the real startIncremental shell folds good rows into the
    // bucketed index, maintains the sketch tables, quarantines malformed
    // rows, and vacuums both artifact families — then the materialized
    // index SERVES an ES-JSON search that must equal the same body over
    // the one-shot batch fold (the a18/a19 composed-system observable).
    val sp = spark
    val changeDir = tmpDir("graft-comp-changes")
    val log = Seq(
      mut("u1", "U", "2024-01-01 08:00:00", 1, ("f", "etype", "purchase"), ("f", "val", "45.0")),
      mut("u2", "U", "2024-01-01 09:00:00", 2, ("f", "etype", "click"), ("f", "val", "12.0")),
      mut("u3", "U", "2024-01-02 08:00:00", 3, ("f", "etype", "purchase"), ("f", "val", "19.5")),
      mut("u1", "U", "2024-01-02 09:00:00", 4, ("f", "val", "61.0")),
      mut("u4", "U", "2024-01-02 10:00:00", 5, ("f", "etype", "purchase")),
      mut("u2", "D", "2024-01-03 08:00:00", 6),
      mut(null, "U", "2024-01-03 09:00:00", 7, ("f", "bad", "x")), // → quarantine
      mut("u5", "X", "2024-01-03 10:00:00", 8, ("f", "bad", "y"))) // → quarantine
    // two file-arrival waves so the stream takes >1 micro-batch
    mutDf(log.take(4)).write.mode("append").parquet(changeDir)
    val cfg = Pipeline.Config(
      changeLogDir = changeDir, indexDir = tmpDir("graft-comp-idx"),
      checkpointDir = tmpDir("graft-comp-ckpt"), triggerSeconds = 1,
      quarantineDir = Some(tmpDir("graft-comp-q")),
      vacuumEveryBatches = 1, sketchDir = Some(tmpDir("graft-comp-sk")))
    val q1 = Pipeline.startIncremental(sp, cfg, nBuckets = 8)
    q1.processAllAvailable()
    mutDf(log.drop(4)).write.mode("append").parquet(changeDir)
    q1.processAllAvailable(); q1.stop()
    // the batch is persisted once and every branch reads that copy, so the
    // source reports each committed row once (an uncached batch is
    // re-scanned by each step: quarantine, sketches, index fold)
    assert(q1.recentProgress.map(_.numInputRows).sum == log.size)
    val body =
      """{"query": {"bool": {
        |  "must": [{"term": {"info.etype": "purchase"}}],
        |  "filter": [{"range": {"info.val": {"gte": "20"}}}]}},
        | "sort": ["id"]}""".stripMargin
    def serve(df: org.apache.spark.sql.DataFrame) =
      graft.dsl.EsQueryJson.search(df, body)
        .select(col("id"), element_at(col("info"), "val").as("val"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val good = mutDf(log).filter(!Pipeline.isMalformed)
    val streamed = serve(BucketedIndex.read(sp, cfg.indexDir))
    assert(streamed == serve(Merge.fold(good)), "served query must equal the batch fold")
    assert(streamed == Seq(("u1", "61.0"))) // u3 below 20? no — 19.5 < 20; u4 has no val
    // quarantine captured exactly the malformed rows
    val quarantined = sp.read.parquet(s"${cfg.quarantineDir.get}/*").count()
    assert(quarantined == 2)
    // sketch tables equal the one-shot sketches of the good log
    assertSketchesMatchOneShot(cfg.sketchDir.get, good)
  }

  test("streaming Bloom decontamination == batch, across batch splits") {
    // the streaming twin of c83: the filter is a constant literal word
    // array and the probe a narrow codegen'd kernel, so it drops straight
    // into a streaming query — no state, no watermark; stream == batch is
    // the whole claim, proven over an arbitrary 3-way batch split
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val docs = sp.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val bench = docs.filter(_._1 % 97 == 0).toDF("doc_id", "text")
    val words = graft.ext.Sketch.bloomBuild(bench, col("text"), nGram = 8)
    val corpus = docs.filterNot(_._1 % 97 == 0)
    def report(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Sketch.bloomContamination(df, col("doc_id"), col("text"), words, nGram = 8)
    val want = report(corpus.toDF("doc_id", "text"))
      .collect().map(_.toString).sorted.toSeq
    assert(want.exists(_.contains("true"))) // fixture really flags docs
    val ms = MemoryStream[(Long, String)]
    val q = report(ms.toDF().toDF("doc_id", "text")).writeStream
      .outputMode("append").format("memory").queryName("bloom_stream")
      .option("checkpointLocation", tmpDir("graft-bloom-ckpt")).start()
    corpus.grouped(math.max(1, corpus.size / 3)).foreach { b =>
      ms.addData(b); q.processAllAvailable()
    }
    q.stop()
    val got = sp.table("bloom_stream").collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }
}
