package graft

import graft.streaming.BucketedIndex
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

class BucketedIndexSpec extends AnyFunSuite with SparkTestBase {

  private def tmp() = Files.createTempDirectory("graft-bidx").toString

  private def randomLog(n: Int, seed: Int): Seq[Mutation] = {
    val rnd = new Random(seed)
    val keys = (1 to 30).map(i => s"k$i")
    (1 to n).map { seq =>
      val key = keys(rnd.nextInt(keys.size))
      if (rnd.nextDouble() < 0.2) mut(key, "D", f"2024-01-01 00:${seq / 60}%02d:${seq % 60}%02d", seq)
      else mut(key, "U", f"2024-01-01 00:${seq / 60}%02d:${seq % 60}%02d", seq,
        ("f", Seq("a", "b", "c")(rnd.nextInt(3)), s"v$seq"))
    }
  }

  test("incremental bucketed apply == one-shot fold; only touched buckets rewritten") {
    val dir = tmp()
    val log = randomLog(200, seed = 7)
    val chunks = log.grouped(50).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      val touched = BucketedIndex.applyBatch(spark, dir, mutDf(c), batchId = i, nBuckets = 16)
      assert(touched.nonEmpty && touched.size <= 16)
    }
    assert(indexMap(BucketedIndex.read(spark, dir)) == indexMap(Merge.fold(mutDf(log))))
    // manifest references multiple batch versions (untouched buckets keep old versions)
    val vers = BucketedIndex.readManifest(dir).values.toSet
    assert(vers.size >= 1 && vers.max == chunks.size - 1)
  }

  test("crash-retry: re-applying the same batch id converges (idempotent)") {
    val dir = tmp()
    val b0 = mutDf(Seq(mut("k1", "U", "2024-01-01 00:00:00", 1, ("f", "a", "1"))))
    val b1 = mutDf(Seq(
      mut("k1", "D", "2024-01-01 00:00:01", 2),
      mut("k2", "U", "2024-01-01 00:00:02", 3, ("f", "b", "2"))))
    BucketedIndex.applyBatch(spark, dir, b0, 0, nBuckets = 8)
    BucketedIndex.applyBatch(spark, dir, b1, 1, nBuckets = 8)
    val once = indexMap(BucketedIndex.read(spark, dir))
    // simulate failure after manifest publish but before checkpoint commit:
    // the stream re-runs batch 1 against the already-published state
    BucketedIndex.applyBatch(spark, dir, b1, 1, nBuckets = 8)
    assert(indexMap(BucketedIndex.read(spark, dir)) == once)
    assert(once == Map("k2" -> Map("b" -> "2")))
  }

  test("retry after manifest swap preserves co-bucketed keys (no overwrite-while-reading)") {
    // nBuckets=1: every key shares the one bucket. A retried batch whose
    // manifest swap already happened must NOT re-merge — doing so reads
    // .../b1/bucket=0 while overwrite-deleting its parent .../b1, losing
    // k1/k2 (keys the retried batch never touched).
    val dir = tmp()
    val b0 = mutDf(Seq(
      mut("k1", "U", "2024-01-01 00:00:00", 1, ("f", "a", "1")),
      mut("k2", "U", "2024-01-01 00:00:01", 2, ("f", "a", "2"))))
    val b1 = mutDf(Seq(mut("k3", "U", "2024-01-01 00:00:02", 3, ("f", "a", "3"))))
    BucketedIndex.applyBatch(spark, dir, b0, 0, nBuckets = 1)
    BucketedIndex.applyBatch(spark, dir, b1, 1, nBuckets = 1)
    val once = indexMap(BucketedIndex.read(spark, dir))
    assert(once == Map("k1" -> Map("a" -> "1"), "k2" -> Map("a" -> "2"), "k3" -> Map("a" -> "3")))
    // the published batch dir must not be rewritten by the retry: a re-merge
    // would emit fresh part-file names (and only survives by AQE
    // stage-ordering luck — see TmpOverwriteProbe history); the retry must
    // detect the already-swapped manifest and skip
    def partFiles() = Files.walk(Paths.get(dir, "batches", "b1")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    val filesBefore = partFiles()
    val touchedRetry = BucketedIndex.applyBatch(spark, dir, b1, 1, nBuckets = 1)
    assert(touchedRetry == Seq(0))
    assert(partFiles() == filesBefore, "retry rewrote the published batch dir")
    assert(indexMap(BucketedIndex.read(spark, dir)) == once)
  }

  test("compact: one consolidated dir, crash windows converge, ingest continues") {
    val dir = tmp()
    val log = randomLog(300, seed = 11)
    log.grouped(30).toSeq.zipWithIndex.foreach { case (c, i) =>
      BucketedIndex.applyBatch(spark, dir, mutDf(c), i, nBuckets = 16)
    }
    val before = indexMap(BucketedIndex.read(spark, dir))
    val fanOut = BucketedIndex.readManifest(dir).values.toSet
    assert(fanOut.size > 1, "fixture must fan the manifest over several batch dirs")
    // compactId must be FRESH (joins the batch-id lineage)
    intercept[IllegalArgumentException] {
      BucketedIndex.compact(spark, dir, compactId = 3, nBuckets = 16)
    }
    // crash BEFORE the swap: a half-written consolidated dir exists but the
    // manifest still references the old versions — the retry overwrites it
    Files.createDirectories(Paths.get(dir, "batches", "b100", "bucket=0"))
    Files.writeString(Paths.get(dir, "batches", "b100", "bucket=0", "junk.parquet"), "garbage")
    BucketedIndex.compact(spark, dir, compactId = 100, nBuckets = 16)
    assert(indexMap(BucketedIndex.read(spark, dir)) == before)
    val m = BucketedIndex.readManifest(dir)
    assert(m.values.toSet == Set(100L), s"manifest not fully repointed: $m")
    // crash AFTER the swap: the manifest already references compactId —
    // re-running must skip (re-merging would overwrite the dirs it reads)
    def partFiles() = Files.walk(Paths.get(dir, "batches", "b100")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    val f0 = partFiles()
    BucketedIndex.compact(spark, dir, compactId = 100, nBuckets = 16)
    assert(partFiles() == f0, "compaction retry rewrote the published dir")
    // vacuum drops every superseded dir; exactly one batch dir remains and
    // each live bucket is ONE file (the repartition-by-bucket write)
    BucketedIndex.vacuum(dir)
    val batchDirs = Files.list(Paths.get(dir, "batches")).iterator().asScala.toSeq
    assert(batchDirs.map(_.getFileName.toString) == Seq("b100"))
    m.keys.foreach { k =>
      val files = Files.list(Paths.get(dir, "batches", "b100", s"bucket=$k"))
        .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      assert(files == 1, s"bucket $k has $files files after compaction")
    }
    assert(indexMap(BucketedIndex.read(spark, dir)) == before)
    // ingest continues on top of the compacted state
    BucketedIndex.applyBatch(spark, dir,
      mutDf(Seq(mut("k1", "U", "2024-01-01 00:09:00", 9999, ("f", "a", "post")))),
      batchId = 101, nBuckets = 16)
    val after = indexMap(BucketedIndex.read(spark, dir))
    assert(after("k1")("a") == "post")
    assert((after - "k1") == (before - "k1"))
  }

  test("readAt pins a manifest: cursor walk during ingest serves one snapshot") {
    val dir = tmp()
    val log = randomLog(240, seed = 23)
    val chunks = log.grouped(40).toSeq // 6 batches
    chunks.take(3).zipWithIndex.foreach { case (c, i) =>
      BucketedIndex.applyBatch(spark, dir, mutDf(c), i, nBuckets = 8)
    }
    // the scroll/PIT open: resolve the manifest ONCE
    val pinned = BucketedIndex.readManifest(dir)
    assert(BucketedIndex.readManifestAt(dir, 2) == pinned,
      "version log must record the manifest as of its publish")
    val snapState = indexMap(BucketedIndex.readAt(spark, dir, pinned))
    assert(snapState == indexMap(Merge.fold(mutDf(chunks.take(3).flatten))))
    // walk the pinned snapshot in pages WHILE ingest continues; every page
    // must come from the pinned version (reassembled walk == pinned state)
    val pageSize = 7
    var walked = Seq.empty[String]
    var page = 0
    var done = false
    while (!done) {
      // interleave: one more batch lands between pages while batches remain
      if (page < chunks.size - 3)
        BucketedIndex.applyBatch(spark, dir, mutDf(chunks(3 + page)), 3 + page, nBuckets = 8)
      val ids = BucketedIndex.readAt(spark, dir, pinned)
        .select("id").orderBy("id")
        .collect().map(_.getString(0)).toSeq
      val p = ids.slice(page * pageSize, (page + 1) * pageSize)
      walked ++= p
      done = p.size < pageSize
      page += 1
    }
    assert(walked == snapState.keys.toSeq.sorted,
      "pages straddled a publish: the pinned read drifted during ingest")
    // the live read moved on
    assert(indexMap(BucketedIndex.read(spark, dir)) == indexMap(Merge.fold(mutDf(log))))
  }

  test("vacuum grace window: a pinned reader within keepLast never races a delete") {
    val dir = tmp()
    (0 to 4).foreach { i =>
      BucketedIndex.applyBatch(spark, dir,
        mutDf(Seq(mut(s"k${i % 2}", "U", s"2024-01-01 00:00:0$i", i, ("f", "a", s"v$i")))),
        i, nBuckets = 2)
    }
    assert(BucketedIndex.manifestVersions(dir) == Seq(0L, 1L, 2L, 3L, 4L))
    val m2 = BucketedIndex.readManifestAt(dir, 2)
    val at2 = indexMap(BucketedIndex.readAt(spark, dir, m2))
    assert(at2 == Map("k0" -> Map("a" -> "v2"), "k1" -> Map("a" -> "v1")))
    // grace window 3 retains versions {2,3,4}: the reader pinned at 2 is safe
    BucketedIndex.vacuum(dir, keepLast = 3)
    assert(BucketedIndex.manifestVersions(dir) == Seq(2L, 3L, 4L))
    assert(indexMap(BucketedIndex.readAt(spark, dir, m2)) == at2,
      "pinned read inside the grace window hit a vacuumed file")
    // shrinking the window to 1 drops version 2's superseded dirs AND its
    // log entry — a later pin attempt fails loudly instead of reading air
    BucketedIndex.vacuum(dir, keepLast = 1)
    assert(BucketedIndex.manifestVersions(dir) == Seq(4L))
    intercept[IllegalArgumentException] { BucketedIndex.readManifestAt(dir, 2) }
    assert(indexMap(BucketedIndex.read(spark, dir)) ==
      Map("k0" -> Map("a" -> "v4"), "k1" -> Map("a" -> "v3")))
  }

  test("auto-compaction policy bounds manifest fan-out across a trickle soak") {
    import graft.streaming.Pipeline
    val dir = tmp()
    val cfg = Pipeline.Config(
      changeLogDir = "unused", indexDir = dir, checkpointDir = "unused",
      vacuumEveryBatches = 3, vacuumKeepManifests = 2, compactAfterDirs = 4)
    val log = randomLog(400, seed = 31)
    val chunks = log.grouped(10).toSeq // 40 trickle batches
    var compactions = 0
    chunks.zipWithIndex.foreach { case (c, i) =>
      val logBefore = BucketedIndex.manifestVersions(dir)
      Pipeline.applyIncrementalBatch(spark, cfg, mutDf(c), i, nBuckets = 16)
      val manifest = BucketedIndex.readManifest(dir)
      val fanOut = manifest.values.toSet.size
      assert(fanOut <= cfg.compactAfterDirs,
        s"batch $i: manifest fans out over $fanOut dirs (policy ${cfg.compactAfterDirs})")
      // one publish per trigger, named with the stream batch id — a
      // compacting trigger included
      val published = BucketedIndex.manifestVersions(dir).filterNot(logBefore.toSet)
      assert(published == Seq(i.toLong), s"batch $i published versions $published")
      // ≤ 10 keys touch ≤ 10 buckets: every bucket at b<i> past that count
      // means the batch rewrote buckets it never touched, i.e. compacted
      if (manifest.values.forall(_ == i) && manifest.size > c.map(_.row_key).distinct.size)
        compactions += 1
    }
    assert(compactions > 0, "fixture never triggered auto-compaction — weaken compactAfterDirs")
    assert(indexMap(BucketedIndex.read(spark, dir)) == indexMap(Merge.fold(mutDf(log))),
      "auto-compacted state diverged from the one-shot fold")
    // a RETRY of the last batch must hit the skip guard, not re-merge over
    // its own dirs
    val before = indexMap(BucketedIndex.read(spark, dir))
    val logBefore = BucketedIndex.manifestVersions(dir)
    Pipeline.applyIncrementalBatch(spark, cfg, mutDf(chunks.last), chunks.size - 1, nBuckets = 16)
    assert(indexMap(BucketedIndex.read(spark, dir)) == before)
    assert(BucketedIndex.manifestVersions(dir) == logBefore)
  }

  test("manifest tmp leftover from a crashed publish: log still parses, next publish sweeps it") {
    val dir = tmp()
    BucketedIndex.applyBatch(spark, dir,
      mutDf(Seq(mut("k1", "U", "2024-01-01 00:00:00", 1, ("f", "a", "1")))), 0, nBuckets = 4)
    // simulate a crash between the m<v>.tmp write and the atomic move
    Files.writeString(Paths.get(dir, "manifests", "m99.tmp"), "0=99")
    assert(BucketedIndex.manifestVersions(dir) == Seq(0L),
      "a stray m99.tmp leaked into (or wedged) the version log")
    BucketedIndex.vacuum(dir) // pre-fix: NumberFormatException on "99.tmp"
    BucketedIndex.applyBatch(spark, dir,
      mutDf(Seq(mut("k2", "U", "2024-01-01 00:00:01", 2, ("f", "a", "2")))), 1, nBuckets = 4)
    assert(!Files.exists(Paths.get(dir, "manifests", "m99.tmp")),
      "publish did not sweep the crashed-publish tmp leftover")
    assert(BucketedIndex.manifestVersions(dir) == Seq(0L, 1L))
  }

  test("redelivered batch after same-trigger compaction: header guard skips, pinned dirs survive") {
    import graft.streaming.Pipeline
    val dir = tmp()
    val cfg = Pipeline.Config(
      changeLogDir = "unused", indexDir = dir, checkpointDir = "unused",
      vacuumKeepManifests = 4, compactAfterDirs = 1)
    // from batch 1 on, every publish would leave ≥ 2 dirs ({previous
    // batch, this batch}) > 1, so EVERY trigger rewrites every live bucket
    // under its own b<N> in its one publish
    val chunks = (0 until 6).map(i =>
      Seq(mut(s"k$i", "U", s"2024-01-01 00:00:0$i", i, ("f", "a", s"$i"))))
    chunks.zipWithIndex.foreach { case (c, i) =>
      Pipeline.applyIncrementalBatch(spark, cfg, mutDf(c), i, nBuckets = 8)
    }
    val lastId = chunks.size - 1L
    val manifest = BucketedIndex.readManifest(dir)
    assert(manifest.values.toSet == Set(lastId) && manifest.size > 1,
      s"fixture did not end on a compacting trigger: $manifest")
    assert(BucketedIndex.readHeader(dir).get("appliedBatch").contains(lastId.toString))
    val state = indexMap(BucketedIndex.read(spark, dir))
    def partFiles(id: Long) = Files.walk(Paths.get(dir, "batches", s"b$id"))
      .iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    val filesBefore = partFiles(lastId)
    val logBefore = BucketedIndex.manifestVersions(dir)
    // crash before the checkpoint commit → the stream redelivers batch N.
    // The appliedBatch guard must skip it: a re-merge would read every
    // bucket under b<N> while overwrite-deleting b<N> itself
    Pipeline.applyIncrementalBatch(spark, cfg, mutDf(chunks.last), lastId, nBuckets = 8)
    assert(partFiles(lastId) == filesBefore, "redelivery rewrote the published dir")
    assert(BucketedIndex.readManifest(dir) == manifest, "redelivery moved the manifest")
    assert(BucketedIndex.manifestVersions(dir) == logBefore)
    assert(indexMap(BucketedIndex.read(spark, dir)) == state)
    // and a reader pinned at the previous version still reads clean
    val pinned = BucketedIndex.readManifestAt(dir, lastId - 1)
    assert(indexMap(BucketedIndex.readAt(spark, dir, pinned)) == state - s"k$lastId")
  }

  test("vacuum removes superseded bucket versions, state still readable") {
    val dir = tmp()
    (0 to 3).foreach { i =>
      BucketedIndex.applyBatch(spark, dir,
        mutDf(Seq(mut(s"k$i", "U", s"2024-01-01 00:00:0$i", i, ("f", "a", s"$i"),
          ("f", "b", "x")))), i, nBuckets = 4)
    }
    val before = indexMap(BucketedIndex.read(spark, dir))
    BucketedIndex.vacuum(dir)
    assert(indexMap(BucketedIndex.read(spark, dir)) == before)
  }
}
