package graft.streaming

import graft.Merge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Incremental, bucket-versioned index — the 100 TB layout.
  *
  * Rewriting the WHOLE index every micro-batch costs O(|index|) read+write
  * per batch, which cannot survive a 100 TB index. Here the index is split
  * into `nBuckets` hash buckets of the doc id, each bucket versioned
  * independently (the Lucene-segment / LSM idea expressed in parquet):
  *
  *   dir/batches/b<batchId>/bucket=<k>/   parquet for bucket k as of batch
  *   dir/_MANIFEST                        "k=batchId" per live bucket
  *
  * A batch folds to per-key deltas, computes its touched buckets, reads
  * ONLY those buckets' current versions, merges, writes ONLY those buckets
  * under the new batch id, and atomically swaps the manifest. Untouched
  * buckets are neither read nor written — per-batch cost is
  * O(|batch| + |touched buckets|), not O(|index|), except for the batch
  * the fan-out policy makes rewrite every bucket ([[applyBatch]]).
  *
  * Exactly-once under retries: the manifest swap is a single atomic file
  * move. A crash BEFORE the swap leaves the manifest on the old versions
  * and the retry rewrites b<batchId> from scratch (reads come only from
  * older batch dirs — never an ancestor of the overwrite target). A crash
  * AFTER the swap is detected by the manifest header's `appliedBatch`,
  * and the retry is a no-op skip — re-merging would overwrite the very
  * dirs it reads. Consequence: an index dir belongs to ONE checkpoint
  * lineage (batch ids must not restart against an existing index — use a
  * fresh index dir with a fresh checkpoint).
  * Superseded bucket dirs are garbage, removed by [[vacuum]].
  */
object BucketedIndex {

  /** Test-only crash injection (BucketedIndexFuzzSpec): invoked at each
    * named point between durable file-system effects; a test throws from
    * it to simulate the process dying mid-publish / mid-vacuum. Null (the
    * default) in production — the call sites are a null check and a
    * string literal, nothing else. */
  @volatile private[graft] var faultHook: String => Unit = null
  @inline private def fp(point: String): Unit = {
    val h = faultHook
    if (h != null) h(point)
  }

  private def bucketOf(n: Int) = pmod(hash(col("id")), lit(n))

  def readManifest(dir: String): Map[Int, Long] = {
    val p = Paths.get(dir, "_MANIFEST")
    if (!Files.exists(p)) Map.empty
    else parseManifest(Files.readAllLines(p).asScala.toSeq)
  }

  /** Header metadata lines (`#key=value`) of the current manifest. Carries
    * `appliedBatch`, the last applied STREAM batch id: the retry-skip
    * guard's source of truth (see [[applyBatch]]). Empty for pre-header
    * index dirs. */
  def readHeader(dir: String): Map[String, String] = {
    val p = Paths.get(dir, "_MANIFEST")
    if (!Files.exists(p)) Map.empty
    else parseHeader(Files.readAllLines(p).asScala.toSeq)
  }

  private def parseHeader(lines: Seq[String]): Map[String, String] =
    lines.filter(_.startsWith("#")).map { l =>
      val Array(k, v) = l.stripPrefix("#").split("=", 2); k -> v
    }.toMap

  private def parseManifest(lines: Seq[String]): Map[Int, Long] =
    lines.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, v) = l.split("="); k.toInt -> v.toLong
    }.toMap

  /** Ordered ids of the retained manifest versions (the version log under
    * `dir/manifests/`). Each successful publish — applyBatch (compacting
    * or not) or compact — appends one entry; [[vacuum]]'s grace window is
    * expressed over this log (keep the newest N). Empty for pre-log index
    * dirs. */
  def manifestVersions(dir: String): Seq[Long] = {
    val mdir = Paths.get(dir, "manifests")
    if (!Files.exists(mdir)) Seq.empty
    // strict pattern: a crash between the vtmp write and the atomic move
    // leaves "m<v>.tmp" here, and "<v>.tmp".toLong would throw, wedging
    // every later vacuum()/manifestVersions() until hand-cleaned
    else FsOps.listDir(mdir).map(_.getFileName.toString)
      .filter(_.matches("m\\d+")).map(_.stripPrefix("m").toLong).sorted
  }

  /** The manifest as of a logged version id — the snapshot handle for
    * [[readAt]]. Fails loudly if the version was vacuumed past. */
  def readManifestAt(dir: String, version: Long): Map[Int, Long] = {
    val p = Paths.get(dir, "manifests", s"m$version")
    require(Files.exists(p),
      s"manifest version $version is not retained (vacuumed past, or never published)")
    parseManifest(Files.readAllLines(p).asScala.toSeq)
  }

  private def writeManifest(dir: String, m: Map[Int, Long], version: Long,
                            header: Map[String, String] = Map.empty): Unit = {
    Files.createDirectories(Paths.get(dir, "manifests"))
    fp("manifest.begin")
    // sweep tmp leftovers from a crashed prior publish (single-mutator
    // discipline makes this safe: no concurrent writer owns a live .tmp)
    FsOps.listDir(Paths.get(dir, "manifests"))
      .filter(_.getFileName.toString.endsWith(".tmp"))
      .foreach(Files.deleteIfExists(_))
    val body = (header.toSeq.sorted.map { case (k, v) => s"#$k=$v" } ++
      m.toSeq.sorted.map { case (k, v) => s"$k=$v" }).mkString("\n")
    // version log FIRST (crash between the two writes leaves a logged
    // version that never became current — harmless: vacuum counts it in
    // the grace window, readers only pin versions they observed current)
    val vtmp = Paths.get(dir, "manifests", s"m$version.tmp")
    Files.writeString(vtmp, body)
    fp("manifest.vtmpWritten")
    Files.move(vtmp, Paths.get(dir, "manifests", s"m$version"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    fp("manifest.versionLogged")
    val tmp = Paths.get(dir, "_MANIFEST.tmp")
    Files.writeString(tmp, body)
    fp("manifest.currentTmpWritten")
    Files.move(tmp, Paths.get(dir, "_MANIFEST"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def bucketPath(dir: String, bucket: Int, ver: Long) =
    s"$dir/batches/b$ver/bucket=$bucket"

  /** Read the full current index (id, info). */
  def read(spark: SparkSession, dir: String): DataFrame =
    readAt(spark, dir, readManifest(dir))

  /** Read the index PINNED to a resolved manifest — the point-in-time /
    * scroll-context primitive (ES pins a scroll to the segments live at
    * open time; here the manifest map IS that segment list). A cursor
    * walk (search_after, composite, sliced scroll) during ingest resolves
    * the manifest ONCE and serves every page from this call, so pages
    * never straddle a publish. Pair with [[vacuum]]'s `keepLast` grace
    * window so the pinned version's dirs outlive the walk. */
  def readAt(spark: SparkSession, dir: String, manifest: Map[Int, Long]): DataFrame = {
    if (manifest.isEmpty) Merge.emptyIndex(spark)
    else spark.read.schema(graft.Model.indexSchema)
      .parquet(manifest.toSeq.map { case (k, v) => bucketPath(dir, k, v) }: _*)
  }

  /** Read only the given buckets' current state. */
  private def readBuckets(spark: SparkSession, dir: String,
                          manifest: Map[Int, Long], buckets: Seq[Int]): DataFrame = {
    val paths = buckets.flatMap(k => manifest.get(k).map(v => bucketPath(dir, k, v)))
    if (paths.isEmpty) Merge.emptyIndex(spark)
    else spark.read.schema(graft.Model.indexSchema).parquet(paths: _*)
  }

  /** Apply one mutation batch. Returns the touched bucket ids.
    *
    * Fan-out policy: when `compactAfterDirs > 0` and this publish would
    * leave the manifest over `compactAfterDirs` distinct batch dirs (each
    * cold bucket pinned to the batch that last touched it), the batch
    * rewrites EVERY live bucket under its own `b<batchId>`, not only the
    * touched ones — one manifest swap both applies and compacts, and a
    * reader's dirs-per-read stays bounded by the knob. The cost moves onto
    * that batch: it becomes queryable after the full rewrite.
    *
    * `streamBatchId` is the checkpoint-lineage id the retry-skip guard
    * records (header `appliedBatch`) when a caller's index id differs from
    * its stream batch id; it defaults to `batchId` itself. `scheme` is
    * ignored; it stays for source compatibility with callers that pass it.
    * `beforePublish` runs on the calling thread after the bucket write and
    * right before the manifest swap; a throw from it aborts the publish
    * (the written batch dir is garbage a retry overwrites). It is not
    * called when the batch is skipped as applied or touches no bucket. */
  def applyBatch(spark: SparkSession, dir: String, batch: DataFrame,
                 batchId: Long, nBuckets: Int = 256,
                 streamBatchId: Long = -1L, scheme: String = "",
                 compactAfterDirs: Int = 0,
                 beforePublish: () => Unit = () => ()): Seq[Int] = {
    val mark = if (streamBatchId >= 0) streamBatchId else batchId
    // Retry safety: a crash after publish but before the checkpoint commit
    // redelivers the batch. Re-merging after a completed publish is unsafe:
    // it reads the live dirs under b<batchId> while overwrite-deleting
    // their parent (Spark's same-path check misses the ancestor relation).
    // The authoritative guard is the header's appliedBatch (last applied
    // STREAM id). Dir-id membership alone misses a batch whose touched
    // buckets all emptied (no bucket names it) and one whose dirs a later
    // [[compact]] repointed away from; it stays only as the fallback for
    // pre-header manifests. Already applied: skip.
    val manifest = readManifest(dir)
    val lastApplied = readHeader(dir).get("appliedBatch").map(_.toLong)
    if (lastApplied.exists(_ >= mark) ||
        (lastApplied.isEmpty && manifest.values.exists(_ == batchId)))
      return manifest.collect { case (k, v) if v == batchId => k }.toSeq.sorted
    val folded = Merge.foldChanges(batch)
      .withColumn("bucket", bucketOf(nBuckets)).persist()
    try {
      val touched = folded.select("bucket").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return Seq.empty
      // counting b<batchId> as live makes the estimate an upper bound: a
      // batch that empties every touched bucket only lowers the fan-out
      val kept = manifest -- touched
      val compacting = compactAfterDirs > 0 &&
        (kept.values.toSet + batchId).size > compactAfterDirs
      val rewritten = if (compacting) (manifest.keySet ++ touched).toSeq else touched
      val merged = Merge.mergeFolded(readBuckets(spark, dir, manifest, rewritten),
        folded.drop("bucket")).withColumn("bucket", bucketOf(nBuckets))
      publish(dir, merged, batchId, manifest, rewritten,
        Map("appliedBatch" -> mark.toString), beforePublish, "apply")
      touched
    } finally folded.unpersist()
  }

  /** The publish core of [[applyBatch]] and [[compact]]: write `rows` (with
    * a `bucket` column) under `b<id>`, list the buckets that came out
    * non-empty, and swap in `manifest` with every `rewritten` bucket
    * repointed at `b<id>` (a rewritten bucket whose merged state is empty —
    * all docs deleted — has no dir and leaves the manifest).
    *
    * The write repartitions BY BUCKET first: without it every shuffle
    * partition holding rows of a bucket writes its own file there (up to
    * spark.sql.shuffle.partitions small files per bucket per publish — the
    * read-amplification debt the round-15 100-batch soak measures). After
    * it each rewritten bucket's state is exactly ONE file. */
  private def publish(dir: String, rows: DataFrame, id: Long, manifest: Map[Int, Long],
                      rewritten: Seq[Int], header: Map[String, String],
                      beforePublish: () => Unit, step: String): Unit = {
    fp(s"$step.beforeBucketWrite")
    rows.repartition(col("bucket")).write.mode("overwrite")
      .partitionBy("bucket").parquet(s"$dir/batches/b$id")
    fp(s"$step.bucketsWritten")
    val live = FsOps.listDir(Paths.get(s"$dir/batches/b$id"))
      .map(_.getFileName.toString).filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt).toSet
    beforePublish()
    writeManifest(dir, (manifest -- rewritten) ++ rewritten.filter(live).map(_ -> id), id, header)
    fp(s"$step.published")
  }

  /** Manual maintenance compaction (SURVEY §4's deferred small-file job):
    * fold EVERY live bucket into one consolidated batch dir `b<compactId>`
    * and repoint the whole manifest at it — the LSM major compaction,
    * expressed as one partitioned parquet write. The streaming shell never
    * calls it: its fan-out policy compacts inside [[applyBatch]].
    *
    * Crash-safe under the exact applyBatch manifest protocol:
    *  - crash BEFORE the swap: the manifest still references the old dirs
    *    (never the half-written `b<compactId>`); a retry overwrites it;
    *  - crash AFTER the swap: the manifest (atomically) references
    *    `compactId` — the guard skips, re-running would overwrite the very
    *    dirs it reads.
    * `compactId` joins the batch-id lineage, so it must be FRESH — larger
    * than every id the manifest references (required loudly). Superseded
    * dirs become [[vacuum]] garbage. Run it between batches (same writer
    * discipline as applyBatch — one mutator at a time). */
  def compact(spark: SparkSession, dir: String, compactId: Long,
              nBuckets: Int = 256): Unit = {
    val manifest = readManifest(dir)
    if (manifest.isEmpty) return
    if (manifest.values.exists(_ == compactId)) return // already published
    require(compactId > manifest.values.max,
      s"compactId $compactId must exceed every live batch id (${manifest.values.max})")
    // compaction is not a stream batch: the header (appliedBatch) carries
    // FORWARD unchanged so the retry-skip guard stays authoritative
    publish(dir, readAt(spark, dir, manifest).withColumn("bucket", bucketOf(nBuckets)),
      compactId, manifest, manifest.keys.toSeq, readHeader(dir), () => (), "compact")
  }

  /** Remove bucket dirs no longer referenced by the RETAINED manifests.
    *
    * `keepLast` is the grace window (in manifest publishes): bucket dirs
    * referenced by any of the newest `keepLast` manifest versions — plus
    * the current `_MANIFEST`, always — survive, and older version-log
    * entries are pruned. A reader that pinned a manifest ([[readAt]])
    * within the last `keepLast` publishes therefore never races a delete;
    * size it to exceed the longest expected cursor walk, the
    * Delta-VACUUM-retention tradeoff. `keepLast = 1` (the default) keeps
    * only the current version — the pre-grace behavior, where concurrent
    * readers rely on catch-and-retry. */
  def vacuum(dir: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val logged = manifestVersions(dir)
    val retained = logged.takeRight(keepLast)
    logged.dropRight(keepLast).foreach { v =>
      Files.deleteIfExists(Paths.get(dir, "manifests", s"m$v"))
      fp("vacuum.logPruned")
    }
    val live: Seq[Map[Int, Long]] =
      retained.map(v => readManifestAt(dir, v)) :+ readManifest(dir)
    val liveDirs = live.flatten
      .map { case (k, v) => Paths.get(bucketPath(dir, k, v)).normalize }.toSet
    val batches = Paths.get(dir, "batches")
    if (!Files.exists(batches)) return
    FsOps.listDir(batches).foreach { b =>
      FsOps.listDir(b).foreach { bd =>
        if (bd.getFileName.toString.startsWith("bucket=") && !liveDirs.contains(bd.normalize)) {
          FsOps.walkReverse(bd)
            .foreach { p => Files.delete(p); fp("vacuum.fileDeleted") }
        }
      }
      // a batch dir whose buckets are all superseded is garbage including
      // its writer marker files (_SUCCESS)
      val noBuckets = !FsOps.listDir(b)
        .exists(_.getFileName.toString.startsWith("bucket="))
      if (noBuckets) {
        FsOps.walkReverse(b)
          .foreach { p => Files.delete(p); fp("vacuum.fileDeleted") }
      }
    }
  }
}
