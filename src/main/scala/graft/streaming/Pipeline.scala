package graft.streaming

import graft.ChangeLog
import java.io.InterruptedIOException
import java.util.UUID
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference-parity CDC pipeline (SURVEY.md §3), Spark-native:
  *
  * reference                         → here
  * ---------------------------------------------------------------
  * postPut/postDelete hooks (A1/A2)  → readStream over a change-log dir
  * 10k-op bulk size trigger (A9)     → maxFilesPerTrigger admission
  * 30 s scheduled flush (A10)        → Trigger.ProcessingTime("30 seconds")
  * bulk upsert/delete to ES (A7/A8)  → foreachBatch fold of the batch into
  *                                     the touched buckets of a
  *                                     [[BucketedIndex]], published by an
  *                                     atomic manifest swap
  * reconnect + requeue (A11)         → checkpointed offsets + the manifest
  *                                     header's `appliedBatch` retry-skip
  *                                     guard (effective exactly-once, an
  *                                     upgrade over the reference's
  *                                     at-least-once —
  *                                     `observer6/ElasticSearchBulkOperator.java:91-99`)
  * per-row try/catch (A17)           → quarantine side-output of malformed
  *                                     mutations (`observer6/HbaseDataSyncEsObserver.java:110-112`)
  * start/stop lifecycle (A15)        → StreamingQuery handle
  *
  * There is one way mutations reach an index: [[startIncremental]] runs
  * [[applyIncrementalBatch]] per micro-batch. Per-batch cost is
  * O(batch + touched buckets), not O(index), except for a batch that
  * compacts under `compactAfterDirs`.
  */
object Pipeline {

  /** A14 — typed config, the analog of the coprocessor attach-string parse
    * (`readConfiguration(env)`, `observer6/HbaseDataSyncEsObserver.java:36-43`;
    * attach example `README_zh.md:378`). */
  case class Config(
      changeLogDir: String,
      indexDir: String,
      checkpointDir: String,
      quarantineDir: Option[String] = None,
      triggerSeconds: Int = 30, // reference flush period, `observer6/ElasticSearchBulkOperator.java:61`
      maxFilesPerTrigger: Int = 16,
      vacuumEveryBatches: Int = 0, // GC superseded bucket versions every N batches (0 = never)
      sketchDir: Option[String] = None, // maintain per-day HDR/HLL sketch tables ([[SketchTable]])
      vacuumKeepManifests: Int = 1, // vacuum grace window: newest N manifest versions survive (readAt pinning)
      compactAfterDirs: Int = 0) // a batch rewrites every bucket when the manifest would fan out past N dirs (0 = never)

  object Config {
    /** Parse from string options (e.g. spark-submit --conf graft.*). The
      * three dirs are required; every other key falls back to the
      * case-class default. A non-integer value fails naming its key. */
    def fromMap(m: Map[String, String]): Config = {
      val d = Config(
        changeLogDir = m("graft.changelog.dir"),
        indexDir = m("graft.index.dir"),
        checkpointDir = m("graft.checkpoint.dir"))
      def int(key: String, default: Int): Int = m.get(key).fold(default)(v =>
        v.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"$key must be an integer, got '$v'")))
      d.copy(
        quarantineDir = m.get("graft.quarantine.dir").orElse(d.quarantineDir),
        triggerSeconds = int("graft.trigger.seconds", d.triggerSeconds),
        maxFilesPerTrigger = int("graft.maxFilesPerTrigger", d.maxFilesPerTrigger),
        vacuumEveryBatches = int("graft.vacuum.everyBatches", d.vacuumEveryBatches),
        sketchDir = m.get("graft.sketch.dir").orElse(d.sketchDir),
        vacuumKeepManifests = int("graft.vacuum.keepManifests", d.vacuumKeepManifests),
        compactAfterDirs = int("graft.compact.afterDirs", d.compactAfterDirs))
    }
  }

  /** A17: a mutation with no row key, or an op other than U/D (null
    * included), goes to quarantine. Never SQL null, so every row passes
    * exactly one of `filter(isMalformed)` / `filter(!isMalformed)`. */
  def isMalformed = col("row_key").isNull || col("op").isNull || !col("op").isin("U", "D")

  /** One COMPOSED incremental micro-batch — quarantine + sketch tables +
    * bucketed index + scheduled vacuum, the full 100 TB-operator shape in
    * one body. Public so the streaming shell, batch replays, and the
    * benchmark harness all drive the exact code.
    *
    * The batch is persisted once and every branch derives its rows from
    * that copy (one source scan per batch, not one per step). The
    * quarantine write and the sketch update (each when its dir is set) run
    * on their own threads, overlapped with the index fold and bucket write
    * on the calling thread.
    * Publishes stay ordered by a barrier: the index waits for both side
    * branches right before its manifest swap and aborts on their failure,
    * so "index published" implies "sketches and quarantine published". The
    * only torn-publish state a crash can leave is "side tables ahead",
    * which replay converges (every publish is idempotent on batchId —
    * StreamingSpec's crash-window cases). Every branch is joined before
    * this returns or throws, so no straggling writer races a redelivered
    * batch; a `StreamingQuery.stop()` that interrupts the stream thread
    * cancels the side branches' jobs.
    *
    * Every durable artefact of batch N is named N: quarantine `b<N>`,
    * sketch `v<N>`, index `b<N>`. The index's fan-out policy
    * (`compactAfterDirs`) lives in [[BucketedIndex.applyBatch]]: a batch
    * that would fan the manifest out too far rewrites every live bucket in
    * its own single publish. */
  def applyIncrementalBatch(spark: SparkSession, cfg: Config, batch: DataFrame,
                            batchId: Long, nBuckets: Int = 256): Unit = {
    val once = batch.persist()
    try {
      val good = once.filter(!isMalformed)
      val side = new SideBranches(spark.sparkContext, batchId,
        cfg.quarantineDir.map(qd => () =>
          once.filter(isMalformed).withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").parquet(s"$qd/b$batchId")).toSeq ++
          cfg.sketchDir.map(sd => () =>
            SketchTable.updateForBatch(spark, sd, good, batchId)))
      try {
        BucketedIndex.applyBatch(spark, cfg.indexDir, good, batchId, nBuckets,
          compactAfterDirs = cfg.compactAfterDirs, beforePublish = () => side.await())
        side.await() // a skipped or empty batch never reached the barrier
      } catch { case t: Throwable =>
        side.join(cancel = isInterrupt(t)).filter(_ ne t).foreach(t.addSuppressed)
        throw t
      }
    } finally once.unpersist()
    // periodic GC of superseded bucket versions. Vacuum keeps the newest
    // vacuumKeepManifests manifest versions (the readAt grace window); a
    // reader pinned FURTHER back than that can still race it (the
    // Delta-VACUUM-retention tradeoff) — size keepLast × trigger period
    // to exceed the longest expected cursor walk
    if (cfg.vacuumEveryBatches > 0 && batchId > 0 && batchId % cfg.vacuumEveryBatches == 0) {
      BucketedIndex.vacuum(cfg.indexDir, cfg.vacuumKeepManifests)
      cfg.sketchDir.foreach(SketchTable.vacuum)
    }
  }

  /** The side branches of one micro-batch, each started at once on its own
    * thread. The threads are made per batch by the caller (the stream
    * thread), never taken from a shared pool, so they inherit its
    * SparkContext local properties: the job tags and the SQL root execution
    * id. Their jobs run in a job group of their own, so a stop can cancel
    * both the jobs running and any a branch would start after. */
  private[graft] final class SideBranches(sc: SparkContext, batchId: Long,
                                          bodies: Seq[() => Unit]) {
    private val group = s"graft-batch-$batchId-side-${UUID.randomUUID()}"
    private val failures = new Array[Throwable](bodies.size)
    private val threads = bodies.zipWithIndex.map { case (body, i) =>
      val t = new Thread(() =>
        try {
          sc.setJobGroup(group, s"batch $batchId side branch $i", interruptOnCancel = true)
          body()
        } catch { case e: Throwable => failures(i) = e },
        s"graft-batch-$batchId-side-$i")
      t.setDaemon(true)
      t.start()
      t
    }

    /** Wait for every branch and return their failures in start order.
      * `StreamingQuery.stop()` cancels the query's running jobs, then
      * interrupts the stream thread. An interrupt of the caller during the
      * wait, or `cancel` (the caller already failed with one), cancels the
      * branches' group, running and future jobs alike, so each branch fails
      * at its next job instead of running to its end. The wait goes on
      * until all have ended; an interrupt caught here is re-asserted after. */
    def join(cancel: Boolean = false): Seq[Throwable] = {
      var interrupted = false
      if (cancel) sc.cancelJobGroupAndFutureJobs(group)
      threads.foreach { t =>
        while (t.isAlive) try t.join() catch { case _: InterruptedException =>
          if (!interrupted && !cancel) sc.cancelJobGroupAndFutureJobs(group)
          interrupted = true
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      failures.toSeq.filter(_ != null)
    }

    /** The publish barrier: wait for every branch, rethrow the first failure. */
    def await(): Unit = join().headOption.foreach(e => throw e)
  }

  /** Whether a failure is an interrupt (a stop), possibly wrapped. */
  private def isInterrupt(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .exists {
        case _: InterruptedException | _: InterruptedIOException => true
        case _ => false
      }

  /** A1/A2 + A9/A10: the streaming shell. Per-batch cost
    * O(batch + touched buckets) via [[BucketedIndex]]. */
  def startIncremental(spark: SparkSession, cfg: Config, nBuckets: Int = 256): StreamingQuery =
    ChangeLog.readStreamMutations(spark, cfg.changeLogDir, cfg.maxFilesPerTrigger)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(s"${cfg.triggerSeconds} seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIncrementalBatch(batch.sparkSession, cfg, batch, batchId, nBuckets)
      }
      .start()
}
