package graft.streaming

import graft.ext.Sketch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Streaming-maintained SKETCH TABLES for the CDC pipeline — the
  * composition the batch rows prove algebraically (c118: per-day HDR
  * histograms union losslessly; c111: per-day HLL sketches union to the
  * one-shot estimate) run as live state inside the same `foreachBatch`
  * that maintains the index:
  *
  *   - `hdr`: per-(day, bucket) HDR histogram of upsert PAYLOAD sizes
  *     (sum of cell-value chars, min 1) — any date range's latency/size
  *     percentiles come from a bucket-wise union, no raw re-scan;
  *   - `hll`: per-day HLL sketch of DISTINCT row keys touched (upserts
  *     and deletes) — any date range's distinct-key count is a
  *     register-max union.
  *
  * Both structures are exactly mergeable, so per-batch maintenance is
  * union + re-aggregate against the previous snapshot. The whole table
  * is SKETCH-sized (≤ days × 2^k·63 HDR rows + days HLL rows — bounded
  * by time, never by data), so the per-batch rewrite is O(sketch), the
  * same budget class as BucketedIndex's touched-bucket writes.
  *
  * Exactly-once under retries: versioned dirs `v<batchId>` + an atomic
  * `_CURRENT` pointer, skip when the pointer already names this batch id
  * (this table's own publish, [[updateForBatch]]). `Pipeline` runs the
  * sketch update beside the index fold and the index's manifest swap waits
  * for it (a barrier), so "index published" implies "sketches published"
  * and a crash between the two publishes replays cleanly (sketch side
  * skips, index side applies).
  *
  * Reference scope: the reference's observer keeps no observability
  * state at all (`observer6/ElasticSearchBulkOperator.java` counts only
  * a live buffer); these tables are the 100 TB-operator upgrade the LLM
  * brief names — per-day percentile/distinct summaries maintained in
  * the ingest path itself. */
object SketchTable {

  /** Per-upsert payload measure: total cell-value chars, floored at 1 so
    * empty-cell puts still register (HDR requires values ≥ 1). */
  private def payloadChars = greatest(lit(1L),
    aggregate(coalesce(col("cells"), array()), lit(0L),
      (acc, c) => acc + coalesce(length(c.getField("value")).cast("long"), lit(0L))))

  private def withDay(good: DataFrame): DataFrame =
    good.withColumn("day", to_date(col("ts")))

  /** One-shot sketches over a (good-rows) mutation frame — the batch
    * twin the stream==batch spec compares against, and the builder the
    * incremental update unions into the standing table. */
  def oneShot(good: DataFrame, k: Int = 8, lgK: Int = 12): (DataFrame, DataFrame) = {
    val d = withDay(good)
    val hdr = Sketch.hdrHistogram(d.filter(col("op") === "U"),
      Seq(col("day")), payloadChars, k)
    val hll = d.groupBy("day")
      .agg(hll_sketch_agg(col("row_key"), lit(lgK)).as("sk"))
    (hdr, hll)
  }

  /** Apply one micro-batch of good mutations: union the batch's sketches
    * into the current table, publish `v<batchId>`. Idempotent on retry
    * (same skip rule as the index snapshots). */
  def updateForBatch(spark: SparkSession, dir: String, good: DataFrame,
                     batchId: Long, k: Int = 8, lgK: Int = 12): Unit = {
    if (currentVersion(dir).contains(s"v$batchId")) return
    val (bHdr, bHll) = oneShot(good, k, lgK)
    val hdr = readHdr(spark, dir).unionByName(bHdr)
      .groupBy("day", "bmin", "rep").agg(sum("c").as("c"))
    val hll = readHll(spark, dir).unionByName(bHll)
      .groupBy("day").agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
    hdr.write.mode("overwrite").parquet(s"$dir/v$batchId/hdr")
    hll.write.mode("overwrite").parquet(s"$dir/v$batchId/hll")
    publish(dir, s"v$batchId")
  }

  private val hdrSchema = "day date, bmin bigint, rep bigint, c bigint"
  private val hllSchema = "day date, sk binary"

  private def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  def readHdr(spark: SparkSession, dir: String): DataFrame =
    currentVersion(dir)
      .map(v => spark.read.schema(hdrSchema).parquet(s"$dir/$v/hdr"))
      .getOrElse(empty(spark, hdrSchema))

  def readHll(spark: SparkSession, dir: String): DataFrame =
    currentVersion(dir)
      .map(v => spark.read.schema(hllSchema).parquet(s"$dir/$v/hll"))
      .getOrElse(empty(spark, hllSchema))

  /** Distinct row keys touched per day (the HLL estimate). */
  def distinctKeysByDay(spark: SparkSession, dir: String): DataFrame =
    readHll(spark, dir)
      .select(col("day"), hll_sketch_estimate(col("sk")).as("distinct_keys"))

  /** Payload-size percentile estimates over a date range: bucket-union
    * the per-day histograms (lossless — integer buckets), then the
    * standard HDR rank walk. Sketch-sized work end to end. */
  def payloadPercentiles(spark: SparkSession, dir: String,
                         fromDay: String, toDay: String,
                         ps: Seq[Double]): DataFrame =
    Sketch.hdrPercentiles(
      Sketch.hdrMerge(readHdr(spark, dir)
        .filter(col("day") >= lit(fromDay) && col("day") <= lit(toDay))), ps)

  def currentVersion(dir: String): Option[String] = {
    val p = Paths.get(dir, "_CURRENT")
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  /** Remove snapshot versions other than `_CURRENT` — a long-running
    * stream otherwise accumulates one (tiny) superseded dir per batch.
    * Same reader-race tradeoff as [[BucketedIndex.vacuum]]: a reader
    * that resolved `_CURRENT` before the latest swap can race a vacuum;
    * run it on a cadence longer than the longest expected reader. The
    * current version is never touched, so a crash mid-vacuum loses
    * nothing. */
  def vacuum(dir: String): Unit = {
    val keep = currentVersion(dir).getOrElse(return)
    val root = Paths.get(dir)
    if (!Files.exists(root)) return
    FsOps.listDir(root)
      .filter(p => p.getFileName.toString.startsWith("v") &&
        p.getFileName.toString != keep && Files.isDirectory(p))
      .foreach(p => FsOps.walkReverse(p).foreach(Files.delete))
  }

  private def publish(dir: String, version: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, "_CURRENT.tmp")
    Files.writeString(tmp, version)
    Files.move(tmp, Paths.get(dir, "_CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
