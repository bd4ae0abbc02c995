package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A13 — the keyed merge-upsert/delete fold, the one genuinely novel
  * operator in the reference (emergent from
  * `observer6/HbaseDataSyncEsObserver.java:109` `setDocAsUpsert(true)` +
  * `:129` whole-doc delete + ES bulk intra-batch ordering).
  *
  * Semantics preserved exactly (SURVEY.md §1.2):
  *  1. upsert MERGES fields into the existing doc (union, new wins);
  *  2. any delete kills the WHOLE doc;
  *  3. delete-then-put inside one batch resurrects the doc with only the
  *     fields written after the delete;
  *  4. order within a batch is (ts, seq, cell-position) — last write wins.
  *
  * Scale design: the fold is ONE hash shuffle on the key. The window, both
  * aggregations and the summary⋈delta join all run on
  * `HashPartitioning(id)`, so Catalyst inserts a single Exchange; the final
  * index⋈delta join is the only other wide stage, and the streaming shell
  * runs it only against the buckets the batch touches
  * ([[graft.streaming.BucketedIndex]]). No driver-side collection anywhere
  * — at 100 TB the fold is bounded by one shuffle of the *batch* plus a
  * merge join against the touched slice of the index.
  */
object Merge {

  private val emptyInfo = map().cast("map<string,string>")

  /** Right-biased map union: `old ++ delta` where delta's keys win.
    * Config-independent (does not rely on spark.sql.mapKeyDedupPolicy). */
  def mergeMaps(old: org.apache.spark.sql.Column, delta: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    map_concat(map_filter(old, (k, _) => !map_contains_key(delta, k)), delta)

  /** Fold a mutation batch to one row per key:
    * `(id, had_delete, alive, delta: map<string,string>)` where
    *  - had_delete: batch contained a delete for this key;
    *  - alive: the key has a live doc after the fold (some U at/after the
    *    last D — an empty put still creates a doc, matching `postPut` with
    *    an upsert of `{info:{}}`);
    *  - delta: last-write-wins union of cells written after the last D. */
  def foldChanges(changes: DataFrame): DataFrame = {
    // ONE exchange for the whole fold (r18): hash(id) satisfies every
    // downstream distribution — ClusteredDistribution(id, q) for the cell
    // agg (a strict subset of its clustering keys), the id window, and
    // the final per-id fold — so pre-partitioning the RAW batch by id
    // replaces the r17 shape's two exchanges (the exploded batch by
    // (id, q), then the aggregated rows by id) with one exchange of the
    // smaller pre-explode rows. FoldCellAgg is a commutative extrema
    // fold with a strict (ts, seq, pos) total order, so partitioning
    // and arrival order cannot change any result.
    val exploded = changes.select(
        col("row_key").as("id"), col("op"), col("ts"), col("seq"), col("cells"))
      .repartition(col("id"))
      .select(
        col("id"), col("op"), col("ts"), col("seq"),
        posexplode_outer(col("cells")).as(Seq("pos", "cell")))

    // Single pass over the batch: one full-size shuffle on (id, qualifier)
    // computes per-qualifier last values AND per-op ordinals; the per-id
    // delete horizon then needs only a window over the ALREADY-AGGREGATED
    // rows (|keys|·|qualifiers|, orders of magnitude smaller than the
    // batch), and the final per-id fold reuses that hash(id) partitioning.
    // (The naive two-branch formulation scanned + windowed the raw batch
    // twice because column pruning made the branches non-reusable.)
    // The four extrema come from ONE custom object-buffer aggregate
    // ([[graft.functions.FoldCellAgg]]) so the partial aggregation is
    // HASH-based (ObjectHashAggregate); the equivalent declarative
    // max/max_by formulation carries struct-typed buffers and forced
    // SortAggregate partials over the full exploded batch.
    val g1 = exploded
      .groupBy(col("id"), col("cell.qualifier").as("q"))
      .agg(graft.functions.FoldCellAgg.foldCells(
        col("op"), unix_micros(col("ts")), col("seq"), col("pos"),
        col("cell.value"), col("cell").isNull).as("f"))
      .select(col("id"), col("q"),
        col("f.dmax").as("dmax"), col("f.umax").as("umax"),
        col("f.vlast").as("vlast"), col("f.omax").as("omax"))

    val w = Window.partitionBy("id")
    val g2 = g1
      .withColumn("last_d", max(col("dmax")).over(w))
      .withColumn("alive_i", max(
        when(col("umax").isNotNull &&
          (col("last_d").isNull || col("umax") > col("last_d")), 1).otherwise(0)).over(w))

    val keepEntry = col("q").isNotNull && col("omax").isNotNull &&
      (col("last_d").isNull || col("omax") > col("last_d"))
    g2.groupBy("id")
      .agg(
        max(col("last_d")).as("last_d"),
        max(col("alive_i")).as("alive_i"),
        map_from_entries(
          collect_list(when(keepEntry, struct(col("q"), col("vlast"))))).as("delta"))
      .select(
        col("id"),
        col("last_d").isNotNull.as("had_delete"),
        (col("alive_i") === 1).as("alive"),
        coalesce(col("delta"), emptyInfo).as("delta"))
  }

  /** Merge one folded batch into the current index state. Both inputs and
    * the output conform to [[Model.indexSchema]] / folded-batch schema. */
  def mergeFolded(index: DataFrame, folded: DataFrame): DataFrame = {
    val joined = index.alias("i").join(folded.alias("f"), Seq("id"), "full_outer")
    joined
      .filter(coalesce(col("f.alive"), lit(true))) // folded delete with nothing after → drop doc
      .select(
        col("id"),
        when(col("f.alive").isNull, col("i.info")) // untouched key
          .when(col("f.had_delete"), col("f.delta")) // delete cleared prior state
          .otherwise(mergeMaps(coalesce(col("i.info"), emptyInfo), col("f.delta")))
          .as("info"))
  }

  /** A7+A8+A13: apply a raw mutation batch to an index snapshot. */
  def mergeBatch(index: DataFrame, changes: DataFrame): DataFrame =
    mergeFolded(index, foldChanges(changes))

  /** Fold a whole change-log from empty state (batch bootstrap). */
  def fold(changes: DataFrame): DataFrame = {
    val folded = foldChanges(changes)
    folded.filter(col("alive")).select(col("id"), col("delta").as("info"))
  }

  def emptyIndex(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Model.indexSchema)
}
