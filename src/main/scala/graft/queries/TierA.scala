package graft.queries

import graft.{ChangeLog, Merge, Transform}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier A (SURVEY.md §2) exercised as batch DataFrame computations over the
  * `events` table reinterpreted as a change-log, so the DuckDB oracle can
  * hash-check the reference semantics (family erasure, LWW, whole-doc
  * delete, partial-put merge).
  *
  * Output convention: map-typed docs are EXPLODED to `(id, qualifier, value)`
  * rows with a total order, because parquet map cells don't hash stably
  * across engines.
  */
object TierA {

  /** A3+A4+A5+A6: per-mutation flatten. One row per (mutation, qualifier)
    * with last-wins dedup inside the mutation; no cross-row state. */
  def flatten(spark: SparkSession, sfDir: String): DataFrame = {
    val changes = ChangeLog.readEvents(spark, sfDir)
    Transform.toDocs(changes)
      .filter(col("op") === "U")
      .select(col("row_key").as("id"), col("seq"), explode(col("doc.info")).as(Seq("qualifier", "value")))
      .orderBy("seq", "qualifier")
  }

  /** A7+A8+A13: full LWW fold of the change-log into the materialized
    * index, exploded for the oracle. The load-bearing semantics: any
    * 'error' event deletes the whole doc; later events resurrect it; per
    * qualifier the last write (by ts, seq) wins. */
  def mergeFold(spark: SparkSession, sfDir: String): DataFrame = {
    Fixtures.indexFold(spark, sfDir)
      .select(col("id"), explode(col("info")).as(Seq("qualifier", "value")))
      .orderBy("id", "qualifier")
  }

  /** A8: keys whose final state is deleted (tombstoned) — last op is a
    * delete with no put after it. */
  def deletedKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val changes = ChangeLog.readEvents(spark, sfDir)
    Merge.foldChanges(changes)
      .filter(!col("alive"))
      .select(col("id"))
      .orderBy("id")
  }

  /** A13 incremental equivalence surface: fold first half as the standing
    * index, merge second half as a batch — must equal the one-shot fold.
    * Exposed as a query so the oracle verifies incremental == batch. */
  def mergeIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val changes = ChangeLog.readEvents(spark, sfDir)
    val half = changes.filter(col("seq") < 5000L)
    val index0 = Merge.fold(half)
    val merged = Merge.mergeBatch(index0, changes.filter(col("seq") >= 5000L))
    merged
      .select(col("id"), explode(col("info")).as(Seq("qualifier", "value")))
      .orderBy("id", "qualifier")
  }

  /** The change-log mapping shared by every Tier-A oracle (mirrors
    * [[ChangeLog.fromEvents]] exactly; ts is strictly monotone in event_id
    * in the driver data, so ordering by seq == ordering by (ts, seq)). */
  private val chCte =
    """WITH ch AS (
      |  SELECT CAST(user_id AS VARCHAR) AS id,
      |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |         event_id AS seq, event_type, value, props
      |  FROM events
      |), dmax AS (
      |  SELECT id, max(CASE WHEN op = 'D' THEN seq END) AS dseq FROM ch GROUP BY id
      |), u AS (
      |  SELECT ch.* FROM ch JOIN dmax USING (id)
      |  WHERE op = 'U' AND (dseq IS NULL OR seq > dseq)
      |), cells AS (
      |  SELECT id, 'etype' AS qualifier, event_type AS value, seq FROM u
      |  UNION ALL SELECT id, 'val', printf('%.2f', value), seq FROM u
      |  UNION ALL SELECT id, 'k', json_extract_string(props, '$.k'), seq FROM u
      |)""".stripMargin

  private val mergeOracle = chCte +
    """
      |SELECT id, qualifier, arg_max(value, seq) AS value
      |FROM cells GROUP BY id, qualifier ORDER BY id, qualifier""".stripMargin

  /** A11+B17 composed — the `_search?scroll` API over the incremental
    * index: build the index from the first half of the change-log, open a
    * scroll (pins the manifest), land the second half + a vacuum MID-WALK,
    * and reassemble every page. The pages must serve the pinned snapshot —
    * the oracle is the half-log fold, which the live (moved-on) index no
    * longer matches. */
  def scrollWalk(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.dsl.EsScroll
    import graft.streaming.BucketedIndex
    val changes = ChangeLog.readEvents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-a254").toString
    BucketedIndex.applyBatch(spark, dir, changes.filter(col("seq") < 5000L), 0, nBuckets = 16)
    val (sid, first) = EsScroll.open(spark, dir,
      """{"query": {"match_all": {}}, "size": 500}""")
    // live ingest + grace-windowed GC land between pages
    BucketedIndex.applyBatch(spark, dir, changes.filter(col("seq") >= 5000L), 1, nBuckets = 16)
    BucketedIndex.vacuum(dir, keepLast = 2)
    var pages = Seq(first)
    var n = first.count()
    while (n == 500) {
      val p = EsScroll.next(spark, sid)
      pages :+= p
      n = p.count()
    }
    EsScroll.clear(sid)
    pages.reduce(_ union _)
      .select(col("id"), explode(col("info")).as(Seq("qualifier", "value")))
      .orderBy("id", "qualifier")
  }

  private val halfChCte =
    """WITH ch AS (
      |  SELECT CAST(user_id AS VARCHAR) AS id,
      |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |         event_id AS seq, event_type, value, props
      |  FROM events WHERE event_id < 5000
      |), dmax AS (
      |  SELECT id, max(CASE WHEN op = 'D' THEN seq END) AS dseq FROM ch GROUP BY id
      |), u AS (
      |  SELECT ch.* FROM ch JOIN dmax USING (id)
      |  WHERE op = 'U' AND (dseq IS NULL OR seq > dseq)
      |), cells AS (
      |  SELECT id, 'etype' AS qualifier, event_type AS value, seq FROM u
      |  UNION ALL SELECT id, 'val', printf('%.2f', value), seq FROM u
      |  UNION ALL SELECT id, 'k', json_extract_string(props, '$.k'), seq FROM u
      |)
      |SELECT id, qualifier, arg_max(value, seq) AS value
      |FROM cells GROUP BY id, qualifier ORDER BY id, qualifier""".stripMargin

  /** The composed-system workflow: ES-style DSL query over the MATERIALIZED
    * index (what the reference exists to enable, `README_zh.md:3`) — fold
    * the change-log, then term + exists + range over the dynamic map docs. */
  def indexQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.dsl.EsDsl
    Fixtures.indexFold(spark, sfDir)
      .filter(EsDsl.term(element_at(col("info"), "etype"), "purchase") &&
        EsDsl.existsKey(col("info"), "val") &&
        element_at(col("info"), "val").cast("double") >= 30.0)
      .select(col("id"), element_at(col("info"), "val").as("val"),
        element_at(col("info"), "k").as("k"))
      .orderBy("id")
  }

  /** The full reference-user workflow: an ES-JSON search body executed over
    * the materialized index (the API surface an ES 6.5 user migrates with). */
  def esJsonQuery(spark: SparkSession, sfDir: String): DataFrame = {
    graft.dsl.EsQueryJson.search(Fixtures.indexFold(spark, sfDir),
      """{"query": {"bool": {
        |  "must": [{"term": {"info.etype": "click"}},
        |           {"range": {"info.val": {"gte": "20"}}}],
        |  "must_not": [{"term": {"info.k": "42"}}]}},
        | "sort": ["id"], "size": 10000}""".stripMargin)
      .select(col("id"), element_at(col("info"), "val").as("val"))
  }

  val all: Seq[Q] = Seq(
    Q("a19_es_json_query", esJsonQuery,
      Some(chCte +
        """,
          |docs AS (
          |  SELECT id,
          |         arg_max(value, seq) FILTER (WHERE qualifier='etype') AS etype,
          |         arg_max(value, seq) FILTER (WHERE qualifier='val') AS val,
          |         arg_max(value, seq) FILTER (WHERE qualifier='k') AS k
          |  FROM cells GROUP BY id
          |)
          |SELECT id, val FROM docs
          |WHERE etype = 'click' AND val >= '20' AND NOT coalesce(k = '42', FALSE)
          |ORDER BY id""".stripMargin)),
    Q("a18_index_query", indexQuery,
      Some(chCte +
        """,
          |docs AS (
          |  SELECT id,
          |         arg_max(value, seq) FILTER (WHERE qualifier='etype') AS etype,
          |         arg_max(value, seq) FILTER (WHERE qualifier='val') AS val,
          |         arg_max(value, seq) FILTER (WHERE qualifier='k') AS k
          |  FROM cells GROUP BY id
          |)
          |SELECT id, val, k FROM docs
          |WHERE etype = 'purchase' AND val IS NOT NULL AND CAST(val AS DOUBLE) >= 30.0
          |ORDER BY id""".stripMargin)),
    Q("a05_flatten", flatten,
      Some("""WITH u AS (
        |  SELECT CAST(user_id AS VARCHAR) AS id, event_id AS seq, event_type, value, props
        |  FROM events WHERE event_type <> 'error'
        |)
        |SELECT id, seq, qualifier, value FROM (
        |  SELECT id, seq, 'etype' AS qualifier, event_type AS value FROM u
        |  UNION ALL SELECT id, seq, 'val', printf('%.2f', value) FROM u
        |  UNION ALL SELECT id, seq, 'k', json_extract_string(props, '$.k') FROM u
        |) ORDER BY seq, qualifier""".stripMargin)),
    Q("a13_merge", mergeFold, Some(mergeOracle)),
    Q("a13_merge_incremental", mergeIncremental, Some(mergeOracle)),
    Q("a254_es_scroll_pinned_walk", scrollWalk, Some(halfChCte)),
    Q("a08_deleted_keys", deletedKeys,
      Some("""WITH ch AS (
        |  SELECT CAST(user_id AS VARCHAR) AS id,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |         event_id AS seq
        |  FROM events
        |)
        |SELECT id FROM ch GROUP BY id
        |HAVING max(CASE WHEN op = 'D' THEN seq END) IS NOT NULL
        |   AND (max(CASE WHEN op = 'U' THEN seq END) IS NULL
        |        OR max(CASE WHEN op = 'U' THEN seq END) < max(CASE WHEN op = 'D' THEN seq END))
        |ORDER BY id""".stripMargin)),
  )
}
