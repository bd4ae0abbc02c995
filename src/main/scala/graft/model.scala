package graft

import org.apache.spark.sql.types._

/** Core data model of the engine.
  *
  * Models the reference's two data shapes (see SURVEY.md §1):
  *  - the HBase mutation delivered to the coprocessor hooks
  *    (`postPut`/`postDelete`,
  *    reference `observer6/HbaseDataSyncEsObserver.java:83,126`): a rowkey
  *    plus cells `(family, qualifier, value)` — all strings on our wire,
  *    matching the reference's `Bytes.toString` decode of every cell
  *    (`observer6/HbaseDataSyncEsObserver.java:98-99`);
  *  - the materialized Elasticsearch document `{_id, info: {qual: val}}`
  *    (`observer6/HbaseDataSyncEsObserver.java:104,109`).
  *
  * The reference drops cell timestamps entirely
  * (`observer6/HbaseDataSyncEsObserver.java:96-102` never reads them); we
  * carry a commit timestamp `ts` plus a `seq` tiebreak so the merge fold is
  * deterministic last-write-wins — identical to reference behavior when
  * mutations arrive in commit order.
  */
case class Cell(family: String, qualifier: String, value: String)

/** One change-capture record. `op` is 'U' (put/upsert) or 'D' (whole-doc
  * delete — the reference turns ANY HBase Delete into a whole-doc delete,
  * `observer6/HbaseDataSyncEsObserver.java:127-129`). `cells` is empty for
  * deletes. */
case class Mutation(
    row_key: String,
    op: String,
    ts: java.sql.Timestamp,
    seq: Long,
    cells: Seq[Cell])

object Model {
  val cellType: StructType = StructType(Seq(
    StructField("family", StringType),
    StructField("qualifier", StringType),
    StructField("value", StringType)))

  val mutationSchema: StructType = StructType(Seq(
    StructField("row_key", StringType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("cells", ArrayType(cellType), nullable = true)))

  val indexSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("info", MapType(StringType, StringType), nullable = true)))
}
