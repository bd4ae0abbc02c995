package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-mutation transforms (SURVEY.md A3–A6): rowkey extraction, cell
  * decode, family-flatten, struct-wrap. All narrow (no shuffle) — they run
  * inside whole-stage codegen on the scan partitioning, which is what keeps
  * the ingest path linear at 100 TB.
  */
object Transform {

  /** A5: flatten one mutation's cells to `map<qualifier,value>` with the
    * reference's exact semantics (`observer6/HbaseDataSyncEsObserver.java:93-104`):
    *  - family names erased (loop never reads the family key);
    *  - duplicate qualifiers collapse last-wins (`HashMap.put` overwrite),
    *    in cell-array order.
    *
    * Batched kernel (one JVM call per row, no shuffle). The equivalent
    * higher-order-function formulation is the spec's reference twin
    * (`HofTwins.flattenCellsHof` under `src/test`) — HOFs evaluate
    * interpreted, which made this the ingest hot spot.
    */
  def flattenCells(cells: Column): Column =
    graft.functions.TextKernels.cellsToMap(cells)

  /** A6: nest the flattened map under the constant `info` field
    * (`infoJson.put("info", json)`, `observer6/HbaseDataSyncEsObserver.java:104`). */
  def wrapInfo(m: Column): Column = struct(m.as("info"))

  /** A3–A6 composed: change-log → per-mutation doc view
    * `(row_key, op, ts, seq, doc: struct<info: map<string,string>>)`. */
  def toDocs(changes: DataFrame): DataFrame =
    changes.select(
      col("row_key"), col("op"), col("ts"), col("seq"),
      wrapInfo(flattenCells(col("cells"))).as("doc"))
}
