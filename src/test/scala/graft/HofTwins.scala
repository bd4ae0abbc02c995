package graft

import graft.ext.TextAnalysis.{langMarkers, markerScore, tokens}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Interpreted higher-order-function formulations of compiled kernels,
  * kept as the reference twins OperatorsSpec compares the kernels
  * against. Per-element lambdas evaluate interpreted — never use these in
  * a hot path. */
object HofTwins {

  /** HOF twin of [[Transform.flattenCells]]. */
  def flattenCellsHof(cells: Column): Column =
    aggregate(
      cells,
      map().cast("map<string,string>"),
      (acc, c) => map_concat(
        map_filter(acc, (k, _) => k =!= c.getField("qualifier")),
        map(c.getField("qualifier"), c.getField("value"))))

  /** HOF twin of [[graft.ext.Similarity.quantizeInt8]] (per-element
    * lambdas re-evaluate `scale` for every element). */
  def quantizeInt8Hof(e: Column): (Column, Column) = {
    val scale = aggregate(e, lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0
    val q = transform(e, x => round(x.cast("double") / scale).cast("int"))
    (scale, q)
  }

  /** The r16 when-chain formulation, twin of
    * [[graft.ext.TextAnalysis.langId]]. */
  def langIdHof(text: Column): Column = {
    val toks = tokens(text)
    val scores = langMarkers.map { case (l, ms) => l -> markerScore(toks, ms) }
    val mx = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), acc) => when(mx > 0 && s === mx, lit(l)).otherwise(acc) }
  }
  // fold-Right so earlier languages win ties: when-chains evaluate in order
}
