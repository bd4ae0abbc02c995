package graft.ext

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** FastText-style text classifier training, distributed — the "quality /
  * language classifier" step LLM data pipelines train to filter a crawl
  * (GPT-3's LR quality filter, CCNet's fastText lang-ID): hashed
  * bag-of-words presence features + binary logistic regression by
  * full-batch gradient descent.
  *
  * Features are CENTERED (x_j = presence_j − μ_j): raw presence features
  * are ill-conditioned — every bucket correlates positively with any
  * prevalence-linked label, so plain GD oscillates between all-positive
  * and all-negative weight mass. Centering keeps the problem conditioned
  * AND stays sparse: z = Σ_present w_j − Σ_j μ_j w_j (the second term is
  * one per-iteration scalar), and the gradient is the sparse per-bucket
  * error sum minus μ_j·mean(err) — no dense doc×dim frame ever exists.
  *
  * Scale shape: features are ONE corpus pass (tokenize → hash → distinct),
  * persisted; each GD iteration is two hash aggregations over the sparse
  * feature table with the `dim`-sized weight vector broadcast as a
  * literal array — the k-means (c32) loop structure, with the same
  * determinism protocol: per-doc dots, probabilities, and all gradient
  * aggregates round to 6 dp, so Spark and the DuckDB oracle re-sync to
  * bit-identical state each iteration. Only `dim`-sized vectors are ever
  * collected.
  */
object Classifier {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Train binary logistic regression over centered hashed-presence
    * features. Returns one row per hash bucket 0..dim−1 — (`feature`,
    * `weight`, `mu`) — plus the intercept at feature −1 (mu 0). `mu` is
    * part of the model: scoring needs the same centering. Keep `lr`
    * exactly representable (8.0, 0.5) so update arithmetic stays
    * cross-engine exact. */
  def trainLogReg(docs: DataFrame, id: Column, text: Column, label: Column,
                  dim: Int = 64, iters: Int = 5, lr: Double = 8.0): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    trainLogRegRows(docs, id, text, label, dim, iters, lr)
      .toDF("feature", "weight", "mu").orderBy("feature")
  }

  /** [[trainLogReg]]'s driver-side artifact form: the (feature, weight,
    * mu) rows with the intercept at feature −1. One Spark job per GD
    * iteration: the bias gradient rides the feature-gradient aggregation
    * as a synthetic `fidx = −1` row (same `round(sum(err)/n, 6)`
    * arithmetic, so results are bit-identical to the two-job form), and
    * the persisted feature frame is pre-partitioned by `doc_id` so the
    * per-doc dot-product agg and the error join both reuse that
    * partitioning — no per-iteration re-shuffle of the corpus. */
  def trainLogRegRows(docs: DataFrame, id: Column, text: Column, label: Column,
                      dim: Int = 64, iters: Int = 5,
                      lr: Double = 8.0): Seq[(Long, Double, Double)] = {
    val feat = docs.select(id.as("doc_id"), label.cast("double").as("y"),
        explode(TextAnalysis.tokens(text)).as("tok"))
      .withColumn("fidx", pmod(Hashing.md5Long60(col("tok")), lit(dim.toLong)))
      .select("doc_id", "y", "fidx").distinct()
      .repartition(col("doc_id")) // iterations group/join on doc_id shuffle-free
      .persist()
    graft.CachedFrames.scratch(feat)
    val nDocs = feat.select("doc_id").distinct().count().toDouble
    val mu = Array.fill(dim)(0.0)
    feat.groupBy("fidx").agg(round(count(lit(1)) / lit(nDocs), 6).as("m"))
      .collect().foreach(r => mu(r.getLong(0).toInt) = r.getDouble(1))
    var w = Array.fill(dim)(0.0)
    var b = 0.0
    for (_ <- 0 until iters) {
      val c = round6(w.indices.map(j => mu(j) * w(j)).sum)
      val wArr = array(w.map(lit): _*)
      val perDoc = feat.groupBy("doc_id", "y")
        .agg(round(sum(element_at(wArr, col("fidx").cast("int") + 1)), 6).as("dots"))
        .withColumn("p", round(lit(1.0) /
          (lit(1.0) + exp(-(col("dots") - lit(c) + lit(b)))), 6))
        .select(col("doc_id"), (col("p") - col("y")).as("err"))
        .persist() // read twice inside ONE job (feature grads + bias grad)
      graft.CachedFrames.scratch(perDoc)
      // one collect job yields every feature gradient AND the bias
      // gradient (unioned in as fidx −1) — identical per-key arithmetic
      // to separate jobs, half the job count
      val gradsDf = feat.join(perDoc, "doc_id")
        .groupBy("fidx")
        .agg(round(sum(col("err")) / lit(nDocs), 6).as("g"))
      val biasDf = perDoc
        .agg(round(sum(col("err")) / lit(nDocs), 6).as("g"))
        .select(lit(-1L).as("fidx"), col("g"))
      val grads = gradsDf.unionByName(biasDf)
        .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
      perDoc.unpersist()
      val serr = grads.getOrElse(-1, 0.0)
      w = Array.tabulate(dim)(j => w(j) - lr * (grads.getOrElse(j, 0.0) - mu(j) * serr))
      b = b - lr * serr
    }
    feat.unpersist()
    (-1L, b, 0.0) +: w.toSeq.zipWithIndex.map { case (wv, j) => (j.toLong, wv, mu(j)) }
  }

  /** Score documents with a trained model (weights + centering means
    * broadcast as literal arrays; one narrow pass + one dot-product agg):
    * per doc the 6-dp probability and the thresholded keep/drop decision —
    * the apply step of the quality filter. */
  def scoreLogReg(docs: DataFrame, id: Column, text: Column,
                  weights: Array[Double], mu: Array[Double], bias: Double,
                  threshold: Double = 0.5): DataFrame = {
    val dim = weights.length
    val c = round6(weights.indices.map(j => mu(j) * weights(j)).sum)
    val wArr = array(weights.map(lit): _*)
    docs.select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("tok"))
      .withColumn("fidx", pmod(Hashing.md5Long60(col("tok")), lit(dim.toLong)))
      .select("doc_id", "fidx").distinct()
      .groupBy("doc_id")
      .agg(round(sum(
        element_at(wArr, col("fidx").cast("int") + 1)), 6).as("dots"))
      .withColumn("p", round(lit(1.0) /
        (lit(1.0) + exp(-(col("dots") - lit(c) + lit(bias)))), 6))
      .withColumn("keep", col("p") >= threshold)
      .select("doc_id", "p", "keep")
  }

  /** Histogram calibration of a [0,1] score to corpus percentiles — how
    * quality thresholds are actually chosen ("keep the top 30%"): a
    * fixed-`nBins` histogram of the score, the bin-level cumulative
    * distribution, and a map back. A document's calibrated value is the
    * corpus fraction in strictly lower bins plus HALF its own bin's mass
    * (midpoint convention — monotone and deterministic under intra-bin
    * ties). The only non-narrow work is one hash agg to `nBins` rows;
    * the cumulative window runs over those bounded rows, never the
    * data, and the bin→percentile map broadcasts back. */
  def calibrateScores(scored: DataFrame, id: Column, score: Column,
                      nBins: Int): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    // ONE pass over the scored input (r18): `base` used to be recomputed
    // by the histogram, the total AND the final join — for c44 that meant
    // the regexp-heavy qualityFeatures kernel ran three times (guide §1.2
    // fewer passes). base is persisted (two narrow columns per doc) and
    // the total rides the bounded histogram (n_total = Σ c, identical).
    val base = graft.ext.Dedup.persistOnce(
      scored.select(id.as("doc_id"), round(score, 6).as("score"))
        .withColumn("bin",
          least(floor(col("score") * nBins).cast("long"), lit(nBins - 1L))))
    val hist = base.groupBy("bin").agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val total = hist.agg(sum(col("c")).cast("long").as("n_total"))
    val binMap = hist
      .withColumn("below", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("bin"),
        round((col("below") + col("c") * lit(0.5)) / col("n_total"), 6)
          .as("calibrated"))
    base.join(broadcast(binMap), Seq("bin"))
      .select("doc_id", "score", "calibrated")
  }
}
