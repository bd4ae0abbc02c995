package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C3 — similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline: a broadcast of the query
  * set against a partition-parallel scan of the corpus — no shuffle of the
  * corpus, one TakeOrdered per query via window top-k. The IVF variant is
  * the 100 TB path: assign vectors to centroid cells once (narrow after a
  * centroid broadcast), then probe only `nprobe` cells per query —
  * candidate set shrinks by ~|cells|/nprobe.
  *
  * Dot products use the higher-order `zip_with`+`aggregate` built-ins
  * (codegen'd, no UDF) in double precision.
  */
object Similarity {

  /** Codegen'd double dot product (element order — identical numerics to
    * the `zip_with`+`aggregate` HOF form and the DuckDB oracle, but a tight
    * primitive loop instead of per-element interpreted lambdas). */
  def dot(a: Column, b: Column): Column = graft.functions.VecOps.dotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force kNN: for each query row, top-k corpus rows by
    * cosine (rounded to 1e-6 before ranking so ties break deterministically
    * by neighbor id). Self-matches excluded. Norms are computed once per
    * vector, not per pair. */
  def knnBrute(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      norm(col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Hard-NEGATIVE mining for contrastive/metric training data: per
    * anchor, the top-k most-cosine-similar corpus vectors with a DIFFERENT
    * label — the near-miss negatives that actually carry gradient (random
    * negatives are trivially separable; Schroff et al. 2015's semi-hard
    * insight applied corpus-wide). Same scale shape as [[knnBrute]]:
    * anchors broadcast, the corpus never shuffles, per-anchor top-k is a
    * bounded window. The label filter runs BEFORE the dot product, so
    * same-label pairs cost nothing. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = anchors.select(col("vec_id").as("anchor_id"),
      col("label").as("anchor_label"), col("embedding").as("qe"),
      norm(col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id").as("neg_id"), col("label").as("neg_label"),
      col("embedding").as("ce"), norm(col("embedding")).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neg_label") =!= col("anchor_label"))
      .withColumn("cos", round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("anchor_id").orderBy(desc("cos"), col("neg_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("neg_id"),
        col("neg_label"), col("cos"))
  }

  /** Deterministic k-means (Lloyd) training for the IVF path — closes the
    * ANN loop so [[knnIvf]]'s centroids can be FIT, not just sampled:
    *  - init: the `k` vectors with the smallest md5(id) (hash-seeded,
    *    reproducible on any engine — no RNG state);
    *  - assign: nearest centroid by squared L2, distance rounded to 6 dp
    *    with (distance, cluster) tie order, so assignment is engine-stable;
    *  - update: per-dimension mean, ROUNDED TO 6 DP — after each update
    *    both engines hold bit-identical centroids again, so cross-engine
    *    float drift cannot compound across iterations.
    * Returns `(cluster, n_assigned, centroid)` after `iters` rounds; empty
    * clusters drop out. Scale shape: centroids live on the DRIVER between
    * rounds (k·dim doubles — the bounded coordinator step, the BPE
    * merge-table class) and ride into each round as literal vectors, so
    * one round is ONE job: a narrow codegen'd argmin pass over the corpus
    * feeding a k-row hash agg (map-side partials, k·dim shuffle bytes).
    * The r16 form kept centroids as a broadcast frame instead — each round
    * paid a broadcast-subplan job, a corpus-wide groupBy(_vid) shuffle that
    * carried the vectors, a posexplode (|corpus|·dim rows) shuffle and a
    * collect_list re-assembly: 4 exchanges per round vs 0. */
  def kmeansFit(vecs: DataFrame, idCol: Column, vecCol: Column,
                k: Int, iters: Int): DataFrame = {
    val (spark, rows) = kmeansFitLocal(vecs, idCol, vecCol, k, iters)
    import spark.implicits._
    rows.map { case (c, n, cv) => (c, n, cv.toSeq) }
      .toDF("cluster", "n_assigned", "centroid")
  }

  /** [[kmeansFit]] with the fitted model returned to the driver — the
    * bounded (k × dim) artifact consumers like [[semDedup]] inline as
    * literal vectors instead of re-joining a frame. */
  private[graft] def kmeansFitLocal(vecs: DataFrame, idCol: Column, vecCol: Column,
      k: Int, iters: Int): (SparkSession, Seq[(Int, Long, Array[Double])]) = {
    require(k >= 1 && iters >= 1, "need k >= 1 and iters >= 1")
    val spark = vecs.sparkSession
    val base = Dedup.persistOnce(
      vecs.select(idCol.as("_vid"), vecCol.cast("array<double>").as("_v")))
    val seedKey = graft.functions.Hashing.md5Long60(col("_vid").cast("string"))
    // TakeOrdered down to k rows (never a global single-partition sort of
    // the corpus); numbering happens on the driver in the same order.
    var cents: Seq[(Int, Array[Double])] = base
      .orderBy(seedKey, col("_vid")).limit(k)
      .select(col("_v")).collect().toSeq
      .map(_.getSeq[Double](0).toArray).zipWithIndex
      .map { case (v, i) => (i + 1, v) }
    // empty input: no seeds, no clusters — preserve the r16 frame-based
    // behavior (an empty result) instead of NoSuchElementException below
    if (cents.isEmpty) return (spark, Seq.empty)
    val dim = cents.head._2.length
    var out: Seq[(Int, Long, Array[Double])] = null
    for (_ <- 1 to iters) {
      // argmin over k literal centroid vectors: least((d, cluster), ...)
      // reproduces the (distance, cluster) min_by tie order exactly;
      // distances are the codegen'd SqDist kernel rounded to 6 dp (HOF-
      // and oracle-identical numerics).
      val scored = cents.map { case (c, cv) =>
        struct(round(graft.functions.VecOps.sqDistD(
          col("_v"), lit(cv)), 6).as("d"), lit(c).as("c"))
      }
      val assignC =
        (if (scored.size == 1) scored.head else least(scored: _*)).getField("c")
      // update = ONE k-row hash agg: per-dim mean (6-dp re-sync) + count
      val aggs = (0 until dim).map(j =>
        round(avg(elD(col("_v"), j)), 6).as(s"m$j")) :+ count(lit(1)).as("_n")
      val upd = base.select(assignC.as("cluster"), col("_v"))
        .groupBy("cluster").agg(aggs.head, aggs.tail: _*)
        .collect()
      out = upd.map(r => (r.getInt(0), r.getLong(dim + 1),
        (0 until dim).map(j => r.getDouble(j + 1)).toArray)).toSeq
        .sortBy(_._1)
      cents = out.map { case (c, _, cv) => (c, cv) }
    }
    (spark, out)
  }

  /** Top principal component by matrix-free POWER ITERATION — the
    * embedding-whitening/dim-reduction prep step: v ← normalize(Xᵀ X v)
    * without ever materializing the covariance matrix. Each round is one
    * narrow pass (s = x·v per row against a broadcast 1-row v) + one
    * (dim) hash agg (aₔ = Σ s·xₔ), then a normalize over `dim` rows; the
    * component is ROUNDED TO 6 DP per round, so both engines re-sync to
    * bit-identical vectors across iterations (the [[kmeansFit]] trick).
    * Deterministic init: the normalized all-ones vector. Returns
    * `(dim, component)` rows (dim 0-based). */
  def topPrincipalComponent(vecs: DataFrame, vecCol: Column, iters: Int = 3): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    val base = Dedup.persistOnce(vecs.select(vecCol.cast("array<double>").as("_v")))
    val spark = base.sparkSession
    val d = base.select(size(col("_v"))).head().getInt(0) // bounded scalar
    import spark.implicits._
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // v lives on the driver between rounds (dim doubles — the bounded
    // coordinator artifact, same class as the k-means centroids). One
    // round = ONE job: s = x·v via the codegen'd dot kernel against the
    // literal v, then a single hash-free global agg of the dim sums
    // Σ s·xₔ — no posexplode (the r16 form shuffled |corpus|·dim rows
    // through a groupBy(dim) plus a collect_list re-assembly per round,
    // behind a broadcast-subplan job for v: 3 exchanges per round vs 0).
    var v: Array[Double] = Array.fill(d)(round6(1.0 / math.sqrt(d.toDouble)))
    for (_ <- 1 to iters) {
      val aggs = (0 until d).map(j => sum(elD(col("_v"), j) * col("_s")).as(s"a$j"))
      val r = base
        .select(col("_v"), graft.functions.VecOps.dotD(col("_v"), lit(v)).as("_s"))
        .agg(aggs.head, aggs.tail: _*).collect()(0)
      val a = (0 until d).map(j => r.getDouble(j)).toArray
      val n = math.sqrt(a.map(x => x * x).sum)
      v = a.map(x => round6(x / n))
    }
    v.toSeq.zipWithIndex.map { case (c, j) => (j, c) }.toDF("dim", "component")
  }

  /** IVF-style ANN: centroids = a deterministic sample of the corpus
    * (callers pass the predicate), each corpus vector assigned to its
    * nearest centroid cell, queries probe the `nprobe` nearest cells. */
  def knnIvf(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
             nprobe: Int, k: Int): DataFrame = {
    val cent = broadcast(centroids.select(col("vec_id").as("cell"), col("embedding").as("cem")))

    def scoredCells(df: DataFrame, idOut: String) =
      df.select(col("vec_id").as(idOut), col("embedding").as("e"))
        .crossJoin(cent)
        .withColumn("ccos", round(cosine(col("e"), col("cem")), 6))

    // corpus assignment is an ARGMAX, not a top-k: max_by with map-side
    // partial aggregation shuffles one row per vector, not |corpus|×|cells|
    // rows through a window sort — and aggregates only the cell id (the
    // embedding would bloat every partial buffer; re-join it afterwards).
    // Tiebreak (max ccos, then min cell) matches the row_number()
    // (ccos DESC, cell ASC) formulation exactly.
    val assignedIds = scoredCells(corpus, "neighbor_id")
      .groupBy("neighbor_id")
      .agg(max_by(col("cell"), struct(col("ccos"), -col("cell"))).as("cell"))
    val assigned = assignedIds
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn")), "neighbor_id")

    // queries are few — the nprobe top-k window is cheap there
    val w0 = Window.partitionBy("query_id").orderBy(desc("ccos"), col("cell"))
    val probes = scoredCells(queries, "query_id")
      .withColumn("crank", row_number().over(w0)).filter(col("crank") <= nprobe)
      .select(col("query_id"), col("cell"), col("e").as("qe"), norm(col("e")).as("qn"))

    val scored = probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** C6: symmetric int8 quantization of an embedding column — the standard
    * 4× storage cut for a 100 TB vector corpus. One kernel pass per vector
    * returning struct(scale, q, q_sum, q_min, q_max)
    * ([[graft.functions.VecOps.QuantizeInt8]]). */
  def quantizeInt8(e: Column): Column = graft.functions.VecOps.quantizeInt8(e)

  /** C1d at scale: embedding-cosine near-dup via sign-random-projection
    * LSH — NO all-pairs product anywhere in the plan. Each vector gets
    * nBits/bandBits band values from md5-derived ±1 hyperplanes
    * ([[graft.functions.VecOps.signPlanes]]); candidate pairs share at
    * least one band value; candidates alone are exact-cosine verified.
    * Everything is deterministic, so an oracle recomputing the same planes
    * reproduces the output bit-for-bit.
    *
    * Scale shape: band explode is narrow; the candidate self-join shuffles
    * on (band_idx, band_val) with bucket sizes set by band selectivity
    * (2^-bandBits for unrelated pairs); verify joins are id-keyed. Recall
    * is the standard LSH curve 1-(1-p^r)^b with p = 1-θ/π — tune bandBits
    * UP for high thresholds (0.8+, near-dup regime: strong pruning AND
    * recall) and accept the tradeoff at low thresholds, where no
    * sub-quadratic exact method exists for dense vectors. A hot band value
    * (skewed bucket) is capped by AQE skew-split at scale.
    *
    * Reference analog: none — the reference delegates search to ES and has
    * no vector surface; this is the BASELINE.json LLM-pipeline component. */
  def embeddingNearDupsBanded(corpus: DataFrame, threshold: Double,
                              nBits: Int = 60, bandBits: Int = 5,
                              dim: Int = 64, hotBandCap: Int = 256): DataFrame = {
    val nBands = nBits / bandBits
    // Collapse IDENTICAL sign signatures first (a round-17 10× probe find: a
    // dup-heavy corpus — every doc replicated m ways — multiplied each
    // band bucket by m and the self-join by m², 84× wall at 10× data).
    // Band-sharing is a property of the SIGNATURE, so the pairwise stage
    // runs over distinct signatures (the [[Dedup.hammingClusters64]]
    // distinct-hash idea): duplicate groups cost one node each, and the
    // m² expansion happens only on verified-candidate groups.
    // Adaptive (the ngramJaccardCapped discipline): ONE scalar agg — the
    // largest vec-level band bucket — routes the plan. Under the cap the
    // per-bucket self-join work is bounded by cap², so the direct
    // pre-guard plan runs untouched (the guard must not tax the common
    // case; the bench row is the regression tripwire). Past the cap —
    // duplicate groups inflating every bucket m-fold, or a clustered
    // corpus concentrating band values — the grouped plan takes over;
    // only that rare branch pays for the signature table.
    // not persisted: the band kernel over a scan is cheaper to recompute
    // in each consumer than a cache round-trip (measured on the bench row)
    val vBandRows = corpus.select(col("vec_id"),
      posexplode(graft.functions.VecOps.signBands(col("embedding"), nBits, bandBits, dim))
        .as(Seq("band_idx", "band_val")))
    val maxBdf = vBandRows.groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("_bdf")).agg(max(col("_bdf"))).collect()(0).getLong(0)
    if (maxBdf <= hotBandCap) {
      val cand = vBandRows.alias("x").join(vBandRows.alias("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_val") === col("y.band_val") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
        .distinct()
      return verifyCosine(corpus, cand, threshold)
    }
    val sigs = corpus.select(col("vec_id"),
      graft.functions.VecOps.signBands(col("embedding"), nBits, bandBits, dim).as("_bands"))
    val bySig = Dedup.persistOnce(sigs.groupBy("_bands")
      .agg(collect_list(col("vec_id")).as("_ids"), min(col("vec_id")).as("_sid")))
    val bandRows = bySig.select(col("_sid"), col("_bands"),
      posexplode(col("_bands")).as(Seq("band_idx", "band_val")))
    // Hot-band guard (same df-cap discipline as [[Dedup.containmentPairs]]
    // / hammingPairsBanded): a band value shared by > hotBandCap DISTINCT
    // signatures would go quadratic; refine those buckets with the NEXT
    // band's value as a composite key. Deterministic and subset-safe: a
    // pair can only be dropped if EVERY band it shares is hot AND it
    // differs on each such band's successor — identical signatures are
    // never affected (they pair intra-group below). The cap never engages
    // at oracle SF (buckets are far below it); it bounds the 100 TB case.
    val bdf = bandRows.groupBy("band_idx", "band_val").agg(count(lit(1)).as("_bdf"))
    val withDf = bandRows.join(bdf, Seq("band_idx", "band_val"))
    val rare = withDf.filter(col("_bdf") <= hotBandCap)
    val hot = withDf.filter(col("_bdf") > hotBandCap)
      .withColumn("band_val2",
        element_at(col("_bands"), pmod(col("band_idx") + 1, lit(nBands)) + 1))
    def selfJoin(b: DataFrame, keys: Seq[String]) =
      b.as("x").join(b.as("y"),
          keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
            col("x._sid") < col("y._sid"))
        .select(col("x._sid").as("sa"), col("y._sid").as("sb"))
    val sigPairs = selfJoin(rare, Seq("band_idx", "band_val"))
      .union(selfJoin(hot, Seq("band_idx", "band_val", "band_val2")))
      .distinct()
    val idsOf = bySig.select(col("_sid"), col("_ids"))
    val cross = sigPairs
      .join(idsOf.select(col("_sid").as("sa"), col("_ids").as("_ia")), "sa")
      .join(idsOf.select(col("_sid").as("sb"), col("_ids").as("_ib")), "sb")
      .select(explode(col("_ia")).as("da"), col("_ib"))
      .select(col("da"), explode(col("_ib")).as("db"))
      .select(least(col("da"), col("db")).as("vec_a"),
        greatest(col("da"), col("db")).as("vec_b"))
    val intra = bySig.filter(size(col("_ids")) > 1)
      .select(explode(expr(
        """flatten(transform(_ids, (a, i) ->
          |  transform(slice(_ids, i + 2, size(_ids)), b ->
          |    struct(least(a, b) AS vec_a, greatest(a, b) AS vec_b))))""".stripMargin)).as("p"))
      .select(col("p.vec_a"), col("p.vec_b"))
    verifyCosine(corpus, cross.union(intra).distinct(), threshold)
  }

  /** Exact-cosine verification of a candidate pair table against the
    * corpus — the shared tail of both banded plans. */
  private def verifyCosine(corpus: DataFrame, cand: DataFrame,
                           threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      norm(col("embedding")).as("na"))
    val b = corpus.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      norm(col("embedding")).as("nb"))
    cand.join(a, "vec_a").join(b, "vec_b")
      .withColumn("cos", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** C1d: embedding-cosine near-duplicate pairs (brute pairwise with the
    * id-ordered triangle — the exact ground truth / oracle twin;
    * [[embeddingNearDupsBanded]] is the production path). */
  /** SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic dedup with
    * the quadratic pairwise term bounded by CLUSTERING — exact cosine
    * comparisons run only within a k-means cluster (the paper's trick: k
    * scales the pairwise work down by ~k, so the job stays feasible at
    * corpus scale where all-pairs is not). Pipeline, all deterministic so
    * the oracle replays it end-to-end: [[kmeansFit]] centroids (broadcast)
    * → nearest-centroid assignment with the same 6-dp-rounded distance +
    * cluster tiebreak as the fit → within-cluster self-join on
    * cos ≥ threshold (shuffle keyed by cluster, pairs bounded per
    * cluster) → [[graft.ext.Dedup.connectedComponents]] closes duplicate
    * groups under transitivity → the min-id member of each group is kept.
    * Returns the KEPT (vec_id, cluster) rows. */
  def semDedup(vecs: DataFrame, k: Int, iters: Int, threshold: Double): DataFrame = {
    val cents = kmeansFitLocal(vecs.select(col("vec_id"), col("embedding")),
      col("vec_id"), col("embedding"), k, iters)._2
    semDedupWithCentroids(vecs, cents.map { case (c, _, cv) => (c, cv) }, threshold)
  }

  /** [[semDedup]] with an already-fitted centroid model (the bounded
    * k × dim driver artifact) — callers that hold a memoized fit for the
    * SAME (corpus, k, iters), e.g. the shared c32/c90 fixture, skip the
    * Lloyd rounds entirely and pay only the narrow assignment plus the
    * within-cluster edge join. Numerically identical to fitting inline:
    * the assignment inlines the same 6-dp-rounded centroid literals. */
  def semDedupWithCentroids(vecs: DataFrame, cents: Seq[(Int, Array[Double])],
                            threshold: Double): DataFrame = {
    if (cents.isEmpty) // empty corpus → empty fit → nothing to keep
      return vecs.sparkSession.emptyDataFrame
        .withColumn("vec_id", lit(0L)).withColumn("cluster", lit(0))
        .limit(0)
    val base = Dedup.persistOnce(vecs.select(col("vec_id"), col("embedding"),
      col("embedding").cast("array<double>").as("_v")))
    // fitted centroids are a bounded driver artifact (k × dim doubles);
    // assignment is then a NARROW codegen'd argmin over literal vectors —
    // no crossJoin, no corpus-wide groupBy(vec_id) shuffle (the r16 form
    // shuffled every embedding k-fold through a min_by agg).
    val scored = cents.map { case (c, cv) =>
      struct(round(graft.functions.VecOps.sqDistD(
        col("_v"), lit(cv)), 6).as("d"), lit(c).as("c"))
    }
    val assignC =
      (if (scored.size == 1) scored.head else least(scored: _*)).getField("c")
    val assigned = Dedup.persistOnce(base
      .select(col("vec_id"), col("embedding"), assignC.as("cluster")))
    val a = assigned.select(col("cluster"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), norm(col("embedding")).as("na"))
    val b = assigned.select(col("cluster"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), norm(col("embedding")).as("nb"))
    val edges = a.join(b, "cluster").filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"))
    val dups = Dedup.connectedComponents(edges, "vec_a", "vec_b")
      .filter(col("id") =!= col("cluster")).select(col("id").as("_dup"))
    assigned.join(dups, col("vec_id") === col("_dup"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  def embeddingNearDups(corpus: DataFrame, threshold: Double): DataFrame = {
    // fan the streamed side across cores: the O(n²) pair loop below is the
    // whole cost of this (deliberately exact, ground-truth) operator, and a
    // single-split input serializes it on one core (guide §2.5); the
    // repartition is one linear corpus pass. Hash on the unique id —
    // deterministic under retries.
    val fanned = Dedup.fan(corpus, col("vec_id"))
    val a = fanned.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      norm(col("embedding")).as("na"))
    val b = corpus.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      norm(col("embedding")).as("nb"))
    // SIZE-GATED broadcast (guide §3.1): the build side here is the WHOLE
    // corpus (the operator is the deliberately-exact O(n²) ground truth),
    // and an unconditional broadcast hint turns "slow at scale" into a
    // driver/executor OOM cliff (8 GB broadcast hard cap). Broadcast only
    // when the plan-estimated side fits comfortably; otherwise leave the
    // partitioned cartesian join, which degrades gracefully.
    val bcCap = 256L << 20
    val estBytes = b.queryExecution.optimizedPlan.stats.sizeInBytes
    val pairs = if (estBytes <= bcCap) a.crossJoin(broadcast(b)) else a.crossJoin(b)
    pairs.filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Farthest-point (greedy k-center) sampling — diverse coreset
    * selection over embeddings, [[semDedup]]'s complement (keep the
    * SPREAD rather than prune the dense). Deterministic: seed = min id;
    * each round picks the argmax of min cosine distance to the chosen
    * set, ties to the smaller id. `k` driver rounds; each is one narrow
    * pass against the BROADCAST chosen set (≤ k×dim doubles) + one
    * TakeOrdered(1) — the corpus never shuffles and nothing bigger than
    * one row is ever collected per round. Cosines round to 6 dp (the
    * [[kmeansFit]] cross-engine re-sync protocol). Returns
    * (round, vec_id, dist): the selection order and each pick's
    * min-distance at selection time (the k-center radius trace; 0 for
    * the seed). */
  def farthestPointSample(vecs: DataFrame, idCol: Column, vecCol: Column,
                          k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    val sp = vecs.sparkSession
    import sp.implicits._
    val base = Dedup.persistOnce(
      vecs.select(idCol.as("_vid"), vecCol.cast("array<double>").as("_v")))
    val seed = base.orderBy("_vid").limit(1).collect().head
    var chosen = Vector((seed.getLong(0), seed.getSeq[Double](1), 0.0))
    def dotAgg(a: Column, b: Column): Column = graft.functions.VecOps.dotD(a, b)
    // per-center cosine as a flat expression list (k of them, k small) —
    // the whole round is narrow scan + TakeOrdered(1), zero shuffles
    def distTo(cv: Column): Column = lit(1.0) - round(
      dotAgg(col("_v"), cv) /
        (sqrt(dotAgg(col("_v"), col("_v"))) * sqrt(dotAgg(cv, cv))), 6)
    for (_ <- 1 until k) {
      val ds = chosen.map(c => distTo(array(c._2.map(lit): _*)))
      val dmin = if (ds.size == 1) ds.head else least(ds: _*)
      val next = base.withColumn("dmin", dmin)
        .orderBy(desc("dmin"), col("_vid")).limit(1)
        .collect().head
      chosen :+= ((next.getLong(0), next.getSeq[Double](1), next.getDouble(2)))
    }
    base.unpersist()
    chosen.zipWithIndex
      .map { case ((vid, _, d), i) => (i.toLong, vid, d) }
      .toDF("round", "vec_id", "dist")
  }

  // ---- product quantization (PQ) --------------------------------------
  // The memory-bound ANN scale path: store m small codes per vector
  // instead of the vector (d·4 bytes → m bytes), search via per-query
  // distance lookup tables (ADC, Jégou et al. 2011). Composes with
  // [[knnIvf]] as IVF-PQ: coarse cells prune, codes rank.

  /** Deterministic seeded codebook: the `k` smallest-id vectors'
    * subvectors, one codebook per subspace. The production trainer is
    * [[kmeansFit]] run per subspace (same 6-dp re-sync protocol); this
    * seeded form keeps the oracle replayable without m unrolled Lloyd CTE
    * chains. Driver-side size: m × k × (d/m) doubles = k·d — one
    * codebook row set, broadcast as literals. */
  def pqCodebookFromIds(vecs: DataFrame, idCol: Column, vecCol: Column,
                        m: Int, k: Int): Seq[Seq[Seq[Double]]] = {
    val rows = vecs.select(idCol.as("_vid"), vecCol.cast("array<double>").as("_v"))
      .orderBy("_vid").limit(k).collect()
    require(rows.nonEmpty, "empty codebook sample")
    val d = rows.head.getSeq[Double](1).size
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    (0 until m).map(s => rows.toSeq.map(_.getSeq[Double](1).slice(s * sub, (s + 1) * sub)))
  }

  /** PQ encode: per subspace, the index of the nearest codebook centroid
    * by squared L2 (6-dp rounded, ties to the smaller code — the
    * engine-stable argmin). Entirely narrow: m·k codegen'd distance
    * expressions per row against literal centroids; emits
    * (vec_id, codes array<int>) — the 8-byte-per-vector index that
    * replaces the raw embedding at serving time. */
  /** 6-dp squared L2 from an array column to a literal centroid via the
    * ‖x‖² − 2x·c + ‖c‖² expansion: the dots are the codegen'd
    * [[graft.functions.VecOps.dotD]] kernel (a zip_with/aggregate fold
    * is interpreted — the known 10–25× HOF tax), ‖c‖² is the identical
    * ascending fold run driver-side, and the oracle mirrors the same
    * three-list_sum expression textually. */
  private def d2ToCent(x: Column, cent: Seq[Double]): Column = {
    val cc = cent.foldLeft(0.0)((acc, c) => acc + c * c)
    round(graft.functions.VecOps.dotD(x, x) -
      lit(2.0) * graft.functions.VecOps.dotD(x, array(cent.map(lit): _*)) + lit(cc), 6)
  }

  /** argmin over literal centroids (ties to the smaller index). */
  private def nearestCent(x: Column, cents: Seq[Seq[Double]]): Column = {
    val arr = array(cents.map(d2ToCent(x, _)): _*)
    (array_position(arr, array_min(arr)) - 1).cast("int")
  }

  private def pqCodes(v: Column, codebook: Seq[Seq[Seq[Double]]]): Column = {
    val sub = codebook.head.head.size
    array(codebook.indices.map(s => nearestCent(slice(v, s * sub + 1, sub), codebook(s))): _*)
  }

  def pqEncode(vecs: DataFrame, idCol: Column, vecCol: Column,
               codebook: Seq[Seq[Seq[Double]]]): DataFrame =
    vecs.select(idCol.as("vec_id"), pqCodes(vecCol.cast("array<double>"), codebook).as("codes"))

  /** ADC (asymmetric distance computation) top-k over PQ codes: the
    * query's distance to every codebook centroid is a driver-side
    * m×k lookup table (same ascending fold + 6-dp round as the encode
    * side); each code row scores as the sum of its m table entries —
    * a narrow element_at chain into literal arrays, no vector math per
    * row — then one TakeOrdered(k). This is why PQ serves at 100 TB:
    * the scan touches codes (bytes), not embeddings (KBs). */
  def pqAdcSearch(codes: DataFrame, codebook: Seq[Seq[Seq[Double]]],
                  query: Seq[Double], topK: Int): DataFrame = {
    val m = codebook.size
    val sub = codebook.head.head.size
    val lut: Seq[Seq[Double]] = (0 until m).map { s =>
      val q = query.slice(s * sub, (s + 1) * sub)
      val qq = q.foldLeft(0.0)((acc, x) => acc + x * x)
      codebook(s).map { cent =>
        // same ‖q‖² − 2q·c + ‖c‖² expansion and fold order as the encode
        // side and the oracle
        val qc = q.indices.foldLeft(0.0)((acc, i) => acc + q(i) * cent(i))
        val cc = cent.foldLeft(0.0)((acc, x) => acc + x * x)
        BigDecimal(qq - 2.0 * qc + cc)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val adist = (0 until m).map { s =>
      element_at(array(lut(s).map(lit): _*), element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    codes.select(col("vec_id"), round(adist, 6).as("adist"))
      .orderBy(col("adist"), col("vec_id")).limit(topK)
  }

  /** IVF-PQ: coarse cells prune, PQ codes rank — the composed serving
    * index for a 100 TB vector corpus. Vectors are assigned once to the
    * nearest coarse centroid (at scale: [[kmeansFit]] output; a seeded
    * centroid set keeps the oracle replayable) and PQ-encoded once; a
    * query probes its `nprobe` nearest cells (driver-side argmin over the
    * broadcast-size centroid list) and ADC-ranks ONLY those cells'
    * members. The probed scan touches codes (bytes/vector), the cell
    * filter prunes ~(1 − nprobe/#cells) of the corpus before any
    * distance work, and at scale `cell` is the partition key so a probe
    * is a partition-pruned read. */
  def ivfPqSearch(vecs: DataFrame, idCol: Column, vecCol: Column,
                  coarse: Seq[Seq[Double]], codebook: Seq[Seq[Seq[Double]]],
                  query: Seq[Double], nprobe: Int, topK: Int): DataFrame = {
    val v = vecCol.cast("array<double>")
    val enc = vecs.select(idCol.as("vec_id"), nearestCent(v, coarse).as("cell"),
      pqCodes(v, codebook).as("codes"))
    // query-side probe list: same 6-dp expanded distance + smaller-id
    // tiebreak
    val qq = query.foldLeft(0.0)((a, x) => a + x * x)
    val qCells = coarse.zipWithIndex.map { case (c, j) =>
      val qc = query.indices.foldLeft(0.0)((a, i) => a + query(i) * c(i))
      val cc = c.foldLeft(0.0)((a, x) => a + x * x)
      (BigDecimal(qq - 2.0 * qc + cc)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, j)
    }.sortBy(identity).take(nprobe).map(_._2)
    pqAdcSearch(enc.filter(col("cell").isin(qCells: _*)).select("vec_id", "codes"),
      codebook, query, topK)
  }

  /** Batched IVF-PQ serving: the corpus is cell-assigned and PQ-encoded
    * ONCE (persisted — the stored serving index), then every query probes
    * and ADC-ranks against those codes. [[ivfPqSearch]] re-encodes per
    * call, which is fine for one ad-hoc lookup but 3× the cost for 3
    * queries; at serving scale the encode amortizes to zero here. Returns
    * `(query_id, vec_id, adist)` — top-`topK` rows per query. */
  def ivfPqSearchMany(vecs: DataFrame, idCol: Column, vecCol: Column,
                      coarse: Seq[Seq[Double]], codebook: Seq[Seq[Seq[Double]]],
                      queries: Seq[(Long, Seq[Double])], nprobe: Int, topK: Int): DataFrame = {
    val v = vecCol.cast("array<double>")
    val enc = Dedup.persistOnce(vecs.select(idCol.as("vec_id"),
      nearestCent(v, coarse).as("cell"), pqCodes(v, codebook).as("codes")))
    queries.map { case (qid, query) =>
      val qq = query.foldLeft(0.0)((a, x) => a + x * x)
      val qCells = coarse.zipWithIndex.map { case (c, j) =>
        val qc = query.indices.foldLeft(0.0)((a, i) => a + query(i) * c(i))
        val cc = c.foldLeft(0.0)((a, x) => a + x * x)
        (BigDecimal(qq - 2.0 * qc + cc)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, j)
      }.sortBy(identity).take(nprobe).map(_._2)
      pqAdcSearch(enc.filter(col("cell").isin(qCells: _*)).select("vec_id", "codes"),
        codebook, query, topK)
        .select(lit(qid).as("query_id"), col("vec_id"), col("adist"))
    }.reduce(_ unionAll _)
  }

  /** Two-stage IVF-PQ serving with EXACT re-ranking — the standard ANN
    * serving shape: the ADC stage over-fetches `rerankFactor × topK`
    * candidates (cheap — code bytes only), then ONLY those candidates'
    * full vectors are fetched and exactly re-scored (‖v‖² − 2 q·v, the
    * same ascending-dim fold as the ground-truth side, so re-ranked
    * distances are bit-comparable to exact search). Per-query work stays
    * bounded: the candidate set is a broadcast-size list, the exact pass
    * touches rerankFactor·topK vectors, never the corpus. Fixes the
    * quantization-order errors ADC alone cannot (a PQ cell's reproduction
    * value can invert two near-tied neighbors); with re-ranking, recall
    * against exact top-K is limited only by candidate coverage
    * (nprobe + over-fetch), not code resolution. */
  def ivfPqSearchManyRerank(vecs: DataFrame, idCol: Column, vecCol: Column,
                            coarse: Seq[Seq[Double]], codebook: Seq[Seq[Seq[Double]]],
                            queries: Seq[(Long, Seq[Double])], nprobe: Int,
                            topK: Int, rerankFactor: Int = 4): DataFrame = {
    val v = vecCol.cast("array<double>")
    val base = Dedup.persistOnce(vecs.select(idCol.as("vec_id"), v.as("_v")))
    val enc = Dedup.persistOnce(base.select(col("vec_id"),
      nearestCent(col("_v"), coarse).as("cell"), pqCodes(col("_v"), codebook).as("codes")))
    queries.map { case (qid, query) =>
      val qq = query.foldLeft(0.0)((a, x) => a + x * x)
      val qCells = coarse.zipWithIndex.map { case (c, j) =>
        val qc = query.indices.foldLeft(0.0)((a, i) => a + query(i) * c(i))
        val cc = c.foldLeft(0.0)((a, x) => a + x * x)
        (BigDecimal(qq - 2.0 * qc + cc)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, j)
      }.sortBy(identity).take(nprobe).map(_._2)
      val cands = pqAdcSearch(
        enc.filter(col("cell").isin(qCells: _*)).select("vec_id", "codes"),
        codebook, query, topK * rerankFactor)
      val qvArr = array(query.map(lit): _*)
      base.join(org.apache.spark.sql.functions.broadcast(cands), "vec_id")
        .select(lit(qid).as("query_id"), col("vec_id"),
          round(graft.functions.VecOps.dotD(col("_v"), col("_v"))
            - lit(2.0) * graft.functions.VecOps.dotD(col("_v"), qvArr), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(topK)
    }.reduce(_ unionAll _)
  }

  /** Embedding-space outlier detection: per-label centroid (6-dp
    * re-synced, the c32 determinism trick), per-vector Euclidean distance
    * to its centroid (ascending-dim HOF fold — deterministic order), then
    * the per-label z-score of that distance. |z| > `zThreshold` flags the
    * mislabeled/degenerate embeddings a pipeline quarantines before
    * ANN-index builds.
    *
    * Scale shape: centroids are a (label, dim) hash agg (map-side partial
    * absorbs skew) folded to #labels rows and broadcast back; the distance
    * pass is narrow; the z-stats are one more #labels-row agg, broadcast.
    * The corpus is scanned twice, shuffled never. */
  def centroidOutliers(vecs: DataFrame, idCol: Column, vecCol: Column,
                       labelCol: Column, zThreshold: Double = 2.0): DataFrame = {
    val x = Dedup.persistOnce(vecs.select(idCol.as("vec_id"),
      labelCol.as("label"), vecCol.cast("array<double>").as("_v")))
    val cent = x.select(col("label"), posexplode(col("_v")).as(Seq("_dim", "_xd")))
      .groupBy("label", "_dim").agg(round(avg("_xd"), 6).as("_c"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("_dim"), col("_c")))),
        s => s.getField("_c")).as("_cvec"))
    val dist = x.join(broadcast(cent), "label")
      .withColumn("dist", round(sqrt(
        graft.functions.VecOps.sqDistD(col("_v"), col("_cvec"))), 6))
    val stats = dist.groupBy("label")
      .agg(avg("dist").as("_mu"), stddev_samp("dist").as("_sd"))
    dist.join(broadcast(stats), "label")
      // single-member labels (sd null) and zero-variance clusters (sd 0)
      // have no spread to score against: z defined as 0, never an outlier
      .withColumn("z", when(col("_sd").isNull || col("_sd") === 0, lit(0.0))
        .otherwise(round((col("dist") - col("_mu")) / col("_sd"), 6)))
      .select(col("vec_id"), col("label"), col("dist"), col("z"),
        (abs(col("z")) > zThreshold).as("is_outlier"))
  }

  /** Simplified (centroid-based) silhouette over a fitted clustering —
    * the clustering-quality gate run after [[kmeansFit]] before trusting
    * an IVF/SemDeDup partition: per vector, a = distance to the nearest
    * centroid (its cluster), b = the runner-up distance, s = (b−a)/max(a,b)
    * ∈ [0,1] here (a ≤ b by construction); s near 0 = the vector sits on a
    * cluster boundary. Per-cluster mean + size. Scale shape: centroids
    * broadcast (k rows), the vecs×k distance frame ranks inside a window
    * partitioned by vec_id (≤ k rows per partition — bounded), one final
    * cluster agg. Distances round at 6 dp (the engine-resync convention),
    * same association as [[kmeansFit]]'s assignment distance. */
  def silhouette(vecs: DataFrame, idCol: Column, vecCol: Column,
                 centroids: DataFrame): DataFrame = {
    val base = vecs.select(idCol.as("vec_id"), vecCol.cast("array<double>").as("_v"))
    val cents = centroids.select(col("cluster"), col("centroid").as("_c"))
    val d = round(sqrt(round(
      graft.functions.VecOps.sqDistD(col("_v"), col("_c")), 6)), 6)
    val w = Window.partitionBy("vec_id").orderBy(col("_d"), col("cluster"))
    val ranked = base.crossJoin(broadcast(cents))
      .withColumn("_d", d)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= 2)
    val ab = ranked.groupBy("vec_id")
      .agg(max(when(col("_rk") === 1, col("cluster"))).as("cluster"),
        max(when(col("_rk") === 1, col("_d"))).as("_a"),
        max(when(col("_rk") === 2, col("_d"))).as("_b"))
    ab.withColumn("_s",
        when(greatest(col("_a"), col("_b")) === 0, lit(0.0))
          .otherwise(round((col("_b") - col("_a")) / greatest(col("_a"), col("_b")), 6)))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), round(avg(col("_s")), 6).as("silhouette"))
      .orderBy("cluster")
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (outDim rows ×
    * inDim cols): entry (j,i) is the parity of md5("jl:j:i")'s first
    * byte (Achlioptas 2003's database-friendly ±1 projections — the
    * dense-Gaussian guarantees hold with sign entries). A pure function
    * of the dims, so every engine — and the DuckDB oracle, via an
    * inlined literal — derives the same matrix with no shipped state. */
  def jlSigns(inDim: Int, outDim: Int): Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(outDim, inDim) { (j, i) =>
      md.reset()
      val h = md.digest(s"jl:$j:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1 else -1
    }
  }

  /** JL random projection: inDim-float embedding → outDim-double sketch,
    * component j = Σ_i v_i·s_ji (no 1/√k scale — cosine is
    * scale-invariant, and downstream consumers here are cosine rankers).
    * Per-row O(inDim·outDim) narrow arithmetic — embarrassingly parallel,
    * no shuffle, the right 100 TB shape for shrinking embeddings before
    * ANN index build or banding. Each component rounds to 6 dp (the
    * engine-resync convention), and each row-dot folds in element order
    * (zip_with+aggregate == the oracle's list_sum association). */
  def jlProject(vecs: DataFrame, idCol: Column, vecCol: Column,
                signs: Seq[Seq[Int]]): DataFrame = {
    // x·sign_row via the codegen'd dot kernel against literal ±1 vectors —
    // the zip_with+aggregate HOF form allocated an intermediate array and
    // paid an interpreted lambda per element, per output dim, per row.
    // Numerics identical: float→double widening is exact, same products,
    // same accumulation order.
    val xd = vecCol.cast("array<double>")
    val proj = array(signs.map { row =>
      round(graft.functions.VecOps.dotD(xd, lit(row.map(_.toDouble).toArray)), 6)
    }: _*)
    vecs.select(idCol.as("vec_id"), proj.as("proj"))
  }

  private def elD(c: Column, i: Int): Column = element_at(c, i + 1).cast("double")

  /** Fit ZCA/Cholesky WHITENING on a `dim`-d vector column: one agg pass
    * for the mean + upper-triangle second moments (dim·(dim+3)/2 agg
    * columns, NO explode), then driver-side dim³ algebra (Cholesky of
    * the ridge-stabilized covariance, triangular inverse) — the bounded
    * coordinator step, the k-means-centroid class. Returns (mu, W) with
    * W·Cov·Wᵀ = I − λ·W·Wᵀ ≈ I. Whitening before cosine/ANN is the
    * standard embedding-space correction (per-dim scale + correlation
    * removed — the "whitening-k" trick from the sentence-embedding
    * literature); on a 100 TB corpus the fit pass is one scan and the
    * apply is narrow arithmetic. */
  def whitenFit(vecs: DataFrame, vecCol: Column, dim: Int,
                ridge: Double = 1e-6): (Array[Double], Array[Array[Double]]) = {
    val (mu, w, _) = whitenFitWithCov(vecs, vecCol, dim, ridge)
    (mu, w)
  }

  /** [[whitenFit]] plus the UNRIDGED empirical covariance C₀ — the same
    * one-pass sufficient statistics, exposed so [[whitenGate]] can derive
    * the whitened covariance analytically instead of re-scanning. */
  private def whitenFitWithCov(vecs: DataFrame, vecCol: Column, dim: Int,
      ridge: Double): (Array[Double], Array[Array[Double]], Array[Array[Double]]) = {
    val pairs = for { i <- 0 until dim; j <- i until dim } yield (i, j)
    val aggs = (0 until dim).map(i => avg(elD(col("_v"), i)).as(s"mu$i")) ++
      pairs.map { case (i, j) => avg(elD(col("_v"), i) * elD(col("_v"), j)).as(s"m${i}_$j") }
    val r = vecs.select(vecCol.as("_v")).agg(aggs.head, aggs.tail: _*).collect()(0)
    val mu = (0 until dim).map(i => r.getAs[Double](s"mu$i")).toArray
    val c0 = Array.ofDim[Double](dim, dim)
    pairs.foreach { case (i, j) =>
      val v = r.getAs[Double](s"m${i}_$j") - mu(i) * mu(j)
      c0(i)(j) = v; c0(j)(i) = v
    }
    val c = Array.tabulate(dim, dim)((i, j) => c0(i)(j))
    (0 until dim).foreach(i => c(i)(i) += ridge)
    val lo = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- 0 to i) {
      var s = c(i)(j)
      var k = 0
      while (k < j) { s -= lo(i)(k) * lo(j)(k); k += 1 }
      if (i == j) lo(i)(i) = math.sqrt(s) else lo(i)(j) = s / lo(j)(j)
    }
    val w = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim) {
      w(i)(i) = 1.0 / lo(i)(i)
      for (j <- 0 until i) {
        var s = 0.0
        var k = j
        while (k < i) { s -= lo(i)(k) * w(k)(j); k += 1 }
        w(i)(j) = s / lo(i)(i)
      }
    }
    (mu, w, c0)
  }

  /** Apply a [[whitenFit]] transform: y = W·(x − mu), built as literal
    * multiply-add expression trees (codegen'd, narrow, no shuffle). */
  def whitenApply(vecs: DataFrame, idCol: Column, vecCol: Column,
                  mu: Array[Double], w: Array[Array[Double]]): DataFrame = {
    val dim = mu.length
    val y = array((0 until dim).map { k =>
      (0 until dim).map(j => lit(w(k)(j)) * (elD(vecCol, j) - lit(mu(j)))).reduce(_ + _)
    }: _*)
    vecs.select(idCol.as("vec_id"), y.as("white"))
  }

  /** The whitening CORRECTNESS gate (the b12pt bounded-error pattern):
    * the empirical covariance of the whitened vectors, asserted within
    * `tol` of the identity — the oracle expects TRUE for all
    * dim·(dim+1)/2 cells.
    *
    * ONE corpus pass (r18; guide §1.2 "don't compute things twice"): the
    * whitened covariance is a pure function of the fit pass's own
    * sufficient statistics — avg over rows of yᵢyⱼ with y = W·(x−μ)
    * expands EXACTLY (real arithmetic) to (W·C₀·Wᵀ)ᵢⱼ where
    * C₀ = avg(xxᵀ) − μμᵀ is the unridged covariance the fit already
    * aggregated. The r17 form re-scanned the corpus (recomputing the
    * upstream projection) to measure avg(yᵢyⱼ) row-wise; the two differ
    * only in IEEE summation order (~1e-12 on unit-scale cells) against a
    * 1e-3 tolerance whose design margin is the 1e-6 ridge — by
    * construction W·(C₀+λI)·Wᵀ = I, so every cell's true deviation is
    * λ·(WWᵀ)ᵢⱼ. SimilaritySpec pins analytic == empirical on data. */
  def whitenGate(vecs: DataFrame, idCol: Column, vecCol: Column, dim: Int,
                 ridge: Double = 1e-6, tol: Double = 1e-3): DataFrame = {
    val spark = vecs.sparkSession
    val (_, w, c0) = whitenFitWithCov(vecs, vecCol, dim, ridge)
    val pairs = for { i <- 0 until dim; j <- i until dim } yield (i, j)
    // g = W · C₀ · Wᵀ, dim³ driver-side algebra (dim is bounded, ≤ tens)
    def cell(i: Int, j: Int): Double = {
      var s = 0.0
      var a = 0
      while (a < dim) {
        var b = 0
        var row = 0.0
        while (b < dim) { row += c0(a)(b) * w(j)(b); b += 1 }
        s += w(i)(a) * row
        a += 1
      }
      s
    }
    import spark.implicits._
    pairs.map { case (i, j) =>
      val target = if (i == j) 1.0 else 0.0
      (i, j, math.abs(cell(i, j) - target) <= tol)
    }.toSeq.toDF("i", "j", "within_band").orderBy("i", "j")
  }
}
