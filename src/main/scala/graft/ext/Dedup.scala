package graft.ext

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C1/C2 — deduplication family for a training-data pipeline:
  *  - exact (hash-group, deterministic representative);
  *  - MinHash + LSH banding (scalable near-dup candidate generation with
  *    exact Jaccard verification);
  *  - SimHash (bit-vote sketch + banded Hamming join);
  *  - exact n-gram Jaccard (the oracle-grade ground truth).
  *
  * Scale shape: shingling/signatures are NARROW (array ops inside codegen,
  * no shuffle); the only wide stages are the band self-join (shuffle on
  * band key — small, one row per (doc, band)) and the verification join on
  * candidate ids. At 100 TB none of the pairwise work is O(n²): LSH bounds
  * candidates to colliding buckets, and banding for SimHash is exact for
  * the Hamming radius by pigeonhole.
  */
object Dedup {

  /** Sentence-level shared-boilerplate signal (CCNet dedups at PARAGRAPH
    * granularity; this is the same pipeline at sentence granularity —
    * `[.!?]+` segmentation instead of fixed token windows, the natural
    * unit for cookie banners / legal footers that punctuate normally).
    * Sentences are token-normalized (lowercase `\W+` split re-joined) so
    * whitespace/punctuation variants hash together; the unit is the
    * per-doc DISTINCT sentence. Emits per doc: sentence count, how many
    * also appear in ≥ minDocs−1 other docs, and the shared fraction — the
    * scrub-or-keep signal. Scale shape: one narrow segmentation pass, one
    * 60-bit-key hash agg (df), one join back; no pairwise work (c60's
    * shape at a different granularity). */
  def sentenceShared(docs: DataFrame, idCol: Column, text: Column,
                     minDocs: Int = 2): DataFrame = {
    import graft.functions.Hashing
    val sents = persistOnce(docs.select(idCol.as("doc_id"),
        explode(filter(
          transform(split(text, "[.!?]+"),
            s => array_join(graft.ext.TextAnalysis.tokens(s), " ")),
          s => s =!= "")).as("sent"))
      .select(col("doc_id"), Hashing.md5Long60(col("sent")).as("h"))
      .distinct())
    val byH = sents.groupBy("h").agg(count(lit(1)).as("df"))
    sents.join(byH, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ratio",
        round(col("n_shared") * 1.0 / col("n_sentences"), 6))
  }

  /** Fan a frame across the session's cores by a (near-)unique key — the
    * guide §2.5 input-skew fix for kernel-heavy NARROW passes: a
    * single-split scan (the bench fixtures are one parquet row group
    * each; a gzip file or a hot table partition at 100 TB) serializes
    * the whole per-row kernel pass on one core. One linear shuffle of
    * the input buys full-width execution of everything narrow above it.
    * Hash partitioning on a deterministic key — stable under retries
    * (guide §2.5's rand() warning).
    *
    * CONDITIONAL (r18): the repartition only fires when the input's
    * estimated natural split count is BELOW the session parallelism — at
    * 100 TB a corpus scan already has thousands of splits and an
    * unconditional exchange of the text payload buys nothing there
    * (guide §2.4: remove shuffles outright). The estimate is
    * sizeInBytes / maxPartitionBytes from the optimized logical plan —
    * no physical planning, no job. Unknown/huge estimates skip the fan,
    * the conservative direction (no extra exchange). Fanning changes
    * only partitioning, never values: every fanned operator is
    * order-insensitive (oracle-verified in r17), so firing or skipping
    * cannot change results. */
  private[graft] def fan(df: DataFrame, key: Column): DataFrame = {
    val sess = df.sparkSession
    val par = sess.sparkContext.defaultParallelism
    val maxSplit = math.max(1L, sess.sessionState.conf.filesMaxPartitionBytes)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val splits = (bytes / maxSplit) + 1
    if (splits >= par) df else df.repartition(par, key)
  }

  /** Persist unless this (canonical) plan is already cached — a re-run of
    * the same query (e.g. the bench's two-pass protocol) re-uses the cache
    * instead of re-registering it and logging "Asked to cache already
    * cached data". */
  private[graft] def persistOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      graft.CachedFrames.scratch(df.persist())
    else df

  /** C1: exact dedup — one deterministic representative (min id) per key
    * group. (`dropDuplicates` keeps an arbitrary row; min-per-group is the
    * reproducible form the oracle can check.) */
  def exact(df: DataFrame, keys: Seq[Column], idCol: Column): DataFrame =
    df.groupBy(keys: _*).agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word-3gram shingle sets: `(id, grams: array<string>)`.
    * Batched kernel (one JVM pass per doc), shuffle-free. */
  def shingles(df: DataFrame, idCol: Column, text: Column, n: Int = 3): DataFrame =
    df.select(idCol.as("doc_id"),
      graft.functions.TextKernels.wordNgrams(text, n).as("grams"))

  /** MinHash signature columns h0..h{k-1}: per-doc min of a seeded 60-bit
    * hash over the shingle set. One batched kernel call per row
    * ([[graft.functions.MinHashSigs]]) — fully narrow, no shuffle. */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val sigs = sh.select(col("doc_id"),
      graft.functions.MinHashSigs(col("grams"), numHashes).as("sigs"))
    sigs.select(
      col("doc_id") +: (0 until numHashes).map(i =>
        element_at(col("sigs"), i + 1).as(s"h$i")): _*)
  }

  /** C2: MinHash LSH near-dup pairs, exact-verified.
    * bands of `bandSize` rows → md5 band key → self-join per band →
    * distinct candidate pairs → exact Jaccard over shingle sets →
    * threshold. Returns (doc_a, doc_b, jaccard). */
  def minhashLsh(df: DataFrame, idCol: Column, text: Column,
                 numHashes: Int = 16, bandSize: Int = 2,
                 threshold: Double = 0.5, shingleN: Int = 3): DataFrame = {
    // the shingle table feeds the signature AND both sides of the verify
    // join — persist so the (HOF-interpreted) shingling runs once. Fan
    // the doc frame first (r18): besides the §2.5 single-split fix, this
    // makes the persisted plan CANONICALLY IDENTICAL to [[gramTables]]'s
    // shingle stage, so the LSH pipeline and the exact-Jaccard family
    // share ONE cached shingle table per (corpus, shingleN) instead of
    // materializing the same kernel pass twice per session.
    val sh = persistOnce(shingles(fan(df, idCol), idCol, text, shingleN))
    val sig = minhashSignatures(sh, numHashes)
    val nBands = numHashes / bandSize
    val bands = sig.select(col("doc_id"), posexplode(array((0 until nBands).map { j =>
      md5(concat_ws(",", (0 until bandSize).map(o => col(s"h${j * bandSize + o}")): _*))
    }: _*)).as(Seq("band_j", "band")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_j") === col("y.band_j") && col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, sh, threshold)
  }

  /** Incremental near-dup admission — the streaming-ingest shape of
    * [[minhashLsh]]: the standing corpus keeps its shingle/signature
    * tables (at scale: persisted next to the index, appended per batch);
    * an arriving batch hashes ONLY itself and band-joins against the
    * standing bands — new-vs-old only, no old-vs-old rework, which is
    * what makes ingest O(batch) instead of O(corpus). An incoming doc is
    * admitted unless some existing doc verifies at ≥ `threshold` exact
    * Jaccard. Returns every incoming doc with its verified match count
    * and the admission flag. */
  def dedupIncremental(existing: DataFrame, incoming: DataFrame, idCol: Column,
                       text: Column, numHashes: Int = 16, bandSize: Int = 2,
                       threshold: Double = 0.5, shingleN: Int = 3): DataFrame = {
    val shOld = persistOnce(shingles(existing, idCol, text, shingleN))
    val shNew = persistOnce(shingles(incoming, idCol, text, shingleN))
    val nBands = numHashes / bandSize
    def bandsOf(sh: DataFrame) = {
      val sig = minhashSignatures(sh, numHashes)
      sig.select(col("doc_id"), posexplode(array((0 until nBands).map { j =>
        md5(concat_ws(",", (0 until bandSize).map(o => col(s"h${j * bandSize + o}")): _*))
      }: _*)).as(Seq("band_j", "band")))
    }
    val cand = bandsOf(shNew).as("x").join(bandsOf(shOld).as("y"),
        col("x.band_j") === col("y.band_j") && col("x.band") === col("y.band"))
      .select(col("x.doc_id").as("doc_new"), col("y.doc_id").as("doc_old"))
      .distinct()
    val matched = cand
      .join(shNew.select(col("doc_id").as("doc_new"), col("grams").as("ga")), "doc_new")
      .join(shOld.select(col("doc_id").as("doc_old"), col("grams").as("gb")), "doc_old")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("jac", round(col("inter").cast("double") /
        (size(col("ga")) + size(col("gb")) - col("inter")), 6))
      .filter(col("jac") >= threshold)
      .groupBy("doc_new").agg(count(lit(1)).as("n_matches"))
    incoming.select(idCol.as("doc_id"))
      .join(matched.withColumnRenamed("doc_new", "doc_id"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_matches"))
      .withColumn("admitted", col("n_matches") === 0)
      .orderBy("doc_id")
  }

  /** MOSS's over-common-fingerprint guard (Schleimer et al. 2003 §5:
    * matches appearing in too many documents are boilerplate — license
    * headers, navigation chrome, templates — and are excluded): drop
    * fingerprint VALUES whose document frequency exceeds `maxDf` before
    * any pairwise work. A fingerprint shared by k docs contributes k²
    * rows to the pair self-join, so ONE web-scale boilerplate value is
    * quadratic — the same hot-key class as the Hamming hot bands, solved
    * here by the standard documented drop (the pairs an over-common
    * fingerprint witnesses are boilerplate matches by definition). The
    * cap is a pure function of the corpus, so the oracle replays it
    * exactly. Adaptive: one scalar agg decides; a clean corpus (every
    * df ≤ maxDf, the bench-SF case) keeps the unfiltered frame and an
    * unchanged join plan. */
  private def dropHotFingerprints(fp: DataFrame, maxDf: Int): DataFrame = {
    val dfreq = persistOnce(fp.groupBy("h").agg(count(lit(1)).as("_df")))
    // coalesce: max() is NULL on an empty fingerprint frame (empty
    // corpus / all docs shorter than n) — 0 keeps the no-op branch
    val maxObserved = dfreq.agg(coalesce(max(col("_df")), lit(0L)))
      .collect()(0).getLong(0)
    if (maxObserved <= maxDf) fp
    else persistOnce(fp.join(dfreq.filter(col("_df") <= maxDf).select("h"), "h"))
  }

  /** Mod-p fingerprint sampling (Manber 1994, "Finding similar files" —
    * the pre-winnowing selection scheme): per doc, the word-`n`-gram
    * hashes ≡ 0 (mod p) form its fingerprint set. The selection is a
    * pure function of the CONTENT, so overlapping regions of two docs
    * sample the SAME grams — deterministic ~1/p sampling that needs no
    * coordination (unlike random sampling, which would sample disjoint
    * grams per doc). Pairs sharing ≥ `minShared` fingerprints are
    * local-overlap candidates. Honest limitation vs winnowing: no
    * per-window guarantee — a ~p·n-token overlap can go unsampled;
    * density is 1/p in expectation. Scale shape: kernel gramming, the
    * mod filter drops (p−1)/p of rows before the ONLY shuffle, and the
    * pair join fans out solely on shared fingerprints — over-common
    * (boilerplate) fingerprint values dropped first, see
    * [[dropHotFingerprints]]. */
  def modpFingerprintPairs(df: DataFrame, idCol: Column, text: Column,
                           n: Int = 5, p: Int = 8, minShared: Int = 2,
                           maxDf: Int = 1000): DataFrame = {
    val fp = dropHotFingerprints(persistOnce(
      df.select(idCol.as("doc_id"),
          explode(graft.functions.TextKernels.wordNgrams(text, n)).as("g"))
        .select(col("doc_id"), graft.functions.Hashing.md5Long60(col("g")).as("h"))
        .filter(pmod(col("h"), lit(p.toLong)) === 0)
        .distinct()), maxDf)
    fp.as("a").join(fp.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(desc("n_shared"), col("doc_a"), col("doc_b"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    * hash every word n-gram, then keep the MINIMUM hash of every
    * `w`-hash window. The guarantee mod-p sampling lacks: any shared run
    * of ≥ w+n−1 tokens contributes at least one shared fingerprint, at
    * expected density 2/(w+1) of the grams. Scale shape mirrors
    * [[modpFingerprintPairs]]: gram hashing + window minima run in ONE
    * compiled kernel pass per doc ([[graft.functions.TextKernels
    * .WinnowKernel]] — positional grams, no gram strings materialized,
    * no shuffle), only the ~2m/(w+1) distinct fingerprints explode into
    * the one shuffle, and the pair join fans out solely on shared
    * fingerprint values — over-common (boilerplate) values dropped
    * first, see [[dropHotFingerprints]]. */
  def winnowingPairs(df: DataFrame, idCol: Column, text: Column,
                     n: Int = 5, w: Int = 4, minShared: Int = 2,
                     maxDf: Int = 1000): DataFrame = {
    // the kernel emits per-doc DISTINCT fingerprints, so (doc_id, h) rows
    // are distinct by construction — no dedup shuffle before the join
    val fp = dropHotFingerprints(persistOnce(
      df.select(idCol.as("doc_id"),
        explode(graft.functions.TextKernels.winnowFingerprints(text, n, w)).as("h"))), maxDf)
    fp.as("a").join(fp.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(desc("n_shared"), col("doc_a"), col("doc_b"))
  }

  /** Asymmetric CONTAINMENT pairs (Broder 1997's containment coefficient
    * over winnowing fingerprints): C(A→B) = |fp(A) ∩ fp(B)| / |fp(A)|.
    * The doc-inside-doc detector the symmetric family misses — a short
    * doc fully quoted inside a long one has near-zero Jaccard (so
    * MinHash-LSH never pairs it) but containment ≈ 1. Winnowing keeps
    * the estimate honest at scale: fingerprints are a deterministic
    * content sample with the per-window guarantee (any shared run of
    * ≥ w+n−1 tokens shares a fingerprint), so containment over
    * fingerprints tracks containment over content.
    *
    * Scale shape: ONE kernel pass per doc emits distinct fingerprints
    * (~2/(w+1) gram density, no gram strings materialized); per-doc
    * sizes are a hash agg over that same narrow table; the pair join
    * fans out solely on shared fingerprint values and the minShared
    * filter runs before the (AQE-broadcast-able) size joins. No
    * all-pairs stage at any size. */
  def containmentPairs(df: DataFrame, idCol: Column, text: Column,
                       n: Int = 5, w: Int = 4, minShared: Int = 2,
                       minContain: Double = 0.5, maxDf: Int = 1000): DataFrame = {
    // sizes come from the RETAINED fingerprints (MOSS semantics: dropped
    // boilerplate positions don't exist), so a doc made largely of
    // boilerplate can still reach containment 1 with its true container
    val fp = dropHotFingerprints(persistOnce(df.select(idCol.as("doc_id"),
      explode(graft.functions.TextKernels.winnowFingerprints(text, n, w)).as("h"))), maxDf)
    val sizes = fp.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    fp.as("a").join(fp.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_fp_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_fp_b")), "doc_b")
      .withColumn("contain_a", round(col("n_shared").cast("double") / col("n_fp_a"), 6))
      .withColumn("contain_b", round(col("n_shared").cast("double") / col("n_fp_b"), 6))
      .filter(greatest(col("contain_a"), col("contain_b")) >= minContain)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_fp_a"), col("n_fp_b"), col("contain_a"), col("contain_b"))
      .orderBy(desc("n_shared"), col("doc_a"), col("doc_b"))
  }

  /** LSH threshold-calibration histogram — the "which Jaccard cutoff do
    * we commit to" diagnostic run BEFORE a full dedup: the exact-verified
    * Jaccard of every candidate pair of a threshold-0 [[minhashLsh]] run
    * (e.g. the corpus-shared threshold-0 LSH cache), binned into `nBins`
    * uniform bins, with the at-or-above cumulative count (= pairs a given
    * threshold would remove). One bounded hash agg and one ≤ nBins-row
    * window — nothing touches the corpus. */
  def thresholdHistogram(pairs: DataFrame, nBins: Int = 10): DataFrame = {
    val binned = pairs
      .withColumn("bin", least(floor(col("jac") * nBins), lit(nBins.toLong - 1)).cast("int"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    binned
      .withColumn("threshold", round(col("bin") / lit(nBins.toDouble), 2))
      .withColumn("n_pairs_at_or_above",
        sum(col("n_pairs")).over(Window.orderBy(desc("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bin"), col("threshold"), col("n_pairs"), col("n_pairs_at_or_above"))
  }

  /** Exact Jaccard for candidate pairs over the shingle-set table. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("jac", round(
        col("inter").cast("double") / (size(col("ga")) + size(col("gb")) - col("inter")), 6))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))

  /** Shared gram machinery: persisted shingle table, hashed exploded grams,
    * per-doc set sizes. Grams join by their 60-bit hash (long keys shuffle/
    * compare far cheaper than gram strings; the oracle mirrors the same
    * hash).
    *
    * Both stages are persisted AND materialized once: the r16 form cached
    * only the gram arrays, so the explode+md5 pass re-ran for every
    * consumer — the self-join's two branches plus (in the capped variant)
    * the df-agg re-hashed the whole corpus 3-4×. The doc frame is fanned
    * across the session's cores first: the shingle+md5 kernel pass is the
    * expensive linear stage, and a single-split input (the bench fixture
    * is one row group; at 100 TB a scan has natural splits) would
    * serialize it on one core (guide §2.5 input skew). Hash-partitioned
    * by the unique doc id — deterministic under retries. (A/B at sf0.1,
    * min of 4 passes: cache-g 0.52/2.40/0.63 s for nj/njc/lsh-gate vs
    * cache-sh-only 1.24/2.56/1.11 — cache-g wins every row.) */
  private def gramTables(df: DataFrame, idCol: Column, text: Column,
                         shingleN: Int): (DataFrame, DataFrame) = {
    val fanned = fan(df, idCol)
    val sh = persistOnce(shingles(fanned, idCol, text, shingleN))
    val g = persistOnce(sh.select(col("doc_id"), explode(col("grams")).as("gs"))
      .select(col("doc_id"), Hashing.md5Long60(col("gs")).as("g")))
    g.count()
    val sizes = sh.select(col("doc_id"), size(col("grams")).as("n"))
    (g, sizes)
  }

  /** All-pairs Jaccard over shared grams: count shared grams per pair, join
    * set sizes, threshold. Pairs sharing zero grams never materialize. */
  private def jaccardOverSharedGrams(g: DataFrame, sizes: DataFrame,
                                     threshold: Double): DataFrame = {
    val inter = g.as("a").join(g.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jac", round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** C2b: exact n-gram Jaccard — all pairs via the shared-shingle join (no
    * sketch; the ground-truth formulation). */
  def ngramJaccard(df: DataFrame, idCol: Column, text: Column,
                   threshold: Double, shingleN: Int = 3): DataFrame = {
    val (g, sizes) = gramTables(df, idCol, text, shingleN)
    jaccardOverSharedGrams(g, sizes, threshold)
  }

  /** C2 applied: the deduplicated corpus — remove the higher-id side of
    * every verified near-dup pair (greedy, deterministic; the LSH pairs
    * bound the work, the anti-join is the only extra wide stage). */
  def removeNearDuplicates(df: DataFrame, idCol: Column, text: Column,
                           threshold: Double = 0.5): DataFrame =
    removeNearDuplicates(df, idCol, minhashLsh(df, idCol, text, threshold = threshold))

  /** As above with precomputed verified pairs (callers that already ran
    * [[minhashLsh]] — e.g. reporting AND applying in one job — avoid
    * recomputing the whole sketch pipeline). */
  def removeNearDuplicates(df: DataFrame, idCol: Column, pairs: DataFrame): DataFrame = {
    val dupIds = pairs.select(col("doc_b").as("_dup_id")).distinct()
    df.join(dupIds, idCol === col("_dup_id"), "left_anti")
  }

  /** SOFT dedup: keep every doc but weight it 1/|cluster|, so each
    * near-duplicate cluster contributes one unit of sampling mass to the
    * training mixture (the reweighting alternative to removal — upstream
    * of a weighted sampler like [[graft.ext.Corpus.temperatureMixture]]).
    * Singletons keep weight 1 and their own id as cluster. Scale shape:
    * the cluster table from [[connectedComponents]] covers only
    * edge-touched docs (the duplicates), typically a small fraction of
    * the corpus, so the weight attach is a join on id against a much
    * smaller side — the corpus itself never shuffles (left join on the
    * id key, broadcast when the duplicate set is small). */
  def softDedupWeights(df: DataFrame, idCol: Column, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    val sizes = cc.groupBy(col("cluster")).agg(count(lit(1)).as("_csize"))
    val weights = cc.join(sizes, "cluster")
      .select(col("id").as("_w_id"), col("cluster").as("_w_cluster"), col("_csize"))
    df.join(weights, idCol === col("_w_id"), "left")
      .select(idCol.as("doc_id"),
        coalesce(col("_w_cluster"), idCol).as("cluster"),
        round(lit(1.0) / coalesce(col("_csize"), lit(1L)), 6).as("weight"))
      .orderBy("doc_id")
  }

  /** Quality-aware canonical selection: [[removeNearDuplicates]] keeps an
    * arbitrary representative (the pair orientation's survivor); real
    * pipelines keep the BEST doc of each near-dup cluster — highest
    * `rank`, ties to the lowest id (a total order). Cluster labels come
    * from the pair graph's [[connectedComponents]]; singletons are their
    * own keeper. Scale shape mirrors [[softDedupWeights]]: the cluster
    * table covers only edge-touched docs, the per-cluster argmax is one
    * agg over that (bounded) table via a lexicographic struct-max — no
    * window, no per-cluster sort — and the keeper attach is a
    * cluster-keyed join back. The corpus shuffles once on id. */
  def canonicalByQuality(df: DataFrame, idCol: Column, pairs: DataFrame,
                         rank: Column): DataFrame = {
    val cc = connectedComponents(pairs)
    val lab = df.select(idCol.as("doc_id"), rank.as("q"))
      .join(cc, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), col("q"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val keep = lab.groupBy("cluster")
      .agg(max(struct(col("q"), (-col("doc_id")).as("_negid"))).as("_top"))
      .select(col("cluster"), (-col("_top._negid")).as("keeper_id"))
    lab.join(keep, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("q"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Scalable n-gram Jaccard: candidate pairs from RARE shared shingles
    * (document frequency ≤ maxDf) + EXACT verify by array intersection on
    * candidates only. A shingle shared by k docs contributes k² rows to the
    * exact self-join — one hot boilerplate gram is quadratic at corpus
    * scale. Capping df bounds the candidate space; the verified Jaccard is
    * exact, and only pairs whose EVERY shared gram exceeds the cap are
    * missed (deterministic, so the oracle reproduces the result exactly).
    * [[ngramJaccard]] stays as the uncapped ground-truth twin. */
  def ngramJaccardCapped(df: DataFrame, idCol: Column, text: Column,
                         threshold: Double, maxDf: Int = 50, shingleN: Int = 3): DataFrame = {
    val (g, sizes) = gramTables(df, idCol, text, shingleN)
    // Attach the gram document-frequency ONCE (r18): the r17 form joined g
    // against a persisted dfreq twice (rare + hot) — two full exchanges of
    // g by hash(g). Here ONE join carries _df onto every gram row (the agg
    // and the probe side share the same hash(g) exchange via
    // ReusedExchange), the cached result stays hash(g)-partitioned, so the
    // rare self-join below needs NO further exchange on g. Rows identical:
    // inner join on the gram's own grouping key attaches exactly one _df
    // to every g row.
    val dfreq = g.groupBy(col("g")).agg(count(lit(1)).as("_df"))
    val gw = persistOnce(g.join(dfreq, "g"))
    // Adaptive: when NO gram exceeds the cap, the rare/hot split degenerates
    // to the uncapped join plus two dead verify joins (measured 1.4× the
    // uncapped cost on clean corpora) — one scalar agg decides, and the
    // result is identical by construction (gHot would be empty).
    val maxObservedDf = gw.agg(max(col("_df"))).collect()(0).getLong(0)
    if (maxObservedDf <= maxDf) return jaccardOverSharedGrams(g, sizes, threshold)
    val gRare = gw.filter(col("_df") <= maxDf).select(col("doc_id"), col("g"))
    val gHot = gw.filter(col("_df") > maxDf).select(col("doc_id"), col("g"))
    // exact intersection = rare-shared count (aggregated — candidates come
    // only from here, so no hot-gram pair blowup) + intersect of the TINY
    // per-doc hot-gram arrays (≤ distinct hot grams, usually a handful;
    // carrying FULL per-doc arrays through the verify joins was measured
    // 2-4× slower than this split)
    val interRare = gRare.as("a").join(gRare.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter_rare"))
    val docHot = gHot.groupBy(col("doc_id")).agg(collect_list(col("g")).as("hot"))
    val noHot = array().cast("array<long>")
    interRare
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .join(docHot.select(col("doc_id").as("doc_a"), col("hot").as("ha")), Seq("doc_a"), "left")
      .join(docHot.select(col("doc_id").as("doc_b"), col("hot").as("hb")), Seq("doc_b"), "left")
      .withColumn("inter", col("inter_rare") +
        size(array_intersect(coalesce(col("ha"), noHot), coalesce(col("hb"), noHot))))
      .withColumn("jac", round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** Duplicate-span signal (the cross-document exact-substring redundancy
    * measure behind suffix-array dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better", §4 — n-gram formulation):
    * a doc's span is DUPLICATED when its word `n`-gram occurs in ≥
    * `minDocs` distinct docs. Returns per-doc
    * `(doc_id, n_grams, dup_grams, dup_frac)` — the fraction of the doc
    * covered by corpus-repeated spans, the signal a pipeline thresholds to
    * route docs into span-removal.
    *
    * Scale shape: grams dedup per-doc first (set semantics), join by
    * 60-bit hash; the df-agg and the doc-agg are two hash aggregations
    * sharing the exploded gram table — no pairwise work at all (unlike
    * near-dup joins, the gram doc-frequency is enough). */
  def duplicateSpans(df: DataFrame, idCol: Column, text: Column,
                     n: Int = 5, minDocs: Int = 2): DataFrame = {
    val grams = persistOnce(
      df.select(idCol.as("doc_id"),
          explode(graft.functions.TextKernels.wordNgrams(text, n)).as("g"))
        .select(col("doc_id"), Hashing.md5Long60(col("g")).as("gh")))
    val dfreq = grams.groupBy("gh").agg(count_distinct(col("doc_id")).as("_df"))
    grams.join(dfreq, "gh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("_df") >= minDocs, 1L).otherwise(0L)).as("dup_grams"))
      .withColumn("dup_frac",
        round(col("dup_grams").cast("double") / col("n_grams"), 6))
  }

  /** The APPLY form of [[duplicateSpans]] — the Lee et al. 2022 dedup
    * step itself: drop every token covered by a corpus-duplicated word
    * `n`-gram (an occurrence of a gram found in ≥ `minDocs` distinct docs
    * covers its n token positions) and rebuild the scrubbed text from the
    * survivors. Returns `(doc_id, scrubbed, n_tokens, n_kept)`.
    *
    * Scale shape: positions explode per doc (linear), the duplicated-gram
    * set comes from the same df-agg as the signal form and joins back by
    * 60-bit hash (broadcast while it fits, AQE otherwise); the rebuild is
    * one per-doc hash agg over surviving positions — sorted inside the
    * row, so no global or per-doc window. No pairwise work anywhere. */
  def scrubDuplicateSpans(df: DataFrame, idCol: Column, text: Column,
                          n: Int = 5, minDocs: Int = 2): DataFrame = {
    val (toks, covered) = dupCoveredPositions(df, idCol, text, n, minDocs)
    rebuildWithout(toks, covered)
  }

  /** The ExactSubstr MINIMUM-MATCH-LENGTH form of [[scrubDuplicateSpans]]
    * (Lee et al. 2022 scrub duplicated substrings of ≥ 50 tokens, not any
    * duplicated gram): covered positions are merged into maximal
    * consecutive runs per doc and only runs of ≥ `minRun` tokens are
    * removed — short incidental overlaps (common phrases) survive, long
    * boilerplate/quotation spans go.
    *
    * Scale shape: identical to the span scrub up to `covered`, plus ONE
    * per-doc hash agg whose list is bounded by the doc's own token count —
    * the same per-doc bound the rebuild agg already carries. The
    * gaps-and-islands pass is a compiled kernel
    * ([[graft.functions.TextKernels.PosRunsKernel]]), not an interpreted
    * per-element HOF. No pairwise work, no windows. */
  def scrubDuplicateRuns(df: DataFrame, idCol: Column, text: Column,
                         n: Int = 5, minDocs: Int = 2, minRun: Int = 10): DataFrame = {
    val (toks, covered) = dupCoveredPositions(df, idCol, text, n, minDocs)
    // covered is already the per-doc sorted distinct position array —
    // the gaps-and-islands kernel applies NARROWLY on it (the r17 form
    // re-aggregated exploded (doc_id, cp) rows first)
    val removed = covered.select(col("doc_id"),
      graft.functions.TextKernels.posRuns(col("cps"), minRun).as("cps"))
    rebuildWithout(toks, removed)
  }

  /** Shared scrub-family core: tokenized docs plus the per-doc DISTINCT
    * 1-based positions covered by any corpus-duplicated word n-gram
    * occurrence (a gram is duplicated when seen in ≥ `minDocs` docs). */
  private def dupCoveredPositions(df: DataFrame, idCol: Column, text: Column,
                                  n: Int, minDocs: Int): (DataFrame, DataFrame) = {
    // fan across cores + persist: the tokenize pass feeds BOTH the gram
    // occurrence explode (below) and the rebuild's token posexplode — the
    // r16 form re-tokenized from the (single-split at bench scale) scan
    // for each consumer, serializing the kernel work on one core
    // (guide §2.5 input skew; hash on the unique doc id, deterministic
    // under retries).
    val fanned = fan(df, idCol)
    val toks = persistOnce(fanned.select(idCol.as("doc_id"),
      graft.ext.TextAnalysis.tokens(text).as("w")))
    // every gram occurrence with its 1-based start position
    val occ = persistOnce(toks
      .select(col("doc_id"), col("w"),
        posexplode(graft.ext.TextAnalysis.wordNgrams(col("w"), n)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), Hashing.md5Long60(col("g")).as("gh")))
    val dup = occ.select(col("doc_id"), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocs).select("gh")
    // Per-doc covered-position ARRAY in one agg (r18): the r17 form
    // exploded every occurrence into n (doc_id, cp) rows and paid a
    // corpus-wide distinct exchange plus (in the run scrub) a second
    // per-doc groupBy; here the dedup happens IN-ROW (array_distinct of
    // the doc's own positions, bounded by its token count) and the only
    // wide stages are the gh join and one per-doc hash agg. Same set of
    // positions: sorted distinct array == distinct rows.
    val covered = occ.join(dup, "gh")
      .groupBy("doc_id")
      .agg(array_sort(array_distinct(flatten(collect_list(
        sequence(col("pos"), col("pos") + (n - 1)))))).as("cps"))
    (toks, covered)
  }

  /** Rebuild scrubbed text from every token position NOT in `removedArr`
    * (`(doc_id, cps: sorted distinct int array)`): a doc_id-keyed left
    * join (both sides already hash(doc_id)-partitioned) and one compiled
    * merge-walk kernel per doc — no posexplode, no anti-join, no re-agg
    * (the r17 shape paid two more exchanges for the same result). Docs
    * whose every position is removed (or that tokenize empty) drop out,
    * mirroring the oracle's group-by. */
  private def rebuildWithout(toks: DataFrame, removedArr: DataFrame): DataFrame = {
    val noPos = array().cast("array<int>")
    toks.join(removedArr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        graft.functions.TextKernels.keepExceptPositions(
          col("w"), coalesce(col("cps"), noPos)).as("_k"))
      .filter(size(col("w")) >= 1 && size(col("_k")) >= 1)
      .select(col("doc_id"),
        concat_ws(" ", col("_k")).as("scrubbed"),
        size(col("w")).as("n_tokens"),
        size(col("_k")).cast("long").as("n_kept"))
  }

  /** C2c: 60-bit SimHash signature per doc. Token hashes keep multiplicity
    * (term frequency weights the vote, the standard Charikar form).
    * Fully narrow: the bit-vote runs in a codegen'd kernel per document
    * ([[graft.functions.VecOps.SimHash60]]) — no explode, no shuffle. */
  def simhash(df: DataFrame, idCol: Column, text: Column): DataFrame =
    df.select(idCol.as("doc_id"),
      graft.functions.VecOps.simhash60(
        graft.functions.TextKernels.tokenHashes60(text)).as("simhash"))

  /** C2c pairs: Hamming distance ≤ `maxDist` via banded join. With 4 bands
    * of 15 bits, any pair within distance 3 shares ≥1 exact band
    * (pigeonhole) — the join is exact, not approximate. Skew-guarded: see
    * [[hammingPairsBanded]]. */
  def simhashPairs(sig: DataFrame, maxDist: Int = 3): DataFrame =
    hammingPairsBanded(sig, "simhash", bits = 60, maxDist = maxDist)

  /** Banded Hamming pairs over a 64-BIT signature column (the perceptual
    * image-hash near-dup join — [[simhashPairs]]'s shape widened from the
    * 60-bit text sketch to aHash's full long). Pigeonhole-exact and
    * skew-guarded: see [[hammingPairsBanded]]. Requires (maxDist+1) | 64. */
  def hammingPairs64(sig: DataFrame, hashCol: String, maxDist: Int = 3,
                     hotBandCap: Int = 4096): DataFrame =
    hammingPairsBanded(sig, hashCol, bits = 64, maxDist = maxDist,
      hotBandCap = hotBandCap)

  /** Shared exact banded-Hamming kernel: ALL pairs at Hamming ≤ `maxDist`
    * over a `bits`-wide long signature, with two skew guards that keep the
    * candidate join sub-quadratic at 100 TB:
    *
    *  1. '''Distinct-hash collapse.''' The pairwise work runs over DISTINCT
    *     signature values, never rows — a million blank frames all hashing
    *     to 0x0 contribute ONE row to the band join. Identical-signature
    *     doc pairs (distance 0) are emitted by a separate per-hash
    *     expansion that is output-sized by definition (each such pair IS in
    *     the answer).
    *  2. '''Hot-band sub-band refinement.''' A `bits/(maxDist+1)`-bit band
    *     key has a bounded value space (65 536 values at 16 bits), so at
    *     web scale a popular band value (letterboxed borders, solid
    *     backgrounds) collects ~N/65k distinct hashes and the self-join on
    *     that one key goes quadratic. Band values whose distinct-hash
    *     frequency exceeds `hotBandCap` are re-banded on their FREE bits:
    *     all members agree on the hot band exactly, so a pair at distance
    *     ≤ maxDist differs only in the remaining `bits − width` bits —
    *     splitting those into maxDist+1 sub-bands re-applies the pigeonhole
    *     argument (the pair shares ≥1 whole sub-band). The refinement is
    *     therefore EXACT, not approximate, and shrinks a hot group's join
    *     key space by 2^subWidth (4096× at the 16-bit default).
    *
    * Adaptive: one scalar agg decides whether any band is hot; clean inputs
    * (the common case at bench SF) take the plain rare-band join with zero
    * extra stages. */
  private[graft] def hammingPairsBanded(sig: DataFrame, hashCol: String, bits: Int,
      maxDist: Int, hotBandCap: Int = 4096): DataFrame = {
    // ONE shuffle groups docs by signature (sorted id list per hash) —
    // this is simultaneously the distinct-hash set for the band join, the
    // expansion table for cross pairs, and (narrow HOF, no join) the
    // intra-hash distance-0 pair source
    val byHash = persistOnce(sig
      .select(col("doc_id"), col(hashCol).cast("long").as("_h"))
      .groupBy("_h").agg(collect_list(col("doc_id")).as("_ids")))
    val hashPairs = distinctHashPairs(byHash.select(col("_h")), bits, maxDist, hotBandCap)
    // expand hash pairs to doc pairs; the candidate set is small, so AQE
    // broadcasts it into the two list joins
    val cross = hashPairs
      .join(byHash.select(col("_h").as("ha"), col("_ids").as("_ia")), "ha")
      .join(byHash.select(col("_h").as("hb"), col("_ids").as("_ib")), "hb")
      .select(explode(col("_ia")).as("da"), col("_ib"), col("ha"), col("hb"))
      .select(col("da"), explode(col("_ib")).as("db"), col("ha"), col("hb"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        expr("bit_count(ha ^ hb)").as("hamming"))
    val intra = byHash.filter(size(col("_ids")) > 1)
      .select(explode(expr(
        """flatten(transform(_ids, (a, i) ->
          |  transform(slice(_ids, i + 2, size(_ids)), b ->
          |    struct(least(a, b) AS doc_a, greatest(a, b) AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), lit(0).as("hamming"))
    cross.union(intra)
  }

  /** Near-dup CLUSTERS over a `bits`-wide signature WITHOUT pair
    * enumeration: `(doc_id, cluster)` where cluster = min doc_id reachable
    * through Hamming-≤-maxDist edges. When duplicates are massive (a blank
    * frame repeated millions of times), the pair list is Θ(Σ mᵢ²) — larger
    * than the corpus — while this assignment stays Θ(N): the connected
    * components run over the DISTINCT-hash graph (one node per signature
    * value regardless of multiplicity), and docs map onto their hash's
    * component with one join. This is the production form at 100 TB;
    * [[hammingPairs64]] is the pair-contract twin. */
  def hammingClusters64(sig: DataFrame, hashCol: String, maxDist: Int = 3,
                        hotBandCap: Int = 4096): DataFrame = {
    val docs = persistOnce(sig.select(col("doc_id"), col(hashCol).cast("long").as("_h")))
    val hp = persistOnce(distinctHashPairs(docs.select(col("_h")).distinct(),
      64, maxDist, hotBandCap))
    val byHash =
      if (hp.isEmpty)
        docs.select(col("doc_id"), col("_h").as("_hc"))
      else {
        val cc = connectedComponents(hp, "ha", "hb")
        docs.join(cc, docs("_h") === cc("id"), "left")
          .select(col("doc_id"), coalesce(col("cluster"), col("_h")).as("_hc"))
      }
    val reps = byHash.groupBy("_hc").agg(min(col("doc_id")).as("cluster"))
    byHash.join(reps, "_hc").select(col("doc_id"), col("cluster"))
  }

  /** Incremental image near-dup ADMISSION — [[dedupIncremental]]'s O(batch)
    * ingest pattern over a 64-bit perceptual hash: the standing corpus
    * keeps its (persisted, index-side) band table; an arriving batch bands
    * ONLY its own distinct hashes and joins new-vs-standing — no
    * standing-vs-standing rework, so ingest cost is O(batch + touched
    * bands). Hot standing bands (df > `hotBandCap` distinct hashes — the
    * letterboxed-border skew) are refined on their free bits exactly as in
    * [[hammingPairsBanded]]; the pigeonhole argument applies unchanged to
    * a new-old pair sharing the hot band. Returns every incoming doc with
    * the count of standing DOCS within `maxDist` bits and the admission
    * flag (no standing near-dup). */
  def hammingIncremental64(existing: DataFrame, incoming: DataFrame, hashCol: String,
                           maxDist: Int = 3, hotBandCap: Int = 4096): DataFrame = {
    val nBands = maxDist + 1
    require(64 % nBands == 0, s"maxDist+1 = $nBands must divide 64")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val oldDocs = persistOnce(existing.select(col("doc_id"), col(hashCol).cast("long").as("_h")))
    val newDocs = persistOnce(incoming.select(col("doc_id"), col(hashCol).cast("long").as("_h")))
    val oldBands = bandTable(oldDocs, nBands, width, mask)
    val newBands = bandTable(newDocs, nBands, width, mask)
    // the STANDING side decides the hot set — that's where a 16-bit band
    // key accumulates corpus-scale frequency
    val dfreq = oldBands.groupBy("band_j", "band").agg(count(lit(1)).as("_bdf"))
    val subW = (64 - width) / nBands
    def joinOn(n: DataFrame, o: DataFrame, keys: Seq[String]): DataFrame =
      n.as("x").join(o.as("y"),
          keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _))
        .select(col("x._h").as("hn"), col("y._h").as("ho"))
    val candidates =
      if (maxBandDf(dfreq) <= hotBandCap || subW == 0)
        joinOn(newBands, oldBands, Seq("band_j", "band"))
      else {
        val oldWith = oldBands.join(dfreq, Seq("band_j", "band"))
        val newWith = newBands.join(dfreq, Seq("band_j", "band"))  // inner: bands absent standing-side match nothing
        def split(b: DataFrame, hot: Boolean) = {
          val f = b.filter(if (hot) col("_bdf") > hotBandCap else col("_bdf") <= hotBandCap)
          if (!hot) f.select("band_j", "band", "_h")
          else f.select(col("band_j"), col("band"), col("_h"),
            posexplode(array(subBandCols(64, nBands, width): _*)).as(Seq("sub_j", "sub")))
        }
        joinOn(split(newWith, hot = false), split(oldWith, hot = false), Seq("band_j", "band"))
          .union(joinOn(split(newWith, hot = true), split(oldWith, hot = true),
            Seq("band_j", "band", "sub_j", "sub")))
      }
    val hashPairs = candidates.distinct()
      .filter(expr(s"bit_count(hn ^ ho) <= $maxDist"))
    val matched = hashPairs
      .join(oldDocs.groupBy("_h").agg(count(lit(1)).as("_nOld"))
        .withColumnRenamed("_h", "ho"), "ho")
      .groupBy("hn").agg(sum(col("_nOld")).as("n_matches"))
    newDocs.join(matched.withColumnRenamed("hn", "_h"), Seq("_h"), "left")
      .na.fill(0L, Seq("n_matches"))
      .select(col("doc_id"), col("n_matches"), (col("n_matches") === 0).as("admitted"))
      .orderBy("doc_id")
  }

  /** Banded DISTINCT signatures of `docs._h`: one row per (hash, band). */
  private def bandTable(docs: DataFrame, nBands: Int, width: Int, mask: Long): DataFrame =
    persistOnce(docs.select(col("_h")).distinct().select(col("_h"),
      posexplode(array((0 until nBands).map(j =>
        expr(s"shiftrightunsigned(_h, ${j * width}) & $mask")): _*)).as(Seq("band_j", "band"))))

  /** Sub-band key columns over the FREE bits (everything outside band_j's
    * slice), compacted to a contiguous value then split into nBands
    * chunks — the hot-band refinement's join keys. Unsigned shifts; the
    * high part is 0 when band_j is the top band. */
  private def subBandCols(bits: Int, nBands: Int, width: Int): Seq[Column] = {
    val freeBits = bits - width
    val subW = freeBits / nBands
    val highShiftOk = s"(band_j + 1) * $width < 64"
    val freeExpr =
      s"""(shiftleft(IF($highShiftOk, shiftrightunsigned(_h, (band_j + 1) * $width), 0L),
         |           band_j * $width)
         | | (_h & (shiftleft(1L, band_j * $width) - 1L)))""".stripMargin.replace("\n", " ")
    (0 until nBands).map { k =>
      val lo = k * subW
      val w = if (k == nBands - 1) freeBits - lo else subW
      val m = if (w == 64) -1L else (1L << w) - 1L
      expr(s"shiftrightunsigned($freeExpr, $lo) & $m")
    }
  }

  private def maxBandDf(dfreq: DataFrame): Long =
    dfreq.agg(max(col("_bdf"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L   // empty input
      case r                  => r.getLong(0)
    }

  /** All DISTINCT-signature pairs `(ha, hb)` (ha < hb) at Hamming ≤
    * `maxDist`, via the skew-guarded banded self-join described at
    * [[hammingPairsBanded]]. `hashes` must carry one row per UNIQUE
    * signature as `_h` (callers dedup — usually as a groupBy they need
    * anyway). */
  private def distinctHashPairs(hashes: DataFrame, bits: Int,
      maxDist: Int, hotBandCap: Int): DataFrame = {
    val nBands = maxDist + 1
    require(bits % nBands == 0, s"maxDist+1 = $nBands must divide $bits")
    require(bits <= 64, s"bits = $bits exceeds a long")
    val width = bits / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    // persist the banded signatures: the subtree feeds the df agg and
    // both sides of the self-join
    val bands = persistOnce(hashes.select(col("_h"),
      posexplode(array((0 until nBands).map(j =>
        expr(s"shiftrightunsigned(_h, ${j * width}) & $mask")): _*)).as(Seq("band_j", "band"))))
    val dfreq = bands.groupBy("band_j", "band").agg(count(lit(1)).as("_bdf"))
    val subW = (bits - width) / nBands
    def bandSelfJoin(b: DataFrame, keys: Seq[String]): DataFrame = {
      val cond = keys.map(k => col(s"x.$k") === col(s"y.$k"))
        .reduce(_ && _) && col("x._h") < col("y._h")
      b.as("x").join(b.as("y"), cond)
        .select(col("x._h").as("ha"), col("y._h").as("hb"))
    }
    val candidates =
      if (maxBandDf(dfreq) <= hotBandCap || subW == 0)
        bandSelfJoin(bands, Seq("band_j", "band"))
      else {
        val withDf = bands.join(dfreq, Seq("band_j", "band"))
        val rare = withDf.filter(col("_bdf") <= hotBandCap).select("band_j", "band", "_h")
        val hotSub = persistOnce(withDf.filter(col("_bdf") > hotBandCap)
          .select(col("band_j"), col("band"), col("_h"),
            posexplode(array(subBandCols(bits, nBands, width): _*)).as(Seq("sub_j", "sub"))))
        bandSelfJoin(rare, Seq("band_j", "band"))
          .union(bandSelfJoin(hotSub, Seq("band_j", "band", "sub_j", "sub")))
      }
    candidates.distinct()
      .filter(expr(s"bit_count(ha ^ hb) <= $maxDist"))
  }

  /** Near-dup CLUSTERS: connected components over a pair list, labels =
    * min reachable id (the canonical representative — pair-level anti-join
    * dedup under-removes when A~B and B~C but A!~C; cluster-level keeps
    * exactly one doc per component).
    *
    * Iterative min-label propagation: per round one shuffle join
    * (neighbor-min) + one hash agg, every step distributed; the driver sees
    * only a one-row convergence aggregate. Labels are monotone
    * non-increasing and any change strictly decreases their sum, so the
    * decimal sum is an exact fixpoint test. Rounds = eccentricity of each
    * component's min node — dedup components from banded LSH are
    * near-cliques, so 2–3 rounds in practice; `maxIter` guards adversarial
    * chains (a 100 TB run would switch to star-contraction rounds, same
    * per-round plan shape, O(log n) rounds).
    *
    * Each round is materialized through
    * [[org.apache.spark.sql.graftbridge.Bridge.truncateLineage]] — a bare
    * `persist()` caches data but NOT the plan, so the iterative join doubled
    * the logical plan every round (2^rounds nodes; a diameter-11 chain OOM'd
    * inside the explain string). The RDD round-trip keeps plan AND lineage
    * O(1) per round, and the previous round's cache is freed as soon as the
    * next is materialized. If min-label does not converge within `maxIter`
    * (high-diameter graph), falls back to [[connectedComponentsFast]]
    * (pointer-jumping, O(log diameter) rounds) instead of failing. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 25): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val e = persistOnce(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))))
    var (labels, handle) = bridge.truncateLineage(
      e.select(col("src").as("id")).distinct().withColumn("label", col("id")))
    var prev = labelSum(labels)
    var it = 0; var converged = false
    while (!converged && it < maxIter) {
      val (next, nextHandle) = bridge.truncateLineage(propagateMin(e, labels))
      val cur = labelSum(next)
      handle.unpersist(); handle = nextHandle
      labels = next
      converged = cur.compareTo(prev) == 0
      prev = cur
      it += 1
    }
    if (!converged) { // adversarial diameter: switch to the O(log d) form
      handle.unpersist(); e.unpersist()
      return connectedComponentsFast(pairs, aCol, bCol)
    }
    e.unpersist()
    // the returned labels stay cached (callers consume them immediately;
    // one bounded (id,label) table per call)
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Connected components in O(log diameter) rounds: each round combines
    * the neighbor-min step with POINTER JUMPING (`l(v) := min(l(v),
    * l(l(v)))`, the Shiloach–Vishkin shortcutting step — every label is
    * itself a node id, so one self-join halves every propagation chain;
    * star contraction in the min-label formulation). Output is identical to
    * [[connectedComponents]] (min reachable id per node — ClusterSpec holds
    * a ScalaCheck equivalence spec); use this form directly for graphs with
    * long chains, e.g. transitive near-dup paths at 100 TB. */
  def connectedComponentsFast(pairs: DataFrame, aCol: String = "doc_a",
                              bCol: String = "doc_b", maxIter: Int = 64): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val e = persistOnce(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))))
    var (labels, handle) = bridge.truncateLineage(
      e.select(col("src").as("id")).distinct().withColumn("label", col("id")))
    var prev = labelSum(labels)
    var it = 0; var converged = false
    while (!converged && it < maxIter) {
      val stepped = propagateMin(e, labels)
      // shortcut: follow each node's label to THAT node's label
      val jumped = stepped.as("x").join(
          stepped.select(col("id").as("_lid"), col("label").as("_llabel")).as("y"),
          col("x.label") === col("_lid"), "left_outer")
        .select(col("x.id").as("id"),
          least(col("x.label"), coalesce(col("_llabel"), col("x.label"))).as("label"))
      val (next, nextHandle) = bridge.truncateLineage(jumped)
      val cur = labelSum(next)
      handle.unpersist(); handle = nextHandle
      labels = next
      converged = cur.compareTo(prev) == 0
      prev = cur
      it += 1
    }
    e.unpersist()
    require(converged, s"connectedComponentsFast did not converge in $maxIter rounds")
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** One min-label round: each node takes the min of its own label and its
    * neighbors' labels (one shuffle join + one hash agg, fully distributed). */
  private def propagateMin(e: DataFrame, labels: DataFrame): DataFrame = {
    val neighborMin = e.join(labels, col("dst") === col("id"))
      .groupBy(col("src")).agg(min("label").as("_nlabel"))
    labels.join(neighborMin, col("id") === col("src"), "left_outer")
      .select(col("id"), least(col("label"), coalesce(col("_nlabel"), col("label"))).as("label"))
  }

  /** Exact fixpoint test: labels are monotone non-increasing and any change
    * strictly decreases the sum; the driver sees one decimal scalar. */
  private def labelSum(l: DataFrame): java.math.BigDecimal =
    l.agg(sum(col("label").cast("decimal(38,0)")).as("s"))
      .collect()(0).getDecimal(0)

  /** CCNet-style duplicate-SEGMENT removal (Wenzek et al. 2020 §3.1 —
    * paragraph-hash dedup, the step CommonCrawl pipelines run before any
    * doc-level near-dup): the corpus is cut into fixed-`segTokens`
    * non-overlapping token segments (the deterministic stand-in for
    * newline paragraphs), each segment is 60-bit-hashed, and every
    * occurrence of a corpus-repeated segment except the FIRST (minimum
    * `(doc_id, seg_idx)`) is dropped; surviving segments reassemble into
    * `text_dedup`. Returns `(doc_id, n_segs, kept_segs, text_dedup)`.
    *
    * Scale shape: segmentation is one narrow HOF pass (no per-token
    * explode — segments explode, corpus/segTokens rows); the keeper
    * choice is ONE hash agg keyed by segment hash whose output joins back
    * on the same key (exchange reuse, no second shuffle of the agg side),
    * and the reassembly is one doc-keyed hash agg with the in-row sort
    * trick from [[scrubDuplicateSpans]]. No pairwise work at any
    * duplication rate — 100 TB-sane. */
  /** `withinDoc = true` restricts the dedup scope to each document —
    * repeated boilerplate INSIDE a doc (headers, navigation chrome)
    * collapses to its first occurrence while cross-doc repeats survive;
    * the keeper agg keys on (doc_id, hash) instead of hash, so the plan
    * shape is identical (one hash agg + one same-key join). */
  def segmentDedup(df: DataFrame, idCol: Column, text: Column,
                   segTokens: Int = 64, withinDoc: Boolean = false): DataFrame = {
    val toks = fan(df, idCol) // fan: tokenize+segment map side (guide §2.5)
      .select(idCol.as("doc_id"),
        graft.ext.TextAnalysis.tokens(text).as("w"))
      .filter(size(col("w")) > 0)
    val segs = toks.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("w")) - 1) / lit(segTokens.toDouble)).cast("int")),
          i => array_join(slice(col("w"), i * lit(segTokens) + lit(1), lit(segTokens)), " ")))
          .as(Seq("seg_idx", "seg")))
    // first occurrence = min (doc_id, seg_idx) — a struct-min, so it is
    // injective for every id type (no packed-scalar overflow/collision)
    val occ = segs.select(col("doc_id"), col("seg_idx"), col("seg"),
      Hashing.md5Long60(col("seg")).as("h"),
      struct(col("doc_id"), col("seg_idx")).as("k"))
    val keyCols = if (withinDoc) Seq("doc_id", "h") else Seq("h")
    val keepers = occ.groupBy(keyCols.map(col): _*).agg(min("k").as("_keep_k"))
    occ.join(keepers, keyCols)
      .withColumn("_keep", col("k") === col("_keep_k"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("kept_segs"),
        array_join(transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("seg_idx"), col("seg"))))),
          s => s.getField("seg")), " ").as("text_dedup"))
  }

  /** Content-defined chunking dedup signal (the backup-dedup/FastCDC rule
    * on word tokens — [[graft.functions.TextKernels.CdcChunksKernel]]):
    * chunk boundaries are a pure function of local content (2-gram hash ≡
    * 0 mod `p`, expected chunk ≈ `p` tokens), so a shared token run longer
    * than a chunk yields IDENTICAL chunk fingerprints in every doc that
    * contains it regardless of where it sits — the insertion-robust twin
    * of fixed-size [[segmentDedup]], where one inserted token shifts every
    * later segment. Returns the corpus-repeated chunks: fingerprint,
    * token length, containing-doc count, total occurrences.
    *
    * Scale shape: chunking is one compiled narrow pass; the only wide
    * stage is the (fp) hash agg (rows = corpus tokens / p) + TakeOrdered
    * top-k. No pairwise work. */
  def cdcSharedChunks(df: DataFrame, idCol: Column, text: Column,
                      p: Int = 13, minDocs: Int = 2, size: Int = 20): DataFrame =
    df.select(idCol.as("doc_id"),
        explode(graft.functions.TextKernels.cdcChunks(text, p)).as("ch"))
      .select(col("doc_id"), col("ch.fp").as("fp"), col("ch.len").as("len"))
      .groupBy("fp")
      .agg(min("len").as("len"),
        count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(desc("n_docs"), desc("n_occ"), col("fp"))
      .limit(size)

  /** O(batch) admission over CDC chunks (the [[cdcSharedChunks]] twin of
    * c55's incremental band join): each INCOMING doc's chunks probe the
    * standing corpus's distinct-chunk set; a doc mostly made of chunks
    * the corpus already holds is boilerplate/duplicate material and is
    * refused when its shared-chunk fraction exceeds `maxSharedFrac`.
    * At scale the standing chunk set is a maintained artifact (append
    * admitted docs' chunks per batch — the BucketedIndex pattern), so
    * per-batch work is chunk(batch) + one join against it; the standing
    * corpus is never re-chunked. */
  def cdcIncrementalAdmission(standing: DataFrame, incoming: DataFrame,
                              idCol: Column, text: Column, p: Int = 13,
                              maxSharedFrac: Double = 0.5): DataFrame = {
    import graft.functions.TextKernels
    val sChunks = standing.select(explode(TextKernels.cdcChunks(text, p)).as("ch"))
      .select(col("ch.fp").as("fp")).distinct()
      .withColumn("_hit", lit(true))
    incoming.select(idCol.as("doc_id"), explode(TextKernels.cdcChunks(text, p)).as("ch"))
      .select(col("doc_id"), col("ch.fp").as("fp"))
      .join(sChunks, Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_hit"), 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_chunks"), 6))
      .withColumn("admit", col("shared_frac") <= maxSharedFrac)
  }
}
