package graft.ext

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic sketches for 100 TB pipelines: Bloom-filter membership
  * (decontamination when the benchmark gram SET outgrows the inlined-array
  * broadcast of [[Corpus.decontaminateWithGramSet]]) and Count-Min token
  * counts (heavy hitters in one corpus pass with sketch memory independent
  * of vocabulary size — Cormode & Muthukrishnan 2005). Both draw from the
  * engine's md5-60 hash family, so a DuckDB oracle reproduces every bit:
  * the sketches are deterministic functions of the data, not approximations
  * the oracle has to bound.
  *
  * Reference scope: the reference delegates querying to ES, which uses the
  * same trick internally (HLL for cardinality, BKD/bitset pruning); these
  * are the training-data-pipeline counterparts named in BASELINE.json.
  */
object Sketch {

  /** The k probe positions of one gram in an m-bit Bloom filter —
    * Kirsch–Mitzenmacher double hashing (two independent md5-60 draws,
    * pos_j = (h1 + j·h2) mod m), which preserves the standard
    * false-positive bound with only two base hashes per gram. */
  private def bloomPositions(g: Column, mBits: Int, k: Int): Seq[Column] = {
    val h1 = Hashing.md5Long60(g)
    val h2 = Hashing.md5Long60(concat(lit("bloom2:"), g))
    // mod-reduce BEFORE the multiply-add: h1 + j·h2 on two ~2^60 draws
    // overflows Long for j ≥ 8, which errors under ANSI (the Spark 4
    // default) — the reduced form is the true (h1 + j·h2) mod m, stays
    // ≤ (k+1)·m, and matches the probe kernel's identical reduction
    (0 until k).map(j => pmod(
      pmod(h1, lit(mBits.toLong)) + lit(j.toLong) * pmod(h2, lit(mBits.toLong)),
      lit(mBits.toLong)))
  }

  /** Build the filter word-array from the benchmark's n-gram stream. The
    * distinct bit positions collect to the driver — ≤ k·|bench grams|
    * values, benchmark-bounded like every decontamination build here —
    * and pack into m/64 longs. The WORDS array is constant-size in the
    * benchmark (m/64 longs; 128 KB at m=2^20): that constancy is the
    * whole point vs shipping the gram set itself. */
  def bloomBuild(bench: DataFrame, benchText: Column, nGram: Int = 8,
                 mBits: Int = 1 << 20, k: Int = 3): Array[Long] = {
    require(mBits % 64 == 0, s"mBits must be a multiple of 64, got $mBits")
    val pos = bench
      .select(explode(graft.functions.TextKernels.wordNgrams(benchText, nGram)).as("g"))
      .select(explode(array(bloomPositions(col("g"), mBits, k): _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](mBits / 64)
    pos.foreach(p => words(p.toInt >> 6) |= (1L << (p.toInt & 63)))
    words
  }

  /** Per-doc Bloom contamination report: for each corpus doc, how many of
    * its distinct n-grams hit the filter (all k probe bits set), plus the
    * flag. The filter rides to executors as ONE literal long array and
    * the probe is codegen'd builtins (element_at + bitwiseAND against a
    * powers-of-two literal) — no UDF, fully narrow, one corpus pass, no
    * shuffle at all on the corpus side. Error is one-sided: a
    * contaminated gram ALWAYS hits (no false negatives — the property a
    * scrub needs); a clean doc flags at rate ≈ (1 − e^{−kn/m})^k per
    * gram. */
  def bloomContamination(corpus: DataFrame, idCol: Column, text: Column,
                         words: Array[Long], nGram: Int = 8, k: Int = 3): DataFrame = {
    // one compiled pass ([[graft.functions.TextKernels.BloomCountKernel]]):
    // same hash family + positions as [[bloomBuild]], but per-gram cost is
    // two compiled digests instead of two interpreted builtin-md5 chains —
    // 3.5 s → sub-second at sf0.1, still zero corpus shuffle
    val counts = graft.functions.TextKernels.bloomCounts(text, nGram, k, words)
    corpus.select(idCol.as("doc_id"), counts.as("_bc"))
      .select(col("doc_id"),
        element_at(col("_bc"), 1).cast("int").as("n_grams"),
        element_at(col("_bc"), 2).cast("int").as("hit_grams"))
      .withColumn("flagged", col("hit_grams") > 0)
  }

  /** Per-token exact counts — the vocab-sized agg every term-stats
    * operator here starts from (map-side combine collapses the corpus
    * stream before any shuffle). */
  private def tokenCounts(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(TextAnalysis.tokens(text)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))

  private def cmsCell(r: Int, tok: Column, w: Int): Column =
    pmod(Hashing.md5Long60(concat(lit(s"cms$r:"), tok)), lit(w.toLong))

  /** Count-Min sketch of the token counts: d rows × w cells. Only the
    * vocab table — not the token stream — expands d ways into cells, so
    * the Expand is vocab-sized. Cell mass = Σ counts of tokens hashing
    * there. */
  private def cmsFromCounts(counts: DataFrame, d: Int, w: Int): DataFrame =
    counts.select(explode(array((0 until d).map(r =>
        struct(lit(r).as("r"), cmsCell(r, col("tok"), w).as("cell"))): _*)).as("rc"),
        col("cnt"))
      .groupBy(col("rc.r").as("r"), col("rc.cell").as("cell"))
      .agg(sum("cnt").as("mass"))

  /** HDR-style log-linear histogram SKETCH TABLE: one row per
    * (partition-keys, bucket), where a bucket keeps the value's top `k`
    * bits (relative error < 2^−(k−1)) — `bmin`/`rep` are the bucket's
    * inclusive [min, max] and `c` its count. The sketch is EXACTLY
    * mergeable by adding counts bucket-wise (it is a deterministic
    * integer histogram, not an adaptive structure like t-digest whose
    * centroids depend on arrival order) — the property that lets a fleet
    * materialize per-day sketches once and answer any date range by
    * union, the percentile twin of the c111 HLL sketch tables. Values
    * must be ≥ 1. One hash agg over the input; bucket arithmetic is
    * narrow (pow-of-2 modulus — no dynamic shifts, Spark's shiftleft
    * takes only literal counts). */
  /** The per-row bucketing map side of [[hdrHistogram]] — `(keys…, _v,
    * bmin, rep)` with the `_v ≥ 1` domain filter applied. Exposed (r18)
    * so callers that need SEVERAL groupings of the same bucketed rows
    * (e.g. c118's per-day histogram and its one-shot twin) can persist
    * ONE bucketing pass and aggregate it many ways instead of re-running
    * the scan + bucket kernel per grouping (guide §5 reuse). */
  def hdrBuckets(df: DataFrame, keys: Seq[Column], value: Column,
                 k: Int = 8): DataFrame = {
    // Shifts 0..62 cover every positive Long (bit length ≤ 63 ⇒ shift
    // = bitlen − k ≤ 62 for k ≥ 1): epoch-nanosecond latencies (~2^60,
    // HDR's canonical input) land in real buckets instead of a silent
    // NULL bucket from element_at past the array end.
    require(k >= 1, s"hdrHistogram: k must be >= 1 (got $k)")
    val p2 = array((0 to 62).map(i => lit(1L << i)): _*)
    val v = value.as("_v")
    val base = df.select(keys :+ v: _*).filter(col("_v") >= 1)
    val pw = element_at(p2, greatest(length(bin(col("_v"))) - lit(k), lit(0)) + 1)
    base
      .withColumn("bmin", col("_v") - pmod(col("_v"), pw))
      // bmin + (pw − 1), NOT (bmin + pw) − 1: the latter intermediate
      // hits 2^63 for Long.MaxValue inputs and errors under ANSI
      .withColumn("rep", col("bmin") + (pw - lit(1L)))
  }

  def hdrHistogram(df: DataFrame, keys: Seq[Column], value: Column,
                   k: Int = 8): DataFrame = {
    val b = hdrBuckets(df, keys, value, k)
    val keyCols = b.columns.dropRight(3).map(col) // everything but _v/bmin/rep
    b.groupBy((keyCols :+ col("bmin")) :+ col("rep"): _*)
      .agg(count(lit(1)).as("c"))
      .drop("_v")
  }

  /** Merge HDR sketch rows over (bmin, rep): the union of any partition
    * of the data — counts add, buckets align by construction. */
  def hdrMerge(hist: DataFrame): DataFrame =
    hist.groupBy("bmin", "rep").agg(sum("c").as("c"))

  /** Percentile estimates from a (bmin, rep, c) histogram: the first
    * bucket whose cumulative count reaches ceil(p·n), reported as the
    * bucket max (HDR's highestEquivalentValue). The histogram is
    * bounded (≤ 2^k · 48 buckets), so the cumulative window over it is
    * sketch-sized, never data-sized. */
  def hdrPercentiles(hist: DataFrame, ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wcum = Window.orderBy("rep")
    hist
      .withColumn("cum", sum("c").over(
        wcum.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(hist.agg(sum("c").as("n"))))
      .select(col("bmin"), col("rep"), col("cum"), col("n"),
        explode(array(ps.map(lit): _*)).as("p"))
      .filter(col("cum") >= ceil(col("p") * col("n")))
      .groupBy("p")
      .agg(min(struct(col("rep"), col("bmin"))).as("e"), max("n").as("n"))
      .select(col("p"), col("e.bmin").as("v_bmin"), col("e.rep").as("v_est"),
        col("n"))
  }

  private val Pow60 = 1152921504606846976.0 // 2^60 as double

  /** KMV / Theta sketch TABLE: per set, the k smallest DISTINCT md5-60
    * element hashes — the sketch whose set algebra (union = merged
    * k-smallest, INTERSECTION = shared samples below min theta) gives
    * what HLL cannot: direct intersection estimates with sample-size
    * error, not inclusion-exclusion's compounded bounds (the c114
    * contrast). Deterministic given the hash family, so a DuckDB oracle
    * replays every retained hash exactly. k-smallest runs TWO-PHASE (the
    * c85/packShards discipline): partition-local prune to k per
    * (set, partition) first, so a hot set never funnels its whole
    * element stream through one sort partition; the global pass sees
    * ≤ k·P candidate rows. Emits (s, h, rk). */
  def thetaSketches(df: DataFrame, setCol: Column, elemCol: Column,
                    k: Int = 256): DataFrame =
    thetaSketchesFromHashes(df.select(setCol.as("s"),
      Hashing.md5Long60(concat(lit("theta:"), elemCol)).as("h")).distinct(), k)

  /** [[thetaSketches]] from a pre-built DISTINCT (s, h) frame — callers
    * that also need the exact side (or several k values) hash once and
    * share the frame instead of re-running the element pipeline. */
  def thetaSketchesFromHashes(hashed: DataFrame, k: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val local = hashed.withColumn("_pid", spark_partition_id())
      .withColumn("_rk", row_number().over(
        Window.partitionBy("s", "_pid").orderBy("h")))
      .filter(col("_rk") <= k).drop("_pid", "_rk")
    local.withColumn("rk", row_number().over(Window.partitionBy("s").orderBy("h")))
      .filter(col("rk") <= k)
  }

  /** All-pairs intersection estimates from a theta sketch table: per
    * set, theta = (k-th smallest hash + 1)/2^60 (1.0 when the set fit
    * entirely — the sketch is then exact); per pair, the retained
    * hashes BOTH sets kept below min(theta_a, theta_b) are a uniform
    * sample of the intersection at rate theta, so est = |sample|/theta.
    * Everything after the sketch build is sketch-sized (k·|sets| rows);
    * the pair frame is |sets|² — set-cardinality-bounded, broadcast. */
  def thetaIntersections(sketches: DataFrame, k: Int = 256): DataFrame = {
    val stats = sketches.groupBy("s")
      .agg(count(lit(1)).as("nret"), max("h").as("hk"))
      .select(col("s"), when(col("nret") < k, lit(1.0))
        .otherwise((col("hk") + 1).cast("double") / Pow60).as("theta"))
    val pairs = stats.select(col("s").as("sa"), col("theta").as("ta"))
      .crossJoin(stats.select(col("s").as("sb"), col("theta").as("tb")))
      .filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb"), least(col("ta"), col("tb")).as("th"))
    val m = sketches.select(col("s").as("sa"), col("h"))
      .join(sketches.select(col("s").as("sb"), col("h")), "h")
      .filter(col("sa") < col("sb"))
      .join(broadcast(pairs), Seq("sa", "sb"))
      .filter((col("h") + 1).cast("double") / Pow60 <= col("th"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("kin"))
    pairs.join(m, Seq("sa", "sb"), "left")
      .select(col("sa"), col("sb"), coalesce(col("kin"), lit(0L)).as("kin"),
        round(coalesce(col("kin"), lit(0L)) / col("th"), 4).as("est"))
  }

  /** Heavy hitters with their Count-Min estimates: the top-`topK` tokens
    * by true count next to the sketch read-back (min over the d row
    * estimates — always ≥ the true count, within εN of it with
    * probability 1−δ for w=⌈e/ε⌉, d=⌈ln 1/δ⌉). The sketch (≤ d·w rows)
    * broadcasts into the probe join; at 100 TB the only corpus-sized work
    * is the single vocab agg, and the sketch memory never grows with the
    * vocabulary — the property that lets a fleet of ingest workers merge
    * sketches by cell-wise addition instead of shipping vocabularies. */
  def cmsHeavyHitters(docs: DataFrame, text: Column, d: Int = 4, w: Int = 1024,
                      topK: Int = 20): DataFrame = {
    val counts = graft.CachedFrames.track(tokenCounts(docs, text).persist())
    val sketch = cmsFromCounts(counts, d, w)
    val top = counts.orderBy(desc("cnt"), col("tok")).limit(topK)
    val probes = top.select(col("tok"), col("cnt"),
      explode(array((0 until d).map(r =>
        struct(lit(r).as("r"), cmsCell(r, col("tok"), w).as("cell"))): _*)).as("rc"))
      .select(col("tok"), col("cnt"), col("rc.r").as("r"), col("rc.cell").as("cell"))
    probes.join(broadcast(sketch), Seq("r", "cell"))
      .groupBy("tok", "cnt")
      .agg(min("mass").as("estimate"))
      .orderBy(desc("cnt"), col("tok"))
  }
}
