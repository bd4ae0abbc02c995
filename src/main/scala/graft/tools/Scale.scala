package graft.tools

import graft._
import graft.ext.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Scale stress (not part of the correctness corpus): synthesizes larger
  * inputs in /tmp and measures the operators that must survive 100 TB —
  * the merge fold at 100× the bench change-log, MinHash LSH at 10× the
  * bench document count, and brute-vs-IVF ANN at a corpus size where the
  * candidate-set reduction matters. Results go to BASELINE.md ("scale
  * probes"). */
object Scale {
  def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("32")
    import spark.implicits._

    // ---- 10M-mutation change-log, 200k keys, 5% deletes ----
    val changes = spark.range(10_000_000).select(
      concat(lit("u"), (col("id") % 200000).cast("string")).as("row_key"),
      when(pmod(hash(col("id")), lit(20)) === 0, "D").otherwise("U").as("op"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000).as("ts"),
      col("id").as("seq"),
      when(pmod(hash(col("id")), lit(20)) === 0,
        array().cast("array<struct<family:string,qualifier:string,value:string>>"))
        .otherwise(array(
          struct(lit("f").as("family"), lit("q1").as("qualifier"), col("id").cast("string").as("value")),
          struct(lit("f").as("family"), lit("q2").as("qualifier"), pmod(col("id"), lit(97)).cast("string").as("value")),
          struct(lit("f").as("family"), concat(lit("q"), pmod(col("id"), lit(8))).as("qualifier"), lit("x").as("value"))))
        .as("cells"))
    t("gen-changelog-10M")(changes.write.mode("overwrite").parquet("/tmp/scale/changelog"))
    val cl = spark.read.parquet("/tmp/scale/changelog")
    val folded = t("fold-10M")(
      Merge.fold(cl).write.mode("overwrite").format("noop").save())
    t("fold-10M-again")(
      Merge.fold(cl).write.mode("overwrite").format("noop").save())

    // ---- incremental bucketed index: small batch into a big index ----
    import graft.streaming.BucketedIndex
    val bdir = "/tmp/scale/bucketed"
    // an index dir is bound to one checkpoint lineage: a stale manifest
    // from a previous probe run would make applyBatch skip (retry safety)
    // and the probe would measure nothing
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bdir))
    t("bucketed-bootstrap-10M")(
      BucketedIndex.applyBatch(spark, bdir, cl, batchId = 0, nBuckets = 256))
    // typical CDC arrival: a small batch over a HOT key set (30 keys),
    // materialized first so the probes measure merge cost, not source scan
    cl.filter(col("seq") % 10000 === 0)
      .withColumn("row_key", concat(lit("u"), pmod(col("seq"), lit(30)).cast("string")))
      .write.mode("overwrite").parquet("/tmp/scale/hotbatch")
    val hotBatch = spark.read.parquet("/tmp/scale/hotbatch")
    val touched = t("bucketed-1k-hot-batch-into-200k-index")(
      BucketedIndex.applyBatch(spark, bdir, hotBatch, batchId = 1, nBuckets = 256))
    println(s"SCALEINFO touched ${touched.size}/256 buckets")

    // ---- skew: 50% of 10M mutations on ONE key ----
    val skewed = spark.range(10_000_000).select(
      when(pmod(col("id"), lit(2)) === 0, lit("hotkey"))
        .otherwise(concat(lit("u"), (col("id") % 200000).cast("string"))).as("row_key"),
      lit("U").as("op"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000).as("ts"),
      col("id").as("seq"),
      array(struct(lit("f").as("family"),
        concat(lit("q"), pmod(col("id"), lit(16))).as("qualifier"),
        col("id").cast("string").as("value"))).as("cells"))
    t("fold-10M-skewed-50pct-one-key")(
      Merge.fold(skewed).write.mode("overwrite").format("noop").save())

    // ---- MinHash LSH at 50k docs (10x bench) ----
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val big = (0 until 10).map(i =>
      docs.select((col("doc_id") + i * 100000).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    t("gen-docs-50k")(big.write.mode("overwrite").parquet("/tmp/scale/docs"))
    val docs50k = spark.read.parquet("/tmp/scale/docs")
    t("minhash-lsh-50k")(
      Dedup.minhashLsh(docs50k, col("doc_id"), col("text"), threshold = 0.5)
        .write.mode("overwrite").format("noop").save())

    // ---- ANN: 100k corpus, 1000 queries, brute vs IVF ----
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val corpus = (0 until 20).map(i =>
      emb.select((col("vec_id") + i * 100000).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    t("gen-vecs-100k")(corpus.write.mode("overwrite").parquet("/tmp/scale/vecs"))
    val vecs = spark.read.parquet("/tmp/scale/vecs")
    val queries = vecs.filter(col("vec_id") < 1000)
    t("knn-brute-1k-queries-100k-corpus")(
      Similarity.knnBrute(queries, vecs, k = 10)
        .write.mode("overwrite").format("noop").save())
    val centroids = vecs.filter(col("vec_id") < 100) // 100 DISTINCT cells
    t("knn-ivf-1k-queries-100k-corpus")(
      Similarity.knnIvf(queries, vecs, centroids, nprobe = 2, k = 10)
        .write.mode("overwrite").format("noop").save())

    // ---- banded near-dup at 50k DISTINCT vectors, production params ----
    // The corpus-entry params (60 bits, 5/band) are tuned for the low
    // 0.45 threshold of the small fixture; at a real near-dup threshold
    // (0.9+) the bands widen (12 bits × 16 bands) so unrelated pairs
    // collide at ~0.4% while near-identical twins are still caught. 50k
    // distinct pseudo-random 64-d vectors + 1000 planted twins
    // (±1% perturbation, cos ≈ 0.9999); the crossJoin formulation would
    // be 1.25e9 pairs.
    def randU(seed: org.apache.spark.sql.Column) =
      pmod(hash(seed), lit(2001)).cast("double") / 1000.0 - 1.0
    val base50k = spark.range(50000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => randU(col("id") * 64 + j).cast("float")).as("embedding"))
    val twins = base50k.filter(col("vec_id") < 1000).select(
      (col("vec_id") + 50000).as("vec_id"),
      transform(col("embedding"), (x, j) =>
        (x + (pmod(hash(col("vec_id") * 64 + j), lit(21)).cast("double") / 1000.0 - 0.01))
          .cast("float")).as("embedding"))
    t("gen-vecs-51k-distinct")(
      base50k.unionByName(twins).write.mode("overwrite").parquet("/tmp/scale/vecs51k"))
    val v51 = spark.read.parquet("/tmp/scale/vecs51k")
    val planted = t("embed-neardup-banded-51k-t0.9")(
      Similarity.embeddingNearDupsBanded(v51, threshold = 0.9, nBits = 192, bandBits = 12)
        .count())
    println(s"SCALEINFO banded found $planted/1000 planted twins")

    // ---- capped n-gram Jaccard under hot boilerplate grams ----
    // every doc shares a boilerplate prefix → ~8 grams with df = 50k; the
    // uncapped self-join would route every pair through them
    // (8 × C(50k,2) ≈ 1e10 rows — not runnable); the df cap drops them
    // from candidate generation and verifies the rest exactly
    val bp = "terms of service apply to all content in this corpus please read carefully"
    val docsHot = docs50k.select(col("doc_id"),
      concat(lit(bp + " "), col("text")).as("text"))
    t("ngram-jaccard-capped-50k-hot-boilerplate")(
      Dedup.ngramJaccardCapped(docsHot, col("doc_id"), col("text"),
        threshold = 0.4, maxDf = 50)
        .write.mode("overwrite").format("noop").save())

    // ---- connected components: 2M-edge near-clique graph (both forms)
    // and a diameter-50k chain (pointer-jumping only — min-label would
    // need 50k label-propagation rounds; the fast form does O(log d)) ----
    val cliqueEdges = spark.range(2_000_000).select(
      col("id").as("doc_a"), (col("id") - pmod(col("id"), lit(20))).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    t("gen-cc-edges-2M")(cliqueEdges.write.mode("overwrite").parquet("/tmp/scale/ccedges"))
    val ce = spark.read.parquet("/tmp/scale/ccedges")
    t("cc-minlabel-2M-edges-100k-components")(
      Dedup.connectedComponents(ce).write.mode("overwrite").format("noop").save())
    t("cc-pointer-jump-2M-edges")(
      Dedup.connectedComponentsFast(ce).write.mode("overwrite").format("noop").save())
    val chain = spark.range(50_000).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val chainComponents = t("cc-pointer-jump-chain-diameter-50k")(
      Dedup.connectedComponentsFast(chain)
        .agg(count_distinct(col("cluster"))).collect()(0).getLong(0))
    println(s"SCALEINFO chain components: $chainComponents (want 1)")

    // ---- one-pass int8 quantization of 100k vectors ----
    t("quantize-int8-100k")(
      vecs.select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("z"))
        .select(col("vec_id"), col("z.scale"), col("z.q"))
        .write.mode("overwrite").format("noop").save())

    // ---- round-6 corpus ops at 50k docs ----
    // duplicate spans: gram df-agg + join — the no-pairwise shape must
    // hold when every doc is 10x duplicated (every gram df >= 10)
    t("dup-spans-50k-all-duplicated")(
      Dedup.duplicateSpans(docs50k, col("doc_id"), col("text"), n = 5)
        .write.mode("overwrite").format("noop").save())
    // unigram cross-entropy: vocab agg + token join
    t("unigram-xent-50k")(
      graft.ext.TextAnalysis.unigramCrossEntropy(docs50k, col("doc_id"), col("text"))
        .write.mode("overwrite").format("noop").save())
    // kmeans training + power iteration over the 100k-vector corpus —
    // per-round cost must stay (narrow pass + small hash agg)
    t("kmeans-fit-100k-k64-2rounds")(
      Similarity.kmeansFit(vecs, col("vec_id"), col("embedding"), k = 64, iters = 2)
        .write.mode("overwrite").format("noop").save())
    t("power-iteration-100k-3rounds")(
      Similarity.topPrincipalComponent(vecs, col("embedding"), iters = 3)
        .write.mode("overwrite").format("noop").save())
    // the narrow per-doc trio (kernel/regex work, no shuffle at all)
    t("gopher-filter-50k")(
      graft.ext.Corpus.gopherFilter(docs50k, col("doc_id"), col("text"))
        .write.mode("overwrite").format("noop").save())
    t("pii-redact-50k")(
      graft.ext.Redact.redactPii(docs50k, col("doc_id"), col("text"))
        .write.mode("overwrite").format("noop").save())

    // ---- round-8 ops ----
    // PQ: codebook (driver-side, k·d doubles), 100k-vector encode (narrow
    // m·k-expression scan), ADC top-10 (codes-only scan + TakeOrdered),
    // and the IVF-PQ composition (coarse prune, then ADC over ~nprobe/
    // #cells of the corpus)
    val pqCb = t("pq-codebook-m8-k16")(
      Similarity.pqCodebookFromIds(vecs, col("vec_id"), col("embedding"), m = 8, k = 16))
    t("pq-encode-100k")(
      Similarity.pqEncode(vecs, col("vec_id"), col("embedding"), pqCb)
        .write.mode("overwrite").parquet("/tmp/scale/pqcodes"))
    val pqCodes = spark.read.parquet("/tmp/scale/pqcodes")
    val qv = vecs.filter(col("vec_id") === 123)
      .select(col("embedding").cast("array<double>")).collect().head.getSeq[Double](0)
    t("pq-adc-top10-100k")(
      Similarity.pqAdcSearch(pqCodes, pqCb, qv, topK = 10).collect())
    val coarse64 = Similarity.pqCodebookFromIds(vecs, col("vec_id"), col("embedding"),
      m = 1, k = 64).head
    t("ivfpq-top10-100k-nprobe4-of-64")(
      Similarity.ivfPqSearch(vecs, col("vec_id"), col("embedding"), coarse64, pqCb, qv,
        nprobe = 4, topK = 10).collect())
    // recall@10 of the PQ approximations vs exact squared-L2 (the quality
    // side of the 64×-compression trade; larger k per subspace buys it up)
    locally {
      val qvArr = array(qv.map(lit): _*)
      val exact = vecs
        .select(col("vec_id"), (graft.functions.VecOps.dotD(col("embedding").cast("array<double>"), col("embedding").cast("array<double>"))
          - lit(2.0) * graft.functions.VecOps.dotD(col("embedding").cast("array<double>"), qvArr)).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val adc = Similarity.pqAdcSearch(pqCodes, pqCb, qv, topK = 10)
        .collect().map(_.getLong(0)).toSet
      val ivf = Similarity.ivfPqSearch(vecs, col("vec_id"), col("embedding"), coarse64,
        pqCb, qv, nprobe = 4, topK = 10).collect().map(_.getLong(0)).toSet
      println(s"SCALEINFO pq recall@10 adc=${adc.intersect(exact).size}/10 " +
        s"ivfpq(nprobe4)=${ivf.intersect(exact).size}/10")
    }

    // DSIR: 50k raw docs vs a 5k-doc target — two bucket aggs + one
    // broadcast-joined doc pass (the corpus tokenizes once)
    t("dsir-resample-50k")(
      graft.ext.Corpus.dsirResample(docs50k, docs50k.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), buckets = 4096, k = 1000, seed = "s")
        .write.mode("overwrite").format("noop").save())

    // incremental dedup: a 5k batch against a 45k standing corpus —
    // must cost O(batch), not O(corpus²)
    t("dedup-incremental-5k-into-45k")(
      Dedup.dedupIncremental(
        docs50k.filter(col("doc_id") % 10 =!= 0), docs50k.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"))
        .write.mode("overwrite").format("noop").save())

    // source-overlap + KS drift over 20 synthetic sources (hashed grams;
    // the pair fan-out is C(20,2)-bounded)
    val sourced = docs50k.withColumn("source",
      concat(lit("s"), pmod(col("doc_id"), lit(20)).cast("string")))
    t("source-overlap-50k-20src")(
      graft.ext.Corpus.sourceOverlap(sourced, col("doc_id"), col("text"), col("source"))
        .write.mode("overwrite").format("noop").save())
    t("ks-drift-50k-20src")(
      graft.ext.Corpus.ksDrift(sourced, col("doc_id"), col("text"), col("source"))
        .write.mode("overwrite").format("noop").save())

    // bigram-LM perplexity: LM fit (two hash aggs) + scoring join at 50k
    t("bigram-ppl-50k")(
      graft.ext.TextAnalysis.bigramPerplexity(docs50k, col("doc_id"), col("text"))
        .write.mode("overwrite").format("noop").save())

    // winnowing: one compiled kernel pass per doc; only the ~2m/(w+1)
    // distinct fingerprints reach the shuffle — the pair join must stay
    // keyed on fingerprints even when every doc shares boilerplate runs
    t("winnowing-50k")(
      Dedup.winnowingPairs(docs50k, col("doc_id"), col("text"),
        n = 5, w = 4, minShared = 3)
        .write.mode("overwrite").format("noop").save())

    // segment dedup: worst case is heavy cross-doc boilerplate — every
    // doc shares its leading segment, so one hash key carries 50k
    // occurrences; the keeper agg must absorb that skew in map-side
    // partials (one hash agg + same-key join, no pairwise work)
    val boiler = docs50k.select(col("doc_id"),
      concat(lit("shared header boilerplate tokens here now ok go "), col("text")).as("text"))
    t("segment-dedup-50k-shared-header")(
      Dedup.segmentDedup(boiler, col("doc_id"), col("text"), segTokens = 8)
        .write.mode("overwrite").format("noop").save())
    t("filter-funnel-50k")(
      graft.ext.Corpus.filterFunnel(docs50k, col("doc_id"), col("text"))
        .write.mode("overwrite").format("noop").save())

    // sentence-shared: same skew worst case as segment dedup — EVERY doc
    // opens with one shared sentence, so a single 60-bit key carries 50k
    // rows into the df agg; map-side partials must absorb it
    val sentBoiler = docs50k.select(col("doc_id"),
      concat(lit("accept all cookies to continue. "), col("text")).as("text"))
    t("sentence-shared-50k-boilerplate")(
      Dedup.sentenceShared(sentBoiler, col("doc_id"), col("text"))
        .write.mode("overwrite").format("noop").save())

    // Damerau fuzzy over 50k docs: the kernel is one static call per
    // token; budget-0 terms must stay cheap (the AUTO fast path)
    t("damerau-fuzzy-50k")(
      docs50k.filter(graft.dsl.EsDsl.matchQueryFuzzy(col("text"),
          Seq("sprk", "tble"), t => if (t.length < 3) 0 else if (t.length <= 5) 1 else 2, 2))
        .write.mode("overwrite").format("noop").save())

    // BPE train: 8 merges over the 50k-doc vocabulary — per-iteration work
    // must be vocab-sized (the corpus-sized pass happens once)
    t("bpe-train-8-merges-50k")(
      graft.ext.TextAnalysis.bpeTrain(docs50k, col("text"), nMerges = 8)
        .write.mode("overwrite").format("noop").save())

    // KN perplexity: type-table aggs + scoring join at 50k (c45's shape
    // with two extra vocabulary-sized aggregations)
    t("kn-ppl-50k")(
      graft.ext.TextAnalysis.knPerplexity(docs50k, col("doc_id"), col("text"))
        .write.mode("overwrite").format("noop").save())

    hammingSkewProbes(spark)

    spark.stop()
  }

  /** The c78 skew probes, separately runnable (`graft.tools.ScaleHamming`). */
  def hammingSkewProbes(spark: org.apache.spark.sql.SparkSession): Unit = {
    // ---- banded 64-bit Hamming under hot-band skew (the c78 shape) ----
    // 50k images whose aHash all share band 0 == 0 (letterboxed black
    // bottom rows) with pseudo-random high 48 bits: the unguarded banded
    // self-join piles all 50k rows onto ONE (band_j=0, band=0) key —
    // 2.5e9 candidate pairs before the bit_count filter. The hot-band
    // sub-band refinement re-bands the group on its free 48 bits (12-bit
    // sub-bands → ~12 rows per key) and stays pigeonhole-exact.
    val hotBandSig = spark.range(50_000).select(col("id").as("doc_id"),
      expr("""shiftleft(
                shiftleft(cast(hash(id, 1) as bigint) & 16777215, 24)
                | (cast(hash(id, 2) as bigint) & 16777215), 16)""").as("ahash"))
    val hotPairs = t("hamming64-50k-hot-band")(
      Dedup.hammingPairs64(hotBandSig, "ahash", maxDist = 3).count())
    println(s"SCALEINFO hot-band hamming pairs: $hotPairs (random high bits => ~0)")

    // mass duplicates: 50k blank frames (aHash == 0) + 10k distinct. The
    // pair contract is Θ(dup²) = 1.25e9 rows by definition; the cluster
    // form assigns all 60k docs in one distinct-hash CC + one join.
    val blankSig = spark.range(60_000).select(col("id").as("doc_id"),
      when(col("id") < 50_000, lit(0L))
        .otherwise(expr("shiftleft(cast(hash(id, 3) as bigint), 17)")).as("ahash"))
    val nClusters = t("hamming64-clusters-50k-identical-blanks")(
      Dedup.hammingClusters64(blankSig, "ahash", maxDist = 3)
        .agg(count_distinct(col("cluster"))).collect()(0).getLong(0))
    println(s"SCALEINFO blank-frame clusters: $nClusters of 60000 docs")
  }
}

/** Just the banded-Hamming skew probes (fast iteration on the c78 path). */
object ScaleHamming {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    Scale.hammingSkewProbes(spark)
    spark.stop()
  }
}

/** Round-11 second-half probes (`graft.tools.ScaleSketch`): the sketch,
  * quota and text operators at 500k docs — Bloom build/probe (constant
  * filter size vs benchmark), Count-Min one-pass, the two-phase domain
  * cap under a mega-domain (half the corpus in ONE domain — the skew the
  * two-phase prune exists for), the compiled entropy kernel on long
  * docs, and feature-hash vectors at dim 64. */
object ScaleSketch {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import Scale.t
    import graft.ext.{Corpus, Sketch, TextAnalysis}

    // synthetic corpus: 500k 12-token docs over a 2000-word vocabulary
    def word(i: Int) = expr(s"concat('w', pmod(hash(id, $i), 2000))")
    spark.range(500_000).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(word): _*).as("text"))
      .write.mode("overwrite").parquet("/tmp/scale/sketchdocs")
    val corpus = spark.read.parquet("/tmp/scale/sketchdocs")

    // Bloom: 20k-doc benchmark → m=2^22 filter (64 KB words); probe 480k
    val bench = corpus.filter(col("doc_id") % 25 === 0)
    val filterWords = t("bloom-build-20k-bench")(
      Sketch.bloomBuild(bench, col("text"), nGram = 4, mBits = 1 << 22, k = 3))
    val flagged = t("bloom-probe-480k-docs")(
      Sketch.bloomContamination(corpus.filter(col("doc_id") % 25 =!= 0),
        col("doc_id"), col("text"), filterWords, nGram = 4, k = 3)
        .agg(sum(when(col("flagged"), 1L).otherwise(0L))).collect()(0).getLong(0))
    println(s"SCALEINFO bloom flagged $flagged of 480k (filter ${filterWords.length} longs)")

    // Count-Min over ~6M tokens, vocab 2000
    t("cms-heavy-hitters-500k-docs")(
      Sketch.cmsHeavyHitters(corpus, col("text"), d = 4, w = 1024, topK = 20).collect())

    // domain quota under skew: ONE mega-domain holds HALF the corpus
    val domains = corpus.select(col("doc_id"),
      when(col("doc_id") % 2 === 0, lit("megahost.com"))
        .otherwise(concat(lit("host"), pmod(col("doc_id"), lit(5000)))).as("domain"),
      pmod(hash(col("doc_id")), lit(100000)).as("q"))
    val kept = t("domain-cap-500k-mega-domain")(
      Corpus.domainCap(domains, col("doc_id"), col("domain"), col("q"), cap = 100).count())
    println(s"SCALEINFO domain-cap kept $kept rows (mega-domain capped at 100)")

    // compiled entropy kernel on 100k LONG docs (~600 tokens)
    val longDocs = spark.range(100_000).select(col("id").as("doc_id"),
      repeat(concat(concat_ws(" ", (0 until 12).map(word): _*), lit(" ")), 50).as("text"))
    t("encoding-damage-100k-600tok-docs")(
      TextAnalysis.encodingDamage(longDocs, col("doc_id"), col("text"))
        .agg(avg("tok_entropy")).collect())

    // feature-hash vectors at dim 64 over the full 500k
    t("feature-hash-500k-dim64")(
      TextAnalysis.featureHashVectors(corpus, col("doc_id"), col("text"), 64)
        .write.mode("overwrite").format("noop").save())

    // contamination runs: positional-gram kernel + islands windows,
    // 480k docs against the 20k benchmark
    t("contamination-runs-480k")(
      Corpus.contaminationRuns(corpus.filter(col("doc_id") % 25 =!= 0),
        col("doc_id"), col("text"),
        bench, col("text"), nGram = 4)
        .agg(count(lit(1)), sum("longest_run")).collect())

    // video demux at 100k containers (~600k frames)
    {
      implicit val sp2: org.apache.spark.sql.SparkSession = spark
      import graft.multimodal.Multimodal
      val vids = Multimodal.encodeTestVideos(spark.range(100_000).select(col("id").as("doc_id")))
      vids.write.mode("overwrite").parquet("/tmp/scale/vids")
      val stored = spark.read.parquet("/tmp/scale/vids")
      t("video-demux-100k")(
        Multimodal.videoFrames(stored)
          .agg(count(lit(1)), sum("px_sum")).collect())
      t("video-static-scenes-100k")(
        Multimodal.videoStaticScenes(stored)
          .agg(avg("static_ratio")).collect())
      t("video-keyframes-100k")(
        Multimodal.videoKeyframes(stored)
          .agg(count(lit(1)), max("scene_idx")).collect())
    }

    // CDC chunking at 500k docs, worst-case boilerplate skew: HALF the
    // corpus shares one identical leading run (one hot fingerprint with
    // 250k occurrences) — the agg-based shape has no pairwise work, so
    // the hot chunk is one heavy hash-agg key, nothing more
    val boiler = "terms of service apply to all content on this site " * 2
    val cdcDocs = corpus.select(col("doc_id"),
      when(col("doc_id") % 2 === 0, concat(lit(boiler), col("text")))
        .otherwise(col("text")).as("text"))
    val hot = t("cdc-chunks-500k-boilerplate-skew")(
      graft.ext.Dedup.cdcSharedChunks(cdcDocs, col("doc_id"), col("text"),
        p = 13, minDocs = 2, size = 5).collect())
    println(s"SCALEINFO cdc hot chunk n_docs=${hot.headOption.map(_.getLong(2))}")

    // NFC normalization over 500k docs (every 3rd doc planted decomposed)
    t("nfc-normalize-500k")(
      corpus.select(graft.functions.Normalize.nfcNormalize(
          when(col("doc_id") % 3 === 0,
            regexp_replace(col("text"), "w", "é")).otherwise(col("text"))).as("n"))
        .agg(sum(length(col("n")))).collect())

    // shard-local BM25 (query_then_fetch) over the full 500k: per-shard
    // stats agg is shards-sized, scoring never shuffles the corpus
    t("query-then-fetch-bm25-500k")(
      graft.dsl.EsDsl.matchBm25QueryThenFetch(corpus, col("doc_id"),
          col("text"), Seq("w0", "w1"), shards = 16)
        .agg(count(lit(1)), round(sum("score"), 2)).collect())

    // event analytics at 2M events / 50k users: funnel (per-user sorted
    // fold), cohort retention, transition matrix — all one-shuffle shapes
    val bigEvents = spark.range(2_000_000).select(
      col("id").as("event_id"),
      to_timestamp(lit("2024-01-01 00:00:00")).plus(
        expr("make_interval(0, 0, 0, 0, 0, cast(id % 100000 as int), 0)")).as("ts"),
      pmod(hash(col("id")), lit(50000L)).as("user_id"),
      element_at(array(lit("signup"), lit("view"), lit("click"), lit("purchase")),
        pmod(hash(col("id"), lit(7)), lit(4)).cast("int") + 1).as("event_type"))
      .withColumn("value", lit(1.0))
    bigEvents.write.mode("overwrite").parquet("/tmp/scale/events2m")
    val ev2m = spark.read.parquet("/tmp/scale/events2m")
    t("funnel-2m-events-50k-users")(
      graft.ext.Sessionize.funnel(ev2m, Seq("signup", "view", "purchase"),
        withinSeconds = Some(36000L)).collect())
    t("cohort-retention-2m-events")(
      graft.ext.Sessionize.cohortRetention(ev2m).collect())
    t("transitions-2m-events")(
      graft.ext.Sessionize.eventTransitions(ev2m).collect())

    // PageRank: 200k nodes / ~1M edges, 3 iterations
    val prNodes = 200000L
    val prEdges = spark.range(prNodes).select(col("id").as("src"),
        explode(sequence(lit(1), (col("id") % 8 + 2).cast("int"))).as("k"))
      .select(col("src"), pmod(col("src") * 31 + col("k") * 7919, lit(prNodes)).as("dst"))
      .filter(col("src") =!= col("dst"))
    t("pagerank-200k-nodes-1m-edges-3iters")(
      graft.ext.Web.pageRank(prEdges, prNodes, iters = 3)
        .agg(round(sum("rank"), 4)).collect())

    // _bulk: 500k-item batch (200k index / 100k update / 100k delete /
    // 100k create) onto a 300k-doc standing index — one cogroup
    {
      val sess = spark
      import sess.implicits._
      val standing = spark.range(300000).select(col("id"),
        map(lit("v"), concat(lit("old"), col("id"))).as("doc"))
      val ops = spark.range(500000).select(
        col("id").as("seq"),
        (col("id") % 400000).as("_id"),
        element_at(array(lit("index"), lit("update"), lit("delete"), lit("create"),
          lit("index")), pmod(col("id"), lit(5L)).cast("int") + 1).as("op"))
        .as[(Long, Long, String)]
        .map { case (seq, id, op) =>
          graft.dsl.EsBulk.BulkOp(seq, op, id,
            if (op == "delete") null else Map("v" -> s"n$seq"))
        }
      t("bulk-500k-items-300k-index")(
        graft.dsl.EsBulk.items(standing, ops)
          .groupBy("result").count().collect())
    }

    spark.stop()
  }
}

/** Round-12 probes: HDR sketch tables, theta intersections, index-time
  * shingle BM25, IVF-PQ re-rank — the new ops at 10–100× bench SF. */
object ScaleRound12 {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import Scale.t
    import graft.ext.{Sketch, Similarity}

    // HDR sketch tables: 20M values over 60 days; dailies → merge →
    // percentiles (sketch-sized after the one hash agg)
    val vals = spark.range(20_000_000).select(
      concat(lit("d"), pmod(col("id"), lit(60))).as("day"),
      (pmod(hash(col("id")), lit(1_000_000L)) + 1_000_001L).as("v"))
    val daily = t("hdr-daily-20m-60days")(
      graft.ext.Dedup.persistOnce(
        Sketch.hdrHistogram(vals, Seq(col("day")), col("v"))))
    println(s"SCALEINFO hdr daily rows ${daily.count()}")
    t("hdr-merge-plus-percentiles")(
      Sketch.hdrPercentiles(Sketch.hdrMerge(daily), Seq(0.5, 0.95, 0.99)).collect())

    // theta sketches: 2M (set, elem) pairs over 50 sets (~40k distinct
    // elements each, overlapping) → 1225 pair estimates
    val elems = spark.range(2_000_000).select(
      concat(lit("s"), pmod(col("id"), lit(50))).as("src"),
      concat(lit("e"), pmod(hash(col("id")), lit(60_000L))).as("elem"))
    t("theta-sketch-2m-50sets")(
      Sketch.thetaIntersections(
        Sketch.thetaSketches(elems, col("src"), col("elem"), k = 256), k = 256)
        .agg(count(lit(1)), round(avg("est"), 2)).collect())

    // index-time shingle BM25: 500k 12-token docs, scored match with
    // unigram + shingle terms over the kernel-expanded stored stream
    def word(i: Int) = expr(s"concat('w', pmod(hash(id, $i), 2000))")
    val docs = spark.range(500_000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(word): _*).as("text"))
    t("shingle-bm25-500k-docs")(
      graft.dsl.EsQueryJson.withShingles("sh", outputUnigrams = true) {
        graft.dsl.EsQueryJson.withIndexAnalyzer("text", "sh") {
          graft.dsl.EsQueryJson.search(docs,
            """{"query": {"match": {"text": "w17 w17_w42"}},
              | "sort": ["_score", "doc_id"], "size": 20}""".stripMargin).collect()
        }
      })

    // IVF-PQ + exact re-rank over 200k 16-d vectors, 3 queries
    val vecs = graft.ext.Dedup.persistOnce(spark.range(200_000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        j => pmod(hash(col("id"), j), lit(1000)).cast("double") / 500.0 - 1.0)
        .as("embedding")))
    val coarse = Similarity.pqCodebookFromIds(vecs, col("vec_id"), col("embedding"),
      m = 1, k = 16).head
    val cb = Similarity.pqCodebookFromIds(vecs, col("vec_id"), col("embedding"),
      m = 8, k = 16)
    val qs = Seq(1L, 2L, 3L).map(q => q ->
      vecs.filter(col("vec_id") === q).collect()(0).getSeq[Double](1).toSeq)
    t("ivfpq-rerank-200k-3queries")(
      Similarity.ivfPqSearchManyRerank(vecs, col("vec_id"), col("embedding"),
        coarse, cb, qs, nprobe = 4, topK = 10).collect())

    spark.stop()
  }
}

/** Round-12 probe: the over-common-fingerprint guard. 50k docs all
  * sharing one 12-token boilerplate sentence (plus unique content, and
  * 50 planted genuine near-dup pairs) — without the guard the
  * boilerplate fingerprints alone witness ~1.25e9 candidate pairs; with
  * it the pair join sees only rare fingerprints. */
object ScaleFpGuard {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import Scale.t
    def tok(tag: String, i: Int) = expr(s"concat('$tag', pmod(hash(id, $i), 100000))")
    val boiler = (1 to 12).map(i => s"bp$i").mkString(" ")
    // 50k docs: boilerplate + 12 unique tokens; ids 2k/2k+1 share content
    val docs = spark.range(50_000).select(col("id").as("doc_id"),
      concat_ws(" ", lit(boiler) +:
        (0 until 12).map(i => expr(s"concat('u', pmod(hash(floor(id / 2), $i), 100000))")): _*)
        .as("text"))
    val n = t("fp-guard-50k-docs-hot-boilerplate")(
      graft.ext.Dedup.winnowingPairs(docs, col("doc_id"), col("text"),
        n = 5, w = 4, minShared = 1, maxDf = 100).count())
    println(s"SCALEINFO fp-guard pairs $n (25000 planted + incidental rare overlaps, 0 boilerplate)")
    spark.stop()
  }
}

/** Round-12 probes, continued: ExactSubstr run scrub + Heaps curve at
  * 10-20x bench document counts (synthetic corpus with planted
  * cross-doc duplicated runs). */
object ScaleRound12c {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import Scale.t

    // 100k docs x ~60 tokens; every 10th doc embeds a shared 12-token
    // boilerplate run (duplicated across 10k docs -> scrubbed), the rest
    // unique-ish tokens from a 200k vocab
    val boiler = (1 to 12).map(i => s"bp$i").mkString(" ")
    val docs = graft.ext.Dedup.persistOnce(spark.range(100_000)
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 24).map(i => expr(s"concat('u', pmod(hash(id, $i), 200000))")) ++
          Seq(when(col("id") % 10 === 0, boiler).otherwise(
            concat_ws(" ", (24 until 36).map(i =>
              expr(s"concat('u', pmod(hash(id, $i), 200000))")): _*))) ++
          (36 until 60).map(i => expr(s"concat('u', pmod(hash(id, $i), 200000))")): _*)
          .as("text")))
    println(s"SCALEINFO docs ${docs.count()}")
    val scrub = t("run-scrub-100k-docs")(
      graft.ext.Dedup.scrubDuplicateRuns(docs, col("doc_id"), col("text"),
        n = 3, minDocs = 2, minRun = 8).count())
    println(s"SCALEINFO scrubbed-docs-remaining $scrub")
    val heaps = t("heaps-curve-100k-docs-6m-tokens")(
      graft.ext.TextAnalysis.heapsCurve(docs, col("doc_id"), col("text"), k = 8)
        .collect())
    println(s"SCALEINFO heaps last row ${heaps.last}")
    spark.stop()
  }
}

/** Round-13 probe: [[graft.ext.TextAnalysis.rankedVocab]] at web-scale
  * vocabulary size — the round-12 rewrite's load-bearing claim is that
  * the rank + running-sum prefix scan stays distributed (range partition
  * + per-partition offsets, NO single-partition Window) even when the
  * vocabulary itself is 10⁷+ distinct tokens. 12M distinct tokens here
  * (~100× the sf0.1 vocab); the probe validates rank/cum invariants so
  * a silent correctness regression can't hide behind the timing. Also
  * probes the round-13 streaming sketch tables: 10 micro-batches of 1M
  * mutations each — per-batch maintenance must stay O(sketch), flat
  * across batches, not grow with the table's accumulated history. */
object ScaleRound13 {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import Scale.t

    // ---- rankedVocab: 12M distinct tokens, Zipf-ish counts ----
    val counts = graft.ext.Dedup.persistOnce(spark.range(12_000_000).select(
      concat(lit("t"), col("id")).as("tok"),
      ((lit(1_000_000L) / (pmod(hash(col("id")), lit(999_999L)) + 1L)).cast("long") + 1L)
        .as("cnt")))
    val totalMass = counts.agg(sum("cnt")).collect()(0).getLong(0)
    val ranked = t("ranked-vocab-12m-distinct")(
      graft.ext.Dedup.persistOnce(graft.ext.TextAnalysis.rankedVocab(counts)))
    val n = ranked.count()
    val inv = ranked.agg(max("rank"), count_distinct(col("rank")), max("cum"))
      .collect()(0)
    println(s"SCALEINFO ranked-vocab rows $n maxRank ${inv.getLong(0)} " +
      s"distinctRanks ${inv.getLong(1)} cumMass ${inv.getLong(2)} expected $totalMass")
    require(n == 12_000_000L && inv.getLong(0) == n && inv.getLong(1) == n &&
      inv.getLong(2) == totalMass, "rankedVocab invariants violated at 12M tokens")
    // rank order must agree with (cnt desc, tok asc): spot-check boundaries
    val head = ranked.orderBy("rank").limit(3).collect().map(_.getLong(1)) // cnt at ranks 1..3
    require(head.sliding(2).forall(p => p(0) >= p(1)), "rank order broken at head")

    // ---- packShards at 5M docs: the serpentine shard assignment is a
    // permutation of ranks, so shard doc-counts must balance to ±1 —
    // rank collisions from the cross-job range-assignment bug (fixed by
    // the load-bearing persistOnce, same class as rankedVocab) would
    // skew them. Probes the fix in Corpus.packShards/packTokens/
    // paddingWaste, which share the pattern.
    val sdocs = spark.range(5_000_000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 3).map(i =>
        expr(s"repeat('w$i ', pmod(hash(id, $i), 4) + 1)")): _*).as("text"))
    val shards = t("pack-shards-5m-docs")(
      graft.ext.Corpus.packShards(sdocs, col("doc_id"), col("text"), nShards = 64)
        .collect())
    val docCounts = shards.map(_.getLong(1))
    println(s"SCALEINFO pack-shards shards ${shards.length} docBalance " +
      s"${docCounts.max - docCounts.min} totalDocs ${docCounts.sum}")
    require(shards.length == 64 && docCounts.sum == 5_000_000L &&
      docCounts.max - docCounts.min <= 1,
      "packShards rank permutation broken at 5M docs")

    // ---- streaming sketch tables: 10 batches x 1M mutations ----
    val dir = java.nio.file.Files.createTempDirectory("graft-scale-sketch").toString
    def mkBatch(b: Int) = spark.range(1_000_000).select(
      concat(lit("u"), pmod(hash(col("id"), lit(b)), lit(300_000L))).as("row_key"),
      lit("U").as("op"),
      timestamp_micros(lit(1700000000000000L) + (col("id") % 30) * 86400000000L).as("ts"),
      col("id").as("seq"),
      array(struct(lit("f").as("family"), lit("q").as("qualifier"),
        repeat(lit("x"), (pmod(hash(col("id"), lit(b + 100)), lit(500)) + 1).cast("int"))
          .as("value"))).as("cells"))
    (0 until 10).foreach { b =>
      t(s"sketch-batch-$b-1m-mutations")(
        graft.streaming.SketchTable.updateForBatch(spark, dir, mkBatch(b), b.toLong))
    }
    val hdrRows = graft.streaming.SketchTable.readHdr(spark, dir).count()
    val days = graft.streaming.SketchTable.distinctKeysByDay(spark, dir).count()
    println(s"SCALEINFO sketch-table hdr-rows $hdrRows days $days (10M mutations in)")
    // DENSE-mode HLL invariant: at ~300k distinct keys/day the sketches
    // are far past exact list/set mode — the 10-fold union-of-unions
    // estimate must still equal the one-shot sketch over the full 10M-row
    // log (register-max union is associative; this is the 100 TB
    // incremental-maintenance claim at a cardinality where it could
    // actually diverge if the union were lossy)
    val full = (0 until 10).map(mkBatch).reduce(_ unionByName _)
    val oneShotEst = graft.streaming.SketchTable.oneShot(full)._2
      .select(col("day"), hll_sketch_estimate(col("sk")).as("e"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val incEst = graft.streaming.SketchTable.distinctKeysByDay(spark, dir)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    require(incEst == oneShotEst,
      s"incremental HLL diverged from one-shot in dense mode: " +
        s"${incEst.toSeq.sorted.take(3)} vs ${oneShotEst.toSeq.sorted.take(3)}")
    println(s"SCALEINFO hll dense-mode union == one-shot across ${incEst.size} days")
    spark.stop()
  }
}

/** Round-14 SKEW soak for the event/session family: ONE user with 5M
  * events (beside 10k normal users × 100 events) through sessionize /
  * funnel / transitions / paths / attribution / RFM. Every operator here
  * partitions by user_id, so the whale is the worst case: its 5M rows
  * land in ONE window partition / ONE collect_list — the in-row sorted
  * folds and single-pass windows must absorb it without a straggler
  * blowing up (the c71-class probe the round-13 verdict asked for). The
  * fixture is analytic (types cycle view→click→cart→purchase; the whale
  * gaps every 1000 events), so each report has an exact expected shape —
  * a silent skew-truncation can't hide behind the timing. */
/** Round-14c: the composed prep pipeline (c136/c137) under the skew a
  * web-scale corpus actually has — a 200k-copy mass duplicate (ONE hot
  * fingerprint key), a mega-source holding ~90% of docs (temperature
  * mix must still hit the target from post-filter counts), and an eval
  * split whose 4-grams contaminate a slice of the corpus. Asserts the
  * funnel chains, the mass-dup collapses to ONE survivor, and the mix
  * lands within Bernoulli noise of the target. */
object ScaleRound14c {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import Scale.t

    val vocab = typedLit((0 until 997).map(i => s"w$i"))
    // 2M base docs, 24 deterministic vocab tokens each; source skew:
    // 90% "web", the rest across 9 small sources
    val base = spark.range(2_000_000).select(
      col("id").as("doc_id"),
      // 23 progression tokens + ONE per-doc unique token: without the
      // unique suffix the mod-997 progression yields only 997 distinct
      // texts and dedup collapses the whole corpus (this probe's first
      // run did exactly that — the funnel made it obvious)
      concat(array_join(transform(sequence(lit(0), lit(22)),
        i => element_at(vocab, pmod(col("id") * 31 + i.cast("long") * 7, lit(997L))
          .cast("int") + 1)), " "),
        lit(" u"), col("id")).as("text"),
      when(pmod(col("id"), lit(10L)) < 9, "web")
        .otherwise(concat(lit("src"), pmod(col("id"), lit(10L)))).as("source"))
    // the mass duplicate: 200k copies of one fixed text in the mega-source
    val dupText = (0 until 24).map(i => s"w${(31 + i * 7) % 997}").mkString(" ")
    val dups = spark.range(200_000).select(
      (col("id") + 2_000_000L).as("doc_id"),
      lit(dupText).as("text"), lit("web").as("source"))
    val docs = graft.ext.Dedup.persistOnce(base.unionByName(dups))
    // eval set: each eval gram is an arithmetic token progression that
    // matches one residue class of corpus 4-gram starts — each eval doc
    // contaminates ~21/997 of the corpus, so TEN eval docs flag ~19%
    // (1000 would cover every residue and scrub the whole corpus — the
    // first cut of this probe did exactly that)
    val eval_ = spark.range(10).select(
      (col("id") + 9_000_000L).as("doc_id"),
      array_join(transform(sequence(lit(0), lit(3)),
        i => element_at(vocab, pmod(col("id") * 2000L * 31 + i.cast("long") * 7, lit(997L))
          .cast("int") + 1)), " ").as("text"))

    val funnel = t("prep-pipeline-funnel-2.2M")(
      graft.ext.Corpus.prepPipelineFunnel(docs, col("doc_id"), col("text"),
        col("source"), eval_, col("text"), nGram = 4, alpha = 0.6,
        targetTotal = 50_000L, minWords = 10, maxWords = 100000,
        minMeanLen = 1.0, maxMeanLen = 10.0, minStopwords = 0,
        maxTopTokFrac = 1.0)
        .orderBy("stage_idx").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3))))
    funnel.foreach { case (s, in, kept) => println(s"SCALEINFO prep stage $s in $in kept $kept") }
    require(funnel(0)._2 == 2_200_000L, s"input ${funnel(0)._2}")
    // funnel chains
    funnel.sliding(2).foreach { case Array(p, n) =>
      require(n._2 == p._3, s"stage ${n._1} n_in must chain") }
    // the 200k-copy duplicate collapses to its min-id survivor: dedup
    // removes AT LEAST 199_999 rows (deterministic generator may add a
    // handful of organic collisions on top)
    val dedupRemoved = funnel(1)._2 - funnel(1)._3
    require(dedupRemoved >= 199_999L, s"dedup removed only $dedupRemoved")
    // quality passes everything (thresholds open) minus nothing at 24
    // clean tokens; decon drops a nonzero contaminated slice; mix lands
    // within 5 sigma of the 50k target (hash-Bernoulli)
    require(funnel(3)._2 > funnel(3)._3, "decontamination removed nothing")
    val selected = funnel(4)._3
    val tol = 5 * math.sqrt(50_000.0)
    require(math.abs(selected - 50_000L) <= tol,
      s"mix landed at $selected, target 50000 +- $tol")
    // per-source balance: small sources upweighted by alpha<1 — every
    // small source must keep MORE than its raw share would give
    val bySource = t("prep-pipeline-select-by-source")(
      graft.ext.Corpus.prepPipeline(docs, col("doc_id"), col("text"),
        col("source"), eval_, col("text"), nGram = 4, alpha = 0.6,
        targetTotal = 50_000L, minWords = 10, maxWords = 100000,
        minMeanLen = 1.0, maxMeanLen = 10.0, minStopwords = 0,
        maxTopTokFrac = 1.0)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    val webShare = bySource("web").toDouble / bySource.values.sum
    println(s"SCALEINFO prep mix web share ${math.round(webShare * 1000) / 1000.0} " +
      s"(raw corpus share ~0.9)")
    require(webShare < 0.85, s"temperature mix did not downweight the mega-source: $webShare")
    println("SCALEINFO prep pipeline soak complete")
    spark.stop()
  }
}

object ScaleRound14b {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import graft.ext.Sessionize
    import Scale.t

    val types = typedLit(Seq("view", "click", "cart", "purchase"))
    val base = 1700000000000000L
    // the whale: 5M events, 1 s apart, a 2 h gap every 1000 events
    // (=> exactly 5000 sessions of 1000 events)
    val whale = spark.range(5_000_000).select(
      lit(9_999_999L).as("user_id"),
      col("id").as("event_id"),
      timestamp_micros(lit(base) + col("id") * 1000000L +
        (col("id") / 1000L).cast("long") * 7200L * 1000000L).as("ts"),
      element_at(types, (col("id") % 4 + 1).cast("int")).as("event_type"),
      lit(1.0).as("value"))
    // 10k normal users × 100 events, 10 s apart (one session each)
    val normal = spark.range(1_000_000).select(
      (col("id") % 10000L).as("user_id"),
      col("id").as("event_id"),
      timestamp_micros(lit(base) + (col("id") / 10000L).cast("long") * 10L * 1000000L).as("ts"),
      element_at(types, ((col("id") / 10000L).cast("long") % 4 + 1).cast("int")).as("event_type"),
      lit(1.0).as("value"))
    val events = graft.ext.Dedup.persistOnce(whale.unionByName(normal))
    require(events.count() == 6_000_000L)

    // sessionize: the whale's 5M rows sort in ONE window partition
    val stats = t("skew-sessionize-userstats")(
      Sessionize.userStats(events, gapMinutes = 30)
        .filter(col("user_id") === 9_999_999L).collect())
    require(stats.length == 1 && stats(0).getLong(1) == 5000L &&
      stats(0).getLong(2) == 5_000_000L && stats(0).getLong(3) == 1000L,
      s"whale session stats wrong: ${stats.toSeq}")
    println(s"SCALEINFO skew whale sessions ${stats(0).getLong(1)} " +
      s"events ${stats(0).getLong(2)} maxSess ${stats(0).getLong(3)}")

    // funnel: the whale's 5M funnel-relevant events fold in ONE in-row
    // aggregate; types cycle, so EVERY user completes all 4 stages
    val fun = t("skew-funnel-4stage")(
      Sessionize.funnel(events, Seq("view", "click", "cart", "purchase")).collect())
    require(fun.length == 1 && fun(0).getInt(0) == 4 && fun(0).getLong(1) == 10001L,
      s"funnel rows: ${fun.toSeq}")
    println(s"SCALEINFO skew funnel complete-stage users ${fun(0).getLong(1)}")

    // transitions: the cycle makes every from->to deterministic (p = 1.0)
    val tr = t("skew-transitions")(Sessionize.eventTransitions(events).collect())
    require(tr.length == 4 && tr.forall(_.getDouble(3) == 1.0),
      s"transitions: ${tr.toSeq}")

    // paths: every user's first 3 events are view>click>cart
    val paths = t("skew-top-paths")(Sessionize.topPaths(events).collect())
    require(paths.length == 1 && paths(0).getString(0) == "view>click>cart" &&
      paths(0).getLong(1) == 10001L, s"paths: ${paths.toSeq}")

    // attribution: cart always precedes purchase within the hour (the
    // whale's 2 h gaps never land before a purchase: gap idx % 1000 == 0
    // is a view)
    val attr = t("skew-attribution")(
      Sessionize.lastTouchAttribution(events, "purchase", withinSeconds = 3600L).collect())
    require(attr.length == 1 && attr(0).getString(0) == "cart",
      s"attribution: ${attr.toSeq}")
    val nConv = attr(0).getLong(1)
    require(nConv == 1_250_000L + 10000L * 25L, s"conversions $nConv")

    // RFM: quantile cutoffs, no global ntile — whale lands in one segment
    val rfm = t("skew-rfm")(Sessionize.rfmSegments(events, col("value")).collect())
    require(rfm.map(_.getLong(1)).sum == 10001L, s"rfm users ${rfm.map(_.getLong(1)).sum}")
    println(s"SCALEINFO skew rfm segments ${rfm.length} users ${rfm.map(_.getLong(1)).sum}")
    println("SCALEINFO skew soak complete: whale absorbed by every operator")
    spark.stop()
  }
}

/** Round-14d: the END-TO-END bridge — CDC mutations through the
  * incremental bucketed index, then the composed prep pipeline run ON the
  * materialized doc state (the "mutations → training selection" workflow a
  * 100 TB operator composes from this library's two halves). What only the
  * bridge can pin: LAST-WINS text must feed prep — a doc whose EARLIER
  * versions were mass duplicates but whose final version is unique must
  * survive dedup (a stale-version feed would collapse it), a doc whose
  * FINAL version joins a duplicate family must collapse, and deleted keys
  * must be absent from the corpus prep sees. Selection from the index must
  * equal selection from the one-shot (ts, seq) fold exactly. */
object ScaleRound14d {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import graft.streaming.{BucketedIndex, Pipeline}
    import Scale.t

    val root = java.nio.file.Files.createTempDirectory("graft-bridge").toString
    val cfg = Pipeline.Config(
      changeLogDir = "unused", indexDir = s"$root/index",
      checkpointDir = "unused", quarantineDir = Some(s"$root/quarantine"),
      vacuumEveryBatches = 4)

    val vocab = typedLit((0 until 997).map(i => s"w$i"))
    // batch b rewrites keys [(b*500k) mod 1M, +500k): keys < 500k last
    // written by batch 6, keys >= 500k by batch 7 — deterministic final
    // state. First 23 tokens depend on the KEY only (so the eval residue
    // construction below contaminates a stable slice); the unique suffix
    // carries the BATCH so every rewrite changes content (last-wins is
    // observable). Special blocks:
    //   keys 100k..110k: batches 0/2/4 write ONE shared text (mass dup),
    //     batch 6 rewrites each to unique — final state must NOT dedup
    //   keys 600k..610k: batches 1/3/5 unique, batch 7 writes the shared
    //     text — final state MUST dedup to one survivor
    //   keys 900k..905k: batch 7 deletes them
    val dupText = (0 until 24).map(i => s"dup${i % 7}").mkString(" ")
    def mkBatch(b: Int) = {
      val k = pmod(lit(b.toLong) * 500000L + col("id"), lit(1000000L))
      val earlyDup = k >= 100000L && k < 110000L && lit(b % 2 == 0 && b < 6)
      val lateDup = k >= 600000L && k < 610000L && lit(b == 7)
      val del = k >= 900000L && k < 905000L && lit(b == 7)
      val uniq = concat(lit(" u"), k, lit("b"), lit(b))
      val text = when(earlyDup || lateDup, lit(dupText)).otherwise(
        concat(array_join(transform(sequence(lit(0), lit(22)),
          i => element_at(vocab, pmod(k * 31 + i.cast("long") * 7, lit(997L))
            .cast("int") + 1)), " "), uniq))
      val source = when(pmod(k, lit(10L)) < 9, "web")
        .otherwise(concat(lit("src"), pmod(k, lit(10L))))
      spark.range(500000).select(
        concat(lit("d"), k).as("row_key"),
        when(del, "D").otherwise("U").as("op"),
        timestamp_micros(lit(1700000000000000L) + lit(b.toLong) * 3600000000L +
          col("id") * 1000L).as("ts"),
        (lit(b.toLong) * 500000L + col("id")).as("seq"),
        array(
          struct(lit("f").as("family"), lit("text").as("qualifier"),
            text.as("value")),
          struct(lit("f").as("family"), lit("source").as("qualifier"),
            source.as("value"))).as("cells"))
    }

    val nBatches = 8
    (0 until nBatches).foreach { b =>
      val dt = t(f"bridge-batch-$b%02d-500k")(
        Pipeline.applyIncrementalBatch(spark, cfg, mkBatch(b), b.toLong,
          nBuckets = 128))
    }

    def corpus(df: org.apache.spark.sql.DataFrame) = df.select(
      col("id").as("doc_id"),
      element_at(col("info"), "text").as("text"),
      element_at(col("info"), "source").as("source"))
    val fromIndex = graft.ext.Dedup.persistOnce(
      corpus(BucketedIndex.read(spark, cfg.indexDir)))
    val all = (0 until nBatches).map(mkBatch).reduce(_ unionByName _)
    val fromFold = graft.ext.Dedup.persistOnce(
      corpus(Merge.fold(all.filter(!Pipeline.isMalformed))))

    // live doc state: 1M keys - 5k deletes
    val n = fromIndex.count()
    require(n == 995000L, s"live corpus from index: $n (expected 995000)")
    val key = substring(col("doc_id"), 2, 10).cast("long")
    require(fromIndex.filter(key >= 900000L && key < 905000L).count() == 0L,
      "deleted keys leaked into the prep corpus")

    // the eval residue construction of ScaleRound14c against the
    // key-only leading tokens
    val eval_ = spark.range(10).select(
      (col("id") + 9000000L).cast("string").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(3)),
        i => element_at(vocab, pmod(col("id") * 2000L * 31 + i.cast("long") * 7,
          lit(997L)).cast("int") + 1)), " ").as("text"))

    def funnelOf(docs: org.apache.spark.sql.DataFrame) =
      graft.ext.Corpus.prepPipelineFunnel(docs, col("doc_id"), col("text"),
        col("source"), eval_, col("text"), nGram = 4, alpha = 0.6,
        targetTotal = 50000L, minWords = 10, maxWords = 100000,
        minMeanLen = 1.0, maxMeanLen = 10.0, minStopwords = 0,
        maxTopTokFrac = 1.0)
        .orderBy("stage_idx").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val funnel = t("bridge-prep-funnel-995k")(funnelOf(fromIndex))
    funnel.foreach { case (s, in, kept) =>
      println(s"SCALEINFO bridge stage $s in $in kept $kept") }

    // LAST-WINS dedup semantics: only the late-dup block collapses
    // (9_999 removed); the early-dup-then-unique block must survive.
    val dedupRemoved = funnel(1)._2 - funnel(1)._3
    require(dedupRemoved >= 9999L && dedupRemoved <= 10050L,
      s"dedup removed $dedupRemoved (expected ~9999: late-dup collapses, " +
        "early-dup-rewritten-unique survives)")
    require(funnel(3)._2 > funnel(3)._3, "decontamination removed nothing")
    val selected = funnel(4)._3
    require(math.abs(selected - 50000L) <= 5 * math.sqrt(50000.0),
      s"mix landed at $selected")

    // selection from the materialized index == selection from the
    // one-shot fold, row for row
    def select(docs: org.apache.spark.sql.DataFrame) =
      graft.ext.Corpus.prepPipeline(docs, col("doc_id"), col("text"),
        col("source"), eval_, col("text"), nGram = 4, alpha = 0.6,
        targetTotal = 50000L, minWords = 10, maxWords = 100000,
        minMeanLen = 1.0, maxMeanLen = 10.0, minStopwords = 0,
        maxTopTokFrac = 1.0)
    val sIdx = select(fromIndex)
    val sFold = select(fromFold)
    val diff = t("bridge-select-index-vs-fold")(
      sIdx.exceptAll(sFold).count() + sFold.exceptAll(sIdx).count())
    require(diff == 0L, s"selection diverged between index and fold: $diff rows")
    println(s"SCALEINFO bridge selection from index == from one-shot fold " +
      s"($selected docs); mutations -> index -> prep pipeline closed end to end")
    spark.stop()
  }
}

/** Round-16 serving-path scale probe (VERDICT item 6): synthesize a 10×
  * corpus — `documents` and `orders` replicated 10× with perturbed ids,
  * dimension tables kept 1× (the realistic fact/dim shape) — and run the
  * slowest ES-JSON serving rows at 1× and 10×. Linear scaling shows as a
  * ratio near 10 minus fixed overhead; a ratio well past it flags a
  * hidden superlinear term the sf0.1 corpus is too small to surface.
  * Results recorded in BASELINE.md. */
object ScaleRound16 {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = "/tmp/scale16/sf10x"

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // build the 10× dir: replicate the two fact tables with id
    // perturbation (text/keys otherwise identical — df and N scale
    // together, so BM25 work scales with the corpus), pass dims through
    val rep = spark.range(10).select(col("id").as("_rep"))
    spark.read.parquet(s"$src/documents.parquet").crossJoin(rep)
      .withColumn("doc_id", col("doc_id") * 10 + col("_rep")).drop("_rep")
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    spark.read.parquet(s"$src/orders.parquet").crossJoin(rep)
      .withColumn("o_orderkey", col("o_orderkey") * 16 + col("_rep")).drop("_rep")
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    Seq("customer", "supplier", "part", "nation", "region", "lineitem",
      "events", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    println("SCALEINFO 10x dir built")

    val rows = Seq(
      "a118_more_like_this_bm25", "a38_more_like_this", "a209_es_json_more_like_this",
      "a171_es_json_index_time_synonyms", "a197_es_json_index_time_shingles",
      "a204_es_json_index_time_english", "a206_es_json_shingle_search_analyzer",
      "a240_es_json_edge_ngram_autocomplete", "a235_es_json_scored_bool_should_gating",
      "a39_es_json_rescore", "a31_es_json_bool_score", "a21_es_json_top_hits",
      "a22_es_json_percentiles", "a131_es_json_nested_sort", "a122_es_json_sort_mode",
      "a28_es_json_nested", "a94_es_json_reverse_nested", "a79_es_json_nested_agg",
      "a103_es_json_parent_join", "a113_es_json_children_agg", "a143_es_json_inner_hits")

    // warm both dirs so neither side pays first-scan costs
    Seq(src, dst).foreach { d =>
      materialize(spark.read.parquet(s"$d/documents.parquet"))
      materialize(spark.read.parquet(s"$d/orders.parquet"))
    }

    def time(name: String, dir: String): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        materialize(graft.SparkEntry.queries(name)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.min

    println(f"${"row"}%-42s ${"t1x"}%8s ${"t10x"}%8s ${"ratio"}%7s")
    var worst = ("", 0.0)
    rows.foreach { n =>
      val t1 = time(n, src)
      val t10 = time(n, dst)
      val r = t10 / t1
      if (r > worst._2) worst = (n, r)
      println(f"SCALE16 $n%-40s $t1%8.2f $t10%8.2f $r%7.2fx")
    }
    println(f"SCALE16 worst ratio: ${worst._1} ${worst._2}%.2fx")
    spark.stop()
  }
}

/** Round-17 probe: the Tier-C pairwise/serving family at 10× data.
  * Replicating the corpus with id perturbation but IDENTICAL text makes
  * every document a 10-way duplicate group — the dup-heavy regime these
  * operators exist for — so the probe simultaneously measures scaling AND
  * stresses the candidate-bounding machinery (banded LSH, df caps,
  * distinct-hash clustering) where a naive pairwise pass would go 100×.
  * knnBrute rides along as the documented quadratic baseline the IVF/PQ
  * serving paths are measured against. Rows run through the exact
  * SparkEntry.queries harness the correctness gate uses. */
object ScaleRound17 {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = "/tmp/scale17/sf10x"

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val rep = spark.range(10).select(col("id").as("_rep"))
    spark.read.parquet(s"$src/documents.parquet").crossJoin(rep)
      .withColumn("doc_id", col("doc_id") * 10 + col("_rep")).drop("_rep")
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    // keep rep-0 ids ORIGINAL: the ANN rows' query fixtures reference them
    spark.read.parquet(s"$src/embeddings.parquet").crossJoin(rep)
      .withColumn("vec_id", col("vec_id") + col("_rep") * 1000000L).drop("_rep")
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    // events: 10× USERS (per-user journeys unchanged — the realistic axis)
    spark.read.parquet(s"$src/events.parquet").crossJoin(rep)
      .withColumn("user_id", col("user_id") + col("_rep") * 1000000L)
      .withColumn("event_id", col("event_id") * 16 + col("_rep")).drop("_rep")
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    Seq("customer", "supplier", "part", "nation", "region", "lineitem",
      "orders").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    println("SCALEINFO 10x dir built (docs+embeddings replicated, events 10x users)")

    val rows = Seq(
      // dedup family: candidate-bounded paths under 10-way dup groups
      "c01_dedup_exact", "c02_minhash_lsh", "c03_simhash_pairs",
      "c04_ngram_jaccard_capped", "c24_dedup_clusters", "c30_dup_spans",
      "c102_cdc_chunks", "c124_containment_pairs", "c25_decontaminate",
      // similarity serving: quadratic baseline vs the indexed paths
      "c06_knn_brute", "c07_knn_ivf", "c05_embed_neardup_banded",
      "c120_ann_rerank_gate",
      // event/sketch ops that must stay user- or sketch-bounded
      "c12_sessionize", "c107_event_funnel", "c110_pagerank",
      "c118_hdr_sketch_tables", "c121_theta_intersection")

    Seq(src, dst).foreach { d =>
      Seq("documents", "embeddings", "events").foreach(t =>
        materialize(spark.read.parquet(s"$d/$t.parquet")))
    }

    def time(name: String, dir: String): Double =
      (1 to 2).map { _ =>
        graft.CachedFrames.clear()
        val t0 = System.nanoTime()
        materialize(graft.SparkEntry.queries(name)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.min

    println(f"${"row"}%-32s ${"t1x"}%8s ${"t10x"}%8s ${"ratio"}%7s")
    var worst = ("", 0.0)
    rows.foreach { n =>
      val t1 = time(n, src)
      val t10 = time(n, dst)
      val r = t10 / t1
      if (n != "c06_knn_brute" && r > worst._2) worst = (n, r)
      println(f"SCALE17 $n%-32s $t1%8.2f $t10%8.2f $r%7.2fx")
    }
    println(f"SCALE17 worst indexed-path ratio: ${worst._1} ${worst._2}%.2fx")
    spark.stop()
  }
}

/** Round-17 second-decade gate (VERDICT r16 item 2): the round-16 10×
  * probe left several serving rows at 5–8.4× for 10× data — sub-linear,
  * but close enough to linear that a quadratic term could hide under it
  * (a k² term contributes ratio ≈ 10 at small k and only reveals itself
  * another decade up). Replicates documents to 100× (ids offset so rep-0
  * keeps the originals any fixture references resolve against) and
  * re-times the TEN closest-to-linear rows from the r16 table; a ratio
  * near 100 is linear scan growth, materially above it is superlinear. */
object ScaleRound17b {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = "/tmp/scale17/sf100x"

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val rep = spark.range(100).select(col("id").as("_rep"))
    spark.read.parquet(s"$src/documents.parquet").crossJoin(rep)
      .withColumn("doc_id", col("doc_id") + col("_rep") * 10000000L).drop("_rep")
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println("SCALEINFO 100x documents built")

    val rows = Seq(
      "a39_es_json_rescore", "a206_es_json_shingle_search_analyzer",
      "a235_es_json_scored_bool_should_gating", "a240_es_json_edge_ngram_autocomplete",
      "a171_es_json_index_time_synonyms", "a197_es_json_index_time_shingles",
      "a204_es_json_index_time_english", "a38_more_like_this",
      "a209_es_json_more_like_this", "a118_more_like_this_bm25")

    Seq(src, dst).foreach(d => materialize(spark.read.parquet(s"$d/documents.parquet")))

    def time(name: String, dir: String): Double =
      (1 to 2).map { _ =>
        graft.CachedFrames.clear()
        val t0 = System.nanoTime()
        materialize(graft.SparkEntry.queries(name)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.min

    println(f"${"row"}%-42s ${"t1x"}%8s ${"t100x"}%9s ${"ratio"}%8s")
    var worst = ("", 0.0)
    rows.foreach { n =>
      val t1 = time(n, src)
      val t100 = time(n, dst)
      val r = t100 / t1
      if (r > worst._2) worst = (n, r)
      println(f"SCALE17B $n%-40s $t1%8.2f $t100%9.2f $r%7.2fx")
    }
    println(f"SCALE17B worst ratio: ${worst._1} ${worst._2}%.2fx (100 = linear)")
    spark.stop()
  }
}

/** Round-17: build the sf1.0-equivalent dir (10× sf0.1, every table, FK
  * structure preserved — both sides of each key get the same rep offset,
  * rep-0 keeps original ids so fixture references resolve). The full
  * corpus bench then runs over it: SPARK_GRAFT_SF_DIR=/tmp/scale17/sf1.0
  * runMain graft.Bench — the second-scale regression gate BASELINE.md
  * records. */
object ScaleRound17c {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = "/tmp/scale17/sf1.0"
    val rep = spark.range(10).select(col("id").as("_rep"))

    def build(table: String, offsets: (String, Long)*): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val out =
        if (offsets.isEmpty) base
        else offsets.foldLeft(base.crossJoin(rep)) { case (df, (c, o)) =>
          df.withColumn(c, col(c) + col("_rep") * o)
        }.drop("_rep")
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
    }

    build("documents", "doc_id" -> 10000000L)
    build("embeddings", "vec_id" -> 1000000L)
    build("events", "event_id" -> 1000000000L, "user_id" -> 1000000L)
    build("orders", "o_orderkey" -> 1000000000L, "o_custkey" -> 10000000L)
    build("lineitem", "l_orderkey" -> 1000000000L, "l_partkey" -> 1000000L,
      "l_suppkey" -> 10000L)
    build("customer", "c_custkey" -> 10000000L)
    build("part", "p_partkey" -> 1000000L)
    build("supplier", "s_suppkey" -> 10000L)
    build("nation") // dimensions stay 1× (join targets unchanged)
    build("region")
    println(s"SCALEINFO sf1.0 dir built at $dst")
    spark.stop()
  }
}

