package graft.tools

import graft._
import org.apache.spark.sql.functions._

/** Scale probes (not part of the correctness corpus): each `main` below
  * synthesizes inputs far past the bench scale factors and `require`s an
  * invariant of the operator under test, so a silent correctness
  * regression cannot hide behind the timing; `ScaleRound17c` builds the
  * sf1.0 dir the second-scale `graft.Bench` gate runs over. Timings print
  * as `SCALE <name> <s>` lines. */
object Scale {
  def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
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

