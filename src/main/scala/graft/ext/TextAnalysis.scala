package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C4 — text analysis for a training-data pipeline: tokenization, language
  * ID (marker-word heuristic), quality scoring, fingerprinting, tf-idf.
  * Everything is narrow per-document expression work except the tf-idf
  * aggregations; nothing leaves codegen, nothing collects to the driver.
  */
object TextAnalysis {

  /** Analyzer tokenization: lowercase, split on non-word runs. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\W+"), t => t =!= "")

  /** Word n-grams (1-indexed slices so the DuckDB twin matches). Guarded:
    * Spark's `sequence(1, 0)` DESCENDS instead of returning empty, so docs
    * shorter than n tokens get an explicit empty array. */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Language-ID marker sets: tiny per-language stopword profiles. On real
    * corpora these would be learned n-gram profiles; the heuristic shape
    * (count marker hits per language, argmax with fixed tie order, 'und'
    * when nothing matches) is the standard fasttext-lite fallback. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "row", "value"),
    "es" -> Seq("el", "la", "de", "los", "en", "y", "que", "data"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "table"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une", "query"),
    "zh" -> Seq("spark", "join", "merge")) // romanized-corpus stand-ins

  def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers: _*)))

  /** Predicted language per doc: argmax marker count, first-wins tie order,
    * 'und' if no marker hits. One compiled pass per doc (r18,
    * [[graft.functions.TextKernels.LangIdKernel]]) — the when-chain over
    * per-language interpreted filter HOFs it replaces paid
    * |langs| token-scans per row (guide §4: codegen over interpreted);
    * labels identical (same counts, same first-wins tie rule,
    * spec-pinned against the HOF form). */
  def langId(text: Column): Column =
    graft.functions.TextKernels.langIdLabel(
      text, langMarkers.map(_._1), langMarkers.map(_._2))

  /** Mixed-language / code-switch detection: language-ID the two halves
    * of the token stream independently; halves that disagree flag docs
    * whose content switches language midway (concatenated-crawl
    * boilerplate, bilingual pages) — the split check crawl pipelines run
    * before trusting a doc-level language label. Fully narrow: two
    * slice+rejoin HOFs feed the same marker scorer ([[langId]]); docs
    * shorter than 2 tokens get 'und' halves. */
  def mixedLanguage(docs: DataFrame, idCol: Column, text: Column): DataFrame = {
    // one compiled pass ([[graft.functions.TextKernels
    // .LangMarkerHalvesKernel]]) yields head/tail marker counts; the full-
    // doc score is their elementwise sum, and all three argmaxes replay
    // [[langId]]'s first-wins tie fold over the counts — identical labels,
    // ~10× less per-row work than three interpreted langId calls
    val l0 = langMarkers.size
    val counts = graft.functions.TextKernels.langMarkerHalves(text, langMarkers.map(_._2))
    def langOf(scores: Seq[Column]): Column = {
      val mx = greatest(scores: _*)
      langMarkers.map(_._1).zip(scores).foldRight(lit("und")) { case ((l, s), acc) =>
        when(mx > 0 && s === mx, lit(l)).otherwise(acc)
      }
    }
    docs.select(idCol.as("doc_id"), counts.as("_c"))
      .select(col("doc_id"),
        langOf((1 to l0).map(i =>
          element_at(col("_c"), i) + element_at(col("_c"), l0 + i))).as("lang_full"),
        langOf((1 to l0).map(i => element_at(col("_c"), i))).as("lang_head"),
        langOf((1 to l0).map(i => element_at(col("_c"), l0 + i))).as("lang_tail"))
      .withColumn("mixed", col("lang_head") =!= col("lang_tail"))
  }

  /** Quality features + a composite score in [0,1]. */
  def qualityFeatures(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    val toks = tokens(text)
    val nChars = length(text)
    val nToks = size(toks)
    val punct = length(regexp_replace(lower(text), "[a-z0-9 ]", ""))
    val stop = markerScore(toks, langMarkers.head._2)
    df.select(
      idCol.as("doc_id"),
      nChars.as("n_chars"),
      nToks.as("n_tokens"),
      round(nChars.cast("double") / nToks, 4).as("avg_tok_len"),
      round(punct.cast("double") / nChars, 6).as("punct_ratio"),
      round(stop.cast("double") / nToks, 6).as("stop_ratio"),
      round(
        lit(0.5) * (stop.cast("double") / nToks) +
          lit(0.3) * least(nToks.cast("double") / 100.0, lit(1.0)) +
          lit(0.2) * (lit(1.0) - punct.cast("double") / nChars), 6).as("quality"))
  }

  /** Key-collision fingerprint: sorted distinct token set hashed — word
    * permutations/duplications collapse to one key. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Text normalization — the cheap-clean pass a pipeline runs before any
    * tokenization: typographic quotes/dashes/nbsp mapped to ASCII
    * (single-char `translate`, no regex), C0/DEL control characters
    * stripped, whitespace runs collapsed to one space, ends trimmed.
    * U+000B/U+000C are stripped in the control pass BEFORE the `\s+`
    * collapse on purpose: Java's `\s` matches them but RE2's (DuckDB's)
    * does not, so removing them first keeps both engines identical.
    * Entirely narrow — three codegen'd string kernels, no shuffle. */
  def normalizeText(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    val t1 = translate(text,
      "\u2018\u2019\u201C\u201D\u2013\u2014\u00A0", "''\"\"-- ")
    val t2 = regexp_replace(t1,
      "[\u0000-\u0008\u000B\u000C\u000E-\u001F\u007F]", "")
    val t3 = trim(regexp_replace(t2, "\\s+", " "))
    df.select(idCol.as("doc_id"), text.as("_orig"), t3.as("text_norm"))
      .select(col("doc_id"), col("text_norm"),
        length(col("_orig")).as("n_chars_raw"),
        length(col("text_norm")).as("n_chars_norm"),
        (col("_orig") =!= col("text_norm")).as("changed"))
  }

  /** Token counts: whitespace tokens vs BPE-ish regex token count. */
  def tokenCounts(df: DataFrame, idCol: Column, text: Column): DataFrame =
    df.select(
      idCol.as("doc_id"),
      size(filter(split(text, " +"), t => t =!= "")).as("n_ws"),
      size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe"))

  /** Unigram language-model cross-entropy per document (nats): the
    * deterministic stand-in for the KenLM-perplexity quality signal CCNet
    * uses — corpus-fit unigram probabilities P(t) = count(t)/total, score
    * = −mean ln P(t) over the doc's tokens. High = improbable/junk text,
    * low = repetitive/common text; pipelines keep the middle band.
    *
    * Two wide stages sharing one tokenize: the vocabulary hash-agg and the
    * per-doc mean (token rows join the vocab on the term — broadcast when
    * the vocab is small, AQE decides). A 1-row total crossJoins in; no
    * driver-side state. */
  def unigramCrossEntropy(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    val toks = graft.ext.Dedup.persistOnce(
      df.select(idCol.as("doc_id"), explode(tokens(text)).as("t")))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(vocab, "t")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(-avg(log(col("cnt").cast("double") / col("total"))), 6).as("cross_entropy"))
  }

  /** CCNet-style quality banding over [[unigramCrossEntropy]]: keep docs
    * whose cross-entropy lies inside the corpus [lo, hi] percentile band —
    * the low tail is degenerate/repetitive text, the high tail is
    * improbable junk; pipelines train on the middle. Quantile bounds are a
    * 1-row broadcast (exact percentiles over the scored frame), the band
    * filter is narrow. */
  def qualityBand(df: DataFrame, idCol: Column, text: Column,
                  lo: Double = 0.25, hi: Double = 0.75): DataFrame = {
    val xent = graft.ext.Dedup.persistOnce(unigramCrossEntropy(df, idCol, text))
    val bounds = xent.agg(
      round(percentile(col("cross_entropy"), lit(lo)), 6).as("_lo"),
      round(percentile(col("cross_entropy"), lit(hi)), 6).as("_hi"))
    xent.crossJoin(broadcast(bounds))
      .filter(col("cross_entropy") >= col("_lo") && col("cross_entropy") <= col("_hi"))
      .select(col("doc_id"), col("n_tokens"), col("cross_entropy"))
  }

  /** One BPE-training iteration, distributed (Sennrich et al. 2016 — the
    * merge-pair count GPT-2-style tokenizer training repeats): word
    * frequencies (ONE corpus-sized hash agg), then adjacent-symbol-pair
    * counts weighted by word frequency. The pair explode runs over the
    * DISTINCT-word table — vocabulary-sized, not corpus-sized — so the
    * per-word HOF costs nothing at scale; the corpus-proportional work is
    * the single word-count agg. Pairs use the "a b" space-joined BPE
    * convention; single-char words carry no pairs and are filtered before
    * the explode. */
  def bpePairCounts(docs: DataFrame, text: Column, k: Int): DataFrame = {
    val wf = docs.select(explode(tokens(text)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    wf.filter(length(col("word")) >= 2)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, length(word) - 1),
          |  i -> concat(substring(word, i, 1), ' ', substring(word, i + 1, 1)))""".stripMargin))
        .as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("freq"))
      .orderBy(desc("freq"), col("pair")).limit(k)
  }

  /** The full BPE TRAINING loop (Sennrich et al. 2016): [[bpePairCounts]]'s
    * single iteration repeated `nMerges` times with re-segmentation between
    * rounds — learn the argmax pair, merge it everywhere, recount. Emits
    * the trained merge table `(rank, pair, freq, n_tokens_after)` — the
    * artifact [[bpeEncode]] consumes — where `freq` is the pair's count at
    * selection time and `n_tokens_after` the corpus symbol count once
    * merges 1..rank applied (the compression trajectory, i.e. the
    * train→encode round-trip at every rank).
    *
    * Scale shape: the ONLY corpus-sized pass is the initial word-frequency
    * aggregation. Every iteration then works on the DISTINCT-word table
    * (vocabulary-sized): one pair-count hash agg, a 1-row driver argmax
    * (the coordinator step — same bounded-collect class as phraseSuggest's
    * candidate pull), and a narrow merge replace; each round re-persists
    * to truncate lineage (the connected-components precedent). Words wear
    * the `<a><b>` marker form so a merge is boundary-exact string replace
    * in BOTH engines ([[bpeEncode]]'s convention). Production tokenizers
    * run ~50k merges — there you'd batch top-B non-overlapping pairs per
    * round; this per-merge-exact form is the oracle-checkable algorithm. */
  /** Shared round driver for the MERGE-trainer family ([[bpeTrain]],
    * [[wordPieceTrain]]; a future variant — e.g. BPE-dropout — is one
    * more `pickPair` config, not another loop). Owns the shared
    * plumbing: the ONE corpus-sized word-frequency agg into the
    * `<a><b>` marker form, the per-round { vocab-sized argmax via
    * `pickPair`, boundary-exact merge replace, corpus symbol recount },
    * and the per-round re-persist that truncates lineage (the
    * connected-components precedent). `pickPair(wf)` returns the
    * winning space-separated pair plus its selection-time stats, or
    * None to stop early. Emits (rank, pair, stats, n_tokens_after).
    *
    * The unigram-LM trainers ([[unigramLmPrune]]/[[unigramLmPruneLoop]])
    * deliberately do NOT ride this driver: their per-round state is a
    * driver-side probability MODEL re-estimated from Viterbi counts,
    * not a merged word frame — forcing them through a frame-state
    * harness would obscure both algorithms. */
  private def mergeTrainLoop[S](docs: DataFrame, text: Column, nMerges: Int)
      (pickPair: (DataFrame, DataFrame) => (Option[(String, S)], Option[Long])): Seq[(Int, String, S, Long)] =
    mergeTrainRounds[S](docs, text, nMerges) { (wf, tot) =>
      val (p, t) = pickPair(wf, tot); (p.toSeq, t)
    }.map { case (_, rank, pair, stats, nTok) => (rank, pair, stats, nTok) }

  /** The multi-pick core under [[mergeTrainLoop]]: each round applies
    * EVERY pair `pickPairs` returns (they must be symbol-disjoint, so
    * the replaces commute) in one chained replace pass. Emits (round,
    * overall rank, pair, stats, n_tokens_after_round).
    *
    * One Spark ACTION per round: `pickPairs(wf, tot)` receives the 1-row
    * `tot` frame (the current frame's corpus symbol count) to crossJoin
    * under its own argmax collect and returns the value back, which IS
    * round r−1's post-merge recount — the recount that used to be a
    * second standalone action per round rides the next round's argmax
    * job for free (both scan the same cached frame). Only the LAST
    * applied round still pays a standalone 1-row recount after the
    * loop. Driver round-trips per round: 2 → 1. */
  private def mergeTrainRounds[S](docs: DataFrame, text: Column, maxRounds: Int,
      toMarkers: Column => Column = w => regexp_replace(w, "(.)", "<$1>"),
      pretokenize: Column => Column = tokens)
      (pickPairs: (DataFrame, DataFrame) => (Seq[(String, S)], Option[Long])): Seq[(Int, Int, String, S, Long)] = {
    val totExpr = sum(col("freq") *
      (length(col("w")) - length(replace(col("w"), lit("<"), lit("")))))
      .cast("long").as("_tot")
    var wf = Dedup.persistOnce(docs.select(explode(pretokenize(text)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"), toMarkers(col("word")).as("w")))
    val recs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, S)]
    val nTokByRound = scala.collection.mutable.Map.empty[Int, Long]
    var lastApplied = 0
    var r = 1
    var rank = 1
    var done = false
    while (r <= maxRounds && !done) {
      val (picks, totOpt) = pickPairs(wf, wf.agg(totExpr))
      if (r > 1) totOpt.foreach(t => nTokByRound(r - 1) = t)
      if (picks.isEmpty) done = true
      else {
        val merged = picks.foldLeft(col("w")) { case (acc, (pair, _)) =>
          val Array(a, b) = pair.split(' ')
          replace(acc, lit(s"<$a><$b>"), lit(s"<$a$b>"))
        }
        picks.foreach { case (pair, stats) =>
          recs += ((r, rank, pair, stats)); rank += 1
        }
        wf = Dedup.persistOnce(wf.select(col("freq"), merged.as("w")))
        lastApplied = r
        r += 1
      }
    }
    if (lastApplied >= 1 && !nTokByRound.contains(lastApplied))
      nTokByRound(lastApplied) =
        wf.agg(totExpr).collect()(0).getLong(0)
    recs.toSeq.map { case (rd, rk, pair, stats) =>
      (rd, rk, pair, stats, nTokByRound(rd))
    }
  }

  /** Adjacent-pair counts over a marker-form word-frequency frame — the
    * argmax candidate table both merge trainers score — plus the corpus
    * symbol count riding the SAME aggregation (r18): one extra NULL-pair
    * row per word carries
    * freq·|symbols|, so the null key's sum equals the marker-count
    * totExpr exactly (both count every symbol occurrence once, integer
    * arithmetic) and the round's argmax collect returns it for free —
    * tot is strictly greater than any pair count (every word has more
    * symbols than adjacent pairs), so it always sorts FIRST under
    * desc(pf). The r17 shape paid a separate agg scan + broadcast
    * crossJoin per round for the same number. */
  private def mergePairCountsWithTot(wf: DataFrame): DataFrame = {
    val sym = wf.select(col("freq"),
      expr("regexp_extract_all(w, '<([^<>]*)>', 1)").as("s"))
    val pairRows = sym.filter(size(col("s")) >= 2)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, size(s) - 1),
          |  i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))""".stripMargin))
        .as("pair"))
    val totRows = sym.select((col("freq") * size(col("s"))).as("freq"),
      lit(null).cast("string").as("pair"))
    pairRows.unionByName(totRows).groupBy("pair").agg(sum(col("freq")).as("pf"))
  }

  def bpeTrain(docs: DataFrame, text: Column, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    mergeTrainLoop[Long](docs, text, nMerges) { (wf, _) =>
      // ONE TakeOrdered job per round: row 0 is the null-pair symbol
      // count (sorts first — strictly greater than any pair count), row 1
      // the argmax pair
      val rows = mergePairCountsWithTot(wf)
        .orderBy(desc("pf"), col("pair")).limit(2).collect()
      val tot = rows.headOption.map(_.getLong(1))
      val top = rows.drop(1).headOption.map(r => r.getString(0) -> r.getLong(1))
      (top, tot)
    }.toDF("rank", "pair", "freq", "n_tokens_after")
  }

  /** BATCHED BPE training — the 50k-merge production form [[bpeTrain]]'s
    * docstring promises: each round pulls the top `lookahead` candidate
    * pairs (driver-bounded), greedily keeps up to `batchSize` that are
    * SYMBOL-DISJOINT (no shared member with an earlier keep, so their
    * replaces commute and one chained pass applies them all), and
    * recounts once per round. Round count drops ~batchSize-fold; the
    * merge table stays [[bpeEncode]]-compatible (ranks are the greedy
    * selection order). batchSize = 1 is EXACTLY [[bpeTrain]]
    * (spec-pinned). The bounded lookahead is part of the algorithm
    * contract — a round where the top `lookahead` candidates all collide
    * keeps fewer than `batchSize` pairs (never zero: the top-1 always
    * qualifies) — which keeps the driver pull bounded at any corpus
    * size and lets the DuckDB oracle replay the selection exactly.
    * Emits (rank, round, pair, freq, n_tokens_after) where
    * `n_tokens_after` is the corpus symbol count after the pair's whole
    * ROUND (recounts are per round, not per merge — the batching's
    * point). */
  def bpeTrainBatched(docs: DataFrame, text: Column, nMerges: Int,
                      batchSize: Int, lookahead: Int = 0): DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    val la = if (lookahead > 0) lookahead else math.max(8 * batchSize, 16)
    val spark = docs.sparkSession
    import spark.implicits._
    var remaining = nMerges
    mergeTrainRounds[Long](docs, text, maxRounds = nMerges) { (wf, tot) =>
      if (remaining <= 0) (Seq.empty, None)
      else {
        val rows0 = mergePairCountsWithTot(wf)
          .orderBy(desc("pf"), col("pair")).limit(la + 1)
          .collect()
        // row 0 is the null-pair symbol count (see mergePairCountsWithTot)
        val totV = rows0.headOption.map(_.getLong(1))
        val rows = rows0.drop(1)
        val cands = rows.map(r => r.getString(0) -> r.getLong(1))
        val used = scala.collection.mutable.Set.empty[String]
        val picks = Seq.newBuilder[(String, Long)]
        var kept = 0
        cands.foreach { case (pair, pf) =>
          val Array(a, b) = pair.split(' ')
          if (kept < math.min(batchSize, remaining) &&
              !used.contains(a) && !used.contains(b)) {
            picks += (pair -> pf); used += a; used += b; kept += 1
          }
        }
        remaining -= kept
        (picks.result(), totV)
      }
    }.map { case (round, rank, pair, pf, nTok) => (rank, round, pair, pf, nTok) }
      .toDF("rank", "round", "pair", "freq", "n_tokens_after")
  }

  /** BYTE-LEVEL BPE training (the GPT-2 tokenizer family, Radford et al.
    * 2019) — the [[mergeTrainRounds]] harness with one config swap: the
    * initial alphabet is the word's UTF-8 BYTES (each rendered as a
    * two-hex-digit symbol, `hex()`'s uppercase convention on both
    * engines), not its characters. Consequences the char-level trainer
    * cannot deliver: (1) NO unk is possible — any text decomposes into
    * the ≤256 base symbols, so the trained vocab covers every input by
    * construction; (2) non-ASCII characters start as their multi-byte
    * UTF-8 sequences and must EARN whole-character symbols through
    * merges (e.g. é = c3 a9 merges to "c3a9" only if frequent enough) —
    * the behavior that keeps rare-script vocab cost proportional to
    * corpus frequency. Pre-tokenization is whitespace (lowercased), the
    * byte-level convention: unlike [[tokens]]'s `\W+` split, punctuation
    * and non-ASCII BYTES stay inside the words and train like any other
    * symbol (GPT-2's regex pre-tokenizer differs in the split; the
    * byte-merge algorithm is identical). Symbols are hex strings, so a
    * merged symbol is the byte-sequence spelling (rank table entries
    * like "74 68" → th). Emits the same (rank, pair, freq,
    * n_tokens_after) table as [[bpeTrain]]; on a pure-ASCII
    * alnum-and-space corpus the merge sequence corresponds 1:1 with
    * [[bpeTrain]]'s modulo symbol spelling (spec-pinned). Same scale
    * shape: ONE corpus-sized pass, then vocabulary-sized rounds with a
    * 1-row driver argmax. */
  def bpeTrainByteLevel(docs: DataFrame, text: Column, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    mergeTrainRounds[Long](docs, text, maxRounds = nMerges,
      toMarkers = w => regexp_replace(hex(encode(w, "UTF-8")), "(..)", "<$1>"),
      pretokenize = t => filter(split(lower(t), "\\s+"), x => x =!= "")) { (wf, _) =>
      val rows = mergePairCountsWithTot(wf)
        .orderBy(desc("pf"), col("pair")).limit(2).collect()
      (rows.drop(1).headOption.map(r => r.getString(0) -> r.getLong(1)).toSeq,
        rows.headOption.map(_.getLong(1)))
    }.map { case (_, rank, pair, pf, nTok) => (rank, pair, pf, nTok) }
      .toDF("rank", "pair", "freq", "n_tokens_after")
  }

  /** WordPiece training rounds (Schuster & Nakajima 2012; the BERT
    * tokenizer) — [[bpeTrain]] with the argmax swapped: instead of the
    * raw pair count, each round merges the pair maximizing
    * score = count(ab) / (count(a)·count(b)) — the corpus-likelihood
    * GAIN of the merge under a unigram model, which prefers pairs whose
    * parts rarely occur apart (BPE's raw count just prefers frequent
    * parts). Completes the subword-trainer trio beside [[bpeTrain]] and
    * [[unigramLmStep]]/[[unigramLmPrune]].
    *
    * Scale shape identical to [[bpeTrain]]: ONE corpus-sized word-freq
    * agg, then every round is vocabulary-sized (symbol-count agg +
    * pair-count agg + a 1-row driver argmax + narrow boundary-exact
    * replace). Score ties break on pair asc; the score arithmetic is
    * IEEE double over exact long counts on both engines, so the argmax
    * is cross-engine deterministic. */
  def wordPieceTrain(docs: DataFrame, text: Column, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    mergeTrainLoop[(Long, Double)](docs, text, nMerges) { (wf, _) =>
      // ONE job per round (r18; was 2 after the r18 batch-1 map-literal
      // form, ~5 in r17): symbol frequencies AND pair counts ride a
      // single tagged union-aggregate over the same wf scan — both are
      // BOUNDED driver artifacts (symbols ≤ |alphabet| + rank, distinct
      // pairs ≤ symbols², the k-means-centroid class) — and the argmax
      // moves to the driver. Arithmetic is bit-identical to the Spark
      // form it replaces: score = pf / (sf(a)·sf(b)) in IEEE double over
      // exact long counts, max by (score desc, pair asc) with the tie
      // order compared as UTF8String binary order (what Spark's
      // orderBy(pair) used), 9-dp HALF_UP rounding applied only to the
      // REPORTED score after selection, exactly as before.
      val sym = wf.select(col("freq"),
        expr("regexp_extract_all(w, '<([^<>]*)>', 1)").as("s"))
      val tagged = sym
        .select(col("freq"), explode(expr(
          "transform(s, x -> concat('s', x))")).as("t"))
        .select(col("t"), col("freq"))
        .unionByName(sym.filter(size(col("s")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(s) - 1),
              |  i -> concat('p', element_at(s, i), ' ', element_at(s, i + 1)))""".stripMargin))
            .as("t"), col("freq")))
      val rows = tagged.groupBy("t").agg(sum(col("freq")).as("f")).collect()
      val symMap = rows.iterator
        .filter(_.getString(0).charAt(0) == 's')
        .map(r => r.getString(0).substring(1) -> r.getLong(1)).toMap
      val totV = symMap.valuesIterator.sum
      if (symMap.isEmpty) (None, None)
      else {
        def utf8Lt(x: String, y: String): Boolean =
          org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
        var best: Option[(String, Long, Double)] = None
        rows.iterator.filter(_.getString(0).charAt(0) == 'p').foreach { r =>
          val pair = r.getString(0).substring(1)
          val pf = r.getLong(1)
          val Array(a, b) = pair.split(' ')
          val score = pf.toDouble / (symMap(a).toDouble * symMap(b).toDouble)
          if (best.isEmpty || score > best.get._3 ||
              (score == best.get._3 && utf8Lt(pair, best.get._1)))
            best = Some((pair, pf, score))
        }
        (best.map { case (pair, pf, score) =>
          pair -> (pf,
            new java.math.BigDecimal(score)
              .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue())
        }, Some(totV))
      }
    }.map { case (r, pair, (pf, score), nTok) => (r, pair, pf, score, nTok) }
      .toDF("rank", "pair", "freq", "score", "n_tokens_after")
  }

  /** One hard-EM step of a UNIGRAM-LM tokenizer (the SentencePiece
    * family — the other major subword trainer beside [[bpeTrain]]):
    *  1. seed pieces = every substring of length 1..`maxPieceLen` of the
    *     word types (multiplicity kept), corpus-weighted; pieces below
    *     `minCount` drop except single chars (the base alphabet always
    *     survives, so every word stays segmentable);
    *  2. E-step: Viterbi-best segmentation of each word type under
    *     logp(piece) = ln(occ/total) rounded 6 dp
    *     ([[graft.functions.TextKernels.ViterbiSegmentKernel]] — one
    *     compiled DP per word TYPE, not per token);
    *  3. M-step: corpus-weighted Viterbi counts → re-estimated piece
    *     probabilities. Emits the top-`topK` pieces with seed and
    *     re-estimated stats — the movement a full EM run iterates.
    *
    * Scale shape: one corpus-sized tokenize+count; everything after is
    * VOCABULARY-sized (substring explode, piece agg, Viterbi per word
    * type). The piece table collects to the driver (bounded, the BPE
    * merge-table class) and rides into the kernel as a literal map.
    * Words longer than `maxWordLen` chars are excluded from the study on
    * both engines (keeps the oracle's unrolled DP bounded). */
  def unigramLmStep(docs: DataFrame, text: Column, minCount: Long = 5,
                    maxWordLen: Int = 12, maxPieceLen: Int = 4,
                    topK: Int = 25): DataFrame = {
    val spark = docs.sparkSession
    val words = Dedup.persistOnce(docs.select(explode(tokens(text)).as("word"))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("wcnt")))
    val subs = words.select(col("wcnt"), explode(flatten(
      transform(sequence(lit(1), length(col("word"))), st =>
        transform(sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - st + 1)),
          l => col("word").substr(st, l))))).as("piece"))
    val pieceRows = subs.groupBy("piece").agg(sum("wcnt").as("occ"))
      .filter(col("occ") >= minCount || length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = pieceRows.map(_._2).sum.toDouble
    def round6(v: Double): Double =
      new java.math.BigDecimal(v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val lpMap = pieceRows.map { case (p, occ) => p -> round6(math.log(occ / total)) }.toMap
    import spark.implicits._
    val lpDf = pieceRows.map { case (p, occ) => (p, occ, lpMap(p)) }
      .toSeq.toDF("piece", "occ", "logp")
    val mstep = words
      .select(col("wcnt"),
        explode(graft.functions.TextKernels.viterbiSegment(col("word"), lpMap, maxPieceLen))
          .as("piece"))
      .groupBy("piece").agg(sum("wcnt").as("vit_cnt"))
    mstep.join(broadcast(lpDf), "piece")
      .crossJoin(broadcast(mstep.agg(sum("vit_cnt").as("vt"))))
      .select(col("piece"), col("occ"), col("logp"), col("vit_cnt"),
        round(col("vit_cnt") / col("vt"), 6).as("new_p"))
      .orderBy(desc("vit_cnt"), col("piece")).limit(topK)
  }

  /** The unigram-LM trainer LOOP — [[unigramLmStep]]'s hard-EM iterated:
    * after each Viterbi round the piece log-probs re-estimate from the
    * corpus-weighted Viterbi counts with +1 Laplace smoothing over the
    * FULL seed piece set (so unused pieces — and the base alphabet —
    * keep a floor probability and stay legal DP candidates, the
    * SentencePiece alphabet-floor convention). Per round: one
    * vocabulary-sized Viterbi pass + one vocabulary-bounded count
    * collect; the corpus is touched exactly once for the word table.
    * Emits the final round's top pieces with the per-round counts, so
    * the oracle must agree round for round. */
  def unigramLmLoop(docs: DataFrame, text: Column, rounds: Int = 2,
                    minCount: Long = 5, maxWordLen: Int = 12,
                    maxPieceLen: Int = 4, topK: Int = 25): DataFrame = {
    require(rounds >= 1)
    val spark = docs.sparkSession
    val words = Dedup.persistOnce(docs.select(explode(tokens(text)).as("word"))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("wcnt")))
    val pieceRows = words.select(col("wcnt"), explode(flatten(
        transform(sequence(lit(1), length(col("word"))), st =>
          transform(sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - st + 1)),
            l => col("word").substr(st, l))))).as("piece"))
      .groupBy("piece").agg(sum("wcnt").as("occ"))
      .filter(col("occ") >= minCount || length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def round6(v: Double): Double =
      new java.math.BigDecimal(v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val seedTotal = pieceRows.map(_._2).sum.toDouble
    var lpMap = pieceRows.map { case (p, occ) => p -> round6(math.log(occ / seedTotal)) }.toMap
    val vits = Seq.newBuilder[Map[String, Long]]
    for (r <- 1 to rounds) {
      val vit = words
        .select(col("wcnt"),
          explode(graft.functions.TextKernels.viterbiSegment(col("word"), lpMap, maxPieceLen))
            .as("piece"))
        .groupBy("piece").agg(sum("wcnt").as("vit_cnt"))
        .collect().map(rr => rr.getString(0) -> rr.getLong(1)).toMap
      vits += vit
      if (r < rounds) {
        val totV = vit.values.sum.toDouble
        val nP = pieceRows.length.toDouble
        lpMap = pieceRows.map { case (p, _) =>
          p -> round6(math.log((vit.getOrElse(p, 0L) + 1.0) / (totV + nP)))
        }.toMap
      }
    }
    val allVits = vits.result()
    val last = allVits.last
    val lastTot = last.values.sum.toDouble
    import spark.implicits._
    pieceRows.toSeq
      .filter { case (p, _) => last.getOrElse(p, 0L) > 0L }
      .map { case (p, occ) =>
        (p, occ, allVits.map(_.getOrElse(p, 0L)).mkString(","),
          last(p), round6(last(p) / lastTot))
      }
      .toDF("piece", "occ", "vit_counts", "vit_last", "new_p")
      .orderBy(desc("vit_last"), col("piece")).limit(topK)
  }

  /** SentencePiece-style PRUNING round — the step the real unigram
    * trainer runs between EM rounds: segment with the current model,
    * then DROP the multi-character pieces contributing least likelihood
    * (here, hard-EM's proxy: the corpus-weighted Viterbi count),
    * keeping every single-character piece (coverage guarantee) plus the
    * top `targetMulti` multi-char pieces by (count desc, piece asc);
    * probabilities Laplace-re-estimate over the SURVIVORS only and the
    * next Viterbi round runs against the pruned vocabulary. Emits the
    * full surviving piece set with pre/post-prune counts — the oracle
    * unrolls both DPs plus the prune filter and must agree on the set.
    * Scale shape: identical to [[unigramLmLoop]] — all driver state is
    * vocab-sized, the corpus-sized work is the per-word-TYPE compiled
    * Viterbi kernel. */
  def unigramLmPrune(docs: DataFrame, text: Column, targetMulti: Int = 15,
                     minCount: Long = 5, maxWordLen: Int = 12,
                     maxPieceLen: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    val words = Dedup.persistOnce(docs.select(explode(tokens(text)).as("word"))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("wcnt")))
    val pieceRows = words.select(col("wcnt"), explode(flatten(
        transform(sequence(lit(1), length(col("word"))), st =>
          transform(sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - st + 1)),
            l => col("word").substr(st, l))))).as("piece"))
      .groupBy("piece").agg(sum("wcnt").as("occ"))
      .filter(col("occ") >= minCount || length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def round6(v: Double): Double =
      new java.math.BigDecimal(v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val seedTotal = pieceRows.map(_._2).sum.toDouble
    val lp1 = pieceRows.map { case (p, occ) => p -> round6(math.log(occ / seedTotal)) }.toMap
    def vitCounts(lp: Map[String, Double]): Map[String, Long] = words
      .select(col("wcnt"),
        explode(graft.functions.TextKernels.viterbiSegment(col("word"), lp, maxPieceLen))
          .as("piece"))
      .groupBy("piece").agg(sum("wcnt").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vit1 = vitCounts(lp1)
    val singles = pieceRows.map(_._1).filter(_.length == 1)
    val survMulti = vit1.toSeq
      .collect { case (p, c) if p.length > 1 && c > 0L => (p, c) }
      .sortBy { case (p, c) => (-c, p) }
      .take(targetMulti).map(_._1)
    val surv = (singles ++ survMulti).distinct.sorted
    val totV2 = surv.map(vit1.getOrElse(_, 0L)).sum.toDouble
    val np = surv.size.toDouble
    val lp2 = surv.map(p =>
      p -> round6(math.log((vit1.getOrElse(p, 0L) + 1.0) / (totV2 + np)))).toMap
    val vit2 = vitCounts(lp2)
    val tot2 = vit2.values.sum.toDouble
    import spark.implicits._
    surv.toSeq.map { p =>
      (p, vit1.getOrElse(p, 0L), vit2.getOrElse(p, 0L),
        round6(vit2.getOrElse(p, 0L) / tot2))
    }.toDF("piece", "vit_pre", "vit_post", "new_p")
      .orderBy("piece")
  }

  /** The full SentencePiece PRUNING LOOP — [[unigramLmPrune]]'s round
    * repeated down a DECREASING multi-piece target schedule, the way the
    * real trainer shrinks its seed vocabulary a fraction per round
    * toward the target size: segment under the current model, keep every
    * single-char piece (coverage) plus the top `targets(r)` multi-char
    * pieces by corpus-weighted Viterbi count, Laplace-re-estimate over
    * the survivors, repeat; one final Viterbi under the last model
    * yields the reported counts. Emits
    * `(piece, vit_pre, vit_post, new_p)` over the FINAL survivor set,
    * where `vit_pre` is the piece's count under the seed model.
    * Scale shape identical to [[unigramLmPrune]]: the one corpus-sized
    * pass is the word-frequency agg; every round is a compiled
    * per-word-TYPE DP plus vocab-sized driver state. */
  def unigramLmPruneLoop(docs: DataFrame, text: Column,
                         targets: Seq[Int] = Seq(15, 8),
                         minCount: Long = 5, maxWordLen: Int = 12,
                         maxPieceLen: Int = 4): DataFrame = {
    require(targets.nonEmpty && targets.zip(targets.tail).forall { case (a, b) => b <= a },
      s"targets must be a non-increasing schedule, got $targets")
    val spark = docs.sparkSession
    val words = Dedup.persistOnce(docs.select(explode(tokens(text)).as("word"))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("wcnt")))
    val pieceRows = words.select(col("wcnt"), explode(flatten(
        transform(sequence(lit(1), length(col("word"))), st =>
          transform(sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - st + 1)),
            l => col("word").substr(st, l))))).as("piece"))
      .groupBy("piece").agg(sum("wcnt").as("occ"))
      .filter(col("occ") >= minCount || length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def round6(v: Double): Double =
      new java.math.BigDecimal(v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def vitCounts(lp: Map[String, Double]): Map[String, Long] = words
      .select(col("wcnt"),
        explode(graft.functions.TextKernels.viterbiSegment(col("word"), lp, maxPieceLen))
          .as("piece"))
      .groupBy("piece").agg(sum("wcnt").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val seedTotal = pieceRows.map(_._2).sum.toDouble
    val singles = pieceRows.map(_._1).filter(_.length == 1)
    var lp = pieceRows.map { case (p, occ) => p -> round6(math.log(occ / seedTotal)) }.toMap
    var vitSeed: Map[String, Long] = null
    var surv: Seq[String] = Nil
    for (t <- targets) {
      val vit = vitCounts(lp)
      if (vitSeed == null) vitSeed = vit
      val topMulti = vit.toSeq
        .collect { case (p, c) if p.length > 1 && c > 0L => (p, c) }
        .sortBy { case (p, c) => (-c, p) }
        .take(t).map(_._1)
      surv = (singles ++ topMulti).distinct.sorted
      val totV = surv.map(vit.getOrElse(_, 0L)).sum.toDouble
      val np = surv.size.toDouble
      lp = surv.map(p =>
        p -> round6(math.log((vit.getOrElse(p, 0L) + 1.0) / (totV + np)))).toMap
    }
    val vitF = vitCounts(lp)
    val totF = vitF.values.sum.toDouble
    import spark.implicits._
    surv.map { p =>
      (p, vitSeed.getOrElse(p, 0L), vitF.getOrElse(p, 0L),
        round6(vitF.getOrElse(p, 0L) / totF))
    }.toDF("piece", "vit_pre", "vit_post", "new_p")
      .orderBy("piece")
  }

  /** BPE ENCODE with a learned merge list — the apply step of
    * [[bpePairCounts]]'s training iteration. Each word becomes a
    * marker-wrapped symbol sequence (`"ab"` → `"<a><b>"`; markers make
    * every merge replace token-boundary-exact with NO lookbehind, which
    * DuckDB's RE2 lacks) and the merges apply in rank order as plain
    * left-to-right global replaces — the greedy merge-table walk a
    * trained BPE tokenizer performs (one pass per merge). Words join on
    * `|` so merges never cross word boundaries. Emits per-doc symbol
    * counts before/after and the compression ratio. The merge list is a
    * driver-side constant (the trained artifact, `"a b"` pair strings).
    * One narrow pass — no shuffle at any corpus size. */
  def bpeEncode(docs: DataFrame, id: Column, text: Column,
                merges: Seq[String]): DataFrame = {
    // fan across cores (guide §2.5): the marker wrap + |merges| chained
    // replaces are a per-row string-kernel pass that a single-split scan
    // would serialize on one core
    val fanned = Dedup.fan(docs, id)
    val wrapped = concat_ws("|",
      transform(tokens(text), w => regexp_replace(w, "(.)", "<$1>")))
    val encoded = merges.foldLeft(wrapped) { (acc, m) =>
      val Array(a, b) = m.split(' ')
      replace(acc, lit(s"<$a><$b>"), lit(s"<$a$b>"))
    }
    def nSym(c: Column): Column = length(c) - length(replace(c, lit("<"), lit("")))
    fanned.select(id.as("doc_id"), nSym(wrapped).cast("long").as("n_chars"),
        nSym(encoded).cast("long").as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6))
  }

  /** BYTE-LEVEL BPE encode — [[bpeEncode]]'s walk with
    * [[bpeTrainByteLevel]]'s conventions: whitespace pre-tokenization and
    * 2-hex-digit byte symbols, so the trained byte merge table applies
    * verbatim (train→encode round trip). `n_bytes` counts UTF-8 bytes
    * (the byte-level "character" count); compression = bytes per emitted
    * token. One narrow pass, no shuffle at any corpus size. */
  def bpeEncodeByteLevel(docs: DataFrame, id: Column, text: Column,
                         merges: Seq[String]): DataFrame = {
    val fanned = Dedup.fan(docs, id) // see bpeEncode
    val wrapped = concat_ws("|",
      transform(filter(split(lower(text), "\\s+"), x => x =!= ""),
        w => regexp_replace(hex(encode(w, "UTF-8")), "(..)", "<$1>")))
    val encoded = merges.foldLeft(wrapped) { (acc, m) =>
      val Array(a, b) = m.split(' ')
      replace(acc, lit(s"<$a><$b>"), lit(s"<$a$b>"))
    }
    def nSym(c: Column): Column = length(c) - length(replace(c, lit("<"), lit("")))
    fanned.select(id.as("doc_id"), nSym(wrapped).cast("long").as("n_bytes"),
        nSym(encoded).cast("long").as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_bytes").cast("double") / col("n_bpe_tokens"), 6))
  }

  /** Tokenizer FERTILITY per language — the "how many subword tokens per
    * word does this tokenizer cost each language" diagnostic every
    * multilingual-tokenizer evaluation reports (high fertility = the
    * language is expensive to model). Applies a learned BPE merge list
    * ([[bpeEncode]]'s marker-replace walk) and aggregates per language:
    * doc/word/subword counts, fertility = subwords/word, chars/subword.
    * One narrow pass + one small hash agg (|langs| rows) — 100 TB-sane. */
  def tokenizerFertility(docs: DataFrame, text: Column, lang: Column,
                         merges: Seq[String]): DataFrame = {
    val wrapped = concat_ws("|",
      transform(tokens(text), w => regexp_replace(w, "(.)", "<$1>")))
    val encoded = merges.foldLeft(wrapped) { (acc, m) =>
      val Array(a, b) = m.split(' ')
      replace(acc, lit(s"<$a><$b>"), lit(s"<$a$b>"))
    }
    def nSym(c: Column): Column = length(c) - length(replace(c, lit("<"), lit("")))
    Dedup.fan(docs, text).filter(text.isNotNull) // fan: see bpeEncode (no unique id in scope; text is near-unique)
      .select(lang.as("lang"),
        size(tokens(text)).cast("long").as("_w"),
        nSym(wrapped).cast("long").as("_c"),
        nSym(encoded).cast("long").as("_t"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_w")).as("n_words"),
        sum(col("_t")).as("n_bpe_tokens"),
        round(sum(col("_t")) * 1.0 / sum(col("_w")), 6).as("fertility"),
        round(sum(col("_c")) * 1.0 / sum(col("_t")), 6).as("chars_per_token"))
  }

  /** tf-idf: top-`k` terms per document (natural-log idf). Two hash
    * aggregations + a broadcast of the doc count; the per-doc top-k is a
    * bounded window (AQE handles skewed terms). */
  def tfIdfTopK(docs: DataFrame, idCol: Column, text: Column, k: Int): DataFrame = {
    val termDoc = docs.select(idCol.as("doc_id"), explode(tokens(text)).as("term"))
    val tf = termDoc.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = termDoc.groupBy("term").agg(count_distinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
    tf.join(df_, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("rn"), col("term"), col("tfidf"))
  }

  /** Bigram-LM perplexity per document — the CCNet/KenLM perplexity
    * filter with an add-k-smoothed bigram model standing in for KenLM
    * (same pipeline shape: fit an n-gram LM on the corpus, score every
    * doc, band by perplexity). P(w2|w1) = (c12 + k)/(c1 + k·V) where c1
    * counts w1 as a LEFT context, V = corpus distinct unigrams. Per doc:
    * log-likelihood over its bigrams and ppl = exp(−ll/n). Scale shape:
    * two hash aggs build the LM, one (w1,w2) shuffle join scores (AQE
    * handles stopword-pair skew), V is a 1-row broadcast. Per-bigram
    * log-probs round to 6 dp and the per-doc sum re-rounds, so both
    * engines stay bit-identical (the c32/c39 determinism protocol).
    * Docs with <2 tokens emit nothing. */
  def bigramPerplexity(docs: DataFrame, idCol: Column, text: Column,
                       k: Double = 0.5): DataFrame = {
    // (r18 note: a variant that persisted the pre-filter token frame and
    // derived V from it was measured NET-NEGATIVE in interleaved A/B —
    // the array-payload cache write+read cost more than the tokenize
    // pass it saved — and was reverted; V keeps its own scan.)
    val base = Dedup.fan(docs, idCol) // fan: the tokenize+bigram explode map side (guide §2.5)
      .select(idCol.as("doc_id"), tokens(text).as("w"))
      .withColumn("n", size(col("w"))).filter(col("n") >= 2)
    // three consumers (c12 agg, c1 agg, the scoring join) — materialize
    // the exploded bigrams once instead of re-tokenizing per subtree
    val big = Dedup.persistOnce(base
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), col("n") - 1)).as("i"))
      .select(col("doc_id"), element_at(col("w"), col("i")).as("w1"),
        element_at(col("w"), col("i") + 1).as("w2")))
    val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = docs.select(explode(tokens(text)).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    val lm = c12.join(c1, "w1").crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        round(log((col("c12") + lit(k)) / (col("c1") + lit(k) * col("v"))), 6)
          .as("logp"))
    big.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(sum(col("logp")), 6).as("ll"))
      .withColumn("ppl", round(exp(-col("ll") / col("n_bigrams")), 4))
  }

  /** Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995; the
    * smoothing real LM-based quality filters use, vs [[bigramPerplexity]]'s
    * add-k stand-in): with absolute discount D,
    *   P(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1,·)/c1 · N1+(·,w2)/N1+(··)
    * where the continuation counts N1+ are DISTINCT-neighbor counts from
    * the bigram TYPE table (a word common only inside one collocation gets
    * a low continuation probability — KN's whole point). Per-doc scoring
    * mirrors c45's determinism protocol: 6-dp log-probs, re-rounded sum.
    * Scale shape: the type-table aggregations are vocabulary²-bounded (in
    * practice far smaller); the only corpus-sized work is the bigram
    * explode and the (w1,w2) scoring join — identical to c45's plan. */
  def knPerplexity(docs: DataFrame, idCol: Column, text: Column,
                   discount: Double = 0.75): DataFrame = {
    val base = Dedup.fan(docs, idCol) // fan: the tokenize+bigram explode map side (guide §2.5)
      .select(idCol.as("doc_id"), tokens(text).as("w"))
      .withColumn("n", size(col("w"))).filter(col("n") >= 2)
    val big = Dedup.persistOnce(base
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), col("n") - 1)).as("i"))
      .select(col("doc_id"), element_at(col("w"), col("i")).as("w1"),
        element_at(col("w"), col("i") + 1).as("w2")))
    val c12 = Dedup.persistOnce(
      big.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val byW1 = c12.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_l"))
    val byW2 = c12.groupBy("w2").agg(count(lit(1)).as("n1p_r"))
    val nAll = c12.agg(count(lit(1)).as("n_all"))
    val d = lit(discount)
    val lm = c12.join(byW1, "w1").join(byW2, "w2").crossJoin(broadcast(nAll))
      .select(col("w1"), col("w2"),
        round(log(greatest(col("c12") - d, lit(0.0)) / col("c1")
          + d * col("n1p_l") / col("c1") * (col("n1p_r") / col("n_all"))), 6)
          .as("logp"))
    big.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(sum(col("logp")), 6).as("ll"))
      .withColumn("ppl", round(exp(-col("ll") / col("n_bigrams")), 4))
  }

  /** PMI collocation mining — phrase-vocabulary induction (the word2vec
    * phrases / tokenizer-merge-candidate step): pointwise mutual
    * information of adjacent token pairs, ln(p(w1w2)/(p(w1)·p(w2))) with
    * p(w1w2) over the bigram total and p(w) over the token total,
    * low-support pairs pruned (`minCount`). Two hash aggs + two joins
    * against the unigram table; totals are 1-row broadcasts; top-k is a
    * bounded sort-limit. */
  def pmiCollocations(docs: DataFrame, idCol: Column, text: Column,
                      minCount: Int, topK: Int): DataFrame = {
    // tokenize ONCE (r18): the old form re-ran the tokenize kernel for
    // the bigram build, the unigram table AND the token total — four
    // corpus passes for one row (guide §1.2). One persisted token frame
    // now feeds all of them; the token total rides the unigram agg
    // (n_tok = Σ cu, identical by construction).
    val base0 = Dedup.persistOnce(Dedup.fan(docs, idCol) // fan: guide §2.5
      .select(idCol.as("doc_id"), tokens(text).as("w")))
    val base = base0.withColumn("n", size(col("w"))).filter(col("n") >= 2)
    val big = base
      .select(col("w"), explode(sequence(lit(1), col("n") - 1)).as("i"))
      .select(element_at(col("w"), col("i")).as("w1"),
        element_at(col("w"), col("i") + 1).as("w2"))
    val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val uni = Dedup.persistOnce(base0.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu")))
    val nTok = uni.agg(sum(col("cu")).cast("long").as("n_tok"))
    val nBig = big.agg(count(lit(1)).as("n_big"))
    c12
      .join(uni.select(col("t").as("w1"), col("cu").as("cu1")), "w1")
      .join(uni.select(col("t").as("w2"), col("cu").as("cu2")), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast("double") / col("n_big")) /
          ((col("cu1").cast("double") / col("n_tok")) *
            (col("cu2").cast("double") / col("n_tok")))), 6).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2")).limit(topK)
  }

  /** Distinct-n diversity (Li et al. 2016's distinct-1/2, the NLG
    * self-repetition metric turned corpus-quality signal): per document
    * the ratio of DISTINCT word n-grams to total n-grams — low values
    * flag template/boilerplate text the repetition filters should see.
    * Entirely narrow: tokenize, n-gram, distinct-count per row, no
    * shuffle until the caller aggregates. Docs with < n tokens emit
    * nothing (no n-grams to judge). */
  def distinctN(df: DataFrame, idCol: Column, text: Column, n: Int): DataFrame =
    // total grams is arithmetic on the token count; distinct grams come
    // from the one-pass TextKernels kernel (which dedups internally) —
    // NOT the wordNgrams HOF, whose lambda re-tokenizes per element_at
    // (12 s vs 0.5 s at sf0.1)
    df.select(idCol.as("doc_id"),
        (size(tokens(text)) - (n - 1)).cast("long").as("n_grams"),
        size(graft.functions.TextKernels.wordNgrams(text, n)).cast("long").as("n_distinct"))
      .filter(col("n_grams") >= 1)
      .withColumn("ratio", round(col("n_distinct").cast("double") / col("n_grams"), 6))

  /** Vocabulary coverage / OOV rate — the tokenizer-fit diagnostic run
    * before committing a vocab: the top-`vocabSize` corpus terms by
    * frequency (ties lexicographic) form the vocab; each document
    * reports its token count, out-of-vocab token count, and OOV rate.
    * The vocab is a bounded sort-limit (vocabSize rows — coordinator
    * sized) broadcast back to the token stream, so corpus-scale work is
    * two hash aggregations and a broadcast hash join; no doc×vocab
    * shuffle exists at any corpus size. Empty documents emit nothing
    * (no tokens to cover). */
  def oovRate(docs: DataFrame, idCol: Column, text: Column,
              vocabSize: Int): DataFrame = {
    val toks = docs.select(idCol.as("doc_id"), explode(tokens(text)).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("_in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Feature-hashed doc vectors (the hashing trick, Weinberger et al.
    * 2009): v[j] = Σ over tokens with h(tok) mod dim = j of sign(tok)·tf —
    * hash and sign both md5-60 draws. The accumulation is INTEGER, so the
    * vector is a pure function of the bag of words with no float-fold
    * protocol needed; downstream cosine casts to double once. This is the
    * model-free embedding a text pipeline can afford at 100 TB: two hash
    * aggs (per-doc tf, then (doc, cell) sums) + an in-row densify — the
    * corpus shuffles once on doc_id, the vector assembly is a map lookup
    * over a literal index range. */
  def featureHashVectors(docs: DataFrame, idCol: Column, text: Column,
                         dim: Int): DataFrame =
    // one compiled pass ([[graft.functions.TextKernels.FeatureHashKernel]]);
    // integer accumulation is order-free, so the kernel is bit-identical to
    // the explode → groupBy(doc, cell) → densify form while running NARROW
    // — the original three-shuffle DataFrame pipeline measured 25 s at
    // 500k docs, the kernel ~2 s
    docs.select(idCol.as("doc_id"),
      graft.functions.TextKernels.featureHash(text, dim).as("vec"))

  /** Distributed rank + running-sum over a (tok, cnt) vocabulary table,
    * frequency desc / term asc: the [[graft.ext.Corpus.packTokens]]
    * prefix-sum shape — range-partition on the sort key, per-partition
    * (rows, Σcnt) totals to the driver (#partitions values, bounded),
    * exclusive-prefix offsets broadcast back as a literal CASE, then
    * intra-partition windows only. No single-partition global Window:
    * a web-scale vocabulary (10⁸–10⁹ distinct tokens) ranks in
    * parallel. Emits (tok, cnt, rank, cum). */
  private[graft] def rankedVocab(counts: DataFrame): DataFrame = {
    // persistOnce is LOAD-BEARING, not a speedup: repartitionByRange
    // SAMPLES boundaries per job, and two jobs over the same input can
    // assign rows to different range partitions (verified empirically at
    // 12M distinct tokens — ScaleRound13's invariant check fails without
    // the cache; small vocabularies mask it because sub-sample-size
    // partitions make the boundaries exact). The totals job below and
    // the window job must read the SAME materialized assignment.
    val parted = Dedup.persistOnce(counts
      .repartitionByRange(col("cnt").desc, col("tok"))
      .sortWithinPartitions(col("cnt").desc, col("tok"))
      .withColumn("_pid", spark_partition_id()))
    val pidTotals = parted.groupBy("_pid")
      .agg(count(lit(1)).as("_rows"), sum(col("cnt")).as("_mass"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val rankOff = pidTotals.map(_._1)
      .zip(pidTotals.map(_._2).scanLeft(0L)(_ + _))
    val cumOff = pidTotals.map(_._1)
      .zip(pidTotals.map(_._3).scanLeft(0L)(_ + _))
    def caseOf(offs: Array[(Int, Long)]) = offs.foldLeft(lit(0L)) {
      case (acc, (pid, off)) => when(col("_pid") === pid, lit(off)).otherwise(acc)
    }
    val w = Window.partitionBy("_pid").orderBy(desc("cnt"), col("tok"))
    parted
      .withColumn("rank", caseOf(rankOff) + row_number().over(w).cast("long"))
      .withColumn("cum", caseOf(cumOff) + sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_pid")
  }

  /** Vocabulary coverage curve — the tokenizer-design diagnostic: for
    * each candidate vocab size, the fraction of all corpus token
    * OCCURRENCES covered by the top-k terms (frequency desc, term asc
    * ties). One corpus-sized vocab agg; rank and cumulative mass come
    * from the distributed [[rankedVocab]] prefix sum, so no stage is
    * single-partition even when the vocabulary itself is huge. */
  def vocabCoverage(docs: DataFrame, text: Column, sizes: Seq[Int]): DataFrame = {
    val counts = docs.select(explode(tokens(text)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("_tot"))
    rankedVocab(counts).crossJoin(broadcast(total))
      .select(col("*"), explode(lit(sizes.toArray)).as("vocab_size"))
      .filter(col("rank") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(max(col("cum")).as("covered_tokens"), max(col("_tot")).as("total_tokens"))
      .withColumn("coverage",
        round(col("covered_tokens").cast("double") / col("total_tokens"), 6))
      .orderBy("vocab_size")
  }

  /** Zipf rank-frequency slope: least-squares fit of ln(freq) against
    * ln(rank) over the vocabulary — the corpus-health diagnostic (natural
    * text sits near −1; synthetic/templated corpora flatten). The four
    * regression sums each round to 6 dp BEFORE the slope arithmetic (the
    * engine-resync convention — the sums are the only unordered float
    * folds here). The global rank comes from the distributed
    * [[rankedVocab]] prefix sum — no single-partition Window. */
  def zipfSlope(docs: DataFrame, text: Column): DataFrame = {
    val counts = docs.select(explode(tokens(text)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val xy = rankedVocab(counts)
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    xy.agg(count(lit(1)).cast("double").as("n"),
        round(sum("x"), 6).as("sx"), round(sum("y"), 6).as("sy"),
        round(sum(col("x") * col("y")), 6).as("sxy"),
        round(sum(col("x") * col("x")), 6).as("sxx"))
      .select(col("n").cast("long").as("n_vocab"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"), 6)
          .as("intercept"))
  }

  /** ES `html_strip` char filter / web-corpus tag removal: `<script>` and
    * `<style>` BLOCKS go entirely (content included, as Lucene's
    * HTMLStripCharFilter does), remaining tags become one space, and the
    * five ubiquitous entities decode — `&amp;` LAST, so `&amp;lt;` yields
    * the literal `&lt;` rather than double-decoding (the classic entity
    * pitfall). Narrow regexp/replace chain; RE2-compatible patterns (no
    * backreferences), so the DuckDB oracle runs the same regexes. */
  def htmlStrip(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&nbsp;" -> " ",
      "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }
  }

  /** Web-page text extraction + link-density boilerplate signal: the
    * stripped text, anchor count, and the fraction of tokens living
    * inside `<a>…</a>` — high link density marks navigation/boilerplate
    * pages (the jusText/boilerpipe headline feature). All narrow: two
    * regexp extractions + in-row HOF token counts, no shuffle. */
  def htmlExtract(docs: DataFrame, idCol: Column, html: Column): DataFrame = {
    val stripped = trim(regexp_replace(htmlStrip(html), "\\s+", " "))
    val anchors = regexp_extract_all(html, lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1))
    val linkToks = size(flatten(transform(anchors, a => tokens(a))))
    val total = size(tokens(stripped))
    docs.select(idCol.as("doc_id"), stripped.as("text_extracted"),
        size(anchors).as("n_links"), total.as("n_tokens"),
        linkToks.as("n_link_tokens"))
      .withColumn("link_density",
        when(col("n_tokens") > 0,
          round(col("n_link_tokens").cast("double") / col("n_tokens"), 6))
          .otherwise(lit(0.0)))
  }

  /** Encoding-damage / mojibake signals — the cheap pre-filter a web
    * crawl runs before any model-based quality scoring: count of U+FFFD
    * replacement characters (the scar a mis-decoded byte stream leaves),
    * count of C0 control characters (excluding tab/LF/CR), and the doc's
    * token-level Shannon entropy (low entropy = repeated-token boilerplate,
    * pathological for LM training). Everything is a narrow string kernel —
    * per-row regexp/length arithmetic plus an in-row HOF fold, no shuffle,
    * no explode. The entropy fold runs over the ASCENDING distinct token
    * list (both engines sort first), so the double association is
    * cross-engine deterministic; `0.0 - sum` keeps a zero entropy at
    * +0.0 on both sides. */
  def encodingDamage(docs: DataFrame, idCol: Column, text: Column): DataFrame = {
    val nRepl = length(text) - length(regexp_replace(text, "\uFFFD", ""))
    val nCtrl = length(text) -
      length(regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))
    // one compiled pass ([[graft.functions.TextKernels.TokenEntropySumKernel]]);
    // same ascending-distinct fold as the HOF/DuckDB form, ~40\u00D7 faster on
    // long docs (the O(distinct \u00D7 tokens) interpreted rescan is gone)
    val ent = graft.functions.TextKernels.tokenEntropySum(text)
    docs.select(idCol.as("doc_id"),
        nRepl.as("n_repl"), nCtrl.as("n_ctrl"),
        when(ent.isNotNull, round(lit(0.0) - ent, 4)).otherwise(lit(0.0))
          .as("tok_entropy"))
      .withColumn("damaged", col("n_repl") > 0 || col("n_ctrl") > 0)
  }

  /** Heaps'-law vocabulary-growth curve — the corpus-composition
    * diagnostic paired with [[zipfSlope]]: at `k` doc_id-cutoff
    * checkpoints (cutoff_j = ⌊max_id·j/k⌋, a deterministic prefix of the
    * corpus in ingestion-id order), the running document count, token
    * count, and vocabulary size, plus the local Heaps exponent
    * β_j = ln(V_j/V_{j−1}) / ln(N_j/N_{j−1}) between consecutive
    * checkpoints (β drifting upward flags novelty-heavy tail sources;
    * β → 0 flags a corpus gone repetitive).
    *
    * Scale shape: vocabulary growth needs each type's FIRST occurrence,
    * not a per-prefix re-count — one (tok → min(doc_id)) hash agg is the
    * whole corpus-sized vocabulary pass. Doc stats ride a k-way broadcast
    * cutoff replication of the (doc_id, token-count) projection (k fixed
    * and small) into a k-row hash agg; the vocab side replicates only the
    * first-occurrence TABLE (vocab-sized, never occurrence-sized). The β
    * join is k×k-row broadcast arithmetic. No windows, no sorts, nothing
    * single-partition. */
  def heapsCurve(docs: DataFrame, idCol: Column, text: Column,
                 k: Int = 8): DataFrame = {
    val toks = docs.select(idCol.as("doc_id"), tokens(text).as("w"))
    // coalesce: max() is NULL on an empty corpus — 0 yields k empty
    // checkpoints instead of an NPE at getLong
    val maxId = docs.agg(coalesce(max(idCol).cast("long"), lit(0L)))
      .head().getLong(0)
    val spark = docs.sparkSession
    import spark.implicits._
    // BigInt on the driver: ids near 2^60 (snapshot-prefixed, hash-derived)
    // would overflow maxId * j in Long before the divide
    val ck = (1 to k).map(j => (j.toLong, (BigInt(maxId) * j / k).toLong))
      .toDF("ckpt", "cutoff")
    val docStats = toks.select(col("doc_id"), size(col("w")).cast("long").as("tc"))
      .join(broadcast(ck), col("doc_id") <= col("cutoff"))
      .groupBy("ckpt", "cutoff")
      .agg(count(lit(1)).as("n_docs"), sum(col("tc")).as("n_tokens"))
    val firstDoc = toks.select(explode(col("w")).as("tok"), col("doc_id"))
      .groupBy("tok").agg(min(col("doc_id")).as("fd"))
    val vocabAt = firstDoc
      .join(broadcast(ck), col("fd") <= col("cutoff"))
      .groupBy("ckpt").agg(count(lit(1)).as("vocab"))
    val pts = docStats.join(vocabAt, "ckpt")
      .select(col("ckpt"), col("cutoff"), col("n_docs"), col("n_tokens"), col("vocab"))
    val prev = pts.select(col("ckpt").as("_pk"),
      col("n_tokens").as("_pn"), col("vocab").as("_pv"))
    pts.join(broadcast(prev), col("_pk") === col("ckpt") - 1, "left")
      .select(col("ckpt"), col("cutoff"), col("n_docs"), col("n_tokens"), col("vocab"),
        when(col("_pn").isNull || col("_pn") === col("n_tokens"), lit(null).cast("double"))
          .otherwise(round(
            log(col("vocab").cast("double") / col("_pv")) /
              log(col("n_tokens").cast("double") / col("_pn")), 6)).as("beta"))
      .orderBy("ckpt")
  }
}
