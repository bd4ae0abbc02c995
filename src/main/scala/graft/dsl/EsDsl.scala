package graft.dsl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tier B (SURVEY.md §2): the query surface the composed reference system
  * delegates to Elasticsearch 6.5 (`/root/reference/pom.xml:25-26` pins the
  * ES dependency; `README_zh.md:3` states ES serves the queries), re-expressed
  * as thin wrappers over Catalyst built-ins. Everything here stays inside
  * whole-stage codegen — no UDFs — so filters push down to the parquet scan
  * and aggregations get map-side partials for free.
  */
object EsDsl {

  // ---- queries (predicates) -------------------------------------------
  /** B1 `term` */
  def term(c: Column, v: Any): Column = c === lit(v)
  /** B1 `terms` */
  def terms(c: Column, vs: Seq[Any]): Column = c.isin(vs: _*)
  /** B2 `range` — null bound = unbounded */
  def range(c: Column, gte: Option[Any] = None, lt: Option[Any] = None,
            gt: Option[Any] = None, lte: Option[Any] = None): Column =
    Seq(gte.map(c >= lit(_)), lt.map(c < lit(_)), gt.map(c > lit(_)), lte.map(c <= lit(_)))
      .flatten.reduceOption(_ && _).getOrElse(lit(true))
  /** B3 `exists` on a plain column */
  def exists(c: Column): Column = c.isNotNull
  /** B3 `exists` on a dynamic map doc (`info['k']` present) */
  def existsKey(info: Column, key: String): Column = map_contains_key(info, lit(key))
  /** B4 `prefix` / `wildcard` (ES `*`/`?`) / `regexp` */
  def prefix(c: Column, p: String): Column = c.startsWith(p)
  def wildcard(c: Column, pattern: String): Column =
    c.like(pattern.replace('*', '%').replace('?', '_'))
  /** B4 `regexp`: ES regexp queries are ANCHORED — the pattern must match
    * the ENTIRE term (Lucene RegexpQuery semantics; substring behavior
    * needs explicit `.*…​.*`). `rlike` is find()-shaped, so wrap in a
    * non-capturing full anchor. (The span_multi and terms-agg
    * include/exclude paths were already anchored; this closes the last
    * substring-semantics regexp site.) */
  def regexp(c: Column, pattern: String): Column = {
    // ES validates the pattern at PARSE time (RegexpQuery construction
    // throws on a malformed expression); rlike compiles lazily inside the
    // task, so without this eager compile a bad pattern classifies as a
    // valid query and then explodes executor-side (found by EsJsonFuzzSpec).
    // PatternSyntaxException is an IllegalArgumentException — the
    // invalid_query class.
    java.util.regex.Pattern.compile(pattern)
    c.rlike("^(?:" + pattern + ")$")
  }
  /** B5 `match`: analyzed OR-of-terms with minimum_should_match. Term set
    * is deduped (array_intersect) — ES scores per unique term too. */
  def matchCount(text: Column, queryTerms: Seq[String]): Column =
    size(array_intersect(split(lower(text), "\\W+"), lit(queryTerms.map(_.toLowerCase).toArray)))
  /** Boolean form: counts satisfied CLAUSES, one per query-term
    * OCCURRENCE (Lucene keeps duplicate term clauses — `operator: and`
    * over "alpha gamma alpha" is satisfied by one occurrence of each
    * distinct term because both alpha clauses see the same posting;
    * pre-round-15 the deduped intersect count could never reach an
    * msm that counted duplicates, so such queries matched NOTHING —
    * match-family differential find, a226 pins it). */
  def matchQuery(text: Column, queryTerms: Seq[String], minShouldMatch: Int = 1): Column =
    occurrenceMatchCount(split(lower(text), "\\W+"),
      queryTerms.map(_.toLowerCase)) >= minShouldMatch

  /** Satisfied-clause count with ONE clause per query-term occurrence and
    * ONE tokenization per row: the doc tokens intersect the DISTINCT term
    * set once (codegen'd array_intersect — the round-15 per-occurrence
    * `array_contains` chain re-split the text per clause, with no CSE
    * guarantee), and each matched distinct term then contributes its
    * occurrence multiplicity. The duplicate-free common case stays the
    * pure size(array_intersect) plan; only a query with repeated tokens
    * pays the (tiny, ≤ #distinct-terms array) HOF fold. */
  private def occurrenceMatchCount(toks: Column, terms: Seq[String]): Column = {
    val distinct = terms.distinct
    if (distinct.size == terms.size)
      size(array_intersect(toks, lit(distinct.toArray)))
    else {
      val mult = map_from_arrays(lit(distinct.toArray),
        lit(distinct.map(t => terms.count(_ == t)).toArray))
      aggregate(array_intersect(toks, lit(distinct.toArray)), lit(0),
        (acc, t) => acc + element_at(mult, t))
    }
  }

  /** B5 `match` with `fuzziness`: each query-term OCCURRENCE is one clause
    * that matches when SOME doc token is within its edit budget — Damerau
    * distance, ES's `fuzzy_transpositions: true` default; AUTO budgets are
    * per-TERM length (ES semantics), and `prefix_length` prunes with an
    * exact-prefix check before any distance evaluates. msm counts term
    * clauses, as in the exact-match path. The per-token existential is a
    * HOF (interpreted) but evaluates the cheap prefix conjunct first; the
    * distance kernel itself is one static call per surviving token. */
  def matchQueryFuzzy(text: Column, queryTerms: Seq[String],
                      fuzzinessOf: String => Int, minShouldMatch: Int = 1,
                      prefixLength: Int = 0): Column = {
    // empty split artifacts are NOT tokens (damerau("", t) = len(t) would
    // let short terms match punctuation-only gaps; the oracle's token CTE
    // filters '' too)
    val toks = filter(split(lower(text), "\\W+"), t => t =!= "")
    // one existential per DISTINCT term (the expensive kernel runs once),
    // weighted by the term's occurrence count so msm — which counts raw
    // occurrences, like Lucene's duplicate clauses — stays reachable: a
    // repeated token under `operator: and` matched NOTHING pre-round-16
    // (the a226 bug class; the advisor flagged this fuzzy-path twin)
    queryTerms.map(_.toLowerCase).groupBy(identity).toSeq.sortBy(_._1)
      .map { case (t, occ) =>
        val fz = fuzzinessOf(t)
        org.apache.spark.sql.functions.exists(toks, tok => {
          val dist = graft.functions.EditDistance.fuzzyLev(tok, lit(t)) <= fz
          if (prefixLength > 0)
            substring(tok, 1, prefixLength) === lit(t.take(prefixLength)) && dist
          else dist
        }).cast("int") * lit(occ.size)
      }.reduce(_ + _) >= minShouldMatch
  }

  /** B5 `match` with a SHINGLE analyzer (ES `shingle` token filter): the
    * token stream is word n-grams for every size in `sizes` (plus the
    * unigrams when `outputUnigrams`, the filter's `output_unigrams`
    * option). Each query shingle is one term clause; a doc matches a
    * clause when it contains that shingle, msm counts DISTINCT matched
    * shingles (matchCount's dedup convention). Doc shingles come from the
    * [[graft.functions.TextKernels.WordNgramsKernel]] one-pass kernel —
    * narrow, no shuffle. */
  def matchQueryShingles(text: Column, queryText: String, sizes: Seq[Int],
                         outputUnigrams: Boolean, minShouldMatch: Int = 1): Column = {
    import graft.functions.TextKernels
    val qToks = queryText.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq
    val qShingles = (sizes.flatMap(n => qToks.sliding(n).filter(_.length == n)
        .map(_.mkString(" "))) ++ (if (outputUnigrams) qToks else Nil)).distinct
    require(qShingles.nonEmpty, "shingle match needs at least one query shingle")
    val docParts = sizes.map(n => TextKernels.wordNgrams(text, n)) ++
      (if (outputUnigrams) Seq(graft.ext.TextAnalysis.tokens(text)) else Nil)
    val docAll = docParts.reduce(concat(_, _))
    size(array_intersect(docAll, lit(qShingles.toArray))) >= minShouldMatch
  }

  /** B5 `match` with the opt-in English analyzer: stopword removal +
    * S-stemming applied to BOTH the document tokens (one kernel pass) and
    * the query terms (driver-side, same JVM function) — recall on
    * inflected forms ("tables" matches "table"). Opt-in per query via
    * `"analyzer": "english"`; the default analyzer is untouched. */
  /** `zeroTermsAll`: ES `zero_terms_query` — when the analyzer strips
    * every query term, `none` (ES default) matches nothing and `all`
    * matches everything (the match_all fallback stopword-only queries
    * want). Without an explicit choice the degenerate query still fails
    * loudly at the JSON layer. */
  def matchQueryEnglish(text: Column, queryTerms: Seq[String], minShouldMatch: Int = 1,
                        zeroTermsAll: Option[Boolean] = None): Column = {
    import graft.functions.TextKernels
    val analyzed = queryTerms.map(_.toLowerCase)
      .filterNot(TextKernels.englishStopwords.contains)
      .map(TextKernels.stemEnglish).distinct
    if (analyzed.isEmpty) zeroTermsAll match {
      case Some(all) => lit(all)
      case None => throw new IllegalArgumentException(
        s"english analyzer removed every query term: $queryTerms (set zero_terms_query)")
    }
    else size(array_intersect(TextKernels.englishTokens(text), lit(analyzed.toArray))) >= minShouldMatch
  }

  /** B5 `match` with the `whitespace` analyzer: tokens split on
    * whitespace ONLY — case and punctuation survive (ES's whitespace
    * analyzer has no lowercase filter), so "Spark!" matches "Spark!"
    * and not "spark". Clauses count per query-term OCCURRENCE (the same
    * Lucene duplicate-clause convention as [[matchQuery]] — the caller's
    * msm counts raw occurrences, so the round-15 deduped intersect made
    * `operator: and` with a repeated token unsatisfiable). */
  def matchQueryWhitespace(text: Column, queryTerms: Seq[String],
                           minShouldMatch: Int = 1): Column =
    occurrenceMatchCount(split(text, "\\s+"), queryTerms) >= minShouldMatch

  /** B5 `match` with the opt-in `cjk` analyzer: the RAW query string (not
    * pre-split terms — bigramming needs the original character runs) and
    * the document both tokenize through [[graft.functions.TextKernels
    * .analyzeCjk]] (latin words + overlapping CJK bigrams), so 中文 text is
    * searchable without a segmenter, exactly ES 6.5's `cjk` analyzer
    * shape. */
  def matchQueryCjk(text: Column, query: String, minShouldMatch: Int = 1): Column = {
    import graft.functions.TextKernels
    val analyzed = TextKernels.analyzeCjk(query).distinct
    require(analyzed.nonEmpty, s"cjk analyzer produced no tokens from: $query")
    size(array_intersect(TextKernels.cjkTokens(text), lit(analyzed))) >= minShouldMatch
  }

  /** B5 `multi_match` (best_fields-style predicate): the match fires if ANY
    * of the fields satisfies the term match. */
  def multiMatch(fields: Seq[Column], queryTerms: Seq[String], minShouldMatch: Int = 1): Column =
    fields.map(f => matchQuery(f, queryTerms, minShouldMatch)).reduce(_ || _)

  /** `multi_match` `cross_fields` predicate — TERM-centric (the fields act
    * as one logical field): a query term matches when ANY field contains
    * it, and `minShouldMatch` counts matched TERMS (so `operator: and`
    * requires every term somewhere, not every term in one field — the
    * first-name/last-name-split-fields semantics). */
  def multiMatchCrossFields(fields: Seq[Column], queryTerms: Seq[String],
                            minShouldMatch: Int = 1): Column =
    queryTerms.map { t =>
      when(fields.map(f => matchQuery(f, Seq(t))).reduce(_ || _), 1).otherwise(0)
    }.reduce(_ + _) >= minShouldMatch

  /** B5 `match_phrase`: the query terms appear as CONSECUTIVE tokens.
    * Tokens are delimiter-joined (`|x|y|z|`) and the phrase becomes one
    * codegen'd `contains` — the tokenizer strips non-word chars, so the
    * delimiter cannot occur inside a token. (A positional-HOF scan was 8 s
    * at sf0.1; this is pure string ops inside WholeStageCodegen.) */
  def matchPhrase(text: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "empty phrase")
    val toks = graft.ext.TextAnalysis.tokens(text)
    concat(lit("|"), array_join(toks, "|"), lit("|"))
      .contains(phrase.map(_.toLowerCase).mkString("|", "|", "|"))
  }

  /** B5 scored `match`: Lucene-shaped BM25 over the corpus itself —
    * idf(t) = ln(1 + (N − df + ½)/(df + ½)),
    * score = Σ_t idf·tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    * One corpus pass computes (N, avgdl, df_t) as a 1-row stats frame that
    * broadcasts back — no driver-side collect, the corpus never shuffles.
    * Emits the input columns + `_score` (docs with score 0 dropped,
    * matching ES's should-match-at-least-one). */
  def matchBm25(docs: DataFrame, text: Column, terms: Seq[String],
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (joined, scores, internals) = bm25Scores(docs, Seq(text -> terms), k1, b)
    joined.withColumn("_score", round(scores.head, 6))
      .filter(col("_score") > 0)
      .drop(internals: _*)
  }

  /** One BM25-scorable clause: an analyzed term set (`match`) or a
    * consecutive-token phrase (`match_phrase`, scored by Lucene's phrase
    * frequency — overlapping occurrence count as tf). */
  sealed trait Bm25Clause { def nFreqs: Int }
  final case class TermsBm25(text: Column, terms: Seq[String]) extends Bm25Clause {
    def nFreqs: Int = terms.size
  }
  final case class PhraseBm25(text: Column, phrase: Seq[String]) extends Bm25Clause {
    def nFreqs: Int = 1
  }

  def bm25Scores(docs: DataFrame, clauses: Seq[(Column, Seq[String])],
                 k1: Double = 1.2, b: Double = 0.75): (DataFrame, Seq[Column], Seq[String]) =
    bm25ScoresMixed(docs, clauses.map { case (t, ts) => TermsBm25(t, ts) }, k1, b)

  /** BM25 machinery for SEVERAL clauses in ONE corpus pass — the composable
    * core behind [[matchBm25]] and the scored `bool` (per-clause boosts
    * summing into a bool-level `_score`). Per clause: a one-pass freq
    * kernel column ([tf…, doclen] for term sets, [phraseFreq, doclen] for
    * phrases — the HOF formulation re-evaluated size(filter(tokens)) per
    * term in BOTH the filter condition and the projection); then a single
    * shared stats frame (N, per-clause avgdl, per-freq df) broadcast back;
    * per-clause raw score expressions (0 for a doc matching nothing —
    * BM25's natural zero). Returns (joined frame, per-clause scores,
    * internal col names for the caller to drop). */
  def bm25ScoresMixed(docs: DataFrame, clauses: Seq[Bm25Clause],
                      k1: Double = 1.2, b: Double = 0.75): (DataFrame, Seq[Column], Seq[String]) = {
    val base = clauses.zipWithIndex.foldLeft(docs) {
      case (d, (TermsBm25(text, ts), i)) =>
        d.withColumn(s"_tfs$i", graft.functions.TextKernels.termFreqs(text, ts.map(_.toLowerCase)))
          .withColumn(s"_dl$i", element_at(col(s"_tfs$i"), ts.size + 1).cast("double"))
      case (d, (PhraseBm25(text, ph), i)) =>
        d.withColumn(s"_tfs$i", graft.functions.TextKernels.phraseFreqs(text, ph))
          .withColumn(s"_dl$i", element_at(col(s"_tfs$i"), 2).cast("double"))
    }
    val statCols = count(lit(1)).cast("double").as("_n") +:
      clauses.zipWithIndex.flatMap { case (c, i) =>
        avg(col(s"_dl$i")).as(s"_avgdl$i") +:
          (0 until c.nFreqs).map { j =>
            sum(when(element_at(col(s"_tfs$i"), j + 1) > 0, 1L).otherwise(0L))
              .cast("double").as(s"_df${i}_$j")
          }
      }
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val joined = base.crossJoin(broadcast(stats))
    val scores = clauses.zipWithIndex.map { case (c, i) =>
      (0 until c.nFreqs).map { j =>
        val tf = element_at(col(s"_tfs$i"), j + 1).cast("double")
        val idf = log(lit(1.0) + (col("_n") - col(s"_df${i}_$j") + 0.5) / (col(s"_df${i}_$j") + 0.5))
        val lengthNorm = lit(k1) * (lit(1 - b) + lit(b) * col(s"_dl$i") / col(s"_avgdl$i"))
        idf * (tf * (k1 + 1)) / (tf + lengthNorm)
      }.reduce(_ + _)
    }
    val internals = "_n" +: clauses.zipWithIndex.flatMap { case (c, i) =>
      Seq(s"_tfs$i", s"_dl$i", s"_avgdl$i") ++ (0 until c.nFreqs).map(j => s"_df${i}_$j")
    }
    (joined, scores, internals)
  }

  /** `multi_match` `cross_fields` score over slots that [[bm25ScoresMixed]]
    * allocated (one [[TermsBm25]] slot per field, all with the SAME term
    * list): Lucene's blended term query in its dis-max form — per query
    * term the idf uses the BLENDED df (max of that term's df across the
    * fields, so a term common in ANY field is cheap everywhere), the tf
    * side is the best field's normalized tf plus `tieBreaker` × the rest,
    * and the per-term scores SUM. Term-centric where best/most_fields are
    * field-centric. Must be applied while the internal `_df/_tfs/_dl/
    * _avgdl/_n` columns are still in scope (before the caller drops them). */
  def crossFieldsScore(slotIdxs: Seq[Int], nTerms: Int,
                       k1: Double = 1.2, b: Double = 0.75,
                       tieBreaker: Double = 0.0): Column =
    (0 until nTerms).map { j =>
      val dfs = slotIdxs.map(i => col(s"_df${i}_$j"))
      val dfBlend = if (dfs.size == 1) dfs.head else greatest(dfs: _*)
      val idf = log(lit(1.0) + (col("_n") - dfBlend + 0.5) / (dfBlend + 0.5))
      val tfn = slotIdxs.map { i =>
        val tf = element_at(col(s"_tfs$i"), j + 1).cast("double")
        val lengthNorm = lit(k1) * (lit(1 - b) + lit(b) * col(s"_dl$i") / col(s"_avgdl$i"))
        tf * (k1 + 1) / (tf + lengthNorm)
      }
      val best = if (tfn.size == 1) tfn.head else greatest(tfn: _*)
      // greatest() skips NULLs but + does not: a doc missing one nullable
      // field would null-poison the tie_breaker sum and get dropped by the
      // `_score > 0` filter where ES still scores it — coalesce each slot
      val withTb =
        if (tieBreaker == 0.0 || tfn.size == 1) best
        else best + lit(tieBreaker) * (tfn.map(coalesce(_, lit(0.0))).reduce(_ + _) - best)
      idf * withTb
    }.reduce(_ + _)
  /** B6 `bool`. must_not is ES-faithful: a doc where the clause evaluates
    * NULL (field missing) does NOT match the clause, so it is KEPT —
    * `!coalesce(pred, false)`, not SQL's null-dropping `NOT pred`. */
  def bool(must: Seq[Column] = Nil, should: Seq[Column] = Nil,
           mustNot: Seq[Column] = Nil, minimumShouldMatch: Int = 1): Column = {
    val m = must.reduceOption(_ && _).getOrElse(lit(true))
    val s = if (should.isEmpty) lit(true)
      else should.map(c => when(c, 1).otherwise(0)).reduce(_ + _) >= minimumShouldMatch
    val n = mustNot.map(c => !coalesce(c, lit(false))).reduceOption(_ && _).getOrElse(lit(true))
    m && s && n
  }
  /** B7 `ids` */
  def ids(idCol: Column, keys: Seq[Any]): Column = idCol.isin(keys: _*)

  /** `more_like_this`: find documents similar to one source doc. Term
    * selection is ES-faithful (the source doc's top `maxQueryTerms` terms
    * by tf-idf against the corpus df, deterministic term tiebreak —
    * [[graft.ext.TextAnalysis.tfIdfTopK]]); the selected terms come to the
    * driver (k strings — query CONSTRUCTION, the same step ES runs on the
    * coordinating node) and scoring is the total occurrence count of the
    * query terms (the practical-scoring analog at constant idf, the
    * b05_match_scored precedent — exact integers, so the oracle
    * reproduces it with no float tolerance). The source doc is excluded. */
  def moreLikeThis(docs: DataFrame, idCol: Column, text: Column, likeId: Long,
                   maxQueryTerms: Int = 5, topN: Int = 20): DataFrame = {
    val terms = graft.ext.TextAnalysis.tfIdfTopK(docs, idCol, text, maxQueryTerms)
      .filter(col("doc_id") === likeId).orderBy("rn")
      .collect().map(_.getAs[String]("term")).toSeq
    require(terms.nonEmpty, s"more_like_this: source doc $likeId has no terms")
    val toks = graft.ext.TextAnalysis.tokens(text)
    docs.select(idCol.as("doc_id"),
        size(filter(toks, t => t.isin(terms: _*))).as("score"))
      .filter(col("score") > 0 && col("doc_id") =!= likeId)
      .orderBy(desc("score"), col("doc_id")).limit(topN)
  }

  /** [[moreLikeThis]] with FULL BM25 scoring (what ES actually runs —
    * [[moreLikeThis]] remains the exact-integer oracle twin). Same
    * ES-faithful term selection; the selected terms are SORTED so the
    * per-term score sum folds left-to-right over a deterministic term
    * order — an oracle can reproduce the double bit-for-bit with the same
    * ordered fold (list_reduce over a term-sorted list), which is what
    * made data-dependent-term BM25 hash-safe (zero-tf terms contribute an
    * exact +0.0 and cannot perturb the sum). One corpus pass via
    * [[bm25Scores]]; the only driver-side step is the k-term query
    * construction ES's coordinator also performs. */
  def moreLikeThisBm25(docs: DataFrame, idCol: Column, text: Column, likeId: Long,
                       maxQueryTerms: Int = 5, topN: Int = 20,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = graft.ext.TextAnalysis.tfIdfTopK(docs, idCol, text, maxQueryTerms)
      .filter(col("doc_id") === likeId)
      .collect().map(_.getAs[String]("term")).toSeq.sorted
    require(terms.nonEmpty, s"more_like_this: source doc $likeId has no terms")
    val (joined, scores, internals) = bm25Scores(docs, Seq(text -> terms), k1, b)
    joined.withColumn("_score", round(scores.head, 6))
      .filter(col("_score") > 0 && idCol =!= likeId)
      .select(idCol.as("doc_id"), col("_score").as("score"))
      .orderBy(desc("score"), col("doc_id")).limit(topN)
  }

  /** ES `termvectors` API: per-term frequency + 0-based token positions
    * for one document (the read side of what MLT's term selection and the
    * span queries consume). One row's tokenization — bounded work; the
    * positions stringify (sorted, comma-joined) per the array-output
    * convention. */
  def termVectors(docs: DataFrame, idCol: Column, text: Column, docId: Long): DataFrame =
    docs.filter(idCol === docId)
      .select(idCol.as("doc_id"),
        posexplode(graft.ext.TextAnalysis.tokens(text)).as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("term_freq"),
        concat_ws(",", sort_array(collect_list(col("pos")))).as("positions"))
      .orderBy("term")

  /** ES `_mtermvectors`: [[termVectors]] for a batch of ids in one call
    * (ES returns a `docs` array; one frame keyed by doc_id is the
    * relational equivalent). The id set is an `isin` literal — it pushes
    * into the scan, and the grouped agg keys by (doc_id, term), so the
    * batch costs one narrow pass however many ids ride along. */
  def mTermVectors(docs: DataFrame, idCol: Column, text: Column,
                   docIds: Seq[Long]): DataFrame =
    docs.filter(idCol.isin(docIds: _*))
      .select(idCol.as("doc_id"),
        posexplode(graft.ext.TextAnalysis.tokens(text)).as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("term_freq"),
        concat_ws(",", sort_array(collect_list(col("pos")))).as("positions"))
      .orderBy("doc_id", "term")

  /** ES `_analyze` API over a table column: per-doc token stream for the
    * named analyzer with 0-based `position` and the ES token `type`
    * (`<NUM>`/`<ALPHANUM>` for standard, `word` otherwise — offsets are
    * not tracked; positions/types are what the query surface consumes).
    * `pattern` feeds the `pattern` analyzer's split regex (ES default
    * `\W+`); `htmlStrip: true` applies the `html_strip` char filter
    * BEFORE tokenization (tag removal + entity decode — the char-filter
    * stage of an ES analysis chain). Fully narrow: strip + tokenize +
    * posexplode inside codegen, no shuffle. */
  def analyzeApi(docs: DataFrame, idCol: Column, text: Column,
                 analyzer: String = "standard",
                 pattern: String = "\\W+", htmlStrip: Boolean = false): DataFrame = {
    val src = if (htmlStrip) graft.ext.TextAnalysis.htmlStrip(text) else text
    val out = analyzer match {
      case "standard" =>
        docs.select(idCol.as("doc_id"),
          posexplode(graft.ext.TextAnalysis.tokens(src)).as(Seq("position", "token")))
      case "whitespace" =>
        docs.select(idCol.as("doc_id"),
          posexplode(filter(split(src, "\\s+"), t => t =!= "")).as(Seq("position", "token")))
      case "keyword" =>
        docs.select(idCol.as("doc_id"),
          posexplode(array(src)).as(Seq("position", "token")))
      // ES `simple` = lowercase tokenizer: token boundaries at every
      // NON-LETTER (digits split too, unlike standard)
      case "simple" =>
        docs.select(idCol.as("doc_id"),
          posexplode(filter(split(lower(src), "[^a-z]+"), t => t =!= ""))
            .as(Seq("position", "token")))
      // ES `stop` = the lowercase tokenizer + english stop filter;
      // position increments across removed stopwords are PRESERVED (the
      // same convention the english analyzer keeps)
      case "stop" =>
        docs.select(idCol.as("doc_id"),
            posexplode(filter(split(lower(src), "[^a-z]+"), t => t =!= ""))
              .as(Seq("position", "token")))
          .filter(!col("token").isin(graft.functions.TextKernels.englishStopwordList: _*))
      // ES `pattern` analyzer: the regex SPLITS (it matches separators,
      // not tokens), lowercase on by default
      case "pattern" =>
        docs.select(idCol.as("doc_id"),
          posexplode(filter(split(lower(src), pattern), t => t =!= ""))
            .as(Seq("position", "token")))
      case "english" =>
        // ES's english analyzer PRESERVES position increments across
        // removed stopwords ("the quick fox" -> quick@1, fox@2, not 0,1):
        // positions come from the pre-filter standard token stream, then
        // the stopword filter drops rows and the S-stemmer rewrites the
        // surviving tokens (same rules as TextKernels.stemEnglish)
        val t = col("token")
        val stemmed =
          when(t.endsWith("ies") && !t.endsWith("eies") && !t.endsWith("aies"),
            concat(t.substr(lit(1), length(t) - 3), lit("y")))
          .when(t.endsWith("es") && !t.endsWith("aes") && !t.endsWith("ees") && !t.endsWith("oes"),
            t.substr(lit(1), length(t) - 1))
          .when(t.endsWith("s") && !t.endsWith("us") && !t.endsWith("ss"),
            t.substr(lit(1), length(t) - 1))
          .otherwise(t)
        docs.select(idCol.as("doc_id"),
            posexplode(graft.ext.TextAnalysis.tokens(src)).as(Seq("position", "token")))
          .filter(!t.isin(graft.functions.TextKernels.englishStopwordList: _*))
          .withColumn("token", stemmed)
      case other => throw new IllegalArgumentException(s"_analyze: unsupported analyzer $other")
    }
    val ttype =
      if (analyzer == "standard")
        when(col("token").rlike("^[0-9]+$"), "<NUM>").otherwise("<ALPHANUM>")
      else lit("word")
    out.withColumn("token_type", ttype)
  }

  /** ES `terminate_after`: each shard stops collecting after `n` matching
    * docs. Shards are the deterministic hash slices of the `slice` API
    * (`md5·60(id) mod shards`); "first n per shard" is the id order within
    * the slice. Per-shard `terminated_early` reports whether the cap hit.
    * Scale shape: one shuffle on the shard key; the rank window and the
    * per-shard count reuse that partitioning (no second exchange). */
  def terminateAfter(docs: DataFrame, idCol: Column, n: Int,
                     shards: Int): DataFrame = {
    val sharded = docs.withColumn("_shard",
      pmod(graft.functions.Hashing.md5Long60(idCol.cast("string")), lit(shards.toLong)))
    val w = Window.partitionBy("_shard").orderBy(idCol)
    sharded
      .withColumn("_rk", row_number().over(w))
      .withColumn("terminated_early",
        (count(lit(1)).over(Window.partitionBy("_shard")) > n).cast("boolean"))
      .filter(col("_rk") <= n)
      .withColumn("shard", col("_shard").cast("int"))
      .drop("_shard", "_rk")
  }

  // ---- search body ----------------------------------------------------
  /** B8 `from`/`size` + `sort` — deterministic pagination (caller supplies
    * a total order, usually with an id tiebreak). */
  def paginate(df: DataFrame, sort: Seq[Column], from: Int, size: Int): DataFrame =
    df.orderBy(sort: _*).offset(from).limit(size)

  // ---- aggregations ---------------------------------------------------
  /** B9 `terms` agg: top-`size` buckets by doc count, count-desc with key
    * tiebreak (ES default order). Map-side partial agg + a single
    * TakeOrdered — no full sort at scale. */
  def termsAgg(df: DataFrame, key: Column, size: Int): DataFrame =
    df.groupBy(key.as("key")).agg(count(lit(1)).as("doc_count"))
      .orderBy(desc("doc_count"), col("key")).limit(size)
  /** ES distributed `terms` agg error accounting
    * (`show_term_doc_count_error`): shards — the deterministic md5-60
    * hash slices of the `slice`/`terminate_after` machinery — each
    * report their local top-`shardSize` terms; the coordinator sums the
    * reported counts, and a term ABSENT from some shard's list can hide
    * at most that shard's last-reported (cutoff) count there, so
    * `doc_count_error_upper_bound` = Σ cutoff over the shards that did
    * not report the term (0 from any shard that returned its complete
    * list). This is the ES 6.5 approximate-top-k contract made explicit
    * — the engine's own exact [[termsAgg]] is what a single-coordinator
    * plan gives; this form shows what a sharded deployment would bound.
    * Plan: one (shard, key) hash agg, per-shard bounded rank windows,
    * one coordinator-side combine with the (≤ shards)-row cutoff table
    * broadcast into a narrow HOF sum. */
  def termsAggWithError(df: DataFrame, key: Column, idCol: Column,
                        size: Int, shardSize: Int, shards: Int): DataFrame = {
    val sharded = df.select(key.as("key"),
      pmod(graft.functions.Hashing.md5Long60(idCol.cast("string")),
        lit(shards.toLong)).as("_shard"))
    val perShard = sharded.groupBy("_shard", "key").agg(count(lit(1)).as("cnt"))
    val wr = Window.partitionBy("_shard").orderBy(desc("cnt"), col("key"))
    val reported = perShard.withColumn("_rk", row_number().over(wr))
      .filter(col("_rk") <= shardSize)
    val cutoffs = reported.groupBy("_shard")
      .agg(when(count(lit(1)) < shardSize, lit(0L)).otherwise(min(col("cnt"))).as("_cut"))
    val combined = reported.groupBy("key")
      .agg(sum("cnt").as("doc_count"), collect_set("_shard").as("_in"))
    combined
      .crossJoin(broadcast(cutoffs.agg(
        collect_list(struct(col("_shard"), col("_cut"))).as("_all"))))
      .withColumn("doc_count_error_upper_bound",
        aggregate(
          filter(col("_all"), s => !array_contains(col("_in"), s.getField("_shard"))),
          lit(0L), (acc, s) => acc + s.getField("_cut")))
      .select(col("key"), col("doc_count"), col("doc_count_error_upper_bound"))
      .orderBy(desc("doc_count"), col("key")).limit(size)
  }

  /** ES 6.5's DEFAULT search mode `query_then_fetch`: BM25 statistics
    * (N, df, avgdl) are SHARD-LOCAL — each shard scores its own hits with
    * its own index stats and the coordinator merges by score, so the same
    * doc can rank differently depending on which shard it landed on (the
    * score-skew ES documents for small/skewed indices; every other scored
    * query here models `dfs_query_then_fetch`, the global-stats mode the
    * `search_type` parameter opts into). Shards = md5·60(id) mod `shards`
    * (the [[termsAggWithError]] shard model). Plan: one corpus pass for
    * the freq kernel, a shards-row stats agg broadcast back — scoring
    * itself never shuffles the corpus.
    * Ref: elasticsearch-observer uses the ES default search path
    * (reference HbaseDataSyncEsObserver.java delegates all querying to
    * the ES cluster, which defaults to query_then_fetch). */
  def matchBm25QueryThenFetch(docs: DataFrame, idCol: Column, text: Column,
                              terms: Seq[String], shards: Int,
                              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ts = terms.map(_.toLowerCase)
    val base = docs
      .withColumn("_shard", pmod(graft.functions.Hashing.md5Long60(idCol.cast("string")),
        lit(shards.toLong)))
      .withColumn("_tfs", graft.functions.TextKernels.termFreqs(text, ts))
      .withColumn("_dl", element_at(col("_tfs"), ts.size + 1).cast("double"))
    val statCols = count(lit(1)).cast("double").as("_n") +:
      avg(col("_dl")).as("_avgdl") +:
      ts.indices.map { j =>
        sum(when(element_at(col("_tfs"), j + 1) > 0, 1L).otherwise(0L))
          .cast("double").as(s"_df$j")
      }
    val stats = base.groupBy(col("_shard")).agg(statCols.head, statCols.tail: _*)
    val joined = base.join(broadcast(stats), "_shard")
    val score = ts.indices.map { j =>
      val tf = element_at(col("_tfs"), j + 1).cast("double")
      val idf = log(lit(1.0) + (col("_n") - col(s"_df$j") + 0.5) / (col(s"_df$j") + 0.5))
      val norm = lit(k1) * (lit(1 - b) + lit(b) * col("_dl") / col("_avgdl"))
      idf * (tf * (k1 + 1)) / (tf + norm)
    }.reduce(_ + _)
    joined.withColumn("score", round(score, 6))
      .filter(col("score") > 0)
      .withColumn("shard", col("_shard").cast("int"))
      .drop("_shard" +: "_tfs" +: "_dl" +: "_n" +: "_avgdl" +:
        ts.indices.map(j => s"_df$j"): _*)
  }

  /** Custom `routing`: at index time each doc routes to shard
    * md5·60(routing_value) mod `shards`; a search passing `routing=v`
    * queries ONLY that shard — and sees every doc co-located on it,
    * including docs indexed under OTHER routing values that hash to the
    * same shard. That is exactly ES's contract: routing narrows the
    * shard set searched, not the document set — the query still has to
    * filter within the shard (the classic "routing is not a filter"
    * documentation warning, made visible). Pure narrow predicate —
    * at scale this is the 1/shards IO saving routing exists for. */
  def routedTo(routingCol: Column, routing: String, shards: Int): Column =
    pmod(graft.functions.Hashing.md5Long60(routingCol.cast("string")), lit(shards.toLong)) ===
      pmod(graft.functions.Hashing.md5Long60(lit(routing)), lit(shards.toLong))

  /** ES `terms` agg on a TEXT field (mapping `fielddata: true`): buckets
    * are the ANALYZED tokens, each doc counts once per DISTINCT token it
    * contains, and metric sub-aggs run over the docs containing the term
    * (a doc's value enters a bucket once). ES 6.5 refuses this without
    * `fielddata: true` in the mapping — an index-time setting, inlined
    * here like the analyzer registries. Plan: explode distinct tokens
    * (narrow), one (token) hash agg, TakeOrdered top-k — the standard
    * word-count shape, no pre-agg sort. */
  def fielddataTermsAgg(df: DataFrame, text: Column, metric: Column,
                        metricName: String, size: Int): DataFrame =
    df.select(explode(array_distinct(graft.ext.TextAnalysis.tokens(text))).as("key"),
        metric.as("_m"))
      .groupBy("key")
      .agg(count(lit(1)).as("doc_count"), round(avg(col("_m")), 6).as(metricName))
      .orderBy(desc("doc_count"), col("key"))
      .limit(size)

  /** B10 `stats` */
  def statsAgg(df: DataFrame, groups: Seq[Column], value: Column): DataFrame =
    df.groupBy(groups: _*).agg(
      count(value).as("value_count"),
      round(min(value), 4).as("min_v"),
      round(max(value), 4).as("max_v"),
      round(sum(value), 4).as("sum_v"),
      round(avg(value), 6).as("avg_v"))

  /** B11 `cardinality` — HLL++ like ES; `rsd` mirrors the precision knob. */
  def cardinality(c: Column, rsd: Double = 0.05): Column = approx_count_distinct(c, rsd)
  /** B12 `percentiles` (exact; ES uses t-digest — `percentileApprox` below
    * is the approximate variant). */
  def percentileExact(c: Column, p: Double): Column = percentile(c, lit(p))
  def percentileApprox(c: Column, p: Seq[Double], accuracy: Int = 10000): Column =
    percentile_approx(c, lit(p.toArray), lit(accuracy))
  /** B13 `histogram` (fixed interval). ES rejects a non-positive interval
    * at parse; unvalidated it reaches codegen as a DIVIDE_BY_ZERO (found
    * by the round-14 fuzz). */
  def histogramBucket(c: Column, interval: Double): Column = {
    require(interval > 0, s"histogram interval must be > 0, got $interval")
    (floor(c / interval) * interval).cast("long")
  }
  /** B14 `date_histogram` (calendar interval: 'day'|'week'|'month'|...).
    * The unit is validated against the ES 6.5 calendar intervals: Spark's
    * `date_trunc` silently returns NULL for an unknown format, which would
    * bucket every doc under a null key (silent misparse, found by the
    * round-14 fuzz; ES rejects unknown intervals at parse). */
  def dateHistogramBucket(ts: Column, interval: String): Column = {
    val units = Set("year", "quarter", "month", "week", "day",
      "hour", "minute", "second")
    require(units(interval),
      s"unsupported date_histogram interval '$interval' (ES 6.5 calendar units: ${units.toSeq.sorted.mkString(", ")})")
    date_trunc(interval, ts)
  }
  /** B15 `top_hits` per bucket: top-`n` docs per group by sort. Window
    * top-k — at scale AQE splits skewed groups; no global sort. */
  def topHits(df: DataFrame, bucket: Seq[Column], sort: Seq[Column], n: Int): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(bucket: _*).orderBy(sort: _*)))
      .filter(col("rn") <= n)
  /** B18 `filters` agg: one count per named predicate, single pass. */
  def filtersAgg(df: DataFrame, groups: Seq[Column], buckets: (String, Column)*): DataFrame =
    df.groupBy(groups: _*).agg(
      count(lit(1)).as("doc_count"),
      buckets.map { case (name, pred) => sum(when(pred, 1L).otherwise(0L)).as(name) }: _*)
}
