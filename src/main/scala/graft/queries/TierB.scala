package graft.queries

import graft.dsl.EsDsl
import graft.dsl.EsDsl._
import graft.functions.Hashing
import graft.operators.AsOfJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier B corpus (SURVEY.md §2, B1–B20 + the join surface): the ES-6.5
  * query-DSL capabilities over the driver tables, each paired with a DuckDB
  * oracle. Every query carries an explicit total order so hashes are stable.
  */
object TierB {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)

  /** The nested family's per-query view of [[Fixtures.liItemsAll]]:
    * `(l_orderkey, <name>: array<struct<fields…>>)` via a narrow element
    * projection. Results match a per-query collect_list: the projection
    * preserves per-order array order, no consumer outputs the array
    * itself, and every consumer is child-order-insensitive or re-sorts
    * children to an explicit total order (a143). */
  private[queries] def liItems(s: SparkSession, d: String, name: String,
                               fields: String*): DataFrame =
    Fixtures.liItemsAll(s, d).select(col("l_orderkey"),
      transform(col("_items"),
        x => struct(fields.map(f => x.getField(f).as(f)): _*)).as(name))

  /** DuckDB twin of [[EsDsl.matchBm25]] (k1=1.2, b=0.75) as a CTE chain
    * ending in `sc(doc_id, score)` — identical fold order and constants.
    * `extraCols` threads passthrough document columns into `sc` (and a
    * `toks` list column) for oracles that filter/score on more than the
    * match field; `raw` emits the unrounded sum as `raw` (for oracles that
    * boost-scale and add before rounding, mirroring the scored bool's
    * association). Defaults emit the byte-identical legacy SQL. */
  private def bm25Sql(terms: Seq[String], extraCols: Seq[String] = Nil,
                      raw: Boolean = false): String = {
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(toks,'$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df$i"
    }.mkString(",\n         ")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(",\n         ")
    val scoreSum = terms.indices.map { i =>
      s"ln(1 + (n - df$i + 0.5)/(df$i + 0.5)) * (tf$i*(1.2+1))/(tf$i + 1.2*(1 - 0.75 + 0.75*dl/avgdl))"
    }.mkString("\n       + ")
    val ex = if (extraCols.isEmpty) "" else extraCols.mkString(", ", ", ", "")
    val exToks = if (extraCols.isEmpty) "" else ", toks"
    s"""WITH t AS (
       |  SELECT doc_id$ex, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks,
       |         CAST(len(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS DOUBLE) AS dl
       |  FROM documents
       |), st AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
       |         $dfCols
       |  FROM t
       |), tf AS (
       |  SELECT doc_id$ex$exToks, dl, n, avgdl, ${terms.indices.map(i => s"df$i").mkString(", ")},
       |         $tfCols
       |  FROM t CROSS JOIN st
       |), sc AS (
       |  SELECT doc_id$ex$exToks, ${if (raw) s"($scoreSum) AS raw" else s"round($scoreSum, 6) AS score"} FROM tf
       |)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    Q("q1_agg",
      (s, d) => li(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |       round(sum(l_quantity), 4) AS sum_qty,
             |       round(sum(l_extendedprice), 4) AS sum_price,
             |       round(avg(l_discount), 6) AS avg_disc,
             |       count(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("b01_term",
      (s, d) => ord(s, d)
        .filter(term(col("o_orderstatus"), "F") &&
          terms(col("o_orderpriority"), Seq("1-URGENT", "2-HIGH")))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .orderBy("o_orderkey").limit(50),
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
             |WHERE o_orderstatus = 'F' AND o_orderpriority IN ('1-URGENT','2-HIGH')
             |ORDER BY o_orderkey LIMIT 50""".stripMargin)),

    Q("b02_range",
      (s, d) => li(s, d)
        .filter(range(col("l_shipdate"),
          gte = Some("1996-01-01"), lt = Some("1997-01-01")) &&
          col("l_quantity").between(10, 20))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_extendedprice")), 4).as("sum_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS cnt, round(sum(l_extendedprice), 4) AS sum_price
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
             |  AND l_quantity BETWEEN 10 AND 20
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("b03_exists_semi",
      (s, d) => Tables.customer(s, d)
        .join(ord(s, d).select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS cnt FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("b03_missing_anti",
      (s, d) => Tables.customer(s, d)
        .join(ord(s, d).filter(col("o_orderstatus") === "P").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS cnt FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // regexp is ANCHORED (Lucene full-term semantics, round-10 fix) — an
    // ES user wanting substring writes the explicit `.*…​.*` form, as here.
    Q("b04_pattern",
      (s, d) => Tables.part(s, d)
        .filter(EsDsl.regexp(col("p_name"), ".*(red|blue) (bolt|ring).*"))
        .select(col("p_partkey"), col("p_name"),
          prefix(col("p_name"), "red").as("is_red"),
          wildcard(col("p_name"), "*bolt*").as("is_bolt"))
        .orderBy("p_partkey").limit(200),
      Some("""SELECT p_partkey, p_name,
             |       (p_name LIKE 'red%') AS is_red,
             |       (p_name LIKE '%bolt%') AS is_bolt
             |FROM part WHERE regexp_full_match(p_name, '.*(red|blue) (bolt|ring).*')
             |ORDER BY p_partkey LIMIT 200""".stripMargin)),

    Q("b05_match",
      (s, d) => Tables.documents(s, d)
        .withColumn("n_match", matchCount(col("text"), Seq("spark", "query", "join")))
        .filter(col("n_match") >= 2)
        .select(col("doc_id"), col("n_match"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       (CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END
             |      + CASE WHEN list_contains(toks, 'query') THEN 1 ELSE 0 END
             |      + CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS n_match
             |FROM (SELECT doc_id, string_split_regex(lower(text), '\W+') AS toks FROM documents)
             |WHERE n_match >= 2 ORDER BY doc_id""".stripMargin)),

    // B5 scoring variant: rank by total term frequency of the query terms
    // (the ES practical-scoring analog at constant idf), desc + id tiebreak.
    Q("b05_match_scored",
      (s, d) => {
        val toks = graft.ext.TextAnalysis.tokens(col("text"))
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(filter(toks, t => t.isin("spark", "query", "join"))).as("score"))
          .filter(col("score") > 0)
          .orderBy(desc("score"), col("doc_id"))
          .limit(20)
      },
      Some("""SELECT doc_id, CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\W+'),
             |         x -> x <> ''), t -> t IN ('spark','query','join'))) AS INT) AS score
             |FROM documents
             |WHERE len(list_filter(list_filter(string_split_regex(lower(text), '\W+'),
             |         x -> x <> ''), t -> t IN ('spark','query','join'))) > 0
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // B5 BM25: Lucene-shaped practical scoring (idf·tf saturation·length
    // norm) — what `_score` means to a migrating ES user. The oracle
    // reproduces the same math from the same corpus stats.
    Q("b05_match_bm25",
      (s, d) => EsDsl.matchBm25(Tables.documents(s, d), col("text"), Seq("spark", "query", "join"))
        .select(col("doc_id"), col("_score").as("score"))
        .orderBy(desc("score"), col("doc_id")).limit(20),
      Some(bm25Sql(Seq("spark", "query", "join")) +
        "\nSELECT doc_id, score FROM sc WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20")),

    // B5 match_phrase: consecutive-token phrase match.
    Q("b05_match_phrase",
      (s, d) => Tables.documents(s, d)
        .filter(EsDsl.matchPhrase(col("text"), Seq("the", "data")))
        .select(col("doc_id")).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
             |           FROM documents)
             |SELECT doc_id FROM t
             |WHERE contains('|' || array_to_string(toks, '|') || '|', '|the|data|')
             |ORDER BY doc_id""".stripMargin)),

    // ES-JSON search sorting on _score (the default ES result order).
    Q("a24_es_json_score",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": "spark query join"}},
          | "sort": ["_score", "doc_id"], "size": 15}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some(bm25Sql(Seq("spark", "query", "join")) +
        "\nSELECT doc_id, score FROM sc WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 15")),

    // B5 multi_match: the match fires on ANY of the fields.
    Q("b05_multi_match",
      (s, d) => Tables.documents(s, d)
        .filter(EsDsl.multiMatch(Seq(col("text"), col("source")), Seq("spark", "web")))
        .select(col("doc_id")).orderBy("doc_id"),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id,
             |    (CASE WHEN list_contains(string_split_regex(lower(text),'\W+'),'spark') THEN 1 ELSE 0 END
             |   + CASE WHEN list_contains(string_split_regex(lower(text),'\W+'),'web') THEN 1 ELSE 0 END) AS m1,
             |    (CASE WHEN list_contains(string_split_regex(lower(source),'\W+'),'spark') THEN 1 ELSE 0 END
             |   + CASE WHEN list_contains(string_split_regex(lower(source),'\W+'),'web') THEN 1 ELSE 0 END) AS m2
             |  FROM documents)
             |WHERE m1 >= 1 OR m2 >= 1 ORDER BY doc_id""".stripMargin)),

    // ES terms agg ordered by a metric sub-agg (order: {rev: desc}).
    Q("a25_es_json_terms_order",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_pri": {"terms": {"field": "o_orderpriority", "size": 3, "order": {"rev": "desc"}},
          |  "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}}}}""".stripMargin)("by_pri")
        .orderBy(desc("rev"), col("key")),
      Some("""SELECT o_orderpriority AS key, count(*) AS doc_count,
             |       round(sum(o_totalprice), 4) AS rev
             |FROM orders GROUP BY key ORDER BY rev DESC, key LIMIT 3""".stripMargin)),

    // ES-JSON search_after: deep pagination as a sort-tuple cursor (no
    // offset scan — the scalable replacement for from/size).
    Q("a29_es_json_search_after",
      (s, d) => graft.dsl.EsQueryJson.search(ord(s, d),
        """{"query": {"term": {"o_orderstatus": "F"}},
          | "sort": [{"o_totalprice": {"order": "desc"}}, "o_orderkey"],
          | "search_after": [200000.0, 0], "size": 10}""".stripMargin)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderstatus = 'F'
             |  AND (o_totalprice < 200000.0 OR (o_totalprice = 200000.0 AND o_orderkey > 0))
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ES query_string: the Lucene "kibana-bar" syntax — field:value,
    // AND/OR/NOT, quoted phrase, trailing wildcard, `-` exclusion, default
    // field — compiled to the same predicates as the structured DSL.
    Q("a30_es_json_query_string",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"query_string": {
          |   "query": "lang:en AND (spark OR \"the data\") AND source:src1* -customer",
          |   "default_field": "text"}},
          | "sort": ["doc_id"], "size": 10000}""".stripMargin)
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""WITH t AS (SELECT doc_id, lang, source,
             |                  string_split_regex(lower(text),'\W+') AS tw,
             |                  list_filter(string_split_regex(lower(text),'\W+'), x -> x <> '') AS tf,
             |                  string_split_regex(lower(lang),'\W+') AS lw
             |           FROM documents)
             |SELECT doc_id, lang, source FROM t
             |WHERE list_contains(lw, 'en')
             |  AND (list_contains(tw, 'spark')
             |       OR contains('|' || array_to_string(tf, '|') || '|', '|the|data|'))
             |  AND source LIKE 'src1%'
             |  AND NOT coalesce(list_contains(tw, 'customer'), FALSE)
             |ORDER BY doc_id""".stripMargin)),

    // ES simple_query_string: the simplified end-user syntax (+ | - quotes
    // parens), fields from the body, lenient by contract. Exercises
    // precedence: (spark AND phrase) OR merge, then AND NOT customer.
    Q("a32_es_json_simple_query_string",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"simple_query_string": {
          |   "query": "spark + \"the data\" | merge -customer",
          |   "fields": ["text"]}},
          | "sort": ["doc_id"], "size": 10000}""".stripMargin)
        .select(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(lower(text),'\W+') AS tw,
             |                  list_filter(string_split_regex(lower(text),'\W+'), x -> x <> '') AS tf
             |           FROM documents)
             |SELECT doc_id FROM t
             |WHERE ((list_contains(tw, 'spark')
             |        AND contains('|' || array_to_string(tf, '|') || '|', '|the|data|'))
             |       OR list_contains(tw, 'merge'))
             |  AND NOT coalesce(list_contains(tw, 'customer'), FALSE)
             |ORDER BY doc_id""".stripMargin)),

    // Scored bool: additive _score over must/should clauses — boost × BM25
    // for the match, constant_score boost for a filter clause, boosted term
    // — ES's bread-and-butter relevance tuning. The oracle mirrors the
    // exact clause-order association at 6 dp.
    Q("a31_es_json_bool_score",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {
          |   "must": [{"match": {"text": {"query": "spark query", "boost": 2}}}],
          |   "should": [
          |     {"constant_score": {"filter": {"term": {"lang": "en"}}, "boost": 0.5}},
          |     {"term": {"source": {"value": "src3", "boost": 3}}}]}},
          | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some(bm25Sql(Seq("spark", "query"), extraCols = Seq("lang", "source"), raw = true) +
        """
          |SELECT doc_id, round(2.0 * raw
          |    + CASE WHEN lang = 'en' THEN 0.5 ELSE 0.0 END
          |    + CASE WHEN source = 'src3' THEN 3.0 ELSE 0.0 END, 6) AS score
          |FROM sc
          |WHERE list_contains(toks, 'spark') OR list_contains(toks, 'query')
          |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // query_string ranges ([a TO b} mixed brackets), comparisons (>=) and
    // fuzzy (~N) — the rest of the Lucene query-bar syntax.
    Q("a33_es_json_qs_range",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.part(s, d),
        """{"query": {"query_string": {
          |   "query": "p_brand:Brand#43~1 AND p_retailprice:[900 TO 1500} AND p_size:>=25"}},
          | "sort": ["p_partkey"], "size": 50}""".stripMargin)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"), col("p_size")),
      Some("""SELECT p_partkey, p_brand, p_retailprice, p_size FROM part
             |WHERE damerau_levenshtein(p_brand, 'Brand#43') <= 1
             |  AND p_retailprice >= 900 AND p_retailprice < 1500
             |  AND p_size >= 25
             |ORDER BY p_partkey LIMIT 50""".stripMargin)),

    // Scored match_phrase inside a bool: phrase frequency (overlapping
    // occurrences, Lucene's exact-phrase freq) as BM25 tf, 1.5× boosted,
    // plus an unboosted should match — one shared corpus pass.
    Q("a34_es_json_phrase_score",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {
          |   "must": [{"match_phrase": {"text": {"query": "the data", "boost": 1.5}}}],
          |   "should": [{"match": {"text": "spark"}}]}},
          | "sort": ["_score", "doc_id"], "size": 20}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), f AS (
             |  SELECT doc_id, w,
             |         CAST(len(list_filter(generate_series(1, len(w)-1),
             |                i -> w[i] = 'the' AND w[i+1] = 'data')) AS DOUBLE) AS pf,
             |         CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tfs,
             |         CAST(len(w) AS DOUBLE) AS dl
             |  FROM t
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |         CAST(sum(CASE WHEN pf > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfp,
             |         CAST(sum(CASE WHEN tfs > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs
             |  FROM f
             |), sc AS (
             |  SELECT doc_id, w,
             |         round(1.5 * (ln(1 + (n - dfp + 0.5)/(dfp + 0.5)) * (pf*(1.2+1))/(pf + 1.2*(1 - 0.75 + 0.75*dl/avgdl)))
             |             + ln(1 + (n - dfs + 0.5)/(dfs + 0.5)) * (tfs*(1.2+1))/(tfs + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS score
             |  FROM f CROSS JOIN st
             |)
             |SELECT doc_id, score FROM sc
             |WHERE contains('|' || array_to_string(w, '|') || '|', '|the|data|')
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // Scored multi_match (best_fields): 2× max of per-field BM25 over
    // (text, source) — ES's default multi-field relevance.
    Q("a35_es_json_multi_match_score",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {
          |   "must": [{"multi_match": {"query": "spark web", "fields": ["text", "source"], "boost": 2}}]}},
          | "sort": ["_score", "doc_id"], "size": 20}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS wt,
             |         list_filter(string_split_regex(lower(source), '\W+'), x -> x <> '') AS ws
             |  FROM documents
             |), f AS (
             |  SELECT doc_id, wt, ws,
             |         CAST(len(list_filter(wt, x -> x = 'spark')) AS DOUBLE) AS t0,
             |         CAST(len(list_filter(wt, x -> x = 'web')) AS DOUBLE) AS t1,
             |         CAST(len(list_filter(ws, x -> x = 'spark')) AS DOUBLE) AS s0,
             |         CAST(len(list_filter(ws, x -> x = 'web')) AS DOUBLE) AS s1,
             |         CAST(len(wt) AS DOUBLE) AS dlt, CAST(len(ws) AS DOUBLE) AS dls
             |  FROM t
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dlt) AS avgdlt, avg(dls) AS avgdls,
             |         CAST(sum(CASE WHEN t0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft0,
             |         CAST(sum(CASE WHEN t1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft1,
             |         CAST(sum(CASE WHEN s0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs0,
             |         CAST(sum(CASE WHEN s1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs1
             |  FROM f
             |), sc AS (
             |  SELECT doc_id, wt, ws,
             |         ln(1 + (n - dft0 + 0.5)/(dft0 + 0.5)) * (t0*(1.2+1))/(t0 + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt))
             |       + ln(1 + (n - dft1 + 0.5)/(dft1 + 0.5)) * (t1*(1.2+1))/(t1 + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt)) AS sct,
             |         ln(1 + (n - dfs0 + 0.5)/(dfs0 + 0.5)) * (s0*(1.2+1))/(s0 + 1.2*(1 - 0.75 + 0.75*dls/avgdls))
             |       + ln(1 + (n - dfs1 + 0.5)/(dfs1 + 0.5)) * (s1*(1.2+1))/(s1 + 1.2*(1 - 0.75 + 0.75*dls/avgdls)) AS scs
             |  FROM f CROSS JOIN st
             |)
             |SELECT doc_id, round(2.0 * greatest(sct, scs), 6) AS score FROM sc
             |WHERE list_contains(wt, 'spark') OR list_contains(wt, 'web')
             |   OR list_contains(ws, 'spark') OR list_contains(ws, 'web')
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // dis_max: per-field disjunction scored as best clause + tie_breaker ×
    // rest — ES's "don't double-count multi-field hits" compositor.
    Q("a36_es_json_dis_max",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"dis_max": {"tie_breaker": 0.3, "queries": [
          |   {"match": {"text": "spark query"}},
          |   {"match": {"source": "src3"}}]}},
          | "sort": ["_score", "doc_id"], "size": 20}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS wt,
             |         list_filter(string_split_regex(lower(source), '\W+'), x -> x <> '') AS ws
             |  FROM documents
             |), f AS (
             |  SELECT doc_id, wt, ws,
             |         CAST(len(list_filter(wt, x -> x = 'spark')) AS DOUBLE) AS t0,
             |         CAST(len(list_filter(wt, x -> x = 'query')) AS DOUBLE) AS t1,
             |         CAST(len(list_filter(ws, x -> x = 'src3')) AS DOUBLE) AS s0,
             |         CAST(len(wt) AS DOUBLE) AS dlt, CAST(len(ws) AS DOUBLE) AS dls
             |  FROM t
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dlt) AS avgdlt, avg(dls) AS avgdls,
             |         CAST(sum(CASE WHEN t0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft0,
             |         CAST(sum(CASE WHEN t1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft1,
             |         CAST(sum(CASE WHEN s0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs0
             |  FROM f
             |), sc AS (
             |  SELECT doc_id, wt, ws,
             |         ln(1 + (n - dft0 + 0.5)/(dft0 + 0.5)) * (t0*(1.2+1))/(t0 + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt))
             |       + ln(1 + (n - dft1 + 0.5)/(dft1 + 0.5)) * (t1*(1.2+1))/(t1 + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt)) AS c1,
             |         ln(1 + (n - dfs0 + 0.5)/(dfs0 + 0.5)) * (s0*(1.2+1))/(s0 + 1.2*(1 - 0.75 + 0.75*dls/avgdls)) AS c2
             |  FROM f CROSS JOIN st
             |)
             |SELECT doc_id,
             |       round(greatest(c1, c2) + 0.3 * ((c1 + c2) - greatest(c1, c2)), 6) AS score
             |FROM sc
             |WHERE list_contains(wt, 'spark') OR list_contains(wt, 'query') OR list_contains(ws, 'src3')
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // boosting: negative query DEMOTES (score × negative_boost), never
    // filters — ES's soft-penalty compositor.
    Q("a37_es_json_boosting",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"boosting": {
          |   "positive": {"match": {"text": "spark query"}},
          |   "negative": {"term": {"lang": "zh"}},
          |   "negative_boost": 0.2}},
          | "sort": ["_score", "doc_id"], "size": 20}""".stripMargin)
        .select(col("doc_id"), col("lang"), col("_score").as("score")),
      Some("""WITH t AS (
             |  SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), f AS (
             |  SELECT doc_id, lang, w,
             |         CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS t0,
             |         CAST(len(list_filter(w, x -> x = 'query')) AS DOUBLE) AS t1,
             |         CAST(len(w) AS DOUBLE) AS dl
             |  FROM t
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |         CAST(sum(CASE WHEN t0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |         CAST(sum(CASE WHEN t1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
             |  FROM f
             |), sc AS (
             |  SELECT doc_id, lang, w,
             |         (ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (t0*(1.2+1))/(t0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |        + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (t1*(1.2+1))/(t1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))) AS raw
             |  FROM f CROSS JOIN st
             |)
             |SELECT doc_id, lang,
             |       round(raw * CASE WHEN coalesce(lang = 'zh', FALSE) THEN 0.2 ELSE 1.0 END, 6) AS score
             |FROM sc
             |WHERE list_contains(w, 'spark') OR list_contains(w, 'query')
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // more_like_this: find-similar — top tf-idf terms of the source doc
    // (deterministic term tiebreak) become the query; occurrence-count
    // scoring (constant-idf analog, exact integers); source excluded.
    Q("a38_more_like_this",
      (s, d) => EsDsl.moreLikeThis(Tables.documents(s, d),
        col("doc_id"), col("text"), likeId = 7L, maxQueryTerms = 5, topN = 20),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM td GROUP BY doc_id, term),
             |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM td GROUP BY term),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |sc0 AS (SELECT doc_id, term, round(tf * ln(n_docs*1.0/df), 6) AS tfidf
             |        FROM tf JOIN dfq USING (term) CROSS JOIN n),
             |r AS (SELECT doc_id, term,
             |             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
             |      FROM sc0),
             |q AS (SELECT term FROM r WHERE doc_id = 7 AND rn <= 5),
             |sc AS (SELECT td.doc_id, CAST(count(*) AS INT) AS score
             |       FROM td JOIN q USING (term) GROUP BY td.doc_id)
             |SELECT doc_id, score FROM sc
             |WHERE doc_id <> 7
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // rescore: top-10 primary-ranked docs re-scored as primary + 2×phrase
    // score; the rest keep their primary score. One shared corpus pass.
    Q("a39_es_json_rescore",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": "spark query"}},
          | "rescore": {"window_size": 10,
          |   "query": {"rescore_query": {"match_phrase": {"text": "the data"}},
          |             "rescore_query_weight": 2}},
          | "sort": ["_score", "doc_id"], "size": 30}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), f AS (
             |  SELECT doc_id, w,
             |         CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS t0,
             |         CAST(len(list_filter(w, x -> x = 'query')) AS DOUBLE) AS t1,
             |         CAST(len(list_filter(generate_series(1, len(w)-1),
             |                i -> w[i] = 'the' AND w[i+1] = 'data')) AS DOUBLE) AS pf,
             |         CAST(len(w) AS DOUBLE) AS dl
             |  FROM t
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |         CAST(sum(CASE WHEN t0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |         CAST(sum(CASE WHEN t1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             |         CAST(sum(CASE WHEN pf > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfp
             |  FROM f
             |), sc AS (
             |  SELECT doc_id, w,
             |         round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (t0*(1.2+1))/(t0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |             + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (t1*(1.2+1))/(t1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS p,
             |         round(ln(1 + (n - dfp + 0.5)/(dfp + 0.5)) * (pf*(1.2+1))/(pf + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS sec
             |  FROM f CROSS JOIN st
             |), m AS (
             |  SELECT doc_id, p, sec,
             |         row_number() OVER (ORDER BY p DESC, doc_id) AS rn
             |  FROM sc
             |  WHERE list_contains(w, 'spark') OR list_contains(w, 'query')
             |)
             |SELECT doc_id,
             |       CASE WHEN rn <= 10 THEN round(p + 2.0 * sec, 6) ELSE p END AS score
             |FROM m ORDER BY score DESC, doc_id LIMIT 30""".stripMargin)),

    // highlight: deterministic fragment extraction — a fragment_size
    // window around the first query-term occurrence over the lowercased
    // field, occurrences <em>-wrapped; byte-exact across engines.
    Q("a40_es_json_highlight",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": "spark query"}},
          | "highlight": {"fields": {"text": {"fragment_size": 80}}},
          | "sort": ["doc_id"], "size": 50}""".stripMargin)
        .select(col("doc_id"), col("_highlight").as("fragment")),
      Some("""WITH t AS (
             |  SELECT doc_id, lower(text) AS l,
             |         string_split_regex(lower(text), '\W+') AS tw
             |  FROM documents
             |), p AS (
             |  SELECT doc_id, l,
             |         coalesce(CASE WHEN strpos(l, 'spark') > 0 THEN strpos(l, 'spark') END,
             |                  CASE WHEN strpos(l, 'query') > 0 THEN strpos(l, 'query') END) AS pos
             |  FROM t
             |  WHERE list_contains(tw, 'spark') OR list_contains(tw, 'query')
             |)
             |SELECT doc_id,
             |       CASE WHEN pos IS NOT NULL THEN
             |         replace(replace(substr(l, greatest(pos - 30, 1), 80),
             |                 'spark', '<em>spark</em>'),
             |                 'query', '<em>query</em>')
             |       END AS fragment
             |FROM p ORDER BY doc_id LIMIT 50""".stripMargin)),

    // ES term suggester: per input token, corpus terms within 2 edits
    // ranked by doc_freq (frequency sort mode). Vocabulary = one hash agg;
    // the two suggest tokens broadcast against it.
    Q("a41_es_json_term_suggest",
      (s, d) => graft.dsl.EsQueryJson.suggest(Tables.documents(s, d),
        """{"suggest": {"fix": {"text": "sprk tabel",
          |  "term": {"field": "text", "size": 3, "max_edits": 2}}}}""".stripMargin)
        .orderBy("token", "rank"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |vocab AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM td GROUP BY term),
             |inp AS (SELECT unnest(['sprk','tabel']) AS token),
             |cand AS (
             |  SELECT token, term, damerau_levenshtein(term, token) AS distance, doc_freq
             |  FROM vocab CROSS JOIN inp
             |  WHERE abs(length(term) - length(token)) <= 2 AND term <> token
             |    AND damerau_levenshtein(term, token) <= 2),
             |r AS (SELECT token, term, distance, doc_freq,
             |        row_number() OVER (PARTITION BY token
             |          ORDER BY doc_freq DESC, distance, term) AS rank
             |      FROM cand)
             |SELECT token, rank, term AS suggestion, distance, doc_freq
             |FROM r WHERE rank <= 3 ORDER BY token, rank""".stripMargin)),

    // ES completion suggester: prefix completions from the corpus term
    // dictionary, weighted by total term frequency. Sort-limit, no window.
    Q("a42_es_json_completion",
      (s, d) => graft.dsl.EsQueryJson.suggest(Tables.documents(s, d),
        """{"suggest": {"c": {"prefix": "s",
          |  "completion": {"field": "text", "size": 5}}}}""".stripMargin),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |vocab AS (SELECT term, count(*) AS weight FROM td GROUP BY term)
             |SELECT term AS suggestion, weight FROM vocab
             |WHERE term LIKE 's%'
             |ORDER BY weight DESC, suggestion LIMIT 5""".stripMargin)),

    // ES phrase suggester (2-token): per-position edit-distance candidates,
    // phrases reranked by exact-integer corpus bigram counts.
    Q("a43_es_json_phrase_suggest",
      (s, d) => graft.dsl.EsQueryJson.suggest(Tables.documents(s, d),
        """{"suggest": {"p": {"text": "sprk querry",
          |  "phrase": {"field": "text", "size": 3, "max_edits": 2}}}}""".stripMargin),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |vocab AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM td GROUP BY term),
             |c0 AS (SELECT term FROM (
             |  SELECT term, row_number() OVER (ORDER BY doc_freq DESC, term) AS rn
             |  FROM vocab WHERE abs(length(term) - 4) <= 2 AND damerau_levenshtein(term, 'sprk') <= 2)
             |  WHERE rn <= 5),
             |c1 AS (SELECT term FROM (
             |  SELECT term, row_number() OVER (ORDER BY doc_freq DESC, term) AS rn
             |  FROM vocab WHERE abs(length(term) - 6) <= 2 AND damerau_levenshtein(term, 'querry') <= 2)
             |  WHERE rn <= 5),
             |bg AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
             |                i -> w[i] || ' ' || w[i+1])) AS gram FROM toks),
             |bgc AS (SELECT gram, count(*) AS bgcount FROM bg GROUP BY gram),
             |ph AS (SELECT c0.term || ' ' || c1.term AS suggestion FROM c0 CROSS JOIN c1),
             |sc AS (SELECT suggestion, coalesce(bgcount, 0) AS score
             |       FROM ph LEFT JOIN bgc ON suggestion = gram)
             |SELECT suggestion, score FROM sc
             |ORDER BY score DESC, suggestion LIMIT 3""".stripMargin)),

    // ES span_near: positional proximity as a one-pass kernel predicate
    // (the oracle is the postings-list formulation: positions join).
    Q("a44_es_json_span_near",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"span_near": {
          |   "clauses": [{"span_term": {"text": "spark"}},
          |               {"span_term": {"text": "table"}}],
          |   "slop": 2, "in_order": true}},
          | "sort": ["doc_id"], "size": 1000}""".stripMargin)
        .select(col("doc_id")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), pos AS (
             |  SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w) + 1)) AS p
             |  FROM toks)
             |SELECT DISTINCT a.doc_id FROM pos a JOIN pos b ON a.doc_id = b.doc_id
             |WHERE a.term = 'spark' AND b.term = 'table'
             |  AND b.p > a.p AND b.p - a.p - 1 <= 2
             |ORDER BY a.doc_id LIMIT 1000""".stripMargin)),

    // ES span_first: the term must occur within the first `end` positions.
    Q("a45_es_json_span_first",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"span_first": {
          |   "match": {"span_term": {"text": "spark"}}, "end": 3}},
          | "sort": ["doc_id"], "size": 1000}""".stripMargin)
        .select(col("doc_id")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), pos AS (
             |  SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w) + 1)) AS p
             |  FROM toks)
             |SELECT DISTINCT doc_id FROM pos
             |WHERE term = 'spark' AND p <= 3
             |ORDER BY doc_id LIMIT 1000""".stripMargin)),

    // ES percolate (reverse search): stored queries evaluated per incoming
    // document, all predicates in one narrow SELECT — the alerting shape.
    Q("a46_percolate",
      (s, d) => graft.dsl.Percolator.percolate(Tables.documents(s, d), col("doc_id"), Seq(
        "q_big" -> """{"query": {"range": {"n_chars": {"gte": 400}}}}""",
        "q_near" -> """{"query": {"span_near": {
                      |  "clauses": [{"span_term": {"text": "spark"}},
                      |              {"span_term": {"text": "table"}}],
                      |  "slop": 2, "in_order": true}}}""".stripMargin,
        "q_spark" -> """{"query": {"match": {"text": "spark"}}}""",
        "q_src1_not_en" -> """{"query": {"bool": {"must": [{"term": {"source": "src1"}}],
                             |  "must_not": [{"term": {"lang": "en"}}]}}}""".stripMargin))
        .orderBy("doc_id", "query_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), pos AS (
             |  SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w) + 1)) AS p FROM toks
             |), near AS (
             |  SELECT DISTINCT a.doc_id FROM pos a JOIN pos b ON a.doc_id = b.doc_id
             |  WHERE a.term = 'spark' AND b.term = 'table' AND b.p > a.p AND b.p - a.p - 1 <= 2)
             |SELECT doc_id, query_id FROM (
             |  SELECT doc_id, 'q_big' AS query_id FROM documents WHERE n_chars >= 400
             |  UNION ALL SELECT doc_id, 'q_near' FROM near
             |  UNION ALL SELECT doc_id, 'q_spark' FROM toks WHERE list_contains(w, 'spark')
             |  UNION ALL SELECT doc_id, 'q_src1_not_en' FROM documents
             |            WHERE source = 'src1' AND lang <> 'en')
             |ORDER BY doc_id, query_id""".stripMargin)),

    // ES geo_distance over md5-derived coordinates: the oracle recomputes
    // identical lat/lon and the identical haversine association (4 dp).
    Q("a47_es_json_geo_distance",
      (s, d) => {
        val c = graft.dsl.Geo.withDerivedCoords(Tables.customer(s, d), col("c_custkey"), "location")
        graft.dsl.EsQueryJson.search(c,
          """{"query": {"geo_distance": {"distance": "3000km",
            |  "location": {"lat": 10.0, "lon": 20.0}}},
            | "sort": ["c_custkey"], "size": 100000}""".stripMargin)
          .select(col("c_custkey"),
            graft.dsl.Geo.haversineKm(col("location_lat"), col("location_lon"),
              lit(10.0), lit(20.0)).as("dist_km"))
      },
      Some {
        val hv = graft.dsl.Geo.sqlHaversineKm("lat", "lon", "10.0", "20.0")
        s"""WITH c AS (
           |  SELECT c_custkey, ${graft.dsl.Geo.sqlDerivedLat("c_custkey")} AS lat,
           |         ${graft.dsl.Geo.sqlDerivedLon("c_custkey")} AS lon
           |  FROM customer)
           |SELECT c_custkey, $hv AS dist_km FROM c
           |WHERE $hv <= 3000.0
           |ORDER BY c_custkey LIMIT 100000""".stripMargin
      }),

    // ES geotile_grid agg (web-mercator z/x/y keys) scoped by a
    // geo_bounding_box query — hash groupBy on the tile key.
    Q("a48_es_json_geotile_grid",
      (s, d) => {
        val c = graft.dsl.Geo.withDerivedCoords(Tables.customer(s, d), col("c_custkey"), "location")
        graft.dsl.EsQueryJson.aggregations(c,
          """{"query": {"geo_bounding_box": {"location": {
            |    "top_left": {"lat": 60.0, "lon": -120.0},
            |    "bottom_right": {"lat": -60.0, "lon": 120.0}}}},
            | "aggs": {"grid": {"geotile_grid": {"field": "location", "precision": 3}}}}""".stripMargin)("grid")
          .orderBy(desc("doc_count"), col("key"))
      },
      Some {
        val tile = graft.dsl.Geo.sqlGeotileKey("lat", "lon", 3)
        s"""WITH c AS (
           |  SELECT c_custkey, ${graft.dsl.Geo.sqlDerivedLat("c_custkey")} AS lat,
           |         ${graft.dsl.Geo.sqlDerivedLon("c_custkey")} AS lon
           |  FROM customer)
           |SELECT $tile AS key, count(*) AS doc_count FROM c
           |WHERE lat <= 60.0 AND lat >= -60.0 AND lon >= -120.0 AND lon <= 120.0
           |GROUP BY key ORDER BY doc_count DESC, key""".stripMargin
      }),

    // ES geohash_grid: base32 geohash cells — pure interleaved-bit integer
    // math, the oracle computes the identical key.
    Q("a87_es_json_geohash_grid",
      (s, d) => {
        val c = graft.dsl.Geo.withDerivedCoords(Tables.customer(s, d), col("c_custkey"), "location")
        graft.dsl.EsQueryJson.aggregations(c,
          """{"aggs": {"grid": {"geohash_grid": {"field": "location", "precision": 2}}}}""")("grid")
          .orderBy(desc("doc_count"), col("key"))
      },
      Some {
        val ghInt = graft.dsl.Geo.sqlGeohashInt("lat", "lon", 2)
        val ghChars = graft.dsl.Geo.sqlGeohashChars("gh", 2)
        s"""WITH c AS (
           |  SELECT c_custkey, ${graft.dsl.Geo.sqlDerivedLat("c_custkey")} AS lat,
           |         ${graft.dsl.Geo.sqlDerivedLon("c_custkey")} AS lon
           |  FROM customer),
           |g AS (SELECT c_custkey, $ghInt AS gh FROM c)
           |SELECT $ghChars AS key, count(*) AS doc_count FROM g
           |GROUP BY key ORDER BY doc_count DESC, key""".stripMargin
      }),

    // ES date math against an injected clock: now=1996-06-15T08:30:00Z,
    // so now-400d/d = 1995-05-12 00:00 and now/d = 1996-06-15 00:00 —
    // resolved on the driver to plain pushable timestamp literals.
    Q("a49_es_json_date_math",
      (s, d) => graft.dsl.EsQueryJson.withNow("1996-06-15T08:30:00Z") {
        graft.dsl.EsQueryJson.search(Tables.orders(s, d),
          """{"query": {"range": {"o_orderdate": {"gte": "now-400d/d", "lt": "now/d"}}},
            | "sort": ["o_orderkey"], "size": 500}""".stripMargin)
          .select(col("o_orderkey"), col("o_orderdate"))
      },
      Some("""SELECT o_orderkey, o_orderdate FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1995-05-12 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1996-06-15 00:00:00'
             |ORDER BY o_orderkey LIMIT 500""".stripMargin)),

    // query_string field grouping: lang:(zh es) distributes the field over
    // the group's terms with the default operator (OR).
    Q("a50_es_json_qs_field_group",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"query_string": {"query": "lang:(zh es) AND text:spark",
          |  "default_field": "text"}},
          | "sort": ["doc_id"], "size": 1000}""".stripMargin)
        .select(col("doc_id"), col("lang")),
      Some("""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |WHERE (lang = 'zh' OR lang = 'es') AND list_contains(w, 'spark')
             |ORDER BY doc_id LIMIT 1000""".stripMargin)),

    // ES function_score: BM25 base × field_value_factor(log1p) × gauss
    // decay × a filtered weight — the "boost by popularity/recency"
    // composite every production search app uses. The oracle mirrors the
    // exact multiply association at 6 dp.
    Q("a51_es_json_function_score",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"function_score": {
          |   "query": {"match": {"text": "spark"}},
          |   "functions": [
          |     {"field_value_factor": {"field": "n_chars", "factor": 0.01, "modifier": "log1p"}},
          |     {"gauss": {"n_chars": {"origin": 250, "scale": 200}}},
          |     {"filter": {"term": {"lang": "en"}}, "weight": 1.2}],
          |   "score_mode": "multiply", "boost_mode": "multiply"}},
          | "sort": [{"_score": {}}, "doc_id"], "size": 30}""".stripMargin)
        .select(col("doc_id"), col("_score").as("fscore")),
      Some(bm25Sql(Seq("spark"), extraCols = Seq("n_chars", "lang")) +
        """
          |SELECT doc_id, round(score * (ln(1 + 0.01 * n_chars) * pow(0.5, pow(abs(n_chars - 250.0) / 200.0, 2)) * (CASE WHEN lang = 'en' THEN 1.2 ELSE 1.0 END)), 6) AS fscore
          |FROM sc WHERE score > 0
          |ORDER BY fscore DESC, doc_id LIMIT 30""".stripMargin)),

    // ES extended_stats: stats + variance/std-dev per bucket (POPULATION
    // moments, the ES-6.5 response form).
    Q("a52_es_json_extended_stats",
      (s, d) => graft.dsl.EsQueryJson.aggregations(li(s, d),
        """{"aggs": {"qty": {"terms": {"field": "l_returnflag", "size": 10},
          | "aggs": {"st": {"extended_stats": {"field": "l_quantity"}}}}}}""".stripMargin)("qty"),
      Some("""SELECT l_returnflag AS key, count(*) AS doc_count,
             |       count(l_quantity) AS st_count, round(min(l_quantity), 4) AS st_min,
             |       round(max(l_quantity), 4) AS st_max, round(sum(l_quantity), 4) AS st_sum,
             |       round(avg(l_quantity), 6) AS st_avg,
             |       round(var_pop(l_quantity), 6) AS st_variance,
             |       round(stddev_pop(l_quantity), 6) AS st_std_deviation
             |FROM lineitem GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // ES range agg: named price buckets (from inclusive, to exclusive)
    // with a per-bucket avg metric — one conditional-aggregate pass,
    // unpivoted to bucket rows.
    Q("a53_es_json_range_agg",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"price": {"range": {"field": "o_totalprice", "ranges": [
          |  {"key": "r1_cheap", "to": 100000},
          |  {"key": "r2_mid", "from": 100000, "to": 250000},
          |  {"key": "r3_big", "from": 250000}]},
          | "aggs": {"avg_price": {"avg": {"field": "o_totalprice"}}}}}}""".stripMargin)("price"),
      Some("""SELECT key, doc_count, avg_price FROM (
             |  SELECT 'r1_cheap' AS key, count(CASE WHEN o_totalprice < 100000 THEN 1 END) AS doc_count,
             |         round(avg(CASE WHEN o_totalprice < 100000 THEN o_totalprice END), 6) AS avg_price FROM orders
             |  UNION ALL
             |  SELECT 'r2_mid', count(CASE WHEN o_totalprice >= 100000 AND o_totalprice < 250000 THEN 1 END),
             |         round(avg(CASE WHEN o_totalprice >= 100000 AND o_totalprice < 250000 THEN o_totalprice END), 6) FROM orders
             |  UNION ALL
             |  SELECT 'r3_big', count(CASE WHEN o_totalprice >= 250000 THEN 1 END),
             |         round(avg(CASE WHEN o_totalprice >= 250000 THEN o_totalprice END), 6) FROM orders)
             |ORDER BY key""".stripMargin)),

    // ES date_range agg over the order date (timestamp bounds).
    Q("a54_es_json_date_range_agg",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"dr": {"date_range": {"field": "o_orderdate", "ranges": [
          |  {"key": "d1_early", "to": "1995-01-01"},
          |  {"key": "d2_mid", "from": "1995-01-01", "to": "1997-01-01"},
          |  {"key": "d3_late", "from": "1997-01-01"}]}}}}""".stripMargin)("dr"),
      Some("""SELECT key, doc_count FROM (
             |  SELECT 'd1_early' AS key, count(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01' THEN 1 END) AS doc_count FROM orders
             |  UNION ALL
             |  SELECT 'd2_mid', count(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' THEN 1 END) FROM orders
             |  UNION ALL
             |  SELECT 'd3_late', count(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01' THEN 1 END) FROM orders)
             |ORDER BY key""".stripMargin)),

    // Opt-in English analyzer: stopword removal + S-stemming on BOTH the
    // document and query sides — "tables" recalls documents that only
    // contain "table" (the default-analyzer twin misses them).
    Q("a55_es_json_match_stemmed",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": {"query": "tables", "analyzer": "english"}}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select(col("doc_id"), col("lang")),
      Some(s"""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang, ${graft.functions.TextKernels.sqlEnglishTokens("text")} AS st
             |  FROM documents)
             |WHERE list_contains(st, 'table')
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // ES span_or: any span_term clause occurs (token-set test over the
    // shared field).
    Q("a56_es_json_span_or",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"span_or": {"clauses": [
          |  {"span_term": {"text": "spark"}}, {"span_term": {"text": "table"}}]}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select(col("doc_id")),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |WHERE list_contains(w, 'spark') OR list_contains(w, 'table')
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // ES span_not: an occurrence of the include term with NO exclude term
    // inside the dilated window [p-pre, p+post] — the postings-join twin
    // is a correlated NOT EXISTS over positions (a44 pattern).
    Q("a57_es_json_span_not",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"span_not": {
          |   "include": {"span_term": {"text": "spark"}},
          |   "exclude": {"span_term": {"text": "table"}},
          |   "pre": 0, "post": 2}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select(col("doc_id")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), pos AS (
             |  SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w) + 1)) AS p
             |  FROM toks)
             |SELECT DISTINCT a.doc_id FROM pos a
             |WHERE a.term = 'spark' AND NOT EXISTS (
             |  SELECT 1 FROM pos b WHERE b.doc_id = a.doc_id AND b.term = 'table'
             |    AND b.p BETWEEN a.p - 0 AND a.p + 2)
             |ORDER BY a.doc_id LIMIT 2000""".stripMargin)),

    // ES geo_polygon over md5-derived coordinates: ray-casting
    // point-in-polygon, identical per-edge double association in the twin.
    Q("a58_es_json_geo_polygon",
      (s, d) => {
        val c = graft.dsl.Geo.withDerivedCoords(Tables.customer(s, d), col("c_custkey"), "location")
        graft.dsl.EsQueryJson.search(c,
          """{"query": {"geo_polygon": {"location": {"points": [
            |  {"lat": 70.0, "lon": -150.0}, {"lat": 60.0, "lon": 140.0},
            |  {"lat": -65.0, "lon": 30.0}, {"lat": 10.0, "lon": -120.0}]}}},
            | "sort": ["c_custkey"], "size": 100000}""".stripMargin)
          .select(col("c_custkey"))
      },
      Some {
        val pts = Seq((70.0, -150.0), (60.0, 140.0), (-65.0, 30.0), (10.0, -120.0))
        s"""WITH c AS (
           |  SELECT c_custkey, ${graft.dsl.Geo.sqlDerivedLat("c_custkey")} AS lat,
           |         ${graft.dsl.Geo.sqlDerivedLon("c_custkey")} AS lon
           |  FROM customer)
           |SELECT c_custkey FROM c
           |WHERE ${graft.dsl.Geo.sqlPointInPolygon("lat", "lon", pts)}
           |ORDER BY c_custkey LIMIT 100000""".stripMargin
      }),

    // ES field collapsing: one hit per distinct collapse-field value, the
    // top hit by the body's sort (per-group window, bounded partitions).
    Q("a59_es_json_collapse",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match_all": {}},
          | "collapse": {"field": "lang"},
          | "sort": [{"n_chars": {"order": "desc"}}, "doc_id"], "size": 10}""".stripMargin)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Some("""SELECT doc_id, lang, n_chars FROM (
             |  SELECT doc_id, lang, n_chars,
             |         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents)
             |WHERE rn = 1
             |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin)),

    // ES span_containing: an in-order (spark, table) span within slop 4
    // that contains "window" — the positions-join twin mirrors the
    // endpoint-inclusive containment.
    Q("a60_es_json_span_containing",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"span_containing": {
          |   "big": {"span_near": {"clauses": [
          |     {"span_term": {"text": "spark"}}, {"span_term": {"text": "table"}}],
          |     "slop": 4, "in_order": true}},
          |   "little": {"span_term": {"text": "window"}}}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select(col("doc_id")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), pos AS (
             |  SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w) + 1)) AS p
             |  FROM toks)
             |SELECT DISTINCT a.doc_id
             |FROM pos a JOIN pos b ON a.doc_id = b.doc_id JOIN pos c ON a.doc_id = c.doc_id
             |WHERE a.term = 'spark' AND b.term = 'table' AND b.p > a.p AND b.p - a.p - 1 <= 4
             |  AND c.term = 'window' AND c.p >= a.p AND c.p <= b.p
             |ORDER BY a.doc_id LIMIT 2000""".stripMargin)),

    // ES weighted_avg metric: Σ(v·w)/Σ(w) per bucket.
    Q("a61_es_json_weighted_avg",
      (s, d) => graft.dsl.EsQueryJson.aggregations(li(s, d),
        """{"aggs": {"wa": {"terms": {"field": "l_returnflag", "size": 10},
          | "aggs": {"wavg": {"weighted_avg": {
          |   "value": {"field": "l_extendedprice"}, "weight": {"field": "l_quantity"}}}}}}}""".stripMargin)("wa"),
      Some("""SELECT l_returnflag AS key, count(*) AS doc_count,
             |       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wavg
             |FROM lineitem GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // ES percentile_ranks: % of values ≤ each bound (exact form of the
    // t-digest estimate).
    Q("a62_es_json_percentile_ranks",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"pr": {"percentile_ranks": {"field": "o_totalprice",
          |  "values": [50000, 150000, 300000]}}}}""".stripMargin)("pr"),
      Some("""SELECT round(sum(CASE WHEN o_totalprice <= 50000 THEN 1.0 ELSE 0.0 END) * 100.0 / count(o_totalprice), 4) AS value_r50000,
             |       round(sum(CASE WHEN o_totalprice <= 150000 THEN 1.0 ELSE 0.0 END) * 100.0 / count(o_totalprice), 4) AS value_r150000,
             |       round(sum(CASE WHEN o_totalprice <= 300000 THEN 1.0 ELSE 0.0 END) * 100.0 / count(o_totalprice), 4) AS value_r300000
             |FROM orders""".stripMargin)),

    // ES adjacency_matrix: per-filter buckets plus pairwise intersections
    // (key "a&b"), one conditional-aggregate pass, empty buckets omitted.
    Q("a63_es_json_adjacency_matrix",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"aggs": {"adj": {"adjacency_matrix": {"filters": {
          |  "big": {"range": {"n_chars": {"gte": 300}}},
          |  "en": {"term": {"lang": "en"}},
          |  "spark": {"match": {"text": "spark"}}}}}}}""".stripMargin)("adj"),
      Some("""SELECT key, doc_count FROM (
             |  SELECT 'big' AS key, count(CASE WHEN n_chars >= 300 THEN 1 END) AS doc_count FROM documents
             |  UNION ALL SELECT 'en', count(CASE WHEN lang = 'en' THEN 1 END) FROM documents
             |  UNION ALL SELECT 'spark', count(CASE WHEN has_spark THEN 1 END) FROM (
             |    SELECT list_contains(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''), 'spark') AS has_spark FROM documents)
             |  UNION ALL SELECT 'big&en', count(CASE WHEN n_chars >= 300 AND lang = 'en' THEN 1 END) FROM documents
             |  UNION ALL SELECT 'big&spark', count(CASE WHEN n_chars >= 300 AND has_spark THEN 1 END) FROM (
             |    SELECT n_chars, list_contains(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''), 'spark') AS has_spark FROM documents)
             |  UNION ALL SELECT 'en&spark', count(CASE WHEN lang = 'en' AND has_spark THEN 1 END) FROM (
             |    SELECT lang, list_contains(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''), 'spark') AS has_spark FROM documents))
             |WHERE doc_count > 0 ORDER BY key""".stripMargin)),

    // ES geo_shape (point docs, intersects): GeoJSON polygon ring in
    // [lon, lat] order — same ray casting as geo_polygon.
    Q("a64_es_json_geo_shape",
      (s, d) => {
        val c = graft.dsl.Geo.withDerivedCoords(Tables.customer(s, d), col("c_custkey"), "location")
        graft.dsl.EsQueryJson.search(c,
          """{"query": {"geo_shape": {"location": {
            |   "shape": {"type": "polygon", "coordinates": [[
            |     [-100.0, 65.0], [120.0, 55.0], [40.0, -60.0], [-100.0, 65.0]]]},
            |   "relation": "intersects"}}},
            | "sort": ["c_custkey"], "size": 100000}""".stripMargin)
          .select(col("c_custkey"))
      },
      Some {
        val pts = Seq((65.0, -100.0), (55.0, 120.0), (-60.0, 40.0))
        s"""WITH c AS (
           |  SELECT c_custkey, ${graft.dsl.Geo.sqlDerivedLat("c_custkey")} AS lat,
           |         ${graft.dsl.Geo.sqlDerivedLon("c_custkey")} AS lon
           |  FROM customer)
           |SELECT c_custkey FROM c
           |WHERE ${graft.dsl.Geo.sqlPointInPolygon("lat", "lon", pts)}
           |ORDER BY c_custkey LIMIT 100000""".stripMargin
      }),

    // ES parent pipeline aggs over a date_histogram: cumulative_sum,
    // derivative (null first bucket), moving_avg — a window over the
    // bounded bucket frame (what ES's coordinator holds), never raw rows.
    Q("a65_es_json_pipeline_aggs",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          | "aggs": {"rev": {"sum": {"field": "o_totalprice"}},
          |          "cum": {"cumulative_sum": {"buckets_path": "rev"}},
          |          "deriv": {"derivative": {"buckets_path": "rev"}},
          |          "ma3": {"moving_avg": {"buckets_path": "rev", "window": 3}}}}}}""".stripMargin)("by_m"),
      Some("""WITH b AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS key, count(*) AS doc_count,
             |         round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY key)
             |SELECT key, doc_count, rev,
             |       round(sum(rev) OVER (ORDER BY key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum,
             |       round(rev - lag(rev) OVER (ORDER BY key), 4) AS deriv,
             |       round(avg(rev) OVER (ORDER BY key ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3
             |FROM b ORDER BY key""".stripMargin)),

    // ES sibling pipeline aggs: scalars over another agg's buckets.
    Q("a66_es_json_sibling_pipeline",
      (s, d) => {
        val m = graft.dsl.EsQueryJson.aggregations(ord(s, d),
          """{"aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
            |  "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}},
            | "avg_rev": {"avg_bucket": {"buckets_path": "by_m>rev"}},
            | "max_cnt": {"max_bucket": {"buckets_path": "by_m>_count"}}}}""".stripMargin)
        m("avg_rev").select(col("value").as("avg_rev"))
          .crossJoin(m("max_cnt").select(col("value").as("max_cnt")))
      },
      Some("""WITH b AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS key, count(*) AS doc_count,
             |         round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY key)
             |SELECT round(avg(rev), 6) AS avg_rev, round(max(doc_count), 4) AS max_cnt FROM b""".stripMargin)),

    // Zero-filled date_histogram (min_doc_count 0 + extended_bounds) with
    // cumulative_sum and serial_diff pipelines over the gap-free series —
    // the dashboard shape: every month of the bounded range appears, empty
    // months count 0.
    Q("a67_es_json_zero_filled_histogram",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"query": {"bool": {"must": [
          |   {"term": {"o_orderpriority": "1-URGENT"}},
          |   {"range": {"o_totalprice": {"gte": 400000}}}]}},
          | "aggs": {"by_m": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month",
          |     "min_doc_count": 0,
          |     "extended_bounds": {"min": "1994-01-01", "max": "1998-08-01"}},
          |   "aggs": {"cum": {"cumulative_sum": {"buckets_path": "_count"}},
          |            "sd2": {"serial_diff": {"buckets_path": "_count", "lag": 2}}}}}}""".stripMargin)("by_m"),
      Some("""WITH b AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS key, count(*) AS doc_count
             |  FROM orders
             |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 400000
             |  GROUP BY key),
             |bb AS (SELECT least(min(key), TIMESTAMP '1994-01-01') AS lo,
             |              greatest(max(key), TIMESTAMP '1998-08-01') AS hi FROM b),
             |f AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS key FROM bb)
             |SELECT f.key AS key, coalesce(b.doc_count, 0) AS doc_count,
             |       CAST(CAST(sum(coalesce(b.doc_count, 0)) OVER (ORDER BY f.key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE) AS cum,
             |       CAST(coalesce(b.doc_count, 0) - lag(coalesce(b.doc_count, 0), 2) OVER (ORDER BY f.key) AS DOUBLE) AS sd2
             |FROM f LEFT JOIN b ON f.key = b.key
             |ORDER BY key""".stripMargin)),

    // ES global agg: metric sub-aggs escape the body's query scope — the
    // filtered-vs-total side-by-side.
    Q("a68_es_json_global_agg",
      (s, d) => {
        val m = graft.dsl.EsQueryJson.aggregations(ord(s, d),
          """{"query": {"term": {"o_orderstatus": "P"}},
            | "aggs": {"p_avg": {"avg": {"field": "o_totalprice"}},
            |          "all": {"global": {},
            |                  "aggs": {"g_avg": {"avg": {"field": "o_totalprice"}}}}}}""".stripMargin)
        m("all").select(col("doc_count").as("total_docs"), col("g_avg"))
          .crossJoin(m("p_avg").select(col("value").as("p_avg")))
      },
      Some("""SELECT (SELECT count(*) FROM orders) AS total_docs,
             |       (SELECT round(avg(o_totalprice), 6) FROM orders) AS g_avg,
             |       (SELECT round(avg(o_totalprice), 6) FROM orders WHERE o_orderstatus = 'P') AS p_avg""".stripMargin)),

    // ES stats_bucket sibling: full stats over another agg's buckets.
    Q("a69_es_json_stats_bucket",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |  "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}},
          | "st": {"stats_bucket": {"buckets_path": "by_m>rev"}}}}""".stripMargin)("st"),
      Some("""WITH b AS (
             |  SELECT date_trunc('month', o_orderdate) AS key, round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY key)
             |SELECT count(rev) AS "count",
             |       CAST(round(min(rev), 4) AS DOUBLE) AS "min",
             |       CAST(round(max(rev), 4) AS DOUBLE) AS "max",
             |       CAST(round(avg(rev), 6) AS DOUBLE) AS "avg",
             |       CAST(round(sum(rev), 4) AS DOUBLE) AS "sum"
             |FROM b""".stripMargin)),

    // ES sampler agg: metric sub-aggs over the top-`shard_size` hits by
    // relevance (score desc, doc id tiebreak — a bounded TakeOrdered, no
    // global sort).
    Q("a70_es_json_sampler",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"query": {"match": {"text": "spark"}},
          | "aggs": {"sample": {"sampler": {"shard_size": 100},
          |   "aggs": {"avg_len": {"avg": {"field": "n_chars"}}}}}}""".stripMargin)("sample"),
      Some(bm25Sql(Seq("spark"), extraCols = Seq("n_chars")) +
        """
          |SELECT count(*) AS doc_count, round(avg(n_chars), 6) AS avg_len
          |FROM (SELECT * FROM sc WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 100)""".stripMargin)),

    // ES significant_text: significant terms over the ANALYZED tokens of a
    // text field (each doc votes once per distinct term), foreground =
    // query scope vs whole-index background.
    Q("a71_es_json_significant_text",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"query": {"term": {"source": "src1"}},
          | "aggs": {"st": {"significant_text": {"field": "text", "size": 8, "min_doc_count": 5}}}}""".stripMargin)("st"),
      Some("""WITH toks AS (
             |  SELECT doc_id, source,
             |         list_distinct(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS w
             |  FROM documents
             |), fg AS (
             |  SELECT key, count(*) AS fg FROM (SELECT unnest(w) AS key FROM toks WHERE source = 'src1') GROUP BY key
             |), bg AS (
             |  SELECT key, count(*) AS bg FROM (SELECT unnest(w) AS key FROM toks) GROUP BY key
             |), tot AS (
             |  SELECT count(CASE WHEN source = 'src1' THEN 1 END) AS tot_fg, count(*) AS tot_bg FROM documents)
             |SELECT key, fg, bg, round((fg::DOUBLE / tot_fg) / (bg::DOUBLE / tot_bg), 6) AS score
             |FROM fg JOIN bg USING (key) CROSS JOIN tot
             |WHERE fg >= 5 ORDER BY score DESC, key LIMIT 8""".stripMargin)),

    // ES missing agg: the bucket of docs with a null field + metric
    // sub-aggs (the nullable column derives from p_type, the ES pattern of
    // sparse optional fields).
    Q("a72_es_json_missing_agg",
      (s, d) => graft.dsl.EsQueryJson.aggregations(
        Tables.part(s, d).withColumn("promo_type",
          when(col("p_type").startsWith("PROMO"), col("p_type"))),
        """{"aggs": {"no_promo": {"missing": {"field": "promo_type"},
          |   "aggs": {"avg_price": {"avg": {"field": "p_retailprice"}}}}}}""".stripMargin)("no_promo"),
      Some("""SELECT count(*) AS doc_count, round(avg(p_retailprice), 6) AS avg_price
             |FROM part WHERE p_type NOT LIKE 'PROMO%'""".stripMargin)),

    // ES terms LOOKUP: the term list comes from another index's doc,
    // fetched coordinating-node-side (here: customers in the same nation
    // as supplier 5).
    Q("a73_es_json_terms_lookup",
      (s, d) => graft.dsl.EsQueryJson.withTables("supplier" -> Tables.supplier(s, d)) {
        graft.dsl.EsQueryJson.search(Tables.customer(s, d),
          """{"query": {"terms": {"c_nationkey": {
            |   "index": "supplier", "id": 5, "path": "s_nationkey"}}},
            | "sort": ["c_custkey"], "size": 100}""".stripMargin)
          .select(col("c_custkey"), col("c_nationkey"))
      },
      Some("""SELECT c_custkey, c_nationkey FROM customer
             |WHERE c_nationkey IN (SELECT s_nationkey FROM supplier WHERE s_suppkey = 5)
             |ORDER BY c_custkey LIMIT 100""".stripMargin)),

    // Named queries: `_name`-tagged clauses → a `matched_queries` column
    // listing which tagged clauses each hit satisfied. The list is
    // serialized to a '|'-joined string for the oracle gate (array-typed
    // output columns crash the driver's comparer); NamedQueriesSpec covers
    // the array form.
    Q("a74_es_json_named_queries",
      (s, d) => graft.dsl.EsQueryJson.search(ord(s, d),
        """{"query": {"bool": {
          |   "must": [{"range": {"o_totalprice": {"gte": 100000, "_name": "big"}}}],
          |   "should": [
          |     {"term": {"o_orderstatus": {"value": "F", "_name": "finished"}}},
          |     {"term": {"o_orderpriority": {"value": "1-URGENT", "_name": "urgent"}}}]}},
          | "sort": ["o_orderkey"], "size": 200}""".stripMargin)
        .select(col("o_orderkey"),
          concat_ws("|", array_sort(col("matched_queries"))).as("matched_queries")),
      Some("""SELECT o_orderkey, coalesce(list_aggregate(list_sort(list_filter(
             |  [CASE WHEN o_totalprice >= 100000 THEN 'big' END,
             |   CASE WHEN o_orderstatus = 'F' THEN 'finished' END,
             |   CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent' END],
             |  x -> x IS NOT NULL)), 'string_agg', '|'), '') AS matched_queries
             |FROM orders WHERE o_totalprice >= 100000
             |ORDER BY o_orderkey LIMIT 200""".stripMargin)),

    // ES matrix_stats: pairwise sample covariance + Pearson correlation,
    // unpivoted to upper-triangle rows.
    Q("a75_es_json_matrix_stats",
      (s, d) => graft.dsl.EsQueryJson.aggregations(li(s, d),
        """{"aggs": {"ms": {"matrix_stats": {
          |   "fields": ["l_discount", "l_quantity", "l_tax"]}}}}""".stripMargin)("ms"),
      Some("""SELECT field_a, field_b, covariance, correlation FROM (
             |  SELECT 'l_discount' AS field_a, 'l_discount' AS field_b,
             |         round(covar_samp(l_discount, l_discount), 6) AS covariance,
             |         round(corr(l_discount, l_discount), 6) AS correlation FROM lineitem
             |  UNION ALL
             |  SELECT 'l_discount', 'l_quantity',
             |         round(covar_samp(l_discount, l_quantity), 6), round(corr(l_discount, l_quantity), 6) FROM lineitem
             |  UNION ALL
             |  SELECT 'l_discount', 'l_tax',
             |         round(covar_samp(l_discount, l_tax), 6), round(corr(l_discount, l_tax), 6) FROM lineitem
             |  UNION ALL
             |  SELECT 'l_quantity', 'l_quantity',
             |         round(covar_samp(l_quantity, l_quantity), 6), round(corr(l_quantity, l_quantity), 6) FROM lineitem
             |  UNION ALL
             |  SELECT 'l_quantity', 'l_tax',
             |         round(covar_samp(l_quantity, l_tax), 6), round(corr(l_quantity, l_tax), 6) FROM lineitem
             |  UNION ALL
             |  SELECT 'l_tax', 'l_tax',
             |         round(covar_samp(l_tax, l_tax), 6), round(corr(l_tax, l_tax), 6) FROM lineitem)
             |ORDER BY field_a, field_b""".stripMargin)),

    // moving_avg with the ewma model (α = 0.5 — every weight an exact
    // power of two, so both engines' weighted folds are bit-identical).
    Q("a76_es_json_moving_avg_ewma",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          | "aggs": {"rev": {"sum": {"field": "o_totalprice"}},
          |          "ewma": {"moving_avg": {"buckets_path": "rev", "window": 4,
          |                   "model": "ewma", "settings": {"alpha": 0.5}}}}}}}""".stripMargin)("by_m"),
      Some("""WITH b AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS key, count(*) AS doc_count,
             |         round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY key),
             |w AS (
             |  SELECT key, doc_count, rev,
             |         list(rev) OVER (ORDER BY key ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS vals
             |  FROM b)
             |SELECT key, doc_count, rev,
             |       CAST(round(list_sum(list_transform(vals, (x, i) ->
             |         CASE WHEN i = 1 THEN pow(0.5, len(vals) - 1) * x
             |              ELSE 0.5 * pow(0.5, len(vals) - i) * x END)), 6) AS DOUBLE) AS ewma
             |FROM w ORDER BY key""".stripMargin)),

    // `min_score`: scoring forced by the cutoff even though the sort is by
    // id — hits below the BM25 threshold drop out.
    Q("a77_es_json_min_score",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": "spark"}}, "min_score": 1.0,
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some(bm25Sql(Seq("spark")) +
        """
          |SELECT doc_id, score FROM sc WHERE score >= 1.0
          |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // function_score random_score: seeded deterministic shuffle (md5 of
    // seed:field, the reproducible-sampling idiom) — same hash replayed by
    // the oracle.
    Q("a78_es_json_random_score",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"function_score": {
          |   "functions": [{"random_score": {"seed": "42", "field": "doc_id"}}]}},
          | "sort": [{"_score": {}}, "doc_id"], "size": 25}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some(s"""SELECT doc_id,
             |       round(CAST(${Hashing.sqlMd5Long60("'42:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS DOUBLE) / 1000000.0, 6) AS score
             |FROM documents
             |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // ES nested AGG: sub-aggs over the child docs of an array-of-struct
    // field (the items built per order, the b24 shape) — the flat-table
    // twin proves the explode-rebind is lossless.
    Q("a79_es_json_nested_agg",
      (s, d) => {
        val items = liItems(s, d, "items", "l_quantity", "l_returnflag")
        val o = ord(s, d).select("o_orderkey").join(items, col("o_orderkey") === col("l_orderkey"))
        graft.dsl.EsQueryJson.aggregations(o,
          """{"aggs": {"items_agg": {"nested": {"path": "items"},
            | "aggs": {"by_flag": {"terms": {"field": "items.l_returnflag", "size": 10},
            |   "aggs": {"avg_qty": {"avg": {"field": "items.l_quantity"}}}}}}}}""".stripMargin)("items_agg")
      },
      Some("""SELECT l_returnflag AS key, count(*) AS doc_count,
             |       round(avg(l_quantity), 6) AS avg_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // moving_avg linear model: position-weighted trailing window (weights
    // 1..m toward the newest bucket).
    Q("a80_es_json_moving_avg_linear",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          | "aggs": {"rev": {"sum": {"field": "o_totalprice"}},
          |          "lin": {"moving_avg": {"buckets_path": "rev", "window": 3, "model": "linear"}}}}}}""".stripMargin)("by_m"),
      Some("""WITH b AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS key, count(*) AS doc_count,
             |         round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY key),
             |w AS (
             |  SELECT key, doc_count, rev,
             |         list(rev) OVER (ORDER BY key ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS vals
             |  FROM b)
             |SELECT key, doc_count, rev,
             |       CAST(round(list_sum(list_transform(vals, (x, i) -> i * x))
             |              / (len(vals) * (len(vals) + 1) / 2.0), 6) AS DOUBLE) AS lin
             |FROM w ORDER BY key""".stripMargin)),

    // fuzziness AUTO: edit budget from the query-term length (8 chars -> 2
    // edits, same cutoff the explicit form pins).
    Q("a81_es_json_fuzzy_auto",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.part(s, d),
        """{"query": {"fuzzy": {"p_name": {"value": "red bolt", "fuzziness": "AUTO"}}},
          | "sort": ["p_partkey"], "size": 100}""".stripMargin)
        .select(col("p_partkey"), col("p_name")),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE damerau_levenshtein(p_name, 'red bolt') <= 2
             |ORDER BY p_partkey LIMIT 100""".stripMargin)),

    // percentiles_bucket sibling: exact percentiles over another agg's
    // bucket metric (the bounded bucket set, a coordinator-side step).
    Q("a82_es_json_percentiles_bucket",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |  "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}},
          | "pb": {"percentiles_bucket": {"buckets_path": "by_m>rev", "percents": [25, 50, 75, 95]}}}}""".stripMargin)("pb"),
      Some("""WITH b AS (
             |  SELECT date_trunc('month', o_orderdate) AS key, round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY key)
             |SELECT CAST(round(quantile_cont(rev, 0.25), 4) AS DOUBLE) AS p25,
             |       CAST(round(quantile_cont(rev, 0.50), 4) AS DOUBLE) AS p50,
             |       CAST(round(quantile_cont(rev, 0.75), 4) AS DOUBLE) AS p75,
             |       CAST(round(quantile_cont(rev, 0.95), 4) AS DOUBLE) AS p95
             |FROM b""".stripMargin)),

    // terms agg include/exclude: bucket keys pruned by anchored regex
    // (full-term match, ES semantics) before grouping.
    Q("a83_es_json_terms_include",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"pri": {"terms": {"field": "o_orderpriority", "size": 10,
          |   "include": "[1-3]-.*", "exclude": "2-.*"},
          | "aggs": {"avg_tp": {"avg": {"field": "o_totalprice"}}}}}}""".stripMargin)("pri"),
      Some("""SELECT o_orderpriority AS key, count(*) AS doc_count,
             |       round(avg(o_totalprice), 6) AS avg_tp
             |FROM orders
             |WHERE regexp_full_match(o_orderpriority, '[1-3]-.*')
             |  AND NOT regexp_full_match(o_orderpriority, '2-.*')
             |GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // bucket_script + bucket_selector: per-bucket painless arithmetic
    // bound to buckets_path params (revenue per order), then a bucket
    // predicate pruning the frame — the dashboard ratio/filter pair.
    Q("a84_es_json_bucket_script",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          | "aggs": {"rev": {"sum": {"field": "o_totalprice"}},
          |          "rev_per_order": {"bucket_script": {
          |             "buckets_path": {"r": "rev", "n": "_count"},
          |             "script": "params.r / params.n"}},
          |          "keep": {"bucket_selector": {
          |             "buckets_path": {"n": "_count"},
          |             "script": "params.n >= 10"}}}}}}""".stripMargin)("by_m"),
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS key,
             |       count(*) AS doc_count, round(sum(o_totalprice), 4) AS rev,
             |       CAST(round(round(sum(o_totalprice), 4) / count(*), 6) AS DOUBLE) AS rev_per_order
             |FROM orders GROUP BY key HAVING count(*) >= 10 ORDER BY key""".stripMargin)),

    // single-filter bucket agg: metric sub-aggs scoped to one predicate.
    Q("a85_es_json_filter_agg",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"finished": {"filter": {"term": {"o_orderstatus": "F"}},
          |   "aggs": {"avg_tp": {"avg": {"field": "o_totalprice"}},
          |            "max_tp": {"max": {"field": "o_totalprice"}}}}}}""".stripMargin)("finished"),
      Some("""SELECT count(*) AS doc_count, round(avg(o_totalprice), 6) AS avg_tp,
             |       round(max(o_totalprice), 4) AS max_tp
             |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),

    // _source filtering: the hit projects down to the named fields inside
    // the engine (column pruning reaches the scan).
    Q("a86_es_json_source_filter",
      (s, d) => graft.dsl.EsQueryJson.search(ord(s, d),
        """{"query": {"term": {"o_orderstatus": "O"}},
          | "_source": ["o_orderkey", "o_totalprice"],
          | "sort": ["o_orderkey"], "size": 50}""".stripMargin),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderstatus = 'O' ORDER BY o_orderkey LIMIT 50""".stripMargin)),

    // match operator:and — all terms required (ES sugar for msm = 100%).
    Q("a88_es_json_match_and",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": {"query": "spark join", "operator": "and"}}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select(col("doc_id")),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |WHERE list_contains(w, 'spark') AND list_contains(w, 'join')
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // terms agg `missing`: null keys bucket under the given value.
    Q("a89_es_json_terms_missing",
      (s, d) => graft.dsl.EsQueryJson.aggregations(
        Tables.documents(s, d)
          .withColumn("maybe_src", when(col("doc_id") % 7 =!= 0, col("source"))),
        """{"aggs": {"src": {"terms": {"field": "maybe_src", "size": 5, "missing": "none"},
          | "aggs": {"avg_len": {"avg": {"field": "n_chars"}}}}}}""".stripMargin)("src"),
      Some("""SELECT coalesce(CASE WHEN doc_id % 7 <> 0 THEN source END, 'none') AS key,
             |       count(*) AS doc_count, round(avg(n_chars), 6) AS avg_len
             |FROM documents GROUP BY key ORDER BY doc_count DESC, key LIMIT 5""".stripMargin)),

    // histogram `offset`: shifted bucket boundaries.
    Q("a90_es_json_histogram_offset",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"h": {"histogram": {"field": "o_totalprice", "interval": 50000, "offset": 12500}}}}""")("h"),
      Some("""SELECT CAST(floor((o_totalprice - 12500.0) / 50000.0) * 50000.0 + 12500.0 AS BIGINT) AS key,
             |       count(*) AS doc_count
             |FROM orders GROUP BY key ORDER BY key""".stripMargin)),

    // composite agg with histogram + terms sources and an `after` cursor —
    // the bucket-pagination form over binned keys.
    Q("a91_es_json_composite_histogram",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"comp": {"composite": {"size": 8, "sources": [
          |   {"price_bin": {"histogram": {"field": "o_totalprice", "interval": 100000}}},
          |   {"status": {"terms": {"field": "o_orderstatus"}}}],
          |  "after": {"price_bin": 100000, "status": "F"}}}}}""".stripMargin)("comp"),
      Some("""WITH g AS (
             |  SELECT CAST(floor(o_totalprice / 100000.0) * 100000.0 AS BIGINT) AS price_bin,
             |         o_orderstatus AS status, count(*) AS doc_count
             |  FROM orders GROUP BY price_bin, status)
             |SELECT price_bin, status, doc_count FROM g
             |WHERE price_bin > 100000 OR (price_bin = 100000 AND status > 'F')
             |ORDER BY price_bin, status LIMIT 8""".stripMargin)),

    // multi_match most_fields: score = SUM of per-field BM25 (vs
    // best_fields' max) — the multi-analyzer recall type.
    Q("a92_es_json_multi_match_most_fields",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"multi_match": {"query": "spark web", "type": "most_fields",
          |   "fields": ["text", "source"]}},
          | "sort": ["_score", "doc_id"], "size": 20}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS wt,
             |         list_filter(string_split_regex(lower(source), '\W+'), x -> x <> '') AS ws
             |  FROM documents
             |), f AS (
             |  SELECT doc_id, wt, ws,
             |         CAST(len(list_filter(wt, x -> x = 'spark')) AS DOUBLE) AS t0,
             |         CAST(len(list_filter(wt, x -> x = 'web')) AS DOUBLE) AS t1,
             |         CAST(len(list_filter(ws, x -> x = 'spark')) AS DOUBLE) AS s0,
             |         CAST(len(list_filter(ws, x -> x = 'web')) AS DOUBLE) AS s1,
             |         CAST(len(wt) AS DOUBLE) AS dlt, CAST(len(ws) AS DOUBLE) AS dls
             |  FROM t
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dlt) AS avgdlt, avg(dls) AS avgdls,
             |         CAST(sum(CASE WHEN t0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft0,
             |         CAST(sum(CASE WHEN t1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft1,
             |         CAST(sum(CASE WHEN s0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs0,
             |         CAST(sum(CASE WHEN s1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs1
             |  FROM f
             |), sc AS (
             |  SELECT doc_id, wt, ws,
             |         (ln(1 + (n - dft0 + 0.5)/(dft0 + 0.5)) * (t0*(1.2+1))/(t0 + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt))
             |        + ln(1 + (n - dft1 + 0.5)/(dft1 + 0.5)) * (t1*(1.2+1))/(t1 + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt))) AS sct,
             |         (ln(1 + (n - dfs0 + 0.5)/(dfs0 + 0.5)) * (s0*(1.2+1))/(s0 + 1.2*(1 - 0.75 + 0.75*dls/avgdls))
             |        + ln(1 + (n - dfs1 + 0.5)/(dfs1 + 0.5)) * (s1*(1.2+1))/(s1 + 1.2*(1 - 0.75 + 0.75*dls/avgdls))) AS scs
             |  FROM f CROSS JOIN st
             |)
             |SELECT doc_id, round(sct + scs, 6) AS score FROM sc
             |WHERE round(sct + scs, 6) > 0
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // significant_terms with the chi_square heuristic: Pearson chi-square
    // over the disjoint 2x2 contingency, identical double association in
    // the twin.
    Q("a93_es_json_significant_chi2",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"query": {"term": {"lang": "zh"}},
          | "aggs": {"sig": {"significant_terms": {"field": "source", "size": 5,
          |   "min_doc_count": 2, "chi_square": {}}}}}""".stripMargin)("sig"),
      Some("""WITH fgc AS (SELECT source AS key, count(*) AS fg FROM documents WHERE lang = 'zh' GROUP BY source),
             |bgc AS (SELECT source AS key, count(*) AS bg FROM documents GROUP BY source),
             |tot AS (SELECT count(CASE WHEN lang = 'zh' THEN 1 END) AS tot_fg, count(*) AS tot_bg FROM documents)
             |SELECT key, fg, bg,
             |       round(CAST(tot_bg AS DOUBLE) * pow(CAST(fg AS DOUBLE) * ((CAST(tot_bg AS DOUBLE) - tot_fg) - (bg - fg)) - (CAST(bg AS DOUBLE) - fg) * (CAST(tot_fg AS DOUBLE) - fg), 2.0) /
             |         ((CAST(fg AS DOUBLE) + (CAST(bg AS DOUBLE) - fg)) * ((CAST(tot_fg AS DOUBLE) - fg) + ((CAST(tot_bg AS DOUBLE) - tot_fg) - (bg - fg))) * (CAST(fg AS DOUBLE) + (CAST(tot_fg AS DOUBLE) - fg)) * ((CAST(bg AS DOUBLE) - fg) + ((CAST(tot_bg AS DOUBLE) - tot_fg) - (bg - fg)))), 6) AS score
             |FROM fgc JOIN bgc USING (key) CROSS JOIN tot
             |WHERE fg >= 2 ORDER BY score DESC, key LIMIT 5""".stripMargin)),

    // reverse_nested: per child-term bucket, the distinct-parent count
    // beside the child doc_count ("how many orders contain this flag").
    Q("a94_es_json_reverse_nested",
      (s, d) => {
        val items = liItems(s, d, "items", "l_quantity", "l_returnflag")
        val o = ord(s, d).select("o_orderkey").join(items, col("o_orderkey") === col("l_orderkey"))
          .select("o_orderkey", "items")
        graft.dsl.EsQueryJson.aggregations(o,
          """{"aggs": {"items_agg": {"nested": {"path": "items"},
            | "aggs": {"by_flag": {"terms": {"field": "items.l_returnflag", "size": 10},
            |   "aggs": {"parents": {"reverse_nested": {}},
            |            "avg_qty": {"avg": {"field": "items.l_quantity"}}}}}}}}""".stripMargin)("items_agg")
      },
      Some("""SELECT l_returnflag AS key, count(*) AS doc_count,
             |       count(DISTINCT o_orderkey) AS parents,
             |       round(avg(l_quantity), 6) AS avg_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // date_histogram offset: day buckets anchored at 18:00 of the prior
    // day (+6h shift), trunc(ts - off) + off on both engines.
    Q("a95_es_json_date_histogram_offset",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"h": {"date_histogram": {"field": "o_orderdate",
          |   "calendar_interval": "month", "offset": "+6h"}}}}""".stripMargin)("h"),
      Some("""SELECT date_trunc('month', o_orderdate - INTERVAL 6 HOUR) + INTERVAL 6 HOUR AS key,
             |       count(*) AS doc_count
             |FROM orders GROUP BY key ORDER BY key""".stripMargin)),

    // function_score script_score: doc['f'].value arithmetic composed
    // with the BM25 base (multiply boost_mode), the "custom ranking
    // formula" form.
    Q("a96_es_json_script_score",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"function_score": {
          |   "query": {"match": {"text": "spark"}},
          |   "functions": [{"script_score": {"script": {
          |      "source": "1.0 + ln(1.0 + 0.01 * doc['n_chars'].value)"}}}],
          |   "boost_mode": "multiply"}},
          | "sort": [{"_score": {}}, "doc_id"], "size": 25}""".stripMargin)
        .select(col("doc_id"), col("_score").as("fscore")),
      Some(bm25Sql(Seq("spark"), extraCols = Seq("n_chars")) +
        """
          |SELECT doc_id, round(score * (1.0 + ln(1.0 + 0.01 * n_chars)), 6) AS fscore
          |FROM sc WHERE score > 0
          |ORDER BY fscore DESC, doc_id LIMIT 25""".stripMargin)),

    // match_phrase_prefix: phrase with the last term a prefix — the
    // search-as-you-type query ("the da" recalls "the data...").
    Q("a97_es_json_match_phrase_prefix",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match_phrase_prefix": {"text": "the da"}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select(col("doc_id")),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |WHERE len(w) >= 2 AND len(list_filter(generate_series(1, len(w) - 1),
             |  i -> w[i] = 'the' AND starts_with(w[i + 1], 'da'))) > 0
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // terms_set: array-field match with a per-document minimum term count
    // (the derived token array + a constant requirement column).
    Q("a98_es_json_terms_set",
      (s, d) => graft.dsl.EsQueryJson.search(
        Tables.part(s, d)
          .withColumn("name_toks", graft.ext.TextAnalysis.tokens(col("p_name")))
          .withColumn("req", lit(2)),
        """{"query": {"terms_set": {"name_toks": {
          |   "terms": ["red", "blue", "bolt", "gear"],
          |   "minimum_should_match_field": "req"}}},
          | "sort": ["p_partkey"], "size": 200}""".stripMargin)
        .select(col("p_partkey"), col("p_type")),
      Some("""SELECT p_partkey, p_type FROM (
             |  SELECT p_partkey, p_type,
             |         list_filter(string_split_regex(lower(p_name), '\W+'), x -> x <> '') AS tt
             |  FROM part)
             |WHERE len(list_filter(list_distinct(tt),
             |        x -> list_contains(['red', 'blue', 'bolt', 'gear'], x))) >= 2
             |ORDER BY p_partkey LIMIT 200""".stripMargin)),

    // wrapper: base64-wrapped body decoded and compiled like any other
    // (the escape hatch clients use to smuggle raw queries through JSON).
    Q("a99_es_json_wrapper",
      (s, d) => {
        val inner = """{"term": {"o_orderstatus": "F"}}"""
        val b64 = java.util.Base64.getEncoder.encodeToString(
          inner.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        graft.dsl.EsQueryJson.search(ord(s, d),
          s"""{"query": {"wrapper": {"query": "$b64"}},
             | "sort": ["o_orderkey"], "size": 50}""".stripMargin)
          .select(col("o_orderkey"), col("o_orderstatus"))
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |WHERE o_orderstatus = 'F' ORDER BY o_orderkey LIMIT 50""".stripMargin)),

    // query_string `_exists_:field` — the Lucene field-presence atom.
    Q("a100_es_json_qs_exists",
      (s, d) => graft.dsl.EsQueryJson.search(
        Tables.part(s, d).withColumn("promo_type",
          when(col("p_type").startsWith("PROMO"), col("p_type"))),
        """{"query": {"query_string": {"query": "_exists_:promo_type AND p_size:>=40"}},
          | "sort": ["p_partkey"], "size": 200}""".stripMargin)
        .select(col("p_partkey"), col("p_size")),
      Some("""SELECT p_partkey, p_size FROM part
             |WHERE p_type LIKE 'PROMO%' AND p_size >= 40
             |ORDER BY p_partkey LIMIT 200""".stripMargin)),

    // Per-series pipeline aggs: derivative + cumulative_sum inside a
    // terms × date_histogram nest — the window partitions by the outer
    // bucket key (each series' bounded bucket list), the dashboard shape.
    Q("a101_es_json_nested_pipeline",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"pri": {"terms": {"field": "o_orderpriority", "size": 5},
          | "aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {"rev": {"sum": {"field": "o_totalprice"}},
          |            "deriv": {"derivative": {"buckets_path": "rev"}},
          |            "cum": {"cumulative_sum": {"buckets_path": "rev"}}}}}}}}""".stripMargin)("pri"),
      Some("""WITH b AS (
             |  SELECT o_orderpriority AS pri, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS by_m,
             |         count(*) AS doc_count, round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY pri, by_m)
             |SELECT pri, by_m, doc_count, rev,
             |       CAST(round(rev - lag(rev) OVER (PARTITION BY pri ORDER BY by_m), 4) AS DOUBLE) AS deriv,
             |       CAST(round(sum(rev) OVER (PARTITION BY pri ORDER BY by_m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS cum
             |FROM b ORDER BY pri, by_m""".stripMargin)),

    // ES-JSON fuzzy query.
    Q("a26_es_json_fuzzy",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.part(s, d),
        """{"query": {"fuzzy": {"p_name": {"value": "red bolt", "fuzziness": 2}}},
          | "sort": ["p_partkey"], "size": 100}""".stripMargin)
        .select(col("p_partkey"), col("p_name")),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE damerau_levenshtein(p_name, 'red bolt') <= 2
             |ORDER BY p_partkey LIMIT 100""".stripMargin)),

    // ES-JSON significant_terms: the body's query scopes the foreground,
    // the whole table is the background.
    Q("a27_es_json_significant_terms",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"query": {"term": {"lang": "zh"}},
          | "aggs": {"sig": {"significant_terms": {"field": "source", "size": 5, "min_doc_count": 2}}}}""".stripMargin)("sig")
        .orderBy(desc("score"), col("key")),
      Some("""WITH fg AS (SELECT source AS key, count(*) AS fg FROM documents WHERE lang='zh' GROUP BY key),
             |     bg AS (SELECT source AS key, count(*) AS bg FROM documents GROUP BY key),
             |     t AS (SELECT (SELECT count(*) FROM documents WHERE lang='zh') AS tot_fg,
             |                  (SELECT count(*) FROM documents) AS tot_bg)
             |SELECT key, fg, bg,
             |       round((CAST(fg AS DOUBLE)/tot_fg) / (CAST(bg AS DOUBLE)/tot_bg), 6) AS score
             |FROM fg JOIN bg USING (key) CROSS JOIN t
             |WHERE fg >= 2 ORDER BY score DESC, key LIMIT 5""".stripMargin)),

    // ES-JSON nested query: child-doc predicate rebinding fields to the
    // array element (same shape as b24, driven from a search body).
    Q("a28_es_json_nested",
      (s, d) => {
        val items = liItems(s, d, "items", "l_quantity", "l_discount")
        val joined = ord(s, d).select("o_orderkey", "o_orderstatus")
          .join(items, col("o_orderkey") === col("l_orderkey"))
        graft.dsl.EsQueryJson.search(joined,
          """{"query": {"nested": {"path": "items", "query":
            |  {"bool": {"must": [{"range": {"items.l_quantity": {"gte": 49}}},
            |                     {"range": {"items.l_discount": {"gt": 0.09}}}]}}}},
            | "sort": ["o_orderkey"], "size": 10000}""".stripMargin)
          .select(col("o_orderkey"), col("o_orderstatus"))
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49 AND l_discount > 0.09)
             |ORDER BY o_orderkey""".stripMargin)),

    // ES `nested` query: predicate over child docs nested in the parent —
    // lineitems collected per order, `exists(items, pred)` HOF.
    Q("b24_nested_exists",
      (s, d) => {
        val items = liItems(s, d, "items", "l_quantity", "l_discount")
        val o = ord(s, d).select("o_orderkey", "o_orderstatus")
        o.join(items, col("o_orderkey") === col("l_orderkey"))
          .filter(org.apache.spark.sql.functions.exists(col("items"), i =>
            i.getField("l_quantity") >= 49 && i.getField("l_discount") > 0.09))
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS cnt FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49 AND l_discount > 0.09)
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // B16 third form: GROUPING SETS through the SQL entry point.
    Q("b16_grouping_sets",
      (s, d) => {
        li(s, d).createOrReplaceTempView("graft_lineitem")
        s.sql("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
                |       coalesce(l_linestatus, 'ALL') AS status,
                |       count(*) AS cnt
                |FROM graft_lineitem
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY flag, status""".stripMargin)
      },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
             |       coalesce(l_linestatus, 'ALL') AS status,
             |       count(*) AS cnt
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY flag, status""".stripMargin)),

    Q("b06_bool",
      (s, d) => li(s, d)
        .filter(bool(
          must = Seq(col("l_quantity") >= 5),
          should = Seq(term(col("l_returnflag"), "R"), term(col("l_linestatus"), "F")),
          mustNot = Seq(col("l_discount") > 0.08),
          minimumShouldMatch = 1))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt, round(sum(l_quantity),4) AS sum_qty
             |FROM lineitem
             |WHERE l_quantity >= 5
             |  AND ((CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END
             |      + CASE WHEN l_linestatus='F' THEN 1 ELSE 0 END) >= 1)
             |  AND NOT (l_discount > 0.08)
             |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("b07_ids",
      (s, d) => ord(s, d)
        .filter(ids(col("o_orderkey"), Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 55L, 89L)))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_orderkey IN (1,2,3,5,8,13,21,34,55,89) ORDER BY o_orderkey""".stripMargin)),

    Q("b08_pagination",
      (s, d) => paginate(ord(s, d).select(col("o_orderkey"), col("o_totalprice")),
        Seq(desc("o_totalprice"), col("o_orderkey")), from = 100, size = 20),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 100""".stripMargin)),

    Q("b09_terms_agg",
      (s, d) => termsAgg(Tables.events(s, d), col("user_id"), 10),
      Some("""SELECT user_id AS key, count(*) AS doc_count FROM events
             |GROUP BY user_id ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    Q("b10_stats",
      (s, d) => statsAgg(Tables.customer(s, d), Seq(col("c_mktsegment")), col("c_acctbal"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(c_acctbal) AS value_count,
             |       round(min(c_acctbal),4) AS min_v, round(max(c_acctbal),4) AS max_v,
             |       round(sum(c_acctbal),4) AS sum_v, round(avg(c_acctbal),6) AS avg_v
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("b11_cardinality",
      (s, d) => li(s, d).agg(
        count_distinct(col("l_partkey")).as("n_parts"),
        count_distinct(col("l_suppkey")).as("n_supps"),
        count_distinct(col("l_orderkey")).as("n_orders")),
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
             |       count(DISTINCT l_orderkey) AS n_orders FROM lineitem""".stripMargin)),

    // ES's cardinality/percentiles are approximate by default (HLL /
    // t-digest). These twins keep the approximate operator in the plan but
    // emit a machine-checkable BOUNDED-ERROR assertion instead of the raw
    // engine-specific estimate: the oracle computes exact ground truth and
    // expects the within-bounds flag to be TRUE. A sketch regression
    // (broken merge, wrong rsd plumbing) flips the flag → red row.
    //
    // HLL bound: rsd is the standard deviation of the estimate's relative
    // error, so |est − exact| ≤ 5·rsd·exact is a ~5σ band — tight enough
    // to catch any real defect, loose enough to never flake.
    Q("b11_cardinality_approx",
      (s, d) => {
        val rsd = 0.02
        // per column: hash-distinct first (map-side partials), then ONE
        // tiny agg computes exact count + the HLL over the distinct set
        // (HLL is duplicate-insensitive, so the estimate is identical to
        // sketching the raw column) — mixing exact count_distinct with the
        // sketches in one agg planned a 3-way Expand over the fact table
        // (measured 6.1 s at sf0.1 vs ~0.6 s for this shape)
        def m(name: String, c: org.apache.spark.sql.Column) =
          li(s, d).select(c.as("v")).distinct()
            .agg(count(lit(1)).as("exact_n"),
              EsDsl.cardinality(col("v"), rsd).as("approx_n"))
            .select(lit(name).as("metric"), col("exact_n"), col("approx_n"))
        m("l_orderkey", col("l_orderkey"))
          .unionAll(m("l_partkey", col("l_partkey")))
          .unionAll(m("l_suppkey", col("l_suppkey")))
          .select(col("metric"), col("exact_n"),
            (abs(col("approx_n") - col("exact_n")).cast("double") <=
              lit(5 * rsd) * col("exact_n")).as("within_bounds"))
          .orderBy("metric")
      },
      Some("""SELECT * FROM (
             |  SELECT 'l_orderkey' AS metric, count(DISTINCT l_orderkey) AS exact_n, TRUE AS within_bounds FROM lineitem
             |  UNION ALL SELECT 'l_partkey', count(DISTINCT l_partkey), TRUE FROM lineitem
             |  UNION ALL SELECT 'l_suppkey', count(DISTINCT l_suppkey), TRUE FROM lineitem)
             |ORDER BY metric""".stripMargin)),

    // Percentile-sketch bound: the documented rank-error guarantee is
    // ε = 1/accuracy — the returned element's rank window [cnt_lt+1,
    // cnt_le] must intersect [(p−ε)·n, (p+ε)·n] within its group (±1 row
    // of slack for the floor/ceil boundary). The estimate joins back
    // against the group's rows to measure its true rank; the oracle
    // expects TRUE for every (group, percentile).
    Q("b12_percentiles_tdigest",
      (s, d) => {
        val accuracy = 10000
        val eps = 1.0 / accuracy
        val ps = Seq(0.25, 0.5, 0.75, 0.95)
        val sketch = li(s, d).groupBy(col("l_returnflag"))
          .agg(percentileApprox(col("l_quantity"), ps, accuracy).as("pcts"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"), col("n"),
            posexplode(col("pcts")).as(Seq("pos", "v")))
          .select(col("l_returnflag"), col("n"),
            element_at(array(ps.map(lit): _*), col("pos").cast("int") + 1).as("p"),
            col("v"))
        li(s, d).select(col("l_returnflag").as("f"), col("l_quantity").as("q"))
          .join(broadcast(sketch), col("f") === col("l_returnflag"))
          .groupBy(col("l_returnflag"), col("p"), col("n"))
          .agg(sum(when(col("q") <= col("v"), 1L).otherwise(0L)).as("cnt_le"),
            sum(when(col("q") < col("v"), 1L).otherwise(0L)).as("cnt_lt"))
          .select(col("l_returnflag"), col("p"),
            (col("cnt_le") >= floor((col("p") - eps) * col("n")) - 1 &&
             col("cnt_lt") <= ceil((col("p") + eps) * col("n"))).as("within_band"))
          .orderBy("l_returnflag", "p")
      },
      Some("""SELECT l_returnflag, CAST(p AS DOUBLE) AS p, TRUE AS within_band
             |FROM (SELECT DISTINCT l_returnflag FROM lineitem)
             |CROSS JOIN (VALUES (0.25),(0.5),(0.75),(0.95)) v(p)
             |ORDER BY l_returnflag, p""".stripMargin)),

    // HDR-histogram percentiles: log-linear buckets (values keep their
    // top 8 bits — relative error < 2^-7), percentile = first bucket
    // whose cumulative count reaches ceil(p·n), reported as the bucket
    // max (HDR's highestEquivalentValue). Like the t-digest row, the
    // gate measures the TRUE guarantee: the estimate's rank covers the
    // target AND the bucket's min strictly precedes it, which pins the
    // exact percentile inside the bucket — the oracle expects TRUE
    // everywhere. The sketch is a bounded histogram (buckets ≤ 8·48),
    // mergeable by addition — the 100 TB percentile path when rank
    // accuracy beats t-digest's adaptive centroids.
    Q("b12_percentiles_hdr",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 8
        val ps = Seq(0.25, 0.5, 0.75, 0.95)
        val vals = li(s, d).select(col("l_returnflag").as("g"),
          col("l_extendedprice").cast("long").as("v"))
          .filter(col("v") >= 1)
        // bucket via pow-of-2 modulus — no dynamic shifts (Spark's
        // shiftleft takes only literal counts); bit length via bin()
        val p2 = array((0 to 47).map(i => lit(1L << i)): _*)
        val pw = element_at(p2, greatest(length(bin(col("v"))) - lit(k), lit(0)) + 1)
        val bmin = (col("v") - pmod(col("v"), pw)).as("bmin")
        val hist = vals.select(col("g"), bmin, (col("v") - pmod(col("v"), pw) + pw - 1).as("rep"))
          .groupBy("g", "bmin", "rep").agg(count(lit(1)).as("c"))
        val wcum = Window.partitionBy("g").orderBy("rep")
        val est = hist
          .withColumn("cum", sum("c").over(wcum))
          .withColumn("n", sum("c").over(Window.partitionBy("g")))
          .select(col("g"), col("bmin"), col("rep"), col("cum"), col("n"),
            explode(array(ps.map(lit): _*)).as("p"))
          .filter(col("cum") >= ceil(col("p") * col("n")))
          .groupBy("g", "p")
          .agg(min(struct(col("rep"), col("bmin"))).as("e"), max("n").as("n"))
          .select(col("g"), col("p"), col("e.rep").as("v_est"),
            col("e.bmin").as("v_bmin"), col("n"))
        vals.join(broadcast(est), "g")
          .groupBy(col("g"), col("p"), col("v_est"), col("v_bmin"), col("n"))
          .agg(sum(when(col("v") <= col("v_est"), 1L).otherwise(0L)).as("cnt_le"),
            sum(when(col("v") < col("v_bmin"), 1L).otherwise(0L)).as("cnt_lt_bmin"))
          .select(col("g").as("l_returnflag"), col("p"),
            (col("cnt_le") >= ceil(col("p") * col("n")) &&
              col("cnt_lt_bmin") < ceil(col("p") * col("n"))).as("within_band"))
          .orderBy("l_returnflag", "p")
      },
      Some("""SELECT l_returnflag, CAST(p AS DOUBLE) AS p, TRUE AS within_band
             |FROM (SELECT DISTINCT l_returnflag FROM lineitem)
             |CROSS JOIN (VALUES (0.25),(0.5),(0.75),(0.95)) v(p)
             |ORDER BY l_returnflag, p""".stripMargin)),

    Q("b12_percentiles",
      (s, d) => li(s, d).groupBy(col("l_returnflag")).agg(
        round(percentileExact(col("l_quantity"), 0.25), 4).as("p25"),
        round(percentileExact(col("l_quantity"), 0.5), 4).as("p50"),
        round(percentileExact(col("l_quantity"), 0.75), 4).as("p75"),
        round(percentileExact(col("l_quantity"), 0.95), 4).as("p95"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |       round(quantile_cont(l_quantity, 0.25),4) AS p25,
             |       round(quantile_cont(l_quantity, 0.5),4) AS p50,
             |       round(quantile_cont(l_quantity, 0.75),4) AS p75,
             |       round(quantile_cont(l_quantity, 0.95),4) AS p95
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("b13_histogram",
      (s, d) => Tables.events(s, d)
        .groupBy(histogramBucket(col("value"), 10.0).as("bucket"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_v"))
        .orderBy("bucket"),
      Some("""SELECT CAST(floor(value/10.0)*10.0 AS BIGINT) AS bucket, count(*) AS cnt,
             |       round(sum(value),4) AS sum_v
             |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin)),

    Q("b14_date_histogram",
      (s, d) => ord(s, d)
        .groupBy(dateHistogramBucket(col("o_orderdate"), "month").as("month"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 4).as("sum_price"))
        .orderBy("month"),
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, count(*) AS cnt,
             |       round(sum(o_totalprice),4) AS sum_price
             |FROM orders GROUP BY month ORDER BY month""".stripMargin)),

    Q("b15_top_hits",
      (s, d) => topHits(
        Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"),
        bucket = Seq(col("c_mktsegment")),
        sort = Seq(desc("c_acctbal"), col("c_custkey")), n = 3)
        .select(col("c_mktsegment"), col("rn"), col("c_custkey"), col("c_acctbal"))
        .orderBy("c_mktsegment", "rn"),
      Some("""SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
             |  SELECT c_mktsegment, c_custkey, c_acctbal,
             |         row_number() OVER (PARTITION BY c_mktsegment
             |                            ORDER BY c_acctbal DESC, c_custkey) AS rn
             |  FROM customer)
             |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin)),

    Q("b16_rollup",
      (s, d) => li(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 4).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("cnt"), col("sum_qty"))
        .orderBy("flag", "status"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status,
             |       count(*) AS cnt, round(sum(l_quantity),4) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY flag, status""".stripMargin)),

    Q("b16_cube",
      (s, d) => ord(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"), col("cnt"))
        .orderBy("status", "priority"),
      Some("""SELECT coalesce(o_orderstatus,'ALL') AS status, coalesce(o_orderpriority,'ALL') AS priority,
             |       count(*) AS cnt
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    Q("b17_composite",
      (s, d) => li(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"), year(col("l_shipdate")).as("yr"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus", "yr")
        .offset(5).limit(10),
      Some("""SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS INT) AS yr, count(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag, l_linestatus, yr
             |ORDER BY l_returnflag, l_linestatus, yr LIMIT 10 OFFSET 5""".stripMargin)),

    Q("b18_filters_agg",
      (s, d) => filtersAgg(ord(s, d), Seq(col("o_orderstatus")),
        "n_urgent" -> term(col("o_orderpriority"), "1-URGENT"),
        "n_high" -> term(col("o_orderpriority"), "2-HIGH"),
        "n_low" -> terms(col("o_orderpriority"), Seq("4-NOT SPECIFIED", "5-LOW")))
        .orderBy("o_orderstatus"),
      // CAST AS BIGINT: DuckDB sum() over integers yields HUGEINT, which the
      // driver's pandas bridge renders as float64 ("5.0") and hash-mismatches
      // Spark's BIGINT ("5") despite identical values.
      Some("""SELECT o_orderstatus, count(*) AS doc_count,
             |       CAST(sum(CASE WHEN o_orderpriority='1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
             |       CAST(sum(CASE WHEN o_orderpriority='2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
             |       CAST(sum(CASE WHEN o_orderpriority IN ('4-NOT SPECIFIED','5-LOW') THEN 1 ELSE 0 END) AS BIGINT) AS n_low
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    Q("b19_script_fields",
      (s, d) => ord(s, d)
        .select(
          col("o_orderkey"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("pri_num"),
          concat(col("o_orderstatus"), lit("-"), upper(substring(col("o_orderpriority"), 3, 20))).as("label"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"),
          round(col("o_totalprice") * 1.1, 2).as("price_taxed"),
          round(log(col("o_totalprice") + 1), 6).as("ln_price"),
          length(col("o_orderpriority")).as("pri_len"))
        .orderBy("o_orderkey").limit(100),
      Some("""SELECT o_orderkey,
             |       CAST(substr(o_orderpriority,1,1) AS INT) AS pri_num,
             |       o_orderstatus || '-' || upper(substr(o_orderpriority,3,20)) AS label,
             |       CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
             |       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
             |       round(o_totalprice * 1.1, 2) AS price_taxed,
             |       round(ln(o_totalprice + 1), 6) AS ln_price,
             |       CAST(length(o_orderpriority) AS INT) AS pri_len
             |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin)),

    Q("b20_set_ops",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_nationkey").as("nationkey")).distinct()
        val p = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")).distinct()
        c.intersect(p).withColumn("tag", lit("both"))
          .unionByName(c.except(p).withColumn("tag", lit("cust_only")))
          .unionByName(p.except(c).withColumn("tag", lit("supp_only")))
          .select(col("tag"), col("nationkey"))
          .orderBy("tag", "nationkey")
      },
      Some("""WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
             |     p AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
             |SELECT 'both' AS tag, nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM p)
             |UNION ALL SELECT 'cust_only', nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM p)
             |UNION ALL SELECT 'supp_only', nationkey FROM (SELECT nationkey FROM p EXCEPT SELECT nationkey FROM c)
             |ORDER BY tag, nationkey""".stripMargin)),

    // Window-function family over per-customer order history: ranking,
    // offset (lag) and running aggregation in one pass (single shuffle on
    // o_custkey; all three windows share the partitioning).
    Q("b25_window_zoo",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byPrice = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
        val byDate = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        ord(s, d).filter(col("o_custkey") < 100)
          .select(
            col("o_custkey"), col("o_orderkey"),
            rank().over(byPrice).as("rnk"),
            dense_rank().over(byPrice).as("drnk"),
            datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(byDate)).as("days_since_prev"),
            round(sum(col("o_totalprice")).over(
              byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4).as("run_sum"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |       CAST(rank() OVER wp AS INT) AS rnk,
             |       CAST(dense_rank() OVER wp AS INT) AS drnk,
             |       CAST(date_diff('day', CAST(lag(o_orderdate, 1) OVER wd AS DATE),
             |            CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev,
             |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |             ROWS UNBOUNDED PRECEDING), 4) AS run_sum
             |FROM orders WHERE o_custkey < 100
             |WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
             |       wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ES `significant_terms`: terms over-represented in a foreground set
    // (lang='zh') vs the full corpus — two aggregations + a join, score =
    // foreground share / background share.
    Q("b26_significant_terms",
      (s, d) => {
        val toks = graft.ext.TextAnalysis.tokens(col("text"))
        val td = Tables.documents(s, d).select(col("lang"), explode(toks).as("term"))
        val fg = td.filter(col("lang") === "zh").groupBy("term").agg(count(lit(1)).as("fg"))
        val bg = td.groupBy("term").agg(count(lit(1)).as("bg"))
        val totals = td.agg(
          sum(when(col("lang") === "zh", 1L).otherwise(0L)).as("tot_fg"),
          count(lit(1)).as("tot_bg"))
        fg.join(bg, "term").crossJoin(broadcast(totals))
          .withColumn("score",
            round((col("fg").cast("double") / col("tot_fg")) /
              (col("bg").cast("double") / col("tot_bg")), 6))
          .filter(col("fg") >= 10)
          .select(col("term"), col("fg"), col("bg"), col("score"))
          .orderBy(desc("score"), col("term")).limit(15)
      },
      Some("""WITH td AS (
             |  SELECT lang, unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS term
             |  FROM documents
             |), fg AS (SELECT term, count(*) AS fg FROM td WHERE lang = 'zh' GROUP BY term),
             |bg AS (SELECT term, count(*) AS bg FROM td GROUP BY term),
             |tot AS (SELECT sum(CASE WHEN lang='zh' THEN 1 ELSE 0 END) AS tot_fg, count(*) AS tot_bg FROM td)
             |SELECT term, fg, bg, round((fg*1.0/tot_fg)/(bg*1.0/tot_bg), 6) AS score
             |FROM fg JOIN bg USING (term) CROSS JOIN tot
             |WHERE fg >= 10
             |ORDER BY score DESC, term LIMIT 15""".stripMargin)),

    // ES `fuzzy` query: edit-distance match on a keyword field.
    Q("b27_fuzzy",
      (s, d) => Tables.part(s, d)
        .withColumn("dist", graft.functions.EditDistance.damerauLev(col("p_name"), lit("red bolt")))
        .filter(col("dist") <= 2)
        .select(col("p_partkey"), col("p_name"), col("dist"))
        .orderBy("p_partkey").limit(100),
      Some("""SELECT p_partkey, p_name, CAST(damerau_levenshtein(p_name, 'red bolt') AS INT) AS dist
             |FROM part WHERE damerau_levenshtein(p_name, 'red bolt') <= 2
             |ORDER BY p_partkey LIMIT 100""".stripMargin)),

    Q("b21_join_revenue",
      (s, d) => {
        val l = li(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
        val o = ord(s, d).select("o_orderkey", "o_custkey")
        val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        val n = Tables.nation(s, d).select("n_nationkey", "n_name")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("cnt"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |       count(*) AS cnt
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    Q("b22_join_range",
      (s, d) => {
        val l = li(s, d).select("l_orderkey", "l_shipdate")
        val o = ord(s, d).select("o_orderkey", "o_orderstatus", "o_orderdate")
        l.join(o, l("l_orderkey") === o("o_orderkey") &&
          l("l_shipdate") >= o("o_orderdate") &&
          l("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 30 DAYS"))
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS cnt
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    Q("b23_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id").as("signup_id"))
        AsOfJoin.backward(purchases, signups, keys = Seq("user_id"),
          leftTs = "ts", rightTs = "ts", rightCols = Seq("signup_id"))
          .select(col("event_id"), col("user_id"), col("asof_signup_id"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id,
             |       (SELECT max(s.event_id) FROM events s
             |        WHERE s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts) AS asof_signup_id
             |FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""".stripMargin)),

    // ---- ES-JSON front-end coverage (the body a migrating ES user sends;
    // compiles through dsl.EsQueryJson into the same Catalyst plans) ------

    // Nested bucket aggs: terms inside date_histogram, per-month top-2
    // statuses by doc count (ES terms order), sum metric at the leaf.
    Q("a20_es_json_nested_aggs",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_month": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |  "aggs": {"by_status": {"terms": {"field": "o_orderstatus", "size": 2},
          |    "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}}}}}}""".stripMargin)("by_month")
        .orderBy("by_month", "by_status"),
      Some("""WITH g AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS by_month,
             |         o_orderstatus AS by_status, count(*) AS doc_count,
             |         round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY by_month, by_status
             |), r AS (
             |  SELECT *, dense_rank() OVER (PARTITION BY by_month ORDER BY doc_count DESC, by_status) AS rk
             |  FROM g
             |)
             |SELECT by_month, by_status, doc_count, rev FROM r WHERE rk <= 2
             |ORDER BY by_month, by_status""".stripMargin)),

    // top_hits under terms: per-status top-2 orders by price (o_orderkey
    // tiebreak makes the sort total).
    Q("a21_es_json_top_hits",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_status": {"terms": {"field": "o_orderstatus"},
          |  "aggs": {"hits": {"top_hits": {"size": 2,
          |    "sort": [{"o_totalprice": {"order": "desc"}}, "o_orderkey"],
          |    "_source": ["o_orderkey", "o_totalprice"]}}}}}}""".stripMargin)("by_status")
        .orderBy("key", "rank"),
      Some("""SELECT o_orderstatus AS key, CAST(rn AS INT) AS rank, o_orderkey, o_totalprice FROM (
             |  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
             |           ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
             |WHERE rn <= 2 ORDER BY key, rank""".stripMargin)),

    // percentiles metric under terms (exact, like the typed DSL's b12).
    Q("a22_es_json_percentiles",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_pri": {"terms": {"field": "o_orderpriority", "size": 10},
          |  "aggs": {"price": {"percentiles": {"field": "o_totalprice", "percents": [25, 50, 75]}}}}}}""".stripMargin)("by_pri")
        .orderBy("key"),
      Some("""SELECT o_orderpriority AS key, count(*) AS doc_count,
             |       round(quantile_cont(o_totalprice, 0.25), 4) AS price_p25,
             |       round(quantile_cont(o_totalprice, 0.50), 4) AS price_p50,
             |       round(quantile_cont(o_totalprice, 0.75), 4) AS price_p75
             |FROM orders GROUP BY key ORDER BY key""".stripMargin)),

    // composite agg: key-ordered bucket paging with an after cursor.
    Q("a23_es_json_composite",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"pg": {"composite": {"size": 4,
          |  "sources": [{"st": {"terms": {"field": "o_orderstatus"}}},
          |              {"pri": {"terms": {"field": "o_orderpriority"}}}],
          |  "after": {"st": "F", "pri": "3-MEDIUM"}}}}}""".stripMargin)("pg"),
      Some("""SELECT o_orderstatus AS st, o_orderpriority AS pri, count(*) AS doc_count
             |FROM orders GROUP BY st, pri
             |HAVING (st > 'F') OR (st = 'F' AND pri > '3-MEDIUM')
             |ORDER BY st, pri LIMIT 4""".stripMargin)),

    // multi_match cross_fields: term-centric blended-df dis-max
    // ([[EsDsl.crossFieldsScore]]) — per query term the idf uses the
    // BLENDED df (max across fields), the tf side is the best field's
    // normalized tf + tie_breaker × the rest, per-term scores SUM;
    // `operator: and` requires every term in SOME field (term-centric, the
    // split-first-name/last-name semantics) and overrides any msm.
    Q("a102_es_json_cross_fields",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"multi_match": {"query": "spark src3", "fields": ["text", "source"],
          |   "type": "cross_fields", "tie_breaker": 0.3, "operator": "and"}},
          | "sort": ["_score", "doc_id"], "size": 20}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS wt,
             |         list_filter(string_split_regex(lower(source), '\W+'), x -> x <> '') AS ws
             |  FROM documents
             |), f AS (
             |  SELECT doc_id, wt, ws,
             |         CAST(len(list_filter(wt, x -> x = 'spark')) AS DOUBLE) AS t0,
             |         CAST(len(list_filter(wt, x -> x = 'src3')) AS DOUBLE) AS t1,
             |         CAST(len(list_filter(ws, x -> x = 'spark')) AS DOUBLE) AS s0,
             |         CAST(len(list_filter(ws, x -> x = 'src3')) AS DOUBLE) AS s1,
             |         CAST(len(wt) AS DOUBLE) AS dlt, CAST(len(ws) AS DOUBLE) AS dls
             |  FROM t
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dlt) AS avgdlt, avg(dls) AS avgdls,
             |         CAST(sum(CASE WHEN t0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft0,
             |         CAST(sum(CASE WHEN t1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft1,
             |         CAST(sum(CASE WHEN s0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs0,
             |         CAST(sum(CASE WHEN s1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs1
             |  FROM f
             |), tfn AS (
             |  SELECT doc_id, wt, ws, n, dft0, dft1, dfs0, dfs1,
             |         (t0*(1.2+1))/(t0 + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt)) AS tt0,
             |         (t1*(1.2+1))/(t1 + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt)) AS tt1,
             |         (s0*(1.2+1))/(s0 + 1.2*(1 - 0.75 + 0.75*dls/avgdls)) AS ts0,
             |         (s1*(1.2+1))/(s1 + 1.2*(1 - 0.75 + 0.75*dls/avgdls)) AS ts1
             |  FROM f CROSS JOIN st
             |), sc AS (
             |  SELECT doc_id, wt, ws,
             |         round(ln(1 + (n - greatest(dft0, dfs0) + 0.5)/(greatest(dft0, dfs0) + 0.5))
             |                 * (greatest(tt0, ts0) + 0.3 * ((tt0 + ts0) - greatest(tt0, ts0)))
             |             + ln(1 + (n - greatest(dft1, dfs1) + 0.5)/(greatest(dft1, dfs1) + 0.5))
             |                 * (greatest(tt1, ts1) + 0.3 * ((tt1 + ts1) - greatest(tt1, ts1))), 6) AS score
             |  FROM tfn
             |)
             |SELECT doc_id, score FROM sc
             |WHERE score > 0
             |  AND (list_contains(wt, 'spark') OR list_contains(ws, 'spark'))
             |  AND (list_contains(wt, 'src3') OR list_contains(ws, 'src3'))
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // ES parent-join surface, BOTH directions composed in one bool:
    // has_parent (child rows keep a denormalized parent struct; the
    // child→parent join is declared once upstream), has_child with
    // min_children (children as the b24 array-of-struct shape), and
    // parent_id over the `_parent` metadata column — here orders are the
    // docs, customer the parent, lineitems the children.
    Q("a103_es_json_parent_join",
      (s, d) => {
        val cust = Tables.customer(s, d).select(col("c_custkey"),
          struct(col("c_mktsegment"), col("c_acctbal")).as("customer"))
        val items = liItems(s, d, "item", "l_quantity", "l_extendedprice")
        val df = ord(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
          .join(cust, col("o_custkey") === col("c_custkey"), "left").drop("c_custkey")
          .join(items, col("o_orderkey") === col("l_orderkey"), "left").drop("l_orderkey")
          .withColumn("_parent", col("o_custkey"))
        graft.dsl.EsQueryJson.search(df,
          """{"query": {"bool": {
            |   "must": [
            |     {"has_parent": {"parent_type": "customer",
            |        "query": {"bool": {"must": [{"term": {"c_mktsegment": "BUILDING"}},
            |                                    {"range": {"c_acctbal": {"gte": 0}}}]}}}},
            |     {"has_child": {"type": "item", "min_children": 2,
            |        "query": {"range": {"item.l_quantity": {"gte": 48}}}}}],
            |   "must_not": [{"parent_id": {"type": "order", "id": 1}}]}},
            | "sort": ["o_orderkey"], "size": 10000}""".stripMargin)
          .select("o_orderkey", "o_custkey", "o_orderstatus")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
             |WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey
             |              AND c_mktsegment = 'BUILDING' AND c_acctbal >= 0)
             |  AND (SELECT count(*) FROM lineitem
             |       WHERE l_orderkey = o_orderkey AND l_quantity >= 48) >= 2
             |  AND NOT coalesce(o_custkey = 1, FALSE)
             |ORDER BY o_orderkey""".stripMargin)),

    // scripted_metric in its canonical map/combine/reduce form: per
    // priority bucket, the F-status share of revenue — a conditional
    // ratio-of-sums no single built-in metric expresses. Compiles to sum()
    // partials + scalar arithmetic in one hash aggregate.
    Q("a104_es_json_scripted_metric",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_pri": {"terms": {"field": "o_orderpriority", "size": 10},
          |  "aggs": {"f_share": {"scripted_metric": {
          |    "init_script": "state.f = 0; state.t = 0",
          |    "map_script": "state.f += doc['o_orderstatus'].value == 'F' ? doc['o_totalprice'].value : 0; state.t += doc['o_totalprice'].value",
          |    "combine_script": "return state",
          |    "reduce_script": "return states.t == 0 ? 0 : states.f / states.t"}}}}}}""".stripMargin)("by_pri")
        .orderBy("key"),
      Some("""SELECT o_orderpriority AS key, count(*) AS doc_count,
             |       round(CASE WHEN sum(o_totalprice) = 0 THEN 0
             |             ELSE sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END) / sum(o_totalprice) END, 6) AS f_share
             |FROM orders GROUP BY key ORDER BY key""".stripMargin)),

    // geo_centroid + geo_bounds metric aggs under terms buckets over the
    // md5-derived coordinates (oracle recomputes identical points).
    Q("a105_es_json_geo_centroid_bounds",
      (s, d) => {
        val df = graft.dsl.Geo.withDerivedCoords(
          Tables.customer(s, d), col("c_custkey"), "location")
        graft.dsl.EsQueryJson.aggregations(df,
          """{"aggs": {"by_seg": {"terms": {"field": "c_mktsegment", "size": 10},
            |  "aggs": {"c": {"geo_centroid": {"field": "location"}},
            |           "b": {"geo_bounds": {"field": "location"}}}}}}""".stripMargin)("by_seg")
          .orderBy("key")
      },
      Some(s"""WITH g AS (
             |  SELECT c_mktsegment,
             |         ${graft.dsl.Geo.sqlDerivedLat("c_custkey")} AS lat,
             |         ${graft.dsl.Geo.sqlDerivedLon("c_custkey")} AS lon
             |  FROM customer)
             |SELECT c_mktsegment AS key, count(*) AS doc_count,
             |       round(avg(lat), 6) AS c_lat, round(avg(lon), 6) AS c_lon,
             |       round(max(lat), 6) AS b_top_left_lat, round(min(lon), 6) AS b_top_left_lon,
             |       round(min(lat), 6) AS b_bottom_right_lat, round(max(lon), 6) AS b_bottom_right_lon
             |FROM g GROUP BY key ORDER BY key""".stripMargin)),

    // sliced scroll: 3 parallel export slices (hash(doc_id) % 3) unioned
    // WITHOUT dedup must reproduce the unsliced export exactly — proves
    // the slices partition (disjoint + covering); each slice is a narrow
    // pushed-down filter, the parallel-export idiom at scale.
    Q("a106_es_json_sliced_scroll",
      (s, d) => {
        val docs = Tables.documents(s, d)
        (0 until 3).map { i =>
          graft.dsl.EsQueryJson.search(docs,
            s"""{"query": {"range": {"n_chars": {"gte": 100}}},
               | "slice": {"id": $i, "max": 3, "field": "doc_id"},
               | "sort": ["doc_id"], "size": 10000}""".stripMargin)
            .select(col("doc_id"), col("n_chars"))
        }.reduce(_ unionAll _).orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars FROM documents
             |WHERE n_chars >= 100 ORDER BY doc_id""".stripMargin)),

    // ES phrase suggester, 3-token form: per-position candidates, phrase
    // score = SUM of the phrase's consecutive-bigram corpus counts (the
    // Stupid-Backoff stand-in generalized past one bigram).
    Q("a107_es_json_phrase_suggest_3tok",
      (s, d) => graft.dsl.EsQueryJson.suggest(Tables.documents(s, d),
        """{"suggest": {"p": {"text": "sprk querry tble",
          |  "phrase": {"field": "text", "size": 3, "max_edits": 2}}}}""".stripMargin),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |vocab AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM td GROUP BY term),
             |c0 AS (SELECT term FROM (
             |  SELECT term, row_number() OVER (ORDER BY doc_freq DESC, term) AS rn
             |  FROM vocab WHERE abs(length(term) - 4) <= 2 AND damerau_levenshtein(term, 'sprk') <= 2)
             |  WHERE rn <= 5),
             |c1 AS (SELECT term FROM (
             |  SELECT term, row_number() OVER (ORDER BY doc_freq DESC, term) AS rn
             |  FROM vocab WHERE abs(length(term) - 6) <= 2 AND damerau_levenshtein(term, 'querry') <= 2)
             |  WHERE rn <= 5),
             |c2 AS (SELECT term FROM (
             |  SELECT term, row_number() OVER (ORDER BY doc_freq DESC, term) AS rn
             |  FROM vocab WHERE abs(length(term) - 4) <= 2 AND damerau_levenshtein(term, 'tble') <= 2)
             |  WHERE rn <= 5),
             |bg AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
             |                i -> w[i] || ' ' || w[i+1])) AS gram FROM toks),
             |bgc AS (SELECT gram, count(*) AS bgcount FROM bg GROUP BY gram),
             |ph AS (SELECT c0.term AS t0, c1.term AS t1, c2.term AS t2
             |       FROM c0 CROSS JOIN c1 CROSS JOIN c2),
             |sc AS (SELECT t0 || ' ' || t1 || ' ' || t2 AS suggestion,
             |              coalesce(b1.bgcount, 0) + coalesce(b2.bgcount, 0) AS score
             |       FROM ph LEFT JOIN bgc b1 ON t0 || ' ' || t1 = b1.gram
             |               LEFT JOIN bgc b2 ON t1 || ' ' || t2 = b2.gram)
             |SELECT suggestion, score FROM sc
             |ORDER BY score DESC, suggestion LIMIT 3""".stripMargin)),

    // span_multi inside span_near (prefix side via the positional kernel)
    // AND standalone (wildcard over the joined-token string) — composed in
    // one bool so both forms are exercised.
    Q("a108_es_json_span_multi",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {"must": [
          |   {"span_near": {
          |      "clauses": [{"span_term": {"text": "spark"}},
          |                  {"span_multi": {"match": {"prefix": {"text": {"value": "tab"}}}}}],
          |      "slop": 3, "in_order": true}},
          |   {"span_multi": {"match": {"wildcard": {"text": {"value": "quer?"}}}}}]}},
          | "sort": ["doc_id"], "size": 1000}""".stripMargin)
        .select(col("doc_id")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), pos AS (
             |  SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w) + 1)) AS p
             |  FROM toks)
             |SELECT DISTINCT a.doc_id FROM pos a JOIN pos b ON a.doc_id = b.doc_id
             |WHERE a.term = 'spark' AND b.term LIKE 'tab%'
             |  AND b.p > a.p AND b.p - a.p - 1 <= 3
             |  AND EXISTS (SELECT 1 FROM pos c
             |              WHERE c.doc_id = a.doc_id AND c.term LIKE 'quer_')
             |ORDER BY a.doc_id LIMIT 1000""".stripMargin)),

    // diversified_sampler: the sampler agg with a per-value cap — at most
    // max_docs_per_value docs per lang enter the top-shard_size sample
    // (ES's de-bias against one dominant key).
    Q("a109_es_json_diversified_sampler",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"query": {"match": {"text": "spark"}},
          | "aggs": {"sample": {"diversified_sampler": {
          |     "shard_size": 10, "field": "lang", "max_docs_per_value": 2},
          |   "aggs": {"avg_len": {"avg": {"field": "n_chars"}}}}}}""".stripMargin)("sample"),
      Some(bm25Sql(Seq("spark"), extraCols = Seq("lang", "n_chars")) +
        """
          |SELECT count(*) AS doc_count, round(avg(n_chars), 6) AS avg_len
          |FROM (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn
          |    FROM sc WHERE score > 0)
          |  WHERE rn <= 2 ORDER BY score DESC, doc_id LIMIT 10)""".stripMargin)),

    // ES `common` terms query: df-classified terms — high-frequency terms
    // ('the', df ≈ 0.38N > cutoff 0.1) stop filtering, the low-frequency
    // term ('dup') is required. The oracle re-derives the classification
    // from the same dfs rather than hard-coding it.
    Q("a110_es_json_common_terms",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"common": {"text": {
          |   "query": "the dup", "cutoff_frequency": 0.1}}},
          | "sort": ["doc_id"], "size": 1000}""".stripMargin)
        .select(col("doc_id"), col("lang")),
      Some("""WITH toks AS (
             |  SELECT doc_id, lang,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n,
             |         CAST(sum(CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |         CAST(sum(CASE WHEN list_contains(w, 'dup') THEN 1 ELSE 0 END) AS DOUBLE) AS df1
             |  FROM toks)
             |SELECT doc_id, lang FROM toks CROSS JOIN st
             |WHERE CASE WHEN df0 > 0.1 * n AND df1 > 0.1 * n
             |       THEN (CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END
             |           + CASE WHEN list_contains(w, 'dup') THEN 1 ELSE 0 END) >= 1
             |       ELSE (CASE WHEN df0 <= 0.1 * n AND list_contains(w, 'the') THEN 1 ELSE 0 END
             |           + CASE WHEN df1 <= 0.1 * n AND list_contains(w, 'dup') THEN 1 ELSE 0 END) >= 1
             |      END
             |ORDER BY doc_id LIMIT 1000""".stripMargin)),

    // extended_stats_bucket sibling: population variance/std-dev over a
    // date_histogram's monthly revenue sums (the coordinator-side scalar).
    Q("a111_es_json_extended_stats_bucket",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "interval": "month"},
          |   "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}},
          | "st": {"extended_stats_bucket": {"buckets_path": "by_m>rev"}}}}""".stripMargin)("st"),
      Some("""WITH m AS (
             |  SELECT date_trunc('month', o_orderdate) AS mth, round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY mth)
             |SELECT count(rev) AS count, round(min(rev), 4) AS min, round(max(rev), 4) AS max,
             |       round(avg(rev), 6) AS avg, round(sum(rev), 4) AS sum,
             |       round(var_pop(rev), 6) AS variance, round(stddev_pop(rev), 6) AS std_deviation
             |FROM m""".stripMargin)),

    // geo_distance agg: ring buckets of haversine km from an origin over
    // the md5-derived coords, with a per-ring metric — the range-agg
    // machinery over a computed ring value, one conditional-agg pass.
    Q("a112_es_json_geo_distance_agg",
      (s, d) => {
        val df = graft.dsl.Geo.withDerivedCoords(
          Tables.customer(s, d), col("c_custkey"), "location")
        graft.dsl.EsQueryJson.aggregations(df,
          """{"aggs": {"rings": {"geo_distance": {
            |    "field": "location", "origin": {"lat": 0, "lon": 0}, "unit": "km",
            |    "ranges": [{"key": "near", "to": 5000},
            |               {"key": "mid", "from": 5000, "to": 10000},
            |               {"key": "far", "from": 10000}]},
            |  "aggs": {"avg_bal": {"avg": {"field": "c_acctbal"}}}}}}""".stripMargin)("rings")
      },
      // NB: derive lat/lon in a CTE first — sqlDerivedLat ends in an
      // unparenthesized `- 85.0`, so inlining it into haversine's
      // `$lat2 - $lat1` slots flips the sign of the offset.
      Some(s"""WITH p AS (
             |  SELECT c_acctbal, ${graft.dsl.Geo.sqlDerivedLat("c_custkey")} AS lat,
             |         ${graft.dsl.Geo.sqlDerivedLon("c_custkey")} AS lon
             |  FROM customer
             |), g AS (
             |  SELECT c_acctbal,
             |         ${graft.dsl.Geo.sqlHaversineKm("lat", "lon", "0.0", "0.0")} AS dkm
             |  FROM p)
             |SELECT 'near' AS key, count(CASE WHEN dkm < 5000 THEN 1 END) AS doc_count,
             |       round(avg(CASE WHEN dkm < 5000 THEN c_acctbal END), 6) AS avg_bal FROM g
             |UNION ALL
             |SELECT 'mid', count(CASE WHEN dkm >= 5000 AND dkm < 10000 THEN 1 END),
             |       round(avg(CASE WHEN dkm >= 5000 AND dkm < 10000 THEN c_acctbal END), 6) FROM g
             |UNION ALL
             |SELECT 'far', count(CASE WHEN dkm >= 10000 THEN 1 END),
             |       round(avg(CASE WHEN dkm >= 10000 THEN c_acctbal END), 6) FROM g
             |ORDER BY key""".stripMargin)),

    // children agg (parent-join agg form): sub-aggs switch scope to the
    // child docs — top child quantities by child doc_count under the
    // array-of-struct shape.
    Q("a113_es_json_children_agg",
      (s, d) => {
        val items = liItems(s, d, "item", "l_quantity")
        val df = ord(s, d).select("o_orderkey", "o_orderstatus")
          .join(items, col("o_orderkey") === col("l_orderkey"), "left").drop("l_orderkey")
        graft.dsl.EsQueryJson.aggregations(df,
          """{"aggs": {"kids": {"children": {"type": "item"},
            |  "aggs": {"qty": {"terms": {"field": "item.l_quantity", "size": 5}}}}}}""".stripMargin)("kids")
      },
      Some("""SELECT l_quantity AS key, count(*) AS doc_count FROM lineitem
             |GROUP BY key ORDER BY doc_count DESC, key LIMIT 5""".stripMargin)),

    // multi_match type:phrase — per-field phrase-frequency BM25, best
    // field wins (ES runs one phrase query per field, dis-max'd).
    Q("a114_es_json_multi_match_phrase",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"multi_match": {"query": "the data",
          |   "fields": ["text", "source"], "type": "phrase"}},
          | "sort": ["_score", "doc_id"], "size": 20}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS wt,
             |         list_filter(string_split_regex(lower(source), '\W+'), x -> x <> '') AS ws
             |  FROM documents
             |), f AS (
             |  SELECT doc_id,
             |         CAST(len(list_filter(generate_series(1, len(wt)-1),
             |                i -> wt[i] = 'the' AND wt[i+1] = 'data')) AS DOUBLE) AS pt,
             |         CAST(len(list_filter(generate_series(1, len(ws)-1),
             |                i -> ws[i] = 'the' AND ws[i+1] = 'data')) AS DOUBLE) AS ps,
             |         CAST(len(wt) AS DOUBLE) AS dlt, CAST(len(ws) AS DOUBLE) AS dls
             |  FROM t
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dlt) AS avgdlt, avg(dls) AS avgdls,
             |         CAST(sum(CASE WHEN pt > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft,
             |         CAST(sum(CASE WHEN ps > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs
             |  FROM f
             |), sc AS (
             |  SELECT doc_id,
             |         ln(1 + (n - dft + 0.5)/(dft + 0.5)) * (pt*(1.2+1))/(pt + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt)) AS ct,
             |         ln(1 + (n - dfs + 0.5)/(dfs + 0.5)) * (ps*(1.2+1))/(ps + 1.2*(1 - 0.75 + 0.75*dls/avgdls)) AS cs
             |  FROM f CROSS JOIN st
             |)
             |SELECT doc_id, round(greatest(ct, cs), 6) AS score FROM sc
             |WHERE round(greatest(ct, cs), 6) > 0
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // moving_fn (ES 6.4+): whitelisted MovingFunctions scripts over a
    // sliding bucket window that by default EXCLUDES the current bucket
    // (shift 0); shift=window gives moving_avg's trailing-inclusive frame.
    Q("a115_es_json_moving_fn",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "interval": "month"},
          |  "aggs": {"rev": {"sum": {"field": "o_totalprice"}},
          |    "prev_max": {"moving_fn": {"buckets_path": "rev", "window": 3,
          |                 "script": "MovingFunctions.max(values)"}},
          |    "trail_sd": {"moving_fn": {"buckets_path": "rev", "window": 3, "shift": 1,
          |                 "script": "MovingFunctions.stdDev(values, MovingFunctions.unweightedAvg(values))"}}}}}}""".stripMargin)("by_m"),
      Some("""WITH m AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS key,
             |         count(*) AS doc_count, round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY key)
             |SELECT key, doc_count, rev,
             |       CAST(round(max(rev) OVER (ORDER BY key ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4) AS DOUBLE) AS prev_max,
             |       CAST(round(stddev_pop(rev) OVER (ORDER BY key ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS DOUBLE) AS trail_sd
             |FROM m ORDER BY key""".stripMargin)),

    // auto_date_histogram (ES 6.1+): the engine picks the coarsest rung of
    // the day→month→year ladder that keeps the spanned bucket count ≤
    // `buckets` (orders spans ~83 months, so 100 → month), and reports the
    // chosen interval alongside the buckets.
    Q("a116_es_json_auto_date_histogram",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"auto": {"auto_date_histogram": {"field": "o_orderdate", "buckets": 100},
          |  "aggs": {"avg_price": {"avg": {"field": "o_totalprice"}}}}}}""".stripMargin)("auto"),
      Some("""WITH s AS (SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx FROM orders),
             |u AS (SELECT CASE WHEN date_diff('day', mn, mx) + 1 <= 100 THEN 'day'
             |                  WHEN (year(mx) - year(mn)) * 12 + (month(mx) - month(mn)) + 1 <= 100 THEN 'month'
             |                  ELSE 'year' END AS unit FROM s)
             |SELECT CAST(CASE (SELECT unit FROM u)
             |         WHEN 'day' THEN date_trunc('day', o_orderdate)
             |         WHEN 'month' THEN date_trunc('month', o_orderdate)
             |         ELSE date_trunc('year', o_orderdate) END AS TIMESTAMP) AS key,
             |       count(*) AS doc_count, round(avg(o_totalprice), 6) AS avg_price,
             |       CASE (SELECT unit FROM u) WHEN 'day' THEN '1d' WHEN 'month' THEN '1M' ELSE '1y' END AS interval
             |FROM orders GROUP BY key, interval ORDER BY key""".stripMargin)),

    // ip_range agg over a derived ip field: from/to buckets PLUS ES's CIDR
    // `mask` form, numeric-address compare ([[graft.dsl.Net.aton]]), with a
    // per-bucket metric — ES allows the overlap (mask ⊂ low), conditional
    // counts handle it.
    Q("a117_es_json_ip_range",
      (s, d) => {
        val df = graft.dsl.Net.withDerivedIp(Tables.customer(s, d), col("c_custkey"), "ip")
        graft.dsl.EsQueryJson.aggregations(df,
          """{"aggs": {"ips": {"ip_range": {"field": "ip",
            |    "ranges": [{"key": "low", "to": "64.0.0.0"},
            |               {"key": "mid", "from": "64.0.0.0", "to": "192.0.0.0"},
            |               {"mask": "10.0.0.0/8"},
            |               {"key": "high", "from": "192.0.0.0"}]},
            |  "aggs": {"bal": {"avg": {"field": "c_acctbal"}}}}}}""".stripMargin)("ips")
      },
      Some(s"""WITH g AS (
             |  SELECT c_acctbal,
             |         (${graft.functions.Hashing.sqlMd5Long60("'ip:' || CAST(c_custkey AS VARCHAR)")} % 4294967296) AS ipl
             |  FROM customer)
             |SELECT '10.0.0.0/8' AS key, count(CASE WHEN ipl >= 167772160 AND ipl < 184549376 THEN 1 END) AS doc_count,
             |       round(avg(CASE WHEN ipl >= 167772160 AND ipl < 184549376 THEN c_acctbal END), 6) AS bal FROM g
             |UNION ALL
             |SELECT 'high', count(CASE WHEN ipl >= 3221225472 THEN 1 END),
             |       round(avg(CASE WHEN ipl >= 3221225472 THEN c_acctbal END), 6) FROM g
             |UNION ALL
             |SELECT 'low', count(CASE WHEN ipl < 1073741824 THEN 1 END),
             |       round(avg(CASE WHEN ipl < 1073741824 THEN c_acctbal END), 6) FROM g
             |UNION ALL
             |SELECT 'mid', count(CASE WHEN ipl >= 1073741824 AND ipl < 3221225472 THEN 1 END),
             |       round(avg(CASE WHEN ipl >= 1073741824 AND ipl < 3221225472 THEN c_acctbal END), 6) FROM g
             |ORDER BY key""".stripMargin)),

    // more_like_this with FULL BM25 scoring (what ES runs; a38 is the
    // exact-integer constant-idf twin). Hash-safe despite data-dependent
    // query terms: both engines fold per-term contributions left-to-right
    // over the SAME sorted term order (Spark: sorted column sum; DuckDB:
    // list_reduce over a term-ordered list), and a zero-tf term adds an
    // exact +0.0, so the doubles match bit-for-bit.
    Q("a118_more_like_this_bm25",
      (s, d) => EsDsl.moreLikeThisBm25(Tables.documents(s, d),
        col("doc_id"), col("text"), likeId = 7L, maxQueryTerms = 5, topN = 20),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |tf0 AS (SELECT doc_id, term, count(*) AS tf FROM td GROUP BY doc_id, term),
             |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM td GROUP BY term),
             |nn AS (SELECT count(*) AS n_docs FROM documents),
             |sc0 AS (SELECT doc_id, term, round(tf * ln(n_docs*1.0/df), 6) AS tfidf
             |        FROM tf0 JOIN dfq USING (term) CROSS JOIN nn),
             |r AS (SELECT doc_id, term,
             |             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
             |      FROM sc0),
             |q AS (SELECT term FROM r WHERE doc_id = 7 AND rn <= 5),
             |dls AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM toks),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dls),
             |c AS (SELECT d.doc_id, q.term,
             |             ln(1 + (st.n - dfq.df + 0.5)/(dfq.df + 0.5))
             |               * (COALESCE(tf0.tf, 0)*(1.2+1))
             |               / (COALESCE(tf0.tf, 0) + 1.2*(1 - 0.75 + 0.75*d.dl/st.avgdl)) AS contrib
             |      FROM dls d CROSS JOIN q
             |      JOIN dfq ON dfq.term = q.term CROSS JOIN st
             |      LEFT JOIN tf0 ON tf0.doc_id = d.doc_id AND tf0.term = q.term),
             |s AS (SELECT doc_id,
             |             list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS raw
             |      FROM c GROUP BY doc_id)
             |SELECT doc_id, round(raw, 6) AS score FROM s
             |WHERE round(raw, 6) > 0 AND doc_id <> 7
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // _script sort: painless-arithmetic sort key (the classic
    // discounted-revenue ranking) compiled to a codegen'd column, 6 dp for
    // engine-stable order, dropped from the hit.
    Q("a119_es_json_script_sort",
      (s, d) => graft.dsl.EsQueryJson.search(li(s, d),
        """{"query": {"range": {"l_quantity": {"gte": 45}}},
          | "sort": [{"_script": {"type": "number", "order": "desc",
          |            "script": {"source": "doc['l_extendedprice'].value * (1 - doc['l_discount'].value)"}}},
          |          "l_orderkey", "l_linenumber"],
          | "size": 25, "_source": ["l_orderkey", "l_linenumber", "l_extendedprice"]}""".stripMargin),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |WHERE l_quantity >= 45
             |ORDER BY round(l_extendedprice * (1 - l_discount), 6) DESC, l_orderkey, l_linenumber
             |LIMIT 25""".stripMargin)),

    // `script` query (filter context): painless arithmetic/boolean over
    // doc values compiled to a codegen'd predicate — ES's escape hatch
    // when no structured query expresses the condition.
    Q("a120_es_json_script_query",
      (s, d) => graft.dsl.EsQueryJson.search(li(s, d),
        """{"query": {"bool": {"filter": [
          |    {"script": {"script": {"source":
          |      "doc['l_extendedprice'].value * (1 - doc['l_discount'].value) > 90000 && doc['l_quantity'].value >= 30"}}},
          |    {"term": {"l_returnflag": "N"}}]}},
          | "sort": ["l_orderkey", "l_linenumber"], "size": 100}""".stripMargin)
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |WHERE l_extendedprice * (1 - l_discount) > 90000 AND l_quantity >= 30
             |  AND l_returnflag = 'N'
             |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    // termvectors API: per-term tf + 0-based positions of one doc (the
    // read side of MLT term selection / span machinery).
    Q("a121_es_json_term_vectors",
      (s, d) => EsDsl.termVectors(Tables.documents(s, d),
        col("doc_id"), col("text"), docId = 7L),
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents WHERE doc_id = 7),
             |p AS (SELECT doc_id, unnest(w) AS term,
             |             unnest(generate_series(0, len(w) - 1)) AS pos
             |      FROM t)
             |SELECT doc_id, term, count(*) AS term_freq,
             |       string_agg(pos, ',' ORDER BY pos) AS positions
             |FROM p GROUP BY doc_id, term ORDER BY term""".stripMargin)),

    // multi-valued sort `mode` (ES sort over array fields): orders parent
    // docs by the MIN child quantity — the array reduces to one key per
    // doc, computed narrow and dropped from the hit.
    Q("a122_es_json_sort_mode",
      (s, d) => {
        val items = liItems(s, d, "item", "l_quantity")
        val df = ord(s, d).select("o_orderkey", "o_totalprice")
          .join(items, col("o_orderkey") === col("l_orderkey"), "inner").drop("l_orderkey")
        graft.dsl.EsQueryJson.search(df,
          """{"sort": [{"item.l_quantity": {"mode": "min", "order": "asc"}}, "o_orderkey"],
            | "size": 40}""".stripMargin)
          .select("o_orderkey", "o_totalprice")
      },
      Some("""WITH q AS (
             |  SELECT l_orderkey, min(l_quantity) AS minq FROM lineitem GROUP BY l_orderkey)
             |SELECT o_orderkey, o_totalprice FROM orders JOIN q ON o_orderkey = l_orderkey
             |ORDER BY minq ASC, o_orderkey LIMIT 40""".stripMargin)),

    // sort `missing`: "_first" flips the ES default (missing last) via
    // nulls placement; a custom substitute sorts missing docs AS that
    // value. Null keys come from the left join's childless orders.
    Q("a123_es_json_sort_missing",
      (s, d) => {
        val hi = li(s, d).filter(col("l_quantity") >= 49)
          .groupBy(col("l_orderkey")).agg(round(max(col("l_extendedprice")), 4).as("hi_price"))
        val df = ord(s, d).select("o_orderkey")
          .join(hi, col("o_orderkey") === col("l_orderkey"), "left").drop("l_orderkey")
        graft.dsl.EsQueryJson.search(df,
          """{"sort": [{"hi_price": {"order": "desc", "missing": "_first"}}, "o_orderkey"],
            | "size": 30}""".stripMargin)
      },
      Some("""WITH h AS (
             |  SELECT l_orderkey, round(max(l_extendedprice), 4) AS hi_price
             |  FROM lineitem WHERE l_quantity >= 49 GROUP BY l_orderkey)
             |SELECT o_orderkey, hi_price FROM orders LEFT JOIN h ON o_orderkey = l_orderkey
             |ORDER BY hi_price DESC NULLS FIRST, o_orderkey LIMIT 30""".stripMargin)),

    // terms `min_doc_count` > 1: rare buckets pruned BEFORE size
    // truncation (customers with at least 14 orders, count-ascending —
    // without the prune the ascending order would surface the rare tail).
    Q("a124_es_json_terms_min_doc_count",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"cust": {"terms": {"field": "o_custkey", "size": 15,
          |   "min_doc_count": 14, "order": {"_count": "asc"}}}}}""".stripMargin)("cust"),
      Some("""SELECT o_custkey AS key, count(*) AS doc_count FROM orders
             |GROUP BY key HAVING doc_count >= 14
             |ORDER BY doc_count ASC, key LIMIT 15""".stripMargin)),

    // `_msearch`: two bodies against one index in a single call; each
    // body runs unchanged and its hits carry the 0-based request index
    // (one unioned frame = ES's ordered responses array).
    Q("a125_es_json_msearch",
      (s, d) => graft.dsl.EsQueryJson.msearch(li(s, d), Seq(
        """{"query": {"term": {"l_returnflag": "R"}},
          | "sort": ["l_orderkey", "l_linenumber"], "size": 20,
          | "_source": ["l_orderkey", "l_linenumber", "l_quantity"]}""".stripMargin,
        """{"query": {"range": {"l_quantity": {"gte": 49}}},
          | "sort": ["l_orderkey", "l_linenumber"], "size": 20,
          | "_source": ["l_orderkey", "l_linenumber", "l_quantity"]}""".stripMargin))
        .orderBy("_search_idx", "l_orderkey", "l_linenumber"),
      Some("""SELECT * FROM (
             |  (SELECT l_orderkey, l_linenumber, l_quantity, CAST(0 AS BIGINT) AS _search_idx
             |   FROM lineitem WHERE l_returnflag = 'R'
             |   ORDER BY l_orderkey, l_linenumber LIMIT 20)
             |  UNION ALL
             |  (SELECT l_orderkey, l_linenumber, l_quantity, CAST(1 AS BIGINT)
             |   FROM lineitem WHERE l_quantity >= 49
             |   ORDER BY l_orderkey, l_linenumber LIMIT 20))
             |ORDER BY _search_idx, l_orderkey, l_linenumber""".stripMargin)),

    // `_rank_eval`: per-request ranking metrics over the top-10 hits —
    // precision@10, reciprocal rank of the first relevant hit, Burges
    // DCG@10. Relevance is a graded o_totalprice rating (3/2/1 above
    // 250k/200k/150k); hit lists are body-size-bounded like ES's own
    // response, so the metric pass touches ≤ k·#requests rows.
    Q("a126_es_json_rank_eval",
      (s, d) => {
        val o = ord(s, d)
        def body(pri: String) =
          s"""{"query": {"term": {"o_orderpriority": "$pri"}},
             | "sort": [{"o_totalprice": {"order": "desc"}}, "o_orderkey"],
             | "size": 10}""".stripMargin
        val rating = when(col("o_totalprice") > 250000, 3)
          .when(col("o_totalprice") > 200000, 2)
          .when(col("o_totalprice") > 150000, 1).otherwise(0)
        def rated(name: String, pri: String) =
          o.filter(col("o_orderpriority") === pri)
            .select(lit(name).as("request"), col("o_orderkey").as("doc"),
              rating.as("rating"))
            .filter(col("rating") > 0)
        graft.dsl.EsQueryJson.rankEval(o,
          Seq(
            ("urgent", body("1-URGENT"),
              Seq(col("o_totalprice").desc, col("o_orderkey").asc)),
            ("high", body("2-HIGH"),
              Seq(col("o_totalprice").desc, col("o_orderkey").asc))),
          idCol = "o_orderkey",
          ratings = rated("urgent", "1-URGENT").unionByName(rated("high", "2-HIGH")),
          k = 10)
      },
      Some("""WITH hits AS (
             |  SELECT * FROM (
             |    SELECT 'urgent' AS request, o_orderkey AS doc, o_totalprice,
             |           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rank
             |    FROM orders WHERE o_orderpriority = '1-URGENT') WHERE rank <= 10
             |  UNION ALL
             |  SELECT * FROM (
             |    SELECT 'high' AS request, o_orderkey AS doc, o_totalprice,
             |           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rank
             |    FROM orders WHERE o_orderpriority = '2-HIGH') WHERE rank <= 10),
             |r AS (SELECT request, rank,
             |             CASE WHEN o_totalprice > 250000 THEN 3
             |                  WHEN o_totalprice > 200000 THEN 2
             |                  WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS rating
             |      FROM hits)
             |SELECT request,
             |       round(sum(CASE WHEN rating > 0 THEN 1.0 ELSE 0.0 END) / 10, 6) AS "precision",
             |       round(COALESCE(max(CASE WHEN rating > 0 THEN 1.0 / rank END), 0.0), 6)
             |         AS reciprocal_rank,
             |       round(sum(CASE WHEN rating > 0
             |                 THEN (pow(2.0, rating) - 1) / log2(rank + 1.0)
             |                 ELSE 0.0 END), 6) AS dcg
             |FROM r GROUP BY request ORDER BY request""".stripMargin)),

    // `_geo_distance` sort: nearest-first over the md5-derived coords —
    // the "closest stores" ES idiom. The sort key is the 4-dp haversine
    // km; c_custkey tiebreaks to a total order. Narrow: the distance is
    // scan-side arithmetic feeding one TakeOrdered(20).
    Q("a127_es_json_geo_sort",
      (s, d) => {
        val df = graft.dsl.Geo.withDerivedCoords(
          Tables.customer(s, d), col("c_custkey"), "location")
        graft.dsl.EsQueryJson.search(df,
          """{"query": {"range": {"c_acctbal": {"gte": 0}}},
            | "sort": [{"_geo_distance": {"location": {"lat": 0, "lon": 0},
            |            "order": "asc", "unit": "km"}}, "c_custkey"],
            | "size": 20, "_source": ["c_custkey", "c_acctbal"]}""".stripMargin)
      },
      // NB: derive lat/lon in a CTE first (a112's sign-flip footgun)
      Some(s"""WITH p AS (
             |  SELECT c_custkey, c_acctbal, ${graft.dsl.Geo.sqlDerivedLat("c_custkey")} AS lat,
             |         ${graft.dsl.Geo.sqlDerivedLon("c_custkey")} AS lon
             |  FROM customer WHERE c_acctbal >= 0),
             |g AS (SELECT c_custkey, c_acctbal,
             |             ${graft.dsl.Geo.sqlHaversineKm("lat", "lon", "0.0", "0.0")} AS dkm
             |      FROM p)
             |SELECT c_custkey, c_acctbal FROM g ORDER BY dkm, c_custkey LIMIT 20""".stripMargin)),

    // function_score exp + linear decay under score_mode max: the decay
    // shapes ES ships beyond gauss, and the null-skip max combine (a
    // filtered-out function is SKIPPED, not neutral-folded). boost_mode
    // replace isolates the function math from BM25.
    Q("a128_es_json_decay_max",
      (s, d) => graft.dsl.EsQueryJson.search(ord(s, d),
        """{"query": {"function_score": {
          |   "query": {"term": {"o_orderpriority": "1-URGENT"}},
          |   "functions": [
          |     {"filter": {"range": {"o_totalprice": {"gte": 100000}}},
          |      "exp": {"o_totalprice": {"origin": 150000, "scale": 50000, "decay": 0.5}}},
          |     {"linear": {"o_totalprice": {"origin": 150000, "scale": 200000, "decay": 0.25}},
          |      "weight": 2}],
          |   "score_mode": "max", "boost_mode": "replace"}},
          | "sort": [{"_score": {}}, "o_orderkey"], "size": 25}""".stripMargin)
        .select(col("o_orderkey"), col("_score").as("fscore")),
      Some("""WITH f AS (
             |  SELECT o_orderkey,
             |         CASE WHEN o_totalprice >= 100000
             |              THEN pow(0.5, abs(o_totalprice - 150000.0) / 50000.0) END AS f1,
             |         2.0 * greatest(1.0 - (0.75 * abs(o_totalprice - 150000.0)) / 200000.0, 0.0) AS f2
             |  FROM orders WHERE o_orderpriority = '1-URGENT')
             |SELECT o_orderkey,
             |       round(CASE WHEN f1 IS NULL THEN f2 ELSE greatest(f1, f2) END, 6) AS fscore
             |FROM f ORDER BY fscore DESC, o_orderkey LIMIT 25""".stripMargin)),

    // `_mget`: fetch by id preserving REQUEST order (the ES response
    // contract) — broadcast (id, position) list, corpus never shuffles;
    // the missing id (999999999) drops out.
    Q("a129_es_json_mget",
      (s, d) => graft.dsl.EsQueryJson.mget(ord(s, d), "o_orderkey",
          Seq(32L, 1L, 999999999L, 7L, 5L))
        .select(col("o_orderkey"), col("o_totalprice"), col("_mget_idx")),
      Some("""SELECT o_orderkey, o_totalprice, _mget_idx
             |FROM orders JOIN (VALUES (CAST(32 AS BIGINT), CAST(0 AS BIGINT)),
             |                         (CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
             |                         (CAST(999999999 AS BIGINT), CAST(2 AS BIGINT)),
             |                         (CAST(7 AS BIGINT), CAST(3 AS BIGINT)),
             |                         (CAST(5 AS BIGINT), CAST(4 AS BIGINT))) v(id, _mget_idx)
             |  ON o_orderkey = v.id
             |ORDER BY _mget_idx""".stripMargin)),

    // `_count`: query-match count without hit materialization — one
    // map-side-partial scalar agg.
    Q("a130_es_json_count",
      (s, d) => graft.dsl.EsQueryJson.countApi(li(s, d),
        """{"query": {"bool": {
          |   "must": [{"term": {"l_returnflag": "R"}},
          |            {"range": {"l_quantity": {"gte": 30}}}],
          |   "must_not": [{"term": {"l_linestatus": "O"}}]}}}""".stripMargin),
      Some("""SELECT count(*) AS "count" FROM lineitem
             |WHERE l_returnflag = 'R' AND l_quantity >= 30 AND NOT l_linestatus = 'O'""".stripMargin)),

    // ES nested sort: the sort-mode reduction restricted to child docs
    // passing a nested filter — orders rank by their cheapest DISCOUNTED
    // line; orders with no discounted line get a null key and sort last.
    Q("a131_es_json_nested_sort",
      (s, d) => {
        val items = liItems(s, d, "item", "l_quantity", "l_discount")
        val df = ord(s, d).select("o_orderkey", "o_totalprice")
          .join(items, col("o_orderkey") === col("l_orderkey"), "inner").drop("l_orderkey")
        graft.dsl.EsQueryJson.search(df,
          """{"sort": [{"item.l_quantity": {"mode": "min", "order": "asc",
            |            "nested": {"path": "item",
            |              "filter": {"range": {"item.l_discount": {"gte": 0.05}}}}}},
            |           "o_orderkey"],
            | "size": 40}""".stripMargin)
          .select("o_orderkey", "o_totalprice")
      },
      Some("""WITH q AS (
             |  SELECT l_orderkey,
             |         min(CASE WHEN l_discount >= 0.05 THEN l_quantity END) AS minq
             |  FROM lineitem GROUP BY l_orderkey)
             |SELECT o_orderkey, o_totalprice FROM orders JOIN q ON o_orderkey = l_orderkey
             |ORDER BY minq ASC NULLS LAST, o_orderkey LIMIT 40""".stripMargin)),

    // terms agg on a SCRIPT value source (value_type string: painless `+`
    // concatenation → ||): buckets on a computed composite key.
    Q("a132_es_json_terms_script",
      (s, d) => graft.dsl.EsQueryJson.aggregations(li(s, d),
        """{"aggs": {"combo": {"terms": {
          |   "script": {"source": "doc['l_returnflag'].value + '_' + doc['l_linestatus'].value"},
          |   "value_type": "string", "size": 10},
          | "aggs": {"avg_qty": {"avg": {"field": "l_quantity"}}}}}}""".stripMargin)("combo"),
      Some("""SELECT l_returnflag || '_' || l_linestatus AS key, count(*) AS doc_count,
             |       round(avg(l_quantity), 6) AS avg_qty
             |FROM lineitem GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // `_search/template`: inline mustache-subset rendering ({{param}}
    // substitution from `params`), then a normal search.
    Q("a133_es_json_search_template",
      (s, d) => graft.dsl.EsQueryJson.searchTemplate(ord(s, d),
        """{"source": "{\"query\": {\"bool\": {\"must\": [{\"term\": {\"o_orderpriority\": \"{{pri}}\"}}, {\"range\": {\"o_totalprice\": {\"gte\": {{floor}}}}}]}}, \"sort\": [\"o_orderkey\"], \"size\": {{n}}, \"_source\": [\"o_orderkey\", \"o_totalprice\"]}",
          | "params": {"pri": "1-URGENT", "floor": 250000, "n": 25}}""".stripMargin),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 250000
             |ORDER BY o_orderkey LIMIT 25""".stripMargin)),

    // `_explain`-style score breakdown: per hit × query term the (tf, df,
    // idf, weight) components next to the total _score — the components
    // are the same expressions the scorer sums, so they add up exactly.
    Q("a134_es_json_explain",
      (s, d) => graft.dsl.EsQueryJson.explainMatch(
          Tables.documents(s, d), "text", "spark merge")
        .select("doc_id", "term", "tf", "df", "idf", "weight", "_score")
        .orderBy("doc_id", "term"),
      Some(bm25Sql(Seq("spark", "merge")) +
        """,
          |e AS (
          |  SELECT doc_id, dl, n, avgdl, df0, df1, tf0, tf1,
          |         round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
          |             + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1*(1.2+1))/(tf1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS _score
          |  FROM tf)
          |SELECT doc_id, term, tf, df, idf, weight, _score FROM (
          |  SELECT doc_id, 'spark' AS term, tf0 AS tf, df0 AS df,
          |         round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5)), 6) AS idf,
          |         round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS weight,
          |         _score
          |  FROM e WHERE _score > 0
          |  UNION ALL
          |  SELECT doc_id, 'merge', tf1, df1,
          |         round(ln(1 + (n - df1 + 0.5)/(df1 + 0.5)), 6),
          |         round(ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1*(1.2+1))/(tf1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6),
          |         _score
          |  FROM e WHERE _score > 0)
          |ORDER BY doc_id, term""".stripMargin)),

    // whitespace + keyword analyzers: whitespace splits on \s+ only (no
    // lowercase/punctuation strip); keyword treats the whole field as one
    // term (match degenerates to equality).
    Q("a135_es_json_analyzers",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {"must": [
          |   {"match": {"text": {"query": "spark table", "analyzer": "whitespace", "operator": "and"}}},
          |   {"match": {"lang": {"query": "en", "analyzer": "keyword"}}}]}},
          | "sort": ["doc_id"], "size": 10000, "_source": ["doc_id", "lang"]}""".stripMargin),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE len(list_intersect(string_split_regex(text, '\s+'), ['spark', 'table'])) >= 2
             |  AND lang = 'en'
             |ORDER BY doc_id""".stripMargin)),

    // multi_match type:phrase_prefix — the search-as-you-type query over
    // several fields (ES dis-maxes per field; the predicate is the OR).
    Q("a136_es_json_mm_phrase_prefix",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"multi_match": {"query": "the da", "type": "phrase_prefix",
          |   "fields": ["text", "source"]}},
          | "sort": ["doc_id"], "size": 2000, "_source": ["doc_id"]}""".stripMargin),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w,
             |         list_filter(string_split_regex(lower(source), '\W+'), x -> x <> '') AS w2
             |  FROM documents)
             |WHERE (len(w) >= 2 AND len(list_filter(generate_series(1, len(w) - 1),
             |        i -> w[i] = 'the' AND starts_with(w[i + 1], 'da'))) > 0)
             |   OR (len(w2) >= 2 AND len(list_filter(generate_series(1, len(w2) - 1),
             |        i -> w2[i] = 'the' AND starts_with(w2[i + 1], 'da'))) > 0)
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // filters agg `other_bucket`: the none-of-the-above bucket (named via
    // other_bucket_key) with the same metric sub-aggs — still ONE
    // conditional-aggregate pass.
    Q("a137_es_json_filters_other",
      (s, d) => graft.dsl.EsQueryJson.aggregations(li(s, d),
        """{"aggs": {"flags": {"filters": {
          |   "filters": {"returned": {"term": {"l_returnflag": "R"}},
          |               "accepted": {"term": {"l_returnflag": "A"}}},
          |   "other_bucket": true, "other_bucket_key": "neither"},
          | "aggs": {"avg_qty": {"avg": {"field": "l_quantity"}}}}}}""".stripMargin)("flags"),
      Some("""SELECT count(*) AS doc_count,
             |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned,
             |       round(avg(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 6) AS returned_avg_qty,
             |       CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS accepted,
             |       round(avg(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 6) AS accepted_avg_qty,
             |       CAST(sum(CASE WHEN NOT COALESCE(l_returnflag = 'R', FALSE)
             |                     AND NOT COALESCE(l_returnflag = 'A', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS neither,
             |       round(avg(CASE WHEN NOT COALESCE(l_returnflag = 'R', FALSE)
             |                      AND NOT COALESCE(l_returnflag = 'A', FALSE) THEN l_quantity END), 6) AS neither_avg_qty
             |FROM lineitem""".stripMargin)),

    // terms include as an exact-value ARRAY (the non-regex ES form).
    Q("a138_es_json_terms_include_array",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"pri": {"terms": {"field": "o_orderpriority",
          |   "include": ["1-URGENT", "2-HIGH", "3-MEDIUM"], "size": 10},
          | "aggs": {"avg_tp": {"avg": {"field": "o_totalprice"}}}}}}""".stripMargin)("pri"),
      Some("""SELECT o_orderpriority AS key, count(*) AS doc_count,
             |       round(avg(o_totalprice), 6) AS avg_tp
             |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
             |GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // `post_filter`: the faceted-navigation idiom — the hit list honors
    // the selected facet while the body's aggregations keep the full
    // query scope (the scope split is asserted in EsQueryJsonSpec; the
    // oracle checks the narrowed hit list).
    Q("a139_es_json_post_filter",
      (s, d) => graft.dsl.EsQueryJson.search(ord(s, d),
        """{"query": {"range": {"o_totalprice": {"gte": 100000}}},
          | "post_filter": {"term": {"o_orderstatus": "F"}},
          | "sort": [{"o_totalprice": {"order": "desc"}}, "o_orderkey"], "size": 30,
          | "_source": ["o_orderkey", "o_orderstatus", "o_totalprice"]}""".stripMargin),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_totalprice >= 100000 AND o_orderstatus = 'F'
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 30""".stripMargin)),

    // span_within: the little-span-side view of span_containing — docs
    // where a "value" occurrence sits inside a "key ... row" span.
    Q("a140_es_json_span_within",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"span_within": {
          |   "big": {"span_near": {"clauses": [
          |     {"span_term": {"text": "key"}}, {"span_term": {"text": "row"}}],
          |     "slop": 3, "in_order": true}},
          |   "little": {"span_term": {"text": "value"}}}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select(col("doc_id")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), pos AS (
             |  SELECT doc_id, unnest(w) AS term, unnest(range(1, len(w) + 1)) AS p
             |  FROM toks)
             |SELECT DISTINCT a.doc_id
             |FROM pos a JOIN pos b ON a.doc_id = b.doc_id JOIN pos c ON a.doc_id = c.doc_id
             |WHERE a.term = 'key' AND b.term = 'row' AND b.p > a.p AND b.p - a.p - 1 <= 3
             |  AND c.term = 'value' AND c.p >= a.p AND c.p <= b.p
             |ORDER BY a.doc_id LIMIT 2000""".stripMargin)),

    // _delete_by_query: anti-filter over the search predicate translator;
    // per-priority survivor counts keep the oracle frame bounded.
    Q("a141_es_json_delete_by_query",
      (s, d) => graft.dsl.EsQueryJson.deleteByQuery(ord(s, d),
        """{"query": {"bool": {
          |  "must": [{"term": {"o_orderstatus": "F"}},
          |           {"range": {"o_totalprice": {"gte": 150000}}}]}}}""".stripMargin)
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("remaining"))
        .orderBy("pri"),
      Some("""SELECT o_orderpriority AS pri, count(*) AS remaining FROM orders
             |WHERE NOT (o_orderstatus = 'F' AND o_totalprice >= 150000)
             |GROUP BY pri ORDER BY pri""".stripMargin)),

    // _update_by_query: painless assignment applied to matching docs only,
    // one codegen'd conditional column — non-matching rows pass through.
    Q("a142_es_json_update_by_query",
      (s, d) => graft.dsl.EsQueryJson.updateByQuery(ord(s, d),
        """{"query": {"term": {"o_orderstatus": "O"}},
          | "script": {"source": "ctx._source.o_totalprice = ctx._source.o_totalprice * 1.1"}}""".stripMargin)
        .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
        .limit(200),
      Some("""SELECT o_orderkey,
             |       round(CASE WHEN o_orderstatus = 'O'
             |                  THEN o_totalprice * 1.1 ELSE o_totalprice END, 4) AS o_totalprice
             |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin)),

    // nested + inner_hits: per parent hit, the matching CHILD docs
    // (sorted within the parent, size-capped) explode into rows — the
    // fan-out happens after parent pagination, all per-parent work in
    // narrow HOFs. l_linenumber tie-breaks the child sort to a total
    // order so both engines rank ties identically.
    Q("a143_es_json_inner_hits",
      (s, d) => {
        val items = liItems(s, d, "items", "l_quantity", "l_discount",
          "l_linenumber")
        val joined = ord(s, d).select("o_orderkey", "o_orderstatus")
          .join(items, col("o_orderkey") === col("l_orderkey"))
        graft.dsl.EsQueryJson.search(joined,
          """{"query": {"nested": {"path": "items",
            |  "query": {"range": {"items.l_quantity": {"gte": 48}}},
            |  "inner_hits": {"size": 2, "sort": [
            |    {"items.l_quantity": {"order": "desc"}}, "items.l_linenumber"]}}},
            | "sort": ["o_orderkey"], "size": 300}""".stripMargin)
          .select(col("o_orderkey"),
            col("_inner.l_quantity").as("iq"),
            col("_inner.l_linenumber").as("iln"))
      },
      Some("""WITH m AS (
             |  SELECT l_orderkey, l_quantity, l_linenumber,
             |         row_number() OVER (PARTITION BY l_orderkey
             |                            ORDER BY l_quantity DESC, l_linenumber) AS rn
             |  FROM lineitem WHERE l_quantity >= 48),
             |p AS (SELECT DISTINCT l_orderkey FROM m),
             |top AS (SELECT o_orderkey FROM orders JOIN p ON o_orderkey = l_orderkey
             |        ORDER BY o_orderkey LIMIT 300)
             |SELECT t.o_orderkey, m.l_quantity AS iq, m.l_linenumber AS iln
             |FROM top t JOIN m ON m.l_orderkey = t.o_orderkey
             |WHERE m.rn <= 2
             |ORDER BY t.o_orderkey, iln""".stripMargin)),

    // `_analyze` API: the standard-analyzer token stream with 0-based
    // positions and ES token types (<NUM> vs <ALPHANUM>). Narrow pass.
    Q("a144_es_json_analyze",
      (s, d) => EsDsl.analyzeApi(
        Tables.documents(s, d).filter(col("doc_id") < 8),
        col("doc_id"), col("text"), analyzer = "standard")
        .orderBy("doc_id", "position"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents WHERE doc_id < 8)
             |SELECT doc_id, i - 1 AS position, w[i] AS token,
             |       CASE WHEN regexp_matches(w[i], '^[0-9]+$') THEN '<NUM>'
             |            ELSE '<ALPHANUM>' END AS token_type
             |FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM toks)
             |ORDER BY doc_id, position""".stripMargin)),

    // `terminate_after`: per-shard collection cap over the deterministic
    // hash slices (shard = md5·60(id) mod shards), with the ES
    // terminated_early flag per shard.
    Q("a145_es_json_terminate_after",
      (s, d) => EsDsl.terminateAfter(
        Tables.documents(s, d).select("doc_id", "lang"),
        col("doc_id"), n = 20, shards = 4)
        .select("doc_id", "lang", "shard", "terminated_early")
        .orderBy("shard", "doc_id"),
      Some(s"""WITH s AS (
             |  SELECT doc_id, lang,
             |         CAST(${graft.functions.Hashing.sqlMd5Long60("CAST(doc_id AS VARCHAR)")} % 4 AS INT) AS shard
             |  FROM documents),
             |r AS (SELECT doc_id, lang, shard,
             |             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rk,
             |             count(*) OVER (PARTITION BY shard) AS cnt
             |      FROM s)
             |SELECT doc_id, lang, shard, cnt > 20 AS terminated_early
             |FROM r WHERE rk <= 20 ORDER BY shard, doc_id""".stripMargin)),

    // term suggester `suggest_mode: popular` — only corrections strictly
    // more document-frequent than the input term (the did-you-mean gate
    // for typo'd-but-present terms).
    Q("a146_es_json_suggest_popular",
      (s, d) => graft.dsl.EsQueryJson.suggest(Tables.documents(s, d),
        """{"suggest": {"fix": {"text": "tabel spark",
          |  "term": {"field": "text", "size": 3, "max_edits": 2,
          |           "suggest_mode": "popular"}}}}""".stripMargin)
        .orderBy("token", "rank"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |vocab AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM td GROUP BY term),
             |inp AS (SELECT unnest(['tabel','spark']) AS token),
             |indf AS (SELECT token, COALESCE(max(doc_freq), 0) AS in_df
             |         FROM inp LEFT JOIN vocab ON term = token GROUP BY token),
             |cand AS (
             |  SELECT i.token, term, damerau_levenshtein(term, i.token) AS distance, doc_freq
             |  FROM vocab CROSS JOIN inp i JOIN indf ON indf.token = i.token
             |  WHERE abs(length(term) - length(i.token)) <= 2 AND term <> i.token
             |    AND damerau_levenshtein(term, i.token) <= 2
             |    AND doc_freq > in_df),
             |r AS (SELECT token, term, distance, doc_freq,
             |        row_number() OVER (PARTITION BY token
             |          ORDER BY doc_freq DESC, distance, term) AS rank
             |      FROM cand)
             |SELECT token, rank, term AS suggestion, distance, doc_freq
             |FROM r WHERE rank <= 3 ORDER BY token, rank""".stripMargin)),

    // `_field_caps` API: per-field type + searchable/aggregatable from the
    // mapping. Schema reflection — zero data scanned at any corpus size.
    Q("a147_es_json_field_caps",
      (s, d) => graft.dsl.EsQueryJson.fieldCaps(Tables.documents(s, d)),
      Some("""SELECT column_name AS field,
             |       CASE data_type WHEN 'BIGINT' THEN 'long'
             |                      WHEN 'INTEGER' THEN 'integer'
             |                      WHEN 'DOUBLE' THEN 'double'
             |                      WHEN 'FLOAT' THEN 'float'
             |                      WHEN 'BOOLEAN' THEN 'boolean'
             |                      WHEN 'VARCHAR' THEN 'text'
             |                      ELSE lower(data_type) END AS es_type,
             |       true AS searchable,
             |       data_type <> 'VARCHAR' AS aggregatable
             |FROM information_schema.columns WHERE table_name = 'documents'
             |ORDER BY field""".stripMargin)),

    // Metric agg with a `script` instead of a field: the painless subset
    // compiles to one codegen'd expression under the aggregate — here the
    // net-revenue avg/sum per return flag.
    Q("a148_es_json_metric_script",
      (s, d) => graft.dsl.EsQueryJson.aggregations(li(s, d),
        """{"aggs": {"flags": {"terms": {"field": "l_returnflag", "size": 10},
          | "aggs": {
          |   "net_avg": {"avg": {"script":
          |     "doc['l_extendedprice'].value * (1 - doc['l_discount'].value)"}},
          |   "net_sum": {"sum": {"script":
          |     "doc['l_extendedprice'].value * (1 - doc['l_discount'].value)"}}}}}}""".stripMargin)("flags"),
      Some("""SELECT l_returnflag AS key, count(*) AS doc_count,
             |       round(avg(l_extendedprice * (1 - l_discount)), 6) AS net_avg,
             |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS net_sum
             |FROM lineitem GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // Stored scripts (`PUT _scripts/{id}`): a filter-context script query
    // and a metric-agg script both resolve `{"id": ...}` through the
    // registry; the compiled plans are identical to their inline twins.
    Q("a149_es_json_stored_script",
      (s, d) => graft.dsl.EsQueryJson.withScripts(
        "big_order" -> "doc['o_totalprice'].value > 200000",
        "half_price" -> "doc['o_totalprice'].value / 2") {
        val hits = graft.dsl.EsQueryJson.search(ord(s, d),
          """{"query": {"bool": {"filter": [
            |   {"script": {"script": {"id": "big_order"}}}]}},
            | "sort": ["o_orderkey"], "size": 40,
            | "_source": ["o_orderkey", "o_totalprice"]}""".stripMargin)
        val agg = graft.dsl.EsQueryJson.aggregations(ord(s, d),
          """{"query": {"script": {"script": {"id": "big_order"}}},
            | "aggs": {"h": {"avg": {"script": {"id": "half_price"}}}}}""".stripMargin)("h")
        hits.crossJoin(agg.select(col("value").as("half_avg")))
      },
      Some("""WITH big AS (SELECT * FROM orders WHERE o_totalprice > 200000),
             |a AS (SELECT round(avg(o_totalprice / 2), 6) AS half_avg FROM big)
             |SELECT o_orderkey, o_totalprice, half_avg
             |FROM (SELECT o_orderkey, o_totalprice FROM big
             |      ORDER BY o_orderkey LIMIT 40) CROSS JOIN a""".stripMargin)),

    // collapse + inner_hits: one representative per customer (top by
    // totalprice) with that customer's 2 earliest orders exploded as
    // inner hits — rank, collect, and collapse windows share ONE exchange
    // on the collapse key; the fan-out happens after parent pagination.
    Q("a150_es_json_collapse_inner_hits",
      (s, d) => graft.dsl.EsQueryJson.search(ord(s, d),
        """{"collapse": {"field": "o_custkey", "inner_hits": {
          |   "size": 2, "sort": ["o_orderdate", "o_orderkey"],
          |   "_source": ["o_orderkey", "o_orderdate"]}},
          | "sort": [{"o_totalprice": {"order": "desc"}}, "o_orderkey"],
          | "size": 30}""".stripMargin)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("_inner.o_orderkey").as("i_orderkey"),
          col("_inner.o_orderdate").as("i_orderdate"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"), col("i_orderkey")),
      Some("""WITH r AS (
             |  SELECT *, row_number() OVER (PARTITION BY o_custkey
             |              ORDER BY o_totalprice DESC, o_orderkey) AS crn
             |  FROM orders),
             |p AS (SELECT o_orderkey, o_custkey, o_totalprice FROM r WHERE crn = 1
             |      ORDER BY o_totalprice DESC, o_orderkey LIMIT 30),
             |i AS (SELECT o_custkey, o_orderkey AS i_orderkey, o_orderdate AS i_orderdate,
             |             row_number() OVER (PARTITION BY o_custkey
             |               ORDER BY o_orderdate, o_orderkey) AS irn
             |      FROM orders)
             |SELECT p.o_orderkey, p.o_custkey, p.o_totalprice, i_orderkey, i_orderdate
             |FROM p JOIN i USING (o_custkey) WHERE irn <= 2
             |ORDER BY p.o_totalprice DESC, p.o_orderkey, i_orderkey""".stripMargin)),

    // minimum_should_match percentage form: "50%" of 4 should clauses
    // (ES rounds down) — at least 2 must hold.
    Q("a151_es_json_msm_percent",
      (s, d) => graft.dsl.EsQueryJson.search(ord(s, d),
        """{"query": {"bool": {"should": [
          |   {"term": {"o_orderstatus": "F"}},
          |   {"term": {"o_orderpriority": "1-URGENT"}},
          |   {"range": {"o_totalprice": {"gte": 100000}}},
          |   {"range": {"o_orderdate": {"lt": "1995-01-01"}}}],
          |  "minimum_should_match": "50%"}},
          | "sort": ["o_orderkey"], "size": 200, "_source": ["o_orderkey"]}""".stripMargin),
      Some("""SELECT o_orderkey FROM orders
             |WHERE (CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END +
             |       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END +
             |       CASE WHEN o_totalprice >= 100000 THEN 1 ELSE 0 END +
             |       CASE WHEN o_orderdate < DATE '1995-01-01' THEN 1 ELSE 0 END) >= 2
             |ORDER BY o_orderkey LIMIT 200""".stripMargin)),

    // zero_terms_query: a stopword-only english-analyzed match with
    // "all" degenerates to match_all (ES semantics); "none"/unset covered
    // by spec (none = empty result, unset = loud rejection).
    Q("a152_es_json_zero_terms",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": {"query": "the of and",
          |  "analyzer": "english", "zero_terms_query": "all"}}},
          | "sort": ["doc_id"], "size": 100, "_source": ["doc_id", "lang"]}""".stripMargin),
      Some("""SELECT doc_id, lang FROM documents ORDER BY doc_id LIMIT 100""")),

    // fuzzy prefix_length: candidates must share the first p chars before
    // the edit-distance test (the ES automaton-pruning option).
    Q("a153_es_json_fuzzy_prefix",
      (s, d) => graft.dsl.EsQueryJson.search(ord(s, d),
        """{"query": {"fuzzy": {"o_orderpriority":
          |  {"value": "2-HIGHH", "fuzziness": 1, "prefix_length": 2}}},
          | "sort": ["o_orderkey"], "size": 100, "_source": ["o_orderkey", "o_orderpriority"]}""".stripMargin),
      Some("""SELECT o_orderkey, o_orderpriority FROM orders
             |WHERE substr(o_orderpriority, 1, 2) = '2-'
             |  AND damerau_levenshtein(o_orderpriority, '2-HIGHH') <= 1
             |ORDER BY o_orderkey LIMIT 100""".stripMargin)),

    // fuzzy `transpositions` (ES 6.5 default TRUE): a swapped adjacent
    // pair is ONE Damerau edit — "2-HGIH" matches "2-HIGH" at fuzziness 1
    // where classic Levenshtein needs 2. Oracle mirrors DuckDB's
    // damerau_levenshtein (the same true-DL variant as the kernel).
    Q("a155_es_json_fuzzy_transpositions",
      (s, d) => graft.dsl.EsQueryJson.search(ord(s, d),
        """{"query": {"fuzzy": {"o_orderpriority":
          |  {"value": "2-HGIH", "fuzziness": 1}}},
          | "sort": ["o_orderkey"], "size": 100, "_source": ["o_orderkey", "o_orderpriority"]}""".stripMargin),
      Some("""SELECT o_orderkey, o_orderpriority FROM orders
             |WHERE damerau_levenshtein(o_orderpriority, '2-HGIH') <= 1
             |ORDER BY o_orderkey LIMIT 100""".stripMargin)),

    // synonym token filter (search-time expansion): the query term
    // "rapid" appears nowhere in the corpus — every hit matches ONLY via
    // the registered synonym class {rapid, quick, spark}. msm counts
    // original term positions ("rapid zebra" operator:and needs both).
    Q("a156_es_json_synonym",
      (s, d) => graft.dsl.EsQueryJson.withSynonyms("syn",
        Seq("rapid, quick, spark")) {
        graft.dsl.EsQueryJson.search(Tables.documents(s, d),
          """{"query": {"match": {"text": {"query": "rapid", "analyzer": "syn"}}},
            | "sort": ["doc_id"], "size": 10000, "_source": ["doc_id", "lang"]}""".stripMargin)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, lang,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |SELECT doc_id, lang FROM t
             |WHERE len(list_intersect(w, ['rapid', 'quick', 'spark'])) > 0
             |ORDER BY doc_id""".stripMargin)),

    // date_histogram `time_zone`: day buckets aligned to LOCAL midnight in
    // a +05:30 zone (keys are the UTC instants of local bucket starts —
    // 18:30 UTC of the prior day), metric sub-agg rides along unaffected.
    // Fixed-offset zone keeps the oracle pure interval arithmetic (the
    // sandbox DuckDB has no ICU tz database).
    Q("a157_es_json_date_histogram_tz",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.events(s, d),
        """{"aggs": {"h": {"date_histogram": {"field": "ts",
          |   "calendar_interval": "day", "time_zone": "+05:30"},
          |  "aggs": {"v": {"sum": {"field": "value"}}}}}}""".stripMargin)("h"),
      Some("""SELECT date_trunc('day', ts + INTERVAL 330 MINUTE) - INTERVAL 330 MINUTE AS key,
             |       count(*) AS doc_count, round(sum(value), 4) AS v
             |FROM events GROUP BY key ORDER BY key""".stripMargin)),

    // `cjk` analyzer against a DuckDB oracle: the driver tables carry no
    // CJK text, so both engines derive the SAME synthetic fixture from
    // md5 (the ip/geo fixture pattern) — per doc a 3-char Han run + a
    // 2-char run drawn from an 8-char alphabet, every third doc prefixed
    // "spark ". The engine analyzes query and field through the real cjk
    // path (latin words + overlapping CJK bigrams); the oracle KNOWS the
    // fixture structure, so it reproduces the bigram-match predicate
    // positionally ("数据" hits iff chars (0,1) or (1,2) of the run are
    // 数,据 — never the isolated unigram), `operator: and` requiring the
    // latin term too.
    Q("a169_es_json_match_cjk",
      (s, d) => {
        val cs = Seq("数", "据", "处", "理", "引", "擎", "查", "询")
        val arr = array(cs.map(lit): _*)
        def ch(i: Int) = element_at(arr,
          (pmod(Hashing.md5Long60(concat(lit(s"cjk:$i:"), col("doc_id"))), lit(8)) + 1).cast("int"))
        val fix = Tables.documents(s, d).filter(col("doc_id") < 300)
          .select(col("doc_id"),
            concat(when(col("doc_id") % 3 === 0, lit("spark ")).otherwise(lit("")),
              ch(0), ch(1), ch(2), lit(" "), ch(3), ch(4)).as("text"))
        graft.dsl.EsQueryJson.search(fix,
          """{"query": {"match": {"text": {"query": "spark 数据",
            |   "analyzer": "cjk", "operator": "and"}}},
            | "sort": ["doc_id"], "size": 10000, "_source": ["doc_id"]}""".stripMargin)
      },
      Some({
        def ch(i: Int) =
          s"['数','据','处','理','引','擎','查','询'][CAST(${Hashing.sqlMd5Long60(s"'cjk:$i:' || doc_id")} % 8 + 1 AS INT)]"
        s"""WITH fx AS (
           |  SELECT doc_id, ${ch(0)} AS c0, ${ch(1)} AS c1, ${ch(2)} AS c2,
           |         ${ch(3)} AS c3, ${ch(4)} AS c4
           |  FROM documents WHERE doc_id < 300)
           |SELECT doc_id FROM fx
           |WHERE doc_id % 3 = 0
           |  AND ((c0 = '数' AND c1 = '据') OR (c1 = '数' AND c2 = '据')
           |       OR (c3 = '数' AND c4 = '据'))
           |ORDER BY doc_id""".stripMargin
      })),

    // date_histogram with a NAMED DST zone: day buckets in
    // America/New_York across both 2024 US transitions (spring-forward
    // Mar 10 = a 23-hour bucket, fall-back Nov 3 = 25 hours). Spark uses
    // its full tz database; the sandbox DuckDB has no ICU, so the oracle
    // pins the EST/EDT offsets analytically: instants before
    // 2024-03-10T07:00Z and from 2024-11-03T06:00Z are UTC-5, between
    // they are UTC-4, and a local day's midnight instant uses the offset
    // in effect AT that midnight (Mar 10 00:00 local is still EST; Nov 3
    // 00:00 local is still EDT). No fixed offset reproduces these keys.
    Q("a168_es_json_date_histogram_dst",
      (s, d) => {
        val fix = Tables.orders(s, d).select(col("o_orderkey").as("id"),
          when(col("o_orderkey") % 2 === 0,
            expr("timestamp'2024-03-09 00:30:00' + make_interval(0, 0, 0, 0, cast(o_orderkey % 96 as int), 0, 0)"))
          .otherwise(
            expr("timestamp'2024-11-01 00:30:00' + make_interval(0, 0, 0, 0, cast(o_orderkey % 96 as int), 0, 0)")).as("ts"),
          (col("o_orderkey") % 10).cast("double").as("value"))
        graft.dsl.EsQueryJson.aggregations(fix,
          """{"aggs": {"h": {"date_histogram": {"field": "ts",
            |   "calendar_interval": "day", "time_zone": "America/New_York"},
            |  "aggs": {"v": {"sum": {"field": "value"}}}}}}""".stripMargin)("h")
      },
      Some("""WITH fix AS (
             |  SELECT CASE WHEN o_orderkey % 2 = 0
             |           THEN TIMESTAMP '2024-03-09 00:30:00' + to_hours(o_orderkey % 96)
             |           ELSE TIMESTAMP '2024-11-01 00:30:00' + to_hours(o_orderkey % 96) END AS ts,
             |         CAST(o_orderkey % 10 AS DOUBLE) AS value
             |  FROM orders),
             |z AS (SELECT *,
             |        CASE WHEN ts < TIMESTAMP '2024-03-10 07:00:00' THEN 300
             |             WHEN ts < TIMESTAMP '2024-11-03 06:00:00' THEN 240
             |             ELSE 300 END AS off_min FROM fix),
             |l AS (SELECT *, date_trunc('day', ts - to_minutes(off_min)) AS local_day FROM z)
             |SELECT local_day + to_minutes(
             |         CASE WHEN local_day <= TIMESTAMP '2024-03-10 00:00:00' THEN 300
             |              WHEN local_day <= TIMESTAMP '2024-11-03 00:00:00' THEN 240
             |              ELSE 300 END) AS key,
             |       count(*) AS doc_count, round(sum(value), 4) AS v
             |FROM l GROUP BY key ORDER BY key""".stripMargin)),

    // completion suggester, fuzzy + contexts: the typo'd prefix "sprk"
    // still completes to spark-ish vocabulary (some term prefix within 1
    // Damerau edit, first char exact), and the `lang` context restricts
    // the dictionary to en docs — weights become in-context frequencies.
    Q("a158_es_json_completion_fuzzy_ctx",
      (s, d) => graft.dsl.EsQueryJson.suggest(Tables.documents(s, d),
        """{"suggest": {"c": {"prefix": "sprk",
          |  "completion": {"field": "text", "size": 5,
          |    "fuzzy": {"fuzziness": 1, "prefix_length": 1},
          |    "contexts": {"lang": ["en"]}}}}}""".stripMargin),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents WHERE lang = 'en'
             |), td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |vocab AS (SELECT term, count(*) AS weight FROM td GROUP BY term)
             |SELECT term AS suggestion, weight FROM vocab
             |WHERE substr(term, 1, 1) = 's'
             |  AND least(damerau_levenshtein(substr(term, 1, 3), 'sprk'),
             |            damerau_levenshtein(substr(term, 1, 4), 'sprk'),
             |            damerau_levenshtein(substr(term, 1, 5), 'sprk')) <= 1
             |ORDER BY weight DESC, suggestion LIMIT 5""".stripMargin)),

    // highlight options: number_of_fragments 2 (one window per distinct
    // term position, position order — ES's default fragment order),
    // fragment_size 40, custom pre/post tags. Fragments stringify
    // '||'-joined per the array-output convention.
    Q("a159_es_json_highlight_fragments",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": "spark query"}},
          | "highlight": {"pre_tags": ["["], "post_tags": ["]"],
          |   "fields": {"text": {"fragment_size": 40, "number_of_fragments": 2}}},
          | "sort": ["doc_id"], "size": 50}""".stripMargin)
        .select(col("doc_id"), concat_ws("||", col("_highlight")).as("fragments")),
      Some("""WITH t AS (
             |  SELECT doc_id, lower(text) AS l,
             |         string_split_regex(lower(text), '\W+') AS tw
             |  FROM documents
             |), p AS (
             |  SELECT doc_id, l,
             |         (list_sort(list_distinct(list_filter(
             |            [strpos(l, 'spark'), strpos(l, 'query')], x -> x > 0))))[1:2] AS hits
             |  FROM t
             |  WHERE list_contains(tw, 'spark') OR list_contains(tw, 'query')
             |)
             |SELECT doc_id,
             |       array_to_string(list_transform(hits, x ->
             |         replace(replace(substr(l, greatest(x - 30, 1), 40),
             |                 'spark', '[spark]'), 'query', '[query]')), '||') AS fragments
             |FROM p ORDER BY doc_id LIMIT 50""".stripMargin)),

    // shingle token filter: the analyzer tokenizes into word bigrams, so
    // the query's two shingles ("the data" / "data merge") are the term
    // clauses; msm=2 needs BOTH shingles in the doc (both engines count
    // DISTINCT matched shingles — array_intersect/list_intersect dedup).
    Q("a160_es_json_shingle",
      (s, d) => graft.dsl.EsQueryJson.withShingles("sh2") {
        graft.dsl.EsQueryJson.search(Tables.documents(s, d),
          """{"query": {"match": {"text": {"query": "the data merge",
            |  "analyzer": "sh2", "minimum_should_match": 2}}},
            | "sort": ["doc_id"], "size": 10000, "_source": ["doc_id", "source"]}""".stripMargin)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), b AS (
             |  SELECT doc_id, source,
             |         list_distinct(list_transform(generate_series(1, len(w) - 1),
             |           i -> w[i] || ' ' || w[i + 1])) AS bg
             |  FROM t)
             |SELECT doc_id, source FROM b
             |WHERE len(list_intersect(bg, ['the data', 'data merge'])) >= 2
             |ORDER BY doc_id""".stripMargin)),

    // match `fuzziness`: per-TERM AUTO edit budgets (both typo'd terms are
    // 4 chars -> 1 Damerau edit each), msm=2 = both clauses; a clause
    // matches when SOME doc token is within budget.
    Q("a161_es_json_match_fuzziness",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": {"query": "sprk tble",
          |  "fuzziness": "AUTO", "minimum_should_match": 2}}},
          | "sort": ["doc_id"], "size": 10000, "_source": ["doc_id", "source"]}""".stripMargin),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |SELECT doc_id, source FROM t
             |WHERE len(list_filter(w, x -> damerau_levenshtein(x, 'sprk') <= 1)) > 0
             |  AND len(list_filter(w, x -> damerau_levenshtein(x, 'tble') <= 1)) > 0
             |ORDER BY doc_id""".stripMargin)),

    // match_phrase `slop`: 3-term sloppy window, ≤1 slop (at slop ≤1 Lucene admits no out-of-order arrangement, so the in-order oracle form is exact)
    // (kernel DP side; the oracle is the postings-list formulation — the
    // a44 span_near pattern generalized to three position lists).
    Q("a162_es_json_phrase_slop",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match_phrase": {"text": {"query": "the data merge", "slop": 1}}},
          | "sort": ["doc_id"], "size": 10000, "_source": ["doc_id", "source"]}""".stripMargin),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), tok AS (
             |  SELECT doc_id, unnest(w) AS tk,
             |         unnest(generate_series(1, len(w))) AS pos
             |  FROM t),
             |p1 AS (SELECT doc_id, pos FROM tok WHERE tk = 'the'),
             |p2 AS (SELECT doc_id, pos FROM tok WHERE tk = 'data'),
             |p3 AS (SELECT doc_id, pos FROM tok WHERE tk = 'merge'),
             |m AS (SELECT DISTINCT a.doc_id
             |      FROM p1 a JOIN p2 b ON b.doc_id = a.doc_id AND b.pos > a.pos
             |                JOIN p3 c ON c.doc_id = a.doc_id AND c.pos > b.pos
             |      WHERE (c.pos - a.pos) - 2 <= 1)
             |SELECT t.doc_id, t.source FROM t JOIN m ON m.doc_id = t.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // query_string phrase proximity `"spark merge"~3`: the Lucene quoted
    // NEAR suffix — SloppyPhraseScorer semantics: shifted positions
    // (pos − query offset) must span ≤ 3, so "merge" up to 2 positions
    // BEFORE "spark" also matches (out-of-order costs the transposition).
    Q("a163_es_json_qs_proximity",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"query_string": {
          |   "query": "\"spark merge\"~3", "default_field": "text"}},
          | "sort": ["doc_id"], "size": 10000, "_source": ["doc_id", "source"]}""".stripMargin),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), tok AS (
             |  SELECT doc_id, unnest(w) AS tk,
             |         unnest(generate_series(1, len(w))) AS pos
             |  FROM t),
             |p1 AS (SELECT doc_id, pos FROM tok WHERE tk = 'spark'),
             |p2 AS (SELECT doc_id, pos FROM tok WHERE tk = 'merge'),
             |m AS (SELECT DISTINCT a.doc_id
             |      FROM p1 a JOIN p2 b ON b.doc_id = a.doc_id
             |      WHERE abs((b.pos - 1) - a.pos) <= 3)
             |SELECT t.doc_id, t.source FROM t JOIN m ON m.doc_id = t.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // match_phrase slop with an OUT-OF-ORDER match: "merge data" at slop 2
    // hits docs where the terms appear transposed ("data merge" adjacent:
    // shifts span exactly 2 = the transposition cost) — rows the in-order
    // window form provably rejects. Oracle = the same shifted-span
    // predicate over positions.
    Q("a170_es_json_phrase_slop_transposed",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match_phrase": {"text": {"query": "merge data", "slop": 2}}},
          | "sort": ["doc_id"], "size": 10000, "_source": ["doc_id", "source"]}""".stripMargin),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents
             |), tok AS (
             |  SELECT doc_id, unnest(w) AS tk,
             |         unnest(generate_series(1, len(w))) AS pos
             |  FROM t),
             |p1 AS (SELECT doc_id, pos FROM tok WHERE tk = 'merge'),
             |p2 AS (SELECT doc_id, pos FROM tok WHERE tk = 'data'),
             |m AS (SELECT DISTINCT a.doc_id
             |      FROM p1 a JOIN p2 b ON b.doc_id = a.doc_id
             |      WHERE abs((b.pos - 1) - a.pos) <= 2)
             |SELECT t.doc_id, t.source FROM t JOIN m ON m.doc_id = t.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // INDEX-TIME synonym scoring: the synonym filter lives in the FIELD's
    // index analyzer (the ES mapping workflow, search_analyzer standard),
    // so df/tf/field-length all reflect the expanded token stream — docs
    // containing only "fast"/"rapid" score on the query term "quick", and
    // every expanded doc's length inflates by its member count (Lucene
    // counts stacked tokens). Search-time-only expansion (a156's path)
    // provably scores differently: it cannot give those docs a "quick" tf
    // at all. Oracle recomputes BM25 over the SAME expanded stream.
    Q("a171_es_json_index_time_synonyms",
      (s, d) => graft.dsl.EsQueryJson.withSynonyms("syn", Seq("quick, fast, rapid")) {
        graft.dsl.EsQueryJson.withIndexAnalyzer("text", "syn") {
          graft.dsl.EsQueryJson.search(Tables.documents(s, d),
            """{"query": {"match": {"text": "quick"}},
              | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
            .select(col("doc_id"), col("_score").as("score"))
        }
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         flatten(list_transform(
             |           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''),
             |           tk -> CASE WHEN tk IN ('quick','fast','rapid')
             |                      THEN ['quick','fast','rapid'] ELSE [tk] END)) AS toks
             |  FROM documents),
             |t2 AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM t),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |              CAST(sum(CASE WHEN list_contains(toks, 'quick') THEN 1 ELSE 0 END) AS DOUBLE) AS df0
             |       FROM t2),
             |tf AS (SELECT doc_id, dl, n, avgdl, df0,
             |              CAST(len(list_filter(toks, x -> x = 'quick')) AS DOUBLE) AS tf0
             |       FROM t2 CROSS JOIN st),
             |sc AS (SELECT doc_id,
             |              round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5))
             |                    * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS score
             |       FROM tf WHERE tf0 > 0)
             |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // multi_match `fuzziness`: the typo'd term fuzzy-matches in ANY of the
    // two fields (per-field clause OR, per-term AUTO budget).
    Q("a164_es_json_multi_match_fuzzy",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"multi_match": {"query": "sprk",
          |  "fields": ["text", "source"], "fuzziness": "AUTO"}},
          | "sort": ["doc_id"], "size": 10000, "_source": ["doc_id", "source"]}""".stripMargin),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS wt,
             |         list_filter(string_split_regex(lower(source), '\W+'), x -> x <> '') AS ws
             |  FROM documents)
             |SELECT doc_id, source FROM t
             |WHERE len(list_filter(wt, x -> damerau_levenshtein(x, 'sprk') <= 1)) > 0
             |   OR len(list_filter(ws, x -> damerau_levenshtein(x, 'sprk') <= 1)) > 0
             |ORDER BY doc_id""".stripMargin)),

    // `_rank_eval` API: precision@k / MRR / DCG@k / NDCG@k over hash-
    // deterministic synthetic runs + graded judgments (both engines build
    // the identical fixture from `part` via md5, the geo/ip pattern).
    Q("a165_es_json_rank_eval",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // query 4 retrieves fewer than k hits (9 candidate docs, partkeys 0–8) — the
        // Precision denominator must be the retrieved count, not k
        val qs = (1 to 4).foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
          (acc, i) =>
            val base = Tables.part(s, d).select(col("p_partkey"), lit(i).as("query_id"))
            val one = if (i == 4) base.filter(col("p_partkey") <= 8) else base
            Some(acc.map(_.unionAll(one)).getOrElse(one))
        }.get
        val rkHash = graft.functions.Hashing.md5Long60(
          concat(lit("rk:"), col("query_id"), lit(":"), col("p_partkey")))
        val hits = qs.withColumn("rank", row_number().over(
            Window.partitionBy("query_id").orderBy(rkHash, col("p_partkey"))))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("p_partkey").as("doc_id"), col("rank"))
        val judgments = qs.filter(col("p_partkey") % 7 === 0)
          .select(col("query_id"), col("p_partkey").as("doc_id"),
            pmod(graft.functions.Hashing.md5Long60(
              concat(lit("g:"), col("query_id"), lit(":"), col("p_partkey"))),
              lit(4L)).cast("int").as("grade"))
        graft.dsl.RankEval.rankEval(hits, judgments, k = 10).orderBy("query_id")
      },
      Some(s"""WITH qs AS (SELECT unnest([1, 2, 3, 4]) AS query_id),
             |px AS (SELECT query_id, p_partkey FROM part CROSS JOIN qs
             |       WHERE query_id <= 3 OR p_partkey <= 8),
             |hits AS (
             |  SELECT query_id, p_partkey AS doc_id,
             |         row_number() OVER (PARTITION BY query_id ORDER BY
             |           ${Hashing.sqlMd5Long60("'rk:' || query_id || ':' || p_partkey")},
             |           p_partkey) AS rank
             |  FROM px),
             |hk AS (SELECT * FROM hits WHERE rank <= 10),
             |jd AS (SELECT query_id, p_partkey AS doc_id,
             |              CAST(${Hashing.sqlMd5Long60("'g:' || query_id || ':' || p_partkey")} % 4 AS INT) AS grade
             |       FROM px WHERE p_partkey % 7 = 0),
             |tk AS (SELECT h.query_id, h.rank, COALESCE(j.grade, 0) AS grade
             |       FROM hk h LEFT JOIN jd j
             |         ON j.query_id = h.query_id AND j.doc_id = h.doc_id),
             |pq AS (SELECT query_id,
             |              round(sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS precision_k,
             |              round(COALESCE(1.0 / min(CASE WHEN grade > 0 THEN rank END), 0.0), 6) AS mrr,
             |              round(sum((pow(2.0, grade) - 1.0) / log2(rank + 1.0)), 6) AS dcg_k
             |       FROM tk GROUP BY query_id),
             |ideal AS (SELECT query_id,
             |                 round(sum((pow(2.0, grade) - 1.0) / log2(ir + 1.0)), 6) AS idcg_k
             |          FROM (SELECT query_id, grade,
             |                       row_number() OVER (PARTITION BY query_id
             |                         ORDER BY grade DESC, doc_id) AS ir
             |                FROM jd WHERE grade > 0)
             |          WHERE ir <= 10 GROUP BY query_id)
             |SELECT pq.query_id, precision_k, mrr, dcg_k,
             |       CASE WHEN idcg_k IS NULL OR idcg_k = 0 THEN 0.0
             |            ELSE round(dcg_k / idcg_k, 6) END AS ndcg_k
             |FROM pq LEFT JOIN ideal ON ideal.query_id = pq.query_id
             |ORDER BY pq.query_id""".stripMargin)),

    // `_analyze` through a REGISTERED synonym analyzer: expansion members
    // ride the original token's position; added members are type SYNONYM,
    // `data => information` REPLACES (no original row).
    Q("a166_es_json_analyze_synonym",
      (s, d) => graft.dsl.EsQueryJson.withSynonyms("syn",
        Seq("merge, upsert", "data => information")) {
        graft.dsl.EsQueryJson.analyzeApi(
          Tables.documents(s, d).filter(col("doc_id") < 8),
          col("doc_id"), col("text"), "syn")
          .orderBy("doc_id", "position", "token")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents WHERE doc_id < 8),
             |p AS (SELECT doc_id, i - 1 AS position, w[i] AS tok
             |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM toks)),
             |e AS (SELECT doc_id, position, tok,
             |             unnest(CASE tok WHEN 'merge' THEN ['merge', 'upsert']
             |                             WHEN 'upsert' THEN ['merge', 'upsert']
             |                             WHEN 'data' THEN ['information']
             |                             ELSE [tok] END) AS token
             |      FROM p)
             |SELECT doc_id, position, token,
             |       CASE WHEN token = tok THEN 'word' ELSE 'SYNONYM' END AS token_type
             |FROM e ORDER BY doc_id, position, token""".stripMargin)),

    // `_analyze` through a REGISTERED shingle analyzer: positional word
    // bigrams, position = starting token index.
    Q("a167_es_json_analyze_shingle",
      (s, d) => graft.dsl.EsQueryJson.withShingles("sh2") {
        graft.dsl.EsQueryJson.analyzeApi(
          Tables.documents(s, d).filter(col("doc_id") < 8),
          col("doc_id"), col("text"), "sh2")
          .orderBy("doc_id", "position")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents WHERE doc_id < 8)
             |SELECT doc_id, i - 1 AS position, w[i] || ' ' || w[i + 1] AS token,
             |       'shingle' AS token_type
             |FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
             |      FROM toks WHERE len(w) >= 2)
             |ORDER BY doc_id, position""".stripMargin)),

    // extended_stats `sigma`: the ±kσ std_deviation_bounds columns
    // (population moments, 6 dp both engines).
    Q("a154_es_json_extended_stats_sigma",
      (s, d) => graft.dsl.EsQueryJson.aggregations(li(s, d),
        """{"aggs": {"q": {"terms": {"field": "l_returnflag", "size": 5},
          | "aggs": {"es": {"extended_stats": {"field": "l_quantity", "sigma": 3}}}}}}""".stripMargin)("q"),
      Some("""SELECT l_returnflag AS key, count(*) AS doc_count,
             |       count(l_quantity) AS es_count,
             |       round(min(l_quantity), 4) AS es_min,
             |       round(max(l_quantity), 4) AS es_max,
             |       round(sum(l_quantity), 4) AS es_sum,
             |       round(avg(l_quantity), 6) AS es_avg,
             |       round(var_pop(l_quantity), 6) AS es_variance,
             |       round(stddev_pop(l_quantity), 6) AS es_std_deviation,
             |       round(avg(l_quantity) + 3 * stddev_pop(l_quantity), 6) AS es_upper,
             |       round(avg(l_quantity) - 3 * stddev_pop(l_quantity), 6) AS es_lower
             |FROM lineitem GROUP BY key ORDER BY doc_count DESC, key LIMIT 5""".stripMargin)),

    // `track_scores`: sort by a FIELD but still compute the per-hit BM25
    // _score (the ES contract — scoring is forced without changing the
    // order). doc_id order proves the score column rides along rather
    // than drives the sort.
    Q("a172_es_json_track_scores",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": "spark"}},
          | "track_scores": true,
          | "sort": ["doc_id"], "_source": ["doc_id"], "size": 60}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some(bm25Sql(Seq("spark")) +
        """
          |SELECT doc_id, score FROM sc WHERE score > 0
          |ORDER BY doc_id LIMIT 60""".stripMargin)),

    // `docvalue_fields`: per-hit values rendered from doc values —
    // `epoch_millis` for the timestamp, raw passthrough for the double —
    // as `_dv` columns next to a minimal `_source` projection.
    Q("a173_es_json_docvalue_fields",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.events(s, d),
        """{"query": {"range": {"value": {"gte": 9}}},
          | "docvalue_fields": [{"field": "ts", "format": "epoch_millis"}, "value"],
          | "sort": ["event_id"], "_source": ["event_id"], "size": 50}""".stripMargin),
      Some("""SELECT event_id, epoch_ms(ts) AS ts_dv, value AS value_dv
             |FROM events WHERE value >= 9
             |ORDER BY event_id LIMIT 50""".stripMargin)),

    // `stored_fields` + `_source: false`: the explicit field-return list
    // IS the hit projection — the ES fields-only response shape.
    Q("a174_es_json_stored_fields",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"term": {"source": "src2"}},
          | "stored_fields": ["doc_id", "lang"], "_source": false,
          | "sort": ["doc_id"], "size": 40}""".stripMargin),
      Some("""SELECT doc_id, lang FROM documents WHERE source = 'src2'
             |ORDER BY doc_id LIMIT 40""".stripMargin)),

    // `highlight_query`: hits selected by one query (match "spark"),
    // fragments built from a DIFFERENT one (match "data") — the ES idiom
    // for synonym/rescore-aware highlighting. Docs without the highlight
    // term keep a null fragment.
    Q("a175_es_json_highlight_query",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": "spark"}},
          | "highlight": {"fields": {"text": {
          |    "highlight_query": {"match": {"text": "data"}}}}},
          | "sort": ["doc_id"], "_source": ["doc_id"], "size": 40}""".stripMargin),
      Some("""WITH t AS (
             |  SELECT doc_id, lower(text) AS lt,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |m AS (SELECT doc_id, lt, strpos(lt, 'data') AS pos
             |      FROM t WHERE list_contains(w, 'spark'))
             |SELECT doc_id,
             |       CASE WHEN pos > 0 THEN replace(substr(lt, greatest(pos - 30, 1), 100),
             |                                      'data', '<em>data</em>') END AS _highlight
             |FROM m ORDER BY doc_id LIMIT 40""".stripMargin)),

    // `_mtermvectors`: [[EsDsl.termVectors]] for a batch of ids in one
    // call — one narrow pass, the id set pushed into the scan.
    Q("a176_es_json_mtermvectors",
      (s, d) => EsDsl.mTermVectors(Tables.documents(s, d),
        col("doc_id"), col("text"), Seq(3L, 7L, 11L)),
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents WHERE doc_id IN (3, 7, 11)),
             |p AS (SELECT doc_id, unnest(w) AS term,
             |             unnest(generate_series(0, len(w) - 1)) AS pos
             |      FROM t)
             |SELECT doc_id, term, count(*) AS term_freq,
             |       string_agg(pos, ',' ORDER BY pos) AS positions
             |FROM p GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin)),

    // `field_masking_span`: a span over an annotation layer (`tags`, a
    // position-parallel token stream derived from the text — the
    // NER/stem-subfield pattern) masked into the text's position space
    // and combined with a text span in one span_near. "spark" within
    // slop 2 of an entity-tagged token, either order.
    Q("a177_es_json_field_masking_span",
      (s, d) => {
        val docs = Tables.documents(s, d).withColumn("tags",
          array_join(transform(graft.ext.TextAnalysis.tokens(col("text")),
            t => when(t.isin("data", "merge"), lit("ent")).otherwise(lit("w"))), " "))
        graft.dsl.EsQueryJson.search(docs,
          """{"query": {"span_near": {"clauses": [
            |    {"span_term": {"text": "spark"}},
            |    {"field_masking_span": {"query": {"span_term": {"tags": "ent"}}, "field": "text"}}],
            |  "slop": 2, "in_order": false}},
            | "sort": ["doc_id"], "size": 10000, "_source": ["doc_id"]}""".stripMargin)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |SELECT doc_id FROM t
             |WHERE len(list_filter(generate_series(1, len(w)), i ->
             |        w[i] = 'spark' AND len(list_filter(generate_series(1, len(w)), j ->
             |          (w[j] = 'data' OR w[j] = 'merge') AND
             |          ((j > i AND j - i - 1 <= 2) OR j = i OR (i > j AND i - j - 1 <= 2)))) > 0)) > 0
             |ORDER BY doc_id""".stripMargin)),

    // `_reindex`: filtered + script-transformed copy of a source index
    // into a standing destination, source winning id conflicts (the
    // default op_type). One narrow source scan + one id-keyed anti join.
    Q("a178_es_json_reindex",
      (s, d) => {
        val cols = Seq("doc_id", "lang", "source", "n_chars").map(col)
        val src = Tables.documents(s, d).select(cols: _*)
        val dst = Tables.documents(s, d).filter(col("source") === "src1").select(cols: _*)
        graft.dsl.EsQueryJson.reindex(src, dst,
          """{"source": {"query": {"term": {"lang": "en"}}},
            | "script": {"source": "ctx._source.n_chars = ctx._source.n_chars + 1000"}}""".stripMargin,
          idField = "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH src AS (
             |  SELECT doc_id, lang, source, n_chars + 1000 AS n_chars
             |  FROM documents WHERE lang = 'en'),
             |dst AS (SELECT doc_id, lang, source, n_chars FROM documents WHERE source = 'src1')
             |SELECT * FROM dst WHERE doc_id NOT IN (SELECT doc_id FROM src)
             |UNION ALL SELECT * FROM src
             |ORDER BY doc_id""".stripMargin)),

    // `indices_boost`: one scored search over a two-index frame (rows
    // tagged `_index`), each index's hits scale by its boost before the
    // score sort — BM25 stats come from the union, so they equal the
    // single-table stats (the indices partition the corpus).
    Q("a179_es_json_indices_boost",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val union = docs.filter(col("lang") === "en").withColumn("_index", lit("docs_en"))
          .unionByName(docs.filter(col("lang") =!= "en").withColumn("_index", lit("docs_rest")))
        graft.dsl.EsQueryJson.search(union,
          """{"query": {"match": {"text": "vector"}},
            | "indices_boost": [{"docs_en": 2.0}, {"docs_rest": 0.5}],
            | "sort": ["_score", "doc_id"], "size": 30,
            | "_source": ["doc_id", "lang"]}""".stripMargin)
          .select(col("doc_id"), col("lang"), col("_score").as("score"))
      },
      Some(bm25Sql(Seq("vector"), extraCols = Seq("lang")) +
        """
          |SELECT doc_id, lang,
          |       round(score * CASE WHEN lang = 'en' THEN 2.0 ELSE 0.5 END, 6) AS score
          |FROM sc WHERE score > 0
          |ORDER BY score DESC, doc_id LIMIT 30""".stripMargin)),

    // `pattern` analyzer: the regex splits (separators, not tokens),
    // lowercase by default — run over the events `props` JSON strings,
    // where \W+ splitting yields the key/value token stream.
    Q("a180_es_json_analyze_pattern",
      (s, d) => EsDsl.analyzeApi(Tables.events(s, d).filter(col("event_id") < 8),
        col("event_id"), col("props"), "pattern")
        .orderBy("doc_id", "position"),
      Some("""WITH t AS (
             |  SELECT event_id AS doc_id,
             |         list_filter(string_split_regex(lower(props), '\W+'), x -> x <> '') AS w
             |  FROM events WHERE event_id < 8)
             |SELECT doc_id, unnest(generate_series(0, len(w) - 1)) AS position,
             |       unnest(w) AS token, 'word' AS token_type
             |FROM t ORDER BY doc_id, position""".stripMargin)),

    // `stop` analyzer: lowercase (letters-only) tokenizer + english stop
    // filter, position increments across removed stopwords preserved
    // (the english-analyzer convention).
    Q("a181_es_json_analyze_stop",
      (s, d) => EsDsl.analyzeApi(Tables.documents(s, d).filter(col("doc_id") < 6),
        col("doc_id"), col("text"), "stop")
        .orderBy("doc_id", "position"),
      Some {
        val stops = graft.functions.TextKernels.englishStopwordList
          .map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH t AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS w
           |  FROM documents WHERE doc_id < 6),
           |p AS (SELECT doc_id, unnest(generate_series(0, len(w) - 1)) AS position,
           |             unnest(w) AS token FROM t)
           |SELECT doc_id, position, token, 'word' AS token_type
           |FROM p WHERE NOT list_contains($stops, token)
           |ORDER BY doc_id, position""".stripMargin
      }),

    // `html_strip` char filter ahead of the standard tokenizer: script
    // blocks vanish wholly, tags become spaces, entities decode (&amp;
    // LAST — no double-decode), then the usual token stream. The html
    // fixture wraps each doc's text with markup + an anchor + a script.
    Q("a182_es_json_analyze_html_strip",
      (s, d) => {
        val fix = Tables.documents(s, d).filter(col("doc_id") < 6)
          .select(col("doc_id"),
            concat(lit("<p>"), col("text"), lit("</p> <a href=\"http://h\">"),
              when(col("doc_id") % 2 === 0, lit("nav menu home")).otherwise(lit("read more")),
              lit("</a> &amp; <script>var x = 1;</script>")).as("html"))
        EsDsl.analyzeApi(fix, col("doc_id"), col("html"), "standard", htmlStrip = true)
          .orderBy("doc_id", "position")
      },
      Some("""WITH fx AS (
             |  SELECT doc_id, '<p>' || text || '</p> <a href="http://h">' ||
             |         CASE WHEN doc_id % 2 = 0 THEN 'nav menu home' ELSE 'read more' END ||
             |         '</a> &amp; <script>var x = 1;</script>' AS html
             |  FROM documents WHERE doc_id < 6),
             |st AS (
             |  SELECT doc_id,
             |         replace(replace(replace(replace(replace(
             |           regexp_replace(regexp_replace(regexp_replace(html,
             |             '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |             '<[^>]*>', ' ', 'g'),
             |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '), '&amp;', '&') AS txt
             |  FROM fx),
             |t AS (SELECT doc_id, list_filter(string_split_regex(lower(txt), '\W+'), x -> x <> '') AS w
             |      FROM st),
             |p AS (SELECT doc_id, unnest(generate_series(0, len(w) - 1)) AS position,
             |             unnest(w) AS token FROM t)
             |SELECT doc_id, position, token,
             |       CASE WHEN regexp_full_match(token, '[0-9]+') THEN '<NUM>' ELSE '<ALPHANUM>' END AS token_type
             |FROM p ORDER BY doc_id, position""".stripMargin)),

    // `.keyword` multi-field: ES's default text mapping adds an
    // un-analyzed keyword sub-field — match on the base field is
    // ANALYZED (token 'big' hits 'big data' AND 'data big'), term on
    // `.keyword` is WHOLE-STRING (excludes exactly 'data big'). Same
    // column, two access paths.
    Q("a183_es_json_keyword_subfield",
      (s, d) => {
        val cats = array(lit("big data"), lit("data big"), lit("small data"))
        val fix = Tables.documents(s, d).select(col("doc_id"),
          element_at(cats, (col("doc_id") % 3 + 1).cast("int")).as("category"))
        graft.dsl.EsQueryJson.search(fix,
          """{"query": {"bool": {
            |   "must": [{"match": {"category": "big"}}],
            |   "must_not": [{"term": {"category.keyword": "data big"}}]}},
            | "sort": ["doc_id"], "size": 60}""".stripMargin)
      },
      Some("""WITH fx AS (
             |  SELECT doc_id,
             |         ['big data','data big','small data'][CAST(doc_id % 3 + 1 AS INT)] AS category
             |  FROM documents)
             |SELECT doc_id, category FROM fx
             |WHERE list_contains(list_filter(string_split_regex(lower(category), '\W+'), x -> x <> ''), 'big')
             |  AND category <> 'data big'
             |ORDER BY doc_id LIMIT 60""".stripMargin)),

    // significant_terms `background_filter`: the background becomes a
    // TAILORED slice (src1∪src2) instead of the whole index — "which
    // languages are over-represented in src1 vs its peer group", the ES
    // baseline-narrowing form. Scores shift vs the whole-index baseline.
    Q("a184_es_json_sig_terms_bg_filter",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"query": {"term": {"source": "src1"}},
          | "aggs": {"sig": {"significant_terms": {"field": "lang", "size": 5,
          |    "min_doc_count": 1,
          |    "background_filter": {"terms": {"source": ["src1", "src2"]}}}}}}""".stripMargin)("sig"),
      Some("""WITH fg AS (SELECT lang AS key, count(*) AS fg FROM documents
             |           WHERE source = 'src1' GROUP BY 1),
             |bgt AS (SELECT lang AS key, count(*) AS bg FROM documents
             |        WHERE source IN ('src1', 'src2') GROUP BY 1),
             |tot AS (SELECT (SELECT count(*) FROM documents WHERE source = 'src1') AS tot_fg,
             |               (SELECT count(*) FROM documents WHERE source IN ('src1', 'src2')) AS tot_bg)
             |SELECT key, fg, bg, round((fg * 1.0 / tot_fg) / (bg * 1.0 / tot_bg), 6) AS score
             |FROM fg JOIN bgt USING (key) CROSS JOIN tot
             |WHERE fg >= 1 ORDER BY score DESC, key LIMIT 5""".stripMargin)),

    // composite `missing_bucket: true`: docs with a null source value
    // form an explicit null-keyed bucket ordered FIRST ascending; the
    // default EXCLUDES them (the ES 6.5 contract — made explicit in the
    // engine with a null filter, since Spark's groupBy would otherwise
    // keep a null group silently).
    Q("a185_es_json_composite_missing_bucket",
      (s, d) => {
        val fix = Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 5 === 0, lit(null: String))
            .otherwise(col("source")).as("src2"),
          col("lang"))
        graft.dsl.EsQueryJson.aggregations(fix,
          """{"aggs": {"c": {"composite": {"size": 30, "sources": [
            |   {"src": {"terms": {"field": "src2", "missing_bucket": true}}},
            |   {"lg": {"terms": {"field": "lang"}}}]}}}}""".stripMargin)("c")
      },
      Some("""WITH fx AS (
             |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN NULL ELSE source END AS src,
             |         lang AS lg
             |  FROM documents)
             |SELECT src, lg, count(*) AS doc_count FROM fx
             |GROUP BY src, lg
             |ORDER BY src ASC NULLS FIRST, lg ASC LIMIT 30""".stripMargin)),

    // multi_match per-field `^boost` ("text^2" vs "source"): each field's
    // BM25 raw scales by its boost BEFORE the best_fields max — the ES
    // title-weighting idiom. Same corpus pass as the unboosted form.
    Q("a186_es_json_multi_match_field_boost",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"multi_match": {"query": "spark web",
          |   "fields": ["text^2", "source"]}},
          | "sort": ["_score", "doc_id"], "size": 20}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS wt,
             |         list_filter(string_split_regex(lower(source), '\W+'), x -> x <> '') AS ws
             |  FROM documents
             |), f AS (
             |  SELECT doc_id, wt, ws,
             |         CAST(len(list_filter(wt, x -> x = 'spark')) AS DOUBLE) AS t0,
             |         CAST(len(list_filter(wt, x -> x = 'web')) AS DOUBLE) AS t1,
             |         CAST(len(list_filter(ws, x -> x = 'spark')) AS DOUBLE) AS s0,
             |         CAST(len(list_filter(ws, x -> x = 'web')) AS DOUBLE) AS s1,
             |         CAST(len(wt) AS DOUBLE) AS dlt, CAST(len(ws) AS DOUBLE) AS dls
             |  FROM t
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dlt) AS avgdlt, avg(dls) AS avgdls,
             |         CAST(sum(CASE WHEN t0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft0,
             |         CAST(sum(CASE WHEN t1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dft1,
             |         CAST(sum(CASE WHEN s0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs0,
             |         CAST(sum(CASE WHEN s1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfs1
             |  FROM f
             |), sc AS (
             |  SELECT doc_id, wt, ws,
             |         (ln(1 + (n - dft0 + 0.5)/(dft0 + 0.5)) * (t0*(1.2+1))/(t0 + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt))
             |        + ln(1 + (n - dft1 + 0.5)/(dft1 + 0.5)) * (t1*(1.2+1))/(t1 + 1.2*(1 - 0.75 + 0.75*dlt/avgdlt))) * 2.0 AS sct,
             |         ln(1 + (n - dfs0 + 0.5)/(dfs0 + 0.5)) * (s0*(1.2+1))/(s0 + 1.2*(1 - 0.75 + 0.75*dls/avgdls))
             |       + ln(1 + (n - dfs1 + 0.5)/(dfs1 + 0.5)) * (s1*(1.2+1))/(s1 + 1.2*(1 - 0.75 + 0.75*dls/avgdls)) AS scs
             |  FROM f CROSS JOIN st
             |)
             |SELECT doc_id, round(greatest(sct, scs), 6) AS score FROM sc
             |WHERE list_contains(wt, 'spark') OR list_contains(wt, 'web')
             |   OR list_contains(ws, 'spark') OR list_contains(ws, 'web')
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // terms agg `show_term_doc_count_error`: the ES distributed top-k
    // contract made explicit — 3 md5-hash shards each report their local
    // top-5 sources (shard_size), the coordinator sums reported counts,
    // and the per-term error bound is the sum of the cutoff counts of
    // shards that did NOT report the term (0 from a shard that returned
    // its full list). 20 sources vs shard_size 5 forces real truncation,
    // so the bounds are non-trivial and oracle-checked exactly.
    Q("a187_es_json_terms_doc_count_error",
      (s, d) => EsDsl.termsAggWithError(Tables.documents(s, d),
        col("source"), col("doc_id"), size = 8, shardSize = 5, shards = 3),
      Some(
        s"""WITH sh AS (
           |  SELECT source AS key,
           |         ${graft.functions.Hashing.sqlMd5Long60("CAST(doc_id AS VARCHAR)")} % 3 AS shard
           |  FROM documents),
           |pc AS (SELECT shard, key, count(*) AS cnt FROM sh GROUP BY 1, 2),
           |rep AS (SELECT * FROM (
           |          SELECT *, row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, key) AS rk
           |          FROM pc) WHERE rk <= 5),
           |cut AS (SELECT shard, CASE WHEN count(*) < 5 THEN 0 ELSE min(cnt) END AS cut
           |        FROM rep GROUP BY shard),
           |comb AS (SELECT key, CAST(sum(cnt) AS BIGINT) AS doc_count FROM rep GROUP BY key)
           |SELECT comb.key, comb.doc_count,
           |       CAST(COALESCE((SELECT sum(cut.cut) FROM cut WHERE cut.shard NOT IN
           |          (SELECT shard FROM rep WHERE rep.key = comb.key)), 0) AS BIGINT)
           |         AS doc_count_error_upper_bound
           |FROM comb
           |ORDER BY doc_count DESC, key LIMIT 8""".stripMargin)),

    // multi-FIELD highlight: each field gets its own fragments column
    // (the relational shape of ES's per-field fragments map) — `text`
    // highlighted by the body query, `lang` by its own highlight_query.
    Q("a188_es_json_highlight_multi_field",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": "spark"}},
          | "highlight": {"fields": {
          |    "text": {},
          |    "lang": {"highlight_query": {"match": {"lang": "en"}}}}},
          | "sort": ["doc_id"], "_source": ["doc_id"], "size": 40}""".stripMargin),
      Some("""WITH t AS (
             |  SELECT doc_id, lower(text) AS lt, lang,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |m AS (SELECT doc_id, lt, lang,
             |             strpos(lt, 'spark') AS pt, strpos(lower(lang), 'en') AS pl
             |      FROM t WHERE list_contains(w, 'spark'))
             |SELECT doc_id,
             |       CASE WHEN pt > 0 THEN replace(substr(lt, greatest(pt - 30, 1), 100),
             |                                     'spark', '<em>spark</em>') END AS _highlight_text,
             |       CASE WHEN pl > 0 THEN replace(substr(lower(lang), greatest(pl - 30, 1), 100),
             |                                     'en', '<em>en</em>') END AS _highlight_lang
             |FROM m ORDER BY doc_id LIMIT 40""".stripMargin)),

    // ES 6.5 DEFAULT search mode query_then_fetch: BM25 stats are
    // SHARD-LOCAL (each md5-shard scores with its own N/df/avgdl), so
    // ranks differ from the global-stats dfs_query_then_fetch form every
    // other scored row models — the documented small-index score skew,
    // made exact. 4 shards over sf-sized documents gives visibly
    // different per-shard idf.
    Q("a189_es_json_query_then_fetch",
      (s, d) => EsDsl.matchBm25QueryThenFetch(Tables.documents(s, d),
          col("doc_id"), col("text"), Seq("spark", "web"), shards = 4)
        .select(col("doc_id"), col("shard"), col("score"))
        .orderBy(desc("score"), col("doc_id")).limit(20),
      Some(s"""WITH t AS (
           |  SELECT doc_id,
           |         ${Hashing.sqlMd5Long60("CAST(doc_id AS VARCHAR)")} % 4 AS shard,
           |         list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, shard,
           |         CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
           |         CAST(len(list_filter(w, x -> x = 'web')) AS DOUBLE) AS tf1,
           |         CAST(len(w) AS DOUBLE) AS dl
           |  FROM t),
           |st AS (
           |  SELECT shard, CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
           |         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
           |         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
           |  FROM f GROUP BY shard),
           |sc AS (
           |  SELECT f.doc_id, CAST(f.shard AS INT) AS shard,
           |         round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
           |             + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1*(1.2+1))/(tf1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS score
           |  FROM f JOIN st ON f.shard = st.shard)
           |SELECT doc_id, shard, score FROM sc WHERE score > 0
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // Custom routing: docs route to md5(source) mod 4; a search with
    // routing=src3 queries ONLY that shard — and returns docs from OTHER
    // sources that hash-collide onto it (ES's "routing is not a filter"
    // contract: it narrows the shards searched, the query still filters
    // within the shard). The match keeps the row honest: routing + query
    // compose, neither subsumes the other.
    Q("a190_es_json_routing",
      (s, d) => Tables.documents(s, d)
        .filter(EsDsl.routedTo(col("source"), "src3", shards = 4))
        .filter(EsDsl.matchQuery(col("text"), Seq("data")))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id").limit(50),
      Some(s"""SELECT doc_id, source FROM documents
           |WHERE ${Hashing.sqlMd5Long60("CAST(source AS VARCHAR)")} % 4 =
           |      ${Hashing.sqlMd5Long60("'src3'")} % 4
           |  AND list_contains(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> ''), 'data')
           |ORDER BY doc_id LIMIT 50""".stripMargin)),

    // terms agg on a TEXT field (mapping fielddata:true): buckets are the
    // ANALYZED tokens, one vote per doc per distinct token; the metric
    // sub-agg (avg n_chars) aggregates each containing doc once — the
    // "what does a doc mentioning X look like" slice ES 6.5 only allows
    // with fielddata enabled in the mapping.
    Q("a191_es_json_fielddata_terms",
      (s, d) => EsDsl.fielddataTermsAgg(Tables.documents(s, d),
        col("text"), col("n_chars"), metricName = "avg_chars", size = 12),
      Some("""WITH toks AS (
             |  SELECT n_chars,
             |         list_distinct(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS w
             |  FROM documents),
             |e AS (SELECT unnest(w) AS key, n_chars FROM toks)
             |SELECT key, count(*) AS doc_count, round(avg(n_chars), 6) AS avg_chars
             |FROM e GROUP BY key ORDER BY doc_count DESC, key LIMIT 12""".stripMargin)),

    // ES `copy_to` mapping: fields copied into a combined field at index
    // time; a match on the combined field scores with the COMBINED
    // tf/df/field-length (the "search-all" field ES users build with
    // copy_to; distinct from multi_match, which scores per-field and
    // combines). Here text+source copy into one stream, so "src3" — a
    // value of a keyword field — becomes full-text-searchable alongside
    // body terms, with BM25 stats of the merged stream.
    Q("a192_es_json_copy_to",
      (s, d) => EsDsl.matchBm25(Tables.documents(s, d),
          concat_ws(" ", col("text"), col("source")), Seq("spark", "src3"))
        .select(col("doc_id"), col("_score").as("score"))
        .orderBy(desc("score"), col("doc_id")).limit(20),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text || ' ' || source), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |f AS (
             |  SELECT doc_id,
             |         CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
             |         CAST(len(list_filter(w, x -> x = 'src3')) AS DOUBLE) AS tf1,
             |         CAST(len(w) AS DOUBLE) AS dl
             |  FROM t),
             |st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
             |  FROM f),
             |sc AS (
             |  SELECT doc_id,
             |         round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |             + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1*(1.2+1))/(tf1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS score
             |  FROM f CROSS JOIN st)
             |SELECT doc_id, score FROM sc WHERE score > 0
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // ES filtered ALIAS: the alias's filter conjoins with every request
    // against it — the query AND the aggregation scope (ES installs it on
    // the alias's reader). Search a src3-only alias with a range query +
    // terms agg: both see only alias docs.
    Q("a193_es_json_filtered_alias",
      (s, d) => graft.dsl.EsQueryJson.aggregations(
        graft.dsl.EsQueryJson.filteredAlias(Tables.documents(s, d),
          """{"term": {"source": "src3"}}"""),
        """{"query": {"range": {"n_chars": {"gte": 200}}},
          | "aggs": {"by_lang": {"terms": {"field": "lang", "size": 10},
          |   "aggs": {"avg_len": {"avg": {"field": "n_chars"}}}}}}""".stripMargin)("by_lang"),
      Some("""SELECT lang AS key, count(*) AS doc_count, round(avg(n_chars), 6) AS avg_len
             |FROM documents
             |WHERE source = 'src3' AND n_chars >= 200
             |GROUP BY lang ORDER BY doc_count DESC, lang LIMIT 10""".stripMargin)),

    // ES _bulk — the reference's CORE operation (its observer batches
    // HBase mutations into bulk index/delete items): NDJSON parse + the
    // per-item response. Fixture classes per id: delete / index /
    // update(merge) / create-on-existing (conflict, ES 409) /
    // create-new / update-missing (ES 404).
    Q("a194_es_json_bulk_items",
      (s, d) => EsBulkFixture.items(s, d).orderBy("seq"),
      Some("""WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id < 40)
             |SELECT seq, id, op, result FROM (
             |  SELECT 2*id AS seq, id, 'delete' AS op, 'deleted' AS result FROM d WHERE id % 5 = 0
             |  UNION ALL SELECT 2*id, id, 'index', 'updated' FROM d WHERE id % 5 = 1
             |  UNION ALL SELECT 2*id, id, 'update', 'updated' FROM d WHERE id % 5 = 2
             |  UNION ALL SELECT 2*id, id, 'create', 'conflict' FROM d WHERE id % 5 = 3
             |  UNION ALL SELECT 2*i, i, 'create', 'created' FROM (SELECT unnest(generate_series(100, 104)) AS i)
             |  UNION ALL SELECT 2*i, i, 'update', 'missing' FROM (SELECT unnest(generate_series(1000, 1004)) AS i)
             |  UNION ALL SELECT 2*i, i, 'update', 'created' FROM (SELECT unnest(generate_series(2000, 2004)) AS i)
             |) ORDER BY seq""".stripMargin)),

    // The post-bulk index state, exploded to (id, key, value) — deletes
    // gone, index-replaced docs carry only the new doc, updates merged,
    // conflicted creates untouched, unmentioned ids pass through.
    Q("a195_es_json_bulk_state",
      (s, d) => EsBulkFixture.state(s, d).orderBy("id", "key"),
      Some("""WITH d AS (SELECT doc_id AS id, lang FROM documents WHERE doc_id < 40)
             |SELECT id, key, value FROM (
             |  SELECT id, 'lang' AS key, lang AS value FROM d WHERE id % 5 IN (2, 3, 4)
             |  UNION ALL SELECT id, 'u', 'u1' FROM d WHERE id % 5 = 2
             |  UNION ALL SELECT id, 'v', 'new-' || id FROM d WHERE id % 5 = 1
             |  UNION ALL SELECT i, 'v', 'made-' || i FROM (SELECT unnest(generate_series(100, 104)) AS i)
             |  UNION ALL SELECT i, 'u', 'up-' || i FROM (SELECT unnest(generate_series(2000, 2004)) AS i)
             |) ORDER BY id, key""".stripMargin)),

    // Lucene OSA vs true-Damerau fuzzy corner cases: ES 6.5's fuzzy
    // automata implement the RESTRICTED (OSA) variant — a substring may
    // not be edited after a transposition — while the engine's default
    // kernel (and DuckDB's damerau_levenshtein) is TRUE DL. The fixture
    // pins both on the divergent pairs ("ca"→"abc" family: 2 true-DL vs
    // 3 OSA) plus agreeing real-typo pairs; `es_match2` is the
    // fuzziness-2 admission under LUCENE semantics (the opt-in
    // EditDistance.osaLev kernel), `dl_match2` under the DuckDB-mirroring
    // default. The OSA pins are analytic (DuckDB has no OSA kernel —
    // the a168 analytic-pin pattern); true-DL is cross-checked live.
    Q("a196_es_fuzzy_osa",
      (s, _) => {
        import s.implicits._
        OsaFixture.pairs.toDF("qa", "qb")
          .withColumn("dl", graft.functions.EditDistance.damerauLev(col("qa"), col("qb")))
          .withColumn("osa", graft.functions.EditDistance.osaLev(col("qa"), col("qb")))
          .withColumn("dl_match2", col("dl") <= 2)
          .withColumn("es_match2", col("osa") <= 2)
          .orderBy("qa", "qb")
      },
      Some {
        val rows = OsaFixture.pairs.map { case (a, b) =>
          s"('$a', '$b', ${OsaFixture.osaPins((a, b))})"
        }.mkString(",\n             ")
        s"""SELECT qa, qb, CAST(damerau_levenshtein(qa, qb) AS INT) AS dl,
           |       osa, damerau_levenshtein(qa, qb) <= 2 AS dl_match2,
           |       osa <= 2 AS es_match2
           |FROM (VALUES
           |  $rows) t(qa, qb, osa)
           |ORDER BY qa, qb""".stripMargin
      }),

    // INDEX-TIME shingle scoring: the shingle filter lives in the field's
    // index analyzer (token_separator "_", output_unigrams true), so the
    // stored stream is unigrams + bigram shingles. Two deltas search-time
    // shingling can NOT produce: (1) the shingle term "table_hash" has
    // real df/tf - the match hits exactly the docs with the adjacent
    // pair; (2) every doc's field length inflates to 2n-1, shifting
    // BM25's length normalization for the plain term "spark" too. Oracle
    // recomputes BM25 over the same expanded stream.
    Q("a197_es_json_index_time_shingles",
      (s, d) => graft.dsl.EsQueryJson.withShingles("sh", outputUnigrams = true) {
        graft.dsl.EsQueryJson.withIndexAnalyzer("text", "sh") {
          graft.dsl.EsQueryJson.search(Tables.documents(s, d),
            """{"query": {"match": {"text": "spark table_hash"}},
              | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
            .select(col("doc_id"), col("_score").as("score"))
        }
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |e AS (SELECT doc_id,
             |        w || list_transform(generate_series(1, len(w) - 1),
             |                            i -> w[i] || '_' || w[i+1]) AS toks
             |      FROM t),
             |f AS (SELECT doc_id,
             |        CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf0,
             |        CAST(len(list_filter(toks, x -> x = 'table_hash')) AS DOUBLE) AS tf1,
             |        CAST(len(toks) AS DOUBLE) AS dl
             |      FROM e),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |              CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |              CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
             |       FROM f),
             |sc AS (SELECT doc_id,
             |         round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |             + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1*(1.2+1))/(tf1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS score
             |       FROM f CROSS JOIN st WHERE tf0 > 0 OR tf1 > 0)
             |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // _validate/query: parse + compile WITHOUT executing (ES semantics —
    // validate touches no shard). The fixture exercises all four error
    // classes: ok, parse_error (not JSON), invalid_query (well-formed but
    // unsupported construct), unknown_field (schema resolution failure).
    // Outcomes are analytic pins (the a196 pattern) — the oracle is the
    // expected classification table.
    Q("a198_es_json_validate",
      (s, d) => graft.dsl.EsQueryJson.validateQuery(Tables.documents(s, d),
        ValidateFixture.bodies),
      Some {
        val rows = ValidateFixture.expected.map { case (q, cls) =>
          s"('$q', ${cls == "ok"}, '$cls')"
        }.mkString(",\n             ")
        s"""SELECT query_id, valid, error_class FROM (VALUES
           |  $rows) t(query_id, valid, error_class)
           |ORDER BY query_id""".stripMargin
      }),

    // _render/template: mustache substitution WITHOUT executing (the
    // template analog of a198's validate) — exposes the exact body
    // searchTemplate would run, the debugging surface ES gives template
    // authors. Renderings analytic-pinned; the render path IS
    // searchTemplate's (shared method), so the pin also locks a133's
    // substitution semantics.
    Q("a199_es_json_render_template",
      (s, _) => {
        import s.implicits._
        RenderFixture.templates.map { case (id, tj) =>
          (id, graft.dsl.EsQueryJson.renderTemplate(tj))
        }.toDF("template_id", "rendered").orderBy("template_id")
      },
      Some {
        val rows = RenderFixture.expected.map { case (i, r) =>
          s"('$i', '${r.replace("'", "''")}')"
        }.mkString(",\n             ")
        s"""SELECT template_id, rendered FROM (VALUES
           |  $rows) t(template_id, rendered)
           |ORDER BY template_id""".stripMargin
      }),

    // _update_by_query: the write API a reference user reaches for after
    // _reindex (a178) — query-scoped painless-subset assignment, every
    // other row passes through unchanged. The script mixes both bound
    // ref forms (doc['f'].value and ctx._source.f) and the target keeps
    // its original column type. One narrow conditional column — no
    // shuffle, no join; at scale this is a pure map over the index.
    Q("a200_es_json_update_by_query",
      (s, d) => graft.dsl.EsQueryJson.updateByQuery(
        Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars"),
        """{"query": {"term": {"lang": "en"}},
          | "script": {"source": "ctx._source.n_chars = doc['n_chars'].value * 2 + ctx._source.doc_id"}}""".stripMargin)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source,
             |       CASE WHEN lang = 'en'
             |            THEN n_chars * 2 + doc_id
             |            ELSE n_chars END AS n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // _delete_by_query: bool-scoped deletion; survivors are the rows
    // where the predicate is false OR null (ES deletes only matches —
    // the engine coalesces the predicate to false before negating).
    Q("a201_es_json_delete_by_query",
      (s, d) => graft.dsl.EsQueryJson.deleteByQuery(
        Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars"),
        """{"query": {"bool": {"must": [
          |   {"term": {"lang": "en"}},
          |   {"range": {"n_chars": {"gte": 200}}}]}}}""".stripMargin)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
             |WHERE NOT (lang = 'en' AND n_chars >= 200)
             |ORDER BY doc_id""".stripMargin)),

    // _bulk scripted updates — the update-envelope surface beyond a194's
    // partial docs: painless-subset scripts (incl. truncating division),
    // doc-valued upsert (as-is on missing, ignored on existing),
    // scripted_upsert, retry_on_conflict (accepted, ignored — the
    // serialized per-id fold cannot conflict), and detect_noop (an
    // unchanged merge reports "noop" by default; false forces the
    // write). Response items here; post-bulk state in a203.
    Q("a202_es_json_bulk_script_items",
      (s, d) => EsBulkScriptFixture.items(s, d).orderBy("seq"),
      Some("""WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id < 30)
             |SELECT seq, id, op, result FROM (
             |  SELECT 2*id AS seq, id, 'update' AS op, 'updated' AS result FROM d
             |  UNION ALL SELECT 2*i, i, 'update', 'missing' FROM (SELECT unnest(generate_series(40, 44)) AS i)
             |  UNION ALL SELECT 2*i, i, 'update', 'created' FROM (SELECT unnest(generate_series(50, 54)) AS i)
             |  UNION ALL SELECT 2*i, i, 'update', 'created' FROM (SELECT unnest(generate_series(60, 64)) AS i)
             |  UNION ALL SELECT 2*i, i, 'update', 'created' FROM (SELECT unnest(generate_series(70, 74)) AS i)
             |  UNION ALL SELECT 1000 + 10*(i-80), i, 'update', 'created' FROM (SELECT unnest(generate_series(80, 84)) AS i)
             |  UNION ALL SELECT 1002 + 10*(i-80), i, 'update', 'noop' FROM (SELECT unnest(generate_series(80, 84)) AS i)
             |  UNION ALL SELECT 1004 + 10*(i-80), i, 'update', 'updated' FROM (SELECT unnest(generate_series(80, 84)) AS i)
             |  UNION ALL SELECT 2000 + 10*(i-90), i, 'update', 'created' FROM (SELECT unnest(generate_series(90, 94)) AS i)
             |  UNION ALL SELECT 2002 + 10*(i-90), i, 'update', 'updated' FROM (SELECT unnest(generate_series(90, 94)) AS i)
             |) ORDER BY seq""".stripMargin)),

    // Post-bulk state for a202: scripted arithmetic replayed by the
    // oracle over the same n_chars values (// = truncating division on
    // the non-negative operands here, matching painless/JVM).
    Q("a203_es_json_bulk_script_state",
      (s, d) => EsBulkScriptFixture.state(s, d).orderBy("id", "key"),
      Some("""WITH d AS (SELECT doc_id AS id, lang, n_chars FROM documents WHERE doc_id < 30)
             |SELECT id, key, value FROM (
             |  SELECT id, 'lang' AS key, lang AS value FROM d
             |  UNION ALL SELECT id, 'n', CAST(n_chars * 2 + 10 AS VARCHAR) FROM d WHERE id % 3 = 0
             |  UNION ALL SELECT id, 'n', CAST(n_chars AS VARCHAR) FROM d WHERE id % 3 = 1
             |  UNION ALL SELECT id, 'u', 'x' FROM d WHERE id % 3 = 1
             |  UNION ALL SELECT id, 'n', CAST((n_chars + 3) // 4 AS VARCHAR) FROM d WHERE id % 3 = 2
             |  UNION ALL SELECT i, 'n', '7' FROM (SELECT unnest(generate_series(50, 54)) AS i)
             |  UNION ALL SELECT i, 'n', '24' FROM (SELECT unnest(generate_series(60, 64)) AS i)
             |  UNION ALL SELECT i, 'n', '1' FROM (SELECT unnest(generate_series(70, 74)) AS i)
             |  UNION ALL SELECT i, 'w', 'z' FROM (SELECT unnest(generate_series(70, 74)) AS i)
             |  UNION ALL SELECT i, 'u', 'y' FROM (SELECT unnest(generate_series(80, 84)) AS i)
             |  UNION ALL SELECT i, 'u', 'x' FROM (SELECT unnest(generate_series(90, 94)) AS i)
             |) ORDER BY id, key""".stripMargin)),

    // INDEX-TIME `english` analyzer (the ES mapping `"analyzer":
    // "english"`): the stored stream is the stopped+S-stemmed token
    // stream, so BM25's dl SHRINKS (stopwords leave the field length),
    // avgdl shifts for the whole corpus, and df/tf sit on the stems —
    // none of which search-time english analysis (a55, a filter) can
    // reproduce. Completes the index-time analyzer family: synonyms
    // (a171), shingles (a197), english (here). The oracle scores the
    // identical stemmed stream.
    Q("a204_es_json_index_time_english",
      (s, d) => graft.dsl.EsQueryJson.withIndexAnalyzer("text", "english") {
        graft.dsl.EsQueryJson.search(Tables.documents(s, d),
          """{"query": {"match": {"text": "table"}},
            | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
          .select(col("doc_id"), col("_score").as("score"))
      },
      Some(s"""WITH t2 AS (
             |  SELECT doc_id, ${graft.functions.TextKernels.sqlEnglishTokens("text")} AS toks,
             |         CAST(len(${graft.functions.TextKernels.sqlEnglishTokens("text")}) AS DOUBLE) AS dl
             |  FROM documents),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |              CAST(sum(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END) AS DOUBLE) AS df0
             |       FROM t2),
             |tf AS (SELECT doc_id, dl, n, avgdl, df0,
             |              CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf0
             |       FROM t2 CROSS JOIN st),
             |sc AS (SELECT doc_id,
             |              round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5))
             |                    * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS score
             |       FROM tf WHERE tf0 > 0)
             |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // SEARCH-time english on a SCORED match — a204's counterpart: the
    // QUERY side stems ("tables" → clause "table") while the document
    // stream stays standard-analyzed (ES 6.5 semantics for a standard-
    // mapped field queried with search_analyzer english). dl/avgdl here
    // are the RAW stream's — provably different scores from a204, where
    // the stream itself is stopped+stemmed. Previously a scored match
    // silently IGNORED its analyzer; now english scores and anything
    // else rejects loudly (spec).
    Q("a205_es_json_scored_english_match",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": {"query": "tables", "analyzer": "english"}}},
          | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH t2 AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
             |  FROM documents),
             |t3 AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM t2),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |              CAST(sum(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END) AS DOUBLE) AS df0
             |       FROM t3),
             |tf AS (SELECT doc_id, dl, n, avgdl, df0,
             |              CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf0
             |       FROM t3 CROSS JOIN st),
             |sc AS (SELECT doc_id,
             |              round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5))
             |                    * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS score
             |       FROM tf WHERE tf0 > 0)
             |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // SEARCH-ANALYZER DEFAULTING on a shingled field (ES 6.5: a field's
    // search_analyzer defaults to its index analyzer) — the natural
    // query "hash table" analyzes QUERY-side with the same shingle
    // chain and emits the terms {hash_table, hash, table}: the shingle
    // clause rewards docs with the ADJACENT pair on top of the unigram
    // clauses. Closes the a197-era documented deviation where query
    // text stayed standard-analyzed and callers pre-expanded shingles
    // by hand. Oracle scores the identical three clauses over the
    // identical expanded stream.
    Q("a206_es_json_shingle_search_analyzer",
      (s, d) => graft.dsl.EsQueryJson.withShingles("sh", outputUnigrams = true) {
        graft.dsl.EsQueryJson.withIndexAnalyzer("text", "sh") {
          graft.dsl.EsQueryJson.search(Tables.documents(s, d),
            """{"query": {"match": {"text": "hash table"}},
              | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
            .select(col("doc_id"), col("_score").as("score"))
        }
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |e AS (SELECT doc_id,
             |        w || list_transform(generate_series(1, len(w) - 1),
             |                            i -> w[i] || '_' || w[i+1]) AS toks
             |      FROM t),
             |f AS (SELECT doc_id,
             |        CAST(len(list_filter(toks, x -> x = 'hash_table')) AS DOUBLE) AS tf0,
             |        CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf1,
             |        CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf2,
             |        CAST(len(toks) AS DOUBLE) AS dl
             |      FROM e),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |              CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |              CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             |              CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
             |       FROM f),
             |sc AS (SELECT doc_id,
             |         round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |             + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1*(1.2+1))/(tf1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |             + ln(1 + (n - df2 + 0.5)/(df2 + 0.5)) * (tf2*(1.2+1))/(tf2 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS score
             |       FROM f CROSS JOIN st WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0)
             |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // PHRASE against an index-analyzed field (round 14): ES analyzes the
    // phrase with the field's chain and matches the STORED stream — never
    // the raw text (the index doesn't hold it). Here "hash tables" stems
    // to [hash, table] and its phrase frequency / df / dl all come from
    // the stop-dropped stemmed stream, so docs saying "hash tables" and
    // "hash table" score identically (raw-text phrase matching could
    // never reach the plural). Stop-collapsed adjacency documented at
    // phraseField. Oracle counts consecutive stem pairs over the same
    // stream.
    Q("a207_es_json_phrase_index_english",
      (s, d) => graft.dsl.EsQueryJson.withIndexAnalyzer("text", "english") {
        graft.dsl.EsQueryJson.search(Tables.documents(s, d),
          """{"query": {"match_phrase": {"text": "hash tables"}},
            | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
          .select(col("doc_id"), col("_score").as("score"))
      },
      Some(s"""WITH t2 AS (
             |  SELECT doc_id, ${graft.functions.TextKernels.sqlEnglishTokens("text")} AS toks
             |  FROM documents),
             |f AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             |        CAST(len(list_filter(generate_series(1, len(toks) - 1),
             |               i -> toks[i] = 'hash' AND toks[i+1] = 'table')) AS DOUBLE) AS tf0
             |      FROM t2),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |              CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0
             |       FROM f),
             |sc AS (SELECT doc_id,
             |              round(ln(1 + (n - df0 + 0.5)/(df0 + 0.5))
             |                    * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)), 6) AS score
             |       FROM f CROSS JOIN st WHERE tf0 > 0)
             |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // multi_match with PER-FIELD analyzers (ES: each field's clause runs
    // under its own mapping): 'source' is plain (query term "web" matches
    // literally), 'text' is english-indexed (query "tables" stems to
    // "table" and scores against the stemmed stream's tf/df/dl).
    // best_fields = max of the two per-field BM25 sums. Before round 14
    // the text clause silently ran over the raw stream and could never
    // reach the stem.
    Q("a208_es_json_multi_match_per_field_analyzer",
      (s, d) => graft.dsl.EsQueryJson.withIndexAnalyzer("text", "english") {
        graft.dsl.EsQueryJson.search(Tables.documents(s, d),
          """{"query": {"multi_match": {"query": "tables web",
            |  "fields": ["source", "text"]}},
            | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
          .select(col("doc_id"), col("_score").as("score"))
      },
      Some(s"""WITH src AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(source), '\\W+'), x -> x <> '') AS toks
             |  FROM documents),
             |sf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             |         CAST(len(list_filter(toks, x -> x = 'tables')) AS DOUBLE) AS tfa,
             |         CAST(len(list_filter(toks, x -> x = 'web')) AS DOUBLE) AS tfb
             |       FROM src),
             |sst AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |               CAST(sum(CASE WHEN tfa > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfa,
             |               CAST(sum(CASE WHEN tfb > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfb
             |        FROM sf),
             |ssc AS (SELECT doc_id,
             |          ln(1 + (n - dfa + 0.5)/(dfa + 0.5)) * (tfa*(1.2+1))/(tfa + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |        + ln(1 + (n - dfb + 0.5)/(dfb + 0.5)) * (tfb*(1.2+1))/(tfb + 1.2*(1 - 0.75 + 0.75*dl/avgdl)) AS s
             |        FROM sf CROSS JOIN sst),
             |txt AS (
             |  SELECT doc_id, ${graft.functions.TextKernels.sqlEnglishTokens("text")} AS toks
             |  FROM documents),
             |tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             |         CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tfa,
             |         CAST(len(list_filter(toks, x -> x = 'web')) AS DOUBLE) AS tfb
             |       FROM txt),
             |tst AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |               CAST(sum(CASE WHEN tfa > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfa,
             |               CAST(sum(CASE WHEN tfb > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS dfb
             |        FROM tf),
             |tsc AS (SELECT doc_id,
             |          ln(1 + (n - dfa + 0.5)/(dfa + 0.5)) * (tfa*(1.2+1))/(tfa + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |        + ln(1 + (n - dfb + 0.5)/(dfb + 0.5)) * (tfb*(1.2+1))/(tfb + 1.2*(1 - 0.75 + 0.75*dl/avgdl)) AS s
             |        FROM tf CROSS JOIN tst),
             |best AS (SELECT ssc.doc_id, round(greatest(ssc.s, tsc.s), 6) AS score
             |         FROM ssc JOIN tsc ON ssc.doc_id = tsc.doc_id)
             |SELECT doc_id, score FROM best WHERE score > 0
             |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // more_like_this through the ES-JSON front-end (the DSL op a-mlt
    // wired as a QUERY clause): mixed like sources (doc ref + free
    // text), explicit min_term_freq/min_doc_freq/max_query_terms, msm
    // as a shared-term gate, like doc excluded, BM25-scored. Oracle
    // replays the coordinating-node term selection (tf over the like
    // sources × ln(N/df), top-k with the term tiebreak) and the
    // sorted-term BM25 fold.
    Q("a209_es_json_more_like_this",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"more_like_this": {
          |   "fields": ["text"], "like": [{"_id": 7}, "hash table"],
          |   "min_term_freq": 1, "min_doc_freq": 2, "max_query_terms": 6,
          |   "minimum_should_match": 2}},
          | "sort": ["_score", "doc_id"], "size": 15}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |lt AS (
             |  SELECT unnest(w) AS term FROM toks WHERE doc_id = 7
             |  UNION ALL
             |  SELECT unnest(list_filter(string_split_regex(lower('hash table'), '\W+'), x -> x <> ''))),
             |ltf AS (SELECT term, count(*) AS ltf FROM lt GROUP BY term),
             |td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM td GROUP BY term),
             |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
             |q AS (SELECT term FROM (
             |        SELECT l.term, round(l.ltf * ln(n_docs/df), 6) AS tfidf
             |        FROM ltf l JOIN dfq USING (term) CROSS JOIN nn WHERE df >= 2)
             |      ORDER BY tfidf DESC, term LIMIT 6),
             |tf0 AS (SELECT doc_id, term, count(*) AS tf FROM td GROUP BY doc_id, term),
             |dls AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM toks),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dls),
             |c AS (SELECT d.doc_id, q.term,
             |             ln(1 + (st.n - dfq.df + 0.5)/(dfq.df + 0.5))
             |               * (COALESCE(tf0.tf, 0)*(1.2+1))
             |               / (COALESCE(tf0.tf, 0) + 1.2*(1 - 0.75 + 0.75*d.dl/st.avgdl)) AS contrib
             |      FROM dls d CROSS JOIN q
             |      JOIN dfq ON dfq.term = q.term CROSS JOIN st
             |      LEFT JOIN tf0 ON tf0.doc_id = d.doc_id AND tf0.term = q.term),
             |s AS (SELECT doc_id,
             |             list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS raw
             |      FROM c GROUP BY doc_id),
             |shared AS (SELECT doc_id, count(*) AS sh
             |           FROM (SELECT DISTINCT td.doc_id, td.term FROM td JOIN q USING (term))
             |           GROUP BY doc_id)
             |SELECT s.doc_id, round(raw, 6) AS score
             |FROM s JOIN shared USING (doc_id)
             |WHERE round(raw, 6) > 0 AND sh >= 2 AND s.doc_id <> 7
             |ORDER BY score DESC, s.doc_id LIMIT 15""".stripMargin)),

    // more_like_this in FILTER context (inside bool.filter, free-text
    // like only): pure shared-term predicate, no scoring, composed with
    // a term filter — the "find related, then filter" shape.
    Q("a210_es_json_mlt_filter",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {"filter": [
          |   {"more_like_this": {
          |      "fields": ["text"], "like": "spark hash table query",
          |      "min_term_freq": 1, "min_doc_freq": 2,
          |      "max_query_terms": 4, "minimum_should_match": 2}},
          |   {"term": {"lang": "en"}}]}},
          | "sort": ["doc_id"], "size": 50}""".stripMargin)
        .select(col("doc_id"), col("lang")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |lt AS (SELECT unnest(list_filter(string_split_regex(lower('spark hash table query'), '\W+'), x -> x <> '')) AS term),
             |ltf AS (SELECT term, count(*) AS ltf FROM lt GROUP BY term),
             |td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM td GROUP BY term),
             |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
             |q AS (SELECT term FROM (
             |        SELECT l.term, round(l.ltf * ln(n_docs/df), 6) AS tfidf
             |        FROM ltf l JOIN dfq USING (term) CROSS JOIN nn WHERE df >= 2)
             |      ORDER BY tfidf DESC, term LIMIT 4),
             |shared AS (SELECT doc_id, count(*) AS sh
             |           FROM (SELECT DISTINCT td.doc_id, td.term FROM td JOIN q USING (term))
             |           GROUP BY doc_id)
             |SELECT d.doc_id, d.lang FROM documents d JOIN shared USING (doc_id)
             |WHERE sh >= 2 AND d.lang = 'en'
             |ORDER BY d.doc_id LIMIT 50""".stripMargin)),

    // more_like_this third like form + the exclusion set: an ARTIFICIAL
    // document ({"doc": ...}) drives selection and `unlike` terms are
    // skipped (ES's interesting-terms exclusion) — selection = top terms
    // of the artificial text minus the unlike tokens.
    Q("a211_es_json_mlt_unlike",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {"filter": [
          |   {"more_like_this": {
          |      "fields": ["text"],
          |      "like": [{"doc": {"text": "spark hash table query join"}}],
          |      "unlike": "table query",
          |      "min_term_freq": 1, "min_doc_freq": 2,
          |      "max_query_terms": 3, "minimum_should_match": 2}},
          |   {"range": {"n_chars": {"gte": 40}}}]}},
          | "sort": ["doc_id"], "size": 40}""".stripMargin)
        .select(col("doc_id"), col("n_chars")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |lt AS (SELECT unnest(list_filter(string_split_regex(lower('spark hash table query join'), '\W+'), x -> x <> '')) AS term),
             |ul AS (SELECT DISTINCT unnest(list_filter(string_split_regex(lower('table query'), '\W+'), x -> x <> '')) AS term),
             |ltf AS (SELECT term, count(*) AS ltf FROM lt
             |        WHERE term NOT IN (SELECT term FROM ul) GROUP BY term),
             |td AS (SELECT doc_id, unnest(w) AS term FROM toks),
             |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM td GROUP BY term),
             |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
             |q AS (SELECT term FROM (
             |        SELECT l.term, round(l.ltf * ln(n_docs/df), 6) AS tfidf
             |        FROM ltf l JOIN dfq USING (term) CROSS JOIN nn WHERE df >= 2)
             |      ORDER BY tfidf DESC, term LIMIT 3),
             |shared AS (SELECT doc_id, count(*) AS sh
             |           FROM (SELECT DISTINCT td.doc_id, td.term FROM td JOIN q USING (term))
             |           GROUP BY doc_id)
             |SELECT d.doc_id, d.n_chars FROM documents d JOIN shared USING (doc_id)
             |WHERE sh >= 2 AND d.n_chars >= 40
             |ORDER BY d.doc_id LIMIT 40""".stripMargin)),

    // ES `stats` metric (the plain 5-value count/min/max/avg/sum form —
    // the most common multi-value metric) per terms bucket, both on a
    // plain field and on a painless script (net price), sharing ONE
    // hash-aggregate pass.
    Q("a212_es_json_stats_agg",
      (s, d) => graft.dsl.EsQueryJson.aggregations(li(s, d),
        """{"aggs": {"rf": {"terms": {"field": "l_returnflag", "size": 10},
          | "aggs": {"st": {"stats": {"field": "l_extendedprice"}},
          |          "net": {"stats": {"script": {"source":
          |            "doc['l_extendedprice'].value * (1 - doc['l_discount'].value)"}}}}}}}""".stripMargin)("rf"),
      Some("""SELECT l_returnflag AS key, count(*) AS doc_count,
             |       count(l_extendedprice) AS st_count, round(min(l_extendedprice), 4) AS st_min,
             |       round(max(l_extendedprice), 4) AS st_max,
             |       round(avg(l_extendedprice), 6) AS st_avg,
             |       round(sum(l_extendedprice), 4) AS st_sum,
             |       count(*) AS net_count,
             |       round(min(l_extendedprice * (1 - l_discount)), 4) AS net_min,
             |       round(max(l_extendedprice * (1 - l_discount)), 4) AS net_max,
             |       round(avg(l_extendedprice * (1 - l_discount)), 6) AS net_avg,
             |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS net_sum
             |FROM lineitem GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // `_score` sort with a FILTER-LIKE query kind (term): ES 6.5 scores
    // every query-context query — filter-like kinds carry a constant
    // score, so ordering falls to the tiebreak. (Pre-round-14 the engine
    // loud-rejected this shape; the widened fuzz flagged the false
    // reject.)
    Q("a213_es_json_score_sort_term",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"term": {"lang": "en"}},
          | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
             |WHERE lang = 'en' ORDER BY doc_id LIMIT 25""".stripMargin)),

    // histogram `min_doc_count: 0` WITHOUT extended_bounds: ES fills every
    // interval between the observed min and max keys (pre-round-14 the
    // engine only filled under extended_bounds, silently acting as
    // min_doc_count 1). The high-price filter makes the tail sparse, so
    // genuine zero buckets appear inside the span.
    Q("a214_es_json_histogram_datafill",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"query": {"range": {"o_totalprice": {"gte": 420000}}},
          | "aggs": {"p": {"histogram": {"field": "o_totalprice",
          |   "interval": 10000, "min_doc_count": 0}}}}""".stripMargin)("p"),
      Some("""WITH b AS (
             |  SELECT CAST(floor(o_totalprice / 10000) * 10000 AS BIGINT) AS key,
             |         count(*) AS doc_count
             |  FROM orders WHERE o_totalprice >= 420000 GROUP BY key),
             |bb AS (SELECT min(key) AS lo, max(key) AS hi FROM b),
             |f AS (SELECT unnest(generate_series(lo, hi, 10000)) AS key FROM bb)
             |SELECT f.key AS key, coalesce(b.doc_count, 0) AS doc_count
             |FROM f LEFT JOIN b ON f.key = b.key ORDER BY key""".stripMargin)),

    // top-level `script_fields`: per-hit painless-subset computed values,
    // returned even under `_source` filtering (ES behavior) — the last
    // body key the strictness allowlist had to loud-reject, now
    // implemented on the shared doc-ref binding.
    Q("a215_es_json_script_fields",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.orders(s, d),
        """{"query": {"range": {"o_totalprice": {"gte": 400000}}},
          | "script_fields": {
          |   "taxed": {"script": {"source": "doc['o_totalprice'].value * 1.1"}},
          |   "key3": {"script": "doc['o_orderkey'].value * 3 + 1"}},
          | "_source": ["o_orderkey"],
          | "sort": ["o_orderkey"], "size": 30}""".stripMargin),
      Some("""SELECT o_orderkey, round(o_totalprice * 1.1, 6) AS taxed,
             |       o_orderkey * 3 + 1 AS key3
             |FROM orders WHERE o_totalprice >= 400000
             |ORDER BY o_orderkey LIMIT 30""".stripMargin)),

    // per-SERIES zero fill — the terms × date_histogram dashboard shape
    // with `min_doc_count: 0` on the leaf plus a per-series
    // cumulative_sum that must see the filled zeros. Each priority
    // series fills every month between ITS OWN first and last active
    // month (ES per-parent semantics); the high-price filter makes the
    // series sparse so genuine gaps appear.
    Q("a216_es_json_series_zero_fill",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.orders(s, d),
        """{"query": {"range": {"o_totalprice": {"gte": 430000}}},
          | "aggs": {"pri": {"terms": {"field": "o_orderpriority", "size": 10},
          |   "aggs": {"m": {"date_histogram": {"field": "o_orderdate",
          |       "calendar_interval": "month", "min_doc_count": 0},
          |     "aggs": {"cum": {"cumulative_sum": {"buckets_path": "_count"}}}}}}}}""".stripMargin)("pri")
        .orderBy("pri", "m"),
      Some("""WITH b AS (
             |  SELECT o_orderpriority AS pri,
             |         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
             |         count(*) AS doc_count
             |  FROM orders WHERE o_totalprice >= 430000 GROUP BY pri, m),
             |spans AS (SELECT pri, min(m) AS lo, max(m) AS hi FROM b GROUP BY pri),
             |f AS (SELECT pri, unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m FROM spans)
             |SELECT f.pri AS pri, f.m AS m, coalesce(b.doc_count, 0) AS doc_count,
             |       CAST(CAST(sum(coalesce(b.doc_count, 0)) OVER (
             |         PARTITION BY f.pri ORDER BY f.m
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE) AS cum
             |FROM f LEFT JOIN b ON f.pri = b.pri AND f.m = b.m
             |ORDER BY pri, m""".stripMargin)),

    // terms `min_doc_count: 0` at the TOP level: ES emits a zero-count
    // bucket for every term of the field in the INDEX (global ordinals),
    // not just the query scope — the n_chars cutoff eliminates whole
    // languages, which must come back as zero buckets. (Pre-round-15 the
    // engine silently acted as min_doc_count 1 here.)
    Q("a217_es_json_terms_zero_fill",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"query": {"range": {"n_chars": {"gte": 545}}},
          | "aggs": {"l": {"terms": {"field": "lang", "size": 10,
          |   "min_doc_count": 0}}}}""".stripMargin)("l"),
      Some("""WITH b AS (SELECT lang AS key, count(*) AS doc_count
             |  FROM documents WHERE n_chars >= 545 GROUP BY 1),
             |dom AS (SELECT DISTINCT lang AS key FROM documents WHERE lang IS NOT NULL)
             |SELECT dom.key AS key, coalesce(b.doc_count, 0) AS doc_count
             |FROM dom LEFT JOIN b USING (key)
             |ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // per-PARENT terms-leaf fill — the year × status dashboard shape with
    // `min_doc_count: 0` on a terms LEAF inside a nested chain: every
    // year bucket carries all three order statuses, zero-filled (TPC-H
    // status correlates with date, so early years are all-F and late
    // years all-O — structural zeros at any scale factor). This was the
    // last loud-rejected ES-6.5 agg semantic (round-14 verdict item 2).
    Q("a218_es_json_terms_leaf_fill",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.orders(s, d),
        """{"aggs": {"y": {"date_histogram": {"field": "o_orderdate",
          |   "calendar_interval": "year"},
          |  "aggs": {"st": {"terms": {"field": "o_orderstatus", "size": 10,
          |   "min_doc_count": 0}}}}}}""".stripMargin)("y"),
      Some("""WITH b AS (SELECT CAST(date_trunc('year', o_orderdate) AS TIMESTAMP) AS y,
             |         o_orderstatus AS st, count(*) AS doc_count
             |  FROM orders GROUP BY 1, 2),
             |dom AS (SELECT DISTINCT o_orderstatus AS st FROM orders),
             |par AS (SELECT DISTINCT y FROM b)
             |SELECT par.y AS y, dom.st AS st, coalesce(b.doc_count, 0) AS doc_count
             |FROM par CROSS JOIN dom LEFT JOIN b USING (y, st)
             |ORDER BY y, st""".stripMargin)),

    // ES defaults `size` to 10 on every search — pinned after
    // EsJsonDifferentialSpec caught the engine returning ALL hits for a
    // size-less body on its first run (an answer-level deviation, and a
    // scale hazard: an unsized query over a 100 TB corpus must not
    // return the corpus).
    Q("a219_es_json_default_size",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.orders(s, d),
        """{"query": {"range": {"o_totalprice": {"gte": 100000}}},
          | "sort": ["o_orderkey"]}""".stripMargin)
        .select("o_orderkey", "o_orderpriority"),
      Some("""SELECT o_orderkey, o_orderpriority FROM orders
             |WHERE o_totalprice >= 100000 ORDER BY o_orderkey LIMIT 10""".stripMargin)),

    // ES bucket aggs form NO bucket for docs missing the field: a null
    // key is dropped, not grouped — pinned after EsJsonDifferentialSpec
    // caught the engine returning a null-key terms bucket ES never
    // emits. The frame derives a genuinely-null column (nullif) so the
    // drop is observable; the doc_counts of the surviving buckets are
    // unchanged by the fix.
    Q("a220_es_json_no_null_bucket",
      (s, d) => graft.dsl.EsQueryJson.aggregations(
        Tables.documents(s, d).withColumn("lang_opt",
          org.apache.spark.sql.functions.expr("nullif(lang, 'en')")),
        """{"aggs": {"l": {"terms": {"field": "lang_opt", "size": 10},
          |  "aggs": {"mx": {"max": {"field": "n_chars"}}}}}}""".stripMargin)("l"),
      Some("""SELECT nullif(lang, 'en') AS key, count(*) AS doc_count,
             |       CAST(round(max(n_chars), 4) AS BIGINT) AS mx
             |FROM documents WHERE nullif(lang, 'en') IS NOT NULL
             |GROUP BY key ORDER BY doc_count DESC, key LIMIT 10""".stripMargin)),

    // range agg over an EMPTY query scope: ES still returns every range
    // bucket, each with doc_count 0 (and null metrics). Pinned after the
    // round-15 widened differential (EsJsonDifferentialNestedSpec) caught
    // the engine returning null doc_counts — a global aggregate over zero
    // rows yields one all-null row, and the per-bucket sum(when) rode it.
    // Same root cause fixed in the filters agg (spec-covered).
    Q("a221_es_json_range_agg_empty_scope",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.orders(s, d),
        """{"query": {"range": {"o_totalprice": {"lt": 0}}},
          | "aggs": {"g": {"range": {"field": "o_totalprice", "ranges": [
          |   {"key": "r1", "to": 100000},
          |   {"key": "r2", "from": 100000, "to": 250000},
          |   {"key": "r3", "from": 250000}]},
          | "aggs": {"m": {"avg": {"field": "o_totalprice"}}}}}}""".stripMargin)("g"),
      Some("""SELECT key, doc_count, m FROM (
             |  SELECT 'r1' AS key, count(CASE WHEN o_totalprice < 100000 THEN 1 END) AS doc_count,
             |         round(avg(CASE WHEN o_totalprice < 100000 THEN o_totalprice END), 6) AS m
             |  FROM orders WHERE o_totalprice < 0
             |  UNION ALL
             |  SELECT 'r2', count(CASE WHEN o_totalprice >= 100000 AND o_totalprice < 250000 THEN 1 END),
             |         round(avg(CASE WHEN o_totalprice >= 100000 AND o_totalprice < 250000 THEN o_totalprice END), 6)
             |  FROM orders WHERE o_totalprice < 0
             |  UNION ALL
             |  SELECT 'r3', count(CASE WHEN o_totalprice >= 250000 THEN 1 END),
             |         round(avg(CASE WHEN o_totalprice >= 250000 THEN o_totalprice END), 6)
             |  FROM orders WHERE o_totalprice < 0)
             |ORDER BY key""".stripMargin)),

    // Outer terms `size` ranking inside a nested chain counts the FULL
    // outer bucket (docs missing the inner field included) — ES drops
    // unindexed docs level-by-level, so a doc with a null inner key still
    // belongs to its outer bucket and to that bucket's ranking. The
    // fixture nulls the inner field for 7/8 of 'en' docs: 'en' stays the
    // top outer bucket by full count (and keeps a size-3 slot) even
    // though its inner-visible count falls below every other language.
    // Pinned after the widened differential caught the engine ranking on
    // the inner-joined frame (kept a 21-doc bucket over three 22-doc
    // ones).
    Q("a222_es_json_nested_terms_rank",
      (s, d) => graft.dsl.EsQueryJson.aggregations(
        Tables.documents(s, d).withColumn("mch",
          org.apache.spark.sql.functions.expr(
            "CASE WHEN lang = 'en' AND doc_id % 8 <> 0 THEN NULL ELSE n_chars END")),
        """{"aggs": {"lang_k": {"terms": {"field": "lang", "size": 3},
          |  "aggs": {"bucket": {"histogram": {"field": "mch", "interval": 200}}}}}}""".stripMargin)("lang_k")
        .orderBy("lang_k", "bucket"),
      Some("""WITH d AS (SELECT lang,
             |    CASE WHEN lang = 'en' AND doc_id % 8 <> 0 THEN NULL ELSE n_chars END AS mch
             |  FROM documents),
             |tot AS (SELECT lang, count(*) AS c FROM d WHERE lang IS NOT NULL
             |        GROUP BY 1 ORDER BY c DESC, lang LIMIT 3),
             |b AS (SELECT lang, CAST(floor(mch / 200) * 200 AS BIGINT) AS bucket,
             |             count(*) AS doc_count
             |      FROM d WHERE lang IS NOT NULL AND mch IS NOT NULL GROUP BY 1, 2)
             |SELECT b.lang AS lang_k, b.bucket AS bucket, b.doc_count AS doc_count
             |FROM b JOIN tot USING (lang) ORDER BY lang_k, bucket""".stripMargin)),

    // composite `after` cursor carrying a NULL key (resuming past a
    // missing_bucket page): under ES's nulls-first ascending key order a
    // null cursor value means "equal" = IS NULL and "greater" = IS NOT
    // NULL — the old ===/> predicate went null and silently dropped every
    // remaining bucket (the cursor-walk property in
    // EsJsonDifferentialNestedSpec caught pages vanishing mid-walk). The
    // cursor here resumes INSIDE the null-keyed group (s0 null, past
    // lang 'de'), so both the null-eq prefix and the null-gt arm are
    // load-bearing.
    Q("a223_es_json_composite_null_cursor",
      (s, d) => graft.dsl.EsQueryJson.aggregations(
        Tables.documents(s, d).withColumn("maybe_src",
          org.apache.spark.sql.functions.expr(
            "CASE WHEN doc_id % 7 <> 0 THEN source END")),
        """{"aggs": {"c": {"composite": {"size": 10, "sources": [
          |  {"src": {"terms": {"field": "maybe_src", "missing_bucket": true}}},
          |  {"lng": {"terms": {"field": "lang"}}}],
          | "after": {"src": null, "lng": "de"}}}}}""".stripMargin)("c"),
      Some("""WITH d AS (SELECT CASE WHEN doc_id % 7 <> 0 THEN source END AS src, lang
             |  FROM documents)
             |SELECT src, lang AS lng, count(*) AS doc_count FROM d
             |WHERE lang IS NOT NULL
             |  AND ((src IS NULL AND lang > 'de') OR src IS NOT NULL)
             |GROUP BY 1, 2 ORDER BY src ASC NULLS FIRST, lng ASC LIMIT 10""".stripMargin)),

    // top_hits under terms with all three bucket rules load-bearing at
    // once (the top_hits differential caught the engine skipping each):
    // docs with a null bucket key form NO bucket; the bucket list is
    // ranked/truncated by the terms `size` (count desc, key asc) BEFORE
    // hits are picked; and the hit sort treats missing values as `_last`
    // in both directions (Spark's ascending default is nulls-FIRST, so a
    // nullable sort field put null hits on top).
    Q("a224_es_json_top_hits_bucket_rules",
      (s, d) => graft.dsl.EsQueryJson.aggregations(
        Tables.documents(s, d)
          .withColumn("maybe_src", org.apache.spark.sql.functions.expr(
            "CASE WHEN doc_id % 7 <> 0 THEN source END"))
          .withColumn("mch", org.apache.spark.sql.functions.expr(
            "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END")),
        """{"aggs": {"g": {"terms": {"field": "maybe_src", "size": 2},
          |  "aggs": {"th": {"top_hits": {"size": 2,
          |    "sort": [{"mch": {"order": "desc"}}, "doc_id"],
          |    "_source": ["doc_id", "mch"]}}}}}}""".stripMargin)("g")
        .orderBy("key", "rank"),
      Some("""WITH d AS (SELECT CASE WHEN doc_id % 7 <> 0 THEN source END AS k,
             |    CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END AS mch, doc_id
             |  FROM documents),
             |tot AS (SELECT k, count(*) AS c FROM d WHERE k IS NOT NULL
             |        GROUP BY 1 ORDER BY c DESC, k LIMIT 2),
             |r AS (SELECT k, row_number() OVER (PARTITION BY k
             |        ORDER BY mch DESC NULLS LAST, doc_id) AS rn, doc_id, mch
             |      FROM d WHERE k IS NOT NULL)
             |SELECT r.k AS key, CAST(rn AS INT) AS rank, r.doc_id AS doc_id, r.mch AS mch
             |FROM r JOIN tot USING (k) WHERE rn <= 2 ORDER BY key, rank""".stripMargin)),

    // query_string `f:[* TO *]`: a range with both bounds open is still a
    // range query ON the field — Lucene matches only docs that HAVE it
    // (the `_exists_:f` equivalence). The engine compiled it to
    // match-all, admitting null-field docs (query_string differential
    // find). The fixture's derived field is null for doc_id % 5 = 0, so
    // the existence read is load-bearing at any SF.
    Q("a225_es_json_qs_star_range",
      (s, d) => graft.dsl.EsQueryJson.search(
        Tables.documents(s, d).withColumn("mch",
          org.apache.spark.sql.functions.expr(
            "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END")),
        """{"query": {"query_string": {"query": "mch:[* TO *] AND NOT lang:de"}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select("doc_id", "lang"),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE (CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END) IS NOT NULL
             |  AND NOT coalesce(lang = 'de', FALSE)
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // match `operator: and` with a REPEATED query token: Lucene keeps
    // duplicate term clauses, and duplicate MUST clauses are satisfied by
    // the same posting — "spark join spark" matches docs containing spark
    // and join once each. The engine's deduped intersect count (2 unique
    // terms) could never reach the duplicate-counting msm (3), so such
    // queries matched NOTHING (match-family differential find).
    Q("a226_es_json_match_and_dup_term",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": {"query": "spark join spark", "operator": "and"}}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select("doc_id"),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |WHERE list_contains(w, 'spark') AND list_contains(w, 'join')
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // search_after past a NON-NULL cursor on a nullable sort field: the
    // null-keyed docs sort `missing: _last`, i.e. AFTER every value, so
    // they belong to every later page — the old ===/> cursor predicate
    // went null on them and deep pagination silently LOST the null tail
    // (search_after cursor-walk property find, the hits-side twin of the
    // composite a223 fix).
    Q("a227_es_json_search_after_null_tail",
      (s, d) => graft.dsl.EsQueryJson.search(
        Tables.documents(s, d).withColumn("mch",
          org.apache.spark.sql.functions.expr(
            "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END")),
        """{"query": {"match_all": {}},
          | "sort": [{"mch": {"order": "asc"}}, "doc_id"],
          | "search_after": [900, 250], "size": 10000}""".stripMargin)
        .select("doc_id", "mch"),
      Some("""WITH d AS (SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END AS mch
             |  FROM documents)
             |SELECT doc_id, mch FROM d
             |WHERE mch > 900 OR (mch = 900 AND doc_id > 250) OR mch IS NULL
             |ORDER BY mch ASC NULLS LAST, doc_id LIMIT 10000""".stripMargin)),

    // whitespace analyzer + `operator: and` + a REPEATED query token: the
    // round-15 a226 fix covered only the default analyzer — the whitespace
    // path still deduped its clause set against an occurrence-counting msm,
    // so "spark join spark" matched NOTHING (ADVICE r15; duplicate MUST
    // clauses are satisfied by one posting each, as in Lucene).
    Q("a228_es_json_match_ws_and_dup_term",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": {"query": "spark join spark",
          |  "analyzer": "whitespace", "operator": "and"}}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select("doc_id"),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
             |WHERE list_contains(w, 'spark') AND list_contains(w, 'join')
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // fuzziness + `operator: and` + a repeated query token: the fuzzy path's
    // deduped clause set vs occurrence msm — the same a226 bug class (ADVICE
    // r15). "sprk" is 4 chars → AUTO budget 1 Damerau edit; msm counts 3
    // occurrence clauses, both sprk clauses satisfied by one fuzzy posting.
    Q("a229_es_json_match_fuzzy_and_dup_term",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": {"query": "sprk join sprk",
          |  "fuzziness": "AUTO", "operator": "and"}}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |SELECT doc_id FROM t
             |WHERE len(list_filter(w, x -> damerau_levenshtein(x, 'sprk') <= 1)) > 0
             |  AND len(list_filter(w, x -> damerau_levenshtein(x, 'join') <= 1)) > 0
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // search_after with a CUSTOM sort `missing` substitute: missing docs
    // sort AS the given value (here 0, the head of the ascending order), so
    // the sort key is a coalesced computed column and the cursor carries the
    // SUBSTITUTED value — a resume from inside the substituted zone must
    // keep later null-field docs and drop earlier ones by the tiebreak
    // (ADVICE r15 asked for a loud reject; the coalesce compilation makes
    // the composition correct instead, and this row pins it).
    Q("a230_es_json_search_after_custom_missing",
      (s, d) => graft.dsl.EsQueryJson.search(
        Tables.documents(s, d).withColumn("mch",
          org.apache.spark.sql.functions.expr(
            "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END")),
        """{"query": {"match_all": {}},
          | "sort": [{"mch": {"order": "asc", "missing": 0}}, "doc_id"],
          | "search_after": [0, 250], "size": 10000}""".stripMargin)
        .select("doc_id"),
      Some("""WITH d AS (SELECT doc_id,
             |    coalesce(CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END, 0) AS k
             |  FROM documents)
             |SELECT doc_id FROM d
             |WHERE k > 0 OR (k = 0 AND doc_id > 250)
             |ORDER BY k ASC, doc_id LIMIT 10000""".stripMargin)),

    // `operator: and` WINS over an explicit minimum_should_match: Lucene's
    // MatchQuery turns every term clause into a MUST under and, so msm
    // (which applies to SHOULD clauses) is moot — pre-round-16 the explicit
    // msm silently overrode the operator and this matched any-term docs
    // (round-16 score-differential find).
    Q("a231_es_json_match_and_wins_msm",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"match": {"text": {"query": "spark join",
          |  "operator": "and", "minimum_should_match": 1}}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select("doc_id"),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |WHERE list_contains(w, 'spark') AND list_contains(w, 'join')
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // clause-internal `operator: and` inside a SCORED bool: the clause-slot
    // predicate ignored the clause's msm entirely (a must match with
    // operator:and admitted any-term docs under a _score sort — round-16
    // score-differential find; the hit SET is pinned here, clause-score
    // gating by the differential spec).
    Q("a232_es_json_scored_bool_clause_and",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {
          |   "must": [{"match": {"text": {"query": "spark join", "operator": "and"}}}],
          |   "filter": [{"range": {"n_chars": {"gte": 50}}}]}},
          | "sort": ["_score", "doc_id"], "size": 2000}""".stripMargin)
        .select("doc_id"),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, n_chars, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |WHERE list_contains(w, 'spark') AND list_contains(w, 'join') AND n_chars >= 50
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // multi_match best_fields `operator: and` is FIELD-centric all-terms:
    // the doc matches when SOME field contains EVERY query term (each
    // field's match runs with all terms MUST) — pre-round-16 only
    // cross_fields honored the operator and best/most_fields degraded to
    // any-term OR (round-16 score-differential find).
    Q("a233_es_json_multi_match_and",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"multi_match": {"query": "spark join",
          |  "fields": ["text", "source"], "operator": "and"}},
          | "sort": ["doc_id"], "size": 2000}""".stripMargin)
        .select("doc_id"),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |WHERE (list_contains(w, 'spark') AND list_contains(w, 'join'))
             |   OR (source = 'spark' AND source = 'join')
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // most_fields over a doc MISSING one field: greatest() skips nulls but
    // + does not — the per-field sum null-poisoned and the doc was DROPPED
    // where ES scores it on the fields it has (round-16 score-differential
    // find). mtext nulls every 5th doc; those docs must still hit via text.
    Q("a234_es_json_most_fields_null_field",
      (s, d) => graft.dsl.EsQueryJson.search(
        Tables.documents(s, d).withColumn("mtext",
          org.apache.spark.sql.functions.expr(
            "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE text END")),
        """{"query": {"multi_match": {"query": "spark",
          |  "fields": ["text", "mtext"], "type": "most_fields"}},
          | "sort": ["_score", "doc_id"], "size": 2000}""".stripMargin)
        .select("doc_id"),
      Some("""SELECT doc_id FROM (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents)
             |WHERE list_contains(w, 'spark')
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // scored bool SHOULD-clause gating, score VALUES pinned: a partially
    // matched `operator: and` should clause leaked its partial BM25 into
    // the bool total (a doc with only "spark" gained the spark term score
    // from the and-gated clause — round-16 score-differential find). The
    // twin gates the two-term clause's sum behind the full-match CASE and
    // adds the one-term clause, mirroring the engine's fold association.
    Q("a235_es_json_scored_bool_should_gating",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {"should": [
          |   {"match": {"text": {"query": "spark join", "operator": "and"}}},
          |   {"match": {"text": "merge"}}]}},
          | "sort": ["_score", "doc_id"], "size": 2000}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks,
             |         CAST(len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS DOUBLE) AS dl
             |  FROM documents
             |), st AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |         CAST(sum(CASE WHEN list_contains(toks,'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |         CAST(sum(CASE WHEN list_contains(toks,'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             |         CAST(sum(CASE WHEN list_contains(toks,'merge') THEN 1 ELSE 0 END) AS DOUBLE) AS df2
             |  FROM t
             |), tf AS (
             |  SELECT doc_id, toks, dl, n, avgdl, df0, df1, df2,
             |         CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf0,
             |         CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf1,
             |         CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) AS tf2
             |  FROM t CROSS JOIN st
             |), sc AS (
             |  SELECT doc_id, toks,
             |         round((CASE WHEN list_contains(toks,'spark') AND list_contains(toks,'join')
             |           THEN ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |              + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1*(1.2+1))/(tf1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |           ELSE 0 END)
             |         + (CASE WHEN list_contains(toks,'merge')
             |           THEN ln(1 + (n - df2 + 0.5)/(df2 + 0.5)) * (tf2*(1.2+1))/(tf2 + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
             |           ELSE 0 END), 6) AS score
             |  FROM tf
             |)
             |SELECT doc_id, score FROM sc
             |WHERE (list_contains(toks,'spark') AND list_contains(toks,'join'))
             |   OR list_contains(toks,'merge')
             |ORDER BY doc_id LIMIT 2000""".stripMargin)),

    // function_score decay over a doc MISSING the field: ES documents the
    // function returns 1.0 — the raw arithmetic null-poisoned gauss/exp,
    // and linear's zero-clamp greatest() swallowed the null into 0.0,
    // silently zeroing the function (round-16 score-differential finds;
    // both shapes pinned here through the multiply fold). mch nulls every
    // 5th doc; those docs must score exactly 1.0 × 1.0.
    Q("a236_es_json_decay_missing_field",
      (s, d) => graft.dsl.EsQueryJson.search(
        Tables.documents(s, d).withColumn("mch",
          org.apache.spark.sql.functions.expr(
            "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END")),
        """{"query": {"function_score": {"functions": [
          |   {"gauss": {"mch": {"origin": 500.0, "scale": 300.0}}},
          |   {"linear": {"mch": {"origin": 500.0, "scale": 400.0, "decay": 0.3}}}]}},
          | "sort": ["_score", "doc_id"], "size": 10000}""".stripMargin)
        .select(col("doc_id"), col("_score").as("score")),
      Some("""SELECT doc_id,
             |  round(1.0 * (
             |    (CASE WHEN mch IS NULL THEN 1.0
             |          ELSE pow(0.5, pow(abs(mch - 500.0) / 300.0, 2.0)) END)
             |  * (CASE WHEN mch IS NULL THEN 1.0
             |          ELSE greatest(1.0 - (1.0 - 0.3) * abs(mch - 500.0) / 400.0, 0.0) END)), 6) AS score
             |FROM (SELECT doc_id,
             |        CAST(CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END AS DOUBLE) AS mch
             |      FROM documents)
             |ORDER BY doc_id LIMIT 10000""".stripMargin)),

    // CHAINED pipelines across a gap: cumulative_sum over a derivative's
    // null first bucket must emit the running sum from 0 (ES's
    // CumulativeSumPipelineAggregator skips null inputs but emits EVERY
    // bucket — the raw window sum returned NULL over the all-null prefix);
    // moving_avg (simple) over the same path emits nothing while its
    // window holds only gaps (round-16 pipeline-differential finds).
    Q("a237_es_json_pipeline_gap_chain",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"aggs": {"h": {"histogram": {"field": "n_chars", "interval": 50},
          | "aggs": {"d": {"derivative": {"buckets_path": "_count"}},
          |          "cs": {"cumulative_sum": {"buckets_path": "d"}},
          |          "ma": {"moving_avg": {"buckets_path": "d", "window": 3}}}}}}""".stripMargin)("h"),
      Some("""WITH b AS (
             |  SELECT CAST(floor(n_chars / 50.0) * 50.0 AS BIGINT) AS key, count(*) AS doc_count
             |  FROM documents GROUP BY key),
             |p AS (
             |  SELECT key, doc_count,
             |         round(doc_count - lag(doc_count) OVER (ORDER BY key), 4) AS d
             |  FROM b)
             |SELECT key, doc_count, d,
             |       round(coalesce(sum(d) OVER (ORDER BY key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 4) AS cs,
             |       round(avg(d) OVER (ORDER BY key ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma
             |FROM p ORDER BY key""".stripMargin)),

    // Pipeline declaration order, ES 6.5 semantics (AggregatorFactories.
    // Builder#resolvePipelineAggregatorOrder): sibling pipes execute in
    // DECLARATION order after buckets_path dependencies resolve first —
    // a bucket_sort declared BEFORE an (unreferenced) derivative runs
    // first, so the derivative diffs the kept buckets in the SORTED list
    // order (desc here), its first list entry null. Round-16's
    // values-first regrouping matched only its own twin; ADVICE r16.
    Q("a238_es_json_bucket_sort_before_pipe",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"aggs": {"h": {"histogram": {"field": "n_chars", "interval": 200},
          | "aggs": {"srt": {"bucket_sort": {"sort": [{"key": {"order": "desc"}}], "size": 3}},
          |          "d": {"derivative": {"buckets_path": "_count"}}}}}}""".stripMargin)("h"),
      Some("""WITH b AS (
             |  SELECT CAST(floor(n_chars / 200.0) * 200.0 AS BIGINT) AS key, count(*) AS doc_count
             |  FROM documents GROUP BY key),
             |k AS (SELECT key, doc_count FROM b ORDER BY key DESC LIMIT 3)
             |SELECT key, doc_count,
             |       round(doc_count - lag(doc_count) OVER (ORDER BY key DESC), 4) AS d
             |FROM k ORDER BY key DESC""".stripMargin)),

    // The dependency-INVERTED declaration: a bucket_sort declared FIRST
    // whose sort path references a pipe declared AFTER it — ES's stable
    // DFS topo resolver orders the cumulative_sum before the sort (a
    // cycle would reject loudly with ES's own error).
    Q("a246_es_json_pipeline_topo_order",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"aggs": {"h": {"histogram": {"field": "n_chars", "interval": 100},
          | "aggs": {"srt": {"bucket_sort": {"sort": [{"cs": {"order": "desc"}}], "size": 4}},
          |          "cs": {"cumulative_sum": {"buckets_path": "_count"}}}}}}""".stripMargin)("h"),
      Some("""WITH b AS (
             |  SELECT CAST(floor(n_chars / 100.0) * 100.0 AS BIGINT) AS key, count(*) AS doc_count
             |  FROM documents GROUP BY key),
             |p AS (
             |  SELECT key, doc_count,
             |         round(CAST(sum(doc_count) OVER (ORDER BY key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS cs
             |  FROM b)
             |SELECT key, doc_count, cs FROM p ORDER BY cs DESC, key LIMIT 4""".stripMargin)),

    // Per-PARENT bucket_sort in the nested dashboard shape: ES truncates
    // EACH series' bucket list (a global limit starved whole series), and
    // a later-declared value pipe computes over the kept buckets in the
    // sorted per-series list order.
    Q("a247_es_json_nested_bucket_sort",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"aggs": {"by_lang": {"terms": {"field": "lang", "size": 50},
          | "aggs": {"h": {"histogram": {"field": "n_chars", "interval": 100},
          |   "aggs": {"srt": {"bucket_sort": {"sort": [{"doc_count": {"order": "desc"}}], "size": 2}},
          |            "cs": {"cumulative_sum": {"buckets_path": "_count"}}}}}}}}""".stripMargin)("by_lang"),
      Some("""WITH b AS (
             |  SELECT lang AS by_lang, CAST(floor(n_chars / 100.0) * 100.0 AS BIGINT) AS h,
             |         count(*) AS doc_count
             |  FROM documents GROUP BY 1, 2),
             |k AS (SELECT by_lang, h, doc_count,
             |        row_number() OVER (PARTITION BY by_lang ORDER BY doc_count DESC, h) AS rk
             |      FROM b)
             |SELECT by_lang, h, doc_count,
             |       round(CAST(sum(doc_count) OVER (PARTITION BY by_lang ORDER BY doc_count DESC, h
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS cs
             |FROM k WHERE rk <= 2 ORDER BY by_lang, doc_count DESC, h""".stripMargin)),

    // Painless widening 2 (VERDICT r16 item 3) — `params.*` bindings in
    // the two ends of the script surface: a parameterized script_fields
    // value and a parameterized filter-context script query, one request.
    Q("a248_es_json_painless_params",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {"filter": [{"script": {"script":
          |   {"source": "doc['n_chars'].value > params.min && doc['lang'].value != params.skip",
          |    "params": {"min": 300, "skip": "zz"}}}}]}},
          | "script_fields": {
          |   "scaled": {"script": {"source": "doc['n_chars'].value * params.factor + params.base",
          |              "params": {"factor": 2, "base": 10}}},
          |   "tag": {"script": {"source": "doc['lang'].value.equals(params.l) ? 'hit' : 'miss'",
          |           "params": {"l": "en"}}}},
          | "sort": ["doc_id"], "size": 60}""".stripMargin)
        .select("doc_id", "scaled", "tag"),
      Some("""SELECT doc_id, n_chars * 2 + 10 AS scaled,
             |       CASE WHEN lang = 'en' THEN 'hit' ELSE 'miss' END AS tag
             |FROM documents WHERE n_chars > 300 AND lang <> 'zz'
             |ORDER BY doc_id LIMIT 60""".stripMargin)),

    // Painless widening 2 — local variable declarations inlined before
    // the final (optionally `return`ed) expression, in script_fields and
    // in a script query.
    Q("a249_es_json_painless_locals",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"script": {"script":
          |   "def t = doc['n_chars'].value % 10; t >= 3 && t <= 7"}},
          | "script_fields": {
          |   "poly": {"script": "def r = doc['n_chars'].value / 100.0; def s2 = r * r; return s2 + r + 1"},
          |   "pick": {"script": "String p = doc['source'].value.substring(0, 3); p == 'src' ? p : doc['lang'].value"}},
          | "sort": ["doc_id"], "size": 80}""".stripMargin)
        .select("doc_id", "poly", "pick"),
      Some("""SELECT doc_id,
             |       round((n_chars/100.0)*(n_chars/100.0) + n_chars/100.0 + 1, 6) AS poly,
             |       CASE WHEN substring(source, 1, 3) = 'src' THEN substring(source, 1, 3) ELSE lang END AS pick
             |FROM documents WHERE (n_chars % 10) BETWEEN 3 AND 7
             |ORDER BY doc_id LIMIT 80""".stripMargin)),

    // Painless widening 2 — Joda date accessors on a date doc-value:
    // .millis property, getter methods incl. the Monday=1 getDayOfWeek
    // base (DuckDB's isodow shares it).
    Q("a250_es_json_painless_dates",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.orders(s, d),
        """{"query": {"script": {"script": {"source":
          |   "doc['o_orderdate'].value.getYear() == params.y", "params": {"y": 1995}}}},
          | "script_fields": {
          |   "ms": {"script": "doc['o_orderdate'].value.millis"},
          |   "ym": {"script": "doc['o_orderdate'].value.getYear() * 100 + doc['o_orderdate'].value.getMonthOfYear()"},
          |   "dow": {"script": "doc['o_orderdate'].value.getDayOfWeek()"},
          |   "doy": {"script": "doc['o_orderdate'].value.getDayOfYear()"}},
          | "sort": ["o_orderkey"], "size": 90}""".stripMargin)
        .select("o_orderkey", "ms", "ym", "dow", "doy"),
      Some("""SELECT o_orderkey, epoch_ms(o_orderdate) AS ms,
             |       year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             |       isodow(o_orderdate) AS dow, dayofyear(o_orderdate) AS doy
             |FROM orders WHERE year(o_orderdate) = 1995
             |ORDER BY o_orderkey LIMIT 90""".stripMargin)),

    // Painless widening 2 — a parameterized date-keyed terms script (the
    // computed-bucket-key context) and a parameterized metric script in
    // the same aggregation request.
    Q("a251_es_json_painless_terms_script",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.orders(s, d),
        """{"aggs": {"ym": {"terms": {
          |   "script": {"source": "doc['o_orderdate'].value.getYear() * 100 + doc['o_orderdate'].value.getMonthOfYear()"},
          |   "size": 200},
          | "aggs": {"rev": {"sum": {"script": {"source": "doc['o_totalprice'].value * params.rate",
          |                          "params": {"rate": 0.25}}}}}}}}""".stripMargin)("ym")
        .orderBy("key"),
      Some("""SELECT year(o_orderdate) * 100 + month(o_orderdate) AS key,
             |       count(*) AS doc_count,
             |       round(sum(o_totalprice * 0.25), 4) AS rev
             |FROM orders GROUP BY 1 ORDER BY key""".stripMargin)),

    // Painless widening 2 — parameterized _script sort (numeric type,
    // 6-dp engine-stable key) with locals in the sort script.
    Q("a252_es_json_painless_script_sort",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"term": {"lang": "de"}},
          | "sort": [{"_script": {"type": "number", "order": "desc",
          |   "script": {"source": "def m = doc['n_chars'].value % params.m; m * 2",
          |              "params": {"m": 13}}}}, "doc_id"],
          | "size": 40}""".stripMargin)
        .select("doc_id", "n_chars"),
      Some("""SELECT doc_id, n_chars FROM documents WHERE lang = 'de'
             |ORDER BY (n_chars % 13) * 2 DESC, doc_id LIMIT 40""".stripMargin)),

    // Painless widening 2 — params + equals in _update_by_query's
    // assignment context (ctx._source targets compose with params).
    Q("a253_es_json_painless_update_params",
      (s, d) => graft.dsl.EsQueryJson.updateByQuery(
        Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars"),
        """{"query": {"term": {"lang": "fr"}},
          | "script": {"source": "ctx._source.n_chars = ctx._source.n_chars * params.f + params.b",
          |            "params": {"f": 3, "b": 7}}}""".stripMargin)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source,
             |       CASE WHEN lang = 'fr' THEN n_chars * 3 + 7 ELSE n_chars END AS n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Multi-index wildcard resolution (VERDICT r16 item 6): `docs-*`
    // expands against the registry; the union frame's BM25 stats come
    // from the COMBINED corpus, so with partitioning indices the scores
    // equal the single-table stats (the a179 contract, now via the
    // resolver instead of a hand-built union).
    Q("a255_es_json_multi_index_wildcard",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val registry = Seq("en", "de", "fr", "zh", "es").map(l =>
          s"docs-$l" -> docs.filter(col("lang") === l)).toMap
        graft.dsl.EsQueryJson.search(
          graft.dsl.EsIndices.resolve(registry, "docs-*"),
          """{"query": {"match": {"text": "vector"}},
            | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
          .select(col("doc_id"), col("_index"), col("_score").as("score"))
      },
      Some(bm25Sql(Seq("vector"), extraCols = Seq("lang")) +
        """
          |SELECT doc_id, 'docs-' || lang AS _index, score
          |FROM sc WHERE score > 0
          |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // Multi-index comma list + `-pattern` exclusion, consumed by an
    // aggregation keyed on `_index` (the cross-index dashboard shape).
    Q("a256_es_json_multi_index_exclusion",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val registry = Seq("en", "de", "fr", "zh", "es").map(l =>
          s"docs-$l" -> docs.filter(col("lang") === l)).toMap
        graft.dsl.EsQueryJson.aggregations(
          graft.dsl.EsIndices.resolve(registry, "docs-*,-docs-z*"),
          """{"aggs": {"by_idx": {"terms": {"field": "_index", "size": 10},
            | "aggs": {"nc": {"avg": {"field": "n_chars"}}}}}}""".stripMargin)("by_idx")
          .orderBy("key")
      },
      Some("""SELECT 'docs-' || lang AS key, count(*) AS doc_count,
             |       round(avg(n_chars), 6) AS nc
             |FROM documents WHERE lang NOT LIKE 'z%'
             |GROUP BY 1 ORDER BY key""".stripMargin)),

    // Painless widening 2 — scripted_metric with agg-level `params`
    // shared by the map/reduce scripts (the ES 6.5 shape), plus a local
    // declaration inside the map expression's value.
    Q("a257_es_json_scripted_metric_params",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"aggs": {"by_lang": {"terms": {"field": "lang", "size": 10},
          |  "aggs": {"wsum": {"scripted_metric": {
          |    "init_script": "state.t = 0",
          |    "map_script": "state.t += doc['n_chars'].value > params.cut ? doc['n_chars'].value * params.w : 0",
          |    "combine_script": "return state",
          |    "reduce_script": "return states.t / params.div",
          |    "params": {"cut": 250, "w": 2, "div": 10.0}}}}}}}""".stripMargin)("by_lang")
        .orderBy("key"),
      Some("""SELECT lang AS key, count(*) AS doc_count,
             |       round(sum(CASE WHEN n_chars > 250 THEN n_chars * 2 ELSE 0 END) / 10.0, 6) AS wsum
             |FROM documents GROUP BY key ORDER BY key""".stripMargin)),

    // moving_fn with the ES shift frame: default shift 0 EXCLUDES the
    // current bucket (frame [-window, -1]); shift = 1 slides one right
    // (frame [-window+1, 0], trailing-inclusive). Window aggregates over
    // an empty leading frame emit nothing. Pinned at the corpus level —
    // previously only the pipeline-differential spec exercised moving_fn.
    Q("a239_es_json_moving_fn_shift",
      (s, d) => graft.dsl.EsQueryJson.aggregations(Tables.documents(s, d),
        """{"aggs": {"h": {"histogram": {"field": "n_chars", "interval": 50},
          | "aggs": {"mx": {"moving_fn": {"buckets_path": "_count", "window": 3,
          |                 "script": "MovingFunctions.max(values)"}},
          |          "sm": {"moving_fn": {"buckets_path": "_count", "window": 2, "shift": 1,
          |                 "script": "MovingFunctions.sum(values)"}}}}}}""".stripMargin)("h"),
      Some("""WITH b AS (
             |  SELECT CAST(floor(n_chars / 50.0) * 50.0 AS BIGINT) AS key, count(*) AS doc_count
             |  FROM documents GROUP BY key)
             |SELECT key, doc_count,
             |       round(max(doc_count) OVER (ORDER BY key ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4) AS mx,
             |       round(sum(doc_count) OVER (ORDER BY key ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), 4) AS sm
             |FROM b ORDER BY key""".stripMargin)),

    // INDEX-TIME edge_ngram — the canonical ES autocomplete mapping
    // (custom analyzer with the edge_ngram filter on the field, explicit
    // search_analyzer: standard). Search-as-you-type: the typed prefixes
    // "spa"/"st" term-match the stored gram stream, with REAL BM25 stats
    // over it — gram df (how many docs contain a token with that prefix),
    // gram tf (prefix multiplicity), and dl inflated to the gram count —
    // none of which a search-time prefix/wildcard query produces. Oracle
    // replays the expansion (prefixes of length [2, min(6, len)]) and the
    // a197 BM25 form over it. Reference surface: ES 6.5 ships the filter
    // built-in (`pom.xml:25-26` pins the delegated version).
    Q("a240_es_json_edge_ngram_autocomplete",
      (s, d) => graft.dsl.EsQueryJson.withEdgeNgrams("ac", minGram = 2, maxGram = 6) {
        graft.dsl.EsQueryJson.withIndexAnalyzer("text", "ac") {
          graft.dsl.EsQueryJson.search(Tables.documents(s, d),
            """{"query": {"match": {"text": "spa st"}},
              | "sort": ["_score", "doc_id"], "size": 25}""".stripMargin)
            .select(col("doc_id"), col("_score").as("score"))
        }
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |e AS (SELECT doc_id,
             |        flatten(list_transform(w, tok ->
             |          list_transform(generate_series(2, least(6, len(tok))), n -> tok[1:n]))) AS toks
             |      FROM t),
             |f AS (SELECT doc_id,
             |        CAST(len(list_filter(toks, x -> x = 'spa')) AS DOUBLE) AS tf0,
             |        CAST(len(list_filter(toks, x -> x = 'st')) AS DOUBLE) AS tf1,
             |        CAST(len(toks) AS DOUBLE) AS dl
             |      FROM e),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             |              CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |              CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
             |       FROM f),
             |sc AS (SELECT doc_id,
             |         round(CASE WHEN tf0 > 0 THEN ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0*(1.2+1))/(tf0 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)) ELSE 0 END
             |             + CASE WHEN tf1 > 0 THEN ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1*(1.2+1))/(tf1 + 1.2*(1 - 0.75 + 0.75*dl/avgdl)) ELSE 0 END, 6) AS score
             |       FROM f CROSS JOIN st WHERE tf0 > 0 OR tf1 > 0)
             |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 25""".stripMargin)),

    // Widened painless subset, context 1 — script_fields: string methods
    // (substring with Java's 0-based end-exclusive offsets, contains),
    // ternary with STRING arms, Math.min/log. The compiled columns are
    // codegen'd expressions (no interpreter); non-double outputs pass
    // through unrounded.
    Q("a241_es_json_painless_script_fields",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"term": {"lang": "en"}},
          | "script_fields": {
          |   "src_tail": {"script": "doc['source'].value.substring(3)"},
          |   "has1": {"script": "doc['source'].value.contains('1') ? 'yes' : 'no'"},
          |   "cap": {"script": "Math.min(doc['n_chars'].value, 500)"},
          |   "lg": {"script": "Math.log(doc['n_chars'].value + 1)"}},
          | "sort": ["doc_id"], "size": 50}""".stripMargin)
        .select("doc_id", "src_tail", "has1", "cap", "lg"),
      Some("""SELECT doc_id, substring(source, 4) AS src_tail,
             |       CASE WHEN contains(source, '1') THEN 'yes' ELSE 'no' END AS has1,
             |       least(n_chars, 500) AS cap, round(ln(n_chars + 1), 6) AS lg
             |FROM documents WHERE lang = 'en' ORDER BY doc_id LIMIT 50""".stripMargin)),

    // Widened painless subset, context 2 — filter-context script query:
    // a ternary whose arms are a numeric comparison and a string
    // startsWith — one codegen'd predicate, pushdown-friendly.
    Q("a242_es_json_painless_script_query",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"bool": {"filter": [{"script": {"script":
          |   "doc['lang'].value == 'en' ? doc['n_chars'].value > 600 : doc['source'].value.startsWith('src1')"
          | }}]}},
          | "sort": ["doc_id"], "size": 10000}""".stripMargin)
        .select("doc_id", "lang", "source", "n_chars"),
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
             |WHERE CASE WHEN lang = 'en' THEN n_chars > 600
             |           ELSE starts_with(source, 'src1') END
             |ORDER BY doc_id LIMIT 10000""".stripMargin)),

    // Widened painless subset, context 3 — script_score: Math.log and a
    // ternary multiplier inside the function_score fold (a96's shape).
    Q("a243_es_json_painless_script_score",
      (s, d) => graft.dsl.EsQueryJson.search(Tables.documents(s, d),
        """{"query": {"function_score": {
          |   "query": {"match": {"text": "spark"}},
          |   "functions": [{"script_score": {"script": {
          |      "source": "Math.log(1 + doc['n_chars'].value) * (doc['lang'].value == 'en' ? 2 : 1)"}}}],
          |   "boost_mode": "multiply"}},
          | "sort": [{"_score": {}}, "doc_id"], "size": 25}""".stripMargin)
        .select(col("doc_id"), col("_score").as("fscore")),
      Some(bm25Sql(Seq("spark"), extraCols = Seq("n_chars", "lang")) +
        """
          |SELECT doc_id, round(score * (ln(1 + n_chars) * (CASE WHEN lang = 'en' THEN 2 ELSE 1 END)), 6) AS fscore
          |FROM sc WHERE score > 0
          |ORDER BY fscore DESC, doc_id LIMIT 25""".stripMargin)),

    // Widened painless subset, context 4 — bucket_script: ternary +
    // Math.sqrt over buckets_path params (pipeline position).
    Q("a244_es_json_painless_bucket_script",
      (s, d) => graft.dsl.EsQueryJson.aggregations(ord(s, d),
        """{"aggs": {"by_m": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          | "aggs": {"rev": {"sum": {"field": "o_totalprice"}},
          |          "shaped": {"bucket_script": {
          |             "buckets_path": {"r": "rev"},
          |             "script": "params.r > 100000 ? Math.sqrt(params.r) : params.r / 1000.0"}}}}}}""".stripMargin)("by_m"),
      Some("""WITH b AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS key,
             |         count(*) AS doc_count, round(sum(o_totalprice), 4) AS rev
             |  FROM orders GROUP BY key)
             |SELECT key, doc_count, rev,
             |       CAST(round(CASE WHEN rev > 100000 THEN sqrt(rev) ELSE rev / 1000.0 END, 6) AS DOUBLE) AS shaped
             |FROM b ORDER BY key""".stripMargin)),

    // _rank_eval edge shapes the a126 row cannot see (differential find,
    // EsApiDifferentialSpec): a hit list SHORTER than k (precision's
    // denominator is the RETRIEVED count — ES's PrecisionAtK contract)
    // and a body size PAST k (metrics consider the top k hits only).
    Q("a245_es_json_rank_eval_short_and_overfetch",
      (s, d) => {
        val o = ord(s, d)
        def body(pri: String, size: Int) =
          s"""{"query": {"term": {"o_orderpriority": "$pri"}},
             | "sort": [{"o_totalprice": {"order": "desc"}}, "o_orderkey"],
             | "size": $size}""".stripMargin
        val rating = when(col("o_totalprice") > 250000, 3)
          .when(col("o_totalprice") > 200000, 2)
          .when(col("o_totalprice") > 150000, 1).otherwise(0)
        def rated(name: String, pri: String) =
          o.filter(col("o_orderpriority") === pri)
            .select(lit(name).as("request"), col("o_orderkey").as("doc"),
              rating.as("rating"))
            .filter(col("rating") > 0)
        graft.dsl.EsQueryJson.rankEval(o,
          Seq(
            ("overfetch", body("2-HIGH", 15),
              Seq(col("o_totalprice").desc, col("o_orderkey").asc)),
            ("shortlist", body("1-URGENT", 6),
              Seq(col("o_totalprice").desc, col("o_orderkey").asc))),
          idCol = "o_orderkey",
          ratings = rated("shortlist", "1-URGENT").unionByName(rated("overfetch", "2-HIGH")),
          k = 10)
      },
      Some("""WITH hits AS (
             |  SELECT * FROM (
             |    SELECT 'shortlist' AS request, o_orderkey AS doc, o_totalprice,
             |           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rank
             |    FROM orders WHERE o_orderpriority = '1-URGENT') WHERE rank <= 6
             |  UNION ALL
             |  SELECT * FROM (
             |    SELECT 'overfetch' AS request, o_orderkey AS doc, o_totalprice,
             |           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rank
             |    FROM orders WHERE o_orderpriority = '2-HIGH') WHERE rank <= 15),
             |r AS (SELECT request, rank,
             |             CASE WHEN o_totalprice > 250000 THEN 3
             |                  WHEN o_totalprice > 200000 THEN 2
             |                  WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS rating
             |      FROM hits WHERE rank <= 10)
             |SELECT request,
             |       round(sum(CASE WHEN rating > 0 THEN 1.0 ELSE 0.0 END) / count(*), 6) AS "precision",
             |       round(COALESCE(max(CASE WHEN rating > 0 THEN 1.0 / rank END), 0.0), 6)
             |         AS reciprocal_rank,
             |       round(sum(CASE WHEN rating > 0
             |                 THEN (pow(2.0, rating) - 1) / log2(rank + 1.0)
             |                 ELSE 0.0 END), 6) AS dcg
             |FROM r GROUP BY request ORDER BY request""".stripMargin)),
  )
}

/** `_render/template` fixture: inline templates with string and numeric
  * params; expected renderings are hand-derived analytic pins. */
private[queries] object RenderFixture {
  val cases: Seq[(String, String, String)] = Seq(
    ("t1_string_param",
      """{"source": "{\"query\": {\"term\": {\"lang\": \"{{lang}}\"}}}",
        | "params": {"lang": "en"}}""".stripMargin,
      """{"query": {"term": {"lang": "en"}}}"""),
    ("t2_numeric_params",
      """{"source": "{\"query\": {\"range\": {\"n_chars\": {\"gte\": {{lo}}, \"lt\": {{hi}}}}}, \"size\": {{k}}}",
        | "params": {"lo": 10, "hi": 500, "k": 7}}""".stripMargin,
      """{"query": {"range": {"n_chars": {"gte": 10, "lt": 500}}}, "size": 7}"""),
    ("t3_repeated_param",
      """{"source": "{\"query\": {\"multi_match\": {\"query\": \"{{q}}\", \"fields\": [\"text\"]}}, \"highlight\": {\"fields\": {\"text\": {}}}, \"_name\": \"{{q}}\"}",
        | "params": {"q": "spark"}}""".stripMargin,
      """{"query": {"multi_match": {"query": "spark", "fields": ["text"]}}, "highlight": {"fields": {"text": {}}}, "_name": "spark"}"""))
  val templates: Seq[(String, String)] = cases.map { case (i, t, _) => (i, t) }
  val expected: Seq[(String, String)] = cases.map { case (i, _, r) => (i, r) }
}

/** `_validate/query` fixture: bodies spanning the four outcome classes,
  * with hand-derived expected classifications (analytic pins). */
private[queries] object ValidateFixture {
  val cases: Seq[(String, String, String)] = Seq(
    ("q1_ok_term", """{"query": {"term": {"lang": "en"}}}""", "ok"),
    ("q2_ok_bool_aggs",
      """{"query": {"bool": {"must": [{"match": {"text": "spark"}}],
        | "filter": [{"range": {"n_chars": {"gte": 10}}}]}},
        | "aggs": {"by_lang": {"terms": {"field": "lang"}}}}""".stripMargin, "ok"),
    ("q3_parse_error", """{"query": {"term": {"lang": "en"}""", "parse_error"),
    ("q4_unknown_kind", """{"query": {"frobnicate": {"lang": "en"}}}""", "invalid_query"),
    ("q5_unknown_field", """{"query": {"term": {"nope_field": "x"}}}""", "unknown_field"),
    ("q6_bad_sort_mode",
      """{"query": {"match_all": {}}, "sort": [{"n_chars": {"mode": "frob"}}]}""",
      "invalid_query"),
    ("q7_ok_sorted_page",
      """{"query": {"match_phrase": {"text": "spark engine"}},
        | "sort": ["_score", "doc_id"], "from": 2, "size": 5}""".stripMargin, "ok"),
    // found by EsJsonFuzzSpec (round 14): a malformed regexp used to
    // classify ok (rlike compiles task-side) and explode at execution;
    // ES rejects it at parse time — now an eager Pattern.compile
    ("q8_bad_regexp", """{"query": {"regexp": {"lang": "[a-"}}}""", "invalid_query"),
    // found by EsJsonFuzzSpec (round 14): a junk bound against a numeric
    // field used to classify ok (lazy ANSI cast) and explode at
    // execution; ES coerces numeric strings and rejects junk at parse
    ("q9_bad_numeric_bound",
      """{"query": {"range": {"n_chars": {"gte": "abc"}}}}""", "invalid_query"),
    ("q9b_coerced_numeric_bound",
      """{"query": {"range": {"n_chars": {"gte": "50"}}}}""", "ok"))
  val bodies: Seq[(String, String)] = cases.map { case (q, b, _) => (q, b) }
  val expected: Seq[(String, String)] =
    cases.map { case (q, _, cls) => (q, cls) }.sortBy(_._1)
}

/** The OSA-vs-true-DL corner-case fixture: pairs with hand-derived
  * (independently recomputed) OSA distances. The divergent rows are the
  * "ca"→"abc" family, where true DL transposes then inserts BETWEEN the
  * transposed pair — which OSA (Lucene's automata) forbids. */
private[queries] object OsaFixture {
  val osaPins: Map[(String, String), Int] = Map(
    ("ca", "abc") -> 3, ("ab", "ba") -> 1, ("ab", "bca") -> 3,
    ("abc", "ca") -> 3, ("high", "hgih") -> 1, ("sprk", "spark") -> 1,
    ("querry", "query") -> 1, ("abcd", "badc") -> 2, ("abcd", "acbd") -> 1,
    ("xy", "yxz") -> 2, ("hello", "ehllo") -> 1, ("table", "tbale") -> 1,
    ("za", "abz") -> 3, ("tabel", "table") -> 1, ("acre", "race") -> 2)
  val pairs: Seq[(String, String)] = osaPins.keys.toSeq.sorted
}

/** Deterministic `_bulk` fixture over the documents table: one action
  * class per id mod 5 + created-new and update-missing id ranges; the
  * standing index is `documents(doc_id < 40)` as `{lang: <lang>}` docs. */
private[queries] object EsBulkFixture {
  import graft.dsl.EsBulk

  private def lines(s: SparkSession): DataFrame = {
    import s.implicits._
    val ls = (0L until 40L).flatMap { id =>
      val a = 2 * id
      (id % 5) match {
        case 0 => Seq((a, s"""{"delete": {"_id": $id}}"""))
        case 1 => Seq((a, s"""{"index": {"_id": $id}}"""), (a + 1, s"""{"v": "new-$id"}"""))
        case 2 => Seq((a, s"""{"update": {"_id": $id}}"""), (a + 1, s"""{"doc": {"u": "u1"}}"""))
        case 3 => Seq((a, s"""{"create": {"_id": $id}}"""), (a + 1, s"""{"v": "dup-$id"}"""))
        case _ => Seq.empty
      }
    } ++ (100L to 104L).flatMap(id =>
      Seq((2 * id, s"""{"create": {"_id": $id}}"""), (2 * id + 1, s"""{"v": "made-$id"}"""))) ++
      (1000L to 1004L).flatMap(id =>
        Seq((2 * id, s"""{"update": {"_id": $id}}"""), (2 * id + 1, s"""{"doc": {"u": "u1"}}"""))) ++
      // the reference's actual wire shape: update + doc_as_upsert on a
      // MISSING id creates instead of 404ing
      (2000L to 2004L).flatMap(id =>
        Seq((2 * id, s"""{"update": {"_id": $id}}"""),
          (2 * id + 1, s"""{"doc": {"u": "up-$id"}, "doc_as_upsert": true}""")))
    ls.toDF("seq", "value")
  }

  private def standing(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < 40)
      .select(col("doc_id").as("id"), map(lit("lang"), col("lang")).as("doc"))

  def items(s: SparkSession, d: String): DataFrame =
    EsBulk.items(standing(s, d), EsBulk.parse(lines(s)))

  def state(s: SparkSession, d: String): DataFrame =
    EsBulk.state(standing(s, d), EsBulk.parse(lines(s)))
}

/** `_bulk` SCRIPTED-update fixture (a202/a203): the update-envelope
  * surface beyond partial docs — `script` (painless-subset Long
  * arithmetic, incl. truncating division), doc-valued `upsert` with and
  * without `scripted_upsert`, partial-doc + `upsert`, and
  * `retry_on_conflict` (accepted, no relational effect). Standing docs
  * carry `n` = n_chars as a numeric string so the DuckDB oracle replays
  * every script result arithmetically. */
private[queries] object EsBulkScriptFixture {
  import graft.dsl.EsBulk

  private val doubler = """ctx._source.n = ctx._source.n * 2 + 10"""
  private val quarter = """ctx._source.n = (ctx._source.n + 3) / 4"""

  private def lines(s: SparkSession): DataFrame = {
    import s.implicits._
    val ls = (0L until 30L).flatMap { id =>
      val a = 2 * id
      (id % 3) match {
        case 0 => Seq((a, s"""{"update": {"_id": $id}}"""),
          (a + 1, s"""{"script": {"source": "$doubler"}, "retry_on_conflict": 2}"""))
        case 1 => Seq((a, s"""{"update": {"_id": $id}}"""),
          // doc + doc-valued upsert on an EXISTING id: upsert ignored, doc merges
          (a + 1, s"""{"doc": {"u": "x"}, "upsert": {"n": "1"}}"""))
        case _ => Seq((a, s"""{"update": {"_id": $id}}"""),
          (a + 1, s"""{"script": {"source": "$quarter"}}"""))
      }
    } ++ (40L to 44L).flatMap(id => // script, missing id, no upsert -> 404
      Seq((2 * id, s"""{"update": {"_id": $id}}"""),
        (2 * id + 1, s"""{"script": {"source": "$doubler"}}"""))) ++
      (50L to 54L).flatMap(id => // upsert doc indexed AS-IS, script not run
        Seq((2 * id, s"""{"update": {"_id": $id}}"""),
          (2 * id + 1, s"""{"script": {"source": "$doubler"}, "upsert": {"n": "7"}}"""))) ++
      (60L to 64L).flatMap(id => // scripted_upsert: script runs over the upsert doc
        Seq((2 * id, s"""{"update": {"_id": $id}}"""),
          (2 * id + 1,
            s"""{"script": {"source": "$doubler"}, "upsert": {"n": "7"}, "scripted_upsert": true}"""))) ++
      (70L to 74L).flatMap(id => // partial doc + upsert on missing id: upsert wins as-is
        Seq((2 * id, s"""{"update": {"_id": $id}}"""),
          (2 * id + 1, s"""{"doc": {"u": "x"}, "upsert": {"n": "1", "w": "z"}}"""))) ++
      (80L to 84L).flatMap { id => // detect_noop (default): unchanged merge -> noop
        val b = 1000 + 10 * (id - 80)
        Seq((b, s"""{"update": {"_id": $id}}"""),
          (b + 1, s"""{"doc": {"u": "x"}, "doc_as_upsert": true}"""), // created
          (b + 2, s"""{"update": {"_id": $id}}"""),
          (b + 3, s"""{"doc": {"u": "x"}}"""), // identical merge -> noop
          (b + 4, s"""{"update": {"_id": $id}}"""),
          (b + 5, s"""{"doc": {"u": "y"}}""")) // changes -> updated
      } ++
      (90L to 94L).flatMap { id => // detect_noop: false forces the write
        val b = 2000 + 10 * (id - 90)
        Seq((b, s"""{"update": {"_id": $id}}"""),
          (b + 1, s"""{"doc": {"u": "x"}, "doc_as_upsert": true}"""),
          (b + 2, s"""{"update": {"_id": $id}}"""),
          (b + 3, s"""{"doc": {"u": "x"}, "detect_noop": false}""")) // forced "updated"
      }
    ls.toDF("seq", "value")
  }

  private def standing(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < 30)
      .select(col("doc_id").as("id"),
        map(lit("lang"), col("lang"),
          lit("n"), col("n_chars").cast("string")).as("doc"))

  def items(s: SparkSession, d: String): DataFrame =
    EsBulk.items(standing(s, d), EsBulk.parse(lines(s)))

  def state(s: SparkSession, d: String): DataFrame =
    EsBulk.state(standing(s, d), EsBulk.parse(lines(s)))
}
