package graft.queries

import graft.ext.{Corpus, Dedup, Sessionize, Similarity, Sketch, TextAnalysis}
import graft.functions.Hashing
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier C corpus (SURVEY.md §2 C1–C6 + the LLM-training-data operators from
  * the north star): dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), similarity search (brute-force + IVF), text analysis
  * (lang-ID, quality, tokens, fingerprint, tf-idf), sessionization,
  * event-time windows, multimodal binary columns. Every oracle reproduces
  * the Spark pipeline bit-for-bit in DuckDB (shared md5-based hashing,
  * same-order double arithmetic).
  */
object TierC {

  // ---------- shared DuckDB SQL fragments ------------------------------
  private val toksCte =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
      |  FROM documents
      |)""".stripMargin

  /** Shared SentencePiece Viterbi-DP CTE block (the c112/c119/c127
    * machinery): forward best-score DP over word TYPES under the logp
    * table `lpName`, backtrace, and the corpus-weighted Viterbi piece
    * counts as `mc_<sfx>`. Every stage is MATERIALIZED — the backtrace
    * references each level from several successors and un-materialized
    * CTEs re-evaluate multiplicatively (the c126 lesson). */
  private def spDpBlock(sfx: String, lpName: String, maxJ: Int = 12,
                        pieceLen: Int = 4): String = {
    val fwd = (1 to maxJ).map { j =>
      val branches = (1 to math.min(pieceLen, j)).map { l =>
        val i = j - l
        s"""    SELECT w.word, w.wcnt, v.s + lp.logp AS cs, $l AS plen, lp.piece
           |    FROM wt w JOIN v${i}_$sfx v ON v.word = w.word
           |              JOIN $lpName lp ON lp.piece = substr(w.word, ${i + 1}, $l)
           |    WHERE len(w.word) >= $j""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""v${j}_$sfx AS MATERIALIZED (
         |  SELECT word, wcnt, cs AS s, plen, piece FROM (
         |$branches)
         |  QUALIFY row_number() OVER (PARTITION BY word ORDER BY cs DESC, plen DESC) = 1)""".stripMargin
    }.mkString(",\n")
    val vall = (1 to maxJ).map(j =>
      s"SELECT $j AS j, word, plen, piece FROM v${j}_$sfx").mkString("\n  UNION ALL ")
    val back = (1 to maxJ).map { k =>
      s"""b${k}_$sfx AS MATERIALIZED (
         |  SELECT b.word, b.wcnt,
         |         CASE WHEN b.cur > 0 THEN b.cur - v.plen ELSE 0 END AS cur,
         |         CASE WHEN b.cur > 0 THEN list_prepend(v.piece, b.ps) ELSE b.ps END AS ps
         |  FROM b${k - 1}_$sfx b LEFT JOIN vall_$sfx v ON v.word = b.word AND v.j = b.cur)""".stripMargin
    }.mkString(",\n")
    s"""v0_$sfx AS (SELECT word, wcnt, CAST(0 AS DOUBLE) AS s FROM wt),
       |$fwd,
       |vall_$sfx AS MATERIALIZED (
       |  $vall),
       |b0_$sfx AS (SELECT word, wcnt, len(word) AS cur, []::VARCHAR[] AS ps FROM wt),
       |$back,
       |mc_$sfx AS MATERIALIZED (
       |  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS vit
       |  FROM (SELECT wcnt, unnest(ps) AS piece FROM b${maxJ}_$sfx) GROUP BY piece)""".stripMargin
  }

  private val gramsCte =
    """grams AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(generate_series(1, len(w)-2),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [] END AS grams
      |  FROM toks
      |)""".stripMargin

  /** Same-order double cosine: Spark `aggregate(zip_with(...))` ==
    * DuckDB `list_sum(list_transform(...))` — identical fold order. */
  private def sqlCos(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
    s"round(${d(a, b)} / (sqrt(${d(a, a)}) * sqrt(${d(b, b)})), 6)"
  }

  /** DuckDB replay of [[Similarity.kmeansFit]] (k clusters, hash-seeded
    * init, 2 Lloyd rounds, 6-dp re-sync): CTE chain ending in
    * `a2(vec_id, v, cluster)` (final assignment) and `c2(cluster, cvec)`
    * (final centroids). Shared by c32 (fit output) and c36 (SemDeDup). */
  /** Unrolled full-batch logistic-regression training (5 iterations,
    * lr=8, dim hash buckets, CENTERED presence features, y = lexical
    * diversity >= 26 distinct tokens) — the DuckDB twin of
    * [[graft.ext.Classifier.trainLogReg]]. Same determinism protocol as
    * the k-means CTEs: per-doc dots, probabilities, the centering scalar,
    * and all gradient aggregates round to 6 dp, so both engines re-sync
    * each iteration. Ends with CTEs `mm` (fidx → μ), `w5` (fidx →
    * weight) and `bb5` (bias). */
  private def logRegSqlCtes(dim: Int): String = {
    val h = s"(${Hashing.sqlMd5Long60("tok")} % $dim)"
    def iter(i: Int): String = {
      val (pw, pb) = (s"w${i - 1}", s"bb${i - 1}")
      s"""cc$i AS MATERIALIZED (SELECT round(COALESCE(sum(m * wv), 0.0), 6) AS c
         |         FROM mm JOIN $pw USING (fidx)),
         |d$i AS (
         |  SELECT f.doc_id, f.y, round(sum(COALESCE(wp.wv, 0.0)), 6) AS dots
         |  FROM f LEFT JOIN $pw wp USING (fidx) GROUP BY f.doc_id, f.y),
         |p$i AS MATERIALIZED (
         |  SELECT doc_id, y,
         |         round(1.0/(1.0 + exp(-(dots - (SELECT c FROM cc$i)
         |           + (SELECT b FROM $pb)))), 6) - y AS err
         |  FROM d$i),
         |se$i AS MATERIALIZED (SELECT round(sum(err) / (SELECT nd FROM nn), 6) AS s FROM p$i),
         |g$i AS (
         |  SELECT fidx, round(sum(p$i.err) / (SELECT nd FROM nn), 6) AS g
         |  FROM f JOIN p$i USING (doc_id) GROUP BY fidx),
         |w$i AS MATERIALIZED (
         |  SELECT mm.fidx,
         |         COALESCE(wp.wv, 0.0)
         |           - 8.0 * (COALESCE(g$i.g, 0.0) - mm.m * (SELECT s FROM se$i)) AS wv
         |  FROM mm LEFT JOIN $pw wp USING (fidx) LEFT JOIN g$i USING (fidx)),
         |bb$i AS MATERIALIZED (SELECT (SELECT b FROM $pb) - 8.0 * (SELECT s FROM se$i) AS b)""".stripMargin
    }
    s"""t00 AS MATERIALIZED (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w
       |  FROM documents),
       |t0 AS (
       |  SELECT doc_id, CASE WHEN len(list_distinct(w)) >= 26 THEN 1.0 ELSE 0.0 END AS y, w
       |  FROM t00),
       |f AS MATERIALIZED (SELECT DISTINCT doc_id, y, $h AS fidx
       |      FROM (SELECT doc_id, y, unnest(w) AS tok FROM t0)),
       |nn AS MATERIALIZED (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM f),
       |mm AS MATERIALIZED (SELECT fidx, round(count(*) / (SELECT nd FROM nn), 6) AS m
       |       FROM f GROUP BY fidx),
       |w0 AS (SELECT fidx, 0.0 AS wv FROM mm),
       |bb0 AS (SELECT 0.0 AS b),
       |${(1 to 5).map(iter).mkString(",\n")}""".stripMargin
  }

  private def kmeansSqlCtes(k: Int): String = {
    val h = Hashing.sqlMd5Long60("CAST(vec_id AS VARCHAR)")
    def dist(c: String) =
      s"round(list_sum(list_transform(generate_series(1, len(v)), i -> (v[i] - $c.cvec[i]) * (v[i] - $c.cvec[i]))), 6)"
    def assign(cents: String) =
      s"""SELECT vec_id, v, cluster FROM (
         |    SELECT vec_id, v, $cents.cluster AS cluster, ${dist(cents)} AS d
         |    FROM v CROSS JOIN $cents)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1""".stripMargin
    def update(asg: String) =
      s"""SELECT cluster, list(m ORDER BY dim) AS cvec FROM (
         |    SELECT cluster, dim, round(avg(x), 6) AS m FROM (
         |      SELECT cluster, unnest(generate_series(1, len(v))) AS dim, unnest(v) AS x
         |      FROM $asg) GROUP BY cluster, dim) GROUP BY cluster""".stripMargin
    s"""v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |init AS (
       |  SELECT CAST(row_number() OVER (ORDER BY $h, vec_id) AS INT) AS cluster, v AS cvec
       |  FROM v QUALIFY row_number() OVER (ORDER BY $h, vec_id) <= $k),
       |a1 AS (${assign("init")}),
       |c1 AS (${update("a1")}),
       |a2 AS (${assign("c1")}),
       |c2 AS (${update("a2")})""".stripMargin
  }

  private[queries] val NUM_HASHES = 16
  private[queries] val BAND_SIZE = 2
  private[queries] val annQids = Seq(5L, 123L, 240L)

  private def lshPairs(s: SparkSession, d: String): DataFrame =
    Fixtures.lshPairsAll(s, d).filter(col("jac") >= 0.5)

  /** Build and materialize every shared input in [[Fixtures.all]] (the
    * bench warm-up hook, so per-query numbers don't depend on which member
    * of a fixture-sharing family runs first). Returns each fixture's wall
    * seconds, in registry order. */
  def warmShared(s: SparkSession, d: String): Seq[(String, Double)] =
    Fixtures.warmAll(s, d)

  private val sigCte = {
    val hs = (0 until NUM_HASHES)
      .map(i => s"min(${Hashing.sqlSeeded(i, "g")}) AS h$i").mkString(",\n         ")
    s"""gx AS (SELECT doc_id, unnest(grams) AS g FROM grams),
       |sig AS (
       |  SELECT doc_id,
       |         $hs
       |  FROM gx GROUP BY doc_id
       |)""".stripMargin
  }

  private val bandsCte = {
    val arms = (0 until NUM_HASHES / BAND_SIZE).map { j =>
      val parts = (0 until BAND_SIZE).map(o => s"CAST(h${j * BAND_SIZE + o} AS VARCHAR)")
      s"WHEN $j THEN md5(${parts.mkString(" || ',' || ")})"
    }.mkString(" ")
    s"""bands AS (
       |  SELECT doc_id, j, CASE j $arms END AS band
       |  FROM sig, range(0, ${NUM_HASHES / BAND_SIZE}) s(j)
       |)""".stripMargin
  }

  private val simhashSigSql =
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(w) AS t FROM toks),
       |th AS (SELECT doc_id, ${Hashing.sqlMd5Long60("t")} AS h FROM tok),
       |bits AS (SELECT doc_id, h, j FROM th, range(0, 60) s(j)),
       |votes AS (
       |  SELECT doc_id, j, sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM bits GROUP BY doc_id, j
       |),
       |sig AS (
       |  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id
       |)""".stripMargin

  private val langScoreSql = {
    val scores = TextAnalysis.langMarkers.map { case (l, ms) =>
      s"len(list_filter(w, t -> t IN (${ms.map(m => s"'$m'").mkString(",")}))) AS s_$l"
    }.mkString(",\n         ")
    val mx = s"greatest(${TextAnalysis.langMarkers.map(l => s"s_${l._1}").mkString(", ")})"
    val pred = TextAnalysis.langMarkers.map { case (l, _) =>
      s"WHEN mx > 0 AND s_$l = mx THEN '$l'"
    }.mkString(" ")
    s"""scores AS (
       |  SELECT doc_id,
       |         $scores
       |  FROM toks
       |), pred AS (
       |  SELECT doc_id, CASE $pred ELSE 'und' END AS pred_lang
       |  FROM (SELECT *, $mx AS mx FROM scores)
       |)""".stripMargin
  }

  // ---------- corpus ---------------------------------------------------
  val all: Seq[Q] = Seq(

    Q("c01_dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d),
        Seq(col("lang"), col("source")), col("doc_id"))
        .orderBy("lang", "source"),
      Some("""SELECT lang, source, min(doc_id) AS keep_id, count(*) AS n_dups
             |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    Q("c02_minhash_lsh",
      (s, d) => lshPairs(s, d).orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH $toksCte,
           |$gramsCte,
           |$sigCte,
           |$bandsCte,
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band AND x.doc_id < y.doc_id
           |),
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter
           |  FROM cand c JOIN gx a ON a.doc_id = c.doc_a JOIN gx b ON b.doc_id = c.doc_b AND b.g = a.g
           |  GROUP BY c.doc_a, c.doc_b
           |)
           |SELECT doc_a, doc_b, round(inter*1.0/(sa.n + sb.n - inter), 6) AS jac
           |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |WHERE round(inter*1.0/(sa.n + sb.n - inter), 6) >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("c02_dedup_apply",
      (s, d) => Dedup.removeNearDuplicates(Tables.documents(s, d), col("doc_id"), lshPairs(s, d))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .orderBy("lang"),
      Some(
        s"""WITH $toksCte,
           |$gramsCte,
           |$sigCte,
           |$bandsCte,
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band AND x.doc_id < y.doc_id
           |),
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter
           |  FROM cand c JOIN gx a ON a.doc_id = c.doc_a JOIN gx b ON b.doc_id = c.doc_b AND b.g = a.g
           |  GROUP BY c.doc_a, c.doc_b
           |),
           |dups AS (
           |  SELECT DISTINCT doc_b FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE round(inter*1.0/(sa.n + sb.n - inter), 6) >= 0.5
           |)
           |SELECT lang, count(*) AS n_docs FROM documents
           |WHERE doc_id NOT IN (SELECT doc_b FROM dups)
           |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Connected components over the verified LSH pairs: cluster = min
    // reachable doc id. The oracle computes the same fixpoint as a
    // transitive closure (recursive CTE) — pair-level dedup under-removes
    // on A~B~C chains; this is the cluster-level form.
    Q("c24_dedup_clusters",
      (s, d) => Dedup.connectedComponents(lshPairs(s, d))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id"),
      Some(
        s"""WITH RECURSIVE $toksCte,
           |$gramsCte,
           |$sigCte,
           |$bandsCte,
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band AND x.doc_id < y.doc_id
           |),
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter
           |  FROM cand c JOIN gx a ON a.doc_id = c.doc_a JOIN gx b ON b.doc_id = c.doc_b AND b.g = a.g
           |  GROUP BY c.doc_a, c.doc_b
           |),
           |pairs AS (
           |  SELECT doc_a, doc_b FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE round(inter*1.0/(sa.n + sb.n - inter), 6) >= 0.5
           |),
           |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |      UNION SELECT doc_b, doc_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT src AS id, src AS r FROM e
           |  UNION
           |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
           |)
           |SELECT id AS doc_id, min(r) AS cluster FROM reach
           |GROUP BY id ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: corpus docs sharing an exact word 4-gram
    // with the (deterministic) eval subset. The benchmark grams broadcast;
    // the only shuffle is the per-doc matched-gram count.
    Q("c25_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Corpus.contamination(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 97 === 0), col("text"), nGram = 4)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $toksCte,
           |g4 AS (
           |  SELECT doc_id, CASE WHEN len(w) >= 4
           |    THEN list_distinct(list_transform(generate_series(1, len(w)-3),
           |         i -> list_aggregate(w[i:i+3], 'string_agg', ' ')))
           |    ELSE [] END AS grams
           |  FROM toks),
           |bg AS (SELECT DISTINCT ${graft.functions.Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT unnest(grams) AS g FROM g4 WHERE doc_id % 97 = 0)),
           |cg AS (SELECT doc_id, ${graft.functions.Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT doc_id, unnest(grams) AS g FROM g4 WHERE doc_id % 97 <> 0))
           |SELECT doc_id, count(*) AS shared_grams
           |FROM cg JOIN bg USING (gh)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // The applied form: the corpus minus contaminated docs.
    Q("c25_decontaminate_apply",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Corpus.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 97 === 0), col("text"), nGram = 4)
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $toksCte,
           |g4 AS (
           |  SELECT doc_id, CASE WHEN len(w) >= 4
           |    THEN list_distinct(list_transform(generate_series(1, len(w)-3),
           |         i -> list_aggregate(w[i:i+3], 'string_agg', ' ')))
           |    ELSE [] END AS grams
           |  FROM toks),
           |bg AS (SELECT DISTINCT ${graft.functions.Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT unnest(grams) AS g FROM g4 WHERE doc_id % 97 = 0)),
           |cg AS (SELECT doc_id, ${graft.functions.Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT doc_id, unnest(grams) AS g FROM g4 WHERE doc_id % 97 <> 0)),
           |bad AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (gh))
           |SELECT doc_id, lang FROM documents
           |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
           |ORDER BY doc_id""".stripMargin)),

    Q("c17_embed_quantize",
      (s, d) => Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("z"))
        .select(
          col("vec_id"),
          round(col("z.scale"), 6).as("scale"),
          col("z.q_sum").as("q_sum"),
          col("z.q_min").as("q_min"),
          col("z.q_max").as("q_max"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
             |       round(list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0, 6) AS scale,
             |       CAST(list_sum(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / (list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max') / 127.0)) AS INT))) AS BIGINT) AS q_sum,
             |       list_aggregate(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / (list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max') / 127.0)) AS INT)), 'min') AS q_min,
             |       list_aggregate(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / (list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max') / 127.0)) AS INT)), 'max') AS q_max
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    Q("c03_simhash_sig",
      (s, d) => Dedup.simhash(Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      Some(simhashSigSql + "\nSELECT doc_id, simhash FROM sig ORDER BY doc_id")),

    Q("c03_simhash_pairs",
      (s, d) => Dedup.simhashPairs(
        Dedup.simhash(Tables.documents(s, d), col("doc_id"), col("text")), maxDist = 3)
        .orderBy("doc_a", "doc_b"),
      Some(simhashSigSql +
        """,
          |sbands AS (
          |  SELECT doc_id, simhash, j, (simhash >> (15*j)) & 32767 AS band
          |  FROM sig, range(0, 4) s(j)
          |),
          |scand AS (
          |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
          |         x.simhash AS sa, y.simhash AS sb
          |  FROM sbands x JOIN sbands y ON x.j = y.j AND x.band = y.band AND x.doc_id < y.doc_id
          |)
          |SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
          |FROM scand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin)),

    Q("c04_ngram_jaccard",
      (s, d) => Dedup.ngramJaccard(Tables.documents(s, d), col("doc_id"), col("text"),
        threshold = 0.4)
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH $toksCte,
           |$gramsCte,
           |gx AS (SELECT doc_id, ${Hashing.sqlMd5Long60("g")} AS g
           |       FROM (SELECT doc_id, unnest(grams) AS g FROM grams)),
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           |  FROM gx a JOIN gx b ON a.g = b.g AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id
           |)
           |SELECT doc_a, doc_b, round(inter*1.0/(sa.n + sb.n - inter), 6) AS jac
           |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |WHERE round(inter*1.0/(sa.n + sb.n - inter), 6) >= 0.4
           |ORDER BY doc_a, doc_b""".stripMargin)),

    // The production path: candidates from rare shingles (df <= 20) with
    // exact intersection verify — bounded pair space at corpus scale.
    Q("c04_ngram_jaccard_capped",
      (s, d) => Dedup.ngramJaccardCapped(Tables.documents(s, d), col("doc_id"), col("text"),
        threshold = 0.4, maxDf = 20)
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH $toksCte,
           |$gramsCte,
           |gx AS (SELECT doc_id, g, ${Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT doc_id, unnest(grams) AS g FROM grams)),
           |dfreq AS (SELECT gh, count(*) AS df FROM gx GROUP BY gh),
           |grare AS (SELECT doc_id, gh FROM gx JOIN dfreq USING (gh) WHERE df <= 20),
           |ghot AS (SELECT doc_id, gh FROM gx JOIN dfreq USING (gh) WHERE df > 20),
           |ir AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_rare
           |  FROM grare a JOIN grare b ON a.gh = b.gh AND a.doc_id < b.doc_id
           |  GROUP BY doc_a, doc_b
           |),
           |dh AS (SELECT doc_id, list(gh) AS hot FROM ghot GROUP BY doc_id),
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |scored AS (
           |  SELECT doc_a, doc_b,
           |         inter_rare + len(list_intersect(coalesce(ha.hot, []), coalesce(hb.hot, []))) AS inter,
           |         sa.n AS na, sb.n AS nb
           |  FROM ir JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |  LEFT JOIN dh ha ON ha.doc_id = doc_a LEFT JOIN dh hb ON hb.doc_id = doc_b
           |)
           |SELECT doc_a, doc_b, round(inter*1.0/(na + nb - inter), 6) AS jac
           |FROM scored
           |WHERE round(inter*1.0/(na + nb - inter), 6) >= 0.4
           |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("c05_embed_neardup",
      (s, d) => Similarity.embeddingNearDups(Tables.embeddings(s, d), threshold = 0.45)
        .orderBy("vec_a", "vec_b"),
      Some(
        s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |       ${sqlCos("a.embedding", "b.embedding")} AS cos
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.45
           |ORDER BY vec_a, vec_b""".stripMargin)),

    // The production near-dup path: banded LSH candidates + exact verify,
    // no all-pairs product in the plan (asserted by OperatorsSpec). The
    // oracle recomputes the identical md5-derived hyperplanes, so the
    // approximate result is still exactly reproducible.
    Q("c05_embed_neardup_banded",
      (s, d) => Similarity.embeddingNearDupsBanded(Tables.embeddings(s, d), threshold = 0.45)
        .orderBy("vec_a", "vec_b"),
      Some(
        s"""WITH planes AS (
           |  SELECT k, list(CASE WHEN CAST('0x'||substr(md5(CAST(k AS VARCHAR)||'_'||CAST(j AS VARCHAR)),1,1) AS INT)%2=0
           |                      THEN 1.0 ELSE -1.0 END ORDER BY j) AS s
           |  FROM range(60) t1(k), range(64) t2(j) GROUP BY k
           |), bits AS (
           |  SELECT e.vec_id, p.k,
           |         CASE WHEN list_sum(list_transform(generate_series(1,64), j -> p.s[j]*CAST(e.embedding[j] AS DOUBLE))) >= 0
           |              THEN 1 ELSE 0 END AS bit
           |  FROM embeddings e CROSS JOIN planes p
           |), bands AS (
           |  SELECT vec_id, CAST(k//5 AS INT) AS band_idx,
           |         CAST(sum(bit << CAST(k%5 AS INT)) AS INT) AS band_val
           |  FROM bits GROUP BY vec_id, band_idx
           |), cand AS (
           |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
           |  FROM bands x JOIN bands y
           |    ON x.band_idx=y.band_idx AND x.band_val=y.band_val AND x.vec_id<y.vec_id
           |)
           |SELECT c.vec_a, c.vec_b, ${sqlCos("a.embedding", "b.embedding")} AS cos
           |FROM cand c JOIN embeddings a ON a.vec_id=c.vec_a JOIN embeddings b ON b.vec_id=c.vec_b
           |WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.45
           |ORDER BY vec_a, vec_b""".stripMargin)),

    Q("c06_knn_brute",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.knnBrute(e.filter(col("vec_id") < 5), e, k = 10)
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
           |scored AS (
           |  SELECT query_id, e.vec_id AS neighbor_id, ${sqlCos("qe", "e.embedding")} AS cos
           |  FROM embeddings e CROSS JOIN q WHERE query_id <> e.vec_id
           |),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |      FROM scored)
           |SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin)),

    Q("c07_knn_ivf",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.knnIvf(
          queries = e.filter(col("vec_id") < 5),
          corpus = e,
          centroids = e.filter(col("vec_id") % 50 === 0),
          nprobe = 2, k = 5)
          .orderBy("query_id", "rank")
      },
      Some(
        s"""WITH cent AS (SELECT vec_id AS cell, embedding AS cem FROM embeddings WHERE vec_id % 50 = 0),
           |asg AS (
           |  SELECT neighbor_id, cell, ce FROM (
           |    SELECT e.vec_id AS neighbor_id, cell, e.embedding AS ce,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${sqlCos("e.embedding", "cem")} DESC, cell) AS crank
           |    FROM embeddings e CROSS JOIN cent)
           |  WHERE crank = 1
           |),
           |probes AS (
           |  SELECT query_id, cell, qe FROM (
           |    SELECT e.vec_id AS query_id, cell, e.embedding AS qe,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${sqlCos("e.embedding", "cem")} DESC, cell) AS crank
           |    FROM embeddings e CROSS JOIN cent WHERE e.vec_id < 5)
           |  WHERE crank <= 2
           |),
           |scored AS (
           |  SELECT query_id, neighbor_id, ${sqlCos("qe", "ce")} AS cos
           |  FROM probes JOIN asg USING (cell) WHERE query_id <> neighbor_id
           |),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |      FROM scored)
           |SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin)),

    Q("c08_langid",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id"),
      Some(
        s"""WITH $toksCte,
           |$langScoreSql
           |SELECT doc_id, pred_lang FROM pred ORDER BY doc_id""".stripMargin)),

    Q("c09_quality",
      (s, d) => TextAnalysis.qualityFeatures(Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      Some {
        val stop = TextAnalysis.langMarkers.head._2.map(m => s"'$m'").mkString(",")
        s"""WITH base AS (
           |  SELECT doc_id, length(text) AS n_chars,
           |         len(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS n_tokens,
           |         length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS punct,
           |         len(list_filter(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> ''),
           |             t -> t IN ($stop))) AS stop
           |  FROM documents)
           |SELECT doc_id, n_chars, CAST(n_tokens AS INT) AS n_tokens,
           |       round(n_chars*1.0/n_tokens, 4) AS avg_tok_len,
           |       round(punct*1.0/n_chars, 6) AS punct_ratio,
           |       round(stop*1.0/n_tokens, 6) AS stop_ratio,
           |       round(0.5*(stop*1.0/n_tokens) + 0.3*least(n_tokens*1.0/100.0, 1.0)
           |             + 0.2*(1.0 - punct*1.0/n_chars), 6) AS quality
           |FROM base ORDER BY doc_id""".stripMargin
      }),

    Q("c10_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some(
        s"""WITH $toksCte
           |SELECT doc_id, md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fp
           |FROM toks ORDER BY doc_id""".stripMargin)),

    Q("c11_token_count",
      (s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       CAST(len(list_filter(string_split_regex(text, ' +'), x -> x <> '')) AS INT) AS n_ws,
             |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("c12_sessionize",
      (s, d) => Sessionize.userStats(Tables.events(s, d), gapMinutes = 30)
        .orderBy("user_id"),
      Some("""WITH x AS (
             |  SELECT user_id, ts, event_id,
             |         CASE WHEN lag(ts) OVER w IS NULL
             |                OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), y AS (
             |  SELECT user_id,
             |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                             ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM x
             |), z AS (SELECT user_id, session_id, count(*) AS n_ev FROM y GROUP BY user_id, session_id)
             |SELECT user_id, count(*) AS n_sessions, CAST(sum(n_ev) AS BIGINT) AS n_events, max(n_ev) AS max_sess_events
             |FROM z GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Funnel analysis: greedy earliest-match progression through
    // signup -> view -> purchase (stage k+1 = first qualifying event
    // strictly after stage k's match == the chained-min form below; ts
    // strictly monotone in event_id, so no tie ambiguity). One user_id
    // shuffle; the chained-min SQL would shuffle per stage.
    Q("c107_event_funnel",
      (s, d) => Sessionize.funnel(Tables.events(s, d),
        Seq("signup", "view", "purchase"), withinSeconds = Some(3600L)),
      Some("""WITH e AS (
             |  SELECT user_id, ts, event_type FROM events
             |  WHERE event_type IN ('signup', 'view', 'purchase')),
             |u AS (SELECT DISTINCT user_id FROM e),
             |s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
             |       WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
             |a2 AS (SELECT s2.user_id, s2.t2 FROM s2 JOIN s1 ON s2.user_id = s1.user_id
             |       WHERE date_part('epoch', date_trunc('second', s2.t2))
             |           - date_part('epoch', date_trunc('second', s1.t1)) <= 3600),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN a2 ON e.user_id = a2.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts > a2.t2 GROUP BY e.user_id),
             |a3 AS (SELECT s3.user_id, s3.t3 FROM s3 JOIN a2 ON s3.user_id = a2.user_id
             |       WHERE date_part('epoch', date_trunc('second', s3.t3))
             |           - date_part('epoch', date_trunc('second', a2.t2)) <= 3600),
             |r AS (SELECT u.user_id,
             |        CASE WHEN a3.user_id IS NOT NULL THEN 3
             |             WHEN a2.user_id IS NOT NULL THEN 2
             |             WHEN s1.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage_reached,
             |        s1.t1 AS t0, COALESCE(a3.t3, a2.t2, s1.t1) AS tn
             |      FROM u LEFT JOIN s1 ON u.user_id = s1.user_id
             |             LEFT JOIN a2 ON u.user_id = a2.user_id
             |             LEFT JOIN a3 ON u.user_id = a3.user_id)
             |SELECT stage_reached, count(*) AS n_users,
             |       round(avg(date_diff('second', date_trunc('second', t0),
             |                           date_trunc('second', tn))), 6) AS avg_span_secs
             |FROM r GROUP BY stage_reached ORDER BY stage_reached""".stripMargin)),

    // Cohort retention: users cohort by first-event week; per (cohort,
    // week offset) the active-user count and cohort share. Exact-integer
    // week arithmetic (Monday-start date_trunc both engines).
    Q("c108_cohort_retention",
      (s, d) => Sessionize.cohortRetention(Tables.events(s, d)),
      Some("""WITH c AS (
             |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort
             |  FROM events GROUP BY user_id),
             |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS awk FROM events),
             |j AS (SELECT a.user_id, c.cohort,
             |        CAST((date_part('epoch', a.awk) - date_part('epoch', c.cohort))
             |             / (7 * 86400) AS INT) AS week_offset
             |      FROM a JOIN c ON a.user_id = c.user_id),
             |n AS (SELECT cohort, week_offset, count(*) AS n_users FROM j GROUP BY 1, 2),
             |sz AS (SELECT cohort, n_users AS size FROM n WHERE week_offset = 0)
             |SELECT n.cohort, n.week_offset, n.n_users,
             |       round(CAST(n.n_users AS DOUBLE) / sz.size, 6) AS retention_rate
             |FROM n JOIN sz ON n.cohort = sz.cohort
             |ORDER BY n.cohort, n.week_offset""".stripMargin)),

    // Event-transition matrix (the user-journey Markov chain):
    // consecutive event-type pairs per user, P(to|from) = pair count /
    // outgoing total.
    Q("c109_event_transitions",
      (s, d) => Sessionize.eventTransitions(Tables.events(s, d)),
      Some("""WITH p AS (
             |  SELECT event_type AS from_type,
             |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |n AS (SELECT from_type, to_type, count(*) AS n FROM p
             |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM n GROUP BY from_type)
             |SELECT n.from_type, n.to_type, n.n,
             |       round(CAST(n.n AS DOUBLE) / t.tot, 6) AS p
             |FROM n JOIN t ON n.from_type = t.from_type
             |ORDER BY n.from_type, n.to_type""".stripMargin)),

    // PageRank over a deterministic 200-node link graph (the
    // page-authority quality signal web-corpus pipelines rank crawls
    // by). 3 iterations; every rank re-rounds to 6 dp per iteration and
    // per-node incoming contributions fold in ascending-source order on
    // BOTH engines (the a118 sorted-sum trick), so the whole iteration
    // chain is bit-reproducible. Oracle unrolls the 3 iterations.
    Q("c110_pagerank",
      (s, d) => {
        val nodes = s.range(200).select(col("id").as("src"))
        val edges = nodes
          .select(col("src"), explode(sequence(lit(1),
            (col("src") % 4 + 1).cast("int"))).as("k"))
          .select(col("src"), ((col("src") * 7 + col("k")) % 200).as("dst"))
          .filter(col("src") =!= col("dst"))
        graft.ext.Web.pageRank(edges, nNodes = 200, iters = 3)
          .orderBy("node")
      },
      Some {
        val iters = (1 to 3).map { i =>
          val prev = s"r${i - 1}"
          s"""s$i AS MATERIALIZED (
             |  SELECT e.dst, list_reduce(list($prev.rank / od.outdeg ORDER BY e.src),
             |                            (a, b) -> a + b) AS m
             |  FROM edges e JOIN od ON e.src = od.src JOIN $prev ON $prev.node = e.src
             |  GROUP BY e.dst),
             |r$i AS MATERIALIZED (
             |  SELECT n.node, round((1 - 0.85)/200 + 0.85 * COALESCE(s$i.m, 0.0), 6) AS rank
             |  FROM nodes n LEFT JOIN s$i ON s$i.dst = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH nodes AS (SELECT unnest(generate_series(0, 199)) AS node),
           |ek AS (SELECT node AS src, unnest(generate_series(1, node % 4 + 1)) AS k FROM nodes),
           |edges AS MATERIALIZED (
           |  SELECT src, (src * 7 + k) % 200 AS dst FROM ek WHERE src <> (src * 7 + k) % 200),
           |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
           |r0 AS (SELECT node, round(1.0/200, 6) AS rank FROM nodes),
           |$iters
           |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
      }),

    // Mergeable HLL sketch tables (the 100 TB distinct-count pattern:
    // per-DAY sketches materialize once, any date-range distinct count
    // is a register-max union of sketches — no raw re-scan). Gate:
    // (a) union-of-daily-sketches estimate == one-shot whole-corpus
    // sketch estimate EXACTLY (disjoint-partition union is register-max,
    // lossless at same lgK/type), and (b) the estimate sits within the
    // 3·rsd HLL band of the exact distinct count. The oracle supplies
    // the exact count and expects TRUE/TRUE.
    Q("c111_hll_merge",
      (s, d) => {
        val lgK = 12
        val rsd = 1.04 / math.sqrt((1 << lgK).toDouble)
        val e = Tables.events(s, d)
        val daily = e.groupBy(col("event_type"), date_trunc("day", col("ts")).as("_day"))
          .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
        val merged = daily.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est_merged"))
        val direct = e.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(lgK))).as("est_direct"))
        val exact = e.groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("n_exact"))
        exact.join(merged, "event_type").join(direct, "event_type")
          .select(col("event_type"), col("n_exact"),
            (col("est_merged") === col("est_direct")).as("merge_consistent"),
            (abs(col("est_merged") - col("n_exact")) <=
              lit(3.0) * lit(rsd) * col("n_exact")).as("within_band"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_exact,
             |       TRUE AS merge_consistent, TRUE AS within_band
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // HLL set-INTERSECTION estimates by inclusion-exclusion over merged
    // sketches (|A∩B| ~ est(A)+est(B)-est(A∪B)) — the audience-overlap
    // question answered from materialized per-segment sketches without
    // touching raw data; gate = within 3·rsd of the three estimate
    // magnitudes vs the exact self-join truth.
    Q("c114_hll_intersection",
      (s, d) => {
        val lgK = 12
        val rsd = 1.04 / math.sqrt((1 << lgK).toDouble)
        val e = Tables.events(s, d)
        val sk = e.groupBy(col("event_type"))
          .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
        val pairs = sk.as("a").crossJoin(sk.as("b"))
          .filter(col("a.event_type") < col("b.event_type"))
          .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
            hll_sketch_estimate(col("a.sk")).as("ea"),
            hll_sketch_estimate(col("b.sk")).as("eb"),
            hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))).as("eu"))
          .withColumn("est_inter", col("ea") + col("eb") - col("eu"))
        val du = e.select(col("event_type"), col("user_id")).distinct()
        val exact = du.as("x").join(du.as("y"),
            col("x.user_id") === col("y.user_id") &&
              col("x.event_type") < col("y.event_type"))
          .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_exact"))
        exact.join(pairs, Seq("type_a", "type_b"))
          .select(col("type_a"), col("type_b"), col("n_exact"),
            (abs(col("est_inter") - col("n_exact")) <=
              lit(3.0) * lit(rsd) * (col("ea") + col("eb") + col("eu"))).as("within_band"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
             |SELECT x.event_type AS type_a, y.event_type AS type_b,
             |       count(*) AS n_exact, TRUE AS within_band
             |FROM du x JOIN du y ON x.user_id = y.user_id AND x.event_type < y.event_type
             |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin)),

    // Top entry paths: each user's first 3 event types in order,
    // '>'-joined; the entry-journey report.
    Q("c115_event_paths",
      (s, d) => Sessionize.topPaths(Tables.events(s, d), depth = 3, topK = 20),
      Some("""WITH r AS (
             |  SELECT user_id, event_type,
             |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |  FROM events),
             |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
             |      FROM r WHERE rn <= 3 GROUP BY user_id)
             |SELECT path, count(*) AS n_users FROM p GROUP BY path
             |ORDER BY n_users DESC, path LIMIT 20""".stripMargin)),

    // Last-touch attribution: the event immediately before each purchase
    // (same user, within an hour) gets the credit; orphan conversions
    // attribute to '(none)'.
    Q("c116_attribution",
      (s, d) => Sessionize.lastTouchAttribution(Tables.events(s, d),
        conversionType = "purchase", withinSeconds = 3600L),
      Some("""WITH l AS (
             |  SELECT event_type, ts,
             |         lag(event_type) OVER w AS prev_type,
             |         lag(ts) OVER w AS prev_ts
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |c AS (SELECT CASE WHEN prev_type IS NOT NULL AND
             |               date_part('epoch', date_trunc('second', ts))
             |             - date_part('epoch', date_trunc('second', prev_ts)) <= 3600
             |             THEN prev_type ELSE '(none)' END AS credit
             |      FROM l WHERE event_type = 'purchase')
             |SELECT credit, count(*) AS n_conversions FROM c GROUP BY credit
             |ORDER BY n_conversions DESC, credit""".stripMargin)),

    // RFM segmentation by quantile CUTOFFS (no global ntile sort — the
    // scalable, tie-deterministic form): score 5 = best quintile;
    // segment = R*100 + F*10 + M.
    Q("c117_rfm_segments",
      (s, d) => Sessionize.rfmSegments(Tables.events(s, d), col("value")),
      Some("""WITH u AS (
             |  SELECT user_id,
             |         max(date_part('epoch', date_trunc('second', ts))) AS last_s,
             |         count(*) AS f, round(sum(value), 4) AS m
             |  FROM events GROUP BY user_id),
             |a AS (SELECT max(last_s) AS as_of FROM u),
             |r AS (SELECT u.*, a.as_of - u.last_s AS rr FROM u CROSS JOIN a),
             |c AS (SELECT quantile_cont(rr, [0.2, 0.4, 0.6, 0.8]) AS cr,
             |             quantile_cont(f,  [0.2, 0.4, 0.6, 0.8]) AS cf,
             |             quantile_cont(m,  [0.2, 0.4, 0.6, 0.8]) AS cm
             |      FROM r),
             |sc AS (
             |  SELECT (1 + (CASE WHEN rr < round(cr[1],6) THEN 1 ELSE 0 END)
             |            + (CASE WHEN rr < round(cr[2],6) THEN 1 ELSE 0 END)
             |            + (CASE WHEN rr < round(cr[3],6) THEN 1 ELSE 0 END)
             |            + (CASE WHEN rr < round(cr[4],6) THEN 1 ELSE 0 END)) * 100
             |       + (1 + (CASE WHEN f > round(cf[1],6) THEN 1 ELSE 0 END)
             |            + (CASE WHEN f > round(cf[2],6) THEN 1 ELSE 0 END)
             |            + (CASE WHEN f > round(cf[3],6) THEN 1 ELSE 0 END)
             |            + (CASE WHEN f > round(cf[4],6) THEN 1 ELSE 0 END)) * 10
             |       + (1 + (CASE WHEN m > round(cm[1],6) THEN 1 ELSE 0 END)
             |            + (CASE WHEN m > round(cm[2],6) THEN 1 ELSE 0 END)
             |            + (CASE WHEN m > round(cm[3],6) THEN 1 ELSE 0 END)
             |            + (CASE WHEN m > round(cm[4],6) THEN 1 ELSE 0 END)) AS segment
             |  FROM r CROSS JOIN c)
             |SELECT segment, count(*) AS n_users FROM sc GROUP BY segment
             |ORDER BY segment""".stripMargin)),

    Q("c13_event_windows",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_v"))
        .select(col("win.start").as("wstart"), col("event_type"), col("cnt"), col("sum_v"))
        .orderBy("wstart", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS cnt,
             |       round(sum(value), 4) AS sum_v
             |FROM events GROUP BY wstart, event_type ORDER BY wstart, event_type""".stripMargin)),

    Q("c14_tfidf",
      (s, d) => TextAnalysis.tfIdfTopK(Tables.documents(s, d), col("doc_id"), col("text"), k = 3)
        .filter(col("doc_id") < 20)
        .orderBy("doc_id", "rn"),
      Some(
        s"""WITH $toksCte,
           |td AS (SELECT doc_id, unnest(w) AS term FROM toks),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM td GROUP BY doc_id, term),
           |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM td GROUP BY term),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |sc AS (SELECT doc_id, term, round(tf * ln(n_docs*1.0/df), 6) AS tfidf
           |       FROM tf JOIN dfq USING (term) CROSS JOIN n),
           |r AS (SELECT doc_id, term, tfidf,
           |             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
           |      FROM sc)
           |SELECT doc_id, rn, term, tfidf FROM r WHERE rn <= 3 AND doc_id < 20
           |ORDER BY doc_id, rn""".stripMargin)),

    Q("c15_mm_decode",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.decodeMeta(
          Multimodal.withFakePayload(Tables.documents(s, d), "doc_id", "text"))
          .toDF().orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |       CAST(1 + CAST('0x' || substr(md5(text), 1, 2) AS INT) % 64 AS INT) AS width,
             |       CAST(1 + CAST('0x' || substr(md5(text), 3, 2) AS INT) % 64 AS INT) AS height,
             |       CAST(octet_length(from_hex(md5(text))) AS INT) AS n_bytes,
             |       CASE CAST('0x' || substr(md5(text), 5, 2) AS INT) % 3
             |         WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS fmt
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL header decode: payloads are genuine PNG byte headers built from
    // the row (signature + IHDR with big-endian dims); the mapPartitions
    // decoder must recover the dims by actually parsing the bytes. The
    // oracle states the round-trip contract decode(encode(w,h)) == (w,h).
    Q("c18_mm_decode_real",
      (s, d) => {
        implicit val sp: SparkSession = s
        val w = (col("doc_id") % 500 + 1).cast("int")
        val h = ((col("doc_id") * 7) % 300 + 1).cast("int")
        val pngHex = concat(
          lit("89504E470D0A1A0A0000000D49484452"), // PNG signature + IHDR length/tag
          lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
          lit("0806000000")) // bit depth 8, RGBA, default methods
        val payloads = Tables.documents(s, d)
          .select(col("doc_id"), unhex(pngHex).as("payload"))
        Multimodal.decodeMeta(payloads).toDF().orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |       CAST(doc_id % 500 + 1 AS INT) AS width,
             |       CAST((doc_id * 7) % 300 + 1 AS INT) AS height,
             |       CAST(29 AS INT) AS n_bytes, 'png' AS fmt
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("c16_mm_frames",
      (s, d) => Multimodal.sampleFrames(
        Multimodal.withFakePayload(Tables.documents(s, d), "doc_id", "text"), stride = 7)
        .orderBy("doc_id", "frame_idx"),
      Some("""SELECT doc_id, frame_idx FROM documents,
             |     unnest(generate_series(0, CAST('0x' || substr(md5(text), 7, 2) AS INT) % 30, 7)) AS u(frame_idx)
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Gopher-style within-document repetition signals (duplicate token /
    // 2-gram fractions, top-token share) — the standard quality filter for
    // degenerate or boilerplate text in a training-data pipeline.
    Q("c20_repetition",
      (s, d) => graft.ext.Corpus.repetitionSignals(Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      Some(
        s"""WITH $toksCte,
           |g2 AS (
           |  SELECT doc_id, w,
           |         CASE WHEN len(w) >= 2
           |              THEN list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])
           |              ELSE [] END AS g
           |  FROM toks),
           |topt AS (
           |  SELECT doc_id, max(c) AS top_c FROM (
           |    SELECT doc_id, t, count(*) AS c
           |    FROM (SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY doc_id, t)
           |  GROUP BY doc_id)
           |SELECT g2.doc_id,
           |       CAST(len(w) AS INT) AS n_tokens,
           |       round(CASE WHEN len(w) > 0 THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE)/len(w) ELSE 0.0 END, 6) AS dup_tok_frac,
           |       round(CASE WHEN len(g) > 0 THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE)/len(g) ELSE 0.0 END, 6) AS dup_2gram_frac,
           |       round(CASE WHEN len(w) > 0 THEN CAST(coalesce(top_c, 0) AS DOUBLE)/len(w) ELSE 0.0 END, 6) AS top_tok_frac
           |FROM g2 LEFT JOIN topt ON g2.doc_id = topt.doc_id
           |ORDER BY g2.doc_id""".stripMargin)),

    // Deterministic stratified sampling: md5-hash Bernoulli per language
    // stratum (en 50%, zh 25%, rest 10%) — reproducible data mixing with
    // no RNG state; the oracle replays the identical hash arithmetic.
    Q("c21_sample_stratified",
      (s, d) => graft.ext.Corpus.stratifiedSample(Tables.documents(s, d),
        col("doc_id"), col("lang"),
        rates = Map("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      Some(
        s"""SELECT doc_id, lang FROM documents
           |WHERE ${Hashing.sqlMd5Long60("CAST(doc_id AS VARCHAR)")} % 1000000
           |      < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 250000 ELSE 100000 END
           |ORDER BY doc_id""".stripMargin)),

    // Context-window chunking: 50-token windows every 40 tokens (10-token
    // overlap), final windows truncated — sequence shaping ahead of
    // tokenizer/packing stages.
    Q("c22_chunk",
      (s, d) => graft.ext.Corpus.chunkTokens(Tables.documents(s, d),
        col("doc_id"), col("text"), chunkSize = 50, stride = 40)
        .filter(col("doc_id") < 50)
        .orderBy("doc_id", "chunk_idx"),
      Some(
        s"""WITH $toksCte,
           |c AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0 AND doc_id < 50),
           |x AS (SELECT doc_id, w, n, unnest(generate_series(0, CAST(ceil(n/40.0) AS INT) - 1)) AS chunk_idx
           |      FROM c)
           |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           |       CAST(len(w[chunk_idx*40+1 : chunk_idx*40+50]) AS INT) AS n_tokens,
           |       array_to_string(w[chunk_idx*40+1 : chunk_idx*40+50], ' ') AS chunk_text
           |FROM x ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Sequence packing: the corpus token stream in doc_id order cut into
    // 64-token bins (docs straddle bins) — per-bin doc/token counts and
    // doc span. Exact integers; the oracle replays the same prefix-sum +
    // bin-span arithmetic with a window cumsum.
    Q("c23_pack",
      (s, d) => graft.ext.Corpus.packTokens(Tables.documents(s, d),
        col("doc_id"), col("text"), budget = 64)
        .filter(col("bin") < 100),
      Some(
        s"""WITH $toksCte,
           |c AS (SELECT doc_id, len(w) AS n FROM toks WHERE len(w) > 0),
           |o AS (SELECT doc_id, n,
           |             CAST(coalesce(sum(n) OVER (ORDER BY doc_id
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           |      FROM c),
           |x AS (SELECT doc_id, n, off, unnest(generate_series(off // 64, (off + n - 1) // 64)) AS bin
           |      FROM o)
           |SELECT CAST(bin AS BIGINT) AS bin,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(least((bin + 1) * 64, off + n) - greatest(bin * 64, off)) AS BIGINT) AS n_tokens,
           |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM x WHERE bin < 100 GROUP BY bin ORDER BY bin""".stripMargin)),

    // REAL pixel decode: payloads are genuine PNG/BMP bytes produced by the
    // JDK's own codecs (ImageIO.write of a deterministic per-(id,x,y) RGB
    // pattern — PNG goes through real zlib compression), and the query
    // decodes them back with ImageIO.read and aggregates exact integer
    // channel stats. The oracle never sees the bytes: it recomputes the
    // pattern analytically, stating decode(encode(pattern)) == pattern —
    // only true if both codec passes are bit-exact.
    Q("c19_mm_pixels",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.decodePixels(
          Multimodal.encodeTestImages(Tables.documents(s, d)))
          .orderBy("doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |         CAST(doc_id % 9 + 2 AS INT) AS width,
             |         CAST((doc_id * 3) % 7 + 2 AS INT) AS height,
             |         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, width, height, fmt,
             |         (doc_id * 31 + x * 7 + y * 13) % 256 AS r,
             |         (doc_id * 17 + x * 11 + y * 5) % 256 AS g,
             |         (doc_id * 23 + x * 3 + y * 19) % 256 AS b
             |  FROM dims,
             |       unnest(generate_series(0, width - 1)) AS ux(x),
             |       unnest(generate_series(0, height - 1)) AS uy(y))
             |SELECT doc_id, width, height, fmt,
             |       CAST(count(*) AS BIGINT) AS n_px,
             |       CAST(sum(r) AS BIGINT) AS sum_r,
             |       CAST(sum(g) AS BIGINT) AS sum_g,
             |       CAST(sum(b) AS BIGINT) AS sum_b,
             |       CAST(min(least(r, g, b)) AS INT) AS min_px,
             |       CAST(max(greatest(r, g, b)) AS INT) AS max_px
             |FROM px GROUP BY doc_id, width, height, fmt
             |ORDER BY doc_id""".stripMargin)),

    // Unigram-LM cross-entropy (nats): the deterministic stand-in for the
    // CCNet KenLM-perplexity quality signal — corpus-fit unigram probs,
    // −mean ln P(token) per doc.
    Q("c26_unigram_xent",
      (s, d) => TextAnalysis.unigramCrossEntropy(
        Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      Some(
        s"""WITH $toksCte,
           |tk AS (SELECT doc_id, unnest(w) AS t FROM toks),
           |v AS (SELECT t, count(*) AS cnt FROM tk GROUP BY t),
           |tot AS (SELECT count(*) AS total FROM tk)
           |SELECT doc_id, count(*) AS n_tokens,
           |       round(-avg(ln(cnt::DOUBLE / total)), 6) AS cross_entropy
           |FROM tk JOIN v USING (t) CROSS JOIN tot
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Gopher-style composite quality filter: verdict + sorted failed-rule
    // audit trail, all counters from one narrow kernel pass. fail_reasons
    // is serialized to a '|'-joined string for the oracle gate (array
    // output crashes the driver comparer); CorpusSpec covers the array form.
    Q("c27_gopher_filter",
      (s, d) => Corpus.gopherFilter(Tables.documents(s, d), col("doc_id"), col("text"),
        minWords = 40, maxWords = 100000, minMeanLen = 3.5, maxMeanLen = 6.0,
        minStopwords = 2, maxTopTokFrac = 0.15)
        .withColumn("fail_reasons", concat_ws("|", col("fail_reasons")))
        .orderBy("doc_id"),
      Some {
        val stopList = graft.functions.TextKernels.englishStopwordList
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH $toksCte,
           |topt AS (
           |  SELECT doc_id, max(c) AS top_c FROM (
           |    SELECT doc_id, t, count(*) AS c
           |    FROM (SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY doc_id, t)
           |  GROUP BY doc_id),
           |b AS (
           |  SELECT toks.doc_id, len(w) AS n,
           |         CASE WHEN len(w) > 0
           |              THEN CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w)
           |              ELSE 0.0 END AS meanlen,
           |         len(list_filter(list_distinct(w), x -> list_contains($stopList, x))) AS nstop,
           |         CASE WHEN len(w) > 0
           |              THEN CAST(coalesce(top_c, 0) AS DOUBLE) / len(w)
           |              ELSE 0.0 END AS topfrac
           |  FROM toks LEFT JOIN topt ON toks.doc_id = topt.doc_id)
           |SELECT doc_id, CAST(n AS INT) AS n_tokens,
           |       coalesce(list_aggregate(list_sort(list_filter(
           |         [CASE WHEN n < 40 THEN 'too_few_words' END,
           |          CASE WHEN n > 100000 THEN 'too_many_words' END,
           |          CASE WHEN meanlen < 3.5 OR meanlen > 6.0 THEN 'mean_word_length' END,
           |          CASE WHEN nstop < 2 THEN 'too_few_stopwords' END,
           |          CASE WHEN topfrac > 0.15 THEN 'repetitive' END],
           |         x -> x IS NOT NULL)), 'string_agg', '|'), '') AS fail_reasons,
           |       (len(list_filter(
           |         [CASE WHEN n < 40 THEN 'too_few_words' END,
           |          CASE WHEN n > 100000 THEN 'too_many_words' END,
           |          CASE WHEN meanlen < 3.5 OR meanlen > 6.0 THEN 'mean_word_length' END,
           |          CASE WHEN nstop < 2 THEN 'too_few_stopwords' END,
           |          CASE WHEN topfrac > 0.15 THEN 'repetitive' END],
           |         x -> x IS NOT NULL)) = 0) AS pass
           |FROM b ORDER BY doc_id""".stripMargin
      }),

    // PII redaction: regex-mask emails / IPv4 / phone-shaped numbers with
    // per-category counts; the PII derives deterministically from row
    // values (the corpus text itself is synthetic and PII-free).
    Q("c28_pii_redact",
      (s, d) => graft.ext.Redact.redactPii(
        Tables.documents(s, d).withColumn("contact",
          concat(col("text"), lit(" contact "), col("source"), lit("@example.com ip 10.0."),
            expr("CAST(doc_id % 256 AS STRING)"), lit("."),
            expr("CAST(doc_id DIV 256 % 256 AS STRING)"), lit(" call 555-"),
            lpad(expr("CAST(doc_id % 10000 AS STRING)"), 4, "0"))),
        col("doc_id"), col("contact"))
        .orderBy("doc_id"),
      Some(
        """WITH p AS (
          |  SELECT doc_id,
          |         text || ' contact ' || source || '@example.com ip 10.0.' ||
          |         CAST(doc_id % 256 AS VARCHAR) || '.' ||
          |         CAST((doc_id // 256) % 256 AS VARCHAR) || ' call 555-' ||
          |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS contact
          |  FROM documents)
          |SELECT doc_id,
          |       regexp_replace(regexp_replace(regexp_replace(contact,
          |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          |         '\b555-\d{4}\b', '<PHONE>', 'g') AS redacted,
          |       len(regexp_extract_all(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
          |       len(regexp_extract_all(contact, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
          |       len(regexp_extract_all(contact, '\b555-\d{4}\b')) AS n_phone
          |FROM p ORDER BY doc_id""".stripMargin)),

    // Temperature-scaled source mixing: keep-rate per source ∝ n^0.6
    // normalized to an expected 150 docs, applied by the md5-Bernoulli —
    // the multilingual upsampling rule, fully deterministic.
    Q("c29_temperature_mix",
      (s, d) => Corpus.temperatureMixture(Tables.documents(s, d),
        col("doc_id"), col("source"), alpha = 0.6, targetTotal = 150)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      Some(
        s"""WITH c AS (SELECT source AS src, count(*) AS n FROM documents GROUP BY source),
           |s AS (SELECT sum(pow(CAST(n AS DOUBLE), 0.6)) AS wsum FROM c),
           |r AS (SELECT src, CAST(floor(least(1.0,
           |        150.0 * pow(CAST(n AS DOUBLE), 0.6) / wsum / n) * 1e6) AS BIGINT) AS thr
           |      FROM c CROSS JOIN s)
           |SELECT doc_id, source FROM documents JOIN r ON source = src
           |WHERE ${Hashing.sqlMd5Long60("CAST(doc_id AS VARCHAR)")} % 1000000 < thr
           |ORDER BY doc_id""".stripMargin)),

    // Duplicate-span signal (suffix-array-dedup n-gram formulation, Lee et
    // al. 2022): fraction of a doc's distinct 3-grams that recur in other
    // docs — no pairwise join, just two hash aggs over the gram table.
    Q("c30_dup_spans",
      (s, d) => Dedup.duplicateSpans(Tables.documents(s, d),
        col("doc_id"), col("text"), n = 3, minDocs = 2)
        .orderBy("doc_id"),
      Some(
        s"""WITH $toksCte,
           |$gramsCte,
           |gx AS (SELECT doc_id, ${Hashing.sqlMd5Long60("gr")} AS gh
           |       FROM (SELECT doc_id, unnest(grams) AS gr FROM grams)),
           |dfq AS (SELECT gh, count(DISTINCT doc_id) AS df FROM gx GROUP BY gh)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
           |       round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_frac
           |FROM gx JOIN dfq USING (gh)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // The APPLY form — the Lee et al. 2022 dedup step: drop every token
    // covered by a corpus-duplicated 3-gram occurrence and rebuild the
    // scrubbed text; fully-covered docs drop out.
    Q("c31_dup_span_scrub",
      (s, d) => Dedup.scrubDuplicateSpans(Tables.documents(s, d),
        col("doc_id"), col("text"), n = 3, minDocs = 2)
        .orderBy("doc_id"),
      Some(
        s"""WITH $toksCte,
           |occ AS (
           |  SELECT doc_id, i AS pos,
           |         ${Hashing.sqlMd5Long60("list_aggregate(w[i:i+2], 'string_agg', ' ')")} AS gh
           |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)),
           |dup AS (
           |  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM occ)
           |  GROUP BY gh HAVING count(*) >= 2),
           |cov AS (
           |  SELECT DISTINCT doc_id, pos + o AS cp
           |  FROM occ JOIN dup USING (gh) CROSS JOIN range(0, 3) r(o)),
           |pt AS (
           |  SELECT doc_id, unnest(generate_series(1, len(w))) AS tp, w, len(w) AS n_tokens
           |  FROM toks),
           |kept AS (
           |  SELECT pt.doc_id, tp, w[tp] AS tok, n_tokens
           |  FROM pt LEFT JOIN cov ON pt.doc_id = cov.doc_id AND tp = cp
           |  WHERE cp IS NULL)
           |SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS scrubbed,
           |       CAST(n_tokens AS INT) AS n_tokens, count(*) AS n_kept
           |FROM kept GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin)),

    // The full dedup pipeline end-to-end at CLUSTER level: LSH pairs →
    // connected components → keep the min-id representative per component
    // (plus every unclustered doc) → per-lang corpus counts. Pair-level
    // dedup (c02_dedup_apply) under-removes on A~B~C chains; this is the
    // production composition.
    Q("c35_dedup_pipeline",
      (s, d) => {
        val labels = Dedup.connectedComponents(lshPairs(s, d))
        val dupIds = labels.filter(col("id") =!= col("cluster"))
          .select(col("id").as("_dup"))
        Tables.documents(s, d)
          .join(dupIds, col("doc_id") === col("_dup"), "left_anti")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
          .orderBy("lang")
      },
      Some(
        s"""WITH RECURSIVE $toksCte,
           |$gramsCte,
           |$sigCte,
           |$bandsCte,
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band AND x.doc_id < y.doc_id
           |),
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter
           |  FROM cand c JOIN gx a ON a.doc_id = c.doc_a JOIN gx b ON b.doc_id = c.doc_b AND b.g = a.g
           |  GROUP BY c.doc_a, c.doc_b
           |),
           |pairs AS (
           |  SELECT doc_a, doc_b FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE round(inter*1.0/(sa.n + sb.n - inter), 6) >= 0.5
           |),
           |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |      UNION SELECT doc_b, doc_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT src AS id, src AS r FROM e
           |  UNION
           |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
           |),
           |dup AS (SELECT id FROM reach GROUP BY id HAVING min(r) <> id)
           |SELECT lang, count(*) AS n_docs FROM documents
           |WHERE doc_id NOT IN (SELECT id FROM dup)
           |GROUP BY lang ORDER BY lang""".stripMargin)),

    // CCNet-style quality banding: keep the [p25, p75] cross-entropy band
    // (low tail = repetitive, high tail = junk; train on the middle).
    Q("c33_quality_band",
      (s, d) => TextAnalysis.qualityBand(Tables.documents(s, d),
        col("doc_id"), col("text"), lo = 0.25, hi = 0.75)
        .orderBy("doc_id"),
      Some(
        s"""WITH $toksCte,
           |tk AS (SELECT doc_id, unnest(w) AS t FROM toks),
           |v AS (SELECT t, count(*) AS cnt FROM tk GROUP BY t),
           |tot AS (SELECT count(*) AS total FROM tk),
           |xe AS (
           |  SELECT doc_id, count(*) AS n_tokens,
           |         round(-avg(ln(cnt::DOUBLE / total)), 6) AS cross_entropy
           |  FROM tk JOIN v USING (t) CROSS JOIN tot GROUP BY doc_id),
           |b AS (SELECT round(quantile_cont(cross_entropy, 0.25), 6) AS lo,
           |             round(quantile_cont(cross_entropy, 0.75), 6) AS hi FROM xe)
           |SELECT doc_id, n_tokens, cross_entropy FROM xe CROSS JOIN b
           |WHERE cross_entropy >= lo AND cross_entropy <= hi
           |ORDER BY doc_id""".stripMargin)),

    // Top principal component by matrix-free power iteration (3 rounds,
    // 6-dp re-sync per round): the embedding whitening/dim-reduction prep.
    Q("c34_top_pc",
      (s, d) => Similarity.topPrincipalComponent(Tables.embeddings(s, d),
        col("embedding"), iters = 3)
        .orderBy("dim"),
      Some {
        def step(prev: String, k: Int): String =
          s"""s$k AS (
             |  SELECT vec_id, x,
             |         list_sum(list_transform(generate_series(1, len(x)), i -> x[i] * $prev.varr[i])) AS s
             |  FROM v CROSS JOIN $prev),
             |a$k AS (
             |  SELECT dim, sum(x * s) AS a FROM (
             |    SELECT s, unnest(generate_series(1, len(x))) AS dim, unnest(x) AS x FROM s$k)
             |  GROUP BY dim),
             |n$k AS (SELECT sqrt(sum(a * a)) AS nrm FROM a$k),
             |v$k AS (SELECT list(round(a / nrm, 6) ORDER BY dim) AS varr FROM a$k CROSS JOIN n$k)""".stripMargin
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
           |  FROM embeddings),
           |dd AS (SELECT len(x) AS d FROM v LIMIT 1),
           |v0 AS (SELECT list_transform(generate_series(1, d),
           |         i -> round(1.0 / sqrt(CAST(d AS DOUBLE)), 6)) AS varr FROM dd),
           |${step("v0", 1)},
           |${step("v1", 2)},
           |${step("v2", 3)}
           |SELECT CAST(unnest(generate_series(1, len(varr))) - 1 AS INT) AS dim,
           |       unnest(varr) AS component
           |FROM v3 ORDER BY dim""".stripMargin
      }),

    // Deterministic k-means training (2 Lloyd rounds, k=8): hash-seeded
    // init, 6-dp re-sync after every update so both engines hold
    // bit-identical centroids — the IVF training step, closing the ANN
    // loop (c07 consumes centroids; this FITS them).
    Q("c32_kmeans_fit",
      // centroid is serialized to a '|'-joined 6-dp string for the oracle
      // gate (array output crashes the driver comparer); the `+ 0.0`
      // normalizes -0.0 so both engines print "0.000000". SimilaritySpec
      // covers the array form.
      (s, d) => Fixtures.kmeansFit8(s, d)
        .withColumn("centroid",
          concat_ws("|", transform(col("centroid"),
            x => format_string("%.6f", x + lit(0.0)))))
        .orderBy("cluster"),
      Some(
        s"""WITH ${kmeansSqlCtes(8)},
           |n AS (SELECT cluster, count(*) AS n_assigned FROM a2 GROUP BY cluster)
           |SELECT c2.cluster, n_assigned,
           |       list_aggregate(list_transform(c2.cvec,
           |         x -> format('{:.6f}', x + 0.0)), 'string_agg', '|') AS centroid
           |FROM c2 JOIN n USING (cluster) ORDER BY cluster""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): semantic dedup with the quadratic
    // pairwise term bounded by k-means clustering — exact cosine only
    // WITHIN a cluster, duplicate groups closed transitively, min-id kept.
    // The oracle replays the whole chain: k-means fit + assignment (the
    // c32 CTEs), within-cluster cosine edges, recursive-CTE components.
    Q("c36_semdedup",
      // the (k=8, iters=2) fit is EXACTLY the shared c32/c90 fixture —
      // collect its bounded k×dim model (8 rows) instead of re-running
      // the Lloyd rounds; assignment inlines the same 6-dp centroids, so
      // the result is bit-identical to an inline fit (oracle-pinned).
      (s, d) => Similarity.semDedupWithCentroids(Tables.embeddings(s, d),
        Fixtures.kmeansFit8(s, d).select(col("cluster"), col("centroid")).collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
          .sortBy(_._1),
        threshold = 0.45)
        .orderBy("vec_id"),
      Some(
        s"""WITH RECURSIVE ${kmeansSqlCtes(8)},
           |a3 AS (
           |  SELECT vec_id, v, cluster FROM (
           |    SELECT vec_id, v, c2.cluster AS cluster,
           |           round(list_sum(list_transform(generate_series(1, len(v)), i -> (v[i] - c2.cvec[i]) * (v[i] - c2.cvec[i]))), 6) AS d
           |    FROM v CROSS JOIN c2)
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1),
           |edges AS (
           |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
           |  FROM a3 x JOIN a3 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
           |  JOIN embeddings ea ON ea.vec_id = x.vec_id
           |  JOIN embeddings eb ON eb.vec_id = y.vec_id
           |  WHERE ${sqlCos("ea.embedding", "eb.embedding")} >= 0.45
           |),
           |e AS (SELECT vec_a AS src, vec_b AS dst FROM edges
           |      UNION SELECT vec_b, vec_a FROM edges),
           |reach(id, r) AS (
           |  SELECT src AS id, src AS r FROM e
           |  UNION
           |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
           |),
           |dup AS (SELECT id FROM reach GROUP BY id HAVING min(r) <> id)
           |SELECT vec_id, cluster FROM a3
           |WHERE vec_id NOT IN (SELECT id FROM dup)
           |ORDER BY vec_id""".stripMargin)),

    // One BPE-training iteration (Sennrich et al. 2016): word-frequency
    // agg (the only corpus-sized pass), then frequency-weighted
    // adjacent-character-pair counts over the DISTINCT-word table — the
    // top merge candidates a GPT-2-style tokenizer trainer would fuse.
    Q("c37_bpe_pairs",
      (s, d) => TextAnalysis.bpePairCounts(
        Tables.documents(s, d), col("text"), k = 20),
      Some(s"""WITH $toksCte,
             |wf AS (SELECT unnest(w) AS word FROM toks),
             |wc AS (SELECT word, count(*) AS freq FROM wf GROUP BY word),
             |p AS (SELECT unnest(list_transform(generate_series(1, len(word) - 1),
             |               i -> substr(word, i, 1) || ' ' || substr(word, i + 1, 1))) AS pair,
             |             freq
             |      FROM wc WHERE len(word) >= 2)
             |SELECT pair, CAST(sum(freq) AS BIGINT) AS freq FROM p
             |GROUP BY pair ORDER BY freq DESC, pair LIMIT 20""".stripMargin)),

    // URL canonicalization + URL-level dedup (the CCNet/RefinedWeb
    // pre-dedup normalization): synthetic per-doc URLs (md5-derived, the
    // geo/ip fixture pattern) decorated with scheme/www/case/tracking/
    // slash noise; the operator strips the noise and keeps one doc per
    // canonical URL. One hash agg on the canonical key — c01's shape.
    Q("c38_url_dedup", {
      (s, d) => {
        def h(tag: String) =
          Hashing.md5Long60(concat(lit(s"$tag:"), col("doc_id").cast("string")))
        val hostC = concat(lit("site"), (h("host") % 50).cast("string"), lit(".example.com"))
        val url = concat(
          when(h("b1") % 2 === 0, "http://").otherwise("https://"),
          when(h("b2") % 2 === 0, "www.").otherwise(""),
          when(h("b3") % 2 === 0, upper(hostC)).otherwise(hostC),
          lit("/p/"), (h("path") % 40).cast("string"),
          when(h("b4") % 2 === 0, "/").otherwise(""),
          when(h("b5") % 2 === 0, "?utm_source=feed&utm_medium=rss").otherwise(""))
        graft.ext.Web.dedupByUrl(
          Tables.documents(s, d).withColumn("url", url), col("doc_id"), col("url"))
          .orderBy("doc_id")
      }
    },
      Some {
        def sqlH(tag: String) =
          Hashing.sqlMd5Long60(s"'$tag:' || CAST(doc_id AS VARCHAR)")
        s"""WITH u0 AS (
           |  SELECT doc_id,
           |         'site' || CAST(${sqlH("host")} % 50 AS VARCHAR) || '.example.com' AS h0,
           |         ${sqlH("b1")} % 2 AS b1, ${sqlH("b2")} % 2 AS b2,
           |         ${sqlH("b3")} % 2 AS b3, ${sqlH("b4")} % 2 AS b4,
           |         ${sqlH("b5")} % 2 AS b5,
           |         CAST(${sqlH("path")} % 40 AS VARCHAR) AS p0
           |  FROM documents),
           |u AS (
           |  SELECT doc_id,
           |         (CASE WHEN b1 = 0 THEN 'http://' ELSE 'https://' END)
           |           || (CASE WHEN b2 = 0 THEN 'www.' ELSE '' END)
           |           || (CASE WHEN b3 = 0 THEN upper(h0) ELSE h0 END)
           |           || '/p/' || p0
           |           || (CASE WHEN b4 = 0 THEN '/' ELSE '' END)
           |           || (CASE WHEN b5 = 0 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END) AS url
           |  FROM u0),
           |c1 AS (SELECT doc_id, regexp_replace(url, '^https?://', '') AS s1 FROM u),
           |c2 AS (SELECT doc_id,
           |              lower(regexp_extract(s1, '^[^/?]+')) || substr(s1, len(regexp_extract(s1, '^[^/?]+')) + 1) AS s2
           |       FROM c1),
           |c3 AS (SELECT doc_id, regexp_replace(s2, '^www\\.', '') AS s3 FROM c2),
           |c4 AS (SELECT doc_id, regexp_replace(s3,
           |              '\\?(?:utm_[a-z]+|fbclid|gclid)=[^&]*(?:&(?:utm_[a-z]+|fbclid|gclid)=[^&]*)*$$', '') AS s4
           |       FROM c3),
           |c5 AS (SELECT doc_id, regexp_replace(s4, '/$$', '') AS url_canon FROM c4),
           |g AS (SELECT url_canon, min(doc_id) AS doc_id, count(*) AS dup_count
           |      FROM c5 GROUP BY url_canon)
           |SELECT doc_id, url_canon, regexp_extract(url_canon, '^[^/?]+') AS host, dup_count
           |FROM g ORDER BY doc_id""".stripMargin
      }),

    // BPE ENCODE — the apply step completing c37's train half: top-10
    // learned merges (driver-collected trained artifact) applied in rank
    // order as boundary-exact marker replaces; per-doc symbol counts +
    // compression. One-round merge list (full training would loop c37
    // once per merge); the oracle replays the merge walk with a
    // recursive CTE in the same rank order.
    Q("c41_bpe_encode",
      (s, d) => {
        val merges = TextAnalysis.bpePairCounts(
          Tables.documents(s, d), col("text"), k = 10)
          .collect().map(_.getString(0)).toSeq
        TextAnalysis.bpeEncode(Tables.documents(s, d), col("doc_id"), col("text"), merges)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $toksCte,
             |wf AS (SELECT unnest(w) AS word FROM toks),
             |wc AS (SELECT word, count(*) AS freq FROM wf GROUP BY word),
             |pp AS (SELECT unnest(list_transform(generate_series(1, len(word) - 1),
             |               i -> substr(word, i, 1) || ' ' || substr(word, i + 1, 1))) AS pair,
             |             freq
             |       FROM wc WHERE len(word) >= 2),
             |tp AS (SELECT pair, sum(freq) AS f FROM pp GROUP BY pair
             |       ORDER BY f DESC, pair LIMIT 10),
             |m AS (SELECT row_number() OVER (ORDER BY f DESC, pair) AS rk,
             |             '<' || split_part(pair, ' ', 1) || '><' || split_part(pair, ' ', 2) || '>' AS pat,
             |             '<' || replace(pair, ' ', '') || '>' AS rep
             |      FROM tp),
             |w0 AS (SELECT doc_id,
             |              list_aggregate(list_transform(w, x -> regexp_replace(x, '(.)', '<\\1>', 'g')),
             |                             'string_agg', '|') AS s
             |       FROM toks),
             |rec(doc_id, k, s) AS (
             |  SELECT doc_id, 0, s FROM w0
             |  UNION ALL
             |  SELECT rec.doc_id, rec.k + 1, replace(rec.s, m.pat, m.rep)
             |  FROM rec JOIN m ON m.rk = rec.k + 1),
             |enc AS (SELECT doc_id, s FROM rec WHERE k = (SELECT count(*) FROM m))
             |SELECT w0.doc_id,
             |       len(w0.s) - len(replace(w0.s, '<', '')) AS n_chars,
             |       len(enc.s) - len(replace(enc.s, '<', '')) AS n_bpe_tokens,
             |       round((len(w0.s) - len(replace(w0.s, '<', ''))) * 1.0
             |             / (len(enc.s) - len(replace(enc.s, '<', ''))), 6) AS compression
             |FROM w0 JOIN enc USING (doc_id) ORDER BY w0.doc_id""".stripMargin)),

    // FastText-style classifier TRAINING, distributed (the GPT-3/CCNet
    // quality-filter step): hashed bag-of-words + full-batch logistic
    // regression, 5 GD iterations, every per-row value and aggregate
    // rounded to 6 dp so the DuckDB replay is bit-identical (the c32
    // k-means protocol). The label distills a Gopher-style lexical-
    // diversity rule (>= 26 distinct tokens, ~48% positive) into the
    // model — the realistic shape: pipelines train fast classifiers to
    // mimic expensive quality signals. Centered presence features
    // express it (dot = sum of present-bucket weights minus a scalar,
    // monotone in diversity) and keep GD conditioned.
    // Output per bucket: weight + centering mean, intercept at -1.
    Q("c39_quality_classifier_train",
      (s, d) => {
        import s.implicits._
        Fixtures.qualityModel(s, d).toDF("feature", "weight", "mu").orderBy("feature")
      },
      Some(s"""WITH ${logRegSqlCtes(64)}
             |SELECT CAST(-1 AS BIGINT) AS feature, (SELECT b FROM bb5) AS weight, 0.0 AS mu
             |UNION ALL
             |SELECT gs.j, COALESCE(w5.wv, 0.0), COALESCE(mm.m, 0.0)
             |FROM (SELECT unnest(generate_series(0, 63)) AS j) gs
             |LEFT JOIN w5 ON w5.fidx = gs.j
             |LEFT JOIN mm ON mm.fidx = gs.j
             |ORDER BY feature""".stripMargin)),

    // The APPLY step: score every doc with the trained model (weights +
    // centering means broadcast as literal arrays, one narrow pass + one
    // dot-product agg) and threshold at 0.5 — keep/drop quality filtering.
    Q("c40_quality_classifier_apply",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = Fixtures.qualityModel(s, d).map(t => t._1 -> (t._2, t._3)).toMap
        graft.ext.Classifier.scoreLogReg(docs, col("doc_id"), col("text"),
          Array.tabulate(64)(j => m(j.toLong)._1), Array.tabulate(64)(j => m(j.toLong)._2),
          m(-1L)._1, threshold = 0.5)
          .orderBy("doc_id")
      },
      Some(s"""WITH ${logRegSqlCtes(64)},
             |ccf AS (SELECT round(COALESCE(sum(m * wv), 0.0), 6) AS c
             |        FROM mm JOIN w5 USING (fidx)),
             |sc AS (
             |  SELECT f.doc_id, round(sum(COALESCE(w5.wv, 0.0)), 6) AS dots
             |  FROM f LEFT JOIN w5 USING (fidx) GROUP BY f.doc_id),
             |pr AS (
             |  SELECT doc_id,
             |         round(1.0/(1.0 + exp(-(dots - (SELECT c FROM ccf)
             |           + (SELECT b FROM bb5)))), 6) AS p
             |  FROM sc)
             |SELECT doc_id, p, p >= 0.5 AS keep FROM pr ORDER BY doc_id""".stripMargin)),

    // Balanced shard assignment (write-N-training-shards): serpentine
    // sweep over token-count-descending rank — the rank-only LPT greedy.
    // The global rank is the packTokens bounded-collect prefix sum, so
    // no single-partition window exists at any scale.
    Q("c42_shard_pack",
      (s, d) => Corpus.packShards(Tables.documents(s, d), col("doc_id"),
        col("text"), nShards = 8),
      Some(s"""WITH $toksCte,
             |n AS (SELECT doc_id, len(w) AS n FROM toks),
             |r AS (SELECT doc_id, n,
             |             row_number() OVER (ORDER BY n DESC, doc_id) - 1 AS rk
             |      FROM n),
             |s AS (SELECT doc_id, n,
             |             CASE WHEN rk % 16 < 8 THEN rk % 16
             |                  ELSE 15 - (rk % 16) END AS shard
             |      FROM r)
             |SELECT shard, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
             |       max(n) AS max_doc_tokens
             |FROM s GROUP BY shard ORDER BY shard""".stripMargin)),

    // Vocabulary coverage / OOV rate: top-16 corpus terms form the vocab
    // (bounded sort-limit, broadcast back); per-doc out-of-vocab token
    // fraction — the tokenizer-fit diagnostic.
    Q("c43_oov_rate",
      (s, d) => TextAnalysis.oovRate(Tables.documents(s, d), col("doc_id"),
        col("text"), vocabSize = 16).orderBy("doc_id"),
      Some(s"""WITH $toksCte,
             |tf AS (SELECT unnest(w) AS tok FROM toks),
             |v AS (SELECT tok FROM (
             |        SELECT tok, count(*) AS f FROM tf GROUP BY tok
             |        ORDER BY f DESC, tok LIMIT 16)),
             |p AS (SELECT doc_id, unnest(w) AS tok FROM toks)
             |SELECT doc_id, count(*) AS n_tokens,
             |       CAST(sum(CASE WHEN tok IN (SELECT tok FROM v) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
             |       round(sum(CASE WHEN tok IN (SELECT tok FROM v) THEN 0 ELSE 1 END) * 1.0
             |             / count(*), 6) AS oov_rate
             |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Score calibration to corpus percentiles ("keep the top 30%"): a
    // 16-bin histogram of the c09 quality score, bin-level cumulative
    // distribution (bounded window over 16 rows), midpoint-convention
    // percentile broadcast back per doc.
    Q("c44_score_calibrate",
      (s, d) => graft.ext.Classifier.calibrateScores(
        TextAnalysis.qualityFeatures(Tables.documents(s, d), col("doc_id"), col("text")),
        col("doc_id"), col("quality"), nBins = 16).orderBy("doc_id"),
      Some {
        val stop = TextAnalysis.langMarkers.head._2.map(m => s"'$m'").mkString(",")
        s"""WITH base AS (
           |  SELECT doc_id, length(text) AS n_chars,
           |         len(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS n_tokens,
           |         length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS punct,
           |         len(list_filter(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> ''),
           |             t -> t IN ($stop))) AS stop
           |  FROM documents),
           |q AS (SELECT doc_id,
           |             round(0.5*(stop*1.0/n_tokens) + 0.3*least(n_tokens*1.0/100.0, 1.0)
           |                   + 0.2*(1.0 - punct*1.0/n_chars), 6) AS score
           |      FROM base),
           |b AS (SELECT doc_id, score,
           |             least(CAST(floor(score * 16) AS BIGINT), 15) AS bin
           |      FROM q),
           |h AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
           |cum AS (SELECT bin, c,
           |               COALESCE(sum(c) OVER (ORDER BY bin
           |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           |        FROM h),
           |m AS (SELECT bin, round((below + c * 0.5)
           |             / (SELECT count(*) FROM b), 6) AS calibrated
           |      FROM cum)
           |SELECT b.doc_id, b.score, m.calibrated
           |FROM b JOIN m USING (bin) ORDER BY b.doc_id""".stripMargin
      }),

    // Bigram-LM perplexity per doc (the CCNet/KenLM perplexity filter,
    // add-k bigram LM standing in for KenLM): two hash aggs fit the LM,
    // one (w1,w2) join scores; 6-dp logp + re-rounded per-doc sum keep
    // both engines bit-identical.
    Q("c45_bigram_ppl",
      (s, d) => TextAnalysis.bigramPerplexity(Tables.documents(s, d),
        col("doc_id"), col("text"), k = 0.5).orderBy("doc_id"),
      Some(s"""WITH $toksCte,
             |b AS (SELECT doc_id, w FROM toks WHERE len(w) >= 2),
             |big AS (
             |  SELECT doc_id,
             |         unnest(list_transform(generate_series(1, len(w)-1), i -> w[i])) AS w1,
             |         unnest(list_transform(generate_series(1, len(w)-1), i -> w[i+1])) AS w2
             |  FROM b),
             |c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
             |c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
             |v AS (SELECT count(DISTINCT tok) AS v
             |      FROM (SELECT unnest(w) AS tok FROM toks)),
             |lm AS (SELECT w1, w2,
             |              round(ln((c12 + 0.5) / (c1 + 0.5 * (SELECT v FROM v))), 6) AS logp
             |       FROM c12 JOIN c1 USING (w1)),
             |sc AS (SELECT doc_id, count(*) AS n_bigrams, round(sum(logp), 6) AS ll
             |       FROM big JOIN lm USING (w1, w2) GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, ll, round(exp(-ll / n_bigrams), 4) AS ppl
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // Kneser-Ney bigram perplexity: the real-LM smoothing (continuation
    // counts from the bigram TYPE table) — same plan shape as c45, same
    // 6-dp determinism protocol.
    Q("c70_kn_ppl",
      (s, d) => TextAnalysis.knPerplexity(Tables.documents(s, d),
        col("doc_id"), col("text"), discount = 0.75).orderBy("doc_id"),
      Some(s"""WITH $toksCte,
             |b AS (SELECT doc_id, w FROM toks WHERE len(w) >= 2),
             |big AS (
             |  SELECT doc_id,
             |         unnest(list_transform(generate_series(1, len(w)-1), i -> w[i])) AS w1,
             |         unnest(list_transform(generate_series(1, len(w)-1), i -> w[i+1])) AS w2
             |  FROM b),
             |c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
             |s1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1p_l
             |       FROM c12 GROUP BY w1),
             |s2 AS (SELECT w2, count(*) AS n1p_r FROM c12 GROUP BY w2),
             |na AS (SELECT count(*) AS n_all FROM c12),
             |lm AS (SELECT w1, w2,
             |              round(ln(greatest(c12 - 0.75, 0.0) / c1
             |                + 0.75 * n1p_l / c1 * (n1p_r / n_all)), 6) AS logp
             |       FROM c12 JOIN s1 USING (w1) JOIN s2 USING (w2) CROSS JOIN na),
             |sc AS (SELECT doc_id, count(*) AS n_bigrams, round(sum(logp), 6) AS ll
             |       FROM big JOIN lm USING (w1, w2) GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, ll, round(exp(-ll / n_bigrams), 4) AS ppl
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // PMI collocation mining (phrase-vocab induction): adjacent-pair
    // pointwise mutual information, support-pruned, top-20.
    Q("c46_pmi_collocations",
      (s, d) => TextAnalysis.pmiCollocations(Tables.documents(s, d),
        col("doc_id"), col("text"), minCount = 5, topK = 20),
      Some(s"""WITH $toksCte,
             |b AS (SELECT doc_id, w FROM toks WHERE len(w) >= 2),
             |big AS (
             |  SELECT unnest(list_transform(generate_series(1, len(w)-1), i -> w[i])) AS w1,
             |         unnest(list_transform(generate_series(1, len(w)-1), i -> w[i+1])) AS w2
             |  FROM b),
             |c12 AS (SELECT w1, w2, count(*) AS c12 FROM big
             |        GROUP BY w1, w2 HAVING count(*) >= 5),
             |uni AS (SELECT tok, count(*) AS cu
             |        FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok),
             |nt AS (SELECT count(*) AS n_tok FROM (SELECT unnest(w) FROM toks)),
             |nb AS (SELECT count(*) AS n_big FROM big)
             |SELECT w1, w2, c12,
             |       round(ln((c12 * 1.0 / (SELECT n_big FROM nb)) /
             |             ((u1.cu * 1.0 / (SELECT n_tok FROM nt)) *
             |              (u2.cu * 1.0 / (SELECT n_tok FROM nt)))), 6) AS pmi
             |FROM c12 JOIN uni u1 ON u1.tok = w1 JOIN uni u2 ON u2.tok = w2
             |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin)),

    // Dataset-card rollup: docs/tokens/doc-length by source × lang with
    // all marginals + grand total — ONE Expand + hash agg (CUBE), no
    // per-slice re-scan; gid disambiguates rolled-up NULLs.
    Q("c47_corpus_report",
      (s, d) => Corpus.corpusReport(Tables.documents(s, d), col("doc_id"),
        col("text"), col("source"), col("lang")),
      Some("""WITH d AS (
             |  SELECT source, lang,
             |         CAST(len(list_filter(string_split_regex(lower(text), '\W+'),
             |              x -> x <> '')) AS BIGINT) AS n
             |  FROM documents)
             |SELECT source, lang, CAST(GROUPING(source, lang) AS BIGINT) AS gid,
             |       count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
             |       round(sum(n) * 1.0 / count(*), 4) AS avg_doc_tokens
             |FROM d GROUP BY CUBE (source, lang)
             |ORDER BY gid, source NULLS FIRST, lang NULLS FIRST""".stripMargin)),

    // Farthest-point (greedy k-center) sampling: diverse coreset
    // selection — the spread-keeping complement of SemDeDup. Seed = min
    // id; per round, argmax of min 6-dp cosine distance to the chosen
    // set. Narrow scan + TakeOrdered per round, zero shuffles. The
    // oracle unrolls the k=4 greedy exactly.
    Q("c48_fps_coreset",
      (s, d) => Similarity.farthestPointSample(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), k = 4).orderBy("round"),
      Some(s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
             |s0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
             |d1 AS (SELECT e.vec_id, e.v, 1 - ${sqlCos("e.v", "s0.v")} AS dmin
             |       FROM e, s0),
             |s1 AS (SELECT * FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1),
             |d2 AS (SELECT d1.vec_id, d1.v,
             |              least(d1.dmin, 1 - ${sqlCos("d1.v", "s1.v")}) AS dmin
             |       FROM d1, s1),
             |s2 AS (SELECT * FROM d2 ORDER BY dmin DESC, vec_id LIMIT 1),
             |d3 AS (SELECT d2.vec_id, d2.v,
             |              least(d2.dmin, 1 - ${sqlCos("d2.v", "s2.v")}) AS dmin
             |       FROM d2, s2),
             |s3 AS (SELECT * FROM d3 ORDER BY dmin DESC, vec_id LIMIT 1)
             |SELECT CAST(0 AS BIGINT) AS "round", vec_id, 0.0 AS dist FROM s0
             |UNION ALL SELECT 1, vec_id, dmin FROM s1
             |UNION ALL SELECT 2, vec_id, dmin FROM s2
             |UNION ALL SELECT 3, vec_id, dmin FROM s3
             |ORDER BY "round"""".stripMargin)),

    // DSIR importance resampling (Xie et al. 2023): hashed-unigram
    // importance weights toward a target distribution (source src0),
    // Gumbel-top-k deterministic resample. Two bucket-table hash aggs +
    // one broadcast-joined doc pass; the md5-derived Gumbel keys make the
    // "random" sample exactly replayable.
    Q("c49_dsir_resample",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Corpus.dsirResample(docs, docs.filter(col("source") === "src0"),
          col("doc_id"), col("text"), buckets = 512, k = 50, seed = "42")
      },
      Some(s"""WITH tok AS (
             |  SELECT doc_id, source,
             |         unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS t
             |  FROM documents),
             |tb AS (SELECT doc_id, source,
             |              ${Hashing.sqlMd5Long60("'dsir:' || t")} % 512 AS b FROM tok),
             |tgt AS (SELECT b, count(*) AS ct FROM tb WHERE source = 'src0' GROUP BY b),
             |rw AS (SELECT b, count(*) AS cr FROM tb GROUP BY b),
             |tots AS (SELECT (SELECT CAST(sum(ct) AS DOUBLE) FROM tgt) AS tt,
             |                (SELECT CAST(sum(cr) AS DOUBLE) FROM rw) AS rt),
             |ratio AS (
             |  SELECT rw.b, round(ln((COALESCE(ct, 0) + 0.5) / (tt + 0.5 * 512))
             |                   - ln((cr + 0.5) / (rt + 0.5 * 512)), 6) AS logr
             |  FROM rw LEFT JOIN tgt ON rw.b = tgt.b, tots),
             |db AS (SELECT doc_id, b, count(*) AS n FROM tb GROUP BY doc_id, b),
             |w AS (SELECT doc_id, round(sum(n * logr), 6) AS logw
             |      FROM db JOIN ratio USING (b) GROUP BY doc_id)
             |SELECT doc_id, logw,
             |       round(logw - ln(-ln((${Hashing.sqlMd5Long60("'dsirg:42:' || CAST(doc_id AS VARCHAR)")} % 1000000 + 1) / 1000001.0)), 6) AS gkey
             |FROM w ORDER BY gkey DESC, doc_id LIMIT 50""".stripMargin)),

    // Product quantization + ADC search (Jégou et al. 2011): 64-dim
    // embeddings → 4 subspaces × 8-centroid seeded codebook; per-vector
    // 4-byte codes; the query scores by a driver-side lookup table — the
    // scan touches codes, never embeddings. The oracle replays encode and
    // ADC bit-for-bit (6-dp squared-L2, ties to the smaller code).
    Q("c50_pq_adc",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val cb = Similarity.pqCodebookFromIds(e, col("vec_id"), col("embedding"), m = 4, k = 8)
        val q = e.filter(col("vec_id") === 123)
          .select(col("embedding").cast("array<double>"))
          .collect().head.getSeq[Double](0)
        Similarity.pqAdcSearch(
          Similarity.pqEncode(e, col("vec_id"), col("embedding"), cb), cb, q, topK = 10)
      },
      // distance = the ‖x‖² − 2x·c + ‖c‖² expansion (three ascending-fold
      // list_sums) — the exact association of the codegen'd VecOps.dotD
      // path on the Spark side
      Some("""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
             |       FROM embeddings ORDER BY vec_id LIMIT 8),
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 123),
             |sd AS (SELECT e.vec_id, t.s, cb.j,
             |         round(list_sum(list_transform(generate_series(1, 16),
             |                 i -> CAST(e.v[t.s*16+i] AS DOUBLE) * CAST(e.v[t.s*16+i] AS DOUBLE)))
             |             - 2.0 * list_sum(list_transform(generate_series(1, 16),
             |                 i -> CAST(e.v[t.s*16+i] AS DOUBLE) * CAST(cb.c[t.s*16+i] AS DOUBLE)))
             |             + list_sum(list_transform(generate_series(1, 16),
             |                 i -> CAST(cb.c[t.s*16+i] AS DOUBLE) * CAST(cb.c[t.s*16+i] AS DOUBLE))), 6) AS d
             |       FROM e, generate_series(0, 3) t(s), cb),
             |enc AS (SELECT vec_id, s, j AS code FROM (
             |          SELECT vec_id, s, j,
             |                 row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
             |          FROM sd) WHERE rn = 1),
             |lut AS (SELECT t.s, cb.j,
             |          round(list_sum(list_transform(generate_series(1, 16),
             |                  i -> CAST(q.qv[t.s*16+i] AS DOUBLE) * CAST(q.qv[t.s*16+i] AS DOUBLE)))
             |              - 2.0 * list_sum(list_transform(generate_series(1, 16),
             |                  i -> CAST(q.qv[t.s*16+i] AS DOUBLE) * CAST(cb.c[t.s*16+i] AS DOUBLE)))
             |              + list_sum(list_transform(generate_series(1, 16),
             |                  i -> CAST(cb.c[t.s*16+i] AS DOUBLE) * CAST(cb.c[t.s*16+i] AS DOUBLE))), 6) AS ld
             |        FROM q, generate_series(0, 3) t(s), cb),
             |jx AS (SELECT enc.vec_id, enc.s, lut.ld
             |       FROM enc JOIN lut ON lut.s = enc.s AND lut.j = enc.code),
             |p AS (SELECT vec_id,
             |        max(CASE WHEN s = 0 THEN ld END) AS l0, max(CASE WHEN s = 1 THEN ld END) AS l1,
             |        max(CASE WHEN s = 2 THEN ld END) AS l2, max(CASE WHEN s = 3 THEN ld END) AS l3
             |      FROM jx GROUP BY vec_id)
             |SELECT vec_id, round(l0 + l1 + l2 + l3, 6) AS adist
             |FROM p ORDER BY adist, vec_id LIMIT 10""".stripMargin)),

    // Cross-source n-gram overlap matrix: the between-source contamination
    // report before fixing mixture weights. Distinct (source, 3-gram)
    // pairs self-join on the gram — fan-out bounded by C(#sources, 2),
    // never corpus-quadratic. Top-30 most overlapping pairs.
    Q("c51_source_overlap",
      (s, d) => Corpus.sourceOverlap(Tables.documents(s, d), col("doc_id"),
        col("text"), col("source"), n = 3).limit(30),
      Some(s"""WITH $toksCte,
             |j AS (SELECT doc_id, source, w FROM toks JOIN documents USING (doc_id)),
             |gs AS (SELECT source,
             |              unnest(list_transform(generate_series(1, len(w)-2),
             |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
             |       FROM j WHERE len(w) >= 3),
             |g AS (SELECT DISTINCT source, ${Hashing.sqlMd5Long60("g")} AS g FROM gs),
             |sz AS (SELECT source, count(*) AS sz FROM g GROUP BY source),
             |iv AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
             |       FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
             |       GROUP BY 1, 2)
             |SELECT src_a, src_b, inter,
             |       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
             |FROM iv JOIN sz sa ON sa.source = src_a JOIN sz sb ON sb.source = src_b
             |ORDER BY jaccard DESC, src_a, src_b LIMIT 30""".stripMargin)),

    // Per-source KS drift: two-sample Kolmogorov–Smirnov between each
    // source's doc-length distribution and the rest of the corpus — the
    // "did this crawl shift?" monitor. Value-cardinality-bounded grid +
    // two cumulative windows; CDF gaps round to 6 dp before the max.
    Q("c52_ks_drift",
      (s, d) => Corpus.ksDrift(Tables.documents(s, d), col("doc_id"),
        col("text"), col("source")),
      Some(s"""WITH $toksCte,
             |len AS (SELECT t.doc_id, d.source, len(t.w) AS n
             |        FROM toks t JOIN documents d USING (doc_id)),
             |psn AS (SELECT source, n, count(*) AS cs FROM len GROUP BY source, n),
             |pn AS (SELECT n, count(*) AS ca FROM len GROUP BY n),
             |ps AS (SELECT source, count(*) AS ns FROM len GROUP BY source),
             |na AS (SELECT count(*) AS na FROM len),
             |grid AS (SELECT ps.source, pn.n, pn.ca, ps.ns, COALESCE(psn.cs, 0) AS cs, na.na
             |         FROM pn CROSS JOIN ps
             |         LEFT JOIN psn ON psn.source = ps.source AND psn.n = pn.n, na),
             |cum AS (SELECT source, n,
             |          CAST(sum(cs) OVER w AS DOUBLE) / ns AS fs,
             |          CAST(sum(ca) OVER w - sum(cs) OVER w AS DOUBLE) / (na - ns) AS fr
             |        FROM grid WINDOW w AS (PARTITION BY source ORDER BY n
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT source, max(round(abs(fs - fr), 6)) AS ks
             |FROM cum GROUP BY source ORDER BY ks DESC, source""".stripMargin)),

    // IVF-PQ: coarse cells prune, PQ codes rank — the composed serving
    // index (c07's IVF pruning over c50's code ranking). nprobe=2 of 8
    // cells → ~3/4 of the corpus never reaches distance work, and the
    // probed scan touches 4-byte codes, not 256-byte vectors.
    Q("c53_ivfpq",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val coarse = Similarity.pqCodebookFromIds(e, col("vec_id"), col("embedding"),
          m = 1, k = 8).head
        val cb = Similarity.pqCodebookFromIds(e, col("vec_id"), col("embedding"), m = 4, k = 8)
        val q = e.filter(col("vec_id") === 123)
          .select(col("embedding").cast("array<double>"))
          .collect().head.getSeq[Double](0)
        Similarity.ivfPqSearch(e, col("vec_id"), col("embedding"), coarse, cb, q,
          nprobe = 2, topK = 10)
      },
      // every distance is the ‖x‖² − 2x·c + ‖c‖² expansion (the codegen'd
      // dotD association), mirrored textually
      Some("""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
             |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
             |       FROM embeddings ORDER BY vec_id LIMIT 8),
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 123),
             |cd AS (SELECT e.vec_id, cb.j,
             |         round(list_sum(list_transform(generate_series(1, 64),
             |                 i -> CAST(e.v[i] AS DOUBLE) * CAST(e.v[i] AS DOUBLE)))
             |             - 2.0 * list_sum(list_transform(generate_series(1, 64),
             |                 i -> CAST(e.v[i] AS DOUBLE) * CAST(cb.c[i] AS DOUBLE)))
             |             + list_sum(list_transform(generate_series(1, 64),
             |                 i -> CAST(cb.c[i] AS DOUBLE) * CAST(cb.c[i] AS DOUBLE))), 6) AS d
             |       FROM e, cb),
             |cell AS (SELECT vec_id, j AS cell FROM (
             |           SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
             |           FROM cd) WHERE rn = 1),
             |qd AS (SELECT cb.j,
             |         round(list_sum(list_transform(generate_series(1, 64),
             |                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
             |             - 2.0 * list_sum(list_transform(generate_series(1, 64),
             |                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(cb.c[i] AS DOUBLE)))
             |             + list_sum(list_transform(generate_series(1, 64),
             |                 i -> CAST(cb.c[i] AS DOUBLE) * CAST(cb.c[i] AS DOUBLE))), 6) AS d
             |       FROM q, cb),
             |qc AS (SELECT j FROM (SELECT j, row_number() OVER (ORDER BY d, j) AS rn FROM qd)
             |       WHERE rn <= 2),
             |cand AS (SELECT e.* FROM e JOIN cell USING (vec_id)
             |         WHERE cell IN (SELECT j FROM qc)),
             |sd AS (SELECT cand.vec_id, t.s, cb.j,
             |         round(list_sum(list_transform(generate_series(1, 16),
             |                 i -> CAST(cand.v[t.s*16+i] AS DOUBLE) * CAST(cand.v[t.s*16+i] AS DOUBLE)))
             |             - 2.0 * list_sum(list_transform(generate_series(1, 16),
             |                 i -> CAST(cand.v[t.s*16+i] AS DOUBLE) * CAST(cb.c[t.s*16+i] AS DOUBLE)))
             |             + list_sum(list_transform(generate_series(1, 16),
             |                 i -> CAST(cb.c[t.s*16+i] AS DOUBLE) * CAST(cb.c[t.s*16+i] AS DOUBLE))), 6) AS d
             |       FROM cand, generate_series(0, 3) t(s), cb),
             |enc AS (SELECT vec_id, s, j AS code FROM (
             |          SELECT vec_id, s, j,
             |                 row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
             |          FROM sd) WHERE rn = 1),
             |lut AS (SELECT t.s, cb.j,
             |          round(list_sum(list_transform(generate_series(1, 16),
             |                  i -> CAST(q.qv[t.s*16+i] AS DOUBLE) * CAST(q.qv[t.s*16+i] AS DOUBLE)))
             |              - 2.0 * list_sum(list_transform(generate_series(1, 16),
             |                  i -> CAST(q.qv[t.s*16+i] AS DOUBLE) * CAST(cb.c[t.s*16+i] AS DOUBLE)))
             |              + list_sum(list_transform(generate_series(1, 16),
             |                  i -> CAST(cb.c[t.s*16+i] AS DOUBLE) * CAST(cb.c[t.s*16+i] AS DOUBLE))), 6) AS ld
             |        FROM q, generate_series(0, 3) t(s), cb),
             |jx AS (SELECT enc.vec_id, enc.s, lut.ld
             |       FROM enc JOIN lut ON lut.s = enc.s AND lut.j = enc.code),
             |p AS (SELECT vec_id,
             |        max(CASE WHEN s = 0 THEN ld END) AS l0, max(CASE WHEN s = 1 THEN ld END) AS l1,
             |        max(CASE WHEN s = 2 THEN ld END) AS l2, max(CASE WHEN s = 3 THEN ld END) AS l3
             |      FROM jx GROUP BY vec_id)
             |SELECT vec_id, round(l0 + l1 + l2 + l3, 6) AS adist
             |FROM p ORDER BY adist, vec_id LIMIT 10""".stripMargin)),

    // Distinct-n diversity (Li et al. 2016): per-doc distinct-bigram
    // ratio — the template/boilerplate flag. Fully narrow until the
    // final sort.
    Q("c54_distinct_n",
      (s, d) => TextAnalysis.distinctN(Tables.documents(s, d), col("doc_id"),
        col("text"), n = 2).orderBy("ratio", "doc_id").limit(50),
      Some(s"""WITH $toksCte,
             |g AS (SELECT doc_id,
             |             list_transform(generate_series(1, len(w)-1),
             |               i -> w[i] || ' ' || w[i+1]) AS g
             |      FROM toks WHERE len(w) >= 2)
             |SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
             |       CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
             |       round(CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 6) AS ratio
             |FROM g ORDER BY ratio, doc_id LIMIT 50""".stripMargin)),

    // Incremental near-dup admission: the arriving half (doc_id >= 250)
    // band-joins against the standing half only — ingest is O(batch),
    // never O(corpus). Per incoming doc: verified existing-match count +
    // admission flag.
    Q("c55_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.dedupIncremental(
          docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
          col("doc_id"), col("text"), numHashes = NUM_HASHES,
          bandSize = BAND_SIZE, threshold = 0.5)
      },
      Some(s"""WITH $toksCte,
             |$gramsCte,
             |$sigCte,
             |$bandsCte,
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS doc_new, y.doc_id AS doc_old
             |  FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band
             |  WHERE x.doc_id >= 250 AND y.doc_id < 250),
             |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
             |inter AS (
             |  SELECT c.doc_new, c.doc_old, count(*) AS inter
             |  FROM cand c JOIN gx a ON a.doc_id = c.doc_new
             |              JOIN gx b ON b.doc_id = c.doc_old AND b.g = a.g
             |  GROUP BY c.doc_new, c.doc_old),
             |m AS (SELECT doc_new, count(*) AS n_matches FROM (
             |        SELECT i.doc_new FROM inter i
             |        JOIN sizes sa ON sa.doc_id = i.doc_new
             |        JOIN sizes sb ON sb.doc_id = i.doc_old
             |        WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 6) >= 0.5)
             |      GROUP BY doc_new)
             |SELECT d.doc_id, COALESCE(m.n_matches, 0) AS n_matches,
             |       m.doc_new IS NULL AS admitted
             |FROM documents d LEFT JOIN m ON m.doc_new = d.doc_id
             |WHERE d.doc_id >= 250 ORDER BY d.doc_id""".stripMargin)),

    // Token-budget allocation: temperature-smoothed target shares under a
    // 1M-token budget with a 2-epoch cap — the "how many epochs of each
    // source" planning table every pretraining mixture needs.
    Q("c56_token_budget",
      (s, d) => Corpus.tokenBudget(Tables.documents(s, d), col("doc_id"),
        col("text"), col("source"), budget = 1000000L, temperature = 2.0,
        maxEpochs = 2.0),
      Some("""WITH n AS (
             |  SELECT source,
             |         CAST(sum(len(list_filter(string_split_regex(lower(text), '\W+'),
             |             x -> x <> ''))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY source),
             |p AS (SELECT source, n_tokens, pow(CAST(n_tokens AS DOUBLE), 0.5) AS p FROM n),
             |t AS (SELECT sum(p) AS tp FROM p),
             |w AS (SELECT source, n_tokens, round(p / tp, 6) AS weight FROM p, t),
             |a AS (SELECT source, n_tokens, weight,
             |             round(least(1000000.0 * weight, 2.0 * n_tokens), 4) AS alloc_tokens
             |      FROM w)
             |SELECT source, n_tokens, weight, alloc_tokens,
             |       round(alloc_tokens / n_tokens, 6) AS epochs
             |FROM a ORDER BY source""".stripMargin)),

    // Checksum-GATED card redaction: 13-19 digit runs masked ONLY when
    // they pass the Luhn check (plain regex false-positives ~10% of
    // random digit runs; the checksum filters the rest) — the production
    // PII rule c28's regex family can't express. Fixture appends a
    // VALID md5-derived 16-digit card to every 3rd doc, the same number
    // with a broken check digit to the next third, nothing to the rest —
    // so the row exercises mask / keep-invalid / no-candidate. The
    // oracle replays fixture construction, candidate extraction, the
    // digit-fold checksum, and the \b-anchored masking (fixture has
    // <= 1 candidate per doc, so its single-regexp CASE equals the
    // engine's fold).
    Q("c131_pii_luhn",
      (s, d) => {
        val digits = transform(sequence(lit(1), lit(15)),
          i => pmod(Hashing.md5Long60(concat(lit("card:"),
            col("doc_id").cast("string"), lit(":"), i.cast("string"))), lit(10L))
            .cast("int"))
        val base = Tables.documents(s, d)
          .withColumn("_ds", digits)
          .withColumn("_tsum", aggregate(sequence(lit(1), lit(15)), lit(0), (acc, i) => {
            val dv = element_at(col("_ds"), i)
            acc + when(pmod(i, lit(2)) === 1,
              when(dv * 2 > 9, dv * 2 - 9).otherwise(dv * 2)).otherwise(dv)
          }))
          .withColumn("_chk", pmod(lit(10) - pmod(col("_tsum"), lit(10)), lit(10)))
          .withColumn("_numstr",
            concat(array_join(transform(col("_ds"), x => x.cast("string")), ""),
              when(col("doc_id") % 3 === 1, pmod(col("_chk") + 1, lit(10)))
                .otherwise(col("_chk")).cast("string")))
          .withColumn("_t2",
            when(col("doc_id") % 3 === 2, col("text"))
              .otherwise(concat(col("text"), lit(" acct "), col("_numstr"))))
        graft.ext.Redact.luhnRedact(base, col("doc_id"), col("_t2"))
          .orderBy("doc_id")
      },
      Some {
        val h = Hashing.sqlMd5Long60("'card:' || doc_id || ':' || i")
        s"""WITH d AS (
           |  SELECT doc_id, text, list_transform(generate_series(1, 15),
           |           i -> CAST($h % 10 AS INT)) AS ds
           |  FROM documents),
           |s AS (SELECT doc_id, text, ds,
           |        CAST(list_sum(list_transform(generate_series(1, 15), i ->
           |          CASE WHEN i % 2 = 1
           |               THEN CASE WHEN ds[i] * 2 > 9 THEN ds[i] * 2 - 9 ELSE ds[i] * 2 END
           |               ELSE ds[i] END)) AS INT) AS tsum
           |      FROM d),
           |c AS (SELECT doc_id, text,
           |        list_aggregate(list_transform(ds, x -> CAST(x AS VARCHAR)), 'string_agg', '')
           |          || CAST(CASE WHEN doc_id % 3 = 1
           |                       THEN ((10 - tsum % 10) % 10 + 1) % 10
           |                       ELSE (10 - tsum % 10) % 10 END AS VARCHAR) AS numstr
           |      FROM s),
           |t2t AS (SELECT doc_id,
           |          CASE WHEN doc_id % 3 = 2 THEN text
           |               ELSE text || ' acct ' || numstr END AS t2
           |        FROM c),
           |cand AS (SELECT doc_id, t2,
           |           regexp_extract_all(t2, '\\b\\d{13,19}\\b', 0) AS cs
           |         FROM t2t),
           |v AS (SELECT doc_id, t2, cs, list_filter(cs, c ->
           |        list_sum(list_transform(generate_series(1, len(c)), i ->
           |          CASE WHEN i % 2 = 0 THEN
           |            CASE WHEN (ascii(substr(reverse(c), i, 1)) - 48) * 2 > 9
           |                 THEN (ascii(substr(reverse(c), i, 1)) - 48) * 2 - 9
           |                 ELSE (ascii(substr(reverse(c), i, 1)) - 48) * 2 END
           |          ELSE ascii(substr(reverse(c), i, 1)) - 48 END)) % 10 = 0) AS vs
           |      FROM cand)
           |SELECT doc_id, CAST(len(cs) AS INT) AS n_candidates,
           |       CAST(len(vs) AS INT) AS n_valid,
           |       CASE WHEN len(vs) >= 1
           |            THEN regexp_replace(t2, '\\b' || vs[1] || '\\b', '<CARD>', 'g')
           |            ELSE t2 END AS redacted
           |FROM v ORDER BY doc_id""".stripMargin
      }),

    // Filter ABLATION / overlap report over the c27 rule stack — per
    // rule: docs + token mass flagged at all, and flagged UNIQUELY (no
    // other rule fires). High flagged + near-zero unique = the rule is
    // redundant with the stack; the view a team reads before committing
    // thresholds. One corpus pass + a rules-sized agg; oracle reuses
    // c27's reason derivation and unnests the list.
    Q("c130_filter_ablation",
      (s, d) => Corpus.filterAblation(Tables.documents(s, d), col("doc_id"),
        col("text"), minWords = 40, maxWords = 100000, minMeanLen = 3.5,
        maxMeanLen = 6.0, minStopwords = 2, maxTopTokFrac = 0.15),
      Some {
        val stopList = graft.functions.TextKernels.englishStopwordList
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH $toksCte,
           |topt AS (
           |  SELECT doc_id, max(c) AS top_c FROM (
           |    SELECT doc_id, t, count(*) AS c
           |    FROM (SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY doc_id, t)
           |  GROUP BY doc_id),
           |b AS (
           |  SELECT toks.doc_id, len(w) AS n,
           |         CASE WHEN len(w) > 0
           |              THEN CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w)
           |              ELSE 0.0 END AS meanlen,
           |         len(list_filter(list_distinct(w), x -> list_contains($stopList, x))) AS nstop,
           |         CASE WHEN len(w) > 0
           |              THEN CAST(coalesce(top_c, 0) AS DOUBLE) / len(w)
           |              ELSE 0.0 END AS topfrac
           |  FROM toks LEFT JOIN topt ON toks.doc_id = topt.doc_id),
           |r AS (
           |  SELECT doc_id, n, list_filter(
           |    [CASE WHEN n < 40 THEN 'too_few_words' END,
           |     CASE WHEN n > 100000 THEN 'too_many_words' END,
           |     CASE WHEN meanlen < 3.5 OR meanlen > 6.0 THEN 'mean_word_length' END,
           |     CASE WHEN nstop < 2 THEN 'too_few_stopwords' END,
           |     CASE WHEN topfrac > 0.15 THEN 'repetitive' END],
           |    x -> x IS NOT NULL) AS reasons
           |  FROM b),
           |e AS (SELECT doc_id, n, len(reasons) AS k, unnest(reasons) AS rule FROM r)
           |SELECT rule,
           |       count(*) AS docs_flagged,
           |       CAST(sum(n) AS BIGINT) AS tokens_flagged,
           |       CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_unique,
           |       CAST(sum(CASE WHEN k = 1 THEN n ELSE 0 END) AS BIGINT) AS tokens_unique
           |FROM e GROUP BY rule ORDER BY rule""".stripMargin
      }),

    // Epoch allocation under a token budget with REPETITION DECAY (the
    // data-constrained-scaling planner: repeated tokens are worth less
    // each epoch) — utility density is uniform within an epoch tier, so
    // the greedy optimum fills whole tiers in (epoch, source) order with
    // one partial chunk at the budget cut. 70k over ~27k/tier corpora
    // cuts mid-tier-3 at both SFs: full tiers, a partial chunk, AND a
    // dropped tail all exercised. The c56 temperature mix answers "what
    // fraction of each source"; this answers "how many epochs of what".
    Q("c129_epoch_allocation",
      (s, d) => Corpus.epochAllocation(Tables.documents(s, d), col("text"),
        col("source"), budget = 70000L, decay = 0.5, maxEpochs = 4),
      Some("""WITH n AS (
             |  SELECT source,
             |         CAST(sum(len(list_filter(string_split_regex(lower(text), '\W+'),
             |             x -> x <> ''))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY source),
             |g AS (SELECT source, n_tokens, CAST(e AS INT) AS epoch
             |      FROM n CROSS JOIN range(1, 5) r(e)),
             |c AS (SELECT source, n_tokens, epoch,
             |             COALESCE(CAST(sum(n_tokens) OVER (
             |               ORDER BY epoch, source
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             |               0) AS bef
             |      FROM g),
             |t AS (SELECT source, epoch, n_tokens,
             |             CAST(greatest(0, least(n_tokens, 70000 - bef)) AS BIGINT) AS take_tokens
             |      FROM c)
             |SELECT source, epoch, n_tokens, take_tokens,
             |       round(CAST(take_tokens AS DOUBLE) * pow(0.5, epoch - 1), 4) AS utility
             |FROM t WHERE take_tokens > 0
             |ORDER BY epoch, source""".stripMargin)),

    // Mod-p fingerprint sampling (Manber 1994): content-keyed ~1/p gram
    // sampling — overlapping regions sample the SAME grams in both docs,
    // so shared fingerprints witness local overlap. (p−1)/p of rows drop
    // before the only shuffle.
    Q("c57_modp_fingerprints",
      (s, d) => Dedup.modpFingerprintPairs(Tables.documents(s, d), col("doc_id"),
        col("text"), n = 5, p = 8, minShared = 2),
      Some(s"""WITH $toksCte,
             |gs AS (SELECT doc_id,
             |              unnest(list_transform(generate_series(1, len(w)-4),
             |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
             |       FROM toks WHERE len(w) >= 5),
             |fp AS (SELECT DISTINCT doc_id, ${Hashing.sqlMd5Long60("g")} AS h FROM gs),
             |fp8 AS (SELECT * FROM fp WHERE h % 8 = 0),
             |fpk AS (SELECT fp8.doc_id, fp8.h FROM fp8
             |        JOIN (SELECT h FROM fp8 GROUP BY h HAVING count(*) <= 1000) k USING (h))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
             |FROM fpk a JOIN fpk b ON a.h = b.h AND a.doc_id < b.doc_id
             |GROUP BY doc_a, doc_b HAVING count(*) >= 2
             |ORDER BY n_shared DESC, doc_a, doc_b""".stripMargin)),

    // Winnowing (Schleimer 2003): window-min fingerprints with the
    // guarantee c57's mod-p sampling lacks — every shared run of
    // ≥ w+n−1 tokens shares a fingerprint. All per-doc work is narrow
    // HOFs; only distinct fingerprints reach the shuffle.
    Q("c58_winnowing",
      (s, d) => Dedup.winnowingPairs(Tables.documents(s, d), col("doc_id"),
        col("text"), n = 5, w = 4, minShared = 3),
      Some(s"""WITH $toksCte,
             |hs AS (SELECT doc_id,
             |         list_transform(generate_series(1, len(w)-4),
             |           i -> ${Hashing.sqlMd5Long60("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]")}) AS h
             |       FROM toks WHERE len(w) >= 8),
             |fp AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(generate_series(1, len(h)-3),
             |           i -> list_min(h[i:i+3]))) AS f
             |       FROM hs),
             |fpk AS (SELECT fp.doc_id, fp.f FROM fp
             |        JOIN (SELECT f FROM fp GROUP BY f HAVING count(*) <= 1000) k USING (f))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
             |FROM fpk a JOIN fpk b ON a.f = b.f AND a.doc_id < b.doc_id
             |GROUP BY doc_a, doc_b HAVING count(*) >= 3
             |ORDER BY n_shared DESC, doc_a, doc_b""".stripMargin)),

    // Soft dedup: weight docs 1/|cluster| instead of dropping them — each
    // near-dup cluster contributes one unit of sampling mass. Shares the
    // memoized LSH pair pipeline with c24/c02; corpus never shuffles.
    Q("c59_soft_dedup_weights",
      (s, d) => Dedup.softDedupWeights(Tables.documents(s, d), col("doc_id"),
        lshPairs(s, d)),
      Some(
        s"""WITH RECURSIVE $toksCte,
           |$gramsCte,
           |$sigCte,
           |$bandsCte,
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band AND x.doc_id < y.doc_id
           |),
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter
           |  FROM cand c JOIN gx a ON a.doc_id = c.doc_a JOIN gx b ON b.doc_id = c.doc_b AND b.g = a.g
           |  GROUP BY c.doc_a, c.doc_b
           |),
           |pairs AS (
           |  SELECT doc_a, doc_b FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE round(inter*1.0/(sa.n + sb.n - inter), 6) >= 0.5
           |),
           |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |      UNION SELECT doc_b, doc_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT src AS id, src AS r FROM e
           |  UNION
           |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
           |),
           |cc AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
           |cs AS (SELECT cluster, count(*) AS k FROM cc GROUP BY cluster)
           |SELECT d.doc_id, COALESCE(cc.cluster, d.doc_id) AS cluster,
           |       round(CAST(1.0 AS DOUBLE) / COALESCE(cs.k, 1), 6) AS weight
           |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
           |               LEFT JOIN cs ON cs.cluster = cc.cluster
           |ORDER BY d.doc_id""".stripMargin)),

    // CCNet-style duplicate-SEGMENT removal (Wenzek et al. 2020 §3.1):
    // fixed-8-token segments, keep only the corpus-FIRST occurrence
    // (min (doc_id, seg_idx)) of each repeated segment, reassemble.
    Q("c60_segment_dedup",
      (s, d) => Dedup.segmentDedup(Tables.documents(s, d), col("doc_id"),
        col("text"), segTokens = 8).orderBy("doc_id"),
      Some(
        s"""WITH $toksCte,
           |segs AS (
           |  SELECT doc_id, i AS seg_idx,
           |         list_aggregate(w[i*8+1 : i*8+8], 'string_agg', ' ') AS seg
           |  FROM (SELECT doc_id, w,
           |               unnest(generate_series(0, CAST(floor((len(w)-1)/8.0) AS INT))) AS i
           |        FROM toks WHERE len(w) > 0)),
           |k AS (
           |  SELECT doc_id, seg_idx, seg,
           |         row_number() OVER (
           |           PARTITION BY ${Hashing.sqlMd5Long60("seg")}
           |           ORDER BY doc_id, seg_idx) AS rn
           |  FROM segs)
           |SELECT doc_id, count(*) AS n_segs,
           |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_segs,
           |       COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx), '')
           |         AS text_dedup
           |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Deterministic train/val/test split manifest: assignment is a pure
    // function of the doc id (stable under re-runs and corpus growth);
    // output is the per-(source, split) doc/token counts.
    Q("c61_hash_split",
      (s, d) => Corpus.hashSplit(Tables.documents(s, d), col("doc_id"),
        col("source"), col("text"), valPct = 1, testPct = 1)
        .orderBy("source", "split"),
      Some(s"""WITH $toksCte,
             |b AS (
             |  SELECT doc_id,
             |         ${Hashing.sqlMd5Long60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS bkt,
             |         len(w) AS n
             |  FROM toks),
             |sp AS (
             |  SELECT doc_id, n,
             |         CASE WHEN bkt < 98 THEN 'train'
             |              WHEN bkt < 99 THEN 'validation' ELSE 'test' END AS split
             |  FROM b)
             |SELECT source, split, count(*) AS n_docs,
             |       CAST(sum(n) AS BIGINT) AS n_tokens
             |FROM documents JOIN sp USING (doc_id)
             |GROUP BY source, split ORDER BY source, split""".stripMargin)),

    // Pre-tokenization text normalization: typographic chars -> ASCII,
    // control chars stripped, whitespace runs collapsed. Narrow kernels.
    Q("c62_normalize_text",
      (s, d) => TextAnalysis.normalizeText(Tables.documents(s, d),
        col("doc_id"), col("text")).orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  trim(regexp_replace(
             |    regexp_replace(
             |      translate(text, '‘’“”–— ', '''''""-- '),
             |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
             |    '\s+', ' ', 'g')) AS text_norm,
             |  length(text) AS n_chars_raw,
             |  length(trim(regexp_replace(
             |    regexp_replace(
             |      translate(text, '‘’“”–— ', '''''""-- '),
             |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
             |    '\s+', ' ', 'g'))) AS n_chars_norm,
             |  text <> trim(regexp_replace(
             |    regexp_replace(
             |      translate(text, '‘’“”–— ', '''''""-- '),
             |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
             |    '\s+', ' ', 'g')) AS changed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Embedding outliers: per-label 6-dp centroid, Euclidean distance in
    // ascending-dim fold order, per-label z-score, |z| > 2 flag.
    Q("c63_embedding_outliers",
      (s, d) => Similarity.centroidOutliers(Tables.embeddings(s, d),
        col("vec_id"), col("embedding"), col("label")).orderBy("vec_id"),
      Some("""WITH x AS (
             |  SELECT vec_id, label, embedding AS v FROM embeddings),
             |e AS (
             |  SELECT label, i AS dim, CAST(v[i] AS DOUBLE) AS xd
             |  FROM (SELECT label, v, unnest(generate_series(1, len(v))) AS i FROM x)),
             |c AS (SELECT label, dim, round(avg(xd), 6) AS cd FROM e GROUP BY label, dim),
             |cv AS (SELECT label, list(cd ORDER BY dim) AS cvec FROM c GROUP BY label),
             |dd AS (
             |  SELECT vec_id, x.label,
             |         round(sqrt(list_sum(list_transform(generate_series(1, len(v)),
             |           i -> (CAST(v[i] AS DOUBLE) - cvec[i]) * (CAST(v[i] AS DOUBLE) - cvec[i])))), 6) AS dist
             |  FROM x JOIN cv ON x.label = cv.label),
             |st AS (SELECT label, avg(dist) AS mu, stddev(dist) AS sd FROM dd GROUP BY label)
             |SELECT vec_id, dd.label, dist,
             |       CASE WHEN sd IS NULL OR sd = 0 THEN 0.0
             |            ELSE round((dist - mu) / sd, 6) END AS z,
             |       abs(CASE WHEN sd IS NULL OR sd = 0 THEN 0.0
             |                ELSE round((dist - mu) / sd, 6) END) > 2.0 AS is_outlier
             |FROM dd JOIN st ON dd.label = st.label ORDER BY vec_id""".stripMargin)),

    // Within-document segment dedup: repeated boilerplate INSIDE a doc
    // collapses to its first occurrence; cross-doc repeats survive.
    Q("c64_segment_dedup_intradoc",
      (s, d) => Dedup.segmentDedup(Tables.documents(s, d), col("doc_id"),
        col("text"), segTokens = 4, withinDoc = true).orderBy("doc_id"),
      Some(
        s"""WITH $toksCte,
           |segs AS (
           |  SELECT doc_id, i AS seg_idx,
           |         list_aggregate(w[i*4+1 : i*4+4], 'string_agg', ' ') AS seg
           |  FROM (SELECT doc_id, w,
           |               unnest(generate_series(0, CAST(floor((len(w)-1)/4.0) AS INT))) AS i
           |        FROM toks WHERE len(w) > 0)),
           |k AS (
           |  SELECT doc_id, seg_idx, seg,
           |         row_number() OVER (
           |           PARTITION BY doc_id, ${Hashing.sqlMd5Long60("seg")}
           |           ORDER BY seg_idx) AS rn
           |  FROM segs)
           |SELECT doc_id, count(*) AS n_segs,
           |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_segs,
           |       COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx), '')
           |         AS text_dedup
           |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Filter-funnel manifest: gopher gate -> language known -> exact-dup
    // representative; one row per stage with the attrition counts.
    Q("c65_filter_funnel",
      (s, d) => Corpus.filterFunnel(Tables.documents(s, d), col("doc_id"),
        col("text")).orderBy("stage_idx"),
      Some {
        val stopList = graft.functions.TextKernels.englishStopwordList
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH $toksCte,
           |topt AS (
           |  SELECT doc_id, max(c) AS top_c FROM (
           |    SELECT doc_id, t, count(*) AS c
           |    FROM (SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY doc_id, t)
           |  GROUP BY doc_id),
           |b AS (
           |  SELECT toks.doc_id, len(w) AS n,
           |         CASE WHEN len(w) > 0
           |              THEN CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w)
           |              ELSE 0.0 END AS meanlen,
           |         len(list_filter(list_distinct(w), x -> list_contains($stopList, x))) AS nstop,
           |         CASE WHEN len(w) > 0
           |              THEN CAST(coalesce(top_c, 0) AS DOUBLE) / len(w)
           |              ELSE 0.0 END AS topfrac
           |  FROM toks LEFT JOIN topt ON toks.doc_id = topt.doc_id),
           |gp AS (
           |  SELECT doc_id, (n >= 40 AND n <= 100000 AND meanlen >= 3.5
           |          AND meanlen <= 6.0 AND nstop >= 2 AND topfrac <= 0.15) AS g
           |  FROM b),
           |$langScoreSql,
           |fp AS (SELECT doc_id,
           |              md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS f
           |       FROM toks),
           |j AS (SELECT gp.doc_id, g, pred_lang, f
           |      FROM gp JOIN pred USING (doc_id) JOIN fp USING (doc_id)),
           |c AS (SELECT count(*) AS c0,
           |             CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           |             CAST(sum(CASE WHEN g AND pred_lang <> 'und' THEN 1 ELSE 0 END) AS BIGINT) AS c2
           |      FROM j),
           |dd AS (SELECT count(*) AS c3 FROM
           |        (SELECT f FROM j WHERE g AND pred_lang <> 'und' GROUP BY f))
           |SELECT stage_idx, stage, n_in, n_kept, n_in - n_kept AS n_dropped FROM (
           |  SELECT 0 AS stage_idx, 'input' AS stage, c0 AS n_in, c0 AS n_kept FROM c
           |  UNION ALL SELECT 1, 'gopher_quality', c0, c1 FROM c
           |  UNION ALL SELECT 2, 'lang_id', c1, c2 FROM c
           |  UNION ALL SELECT 3, 'exact_dedup', c2, c3 FROM c CROSS JOIN dd)
           |ORDER BY stage_idx""".stripMargin
      }),

    // Full BPE TRAIN loop (c37's iteration × N with re-segmentation): the
    // oracle REPLAYS the same N merges — per-iteration argmax pair is
    // computed, not hardcoded, on both sides, so the whole learn→merge→
    // recount loop must agree at every rank (train→encode round-trip:
    // n_tokens_after is the corpus symbol count with merges 1..rank).
    Q("c67_bpe_train",
      (s, d) => TextAnalysis.bpeTrain(Tables.documents(s, d), col("text"),
        nMerges = 6).orderBy("rank"),
      Some {
        val n = 6
        val iters = (1 to n).map { i =>
          val prev = if (i == 1) "w0" else s"w${i - 1}"
          s"""p$i AS (
             |  SELECT pair, CAST(sum(freq) AS BIGINT) AS pf FROM (
             |    SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
             |             j -> s[j] || ' ' || s[j + 1])) AS pair
             |    FROM (SELECT freq, regexp_extract_all(w, '<([^<>]*)>', 1) AS s FROM $prev)
             |    WHERE len(s) >= 2)
             |  GROUP BY pair),
             |b$i AS (SELECT pair, pf FROM p$i ORDER BY pf DESC, pair LIMIT 1),
             |w$i AS (SELECT freq,
             |          replace(w, '<' || split_part(b$i.pair, ' ', 1) ||
             |                     '><' || split_part(b$i.pair, ' ', 2) || '>',
             |                  '<' || replace(b$i.pair, ' ', '') || '>') AS w
             |        FROM $prev, b$i),
             |t$i AS (SELECT CAST(sum(freq * (len(w) - len(replace(w, '<', '')))) AS BIGINT) AS nt
             |        FROM w$i)""".stripMargin
        }.mkString(",\n")
        val unions = (1 to n).map(i =>
          s"SELECT $i AS rank, b$i.pair, b$i.pf AS freq, t$i.nt AS n_tokens_after FROM b$i, t$i")
          .mkString("\n|UNION ALL ").stripMargin
        s"""WITH $toksCte,
           |tf AS (SELECT unnest(w) AS word FROM toks),
           |w0 AS (SELECT count(*) AS freq, regexp_replace(word, '(.)', '<\\1>', 'g') AS w
           |       FROM tf GROUP BY word),
           |$iters
           |$unions
           |ORDER BY rank""".stripMargin
      }),

    // BATCHED BPE trainer (c67's 50k-merge production form): each round
    // keeps the top-2 SYMBOL-DISJOINT pairs from a 16-candidate lookahead
    // and applies both in one pass — round count halves, recounts are
    // per-round. The oracle replays candidate pull, greedy disjoint
    // selection, the commuting double replace, and the round recount; a
    // collision round (fewer than 2 keeps) would change the row count
    // and fail loudly.
    Q("c133_bpe_train_batched",
      (s, d) => TextAnalysis.bpeTrainBatched(Tables.documents(s, d), col("text"),
        nMerges = 6, batchSize = 2, lookahead = 16).orderBy("rank"),
      Some {
        val rounds = 3
        val iters = (1 to rounds).map { i =>
          val prev = if (i == 1) "w0" else s"w${i - 1}"
          s"""p$i AS (
             |  SELECT pair, CAST(sum(freq) AS BIGINT) AS pf FROM (
             |    SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
             |             j -> s[j] || ' ' || s[j + 1])) AS pair
             |    FROM (SELECT freq, regexp_extract_all(w, '<([^<>]*)>', 1) AS s FROM $prev)
             |    WHERE len(s) >= 2)
             |  GROUP BY pair),
             |top$i AS (SELECT pair, pf FROM p$i ORDER BY pf DESC, pair LIMIT 16),
             |b${i}a AS (SELECT pair, pf FROM top$i ORDER BY pf DESC, pair LIMIT 1),
             |b${i}b AS (SELECT t.pair, t.pf FROM top$i t, b${i}a o
             |           WHERE split_part(t.pair, ' ', 1) NOT IN
             |                   (split_part(o.pair, ' ', 1), split_part(o.pair, ' ', 2))
             |             AND split_part(t.pair, ' ', 2) NOT IN
             |                   (split_part(o.pair, ' ', 1), split_part(o.pair, ' ', 2))
             |           ORDER BY t.pf DESC, t.pair LIMIT 1),
             |w$i AS (SELECT freq,
             |          replace(
             |            replace(w, '<' || split_part(a.pair, ' ', 1) ||
             |                       '><' || split_part(a.pair, ' ', 2) || '>',
             |                    '<' || replace(a.pair, ' ', '') || '>'),
             |            '<' || split_part(b.pair, ' ', 1) ||
             |              '><' || split_part(b.pair, ' ', 2) || '>',
             |            '<' || replace(b.pair, ' ', '') || '>') AS w
             |        FROM $prev, b${i}a a, b${i}b b),
             |t$i AS (SELECT CAST(sum(freq * (len(w) - len(replace(w, '<', '')))) AS BIGINT) AS nt
             |        FROM w$i)""".stripMargin
        }.mkString(",\n")
        val unions = (1 to rounds).flatMap(i => Seq(
          s"SELECT ${2 * i - 1} AS rank, $i AS round, a.pair, a.pf AS freq, t$i.nt AS n_tokens_after FROM b${i}a a, t$i",
          s"SELECT ${2 * i}, $i, b.pair, b.pf, t$i.nt FROM b${i}b b, t$i"))
          .mkString("\n|UNION ALL ").stripMargin
        s"""WITH $toksCte,
           |tf AS (SELECT unnest(w) AS word FROM toks),
           |w0 AS (SELECT count(*) AS freq, regexp_replace(word, '(.)', '<\\1>', 'g') AS w
           |       FROM tf GROUP BY word),
           |$iters
           |$unions
           |ORDER BY rank""".stripMargin
      }),

    // BYTE-LEVEL BPE (the GPT-2 config): initial alphabet = UTF-8 bytes
    // as 2-hex-digit symbols, no unk possible by construction. Same
    // learn→merge→recount replay as c67, but pre-tokenization is
    // WHITESPACE (the byte-level convention — punctuation bytes stay in
    // the words and train) and w0 hexes the word's bytes: non-ASCII
    // chars start multi-byte and must EARN whole-char symbols through
    // merges. hex() is uppercase on both engines, so the pair/rank
    // tables agree byte-for-byte.
    Q("c134_bpe_train_byte_level",
      (s, d) => Fixtures.bpeByteMerges6(s, d).orderBy("rank"),
      Some {
        val n = 6
        val iters = (1 to n).map { i =>
          val prev = if (i == 1) "w0" else s"w${i - 1}"
          s"""p$i AS (
             |  SELECT pair, CAST(sum(freq) AS BIGINT) AS pf FROM (
             |    SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
             |             j -> s[j] || ' ' || s[j + 1])) AS pair
             |    FROM (SELECT freq, regexp_extract_all(w, '<([^<>]*)>', 1) AS s FROM $prev)
             |    WHERE len(s) >= 2)
             |  GROUP BY pair),
             |b$i AS (SELECT pair, pf FROM p$i ORDER BY pf DESC, pair LIMIT 1),
             |w$i AS (SELECT freq,
             |          replace(w, '<' || split_part(b$i.pair, ' ', 1) ||
             |                     '><' || split_part(b$i.pair, ' ', 2) || '>',
             |                  '<' || replace(b$i.pair, ' ', '') || '>') AS w
             |        FROM $prev, b$i),
             |t$i AS (SELECT CAST(sum(freq * (len(w) - len(replace(w, '<', '')))) AS BIGINT) AS nt
             |        FROM w$i)""".stripMargin
        }.mkString(",\n")
        val unions = (1 to n).map(i =>
          s"SELECT $i AS rank, b$i.pair, b$i.pf AS freq, t$i.nt AS n_tokens_after FROM b$i, t$i")
          .mkString("\n|UNION ALL ").stripMargin
        s"""WITH bl AS (
           |  SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
           |  FROM documents),
           |tf AS (SELECT unnest(w) AS word FROM bl),
           |w0 AS (SELECT count(*) AS freq,
           |              regexp_replace(hex(encode(word)), '(..)', '<\\1>', 'g') AS w
           |       FROM tf GROUP BY word),
           |$iters
           |$unions
           |ORDER BY rank""".stripMargin
      }),

    // BYTE-LEVEL BPE train→ENCODE round trip (c134's merges applied):
    // per-doc byte count, token count under the 6 learned merges, and
    // bytes/token compression. The oracle RETRAINS the 6 merges (c134's
    // iters chain) and replays the encode recursively (c68's pattern) —
    // so a rank-order or replace-semantics drift in either engine fails
    // the row.
    Q("c135_bpe_byte_encode",
      (s, d) => {
        val merges = Fixtures.bpeByteMerges6(s, d).orderBy("rank")
          .collect().map(_.getString(1)).toSeq
        TextAnalysis.bpeEncodeByteLevel(Tables.documents(s, d),
          col("doc_id"), col("text"), merges).orderBy("doc_id")
      },
      Some {
        val n = 6
        val iters = (1 to n).map { i =>
          val prev = if (i == 1) "w0" else s"w${i - 1}"
          s"""p$i AS (
             |  SELECT pair, CAST(sum(freq) AS BIGINT) AS pf FROM (
             |    SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
             |             j -> s[j] || ' ' || s[j + 1])) AS pair
             |    FROM (SELECT freq, regexp_extract_all(w, '<([^<>]*)>', 1) AS s FROM $prev)
             |    WHERE len(s) >= 2)
             |  GROUP BY pair),
             |b$i AS (SELECT pair FROM p$i ORDER BY pf DESC, pair LIMIT 1),
             |w$i AS (SELECT freq,
             |          replace(w, '<' || split_part(b$i.pair, ' ', 1) ||
             |                     '><' || split_part(b$i.pair, ' ', 2) || '>',
             |                  '<' || replace(b$i.pair, ' ', '') || '>') AS w
             |        FROM $prev, b$i)""".stripMargin
        }.mkString(",\n")
        val mUnion = (1 to n).map(i =>
          s"""SELECT $i AS rk, '<' || split_part(b$i.pair, ' ', 1) || '><' || split_part(b$i.pair, ' ', 2) || '>' AS pat,
             |       '<' || replace(b$i.pair, ' ', '') || '>' AS rep FROM b$i""".stripMargin)
          .mkString("\n|UNION ALL ").stripMargin
        s"""WITH RECURSIVE bl AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
           |  FROM documents),
           |tf AS (SELECT unnest(w) AS word FROM bl),
           |w0 AS (SELECT count(*) AS freq,
           |              regexp_replace(hex(encode(word)), '(..)', '<\\1>', 'g') AS w
           |       FROM tf GROUP BY word),
           |$iters,
           |m AS ($mUnion),
           |d0 AS (SELECT doc_id,
           |              list_aggregate(list_transform(w,
           |                x -> regexp_replace(hex(encode(x)), '(..)', '<\\1>', 'g')),
           |                'string_agg', '|') AS s
           |       FROM bl),
           |rec(doc_id, k, s) AS (
           |  SELECT doc_id, 0, s FROM d0
           |  UNION ALL
           |  SELECT rec.doc_id, rec.k + 1, replace(rec.s, m.pat, m.rep)
           |  FROM rec JOIN m ON m.rk = rec.k + 1),
           |enc AS (SELECT doc_id, s FROM rec WHERE k = $n)
           |SELECT d0.doc_id,
           |       CAST(len(d0.s) - len(replace(d0.s, '<', '')) AS BIGINT) AS n_bytes,
           |       CAST(len(enc.s) - len(replace(enc.s, '<', '')) AS BIGINT) AS n_bpe_tokens,
           |       round((len(d0.s) - len(replace(d0.s, '<', ''))) * 1.0 /
           |             (len(enc.s) - len(replace(enc.s, '<', ''))), 6) AS compression
           |FROM d0 JOIN enc USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      }),

    // Composed data-prep pipeline (Corpus.prepPipeline): exact dedup →
    // Gopher quality → benchmark decontamination → temperature mix, run
    // as ONE job in the production order. The per-stage rows (c01, c27,
    // c25, c29) prove each operator; this row pins their INTERACTIONS —
    // quality runs once per distinct content, decon sees only survivors,
    // and the mix's keep-rates resolve against POST-filter source counts.
    // Eval side = the c25 split (doc_id % 97 == 0); corpus = the rest.
    Q("c136_prep_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Corpus.prepPipeline(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          col("source"), docs.filter(col("doc_id") % 97 === 0), col("text"),
          nGram = 4, alpha = 0.6, targetTotal = 120L,
          minWords = 40, maxWords = 100000, minMeanLen = 3.5,
          maxMeanLen = 6.0, minStopwords = 2, maxTopTokFrac = 0.15)
          .orderBy("doc_id")
      },
      Some {
        val stopList = graft.functions.TextKernels.englishStopwordList
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH $toksCte,
           |inp AS (SELECT doc_id, w FROM toks WHERE doc_id % 97 <> 0),
           |fp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS f
           |       FROM inp),
           |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
           |ded AS (SELECT i.doc_id, i.w FROM inp i JOIN keep USING (doc_id)),
           |topt AS (
           |  SELECT doc_id, max(c) AS top_c FROM (
           |    SELECT doc_id, t, count(*) AS c
           |    FROM (SELECT doc_id, unnest(w) AS t FROM ded) GROUP BY doc_id, t)
           |  GROUP BY doc_id),
           |b AS (
           |  SELECT ded.doc_id, len(w) AS n, w,
           |         CASE WHEN len(w) > 0
           |              THEN CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w)
           |              ELSE 0.0 END AS meanlen,
           |         len(list_filter(list_distinct(w), x -> list_contains($stopList, x))) AS nstop,
           |         CASE WHEN len(w) > 0
           |              THEN CAST(coalesce(top_c, 0) AS DOUBLE) / len(w)
           |              ELSE 0.0 END AS topfrac
           |  FROM ded LEFT JOIN topt ON ded.doc_id = topt.doc_id),
           |qual AS (
           |  SELECT doc_id, CAST(n AS INT) AS n_tokens, w FROM b
           |  WHERE NOT (n < 40) AND NOT (n > 100000)
           |    AND NOT (meanlen < 3.5 OR meanlen > 6.0)
           |    AND NOT (nstop < 2) AND NOT (topfrac > 0.15)),
           |g4 AS (
           |  SELECT doc_id, CASE WHEN len(w) >= 4
           |    THEN list_distinct(list_transform(generate_series(1, len(w)-3),
           |         i -> list_aggregate(w[i:i+3], 'string_agg', ' ')))
           |    ELSE [] END AS grams
           |  FROM qual),
           |e4 AS (
           |  SELECT CASE WHEN len(w) >= 4
           |    THEN list_distinct(list_transform(generate_series(1, len(w)-3),
           |         i -> list_aggregate(w[i:i+3], 'string_agg', ' ')))
           |    ELSE [] END AS grams
           |  FROM toks WHERE doc_id % 97 = 0),
           |bg AS (SELECT DISTINCT ${Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT unnest(grams) AS g FROM e4)),
           |cg AS (SELECT doc_id, ${Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT doc_id, unnest(grams) AS g FROM g4)),
           |bad AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (gh)),
           |clean AS (SELECT doc_id, n_tokens FROM qual
           |          WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
           |cs AS (SELECT d.source AS src, count(*) AS n
           |       FROM clean c JOIN documents d USING (doc_id) GROUP BY d.source),
           |ws AS (SELECT sum(pow(CAST(n AS DOUBLE), 0.6)) AS wsum FROM cs),
           |r AS (SELECT src, CAST(floor(least(1.0,
           |        120.0 * pow(CAST(n AS DOUBLE), 0.6) / wsum / n) * 1e6) AS BIGINT) AS thr
           |      FROM cs CROSS JOIN ws)
           |SELECT c.doc_id, d.source, c.n_tokens
           |FROM clean c JOIN documents d USING (doc_id) JOIN r ON d.source = r.src
           |WHERE ${Hashing.sqlMd5Long60("CAST(c.doc_id AS VARCHAR)")} % 1000000 < thr
           |ORDER BY c.doc_id""".stripMargin
      }),

    // The funnel-report twin: per-stage in/kept/dropped counts over the
    // SAME composed chain — the audit view a dataset build publishes.
    Q("c137_prep_funnel",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Corpus.prepPipelineFunnel(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          col("source"), docs.filter(col("doc_id") % 97 === 0), col("text"),
          nGram = 4, alpha = 0.6, targetTotal = 120L,
          minWords = 40, maxWords = 100000, minMeanLen = 3.5,
          maxMeanLen = 6.0, minStopwords = 2, maxTopTokFrac = 0.15)
          .orderBy("stage_idx")
      },
      Some {
        val stopList = graft.functions.TextKernels.englishStopwordList
          .map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH $toksCte,
           |inp AS (SELECT doc_id, w FROM toks WHERE doc_id % 97 <> 0),
           |fp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS f
           |       FROM inp),
           |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
           |ded AS (SELECT i.doc_id, i.w FROM inp i JOIN keep USING (doc_id)),
           |topt AS (
           |  SELECT doc_id, max(c) AS top_c FROM (
           |    SELECT doc_id, t, count(*) AS c
           |    FROM (SELECT doc_id, unnest(w) AS t FROM ded) GROUP BY doc_id, t)
           |  GROUP BY doc_id),
           |b AS (
           |  SELECT ded.doc_id, len(w) AS n, w,
           |         CASE WHEN len(w) > 0
           |              THEN CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w)
           |              ELSE 0.0 END AS meanlen,
           |         len(list_filter(list_distinct(w), x -> list_contains($stopList, x))) AS nstop,
           |         CASE WHEN len(w) > 0
           |              THEN CAST(coalesce(top_c, 0) AS DOUBLE) / len(w)
           |              ELSE 0.0 END AS topfrac
           |  FROM ded LEFT JOIN topt ON ded.doc_id = topt.doc_id),
           |qual AS (
           |  SELECT doc_id, w FROM b
           |  WHERE NOT (n < 40) AND NOT (n > 100000)
           |    AND NOT (meanlen < 3.5 OR meanlen > 6.0)
           |    AND NOT (nstop < 2) AND NOT (topfrac > 0.15)),
           |g4 AS (
           |  SELECT doc_id, CASE WHEN len(w) >= 4
           |    THEN list_distinct(list_transform(generate_series(1, len(w)-3),
           |         i -> list_aggregate(w[i:i+3], 'string_agg', ' ')))
           |    ELSE [] END AS grams
           |  FROM qual),
           |e4 AS (
           |  SELECT CASE WHEN len(w) >= 4
           |    THEN list_distinct(list_transform(generate_series(1, len(w)-3),
           |         i -> list_aggregate(w[i:i+3], 'string_agg', ' ')))
           |    ELSE [] END AS grams
           |  FROM toks WHERE doc_id % 97 = 0),
           |bg AS (SELECT DISTINCT ${Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT unnest(grams) AS g FROM e4)),
           |cg AS (SELECT doc_id, ${Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT doc_id, unnest(grams) AS g FROM g4)),
           |bad AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (gh)),
           |clean AS (SELECT doc_id FROM qual
           |          WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
           |cs AS (SELECT d.source AS src, count(*) AS n
           |       FROM clean c JOIN documents d USING (doc_id) GROUP BY d.source),
           |ws AS (SELECT sum(pow(CAST(n AS DOUBLE), 0.6)) AS wsum FROM cs),
           |r AS (SELECT src, CAST(floor(least(1.0,
           |        120.0 * pow(CAST(n AS DOUBLE), 0.6) / wsum / n) * 1e6) AS BIGINT) AS thr
           |      FROM cs CROSS JOIN ws),
           |sel AS (SELECT c.doc_id FROM clean c
           |        JOIN documents d USING (doc_id) JOIN r ON d.source = r.src
           |        WHERE ${Hashing.sqlMd5Long60("CAST(c.doc_id AS VARCHAR)")} % 1000000 < thr),
           |n0 AS (SELECT count(*) AS c FROM inp),
           |n1 AS (SELECT count(*) AS c FROM ded),
           |n2 AS (SELECT count(*) AS c FROM qual),
           |n3 AS (SELECT count(*) AS c FROM clean),
           |n4 AS (SELECT count(*) AS c FROM sel)
           |SELECT * FROM (
           |  SELECT 0 AS stage_idx, 'input' AS stage, n0.c AS n_in, n0.c AS n_kept,
           |         n0.c - n0.c AS n_dropped FROM n0
           |  UNION ALL SELECT 1, 'exact_dedup', n0.c, n1.c, n0.c - n1.c FROM n0, n1
           |  UNION ALL SELECT 2, 'gopher_quality', n1.c, n2.c, n1.c - n2.c FROM n1, n2
           |  UNION ALL SELECT 3, 'decontaminate', n2.c, n3.c, n2.c - n3.c FROM n2, n3
           |  UNION ALL SELECT 4, 'temperature_mix', n3.c, n4.c, n3.c - n4.c FROM n3, n4)
           |ORDER BY stage_idx""".stripMargin
      }),

    // Tokenizer fertility per language: subword-tokens-per-word under the
    // corpus-trained 10-merge BPE — the multilingual tokenizer-cost
    // diagnostic. Oracle replays the same merges (c41's recursive replay)
    // and aggregates by lang.
    Q("c68_tokenizer_fertility",
      (s, d) => {
        val merges = TextAnalysis.bpePairCounts(
          Tables.documents(s, d), col("text"), k = 10)
          .collect().map(_.getString(0)).toSeq
        TextAnalysis.tokenizerFertility(Tables.documents(s, d), col("text"),
          col("lang"), merges).orderBy("lang")
      },
      Some(s"""WITH RECURSIVE $toksCte,
             |wf AS (SELECT unnest(w) AS word FROM toks),
             |wc AS (SELECT word, count(*) AS freq FROM wf GROUP BY word),
             |pp AS (SELECT unnest(list_transform(generate_series(1, len(word) - 1),
             |               i -> substr(word, i, 1) || ' ' || substr(word, i + 1, 1))) AS pair,
             |             freq
             |       FROM wc WHERE len(word) >= 2),
             |tp AS (SELECT pair, sum(freq) AS f FROM pp GROUP BY pair
             |       ORDER BY f DESC, pair LIMIT 10),
             |m AS (SELECT row_number() OVER (ORDER BY f DESC, pair) AS rk,
             |             '<' || split_part(pair, ' ', 1) || '><' || split_part(pair, ' ', 2) || '>' AS pat,
             |             '<' || replace(pair, ' ', '') || '>' AS rep
             |      FROM tp),
             |w0 AS (SELECT doc_id,
             |              list_aggregate(list_transform(w, x -> regexp_replace(x, '(.)', '<\\1>', 'g')),
             |                             'string_agg', '|') AS s,
             |              len(w) AS nw
             |       FROM toks),
             |rec(doc_id, k, s) AS (
             |  SELECT doc_id, 0, s FROM w0
             |  UNION ALL
             |  SELECT rec.doc_id, rec.k + 1, replace(rec.s, m.pat, m.rep)
             |  FROM rec JOIN m ON m.rk = rec.k + 1),
             |enc AS (SELECT doc_id, s FROM rec WHERE k = (SELECT count(*) FROM m)),
             |per AS (SELECT d.lang, w0.nw AS nw,
             |               len(w0.s) - len(replace(w0.s, '<', '')) AS nc,
             |               len(enc.s) - len(replace(enc.s, '<', '')) AS nt
             |        FROM w0 JOIN enc USING (doc_id)
             |        JOIN documents d ON d.doc_id = w0.doc_id
             |        WHERE d.text IS NOT NULL)
             |SELECT lang, count(*) AS n_docs,
             |       CAST(sum(nw) AS BIGINT) AS n_words,
             |       CAST(sum(nt) AS BIGINT) AS n_bpe_tokens,
             |       round(sum(nt) * 1.0 / sum(nw), 6) AS fertility,
             |       round(sum(nc) * 1.0 / sum(nt), 6) AS chars_per_token
             |FROM per GROUP BY lang ORDER BY lang""".stripMargin)),

    // Hard-negative mining (contrastive-training data prep): per anchor,
    // the top-5 most-similar DIFFERENT-label vectors — the near-miss
    // negatives metric learning needs. Broadcast anchors, corpus never
    // shuffles (the c06 shape + a label anti-filter).
    Q("c69_hard_negatives",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.hardNegatives(e.filter(col("vec_id") < 5), e, k = 5)
          .orderBy("anchor_id", "rank")
      },
      Some(
        s"""WITH q AS (SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS qe
           |           FROM embeddings WHERE vec_id < 5),
           |scored AS (
           |  SELECT anchor_id, e.vec_id AS neg_id, e.label AS neg_label,
           |         ${sqlCos("qe", "e.embedding")} AS cos
           |  FROM embeddings e CROSS JOIN q WHERE e.label <> anchor_label
           |),
           |r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
           |                ORDER BY cos DESC, neg_id) AS rank
           |      FROM scored)
           |SELECT anchor_id, rank, neg_id, neg_label, cos FROM r WHERE rank <= 5
           |ORDER BY anchor_id, rank""".stripMargin)),

    // Sentence-level shared-boilerplate signal: `[.!?]+` segmentation,
    // token-normalized sentences, 60-bit df agg + join-back — CCNet's
    // paragraph dedup at the sentence granularity (c60's plan shape).
    Q("c71_sentence_shared",
      (s, d) => graft.ext.Dedup.sentenceShared(Tables.documents(s, d),
        col("doc_id"), col("text"), minDocs = 2).orderBy("doc_id"),
      Some(s"""WITH sen AS (
             |  SELECT DISTINCT doc_id,
             |    ${Hashing.sqlMd5Long60("sent")} AS h
             |  FROM (
             |    SELECT doc_id,
             |           unnest(list_filter(
             |             list_transform(string_split_regex(text, '[.!?]+'),
             |               s -> array_to_string(list_filter(
             |                      string_split_regex(lower(s), '\\W+'), x -> x <> ''), ' ')),
             |             s -> s <> '')) AS sent
             |    FROM documents)),
             |df AS (SELECT h, count(*) AS df FROM sen GROUP BY h)
             |SELECT doc_id, count(*) AS n_sentences,
             |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             |       round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             |         AS shared_ratio
             |FROM sen JOIN df USING (h)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // LSH threshold calibration: exact Jaccard of EVERY candidate pair
    // binned 0.1-wide, with the at-or-above cumulative — the sweep a
    // pipeline runs before committing to a dedup threshold. Whole c02
    // pipeline at threshold 0 + one bounded histogram agg.
    Q("c72_lsh_threshold_sweep",
      (s, d) => Dedup.thresholdHistogram(Fixtures.lshPairsAll(s, d)).orderBy("bin"),
      Some(
        s"""WITH $toksCte,
           |$gramsCte,
           |$sigCte,
           |$bandsCte,
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band AND x.doc_id < y.doc_id
           |),
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter
           |  FROM cand c JOIN gx a ON a.doc_id = c.doc_a JOIN gx b ON b.doc_id = c.doc_b AND b.g = a.g
           |  GROUP BY c.doc_a, c.doc_b
           |),
           |jac AS (
           |  SELECT round(inter*1.0/(sa.n + sb.n - inter), 6) AS jac
           |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |),
           |h AS (SELECT CAST(least(floor(jac * 10), 9) AS INT) AS bin, count(*) AS n_pairs
           |      FROM jac GROUP BY bin)
           |SELECT bin, round(bin / 10.0, 2) AS threshold, n_pairs,
           |       CAST(sum(n_pairs) OVER (ORDER BY bin DESC
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |         AS n_pairs_at_or_above
           |FROM h ORDER BY bin""".stripMargin)),

    // Padding-waste report: fixed batches of 16 at seq_len 256 under
    // arrival order vs length bucketing — the batching-strategy decision
    // table. Global batch index = distributed row index (packTokens'
    // prefix-sum trick); oracle uses a plain global row_number.
    Q("c73_padding_waste",
      (s, d) => Corpus.paddingWaste(Tables.documents(s, d), col("doc_id"),
        col("text"), seqLen = 256, batchSize = 16).orderBy("strategy"),
      Some(s"""WITH $toksCte,
             |base AS (SELECT doc_id, least(len(w), 256) AS n FROM toks WHERE len(w) > 0),
             |ra AS (SELECT doc_id, n,
             |              (row_number() OVER (ORDER BY doc_id) - 1) // 16 AS b
             |       FROM base),
             |rl AS (SELECT doc_id, n,
             |              (row_number() OVER (ORDER BY n, doc_id) - 1) // 16 AS b
             |       FROM base),
             |ba AS (SELECT b, count(*) AS cnt, max(n) AS mx, sum(n) AS tok FROM ra GROUP BY b),
             |bl AS (SELECT b, count(*) AS cnt, max(n) AS mx, sum(n) AS tok FROM rl GROUP BY b),
             |sa AS (SELECT 'arrival' AS strategy, count(*) AS n_batches,
             |              CAST(sum(cnt) AS BIGINT) AS n_docs,
             |              CAST(sum(tok) AS BIGINT) AS n_tokens,
             |              CAST(sum(cnt * mx) AS BIGINT) AS n_padded_slots
             |       FROM ba),
             |sl AS (SELECT 'length' AS strategy, count(*) AS n_batches,
             |              CAST(sum(cnt) AS BIGINT) AS n_docs,
             |              CAST(sum(tok) AS BIGINT) AS n_tokens,
             |              CAST(sum(cnt * mx) AS BIGINT) AS n_padded_slots
             |       FROM bl)
             |SELECT strategy, n_batches, n_docs, n_tokens, n_padded_slots,
             |       round((n_padded_slots - n_tokens) * 1.0 / n_padded_slots, 6) AS waste_ratio
             |FROM (SELECT * FROM sa UNION ALL SELECT * FROM sl)
             |ORDER BY strategy""".stripMargin)),

    // WAV audio round trip through the JDK's REAL audio codec
    // (AudioSystem write + parse): the oracle never sees bytes — it
    // recomputes the closed-form waveform, so decode(encode(wave)) must be
    // bit-exact through the RIFF container. Energy stays exact-integer
    // (Σs² in LONG); rms is a deterministic function of it.
    Q("c75_wav_decode",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.decodeWav(
          Multimodal.encodeTestWavs(Tables.documents(s, d)))
          .orderBy("doc_id")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents),
             |sm AS (
             |  SELECT doc_id, ((doc_id * 31 + i * 7) % 65536) - 32768 AS s
             |  FROM ids, unnest(generate_series(0, CAST(64 + doc_id % 64 AS INT) - 1)) AS u(i)),
             |a AS (
             |  SELECT doc_id, count(*) AS n_samples,
             |         CAST(sum(s * s) AS BIGINT) AS sum_sq,
             |         CAST(max(abs(s)) AS INT) AS peak
             |  FROM sm GROUP BY doc_id)
             |SELECT a.doc_id,
             |       CAST(8000 + (a.doc_id % 4) * 4000 AS INT) AS sample_rate,
             |       1 AS channels, 16 AS bits, n_samples,
             |       n_samples * 1000 // (8000 + (a.doc_id % 4) * 4000) AS duration_ms,
             |       sum_sq, peak,
             |       round(sqrt(sum_sq * 1.0 / n_samples), 4) AS rms
             |FROM a ORDER BY a.doc_id""".stripMargin)),

    // Perceptual average-hash over REAL codec-round-tripped images: all-
    // integer luminance/mean/threshold math, so the 64-bit hash is
    // engine-exact; the oracle replays the pattern analytically.
    Q("c77_image_ahash",
      (s, d) => Fixtures.imageHash(s, d).orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |         CAST(doc_id % 9 + 2 AS INT) AS width,
             |         CAST((doc_id * 3) % 7 + 2 AS INT) AS height
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, width, height, y * width + x AS i,
             |         ((doc_id * 31 + x * 7 + y * 13) % 256
             |          + (doc_id * 17 + x * 11 + y * 5) % 256
             |          + (doc_id * 23 + x * 3 + y * 19) % 256) // 3 AS g
             |  FROM dims,
             |       unnest(generate_series(0, width - 1)) AS ux(x),
             |       unnest(generate_series(0, height - 1)) AS uy(y)),
             |m AS (SELECT doc_id, sum(g) // count(*) AS mean FROM px GROUP BY doc_id)
             |SELECT px.doc_id, width, height,
             |       CAST(COALESCE(sum(CASE WHEN i < 64 AND g > mean THEN
             |                       CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
             |                            ELSE CAST(CAST(1 AS BIGINT) << CAST(i AS INT) AS HUGEINT) END
             |                     ELSE 0 END), 0) AS BIGINT) AS ahash
             |FROM px JOIN m ON m.doc_id = px.doc_id
             |GROUP BY px.doc_id, width, height
             |ORDER BY px.doc_id""".stripMargin)),

    // Perceptual difference-hash (dHash): bit i = luminance(i) >
    // luminance(i+1) — adjacent-pixel gradients instead of the global
    // mean, so uniform brightness shifts leave the hash untouched (the
    // aHash failure mode; spec-pinned). Real codec round trip, exact
    // integers, same LONG shape as c77 for the banded machinery.
    Q("c113_image_dhash",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.imageDHash(
          Multimodal.encodeTestImages(Tables.documents(s, d)))
          .orderBy("doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |         CAST(doc_id % 9 + 2 AS INT) AS width,
             |         CAST((doc_id * 3) % 7 + 2 AS INT) AS height
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, width, height, y * width + x AS i,
             |         ((doc_id * 31 + x * 7 + y * 13) % 256
             |          + (doc_id * 17 + x * 11 + y * 5) % 256
             |          + (doc_id * 23 + x * 3 + y * 19) % 256) // 3 AS g
             |  FROM dims,
             |       unnest(generate_series(0, width - 1)) AS ux(x),
             |       unnest(generate_series(0, height - 1)) AS uy(y))
             |SELECT a.doc_id, a.width, a.height,
             |       CAST(COALESCE(sum(CASE WHEN a.i < 64 AND a.g > b.g THEN
             |                       CASE WHEN a.i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
             |                            ELSE CAST(CAST(1 AS BIGINT) << CAST(a.i AS INT) AS HUGEINT) END
             |                     ELSE 0 END), 0) AS BIGINT) AS dhash
             |FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.i = a.i + 1
             |GROUP BY a.doc_id, a.width, a.height
             |ORDER BY a.doc_id""".stripMargin)),

    // Image NEAR-dup: banded Hamming self-join over the c77 aHash (4×16-bit
    // bands, pigeonhole-exact at ≤3 bits) — the multimodal analog of the
    // SimHash text path. Oracle computes the full pairwise ground truth,
    // which the banding must reproduce exactly.
    Q("c78_image_neardup",
      (s, d) => Dedup.hammingPairs64(Fixtures.imageHash(s, d),
          hashCol = "ahash", maxDist = 3)
        .orderBy("doc_a", "doc_b"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |         CAST(doc_id % 9 + 2 AS INT) AS width,
             |         CAST((doc_id * 3) % 7 + 2 AS INT) AS height
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, width, height, y * width + x AS i,
             |         ((doc_id * 31 + x * 7 + y * 13) % 256
             |          + (doc_id * 17 + x * 11 + y * 5) % 256
             |          + (doc_id * 23 + x * 3 + y * 19) % 256) // 3 AS g
             |  FROM dims,
             |       unnest(generate_series(0, width - 1)) AS ux(x),
             |       unnest(generate_series(0, height - 1)) AS uy(y)),
             |m AS (SELECT doc_id, sum(g) // count(*) AS mean FROM px GROUP BY doc_id),
             |h AS (SELECT px.doc_id,
             |             CAST(COALESCE(sum(CASE WHEN i < 64 AND g > mean THEN
             |                    CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
             |                         ELSE CAST(CAST(1 AS BIGINT) << CAST(i AS INT) AS HUGEINT) END
             |                  ELSE 0 END), 0) AS BIGINT) AS ahash
             |      FROM px JOIN m ON m.doc_id = px.doc_id GROUP BY px.doc_id)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       bit_count(xor(a.ahash, b.ahash)) AS hamming
             |FROM h a JOIN h b ON b.doc_id > a.doc_id
             |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Incremental image near-dup ADMISSION (c55's O(batch) ingest pattern
    // over the c77 aHash): every 10th image arrives as the batch, the rest
    // stand as the index; the batch bands only itself and joins
    // new-vs-standing — no standing-vs-standing rework. Oracle = full
    // pairwise recompute of each incoming image's standing neighbors.
    Q("c79_image_neardup_incremental",
      (s, d) => {
        val sig = Fixtures.imageHash(s, d)
        Dedup.hammingIncremental64(
          sig.filter(col("doc_id") % 10 =!= 0),
          sig.filter(col("doc_id") % 10 === 0),
          hashCol = "ahash", maxDist = 3)
      },
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |         CAST(doc_id % 9 + 2 AS INT) AS width,
             |         CAST((doc_id * 3) % 7 + 2 AS INT) AS height
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, width, height, y * width + x AS i,
             |         ((doc_id * 31 + x * 7 + y * 13) % 256
             |          + (doc_id * 17 + x * 11 + y * 5) % 256
             |          + (doc_id * 23 + x * 3 + y * 19) % 256) // 3 AS g
             |  FROM dims,
             |       unnest(generate_series(0, width - 1)) AS ux(x),
             |       unnest(generate_series(0, height - 1)) AS uy(y)),
             |m AS (SELECT doc_id, sum(g) // count(*) AS mean FROM px GROUP BY doc_id),
             |h AS (SELECT px.doc_id,
             |             CAST(COALESCE(sum(CASE WHEN i < 64 AND g > mean THEN
             |                    CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
             |                         ELSE CAST(CAST(1 AS BIGINT) << CAST(i AS INT) AS HUGEINT) END
             |                  ELSE 0 END), 0) AS BIGINT) AS ahash
             |      FROM px JOIN m ON m.doc_id = px.doc_id GROUP BY px.doc_id)
             |SELECT n.doc_id, count(o.doc_id) AS n_matches,
             |       count(o.doc_id) = 0 AS admitted
             |FROM (SELECT * FROM h WHERE doc_id % 10 = 0) n
             |LEFT JOIN (SELECT * FROM h WHERE doc_id % 10 <> 0) o
             |  ON bit_count(xor(n.ahash, o.ahash)) <= 3
             |GROUP BY n.doc_id
             |ORDER BY n.doc_id""".stripMargin)),

    // ANN serving-quality GATE: rank_eval's Precision@10 over the c53
    // IVF-PQ index (nprobe 2 of 8 cells, m=4 PQ) against exact L2 top-10
    // (same ‖x‖²−2x·q association) for three fixed query vectors —
    // precision against an exact-kNN judgment set IS recall@10. The row
    // asserts a pinned floor, so an index-quality regression (codebook,
    // cell assignment, ADC math) flips a flag the DuckDB oracle
    // adjudicates instead of drifting silently in a probe note. IVF-PQ
    // retrieves 11 and drops the query vector itself (exact kNN excludes
    // self; the self-hit must not occupy a scored slot).
    Q("c80_ann_recall_gate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // the driver embeddings are UNSTRUCTURED random vectors (no
        // cluster geometry), so raw ANN recall on them is noise by
        // construction; the gate plants 10 deterministic near-twins
        // (±2% coordinate perturbation) per query — exact L2 top-10 IS
        // the twin set, and losing twins means a real index regression
        // (cell assignment, codebook, ADC math), not data geometry.
        // Fixture (corpus+twins, codebooks, query vectors) is memoized —
        // shared with the c120 re-rank gate.
        val (e, coarse, cb, qvs) = Fixtures.annTwins(s, d)
        val qids = annQids
        val w = Window.partitionBy("query_id")
          .orderBy(col("adist"), col("vec_id")) // ≤11 rows per query
        val hits = Similarity.ivfPqSearchMany(e, col("vec_id"), col("embedding"),
            coarse, cb, qids.map(q => q -> qvs(q)), nprobe = 2, topK = 11)
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
        val judgments = qids.map { qid =>
          val qvArr = array(qvs(qid).map(lit): _*)
          val vd = col("embedding")
          e.filter(col("vec_id") =!= qid)
            .select(col("vec_id"), (graft.functions.VecOps.dotD(vd, vd)
              - lit(2.0) * graft.functions.VecOps.dotD(vd, qvArr)).as("d"))
            .orderBy(col("d"), col("vec_id")).limit(10)
            .select(lit(qid).as("query_id"), col("vec_id").as("doc_id"), lit(1).as("grade"))
        }.reduce(_ unionAll _)
        graft.dsl.RankEval.rankEval(hits, judgments, k = 10)
          .select(col("query_id"), (col("precision_k") >= 0.7).as("recall_floor_met"))
          .orderBy("query_id")
      },
      Some("""SELECT query_id, TRUE AS recall_floor_met
             |FROM (VALUES (5), (123), (240)) v(query_id) ORDER BY query_id""".stripMargin)),

    // Two-stage ANN serving gate: the c80 planted-twin protocol with the
    // EXACT re-rank stage on (ADC over-fetches 4×K candidates, the full
    // vectors of only those candidates re-score exactly). Re-ranking
    // removes code-resolution error, so the floor pins HIGHER than c80's
    // 0.7 — Precision@10 >= 0.9 per query — while per-query work stays
    // bounded (40 exact distances, never the corpus).
    Q("c120_ann_rerank_gate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (e, coarse, cb, qvs) = Fixtures.annTwins(s, d)
        val qids = annQids
        val w = Window.partitionBy("query_id")
          .orderBy(col("dist"), col("vec_id")) // ≤11 rows per query
        val hits = Similarity.ivfPqSearchManyRerank(e, col("vec_id"), col("embedding"),
            coarse, cb, qids.map(q => q -> qvs(q)), nprobe = 2, topK = 11)
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
        val judgments = qids.map { qid =>
          val qvArr = array(qvs(qid).map(lit): _*)
          val vd = col("embedding")
          e.filter(col("vec_id") =!= qid)
            .select(col("vec_id"), (graft.functions.VecOps.dotD(vd, vd)
              - lit(2.0) * graft.functions.VecOps.dotD(vd, qvArr)).as("d"))
            .orderBy(col("d"), col("vec_id")).limit(10)
            .select(lit(qid).as("query_id"), col("vec_id").as("doc_id"), lit(1).as("grade"))
        }.reduce(_ unionAll _)
        graft.dsl.RankEval.rankEval(hits, judgments, k = 10)
          .select(col("query_id"), (col("precision_k") >= 0.9).as("rerank_floor_met"))
          .orderBy("query_id")
      },
      Some("""SELECT query_id, TRUE AS rerank_floor_met
             |FROM (VALUES (5), (123), (240)) v(query_id) ORDER BY query_id""".stripMargin)),

    // Image RESIZE through the real codec: block-mean (area-average)
    // downscale to 2×2 — source pixel (x,y) belongs to output cell
    // (x·2//w, y·2//h), each cell emits integer channel means. The oracle
    // replays the exact means from the closed-form pattern; the codec
    // round trip must be bit-exact for them to agree.
    Q("c81_image_resize",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.imageResize(
          Multimodal.encodeTestImages(Tables.documents(s, d)), outW = 2, outH = 2)
          .orderBy("doc_id", "oy", "ox")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |         CAST(doc_id % 9 + 2 AS INT) AS width,
             |         CAST((doc_id * 3) % 7 + 2 AS INT) AS height
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, width, height,
             |         CAST((x * 2) // width AS INT) AS ox,
             |         CAST((y * 2) // height AS INT) AS oy,
             |         (doc_id * 31 + x * 7 + y * 13) % 256 AS pr,
             |         (doc_id * 17 + x * 11 + y * 5) % 256 AS pg,
             |         (doc_id * 23 + x * 3 + y * 19) % 256 AS pb
             |  FROM dims,
             |       unnest(generate_series(0, width - 1)) AS ux(x),
             |       unnest(generate_series(0, height - 1)) AS uy(y))
             |SELECT doc_id, width, height, ox, oy,
             |       CAST(sum(pr) // count(*) AS INT) AS r,
             |       CAST(sum(pg) // count(*) AS INT) AS g,
             |       CAST(sum(pb) // count(*) AS INT) AS b
             |FROM px GROUP BY doc_id, width, height, ox, oy
             |ORDER BY doc_id, oy, ox""".stripMargin)),

    // Audio RESAMPLE by decimation through the real codec: every 3rd
    // sample kept; exact count/energy/|peak|/sign-change aggregates over
    // the kept sequence, replayed analytically by the oracle.
    Q("c82_audio_decimate",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.audioDecimate(
          Multimodal.encodeTestWavs(Tables.documents(s, d)), factor = 3)
          .orderBy("doc_id")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents),
             |sm AS (
             |  SELECT doc_id, i, ((doc_id * 31 + i * 7) % 65536) - 32768 AS s
             |  FROM ids, unnest(generate_series(0, CAST(64 + doc_id % 64 AS INT) - 1)) AS u(i)),
             |k AS (SELECT doc_id, i, s FROM sm WHERE i % 3 = 0),
             |zc AS (
             |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS zero_crossings
             |  FROM k a JOIN k b ON b.doc_id = a.doc_id AND b.i = a.i + 3
             |  WHERE (a.s < 0) <> (b.s < 0) GROUP BY a.doc_id),
             |ag AS (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_out,
             |         CAST(sum(s * s) AS BIGINT) AS sum_sq,
             |         CAST(max(abs(s)) AS INT) AS peak
             |  FROM k GROUP BY doc_id)
             |SELECT i.doc_id, 3 AS factor,
             |       CAST(64 + i.doc_id % 64 AS BIGINT) AS n_in,
             |       ag.n_out, ag.sum_sq, ag.peak,
             |       COALESCE(zc.zero_crossings, 0) AS zero_crossings
             |FROM ids i JOIN ag USING (doc_id) LEFT JOIN zc USING (doc_id)
             |ORDER BY i.doc_id""".stripMargin)),

    // Frame-level audio analysis (the VAD/MFCC precursor): 16-sample
    // frame energies with an activity threshold + whole-signal zero
    // crossings — all exact integers through the real codec round trip.
    Q("c76_audio_frames",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.audioFrames(
          Multimodal.encodeTestWavs(Tables.documents(s, d)),
          frameSize = 16, activeThreshold = 5000000000L)
          .orderBy("doc_id")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents),
             |sm AS (
             |  SELECT doc_id, i, ((doc_id * 31 + i * 7) % 65536) - 32768 AS s
             |  FROM ids, unnest(generate_series(0, CAST(64 + doc_id % 64 AS INT) - 1)) AS u(i)),
             |zc AS (
             |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS zero_crossings
             |  FROM sm a JOIN sm b ON b.doc_id = a.doc_id AND b.i = a.i + 1
             |  WHERE (a.s < 0) <> (b.s < 0) GROUP BY a.doc_id),
             |fr AS (
             |  SELECT doc_id, i // 16 AS f, CAST(sum(s * s) AS BIGINT) AS e
             |  FROM sm WHERE i // 16 < (64 + doc_id % 64) // 16
             |  GROUP BY doc_id, f),
             |ag AS (
             |  SELECT doc_id, count(*) AS n_frames,
             |         CAST(sum(CASE WHEN e > 5000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
             |         max(e) AS max_frame_energy
             |  FROM fr GROUP BY doc_id)
             |SELECT i.doc_id, ag.n_frames, ag.n_active,
             |       COALESCE(zc.zero_crossings, 0) AS zero_crossings,
             |       ag.max_frame_energy
             |FROM ids i JOIN ag ON ag.doc_id = i.doc_id
             |LEFT JOIN zc ON zc.doc_id = i.doc_id
             |ORDER BY i.doc_id""".stripMargin)),

    // Corpus snapshot diff: v1 = docs with id%10!=0, v2 = all docs with
    // id%7==0 texts edited — per-source added/removed/changed/unchanged,
    // content identity by md5-60 text fingerprint. One full-outer join.
    Q("c74_corpus_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val prev = docs.filter(col("doc_id") % 10 =!= 0)
        val cur = docs.withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        Corpus.corpusDiff(prev, cur, col("doc_id"), col("text"), col("source"))
          .orderBy("source")
      },
      Some(s"""WITH prev AS (
             |  SELECT doc_id, source, ${Hashing.sqlMd5Long60("COALESCE(text, '')")} AS fp
             |  FROM documents WHERE doc_id % 10 <> 0),
             |cur AS (
             |  SELECT doc_id, source,
             |         ${Hashing.sqlMd5Long60("COALESCE(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END, '')")} AS fp
             |  FROM documents),
             |j AS (
             |  SELECT COALESCE(c.source, p.source) AS source,
             |         CASE WHEN p.fp IS NULL THEN 'added'
             |              WHEN c.fp IS NULL THEN 'removed'
             |              WHEN p.fp = c.fp THEN 'unchanged'
             |              ELSE 'changed' END AS status
             |  FROM prev p FULL OUTER JOIN cur c ON c.doc_id = p.doc_id)
             |SELECT source,
             |       CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             |       CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |       CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |       CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
             |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // Deterministic EXACT-k uniform sample: smallest k seeded hash keys —
    // a fixed-size eval set that re-runs and repartitioning cannot change.
    Q("c66_exact_k_sample",
      (s, d) => Corpus.exactKSample(Tables.documents(s, d), col("doc_id"), k = 50)
        .select("doc_id", "lang", "source").orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, source FROM (
             |  SELECT doc_id, lang, source
             |  FROM documents
             |  ORDER BY ${Hashing.sqlMd5Long60("'sample:' || CAST(doc_id AS VARCHAR)")}, doc_id
             |  LIMIT 50)
             |ORDER BY doc_id""".stripMargin)),

    // Bloom-filter decontamination (Sketch.bloomContamination): the
    // benchmark 4-gram set compressed into a 16384-bit filter (k=3
    // Kirsch–Mitzenmacher probes) — constant-size broadcast however big
    // the benchmark, one-sided error. The oracle rebuilds the SAME filter
    // as a position set (membership = all 3 probe positions present), so
    // the comparison covers false positives bit-for-bit.
    Q("c83_bloom_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val words = graft.ext.Sketch.bloomBuild(
          docs.filter(col("doc_id") % 97 === 0), col("text"),
          nGram = 4, mBits = 16384, k = 3)
        graft.ext.Sketch.bloomContamination(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          words, nGram = 4, k = 3)
          .orderBy("doc_id")
      },
      Some {
        val h1 = Hashing.sqlMd5Long60("g")
        val h2 = Hashing.sqlMd5Long60("'bloom2:' || g")
        s"""WITH $toksCte,
           |g4 AS (
           |  SELECT doc_id, CASE WHEN len(w) >= 4
           |    THEN list_distinct(list_transform(generate_series(1, len(w)-3),
           |         i -> list_aggregate(w[i:i+3], 'string_agg', ' ')))
           |    ELSE [] END AS grams
           |  FROM toks),
           |bh AS (SELECT $h1 AS h1, $h2 AS h2
           |       FROM (SELECT DISTINCT unnest(grams) AS g FROM g4 WHERE doc_id % 97 = 0)),
           |bp AS (SELECT DISTINCT unnest([h1 % 16384, (h1 + h2) % 16384, (h1 + 2*h2) % 16384]) AS p
           |       FROM bh),
           |cg AS (SELECT doc_id, $h1 AS h1, $h2 AS h2
           |       FROM (SELECT doc_id, unnest(grams) AS g FROM g4 WHERE doc_id % 97 <> 0)),
           |hits AS (
           |  SELECT doc_id, count(*) AS cnt FROM cg
           |  WHERE (h1 % 16384) IN (SELECT p FROM bp)
           |    AND ((h1 + h2) % 16384) IN (SELECT p FROM bp)
           |    AND ((h1 + 2*h2) % 16384) IN (SELECT p FROM bp)
           |  GROUP BY doc_id)
           |SELECT g4.doc_id, len(g4.grams) AS n_grams,
           |       COALESCE(hits.cnt, 0) AS hit_grams,
           |       COALESCE(hits.cnt, 0) > 0 AS flagged
           |FROM g4 LEFT JOIN hits USING (doc_id)
           |WHERE g4.doc_id % 97 <> 0
           |ORDER BY g4.doc_id""".stripMargin
      }),

    // Count-Min heavy hitters (Sketch.cmsHeavyHitters): d=3 × w=16 sketch
    // of the token counts — small enough that collisions are certain, so
    // the one-sided overestimate is VISIBLE and the oracle checks the
    // exact collision arithmetic, not just a pass-through. The corpus is
    // touched once (vocab agg); the sketch never grows with vocabulary.
    Q("c84_cms_heavy_hitters",
      (s, d) => graft.ext.Sketch.cmsHeavyHitters(Tables.documents(s, d),
        col("text"), d = 3, w = 16, topK = 20),
      Some {
        val cell = s"${Hashing.sqlMd5Long60("'cms' || r || ':' || t")} % 16"
        s"""WITH $toksCte,
           |tok AS (SELECT unnest(w) AS t FROM toks),
           |counts AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
           |cells AS (
           |  SELECT r, $cell AS cell, sum(cnt) AS mass
           |  FROM counts CROSS JOIN range(0, 3) s(r) GROUP BY 1, 2),
           |top AS (SELECT t, cnt FROM counts ORDER BY cnt DESC, t LIMIT 20),
           |probes AS (
           |  SELECT t, cnt, r, $cell AS cell
           |  FROM top CROSS JOIN range(0, 3) s(r))
           |SELECT t AS tok, cnt, CAST(min(mass) AS BIGINT) AS estimate
           |FROM probes JOIN cells USING (r, cell)
           |GROUP BY tok, cnt ORDER BY cnt DESC, tok""".stripMargin
      }),

    // Per-domain quota (Corpus.domainCap): ≤ 15 docs per source, best
    // lexical-diversity rank first — the host-cap every web-scale mix
    // applies. The engine's two-phase top-k (partition-local prune, then
    // the global rank) returns exactly the oracle's one-window answer.
    Q("c85_domain_cap",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Corpus.domainCap(docs, col("doc_id"), col("source"),
          size(array_distinct(TextAnalysis.tokens(col("text")))), cap = 15)
          .orderBy("doc_id")
      },
      Some(s"""WITH $toksCte,
             |q AS (SELECT d.doc_id, d.source AS domain, len(list_distinct(w)) AS r
             |      FROM documents d JOIN toks ON toks.doc_id = d.doc_id),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY domain ORDER BY r DESC, doc_id) AS rn
             |       FROM q)
             |SELECT doc_id, domain, r, rn FROM rk WHERE rn <= 15
             |ORDER BY doc_id""".stripMargin)),

    // Encoding-damage triage (TextAnalysis.encodingDamage): U+FFFD
    // replacement-char count, C0 control-char count, token Shannon
    // entropy — the crawl-ingest pre-filter. Damage is injected by a
    // shared md5-free fixture (doc_id arithmetic) since the driver tables
    // are clean; entropy folds over the ASCENDING distinct token list on
    // both engines (DuckDB list_sort, Spark array_sort) at 4 dp. Every
    // 5th doc also carries SUPPLEMENTARY-PLANE text (emoji U+1F600,
    // U+1D518) spliced mid-word: both engines must treat the
    // surrogate-pair code points as `\W` separators and count them once
    // in char lengths — the oracle-pinned surface of the UTF-8-byte
    // fold-order contract (TextKernels.scala:61).
    Q("c86_encoding_damage",
      (s, d) => {
        val fix = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0, lit(" zq\uD83D\uDE00vx\uD835\uDD18wy"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(" \uFFFD\uFFFD")).otherwise(lit("")),
            when(col("doc_id") % 11 === 0, lit("\u0001")).otherwise(lit(""))).as("text"))
        TextAnalysis.encodingDamage(fix, col("doc_id"), col("text"))
          .orderBy("doc_id")
      },
      Some("""WITH fx AS (
             |  SELECT doc_id, text ||
             |         CASE WHEN doc_id % 5 = 0
             |              THEN ' zq' || chr(128512) || 'vx' || chr(120088) || 'wy'
             |              ELSE '' END ||
             |         CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(65533) || chr(65533) ELSE '' END ||
             |         CASE WHEN doc_id % 11 = 0 THEN chr(1) ELSE '' END AS text
             |  FROM documents),
             |t AS (SELECT doc_id, text,
             |             list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |      FROM fx),
             |sig AS (
             |  SELECT doc_id,
             |         len(text) - len(replace(text, chr(65533), '')) AS n_repl,
             |         len(text) - len(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_ctrl,
             |         CASE WHEN len(w) > 0 THEN
             |           round(0.0 - list_sum(list_transform(list_sort(list_distinct(w)),
             |             tk -> (len(list_filter(w, x -> x = tk)) * 1.0 / len(w))
             |                   * log2(len(list_filter(w, x -> x = tk)) * 1.0 / len(w)))), 4)
             |         ELSE 0.0 END AS tok_entropy
             |  FROM t)
             |SELECT doc_id, n_repl, n_ctrl, tok_entropy,
             |       (n_repl > 0 OR n_ctrl > 0) AS damaged
             |FROM sig ORDER BY doc_id""".stripMargin)),

    // JL projection fidelity (Similarity.jlProject): 64-float embeddings
    // → 16-double ±1-sign sketches, then per-query top-10 overlap between
    // projected-space and exact cosine kNN — the dimension-reduction
    // recall check run before committing a compressed ANN index. The
    // oracle inlines the SAME deterministic sign matrix.
    Q("c87_jl_recall",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val signs = Similarity.jlSigns(64, 16)
        val proj = Similarity.jlProject(e, col("vec_id"), col("embedding"), signs)
        def dotd(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          graft.functions.VecOps.dotD(a, b)
        val q = proj.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("proj").as("qp"))
        val scored = proj.select(col("vec_id").as("neighbor_id"), col("proj").as("cp"))
          .crossJoin(broadcast(q)).filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("cos", round(dotd(col("qp"), col("cp")) /
            (sqrt(dotd(col("qp"), col("qp"))) * sqrt(dotd(col("cp"), col("cp")))), 6))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
        val projTop = scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10).select("query_id", "neighbor_id")
        val exact = Similarity.knnBrute(e.filter(col("vec_id") < 8), e, 10)
          .select("query_id", "neighbor_id")
        exact.join(projTop.withColumn("_hit", lit(1)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id").agg(count(col("_hit")).as("overlap"))
          .orderBy("query_id")
      },
      Some {
        val signs = Similarity.jlSigns(64, 16)
        val projList = signs.map(row =>
          s"round(list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * ([${row.mkString(",")}])[i])), 6)")
          .mkString("[", ", ", "]")
        def dot16(a: String, b: String) =
          s"list_sum(list_transform(generate_series(1, 16), i -> $a[i] * $b[i]))"
        s"""WITH pr AS (SELECT vec_id, $projList AS proj FROM embeddings),
           |q AS (SELECT vec_id AS query_id, proj AS qp FROM pr WHERE vec_id < 8),
           |ps AS (SELECT query_id, pr.vec_id AS neighbor_id,
           |         round(${dot16("qp", "pr.proj")} /
           |               (sqrt(${dot16("qp", "qp")}) * sqrt(${dot16("pr.proj", "pr.proj")})), 6) AS cos
           |       FROM pr CROSS JOIN q WHERE query_id <> pr.vec_id),
           |pt AS (SELECT query_id, neighbor_id FROM (
           |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |         FROM ps) WHERE rank <= 10),
           |qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
           |es AS (SELECT query_id, e.vec_id AS neighbor_id, ${sqlCos("qv", "e.embedding")} AS cos
           |       FROM embeddings e CROSS JOIN qe WHERE query_id <> e.vec_id),
           |et AS (SELECT query_id, neighbor_id FROM (
           |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |         FROM es) WHERE rank <= 10)
           |SELECT et.query_id, count(pt.neighbor_id) AS overlap
           |FROM et LEFT JOIN pt ON et.query_id = pt.query_id AND et.neighbor_id = pt.neighbor_id
           |GROUP BY et.query_id ORDER BY et.query_id""".stripMargin
      }),

    // Quality-aware canonical selection (Dedup.canonicalByQuality): per
    // near-dup cluster keep the highest-lexical-diversity doc (ties →
    // lowest id) instead of an arbitrary survivor. Shares the memoized
    // LSH pair pipeline with c02/c24/c59; the per-cluster argmax is a
    // lexicographic struct-max agg, no window.
    Q("c88_canonical_keeper",
      (s, d) => Dedup.canonicalByQuality(Tables.documents(s, d), col("doc_id"),
        lshPairs(s, d),
        size(array_distinct(TextAnalysis.tokens(col("text"))))),
      Some(
        s"""WITH RECURSIVE $toksCte,
           |$gramsCte,
           |$sigCte,
           |$bandsCte,
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band AND x.doc_id < y.doc_id
           |),
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter
           |  FROM cand c JOIN gx a ON a.doc_id = c.doc_a JOIN gx b ON b.doc_id = c.doc_b AND b.g = a.g
           |  GROUP BY c.doc_a, c.doc_b
           |),
           |pairs AS (
           |  SELECT doc_a, doc_b FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE round(inter*1.0/(sa.n + sb.n - inter), 6) >= 0.5
           |),
           |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |      UNION SELECT doc_b, doc_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT src AS id, src AS r FROM e
           |  UNION
           |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
           |),
           |cc AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
           |qq AS (SELECT doc_id, len(list_distinct(w)) AS q FROM toks),
           |lab AS (SELECT d.doc_id, qq.q, COALESCE(cc.cluster, d.doc_id) AS cluster
           |        FROM documents d JOIN qq ON qq.doc_id = d.doc_id
           |        LEFT JOIN cc ON cc.id = d.doc_id),
           |keep AS (SELECT cluster, doc_id AS keeper_id FROM (
           |           SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY q DESC, doc_id) AS rn
           |           FROM lab) WHERE rn = 1)
           |SELECT lab.doc_id, lab.cluster, lab.q, keep.keeper_id,
           |       lab.doc_id = keep.keeper_id AS is_keeper
           |FROM lab JOIN keep ON keep.cluster = lab.cluster
           |ORDER BY lab.doc_id""".stripMargin)),

    // Dedup-path quality gate (the c80 idea applied to the TEXT dedup
    // path): banded-LSH recall against the exact n-gram-Jaccard ground
    // truth at threshold 0.5. Precision is 1.0 by construction (LSH
    // candidates verify with the exact Jaccard); recall < 1 exposes
    // pairs the banding scheme misses — a banding regression flips this
    // row red instead of silently shipping an under-deduped corpus.
    Q("c89_lsh_quality_gate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val truth = Dedup.ngramJaccard(docs, col("doc_id"), col("text"), threshold = 0.5)
          .select(col("doc_a"), col("doc_b"), lit(1).as("_t"))
        val lsh = lshPairs(s, d).select(col("doc_a"), col("doc_b"), lit(1).as("_l"))
        truth.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
          .agg(count(col("_t")).as("n_true"), count(col("_l")).as("n_lsh"),
            sum(when(col("_t").isNotNull && col("_l").isNotNull, 1L).otherwise(0L)).as("n_common"))
          .withColumn("recall", round(col("n_common").cast("double") / col("n_true"), 6))
          .withColumn("precision", round(col("n_common").cast("double") / col("n_lsh"), 6))
      },
      Some(
        s"""WITH $toksCte,
           |$gramsCte,
           |$sigCte,
           |$bandsCte,
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |allinter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           |  FROM gx a JOIN gx b ON a.g = b.g AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |tp AS (
           |  SELECT doc_a, doc_b FROM allinter
           |  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE round(inter*1.0/(sa.n + sb.n - inter), 6) >= 0.5),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band AND x.doc_id < y.doc_id),
           |lp AS (SELECT doc_a, doc_b FROM tp JOIN cand USING (doc_a, doc_b))
           |SELECT (SELECT count(*) FROM tp) AS n_true,
           |       (SELECT count(*) FROM lp) AS n_lsh,
           |       (SELECT count(*) FROM lp) AS n_common,
           |       round((SELECT count(*) FROM lp) * 1.0 / (SELECT count(*) FROM tp), 6) AS recall,
           |       round((SELECT count(*) FROM lp) * 1.0 / (SELECT count(*) FROM lp), 6) AS precision""".stripMargin)),

    // Clustering-quality gate for the IVF/SemDeDup partition: simplified
    // (centroid-based) silhouette over the c32 k-means fit — per-cluster
    // mean of (b−a)/max(a,b) with a = nearest-centroid distance, b =
    // runner-up. Low silhouette = boundary-heavy clusters = bad ANN
    // probe behavior; the oracle replays the fit AND the scoring.
    Q("c90_silhouette",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        Similarity.silhouette(e, col("vec_id"), col("embedding"),
          Fixtures.kmeansFit8(s, d).select(col("cluster"), col("centroid")))
      },
      Some(
        s"""WITH ${kmeansSqlCtes(8)},
           |dd AS (
           |  SELECT vec_id, c2.cluster AS cluster,
           |         round(sqrt(round(list_sum(list_transform(generate_series(1, len(v)),
           |           i -> (v[i] - c2.cvec[i]) * (v[i] - c2.cvec[i]))), 6)), 6) AS d
           |  FROM v CROSS JOIN c2),
           |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rk FROM dd),
           |ab AS (SELECT vec_id, max(CASE WHEN rk = 1 THEN cluster END) AS cluster,
           |              max(CASE WHEN rk = 1 THEN d END) AS a,
           |              max(CASE WHEN rk = 2 THEN d END) AS b
           |       FROM r WHERE rk <= 2 GROUP BY vec_id),
           |sv AS (SELECT cluster, CASE WHEN greatest(a, b) = 0 THEN 0.0
           |              ELSE round((b - a) / greatest(a, b), 6) END AS s FROM ab)
           |SELECT cluster, count(*) AS n, round(avg(s), 6) AS silhouette
           |FROM sv GROUP BY cluster ORDER BY cluster""".stripMargin)),

    // HTML text extraction + link-density boilerplate signal
    // (TextAnalysis.htmlExtract): tag strip with entity decode, anchor
    // count, and the fraction of tokens inside <a>…</a> — the
    // jusText/boilerpipe headline feature for nav-page detection. The
    // html fixture wraps each doc with markup, 1–2 anchors and a script.
    Q("c91_html_extract",
      (s, d) => {
        val fix = Tables.documents(s, d).select(col("doc_id"),
          concat(lit("<html><body><p>"), col("text"),
            lit("</p> <a href=\"/a\">"),
            when(col("doc_id") % 2 === 0, lit("nav menu home")).otherwise(lit("read more")),
            lit("</a>"),
            when(col("doc_id") % 4 === 0, lit(" <a href=\"/b\">next page</a>")).otherwise(lit("")),
            lit(" &amp; <script>var x = 1;</script></body></html>")).as("html"))
        TextAnalysis.htmlExtract(fix, col("doc_id"), col("html"))
          .orderBy("doc_id")
      },
      Some("""WITH fx AS (
             |  SELECT doc_id, '<html><body><p>' || text || '</p> <a href="/a">' ||
             |         CASE WHEN doc_id % 2 = 0 THEN 'nav menu home' ELSE 'read more' END ||
             |         '</a>' ||
             |         CASE WHEN doc_id % 4 = 0 THEN ' <a href="/b">next page</a>' ELSE '' END ||
             |         ' &amp; <script>var x = 1;</script></body></html>' AS html
             |  FROM documents),
             |st AS (
             |  SELECT doc_id, html,
             |         trim(regexp_replace(
             |           replace(replace(replace(replace(replace(
             |             regexp_replace(regexp_replace(regexp_replace(html,
             |               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |               '<[^>]*>', ' ', 'g'),
             |             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '), '&amp;', '&'),
             |           '\s+', ' ', 'g')) AS txt
             |  FROM fx),
             |an AS (
             |  SELECT doc_id, txt,
             |         regexp_extract_all(html, '(?is)<a\b[^>]*>(.*?)</a>', 1) AS anchors
             |  FROM st),
             |m AS (
             |  SELECT doc_id, txt AS text_extracted, len(anchors) AS n_links,
             |         len(list_filter(string_split_regex(lower(txt), '\W+'), x -> x <> '')) AS n_tokens,
             |         len(flatten(list_transform(anchors,
             |           a2 -> list_filter(string_split_regex(lower(a2), '\W+'), x -> x <> '')))) AS n_link_tokens
             |  FROM an)
             |SELECT doc_id, text_extracted, n_links, n_tokens, n_link_tokens,
             |       CASE WHEN n_tokens > 0 THEN round(n_link_tokens * 1.0 / n_tokens, 6)
             |            ELSE 0.0 END AS link_density
             |FROM m ORDER BY doc_id""".stripMargin)),

    // Feature-hashed doc vectors (hashing trick) + cosine top-5: the
    // model-free text embedding — signed-tf cells, INTEGER accumulation
    // (order-independent, no float-fold protocol), cosine cast to double
    // once at ranking time. Bridges the text side to every embedding
    // operator (near-dup banding, JL, IVF) without a model.
    Q("c92_feature_hash_knn",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val v = TextAnalysis.featureHashVectors(docs, col("doc_id"), col("text"), 16)
        def dotL(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
        val q = v.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("vec").as("qv"))
        val scored = v.select(col("doc_id").as("neighbor_id"), col("vec").as("nv"))
          .crossJoin(broadcast(q)).filter(col("query_id") =!= col("neighbor_id"))
          .filter(dotL(col("qv"), col("qv")) > 0 && dotL(col("nv"), col("nv")) > 0)
          .withColumn("cos", round(dotL(col("qv"), col("nv")).cast("double") /
            (sqrt(dotL(col("qv"), col("qv")).cast("double")) *
             sqrt(dotL(col("nv"), col("nv")).cast("double"))), 6))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
        scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
          .select("query_id", "rank", "neighbor_id", "cos")
          .orderBy("query_id", "rank")
      },
      Some {
        val h = Hashing.sqlMd5Long60("tok")
        val hs = Hashing.sqlMd5Long60("'sgn:' || tok")
        def dot16(a: String, b: String) =
          s"list_sum(list_transform(generate_series(1, 16), i -> $a[i] * $b[i]))"
        s"""WITH $toksCte,
           |tk AS (SELECT doc_id, unnest(w) AS tok FROM toks),
           |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
           |cell AS (
           |  SELECT doc_id, $h % 16 AS j,
           |         sum((CASE WHEN $hs % 2 = 0 THEN 1 ELSE -1 END) * tf) AS v
           |  FROM tf GROUP BY 1, 2),
           |grid AS (SELECT d.doc_id, r.j FROM (SELECT DISTINCT doc_id FROM tf) d
           |         CROSS JOIN range(0, 16) r(j)),
           |vec AS (
           |  SELECT g.doc_id, list(coalesce(cell.v, 0) ORDER BY g.j) AS vec
           |  FROM grid g LEFT JOIN cell ON cell.doc_id = g.doc_id AND cell.j = g.j
           |  GROUP BY g.doc_id),
           |q AS (SELECT doc_id AS query_id, vec AS qv FROM vec WHERE doc_id < 5),
           |ps AS (
           |  SELECT query_id, v2.doc_id AS neighbor_id,
           |         round(${dot16("qv", "v2.vec")} * 1.0 /
           |           (sqrt(CAST(${dot16("qv", "qv")} AS DOUBLE)) *
           |            sqrt(CAST(${dot16("v2.vec", "v2.vec")} AS DOUBLE))), 6) AS cos
           |  FROM vec v2 CROSS JOIN q
           |  WHERE query_id <> v2.doc_id
           |    AND ${dot16("qv", "qv")} > 0 AND ${dot16("v2.vec", "v2.vec")} > 0)
           |SELECT query_id, rank, neighbor_id, cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM ps) WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin
      }),

    // Contamination RUN lengths (Lee et al. 2022): per contaminated doc,
    // matched POSITIONAL benchmark 4-grams and the longest consecutive
    // run — a run of r grams = a shared span of r+3 tokens, the quantity
    // eval-scrub policies threshold on (e.g. ≥ 50 tokens). The flat c25
    // count can't distinguish one long overlap from many scattered hits.
    Q("c95_contamination_runs",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Corpus.contaminationRuns(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 97 === 0), col("text"), nGram = 4)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $toksCte,
           |g4 AS (
           |  SELECT doc_id, CASE WHEN len(w) >= 4
           |    THEN list_transform(generate_series(1, len(w)-3),
           |         i -> list_aggregate(w[i:i+3], 'string_agg', ' '))
           |    ELSE [] END AS grams
           |  FROM toks),
           |bg AS (SELECT DISTINCT ${Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT unnest(grams) AS g FROM g4 WHERE doc_id % 97 = 0)),
           |cp AS (SELECT doc_id, i AS pos, ${Hashing.sqlMd5Long60("g")} AS gh
           |       FROM (SELECT doc_id, unnest(generate_series(1, len(grams))) AS i,
           |                    unnest(grams) AS g
           |             FROM g4 WHERE doc_id % 97 <> 0)),
           |m AS (SELECT doc_id, pos FROM cp JOIN bg USING (gh)),
           |isl AS (SELECT doc_id,
           |               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
           |        FROM m),
           |runs AS (SELECT doc_id, isl, count(*) AS run FROM isl GROUP BY 1, 2)
           |SELECT doc_id, CAST(sum(run) AS BIGINT) AS matched_grams,
           |       CAST(max(run) AS BIGINT) AS longest_run,
           |       CAST(max(run) + 3 AS BIGINT) AS longest_run_tokens
           |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Video container demux (deterministic GRV1 fixture — the JDK ships
    // no video codec, so the container is ours; the REAL part is the
    // binary plumbing: header parse, frame slicing, exact-integer frame
    // stats exploded to rows). Every 4th frame repeats frame 0; the
    // oracle reproduces every frame analytically from the pixel formula.
    Q("c98_video_frames",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.videoFrames(
          Multimodal.encodeTestVideos(
            Tables.documents(s, d).filter(col("doc_id") < 40)))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS w,
             |         CAST((doc_id * 3) % 4 + 2 AS INT) AS h,
             |         CAST(doc_id % 9 + 3 AS INT) AS n
             |  FROM documents WHERE doc_id < 40),
             |fr AS (SELECT doc_id, w, h, unnest(generate_series(0, n - 1)) AS frame_idx FROM p),
             |pl AS (SELECT doc_id, frame_idx,
             |         flatten(list_transform(generate_series(0, h - 1), y ->
             |           list_transform(generate_series(0, w - 1), x ->
             |             CAST((doc_id*31 + (CASE WHEN frame_idx % 4 = 0 THEN 0 ELSE frame_idx END)*7
             |                   + x*11 + y*13) % 256 AS INT)))) AS px
             |       FROM fr)
             |SELECT doc_id, frame_idx, CAST(list_sum(px) AS BIGINT) AS px_sum,
             |       list_min(px) AS px_min, list_max(px) AS px_max,
             |       CAST(len(px) AS INT) AS px_n
             |FROM pl ORDER BY doc_id, frame_idx""".stripMargin)),

    // Static-scene detection over the demuxed frames: distinct frame
    // signatures + the fraction sharing frame 0's — the dead-footage
    // skip a frame-sampling pipeline applies before feature extraction.
    Q("c99_video_static",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.videoStaticScenes(
          Multimodal.encodeTestVideos(
            Tables.documents(s, d).filter(col("doc_id") < 40)))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS w,
             |         CAST((doc_id * 3) % 4 + 2 AS INT) AS h,
             |         CAST(doc_id % 9 + 3 AS INT) AS n
             |  FROM documents WHERE doc_id < 40),
             |fr AS (SELECT doc_id, w, h, unnest(generate_series(0, n - 1)) AS frame_idx FROM p),
             |pl AS (SELECT doc_id, frame_idx,
             |         flatten(list_transform(generate_series(0, h - 1), y ->
             |           list_transform(generate_series(0, w - 1), x ->
             |             CAST((doc_id*31 + (CASE WHEN frame_idx % 4 = 0 THEN 0 ELSE frame_idx END)*7
             |                   + x*11 + y*13) % 256 AS INT)))) AS px
             |       FROM fr),
             |sig AS (SELECT doc_id, frame_idx, CAST(list_sum(px) AS BIGINT) AS s,
             |               list_min(px) AS mn, list_max(px) AS mx
             |        FROM pl),
             |f0 AS (SELECT doc_id, s AS s0, mn AS m0, mx AS x0 FROM sig WHERE frame_idx = 0)
             |SELECT sig.doc_id, count(*) AS n_frames,
             |       CAST(count(DISTINCT (sig.s, sig.mn, sig.mx)) AS BIGINT) AS n_distinct,
             |       CAST(sum(CASE WHEN sig.s = f0.s0 AND sig.mn = f0.m0 AND sig.mx = f0.x0
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_static,
             |       round(sum(CASE WHEN sig.s = f0.s0 AND sig.mn = f0.m0 AND sig.mx = f0.x0
             |                      THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS static_ratio
             |FROM sig JOIN f0 ON f0.doc_id = sig.doc_id
             |GROUP BY sig.doc_id ORDER BY sig.doc_id""".stripMargin)),

    // Cross-VIDEO duplicate frames: the shared-intro fixture gives every
    // group of 3 videos byte-identical static cards; the signature join
    // finds the frame pairs (the banded-near-dup shape — quadratic only
    // within a signature value, and those pairs ARE the answer).
    Q("c100_cross_video_dup_frames",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.crossVideoDupFrames(
          Multimodal.encodeTestVideos(
            Tables.documents(s, d).filter(col("doc_id") < 60), introGroup = 3))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, doc_id - doc_id % 3 AS gid,
             |         CAST((doc_id - doc_id % 3) % 5 + 2 AS INT) AS w,
             |         CAST(((doc_id - doc_id % 3) * 3) % 4 + 2 AS INT) AS h,
             |         CAST(doc_id % 9 + 3 AS INT) AS n
             |  FROM documents WHERE doc_id < 60),
             |fr AS (SELECT doc_id, gid, w, h, unnest(generate_series(0, n - 1)) AS f FROM p),
             |pl AS (SELECT doc_id, f,
             |         flatten(list_transform(generate_series(0, h - 1), y ->
             |           list_transform(generate_series(0, w - 1), x ->
             |             CAST(((CASE WHEN f % 4 = 0 THEN gid ELSE doc_id END)*31
             |                   + (CASE WHEN f % 4 = 0 THEN 0 ELSE f END)*7
             |                   + x*11 + y*13) % 256 AS INT)))) AS px
             |       FROM fr),
             |sig AS (SELECT doc_id, CAST(list_sum(px) AS BIGINT) AS s,
             |               list_min(px) AS mn, list_max(px) AS mx,
             |               len(px) AS pn FROM pl)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_frames
             |FROM sig a JOIN sig b ON a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
             |                     AND a.pn = b.pn AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin)),

    // Mixed-language / code-switch detection: language-ID each HALF of
    // the token stream; disagreement flags bilingual/concatenated docs —
    // the split check run before trusting a doc-level language label.
    Q("c96_mixed_language",
      (s, d) => TextAnalysis.mixedLanguage(Tables.documents(s, d),
        col("doc_id"), col("text")).orderBy("doc_id"),
      Some {
        def scoresOf(w: String, sfx: String): String =
          TextAnalysis.langMarkers.map { case (l, ms) =>
            s"len(list_filter($w, t -> t IN (${ms.map(m => s"'$m'").mkString(",")}))) AS s_${l}_$sfx"
          }.mkString(",\n           ")
        def predOf(sfx: String, out: String): String = {
          val mx = s"greatest(${TextAnalysis.langMarkers.map(l => s"s_${l._1}_$sfx").mkString(", ")})"
          val cases = TextAnalysis.langMarkers.map { case (l, _) =>
            s"WHEN mx_$sfx > 0 AND s_${l}_$sfx = mx_$sfx THEN '$l'"
          }.mkString(" ")
          s"""p_$sfx AS (
             |  SELECT doc_id, CASE $cases ELSE 'und' END AS $out
             |  FROM (SELECT *, $mx AS mx_$sfx FROM sc_$sfx))"""
        }
        s"""WITH $toksCte,
           |h AS (SELECT doc_id, w AS wf,
           |             w[1:(len(w) // 2)] AS wh,
           |             w[(len(w) // 2)+1:] AS wt
           |      FROM toks),
           |sc_f AS (SELECT doc_id, ${scoresOf("wf", "f")} FROM h),
           |sc_h AS (SELECT doc_id, ${scoresOf("wh", "h")} FROM h),
           |sc_t AS (SELECT doc_id, ${scoresOf("wt", "t")} FROM h),
           |${predOf("f", "lang_full").stripMargin},
           |${predOf("h", "lang_head").stripMargin},
           |${predOf("t", "lang_tail").stripMargin}
           |SELECT p_f.doc_id, lang_full, lang_head, lang_tail,
           |       lang_head <> lang_tail AS mixed
           |FROM p_f JOIN p_h ON p_h.doc_id = p_f.doc_id
           |         JOIN p_t ON p_t.doc_id = p_f.doc_id
           |ORDER BY p_f.doc_id""".stripMargin
      }),

    // Effective token share per source under soft-dedup weights: raw
    // token mass vs 1/|cluster|-weighted mass — what each source REALLY
    // contributes to a training mix once near-duplicates stop
    // multiple-counting. Shares the memoized LSH→CC pipeline.
    Q("c97_weighted_token_share",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val wts = Dedup.softDedupWeights(docs, col("doc_id"), lshPairs(s, d))
          .select(col("doc_id"), col("weight"))
        val tok = docs.select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
        val per = tok.join(wts, "doc_id")
          .groupBy("source")
          .agg(sum("n_tok").as("raw_tokens"),
            round(sum(col("weight") * col("n_tok")), 4).as("effective_tokens"))
        val tot = per.agg(sum("effective_tokens").as("_tot"))
        per.crossJoin(broadcast(tot))
          .withColumn("share", round(col("effective_tokens") / col("_tot"), 6))
          .drop("_tot")
          .orderBy("source")
      },
      Some(
        s"""WITH RECURSIVE $toksCte,
           |$gramsCte,
           |$sigCte,
           |$bandsCte,
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band AND x.doc_id < y.doc_id
           |),
           |sizes AS (SELECT doc_id, len(grams) AS n FROM grams),
           |inter AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter
           |  FROM cand c JOIN gx a ON a.doc_id = c.doc_a JOIN gx b ON b.doc_id = c.doc_b AND b.g = a.g
           |  GROUP BY c.doc_a, c.doc_b
           |),
           |pairs AS (
           |  SELECT doc_a, doc_b FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE round(inter*1.0/(sa.n + sb.n - inter), 6) >= 0.5
           |),
           |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |      UNION SELECT doc_b, doc_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT src AS id, src AS r FROM e
           |  UNION
           |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
           |),
           |cc AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
           |cs AS (SELECT cluster, count(*) AS k FROM cc GROUP BY cluster),
           |wt AS (SELECT d.doc_id, round(CAST(1.0 AS DOUBLE) / COALESCE(cs.k, 1), 6) AS weight
           |       FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
           |                       LEFT JOIN cs ON cs.cluster = cc.cluster),
           |tk AS (SELECT d.doc_id, d.source, len(w) AS n_tok
           |       FROM documents d JOIN toks ON toks.doc_id = d.doc_id),
           |per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
           |               round(sum(weight * n_tok), 4) AS effective_tokens
           |        FROM tk JOIN wt ON wt.doc_id = tk.doc_id GROUP BY source),
           |tot AS (SELECT sum(effective_tokens) AS t FROM per)
           |SELECT source, raw_tokens, effective_tokens,
           |       round(effective_tokens / t, 6) AS share
           |FROM per CROSS JOIN tot ORDER BY source""".stripMargin)),

    // Vocabulary coverage curve: fraction of corpus token OCCURRENCES
    // covered by the top-k terms, for candidate vocab sizes — the
    // tokenizer-design diagnostic read before pinning a vocab budget.
    Q("c93_vocab_coverage",
      (s, d) => TextAnalysis.vocabCoverage(Tables.documents(s, d), col("text"),
        sizes = Seq(5, 10, 20, 40)),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |counts AS (SELECT tok, count(*) AS cnt FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok),
             |ranked AS (
             |  SELECT *, row_number() OVER (ORDER BY cnt DESC, tok) AS rank,
             |         sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM counts),
             |tot AS (SELECT sum(cnt) AS t FROM counts)
             |SELECT vocab_size, CAST(max(cum) AS BIGINT) AS covered_tokens,
             |       CAST(max(t) AS BIGINT) AS total_tokens,
             |       round(max(cum) * 1.0 / max(t), 6) AS coverage
             |FROM ranked CROSS JOIN tot CROSS JOIN (SELECT unnest([5, 10, 20, 40]) AS vocab_size)
             |WHERE rank <= vocab_size
             |GROUP BY vocab_size ORDER BY vocab_size""".stripMargin)),

    // Zipf rank-frequency slope: ln(freq) ~ ln(rank) least squares over
    // the vocabulary — the corpus-health diagnostic (templated corpora
    // flatten away from natural text's ≈ −1). Regression sums round to
    // 6 dp before the slope arithmetic on both engines.
    Q("c94_zipf_slope",
      (s, d) => TextAnalysis.zipfSlope(Tables.documents(s, d), col("text")),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             |  FROM documents),
             |counts AS (SELECT tok, count(*) AS cnt FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok),
             |xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) AS x,
             |              ln(CAST(cnt AS DOUBLE)) AS y
             |       FROM counts),
             |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |             round(sum(x), 6) AS sx, round(sum(y), 6) AS sy,
             |             round(sum(x * y), 6) AS sxy, round(sum(x * x), 6) AS sxx
             |      FROM xy)
             |SELECT CAST(n AS BIGINT) AS n_vocab,
             |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
             |       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
             |FROM s""".stripMargin)),

    // Keyframe selection by scene-change detection: a frame opens a new
    // scene when its mean-pixel delta vs the previous frame exceeds 32
    // (exact integer comparison — |Δsum| > 32·px_n); only keyframes
    // survive, the frames a sampling pipeline would decode. The fixture's
    // static-card returns (every 4th frame repeats frame 0) make both cut
    // and no-cut transitions common.
    Q("c101_video_keyframes",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.videoKeyframes(
          Multimodal.encodeTestVideos(
            Tables.documents(s, d).filter(col("doc_id") < 40)))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""WITH p AS (
             |  SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS w,
             |         CAST((doc_id * 3) % 4 + 2 AS INT) AS h,
             |         CAST(doc_id % 9 + 3 AS INT) AS n
             |  FROM documents WHERE doc_id < 40),
             |fr AS (SELECT doc_id, w, h, unnest(generate_series(0, n - 1)) AS frame_idx FROM p),
             |pl AS (SELECT doc_id, w * h AS px_n, frame_idx,
             |         flatten(list_transform(generate_series(0, h - 1), y ->
             |           list_transform(generate_series(0, w - 1), x ->
             |             CAST((doc_id*31 + (CASE WHEN frame_idx % 4 = 0 THEN 0 ELSE frame_idx END)*7
             |                   + x*11 + y*13) % 256 AS INT)))) AS px
             |       FROM fr),
             |st AS (SELECT doc_id, px_n, frame_idx, CAST(list_sum(px) AS BIGINT) AS px_sum FROM pl),
             |cut AS (SELECT doc_id, frame_idx, px_sum,
             |          CASE WHEN lag(px_sum) OVER (PARTITION BY doc_id ORDER BY frame_idx) IS NULL
             |                 OR abs(px_sum - lag(px_sum) OVER (PARTITION BY doc_id ORDER BY frame_idx)) > 32 * px_n
             |               THEN 1 ELSE 0 END AS c
             |        FROM st),
             |sc AS (SELECT doc_id, frame_idx, px_sum, c,
             |          CAST(sum(c) OVER (PARTITION BY doc_id ORDER BY frame_idx) - 1 AS INT) AS scene_idx
             |        FROM cut)
             |SELECT doc_id, frame_idx, scene_idx, px_sum FROM sc WHERE c = 1
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Content-defined chunking dedup: chunk boundaries from local content
    // (2-gram hash % 13 == 0), so shared token runs produce IDENTICAL
    // chunk fingerprints wherever they sit — the insertion-robust twin of
    // fixed-size segment dedup (c60). Output: the corpus-repeated chunks.
    Q("c102_cdc_chunks",
      (s, d) => Dedup.cdcSharedChunks(Tables.documents(s, d),
        col("doc_id"), col("text"), p = 13, minDocs = 2, size = 20),
      Some(s"""WITH t AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w
           |  FROM documents),
           |b AS (
           |  SELECT doc_id, w,
           |         [CAST(1 AS BIGINT)] ||
           |         list_filter(generate_series(2, len(w)), i ->
           |           (${Hashing.sqlMd5Long60("w[i-1] || ' ' || w[i]")}) % 13 = 0) ||
           |         [CAST(len(w) + 1 AS BIGINT)] AS bp
           |  FROM t WHERE len(w) >= 1),
           |c AS (
           |  SELECT doc_id, unnest(list_transform(generate_series(1, len(bp) - 1), j ->
           |           struct_pack(
           |             fp := ${Hashing.sqlMd5Long60("array_to_string(w[bp[j]:bp[j+1]-1], ' ')")},
           |             len := CAST(bp[j+1] - bp[j] AS INT)))) AS ch
           |  FROM b)
           |SELECT ch.fp AS fp, min(ch.len) AS len,
           |       count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
           |FROM c GROUP BY ch.fp HAVING count(DISTINCT doc_id) >= 2
           |ORDER BY n_docs DESC, n_occ DESC, fp LIMIT 20""".stripMargin)),

    // Unicode NFC canonicalization: the same visible text arrives composed
    // and decomposed from different web sources; without NFC every
    // hash-based operator (dedup, term stats) treats them as distinct.
    // Fixture plants decomposed e+U+0301 in every third doc; both engines
    // (java.text.Normalizer / utf8proc) implement the same Unicode
    // standard, so the per-source fingerprint XOR pins every normalized
    // byte.
    Q("c103_nfc_normalize",
      (s, d) => {
        val dec = when(col("doc_id") % 3 === 0,
          regexp_replace(col("text"), "e", "é")).otherwise(col("text"))
        Tables.documents(s, d)
          .withColumn("_dec", dec)
          .withColumn("_norm", graft.functions.Normalize.nfcNormalize(col("_dec")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("_norm") =!= col("_dec"), 1L).otherwise(0L)).as("n_changed"),
            sum(length(col("_dec"))).as("pre_chars"),
            sum(length(col("_norm"))).as("post_chars"),
            expr("bit_xor(" +
              "cast(conv(substring(md5(_norm), 1, 15), 16, 10) as bigint))").as("fp_xor"))
          .orderBy("source")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'e' || chr(769)) ELSE text END AS dec
             |  FROM documents),
             |n AS (SELECT doc_id, source, dec, nfc_normalize(dec) AS norm FROM t)
             |SELECT source, count(*) AS n_docs,
             |       CAST(sum(CASE WHEN norm <> dec THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |       CAST(sum(len(dec)) AS BIGINT) AS pre_chars,
             |       CAST(sum(len(norm)) AS BIGINT) AS post_chars,
             |       bit_xor(CAST('0x' || substr(md5(norm), 1, 15) AS BIGINT)) AS fp_xor
             |FROM n GROUP BY source ORDER BY source""".stripMargin)),

    // Unigram-LM tokenizer hard-EM step (the SentencePiece family — the
    // other major subword trainer beside the BPE loop, c67): seed pieces
    // from corpus-weighted substrings, Viterbi-segment every word type
    // under logp = ln(occ/total) @6dp, re-estimate piece probabilities
    // from the corpus-weighted Viterbi counts. The oracle replays the DP
    // as 12 unrolled best-per-position CTEs + a 12-step backtrack walk —
    // candidate scores are the identical incrementally-built double
    // chains, and ties break longest-piece-first on both engines, so the
    // segmentations must agree word for word.
    Q("c104_unigram_lm_step",
      (s, d) => TextAnalysis.unigramLmStep(Tables.documents(s, d), col("text"),
        minCount = 5, maxWordLen = 12, maxPieceLen = 4, topK = 25),
      Some {
        val maxJ = 12
        val fwd = (1 to maxJ).map { j =>
          val branches = (1 to math.min(4, j)).map { l =>
            val i = j - l
            s"""    SELECT w.word, w.wcnt, v.s + lp.logp AS cs, $l AS plen, lp.piece
               |    FROM wt w JOIN v$i v ON v.word = w.word
               |              JOIN lp ON lp.piece = substr(w.word, ${i + 1}, $l)
               |    WHERE len(w.word) >= $j""".stripMargin
          }.mkString("\n    UNION ALL\n")
          s"""v$j AS MATERIALIZED (
             |  SELECT word, wcnt, cs AS s, plen, piece FROM (
             |$branches)
             |  QUALIFY row_number() OVER (PARTITION BY word ORDER BY cs DESC, plen DESC) = 1)""".stripMargin
        }.mkString(",\n")
        val vall = (1 to maxJ).map(j =>
          s"SELECT $j AS j, word, plen, piece FROM v$j").mkString("\n  UNION ALL ")
        val back = (1 to maxJ).map { k =>
          s"""b$k AS MATERIALIZED (
             |  SELECT b.word, b.wcnt,
             |         CASE WHEN b.cur > 0 THEN b.cur - v.plen ELSE 0 END AS cur,
             |         CASE WHEN b.cur > 0 THEN list_prepend(v.piece, b.ps) ELSE b.ps END AS ps
             |  FROM b${k - 1} b LEFT JOIN vall v ON v.word = b.word AND v.j = b.cur)""".stripMargin
        }.mkString(",\n")
        s"""WITH $toksCte,
           |wt AS MATERIALIZED (SELECT tok AS word, count(*) AS wcnt
           |       FROM (SELECT unnest(w) AS tok FROM toks)
           |       WHERE len(tok) <= 12 GROUP BY tok),
           |subs AS (SELECT wcnt, unnest(flatten(list_transform(generate_series(1, len(word)), st ->
           |           list_transform(generate_series(1, least(4, len(word) - st + 1)), l ->
           |             substr(word, st, l))))) AS piece
           |         FROM wt),
           |pieces AS (SELECT piece, CAST(sum(wcnt) AS BIGINT) AS occ FROM subs GROUP BY piece
           |           HAVING sum(wcnt) >= 5 OR len(piece) = 1),
           |lp AS MATERIALIZED (SELECT piece, occ, round(ln(CAST(occ AS DOUBLE) / t.tot), 6) AS logp
           |       FROM pieces CROSS JOIN (SELECT CAST(sum(occ) AS DOUBLE) AS tot FROM pieces) t),
           |v0 AS (SELECT word, wcnt, CAST(0 AS DOUBLE) AS s FROM wt),
           |$fwd,
           |vall AS MATERIALIZED (
           |  $vall),
           |b0 AS (SELECT word, wcnt, len(word) AS cur, []::VARCHAR[] AS ps FROM wt),
           |$back,
           |mc AS (SELECT piece, CAST(sum(wcnt) AS BIGINT) AS vit_cnt
           |       FROM (SELECT wcnt, unnest(ps) AS piece FROM b$maxJ) GROUP BY piece)
           |SELECT mc.piece, lp.occ, lp.logp, mc.vit_cnt,
           |       round(mc.vit_cnt / t.vt, 6) AS new_p
           |FROM mc JOIN lp ON lp.piece = mc.piece
           |CROSS JOIN (SELECT CAST(sum(vit_cnt) AS BIGINT) AS vt FROM mc) t
           |ORDER BY vit_cnt DESC, mc.piece LIMIT 25""".stripMargin
      }),

    // Unigram-LM trainer LOOP (c104's hard-EM iterated): round-2 piece
    // log-probs re-estimate from round-1 Viterbi counts with +1 Laplace
    // smoothing over the FULL seed piece set (alphabet floor), then the
    // DP re-runs — the oracle unrolls BOTH rounds' DPs and must agree
    // segmentation-for-segmentation in each.
    Q("c112_unigram_lm_loop",
      (s, d) => TextAnalysis.unigramLmLoop(Tables.documents(s, d), col("text"),
        rounds = 2, minCount = 5, maxWordLen = 12, maxPieceLen = 4, topK = 25),
      Some {
        val maxJ = 12
        def dpBlock(sfx: String, lpName: String): String = {
          val fwd = (1 to maxJ).map { j =>
            val branches = (1 to math.min(4, j)).map { l =>
              val i = j - l
              s"""    SELECT w.word, w.wcnt, v.s + lp.logp AS cs, $l AS plen, lp.piece
                 |    FROM wt w JOIN v${i}_$sfx v ON v.word = w.word
                 |              JOIN $lpName lp ON lp.piece = substr(w.word, ${i + 1}, $l)
                 |    WHERE len(w.word) >= $j""".stripMargin
            }.mkString("\n    UNION ALL\n")
            s"""v${j}_$sfx AS MATERIALIZED (
               |  SELECT word, wcnt, cs AS s, plen, piece FROM (
               |$branches)
               |  QUALIFY row_number() OVER (PARTITION BY word ORDER BY cs DESC, plen DESC) = 1)""".stripMargin
          }.mkString(",\n")
          val vall = (1 to maxJ).map(j =>
            s"SELECT $j AS j, word, plen, piece FROM v${j}_$sfx").mkString("\n  UNION ALL ")
          val back = (1 to maxJ).map { k =>
            s"""b${k}_$sfx AS MATERIALIZED (
               |  SELECT b.word, b.wcnt,
               |         CASE WHEN b.cur > 0 THEN b.cur - v.plen ELSE 0 END AS cur,
               |         CASE WHEN b.cur > 0 THEN list_prepend(v.piece, b.ps) ELSE b.ps END AS ps
               |  FROM b${k - 1}_$sfx b LEFT JOIN vall_$sfx v ON v.word = b.word AND v.j = b.cur)""".stripMargin
          }.mkString(",\n")
          s"""v0_$sfx AS (SELECT word, wcnt, CAST(0 AS DOUBLE) AS s FROM wt),
             |$fwd,
             |vall_$sfx AS MATERIALIZED (
             |  $vall),
             |b0_$sfx AS (SELECT word, wcnt, len(word) AS cur, []::VARCHAR[] AS ps FROM wt),
             |$back,
             |mc_$sfx AS MATERIALIZED (
             |  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS vit
             |  FROM (SELECT wcnt, unnest(ps) AS piece FROM b${maxJ}_$sfx) GROUP BY piece)""".stripMargin
        }
        s"""WITH $toksCte,
           |wt AS MATERIALIZED (SELECT tok AS word, count(*) AS wcnt
           |       FROM (SELECT unnest(w) AS tok FROM toks)
           |       WHERE len(tok) <= 12 GROUP BY tok),
           |subs AS (SELECT wcnt, unnest(flatten(list_transform(generate_series(1, len(word)), st ->
           |           list_transform(generate_series(1, least(4, len(word) - st + 1)), l ->
           |             substr(word, st, l))))) AS piece
           |         FROM wt),
           |pieces AS MATERIALIZED (SELECT piece, CAST(sum(wcnt) AS BIGINT) AS occ FROM subs GROUP BY piece
           |           HAVING sum(wcnt) >= 5 OR len(piece) = 1),
           |lp1 AS MATERIALIZED (SELECT piece, round(ln(CAST(occ AS DOUBLE) / t.tot), 6) AS logp
           |       FROM pieces CROSS JOIN (SELECT CAST(sum(occ) AS DOUBLE) AS tot FROM pieces) t),
           |${dpBlock("x1", "lp1")},
           |lp2 AS MATERIALIZED (
           |  SELECT p.piece,
           |         round(ln((CAST(COALESCE(m.vit, 0) AS DOUBLE) + 1.0) / (t.totv + t.np)), 6) AS logp
           |  FROM pieces p LEFT JOIN mc_x1 m ON m.piece = p.piece
           |  CROSS JOIN (SELECT (SELECT CAST(sum(vit) AS DOUBLE) FROM mc_x1) AS totv,
           |                     (SELECT CAST(count(*) AS DOUBLE) FROM pieces) AS np) t),
           |${dpBlock("x2", "lp2")}
           |SELECT p.piece, p.occ,
           |       CAST(COALESCE(m1.vit, 0) AS VARCHAR) || ',' || CAST(m2.vit AS VARCHAR) AS vit_counts,
           |       m2.vit AS vit_last,
           |       round(CAST(m2.vit AS DOUBLE) / t2.tot, 6) AS new_p
           |FROM mc_x2 m2 JOIN pieces p ON p.piece = m2.piece
           |LEFT JOIN mc_x1 m1 ON m1.piece = m2.piece
           |CROSS JOIN (SELECT CAST(sum(vit) AS DOUBLE) AS tot FROM mc_x2) t2
           |ORDER BY vit_last DESC, p.piece LIMIT 25""".stripMargin
      }),

    // Embedding whitening (ZCA via Cholesky) on the JL-projected space —
    // the standard pre-ANN correction (per-dim scale + correlations
    // removed). The gate is the b12pt bounded-error pattern: empirical
    // covariance of the whitened vectors must sit within 1e-3 of the
    // identity on every upper-triangle cell; the oracle expects TRUE for
    // all 136. Fit = one agg pass + driver 16^3 algebra; apply = narrow
    // codegen'd multiply-adds.
    Q("c105_embedding_whitening",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val proj = Similarity.jlProject(e, col("vec_id"), col("embedding"),
          Similarity.jlSigns(64, 16))
        Similarity.whitenGate(proj, col("vec_id"), col("proj"), dim = 16)
      },
      Some("""SELECT a.i, b.j, TRUE AS within_band
             |FROM (SELECT unnest(generate_series(0, 15)) AS i) a,
             |     (SELECT unnest(generate_series(0, 15)) AS j) b
             |WHERE a.i <= b.j ORDER BY a.i, b.j""".stripMargin)),

    // O(batch) CDC admission: each incoming doc's chunks probe the
    // standing corpus's distinct-chunk set; docs mostly made of
    // already-held chunks are refused (boilerplate/duplicate material).
    // The incremental twin of c102 — at scale the standing chunk set is
    // a maintained artifact, the standing corpus never re-chunks.
    Q("c106_cdc_admission",
      (s, d) => Dedup.cdcIncrementalAdmission(
          Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0),
          Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
          col("doc_id"), col("text"), p = 13, maxSharedFrac = 0.5)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w
           |  FROM documents),
           |b AS (
           |  SELECT doc_id, w,
           |         [CAST(1 AS BIGINT)] ||
           |         list_filter(generate_series(2, len(w)), i ->
           |           (${graft.functions.Hashing.sqlMd5Long60("w[i-1] || ' ' || w[i]")}) % 13 = 0) ||
           |         [CAST(len(w) + 1 AS BIGINT)] AS bp
           |  FROM t WHERE len(w) >= 1),
           |c AS (
           |  SELECT doc_id, unnest(list_transform(generate_series(1, len(bp) - 1), j ->
           |           ${graft.functions.Hashing.sqlMd5Long60("array_to_string(w[bp[j]:bp[j+1]-1], ' ')")})) AS fp
           |  FROM b),
           |sset AS (SELECT DISTINCT fp FROM c WHERE doc_id % 10 <> 0),
           |inc AS (SELECT c.doc_id, c.fp, (sset.fp IS NOT NULL) AS hit
           |        FROM c LEFT JOIN sset ON c.fp = sset.fp
           |        WHERE c.doc_id % 10 = 0)
           |SELECT doc_id, count(*) AS n_chunks,
           |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           |       round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS shared_frac,
           |       round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) <= 0.5 AS admit
           |FROM inc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Mergeable HDR percentile SKETCH TABLES — the quantile twin of the
    // c111 HLL sketch tables: per-DAY log-linear histograms materialize
    // once, any date range answers by bucket-wise count addition, and the
    // union of dailies equals the one-shot histogram EXACTLY (integer
    // buckets — unlike t-digest, whose centroids depend on arrival
    // order). `merge_lossless` pins that identity via a full-outer bucket
    // compare; `within_band` is the same rank-coverage gate as
    // b12_percentiles_hdr, measured against the raw values. Values are
    // floor(value·100) — double×100 is the same IEEE product both
    // engines, floor avoids the round-half convention split.
    Q("c118_hdr_sketch_tables",
      (s, d) => {
        val ev = Tables.events(s, d).select(to_date(col("ts")).as("day"),
          floor(col("value") * 100).cast("long").as("v"))
        // ONE persisted bucketing pass shared by the daily histogram, its
        // one-shot twin and the rank check below (§5 reuse: was 3 events
        // scans, each re-running the bucket kernel); daily + oneshot ride
        // ONE grouping-sets aggregate (§2.4: one exchange where two were).
        // Identical values: daily ≡ groupBy(day,bmin,rep).count and
        // oneshot ≡ groupBy(bmin,rep).count over the same bucketed rows —
        // exactly the two hdrHistogram calls this replaces.
        val b = Dedup.persistOnce(
          Sketch.hdrBuckets(ev, Seq(col("day")), col("v")))
        val gs = b.groupingSets(
            Seq(Seq(col("day"), col("bmin"), col("rep")),
              Seq(col("bmin"), col("rep"))),
            col("day"), col("bmin"), col("rep"))
          .agg(count(lit(1)).as("c"), grouping_id().as("_g"))
        val daily = gs.filter(col("_g") === 0).select("day", "bmin", "rep", "c")
        val oneshot = gs.filter(col("_g") === 4).select("bmin", "rep", "c")
        val merged = Sketch.hdrMerge(daily)
        val mism = merged.alias("m")
          .join(oneshot.alias("o"), Seq("bmin", "rep"), "full_outer")
          .filter(col("m.c").isNull || col("o.c").isNull || col("m.c") =!= col("o.c"))
          .agg(count(lit(1)).as("n_mismatch"))
        val est = Sketch.hdrPercentiles(merged, Seq(0.5, 0.95, 0.99))
        b.select(col("_v").as("v")) // ≡ ev.select(v).filter(v ≥ 1), cached
          .crossJoin(broadcast(est))
          .groupBy("p", "v_bmin", "v_est", "n")
          .agg(sum(when(col("v") <= col("v_est"), 1L).otherwise(0L)).as("cnt_le"),
            sum(when(col("v") < col("v_bmin"), 1L).otherwise(0L)).as("cnt_lt"))
          .crossJoin(broadcast(mism))
          .select(col("p"), col("v_est"),
            (col("cnt_le") >= ceil(col("p") * col("n")) &&
              col("cnt_lt") < ceil(col("p") * col("n"))).as("within_band"),
            (col("n_mismatch") === 0L).as("merge_lossless"))
          .orderBy("p")
      },
      Some("""WITH v0 AS (
             |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             |         CAST(floor(value * 100) AS BIGINT) AS v
             |  FROM events),
             |v AS (SELECT * FROM v0 WHERE v >= 1),
             |b AS (SELECT day, v,
             |        (CAST(1 AS BIGINT) << greatest(length(bin(v)) - 8, 0)) AS pw
             |      FROM v),
             |daily AS (SELECT day, v - (v % pw) AS bmin, v - (v % pw) + pw - 1 AS rep,
             |                 count(*) AS c
             |          FROM b GROUP BY 1, 2, 3),
             |merged AS (SELECT bmin, rep, CAST(sum(c) AS BIGINT) AS c
             |           FROM daily GROUP BY 1, 2),
             |oneshot AS (SELECT bmin, rep, count(*) AS c
             |            FROM (SELECT v - (v % pw) AS bmin, v - (v % pw) + pw - 1 AS rep
             |                  FROM b) GROUP BY 1, 2),
             |mism AS (SELECT count(*) AS n_mismatch
             |         FROM merged m FULL OUTER JOIN oneshot o USING (bmin, rep)
             |         WHERE m.c IS DISTINCT FROM o.c),
             |cum AS (SELECT *, CAST(sum(c) OVER (ORDER BY rep) AS BIGINT) AS cum,
             |               CAST(sum(c) OVER () AS BIGINT) AS n
             |        FROM merged),
             |est AS (SELECT p, min(rep) AS v_est, max(n) AS n
             |        FROM cum CROSS JOIN
             |          (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS p)
             |        WHERE cum >= ceil(p * n)
             |        GROUP BY p),
             |est2 AS (SELECT est.p, est.v_est, est.n, merged.bmin AS v_bmin
             |         FROM est JOIN merged ON merged.rep = est.v_est),
             |gate AS (SELECT p, v_est, n, v_bmin,
             |           (SELECT count(*) FROM v WHERE v.v <= e.v_est) AS cnt_le,
             |           (SELECT count(*) FROM v WHERE v.v < e.v_bmin) AS cnt_lt
             |         FROM est2 e)
             |SELECT p, v_est,
             |       (cnt_le >= ceil(p * n) AND cnt_lt < ceil(p * n)) AS within_band,
             |       (SELECT n_mismatch FROM mism) = 0 AS merge_lossless
             |FROM gate ORDER BY p""".stripMargin)),

    // Theta/KMV sketch intersections — the DIRECT distinct-intersection
    // estimate HLL lacks (c114 got it only via inclusion-exclusion):
    // per-source bigram vocabularies sketch to the k=256 smallest
    // hashes, every pair's shared-sample count below min-theta scales to
    // the estimate. Deterministic hash family → the oracle replays every
    // retained hash, theta, sample count, and the est arithmetic
    // bit-for-bit; the 3/√|sample| band vs the exact intersection is a
    // real assertion (measured ≤0.094 rel error at every SF, bound
    // ≈0.21).
    Q("c121_theta_intersection",
      (s, d) => {
        // hash ONCE (compiled per-doc distinct-gram kernel, one distinct
        // shuffle) and share the (s, h) frame between the sketch build
        // and the exact side — the first cut recomputed the bigram
        // pipeline three times and measured 9.6 s at sf0.1
        val hashed = Dedup.persistOnce(Dedup.fan(
          // fan the gram kernel across cores (guide §2.5 input skew)
          Tables.documents(s, d), col("doc_id"))
          .select(col("source").as("s"),
            explode(graft.functions.TextKernels.wordNgrams(col("text"), 2)).as("g"))
          .select(col("s"),
            graft.functions.Hashing.md5Long60(concat(lit("theta:"), col("g"))).as("h"))
          .distinct())
        val sk = Sketch.thetaSketchesFromHashes(hashed, k = 256)
        val est = Sketch.thetaIntersections(sk, k = 256)
        val exact = hashed.select(col("s").as("sa"), col("h"))
          .join(hashed.select(col("s").as("sb"), col("h")), "h")
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("exact_n"))
        est.join(exact, Seq("sa", "sb"), "left")
          .select(col("sa"), col("sb"), col("kin"), col("est"),
            coalesce(col("exact_n"), lit(0L)).as("exact_n"),
            (abs(col("est") - coalesce(col("exact_n"), lit(0L))) <=
              lit(3.0) * col("est") / sqrt(greatest(col("kin"), lit(1L))))
              .as("within_band"))
          .orderBy("sa", "sb")
      },
      Some {
        val h = graft.functions.Hashing.sqlMd5Long60("'theta:' || g")
        s"""WITH t AS (
           |  SELECT source, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w
           |  FROM documents),
           |e AS (SELECT DISTINCT source AS s,
           |        unnest(list_transform(generate_series(1, len(w) - 1),
           |                              i -> w[i] || ' ' || w[i+1])) AS g
           |      FROM t),
           |hd AS (SELECT DISTINCT s, $h AS h FROM e),
           |sk AS (SELECT s, h FROM hd
           |       QUALIFY row_number() OVER (PARTITION BY s ORDER BY h) <= 256),
           |stats AS (SELECT s, count(*) AS nret, max(h) AS hk FROM sk GROUP BY s),
           |st2 AS (SELECT s, CASE WHEN nret < 256 THEN 1.0
           |                       ELSE CAST(hk + 1 AS DOUBLE) / 1152921504606846976.0
           |                  END AS theta FROM stats),
           |pairs AS (SELECT a.s AS sa, b.s AS sb, least(a.theta, b.theta) AS th
           |          FROM st2 a JOIN st2 b ON a.s < b.s),
           |m AS (SELECT x.s AS sa, y.s AS sb, count(*) AS kin
           |      FROM sk x JOIN sk y ON x.h = y.h AND x.s < y.s
           |                JOIN pairs p ON p.sa = x.s AND p.sb = y.s
           |      WHERE CAST(x.h + 1 AS DOUBLE) / 1152921504606846976.0 <= p.th
           |      GROUP BY 1, 2),
           |xt AS (SELECT a.s AS sa, b.s AS sb, count(*) AS exact_n
           |       FROM hd a JOIN hd b ON a.h = b.h AND a.s < b.s GROUP BY 1, 2)
           |SELECT p.sa, p.sb, COALESCE(m.kin, 0) AS kin,
           |       round(COALESCE(m.kin, 0) / p.th, 4) AS est,
           |       COALESCE(xt.exact_n, 0) AS exact_n,
           |       abs(round(COALESCE(m.kin, 0) / p.th, 4) - COALESCE(xt.exact_n, 0)) <=
           |         3.0 * round(COALESCE(m.kin, 0) / p.th, 4) /
           |           sqrt(greatest(COALESCE(m.kin, 0), 1)) AS within_band
           |FROM pairs p LEFT JOIN m ON m.sa = p.sa AND m.sb = p.sb
           |             LEFT JOIN xt ON xt.sa = p.sa AND xt.sb = p.sb
           |ORDER BY p.sa, p.sb""".stripMargin
      }),

    // SentencePiece PRUNING round (unigramLmPrune): segment with the seed
    // model, drop every multi-char piece outside the top-15 by Viterbi
    // count (singles always survive — coverage), Laplace-re-estimate over
    // the SURVIVORS, segment again. The oracle unrolls BOTH DPs plus the
    // prune filter and must agree on the surviving piece SET and both
    // count columns — the c112 machinery with a LIMIT-ed survivor CTE
    // between the rounds.
    Q("c119_unigram_lm_prune",
      (s, d) => TextAnalysis.unigramLmPrune(Tables.documents(s, d), col("text"),
        targetMulti = 15, minCount = 5, maxWordLen = 12, maxPieceLen = 4),
      Some {
        def dpBlock(sfx: String, lpName: String): String = spDpBlock(sfx, lpName)
        s"""WITH $toksCte,
           |wt AS MATERIALIZED (SELECT tok AS word, count(*) AS wcnt
           |       FROM (SELECT unnest(w) AS tok FROM toks)
           |       WHERE len(tok) <= 12 GROUP BY tok),
           |subs AS (SELECT wcnt, unnest(flatten(list_transform(generate_series(1, len(word)), st ->
           |           list_transform(generate_series(1, least(4, len(word) - st + 1)), l ->
           |             substr(word, st, l))))) AS piece
           |         FROM wt),
           |pieces AS MATERIALIZED (SELECT piece, CAST(sum(wcnt) AS BIGINT) AS occ FROM subs GROUP BY piece
           |           HAVING sum(wcnt) >= 5 OR len(piece) = 1),
           |lp1 AS MATERIALIZED (SELECT piece, round(ln(CAST(occ AS DOUBLE) / t.tot), 6) AS logp
           |       FROM pieces CROSS JOIN (SELECT CAST(sum(occ) AS DOUBLE) AS tot FROM pieces) t),
           |${dpBlock("x1", "lp1")},
           |surv AS MATERIALIZED (
           |  SELECT piece FROM pieces WHERE len(piece) = 1
           |  UNION
           |  SELECT piece FROM (
           |    SELECT piece FROM mc_x1 WHERE len(piece) > 1 AND vit > 0
           |    ORDER BY vit DESC, piece LIMIT 15)),
           |sstat AS (SELECT (SELECT CAST(sum(COALESCE(m.vit, 0)) AS DOUBLE)
           |                  FROM surv s LEFT JOIN mc_x1 m ON m.piece = s.piece) AS totv,
           |                 (SELECT CAST(count(*) AS DOUBLE) FROM surv) AS np),
           |lp2 AS MATERIALIZED (
           |  SELECT s.piece,
           |         round(ln((CAST(COALESCE(m.vit, 0) AS DOUBLE) + 1.0) / (t.totv + t.np)), 6) AS logp
           |  FROM surv s LEFT JOIN mc_x1 m ON m.piece = s.piece CROSS JOIN sstat t),
           |${dpBlock("x2", "lp2")}
           |SELECT s.piece,
           |       CAST(COALESCE(m1.vit, 0) AS BIGINT) AS vit_pre,
           |       CAST(COALESCE(m2.vit, 0) AS BIGINT) AS vit_post,
           |       round(CAST(COALESCE(m2.vit, 0) AS DOUBLE) / t2.tot, 6) AS new_p
           |FROM surv s
           |LEFT JOIN mc_x1 m1 ON m1.piece = s.piece
           |LEFT JOIN mc_x2 m2 ON m2.piece = s.piece
           |CROSS JOIN (SELECT CAST(sum(vit) AS DOUBLE) AS tot FROM mc_x2) t2
           |ORDER BY s.piece""".stripMargin
      }),

    // ExactSubstr MIN-RUN scrub (Lee et al. 2022's actual rule: remove
    // duplicated substrings of >= L tokens, not any duplicated gram — the
    // c31 any-gram scrub over-removes common phrases). Covered positions
    // merge into maximal consecutive runs per doc (compiled
    // gaps-and-islands kernel over a per-doc-bounded list); only runs of
    // >= 8 tokens are scrubbed. At sf0.01 the corpus has ~450 covered
    // islands of length 3-7 (kept) vs ~1000 of >= 8 (scrubbed), so the
    // row exercises both outcomes. Oracle replays the islands with a
    // row_number gaps-and-islands + windowed run length.
    Q("c122_dup_run_scrub",
      (s, d) => Dedup.scrubDuplicateRuns(Tables.documents(s, d),
        col("doc_id"), col("text"), n = 3, minDocs = 2, minRun = 8)
        .orderBy("doc_id"),
      Some(
        s"""WITH $toksCte,
           |occ AS (
           |  SELECT doc_id, i AS pos,
           |         ${Hashing.sqlMd5Long60("list_aggregate(w[i:i+2], 'string_agg', ' ')")} AS gh
           |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)),
           |dup AS (
           |  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM occ)
           |  GROUP BY gh HAVING count(*) >= 2),
           |cov AS (
           |  SELECT DISTINCT doc_id, pos + o AS cp
           |  FROM occ JOIN dup USING (gh) CROSS JOIN range(0, 3) r(o)),
           |isl AS (
           |  SELECT doc_id, cp,
           |         cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS grp
           |  FROM cov),
           |runs AS (
           |  SELECT doc_id, cp FROM (
           |    SELECT doc_id, cp, count(*) OVER (PARTITION BY doc_id, grp) AS rl FROM isl)
           |  WHERE rl >= 8),
           |pt AS (
           |  SELECT doc_id, unnest(generate_series(1, len(w))) AS tp, w, len(w) AS n_tokens
           |  FROM toks),
           |kept AS (
           |  SELECT pt.doc_id, tp, w[tp] AS tok, n_tokens
           |  FROM pt LEFT JOIN runs ON pt.doc_id = runs.doc_id AND tp = cp
           |  WHERE cp IS NULL)
           |SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS scrubbed,
           |       CAST(n_tokens AS INT) AS n_tokens, count(*) AS n_kept
           |FROM kept GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin)),

    // Heaps'-law vocabulary-growth curve: doc/token/vocab counts at 8
    // doc_id-cutoff prefixes plus the local Heaps exponent between
    // consecutive checkpoints. The vocabulary pass is ONE
    // (tok -> min(doc_id)) hash agg — prefixes re-count nothing; the
    // checkpoint replication broadcasts 8 cutoff rows against the
    // (doc_id, token-count) projection and the vocab TABLE (never raw
    // occurrences). Beta is 8x8-row broadcast arithmetic — no windows.
    Q("c123_heaps_curve",
      (s, d) => TextAnalysis.heapsCurve(Tables.documents(s, d),
        col("doc_id"), col("text"), k = 8),
      Some(
        s"""WITH $toksCte,
           |mx AS (SELECT max(doc_id) AS m FROM documents),
           |ck AS (SELECT j AS ckpt, (m * j) // 8 AS cutoff
           |       FROM mx CROSS JOIN range(1, 9) r(j)),
           |dt AS (SELECT doc_id, len(w) AS tc FROM toks),
           |ta AS (SELECT ckpt, cutoff, count(*) AS n_docs,
           |              CAST(sum(tc) AS BIGINT) AS n_tokens
           |       FROM ck JOIN dt ON doc_id <= cutoff GROUP BY 1, 2),
           |fst AS (SELECT t, min(doc_id) AS fd
           |        FROM (SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY t),
           |va AS (SELECT ckpt, count(*) AS vocab
           |       FROM ck JOIN fst ON fd <= cutoff GROUP BY 1),
           |pts AS (SELECT ta.ckpt, cutoff, n_docs, n_tokens, vocab
           |        FROM ta JOIN va USING (ckpt))
           |SELECT a.ckpt, a.cutoff, a.n_docs, a.n_tokens, a.vocab,
           |       CASE WHEN b.ckpt IS NULL OR a.n_tokens = b.n_tokens THEN NULL
           |            ELSE round(ln(CAST(a.vocab AS DOUBLE) / b.vocab) /
           |                       ln(CAST(a.n_tokens AS DOUBLE) / b.n_tokens), 6)
           |       END AS beta
           |FROM pts a LEFT JOIN pts b ON b.ckpt = a.ckpt - 1
           |ORDER BY a.ckpt""".stripMargin)),

    // Asymmetric CONTAINMENT pairs (Broder's containment coefficient over
    // winnowing fingerprints): the doc-inside-doc detector — a short doc
    // quoted inside a long one has near-zero Jaccard (MinHash-LSH never
    // pairs it) but containment ~= 1. Shares c58's fingerprint shape; the
    // pair join fans out only on shared fingerprints, sizes join after
    // the minShared prune. Spec demonstrates the LSH-miss/containment-hit
    // case on a constructed contained doc.
    Q("c124_containment_pairs",
      (s, d) => Dedup.containmentPairs(Tables.documents(s, d), col("doc_id"),
        col("text"), n = 5, w = 4, minShared = 2, minContain = 0.5),
      Some(s"""WITH $toksCte,
             |hs AS (SELECT doc_id,
             |         list_transform(generate_series(1, len(w)-4),
             |           i -> ${Hashing.sqlMd5Long60("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]")}) AS h
             |       FROM toks WHERE len(w) >= 8),
             |fp AS (SELECT DISTINCT doc_id,
             |         unnest(list_transform(generate_series(1, len(h)-3),
             |           i -> list_min(h[i:i+3]))) AS f
             |       FROM hs),
             |fpk AS (SELECT fp.doc_id, fp.f FROM fp
             |        JOIN (SELECT f FROM fp GROUP BY f HAVING count(*) <= 1000) k USING (f)),
             |sz AS (SELECT doc_id, count(*) AS n_fp FROM fpk GROUP BY 1),
             |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
             |       FROM fpk a JOIN fpk b ON a.f = b.f AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT doc_a, doc_b, n_shared, sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
             |       round(CAST(n_shared AS DOUBLE) / sa.n_fp, 6) AS contain_a,
             |       round(CAST(n_shared AS DOUBLE) / sb.n_fp, 6) AS contain_b
             |FROM sh JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
             |WHERE greatest(round(CAST(n_shared AS DOUBLE) / sa.n_fp, 6),
             |               round(CAST(n_shared AS DOUBLE) / sb.n_fp, 6)) >= 0.5
             |ORDER BY n_shared DESC, doc_a, doc_b""".stripMargin)),

    // Cross-file AUDIO near-dup — the re-mastered-copy detector closing
    // the multimodal near-dup family (image c78, video c100): energy-
    // contour perceptual hash (bit f = E_f > E_{f+1}, level-invariant
    // under monotone gain) over real-codec WAVs, pairs via the banded
    // Hamming machinery. Fixture plants a -1 dB re-leveled twin per 97th
    // doc (md5-mixed samples: unrelated same-length contours measured
    // >= 12 bits apart, twins 0 — Hamming <= 3 separates cleanly).
    Q("c125_audio_neardup",
      (s, d) => {
        implicit val sp: SparkSession = s
        val h = Fixtures.audioHash(s, d)
        Dedup.hammingPairs64(h.select(col("doc_id"), col("ehash")), "ehash", maxDist = 3)
          .join(h.select(col("doc_id").as("doc_a"), col("n_frames").as("nf")), "doc_a")
          .join(h.select(col("doc_id").as("doc_b"), col("n_frames").as("nf_b")), "doc_b")
          .filter(col("nf") === col("nf_b"))
          .select(col("doc_a"), col("doc_b"), col("hamming"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ids AS (SELECT doc_id FROM documents),
             |base AS (
             |  SELECT doc_id, i,
             |         ${Hashing.sqlMd5Long60("'aud:' || doc_id || ':' || i")} % 65536 - 32768 AS s
             |  FROM ids, unnest(generate_series(0, CAST(96 + doc_id % 32 AS INT) - 1)) AS u(i)),
             |sm AS (SELECT doc_id, i, s FROM base
             |       UNION ALL
             |       SELECT doc_id + 10000000, i, s - (s // 8) FROM base WHERE doc_id % 97 = 0),
             |fe AS (SELECT doc_id, i // 2 AS f, CAST(sum(s * s) AS BIGINT) AS e, count(*) AS k
             |       FROM sm GROUP BY 1, 2),
             |ff AS (SELECT doc_id, f, e FROM fe WHERE k = 2),
             |hh AS (SELECT a.doc_id,
             |              CAST(COALESCE(sum(CASE WHEN a.e > b.e
             |                   THEN CAST(CAST(1 AS BIGINT) << CAST(a.f AS INT) AS HUGEINT)
             |                   ELSE 0 END), 0) AS BIGINT) AS ehash
             |       FROM ff a JOIN ff b ON b.doc_id = a.doc_id AND b.f = a.f + 1
             |       WHERE a.f < 63
             |       GROUP BY a.doc_id),
             |nf AS (SELECT doc_id, count(*) AS n_frames FROM ff GROUP BY 1)
             |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             |       CAST(bit_count(xor(x.ehash, y.ehash)) AS INT) AS hamming
             |FROM hh x JOIN hh y ON y.doc_id > x.doc_id
             |JOIN nf na ON na.doc_id = x.doc_id JOIN nf nb ON nb.doc_id = y.doc_id
             |WHERE na.n_frames = nb.n_frames
             |  AND bit_count(xor(x.ehash, y.ehash)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Sequency-domain (Walsh-Hadamard) band features per audio frame —
    // the spectral step of an audio pipeline with an INTEGER-EXACT
    // transform (a production MFCC swaps the DFT in here; Walsh's +/-1
    // coefficients make the oracle replay bit-exact where cos() could
    // differ by an ulp across engines). Real JDK codec parse; frames of
    // 16 over the c75 fixture; sign = parity of popcount(i AND k).
    Q("c128_audio_walsh",
      (s, d) => {
        implicit val sp: SparkSession = s
        Multimodal.audioWalshBands(
          Multimodal.encodeTestWavs(Tables.documents(s, d)),
          frameSize = 16, bands = Seq(1, 5, 15))
          .orderBy("doc_id", "frame", "k")
      },
      Some("""WITH ids AS (SELECT doc_id FROM documents),
             |sm AS (
             |  SELECT doc_id, i, i // 16 AS f, i % 16 AS j,
             |         ((doc_id * 31 + i * 7) % 65536) - 32768 AS s
             |  FROM ids, unnest(generate_series(0, CAST(64 + doc_id % 64 AS INT) - 1)) AS u(i)),
             |full_f AS (SELECT doc_id, f FROM sm GROUP BY 1, 2 HAVING count(*) = 16),
             |w AS (
             |  SELECT sm.doc_id, CAST(sm.f AS INT) AS frame, CAST(kk AS INT) AS k,
             |         CAST(sum(CASE WHEN bit_count(j & kk) % 2 = 1 THEN -s ELSE s END) AS BIGINT) AS w
             |  FROM sm JOIN full_f ON full_f.doc_id = sm.doc_id AND full_f.f = sm.f
             |       CROSS JOIN (VALUES (1), (5), (15)) t(kk)
             |  GROUP BY 1, 2, 3)
             |SELECT doc_id, frame, k, w, w * w AS power
             |FROM w ORDER BY doc_id, frame, k""".stripMargin)),

    // WordPiece training rounds (the BERT tokenizer): bpeTrain's loop
    // with the argmax swapped to the likelihood-gain score
    // count(ab)/(count(a)*count(b)) over CURRENT symbol counts — prefers
    // pairs whose parts rarely occur apart, vs BPE's raw frequency.
    // Oracle unrolls all 6 rounds (the c67 machinery + a per-round
    // symbol-count CTE and score argmax); the trainer trio (BPE /
    // unigram-LM / WordPiece) is complete.
    Q("c126_wordpiece_train",
      (s, d) => TextAnalysis.wordPieceTrain(Tables.documents(s, d), col("text"),
        nMerges = 6).orderBy("rank"),
      Some {
        val n = 6
        val iters = (1 to n).map { i =>
          val prev = if (i == 1) "w0" else s"w${i - 1}"
          s"""s$i AS MATERIALIZED (
             |  SELECT sym, CAST(sum(freq) AS BIGINT) AS sf FROM (
             |    SELECT freq, unnest(regexp_extract_all(w, '<([^<>]*)>', 1)) AS sym
             |    FROM $prev)
             |  GROUP BY sym),
             |p$i AS MATERIALIZED (
             |  SELECT pair, CAST(sum(freq) AS BIGINT) AS pf FROM (
             |    SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
             |             j -> s[j] || ' ' || s[j + 1])) AS pair
             |    FROM (SELECT freq, regexp_extract_all(w, '<([^<>]*)>', 1) AS s FROM $prev)
             |    WHERE len(s) >= 2)
             |  GROUP BY pair),
             |b$i AS MATERIALIZED (
             |        SELECT pair, pf, pf / (CAST(sa.sf AS DOUBLE) * sb.sf) AS score
             |        FROM p$i JOIN s$i sa ON sa.sym = split_part(pair, ' ', 1)
             |                 JOIN s$i sb ON sb.sym = split_part(pair, ' ', 2)
             |        ORDER BY score DESC, pair LIMIT 1),
             |w$i AS MATERIALIZED (SELECT freq,
             |          replace(w, '<' || split_part(b$i.pair, ' ', 1) ||
             |                     '><' || split_part(b$i.pair, ' ', 2) || '>',
             |                  '<' || replace(b$i.pair, ' ', '') || '>') AS w
             |        FROM $prev, b$i),
             |t$i AS (SELECT CAST(sum(freq * (len(w) - len(replace(w, '<', '')))) AS BIGINT) AS nt
             |        FROM w$i)""".stripMargin
        }.mkString(",\n")
        val unions = (1 to n).map(i =>
          s"SELECT $i AS rank, b$i.pair, b$i.pf AS freq, round(b$i.score, 9) AS score, t$i.nt AS n_tokens_after FROM b$i, t$i")
          .mkString("\n|UNION ALL ").stripMargin
        s"""WITH $toksCte,
           |tf AS (SELECT unnest(w) AS word FROM toks),
           |w0 AS (SELECT count(*) AS freq, regexp_replace(word, '(.)', '<\\1>', 'g') AS w
           |       FROM tf GROUP BY word),
           |$iters
           |$unions
           |ORDER BY rank""".stripMargin
      }),

    // The FULL SentencePiece pruning loop (c119 iterated down a shrinking
    // target schedule, the real trainer's shape: prune a fraction per
    // round toward the target vocab): 15 -> 8 multi-char survivors over
    // two prune rounds + a final Viterbi. Oracle unrolls THREE DP blocks
    // with a survivor/Laplace CTE between each pair (the shared spDpBlock
    // machinery, everything MATERIALIZED) and must agree on the final
    // surviving SET and both count columns.
    Q("c127_unigram_lm_prune_loop",
      (s, d) => TextAnalysis.unigramLmPruneLoop(Tables.documents(s, d), col("text"),
        targets = Seq(15, 8), minCount = 5, maxWordLen = 12, maxPieceLen = 4),
      Some {
        val targets = Seq(15, 8)
        val R = targets.length
        val rounds = (1 to R).map { r =>
          val t = targets(r - 1)
          val mc = s"mc_x$r"
          s"""surv$r AS MATERIALIZED (
             |  SELECT piece FROM pieces WHERE len(piece) = 1
             |  UNION
             |  SELECT piece FROM (
             |    SELECT piece FROM $mc WHERE len(piece) > 1 AND vit > 0
             |    ORDER BY vit DESC, piece LIMIT $t)),
             |sstat$r AS (SELECT (SELECT CAST(sum(COALESCE(m.vit, 0)) AS DOUBLE)
             |                    FROM surv$r s LEFT JOIN $mc m ON m.piece = s.piece) AS totv,
             |                   (SELECT CAST(count(*) AS DOUBLE) FROM surv$r) AS np),
             |lp${r + 1} AS MATERIALIZED (
             |  SELECT s.piece,
             |         round(ln((CAST(COALESCE(m.vit, 0) AS DOUBLE) + 1.0) / (t.totv + t.np)), 6) AS logp
             |  FROM surv$r s LEFT JOIN $mc m ON m.piece = s.piece CROSS JOIN sstat$r t),
             |${spDpBlock(s"x${r + 1}", s"lp${r + 1}")}""".stripMargin
        }.mkString(",\n")
        s"""WITH $toksCte,
           |wt AS MATERIALIZED (SELECT tok AS word, count(*) AS wcnt
           |       FROM (SELECT unnest(w) AS tok FROM toks)
           |       WHERE len(tok) <= 12 GROUP BY tok),
           |subs AS (SELECT wcnt, unnest(flatten(list_transform(generate_series(1, len(word)), st ->
           |           list_transform(generate_series(1, least(4, len(word) - st + 1)), l ->
           |             substr(word, st, l))))) AS piece
           |         FROM wt),
           |pieces AS MATERIALIZED (SELECT piece, CAST(sum(wcnt) AS BIGINT) AS occ FROM subs GROUP BY piece
           |           HAVING sum(wcnt) >= 5 OR len(piece) = 1),
           |lp1 AS MATERIALIZED (SELECT piece, round(ln(CAST(occ AS DOUBLE) / t.tot), 6) AS logp
           |       FROM pieces CROSS JOIN (SELECT CAST(sum(occ) AS DOUBLE) AS tot FROM pieces) t),
           |${spDpBlock("x1", "lp1")},
           |$rounds
           |SELECT s.piece,
           |       CAST(COALESCE(m1.vit, 0) AS BIGINT) AS vit_pre,
           |       CAST(COALESCE(mf.vit, 0) AS BIGINT) AS vit_post,
           |       round(CAST(COALESCE(mf.vit, 0) AS DOUBLE) / tf.tot, 6) AS new_p
           |FROM surv$R s
           |LEFT JOIN mc_x1 m1 ON m1.piece = s.piece
           |LEFT JOIN mc_x${R + 1} mf ON mf.piece = s.piece
           |CROSS JOIN (SELECT CAST(sum(vit) AS DOUBLE) AS tot FROM mc_x${R + 1}) tf
           |ORDER BY s.piece""".stripMargin
      }),

    // CDC day-sketch composition (the SketchTable kernels as a BATCH
    // row): per day of the mutation log — upsert count, payload-bucket
    // count, total payload mass (exact here: payloads < 2^k so HDR
    // buckets are width-1), exact distinct keys touched, and the HLL
    // estimate's 3-rsd band check (the c111 TRUE pattern — DuckDB has
    // no HLL to replay, the exact count adjudicates the band). This is
    // the one-shot twin the StreamingSpec proves equal to N incremental
    // foreachBatch updates, so a green row here pins the streaming
    // table's numbers too.
    Q("c132_cdc_day_sketches",
      (s, d) => {
        // persist the parsed good-rows frame: the hdr, hll and exact
        // passes below each re-ran the events scan + changelog transform
        // (§5 reuse — one scan, three cached consumers)
        val good = Dedup.persistOnce(graft.ChangeLog.readEvents(s, d)
          .filter(!graft.streaming.Pipeline.isMalformed))
        val (hdr, hll) = graft.streaming.SketchTable.oneShot(good)
        val lgK = 12
        val rsd = 1.04 / math.sqrt((1 << lgK).toDouble)
        val hdrAgg = hdr.groupBy("day").agg(
          sum("c").as("n_upserts"),
          count(lit(1)).as("n_buckets"),
          sum(col("bmin") * col("c")).as("payload_mass"))
        val est = hll.select(col("day"), hll_sketch_estimate(col("sk")).as("_est"))
        val exact = good.groupBy(to_date(col("ts")).as("day"))
          .agg(count_distinct(col("row_key")).as("n_exact"))
        hdrAgg.join(est, "day").join(exact, "day")
          .select(col("day"), col("n_upserts"), col("n_buckets"),
            col("payload_mass"), col("n_exact"),
            (abs(col("_est") - col("n_exact")) <=
              lit(3.0) * lit(rsd) * col("n_exact")).as("within_band"))
          .orderBy("day")
      },
      Some("""WITH u AS (
             |  SELECT CAST(user_id AS VARCHAR) AS rk, CAST(ts AS DATE) AS day,
             |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             |         event_type, value, props
             |  FROM events),
             |p AS (SELECT day, greatest(1,
             |        len(event_type) + len(printf('%.2f', value)) +
             |        coalesce(len(json_extract_string(props, '$.k')), 0)) AS pay
             |      FROM u WHERE op = 'U'),
             |d2 AS (SELECT day, count(*) AS n_upserts,
             |              count(DISTINCT pay) AS n_buckets,
             |              CAST(sum(pay) AS BIGINT) AS payload_mass
             |       FROM p GROUP BY day),
             |d1 AS (SELECT day, count(DISTINCT rk) AS n_exact FROM u GROUP BY day)
             |SELECT day, n_upserts, n_buckets, payload_mass, n_exact,
             |       TRUE AS within_band
             |FROM d2 JOIN d1 USING (day) ORDER BY day""".stripMargin)),
  )
}
