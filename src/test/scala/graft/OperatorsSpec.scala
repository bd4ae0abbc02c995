package graft

import graft.dsl.EsDsl
import graft.ext.{Dedup, Sessionize, Similarity, TextAnalysis}
import graft.multimodal.Multimodal
import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite with SparkTestBase {

  private lazy val sp = spark

  test("transform flatten: family erasure + last-wins, no shuffle") {
    val df = mutDf(Seq(mut("k", "U", "2024-01-01 00:00:00", 1,
      ("f1", "q", "a"), ("f2", "q", "b"), ("f1", "r", "c"))))
    val doc = Transform.toDocs(df).select("doc.info").collect().head.getMap[String, String](0)
    assert(doc.toMap == Map("q" -> "b", "r" -> "c"))
    val plan = Transform.toDocs(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "flatten must be narrow")
  }

  test("as-of join: backward match, ties, and no-match null") {
    import sp.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
      .toDF("user_id", "t", "event_id")
    val right = Seq((1L, 5L, 900L), (1L, 15L, 901L), (3L, 1L, 902L))
      .toDF("user_id", "t", "rid")
    val out = AsOfJoin.backward(left, right, Seq("user_id"), "t", "t", Seq("rid"))
      .orderBy("event_id").collect()
    assert(out.map(r => Option(r.getAs[Any]("asof_rid"))).toSeq ==
      Seq(Some(900L), Some(901L), None))
  }

  test("as-of join: right row at exactly left ts matches (<= semantics)") {
    import sp.implicits._
    val left = Seq((1L, 10L, 1L)).toDF("user_id", "t", "event_id")
    val right = Seq((1L, 10L, 7L)).toDF("user_id", "t", "rid")
    val out = AsOfJoin.backward(left, right, Seq("user_id"), "t", "t", Seq("rid")).collect()
    assert(out.head.getAs[Long]("asof_rid") == 7L)
  }

  test("as-of join: equal-ts right duplicates resolved by tiebreak; reserved names rejected") {
    import sp.implicits._
    val left = Seq((1L, 10L, 1L)).toDF("user_id", "t", "event_id")
    val right = Seq((1L, 10L, 7L, 1L), (1L, 10L, 8L, 2L), (1L, 10L, 6L, 0L))
      .toDF("user_id", "t", "rid", "seq")
    val out = AsOfJoin.backward(left, right, Seq("user_id"), "t", "t", Seq("rid"),
      rightTiebreak = Some("seq")).collect()
    assert(out.head.getAs[Long]("asof_rid") == 8L) // highest seq wins
    val bad = left.withColumnRenamed("event_id", "_side")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.backward(bad, right, Seq("user_id"), "t", "t", Seq("rid"))
    }
    assert(e.getMessage.contains("_side"))
  }

  test("EsDsl bool: minimum_should_match") {
    import sp.implicits._
    val df = Seq(("R", "F"), ("R", "O"), ("N", "O")).toDF("a", "b")
    val n = df.filter(EsDsl.bool(
      should = Seq(col("a") === "R", col("b") === "F"), minimumShouldMatch = 2)).count()
    assert(n == 1)
  }

  test("EsDsl wildcard translates ES syntax") {
    import sp.implicits._
    val df = Seq("red bolt", "blue ring", "red ring").toDF("s")
    assert(df.filter(EsDsl.wildcard(col("s"), "red*")).count() == 2)
    assert(df.filter(EsDsl.wildcard(col("s"), "red ?ing")).count() == 1)
  }

  test("approx (t-digest-like) percentiles within tolerance of exact") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val row = li.agg(
      expr("percentile(l_quantity, array(0.25, 0.5, 0.75, 0.95))").as("ex"),
      expr("percentile_approx(l_quantity, array(0.25, 0.5, 0.75, 0.95), 10000)").cast("array<double>").as("ap"))
      .collect().head
    val ex = row.getSeq[Double](0); val ap = row.getSeq[Double](1)
    ex.zip(ap).foreach { case (e, a) =>
      assert(math.abs(a - e) / math.max(e, 1e-9) < 0.05, s"approx $a vs exact $e")
    }
  }

  test("cardinality approx within rsd of exact") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val exact = li.select(count_distinct(col("l_partkey"))).collect().head.getLong(0).toDouble
    val approx = li.select(EsDsl.cardinality(col("l_partkey"), 0.05)).collect().head.getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.15)
  }

  test("wordNgrams guards short docs") {
    import sp.implicits._
    val df = Seq("one two", "a b c d").toDF("text")
    val grams = df.select(TextAnalysis.wordNgrams(TextAnalysis.tokens(col("text")), 3).as("g"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(grams == Seq(Seq.empty, Seq("a b c", "b c d")))
  }

  test("simhash of identical docs is identical; banded pairs find them") {
    import sp.implicits._
    val df = Seq((1L, "spark merge join window batch"), (2L, "spark merge join window batch"),
      (3L, "totally different content here entirely")).toDF("doc_id", "text")
    val sig = Dedup.simhash(df, col("doc_id"), col("text"))
    val sigs = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val pairs = Dedup.simhashPairs(sig, maxDist = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getInt(2) == 0))
  }

  test("hammingPairs64: hot-band refinement is exact vs brute force") {
    import sp.implicits._
    // 40 hashes ALL sharing band 0 == 0 (low 16 bits zero) — a hot band at
    // hotBandCap = 8 — with pseudo-random high bits, plus planted
    // near-pairs at distance 1..3 and an identical-hash triple (intra path)
    val rng = new scala.util.Random(7)
    val base = (0 until 40).map(i => (i.toLong, rng.nextLong() << 16))
    val planted = Seq(
      (100L, base(3)._2 ^ (1L << 20)),                              // dist 1
      (101L, base(7)._2 ^ (1L << 33) ^ (1L << 50)),                 // dist 2
      (102L, base(11)._2 ^ (1L << 17) ^ (1L << 40) ^ (1L << 63)),   // dist 3
      (103L, base(0)._2), (104L, base(0)._2))                       // dist 0
    val sig = (base ++ planted).toDF("doc_id", "ahash")
    def brute(maxDist: Int) = {
      val rows = (base ++ planted)
      (for { a <- rows; b <- rows if a._1 < b._1
             d = java.lang.Long.bitCount(a._2 ^ b._2) if d <= maxDist }
        yield (a._1, b._1, d)).toSet
    }
    for (maxDist <- Seq(0, 1, 3)) {
      val got = Dedup.hammingPairs64(sig, "ahash", maxDist = maxDist, hotBandCap = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute(maxDist), s"maxDist=$maxDist mismatch")
    }
  }

  test("hammingIncremental64: equals full recompute, hot standing bands forced") {
    import sp.implicits._
    // standing corpus all sharing band 0 == 0 (hot at cap 8); batch mixes
    // an exact dup, near-dups at dist 1/3, and a non-match
    val rng = new scala.util.Random(11)
    val standing = (0 until 30).map(i => (i.toLong, rng.nextLong() << 16))
    val batch = Seq(
      (100L, standing(4)._2),
      (101L, standing(9)._2 ^ (1L << 37)),
      (102L, rng.nextLong() << 16),
      (103L, standing(2)._2 ^ (1L << 17) ^ (1L << 52) ^ (1L << 63)))
    val got = Dedup.hammingIncremental64(
        standing.toDF("doc_id", "ahash"), batch.toDF("doc_id", "ahash"),
        "ahash", maxDist = 3, hotBandCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val expected = batch.map { case (id, h) =>
      val n = standing.count(s => java.lang.Long.bitCount(s._2 ^ h) <= 3).toLong
      (id, n, n == 0L)
    }.toSet
    assert(got == expected)
  }

  test("hammingClusters64: component labels match CC over the pair list") {
    import sp.implicits._
    // two near-dup chains (0-1-2 via distance-2 hops, 10-11 identical)
    // plus isolated docs
    val sig = Seq(
      (0L, 0x00L), (1L, 0x03L), (2L, 0x0FL),       // 0~1 (d2), 1~2 (d2), 0~2 d4 — chain
      (10L, 0xF0F0L), (11L, 0xF0F0L),              // identical
      (20L, 0x7777777700000000L)                   // isolated
    ).toDF("doc_id", "ahash")
    val clusters = Dedup.hammingClusters64(sig, "ahash", maxDist = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("cosine: orthogonal and identical vectors") {
    import sp.implicits._
    val df = Seq((Array(1f, 0f), Array(0f, 1f), Array(1f, 0f))).toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("ab"),
      Similarity.cosine(col("a"), col("c")).as("ac")).collect().head
    assert(math.abs(r.getDouble(0)) < 1e-12 && math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("banded embedding near-dup: no all-pairs product, subset of exact with measured recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val banded = Similarity.embeddingNearDupsBanded(e, 0.45)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs product in plan:\n$plan")
    val got = banded.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Similarity.embeddingNearDups(e, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.subsetOf(brute), "banded emitted a pair the exact op does not")
    // deterministic data + deterministic planes → recall is a constant of
    // the fixture: 5/7 here, 13/14 at sf0.01 — the LSH curve at cos≈0.45
    // (see Similarity scaladoc; at near-dup thresholds 0.8+ recall ≈ 1)
    assert(got.size == 5 && brute.size == 7,
      s"recall changed: ${got.size}/${brute.size}")
  }

  test("banded near-dup property: subset of brute for random vector sets") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val sp = spark
    import sp.implicits._
    val genVecs: Gen[List[Array[Float]]] = Gen.chooseNum(8, 40).flatMap { n =>
      Gen.listOfN(n, Gen.listOfN(16, Gen.chooseNum(-1.0f, 1.0f)).map(_.toArray))
    }
    val prop = Prop.forAll(genVecs) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      def pairs(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val banded = pairs(Similarity.embeddingNearDupsBanded(df, 0.3, nBits = 24, bandBits = 4, dim = 16))
      val brute = pairs(Similarity.embeddingNearDups(df, 0.3))
      banded.subsetOf(brute)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("SignBands kernel matches a driver-side recomputation of the planes") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(25)
    val planes = graft.functions.VecOps.signPlanes(60, 64)
    e.select(col("vec_id"), col("embedding"),
        graft.functions.VecOps.signBands(col("embedding"), 60, 5, 64).as("bands"))
      .collect().foreach { r =>
        val emb = r.getSeq[Float](1)
        val expect = new Array[Int](12)
        for (k <- 0 until 60) {
          var acc = 0.0
          for (j <- 0 until 64) acc += planes(k * 64 + j) * emb(j).toDouble
          if (acc >= 0) expect(k / 5) |= (1 << (k % 5))
        }
        assert(r.getSeq[Int](2).toSeq == expect.toSeq, s"vec ${r.getLong(0)}")
      }
  }

  test("QuantizeInt8 kernel matches the HOF formulation bit-for-bit") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (scaleH, qH) = HofTwins.quantizeInt8Hof(col("embedding"))
    val hof = e.select(col("vec_id"), scaleH.as("scale"), qH.as("q"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2).toSeq)).toSeq
    val ker = e.select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("z"))
      .select(col("vec_id"), col("z.scale"), col("z.q"), col("z.q_sum"), col("z.q_min"), col("z.q_max"))
      .orderBy("vec_id").collect()
    assert(ker.map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2).toSeq)).toSeq == hof)
    // stats agree with the array they summarize
    ker.foreach { r =>
      val q = r.getSeq[Int](2)
      assert(r.getLong(3) == q.map(_.toLong).sum && r.getInt(4) == q.min && r.getInt(5) == q.max)
    }
  }

  test("sessionize: gap splits sessions") {
    import sp.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L), (1L, ts("2024-01-01 00:10:00"), 2L),
      (1L, ts("2024-01-01 01:00:00"), 3L), (2L, ts("2024-01-01 00:00:00"), 4L))
      .toDF("user_id", "ts", "event_id")
    val stats = Sessionize.userStats(df, gapMinutes = 30).orderBy("user_id").collect()
    assert(stats(0).getAs[Long]("n_sessions") == 2 && stats(0).getAs[Long]("n_events") == 3)
    assert(stats(1).getAs[Long]("n_sessions") == 1)
  }

  test("multimodal: real PNG/JPEG/GIF header bytes parse to true dimensions") {
    import graft.multimodal.Multimodal.parseRealHeader
    def hex(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // PNG: 640x480
    val png = hex("89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 08 06 000000")
    assert(parseRealHeader(png).contains((640, 480, "png")))
    // JPEG: SOI, APP0 (16 bytes), SOF0 with height=0x0100=256, width=0x0200=512
    val jpg = hex("FFD8 FFE0 0010 4A46494600 0101 00 0048 0048 0000" +
      "FFC0 0011 08 0100 0200 03 01 2200 02 1101 03 1101")
    assert(parseRealHeader(jpg).contains((512, 256, "jpeg")))
    // GIF89a: 320x200 little-endian
    val gif = hex("474946383961 4001 C800 F7 00 00")
    assert(parseRealHeader(gif).contains((320, 200, "gif")))
    // junk (md5-like) does not parse → stub fallback path
    assert(parseRealHeader(Array.fill[Byte](16)(0x42)).isEmpty)
    // truncated JPEG with no SOF → None
    assert(parseRealHeader(hex("FFD8 FFE0 0004 0000")).isEmpty)
  }

  test("multimodal: mapPartitions stub decode == expression twin") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val payloads = Multimodal.withFakePayload(docs, "doc_id", "text")
    implicit val s2: org.apache.spark.sql.SparkSession = sp
    val viaMap = Multimodal.decodeMeta(payloads).toDF().orderBy("doc_id").collect().toSeq
    val viaExpr = Multimodal.decodeMetaExpr(payloads).orderBy("doc_id").collect().toSeq
    assert(viaMap == viaExpr)
  }

  test("multimodal: ImageIO pixel decode round-trips the analytic pattern through real codecs") {
    implicit val s2: org.apache.spark.sql.SparkSession = sp
    import sp.implicits._
    val ids = (0L until 40L).toDF("doc_id")
    val decoded = Multimodal.decodePixels(Multimodal.encodeTestImages(ids))
      .orderBy("doc_id").collect()
    assert(decoded.length == 40)
    decoded.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (w, h) = ((id % 9 + 2).toInt, ((id * 3) % 7 + 2).toInt)
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getAs[String]("fmt") == (if (id % 2 == 0) "png" else "bmp"))
      val px = for { y <- 0 until h; x <- 0 until w }
        yield (Multimodal.patR(id, x, y), Multimodal.patG(id, x, y), Multimodal.patB(id, x, y))
      assert(r.getAs[Long]("n_px") == w.toLong * h)
      assert(r.getAs[Long]("sum_r") == px.map(_._1.toLong).sum)
      assert(r.getAs[Long]("sum_g") == px.map(_._2.toLong).sum)
      assert(r.getAs[Long]("sum_b") == px.map(_._3.toLong).sum)
      assert(r.getAs[Int]("min_px") == px.map(p => p._1 min p._2 min p._3).min)
      assert(r.getAs[Int]("max_px") == px.map(p => p._1 max p._2 max p._3).max)
    }
    // a payload no ImageIO reader recognizes → the explicit unknown row
    val junk = Seq((99L, Array.fill[Byte](16)(0x42))).toDF("doc_id", "payload")
    val u = Multimodal.decodePixels(junk).collect()(0)
    assert(u.getAs[String]("fmt") == "unknown" && u.getAs[Long]("n_px") == 0L)
  }

  test("audioEnergyHash: invariant under monotone gain, deterministic") {
    import graft.multimodal.Multimodal
    implicit val sp2: org.apache.spark.sql.SparkSession = sp
    import sp2.implicits._
    // twinned fixture: every 5th id emits a -1 dB re-leveled copy — the
    // contour hash must agree exactly (comparisons see relative energies)
    val h = Multimodal.audioEnergyHash(
        Multimodal.encodeTestWavsTwinned((0L to 9L).toDF("doc_id"), twinEvery = 5))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h.size == 12)
    for (id <- Seq(0L, 5L)) assert(h(id) == h(id + 10_000_000L))
    // determinism of the full encode→decode→hash path across sessions
    val again = Multimodal.audioEnergyHash(
      Multimodal.encodeTestWavsTwinned((0L to 0L).toDF("doc_id"), twinEvery = 1000)
    ).collect()(0).getLong(2)
    assert(again == h(0L)._2)
    assert(h.values.map(_._2).toSet.size > 1) // different docs differ
  }

  test("audioWalshBands satisfies Parseval: sum of all 16 powers == 16 x frame energy") {
    import graft.multimodal.Multimodal
    implicit val sp2: org.apache.spark.sql.SparkSession = sp
    import sp2.implicits._
    val ids = (1L to 8L).toDF("doc_id")
    val rows = Multimodal.audioWalshBands(Multimodal.encodeTestWavs(ids),
        frameSize = 16, bands = 0 until 16)
      .groupBy("doc_id", "frame").agg(sum("power").as("pw"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows.nonEmpty)
    rows.foreach { case ((id, f), pw) =>
      val e = (0 until 16).map { j =>
        val s = Multimodal.patS(id, f * 16 + j).toLong; s * s
      }.sum
      assert(pw == 16L * e, s"Parseval violated for doc $id frame $f")
    }
  }

  test("wav round trip: JDK codec encode/decode is bit-exact; junk isolated") {
    import graft.multimodal.Multimodal
    implicit val sp2: org.apache.spark.sql.SparkSession = sp
    import sp2.implicits._
    val ids = (1L to 20L).toDF("doc_id")
    val rows = Multimodal.decodeWav(Multimodal.encodeTestWavs(ids))
      .orderBy("doc_id").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = (64 + id % 64).toInt
      val samples = (0 until n).map(Multimodal.patS(id, _))
      assert(r.getAs[Int]("sample_rate") == (8000 + (id % 4) * 4000).toInt)
      assert(r.getAs[Int]("channels") == 1 && r.getAs[Int]("bits") == 16)
      assert(r.getAs[Long]("n_samples") == n.toLong)
      assert(r.getAs[Long]("sum_sq") == samples.map(s => s.toLong * s).sum)
      assert(r.getAs[Int]("peak") == samples.map(math.abs).max)
    }
    val junk = Seq((99L, Array.fill[Byte](16)(0x42))).toDF("doc_id", "payload")
    val j = Multimodal.decodeWav(junk).collect()(0)
    assert(j.getAs[Int]("sample_rate") == -1 && j.getAs[Long]("n_samples") == 0L)
  }

  test("corpus shaping: repetition signals, stratified sample, chunking") {
    import graft.ext.Corpus
    val sp2 = sp
    import sp2.implicits._
    // repetition: "a a b" → dup_tok 1/3, top_tok 2/3; 2-grams "a a","a b" distinct
    val docs = Seq((1L, "a a b"), (2L, "x"), (3L, "y y y y")).toDF("doc_id", "text")
    val rep = Corpus.repetitionSignals(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    assert(rep(0).getAs[Double]("dup_tok_frac") == 0.333333)
    assert(rep(0).getAs[Double]("dup_2gram_frac") == 0.0)
    assert(rep(0).getAs[Double]("top_tok_frac") == 0.666667)
    assert(rep(1).getAs[Double]("dup_tok_frac") == 0.0 && rep(1).getAs[Double]("dup_2gram_frac") == 0.0)
    assert(rep(2).getAs[Double]("dup_tok_frac") == 0.75 &&
      rep(2).getAs[Double]("dup_2gram_frac") == 0.666667 &&
      rep(2).getAs[Double]("top_tok_frac") == 1.0)
    // stratified sample: deterministic (same rows twice) and subset-stable
    // (sampling a filtered corpus keeps exactly the filtered sample rows)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rates = Map("en" -> 0.5, "zh" -> 0.25)
    def sample(df: org.apache.spark.sql.DataFrame) =
      Corpus.stratifiedSample(df, col("doc_id"), col("lang"), rates, 0.1)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val s1 = sample(corpus)
    assert(s1 == sample(corpus) && s1.nonEmpty)
    val evenIds = sample(corpus.filter(col("doc_id") % 2 === 0))
    assert(evenIds == s1.filter(_ % 2 == 0))
    // chunking: 100 tokens, size 50 stride 40 → offsets 0/40/80, len 50/50/20
    val longDoc = Seq((7L, (0 until 100).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val ch = Corpus.chunkTokens(longDoc, col("doc_id"), col("text"), 50, 40)
      .orderBy("chunk_idx").collect()
    assert(ch.map(_.getAs[Int]("n_tokens")).toSeq == Seq(50, 50, 20))
    assert(ch(1).getAs[String]("chunk_text").startsWith("t40 ") &&
      ch(1).getAs[String]("chunk_text").endsWith(" t89"))
    assert(ch(2).getAs[String]("chunk_text") == (80 until 100).map(i => s"t$i").mkString(" "))
    // empty doc emits nothing
    assert(Corpus.chunkTokens(Seq((9L, "")).toDF("doc_id", "text"), col("doc_id"), col("text"), 50, 40).count() == 0)
  }

  test("sequence packing: conservation, full bins, straddling docs") {
    import graft.ext.Corpus
    val sp2 = sp
    import sp2.implicits._
    // docs of 5/7/3 tokens, budget 6: stream = 15 tokens → bins 6/6/3
    val docs = Seq(
      (1L, (0 until 5).map(i => s"a$i").mkString(" ")),
      (2L, (0 until 7).map(i => s"b$i").mkString(" ")),
      (3L, "c0 c1 c2")).toDF("doc_id", "text")
    val bins = Corpus.packTokens(docs, col("doc_id"), col("text"), budget = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    //                 bin, n_docs, n_tokens, first_doc, last_doc
    // doc1 fills 0..4, doc2 fills 5..11 (straddles bins 0-1), doc3 12..14
    assert(bins.toSeq == Seq((0L, 2L, 6L, 1L, 2L), (1L, 1L, 6L, 2L, 2L), (2L, 1L, 3L, 3L, 3L)))
    // real corpus: tokens conserved, every bin but the last exactly full
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val b2 = Corpus.packTokens(corpus, col("doc_id"), col("text"), budget = 128).collect()
    val totalTokens = corpus.select(sum(size(graft.ext.TextAnalysis.tokens(col("text"))))).collect()(0).getLong(0)
    assert(b2.map(_.getAs[Long]("n_tokens")).sum == totalTokens)
    assert(b2.dropRight(1).forall(_.getAs[Long]("n_tokens") == 128L))
    assert(b2.map(_.getAs[Long]("bin")).toSeq == b2.indices.map(_.toLong))
  }

  test("flatten kernel matches HOF twin on real change-log, incl. edge cells") {
    val real = ChangeLog.readEvents(spark, "/root/testdata/sf0.001")
    val a = real.select(Transform.flattenCells(col("cells")).as("m")).collect()
      .map(r => Option(r.getMap[String, String](0)).map(_.toMap))
    val b = real.select(HofTwins.flattenCellsHof(col("cells")).as("m")).collect()
      .map(r => Option(r.getMap[String, String](0)).map(_.toMap))
    assert(a.toSeq == b.toSeq)
    // null value kept, null qualifier dropped, empty array → empty map
    val edge = mutDf(Seq(
      mut("k", "U", "2024-01-01 00:00:00", 1, ("f", "q", null), ("f", null, "x")),
      mut("k2", "U", "2024-01-01 00:00:00", 2)))
    val got = edge.select(Transform.flattenCells(col("cells")).as("m")).collect()
      .map(_.getMap[String, String](0).toMap).toSeq
    assert(got == Seq(Map("q" -> null), Map.empty))
  }

  test("typed Dataset[Mutation] round-trips the change-log edge") {
    val ds = ChangeLog.typed(mutDf(Seq(
      mut("k", "U", "2024-01-01 00:00:00", 1, ("f", "a", "1")))))
    val m = ds.collect().head
    assert(m.row_key == "k" && m.cells == Seq(Cell("f", "a", "1")))
  }

  test("merge handles empty batch and empty index") {
    val idx = Merge.fold(mutDf(Seq(mut("k", "U", "2024-01-01 00:00:00", 1, ("f", "a", "1")))))
    val emptyBatch = mutDf(Seq.empty)
    assert(indexMap(Merge.mergeBatch(idx, emptyBatch)) == Map("k" -> Map("a" -> "1")))
    assert(indexMap(Merge.fold(emptyBatch)).isEmpty)
  }

  test("batched kernels match the HOF formulations bit-for-bit") {
    import graft.functions.{Hashing, MinHashSigs, TextKernels}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // shingles kernel vs split/transform/array_distinct chain
    val hof = docs.select(col("doc_id"),
      array_distinct(TextAnalysis.wordNgrams(TextAnalysis.tokens(col("text")), 3)).as("g"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1).toSeq).toSeq
    val ker = docs.select(col("doc_id"), TextKernels.wordNgrams(col("text"), 3).as("g"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1).toSeq).toSeq
    assert(ker == hof)
    // token-hash kernel vs transform(tokens, md5Long60)
    val hofTh = docs.select(col("doc_id"),
      transform(TextAnalysis.tokens(col("text")), t => Hashing.md5Long60(t)).as("h"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq).toSeq
    val kerTh = docs.select(col("doc_id"), TextKernels.tokenHashes60(col("text")).as("h"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq).toSeq
    assert(kerTh == hofTh)
    // term-freq kernel vs size(filter(tokens)) per term + size(tokens)
    val hofTf = docs.select(col("doc_id"), array(
        size(filter(TextAnalysis.tokens(col("text")), t => t === "spark")),
        size(filter(TextAnalysis.tokens(col("text")), t => t === "join")),
        size(TextAnalysis.tokens(col("text")))).as("tfs"))
      .orderBy("doc_id").collect().map(_.getSeq[Int](1).toSeq).toSeq
    val kerTf = docs.select(col("doc_id"),
        TextKernels.termFreqs(col("text"), Seq("spark", "join")).as("tfs"))
      .orderBy("doc_id").collect().map(_.getSeq[Int](1).toSeq).toSeq
    assert(kerTf == hofTf)
    // minhash kernel vs array_min(transform(...)) per seed
    val sh = Dedup.shingles(docs, col("doc_id"), col("text"))
    val hofMh = sh.select(col("doc_id"),
      array(Seq(0, 7, 15).map(i => array_min(transform(col("grams"), g => Hashing.seeded(i, g)))): _*).as("s"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq).toSeq
    val kerMh = sh.select(col("doc_id"), MinHashSigs(col("grams"), 16).as("s"))
      .orderBy("doc_id").collect()
      .map(r => { val s = r.getSeq[Long](1); Seq(s(0), s(7), s(15)) }).toSeq
    assert(kerMh == hofMh)
  }

  test("GraftExtensions registers the kernel functions for SQL") {
    org.apache.spark.sql.graftbridge.Bridge.registerInto(
      new GraftExtensions(), spark.sessionState.functionRegistry)
    val r = spark.sql(
      "SELECT dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d, " +
        "simhash60(token_hashes60('spark merge join')) AS sh").collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) > 0)
    val r2 = spark.sql(
      "SELECT term_freqs('a b a c', 'a', 'b') AS tf, " +
        "phrase_freqs('a a a', 'a', 'a') AS pf, " +
        "repetition_stats('a a b') AS rs").collect().head
    assert(r2.getSeq[Int](0) == Seq(2, 1, 4)) // tf(a)=2, tf(b)=1, doclen 4
    assert(r2.getSeq[Int](1) == Seq(2, 3))    // overlapping "a a" twice in 3 tokens
    assert(r2.getSeq[Int](2) == Seq(3, 2, 2, 2, 2)) // n, nd, n2, nd2, top
  }

  test("EsDsl range/paginate/filtersAgg units") {
    import sp.implicits._
    val df = Seq((1, "a"), (5, "b"), (9, "c"), (12, "d")).toDF("n", "s")
    assert(df.filter(EsDsl.range(col("n"), gte = Some(5), lt = Some(12))).count() == 2)
    assert(df.filter(EsDsl.range(col("n"))).count() == 4) // unbounded
    val page = EsDsl.paginate(df, Seq(col("n").desc), from = 1, size = 2)
      .select("n").collect().map(_.getInt(0)).toSeq
    assert(page == Seq(9, 5))
    val fa = EsDsl.filtersAgg(df, Nil, "big" -> (col("n") >= 9), "small" -> (col("n") < 5))
      .collect().head
    assert(fa.getLong(0) == 4 && fa.getLong(1) == 2 && fa.getLong(2) == 1)
  }

  test("_analyze API: standard types/positions, whitespace keeps case, keyword is one token") {
    import sp.implicits._
    val docs = Seq((1L, "Spark 42 runs")).toDF("doc_id", "text")
    val std = EsDsl.analyzeApi(docs, col("doc_id"), col("text"), "standard")
      .orderBy("position").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getString(3))).toSeq
    assert(std == Seq((0, "spark", "<ALPHANUM>"), (1, "42", "<NUM>"), (2, "runs", "<ALPHANUM>")))
    val ws = EsDsl.analyzeApi(docs, col("doc_id"), col("text"), "whitespace")
      .orderBy("position").collect().map(_.getString(2)).toSeq
    assert(ws == Seq("Spark", "42", "runs")) // no lowercasing, ES semantics
    val kw = EsDsl.analyzeApi(docs, col("doc_id"), col("text"), "keyword").collect()
    assert(kw.length == 1 && kw(0).getString(2) == "Spark 42 runs")
    // english: stopword GAPS survive in positions (ES position increments)
    val en = EsDsl.analyzeApi(Seq((1L, "the quick brown foxes")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), "english")
      .orderBy("position").collect().map(r => (r.getInt(1), r.getString(2))).toSeq
    assert(en == Seq((1, "quick"), (2, "brown"), (3, "foxe")))
  }

  test("terminate_after caps per shard and flags only capped shards") {
    import sp.implicits._
    val docs = (1L to 30L).map(i => (i, s"d$i")).toDF("doc_id", "v")
    val out = EsDsl.terminateAfter(docs, col("doc_id"), n = 3, shards = 2).collect()
    val byShard = out.groupBy(_.getAs[Int]("shard"))
    assert(byShard.values.forall(_.length <= 3))
    // 30 docs over 2 shards: both shards exceed 3 -> every kept row flagged
    assert(out.forall(_.getAs[Boolean]("terminated_early")))
    // and with a cap nothing hits, no flag
    val loose = EsDsl.terminateAfter(docs, col("doc_id"), n = 100, shards = 2).collect()
    assert(loose.length == 30 && loose.forall(!_.getAs[Boolean]("terminated_early")))
  }

  test("typed Dataset surface composes with the engine") {
    import sp.implicits._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    case class Line(l_returnflag: String, l_quantity: Double)
    val ds = li.select("l_returnflag", "l_quantity").as[(String, Double)]
    val typed = ds.groupByKey(_._1).mapGroups((k, it) => (k, it.map(_._2).sum))
      .collect().toMap
    val untyped = li.groupBy("l_returnflag").agg(sum("l_quantity"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(typed.keySet == untyped.keySet &&
      typed.forall { case (k, v) => math.abs(v - untyped(k)) < 1e-6 })
  }

  test("langId deterministic tie order and und fallback") {
    import sp.implicits._
    val df = Seq("xyzzy plugh", "the row value is here", "el data de los").toDF("text")
    val out = df.select(TextAnalysis.langId(col("text")).as("l")).collect().map(_.getString(0)).toSeq
    assert(out == Seq("und", "en", "es"))
  }

  test("langId compiled kernel == interpreted HOF twin on mixed/tie/empty texts") {
    import sp.implicits._
    // covers: no-marker fallback, clear winners, cross-language ties
    // (first-wins), repeated markers, empty and punctuation-only text
    val df = Seq("xyzzy plugh", "the row value is here", "el data de los",
      "the el", "de the la of", "", "?!.,", "the the the el el el")
      .toDF("text")
    val both = df.select(
      TextAnalysis.langId(col("text")).as("k"),
      HofTwins.langIdHof(col("text")).as("h")).collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1),
      s"kernel=${r.getString(0)} hof=${r.getString(1)}"))
  }

  test("decontamination: exact n-gram overlap with a benchmark set, broadcast plan") {
    import sp.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares the 3-gram "beta gamma delta"
      (2L, "one two three four five"),        // clean
      (3L, "beta gamma delta beta gamma delta x")) // shares it too (set-counted once)
      .toDF("doc_id", "text")
    val bench = Seq((100L, "zz beta gamma delta yy")).toDF("doc_id", "text")
    val got = graft.ext.Corpus.contamination(
      corpus, col("doc_id"), col("text"), bench, col("text"), nGram = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 1L))
    val kept = graft.ext.Corpus.decontaminate(
      corpus, col("doc_id"), col("text"), bench, col("text"), nGram = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L))
    // the benchmark gram side must broadcast — no shuffle of corpus grams
    val plan = graft.ext.Corpus.contamination(
      corpus, col("doc_id"), col("text"), bench, col("text"), nGram = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("unigram cross-entropy: uniform corpus scores ln(V), rarer mix scores higher") {
    import sp.implicits._
    // 4 docs over a 4-token uniform vocabulary: every token P=1/4, so
    // every doc's cross-entropy is exactly ln 4
    val uniform = Seq((1L, "a b"), (2L, "c d"), (3L, "a c"), (4L, "b d"))
      .toDF("doc_id", "text")
    val xe = TextAnalysis.unigramCrossEntropy(uniform, col("doc_id"), col("text"))
      .collect().map(_.getDouble(2)).toSeq
    val ln4 = BigDecimal(math.log(4.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(xe.forall(_ == ln4))
    // a doc of rare tokens scores strictly higher than one of common tokens
    val skewed = Seq((1L, "x x x x x x"), (2L, "y z")).toDF("doc_id", "text")
    val m = TextAnalysis.unigramCrossEntropy(skewed, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m(2L) > m(1L))
  }

  test("gopher filter: rules compose into sorted fail_reasons") {
    import sp.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat with a dog and a bird by the door"), // short but stopworded
      (2L, "spam spam spam spam spam spam spam spam spam spam")) // repetitive, no stopwords
      .toDF("doc_id", "text")
    val out = graft.ext.Corpus.gopherFilter(docs, col("doc_id"), col("text"),
      minWords = 5, maxWords = 100, minMeanLen = 1.0, maxMeanLen = 10.0,
      minStopwords = 2, maxTopTokFrac = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](2), r.getBoolean(3))).toMap
    assert(out(1L) == (Seq.empty[String], true))
    assert(out(2L) == (Seq("repetitive", "too_few_stopwords"), false))
  }

  test("pii redaction masks and counts every category") {
    import sp.implicits._
    val docs = Seq(
      (1L, "mail a@b.co or c.d@e-f.org ip 10.0.0.1 call 555-1234"),
      (2L, "clean text, no pii here"))
      .toDF("doc_id", "text")
    val out = graft.ext.Redact.redactPii(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "mail <EMAIL> or <EMAIL> ip <IP> call <PHONE>")
    assert((out(0).getInt(2), out(0).getInt(3), out(0).getInt(4)) == ((2, 1, 1)))
    assert(out(1).getString(1) == "clean text, no pii here")
    assert((out(1).getInt(2), out(1).getInt(3), out(1).getInt(4)) == ((0, 0, 0)))
  }

  test("temperature mixture: alpha < 1 upweights the small source") {
    import sp.implicits._
    // big source 200 docs, small source 20 docs; alpha 0.5 compresses the
    // count ratio 10:1 to sqrt -> the small source's keep-RATE must exceed
    // the big one's even though its expected count is lower
    val docs = ((1 to 200).map(i => (i.toLong, "big")) ++
      (201 to 220).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val kept = graft.ext.Corpus.temperatureMixture(
      docs, col("doc_id"), col("source"), alpha = 0.5, targetTotal = 60)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rateBig = kept.getOrElse("big", 0L).toDouble / 200
    val rateSmall = kept.getOrElse("small", 0L).toDouble / 20
    assert(rateSmall > rateBig)
    // deterministic: a second run keeps the identical rows
    val a = graft.ext.Corpus.temperatureMixture(
      docs, col("doc_id"), col("source"), alpha = 0.5, targetTotal = 60)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = graft.ext.Corpus.temperatureMixture(
      docs, col("doc_id"), col("source"), alpha = 0.5, targetTotal = 60)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("duplicate spans: cross-doc n-gram recurrence, set-counted per doc") {
    import sp.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),          // grams: abg, bgd -> bgd shared with doc 3
      (2L, "one two three four"),              // clean
      (3L, "x beta gamma delta beta gamma delta")) // bgd (set-counted once) + others
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, col("doc_id"), col("text"), n = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._2 == 1L && out(2L)._2 == 0L && out(3L)._2 == 1L)
    assert(out(1L)._1 == 2L) // distinct grams
  }

  test("kmeans fit: deterministic, partitions the corpus, k centroids of the right dim") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.kmeansFit(emb, col("vec_id"), col("embedding"), k = 4, iters = 2)
      .orderBy("cluster").collect()
    val b = Similarity.kmeansFit(emb, col("vec_id"), col("embedding"), k = 4, iters = 2)
      .orderBy("cluster").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq) // fully deterministic
    assert(a.length <= 4 && a.nonEmpty)
    assert(a.map(_.getLong(1)).sum == emb.count()) // every vector assigned once
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    assert(a.forall(_.getSeq[Double](2).length == dim))
  }

  test("power iteration: unit-norm deterministic top component") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.topPrincipalComponent(emb, col("embedding"), iters = 3)
      .orderBy("dim").collect().map(_.getDouble(1)).toSeq
    val b = Similarity.topPrincipalComponent(emb, col("embedding"), iters = 3)
      .orderBy("dim").collect().map(_.getDouble(1)).toSeq
    assert(a == b) // deterministic
    assert(a.length == emb.select(size(col("embedding"))).head().getInt(0))
    val norm = math.sqrt(a.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4) // unit up to 6-dp component rounding
  }

  test("duplicate-span scrub drops covered tokens, keeps the rest in order") {
    import sp.implicits._
    val docs = Seq(
      (1L, "intro beta gamma delta outro"), // "beta gamma delta" duplicated -> covers pos 2-4
      (2L, "one two three four"),           // untouched
      (3L, "beta gamma delta"))             // fully covered -> drops out
      .toDF("doc_id", "text")
    val out = Dedup.scrubDuplicateSpans(docs, col("doc_id"), col("text"), n = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getLong(3))).toMap
    assert(out(1L) == (("intro outro", 5, 2L)))
    assert(out(2L) == (("one two three four", 4, 4L)))
    assert(!out.contains(3L))
  }

  test("duplicate-RUN scrub: short covered islands survive, long runs go") {
    import sp.implicits._
    val docs = Seq(
      (1L, "p q a b c d e z"), // run a..e (pos 3-7, len 5 >= 4) scrubbed
      (2L, "a b c d e"),       // one full-length run -> drops out
      (3L, "u v a b w x"))     // island {3,4} (len 2 < 4) SURVIVES
      .toDF("doc_id", "text")
    val out = Dedup.scrubDuplicateRuns(docs, col("doc_id"), col("text"),
        n = 2, minDocs = 2, minRun = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getLong(3))).toMap
    assert(out(1L) == (("p q z", 8, 3L)))
    assert(!out.contains(2L))
    assert(out(3L) == (("u v a b w x", 6, 6L))) // any-gram scrub would cut "a b"
  }

  test("duplicate-RUN scrub at minRun=1 == duplicate-span scrub (real docs)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val spans = Dedup.scrubDuplicateSpans(docs, col("doc_id"), col("text"),
      n = 3, minDocs = 2)
    val runs1 = Dedup.scrubDuplicateRuns(docs, col("doc_id"), col("text"),
      n = 3, minDocs = 2, minRun = 1)
    assert(spans.exceptAll(runs1).isEmpty && runs1.exceptAll(spans).isEmpty)
  }

  test("containmentPairs catches doc-inside-doc that MinHash-LSH misses") {
    import sp.implicits._
    val quote = (1 to 12).map(i => s"q$i").mkString(" ") // 12-token quoted doc
    val filler = (1 to 120).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, quote),                     // the short original
      (2L, s"$filler $quote"),         // quoted verbatim inside a long doc
      (3L, "other words entirely here aa bb cc dd"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, col("doc_id"), col("text"),
        n = 5, w = 4, minShared = 1, minContain = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5), r.getDouble(6)))
    assert(out.length == 1)
    val (a, b, ca, cb) = out.head
    assert(a == 1L && b == 2L)
    assert(ca == 1.0)  // every fingerprint of the short doc is in the long one
    assert(cb < 0.5)   // the long doc is NOT contained in the short one
    // the symmetric detector misses the same pair: Jaccard ~= 12/132
    assert(Dedup.minhashLsh(docs, col("doc_id"), col("text"),
      threshold = 0.5).count() == 0)
  }

  test("fingerprint maxDf guard drops boilerplate pairs, keeps real overlaps") {
    import sp.implicits._
    val boiler = (1 to 12).map(i => s"bp$i").mkString(" ")
    val shared = (1 to 12).map(i => s"sh$i").mkString(" ")
    val docs = ((1 to 30).map(i =>
        (i.toLong, s"$boiler tail$i more$i words$i here$i now$i end$i")) ++
      Seq((100L, s"$shared extra100 x100 y100 z100"),
          (101L, s"$shared extra101 x101 y101 z101"))).toDF("doc_id", "text")
    // capped: the 30-doc boilerplate fingerprints (df=30 > 10) vanish
    // BEFORE the self-join; only the genuine df=2 overlap survives
    val capped = Dedup.winnowingPairs(docs, col("doc_id"), col("text"),
        n = 5, w = 4, minShared = 1, maxDf = 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq == Seq((100L, 101L)))
    // uncapped: the same corpus pays all C(30,2) boilerplate pairs
    assert(Dedup.winnowingPairs(docs, col("doc_id"), col("text"),
      n = 5, w = 4, minShared = 1).count() == 435 + 1)
    // containment inherits the guard with sizes over RETAINED fingerprints
    // (docs 100/101 keep 3 fps each, 2 shared -> containment 2/3)
    val cont = Dedup.containmentPairs(docs, col("doc_id"), col("text"),
        n = 5, w = 4, minShared = 1, minContain = 0.6, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(cont.toSeq == Seq((100L, 101L, 0.666667)))
  }

  test("round-12 ops are partitioning-invariant") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def all(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val ops: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
      d => Dedup.scrubDuplicateRuns(d, col("doc_id"), col("text"), 3, 2, 8),
      d => TextAnalysis.heapsCurve(d, col("doc_id"), col("text"), k = 4),
      d => Dedup.containmentPairs(d, col("doc_id"), col("text")))
    for (op <- ops) {
      val base = all(op(docs))
      assert(base.nonEmpty)
      for (parts <- Seq(1, 17)) assert(all(op(docs.repartition(parts))) == base)
    }
  }

  test("round-12 op plans: no cartesian, no unpartitioned Window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // heapsCurve's k-row cutoff joins are non-equi against a BROADCAST
    // 4-row side — BroadcastNestedLoopJoin with a constant build is the
    // designed shape there, so only the dedup ops forbid it
    val plans = Seq(
      (Dedup.scrubDuplicateRuns(docs, col("doc_id"), col("text"), 3, 2, 8), false),
      (TextAnalysis.heapsCurve(docs, col("doc_id"), col("text"), k = 4), true),
      (Dedup.containmentPairs(docs, col("doc_id"), col("text")), false))
    plans.foreach { case (df, bnljOk) =>
      val s = df.queryExecution.sparkPlan.toString
      assert(!s.contains("CartesianProduct"), s"cartesian in plan: $s")
      if (!bnljOk) assert(!s.contains("BroadcastNestedLoopJoin"),
        s"pairwise blowup in plan: $s")
      val wins = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"unpartitioned Window (single-partition funnel): $w"))
    }
  }

  test("unigramLmPruneLoop at one round == unigramLmPrune; loop shrinks the set") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val one = TextAnalysis.unigramLmPruneLoop(docs, col("text"), targets = Seq(15))
    val single = TextAnalysis.unigramLmPrune(docs, col("text"), targetMulti = 15)
    assert(one.exceptAll(single).isEmpty && single.exceptAll(one).isEmpty)
    // a second, tighter round prunes multis but never singles
    val looped = TextAnalysis.unigramLmPruneLoop(docs, col("text"), targets = Seq(15, 8))
      .collect().map(_.getString(0))
    val multis = looped.filter(_.length > 1)
    assert(multis.length == 8)
    val singles = single.collect().map(_.getString(0)).filter(_.length == 1)
    assert(singles.forall(looped.contains)) // coverage set survives pruning
  }

  test("bpeTrainBatched: batchSize=1 == bpeTrain exactly; batches are symbol-disjoint") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val seqTable = graft.ext.TextAnalysis.bpeTrain(docs, col("text"), nMerges = 6)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val b1 = graft.ext.TextAnalysis.bpeTrainBatched(docs, col("text"),
        nMerges = 6, batchSize = 1)
      .collect().map(r => (r.getInt(0), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(b1 == seqTable, "batchSize=1 must degenerate to the sequential trainer")
    val b3 = graft.ext.TextAnalysis.bpeTrainBatched(docs, col("text"),
        nMerges = 6, batchSize = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(4)))
    assert(b3.length == 6)
    val rounds = b3.groupBy(_._2)
    assert(rounds.size < 6, "batching must reduce the round count")
    rounds.values.foreach { rs =>
      // within a round: symbol-disjoint picks, one shared recount
      val syms = rs.flatMap(_._3.split(' '))
      assert(syms.distinct.length == syms.length, s"round shares symbols: $rs")
      assert(rs.map(_._4).distinct.length == 1, "per-round n_tokens_after must agree")
    }
    // round-1's FIRST pick is the global argmax — same as sequential rank 1
    assert(b3.minBy(_._1)._3 == seqTable.head._2)
    // trajectory: token count strictly decreases round over round
    val traj = b3.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.head._4)
    assert(traj.sliding(2).forall(p => p.length < 2 || p(1) < p(0)))
  }

  test("bpeTrainByteLevel: ASCII merges mirror char-level in hex; multi-byte chars earn symbols") {
    import sp.implicits._
    def hexOf(s: String) =
      s.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString
    // pure alnum+space corpus (whitespace split == \W+ split there): the
    // byte trainer must pick the SAME merges as the char trainer, spelled
    // in hex (1 char == 1 byte), with identical freq and n_tokens_after
    // at every rank
    val ascii = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), regexp_replace(lower(col("text")), "[^a-z0-9]+", " ").as("text"))
    val chars = graft.ext.TextAnalysis.bpeTrain(ascii, col("text"), nMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val bytes = graft.ext.TextAnalysis.bpeTrainByteLevel(ascii, col("text"), nMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val charsAsHex = chars.map { case (rk, pair, f, nt) =>
      val Array(a, b) = pair.split(' '); (rk, s"${hexOf(a)} ${hexOf(b)}", f, nt)
    }
    assert(bytes == charsAsHex, "byte-level must mirror char-level on ASCII")
    // non-ASCII: é is two bytes (C3 A9) — frequent enough, the FIRST merge
    // glues exactly that byte pair into a whole-character symbol
    val fr = Seq.tabulate(40)(i => (i.toLong, "été café")).toDF("doc_id", "text")
    val m = graft.ext.TextAnalysis.bpeTrainByteLevel(fr, col("text"), nMerges = 3)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m(1) == "C3 A9", s"first merge must be é's UTF-8 byte pair, got ${m(1)}")
    // no unk by construction: every merged symbol decomposes to base bytes
    m.values.foreach { p =>
      p.split(' ').foreach(sym => assert(sym.length % 2 == 0 &&
        sym.matches("[0-9A-F]+"), s"non-hex symbol $sym"))
    }
  }

  test("luhnRedact masks valid card numbers only; regex-lookalikes survive") {
    import sp.implicits._
    val docs = Seq(
      (1L, "pay 4539578763621486 now"),   // valid Luhn 16-digit
      (2L, "pay 4539578763621487 now"),   // same digits, broken check
      (3L, "order 12345 of 99"))          // no 13-19 digit run
      .toDF("doc_id", "text")
    val out = graft.ext.Redact.luhnRedact(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) == ((1, 1, "pay <CARD> now")))
    assert(out(2L) == ((1, 0, "pay 4539578763621487 now"))) // kept: fails Luhn
    assert(out(3L) == ((0, 0, "order 12345 of 99")))
  }

  test("luhnRedact masking is boundary-anchored: digits inside longer runs survive") {
    import sp.implicits._
    val card = "4539578763621486" // valid Luhn
    // the same 16 digits also appear INSIDE a 20-digit run, which the
    // \b-anchored extractor never matched — a raw substring replace
    // would corrupt it; the anchored mask must not
    val docs = Seq((1L, s"ref 9${card}000 pay $card now")).toDF("doc_id", "text")
    val out = graft.ext.Redact.luhnRedact(docs, col("doc_id"), col("text")).collect().head
    assert(out.getInt(1) == 1 && out.getInt(2) == 1)
    assert(out.getString(3) == s"ref 9${card}000 pay <CARD> now")
  }

  test("fingerprint pair ops and heapsCurve tolerate empty / too-short input") {
    import sp.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val short = Seq((1L, "only two")).toDF("doc_id", "text") // < n tokens
    // NPE pin: the hot-fingerprint guard's max(_df) is NULL on an empty
    // fingerprint frame; both cases must return empty frames, not throw
    assert(graft.ext.Dedup.winnowingPairs(empty, col("doc_id"), col("text")).isEmpty)
    assert(graft.ext.Dedup.winnowingPairs(short, col("doc_id"), col("text")).isEmpty)
    assert(graft.ext.Dedup.containmentPairs(empty, col("doc_id"), col("text")).isEmpty)
    assert(graft.ext.TextAnalysis.heapsCurve(empty, col("doc_id"), col("text"))
      .filter(col("n_docs") > 0).isEmpty)
  }

  test("epochAllocation: fills epoch tiers in order, cuts exactly at the budget") {
    import sp.implicits._
    // sources of 4 / 2 / 1 tokens; budget 10 = tier1 (7) + 3 into tier2:
    // a2 takes its full 4, b2 takes the remaining 2 of... order within
    // tier 2 is (a, b, c) => a:4, b:2 would overshoot — b takes 2? cum
    // after a2 = 11 > 10, so a2 is the partial chunk (takes 3), b2/c2
    // and tier 3+ drop.
    val docs = Seq(
      (1L, "a", "w x y z"), (2L, "b", "p q"), (3L, "c", "m"))
      .toDF("doc_id", "source", "text")
    val out = graft.ext.Corpus.epochAllocation(docs, col("text"), col("source"),
        budget = 10L, decay = 0.5, maxEpochs = 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("a", 1, 4L, 4.0), ("b", 1, 2L, 2.0), ("c", 1, 1L, 1.0),
      ("a", 2, 3L, 1.5)))
    assert(out.map(_._3).sum == 10L) // budget exactly consumed
  }

  test("wordPieceTrain argmax diverges from BPE on exclusive pairs") {
    import sp.implicits._
    // "a b" is the most FREQUENT pair (3) but a and b are everywhere
    // (count 13 each); "c d" occurs only together (2/(2*2)=0.5 beats
    // 3/(13*13)). BPE merges ab first; WordPiece merges cd first.
    val docs = Seq((1L,
      (Seq.fill(3)("ab") ++ Seq.fill(10)("a") ++ Seq.fill(10)("b") ++
        Seq.fill(2)("cd")).mkString(" "))).toDF("doc_id", "text")
    val wp = TextAnalysis.wordPieceTrain(docs, col("text"), nMerges = 1).collect()
    assert(wp.head.getString(1) == "c d")
    assert(wp.head.getDouble(3) == 0.5)
    val bpe = TextAnalysis.bpeTrain(docs, col("text"), nMerges = 1).collect()
    assert(bpe.head.getString(1) == "a b")
  }

  test("heapsCurve: one first-occurrence pass reproduces per-prefix recounts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.heapsCurve(docs, col("doc_id"), col("text"), k = 4)
      .collect()
    assert(out.length == 4)
    val vocab = out.map(_.getLong(4))
    assert(vocab.zip(vocab.tail).forall { case (a, b) => a <= b }) // monotone
    assert(out.head.isNullAt(5) && out.tail.forall(!_.isNullAt(5)))
    // last checkpoint == whole-corpus recount; a middle one == brute prefix
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("t"))
    assert(out.last.getLong(4) == toks.select("t").distinct().count())
    assert(out.last.getLong(3) == toks.count())
    val cut1 = out.head.getLong(1)
    assert(out.head.getLong(4) ==
      toks.filter(col("doc_id") <= cut1).select("t").distinct().count())
  }

  test("segment dedup keeps first (doc_id, seg_idx) occurrence, drops fully-dup docs") {
    import sp.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // segs [a b], [c d] — both first occurrences
      (2L, "a b x y"),   // [a b] repeated (keeper is (1,0)) -> dropped; [x y] kept
      (3L, "a b c d"))   // both segs repeated -> kept_segs 0, text_dedup ""
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, col("doc_id"), col("text"), segTokens = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 2L, "a b c d")))
    assert(out(2L) == ((2L, 1L, "x y")))
    assert(out(3L) == ((2L, 0L, "")))
  }

  test("segment dedup withinDoc: intra-doc repeats collapse, cross-doc repeats survive") {
    import sp.implicits._
    val docs = Seq(
      (1L, "a b a b x y"),  // [a b] repeated inside doc 1 -> second dropped
      (2L, "a b c d"))      // [a b] also here, but cross-doc -> kept
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, col("doc_id"), col("text"),
      segTokens = 2, withinDoc = true)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, "a b x y")))
    assert(out(2L) == ((2L, "a b c d")))
  }

  test("segment dedup: non-numeric ids order lexicographically, partial tail segment kept") {
    import sp.implicits._
    val docs = Seq(
      ("zeta", "p q r"),   // segs [p q], [r] — [p q] repeated, keeper is "alpha" < "zeta"
      ("alpha", "p q"))
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, col("doc_id"), col("text"), segTokens = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out("alpha") == ((1L, 1L, "p q")))
    assert(out("zeta") == ((2L, 1L, "r"))) // tail segment survives, dup segment dropped
  }

  test("filter funnel: stages chain (n_in = previous n_kept), counts monotone") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = graft.ext.Corpus.filterFunnel(docs, col("doc_id"), col("text"))
      .orderBy("stage_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._2).toSeq == Seq("input", "gopher_quality", "lang_id", "exact_dedup"))
    assert(rows(0)._3 == docs.count() && rows(0)._4 == rows(0)._3) // input keeps all
    rows.sliding(2).foreach { case Array(prev, next) =>
      assert(next._3 == prev._4, s"stage ${next._2} n_in must chain") }
    rows.foreach { r => assert(r._4 <= r._3 && r._5 == r._3 - r._4) }
  }

  test("prep pipeline: equals the hand-chained stages, funnel chains, no cartesian") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val docs = all.filter(col("doc_id") % 97 =!= 0)
    val eval = all.filter(col("doc_id") % 97 === 0)
    val piped = graft.ext.Corpus.prepPipeline(docs, col("doc_id"), col("text"),
      col("source"), eval, col("text"), nGram = 4, alpha = 0.6,
      targetTotal = 120L, minWords = 40, maxWords = 100000,
      minMeanLen = 3.5, maxMeanLen = 6.0, minStopwords = 2,
      maxTopTokFrac = 0.15)
    // hand-chain the same four library ops in the same order
    val fp = docs.withColumn("_fp", graft.ext.TextAnalysis.fingerprint(col("text")))
    val keep = fp.groupBy("_fp").agg(min("doc_id").as("doc_id")).select("doc_id")
    val ded = docs.join(keep, Seq("doc_id"), "left_semi")
    val qual = ded.join(
      graft.ext.Corpus.gopherFilter(ded, col("doc_id"), col("text"),
        40, 100000, 3.5, 6.0, 2, 0.15)
        .filter(col("pass")).select("doc_id"), "doc_id")
    val clean = graft.ext.Corpus.decontaminate(qual, col("doc_id"),
      col("text"), eval, col("text"), nGram = 4)
    val sel = graft.ext.Corpus.temperatureMixture(clean, col("doc_id"),
      col("source"), alpha = 0.6, targetTotal = 120L)
    val got = piped.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == sel.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(got.nonEmpty)
    // funnel: stages chain, drops reconcile, tail equals the pipeline
    val f = graft.ext.Corpus.prepPipelineFunnel(docs, col("doc_id"),
      col("text"), col("source"), eval, col("text"), nGram = 4,
      alpha = 0.6, targetTotal = 120L, minWords = 40, maxWords = 100000,
      minMeanLen = 3.5, maxMeanLen = 6.0, minStopwords = 2,
      maxTopTokFrac = 0.15)
      .orderBy("stage_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(f.map(_._2).toSeq == Seq("input", "exact_dedup", "gopher_quality",
      "decontaminate", "temperature_mix"))
    assert(f(0)._3 == docs.count() && f(0)._4 == f(0)._3)
    f.sliding(2).foreach { case Array(prev, next) =>
      assert(next._3 == prev._4, s"stage ${next._2} n_in must chain") }
    f.foreach { r => assert(r._4 <= r._3 && r._5 == r._3 - r._4) }
    assert(f.last._4 == got.size.toLong)
    // interaction pin: a later duplicate of a quality-FAILING doc cannot
    // survive via dedup order (dedup keeps min id; quality then kills the
    // representative — both copies gone)
    val sp2 = spark; import sp2.implicits._
    val bad = Seq((1L, "tiny doc", "s0"), (2L, "tiny doc", "s0"),
      (3L, ("the quick brown fox jumps over the lazy dog and then " * 8).trim, "s1"))
      .toDF("doc_id", "text", "source")
    val out2 = graft.ext.Corpus.prepPipeline(bad, col("doc_id"), col("text"),
      col("source"), bad.limit(0), col("text"), nGram = 4, alpha = 1.0,
      targetTotal = 10L, minWords = 20, maxWords = 100000,
      minMeanLen = 2.0, maxMeanLen = 10.0, minStopwords = 2,
      maxTopTokFrac = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out2 == Set(3L)) // 1 and 2 share a failing fingerprint
    // plan audit: nothing cartesian on data-sized frames
    val plan = piped.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("exact-k sample: exactly k, deterministic, stable under repartitioning, TakeOrdered plan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def ids(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Corpus.exactKSample(df, col("doc_id"), k = 20)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(docs)
    assert(a.size == 20)
    assert(a == ids(docs.repartition(7)))   // partitioning-independent
    assert(ids(docs) == a)                   // re-run stable
    val plan = graft.ext.Corpus.exactKSample(docs, col("doc_id"), k = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), s"expected TakeOrdered, got:\n$plan")
  }

  test("hash split: pure function of id, exhaustive and stable under re-run") {
    import sp.implicits._
    val docs = (1L to 200L).map(i => (i, if (i % 2 == 0) "web" else "code", s"tok$i text"))
      .toDF("doc_id", "source", "text")
    val a = graft.ext.Corpus.hashSplit(docs, col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val b = graft.ext.Corpus.hashSplit(docs, col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(a == b)                                    // deterministic
    assert(a.values.map(_._1).sum == 200L)            // every doc in exactly one split
    assert(a.keys.map(_._2).forall(Set("train", "validation", "test")))
    assert(a.filter(_._1._2 == "train").values.map(_._1).sum > 150L) // 98% nominal
  }

  test("normalize text: quotes/dashes/nbsp to ASCII, controls stripped, whitespace collapsed") {
    import sp.implicits._
    val docs = Seq(
      (1L, "“quoted” ‘x’\u00A0– y\u0007z\u000B w"),
      (2L, "already clean")).toDF("doc_id", "text")
    val out = TextAnalysis.normalizeText(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(4)))).toMap
    assert(out(1L) == (("\"quoted\" 'x' - yz w", true)))
    assert(out(2L) == (("already clean", false)))
    val plan = TextAnalysis.normalizeText(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "normalization must be narrow")
  }

  test("centroid outliers: planted far vector flagged, cohesive group not") {
    import sp.implicits._
    // label 0: eight near-identical vectors + one far outlier
    val rows = (1L to 8L).map(i => (i, 0, Seq(1.0f, 1.0f, 0.0f))) :+
      (9L, 0, Seq(-40.0f, 50.0f, 12.0f))
    val df = rows.toDF("vec_id", "label", "embedding")
    val out = Similarity.centroidOutliers(df, col("vec_id"), col("embedding"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out(9L))                      // the planted outlier
    assert((1L to 8L).forall(i => !out(i)))
    val plan = Similarity.centroidOutliers(df, col("vec_id"), col("embedding"), col("label"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "stats joins must be keyed/broadcast")
  }

  test("centroid outliers: degenerate labels (singleton, zero variance) score z=0, no NaN") {
    import sp.implicits._
    val df = Seq(
      (1L, 0, Seq(1.0f, 2.0f)),                       // singleton label -> sd null
      (2L, 1, Seq(3.0f, 4.0f)), (3L, 1, Seq(3.0f, 4.0f))) // identical pair -> sd 0
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.centroidOutliers(df, col("vec_id"), col("embedding"), col("label"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out.values.forall { case (z, o) => z == 0.0 && !o })
  }

  test("semDedup: within-cluster dedup keeps the min-id member of each near-set") {
    val sp = spark
    import sp.implicits._
    // two planted duplicate groups (identical vectors -> cos 1.0, same
    // cluster by construction) + distinct singles
    def v(seed: Int): Seq[Float] = (0 until 8).map(i => (((seed * 31 + i * 7) % 13) - 6).toFloat)
    val df = Seq(
      (1L, v(1)), (7L, v(1)), (9L, v(1)),        // group A -> keep 1
      (2L, v(2)), (8L, v(2)),                     // group B -> keep 2
      (3L, v(3)), (4L, v(4)), (5L, v(5)))         // singles
      .toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(df, k = 3, iters = 2, threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept.contains(1L) && !kept.contains(7L) && !kept.contains(9L))
    assert(kept.contains(2L) && !kept.contains(8L))
    assert(Seq(3L, 4L, 5L).forall(kept.contains))
    // every vector appears exactly once across kept + deduped
    assert(kept.size == 5)
    // the pairwise join is keyed by cluster — never an all-pairs product
    // of the corpus with itself (the broadcast-centroid BNLJ is k rows)
    val plan = Similarity.semDedup(df, k = 3, iters = 2, threshold = 0.99)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"corpus cartesian in plan")
  }

  test("bpe pair counts: frequency-weighted adjacent pairs, single-char words dropped") {
    val sp = spark
    import sp.implicits._
    // "ab ab cd a" -> pairs: "a b" freq 2, "c d" freq 1; "a" contributes none
    val df = Seq((1L, "ab ab cd a")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(df, col("text"), k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("a b" -> 2L, "c d" -> 1L))
  }

  test("bpe train loop: learns merges in order, re-segments, tracks token counts") {
    val sp = spark
    import sp.implicits._
    // corpus words: abab x3, abc x1 -> chars: <a><b><a><b> etc.
    // iter1 pairs: "a b" 7 (2 per abab + 1 in abc), "b a" 3, "b c" 1 -> merge "a b"
    // iter2: abab -> <ab><ab>, abc -> <ab><c>; pairs: "ab ab" 3, "ab c" 1 -> merge "ab ab"
    // iter3: "ab c" 1 -> merge; then no pairs left -> loop stops early
    val df = Seq((1L, "abab abab abab abc")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(df, col("text"), nMerges = 10)
      .orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "a b", 7L, 8L),     // 3*<ab><ab> + <ab><c> = 8 symbols
      (2, "ab ab", 3L, 5L),   // 3*<abab> + <ab><c> = 5
      (3, "ab c", 1L, 4L)))   // 3*<abab> + <abc> = 4, then dry
  }

  test("url canonicalization strips noise, keeps real query strings; dedup keeps min id") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1L, "https://WWW.Site.COM/p/1/?utm_source=x&utm_medium=y"),
      (2L, "http://site.com/p/1"),                  // same page as 1
      (3L, "https://site.com/p/1?id=2"),            // real param -> distinct
      (4L, "https://www.other.com/"),
      (5L, "http://other.com")                      // same page as 4
    ).toDF("doc_id", "url")
    val out = graft.ext.Web.dedupByUrl(df, col("doc_id"), col("url"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val byUrl = out.map(t => t._2 -> t).toMap
    assert(byUrl("site.com/p/1") == ((1L, "site.com/p/1", "site.com", 2L)))
    assert(byUrl("site.com/p/1?id=2")._1 == 3L)
    assert(byUrl("other.com") == ((4L, "other.com", "other.com", 2L)))
    assert(out.length == 3)
  }

  test("logreg classifier: learns a separable marker, model frame carries weights+mu") {
    val sp = spark
    import sp.implicits._
    // label = doc contains "good"; the base tokens appear in EVERY doc
    // (mu=1 -> centered feature 0, no gradient), so the marker's bucket is
    // the only informative feature and GD must drive its weight positive
    val docs = (1L to 40L).map { i =>
      val base = "alpha beta gamma delta"
      (i, if (i % 2 == 0) s"$base good" else base)
    }.toDF("doc_id", "text")
    val label = array_contains(graft.ext.TextAnalysis.tokens(col("text")), "good")
    val model = graft.ext.Classifier.trainLogReg(docs, col("doc_id"), col("text"),
      label, dim = 32, iters = 10, lr = 8.0)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(model.size == 33) // 32 buckets + intercept
    assert(model.keys.min == -1L && model(-1L)._2 == 0.0)
    assert(model.forall { case (_, (_, mu)) => mu >= 0.0 && mu <= 1.0 })
    val scored = graft.ext.Classifier.scoreLogReg(docs, col("doc_id"), col("text"),
      Array.tabulate(32)(j => model(j.toLong)._1),
      Array.tabulate(32)(j => model(j.toLong)._2), model(-1L)._1)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val (pos, neg) = scored.partition(_._1 % 2 == 0)
    assert(pos.map(_._2).min > neg.map(_._2).max, "classes must separate")
    assert(pos.forall(_._3) && neg.forall(!_._3))
  }

  test("more_like_this BM25 twin agrees with the constant-idf twin on WHO matches") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bm25 = graft.dsl.EsDsl.moreLikeThisBm25(docs, col("doc_id"), col("text"),
      likeId = 7L, maxQueryTerms = 5, topN = 1000)
    val cnt = graft.dsl.EsDsl.moreLikeThis(docs, col("doc_id"), col("text"),
      likeId = 7L, maxQueryTerms = 5, topN = 1000)
    // same term selection -> same match SET (any query-term occurrence);
    // only the ranking differs (idf + length norm vs raw counts)
    val a = bm25.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = cnt.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("packShards: serpentine LPT balances token mass; window is _pid-partitioned") {
    import sp.implicits._
    // token counts 8..1 over 2 shards: serpentine ranks (0,3,4,7) vs
    // (1,2,5,6) -> both shards get exactly 18 tokens
    val docs = Seq.tabulate(8)(i => (i.toLong, Seq.fill(8 - i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.ext.Corpus.packShards(docs, col("doc_id"), col("text"), nShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 4L, 18L), (1L, 4L, 18L)))
    val plan = graft.ext.Corpus.packShards(docs, col("doc_id"), col("text"), 2)
      .queryExecution.executedPlan.toString
    val windowLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("_pid")),
      "global rank must come from the _pid prefix sum, not a single-partition window")
  }

  test("oovRate: top-k vocab coverage per doc") {
    import sp.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(docs, col("doc_id"), col("text"), vocabSize = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // vocab = {a}; empty doc emits nothing
    assert(out.toSeq == Seq((1L, 3L, 1L, 0.333333), (2L, 2L, 1L, 0.5)))
  }

  test("calibrateScores: midpoint percentile per histogram bin, top bin clamps") {
    import sp.implicits._
    val scored = Seq((1L, 0.11), (2L, 0.12), (3L, 0.55), (4L, 0.9), (5L, 1.0))
      .toDF("doc_id", "s")
    val out = graft.ext.Classifier.calibrateScores(scored, col("doc_id"), col("s"), nBins = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // bin1 holds docs 1,2 (below=0, c=2 -> 0.2); bin5 doc 3 -> 0.5;
    // bin9 docs 4 and 5 (1.0 clamps into bin 9) -> (3+1)/5 = 0.8
    assert(out == Map(1L -> 0.2, 2L -> 0.2, 3L -> 0.5, 4L -> 0.8, 5L -> 0.8))
  }

  test("bigramPerplexity: add-k LM, short docs excluded") {
    import sp.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a"), (3L, "b a")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramPerplexity(docs, col("doc_id"), col("text"), k = 0.5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // c12(a,b)=2 c12(b,a)=2, left counts a=2 b=2, V=2:
    // every logp = ln(2.5/3) = -0.182322 -> ppl = exp(0.182322) = 1.2
    assert(out.toSeq == Seq((1L, 3L, 1.2), (3L, 1L, 1.2)))
  }

  test("pmiCollocations: support prune + pmi order") {
    import sp.implicits._
    val docs = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, col("doc_id"), col("text"),
      minCount = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // nTok=6 nBig=5; pmi(x,y)=ln((3/5)/(0.5*0.5)); pmi(y,x)=ln((2/5)/0.25)
    assert(out.toSeq == Seq(("x", "y", 3L, 0.875469), ("y", "x", 2L, 0.470004)))
  }

  test("corpusReport: CUBE emits data, marginal, and total slices with gid") {
    import sp.implicits._
    val docs = Seq((1L, "a b", "s1", "en"), (2L, "a", "s1", "fr"),
      (3L, "a b c", "s2", "en")).toDF("doc_id", "text", "source", "lang")
    val out = graft.ext.Corpus.corpusReport(docs, col("doc_id"), col("text"),
      col("source"), col("lang"))
      .collect().map(r => (Option(r.getString(0)).orNull,
        Option(r.getString(1)).orNull, r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == 8) // 3 data + 2 source-marginal + 2 lang-marginal + 1 total
    assert(out.last == ((null, null, 3L, 3L, 6L)), "grand total sorts last")
    assert(out.count(_._3 == 1L) == 2 && out.count(_._3 == 2L) == 2)
  }

  test("farthestPointSample: greedy k-center picks the spread, plan stays narrow") {
    import sp.implicits._
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 0.01f)),
      (4L, Seq(-1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.farthestPointSample(vecs, col("vec_id"), col("embedding"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // seed 1 -> opposite vector 4 (dist 2) -> orthogonal 2 (dist 1);
    // the near-duplicate of the seed (3) is never picked
    assert(out == Seq((0L, 1L, 0.0), (1L, 4L, 2.0), (2L, 2L, 1.0)))
  }

  test("dsir: target-like docs outweigh off-target docs; resample is deterministic") {
    import sp.implicits._
    val raw = Seq((1L, "a a a"), (2L, "z z z"), (3L, "a z")).toDF("doc_id", "text")
    val target = Seq((10L, "a a a a")).toDF("doc_id", "text")
    val w = graft.ext.Corpus.dsirLogWeights(raw, target, col("doc_id"), col("text"), 512)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 'a' is the whole target distribution; 'z' never appears in it
    assert(w(1L) > w(3L) && w(3L) > w(2L))
    def sample = graft.ext.Corpus.dsirResample(raw, target, col("doc_id"), col("text"),
      512, k = 2, seed = "7").collect().map(_.getLong(0)).toSeq
    assert(sample == sample && sample.size == 2)
  }

  test("pq: encode argmin with ties to the smaller code, ADC ranks by table sum") {
    import sp.implicits._
    val vecs = Seq(
      (1L, Seq(0f, 0f, 0f, 0f)), (2L, Seq(1f, 1f, 1f, 1f)),
      (3L, Seq(0.1f, 0f, 1f, 1f)), (4L, Seq(0.5f, 0.5f, 0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebookFromIds(vecs, col("vec_id"), col("embedding"), m = 2, k = 2)
    val enc = Similarity.pqEncode(vecs, col("vec_id"), col("embedding"), cb)
    val codes = enc.collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codes(1L) == Seq(0, 0) && codes(2L) == Seq(1, 1))
    assert(codes(3L) == Seq(0, 1))
    // equidistant subvectors tie to the SMALLER code
    assert(codes(4L) == Seq(0, 0))
    val got = Similarity.pqAdcSearch(enc, cb, Seq(0.0, 0.0, 1.0, 1.0), topK = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // v3 reconstructs exactly to the query's cells (0 + 0); v1/v2 tie at 2
    assert(got == Seq((3L, 0.0), (1L, 2.0), (2L, 2.0), (4L, 2.0)))
    // ADC is a narrow scan + TakeOrdered — no shuffle anywhere (topK must
    // stay below the row count or EliminateLimits leaves a global Sort)
    val plan = Similarity.pqAdcSearch(enc, cb, Seq(0.0, 0.0, 1.0, 1.0), 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "ADC must be narrow")
  }

  test("ivfPq: only probed cells are ranked; unprobed members never surface") {
    import sp.implicits._
    val vecs = Seq(
      (1L, Seq(0f, 0f, 0f, 0f)), (2L, Seq(1f, 1f, 1f, 1f)),
      (3L, Seq(0.1f, 0f, 1f, 1f)), (4L, Seq(0.5f, 0.5f, 0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val coarse = Similarity.pqCodebookFromIds(vecs, col("vec_id"), col("embedding"),
      m = 1, k = 2).head
    val cb = Similarity.pqCodebookFromIds(vecs, col("vec_id"), col("embedding"), m = 2, k = 2)
    val got = Similarity.ivfPqSearch(vecs, col("vec_id"), col("embedding"),
      coarse, cb, Seq(0.9, 0.9, 0.9, 0.9), nprobe = 1, topK = 10)
      .collect().map(_.getLong(0)).toSet
    // the query probes cell 1 ([1,1,1,1]); v1 (cell 0) and v4 (equidistant,
    // tie → cell 0) are pruned before any ranking; v2/v3 live in cell 1
    assert(got == Set(2L, 3L))
  }

  test("dedupIncremental: rejects near-dups of EXISTING docs only") {
    import sp.implicits._
    val existing = Seq((1L, "a b c d e f g h"), (2L, "x y z w q r s t"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (3L, "a b c d e f g h"),          // exact copy of existing 1 → rejected
      (4L, "m n o p u v i j"),          // fresh → admitted
      (5L, "m n o p u v i j"))          // dup of INCOMING 4, not of existing → admitted
      .toDF("doc_id", "text")
    val out = Dedup.dedupIncremental(existing, incoming, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out == Seq((3L, 1L, false), (4L, 0L, true), (5L, 0L, true)))
  }

  test("modpFingerprints: shared-content pairs surface, content selection is deterministic") {
    import sp.implicits._
    val shared = "one two three four five six seven eight nine ten eleven twelve " * 4
    val docs = Seq(
      (1L, shared + "tail a"), (2L, shared + "tail b"),   // big shared region
      (3L, "totally different words with no overlap at all whatsoever here"))
      .toDF("doc_id", "text")
    val out = Dedup.modpFingerprintPairs(docs, col("doc_id"), col("text"),
      n = 3, p = 2, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L)), "only the overlapping pair; selection keyed on content")
  }

  test("winnowing: shared run >= w+n-1 tokens GUARANTEES a shared fingerprint") {
    import sp.implicits._
    // n=3, w=2: guarantee threshold is a 4-token shared run. Docs 1/2
    // share exactly 4 tokens ("p q r s") embedded in different contexts —
    // mod-p sampling could miss it; winnowing cannot.
    val docs = Seq(
      (1L, "a b c p q r s d e f"),
      (2L, "u v w p q r s x y z"),
      (3L, "totally different words with no overlap at all"))
      .toDF("doc_id", "text")
    val out = Dedup.winnowingPairs(docs, col("doc_id"), col("text"),
      n = 3, w = 2, minShared = 1)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "winnowing pair join must be keyed on fingerprints, not all-pairs")
  }

  test("softDedupWeights: 1/|cluster| mass, singletons keep weight 1") {
    import sp.implicits._
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    // chain 1~2~3 is ONE cluster of 3 (pair-level would miss 1~3)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.softDedupWeights(docs, col("doc_id"), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, 1L, 0.333333), (2L, 1L, 0.333333),
      (3L, 1L, 0.333333), (4L, 4L, 1.0)))
    // total mass = #clusters: 1 unit for {1,2,3} (±rounding), 1 for {4}
    assert(math.abs(out.map(_._3).sum - 2.0) < 1e-5)
  }

  test("sourceOverlap: shared 3-grams only, exact Jaccard on distinct sets") {
    import sp.implicits._
    val docs = Seq((1L, "a b c d", "s1"), (2L, "a b c", "s2"), (3L, "x y z", "s3"))
      .toDF("doc_id", "text", "source")
    val out = graft.ext.Corpus.sourceOverlap(docs, col("doc_id"), col("text"),
      col("source"), n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    // s1 {abc,bcd} ∩ s2 {abc} = 1 → 1/(2+1−1); s3 shares nothing → no row
    assert(out == Seq(("s1", "s2", 1L, 0.5)))
  }

  test("tokenBudget: epoch cap binds small sources, weights sum to ~1") {
    import sp.implicits._
    // s1: 16 tokens, s2: 4 → sqrt smoothing gives shares 2/3 and 1/3
    val docs = Seq((1L, ("a " * 16).trim, "s1"), (2L, "a b c d", "s2"))
      .toDF("doc_id", "text", "source")
    val out = graft.ext.Corpus.tokenBudget(docs, col("doc_id"), col("text"),
      col("source"), budget = 30L, temperature = 2.0, maxEpochs = 2.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    // s1 wants 30·(2/3) = 20 ≤ 2·16 → uncapped; s2 wants 10 > 2·4 = 8 → capped
    assert(out == Seq(("s1", 16L, 0.666667, 20.0, 1.25),
      ("s2", 4L, 0.333333, 8.0, 2.0)))
  }

  test("ksDrift: disjoint length distributions give KS = 1") {
    import sp.implicits._
    val docs = Seq((1L, "a", "s1"), (2L, "b", "s1"),
      (3L, "a b c", "s2"), (4L, "x y z", "s2")).toDF("doc_id", "text", "source")
    val out = graft.ext.Corpus.ksDrift(docs, col("doc_id"), col("text"), col("source"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // s1 all length 1, s2 all length 3: at n=1 the CDFs are 1 vs 0
    assert(out == Map("s1" -> 1.0, "s2" -> 1.0))
  }
}
