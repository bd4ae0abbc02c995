package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property checks that the round-11 compiled kernels are BIT-IDENTICAL
  * to independent reference implementations written here from the spec
  * (not by calling the production helpers): the kernels replaced
  * interpreted HOF pipelines for speed, and these properties are the
  * evidence the swap changed nothing. Reference md5-60 is re-derived from
  * `java.security.MessageDigest` in this file; tokenization is re-derived
  * from the documented `lower` + `\W+` contract. */
class KernelEquivalenceSpec extends AnyFunSuite {

  private def toks(s: String): Array[String] =
    s.toLowerCase.split("\\W+").filter(_.nonEmpty)

  /** Independent md5-60: first 15 hex chars of md5 as a long (== the top
    * 60 bits of the first 8 digest bytes). */
  private def md560(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  private val genText: Gen[String] = for {
    n <- Gen.choose(0, 30)
    ws <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "the", "x9"))
    seps <- Gen.listOfN(n + 1, Gen.oneOf(" ", ", ", "  ", ". "))
  } yield seps.head + ws.zip(seps.tail).map { case (w, s) => w + s }.mkString

  private def u(s: String) = UTF8String.fromString(s)

  test("TokenEntropySumKernel == ascending-distinct p·log2(p) fold") {
    val k = graft.functions.TextKernels.TokenEntropySumKernel(Literal(""))
    val prop = Prop.forAll(genText) { s =>
      val t = toks(s)
      val got = k.nullSafeEval(u(s))
      if (t.isEmpty) got == null
      else {
        val dl = t.length.toDouble
        var acc = 0.0
        t.groupBy(identity).toSeq.sortBy(_._1).foreach { case (_, g) =>
          val p = g.length / dl
          acc = acc + p * (math.log(p) / math.log(2.0))
        }
        got.asInstanceOf[Double] == acc // bit-identical, no tolerance
      }
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop).passed)
  }

  test("entropy fold with supplementary-plane text: non-ASCII are separators, fold pinned") {
    // Failure-point pin for the UTF-8-byte fold order (TextKernels.scala
    // :61-68). The UTF-16 vs UTF-8 sort orders diverge ONLY when a
    // supplementary-plane code point (surrogate pair in UTF-16) compares
    // against a char >= U+E000 — but the analyzer contract (`lower` +
    // Java/RE2 `\W+`, BOTH ASCII word classes) makes every such char a
    // SEPARATOR, so distinct tokens are always [a-z0-9_]+ and the two
    // orders agree on everything the fold can see. This test pins both
    // halves of that argument: (a) emoji / 𝔘-block / private-use chars
    // embedded mid-word split tokens exactly like spaces do, on the
    // kernel AND on the independent reference tokenizer; (b) the fold
    // over the resulting ASCII tokens is bit-identical to the
    // ascending-order reference — so a regression to UTF-16 String order
    // stays unobservable-by-construction, and if the tokenizer contract
    // ever widens to non-ASCII word chars, (a) fails loudly first.
    val k = graft.functions.TextKernels.TokenEntropySumKernel(Literal(""))
    val cases = Seq(
      "b😀a ea",                       // emoji U+1F600 splits b|a
      "zz𝔘zz \uE000 qa",              // 𝔘 U+1D518 + PUA U+E000
      "😀😀 only emoji 𝔘",
      "café naïve x9")                // BMP non-ASCII also split
    cases.foreach { s =>
      val t = toks(s)
      assert(t.forall(_.matches("[a-z0-9_]+")),
        s"tokens of '$s' must be ASCII word runs, got ${t.toSeq}")
      val got = k.nullSafeEval(u(s))
      val dl = t.length.toDouble
      var acc = 0.0
      t.groupBy(identity).toSeq.sortBy(_._1).foreach { case (_, g) =>
        val p = g.length / dl
        acc = acc + p * (math.log(p) / math.log(2.0))
      }
      assert(got.asInstanceOf[Double] == acc, s"fold mismatch on '$s'")
    }
    // the divergence itself, demonstrated at the comparator level: the
    // emoji string sorts BELOW U+E000 in UTF-16 code units but ABOVE it
    // in UTF-8 bytes — the exact pair the kernel's UTF8String.compareTo
    // choice (matching Spark array_sort and DuckDB list_sort) resolves
    val emoji = "😀"
    val pua = "\uE000"
    assert(emoji.compareTo(pua) < 0, "UTF-16 code-unit order: surrogate < U+E000")
    assert(u(emoji).compareTo(u(pua)) > 0, "UTF-8 byte order: U+1F600 > U+E000")
  }

  test("FeatureHashKernel == signed-tf cell sums under the md5-60 family") {
    val dim = 8
    val k = graft.functions.TextKernels.FeatureHashKernel(Literal(""), dim)
    val prop = Prop.forAll(genText) { s =>
      val expected = new Array[Long](dim)
      toks(s).foreach { t =>
        val j = (md560(t) % dim).toInt
        val sg = if ((md560("sgn:" + t) & 1L) == 0L) 1L else -1L
        expected(j) += sg
      }
      val got = k.nullSafeEval(u(s)).asInstanceOf[ArrayData].toLongArray()
      got.sameElements(expected)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop).passed)
  }

  test("PositionalGramHashKernel == hashes of space-joined positional n-grams") {
    val prop = Prop.forAll(genText, Gen.choose(1, 4)) { (s, n) =>
      val k = graft.functions.TextKernels.PositionalGramHashKernel(Literal(""), n)
      val t = toks(s)
      val expected = (0 to t.length - n).map(i => md560(t.slice(i, i + n).mkString(" ")))
      val got = k.nullSafeEval(u(s)).asInstanceOf[ArrayData].toLongArray().toSeq
      got == expected
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop).passed)
  }

  test("BloomCountKernel == distinct-gram membership over the same positions") {
    val genWords = Gen.listOfN(4, Gen.choose(Long.MinValue, Long.MaxValue)).map(_.toArray)
    val prop = Prop.forAll(genText, Gen.choose(1, 3), genWords) { (s, n, words) =>
      val k = graft.functions.TextKernels.BloomCountKernel(Literal(""), n, 3, words)
      val m = words.length * 64L
      val grams = toks(s).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq.distinct
      val hits = grams.count { g =>
        val h1 = md560(g); val h2 = md560("bloom2:" + g)
        (0 until 3).forall { j =>
          val p = (h1 + j * h2) % m
          (words((p >> 6).toInt) & (1L << (p & 63L).toInt)) != 0
        }
      }
      val got = k.nullSafeEval(u(s)).asInstanceOf[ArrayData].toLongArray()
      got.sameElements(Array(grams.size.toLong, hits.toLong))
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop).passed)
  }

  test("LangMarkerHalvesKernel == per-half marker membership counts") {
    val markers = Seq(Seq("the", "aa"), Seq("bb", "x9"), Seq("cc"))
    val k = graft.functions.TextKernels.LangMarkerHalvesKernel(Literal(""), markers)
    val prop = Prop.forAll(genText) { s =>
      val t = toks(s)
      val half = t.length / 2
      val expected = new Array[Long](2 * markers.size)
      t.zipWithIndex.foreach { case (tok, i) =>
        val off = if (i < half) 0 else markers.size
        markers.zipWithIndex.foreach { case (ms, l) =>
          if (ms.contains(tok)) expected(off + l) += 1
        }
      }
      val got = k.nullSafeEval(u(s)).asInstanceOf[ArrayData].toLongArray()
      got.sameElements(expected)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop).passed)
  }

  test("CdcChunksKernel == boundary-split reference (cover + exact fingerprints)") {
    val prop = Prop.forAll(genText, Gen.oneOf(2, 3, 7)) { (s, p) =>
      val k = graft.functions.TextKernels.CdcChunksKernel(Literal(""), p)
      val t = toks(s)
      // reference: boundary BEFORE 0-based token i (i >= 1) iff the
      // 2-gram hash divides p; chunks = maximal runs between boundaries
      val breaks = (1 until t.length).filter(i =>
        java.lang.Math.floorMod(md560(t(i - 1) + " " + t(i)), p.toLong) == 0L)
      val bounds = (0 +: breaks) :+ t.length
      val expected = bounds.sliding(2).filter(b => b(1) > b(0)).map { b =>
        (md560(t.slice(b(0), b(1)).mkString(" ")), b(1) - b(0))
      }.toList
      val got = k.nullSafeEval(u(s)) match {
        case null => Nil
        case a: ArrayData =>
          (0 until a.numElements()).map { i =>
            val r = a.getStruct(i, 2); (r.getLong(0), r.getInt(1))
          }.toList
      }
      got == expected && got.map(_._2).sum == t.length
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop).passed)
  }

  test("ViterbiSegmentKernel == brute-force best segmentation (longest-piece ties)") {
    // small alphabet so multi-char pieces recur; piece set: all chars +
    // a few multi-char pieces with fixed log-probs
    val genWord = Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val pieces = Map(
      "a" -> -3.2, "b" -> -3.5, "c" -> -4.1,
      "ab" -> -5.0, "bc" -> -5.0, "abc" -> -7.9, "aa" -> -6.4, "ca" -> -7.6)
    val k = graft.functions.TextKernels.ViterbiSegmentKernel(Literal(""), pieces, 4)
    def brute(w: String): List[List[String]] =
      if (w.isEmpty) List(Nil)
      else (1 to math.min(4, w.length)).toList
        .filter(l => pieces.contains(w.take(l)))
        .flatMap(l => brute(w.drop(l)).map(w.take(l) :: _))
    def refDp(w: String, ps: Map[String, Double]): List[String] = {
      val n = w.length
      val sc = Array.fill(n + 1)(Double.NegativeInfinity); sc(0) = 0.0
      val bp = new Array[Int](n + 1)
      for (j <- 1 to n; l <- math.min(4, j) to 1 by -1) {
        val p = w.substring(j - l, j)
        if (sc(j - l) != Double.NegativeInfinity && ps.contains(p)) {
          val c = sc(j - l) + ps(p)
          if (c > sc(j)) { sc(j) = c; bp(j) = l }
        }
      }
      var out = List.empty[String]; var p = n
      while (p > 0 && bp(p) > 0) { out = w.substring(p - bp(p), p) :: out; p -= bp(p) }
      out
    }
    val prop = Prop.forAll(genWord) { w =>
      val got = k.nullSafeEval(u(w)).asInstanceOf[ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toList
      val all = brute(w)
      if (all.isEmpty) got.isEmpty
      else {
        val score = (seg: List[String]) => seg.foldLeft(0.0)((s, p) => s + pieces(p))
        val best = score(got)
        // optimal score...
        all.forall(seg => score(seg) <= best) &&
          // ...and on ties, the greedy longest-piece-first DP's choice:
          // recompute via reference DP with the same tie rule
          got == refDp(w, pieces)
      }
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop).passed)
  }

  test("ShingleStreamKernel == unigrams-then-shingles reference join") {
    val prop = Prop.forAll(genText, Gen.choose(2, 3), Gen.choose(0, 1),
      Gen.oneOf(true, false)) { (s, mn, extra, uni) =>
      val mx = mn + extra
      val t = toks(s)
      val parts = (if (uni) t.toSeq else Seq.empty) ++
        (mn to mx).flatMap(n => t.sliding(n).filter(_.length == n).map(_.mkString("_")))
      val got = graft.functions.TextKernels.ShingleStreamKernel(
        Literal(u(s)), mn, mx, uni).eval(null).asInstanceOf[UTF8String].toString
      got == parts.mkString(" ")
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(400), prop).passed)
  }

  test("PosRunsKernel == islands fold (keep runs >= minRun)") {
    val genPos: Gen[List[Int]] = for {
      n <- Gen.choose(0, 40)
      xs <- Gen.listOfN(n, Gen.choose(1, 60))
    } yield xs.distinct.sorted
    val prop = Prop.forAll(genPos, Gen.choose(1, 6)) { (ps, minRun) =>
      // reference: split into maximal consecutive islands, keep long ones
      val islands = ps.foldLeft(List.empty[List[Int]]) {
        case (acc @ (h :: t), p) if h.head == p - 1 => (p :: h) :: t
        case (acc, p) => List(p) :: acc
      }
      val want = islands.filter(_.length >= minRun).flatten.sorted
      val got = graft.functions.TextKernels.PosRunsKernel(
        Literal.create(ps.toArray, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, containsNull = false)), minRun)
        .eval(null).asInstanceOf[ArrayData].toIntArray().toList
      got == want
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop).passed)
  }

  test("EsBulk.fold == independent ES-semantics simulation") {
    import graft.dsl.EsBulk
    val genOps: Gen[List[(String, Option[String], Boolean)]] =
      Gen.listOf(Gen.zip(
        Gen.oneOf("index", "create", "update", "delete"),
        Gen.option(Gen.oneOf("a", "b", "c")),
        Gen.oneOf(true, false)))
    val genStanding: Gen[Option[Map[String, String]]] =
      Gen.option(Gen.const(Map("s" -> "0")))
    val prop = Prop.forAll(genOps, genStanding) { (plan, standing) =>
      val ops = plan.zipWithIndex.map { case ((op, key, up), i) =>
        EsBulk.BulkOp(i.toLong * 2, op, 1L,
          if (op == "delete") null else key.map(k => Map(k -> s"v$i")).getOrElse(Map.empty),
          upsert = op == "update" && up)
      }
      val (items, fin) = EsBulk.fold(standing, ops)
      // independent simulation, written from the ES reference semantics
      var doc: Option[Map[String, String]] = standing
      val expect = ops.map { o =>
        o.op match {
          case "index" =>
            val r = if (doc.isDefined) "updated" else "created"
            doc = Some(o.doc); (o.seq, o.op, r)
          case "create" =>
            if (doc.isDefined) (o.seq, o.op, "conflict")
            else { doc = Some(o.doc); (o.seq, o.op, "created") }
          case "update" =>
            if (doc.isEmpty) {
              if (o.upsert) { doc = Some(o.doc); (o.seq, o.op, "created") }
              else (o.seq, o.op, "missing")
            } else {
              // ES detect_noop default: an unchanged merge is "noop"
              val merged = doc.get ++ o.doc
              if (merged == doc.get) (o.seq, o.op, "noop")
              else { doc = Some(merged); (o.seq, o.op, "updated") }
            }
          case "delete" =>
            if (doc.isEmpty) (o.seq, o.op, "not_found")
            else { doc = None; (o.seq, o.op, "deleted") }
        }
      }
      items == expect && fin == doc
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop).passed)
  }

  test("vector kernels: equal lengths match the element-order fold; mismatched lengths are null (interpreted + codegen)") {
    import graft.functions.VecOps.{DotProductDouble, DotProductFloat, SqDistDouble}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val fT = ArrayType(FloatType, containsNull = false)
    val dT = ArrayType(DoubleType, containsNull = false)
    // (kernel over two bound array columns, element type, reference fold)
    val kernels: Seq[(String, Expression, Boolean, (Seq[Double], Seq[Double]) => Double)] = Seq(
      ("DotProductFloat", DotProductFloat(BoundReference(0, fT, true), BoundReference(1, fT, true)),
        true, (a, b) => a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }),
      ("DotProductDouble", DotProductDouble(BoundReference(0, dT, true), BoundReference(1, dT, true)),
        false, (a, b) => a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }),
      ("SqDistDouble", SqDistDouble(BoundReference(0, dT, true), BoundReference(1, dT, true)),
        false, (a, b) => a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) }))
    val genVec: Gen[Seq[Double]] = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-4, 4).map(_.toDouble / 2)))
    for ((name, k, isFloat, ref) <- kernels) {
      assert(k.nullable, s"$name must declare nullable: it returns null on a length mismatch")
      val codegen = GenerateMutableProjection.generate(Seq(k))
      def arr(v: Seq[Double]): AnyRef =
        if (v == null) null
        else if (isFloat) new GenericArrayData(v.map(_.toFloat).toArray)
        else new GenericArrayData(v.toArray)
      def both(a: Seq[Double], b: Seq[Double]): (Any, Any) = {
        val row = InternalRow(arr(a), arr(b))
        val c = codegen(row)
        (k.eval(row), if (c.isNullAt(0)) null else c.getDouble(0))
      }
      val prop = Prop.forAll(genVec, genVec) { (a, b) =>
        val (interp, gen) = both(a, b)
        val want = if (a.length == b.length) ref(a, b) else null
        interp == want && gen == want
      }
      assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop).passed, name)
      // pinned cases: a wrong-dimension query is null, never a prefix result
      assert(both(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)) == ((null, null)), name)
      assert(both(Seq.empty, Seq(1.0)) == ((null, null)), name)
      assert(both(null, Seq(1.0)) == ((null, null)), name)
      assert(both(Seq.empty, Seq.empty) == ((0.0, 0.0)), name)
    }
  }
}
