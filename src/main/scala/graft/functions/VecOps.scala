package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Codegen'd kernels for the hot array math. Spark's higher-order functions
  * (`zip_with`/`aggregate`/`transform`) have no `doGenCode` — they evaluate
  * interpreted, one boxed lambda call per element, which dominates the
  * pairwise similarity and sketch pipelines. These expressions compile to a
  * tight primitive loop inside WholeStageCodegen.
  *
  * Numerics are kept IDENTICAL to the HOF formulations they replace (and to
  * the DuckDB oracle): float elements widened to double, accumulated in
  * element order.
  */
object VecOps {

  /** Σ a[i]·b[i] in double, element order. Null if either side is null
    * or the two arrays differ in length (the null contract shared by
    * [[DotProductDouble]] and [[SqDistDouble]]: the `zip_with` HOF form
    * these kernels replaced returned null there too, so a wrong-dimension
    * query vector surfaces as a null score, never as a prefix result). */
  case class DotProductFloat(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var acc = 0.0; var i = 0
      while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      acc
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
           |  }
           |  ${ev.value} = $acc;
           |}
           |""".stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** As [[DotProductFloat]] over `array<double>` inputs (the PQ paths
    * cast to double for oracle exactness before any arithmetic). */
  case class DotProductDouble(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var acc = 0.0; var i = 0
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      acc
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $acc += $a.getDouble($i) * $b.getDouble($i);
           |  }
           |  ${ev.value} = $acc;
           |}
           |""".stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** 60-bit SimHash bit-vote over an array of (60-bit) token hashes with
    * multiplicity: bit j of the result is set iff
    * Σ_tokens (bit j set ? +1 : −1) > 0. */
  case class SimHash60(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(in: Any): Any = {
      val hs = in.asInstanceOf[ArrayData]
      val votes = new Array[Int](60)
      var i = 0
      while (i < hs.numElements()) {
        val h = hs.getLong(i); var j = 0
        while (j < 60) { if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1; j += 1 }
        i += 1
      }
      var out = 0L; var j = 0
      while (j < 60) { if (votes(j) > 0) out |= (1L << j); j += 1 }
      out
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val votes = ctx.freshName("votes"); val i = ctx.freshName("i")
        val j = ctx.freshName("j"); val h = ctx.freshName("h"); val out = ctx.freshName("out")
        s"""
           |int[] $votes = new int[60];
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  long $h = $a.getLong($i);
           |  for (int $j = 0; $j < 60; $j++) {
           |    if ((($h >> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
           |  }
           |}
           |long $out = 0L;
           |for (int $j = 0; $j < 60; $j++) { if ($votes[$j] > 0) $out |= (1L << $j); }
           |${ev.value} = $out;
           |""".stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** ±1 (Rademacher) hyperplanes for sign-random-projection LSH, derived
    * from md5 so ANY engine with md5 recomputes the identical planes:
    * s(k,j) = +1 iff the first hex digit of md5("k_j") is even. Computed
    * once per expression instance — never per row. */
  def signPlanes(nBits: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Double](nBits * dim)
    var k = 0
    while (k < nBits) {
      var j = 0
      while (j < dim) {
        val h = md.digest(s"${k}_${j}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out(k * dim + j) = if ((((h(0) >> 4) & 0xF) % 2) == 0) 1.0 else -1.0
        j += 1
      }
      k += 1
    }
    out
  }

  /** Sign-random-projection LSH band values over an `array<float>`
    * embedding: bit k of the signature is set iff Σ_j s(k,j)·x[j] ≥ 0
    * (double accumulation in element order, matching the DuckDB twin's
    * list_sum fold); bits pack little-endian into nBits/bandBits ints.
    * One call per row (CodegenFallback, like TextKernels) — the loop body
    * is primitive double math, no per-element boxing. */
  case class SignBandsExpr(child: Expression, nBits: Int, bandBits: Int, dim: Int)
      extends UnaryExpression with CodegenFallback {
    require(nBits % bandBits == 0, "nBits must be a multiple of bandBits")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    @transient private lazy val planes: Array[Double] = signPlanes(nBits, dim)
    override def nullSafeEval(in: Any): Any = {
      val e = in.asInstanceOf[ArrayData]
      val n = math.min(dim, e.numElements())
      val bands = new Array[Int](nBits / bandBits)
      var k = 0
      while (k < nBits) {
        val off = k * dim
        var acc = 0.0; var j = 0
        while (j < n) { acc += planes(off + j) * e.getFloat(j).toDouble; j += 1 }
        if (acc >= 0) bands(k / bandBits) |= (1 << (k % bandBits))
        k += 1
      }
      new GenericArrayData(bands)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** One-pass symmetric int8 quantization of an `array<float>`:
    * scale = max(|x|)/127, q[i] = round_half_away_from_zero(x[i]/scale)
    * (identical to Spark's `round`+cast-int), plus the summary stats, all
    * in a single traversal — replaces an interpreted `aggregate` +
    * `transform` chain that re-evaluated the scale sub-expression inside
    * every element lambda. One call per row (CodegenFallback). */
  case class QuantizeInt8(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("scale", DoubleType, nullable = false),
      StructField("q", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("q_sum", LongType, nullable = false),
      StructField("q_min", IntegerType, nullable = true),
      StructField("q_max", IntegerType, nullable = true)))
    override def nullSafeEval(in: Any): Any = {
      val e = in.asInstanceOf[ArrayData]
      val n = e.numElements()
      var mx = 0.0; var i = 0
      while (i < n) { val a = math.abs(e.getFloat(i).toDouble); if (a > mx) mx = a; i += 1 }
      val scale = mx / 127.0
      val q = new Array[Int](n)
      var sum = 0L; var qmin = Int.MaxValue; var qmax = Int.MinValue
      i = 0
      while (i < n) {
        val v = e.getFloat(i).toDouble / scale
        val qi = (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toInt
        q(i) = qi; sum += qi
        if (qi < qmin) qmin = qi
        if (qi > qmax) qmax = qi
        i += 1
      }
      InternalRow(scale, new GenericArrayData(q), sum,
        if (n == 0) null else qmin, if (n == 0) null else qmax)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Σ (a[i]−b[i])² in double, element order — the squared-distance twin of
    * [[DotProductDouble]]; replaces the interpreted
    * `aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0.0d, +)` HOF form in
    * the k-means / ANN assignment hot paths with a codegen'd loop.
    * Numerics identical: same per-element expression, same accumulation
    * order (the HOF and the DuckDB oracle both fold left in element order).
    * Null on arrays of different length, as [[DotProductFloat]]. */
  case class SqDistDouble(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var acc = 0.0; var i = 0
      while (i < n) { val d = x.getDouble(i) - y.getDouble(i); acc += d * d; i += 1 }
      acc
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $d = $a.getDouble($i) - $b.getDouble($i);
           |    $acc += $d * $d;
           |  }
           |  ${ev.value} = $acc;
           |}
           |""".stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def dotF(a: Column, b: Column): Column = column(DotProductFloat(expression(a), expression(b)))
  def dotD(a: Column, b: Column): Column = column(DotProductDouble(expression(a), expression(b)))
  def sqDistD(a: Column, b: Column): Column = column(SqDistDouble(expression(a), expression(b)))
  def simhash60(hashes: Column): Column = column(SimHash60(expression(hashes)))
  def signBands(e: Column, nBits: Int, bandBits: Int, dim: Int): Column =
    column(SignBandsExpr(expression(e), nBits, bandBits, dim))
  def quantizeInt8(e: Column): Column = column(QuantizeInt8(expression(e)))
}
