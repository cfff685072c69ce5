package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd integer dot product over two Array[Long] columns —
  * the one place the similarity family outgrows built-ins (SURVEY.md
  * §7.4): the higher-order `aggregate(zip_with(a, b, *), 0, +)` form is
  * evaluated *interpreted* (lambda expressions don't participate in
  * whole-stage codegen and allocate a zipped intermediate array per row),
  * while this expression compiles to a tight primitive loop inside the
  * generated code. Preference order per the build brief: compose
  * built-ins (done everywhere else) → custom codegen Expression (here) →
  * UDF (nowhere).
  *
  * Null semantics: null if either array is null (BinaryExpression's
  * null-safe path); array *elements* are assumed non-null, which the
  * integer-scaling producer (`Similarity.scaled`) guarantees.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_long expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** All centered-LSH band values of one hash-embed vector in ONE codegen'd
  * pass — `lsh_bands(v, nn, r, bands, coefs, thrs)` returns
  * array<bigint> of `bands` bucket values, bit j of band b =
  * (nn · (v · h_{b·r+j}) ≥ thrs_{b·r+j}), packed big-endian.
  *
  * Exists because the compositional form — bands·r separate
  * `when(nn * dot_long(v, c) >= thr, …)` columns — grew past what
  * Catalyst would whole-stage-compile at r = 18+ and fell back to
  * interpreted projection: measured 35.7 s for 500k rows where this
  * expression runs the identical integer arithmetic in ~1 s. The
  * config arguments must be foldable (literals); the builder evaluates
  * them at registration-call time, so the hot path carries plain JVM
  * arrays via codegen references. */
case class CenteredLshBands(child: Expression, nn: Long, r: Int, bands: Int,
                            coefs: Array[Int], thrs: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_bands expects array<bigint>, got ${other.simpleString}")
    }

  /** The 16-element read loops below are unguarded by construction, so
    * a short input array would read past UnsafeArrayData's payload and
    * band SILENTLY on garbage — and `lsh_bands` is publicly registered,
    * so the input length is caller-controlled (ADVICE r14 item 1). Both
    * eval paths fail loudly instead. */
  private def requireDim16(n: Int): Unit =
    if (n != 16) throw new IllegalArgumentException(
      s"lsh_bands expects a 16-element array<bigint> vector, got $n elements")

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    requireDim16(v.numElements())
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bv = 0L; var j = 0
      while (j < r) {
        val p = b * r + j; val off = p * 16
        var d = 0L; var i = 0
        while (i < 16) { d += v.getLong(i) * coefs(off + i); i += 1 }
        bv = (bv << 1) | (if (nn * d >= thrs(p)) 1L else 0L)
        j += 1
      }
      out(b) = bv; b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val coefsRef = ctx.addReferenceObj("lshCoefs", coefs, "int[]")
      val thrsRef = ctx.addReferenceObj("lshThrs", thrs, "long[]")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val p = ctx.freshName("p")
      val d = ctx.freshName("d"); val bv = ctx.freshName("bv")
      s"""
         |if ($a.numElements() != 16) {
         |  throw new IllegalArgumentException(
         |    "lsh_bands expects a 16-element array<bigint> vector, got "
         |      + $a.numElements() + " elements");
         |}
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $bv = 0L;
         |  for (int $j = 0; $j < $r; $j++) {
         |    int $p = $b * $r + $j;
         |    long $d = 0L;
         |    for (int $i = 0; $i < 16; $i++) {
         |      $d += $a.getLong($i) * $coefsRef[$p * 16 + $i];
         |    }
         |    $bv = ($bv << 1) | ((${nn}L * $d >= $thrsRef[$p]) ? 1L : 0L);
         |  }
         |  $out[$b] = $bv;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CenteredLshBands =
    copy(child = newChild)
}

/** The q170 16-dim signed bag-of-words hash embedding of a token array
  * in ONE pass — `hash_embed16(toks)` returns array<bigint> where token
  * t adds ±1 to dimension d: d = uint32(md5(t)[0:8 hex]) mod 16, which
  * is exactly the LOW NIBBLE of digest byte 3, and the sign is +1 iff
  * the 9th hex digit (high nibble of digest byte 4) < 8 — bit-for-bit
  * the HOF pipeline's `conv(substring(md5(t),1,8),16,10) % 16` /
  * `substring(md5(t),9,1) < '8'` and the DuckDB oracle's mirror, so
  * swapping the implementation changes NOTHING the hash gate can see.
  *
  * Exists because the compositional form — transform(toks, md5 struct)
  * then 32 filter() passes per doc — evaluates interpreted (lambdas
  * stop whole-stage codegen) at ~23 µs/doc: fine for one q170 pass at
  * gate scale, but the term that dominated q187 once everything else
  * was fixed (11.5 of 12.8 s at sf10). Empty tokens hash like the HOF
  * did (md5("") → dimension 9, sign −1). */
case class HashEmbed16(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hash_embed16 expects array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(a: Any): Any =
    HashEmbed16.embed(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HashEmbed16.embed($a);")

  override protected def withNewChildInternal(newChild: Expression): HashEmbed16 =
    copy(child = newChild)
}

object HashEmbed16 {
  /** Embedding width. The digest extraction below (`dig(3) & 0xf`) IS
    * mod 16 — the low nibble — so this constant, the extraction, the
    * q170 HOF pipeline, and the DuckDB oracle mirror change TOGETHER.
    * Downstream build-side sizing (TextAnalysis.BitextBuildRowBytes)
    * derives from this constant (ADVICE r17 item 4) so widening the
    * embedding cannot silently under-size the SHUFFLE_HASH gate. */
  val Dims = 16

  /** Shared by interpreted eval and generated code: one md5 per token,
    * tight loop, no per-element boxing. */
  def embed(toks: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val v = new Array[Long](Dims)
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        md.reset()
        val dig = md.digest(t.getBytes)
        val d = dig(3) & 0xf
        if (((dig(4) >> 4) & 0xf) < 8) v(d) += 1L else v(d) -= 1L
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(v)
  }
}

object VectorExprs {
  /** Register `dot_long` in the session's function registry (idempotent)
    * so plain SQL/expr strings can call it. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    registry.createOrReplaceTempFunction("dot_long",
      (args: Seq[Expression]) => DotProductLong(args(0), args(1)), "built-in")
    registry.createOrReplaceTempFunction("sorted_intersect_count",
      (args: Seq[Expression]) => SortedIntersectCount(args(0), args(1)), "built-in")
    registry.createOrReplaceTempFunction("lsh_bands",
      (args: Seq[Expression]) => lshBandsFromArgs(args), "built-in")
    registry.createOrReplaceTempFunction("hash_embed16",
      (args: Seq[Expression]) => HashEmbed16(args(0)), "built-in")
    registry.createOrReplaceTempFunction("ascii_seg_sums",
      (args: Seq[Expression]) => asciiSegSumsFromArgs(args), "built-in")
    registry.createOrReplaceTempFunction("list_item_fields",
      (args: Seq[Expression]) => ListItemFields(args(0)), "built-in")
  }

  /** `ascii_seg_sums(text, n)` builder: the segment count is a foldable
    * literal, evaluated once here (the lsh_bands convention). */
  private[functions] def asciiSegSumsFromArgs(args: Seq[Expression]): AsciiSegmentSums = {
    require(args.length == 2, "ascii_seg_sums(text, n)")
    require(args(1).foldable && args(1).eval() != null,
      "ascii_seg_sums segment count must be a non-null literal")
    val n = args(1).eval().asInstanceOf[Number].intValue()
    require(n >= 1, "ascii_seg_sums segment count must be >= 1")
    AsciiSegmentSums(args(0), n)
  }

  /** `lsh_bands` builder: config args are foldable literals, evaluated
    * once here so the expression carries plain arrays. */
  private[functions] def lshBandsFromArgs(args: Seq[Expression]): CenteredLshBands = {
    require(args.length == 6, "lsh_bands(v, nn, r, bands, coefs, thrs)")
    // the eager eval below is only sound on literals — a non-literal
    // config arg would otherwise surface as an obscure unbound-attribute
    // eval error or a null-cast NPE (ADVICE r14 item 3)
    require(args.drop(1).forall(_.foldable),
      "lsh_bands config arguments (nn, r, bands, coefs, thrs) must be literals")
    require(args.drop(1).forall(_.eval() != null),
      "lsh_bands config arguments must be non-null literals")
    def longOf(e: Expression): Long = e.eval().asInstanceOf[Number].longValue()
    val coefs = args(4).eval().asInstanceOf[ArrayData].toIntArray()
    val thrs = args(5).eval().asInstanceOf[ArrayData].toLongArray()
    val r = longOf(args(2)).toInt
    val bands = longOf(args(3)).toInt
    require(coefs.length == bands * r * 16 && thrs.length == bands * r,
      "lsh_bands: coefs must be (bands*r*16) ints and thrs (bands*r) longs")
    CenteredLshBands(args(0), longOf(args(1)), r, bands, coefs, thrs)
  }
}

/** The public injection point for graft's native expressions: build the
  * session with `.withExtensions(new GraftExtensions)` or set
  * `spark.sql.extensions=graft.functions.GraftExtensions` — the supported
  * `SparkSessionExtensions` path for adding catalyst functions to every
  * session of a deployment (the runtime `VectorExprs.register` covers
  * sessions graft didn't build). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("dot_long"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotProductLong].getName, "dot_long"),
      (args: Seq[Expression]) => DotProductLong(args(0), args(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_intersect_count"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (args: Seq[Expression]) => SortedIntersectCount(args(0), args(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("lsh_bands"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CenteredLshBands].getName, "lsh_bands"),
      (args: Seq[Expression]) => VectorExprs.lshBandsFromArgs(args)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("hash_embed16"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[HashEmbed16].getName, "hash_embed16"),
      (args: Seq[Expression]) => HashEmbed16(args(0))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("ascii_seg_sums"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[AsciiSegmentSums].getName, "ascii_seg_sums"),
      (args: Seq[Expression]) => VectorExprs.asciiSegSumsFromArgs(args)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("list_item_fields"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[ListItemFields].getName, "list_item_fields"),
      (args: Seq[Expression]) => ListItemFields(args(0))))
    // whole-operator extension: the as-of join planner strategy
    // (graft.plans.AsOfJoin → AsOfJoinExec) plus its filter-pushdown
    // optimizer rule (Catalyst can't push through an unknown node)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
  }
}
