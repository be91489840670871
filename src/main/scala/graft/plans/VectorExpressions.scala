package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over `array<float>` / `array<double>`.
  *
  * Why a custom Catalyst expression (SURVEY §4.3 escape hatch): Spark's
  * higher-order functions (`transform`/`zip_with`/`aggregate`) are
  * CodegenFallback — every element evaluation goes through the interpreted
  * expression walker with boxing, which made the cosine-similarity queries
  * the bench bottleneck. This expression emits a tight primitive loop inside
  * whole-stage codegen instead.
  *
  * Semantics are kept bit-identical to the HOF formulation the DuckDB oracle
  * mirrors: each element widens to double FIRST, then products accumulate
  * sequentially left-to-right (IEEE doubles are order-sensitive, and the
  * oracle's `list_sum(list_transform(...))` folds in the same order).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if Seq(lt, rt).forall(t => t == DoubleType || t == FloatType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_dot expects two array<float|double> arguments, got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Element nullability of either side forces a per-element null check; a
    * null element propagates NULL, exactly like the HOF formulation
    * (zip_with product of null is null, aggregate sum of null is null). */
  private def elementsNullable: Boolean = Seq(left, right).exists(
    _.dataType match { case ArrayType(_, n) => n; case _ => false })

  override def nullable: Boolean = super.nullable || elementsNullable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = isFloat(left); val rf = isFloat(right)
    val checkNulls = elementsNullable
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val lGet = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val rGet = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      // `ev.isNull` may be referenced ONLY when the expression is nullable:
      // for a statically non-nullable input (e.g. downstream of a
      // forall()/IsNotNull filter, which strips attribute nullability) Spark
      // substitutes the `false` LITERAL for ev.isNull in the final code but
      // the body template has already baked in the variable NAME — which is
      // then never declared, the generated class fails to compile
      // ("Expression "isNull_x" is not an rvalue"), and every batch falls
      // back to the interpreted path. elementsNullable implies nullable
      // (see `nullable` above), so the two branches below are exhaustive.
      //
      // The null-element branch is emitted only when the schema says null
      // elements are possible — the common containsNull=false path keeps the
      // tight branch-free loop.
      val (nullCheck, assign) =
        if (elementsNullable)
          (s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }",
            s"if (!${ev.isNull}) { ${ev.value} = $s; }")
        else
          ("", s"${ev.value} = $s;")
      s"""
         |final int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $s += $lGet * $rGet;
         |}
         |$assign
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `graft_vec_ok(v)` — true iff the vector DEFINES a cosine: non-null, no
  * null element, and its squared norm Σx² is finite and strictly positive
  * (Σx² is NaN iff any element is NaN, +Inf iff any element overflows, 0
  * iff all-zero; by Cauchy–Schwarz a finite positive norm on both sides
  * bounds every cosine inside [-1, 1]).
  *
  * Why one expression instead of composing `graft_dot` comparisons: the
  * source gate (Tables.embeddingsClean) runs inside every embeddings scan,
  * and some consumers (q52's plane-literal plans) execute with whole-stage
  * codegen disabled, where Catalyst does no subexpression elimination — a
  * three-conjunct formulation re-evaluated graft_dot per conjunct per scan
  * and cost q52 a measured +0.7 s warm median. One fused loop, one call per
  * row, no allocation.
  *
  * A null element yields FALSE (not null): the vector defines no cosine,
  * which is the property being asked. A null array stays null-in/null-out
  * (the gate's filter drops it either way). */
case class VectorDefined(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(t, _) if t == DoubleType || t == FloatType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_vec_ok expects one array<float|double> argument, got " +
          s"${child.dataType.simpleString}")
    }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_vec_ok"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def elementsNullable: Boolean =
    child.dataType match { case ArrayType(_, n) => n; case _ => false }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val f = isFloat
    val checkNulls = elementsNullable
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && x.isNullAt(i)) return false
      val v = if (f) x.getFloat(i).toDouble else x.getDouble(i)
      s += v * v
      i += 1
    }
    !java.lang.Double.isNaN(s) && s > 0.0 && s < Double.PositiveInfinity
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val bad = ctx.freshName("bad")
      val v = ctx.freshName("v")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i)) { $bad = true; break; }"
        else ""
      s"""
         |final int $n = $a.numElements();
         |double $s = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  final double $v = $get;
         |  $s += $v * $v;
         |}
         |${ev.value} = !$bad && !Double.isNaN($s) && $s > 0.0 &&
         |  $s < Double.POSITIVE_INFINITY;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VectorDefined =
    copy(child = newChild)
}

/** `graft_lsh_buckets(v, planes, k)` — multi-table random-hyperplane LSH
  * bucket ids in ONE fused expression: table t's bucket is the k-bit sign
  * pattern Σ_j (dot(v, planes[t·k+j]) > 0 ? 1<<j : 0); returns
  * `array<long>` of length planes.length / k.
  *
  * Why fused (the q52 huge-method lesson): the compositional formulation —
  * 16 `when(graft_dot(v, plane_p) > 0, …)` columns folded into an array —
  * generated a scan-filter method sitting exactly at HotSpot's 8 KB
  * huge-method bytecode limit (`DontCompileHugeMethods`). It JIT-compiled
  * by luck; adding ANY conjunct (the round-13 degenerate-vector gate, 69
  * chars) tipped the method over the limit, HotSpot silently refused to
  * compile it, and the whole filter ran as interpreted bytecode — a
  * measured 5× per-task inflation with a byte-identical query plan. One
  * loop nest over a referenced `double[][]` emits ~30 lines of generated
  * code regardless of table count, so the method stays compilable at any
  * L×k and the plan is no longer one conjunct away from a silent cliff.
  *
  * Semantics are bit-identical to the compositional form (pinned by
  * PropertySpec): dot widens each element to double and folds
  * left-to-right (the graft_dot contract); a null ELEMENT makes every dot
  * null, every `null > 0` CASE falls to its 0 branch, and the buckets are
  * all-zero — reproduced here as an explicit null-element scan. A null
  * vector is null-in/null-out. Planes and k are build-time constants
  * (foldable literals), referenced — never inlined — by the generated
  * code. */
case class LshBuckets(child: Expression, planes: Seq[Seq[Double]], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  // Seq in the constructor keeps case-class equality structural (Array
  // fields compare by reference and would defeat expression
  // canonicalization); the tight loops index the primitive view.
  @transient private lazy val planesArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(t, _) if t == DoubleType || t == FloatType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_lsh_buckets expects array<float|double> input, got " +
          s"${child.dataType.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def elementsNullable: Boolean =
    child.dataType match { case ArrayType(_, n) => n; case _ => false }
  private def nTables: Int = planes.length / k

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val f = isFloat
    val checkNulls = elementsNullable
    val res = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var b = 0L
      var j = 0
      while (j < k) {
        val plane = planesArr(t * k + j)
        val n = math.min(x.numElements(), plane.length)
        var s = 0.0
        var nul = false
        var i = 0
        while (i < n && !nul) {
          // Null handling must be PER PLANE and bounded by THAT plane's
          // dot range, exactly like graft_dot's early exit: a null element
          // at index >= len(plane) never enters the dot, so it must not
          // zero the bucket (the first randomized equivalence run caught a
          // whole-vector null prescan doing exactly that on a dim-65+
          // vector whose only null sat past the planes' 64 dims).
          if (checkNulls && x.isNullAt(i)) nul = true
          else {
            s += (if (f) x.getFloat(i).toDouble else x.getDouble(i)) * plane(i)
            i += 1
          }
        }
        // Null dot -> CASE falls to 0: no bit. Spark's double ordering
        // ranks NaN above every value, so the compositional
        // `graft_dot > 0` this replaces is TRUE for a NaN dot — mirror
        // that, not Java's NaN-false comparison.
        if (!nul && (s > 0.0 || java.lang.Double.isNaN(s))) b |= (1L << j)
        j += 1
      }
      res(t) = b
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(res)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ps = ctx.addReferenceObj("planes", planesArr, "double[][]")
      val t = ctx.freshName("t"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val b = ctx.freshName("b")
      val res = ctx.freshName("res"); val pl = ctx.freshName("pl")
      val nul = ctx.freshName("nul")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      // Null check PER PLANE, bounded by that plane's dot range — the
      // graft_dot early-exit contract (see nullSafeEval). Emitted only
      // when the schema admits null elements.
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i)) { $nul = true; break; }"
        else ""
      s"""
         |final long[] $res = new long[$nTables];
         |for (int $t = 0; $t < $nTables; $t++) {
         |  long $b = 0L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    final double[] $pl = $ps[$t * $k + $j];
         |    final int $n = Math.min($a.numElements(), $pl.length);
         |    double $s = 0.0;
         |    boolean $nul = false;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $nullCheck
         |      $s += $get * $pl[$i];
         |    }
         |    if (!$nul && ($s > 0.0 || Double.isNaN($s))) { $b |= (1L << $j); }
         |  }
         |  $res[$t] = $b;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($res);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

object VectorFunctions {
  /** ONE SQL builder per graft function, shared by BOTH registration paths
    * (session-registry [[register]] and [[GraftExtensions]]) — the literal/
    * arity rules were previously duplicated verbatim 4× and invited drift
    * (round-8 ADVICE). Arity is guarded with a descriptive
    * IllegalArgumentException (bare `exprs(1)` threw
    * IndexOutOfBoundsException at `graft_minhash(toks)`), and the int
    * parameter accepts any FOLDABLE IntegerType expression — `CAST(8 AS
    * INT)` or `4 + 4`, not just a bare literal — by constant-evaluating it
    * at build time (safe: foldable ⇒ deterministic, input-independent). */
  private def arity(fn: String, usage: String, n: Int)(
      exprs: Seq[Expression]): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments — $usage — got ${exprs.length}")

  private def foldableInt(fn: String, arg: String, e: Expression): Int =
    if (e.foldable && e.dataType == IntegerType) e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case _ => throw new IllegalArgumentException(
        s"$fn: $arg must not be NULL")
    } else throw new IllegalArgumentException(
      s"$fn: $arg must be a foldable INT expression (e.g. a literal), " +
        s"got ${e.sql}")

  private val dotBuilder: Seq[Expression] => Expression = { exprs =>
    arity("graft_dot", "graft_dot(a, b)", 2)(exprs)
    DotProduct(exprs(0), exprs(1))
  }
  private val topkBuilder: Seq[Expression] => Expression =
    exprs => TopKBy.fromExprs(exprs) // fromExprs carries its own arity check
  private val minhashBuilder: Seq[Expression] => Expression = { exprs =>
    arity("graft_minhash", "graft_minhash(tokens, numHashes)", 2)(exprs)
    MinHashSignature(exprs(0),
      foldableInt("graft_minhash", "numHashes", exprs(1)))
  }
  private val shinglesBuilder: Seq[Expression] => Expression = { exprs =>
    arity("graft_shingles", "graft_shingles(tokens, n)", 2)(exprs)
    GramShingles(exprs(0), foldableInt("graft_shingles", "n", exprs(1)))
  }
  private val vecOkBuilder: Seq[Expression] => Expression = { exprs =>
    arity("graft_vec_ok", "graft_vec_ok(v)", 1)(exprs)
    VectorDefined(exprs(0))
  }

  private def foldablePlanes(fn: String, e: Expression): Seq[Seq[Double]] = {
    val ok = e.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => e.foldable
      case _ => false
    }
    if (!ok) throw new IllegalArgumentException(
      s"$fn: planes must be a foldable ARRAY<ARRAY<DOUBLE>> literal, got ${e.sql}")
    e.eval() match {
      case ad: ArrayData =>
        ad.toArray[ArrayData](ArrayType(DoubleType, containsNull = false))
          .map(_.toDoubleArray.toSeq).toSeq
      case _ => throw new IllegalArgumentException(s"$fn: planes must not be NULL")
    }
  }

  private val lshBuilder: Seq[Expression] => Expression = { exprs =>
    arity("graft_lsh_buckets", "graft_lsh_buckets(v, planes, k)", 3)(exprs)
    val planes = foldablePlanes("graft_lsh_buckets", exprs(1))
    val k = foldableInt("graft_lsh_buckets", "k", exprs(2))
    if (k < 1 || k > 63 || planes.isEmpty || planes.length % k != 0)
      throw new IllegalArgumentException(
        s"graft_lsh_buckets: need 1 <= k <= 63 and a plane count that is a " +
          s"multiple of k, got k=$k with ${planes.length} planes")
    LshBuckets(exprs(0), planes, k)
  }

  /** Every graft function as (SQL name, expression class, builder): the
    * one list both registration paths install, so neither can miss one. */
  private[plans] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      ("graft_dot", classOf[DotProduct], dotBuilder),
      ("graft_topk", classOf[TopKBy], topkBuilder),
      ("graft_minhash", classOf[MinHashSignature], minhashBuilder),
      ("graft_shingles", classOf[GramShingles], shinglesBuilder),
      ("graft_vec_ok", classOf[VectorDefined], vecOkBuilder),
      ("graft_lsh_buckets", classOf[LshBuckets], lshBuilder))

  /** Registers every graft function ([[functions]]) in the
    * session so the public `expr` API can reach the custom expressions.
    * Idempotent AND once-per-session: call inside each query fn (the
    * harness owns SparkSession construction — SURVEY §7.6); the
    * functionExists guard skips re-registration, which the round-3 bench
    * log showed spamming `SimpleFunctionRegistry ... replaced a previously
    * registered function` per query. A concurrent double-register is
    * harmless (createOrReplace is idempotent). The analyzer wraps the bare
    * AggregateFunction returned for graft_topk into an AggregateExpression
    * at resolution, like any built-in aggregate. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // Guard each function INDEPENDENTLY: a single graft_dot-only guard
    // around all registrations leaves a window where a concurrent caller
    // sees graft_dot present, skips graft_topk, and the registry stays
    // half-populated forever (UNRESOLVED_ROUTINE on the next graft_topk
    // plan). Per-function check-then-createOrReplace is race-safe because
    // createOrReplaceTempFunction itself is idempotent.
    functions.foreach { case (name, _, builder) =>
      if (!reg.functionExists(
          new org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** The deployment-grade registration path: when the application owns session
  * construction, enable with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. Exposes the
  * same functions as [[VectorFunctions.register]] without touching internal
  * session state at query time. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => KnnStrategy)
    ext.injectOptimizerRule(_ => KnnFilterPushdown)
    // The SAME list VectorFunctions.register installs — one definition of
    // the names and the arity/foldable-int rules for both paths.
    VectorFunctions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          cls.getCanonicalName, name),
        builder))
    }
  }
}
