package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions for embedding math (SURVEY §7.3's
  * bench-gated custom tier): a single generated loop over the two float
  * arrays, no per-element boxing, no lambda-function call overhead —
  * measurably faster than composing `zip_with` + `aggregate` (which
  * allocates an intermediate array and evaluates a lambda per element),
  * and still fully inside whole-stage codegen.
  *
  * Float sums are order-dependent, so these power the production fast
  * path and rows-only queries; oracle-checked queries keep using the
  * quantized-integer forms in VectorFunctions.
  */
case class VecDotFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType == ArrayType(FloatType) ||
        e.dataType == ArrayType(FloatType, containsNull = false)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two array<float> arguments")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  // every local via ctx.freshName: two instances of this expression in
  // one codegen scope must not collide (a collision is a Janino compile
  // error and a silent fallback to interpreted execution)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDotFloat =
    copy(left = l, right = r)
}

/** One-pass cosine similarity: dot, |a|² and |b|² in a single generated
  * loop (three composed builtins would scan the arrays three times).
  */
case class VecCosineFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType == ArrayType(FloatType) ||
        e.dataType == ArrayType(FloatType, containsNull = false)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two array<float> arguments")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // locals via ctx.freshName — see VecDotFloat.doGenCode
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosineFloat =
    copy(left = l, right = r)
}

/** Exact integer dot product of two QUANTIZED vectors (array<long>) in
  * one generated loop — the oracle-deterministic counterpart of
  * [[VecDotFloat]], powering [[graft.ops.VectorFunctions.dotQ]] and
  * therefore the d13/s01/s12 cosine family. Integer sums are
  * order-free, so swapping the `aggregate(zip_with(...))` composition
  * (intermediate array allocation + a lambda call per element) for
  * this loop changes NO query result, only the cost per pair.
  *
  * Null semantics mirror the composition it replaces exactly:
  * `zip_with` pads the shorter array with nulls and `acc + null` is
  * null, so a length mismatch or any null element yields a NULL dot.
  */
case class VecDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two array<bigint> arguments")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot_q"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  // locals via ctx.freshName — see VecDotFloat.doGenCode
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDotLong =
    copy(left = l, right = r)
}

/** |A ∩ B| of two SORTED array<bigint> in one generated two-pointer
  * merge — no hash set, no intermediate intersection array, no
  * per-element lambda. This is the verify kernel of the exact
  * set-similarity join (d11: ~1.2M candidate pairs × two ~100-element
  * token arrays each at sf0.1), where `size(array_intersect(a, b))`
  * pays a per-row hash-set build plus an output array it immediately
  * reduces to a length.
  *
  * PRECONDITIONS (the caller's contract, not checked): both arrays
  * ascending-sorted (`sort_array`), elements non-null. On strict sets
  * (distinct elements — what `collect_list` over per-doc-distinct
  * token rows produces) the result equals
  * `size(array_intersect(a, b))` exactly; on multisets it counts
  * min-multiplicity per value (array_intersect would dedup), and on
  * UNSORTED input the count is undefined — keep the `sort_array`
  * upstream.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments (sorted)")
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  // locals via ctx.freshName — see VecDotFloat.doGenCode
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements(), $m = $b.numElements();
         |int $i = 0, $j = 0;
         |long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
}

object VecExpressions {

  /** Column API, self-registering (the MediaExpressions pattern): the
    * wrappers are called from query builders that never touch this
    * object, so each registers on the active session first. Resolution
    * goes through the function registry, keeping us off private Spark
    * internals. The session the column is used in must be the thread's
    * active one, or be built through `graft.Session` (which installs
    * every function at build); otherwise call [[register]] on it first.
    */
  def vec_dot(a: Column, b: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)
  }
  def vec_cosine(a: Column, b: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("vec_cosine", a, b)
  }

  /** Self-registering, like [[vec_dot]]. */
  def vec_dot_q(a: Column, b: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("vec_dot_q", a, b)
  }

  /** Self-registering, like [[vec_dot_q]]. See [[SortedIntersectSize]]
    * for the sortedness/distinctness contract.
    */
  def sorted_intersect_size(a: Column, b: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("sorted_intersect_size", a, b)
  }

  /** (name, expression class, builder): the ONE function table both
    * [[register]] and [[GraftExtensions]] consume.
    */
  val injectable: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDotFloat], es => VecDotFloat(es.head, es(1))),
    ("vec_cosine", classOf[VecCosineFloat], es => VecCosineFloat(es.head, es(1))),
    ("vec_dot_q", classOf[VecDotLong], es => VecDotLong(es.head, es(1))),
    ("sorted_intersect_size", classOf[SortedIntersectSize],
      es => SortedIntersectSize(es.head, es(1))))

  /** Register the functions for SQL use in an existing session. */
  def register(spark: SparkSession): Unit = GraftFunctions.register(spark, injectable)
}

/** Every native function on every install path: the extensions class
  * iterates the same `injectable` tables the per-session `register()`
  * helpers use, so the two surfaces cannot drift.
  */
object GraftFunctions {
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    VecExpressions.injectable ++ TextHashExpressions.injectable ++
      KmvExpressions.injectable ++ MediaExpressions.injectable ++
      TextNormExpressions.injectable ++ PatternScanExpressions.injectable

  /** The per-session install path behind every object's `register`:
    * (re)binds one function table in an existing session's registry.
    */
  def register(spark: SparkSession,
      table: Seq[(String, Class[_], Seq[Expression] => Expression)]): Unit =
    table.foreach { case (n, _, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(n, b, "built-in")
    }
}

/** Session-extensions entry point: registers every native function at
  * session build (`.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}
