package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Per-window PCM8 energy profile in ONE generated pass (SURVEY §7.3's
  * bench-gated custom tier, the multimodal counterpart of
  * `ShingleHash32`). The SQL formulation pays hex() + a substr + a
  * base-16 `conv` PER BYTE — measured at 2.6 s for m05 at sf0.1, one
  * of the suite's top lines. This expression walks the payload's bytes
  * directly: for window p of `windowBytes` bytes, energy =
  * Σ (unsigned(b) − 128)², exact long arithmetic, no allocation per
  * byte, fully inside whole-stage codegen.
  *
  * Window rule shared with `Multimodal.sampleFrames`/the m05 oracle:
  * max(n div W, 1) windows — full windows only, except a single short
  * window when the whole payload is shorter than W; an empty payload
  * yields an empty profile (no phantom window). The DuckDB oracle
  * states the identical arithmetic over hex-sliced windows, so
  * results hash-match bit-for-bit.
  */
case class Pcm8WindowEnergy(child: Expression, windowBytes: Int)
    extends UnaryExpression {
  require(windowBytes >= 1, s"windowBytes must be >= 1, got $windowBytes")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary argument")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pcm8_window_energy"

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val n = b.length
    if (n == 0) new GenericArrayData(Array.emptyLongArray)
    else {
      val cnt = math.max(n / windowBytes, 1)
      val out = new Array[Long](cnt)
      var p = 0
      while (p < cnt) {
        // window end in LONG arithmetic: (p+1)*windowBytes can exceed
        // Int.MaxValue for ~2 GiB payloads with large windows, and the
        // int overflow would silently zero the last window's energy
        val end = math.min((p + 1).toLong * windowBytes, n.toLong).toInt
        var e = 0L
        var i = p * windowBytes
        while (i < end) {
          val d = (b(i) & 0xFF).toLong - 128L
          e += d * d
          i += 1
        }
        out(p) = e
        p += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val end = ctx.freshName("end")
      val e = ctx.freshName("e")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.length;
         |int $cnt = ($n == 0) ? 0 : java.lang.Math.max($n / $windowBytes, 1);
         |long[] $out = new long[$cnt];
         |for (int $p = 0; $p < $cnt; $p++) {
         |  int $end = (int) java.lang.Math.min(($p + 1L) * $windowBytes, (long) $n);
         |  long $e = 0L;
         |  for (int $i = $p * $windowBytes; $i < $end; $i++) {
         |    long $d = (long)($a[$i] & 0xFF) - 128L;
         |    $e += $d * $d;
         |  }
         |  $out[$p] = $e;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Pcm8WindowEnergy =
    copy(child = c)
}

/** 2:1 PCM8 decimation in ONE generated pass (m14): output sample j =
  * ⌊(u(2j) + u(2j+1)) / 2⌋ over UNSIGNED bytes — the box-filter
  * half-rate resampler (average-then-drop), the cheapest alias-
  * guarded downsample. Both inputs are non-negative (0..255), so
  * truncating and floor division agree and the DuckDB oracle's `//`
  * states the identical value. An odd trailing sample passes through
  * unaveraged; empty payloads stay empty. Output length = ⌈n/2⌉.
  */
case class Pcm8Decimate(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary argument")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pcm8_decimate"

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val n = b.length
    val out = new Array[Byte]((n + 1) / 2)
    var j = 0
    while (j < out.length) {
      val a = b(2 * j) & 0xFF
      val v = if (2 * j + 1 < n) (a + (b(2 * j + 1) & 0xFF)) / 2 else a
      out(j) = v.toByte
      j += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.length;
         |byte[] $out = new byte[($n + 1) / 2];
         |for (int $j = 0; $j < $out.length; $j++) {
         |  int $x = $a[2 * $j] & 0xFF;
         |  int $v = (2 * $j + 1 < $n) ? ($x + ($a[2 * $j + 1] & 0xFF)) / 2 : $x;
         |  $out[$j] = (byte) $v;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Pcm8Decimate =
    copy(child = c)
}

/** Peak (gain) normalization in ONE generated pass (m15): scale every
  * sample so the loudest reaches full scale — the level-matching step
  * audio pipelines run before energy thresholds or features compare
  * across recordings. Two row-local scans: peak = max |u(i) − 128|,
  * then out(i) = 128 ± (|u(i) − 128| · 127) / peak with the MAGNITUDE
  * scaled and the sign re-applied — scaling a signed value directly
  * would hit the truncate-vs-floor divergence on negative operands
  * (Java truncates toward zero, the oracle's `//` floors); magnitudes
  * are non-negative, where the two agree. All-silence payloads (peak
  * 0) pass through unchanged.
  */
case class Pcm8Normalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary argument")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pcm8_normalize"

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    var peak = 0
    var i = 0
    while (i < b.length) {
      val m = math.abs((b(i) & 0xFF) - 128)
      if (m > peak) peak = m
      i += 1
    }
    if (peak == 0) b
    else {
      val out = new Array[Byte](b.length)
      i = 0
      while (i < b.length) {
        val d = (b(i) & 0xFF) - 128
        val m = math.abs(d) * 127 / peak
        out(i) = (if (d >= 0) 128 + m else 128 - m).toByte
        i += 1
      }
      out
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val peak = ctx.freshName("peak")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val m = ctx.freshName("m")
      s"""
         |int $peak = 0;
         |for (int $i = 0; $i < $a.length; $i++) {
         |  int $m = java.lang.Math.abs(($a[$i] & 0xFF) - 128);
         |  if ($m > $peak) $peak = $m;
         |}
         |byte[] $out;
         |if ($peak == 0) {
         |  $out = $a;
         |} else {
         |  $out = new byte[$a.length];
         |  for (int $i = 0; $i < $a.length; $i++) {
         |    int $d = ($a[$i] & 0xFF) - 128;
         |    int $m = java.lang.Math.abs($d) * 127 / $peak;
         |    $out[$i] = (byte) ($d >= 0 ? 128 + $m : 128 - $m);
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Pcm8Normalize =
    copy(child = c)
}

object MediaExpressions {

  def pcm8_window_energy(payload: Column, windowBytes: Int): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function(
      "pcm8_window_energy", payload,
      org.apache.spark.sql.functions.lit(windowBytes))
  }

  /** (name, expression class, builder) — consumed by [[register]] and
    * `GraftExtensions`' aggregate table. */
  def pcm8_decimate(payload: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("pcm8_decimate", payload)
  }

  def pcm8_normalize(payload: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("pcm8_normalize", payload)
  }

  val injectable: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("pcm8_window_energy", classOf[Pcm8WindowEnergy],
      es => Pcm8WindowEnergy(es.head, windowArg(es))),
    ("pcm8_decimate", classOf[Pcm8Decimate], es => Pcm8Decimate(es.head)),
    ("pcm8_normalize", classOf[Pcm8Normalize], es => Pcm8Normalize(es.head)))

  /** The second argument must be a foldable INT literal — validated
    * with a typed analysis message instead of the opaque
    * ClassCastException a raw-SQL `pcm8_window_energy(b, 1000000000000)`
    * or non-literal column argument produced.
    */
  private def windowArg(es: Seq[Expression]): Int = {
    def fail(what: String) = throw new org.apache.spark.sql.AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" ->
        (s"pcm8_window_energy(payload BINARY, windowBytes INT): " +
          s"windowBytes must be a foldable integer literal, got $what")))
    if (es.size != 2) fail(s"${es.size} arguments")
    val w = es(1)
    if (!w.foldable) fail(w.sql)
    w.eval() match {
      case i: Int => i
      case other => fail(s"${w.dataType.simpleString} ${String.valueOf(other)}")
    }
  }

  def register(spark: SparkSession): Unit = GraftFunctions.register(spark, injectable)
}
