package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native expression — the multilingual
  * dedup prerequisite Spark's function library lacks: "café" composed
  * (U+00E9) and decomposed (e + U+0301) are DIFFERENT byte strings, so
  * exact dedup (d01), fingerprints (t04), and decontamination keys all
  * silently miss equivalent text unless every engine normalizes first.
  * NFC is the W3C-recommended canonical form; `java.text.Normalizer`
  * implements the same Unicode-standard algorithm DuckDB's
  * `nfc_normalize` does, so normalized md5s hash-match across engines
  * (t19 proves it end to end).
  *
  * Codegen calls Normalizer directly (one branch + one library call on
  * the fast path: `isNormalized` short-circuits ASCII/already-NFC text
  * without allocating), staying inside whole-stage codegen like the
  * other native expressions in this package.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) input
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      s"""String $s = $c.toString();
         |if (java.text.Normalizer.isNormalized($s, java.text.Normalizer.Form.NFC)) {
         |  ${ev.value} = $c;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.text.Normalizer.normalize($s, java.text.Normalizer.Form.NFC));
         |}""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

object TextNormExpressions {

  def nfc_normalize(text: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("nfc_normalize", text)
  }

  /** (name, expression class, builder) — the MediaExpressions registry
    * shape, consumed by [[register]] and `GraftExtensions`.
    */
  val injectable: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("nfc_normalize", classOf[NfcNormalize], es => {
      if (es.size != 1)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "USER_RAISED_EXCEPTION",
          messageParameters = Map("errorMessage" ->
            s"nfc_normalize(text STRING) takes 1 argument, got ${es.size}"))
      NfcNormalize(es.head)
    }))

  def register(spark: SparkSession): Unit = GraftFunctions.register(spark, injectable)
}
