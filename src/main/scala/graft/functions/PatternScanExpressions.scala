package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Aho–Corasick multi-pattern automaton (Aho & Corasick, CACM 1975):
  * goto/fail construction over the pattern trie, with each state's
  * fail-closure of pattern ends PRE-AGGREGATED at build time so the
  * scan is a plain O(n + matches) walk — one text pass counts every
  * occurrence (overlapping included) of every pattern, where the
  * per-pattern builtin (`length − length(replace(...))`) pays P passes
  * and misses overlaps.
  *
  * Built ONCE on the driver from the literal blocklist and shipped
  * inside the serialized plan (the automaton for a curation blocklist
  * is KB-sized — the broadcast-a-model pattern, not a join). Arrays
  * only; trivially serializable.
  */
final class AhoCorasick(val patterns: Seq[String]) extends Serializable {
  require(patterns.nonEmpty, "empty pattern list")
  require(patterns.forall(_.nonEmpty), "empty pattern")
  require(patterns.distinct.size == patterns.size, "duplicate patterns")

  // trie as growable parallel arrays; transitions as per-state sorted
  // (char, next) pairs — pattern alphabets are tiny, binary search wins
  // over a 64K-wide table per state
  private val (childChars, childNexts, failLink, endsHere) = {
    val chars = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Char])
    val nexts = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    val ends = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var st = 0
      p.foreach { c =>
        val idx = chars(st).indexOf(c)
        st = if (idx >= 0) nexts(st)(idx) else {
          chars(st) += c
          nexts(st) += chars.size
          chars += scala.collection.mutable.ArrayBuffer.empty[Char]
          nexts += scala.collection.mutable.ArrayBuffer.empty[Int]
          ends += scala.collection.mutable.ArrayBuffer.empty[Int]
          chars.size - 1
        }
      }
      ends(st) += pi
    }
    // BFS fail links; fold each state's fail-target ends into its own
    // list so the scan never chases output links
    val fail = new Array[Int](chars.size)
    val queue = scala.collection.mutable.Queue.empty[Int]
    chars(0).indices.foreach { i => fail(nexts(0)(i)) = 0; queue += nexts(0)(i) }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      chars(u).indices.foreach { i =>
        val c = chars(u)(i)
        val v = nexts(u)(i)
        var f = fail(u)
        var hop = -1
        while (hop < 0) {
          val j = chars(f).indexOf(c)
          if (j >= 0 && nexts(f)(j) != v) hop = nexts(f)(j)
          else if (f == 0) hop = 0
          else f = fail(f)
        }
        fail(v) = hop
        ends(v) ++= ends(hop)
        queue += v
      }
    }
    // sort each state's (char, next) pairs by char AFTER the build
    // (construction and fail-link BFS probe insertion order, which is
    // fine) so the scan's lookup really is Arrays.binarySearch
    val sortedPairs = chars.zip(nexts).map { case (cs, ns) =>
      val perm = cs.indices.sortBy(cs)
      (perm.map(cs).toArray, perm.map(ns).toArray)
    }
    (sortedPairs.map(_._1).toArray, sortedPairs.map(_._2).toArray,
      fail, ends.map(_.toArray).toArray)
  }

  /** Per-pattern counts of every (overlapping) occurrence in `s`. */
  def countAll(s: String): Array[Long] = {
    val counts = new Array[Long](patterns.size)
    var st = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      var moved = false
      while (!moved) {
        val idx = java.util.Arrays.binarySearch(childChars(st), c)
        if (idx >= 0) { st = childNexts(st)(idx); moved = true }
        else if (st == 0) moved = true
        else st = failLink(st)
      }
      val e = endsHere(st)
      var j = 0
      while (j < e.length) { counts(e(j)) += 1; j += 1 }
      i += 1
    }
    counts
  }
}

/** Per-row multi-pattern occurrence counts: array<long>, one slot per
  * blocklist pattern in order, counting every start position
  * (overlapping included) — the semantics the DuckDB oracle states
  * position by position via substr equality. Whole-stage codegen calls
  * the prebuilt automaton through a plan reference object, so the scan
  * stays inside the generated loop (no UDF boundary, no per-row
  * automaton rebuild). BMP contract as the other text expressions.
  */
case class MultiPatternCounts(child: Expression, patterns: Seq[String])
    extends UnaryExpression {
  require(patterns.nonEmpty && patterns.size <= 1024,
    "pattern list must be 1..1024 entries (driver-built automaton)")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "multi_pattern_counts"

  private lazy val automaton = new AhoCorasick(patterns)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      automaton.countAll(input.toString).map(Long.box(_): Any))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ac = ctx.addReferenceObj("ahoCorasick", automaton,
        classOf[AhoCorasick].getName)
      val cnts = ctx.freshName("cnts")
      val boxed = ctx.freshName("boxed")
      val i = ctx.freshName("i")
      s"""
         |long[] $cnts = $ac.countAll($a.toString());
         |Object[] $boxed = new Object[$cnts.length];
         |for (int $i = 0; $i < $cnts.length; $i++) {
         |  $boxed[$i] = java.lang.Long.valueOf($cnts[$i]);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($boxed);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MultiPatternCounts =
    copy(child = c)
}

object PatternScanExpressions {

  def multi_pattern_counts(text: Column, patterns: Seq[String]): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function(
      "multi_pattern_counts", text,
      org.apache.spark.sql.functions.array(
        patterns.map(org.apache.spark.sql.functions.lit): _*))
  }

  /** The DuckDB statement of one pattern's overlapping-start count:
    * positions i with substr(text, i, len) = pattern — the definition
    * [[MultiPatternCounts]] implements via the automaton. Single-quote
    * escaping applied; callers interpolate per literal pattern.
    */
  def patternCountSql(pattern: String, text: String = "text"): String = {
    val esc = pattern.replace("'", "''")
    val len = pattern.length
    s"len(list_filter(generate_series(1, length($text) - ${len - 1}), " +
      s"i -> substr($text, i::INT, $len) = '$esc'))"
  }

  val injectable: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("multi_pattern_counts", classOf[MultiPatternCounts],
      es => MultiPatternCounts(es.head, {
        val arr = es(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until arr.numElements()).map(i =>
          arr.getUTF8String(i).toString)
      })))

  def register(spark: SparkSession): Unit = GraftFunctions.register(spark, injectable)
}
