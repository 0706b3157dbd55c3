package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Character k-shingle hashes in ONE generated pass (SURVEY §7.3's
  * bench-gated custom tier). The md5-per-shingle formulation
  * (`md5(substr(text, i, k))` per sampled position) pays a digest, a hex
  * encode, and a base-16 parse per shingle — measured as the dominant
  * MinHash-LSH cost at sf0.1. This expression computes, per sampled
  * position, the polynomial hash
  *
  *   (Σ_j code(text[i+j]) * 31^(k-1-j)) mod 2^32
  *
  * with plain long multiply-adds (the unreduced sum fits a long for
  * k <= 8: 255 * Σ 31^j ≈ 7.2e12), no allocation per shingle, fully
  * inside whole-stage codegen. The DuckDB oracle states the identical
  * arithmetic with literal powers, so results hash-match bit-for-bit.
  *
  * Positions run 1, 1+stride, ... max(len-k+1, 1) (saturating so short
  * docs get one shingle); characters past the end contribute 0. Char
  * codes are UTF-16 units Spark-side == codepoints for BMP text (the
  * oracle's `ord()`); supplementary-plane text would diverge — the
  * corpus contract here is BMP.
  */
case class ShingleHash32(child: Expression, k: Int, stride: Int)
    extends UnaryExpression {
  // k <= 10: the ORACLE states the unreduced sum in checked BIGINT
  // arithmetic, and with BMP chars up to 0xFFFF the worst case at k=11
  // (0xFFFF * Σ 31^j ≈ 5.5e19) exceeds 2^63-1 — DuckDB would raise
  // out-of-range while Spark (whose wrap-around is harmless mod 2^32)
  // returned a value, a gate divergence masquerading as an engine bug.
  require(k >= 1 && k <= 10, "k > 10 can overflow the oracle's unreduced BIGINT sum for BMP text")
  require(stride >= 1, "stride must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash32"

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val n = s.length
    val last = math.max(n - k + 1, 1)
    val cnt = (last - 1) / stride + 1
    val out = new Array[Long](cnt)
    var p = 0
    while (p < cnt) {
      val i = p * stride
      var h = 0L
      var j = 0
      while (j < k) {
        val idx = i + j
        h = h * 31L + (if (idx < n) s.charAt(idx).toLong else 0L)
        j += 1
      }
      out(p) = h & 0xFFFFFFFFL
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      s"""
         |java.lang.String $s = $a.toString();
         |int $n = $s.length();
         |int $cnt = (java.lang.Math.max($n - $k + 1, 1) - 1) / $stride + 1;
         |long[] $out = new long[$cnt];
         |for (int $p = 0; $p < $cnt; $p++) {
         |  int $i = $p * $stride;
         |  long $h = 0L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    int $idx = $i + $j;
         |    $h = $h * 31L + ($idx < $n ? (long) $s.charAt($idx) : 0L);
         |  }
         |  $out[$p] = $h & 0xFFFFFFFFL;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): ShingleHash32 =
    copy(child = c)
}

/** All word-bigram hashes of a single-space-tokenized text in ONE
  * generated pass: for each adjacent word pair, the 32-bit masked
  * rolling hash h = (h*31 + code) mod 2^32 over the characters of
  * "w1 w2". Replaces md5-per-bigram (digest + hex + base-16 parse per
  * gram) in the n-gram dedup/contamination paths. The DuckDB oracle
  * states the identical fold with list_reduce, so results hash-match.
  *
  * Split semantics mirror `split(text, ' ')`: consecutive spaces
  * produce empty words (which still contribute their joining space to
  * the hash), trailing empties kept. BMP contract as ShingleHash32.
  */
case class BigramHash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bigram_hash32"

  override def nullSafeEval(input: Any): Any = {
    val words = input.toString.split(" ", -1)
    val n = words.length
    if (n < 2) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - 1)
    var i = 0
    while (i < n - 1) {
      var h = 0L
      val a = words(i); val b = words(i + 1)
      var j = 0
      while (j < a.length) { h = (h * 31L + a.charAt(j)) & 0xFFFFFFFFL; j += 1 }
      h = (h * 31L + 32L) & 0xFFFFFFFFL // the joining space
      j = 0
      while (j < b.length) { h = (h * 31L + b.charAt(j)) & 0xFFFFFFFFL; j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val words = ctx.freshName("words")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val j = ctx.freshName("j")
      val wa = ctx.freshName("wa")
      val wb = ctx.freshName("wb")
      s"""
         |java.lang.String[] $words = $a.toString().split(" ", -1);
         |int $n = $words.length;
         |long[] $out = new long[$n < 2 ? 0 : $n - 1];
         |for (int $i = 0; $i < $n - 1; $i++) {
         |  long $h = 0L;
         |  java.lang.String $wa = $words[$i];
         |  java.lang.String $wb = $words[$i + 1];
         |  for (int $j = 0; $j < $wa.length(); $j++) {
         |    $h = ($h * 31L + $wa.charAt($j)) & 0xFFFFFFFFL;
         |  }
         |  $h = ($h * 31L + 32L) & 0xFFFFFFFFL;
         |  for (int $j = 0; $j < $wb.length(); $j++) {
         |    $h = ($h * 31L + $wb.charAt($j)) & 0xFFFFFFFFL;
         |  }
         |  $out[$i] = $h;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): BigramHash32 =
    copy(child = c)
}

/** Whole 32-bit SimHash signature of a single-space-tokenized text in
  * ONE generated pass: per whitespace token, the masked rolling hash
  * (h*31 + code) mod 2^32 pushed through the murmur3 fmix32 finalizer
  * (short tokens leave a plain polynomial's high bits all-zero —
  * 255·31⁴ < 2^28 — which collapses SimHash's per-BIT votes; the
  * avalanche step restores uniform bits); per bit j, a ±1 vote by the
  * token's bit j; bit j of the signature = (vote sum > 0). Replaces an
  * explode(tokens) → md5 per token → groupBy(id) with 32 conditional
  * sums — i.e. the signature needs NO shuffle at all, the heaviest
  * part of the SimHash pipeline. The oracle states the same fold and
  * finalizer in SQL (HUGEINT for the 32×32-bit products; Java's
  * wrapping long multiply masked to 32 bits is the same value).
  */
case class SimHash32Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def nullSafeEval(input: Any): Any = {
    val words = input.toString.split(" ", -1)
    val votes = new Array[Int](32)
    var i = 0
    while (i < words.length) {
      var h = 0L
      val w = words(i)
      var j = 0
      while (j < w.length) { h = (h * 31L + w.charAt(j)) & 0xFFFFFFFFL; j += 1 }
      h ^= h >> 16
      h = (h * 0x85ebca6bL) & 0xFFFFFFFFL
      h ^= h >> 13
      h = (h * 0xc2b2ae35L) & 0xFFFFFFFFL
      h ^= h >> 16
      j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 32) { if (votes(j) > 0) sim |= 1L << j; j += 1 }
    sim
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val words = ctx.freshName("words")
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val w = ctx.freshName("w")
      val j = ctx.freshName("j")
      val sim = ctx.freshName("sim")
      s"""
         |java.lang.String[] $words = $a.toString().split(" ", -1);
         |int[] $votes = new int[32];
         |for (int $i = 0; $i < $words.length; $i++) {
         |  long $h = 0L;
         |  java.lang.String $w = $words[$i];
         |  for (int $j = 0; $j < $w.length(); $j++) {
         |    $h = ($h * 31L + $w.charAt($j)) & 0xFFFFFFFFL;
         |  }
         |  $h ^= $h >> 16;
         |  $h = ($h * 0x85ebca6bL) & 0xFFFFFFFFL;
         |  $h ^= $h >> 13;
         |  $h = ($h * 0xc2b2ae35L) & 0xFFFFFFFFL;
         |  $h ^= $h >> 16;
         |  for (int $j = 0; $j < 32; $j++) {
         |    if ((($h >> $j) & 1L) == 1L) $votes[$j]++; else $votes[$j]--;
         |  }
         |}
         |long $sim = 0L;
         |for (int $j = 0; $j < 32; $j++) {
         |  if ($votes[$j] > 0) $sim |= 1L << $j;
         |}
         |${ev.value} = $sim;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimHash32Expr =
    copy(child = c)
}

/** Content-defined chunking (the FastCDC/rsync family): split `text`
  * into variable-size chunks whose boundaries are chosen by CONTENT —
  * position i ends a chunk when the 32-bit masked polynomial hash of
  * the w-gram ENDING at i satisfies h ≡ 0 (mod divisor) — so an
  * insertion or deletion only re-chunks its local neighbourhood,
  * where fixed-width blocks (m03) shift every subsequent boundary.
  * This is the storage-dedup primitive (rsync, LBFS, FastCDC) applied
  * to corpus text: chunk-level dedup finds shared boilerplate between
  * documents whose offsets differ.
  *
  * ONE generated pass per row, O(n): the window hash is maintained by
  * the exact rolling update h' = (h − code_out·31^(w−1))·31 + code_in
  * (mod 2^32 — Java wrap-around masked to 32 bits), which equals the
  * direct polynomial the DuckDB oracle states position by position.
  * Expected chunk length ≈ divisor; no min/max clamp — a clamp makes
  * boundaries history-dependent (sequential state), which would break
  * the oracle's per-position restatement. The final partial chunk is
  * emitted unless a boundary fell exactly at the end; empty text →
  * empty array. BMP contract as ShingleHash32 (UTF-16 units == the
  * oracle's codepoints).
  */
case class CdcChunks(child: Expression, w: Int, divisor: Int)
    extends UnaryExpression {
  require(w >= 2 && w <= 10, "window must be in 2..10 (oracle BIGINT bound, as ShingleHash32)")
  require(divisor >= 2, "divisor must be >= 2 (1 would cut at every position)")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  /** 31^(w−1) mod 2^32 — the outgoing-character weight. */
  private val outPow: Long =
    (1 until w).foldLeft(1L)((acc, _) => (acc * 31L) & 0xFFFFFFFFL)

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val n = s.length
    val chunks = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.unsafe.types.UTF8String]
    var h = 0L
    var start = 0
    var i = 0
    while (i < n) {
      // drop the outgoing character from H(i−1) BEFORE the multiply-add
      // (afterwards its weight would already be 31^w, not 31^(w−1))
      if (i >= w) h = (h - (s.charAt(i - w) * outPow & 0xFFFFFFFFL)) & 0xFFFFFFFFL
      h = (h * 31L + s.charAt(i)) & 0xFFFFFFFFL
      if (i >= w - 1 && h % divisor == 0) {
        chunks += org.apache.spark.unsafe.types.UTF8String
          .fromString(s.substring(start, i + 1))
        start = i + 1
      }
      i += 1
    }
    if (start < n)
      chunks += org.apache.spark.unsafe.types.UTF8String
        .fromString(s.substring(start, n))
    new GenericArrayData(chunks.toArray[Any])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val h = ctx.freshName("h")
      val start = ctx.freshName("start")
      val i = ctx.freshName("i")
      s"""
         |java.lang.String $s = $a.toString();
         |int $n = $s.length();
         |java.util.ArrayList<Object> $out = new java.util.ArrayList<Object>();
         |long $h = 0L;
         |int $start = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($i >= $w) {
         |    $h = ($h - ($s.charAt($i - $w) * ${outPow}L & 0xFFFFFFFFL)) & 0xFFFFFFFFL;
         |  }
         |  $h = ($h * 31L + $s.charAt($i)) & 0xFFFFFFFFL;
         |  if ($i >= ${w - 1} && $h % $divisor == 0) {
         |    $out.add(org.apache.spark.unsafe.types.UTF8String.fromString(
         |      $s.substring($start, $i + 1)));
         |    $start = $i + 1;
         |  }
         |}
         |if ($start < $n) {
         |  $out.add(org.apache.spark.unsafe.types.UTF8String.fromString(
         |    $s.substring($start, $n)));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out.toArray());
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): CdcChunks =
    copy(child = c)
}

/** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD 2003 — the
  * MOSS document-fingerprinting scheme): per k-character gram the same
  * 32-bit polynomial hash as [[ShingleHash32]], then over every window
  * of `w` consecutive gram hashes the RIGHTMOST minimum is selected;
  * the distinct selected positions are the document's fingerprints.
  * Guarantee: any shared substring of length >= w + k - 1 between two
  * documents yields at least one shared fingerprint, while the expected
  * density is only 2/(w+1) of the grams — the sampling is CONTENT-
  * locked, so the same boilerplate selects the same grams in every
  * document regardless of its offset (the CDC idea applied to
  * similarity fingerprints instead of chunk boundaries).
  *
  * ONE generated pass, O(n + m·w) with m = n-k+1 grams and w a small
  * constant: the gram hashes come from the CdcChunks rolling update
  * and the per-window rightmost-min scan re-reads only w entries.
  * Output: array<long> of `pos · 2^32 + hash` (pos = 1-based gram
  * start), strictly increasing in pos — the rightmost-min selection is
  * non-decreasing as the window slides (a freshly selected position
  * can only be >= the previous one while that one is still in scope),
  * so consecutive-duplicate suppression yields the distinct set in
  * order. Texts with 0 < m < w grams get ONE fingerprint (the
  * rightmost min of all m) so every doc with a full gram is indexed;
  * m < 1 yields an empty array. BMP contract as ShingleHash32.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  // the rolling update is mod-2^32 at every step, so any k is exact;
  // the ORACLE side is safe too now that polyPowers reduces mod 2^32
  // (per-term bound 0xFFFF·(2^32−1), k-term BIGINT sum exact). 64
  // bounds the per-row gram buffer to sane sizes.
  require(k >= 2 && k <= 64, "gram size must be in 2..64")
  require(w >= 2 && w <= 64, "winnow window must be in 2..64")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  /** 31^(k−1) mod 2^32 — the outgoing-character weight. */
  private val outPow: Long =
    (1 until k).foldLeft(1L)((acc, _) => (acc * 31L) & 0xFFFFFFFFL)

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val n = s.length
    val m = n - k + 1
    if (m < 1) return new GenericArrayData(Array.empty[Any])
    val g = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < n) {
      if (i >= k) h = (h - (s.charAt(i - k) * outPow & 0xFFFFFFFFL)) & 0xFFFFFFFFL
      h = (h * 31L + s.charAt(i)) & 0xFFFFFFFFL
      if (i >= k - 1) g(i - k + 1) = h
      i += 1
    }
    val nWin = math.max(m - w + 1, 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var last = -1
    var j = 0
    while (j < nWin) {
      val end = math.min(j + w - 1, m - 1)
      var best = j
      var p = j + 1
      while (p <= end) {
        if (g(p) <= g(best)) best = p // <= : rightmost minimum
        p += 1
      }
      if (best != last) {
        out += ((best + 1).toLong << 32) | g(best)
        last = best
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val g = ctx.freshName("g")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val last = ctx.freshName("last")
      val nWin = ctx.freshName("nWin")
      val j = ctx.freshName("j")
      val end = ctx.freshName("end")
      val best = ctx.freshName("best")
      val p = ctx.freshName("p")
      s"""
         |java.lang.String $s = $a.toString();
         |int $n = $s.length();
         |int $m = $n - $k + 1;
         |java.util.ArrayList<Object> $out = new java.util.ArrayList<Object>();
         |if ($m >= 1) {
         |  long[] $g = new long[$m];
         |  long $h = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($i >= $k) {
         |      $h = ($h - ($s.charAt($i - $k) * ${outPow}L & 0xFFFFFFFFL)) & 0xFFFFFFFFL;
         |    }
         |    $h = ($h * 31L + $s.charAt($i)) & 0xFFFFFFFFL;
         |    if ($i >= ${k - 1}) $g[$i - ${k - 1}] = $h;
         |  }
         |  int $nWin = java.lang.Math.max($m - $w + 1, 1);
         |  int $last = -1;
         |  for (int $j = 0; $j < $nWin; $j++) {
         |    int $end = java.lang.Math.min($j + ${w - 1}, $m - 1);
         |    int $best = $j;
         |    for (int $p = $j + 1; $p <= $end; $p++) {
         |      if ($g[$p] <= $g[$best]) $best = $p;
         |    }
         |    if ($best != $last) {
         |      $out.add(java.lang.Long.valueOf((((long) ($best + 1)) << 32) | $g[$best]));
         |      $last = $best;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out.toArray());
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
    copy(child = c)
}

/** Longest common prefix of two SUFFIXES of the same text: character
  * count shared by the suffixes starting at 1-based positions i and j —
  * the adjacent-rank LCP step of the suffix-array family (d31), kept as
  * an in-place scan so no suffix COPY is ever materialized (the naive
  * `substring(text, i)` pair allocates O(n) per row; this walks the
  * shared prefix only). Out-of-range positions contribute an empty
  * suffix (LCP 0). BMP contract as the sibling expressions.
  */
case class LcpAt(text: Expression, i: Expression, j: Expression)
    extends TernaryExpression {
  override def first: Expression = text
  override def second: Expression = i
  override def third: Expression = j

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType == StringType && i.dataType == IntegerType &&
        j.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, int, int) arguments")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "lcp_at"

  override def nullSafeEval(t: Any, iv: Any, jv: Any): Any = {
    val s = t.toString
    var a = iv.asInstanceOf[Int] - 1
    var b = jv.asInstanceOf[Int] - 1
    var n = 0
    if (a >= 0 && b >= 0) {
      while (a < s.length && b < s.length && s.charAt(a) == s.charAt(b)) {
        a += 1; b += 1; n += 1
      }
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, iv, jv) => {
      val s = ctx.freshName("s")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      s"""
         |java.lang.String $s = $t.toString();
         |int $a = $iv - 1;
         |int $b = $jv - 1;
         |int $n = 0;
         |if ($a >= 0 && $b >= 0) {
         |  while ($a < $s.length() && $b < $s.length()
         |      && $s.charAt($a) == $s.charAt($b)) {
         |    $a++; $b++; $n++;
         |  }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): LcpAt = LcpAt(f, s, t)
}

/** Batched [[LcpAt]]: the LCPs of MANY suffix pairs of ONE text in a
  * single evaluation — `array<struct<pos_a int, pos_b int>>` in,
  * `array<int>` out, element i the LCP of the suffixes at pairs[i].
  * The point is the char decode: a per-pair scalar expression inside
  * `transform()` re-decodes the whole UTF-8 text EVERY element
  * (`UTF8String.toString` is a full copy — measured 170 s on d32's
  * group-concatenated strings, ~74 KB × 74k pairs × 20 groups); this
  * decodes once per ROW and scans pairs in place. Null pair entries
  * are not expected (builder arrays are struct-complete); i/j
  * out-of-range contribute LCP 0, as LcpAt.
  */
case class LcpPairs(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = right.dataType match {
    case ArrayType(s: StructType, _)
        if left.dataType == StringType && s.size == 2 &&
          s.fields.forall(_.dataType == IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, array<struct<int,int>>) arguments")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "lcp_pairs"

  override def nullSafeEval(t: Any, ps: Any): Any = {
    val s = t.toString
    val arr = ps.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val out = new Array[Int](arr.numElements())
    var e = 0
    while (e < out.length) {
      val st = arr.getStruct(e, 2)
      var a = st.getInt(0) - 1
      var b = st.getInt(1) - 1
      var n = 0
      if (a >= 0 && b >= 0) {
        while (a < s.length && b < s.length && s.charAt(a) == s.charAt(b)) {
          a += 1; b += 1; n += 1
        }
      }
      out(e) = n
      e += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, ps) => {
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      val e = ctx.freshName("e")
      val st = ctx.freshName("st")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      s"""
         |java.lang.String $s = $t.toString();
         |int[] $out = new int[$ps.numElements()];
         |for (int $e = 0; $e < $out.length; $e++) {
         |  org.apache.spark.sql.catalyst.InternalRow $st = $ps.getStruct($e, 2);
         |  int $a = $st.getInt(0) - 1;
         |  int $b = $st.getInt(1) - 1;
         |  int $n = 0;
         |  if ($a >= 0 && $b >= 0) {
         |    while ($a < $s.length() && $b < $s.length()
         |        && $s.charAt($a) == $s.charAt($b)) {
         |      $a++; $b++; $n++;
         |    }
         |  }
         |  $out[$e] = $n;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): LcpPairs = LcpPairs(l, r)
}

object TextHashExpressions {

  /** The DuckDB statement of the per-token masked rolling hash used by
    * [[SimHash32Expr]] (and, per word pair, [[BigramHash32]]).
    */
  def tokenFoldSql(w: String = "w"): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split_regex($w, ''), " +
      "c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * 31 + b) % 4294967296)"

  def simhash32(text: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("simhash32", text)
  }

  /** The DuckDB statement of [[BigramHash32]]: per adjacent word pair,
    * a list_reduce fold of (h*31 + code) mod 2^32 over the characters
    * of "w1 w2". `ws` must be the string_split(text, ' ') list.
    */
  def bigramFoldSql(ws: String = "ws"): String =
    s"list_transform(generate_series(1, len($ws) - 1), " +
      s"i -> list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split_regex($ws[i::INT] || ' ' || $ws[(i + 1)::INT], ''), " +
      "c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * 31 + b) % 4294967296))"

  def bigram_hash32(text: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("bigram_hash32", text)
  }

  /** The literal 31-powers the DuckDB oracle must use for the same k —
    * REDUCED mod 2^32: the final hash is mod 2^32, so modded powers
    * give the identical result while keeping every oracle-side term
    * ≤ 0xFFFF·(2^32−1) ≈ 2.8e14 — the k-term BIGINT sum stays exact
    * for any k up to ~2^15 instead of overflowing past k = 8 (the
    * un-modded 31^(k−1) passes 2^63/0xFFFF at k = 9 on BMP input).
    */
  def polyPowers(k: Int): Seq[Long] =
    (0 until k).map(j => (0 until (k - 1 - j))
      .foldLeft(1L)((acc, _) => (acc * 31L) & 0xFFFFFFFFL))

  def shingle_hash32(text: Column, k: Int, stride: Int): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function(
      "shingle_hash32", text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(stride))
  }

  def cdc_chunks(text: Column, w: Int, divisor: Int): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function(
      "cdc_chunks", text,
      org.apache.spark.sql.functions.lit(w),
      org.apache.spark.sql.functions.lit(divisor))
  }

  def lcp_at(text: Column, i: Column, j: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("lcp_at", text, i, j)
  }

  def lcp_pairs(text: Column, pairs: Column): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("lcp_pairs", text, pairs)
  }

  def winnow_fingerprints(text: Column, k: Int, w: Int): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function(
      "winnow_fingerprints", text,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))
  }

  /** The DuckDB statement of [[WinnowFingerprints]]'s gram-hash list:
    * per 1-based start position, the direct k-gram polynomial (literal
    * powers from [[polyPowers]] — mathematically equal to the engine's
    * rolling update). Compose with [[winnowSelectSql]] via a CTE that
    * names this list `gs`.
    */
  def winnowGramsSql(k: Int, text: String = "text"): String = {
    val poly = polyPowers(k).zipWithIndex.map { case (pw, j) =>
      s"CAST(ord(substr($text, (i + $j)::INT, 1)) AS BIGINT) * $pw"
    }.mkString("(", " + ", ") % 4294967296")
    s"CASE WHEN length($text) < $k THEN CAST([] AS BIGINT[]) " +
      s"ELSE list_transform(generate_series(1, length($text) - ${k - 1}), i -> $poly) END"
  }

  /** The DuckDB statement of the winnowing SELECTION over a gram-hash
    * list column `gs`: per window j (slices are 1-based inclusive), the
    * RIGHTMOST index achieving the window minimum —
    * `len(slice) + 1 − list_position(list_reverse(slice), list_min(slice))`
    * — deduplicated and sorted; the short-text single-window case rides
    * the same greatest/least clamps the engine uses. Yields the sorted
    * list of selected 1-based gram positions.
    */
  def winnowSelectSql(w: Int, gs: String = "gs"): String = {
    val slice = s"$gs[j:least(j + ${w - 1}, len($gs))]"
    s"""CASE WHEN len($gs) = 0 THEN CAST([] AS BIGINT[]) ELSE
       |  list_sort(list_distinct(list_transform(
       |    generate_series(1, greatest(len($gs) - ${w - 1}, 1)),
       |    j -> j - 1 + len($slice) + 1
       |         - list_position(list_reverse($slice), list_min($slice))))) END""".stripMargin
  }

  /** The DuckDB statement of [[CdcChunks]]'s boundary predicate as a
    * list of 1-based END positions: for each e in w..n, the DIRECT
    * window polynomial Σ code(text[e−w+j]) · 31^(w−1−j) mod 2^32
    * (mathematically equal to the engine's rolling update), kept where
    * ≡ 0 (mod divisor). Literal powers generated from [[polyPowers]]
    * so the two statements cannot drift.
    */
  def cdcBoundsSql(w: Int, divisor: Int, text: String = "text"): String = {
    val poly = polyPowers(w).zipWithIndex.map { case (pw, j) =>
      s"CAST(ord(substr($text, (e - ${w - 1} + $j)::INT, 1)) AS BIGINT) * $pw"
    }.mkString("(", " + ", ") % 4294967296")
    s"list_filter(generate_series($w, length($text)), e -> $poly % $divisor = 0)"
  }

  /** (name, expression class, builder): the ONE function table both
    * [[register]] and `GraftExtensions` consume.
    */
  val injectable: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("shingle_hash32", classOf[ShingleHash32],
      es => ShingleHash32(es.head,
        es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
    ("bigram_hash32", classOf[BigramHash32], es => BigramHash32(es.head)),
    ("simhash32", classOf[SimHash32Expr], es => SimHash32Expr(es.head)),
    ("cdc_chunks", classOf[CdcChunks],
      es => CdcChunks(es.head,
        es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
    ("winnow_fingerprints", classOf[WinnowFingerprints],
      es => WinnowFingerprints(es.head,
        es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
    ("lcp_at", classOf[LcpAt], es => LcpAt(es.head, es(1), es(2))),
    ("lcp_pairs", classOf[LcpPairs], es => LcpPairs(es.head, es(1))))

  /** Idempotent per-session registration (resolution goes through the
    * function registry — no private Spark internals).
    */
  def register(spark: SparkSession): Unit = GraftFunctions.register(spark, injectable)
}
