package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) bottom-k sketch as a native Catalyst
  * TypedImperativeAggregate — the custom-AGGREGATE tier of SURVEY §7.3
  * (the scalar tier is VecExpressions). The sketch keeps the k smallest
  * DISTINCT values of a long hash column in a bounded tree per
  * partial-aggregation buffer; partials merge by set-union-and-trim, so
  * the whole aggregation is one map-side-combined pass — no window
  * sort, no per-group explode.
  *
  * Unlike HLL/CMS over engine-private hashes (q19), a KMV over a
  * DETERMINISTIC hash is itself deterministic: the k smallest
  * md5-derived values are a pure function of the data, so the DuckDB
  * oracle replays the sketch exactly (a window rank does in SQL what
  * the bounded tree does in one pass). Downstream, the k-th smallest
  * hash h_k estimates distinct count as (k-1)·M/h_k — and when fewer
  * than k distinct values exist the sketch IS the exact distinct set.
  * Sketches are plain `array<long>` columns sorted ascending, so they
  * persist in any table format and re-merge later ([[BottomKMerge]]) —
  * the two-level shape an incremental 100 TB pipeline needs (per-day
  * sketches unioned into a monthly estimate without rescanning).
  */
abstract class BottomKBase
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with UnaryLike[Expression] {

  def k: Int

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  protected def checkK: TypeCheckResult =
    if (k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires k >= 1, got $k")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  /** The one bound-maintenance rule update() and merge() share: insert
    * if below capacity or below the current k-th minimum, then trim.
    * Values already above the k-th minimum are skipped — the common
    * case on big data; the tree stays size <= k at all times.
    */
  protected def insert(buffer: java.util.TreeSet[java.lang.Long], l: Long): Unit = {
    if (buffer.size() < k) buffer.add(l)
    else if (l < buffer.last()) { buffer.add(l); if (buffer.size() > k) buffer.pollLast() }
    ()
  }

  override def merge(buffer: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) insert(buffer, it.next())
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buffer.size())
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.size())
    bb.putInt(buffer.size())
    val it = buffer.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong); i += 1 }
    set
  }
}

/** Level-1 sketch build: bottom-k over a bigint hash column. */
case class BottomKHashes(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends BottomKBase {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) checkK
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint column, got ${child.dataType.catalogString}")

  override def prettyName: String = "bottom_k_hashes"

  override def update(buffer: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buffer, v.asInstanceOf[Long])
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKHashes =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKHashes =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BottomKHashes =
    copy(child = newChild)
}

/** Level-2 sketch merge: bottom-k over a column of SKETCHES
  * (`array<long>`, as produced by [[BottomKHashes]]). Re-aggregating
  * stored sketches is exact for KMV: the global bottom-k of a union is
  * the bottom-k of the per-group bottom-ks, so yesterday's persisted
  * sketch merges with today's at sketch size — never rescanning the
  * corpus. Same buffer/merge machinery as the builder; update() just
  * feeds every element of the incoming sketch through the shared
  * insert rule.
  */
case class BottomKMerge(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends BottomKBase {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => checkK
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> sketch column, got ${other.catalogString}")
  }

  override def prettyName: String = "bottom_k_merge"

  override def update(buffer: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) insert(buffer, arr.getLong(i))
        i += 1
      }
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BottomKMerge =
    copy(child = newChild)
}

object KmvExpressions {

  /** Column API, self-registering on the active session (the
    * MediaExpressions pattern). `k` must be a literal — it is part of
    * the sketch's identity, not data. The session the column is used
    * in must be the thread's active one, or be built through
    * `graft.Session` (which installs every function at build);
    * otherwise call [[register]] on it first.
    */
  def bottom_k_hashes(hashes: Column, k: Int): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("bottom_k_hashes",
      hashes, org.apache.spark.sql.functions.lit(k))
  }

  /** Merge a column of persisted sketches into one sketch of size k. */
  def bottom_k_merge(sketches: Column, k: Int): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function("bottom_k_merge",
      sketches, org.apache.spark.sql.functions.lit(k))
  }

  /** (name, expression class, builder): the ONE function table both
    * [[register]] and `GraftExtensions` consume — a function added here
    * ships on every install path by construction. Builders return the
    * bare AggregateFunction (mirroring Spark's built-in registry
    * entries): the analyzer wraps it in AggregateExpression.
    */
  val injectable: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("bottom_k_hashes", classOf[BottomKHashes],
      es => BottomKHashes(es.head, es(1).eval().asInstanceOf[Number].intValue())),
    ("bottom_k_merge", classOf[BottomKMerge],
      es => BottomKMerge(es.head, es(1).eval().asInstanceOf[Number].intValue())))

  def register(spark: SparkSession): Unit = GraftFunctions.register(spark, injectable)
}
