package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated TPC-H-ish test data
  * (see /root/repo/TESTDATA.md). At cluster scale these would be catalog
  * tables; the parquet read path is identical (vectorized scan, predicate
  * pushdown, column pruning all apply).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts arrives in two generator vintages: parquet
    * TIMESTAMP(NANOS) — which Spark's vectorized reader rejects unless
    * nanos are read as BIGINT via the legacy conf — and plain
    * TIMESTAMP(MICROS) (isAdjustedToUTC=false → TIMESTAMP_NTZ). Branch
    * on the RESOLVED schema: a LongType ts is nanos (convert with
    * integer division — a double division would lose precision above
    * 2^53 ns; truncation == floor for positive epochs), anything else
    * is cast to session-TZ TimestampType, an identity under the
    * engine's pinned UTC and the type every downstream query and
    * DuckDB oracle already agrees on.
    *
    * The nanosAsLong conf stays set for the session: it must hold at
    * SCAN time (executors read footers when the query actually runs),
    * so a set-then-restore scope around this method would break lazy
    * execution. Side effect: other TIMESTAMP(NANOS) reads in the same
    * session get BIGINT nanos instead of an error — acceptable for this
    * engine, whose only nanos source is events (see SCALING.md).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
}
