package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the query workloads' input tables in the shape of the
  * repository's synthetic test data: a TPC-H-like star schema, an
  * `events` stream, `documents` and `embeddings`, one parquet directory
  * per table, read back through `graft.sources.Tables`.
  *
  * Every value is a hash of (row id, column salt), so the tables do not
  * depend on partitioning or thread timing: the same scale gives the
  * same bytes of data on every run, which is what lets the query outputs
  * be pinned.
  */
object TableGen {

  /** Row counts of one scale. */
  final case class Scale(customer: Long, supplier: Long,
      part: Long, orders: Long, lineitem: Long, events: Long, users: Long,
      documents: Long, embeddings: Long)

  /** The repository's sf0.01 sizes, and a smaller one for self-tests. */
  val Scales: Map[String, Scale] = Map(
    "sf0.01" -> Scale(1500, 100, 2000, 15000, 60000, 10000, 150, 500, 500),
    "tiny" -> Scale(150, 10, 200, 1500, 6000, 1000, 50, 120, 120))

  private val Vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "data", "column", "join", "small", "customer",
    "query", "big", "order", "stream", "group", "filter", "vector")

  private def u(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(id, salt, values.size.toLong) + 1).cast("int"))

  /** Uniform in [lo, hi] hundredths, as a double. */
  private def hundredths(id: Column, salt: Int, lo: Long, hi: Long): Column =
    (u(id, salt, hi - lo + 1) + lo) / 100.0

  private def dayFrom(base: String, id: Column, salt: Int, days: Long): Column =
    date_add(lit(base).cast("date"), u(id, salt, days).cast("int")).cast("timestamp")

  def write(spark: SparkSession, dir: String, s: Scale): Unit = {
    def out(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite")
        .option("compression", "snappy")
        .parquet(s"$dir/$name.parquet")
    def range(n: Long): DataFrame = spark.range(0, n, 1, 1).toDF()
    val id = col("id")

    out("region", range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    out("nation", range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5)).cast("int").as("n_regionkey")))
    out("customer", range(s.customer).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(id, 1, 25).cast("int").as("c_nationkey"),
      hundredths(id, 2, -99999, 999999).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    out("supplier", range(s.supplier).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(id, 4, 25).cast("int").as("s_nationkey"),
      hundredths(id, 5, -99999, 999999).as("s_acctbal")))
    out("part", range(s.part).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(id, 6, Seq("blue", "old", "small", "new", "hot", "large", "cold", "red")),
        pick(id, 7, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"))).as("p_name"),
      concat(lit("Brand#"), (u(id, 8, 25) + 1).cast("string")).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (u(id, 10, 50) + 1).cast("int").as("p_size"),
      ((lit(9000) + pmod(id, lit(1000))) / 10.0).as("p_retailprice")))
    out("orders", range(s.orders).select(id.as("o_orderkey"),
      u(id, 11, s.customer).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      hundredths(id, 13, 100000, 50000000).as("o_totalprice"),
      dayFrom("1995-01-01", id, 14, 2404).as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    out("lineitem", range(s.lineitem).select(
      u(id, 16, s.orders).as("l_orderkey"),
      u(id, 17, s.part).as("l_partkey"),
      u(id, 18, s.supplier).as("l_suppkey"),
      (u(id, 19, 7) + 1).cast("int").as("l_linenumber"),
      (u(id, 20, 50) + 1).cast("double").as("l_quantity"),
      hundredths(id, 21, 90000, 10500000).as("l_extendedprice"),
      (u(id, 22, 11) / 100.0).as("l_discount"),
      (u(id, 23, 9) / 100.0).as("l_tax"),
      pick(id, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 25, Seq("O", "F")).as("l_linestatus"),
      dayFrom("1995-01-02", id, 26, 2499).as("l_shipdate")))
    // one event every `gap` microseconds on average across 30 days
    val gap = 30L * 86400L * 1000000L / s.events
    out("events", range(s.events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * gap + u(id, 27, gap)).as("ts"),
      u(id, 28, s.users).as("user_id"),
      pick(id, 29, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      hundredths(id, 30, 1, 49002).as("value"),
      format_string("{\"k\": %d}", u(id, 31, 100)).as("props")))
    out("documents", documents(range(s.documents), id))
    out("embeddings", range(s.embeddings).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), k =>
        ((pmod(xxhash64(u(id, 32, 10), k, lit(33)), lit(2001)) - 1000) / 1000.0 +
          (pmod(xxhash64(id, k, lit(34)), lit(401)) - 200) / 1000.0).cast("float")).as("embedding"),
      u(id, 32, 10).cast("int").as("label")))
  }

  /** Word-salad documents over a small vocabulary, with planted copies:
    * every 50th document (offset 7) repeats an earlier text exactly, and
    * two in 50 repeat an earlier text with one word changed, so the
    * dedup and repeat-search operators have real matches to find.
    */
  private def documents(rows: DataFrame, id: Column): DataFrame = {
    val m = pmod(id, lit(50))
    val near = (m === 13 || m === 29) && id >= 3
    val base = when(m === 7 && id >= 7, id - 7).when(near, id - 3).otherwise(id)
    val nWords = u(base, 35, 83) + 8
    val changed = u(id, 36, 1000000)
    val vocab = array(Vocab.map(lit): _*)
    def word(seed: Column, k: Column, salt: Int): Column =
      element_at(vocab, (pmod(xxhash64(seed, k, lit(salt)), lit(Vocab.size.toLong)) + 1).cast("int"))
    val text = array_join(transform(sequence(lit(0L), nWords - 1), k =>
      when(near && k === pmod(changed, nWords), word(id, k, 37))
        .otherwise(word(base, k, 38))), " ")
    rows.select(id.as("doc_id"), text.as("text"))
      .select(col("doc_id"), col("text"),
        when(u(col("doc_id"), 39, 100) < 40, "en").when(u(col("doc_id"), 39, 100) < 55, "zh")
          .when(u(col("doc_id"), 39, 100) < 70, "de").when(u(col("doc_id"), 39, 100) < 85, "fr")
          .otherwise("es").as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }
}
