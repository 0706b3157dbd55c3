package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkSpec}

/** Machine-checks the queries the DuckDB oracle cannot replay
  * (engine-specific sketch estimates / float-sum ordering — q19 HLL,
  * q29 percentile sketch, d08 Bloom, s04 native float): each
  * result must sit inside its sketch's configured error envelope, or —
  * for the native top-k — agree with the oracle-checked quantized
  * variant on the returned id sets. q24's deterministic CMS is
  * oracle-matched too; its envelope test stays here as the theory check.
  */
class SketchEnvelopeSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q19: HLL++ estimates within the configured relative error of exact") {
    val r = SparkEntry.queries("q19_approx_sketch")(spark, sf).head()
    val approxParts = r.getAs[Long]("approx_parts").toDouble
    val exactParts = r.getAs[Long]("exact_parts").toDouble
    val approxOrders = r.getAs[Long]("approx_orders").toDouble
    val exactOrders = r.getAs[Long]("exact_orders").toDouble
    // approx_count_distinct's default rsd is 0.05; 3 standard errors is
    // a deterministic-in-practice envelope for a fixed dataset
    val bound = 3 * 0.05
    assert(math.abs(approxParts - exactParts) / exactParts <= bound,
      s"parts: $approxParts vs $exactParts")
    assert(math.abs(approxOrders - exactOrders) / exactOrders <= bound,
      s"orders: $approxOrders vs $exactOrders")
  }

  test("q24: CMS estimates are one-sided and within eps * stream size") {
    // q24 is ALSO oracle-hash-matched (deterministic md5 buckets); this
    // keeps the sketch-theory guarantee pinned independently of the replay
    val rows = SparkEntry.queries("q24_cms_heavy_hitters")(spark, sf).collect()
    assert(rows.length == 5)
    val n = graft.sources.Tables.load(spark, sf, "lineitem").count()
    val eps = math.E / Relational.CmsWidth // standard CMS bound: w = ceil(e/eps)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_freq")
      val est = r.getAs[Long]("cms_estimate")
      assert(est >= exact, s"CMS must never under-count: $est < $exact")
      assert(est - exact <= (eps * n).ceil.toLong,
        s"overcount ${est - exact} exceeds eps*N = ${eps * n}")
    }
  }

  test("q37: merged per-batch CMS grids equal the directly-built grid (linearity)") {
    // the property that makes CMS incremental: summing per-shipmode
    // grids cell-by-cell must reproduce the whole-table grid EXACTLY —
    // estimates from the two paths are equal, not merely close
    val rows = SparkEntry.queries("q37_cms_merge")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val m = r.getAs[Long]("merged_estimate")
      val dd = r.getAs[Long]("direct_estimate")
      assert(m == dd, s"merge broke linearity: merged=$m direct=$dd")
      assert(m >= r.getAs[Long]("exact_freq"))
    }
  }

  test("q38: deterministic HLL raw estimate lands within a loose band of exact") {
    // q38 is ALSO oracle-hash-matched (bit-identical estimate). The
    // band here is deliberately loose: the RAW estimator (no
    // linear-counting branch — its ln() would hang the cross-engine
    // hash on libm rounding) is biased high when registers are sparse;
    // accuracy of a corrected HLL is q19's builtin territory.
    val rows = SparkEntry.queries("q38_hll_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_distinct")
      val est = r.getAs[Double]("hll_estimate")
      assert(est > exact / 4.0 && est < exact * 4.0,
        s"raw HLL estimate $est implausible vs exact $exact")
      val nRegs = r.getAs[Long]("n_regs")
      assert(nRegs >= 1 && nRegs <= Relational.HllM)
    }
  }

  test("q29: percentile sketch within 1% of exact at accuracy 10000") {
    val r = SparkEntry.queries("q29_approx_percentile")(spark, sf).head()
    Seq("p50", "p95", "p99").foreach { p =>
      val a = r.getAs[Double](s"approx_$p")
      val e = r.getAs[Double](s"exact_$p")
      assert(math.abs(a - e) / e <= 0.01, s"$p: approx $a vs exact $e")
    }
  }

  test("d08: Bloom pre-filter has zero false negatives and a bounded fp rate") {
    val r = SparkEntry.queries("d08_bloom_prefilter")(spark, sf).head()
    val nIncoming = r.getAs[Long]("n_incoming")
    val trueDups = nIncoming / 2 // one exact copy per historical doc
    // the Bloom guarantee: every true duplicate flags
    assert(r.getAs[Long]("n_true_dups_flagged") == trueDups,
      s"false negatives: ${trueDups - r.getAs[Long]("n_true_dups_flagged")}")
    // mutated docs flag only as false positives; generous 10x headroom
    // over the configured fpp=0.01 keeps this deterministic-in-practice
    val fpRate = r.getAs[Long]("n_false_positives").toDouble / trueDups
    assert(fpRate <= 0.1, s"fp rate $fpRate")
  }

  test("d10: deterministic Bloom has zero false negatives and a bounded fp rate") {
    // same envelope as d08, on the engine-portable filter — the
    // hash-match proves determinism, this proves the Bloom CONTRACT
    val r = SparkEntry.queries("d10_bloom_exact")(spark, sf).head()
    val nIncoming = r.getAs[Long]("n_incoming")
    val trueDups = nIncoming / 2
    assert(r.getAs[Long]("n_true_dups_flagged") == trueDups,
      s"false negatives: ${trueDups - r.getAs[Long]("n_true_dups_flagged")}")
    // k=3, m=2^17: (1-e^{-kn/m})^3 is ~1e-6 at sf0.01's n≈500 and
    // ~2e-3 at sf0.1's n≈5000; 0.02 covers every SF with headroom
    val fpRate = r.getAs[Long]("n_false_positives").toDouble / trueDups
    assert(fpRate <= 0.02, s"fp rate $fpRate")
  }

  test("s04: native float top-k returns the same neighbor sets as quantized s01") {
    def idSets(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf)
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val native = idSets("s04_topk_native")
    val quantized = idSets("s01_topk_bruteforce")
    assert(native.keySet == quantized.keySet)
    native.keySet.foreach { q =>
      assert(native(q) == quantized(q),
        s"query $q: native ${native(q)} vs quantized ${quantized(q)}")
    }
  }

  test("q40 resolves its KMV functions on a fresh session, run first") {
    // a new session has a function registry of its own, so nothing an
    // earlier query registered is visible there: the sketch Column API
    // must self-register on the active session (this once failed with
    // UNRESOLVED_ROUTINE bottom_k_hashes)
    val fresh = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(fresh)
    try {
      val rows = SparkEntry.queries("q40_kmv_intersect")(fresh, sf).collect()
      assert(rows.nonEmpty)
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }
}
