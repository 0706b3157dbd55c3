package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one SparkSession factory every entry point builds through, so the
  * engine `Bench` times is the engine `Verify` checks against the oracle:
  * the same confs, and every native function installed at session build
  * by [[GraftExtensions]] (no query resolves a function only because an
  * earlier query happened to register it).
  *
  * Callers pass only what the entries differ on: the master and the
  * shuffle-partition count. `SPARK_GRAFT_CPUS` sizes `local[n]` (default
  * 4). Log level is WARN; callers that print artifacts to stdout lower
  * it themselves.
  */
object Session {

  private val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Shuffle partitions sized to the DATA, not the cores: at sf0.1
    * (~50 MB) more than ~8 partitions is pure scheduling overhead
    * (measured: 32 partitions on 32 threads is 1.5x slower than 4/4).
    * At cluster scale this would be data/128MB; AQE coalesces down.
    */
  def dataShuffle: Int = math.min(cpus, 8)

  /** Codegen class cache (STATIC conf, must be set at first-session
    * creation): Spark's default 100 entries thrashes under a 229-query
    * suite — every timed pass regenerates + recompiles + class-loads
    * every plan's codegen (the warmup pass's compilations are evicted
    * long before the timed pass returns to the same query, and the
    * d32/p07 driver loops alone mint hundreds of distinct plans),
    * churning the JIT code cache; the churn's sweep storms were the
    * wandering 2–10× in-suite-vs-solo victims (d22 66 s in r13, p07
    * 74 s in the r14 after-stash run). Measured full-suite A/B on
    * identical code: 100 → 430.1 s, 2000 → 240.5 s, 8000 → 218.4 s,
    * with zero >0.5 s per-query regressions and in-suite ≈ solo for
    * every query at 8000. Scale-independent (a driver-side compile
    * cache — cluster drivers reuse generated classes the same way).
    */
  private val CodegenCacheEntries = 8000

  def apply(master: String = s"local[$cpus]", shuffle: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shuffle.toLong)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle-file cleanup normally fires asynchronously from the
      // ContextCleaner; blocking keeps a 360-execution suite from
      // stacking dead shuffle files faster than they're removed
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      // the status stores retain per-execution plan graphs/metrics and
      // per-stage/task rows even with the UI off; at 120 queries x 3
      // passes (x dozens of AQE stages each) that retained state is
      // pure growth — keep only a handful for post-mortem
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
