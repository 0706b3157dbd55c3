package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark runner: one workload, one seed, one local Spark process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --run-dir <dir> --data-dir <dir> --scale <sf0.01|tiny> --pins <expected.json>
  *      --launch-ms <epoch ms the JVM was launched> --cores <n>
  *      [--record 1 | --prepare-only 1]
  * }}}
  *
  * Set-up (session, inputs, warm-up) is followed by the timed untraced
  * passes, which give the end-to-end numbers. With `--trace 1` three more
  * passes follow: untraced, under the [[Tracer]] (the per-layer numbers),
  * untraced again (the overhead baseline). Writes `artifact.json` (and
  * `spans.json` when traced) into the run directory.
  */
object Main {
  import Workload._

  val Workloads: Seq[String] = Seq("nemsis_etl", "sql_analytics", "llm_curation")

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def session(cores: Int, runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // graft.Bench's measured settings, so both time the same engine
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.sql.shuffle.partitions", math.min(cores, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      // keep every file the run writes inside the run directory
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // the documented session set-up: every native function registered
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }

  /** Whole-stage codegen compilations and their summed milliseconds, from
    * Spark's `CodegenMetrics` (the sum is count × sampled mean).
    */
  private def codegenTotals: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  /** Untraced passes filling about `budgetS` seconds on the reference
    * machine. The count does not depend on how fast this run goes, so
    * every run measures the same work.
    */
  private def passes(w: Workload, budgetS: Double): Seq[Pass] =
    (0 until math.max(1, (budgetS / w.nominalPassS).toInt)).map(i => w.pass(i, NoSpans))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = arg(args, "workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val runDir = Paths.get(arg(args, "run-dir")).toAbsolutePath
    val scaleName = arg(args, "scale")
    val launchMs = arg(args, "launch-ms").toLong
    val cores = arg(args, "cores").toInt
    val record = args.get("record").contains("1")
    val prepareOnly = args.get("prepare-only").contains("1")
    val pins = Pins.load(Paths.get(arg(args, "pins")), scaleName)

    val spark = session(cores, runDir)
    val dataDir = arg(args, "data-dir")
    val scale = TableGen.Scales(scaleName)
    val w: Workload = workload match {
      case "nemsis_etl" => new EtlWorkload(spark, runDir, seed, NemsisGen.Sizes(scaleName))
      case "sql_analytics" => QueryWorkload.sqlAnalytics(spark, dataDir, scale, seed, pins, cores)
      case "llm_curation" => QueryWorkload.llmCuration(spark, dataDir, scale, seed, pins, cores)
    }

    // Set-up: inputs, then the workload's untimed warm-up.
    val prepareS = timed(w.prepare())._2
    if (record || prepareOnly) {
      if (record) Pins.record(w, runDir)
      spark.stop()
      return
    }
    val warmUpS = timed(w.warmUp())._2
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3

    val timedPasses = passes(w, seconds)
    val ops = timedPasses.flatMap(_.ops)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "wall_s" -> median(timedPasses.map(_.wallS)),
      "op_s_iqm" -> interquartileMean(ops.map(_.seconds)))
    val workloadValues = w.workloadMetrics(timedPasses)

    // Traced run: after the same untraced passes, one traced pass between
    // two untraced ones, whose mean wall time is the overhead baseline.
    val (extraPasses, layer, sparkByFamily, spans) =
      if (!trace) (Seq.empty, Map.empty[String, Double], Map.empty[String, Any], Seq.empty)
      else {
        val before = w.pass(timedPasses.size, NoSpans)
        val tracer = new Tracer(spark.sparkContext, cores)
        spark.sparkContext.addSparkListener(tracer)
        val (gcCount0, gcMs0) = gcTotals
        val (cg0, cgMs0) = codegenTotals
        resetHeapPeaks()
        val p = w.pass(timedPasses.size + 1, tracer)
        tracer.drain()
        val (gcCount1, gcMs1) = gcTotals
        val (cg1, cgMs1) = codegenTotals
        val heapMb = heapPeakMb
        spark.sparkContext.removeSparkListener(tracer)
        val after = w.pass(timedPasses.size + 2, NoSpans)
        val whole = tracer.rollup(_.parent < 0)
        val families = tracer.allSpans.filter(_.parent < 0).map(_.family).distinct
        val byFamily = families.map(f => f ->
          tracer.rollup(s => s.parent < 0 && s.family == f).sparkMetrics).toMap
        val values = w.layerMetrics(p, tracer) ++ workloadValues ++
          whole.sparkMetrics.map { case (k, v) => s"spark.$k" -> v } ++ Map(
            "jvm.gc_s" -> (gcMs1 - gcMs0) / 1e3,
            "jvm.gc_count" -> (gcCount1 - gcCount0).toDouble,
            "jvm.codegen_compiles" -> (cg1 - cg0).toDouble,
            "jvm.codegen_compile_s" -> (cgMs1 - cgMs0) / 1e3,
            "jvm.heap_peak_mb" -> heapMb,
            "bench.trace_overhead_frac" -> (2 * p.wallS / (before.wallS + after.wallS) - 1))
        (Seq(before, p, after), values, byFamily, tracer.spansJson)
      }

    val allOps = ops ++ extraPasses.flatMap(_.ops)
    val failed = allOps.filterNot(_.ok)
    failed.foreach(o => System.err.println(s"perfbench: FAILED ${o.name}: ${o.note}"))
    val artifact = scala.collection.immutable.ListMap(
      "record" -> Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "scale" -> scaleName, "cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "passes_timed" -> timedPasses.size, "op_samples" -> ops.size),
      "correct" -> failed.isEmpty,
      "attempted" -> allOps.size,
      "failed" -> failed.size,
      "failed_frac" -> failed.size.toDouble / math.max(1, allOps.size),
      "end_to_end" -> endToEnd,
      "workload_values" -> workloadValues,
      "per_layer" -> layer,
      "spark_by_family" -> sparkByFamily,
      "set_up" -> Map("prepare_s" -> prepareS, "warm_up_s" -> warmUpS, "setup_s" -> setupS),
      "passes" -> (timedPasses ++ extraPasses).map(p => Map("wall_s" -> p.wallS,
        "traced" -> extraPasses.lift(1).exists(_ eq p), "values" -> p.values,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "family" -> o.family, "s" -> o.seconds,
          "ok" -> o.ok, "note" -> o.note, "plan_s" -> o.planS, "exec_s" -> o.execS)))))
    Files.write(runDir.resolve("artifact.json"), Json.write(artifact).getBytes(StandardCharsets.UTF_8))
    if (trace)
      Files.write(runDir.resolve("spans.json"), Json.write(spans).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Pinned query outputs, per scale: `{"<scale>": {"<query>": {"rows": n,
  * "checksum": c or null}}}`.
  */
object Pins {

  /** Queries whose output is an approximate sketch with no exact
    * oracle; they are checked on row count only.
    */
  val RowsOnly: Set[String] = Set("q19_approx_sketch", "q29_approx_percentile")

  def load(path: Path, scale: String): Map[String, Pin] =
    if (!Files.exists(path)) Map.empty
    else Json.read(new String(Files.readAllBytes(path), StandardCharsets.UTF_8)) match {
      case all: Map[String @unchecked, Any @unchecked] =>
        all.get(scale) match {
          case Some(qs: Map[String @unchecked, Any @unchecked]) => qs.map {
            case (q, p: Map[String @unchecked, Any @unchecked]) =>
              q -> Pin(p("rows").asInstanceOf[BigInt].toLong,
                p.get("checksum").collect { case c: BigInt => c.toLong })
            case (q, other) => throw new IllegalArgumentException(s"bad pin for $q: $other")
          }
          case _ => Map.empty
        }
      case other => throw new IllegalArgumentException(s"bad pins file: $other")
    }

  /** Runs one pass and writes its outputs as pins to `pins.json` in the
    * run directory.
    */
  def record(w: Workload, runDir: Path): Unit = w match {
    case q: QueryWorkload =>
      q.pass(0, NoSpans)
      val pins = q.lastOutputs.toSeq.sortBy(_._1).map { case (name, (rows, sum)) =>
        name -> Map("rows" -> rows, "checksum" -> (if (RowsOnly(name)) None else Some(sum)))
      }
      Files.write(runDir.resolve("pins.json"),
        Json.write(scala.collection.immutable.ListMap(pins: _*)).getBytes(StandardCharsets.UTF_8))
    case _ => throw new IllegalArgumentException("only query workloads have pinned outputs")
  }
}
