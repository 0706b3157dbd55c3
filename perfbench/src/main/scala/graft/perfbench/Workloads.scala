package graft.perfbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{IngestPipeline, NemsisXmlReader, TagTables, XmlFlatten}

/** One benchmark operation: a query call or an ingest/read-back step.
  * `ok` is false when it threw or its output failed a check.
  */
final case class Op(name: String, family: String, seconds: Double, ok: Boolean,
    note: String = "", planS: Double = 0.0, execS: Double = 0.0)

/** One pass over a workload's fixed list of operations. `values` holds
  * workload-specific numbers of the pass (sizes, phase times).
  */
final case class Pass(wallS: Double, ops: Seq[Op], values: Map[String, Double])

/** A workload: inputs written once per run, then passes, each running
  * the same operations (in a seed-driven order where order is free).
  */
trait Workload {
  def prepare(): Unit

  /** Untimed work before the timed passes: the set-up's warm-up. */
  def warmUp(): Unit

  def pass(index: Int, spans: Spans): Pass

  /** Seconds one timed pass takes on the reference machine (4 cores);
    * a run makes `--seconds` / this many passes, at least one.
    */
  def nominalPassS: Double

  /** Untraced end-to-end numbers specific to this workload. */
  def workloadMetrics(passes: Seq[Pass]): Map[String, Double]

  /** Per-layer numbers of one traced pass. */
  def layerMetrics(pass: Pass, tracer: Tracer): Map[String, Double]
}

object Workload {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Mean of the values left after dropping a quarter of them (rounded
    * down) from each end: a typical value that, unlike the median, does
    * not jump between neighbours when a pass holds few, unevenly spread
    * operation times.
    */
  def interquartileMean(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val mid = s.slice(s.size / 4, s.size - s.size / 4)
    if (mid.isEmpty) 0.0 else mid.sum / mid.size
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Forces every row and column of `df` the way `graft.Bench` does:
    * row count and `bit_xor(xxhash64(all columns))`.
    */
  def checksumOf(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)), lit(0L)))
}

/** A query's pinned output: row count and checksum (`None` for the
  * approximate-sketch queries, which are checked on row count only).
  */
final case class Pin(rows: Long, checksum: Option[Long])

/** Shared by the two query workloads: runs one `SparkEntry` query, forced
  * and timed, checks it against its pin and releases what it cached.
  */
final class QueryRunner(spark: SparkSession, dataDir: String, pins: Map[String, Pin]) {
  import Workload._

  private var sinceGc = 0

  /** Starts a pass: its forced collections fall after the same queries
    * in every pass.
    */
  def startPass(): Unit = sinceGc = 0

  /** Forces every query once, `threads` at a time, ignoring failures
    * (the timed passes record them). Only warm-up runs queries
    * concurrently: the driver-side compile work of a fresh JVM (codegen,
    * JIT) is most of a first pass and spreads over the cores.
    */
  def warmUp(names: Seq[String], threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      names.map(n => pool.submit(new Runnable {
        def run(): Unit =
          try checksumOf(SparkEntry.queries(n)(spark, dataDir)).collect()
          catch { case NonFatal(_) => () }
      })).foreach(_.get())
    } finally pool.shutdown()
    released()
  }

  def run(name: String, family: String, op: Int, spans: Spans): (Op, Long, Long) = {
    val t0 = System.nanoTime()
    try {
      val (rows, sum, planS, execS) = spans.span(name, family, op) {
        val forced = checksumOf(SparkEntry.queries(name)(spark, dataDir))
        val tp = System.nanoTime()
        forced.queryExecution.executedPlan
        val te = System.nanoTime()
        val row = forced.collect().head
        (row.getLong(0), row.getLong(1), (te - tp) / 1e9, (System.nanoTime() - te) / 1e9)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val note = pins.get(name) match {
        case None => "no pinned output"
        case Some(p) if p.rows != rows => s"rows $rows, pinned ${p.rows}"
        case Some(Pin(_, Some(c))) if c != sum => s"checksum $sum, pinned $c"
        case _ => ""
      }
      (Op(name, family, secs, note.isEmpty, note, planS, execS), rows, sum)
    } catch {
      case NonFatal(e) =>
        (Op(name, family, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"), -1L, 0L)
    } finally released()
  }

  /** Between queries, as `graft.Bench` does: drop eager checkpoints and
    * cached tables, and collect garbage every tenth query so the context
    * cleaner reclaims shuffle and broadcast state.
    */
  private def released(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    sinceGc += 1
    if (sinceGc % 10 == 0) {
      System.gc()
      Thread.sleep(120)
    }
  }
}

/** Query workloads over generated tables: each pass runs every query
  * once, in an order drawn from the seed.
  */
final class QueryWorkload(spark: SparkSession, dataDir: String, scale: TableGen.Scale,
    seed: Long, families: Seq[(String, Seq[String])], pins: Map[String, Pin],
    layerFamilies: Map[String, String], cores: Int) extends Workload {
  import Workload._

  val queries: Seq[(String, String)] = families.flatMap { case (f, qs) => qs.map(_ -> f) }
  private val runner = new QueryRunner(spark, dataDir, pins)
  /** Outputs of the last pass, for recording pins. */
  var lastOutputs: Map[String, (Long, Long)] = Map.empty

  /** The tables do not depend on the seed, so they are written once per
    * checkout and scale and reused by later runs.
    */
  def prepare(): Unit = {
    val dir = java.nio.file.Paths.get(dataDir)
    if (!Files.exists(dir.resolve("_COMPLETE"))) {
      val tmp = dir.resolveSibling(s"${dir.getFileName}.tmp-${ProcessHandle.current.pid}")
      TableGen.write(spark, tmp.toString, scale)
      Files.createFile(tmp.resolve("_COMPLETE"))
      deleteRecursively(dir)
      Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Every query once, so the timed passes see a warm JIT and codegen
    * cache.
    */
  def warmUp(): Unit = runner.warmUp(queries.map(_._1), cores)

  def nominalPassS: Double = 9.0

  def pass(index: Int, spans: Spans): Pass = {
    val order = new scala.util.Random(seed * 1009 + index).shuffle(queries)
    runner.startPass()
    val outs = Map.newBuilder[String, (Long, Long)]
    val (ops, wall) = timed(order.zipWithIndex.map { case ((q, f), i) =>
      val (op, rows, sum) = runner.run(q, f, i, spans)
      outs += q -> (rows, sum)
      op
    })
    lastOutputs = outs.result()
    Pass(wall, ops, Map.empty)
  }

  def workloadMetrics(passes: Seq[Pass]): Map[String, Double] = Map.empty

  def layerMetrics(p: Pass, tracer: Tracer): Map[String, Double] = {
    val all = tracer.rollup(s => s.parent < 0)
    val perFamily = layerFamilies.toSeq.flatMap { case (family, prefix) =>
      val r = tracer.rollup(s => s.parent < 0 && s.family == family)
      Seq(s"$prefix.s" -> r.seconds, s"$prefix.jobs" -> r.jobs.toDouble,
        s"$prefix.no_task_s" -> r.noTaskS, s"$prefix.core_busy_frac" -> r.coreBusyFrac,
        s"$prefix.shuffle_write_bytes" -> r.shuffleWriteBytes.toDouble,
        s"$prefix.spill_bytes" -> r.spillBytes.toDouble)
    }
    Map("queries.plan_s" -> p.ops.map(_.planS).sum,
      "queries.exec_s" -> p.ops.map(_.execS).sum,
      "sources.input_bytes_per_query" -> all.inputBytes.toDouble / math.max(1, p.ops.size)) ++
      perFamily
  }
}

object QueryWorkload {

  /** A quarter of the relational and event queries q01–q54 and e01–e16:
    * those numbered 1 mod 4, plus q16 for the `AsOfJoin` operator. A
    * fresh JVM spends about a second per query on its first pass (codegen
    * and JIT) and a warm pass about 0.45 s, so all 70 would not fit a
    * run's time.
    */
  def sqlAnalytics(spark: SparkSession, dataDir: String, scale: TableGen.Scale,
      seed: Long, pins: Map[String, Pin], cores: Int): QueryWorkload = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    def picked(n: String) = n.substring(1, 3).toInt % 4 == 1 || n.startsWith("q16_")
    val relational = names.filter(n => n.matches("q\\d\\d_.*") && picked(n))
    val events = names.filter(n => n.matches("e\\d\\d_.*") && picked(n))
    new QueryWorkload(spark, dataDir, scale, seed,
      Seq("relational" -> relational, "events" -> events), pins, Map.empty, cores)
  }

  /** Curation queries over `documents`: the cross-document repeat-search
    * loop of `SuffixArray`, a graph fixpoint of `Graph`, and three one-shot
    * dedup operators bound by candidate joins and clustering, the last
    * keeping each cluster's best member with `Curation.keepBest`.
    */
  def llmCuration(spark: SparkSession, dataDir: String, scale: TableGen.Scale,
      seed: Long, pins: Map[String, Pin], cores: Int): QueryWorkload =
    new QueryWorkload(spark, dataDir, scale, seed, Seq(
      "repeat" -> Seq("d31_longest_repeat"),
      "graph" -> Seq("g11_personalized_pagerank"),
      "dedup" -> Seq("d02_minhash_lsh", "d06_neardup_clusters", "c04_cluster_keep_best")),
      pins, Map("repeat" -> "ops.repeat", "graph" -> "ops.graph", "dedup" -> "ops.dedup"), cores)
}

/** The reference's own job: bulk-load generated NEMSIS XML into an empty
  * lake, run a keyed-overwrite batch and its verbatim replay, then read
  * the lake back. Every step is checked against the
  * generator's model of the lake.
  */
final class EtlWorkload(spark: SparkSession, runDir: Path, seed: Long,
    size: NemsisGen.Size) extends Workload {
  import Workload._

  private val xmlRoot = runDir.resolve("xml")
  private var plan: NemsisGen.Plan = _

  def prepare(): Unit = {
    deleteRecursively(xmlRoot)
    plan = NemsisGen.generate(Files.createDirectories(xmlRoot), seed, size)
  }

  /** None: an ingest job runs once in a fresh process, so its first pass
    * is the one to measure.
    */
  def warmUp(): Unit = ()

  def nominalPassS: Double = 25.0

  def pass(index: Int, spans: Spans): Pass = run(plan, runDir.resolve("lake"), spans)

  private def parquetFiles(dir: String): Seq[Path] = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try {
      val out = Seq.newBuilder[Path]
      s.filter(p => p.toString.endsWith(".parquet")).forEach(p => out += p)
      out.result()
    } finally s.close()
  }

  /** Order-free checksum of the whole tall table. */
  private def lakeChecksum(elementsDir: String): (Long, Long) = {
    val tall = spark.read.parquet(elementsDir)
    val cols = tall.columns.toSeq.map(c =>
      if (c == "attributes") array_sort(map_entries(col(c))) else col(c))
    val r = tall.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Runs the plan's ingest calls, then the read-back. The pass's wall
    * time is the sum of those calls alone: the checks against the plan
    * (lake checksums around the replay, file walks, the audit count) run
    * between and after them, untimed.
    */
  private def run(plan: NemsisGen.Plan, lake: Path, spans: Spans): Pass = {
    deleteRecursively(lake)
    val elementsDir = IngestPipeline.elementsPath(lake.toString)
    val values = Map.newBuilder[String, Double]
    var rows = 0L
    var evicted = 0L
    val ingests = plan.batches.zipWithIndex.map { case (b, opIndex) =>
      val family = if (b eq plan.bulk) "bulk" else "upsert"
      val before = if (b eq plan.replay) Some(lakeChecksum(elementsDir)) else None
      val t0 = System.nanoTime()
      try {
        val r = spans.span(s"IngestPipeline.ingestDirectory[${b.name}]", family, opIndex) {
          IngestPipeline.ingestDirectory(spark, b.glob, lake.toString)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val gone = rows + b.elements - r.elementCount
        evicted += gone
        rows = r.elementCount
        val problems = Seq(
          (r.elementCount != b.rowsAfter) -> s"lake rows ${r.elementCount}, expected ${b.rowsAfter}",
          (gone != b.evicted) -> s"evicted $gone, expected ${b.evicted}",
          (r.filesStaged.size != b.files.size || r.filesErrored.nonEmpty) ->
            s"staged ${r.filesStaged.size} of ${b.files.size}, errored ${r.filesErrored.size}",
          before.exists(_ != lakeChecksum(elementsDir)) -> "replay changed the lake"
        ).collect { case (true, msg) => msg }
        if (b eq plan.bulk) {
          val files = parquetFiles(elementsDir)
          values += "bulk_s" -> secs
          values += "lake_bytes" -> files.map(Files.size).sum.toDouble
          values += "bulk_output_files" -> files.size.toDouble
        }
        Op(b.name, family, secs, problems.isEmpty, problems.mkString("; "))
      } catch {
        case NonFatal(e) => Op(b.name, family, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }
    val ops = ingests :+ readBack(plan, lake, ingests.size, spans, values)
    values += "evicted_rows" -> evicted.toDouble
    values += "lake_files" -> parquetFiles(elementsDir).size.toDouble
    Pass(ops.map(_.seconds).sum, ops, values.result())
  }

  /** Reads the final lake back: every per-tag wide view discovered and
    * forced, the FK edges, and a parent-to-child join per PCR.
    */
  private def readBack(plan: NemsisGen.Plan, lake: Path, op: Int, spans: Spans,
      values: scala.collection.mutable.Builder[(String, Double), Map[String, Double]]): Op = {
    val t0 = System.nanoTime()
    try {
      val problems = spans.span("lake read-back", "read", op) {
        val tall = spark.read.parquet(IngestPipeline.elementsPath(lake.toString))
        val (views, discoverS) = timed(spans.span("TagTables.wideViews", "read", op) {
          TagTables.wideViews(tall)
        })
        val (counts, forceS) = timed(spans.span("force wide views", "read", op) {
          views.map { case (t, df) => t -> checksumOf(df).head().getLong(0) }
        })
        values += "discover_s" -> discoverS
        values += "force_s" -> forceS
        val edges = spans.span("TagTables.fkEdges", "read", op) {
          TagTables.fkEdges(tall).collect().map(r => r.getString(0) -> r.getString(1)).toSet
        }
        val perPcr = spans.span("parent-child join", "read", op) {
          val child = tall.where(col("pcr_uuid_context").isNotNull)
            .select(col("parent_element_id"), col("pcr_uuid_context"))
          val parent = tall.select(col("element_id").as("pid"), col("pcr_uuid_context").as("ppcr"))
          child.join(parent, child("parent_element_id") === parent("pid") &&
              child("pcr_uuid_context") === parent("ppcr"))
            .groupBy("pcr_uuid_context").count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        }
        val expectedCounts = plan.tagCounts.map { case (t, n) => t.toLowerCase -> n }
        val expectedJoin = plan.pcrElements.map { case (u, n) => u -> (n - 1) }
        Seq(
          (counts != expectedCounts) -> s"per-tag counts differ in ${(counts.keySet ++ expectedCounts.keySet).count(t => counts.get(t) != expectedCounts.get(t))} tags",
          (edges != plan.fkEdges) -> s"fk edges ${edges.size}, expected ${plan.fkEdges.size}",
          (perPcr != expectedJoin) -> s"parent-child join: ${perPcr.size} PCRs, expected ${expectedJoin.size}"
        ).collect { case (true, msg) => msg }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      values += "lake_query_s" -> secs
      // untimed: one audit row per ingested file, replays included
      val audit = spark.read.parquet(IngestPipeline.auditPath(lake.toString)).count()
      val all = problems ++ Some(s"audit rows $audit, expected ${plan.auditRows}")
        .filter(_ => audit != plan.auditRows)
      Op("read-back", "read", secs, all.isEmpty, all.mkString("; "))
    } catch {
      case NonFatal(e) => Op("read-back", "read", (System.nanoTime() - t0) / 1e9, ok = false,
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  def workloadMetrics(passes: Seq[Pass]): Map[String, Double] = {
    def med(k: String) = median(passes.flatMap(_.values.get(k)))
    val upserts = passes.flatMap(p => p.ops.filter(_.family == "upsert").map(_.seconds))
    Map(
      "etl.ingest_elements_per_s" -> median(passes.flatMap(_.values.get("bulk_s").map(plan.bulk.elements / _))),
      "etl.upsert_batch_s_p50" -> median(upserts),
      "etl.lake_query_s" -> med("lake_query_s"),
      "etl.lake_bytes_per_xml_byte" -> med("lake_bytes") / plan.bulk.xmlBytes)
  }

  /** Single-thread `XmlFlatten.parse` + `md5Hex` over the bulk files,
    * repeated for about half a second; nanoseconds per element.
    */
  def parseNsPerElement(): Double = {
    val files = plan.bulk.files.map(p => p.toString -> Files.readAllBytes(p))
    def once(): Double = {
      val t0 = System.nanoTime()
      val n = files.map { case (p, bytes) =>
        XmlFlatten.parse(bytes, p, NemsisXmlReader.md5Hex(bytes)).size
      }.sum
      (System.nanoTime() - t0).toDouble / n
    }
    val deadline = System.nanoTime() + 500000000L
    val samples = Seq.newBuilder[Double]
    samples += once()
    while (System.nanoTime() < deadline) samples += once()
    median(samples.result())
  }

  def layerMetrics(p: Pass, tracer: Tracer): Map[String, Double] = {
    val bulk = tracer.rollup(_.family == "bulk")
    val upsert = tracer.rollup(_.family == "upsert")
    val read = tracer.rollup(_.name == "lake read-back")
    val views = tracer.rollup(s => s.name == "TagTables.wideViews" || s.name == "force wide views")
    Map(
      "etl.parse_ns_per_element" -> parseNsPerElement(),
      "etl.bulk.output_bytes" -> bulk.outputBytes.toDouble,
      "etl.bulk.output_files" -> p.values("bulk_output_files"),
      "etl.upsert.rows_written_per_row_in" ->
        upsert.recordsWritten.toDouble / (plan.upsert.elements + plan.replay.elements),
      "etl.upsert.bytes_written_per_xml_byte" ->
        upsert.outputBytes.toDouble / (plan.upsert.xmlBytes + plan.replay.xmlBytes),
      "etl.upsert.no_task_s" -> upsert.noTaskS,
      "etl.lake_files" -> p.values("lake_files"),
      "etl.read.input_bytes" -> read.inputBytes.toDouble,
      "etl.wide_views.discover_s" -> p.values("discover_s"),
      "etl.wide_views.force_s" -> p.values("force_s"),
      "etl.wide_views.jobs" -> views.jobs.toDouble,
      "etl.evicted_rows" -> p.values("evicted_rows"))
  }
}
