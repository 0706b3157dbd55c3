package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare and failed.json
  * (`{name: "ErrClass: message"}`) for every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Bench's session, shuffle sizing included: the oracle gate checks
    // the engine the bench times
    val spark = Session(shuffle = Session.dataShuffle)
    new java.io.File(outDir).mkdirs()
    // Queries run from a small thread pool: Spark's scheduler accepts
    // concurrent job submission, and most of these queries are too small
    // to fill local[cpus] alone — 4-way submission roughly halves the
    // dump's wall time. Errors are captured per query, never swallowed.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // VERIFY_ONLY=t12_bpe_merges,t13_bpe_encode dumps a subset — the
    // iteration aid mirroring Bench's BENCH_ONLY; unknown names fail
    // loudly for the same reason (a typo must not verify nothing and
    // read as green). The full oracle_sql.json is still written, so
    // scripts/check.py must be pointed at the same subset when used.
    val selected = sys.env.get("VERIFY_ONLY") match {
      case Some(list) =>
        val want = list.split(',').map(_.trim).filter(_.nonEmpty).toSet
        require(want.nonEmpty,
          "VERIFY_ONLY is set but names no queries - an empty subset must not verify nothing and read as green")
        val unknown = want -- SparkEntry.queries.keySet
        if (unknown.nonEmpty)
          throw new IllegalArgumentException(
            s"VERIFY_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.queries.filter { case (n, _) => want(n) }
      case None => SparkEntry.queries
    }
    val failed = new java.util.concurrent.ConcurrentSkipListMap[String, String]()
    val tasks = selected.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            failed.put(name,
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
          }
      })
    }
    // shutdownNow on failure: a fatal task error (OOM) must kill the
    // queued work AND the non-daemon workers, so the JVM dies visibly
    // instead of grinding through the remaining queries on a poisoned
    // heap (or hanging on live pool threads)
    try { tasks.foreach(_.get()); pool.shutdown() }
    catch { case t: Throwable => pool.shutdownNow(); throw t }
    // oracle SQL may reference run-dependent paths (j01's corpus dir is
    // keyed by the SF basename) — substitute before dumping, so the
    // DuckDB compare always reads what THIS run wrote
    val sfBase = Paths.get(sfDir).getFileName.toString
    val oracle = JObject(SparkEntry.oracleSql.toList.map { case (k, v) =>
      k -> JString(v.replace(graft.queries.JsonlQueries.SfBaseToken, sfBase))
    })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(render(oracle)))
    val failures = JObject(failed.asScala.toList.map { case (k, v) => k -> JString(v) })
    Files.writeString(Paths.get(s"$outDir/failed.json"), compact(render(failures)))
    spark.stop()
  }
}
