package graft

/** Lake-maintenance CLI: `runMain graft.LakeCompact <lakeDir>
  * [targetRowsPerFile] [--sort-by-pcr]` — compacts the element lake's
  * small files (see graft.etl.LakeMaintenance) and prints the
  * before/after file counts.
  */
object LakeCompact {
  def main(args: Array[String]): Unit = {
    val usage = "usage: LakeCompact <lakeDir> [targetRowsPerFile] [--sort-by-pcr]"
    // strict parse: flags and positionals in any order, anything
    // unrecognized fails loudly instead of silently running with
    // defaults (or treating a flag as the lake path)
    val (flags, positional) = args.partition(_.startsWith("--"))
    val unknownFlags = flags.filterNot(_ == "--sort-by-pcr")
    require(unknownFlags.isEmpty, s"unknown flags: ${unknownFlags.mkString(", ")}\n$usage")
    require(positional.nonEmpty && positional.length <= 2, usage)
    val lakeDir = positional(0)
    val target = positional.lift(1).map(_.toLong).getOrElse(1000000L)
    val sortByPcr = flags.contains("--sort-by-pcr")
    val spark = Session()
    val r = graft.etl.LakeMaintenance.compactElements(spark, lakeDir, target, sortByPcr)
    println(s"compacted: files ${r.filesBefore} -> ${r.filesAfter}, rows ${r.rows}")
    spark.stop()
  }
}
