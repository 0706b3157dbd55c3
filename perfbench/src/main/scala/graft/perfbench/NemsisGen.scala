package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of NEMSIS-shaped XML files for the ETL workload,
  * which also derives the lake state the ingest path must produce.
  *
  * Each file is `EMSDataSet/Header/PatientCareReport@UUID`. A PCR carries
  * three sections, each with `eXxx.XxxGroup` groups: one ePatient group,
  * and 1–5 each of the eVitals and eMedications groups. A group's first
  * leaf is always present and every other leaf with probability 1/2.
  * About one leaf in ten is `xsi:nil="true"` with an `NV` code, and some
  * of the others carry `PN` or `CodeType` attributes. That gives about 35
  * elements per PCR over 31 distinct tags; per-tag work (one lake
  * partition and one wide view per tag) dominates the ingest path at
  * these sizes.
  *
  * The plan is a bulk load, one keyed-overwrite batch that re-sends a
  * fifth of the PCRs with new values (plus a few new PCRs), then a replay
  * of that batch verbatim. The generator follows the keyed-overwrite rule
  * (a batch evicts every lake row whose source file or PCR it carries) to
  * predict the row counts, evictions, per-tag counts, live PCRs and FK
  * edges.
  */
object NemsisGen {

  final case class Section(tag: String, group: String, leaves: Int, repeats: Boolean)

  val Sections: Seq[Section] = Seq(
    Section("ePatient", "ePatient.PatientNameGroup", 6, repeats = false),
    Section("eVitals", "eVitals.VitalGroup", 7, repeats = true),
    Section("eMedications", "eMedications.MedicationGroup", 5, repeats = true))

  /** File-level elements outside any PCR, in document order. */
  private val FileElements: Seq[(String, Option[String])] = Seq(
    "EMSDataSet" -> None, "Header" -> Some("EMSDataSet"),
    "DemographicGroup" -> Some("Header"), "dAgency.01" -> Some("DemographicGroup"),
    "dAgency.02" -> Some("DemographicGroup"), "dAgency.03" -> Some("DemographicGroup"))

  /** Input sizes: `bulkFiles` x `pcrsPerFile` PCRs in the bulk load and
    * `newPcrs` new ones in the upsert batch.
    */
  final case class Size(bulkFiles: Int, pcrsPerFile: Int, newPcrs: Int)

  val Sizes: Map[String, Size] = Map(
    "sf0.01" -> Size(bulkFiles = 12, pcrsPerFile = 10, newPcrs = 4),
    "tiny" -> Size(bulkFiles = 3, pcrsPerFile = 4, newPcrs = 1))

  /** One ingest call: the glob it reads and what the lake must look like
    * after it.
    */
  final case class Batch(name: String, glob: String, files: Seq[Path],
      xmlBytes: Long, elements: Long, evicted: Long, rowsAfter: Long)

  final case class Plan(
      bulk: Batch,
      upsert: Batch,
      replay: Batch,
      tagCounts: Map[String, Long],
      pcrElements: Map[String, Long],
      fkEdges: Set[(String, String)],
      auditRows: Long) {
    def batches: Seq[Batch] = Seq(bulk, upsert, replay)
  }

  private def sanitize(tag: String): String = tag.replace('.', '_')

  /** One PCR's elements as (tag, parent tag) pairs, and its XML. */
  private final class Pcr(val uuid: String, val xml: String, val tags: Seq[(String, String)])

  private def pcr(seed: Long, index: Int, version: Int): Pcr = {
    val rnd = new SplittableRandom(seed * 1000003L + index * 7919L + version)
    val uuid = java.util.UUID.nameUUIDFromBytes(s"pcr-$seed-$index".getBytes(StandardCharsets.UTF_8)).toString
    val sb = new StringBuilder
    val tags = mutable.ArrayBuffer.empty[(String, String)]
    sb ++= s"""<PatientCareReport UUID="$uuid">"""
    tags += ("PatientCareReport" -> "Header")
    Sections.foreach { s =>
      sb ++= s"<${s.tag}>"
      tags += (s.tag -> "PatientCareReport")
      val groups = if (s.repeats) 1 + rnd.nextInt(5) else 1
      (0 until groups).foreach { _ =>
        sb ++= s"<${s.group}>"
        tags += (s.group -> s.tag)
        (1 to s.leaves).foreach { i =>
          if (i == 1 || rnd.nextBoolean()) {
            val leaf = f"${s.tag}.$i%02d"
            tags += (leaf -> s.group)
            val kind = rnd.nextInt(20)
            if (kind < 2) sb ++= s"""<$leaf xsi:nil="true" NV="770100${3 + kind}"/>"""
            else {
              val attrs =
                if (kind == 2) """ PN="8801019""""
                else if (kind == 3) """ CodeType="9924003""""
                else ""
              val text = rnd.nextInt(3) match {
                case 0 => (2200000 + rnd.nextInt(100000)).toString
                case 1 => f"${rnd.nextInt(1000) / 10.0}%.1f"
                case _ => f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02dT${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00-05:00"
              }
              sb ++= s"<$leaf$attrs>$text</$leaf>"
            }
          }
        }
        sb ++= s"</${s.group}>"
      }
      sb ++= s"</${s.tag}>"
    }
    sb ++= "</PatientCareReport>"
    new Pcr(uuid, sb.result(), tags.toSeq)
  }

  private def fileXml(pcrs: Seq[Pcr]): String = {
    val sb = new StringBuilder
    sb ++= """<?xml version="1.0" encoding="UTF-8"?>"""
    sb ++= """<EMSDataSet xmlns="http://www.nemsis.org" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">"""
    sb ++= "<Header><DemographicGroup><dAgency.01>S01-50112</dAgency.01>"
    sb ++= "<dAgency.02>351</dAgency.02><dAgency.03>9920001</dAgency.03></DemographicGroup>"
    pcrs.foreach(p => sb ++= p.xml)
    sb ++= "</Header></EMSDataSet>"
    sb.result()
  }

  /** Writes the plan's files under `root` and returns what each ingest
    * call must leave behind. The same seed writes the same bytes.
    */
  def generate(root: Path, seed: Long, size: Size): Plan = {
    // lake model: per source file its file-level row count; per live
    // PCR its current file and elements (tag, parent tag)
    val fileRows = mutable.LinkedHashMap.empty[String, Long]
    val live = mutable.LinkedHashMap.empty[String, (String, Seq[(String, String)])]
    var nextIndex = 0
    var auditRows = 0L
    val indexOf = mutable.HashMap.empty[String, Int]

    def rows: Long = fileRows.values.sum + live.values.map(_._2.size.toLong).sum

    def ingest(name: String, dir: Path, files: Seq[(Path, Seq[Pcr])]): Batch = {
      val sources = files.map(_._1.toUri.getPath.stripSuffix("/")).toSet
      val pcrIds = files.flatMap(_._2.map(_.uuid)).toSet
      val evictedFiles = fileRows.keySet.intersect(sources)
      val evictedPcrs = live.filter { case (u, (f, _)) => pcrIds(u) || sources(f) }
      val evicted = evictedFiles.toSeq.map(fileRows).sum +
        evictedPcrs.values.map(_._2.size.toLong).sum
      evictedFiles.foreach(fileRows.remove)
      evictedPcrs.keys.toSeq.foreach(live.remove)
      var elements = 0L
      files.foreach { case (path, ps) =>
        val f = path.toUri.getPath.stripSuffix("/")
        fileRows(f) = FileElements.size.toLong
        ps.foreach(p => live(p.uuid) = (f, p.tags))
        elements += FileElements.size + ps.map(_.tags.size).sum
      }
      auditRows += files.size
      val bytes = files.map(f => Files.size(f._1)).sum
      Batch(name, s"${dir.toUri.getPath.stripSuffix("/")}/*.xml", files.map(_._1), bytes,
        elements, evicted, rows)
    }

    def writeBatch(name: String, pcrs: Seq[Pcr]): (Path, Seq[(Path, Seq[Pcr])]) = {
      val dir = Files.createDirectories(root.resolve(name))
      val files = pcrs.grouped(size.pcrsPerFile).zipWithIndex.map { case (ps, i) =>
        val path = dir.resolve(f"$name-$i%04d.xml")
        Files.write(path, fileXml(ps).getBytes(StandardCharsets.UTF_8))
        path -> ps
      }.toSeq
      dir -> files
    }

    def fresh(): Pcr = {
      val i = nextIndex
      nextIndex += 1
      val p = pcr(seed, i, 0)
      indexOf(p.uuid) = i
      p
    }

    val (bulkDir, bulkFiles) = writeBatch("bulk", Seq.fill(size.bulkFiles * size.pcrsPerFile)(fresh()))
    val bulk = ingest("bulk", bulkDir, bulkFiles)

    // re-send a seeded fifth of the live PCRs, each with new values
    val pick = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val ids = live.keys.toArray
    (ids.length - 1 to 1 by -1).foreach { i =>
      val j = pick.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val resent = ids.take(ids.length / 5).toSeq.map(u => pcr(seed, indexOf(u), 1))
    val (upsertDir, upsertFiles) = writeBatch("upsert", resent ++ Seq.fill(size.newPcrs)(fresh()))
    val upsert = ingest("upsert", upsertDir, upsertFiles)
    val replay = ingest("replay", upsertDir, upsertFiles)

    val tagCounts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val edges = mutable.HashSet.empty[(String, String)]
    fileRows.keys.foreach(_ => FileElements.foreach { case (t, p) =>
      tagCounts(sanitize(t)) += 1
      p.foreach(pt => edges += (sanitize(t) -> sanitize(pt)))
    })
    live.values.foreach { case (_, tags) => tags.foreach { case (t, p) =>
      tagCounts(sanitize(t)) += 1
      edges += (sanitize(t) -> sanitize(p))
    } }
    Plan(bulk, upsert, replay, tagCounts.toMap,
      live.map { case (u, (_, tags)) => u -> tags.size.toLong }.toMap,
      edges.toSet, auditRows)
  }
}
