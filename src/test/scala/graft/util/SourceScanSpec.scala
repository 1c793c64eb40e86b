package graft.util

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source-level rules that keep the query builders on one path each:
  * pins go through [[Pin]] (so `graft.checkpoint.dir` covers every
  * one of them), scratch paths through [[Scratch]] and catalogs
  * through `GraftCatalog.register`. */
class SourceScanSpec extends AnyFunSuite {

  private val root = new File("src/main/scala")

  private lazy val sources: Seq[(File, String)] = {
    def walk(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) walk(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    walk(root).map(f => f -> Files.readString(f.toPath))
  }

  private def offenders(needle: String, allowed: String => Boolean): Seq[String] =
    sources.collect { case (f, text) if !allowed(f.getPath) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${f.getPath}:${i + 1}"
      }.toSeq
    }.flatten

  test("localCheckpoint( appears only in Pin.scala") {
    val hits = offenders("localCheckpoint(", _.endsWith("util/Pin.scala"))
    assert(hits.isEmpty, s"use .pinned() instead: ${hits.mkString(", ")}")
  }

  test("no builder creates a java temp directory") {
    val hits = offenders("createTempDirectory", _ => false)
    assert(hits.isEmpty, s"use Scratch.fresh instead: ${hits.mkString(", ")}")
  }

  test("catalogs are registered only through GraftCatalog.register") {
    val hits = offenders("\"graft.sources.GraftCatalog\"",
      _.endsWith("sources/GraftCatalog.scala"))
    assert(hits.isEmpty, s"use GraftCatalog.register: ${hits.mkString(", ")}")
  }

  test("every Scratch.fresh tag is a literal owned by one call site") {
    val call = """Scratch\.fresh\(\w+, \w+, "([^"]+)"\)""".r
    val tags = sources.flatMap { case (_, text) =>
      call.findAllMatchIn(text).map(_.group(1)) }
    val calls = sources.map { case (_, text) =>
      """Scratch\.fresh\(""".r.findAllIn(text).size }.sum
    assert(tags.nonEmpty && tags.size === calls,
      "every Scratch.fresh call must pass a literal tag")
    val dup = tags.groupBy(identity).collect { case (t, ts) if ts.size > 1 => t }
    assert(dup.isEmpty, s"tags used by more than one site: ${dup.mkString(", ")}")
  }
}
