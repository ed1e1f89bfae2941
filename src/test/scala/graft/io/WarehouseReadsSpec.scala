package graft.io

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Structural lock on the landing mechanism: warehouse folders are landed
  * through `Layout.landOnce`, and bucketed catalog tables through
  * `Layout.ensureBucketed`. No other main source may read the warehouse
  * setting, so a hand-copied landing cannot grow back, and no main source
  * but ScalingBench (its scaled corpus copies) lands data in the temp
  * directory. */
class WarehouseReadsSpec extends AnyFunSuite {

  private val WarehouseRead = """spark\.sql\.warehouse\.dir|WAREHOUSE_PATH""".r
  private val Def = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?def\s+(\w+)""".r.unanchored

  test("only Layout.landOnce and Layout.ensureBucketed read the warehouse setting") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no main sources at ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val reads = for {
      file <- sources
      lines = Files.readAllLines(file).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex if WarehouseRead.findFirstIn(line).nonEmpty
    } yield {
      val enclosing = lines.take(i + 1).reverseIterator.collectFirst { case Def(n) => n }
      (root.relativize(file).toString, enclosing.getOrElse("<top level>"))
    }
    val allowed = Set("landOnce", "ensureBucketed").map("graft/io/Layout.scala" -> _)
    assert(reads.toSet == allowed,
      s"warehouse reads outside the landing helpers: ${reads.filterNot(allowed).mkString(", ")}")
  }

  private val TmpLanding = """java\.io\.tmpdir|createTempDirectory|createTempFile""".r

  test("no main source but ScalingBench lands data under the temp directory") {
    val root = Paths.get("src/main/scala")
    val named = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => TmpLanding.findFirstIn(new String(Files.readAllBytes(f), "UTF-8")).nonEmpty)
      .map(f => root.relativize(f).toString).toSet
    assert(named == Set("graft/ScalingBench.scala"),
      s"temp-directory landings outside ScalingBench: ${(named - "graft/ScalingBench.scala").mkString(", ")}")
  }
}
