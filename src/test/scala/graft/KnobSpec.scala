package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Inventory of the production tree's runtime knobs: every session conf key
  * the main sources read, and no process-global mutable switch in the
  * kernel packages. A new knob must be added here on purpose.
  */
class KnobSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private def sources(under: Path): Seq[(Path, String)] = {
    assert(Files.isDirectory(under), s"run from the project root: $under")
    val walk = Files.walk(under)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), UTF_8))
    finally walk.close()
  }

  test("the only spark.graft.* conf key read in production code is reliableCheckpoint") {
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val keys = sources(mainRoot).flatMap { case (_, src) =>
      key.findAllMatchIn(src).map(_.group(1))
    }.toSet
    assert(keys == Set("spark.graft.reliableCheckpoint"))
  }

  test("graft.pdf compiles only its once-per-file regexes") {
    // Per-token shapes (xref lines, object headers, references, numbers)
    // are byte scanners; a regex there would run once per token.
    val site = "Pattern\\.compile\\(".r
    val named = "val (\\w+)(?::[^=]*)? = (?:java\\.util\\.regex\\.)?Pattern\\.compile\\(".r
    val srcs = sources(mainRoot.resolve("graft/pdf")).map(_._2)
    val names = srcs.flatMap(named.findAllMatchIn(_).map(_.group(1)))
    assert(srcs.map(site.findAllMatchIn(_).size).sum == names.size, "an unnamed compile site")
    assert(names.sorted == Seq("eof", "pdfVersion", "reDate", "repairXrefStart", "repairXrefTable",
      "startXref", "xrefTable"))
  }

  test("no @volatile var in graft.pdf or graft.html") {
    val volatileVar = "@volatile[^\\n]*\\bvar\\b".r
    val hits = for {
      pkg <- Seq("pdf", "html")
      (path, src) <- sources(mainRoot.resolve(s"graft/$pkg"))
      if volatileVar.findFirstIn(src).isDefined
    } yield path.toString
    assert(hits.isEmpty)
  }
}
