package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins two wiring rules of the streamed sinks to the source, the way
  * SurveyCrossCheckSpec pins SURVEY.md: every `foreachBatch` query
  * starts in `Sources.eachBatch`, and every state lease is taken
  * through `BatchState.underLease`, so the start, cache and lease
  * rules each live in one place. Pure file check, no SparkSession. */
class SourceScanSpec extends AnyFunSuite {

  /** Every main source file's lines, keyed by its path under
    * src/main/scala. */
  private val mainSources: Map[String, IndexedSeq[String]] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString ->
        java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq)
      .toMap
    finally files.close()
  }

  /** (file, 0-based line index) of every line holding `text`. */
  private def hits(text: String): Seq[(String, Int)] = for {
    (file, lines) <- mainSources.toSeq.sortBy(_._1)
    (line, i) <- lines.zipWithIndex if line.contains(text)
  } yield (file, i)

  private def where(hits: Seq[(String, Int)]): String =
    hits.map { case (f, i) => s"$f:${i + 1}" }.mkString(", ")

  test("foreachBatch starts only in Sources.eachBatch; leases only through BatchState") {
    val sources = "graft/streaming/Sources.scala"
    val lines = mainSources(sources)
    val eachBatch = lines.indexWhere(_.contains("def eachBatch(")) match {
      case -1 => Range(0, 0)
      case d => (d + 1) until lines.indexWhere(_.contains("def "), d + 1)
    }
    val strays = hits(".foreachBatch").filterNot { case (f, i) =>
      f == sources && eachBatch.contains(i)
    }
    assert(strays.isEmpty,
      s"foreachBatch outside Sources.eachBatch: ${where(strays)}")
    val leases = (hits("acquireLease(") ++ hits("releaseLease("))
      .filterNot(_._1 == "graft/util/BatchState.scala")
    assert(leases.isEmpty,
      s"lease taken outside BatchState.underLease: ${where(leases)}")
  }
}
