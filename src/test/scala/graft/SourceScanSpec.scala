package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins wiring rules to the source, the way SurveyCrossCheckSpec pins
  * SURVEY.md: every `foreachBatch` query starts in `Sources.eachBatch`,
  * every state lease is taken through `BatchState.underLease`, and the
  * reflective Hadoop conf access lives in `Sessions.dropSourceMap(s)`,
  * so each rule lives in one place. Pure file check, no SparkSession. */
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

  /** `hits` that are not inside the body of `file`'s `def name(`: the
    * lines after it, up to the next `def `. */
  private def outside(hits: Seq[(String, Int)], file: String, name: String): Seq[(String, Int)] = {
    val lines = mainSources(file)
    val body = lines.indexWhere(_.contains(s"def $name(")) match {
      case -1 => Range(0, 0)
      case d => (d + 1) until lines.indexWhere(_.contains("def "), d + 1)
    }
    hits.filterNot { case (f, i) => f == file && body.contains(i) }
  }

  test("foreachBatch starts only in Sources.eachBatch; leases only through BatchState") {
    val strays = outside(hits(".foreachBatch"), "graft/streaming/Sources.scala", "eachBatch")
    assert(strays.isEmpty,
      s"foreachBatch outside Sources.eachBatch: ${where(strays)}")
    val leases = (hits("acquireLease(") ++ hits("releaseLease("))
      .filterNot(_._1 == "graft/util/BatchState.scala")
    assert(leases.isEmpty,
      s"lease taken outside BatchState.underLease: ${where(leases)}")
  }

  test("Hadoop's source map and the shared state's conf are reached only in Sessions") {
    val sessions = "graft/util/Sessions.scala"
    val strays = outside(hits("\"updatingResource\""), sessions, "dropSourceMap") ++
      outside(hits("\"hadoopConf\""), sessions, "dropSourceMaps")
    assert(strays.isEmpty,
      s"reflective conf access outside Sessions.dropSourceMap(s): ${where(strays)}")
  }
}
