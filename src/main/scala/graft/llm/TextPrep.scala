package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared text preparation for the LLM-data-pipeline operators:
  * tokenization and shingling, defined ONCE here with their DuckDB
  * oracle SQL twins so Spark and oracle can never drift.
  *
  * The shingle + MinHash-base computation is a native codegen'd
  * Catalyst expression (graft.functions.ShingleHashes): one compiled
  * pass per row, one md5 per distinct shingle. The previous
  * higher-order-function pipeline was interpreted and needed a
  * repartition-sandwich + cache to be usable at all; the round-1
  * driver bench still recorded 128 s in-suite for q_minhash_lsh.
  * The native expression is stable under any session state and needs
  * no barriers — duplicate references inside one projection are
  * handled by codegen subexpression elimination.
  */
object TextPrep {

  val ShingleWords = 3

  /** Modulus for the arithmetic MinHash hash family (fits i*b sums in
    * a long with headroom). */
  val HashP: Long = graft.functions.TextHash.HashP

  /** Word tokens: space-split of lowercased text (corpus is [a-z0-9 ]). */
  def wordsCol: Column = split(lower(col("text")), " ")

  val sqlWords = "string_split(lower(text), ' ')"

  /** The token regex shared by every n_tokens producer
    * ([[TextStats.textStats]], [[Curate.sampleManifest]]) and their
    * twins — ONE definition so a tokenization tweak can never diverge
    * the queries that report token counts. */
  val TokenRe = "[a-z]+|[0-9]+"

  /** documents → (doc_id, lang, shs, ha, hb, n).
    *
    * shs = distinct word-3-gram shingles; ha/hb = the two 60-bit halves
    * of md5(shingle) mod HashP — the base of the Kirsch–Mitzenmacher
    * seed family (one md5 per shingle, every MinHash seed derived
    * arithmetically).
    *
    * Fanned out (round 13): the driver testdata is a single-row-group
    * parquet file, so without [[graft.util.Scans.fanOut]] the whole
    * shingle-hash pass (one md5 per distinct shingle per document) ran
    * in ONE scan task; the guard skips the repartition on any source
    * that already carries enough partitions (a real corpus scan), so
    * at cluster scale this is a no-op. Downstream state is small
    * (count/heap aggregates keyed by shingle), so the fan-out cannot
    * multiply aggregation buffers the way the reverted whole-table
    * fan-out did (see Scans' doc).
    */
  def docShingles(documents: DataFrame): DataFrame = {
    // round 14: hash-by-doc_id instead of round-robin — the per-doc
    // size aggregate and every doc-keyed join downstream reuse the
    // exchange (q_minhash_est 3.6 -> ~1.0 s rode exactly this)
    graft.util.Scans.fanOutBy(documents, "doc_id")
      .select(col("doc_id"), col("lang"),
        call_function("shingle_hashes", col("text"), lit(ShingleWords)).as("d"))
      .select(col("doc_id"), col("lang"),
        col("d.shs").as("shs"), col("d.ha").as("ha"), col("d.hb").as("hb"))
      .filter(size(col("shs")) > 0)
      .withColumn("n", size(col("shs")).cast("long"))
  }

  /** documents → exploded distinct shingles (doc_id, sh). The base of
    * the all-pairs set-similarity join. */
  def shingleSets(documents: DataFrame): DataFrame =
    docShingles(documents)
      .select(col("doc_id"), explode(col("shs")).as("sh"))

  /** DuckDB twin of the shingle expression over an inlined words expr. */
  def sqlShingles(w: String): String =
    s"list_transform(generate_series(1, len($w) - ${ShingleWords - 1}), " +
      s"i -> array_to_string(($w)[i:i+${ShingleWords - 1}], ' '))"

  /** DuckDB twin CTEs: `docs(doc_id, lang, shs, ha, hb, n)` (array-
    * native), `s(doc_id, sh)` (exploded), `sizes(doc_id, n)`. */
  val sqlShingleCtes: String =
    s"""docs AS (
          SELECT doc_id, lang, shs,
            list_transform(shs, sh ->
              CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) % $HashP) AS ha,
            list_transform(shs, sh ->
              CAST(concat('0x', substr(md5(sh), 17, 15)) AS BIGINT) % $HashP) AS hb,
            CAST(len(shs) AS BIGINT) AS n
          FROM (
            SELECT doc_id, lang,
              list_distinct(${sqlShingles(sqlWords)}) AS shs
            FROM documents WHERE len($sqlWords) >= $ShingleWords)
        ),
        s AS (SELECT doc_id, unnest(shs) AS sh FROM docs),
        sizes AS (SELECT doc_id, n FROM docs)"""
}
