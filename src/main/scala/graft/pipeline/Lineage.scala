package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-lineage tracking — the reference's SQLAlchemy lineage store
  * re-expressed as DataFrame stages.
  *
  * Reference semantics:
  *  - lineage record schema (`src/utils/data_lineage.py:61-76`)
  *  - SHA-256 record hashing of canonicalized rows
  *    (`data_lineage.py:201-217`, sorted-key JSON → here a
  *    canonical '|'-joined projection, same integrity property)
  *  - read-back: filter by transaction id, order by processing time
  *    (`data_lineage.py:159-199`)
  *
  * Scale: record hashing is a row-local codegen'd expression chain
  * (concat_ws → sha2); the lineage "table" is an append-only DataFrame
  * partitionable by processing date.
  */
object Lineage {

  /** Injective field canonicalization for the record hash. concat_ws
    * alone is NOT injective: it silently skips NULL fields and a '|'
    * inside a field shifts boundaries, so distinct records could
    * collide ((1,NULL,'7','p') and (1,7,NULL,'p') both flatten to
    * '1|7|p'). Escape the escape char first, then the delimiter, and
    * map NULL to the unescapable sentinel '\N' (a literal "\N" field
    * escapes to "\\N", so the sentinel cannot be forged). */
  private def canon(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.isNull, lit("\\N")).otherwise(
      call_function("replace",
        call_function("replace", c, lit("\\"), lit("\\\\")),
        lit("|"), lit("\\|")))

  /** The canonical record-hash expression — single definition shared by
    * [[recordHashes]], [[lineageRecords]], and (via [[sqlRecordHash]])
    * every oracle twin, so the canonicalization can never split. */
  private[pipeline] def recordHashCol: org.apache.spark.sql.Column =
    sha2(concat_ws("|",
      canon(col("event_id").cast("string")),
      canon(col("user_id").cast("string")),
      canon(col("event_type")),
      canon(col("props"))), 256)

  /** DuckDB twin of [[canon]]. */
  private def sqlCanon(f: String): String =
    s"""CASE WHEN $f IS NULL THEN '\\N'
        ELSE replace(replace($f, '\\', '\\\\'), '|', '\\|') END"""

  /** DuckDB twin of [[recordHashCol]]. */
  val sqlRecordHash: String =
    s"""sha256(concat_ws('|', ${sqlCanon("CAST(event_id AS VARCHAR)")},
        ${sqlCanon("CAST(user_id AS VARCHAR)")}, ${sqlCanon("event_type")},
        ${sqlCanon("props")}))"""

  /** Content hash per record — deterministic canonical projection.
    * Only string/int fields go into the hash (float formatting is
    * engine-specific; the reference hashes JSON text, we hash a
    * canonical string — same integrity property). */
  def recordHashes(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      col("user_id"),
      recordHashCol.as("record_hash"))
      .orderBy("event_id")

  /** The pipeline's processing stages in order: (stage, seq,
    * process_name) — the reference's ingest → validate → transform
    * flow (`data_lineage.py:146-148` examples, consumer/validator/
    * processor process names). */
  val Stages: Seq[(String, Int, String)] = Seq(
    ("receive", 1, "KafkaConsumer"),
    ("validate", 2, "TransactionValidator"),
    ("enrich", 3, "TransactionProcessor"))

  /** Full lineage record table per `data_lineage.py:61-76`: one row
    * per (record, stage) with the reference's complete column set.
    * Nondeterministic reference fields get deterministic equivalents
    * so the table is oracle-checkable: lineage_id = sha256(record|stage)
    * instead of uuid4, processing_timestamp = source_timestamp + seq
    * minutes instead of wall-clock now() (stage order is preserved —
    * that is the property read-back depends on). */
  def lineageRecords(events: DataFrame,
                     sourceSystem: String = "events"): DataFrame = {
    // Single scan: the record hash is computed ONCE per record (sharing
    // recordHashCol with recordHashes, so the canonicalization cannot
    // split), then the row is fanned out over the 3-element stage array
    // — a map-only explode instead of a 3-way union that re-scans
    // events and re-hashes per stage. The oracle twin stays the
    // UNION ALL shape: an independent implementation of the same rows.
    val stageArr = array(Stages.map { case (stage, seq, pname) =>
      struct(lit(stage).as("stage"), lit(seq).as("seq"),
        lit(pname).as("pname"))
    }: _*)
    events
      .select(col("event_id"), col("ts"),
        recordHashCol.as("input_record_hash"),
        explode(stageArr).as("st"))
      .select(
        sha2(concat_ws("|", col("event_id").cast("string"), col("st.stage")), 256)
          .as("lineage_id"),
        col("event_id").as("transaction_id"),
        lit(sourceSystem).as("source_system"),
        col("ts").as("source_timestamp"),
        col("st.stage").as("processing_stage"),
        expr("timestampadd(MINUTE, st.seq, ts)").as("processing_timestamp"),
        col("st.pname").as("process_name"),
        lit("1.0").as("process_version"),
        col("input_record_hash"),
        sha2(concat(col("input_record_hash"), col("st.stage")), 256)
          .as("output_record_hash"),
        lit("success").as("status"),
        concat(lit("{\"stage\":\""), col("st.stage"), lit("\",\"seq\":"),
          col("st.seq").cast("string"), lit("}")).as("metadata"))
  }

  /** Read-back: all lineage steps for one record, ordered by
    * processing TIME (`data_lineage.py:177-179` orders by
    * processing_timestamp — stage-name order would be alphabetical,
    * not processing order). lineage_id tie-breaks for a total order. */
  def lineageFor(lineage: DataFrame, transactionId: Long): DataFrame =
    lineage.filter(col("transaction_id") === transactionId)
      .orderBy("processing_timestamp", "lineage_id")

  /** q_lineage_readback: build the lineage table over events, read
    * back one transaction's history in processing order. */
  def lineageReadback(events: DataFrame, transactionId: Long): DataFrame =
    lineageFor(lineageRecords(events), transactionId)

  def sqlLineageReadback(transactionId: Long): String = {
    val stageSelects = Stages.map { case (stage, seq, pname) =>
      s"""SELECT
            sha256(concat_ws('|', CAST(event_id AS VARCHAR), '$stage')) AS lineage_id,
            event_id AS transaction_id,
            'events' AS source_system,
            ts AS source_timestamp,
            '$stage' AS processing_stage,
            ts + INTERVAL $seq MINUTE AS processing_timestamp,
            '$pname' AS process_name,
            '1.0' AS process_version,
            input_record_hash,
            sha256(concat(input_record_hash, '$stage')) AS output_record_hash,
            'success' AS status,
            '{"stage":"$stage","seq":$seq}' AS metadata
          FROM h"""
    }.mkString(" UNION ALL ")
    s"""WITH h AS (
          SELECT event_id, ts, $sqlRecordHash AS input_record_hash
          FROM events WHERE event_id = $transactionId),
        l AS ($stageSelects)
        SELECT * FROM l ORDER BY processing_timestamp, lineage_id"""
  }
}
