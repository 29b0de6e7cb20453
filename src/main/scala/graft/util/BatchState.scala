package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The per-micro-batch file format shared by every exactly-once sink
  * and every streamed state (the shingle and LSH dedup indexes, the
  * ledger's fingerprint indexes, the pack, URL-key and postings
  * states).
  *
  * Layout: `dir/micro_batch_id=N[/extra=K]`, one partition per
  * micro-batch that wrote the rows; `micro_batch_id=-1` holds a bulk
  * build or the compacted state. One function of each kind works on
  * it:
  *  - [[writeBatchIdempotent]] writes batch N; a replay replaces it;
  *  - [[priorState]] reads the rows of the batches before N;
  *  - [[compactState]] folds the per-batch partitions into `-1`;
  *  - [[underLease]] runs a writer under the root's write lease, so
  *    appends and compaction of one state root are mutually exclusive;
  *    every writer takes the lease through it.
  *
  * The partition column is `micro_batch_id`, NOT `batch_id`: the
  * transaction schema declares a DOMAIN `batch_id` string field
  * (Schemas.scala), and a partition of the same name would silently
  * replace the source value with the micro-batch number for every
  * record read back. File operations use the session's Hadoop conf,
  * and a `false` from a Hadoop delete or rename throws. */
object BatchState {

  val PartitionCol = "micro_batch_id"

  /** Staged-only route column of [[writeBatchIdempotent]]; the rename
    * drops it, so no sink's rows carry it. A caller whose frame is
    * already tagged passes `col(RouteCol)` as the route. */
  private[graft] val RouteCol = "_route"

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def deleteIfExists(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"could not delete $p")

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"could not rename $src to $dst")

  private def partitionDirs(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith(s"$PartitionCol=") =>
        s.getPath
    }

  /** The `micro_batch_id=` partition dirs directly under `dir`; none
    * if it does not exist. */
  private[graft] def partitions(spark: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    partitionDirs(fileSystem(spark, p), p)
  }

  /** The idempotent-replay write used by every exactly-once file sink
    * and state append. Each row goes to the dir its `route` value
    * names in `outDirs`, and each dir gets the batch in its own
    * `outDir/micro_batch_id=N[/extra=K]` partition. All routes land in
    * ONE write job, then commit by stage-delete-rename:
    *
    *  1. write the batch once, partitioned by route and
    *     `extraPartitions`, into a hidden per-batch staging dir
    *     (`.stage_micro_batch_N` under the first route's dir; Spark and
    *     pyarrow skip dot-dirs, so a reader never sees it);
    *  2. per route, delete `outDir/micro_batch_id=N` and rename the
    *     staged route dir into its place — a route with no rows only
    *     loses the partition a failed earlier attempt may have left;
    *  3. delete the staging dir.
    *
    * Replay is safe because `foreachBatch` returns before the offset
    * commit: a crash anywhere in 1–3 replays batch N, and the replay
    * replaces every route's partition N (and the stale staging dir)
    * instead of appending duplicates. Route values must be plain names
    * (they become path segments; a row routed to a value `outDirs`
    * lacks fails the write), and every `outDirs` entry must sit on one
    * filesystem. */
  def writeBatchIdempotent(batch: DataFrame, route: Column,
                           outDirs: Map[String, String], batchId: Long,
                           extraPartitions: Seq[String]): Unit = {
    val stage = new Path(outDirs.values.head, s".stage_micro_batch_$batchId")
    val fs = fileSystem(batch.sparkSession, stage)
    deleteIfExists(fs, stage) // a failed earlier attempt's staging
    batch.withColumn(RouteCol, route)
      .write.partitionBy(RouteCol +: extraPartitions: _*)
      .parquet(stage.toString)
    val staged = fs.listStatus(stage).map(_.getPath.getName)
      .filter(_.startsWith(s"$RouteCol=")).map(_.stripPrefix(s"$RouteCol=")).toSet
    require(staged.subsetOf(outDirs.keySet),
      s"rows routed to unknown sinks ${(staged -- outDirs.keySet).mkString(", ")}")
    outDirs.foreach { case (r, dir) =>
      val dst = new Path(dir, s"$PartitionCol=$batchId")
      deleteIfExists(fs, dst)
      if (staged(r)) {
        fs.mkdirs(dst.getParent)
        rename(fs, new Path(stage, s"$RouteCol=$r"), dst)
      }
    }
    deleteIfExists(fs, stage)
  }

  /** One-sink form of the routed write above. */
  def writeBatchIdempotent(batch: DataFrame, outDir: String, batchId: Long,
                           extraPartitions: Seq[String] = Nil): Unit =
    writeBatchIdempotent(batch, lit("out"), Map("out" -> outDir), batchId,
      extraPartitions)

  /** The rows the batches before `batchId` wrote under `dir` (the
    * compacted `-1` partition included), or None on a cold start: no
    * partition yet. The dir may then hold only dot-entries (the lease,
    * staging), and schema inference over zero files throws.
    *
    * The `< batchId` filter is the replay-safety boundary: a crash
    * after batch N's own state write but before its checkpoint commit
    * leaves partition N on disk, and the replay must not read it as
    * prior state (it would see its own keys as already indexed, or
    * count its own deltas twice). Partition pruning makes it free. */
  private[graft] def priorState(spark: SparkSession, dir: String,
                                batchId: Long): Option[DataFrame] =
    if (partitions(spark, dir).isEmpty) None
    else Some(spark.read.parquet(dir).filter(col(PartitionCol) < lit(batchId)))

  private def leaseFile(root: String) = new Path(root, ".write_lease")

  /** Writer-exclusion lease: compaction and appends mutate the same
    * dirs, so every writer of a state root takes this lease first. One
    * dot-file at the root (partition discovery never sees it),
    * acquired by atomic create-if-absent. A writer finding ITS OWN
    * holder string in an existing lease RECLAIMS it: a crash-replay of
    * the same micro-batch append, or a compaction re-run after a crash,
    * is idempotent and must not deadlock on its own leftover. The
    * lease is released only on success — a failed writer leaves it
    * naming itself, so the next CONFLICTING writer fails loudly instead
    * of racing a half-written state, while the same work item retried
    * goes through. */
  private[graft] def acquireLease(spark: SparkSession, root: String,
                                  holder: String): Unit = {
    val lease = leaseFile(root)
    val fs = fileSystem(spark, lease)
    fs.mkdirs(lease.getParent)
    val acquired =
      try {
        val out = fs.create(lease, false)
        out.write(holder.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!acquired) {
      val existing =
        try {
          val in = fs.open(lease)
          val buf = new Array[Byte](256)
          val m = in.read(buf)
          in.close()
          new String(buf, 0, math.max(0, m),
            java.nio.charset.StandardCharsets.UTF_8)
        } catch { case _: java.io.IOException => "<unreadable>" }
      require(existing == holder,
        s"state at $root is write-locked by '$existing' (this " +
          s"writer: '$holder'): compaction and appends are mutually " +
          s"exclusive — quiesce the other writer first, or delete " +
          s"$lease by hand if it is stale from a crashed run")
    }
  }

  private[graft] def releaseLease(spark: SparkSession, root: String): Unit = {
    val lease = leaseFile(root)
    deleteIfExists(fileSystem(spark, lease), lease)
  }

  /** `body` run holding the write lease of `root` as `holder`. The
    * lease is released only if `body` returns: a throw leaves it
    * naming `holder`, so a conflicting writer fails loudly and the
    * same holder's retry reclaims it (see [[acquireLease]]). */
  private[graft] def underLease(spark: SparkSession, root: String,
                                holder: String)(body: => Unit): Unit = {
    acquireLease(spark, root, holder)
    body
    releaseLease(spark, root)
  }

  /** Small-files maintenance for any per-batch state: fold its
    * per-trigger partitions into `micro_batch_id=-1` under the root's
    * write lease. `root` is one state dir, or — when it holds no
    * partitions itself — a root whose non-dot child dirs are state dirs
    * (the ledger's text/image/audio, the shard writer's four, the LSH
    * index's buckets/vectors), all folded under the one lease. Rows
    * move, never change, and -1 still passes [[priorState]]'s filter.
    *
    * Run it only against a quiesced stream whose last batch committed:
    * folding an UNCOMMITTED batch's partition into -1 would make its
    * replay read its own writes as prior state. The lease enforces
    * this fail-loud — a live trigger refuses to append while it is
    * held. A re-run after a crash reclaims its own lease and finishes
    * or rolls back the interrupted swap. */
  def compactState(spark: SparkSession, root: String): Unit =
    underLease(spark, root, "compact") {
      val r = new Path(root)
      val fs = fileSystem(spark, r)
      // a dir whose every partition a crashed swap moved aside counts too
      def holdsState(d: Path): Boolean =
        Seq(d, new Path(d, ".old")).exists(partitionDirs(fs, _).nonEmpty)
      val dirs =
        if (holdsState(r)) Seq(r)
        else fs.listStatus(r).toSeq
          .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
          .map(_.getPath).filter(holdsState)
      dirs.foreach(d => compactPartitionsLocked(spark, d.toString))
    }

  /** The nested partition columns under a partition dir (`tbl`,
    * `shard`, …), read from the listing: the first `k=v` child, down. */
  private def nestedPartitionCols(fs: FileSystem, d: Path): List[String] =
    fs.listStatus(d).find(s => s.isDirectory && s.getPath.getName.contains('=')) match {
      case Some(s) => s.getPath.getName.takeWhile(_ != '=') ::
        nestedPartitionCols(fs, s.getPath)
      case None => Nil
    }

  /** The one compaction worker: fold the per-batch partitions of `dir`
    * into the one `micro_batch_id=-1` partition (nested partitions
    * kept). -1 sorts below every real micro-batch id, so [[priorState]]
    * keeps seeing compacted state as PRIOR state. Caller must hold the
    * write lease covering this dir.
    *
    *  - `merge` runs over the selected partitions' rows before the
    *    staged write — identity for row-preserving state, the
    *    read-time associative aggregate for partial summaries
    *    (pre-merging is sound exactly because the read-side merge is
    *    associative).
    *  - `uptoExclusive` bounds WHICH partitions fold: an IN-TRIGGER
    *    occupancy compaction must only fold ids < the current batch id
    *    — folding the current batch's own partition into -1 would
    *    double-count it when a crash replays the trigger (the
    *    partition re-appears beside its copy inside -1). Maintenance
    *    calls (stream quiesced) pass the default unbounded value.
    *
    * Mechanics: rewrite into `.compact/`, move the originals ASIDE into
    * `.old/`, rename the replacement in, delete the aside copy last.
    * Recovery DISCRIMINATES how far a crash got before touching
    * anything: the staged replacement is exactly ONE partition dir, so
    * its swap-in is a single atomic rename, and `.compact/` still
    * holding a partition dir is the ground truth that the swap has NOT
    * happened — only then are the originals in `.old/` authoritative
    * and rolled back. If `.compact/` holds no partition dir while
    * `.old/` does, the swap COMPLETED and the dir already holds the
    * full replacement: `.old/` is a disposable copy that must be
    * DELETED, never restored (restoring it beside the complete `-1`
    * replacement would bake every row in twice on the rerun). */
  private[graft] def compactPartitionsLocked(
      spark: SparkSession, dir: String,
      merge: DataFrame => DataFrame = identity,
      uptoExclusive: Long = Long.MaxValue): Unit = {
    val root = new Path(dir)
    val staged = new Path(root, ".compact")
    val aside = new Path(root, ".old")
    val fs = fileSystem(spark, root)
    if (partitionDirs(fs, staged).nonEmpty)
      partitionDirs(fs, aside).foreach { d =>
        val back = new Path(root, d.getName)
        deleteIfExists(fs, back) // same-name dir here is stale garbage
        rename(fs, d, back)
      }
    deleteIfExists(fs, staged); deleteIfExists(fs, aside)
    val selected = partitionDirs(fs, root).filter { d =>
      d.getName.stripPrefix(s"$PartitionCol=").toLongOption
        .exists(_ < uptoExclusive)
    }
    if (selected.nonEmpty) {
      merge(spark.read.option("basePath", dir)
          .parquet(selected.map(_.toString): _*))
        .drop(PartitionCol).withColumn(PartitionCol, lit(-1L))
        .write.mode("overwrite")
        .partitionBy(PartitionCol +: nestedPartitionCols(fs, selected.head): _*)
        .parquet(staged.toString)
      fs.mkdirs(aside)
      selected.foreach(d => rename(fs, d, new Path(aside, d.getName)))
      partitionDirs(fs, staged).foreach(d => rename(fs, d, new Path(root, d.getName)))
      deleteIfExists(fs, aside)
      deleteIfExists(fs, staged)
    }
  }
}
