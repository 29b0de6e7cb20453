package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** ONE session builder for every entry point (round 14, VERDICT r13
  * task 2): Bench, Verify, Smoke, StreamDemo, PlanAudit, PlanPrint,
  * TimeMany, ProbeBuckets and the repository benchmark all build their
  * session here. The entry points previously each assembled their own
  * config, so the two round-13 engine settings (`parallelismFirst=
  * false`, the 5000-entry codegen class cache) lived ONLY in the timed
  * sessions — the engine the oracle verified was configured
  * differently from the engine the bench timed. Centralizing the
  * builder makes them identical by construction; a future
  * engine-level setting lands here once and reaches every surface.
  *
  * Config notes (all scale-adaptive, none a local[32] constant). The
  * four marked (required) are [[required]]: the settings every graft
  * session needs to give correct results, which the test session
  * applies too.
  *  - `spark.sql.shuffle.partitions` = the session core count from
  *    `$SPARK_GRAFT_CPUS` — the driver contract; AQE re-sizes from
  *    there by advisory bytes.
  *  - `adaptive.coalescePartitions.parallelismFirst=false` (guide
  *    §2.2): coalesce post-shuffle reads by advisory SIZE — Spark's
  *    own documented recommendation; the default true pins every tiny
  *    post-shuffle stage at `shuffle.partitions` tasks and per-task
  *    fixed overhead dominates small iterative shuffles. At real
  *    shuffle volumes AQE targets the advisory bytes and parallelism
  *    returns on its own.
  *  - `codegen.cache.maxEntries=5000` (static conf): a 210-query
  *    suite at ~10 codegen units each thrashes the default 100-entry
  *    class cache; any long-lived SQL service keeps generated classes
  *    hot across repeated query shapes. Bounded memory, no result
  *    effect.
  *  - `spark.sql.extensions` = [[graft.functions.GraftExtensions]]
  *    (required): the one install path of graft's SQL functions. Spark
  *    applies it to every session state it builds, so the functions
  *    reach `newSession()`s and each streaming query's cloned session
  *    with no call from an operator. The key is static: a session built
  *    anywhere else needs this one conf line, or every query using a
  *    graft function fails at analysis with an unresolved routine.
  *    The extension also installs the optimizer rule
  *    [[graft.functions.BatchTimestampByReference]]: a streamed
  *    `current_timestamp()` reaches generated code by reference, so a
  *    trigger reuses the classes the first trigger compiled. Without it
  *    the timestamps are the same, but every trigger compiles again
  *    (2 classes per `dualSinkQuery` trigger).
  *  - `session.timeZone=UTC` (required): the oracle comparison timezone
  *    (previously Verify/Smoke-only; timestamps in this suite are
  *    epoch-derived, so the setting is result-neutral for Bench but
  *    the engines should not differ even cosmetically).
  *  - `cleaner.referenceTracking.blocking=false`: a 200-query session
  *    accumulates thousands of dead broadcast/shuffle refs; blocking
  *    cleaner RPCs stall new-stage broadcast creation (observed
  *    40–200 s pass-2 stalls in round 4's bench).
  *  - `spark.local.dir` under ./target: /tmp is reaped by the host
  *    mid-run (round 4 lost a live shuffle index file that way).
  *  - `advisoryPartitionSizeInBytes=1m` (round 14,
  *    OPTIMIZATION_r14.md §3): at these corpus sizes every shuffle is
  *    a few MB compressed, and the 64 MB default folded the LSH
  *    candidate-dedup exchanges into one serial partition; at 1 MB
  *    they split across cores while the tiny iterative shuffles still
  *    coalesce to one. 8 MB was measured as a net loss. A cluster-scale
  *    corpus wants the usual 100 MB–1 GB.
  *  - `legacy.parquet.nanosAsLong=true` (required): a TIMESTAMP(NANOS)
  *    parquet column reads as long instead of failing the scan, and
  *    [[graft.Tables]] converts it to µs (the testdata has shipped
  *    both NANOS and MICROS). Set once here so the loaders never
  *    write the session's config; it has no effect on MICROS data.
  *  - `fs.file.impl`, `fs.AbstractFileSystem.file.impl` (required):
  *    the `file` scheme's FileSystem and FileContext are [[LocalFs]],
  *    which sets permissions and checks links in-process. Stock Hadoop
  *    without its native library forks `chmod` per file create and per
  *    mkdir and `readlink` twice per FileContext rename, and every
  *    streamed trigger commits a source-log, offset-WAL and commit entry,
  *    a state delta and checksum per state partition and the sink's
  *    parquet: one `txn_stream` benchmark run started 5,732 child
  *    processes (21 with [[LocalFs]]: Spark's `rm -rf` and two start-up
  *    commands).
  *    Measured in a 3 GB-heap JVM on 4 cores, stock vs [[LocalFs]]: a
  *    checksummed create 6.4 vs 0.44 ms (10 vs 1.0 ms with 4 threads
  *    creating), a mkdir 2.9 vs 0.05 ms, a FileContext rename 24 vs
  *    0.25 ms. Permission bits, checksum files, rename semantics and
  *    outputs are unchanged, and the checkpoint keeps Spark's FileContext
  *    manager with its atomic fail-if-exists rename.
  *  - Hadoop's per-key source map (`Configuration.updatingResource`) is
  *    cleared on the session's two base Hadoop confs ([[dropSourceMaps]]);
  *    `sessionState.newHadoopConf()` copies the SparkContext's. Spark
  *    ships that conf with every file scan, write job and write task,
  *    and `Configuration.write` gzips each key's source array in its
  *    own GZIP stream, which `readFields` inflates again. The conf holds
  *    about 1,100 keys: 520 from `yarn-default.xml` and 194 from
  *    `mapred-default.xml` (registered when the SparkContext loads
  *    `JobConf`), 356 from `core-default.xml`, the rest set by Spark or
  *    graft. A `SerializableConfiguration` round trip, warm, one thread,
  *    median of 50 on 4 cores: 113 KB, 9.0 ms to serialize and 9.2 ms
  *    to deserialize with the map; 69 KB, 0.7 ms and 1.3 ms without it.
  *    Keys and values are unchanged; only `getPropertySources`
  *    (diagnostics) returns null for the cleared keys.
  */
object Sessions {

  /** The settings every graft session needs to give correct results;
    * [[build]] and the test session both apply them. */
  val required: Map[String, String] = Map(
    "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.FileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Fs].getName)

  /** Build the shared session. `tool` names the per-tool block-manager
    * dir (concurrent tools must not share spark.local.dir);
    * `cpusDefault` preserves each entry point's historical default
    * when `$SPARK_GRAFT_CPUS` is unset (the driver always sets it). */
  def build(tool: String, cpusDefault: String = "4"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", cpusDefault)
    val localDir = new java.io.File(s"target/spark-local-$tool").getAbsolutePath
    new java.io.File(localDir).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.cleaner.referenceTracking.blocking", "false")
      .config(required)
      .getOrCreate()
    dropSourceMaps(spark)
    spark
  }

  /** Clear `conf`'s per-key source map, after loading its resources
    * (a later first load would fill the map again). Keys and values are
    * unchanged. */
  def dropSourceMap(conf: Configuration): Unit = {
    conf.size()
    val sources = classOf[Configuration].getDeclaredField("updatingResource")
    sources.setAccessible(true)
    sources.get(conf).asInstanceOf[java.util.Map[_, _]].clear()
  }

  /** [[dropSourceMap]] on the session's two base Hadoop confs, which
    * every per-query conf is copied from: the SparkContext's and the
    * shared state's (`private[sql]`). The shared state is built first:
    * building it registers `hdfs-default.xml` and three more default
    * resources, and that reloads every conf, filling its map again. */
  def dropSourceMaps(spark: SparkSession): Unit = {
    val shared = spark.sharedState
    dropSourceMap(spark.sparkContext.hadoopConfiguration)
    dropSourceMap(shared.getClass.getMethod("hadoopConf").invoke(shared)
      .asInstanceOf[Configuration])
  }

  /** Run `body` — an ITERATIVE driver loop (label propagation, BPE
    * merges, Lloyd fits) — under STATIC per-round planning (round 14):
    * AQE off + `shuffle.partitions` derived from the materialized row
    * count of the loop's bounded working set (~64k rows/task — a data
    * rule, never a core-count constant: 1 task at test scale,
    * thousands of tasks at 10⁹ rows). Under AQE every exchange of
    * every round re-optimizes as its OWN scheduler job, so an 8–9
    * round loop pays ~20–30 tiny jobs of pure fixed cost on
    * vocabulary/dict/node-sized frames; planned statically each round
    * is ONE job. Conf restored in `finally`. Loops in this suite run
    * serially per session; the PQ sub-codebook fits share ONE window
    * across their driver threads (same conf either way). */
  def staticPlans[T](spark: SparkSession, rows: Long)(body: => T): T = {
    val parts = math.max(1L, rows / 65536L).toString
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }
}
