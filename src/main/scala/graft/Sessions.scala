package graft

import org.apache.spark.sql.SparkSession

/** The ONE place the engine's session tuning lives. Verify, Bench,
  * and Probe used to each restate the same builder config; a user
  * deploying the library gets the same defaults via [[local]] or can
  * graft them onto an existing builder via [[tune]].
  *
  * What's set and why (the 100 TB rationale, applied at any scale):
  *  - AQE on + skew-join on: runtime re-planning is what turns the
  *    library's deliberately UNHINTED joins (t8's tf table, q21's
  *    supplier, st9's dim) into broadcasts exactly when they fit —
  *    and splits skewed shuffle partitions nobody predicted.
  *  - shuffle.partitions follows the parallelism argument instead of
  *    the 200 default: on local[N] anything else under- or
  *    over-splits every exchange; cluster deployments pass their own
  *    (usually 2-3× total cores, AQE coalesces the excess).
  *  - session timezone UTC: every oracle-checked timestamp rule
  *    (SURVEY §6.4) assumes it; a TZ-naive deployment would silently
  *    shift date_trunc/extract results.
  *  - GraftExtensions: registers the custom Catalyst surface
  *    (graft_cosine, graft_jaccard, the as-of join strategy). Pure
  *    SQL/DataFrame users lose nothing without it; the custom
  *    operators fall back (AsOfJoin has a union+window twin).
  *  - codegen cache of 4,096 classes (Spark's default holds 100): an
  *    interactive session runs the same plans again and again, and a
  *    plan whose generated classes are still cached skips Janino. One
  *    cold pass of all 214 keys (sf0.01, local[4]) compiles 2,801
  *    distinct classes, and the warm pass after it 28. At 100 entries
  *    even perfbench's 11-key analytics sample (~205 classes) thrashes:
  *    every warm pass compiles ~200 of them again. A cached class holds
  *    ~31 KB of heap (2,829 cached classes released 88 MB when the cache
  *    was emptied), so a full cache is ~125 MB, plus the classes'
  *    metaspace; a session only pays for the classes its plans generate
  *    (the sample: ~6 MB). The size is a static conf that each JVM reads
  *    once, when it first generates code: the driver's session fixes it
  *    at build time, and on a cluster every executor JVM sizes its own
  *    cache from the conf it sees first, so pass it with the
  *    application's conf (`spark-submit --conf`), not later. Each
  *    executor holds its own cache, so a thrashing cache recompiles on
  *    every executor.
  *  - generated class names without the codegen stage id: AQE numbers
  *    a query's whole-stage codegen stages in the order it plans them,
  *    which moves between runs as stages finish in another order, and
  *    the id in the class name made the same code a new cache entry
  *    (the warm full pass compiled 158 classes with ids in the names,
  *    28 without). Stack traces then name `GeneratedIterator` instead
  *    of `GeneratedIteratorForCodegenStageN`; the plan's `*(N)` marks
  *    still number the stages.
  */
object Sessions {

  /** Apply the engine's tuning to an existing builder. */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // With a checkpoint dir set, every Config.cut writes RDD
      // checkpoint files under it, and Spark does NOT delete them when
      // the RDD is GC'd unless this is on — a long-lived session (one
      // JVM, many cuts) would otherwise fill the dir for its whole
      // lifetime. Read by ContextCleaner at context construction, so it
      // must be set here, not after.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** FQCN of Spark's RocksDB state store provider (bundled with the
    * distribution — rocksdbjni ships in jars/). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Streaming deployments: [[tune]] plus the RocksDB state store —
    * the 100 TB scale path for every stateful op (st3/st4/st7/st10/
    * st12). The default HDFSBackedStateStoreProvider keeps EVERY
    * key's state as deserialized JVM objects in executor heap; at
    * large key domains (per-user sessions over millions of users)
    * that heap competes with shuffle/agg memory and GC pauses scale
    * with state size. RocksDB keeps state off-heap on LOCAL DISK with
    * an in-memory block cache, so state capacity is bounded by disk,
    * not heap — the documented trade is per-access (de)serialization
    * cost and local-disk I/O, which is the right trade whenever state
    * exceeds a few GB per executor. Changelog checkpointing uploads
    * only each batch's DELTA to the checkpoint location (instead of
    * snapshotting full SST files), keeping commit latency flat as
    * state grows; snapshots still happen, async, every
    * `minDeltasForSnapshot` batches. Output is IDENTICAL to the
    * default store (StreamingSpec proves it on a stateful op) — the
    * provider only changes WHERE state lives, never its semantics. */
  def tuneStreaming(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    tune(b, shufflePartitions)
      .config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")

  /** Thread count for the mains' local session: `SPARK_GRAFT_CPUS`,
    * else every core this JVM sees. */
  def envCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Local session with `cpus` threads — the driver-contract mains'
    * entry point (UI off: these are headless batch runs). */
  def local(cpus: Int, ui: Boolean = false): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", ui.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
