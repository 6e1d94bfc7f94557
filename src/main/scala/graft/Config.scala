package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The lineage cut: every multi-consumer frontier in the batch
  * operators (the frames d6/d19/d17/e2e_curate materialize once so each
  * consumer branch doesn't re-execute the shared upstream pipeline)
  * goes through [[Config.cut]] / [[Config.CutOps.cutLineage]].
  *
  * WHY A CHECKPOINT, NOT persist(DISK_ONLY) — tried and MEASURED:
  * `persist` caches data but does NOT truncate the logical plan, and
  * the cut sites need the plan cut as much as the scan reuse — under
  * persist the composed curate key's ANALYSIS went combinatorial (a
  * thread dump showed `DeduplicateRelations` re-walking the uncut
  * self-referencing lineage; the sf0.001 spec run burned 45+
  * CPU-minutes without finishing analysis, vs ~1 min end-to-end with a
  * real cut). persist(DISK_ONLY) also stores blocks on EXECUTOR-local
  * disk, so an executor loss still loses them.
  */
object Config {

  /** THE lineage-cut primitive: one materialization shared across
    * consumers AND a truncated plan (both load-bearing — see the object
    * Scaladoc). Same schema, same rows as `df`.
    *
    * Every cut is LAZY: building it marks the frame, and it
    * materializes inside the first action that reads it. An eager cut
    * buys nothing and costs a job: in a local[4] session with AQE on,
    * an eager `localCheckpoint` of a groupBy ran 2 jobs when built and
    * a lazy one 1, and the first `count()` after either ran 2; in
    * trainCodebook's Lloyd loop the eager cuts made d17 run 38 one-task
    * jobs. Lazy is not job-free, though: under AQE, building a cut
    * plans its input adaptively, which runs the input's shuffle-map
    * stages (only a cut of an exchange-free plan runs no job). Any
    * job-free construction has to deal with that.
    *
    * The session's checkpoint dir picks the backend — no graft knob:
    *  - no dir (the default): `localCheckpoint`. Cheapest; the blocks
    *    live on executor disk/memory and the truncated lineage is not
    *    recomputable, so on a cluster an executor loss after
    *    materialization fails the job.
    *  - a dir (`spark.checkpoint.dir`, or `sc.setCheckpointDir`): a
    *    reliable `checkpoint` to it. Same plan truncation, written to
    *    the store, so executor loss only re-reads. On a cluster point
    *    it at shared storage (the job's HDFS/S3 scratch); a driver-local
    *    path would not survive executor loss. [[FaultDrill]] shows both.
    *
    * The reliable path writes in a SEPARATE job after the first action,
    * and an uncached subtree is RECOMPUTED by that job — the
    * checkpoint-twice trap (measured: e2e_curate ×10 doubled, 30.4 →
    * 61.9 s). A DISK_ONLY persist underneath turns the write job into a
    * cache read: one compute, two writes. The cached copy is redundant
    * once the checkpoint materializes, so a job-end listener drops it
    * then (a long-lived session with many cut sites would otherwise
    * keep every DISK_ONLY copy for its lifetime). */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.localCheckpoint(eager = false)
    else {
      val persisted = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val out = persisted.checkpoint(eager = false)
      registerUnpersist(df.sparkSession, persisted, out)
      out
    }

  /** Reliable cuts whose DISK_ONLY copy is still pending drop:
    * (owning SparkContext, persisted pre-cut frame, the cut frame's
    * physical RDD — whose ancestry contains the checkpoint-marked
    * RDD). Entries are SCOPED to their context: an entry whose context
    * has stopped is dropped at the next scan — unpersist on a dead
    * context throws, and unscoped, the same entry re-threw inside
    * onJobEnd on every job of the NEXT context (and retained the
    * frame's plan graph forever). */
  private val pending =
    new java.util.concurrent.ConcurrentLinkedQueue[
      (org.apache.spark.SparkContext, DataFrame, org.apache.spark.rdd.RDD[_])]()
  @volatile private var listenerOn: org.apache.spark.SparkContext = null

  /** True once the cut frame's checkpoint has materialized: the
    * checkpoint-marked RDD sits 1-2 hops below the frame's toRdd
    * (RDDScanExec wraps it in a projection), and `isCheckpointed`
    * flips only after the write job completes. */
  private def ckptDone(rdd: org.apache.spark.rdd.RDD[_]): Boolean = {
    def walk(r: org.apache.spark.rdd.RDD[_], depth: Int): Boolean =
      r.isCheckpointed || (depth > 0 && r.dependencies.exists(d => walk(d.rdd, depth - 1)))
    walk(rdd, 4)
  }

  /** The persist must outlive the FIRST action (that action's trailing
    * checkpoint-write job is the cache read that fixes the
    * checkpoint-twice trap), and is redundant after it. A job-end
    * listener drains the pending queue — each entry drops as soon as
    * any job observes its checkpoint materialized. A cut that is never
    * acted on keeps its (empty — nothing computed yet) persist entry;
    * that is a plan-time registration, not stored blocks. */
  private def registerUnpersist(
      spark: SparkSession, persisted: DataFrame, out: DataFrame): Unit = {
    // resolve the RDD on the caller thread (plan-only, runs no job);
    // the listener thread then only walks dependencies
    val sc = spark.sparkContext
    pending.add((sc, persisted, out.queryExecution.toRdd))
    if (listenerOn ne sc) synchronized {
      if (listenerOn ne sc) {
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val it = pending.iterator()
            while (it.hasNext) {
              val (owner, p, r) = it.next()
              // a stopped owner's entry can never materialize its
              // checkpoint — drop it (its blocks died with the context)
              if (owner.isStopped) it.remove()
              else if (ckptDone(r)) {
                // unpersist failure (context racing shutdown, blocks
                // already evicted) must not re-throw on every later
                // job — the entry is removed either way
                try p.unpersist(blocking = false)
                catch { case _: Throwable => () }
                it.remove()
              }
            }
          }
        })
        listenerOn = sc
      }
    }
  }

  /** Postfix form: `frame.cutLineage()`. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(): DataFrame = cut(df)
  }
}
