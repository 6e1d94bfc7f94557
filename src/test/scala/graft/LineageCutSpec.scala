package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.CheckpointShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Config.cut]]'s contract: every cut is lazy, and the session's
  * checkpoint dir alone picks the backend (a reliable checkpoint with a
  * dir, a localCheckpoint without). Both backends must be
  * semantics-neutral at every cut site and must actually CUT (Config's
  * Scaladoc records the measured persist failure: cached-but-uncut
  * lineage sent the composed curate key's analysis combinatorial).
  *
  * Every test leaves the session with no checkpoint dir: the suites
  * sharing this test JVM run without one.
  */
class LineageCutSpec extends SparkSuite {

  private def sc = spark.sparkContext

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  private def withoutCheckpointDir[A](body: => A): A = {
    assert(sc.getCheckpointDir.isEmpty, "the session already has a checkpoint dir")
    body
  }

  /** `body` runs with a fresh checkpoint dir set; the dir is cleared
    * and deleted afterwards, whatever `body` does. */
  private def withCheckpointDir[A](body: File => A): A = withoutCheckpointDir {
    val dir = java.nio.file.Files.createTempDirectory("graft-cut-spec").toFile
    sc.setCheckpointDir(dir.toString)
    try body(dir)
    finally {
      CheckpointShim.clearCheckpointDir(sc)
      deleteRecursively(dir)
    }
  }

  private def withBackend[A](reliable: Boolean)(body: => A): A =
    if (reliable) withCheckpointDir(_ => body) else withoutCheckpointDir(body)

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val started = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet(): Unit
    }
    CheckpointShim.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      CheckpointShim.drainListenerBus(sc)
      (a, started.get)
    } finally sc.removeSparkListener(l)
  }

  /** Whether the cut frame reads a localCheckpoint: the marked RDD sits
    * 1-2 hops below the frame's physical RDD. */
  private def locallyCheckpointed(cut: DataFrame): Boolean = {
    def walk(r: org.apache.spark.rdd.RDD[_], depth: Int): Boolean =
      CheckpointShim.isLocallyCheckpointed(r) ||
        (depth > 0 && r.dependencies.exists(d => walk(d.rdd, depth - 1)))
    walk(cut.queryExecution.toRdd, 4)
  }

  test("the checkpoint dir picks the backend: a cut writes checkpoint files under a set dir, and none without one") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    withCheckpointDir { dir =>
      val c = Config.cut(df)
      assert(c.count() === 100L)
      val written = files(dir).filter(_.getParentFile.getName.startsWith("rdd-"))
      assert(written.nonEmpty, s"no RDD checkpoint files under the checkpoint dir $dir")
      assert(!locallyCheckpointed(c))
    }
    withoutCheckpointDir {
      val c = Config.cut(df)
      assert(c.count() === 100L)
      assert(sc.getCheckpointDir.isEmpty, "a cut without a checkpoint dir set one")
      assert(locallyCheckpointed(c), "a cut without a checkpoint dir is not a localCheckpoint")
    }
  }

  test("cut() is semantics-neutral and PLAN-EQUAL across backends: both truncate to the same leaf shape") {
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).as("len"))
    val want = df.orderBy(col("doc_id")).collect().toSeq
    def leaf(): String = {
      val c = Config.cut(df)
      assert(c.schema === df.schema)
      assert(c.orderBy(col("doc_id")).collect().toSeq === want)
      c.queryExecution.analyzed.getClass.getSimpleName
    }
    val l = withoutCheckpointDir(leaf())
    val r = withCheckpointDir(_ => leaf())
    // the lineage is GONE on both backends — each analyzes to the same
    // single leaf node class (LogicalRDD over the materialized blocks),
    // so downstream analysis/optimization cost is identical
    assert(l === r)
    assert(l === "LogicalRDD", s"cut frame should be a materialized leaf, got $l")
  }

  test("cut-heavy operators are backend-invariant: d6 / d7 / e2e_curate_fixed byte-identical with and without a checkpoint dir") {
    def run(key: String) =
      SparkEntry.queries(key)(spark, sf).collect().map(_.toSeq).toSeq
    for (key <- Seq("d6_decontaminate", "d7_neardup_clusters", "e2e_curate_fixed")) {
      val local = withoutCheckpointDir(run(key))
      val reliable = withCheckpointDir(_ => run(key))
      assert(reliable === local, s"$key diverged between the cut backends")
    }
  }

  for (reliable <- Seq(false, true)) {
    val name = if (reliable) "reliable" else "local"
    test(s"$name cut: building runs no job, the first action computes the subtree once, the next none, and no persist copy is left") {
      withBackend(reliable) {
        val before = sc.getPersistentRDDs.keySet
        // Count actual computes of the pre-cut subtree with an
        // accumulator-bearing UDF (test-only; main source bans UDFs).
        // Local mode, no speculation/retries: the count is exact.
        val acc = sc.longAccumulator(s"$name-subtree-computes")
        val tick = udf((x: Long) => { acc.add(1L); x })
        // no exchange: under AQE, building a cut of an exchange runs
        // the exchange's shuffle-map stages
        val df = spark.range(0, 1000, 1, 4).toDF("id")
          .select(tick(col("id")).as("id"))
        val (cut, built) = jobsDuring(Config.cut(df))
        assert(built === 0, s"building the cut ran $built jobs")
        assert(acc.value === 0L, "building the cut executed the subtree")
        // first action: compute, and on the reliable backend the
        // trailing checkpoint-write job READS the DISK_ONLY copy (the
        // checkpoint-twice trap was 2× here: 1000 → 2000)
        assert(cut.count() === 1000L)
        assert(acc.value === 1000L,
          s"the first action computed the cut subtree ${acc.value / 1000.0}x")
        assert(cut.agg(sum(col("id"))).collect().head.getLong(0) === 499500L)
        assert(acc.value === 1000L, "a second action recomputed the cut subtree")
        // The job-end listener drops the reliable cut's DISK_ONLY copy
        // once a job sees the checkpoint written (the write job's own
        // end event can race the checkpoint's marking) — poll, nudging
        // the bus with no-op jobs. A localCheckpoint's own blocks are
        // the cut's data, not a copy.
        def left = sc.getPersistentRDDs.filter { case (id, r) =>
          !before(id) && !CheckpointShim.isLocallyCheckpointed(r)
        }
        val deadline = System.currentTimeMillis() + 15000
        while (System.currentTimeMillis() < deadline && left.nonEmpty) {
          spark.range(1).count(): Unit
          CheckpointShim.drainListenerBus(sc)
        }
        assert(left.isEmpty, s"the cut left persistent RDDs behind: ${left.keySet}")
        assert(cut.count() === 1000L)
        assert(acc.value === 1000L)
      }
    }
  }
}
