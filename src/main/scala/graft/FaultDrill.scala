package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Live executor-loss drill for the two [[Config.cut]] backends: the
  * reliable checkpoint's fault tolerance demonstrated, not asserted
  * from Spark semantics.
  *
  * Runs a curate-shaped job on `local-cluster[2,2,1024]` — a REAL
  * multi-executor deployment (separate executor JVMs, real block
  * fetches), the closest a single machine gets to a cluster. arg(0)
  * (`reliable` | `local`) decides only whether the session has a
  * checkpoint dir, which picks the cut's backend. The multi-consumer
  * frontier is cut, one consumer branch materializes the cut, then ONE
  * EXECUTOR JVM IS KILLED (SIGKILL via ProcessHandle) and the second
  * consumer branch runs:
  *
  *  - `reliable` (dir set): the cut's blocks live in the checkpoint DIR
  *    (shared storage — here a local path both executor processes can
  *    read, exactly the HDFS/S3 contract). The surviving/relaunched
  *    executor re-reads them; branch 2 COMPLETES.
  *  - `local` (no dir): a localCheckpoint — the cut's blocks lived on
  *    the dead executor and the truncated lineage is NOT recomputable;
  *    branch 2 FAILS (missing checkpoint block). That failure is the
  *    documented cluster trade, printed here as the expected outcome.
  *
  * Run (the standalone worker launcher needs SPARK_HOME, and
  * SPARK_SCALA_VERSION on a binary distribution, which has no build
  * dirs to infer it from; the graft classes dir rides executor
  * classpaths for any codegen fallback):
  * {{{
  * SPARK_HOME=/path/to/spark SPARK_SCALA_VERSION=2.13 sbt "runMain graft.FaultDrill reliable"
  * SPARK_HOME=/path/to/spark SPARK_SCALA_VERSION=2.13 sbt "runMain graft.FaultDrill local"
  * }}}
  * Prints one `DRILL <mode> branch2=COMPLETED|FAILED <detail>` line;
  * the round's PLANS.md records the rehearsal transcript. Not part of
  * the CI suite: local-cluster spawns worker JVMs (~20 s, needs
  * SPARK_HOME) — a dev main, not a spec.
  */
object FaultDrill {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("reliable")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Sessions.tune(
        SparkSession.builder().master("local-cluster[2,2,1024]"), 8)
      .config("spark.ui.enabled", "false")
      .config("spark.executor.memory", "1024m")
      .config("spark.executor.extraClassPath",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
      // fail fast on truly-lost tasks instead of 4 retries per partition
      .config("spark.task.maxFailures", "2")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    // On local-cluster both executor JVMs share this machine's disk, so
    // a temp dir IS the shared checkpoint store (the real-cluster
    // deployment points this at HDFS/S3).
    if (mode != "local")
      sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft-drill-ckpt").toString)

    // curate-shaped: a scan + per-doc scoring feeding TWO consumer
    // branches through one cut (the d6/e2e frontier shape)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      // spread the cut's blocks across BOTH executors (the small-SF
      // scan is one file = one partition, which would let the victim
      // hold nothing and the kill prove nothing)
      .repartition(8, col("doc_id"))
      .select(col("doc_id"), col("source"),
        length(col("text")).as("len"),
        size(split(col("text"), " ")).as("n_tok"))
      .withColumn("score", col("len") * 7919L % 104729L)
    val cut = Config.cut(docs)
    // the first action materializes the cut across BOTH executors
    val b1 = cut.groupBy(col("source")).count().count()
    println(s"DRILL $mode branch1=COMPLETED groups=$b1")

    // SIGKILL one executor JVM (never the driver: filter for the
    // executor backend main class). Victims are restricted to
    // DESCENDANTS of this drill's own process (round-17 ADVICE): an
    // allProcesses() scan could kill a concurrently running unrelated
    // Spark job's executor — local-cluster workers and their executor
    // JVMs are spawned under this driver, so the descendant tree holds
    // exactly this drill's executors.
    import scala.jdk.CollectionConverters._
    val victims = ProcessHandle.current().descendants().iterator().asScala
      .filter(_.info().commandLine().map[Boolean](
        _.contains("CoarseGrainedExecutorBackend")).orElse(false))
      .toSeq
    require(victims.nonEmpty,
      "no executor JVMs found under this process — not in local-cluster mode?")
    val victim = victims.head
    println(s"DRILL $mode killing executor pid=${victim.pid()} of ${victims.size}")
    victim.destroyForcibly()
    Thread.sleep(5000) // let the loss propagate (heartbeat/driver notice)

    // branch 2 must read the cut's blocks — the dead executor held
    // roughly half the partitions
    try {
      val s = cut.agg(sum(col("score")), count(lit(1))).collect().head
      println(s"DRILL $mode branch2=COMPLETED sum=${s.get(0)} rows=${s.get(1)}")
    } catch {
      case e: Throwable =>
        val root = {
          var c: Throwable = e
          while (c.getCause != null && c.getCause != c) c = c.getCause
          c
        }
        println(s"DRILL $mode branch2=FAILED ${root.getClass.getSimpleName}: " +
          s"${Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160)}")
    }
    spark.stop()
  }
}
