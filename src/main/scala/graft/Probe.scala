package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

/** Dev-only probe of the registered SparkEntry keys: one session, one
  * warm-up, one reps loop and one job listener behind six verbs.
  *
  *  - `time <keys> [reps=2]`: construct / plan / exec split per rep and
  *    the min wall (rep 1 absorbs codegen/JIT; read the min or the last
  *    rep). `toRdd.count` materializes the full output (Bench's
  *    rationale: `Dataset.count()` elides join subtrees). Each rep also
  *    reports `compiles`, the generated classes Janino compiled while
  *    the key was built, planned and run: codegen-cache misses, so a
  *    warm rep of a reusable key reads 0.
  *  - `jobs <keys> [reps=2]`: the same run, plus the last rep's Spark
  *    jobs (wall, task s, tasks, input MB, shuffle write/read MB), so a
  *    multi-job key (plan-time scalars, checkpoints, iterative
  *    training) shows where its seconds go.
  *  - `show <key> [maxRows=50]`: the key's rows.
  *  - `plan [--exec] [keys...]`: the formatted physical plan (every key
  *    when none is named). `--exec` runs the key first and prints the
  *    FINAL adaptive plan: AQE's runtime broadcasts, exchange reuse and
  *    skew splits exist only there.
  *  - `stages [curate|full|fixed]`: per-stage wall of a composed curate
  *    run. Its flags are cumulative columns of one frame, so selecting
  *    `(doc_id, flag_k)` prunes every later stage while the earlier ones
  *    run; timing the cuts in pipeline order and differencing
  *    neighbours attributes wall per stage. The run's construction,
  *    where `Corpus.curate` runs its plan-time jobs and checkpoints, is
  *    printed first, and the variant's full ledger wall last.
  *  - `scans [minScans=3] [keys...]`: executed vs reused parquet scans
  *    per (key, table) in the final plan. A fact table scanned once per
  *    consumer branch usually means a shared frame re-executes and
  *    wants one checkpoint at its frontier; self-joins and distinct
  *    column sets are legitimate, so it prints facts, not verdicts.
  *
  * Usage: runMain graft.Probe <verb> <dir>[,<dir>...] [args...]
  * (`SPARK_GRAFT_CPUS` threads, default every core; `SPARK_GRAFT_NOAQE`
  * turns AQE off). ×N rehearsal dirs come from scripts/make_scale_corpus.py.
  */
object Probe {

  /** One Spark job: its description (empty unless set), its wall and
    * the summed metrics of its stages. */
  final case class Job(id: Int, desc: String, wallS: Double, taskS: Double, tasks: Int,
      inputBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long)

  /** One rep of a key: DataFrame construction (plan-time jobs and fits
    * included), analysis + optimization + planning, then execution, and
    * the classes compiled across all three. */
  final case class Run(key: String, rep: Int, constructS: Double, planS: Double,
      execS: Double, rows: Long, compiles: Long, jobs: Seq[Job]) {
    def wallS: Double = constructS + planS + execS
  }

  final case class Cut(stage: String, cutS: Double, deltaS: Double, rows: Long)

  final case class Scan(key: String, table: String, executed: Int, reused: Int)

  private val DrainMarker = "graft.Probe drain"

  /** Attributes each completed stage to its job by stageId (a "most
    * recent job" rule misattributes broadcast-exchange jobs and stages
    * that finish after the next job starts). */
  private final class JobListener extends SparkListener {
    private final class Acc(val id: Int, val t0: Long, val desc: String) {
      var t1 = t0; var taskMs = 0L; var tasks = 0
      var in = 0L; var shW = 0L; var shR = 0L
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
    private val stageToJob = mutable.HashMap.empty[Int, Int]
    private var markerJob = -1
    val drained = new CountDownLatch(1)

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      if (desc == DrainMarker) markerJob = js.jobId
      else {
        jobs(js.jobId) = new Acc(js.jobId, js.time, desc)
        js.stageInfos.foreach(si => stageToJob(si.stageId) = js.jobId)
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      if (je.jobId == markerJob) drained.countDown()
      jobs.get(je.jobId).foreach(_.t1 = je.time)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val m = sc.stageInfo.taskMetrics
      stageToJob.get(sc.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
        j.taskMs += m.executorRunTime
        j.tasks += sc.stageInfo.numTasks
        j.in += m.inputMetrics.bytesRead
        j.shW += m.shuffleWriteMetrics.bytesWritten
        j.shR += m.shuffleReadMetrics.totalBytesRead
      }
    }
    def result: Seq[Job] = synchronized {
      jobs.values.map(j => Job(j.id, j.desc, (j.t1 - j.t0) / 1e3, j.taskMs / 1e3, j.tasks,
        j.in, j.shW, j.shR)).toSeq
    }
  }

  /** `body` with the jobs it submitted. The listener bus delivers events
    * in order, so once a marker job's end arrives, so has every stage of
    * every earlier job. */
  private def profiled[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val l = new JobListener
    sc.addSparkListener(l)
    try {
      val a = body
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(DrainMarker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(prev)
      require(l.drained.await(60, TimeUnit.SECONDS), "listener bus did not drain in 60 s")
      (a, l.result)
    } finally sc.removeSparkListener(l)
  }

  /** Generated classes this JVM's Janino has compiled so far. Spark's
    * codegen cache sits in front of the compiler, so a cache hit never
    * reaches this count. */
  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** `time` and `jobs`: every key `reps` times, profiled. */
  def jobs(spark: SparkSession, dir: String, keys: Seq[String], reps: Int = 2): Seq[Run] =
    for (key <- keys; rep <- 1 to reps) yield {
      val ((construct, plan, exec, n, compiles), js) = profiled(spark) {
        val c0 = compilations
        val (c, df) = timed(SparkEntry.queries(key)(spark, dir))
        val (p, _) = timed(df.queryExecution.executedPlan) // analysis + optimization + planning
        val (e, n) = timed(df.queryExecution.toRdd.count())
        (c, p, e, n, compilations - c0)
      }
      Run(key, rep, construct, plan, exec, n, compiles, js)
    }

  def show(spark: SparkSession, dir: String, key: String, maxRows: Int = 50): Seq[Row] =
    SparkEntry.queries(key)(spark, dir).collect().take(maxRows).toSeq

  def plan(spark: SparkSession, dir: String, keys: Seq[String], exec: Boolean): Seq[(String, String)] =
    keys.map { key =>
      val df = SparkEntry.queries(key)(spark, dir)
      // collect() executes THIS DataFrame's own query execution; count()
      // would finalize a different plan and leave df's non-final
      if (exec) { df.collect(); key -> df.queryExecution.executedPlan.toString }
      else key -> df.queryExecution.explainString(FormattedMode)
    }

  private val CurateRuns: Map[String, (SparkSession, String) => Corpus.Result] = Map(
    "curate" -> Corpus.e2eResult, "full" -> Corpus.e2eFullResult, "fixed" -> Corpus.e2eFixedResult)

  private def ledgerKey(variant: String): String =
    if (variant == "curate") "e2e_curate" else s"e2e_curate_$variant"

  /** The curate run's construction wall (`Corpus.curate` runs its
    * plan-time jobs, and AQE runs each cut input's shuffle-map
    * stages), then one cut per stage. */
  def stages(spark: SparkSession, dir: String, variant: String = "curate"): (Double, Seq[Cut]) = {
    val (construct, run) = timed(CurateRuns(variant)(spark, dir))
    val timings = Corpus.StageFlags.map { case (name, flag) =>
      val (t, n) = timed(run.flagged.select(col("doc_id"), flag.as("__f")).queryExecution.toRdd.count())
      (name, t, n)
    }
    val prev = 0.0 +: timings.map(_._2)
    (construct, timings.zip(prev).map { case ((name, t, n), p) => Cut(name, t, t - p, n) })
  }

  /** Keys that fail to build or run are reported on stderr and skipped,
    * so one broken key does not end an inventory-wide audit. */
  def scans(spark: SparkSession, dir: String, keys: Seq[String], minScans: Int = 3): Seq[Scan] =
    keys.flatMap { key =>
      try {
        val df = SparkEntry.queries(key)(spark, dir)
        df.queryExecution.toRdd.count() // finalize the adaptive plan
        ScanAudit.scans(df.queryExecution.executedPlan).groupBy(_._1).toSeq.map {
          case (table, hits) => Scan(key, table, hits.count(!_._2), hits.count(_._2))
        }.filter(_.executed >= minScans).sortBy(_.table)
      } catch {
        case e: Exception =>
          System.err.println(s"[scans] $key FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          Nil
      }
    }.sortBy(-_.executed)

  private val Verbs = Set("time", "jobs", "show", "plan", "stages", "scans")
  private val Usage = "usage: runMain graft.Probe <time|jobs|show|plan|stages|scans> " +
    "<dir>[,<dir>...] [args...] (see graft.Probe's scaladoc)"

  def main(args: Array[String]): Unit = {
    val verb = args.headOption.getOrElse("")
    val dirs = args.lift(1).fold(Seq.empty[String])(_.split(",").toSeq)
    val rest = args.drop(2).toSeq
    if (dirs.isEmpty || !Verbs(verb) || (Set("time", "jobs", "show")(verb) && rest.isEmpty) ||
        (verb == "stages" && !CurateRuns.contains(rest.headOption.getOrElse("curate")))) {
      System.err.println(Usage); sys.exit(2)
    }
    val spark = Sessions.local(Sessions.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.contains("SPARK_GRAFT_NOAQE")) spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.range(1000).selectExpr("sum(id)").collect() // JVM warm-up
    def allKeys(named: Seq[String]) = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    try dirs.foreach { dir =>
      verb match {
        case "time" | "jobs" =>
          val keys = rest.head.split(",").toSeq
          val runs = jobs(spark, dir, keys, rest.lift(1).fold(2)(_.toInt))
          runs.foreach { r =>
            println(f"[$verb] ${r.key} $dir rep${r.rep}: construct ${r.constructS}%.2f s, " +
              f"plan ${r.planS}%.2f s, exec ${r.execS}%.2f s = ${r.wallS}%.2f s, " +
              s"${r.rows} rows, ${r.jobs.size} jobs, ${r.compiles} compiles")
          }
          keys.foreach { key =>
            val rs = runs.filter(_.key == key)
            println(f"[$verb] $key $dir min: ${rs.map(_.wallS).min}%.2f s")
            if (verb == "jobs") rs.last.jobs.sortBy(-_.wallS).foreach { j =>
              println(f"[jobs]   job ${j.id}%4d wall ${j.wallS}%6.2f s  task ${j.taskS}%7.2f s  " +
                f"tasks ${j.tasks}%4d  in ${j.inputBytes / 1e6}%7.1f MB  " +
                f"shW ${j.shuffleWriteBytes / 1e6}%6.1f MB  shR ${j.shuffleReadBytes / 1e6}%6.1f MB  " +
                j.desc.take(60))
            }
          }
        case "show" =>
          show(spark, dir, rest.head, rest.lift(1).fold(50)(_.toInt)).foreach(r => println(s"[row] $r"))
        case "plan" =>
          val exec = rest.headOption.contains("--exec")
          plan(spark, dir, allKeys(rest.drop(if (exec) 1 else 0)), exec).foreach { case (key, p) =>
            println(s"\n========== $key ==========\n$p")
          }
        case "stages" =>
          val variant = rest.headOption.getOrElse("curate")
          val (construct, cuts) = stages(spark, dir, variant)
          println(f"[stages] $dir construct: $construct%7.2f s")
          cuts.foreach { c =>
            println(f"[stages] $dir ${c.stage}%-16s cut: ${c.cutS}%7.2f s  delta: ${c.deltaS}%7.2f s  (${c.rows} rows)")
          }
          val (t, n) = timed(SparkEntry.queries(ledgerKey(variant))(spark, dir).queryExecution.toRdd.count())
          println(f"[stages] $dir full ledger: $t%7.2f s ($n rows)")
        case "scans" =>
          val minScans = rest.headOption.fold(3)(_.toInt)
          val rows = scans(spark, dir, allKeys(rest.drop(1)), minScans)
          rows.foreach(s => println(f"[scans] ${s.key}%-28s ${s.table}%-22s executed=${s.executed} reused=${s.reused}"))
          println(s"[scans] ${rows.size} (key, table) pairs at >= $minScans executed scans")
      }
    } finally spark.stop()
  }
}
