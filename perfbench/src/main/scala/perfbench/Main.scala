package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._

/** One benchmark run of one workload, inside one JVM.
  *
  * The run sets up (session plus the warm-up ops), then runs ops in a
  * closed loop from one client thread until `--seconds` have passed,
  * then checks them and writes raw records to `<out>/result.json`. With
  * `--trace 1` every other cycle of ops is traced, and the untraced ops
  * in between give the tracing overhead; then the workload's companion
  * (below) runs traced. Spans go to `<out>/spans.json` and Spark counts
  * to `<out>/spark.json`. Checks that need DuckDB, and every statistic,
  * are left to `run.py`. */
object Main {
  final case class Op(i: Int, label: String, startMs: Long, endMs: Long,
      wallS: Double, units: Long, traced: Boolean, var ok: Boolean = true,
      var err: String = "")

  trait Workload {
    /** Warm-up ops (indices -warmups until 0), part of the set-up. */
    def warmups: Int = 1
    /** Ops that must run even when `--seconds` has passed. */
    def minOps: Int = 1
    /** Ops per cycle of distinct work. A run times whole cycles, and the
      * traced run traces every other cycle, so traced and untraced ops do
      * the same work. */
    def cycle: Int = 1
    /** No more ops are available (e.g. the ingest stream has ended). */
    def exhausted(i: Int): Boolean = false
    /** Runs op `i` (negative for warm-up ops); returns its label and units of work. */
    def op(i: Int): (String, Long)
    /** Bookkeeping after op `i`, outside its timing (traced ops may add
      * work that is not part of the op). */
    def afterOp(i: Int, traced: Boolean): Unit = ()
    /** Reads back the run's committed output once (timed by the caller),
      * for workloads whose output is read through graft. */
    def read: Option[() => Unit] = None
    /** Output checks that need only the JVM: (op index → error). */
    def check(ops: Seq[Op]): Map[Int, String]
    def extra: Map[String, Any] = Map.empty
  }

  /** Runs one workload's ops and records them. Op ids are offset by
    * `base`, so a companion's ops and spans stay apart from the host's. */
  final class Runner(w: Workload, base: Int) {
    val ops = ArrayBuffer.empty[Op]

    def run(i: Int, traced: Boolean): Op = {
      Trace.enabled = traced
      Trace.op = base + i
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (label, units) = try Trace.span("op")(w.op(i)) catch {
        case e: Throwable => ops += Op(base + i, "", s, System.currentTimeMillis(),
          (System.nanoTime() - t0) / 1e9, 0L, traced, ok = false, err = msg(e))
          Trace.enabled = false
          return ops.last
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val e = System.currentTimeMillis()
      w.afterOp(i, traced)
      Trace.enabled = false
      ops += Op(base + i, label, s, e, wall, units, traced)
      ops.last
    }

    def check(): Unit = {
      val failures = try w.check(ops.map(o => o.copy(i = o.i - base)).toSeq) catch {
        case e: Throwable => ops.map(o => (o.i - base) -> s"check threw: ${msg(e)}").toMap
      }
      ops.foreach(o => failures.get(o.i - base).foreach { e => o.ok = false; o.err = e })
    }

    def json: Map[String, Any] = Map(
      "warmup" -> ops.filter(_.i < base).map(opJson).toSeq,
      "ops" -> ops.filter(_.i >= base).map(opJson).toSeq,
      "extra" -> w.extra)
  }

  /** Op ids of a companion start here. */
  val CompanionBase = 1000

  def main(args: Array[String]): Unit = {
    val launchedMs = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getUptime
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val out = a("out")
    val data = a("data")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val batchDocs = a("batch-docs").toInt
    new File(out).mkdirs()

    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val counts = new SparkCounts
    if (trace) spark.sparkContext.addSparkListener(counts)

    val w: Workload = a("workload") match {
      case "analytics" => new Analytics(spark, data, out, a("seed").toLong)
      case "curate" => new Curate(spark, data, out)
      case "ingest" => new Ingest(spark, data, out, batchDocs,
        graft.streaming.DurableState.DefaultCompactEvery)
      case "automl" => new AutoMl(spark, data, out, warmupJobs = 1)
      case other => sys.error(s"unknown workload $other")
    }
    val host = new Runner(w, 0)

    (-w.warmups until 0).foreach(host.run(_, traced = false))
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3

    // No collection is forced before or between timed ops: over ten
    // curate runs the op right after a forced collection (and the Spark
    // cleanup it sets off) spread 0.28 between runs, the op before it 0.12.
    val t0 = System.nanoTime()
    var i = 0
    // The traced run alternates untraced and traced cycles, so both sides
    // of the tracing overhead come from the same run and the same work.
    val need = if (trace) math.max(2 * w.cycle, w.minOps) else w.minOps
    while (!w.exhausted(i) &&
        (i < need || i % w.cycle != 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      host.run(i, traced = trace && (i / w.cycle) % 2 == 1)
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val heapMb = oldGenAfterGcMb()
    host.check()

    val reads = w.read.toSeq.flatMap { read =>
      read() // warm-up read, as for ops
      (0 until 3).map { _ =>
        val r0 = System.nanoTime(); read(); (System.nanoTime() - r0) / 1e9
      }
    }

    // The traced run of a workload of BENCHMARK.json also runs, traced,
    // the layers of the hand-run workload it hosts (README: companions):
    // analytics hosts the automl journey, curate hosts ingest batches of
    // its own corpus. The untraced runs never do.
    val companion: Option[(String, Workload)] = if (!trace) None else a("workload") match {
      case "analytics" => Some("automl" -> new AutoMl(spark, data, s"$out/companion", warmupJobs = 0))
      case "curate" => Some("ingest" -> new Ingest(spark, data, s"$out/companion", batchDocs,
        Ingest.CompanionBatches))
      case _ => None
    }
    val companionJson = companion.map { case (name, c) =>
      val r = new Runner(c, CompanionBase)
      (-c.warmups until 0).foreach(r.run(_, traced = false))
      (0 until c.minOps).foreach(r.run(_, traced = true))
      r.check()
      r.json + ("workload" -> name)
    }

    if (trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      writeTrace(out, counts)
    }
    Files.writeString(Paths.get(out, "result.json"), Json.render(host.json ++ Map(
      "setup_s" -> setupS,
      "loop_s" -> loopS,
      "read_s" -> reads,
      "heap_mb" -> heapMb,
      "cores" -> cpus,
      "companion" -> companionJson)))
    spark.stop()
  }

  def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  private def opJson(o: Op): Map[String, Any] = Map("i" -> o.i, "label" -> o.label,
    "start_ms" -> o.startMs, "end_ms" -> o.endMs, "wall_s" -> o.wallS,
    "units" -> o.units, "traced" -> o.traced, "ok" -> o.ok, "err" -> o.err)

  /** Old-generation heap in use right after a full collection: what the
    * run's ops retain, independent of when the collector last ran on its
    * own. The second collection frees what Spark's cleaner released
    * after the first one cleared its weak references. */
  private def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  private def writeTrace(out: String, c: SparkCounts): Unit = c.synchronized {
    Files.writeString(Paths.get(out, "spans.json"), Json.render(Trace.all.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    Files.writeString(Paths.get(out, "spark.json"), Json.render(Map(
      "jobs" -> c.jobs.toSeq.map(j => Map("id" -> j.id, "submit_ms" -> j.submitMs,
        "stages" -> j.stages, "mllib" -> j.mllib)),
      "tasks" -> c.tasks.toSeq.map(t => Seq(t.stage, t.runMs, t.shuffleWriteBytes,
        t.inputBytes, t.failed)))))
  }
}

/** Oracle-gated keys of the q/c/m/i families (relational, cleaning,
  * ML-prep statistics, upsert), one key per op. A run cycles through a
  * fixed stratified sample of them (every `Stride`-th key by name) in a
  * seeded order; the set-up runs the sample once, so the timed ops are
  * warm and every run times the same keys. */
class Analytics(spark: SparkSession, data: String, out: String, seed: Long)
    extends Main.Workload {
  private val oracles = SparkEntry.oracleSql
  private val gated = SparkEntry.queries.keys.toIndexedSeq.sorted.filter(k =>
    k.matches("^[qcmi][0-9]+_.*") && oracles.contains(k) &&
      !k.startsWith("m7_") && !k.startsWith("m14_"))
  private val keys = new scala.util.Random(seed).shuffle(
    gated.indices.filter(_ % Analytics.Stride == 0).map(gated))

  // a cold pass that writes each result set and a warm pass, then at
  // least two timed passes: the pass time falls by 10-20% from the
  // first pass after the cold one to the next, then holds within ~5%
  override def warmups: Int = 2 * keys.size
  override def minOps: Int = 2 * keys.size
  override def cycle: Int = keys.size
  def key(i: Int): String = keys(((i % keys.size) + keys.size) % keys.size)

  private val rows = scala.collection.mutable.Map.empty[Int, Long]
  private def checkDir(k: String) = s"$out/check/$k"

  /** A cold-pass op materializes the key by writing its result set,
    * which the output check compares with DuckDB; every later op counts
    * the rows, which must match the written result. */
  def op(i: Int): (String, Long) = {
    val k = key(i)
    val df = Trace.span("plan.construct")(SparkEntry.queries(k)(spark, data))
    Trace.span("plan.analyze")(df.queryExecution.executedPlan)
    if (i < -keys.size) df.coalesce(1).write.mode("overwrite").parquet(checkDir(k))
    else rows(i) = Trace.span("plan.exec")(df.queryExecution.toRdd.count())
    (k, 1L)
  }

  def check(ops: Seq[Main.Op]): Map[Int, String] = {
    Files.writeString(Paths.get(out, "check", "oracle_sql.json"),
      Json.render(keys.map(k => k -> oracles(k)).toMap))
    val written = keys.map(k => k -> spark.read.parquet(checkDir(k)).count()).toMap
    ops.filter(o => o.i >= -keys.size && rows.get(o.i) != written.get(o.label)).map(o =>
      o.i -> s"${rows.get(o.i)} rows, the checked result has ${written(o.label)}").toMap
  }

  override def extra: Map[String, Any] = Map("keys" -> keys.size, "gated" -> gated.size)
}

object Analytics {
  /** One key in ten (11 of 110): the sample's cold pass and output
    * check fit in a run's set-up and tail; the whole family set would
    * not (one cold pass of all 110 keys takes ~130 s). An odd count
    * makes the median one key's time. */
  val Stride = 10
}

/** The 13-stage e2e_curate_fixed composition through `Corpus.curate`:
  * the registered key's own curate result and ledger (`PerfbenchCorpus`). */
class Curate(spark: SparkSession, data: String, out: String) extends Main.Workload {
  // The op time falls over the first ops as the JIT warms (one run:
  // 18.9 s, 10.6, 9.5, 8.1, 8.1, 8.9, 8.5 s): two warm-up ops, then at
  // least two timed ones, nearer the plateau.
  override def warmups: Int = 2
  override def minOps: Int = 2
  private val nDocs = Tables.documents(spark, data).count()
  private var ledgers = Map.empty[Int, Seq[(Int, String, Long, Long)]]
  private var warmLedger: DataFrame = _

  private def keptDir(i: Int) = s"$out/kept/op$i"

  def op(i: Int): (String, Long) = {
    val r = Trace.span("plan.construct")(PerfbenchCorpus.fixedResult(spark, data))
    val l = PerfbenchCorpus.ledger(r.flagged)
    Trace.span("plan.analyze")(l.queryExecution.executedPlan)
    val rows = Trace.span("plan.exec") {
      r.kept.write.mode("overwrite").parquet(keptDir(i))
      l.collect()
    }
    ledgers += i -> rows.map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getLong(3))).toSeq
    if (i == -1) warmLedger = spark.createDataFrame(rows.toSeq.asJava, l.schema)
    ("e2e_curate_fixed", nDocs)
  }

  /** Per-stage self time from cumulative flag cuts over a fresh curate
    * result: cut k executes stages 1..k, so neighbouring cuts differ by
    * stage k's own work. */
  override def afterOp(i: Int, traced: Boolean): Unit = if (traced) {
    val flagged = PerfbenchCorpus.fixedResult(spark, data).flagged
    Corpus.StageFlags.foreach { case (name, flag) =>
      Trace.span(s"Corpus.stage.$name")(
        flagged.select(col("doc_id"), flag.as("__f")).queryExecution.toRdd.count())
    }
  }

  def check(ops: Seq[Main.Op]): Map[Int, String] = {
    warmLedger.coalesce(1).write.mode("overwrite").parquet(s"$out/check/e2e_curate_fixed")
    Files.writeString(Paths.get(out, "check", "oracle_sql.json"), Json.render(Map(
      "e2e_curate_fixed" -> SparkEntry.oracleSql("e2e_curate_fixed"))))
    val first = ledgers(-1)
    ledgers.collect {
      case (i, l) if l != first => i -> s"ledger differs from the warm-up op's: $l"
    } ++ ledgers.keys.flatMap { i =>
      // the kept set written by the op must be the final stage's survivors
      val kept = spark.read.parquet(keptDir(i))
        .agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))).head()
      val last = ledgers(i).last
      if (kept.getLong(0) == last._3 && kept.getLong(1) == last._4) None
      else Some(i -> s"kept set (${kept.getLong(0)}, ${kept.getLong(1)}) != ledger $last")
    }
  }

  override def extra: Map[String, Any] = Map("docs" -> nDocs)
}

/** The corpus as id-ordered micro-batches folded into the durable
  * curate sink; `batches` batches are timed after one warm-up batch. */
class Ingest(spark: SparkSession, data: String, out: String, batchDocs: Int, batches: Int)
    extends Main.Workload {
  private val docs = Tables.documents(spark, data)
    .select(col("doc_id"), col("source"), col("text")).cache()
  private val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
  private val bounds = ids.grouped(batchDocs).map(g => (g.head, g.last)).toIndexedSeq
  private val storeDir = s"$out/store"
  private val sink = new graft.streaming.DurableSinks.DurableCurateSink(spark, storeDir)
  private val store = new graft.streaming.DurableState(spark, storeDir)
  private var folded = -1
  private val perBatch = ArrayBuffer.empty[Map[String, Any]]

  override def minOps: Int = batches
  override def exhausted(i: Int): Boolean = i + 1 >= bounds.size

  private def batch(b: Int): DataFrame =
    docs.filter(col("doc_id") >= bounds(b)._1 && col("doc_id") <= bounds(b)._2)

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  def op(i: Int): (String, Long) = {
    val b = i + 1
    Trace.span("streaming.DurableSinks.DurableCurateSink.apply")(sink.apply(batch(b), b.toLong))
    folded = b
    ("batch", ids.count(x => x >= bounds(b)._1 && x <= bounds(b)._2).toLong)
  }

  override def afterOp(i: Int, traced: Boolean): Unit = {
    val b = i + 1
    perBatch += Map("op" -> i,
      "commit_bytes" -> Option(new File(storeDir).listFiles).toSeq.flatten
        .filter(f => f.getName.startsWith(s"commit=$b-") || f.getName == s"commit=$b")
        .map(dirBytes).sum,
      "segments" -> store.segments.values.map(_.size).sum,
      "store_bytes" -> dirBytes(new File(storeDir)),
      "docs" -> ids.count(_ <= bounds(b)._2))
  }

  override def read: Option[() => Unit] =
    Some(() => sink.decisions.get.queryExecution.toRdd.count())

  /** Every folded doc has one decision, and the admitted set equals that
    * of the same batches folded into a fresh sink in one go. */
  def check(ops: Seq[Main.Op]): Map[Int, String] = {
    val dec = sink.decisions.get
    val n = ids.count(_ <= bounds(folded)._2)
    val got = dec.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    val fresh = new graft.streaming.DurableSinks.DurableCurateSink(spark, s"$out/fresh")
    fresh.apply(docs.filter(col("doc_id") <= bounds(folded)._2), 0L)
    def admitted(d: DataFrame) =
      d.filter(col("admitted")).select("doc_id").collect().map(_.getLong(0)).toSet
    val errs = Seq(
      if (got.getLong(0) == n && got.getLong(1) == n) None
      else Some(s"decisions ${got.getLong(0)} (${got.getLong(1)} distinct) for $n docs"),
      if (admitted(dec) == admitted(fresh.decisions.get)) None
      else Some("admitted set differs from a fresh sink's")).flatten
    if (errs.isEmpty) Map.empty else ops.map(_.i -> errs.mkString("; ")).toMap
  }

  override def extra: Map[String, Any] = Map("batches" -> perBatch.toSeq,
    "batch_docs" -> batchDocs, "docs" -> ids.length)
}

object Ingest {
  /** Timed batches when ingest runs as curate's companion: enough for a
    * per-batch commit size and a store size. A compaction needs
    * `DurableState.DefaultCompactEvery` (8) commits, ~110 s of batches,
    * which a run beside curate's own ops cannot hold (README). */
  val CompanionBatches = 2
}

/** The reference's upload → clean → train → report journey: CSV read
  * through `Ingest.readCsv`, one `Jobs.submit` per op. */
class AutoMl(spark: SparkSession, data: String, out: String, warmupJobs: Int)
    extends Main.Workload {
  private val csv = s"$data/events.csv"
  private val jobs = ArrayBuffer.empty[(Int, String)]
  private val reports = s"$out/reports"
  private val models = s"$out/models"

  override def warmups: Int = warmupJobs

  def op(i: Int): (String, Long) = {
    val df = Trace.span("sources.Ingest.read")(graft.sources.Ingest.readCsv(spark, csv))
    val rows = df.count()
    val id = if (!Trace.enabled) {
      val id = Jobs.submit(df, "event_type", Some(reports), Some(models))
      Jobs.await(id, 600000)
      id
    } else {
      // traced: the job trains inside Jobs (queue and run observed from
      // its status), and the report half of Jobs.submit runs here, where
      // its two calls can be timed
      val q0 = System.nanoTime()
      val id = Jobs.submit(df, "event_type", None, Some(models))
      while (Jobs.status(id).contains("queued")) Thread.sleep(1)
      val r0 = System.nanoTime()
      Trace.record("Jobs.queue", q0, r0)
      while (Jobs.status(id).contains("running")) Thread.sleep(1)
      Trace.record("Pipeline.autoPipeline", r0, System.nanoTime())
      Jobs.result(id).foreach { r =>
        val viz = Trace.span("Pipeline.vizData")(Pipeline.vizData(r.cleaned, "event_type"))
        Trace.span("Report.save")(Report.save(viz, Some(r), s"$reports/$id.html", s"graft report $id"))
      }
      id
    }
    jobs += i -> id
    (id, rows)
  }

  override def read: Option[() => Unit] =
    Some(() => Pipeline.loadModel(spark, Jobs.modelPath(jobs.last._2).get))

  def check(ops: Seq[Main.Op]): Map[Int, String] = {
    val metrics = jobs.map { case (_, id) => Jobs.result(id).map(_.metrics) }
    jobs.flatMap { case (i, id) =>
      val err = Jobs.status(id) match {
        case Some("done") =>
          val r = Jobs.result(id).get
          val html = new String(Files.readAllBytes(Paths.get(s"$reports/$id.html")))
          if (r.task != "classification") Some(s"task ${r.task}")
          else if (!html.contains("<h2 id=\"metrics\">")) Some("report has no metrics section")
          else if (Some(r.metrics) != metrics.head) Some(s"metrics differ from the first job's: ${r.metrics}")
          else None
        case s => Some(s"status $s: ${Jobs.error(id).getOrElse("")}")
      }
      err.map(i -> _)
    }.toMap
  }

  override def extra: Map[String, Any] =
    Map("metrics" -> jobs.headOption.flatMap(j => Jobs.result(j._2)).map(_.metrics).getOrElse(Map.empty))
}

/** Minimal JSON writer for the run's raw records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
