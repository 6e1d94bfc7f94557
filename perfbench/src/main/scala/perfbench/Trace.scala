package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into graft's public
  * functions. A span records its name, start, end, parent and the op it
  * belongs to (the op the runner set in `op`); nothing is written until
  * the run ends. Spans are only recorded while `enabled` is set, so an
  * untraced op pays for a flag check and nothing else. */
object Trace {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)

  @volatile var enabled = false
  /** The op whose work is running now. */
  @volatile var op = 0
  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        synchronized { spans += Span(id, parent, op, name, t0, t1) }
      }
    }

  /** Record an interval measured elsewhere (e.g. a queue wait observed
    * by polling) as a child of the innermost open span. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      spans += Span(nextId, open.get.headOption.getOrElse(0), op, name, startNs, endNs)
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Spark job, stage and task counts, registered by the benchmark on its
  * own session. Events arrive on Spark's asynchronous listener bus, so
  * jobs are attributed to ops afterwards by their submission time: ops
  * run one after another from one client, so their intervals do not
  * overlap. */
class SparkCounts extends SparkListener {
  import SparkCounts._
  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a stage whose call stack passes through Spark ML is MLlib work
    val ml = e.stageInfos.exists(_.details.contains("org.apache.spark.ml."))
    jobs += Job(e.jobId, e.time, e.stageIds, ml)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += Task(e.stageId,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      e.taskInfo.failed)
  }
}

object SparkCounts {
  final case class Job(id: Int, submitMs: Long, stages: Seq[Int], mllib: Boolean)
  final case class Task(stage: Int, runMs: Long, shuffleWriteBytes: Long,
      inputBytes: Long, failed: Boolean)
}
