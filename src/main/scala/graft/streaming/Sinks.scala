package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions.{shingles3, tokens}
import graft.operators.{Dedup, Upsert}

/** The incremental foreachBatch sinks, each fold written once.
  *
  * A sink is one pure [[Sink.step]]: a batch and the state frames
  * folded so far go in; the batch's own output rows and a [[Commit]]
  * per frame come out. The step only builds plans. Where the frames
  * live is the [[SinkState]] backend's business:
  *  - [[SinkState.memory]] holds them in the session (localCheckpoint
  *    per commit, appends collapsed through their reducers);
  *  - [[SinkState.durable]] commits them to a [[DurableState]] store —
  *    replaces as whole frames, appends as per-batch delta segments.
  * Either backend skips a batchId it has already applied, so a batch
  * re-sent after a restart from the query checkpoint folds once.
  *
  * The batch twins are the same steps with no state to keep: st16 and
  * st21 one step over empty state ([[Sinks.rebuild]]), st12, st14,
  * st17, st19, st20 and st24 the steps folded over time slices in a
  * lazy in-memory state ([[Sinks.replay]]). Fold == rebuild holds by
  * construction; slicing invariance is left for the specs to prove.
  *
  * Arrival contract of the dedup and curate sinks: documents arrive in
  * increasing doc_id order (st15's), so a bucket's head — its smallest
  * id — never changes once created. Their candidate partner per bucket
  * is that head (O(batch·bands) candidates, never all-pairs), and
  * their shingle stores keep bucket heads only: a doc heading no
  * bucket at its own fold can never head one later. Both are
  * deliberately uncapped: a mid-stream cap would depend on how much of
  * a bucket has arrived and break fold == rebuild. */
sealed trait Commit

/** The frame becomes `df`: key- or sketch-bounded state, where a full
  * write is O(state). */
final case class Replace(df: DataFrame) extends Commit

/** The frame becomes old ∪ `delta`. `reduce` collapses such a union
  * to its live rows; a backend may apply it to any prefix of the
  * history, so it must be idempotent over its own output. */
final case class Append(delta: DataFrame,
    reduce: DataFrame => DataFrame = identity) extends Commit

/** Where a sink's frames live between batches, with the last applied
  * batchId and the fold ordinal (count of applied batches). */
trait SinkState {
  def alreadyApplied(batchId: Long): Boolean
  def ordinal: Long
  def load(): Map[String, DataFrame]
  def save(batchId: Long, commit: Map[String, Commit]): Unit
}

/** Frames held in the session. A streaming sink materializes every
  * committed frame with localCheckpoint (lineage stays flat over an
  * unbounded stream) after collapsing appends through their reducers.
  * With `materialize = false` every frame stays a lazy plan: the batch
  * twins' fold, which must add no job to their plans. */
private[streaming] final class MemoryState(materialize: Boolean = true) extends SinkState {
  @volatile private var frames = Map.empty[String, DataFrame]
  @volatile private var last = Option.empty[Long]
  @volatile private var applied = 0L
  def alreadyApplied(batchId: Long): Boolean = last.exists(_ >= batchId)
  def ordinal: Long = applied
  def load(): Map[String, DataFrame] = frames
  def save(batchId: Long, commit: Map[String, Commit]): Unit = {
    frames ++= commit.map {
      case (name, Replace(df)) => name -> (if (materialize) df.localCheckpoint() else df)
      case (name, Append(delta, reduce)) =>
        val union = frames.get(name)
          .fold(delta)(_.unionByName(delta, allowMissingColumns = true))
        name -> (if (materialize) reduce(union).localCheckpoint() else union)
    }
    last = Some(batchId)
    applied += 1
  }
}

object SinkState {
  def memory(): SinkState = new MemoryState()

  private[streaming] def durable(store: DurableState, compactEvery: Int): SinkState =
    new SinkState {
      def alreadyApplied(batchId: Long): Boolean = store.alreadyApplied(batchId)
      def ordinal: Long = store.nextFoldIndex
      def load(): Map[String, DataFrame] = store.loadAll()
      def save(batchId: Long, commit: Map[String, Commit]): Unit =
        store.commitFrames(batchId, commit, compactEvery)
    }

  def durable(spark: SparkSession, dir: String): SinkState =
    durable(new DurableState(spark, dir), DurableState.DefaultCompactEvery)
}

/** A foreachBatch sink: its fold as one [[step]] over a [[SinkState]]. */
abstract class Sink(state: SinkState) {
  /** Folds `batch` into `st` (the frames after the last applied batch;
    * empty when fresh). `ordinal` counts the batches folded before.
    * Returns the batch's own output rows and the commit per frame. */
  def step(batch: DataFrame, st: Map[String, DataFrame],
      ordinal: Long): (DataFrame, Map[String, Commit])

  /** The sink's result over its frames; None before the first batch. */
  protected def read(st: Map[String, DataFrame]): Option[DataFrame]

  def apply(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (!state.alreadyApplied(batchId))
      state.save(batchId, step(batch, state.load(), state.ordinal)._2)
  }

  def result: Option[DataFrame] = read(state.load())
}

/** st12's MERGE sink: each batch appends its latest row per key; the
  * snapshot is the latest row per key over the union (latestSnapshot
  * is idempotent, so it is also the reducer). */
class UpsertSink(state: SinkState, keys: Seq[String], ordering: Seq[Column])
    extends Sink(state) {
  private val latest = (df: DataFrame) => Upsert.latestSnapshot(df, keys, ordering)
  def step(batch: DataFrame, st: Map[String, DataFrame], ordinal: Long) = {
    val delta = latest(batch)
    (delta, Map("snap" -> Append(delta, latest)))
  }
  protected def read(st: Map[String, DataFrame]) = st.get("snap").map(latest)
  def snapshot: Option[DataFrame] = result
}

/** A sink whose state is one mergeable summary, replaced per batch:
  * the batch reduced by `partial`, merged into the old summary;
  * `finish` reads it. */
class SummarySink(state: SinkState, frame: String,
    partial: DataFrame => DataFrame, merge: (DataFrame, DataFrame) => DataFrame,
    finish: DataFrame => DataFrame) extends Sink(state) {
  def step(batch: DataFrame, st: Map[String, DataFrame], ordinal: Long) = {
    val p = partial(batch)
    val next = st.get(frame).fold(p)(merge(_, p))
    (next, Map(frame -> Replace(next)))
  }
  protected def read(st: Map[String, DataFrame]) = st.get(frame).map(finish)
  def snapshot: Option[DataFrame] = result
}

/** st14's rollup: i5's partial-aggregate state, O(groups). */
class RollupSink(state: SinkState, keys: Seq[String], valueCol: String, tsCol: String)
    extends SummarySink(state, "state", Upsert.rollupState(_, keys, valueCol, tsCol),
      Upsert.rollupMerge(_, _, keys), Upsert.rollupFinish)

/** st19's fixed-bin histogram, O(groups · bins). */
class HistogramSink(state: SinkState)
    extends SummarySink(state, "state", Streams.histogramState, Streams.histogramMerge,
      Streams.quantileFinish)

/** st20's KMV bottom-k sketch, O(groups · k). */
class KmvSink(state: SinkState)
    extends SummarySink(state, "sk", Streams.kmvState, Streams.kmvMerge, Streams.kmvFinish)

/** st17's exact distinct fold: `keys` gains the batch's first-seen
  * (day, user) pairs, `acc` their per-day count stamped with the fold
  * ordinal; the read sums counts and takes the first ordinal per day.
  * The ordinal comes from the backend, so first_batch survives a
  * restart of the durable store. */
class DistinctCountSink(state: SinkState) extends Sink(state) {
  def step(batch: DataFrame, st: Map[String, DataFrame], ordinal: Long) = {
    val b = batch.select(col("day"), col("user_id")).distinct()
    val fresh = st.get("keys").fold(b)(k => b.join(k, Seq("day", "user_id"), "left_anti"))
    val add = fresh.groupBy(col("day")).agg(count(lit(1)).as("n_users"))
      .withColumn("first_batch", lit(ordinal))
    (add, Map("keys" -> Append(fresh), "acc" -> Append(add)))
  }
  // every acc row carries both values; the coalesce keeps the columns
  // non-nullable, as the per-batch counts are
  protected def read(st: Map[String, DataFrame]) = st.get("acc").map(
    _.groupBy(col("day")).agg(coalesce(sum(col("n_users")), lit(0L)).as("n_users"),
      coalesce(min(col("first_batch")), lit(0L)).as("first_batch")))
}

/** st16's incremental-dedup admission: the batch is banded, probed
  * against the bucket-head index, verified by shingle Jaccard ≥ `tau`,
  * and decided (doc_id, admitted). `bootstrap` = (band-index path,
  * shingle-store path) from [[graft.Artifacts]]: a fresh state starts
  * from that corpus — its index cut to bucket heads, its shingles to
  * theirs — and both ride the first commit. */
class DedupAdmissionSink(state: SinkState, tau: Double = Dedup.IncTau,
    bootstrap: Option[(String, String)] = None) extends Sink(state) {
  def step(batch: DataFrame, st: Map[String, DataFrame], ordinal: Long) = {
    val boot = if (st.nonEmpty) None else bootstrap.map { case (indexPath, shinglesPath) =>
      val heads = graft.Artifacts.loadBandIndex(batch.sparkSession, indexPath)
        .transform(Dedup.bucketHeads)
      (heads, graft.Artifacts.loadShingleStore(batch.sparkSession, shinglesPath)
        .select(col("doc_id").as("id"), col("sh"))
        .join(heads.select(col("m").as("id")).distinct(), Seq("id"), "left_semi"))
    }
    val keysB = Dedup.bandKeys(batch, "text", "doc_id")
    val minB = keysB.transform(Dedup.bucketHeads)
    val shB = batch.select(col("doc_id").as("id"), shingles3(tokens(col("text"))).as("sh"))
    val probe = st.get("index").orElse(boot.map(_._1))
      .fold(minB)(_.unionByName(minB).transform(Dedup.bucketHeadsMerge))
    val allSh = st.get("shstore").orElse(boot.map(_._2)).fold(shB)(_.unionByName(shB))
    val cands = keysB.select(col("band"), col("key"), col("id").as("id_new"))
      .join(probe, Seq("band", "key"))
      .filter(col("m") < col("id_new"))
      .select(col("id_new"), col("m").as("id_old")).distinct()
    val dup = Dedup.pairJaccard(cands, allSh.withColumnRenamed("id", "doc_id"))
      .filter(col("jac") >= tau)
      .select(col("id_new").as("doc_id")).distinct()
    val decisions = batch.select(col("doc_id"))
      .join(dup.withColumn("__d", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("__d").isNull.as("admitted"))
    val shDelta = shB.join(probe.select(col("m").as("id")).distinct(), Seq("id"), "left_semi")
    (decisions, Map(
      "index" -> Append(boot.fold(minB)(_._1.unionByName(minB)), Dedup.bucketHeadsMerge),
      "shstore" -> Append(boot.fold(shDelta)(_._2.unionByName(shDelta))),
      "acc" -> Append(decisions)))
  }
  protected def read(st: Map[String, DataFrame]) = st.get("acc")
  def decisions: Option[DataFrame] = result
}

/** st21's composed curate admission, per arriving doc in id order:
  * the row-local gate, exact dedup against earlier gate survivors'
  * md5s, near dedup among exact survivors (st16's bucket-head rule;
  * rejected docs' keys stay indexed, they can be heads), then st15's
  * per-source token budget among near survivors. Every frame is an
  * append: `hashes`, `index`, `shstore` and the decision log `acc`
  * grow by the batch; `taken` gains per-source token increments,
  * summed at read time. */
class CurateSink(state: SinkState, tau: Double = Dedup.IncTau) extends Sink(state) {
  private val sumTaken = (df: DataFrame) =>
    df.groupBy(col("source")).agg(sum(col("tok_seen")).as("tok_seen"))
  def step(batch: DataFrame, st: Map[String, DataFrame], ordinal: Long) = {
    val flagged = Streams.curateRowFlags(
      batch.select(col("doc_id"), col("source"), col("text")))
    val g = flagged.filter(col("gate_ok"))
    val keep = flagged.join(g.select(col("__h"), col("doc_id").as("__kid"))
      .groupBy(col("__h")).agg(min(col("__kid")).as("__keep")), Seq("__h"), "left")
    val exact = col("gate_ok") && col("__keep") === col("doc_id")
    val f2 = (st.get("hashes") match {
      case None => keep.withColumn("exact_ok", exact)
      case Some(h) => keep
        .join(g.join(h, Seq("__h"), "left_semi").select(col("doc_id").as("__seen")),
          col("doc_id") === col("__seen"), "left")
        .withColumn("exact_ok", exact && col("__seen").isNull).drop("__seen")
    }).drop("__keep")
    val surv = f2.filter(col("exact_ok")).select(col("doc_id"), col("text"))
    val keysB = Dedup.bandKeys(surv, "text", "doc_id")
    val minB = keysB.transform(Dedup.bucketHeads)
    val shB = surv.select(col("doc_id").as("id"), shingles3(tokens(col("text"))).as("sh"))
    val probe = st.get("index")
      .fold(minB)(_.unionByName(minB).transform(Dedup.bucketHeadsMerge))
    val allSh = st.get("shstore").fold(shB)(_.unionByName(shB))
    val cands = keysB.select(col("band"), col("key"), col("id").as("id_new"))
      .join(probe, Seq("band", "key"))
      .filter(col("m") < col("id_new"))
      .select(col("id_new"), col("m").as("id_old")).distinct()
    val dup = Dedup.pairJaccard(cands, allSh.withColumnRenamed("id", "doc_id"))
      .filter(col("jac") >= tau)
      .select(col("id_new").as("__dup")).distinct()
    val f3 = f2.join(dup, col("doc_id") === col("__dup"), "left")
      .withColumn("near_ok", col("exact_ok") && col("__dup").isNull)
      .drop("__dup")
    val w = Window.partitionBy(col("source")).orderBy(col("__bid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val near = f3.filter(col("near_ok"))
      .select(col("doc_id").as("__bid"), col("source"), col("n_tok").as("__btok"))
      .withColumn("__cum", coalesce(sum(col("__btok")).over(w), lit(0L)))
    val adm = (st.get("taken") match {
      case None => near.filter(col("__cum") < Streams.CurateBudget)
      case Some(t) => near.join(sumTaken(t), Seq("source"), "left")
        .filter(col("__cum") + coalesce(col("tok_seen"), lit(0L)) < Streams.CurateBudget)
    }).select(col("__bid").as("__adm"))
    val out = f3.join(adm, col("doc_id") === col("__adm"), "left")
      .withColumn("admitted", col("near_ok") && col("__adm").isNotNull)
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("gate_ok"), col("exact_ok"), col("near_ok"), col("admitted"))
    (out, Map(
      "hashes" -> Append(g.select(col("__h")).distinct(), _.distinct()),
      "index" -> Append(minB, Dedup.bucketHeadsMerge),
      "shstore" -> Append(shB.join(probe.select(col("m").as("id")).distinct(),
        Seq("id"), "left_semi")),
      "taken" -> Append(near.groupBy(col("source")).agg(sum(col("__btok")).as("tok_seen")),
        sumTaken),
      "acc" -> Append(out)))
  }
  protected def read(st: Map[String, DataFrame]) = st.get("acc")
  def decisions: Option[DataFrame] = result
}

object Sinks {
  /** The log in the three time slices the batch twins fold: before
    * 2024-01-11, before 2024-01-21, and the rest. `log` carries an
    * epoch-ms `ms` column. */
  def timeSlices(log: DataFrame): Seq[DataFrame] = {
    val t1 = 1704931200000L // 2024-01-11T00:00:00Z
    val t2 = 1705795200000L // 2024-01-21T00:00:00Z
    Seq(log.filter(col("ms") < t1),
      log.filter(col("ms") >= t1 && col("ms") < t2),
      log.filter(col("ms") >= t2))
  }

  /** A batch twin: the sink's step folded over `batches` (batchIds 0,
    * 1, …) in a lazy [[MemoryState]], so nothing materializes. */
  def replay[S <: Sink](mk: SinkState => S, batches: Seq[DataFrame]): S = {
    val sink = mk(new MemoryState(materialize = false))
    batches.zipWithIndex.foreach { case (b, i) => sink(b, i.toLong) }
    sink
  }

  /** A batch twin over the whole input as one batch: the step's output
    * over empty state, with no backend. */
  def rebuild(mk: SinkState => Sink, batch: DataFrame): DataFrame =
    mk(new MemoryState(materialize = false)).step(batch, Map.empty, 0L)._1
}
