package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Config.CutOps

/** Incremental dimension maintenance — the MERGE / SCD2 surface every
  * warehouse pipeline runs nightly and this engine previously lacked.
  *
  * Three operators:
  *  - [[latestSnapshot]] / [[mergeLatest]]: MERGE-upsert semantics —
  *    newest row per key wins under an EXPLICIT total ordering (never
  *    dropDuplicates' arrival order).
  *  - [[scd2FromLog]]: build a type-2 slowly-changing dimension
  *    (effective-dated history) from a change log in one window pass.
  *  - [[scd2Apply]]: apply an incremental batch to an existing SCD2
  *    dimension — close open rows, chain the new versions, continue
  *    version numbers — such that incremental apply is
  *    REBUILD-TRANSPARENT (equals scd2FromLog over the full log;
  *    i2's oracle is literally i1's SQL) and IDEMPOTENT (re-applying
  *    a batch is a no-op; UpsertSpec proves both).
  *
  * Scale shape: everything is one key-partitioned shuffle per input
  * (window or groupBy on the dimension key); the batch-side frames in
  * scd2Apply are batch-sized and join the dimension unhinted — AQE
  * broadcasts them when small, falls back to a co-partitioned shuffle
  * join when a backfill batch is not. No driver round-trips, no
  * global windows (per-key partitions are bounded by versions per
  * key). SCD2 invariants (exactly one open row per key, contiguous
  * half-open [valid_from, valid_to) ranges) are spec-enforced.
  */
object Upsert {

  /** Latest row per key from `log` under `ordering` (newest = max).
    * One row_number window — one shuffle on the key. */
  def latestSnapshot(log: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering.map(_.desc): _*)
    log.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** MERGE upsert: union the current snapshot with an updates batch,
    * newest row per key wins. `ordering` must be a total order within
    * key (e.g. ms + a unique id) or "newest" is undefined. SCHEMA
    * EVOLUTION: an updates batch may add (or a backfill may lack)
    * DATA columns relative to the snapshot — the union is by name with
    * missing columns null-filled, the lakehouse MERGE evolution rule
    * (round-16 VERDICT directive 5). Evolution permits adding data
    * columns, NOT absent merge keys or ordering columns: a side
    * missing one of those would null-fill it and silently merge rows
    * under a NULL key / undefined order (round-17 ADVICE) — both
    * frames must carry every key and every column `ordering`
    * references, enforced up front. */
  def mergeLatest(current: DataFrame, updates: DataFrame, keys: Seq[String],
                  ordering: Seq[Column]): DataFrame = {
    // ordering Columns may be expressions; collect the attribute names
    // they reference (unresolved at this point, so walk the expression
    // tree for named parts)
    val ordCols = ordering.flatMap(c =>
      org.apache.spark.sql.GraftSqlBridge.expression(c).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      })
    val required = (keys ++ ordCols).distinct
    Seq("current" -> current, "updates" -> updates).foreach { case (side, df) =>
      val missing = required.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"mergeLatest: $side side is missing merge key/ordering column(s) " +
          s"${missing.mkString(", ")} — schema evolution null-fills only " +
          "DATA columns; a null-filled key would merge rows under a NULL key")
    }
    latestSnapshot(current.unionByName(updates, allowMissingColumns = true),
      keys, ordering)
  }

  /** SCD2 history from a change log: every log row becomes a version
    * with half-open validity [valid_from, valid_to) — valid_to is the
    * NEXT version's ts (null = open row), version numbers are dense
    * from 1, is_current is 1/0 BIGINT (cross-engine-stable, no
    * boolean encoding drift). All log columns are preserved. */
  def scd2FromLog(log: DataFrame, keys: Seq[String], tsCol: String,
                  tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    log.withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current", when(lead(col(tsCol), 1).over(w).isNull, 1L).otherwise(0L))
  }

  /** Apply an incremental `batch` of changes to an SCD2 `dim` built by
    * [[scd2FromLog]] (MERGE INTO … WHEN MATCHED close / WHEN NOT
    * MATCHED insert, generalized to multi-version batches):
    *  1. drop batch rows not STRICTLY newer — lexicographically on
    *     `(ts, tieBreak…)` — than their key's open version. This is
    *     the idempotence guard (re-applying the same batch finds every
    *     row at-or-below the new open version and keeps nothing), and
    *     the lexicographic form means a batch row TYING the open row's
    *     valid_from but carrying a later tie-break key is correctly
    *     applied (a ts-only guard would silently drop it, breaking
    *     rebuild-transparency when ties span the dim/batch split —
    *     UpsertSpec drives exactly that split);
    *  2. chain the surviving rows per key (valid_to = next fresh ts,
    *     versions continue from the dimension's current maximum);
    *  3. close each affected key's open row at its first fresh ts.
    * History rows are never rewritten — only the open row's valid_to/
    * is_current change. `batch` must have `dim`'s base (pre-SCD2)
    * schema; `(tsCol, tieBreak…)` must be non-null and a total order
    * within key, as in [[scd2FromLog]]. */
  def scd2Apply(dim: DataFrame, batch: DataFrame, keys: Seq[String], tsCol: String,
                tieBreak: Seq[String] = Nil): DataFrame = {
    val kc = keys.map(col)
    val curTb = tieBreak.zipWithIndex.map { case (c, i) => col(c).as(s"__cur_tb$i") }
    val cur = dim.filter(col("is_current") === 1L)
      .select(kc ++ (col("valid_from").as("__cur_from") +: col("version").as("__cur_ver") +: curTb): _*)
    val tbNewer = tieBreak.zipWithIndex
      .map { case (c, i) => (col(c), col(s"__cur_tb$i")) }
      .foldRight(lit(false)) { case ((a, b), rest) => a > b || (a === b && rest) }
    val strictlyNewer = col(tsCol) > col("__cur_from") ||
      (col(tsCol) === col("__cur_from") && tbNewer)
    val fresh = batch.join(cur, keys, "left")
      .filter(col("__cur_from").isNull || strictlyNewer)
      .drop(tieBreak.indices.map(i => s"__cur_tb$i"): _*)
    val ord = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val wB = Window.partitionBy(kc: _*).orderBy(ord: _*)
    val newRows = fresh
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(wB))
      .withColumn("version", (coalesce(col("__cur_ver"), lit(0L)) + row_number().over(wB)).cast("long"))
      .withColumn("is_current", when(lead(col(tsCol), 1).over(wB).isNull, 1L).otherwise(0L))
      .drop("__cur_from", "__cur_ver")
    val firstNew = fresh.groupBy(kc: _*).agg(min(col(tsCol)).as("__new_from"))
    val closed = dim.join(firstNew, keys, "left")
      .withColumn("__close", col("is_current") === 1L && col("__new_from").isNotNull)
      .withColumn("valid_to", when(col("__close"), col("__new_from")).otherwise(col("valid_to")))
      .withColumn("is_current", when(col("__close"), 0L).otherwise(col("is_current")))
      .drop("__new_from", "__close")
    closed.unionByName(newRows)
  }

  /** CDC changelog between two keyed snapshots: every key is classified
    * INSERT (in `newSnap` only), DELETE (in `oldSnap` only) or UPDATE
    * (in both, any `compare` column differs — NULL-SAFE, so null→value
    * and value→null are updates, null→null is not), and unchanged keys
    * are dropped. Output: keys, `op`, then old_/new_-prefixed compare
    * columns.
    *
    * Scale shape: one co-partitioned full-outer sort-merge join — both
    * sides shuffle ONCE on the key, which is the floor for a diff of
    * two fact-sized snapshots (neither side is assumed broadcastable;
    * AQE promotes if one is). Presence is tracked with explicit marker
    * columns, not key-null tests, so nullable compare columns can
    * never masquerade as inserts/deletes. */
  def cdcDiff(oldSnap: DataFrame, newSnap: DataFrame, keys: Seq[String],
              compare: Seq[String]): DataFrame = {
    def side(d: DataFrame, pfx: String): DataFrame =
      compare.foldLeft(d.select((keys ++ compare).map(col): _*)) {
        (acc, c) => acc.withColumnRenamed(c, s"$pfx$c")
      }.withColumn(s"__${pfx}present", lit(1))
    val j = side(oldSnap, "old_").join(side(newSnap, "new_"), keys, "full_outer")
    val changed = compare.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    j.withColumn("op",
        when(col("__old_present").isNull, "INSERT")
          .when(col("__new_present").isNull, "DELETE")
          .when(changed, "UPDATE"))
      .filter(col("op").isNotNull)
      .drop("__old_present", "__new_present")
      .select((keys.map(col) :+ col("op")) ++
        compare.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Apply a [[cdcDiff]]-shaped change stream to the snapshot it was
    * diffed FROM — the inverse direction, and the consumer side of
    * every CDC pipeline (a downstream table replaying an upstream's
    * changelog instead of re-scanning the upstream). Semantics: every
    * changed key's old row is superseded (DELETE removes it, INSERT/
    * UPDATE replace it with the `new_*` values); untouched keys pass
    * through. The defining algebraic property — pinned generically by
    * UpsertSpec and through the oracle gate by i15 —
    * is the ROUNDTRIP: `cdcApply(A, cdcDiff(A, B)) == B` for any two
    * key-unique snapshots, deletes included.
    *
    * Scale shape: one key-co-partitioned anti-join (snapshot vs the
    * changes' key set) plus a union with the changes-sized upsert
    * frame — O(|snap| + |changes|), one key shuffle, never history. */
  def cdcApply(snap: DataFrame, changes: DataFrame, keys: Seq[String],
      compare: Seq[String]): DataFrame = {
    val touched = changes.select(keys.map(col): _*)
    val upserts = changes.filter(col("op") =!= "DELETE")
      .select(keys.map(col) ++ compare.map(c => col(s"new_$c").as(c)): _*)
    snap.select((keys ++ compare).map(col): _*)
      .join(touched, keys, "left_anti")
      .unionByName(upserts)
  }

  /** Mergeable per-key rollup state — the aggregate-table twin of
    * [[scd2Apply]]: a warehouse summary (count / non-null count /
    * sum / min / max per key) that an incremental batch can refresh
    * WITHOUT rescanning history. Every statistic is chosen to be
    * associative and commutative: counts and the exact-decimal sum
    * add, min/max fold — so `merge(state(A), state(B)) ==
    * state(A ∪ B)` for ANY disjoint split, which is i5's oracle (the
    * rebuild-transparency gate, i2's pattern applied to aggregation).
    * The sum is kept as DECIMAL in the state (never double): decimal
    * addition is exact, so merge order can't perturb it — a
    * double-typed state would make the rebuild equality flaky.
    *
    * Scale shape: state(log) is one map-side-combined groupBy — the
    * only fact-sized shuffle, paid ONCE when the summary is first
    * built. Thereafter each refresh scans only the DELTA (batch-
    * sized) and merges two |keys|-grain tables; the 100 TB history
    * is never touched again. If the state table is stored bucketed
    * on the keys ([[graft.sources.Ingest.writeBucketed]]), the merge
    * reads it exchange-free and only the batch summary moves. */
  def rollupState(log: DataFrame, keys: Seq[String], valueCol: String,
                  tsCol: String): DataFrame =
    log.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      count(col(valueCol)).as("n_v"),
      sum(graft.functions.ExactNum.dec2(col(valueCol))).as("__sum_v"),
      min(col(tsCol)).as("first_ms"),
      max(col(tsCol)).as("last_ms"))

  /** Fold an incremental batch's [[rollupState]] into an existing
    * state table. Counts/sums add (null-valued groups stay null via
    * decimal sum semantics), min/max fold. Associative + commutative
    * — UpsertSpec folds three slices in every grouping. */
  def rollupMerge(state: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    state.unionByName(delta).groupBy(keys.map(col): _*).agg(
      sum(col("n")).as("n"),
      sum(col("n_v")).as("n_v"),
      sum(col("__sum_v")).as("__sum_v"),
      min(col("first_ms")).as("first_ms"),
      max(col("last_ms")).as("last_ms"))

  /** Presentation pass: exact-decimal internals → the user-facing
    * double sum and mean. avg divides by the NON-NULL count (n_v,
    * not n) and is explicitly null when no values exist — the
    * null-discipline the st13 baseline fix established. */
  def rollupFinish(state: DataFrame): DataFrame =
    state
      .withColumn("sum_v", col("__sum_v").cast("double"))
      .withColumn("avg_v", when(col("n_v") === 0L, lit(null).cast("double"))
        .otherwise(col("__sum_v").cast("double") / col("n_v")))
      .drop("__sum_v")

  // -------------------------------------------------------------------
  // Inventory queries. The events table is the change log: each event
  // is a new version of its user's state, ordered by (ms, event_id).

  /** 2024-01-16T00:00:00Z — mid-range of the events table at every SF,
    * so both the "existing dimension" and the "incremental batch"
    * sides of i2/i3 are non-vacuous. */
  val CutoffMs: Long = 1705363200000L

  private def changeLog(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("user_id"), col("event_id"),
      col("event_type"), col("value"), unix_millis(col("ts")).as("ms"))

  /** i1: SCD2 effective-dated history reconstruction from the full
    * change log — one user-partitioned window pass. */
  def i1(s: SparkSession, dir: String): DataFrame =
    scd2FromLog(changeLog(s, dir), Seq("user_id"), "ms", Seq("event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("valid_from"), col("valid_to"), col("version"), col("is_current"))
      .orderBy(col("user_id"), col("version"))

  val i1Sql: String =
    """SELECT user_id, event_id, event_type, value,
      |  epoch_ms(ts) AS valid_from,
      |  lead(epoch_ms(ts)) OVER w AS valid_to,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  CAST(CASE WHEN lead(epoch_ms(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |ORDER BY user_id, version""".stripMargin

  /** i2: incremental SCD2 maintenance — dimension built from the
    * pre-cutoff log, post-cutoff batch applied with [[scd2Apply]].
    * THE ORACLE IS i1's FULL-REBUILD SQL: the gate proves incremental
    * apply is rebuild-transparent (q19's salting-transparency
    * pattern, applied to MERGE). */
  def i2(s: SparkSession, dir: String): DataFrame = {
    val log = changeLog(s, dir)
    val dim = scd2FromLog(log.filter(col("ms") < CutoffMs), Seq("user_id"), "ms", Seq("event_id"))
    val batch = log.filter(col("ms") >= CutoffMs)
    scd2Apply(dim, batch, Seq("user_id"), "ms", Seq("event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("valid_from"), col("valid_to"), col("version"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** i3: MERGE-upsert latest-record reconstruction — pre-cutoff
    * snapshot ⊕ post-cutoff updates, newest (ms, event_id) per user
    * wins. Oracled by the latest-row window over the full log (same
    * transparency statement as i2, for the snapshot form). */
  def i3(s: SparkSession, dir: String): DataFrame = {
    val log = changeLog(s, dir)
    val snap = latestSnapshot(log.filter(col("ms") < CutoffMs),
      Seq("user_id"), Seq(col("ms"), col("event_id")))
    mergeLatest(snap, log.filter(col("ms") >= CutoffMs),
      Seq("user_id"), Seq(col("ms"), col("event_id")))
      .orderBy(col("user_id"))
  }

  val i3Sql: String =
    """SELECT user_id, event_id, event_type, value, ms FROM (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** i12: MERGE with SCHEMA EVOLUTION through the oracle gate (the
    * gated form of round-16 VERDICT directive 5, beside
    * StreamingRecoverySpec's durable-store property): the pre-cutoff
    * snapshot is committed WITHOUT event_type — an old producer's
    * narrower schema — and the post-cutoff batch ADDS the column.
    * [[mergeLatest]] unions by name with missing columns null-filled
    * (the lakehouse add-column rule), so a user whose newest row
    * predates the evolution carries NULL event_type while an updated
    * user carries the batch's value. The DuckDB twin replays the rule
    * over the full log: latest row per user, event_type NULLed when
    * the winner predates the cutoff. Scale shape is i3's: one
    * key-partitioned window per side, no extra shuffle for the
    * evolution (null-fill is a map-side projection). */
  def i12(s: SparkSession, dir: String): DataFrame = {
    val log = changeLog(s, dir)
    val snap = latestSnapshot(log.filter(col("ms") < CutoffMs),
        Seq("user_id"), Seq(col("ms"), col("event_id")))
      .drop("event_type") // the pre-evolution schema
    mergeLatest(snap, log.filter(col("ms") >= CutoffMs),
        Seq("user_id"), Seq(col("ms"), col("event_id")))
      .select(col("user_id"), col("event_id"), col("value"), col("ms"),
        col("event_type"))
      .orderBy(col("user_id"))
  }

  val i12Sql: String =
    s"""SELECT user_id, event_id, value, ms,
       |  CASE WHEN ms >= $CutoffMs THEN event_type ELSE NULL END AS event_type
       |FROM (
       |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
       |  FROM events)
       |WHERE rn = 1
       |ORDER BY user_id""".stripMargin

  /** i4: CDC changelog between the pre-cutoff and current
    * latest-purchase-per-user snapshots. With time-cut snapshots of an
    * append-only log DELETE cannot occur (a key never leaves the later
    * snapshot) — so this instantiation emits INSERT/UPDATE only and
    * the DELETE path is exercised by UpsertSpec on explicit frames.
    * The `value` doubles pass through unarithmetic'd, so the oracle
    * compare is bit-exact (§6.1). */
  def i4(s: SparkSession, dir: String): DataFrame = {
    val purchases = changeLog(s, dir).filter(col("event_type") === "purchase")
    val oldSnap = latestSnapshot(purchases.filter(col("ms") < CutoffMs),
      Seq("user_id"), Seq(col("ms"), col("event_id")))
    val newSnap = latestSnapshot(purchases,
      Seq("user_id"), Seq(col("ms"), col("event_id")))
    cdcDiff(oldSnap, newSnap, Seq("user_id"), Seq("value"))
      .orderBy(col("user_id"))
  }

  val i4Sql: String =
    s"""WITH ranked AS (
       |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
       |  FROM events WHERE event_type = 'purchase'),
       |olds AS (
       |  SELECT user_id, value FROM (
       |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
       |      ORDER BY ms DESC, event_id DESC) AS rn2
       |    FROM ranked WHERE ms < $CutoffMs) WHERE rn2 = 1),
       |news AS (SELECT user_id, value FROM ranked WHERE rn = 1),
       |j AS (
       |  SELECT coalesce(o.user_id, n.user_id) AS user_id,
       |    o.value AS old_value, n.value AS new_value,
       |    o.user_id IS NOT NULL AS in_old, n.user_id IS NOT NULL AS in_new
       |  FROM olds o FULL OUTER JOIN news n ON o.user_id = n.user_id)
       |SELECT user_id,
       |  CASE WHEN NOT in_old THEN 'INSERT'
       |       WHEN NOT in_new THEN 'DELETE'
       |       WHEN old_value IS DISTINCT FROM new_value THEN 'UPDATE' END AS op,
       |  old_value, new_value
       |FROM j
       |WHERE NOT in_old OR NOT in_new OR old_value IS DISTINCT FROM new_value
       |ORDER BY user_id""".stripMargin

  /** i5: incremental rollup maintenance — the (user, event_type)
    * summary table built from the pre-cutoff log, refreshed by
    * MERGING the post-cutoff batch's partial aggregates. THE ORACLE
    * IS THE FULL-REBUILD GROUP BY over the whole log: the gate
    * proves partial-agg merge is rebuild-transparent, i.e. a 100 TB
    * rollup can be kept fresh from deltas alone. */
  def i5(s: SparkSession, dir: String): DataFrame = {
    val log = changeLog(s, dir)
    val keys = Seq("user_id", "event_type")
    val state = rollupState(log.filter(col("ms") < CutoffMs), keys, "value", "ms")
    val delta = rollupState(log.filter(col("ms") >= CutoffMs), keys, "value", "ms")
    rollupFinish(rollupMerge(state, delta, keys))
      .select(col("user_id"), col("event_type"), col("n"), col("n_v"),
        col("sum_v"), col("avg_v"), col("first_ms"), col("last_ms"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val i5Sql: String =
    """SELECT user_id, event_type,
      |  count(*) AS n, count(value) AS n_v,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
      |  CASE WHEN count(value) = 0 THEN NULL
      |       ELSE CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value)
      |  END AS avg_v,
      |  min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** i6: incremental DISTINCT maintenance — the aggregate partial-agg
    * merging CANNOT refresh (distinct isn't mergeable from counts).
    * The state that makes it incremental is the first-seen KEY SET at
    * the report's grain: (day, user) pairs. A batch folds in by
    * ANTI-JOINING the state — only genuinely new keys append, and
    * n_total = n_old + n_new. THE ORACLE COMPUTES n_users AS THE
    * DIRECT RECOMPUTE (count DISTINCT over the whole log), so the
    * hash gate proves fold == rebuild cross-engine (i5's transparency
    * pattern applied to the non-mergeable aggregate). Scale: state and
    * batch shuffle once on (day, user); the anti-join co-partitions
    * with both; no count ever re-scans history. */
  def i6(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"), unix_millis(col("ts")).as("ms"))
    val old = ev.filter(col("ms") < CutoffMs).select(col("day"), col("user_id")).distinct()
    val batch = ev.filter(col("ms") >= CutoffMs).select(col("day"), col("user_id")).distinct()
    val newPairs = batch.join(old, Seq("day", "user_id"), "left_anti")
    val nOld = old.groupBy(col("day")).agg(count(lit(1)).as("n_old"))
    val nNew = newPairs.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    nOld.join(nNew, Seq("day"), "full")
      .select(col("day"), coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_users", col("n_old") + col("n_new"))
      .orderBy(col("day"))
  }

  val i6Sql: String =
    s"""WITH o AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       |  WHERE epoch_ms(ts) < $CutoffMs),
       |b AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       |  WHERE epoch_ms(ts) >= $CutoffMs),
       |n AS (
       |  SELECT b.day, b.user_id FROM b
       |  LEFT JOIN o ON b.day = o.day AND b.user_id = o.user_id
       |  WHERE o.user_id IS NULL),
       |no AS (SELECT day, count(*) AS n_old FROM o GROUP BY day),
       |nn AS (SELECT day, count(*) AS n_new FROM n GROUP BY day),
       |r AS (
       |  SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS n_users
       |  FROM events GROUP BY day)
       |SELECT r.day, COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new, n_users
       |FROM r LEFT JOIN no ON r.day = no.day LEFT JOIN nn ON r.day = nn.day
       |ORDER BY r.day""".stripMargin

  /** Snapshot-grain rollup state for [[cdcRollupApply]]: count /
    * non-null count / exact-decimal sum / min / max per group. Unlike
    * [[rollupState]] (which summarizes an append-only LOG), this
    * summarizes a mutable SNAPSHOT — so refreshing it needs
    * RETRACTIONS, not just merges. */
  def snapshotRollup(snap: DataFrame, groupCol: String, valueCol: String): DataFrame =
    snap.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      count(col(valueCol)).as("n_v"),
      sum(graft.functions.ExactNum.dec2(col(valueCol))).as("__sum_v"),
      min(col(valueCol)).as("mn"),
      max(col(valueCol)).as("mx"))

  /** Retraction-aware rollup maintenance — fold a CDC batch (the
    * [[cdcDiff]] output with `(groupCol, valueCol)` as its compare
    * columns) into a [[snapshotRollup]] state WITHOUT rescanning the
    * snapshot for the additive stats. This is the Flink-retract-mode
    * shape: each change explodes into ±deltas — DELETE retracts from
    * its old group, INSERT adds to its new group, UPDATE does both
    * (which is how a row MOVES between groups) — and counts/sums are
    * refreshed purely from |batch|-sized deltas. min/max are NOT
    * retractable (removing the current extremum needs the runner-up),
    * so they use the production fallback: groups TOUCHED by the batch
    * recompute min/max from the new snapshot restricted to those
    * groups (a |keys|-grain scan with a semi-join pushdown — never
    * the history log); untouched groups keep their stored extrema.
    * Groups whose count hits zero vanish, matching the rebuild.
    *
    * Scale shape: every shuffle after snapshot construction is at
    * GROUP grain (bounded: days, categories); the delta frame is
    * batch-sized; decimal sums make the fold order-independent, so
    * fold == rebuild exactly — which is i7's oracle. */
  def cdcRollupApply(state: DataFrame, changes: DataFrame, newSnap: DataFrame,
                     groupCol: String, valueCol: String): DataFrame = {
    val dec = graft.functions.ExactNum.dec2 _
    val retract = changes.filter(col("op").isin("DELETE", "UPDATE"))
      .select(col(s"old_$groupCol").as(groupCol),
        lit(-1L).as("n"),
        when(col(s"old_$valueCol").isNotNull, -1L).otherwise(0L).as("n_v"),
        (-dec(col(s"old_$valueCol"))).as("__sum_v"))
    val add = changes.filter(col("op").isin("INSERT", "UPDATE"))
      .select(col(s"new_$groupCol").as(groupCol),
        lit(1L).as("n"),
        when(col(s"new_$valueCol").isNotNull, 1L).otherwise(0L).as("n_v"),
        dec(col(s"new_$valueCol")).as("__sum_v"))
    val delta = retract.unionByName(add)
    val merged = state.select(col(groupCol), col("n"), col("n_v"), col("__sum_v"))
      .unionByName(delta)
      .groupBy(col(groupCol))
      .agg(sum(col("n")).as("n"), sum(col("n_v")).as("n_v"),
        sum(col("__sum_v")).as("__sum_v"))
      .filter(col("n") > 0)
    val touched = delta.select(col(groupCol)).distinct()
    val recomputed = newSnap.join(touched, Seq(groupCol), "left_semi")
      .groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))
    val kept = state.select(col(groupCol), col("mn"), col("mx"))
      .join(touched.withColumn("__t", lit(1)), Seq(groupCol), "left")
      .filter(col("__t").isNull).drop("__t")
    merged.join(kept.unionByName(recomputed), Seq(groupCol), "left")
      .withColumn("sum_v", col("__sum_v").cast("double"))
      .drop("__sum_v")
  }

  /** i7: retraction-aware rollup of the latest-purchase snapshot by
    * DAY — i5 keeps a log rollup fresh by MERGING (append-only), i7
    * keeps a snapshot rollup fresh under UPDATES: when a user's
    * latest purchase moves to a new day, the old day's count/sum
    * RETRACT and the new day's grow. The CDC batch is i4's diff
    * (old-vs-new latest-purchase snapshots, compare = (day, value));
    * THE ORACLE IS THE FULL REBUILD over the new snapshot, so the
    * gate proves retract-fold == rebuild cross-engine. The DELETE
    * path (absent here: time-cut snapshots of an append-only log
    * never drop keys) is exercised by UpsertSpec on explicit frames. */
  def i7(s: SparkSession, dir: String): DataFrame = {
    val purch = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"),
        to_date(col("ts")).as("day"), unix_millis(col("ts")).as("ms"))
    // In production the snapshots and the CDC batch are PERSISTED
    // tables (that is the point of incremental maintenance); deriving
    // them inline here would re-scan the event log once per downstream
    // reference (~30 scans in the uncut plan). The cut stands in for
    // that persistence: each frame materializes once.
    val oldSnap = latestSnapshot(purch.filter(col("ms") < CutoffMs),
      Seq("user_id"), Seq(col("ms"), col("event_id"))).cutLineage()
    val newSnap = latestSnapshot(purch, Seq("user_id"), Seq(col("ms"), col("event_id")))
      .cutLineage()
    val state = snapshotRollup(oldSnap, "day", "value")
    val changes = cdcDiff(oldSnap, newSnap, Seq("user_id"), Seq("day", "value"))
      .cutLineage()
    cdcRollupApply(state, changes, newSnap, "day", "value")
      .select(col("day"), col("n"), col("n_v"), col("sum_v"), col("mn"), col("mx"))
      .orderBy(col("day"))
  }

  val i7Sql: String =
    """WITH ranked AS (
      |  SELECT user_id, value, CAST(ts AS DATE) AS day,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'),
      |snap AS (SELECT day, user_id, value FROM ranked WHERE rn = 1)
      |SELECT day, count(*) AS n, count(value) AS n_v,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
      |  min(value) AS mn, max(value) AS mx
      |FROM snap GROUP BY day
      |ORDER BY day""".stripMargin

  /** i8: the BUCKETED-LAYOUT fact⋈fact join through the oracle gate —
    * Ingest.writeBucketed was spec-verified only (round-10 VERDICT
    * #5); this key makes the shuffle-free-join layout itself a
    * gated operator, q19's result-transparency pattern (the oracle is
    * the PLAIN join on the raw parquet: a storage layout must never
    * change results). The query writes both fact sides bucketed on
    * the join key (8 buckets — at 100 TB this is the pay-the-shuffle-
    * once-at-ingest layout; here the write doubles as the setup), then
    * joins table-to-table and aggregates per order priority. The
    * ZERO-EXCHANGE claim is asserted in UpsertSpec on the join plan
    * with broadcast disabled (a results gate can't see plans); the
    * gate here proves layout-transparency of the values. */
  /** Make a managed-table name writable in THIS session: drop any
    * catalog entry, then delete an orphaned warehouse location left by
    * a PREVIOUS session (the default in-memory catalog forgets tables
    * at JVM exit but their directories persist, and saveAsTable then
    * fails with LOCATION_ALREADY_EXISTS — hit by i8's second Verify
    * run in round 11). Goes through the session's Hadoop FileSystem
    * so non-local warehouses resolve the same way. */
  private def resetManagedTable(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(wh, name.toLowerCase(java.util.Locale.ROOT))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Run-scoped managed-table name: `<base>_<appId>_<n>`. Fixed names
    * let two concurrent sessions sharing a warehouse dir drop each
    * other's LIVE tables through resetManagedTable (round-12 VERDICT
    * "what's wrong" #3); the applicationId (unique per SparkContext)
    * plus a per-JVM counter scopes every i8 run to its own table, so
    * reset only ever touches this run's own orphans (a same-name
    * leftover can only come from an astronomically-unlikely appId
    * collision with a DEAD session — never a live one). */
  private val runTableSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def runScopedName(s: SparkSession, base: String): String = {
    val app = s.sparkContext.applicationId.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]", "_")
    s"${base}_${app}_${runTableSeq.incrementAndGet()}"
  }

  /** (orders, lineitem) table names the most recent i8 run wrote —
    * lets UpsertSpec re-open the bucketed tables for its
    * zero-exchange plan assertion without fixed global names. */
  @volatile private[graft] var lastI8Tables: Option[(String, String)] = None

  /** GC for run-scoped i8 tables (r13 ADVICE): run-scoping fixed the
    * cross-session drop race but nothing ever dropped PRIOR runs'
    * tables — every i8 invocation (Bench runs it 2+ times per SF,
    * plus Verify re-runs) left two full bucketed copies of
    * orders/lineitem in the warehouse. Two cases:
    * (a) same JVM: drop the pair recorded in [[lastI8Tables]] before
    *     writing the new one (UpsertSpec's plan assertion re-opens the
    *     pair within the same i8 call's aftermath, before the next i8
    *     run, so this never races a reader);
    * (b) dead sessions: sweep warehouse `i8_*` directories whose name
    *     lacks the LIVE applicationId AND whose lease marker (see
    *     [[touchLeases]]) has gone stale for [[I8GcAgeMs]]. The lease
    *     is a `_graft_lease` file inside the table dir that the OWNING
    *     JVM's daemon heartbeat re-touches every [[I8LeaseBeatMs]]
    *     while it is alive — so a concurrent session that wrote its
    *     tables and then STALLED >30 min (debugger, GC pause, slow SF)
    *     keeps its tables (round-15 ADVICE: the old write-time-mtime
    *     heuristic deleted them mid-query), while a dead JVM's lease
    *     ages out and its orphans are reclaimed. Dirs with NO lease
    *     file (pre-lease layouts) fall back to dir mtime. */
  private val I8GcAgeMs = 30L * 60 * 1000
  private val I8LeaseBeatMs = 5L * 60 * 1000
  private val LeaseName = "_graft_lease"
  /** Table dirs this JVM owns; the heartbeat re-touches their leases. */
  private val leasedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @volatile private var heartbeatStarted = false
  private def touchLease(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: org.apache.hadoop.fs.Path): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(tableDir, LeaseName)
      val out = fs.create(p, true); out.write('1'); out.close()
    } catch { case _: java.io.IOException => () } // lease is best-effort
  private def touchLeases(s: SparkSession): Unit = {
    val it = leasedDirs.iterator()
    while (it.hasNext) {
      val d = new org.apache.hadoop.fs.Path(it.next())
      val fs = d.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(d)) touchLease(fs, d) else it.remove()
    }
  }
  private def ensureHeartbeat(s: SparkSession): Unit =
    if (!heartbeatStarted) synchronized {
      if (!heartbeatStarted) {
        val t = new Thread(() => {
          while (true) {
            Thread.sleep(I8LeaseBeatMs)
            try touchLeases(s) catch { case _: Throwable => () }
          }
        }, "graft-i8-lease-heartbeat")
        t.setDaemon(true); t.start()
        heartbeatStarted = true
      }
    }
  private def gcI8Tables(s: SparkSession): Unit = {
    lastI8Tables.foreach { case (o, l) =>
      resetManagedTable(s, o); resetManagedTable(s, l)
    }
    lastI8Tables = None
    val app = s.sparkContext.applicationId.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]", "_")
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) {
      val cutoff = System.currentTimeMillis() - I8GcAgeMs
      fs.listStatus(wh).foreach { st =>
        val n = st.getPath.getName
        if ((n.startsWith("i8_orders_b_") || n.startsWith("i8_lineitem_b_")) &&
            !n.contains(app)) {
          val lease = new org.apache.hadoop.fs.Path(st.getPath, LeaseName)
          val lastAlive =
            try { if (fs.exists(lease)) fs.getFileStatus(lease).getModificationTime
                  else st.getModificationTime }
            catch { case _: java.io.IOException => Long.MaxValue } // unreadable: keep
          if (lastAlive < cutoff) {
            s.sql(s"DROP TABLE IF EXISTS $n")
            fs.delete(st.getPath, true)
          }
        }
      }
    }
  }

  def i8(s: SparkSession, dir: String): DataFrame = {
    gcI8Tables(s)
    val ordersTbl = runScopedName(s, "i8_orders_b")
    val lineitemTbl = runScopedName(s, "i8_lineitem_b")
    lastI8Tables = Some((ordersTbl, lineitemTbl))
    resetManagedTable(s, ordersTbl)
    resetManagedTable(s, lineitemTbl)
    // Parallelize the scan-fused bucketed writes by repartitioning ON
    // THE BUCKET COLUMN to exactly nBuckets (guide §6): each write
    // task then holds one bucket's rows, producing ONE file per bucket
    // with the sortBy(bucketCol) layout intact. The r18 round-robin
    // spread here multiplied files-per-bucket (N write tasks × 8
    // buckets) and the downstream bucketed join re-inserted sorts —
    // i8 slowed at both core counts (r18 c32 raw 2.00→4.22). The
    // bucket-keyed exchange still lifts the write off a single task.
    graft.sources.Ingest.writeBucketed(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey")),
      ordersTbl, "o_orderkey", 8)
    graft.sources.Ingest.writeBucketed(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(8, col("l_orderkey")),
      lineitemTbl, "l_orderkey", 8)
    // lease the new table dirs (see gcI8Tables doc) and keep them
    // fresh from the daemon heartbeat while this JVM lives
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    Seq(ordersTbl, lineitemTbl).foreach { t =>
      leasedDirs.add(new org.apache.hadoop.fs.Path(wh, t).toString)
    }
    touchLeases(s)
    ensureHeartbeat(s)
    val dec2 = graft.functions.ExactNum.dec2 _
    s.table(lineitemTbl)
      .join(s.table(ordersTbl), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"),
        sum(dec2(col("l_extendedprice")) *
          (lit(1).cast(org.apache.spark.sql.types.DecimalType(18, 2)) - dec2(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val i8Sql: String =
    """SELECT o_orderpriority,
      |  count(DISTINCT o_orderkey) AS n_orders,
      |  count(*) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // i9: small-file compaction planning — the table-maintenance job
  // every lakehouse runs beside MERGE/SCD2 (i1-i3) and rollup upkeep
  // (i5/i7). Streaming ingest (st12's sink, micro-batch appends)
  // leaves thousands of small files per partition; scans then pay
  // per-file open cost and the driver pays per-file planning cost.
  // The compactor's PLAN is pure metadata work: from a file manifest
  // ((part_key, file_id, bytes, rows) — what a table format's
  // snapshot lists), greedily bin-pack consecutive files into output
  // groups of ~`target` bytes via a per-partition prefix sum:
  // group = (bytes accumulated BEFORE this file) div target — t12's
  // concat-and-split rule applied to files instead of tokens, so a
  // group may overshoot target by at most one file (files are atomic;
  // the straddler closes its group). Emits per output group the file
  // range (contiguity is the rewrite's sequential-read guarantee),
  // byte/row volume, and integer fill_ppm vs target.
  //
  // Scale shape: 100 TB at 128 MB files is a ~800k-row manifest — the
  // plan is ONE window + ONE groupBy per partition key over METADATA,
  // never touching data; partitions plan independently (the window
  // key), so a 1000-executor compactor plans every partition in
  // parallel. The registered form derives its manifest from the
  // documents table (file = 5 consecutive doc_ids per source,
  // bytes = n_chars) so the gate SFs exercise multi-group packing at
  // every scale; a real deployment feeds the table-format manifest.
  val CompactTargetBytes = 4000L
  val CompactFileDocs = 5L

  /** Library API: bin-pack a file manifest into compaction groups.
    * `manifest` columns: partCols, file_id, bytes, rows (all
    * integral). Greedy prefix-sum packing in file_id order. */
  def compactionPlan(manifest: DataFrame, partCols: Seq[String],
      target: Long): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col("file_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    manifest
      .withColumn("cum_before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("grp", expr(s"cum_before div $target"))
      .groupBy(partCols.map(col) :+ col("grp"): _*)
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"),
        sum(col("rows")).as("n_rows"),
        min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
      .withColumn("fill_ppm", expr(s"bytes * 1000000 div $target"))
  }

  def i9(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val manifest = docs
      .groupBy(col("source"), expr(s"doc_id div $CompactFileDocs").as("file_id"))
      .agg(sum(col("n_chars")).as("bytes"), count(lit(1)).as("rows"))
    compactionPlan(manifest, Seq("source"), CompactTargetBytes)
      .select(col("source"), col("grp"), col("n_files"), col("bytes"),
        col("n_rows"), col("first_file"), col("last_file"), col("fill_ppm"))
      .orderBy(col("source"), col("grp"))
  }

  val i9Sql: String =
    s"""WITH manifest AS (
       |  SELECT source, doc_id // $CompactFileDocs AS file_id,
       |    CAST(sum(n_chars) AS BIGINT) AS bytes, count(*) AS n_docs
       |  FROM documents GROUP BY 1, 2),
       |planned AS (
       |  SELECT source, file_id, bytes, n_docs,
       |    CAST(COALESCE(sum(bytes) OVER (PARTITION BY source ORDER BY file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM manifest)
       |SELECT source, cum_before // $CompactTargetBytes AS grp,
       |  count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes,
       |  CAST(sum(n_docs) AS BIGINT) AS n_rows,
       |  min(file_id) AS first_file, max(file_id) AS last_file,
       |  CAST(sum(bytes) AS BIGINT) * 1000000 // $CompactTargetBytes AS fill_ppm
       |FROM planned GROUP BY 1, 2
       |ORDER BY source, grp""".stripMargin

  // -------------------------------------------------------------------
  // i11: compaction EXECUTION — the rewrite half i9 only planned
  // (round-16 VERDICT directive 4: "the table-maintenance story stops
  // at paperwork"). compactionApply re-derives i9's per-file group
  // assignment with the same prefix-sum rule, tags every row with its
  // output group through ONE broadcast join against the metadata-sized
  // file→group map, and writes EXACTLY ONE physical file per plan
  // group: rows shuffle once keyed by (partCols, grp) — so a group
  // lives wholly in one task — and the writer partitions directories
  // by the same key, so each group directory receives that single
  // task's single part file.
  //
  // Scale shape: the file→group map is manifest-sized (~800k rows at
  // 100 TB / 128 MB files — broadcastable metadata); the data pays ONE
  // shuffle on the group key, the minimum for any rewrite that moves
  // rows across file boundaries; partitions compact independently.
  // Result transparency is i8's rule: a rewrite may move rows between
  // files, never change them — the registered audit reads the
  // REWRITTEN files back and hashes per-group row counts, byte sums
  // and id checksums against the oracle's plan over the ORIGINAL
  // table, plus the physical file count per group (the oracle pins the
  // literal 1).

  /** Library API: execute a compaction plan over `table`, whose rows
    * carry `partCols`, an integral current-file id `fileIdCol` (what a
    * table format's snapshot gives; the registered key derives it the
    * way i9 derives its manifest), and the data columns. Writes the
    * rewritten table under `outDir` partitioned by (partCols, __grp)
    * with one file per group; returns the read-back frame. */
  def compactionApply(table: DataFrame, partCols: Seq[String],
      fileIdCol: String, bytesExpr: Column, target: Long,
      outDir: String): DataFrame = {
    val s = table.sparkSession
    val pc = partCols.map(col)
    val w = Window.partitionBy(pc: _*).orderBy(col(fileIdCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val fileGrp = table
      .groupBy((pc :+ col(fileIdCol)): _*).agg(sum(bytesExpr).as("__fbytes"))
      .withColumn("__cum", coalesce(sum(col("__fbytes")).over(w), lit(0L)))
      .withColumn("__grp", expr(s"__cum div $target"))
      .select((pc :+ col(fileIdCol) :+ col("__grp")): _*)
    table.join(broadcast(fileGrp), partCols :+ fileIdCol)
      .repartition((pc :+ col("__grp")): _*)
      .write.mode("overwrite")
      .partitionBy((partCols :+ "__grp"): _*)
      .parquet(outDir)
    s.read.parquet(outDir)
  }

  /** Output-group ceiling for the registered i11 instantiation: the
    * target SIZES ITSELF to the corpus (max(CompactTargetBytes,
    * ceil(totalBytes / 500))) so group count — and therefore output
    * FILE count — stays bounded as SF grows. The fixed 4 KB target
    * alone is right for the tiny gate SFs (multi-group packing is
    * what the oracle exercises: 44/42/379 groups) but grows files
    * linearly with data (the ×100 rehearsal wrote 37k files and the
    * ×10 exponent read 1.23 — file-count overhead, not data cost); a
    * real deployment passes a real target (128 MB) to
    * [[compactionApply]] directly. sizedPlanes/sizedCells' rule
    * applied to the compactor, mirrored by the oracle from its own
    * SUM(n_chars). */
  val MaxCompactGroups = 500L

  def i11(s: SparkSession, dir: String): DataFrame = {
    // rewrite once per dataset (d13/q19's memoized-artifact pattern —
    // the write is the operator's one side effect; repeat invocations
    // audit the same rewritten files)
    val outDir = graft.Artifacts.cachedTempDir(s"i11:$dir") { d =>
      val docs = Tables.documents(s, dir)
        .withColumn("file_id", expr(s"doc_id div $CompactFileDocs"))
      // one O(1)-output scan sizes the target (d17/s12's plan-time
      // scalar class)
      val totBytes = docs.agg(sum(col("n_chars"))).head().getLong(0)
      val target = math.max(CompactTargetBytes,
        (totBytes + MaxCompactGroups - 1) / MaxCompactGroups)
      compactionApply(docs, Seq("source"), "file_id", col("n_chars"),
        target, d): Unit
    }
    s.read.parquet(outDir)
      .groupBy(col("source"), col("__grp").cast("long").as("grp"))
      .agg(countDistinct(col("_metadata.file_path")).as("files"),
        count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("bytes"),
        sum(col("doc_id")).as("id_sum"),
        min(col("file_id")).as("first_file"),
        max(col("file_id")).as("last_file"))
      .orderBy(col("source"), col("grp"))
  }

  /** DuckDB twin: the plan rule over the ORIGINAL documents table —
    * the rewrite is correct iff every per-group aggregate matches and
    * every group is exactly one physical file. */
  val i11Sql: String =
    s"""WITH tgt AS (
       |  SELECT GREATEST($CompactTargetBytes,
       |    (CAST(sum(n_chars) AS BIGINT) + ${MaxCompactGroups - 1}) // $MaxCompactGroups)
       |    AS g
       |  FROM documents),
       |manifest AS (
       |  SELECT source, doc_id // $CompactFileDocs AS file_id,
       |    CAST(sum(n_chars) AS BIGINT) AS bytes
       |  FROM documents GROUP BY 1, 2),
       |fg AS (
       |  SELECT source, file_id,
       |    CAST(COALESCE(sum(bytes) OVER (PARTITION BY source ORDER BY file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      // (SELECT g FROM tgt) AS grp
       |  FROM manifest)
       |SELECT d.source, f.grp, CAST(1 AS BIGINT) AS files, count(*) AS n_rows,
       |  CAST(sum(d.n_chars) AS BIGINT) AS bytes,
       |  CAST(sum(d.doc_id) AS BIGINT) AS id_sum,
       |  min(f.file_id) AS first_file, max(f.file_id) AS last_file
       |FROM documents d
       |JOIN fg f ON d.source = f.source
       |  AND d.doc_id // $CompactFileDocs = f.file_id
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // i10: z-order layout planning + file-skipping effectiveness audit —
  // the data-CLUSTERING half of table maintenance beside i9's
  // compaction (a 100 TB table is laid out once, then every scan pays
  // for that choice through min/max file skipping). Rows map to a
  // 2-D z-value (bit-interleave of two 8-bit rank buckets: user_id ×
  // event day) and files are contiguous z-ranges; the audit computes
  // per-file min/max stats — exactly what parquet footers give a scan
  // planner — and replays a fixed 10%×10% box query's pruning against
  // the SAME data laid out linearly (sorted by user only). Z-order
  // keeps BOTH dimensions' ranges tight per file, so a 2-D box prunes
  // multiplicatively where the linear layout prunes only its sort
  // dimension; the report puts integers on that argument (files hit,
  // rows scanned, scan ppm — rows_matched is layout-invariant by
  // construction, the i8 result-transparency rule for layouts).
  //
  // Scale shape: bounds are a 1-row aggregate broadcast back (q23's
  // shared-exchange class), the z-value is map-side integer math, and
  // the audit aggregates at (layout, file) grain — ≤ 2·ZFiles rows.
  // The real write is repartitionByRange(zv) + sortWithinPartitions
  // (the bucketed-write-at-ingest trade i8 documents: pay the shuffle
  // once, every 2-D-selective scan after skips).
  val ZFiles = 256L

  def i10(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id").as("u"), expr("unix_millis(ts) div 86400000").as("d"))
    val bounds = ev.agg(min(col("u")).as("umin"), max(col("u")).as("umax"),
      min(col("d")).as("dmin"), max(col("d")).as("dmax"))
    val zbits = (0 until 8).map(b =>
      s"(((bx >> $b) & 1) << ${2 * b}) + (((by >> $b) & 1) << ${2 * b + 1})").mkString(" + ")
    val cells = ev.crossJoin(broadcast(bounds))
      .withColumn("bx", expr("(u - umin) * 256 div (umax - umin + 1)"))
      .withColumn("by", expr("(d - dmin) * 256 div (dmax - dmin + 1)"))
      .withColumn("zv", expr(zbits))
      // the fixed box query: [30%,40%) of each dimension's range
      .withColumn("row_match", expr(
        """u >= umin + (umax - umin + 1) * 3 div 10 AND
          |u <  umin + (umax - umin + 1) * 4 div 10 AND
          |d >= dmin + (dmax - dmin + 1) * 3 div 10 AND
          |d <  dmin + (dmax - dmin + 1) * 4 div 10""".stripMargin))
      .withColumn("ulo", expr("umin + (umax - umin + 1) * 3 div 10"))
      .withColumn("uhi", expr("umin + (umax - umin + 1) * 4 div 10"))
      .withColumn("dlo", expr("dmin + (dmax - dmin + 1) * 3 div 10"))
      .withColumn("dhi", expr("dmin + (dmax - dmin + 1) * 4 div 10"))
    val tagged = cells.select(lit("zorder").as("layout"),
        expr(s"zv * $ZFiles div 65536").as("file"),
        col("u"), col("d"), col("row_match"), col("ulo"), col("uhi"), col("dlo"), col("dhi"))
      .unionAll(cells.select(lit("linear").as("layout"),
        expr(s"bx * $ZFiles div 256").as("file"),
        col("u"), col("d"), col("row_match"), col("ulo"), col("uhi"), col("dlo"), col("dhi")))
    val files = tagged.groupBy(col("layout"), col("file")).agg(
      count(lit(1)).as("n_rows"),
      min(col("u")).as("fumin"), max(col("u")).as("fumax"),
      min(col("d")).as("fdmin"), max(col("d")).as("fdmax"),
      sum(when(col("row_match"), 1L).otherwise(0L)).as("n_match"),
      max(col("ulo")).as("ulo"), max(col("uhi")).as("uhi"),
      max(col("dlo")).as("dlo"), max(col("dhi")).as("dhi"))
    files
      .withColumn("hit", col("fumax") >= col("ulo") && col("fumin") < col("uhi") &&
        col("fdmax") >= col("dlo") && col("fdmin") < col("dhi"))
      .groupBy(col("layout")).agg(
        count(lit(1)).as("n_files"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_files_hit"),
        sum(when(col("hit"), col("n_rows")).otherwise(0L)).as("rows_scanned"),
        sum(col("n_match")).as("rows_matched"),
        sum(col("n_rows")).as("n_total"))
      .select(col("layout"), col("n_files"), col("n_files_hit"),
        col("rows_scanned"), col("rows_matched"),
        expr("rows_scanned * 1000000L div n_total").as("scan_ppm"))
      .orderBy(col("layout"))
  }

  val i10Sql: String = zorderAuditSql(withTotal = false)

  /** Shared DuckDB twin for i10 (simulated files) and i13 (really
    * written files): the file-assignment rule is identical in both —
    * contiguous z-ranges (zorder) / bx-ranges (linear) — so the same
    * plan SQL replays either; i13 additionally emits n_total per
    * layout (the row-invariance pin: a REWRITE may move rows between
    * files, never add or drop them — i8's transparency rule). */
  private def zorderAuditSql(withTotal: Boolean): String = {
    val zbits = (0 until 8).map(b =>
      s"(((bx >> $b) & 1) << ${2 * b}) + (((by >> $b) & 1) << ${2 * b + 1})").mkString(" + ")
    val totalCol =
      if (withTotal) ",\n       |  CAST(sum(n_rows) AS BIGINT) AS n_total" else ""
    s"""WITH ev AS (
       |  SELECT user_id AS u, epoch_ms(ts) // 86400000 AS d FROM events),
       |bounds AS (
       |  SELECT min(u) AS umin, max(u) AS umax, min(d) AS dmin, max(d) AS dmax
       |  FROM ev),
       |cells AS (
       |  SELECT u, d,
       |    (u - umin) * 256 // (umax - umin + 1) AS bx,
       |    (d - dmin) * 256 // (dmax - dmin + 1) AS by,
       |    (u >= umin + (umax - umin + 1) * 3 // 10 AND
       |     u <  umin + (umax - umin + 1) * 4 // 10 AND
       |     d >= dmin + (dmax - dmin + 1) * 3 // 10 AND
       |     d <  dmin + (dmax - dmin + 1) * 4 // 10) AS row_match,
       |    umin + (umax - umin + 1) * 3 // 10 AS ulo,
       |    umin + (umax - umin + 1) * 4 // 10 AS uhi,
       |    dmin + (dmax - dmin + 1) * 3 // 10 AS dlo,
       |    dmin + (dmax - dmin + 1) * 4 // 10 AS dhi
       |  FROM ev, bounds),
       |tagged AS (
       |  SELECT 'zorder' AS layout, ($zbits) * $ZFiles // 65536 AS file,
       |    u, d, row_match, ulo, uhi, dlo, dhi FROM cells
       |  UNION ALL
       |  SELECT 'linear' AS layout, bx * $ZFiles // 256 AS file,
       |    u, d, row_match, ulo, uhi, dlo, dhi FROM cells),
       |files AS (
       |  SELECT layout, file, count(*) AS n_rows,
       |    min(u) AS fumin, max(u) AS fumax, min(d) AS fdmin, max(d) AS fdmax,
       |    sum(CASE WHEN row_match THEN 1 ELSE 0 END) AS n_match,
       |    max(ulo) AS ulo, max(uhi) AS uhi, max(dlo) AS dlo, max(dhi) AS dhi
       |  FROM tagged GROUP BY 1, 2),
       |hits AS (
       |  SELECT *, (fumax >= ulo AND fumin < uhi AND fdmax >= dlo AND fdmin < dhi) AS hit
       |  FROM files)
       |SELECT layout, count(*) AS n_files,
       |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_files_hit,
       |  CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       |  CAST(sum(n_match) AS BIGINT) AS rows_matched,
       |  CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) * 1000000 // sum(n_rows) AS BIGINT) AS scan_ppm$totalCol
       |FROM hits
       |GROUP BY layout
       |ORDER BY layout""".stripMargin
  }

  // -------------------------------------------------------------------
  // i13: z-order layout EXECUTION — the physical-rewrite half i10 only
  // simulated (round-17 VERDICT directive 1: "z-order layout is
  // audited, never executed" — the repartitionByRange comment made
  // real, i11's execute-don't-plan pattern applied to clustering).
  // The registered key WRITES the two layouts as real parquet files —
  // every row tagged with its layout file by the SAME contiguous-range
  // rule i10 simulates (zorder: zv·ZFiles div 2^16; linear:
  // bx·ZFiles div 2^8), one hash shuffle on (layout, file) so each
  // file's rows live in one task, sortWithinPartitions(zv) for
  // within-file clustering, and a directory per (layout, file) that
  // therefore receives exactly that task's single part file (i11's
  // one-file-per-group machinery). The audit then derives per-file
  // min/max FROM THE REWRITTEN FILES' OWN ROWS, grouped by
  // `_metadata.file_path` — the stats a scan planner reads from
  // parquet footers — and replays i10's fixed 10%×10% box-query
  // pruning against them. Output = i10's report computed on REAL
  // files, plus n_total per layout (row invariance: a rewrite moves
  // rows between files, never changes them — i8's rule).
  //
  // Why the gated form uses the deterministic z-range rule rather
  // than repartitionByRange directly: RangePartitioner samples its
  // bounds from the data (reservoir sketch), which no SQL oracle can
  // replay and which need not produce identical per-file min/max
  // across runs — while the z-range rule IS a range partitioning of
  // zv space with deterministic boundaries (files are contiguous
  // z-ranges either way). The sampling form is the library API
  // ([[zorderApply]], below) and UpsertSpec audits ITS really-written
  // files for the same properties (rows invariant, files = plan
  // count, contiguous zv ranges, box pruning ≤ linear).
  //
  // Scale shape: bounds are one 1-row broadcast agg (q23's class);
  // the z-value and file tag are map-side integer math; the rewrite
  // pays ONE shuffle on (layout, file) — the floor for moving rows
  // across file boundaries — and the audit aggregates at
  // (layout, file) grain (≤ 2·ZFiles rows after the scan's map-side
  // combine). At 100 TB the write is the once-per-layout cost i8
  // documents for bucketing; every 2-D-selective scan after skips.

  /** Library API: physically rewrite `table` z-clustered on `zvCol` —
    * repartitionByRange(nFiles) + sortWithinPartitions + parquet write
    * (the production form: RangePartitioner picks balanced boundaries
    * by sampling; for an oracle-replayable deterministic assignment,
    * tag rows with an explicit contiguous-range file id and write
    * partitionBy that id — i13's registered form). Returns the
    * read-back frame; per-file min/max then come from
    * `_metadata.file_path` grouping (what parquet footers give). */
  def zorderApply(table: DataFrame, zvCol: String, nFiles: Int,
      outDir: String): DataFrame = {
    table.repartitionByRange(nFiles, col(zvCol))
      .sortWithinPartitions(col(zvCol))
      .write.mode("overwrite").parquet(outDir)
    table.sparkSession.read.parquet(outDir)
  }

  def i13(s: SparkSession, dir: String): DataFrame = {
    // rewrite once per dataset (i11's memoized-artifact pattern);
    // repeat invocations audit the same rewritten files
    val outDir = graft.Artifacts.cachedTempDir(s"i13:$dir") { d =>
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("u"), expr("unix_millis(ts) div 86400000").as("d"))
      val bounds = ev.agg(min(col("u")).as("umin"), max(col("u")).as("umax"),
        min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      val zbits = (0 until 8).map(b =>
        s"(((bx >> $b) & 1) << ${2 * b}) + (((by >> $b) & 1) << ${2 * b + 1})").mkString(" + ")
      val cells = ev.crossJoin(broadcast(bounds)) // provably 1 row
        .withColumn("bx", expr("(u - umin) * 256 div (umax - umin + 1)"))
        .withColumn("by", expr("(d - dmin) * 256 div (dmax - dmin + 1)"))
        .withColumn("zv", expr(zbits))
      val tagged = cells.select(lit("zorder").as("layout"),
          expr(s"zv * $ZFiles div 65536").as("file"), col("u"), col("d"), col("zv"))
        .unionAll(cells.select(lit("linear").as("layout"),
          expr(s"bx * $ZFiles div 256").as("file"), col("u"), col("d"), col("zv")))
      tagged
        .repartition(col("layout"), col("file")) // a file's rows in ONE task
        .sortWithinPartitions(col("layout"), col("file"), col("zv"))
        .write.mode("overwrite").partitionBy("layout", "file").parquet(d)
    }
    // the audit reads ONLY the rewritten files: min/max per physical
    // file (footer stats), box bounds re-derived from the rewritten
    // rows themselves (one layout's rows = the original table)
    val t = s.read.parquet(outDir)
      .select(col("layout"), col("_metadata.file_path").as("fpath"),
        col("u"), col("d"))
    val bounds = t.filter(col("layout") === "zorder")
      .agg(min(col("u")).as("umin"), max(col("u")).as("umax"),
        min(col("d")).as("dmin"), max(col("d")).as("dmax"))
    val boxed = t.crossJoin(broadcast(bounds)) // provably 1 row
      .withColumn("ulo", expr("umin + (umax - umin + 1) * 3 div 10"))
      .withColumn("uhi", expr("umin + (umax - umin + 1) * 4 div 10"))
      .withColumn("dlo", expr("dmin + (dmax - dmin + 1) * 3 div 10"))
      .withColumn("dhi", expr("dmin + (dmax - dmin + 1) * 4 div 10"))
      .withColumn("row_match",
        col("u") >= col("ulo") && col("u") < col("uhi") &&
          col("d") >= col("dlo") && col("d") < col("dhi"))
    val files = boxed.groupBy(col("layout"), col("fpath")).agg(
      count(lit(1)).as("n_rows"),
      min(col("u")).as("fumin"), max(col("u")).as("fumax"),
      min(col("d")).as("fdmin"), max(col("d")).as("fdmax"),
      sum(when(col("row_match"), 1L).otherwise(0L)).as("n_match"),
      max(col("ulo")).as("ulo"), max(col("uhi")).as("uhi"),
      max(col("dlo")).as("dlo"), max(col("dhi")).as("dhi"))
    files
      .withColumn("hit", col("fumax") >= col("ulo") && col("fumin") < col("uhi") &&
        col("fdmax") >= col("dlo") && col("fdmin") < col("dhi"))
      .groupBy(col("layout")).agg(
        count(lit(1)).as("n_files"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_files_hit"),
        sum(when(col("hit"), col("n_rows")).otherwise(0L)).as("rows_scanned"),
        sum(col("n_match")).as("rows_matched"),
        sum(col("n_rows")).as("n_total"))
      .select(col("layout"), col("n_files"), col("n_files_hit"),
        col("rows_scanned"), col("rows_matched"),
        expr("rows_scanned * 1000000L div n_total").as("scan_ppm"),
        col("n_total"))
      .orderBy(col("layout"))
  }

  /** DuckDB twin: i10's plan SQL (the file-assignment rule is shared)
    * plus n_total — the gate proves the REALLY WRITTEN files carry
    * exactly the planned contents: n_files == plan count (a split or
    * doubled part file would inflate it), per-file min/max == the
    * plan's (any row landing in a wrong file moves a file's bounds and
    * flips hit/rows_scanned), and n_total pins row invariance. */
  val i13Sql: String = zorderAuditSql(withTotal = true)

  // -------------------------------------------------------------------
  // i14: VACUUM EXECUTION — the third leg of table maintenance, after
  // compaction (i9 plan → i11 apply) and clustering (i10 plan → i13
  // apply): aging retained SNAPSHOT VERSIONS out of a versioned store
  // and physically reclaiming the bytes (Delta VACUUM / Iceberg
  // expire_snapshots re-expressed over DurableState's manifests).
  // st22/st23 established the read side — retention keeps history
  // resolvable for time travel; i14 executes the write side: a
  // retain-3 upsert store (st22's exact fold over the same three
  // time-sliced event batches, built in its OWN artifact because
  // vacuum MUTATES the store) is vacuumed down to keepVersions = 1,
  // and the registered probe reads all three versions back. The gate
  // proves the flip in both directions: versions 0 and 1 must resolve
  // to NOTHING (retained = false, null aggregates — a vacuum that
  // leaves stale manifests readable fails), while the surviving head
  // must carry EXACTLY the full-log fold (n_users / max_ms / the
  // DECIMAL-summed value mass replayed by the oracle's window over the
  // whole events table — a vacuum that deletes a segment the head
  // still references flips them). The artifact build additionally
  // requires (expired, reclaimed bytes) = (2, > 0): the bytes really
  // left the disk, not just the manifest list. Scale shape: vacuum is
  // manifest-list-bounded driver I/O plus per-directory deletes — no
  // Spark job at all; the probe is three segment-bounded scans + one
  // keyed window each, st22's cost class.
  private def i14Sink(s: SparkSession, dir: String): graft.streaming.DurableSinks.DurableUpsertSink = {
    val t1 = 1704931200000L // st12/st22's slice boundaries
    val t2 = 1705795200000L
    // compactEvery = 3: the THIRD commit compacts the union into one
    // fresh segment, so versions 0/1 are the only references to the
    // delta segments — exactly the lakehouse coupling (compaction
    // supersedes files, vacuum removes them). Without a compaction a
    // delta store's head references every segment and vacuum correctly
    // reclaims nothing (asserted by the UpsertSpec property).
    def mk(d: String) = new graft.streaming.DurableSinks.DurableUpsertSink(
      s, d, Seq("user_id"), Seq(col("ms"), col("event_id")),
      retainVersions = 3, compactEvery = 3)
    val storeDir = graft.Artifacts.cachedTempDir(s"i14:$dir") { d =>
      val log = Tables.events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), col("value"), unix_millis(col("ts")).as("ms"))
      val sink = mk(d)
      Seq(log.filter(col("ms") < t1),
        log.filter(col("ms") >= t1 && col("ms") < t2),
        log.filter(col("ms") >= t2))
        .zipWithIndex.foreach { case (b, i) => sink.apply(b, i.toLong) }
      val (expired, reclaimed) = sink.vacuum(keepVersions = 1)
      require(expired == 2 && reclaimed > 0L,
        s"i14 vacuum: expected 2 expired versions reclaiming > 0 bytes, got ($expired, $reclaimed)")
    }
    mk(storeDir)
  }

  def i14(s: SparkSession, dir: String): DataFrame = {
    val sink = i14Sink(s, dir)
    val probes = (0L to 2L).map { v =>
      sink.snapshotAsOf(v) match {
        case Some(snap) =>
          snap.agg(count(lit(1)).as("n_users"), max(col("ms")).as("max_ms"),
              sum(col("value").cast("decimal(28,12)")).cast("double").as("val_sum"))
            .select(lit(v).as("version"), lit(true).as("retained"),
              col("n_users"), col("max_ms"), col("val_sum"))
        case None =>
          s.range(1).toDF().select(lit(v).as("version"), lit(false).as("retained"),
            lit(null).cast("long").as("n_users"), lit(null).cast("long").as("max_ms"),
            lit(null).cast("double").as("val_sum"))
      }
    }
    probes.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  /** DuckDB twin: the expired rows are CONSTANTS (retained = false,
    * null aggregates — any resolvable state on versions 0/1 breaks the
    * hash), and the survivor row is the full-log latest-per-user fold
    * (st22's window, no time filter) aggregated with the decimal-sum
    * discipline. */
  val i14Sql: String =
    """WITH snap AS (
      |  SELECT user_id, value, ms FROM (
      |    SELECT user_id, value, epoch_ms(ts) AS ms,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(max(ms) AS BIGINT) AS max_ms,
      |    CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS val_sum
      |  FROM snap)
      |SELECT CAST(t.v AS BIGINT) AS version, t.v = 2 AS retained,
      |  CASE WHEN t.v = 2 THEN a.n_users END AS n_users,
      |  CASE WHEN t.v = 2 THEN a.max_ms END AS max_ms,
      |  CASE WHEN t.v = 2 THEN a.val_sum END AS val_sum
      |FROM (VALUES (0), (1), (2)) t(v) CROSS JOIN agg a
      |ORDER BY version""".stripMargin

  // -------------------------------------------------------------------
  // i15: CDC APPLY with the DELETE path through the gate — i4 emits
  // the changelog; i15 is the consumer replaying one, and with
  // time-cut snapshots of an append-only log DELETE cannot occur
  // (i4's documented gap: "the DELETE path is exercised by UpsertSpec
  // on explicit frames" — spec-only until now). The registered
  // scenario makes deletes REAL with the erasure semantics a
  // training-data pipeline actually runs (right-to-be-forgotten /
  // opt-out propagation): the target snapshot drops every user with
  // user_id % 7 == 0, so cdcDiff(snapA, snapB) carries genuine
  // DELETE rows beside the post-cutoff INSERTs/UPDATEs, and cdcApply
  // must remove exactly those keys while upserting the rest. The gate
  // compares the APPLIED snapshot against the oracle's direct rebuild
  // (the full-log window minus the erased users) — the roundtrip
  // cdcApply(A, cdcDiff(A, B)) == B replayed cross-engine; UpsertSpec
  // pins the same property generically on random frames and pins the
  // op mix (all three ops present at the gated SFs). Scale: two keyed
  // windows (the snapshots), one full-outer diff and one anti-join
  // apply — all at user grain, one key shuffle each, never history.
  def i15(s: SparkSession, dir: String): DataFrame = {
    val purchases = changeLog(s, dir).filter(col("event_type") === "purchase")
    // snapA additionally misses users ≡ 3 (mod 5) — a snapshot taken
    // before those users onboarded — so the diff carries genuine
    // INSERTs at every SF beside the erasure DELETEs and the
    // post-cutoff UPDATEs (UpsertSpec pins all three ops present)
    val snapA = latestSnapshot(purchases.filter(col("ms") < CutoffMs),
        Seq("user_id"), Seq(col("ms"), col("event_id")))
      .filter(col("user_id") % 5 =!= 3)
      .select(col("user_id"), col("value"))
    val snapB = latestSnapshot(purchases,
        Seq("user_id"), Seq(col("ms"), col("event_id")))
      .filter(col("user_id") % 7 =!= 0) // the erasure list
      .select(col("user_id"), col("value"))
    cdcApply(snapA, cdcDiff(snapA, snapB, Seq("user_id"), Seq("value")),
        Seq("user_id"), Seq("value"))
      .orderBy(col("user_id"))
  }

  /** DuckDB twin: the applied snapshot rebuilt directly — the
    * full-log latest-per-user window minus the erased users. Any
    * mis-applied op flips it: a surviving erased user, a dropped
    * INSERT, or a stale UPDATE value all change rows. */
  val i15Sql: String =
    s"""SELECT user_id, value FROM (
       |  SELECT user_id, value, row_number() OVER (PARTITION BY user_id
       |    ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
       |  FROM events WHERE event_type = 'purchase')
       |WHERE rn = 1 AND user_id % 7 <> 0
       |ORDER BY user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i15_cdc_apply" -> (i15 _),
    "i14_vacuum_apply" -> (i14 _),
    "i13_zorder_apply" -> (i13 _),
    "i12_schema_merge" -> (i12 _),
    "i11_compaction_apply" -> (i11 _),
    "i10_zorder_layout" -> (i10 _),
    "i9_compaction_plan" -> (i9 _),
    "i8_bucketed_join" -> (i8 _),
    "i7_cdc_rollup" -> (i7 _),
    "i1_scd2_history" -> (i1 _),
    "i2_scd2_apply" -> (i2 _),
    "i3_merge_latest" -> (i3 _),
    "i4_cdc_diff" -> (i4 _),
    "i5_inc_rollup" -> (i5 _),
    "i6_inc_distinct" -> (i6 _))

  def oracles: Map[String, String] = Map(
    "i15_cdc_apply" -> i15Sql, // roundtrip: apply(A, diff(A,B)) == B, deletes real
    "i14_vacuum_apply" -> i14Sql, // expired rows constant-null, survivor == full-log fold
    "i13_zorder_apply" -> i13Sql, // plan SQL + n_total: written == planned
    "i12_schema_merge" -> i12Sql,
    "i11_compaction_apply" -> i11Sql,
    "i10_zorder_layout" -> i10Sql,
    "i9_compaction_plan" -> i9Sql,
    "i8_bucketed_join" -> i8Sql, // plain-join SQL: layout == raw parquet
    "i7_cdc_rollup" -> i7Sql, // full-rebuild SQL: retract-fold == rebuild
    "i1_scd2_history" -> i1Sql,
    "i2_scd2_apply" -> i1Sql, // full-rebuild SQL: incremental == rebuild
    "i3_merge_latest" -> i3Sql,
    "i4_cdc_diff" -> i4Sql,
    "i5_inc_rollup" -> i5Sql, // full-rebuild SQL: merged partials == rebuild
    "i6_inc_distinct" -> i6Sql) // oracle's n_users is the direct recompute
}
