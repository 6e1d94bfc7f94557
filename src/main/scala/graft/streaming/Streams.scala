package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables
import graft.functions.ExactNum._

/** H-family: streaming (SURVEY.md §2.H).
  *
  * Each operator exists twice: a Structured-Streaming transform
  * (readStream-able, watermarked — exercised by StreamingSpec over a
  * MemoryStream) and a batch twin with a DuckDB oracle. The batch twin
  * is the same logical computation, which is exactly Structured
  * Streaming's contract: a streaming query must equal the batch query
  * over the data seen so far. The foreachBatch sinks' twins (st12,
  * st14, st16, st17, st19–st21, st24) run the sink's own step
  * ([[Sinks]]), so they share one fold with the sink.
  */
object Streams {

  case class Event(event_id: Long, user_id: Long, ms: Long, value: Double)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      start_ms: Long, end_ms: Long, session_value: Double)

  case class TsEvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class OpenSession(start_ms: Long, end_ms: Long, n: Long, cents: Long)

  // ---------------- streaming transforms (used by specs) ----------------

  /** TRUE stateful sessionization: flatMapGroupsWithState with
    * event-time timeout. Sessions close (and emit) when a later event
    * arrives ≥30 min after the last one, or when the watermark passes
    * last+30min (timeout). State per user = ONE open session (4
    * longs) — bounded regardless of stream length; value totals are
    * kept in integer cents so emission order can't perturb sums. */
  def streamingSessionize(events: Dataset[TsEvent]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, it: Iterator[TsEvent], state: GroupState[OpenSession]) => {
          def toOut(s: OpenSession) =
            SessionOut(uid, 0L, s.n, s.start_ms, s.end_ms, s.cents / 100.0)
          if (it.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(toOut).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = it.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var open = state.getOption.orNull
            for (e <- sorted) {
              val ms = e.ts.getTime
              val cents = math.round(e.value * 100)
              if (open == null) open = OpenSession(ms, ms, 1, cents)
              else if (ms - open.end_ms > 1800000L) { // same gap rule as q11/st4
                closed += toOut(open); open = OpenSession(ms, ms, 1, cents)
              } else open = OpenSession(open.start_ms, ms, open.n + 1, open.cents + cents)
            }
            state.update(open)
            state.setTimeoutTimestamp(open.end_ms + 1800000L)
            closed.iterator
          }
        })
  }

  /** Tumbling 5-min window counts per event type, 10-min watermark. */
  def streamingTumbling(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("window_start_ms"), col("event_type"), col("n"))

  /** EXACT dedup on (user_id, event_type) — emits each key once,
    * ever. State caveat, stated honestly: because the event-time
    * column is NOT part of the key set, Spark keeps one state row per
    * distinct key FOREVER (the watermark can't evict — an older
    * duplicate of any key could still arrive). Correct whenever the
    * key domain is bounded (here: |users|×|types|); for unbounded key
    * domains use [[streamingDedupBounded]]. */
  def streamingDedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "event_type")

  /** Watermark-BOUNDED dedup: dropDuplicatesWithinWatermark evicts a
    * key's state once the watermark passes its event time, so state
    * is O(keys active per watermark window), not O(all keys ever) —
    * the form that survives an unbounded key domain (request ids,
    * message uuids). The documented trade: a duplicate arriving AFTER
    * its original's state was evicted (> the watermark delay apart)
    * is re-emitted — exactly-once dedup only within the delay, which
    * is the guarantee upstream retry/replay storms actually need. */
  def streamingDedupBounded(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  case class TypedEvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)
  case class Enriched(user_id: Long, event_id: Long, purchase_ms: Long,
      click_ms: Option[Long])

  /** Default [[streamingAsOfEnrich]] retention: 30 days of user
    * inactivity before the key's state is evicted. */
  val DefaultAsOfRetentionMs: Long = 30L * 24 * 3600 * 1000

  /** Streaming AS-OF enrichment: each purchase is emitted with the
    * latest click of the same user at-or-before it — the streaming
    * twin of q14/q16. State per user = ONE long (last click ms);
    * events sort by event time within each micro-batch, so the result
    * equals the batch as-of join whenever a user's timeline isn't
    * split across batches out of order (guaranteed under event-time-
    * ordered sources; late data beyond the watermark is dropped by
    * the upstream watermark as usual).
    *
    * State is BOUNDED by a retention horizon: a user idle (no click
    * OR purchase) longer than `retentionMs` is evicted via
    * EventTimeTimeout, so the key set is O(users active within the
    * horizon), not O(all users ever). The documented trade — the
    * st3/streamingDedup caveat, applied to attribution: a user who
    * returns AFTER the horizon has lost their lastClick, so their
    * next purchase emits click_ms = None even though a click existed.
    * That is a real semantic loss, which is why the horizon is a
    * caller knob (default 30 days) and why idleness counts from the
    * user's last ACTIVITY, not last click — an actively-purchasing
    * user never loses attribution. Pick the horizon like a marketing
    * attribution window: past it, the click no longer deserves
    * credit anyway. */
  def streamingAsOfEnrich(events: Dataset[TypedEvent],
      retentionMs: Long = DefaultAsOfRetentionMs): Dataset[Enriched] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "purchase" || e.event_type == "click")
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, it: Iterator[TypedEvent], state: GroupState[Long]) => {
          if (state.hasTimedOut) { // idle past the horizon: evict the key
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(e => (e.ts.getTime, e.event_type, e.event_id))
            var lastClick = state.getOption.getOrElse(Long.MinValue)
            var lastSeen = Long.MinValue
            val out = scala.collection.mutable.ArrayBuffer.empty[Enriched]
            for (e <- sorted) {
              val ms = e.ts.getTime
              lastSeen = math.max(lastSeen, ms)
              if (e.event_type == "click") lastClick = math.max(lastClick, ms)
              else out += Enriched(uid, e.event_id, ms,
                if (lastClick == Long.MinValue) None else Some(lastClick))
            }
            if (lastClick != Long.MinValue) {
              state.update(lastClick)
              // Timeout at last activity + horizon, strictly above the
              // watermark (st10's rule). Batch execution has no
              // watermark — getCurrentWatermarkMs throws, floor to 0
              // (moot there: per-group state dies with the single call).
              val wm = try state.getCurrentWatermarkMs()
                catch { case _: UnsupportedOperationException => 0L }
              state.setTimeoutTimestamp(math.max(lastSeen + retentionMs, wm + 1L))
            }
            out.iterator
          }
        })
  }

  // -------------------------------------------------------------------
  // st1: tumbling 5-min windows — batch twin uses pure integer bucket
  // math (epoch-aligned, identical to window()'s default alignment).
  def st1(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("window_start_ms", expr("(unix_millis(ts) div 300000) * 300000"))
      .groupBy(col("window_start_ms"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumd(col("value")).as("v"))
      .orderBy(col("window_start_ms"), col("event_type"))
  }

  val st1Sql: String =
    """SELECT (epoch_ms(ts) // 300000) * 300000 AS window_start_ms, event_type,
      |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_ms, event_type""".stripMargin

  // -------------------------------------------------------------------
  // st2: sliding windows (10-min window, 5-min slide) — each event
  // fans out to exactly its two covering windows via explode; the
  // shuffle then groups (window, type). Same expansion Structured
  // Streaming plans for window(ts, '10 minutes', '5 minutes').
  def st2(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("b", expr("(unix_millis(ts) div 300000) * 300000"))
      .withColumn("window_start_ms", explode(array(col("b"), col("b") - 300000L)))
      .groupBy(col("window_start_ms"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("window_start_ms"), col("event_type"))
  }

  val st2Sql: String =
    """SELECT w AS window_start_ms, event_type, count(*) AS n
      |FROM events, LATERAL (SELECT unnest([
      |  (epoch_ms(ts) // 300000) * 300000,
      |  (epoch_ms(ts) // 300000) * 300000 - 300000]) AS w)
      |GROUP BY 1, 2
      |ORDER BY window_start_ms, event_type""".stripMargin

  // -------------------------------------------------------------------
  // st3: dedup — batch twin of streamingDedup (distinct key pairs).
  def st3(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .orderBy(col("user_id"), col("event_type"))
  }

  val st3Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  // -------------------------------------------------------------------
  // st4: sessionization through the TYPED API — groupByKey +
  // flatMapGroups walking each user's timeline (the batch execution of
  // the flatMapGroupsWithState pattern). Produces byte-identical
  // results to the window-function formulation (q11) — the oracle is
  // the same SQL — which cross-checks two independent implementations.
  // Per-group memory is one user's events; value sums use BigDecimal
  // so they equal the oracle's exact decimal sums.
  def st4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
      .as[Event]
    ev.groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        val sorted = it.toArray.sortBy(e => (e.ms, e.event_id))
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
        var sid = 0L; var n = 0L; var start = 0L; var prev = 0L
        var acc = java.math.BigDecimal.ZERO
        def emit(): Unit = if (n > 0)
          out += SessionOut(uid, sid, n, start, prev, acc.doubleValue)
        for (e <- sorted) {
          if (n == 0L || e.ms - prev > 1800000L) {
            emit(); sid += 1; n = 0L; start = e.ms; acc = java.math.BigDecimal.ZERO
          }
          n += 1; prev = e.ms
          acc = acc.add(new java.math.BigDecimal(e.value).setScale(2, java.math.RoundingMode.HALF_UP))
        }
        emit()
        out
      }
      .toDF("user_id", "session_id", "n_events", "start_ms", "end_ms", "session_value")
      .orderBy(col("user_id"), col("session_id"))
  }

  val st4Sql: String = graft.operators.Relational.q11Sql

  // -------------------------------------------------------------------
  // st5: Spark's NATIVE session_window (30-min gap) — the third
  // independent sessionization implementation (vs q11's window
  // functions and st4's typed flatMapGroups), checked against the same
  // gaps-and-islands oracle. session_window is the one to use in
  // streaming jobs: state merges in-place with the watermark.
  def st5(s: SparkSession, dir: String): DataFrame = {
    // ts truncated to millis so the gap comparison happens at the same
    // granularity as the oracle's epoch_ms; session_window's gap
    // boundary is EXCLUSIVE (an event exactly `gap` after the previous
    // one opens a new session) → oracle uses >=.
    Tables.events(s, dir)
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("end_ms"),
        sumd(col("value")).as("session_value"))
      .select(col("user_id"), col("n_events"), col("start_ms"), col("end_ms"), col("session_value"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  // Same gaps-and-islands computation, keyed by session start instead
  // of session index (session_window carries no ordinal).
  val st5Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000 THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |), sessions AS (
      |  SELECT user_id, ms, value,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, count(*) AS n_events, min(ms) AS start_ms, max(ms) AS end_ms,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, start_ms""".stripMargin

  /** Stream-stream interval join: each purchase inner-joins the clicks
    * of the same user within the 30 minutes before it (click
    * attribution). Watermarks bound BOTH state stores: clicks must be
    * retained for the interval + the purchase watermark, so the click
    * side carries the wider watermark. Inputs: purchases(user_id,
    * event_id, ts), clicks(c_user, c_ts). */
  def streamingIntervalJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    purchases.withWatermark("ts", "10 minutes")
      .join(clicks.withWatermark("c_ts", "40 minutes"),
        expr("user_id = c_user AND " +
          "c_ts <= ts AND c_ts > ts - INTERVAL 30 MINUTES"))
  }

  /** Stream-stream LEFT OUTER interval join: like
    * [[streamingIntervalJoin]], but purchases with NO click in the
    * window are kept (click columns null). Structured Streaming
    * supports this natively: matched rows emit immediately; an
    * unmatched purchase emits with nulls once the watermark proves no
    * admissible click can still arrive — which is why BOTH watermarks
    * are mandatory for outer joins (the inner form only needs them to
    * bound state). */
  def streamingIntervalJoinOuter(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    purchases.withWatermark("ts", "10 minutes")
      .join(clicks.withWatermark("c_ts", "40 minutes"),
        expr("user_id = c_user AND " +
          "c_ts <= ts AND c_ts > ts - INTERVAL 30 MINUTES"),
        "leftOuter")
  }

  /** Library API: skew-safe batch interval join — inner-join each left
    * row with the right rows of the same key whose time lies in
    * `(leftTime - intervalMs, leftTime]`.
    *
    * Scale shape: a plain equi-join on the key with the range as a
    * post-join filter evaluates |L_key|×|R_key| pairs per key — a hot
    * key (one bot user with 10M clicks) makes ONE task quadratic in
    * its history. Here time is bucketed to `intervalMs` grains and the
    * join key is `(key, bucket)`: a right row in bucket b can only
    * match left rows in buckets {b, b+1}, so the LEFT side explodes to
    * its two covering buckets (fan-out exactly 2, no dedup needed —
    * each right row carries ONE bucket) and the join shuffles on the
    * composite key. Per-task pair count is bounded by the key's
    * activity inside adjacent grains, not its total history; the exact
    * range predicate then filters within the bucket-local pairs.
    * Same result as the naive join, bounded compute on skewed keys.
    *
    * Column-name contract: the key and time column names must DIFFER
    * between the two sides (rename one side before calling, as st6
    * does) — with equal names the post-join output would be ambiguous
    * on every reference. Enforced with a loud require. The internal
    * bucket column is picked to not collide with any caller column. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTimeMs: String, rightTimeMs: String,
      intervalMs: Long): DataFrame = {
    require(intervalMs > 0, s"intervalMs must be positive, got $intervalMs")
    require(leftKey != rightKey && leftTimeMs != rightTimeMs,
      s"intervalJoin needs distinct column names per side (got key " +
        s"'$leftKey'/'$rightKey', time '$leftTimeMs'/'$rightTimeMs'); " +
        "rename one side before joining")
    // internal bucket column: never silently overwrite a caller column
    val taken = (left.columns ++ right.columns).toSet
    val bcol = Iterator.from(0).map(i => s"__graft_bucket$i")
      .find(!taken.contains(_)).get
    // pure-integer floor division ((t - pmod) is an exact multiple, so
    // `div`'s truncation IS the floor) — `floor(t / interval)` goes
    // through a double and can mis-bucket once |quotient| outgrows the
    // 53-bit mantissa; epoch millis are safe but the API shouldn't
    // depend on the caller's time unit
    def bucket(t: String) =
      expr(s"(`$t` - pmod(`$t`, ${intervalMs}L)) div ${intervalMs}L")
    val b = bucket(leftTimeMs)
    val l = left.withColumn(bcol, explode(array(b, b - 1L)))
    val r = right.withColumn(bcol, bucket(rightTimeMs))
    l.join(r,
        l(leftKey) === r(rightKey) && l(bcol) === r(bcol) &&
          r(rightTimeMs) <= l(leftTimeMs) &&
          r(rightTimeMs) > l(leftTimeMs) - intervalMs)
      .drop(bcol)
  }

  // -------------------------------------------------------------------
  // st6: interval-join attribution — batch twin of
  // streamingIntervalJoin, aggregated per purchase: how many clicks in
  // the 30 minutes before, and the latest one. Uses the skew-safe
  // bucketed intervalJoin: equi-join on (user_id, 30-min grain) with
  // left fan-out {b, b-1}, exact range filter after — a hot user's
  // task cost is bounded by activity per grain, not total history.
  def st6(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("purchase_ms"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_millis(col("ts")).as("click_ms"))
    intervalJoin(p, c, "user_id", "c_user", "purchase_ms", "click_ms", 1800000L)
      .groupBy(col("user_id"), col("event_id"), col("purchase_ms"))
      .agg(count(lit(1)).as("n_clicks_30m"), max(col("click_ms")).as("last_click_ms"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val st6Sql: String =
    """SELECT p.user_id AS user_id, p.event_id AS event_id,
      |  epoch_ms(p.ts) AS purchase_ms,
      |  count(*) AS n_clicks_30m,
      |  max(epoch_ms(c.ts)) AS last_click_ms
      |FROM (SELECT * FROM events WHERE event_type='purchase') p
      |JOIN (SELECT * FROM events WHERE event_type='click') c
      |  ON p.user_id = c.user_id
      | AND epoch_ms(c.ts) <= epoch_ms(p.ts)
      | AND epoch_ms(c.ts) > epoch_ms(p.ts) - 1800000
      |GROUP BY p.user_id, p.event_id, epoch_ms(p.ts)
      |ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------------------------
  // st11: LEFT OUTER attribution — st6 with the zero-click purchases
  // kept (n_clicks_30m = 0, last_click_ms null). The conversion-rate
  // question st6 can't answer is "how many purchases had NO preceding
  // click" — exactly the rows an inner join drops. Batch twin: the
  // skew-safe bucketed INNER intervalJoin aggregated per purchase,
  // then one left join back onto the purchase set (the outer-ness is
  // re-introduced AFTER the bucketed join, because a left-exploded
  // outer join would emit an unmatched purchase once per covering
  // bucket). Streaming form: [[streamingIntervalJoinOuter]], the
  // native watermarked outer join (spec-driven through MemoryStreams,
  // including the watermark-gated null emission).
  def st11(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("purchase_ms"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_millis(col("ts")).as("click_ms"))
    val matched = intervalJoin(p, c, "user_id", "c_user", "purchase_ms", "click_ms", 1800000L)
      .groupBy(col("user_id"), col("event_id"), col("purchase_ms"))
      .agg(count(lit(1)).as("__n"), max(col("click_ms")).as("last_click_ms"))
    p.join(matched, Seq("user_id", "event_id", "purchase_ms"), "left")
      .select(col("user_id"), col("event_id"), col("purchase_ms"),
        coalesce(col("__n"), lit(0L)).as("n_clicks_30m"), col("last_click_ms"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val st11Sql: String =
    """SELECT p.user_id AS user_id, p.event_id AS event_id,
      |  epoch_ms(p.ts) AS purchase_ms,
      |  count(c.user_id) AS n_clicks_30m,
      |  max(epoch_ms(c.ts)) AS last_click_ms
      |FROM (SELECT * FROM events WHERE event_type='purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type='click') c
      |  ON p.user_id = c.user_id
      | AND epoch_ms(c.ts) <= epoch_ms(p.ts)
      | AND epoch_ms(c.ts) > epoch_ms(p.ts) - 1800000
      |GROUP BY p.user_id, p.event_id, epoch_ms(p.ts)
      |ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------------------------
  // st7: the stateful as-of enrichment run in BATCH mode — the THIRD
  // independent as-of implementation (q14 union+window, q16 custom
  // Catalyst merge, st7 flatMapGroupsWithState), all hash-equal to
  // DuckDB's native ASOF LEFT JOIN. flatMapGroupsWithState executes on
  // a batch Dataset with empty initial state (the analyzer strips the
  // watermark node), so the exact production streaming logic — one
  // long of state per user — is oracle-checked, not just spec'd.
  // Safe at ms granularity: every event in the dataset is distinct at
  // the millisecond, so ms/micro/nano comparisons order identically.
  def st7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[TypedEvent]
    streamingAsOfEnrich(ev).toDF()
      .orderBy(col("user_id"), col("event_id"))
  }

  val st7Sql: String = graft.operators.Relational.q14Sql

  // -------------------------------------------------------------------
  // st8: per-window top-k — the streaming leaderboard (top event types
  // per 5-minute window). Structured Streaming cannot rank INSIDE an
  // incremental aggregation (window functions over a streaming agg are
  // unsupported by design — ranks are not incrementally maintainable),
  // so the production shape is: watermarked windowed counts (st1's
  // streaming form, incremental state) → foreachBatch applies
  // [[topKPerWindow]] to each emitted batch of CLOSED windows. The
  // batch query below is that same composition on the full table —
  // which is exactly the streaming contract's reference semantics.
  //
  // Scale shape: the counts agg carries ≤ |windows×types| rows out of
  // the scan (map-side combine); the rank's window partition is one
  // time-window's type set (≤ |types| rows), so no task ever sees more
  // than a bounded group. Ties break lexicographically on event_type.
  def topKPerWindow(counts: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("window_start_ms"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  def st8(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .withColumn("window_start_ms", expr("(unix_millis(ts) div 300000) * 300000"))
      .groupBy(col("window_start_ms"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    topKPerWindow(counts, 3)
      .select(col("window_start_ms"), col("rk"), col("event_type"), col("n"))
      .orderBy(col("window_start_ms"), col("rk"))
  }

  val st8Sql: String =
    """WITH counts AS (
      |  SELECT (epoch_ms(ts) // 300000) * 300000 AS window_start_ms,
      |    event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT window_start_ms, event_type, n,
      |    row_number() OVER (PARTITION BY window_start_ms ORDER BY n DESC, event_type) AS rk
      |  FROM counts)
      |SELECT window_start_ms, CAST(rk AS BIGINT) AS rk, event_type, n
      |FROM ranked WHERE rk <= 3
      |ORDER BY window_start_ms, rk""".stripMargin

  // -------------------------------------------------------------------
  // st10: stateful rate-limit / burst detection — flag events whose
  // trailing-hour same-user event count crosses a threshold (the
  // abuse/quota guardrail in front of every event API). The streaming
  // form keeps ONE pruned timestamp buffer per user; the batch
  // execution of the SAME flatMapGroupsWithState function is
  // oracle-checked against the closed-form RANGE-window SQL, st7's
  // pattern. Late events (within the 10-min watermark) are handled
  // exactly: the EMITTED count only considers peers in
  // [ms − windowMs, ms] — a late event never counts future-timestamped
  // buffer entries, matching RANGE ... PRECEDING AND CURRENT ROW.
  // State is genuinely watermark-bounded on both axes: buffer entries
  // are pruned once no admissible (≥ watermark) event can reach them,
  // and idle keys are EVICTED via EventTimeTimeout once the watermark
  // passes their last event + windowMs. Safe at ms granularity (no
  // same-user ms collisions in the dataset — RANGE frames count
  // ms-peers bidirectionally, arrival order doesn't).
  case class RateFlag(user_id: Long, event_id: Long, ms: Long, n_trailing_1h: Long)

  /** Streaming rate flag: each event with its trailing-window count.
    * State per user = the timestamp buffer, watermark-pruned; keys
    * evicted on event-time timeout. */
  def streamingRateFlag(events: Dataset[TypedEvent], windowMs: Long): Dataset[RateFlag] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, it: Iterator[TypedEvent], state: GroupState[Array[Long]]) => {
          if (state.hasTimedOut) { // idle past watermark: evict the key
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            var buf = state.getOption.getOrElse(Array.empty[Long])
            val out = scala.collection.mutable.ArrayBuffer.empty[RateFlag]
            for (e <- sorted) {
              val ms = e.ts.getTime
              buf = buf :+ ms
              // Count ONLY peers at-or-before this event inside its own
              // trailing window — a late event must not see buffer entries
              // from events that are in its future (the RANGE frame's
              // upper bound is CURRENT ROW).
              out += RateFlag(uid, e.event_id, ms,
                buf.count(t => t >= ms - windowMs && t <= ms).toLong)
            }
            // Prune vs the WATERMARK, not the current event: an entry can
            // still serve a future event only while ≥ wm − windowMs (every
            // admissible event has ts ≥ wm). In batch execution there is
            // no watermark (getCurrentWatermarkMs throws) — floor 0 keeps
            // the whole buffer, which is moot there: the single per-group
            // call discards state when it returns.
            val wm = try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => 0L }
            buf = buf.filter(_ >= wm - windowMs)
            if (buf.nonEmpty) {
              state.update(buf)
              // Timeout must sit strictly above the current watermark.
              state.setTimeoutTimestamp(math.max(buf.max + windowMs, wm + 1L))
            } else state.remove()
            out.iterator
          }
        })
  }

  def st10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .as[TypedEvent]
    streamingRateFlag(ev, 3600000L).toDF()
      .filter(col("n_trailing_1h") >= 2)
      .orderBy(col("user_id"), col("event_id"))
  }

  val st10Sql: String =
    """WITH w AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS n_trailing_1h
      |  FROM events)
      |SELECT user_id, event_id, ms, n_trailing_1h
      |FROM w WHERE n_trailing_1h >= 2
      |ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------------------------
  // st9: stream-static enrichment — the stateless join every event
  // pipeline runs first: attach dimension attributes (here customer
  // segment) to a stream. In Structured Streaming a stream⋈static join
  // is stateless (no watermark, no state store): each micro-batch
  // broadcast-hash-joins against the static side, which is re-resolved
  // per batch (so dim updates are picked up). The batch query below is
  // the same composition on the full table — the streaming contract's
  // reference semantics; StreamingSpec drives the identical transform
  // through a MemoryStream.
  //
  // Scale shape: the dim join is UNHINTED — Spark broadcasts it from
  // the static size estimate when it fits (it does at every test SF,
  // giving the map-side join with zero shuffle on the unbounded side)
  // and falls back to shuffling each micro-batch against a
  // co-partitioned dim when a forced broadcast would OOM (customer
  // scales with SF; streaming can't use AQE, so the hint would have
  // no runtime demotion to save it). Unmatched events keep flowing
  // with an '(unknown)' segment (left join — an enrichment must never
  // drop facts); the report agg carries ≤ |segments×types| rows out
  // of the scan.
  def enrichWithDim(stream: DataFrame, dim: DataFrame, streamKey: String, dimKey: String): DataFrame =
    stream.join(dim, stream(streamKey) === dim(dimKey), "left")

  def st9(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    enrichWithDim(Tables.events(s, dir), dim, "user_id", "c_custkey")
      .groupBy(coalesce(col("c_mktsegment"), lit("(unknown)")).as("segment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sumd(col("value")).as("total_value"))
      .orderBy(col("segment"), col("event_type"))
  }

  val st9Sql: String =
    """SELECT coalesce(c_mktsegment, '(unknown)') AS segment, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events LEFT JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2
      |ORDER BY segment, event_type""".stripMargin

  // -------------------------------------------------------------------
  // st12: streaming MERGE upsert — THE lakehouse streaming-sink
  // pattern: a change stream folded into a latest-row snapshot, one
  // micro-batch at a time. The streaming form is [[UpsertSink]]
  // (StreamingSpec drives it through a MemoryStream and asserts the
  // final snapshot equals the batch oracle). The batch twin below is
  // the same sink's step replayed over THREE time-sliced batches —
  // st12's gate therefore proves the fold is composition-stable: the
  // latest rows of the three batches' latest rows equal the one-shot
  // latest-row window over the whole log (i3's oracle shape). Each
  // step is one user-keyed window over its batch; a production
  // deployment runs exactly one per micro-batch against a
  // MERGE-capable table.
  def st12(s: SparkSession, dir: String): DataFrame =
    Sinks.replay(new UpsertSink(_, UpsertKeys, upsertOrd), Sinks.timeSlices(upsertLog(s, dir)))
      .snapshot.get.orderBy(col("user_id"))

  /** The change log st12, st22 and st24 fold: newest (ms, event_id)
    * per user wins. */
  private def upsertLog(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("user_id"), col("event_id"),
      col("event_type"), col("value"), unix_millis(col("ts")).as("ms"))
  private val UpsertKeys = Seq("user_id")
  private def upsertOrd = Seq(col("ms"), col("event_id"))

  val st12Sql: String =
    """SELECT user_id, event_id, event_type, value, ms FROM (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // st22: TIME TRAVEL over the durable upsert store — the snapshot-
  // isolation read every reproducible-training pipeline needs ("train
  // on the corpus exactly as it stood at batch B", Delta/Iceberg
  // VERSION AS OF re-expressed over DurableState's versioned
  // manifests). st12's three time-sliced batches fold into a
  // DurableUpsertSink built with retainVersions = 3, then the
  // registered read is `snapshotAsOf(1)` — the per-user latest row as
  // of the SECOND commit, read back AFTER the third has committed and
  // GC has run. The gate therefore proves three things at once: the
  // retention GC keeps version-1's segments live while newer commits
  // land, the as-of resolve picks the right manifest (max version ≤
  // asked-for), and the merge-on-read latest-per-key over a RETAINED
  // segment LIST equals the plain one-shot window over the log prefix
  // (the DuckDB oracle: st12's query restricted to ms < t2). Scale
  // shape: the sink commits per-batch deltas, so retention holds only
  // O(batch) extra bytes per retained version (whole-frame sinks
  // would hold a full copy each — documented in DurableState.asOf);
  // the as-of read is segment-list-bounded parquet scans + one keyed
  // window, identical cost class to the live snapshot read. The store
  // builds ONCE per dataset (Artifacts.cachedTempDir, q19's artifact
  // lifecycle); reruns pay only the as-of read — the recurring
  // production path.
  /** The retain-3 upsert store st22/st23 read: st12's three
    * time-sliced batches folded once per dataset (q19's cachedTempDir
    * lifecycle — reruns pay only the as-of read). */
  private def st22Sink(s: SparkSession, dir: String): DurableSinks.DurableUpsertSink = {
    val storeDir = graft.Artifacts.cachedTempDir(s"st22:$dir") { d =>
      val sink = new DurableSinks.DurableUpsertSink(s, d, UpsertKeys, upsertOrd,
        retainVersions = 3)
      Sinks.timeSlices(upsertLog(s, dir))
        .zipWithIndex.foreach { case (b, i) => sink.apply(b, i.toLong) }
    }
    new DurableSinks.DurableUpsertSink(s, storeDir, UpsertKeys, upsertOrd,
      retainVersions = 3)
  }

  private def st22SnapAsOf(s: SparkSession, dir: String, batchId: Long): DataFrame =
    st22Sink(s, dir).snapshotAsOf(batchId).getOrElse(throw new IllegalStateException(
      s"st22: version $batchId not retained for $dir"))

  def st22(s: SparkSession, dir: String): DataFrame =
    st22SnapAsOf(s, dir, 1L)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ms"))
      .orderBy(col("user_id"))

  val st22Sql: String =
    """SELECT user_id, event_id, event_type, value, ms FROM (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |  FROM events WHERE epoch_ms(ts) < 1705795200000)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // st23: VERSION DIFF — "what changed in the corpus between snapshot
  // A and snapshot B", the audit question time travel exists to
  // answer (a training-data build that pins version B wants the CDC
  // delta vs the version A it trained on last week). Composes st22's
  // as-of reads with i4's cdcDiff: two retained versions of the same
  // durable upsert store (version 0 = the first slice's state, the
  // head = the full log's) full-outer-joined on the key with null-safe
  // compare — INSERT for keys new in B, UPDATE where (value, ms)
  // moved; DELETE can't occur for an append-only upsert log and the
  // explicit-frame DELETE path stays covered by UpsertSpec. Scale
  // shape: ONE co-partitioned full-outer join of two key-grain
  // snapshots (cdcDiff's floor) — the store build amortizes across
  // st22/st23 via the shared cachedTempDir artifact, and the as-of
  // reads are segment-list-bounded. Oracle: the same diff in SQL over
  // the two window-prefix snapshots.
  def st23(s: SparkSession, dir: String): DataFrame =
    graft.operators.Upsert.cdcDiff(
        st22SnapAsOf(s, dir, 0L), st22SnapAsOf(s, dir, 2L),
        UpsertKeys, Seq("value", "ms"))
      .orderBy(col("user_id"))

  val st23Sql: String =
    """WITH snap_a AS (
      |  SELECT user_id, value, ms FROM (
      |    SELECT user_id, value, epoch_ms(ts) AS ms,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |    FROM events WHERE epoch_ms(ts) < 1704931200000)
      |  WHERE rn = 1),
      |snap_b AS (
      |  SELECT user_id, value, ms FROM (
      |    SELECT user_id, value, epoch_ms(ts) AS ms,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |    FROM events)
      |  WHERE rn = 1)
      |SELECT user_id, op, old_value, new_value, old_ms, new_ms FROM (
      |  SELECT coalesce(a.user_id, b.user_id) AS user_id,
      |    CASE WHEN a.user_id IS NULL THEN 'INSERT'
      |         WHEN b.user_id IS NULL THEN 'DELETE'
      |         WHEN a.value IS DISTINCT FROM b.value
      |           OR a.ms IS DISTINCT FROM b.ms THEN 'UPDATE' END AS op,
      |    a.value AS old_value, b.value AS new_value,
      |    a.ms AS old_ms, b.ms AS new_ms
      |  FROM snap_a a FULL OUTER JOIN snap_b b ON a.user_id = b.user_id)
      |WHERE op IS NOT NULL
      |ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // st13: streaming drift monitor — per-window PSI of a value stream
  // against a FROZEN baseline distribution (m20's PSI, taken from a
  // batch audit to a production stream monitor: "did today's data
  // stop looking like the data the model was trained on?"). Scale
  // shape: the baseline is ONE row (bounds + B clamped bin fractions)
  // broadcast into the stream; each event maps to a bin map-side; the
  // only stateful op is a single windowed aggregate whose per-window
  // state is B+1 longs — no sort, no distinct, no per-key state
  // growth, so a 100 TB/day stream costs O(windows × B) memory.
  // Determinism: the per-window PSI is a FIXED left-associated sum of
  // B expression terms (identical tree in both engines — no
  // order-dependent FP), counts are exact longs, and the 1e-6 clamp
  // (m20's convention) keeps ln finite on empty bins. Values outside
  // the baseline range clamp into the edge bins — exactly where
  // drifted mass should land.

  val DriftBins = 20

  /** Bin `v` against the broadcast baseline bounds (`mn`/`mx` columns
    * in scope); out-of-range values clamp to the edge bins. */
  private def driftBucket(v: Column): Column =
    greatest(least(floor((v - col("mn")) / ((col("mx") - col("mn")) / DriftBins)),
      lit(DriftBins - 1L)), lit(0L))

  /** 1-row frozen baseline: value bounds + clamped per-bin fractions.
    * Compute once over the reference period (training data), persist,
    * broadcast into every later monitoring run. Null values are
    * excluded BEFORE counting — [[windowedPsi]] (and the st13 oracle)
    * bin only non-null values, so a null-bearing reference period
    * must not deflate the baseline fractions q_i. */
  def driftBaseline(df: DataFrame, v: Column): DataFrame = {
    val clean = df.filter(v.isNotNull)
    val mm = clean.agg(min(v).as("mn"), max(v).as("mx"))
    val counts = (0 until DriftBins).map(i =>
      sum(when(col("__bucket") === i, 1L).otherwise(0L)).as(s"b$i"))
    clean.join(broadcast(mm)).withColumn("__bucket", driftBucket(v))
      .groupBy(col("mn"), col("mx")) // constants from the 1-row join: 1 group
      .agg(count(lit(1)).as("n"), counts: _*)
      .select(col("mn") +: col("mx") +: (0 until DriftBins).map(i =>
        greatest(col(s"b$i").cast("double") / col("n"), lit(0.000001)).as(s"q$i")): _*)
  }

  /** Per-window PSI of `events.value` against the 1-row `baseline`.
    * Works UNCHANGED on a batch frame or a watermarked stream — the
    * stream-static broadcast join and the windowed aggregate are the
    * same plan shapes; only the sink differs. */
  def windowedPsi(events: DataFrame, baseline: DataFrame,
                  windowDuration: String = "1 day"): DataFrame = {
    val qCols = (0 until DriftBins).map(i => col(s"q$i"))
    val counts = (0 until DriftBins).map(i =>
      sum(when(col("__bucket") === i, 1L).otherwise(0L)).as(s"c$i"))
    val grouped = events.filter(col("value").isNotNull)
      .join(broadcast(baseline))
      .withColumn("__bucket", driftBucket(col("value")))
      .groupBy(window(col("ts"), windowDuration) +: qCols: _*)
      .agg(count(lit(1)).as("n"), counts: _*)
    val terms = (0 until DriftBins).map { i =>
      val p = greatest(col(s"c$i").cast("double") / col("n"), lit(0.000001))
      (p - col(s"q$i")) * log(p / col(s"q$i"))
    }.reduce(_ + _)
    grouped.select(unix_millis(col("window.start")).as("window_start_ms"),
      col("n"), round(terms, 6).as("psi"))
  }

  /** Streaming form: watermarked 1-day windows; emits each day's PSI
    * when the watermark closes the window (append) or continuously
    * (update/complete). */
  def streamingDriftMonitor(stream: DataFrame, baseline: DataFrame): DataFrame =
    windowedPsi(stream.withWatermark("ts", "1 hour"), baseline)

  /** st13 batch twin: baseline = the pre-2024-01-11 reference period
    * (st12's first time slice), monitored over the whole log. */
  def st13(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val baseline = driftBaseline(
      ev.filter(unix_millis(col("ts")) < 1704931200000L), col("value"))
    windowedPsi(ev, baseline).orderBy(col("window_start_ms"))
  }

  val st13Sql: String = {
    val cut = 1704931200000L
    val bucket = s"greatest(least(floor((value - mn) / ((mx - mn) / $DriftBins)), ${DriftBins - 1}), 0)"
    val qis = (0 until DriftBins).map(i =>
      s"greatest(CAST(sum(CASE WHEN b = $i THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 0.000001) AS q$i")
      .mkString(",\n    ")
    val cis = (0 until DriftBins).map(i =>
      s"CAST(sum(CASE WHEN b = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i")
      .mkString(", ")
    val terms = (0 until DriftBins).map { i =>
      val p = s"greatest(CAST(c$i AS DOUBLE) / n, 0.000001)"
      s"($p - q$i) * ln($p / q$i)"
    }.mkString(" + ")
    s"""WITH ev AS (
       |  SELECT epoch_ms(ts) AS ms, value FROM events WHERE value IS NOT NULL),
       |mm AS (SELECT min(value) AS mn, max(value) AS mx FROM ev WHERE ms < $cut),
       |bb AS (SELECT $bucket AS b FROM ev, mm WHERE ms < $cut),
       |q AS (SELECT $qis FROM bb),
       |cur AS (
       |  SELECT (ms // 86400000) * 86400000 AS window_start_ms, $bucket AS b
       |  FROM ev, mm),
       |c AS (SELECT window_start_ms, count(*) AS n, $cis FROM cur GROUP BY 1)
       |SELECT window_start_ms, n, round($terms, 6) AS psi
       |FROM c, q
       |ORDER BY window_start_ms""".stripMargin
  }

  // -------------------------------------------------------------------
  // st14: streaming rollup maintenance — i5's mergeable summary state
  // driven one micro-batch at a time (st12's sink pattern applied to
  // AGGREGATION instead of latest-row MERGE). Because the state is
  // associative+commutative (exact-decimal sums, counts, min/max),
  // ANY micro-batch slicing folds to the same table — so the batch
  // twin replays the log as three time-sliced batches and the gate
  // proves the fold equals the one-shot full-rebuild GROUP BY (i5's
  // oracle). Each fold step merges two |keys|-grain tables: the
  // history is scanned once (first slice), every later step costs
  // O(batch + |keys|) — a continuously-fresh 100 TB rollup.

  /** st14 batch twin: three folded time-slices (st12's cuts), each
    * reduced to partial-agg grain BEFORE the fold — the stream never
    * re-aggregates history. */
  def st14(s: SparkSession, dir: String): DataFrame = {
    val log = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      col("value"), unix_millis(col("ts")).as("ms"))
    Sinks.replay(new RollupSink(_, Seq("user_id", "event_type"), "value", "ms"),
        Sinks.timeSlices(log)).snapshot.get
      .select(col("user_id"), col("event_type"), col("n"), col("n_v"),
        col("sum_v"), col("avg_v"), col("first_ms"), col("last_ms"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val st14Sql: String =
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

  // -------------------------------------------------------------------
  // st15: streaming corpus admission — per-source token-quota
  // enforcement at ingest time (t13's budget rule, but in ARRIVAL
  // order: a stream cannot sort by a quality it hasn't seen yet).
  // A document is admitted iff the tokens taken from its source BEFORE
  // it are still under budget; once the boundary doc overshoots, the
  // source is closed forever — so the admitted set is exactly the
  // arrival-order prefix, and the batch twin is a prefix-sum window
  // (one shuffle by source, same shape as t12/t13).
  //
  // State per source is ONE long (tokens taken): the smallest state
  // any stateful operator here carries — quota enforcement at 100 TB
  // is a |sources|-row state table, not a document history. Arrival
  // order must be monotone per source across batches (a time-ordered
  // stream; replay slices in the spec preserve doc_id order), and
  // within a micro-batch the group iterator is sorted by doc_id
  // before the walk so batch slicing cannot reorder admissions.
  val admissionBudget = 800L

  case class DocRec(doc_id: Long, source: String, n_tok: Long)
  case class Admitted(doc_id: Long, source: String, n_tok: Long, cum_before: Long)

  /** Streaming admission: flatMapGroupsWithState keyed by source. */
  def streamingAdmission(docs: org.apache.spark.sql.Dataset[DocRec],
      budget: Long = admissionBudget): org.apache.spark.sql.Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (src: String, it: Iterator[DocRec], state: GroupState[Long]) => {
          var taken = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[Admitted]
          for (d <- it.toArray.sortBy(_.doc_id)) {
            if (taken < budget) { out += Admitted(d.doc_id, src, d.n_tok, taken); taken += d.n_tok }
          }
          state.update(taken)
          out.iterator
        })
  }

  /** st15 batch twin: the admitted arrival-order prefix per source. */
  def st15(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .filter(col("cum_before") < admissionBudget)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_before"))
      .orderBy(col("doc_id"))
  }

  // composes tokensSql (the t12Sql/t13Sql pattern) — a future change
  // to tokens()/tokensSql can't silently diverge this oracle from the
  // Spark batch twin's tokenizer
  val st15Sql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(${graft.functions.TextFunctions.tokensSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM t)
       |SELECT doc_id, source, n_tok, cum_before
       |FROM c WHERE cum_before < $admissionBudget
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // st16: streaming incremental-dedup admission — d13's probe-the-
  // persisted-index operation run as a STREAM: documents arrive in
  // doc_id order (st15's documented arrival contract), each
  // micro-batch probes the accumulated LSH band-key index (old docs
  // never re-banded), exact shingle-Jaccard verifies the collisions,
  // and a doc is ADMITTED iff no earlier-id doc anywhere in the
  // stream so far is a verified near-dup. State folds forward like
  // st12's MERGE sink: index ∪= batch keys, shingle store ∪= batch
  // shingles — the production swap-in is a Delta/Iceberg index table.
  // The admitted set is invariant to micro-batch slicing (decisions
  // depend only on the global id order, and the index always holds
  // exactly the smaller-id docs — StreamingSpec proves two different
  // slicings equal the one-shot batch twin). Batch twin = d13's
  // banding with subject ALL docs and partners restricted to earlier
  // ids; the DuckDB oracle is that full computation — streamed fold
  // == rebuild, st14's gate applied to dedup.
  //
  // CANDIDATE RULE (round 15 — the round-14 scale catch, closed): a
  // doc's candidate partner per bucket is the bucket's HEAD (smallest
  // id), with the bucket minima aggregated BEFORE the probe join —
  // candidate volume is O(N·bands), never all-pairs. The ANY-earlier-
  // member rule this replaces is quadratic inside near-dup families
  // (the ×100 rehearsal corpus's 100-doc one-token-perturbed families
  // yield 214M candidate pairs; MaxBucket can't help — family buckets
  // sit under the cap), and count()-elision had hidden that cost until
  // round 14's toRdd re-measurement. Because arrivals are id-ordered
  // (st15's contract) a bucket's head NEVER changes once created, so
  // the head rule is a pure function of the global id order — the
  // fold == rebuild oracle and the slicing-invariance property both
  // survive intact. Trade (st21's documented one): conservative-KEEP —
  // a doc whose bucket head fails Jaccard verification is admitted
  // even if some other earlier member would have verified; on the
  // testdata head == any-member exactly (StreamingSpec proves it
  // against [[st16PairExact]], the spec-only pair-exact reference).
  def st16(s: SparkSession, dir: String): DataFrame =
    Sinks.rebuild(new DedupAdmissionSink(_), graft.Tables.byDoc(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))))
      .orderBy(col("doc_id"))

  /** SPEC-ONLY pair-exact reference (the BpeApply pattern): the
    * any-earlier-member candidate rule st16 used through round 14 —
    * exact "no earlier near-dup anywhere" semantics, quadratic inside
    * near-dup families (see the candidate-rule note above), kept so
    * StreamingSpec can prove head-rule == any-member on the testdata
    * and document the conservative-KEEP divergence boundary. NOT
    * registered; never run at scale. */
  def st16PairExact(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{shingles3, tokens}
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val keys = graft.operators.Dedup.bandKeys(docs, "text", "doc_id")
    val pairs = keys.select(col("band"), col("key"), col("id").as("id_new"))
      .join(keys.select(col("band"), col("key"), col("id").as("id_old")), Seq("band", "key"))
      .filter(col("id_old") < col("id_new"))
      .select(col("id_new"), col("id_old")).distinct()
    val sh = docs.select(col("doc_id"), shingles3(tokens(col("text"))).as("sh"))
    val dup = graft.operators.Dedup.pairJaccard(pairs, sh)
      .filter(col("jac") >= graft.operators.Dedup.IncTau)
      .select(col("id_new").as("doc_id")).distinct()
    docs.select(col("doc_id"))
      .join(dup.withColumn("__d", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("__d").isNull.as("admitted"))
      .orderBy(col("doc_id"))
  }

  val st16Sql: String = {
    import graft.functions.TextFunctions._
    val codes = shingleCodesSql("text")
    val keys = (0 until Bands).map(b => s"${bandKeySql("codes", b)} AS b$b").mkString(", ")
    val kv = (0 until Bands).map(b => s"($b, b$b)").mkString(", ")
    val sh3 = shingles3Sql(tokensSql("text"))
    val inter = "len(list_intersect(n.sh, o.sh))"
    val jac = s"CASE WHEN len(n.sh) + len(o.sh) - $inter <> 0 THEN " +
      s"CAST($inter AS DOUBLE) / (len(n.sh) + len(o.sh) - $inter) END"
    s"""WITH c AS (SELECT doc_id, $codes AS codes FROM documents),
       |k AS (SELECT doc_id, $keys FROM c),
       |bk AS MATERIALIZED (
       |  SELECT doc_id, band, key FROM k,
       |    LATERAL (SELECT * FROM (VALUES $kv) v(band, key))
       |  WHERE key IS NOT NULL),
       |bmin AS MATERIALIZED (
       |  SELECT band, key, min(doc_id) AS m FROM bk GROUP BY 1, 2),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_new, bmin.m AS id_old
       |  FROM bk a JOIN bmin ON a.band = bmin.band AND a.key = bmin.key
       |  WHERE bmin.m < a.doc_id),
       |shs AS (SELECT doc_id, $sh3 AS sh FROM documents),
       |dup AS (
       |  SELECT DISTINCT p.id_new FROM pairs p
       |  JOIN shs n ON n.doc_id = p.id_new
       |  JOIN shs o ON o.doc_id = p.id_old
       |  WHERE $jac >= ${graft.operators.Dedup.IncTau})
       |SELECT d.doc_id, dup.id_new IS NULL AS admitted
       |FROM documents d LEFT JOIN dup ON dup.id_new = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // st17: streaming incremental DISTINCT — i6's non-mergeable
  // aggregate (daily distinct users) maintained as a STREAM: each
  // micro-batch dedups itself to (day, user) grain, ANTI-JOINS the
  // accumulated first-seen key set (only genuinely new keys append),
  // and bumps per-day counters by |new keys| — distinct counts stay
  // exact across an unbounded stream with state = the key set, never
  // a rescan. first_batch records which fold first saw each day (the
  // arrival-bookkeeping a backfill monitor reads). The inventory
  // query is the 3-slice batch replay (st14's time cuts), ORACLED BY
  // THE DIRECT RECOMPUTE (count DISTINCT over the whole log) plus the
  // closed-form slice classification of each day's earliest event —
  // fold == rebuild, i6's gate with arrival metadata on top.
  def st17(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(to_date(col("ts")).as("day"),
      col("user_id"), unix_millis(col("ts")).as("ms"))
    Sinks.replay(new DistinctCountSink(_), Sinks.timeSlices(ev))
      .result.get.orderBy(col("day"))
  }

  val st17Sql: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, user_id, epoch_ms(ts) AS ms FROM events)
      |SELECT day, count(DISTINCT user_id) AS n_users,
      |  CAST(CASE WHEN min(ms) < 1704931200000 THEN 0
      |            WHEN min(ms) < 1705795200000 THEN 1
      |            ELSE 2 END AS BIGINT) AS first_batch
      |FROM d GROUP BY day
      |ORDER BY day""".stripMargin

  // -------------------------------------------------------------------
  // st18: late/dropped-row accounting — the observability side output
  // every watermarked deployment (st3/st6/st11's class) needs in
  // production: when a window's count looks low, WAS data late beyond
  // the watermark, and how much, per window? Structured Streaming
  // counts drops (numRowsDroppedByWatermark) but doesn't say WHERE
  // they landed; this operator rebuilds the accounting at (window)
  // grain from the log.
  //
  // Watermark model (exactly Spark's): events arrive in event_id
  // order (the log's arrival sequence — corr(ts, event_id) ≈ 1 with
  // jitter, a realistic slightly-out-of-order stream) in 3 arrival
  // slices; the watermark entering slice k is max(event time over
  // slices < k) − delay (10 min), monotone by construction; a row is
  // DROPPED iff its event time is AT OR BELOW its slice's entering
  // watermark — `<=`, not `<`: Spark's late-data filter evicts
  // at-the-watermark rows too (the st10 spec's measured boundary,
  // re-confirmed here by the live drop counter). Slice 0 never drops
  // (the initial watermark is 0, below any real event time).
  // StreamingSpec proves the model against Spark's own accounting: a
  // watermarked streaming aggregate driven through the same 3 slices
  // reports numRowsDroppedByWatermark equal to this model's total.
  //
  // Scale shape: slice boundaries come from one max(event_id) scalar
  // (broadcast); per-slice maxima are a 3-row aggregate; the
  // entering-watermark frame is a ≤3×3 self-join (never a window);
  // the drop flag is map-side; ONE shuffle for the (window) rollup.
  val LateDelay = 600000L // 10 min, ms

  def st18(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), unix_millis(col("ts")).as("ms"))
    val n = ev.agg((max(col("event_id")) + 1L).as("__n"))
    val sliced = ev.crossJoin(broadcast(n)) // provably 1 row
      .withColumn("__b", least(expr("(event_id * 3) div __n"), lit(2L)))
    val bm = sliced.groupBy(col("__b")).agg(max(col("ms")).as("__bmax"))
    val wm = bm.select(col("__b"), col("__bmax"))
      .join(bm.select(col("__b").as("__p"), col("__bmax").as("__pmax")),
        col("__p") < col("__b"), "left")
      .groupBy(col("__b")).agg(max(col("__pmax")).as("__prev_max")) // ≤3 rows
    sliced.join(broadcast(wm), Seq("__b"))
      .withColumn("__dropped",
        col("__prev_max").isNotNull && col("ms") <= col("__prev_max") - LateDelay)
      .withColumn("window_start_ms", expr("(ms div 300000) * 300000"))
      .groupBy(col("window_start_ms"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("__dropped"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(!col("__dropped"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("window_start_ms"))
  }

  val st18Sql: String =
    s"""WITH n AS (SELECT max(event_id) + 1 AS n FROM events),
       |e AS (
       |  SELECT event_id, epoch_ms(ts) AS ms,
       |    least((event_id * 3) // n.n, 2) AS b
       |  FROM events, n),
       |bm AS (SELECT b, max(ms) AS bmax FROM e GROUP BY 1),
       |wm AS (
       |  SELECT a.b, max(p.bmax) AS prev_max
       |  FROM bm a LEFT JOIN bm p ON p.b < a.b GROUP BY a.b),
       |f AS (
       |  SELECT e.ms,
       |    CASE WHEN wm.prev_max IS NOT NULL AND e.ms <= wm.prev_max - $LateDelay
       |         THEN 1 ELSE 0 END AS dropped
       |  FROM e JOIN wm ON e.b = wm.b)
       |SELECT (ms // 300000) * 300000 AS window_start_ms,
       |  count(*) AS n_events,
       |  CAST(sum(dropped) AS BIGINT) AS n_dropped,
       |  CAST(count(*) - sum(dropped) AS BIGINT) AS n_kept
       |FROM f GROUP BY 1
       |ORDER BY window_start_ms""".stripMargin

  // -------------------------------------------------------------------
  // st19: streaming quantile maintenance — the MERGEABLE-SKETCH answer
  // to "p99 latency right now" that st14's moment state (sum/count/
  // min/max) cannot give: quantiles are not mergeable exactly, so the
  // streaming form maintains a FIXED-BIN HISTOGRAM (the classic
  // mergeable quantile sketch with deterministic, engine-exact reads —
  // a t-digest answers the same question with data-dependent FP
  // centroids that no SQL twin could replay). State per event_type is
  // B=64 long counters over 8.00-wide value bins (integer-cent
  // binning: bin = clamp(round(value·100) div 800, 0, 63) — §6's
  // integer-arithmetic discipline, so both engines bin identically);
  // batches fold in by counter ADDITION (associative+commutative ⇒
  // any micro-batch slicing folds to the same state — st14's gate).
  // The quantile read is the smallest bin whose cumulative count
  // covers ceil(q·N/100), compared as 100·cum ≥ q·N in integers, and
  // reports that bin's UPPER EDGE in cents: an exact upper bound on
  // the true quantile, off by at most one bin width — the resolution
  // trade a fixed-bin sketch makes for O(B) state.
  //
  // Scale shape: state is |event_types|·B longs — bytes, not rows; a
  // micro-batch reduces map-side to ≤ |keys|·B partial rows before
  // the fold shuffle; the read is a window over B-row groups. At
  // 100 TB the same histogram state merges across 1000 executors as
  // partial aggregates (counter addition IS Spark's partial-agg
  // merge). Null values carry no quantile information and are
  // filtered (st14 counts them separately as n - n_v).
  val QBins = 64
  val QBinCents = 800L

  /** One micro-batch reduced to mergeable histogram grain: ONE row per
    * event_type carrying the B-counter array — the engine-primitive
    * form (plans/SketchAggs.BinnedCountsAgg, the quartet's quantile
    * member): partial aggregation merges B-long buffers map-side, so
    * the fold shuffle carries |keys| sketch rows, not |keys|·B
    * (bin, count) rows. */
  def histogramState(batch: DataFrame): DataFrame =
    batch.filter(col("value").isNotNull)
      .select(col("event_type"),
        least(greatest(expr(s"CAST(round(value * 100) AS BIGINT) div $QBinCents"),
          lit(0L)), lit(QBins - 1L)).as("bin"))
      .groupBy(col("event_type"))
      .agg(graft.plans.SketchAggs.binnedCounts(col("bin"), lit(1L), QBins).as("hist"))

  /** Fold two histogram states: counter addition — explode to (bin,
    * count) grain and re-run the SAME aggregate (kmvMerge's pattern;
    * addition is associative+commutative so any slicing folds equal). */
  def histogramMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .select(col("event_type"), posexplode(col("hist")).as(Seq("bin", "c")))
      .groupBy(col("event_type"))
      .agg(graft.plans.SketchAggs.binnedCounts(col("bin"), col("c"), QBins).as("hist"))

  /** Quantile read: per event_type, the upper edge (in cents) of the
    * first bin whose cumulative count reaches ceil(q·N/100). The walk
    * explodes one sketch row to its B bins — construction-bounded
    * (≤ |event_types|·B rows), never corpus rows. Zero bins cannot
    * move the read: cum is flat across them, so the min() upper edge
    * still lands on the first OCCUPIED covering bin. */
  def quantileFinish(state: DataFrame): DataFrame = {
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    val wAll = Window.partitionBy(col("event_type"))
    def pct(q: Int) =
      min(when(col("cum") * 100 >= col("n") * q, (col("bin") + 1) * QBinCents))
        .as(s"p${q}_ub_cents")
    state
      .select(col("event_type"), posexplode(col("hist")).as(Seq("bin", "c")))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), pct(50), pct(90), pct(99))
  }

  /** st19 batch twin: the 3-slice replay (st14's time cuts) folded
    * through the same histogram state, then the quantile read. */
  def st19(s: SparkSession, dir: String): DataFrame = {
    val log = Tables.events(s, dir).select(col("event_type"), col("value"),
      unix_millis(col("ts")).as("ms"))
    Sinks.replay(new HistogramSink(_), Sinks.timeSlices(log))
      .snapshot.get.orderBy(col("event_type"))
  }

  val st19Sql: String =
    s"""WITH b AS (
       |  SELECT event_type,
       |    LEAST(GREATEST(CAST(round(value * 100) AS BIGINT) // $QBinCents, 0),
       |      ${QBins - 1}) AS bin,
       |    count(*) AS c
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |t AS (
       |  SELECT event_type, bin, c,
       |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT)
       |      AS cum,
       |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM b)
       |SELECT event_type, max(n) AS n,
       |  min(CASE WHEN cum * 100 >= n * 50 THEN (bin + 1) * $QBinCents END)
       |    AS p50_ub_cents,
       |  min(CASE WHEN cum * 100 >= n * 90 THEN (bin + 1) * $QBinCents END)
       |    AS p90_ub_cents,
       |  min(CASE WHEN cum * 100 >= n * 99 THEN (bin + 1) * $QBinCents END)
       |    AS p99_ub_cents
       |FROM t GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // st20: streaming distinct-count maintenance via the KMV bottom-k
  // sketch — the streaming twin of q44 (it maintains THE SAME sketch:
  // same portable hash, seed, and k, so the spec can cross-gate the
  // two keys against each other). st17 keeps exact distinct state
  // (rows ∝ distinct keys — unbounded); this is the BOUNDED answer:
  // state per event_type is the k=64 smallest (hash, user) pairs, a
  // true mergeable summary — merge = dedupe-union then re-take the k
  // minima, which is associative, commutative, AND idempotent (a user
  // seen in two slices collapses on (event_type, user_id) before the
  // re-rank), so ANY micro-batch slicing folds to the same state
  // (st14's gate) and re-delivered data cannot double-count (the
  // property counter sketches like HLL share and exact counters
  // don't). Read = q44's estimator: D̂ = (k−1)·P div h_k, unsaturated
  // sketches exact by construction.
  //
  // Scale shape: state is ≤ |event_types| sketch rows — bytes, not
  // keys; a micro-batch reduces map-side to its local k minima per key
  // (the KmvSketchAgg partial buffer) before touching state. At 1000
  // executors the partial-agg merge IS the summary union — since round
  // 13 literally so: the sketch is the TypedImperativeAggregate engine
  // primitive, not a per-query window construction.
  //
  // Oracle: direct recompute — bottom-k over the full corpus equals
  // the folded slices BECAUSE the merge is a true summary union; the
  // twin replays hash, rank, and estimator in SQL (q44's chain minus
  // the exact-count audit column, which streaming state cannot hold).

  /** One micro-batch reduced to mergeable bottom-k grain: per
    * event_type, ONE sketch row carrying the k smallest (hash, user)
    * pairs — the engine primitive (plans/SketchAggs.KmvSketchAgg)
    * whose partial-agg buffers reduce each task to ≤ k entries per
    * type BEFORE the exchange (the row-grain WindowGroupLimit
    * construction this replaced paid a post-shuffle sort per batch).
    * No distinct pre-pass: the aggregate's (h,id) set dedupes. */
  def kmvState(batch: DataFrame): DataFrame =
    batch.withColumn("__h", graft.operators.Relational.kmvHash(col("user_id")))
      .groupBy(col("event_type"))
      .agg(graft.plans.SketchAggs.kmvSketch(col("__h"), col("user_id"),
        graft.operators.Relational.KmvK).as("sk"))

  /** Fold two sketch frames: explode to (h, id) grain and re-run the
    * SAME aggregate — the summary union. The aggregate's set dedupes
    * (h is a function of user, so pair-dedup == user-dedup), making
    * the fold associative, commutative, AND idempotent. */
  def kmvMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .select(col("event_type"), explode(col("sk")).as("e"))
      .select(col("event_type"), col("e.h").as("__h"), col("e.id").as("user_id"))
      .groupBy(col("event_type"))
      .agg(graft.plans.SketchAggs.kmvSketch(col("__h"), col("user_id"),
        graft.operators.Relational.KmvK).as("sk"))

  /** Estimator read (q44's formula over the maintained sketch). */
  def kmvFinish(state: DataFrame): DataFrame =
    graft.operators.Relational.withKmvEstimate(state)
      .select(col("event_type"), col("n_sk"), col("n_est"))

  /** st20 batch twin: the 3-slice replay (st14's time cuts) folded
    * through the same sketch, then the estimator read. */
  def st20(s: SparkSession, dir: String): DataFrame = {
    val log = Tables.events(s, dir).select(col("event_type"), col("user_id"),
      unix_millis(col("ts")).as("ms"))
    Sinks.replay(new KmvSink(_), Sinks.timeSlices(log))
      .snapshot.get.orderBy(col("event_type"))
  }

  val st20Sql: String = {
    val P = graft.functions.TextFunctions.P
    val seed = graft.operators.Relational.KmvSeed
    val k = graft.operators.Relational.KmvK
    s"""WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (
       |  SELECT event_type, user_id,
       |    ((((user_id % $P) * 1103515245 + $seed * 2654435761 + 12345)
       |      % $P) * 48271) % $P AS h
       |  FROM d),
       |r AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rk
       |  FROM h),
       |sk AS (
       |  SELECT event_type, count(*) AS n_sk,
       |    max(CASE WHEN rk = $k THEN h END) AS hk
       |  FROM r WHERE rk <= $k GROUP BY 1)
       |SELECT event_type, CAST(n_sk AS BIGINT) AS n_sk,
       |  CAST(CASE WHEN n_sk < $k THEN n_sk
       |       ELSE (CAST(${k - 1} AS BIGINT) * $P) // greatest(hk, 1)
       |  END AS BIGINT) AS n_est
       |FROM sk
       |ORDER BY event_type""".stripMargin
  }

  // -------------------------------------------------------------------
  // st21: streaming CURATE — the composed admission pipeline a
  // continuously-ingesting LLM-data build runs, st15 and st16 fused
  // with the row-local quality gates into ONE stateful operator
  // (round 14; e2e_curate is the batch composition gate, this is its
  // arrival-order streaming twin). Per arriving doc, in id order:
  //   gate    row-local: token floor AND t2 quality AND language
  //   exact   reject if an earlier-id gate-survivor had the same md5
  //           (hash-set state)
  //   near    banded-LSH among exact-survivors with the BUCKET-HEAD
  //           candidate rule: a doc verifies (shingle-Jaccard ≥ τ)
  //           against the smallest-id member of each of its band
  //           buckets — equal to min-earlier-per-bucket since ids
  //           arrive in increasing order. Candidates are O(N·bands)
  //           where st16's any-earlier-member rule is quadratic
  //           inside near-dup families (measured: 214M candidate
  //           pairs at ×100 — the one-token-perturbed corpus forms
  //           100-doc families, and C(100,2)·families all-pairs
  //           spilled the disk). A head that fails verification while
  //           a non-head member would have passed admits the doc —
  //           conservative-KEEP, the MaxBucket trade — and rejected
  //           docs' keys STAY indexed (they can be heads), keeping
  //           chain transitivity.
  //   budget  st15's rule per source among near-survivors: admit
  //           while the source's running token total is under budget
  // State folds forward like the other sinks (hash set ∪=, index ∪=,
  // shingle store ∪=, per-source token counters +=) and every
  // decision depends only on the global id order, so the admitted set
  // is micro-batch-slicing-invariant; the DuckDB oracle is the full
  // batch recomputation (fold == rebuild, st16's gate applied to the
  // whole composition). Budget counters accumulate ALL near-survivor
  // tokens (admitted or not) — decision-equivalent to st15's
  // admitted-only counter (the prefix-crossing argument) and exactly
  // the twin's window math.
  val CurateMinTokens = 40L
  val CurateMinQuality = 0.5
  val CurateLang = "en"
  val CurateBudget = 500L

  private[streaming] def curateRowFlags(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{predLang, qualityScore, tokens}
    docs
      .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
      .withColumn("gate_ok", col("n_tok") >= CurateMinTokens &&
        qualityScore(col("text")) >= CurateMinQuality &&
        predLang(col("text")) === CurateLang)
      .withColumn("__h", md5(col("text")))
  }

  /** st21 batch twin: the curate step over the whole corpus as one batch. */
  def st21(s: SparkSession, dir: String): DataFrame =
    Sinks.rebuild(new CurateSink(_), graft.Tables.byDoc(
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))))
      .orderBy(col("doc_id"))

  val st21Sql: String = {
    import graft.functions.TextFunctions._
    val toks = tokensSql("text")
    val codes = shingleCodesSql("text")
    val bkeys = (0 until Bands).map(b => s"${bandKeySql("codes", b)} AS b$b").mkString(", ")
    val kv = (0 until Bands).map(b => s"($b, b$b)").mkString(", ")
    val sh3 = shingles3Sql(toks)
    val inter = "len(list_intersect(n.sh, o.sh))"
    val jac = s"CASE WHEN len(n.sh) + len(o.sh) - $inter <> 0 THEN " +
      s"CAST($inter AS DOUBLE) / (len(n.sh) + len(o.sh) - $inter) END"
    s"""WITH f AS MATERIALIZED (
       |  SELECT doc_id, source, text,
       |    CAST(len($toks) AS BIGINT) AS n_tok,
       |    (CAST(len($toks) AS BIGINT) >= $CurateMinTokens
       |      AND ${qualityScoreSql("text")} >= $CurateMinQuality
       |      AND ${predLangSql("text")} = '$CurateLang') AS gate_ok
       |  FROM documents),
       |ek AS MATERIALIZED (
       |  SELECT md5(text) AS h, min(doc_id) AS keep FROM f WHERE gate_ok GROUP BY 1),
       |f2 AS MATERIALIZED (
       |  SELECT f.*, (gate_ok AND ek.keep = f.doc_id) AS exact_ok
       |  FROM f LEFT JOIN ek ON md5(f.text) = ek.h),
       |s9 AS MATERIALIZED (SELECT doc_id, text FROM f2 WHERE exact_ok),
       |c AS MATERIALIZED (SELECT doc_id, $codes AS codes FROM s9),
       |k AS MATERIALIZED (SELECT doc_id, $bkeys FROM c),
       |bk AS MATERIALIZED (
       |  SELECT doc_id, band, key FROM k,
       |    LATERAL (SELECT * FROM (VALUES $kv) v(band, key))
       |  WHERE key IS NOT NULL),
       |bmin AS MATERIALIZED (
       |  SELECT band, key, min(doc_id) AS m FROM bk GROUP BY 1, 2),
       |prs AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_new, bmin.m AS id_old
       |  FROM bk a JOIN bmin ON a.band = bmin.band AND a.key = bmin.key
       |  WHERE bmin.m < a.doc_id),
       |shs AS MATERIALIZED (SELECT doc_id, $sh3 AS sh FROM s9),
       |dup AS MATERIALIZED (
       |  SELECT DISTINCT p.id_new FROM prs p
       |  JOIN shs n ON n.doc_id = p.id_new
       |  JOIN shs o ON o.doc_id = p.id_old
       |  WHERE $jac >= ${graft.operators.Dedup.IncTau}),
       |f3 AS MATERIALIZED (
       |  SELECT f2.*, (exact_ok AND dup.id_new IS NULL) AS near_ok
       |  FROM f2 LEFT JOIN dup ON f2.doc_id = dup.id_new),
       |adm AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |    FROM f3 WHERE near_ok)
       |  WHERE cum < $CurateBudget)
       |SELECT f3.doc_id, source, n_tok, gate_ok, exact_ok, near_ok,
       |  (near_ok AND adm.doc_id IS NOT NULL) AS admitted
       |FROM f3 LEFT JOIN adm ON f3.doc_id = adm.doc_id
       |ORDER BY f3.doc_id""".stripMargin
  }

  /** st24: SCHEMA EVOLUTION MID-STREAM through the oracle gate — st12's
    * 3-batch MERGE fold where the PRODUCER UPGRADES between batches 2
    * and 3: the first two micro-batches arrive with the narrow schema
    * (no event_type), the third adds the column. mergeLatest's
    * union-by-name null-fill (round-16 VERDICT directive 5) lets the
    * fold keep committing across the boundary; a user whose newest row
    * predates the upgrade carries NULL event_type, an updated user
    * carries the batch value. The twin replays the rule over the full
    * log (latest per user; event_type NULLed when the winner predates
    * the upgrade cut) — so the gate proves the EVOLVED fold is still
    * rebuild-transparent, st12's property carried across a schema
    * change. Durable-store evolution (segments on disk) is the same
    * rule, property-tested in StreamingRecoverySpec. */
  def st24(s: SparkSession, dir: String): DataFrame = {
    val Seq(b0, b1, b2) = Sinks.timeSlices(upsertLog(s, dir))
    // the producer upgrades at the third slice (2024-01-21)
    Sinks.replay(new UpsertSink(_, UpsertKeys, upsertOrd),
        Seq(b0.drop("event_type"), b1.drop("event_type"), b2))
      .snapshot.get.select(col("user_id"), col("event_id"), col("value"), col("ms"),
        col("event_type"))
      .orderBy(col("user_id"))
  }

  val st24Sql: String =
    """SELECT user_id, event_id, value, ms,
      |  CASE WHEN ms >= 1705795200000 THEN event_type ELSE NULL END AS event_type
      |FROM (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st23_version_diff" -> (st23 _),
    "st22_time_travel" -> (st22 _),
    "st21_stream_curate" -> (st21 _),
    "st20_stream_kmv" -> (st20 _),
    "st19_stream_quantile" -> (st19 _),
    "st18_late_drops" -> (st18 _),
    "st17_stream_distinct" -> (st17 _),
    "st16_stream_dedup_admission" -> (st16 _),
    "st15_stream_admission" -> (st15 _),
    "st14_stream_rollup" -> (st14 _),
    "st13_stream_drift" -> (st13 _),
    "st24_stream_evolve" -> (st24 _),
    "st12_stream_upsert" -> (st12 _),
    "st11_interval_join_outer" -> (st11 _),
    "st10_rate_flag" -> (st10 _),
    "st9_stream_enrich" -> (st9 _),
    "st8_windowed_topk" -> (st8 _),
    "st1_tumbling_window" -> (st1 _), "st2_sliding_window" -> (st2 _),
    "st3_stream_dedup" -> (st3 _), "st4_stateful_sessions" -> (st4 _),
    "st5_session_window" -> (st5 _), "st6_interval_join" -> (st6 _),
    "st7_stream_asof" -> (st7 _))

  def oracles: Map[String, String] = Map(
    "st23_version_diff" -> st23Sql, // as-of pair diff == SQL diff of the window prefixes
    "st22_time_travel" -> st22Sql, // as-of read == one-shot window over the log prefix
    "st21_stream_curate" -> st21Sql, // rebuild: composed fold == full recompute
    "st20_stream_kmv" -> st20Sql, // direct recompute: summary union == rebuild
    "st19_stream_quantile" -> st19Sql, // direct recompute: folded slices == rebuild
    "st18_late_drops" -> st18Sql,
    "st17_stream_distinct" -> st17Sql, // direct recompute: fold == rebuild (i6's gate)
    "st16_stream_dedup_admission" -> st16Sql, // rebuild: streamed fold == full recompute
    "st15_stream_admission" -> st15Sql,
    "st14_stream_rollup" -> st14Sql, // full-rebuild GROUP BY: folded micro-batches == rebuild
    "st13_stream_drift" -> st13Sql,
    "st24_stream_evolve" -> st24Sql,
    "st12_stream_upsert" -> st12Sql,
    "st11_interval_join_outer" -> st11Sql,
    "st10_rate_flag" -> st10Sql,
    "st9_stream_enrich" -> st9Sql,
    "st8_windowed_topk" -> st8Sql,
    "st1_tumbling_window" -> st1Sql, "st2_sliding_window" -> st2Sql,
    "st3_stream_dedup" -> st3Sql, "st4_stateful_sessions" -> st4Sql,
    "st5_session_window" -> st5Sql, "st6_interval_join" -> st6Sql,
    "st7_stream_asof" -> st7Sql)
}
