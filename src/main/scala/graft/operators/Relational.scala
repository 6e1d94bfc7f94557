package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** A-family: the relational/analytics core (SURVEY.md §2.A).
  *
  * Scale notes: dimension tables (region/nation/supplier/part) are
  * broadcast; fact-fact joins shuffle on their keys and rely on AQE for
  * skew. Money arithmetic is done in DECIMAL so aggregation is exact and
  * order-independent (oracle-parity rule §6.1) — the final cast to
  * DOUBLE is a single deterministic step.
  */
object Relational {

  /** Exact money: cast a 2-decimal double column to DECIMAL(18,2). */
  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** sum of DECIMAL(18,2) → DOUBLE (order-independent, both engines). */
  private def sumd(c: Column): Column = sum(dec2(c)).cast("double")

  // -------------------------------------------------------------------
  // q1: TPC-H Q1-style pricing summary.
  // Scan → filter (pushed to parquet) → partial+final hash agg. One
  // shuffle on (l_returnflag, l_linestatus) — 6 groups, trivially
  // balanced at any SF.  Ref: /root/reference/main.py:134-189 computes
  // per-group summary stats with pandas; this is the Spark-native agg.
  def q1(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1995-12-01")))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumd(col("l_quantity")).as("sum_qty"),
        sumd(col("l_extendedprice")).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1995-12-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -------------------------------------------------------------------
  // q2: revenue by nation — 5-way star join.
  // lineitem⋈orders shuffles on orderkey; orders⋈customer shuffles on
  // custkey; nation/region are broadcast (≤25 rows at ANY scale factor
  // — TPC-H dims don't grow with SF). At 100 TB the two fact shuffles
  // are the cost; everything else is map-side.
  def q2(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o  = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c  = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val n  = Tables.nation(s, dir)
    val r  = Tables.region(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q2Sql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // -------------------------------------------------------------------
  // q3: top-10 orders by revenue for one market segment.
  // Broadcast the filtered customer side is NOT safe at 100 TB (grows
  // with SF) → plain shuffle join; top-k via global sort+limit, which
  // Spark executes as per-partition top-k + single-reduce merge
  // (TakeOrderedAndProject), no full sort.
  def q3(s: SparkSession, dir: String): DataFrame = {
    val c  = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o  = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT o_orderkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // -------------------------------------------------------------------
  // q4: order-priority counts for orders having a returned line item.
  // EXISTS → left-semi join: no row multiplication, the semi side only
  // ships the join key (l_orderkey) through the shuffle.
  def q4(s: SparkSession, dir: String): DataFrame = {
    val returned = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R").select("l_orderkey")
    Tables.orders(s, dir)
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // q5: market share — conditional aggregation, share via a scalar
  // broadcast of the global total (window over empty partition spec
  // would force a single-partition exchange; a 1-row cross-broadcast
  // keeps the big side fully parallel).
  def q5(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val byStatus = o.groupBy(col("o_orderstatus"))
      .agg(sumd(col("o_totalprice")).as("status_rev"), count(lit(1)).as("n_orders"))
    val total = o.agg(sumd(col("o_totalprice")).as("total_rev"))
    byStatus.join(broadcast(total))
      .select(
        col("o_orderstatus"), col("status_rev"), col("n_orders"),
        round(col("status_rev") / col("total_rev"), 6).as("rev_share"))
      .orderBy(col("o_orderstatus"))
  }

  val q5Sql: String =
    """SELECT o_orderstatus,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS status_rev,
      |  count(*) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) /
      |        (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders), 6) AS rev_share
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // -------------------------------------------------------------------
  // q6: TPC-H Q6-style forecast — pure scan+filter+agg. All three
  // predicates push down to the parquet scan (verified via .explain:
  // PushedFilters); single-row result, no shuffle beyond final agg.
  def q6(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-01-01")) &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(sum(dec2(col("l_extendedprice")) * dec2(col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q6Sql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  // -------------------------------------------------------------------
  // q7: top-3 parts per brand by retail price — windowed top-k. One
  // shuffle on p_brand; rank ties broken by p_partkey so the cut is
  // deterministic. At scale the window partition count = |brands|,
  // bounded; skew impossible (parts uniform over brands).
  def q7(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("p_brand"), col("rk").cast("long").as("rk"),
        col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy(col("p_brand"), col("rk"))
  }

  val q7Sql: String =
    """SELECT p_brand, rk, p_partkey, p_name, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_name, p_retailprice,
      |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
      |  FROM part) t
      |WHERE rk <= 3
      |ORDER BY p_brand, rk""".stripMargin

  // -------------------------------------------------------------------
  // q8: running total of event value per user — running sum in exact
  // DECIMAL (order-independent across engines given identical ORDER
  // BY). One shuffle on user_id; frame is cumulative so Spark streams
  // it in a single pass per partition.

  /** q8's computation over ANY events frame. The one shuffle (window
    * partitioning on user_id) is ELIDED when the input's layout
    * already clusters user_id — an `Ingest.writeBucketed` table's scan
    * reports hashpartitioning(user_id), which satisfies the window's
    * required distribution, so the executed plan is scan → sort →
    * window with NO exchange (IngestSpec asserts exactly that). That
    * is the pay-the-shuffle-once-at-ingest story: every per-user
    * window/agg/join downstream of a bucketed events table skips its
    * shuffle. */
  def runningTotal(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(unix_millis(col("ts")), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("running_value", sum(dec2(col("value"))).over(w).cast("double"))
      .select(col("user_id"), col("event_id"), col("running_value"))
  }

  def q8(s: SparkSession, dir: String): DataFrame =
    runningTotal(Tables.events(s, dir))
      .orderBy(col("user_id"), col("event_id"))

  val q8Sql: String =
    """SELECT user_id, event_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------------------------
  // q9: exact distinct users per event type. Spark plans count(distinct)
  // as a two-phase expand+agg — partial dedup map-side, so the shuffle
  // carries (event_type, user_id) pairs already deduped per task.
  def q9(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        sumd(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  val q9Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q10: ROLLUP over (priority, status). Spark executes grouping sets
  // with a single Expand + hash agg — one shuffle. NULL grouping slots
  // are coalesced to 'ALL' (source columns are non-null) so ordering
  // semantics can't diverge between engines.
  def q10(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), sumd(col("o_totalprice")).as("total_rev"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n_orders"), col("total_rev"))
      .orderBy(col("priority"), col("status"))
  }

  val q10Sql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
      |FROM orders
      |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  // -------------------------------------------------------------------
  // q17: CUBE over (returnflag, linestatus) — the full grouping-sets
  // lattice (q10 covers the ROLLUP prefix subset). Same single
  // Expand + hash-agg plan, one shuffle; grouping_id() disambiguates
  // real NULLs from subtotal slots in both engines.
  def q17(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"), sumd(col("l_quantity")).as("sum_qty"),
        grouping_id().as("gid"))
      .select(col("gid").cast("long").as("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_items"), col("sum_qty"))
      .orderBy(col("gid"), col("returnflag"), col("linestatus"))
  }

  val q17Sql: String =
    """SELECT CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS BIGINT) AS gid,
      |       coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       count(*) AS n_items,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, returnflag, linestatus""".stripMargin

  // -------------------------------------------------------------------
  // q18: group quantiles via groupQuantiles. The LIBRARY DEFAULT is
  // the approx_percentile sketch (fixed memory — see
  // functions.Quantiles for the memory contract); this inventory
  // entry runs `exact = true`, the documented ORACLE MODE, because
  // the sketch's answers are algorithm-specific and hash-match no
  // other engine (the same way q19 oracles salting through the plain
  // join). PercentileSpec proves the default mode plans the sketch
  // and stays within its rank bound of this exact baseline; the
  // exact form's value→count map is admissible at sf-bench scale and
  // for bounded domains only — at 100 TB over l_extendedprice you
  // run the default. Both engines interpolate at rank q*(n-1)
  // (type-7); round(…,6) absorbs the last-ulp formula difference.
  // Ref: /root/reference/main.py:154-160 (describe() percentiles).
  def q18(s: SparkSession, dir: String): DataFrame =
    groupQuantiles(Tables.lineitem(s, dir), exact = true)

  /** q18's shape as the user-facing operator: per-returnflag price
    * quartiles + median quantity. `exact = false` (the default) is
    * the 100 TB path. */
  def groupQuantiles(li: DataFrame, exact: Boolean = false): DataFrame = {
    import graft.functions.Quantiles.quantile
    li.groupBy(col("l_returnflag"))
      .agg(
        round(quantile(col("l_extendedprice"), 0.25, exact), 6).as("price_p25"),
        round(quantile(col("l_extendedprice"), 0.5, exact), 6).as("price_p50"),
        round(quantile(col("l_extendedprice"), 0.75, exact), 6).as("price_p75"),
        round(quantile(col("l_quantity"), 0.5, exact), 6).as("qty_p50"),
        count(lit(1)).as("n_items"))
      // single-partition sort, NOT orderBy: the output is one row per
      // returnflag (bounded at any scale), but orderBy's range
      // partitioner SAMPLES its child — re-executing the expensive
      // percentile-map merge a second time (measured: two back-to-back
      // 1.6 s jobs both reading the same 16 MB agg shuffle). A 1-task
      // round-robin exchange needs no sample; the merge runs once.
      .repartition(1).sortWithinPartitions(col("l_returnflag"))
  }

  val q18Sql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.25), 6) AS price_p25,
      |  round(quantile_cont(l_extendedprice, 0.5), 6)  AS price_p50,
      |  round(quantile_cont(l_extendedprice, 0.75), 6) AS price_p75,
      |  round(quantile_cont(l_quantity, 0.5), 6)       AS qty_p50,
      |  count(*) AS n_items
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // q19: skew-safe fact⋈dim join via Skew.saltedJoin — lineitem rows
  // scatter over (suppkey, salt) while the 4-column supplier side
  // replicates nSalts×, so a hot supplier spreads over the salted
  // reducer tasks instead of one straggler. Since round 13 the salt
  // factor is DECIDED, not guessed: Skew.saltedJoinAuto runs the
  // Count-Min hot-key audit (q47's machinery) and consumes its
  // recommended factor — on the uniform gate data that resolves to 1
  // (no skew → no needless small-side replication), on a planted hot
  // key it scales up (SkewStressSpec). The oracle is the PLAIN
  // join+agg SQL: the gate proves salting is result-transparent at
  // whatever factor the audit picks. Use when the small side is too
  // big to broadcast and AQE's skew split can't help (e.g. a
  // following skewed aggregation).
  // Round 14 (r13 VERDICT "what's wrong" 2): the audit's fact scan is
  // now PAID ONCE per dataset — the CM summary persists as an
  // artifact at first use (Artifacts.cachedTempDir, d13's memoized
  // ingest lifecycle) and every subsequent q19 call RELOADS it and
  // probes (dim-bounded, no fact pass) before the join's own scan.
  // The first run still proves the full cmSummary→save→load chain;
  // Bench's min-of-N measures the recurring amortized path.
  def q19(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"), col("l_discount"))
    val supp = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    val n = Tables.nation(s, dir)
    val skPath = graft.Artifacts.cachedTempDir(s"q19:$dir") { d =>
      graft.Artifacts.saveCmSketch(Skew.cmSummary(li, "suppkey"), d)
    }
    Skew.saltedJoinAuto(li, supp, "suppkey",
      graft.Artifacts.loadCmSketch(s, skPath))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  val q19Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // -------------------------------------------------------------------
  // q11: sessionization (gaps-and-islands, 30-min inactivity gap).
  // Two windows over the SAME (user_id, ts, event_id) ordering → one
  // shuffle total; Catalyst collapses them into a single Window node.
  // Timestamps are compared in epoch-millis (identical truncation in
  // both engines). Streaming twin: Streams.st4 (flatMapGroupsWithState).
  def q11(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(unix_millis(col("ts")), col("event_id"))
    val ms = unix_millis(col("ts"))
    val withGap = Tables.events(s, dir)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(wOrd))
      .withColumn("new_session",
        when(col("prev_ms").isNull || (ms - col("prev_ms")) > 1800000L, 1L).otherwise(0L))
    withGap
      .withColumn("session_id",
        sum(col("new_session")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("end_ms"),
        sumd(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q11Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value, epoch_ms(ts) AS ms,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |), sessions AS (
      |  SELECT user_id, event_id, ms, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ms) AS start_ms, max(ms) AS end_ms,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // -------------------------------------------------------------------
  // q12: pivot event_type → columns. Expressed as conditional agg
  // (count-if) rather than Dataset.pivot so the plan is a single hash
  // agg with no distinct-values pre-pass (pivot() runs an extra job to
  // discover values — wasteful when the domain is known).
  def q12(s: SparkSession, dir: String): DataFrame = {
    def cnt(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"))
      .orderBy(col("user_id"))
  }

  val q12Sql: String =
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------
  // q13: JSON field extraction from the props column. regexp_extract
  // stays in codegen; at 100 TB prefer from_json with an explicit
  // schema (single parse) — here the field is scalar so a regex
  // matches DuckDB semantics exactly.
  def q13(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  val q13Sql: String =
    """SELECT event_type,
      |  CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |  max(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS max_k,
      |  count(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q14: AS-OF join — for each purchase event, the latest click of the
  // same user at-or-before the purchase. Implemented as union+window
  // (tag rows, carry last click ts forward) → ONE shuffle on user_id,
  // no range cross-join, no row explosion — this is the plan that
  // survives 100 TB. Clicks sort before purchases at equal ts (side=0)
  // to get the <= semantics of DuckDB's ASOF JOIN oracle.
  def q14(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("side"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("side"))
    val w = Window.partitionBy(col("user_id")).orderBy(unix_millis(col("ts")), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("click_ms",
        last(when(col("side") === 0, unix_millis(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("purchase_ms"), col("click_ms"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q14Sql: String =
    """SELECT p.user_id AS user_id, p.event_id AS event_id,
      |  epoch_ms(p.ts) AS purchase_ms, epoch_ms(c.ts) AS click_ms
      |FROM (SELECT * FROM events WHERE event_type='purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='click') c
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------------------------
  // q15: approximate distinct via HLL sketch vs exact — GATED (round
  // 15, the q44 treatment it half-had). The HLL ESTIMATE is
  // engine-specific (Spark's HLL++ registers have no DuckDB twin), so
  // it cannot be a hashed column; what CAN be gated is the CLAIM. The
  // registered row carries (exact count, the ppm bound, bound_ok) and
  // the oracle recomputes the exact count and asserts bound_ok = TRUE
  // — if Spark's estimate at rsd 0.02 ever errs past Q15BoundPpm
  // (3·rsd = 6% = 60000 ppm, the standard 3σ envelope; HLL++'s sparse
  // mode makes small groups near-exact) the boolean flips and the
  // hash gate FAILS. The estimate itself stays visible to library
  // callers via q15Estimates. At 100 TB approx_count_distinct is the
  // right default — single pass, fixed memory.
  val Q15BoundPpm = 60000L
  /** Library read: per-type HLL estimate beside the exact count. */
  def q15Estimates(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type"))
  def q15(s: SparkSession, dir: String): DataFrame =
    q15Estimates(s, dir)
      .select(col("event_type"), col("exact_users"),
        lit(Q15BoundPpm).as("bound_ppm"),
        // exact_users = 0 (a group whose user_ids are all NULL): both
        // sides count 0 and the estimate is exact, but the ppm divide
        // would be 0/0 — NULL (or an ANSI error) where the oracle says
        // TRUE. Guard the degenerate group as trivially in-bound.
        (col("exact_users") === 0 ||
          expr("abs(approx_users - exact_users) * 1000000L div exact_users")
            <= Q15BoundPpm).as("bound_ok"))
      .orderBy(col("event_type"))

  val q15Sql: String =
    s"""SELECT event_type,
       |  count(DISTINCT user_id) AS exact_users,
       |  CAST($Q15BoundPpm AS BIGINT) AS bound_ppm,
       |  TRUE AS bound_ok
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q16: the SAME as-of semantics as q14, but through the custom
  // Catalyst operator (graft.plans.AsOfJoinPlan → AsOfJoinExec): a
  // co-partitioned sorted two-pointer merge — one shuffle per side,
  // zero row expansion, constant state. Requires GraftExtensions;
  // falls back to the union+window formulation (q14) when the
  // strategy isn't installed, so the query works in vanilla sessions.
  def q16(s: SparkSession, dir: String): DataFrame = {
    if (!s.catalog.functionExists("graft_cosine")) return q14(s, dir) // extensions absent
    val purchases = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("purchase_ms"))
    val clicks = Tables.events(s, dir).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_millis(col("ts")).as("click_ms"))
    graft.plans.AsOf.join(purchases, clicks, "user_id", "c_user", "purchase_ms", "click_ms")
      .select(col("user_id"), col("event_id"), col("purchase_ms"), col("click_ms"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q16Sql: String =
    """SELECT p.user_id AS user_id, p.event_id AS event_id,
      |  epoch_ms(p.ts) AS purchase_ms, epoch_ms(c.ts) AS click_ms
      |FROM (SELECT * FROM events WHERE event_type='purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='click') c
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------------------------
  // q20: event-time RANGE-frame window — 30-day trailing sum/count of
  // purchase value per user, frame defined by TIME (every event in the
  // preceding 30 days), not row offsets; q8's ROWS frame can't express
  // this when event spacing is irregular.
  //
  // Scale shape: single shuffle on user_id; Spark's WindowExec
  // evaluates a sliding RANGE frame incrementally (add rows entering
  // the bound, remove rows leaving), so each partition is one ordered
  // O(n) pass, not O(n·frame). The frame sum is a decimal (exact,
  // order-free) cast to double at the end (SURVEY §6.1).
  def q20(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-2592000000L, 0L) // 30 days in ms, inclusive
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        col("value"))
      // both window functions in ONE select: separate withColumn calls
      // extract into separate Window operators (two passes over each
      // partition); a single projection collapses them into one
      .select(col("user_id"), col("event_id"), col("ms"),
        count(lit(1)).over(w).as("n_30d"),
        sum(dec2(col("value"))).over(w).cast("double").as("sum_30d"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q20Sql: String =
    """SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |  count(*) OVER w AS n_30d,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_30d
      |FROM events
      |WHERE event_type = 'purchase'
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |             RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // -------------------------------------------------------------------
  // q21: TPC-H Q7-style volume shipping — bilateral trade between two
  // nations broken down by supplier-nation / customer-nation / ship
  // year. The deepest join in the suite: lineitem⋈supplier⋈orders⋈
  // customer⋈nation×2 with a disjunctive cross-nation predicate.
  //
  // Scale shape: the two nation dims broadcast (the disjunction is
  // evaluated map-side AFTER both broadcast joins — no shuffle carries
  // it); the ship-date range filter pushes to the lineitem scan, and
  // the two fact-fact joins (li⋈orders via orderkey, ⋈customer via
  // custkey) shuffle on their keys with AQE. Supplier is dim-sized →
  // broadcast. The final agg is 2·years·2 groups.
  def q21(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        // cast: Spark's year() is int, DuckDB's is BIGINT, and the
        // oracle gate is dtype-strict
        col("l_discount"), year(col("l_shipdate")).cast("long").as("l_year"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val n1 = Tables.nation(s, dir).select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir).select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    // supplier/customer are UNHINTED (they scale with SF — a forced
    // broadcast OOMs at SF-1000; the threshold/AQE promotes them at
    // small SFs, where they do broadcast). nation is schema-bounded
    // (25 rows) so the hint is safe.
    li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q21Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  year(l_shipdate) AS l_year,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN supplier  ON l_suppkey = s_suppkey
      |JOIN orders    ON l_orderkey = o_orderkey
      |JOIN customer  ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
      |       (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  // -------------------------------------------------------------------
  // q22: TPC-H Q17-style small-quantity revenue — sum the revenue of
  // lineitems whose quantity is below 20% of their part's average
  // quantity (a correlated scalar subquery in SQL), per brand.
  //
  // Scale shape: the correlated subquery decorrelates into ONE
  // aggregation of lineitem at part cardinality (groupBy l_partkey;
  // map-side partial agg collapses each partition to its part set
  // first), then an equi-join back on l_partkey — both sides shuffle
  // on the same key, so AQE picks a co-partitioned join. Neither the
  // per-part aggregate nor `part` is force-broadcast: at test SF Spark
  // broadcasts them on its own (they're under the threshold), and at
  // 100 TB — where part is ~20B rows — the identical plan degrades to
  // a co-located shuffle join instead of OOMing a forced broadcast.
  // The threshold test is exact decimal cross-multiplication
  // (qty·5·cnt < sum_qty ⟺ qty < 0.2·avg for cnt>0): no FP division,
  // so both engines agree bit-for-bit on knife-edge rows.
  def q22(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val perPart = li.groupBy(col("l_partkey"))
      .agg(sum(dec2(col("l_quantity"))).as("__sum_qty"), count(lit(1)).as("__cnt"))
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
    li.join(perPart, Seq("l_partkey"))
      .filter(dec2(col("l_quantity")) * lit(5) * col("__cnt") < col("__sum_qty"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sumd(col("l_extendedprice")).as("small_qty_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  val q22Sql: String =
    """WITH pp AS (
      |  SELECT l_partkey,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY 1)
      |SELECT p_brand,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN pp   USING (l_partkey)
      |JOIN part ON l_partkey = p_partkey
      |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sum_qty
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // -------------------------------------------------------------------
  // q23: TPC-H Q11-style share-of-total — nations whose revenue
  // exceeds 4% of GLOBAL revenue (in SQL, a scalar subquery over the
  // same aggregation the outer query groups).
  //
  // Scale shape: the facts are scanned and joined ONCE into the
  // per-nation aggregate; the grand total is then an empty-partition
  // window over those |nations| rows — a single-partition pass over
  // group-count-many rows, which is the inherent minimum for a
  // share-of-total (every group must meet the total). A first cut
  // derived the total by re-filtering a rollup, but the pushed
  // isNull/isNotNull filters made the two agg subtrees structurally
  // different, defeating ReuseExchange — the plan scanned and joined
  // everything TWICE. Revenue is exact decimal; the 4% gate is
  // evaluated in double, deterministic across engines because both
  // cast the SAME exact decimal and run the SAME IEEE multiply/compare.
  def q23(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o  = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c  = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val n  = Tables.nation(s, dir)
    val per = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
        .as("__rev"))
    per.withColumn("__total", sum(col("__rev")).over(Window.partitionBy()))
      .filter(col("__rev").cast("double") > lit(0.04) * col("__total").cast("double"))
      .select(col("n_name"),
        col("__rev").cast("double").as("nation_revenue"),
        round(col("__rev").cast("double") / col("__total").cast("double"), 6).as("rev_share"))
      .orderBy(col("nation_revenue").desc, col("n_name"))
  }

  val q23Sql: String =
    """WITH rev AS (
      |  SELECT n_name,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS r
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  GROUP BY 1),
      |w AS (SELECT n_name, r, sum(r) OVER () AS t FROM rev)
      |SELECT n_name,
      |  CAST(r AS DOUBLE) AS nation_revenue,
      |  round(CAST(r AS DOUBLE) / CAST(t AS DOUBLE), 6) AS rev_share
      |FROM w
      |WHERE CAST(r AS DOUBLE) > 0.04 * CAST(t AS DOUBLE)
      |ORDER BY nation_revenue DESC, n_name""".stripMargin

  // -------------------------------------------------------------------
  // q24: daily audience report — active users per day, NEW users per
  // day (first-ever-seen), and the running cumulative distinct-user
  // count. The cumulative distinct is the classic trap: a naive
  // collect_set over a running window holds every user id in every
  // row's frame (O(users) memory per row). Instead: distinct-over-time
  // ≡ count of FIRST occurrences, so one agg at user cardinality finds
  // each user's first day, one agg at day cardinality counts them, and
  // a running sum over the ~O(days) rows finishes the job. Every
  // shuffle is on a key whose cardinality the data bounds (users,
  // days); the only unpartitioned window scans day-count rows.
  def q24(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), to_date(col("ts")).as("day"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val active = ev.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_users"), count(lit(1)).as("n_events"))
    active.join(firstDay, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col("active_users"), col("n_events"), col("new_users"), col("cum_users"))
      .orderBy(col("day"))
  }

  val q24Sql: String =
    """WITH fd AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
      |nw AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1),
      |act AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    count(DISTINCT user_id) AS active_users, count(*) AS n_events
      |  FROM events GROUP BY 1)
      |SELECT act.day, active_users, n_events,
      |  coalesce(new_users, 0) AS new_users,
      |  CAST(sum(coalesce(new_users, 0)) OVER (
      |    ORDER BY act.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM act LEFT JOIN nw ON act.day = nw.day
      |ORDER BY act.day""".stripMargin

  // -------------------------------------------------------------------
  // q25: TPC-H Q22-style churned high-value customers — customers
  // whose balance beats the global positive-balance average and who
  // placed NO order in the trailing window (2001+), summarized per
  // market segment. Two correlated SQL subqueries, decorrelated
  // Spark-side: the scalar average is a 1-row aggregate cross-joined
  // back (broadcast by construction); NOT EXISTS is a left-anti join
  // on c_custkey whose probe side is pre-filtered by the pushed date
  // predicate — both sides shuffle on the key, AQE co-partitions, and
  // no per-customer probe ever runs. The average is exact-decimal
  // sum ÷ count evaluated in double, the same IEEE divide both
  // engines run (oracle rule §6.1).
  def q25(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val avgRow = c.filter(col("c_acctbal") > 0)
      .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1))).as("__avg_bal"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("2001-01-01")))
      .select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(avgRow))
      .filter(col("c_acctbal") > col("__avg_bal"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), sumd(col("c_acctbal")).as("total_balance"))
      .orderBy(col("c_mktsegment"))
  }

  val q25Sql: String =
    """WITH a AS (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c_mktsegment, count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
      |FROM customer, a
      |WHERE c_acctbal > avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------
  // q26: TPC-H Q15-style top supplier(s) — suppliers whose windowed
  // revenue equals the GLOBAL maximum, ties included (the correctness
  // trap a LIMIT 1 formulation silently gets wrong). Same decorrelated
  // shape as q23: facts aggregate ONCE at supplier cardinality; the
  // global max is a 1-ROW AGGREGATE broadcast back — NOT an
  // empty-partition window, which would funnel all |suppliers| rows
  // (~750M at the 100 TB TPC-H scale) through a single task. Partial
  // max is map-side, and both consumers of `rev` share one exchange
  // (ReuseExchange — q23's pattern). The equality gate runs on the
  // EXACT DECIMAL revenue — comparing doubles for equality here would
  // be the classic FP bug; decimals make "tied" well-defined and
  // engine-identical. Supplier names attach via broadcast after the
  // gate (O(winners) rows).
  def q26(s: SparkSession, dir: String): DataFrame = {
    // The explicit isNotNull matches the null filter the join infers on
    // the probe side — without it the two `rev` subtrees canonicalize
    // differently and ReuseExchange can't serve the max side from the
    // probe side's aggregate (it would re-scan lineitem).
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")) &&
        col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
        .as("__rev"))
    val mx = rev.agg(max(col("__rev")).as("__mx"))
    val gated = rev.crossJoin(broadcast(mx)) // provably 1 row
      .filter(col("__rev") === col("__mx"))
    // Broadcast the GATED side (provably O(winners) rows), not the
    // supplier table — supplier scales with SF and a forced broadcast
    // of the build side would OOM at SF-1000.
    broadcast(gated).join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("__rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q26Sql: String =
    """WITH r AS (
      |  SELECT l_suppkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1),
      |m AS (SELECT l_suppkey, rev, max(rev) OVER () AS mx FROM r)
      |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
      |FROM m JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev = mx
      |ORDER BY s_suppkey""".stripMargin

  // -------------------------------------------------------------------
  // q27: TPC-H Q21-style "sole failing supplier" — suppliers who were
  // the ONLY supplier with a returned item on a multi-supplier,
  // fully-shipped order (the classic double-correlated EXISTS /
  // NOT EXISTS pair; this schema has no commit/receipt dates, so
  // l_returnflag='R' is the failure signal). Decorrelated to per-order
  // aggregates: because the gate requires EXACTLY ONE flagged
  // supplier, max(CASE WHEN flagged THEN suppkey END) IS that supplier
  // — no second lineitem scan, no join back to lineitem. One lineitem
  // scan, one co-partitioned join with status-filtered orders, then a
  // supplier-cardinality agg. The EXISTS pair a naive port would
  // write runs the fact scan three times; this runs it once.
  def q27(s: SparkSession, dir: String): DataFrame = {
    // Two-level aggregate, NOT a countDistinct pair: two distinct
    // aggregates with different children make Spark Expand the scan ×3
    // (one replica per distinct group — measured 2.0 s vs ~1 s at
    // sf0.1). Collapsing to (order, supplier) grain first dedups
    // map-side, and the per-order counts then need no distinct at all.
    // l_suppkey.isNotNull: groupBy would keep a NULL-supplier group
    // in __n_supps/__n_flagged while the oracle's count(DISTINCT
    // l_suppkey) ignores NULLs — identical on null-free TPC-H data,
    // divergent library semantics on nullable keys (q26's rule).
    val perPair = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .filter(col("l_suppkey").isNotNull)
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("__flagged"))
    val perOrder = perPair
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("__n_supps"),
        sum(col("__flagged")).as("__n_flagged"),
        max(when(col("__flagged") === 1L, col("l_suppkey"))).as("__supp"))
      .filter(col("__n_supps") > 1 && col("__n_flagged") === 1)
    val f = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    perOrder.join(f, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("__supp").as("l_suppkey"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("l_suppkey"))
      .limit(50)
  }

  val q27Sql: String =
    """WITH po AS (
      |  SELECT l_orderkey,
      |    count(DISTINCT l_suppkey) AS n_supps,
      |    count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_flagged,
      |    max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS supp
      |  FROM lineitem GROUP BY 1)
      |SELECT supp AS l_suppkey, count(*) AS n_orders
      |FROM po JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
      |WHERE n_supps > 1 AND n_flagged = 1
      |GROUP BY 1
      |ORDER BY n_orders DESC, l_suppkey
      |LIMIT 50""".stripMargin

  // -------------------------------------------------------------------
  // q28: TPC-H Q13-style customer order-count distribution — how many
  // customers placed 0, 1, 2, … non-urgent orders. The zero bucket is
  // the point: it needs a LEFT join with the priority filter in the
  // ON clause (filtering the orders INPUT, not the join output —
  // a WHERE would silently drop the zero-order customers Q13 exists
  // to count). Scale shape: orders filter is pushed to the scan, the
  // join and the per-customer count share one custkey shuffle
  // (ReuseExchange), and the final histogram agg carries
  // ≤ max(n_orders) rows.
  def q28(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders")) // count() skips the null non-matches
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("n_orders").desc)
  }

  val q28Sql: String =
    """WITH c AS (
      |  SELECT c_custkey, count(o_orderkey) AS n_orders
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY 1)
      |SELECT n_orders, count(*) AS n_customers
      |FROM c
      |GROUP BY 1
      |ORDER BY n_customers DESC, n_orders DESC""".stripMargin

  // -------------------------------------------------------------------
  // q29: TPC-H Q14-style promo revenue share per ship month — the
  // "what did the campaign actually move" ratio. ONE fact⋈dim join
  // (part is UNHINTED: it scales with SF — the threshold broadcasts it
  // at test SFs and demotes at scale, q21's rule) feeding a
  // conditional aggregation; both sums are exact decimal, and the
  // share is one double division of exact inputs, rounded at 6
  // (§6.5). Month keys are integer yyyymm — no date-truncation
  // semantics to diverge between engines.
  def q29(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long").as("ship_month"),
        (dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .as("__rev"))
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("__promo"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("ship_month"))
      .agg(sum(when(col("__promo"), col("__rev")).otherwise(lit(0).cast(DecimalType(18, 2))))
          .as("__pr"),
        sum(col("__rev")).as("__tr"))
      .select(col("ship_month"),
        col("__pr").cast("double").as("promo_revenue"),
        col("__tr").cast("double").as("total_revenue"),
        round((lit(100) * col("__pr")).cast("double") / col("__tr").cast("double"), 6)
          .as("promo_share"))
      .orderBy(col("ship_month"))
  }

  val q29Sql: String =
    """SELECT (year(l_shipdate)*100 + month(l_shipdate)) AS ship_month,
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
      |  round(CAST(100 * sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_share
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1
      |ORDER BY ship_month""".stripMargin

  // -------------------------------------------------------------------
  // q30: TPC-H Q19-style disjunctive promotion pricing — revenue from
  // three (brand, size-range, quantity-range) OR-groups. The point of
  // the shape is the PREDICATE, not the plan: a disjunction mixing
  // columns from BOTH join sides can't all push below the join, so
  // the part-side prunable parts (brand/size bounds) must reach the
  // part scan while the mixed residue evaluates post-join. 1-row
  // output, exact decimal sum.
  def q30(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"),
        (dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .as("__rev"))
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"), col("p_size"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 15) && col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#7" && col("p_size").between(1, 25) && col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#22" && col("p_size").between(5, 40) && col("l_quantity").between(20, 40)))
      .agg(count(lit(1)).as("n_items"), sum(col("__rev")).cast("double").as("revenue"))
  }

  val q30Sql: String =
    """SELECT count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand='Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand='Brand#7' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand='Brand#22' AND p_size BETWEEN 5 AND 40 AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  // -------------------------------------------------------------------
  // q31: TPC-H Q2-shape min-cost supplier per part — the classic
  // multi-level correlated scalar subquery (cheapest EUROPE offer for
  // each filtered part; ties kept), decorrelated by hand. Shape:
  // offers collapse to (part, supplier) grain in ONE fact scan
  // (map-side partial agg does the heavy dedup), and the per-part
  // regional minimum comes from a window partitioned by p_partkey —
  // deliberately NOT the textbook min-agg + join-back, which costs
  // two extra shuffles on top of the grain agg (agg to part grain,
  // then re-shuffle both sides for the join) where the window costs
  // one, and its partitions are bounded by suppliers-per-part (a
  // schema-fixed ratio, not data-cardinality). Q2's two dimension
  // hops (supplier→nation→region) broadcast only the schema-bounded
  // dims; the part and supplier join sides stay unhinted for AQE.
  // The equality gate on the minimum is safe under §6: min() SELECTS
  // an existing double — no arithmetic, so both engines compare
  // identical bit patterns (q26's exact-equality rule).
  // Ref shape: TPC-H Q2 (min ps_supplycost within region).
  def q31(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_type") === "ECONOMY" && col("p_size") <= 25)
      .select(col("p_partkey"), col("p_brand"))
    val eu = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val offers = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(eu, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("s_suppkey"), col("p_brand"),
        col("s_name"), col("s_acctbal"), col("n_name"))
      .agg(min(col("l_extendedprice")).as("supply_cost"))
    val w = Window.partitionBy(col("p_partkey"))
    offers
      .withColumn("__mc", min(col("supply_cost")).over(w))
      .filter(col("supply_cost") === col("__mc"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  val q31Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_brand FROM part WHERE p_type = 'ECONOMY' AND p_size <= 25),
      |eu AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
      |offers AS (
      |  SELECT p_partkey, s_suppkey, p_brand, s_name, s_acctbal, n_name,
      |         min(l_extendedprice) AS supply_cost
      |  FROM lineitem
      |  JOIN p ON l_partkey = p_partkey
      |  JOIN eu ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2, 3, 4, 5, 6),
      |best AS (
      |  SELECT *, min(supply_cost) OVER (PARTITION BY p_partkey) AS mc FROM offers)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supply_cost
      |FROM best WHERE supply_cost = mc
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  // -------------------------------------------------------------------
  // q32: funnel / ordered-sequence analytics — view → click →
  // purchase conversion within a 7-day per-step horizon, the
  // real-user-analytics staple. The naive formulation self-joins
  // events per step (range joins that fan out on hot users); this is
  // ONE shuffle on user_id: three chained whole-partition windows
  // compute the stage timestamps (earliest view; earliest click
  // strictly after it within the horizon; earliest purchase after
  // that), Catalyst stacks them over a single exchange, and both the
  // per-user collapse and nothing else re-shuffle (the groupBy reuses
  // the window's hash partitioning — verified in RelationalSpec).
  // Funnel rates ship as integer parts-per-million (c13's rule — no
  // FP division ties); horizon arithmetic is epoch-millis both sides
  // (§6.4). Per-step horizons chain from the PREVIOUS stage hit, so
  // a conversion 13 days after the view still counts if the click
  // fell within 7 — the product definition of a step funnel.
  def q32(s: SparkSession, dir: String): DataFrame = {
    val horizonMs = 7L * 24 * 3600 * 1000
    val w = Window.partitionBy(col("user_id"))
    val staged = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
      .withColumn("t1", min(when(col("event_type") === "view", col("ms"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ms") > col("t1") && col("ms") <= col("t1") + horizonMs, col("ms"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ms") > col("t2") && col("ms") <= col("t2") + horizonMs, col("ms"))).over(w))
    val tot = staged.groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"), max(col("t3")).as("t3"))
      .agg(count(lit(1)).as("n_users"), count(col("t1")).as("n_view"),
        count(col("t2")).as("n_click"), count(col("t3")).as("n_purchase"))
    tot.select(col("n_users"), explode(array(
        struct(lit(1L).as("step"), lit("view").as("stage"),
          col("n_view").as("n"), col("n_users").as("prev")),
        struct(lit(2L).as("step"), lit("click").as("stage"),
          col("n_click").as("n"), col("n_view").as("prev")),
        struct(lit(3L).as("step"), lit("purchase").as("stage"),
          col("n_purchase").as("n"), col("n_click").as("prev")))).as("s"))
      .select(col("s.step").as("step"), col("s.stage").as("stage"),
        col("s.n").as("n_users_stage"),
        expr("s.n * 1000000L div nullif(s.prev, 0L)").as("ppm_of_prev"),
        expr("s.n * 1000000L div nullif(n_users, 0L)").as("ppm_of_users"))
      .orderBy(col("step"))
  }

  val q32Sql: String =
    """WITH u1 AS (
      |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS t1
      |  FROM events GROUP BY 1),
      |u2 AS (
      |  SELECT e.user_id, min(epoch_ms(e.ts)) AS t2
      |  FROM events e JOIN u1 ON e.user_id = u1.user_id
      |  WHERE e.event_type = 'click'
      |    AND epoch_ms(e.ts) > u1.t1 AND epoch_ms(e.ts) <= u1.t1 + 604800000
      |  GROUP BY 1),
      |u3 AS (
      |  SELECT e.user_id, min(epoch_ms(e.ts)) AS t3
      |  FROM events e JOIN u2 ON e.user_id = u2.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND epoch_ms(e.ts) > u2.t2 AND epoch_ms(e.ts) <= u2.t2 + 604800000
      |  GROUP BY 1),
      |tot AS (
      |  SELECT (SELECT count(*) FROM u1) AS n_users,
      |         (SELECT count(t1) FROM u1) AS n_view,
      |         (SELECT count(*) FROM u2) AS n_click,
      |         (SELECT count(*) FROM u3) AS n_purchase)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage, n_view AS n_users_stage,
      |    CAST(n_view * 1000000 AS BIGINT) // nullif(n_users, 0) AS ppm_of_prev,
      |    CAST(n_view * 1000000 AS BIGINT) // nullif(n_users, 0) AS ppm_of_users
      |  FROM tot
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), 'click', n_click,
      |    CAST(n_click * 1000000 AS BIGINT) // nullif(n_view, 0),
      |    CAST(n_click * 1000000 AS BIGINT) // nullif(n_users, 0)
      |  FROM tot
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), 'purchase', n_purchase,
      |    CAST(n_purchase * 1000000 AS BIGINT) // nullif(n_click, 0),
      |    CAST(n_purchase * 1000000 AS BIGINT) // nullif(n_users, 0)
      |  FROM tot
      |) ORDER BY step""".stripMargin

  // -------------------------------------------------------------------
  // q33: TPC-H Q11-shape "important parts" — parts whose shipped value
  // from one nation's suppliers exceeds a FRACTION OF THE GLOBAL total
  // (the scalar-subquery-in-HAVING decorrelation shape; Q11 does this
  // over partsupp, this schema's offer stream is lineitem). Shape:
  // ONE fact scan collapses to part grain; the global total is a
  // 1-ROW AGGREGATE over that same grain broadcast back (q26's
  // pattern — both consumers share the exchange, and an
  // empty-partition window here would funnel all |parts| rows through
  // one task at 100 TB). The supplier join stays unhinted: supplier
  // grows with SF (10k×SF) so a forced broadcast is the q21 bug
  // class; AQE promotes it while it fits. The cut is a MEAN MULTIPLE
  // (val > 2.5 × mean part value), not Q11's fixed global fraction:
  // a fixed fraction of a total spread over |parts| rows goes vacuous
  // as |parts| grows with SF (Q11's own spec patches this by scaling
  // the fraction 1/SF — a knob an operator can't see), while the
  // mean-multiple form self-scales and keeps the identical
  // decorrelation shape. Determinism: per-part and global sums are
  // EXACT DECIMAL; both engines round each to double once and the
  // threshold is the same left-to-right IEEE multiply-divide — no
  // order-dependent FP (§6.1), no boundary flicker at the threshold.
  def q33(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
      .filter(col("s_nationkey") === 20).select(col("s_suppkey"))
    val pv = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
        .as("__val"))
    val tot = pv.agg(sum(col("__val")).as("__tot"), count(lit(1)).as("__n"))
    pv.crossJoin(broadcast(tot)) // provably 1 row
      .filter(col("__val").cast("double") >
        lit(2.5) * col("__tot").cast("double") / col("__n").cast("double"))
      .select(col("l_partkey"), col("__val").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  val q33Sql: String =
    """WITH pv AS (
      |  SELECT l_partkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS val
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE s_nationkey = 20
      |  GROUP BY 1),
      |t AS (SELECT sum(val) AS tot, count(*) AS n FROM pv)
      |SELECT l_partkey, CAST(val AS DOUBLE) AS value
      |FROM pv, t
      |WHERE CAST(val AS DOUBLE) > 2.5 * CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)
      |ORDER BY value DESC, l_partkey""".stripMargin

  // -------------------------------------------------------------------
  // q34: TPC-H Q20-shape "dominant shippers" — suppliers who shipped
  // more than 30% of a part's total 1995 volume (Q20's correlated
  // `ps_availqty > 0.5 * sum(l_quantity)` subquery, re-anchored to
  // this schema's lineitem). Decorrelated like q31: ONE fact scan
  // collapses to (part, supplier) grain — map-side partial agg does
  // the heavy lifting — and the part total is a window partitioned by
  // l_partkey, whose partitions are bounded by suppliers-per-part (a
  // schema-fixed ratio), NOT an agg + join-back (two extra shuffles).
  // The dominance gate compares one decimal→double rounding per side
  // with one IEEE multiply — deterministic cross-engine. The supplier
  // name join is unhinted (supplier scales with SF; the gated side is
  // small but not provably so — AQE decides).
  def q34(s: SparkSession, dir: String): DataFrame = {
    val pairQty = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-01-01")) &&
        col("l_suppkey").isNotNull)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(dec2(col("l_quantity"))).as("__q"))
    val w = Window.partitionBy(col("l_partkey"))
    val dominated = pairQty
      .withColumn("__ptot", sum(col("__q")).over(w))
      .filter(col("__q").cast("double") > lit(0.3) * col("__ptot").cast("double"))
    dominated.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_dominated_parts"))
      .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_dominated_parts"))
      .orderBy(col("n_dominated_parts").desc, col("s_suppkey"))
      .limit(100)
  }

  val q34Sql: String =
    """WITH pq AS (
      |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      |    AND l_suppkey IS NOT NULL
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT l_partkey, l_suppkey, q, sum(q) OVER (PARTITION BY l_partkey) AS ptot
      |  FROM pq)
      |SELECT s_suppkey, s_name, count(*) AS n_dominated_parts
      |FROM d JOIN supplier ON l_suppkey = s_suppkey
      |WHERE CAST(q AS DOUBLE) > 0.3 * CAST(ptot AS DOUBLE)
      |GROUP BY 1, 2
      |ORDER BY n_dominated_parts DESC, s_suppkey
      |LIMIT 100""".stripMargin

  // -------------------------------------------------------------------
  // q35: cohort retention — the month-cohort × months-since activity
  // matrix every product-analytics stack computes. The cohort month
  // comes from a window min PARTITIONED BY o_custkey (partitions =
  // orders-per-customer, bounded; a groupBy-min + join-back would
  // re-shuffle the fact twice). The (customer, cohort, offset) grain
  // then collapses with dropDuplicates BEFORE the count — the §11
  // distinct-grain rule: a count(DISTINCT) here would Expand the scan.
  // Month arithmetic is pure integer (year×12+month deltas — no
  // interval/timezone semantics to disagree on), and the cohort ships
  // as an ISO string (§6's date-encoding rule).
  def q35(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    val m = Tables.orders(s, dir)
      .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("__m"))
      .withColumn("__cm", min(col("__m")).over(w))
    m.select(col("o_custkey"), col("__cm"),
        ((year(col("__m")) - year(col("__cm"))) * 12 +
          (month(col("__m")) - month(col("__cm")))).cast("long").as("month_offset"))
      .dropDuplicates("o_custkey", "__cm", "month_offset")
      .groupBy(date_format(col("__cm"), "yyyy-MM").as("cohort_month"), col("month_offset"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("cohort_month"), col("month_offset"))
  }

  val q35Sql: String =
    """WITH m AS (
      |  SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
      |    min(date_trunc('month', o_orderdate)) OVER (PARTITION BY o_custkey) AS cm
      |  FROM orders),
      |d AS (
      |  SELECT DISTINCT o_custkey, cm,
      |    (year(m) - year(cm)) * 12 + (month(m) - month(cm)) AS month_offset
      |  FROM m)
      |SELECT strftime(cm, '%Y-%m') AS cohort_month,
      |  CAST(month_offset AS BIGINT) AS month_offset,
      |  count(*) AS n_customers
      |FROM d
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // q36: market-basket co-occurrence — top part pairs ordered
  // together. The naive form self-joins the fact on l_orderkey (two
  // shuffles + a join whose fan-out is invisible to the planner);
  // this is ONE shuffle: groupBy(order).collect_set(part) dedups
  // repeated parts map-side, pairs are generated with codegen'd array
  // intrinsics (sorted set → upper-triangle via transform/slice — no
  // UDF), and the pair count re-aggregates. Fan-out is C(|basket|,2),
  // bounded by the maxBasket=100 guard — a degenerate mega-order
  // (the basket analogue of d3's hot LSH bucket) is DROPPED, not
  // allowed to emit C(10k,2) rows from one task; the cap is enforced
  // in both engines so the oracle agrees. Top-25 runs as
  // TakeOrderedAndProject (per-partition top-k + single-reduce merge,
  // no global sort), tie-broken deterministically on (count, p1, p2).
  def q36(s: SparkSession, dir: String): DataFrame = {
    val maxBasket = 100
    val baskets = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("__parts"))
      .filter(size(col("__parts")).between(2, maxBasket))
    baskets
      .select(explode(expr(
        """flatten(transform(__parts, (x, i) ->
          |  transform(slice(__parts, i + 2, size(__parts) - i - 1),
          |            y -> struct(x AS p1, y AS p2))))""".stripMargin)).as("pr"))
      .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(25)
  }

  val q36Sql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |ok AS (
      |  SELECT l_orderkey FROM items GROUP BY 1
      |  HAVING count(*) BETWEEN 2 AND 100),
      |pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM items a
      |  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  JOIN ok ON a.l_orderkey = ok.l_orderkey)
      |SELECT p1, p2, count(*) AS n_orders
      |FROM pairs GROUP BY 1, 2
      |ORDER BY n_orders DESC, p1, p2
      |LIMIT 25""".stripMargin

  // -------------------------------------------------------------------
  // q37: large-volume customers — TPC-H Q18's shape (reference point:
  // the TPC-H spec, Q18), the classic `o_orderkey IN (SELECT
  // l_orderkey … GROUP BY … HAVING sum(qty) > t)` decorrelation. The
  // correlated form would scan lineitem TWICE (once for the HAVING
  // filter, once to re-aggregate the sum for output); decorrelated,
  // the per-order aggregate is computed ONCE and serves BOTH roles —
  // it IS the semi-join (inner join on its filtered output) and it
  // carries total_qty into the result, so the executed plan has
  // exactly one lineitem scan (spec-asserted), column-pruned to
  // (l_orderkey, l_quantity). Joins stay UNHINTED: at test SFs the
  // executed plan broadcasts orders+customer into the filtered agg
  // (both fit — measured at sf0.1); at 100 TB neither dim fits, the
  // join falls back to shuffling on the order key, and the agg side
  // arrives ALREADY hash-partitioned on l_orderkey from its own
  // aggregation exchange — so the fallback costs only the orders
  // shuffle, never a lineitem re-shuffle. The HAVING filter (0.15% of
  // orders at t=250, measured at sf0.001-0.1) runs before either
  // join. Top-100 runs as TakeOrderedAndProject, tie-broken on
  // o_orderkey (§6's total-order rule).
  def q37(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sumd(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 250.0)
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        // NTZ → TIMESTAMP is identity under the session's fixed UTC
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q37Sql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |  FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250)
      |SELECT c_name, c_custkey, o_orderkey,
      |  epoch_ms(o_orderdate) AS o_orderdate_ms,
      |  o_totalprice, total_qty
      |FROM big
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** Generic batch interval-overlap join: match each fact (point
    * `tsCol`) to every interval whose half-open [start, end) contains
    * it — WITHOUT a non-equi join. Spark plans a bare range predicate
    * between two large relations as BroadcastNestedLoopJoin (O(n·m)
    * and driver-memory-bound) — the classic batch scale-killer. This
    * operator makes the join an EQUI-join on a time bucket: intervals
    * explode to the buckets they cover (fan-out = len/bucketMs + 1,
    * bounded by choosing bucketMs near the typical interval length),
    * facts map to their single bucket, and the residual range filter
    * runs inside the join. Each qualifying (fact, interval) pair
    * appears EXACTLY once — a fact has one bucket and an interval
    * explodes to that bucket at most once — so no dedup pass exists.
    * At scale both sides shuffle once on the bucket key (SMJ/AQE;
    * skewed hot buckets split by AQE skew-join); nothing is assumed
    * broadcastable. Empty or inverted intervals (end <= start) match
    * nothing, by construction of the bucket sequence. */
  def intervalJoin(facts: DataFrame, tsCol: Column, intervals: DataFrame,
      startCol: Column, endCol: Column, bucketMs: Long): DataFrame = {
    require(bucketMs > 0, "bucketMs must be positive")
    val b = lit(bucketMs)
    val exploded = intervals.filter(endCol > startCol)
      .withColumn("__b", explode(sequence(floor(startCol / b).cast("long"),
        floor((endCol - 1) / b).cast("long"))))
    facts.withColumn("__fb", floor(tsCol / b).cast("long"))
      .join(exploded, col("__fb") === col("__b") &&
        tsCol >= startCol && tsCol < endCol)
      .drop("__fb", "__b")
  }

  /** q38: sliding-campaign attribution — 21-day windows starting every
    * 7 days over the events range (each event overlaps ≤3 windows),
    * per-window traffic and exact-decimal value. The window table is
    * derived distributively (1-row bounds agg → sequence explode; the
    * driver never sees data). The overlap itself is [[intervalJoin]]:
    * an equi-join on 7-day buckets with the range residual inside —
    * the plan holds (SMJ on the bucket key) even when NOTHING fits in
    * broadcast memory, which a raw range-predicate join (BNLJ) would
    * not survive at 100 TB. RelationalSpec proves both that plan
    * shape under autoBroadcastJoinThreshold=-1 and half-open boundary
    * semantics on explicit frames. */
  def q38(s: SparkSession, dir: String): DataFrame = {
    val week = 604800000L
    val span = 3 * week
    val ev = Tables.events(s, dir).select(unix_millis(col("ts")).as("ms"), col("value"))
    val wins = ev.agg(min(col("ms")).as("mn"), max(col("ms")).as("mx"))
      .select(col("mn"), explode(sequence(lit(0L),
        floor((col("mx") - col("mn")) / lit(week)).cast("long"))).as("i"))
      .select((col("mn") + col("i") * week).as("ws"),
        (col("mn") + col("i") * week + span).as("we"))
    intervalJoin(ev, col("ms"), wins, col("ws"), col("we"), week)
      .groupBy(col("ws"))
      .agg(count(lit(1)).as("n"), sumd(col("value")).as("window_value"))
      .orderBy(col("ws"))
  }

  // the oracle stays an INDEPENDENT raw range join (what intervalJoin
  // must be equivalent to); the window table builds via a recursive
  // CTE because DuckDB's generate_series takes only constant bounds
  val q38Sql: String =
    """WITH RECURSIVE b AS (
      |  SELECT min(epoch_ms(ts)) AS mn, max(epoch_ms(ts)) AS mx FROM events),
      |w(ws) AS (
      |  SELECT mn FROM b
      |  UNION ALL
      |  SELECT ws + 604800000 FROM w, b WHERE ws + 604800000 <= mx)
      |SELECT ws, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS window_value
      |FROM w JOIN events e
      |  ON epoch_ms(e.ts) >= ws AND epoch_ms(e.ts) < ws + 1814400000
      |GROUP BY ws
      |ORDER BY ws""".stripMargin

  // -------------------------------------------------------------------
  // q39: TPC-H Q10-style returned-item reporting — revenue lost to
  // returns per customer over one quarter, top-20. Shape decisions:
  // the fact join (lineitem⋈orders) aggregates to o_custkey grain
  // BEFORE touching any dimension (the Q10-as-written 4-way join would
  // carry c_name/n_name through the fact shuffle); customer then joins
  // the ~|customers-with-returns| aggregate (AQE broadcasts the agg
  // side at low SF; at 100 TB it stays a shuffle join on custkey —
  // both sides custkey-partitioned, no replanning needed), and the
  // 25-row nation dim broadcasts. Both scan filters (returnflag, the
  // orderdate quarter) push down. Revenue is exact DECIMAL(18,2)
  // accumulation cast to double at the edge (the q3 rule); top-20 is
  // TakeOrderedAndProject with a c_custkey tiebreak.
  def q39(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1996-04-01")))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val rev = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
        .cast("double").as("revenue"))
    rev
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q39Sql: String =
    """SELECT c_custkey, c_name, n_name, c_acctbal,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      |GROUP BY c_custkey, c_name, n_name, c_acctbal
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------
  // q40: TPC-H Q12-style late-shipment priority audit — for each
  // return-flag class, how many LATE lines (shipped >90 days after
  // the order date) carried urgent/high order priority vs not, over
  // one ship-year. The testdata schema has no l_shipmode/
  // l_receiptdate, so the grouping key is l_returnflag and lateness
  // is ship-vs-order-date — the SHAPE is Q12's: an ON-joined fact
  // pair where the classifying predicate needs columns from BOTH
  // sides (l_shipdate vs o_orderdate), so it evaluates post-join
  // while each side's single-table filter (ship-year; none on
  // orders) pushes to its scan. One orderkey shuffle join (both
  // sides fact-sized at 100 TB; AQE may broadcast the filtered side
  // at low SF), conditional integer counts at a 3-row group grain —
  // no decimal, no FP anywhere. Ref shape: TPC-H Q12's
  // high_line_count/low_line_count CASE pair.
  def q40(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(late && urgent, 1L).otherwise(0L)).as("high_late"),
        sum(when(late && !urgent, 1L).otherwise(0L)).as("low_late"),
        sum(when(late, 1L).otherwise(0L)).as("n_late"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag"))
  }

  val q40Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
      |            AND o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_late,
      |  CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
      |            AND o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_late,
      |  CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  count(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // q41: TPC-H Q16-style supplier-variety report — how many DISTINCT
  // suppliers can deliver each (brand, type, size) bucket, excluding
  // blacklisted suppliers (negative account balance stands in for
  // Q16's complaint comment). Shape decisions: the part-supplier
  // relation is recovered from lineitem at (l_partkey, l_suppkey)
  // grain FIRST (one fact shuffle whose map-side partial dedup does
  // the heavy lifting — 100 TB of lineitem collapses to the
  // |part|×|suppliers-per-part| pair set); the blacklist is a
  // broadcast LEFT-ANTI join (O(suppliers) rows, never a shuffle);
  // the part dim broadcasts into the pair set; and the distinct
  // supplier count is an EXPLICIT two-level aggregate — dedup at
  // (brand, type, size, suppkey) grain, then count — rather than
  // count(DISTINCT), so no Expand and the second agg's grain is
  // construction-bounded. Integer counts only. Ref shape: TPC-H Q16
  // (supplier_cnt per part bucket, NOT IN complaint subquery).
  def q41(s: SparkSession, dir: String): DataFrame = {
    val excl = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val ps = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
    val p = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    ps.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_type"), col("p_size"), col("l_suppkey"))
      .distinct()
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(count(lit(1)).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q41Sql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // -------------------------------------------------------------------
  // q42: TPC-H Q9-style product-line profit by (nation, order-year) —
  // the classic multi-dimension star probe: the fact table joins THREE
  // broadcast dimension hops (part filtered by a name substring —
  // Q9's '%green%' gate — supplier, nation) plus ONE fact-fact join
  // (orders, for the order year). The schema has no partsupp, so cost
  // is quantity·retailprice and profit is revenue − cost (margin
  // report; negative cells are legitimate). Plan shape: the p_name
  // LIKE filter prunes part BEFORE broadcast; supplier/nation are
  // schema-bounded broadcasts; orders joins on the orderkey shuffle
  // AQE manages; ONE lineitem scan. Revenue and cost accumulate as
  // separate exact DECIMAL sums, subtracted once in double (no
  // per-row double→decimal re-rounding, the m13 tie rule).
  def q42(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_name").like("%ring%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(
        sum(dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))).as("__rev"),
        sum(dec2(col("l_quantity")) * dec2(col("p_retailprice"))).as("__cost"),
        count(lit(1)).as("n_lines"))
      .select(col("n_name"), col("o_year"),
        col("__rev").cast("double").as("revenue"),
        col("__cost").cast("double").as("cost"),
        (col("__rev").cast("double") - col("__cost").cast("double")).as("profit"),
        col("n_lines"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  val q42Sql: String =
    """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS cost,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |    - CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS profit,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN part     ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN orders   ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%ring%'
      |GROUP BY n_name, year(o_orderdate)
      |ORDER BY n_name, o_year DESC""".stripMargin

  // -------------------------------------------------------------------
  // q43: TPC-H Q8-style national market share — of all STANDARD-part
  // revenue sold to ASIA customers, what fraction was supplied by
  // NATION_12, per order year? The Q8 shape is the point: TWO
  // independent nation hops off the same fact row (customer-side
  // nation⋈region to scope the MARKET, supplier-side nation to flag
  // the FOCAL share), a disjoint-role dimension reuse naive planners
  // conflate. Plan: part/supplier/customer-nation/region all
  // broadcast after their filters; orders and customer join on their
  // keys (customer is O(SF) — unhinted, AQE promotes at low SF);
  // share = conditional decimal sum / total decimal sum per year,
  // one double division rounded 6 (q29's rule). ONE lineitem scan.
  def q43(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).filter(col("p_type") === "STANDARD")
      .select(col("p_partkey"))
    val asia = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("__cnat"))
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(asia), col("c_nationkey") === col("__cnat"))
      .select(col("c_custkey"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), (col("n_name") === "NATION_12").as("__focal"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))).as("__rev"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("__focal"), col("__rev"))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("__f"),
        sum(col("__rev")).as("__t"),
        count(lit(1)).as("n_lines"))
      .select(col("o_year"),
        col("__f").cast("double").as("focal_revenue"),
        col("__t").cast("double").as("total_revenue"),
        round(col("__f").cast("double") / col("__t").cast("double"), 6)
          .as("mkt_share"),
        col("n_lines"))
      .orderBy(col("o_year"))
  }

  val q43Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum(CASE WHEN sn.n_name = 'NATION_12'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS focal_revenue,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
      |  round(CAST(sum(CASE WHEN sn.n_name = 'NATION_12'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS mkt_share,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region ON cn.n_regionkey = r_regionkey
      |WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
      |GROUP BY year(o_orderdate)
      |ORDER BY o_year""".stripMargin

  // -------------------------------------------------------------------
  // q44: KMV (k-minimum-values / bottom-k) distinct estimate per group,
  // ORACLE-GATED — the approximate-distinct q15's ESTIMATE can't gate
  // (HLL's register layout is engine-specific; since round 15 q15
  // gates the exact counts + the certified error-bound claim instead),
  // but the KMV sketch is a deterministic function of a portable hash
  // (t21's two-step mixing hash), so the ENTIRE estimator replays in
  // DuckDB and hash-matches. Estimator: with h uniform on [0,P), the
  // k-th smallest hash of D distinct keys sits near k·P/D, so
  // D̂ = (k−1)·P div h_k (the classical bottom-k/KMV estimate);
  // unsaturated groups (n < k) report the sketch size itself (exact).
  // Output per event_type: exact distinct, KMV estimate, |err| ppm —
  // all integers, the measured error beside the estimate (q15's spec
  // asserts a bound; this REPORTS the achieved error, d9's role).
  //
  // Scale shape: bottom-k is a MERGEABLE summary (union two sketches →
  // re-take the k minima). Since round 13 the sketch is an ENGINE
  // PRIMITIVE — plans/SketchAggs.KmvSketchAgg, a TypedImperativeAggregate
  // whose bounded (h,id) TreeSet buffer IS the sketch — so Spark's
  // partial aggregation does the summary merge: each task reduces to
  // ≤ k entries per group BEFORE the exchange (the WindowGroupLimit
  // construction this replaced kept ≤ k ROWS per (task, group) but
  // still paid the window sort after the shuffle). The exact count
  // rides the same deduped frame (audit-only; at 100 TB you'd drop it
  // and keep the k·|groups|-entry sketch — bytes, not rows).
  val KmvSeed = 4242L
  val KmvK = 64

  /** The portable KMV hash (t21's two-step mixing over P = 2^31−1) —
    * ONE definition shared by q44/q45/st20 and their oracles. */
  def kmvHash(id: Column): Column = {
    val P = graft.functions.TextFunctions.P
    pmod(pmod(pmod(id, lit(P)) * 1103515245L +
      lit(KmvSeed) * 2654435761L + 12345L, lit(P)) * 48271L, lit(P))
  }

  /** Attach q44's estimator read (n_sk, hk, n_est) to a frame with a
    * `sk` sketch column from [[graft.plans.SketchAggs.kmvSketch]]:
    * D̂ = (k−1)·P div h_k, unsaturated sketches exact by construction.
    * greatest(hk,1): h=0 is possible for one adversarial key; both
    * engines guard identically so the twin can't diverge on it. */
  def withKmvEstimate(df: DataFrame): DataFrame = {
    val P = graft.functions.TextFunctions.P
    // hk is guarded by an explicit when(): element_at(sk, k) on an
    // unsaturated sketch (n_sk < k) is an ANSI INVALID_ARRAY_INDEX
    // error in Spark 4, and relying on the downstream CASE to keep it
    // lazy only works while Catalyst happens to inline hk into the
    // ELSE branch — any plan shape that materializes hk eagerly would
    // turn a valid small group into a runtime error (r13 ADVICE).
    df.withColumn("n_sk", size(col("sk")).cast("long"))
      .withColumn("hk", when(col("n_sk") >= KmvK,
        element_at(col("sk"), KmvK).getField("h")))
      .withColumn("n_est", expr(s"CASE WHEN n_sk < $KmvK THEN n_sk " +
        s"ELSE (${KmvK - 1}L * ${P}L) div greatest(hk, 1L) END"))
  }

  def q44(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir).select(col("event_type"), col("user_id")).distinct()
    // ONE aggregate pass: exact count (audit side) and the KMV sketch
    // ride the same shuffle; the sketch aggregate's partial buffers
    // carry ≤ k entries per (task, group).
    val agg = d.withColumn("__h", kmvHash(col("user_id")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_exact"),
        graft.plans.SketchAggs.kmvSketch(col("__h"), col("user_id"), KmvK).as("sk"))
    withKmvEstimate(agg)
      .select(col("event_type"), col("n_exact"), col("n_est"),
        expr("abs(n_est - n_exact) * 1000000L div n_exact").as("err_ppm"))
      .orderBy(col("event_type"))
  }

  val q44Sql: String =
    s"""WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (
       |  SELECT event_type, user_id,
       |    ((((user_id % 2147483647) * 1103515245 + $KmvSeed * 2654435761 + 12345)
       |      % 2147483647) * 48271) % 2147483647 AS h
       |  FROM d),
       |r AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rk
       |  FROM h),
       |ex AS (SELECT event_type, count(*) AS n_exact FROM d GROUP BY 1),
       |sk AS (
       |  SELECT event_type, count(*) AS n_sk,
       |    max(CASE WHEN rk = $KmvK THEN h END) AS hk
       |  FROM r WHERE rk <= $KmvK GROUP BY 1),
       |est AS (
       |  SELECT e.event_type, e.n_exact,
       |    CASE WHEN s.n_sk < $KmvK THEN s.n_sk
       |         ELSE (CAST(${KmvK - 1} AS BIGINT) * 2147483647) // greatest(s.hk, 1)
       |    END AS n_est
       |  FROM ex e JOIN sk s USING (event_type))
       |SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_est AS BIGINT) AS n_est,
       |  CAST(abs(n_est - n_exact) * 1000000 // n_exact AS BIGINT) AS err_ppm
       |FROM est
       |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // q45: sketch SET ALGEBRA — audience overlap (union / intersection
  // distinct estimates) for every event-type pair from the SAME
  // bottom-k sketches q44 maintains, the theta-sketch workhorse
  // question ("how many users did both A and B") answered WITHOUT an
  // exact pairwise distinct. Union: the k minima of A∪B are contained
  // in (k minima of A) ∪ (k minima of B) — the summary property — so
  // the union sketch merges two k-row frames, never the raw sets;
  // estimate = q44's (k−1)·P div h_k. Intersection: the standard KMV
  // ρ-estimator — among the union sketch's kept minima, the fraction
  // present in BOTH per-type sketches, scaled by the union estimate
  // (exact by construction when the union is unsaturated, since the
  // sketches then ARE the sets). Exact counterparts + |err| ppm ride
  // beside both estimates (d9's measure-don't-guess role).
  //
  // Scale shape: per-type sketches are ≤ k rows each (the q44 plan);
  // everything after is pair-grain algebra over 10·2k rows — the
  // whole point: audience overlap across T segments costs T·k sketch
  // rows, not T² exact distinct passes over the fact table.
  def q45(s: SparkSession, dir: String): DataFrame =
    kmvOverlap(Tables.events(s, dir))

  /** Library form (spec entry point for planted segment corpora):
    * `ev` needs (event_type, user_id); one output row per unordered
    * type pair. When a pair's union is unsaturated (< k) BOTH
    * estimates are exact by construction — the sketches are the sets. */
  def kmvOverlap(ev: DataFrame): DataFrame = {
    val P = graft.functions.TextFunctions.P
    val k = KmvK
    val d = ev.select(col("event_type"), col("user_id")).distinct()
    val h = d.withColumn("__h", kmvHash(col("user_id")))
    // per-type sketches from the ENGINE PRIMITIVE (q44's aggregate);
    // the set algebra is then pure ARRAY expressions over T sketch
    // rows — union = k smallest of A∪B (the summary property:
    // array_union dedupes exact (h,id) structs, array_sort orders by
    // the struct's (h,id), slice keeps k), rho = union members present
    // in BOTH sketches. The pre-round-13 form re-ranked exploded
    // sketch rows through a pair-grain window; this never leaves the
    // sketch row.
    val sk = h.groupBy(col("event_type"))
      .agg(graft.plans.SketchAggs.kmvSketch(col("__h"), col("user_id"), k).as("sk"))
    val skPairs = sk.select(col("event_type").as("ta"), col("sk").as("ska"))
      .join(broadcast(sk.select(col("event_type").as("tb"), col("sk").as("skb"))),
        col("ta") < col("tb"))
    val est = skPairs
      .withColumn("sk", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("n_sk", size(col("sk")).cast("long"))
      // same explicit guard as withKmvEstimate: never index past an
      // unsaturated sketch's end, regardless of optimizer inlining
      .withColumn("hk", when(col("n_sk") >= k,
        element_at(col("sk"), k).getField("h")))
      .withColumn("rho", size(array_intersect(col("sk"),
        array_intersect(col("ska"), col("skb")))).cast("long"))
      .withColumn("union_est", when(col("n_sk") < k, col("n_sk"))
        .otherwise(expr(s"(${k - 1}L * ${P}L) div greatest(hk, 1L)")))
      .withColumn("inter_est", expr("rho * union_est div greatest(n_sk, 1L)"))
      .select(col("ta"), col("tb"), col("n_sk"), col("union_est"), col("inter_est"))
    val types = sk.select(col("event_type")).distinct()
    val pairs = broadcast(types.select(col("event_type").as("ta"))
      .crossJoin(types.select(col("event_type").as("tb")))
      .filter(col("ta") < col("tb")))
    val exU = pairs.join(d, d("event_type") === col("ta") || d("event_type") === col("tb"))
      .select(col("ta"), col("tb"), col("user_id")).distinct()
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("union_exact"))
    val dd = d.select(col("event_type"), col("user_id"))
    val exI = pairs
      .join(dd.select(col("event_type").as("ea"), col("user_id")), col("ea") === col("ta"))
      .join(dd.select(col("event_type").as("eb"), col("user_id").as("ub")),
        col("eb") === col("tb") && col("ub") === col("user_id"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("inter_exact"))
    est.join(exU, Seq("ta", "tb")).join(exI, Seq("ta", "tb"), "left")
      .withColumn("inter_exact", coalesce(col("inter_exact"), lit(0L)))
      .select(col("ta"), col("tb"),
        col("union_exact"), col("union_est"),
        expr("abs(union_est - union_exact) * 1000000L div union_exact").as("union_err_ppm"),
        col("inter_exact"), col("inter_est"),
        expr("abs(inter_est - inter_exact) * 1000000L div greatest(inter_exact, 1L)").as("inter_err_ppm"))
      .orderBy(col("ta"), col("tb"))
  }

  val q45Sql: String = {
    val P = graft.functions.TextFunctions.P
    s"""WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (
       |  SELECT event_type, user_id,
       |    ((((user_id % $P) * 1103515245 + $KmvSeed * 2654435761 + 12345)
       |      % $P) * 48271) % $P AS h
       |  FROM d),
       |sk AS (
       |  SELECT event_type, user_id, h FROM (
       |    SELECT event_type, user_id, h,
       |      row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rk
       |    FROM h)
       |  WHERE rk <= $KmvK),
       |types AS (SELECT DISTINCT event_type FROM sk),
       |pairs AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb
       |  FROM types a, types b WHERE a.event_type < b.event_type),
       |mem AS (
       |  SELECT ta, tb, user_id, h, max(fa) AS fa, max(fb) AS fb
       |  FROM (
       |    SELECT p.ta, p.tb, s.user_id, s.h, 1 AS fa, 0 AS fb
       |    FROM pairs p JOIN sk s ON s.event_type = p.ta
       |    UNION ALL
       |    SELECT p.ta, p.tb, s.user_id, s.h, 0 AS fa, 1 AS fb
       |    FROM pairs p JOIN sk s ON s.event_type = p.tb)
       |  GROUP BY 1, 2, 3, 4),
       |kept AS (
       |  SELECT * FROM (
       |    SELECT ta, tb, user_id, h, fa, fb,
       |      row_number() OVER (PARTITION BY ta, tb ORDER BY h, user_id) AS rk
       |    FROM mem)
       |  WHERE rk <= $KmvK),
       |est AS (
       |  SELECT ta, tb, count(*) AS n_sk,
       |    max(CASE WHEN rk = $KmvK THEN h END) AS hk,
       |    CAST(sum(fa * fb) AS BIGINT) AS rho
       |  FROM kept GROUP BY 1, 2),
       |est2 AS (
       |  SELECT ta, tb, n_sk, rho,
       |    CASE WHEN n_sk < $KmvK THEN n_sk
       |         ELSE (CAST(${KmvK - 1} AS BIGINT) * $P) // greatest(hk, 1) END AS union_est
       |  FROM est),
       |exu AS (
       |  SELECT p.ta, p.tb, count(DISTINCT d.user_id) AS union_exact
       |  FROM pairs p JOIN d ON d.event_type = p.ta OR d.event_type = p.tb
       |  GROUP BY 1, 2),
       |exi AS (
       |  SELECT p.ta, p.tb, count(*) AS inter_exact
       |  FROM pairs p
       |  JOIN d da ON da.event_type = p.ta
       |  JOIN d db ON db.event_type = p.tb AND db.user_id = da.user_id
       |  GROUP BY 1, 2)
       |SELECT e.ta, e.tb,
       |  CAST(u.union_exact AS BIGINT) AS union_exact,
       |  CAST(e.union_est AS BIGINT) AS union_est,
       |  CAST(abs(e.union_est - u.union_exact) * 1000000 // u.union_exact AS BIGINT)
       |    AS union_err_ppm,
       |  CAST(coalesce(i.inter_exact, 0) AS BIGINT) AS inter_exact,
       |  CAST(e.rho * e.union_est // greatest(e.n_sk, 1) AS BIGINT) AS inter_est,
       |  CAST(abs(e.rho * e.union_est // greatest(e.n_sk, 1) - coalesce(i.inter_exact, 0))
       |    * 1000000 // greatest(coalesce(i.inter_exact, 0), 1) AS BIGINT) AS inter_err_ppm
       |FROM est2 e
       |JOIN exu u USING (ta, tb)
       |LEFT JOIN exi i USING (ta, tb)
       |ORDER BY ta, tb""".stripMargin
  }

  // -------------------------------------------------------------------
  // q46: Count-Min frequency estimates for the heavy hitters — the
  // FREQUENCY member of the classical mergeable-summary triad this
  // engine now carries end-to-end oracle-gated (KMV = distinct, q44/
  // q45/st20; bloom = membership, d19; Count-Min = "how often", here).
  // The sketch is a d×w counter matrix (d=3 portable row hashes from
  // the minhash permutation family, w=1024 cells); an item's estimate
  // is the MIN over its d cells — ONE-SIDED error (never an
  // underestimate: every cell holds the item's true count plus
  // non-negative collision mass), which the gate turns into a hard
  // invariant: n_est ≥ n_exact on every reported row, with the
  // achieved overestimate in ppm beside it (d9's role). Reported for
  // the exact top-10 heaviest users so the audit is against ground
  // truth where CM is meant to operate (heavy hitters sit far above
  // the collision noise floor).
  //
  // Scale shape: the sketch is d·w = 3072 longs — bytes, not rows —
  // and cell filling is counter ADDITION (associative/commutative:
  // partial-agg merge at 1000 executors, st19's histogram argument);
  // estimates join items to ≤ d·w cells. The exact per-user counts
  // here are the audit side only. w is fixed; at production scale it
  // sizes like the bloom's M (power of two ≥ c·heavy-hitter count —
  // the sizedPlanes one-scalar class), left fixed here so the three
  // SFs measure the SAME sketch filling up (15 / 150 / 1500 users
  // against 1024 cells — the reported over_ppm is the fill curve).
  val CmD = 3
  val CmW = 1024L

  def q46(s: SparkSession, dir: String): DataFrame = {
    // The sketch is now the ENGINE PRIMITIVE (plans/SketchAggs
    // .CmSketchAgg): ONE global aggregate over raw events fills the
    // d×w counter matrix — weight-1 per event, so cell values equal
    // the composed form's grouped-count sums — and partial aggregation
    // merges 24 KB buffers across tasks (the explode→groupBy(j,pos)→
    // join construction this replaced shuffled 3 rows per user plus a
    // second cells join). Estimates read the broadcast 1-row sketch:
    // min over the d cells of each user's positions.
    val ev = Tables.events(s, dir)
    val n = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
    val sk = ev.agg(graft.plans.SketchAggs
      .cmSketch(col("user_id"), lit(1L), CmD, CmW.toInt).as("cm"))
    val cellAt = graft.plans.SketchAggs.cmPositions(col("user_id"), CmD, CmW.toInt)
      .map(p => element_at(col("cm"), (p + 1).cast("int")))
    val est = n.crossJoin(broadcast(sk)) // 1-row broadcast side
      .withColumn("n_est", least(cellAt: _*))
    est.orderBy(col("n_exact").desc, col("user_id")).limit(10)
      .select(col("user_id"), col("n_exact"), col("n_est"),
        expr("(n_est - n_exact) * 1000000L div n_exact").as("over_ppm"))
      .orderBy(col("n_exact").desc, col("user_id"))
  }

  val q46Sql: String = {
    val P = graft.functions.TextFunctions.P
    import graft.functions.TextFunctions.{permA, permB}
    def posJ(j: Int) = s"(((user_id % $P) * ${permA(j)} + ${permB(j)}) % $P) % $CmW"
    s"""WITH n AS (
       |  SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1),
       |r AS (
       |  SELECT user_id, n_exact, j,
       |    CASE j WHEN 0 THEN ${posJ(0)} WHEN 1 THEN ${posJ(1)}
       |           ELSE ${posJ(2)} END AS pos
       |  FROM n, (SELECT unnest([0, 1, 2]) AS j)),
       |cells AS (
       |  SELECT j, pos, CAST(sum(n_exact) AS BIGINT) AS c
       |  FROM r GROUP BY 1, 2),
       |est AS (
       |  SELECT r.user_id, max(r.n_exact) AS n_exact, min(cells.c) AS n_est
       |  FROM r JOIN cells USING (j, pos)
       |  GROUP BY r.user_id),
       |top AS (
       |  SELECT * FROM est ORDER BY n_exact DESC, user_id LIMIT 10)
       |SELECT user_id, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_est AS BIGINT) AS n_est,
       |  CAST((n_est - n_exact) * 1000000 // n_exact AS BIGINT) AS over_ppm
       |FROM top
       |ORDER BY n_exact DESC, user_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // q47: hot-key detection audit — the DECISION side of q19's salting
  // (Skew.skewAudit's Scaladoc has the full design). One Count-Min
  // pass over the fact join key, dim-side candidates probe the
  // broadcast sketch, and the integer salt-factor rule (smallest power
  // of two capping the hottest key at ~2× the mean, clamped [1,256])
  // replays in DuckDB — the whole recommendation is hash-gated, and
  // q19's registered path consumes it via Skew.saltedJoinAuto.
  def q47(s: SparkSession, dir: String): DataFrame =
    Skew.skewAudit(
      Tables.lineitem(s, dir).select(col("l_suppkey").as("suppkey")),
      "suppkey",
      Tables.supplier(s, dir).select(col("s_suppkey").as("suppkey")))

  val q47Sql: String = {
    val P = graft.functions.TextFunctions.P
    import graft.functions.TextFunctions.{permA, permB}
    def posJ(k: String, j: Int) = s"((($k % $P) * ${permA(j)} + ${permB(j)}) % $P) % $CmW"
    def posCase(k: String) =
      s"CASE j WHEN 0 THEN ${posJ(k, 0)} WHEN 1 THEN ${posJ(k, 1)} ELSE ${posJ(k, 2)} END"
    s"""WITH f AS (SELECT l_suppkey AS k FROM lineitem),
       |n AS (SELECT count(*) AS n_rows FROM f),
       |g AS (SELECT k, count(*) AS c FROM f GROUP BY 1),
       |cells AS (
       |  SELECT j, ${posCase("k")} AS pos, CAST(sum(c) AS BIGINT) AS cell
       |  FROM g, (SELECT unnest([0, 1, 2]) AS j) GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT s_suppkey AS k FROM supplier),
       |probe AS (
       |  SELECT cand.k, j, ${posCase("cand.k")} AS pos
       |  FROM cand, (SELECT unnest([0, 1, 2]) AS j)),
       |est AS (
       |  SELECT probe.k, min(COALESCE(cells.cell, 0)) AS est
       |  FROM probe LEFT JOIN cells USING (j, pos) GROUP BY probe.k),
       |nk AS (SELECT count(*) AS n_keys FROM cand),
       |ex AS (SELECT CAST(max(c) AS BIGINT) AS exact_max FROM g),
       |hot AS (SELECT k AS hot_key, est AS est_max FROM est ORDER BY est DESC, k LIMIT 1),
       |base AS (
       |  SELECT n.n_rows, nk.n_keys, hot.hot_key, hot.est_max, ex.exact_max,
       |    n.n_rows // greatest(nk.n_keys, 1) AS mean_per_key
       |  FROM n, nk, ex, hot),
       |salted AS (
       |  SELECT *, (est_max + 2 * greatest(mean_per_key, 1) - 1)
       |    // (2 * greatest(mean_per_key, 1)) AS r
       |  FROM base)
       |SELECT CAST(n_rows AS BIGINT) AS n_rows, CAST(n_keys AS BIGINT) AS n_keys,
       |  hot_key, CAST(est_max AS BIGINT) AS est_max, exact_max,
       |  CAST(mean_per_key AS BIGINT) AS mean_per_key,
       |  CAST(est_max * 1000000 // greatest(mean_per_key, 1) AS BIGINT) AS skew_ppm,
       |  CAST(CASE WHEN r <= 1 THEN 1 WHEN r <= 2 THEN 2 WHEN r <= 4 THEN 4
       |    WHEN r <= 8 THEN 8 WHEN r <= 16 THEN 16 WHEN r <= 32 THEN 32
       |    WHEN r <= 64 THEN 64 WHEN r <= 128 THEN 128 ELSE 256 END AS BIGINT)
       |    AS rec_salts
       |FROM salted""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q47_skew_audit" -> (q47 _),
    "q46_countmin_topk" -> (q46 _),
    "q45_kmv_overlap" -> (q45 _),
    "q44_kmv_distinct" -> (q44 _),
    "q43_market_share" -> (q43 _),
    "q42_profit_rollup" -> (q42 _),
    "q40_late_priority" -> (q40 _),
    "q41_supplier_variety" -> (q41 _),
    "q39_returned_customers" -> (q39 _),
    "q38_interval_overlap" -> (q38 _),
    "q37_big_orders" -> (q37 _),
    "q33_important_parts" -> (q33 _),
    "q34_dominant_shippers" -> (q34 _),
    "q35_cohort_retention" -> (q35 _),
    "q36_basket_pairs" -> (q36 _),
    "q31_min_cost_supplier" -> (q31 _),
    "q32_funnel" -> (q32 _),
    "q29_promo_share" -> (q29 _),
    "q30_promo_pricing" -> (q30 _),
    "q27_one_failed_supplier" -> (q27 _),
    "q28_order_distribution" -> (q28 _),
    "q26_top_supplier" -> (q26 _),
    "q24_daily_audience" -> (q24 _),
    "q25_idle_customers" -> (q25 _),
    "q22_small_qty_revenue" -> (q22 _),
    "q23_revenue_share" -> (q23 _),
    "q21_volume_shipping" -> (q21 _),
    "q20_range_window" -> (q20 _),
    "q16_asof_custom" -> (q16 _),
    "q17_grouping_cube" -> (q17 _),
    "q18_percentiles" -> (q18 _),
    "q19_salted_join" -> (q19 _),
    "q1_pricing_summary" -> (q1 _),
    "q2_revenue_by_nation" -> (q2 _),
    "q3_top_orders" -> (q3 _),
    "q4_order_priority" -> (q4 _),
    "q5_market_share" -> (q5 _),
    "q6_revenue_forecast" -> (q6 _),
    "q7_partition_topk" -> (q7 _),
    "q8_running_total" -> (q8 _),
    "q9_distinct_users" -> (q9 _),
    "q10_rollup" -> (q10 _),
    "q11_sessionize" -> (q11 _),
    "q12_event_pivot" -> (q12 _),
    "q13_json_extract" -> (q13 _),
    "q14_asof_join" -> (q14 _),
    "q15_approx_distinct" -> (q15 _))

  def oracles: Map[String, String] = Map(
    "q15_approx_distinct" -> q15Sql, // exact counts + certified bound claim
    "q47_skew_audit" -> q47Sql,
    "q46_countmin_topk" -> q46Sql,
    "q45_kmv_overlap" -> q45Sql,
    "q44_kmv_distinct" -> q44Sql,
    "q43_market_share" -> q43Sql,
    "q42_profit_rollup" -> q42Sql,
    "q40_late_priority" -> q40Sql,
    "q41_supplier_variety" -> q41Sql,
    "q39_returned_customers" -> q39Sql,
    "q38_interval_overlap" -> q38Sql,
    "q37_big_orders" -> q37Sql,
    "q33_important_parts" -> q33Sql,
    "q34_dominant_shippers" -> q34Sql,
    "q35_cohort_retention" -> q35Sql,
    "q36_basket_pairs" -> q36Sql,
    "q31_min_cost_supplier" -> q31Sql,
    "q32_funnel" -> q32Sql,
    "q29_promo_share" -> q29Sql,
    "q30_promo_pricing" -> q30Sql,
    "q27_one_failed_supplier" -> q27Sql,
    "q28_order_distribution" -> q28Sql,
    "q26_top_supplier" -> q26Sql,
    "q24_daily_audience" -> q24Sql,
    "q25_idle_customers" -> q25Sql,
    "q22_small_qty_revenue" -> q22Sql,
    "q23_revenue_share" -> q23Sql,
    "q21_volume_shipping" -> q21Sql,
    "q20_range_window" -> q20Sql,
    "q16_asof_custom" -> q16Sql,
    "q17_grouping_cube" -> q17Sql,
    "q18_percentiles" -> q18Sql,
    "q19_salted_join" -> q19Sql,
    "q1_pricing_summary" -> q1Sql,
    "q2_revenue_by_nation" -> q2Sql,
    "q3_top_orders" -> q3Sql,
    "q4_order_priority" -> q4Sql,
    "q5_market_share" -> q5Sql,
    "q6_revenue_forecast" -> q6Sql,
    "q7_partition_topk" -> q7Sql,
    "q8_running_total" -> q8Sql,
    "q9_distinct_users" -> q9Sql,
    "q10_rollup" -> q10Sql,
    "q11_sessionize" -> q11Sql,
    "q12_event_pivot" -> q12Sql,
    "q13_json_extract" -> q13Sql,
    "q14_asof_join" -> q14Sql)
}
