package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.ExactNum._

/** B-family: cleaning / profiling (SURVEY.md §2.B) — the Spark-native
  * re-expression of the reference's `clean_data` + overview
  * (/root/reference/main.py:66-129, 134-189).
  *
  * The pandas original mutates a single in-memory frame; here every
  * step is a declarative transform. Imputation/clip parameters are
  * computed as 1-row DataFrames and broadcast-joined back — no
  * .collect(), no driver round trip, so the same plan runs on a
  * 1000-executor cluster unchanged.
  *
  * The driver testdata has no NULLs, so the impute operators first
  * inject them deterministically (a predicate-based mask) — the oracle
  * applies the identical mask, making the imputation itself the thing
  * under test.
  */
object Cleaning {

  // -------------------------------------------------------------------
  // c1: one-pass column profile (null/distinct/min/max per column) —
  // the reference's "Dataset Overview". A single scan computes every
  // per-column aggregate; the 1-row result is exploded into long form.
  // (count(DISTINCT a), count(DISTINCT b), ... in one agg → Catalyst
  // plans a single Expand, still one pass over the data — and the
  // Expand is OPTIMAL here: the distinct children are different
  // columns with no common grain, so the only Expand-free exact
  // alternative is one scan PER column. PLANS.md "Round-5 Expand
  // audit".)
  def c1(s: SparkSession, dir: String): DataFrame =
    profile(Tables.orders(s, dir),
      numCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
      strCols = Seq("o_orderstatus", "o_orderpriority"),
      exact = true)

  /** Library API: one-pass column profile of ANY frame.
    *
    * `exact = false` (the default, and the 100 TB path) swaps
    * countDistinct for approx_count_distinct: the HLL sketch is a
    * plain mergeable aggregate, so the plan has NO Expand — the scan
    * is processed once with zero row replication (the exact
    * multi-distinct replicates every row ×(columns+1)) and the
    * per-partition state is a fixed-size sketch instead of a distinct
    * value set. ~2% relative error (Spark's default rsd 0.05 bound;
    * spec-measured much tighter on real columns). `exact = true` is
    * the oracle-parity path c1 uses.
    *
    * The exact path is also why c1 compiles generated code again on
    * every run (3-10 classes per run, the rest of the inventory ~0 once
    * Spark's codegen cache holds it, `Sessions.tune`). Spark's
    * RewriteDistinctAggregates numbers the distinct groups (the Expand's
    * `gid`s and projection order) in the iteration order of a hash map
    * keyed by each group's attributes, whose hashes include their
    * exprIds; every construction reads the table under new exprIds, so
    * the Expand and the aggregates above it come out in another order
    * and their code misses the cache. Nothing in graft's plan decides
    * the order, and the one-pass exact alternatives (collect_set sizes,
    * one scan per column) cost far more than the compiles. */
  def profile(df: DataFrame, numCols: Seq[String], strCols: Seq[String],
      exact: Boolean = false): DataFrame = {
    def nd(c: String): Column =
      if (exact) countDistinct(col(c)) else approx_count_distinct(col(c))
    val aggs =
      numCols.flatMap(c => Seq(
        count(col(c)).as(s"${c}__nn"), nd(c).as(s"${c}__nd"),
        min(col(c)).cast("double").as(s"${c}__mn"), max(col(c)).cast("double").as(s"${c}__mx"))) ++
      strCols.flatMap(c => Seq(
        count(col(c)).as(s"${c}__nn"), nd(c).as(s"${c}__nd"),
        min(col(c)).as(s"${c}__mns"), max(col(c)).as(s"${c}__mxs")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows =
      numCols.map(c => struct(lit(c).as("col_name"),
        col(s"${c}__nn").as("n_nonnull"), col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__mn").as("min_num"), col(s"${c}__mx").as("max_num"),
        lit(null).cast("string").as("min_str"), lit(null).cast("string").as("max_str"))) ++
      strCols.map(c => struct(lit(c).as("col_name"),
        col(s"${c}__nn").as("n_nonnull"), col(s"${c}__nd").as("n_distinct"),
        lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
        col(s"${c}__mns").as("min_str"), col(s"${c}__mxs").as("max_str")))
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      // one row per profiled column — bounded output; 1-task sort
      // instead of orderBy so the range sampler doesn't re-execute
      // the exact-distinct merge (q18's rationale)
      .repartition(1).sortWithinPartitions(col("col_name"))
  }

  val c1Sql: String =
    """SELECT * FROM (
      |  SELECT 'o_orderkey' AS col_name, count(o_orderkey) AS n_nonnull, count(DISTINCT o_orderkey) AS n_distinct,
      |         CAST(min(o_orderkey) AS DOUBLE) AS min_num, CAST(max(o_orderkey) AS DOUBLE) AS max_num,
      |         CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM orders
      |  UNION ALL
      |  SELECT 'o_custkey', count(o_custkey), count(DISTINCT o_custkey),
      |         CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE), NULL, NULL FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice', count(o_totalprice), count(DISTINCT o_totalprice),
      |         min(o_totalprice), max(o_totalprice), NULL, NULL FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', count(o_orderstatus), count(DISTINCT o_orderstatus),
      |         NULL, NULL, min(o_orderstatus), max(o_orderstatus) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', count(o_orderpriority), count(DISTINCT o_orderpriority),
      |         NULL, NULL, min(o_orderpriority), max(o_orderpriority) FROM orders
      |) ORDER BY col_name""".stripMargin

  // -------------------------------------------------------------------
  // c2: median imputation (ref main.py:77-79). NULLs injected where
  // event_type='error'; the global median of the surviving values is
  // broadcast back. Exact mode here is the ORACLE path (DuckDB
  // quantile_cont parity); the library default for unbounded domains
  // is the sketch — see functions.Quantiles for the memory contract
  // (Pipeline.clean already imputes via the sketch). Operator shape
  // is identical either way.
  def c2(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("v", when(col("event_type") =!= "error", col("value")))
    val med = ev.agg(graft.functions.Quantiles.quantile(col("v"), 0.5, exact = true).as("med"))
    ev.join(broadcast(med))
      .withColumn("v_imp", coalesce(col("v"), col("med")))
      .groupBy(col("event_type"))
      .agg(count(col("v")).as("n_observed"), count(col("v_imp")).as("n_after_impute"),
        sumd(col("v_imp")).as("sum_imputed"))
      .orderBy(col("event_type"))
  }

  val c2Sql: String =
    """WITH masked AS (
      |  SELECT event_type, CASE WHEN event_type <> 'error' THEN value END AS v FROM events
      |), m AS (SELECT quantile_cont(v, 0.5) AS med FROM masked)
      |SELECT event_type, count(v) AS n_observed, count(coalesce(v, med)) AS n_after_impute,
      |  CAST(sum(CAST(coalesce(v, med) AS DECIMAL(18,2))) AS DOUBLE) AS sum_imputed
      |FROM masked, m
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // c3: mode imputation for categoricals (ref main.py:81-84). NULLs
  // injected on documents.lang where source='src0'; mode = most
  // frequent surviving value, ties broken by smallest value (pandas
  // .mode()[0] semantics). Mode is computed with one groupBy + top-1
  // sort-limit — no driver collect.
  def c3(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("lg", when(col("source") =!= "src0", col("lang")))
    val mode = d.filter(col("lg").isNotNull)
      .groupBy(col("lg")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("lg")).limit(1)
      .select(col("lg").as("mode_lang"))
    d.join(broadcast(mode))
      .withColumn("lang_imp", coalesce(col("lg"), col("mode_lang")))
      .groupBy(col("lang_imp"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_imp"))
  }

  val c3Sql: String =
    """WITH masked AS (
      |  SELECT doc_id, CASE WHEN source <> 'src0' THEN lang END AS lg FROM documents
      |), mode AS (
      |  SELECT lg AS mode_lang FROM masked WHERE lg IS NOT NULL
      |  GROUP BY lg ORDER BY count(*) DESC, lg LIMIT 1)
      |SELECT coalesce(lg, mode_lang) AS lang_imp, count(*) AS n_docs
      |FROM masked, mode
      |GROUP BY 1
      |ORDER BY lang_imp""".stripMargin

  // -------------------------------------------------------------------
  // c4: IQR outlier clipping (ref main.py:120-127): clip l_quantity to
  // [Q1-1.5*IQR, Q3+1.5*IQR]. Quantiles of integral values at quarter
  // fractions are exact in FP, so bounds are bit-identical across
  // engines. Bounds broadcast back. l_quantity is a BOUNDED domain
  // (50 distinct values), so exact `percentile` IS the 100 TB plan
  // here per functions.Quantiles' rule — not just the oracle mode.
  def c4(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    import graft.functions.Quantiles.quantile
    val q = li.agg(
      quantile(col("l_quantity"), 0.25, exact = true).as("q1"),
      quantile(col("l_quantity"), 0.75, exact = true).as("q3"))
      .select(col("q1"), col("q3"),
        (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
    li.join(broadcast(q))
      .withColumn("clipped", least(greatest(col("l_quantity"), col("lo")), col("hi")))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("l_quantity") < col("lo"), 1L).otherwise(0L)).as("n_clip_low"),
        sum(when(col("l_quantity") > col("hi"), 1L).otherwise(0L)).as("n_clip_high"),
        sumd(col("clipped")).as("sum_clipped"))
      .orderBy(col("l_returnflag"))
  }

  val c4Sql: String =
    """WITH q AS (
      |  SELECT quantile_cont(l_quantity, 0.25) AS q1, quantile_cont(l_quantity, 0.75) AS q3 FROM lineitem
      |), b AS (SELECT q1 - (q3-q1)*1.5 AS lo, q3 + (q3-q1)*1.5 AS hi FROM q)
      |SELECT l_returnflag,
      |  CAST(sum(CASE WHEN l_quantity < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
      |  CAST(sum(CASE WHEN l_quantity > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
      |  CAST(sum(CAST(least(greatest(l_quantity, lo), hi) AS DECIMAL(18,2))) AS DOUBLE) AS sum_clipped
      |FROM lineitem, b
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------
  // c5: label encoding of a low-cardinality string column (ref
  // main.py:103-105). Codes are dense ranks over the sorted distinct
  // values — computed on the (tiny) distinct set, then broadcast-joined
  // back; the window never sees the full table, so no single-partition
  // bottleneck at scale.
  def c5(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val codes = o.select(col("o_orderpriority")).distinct()
      .withColumn("code",
        (row_number().over(Window.orderBy(col("o_orderpriority"))) - 1).cast("long"))
    o.join(broadcast(codes), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"), col("code"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("code"))
  }

  val c5Sql: String =
    """WITH codes AS (
      |  SELECT o_orderpriority, row_number() OVER (ORDER BY o_orderpriority) - 1 AS code
      |  FROM (SELECT DISTINCT o_orderpriority FROM orders))
      |SELECT o.o_orderpriority, c.code, count(*) AS n_orders
      |FROM orders o JOIN codes c USING (o_orderpriority)
      |GROUP BY o.o_orderpriority, c.code
      |ORDER BY code""".stripMargin

  // -------------------------------------------------------------------
  // c6: frequency encoding of a high-cardinality string column (ref
  // main.py:98-101): value → its occurrence count. A count window
  // partitioned by the column = one shuffle on the encoded key; same
  // plan as groupBy+join but without materializing the map.
  def c6(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.withColumn("source_freq", count(lit(1)).over(Window.partitionBy(col("source"))))
      .select(col("doc_id"), col("source"), col("source_freq"))
      .orderBy(col("doc_id"))
  }

  val c6Sql: String =
    """SELECT doc_id, source, count(*) OVER (PARTITION BY source) AS source_freq
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // c7: datetime feature expansion (ref main.py:107-118): year, month,
  // day, hour, ISO weekday (Mon=1), ISO week. All codegen'd scalar
  // expressions — map-only, no shuffle.
  def c7(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_id"),
        year(col("ts")).cast("long").as("ts_year"),
        month(col("ts")).cast("long").as("ts_month"),
        dayofmonth(col("ts")).cast("long").as("ts_day"),
        hour(col("ts")).cast("long").as("ts_hour"),
        (weekday(col("ts")) + 1).cast("long").as("ts_isodow"),
        weekofyear(col("ts")).cast("long").as("ts_isoweek"))
      .orderBy(col("event_id"))
  }

  val c7Sql: String =
    """SELECT event_id,
      |  CAST(year(ts) AS BIGINT) AS ts_year, CAST(month(ts) AS BIGINT) AS ts_month,
      |  CAST(day(ts) AS BIGINT) AS ts_day, CAST(hour(ts) AS BIGINT) AS ts_hour,
      |  CAST(isodow(ts) AS BIGINT) AS ts_isodow, CAST(week(ts) AS BIGINT) AS ts_isoweek
      |FROM events
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // c8: all-null column detection (ref main.py:72 dropna(axis=1,
  // how='all')). A synthetic all-null column is added; the profile
  // marks columns to drop (n_nonnull = 0) in one scan.
  def c8(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .withColumn("ghost", lit(null).cast("double"))
    val aggs = Seq("o_orderkey", "o_totalprice", "o_orderstatus", "ghost")
      .map(c => count(col(c)).as(s"${c}__nn"))
    val one = o.agg(aggs.head, aggs.tail: _*)
    val rows = Seq("o_orderkey", "o_totalprice", "o_orderstatus", "ghost").map(c =>
      struct(lit(c).as("col_name"), col(s"${c}__nn").as("n_nonnull"),
        (col(s"${c}__nn") === 0).as("drop_col")))
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy(col("col_name"))
  }

  val c8Sql: String =
    """SELECT * FROM (
      |  SELECT 'o_orderkey' AS col_name, count(o_orderkey) AS n_nonnull, count(o_orderkey)=0 AS drop_col FROM orders
      |  UNION ALL SELECT 'o_totalprice', count(o_totalprice), count(o_totalprice)=0 FROM orders
      |  UNION ALL SELECT 'o_orderstatus', count(o_orderstatus), count(o_orderstatus)=0 FROM orders
      |  UNION ALL SELECT 'ghost', count(CAST(NULL AS DOUBLE)), count(CAST(NULL AS DOUBLE))=0 FROM orders
      |) ORDER BY col_name""".stripMargin

  // -------------------------------------------------------------------
  // c9: exact row dedup — keep the first event (by time) per
  // (user_id, event_type). row_number over the dedup key = one shuffle;
  // equivalent to dropDuplicates but with a deterministic keep rule
  // (dropDuplicates keeps an arbitrary row — not oracle-safe).
  def c9(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(unix_millis(col("ts")), col("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val c9Sql: String =
    """SELECT user_id, event_type, event_id AS first_event_id FROM (
      |  SELECT user_id, event_type, event_id,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY epoch_ms(ts), event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  // -------------------------------------------------------------------
  // c10: string-column type inference — the reference's dtype
  // detection (clean_data probes object columns for parseability,
  // main.py:107-118) as a distributed profile: for each string column,
  // how many values survive try_cast to DOUBLE, and the inferred type
  // at a 95% threshold. The frame under test is documents with
  // n_chars stringified — a numeric-as-text column alongside genuinely
  // textual ones, the exact mix upload ingestion sees.
  //
  // Scale shape: ONE full-table agg computes every column's counters
  // (no per-column jobs — the Pipeline.clean lesson from round 3);
  // try_cast is codegen'd per row, the result is O(columns) rows.
  // Its three countDistincts recompile 0-4 classes per run: the Expand
  // order is Spark's, drawn from exprId hashes (see `profile`).
  def c10(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("lang"), col("source"), col("n_chars").cast("string").as("n_chars_str"))
    val cols = Seq("lang", "source", "n_chars_str")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}__nn"),
      countDistinct(col(c)).as(s"${c}__nd"),
      count(expr(s"try_cast($c AS DOUBLE)")).as(s"${c}__num")))
    val one = d.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map(c => struct(lit(c).as("col_name"),
      col(s"${c}__nn").as("n_nonnull"), col(s"${c}__nd").as("n_distinct"),
      col(s"${c}__num").as("n_numeric"),
      round(col(s"${c}__num").cast("double") / col(s"${c}__nn"), 4).as("pct_numeric"),
      // integer cross-multiplication: num*100 >= nn*95 ⟺ num >= 0.95·nn
      // exactly — Spark's double 0.95 and DuckDB's DECIMAL(3,2) 0.95
      // disagree on exact-95% knife-edge columns (20·0.95 is
      // 19.000000000000004 as a double)
      when(col(s"${c}__num") * 100 >= col(s"${c}__nn") * 95, "numeric")
        .otherwise("string").as("inferred_type")))
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy(col("col_name"))
  }

  val c10Sql: String =
    """WITH d AS (SELECT lang, source, CAST(n_chars AS VARCHAR) AS n_chars_str
      |           FROM documents)
      |SELECT * FROM (
      |  SELECT 'lang' AS col_name, count(lang) AS n_nonnull,
      |         count(DISTINCT lang) AS n_distinct,
      |         count(try_cast(lang AS DOUBLE)) AS n_numeric,
      |         round(CAST(count(try_cast(lang AS DOUBLE)) AS DOUBLE) / count(lang), 4) AS pct_numeric,
      |         CASE WHEN count(try_cast(lang AS DOUBLE)) * 100 >= count(lang) * 95
      |              THEN 'numeric' ELSE 'string' END AS inferred_type
      |  FROM d
      |  UNION ALL
      |  SELECT 'source', count(source), count(DISTINCT source),
      |         count(try_cast(source AS DOUBLE)),
      |         round(CAST(count(try_cast(source AS DOUBLE)) AS DOUBLE) / count(source), 4),
      |         CASE WHEN count(try_cast(source AS DOUBLE)) * 100 >= count(source) * 95
      |              THEN 'numeric' ELSE 'string' END
      |  FROM d
      |  UNION ALL
      |  SELECT 'n_chars_str', count(n_chars_str), count(DISTINCT n_chars_str),
      |         count(try_cast(n_chars_str AS DOUBLE)),
      |         round(CAST(count(try_cast(n_chars_str AS DOUBLE)) AS DOUBLE) / count(n_chars_str), 4),
      |         CASE WHEN count(try_cast(n_chars_str AS DOUBLE)) * 100 >= count(n_chars_str) * 95
      |              THEN 'numeric' ELSE 'string' END
      |  FROM d
      |) ORDER BY col_name""".stripMargin

  // -------------------------------------------------------------------
  // c11: sentinel-null standardization — real ingests encode "missing"
  // as ''/'NA'/'N/A'/'null'/whitespace, which silently defeats every
  // downstream null-aware step (impute, drop-allnull, profile). The
  // operator maps the sentinel family to true NULL in one map-side
  // pass (trim+casefold+set membership, whole-stage codegen — no
  // shuffle until the report agg). Sentinels are planted
  // deterministically on c_custkey so both engines clean the same
  // dirt; the report groups the cleaned column with NULL shown as
  // '(missing)'.
  def c11(s: SparkSession, dir: String): DataFrame = {
    val dirty = Tables.customer(s, dir).select(col("c_custkey"),
      when(pmod(col("c_custkey"), lit(19)) === 0, lit("N/A"))
        .when(pmod(col("c_custkey"), lit(19)) === 1, lit(""))
        .when(pmod(col("c_custkey"), lit(19)) === 2, lit("null"))
        .when(pmod(col("c_custkey"), lit(19)) === 3, lit("  "))
        .otherwise(col("c_mktsegment")).as("seg"))
    dirty
      .withColumn("seg",
        when(trim(lower(col("seg"))).isin("", "na", "n/a", "null", "?"), lit(null))
          .otherwise(col("seg")))
      .groupBy(coalesce(col("seg"), lit("(missing)")).as("segment"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("segment"))
  }

  val c11Sql: String =
    """WITH dirty AS (
      |  SELECT CASE c_custkey % 19
      |    WHEN 0 THEN 'N/A' WHEN 1 THEN '' WHEN 2 THEN 'null' WHEN 3 THEN '  '
      |    ELSE c_mktsegment END AS seg
      |  FROM customer),
      |clean AS (
      |  SELECT CASE WHEN trim(lower(seg)) IN ('', 'na', 'n/a', 'null', '?')
      |    THEN NULL ELSE seg END AS seg
      |  FROM dirty)
      |SELECT coalesce(seg, '(missing)') AS segment, count(*) AS n_rows
      |FROM clean
      |GROUP BY 1
      |ORDER BY segment""".stripMargin

  // -------------------------------------------------------------------
  // c12: expectations report — declarative data-quality rules checked
  // in ONE scan (the great-expectations/dbt-test primitive, Spark-
  // native): every rule is a sum(CASE) inside a single aggregate, so
  // adding a rule adds a column, never a pass. The 1-row aggregate
  // explodes to per-rule rows (c10's struct-explode shape). At 100 TB
  // this is the cheapest possible shape: one scan, map-side partial
  // aggs, a 1-row merge, O(rules) output.
  def c12(s: SparkSession, dir: String): DataFrame = {
    val known = Seq("click", "view", "purchase", "error", "signup")
    val e = Tables.events(s, dir)
    val one = e.agg(
      count(lit(1)).as("n"),
      sum(when(col("value").isNull || col("value") < 0, 1L).otherwise(0L)).as("v_value"),
      sum(when(col("event_type").isNull || !col("event_type").isin(known: _*), 1L).otherwise(0L))
        .as("v_type"),
      sum(when(col("ts").isNull || col("ts") < to_timestamp(lit("1990-01-01")) ||
        col("ts") >= to_timestamp(lit("2030-01-01")), 1L).otherwise(0L)).as("v_ts"),
      sum(when(col("props").isNull || !col("props").like("{%}"), 1L).otherwise(0L)).as("v_props"))
    val rules = Seq(
      ("value_nonnegative", "v_value"), ("event_type_known", "v_type"),
      ("ts_in_range", "v_ts"), ("props_wellformed", "v_props"))
    val rows = rules.map { case (name, c) =>
      struct(lit(name).as("rule"), col("n").as("n_checked"),
        col(c).as("n_violations"),
        (col(c).cast("double") / col("n")).as("violation_rate"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
      .orderBy(col("rule"))
  }

  val c12Sql: String =
    """WITH a AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END) AS v_value,
      |    sum(CASE WHEN event_type IS NULL OR event_type NOT IN
      |        ('click', 'view', 'purchase', 'error', 'signup') THEN 1 ELSE 0 END) AS v_type,
      |    sum(CASE WHEN ts IS NULL OR ts < TIMESTAMP '1990-01-01'
      |        OR ts >= TIMESTAMP '2030-01-01' THEN 1 ELSE 0 END) AS v_ts,
      |    sum(CASE WHEN props IS NULL OR props NOT LIKE '{%}' THEN 1 ELSE 0 END) AS v_props
      |  FROM events)
      |SELECT * FROM (
      |  SELECT 'value_nonnegative' AS rule, n AS n_checked,
      |    CAST(v_value AS BIGINT) AS n_violations, CAST(v_value AS DOUBLE)/n AS violation_rate FROM a
      |  UNION ALL
      |  SELECT 'event_type_known', n, CAST(v_type AS BIGINT), CAST(v_type AS DOUBLE)/n FROM a
      |  UNION ALL
      |  SELECT 'ts_in_range', n, CAST(v_ts AS BIGINT), CAST(v_ts AS DOUBLE)/n FROM a
      |  UNION ALL
      |  SELECT 'props_wellformed', n, CAST(v_props AS BIGINT), CAST(v_props AS DOUBLE)/n FROM a
      |) ORDER BY rule""".stripMargin

  // -------------------------------------------------------------------
  // c13: referential-integrity audit — orphaned-foreign-key counts and
  // rates for the schema's FK edges (the cross-TABLE data-quality
  // check c12's single-table rules can't express; in a lake, broken
  // FKs are how partial loads and late dims surface). Each edge is ONE
  // left join + count-nulls pass (an anti-join would need a second
  // pass for the denominator); parent keys are primary keys, so the
  // join can't fan out. Rates are emitted as integer PARTS-PER-MILLION
  // (n·10⁶ div total): exact in both engines, no FP rounding ties.
  // Scale: each audit is a co-partitioned shuffle join whose compute
  // is one boolean per child row — scan-bound, and the three audits
  // are independent jobs.
  def c13(s: SparkSession, dir: String): DataFrame = {
    def audit(child: DataFrame, ckey: String, parent: DataFrame, pkey: String,
        name: String): DataFrame =
      child.select(col(ckey).as("__k"))
        .join(parent.select(col(pkey).as("__p")), col("__k") === col("__p"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("__p").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_child"), col("n_orphans"),
          expr("n_orphans * 1000000L div n_child").as("orphan_ppm"))
    audit(Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir), "o_orderkey",
        "lineitem.l_orderkey -> orders")
      .unionByName(audit(Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir),
        "c_custkey", "orders.o_custkey -> customer"))
      .unionByName(audit(Tables.events(s, dir), "user_id", Tables.customer(s, dir),
        "c_custkey", "events.user_id -> customer"))
      .orderBy(col("relationship"))
  }

  val c13Sql: String =
    """SELECT * FROM (
      |  SELECT 'lineitem.l_orderkey -> orders' AS relationship,
      |    count(*) AS n_child,
      |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
      |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) * 1000000 AS BIGINT) // count(*) AS orphan_ppm
      |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |  UNION ALL
      |  SELECT 'orders.o_custkey -> customer', count(*),
      |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) * 1000000 AS BIGINT) // count(*)
      |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |  UNION ALL
      |  SELECT 'events.user_id -> customer', count(*),
      |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) * 1000000 AS BIGINT) // count(*)
      |  FROM events LEFT JOIN customer ON user_id = c_custkey
      |) ORDER BY relationship""".stripMargin

  // -------------------------------------------------------------------
  // c14: calendar gap-fill + LOCF imputation — the time-series
  // densification every daily-metrics pipeline needs before trend
  // models see the data (a user with no Tuesday events must show a
  // Tuesday ROW, not an invisible hole). Per-user daily rollup, a
  // calendar spine from each user's own [first, last] activity range
  // (sequence + explode — fan-out bounded by the CALENDAR, not data),
  // left join, then last-observation-carried-forward via
  // last(ignoreNulls) over an ordered per-user window. Scale shape:
  // all three shuffles run at DAILY grain (≤ users × horizon-days
  // rows — orders of magnitude under the event scan that feeds them);
  // the LOCF window partitions by user with calendar-bounded
  // partition sizes. Carried values are copied bits (no arithmetic),
  // so LOCF is FP-exact in both engines; days ship as ISO strings
  // (no cross-engine date-encoding hazard).
  def c14(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"), sumd(col("value")).as("day_value"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
      .select(col("user_id"), explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        when(col("n_events").isNull, 1L).otherwise(0L).as("is_gap"),
        last(col("day_value"), ignoreNulls = true).over(w).as("day_value_filled"))
      .orderBy(col("user_id"), col("day"))
  }

  val c14Sql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT user_id,
      |    unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
      |  FROM daily GROUP BY user_id)
      |SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
      |  coalesce(d.n_events, 0) AS n_events,
      |  CAST(CASE WHEN d.n_events IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
      |  last_value(d.day_value IGNORE NULLS) OVER (PARTITION BY s.user_id ORDER BY s.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_value_filled
      |FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
      |ORDER BY s.user_id, day""".stripMargin

  // -------------------------------------------------------------------
  // c15: robust (median/MAD) outlier audit — c4's IQR clip bounds the
  // tails, but the robust-statistics standard for CONTAMINATED data is
  // the MAD z-score: median and median-absolute-deviation are
  // 50%-breakdown estimators, so the outliers being hunted cannot
  // poison the fence that hunts them (a mean/std fence moves toward
  // the outliers; c4's quartiles resist only 25% contamination).

  /** Per-group median, MAD, and count of |x − med| > k·1.4826·MAD
    * outliers (1.4826 rescales MAD to σ under normality, so `k` reads
    * as a z-score). Quantile mode follows the [[graft.functions.Quantiles]]
    * contract: DEFAULT is the fixed-memory sketch (the only admissible
    * default when `valueCol`'s domain is unbounded); `exact = true` is
    * the bounded-domain/oracle opt-in. Exact MAD needs the median
    * before deviations exist, so the op is inherently multi-pass:
    * three scan-bound passes over two pruned columns (med → MAD →
    * count), each a partial-agg shuffle of |groups| rows. The med/MAD
    * frames broadcast back under the caller's contract that |groups|
    * is bounded (c5's label-map rule); the fences are one IEEE
    * multiply of engine-identical constants, so the oracle compare is
    * bit-exact. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     k: Double = 3.0, exact: Boolean = false): DataFrame = {
    import graft.functions.Quantiles
    val v = col(valueCol)
    val med = df.groupBy(col(groupCol))
      .agg(Quantiles.quantile(v, 0.5, exact).as("med"))
    val dev = df.join(broadcast(med), Seq(groupCol))
      .withColumn("__ad", abs(v - col("med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(Quantiles.quantile(col("__ad"), 0.5, exact).as("mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"), max(col("mad")).as("mad"),
        count(when(col("__ad") > lit(k * 1.4826) * col("mad"), lit(1))).as("n_outliers"))
  }

  /** c15: MAD outlier audit of events.value per event_type (5
    * schema-fixed types; TPC-H's uniform price columns have BOUNDED
    * tails — max deviation 2·MAD < the 4.45·MAD fence — so the demo
    * runs on the one heavy-tailed column in the corpus). Exact mode
    * is the ORACLE path (c2's rule — DuckDB quantile_cont parity);
    * the library default is the sketch. */
  def c15(s: SparkSession, dir: String): DataFrame =
    robustOutliers(
      Tables.events(s, dir).select(col("event_type"), col("value")),
      "event_type", "value", k = 3.0, exact = true)
      .orderBy(col("event_type"))

  val c15Sql: String =
    """WITH ev AS (SELECT event_type, value FROM events),
      |med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM ev GROUP BY 1),
      |dev AS (
      |  SELECT event_type, med, abs(value - med) AS ad
      |  FROM ev JOIN med USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1)
      |SELECT event_type, count(*) AS n, max(med) AS med, max(mad) AS mad,
      |  count(CASE WHEN ad > (3.0 * 1.4826) * mad THEN 1 END) AS n_outliers
      |FROM dev JOIN mad USING (event_type)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // c16: Benford first-digit audit — the classic fabricated-data smell
  // test a data-quality pipeline runs over monetary columns. The
  // leading digit is extracted with INTEGER arithmetic only: cents =
  // round(x·100) as BIGINT, then digit = cents div 10^(ndigits−1)
  // where the divisor is built by STRING repetition ('1' || '0'×k) —
  // never floor(log10(x)), whose FP error flips the digit at every
  // power-of-10 boundary (log10(1000) can evaluate 2.999…). Expected
  // Benford mass is the 9-constant log10(1+1/d) table in integer ppm.
  // ONE scan, ≤9-row aggregate, 1-row total broadcast back.
  def c16(s: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(s, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .filter(col("c") > 0)
      .withColumn("digit", expr(
        "c div cast(concat('1', repeat('0', length(cast(c as string)) - 1)) as bigint)"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("__t"))
    digits.crossJoin(broadcast(tot)) // provably 1 row
      .select(col("digit"), col("n"),
        expr("n * 1000000L div __t").as("obs_ppm"),
        expr("cast(round(log10(1 + 1.0 / digit) * 1000000) as bigint)").as("benford_ppm"))
      .orderBy(col("digit"))
  }

  val c16Sql: String =
    """WITH d AS (
      |  SELECT c, c // CAST('1' || repeat('0', length(CAST(c AS VARCHAR)) - 1) AS BIGINT) AS digit
      |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders)
      |  WHERE c > 0),
      |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM g)
      |SELECT digit, n,
      |  n * 1000000 // tt AS obs_ppm,
      |  CAST(round(log10(1 + 1.0 / digit) * 1000000) AS BIGINT) AS benford_ppm
      |FROM g, t
      |ORDER BY digit""".stripMargin

  // -------------------------------------------------------------------
  // c17: cross-table AMOUNT reconciliation — does each order's header
  // total equal the sum of its line revenues? c13 audits KEYS
  // (orphaned foreign keys); c17 audits the MONEY, the other half of
  // every warehouse reconciliation run. One lineitem aggregate at
  // orderkey grain (map-side partial agg — the only fact-sized
  // shuffle), one LEFT join from orders (headers with NO lines are
  // their own defect class, reported separately), exact-decimal
  // comparison at a 1-cent tolerance — never a double equality. The
  // 1-row report: orders, lineless orders, mismatches, integer-ppm
  // rate, and the worst absolute gap (a SELECTing max, no FP sum).
  // On this synthetic corpus o_totalprice is generated independently
  // of lineitem, so the mismatch rate is ~1e6 ppm — the audit's
  // non-vacuous demonstration; CleaningSpec proves the zero case on
  // planted consistent frames.
  def c17(s: SparkSession, dir: String): DataFrame = {
    val lt = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec2(col("l_extendedprice")) *
        (lit(1).cast(org.apache.spark.sql.types.DecimalType(18, 2)) -
          dec2(col("l_discount")))).as("__rev"))
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      .join(lt, col("o_orderkey") === col("l_orderkey"), "left")
      .select(
        when(col("__rev").isNull, 1L).otherwise(0L).as("__lineless"),
        when(col("__rev").isNotNull &&
          abs(dec2(col("o_totalprice")) - col("__rev")) >
            lit("0.01").cast(org.apache.spark.sql.types.DecimalType(18, 4)), 1L)
          .otherwise(0L).as("__mismatch"),
        when(col("__rev").isNotNull,
          abs(dec2(col("o_totalprice")) - col("__rev"))).as("__gap"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("__lineless")).as("n_lineless"),
        sum(col("__mismatch")).as("n_mismatch"),
        expr("sum(__mismatch) * 1000000 div (count(1) - sum(__lineless))")
          .as("mismatch_ppm"),
        max(col("__gap")).cast("double").as("max_abs_gap"))
  }

  val c17Sql: String =
    """WITH lt AS (
      |  SELECT l_orderkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT CASE WHEN rev IS NULL THEN 1 ELSE 0 END AS lineless,
      |    CASE WHEN rev IS NOT NULL
      |      AND abs(CAST(o_totalprice AS DECIMAL(18,2)) - rev) > 0.01
      |      THEN 1 ELSE 0 END AS mismatch,
      |    CASE WHEN rev IS NOT NULL
      |      THEN abs(CAST(o_totalprice AS DECIMAL(18,2)) - rev) END AS gap
      |  FROM orders LEFT JOIN lt ON o_orderkey = l_orderkey)
      |SELECT count(*) AS n_orders,
      |  CAST(sum(lineless) AS BIGINT) AS n_lineless,
      |  CAST(sum(mismatch) AS BIGINT) AS n_mismatch,
      |  CAST(sum(mismatch) AS BIGINT) * 1000000 // (count(*) - CAST(sum(lineless) AS BIGINT)) AS mismatch_ppm,
      |  CAST(max(gap) AS DOUBLE) AS max_abs_gap
      |FROM j""".stripMargin

  // -------------------------------------------------------------------
  // c18: the GK-sketch rank-error audit (round-13 VERDICT directive 4).
  // functions.Quantiles defaults EVERY percentile call site to
  // approx_percentile at accuracy 10k, and the library's own
  // measure-don't-guess rule (d9/s10/d18) says: a default
  // approximation needs a registered key that MEASURES its error, not
  // a Scaladoc claim. This audit runs the default sketch beside the
  // exact percentile over the exact distributions the cleaning family
  // feeds it — c2's masked events.value median, c4's l_quantity
  // quartiles, c15's events.value median and MAD deviations — and
  // checks the sketch value's TRUE rank against the type-7 target.
  //
  // Gate shape: the sketch's value is engine- and merge-order-specific
  // (GK merge is not order-invariant), so the raw error can't be
  // hash-gated. What IS deterministic: n, the exact percentile (the
  // oracle side), the guarantee bound (rank error ≤ n/accuracy, i.e.
  // 100 ppm at the 10k default), and WHETHER the measured error sits
  // inside the bound. The oracle asserts within_bound = TRUE — if any
  // SF's sketch ever drifts past its contract, the hash flips and the
  // driver gate FAILS. The raw rank_err_ppm is spec-pinned
  // (CleaningSpec) rather than gated.
  //
  // Scale shape: two scan-bound passes per distribution (one for the
  // three aggregates, one to rank the 1-row broadcast sketch value) —
  // the same pattern as c2/c4 themselves; nothing leaves the
  // aggregate grain.

  /** Full audit row for one (distribution, p): n_vals, exact_val,
    * sketch_val, rank_err_ppm, bound_ppm, within_bound. `within`
    * allows one rank of slack over n/accuracy: the target-rank
    * convention differs by at most one position between the type-7
    * definition used here and the sketch's own. */
  def quantileSketchError(df: DataFrame, valueCol: String, p: Double,
      site: String,
      accuracy: Int = graft.functions.Quantiles.DefaultAccuracy): DataFrame = {
    import graft.functions.Quantiles
    val v = col(valueCol)
    val base = df.filter(v.isNotNull).select(v.as("__v"))
    val agg1 = base.agg(
      count(lit(1)).as("n_vals"),
      Quantiles.quantile(col("__v"), p, exact = true).as("exact_val"),
      Quantiles.quantile(col("__v"), p, accuracy = accuracy).as("sketch_val"))
    base.crossJoin(broadcast(agg1)) // provably 1 row
      .groupBy(col("n_vals"), col("exact_val"), col("sketch_val"))
      .agg(
        sum(when(col("__v") < col("sketch_val"), 1L).otherwise(0L)).as("__lt"),
        sum(when(col("__v") <= col("sketch_val"), 1L).otherwise(0L)).as("__le"))
      // the sketch value occupies 0-based ranks [__lt, __le-1]; error =
      // distance from that interval to the type-7 target p·(n−1)
      .withColumn("__t", lit(p) * (col("n_vals") - 1).cast("double"))
      .withColumn("__err", greatest(lit(0.0),
        col("__lt").cast("double") - col("__t"),
        col("__t") - (col("__le") - 1).cast("double")))
      .select(
        lit(site).as("site"), lit(p).as("p"), col("n_vals"),
        col("exact_val"), col("sketch_val"),
        ceil(col("__err") * 1000000.0 / col("n_vals").cast("double")).cast("long")
          .as("rank_err_ppm"),
        lit(1000000L / accuracy).as("bound_ppm"),
        (col("__err") <= col("n_vals").cast("double") / accuracy + 1.0)
          .as("within_bound"))
  }

  def c18(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val c2dist = ev.filter(col("event_type") =!= "error")
      .select(col("value").as("v"))
    val liQty = Tables.lineitem(s, dir)
      .select(col("l_quantity").cast("double").as("v"))
    val evAll = ev.select(col("value").as("v")).filter(col("v").isNotNull)
    val evMed = evAll.agg(
      graft.functions.Quantiles.quantile(col("v"), 0.5, exact = true).as("__m"))
    val absDev = evAll.crossJoin(broadcast(evMed))
      .select(abs(col("v") - col("__m")).as("v"))
    val gateCols = Seq("site", "p", "n_vals", "exact_val", "bound_ppm",
      "within_bound").map(col)
    Seq(
      quantileSketchError(c2dist, "v", 0.5, "c2_value_median"),
      quantileSketchError(liQty, "v", 0.25, "c4_qty_q1"),
      quantileSketchError(liQty, "v", 0.75, "c4_qty_q3"),
      quantileSketchError(evAll, "v", 0.5, "c15_value_median"),
      quantileSketchError(absDev, "v", 0.5, "c15_absdev_mad"))
      .map(_.select(gateCols: _*)) // sketch_val/rank_err_ppm are engine-specific: spec-pinned, not gated
      .reduce(_.unionByName(_))
      .orderBy(col("site"), col("p"))
  }

  val c18Sql: String =
    """WITH c2v AS (SELECT value AS v FROM events WHERE event_type <> 'error' AND value IS NOT NULL),
      |liv AS (SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem WHERE l_quantity IS NOT NULL),
      |eva AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
      |evm AS (SELECT quantile_cont(v, 0.5) AS m FROM eva),
      |dev AS (SELECT abs(v - (SELECT m FROM evm)) AS v FROM eva)
      |SELECT * FROM (
      |  SELECT 'c2_value_median' AS site, CAST(0.5 AS DOUBLE) AS p, count(*) AS n_vals,
      |    quantile_cont(v, 0.5) AS exact_val, CAST(100 AS BIGINT) AS bound_ppm, TRUE AS within_bound FROM c2v
      |  UNION ALL
      |  SELECT 'c4_qty_q1', CAST(0.25 AS DOUBLE), count(*), quantile_cont(v, 0.25), 100, TRUE FROM liv
      |  UNION ALL
      |  SELECT 'c4_qty_q3', CAST(0.75 AS DOUBLE), count(*), quantile_cont(v, 0.75), 100, TRUE FROM liv
      |  UNION ALL
      |  SELECT 'c15_value_median', CAST(0.5 AS DOUBLE), count(*), quantile_cont(v, 0.5), 100, TRUE FROM eva
      |  UNION ALL
      |  SELECT 'c15_absdev_mad', CAST(0.5 AS DOUBLE), count(*), quantile_cont(v, 0.5), 100, TRUE FROM dev)
      |ORDER BY site, p""".stripMargin

  // -------------------------------------------------------------------
  // c19: per-column SHANNON-ENTROPY profile — the column-shape signal
  // c1's profile lacks: entropy near ln(n) marks a key-like column
  // (every value distinct), near 0 a constant; normalized against the
  // distinct count it separates "few heavy values" from "uniform
  // spread" — what an auto-profiler uses to pick encodings (c5/c6's
  // 32-distinct rule is the crude form) and to flag leaky join keys.
  // H = ln(n) − (Σ c·ln c)/n computed from the per-value count rollup
  // (the algebraic identity avoids per-row p = c/n math).
  //
  // Scale shape: one shuffle per profiled column at VALUE grain with
  // map-side combine (a production profiler can stack columns into a
  // single pass at the cost of a string cast; kept per-column here so
  // each column groups by its NATIVE type — double bits, dates, longs
  // — which is also what makes the DuckDB twin exact). Determinism:
  // Σ c·ln c accumulates as DECIMAL(28,12) casts (t23's regression-sum
  // rule) so distributed sum order can't move doubles; the final H is
  // scalar double arithmetic on identical sums, rounded 6dp.
  def c19(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def colEntropy(v: Column, name: String): DataFrame =
      ev.groupBy(v.as("__v")).agg(count(lit(1)).as("__c"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("__c")).as("n"),
          sum((col("__c").cast("double") * log(col("__c").cast("double")))
            .cast(org.apache.spark.sql.types.DecimalType(28, 12))).as("__slc"))
        .select(lit(name).as("column"), col("n"), col("n_distinct"),
          round(log(col("n").cast("double"))
            - col("__slc").cast("double") / col("n").cast("double"), 6)
            .as("entropy"))
    colEntropy(col("event_type"), "event_type")
      .unionByName(colEntropy(col("user_id"), "user_id"))
      .unionByName(colEntropy(col("value"), "value"))
      .unionByName(colEntropy(to_date(col("ts")), "day"))
      .orderBy(col("column"))
  }

  val c19Sql: String = {
    def one(expr: String, name: String): String =
      s"""SELECT '$name' AS "column", CAST(sum(c) AS BIGINT) AS n,
         |  count(*) AS n_distinct,
         |  round(ln(CAST(sum(c) AS DOUBLE))
         |    - CAST(sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
         |        AS DECIMAL(28,12))) AS DOUBLE)
         |      / CAST(sum(c) AS DOUBLE), 6) AS entropy
         |FROM (SELECT $expr AS v, count(*) AS c FROM events GROUP BY 1)""".stripMargin
    Seq(one("event_type", "event_type"), one("user_id", "user_id"),
      one("value", "value"), one("CAST(ts AS DATE)", "day"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  // -------------------------------------------------------------------
  // c20: FUNCTIONAL-DEPENDENCY audit — does lhs → rhs hold, and how
  // badly is it violated when it doesn't? The schema-discovery signal
  // a profiler (c1/c19) and an FK audit (c13) both stop short of: FDs
  // say which columns are determined by which (candidate keys,
  // denormalization damage, "is this column safe to drop after a
  // join"). Measure = the g3 repair metric from the FD-discovery
  // literature (TANE's error): the minimum number of rows you must
  // change for the FD to hold = n − Σ_lhs max_rhs count(lhs, rhs),
  // reported as integer ppm (c17's discipline) with holds = (viol ==
  // 0). Five audited pairs span the spectrum: a true FD (nation key →
  // region), its heavily-violated inverse, and three real-shape
  // non-FDs across orders/lineitem/events.
  //
  // Scale shape: per pair, one value-grain groupBy (lhs, rhs) with
  // map-side combine, then an lhs-grain re-aggregation — both bounded
  // by VALUE cardinality, not corpus rows (the profiler class); the
  // final row is a 1-row global agg. All-integer arithmetic, so the
  // oracle replays exactly.
  /** Library API: audit lhs → rhs over `df`; one row of FD statistics
    * ((rows, lhs values, (lhs, rhs) pairs, g3 violations as ppm,
    * holds)). */
  def fdAudit(df: DataFrame, lhs: Column, rhs: Column,
      tbl: String, lname: String, rname: String): DataFrame =
    df.groupBy(lhs.as("__l"), rhs.as("__r")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__l")).agg(sum(col("__c")).as("__n"),
        max(col("__c")).as("__m"), count(lit(1)).as("__k"))
      .agg(sum(col("__n")).as("n_rows"), count(lit(1)).as("n_lhs"),
        sum(col("__k")).as("n_pairs"),
        sum(col("__n") - col("__m")).as("viol"))
      .select(lit(tbl).as("tbl"), lit(lname).as("lhs"), lit(rname).as("rhs"),
        col("n_rows"), col("n_lhs"), col("n_pairs"),
        expr("viol * 1000000 div n_rows").as("viol_ppm"),
        (col("viol") === 0L).as("holds"))

  def c20(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(s, dir)
    Seq(
      fdAudit(nat, col("n_nationkey"), col("n_regionkey"),
        "nation", "n_nationkey", "n_regionkey"),
      fdAudit(nat, col("n_regionkey"), col("n_nationkey"),
        "nation", "n_regionkey", "n_nationkey"),
      fdAudit(Tables.orders(s, dir), col("o_custkey"), col("o_orderpriority"),
        "orders", "o_custkey", "o_orderpriority"),
      fdAudit(Tables.lineitem(s, dir), col("l_orderkey"), col("l_shipdate"),
        "lineitem", "l_orderkey", "l_shipdate"),
      fdAudit(Tables.events(s, dir), col("user_id"), col("event_type"),
        "events", "user_id", "event_type"))
      .reduce(_.unionByName(_))
      .orderBy(col("tbl"), col("lhs"), col("rhs"))
  }

  /** DuckDB twin: the identical two-level count rollup per pair. */
  val c20Sql: String = {
    def one(tbl: String, l: String, r: String): String =
      s"""SELECT '$tbl' AS tbl, '$l' AS lhs, '$r' AS rhs,
         |  CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_lhs,
         |  CAST(sum(k) AS BIGINT) AS n_pairs,
         |  CAST(sum(n) - sum(m) AS BIGINT) * 1000000
         |    // CAST(sum(n) AS BIGINT) AS viol_ppm,
         |  (sum(n) - sum(m)) = 0 AS holds
         |FROM (SELECT l, sum(c) AS n, max(c) AS m, count(*) AS k FROM
         |  (SELECT $l AS l, $r AS r, count(*) AS c FROM $tbl GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    Seq(one("nation", "n_nationkey", "n_regionkey"),
      one("nation", "n_regionkey", "n_nationkey"),
      one("orders", "o_custkey", "o_orderpriority"),
      one("lineitem", "l_orderkey", "l_shipdate"),
      one("events", "user_id", "event_type"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, lhs, rhs")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c20_fd_audit" -> (c20 _),
    "c19_entropy_profile" -> (c19 _),
    "c18_quantile_sketch_error" -> (c18 _),
    "c17_amount_audit" -> (c17 _),
    "c16_benford_audit" -> (c16 _),
    "c15_robust_outliers" -> (c15 _),
    "c14_gap_fill" -> (c14 _),
    "c13_fk_audit" -> (c13 _),
    "c12_expectations" -> (c12 _),
    "c11_null_standardize" -> (c11 _),
    "c1_profile" -> (c1 _), "c2_impute_median" -> (c2 _), "c3_impute_mode" -> (c3 _),
    "c4_outlier_clip" -> (c4 _), "c5_label_encode" -> (c5 _), "c6_freq_encode" -> (c6 _),
    "c7_date_features" -> (c7 _), "c8_drop_allnull" -> (c8 _), "c9_dedup_rows" -> (c9 _),
    "c10_type_infer" -> (c10 _))

  def oracles: Map[String, String] = Map(
    "c20_fd_audit" -> c20Sql,
    "c19_entropy_profile" -> c19Sql,
    "c18_quantile_sketch_error" -> c18Sql,
    "c17_amount_audit" -> c17Sql,
    "c16_benford_audit" -> c16Sql,
    "c15_robust_outliers" -> c15Sql,
    "c14_gap_fill" -> c14Sql,
    "c13_fk_audit" -> c13Sql,
    "c12_expectations" -> c12Sql,
    "c11_null_standardize" -> c11Sql,
    "c1_profile" -> c1Sql, "c2_impute_median" -> c2Sql, "c3_impute_mode" -> c3Sql,
    "c4_outlier_clip" -> c4Sql, "c5_label_encode" -> c5Sql, "c6_freq_encode" -> c6Sql,
    "c7_date_features" -> c7Sql, "c8_drop_allnull" -> c8Sql, "c9_dedup_rows" -> c9Sql,
    "c10_type_infer" -> c10Sql)
}
