package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish star schema + pipeline
  * tables (see TESTDATA.md). One parquet file per table under the
  * scale-factor directory passed to each query.
  *
  * At cluster scale these would be catalog tables (possibly bucketed);
  * here they are plain parquet reads — Catalyst still gets pushdown and
  * column pruning through the DataSource V2 parquet scan.
  */
object Tables {

  /** Scale-adaptive scan spread (optimization guide §2.5 "input skew:
    * one huge unsplittable file — repartition immediately after the
    * read"): the driver testdata ships each table as ONE parquet row
    * group, and Spark assigns a whole row group to a single scan task
    * — so a scan stage (and all the row-local work fused into it:
    * tokenize/shingle/regex/aggregation-map building) runs on ONE
    * core of local[N]. Measured before the fix (`Probe jobs`, sf0.1):
    * q18's partial-agg job was 3.01 s of task time on one working
    * task; c1's scan+Expand ran 2.2 s single-task.
    *
    * The condition is derived from the data, not a local constant:
    * repartition to defaultParallelism ONLY when the scan plans fewer
    * partitions than that — at cluster scale (thousands of row
    * groups) the condition is false and the ingest is untouched, so
    * the extra exchange is never paid where the scan is already
    * parallel. Round-robin repartition is deterministic under retry
    * (sortBeforeRepartition, SPARK-23207) and every declared query's
    * result is partition-order-free (decimal sums, total ORDER BY —
    * SURVEY §6); the full oracle gate re-ran green after the change.
    *
    * OPT-IN per operator, not applied inside the loaders: the
    * exchange + 32-task stage costs ~0.1-0.3 s of fixed overhead per
    * materialization, which a sub-second scan→agg key never earns
    * back (measured: a global always-on spread regressed the ~150
    * trivial keys by +0.15-0.4 s each while the heavy keys won). Call
    * sites that do heavy per-row work over a table opt in. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def region(s: SparkSession, dir: String): DataFrame    = s.read.parquet(s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame    = s.read.parquet(s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame  = s.read.parquet(s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame  = s.read.parquet(s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame      = s.read.parquet(s"$dir/part.parquet")
  def orders(s: SparkSession, dir: String): DataFrame    = s.read.parquet(s"$dir/orders.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame  = s.read.parquet(s"$dir/lineitem.parquet")
  /** events.ts has shipped in two parquet flavors across testdata
    * generations: TIMESTAMP(NANOS) (no native Spark type — read nanos
    * as long via the legacy conf and truncate to micros) and plain
    * timestamp[us] (reads as TIMESTAMP_NTZ — cast to session-local
    * TimestampType). Branch on the observed physical type so either
    * flavor normalizes to the same TimestampType column. Sub-
    * microsecond precision is dropped in the nanos flavor; all oracle-
    * compared orderings therefore use (epoch_ms, event_id), never raw
    * ts (SURVEY.md §6.4).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    val ts =
      if (raw.schema("ts").dataType == LongType) timestamp_micros(expr("ts div 1000"))
      else col("ts").cast("timestamp")
    raw.withColumn("ts", ts)
  }
  def documents(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/embeddings.parquet")
}
