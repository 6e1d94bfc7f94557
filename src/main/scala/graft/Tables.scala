package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

/** Loaders for the driver-generated TPC-H-ish star schema + pipeline
  * tables (see TESTDATA.md). One parquet file per table under the
  * scale-factor directory passed to each query.
  *
  * At cluster scale these would be catalog tables (possibly bucketed);
  * here they are plain parquet reads — Catalyst still gets pushdown and
  * column pruning through the DataSource V2 parquet scan.
  */
object Tables {

  /** Input bytes per partition of per-document work: [[byDoc]] splits
    * a `documents` frame into ceil(input bytes / B) partitions.
    *
    * B is the smallest input an exchange pays for. One core does the
    * per-document work (tokenize, shingle, hash, regex) at c ≈ 0.3 s
    * per 128 KiB of file bytes; an exchange costs a fixed e ≈ 0.15 s
    * (its shuffle write and read, one more stage, one more AQE job;
    * 0.1–0.3 s measured per materialization). Spreading I bytes over
    * k cores saves c·I·(1 − 1/k). On the least parallel host that
    * gains (k = 2) that covers e once I ≥ 2e/c = 128 KiB. Measured at
    * local[4] (`Probe time`, the 14 documents sites, with → without
    * the exchange): 64 KiB (the sf0.01 and sf0.001 files) lost or
    * broke even with it, 7.61 → 7.42 s and 2.90 → 2.78 s; 581 KiB
    * (sf0.1) won by 6 s with it, 13.28 → 16.78 s and 7.42 → 9.90 s. */
  val DocPartitionBytes: Long = 128L * 1024

  /** THE partitioning rule for per-document work: hash-partition by
    * `doc_id` into ceil(input bytes / [[DocPartitionBytes]]) partitions.
    * Nothing else in graft sizes a scan's partitions (i8's bucket
    * count and m7's `M7Partitions` are fixed constants).
    *
    *  - Input bytes are the summed statistics of the frame's leaf
    *    relations: the file bytes, known without a job, and the same
    *    for the raw read and any projection of it. Never
    *    `rdd.getNumPartitions`: under AQE planning a frame runs its
    *    shuffle-map stages (see [[Config.cut]]).
    *  - No exchange (`df` itself comes back) when that is one
    *    partition, or when the input is larger than
    *    `spark.sql.files.maxPartitionBytes`: such a file scan splits at
    *    row groups (one row group still reads as one task). A leaf of
    *    unknown size, like `createDataFrame(rdd)`'s LogicalRDD, reports
    *    Spark's default size, far above that, so it gets none either.
    *  - The count is explicit, so AQE does not coalesce the small-bytes
    *    shuffle back to one partition: the cost downstream is per-row
    *    CPU, not bytes. By key, so a row's partition depends on the
    *    data only.
    *
    * The numeric tables get no rule: their scan-fused work is cheap
    * enough per byte that the exchange loses at every testdata scale
    * but the one-row-group sf0.1 file (measured: the 9 former sites
    * took 6.93 s with a round-robin spread and 5.67 s without at
    * sf0.01). */
  def byDoc(df: DataFrame): DataFrame = {
    val bytes = df.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).sum
    val n = (bytes + DocPartitionBytes - 1) / DocPartitionBytes
    if (n <= 1 || bytes > SQLConf.get.filesMaxPartitionBytes) df
    else df.repartition(n.toInt, col("doc_id"))
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
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
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
