package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** [[Tables.byDoc]]'s rule, read off physical plans (no job runs): the
  * partition count follows the file bytes of the input, not the core
  * count and not the columns a caller kept. */
class PartitionRuleSpec extends SparkSuite {

  private val sf01 = new File(new File(sf).getParentFile, "sf0.1").toString

  /** The shuffle exchanges the planner put into `df`. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    df.queryExecution.sparkPlan.collect { case e: ShuffleExchangeExec => e }

  /** The one exchange `byDoc` added: its key column and partition count. */
  private def docExchange(df: DataFrame): (Seq[String], Int) = exchanges(df) match {
    case Seq(ShuffleExchangeExec(HashPartitioning(keys, n), _, _, _)) =>
      (keys.map(_.sql), n)
    case other => fail(s"expected one hash exchange, got ${other.map(_.outputPartitioning)}")
  }

  test("a documents file under the partition size gets no exchange (sf0.001)") {
    val docs = Tables.documents(spark, sf)
    assert(new File(s"$sf/documents.parquet").length() < Tables.DocPartitionBytes)
    assert(exchanges(Tables.byDoc(docs)).isEmpty)
    assert(exchanges(Tables.byDoc(docs.select(col("doc_id"), col("text")))).isEmpty)
  }

  test("sf0.1 documents hash-partition by doc_id into ceil(file bytes / B), for the raw read and a projection alike") {
    val bytes = new File(s"$sf01/documents.parquet").length()
    val want = ((bytes + Tables.DocPartitionBytes - 1) / Tables.DocPartitionBytes).toInt
    assert(want > 1, s"sf0.1 documents ($bytes B) fit one partition")
    val docs = Tables.documents(spark, sf01)
    assert(docExchange(Tables.byDoc(docs)) === (Seq("doc_id"), want))
    assert(docExchange(Tables.byDoc(docs.select(col("doc_id"), col("text")))) === (Seq("doc_id"), want))
  }

  test("input larger than spark.sql.files.maxPartitionBytes gets no exchange: the scan splits itself") {
    val key = "spark.sql.files.maxPartitionBytes"
    val bytes = new File(s"$sf01/documents.parquet").length()
    val old = spark.conf.getOption(key)
    spark.conf.set(key, (bytes - 1).toString)
    try {
      val docs = Tables.documents(spark, sf01)
      assert(Tables.byDoc(docs) eq docs)
      assert(exchanges(Tables.byDoc(docs.select(col("doc_id"), col("text")))).isEmpty)
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
