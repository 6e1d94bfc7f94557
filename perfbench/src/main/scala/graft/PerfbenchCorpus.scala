package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `e2e_curate_fixed` key split into its curate result and its
  * ledger, so one op can materialize both the kept set and the ledger
  * from a single construction. Both halves are graft's own code:
  * `e2eFixedResult` is reachable from inside the package, and the
  * ledger is the key's `attritionLedger`, which is private to `Corpus`
  * and so is called by reflection. */
object PerfbenchCorpus {
  def fixedResult(spark: SparkSession, dir: String): Corpus.Result =
    Corpus.e2eFixedResult(spark, dir)

  private lazy val ledgerMethod = {
    val m = Corpus.getClass.getDeclaredMethod("attritionLedger", classOf[DataFrame])
    m.setAccessible(true)
    m
  }

  def ledger(flagged: DataFrame): DataFrame =
    ledgerMethod.invoke(Corpus, flagged).asInstanceOf[DataFrame]
}
