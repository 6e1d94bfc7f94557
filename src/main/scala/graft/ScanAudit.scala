package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Lineage-re-execution audit (round 15): a registered key whose
  * physical plan scans the SAME parquet table many times is usually
  * re-executing a shared upstream frame once per consumer branch (the
  * e2e_curate/d6/d19 disease, fixed by one localCheckpoint at the
  * shared frontier). `Probe scans` prints it per key; ScaleAuditSpec
  * bounds it for the fixed keys.
  */
object ScanAudit {
  /** (table-ish root path, reused?) per parquet scan in the EXECUTED
    * plan, descending into AQE stages and reused exchanges (a
    * ReusedExchange means the scan did NOT re-run — those count
    * separately so dedup-by-Spark shows up as such). */
  private[graft] def scans(p: SparkPlan, reused: Boolean = false): Seq[(String, Boolean)] =
    p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan, reused)
      case q: QueryStageExec => scans(q.plan, reused)
      // the reused child's scans are NOT re-executed
      case r: ReusedExchangeExec => scans(r.child, reused = true)
      case f: FileSourceScanExec =>
        val root = f.relation.location.rootPaths.headOption
          .map(_.getName).getOrElse("?")
        Seq((root, reused))
      case other => other.children.flatMap(scans(_, reused)) ++
        other.subqueries.flatMap(scans(_, reused))
    }
}
