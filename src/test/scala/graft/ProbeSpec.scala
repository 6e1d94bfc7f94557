package graft

class ProbeSpec extends SparkSuite {

  test("Probe jobs: every d19_bloom_audit job ran tasks, and the jobs read input") {
    val Seq(run) = Probe.jobs(spark, sf, Seq("d19_bloom_audit"), reps = 1)
    assert(run.jobs.nonEmpty)
    assert(run.jobs.forall(_.tasks > 0), run.jobs)
    assert(run.jobs.map(_.inputBytes).sum > 0L)
    assert(run.wallS === run.constructS + run.planS + run.execS)
  }

  test("Probe stages: one cut per Corpus.StageFlags entry on the fixed variant") {
    val (construct, cuts) = Probe.stages(spark, sf, "fixed")
    assert(construct > 0.0)
    assert(cuts.map(_.stage) === Corpus.StageFlags.map(_._1))
    // every cut selects (doc_id, flag) over the whole flagged frame
    assert(cuts.map(_.rows).distinct === Seq(Tables.documents(spark, sf).count()))
  }

  test("Probe scans: d6_decontaminate's executed documents scans sit within ScaleAuditSpec's bound") {
    val docs = Probe.scans(spark, sf, Seq("d6_decontaminate"), minScans = 0)
      .filter(_.table == "documents.parquet")
    assert(docs.size === 1)
    // ScaleAuditSpec bounds the same ScanAudit.scans walk at <= 2
    assert(docs.head.executed >= 1 && docs.head.executed <= 2, docs)
  }
}
