package graft

/** Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`, sized by
  * `Sessions.tune`) must hold the generated classes of a short
  * interactive workload, or every warm run compiles them again. The
  * workload is perfbench's analytics sample: every 10th oracle-gated
  * q/c/m/i key by name, the trained m7/m14 left out. */
class CodegenCacheSpec extends SparkSuite {

  private val sample = {
    val gated = SparkEntry.queries.keys.toIndexedSeq.sorted.filter(k =>
      k.matches("^[qcmi][0-9]+_.*") && SparkEntry.oracleSql.contains(k) &&
        !k.startsWith("m7_") && !k.startsWith("m14_"))
    gated.indices.filter(_ % 10 == 0).map(gated)
  }

  test("a warm pass of the analytics sample compiles at most 15 classes") {
    assert(sample.size === 11, sample)
    Probe.jobs(spark, sf, sample, reps = 1) // cold pass: fills the cache
    val warm = Probe.jobs(spark, sf, sample, reps = 1).map(r => r.key -> r.compiles)
    // ~200 with Spark's 100-entry default; what remains comes from
    // c1_profile and c10_type_infer (see `Cleaning.profile`)
    assert(warm.map(_._2).sum <= 15, warm)
  }
}
