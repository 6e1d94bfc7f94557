package graft

/** Times the Spark port of the reference's clean_data
  * (graft.Pipeline.clean) on the events table — the paired number for
  * scripts/bench_reference.py's pandas mirror, so "matches-or-beats
  * the reference's single-node throughput" is a measurement, not a
  * claim. Prints one JSON line; min-of-2 like Bench.
  *
  * Usage: sbt "runMain graft.PipelineBench /root/testdata/sf0.1"
  */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = Sessions.envCpus
    val spark = Sessions.local(cpus)
    // warmup: footer + trivial job (Bench's rationale)
    spark.range(1000).selectExpr("sum(id)").collect()
    val src = Tables.events(spark, sfDir)
    src.limit(1).count()
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val out = Pipeline.clean(src)
      val n = out.queryExecution.toRdd.count() // materialize the FULL cleaned frame (all columns)
      ((System.nanoTime() - t0) / 1e9, n, out.columns.length)
    }
    val best = times.minBy(_._1)
    val sfName = new java.io.File(sfDir).getName
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    spark.stop()
    println(s"""{"metric":"graft_clean_spark","rows":${best._2},"cols":${best._3},"sec":${num(best._1)},"sf":"$sfName"}""")
  }
}
