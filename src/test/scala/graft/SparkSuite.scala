package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    // The library's own tuning (`Sessions.tune`, codegen cache
    // included), then the suite's overrides. local[8]: the suite's
    // MLlib fits and streaming micro-batches submit concurrent jobs
    // (autoPipeline trains model families in parallel). 4 shuffle
    // partitions: the fixtures are tiny, so wider exchanges only add
    // task overhead; partition-sensitive tests set their own value and
    // restore it.
    val s = Sessions.tune(SparkSession.builder(), 4)
      .master("local[8]")
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Shared base: one SparkSession for the whole test JVM. */
abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
}
