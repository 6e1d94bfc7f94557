package graft

import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSuite {

  test("autoPipeline classifies event_type end to end") {
    val ev = Tables.events(spark, sf).drop("props") // free-text JSON excluded
      .withColumn("event_type",
        when(col("event_type") === "error", 1.0).otherwise(0.0))
    val r = Pipeline.autoPipeline(ev, "event_type")
    assert(r.task === "classification")
    assert(r.metrics("accuracy") >= 0.5) // majority class is ~80%
    assert(r.metrics("n_test") > 0)
    assert(r.train.count() + r.test.count() === ev.count())
    // model selection tried all three reference families (binary target)
    assert(r.modelMetrics.keySet === Set("RandomForest", "LogisticRegression", "GradientBoosting"))
    // selection metric is weighted F1 (ref main.py:290-295), and the
    // reference's weighted P/R/F1 are all reported
    assert(r.modelMetrics(r.bestModel)("weighted_f1") ===
      r.modelMetrics.values.map(_("weighted_f1")).max)
    for (k <- Seq("weighted_precision", "weighted_recall", "weighted_f1"))
      assert(r.metrics(k) >= 0.0 && r.metrics(k) <= 1.0, s"$k out of range")
    // every family records its CV score (grid-searched families also
    // record the chosen hyperparameters)
    assert(r.modelMetrics.values.forall(_.contains("cv_metric")))
    assert(r.modelMetrics("RandomForest").contains("maxDepth"))
  }

  test("autoPipeline regresses a price target end to end") {
    val li = Tables.lineitem(spark, sf)
      .select("l_quantity", "l_discount", "l_tax", "l_returnflag", "l_extendedprice")
    val r = Pipeline.autoPipeline(li, "l_extendedprice")
    assert(r.task === "regression")
    assert(r.metrics("mse") >= 0)
    assert(r.metrics("r2") <= 1.0)
    assert(r.modelMetrics.keySet === Set("RandomForest", "GradientBoosting", "LinearRegression"))
    assert(r.modelMetrics(r.bestModel)("mse") === r.modelMetrics.values.map(_("mse")).min)
  }

  test("inParallel: a failing thunk cancels its sibling's Spark jobs before rethrowing") {
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    @volatile var group: String = null
    @volatile var siblingDone = false
    def running(g: String): Seq[Int] = tracker.getJobIdsForGroup(g).toSeq.filter(id =>
      tracker.getJobInfo(id).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!cond) {
        assert(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(20)
      }
    }
    val sibling = () => {
      group = sc.getLocalProperty("spark.jobGroup.id")
      // many minutes of work unless cancelled
      try spark.range(0L, 1L << 42, 1, 4).selectExpr("sum(id % 7)").collect().length
      finally siblingDone = true
    }
    val failing = () => {
      waitFor("the sibling's job to start")(group != null && running(group).nonEmpty)
      throw new IllegalStateException("family failed")
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](Pipeline.inParallel(spark, Seq(sibling, failing)))
    assert(e.getMessage === "family failed")
    assert(System.nanoTime() - t0 < 60L * 1000000000L, "the sibling ran on instead of being cancelled")
    assert(siblingDone, "the sibling was still running when inParallel returned")
    // the status tracker trails the scheduler: once a later marker job
    // shows as finished, every earlier job-end event has been applied
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(marker, "drain")
    try spark.range(1).collect() finally sc.clearJobGroup()
    waitFor("the marker job's end")(tracker.getJobIdsForGroup(marker).nonEmpty &&
      running(marker).isEmpty)
    assert(running(group).isEmpty, s"group $group still has active jobs")
  }

  test("clean handles nulls, strings, and timestamps generically") {
    val ev = Tables.events(spark, sf)
      .withColumn("value", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      .drop("props")
    val cleaned = Pipeline.clean(ev)
    // no nulls survive in value; event_type became numeric codes; ts expanded
    assert(cleaned.filter(col("value").isNull).count() === 0)
    assert(cleaned.schema("event_type").dataType.typeName === "double")
    assert(cleaned.columns.contains("ts_year") && !cleaned.columns.contains("ts"))
  }

  test("model persistence: saved model reloads and reproduces predictions") {
    import org.apache.spark.ml.classification.{GBTClassificationModel, LogisticRegressionModel, RandomForestClassificationModel}
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    val ev = Tables.events(spark, sf).drop("props")
      .withColumn("event_type",
        when(col("event_type") === "error", 1.0).otherwise(0.0))
    val r = Pipeline.autoPipeline(ev, "event_type", saveDir = Some(dir))
    assert(r.modelPath.isDefined)
    assert(r.featureImportances.nonEmpty)
    // sums to 1 when the forest splits, 0 when the target is pure noise
    val impSum = r.featureImportances.map(_._2).sum
    assert(impSum >= 0 && impSum < 1.01)
    assert(r.featureImportances.forall(_._2 >= 0))
    // the saved artifact belongs to whichever family won selection
    val numFeatures = r.bestModel match {
      case "RandomForest" => RandomForestClassificationModel.load(r.modelPath.get).numFeatures
      case "GradientBoosting" => GBTClassificationModel.load(r.modelPath.get).numFeatures
      case _ => LogisticRegressionModel.load(r.modelPath.get).numFeatures
    }
    assert(numFeatures === r.featureCols.length)
  }

  test("clean drops all-null columns and detects datetime strings") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-02 03:04:05", "x", 1.0),
      (2L, "2024-02-03 04:05:06", "y", 2.0),
      (3L, "2024-03-04 05:06:07", "x", 3.0))
      .toDF("id", "when_str", "cat", "v")
      .withColumn("ghost", lit(null).cast("double"))
    val cleaned = Pipeline.clean(df)
    assert(!cleaned.columns.contains("ghost")) // dropna(axis=1, how='all')
    assert(cleaned.columns.contains("when_str_year") && !cleaned.columns.contains("when_str"))
    assert(cleaned.select("when_str_year").distinct().head().getDouble(0) === 2024.0)
    assert(cleaned.schema("cat").dataType.typeName === "double") // label-encoded
  }

  test("stratified split keeps exact per-class test fractions") {
    import graft.operators.MLPrep
    val ev = Tables.events(spark, sf)
    val split = MLPrep.stratifiedSplit(ev, "event_type", 0.2)
    val frac = split.groupBy("event_type")
      .agg((sum(when(col("split") === "test", 1)) / count(lit(1))).as("f"))
      .collect().map(_.getAs[Double]("f"))
    assert(frac.forall(f => math.abs(f - 0.2) < 0.01))
  }

  test("SMOTE oversampling synthesizes in-range minority rows") {
    import graft.operators.MLPrep
    val ev = Tables.events(spark, sf).drop("props", "ts")
    val before = ev.filter(col("event_type") === "error").count()
    val synth = MLPrep.smoteOversample(ev, "event_type", Seq("value"), "error", 2)
    assert(synth.count() >= (before - 1) * 2) // 2 copies per seed (last seed has no neighbor)
    assert(synth.select("event_type").distinct().head().getString(0) === "error")
    val mm = ev.filter(col("event_type") === "error")
      .agg(min("value"), max("value")).head()
    val bad = synth.filter(col("value") < mm.getDouble(0) - 1e-9 ||
      col("value") > mm.getDouble(1) + 1e-9).count()
    assert(bad === 0) // interpolation stays inside the class hull
  }

  test("LSH-bucketed SMOTE interpolates within-bucket on a clustered frame") {
    import spark.implicits._
    import graft.operators.MLPrep
    // Two minority clusters on opposite sides of the origin: every
    // hyperplane through the origin whose coefficients don't cancel
    // assigns them opposite sign bits, so they land in different LSH
    // buckets. Within-bucket interpolation must keep every synthetic
    // point inside its own cluster's hull — a cross-cluster neighbor
    // (possible under plain hash order) would land between clusters.
    val rnd = new scala.util.Random(7)
    def jig() = rnd.nextDouble() * 2 - 1 // cluster spread ±1 around ±10
    val rows =
      (1 to 40).map(i => (i.toLong, 10.0 + jig(), 10.0 + jig(), "min")) ++
      (41 to 80).map(i => (i.toLong, -10.0 + jig(), -10.0 + jig(), "min")) ++
      (81 to 400).map(i => (i.toLong, jig() * 100, jig() * 100, "maj"))
    val df = rows.toDF("id", "x", "y", "label")
    val synth = MLPrep.smoteOversampleLsh(df, "label", Seq("x", "y"), "min", 2).collect()
    // 80 seeds × 2 copies, minus 2 per occupied bucket (its hash-order
    // last row has no lead neighbor) — ≥120 allows up to 20 buckets
    assert(synth.length >= 120, s"expected ~2 synthetics per seed, got ${synth.length}")
    val crossCluster = synth.count { r =>
      val (x, y) = (r.getAs[Double]("x"), r.getAs[Double]("y"))
      !((x > 8 && x < 12 && y > 8 && y < 12) || (x > -12 && x < -8 && y > -12 && y < -8))
    }
    assert(crossCluster === 0,
      "every synthetic row must interpolate within one cluster's bucket")
  }

  test("imbalanced classification triggers SMOTE + class weights and still trains") {
    import spark.implicits._
    // 4% positives → ratio < 0.2 → imbalance path
    val df = (1 to 2000).map(i => (i.toLong, (i % 97).toDouble, (i % 13).toDouble,
      if (i % 25 == 0) 1.0 else 0.0)).toDF("id", "f1", "f2", "label")
    val r = Pipeline.autoPipeline(df, "label")
    assert(r.task === "classification")
    assert(r.modelMetrics.nonEmpty)
    assert(r.metrics("accuracy") > 0)
  }

  test("per-family grid search picks the hyperparameters the data prefers") {
    import spark.implicits._
    // y = floor(x/4)² staircase with 256 steps: a depth-8 tree fits the
    // steps exactly, a depth-4 tree (16 leaves) can't, and a linear fit
    // is poor on the quadratic staircase — so CV must pick maxDepth=8
    // (not MLlib's default 5, not the shallow grid point) and a tree
    // family must beat LinearRegression.
    val df = (0 until 4096).map { i =>
      val x = i % 1024
      (x.toDouble, math.pow((x / 4).toDouble, 2))
    }.toDF("x", "y")
    val r = Pipeline.autoPipeline(df, "y")
    assert(r.task === "regression")
    assert(r.modelMetrics("RandomForest")("maxDepth") === 8.0)
    assert(r.modelMetrics("GradientBoosting").contains("cv_metric"))
    assert(r.bestModel !== "LinearRegression")
    assert(r.modelMetrics(r.bestModel)("mse") < r.modelMetrics("LinearRegression")("mse"))
  }

  test("autoPipeline stratifies the classification split per class") {
    import spark.implicits._
    // ~3% minority (90 of 3000): an unconditioned hash split can land
    // far from 20% minority in test; the stratified split is exact.
    val df = (1 to 3000).map(i => (i.toLong, (i * 7 % 100).toDouble,
      if (i % 33 == 0) 1.0 else 0.0)).toDF("id", "f", "label")
    val r = Pipeline.autoPipeline(df, "label")
    val totPos = 3000 / 33 // 90
    val testPos = r.test.filter(col("label") === 1.0).count()
    val trainPos = r.train.filter(col("label") === 1.0).count()
    assert(testPos + trainPos === totPos)
    assert(math.abs(testPos - totPos * 0.2) <= 1, s"test got $testPos of $totPos positives")
    val testFrac = r.test.count().toDouble / 3000
    assert(math.abs(testFrac - 0.2) < 0.01)
  }

  test("clean's string statistics run in O(1) jobs regardless of column count") {
    import spark.implicits._
    // the r2 implementation launched ~2 jobs per string column (mode +
    // distinct-count actions); the one-pass version's eager job count
    // must not grow with the column count (AQE splits the fixed stats
    // queries into a few stage-jobs — that constant is fine)
    def frame(nStr: Int) = {
      val base = (1 to 500).map(i => (i.toLong, i.toDouble)).toDF("id", "num")
      (1 to nStr).foldLeft(base)((d, k) =>
          d.withColumn(s"s$k", concat(lit("v"), (col("id") % (k + 2)).cast("string"))))
        .withColumn("hc", concat(lit("u"), (col("id") % 400).cast("string")))
    }
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark)
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    countJobs(Pipeline.clean(frame(2))) // warm AQE/codegen paths
    val j3 = countJobs(Pipeline.clean(frame(3)))
    val j9 = countJobs(Pipeline.clean(frame(9)))
    assert(j9 === j3, s"job count grew with string columns: $j3 -> $j9")
    assert(j9 <= 10, s"clean launched $j9 eager jobs")
    // and the encodings themselves are right: label codes are
    // ordinals, the frequency column counts filled occurrences
    val cleaned = Pipeline.clean(frame(3))
    assert(cleaned.schema("s1").dataType.typeName === "double")
    assert(cleaned.select(max(col("s1"))).head().getDouble(0) === 2.0) // 3 distinct → codes 0,1,2
    assert(cleaned.select(min(col("hc"))).head().getDouble(0) >= 1.0) // frequencies
  }

  test("standardScaleWith: train moments, applied to both splits, constants to 0") {
    import spark.implicits._
    import graft.operators.MLPrep
    val train = (1 to 100).map(i => (i.toDouble, 7.0)).toDF("x", "const")
    val test = (101 to 120).map(i => (i.toDouble, 7.0)).toDF("x", "const")
    val sTrain = MLPrep.standardScaleWith(train, train, Seq("x", "const"))
    // sklearn StandardScaler is ddof=0: population stddev of the scaled
    // train column is exactly 1
    val m = sTrain.agg(avg("x"), stddev_pop("x"), max(abs(col("const")))).head()
    assert(math.abs(m.getDouble(0)) < 1e-9)       // mean 0
    assert(math.abs(m.getDouble(1) - 1.0) < 1e-9) // population std 1
    assert(m.getDouble(2) === 0.0)                // constant column → 0
    // test is scaled with TRAIN's moments (its own mean is not 0)
    val sTest = MLPrep.standardScaleWith(train, test, Seq("x", "const"))
    val trainMean = (1 to 100).sum / 100.0
    val trainStd = math.sqrt((1 to 100).map(i => math.pow(i - trainMean, 2)).sum / 100.0)
    val got = sTest.agg(avg("x")).head().getDouble(0)
    val want = ((101 to 120).sum / 20.0 - trainMean) / trainStd
    assert(math.abs(got - want) < 1e-9)
  }

  test("fuzzy target matching resolves trimmed/cased/partial names (ref main.py:199-207)") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, (i % 7).toDouble, (i * 3 % 50).toDouble))
      .toDF("id", "f1", "Total_Price")
    // case-insensitive exact match
    assert(Pipeline.autoPipeline(df, "  total_price  ").task === "regression")
    // substring match picks the containing column
    assert(Pipeline.autoPipeline(df, "price").task === "regression")
    // no match → the reference's error with available columns
    val err = intercept[IllegalArgumentException](Pipeline.autoPipeline(df, "ghost"))
    assert(err.getMessage.contains("Available columns"))
  }

  test("driver entry smoke: rows > 0 on a vanilla session") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("HTML report renders all reference sections for classification and regression") {
    // classification dataset
    val ev = Tables.events(spark, sf).drop("props")
      .withColumn("event_type",
        when(col("event_type") === "error", 1.0).otherwise(0.0))
    val rc = Pipeline.autoPipeline(ev, "event_type")
    val htmlC = Report.render(Pipeline.vizData(rc.cleaned, "event_type"), Some(rc))
    // regression dataset
    val li = Tables.lineitem(spark, sf)
      .select("l_quantity", "l_discount", "l_tax", "l_returnflag", "l_extendedprice")
    val rr = Pipeline.autoPipeline(li, "l_extendedprice")
    val htmlR = Report.render(Pipeline.vizData(rr.cleaned, "l_extendedprice"), Some(rr))
    for ((html, res) <- Seq((htmlC, rc), (htmlR, rr))) {
      for (section <- Seq("id=\"overview\"", "id=\"insights\"", "id=\"preview\"",
          "id=\"distribution\"", "id=\"correlation\"", "id=\"histograms\"",
          "id=\"metrics\"", "id=\"importances\"")) {
        assert(html.contains(section), s"missing $section")
      }
      // the insights paragraph names the task, the winning model, and
      // the top feature — the reference's 5-sentence LLM summary shape
      assert(html.contains(s"detected as ${res.task}"))
      assert(html.contains(s"was ${res.bestModel}"))
      res.featureImportances.headOption.foreach { case (f, _) =>
        assert(html.contains(s"$f carried the largest share"))
      }
      assert(html.contains(res.bestModel))
      assert(html.contains("<svg")) // charts actually rendered
      assert(html.contains("class=\"preview\"")) // head-rows table rendered
      res.metrics.keys.foreach(k => assert(html.contains(k)))
    }
    // the preview table carries real column headers and 5 data rows
    assert(htmlR.contains("<th>l_quantity</th>"))
    assert("<tr><td>".r.findAllIn(htmlR).size >= 5)
    assert(htmlC.contains("classification") && htmlR.contains("regression"))
  }

  test("reference parity end to end: xlsx upload -> pipeline job -> HTML report") {
    import graft.sources.{Excel, Ingest}
    // the reference's complete user journey (api.py): upload an .xlsx,
    // run the pipeline in the background, download the report
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val upload = s"$dir/upload.xlsx"
    Excel.write(
      Tables.orders(spark, sf).limit(500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"),
      upload)
    val df = Ingest.normalizeColumns(Ingest.readExcel(spark, upload))
    val id = Jobs.submit(df, "o_totalprice", reportDir = Some(dir))
    val fin = Jobs.await(id)
    assert(fin.isInstanceOf[Jobs.Done], s"job ended as $fin: ${Jobs.error(id)}")
    assert(Jobs.result(id).exists(_.task == "regression"))
    val html = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Jobs.reportPath(id).get)), "UTF-8")
    assert(html.contains("id=\"overview\"") && html.contains("id=\"metrics\""))
    assert(html.contains("500 rows"))
  }

  test("job runner: submit -> status -> done with a report artifact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val ev = Tables.events(spark, sf).drop("props")
      .withColumn("event_type",
        when(col("event_type") === "error", 1.0).otherwise(0.0))
    val id = Jobs.submit(ev, "event_type", reportDir = Some(dir))
    assert(Jobs.status(id).exists(s => s == "queued" || s == "running"))
    val fin = Jobs.await(id)
    assert(fin.isInstanceOf[Jobs.Done], s"job ended as $fin: ${Jobs.error(id)}")
    assert(Jobs.result(id).exists(_.task == "classification"))
    val report = Jobs.reportPath(id)
    assert(report.isDefined)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(report.get)) > 1000)
    // failed jobs surface their error instead of hanging
    val bad = Jobs.submit(ev.limit(0), "event_type")
    val finBad = Jobs.await(bad)
    assert(finBad.isInstanceOf[Jobs.Failed])
    assert(Jobs.error(bad).isDefined)
  }

  test("job model artifact: submit(saveDir) -> Done carries modelPath -> reload scores a frame") {
    // the reference's upload -> train -> DOWNLOAD MODEL loop
    // (api.py:111-136) threaded through the job flow
    val dir = java.nio.file.Files.createTempDirectory("graft-jobmodel").toString
    val ev = Tables.events(spark, sf).drop("props")
      .withColumn("event_type",
        when(col("event_type") === "error", 1.0).otherwise(0.0))
    val id = Jobs.submit(ev, "event_type", saveDir = Some(dir))
    val fin = Jobs.await(id)
    assert(fin.isInstanceOf[Jobs.Done], s"job ended as $fin: ${Jobs.error(id)}")
    val mp = Jobs.modelPath(id)
    assert(mp.isDefined, "saveDir set => Done must carry the model path")
    assert(mp.get.startsWith(dir) && mp.get.contains(id),
      "artifact lands under <saveDir>/<jobId>")
    // a different session/process only needs the path: reload + score
    val r = Jobs.result(id).get
    val model = Pipeline.loadModel(spark, mp.get)
    val feats = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(r.featureCols.toArray).setOutputCol("features")
      .transform(r.test)
    val scored = model.transform(feats)
    assert(scored.columns.contains("prediction"))
    val preds = scored.select("prediction").collect().map(_.getDouble(0))
    assert(preds.length === r.test.count())
    assert(preds.toSet.subsetOf(Set(0.0, 1.0)), "binary task predicts the label set")
    // without saveDir there is no artifact (the pre-round-10 behavior)
    assert(Jobs.modelPath("job-does-not-exist").isEmpty)
  }

  test("streaming job: MemoryStream feed -> incremental report refresh -> final equals batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, String)]
    val base = java.nio.file.Files.createTempDirectory("graft-sjob").toString
    val id = Jobs.submitStream(ms.toDF().toDF("user_id", "value", "category"),
      "category", s"$base/staging", s"$base/reports", s"$base/ckpt")
    val q = Jobs.streamingQuery(id).get
    def chunk(lo: Int, hi: Int) = (lo until hi).map(i =>
      (i.toLong, (i % 7).toDouble, s"c${i % 4}"))
    def html(p: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")
    // first chunk lands → the report exists and reflects exactly it
    ms.addData(chunk(0, 400): _*)
    q.processAllAvailable()
    val reportFile = s"$base/reports/$id.html"
    assert(html(reportFile).contains("400 rows × 3 columns"),
      "report must refresh as data lands")
    assert(Jobs.status(id).contains("running"))
    // more data → the SAME artifact refreshes in place
    ms.addData(chunk(400, 1000): _*)
    q.processAllAvailable()
    assert(html(reportFile).contains("1000 rows × 3 columns"))
    val path = Jobs.finishStream(id).get
    assert(Jobs.status(id).contains("done"))
    assert(Jobs.reportPath(id).contains(path))
    // the composition gap this closes: the final incremental report is
    // BYTE-IDENTICAL to the batch report over the same data
    val batchDf = chunk(0, 1000).toDF("user_id", "value", "category")
    val want = Report.render(Pipeline.vizData(batchDf, "category"), None, s"graft report $id")
    assert(html(path) === want)
  }
}
