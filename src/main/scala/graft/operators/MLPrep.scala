package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.ExactNum._
import graft.functions.TextFunctions.{tcode, tcodeSql}

/** C-family: ML preprocessing (SURVEY.md §2.C) — the Spark-native
  * re-expression of the reference's `train_model` preprocessing
  * (/root/reference/main.py:194-385): scaling, splits, class balance,
  * correlation/feature relevance, histograms, task detection.
  *
  * Moments (mean/var/corr) are computed from exact DECIMAL co-moments
  * in ONE pass, then finished with deterministic FP steps — both
  * order-independent at any parallelism AND bit-identical to the
  * single-node oracle. sklearn's StandardScaler/corr are two-pass,
  * single-node; this shape is what survives 100 TB.
  */
object MLPrep {
  /** Training-sample cap for the iteratively-trained keys (m7 RF,
    * m14 CV grid) — Sampling.capTrainingSample's doc has the measured
    * rationale; every oracle-gate SF sits far below it, so gated
    * outputs are unaffected. */
  val TrainCap = 1000000L

  /** m7's RF training partitions: a constant, never the core count,
    * so its importances do not depend on the machine. */
  val M7Partitions = 8


  // -------------------------------------------------------------------
  // m1: z-score scaling (ref main.py:244-246 StandardScaler). Sample
  // stddev (ddof=1, sklearn uses ddof=0 — we document ddof=1 to match
  // SQL stddev_samp semantics). One agg pass for moments, broadcast
  // back, map-side transform.
  def m1(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val mom = o.agg(
      count(lit(1)).as("n"),
      sumd(col("o_totalprice")).as("sx"),
      sumProd(col("o_totalprice"), col("o_totalprice")).as("sxx"))
      .select(col("n"), (col("sx") / col("n")).as("mean"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("std"))
    o.join(broadcast(mom))
      .select(col("o_orderkey"),
        round((col("o_totalprice") - col("mean")) / col("std"), 6).as("z"))
      .orderBy(col("o_orderkey"))
  }

  val m1Sql: String =
    """WITH mom AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      |  FROM orders
      |), p AS (SELECT n, sx/n AS mean, sqrt((sxx - sx*sx/n)/(n-1)) AS std FROM mom)
      |SELECT o_orderkey, round((o_totalprice - mean)/std, 6) AS z
      |FROM orders, p
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // m2: min-max scaling to [0,1] (ref main.py:12 MinMaxScaler import).
  // min/max are exact; the transform is a single deterministic FP op
  // per row.
  def m2(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val mm = o.agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    o.join(broadcast(mm))
      .select(col("o_orderkey"),
        round((col("o_totalprice") - col("mn")) / (col("mx") - col("mn")), 6).as("scaled"))
      .orderBy(col("o_orderkey"))
  }

  val m2Sql: String =
    """WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
      |SELECT o_orderkey, round((o_totalprice - mn)/(mx - mn), 6) AS scaled
      |FROM orders, mm
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // m3: deterministic train/test split (ref main.py:241
  // train_test_split(test_size=0.2)). The oracle-checkable variant is
  // key-modulo (o_orderkey % 5 = 0 → test, exactly 20%); production
  // code should hash first — `splitByHash` below — so ordered keys
  // don't correlate with the split.
  def m3(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .withColumn("split", when(col("o_orderkey") % 5 === 0, "test").otherwise("train"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_rows"), sumd(col("o_totalprice")).as("sum_price"))
      .orderBy(col("split"))
  }

  /** Production split: uniform, key-order-independent (xxhash64). */
  def splitByHash(df: DataFrame, keyCol: String, testFrac: Double): DataFrame =
    df.withColumn("split",
      when(pmod(xxhash64(col(keyCol)), lit(10000)) < (testFrac * 10000).toInt, "test")
        .otherwise("train"))

  /** Stratified split (ref main.py:241 stratify=y): EXACT per-class
    * proportions via per-class hash-ranked row numbers. One shuffle on
    * the label; at 100 TB the per-class windows parallelize over
    * labels (salt a single dominant label if needed). */
  def stratifiedSplit(df: DataFrame, labelCol: String, testFrac: Double): DataFrame = {
    val w = Window.partitionBy(col(labelCol)).orderBy(xxhash64(struct(df.columns.toSeq.map(col): _*)))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(labelCol))))
      .withColumn("split", when(col("__rn") <= col("__n") * testFrac, "test").otherwise("train"))
      .drop("__rn", "__n")
  }

  /** Library API: z-scale `cols` of `apply` using `fit`'s moments —
    * the reference's scaler.fit(X_train); scaler.transform(X)
    * (main.py:244-246). One agg over `fit`, broadcast back; constant
    * columns (std 0 or undefined) map to 0 like sklearn's guarded
    * variance. Uses POPULATION stddev (ddof=0) to match sklearn's
    * StandardScaler exactly (m1's SQL-twin query documents ddof=1
    * separately; this API is the sklearn-parity path). */
  def standardScaleWith(fit: DataFrame, apply: DataFrame, cols: Seq[String]): DataFrame = {
    if (cols.isEmpty) apply
    else {
      val aggs = cols.flatMap(c => Seq(
        avg(col(c)).as(s"__mu_$c"), stddev_pop(col(c)).as(s"__sd_$c")))
      val m = fit.agg(aggs.head, aggs.tail: _*)
      cols.foldLeft(apply.join(broadcast(m))) { (d, c) =>
        d.withColumn(c, when(col(s"__sd_$c") > 0,
          (col(c) - col(s"__mu_$c")) / col(s"__sd_$c")).otherwise(lit(0.0)))
      }.drop(m.columns.toSeq: _*)
    }
  }

  /** Balanced class weights (ref main.py:250-252, sklearn 'balanced'):
    * adds `class_weight` = n/(k·n_c), broadcast-joined back. */
  def withClassWeights(df: DataFrame, labelCol: String): DataFrame = {
    val counts = df.groupBy(col(labelCol)).agg(count(lit(1)).as("__n_c"))
    val tot = counts.agg(sum(col("__n_c")).as("__n"), count(lit(1)).as("__k"))
    df.join(broadcast(counts), Seq(labelCol)).join(broadcast(tot))
      .withColumn("class_weight", col("__n").cast("double") / (col("__k") * col("__n_c")))
      .drop("__n_c", "__n", "__k")
  }

  /** Imbalance test (ref main.py:235-238): minority/majority < 0.2. */
  def isImbalanced(df: DataFrame, labelCol: String): Boolean = {
    val r = df.groupBy(col(labelCol)).agg(count(lit(1)).as("n"))
      .agg((min(col("n")).cast("double") / max(col("n"))).as("ratio")).head()
    r.getDouble(0) < 0.2
  }

  /** Distributed SMOTE (ref main.py:254-260): for each minority-class
    * row, synthesize `copies` rows interpolated toward the next
    * same-class neighbor in hash order — x + λ(y−x) with λ derived
    * deterministically from (hash, copy). Neighbor discovery is a
    * single per-class window (hash order ≈ random projection); at
    * extreme scale use [[smoteOversampleLsh]], which bounds every
    * window partition. Non-feature columns copy from the seed row. */
  def smoteOversample(df: DataFrame, labelCol: String, featureCols: Seq[String],
      minorityLabel: Any, copies: Int): DataFrame =
    smoteInterpolate(df, labelCol, featureCols, minorityLabel, copies, bucketCol = None)

  /** SMOTE for the 100 TB regime: neighbor discovery via
    * random-hyperplane LSH buckets (s2's sign-hash machinery applied
    * to the raw feature columns) instead of one per-class window —
    * the window variant funnels the entire minority class through a
    * single task per class, while here each window partition is a
    * (class, bucket) slice of ~|minority|/2^planes rows. Neighbors
    * come from the same bucket, so synthetics interpolate between
    * geometrically CLOSE rows — closer to classic SMOTE's k-NN
    * semantics than hash order, as well as scale-safe. Plane
    * coefficients are seeded driver-side constants (O(planes×dims),
    * baked into the plan — no data-dependent second pass). Rows alone
    * in their bucket emit nothing (no neighbor), matching the window
    * variant's treatment of the last row in hash order. */
  def smoteOversampleLsh(df: DataFrame, labelCol: String, featureCols: Seq[String],
      minorityLabel: Any, copies: Int, planes: Int = 4, seed: Long = 42L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val coef = Array.fill(planes, featureCols.size)(rnd.nextGaussian())
    val bucket = (0 until planes).map { p =>
      val dot = featureCols.zipWithIndex
        .map { case (c, j) => col(c).cast("double") * lit(coef(p)(j)) }
        .reduce(_ + _)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    smoteInterpolate(df, labelCol, featureCols, minorityLabel, copies, Some(bucket))
  }

  /** Shared interpolation core of the two SMOTE variants: window over
    * (class [, bucket]) in hash order, lead-neighbor, x + λ(y−x). */
  private def smoteInterpolate(df: DataFrame, labelCol: String, featureCols: Seq[String],
      minorityLabel: Any, copies: Int, bucketCol: Option[Column]): DataFrame = {
    val h = xxhash64(struct(df.columns.toSeq.map(col): _*))
    val minority0 = df.filter(col(labelCol) === lit(minorityLabel))
      .withColumn("__h", pmod(h, lit(97L)))
    val (minority, partCols) = bucketCol match {
      case Some(b) => (minority0.withColumn("__b", b), Seq(col(labelCol), col("__b")))
      case None    => (minority0, Seq(col(labelCol)))
    }
    val w = Window.partitionBy(partCols: _*).orderBy(h)
    val withNext = featureCols.foldLeft(minority) { (d, c) =>
      d.withColumn(s"__next_$c", lead(col(c), 1).over(w))
    }.filter(col(s"__next_${featureCols.head}").isNotNull)
    val synth = withNext
      .withColumn("__copy", explode(array((1 to copies).map(lit): _*)))
      .withColumn("__lambda", pmod(col("__h") * 31 + col("__copy"), lit(100L)).cast("double") / 100.0)
    featureCols.foldLeft(synth) { (d, c) =>
      d.withColumn(c, col(c) + col("__lambda") * (col(s"__next_$c") - col(c)))
    }.select(df.columns.toSeq.map(col): _*)
  }

  val m3Sql: String =
    """SELECT CASE WHEN o_orderkey % 5 = 0 THEN 'test' ELSE 'train' END AS split,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY 1
      |ORDER BY split""".stripMargin

  // -------------------------------------------------------------------
  // m4: class distribution + imbalance detection + balanced weights
  // (ref main.py:232-252: is_imbalanced = min/max < 0.2, sklearn
  // 'balanced' weights = n/(k*n_c)). Tiny second agg over the group
  // counts — no extra pass over the data.
  def m4(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val counts = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_c"))
    val tot = counts.agg(sum(col("n_c")).as("n"), count(lit(1)).as("k"),
      (min(col("n_c")).cast("double") / max(col("n_c"))).as("ratio"))
    counts.join(broadcast(tot))
      .select(col("event_type"), col("n_c"),
        round(col("n_c").cast("double") / col("n"), 6).as("frac"),
        (col("ratio") < 0.2).as("imbalanced"),
        round(col("n").cast("double") / (col("k") * col("n_c")), 6).as("class_weight"))
      .orderBy(col("event_type"))
  }

  val m4Sql: String =
    """WITH counts AS (SELECT event_type, count(*) AS n_c FROM events GROUP BY event_type),
      |tot AS (SELECT sum(n_c) AS n, count(*) AS k,
      |        CAST(min(n_c) AS DOUBLE)/max(n_c) AS ratio FROM counts)
      |SELECT event_type, n_c,
      |  round(CAST(n_c AS DOUBLE)/n, 6) AS frac,
      |  ratio < 0.2 AS imbalanced,
      |  round(CAST(n AS DOUBLE)/(k*n_c), 6) AS class_weight
      |FROM counts, tot
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // m5: Pearson correlation matrix (ref main.py:164-175) over lineitem
  // numerics, from exact decimal co-moments in ONE scan (pandas corr is
  // single-node, multi-pass). corr = (n*Sxy - Sx*Sy) /
  // (sqrt(n*Sxx-Sx^2)*sqrt(n*Syy-Sy^2)).
  private val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def m5(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val pairs = for { i <- corrCols.indices; j <- corrCols.indices if i < j }
      yield (corrCols(i), corrCols(j))
    val aggs = Seq(count(lit(1)).as("n")) ++
      corrCols.flatMap(c => Seq(sumd(col(c)).as(s"s_$c"), sumProd(col(c), col(c)).as(s"ss_$c"))) ++
      pairs.map { case (a, b) => sumProd(col(a), col(b)).as(s"sp_${a}__$b") }
    val one = li.agg(aggs.head, aggs.tail: _*)
    def corrExpr(a: String, b: String): Column =
      round((col("n") * col(s"sp_${a}__$b") - col(s"s_$a") * col(s"s_$b")) /
        (sqrt(col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
         sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))), 6)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"), corrExpr(a, b).as("corr")) }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy(col("col_a"), col("col_b"))
  }

  val m5Sql: String = {
    def one(a: String, b: String) =
      s"""SELECT '$a' AS col_a, '$b' AS col_b, round(
         |  (n*sp_${a}__$b - s_$a*s_$b) /
         |  (sqrt(n*ss_$a - s_$a*s_$a) * sqrt(n*ss_$b - s_$b*s_$b)), 6) AS corr FROM mom""".stripMargin
    val pairs = for { i <- corrCols.indices; j <- corrCols.indices if i < j }
      yield (corrCols(i), corrCols(j))
    val moms = Seq("count(*) AS n") ++
      corrCols.flatMap(c => Seq(
        s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS s_$c",
        s"CAST(sum(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS ss_$c")) ++
      pairs.map { case (a, b) =>
        s"CAST(sum(CAST($a AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2))) AS DOUBLE) AS sp_${a}__$b" }
    s"""WITH mom AS (SELECT ${moms.mkString(", ")} FROM lineitem)
       |SELECT * FROM (${pairs.map { case (a, b) => one(a, b) }.mkString(" UNION ALL ")})
       |ORDER BY col_a, col_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // m6: feature relevance — |corr| of each feature with the target
  // (l_extendedprice), ranked. The declarative analogue of the
  // reference's feature-importance ranking (main.py:374-383) that
  // doesn't need a trained model.
  def m6(s: SparkSession, dir: String): DataFrame = {
    val target = "l_extendedprice"
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val li = Tables.lineitem(s, dir)
    val aggs = Seq(count(lit(1)).as("n"),
      sumd(col(target)).as("s_t"), sumProd(col(target), col(target)).as("ss_t")) ++
      feats.flatMap(c => Seq(sumd(col(c)).as(s"s_$c"), sumProd(col(c), col(c)).as(s"ss_$c"),
        sumProd(col(c), col(target)).as(s"sp_$c")))
    val one = li.agg(aggs.head, aggs.tail: _*)
    val rows = feats.map { c =>
      val corr = (col("n") * col(s"sp_$c") - col(s"s_$c") * col("s_t")) /
        (sqrt(col("n") * col(s"ss_$c") - col(s"s_$c") * col(s"s_$c")) *
         sqrt(col("n") * col("ss_t") - col("s_t") * col("s_t")))
      struct(lit(c).as("feature"), round(abs(corr), 6).as("abs_corr"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy(col("abs_corr").desc, col("feature"))
  }

  val m6Sql: String = {
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val moms = Seq("count(*) AS n",
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_t",
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ss_t") ++
      feats.flatMap(c => Seq(
        s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS s_$c",
        s"CAST(sum(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS ss_$c",
        s"CAST(sum(CAST($c AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp_$c"))
    val rows = feats.map(c =>
      s"""SELECT '$c' AS feature, round(abs(
         |  (n*sp_$c - s_$c*s_t) / (sqrt(n*ss_$c - s_$c*s_$c) * sqrt(n*ss_t - s_t*s_t))), 6) AS abs_corr
         |FROM mom""".stripMargin)
    s"""WITH mom AS (SELECT ${moms.mkString(", ")} FROM lineitem)
       |SELECT * FROM (${rows.mkString(" UNION ALL ")})
       |ORDER BY abs_corr DESC, feature""".stripMargin
  }

  // -------------------------------------------------------------------
  // m7 (rows-only): MLlib RandomForest feature importances — the
  // distributed twin of the reference's model-based importances
  // (main.py:374-383). Seeded for stability; no SQL oracle (tree
  // training isn't SQL-expressible). Training sample capped at
  // [[TrainCap]] rows (Sampling.capTrainingSample's rationale —
  // uncapped, the RF wall was linear in corpus size: exponent 1.02).
  def m7(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.RandomForestRegressor
    val feats = Array("l_quantity", "l_discount", "l_tax")
    // RF bootstrap sampling and split-candidate sampling are seeded per
    // partition, so the importances follow which rows sit in which
    // partition and in what order. Hash-partition the sample by its key
    // to a constant count and sort each partition: the same result on
    // any core count. (The one-row-group scan alone would also
    // serialize every tree's bagging + split-finding jobs.)
    val li = graft.functions.Sampling.capTrainingSample(
      Tables.lineitem(s, dir).select(
        (feats.map(col) :+ col("l_extendedprice").as("label") :+
          col("l_orderkey") :+ col("l_linenumber")).toSeq: _*),
      TrainCap, col("l_orderkey"), col("l_linenumber"))
      .repartition(M7Partitions, col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .drop("l_orderkey", "l_linenumber")
    val assembled = new VectorAssembler()
      .setInputCols(feats).setOutputCol("features").transform(li)
    val model = new RandomForestRegressor()
      .setNumTrees(10).setMaxDepth(5).setSeed(42)
      .setFeaturesCol("features").setLabelCol("label")
      .fit(assembled)
    val imps = model.featureImportances.toArray
    val rows = feats.zip(imps).map { case (f, i) => (f, math.rint(i * 1e6) / 1e6) }
    s.createDataFrame(rows.toSeq).toDF("feature", "importance")
      .orderBy(col("importance").desc, col("feature"))
  }

  // -------------------------------------------------------------------
  // m8: fixed-width histogram (ref main.py:178-187 histplot): 20 equal
  // buckets over [min,max]. Bounds broadcast; bucketing is map-side; the
  // group-by shuffles 20 keys.
  def m8(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val mm = o.agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    o.join(broadcast(mm))
      .withColumn("bucket",
        least(floor((col("o_totalprice") - col("mn")) / ((col("mx") - col("mn")) / 20)), lit(19L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  val m8Sql: String =
    """WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
      |SELECT CAST(least(floor((o_totalprice - mn)/((mx - mn)/20)), 19) AS BIGINT) AS bucket, count(*) AS n
      |FROM orders, mm
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // m9: categorical value counts (ref main.py:152-154 countplot).
  def m9(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("c_mktsegment"))
  }

  val m9Sql: String =
    """SELECT c_mktsegment, count(*) AS n FROM customer
      |GROUP BY c_mktsegment ORDER BY n DESC, c_mktsegment""".stripMargin

  // -------------------------------------------------------------------
  // m10: task detection (ref main.py:225: classification iff
  // nunique < 20) over candidate target columns.
  def m10(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val one = ev.agg(
      countDistinct(col("event_type")).as("nd_event_type"),
      countDistinct(col("user_id")).as("nd_user_id"),
      countDistinct(col("value")).as("nd_value"))
    val rows = Seq("event_type", "user_id", "value").map(c =>
      struct(lit(c).as("col_name"), col(s"nd_$c").as("n_distinct"),
        when(col(s"nd_$c") < 20, "classification").otherwise("regression").as("task")))
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy(col("col_name"))
  }

  val m10Sql: String =
    """SELECT * FROM (
      |  SELECT 'event_type' AS col_name, count(DISTINCT event_type) AS n_distinct,
      |    CASE WHEN count(DISTINCT event_type) < 20 THEN 'classification' ELSE 'regression' END AS task FROM events
      |  UNION ALL
      |  SELECT 'user_id', count(DISTINCT user_id),
      |    CASE WHEN count(DISTINCT user_id) < 20 THEN 'classification' ELSE 'regression' END FROM events
      |  UNION ALL
      |  SELECT 'value', count(DISTINCT value),
      |    CASE WHEN count(DISTINCT value) < 20 THEN 'classification' ELSE 'regression' END FROM events
      |) ORDER BY col_name""".stripMargin

  // -------------------------------------------------------------------
  // m11: SMOTE-style synthetic oversampling (ref main.py:254-260
  // SMOTE). Minority class = rarest o_orderstatus; each minority row
  // interpolates toward its next same-class neighbor: x + λ(y−x) with
  // a deterministic λ = (key mod 100)/100. At scale neighbors come
  // from LSH buckets (d3/s2 machinery); the window-lead neighbor keeps
  // the oracle exact while exercising the same interpolation math.
  def m11(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val minority = o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt"), col("o_orderstatus")).limit(1)
      .select(col("o_orderstatus").as("min_status"))
    // Partitioned by class (the join keeps exactly one class, so lead()
    // is unchanged) — an un-partitioned window would sort the whole
    // minority class in ONE task. Same shape as smoteOversample.
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_orderkey"))
    o.join(broadcast(minority), col("o_orderstatus") === col("min_status"))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .filter(col("next_price").isNotNull)
      .select(col("o_orderkey").as("seed_key"), col("o_orderstatus"),
        round(col("o_totalprice") +
          (col("o_orderkey") % 100).cast("double") / 100.0 *
            (col("next_price") - col("o_totalprice")), 6).as("synthetic_price"))
      .orderBy(col("seed_key"))
  }

  val m11Sql: String =
    """WITH minority AS (
      |  SELECT o_orderstatus AS min_status FROM orders
      |  GROUP BY o_orderstatus ORDER BY count(*), o_orderstatus LIMIT 1
      |), m AS (
      |  SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
      |    lead(o.o_totalprice, 1) OVER (PARTITION BY o.o_orderstatus ORDER BY o.o_orderkey) AS next_price
      |  FROM orders o, minority WHERE o.o_orderstatus = min_status)
      |SELECT o_orderkey AS seed_key, o_orderstatus,
      |  round(o_totalprice + CAST(o_orderkey % 100 AS DOUBLE)/100.0 *
      |        (next_price - o_totalprice), 6) AS synthetic_price
      |FROM m WHERE next_price IS NOT NULL
      |ORDER BY seed_key""".stripMargin

  // -------------------------------------------------------------------
  // m12: classification metrics (ref main.py:303-318: accuracy,
  // precision, recall, F1). Model = majority-class predictor per
  // o_orderpriority fit on the train split (m3's modulo split),
  // evaluated on test: per-class support/tp/fp/fn and P/R/F1.
  def m12(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .withColumn("is_test", col("o_orderkey") % 5 === 0)
    val model = o.filter(!col("is_test"))
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("o_orderpriority")).orderBy(col("cnt").desc, col("o_orderstatus"))))
      .filter(col("rk") === 1)
      .select(col("o_orderpriority"), col("o_orderstatus").as("pred"))
    val test = o.filter(col("is_test")).join(broadcast(model), Seq("o_orderpriority"))
    val classes = test.select(col("o_orderstatus").as("cls")).distinct()
    val perClass = test
      .join(broadcast(classes)) // tiny class list fans out map-side, no cartesian shuffle
      .groupBy(col("cls"))
      .agg(
        sum(when(col("o_orderstatus") === col("cls"), 1L).otherwise(0L)).as("support"),
        sum(when(col("o_orderstatus") === col("cls") && col("pred") === col("cls"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("o_orderstatus") =!= col("cls") && col("pred") === col("cls"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("o_orderstatus") === col("cls") && col("pred") =!= col("cls"), 1L).otherwise(0L)).as("fn"))
    perClass.select(col("cls"), col("support"), col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double") / greatest(col("tp") + col("fp"), lit(1L)), 6).as("precision"),
        round(col("tp").cast("double") / greatest(col("tp") + col("fn"), lit(1L)), 6).as("recall"),
        round(lit(2.0) * col("tp") / greatest(lit(2L) * col("tp") + col("fp") + col("fn"), lit(1L)), 6).as("f1"))
      .orderBy(col("cls"))
  }

  val m12Sql: String =
    """WITH o AS (SELECT *, o_orderkey % 5 = 0 AS is_test FROM orders),
      |model AS (
      |  SELECT o_orderpriority, o_orderstatus AS pred FROM (
      |    SELECT o_orderpriority, o_orderstatus, row_number() OVER (
      |      PARTITION BY o_orderpriority ORDER BY count(*) DESC, o_orderstatus) AS rk
      |    FROM o WHERE NOT is_test GROUP BY o_orderpriority, o_orderstatus)
      |  WHERE rk = 1),
      |test AS (SELECT o.*, model.pred FROM o JOIN model USING (o_orderpriority) WHERE is_test),
      |classes AS (SELECT DISTINCT o_orderstatus AS cls FROM test)
      |SELECT cls,
      |  CAST(sum(CASE WHEN o_orderstatus = cls THEN 1 ELSE 0 END) AS BIGINT) AS support,
      |  CAST(sum(CASE WHEN o_orderstatus = cls AND pred = cls THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(sum(CASE WHEN o_orderstatus <> cls AND pred = cls THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(sum(CASE WHEN o_orderstatus = cls AND pred <> cls THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |  round(CAST(sum(CASE WHEN o_orderstatus = cls AND pred = cls THEN 1 ELSE 0 END) AS DOUBLE)
      |    / greatest(sum(CASE WHEN pred = cls THEN 1 ELSE 0 END), 1), 6) AS precision,
      |  round(CAST(sum(CASE WHEN o_orderstatus = cls AND pred = cls THEN 1 ELSE 0 END) AS DOUBLE)
      |    / greatest(sum(CASE WHEN o_orderstatus = cls THEN 1 ELSE 0 END), 1), 6) AS recall,
      |  round(2.0 * sum(CASE WHEN o_orderstatus = cls AND pred = cls THEN 1 ELSE 0 END)
      |    / greatest(2*sum(CASE WHEN o_orderstatus = cls AND pred = cls THEN 1 ELSE 0 END)
      |      + sum(CASE WHEN o_orderstatus <> cls AND pred = cls THEN 1 ELSE 0 END)
      |      + sum(CASE WHEN o_orderstatus = cls AND pred <> cls THEN 1 ELSE 0 END), 1), 6) AS f1
      |FROM classes, test
      |GROUP BY cls
      |ORDER BY cls""".stripMargin

  // -------------------------------------------------------------------
  // m13: regression metrics (ref main.py:353-363: MSE/MAE/R²) for a
  // closed-form simple linear regression l_extendedprice ~ l_quantity,
  // fit on train (modulo split) from exact decimal moments, evaluated
  // on test. Residual aggregates are decimal-cast so MSE/MAE are
  // order-independent.
  def m13(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .withColumn("is_test", col("l_orderkey") % 5 === 0)
    val fit = li.filter(!col("is_test")).agg(
      count(lit(1)).as("n"),
      sumd(col("l_quantity")).as("sx"),
      sumd(col("l_extendedprice")).as("sy"),
      sumProd(col("l_quantity"), col("l_quantity")).as("sxx"),
      sumProd(col("l_quantity"), col("l_extendedprice")).as("sxy"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        col("sy"), col("sx"), col("n"))
      .select(col("slope"),
        (col("sy") / col("n") - col("slope") * col("sx") / col("n")).as("intercept"))
    // SSres computed ALGEBRAICALLY from exact decimal test moments:
    //   Σ(y-a-bx)² = syy - 2a·sy - 2b·sxy + n·a² + 2ab·sx + b²·sxx
    // — no per-row double→decimal cast, so no rounding-tie divergence
    // between engines. MAE still needs per-row |res|; residuals are
    // quantized at 2 decimals (ties there need 10 exact trailing
    // digits — effectively impossible).
    val test = li.filter(col("is_test")).join(broadcast(fit))
      .withColumn("res", col("l_extendedprice") - (col("intercept") + col("slope") * col("l_quantity")))
    val yMom = test.agg(
      count(lit(1)).as("nt"),
      sum(abs(col("res")).cast("decimal(28,2)")).cast("double").as("sabs"),
      sumd(col("l_quantity")).as("tsx"),
      sumd(col("l_extendedprice")).as("sy"),
      sumProd(col("l_quantity"), col("l_quantity")).as("tsxx"),
      sumProd(col("l_quantity"), col("l_extendedprice")).as("tsxy"),
      sumProd(col("l_extendedprice"), col("l_extendedprice")).as("syy"))
    fit.join(broadcast(yMom))
      .withColumn("ssres",
        col("syy") - lit(2.0) * col("intercept") * col("sy") - lit(2.0) * col("slope") * col("tsxy") +
          col("nt") * col("intercept") * col("intercept") +
          lit(2.0) * col("intercept") * col("slope") * col("tsx") +
          col("slope") * col("slope") * col("tsxx"))
      .select(round(col("slope"), 6).as("slope"), round(col("intercept"), 6).as("intercept"),
        round(col("ssres") / col("nt"), 2).as("mse"),
        round(col("sabs") / col("nt"), 6).as("mae"),
        round(lit(1.0) - col("ssres") / (col("syy") - col("sy") * col("sy") / col("nt")), 6).as("r2"))
  }

  val m13Sql: String =
    """WITH li AS (SELECT *, l_orderkey % 5 = 0 AS is_test FROM lineitem),
      |mom AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      |  FROM li WHERE NOT is_test),
      |fit AS (
      |  SELECT (n*sxy - sx*sy)/(n*sxx - sx*sx) AS slope,
      |         sy/n - (n*sxy - sx*sy)/(n*sxx - sx*sx)*sx/n AS intercept
      |  FROM mom),
      |test AS (
      |  SELECT l_extendedprice - (intercept + slope*l_quantity) AS res,
      |         l_quantity, l_extendedprice
      |  FROM li, fit WHERE is_test),
      |agg AS (
      |  SELECT count(*) AS nt,
      |    CAST(sum(CAST(abs(res) AS DECIMAL(28,2))) AS DOUBLE) AS sabs,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS tsx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS tsxx,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS tsxy,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      |  FROM test),
      |fin AS (
      |  SELECT slope, intercept, nt, sabs, sy, syy,
      |    syy - 2.0*intercept*sy - 2.0*slope*tsxy + nt*intercept*intercept
      |      + 2.0*intercept*slope*tsx + slope*slope*tsxx AS ssres
      |  FROM fit, agg)
      |SELECT round(slope, 6) AS slope, round(intercept, 6) AS intercept,
      |  round(ssres/nt, 2) AS mse, round(sabs/nt, 6) AS mae,
      |  round(1.0 - ssres/(syy - sy*sy/nt), 6) AS r2
      |FROM fin""".stripMargin

  // -------------------------------------------------------------------
  // m14 (rows-only): grid-search model selection via MLlib
  // CrossValidator (ref main.py:288-300 GridSearchCV): logistic
  // regression predicting "line was returned", regParam grid, 3-fold
  // CV, areaUnderROC. Seeded; outputs one row per grid point plus the
  // winner flag.
  def m14(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    // capped like m7: the CV grid trains 2 points × 3 folds, so an
    // uncapped pass pays 6 linear-in-corpus LBFGS fits
    // the 6 fold×grid models fit concurrently (setParallelism(6) below)
    val li = graft.functions.Sampling.capTrainingSample(
      Tables.lineitem(s, dir)
        .select(col("l_quantity"), col("l_discount"), col("l_tax"),
          when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"),
          col("l_orderkey"), col("l_linenumber")),
      TrainCap, col("l_orderkey"), col("l_linenumber"))
      .drop("l_orderkey", "l_linenumber")
    // cache the assembled frame for the fit's duration: CrossValidator
    // materializes 3×2 fold caches from it, and uncached each
    // materialization re-runs the parquet scan + assemble (measured:
    // six 46 MB scan jobs per fit). Unpersisted right after fit — the
    // cache must not outlive this call (a later identical plan would
    // silently reuse it across bench runs).
    val assembled = new VectorAssembler()
      .setInputCols(Array("l_quantity", "l_discount", "l_tax"))
      .setOutputCol("features").transform(li).cache()
    val lr = new LogisticRegression().setMaxIter(20)
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.1, 0.01)).build()
    val cv = new CrossValidator()
      .setEstimator(lr)
      .setEvaluator(new BinaryClassificationEvaluator().setMetricName("areaUnderROC"))
      .setEstimatorParamMaps(grid).setNumFolds(3).setSeed(42)
      // all 6 (fold × grid-point) models concurrently (was 4): each fit
      // is a chain of small jobs; overlap fills the scheduling gaps
      .setParallelism(6)
    val model = try cv.fit(assembled) finally assembled.unpersist(blocking = false)
    val rows = grid.zip(model.avgMetrics).map { case (pm, metric) =>
      (pm.get(lr.regParam).get, math.rint(metric * 1e6) / 1e6) }
    val best = rows.maxBy(_._2)._1
    s.createDataFrame(rows.toSeq.map { case (rp, m) => (rp, m, rp == best) })
      .toDF("reg_param", "auc", "is_best")
      .orderBy(col("reg_param"))
  }

  // -------------------------------------------------------------------
  // m15: balanced stratified downsampling — the class-rebalance a
  // 100 TB training-data build uses when the majority class must
  // SHRINK (m11's SMOTE grows the minority; this is the converse).
  //
  // Scale shape: NO per-class window/rank (partitionBy(class) over the
  // full table puts a whole class in one task — the skew m11's verdict
  // fix was about). Instead: one small agg for per-class counts, a
  // per-class integer keep-threshold broadcast back, and a map-side
  // filter on a deterministic 20-bit multiplicative hash of the row
  // key. Every row is decided locally; the only shuffle is the
  // O(#classes) count agg. The sample size per class is then
  // target ± binomial noise, which is the standard trade at scale.
  //
  // All arithmetic is 64-bit integer (Knuth multiplicative hash, `div`
  // floor-division) so DuckDB replays it bit-for-bit.
  def m15(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val counts = o.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("__n_c"))
    val target = counts.agg(expr("(min(__n_c) + 1L) div 2L").as("__target"))
    val thr = counts.crossJoin(broadcast(target))
      .select(col("o_orderpriority"),
        expr(s"(${graft.functions.Sampling.Buckets}L * __target) div __n_c").as("__thr"))
    o.join(broadcast(thr), Seq("o_orderpriority"))
      .filter(graft.functions.Sampling.bucket(col("o_orderkey")) < col("__thr"))
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  val m15Sql: String = {
    import graft.functions.Sampling._
    s"""WITH n AS (SELECT o_orderpriority, count(*) AS n_c FROM orders GROUP BY 1),
       |t AS (SELECT o_orderpriority, n_c,
       |        ($Buckets * ((SELECT min(n_c) + 1 FROM n) // 2)) // n_c AS thr
       |      FROM n)
       |SELECT o.o_orderkey, o.o_orderpriority
       |FROM orders o JOIN t USING (o_orderpriority)
       |WHERE ${bucketSql("o.o_orderkey")} < t.thr
       |ORDER BY o.o_orderkey""".stripMargin
  }

  // -------------------------------------------------------------------
  // m16: token-budget domain mixing — the sampler that turns a raw
  // multi-source corpus into a training mix: spend HALF the corpus's
  // token budget, split uniformly across sources, by downsampling
  // over-represented sources to their share (sources already at or
  // under their share keep everything). The document-level knob every
  // published data recipe (Pile/ROOTS/Dolma weights) turns at 100 TB.
  //
  // Scale shape: token totals per source are ONE O(#sources) agg; the
  // per-source keep-threshold table broadcasts back, and every row is
  // decided by a map-side filter on a deterministic multiplicative
  // hash of doc_id (m15's machinery) — kept tokens per source are then
  // target ± binomial noise, the standard trade at scale. All
  // threshold arithmetic is 64-bit integer (`div` floor division), so
  // DuckDB replays it bit-for-bit.
  def m16(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_toks"))
    val per = d.groupBy(col("source")).agg(sum(col("n_toks")).as("__src_toks"))
    // budget/target via an empty-partition window over the |sources|
    // aggregate rows — a separate agg-of-agg branch would re-scan the
    // corpus (the q23 lesson: branch + filter defeats ReuseExchange)
    val thr = per.select(col("source"),
      expr(s"least(${graft.functions.Sampling.Buckets}L, (${graft.functions.Sampling.Buckets}L * (((sum(__src_toks) over ()) div 2L) div (count(1) over ()))) div __src_toks)")
        .as("__thr"))
    d.join(broadcast(thr), Seq("source"))
      .filter(graft.functions.Sampling.bucket(col("doc_id")) < col("__thr"))
      .select(col("doc_id"), col("source"), col("n_toks"))
      .orderBy(col("doc_id"))
  }

  val m16Sql: String = {
    val toks = graft.functions.TextFunctions.tokensSql("text")
    s"""WITH d AS (SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_toks FROM documents),
       |p AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS src_toks FROM d GROUP BY 1),
       |thr AS (SELECT source, least(${graft.functions.Sampling.Buckets},
       |          (${graft.functions.Sampling.Buckets} * ((CAST(sum(src_toks) OVER () AS BIGINT) // 2) // (count(*) OVER ()))) // src_toks) AS thr
       |        FROM p)
       |SELECT d.doc_id, d.source, d.n_toks
       |FROM d JOIN thr USING (source)
       |WHERE ${graft.functions.Sampling.bucketSql("d.doc_id")} < thr.thr
       |ORDER BY d.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // m17: equal-frequency (quantile) binning — the discretizer feature
  // pipelines use where m8's equal-WIDTH histogram misrepresents
  // skewed columns. The tempting formulation is ntile(4) OVER
  // (ORDER BY price): a global-sort window, i.e. ONE task holding the
  // whole table — the single worst shape at 100 TB. Instead the
  // interior boundaries come from one aggregate broadcast back, and
  // every row is binned map-side by O(log bins) comparisons. Final
  // agg is O(bins). The LIBRARY DEFAULT boundary aggregate is the
  // approx_percentile sketch (functions.Quantiles — fixed memory on
  // unbounded domains like o_totalprice); this inventory entry runs
  // `exact = true`, the documented ORACLE MODE (sketch answers are
  // engine-specific). PercentileSpec proves the default plans the
  // sketch and its bins stay within rank tolerance of n/k.
  // Knife-edge safety (exact mode): boundaries interpolate between
  // adjacent 2-decimal order statistics, so they sit ≥0.0025 from any
  // data value (or exactly ON one, computed identically by both
  // engines) — a 1-ulp interpolation divergence can never flip a bin.
  def m17(s: SparkSession, dir: String): DataFrame =
    quantileBin(Tables.orders(s, dir).select(col("o_totalprice")),
      "o_totalprice", nBins = 4, exact = true)
      .withColumnRenamed("avg_value", "avg_price")

  /** Equal-frequency binning of `valueCol` into `nBins` quantile bins:
    * per-bin count, min, max, decimal-exact mean. Boundaries from ONE
    * aggregate broadcast back (never a global-sort window); rows with
    * NULL values keep a NULL bin. `exact = false` (default) uses the
    * fixed-memory sketch — the unbounded-domain 100 TB path. */
  def quantileBin(df: DataFrame, valueCol: String, nBins: Int,
                  exact: Boolean = false,
                  accuracy: Int = graft.functions.Quantiles.DefaultAccuracy): DataFrame = {
    require(nBins >= 2, s"quantileBin needs >= 2 bins, got $nBins")
    import graft.functions.Quantiles.quantile
    val v = col(valueCol)
    val probs = (1 until nBins).map(_.toDouble / nBins)
    val bAggs = probs.zipWithIndex.map { case (p, i) =>
      quantile(v, p, exact, accuracy).as(s"__b$i")
    }
    val b = df.agg(bAggs.head, bAggs.tail: _*)
    val binExpr = (1 until probs.length)
      .foldLeft(when(v <= col("__b0"), 1)) { (acc, i) =>
        acc.when(v <= col(s"__b$i"), i + 1)
      }
      .otherwise(when(v.isNotNull, nBins))
    df.crossJoin(broadcast(b))
      .withColumn("bin", binExpr)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(v).as("lo"),
        max(v).as("hi"),
        round(meand(v), 6).as("avg_value"))
      .orderBy(col("bin"))
  }

  val m17Sql: String =
    """WITH b AS (
      |  SELECT quantile_cont(o_totalprice, 0.25) AS b1,
      |         quantile_cont(o_totalprice, 0.5)  AS b2,
      |         quantile_cont(o_totalprice, 0.75) AS b3
      |  FROM orders)
      |SELECT CASE WHEN o_totalprice <= b1 THEN 1
      |            WHEN o_totalprice <= b2 THEN 2
      |            WHEN o_totalprice <= b3 THEN 3 ELSE 4 END AS bin,
      |  count(*) AS n,
      |  min(o_totalprice) AS lo,
      |  max(o_totalprice) AS hi,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price
      |FROM orders, b
      |GROUP BY 1
      |ORDER BY bin""".stripMargin

  // -------------------------------------------------------------------
  // m18: smoothed target (mean) encoding — the high-cardinality
  // categorical encoder where label/frequency encoding (c5/c6) loses
  // signal: category → (sum_c + m·global_mean)/(n_c + m), the standard
  // m-estimate shrink toward the prior so rare categories don't
  // memorize their few targets. Shape: ONE agg at category
  // cardinality + a 1-row global broadcast — the encode table then
  // broadcasts back onto the training frame as a map-side join
  // (exactly c5/c6's deployment path). Sums are exact decimal; the
  // final smoothing arithmetic is the same double expression in both
  // engines (oracle rule §6.1).
  def m18(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderpriority"), col("o_totalprice"))
    val g = o.agg(meand(col("o_totalprice")).as("__g"))
    o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumd(col("o_totalprice")).as("__sum"))
      .crossJoin(broadcast(g))
      .select(col("o_orderpriority"), col("n"),
        ((col("__sum") + lit(10) * col("__g")) / (col("n") + lit(10))).as("target_enc"))
      .orderBy(col("o_orderpriority"))
  }

  val m18Sql: String =
    """WITH g AS (
      |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS gm
      |  FROM orders),
      |p AS (
      |  SELECT o_orderpriority, count(*) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
      |  FROM orders GROUP BY 1)
      |SELECT o_orderpriority, n, (s + 10*gm)/(n + 10) AS target_enc
      |FROM p, g
      |ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // m19: hashing-trick feature encoding (sklearn FeatureHasher /
  // HashingVectorizer's idea) — category → pmod(portable hash, 16)
  // with NO fit pass at all. That's the 100 TB story vs c5/c6/m18:
  // label, frequency, and target encoding each need a vocabulary
  // aggregate + a join; the hashed encode is a pure map-side
  // expression with zero state, so new categories at inference time
  // can't break it. The diagnostic output groups by bucket and counts
  // distinct source values — n_values > 1 IS a measured hash
  // collision (the trick's known cost, quantified rather than
  // guessed). Uses tcode (TextFunctions) — the same polynomial hash
  // both engines compute identically.
  def m19(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("f_bucket", pmod(tcode(col("event_type")), lit(16L)))
      .groupBy(col("f_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_type")).as("n_values"))
      .orderBy(col("f_bucket"))
  }

  val m19Sql: String = {
    s"""SELECT ${tcodeSql("event_type")} % 16 AS f_bucket,
       |  count(*) AS n_rows,
       |  count(DISTINCT event_type) AS n_values
       |FROM events
       |GROUP BY 1
       |ORDER BY f_bucket""".stripMargin
  }

  // -------------------------------------------------------------------
  // m20: PSI drift audit (population stability index) between the m3
  // train/test splits over 20 fixed-width o_totalprice bins — the
  // standard "did my split/feature distribution shift" monitor a
  // production scoring pipeline runs per release. Shape: bounds agg
  // broadcast (m8), ONE scan bins both splits via conditional sums,
  // the 20-row bucket frame self-aggregates for totals (1-row
  // broadcast), psi terms are per-bucket expressions. Zero-count
  // buckets clamp to 1e-6 (the PSI convention) so ln stays finite.
  // FP: fractions are single divisions of exact counts; ln + round(6)
  // is deterministic at these magnitudes (§6.5).
  def m20(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .withColumn("__is_test", col("o_orderkey") % 5 === 0) // m3's split rule
    val mm = o.agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    val b = o.join(broadcast(mm))
      .withColumn("bucket",
        least(floor((col("o_totalprice") - col("mn")) / ((col("mx") - col("mn")) / 20)), lit(19L)))
      .groupBy(col("bucket"))
      .agg(sum(when(!col("__is_test"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("__is_test"), 1L).otherwise(0L)).as("n_test"))
    val tot = b.agg(sum(col("n_train")).as("__tr"), sum(col("n_test")).as("__te"))
    val p = greatest(col("n_train").cast("double") / col("__tr"), lit(0.000001))
    val q = greatest(col("n_test").cast("double") / col("__te"), lit(0.000001))
    b.crossJoin(broadcast(tot)) // provably 1 row
      .select(col("bucket"), col("n_train"), col("n_test"),
        round((p - q) * log(p / q), 6).as("psi_term"))
      .orderBy(col("bucket"))
  }

  val m20Sql: String =
    """WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
      |b AS (
      |  SELECT CAST(least(floor((o_totalprice - mn)/((mx - mn)/20)), 19) AS BIGINT) AS bucket,
      |    CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_train,
      |    CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
      |  FROM orders, mm GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_train) AS BIGINT) AS tr, CAST(sum(n_test) AS BIGINT) AS te FROM b)
      |SELECT bucket, n_train, n_test,
      |  round((greatest(CAST(n_train AS DOUBLE)/tr, 0.000001)
      |         - greatest(CAST(n_test AS DOUBLE)/te, 0.000001))
      |    * ln(greatest(CAST(n_train AS DOUBLE)/tr, 0.000001)
      |         / greatest(CAST(n_test AS DOUBLE)/te, 0.000001)), 6) AS psi_term
      |FROM b, tot
      |ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // m21: Welch two-sample t-test — the A/B-experiment readout every
  // metrics pipeline ships (Welch, not Student: unequal variances are
  // the norm between experiment arms, and Welch is strictly safer
  // when they happen to be equal). Shape: ONE scan, all six moments
  // (n, Σx, Σx² per arm) as conditional aggregates in a single 1-row
  // partial-agg — no per-arm scans, no shuffle beyond the agg merge.
  // Determinism: sums and sums-of-squares are EXACT DECIMAL
  // (order-independent merges); the t/df formulas then run in double
  // with the SAME left-to-right expression tree both engines compile,
  // so the oracle compare is bit-exact. The p-value lookup is left to
  // the caller's stats table: it is a pure function of (t, df) with
  // no data semantics, and Spark ships no incomplete-beta builtin.
  def welchMoments(df: DataFrame, arm: Column, v: Column): DataFrame =
    df.agg(
      count(when(arm, 1)).as("n_a"),
      count(when(!arm, 1)).as("n_b"),
      sum(when(arm, dec2(v))).as("s_a"),
      sum(when(!arm, dec2(v))).as("s_b"),
      sum(when(arm, dec2(v) * dec2(v))).as("q_a"),
      sum(when(!arm, dec2(v) * dec2(v))).as("q_b"))

  def welchTTest(df: DataFrame, arm: Column, v: Column): DataFrame = {
    val m = welchMoments(df, arm, v)
      .withColumn("mean_a", col("s_a").cast("double") / col("n_a"))
      .withColumn("mean_b", col("s_b").cast("double") / col("n_b"))
      .withColumn("var_a",
        (col("q_a").cast("double") - col("s_a").cast("double") * col("s_a").cast("double") / col("n_a")) / (col("n_a") - 1))
      .withColumn("var_b",
        (col("q_b").cast("double") - col("s_b").cast("double") * col("s_b").cast("double") / col("n_b")) / (col("n_b") - 1))
      .withColumn("sea", col("var_a") / col("n_a"))
      .withColumn("seb", col("var_b") / col("n_b"))
    m.select(col("n_a"), col("n_b"),
      round(col("mean_a"), 6).as("mean_a"),
      round(col("mean_b"), 6).as("mean_b"),
      round((col("mean_a") - col("mean_b")) / sqrt(col("sea") + col("seb")), 6).as("t_stat"),
      round((col("sea") + col("seb")) * (col("sea") + col("seb")) /
        (col("sea") * col("sea") / (col("n_a") - 1) + col("seb") * col("seb") / (col("n_b") - 1)), 6)
        .as("df_welch"))
  }

  /** m21: even/odd user_id as the A/B arms (the hash-assignment shape)
    * over event values. */
  def m21(s: SparkSession, dir: String): DataFrame =
    welchTTest(Tables.events(s, dir).filter(col("value").isNotNull),
      col("user_id") % 2 === 0, col("value"))

  val m21Sql: String =
    """WITH a AS (
      |  SELECT
      |    count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
      |    count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_b,
      |    sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) END) AS s_a,
      |    sum(CASE WHEN user_id % 2 <> 0 THEN CAST(value AS DECIMAL(18,2)) END) AS s_b,
      |    sum(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS q_a,
      |    sum(CASE WHEN user_id % 2 <> 0 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS q_b
      |  FROM events WHERE value IS NOT NULL),
      |m AS (
      |  SELECT n_a, n_b,
      |    CAST(s_a AS DOUBLE) / n_a AS mean_a,
      |    CAST(s_b AS DOUBLE) / n_b AS mean_b,
      |    (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a) / (n_a - 1) AS var_a,
      |    (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b) / (n_b - 1) AS var_b
      |  FROM a),
      |se AS (SELECT n_a, n_b, mean_a, mean_b, var_a / n_a AS sea, var_b / n_b AS seb FROM m)
      |SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
      |  round((mean_a - mean_b) / sqrt(sea + seb), 6) AS t_stat,
      |  round((sea + seb) * (sea + seb) /
      |        (sea * sea / (n_a - 1) + seb * seb / (n_b - 1)), 6) AS df_welch
      |FROM se""".stripMargin

  // -------------------------------------------------------------------
  // m22: binned ROC AUC — the model-quality staple m12/m13 lack. The
  // EXACT tie-aware AUC is a Mann-Whitney rank statistic, and a global
  // rank is a global sort: the one operation this engine's own lint
  // bans at 100 TB (every score through one ordered pass). The scale
  // path every production evaluator uses instead is HISTOGRAM AUC:
  // bin scores into B fixed-width bins (bounds from a 1-row agg,
  // m20's shape), count (pos, neg) per bin in ONE scan, then walk the
  // ≤B-row bin frame cumulatively — the empty-spec window is bounded
  // by the CONSTRUCTION constant B=1000, not data (allowlisted with
  // audit), and the approximation error is O(max bin mass), measured
  // in spec against the exact rank AUC. Within-bin score order is
  // unknowable, so a bin contributes ties: pos·(2·neg_below + neg)/2
  // — summed EXACTLY in DECIMAL (no FP order-dependence, no BIGINT
  // overflow at 100 TB pair counts), one double division at the end.
  def binnedAuc(df: DataFrame, pos: Column, score: Column, bins: Int = 1000): DataFrame = {
    val mm = df.agg(min(score).as("mn"), max(score).as("mx"))
    val b = df.join(broadcast(mm))
      .withColumn("__bucket",
        least(floor((score - col("mn")) / ((col("mx") - col("mn")) / bins)), lit(bins - 1L)))
      .groupBy(col("__bucket"))
      .agg(sum(when(pos, 1L).otherwise(0L)).as("n_pos"),
        sum(when(!pos, 1L).otherwise(0L)).as("n_neg"))
    // ≤B rows beyond this point: the window is construction-bounded
    val cum = b.withColumn("__cum_neg",
      sum(col("n_neg")).over(Window.orderBy(col("__bucket"))) - col("n_neg"))
    cum.agg(
        sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"),
        sum(col("n_pos").cast(DecimalType(19, 0)) *
          (lit(2) * col("__cum_neg") + col("n_neg")).cast(DecimalType(19, 0))).as("__num"))
      .select(col("n_pos"), col("n_neg"),
        round(col("__num").cast("double") / (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  /** m22: does event value separate purchases from non-purchases? */
  def m22(s: SparkSession, dir: String): DataFrame =
    binnedAuc(Tables.events(s, dir).filter(col("value").isNotNull),
      col("event_type") === "purchase", col("value"))

  /** Reliability-diagram (calibration) table: scores min-max
    * normalized to [0,1], binned equal-width; per bin the observed
    * positive rate vs the bin's mean normalized score — the data a
    * calibration plot / ECE summary is built from (m22's AUC says
    * "ranks well"; this says "probabilities mean what they claim").
    * ONE scan to bound, one binning scan, ≤`bins` rows out.
    * Determinism: the per-bin mean score is derived from the
    * EXACT-decimal sum via affine linearity — mean((v-mn)/span) =
    * (sumDec(v)/n - mn)/span — so no order-dependent double
    * accumulation exists; the fractions are single IEEE divisions of
    * engine-identical operands. */
  def calibrationCurve(df: DataFrame, pos: Column, score: Column,
      bins: Int = 20): DataFrame = {
    val mm = df.agg(min(score).as("mn"), max(score).as("mx"))
    val span = col("mx") - col("mn")
    df.join(broadcast(mm))
      .withColumn("bucket",
        least(floor((score - col("mn")) / (span / bins)), lit(bins - 1L)).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(score)).as("__sv"),
        sum(when(pos, 1L).otherwise(0L)).as("__np"),
        first(col("mn")).as("__mn"), first(col("mx")).as("__mx"))
      .select(col("bucket"), col("n"),
        round((col("__sv").cast("double") / col("n") - col("__mn")) /
          (col("__mx") - col("__mn")), 6).as("mean_p"),
        round(col("__np").cast("double") / col("n"), 6).as("frac_pos"))
      .orderBy(col("bucket"))
  }

  /** m23: is event value CALIBRATED as a purchase propensity? */
  def m23(s: SparkSession, dir: String): DataFrame =
    calibrationCurve(Tables.events(s, dir).filter(col("value").isNotNull),
      col("event_type") === "purchase", col("value"))

  val m23Sql: String =
    """WITH e AS (
      |  SELECT value, event_type = 'purchase' AS pos
      |  FROM events WHERE value IS NOT NULL),
      |mm AS (SELECT min(value) AS mn, max(value) AS mx FROM e)
      |SELECT CAST(least(floor((value - mn) / ((mx - mn) / 20)), 19) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  round((CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) - min(mn))
      |        / (min(mx) - min(mn)), 6) AS mean_p,
      |  round(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS frac_pos
      |FROM e, mm
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  val m22Sql: String =
    """WITH e AS (
      |  SELECT value, event_type = 'purchase' AS pos
      |  FROM events WHERE value IS NOT NULL),
      |mm AS (SELECT min(value) AS mn, max(value) AS mx FROM e),
      |b AS (
      |  SELECT CAST(least(floor((value - mn) / ((mx - mn) / 1000)), 999) AS BIGINT) AS bucket,
      |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      |  FROM e, mm GROUP BY 1),
      |c AS (
      |  SELECT n_pos, n_neg,
      |    sum(n_neg) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_neg AS cum_neg
      |  FROM b)
      |SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos, CAST(sum(n_neg) AS BIGINT) AS n_neg,
      |  round(CAST(sum(CAST(n_pos AS DECIMAL(19,0)) * CAST(2 * cum_neg + n_neg AS DECIMAL(19,0))) AS DOUBLE)
      |        / (2.0 * sum(n_pos) * sum(n_neg)), 6) AS auc
      |FROM c""".stripMargin

  // -------------------------------------------------------------------
  // m24: chi-squared test of independence between two categoricals —
  // the feature-selection / drift readout for categorical pairs (m21's
  // role for numeric-vs-arm). Shape: ONE scan to the (i, j) cell
  // counts (≤ r·c rows); margins are window sums over the tiny cell
  // frame and N is a 1-row broadcast — orders is never re-scanned.
  // Determinism: each cell term is ((N·n_ij − r_i·c_j)² / (N·r_i·c_j),
  // the common-denominator form of (obs−exp)²/exp) with every product
  // taken in DOUBLE via the same left-to-right expression tree both
  // engines compile (int64 products would wrap around N ≈ 2e6;
  // doubles stay exact to 2^53 and identical beyond), and the
  // cross-cell sum is an ORDERED left fold over the (i, j)-sorted
  // cell list — FP addition order is pinned, so both engines produce
  // the identical double before the final round. NULL categories are
  // excluded up front (standard chi2 semantics).
  def chi2Independence(df: DataFrame, a: Column, b: Column): DataFrame = {
    // standard chi2 semantics: rows with a missing category are
    // excluded (a NULL would otherwise fall out of the grid join and
    // poison the fold with a 0/0 term)
    val observed = df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.as("i"), b.as("j")).agg(count(lit(1)).as("n_ij"))
    // EMPTY cells still contribute (0−exp)²/exp — a groupBy alone
    // silently drops them (measured: 160 vs the correct 240 on a
    // perfect-association table). Expand to the full i×j grid (r·c
    // rows, broadcast-tiny) and coalesce missing counts to 0.
    val cells = observed.select(col("i")).distinct()
      .crossJoin(broadcast(observed.select(col("j")).distinct()))
      .join(observed, Seq("i", "j"), "left")
      .withColumn("n_ij", coalesce(col("n_ij"), lit(0L)))
    val m = cells
      .withColumn("r_i", sum(col("n_ij")).over(Window.partitionBy(col("i"))))
      .withColumn("c_j", sum(col("n_ij")).over(Window.partitionBy(col("j"))))
      .crossJoin(broadcast(cells.agg(sum(col("n_ij")).as("n")))) // 1 row
      // products in DOUBLE, not Long: n·r_i·c_j wraps int64 around
      // N ≈ 2e6 with concentrated margins (silently wrong in Spark,
      // an out-of-range ERROR in DuckDB — parity breaks exactly when
      // the number is garbage). Exactness holds to 2^53 per product;
      // beyond that both engines compute the identical double.
      .withColumn("d",
        col("n").cast("double") * col("n_ij").cast("double") -
          col("r_i").cast("double") * col("c_j").cast("double"))
      .withColumn("term",
        col("d") * col("d") /
          (col("n").cast("double") * col("r_i").cast("double") * col("c_j").cast("double")))
    m.agg(
      aggregate(array_sort(collect_list(struct(col("i"), col("j"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("chi2_raw"),
      countDistinct(col("i")).as("r"), countDistinct(col("j")).as("c"),
      first(col("n")).as("n"))
      .select(col("n"), col("r"), col("c"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        round(col("chi2_raw"), 6).as("chi2"),
        round(sqrt(col("chi2_raw") / (col("n") * least(col("r") - 1, col("c") - 1))), 6)
          .as("cramers_v"))
  }

  /** m24: order priority × order status over the orders table. */
  def m24(s: SparkSession, dir: String): DataFrame =
    chi2Independence(Tables.orders(s, dir), col("o_orderpriority"), col("o_orderstatus"))

  val m24Sql: String =
    """WITH obs AS (
      |  SELECT o_orderpriority AS i, o_orderstatus AS j, count(*) AS n_ij
      |  FROM orders GROUP BY 1, 2),
      |cells AS (
      |  SELECT g.i, g.j, COALESCE(o.n_ij, 0) AS n_ij
      |  FROM (SELECT i, j FROM (SELECT DISTINCT i FROM obs), (SELECT DISTINCT j FROM obs)) g
      |  LEFT JOIN obs o USING (i, j)),
      |tot AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n FROM cells),
      |m AS (
      |  SELECT i, j, n_ij,
      |    CAST(sum(n_ij) OVER (PARTITION BY i) AS BIGINT) AS r_i,
      |    CAST(sum(n_ij) OVER (PARTITION BY j) AS BIGINT) AS c_j, n
      |  FROM cells CROSS JOIN tot),
      |t AS (
      |  SELECT i, j, n, r_i, c_j,
      |    CAST(n AS DOUBLE) * CAST(n_ij AS DOUBLE)
      |      - CAST(r_i AS DOUBLE) * CAST(c_j AS DOUBLE) AS d
      |  FROM m),
      |f AS (
      |  SELECT n,
      |    list_reduce(list(d * d /
      |        (CAST(n AS DOUBLE) * CAST(r_i AS DOUBLE) * CAST(c_j AS DOUBLE))
      |      ORDER BY i, j),
      |      (acc, x) -> acc + x) AS chi2_raw,
      |    count(DISTINCT i) AS r, count(DISTINCT j) AS c
      |  FROM t GROUP BY n)
      |SELECT n, CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
      |  CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
      |  round(chi2_raw, 6) AS chi2,
      |  round(sqrt(chi2_raw / (n * least(r - 1, c - 1))), 6) AS cramers_v
      |FROM f""".stripMargin

  // -------------------------------------------------------------------
  // m25: WEIGHTED domain mixing — m16 with arbitrary per-source target
  // weights instead of a uniform split: the knob every published data
  // recipe actually turns (Pile/ROOTS/Dolma assign web/code/books
  // different shares; DoReMi learns them). Each source's token target
  // is budget·w_s/Σw (budget = half the corpus, m16's convention), met
  // by the same deterministic doc_id-hash threshold; sources under
  // their target keep everything. Output is the per-source attrition
  // report (weight, tokens, target, kept docs/tokens) — the mix sheet
  // a recipe review reads.
  //
  // Scale shape: m16's exactly — ONE O(#sources) aggregate, targets
  // via an empty-partition window over those bounded rows (allowlist-
  // audited: corpus sources are contract-bounded), thresholds
  // broadcast back, map-side keep, one report aggregation. All
  // arithmetic is 64-bit integer div, bit-replayable in DuckDB. The
  // oracle weights derive from the source INDEX (src7 → 7 % 4 + 1) so
  // the weight table needs no side channel; the library form
  // [[weightedDomainMix]] takes a (source, weight) frame.
  def m25(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_toks"))
    weightedDomainMix(d, expr("cast(substr(source, 4) as bigint) % 4 + 1"))
      .orderBy(col("source"))
  }

  /** Library API: weighted token-budget domain mix over a (doc_id,
    * source, n_toks) frame; `weight` is any integer Column derivable
    * per row (join a recipe table and pass its column for learned
    * weights). Budget = `budgetNum/budgetDen` of total corpus tokens
    * (default 1/2, m16's convention). Returns the per-source report. */
  def weightedDomainMix(d: DataFrame, weight: Column,
      budgetNum: Long = 1L, budgetDen: Long = 2L): DataFrame = {
    val B = graft.functions.Sampling.Buckets
    val per = d.withColumn("__w", weight.cast("long"))
      .groupBy(col("source"), col("__w")).agg(sum(col("n_toks")).as("__src_toks"))
    val thr = per.select(col("source"), col("__w"), col("__src_toks"),
      expr(s"(((sum(__src_toks) over ()) * ${budgetNum}L div ${budgetDen}L) * __w) div (sum(__w) over ())")
        .as("__target"))
      .withColumn("__thr", expr(s"least(${B}L, (${B}L * __target) div __src_toks)"))
    d.join(broadcast(thr), Seq("source"))
      .withColumn("__kept",
        (graft.functions.Sampling.bucket(col("doc_id")) < col("__thr")).cast("long"))
      .groupBy(col("source"), col("__w"), col("__src_toks"), col("__target"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__kept")).as("kept_docs"),
        sum(col("n_toks") * col("__kept")).as("kept_tokens"))
      .select(col("source"), col("__w").as("weight"), col("__src_toks").as("src_tokens"),
        col("__target").as("target_tokens"), col("n_docs"), col("kept_docs"),
        col("kept_tokens"))
  }

  val m25Sql: String = {
    val toks = graft.functions.TextFunctions.tokensSql("text")
    val B = graft.functions.Sampling.Buckets
    s"""WITH d AS (SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_toks FROM documents),
       |p AS (SELECT source, CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w,
       |        CAST(sum(n_toks) AS BIGINT) AS src_toks
       |      FROM d GROUP BY 1, 2),
       |thr AS (SELECT source, w, src_toks,
       |          (((CAST(sum(src_toks) OVER () AS BIGINT) * 1) // 2) * w)
       |            // CAST(sum(w) OVER () AS BIGINT) AS target,
       |          least($B, ($B * ((((CAST(sum(src_toks) OVER () AS BIGINT) * 1) // 2) * w)
       |            // CAST(sum(w) OVER () AS BIGINT))) // src_toks) AS thr
       |        FROM p)
       |SELECT source, t.w AS weight, t.src_toks AS src_tokens,
       |  CAST(t.target AS BIGINT) AS target_tokens,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN ${graft.functions.Sampling.bucketSql("d.doc_id")} < t.thr
       |    THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       |  CAST(sum(CASE WHEN ${graft.functions.Sampling.bucketSql("d.doc_id")} < t.thr
       |    THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
       |FROM d JOIN thr t USING (source)
       |GROUP BY source, t.w, t.src_toks, t.target
       |ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------------------
  // m26: mutual information between a binned numeric feature and a
  // categorical label — the model-free dependence score feature
  // selection ranks by (chi² (m24) tests independence; MI measures its
  // STRENGTH in nats). Shape: ONE fact shuffle (the joint (bin, class)
  // counts); both marginals and the grand total derive from the
  // 25-cell joint — never a second scan — and broadcast back.
  // Determinism: every count is exact integer; each cell's term is a
  // fixed expression tree over integers rounded to 6dp (m20's psi_term
  // rule: per-CELL terms, no cross-cell double sum whose association
  // order could differ between engines). MI itself = sum of mi_term —
  // the library `mutualInfo` does that one addition.
  def m26(s: SparkSession, dir: String): DataFrame = {
    val binned = Tables.events(s, dir).filter(col("value").isNotNull)
      .select(least(floor(col("value") / 100), lit(4L)).cast("long").as("bin"),
        col("event_type"))
    val joint = binned.groupBy(col("bin"), col("event_type"))
      .agg(count(lit(1)).as("n_xy"))
    val mx = joint.groupBy(col("bin")).agg(sum(col("n_xy")).as("n_x"))
    val my = joint.groupBy(col("event_type")).agg(sum(col("n_xy")).as("n_y"))
    val tot = joint.agg(sum(col("n_xy")).as("n"))
    joint
      .join(broadcast(mx), Seq("bin"))
      .join(broadcast(my), Seq("event_type"))
      .crossJoin(broadcast(tot)) // provably 1 row
      .select(col("bin"), col("event_type"), col("n_xy"), col("n_x"), col("n_y"),
        round((col("n_xy").cast("double") / col("n")) *
          log((col("n").cast("double") * col("n_xy")) /
            (col("n_x").cast("double") * col("n_y"))), 6).as("mi_term"))
      .orderBy(col("bin"), col("event_type"))
  }

  /** Library API: scalar mutual information (nats) between `x` binned
    * by `bin` and categorical `y` — one fact shuffle, marginals from
    * the joint. The final reduction sums the 6dp cell terms. */
  def mutualInfo(df: DataFrame, bin: Column, y: Column): DataFrame = {
    val joint = df.select(bin.as("__b"), y.as("__y"))
      .groupBy(col("__b"), col("__y")).agg(count(lit(1)).as("n_xy"))
    val mx = joint.groupBy(col("__b")).agg(sum(col("n_xy")).as("n_x"))
    val my = joint.groupBy(col("__y")).agg(sum(col("n_xy")).as("n_y"))
    val tot = joint.agg(sum(col("n_xy")).as("n"))
    joint.join(broadcast(mx), Seq("__b")).join(broadcast(my), Seq("__y"))
      .crossJoin(broadcast(tot))
      .agg(round(sum((col("n_xy").cast("double") / col("n")) *
        log((col("n").cast("double") * col("n_xy")) /
          (col("n_x").cast("double") * col("n_y")))), 6).as("mi_nats"))
  }

  val m26Sql: String =
    """WITH b AS (
      |  SELECT CAST(least(floor(value / 100), 4) AS BIGINT) AS bin, event_type
      |  FROM events WHERE value IS NOT NULL),
      |j AS (SELECT bin, event_type, count(*) AS n_xy FROM b GROUP BY 1, 2),
      |mx AS (SELECT bin, CAST(sum(n_xy) AS BIGINT) AS n_x FROM j GROUP BY 1),
      |my AS (SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_y FROM j GROUP BY 1),
      |t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM j)
      |SELECT bin, j.event_type, n_xy, n_x, n_y,
      |  round((CAST(n_xy AS DOUBLE) / n) *
      |    ln((CAST(n AS DOUBLE) * n_xy) / (CAST(n_x AS DOUBLE) * n_y)), 6) AS mi_term
      |FROM j
      |JOIN mx USING (bin)
      |JOIN my USING (event_type)
      |CROSS JOIN t
      |ORDER BY bin, j.event_type""".stripMargin

  // -------------------------------------------------------------------
  // m27: binned two-sample Kolmogorov–Smirnov test — the
  // distribution-shift companion to m20's PSI on the SAME split pair:
  // PSI gives a per-bucket decomposition, KS gives the single
  // worst-case ECDF gap D plus an asymptotic accept/reject. The exact
  // KS D is a sup over the pooled ECDF — a global sort, lint-banned —
  // so like m22's AUC this is the HISTOGRAM form: B=200 fixed-width
  // bins from a 1-row bounds agg, per-bin (train, test) counts in ONE
  // scan, and the ECDF walk is a cumulative window over the ≤B-row
  // bin frame (construction-bounded, m22's allowlisted shape). The
  // binned D is exact for the binned distributions and underestimates
  // the raw D by at most the largest bin's mass (documented; spec
  // measures it against the exact D on the test corpus). Determinism:
  // cum counts are integers, the per-bin gap is an identical
  // int-division expression tree in both engines, and max() SELECTS —
  // no accumulation order exists. ks_stat = D·sqrt(na·nb/(na+nb));
  // reject at the asymptotic α=0.05 critical value 1.358.
  def binnedKs(df: DataFrame, arm: Column, v: Column, bins: Int = 200): DataFrame = {
    // defensive contract (the other library entry points' style): null
    // v rows carry no distribution mass — unfiltered they'd land in a
    // null bucket that sorts FIRST in the cumulative walk and inflate
    // ta/tb, distorting the ECDF and D. A constant column (mx == mn)
    // makes the bin width zero (every bucket null, ANSI div-by-zero);
    // short-circuit that case to bucket 0 — all mass in one bin, D is
    // exactly 0: two identical distributions, the honest answer. The
    // mx > mn path is expression-identical to the oracle twin.
    val nn = df.filter(v.isNotNull)
    val mm = nn.agg(min(v).as("mn"), max(v).as("mx"))
    val b = nn.join(broadcast(mm))
      .withColumn("__bucket",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(floor((v - col("mn")) / ((col("mx") - col("mn")) / bins)), lit(bins - 1L))))
      .groupBy(col("__bucket"))
      .agg(sum(when(arm, 1L).otherwise(0L)).as("n_a"),
        sum(when(!arm, 1L).otherwise(0L)).as("n_b"))
    // ≤B rows beyond this point: the window is construction-bounded
    val cum = b
      .withColumn("__cum_a", sum(col("n_a")).over(Window.orderBy(col("__bucket"))))
      .withColumn("__cum_b", sum(col("n_b")).over(Window.orderBy(col("__bucket"))))
    val tot = b.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    cum.crossJoin(broadcast(tot)) // provably 1 row
      .agg(first(col("ta")).as("ta"), first(col("tb")).as("tb"),
        max(abs(col("__cum_a").cast("double") / col("ta") -
          col("__cum_b").cast("double") / col("tb"))).as("__d"))
      .select(col("ta").as("n_a"), col("tb").as("n_b"),
        round(col("__d"), 6).as("d_stat"),
        // ta·tb as DOUBLE×long — a long product overflows at 100 TB counts
        round(col("__d") * sqrt(col("ta").cast("double") * col("tb") /
          (col("ta") + col("tb"))), 6).as("ks_stat"),
        (col("__d") * sqrt(col("ta").cast("double") * col("tb") /
          (col("ta") + col("tb"))) > 1.358).cast("long").as("reject_05"))
  }

  /** m27: KS drift between the m3 train/test splits on order totals
    * (m20's exact framing — the two tests read the same pair). */
  def m27(s: SparkSession, dir: String): DataFrame =
    binnedKs(Tables.orders(s, dir), col("o_orderkey") % 5 =!= 0, col("o_totalprice"))

  val m27Sql: String =
    """WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |b AS (
      |  SELECT CAST(CASE WHEN mx = mn THEN 0
      |    ELSE least(floor((o_totalprice - mn)/((mx - mn)/200)), 199) END AS BIGINT) AS bucket,
      |    CAST(sum(CASE WHEN o_orderkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN o_orderkey % 5 <> 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM orders, mm WHERE o_totalprice IS NOT NULL GROUP BY 1),
      |c AS (
      |  SELECT bucket,
      |    CAST(sum(n_a) OVER (ORDER BY bucket) AS BIGINT) AS cum_a,
      |    CAST(sum(n_b) OVER (ORDER BY bucket) AS BIGINT) AS cum_b
      |  FROM b),
      |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM b),
      |d AS (
      |  SELECT ta, tb,
      |    max(abs(CAST(cum_a AS DOUBLE)/ta - CAST(cum_b AS DOUBLE)/tb)) AS d_raw
      |  FROM c, tot GROUP BY ta, tb)
      |SELECT ta AS n_a, tb AS n_b,
      |  round(d_raw, 6) AS d_stat,
      |  round(d_raw * sqrt(CAST(ta AS DOUBLE) * tb/(ta + tb)), 6) AS ks_stat,
      |  CAST(CASE WHEN d_raw * sqrt(CAST(ta AS DOUBLE) * tb/(ta + tb)) > 1.358
      |    THEN 1 ELSE 0 END AS BIGINT) AS reject_05
      |FROM d""".stripMargin

  // -------------------------------------------------------------------
  // m30: binned two-sample Mann-Whitney U — the RANK-based companion
  // to m27's KS on the same split pair: KS finds the worst ECDF gap
  // (any-shape alternative), U tests stochastic dominance (one arm's
  // values systematically larger) and is the robust location test
  // when t-test normality (m21) is doubtful. The exact U needs a
  // global rank (lint-banned); the binned form computes it from the
  // SAME B=200 histogram: within the bins, U = Σ_bins n_a·(b's below)
  // + ½·n_a·n_b (cross-bin pairs ordered by bin, same-bin pairs are
  // ties at ½) — exact for the binned values, ties-at-bin-grain
  // documented (no tie correction in σ; the bin width bounds it).
  // Determinism: 2U accumulates as an exact DECIMAL(38,0) integer
  // (overflow-safe where a long product of 1e10-row counts is not —
  // m27's ta·tb lesson applied to the U sum), and z's double tree is
  // written identically in both engines.
  def binnedMannWhitney(df: DataFrame, arm: Column, v: Column,
      bins: Int = 200): DataFrame = {
    val nn = df.filter(v.isNotNull)
    val mm = nn.agg(min(v).as("mn"), max(v).as("mx"))
    val b = nn.join(broadcast(mm))
      .withColumn("__bucket",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(floor((v - col("mn")) / ((col("mx") - col("mn")) / bins)), lit(bins - 1L))))
      .groupBy(col("__bucket"))
      .agg(sum(when(arm, 1L).otherwise(0L)).as("n_a"),
        sum(when(!arm, 1L).otherwise(0L)).as("n_b"))
    // ≤B rows beyond this point (m27's construction-bounded window)
    val cum = b.withColumn("__cb",
      coalesce(sum(col("n_b")).over(Window.orderBy(col("__bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = b.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    val z = (col("u2") - col("ta").cast("double") * col("tb")) /
      (lit(2.0) * sqrt(col("ta").cast("double") * col("tb") *
        (col("ta") + col("tb") + 1L) / 12.0))
    cum.crossJoin(broadcast(tot)) // provably 1 row
      .agg(first(col("ta")).as("ta"), first(col("tb")).as("tb"),
        sum(col("n_a").cast(DecimalType(38, 0)) * (col("__cb") * 2L + col("n_b")))
          .cast("double").as("u2"))
      .select(col("ta").as("n_a"), col("tb").as("n_b"),
        round(col("u2") / 2.0, 6).as("u_stat"),
        round(z, 6).as("z_stat"),
        (abs(z) > 1.96).cast("long").as("reject_05"))
  }

  /** m30: Mann-Whitney drift between the m3 train/test splits on
    * order totals — m20/m27's exact framing, third lens. */
  def m30(s: SparkSession, dir: String): DataFrame =
    binnedMannWhitney(Tables.orders(s, dir), col("o_orderkey") % 5 =!= 0,
      col("o_totalprice"))

  val m30Sql: String =
    """WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |b AS (
      |  SELECT CAST(CASE WHEN mx = mn THEN 0
      |    ELSE least(floor((o_totalprice - mn)/((mx - mn)/200)), 199) END AS BIGINT) AS bucket,
      |    CAST(sum(CASE WHEN o_orderkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN o_orderkey % 5 <> 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM orders, mm WHERE o_totalprice IS NOT NULL GROUP BY 1),
      |c AS (
      |  SELECT bucket, n_a, n_b,
      |    CAST(COALESCE(SUM(n_b) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |  FROM b),
      |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM b),
      |u AS (
      |  SELECT ta, tb,
      |    CAST(sum(CAST(n_a AS DECIMAL(38,0)) * (cb * 2 + n_b)) AS DOUBLE) AS u2
      |  FROM c, tot GROUP BY ta, tb)
      |SELECT ta AS n_a, tb AS n_b,
      |  round(u2 / 2.0, 6) AS u_stat,
      |  round((u2 - CAST(ta AS DOUBLE)*tb) /
      |    (2.0 * sqrt(CAST(ta AS DOUBLE)*tb*(ta + tb + 1)/12.0)), 6) AS z_stat,
      |  CAST(CASE WHEN abs((u2 - CAST(ta AS DOUBLE)*tb) /
      |    (2.0 * sqrt(CAST(ta AS DOUBLE)*tb*(ta + tb + 1)/12.0))) > 1.96
      |    THEN 1 ELSE 0 END AS BIGINT) AS reject_05
      |FROM u""".stripMargin

  // -------------------------------------------------------------------
  // m28: learning curve from ONE scan — held-out MSE/R² of the m13
  // closed-form linear fit at nested train fractions (10/25/50/100%).
  // The sample-complexity readout ("is more data still buying
  // accuracy?") that decides whether to grow a dataset — at 100 TB
  // you want it WITHOUT four training scans. Every fraction's moments
  // are CONDITIONAL aggregates in the same single pass (deterministic
  // integer hash (7·orderkey + linenumber) % 100 < f, so fractions
  // NEST like a real learning curve: the 10% sample ⊂ 25% ⊂ 50%);
  // slope/intercept are m13's closed forms per fraction, and the test
  // SSres comes ALGEBRAICALLY from the shared test moments (m13's
  // no-per-row-residual trick) — so 4 models + 4 evaluations cost one
  // fact scan and a 1-row aggregate. All moments are exact decimal;
  // the double formula trees are written identically in both engines.
  private val CurveFractions = Seq(10, 25, 50, 100)

  def m28(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .withColumn("is_test", col("l_orderkey") % 5 === 0)
      .withColumn("__h", (col("l_orderkey") * 7 + col("l_linenumber")) % 100)
    def tr(f: Int) = !col("is_test") && col("__h") < f
    val aggs = CurveFractions.flatMap { f => Seq(
      count(when(tr(f), 1)).as(s"n$f"),
      sum(when(tr(f), dec2(col("l_quantity")))).cast("double").as(s"sx$f"),
      sum(when(tr(f), dec2(col("l_extendedprice")))).cast("double").as(s"sy$f"),
      sum(when(tr(f), dec2(col("l_quantity")) * dec2(col("l_quantity"))))
        .cast("double").as(s"sxx$f"),
      sum(when(tr(f), dec2(col("l_quantity")) * dec2(col("l_extendedprice"))))
        .cast("double").as(s"sxy$f"))
    } ++ Seq(
      count(when(col("is_test"), 1)).as("nt"),
      sum(when(col("is_test"), dec2(col("l_quantity")))).cast("double").as("tsx"),
      sum(when(col("is_test"), dec2(col("l_extendedprice")))).cast("double").as("tsy"),
      sum(when(col("is_test"), dec2(col("l_quantity")) * dec2(col("l_quantity"))))
        .cast("double").as("tsxx"),
      sum(when(col("is_test"), dec2(col("l_quantity")) * dec2(col("l_extendedprice"))))
        .cast("double").as("tsxy"),
      sum(when(col("is_test"), dec2(col("l_extendedprice")) * dec2(col("l_extendedprice"))))
        .cast("double").as("tsyy"))
    val mom = li.agg(aggs.head, aggs.tail: _*)
    CurveFractions.map { f =>
      mom
        .withColumn("__slope",
          (col(s"n$f") * col(s"sxy$f") - col(s"sx$f") * col(s"sy$f")) /
            (col(s"n$f") * col(s"sxx$f") - col(s"sx$f") * col(s"sx$f")))
        .withColumn("__icept",
          col(s"sy$f") / col(s"n$f") - col("__slope") * col(s"sx$f") / col(s"n$f"))
        .withColumn("__ssres",
          col("tsyy") - lit(2.0) * col("__icept") * col("tsy") -
            lit(2.0) * col("__slope") * col("tsxy") +
            col("nt") * col("__icept") * col("__icept") +
            lit(2.0) * col("__icept") * col("__slope") * col("tsx") +
            col("__slope") * col("__slope") * col("tsxx"))
        .select(lit(f).as("train_pct"), col(s"n$f").as("n_train"),
          round(col("__slope"), 6).as("slope"),
          round(col("__icept"), 6).as("intercept"),
          round(col("__ssres") / col("nt"), 2).as("mse_test"),
          round(lit(1.0) - col("__ssres") /
            (col("tsyy") - col("tsy") * col("tsy") / col("nt")), 6).as("r2_test"))
    }.reduce(_ unionByName _).orderBy(col("train_pct"))
  }

  val m28Sql: String = {
    val perF = CurveFractions.flatMap { f => Seq(
      s"count(CASE WHEN NOT is_test AND h < $f THEN 1 END) AS n$f",
      s"CAST(sum(CASE WHEN NOT is_test AND h < $f THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sx$f",
      s"CAST(sum(CASE WHEN NOT is_test AND h < $f THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sy$f",
      s"CAST(sum(CASE WHEN NOT is_test AND h < $f THEN CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sxx$f",
      s"CAST(sum(CASE WHEN NOT is_test AND h < $f THEN CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sxy$f")
    }.mkString(",\n|    ")
    val branches = CurveFractions.map { f =>
      s"""SELECT $f AS train_pct, n$f AS n_train,
         |    round((n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f), 6) AS slope,
         |    round(sy$f/n$f - (n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f)*sx$f/n$f, 6) AS intercept,
         |    round((tsyy - 2.0*(sy$f/n$f - (n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f)*sx$f/n$f)*tsy
         |      - 2.0*((n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f))*tsxy
         |      + nt*(sy$f/n$f - (n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f)*sx$f/n$f)*(sy$f/n$f - (n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f)*sx$f/n$f)
         |      + 2.0*(sy$f/n$f - (n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f)*sx$f/n$f)*((n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f))*tsx
         |      + ((n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f))*((n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f))*tsxx) / nt, 2) AS mse_test,
         |    round(1.0 - (tsyy - 2.0*(sy$f/n$f - (n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f)*sx$f/n$f)*tsy
         |      - 2.0*((n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f))*tsxy
         |      + nt*(sy$f/n$f - (n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f)*sx$f/n$f)*(sy$f/n$f - (n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f)*sx$f/n$f)
         |      + 2.0*(sy$f/n$f - (n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f)*sx$f/n$f)*((n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f))*tsx
         |      + ((n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f))*((n$f*sxy$f - sx$f*sy$f)/(n$f*sxx$f - sx$f*sx$f))*tsxx)
         |      / (tsyy - tsy*tsy/nt), 6) AS r2_test
         |  FROM mom""".stripMargin
    }.mkString("\n|  UNION ALL\n|  ")
    s"""WITH li AS (
       |  SELECT l_quantity, l_extendedprice,
       |    l_orderkey % 5 = 0 AS is_test,
       |    (l_orderkey * 7 + l_linenumber) % 100 AS h
       |  FROM lineitem),
       |mom AS (
       |  SELECT $perF,
       |    count(CASE WHEN is_test THEN 1 END) AS nt,
       |    CAST(sum(CASE WHEN is_test THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS tsx,
       |    CAST(sum(CASE WHEN is_test THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS tsy,
       |    CAST(sum(CASE WHEN is_test THEN CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS tsxx,
       |    CAST(sum(CASE WHEN is_test THEN CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS tsxy,
       |    CAST(sum(CASE WHEN is_test THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS tsyy
       |  FROM li)
       |SELECT * FROM (
       |  $branches)
       |ORDER BY train_pct""".stripMargin
  }

  // -------------------------------------------------------------------
  // m29: bootstrap confidence interval from ONE scan — the Poissonized
  // bootstrap (the big-data reformulation of resampling: resampling n
  // rows WITH replacement gives each row a Binomial(n, 1/n) ≈
  // Poisson(1) multiplicity, so B replicates become B deterministic
  // per-row integer weights instead of B shuffled copies of the data).
  // Weights come from an integer hash of (event_id, replicate) pushed
  // through the Poisson(1) inverse CDF as integer ppm thresholds —
  // engine-identical, seedless, reproducible. B=39 makes the textbook
  // rank-based 95% interval exact: (B+1)·0.025 = 1, so [1st, 39th]
  // order statistics of the replicate means ARE the percentile CI.
  // Everything is one scan: 2B conditional aggregates (Σw·x as exact
  // DECIMAL×integer, Σw as integer), then a 39-element array sorts on
  // the 1-row result — replicate means, CI bounds, and the bootstrap
  // SE (fixed-order fold over the SORTED array, so no FP
  // order-dependence) all come from driver-free column arithmetic.
  private val BootB = 39
  private val PoisCdfPpm = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L)

  def bootstrapMeanCi(df: DataFrame, key: Column, v: Column, b: Int = BootB): DataFrame = {
    def w(r: Int): Column = {
      // the key is reduced BEFORE the multiply: a raw key·1103515245
      // overflows BIGINT (ANSI error) once ids reach ~1e10 — i.e.
      // exactly at the scale this operator targets. TWO coprime
      // moduli (CRT mixing) instead of one: a single mod-1e6 residue
      // makes every key class of ~n/1e6 rows share identical Poisson
      // weights in every replicate, correlating the replicates at the
      // >1e6-id scale; residues mod both 1000003 and 999983 only
      // collide on key classes mod ~1e12. Max intermediate ≈
      // 1000002·515245 + 999982·435761 + 38·2654435761 ≈ 1.1e12,
      // comfortably inside BIGINT in both engines.
      val h = pmod(pmod(key, lit(1000003L)) * 515245L +
        pmod(key, lit(999983L)) * 435761L +
        lit(r.toLong) * 2654435761L + 12345L, lit(1000000L))
      PoisCdfPpm.zipWithIndex.foldRight(lit(6L)) { case ((t, k), rest) =>
        when(h < t, k.toLong).otherwise(rest)
      }
    }
    val aggs = (0 until b).flatMap { r => Seq(
      sum(dec2(v) * w(r)).cast("double").as(s"sx$r"),
      sum(w(r)).as(s"sw$r"))
    } ++ Seq(count(v).as("n"), sum(dec2(v)).cast("double").as("sx"))
    val mom = df.filter(v.isNotNull).agg(aggs.head, aggs.tail: _*)
    val means = array_sort(array((0 until b).map(r => col(s"sx$r") / col(s"sw$r")): _*))
    mom.withColumn("__m", means)
      .withColumn("__s", aggregate(col("__m"), lit(0.0), (a, x) => a + x))
      .withColumn("__q", aggregate(col("__m"), lit(0.0), (a, x) => a + x * x))
      .select(col("n"),
        round(col("sx") / col("n"), 6).as("mean"),
        round(sqrt((col("__q") - col("__s") * col("__s") / b) / (b - 1)), 6)
          .as("se_boot"),
        round(element_at(col("__m"), 1), 6).as("ci_lo"),
        round(element_at(col("__m"), b), 6).as("ci_hi"),
        lit(b.toLong).as("b"))
  }

  /** m29: 95% bootstrap CI of the mean purchase value. */
  def m29(s: SparkSession, dir: String): DataFrame =
    bootstrapMeanCi(Tables.events(s, dir).filter(col("event_type") === "purchase"),
      col("event_id"), col("value"))

  val m29Sql: String = {
    def wSql(r: Int): String = {
      val h = s"(((event_id % 1000003) * 515245 + (event_id % 999983) * 435761 + $r * 2654435761 + 12345) % 1000000)"
      "(CASE " + PoisCdfPpm.zipWithIndex.map { case (t, k) =>
        s"WHEN $h < $t THEN $k" }.mkString(" ") + " ELSE 6 END)"
    }
    val aggs = (0 until BootB).flatMap { r => Seq(
      s"CAST(sum(CAST(value AS DECIMAL(18,2)) * ${wSql(r)}) AS DOUBLE) AS sx$r",
      s"CAST(sum(${wSql(r)}) AS BIGINT) AS sw$r")
    }.mkString(",\n|    ")
    val lst = (0 until BootB).map(r => s"sx$r/sw$r").mkString("[", ", ", "]")
    s"""WITH mom AS (
       |  SELECT $aggs,
       |    count(value) AS n,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
       |m AS (SELECT *, list_sort($lst) AS ms FROM mom),
       |f AS (
       |  SELECT n, sx, ms,
       |    list_reduce(list_prepend(0.0, ms), (a, x) -> a + x) AS s,
       |    list_reduce(list_prepend(0.0, list_transform(ms, x -> x * x)),
       |      (a, x) -> a + x) AS q
       |  FROM m)
       |SELECT n, round(sx / n, 6) AS mean,
       |  round(sqrt((q - s * s / $BootB) / ${BootB - 1}), 6) AS se_boot,
       |  round(ms[1], 6) AS ci_lo,
       |  round(ms[$BootB], 6) AS ci_hi,
       |  CAST($BootB AS BIGINT) AS b
       |FROM f""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m30_mann_whitney" -> (m30 _),
    "m29_bootstrap_ci" -> (m29 _),
    "m28_learning_curve" -> (m28 _),
    "m27_ks_test" -> (m27 _),
    "m26_mutual_info" -> (m26 _),
    "m25_weighted_mix" -> (m25 _),
    "m24_chi2" -> (m24 _),
    "m21_welch_ttest" -> (m21 _),
    "m22_auc" -> (m22 _),
    "m23_calibration" -> (m23 _),
    "m19_feature_hash" -> (m19 _),
    "m20_psi_drift" -> (m20 _),
    "m18_target_encode" -> (m18 _),
    "m17_quantile_bin" -> (m17 _),
    "m16_domain_mix" -> (m16 _),
    "m15_stratified_sample" -> (m15 _),
    "m1_standard_scale" -> (m1 _), "m2_minmax_scale" -> (m2 _), "m3_split" -> (m3 _),
    "m4_class_balance" -> (m4 _), "m5_corr_matrix" -> (m5 _), "m6_target_corr" -> (m6 _),
    "m7_feature_importance" -> (m7 _), "m8_histogram" -> (m8 _), "m9_value_counts" -> (m9 _),
    "m10_task_detect" -> (m10 _), "m11_smote_oversample" -> (m11 _),
    "m12_metrics_classification" -> (m12 _), "m13_metrics_regression" -> (m13 _),
    "m14_grid_search" -> (m14 _))

  def oracles: Map[String, String] = Map(
    "m30_mann_whitney" -> m30Sql,
    "m29_bootstrap_ci" -> m29Sql,
    "m28_learning_curve" -> m28Sql,
    "m27_ks_test" -> m27Sql,
    "m26_mutual_info" -> m26Sql,
    "m25_weighted_mix" -> m25Sql,
    "m24_chi2" -> m24Sql,
    "m21_welch_ttest" -> m21Sql,
    "m22_auc" -> m22Sql,
    "m23_calibration" -> m23Sql,
    "m19_feature_hash" -> m19Sql,
    "m20_psi_drift" -> m20Sql,
    "m18_target_encode" -> m18Sql,
    "m17_quantile_bin" -> m17Sql,
    "m16_domain_mix" -> m16Sql,
    "m15_stratified_sample" -> m15Sql,
    "m1_standard_scale" -> m1Sql, "m2_minmax_scale" -> m2Sql, "m3_split" -> m3Sql,
    "m4_class_balance" -> m4Sql, "m5_corr_matrix" -> m5Sql, "m6_target_corr" -> m6Sql,
    "m8_histogram" -> m8Sql, "m9_value_counts" -> m9Sql, "m10_task_detect" -> m10Sql,
    "m11_smote_oversample" -> m11Sql, "m12_metrics_classification" -> m12Sql,
    "m13_metrics_regression" -> m13Sql)
}
