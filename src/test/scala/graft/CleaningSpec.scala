package graft

import org.apache.spark.sql.functions._
import graft.operators.{Cleaning, MLPrep}

class CleaningSpec extends SparkSuite {

  test("c2 imputation fills every masked null") {
    val r = Cleaning.c2(spark, sf).collect()
    val total = Tables.events(spark, sf).count()
    assert(r.map(_.getAs[Long]("n_after_impute")).sum === total)
    val err = r.find(_.getAs[String]("event_type") == "error").get
    assert(err.getAs[Long]("n_observed") === 0L)
    assert(err.getAs[Long]("n_after_impute") > 0L)
  }

  test("c3 mode imputation leaves no null langs") {
    val total = Tables.documents(spark, sf).count()
    assert(Cleaning.c3(spark, sf).agg(sum("n_docs")).head().getLong(0) === total)
  }

  test("c4 clipped sum bounded by raw sum range") {
    val r = Cleaning.c4(spark, sf).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Long]("n_clip_low") >= 0))
  }

  test("c5 label codes are dense from 0") {
    val codes = Cleaning.c5(spark, sf).collect().map(_.getAs[Long]("code")).sorted
    assert(codes.sameElements(codes.indices.map(_.toLong)))
  }

  test("c7 date features in valid ranges") {
    val r = Cleaning.c7(spark, sf)
    assert(r.filter(col("ts_isodow") < 1 || col("ts_isodow") > 7).count() === 0)
    assert(r.filter(col("ts_month") < 1 || col("ts_month") > 12).count() === 0)
  }

  test("c8 flags only the all-null ghost column") {
    val drop = Cleaning.c8(spark, sf).filter(col("drop_col")).collect()
    assert(drop.map(_.getAs[String]("col_name")).toSeq === Seq("ghost"))
  }

  test("m1 z-scores have ~zero mean") {
    val m = MLPrep.m1(spark, sf).agg(avg("z")).head().getDouble(0)
    assert(math.abs(m) < 0.01)
  }

  test("m5 correlations are in [-1, 1]") {
    val r = MLPrep.m5(spark, sf).collect()
    assert(r.length === 6)
    assert(r.forall(row => math.abs(row.getAs[Double]("corr")) <= 1.0))
  }

  test("m7 RF importances sum to ~1") {
    val tot = MLPrep.m7(spark, sf).agg(sum("importance")).head().getDouble(0)
    assert(math.abs(tot - 1.0) < 0.01)
  }

  test("m7 importances are pinned across shuffle partitions 4 and 16, AQE on and off") {
    // `graft.Probe show <sf0.001 dir> m7_feature_importance` prints
    // these rows at SPARK_GRAFT_CPUS=2 and at 4; the suite's session
    // runs local[8], so the spec pins m7's layout at c2, c4 and c8
    val want = Seq("l_quantity" -> 0.447491, "l_discount" -> 0.325484, "l_tax" -> 0.227025)
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (parts <- Seq(4, 16); aqe <- Seq(true, false)) {
        spark.conf.set(keys(0), parts.toLong)
        spark.conf.set(keys(1), aqe)
        val got = MLPrep.m7(spark, sf).collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
        withClue(s"shuffle partitions $parts, AQE $aqe: ") {
          assert(got.map(_._1) === want.map(_._1))
          got.zip(want).foreach { case ((f, g), (_, w)) =>
            assert(math.abs(g - w) <= 1e-9, s"$f importance $g, pinned $w")
          }
        }
      }
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("m11 SMOTE synthetics interpolate between neighbor prices") {
    val r = MLPrep.m11(spark, sf).collect()
    assert(r.nonEmpty)
    // synthetic values stay within the class's price range
    val prices = Tables.orders(spark, sf).agg(min("o_totalprice"), max("o_totalprice")).head()
    val (lo, hi) = (prices.getDouble(0), prices.getDouble(1))
    assert(r.forall { row =>
      val v = row.getAs[Double]("synthetic_price"); v >= lo - 1e-6 && v <= hi + 1e-6
    })
  }

  test("m12 classification metrics are consistent (tp+fn = support)") {
    val r = MLPrep.m12(spark, sf).collect()
    assert(r.nonEmpty)
    assert(r.forall(row => row.getAs[Long]("tp") + row.getAs[Long]("fn") === row.getAs[Long]("support")))
    assert(r.forall(row => row.getAs[Double]("f1") >= 0 && row.getAs[Double]("f1") <= 1))
  }

  test("m13 regression metrics: r2 <= 1 and mse >= 0") {
    val row = MLPrep.m13(spark, sf).head()
    assert(row.getAs[Double]("mse") >= 0)
    assert(row.getAs[Double]("mae") >= 0)
    assert(row.getAs[Double]("r2") <= 1.0)
  }

  test("m14 grid search picks exactly one winner with valid AUC") {
    val r = MLPrep.m14(spark, sf).collect()
    assert(r.length === 2)
    assert(r.count(_.getAs[Boolean]("is_best")) === 1)
    assert(r.forall(row => row.getAs[Double]("auc") >= 0 && row.getAs[Double]("auc") <= 1))
  }

  test("m3 hash split is close to requested fraction") {
    val df = MLPrep.splitByHash(Tables.orders(spark, sf), "o_orderkey", 0.2)
    val n = df.count().toDouble
    val t = df.filter(col("split") === "test").count().toDouble
    assert(math.abs(t / n - 0.2) < 0.05)
  }

  test("approx profile is Expand-free and within the HLL bound of exact") {
    val o = Tables.orders(spark, sf)
    val num = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val str = Seq("o_orderstatus", "o_orderpriority")
    val approx = Cleaning.profile(o, num, str) // exact = false default
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
      "the sketch path must not replicate scan rows")
    assert(Cleaning.c1(spark, sf).queryExecution.executedPlan.toString.contains("Expand"),
      "…while the exact multi-distinct does (the documented trade)")
    val a = approx.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val e = Cleaning.c1(spark, sf).collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    e.foreach { case (c, exact) =>
      assert(math.abs(a(c) - exact).toDouble / exact <= 0.10,
        s"$c: approx ${a(c)} vs exact $exact")
    }
  }

  test("c13 FK audit counts planted orphans with exact ppm rates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-c13").toString
    // lineitem: 4 children, 1 orphan (orderkey 99); orders: 2 children,
    // 0 orphans; events: 5 children, 2 orphans (users 8, 9)
    Seq((1L, 0), (1L, 1), (2L, 0), (99L, 0)).toDF("l_orderkey", "pad")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 10L), (2L, 11L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, 0), (11L, 0)).toDF("c_custkey", "pad")
      .write.parquet(s"$dir/customer.parquet")
    Seq((10L, 0), (10L, 1), (11L, 0), (8L, 0), (9L, 0)).toDF("user_id", "pad")
      .withColumn("ts", lit(1577836800L * 1000000000L)) // Tables.events expects nanos-as-long
      .write.parquet(s"$dir/events.parquet")
    val r = Cleaning.c13(spark, dir).collect()
      .map(row => row.getString(0) -> ((row.getLong(1), row.getLong(2), row.getLong(3)))).toMap
    assert(r("lineitem.l_orderkey -> orders") === ((4L, 1L, 250000L)))
    assert(r("orders.o_custkey -> customer") === ((2L, 0L, 0L)))
    assert(r("events.user_id -> customer") === ((5L, 2L, 400000L)))
  }

  test("m19 feature hash partitions every row statelessly; collisions measured") {
    val r = MLPrep.m19(spark, sf).collect()
    assert(r.map(_.getAs[Long]("n_rows")).sum === Tables.events(spark, sf).count())
    assert(r.map(_.getAs[Long]("n_values")).sum >= 5L, "all 5 event types land somewhere")
    assert(r.forall(row => row.getAs[Long]("f_bucket") >= 0 && row.getAs[Long]("f_bucket") < 16))
  }

  test("m20 PSI flags a planted split drift and stays ~0 on the real split") {
    import spark.implicits._
    // real data: key-mod split of i.i.d. prices → tiny PSI
    val real = MLPrep.m20(spark, sf).collect().map(_.getAs[Double]("psi_term")).sum
    assert(math.abs(real) < 0.1, s"undrifted PSI should be ~0, got $real")
    // planted: test rows (key%5=0) live in a disjoint price range → huge PSI
    val dir = java.nio.file.Files.createTempDirectory("graft-m20").toString
    (1 to 1000).map(i => (i.toLong, if (i % 5 == 0) 900.0 + i % 50 else 100.0 + i % 50))
      .toDF("o_orderkey", "o_totalprice").write.parquet(s"$dir/orders.parquet")
    val drifted = MLPrep.m20(spark, dir).collect().map(_.getAs[Double]("psi_term")).sum
    assert(drifted > 1.0, s"disjoint-range drift must dominate, got $drifted")
  }

  test("c10 infers numeric for stringified n_chars, string for lang/source") {
    val r = Cleaning.c10(spark, sf).collect()
      .map(row => row.getAs[String]("col_name") -> row.getAs[String]("inferred_type")).toMap
    assert(r === Map("lang" -> "string", "source" -> "string", "n_chars_str" -> "numeric"))
  }

  test("m15 balanced sample: every class lands near the common target") {
    val df = MLPrep.m15(spark, sf)
    val by = df.groupBy(col("o_orderpriority")).count().collect()
      .map(r => r.getAs[String]("o_orderpriority") -> r.getAs[Long]("count")).toMap
    assert(by.size === 5, "all classes survive sampling")
    // target = ceil(min_class/2) = 137 at sf0.001; hash thresholding is
    // binomial around it — assert within ±40%
    val target = 137.0
    by.values.foreach(c => assert(math.abs(c - target) / target < 0.4, s"class count $c vs $target"))
    // deterministic: same result on re-run
    assert(MLPrep.m15(spark, sf).collect().length === df.collect().length)
  }

  test("m16 domain mix: under-budget sources keep everything, over-budget sources downsample to share") {
    import spark.implicits._
    // srcA: 1000 tokens across 100 docs; srcB: 100 tokens across 10.
    // budget = 1100/2 = 550, uniform target = 275/source → srcB (100 ≤
    // 275) keeps ALL docs; srcA keeps ≈ 275/1000 of its docs.
    val dir = java.nio.file.Files.createTempDirectory("graft-m16").toString
    val text10 = (1 to 10).map(j => s"w$j").mkString(" ")
    ((1 to 100).map(i => (i.toLong, text10, "srcA")) ++
      (101 to 110).map(i => (i.toLong, text10, "srcB")))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val r = MLPrep.m16(spark, dir)
    val by = r.groupBy(col("source")).count().collect()
      .map(x => x.getAs[String]("source") -> x.getAs[Long]("count")).toMap
    assert(by("srcB") === 10L, "source under its share is untouched")
    assert(by("srcA") >= 15L && by("srcA") <= 40L,
      s"srcA keeps ~27.5% ± binomial noise of 100 docs, got ${by("srcA")}")
    // deterministic: the hash filter replays identically
    assert(MLPrep.m16(spark, dir).collect().toSeq === r.collect().toSeq)
  }

  test("c11 maps the whole sentinel family to NULL and keeps real values") {
    import spark.implicits._
    // custkeys 1..38 cover two full mod-19 cycles: residues 0..3 plant
    // 'N/A' / '' / 'null' / '  ' (4 sentinels per cycle → 8 rows)
    val dir = java.nio.file.Files.createTempDirectory("graft-c11").toString
    (1L to 38L).map(k => (k, "SEGA"))
      .toDF("c_custkey", "c_mktsegment").write.parquet(s"$dir/customer.parquet")
    val r = Cleaning.c11(spark, dir).collect()
      .map(x => x.getAs[String]("segment") -> x.getAs[Long]("n_rows")).toMap
    assert(r === Map("(missing)" -> 8L, "SEGA" -> 30L))
  }

  test("c12 counts exactly the planted violations per rule") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-c12").toString
    def ns(iso: String): Long = java.sql.Timestamp.valueOf(iso).getTime * 1000000L
    // ts written as INT64 nanos, the driver's events.parquet encoding
    Seq(
      (1L, ns("2000-01-01 00:00:00"), 7L, "click", 1.0, "{\"k\": 1}"),   // clean
      (2L, ns("2000-01-01 00:00:01"), 7L, "click", -5.0, "{\"k\": 1}"),  // bad value
      (3L, ns("2000-01-01 00:00:02"), 7L, "weird", 1.0, "{\"k\": 1}"),   // bad type
      (4L, ns("1980-01-01 00:00:00"), 7L, "view", 1.0, "{\"k\": 1}"),    // bad ts
      (5L, ns("2000-01-01 00:00:04"), 7L, "view", 1.0, "notjson"))       // bad props
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = Cleaning.c12(spark, dir).collect()
      .map(x => x.getAs[String]("rule") ->
        (x.getAs[Long]("n_checked"), x.getAs[Long]("n_violations"))).toMap
    assert(r === Map(
      "value_nonnegative" -> ((5L, 1L)), "event_type_known" -> ((5L, 1L)),
      "ts_in_range" -> ((5L, 1L)), "props_wellformed" -> ((5L, 1L))))
  }

  test("m18 shrinks rare categories toward the global mean") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-m18").toString
    Seq(("A", 10.00), ("A", 20.00), ("B", 100.00))
      .toDF("o_orderpriority", "o_totalprice").write.parquet(s"$dir/orders.parquet")
    val g = 130.0 / 3
    val r = MLPrep.m18(spark, dir).collect()
      .map(x => x.getAs[String]("o_orderpriority") -> x.getAs[Double]("target_enc")).toMap
    assert(math.abs(r("A") - (30.0 + 10 * g) / 12) < 1e-12)
    assert(math.abs(r("B") - (100.0 + 10 * g) / 11) < 1e-12)
    // shrink direction: B's raw mean (100) pulls DOWN toward g≈43.3
    assert(r("B") < 100.0 && r("B") > g)
  }

  test("m17 quantile bins are contiguous, ordered, and near-equal-frequency") {
    val rows = MLPrep.m17(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("bin")).toSeq === Seq(1, 2, 3, 4))
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === Tables.orders(spark, sf).count())
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(math.abs(n - total / 4.0) / (total / 4.0) < 0.05,
        s"equal-frequency bin, got $n of $total")
      assert(r.getAs[Double]("lo") <= r.getAs[Double]("avg_price"))
      assert(r.getAs[Double]("avg_price") <= r.getAs[Double]("hi"))
    }
    // bins tile the domain in order: each hi <= next lo
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
    }
  }

  test("c14 gap-fill: contiguous calendar per user, gaps carry the last observed value") {
    val rows = Cleaning.c14(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(rows.nonEmpty && rows.exists(_._4 == 1L), "data must contain real gaps")
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_._2)
      // contiguous: every consecutive pair is exactly one day apart
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(java.time.LocalDate.parse(a._2, fmt).plusDays(1) ===
            java.time.LocalDate.parse(b._2, fmt), s"user $u calendar hole at ${a._2}")
        case _ =>
      }
      // endpoints are observed (the spine is the user's own range)
      assert(sorted.head._4 == 0L && sorted.last._4 == 0L, s"user $u spine endpoints")
      // gap rows: zero events and the previous row's filled value
      sorted.sliding(2).foreach {
        case Array(a, b) if b._4 == 1L =>
          assert(b._3 == 0L, s"user $u gap day ${b._2} has events")
          assert(b._5 === a._5, s"user $u LOCF at ${b._2}")
        case _ =>
      }
    }
  }

  test("c15 exact mode equals brute-force type-7 median/MAD; default mode plans the sketch") {
    def q7(xs: Seq[Double], p: Double): Double = { // type-7 (rank p*(n-1)) interpolation
      val s = xs.sorted; val r = p * (s.size - 1)
      val lo = r.toInt; val frac = r - lo
      if (lo + 1 < s.size) s(lo) * (1 - frac) + s(lo + 1) * frac else s(lo)
    }
    val data = Tables.events(spark, sf).select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    val want = data.map { case (g, xs) =>
      val vs = xs.map(_._2).toSeq
      val med = q7(vs, 0.5)
      val mad = q7(vs.map(v => math.abs(v - med)), 0.5)
      val fence = (3.0 * 1.4826) * mad
      (g, vs.size.toLong, med, mad, vs.count(v => math.abs(v - med) > fence).toLong)
    }.toSeq.sortBy(_._1)
    val got = operators.Cleaning.c15(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toSeq
    assert(got === want)
    assert(got.exists(_._5 > 0L), "fences must flag something at this SF")
    // library DEFAULT is the sketch (Quantiles contract)
    val dflt = operators.Cleaning.robustOutliers(
      Tables.events(spark, sf).select(col("event_type"), col("value")),
      "event_type", "value").queryExecution.optimizedPlan.toString
    assert(dflt.contains("percentile_approx") && !dflt.contains("percentile(value"), dflt)
  }

  test("m21 Welch t-test equals the brute-force moment algebra") {
    def d2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Tables.events(spark, sf).select("user_id", "value").collect()
      .filter(!_.isNullAt(1)).map(r => (r.getLong(0) % 2 == 0, r.getDouble(1)))
    val (a, b) = rows.partition(_._1)
    def mom(xs: Array[(Boolean, Double)]) = {
      val n = xs.length.toDouble
      val s = xs.map(x => d2(x._2)).sum.toDouble
      val q = xs.map(x => d2(x._2) * d2(x._2)).sum.toDouble
      (n, s / n, (q - s * s / n) / (n - 1))
    }
    val (na, ma, va) = mom(a); val (nb, mb, vb) = mom(b)
    val (sea, seb) = (va / na, vb / nb)
    val wantT = r6((ma - mb) / math.sqrt(sea + seb))
    val wantDf = r6((sea + seb) * (sea + seb) /
      (sea * sea / (na - 1) + seb * seb / (nb - 1)))
    val got = MLPrep.m21(spark, sf).head()
    assert(got.getLong(0) === na.toLong && got.getLong(1) === nb.toLong)
    assert(got.getDouble(2) === r6(ma) && got.getDouble(3) === r6(mb))
    assert(got.getDouble(4) === wantT && got.getDouble(5) === wantDf)
    // Welch df must sit between min(n)-1 and n_a+n_b-2
    assert(wantDf >= math.min(na, nb) - 1 && wantDf <= na + nb - 2)
  }

  test("m22 binned AUC equals brute force and tracks the exact rank AUC") {
    val rows = Tables.events(spark, sf).select("event_type", "value").collect()
      .filter(!_.isNullAt(1)).map(r => (r.getString(0) == "purchase", r.getDouble(1)))
    // brute-force binned AUC (same B=1000 fixed-width binning)
    val (mn, mx) = (rows.map(_._2).min, rows.map(_._2).max)
    val binned = rows.map { case (p, v) =>
      (math.min(math.floor((v - mn) / ((mx - mn) / 1000)).toLong, 999L), p) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, xs) => (b, xs.count(_._2).toLong, xs.count(!_._2).toLong) }
    val (np, nn) = (binned.map(_._2).sum, binned.map(_._3).sum)
    var cumNeg = 0L; var num = BigInt(0)
    binned.foreach { case (_, p, n) => num += BigInt(p) * (2 * cumNeg + n); cumNeg += n }
    val wantAuc = BigDecimal(num.toDouble / (2.0 * np * nn))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = MLPrep.m22(spark, sf).head()
    assert(got.getLong(0) === np && got.getLong(1) === nn)
    assert(got.getDouble(2) === wantAuc)
    // measure-don't-guess: the binned estimate must track the exact
    // tie-aware Mann-Whitney AUC (error is O(max bin mass))
    var below = 0L; var exactNum = BigInt(0)
    rows.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, xs) =>
      val (p, n) = (xs.count(_._1).toLong, xs.count(!_._1).toLong)
      exactNum += BigInt(p) * (2 * below + n); below += n
    }
    val exact = exactNum.toDouble / (2.0 * np * nn)
    assert(math.abs(wantAuc - exact) < 0.01,
      s"binned AUC $wantAuc vs exact $exact — bin error too large")
    assert(wantAuc >= 0.0 && wantAuc <= 1.0)
  }

  test("m23 calibration curve equals brute force; bins partition the data") {
    val rows = Tables.events(spark, sf).select("event_type", "value").collect()
      .filter(!_.isNullAt(1)).map(r => (r.getString(0) == "purchase", r.getDouble(1)))
    val (mn, mx) = (rows.map(_._2).min, rows.map(_._2).max)
    val want = rows.map { case (p, v) =>
      (math.min(math.floor((v - mn) / ((mx - mn) / 20)).toLong, 19L), p, v) }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (b, xs) =>
        val n = xs.size.toLong
        // mirror the engine's exact-decimal mean: sum at 2dp, then the
        // affine map — not a naive double accumulation
        val sumDec = xs.map(x => BigDecimal(x._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
        val meanP = BigDecimal((sumDec.toDouble / n - mn) / (mx - mn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val fracPos = BigDecimal(xs.count(_._2).toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (b, n, meanP, fracPos)
      }
    val got = MLPrep.m23(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got === want)
    assert(got.map(_._2).sum === rows.length.toLong, "bins must partition the rows")
    got.foreach { case (_, _, p, f) =>
      assert(p >= -1e-9 && p <= 1 + 1e-9 && f >= 0.0 && f <= 1.0)
    }
  }

  test("m24 chi2: ~0 under planted independence, V=1 under perfect association") {
    import spark.implicits._
    // perfect association: j is a function of i → chi2 = n·min(r−1,c−1),
    // Cramér's V = 1 exactly
    val assoc = (1 to 120).map(k => (s"a${k % 3}", s"b${k % 3}")).toDF("x", "y")
    val ra = MLPrep.chi2Independence(assoc, col("x"), col("y")).head()
    assert(ra.getAs[Long]("n") === 120L)
    assert(ra.getAs[Long]("dof") === 4L) // (3-1)*(3-1)
    assert(math.abs(ra.getAs[Double]("chi2") - 240.0) < 1e-6) // n*min(r-1,c-1)
    assert(math.abs(ra.getAs[Double]("cramers_v") - 1.0) < 1e-9)
    // exact independence: every (i, j) cell equals r_i·c_j/N → chi2 = 0
    val indep = (for { i <- 0 until 3; j <- 0 until 4; _ <- 0 until (i + 1) * (j + 1) }
      yield (s"a$i", s"b$j")).toDF("x", "y")
    val ri = MLPrep.chi2Independence(indep, col("x"), col("y")).head()
    assert(math.abs(ri.getAs[Double]("chi2")) < 1e-9, "independent table must score 0")
    assert(math.abs(ri.getAs[Double]("cramers_v")) < 1e-9)
    // and the inventory binding returns one finite row on real data
    val rm = MLPrep.m24(spark, sf).head()
    assert(rm.getAs[Double]("chi2") >= 0.0 && !rm.getAs[Double]("chi2").isNaN)
    assert(rm.getAs[Double]("cramers_v") >= 0.0 && rm.getAs[Double]("cramers_v") <= 1.0)
    // NULL categories are dropped, not NaN-poisoned: same table plus
    // null-bearing rows scores identically with N unchanged
    val withNulls = assoc.union(Seq(
      (null.asInstanceOf[String], "b0"), ("a0", null.asInstanceOf[String]))
      .toDF("x", "y"))
    val rn = MLPrep.chi2Independence(withNulls, col("x"), col("y")).head()
    assert(rn.getAs[Long]("n") === 120L, "null rows must not count toward N")
    assert(math.abs(rn.getAs[Double]("chi2") - 240.0) < 1e-6)
    assert(!rn.getAs[Double]("cramers_v").isNaN)
  }

  test("m26 mutual info: 0 under independence, ln(k) under a deterministic uniform label") {
    import spark.implicits._
    // y = x over 3 uniform values → MI = ln 3 exactly
    val assoc = (1 to 120).map(k => (s"a${k % 3}", s"b${k % 3}")).toDF("x", "y")
    val ma = MLPrep.mutualInfo(assoc, col("x"), col("y")).head().getAs[Double]("mi_nats")
    assert(math.abs(ma - math.log(3.0)) < 1e-5)
    // factorizing counts → every cell term is ln(1) = 0 exactly
    val indep = (for { i <- 0 until 3; j <- 0 until 4; _ <- 0 until (i + 1) * (j + 1) }
      yield (s"a$i", s"b$j")).toDF("x", "y")
    val mi = MLPrep.mutualInfo(indep, col("x"), col("y")).head().getAs[Double]("mi_nats")
    assert(math.abs(mi) < 1e-12, "independent table must score exactly 0")
    // inventory binding: cell terms finite, marginals consistent with the joint
    val rows = MLPrep.m26(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    val n = rows.map(_.getAs[Long]("n_xy")).sum
    rows.groupBy(_.getAs[Long]("bin")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n_xy")).sum === rs.head.getAs[Long]("n_x"))
    }
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n_xy")).sum === rs.head.getAs[Long]("n_y"))
    }
    assert(rows.forall(r => !r.getAs[Double]("mi_term").isNaN))
    assert(n > 0L)
  }

  test("c16 benford audit: integer digit extraction survives power-of-10 boundaries") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-c16").toString
    // boundary-hostile plants: floor(log10) FP error would misdigit 1000.00
    Seq(0.01, 999.99, 1000.00, 123.45, 950.00, 9.99)
      .toDF("o_totalprice").write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = Cleaning.c16(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r.keySet === Set(1L, 9L))
    assert(r(1L) === ((3L, 500000L, 301030L)), "digits of 0.01, 1000.00, 123.45 are all 1")
    assert(r(9L) === ((3L, 500000L, 45757L)), "digits of 999.99, 950.00, 9.99 are all 9")
    // corpus: every row lands in exactly one digit bucket; ppm masses close
    val full = Cleaning.c16(spark, sf).collect()
    assert(full.map(_.getLong(1)).sum === Tables.orders(spark, sf).count())
    assert(full.forall(x => x.getLong(0) >= 1 && x.getLong(0) <= 9))
    val mass = full.map(_.getLong(2)).sum
    assert(mass > 999000L && mass <= 1000000L, s"obs_ppm mass must be ~1e6, got $mass")
  }

  test("m27 binned KS equals brute force and tracks the exact D; planted shift rejects") {
    // brute-force mirror of the B=200 binning on the real split pair
    val rows = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0) % 5 != 0, r.getDouble(1)))
    val (mn, mx) = (rows.map(_._2).min, rows.map(_._2).max)
    val binned = rows.map { case (a, v) =>
      (math.min(math.floor((v - mn) / ((mx - mn) / 200)).toLong, 199L), a) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, xs) => (b, xs.count(_._2).toLong, xs.count(!_._2).toLong) }
    val (ta, tb) = (binned.map(_._2).sum, binned.map(_._3).sum)
    var (ca, cb) = (0L, 0L)
    var d = 0.0
    binned.foreach { case (_, a, b) =>
      ca += a; cb += b
      d = math.max(d, math.abs(ca.toDouble / ta - cb.toDouble / tb))
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = MLPrep.m27(spark, sf).head()
    assert(got.getLong(0) === ta && got.getLong(1) === tb)
    assert(got.getDouble(2) === r6(d))
    // measure-don't-guess: the binned D must track the exact sup-ECDF D
    // (underestimates by at most the largest bin's mass)
    val sa = rows.filter(_._1).map(_._2).sorted
    val sb = rows.filter(!_._1).map(_._2).sorted
    val cuts = (sa ++ sb).distinct.sorted
    val exactD = cuts.map { c =>
      val fa = sa.count(_ <= c).toDouble / sa.length
      val fb = sb.count(_ <= c).toDouble / sb.length
      math.abs(fa - fb)
    }.max
    // within a bin each ECDF moves by at most that bin's per-arm mass,
    // so the gap is bounded by max over bins of (mass_a/ta + mass_b/tb)
    val maxBinErr = binned.map(x => x._2.toDouble / ta + x._3.toDouble / tb).max
    assert(d <= exactD + 1e-12 && exactD - d <= maxBinErr + 1e-12,
      s"binned D $d vs exact $exactD (max bin err $maxBinErr)")
    // a hash split of one population must NOT reject at alpha=0.05
    assert(got.getLong(4) === 0L, "m3's hash split should look like one distribution")
    // a planted location shift MUST reject
    import spark.implicits._
    val shifted = ((1 to 4000).map(i => (i.toLong * 5 + 1, i % 100 * 1.0)) ++
      (1 to 4000).map(i => (i.toLong * 5, i % 100 * 1.0 + 40.0)))
      .toDF("o_orderkey", "o_totalprice")
    val sh = MLPrep.binnedKs(shifted, col("o_orderkey") % 5 =!= 0, col("o_totalprice")).head()
    assert(sh.getLong(4) === 1L, "a 40-unit location shift must reject at alpha=0.05")
    assert(sh.getDouble(2) > got.getDouble(2))
  }

  test("m30 binned Mann-Whitney equals a brute-force replay; planted shift rejects, hash split does not") {
    // brute-force mirror of the binned U on the real split pair
    val rows = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0) % 5 != 0, r.getDouble(1)))
    val (mn, mx) = (rows.map(_._2).min, rows.map(_._2).max)
    val binned = rows.map { case (a, v) =>
      (math.min(math.floor((v - mn) / ((mx - mn) / 200)).toLong, 199L), a) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, xs) => (b, xs.count(_._2).toLong, xs.count(!_._2).toLong) }
    val (ta, tb) = (binned.map(_._2).sum, binned.map(_._3).sum)
    var cb = 0L; var u2 = BigInt(0)
    binned.foreach { case (_, a, b) => u2 += BigInt(a) * (2 * cb + b); cb += b }
    val u = u2.toDouble / 2.0
    val z = (u2.toDouble - ta.toDouble * tb) /
      (2.0 * math.sqrt(ta.toDouble * tb * (ta + tb + 1) / 12.0))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = MLPrep.m30(spark, sf).head()
    assert(got.getLong(0) === ta && got.getLong(1) === tb)
    assert(got.getDouble(2) === r6(u), "U equals the histogram replay")
    assert(got.getDouble(3) === r6(z))
    // NOT asserting no-rejection on the real split: |z| = 2.18 here —
    // U is sensitive enough that a mild synthetic-data imbalance (or
    // a null-true 5% event) trips alpha=0.05, which is the test
    // working, not failing. Sanity-bound it instead.
    assert(math.abs(got.getDouble(3)) < 3.5, "null-ish split z-score out of sane range")
    assert(got.getLong(4) === (if (math.abs(z) > 1.96) 1L else 0L))
    // a planted location shift MUST reject (same fixture as m27's)
    import spark.implicits._
    val shifted = ((1 to 4000).map(i => (i.toLong * 5 + 1, i % 100 * 1.0)) ++
      (1 to 4000).map(i => (i.toLong * 5, i % 100 * 1.0 + 40.0)))
      .toDF("o_orderkey", "o_totalprice")
    val sh = MLPrep.binnedMannWhitney(shifted,
      col("o_orderkey") % 5 =!= 0, col("o_totalprice")).head()
    assert(sh.getLong(4) === 1L, "a 40-unit location shift must reject at alpha=0.05")
    assert(sh.getDouble(3) < 0, "arm A sits BELOW the shifted arm B: negative z")
  }

  test("binnedKs defensive contract: nulls carry no mass; a constant column gives D = 0") {
    import spark.implicits._
    // nulls interleaved into one arm must not inflate counts or shift D
    val base = (1 to 500).map(i => (i.toLong, Some(i % 50 * 1.0))) ++
      (1 to 100).map(i => (i.toLong * 7, Option.empty[Double]))
    val withNulls = base.toDF("o_orderkey", "v")
    val clean = base.filter(_._2.isDefined).toDF("o_orderkey", "v")
    val a = MLPrep.binnedKs(withNulls, col("o_orderkey") % 2 === 0, col("v")).head()
    val b = MLPrep.binnedKs(clean, col("o_orderkey") % 2 === 0, col("v")).head()
    assert(a.getLong(0) === b.getLong(0) && a.getLong(1) === b.getLong(1),
      "null rows must not count toward either arm")
    assert(a.getDouble(2) === b.getDouble(2), "null rows must not move D")
    // constant column: zero bin width must short-circuit, not ANSI-fail;
    // identical point masses are identical distributions -> D = 0
    val const = (1 to 100).map(i => (i.toLong, 7.5)).toDF("o_orderkey", "v")
    val c = MLPrep.binnedKs(const, col("o_orderkey") % 2 === 0, col("v")).head()
    assert(c.getDouble(2) === 0.0 && c.getLong(4) === 0L,
      "a constant column is one distribution: D = 0, no rejection")
  }

  test("m28 learning curve: fractions nest, and the 100% point IS m13's fit") {
    val rows = MLPrep.m28(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(10, 25, 50, 100))
    val n = rows.map(_.getLong(1))
    assert(n(0) < n(1) && n(1) < n(2) && n(2) < n(3), "train sizes strictly grow")
    // the inclusion rule h < f makes samples NESTED, so n scales ~f
    assert(math.abs(n(0).toDouble / n(3) - 0.10) < 0.03)
    assert(math.abs(n(1).toDouble / n(3) - 0.25) < 0.03)
    // f=100 keeps every train row — identical model to m13, same eval
    val m13 = MLPrep.m13(spark, sf).head()
    val full = rows.last
    assert(full.getDouble(2) === m13.getAs[Double]("slope"))
    assert(full.getDouble(3) === m13.getAs[Double]("intercept"))
    assert(full.getDouble(4) === m13.getAs[Double]("mse"))
    assert(full.getDouble(5) === m13.getAs[Double]("r2"))
    // the synthetic corpus has no qty→price correlation, so r² sits
    // near 0 at every fraction — but a least-squares fit evaluated on
    // held-out data can never do much worse than the mean predictor
    assert(rows.forall(_.getDouble(5) > -0.05), "fits stay near the mean-predictor floor")
  }

  test("c17 amount audit: consistent books score 0; a planted 1-cent-plus gap and a lineless order are caught") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-c17").toString
    // order 1: two lines summing exactly; order 2: off by 0.02;
    // order 3: off by exactly 0.01 (within tolerance); order 4: no lines
    Seq((1L, 30.0), (2L, 50.0), (3L, 10.0), (4L, 99.0))
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 10.0, 0.0), (1L, 40.0, 0.5), (2L, 49.98, 0.0), (3L, 10.01, 0.0))
      .toDF("l_orderkey", "l_extendedprice", "l_discount")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Cleaning.c17(spark, dir).head()
    assert(r.getLong(0) === 4L)
    assert(r.getLong(1) === 1L, "order 4 has no lines")
    assert(r.getLong(2) === 1L, "only order 2 exceeds the 1-cent tolerance")
    assert(r.getLong(3) === 1000000L / 3L, "ppm over CHECKED orders, not all orders")
    assert(r.getDouble(4) === 0.02, "worst gap is order 2's 2 cents")
    // the inventory instantiation must be non-vacuous on this corpus
    val full = Cleaning.c17(spark, sf).head()
    assert(full.getLong(2) > 0L, "synthetic books do not reconcile — the audit must say so")
    assert(full.getLong(0) === Tables.orders(spark, sf).count())
  }

  test("m29 bootstrap CI equals a plain-Scala replay; interval covers the mean; SE is sane") {
    val rows = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select("event_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L)
    def w(id: Long, r: Int): Long = {
      // CRT mixing (two coprime moduli) — MLPrep.bootstrapMeanCi's rule
      val h = ((id % 1000003L) * 515245L + (id % 999983L) * 435761L +
        r.toLong * 2654435761L + 12345L) % 1000000L
      cdf.indexWhere(h < _) match { case -1 => 6L; case k => k.toLong }
    }
    def d2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val means = (0 until 39).map { r =>
      val sx = rows.map { case (id, v) => d2(v) * BigDecimal(w(id, r)) }.sum.toDouble
      val sw = rows.map { case (id, _) => w(id, r) }.sum
      sx / sw
    }.sorted
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = MLPrep.m29(spark, sf).head()
    assert(got.getLong(0) === rows.length.toLong)
    assert(got.getDouble(3) === r6(means.head), "ci_lo is the 1st order statistic")
    assert(got.getDouble(4) === r6(means.last), "ci_hi is the 39th order statistic")
    val mean = rows.map(x => d2(x._2)).sum.toDouble / rows.length
    assert(got.getDouble(1) === r6(mean))
    assert(mean >= got.getDouble(3) && mean <= got.getDouble(4),
      "the point estimate sits inside its own bootstrap interval")
    // bootstrap SE should approximate sd/sqrt(n) (loose 2x band)
    val sd = math.sqrt(rows.map(x => math.pow(x._2 - mean, 2)).sum / (rows.length - 1))
    val seClt = sd / math.sqrt(rows.length.toDouble)
    assert(got.getDouble(2) > seClt / 2 && got.getDouble(2) < seClt * 2,
      s"se_boot ${got.getDouble(2)} vs CLT $seClt")
  }

  test("c18 quantile sketch audit: default-accuracy rank error within contract+one-rank on every cleaning distribution") {
    // the library's DEFAULT percentile path is the GK sketch at 10k —
    // this pins its measured rank error inside the contract on the
    // very distributions c2/c4/c15 feed it (the registered c18 gates
    // the within_bound outcome; the raw ppm lives here)
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val evAll = ev.select(col("value").as("v")).filter(col("v").isNotNull)
    val dists = Seq(
      ("c2_value_median", ev.filter(col("event_type") =!= "error")
        .select(col("value").as("v")), 0.5),
      ("c4_qty_q1", Tables.lineitem(spark, sf)
        .select(col("l_quantity").cast("double").as("v")), 0.25),
      ("c15_value_median", evAll, 0.5))
    dists.foreach { case (site, df, p) =>
      val row = operators.Cleaning.quantileSketchError(df, "v", p, site).head()
      assert(row.getAs[Boolean]("within_bound"), s"$site breaks the sketch contract: $row")
      // contract bound (100 ppm) + ONE rank of discretization: the
      // sketch returns an element, the type-7 target is fractional —
      // at n=1000 a perfect answer already reads as 500 ppm
      val oneRankPpm = (1000000L + row.getAs[Long]("n_vals") - 1) / row.getAs[Long]("n_vals")
      assert(row.getAs[Long]("rank_err_ppm") <= 100L + oneRankPpm,
        s"$site rank error ${row.getAs[Long]("rank_err_ppm")} ppm > bound+rank " +
          s"${100L + oneRankPpm}: $row")
    }
    // the measure moves: a deliberately coarse sketch (accuracy 20 ⇒
    // bound 50,000 ppm) shows real error on the continuous column yet
    // stays within ITS OWN bound — the audit distinguishes accuracies
    // rather than printing zeros
    val coarse = operators.Cleaning.quantileSketchError(
      evAll, "v", 0.5, "coarse", accuracy = 20).head()
    assert(coarse.getAs[Boolean]("within_bound"))
    assert(coarse.getAs[Long]("bound_ppm") === 50000L)
    assert(coarse.getAs[Long]("rank_err_ppm") > 1500L,
      s"accuracy-20 sketch should show error beyond contract+discretization, got $coarse")
    // and the registered key's gate shape: 5 sites, all within bound
    val rows = operators.Cleaning.c18(spark, sf).collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getAs[Boolean]("within_bound")))
  }

  test("c20 fdAudit: g3 repair metric exact on a hand-built frame; key FD holds, its inverse is 800k ppm") {
    import spark.implicits._
    // lhs a: rhs counts {x: 3, y: 1} -> 1 repair; lhs b: {x: 2} -> 0;
    // n = 6, g3 = 1, ppm = 166666 (integer div)
    val f = Seq(("a", "x"), ("a", "x"), ("a", "x"), ("a", "y"),
      ("b", "x"), ("b", "x")).toDF("l", "r")
    val audit = operators.Cleaning.fdAudit(f, col("l"), col("r"), "t", "l", "r")
      .collect().head
    assert(audit.getAs[Long]("n_rows") === 6L)
    assert(audit.getAs[Long]("n_lhs") === 2L)
    assert(audit.getAs[Long]("n_pairs") === 3L)
    assert(audit.getAs[Long]("viol_ppm") === 166666L)
    assert(!audit.getAs[Boolean]("holds"))
    // an exact FD audits to zero violations
    val exact = operators.Cleaning.fdAudit(
        Seq(("a", "x"), ("a", "x"), ("b", "y")).toDF("l", "r"),
        col("l"), col("r"), "t", "l", "r").collect().head
    assert(exact.getAs[Long]("viol_ppm") === 0L && exact.getAs[Boolean]("holds"))
    // the registered key: a candidate key determines everything
    // (nation key -> region holds) while 5 regions cannot determine
    // 25 nations (g3 = 20/25 = 800k ppm exactly)
    val reg = operators.Cleaning.c20(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)) -> r).toMap
    assert(reg(("n_nationkey", "n_regionkey")).getAs[Boolean]("holds"))
    val inv = reg(("n_regionkey", "n_nationkey"))
    assert(!inv.getAs[Boolean]("holds") && inv.getAs[Long]("viol_ppm") === 800000L)
  }
}
