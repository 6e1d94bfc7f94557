package graft


/** Driver-run benchmark: times every SparkEntry query at the SF dir in
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. A short warmup
  * (parquet footers + a trivial job) is run first so the first timed
  * query doesn't absorb JVM/codegen spin-up; queries run in sorted
  * order for run-to-run comparability.
  *
  * Contention self-diagnosis (two mechanisms, because min-of-N cannot
  * defend against machine load spanning a whole run — rounds 4-6 each
  * had a sweep window where an idle-machine re-run couldn't reproduce
  * the recorded numbers):
  *  1. TWO fixed reference jobs are timed BETWEEN every ~10-query
  *     bucket, not just at the endpoints — a mid-sweep contention
  *     window is localized to its bucket instead of being invisible
  *     (round 6: a 10 s artifact on one query was indistinguishable
  *     from a real 8.5× regression until a manual re-measurement).
  *     Since r17 the normalization CURRENCY is the workload-shaped
  *     Spark probe (shuffle+agg job; `probe` array): r16 proved the
  *     scalar CPU kernel does not track the workload's bottleneck mix
  *     (cal sped up 2× mid-sweep while query walls stayed high → 131
  *     false regression flags). The scalar kernel still ships (`cal`
  *     array, `drift_cal`) as the raw-CPU diagnostic and keeps its
  *     calrr trigger role. The stdout line carries `drift` (the
  *     end/start PROBE trend ratio — the sweep's trust signal) and
  *     bench_last.json carries per-key `queries_norm`
  *     (time·probeRef/its bucket's probe) plus the mechanical
  *     `comparison_rule` a judge applies across rounds; a sweep whose
  *     drift lands outside [0.8, 1.25] SELF-HEALS by re-timing its 10
  *     worst outliers post-sweep (the `healed` list).
  *  2. Any query whose min-of-N exceeds 3× its previous-round time
  *     (read from the checked-in bench_prev.json snapshot) gets an
  *     automatic extra run and is flagged in the `rerun` list — so a
  *     transient spike either disappears on the extra run or is
  *     PERSISTENTLY slow and therefore a real regression.
  *  3. Any BUCKET whose bounding calibration mean exceeds 1.5× the
  *     reference cal gets every one of its queries re-timed once
  *     (min-merged) and listed in `calrr` — closing the r8 blind
  *     spot where a 1.7× contention inflation sat in a 3.8×-inflated
  *     cal bucket yet ducked the per-query 3× rule. The re-runs
  *     happen AFTER the whole sweep (contention windows are
  *     transient; re-running inside the same window would re-measure
  *     the same noise), with a fresh cal reading bracketing them.
  *     SPARK_GRAFT_CAL_INFLATE=k multiplies the measured cal readings
  *     — the synthetic-contention injection knob that lets a test run
  *     demonstrate the calrr trigger firing without a noisy machine.
  *
  * A query that succeeds on some-but-not-all of its runs keeps its
  * min time but is listed in `flaky` — intermittent failures were
  * previously invisible (neither `err` nor any flag).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envCpus
    val spark = Sessions.local(cpus)

    // Warmup: one trivial job + touch every table's footer/schema +
    // compile the decimal-agg codegen kernels the m-family reuses
    // (first execution of those wide kernels otherwise costs ~5s of
    // JIT inside whichever query runs first).
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
        catch { case _: Throwable => () })
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .selectExpr(
        "sum(cast(l_quantity as decimal(18,2))) q",
        "sum(cast(l_quantity as decimal(18,2)) * cast(l_extendedprice as decimal(18,2))) p")
      .collect()
    catch { case _: Throwable => () }

    // Contention calibration kernel: fixed CPU-bound job, identical
    // across rounds and machines. CAL_INFLATE multiplies the reading
    // — the synthetic-contention knob for testing the calrr trigger.
    val calInflate = sys.env.getOrElse("SPARK_GRAFT_CAL_INFLATE", "1.0").toDouble
    def calOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id * 2 + 1)").collect()
      (System.nanoTime() - t0) / 1e9 * calInflate
    }
    // min-of-2 per reading (r16): the ~0.25 s kernel carries ±25%
    // single-run scheduler jitter, which drowned the drift signal
    // (idle max/min measured 2.26 on single runs, ~1.2 on min-of-2) —
    // min is the noise-floor estimator, and the kernel itself is
    // unchanged so cal_ref keeps its unit across rounds.
    def calibrate(): Double = math.min(calOnce(), calOnce())
    calOnce() // throwaway: JITs the calibration kernel itself

    // WORKLOAD-SHAPED probe (round-16 VERDICT directive 1): the scalar
    // kernel above proxies only raw CPU — r16's driver sweep measured
    // the cal SPEEDING UP 2x while query walls stayed high (the
    // bottleneck was JVM/scheduler/page-cache state the kernel never
    // touches), so time·calRef/cal over-corrected and queries_norm
    // mechanically flagged 131 false regressions. The probe is a fixed
    // SCAN-SHAPED Spark job through the same session: read a real
    // table from the SF dir, two-level agg, one shuffle — the same
    // bottleneck mix (IO/page cache + codegen + scheduler) as the
    // workload. Shape was MEASURED, not guessed (PLANS.md "the probe
    // A/B", r17, 32 spinners vs local[16]): queries inflate ~3.5x, this
    // scan probe 4.4x, the scalar cal 8.6x, synthetic range->agg
    // probes 13-15x — pure-CPU reference jobs over-respond to load
    // because fixed scheduling costs dominate them. The probe is the
    // normalization currency (same-SF readings only: probe_ref in
    // bench_prev.json was recorded at the driver's sf0.1); the scalar
    // cal stays as the raw-CPU diagnostic and keeps its calrr trigger
    // role. Falls back to a synthetic shape when the table is absent.
    // (probeJob, probeDesc): the DESCRIPTION is derived from the same
    // selection that picks the job, so the self-describing unit string
    // written to bench_last.json can never disagree with what actually
    // ran (round-17 ADVICE: the hardcoded "2M-row" string described
    // the fallback while the scan job ran).
    val probeMinOf = 3
    val (probeJob: (() => Unit), probeDesc: String) =
      try {
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        li.limit(1).count() // fail here, not inside the timed readings
        ((() => li.selectExpr("l_orderkey", "cast(l_quantity as decimal(18,2)) q",
            "l_returnflag")
          .groupBy("l_returnflag", "l_orderkey")
          .agg(org.apache.spark.sql.functions.expr("sum(q)"))
          .groupBy("l_returnflag")
          .agg(org.apache.spark.sql.functions.expr("sum(`sum(q)`)"),
            org.apache.spark.sql.functions.expr("count(1)"))
          .queryExecution.toRdd.count(): Unit),
          "lineitem scan+2-level-agg Spark job")
      } catch { case _: Throwable =>
        ((() => spark.range(0, 2000000L, 1, 32)
          .selectExpr("id", "cast(id % 1000 as string) k", "(id * 48271) % 97 v")
          .groupBy("k")
          .agg(org.apache.spark.sql.functions.expr("sum(v)"),
            org.apache.spark.sql.functions.expr("avg(v)"))
          .queryExecution.toRdd.count(): Unit),
          "2M-row synthetic shuffle+agg Spark job (lineitem absent)")
      }
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      probeJob()
      (System.nanoTime() - t0) / 1e9 * calInflate
    }
    // min-of-3 (vs the cal's min-of-2): the probe is the NORM
    // denominator, so its reading noise multiplies every key's norm —
    // the r17 A/B measured min-of-2 scan-probe readings swinging
    // 0.22-0.37 s idle (±30% on norms, the two borderline heal-run
    // flags); a third reading tightens the noise floor at ~0.3 s per
    // boundary.
    def probe(): Double =
      (1 to probeMinOf).map(_ => probeOnce()).min
    probeOnce() // throwaway: JITs the probe's own codegen

    // Previous-round per-query times (short family ids) and the
    // RECORDED reference cal, both from the checked-in bench_prev.json
    // — calRef is a measurement taken under the cleanest observed
    // driver conditions, not a constant invented here. Missing file →
    // no rerun guard and the default reference; the bench still runs.
    val prevText =
      try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_PREV", "bench_prev.json"))), "UTF-8")
      catch { case _: Throwable => "" }
    val prevPairs = """"([a-zA-Z0-9_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(prevText)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    // the SF probe_ref was recorded at (round-17 ADVICE: the probe
    // reads the sweep's own SF dir, so a prev ref from another SF is a
    // different-magnitude unit — detect the mismatch instead of
    // silently normalizing against it)
    val prevProbeSf = """"probe_sf"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(prevText).map(_.group(1))
    val calRef = prevPairs.getOrElse("cal_ref", 0.25)
    val prev = prevPairs -- Seq("cal_ref", "probe_ref")

    // min of N runs per query: run 1 absorbs per-query codegen/JIT
    // compile and transient contention; the two MLlib queries get a
    // third run (iterative training has the widest variance). A query
    // whose min still exceeds 3× its previous-round time gets ONE more
    // run and a rerun flag — self-diagnosing the d9-class artifact.
    //
    // Bucket size 10 since r16 (was 25): r15's calibration-normalized
    // total moved OPPOSITE to the raw total because the cal probes and
    // the workload drifted differently across a multi-hour session —
    // finer interleaving localizes drift to ~10-query windows and
    // makes the per-key time/cal ratios (bench_last.json's
    // queries_norm) the cross-round comparison currency; `drift` (the
    // end/start cal trend ratio) is the trust signal.
    val bucketSize = 10
    // SPARK_GRAFT_ONLY=k1,k2 restricts the sweep to named keys — a
    // dev/test knob (the A/B load rehearsals run subsets); the driver
    // never sets it, so round artifacts always carry the full map.
    val onlyKeys = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val sortedQueries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => onlyKeys.forall(_.contains(q._1)))
    val calPoints = scala.collection.mutable.ArrayBuffer(calibrate())
    val probePoints = scala.collection.mutable.ArrayBuffer(probe())
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Boolean, Int)]
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    val flaky = scala.collection.mutable.ArrayBuffer.empty[String]
    // A query that throws is an ERROR, never a time: recording the
    // partial wall-clock before the failure (round 7: 44 broken
    // queries logged as 0.04-1.14 s "times") silently IMPROVES the
    // total. Failed queries go to the `err` list and contribute
    // nothing to value/value_norm/queries.
    def runOnce(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      // toRdd.count materializes the FULL output plan (what Verify's
      // oracle dump pays). Dataset.count() lets Catalyst prune every
      // column and then ELIMINATE multiplicity-preserving joins — the
      // round-14 audit found 20 keys whose count plan dropped join
      // subtrees (e2e_curate: 67 joins → 0), so their wall numbers
      // measured a degenerate plan.
      try { fn(spark, sfDir).queryExecution.toRdd.count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case _: Throwable => None }
    }
    // Family ids (q22, mm4, ...) used to be unique; e2e_curate /
    // e2e_clean both shorten to "e2e", so a colliding family keeps
    // its FULL key everywhere (per-key map, prev lookups, flags) —
    // a duplicate JSON key would silently drop one timing.
    val shortOf: String => String = {
      val ids = sortedQueries.map(_._1.takeWhile(_ != '_'))
      val dup = ids.groupBy(identity).collect { case (v, xs) if xs.size > 1 => v }.toSet
      (name: String) => {
        val sid = name.takeWhile(_ != '_')
        if (dup.contains(sid)) name else sid
      }
    }
    sortedQueries.grouped(bucketSize).zipWithIndex.foreach { case (bucket, bi) =>
      bucket.foreach { case (name, fn) =>
        val n = if (name == "m14_grid_search" || name == "m7_feature_importance") 3 else 2
        var times = (1 to n).map(_ => runOnce(fn))
        val short = shortOf(name)
        if (times.flatten.isEmpty) errs += short
        else {
          // some-but-not-all runs failed: the min time stands but the
          // intermittent failure must be VISIBLE in the artifact
          if (times.flatten.size < n) flaky += short
          val suspicious = prev.get(short).exists(p => times.flatten.min > 3.0 * p)
          if (suspicious) times = times :+ runOnce(fn)
          results += ((name, times.flatten.min, suspicious, bi))
        }
      }
      calPoints += calibrate() // bucket boundary: localize contention
      probePoints += probe()
    }

    // Bucket-level contention re-runs (mechanism 3): any bucket whose
    // bounding cal mean exceeded 1.5× calRef gets each of its queries
    // ONE more timing after the sweep (the contention window has
    // usually passed by then), min-merged so a clean re-run replaces
    // the inflated reading. A trailing cal point brackets the block.
    val hotBuckets = (0 until calPoints.size - 1).filter { bi =>
      (calPoints(bi) + calPoints(bi + 1)) / 2.0 > 1.5 * calRef }
    val calrr = scala.collection.mutable.ArrayBuffer.empty[String]
    if (hotBuckets.nonEmpty) {
      val qmap = sortedQueries.toMap
      hotBuckets.foreach { bi =>
        results.indices.filter(results(_)._4 == bi).foreach { i =>
          val (name, t, susp, b) = results(i)
          runOnce(qmap(name)) match {
            case Some(t2) =>
              results(i) = (name, math.min(t, t2), susp, b)
              calrr += shortOf(name)
            // a query that succeeded in the sweep but threw on the
            // re-run is an intermittent failure — surface it
            case None => flaky += shortOf(name)
          }
        }
      }
      calPoints += calibrate() // brackets the rerun window
      probePoints += probe()
    }

    // Normalization currency (round-16 VERDICT directive 1): per-key
    // walls normalize by the WORKLOAD-SHAPED probe's bucket reading
    // (time · probeRef / bucketProbe) — the scalar-CPU cal stays as a
    // diagnostic (its array still ships; drift_cal is its trend) but
    // no longer corrects query times, because r16 proved it does not
    // track the workload's bottleneck mix. probeRef comes from
    // bench_prev.json's probe_ref once recorded; a prev file without
    // one (the estimator's first round) falls back to THIS sweep's
    // opening reading, making the norms self-consistent within the
    // round and the cross-round unit start here.
    // a probe_ref recorded at ANOTHER SF (or one with no recorded SF —
    // pre-r18 prev files) normalizes this sweep against a
    // different-magnitude probe; fall back to the in-sweep opening
    // reading, which makes the norms self-consistent within the round
    val sfNameEarly = new java.io.File(sfDir).getName
    val probeRef =
      if (prevProbeSf.exists(_ != sfNameEarly)) probePoints.head
      else prevPairs.getOrElse("probe_ref", probePoints.head)
    val rerunCal = if (hotBuckets.nonEmpty) Some(calPoints.last) else None
    val rerunProbe = if (hotBuckets.nonEmpty) Some(probePoints.last) else None
    // per-BUCKET effective reading: mean of the two bounding points; a
    // re-run bucket's min-merged times come from the CLEANER of its
    // two measurement windows — normalizing clean times by the
    // inflated in-sweep reading would double-correct (deflate) them
    def bucketCal(bi: Int): Double = {
      val cSweep = (calPoints(bi) + calPoints(bi + 1)) / 2.0
      if (hotBuckets.contains(bi)) math.min(cSweep, rerunCal.get) else cSweep
    }
    def bucketProbe(bi: Int): Double = {
      val pSweep = (probePoints(bi) + probePoints(bi + 1)) / 2.0
      if (hotBuckets.contains(bi)) math.min(pSweep, rerunProbe.get) else pSweep
    }
    // Sweep-wide drift metric (r15 VERDICT directive 2): how much the
    // machine moved UNDER the sweep — now measured on the
    // workload-shaped probe (the signal that moved 2x in r16 while
    // the scalar cal claimed the machine got FASTER); the scalar
    // trend ships alongside as drift_cal. >1 = machine got slower
    // under the sweep; ~1.0 = raw totals comparable end-to-end.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    // window 5 on the full sweep (21+ points — r16's unit); a subset
    // run (SPARK_GRAFT_ONLY) has few boundaries, where take(5) and
    // takeRight(5) would overlap into a constant-1.0 trend — shrink
    // the window to half the points so short sweeps still discriminate
    def trend(xs: Seq[Double]): Double = {
      val w = math.max(1, math.min(5, xs.size / 2))
      median(xs.takeRight(w)) / median(xs.take(w))
    }
    val drift = trend(probePoints.toSeq)
    val driftCal = trend(calPoints.toSeq)

    // OUT-OF-BAND SELF-HEAL (round-16 VERDICT directive 1, second
    // half): when the sweep's own drift lands outside the comparison
    // rule's [0.8, 1.25] trust band, the artifact is formally
    // untrustworthy (r16's driver sweep: drift 0.49, 131 mechanically
    // false flags) — so before writing it, re-run the 10 worst
    // normalized-time outliers (vs their previous-round times where
    // known, by absolute norm otherwise) once more and keep minima,
    // bracketed by fresh probe/cal readings. A machine-state artifact
    // heals at sweep end (the drifted window has moved on); a real
    // regression reproduces and persists. Healed keys are listed so a
    // judge sees which minima come from the post-sweep window.
    val healed = scala.collection.mutable.ArrayBuffer.empty[String]
    var healProbe = Option.empty[Double]
    if (drift < 0.8 || drift > 1.25) {
      val qmap = sortedQueries.toMap
      val worst = results.zipWithIndex.map { case ((name, t, _, bi), i) =>
        val n = t * probeRef / bucketProbe(bi)
        (prev.get(shortOf(name)).map(n / _).getOrElse(n), i)
      }.sortBy(-_._1).take(10).map(_._2)
      worst.foreach { i =>
        val (name, t, susp, bi) = results(i)
        // TWO heal runs, min-merged (round-17 VERDICT directive 4):
        // the single post-sweep re-time paid per-key cold start
        // (codegen/JIT for a plan last compiled early in the sweep),
        // inflating exactly the keys it was meant to clear — the first
        // run re-warms, the min keeps the cleaner reading.
        val reruns = Seq(runOnce(qmap(name)), runOnce(qmap(name))).flatten
        if (reruns.nonEmpty) {
          results(i) = (name, math.min(t, reruns.min), susp, bi)
          healed += name
        } else flaky += shortOf(name)
      }
      calPoints += calibrate()
      probePoints += probe()
      healProbe = Some(probePoints.last)
    }
    // per-key effective probe: a healed key's min may come from the
    // post-sweep bracket — same min rule as the calrr windows
    def probeFor(name: String, bi: Int): Double = healProbe match {
      case Some(hp) if healed.contains(name) => math.min(bucketProbe(bi), hp)
      case _ => bucketProbe(bi)
    }
    def normOf(name: String, t: Double, bi: Int): Double =
      t * probeRef / probeFor(name, bi)

    val total = results.map(_._2).sum
    // value stays the raw wall-clock truth; value_norm is the
    // probe-corrected estimate, and both interleaved arrays ship for
    // readers who want their own normalization.
    val totalNorm = results.map { case (k, v, _, bi) => normOf(k, v, bi) }.sum
    val sfName = new java.io.File(sfDir).getName
    // The driver captures only the LAST ~2000 chars of output and
    // parses the JSON line out of that tail — keep the line compact
    // (3-decimal times, short keys when needed) and print it after
    // spark.stop() so nothing lands between it and EOF. Locale.ROOT:
    // a comma-decimal locale would emit invalid JSON.
    def num(dec: Int, v: Double): String =
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
    val calStr = calPoints.map(num(2, _)).mkString("[", ",", "]")
    val probeStr = probePoints.map(num(2, _)).mkString("[", ",", "]")
    val healedStr = healed.map("\"" + shortOf(_) + "\"").mkString("[", ",", "]")
    val rerunStr = results.filter(_._3)
      .map(r => "\"" + shortOf(r._1) + "\"").mkString("[", ",", "]")
    val errStr = errs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flakyStr = flaky.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    // calrr can span whole buckets (25 names); emit the count plus the
    // hot bucket indices instead of every name to protect the 2000-char
    // tail — the member queries are recoverable from sorted order.
    val calrrStr =
      s"""{"n":${calrr.size},"buckets":${hotBuckets.mkString("[", ",", "]")}}"""
    def fmt(dec: Int, short: Boolean): String = {
      val qs = results.map { case (k, v, _, _) =>
        val key = if (short) shortOf(k) else k // collision-aware (e2e_* keeps full keys)
        s""""$key":${num(dec, v)}"""
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(3, total)},"value_norm":${num(3, totalNorm)},"drift":${num(2, drift)},"drift_cal":${num(2, driftCal)},"unit":"sec","queries":$qs,"sf":"$sfName","cal":$calStr,"probe":$probeStr,"healed":$healedStr,"rerun":$rerunStr,"err":$errStr,"flaky":$flakyStr,"calrr":$calrrStr}"""
    }
    // Past ~190 keys even short ids + 2dp overflow the tail and the
    // captured artifact ends MID-KEY — invalid JSON (r13 VERDICT
    // "what's wrong" 3). When no full form fits, emit a COMPLETE line
    // that carries the top-N slowest keys (what a reader checks first)
    // and points at the committed full map instead: bench_last.json
    // below always holds every key at 3dp.
    def fmtTop(dec: Int, topN: Int): String = {
      val qs = results.sortBy(-_._2).take(topN)
        .map { case (k, v, _, _) => s""""$k":${num(dec, v)}""" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(3, total)},"value_norm":${num(3, totalNorm)},"drift":${num(2, drift)},"drift_cal":${num(2, driftCal)},"unit":"sec","n_queries":${results.size},"queries_top":$qs,"queries_file":"bench_last.json","sf":"$sfName","cal":$calStr,"probe":$probeStr,"healed":$healedStr,"rerun":$rerunStr,"err":$errStr,"flaky":$flakyStr,"calrr":$calrrStr}"""
    }
    // stay well inside the 2000-char tail as the query count grows:
    // full keys at 3 then 2 decimals, then short family ids, then the
    // top-N + pointer form — every candidate is COMPLETE JSON.
    val line = (Seq(fmt(3, false), fmt(2, false), fmt(3, true), fmt(2, true)) ++
      Seq(40, 25, 10).map(fmtTop(2, _)))
      .find(_.length <= 1900).getOrElse(fmtTop(2, 5))
    // The stdout line is tail-truncation-prone on the driver side
    // (ADVICE r12: ~16 per-key timings fell off BENCH_r12's captured
    // tail) — ALSO write the FULL untruncated JSON (long keys, 3dp) to
    // a file in the repo so every per-key timing survives the round
    // regardless of how much of stdout the driver keeps. The file form
    // additionally carries queries_norm — per-key time/cal ratios
    // rescaled by calRef (time · calRef / its bucket's cal) — and the
    // MECHANICAL cross-round comparison rule, so a judge reads
    // regressions off queries_norm without re-deriving the method.
    val qsNorm = results.map { case (k, v, _, bi) =>
      s""""$k":${num(3, normOf(k, v, bi))}""" }.mkString("{", ",", "}")
    val rule = "compare queries_norm across rounds (same probe_ref source; " +
      s"unit: workload-shaped Spark probe, min-of-$probeMinOf, since r17): a key " +
      "regressed iff its queries_norm grew >1.5x AND >0.4s (>0.7s when " +
      "its prev reading is <1s: sub-second keys sit at the probe-noise " +
      "floor, r17's four borderline flags were all such keys re-timed " +
      "clean on idle); trust raw `queries` only when both rounds' drift " +
      "(probe end/start trend, ~1.0 idle) is within [0.8, 1.25]; " +
      "out-of-band sweeps self-heal their 10 worst outliers post-sweep " +
      "with two warm re-runs each (the `healed` list)"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_last.json"),
      fmt(3, false).dropRight(1) +
        s""","queries_norm":$qsNorm,"cal_ref_used":${num(3, calRef)},"probe_ref_used":${num(3, probeRef)},"probe_sf":"$sfName","cal_unit":"cal: fixed scalar kernel min-of-2 (diagnostic only since r17); probe: $probeDesc min-of-$probeMinOf at $sfName (the normalization currency)","comparison_rule":"$rule"}""" + "\n")
    catch { case _: Throwable => () } // read-only cwd must not fail the bench
    spark.stop()
    println(line)
  }
}
