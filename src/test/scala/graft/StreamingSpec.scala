package graft

import org.apache.spark.sql.functions._
import graft.streaming._

class StreamingSpec extends SparkSuite {

  /** Stage the events table as a streaming file source. */
  private def stagedStream() = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val batch = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    (batch, stream)
  }

  test("streaming tumbling-window counts equal the batch twin") {
    val (batch, stream) = stagedStream()
    val q = Streams.streamingTumbling(stream)
      .writeStream.outputMode("complete").format("memory").queryName("tumbling").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling")
        .select(col("window_start_ms"), col("event_type"), col("n")).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val batched = Streams.streamingTumbling(batch).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed === batched)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup emits one row per (user, event_type)") {
    val (batch, stream) = stagedStream()
    val q = Streams.streamingDedup(stream)
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup").select("user_id", "event_type").distinct().count()
      val total = spark.table("dedup").count()
      val expected = batch.select("user_id", "event_type").distinct().count()
      assert(total === expected)
      assert(n === expected)
    } finally q.stop()
  }

  test("stateful streaming sessionization emits every closed session from q11") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .write.mode("overwrite").parquet(dir)
    val schema = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("value")).schema
    val stream = spark.readStream.schema(schema).parquet(dir).as[Streams.TsEvent]
    val q = Streams.streamingSessionize(stream)
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("sessions")
        .select("user_id", "start_ms", "end_ms", "n_events", "session_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      val batch = operators.Relational.q11(spark, sf)
        .select("user_id", "start_ms", "end_ms", "n_events", "session_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      // every emitted session is a true session; the only sessions the
      // stream may still hold open are each user's LAST one
      assert(emitted.subsetOf(batch))
      val lastPerUser = batch.groupBy(_._1).map { case (_, s) => s.maxBy(_._2) }.toSet
      assert((batch -- lastPerUser).subsetOf(emitted))
      assert(emitted.nonEmpty)
    } finally q.stop()
  }

  test("streaming as-of enrichment equals the batch as-of join (q14)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-asof").toString
    val cols = Seq("event_id", "user_id", "ts", "event_type", "value")
    Tables.events(spark, sf).select(cols.map(col): _*).write.mode("overwrite").parquet(dir)
    val schema = Tables.events(spark, sf).select(cols.map(col): _*).schema
    val stream = spark.readStream.schema(schema).parquet(dir).as[Streams.TypedEvent]
    val q = Streams.streamingAsOfEnrich(stream)
      .writeStream.outputMode("append").format("memory").queryName("asof").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("asof").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      val batch = operators.Relational.q14(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch attribution twin (st6)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivj").toString
    val ev = Tables.events(spark, sf)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
      .write.mode("overwrite").parquet(s"$dir/p")
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .write.mode("overwrite").parquet(s"$dir/c")
    val pStream = spark.readStream
      .schema(spark.read.parquet(s"$dir/p").schema).parquet(s"$dir/p")
    val cStream = spark.readStream
      .schema(spark.read.parquet(s"$dir/c").schema).parquet(s"$dir/c")
    val q = Streams.streamingIntervalJoin(pStream, cStream)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("purchase_ms"), unix_millis(col("c_ts")).as("click_ms"))
      .writeStream.outputMode("append").format("memory").queryName("ivj").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ivj")
        .groupBy("user_id", "event_id", "purchase_ms")
        .agg(count(lit(1)).as("n_clicks_30m"), max("click_ms").as("last_click_ms"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val batch = Streams.st6(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("st2's manual sliding-window expansion matches native window()") {
    val ev = Tables.events(spark, sf)
    val native = ev
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("window_start_ms"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val manual = graft.streaming.Streams.st2(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(manual === native)
  }

  test("bucketed intervalJoin equals the naive key-join + range filter (st6 data)") {
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("purchase_ms"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_millis(col("ts")).as("click_ms"))
    val naive = p.join(c, col("user_id") === col("c_user") &&
        col("click_ms") <= col("purchase_ms") &&
        col("click_ms") > col("purchase_ms") - 1800000L)
      .select("user_id", "event_id", "purchase_ms", "click_ms")
      .collect().map(_.toSeq).toSet
    val bucketed = Streams.intervalJoin(p, c, "user_id", "c_user",
        "purchase_ms", "click_ms", 1800000L)
      .select("user_id", "event_id", "purchase_ms", "click_ms")
      .collect().map(_.toSeq).toSet
    assert(bucketed === naive)
    assert(bucketed.nonEmpty)
  }

  test("intervalJoin is skew-safe: hot user joins on the bucketed key, closed-form result") {
    import spark.implicits._
    // ONE bot user: 100k clicks at 1-second spacing (~28 h) and 1k
    // purchases every 100 s over the same span. The naive user_id
    // equi-join would evaluate 100k × 1k = 10^8 range predicates in a
    // single task; the bucketed join's per-(user, grain) pairs are
    // 1800 clicks × ≤36 purchases — ~3 orders of magnitude less, which
    // is what lets this test finish in seconds.
    val clicks = spark.range(100000L)
      .select(lit(1L).as("c_user"), (col("id") * 1000L).as("click_ms"))
    val purchases = spark.range(1000L)
      .select(lit(1L).as("user_id"), col("id").as("event_id"),
        (col("id") * 100000L).as("purchase_ms"))
    val joined = Streams.intervalJoin(purchases, clicks, "user_id", "c_user",
      "purchase_ms", "click_ms", 1800000L)
    // the optimizer must keep the composite (key, bucket) equi-join —
    // a plain key join or a nested-loop join would be the quadratic
    // shape this API exists to avoid
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_bucket"), s"bucketed join key missing from plan:\n$plan")
    assert(!plan.contains("NestedLoop"), s"interval join fell back to nested loop:\n$plan")
    val agg = joined.groupBy("event_id", "purchase_ms")
      .agg(count(lit(1)).as("n"), max("click_ms").as("last"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(agg.size === 1000)
    // closed form: purchase j at p = j*100000 matches clicks at i*1000
    // in (p-1800000, p] → 1800 clicks once the window is full (j ≥ 18),
    // j*100 + 1 during warm-up; the latest click is always at p itself.
    (0L until 1000L).foreach { j =>
      val p = j * 100000L
      val expectN = if (j >= 18) 1800L else j * 100L + 1L
      assert(agg(j) === ((expectN, p)), s"purchase $j")
    }
  }

  test("intervalJoin equals the naive join on randomized data incl. negatives and boundaries") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    val interval = 1000L
    // keys 0-4, times drawn from {random, exact bucket boundaries,
    // boundary±1, negatives} — the cases where bucketing math can slip
    def times(n: Int): Seq[Long] = Seq.fill(n) {
      val base = rnd.nextLong() % 50000L
      rnd.nextInt(4) match {
        case 0 => base
        case 1 => (base / interval) * interval       // on a boundary
        case 2 => (base / interval) * interval + 1L
        case _ => (base / interval) * interval - 1L
      }
    }
    val lhs = times(400).zipWithIndex
      .map { case (t, i) => (i.toLong % 5, i.toLong, t) }.toDF("k", "lid", "lt")
    val rhs = times(400).zipWithIndex
      .map { case (t, i) => (i.toLong % 5, t) }.toDF("rk", "rt")
    val naive = lhs.join(rhs, col("k") === col("rk") &&
        col("rt") <= col("lt") && col("rt") > col("lt") - interval)
      .select("lid", "rt").collect().map(_.toSeq).toSet
    val bucketed = Streams.intervalJoin(lhs, rhs, "k", "rk", "lt", "rt", interval)
      .select("lid", "rt").collect().map(_.toSeq).toSet
    assert(bucketed === naive)
    assert(naive.nonEmpty)
  }

  test("st4 typed sessionization matches the window-function formulation (q11)") {
    val typed = Streams.st4(spark, sf).collect().map(_.toSeq)
    val sql = operators.Relational.q11(spark, sf).collect().map(_.toSeq)
    assert(typed.length === sql.length)
    assert(typed.zip(sql).forall { case (a, b) => a == b })
  }

  test("streaming rate flag carries window state across micro-batches (st10)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Offset past epoch 0: EventTimeTimeout's late-data filter drops
    // rows at-or-below the watermark, and the initial watermark is 0.
    def ev(id: Long, minute: Long) = Streams.TypedEvent(
      id, 1L, new java.sql.Timestamp(86400000L + minute * 60000L), "click", 1.0)
    val mem = MemoryStream[Streams.TypedEvent]
    val q = Streams.streamingRateFlag(mem.toDS(), 3600000L)
      .writeStream.outputMode("append").format("memory").queryName("rate").start()
    try {
      mem.addData(ev(1, 0), ev(2, 30))    // batch 1
      q.processAllAvailable()
      mem.addData(ev(3, 50), ev(4, 180))  // batch 2: e3 must see e1/e2 from state
      q.processAllAvailable()
      val n = spark.table("rate").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_trailing_1h")).toMap
      assert(n === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    } finally q.stop()
  }

  test("st10 late event counts only at-or-before peers; idle keys evicted") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minute: Long, uid: Long = 1L) = Streams.TypedEvent(
      id, uid, new java.sql.Timestamp(86400000L + minute * 60000L), "click", 1.0)
    val mem = MemoryStream[Streams.TypedEvent]
    val q = Streams.streamingRateFlag(mem.toDS(), 3600000L)
      .writeStream.outputMode("append").format("memory").queryName("late_rate").start()
    try {
      mem.addData(ev(1, 0), ev(2, 60))  // batch 1; watermark after = 50 min
      q.processAllAvailable()
      // e3 is LATE (55 < 60) but admissible (55 ≥ watermark 50). Its
      // trailing-hour count must be {0, 55} = 2 — NOT 3: the future
      // e2@60 sits in the buffer but is after e3's CURRENT ROW bound.
      mem.addData(ev(3, 55))
      q.processAllAvailable()
      val n = spark.table("late_rate").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_trailing_1h")).toMap
      assert(n === Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
      // Eviction: push the watermark far past user1's last+window; the
      // EventTimeTimeout must remove user1's state (else key count = 3).
      mem.addData(ev(4, 300, uid = 2L))
      q.processAllAvailable()
      mem.addData(ev(5, 302, uid = 3L)) // triggers timeout processing at wm≈290
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows === 2L, s"user1 state not evicted (rows=$stateRows)")
    } finally q.stop()
  }

  test("streaming MERGE sink: micro-batch folds converge to the batch latest-row snapshot (st12)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, String, Double, Long)] // user, event, type, value, ms
    val sink = new UpsertSink(SinkState.memory(), Seq("user_id"), Seq(col("ms"), col("event_id")))
    val q = mem.toDF().toDF("user_id", "event_id", "event_type", "value", "ms")
      .writeStream.foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink(b, id))
      .start()
    try {
      mem.addData((1L, 10L, "a", 1.0, 100L), (2L, 20L, "b", 2.0, 200L))
      q.processAllAvailable()
      mem.addData((1L, 11L, "c", 3.0, 150L), (3L, 30L, "d", 4.0, 50L)) // upsert + insert
      q.processAllAvailable()
      mem.addData((2L, 21L, "e", 5.0, 200L)) // same ms, higher event_id wins
      q.processAllAvailable()
      val got = sink.snapshot.get.orderBy(col("user_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      assert(got === Seq((1L, 11L, "c"), (2L, 21L, "e"), (3L, 30L, "d")))
    } finally q.stop()
  }

  test("st14 RollupSink: micro-batch folded rollup equals the one-shot batch rollup") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.lang.Double, Long)] // user, type, value, ms
    val sink = new RollupSink(SinkState.memory(), Seq("user_id", "event_type"), "value", "ms")
    val q = mem.toDF().toDF("user_id", "event_type", "value", "ms")
      .writeStream.foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink(b, id))
      .start()
    val all = Seq(
      (1L, "a", java.lang.Double.valueOf(1.5), 100L),
      (1L, "a", java.lang.Double.valueOf(2.5), 200L),
      (2L, "b", null.asInstanceOf[java.lang.Double], 150L), // null value: n vs n_v
      (1L, "b", java.lang.Double.valueOf(4.0), 300L),
      (2L, "b", java.lang.Double.valueOf(6.0), 400L),
      (3L, "a", java.lang.Double.valueOf(7.0), 50L))
    try {
      mem.addData(all.take(3): _*); q.processAllAvailable()
      mem.addData(all.slice(3, 5): _*); q.processAllAvailable()
      mem.addData(all.drop(5): _*); q.processAllAvailable()
      val ord = Seq(col("user_id"), col("event_type"))
      val got = sink.snapshot.get.orderBy(ord: _*).collect().map(_.toSeq).toSeq
      val want = graft.operators.Upsert.rollupFinish(graft.operators.Upsert.rollupState(
        all.toDF("user_id", "event_type", "value", "ms"),
        Seq("user_id", "event_type"), "value", "ms")).orderBy(ord: _*)
        .collect().map(_.toSeq).toSeq
      assert(got === want, "streamed fold diverged from the batch rollup")
    } finally q.stop()
  }

  test("st15 streaming admission equals the batch prefix twin across uneven batch slices") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // real corpus rows, budget-relevant sizes, sliced unevenly but in
    // doc_id order per source (the documented arrival contract)
    val recs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .orderBy(col("doc_id"))
      .collect().map(r => Streams.DocRec(r.getLong(0), r.getString(1), r.getLong(2)))
    val mem = MemoryStream[Streams.DocRec]
    val q = Streams.streamingAdmission(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("admission").start()
    try {
      val cuts = Seq(recs.length / 5, recs.length / 2, recs.length)
      var prev = 0
      cuts.foreach { c =>
        mem.addData(recs.slice(prev, c).toIndexedSeq: _*); q.processAllAvailable(); prev = c
      }
      val streamed = spark.table("admission")
        .select("doc_id", "source", "n_tok", "cum_before").collect().map(_.toSeq).toSet
      val batch = Streams.st15(spark, sf)
        .select("doc_id", "source", "n_tok", "cum_before").collect().map(_.toSeq).toSet
      assert(streamed === batch, "streamed admissions diverged from the batch prefix")
      assert(streamed.nonEmpty)
      // the quota genuinely closed at least one source mid-corpus
      val admittedPerSource = spark.table("admission").groupBy("source").count().collect()
      val totalPerSource = Tables.documents(spark, sf).groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(admittedPerSource.exists(r => r.getLong(1) < totalPerSource(r.getString(0))),
        "budget never bound — the test is vacuous")
    } finally q.stop()
  }

  test("st21 streaming curate: two slicings AND the durable kill/resume equal the batch rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = Tables.documents(spark, sf).select("doc_id", "source", "text")
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = Streams.st21(spark, sf).collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    // every stage attrits somewhere, or the composition test is vacuous
    val rows = want.toSeq.map(s => (s(3), s(4), s(5), s(6)))
    assert(rows.exists(_._1 == false), "gate never rejected")
    assert(rows.exists(r => r._1 == true && r._3 == false), "near-dedup never rejected")
    assert(rows.exists(r => r._3 == true && r._4 == false), "budget never bound")
    def run(cuts: Seq[Int], mk: () => (org.apache.spark.sql.DataFrame, Long) => Unit,
        out: () => Set[Seq[Any]]): Set[Seq[Any]] = {
      val mem = MemoryStream[(Long, String, String)]
      val fold = mk()
      val q = mem.toDF().toDF("doc_id", "source", "text")
        .writeStream.outputMode("append")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => fold(b, id))
        .start()
      try {
        var prev = 0
        cuts.foreach { c =>
          mem.addData(recs.slice(prev, c).toIndexedSeq: _*); q.processAllAvailable(); prev = c
        }
        out()
      } finally q.stop()
    }
    val n = recs.length
    // in-memory sink, two different slicings
    def memRun(cuts: Seq[Int]): Set[Seq[Any]] = {
      val sink = new CurateSink(SinkState.memory())
      run(cuts, () => sink.apply _, () => sink.decisions.get.collect().map(_.toSeq).toSet)
    }
    assert(memRun(Seq(n / 4, n / 2, 3 * n / 4, n)) === want,
      "4-slice streamed curate diverged from the batch rebuild")
    assert(memRun(Seq(n / 3, n)) === want,
      "2-slice streamed curate diverged from the batch rebuild")
    // durable sink: first life consumes half, a FRESH instance (new
    // JVM — no in-memory state) resumes over the same store
    val dir = java.nio.file.Files.createTempDirectory("graft-st21-dur").toString
    val first = new graft.streaming.DurableSinks.DurableCurateSink(spark, dir)
    first.apply(recs.slice(0, n / 2).toSeq.toDF("doc_id", "source", "text"), 0L)
    val resumed = new graft.streaming.DurableSinks.DurableCurateSink(spark, dir)
    resumed.apply(recs.slice(n / 2, n).toSeq.toDF("doc_id", "source", "text"), 1L)
    resumed.apply(recs.slice(n / 2, n).toSeq.toDF("doc_id", "source", "text"), 1L) // redelivery no-op
    assert(resumed.decisions.get.collect().map(_.toSeq).toSet === want,
      "durable kill/resume curate diverged from the batch rebuild")
  }

  test("st16 streaming dedup admission: two different slicings equal the batch rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val recs = Tables.documents(spark, sf).select("doc_id", "text")
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val want = Streams.st16(spark, sf).collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    assert(want.exists(s => s(1) == false),
      "no doc was ever rejected — the near-dup corpus makes this non-vacuous")
    def run(cuts: Seq[Int]): Set[Seq[Any]] = {
      val mem = MemoryStream[(Long, String)]
      val sink = new DedupAdmissionSink(SinkState.memory())
      val q = mem.toDF().toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink(b, id))
        .start()
      try {
        var prev = 0
        cuts.foreach { c =>
          mem.addData(recs.slice(prev, c).toIndexedSeq: _*); q.processAllAvailable(); prev = c
        }
        sink.decisions.get.collect().map(_.toSeq).toSet
      } finally q.stop()
    }
    val n = recs.length
    assert(run(Seq(n / 4, n / 2, 3 * n / 4, n)) === want,
      "4-slice streamed fold diverged from the batch rebuild")
    assert(run(Seq(n / 3, n)) === want,
      "2-slice streamed fold diverged from the batch rebuild")
  }

  test("st16 bucket-head rule vs the pair-exact reference (divergence boundary)") {
    // st16's registered form probes only each bucket's HEAD (smallest
    // id); st16PairExact is the spec-only any-earlier-member reference
    // it replaced (quadratic inside near-dup families — round-14's
    // 214M-pair ×100 measurement). Two claims:
    // (1) one-sided by construction: every head-rule REJECTION is
    //     backed by a verified pair the any-member rule also sees, so
    //     head-rejected ⊆ pair-exact-rejected (conservative-KEEP);
    // (2) on this corpus the rules agree EXACTLY — the only possible
    //     divergence is a doc whose bucket head fails Jaccard while a
    //     later member would verify, which the one-token-perturbed
    //     families never produce.
    val head = Streams.st16(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val exact = Streams.st16PairExact(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(head.keySet === exact.keySet)
    val headRejected = head.filter(!_._2).keySet
    val exactRejected = exact.filter(!_._2).keySet
    assert(headRejected.nonEmpty, "non-vacuous: some doc must be rejected")
    assert(headRejected.subsetOf(exactRejected),
      "a head-rule rejection without a pair-exact rejection is impossible by construction")
    assert(head === exact,
      "head rule diverged from pair-exact on this corpus (conservative-KEEP fired)")
  }

  test("st14 rollup fold is invariant to spark.sql.shuffle.partitions") {
    // The mergeable-state design claims ANY re-sharding of the fold is
    // harmless (associative+commutative state, exact-decimal sums).
    // Prove the shuffle-partition knob specifically: the same 3-slice
    // fold under 2 and 9 partitions must produce identical tables —
    // the conf a 100 TB operator retunes most often must never change
    // answers.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def run(parts: String) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try Streams.st14(spark, sf).collect().map(_.toSeq).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val at2 = run("2")
    val at9 = run("9")
    assert(at2.nonEmpty)
    assert(at2 === at9, "rollup fold changed under a different shuffle-partition count")
  }

  test("RocksDB sessionize restart under a CHANGED shuffle-partition conf keeps state layout and answers") {
    import spark.implicits._
    // Scale-ops property: an operator retunes spark.sql.shuffle.
    // partitions and restarts — the stateful query must keep reading
    // its checkpoint correctly. Spark pins the STATE partitioning to
    // the count recorded at first run (the conf change must neither
    // corrupt state nor silently reshard it), so the restarted
    // lifetime must (a) produce the same sessions as an unrestarted
    // run and (b) leave the state directory at the ORIGINAL partition
    // count.
    val cols = Seq("event_id", "user_id", "ts", "value")
    val ev = Tables.events(spark, sf).select(cols.map(col): _*)
    val schema = ev.schema
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val dir = java.nio.file.Files.createTempDirectory("graft-scale-restart").toString
    def collectRun(files: String, ckpt: String): Set[Seq[Any]] = {
      val buf = scala.collection.mutable.Set.empty[Seq[Any]]
      val stream = spark.readStream.schema(schema).parquet(files).as[Streams.TsEvent]
      val q = Streams.streamingSessionize(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.SessionOut], _: Long) =>
          val rows = b.toDF()
            .select("user_id", "start_ms", "end_ms", "n_events", "session_value")
            .collect().map(_.toSeq)
          buf.synchronized { buf ++= rows }; ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.toSet
    }
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", Sessions.RocksDbProvider)
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    try {
      // control: one unrestarted RocksDB lifetime over the full log
      ev.write.mode("overwrite").parquet(s"$dir/all")
      val control = collectRun(s"$dir/all",
        java.nio.file.Files.createTempDirectory("graft-scale-ctrl-ckpt").toString)
      // restarted: phase 1 at 4 partitions, phase 2 at 7
      val ckpt = java.nio.file.Files.createTempDirectory("graft-scale-ckpt").toString
      ev.filter(col("ts") < cut).write.mode("overwrite").parquet(s"$dir/files")
      val first = collectRun(s"$dir/files", ckpt)
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      ev.filter(col("ts") >= cut).write.mode("append").parquet(s"$dir/files")
      val second = collectRun(s"$dir/files", ckpt)
      assert((first ++ second) === control,
        "restart under a changed shuffle-partition conf diverged from the unrestarted run")
      assert(first.nonEmpty && second.nonEmpty,
        "both lifetimes must emit (otherwise the restart proved nothing)")
      // state layout pinned at the FIRST run's partition count
      import scala.jdk.CollectionConverters._
      val stateParts = {
        val it = java.nio.file.Files.list(java.nio.file.Paths.get(ckpt, "state", "0"))
        try it.iterator().asScala.count(p => p.getFileName.toString.forall(_.isDigit))
        finally it.close()
      }
      assert(stateParts === prevParts.toInt,
        s"state dir re-sharded to $stateParts partitions; must stay at the checkpointed $prevParts")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }

  test("st7 as-of state is bounded: idle users evicted at the horizon, with the documented attribution loss") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minute: Long, uid: Long, typ: String) = Streams.TypedEvent(
      id, uid, new java.sql.Timestamp(86400000L + minute * 60000L), typ, 1.0)
    val mem = MemoryStream[Streams.TypedEvent]
    val q = Streams.streamingAsOfEnrich(mem.toDS(), retentionMs = 3600000L) // 1h horizon
      .writeStream.outputMode("append").format("memory").queryName("asof_evict").start()
    try {
      mem.addData(ev(1, 0, 1L, "click"), ev(2, 1, 1L, "purchase")) // user1 attributes
      q.processAllAvailable()
      // push the watermark far past user1's last activity + horizon…
      mem.addData(ev(3, 300, 2L, "click"))
      q.processAllAvailable()
      mem.addData(ev(4, 302, 2L, "click")) // …and trigger timeout processing
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows === 1L, s"idle user1 not evicted (state rows=$stateRows)")
      // the documented trade: user1 returns AFTER the horizon — the
      // purchase flows through but its click attribution is gone
      mem.addData(ev(5, 303, 1L, "purchase"))
      q.processAllAvailable()
      val got = spark.table("asof_evict").collect()
        .map(r => r.getAs[Long]("event_id") ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      assert(got(2L) === Some(86400000L), "pre-eviction purchase attributes to the click")
      assert(got(5L) === None, "post-horizon purchase has lost attribution by design")
    } finally q.stop()
  }

  test("bounded dedup evicts state at the watermark; re-emits only past-delay duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minute: Long) = Streams.TypedEvent(
      id, 7L, new java.sql.Timestamp(86400000L + minute * 60000L), "click", 1.0)
    val mem = MemoryStream[Streams.TypedEvent]
    val q = Streams.streamingDedupBounded(mem.toDF())
      .select(col("event_id"))
      .writeStream.outputMode("append").format("memory").queryName("bdedup").start()
    try {
      mem.addData(ev(1, 0), ev(2, 1)) // duplicate key within the window
      q.processAllAvailable()
      mem.addData(ev(3, 5))           // still within the 10-min delay of e1
      q.processAllAvailable()
      // e4 is processed at the PRE-batch watermark (still ≈ −5 min), so
      // e1's state is live and e4 dedups; after that batch the
      // watermark jumps to ~590 and evicts the key, so e5 re-emits.
      mem.addData(ev(4, 600))
      q.processAllAvailable()
      mem.addData(ev(5, 601))
      q.processAllAvailable()
      val emitted = spark.table("bdedup").collect().map(_.getLong(0)).toSet
      assert(emitted.contains(1L) && !emitted.contains(2L) && !emitted.contains(3L)
          && !emitted.contains(4L),
        s"in-window duplicates must drop: $emitted")
      assert(emitted.contains(5L),
        "the key re-emits after its state was evicted — the documented trade")
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows <= 2L, s"evicted keys must leave the store (rows=$stateRows)")
    } finally q.stop()
  }

  test("st11 batch twin equals the naive left join; zero-click purchases kept") {
    val naiveSql =
      """SELECT p.user_id, p.event_id, p.purchase_ms,
        |  count(c.c_user) AS n_clicks_30m, max(c.click_ms) AS last_click_ms
        |FROM p LEFT JOIN c ON p.user_id = c.c_user
        |  AND c.click_ms <= p.purchase_ms AND c.click_ms > p.purchase_ms - 1800000
        |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin
    val ev = Tables.events(spark, sf)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("purchase_ms"))
      .createOrReplaceTempView("p")
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_millis(col("ts")).as("click_ms"))
      .createOrReplaceTempView("c")
    val naive = spark.sql(naiveSql).collect().map(_.toSeq)
    val bucketed = Streams.st11(spark, sf).collect().map(_.toSeq)
    assert(bucketed.length === naive.length)
    assert(bucketed.zip(naive).forall { case (a, b) => a == b })
    assert(bucketed.exists(_(3) == 0L), "zero-click purchases must be present")
  }

  test("streaming outer interval join emits unmatched purchases after the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(minute: Long) = new java.sql.Timestamp(86400000L + minute * 60000L)
    val pMem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cMem = MemoryStream[(Long, java.sql.Timestamp)]
    val purchases = pMem.toDF().toDF("user_id", "event_id", "ts")
    val clicks = cMem.toDF().toDF("c_user", "c_ts")
    val q = Streams.streamingIntervalJoinOuter(purchases, clicks)
      .select(col("user_id"), col("event_id"), col("c_ts"))
      .writeStream.outputMode("append").format("memory").queryName("outer_ij").start()
    try {
      // u1's purchase has a click 5 min before; u2's has none
      pMem.addData((1L, 101L, ts(30)), (2L, 201L, ts(31)))
      cMem.addData((1L, ts(25)))
      q.processAllAvailable()
      val matched = spark.table("outer_ij").collect()
      assert(matched.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 101L)),
        "matched row emits immediately; unmatched must WAIT for the watermark")
      assert(matched.head.get(2) != null)
      // advance both watermarks far past u2's purchase + interval
      pMem.addData((9L, 901L, ts(600))); cMem.addData((9L, ts(600)))
      q.processAllAvailable()
      pMem.addData((9L, 902L, ts(601))); cMem.addData((9L, ts(601)))
      q.processAllAvailable()
      val u2 = spark.table("outer_ij").collect()
        .filter(_.getLong(0) == 2L)
      assert(u2.length === 1, "u2's zero-click purchase must emit exactly once")
      assert(u2.head.get(2) == null, "…with null click columns")
    } finally q.stop()
  }

  test("streaming stream-static enrichment equals the batch twin (st9)") {
    val (batch, stream) = stagedStream()
    val dim = Tables.customer(spark, sf).select(col("c_custkey"), col("c_mktsegment"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      Streams.enrichWithDim(df, dim, "user_id", "c_custkey")
        .groupBy(coalesce(col("c_mktsegment"), lit("(unknown)")).as("segment"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    val q = agg(stream)
      .writeStream.outputMode("complete").format("memory").queryName("enrich").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batched = agg(batch).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed === batched)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming drift monitor equals the batch PSI twin (st13)") {
    val (batch, stream) = stagedStream()
    val baseline = Streams.driftBaseline(
      batch.filter(unix_millis(col("ts")) < 1704931200000L), col("value"))
    val q = Streams.streamingDriftMonitor(stream, baseline)
      .writeStream.outputMode("complete").format("memory").queryName("drift").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("drift").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val batched = Streams.windowedPsi(batch, baseline).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(streamed === batched)
      assert(streamed.nonEmpty)
      // PSI is a sum of same-sign terms: never negative (and, at this
      // SF, dominated by small-sample noise — ~300 events/day over 20
      // bins puts the noise floor near 1, so no absolute "quiet
      // baseline" assert is honest here; the PSI-vs-baseline-size
      // contract is the oracle's exact-value check)
      val psis = streamed.values.map(_._2).toSeq
      assert(psis.forall(_ >= 0.0), s"PSI must be non-negative: ${psis.min}")
      assert(psis.max > psis.min, "PSI must vary across days")
    } finally q.stop()
  }

  test("stateful sessionization on the RocksDB state store equals the default store") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rocks").toString
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .write.mode("overwrite").parquet(dir)
    val schema = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("value")).schema
    def run(name: String, ckpt: String): Set[(Long, Long, Long, Long, Double)] = {
      val stream = spark.readStream.schema(schema).parquet(dir).as[Streams.TsEvent]
      val q = Streams.streamingSessionize(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(name).start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name)
        .select("user_id", "start_ms", "end_ms", "n_events", "session_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    }
    val ckptRocks = java.nio.file.Files.createTempDirectory("graft-rocks-ckpt").toString
    val ckptDefault = java.nio.file.Files.createTempDirectory("graft-hdfs-ckpt").toString
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", Sessions.RocksDbProvider)
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val rocks =
      try run("rocks_sessions", ckptRocks)
      finally {
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
    val default = run("default_sessions", ckptDefault)
    // the provider changes WHERE state lives, never its semantics
    assert(rocks === default)
    assert(rocks.nonEmpty)
    // physical evidence the RocksDB provider actually ran: changelog
    // checkpointing writes *.changelog (and snapshot *.zip) state
    // files, never the HDFS store's *.delta
    import scala.jdk.CollectionConverters._
    val rocksFiles = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptRocks, "state"))
      try it.iterator().asScala.map(_.getFileName.toString).toList finally it.close()
    }
    assert(rocksFiles.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
      s"no RocksDB state files under $ckptRocks/state: $rocksFiles")
    assert(!rocksFiles.exists(_.endsWith(".delta")),
      "RocksDB run must not write HDFS-store delta files")
  }

  test("streaming as-of enrichment survives a checkpoint restart (st7 recovery)") {
    import spark.implicits._
    // Kill the query mid-log, restart from the checkpoint, and require
    // union-of-emissions == the one-shot batch oracle (q14). This is
    // the i2 rebuild-transparency pattern applied to PROCESS LIFETIME:
    // the restarted query must restore each user's lastClick state from
    // the checkpoint — a lost state row shows up as a wrong/null
    // click_ms on a post-restart purchase.
    val cols = Seq("event_id", "user_id", "ts", "event_type", "value")
    val ev = Tables.events(spark, sf).select(cols.map(col): _*)
    val schema = ev.schema
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val dir = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-restart-ckpt").toString
    // phase 1: only the pre-cut slice exists on disk
    ev.filter(col("ts") < cut).write.mode("overwrite").parquet(s"$dir/files")
    // the memory sink refuses checkpoint recovery by design (not
    // fault-tolerant), so emissions are collected via foreachBatch —
    // the sink shape a production restartable query would use
    def runQuery(): Set[(Long, Long, Long, Option[Long])] = {
      val buf = scala.collection.mutable.Set.empty[(Long, Long, Long, Option[Long])]
      val stream = spark.readStream.schema(schema)
        .parquet(s"$dir/files").as[Streams.TypedEvent]
      val q = Streams.streamingAsOfEnrich(stream)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.Enriched], _: Long) =>
          val rows = b.collect().map(e => (e.user_id, e.event_id, e.purchase_ms, e.click_ms))
          buf.synchronized { buf ++= rows }; ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.toSet
    }
    val first = runQuery()
    // phase 2: the rest of the log lands; a NEW query resumes from the
    // same checkpoint (offsets + per-user state restored)
    ev.filter(col("ts") >= cut).write.mode("append").parquet(s"$dir/files")
    val second = runQuery()
    val batch = operators.Relational.q14(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert((first ++ second) === batch)
    assert(first.nonEmpty && second.nonEmpty,
      "both lifetimes must emit (otherwise the restart proved nothing)")
    // cross-lifetime state genuinely exercised: some post-restart
    // purchase must be attributed to a PRE-restart click
    val cutMs = 1705363200000L
    assert(second.exists(e => e._3 >= cutMs && e._4.exists(_ < cutMs)),
      "no post-restart purchase used checkpoint-restored click state")
  }

  test("foreachBatch MERGE sink folds identically across a checkpoint restart (st12 recovery)") {
    import org.apache.spark.sql.functions.{col => c}
    // The UpsertSink models the external MERGE-capable table: it
    // survives the query restart (as a Delta/Iceberg table would); the
    // checkpoint contributes exactly-once batch replay. Final snapshot
    // must equal the one-shot latest-row oracle over the whole log.
    val log = Tables.events(spark, sf)
      .select(c("event_id"), c("user_id"), c("ts"), c("event_type"), c("value"))
    val schema = log.schema
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-restart").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-merge-ckpt").toString
    log.filter(c("ts") < cut).write.mode("overwrite").parquet(s"$dir/files")
    val sink = new UpsertSink(SinkState.memory(), Seq("user_id"),
      Seq(c("ts"), c("event_id")))
    def startQuery() = spark.readStream.schema(schema).parquet(s"$dir/files")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink(b, id))
      .start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val midKeys = sink.snapshot.get.count()
    log.filter(c("ts") >= cut).write.mode("append").parquet(s"$dir/files")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = sink.snapshot.get
      .select("user_id", "event_id", "event_type", "value", "ts")
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val want = graft.operators.Upsert.latestSnapshot(log, Seq("user_id"),
        Seq(c("ts"), c("event_id")))
      .select("user_id", "event_id", "event_type", "value", "ts")
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(midKeys > 0, "pre-restart fold must be non-vacuous")
  }

  test("driftBaseline excludes null values: fractions q_i are over non-null rows only") {
    import spark.implicits._
    val withNulls = Seq(Some(1.0), Some(2.0), None, Some(3.0), None, Some(4.0))
      .toDF("value")
    val noNulls = withNulls.filter(col("value").isNotNull)
    val a = Streams.driftBaseline(withNulls, col("value")).collect()(0).toSeq
    val b = Streams.driftBaseline(noNulls, col("value")).collect()(0).toSeq
    // a null-bearing reference period must produce the SAME baseline as
    // its non-null projection — otherwise every q_i is deflated and all
    // later PSI readings are biased upward (windowedPsi and the st13
    // oracle both bin non-null values only)
    assert(a === b)
    // empty bins are clamped to 1e-6 (m20's convention), so the sum is
    // 1 + #empty·1e-6 — NOT deflated below 1, which is the null bug's
    // signature (null rows in n push every q_i down)
    val fracs = a.drop(2).map(_.asInstanceOf[Double])
    assert(fracs.sum >= 1.0 - 1e-9 && fracs.sum <= 1.0 + Streams.DriftBins * 1e-6,
      s"fractions must sum to 1 (+clamp), got ${fracs.sum}")
  }

  test("st17 streaming distinct: time-cut slicing equals the batch twin; counts slicing-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t1 = 1704931200000L
    val t2 = 1705795200000L
    val recs = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day").cast("string"), col("user_id"),
        unix_millis(col("ts")).as("ms"))
      .orderBy(col("ms"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = Streams.st17(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty && want.exists(_._3 > 0L),
      "some day must first appear after batch 0 or the fold is vacuous")
    def run(slices: Seq[Array[(String, Long, Long)]]): Set[(String, Long, Long)] = {
      val mem = MemoryStream[(String, Long)]
      val sink = new DistinctCountSink(SinkState.memory())
      val q = mem.toDF().toDF("day", "user_id")
        .writeStream.outputMode("append")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink(b, id))
        .start()
      try {
        slices.foreach { sl =>
          mem.addData(sl.map(x => (x._1, x._2)).toIndexedSeq: _*); q.processAllAvailable()
        }
        sink.result.get.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      } finally q.stop()
    }
    // the SAME time cuts as the batch twin: full equality incl. first_batch
    val byCuts = Seq(
      recs.filter(_._3 < t1), recs.filter(x => x._3 >= t1 && x._3 < t2),
      recs.filter(_._3 >= t2))
    assert(run(byCuts) === want, "time-cut streamed fold diverged from the batch twin")
    // an ARBITRARY slicing: n_users per day invariant (set union commutes)
    val n = recs.length
    val arb = Seq(recs.slice(0, n / 5), recs.slice(n / 5, n / 2), recs.slice(n / 2, n))
    val counts = run(arb).map(x => (x._1, x._2))
    assert(counts === want.map(x => (x._1, x._2)),
      "distinct counts must be invariant to micro-batch slicing")
  }

  test("st18 late-drop accounting: hand-planted slices; Spark's own drop counter agrees") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-st18").toString
    // 3 arrival slices of 3 events, offset a day past epoch 0 (the
    // st10 lesson: Spark's initial watermark is 0 and its late filter
    // drops AT-or-below rows, so a ts=0 row would drop in slice 0);
    // event_id IS the arrival order, so st18's slice rule (id*3 div 9)
    // cuts exactly at ids 3 and 6. Entering watermarks: slice1 =
    // O+1200000-600000 (drops id 3 at O+300000), slice2 =
    // O+1500000-600000 (drops id 6 at O+600000, which sits exactly AT
    // the watermark — the <= boundary is exercised on purpose).
    val O = 86400000L // a multiple of the 300000 window, so buckets shift cleanly
    val slices = Seq(
      Seq(0L -> 0L, 1L -> 600000L, 2L -> 1200000L),
      Seq(3L -> 300000L, 4L -> 1000000L, 5L -> 1500000L),
      Seq(6L -> 600000L, 7L -> 1000000L, 8L -> 1800000L))
      .map(_.map { case (id, ms) => id -> (ms + O) })
    slices.flatten.map { case (id, ms) => (id, new java.sql.Timestamp(ms)) }
      .toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    val got = Streams.st18(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).sum === 9L, "every event is accounted once")
    assert(got.map(_._3).sum === 2L, "exactly the two planted late rows drop")
    assert(got.find(_._1 == O + 300000L).exists(w => w._2 === 1L && w._3 === 1L),
      "id 3's window reports its drop")
    assert(got.find(_._1 == O + 600000L).exists(w => w._2 === 2L && w._3 === 1L),
      "id 6 drops at the <= boundary while slice-0's on-time twin is kept in the same window")
    assert(got.forall(w => w._2 === w._3 + w._4), "kept + dropped = events per window")
    // live correspondence: a watermarked streaming dedup (row-grain
    // watermark predicate, st3's class) fed the SAME arrival slices
    // reports the same total through numRowsDroppedByWatermark
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("event_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id", "ts")
      .writeStream.outputMode("append").format("memory").queryName("st18_live").start()
    try {
      slices.foreach { sl => mem.addData(sl); q.processAllAvailable() }
      val streamed = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(streamed === 2L,
        s"Spark dropped $streamed rows; the st18 model says 2 — model must match the engine")
    } finally q.stop()
  }

  test("st19 streaming quantile: time-cut fold equals the batch twin; state is slicing-invariant; clamp and null semantics pinned") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t1 = 1704931200000L
    val t2 = 1705795200000L
    val recs = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), unix_millis(col("ts")).as("ms"))
      .collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) Option.empty[Double] else Some(r.getDouble(1)),
        r.getLong(2)))
    val want = Streams.st19(spark, sf).collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    def run(slices: Seq[Array[(String, Option[Double], Long)]]): Set[Seq[Any]] = {
      val mem = MemoryStream[(String, Option[Double])]
      val sink = new HistogramSink(SinkState.memory())
      val q = mem.toDF().toDF("event_type", "value")
        .writeStream.outputMode("append")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink(b, id))
        .start()
      try {
        slices.foreach { sl =>
          mem.addData(sl.map(x => (x._1, x._2)).toIndexedSeq: _*); q.processAllAvailable()
        }
        sink.snapshot.get.collect().map(_.toSeq).toSet
      } finally q.stop()
    }
    // st14's time cuts — the exact slicing the batch twin replays
    val byCuts = Seq(
      recs.filter(_._3 < t1), recs.filter(x => x._3 >= t1 && x._3 < t2),
      recs.filter(_._3 >= t2))
    assert(run(byCuts) === want, "time-cut streamed fold diverged from the batch twin")
    // counter addition commutes: an ARBITRARY slicing folds to the
    // SAME full state, so the whole read (not just counts) is equal
    val n = recs.length
    val arb = Seq(recs.slice(0, n / 7), recs.slice(n / 7, n / 3), recs.slice(n / 3, n))
    assert(run(arb) === want, "histogram fold must be invariant to micro-batch slicing")
    // hand case pinning read semantics: null dropped, 600.00 clamps to
    // the top bin, p50 = upper edge of the first bin covering rank 2
    val hand = Seq(
      ("x", Option(1.0)), ("x", Option(2.0)), ("x", Option(9.0)),
      ("x", Option.empty[Double]), ("x", Option(600.0)))
      .toDF("event_type", "value")
    val got = Streams.quantileFinish(Streams.histogramState(hand))
      .collect().map(_.toSeq)
    // bins: 1.00/2.00 -> bin0, 9.00 -> bin1, 600.00 -> cents 60000 ->
    // bin 75 clamped to 63; n=4. p50: cum(bin0)=2, 200 >= 200 -> edge
    // 800. p90: needs cum*100 >= 360 -> bin63 (cum 4) -> 64*800.
    // p99: 400 >= 396 -> bin63.
    assert(got === Seq(Seq("x", 4L, 800L, 51200L, 51200L)))
  }

  test("st20 streaming KMV: time-cut fold equals the batch twin; slicing-invariant; idempotent; matches q44") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t1 = 1704931200000L
    val t2 = 1705795200000L
    val recs = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), unix_millis(col("ts")).as("ms"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = Streams.st20(spark, sf).collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    def run(slices: Seq[Array[(String, Long, Long)]]): Set[Seq[Any]] = {
      val mem = MemoryStream[(String, Long)]
      val sink = new KmvSink(SinkState.memory())
      val q = mem.toDF().toDF("event_type", "user_id")
        .writeStream.outputMode("append")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink(b, id))
        .start()
      try {
        slices.foreach { sl =>
          mem.addData(sl.map(x => (x._1, x._2)).toIndexedSeq: _*); q.processAllAvailable()
        }
        sink.snapshot.get.collect().map(_.toSeq).toSet
      } finally q.stop()
    }
    val byCuts = Seq(
      recs.filter(_._3 < t1), recs.filter(x => x._3 >= t1 && x._3 < t2),
      recs.filter(_._3 >= t2))
    assert(run(byCuts) === want, "time-cut streamed fold diverged from the batch twin")
    // summary union commutes: arbitrary slicing folds to the same state
    val n = recs.length
    val arb = Seq(recs.slice(0, n / 7), recs.slice(n / 7, n / 3), recs.slice(n / 3, n))
    assert(run(arb) === want, "bottom-k fold must be invariant to micro-batch slicing")
    // idempotence: re-delivering a whole slice cannot move the sketch
    // (exact counters double-count replays; the KMV summary must not)
    val redeliver = Seq(recs.slice(0, n / 2), recs.slice(n / 2, n), recs.slice(0, n / 2))
    assert(run(redeliver) === want, "re-delivered slice must be a no-op on the sketch")
    // cross-key gate: the streamed sketch IS q44's sketch — estimates
    // must agree exactly on the same corpus
    val q44 = graft.operators.Relational.q44(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_est")).toMap
    val got = Streams.st20(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_est")).toMap
    assert(got === q44, "st20's maintained sketch diverged from q44's one-shot sketch")
  }
}
