package graft

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, Similarity}

class SimilaritySpec extends SparkSuite {

  test("s1 returns 3 ranked neighbors per query, cosine in [-1, 1]") {
    val r = Similarity.s1(spark, sf).collect()
    assert(r.length === 15) // 5 queries x top-3
    assert(r.forall(row => math.abs(row.getAs[Double]("cos")) <= 1.0))
    val byQ = r.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.values.forall(_.map(_.getAs[Long]("rk")).sorted.sameElements(Seq(1L, 2L, 3L))))
  }

  test("s2 LSH never returns a better-than-bruteforce neighbor (sanity)") {
    val s1top = Similarity.s1(spark, sf).filter(col("rk") === 1)
      .select(col("q_id"), col("cos").as("best")).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("best")).toMap
    val s2r = Similarity.s2(spark, sf).collect()
    assert(s2r.forall(r => r.getAs[Double]("cos") <= s1top(r.getAs[Long]("q_id")) + 1e-9))
  }

  test("s4 predicts a label from the candidate label domain for all 20 queries") {
    val labels = Tables.embeddings(spark, sf).select("label").distinct()
      .collect().map(_.getInt(0)).toSet
    val r = Similarity.s4(spark, sf).collect()
    assert(r.length === 20)
    assert(r.forall(row => labels.contains(row.getAs[Int]("pred_label"))))
    assert(r.forall(row => row.getAs[Long]("votes") >= 1 && row.getAs[Long]("votes") <= 5))
  }

  test("mm2 header decode: every payload parses to a known kind with dims in the generator range") {
    val r = Multimodal.mm2(spark, sf).collect()
    assert(r.length === 500)
    assert(r.forall { row =>
      Set("png", "jpeg", "gif")(row.getAs[String]("kind")) &&
        row.getAs[Int]("width") >= 64 && row.getAs[Int]("width") <= 127 &&
        row.getAs[Int]("height") >= 64 && row.getAs[Int]("height") <= 127
    })
  }

  test("s5 IVF search stays within the query's cell") {
    val r = Similarity.s5(spark, sf).collect()
    assert(r.nonEmpty)
    assert(r.forall(row => row.getAs[Long]("cell") >= 0 && row.getAs[Long]("cell") < 8))
    // results never beat brute force over the same corpus subset
    assert(r.forall(row => math.abs(row.getAs[Double]("cos")) <= 1.0))
  }

  test("multi-probe IVF with nprobe = |centroids| equals brute force") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") >= 8 && col("vec_id") < 13)
      .select(col("vec_id").as("id"), col("embedding"))
    val corpus = e.filter(col("vec_id") >= 13)
      .select(col("vec_id").as("id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 8).select(col("vec_id").as("id"), col("embedding"))
    val ivf = Similarity.ivfTopK(queries, corpus, cents, 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val brute = Similarity.cosineTopK(queries, corpus, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(ivf === brute)
    // nprobe=1 returns a subset of true top-k quality: never better than brute best
    val p1 = Similarity.ivfTopK(queries, corpus, cents, 3, nprobe = 1).collect()
    val best = brute.groupBy(_._1).map { case (q, s) => q -> s.map(_._4).max }
    assert(p1.forall(r => r.getDouble(3) <= best(r.getLong(0)) + 1e-9))
  }

  // Deterministic clustered corpus: `centers` directions, points =
  // center + bounded noise. Real embedding corpora are clustered; the
  // driver's embeddings table is isotropic noise (measured same-label
  // avg cos 0.001 vs cross-label 0.0), on which NO sublinear ANN can
  // have high recall — see PLANS.md "ANN recall conditions".
  private def clusteredCorpus(n: Int, dim: Int, centers: Int, noise: Double) =
    spark.range(n).select(col("id"), (col("id") % centers).as("c"))
      .select(col("id"),
        transform(sequence(lit(1), lit(dim)), d =>
          (sin(col("c") * 37 + d * 13) +
            sin(col("id") * 101 + d * 7) * noise).cast("float")).as("embedding"))

  test("multi-table multi-probe LSH: recall@3 >= 0.9 with 4096 buckets (12 planes)") {
    val all = clusteredCorpus(5050, 64, 20, 0.4).localCheckpoint()
    val queries = all.filter(col("id") < 50)
    val corpus = all.filter(col("id") >= 50)
    val truth = Similarity.cosineTopK(queries, corpus, 3)
      .select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.annTopK(queries, corpus, 3, planes = 12, probes = 4, tables = 2)
      .select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall@3 = $recall")
  }

  test("embeddings carry no null elements (LshDotsExpr's documented precondition)") {
    // the fused dots expression reads a null slot as 0.0 where the HOF
    // form would null the plane — out of contract, so the contract is
    // enforced here at the source corpus
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .foreach { dir =>
        val bad = Tables.embeddings(spark, dir)
          .filter(exists(col("embedding"), x => x.isNull)).count()
        assert(bad === 0L, s"$dir has embeddings with null elements")
      }
  }

  test("lshBucket spreads a corpus over many buckets (hyperplanes are independent)") {
    // regression for the separable-parity bug: the original sign
    // formula made every plane measure the SAME projection up to sign,
    // collapsing any corpus into exactly 2 buckets
    val e = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val n8 = e.select(Similarity.lshBucket(col("embedding"), 8).as("b")).distinct().count()
    val n12 = e.select(Similarity.lshBucket(col("embedding"), 12).as("b")).distinct().count()
    assert(n8 > 50, s"8-plane buckets: $n8")
    assert(n12 > n8, s"12 planes ($n12) should spread further than 8 ($n8)")
  }

  test("k-means IVF codebook: recall@3 >= 0.9 at nprobe=2 of 20 cells") {
    val all = clusteredCorpus(5050, 64, 20, 0.4).localCheckpoint()
    val queries = all.filter(col("id") < 50)
    val corpus = all.filter(col("id") >= 50)
    val codebook = Similarity.trainCodebook(corpus, k = 20, iters = 4)
    assert(codebook.count() === 20)
    val truth = Similarity.cosineTopK(queries, corpus, 3)
      .select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfTopK(queries, corpus, codebook, 3, nprobe = 2)
      .select("q_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall@3 = $recall (scanning ~2/20 of the corpus)")
  }

  test("custom graft_cosine expression is codegen'd into the plan and matches the fold") {
    import graft.functions.VectorFunctions
    val e = Tables.embeddings(spark, sf).limit(50)
    assert(spark.catalog.functionExists("graft_cosine"))
    val a = e.select(col("vec_id"), col("embedding").as("ea"))
    val b = e.select(col("vec_id"), col("embedding").as("eb"))
    val pairs = a.join(b, "vec_id")
    val fused = pairs.select(col("vec_id"),
      org.apache.spark.sql.functions.call_function("graft_cosine", col("ea"), col("eb")).as("c"))
    assert(fused.queryExecution.executedPlan.toString.contains("graft_cosine"))
    val fold = pairs.select(col("vec_id"), VectorFunctions.cosine(col("ea"), col("eb")).as("c"))
    val f1 = fused.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val f2 = fold.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(f1.keys == f2.keys)
    assert(f1.forall { case (k, v) => v == f2(k) }) // bit-identical, not approx
  }

  test("custom graft_unitnorm expression is codegen'd, matches the fold bit-for-bit, and NULLs zero-norm vectors") {
    import graft.functions.VectorFunctions
    val e = Tables.embeddings(spark, sf).limit(50)
    assert(spark.catalog.functionExists("graft_unitnorm"))
    val fused = e.select(col("vec_id"),
      org.apache.spark.sql.functions.call_function("graft_unitnorm", col("embedding")).as("ne"))
    assert(fused.queryExecution.executedPlan.toString.contains("graft_unitnorm"))
    // the historical interpreted fold: norm once, divide each element
    val fold = e.select(col("vec_id"), col("embedding"),
        VectorFunctions.norm(col("embedding")).as("__n"))
      .select(col("vec_id"), when(col("__n") > 0,
        transform(col("embedding"), x => x.cast("double") / col("__n"))).as("ne"))
    val f1 = fused.collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    val f2 = fold.collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(f1.keys == f2.keys)
    assert(f1.forall { case (k, v) => v == f2(k) }) // bit-identical, not approx
    // zero vector → NULL (the fold's filter(__n > 0) gate, as a value)
    import spark.implicits._
    val z = Seq((1L, Array(0f, 0f, 0f)), (2L, Array(3f, 0f, 4f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        org.apache.spark.sql.functions.call_function("graft_unitnorm", col("embedding")).as("ne"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(z(1L).isEmpty, "zero-norm vector must normalize to NULL")
    assert(z(2L).exists(_.asInstanceOf[scala.collection.Seq[Double]].toSeq == Seq(0.6, 0.0, 0.8)))
  }

  test("mm3 samples every 10th frame") {
    val r = Multimodal.mm3(spark, sf)
    assert(r.filter(col("frame_idx") % 10 =!= 0).count() === 0)
    assert(r.count() > 0)
  }

  test("mm6 shard plan partitions every blob and reports skew against the ideal") {
    val r = Multimodal.mm6(spark, sf).collect()
    assert(r.map(_.getAs[String]("shard")).forall(s => s.length == 1 && "0123456789abcdef".contains(s)))
    assert(r.map(_.getAs[Long]("n_blobs")).sum === Tables.documents(spark, sf).count())
    val skews = r.map(_.getAs[Double]("skew_vs_ideal"))
    // hash shards over 500 docs: every shard within a loose band of ideal
    assert(skews.forall(s => s > 0.0 && s < 4.0))
    // skew is normalized against total/16, so the skews sum to exactly 16
    assert(math.abs(skews.sum - 16.0) < 1e-9)
  }

  test("mm8 phash near-dup: identical payloads pair at Hamming 0; tiny payloads never bucket") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mm8").toString
    val twin = "the quick brown fox jumps over the lazy dog and runs far away"
    Seq(
      (1L, twin, "en", "web", twin.length.toLong),
      (2L, twin, "en", "web", twin.length.toLong),
      (3L, "abc", "en", "web", 3L),   // < one 4-gram: must not bucket
      (4L, "xy", "en", "web", 2L))    // would collide with 3 on phash 0
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Multimodal.mm8(spark, dir).collect()
      .map(row => row.getLong(0) ->
        ((if (row.isNullAt(2)) -1L else row.getLong(2),
          if (row.isNullAt(3)) -1L else row.getLong(3), row.getLong(4)))).toMap
    assert(r.keySet === Set(1L, 2L, 3L, 4L), "every payload reports exactly once")
    assert(r(1L) === ((2L, 0L, 1L)), "identical payload found at Hamming 0")
    assert(r(2L) === ((1L, 0L, 1L)), "the match is symmetric")
    assert(r(3L) === ((-1L, -1L, 0L)) && r(4L) === ((-1L, -1L, 0L)),
      "sub-gram payloads share phash 0 but must never pair")
    // corpus run: one row per doc, flags consistent, verify bound holds
    val full = Multimodal.mm8(spark, sf).collect()
    assert(full.length === Tables.documents(spark, sf).count().toInt)
    full.foreach { row =>
      val flagged = row.getLong(4) === 1L
      assert(row.isNullAt(2) !== flagged, "is_neardup iff a best match exists")
      if (flagged) assert(row.getLong(3) <= 3L, "candidates beyond Hamming 3 are rejected")
    }
  }

  test("s13 IVF recall audit: sound bounds, and recall equals a brute-force recount") {
    val rows = Similarity.s13(spark, sf).collect()
    assert(rows.length === 5, "queries 8..12 each report once")
    rows.foreach { r =>
      assert(r.getLong(1) === 3L, "exact top-3 baseline")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= r.getLong(1))
      assert(r.getLong(4) === r.getLong(3) * 1000000L / r.getLong(1))
    }
    // recount from the two constituent result sets
    val ex = Similarity.cosineTopK(
      Tables.embeddings(spark, sf).filter(col("vec_id") >= 8 && col("vec_id") < 13)
        .select(col("vec_id").as("id"), col("embedding")),
      Tables.embeddings(spark, sf).filter(col("vec_id") >= 13)
        .select(col("vec_id").as("id"), col("embedding")), 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val ann = Similarity.s5(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val wantHits = ex.groupBy(_._1).map { case (q, xs) =>
      q -> xs.count(ann.contains).toLong }
    assert(rows.map(r => r.getLong(0) -> r.getLong(3)).toMap === wantHits)
  }

  test("s12 kNN join: identical-vector clique finds itself at cos 1.0; hot-bucket cap silences") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-s12").toString
    val v = Array(0.6f, 0.8f, 0f, 0f)
    Seq((10L, v, 0), (11L, v, 0), (12L, v, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val clique = Similarity.s12(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(clique.length === 6, "each of 3 identical vectors reports the other 2")
    assert(clique.forall(_._4 === 1.0), "identical vectors score cosine 1.0")
    assert(clique.filter(_._1 == 10L).map(_._3).sorted.toSeq === Seq(11L, 12L),
      "rank ties break on candidate id")
    // hot-bucket cap: a 4-clique over maxBucket=2 contributes nothing
    val four = Seq((1L, v), (2L, v), (3L, v), (4L, v)).toDF("id", "embedding")
    assert(Similarity.knnJoinAll(four, k = 2, maxBucket = 2).count() === 0L,
      "oversized buckets must be dropped, not exploded")
    // and uncapped, the library form matches the clique semantics
    val lib = Similarity.knnJoinAll(four, k = 3).collect()
    assert(lib.length === 12 && lib.forall(_.getDouble(3) === 1.0))
    // corpus run: no self-matches, ranks contiguous from 1 per query
    val full = Similarity.s12(spark, sf).collect()
    assert(full.nonEmpty)
    assert(full.forall(r => r.getLong(0) != r.getLong(2)), "never a self-match")
    full.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq === (1L to rs.length).toSeq)
    }
    // cap audit: the same capped 4-clique that returned ZERO rows above
    // must be flagged per query — cap-depleted, not isolated
    val audit = Similarity.knnJoinCapAudit(four, maxBucket = 2).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_probes"),
        r.getAs[Long]("n_capped"), r.getAs[Boolean]("capped")))
    assert(audit.length === 4, "one audit row per query, even with zero join output")
    assert(audit.forall { case (_, np, nc, f) => np === 1L && nc === 1L && f },
      "every clique member probed exactly its one over-cap cell")
    // and with the default cap nothing is flagged
    val clear = Similarity.knnJoinCapAudit(four).collect()
    assert(clear.length === 4 && clear.forall(!_.getAs[Boolean]("capped")))
  }

  test("s14 dials dominate s12: table 0 replays s12's buckets, so every query's k-th cos improves or ties") {
    // s14's table 0 uses the SAME sized plane family at offset 0 as
    // s12, so s14's candidate set is a superset per query — its rank-r
    // cosine can never be worse. Recall strictly improves on this
    // corpus (full 3 neighbors for every vector).
    val s12r = Similarity.s12(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val s14r = Similarity.s14(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(s14r.size >= s12r.size, "dials can only add candidates")
    s12r.foreach { case ((q, rk), cos) =>
      assert(s14r.contains((q, rk)), s"query $q lost rank $rk with MORE candidates")
      assert(s14r((q, rk)) >= cos - 1e-9, s"query $q rank $rk cos degraded")
    }
    val n = Tables.embeddings(spark, sf).count()
    assert(s14r.size === 3 * n, "tables=2 x probes=1 recovers full top-3 on this corpus")
  }

  test("LshDotsExpr is bit-identical to the HOF fold (float + double arrays, offsets)") {
    import org.apache.spark.sql.functions.{transform => htransform, _}
    // the HOF reference formula, inlined (lshDots itself now routes to
    // the fused expression when extensions are installed)
    def hofDots(emb: org.apache.spark.sql.Column, planes: Int, off: Int) =
      htransform(sequence(lit(off), lit(off + planes - 1)), p =>
        aggregate(
          zip_with(emb, sequence(lit(1), size(emb)), (x, i) => {
            val v = (i * 1103515245L + p * 2654435761L + 12345L) % 2147483647L
            x.cast("double") * when(((v * 48271L) % 2147483647L) % 2 === 1, 1.0).otherwise(-1.0)
          }),
          lit(0.0), (acc, x) => acc + x))
    assert(spark.catalog.functionExists("graft_lsh_dots"),
      "test session must have GraftExtensions installed for this parity check")
    val e = Tables.embeddings(spark, sf)
      .withColumn("aug", concat(htransform(col("embedding"), x => x.cast("double")),
        array(lit(0.25))))
    val r = e.select(
      call_function("graft_lsh_dots", col("embedding"), lit(11), lit(7)).as("fused_f"),
      hofDots(col("embedding"), 11, 7).as("hof_f"),
      call_function("graft_lsh_dots", col("aug"), lit(5), lit(0)).as("fused_d"),
      hofDots(col("aug"), 5, 0).as("hof_d")).collect()
    r.foreach { row =>
      assert(row.getSeq[Double](0) === row.getSeq[Double](1), "float-array dots diverge")
      assert(row.getSeq[Double](2) === row.getSeq[Double](3), "double-array dots diverge")
    }
  }

  test("s15 MIPS-through-LSH: every hit's dp is the exact dot; ranks are dot-descending per query") {
    val exact = Similarity.s6(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // full exact dp map (not just top-3) for pair-level verification
    val e = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val vec = e.toMap
    def dp(a: Long, b: Long): Double =
      vec(a).zip(vec(b)).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val got = Similarity.s15(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.foreach { case (q, rk, cand, d) =>
      assert(d === r6(dp(q, cand)), s"($q,$cand) dp is not the exact inner product")
    }
    got.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2) === (1L to rs.length), "contiguous ranks")
      assert(sorted.map(_._4).reverse.sorted.reverse === sorted.map(_._4),
        "ranks descend by dot, not cosine")
    }
    // when a bucket holds an exact-top-3 winner, s15 must agree with s6
    got.foreach { case (q, rk, cand, d) =>
      exact.get((q, rk)).foreach { ed =>
        assert(d <= ed + 1e-9, "an LSH hit can never beat the exact rank-r dot")
      }
    }
  }

  test("sizedPlanes: smallest p with N/2^p <= target, monotone, clamped") {
    assert(Similarity.sizedPlanes(3) === 1)
    assert(Similarity.sizedPlanes(32) === 1,  "32 = 16*2^1 exactly: p=1 suffices")
    assert(Similarity.sizedPlanes(33) === 2)
    assert(Similarity.sizedPlanes(500) === 5)
    assert(Similarity.sizedPlanes(5000) === 9)
    assert(Similarity.sizedPlanes(Long.MaxValue / 4) === 20, "clamped at maxPlanes")
    val ps = Seq(10L, 100L, 1000L, 10000L, 100000L).map(Similarity.sizedPlanes(_))
    assert(ps === ps.sorted, "more data never means fewer planes")
    // expected bucket population stays <= target at every N
    Seq(10L, 500L, 5000L, 1000000L).foreach { n =>
      val p = Similarity.sizedPlanes(n)
      assert(n.toDouble / (1L << p) <= 16.0, s"N=$n planes=$p")
    }
  }

  test("s7 range search returns exactly the vectors inside the radius") {
    import spark.implicits._
    // hand-built geometry: query [1,0,0,0] against known-cosine corpus
    val dir = java.nio.file.Files.createTempDirectory("graft-s7").toString
    Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),   // query (vec_id < 5)
      (5L, Array(1f, 0f, 0f, 0f), 0),   // cos 1.0  → in
      (6L, Array(0f, 1f, 0f, 0f), 0),   // cos 0.0  → out
      (7L, Array(-1f, 0f, 0f, 0f), 0),  // cos -1.0 → out
      (8L, Array(0.6f, 0.8f, 0f, 0f), 0), // cos 0.6 → in
      (9L, Array(0.1f, 0.994987f, 0f, 0f), 0)) // cos ≈0.1 → out
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val r = Similarity.s7(spark, dir).collect()
      .map(x => x.getAs[Long]("cand_id") -> x.getAs[Double]("cos")).toMap
    assert(r.keySet === Set(5L, 8L))
    assert(r(5L) === 1.0)
    assert(math.abs(r(8L) - 0.6) < 1e-6)
  }

  test("s8 filtered top-k: every hit satisfies the predicate and equals brute force") {
    val got = Similarity.s8(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rk"), r.getAs[Long]("cand_id"), r.getAs[Double]("cos")))
    val labels = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    assert(got.forall { case (_, _, cand, _) => labels(cand) % 2 == 0 },
      "post-filter violation: a hit fails the predicate")
    // brute force over the filtered corpus
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Float]]("embedding").toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0; while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val qs = vecs.keys.filter(_ < 5).toSeq.sorted
    val cands = vecs.keys.filter(id => id >= 5 && labels(id) % 2 == 0).toSeq
    val want = qs.flatMap { q =>
      cands.map(c => (q, c, cos(vecs(q), vecs(c))))
        .sortBy { case (_, c, s) => (-s, c) }.take(3).zipWithIndex
        .map { case ((_, c, s), i) => (q, (i + 1).toLong, c, s) }
    }
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === want.map(t => (t._1, t._2, t._3)),
      "filtered top-k membership/order differs from brute force")
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._4 - w._4) <= 1e-6) }
  }

  test("s9 SQ8 codes are signed bytes of the normalized vector; zero vector codes to zeros") {
    import spark.implicits._
    val codes = Tables.embeddings(spark, sf)
      .select(Similarity.sq8Codes(col("embedding")).as("code"))
      .collect().map(_.getSeq[Long](0))
    assert(codes.nonEmpty)
    assert(codes.forall(_.forall(c => c >= -127 && c <= 127)),
      "codes must fit a signed byte")
    // codes of a unit-ish vector keep most of its direction: the
    // max-|code| dim is the max-|value| dim
    val zero = Seq(Seq.fill(4)(0.0f)).toDF("embedding")
      .select(Similarity.sq8Codes(col("embedding")).as("code"))
      .collect().head.getSeq[Long](0)
    assert(zero === Seq(0L, 0L, 0L, 0L), "zero vector must code to zeros, not NaN")
  }

  test("sq8RerankTopK never returns a zero-norm candidate (NaN would sort first)") {
    import spark.implicits._
    val corpus = Seq(
      (10L, Seq(0.0f, 0.0f, 0.0f)), // zero vector: cosine undefined
      (11L, Seq(1.0f, 0.0f, 0.0f)),
      (12L, Seq(0.0f, 1.0f, 0.0f)),
      (13L, Seq(0.6f, 0.8f, 0.0f))).toDF("id", "embedding")
    val queries = Seq((1L, Seq(1.0f, 0.1f, 0.0f))).toDF("id", "embedding")
    val r = Similarity.sq8RerankTopK(queries, corpus, 3, 4).collect()
    assert(r.length === 3)
    assert(!r.exists(_.getAs[Long]("cand_id") == 10L), "zero vector must be dropped")
    assert(r.forall(row => !row.getAs[Double]("cos").isNaN))
    assert(r.head.getAs[Long]("cand_id") === 11L, "nearest is the aligned axis vector")
  }

  test("s10 recall audit agrees with recomputing the s1/s2 intersection directly") {
    val ex = Similarity.s1(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")))
    val ann = Similarity.s2(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")))
    val annSet = ann.toSet
    val r = Similarity.s10(spark, sf).collect()
      .map(x => x.getAs[Long]("q_id") ->
        ((x.getAs[Long]("n_exact"), x.getAs[Long]("n_lsh"),
          x.getAs[Long]("n_hits"), x.getAs[Long]("recall_ppm"))))
      .toMap
    assert(r.keySet === ex.map(_._1).toSet, "one audit row per query")
    ex.groupBy(_._1).foreach { case (q, exPairs) =>
      val (nExact, nLsh, nHits, ppm) = r(q)
      assert(nExact === exPairs.size.toLong)
      assert(nLsh === ann.count(_._1 == q).toLong)
      assert(nHits === exPairs.count(annSet).toLong, s"q=$q hits")
      assert(nHits <= nExact && nHits <= nLsh)
      assert(ppm === nHits * 1000000L / nExact)
    }
  }

  test("s9 SQ8 rerank: recall@3 >= 0.9 vs exact, and every returned cos is the exact cosine") {
    val exact = Similarity.s1(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")) -> r.getAs[Double]("cos"))
      .toMap
    val got = Similarity.s9(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"), r.getAs[Double]("cos")))
    assert(got.length === 15)
    val hits = got.count { case (q, c, _) => exact.contains((q, c)) }
    assert(hits >= math.ceil(exact.size * 0.9).toInt,
      s"recall@3 ${hits.toDouble / exact.size} < 0.9 — coarse int-dot proxy degraded")
    // survivors are reranked EXACTLY: any pair s9 shares with s1 must
    // carry the identical (6dp) cosine
    got.foreach { case (q, c, cos) =>
      exact.get((q, c)).foreach(e => assert(cos === e, s"($q,$c) rerank not exact")) }
  }

  test("s11 PQ-ADC: full beam degenerates to exact brute force; C=96 beam recall >= 13/15") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.cosineAuto
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding"))
    val c = e.filter(col("vec_id") >= 16).select(col("vec_id").as("id"), col("embedding"))
    val cb = e.filter(col("vec_id") < 16).select(col("vec_id").as("id"), col("embedding"))
    val wK = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    val brute = broadcast(q.select(col("id").as("q_id"), col("embedding").as("qe")))
      .join(c.select(col("id").as("cand_id"), col("embedding").as("ce")))
      .withColumn("cos", cosineAuto(spark, col("qe"), col("ce")))
      .withColumn("rk", row_number().over(wK)).filter(col("rk") <= 3)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos"))
      .collect().map(_.toSeq).toSet
    // coarseC = |corpus| means the ADC pre-filter keeps everything and
    // the exact rerank IS brute force — the approximation is provably
    // confined to the beam
    val n = c.count().toInt
    val full = Similarity.pqAdcRerankTopK(q, c, cb, 3, n).collect().map(_.toSeq).toSet
    assert(full === brute)
    // default beam (C=12): 2-byte codes + table lookups must still
    // recover most of the exact top-3, and survivors carry EXACT cos
    val exactMap = brute.map(s => (s(0), s(2)) -> s(3)).toMap
    val got = Similarity.s11(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(got.length === 15)
    val hits = got.count { case (qq, cc, _) => exactMap.contains((qq, cc)) }
    info(s"PQ-ADC recall@3 at C=96: ${hits.toDouble / 15}")
    assert(hits >= 13, s"recall@3 ${hits.toDouble / 15} < 13/15 — ADC proxy degraded")
    got.foreach { case (qq, cc, cos) =>
      exactMap.get((qq, cc)).foreach(x => assert(cos === x, s"($qq,$cc) rerank not exact")) }
  }

  test("LongDotExpr equals the HOF integer fold on every sq8 code pair") {
    import org.apache.spark.sql.GraftSqlBridge.{columnOf, expression}
    val e = Tables.embeddings(spark, sf).limit(40)
      .select(col("vec_id"), Similarity.sq8Codes(col("embedding")).as("code"))
    val pairs = e.select(col("vec_id").as("a_id"), col("code").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("code").as("b")))
    val both = pairs
      .withColumn("hof", aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x))
      .withColumn("fused", columnOf(graft.plans.LongDotExpr(
        expression(col("a")), expression(col("b")))))
    assert(both.filter(col("hof") =!= col("fused")).count() === 0L)
    assert(both.filter(col("fused") =!= 0L).count() > 0L, "vacuous corpus")
  }

  test("fused PQ path is bit-identical to the composed path at tight, knee, and full beams") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding"))
    val c = e.filter(col("vec_id") >= 16).select(col("vec_id").as("id"), col("embedding"))
    val cb = e.filter(col("vec_id") < 16).select(col("vec_id").as("id"), col("embedding"))
    val beams = Seq(12, 24, 96, c.count().toInt)
    beams.foreach { beam =>
      val composed = Similarity.pqAdcRerankTopK(q, c, cb, 3, beam)
        .collect().map(_.toSeq).toSet
      val fused = Similarity.pqAdcRerankTopKFused(q, c, cb, 3, beam)
        .collect().map(_.toSeq).toSet
      assert(fused === composed, s"fused PQ diverged from composed at beam $beam")
    }
    // and the fused plan actually runs the codegen'd expressions
    val plan = Similarity.pqAdcRerankTopKFused(q, c, cb, 3, 24)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_pq_codes") && plan.contains("graft_pq_adc"),
      "fused path must plan through PqCodesExpr/PqAdcExpr")
  }

  test("s16 PQ recall audit: row invariants, beam-monotone hits, full beam reads exactly 1e6 ppm") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding"))
    val c = e.filter(col("vec_id") >= 16).select(col("vec_id").as("id"), col("embedding"))
    val cb = e.filter(col("vec_id") < 16).select(col("vec_id").as("id"), col("embedding"))
    val exact = Similarity.cosineTopK(q, c, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    def hitsAt(cC: Int): Map[Long, Int] = {
      val pq = Similarity.pqAdcRerankTopK(q, c, cb, 3, cC)
        .select(col("q_id"), col("cand_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.groupBy(_._1).map { case (k, v) => k -> v.count(pq.contains) }
    }
    // survivor sets are beam-NESTED (coarse top-C is a prefix of the ADC
    // order) and a global-top-3 member inside any survivor set always
    // reranks into the top 3 — so per-query hits must be monotone in C,
    // and the full beam must recover everything. A violation means the
    // ADC order or the rerank broke, not just a recall dip.
    val h12 = hitsAt(12); val h24 = hitsAt(24); val hFull = hitsAt(c.count().toInt)
    hFull.foreach { case (k, h) => assert(h === 3, s"full beam missed hits for q$k") }
    h12.foreach { case (k, h) => assert(h <= h24(k), s"q$k: hits dropped when beam grew") }
    // the registered audit row reports exactly hitsAt(24) in ppm
    val out = Similarity.s16(spark, sf).collect()
    assert(out.length === 5)
    out.foreach { r =>
      val (qid, nEx, nPq, nHits, ppm) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nEx === 3L && nPq === 3L, s"q$qid: audit sides must both be top-3")
      assert(nHits === h24(qid).toLong, s"q$qid: registered row disagrees with recompute")
      assert(ppm === nHits * 1000000L / 3L)
    }
  }

  test("PQ expressions reject short vectors loudly instead of reading out of bounds") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    import graft.plans.{PqAdcExpr, PqCodesExpr, PqDistTableExpr}
    val cb = Array.fill(2 * 4)(0.5) // kCw=2, m=2, subDim=2 → dim 4
    def arr(n: Int) = Literal.create(Array.fill(n)(1.0), ArrayType(DoubleType, false))
    // interpreted path: a 3-element vector into a dim-4 codebook
    val exCodes = intercept[IllegalArgumentException] {
      PqCodesExpr(arr(3), cb, 2, 2, 2).eval(null)
    }
    assert(exCodes.getMessage.contains("graft_pq"))
    intercept[IllegalArgumentException] {
      PqDistTableExpr(arr(3), cb, 2, 2, 2).eval(null)
    }
    // ADC: a table shorter than m*kCw
    intercept[IllegalArgumentException] {
      PqAdcExpr(Literal.create(Array(0, 1), ArrayType(IntegerType, false)),
        Literal.create(Array(0.1, 0.2, 0.3), ArrayType(DoubleType, false)), 2).eval(null)
    }
    // codegen path: the same short vector through a real plan
    import spark.implicits._
    import org.apache.spark.sql.GraftSqlBridge.{columnOf, expression}
    val df = Seq(Tuple1(Array(1.0, 2.0, 3.0))).toDF("v")
    val exec = intercept[Exception] {
      df.select(columnOf(PqCodesExpr(expression(col("v")), cb, 2, 2, 2))).collect()
    }
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    assert(causes(exec).exists(c => c.getMessage != null && c.getMessage.contains("graft_pq")),
      s"expected the dim guard in the failure chain, got: $exec")
    // valid dims still work end to end
    val ok = df.select(columnOf(PqCodesExpr(expression(col("v")),
      Array.fill(2 * 3)(0.5), 1, 3, 2)).as("codes")).collect()
    assert(ok.head.getSeq[Int](0).length === 1)
  }

  test("PQ expressions with equal-content codebooks canonicalize equal (CSE-able)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.plans.{PqCodesExpr, PqDistTableExpr}
    val cb = Array.tabulate(8)(_.toDouble)
    val lit = Literal.create(Array.fill(4)(1.0), ArrayType(DoubleType, false))
    // distinct array INSTANCES, equal content — must be semantically equal
    assert(PqCodesExpr(lit, cb, 2, 2, 2).semanticEquals(PqCodesExpr(lit, cb.clone(), 2, 2, 2)))
    assert(PqDistTableExpr(lit, cb, 2, 2, 2).semanticEquals(PqDistTableExpr(lit, cb.clone(), 2, 2, 2)))
    assert(PqCodesExpr(lit, cb, 2, 2, 2).hashCode === PqCodesExpr(lit, cb.clone(), 2, 2, 2).hashCode)
    // and different content must NOT be equal
    val cb2 = cb.clone(); cb2(0) = 99.0
    assert(!PqCodesExpr(lit, cb, 2, 2, 2).semanticEquals(PqCodesExpr(lit, cb2, 2, 2, 2)))
  }

  test("annAssign broadcast ceiling is byte-aware: rows x dim against the byte budget, not rows alone") {
    import Similarity.annBroadcastOk
    // the r16 hole: the row ceiling was derived from 64-dim rows, so a
    // high-dim codebook whose ROW count passed still got the hint
    assert(annBroadcastOk(4L << 20, 64), "4M rows at 64 dims (~1.4 GB) should fit")
    assert(!annBroadcastOk(4L << 20, 1024), "4M rows at 1024 dims (~16 GB) must NOT be hinted")
    assert(!annBroadcastOk(1L << 20, 4096), "1M rows passed the old row ceiling; 4096 dims (~16 GB) must not")
    assert(annBroadcastOk(1L << 20, 64), "a small-dim codebook keeps the hint at corpus-scale k")
    assert(annBroadcastOk(-1, 4096), "unknown rows keep the historical hint")
    assert(!annBroadcastOk(Similarity.AnnBroadcastMaxRows + 1), "unknown dim assumes AnnAssumedDim")
    // and the plan's hint follows the decision
    val base = Tables.embeddings(spark, sf)
      .filter(graft.functions.VectorFunctions.normSq(col("embedding")) > 0)
      .select(col("vec_id").as("id"), col("embedding"))
    val cents = Similarity.trainCodebook(base, k = 8, iters = 0,
        seedHash = id => pmod(id * 48271L + 11L, lit(2147483647L)))
      .select(col("id").as("cid"), col("embedding").as("cemb"))
    def hint(rows: Long, dim: Int) = Similarity
      .annAssign(base, cents, planes = 3, probes = 2, codebookRows = rows, dim = dim)
      .queryExecution.analyzed.toString.contains("ResolvedHint")
    assert(hint(1L << 20, 64), "row count over the dim-blind ceiling but under the byte budget: hint kept")
    assert(!hint(1L << 20, 4096), "same row count, high dim: hint dropped")
  }

  test("annAssign codebook broadcast is conditional: over-ceiling rows drop the hint, results unchanged") {
    val base = Tables.embeddings(spark, sf)
      .filter(graft.functions.VectorFunctions.normSq(col("embedding")) > 0)
      .select(col("vec_id").as("id"), col("embedding"))
    val cents = Similarity.trainCodebook(base, k = 8, iters = 1,
        seedHash = id => pmod(id * 48271L + 11L, lit(2147483647L)))
      .select(col("id").as("cid"), col("embedding").as("cemb"))
    val hinted = Similarity.annAssign(base, cents, planes = 3, probes = 2,
      codebookRows = 8L)
    val unhinted = Similarity.annAssign(base, cents, planes = 3, probes = 2,
      codebookRows = Similarity.AnnBroadcastMaxRows + 1)
    // the hint must actually come and go with the row count (the
    // planner may still CHOOSE broadcast from stats — that's the
    // point: degrade to planner choice, never hard-require the hint)
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(!unhinted.queryExecution.analyzed.toString.contains("ResolvedHint"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cell")).orderBy(col("id")).collect().toSeq
    assert(rows(unhinted) === rows(hinted), "assignment moved with the join strategy")
  }

  test("s18 learned PQ: spherical codebooks are unit-norm, K uniform, and beat the first-16 stand-in at the same beam (r17 directive 3's done-bar)") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sf)
    val seedHash = (id: org.apache.spark.sql.Column) =>
      pmod(id * 48271L + 11L, lit(2147483647L))
    // the registered corpus split
    val corpusReg = e.filter(col("vec_id") >= 16)
      .select(col("vec_id").as("id"), col("embedding"))
    val cents = Similarity.trainPqCodebooks(corpusReg, 8, 8,
      Similarity.PqLearnK, Similarity.PqLearnIters, seedHash).collect()
    // K uniform per subspace (the flat layout's requirement) and every
    // codeword on the unit sphere (the spherical invariant)
    val perSub = cents.groupBy(_.getAs[Int]("s")).view.mapValues(_.length).toMap
    assert(perSub.keySet === (0 until 8).toSet)
    assert(perSub.values.forall(_ === Similarity.PqLearnK))
    cents.foreach { r =>
      val cw = r.getSeq[Double](2)
      assert(cw.length === 8)
      val n = math.sqrt(cw.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"codeword norm $n off the sphere")
    }
    // trained codewords genuinely moved off the seeds (learning happened)
    val cents0 = Similarity.trainPqCodebooks(corpusReg, 8, 8,
      Similarity.PqLearnK, 0, seedHash).collect()
      .map(r => (r.getAs[Int]("s"), r.getAs[Long]("cid")) -> r.getSeq[Double](2)).toMap
    val moved = cents.count { r =>
      cents0((r.getAs[Int]("s"), r.getAs[Long]("cid"))) != r.getSeq[Double](2) }
    assert(moved > cents.length / 2, s"only $moved of ${cents.length} codewords moved")
    // recall A/B on a 60-query held-out split (the registered 5-query
    // audit is 15-slot noise — PLANS.md "learned PQ" measured it): learned
    // must beat the stand-in at the same C=24 beam
    val q = e.filter(col("vec_id") >= 16 && col("vec_id") % 8 === 0)
      .orderBy(col("vec_id")).limit(60)
      .select(col("vec_id").as("id"), col("embedding"))
    val corpus = e.filter(col("vec_id") >= 16 && col("vec_id") % 8 =!= 0)
      .select(col("vec_id").as("id"), col("embedding"))
    val ex = Similarity.cosineTopK(q, corpus, 3).select(col("q_id"), col("cand_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(pq: org.apache.spark.sql.DataFrame): Int = {
      val got = pq.select(col("q_id"), col("cand_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ex.count(got.contains)
    }
    val standIn = hits(Similarity.pqAdcRerankTopKFused(q, corpus,
      e.filter(col("vec_id") < 16).select(col("vec_id").as("id"), col("embedding")),
      3, 24))
    val learnedCents = Similarity.trainPqCodebooks(corpus, 8, 8,
      Similarity.PqLearnK, Similarity.PqLearnIters, seedHash)
    val flat = Similarity.flattenPqCodebooks(learnedCents, 8, 8, Similarity.PqLearnK)
    val learned = hits(Similarity.pqAdcRerankTopKFlat(q, corpus, flat,
      Similarity.PqLearnK, 3, 24, 8, 8))
    assert(learned > standIn,
      s"learned codebook recall $learned/${ex.size} did not beat stand-in $standIn/${ex.size}")
  }

  test("s19 hybrid RRF: per-query top-5 with exact reciprocal-rank arithmetic, both modalities consulted, dual-list consensus wins") {
    import graft.operators.Similarity
    val out = Similarity.s19(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 5L).toSet)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to 5L),
        s"query $q: ranks not 1..5")
      // rrf is EXACTLY the recomputed reciprocal sum of the two ranks
      rows.foreach { r =>
        val l = Option(r.getAs[java.lang.Long]("lex_rank")).map(_.toLong)
        val v = Option(r.getAs[java.lang.Long]("vec_rank")).map(_.toLong)
        assert(l.isDefined || v.isDefined)
        val want = BigDecimal(l.map(x => 1.0 / (60L + x)).getOrElse(0.0) +
          v.map(x => 1.0 / (60L + x)).getOrElse(0.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getAs[Double]("rrf") === want, s"query $q cand ${r.getLong(1)}")
      }
      // rrf non-increasing down the ranking
      val rrfs = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("rrf"))
      assert(rrfs.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
    // the fusion genuinely consults BOTH lists: lex-only and vec-only
    // survivors exist, and some dual-list candidate out-fuses a rank-1
    // single-list one (1/(60+l) + 1/(60+v) > 1/61 whenever both ranks
    // are on the list — consensus beats any single opinion)
    def lexOnly(r: org.apache.spark.sql.Row) = r.get(3) == null && r.get(2) != null
    def vecOnly(r: org.apache.spark.sql.Row) = r.get(2) == null && r.get(3) != null
    def dual(r: org.apache.spark.sql.Row) = r.get(2) != null && r.get(3) != null
    assert(out.exists(lexOnly) && out.exists(vecOnly), "one modality never surfaced")
    assert(out.exists(dual), "no dual-list candidate at this SF")
    // min dual rrf = 2/(60+20) = 0.025 > max single rrf = 1/61 — so
    // within a query every dual-list survivor ranks above every
    // single-list one
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      val firstSingle = sorted.indexWhere(r => !dual(r))
      if (firstSingle >= 0)
        assert(sorted.drop(firstSingle).forall(r => !dual(r)),
          "a dual-list candidate ranked below a single-list one")
    }
  }

  test("s18 training-sample cap: capped training == training on the explicit smallest-hash subset, and the default cap is a no-op at gate SFs") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sf)
    val seedHash = (id: org.apache.spark.sql.Column) =>
      pmod(id * 48271L + 11L, lit(2147483647L))
    val corpus = e.filter(col("vec_id") >= 16)
      .select(col("vec_id").as("id"), col("embedding"))
    def cb(df: org.apache.spark.sql.DataFrame, cap: Int) =
      Similarity.trainPqCodebooks(df, 8, 8, Similarity.PqLearnK,
          Similarity.PqLearnIters, seedHash, sampleCap = cap).collect()
        .map(r => (r.getAs[Int]("s"), r.getAs[Long]("cid")) -> r.getSeq[Double](2)).toMap
    // the cap's CONTRACT: train(corpus, cap=50) is exactly
    // train(the 50 smallest-(hash,id) vectors, uncapped) — the
    // oracle twin's `tr` rank filter replays this same rank
    val subset50 = corpus
      .withColumn("__h", seedHash(col("id")))
      .orderBy(col("__h"), col("id")).limit(50)
      .drop("__h")
    assert(cb(corpus, 50) === cb(subset50, Int.MaxValue),
      "capped training diverged from the explicit smallest-hash subset")
    // and the DEFAULT cap binds nowhere at the gated SFs (corpus is
    // far under 4096 vectors) — s18's oracle results are cap-invariant
    assert(cb(corpus, Similarity.PqTrainSampleCap) === cb(corpus, Int.MaxValue),
      "default cap changed gate-SF training — it must be the identity there")
  }
}
