package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions.P
import graft.functions.VectorFunctions._
import graft.Config.CutOps

/** F-family: similarity search over `embeddings` (SURVEY.md §2.F).
  *
  * Brute-force top-k (s1) broadcasts the small query side — the right
  * plan when |queries| ≪ |corpus| (map-side compute, per-partition
  * top-k, single-reduce merge). The 100 TB path is s2: bucket vectors
  * with random-hyperplane LSH and only score within buckets — the
  * cross join disappears entirely.
  */
object Similarity {

  /** Library API: brute-force cosine top-k of `queries` against
    * `corpus` (both with (id, embedding)). Queries are broadcast. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val pairs = broadcast(queries.select(col("id").as("q_id"), col("embedding").as("qe")))
      .join(corpus.select(col("id").as("cand_id"), col("embedding").as("ce")))
      .withColumn("cos", cosineAuto(queries.sparkSession, col("qe"), col("ce")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("cand_id"), round(col("cos"), 6).as("cos"))
  }

  // -------------------------------------------------------------------
  // s1: brute-force cosine top-3 — 5 query vectors vs the rest.
  def s1(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    cosineTopK(
      e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
      e.filter(col("vec_id") >= 5).select(col("vec_id").as("id"), col("embedding")),
      3)
      .orderBy(col("q_id"), col("rk"))
  }

  val s1Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""WITH pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id, $cos AS cos
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id < 5 AND c.vec_id >= 5
       |), ranked AS (
       |  SELECT q_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |  FROM pairs)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, cand_id, round(cos, 6) AS cos
       |FROM ranked WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  // -------------------------------------------------------------------
  // s2 (rows-only): LSH-bucketed ANN. 8 deterministic pseudo-random
  // hyperplanes (sign of an integer hash per (dim, plane)); vectors
  // hash to an 8-bit bucket; scoring happens ONLY within a bucket —
  // the plan is a hash join on bucket, linear in corpus size. Recall
  // is tunable via planes/probes; the spec checks bucket-mates rank
  // identically to brute force.
  /** Pseudo-random ±1 per (dim, plane). The linear value is passed
    * through a second multiplicative step mod P (Lehmer-RNG style)
    * before taking parity: parity of a plain linear form
    * (i·A + p·B) mod P is separable into parity(i)⊕parity(p), which
    * makes every plane measure the SAME projection up to sign —
    * 2 effective buckets no matter how many planes (the round-1 bug).
    * The extra multiply makes the quotient, and hence the parity,
    * depend jointly on (i, p). Max intermediate ≈ P·48271 ≈ 1e14,
    * comfortably inside BIGINT in both engines. */
  private def hpSignC(dim: Column, plane: Column): Column = {
    val v = (dim * 1103515245L + plane * 2654435761L + 12345L) % P
    when(((v * 48271L) % P) % 2 === 1, 1.0).otherwise(-1.0)
  }

  /** Signed hyperplane dot products, one per plane — the raw signal
    * behind both the bucket id and multi-probe plane confidence.
    * `planeOffset` selects an independent hyperplane family per hash
    * table (table t uses planes [t·planes, (t+1)·planes)).
    *
    * Always the fused codegen'd expression
    * (graft.plans.LshDotsExpr — one planes×dims primitive loop, zero
    * lambda dispatch), which computes the identical double sequence
    * (same sign arithmetic via [[hpSignC]]'s formulas, same
    * ascending-dimension accumulation) as the historical HOF fold. */
  def lshDots(emb: Column, planes: Int, planeOffset: Int = 0): Column =
    // ALWAYS the fused expression, constructed directly (round-10
    // ADVICE): routing on getActiveSession at Column-construction time
    // tied the plan to ambient thread-local state and broke analysis
    // when a Column crossed sessions. LshDotsExpr resolves on any
    // session; SimilaritySpec keeps the HOF reference inlined and
    // asserts the double sequences are bit-identical.
    org.apache.spark.sql.GraftSqlBridge.columnOf(
      graft.plans.LshDotsExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(emb), planes, planeOffset))

  /** Bucket id from the dots array: bit p set iff dot_p > 0. The
    * reversed fold makes plane 0 the LSB, identical to the historical
    * 8-plane formulation (and lshBucketSql). */
  private def bucketFromDots(dots: Column): Column =
    aggregate(reverse(dots), lit(0L),
      (acc, d) => acc * 2 + when(d > 0, 1L).otherwise(0L))

  /** Random-hyperplane LSH bucket over `planes` hyperplanes (2^planes
    * buckets). More planes = smaller buckets = cheaper within-bucket
    * scoring but lower single-probe recall — pair with multi-probe. */
  def lshBucket(emb: Column, planes: Int = 8, planeOffset: Int = 0): Column = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
    bucketFromDots(lshDots(emb, planes, planeOffset))
  }

  /** Multi-probe bucket list: the exact bucket plus `probes` variants
    * with the LEAST-CONFIDENT plane bits flipped (smallest |dot| — the
    * planes most likely to disagree for a true neighbor just across
    * the boundary). Classic multi-probe LSH: recall of many-bucket
    * tables without extra hash tables. */
  def lshProbeBuckets(emb: Column, planes: Int, probes: Int,
      planeOffset: Int = 0): Column = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
    require(probes >= 0 && probes <= planes, s"probes must be in [0, planes], got $probes")
    val dots = lshDots(emb, planes, planeOffset)
    val bucket = bucketFromDots(dots)
    val order = transform(
      array_sort(zip_with(dots, sequence(lit(0), lit(planes - 1)),
        (d, p) => struct(abs(d).as("a"), p.as("p")))),
      s => s.getField("p"))
    val pows = array((0 until planes).map(p => lit(1L << p)): _*)
    concat(array(bucket),
      transform(slice(order, 1, probes),
        p => bucket.bitwiseXOR(element_at(pows, p + 1))))
  }

  /** Library API: bucketed ANN top-k — `tables` independent hash
    * tables (OR-construction) × multi-probe per table. Corpus vectors
    * hash to one bucket PER TABLE (storage ×tables, the standard LSH
    * trade); each query probes its bucket plus `probes`
    * least-confident flips in every table. Scoring is a hash join on
    * (table, bucket) — the 100 TB shape: candidates per query ≈
    * tables·(probes+1)·|corpus|/2^planes, tunable without touching
    * the corpus layout. Recall on clustered data ≈
    * 1-(1-p^planes)^(tables·(probes+1)) for per-plane agreement p. */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 8, probes: Int = 0, tables: Int = 1): DataFrame = {
    val s = queries.sparkSession
    val c = corpus.select(col("id").as("cand_id"), col("embedding").as("ce"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          lshBucket(col("embedding"), planes, t * planes).as("bucket"))): _*)).as("tb"))
      .select(col("cand_id"), col("ce"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = queries.select(col("id").as("q_id"), col("embedding").as("qe"),
      explode(flatten(array((0 until tables).map(t =>
        transform(lshProbeBuckets(col("embedding"), planes, probes, t * planes),
          b => struct(lit(t).as("tbl"), b.as("bucket")))): _*))).as("tb"))
      .select(col("q_id"), col("qe"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    broadcast(q).join(c, Seq("tbl", "bucket"))
      .select(col("q_id"), col("qe"), col("cand_id"), col("ce")).distinct() // tables/probes can hit a candidate twice
      .withColumn("cos", cosineAuto(s, col("qe"), col("ce")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Library API: distributed Lloyd k-means codebook for IVF (the
    * learned replacement for s5's deterministic first-k seed).
    * Deterministic: init = the k vectors with the smallest
    * seedHash(id) (a seeded uniform sample; default xxhash64 —
    * override with a portable integer hash like d15's
    * `(id·48271 + 11) mod P` when a cross-engine oracle must pick the
    * SAME seeds), assignment ties break on smallest cell id. Each
    * iteration is one broadcast join + two aggregations — no driver
    * round-trips, no window over the corpus (assignment is max_by,
    * map-side combinable). Returns (id, embedding) centroid rows for
    * `ivfTopK`. */
  def trainCodebook(corpus: DataFrame, k: Int, iters: Int = 5,
      seedHash: Column => Column = xxhash64(_),
      // Some(radius): ANN-ASSISTED iterations ([[annAssign]] at that
      // Hamming probe radius, planes = sizedPlanes(k, 8)) — the dial
      // that keeps a corpus-sized k
      // (sizedCells) trainable: per-point candidates stay ~constant
      // instead of k. Unassigned points (probe-bucket miss) simply
      // don't pull centroids that round. None = exact assignment.
      annProbes: Option[Int] = None,
      // Embedding dim when the caller knows it — feeds the broadcast
      // byte decision ([[annBroadcastOk]]); -1 assumes [[AnnAssumedDim]].
      dim: Int = -1): DataFrame = {
    val s = corpus.sparkSession
    var cents = corpus.select(col("id"), col("embedding"))
      .withColumn("__h", seedHash(col("id")))
      .orderBy(col("__h"), col("id")).limit(k)
      .withColumn("cid",
        row_number().over(Window.orderBy(col("__h"), col("id"))).cast("long") - 1)
      .select(col("cid"), col("embedding").as("cemb"))
      .cutLineage()
    val annPlanes = sizedPlanes(k.toLong, 8)
    for (_ <- 1 to iters) {
      val assigned = annProbes match {
        case Some(pr) =>
          annAssign(corpus.select(col("id"), col("embedding")), cents, annPlanes, pr,
              codebookRows = k.toLong, dim = dim)
            .filter(col("cell") >= 0)
            .select(col("id"), col("cell").as("cid"), col("embedding"))
        case None => corpus.select(col("id"), col("embedding"))
          .join(broadcast(cents))
          .withColumn("ccos", cosineAuto(s, col("embedding"), col("cemb")))
          .groupBy(col("id"))
          .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"),
            first(col("embedding")).as("embedding"))
      }
      cents = assigned
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        // decimal sum → one double division: partition-order-free means
        // (plain avg(double) drifts with partial-agg order, which could
        // flip near-tie assignments between runs)
        .agg((sum(col("x").cast("double").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m").cast("float")).as("cemb"))
        .cutLineage()
    }
    cents.select(col("cid").as("id"), col("cemb").as("embedding"))
  }

  /** Library API: ANN-ASSISTED nearest-centroid assignment — the step
    * that makes a corpus-sized codebook affordable. Exact assignment
    * is |points|·k cosines per pass, so k = N/target makes k-means
    * training N²/target (measured 17.4× wall at ×10 when d15 tried
    * it); here the CENTROIDS bucket by sized-plane LSH and each point
    * scores only the centroids within HAMMING RADIUS `probes` of its
    * own bucket. `probes` is a radius, not a flip count (re-dialed in
    * round 11 after d18's audit measured the 2-least-confident-flip
    * form at 484,375 ppm dup-recall on sf0.1 — single-bit probing
    * covers (probes+1)/2^planes of the space and collapses as planes
    * grow): radius 0 = the exact bucket, 1 = + all single-bit flips,
    * 2 = + all double-bit flips — 1 + p + p(p−1)/2 buckets, so
    * expected candidates per point ≈ (1 + p + p(p−1)/2)·targetBucket
    * = O(log²k) under the sizedPlanes rule (vs k for exact: still
    * exponentially cheaper, and measured 875,000 ppm dup-recall on
    * the same audit). Deterministic: best candidate by (cos DESC,
    * cid ASC), exactly the exact assignment's tie rule; a point whose
    * probe buckets hold NO centroid assigns to cell −2 (the
    * conservative unassigned bucket — a semantic-dedup caller keeps
    * those rows). Returns (id, embedding, cell). */
  def annAssign(points: DataFrame, cents: DataFrame,
      planes: Int, probes: Int = 2,
      // Codebook row count when the caller knows it (it always does —
      // it is k). The broadcast hint is only correct while the codebook
      // fits the broadcast limits; above the [[AnnBroadcastMaxBytes]]
      // budget (rows × [[annCodebookRowBytes]](dim)) the hint is
      // OMITTED and the planner falls back to a shuffle join — slower,
      // but it degrades instead of hard-failing at the 8 GB broadcast
      // / driver-memory wall. Negative rows = unknown → hint kept
      // (the historical behavior; every library caller passes k).
      codebookRows: Long = -1L,
      // Embedding dim for the byte estimate; unknown (-1) assumes
      // [[AnnAssumedDim]] — conservative, see its Scaladoc.
      dim: Int = -1): DataFrame = {
    val s = points.sparkSession
    require(probes >= 0 && probes <= 2, s"probes is a Hamming radius in [0, 2], got $probes")
    // planes is a plan-time Int, so the flip-mask set is a literal
    // array: [0] ++ single-bit ++ double-bit masks (all distinct —
    // no dedup join needed). The probe list stays codegen'd.
    val masks: Seq[Long] = Seq(0L) ++
      (if (probes >= 1) (0 until planes).map(p => 1L << p) else Seq.empty) ++
      (if (probes >= 2) for { q <- 1 until planes; p <- 0 until q }
        yield (1L << p) | (1L << q)
      else Seq.empty)
    // The codebook side is USUALLY the small one (k centroids vs the
    // corpus) — hint the broadcast so the probe join never shuffles
    // the exploded point rows (each carries its embedding ×
    // probe-bucket fan-out; an SMJ here shuffles that whole volume
    // once per Lloyd iteration). But "usually" is not "always": k is
    // sized to the corpus (sizedCells caps at 2^20 — safely under the
    // rows cap — but a caller can pass any k), and a forced broadcast
    // above the 8 GB / driver-memory wall hard-fails where the
    // planner's own choice would degrade to a shuffle join. So the
    // hint is conditional on the caller-supplied row count.
    val cbCols = cents.select(col("cid"), col("cemb"),
      lshBucket(col("cemb"), planes).as("__bucket"))
    val cb = if (annBroadcastOk(codebookRows, dim)) broadcast(cbCols) else cbCols
    val pb = points
      .select(col("id"), col("embedding"),
        lshBucket(col("embedding"), planes).as("__b0")) // hashed ONCE per point
      .select(col("id"), col("embedding"),
        explode(array(masks.map(m => col("__b0").bitwiseXOR(lit(m))): _*)).as("__bucket"))
    // Best candidate via max_by, NOT a row_number window: the window
    // shuffled EVERY (point, candidate-centroid) row — O(points ·
    // probeBuckets · bucketOccupancy) rows through one exchange, the
    // dominant term of the Lloyd loop at ×100 — where max_by's
    // partial aggregation reduces each map task to one row per point
    // before the shuffle. Tie rule identical to the exact path:
    // highest cos, then smallest cid (max over (cos, −cid) is
    // order-free — no FP accumulation, just pairwise comparison).
    val best = pb.join(cb, Seq("__bucket"))
      .withColumn("__ccos", cosineAuto(s, col("embedding"), col("cemb")))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("__ccos"), -col("cid"))).as("cell"))
    points.select(col("id"), col("embedding"))
      .join(best, Seq("id"), "left")
      .withColumn("cell", coalesce(col("cell"), lit(-2L)))
  }

  def s2(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).withColumn("bucket", lshBucket(col("embedding")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("bucket"))
    val c = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("bucket"))
    val pairs = broadcast(q).join(c, Seq("bucket"))
      .withColumn("cos", cosineAuto(s, col("qe"), col("ce")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("q_id"), col("bucket"), col("rk").cast("long").as("rk"),
        col("cand_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("q_id"), col("rk"))
  }

  // -------------------------------------------------------------------
  // s3: vector stats per label — count, mean norm, centroid norm.
  // Norms are map-side; the centroid is a posexplode + two-level agg
  // (64·|labels| intermediate rows). Decimal casts keep the sums
  // order-independent (§6.1).
  def s3(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val perLabel = e
      .withColumn("nrm", norm(col("embedding")).cast("decimal(28,12)"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("nrm")).cast("double") / count(lit(1)), 6).as("avg_norm"))
    val centroids = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x").cast("double").cast("decimal(28,12)")).cast("double").as("s"))
      .groupBy(col("label"))
      .agg(sum(col("s") * col("s")).as("ssq"))
    perLabel.join(centroids, Seq("label"))
      .select(col("label"), col("n_vecs"), col("avg_norm"),
        round(sqrt(col("ssq")) / col("n_vecs"), 6).as("centroid_norm"))
      .orderBy(col("label"))
  }

  val s3Sql: String =
    s"""WITH norms AS (
       |  SELECT label, CAST(sqrt(${normSqSql("embedding")}) AS DECIMAL(28,12)) AS nrm
       |  FROM embeddings
       |), per_label AS (
       |  SELECT label, count(*) AS n_vecs,
       |    round(CAST(sum(nrm) AS DOUBLE)/count(*), 6) AS avg_norm
       |  FROM norms GROUP BY label
       |), dims AS (
       |  SELECT label, i,
       |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS s
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
       |  GROUP BY label, i
       |), cents AS (SELECT label, sum(s*s) AS ssq FROM dims GROUP BY label)
       |SELECT p.label AS label, p.n_vecs AS n_vecs, p.avg_norm AS avg_norm,
       |  round(sqrt(c.ssq)/p.n_vecs, 6) AS centroid_norm
       |FROM per_label p JOIN cents c ON p.label = c.label
       |ORDER BY label""".stripMargin

  // -------------------------------------------------------------------
  // s4: k-NN classification — 20 query vectors, 5 nearest neighbors
  // among the rest, majority vote (ties → smallest label). The vote is
  // a second tiny aggregation over the top-k pairs.
  def s4(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("label").as("true_label"))
    val c = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("label").as("cand_label"))
    val pairs = broadcast(q).join(c)
      .withColumn("cos", cosineAuto(s, col("qe"), col("ce")))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    val votes = pairs.withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 5)
      .groupBy(col("q_id"), col("true_label"), col("cand_label"))
      .agg(count(lit(1)).as("votes"))
    val wVote = Window.partitionBy(col("q_id")).orderBy(col("votes").desc, col("cand_label"))
    votes.withColumn("vr", row_number().over(wVote)).filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"), col("cand_label").as("pred_label"), col("votes"))
      .orderBy(col("q_id"))
  }

  val s4Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""WITH pairs AS (
       |  SELECT q.vec_id AS q_id, q.label AS true_label,
       |         c.vec_id AS cand_id, c.label AS cand_label, $cos AS cos
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id < 20 AND c.vec_id >= 20
       |), top5 AS (
       |  SELECT * FROM (
       |    SELECT q_id, true_label, cand_label,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |    FROM pairs) WHERE rk <= 5
       |), votes AS (
       |  SELECT q_id, true_label, cand_label, count(*) AS votes
       |  FROM top5 GROUP BY q_id, true_label, cand_label)
       |SELECT q_id, true_label, cand_label AS pred_label, votes FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, cand_label) AS vr
       |  FROM votes) WHERE vr = 1
       |ORDER BY q_id""".stripMargin
  }

  /** Library API: multi-probe IVF top-k. Corpus vectors live in their
    * single nearest-centroid cell; each QUERY probes its `nprobe`
    * nearest cells. nprobe trades recall for cost: cells scanned scale
    * as nprobe/|centroids| of the corpus; nprobe = |centroids| is
    * exactly brute force (the spec asserts this). All inputs are
    * (id, embedding) frames; centroids are broadcast. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val s = queries.sparkSession
    val cents = broadcast(centroids.select(col("id").as("cid"), col("embedding").as("cemb")))
    def cells(df: DataFrame, idc: String, embc: String, n: Int) = {
      val w = Window.partitionBy(col(idc)).orderBy(col("ccos").desc, col("cid"))
      df.join(cents)
        .withColumn("ccos", cosineAuto(s, col(embc), col("cemb")))
        .withColumn("crk", row_number().over(w)).filter(col("crk") <= n)
        .select(col(idc), col(embc), col("cid").as("cell"))
    }
    val corpusCells = cells(corpus.select(col("id").as("cand_id"), col("embedding").as("ce")),
      "cand_id", "ce", 1)
    val queryCells = cells(queries.select(col("id").as("q_id"), col("embedding").as("qe")),
      "q_id", "qe", nprobe)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    broadcast(queryCells).join(corpusCells, Seq("cell"))
      .withColumn("cos", cosineAuto(s, col("qe"), col("ce")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos"))
  }

  // -------------------------------------------------------------------
  // s5: IVF-style ANN — a coarse quantizer (centroids = the first 8
  // vectors, the deterministic stand-in for a k-means codebook)
  // assigns every vector to its nearest cell; queries search ONLY
  // their own cell (nprobe=1). The assignment pass is a broadcast
  // nested-loop over 8 centroids (map-side); search cost drops from
  // O(N) to O(N/cells) per query — the scale path when LSH recall
  // isn't enough.
  def s5(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    def assign(df: DataFrame, idc: String, embc: String) = {
      val w = Window.partitionBy(col(idc)).orderBy(col("ccos").desc, col("cid"))
      df.join(broadcast(cents))
        .withColumn("ccos", cosineAuto(s, col(embc), col("cemb")))
        .withColumn("crk", row_number().over(w)).filter(col("crk") === 1)
        .select(col(idc), col(embc), col("cid").as("cell"))
    }
    val corpus = assign(
      e.filter(col("vec_id") >= 13).select(col("vec_id").as("cand_id"), col("embedding").as("ce")),
      "cand_id", "ce")
    val queries = assign(
      e.filter(col("vec_id") >= 8 && col("vec_id") < 13)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe")),
      "q_id", "qe")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    broadcast(queries).join(corpus, Seq("cell"))
      .withColumn("cos", cosineAuto(s, col("qe"), col("ce")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("q_id"), col("cell"), col("rk").cast("long").as("rk"),
        col("cand_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("q_id"), col("rk"))
  }

  val s5Sql: String = {
    val qcos = cosineSql("v.embedding", "c.embedding")
    val cos = cosineSql("q.qe", "t.ce")
    s"""WITH cents AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 8),
       |assigned AS (
       |  SELECT * FROM (
       |    SELECT v.vec_id, v.embedding, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY $qcos DESC, c.cid) AS crk
       |    FROM embeddings v, cents c)
       |  WHERE crk = 1),
       |corpus AS (SELECT vec_id AS cand_id, embedding AS ce, cid AS cell
       |           FROM assigned WHERE vec_id >= 13),
       |queries AS (SELECT vec_id AS q_id, embedding AS qe, cid AS cell
       |            FROM assigned WHERE vec_id >= 8 AND vec_id < 13),
       |pairs AS (
       |  SELECT q.q_id, q.cell, t.cand_id, $cos AS cos
       |  FROM queries q JOIN corpus t USING (cell))
       |SELECT q_id, cell, CAST(rk AS BIGINT) AS rk, cand_id, round(cos, 6) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |  FROM pairs)
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  /** SQL twin of lshBucket: same integer-arithmetic hyperplane signs,
    * same ascending-index dot fold — bit-identical bucket ids. */
  def lshBucketSql(e: String, planes: Int = 8): String =
    (0 until planes).map { p =>
      val sgn = s"(CASE WHEN ((((i*1103515245 + $p*2654435761 + 12345) % $P) * 48271) % $P) % 2 = 1 THEN 1.0 ELSE -1.0 END)"
      s"(CASE WHEN list_sum(list_transform(generate_series(1, len($e)), i -> CAST(($e)[i] AS DOUBLE) * $sgn)) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  val s2Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""WITH b AS (SELECT vec_id, embedding, CAST(${lshBucketSql("embedding")} AS BIGINT) AS bucket FROM embeddings),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, q.bucket AS bucket, c.vec_id AS cand_id, $cos AS cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket
       |  WHERE q.vec_id < 5 AND c.vec_id >= 5)
       |SELECT q_id, bucket, CAST(rk AS BIGINT) AS rk, cand_id, round(cos, 6) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |  FROM pairs)
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  // -------------------------------------------------------------------
  // s6: maximum-inner-product top-k (MIPS) — retrieval where MAGNITUDE
  // matters: un-normalized embeddings whose norms encode popularity or
  // confidence (recommender item vectors, learned sparse terms). The
  // dot ordering genuinely differs from s1's cosine ordering unless
  // all norms are equal.
  //
  // Scale shape: identical to s1 — queries broadcast, per-candidate
  // score map-side, rank pushed below the shuffle (WindowGroupLimit
  // keeps only k rows per query per partition). The ANN scale path for
  // MIPS is the standard norm-augmentation reduction: append
  // sqrt(M² − ‖x‖²) to every corpus vector and 0 to queries (M = max
  // corpus norm) — inner product then orders like cosine in d+1 dims,
  // so s2/s5's LSH/IVF machinery applies unchanged.
  def mipsTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val pairs = broadcast(queries.select(col("id").as("q_id"), col("embedding").as("qe")))
      .join(corpus.select(col("id").as("cand_id"), col("embedding").as("ce")))
      .withColumn("dp", dot(col("qe"), col("ce")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dp").desc, col("cand_id"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("cand_id"), round(col("dp"), 6).as("dp"))
  }

  def s6(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    mipsTopK(
      e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
      e.filter(col("vec_id") >= 5).select(col("vec_id").as("id"), col("embedding")),
      3)
      .orderBy(col("q_id"), col("rk"))
  }

  val s6Sql: String = {
    val dp = dotSql("q.embedding", "c.embedding")
    s"""WITH pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id, $dp AS dp
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id < 5 AND c.vec_id >= 5
       |), ranked AS (
       |  SELECT q_id, cand_id, dp,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dp DESC, cand_id) AS rk
       |  FROM pairs)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, cand_id, round(dp, 6) AS dp
       |FROM ranked WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  // -------------------------------------------------------------------
  // s15: MIPS through LSH via NORM AUGMENTATION — s6's Scaladoc has
  // promised this scale path since the operator landed; this key makes
  // it real and oracle-gated. The standard reduction (asymmetric
  // LSH): append sqrt(M² − ‖x‖²) to every corpus vector (M² = max
  // corpus ‖x‖²) and 0 to every query — all augmented corpus vectors
  // then share norm M, so the ANGLE between aug(q) and aug(x) orders
  // exactly like dot(q, x), and s2's random-hyperplane machinery
  // applies unchanged. Candidates come from same-augmented-bucket
  // membership; the exact rerank computes dot on the ORIGINAL
  // vectors (asymmetric: the augmented space only routes).
  //
  // Determinism: the augmentation term sqrt(M² − ‖x‖²) is the same
  // double tree in both engines, and for the max-norm vector the
  // difference is EXACTLY 0 (both sides compute M² with the identical
  // fold), so no sqrt(−ε) NaN exists. Scale: one bucket per vector,
  // hash join on the bucket — s2's linear shape; the corpus-side
  // self-join case takes s12's sizedPlanes rule unchanged.
  def s15(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val mx = e.filter(col("vec_id") >= 5)
      .agg(max(normSq(col("embedding"))).as("__mx"))
    val aug = e.crossJoin(broadcast(mx)) // provably 1 row
      .withColumn("__aug", concat(
        transform(col("embedding"), x => x.cast("double")),
        array(when(col("vec_id") < 5, lit(0.0))
          .otherwise(sqrt(col("__mx") - normSq(col("embedding")))))))
      .withColumn("bucket", lshBucket(col("__aug")))
    val q = aug.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("bucket"))
    val c = aug.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dp").desc, col("cand_id"))
    broadcast(q).join(c, Seq("bucket"))
      .withColumn("dp", dot(col("qe"), col("ce")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("q_id"), col("bucket"), col("rk").cast("long").as("rk"),
        col("cand_id"), round(col("dp"), 6).as("dp"))
      .orderBy(col("q_id"), col("rk"))
  }

  val s15Sql: String = {
    val dp = dotSql("q.embedding", "c.embedding")
    val nsq = normSqSql("embedding")
    val augExpr = s"list_append(list_transform(embedding, x -> CAST(x AS DOUBLE)), " +
      s"CASE WHEN vec_id < 5 THEN 0.0 ELSE sqrt(mx.mx - $nsq) END)"
    s"""WITH mx AS (SELECT max($nsq) AS mx FROM embeddings WHERE vec_id >= 5),
       |b AS (
       |  SELECT vec_id, embedding,
       |    CAST(${lshBucketSql("__aug")} AS BIGINT) AS bucket
       |  FROM (SELECT vec_id, embedding, $augExpr AS __aug FROM embeddings, mx)),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, q.bucket AS bucket, c.vec_id AS cand_id, $dp AS dp
       |  FROM b q JOIN b c ON q.bucket = c.bucket
       |  WHERE q.vec_id < 5 AND c.vec_id >= 5)
       |SELECT q_id, bucket, CAST(rk AS BIGINT) AS rk, cand_id, round(dp, 6) AS dp FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dp DESC, cand_id) AS rk
       |  FROM pairs)
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  // -------------------------------------------------------------------
  // s7: cosine RANGE search — all corpus vectors within a similarity
  // radius of each query (the retrieval API when the caller needs
  // "everything at least τ-similar", not a fixed k: dedup sweeps,
  // recall-oriented RAG, safety filters). Same broadcast-queries shape
  // as s1 — map-side scoring, the threshold filter prunes BEFORE any
  // shuffle, and the output is bounded by the data's true neighborhood
  // sizes, not |queries|×|corpus|. The 100 TB path is the same
  // composition behind the LSH/IVF candidate generators (annTopK /
  // ivfTopK) with the range filter in place of the rank.
  /** Library API: all `corpus` rows with cosine ≥ tau per query. */
  def cosineRange(queries: DataFrame, corpus: DataFrame, tau: Double): DataFrame = {
    val pairs = broadcast(queries.select(col("id").as("q_id"), col("embedding").as("qe")))
      .join(corpus.select(col("id").as("cand_id"), col("embedding").as("ce")))
      .withColumn("cos", cosineAuto(queries.sparkSession, col("qe"), col("ce")))
    pairs.filter(col("cos") >= tau)
      .select(col("q_id"), col("cand_id"), round(col("cos"), 6).as("cos"))
  }

  def s7(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    cosineRange(
      e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
      e.filter(col("vec_id") >= 5).select(col("vec_id").as("id"), col("embedding")),
      0.2)
      .orderBy(col("q_id"), col("cand_id"))
  }

  val s7Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""SELECT q.vec_id AS q_id, c.vec_id AS cand_id, round($cos, 6) AS cos
       |FROM embeddings q, embeddings c
       |WHERE q.vec_id < 5 AND c.vec_id >= 5 AND $cos >= 0.2
       |ORDER BY q_id, cand_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // s8: FILTERED vector search — top-k under a metadata predicate
  // (the "filtered ANN" problem every vector store ships: "nearest
  // docs WHERE lang='en' AND date > …"). Strategy here is PRE-filter:
  // the predicate applies before any distance is computed, so it
  // pushes down to the parquet scan (row-group pruning does the work
  // and the scored candidate set shrinks by the filter's selectivity)
  // and the result is EXACT — unlike post-filtering an ANN result
  // list, which silently returns < k rows when the filter is
  // selective (k survivors of a top-k' probe is a recall lottery).
  // For the LSH/IVF scale paths the same composition holds (filter
  // the bucketed candidates before scoring); pre-filter is the right
  // default whenever the predicate is cheap relative to re-probing.

  /** Exact filtered top-k: brute-force cosine of `queries` against
    * the rows of `corpus` satisfying `pred`. Same broadcast contract
    * as [[cosineTopK]] (|queries| ≪ |corpus|). */
  def filteredTopK(queries: DataFrame, corpus: DataFrame, pred: Column, k: Int): DataFrame =
    cosineTopK(queries, corpus.filter(pred), k)

  def s8(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    filteredTopK(
      e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
      e.filter(col("vec_id") >= 5).select(col("vec_id").as("id"), col("embedding"), col("label")),
      col("label") % 2 === 0, 3)
      .orderBy(col("q_id"), col("rk"))
  }

  val s8Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""WITH pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id, $cos AS cos
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id < 5 AND c.vec_id >= 5 AND c.label % 2 = 0
       |), ranked AS (
       |  SELECT q_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |  FROM pairs)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, cand_id, round(cos, 6) AS cos
       |FROM ranked WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  // -------------------------------------------------------------------
  // s9: scalar-quantized (SQ8) candidate generation + exact rerank —
  // the memory-compression ANN path: L2-normalize, then quantize each
  // dimension to a SIGNED 8-bit code (round(xn·127), symmetric around
  // zero — for cosine ranking the symmetric form matters: a min/max-
  // shifted code space adds a per-candidate shift term that wrecks the
  // ranking; measured recall@3 was 0.07 shifted vs ≥0.9 symmetric).
  // The integer code dot is then a monotone proxy for cosine up to
  // rounding (cdot ≈ 127²·cos), exact int arithmetic → the candidate
  // ranking is engine-identical by construction. Only the coarse top-C
  // survivors pay the exact float cosine; C > k recovers the recall
  // rounding loses (C=12, k=3 here).
  //
  // Scale: no training pass (the "codebook" is the fixed ±127 scale);
  // quantization and the code dot are pure codegen array arithmetic.
  // At 100 TB the codes column is the thing you STORE (byte-packed,
  // 4× smaller than float32) and scan; compose with s5's IVF buckets —
  // SQ8 shrinks the scan, IVF shrinks the candidate set, rerank
  // restores exactness on survivors.
  val sq8Scale = 127L

  /** Signed SQ8 code array of the L2-NORMALIZED vector:
    * round(x_i/‖x‖·127) ∈ [−127,127] (zero vector → all-zero codes).
    * Integer output (array<long> here; byte-packed in storage).
    * Evaluates the norm INSIDE the per-element lambda — fine for a
    * one-off; hot paths should hoist the norm to its own projection
    * first (see sq8RerankTopK), since codegen re-evaluates a lambda
    * body per element (64 dims → 64 redundant norm folds per row). */
  def sq8Codes(emb: Column): Column =
    sq8CodesWithNorm(emb,
      sqrt(aggregate(transform(emb, x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)))

  private def sq8CodesWithNorm(emb: Column, nrm: Column): Column =
    transform(emb, x =>
      when(nrm === 0.0, 0L)
        .otherwise(round(x.cast("double") / nrm * sq8Scale).cast("long")))

  /** Library API: SQ8 coarse top-`coarseK` by integer code dot, exact
    * cosine rerank to top-`k`. Same broadcast contract as
    * [[cosineTopK]] (|queries| ≪ |corpus|). */
  def sq8RerankTopK(queries: DataFrame, corpus: DataFrame, k: Int, coarseK: Int): DataFrame = {
    val s = queries.sparkSession
    // norm hoisted to a per-row projection so the quantization lambda
    // reads a computed column instead of re-folding the vector per
    // element (identical doubles → identical codes; oracle-checked)
    // zero-norm vectors are dropped on BOTH sides: cosine is undefined
    // for them, and an unfiltered zero candidate surviving the coarse
    // cut would rerank with cos = 0/0 = NaN — which Spark sorts ABOVE
    // every real similarity, i.e. a garbage top-1 for every query
    def coded(df: DataFrame, idAs: String, embAs: String) =
      df.withColumn("__nrm", sqrt(aggregate(
          transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x)))
        .filter(col("__nrm") > 0.0)
        .select(col("id").as(idAs), col("embedding").as(embAs),
          sq8CodesWithNorm(col("embedding"), col("__nrm")).as(s"${idAs}_code"))
    // fused integer dot (graft.plans.LongDotExpr): the HOF form ran an
    // interpreted lambda per element per PAIR — |q|×|corpus|×dims
    // dispatches on the coarse scan; pure integer fold, same result
    val pairs = broadcast(coded(queries, "q_id", "qe"))
      .join(coded(corpus, "cand_id", "ce"))
      .withColumn("cdot", org.apache.spark.sql.GraftSqlBridge.columnOf(
        graft.plans.LongDotExpr(
          org.apache.spark.sql.GraftSqlBridge.expression(col("q_id_code")),
          org.apache.spark.sql.GraftSqlBridge.expression(col("cand_id_code")))))
    val wCoarse = Window.partitionBy(col("q_id")).orderBy(col("cdot").desc, col("cand_id"))
    val survivors = pairs.withColumn("crk", row_number().over(wCoarse))
      .filter(col("crk") <= coarseK)
      .withColumn("cos", cosineAuto(s, col("qe"), col("ce")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    survivors.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos"))
  }

  def s9(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    sq8RerankTopK(
      e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
      e.filter(col("vec_id") >= 5).select(col("vec_id").as("id"), col("embedding")),
      3, 12)
      .orderBy(col("q_id"), col("rk"))
  }

  val s9Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""WITH nv AS (
       |  SELECT vec_id, embedding, sqrt(${normSqSql("embedding")}) AS nrm
       |  FROM embeddings),
       |codes AS (
       |  SELECT vec_id, list_transform(embedding, x ->
       |    CAST(round(CAST(x AS DOUBLE) / nrm * $sq8Scale) AS BIGINT)) AS code
       |  FROM nv WHERE nrm > 0),
       |coarse AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    list_sum(list_transform(generate_series(1, len(q.code)),
       |      i -> q.code[i] * c.code[i])) AS cdot
       |  FROM codes q, codes c WHERE q.vec_id < 5 AND c.vec_id >= 5),
       |surv AS (
       |  SELECT q_id, cand_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cdot DESC, cand_id) AS crk
       |  FROM coarse),
       |rer AS (
       |  SELECT s.q_id, s.cand_id, $cos AS cos
       |  FROM surv s
       |  JOIN embeddings q ON q.vec_id = s.q_id
       |  JOIN embeddings c ON c.vec_id = s.cand_id
       |  WHERE s.crk <= 12),
       |ranked AS (
       |  SELECT q_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |  FROM rer)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, cand_id, round(cos, 6) AS cos
       |FROM ranked WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  // -------------------------------------------------------------------
  // s10: ANN recall audit — per-query recall@3 of the single-probe LSH
  // path (s2) against exact brute force (s1), as integer ppm. d9's
  // measure-don't-guess role for the vector path: run it on a sample
  // before trusting planes/probes at 100 TB, and alert on the
  // corpus-level number drifting (embedding distribution shifts move
  // LSH recall even when the index is unchanged). Both inputs are this
  // library's own deterministic pipelines, so the audit itself is
  // engine-exact: hits are set intersections of hash-green results,
  // ppm is integer arithmetic (c13's rule).
  def s10(s: SparkSession, dir: String): DataFrame = {
    val ex = s1(s, dir).select(col("q_id"), col("cand_id"))
    val ann = s2(s, dir).select(col("q_id"), col("cand_id"))
    val annq = ann.groupBy(col("q_id")).agg(count(lit(1)).as("n_lsh"))
    val hits = ex.join(ann.withColumn("hit", lit(1)), Seq("q_id", "cand_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hits"))
    hits.join(annq, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"), col("n_hits"),
        expr("n_hits * 1000000 div n_exact").as("recall_ppm"))
      .orderBy(col("q_id"))
  }

  val s10Sql: String =
    s"""WITH ex AS ($s1Sql),
       |ann AS ($s2Sql),
       |annq AS (SELECT q_id, count(*) AS n_lsh FROM ann GROUP BY 1),
       |hits AS (
       |  SELECT e.q_id, count(*) AS n_exact,
       |    CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hits
       |  FROM ex e LEFT JOIN ann a ON a.q_id = e.q_id AND a.cand_id = e.cand_id
       |  GROUP BY e.q_id)
       |SELECT h.q_id, h.n_exact, COALESCE(q.n_lsh, 0) AS n_lsh, h.n_hits,
       |  h.n_hits * 1000000 // h.n_exact AS recall_ppm
       |FROM hits h LEFT JOIN annq q USING (q_id)
       |ORDER BY q_id""".stripMargin

  // -------------------------------------------------------------------
  // s11: product-quantization ANN with asymmetric-distance rerank —
  // the OTHER canonical compressed-scan path next to s9's SQ8. The
  // 64-dim vector is L2-normalized and split into M=8 8-dim
  // subvectors; each stores only the id of its nearest codeword
  // (K=16 ⇒ 4 bits/sub, 4 bytes/vector vs 256 — a 64× storage
  // compression; s9's SQ8 is 4×). Queries never decompress
  // candidates: ADC (asymmetric distance computation) precomputes
  // each query's L2² to every codeword once (M·K = 128 numbers per
  // query), then a candidate's approximate distance is M table
  // lookups summed — the scan does no per-candidate float math at
  // all. Coarse top-C by ADC ascending, exact cosine rerank to
  // top-k (s9's shape). Operating point MEASURED, not guessed (the
  // audit corpus is random vectors — PQ's worst case, no cluster
  // structure for the codebook to exploit): recall@3 vs exact at
  // C=12/24/48/96 is 0.47/0.73/0.80/0.93 (SimilaritySpec pins the
  // C=96 point ≥ 13/15); the M=4×16-dim variant trails at every
  // beam (0.40 at C=12, 0.87 at C=96). Clustered production
  // embeddings quantize far tighter — re-run the recall audit there
  // before shrinking the beam.
  //
  // Determinism: every L2² is the cast-then-subtract ascending fold
  // (l2sq / l2sqSql — dot's bit-parity contract); encode ties break
  // on codeword id; the ADC sum is a FIXED-ORDER d0+d1+d2+d3 over
  // per-subspace pivot columns (a groupBy sum over the subspace rows
  // would re-associate doubles nondeterministically — the m5 lesson).
  // The oracle codebook is deterministic (subvectors of the first 16
  // corpus vectors — s5's SQL-expressible stand-in); a production
  // codebook comes from per-subspace k-means (trainCodebook on the
  // subvector frames), same encode/ADC machinery.
  //
  // Scale shape: codebook broadcast (M·K tiny rows); encoding is one
  // broadcast join + map-side min_by per (vector, subspace); the
  // query distance tables broadcast (M·K doubles per query); the scan
  // is one broadcast-joined lookup + a 2-level pivot agg keyed
  // (q_id, cand_id); ranks ride WindowGroupLimit below the shuffle.
  /** Library API: PQ-ADC top-k. `codebookSrc` supplies the codewords
    * (any (id, embedding) frame; first-K deterministic here,
    * per-subspace k-means in production). All vectors are
    * L2-NORMALIZED before quantization — on the unit sphere
    * ‖q−c‖² = 2−2·cos(q,c), so the ADC ordering targets exactly the
    * cosine the rerank scores; on raw vectors it targets a metric the
    * rerank doesn't use and recall drops at every beam — s9 learned
    * the same normalize-first lesson with its min/max-shifted codes. Zero-norm rows can't normalize and
    * are dropped from corpus/queries (s9's `nrm > 0` guard). */
  /** Shared by the composed and fused PQ paths: L2-normalize the
    * (id, embedding) frame to (idc, ne) doubles, dropping zero-norm
    * rows (s9's guard). */
  /** Unit-normalize to `ne`, dropping zero-norm vectors. Prefers the
    * fused codegen'd [[graft.plans.UnitNormExpr]] when the session has
    * GraftExtensions (the interpreted higher-order fold walks every
    * element through a lambda expression tree — measured ~7.7 s per
    * 20k×64d materialization on s18's training path, vs milliseconds
    * fused); both compute the identical double sequence, so the choice
    * is invisible to the oracle. */
  private def pqNormed(df: DataFrame, idc: String): DataFrame =
    if (df.sparkSession.catalog.functionExists("graft_unitnorm"))
      df.select(col("id").as(idc),
          call_function("graft_unitnorm", col("embedding")).as("ne"))
        .filter(col("ne").isNotNull)
    else df
      .select(col("id").as(idc), col("embedding"), norm(col("embedding")).as("__n"))
      .filter(col("__n") > 0)
      .select(col(idc), transform(col("embedding"),
        x => x.cast("double") / col("__n")).as("ne"))

  /** Shared PQ rerank tail: exact cosine over the coarse survivors,
    * top-k with cand_id tiebreak. */
  private def pqRerank(surv: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val s = queries.sparkSession
    val wK = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    surv
      .join(queries.select(col("id").as("q_id"), col("embedding").as("qe")), Seq("q_id"))
      .join(corpus.select(col("id").as("cand_id"), col("embedding").as("ce")), Seq("cand_id"))
      .withColumn("cos", cosineAuto(s, col("qe"), col("ce")))
      .withColumn("rk", row_number().over(wK)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos"))
  }

  def pqAdcRerankTopK(queries: DataFrame, corpus: DataFrame,
      codebookSrc: DataFrame, k: Int, coarseC: Int,
      m: Int = 8, subDim: Int = 8): DataFrame = {
    def normed(df: DataFrame, idc: String) = pqNormed(df, idc)
    def subv(e: Column, i: Int) = slice(e, i * subDim + 1, subDim)
    val cb = broadcast(normed(codebookSrc, "cw_id")
      .select(col("cw_id"),
        explode(array((0 until m).map(i =>
          struct(lit(i).as("s"), subv(col("ne"), i).as("cw"))): _*)).as("x"))
      .select(col("cw_id"), col("x.s").as("s"), col("x.cw").as("cw")))
    def subCol(e: Column) = slice(e, col("s") * subDim + 1, lit(subDim))
    val enc = normed(corpus, "cand_id").withColumnRenamed("ne", "ce")
      .join(cb)
      .withColumn("dist", l2sq(subCol(col("ce")), col("cw")))
      .groupBy(col("cand_id"), col("s"))
      .agg(min_by(col("cw_id"), struct(col("dist"), col("cw_id"))).as("code"))
    val dtab = normed(queries, "q_id").withColumnRenamed("ne", "qe")
      .join(cb)
      .select(col("q_id"), col("s"), col("cw_id").as("code"),
        l2sq(subCol(col("qe")), col("cw")).as("qd"))
    val pivots = (0 until m).map(i => max(when(col("s") === i, col("qd"))).as(s"d$i"))
    val adc = enc.join(broadcast(dtab), Seq("s", "code"))
      .groupBy(col("q_id"), col("cand_id"))
      .agg(pivots.head, pivots.tail: _*)
      .withColumn("adc", expr((0 until m).map(i => s"d$i").mkString(" + ")))
    val wC = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("cand_id"))
    val surv = adc.withColumn("crk", row_number().over(wC)).filter(col("crk") <= coarseC)
      .select(col("q_id"), col("cand_id"))
    pqRerank(surv, queries, corpus, k)
  }

  /** The FUSED PQ-ADC scan — same contract and bit-identical results
    * as [[pqAdcRerankTopK]] (parity spec'd), but the encode and ADC
    * sum stay inside whole-stage codegen with ZERO row inflation:
    * the composed path explodes every corpus row into M·K broadcast-
    * join rows and pays TWO (corpus×M)-grain shuffles (encode groupBy
    * + ADC pivot groupBy) to move per-row arithmetic that never
    * needed to leave the row; here the ~8 KB codebook is collected
    * once (the sizedPlanes-count O(1)-driver class), embedded in
    * [[graft.plans.PqCodesExpr]]/[[graft.plans.PqDistTableExpr]], and
    * the scan's only shuffle is the coarse top-C window itself.
    * At 100 TB this is the difference between shuffling corpus×M
    * rows twice and shuffling (q, cand, adc) triples once. */
  def pqAdcRerankTopKFused(queries: DataFrame, corpus: DataFrame,
      codebookSrc: DataFrame, k: Int, coarseC: Int,
      m: Int = 8, subDim: Int = 8): DataFrame = {
    val dim = m * subDim
    // codeword POSITION (ascending cw_id) replaces cw_id as the code:
    // order-isomorphic, so the argmin tiebreak (lower position == lower
    // cw_id) selects the identical codeword
    val cbRows = pqNormed(codebookSrc, "cw_id").orderBy(col("cw_id")).collect()
    val kCw = cbRows.length
    require(kCw >= 1, "PQ codebook must have at least one non-zero-norm codeword")
    val cbFlat = new Array[Double](kCw * dim)
    var cw = 0
    while (cw < kCw) {
      val ne = cbRows(cw).getSeq[Double](1)
      var j = 0
      while (j < dim) { cbFlat(cw * dim + j) = ne(j); j += 1 }
      cw += 1
    }
    pqAdcRerankTopKFlat(queries, corpus, cbFlat, kCw, k, coarseC, m, subDim)
  }

  /** The fused PQ-ADC scan against an ALREADY-FLAT codebook
    * (cb[cw·dim + s·subDim + j]; cw ascending = the code's position
    * space). [[pqAdcRerankTopKFused]] feeds it whole-vector codeword
    * rows; [[s18]] feeds it [[trainPqCodebooks]]' learned per-subspace
    * codewords (which are means, not unit vectors — the flat layout is
    * the shared currency and the expression never normalizes the
    * codebook side, only the scanned vectors). */
  def pqAdcRerankTopKFlat(queries: DataFrame, corpus: DataFrame,
      cbFlat: Array[Double], kCw: Int, k: Int, coarseC: Int,
      m: Int, subDim: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{columnOf, expression}
    import graft.plans.{PqAdcExpr, PqCodesExpr, PqDistTableExpr}
    // RAW embeddings in: normalization happens inside the expression
    // (feeding the transform(x/norm) column instead was measured at
    // 37 s/200k rows — project collapse inlines the normSq fold into
    // the HOF lambda, recomputing it per element). The norm > 0 guard
    // stays row-grain out here (the expression cannot drop rows).
    // Vectors must carry exactly m·subDim elements (the composed path
    // normalizes over the FULL array; the expression folds dim
    // elements — equal only when lengths agree, as all callers' do).
    val enc = corpus.select(col("id").as("cand_id"), col("embedding"))
      .filter(norm(col("embedding")) > 0)
      .select(col("cand_id"),
        columnOf(PqCodesExpr(expression(col("embedding")), cbFlat, m, subDim, kCw)).as("codes"))
    val qtab = queries.select(col("id").as("q_id"), col("embedding"))
      .filter(norm(col("embedding")) > 0)
      .select(col("q_id"),
        columnOf(PqDistTableExpr(expression(col("embedding")), cbFlat, m, subDim, kCw)).as("qd"))
    // project to (q_id, cand_id, adc) BEFORE the window: the coarse
    // top-C exchange must carry 24-byte triples, not the 1 KB qd
    // table and codes it was computed from (measured 1.7× at ×100)
    val adc = enc.join(broadcast(qtab))
      .select(col("q_id"), col("cand_id"),
        columnOf(PqAdcExpr(expression(col("codes")), expression(col("qd")), kCw)).as("adc"))
    val wC = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("cand_id"))
    val surv = adc.withColumn("crk", row_number().over(wC)).filter(col("crk") <= coarseC)
      .select(col("q_id"), col("cand_id"))
    pqRerank(surv, queries, corpus, k)
  }

  def s11(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    pqAdcRerankTopKFused(
      e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
      e.filter(col("vec_id") >= 16).select(col("vec_id").as("id"), col("embedding")),
      e.filter(col("vec_id") < 16).select(col("vec_id").as("id"), col("embedding")),
      3, 96, m = 8, subDim = 8)
      .orderBy(col("q_id"), col("rk"))
  }

  /** s11's DuckDB twin, parametrized on the coarse beam so s16's
    * recall audit can replay the identical PQ machinery at its own
    * operating point (C=24) without duplicating the CTE chain. */
  private def pqAdcSql(coarseC: Int): String = {
    val m = 8; val subDim = 8
    def sub(e: String, s: String) = s"($e)[$s*$subDim+1 : $s*$subDim+$subDim]"
    val subsVals = (0 until m).map(i => s"($i)").mkString(", ")
    val encD = l2sqSql(sub("c.ce", "b.s"), "b.cw")
    val qD = l2sqSql(sub("q.qe", "b.s"), "b.cw")
    val pivots = (0 until m).map(i => s"max(CASE WHEN e.s = $i THEN t.qd END)")
      .mkString("(", " + ", ")")
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""WITH nv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ne
       |  FROM (SELECT vec_id, embedding, sqrt(${normSqSql("embedding")}) AS nrm
       |        FROM embeddings)
       |  WHERE nrm > 0),
       |cb AS (
       |  SELECT vec_id AS cw_id, s, ${sub("ne", "s")} AS cw
       |  FROM nv, (VALUES $subsVals) sub(s) WHERE vec_id < 16),
       |corpus AS (SELECT vec_id AS cand_id, ne AS ce FROM nv WHERE vec_id >= 16),
       |qs AS (SELECT vec_id AS q_id, ne AS qe FROM nv WHERE vec_id < 5),
       |enc AS (
       |  SELECT cand_id, s, code FROM (
       |    SELECT c.cand_id, b.s, b.cw_id AS code,
       |      row_number() OVER (PARTITION BY c.cand_id, b.s
       |        ORDER BY $encD ASC, b.cw_id) AS erk
       |    FROM corpus c, cb b)
       |  WHERE erk = 1),
       |dtab AS (
       |  SELECT q.q_id, b.s, b.cw_id AS code, $qD AS qd
       |  FROM qs q, cb b),
       |adc AS (
       |  SELECT t.q_id, e.cand_id, $pivots AS adc
       |  FROM enc e JOIN dtab t ON t.s = e.s AND t.code = e.code
       |  GROUP BY t.q_id, e.cand_id),
       |surv AS (
       |  SELECT q_id, cand_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, cand_id) AS crk
       |  FROM adc),
       |rer AS (
       |  SELECT s.q_id, s.cand_id, $cos AS cos
       |  FROM surv s
       |  JOIN embeddings q ON q.vec_id = s.q_id
       |  JOIN embeddings c ON c.vec_id = s.cand_id
       |  WHERE s.crk <= $coarseC),
       |ranked AS (
       |  SELECT q_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |  FROM rer)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, cand_id, round(cos, 6) AS cos
       |FROM ranked WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  val s11Sql: String = pqAdcSql(96)

  // -------------------------------------------------------------------
  // s16: PQ recall audit — s10's measure-don't-guess role for the
  // PQ-ADC path (the last compressed/bucketed search family without a
  // REGISTERED recall audit: s10 covers LSH, s13 IVF, d9 MinHash, d18
  // ANN-assignment). SimilaritySpec pins s11's recall curve at fixed
  // points, but a spec constant goes stale the moment the corpus or
  // codebook changes — this key recomputes per-query recall@3 of the
  // PQ-ADC scan at the MID beam C=24 (the knee of the measured
  // 0.47/0.73/0.80/0.93 curve — the operating point you'd actually
  // consider at scale, where the saturated C=96 tail hides codebook
  // regressions) against exact brute force ON S11'S OWN SPLIT
  // (queries vec_id<5, corpus vec_id>=16 — s10's s1-split baseline
  // would mis-score it, the s13 lesson), in integer ppm.
  //
  // Scale shape: the exact side is |queries|×corpus with broadcast
  // queries (5 rows here; an audit SAMPLE at 100 TB — d18's AuditCap
  // argument), the PQ side is s11's own plan; the join/agg run at
  // (q_id, cand_id) grain, ≤ 3+C rows per query.
  def s16(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding"))
    val corpus = e.filter(col("vec_id") >= 16).select(col("vec_id").as("id"), col("embedding"))
    val cb = e.filter(col("vec_id") < 16).select(col("vec_id").as("id"), col("embedding"))
    val pq = pqAdcRerankTopKFused(q, corpus, cb, 3, 24).select(col("q_id"), col("cand_id"))
    val ex = cosineTopK(q, corpus, 3).select(col("q_id"), col("cand_id"))
    val pqn = pq.groupBy(col("q_id")).agg(count(lit(1)).as("n_pq"))
    val hits = ex.join(pq.withColumn("hit", lit(1)), Seq("q_id", "cand_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hits"))
    hits.join(pqn, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_pq"), lit(0L)).as("n_pq"), col("n_hits"),
        expr("n_hits * 1000000 div n_exact").as("recall_ppm"))
      .orderBy(col("q_id"))
  }

  val s16Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""WITH ex AS (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $cos DESC, c.vec_id) AS rk
       |    FROM embeddings q, embeddings c
       |    WHERE q.vec_id < 5 AND c.vec_id >= 16)
       |  WHERE rk <= 3),
       |ann AS (SELECT q_id, cand_id FROM (${pqAdcSql(24)})),
       |annq AS (SELECT q_id, count(*) AS n_pq FROM ann GROUP BY 1),
       |hits AS (
       |  SELECT e.q_id, count(*) AS n_exact,
       |    CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hits
       |  FROM ex e LEFT JOIN ann a ON a.q_id = e.q_id AND a.cand_id = e.cand_id
       |  GROUP BY e.q_id)
       |SELECT h.q_id, h.n_exact, COALESCE(q.n_pq, 0) AS n_pq, h.n_hits,
       |  h.n_hits * 1000000 // h.n_exact AS recall_ppm
       |FROM hits h LEFT JOIN annq q USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // s18: LEARNED product quantization through the oracle gate (round-17
  // VERDICT directive 3). s11/s16 quantize against the deterministic
  // first-16 stand-in codebook; the production codebook is per-subspace
  // k-means — trained here by [[trainPqCodebooks]] with the portable
  // seed hash (d15's LCG, (id·48271+11) mod 2^31−1) so EVERY training
  // step is replayable in DuckDB SQL (iterations unrolled as generated
  // CTEs, d15/d17's proven pattern): seeded init = subvectors of the k
  // smallest-hash corpus vectors; each Lloyd iteration assigns every
  // (vector, subspace) subvector to its nearest codeword by the l2sq
  // fold (ties → smaller cid) and recomputes codewords as
  // DECIMAL(28,12)-exact per-dim means (empty cells KEEP their previous
  // codeword, so K stays uniform across subspaces — the flat-codebook
  // layout the fused scan embeds requires it); the final codebook feeds
  // the SAME fused PqCodesExpr/PqDistTableExpr/PqAdcExpr scan as s11.
  // The registered key is s16's recall audit re-run on the LEARNED
  // codebook at the same mid beam C=24 — one key both gates the
  // training cross-engine (any drifted mean/assignment flips codes,
  // ADC, the candidate set and the hash) and yields the recall number
  // the stand-in is compared against (SimilaritySpec pins learned ≥
  // stand-in at the same beam).
  //
  // Scale shape: training is M parallel k-means in ONE dataframe flow —
  // the subvector explode is map-side (m rows per vector, subDim
  // doubles each), each iteration is one broadcast join against the
  // m·k-row codebook + a max_by-class per-(id,s) reduction + a
  // (s,cid,pos)-grain mean (all map-side combinable; no corpus-grain
  // window), cutLineage between iterations (d17's rule). The codebook
  // collect is m·k rows — the documented O(1)-driver class. The
  // training input IS a sample — the [[PqTrainSampleCap]]
  // smallest-seedHash vectors, executed in trainPqCodebooks and
  // replayed by the twin's `tr` rank-filter CTE (PQ codebooks are
  // distribution estimates; d18's AuditCap argument) — while the
  // ENCODE pass — the fused expression scan — stays full-corpus and
  // codegen'd.
  val PqLearnIters = 2
  val PqLearnK = 16

  /** Training-sample cap for [[trainPqCodebooks]]: the m·k codewords
    * are DISTRIBUTION estimates, not per-row state — at 100 TB you
    * train them on a sample and encode the full corpus (the d18
    * AuditCap argument, here EXECUTED rather than documented: the
    * sample is the `cap` smallest-seedHash vectors via orderBy+limit
    * — TakeOrderedAndProject, one O(N) scan with per-partition heaps,
    * no full sort — so it is deterministic, portable, and replayable
    * in the oracle as a row_number()-over-(hash,id) rank filter). At
    * the gated SFs (corpus ≤ 1 984 vectors) the cap does not bind, so
    * s18's oracle results are unchanged; at ×10/×100 it pins the
    * training cost constant while the encode/audit passes stay
    * full-corpus. 4 096 ≥ 16 codewords × 16 subvectors × 16× slack
    * per cell — k-means estimate error at n samples is O(1/√n_cell);
    * ~256 samples/cell holds the codeword jitter under the ADC
    * quantization step. */
  val PqTrainSampleCap = 4096

  /** Library API: per-subspace SPHERICAL k-means codebooks for PQ.
    * Returns (s, cid, cw: array<double>) — m·k rows, cid dense 0..k−1
    * in every subspace (empty cells retain their previous codeword).
    * Vectors are L2-normalized before splitting ([[pqNormed]]'s
    * contract — on the unit sphere ADC's L2² orders like the cosine
    * the rerank scores); `seedHash` must be a portable integer hash
    * when a cross-engine oracle replays the training (d15's LCG).
    *
    * WHY SPHERICAL (unit-normalized centroids — Dhillon/Modha's
    * spherical k-means, the standard IP/cosine-retrieval variant):
    * with plain means a candidate's ADC is 1 + ‖recon‖² − 2·q·recon,
    * and on weakly-clustered data the means SHRINK toward 0 — the
    * per-candidate ‖recon‖² term then varies while the q·recon signal
    * collapses. Unit centroids pin Σ_s‖c_s‖² = m for EVERY candidate,
    * so the coarse ordering degenerates to −2·q·recon — pure direction
    * signal. Assignment against unit codewords by L2² equals argmax
    * dot — exactly what the unchanged encode expression computes. A
    * zero-norm mean (empty-direction cell) keeps the previous
    * codeword, like an empty cell.
    *
    * MEASURED (PLANS.md "learned PQ", 60 held-out queries — the
    * registered 5-query audits are 15-slot noise, swinging 0.33-0.73
    * across SFs —
    * recall@3 at beam C=24, random-vector corpus = PQ's worst case):
    * learned-spherical at iters=2 beats the first-16 stand-in at every
    * SF — 0.556 vs 0.389 (sf0.001), 0.622 vs 0.439 (sf0.01), 0.389 vs
    * 0.256 (sf0.1); every iteration count 0-4 stays above the
    * stand-in, iters=2 is the knee. SimilaritySpec pins learned >
    * stand-in on that split. */
  def trainPqCodebooks(corpus: DataFrame, m: Int, subDim: Int, k: Int,
      iters: Int, seedHash: Column => Column,
      sampleCap: Int = PqTrainSampleCap): DataFrame = {
    // the `sampleCap` smallest-hash vectors (ties → smaller id):
    // supersedes nothing at the gated SFs (corpus < cap ⇒ identity),
    // bounds every training frame at scale ([[PqTrainSampleCap]])
    val normed = pqNormed(corpus, "id")
      .withColumn("__h", seedHash(col("id")))
      .orderBy(col("__h"), col("id")).limit(sampleCap)
      .drop("__h")
    // unit-normalize an array<double> column; null when the norm is 0
    // (the caller's coalesce then retains the previous codeword)
    def unit(a: Column): Column = {
      val n = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))
      when(n > 0, transform(a, x => x / n))
    }
    // subvector rows: (id, s, sv) — computed once, shared by every
    // iteration (the multi-consumer frontier; d17's cut rule)
    val sv = normed.select(col("id"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), slice(col("ne"), s * subDim + 1, subDim).as("sv"))): _*)).as("x"))
      .select(col("id"), col("x.s").as("s"), col("x.sv").as("sv"))
      .cutLineage()
    val seeds = normed
      .withColumn("__h", seedHash(col("id")))
      .orderBy(col("__h"), col("id")).limit(k)
      .withColumn("cid",
        row_number().over(Window.orderBy(col("__h"), col("id"))).cast("long") - 1)
      .select(col("cid"), col("ne"))
    var cents = seeds.select(col("cid"),
        explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), slice(col("ne"), s * subDim + 1, subDim).as("cw"))): _*)).as("x"))
      // seed subvectors are pieces of a unit vector (norm < 1 each) —
      // normalize them too, so iteration 0 already lives on the sphere
      .select(col("x.s").as("s"), col("cid"),
        coalesce(unit(col("x.cw")), col("x.cw")).as("cw"))
      .cutLineage()
    for (_ <- 1 to iters) {
      val assigned = sv.join(broadcast(cents), Seq("s"))
        .withColumn("__d", l2sq(col("sv"), col("cw")))
        .groupBy(col("id"), col("s"))
        // nearest codeword, ties to the smaller cid — min over (d, cid)
        .agg(min_by(col("cid"), struct(col("__d"), col("cid"))).as("cid"),
          first(col("sv")).as("sv"))
      val means = assigned
        .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("cid"), col("pos"))
        // decimal sum → one double division: partition-order-free
        // (d15's centroid-mean rule)
        .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("mv"))
        .groupBy(col("s"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
          e => e.getField("mv")).as("mcw"))
        // spherical step: project the mean back to the unit sphere
        // (null when the mean is the zero vector — retained below)
        .select(col("s"), col("cid"), unit(col("mcw")).as("mcw"))
      // empty (or zero-direction) cells keep their previous codeword:
      // K uniform per subspace
      cents = cents.join(means, Seq("s", "cid"), "left")
        .select(col("s"), col("cid"), coalesce(col("mcw"), col("cw")).as("cw"))
        .cutLineage()
    }
    cents
  }

  /** Flatten (s, cid, cw) codebooks to the fused scan's codeword-major
    * layout: cb[cid·(m·subDim) + s·subDim + j]. m·k rows — the
    * documented O(1)-driver collect class. */
  def flattenPqCodebooks(cents: DataFrame, m: Int, subDim: Int, k: Int): Array[Double] = {
    val dim = m * subDim
    val flat = new Array[Double](k * dim)
    cents.collect().foreach { r =>
      val s = r.getAs[Int]("s"); val cid = r.getAs[Long]("cid").toInt
      val cw = r.getSeq[Double](2)
      var j = 0
      while (j < subDim) { flat(cid * dim + s * subDim + j) = cw(j); j += 1 }
    }
    flat
  }

  def s18(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding"))
    val corpus = e.filter(col("vec_id") >= 16).select(col("vec_id").as("id"), col("embedding"))
    val cents = trainPqCodebooks(corpus, m = 8, subDim = 8, k = PqLearnK,
      iters = PqLearnIters,
      seedHash = id => pmod(id * 48271L + 11L, lit(2147483647L)))
    val cbFlat = flattenPqCodebooks(cents, 8, 8, PqLearnK)
    val pq = pqAdcRerankTopKFlat(q, corpus, cbFlat, PqLearnK, 3, 24, 8, 8)
      .select(col("q_id"), col("cand_id"))
    val ex = cosineTopK(q, corpus, 3).select(col("q_id"), col("cand_id"))
    val pqn = pq.groupBy(col("q_id")).agg(count(lit(1)).as("n_pq"))
    val hits = ex.join(pq.withColumn("hit", lit(1)), Seq("q_id", "cand_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hits"))
    hits.join(pqn, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_pq"), lit(0L)).as("n_pq"), col("n_hits"),
        expr("n_hits * 1000000 div n_exact").as("recall_ppm"))
      .orderBy(col("q_id"))
  }

  /** DuckDB twin of [[s18]]: the training unrolled as generated CTEs
    * (d15/d17's pattern — seeded init, per-iteration l2sq argmin
    * assignment + DECIMAL(28,12)-exact per-dim means with empty-cell
    * retention via LEFT JOIN/COALESCE), then s11's encode/ADC/rerank
    * chain against the learned codebook at C=24, then s16's recall
    * audit tail. */
  val s18Sql: String = {
    val m = 8; val subDim = 8
    val P = 2147483647L
    def sub(e: String, s: String) = s"($e)[$s*$subDim+1 : $s*$subDim+$subDim]"
    val subsVals = (0 until m).map(i => s"($i)").mkString(", ")
    val asgD = l2sqSql("v.sv", "c.cw")
    val encD = l2sqSql("v.sv", "b.cw")
    val qD = l2sqSql("q.sv", "b.cw")
    val pivots = (0 until m).map(i => s"max(CASE WHEN e.s = $i THEN t.qd END)")
      .mkString("(", " + ", ")")
    val cos = cosineSql("q.embedding", "c.embedding")
    // unit-normalize a list<double>; NULL when the norm is 0 (the
    // LEFT JOIN/COALESCE below then retains the previous codeword) —
    // the spherical-k-means step, trainPqCodebooks' `unit`
    def unitSql(a: String): String =
      s"(CASE WHEN sqrt(${normSqSql(a)}) > 0 THEN " +
        s"list_transform($a, x -> x / sqrt(${normSqSql(a)})) END)"
    // one spherical-Lloyd iteration, unrolled: per-(id, s)
    // nearest-codeword assignment (row_number twin of min_by),
    // decimal-exact means projected back to the unit sphere, empty /
    // zero-direction cells keep the previous codeword
    def iterCte(n: Int): String =
      s"""asg$n AS (
         |  SELECT id, s, cid, sv FROM (
         |    SELECT v.id, v.s, c.cid, v.sv,
         |      row_number() OVER (PARTITION BY v.id, v.s
         |        ORDER BY $asgD ASC, c.cid) AS rk
         |    FROM tsv v JOIN cents${n - 1} c ON c.s = v.s) WHERE rk = 1),
         |means$n AS (
         |  SELECT s, cid, ${unitSql("mcw")} AS mcw FROM (
         |    SELECT s, cid, list(mv ORDER BY pos) AS mcw FROM (
         |      SELECT s, cid, u.pos AS pos,
         |        CAST(SUM(CAST(u.x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mv
         |      FROM (SELECT s, cid, unnest(list_transform(range(len(sv)),
         |              p -> {'pos': p, 'x': sv[p+1]})) AS u
         |            FROM asg$n)
         |      GROUP BY 1, 2, 3)
         |    GROUP BY 1, 2)),
         |cents$n AS (
         |  SELECT c.s, c.cid, COALESCE(m.mcw, c.cw) AS cw
         |  FROM cents${n - 1} c LEFT JOIN means$n m ON m.s = c.s AND m.cid = c.cid)""".stripMargin
    val iters = (1 to PqLearnIters).map(iterCte).mkString(",\n")
    s"""WITH nv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ne
       |  FROM (SELECT vec_id, embedding, sqrt(${normSqSql("embedding")}) AS nrm
       |        FROM embeddings)
       |  WHERE nrm > 0),
       |corpus AS (SELECT vec_id AS id, ne FROM nv WHERE vec_id >= 16),
       |qs AS (SELECT vec_id AS q_id, ne AS qe FROM nv WHERE vec_id < 5),
       |sv AS (
       |  SELECT id, s, ${sub("ne", "s")} AS sv
       |  FROM corpus, (VALUES $subsVals) sub(s)),
       |tr AS (
       |  SELECT id, ne FROM (
       |    SELECT id, ne,
       |      row_number() OVER (ORDER BY (id * 48271 + 11) % $P, id) AS hrk
       |    FROM corpus)
       |  WHERE hrk <= $PqTrainSampleCap),
       |tsv AS (
       |  SELECT id, s, ${sub("ne", "s")} AS sv
       |  FROM tr, (VALUES $subsVals) sub(s)),
       |seeds AS (
       |  SELECT cid, ne FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY (id * 48271 + 11) % $P, id) - 1
       |      AS BIGINT) AS cid, ne
       |    FROM corpus)
       |  WHERE cid < $PqLearnK),
       |cents0 AS (
       |  SELECT s, cid,
       |    COALESCE((CASE WHEN sqrt(${normSqSql(sub("ne", "s"))}) > 0 THEN
       |      list_transform(${sub("ne", "s")},
       |        x -> x / sqrt(${normSqSql(sub("ne", "s"))})) END),
       |      ${sub("ne", "s")}) AS cw
       |  FROM seeds, (VALUES $subsVals) sub(s)),
       |$iters,
       |enc AS (
       |  SELECT cand_id, s, code FROM (
       |    SELECT v.id AS cand_id, v.s, b.cid AS code,
       |      row_number() OVER (PARTITION BY v.id, v.s
       |        ORDER BY $encD ASC, b.cid) AS erk
       |    FROM sv v JOIN cents$PqLearnIters b ON b.s = v.s) WHERE erk = 1),
       |qsv AS (
       |  SELECT q_id, s, ${sub("qe", "s")} AS sv
       |  FROM qs, (VALUES $subsVals) sub(s)),
       |dtab AS (
       |  SELECT q.q_id, b.s, b.cid AS code, $qD AS qd
       |  FROM qsv q JOIN cents$PqLearnIters b ON b.s = q.s),
       |adc AS (
       |  SELECT t.q_id, e.cand_id, $pivots AS adc
       |  FROM enc e JOIN dtab t ON t.s = e.s AND t.code = e.code
       |  GROUP BY t.q_id, e.cand_id),
       |surv AS (
       |  SELECT q_id, cand_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, cand_id) AS crk
       |  FROM adc),
       |rer AS (
       |  SELECT s.q_id, s.cand_id, $cos AS cos
       |  FROM surv s
       |  JOIN embeddings q ON q.vec_id = s.q_id
       |  JOIN embeddings c ON c.vec_id = s.cand_id
       |  WHERE s.crk <= 24),
       |ann AS (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q_id, cand_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |    FROM rer)
       |  WHERE rk <= 3),
       |ex AS (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $cos DESC, c.vec_id) AS rk
       |    FROM embeddings q, embeddings c
       |    WHERE q.vec_id < 5 AND c.vec_id >= 16)
       |  WHERE rk <= 3),
       |annq AS (SELECT q_id, count(*) AS n_pq FROM ann GROUP BY 1),
       |hits AS (
       |  SELECT e.q_id, count(*) AS n_exact,
       |    CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hits
       |  FROM ex e LEFT JOIN ann a ON a.q_id = e.q_id AND a.cand_id = e.cand_id
       |  GROUP BY e.q_id)
       |SELECT h.q_id, h.n_exact, COALESCE(q.n_pq, 0) AS n_pq, h.n_hits,
       |  h.n_hits * 1000000 // h.n_exact AS recall_ppm
       |FROM hits h LEFT JOIN annq q USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  /** Broadcast BYTE budget for [[annAssign]]'s codebook side — 2 GB,
    * comfortable against the 8 GB broadcast hard limit with driver
    * headroom for the hash relation's build. Round 16's ceiling was
    * ROW-based and dim-blind (4M rows ≈ 1.4 GB — but only at 64
    * dims; a 4M-row 1024-dim codebook is ~16 GB and still carried
    * the hint, hard-failing exactly the way the conditional hint
    * meant to prevent — round-16 VERDICT directive 6). The decision
    * is rows × estimated row BYTES against this budget. */
  val AnnBroadcastMaxBytes: Long = 2L << 30

  /** Vector dim ASSUMED by the broadcast decision when the caller
    * doesn't supply one. Erring high only demotes a would-have-fit
    * broadcast to planner choice (AQE still broadcasts from runtime
    * stats when it fits); erring low hard-fails at the broadcast
    * wall — so the unknown-dim default is a modern-encoder-sized
    * 1024, not the testdata's 64. Callers that know their dim pass
    * it and keep the hint up to the true byte ceiling. */
  val AnnAssumedDim: Int = 1024

  /** Unsafe-row byte estimate for one codebook row: dim floats plus
    * id/bucket longs, array header and field offsets. */
  def annCodebookRowBytes(dim: Int): Long =
    4L * (if (dim > 0) dim else AnnAssumedDim) + 64L

  /** The broadcast-hint decision shared by [[annAssign]] and its
    * codebook-building callers. rows < 0 = unknown count → hint kept
    * (the historical contract; every library caller passes k). */
  def annBroadcastOk(rows: Long, dim: Int = -1): Boolean =
    rows < 0 || rows * annCodebookRowBytes(dim) <= AnnBroadcastMaxBytes

  /** The row ceiling IMPLIED by the byte budget at the assumed dim —
    * for callers/specs that reason in rows (~516k at 1024 dims). */
  val AnnBroadcastMaxRows: Long = AnnBroadcastMaxBytes / annCodebookRowBytes(-1)

  /** The CORPUS-SIZING rule for LSH self-joins: the smallest plane
    * count whose expected bucket population N/2^planes is at most
    * `targetBucket`. A FIXED plane count makes bucket population grow
    * linearly with N and within-bucket pairs quadratically (the
    * round-9 ×10 rehearsal measured 15.9× wall at 10× data for
    * planes=8); sizing from a cheap count() restores near-linear
    * per-result cost WITH recall (planes=11 at ×10, PLANS.md "×10
    * rehearsal, second pass"). Pure integer arithmetic — no log2
    * float edge cases — so an oracle twin computing the same rule
    * from its own COUNT(*) picks the identical plane count. */
  def sizedPlanes(n: Long, targetBucket: Int = 16, maxPlanes: Int = 20): Int =
    (1 to maxPlanes).find(p => n <= targetBucket.toLong * (1L << p)).getOrElse(maxPlanes)

  // -------------------------------------------------------------------
  // s12: kNN JOIN — every corpus vector's top-3 neighbors (not a small
  // query set against a corpus like s1/s2: corpus×corpus). The
  // all-pairs form is O(N²) and never acceptable; the operator is the
  // LSH-bucketed self-join ON THE LIBRARY PATH ([[knnJoinAll]]) with
  // the plane count SIZED TO THE CORPUS ([[sizedPlanes]] from one
  // cheap count() — an O(1)-output scan, the price of the sizing
  // rule): same-bucket candidates only, exact cosine rerank,
  // row_number top-3 with a cand_id tiebreak, MaxBucket hot-bucket
  // cap. Vectors whose bucket is a singleton emit no rows — the
  // kNN-join contract (recall is the tables/probes dial, s10/s14
  // measure it). Scale: ONE shuffle on the bucket key; expected
  // bucket population ≤ 16 AT EVERY N because planes grow as
  // log2(N/16) — the fix for round 9's one measured superlinear
  // (fixed 8 planes: 15.9× wall at ×10 data; sized: candidate pairs
  // per vector stay O(targetBucket)). The DuckDB twin mirrors the
  // sizing rule from its own COUNT(*), so both engines pick the same
  // plane count at any SF.
  def s12(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding"))
    val planes = sizedPlanes(e.count())
    knnJoinAll(e, 3, planes).orderBy(col("q_id"), col("rk"))
  }

  /** Library API: the s12 kNN join at scale — `tables` independent
    * hash tables × `probes` least-confident flips per table (annTopK's
    * recall dials applied to the SELF-join), plus the hot-bucket cap
    * (an oversized (table, bucket) cell contributes no candidates —
    * Dedup.MaxBucket's conservative rule, which keeps a degenerate
    * corpus from going quadratic). Both sides shuffle on the
    * fixed-width (table, bucket) key; nothing is broadcast.
    *
    * SIZE `planes` TO THE CORPUS: planes ≈ log2(N / targetBucketSize).
    * A fixed plane count makes bucket population grow linearly with N
    * and within-bucket pairs quadratically; the cap then bounds the
    * COST but silently converts hot buckets into recall loss. Measured
    * on the ×10 rehearsal corpus (every vector with 9 identical twins
    * — the worst case): planes=8 capped runs 38 s and loses ~1/3 of
    * the neighbors; planes=11 (buckets ≈ N/10 again) restores them at
    * near-linear per-result cost (PLANS.md "×10 rehearsal, second
    * pass"). The cap is the safety net, never the sizing strategy —
    * [[sizedPlanes]] is the rule (s12 applies it), and
    * [[knnJoinCapAudit]] is the per-query signal that distinguishes
    * cap-depleted neighbor sets from genuine isolation. */
  def knnJoinAll(corpus: DataFrame, k: Int, planes: Int = 8, probes: Int = 0,
      tables: Int = 1, maxBucket: Int = Dedup.MaxBucket): DataFrame = {
    val s = corpus.sparkSession
    // LATE MATERIALIZATION: only (id, tbl, bucket) flows through the
    // bucket join and the pair-dedup — a 16-byte pair row instead of
    // two KB-scale embedding arrays (the round-10 plan audit measured
    // the vector-attached shuffle as the dominant volume). Vectors
    // attach ONCE per deduped pair via two id-keyed joins against the
    // corpus — co-partitioned shuffle joins at scale, broadcasts when
    // the corpus is small enough.
    val c0 = corpus.select(col("id").as("cand_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          lshBucket(col("embedding"), planes, t * planes).as("bucket"))): _*)).as("tb"))
      .select(col("cand_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val c = c0.withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(col("tbl"), col("bucket"))))
      .filter(col("__bsz") <= maxBucket).drop("__bsz")
    val q = corpus.select(col("id").as("q_id"),
      explode(flatten(array((0 until tables).map(t =>
        transform(lshProbeBuckets(col("embedding"), planes, probes, t * planes),
          bk => struct(lit(t).as("tbl"), bk.as("bucket")))): _*))).as("tb"))
      .select(col("q_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val pairs = q.join(c, Seq("tbl", "bucket")).filter(col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id")).distinct()
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    pairs
      .join(corpus.select(col("id").as("q_id"), col("embedding").as("qe")), Seq("q_id"))
      .join(corpus.select(col("id").as("cand_id"), col("embedding").as("ce")), Seq("cand_id"))
      .withColumn("cos", cosineAuto(s, col("qe"), col("ce")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("long").as("rk"), col("cand_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Library API: the CAP-LOSS AUDIT for [[knnJoinAll]] — per query,
    * how many of its probed (table, bucket) cells were suppressed by
    * the MaxBucket hot-bucket cap. The cap bounds cost by emitting NO
    * candidates from an oversized cell, so a query living in capped
    * cells comes back with zero or depleted neighbors and — without
    * this audit — that miss is indistinguishable from genuine
    * isolation (the round-9 rehearsal measured ~1/3 recall loss from
    * exactly this at planes=8/×10 before the sizing rule). One row
    * PER QUERY, including queries knnJoinAll returns nothing for:
    * (q_id, n_probes, n_capped, capped) — `capped` true ⇔ at least
    * one probed cell was over the cap ⇒ the query's neighbor set may
    * be cap-depleted rather than empty-by-isolation. Callers run it
    * beside the join (same two scans + one ≤|cells| aggregate — cell
    * sizes aggregate map-side, never pairs) and alert on
    * sum(n_capped): a nonzero trend says the planes dial is
    * undersized for the corpus ([[sizedPlanes]] is the fix, the cap
    * is only the safety net). */
  def knnJoinCapAudit(corpus: DataFrame, planes: Int = 8, probes: Int = 0,
      tables: Int = 1, maxBucket: Int = Dedup.MaxBucket): DataFrame = {
    val sizes = corpus.select(
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("tbl"),
            lshBucket(col("embedding"), planes, t * planes).as("bucket"))): _*)).as("tb"))
      .groupBy(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      .agg(count(lit(1)).as("__sz"))
    val q = corpus.select(col("id").as("q_id"),
        explode(flatten(array((0 until tables).map(t =>
          transform(lshProbeBuckets(col("embedding"), planes, probes, t * planes),
            bk => struct(lit(t).as("tbl"), bk.as("bucket")))): _*))).as("tb"))
      .select(col("q_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // plain shuffle join on (tbl, bucket): `sizes` has one row per
    // OCCUPIED cell, which under the sizedPlanes rule is ~N/target and
    // grows linearly with the corpus — a broadcast hint here would be
    // a driver OOM at exactly the scale the audit targets (round-10
    // ADVICE). AQE is free to pick a broadcast when it measures small.
    q.join(sizes, Seq("tbl", "bucket"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("__sz") > maxBucket, 1L).otherwise(0L)).as("n_capped"))
      .withColumn("capped", col("n_capped") > 0)
  }

  /** SQL twin of lshBucket with a RUNTIME plane count: bit p
    * contributes iff p < `planesExpr` (a column/scalar from the
    * mirrored sizing rule) — the unrolled maxPlanes-term form of
    * [[lshBucketSql]], bit-identical to `lshBucket(e, planes)` for
    * any planes ≤ maxPlanes. */
  def lshBucketSizedSql(e: String, planesExpr: String, maxPlanes: Int = 20): String =
    (0 until maxPlanes).map { p =>
      val sgn = s"(CASE WHEN ((((i*1103515245 + $p*2654435761 + 12345) % $P) * 48271) % $P) % 2 = 1 THEN 1.0 ELSE -1.0 END)"
      s"(CASE WHEN $p < $planesExpr AND list_sum(list_transform(generate_series(1, len($e)), i -> CAST(($e)[i] AS DOUBLE) * $sgn)) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** SQL twin of [[sizedPlanes]]: a CASE chain over the same integer
    * thresholds (smallest p with N ≤ target·2^p), generated from the
    * identical constants so both engines pick the same plane count
    * from their own row count. */
  def sizedPlanesSql(nExpr: String, targetBucket: Int = 16, maxPlanes: Int = 20): String =
    "(CASE " + (1 until maxPlanes).map(p =>
      s"WHEN $nExpr <= ${targetBucket.toLong * (1L << p)} THEN $p").mkString(" ") +
      s" ELSE $maxPlanes END)"

  val s12Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""WITH pl AS (SELECT ${sizedPlanesSql("count(*)")} AS planes FROM embeddings),
       |b AS (SELECT vec_id, embedding, CAST(${lshBucketSizedSql("embedding", "pl.planes")} AS BIGINT) AS bucket
       |      FROM embeddings, pl),
       |c AS (SELECT * FROM b QUALIFY count(*) OVER (PARTITION BY bucket) <= ${graft.operators.Dedup.MaxBucket}),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id, $cos AS cos
       |  FROM b q JOIN c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, cand_id, round(cos, 6) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |  FROM pairs)
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  // -------------------------------------------------------------------
  // s14: the FULL dial set of knnJoinAll through the oracle gate —
  // tables=2 OR-construction × probes=1 multi-probe × sized planes
  // (s12 gates the sizing rule alone; this key gates the recall dials
  // the 100 TB deployment actually turns). The DuckDB twin rebuilds
  // the per-table hyperplane dots as a DYNAMIC list (plane count from
  // the mirrored sizing rule), derives bucket = Σ 2^p·[dot_p>0] and
  // the least-confident flip = argmin (|dot|, p) — exactly
  // lshProbeBuckets' sort — and probes [bucket, bucket⊕2^flip] per
  // table. Candidate cells over MaxBucket are suppressed (cap
  // mirrored via QUALIFY); pairs dedup via DISTINCT before the exact
  // cosine rerank (tables/probes can reach a candidate twice).
  def s14(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding"))
    val planes = sizedPlanes(e.count())
    knnJoinAll(e, 3, planes, probes = 1, tables = 2).orderBy(col("q_id"), col("rk"))
  }

  val s14Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    val dots =
      s"list_transform(range(pl.planes), p -> " +
        s"list_sum(list_transform(generate_series(1, len(embedding)), i -> " +
        s"CAST(embedding[i] AS DOUBLE) * " +
        s"(CASE WHEN ((((i*1103515245 + (tbl*pl.planes + p)*2654435761 + 12345) % $P) * 48271) % $P) % 2 = 1 THEN 1.0 ELSE -1.0 END))))"
    s"""WITH pl AS (SELECT ${sizedPlanesSql("count(*)")} AS planes FROM embeddings),
       |tb AS (
       |  SELECT vec_id, embedding, tbl, $dots AS dots
       |  FROM embeddings, pl, (SELECT unnest([0, 1]) AS tbl) tt),
       |bk AS (
       |  SELECT vec_id, tbl,
       |    CAST(list_sum(list_transform(range(len(dots)), p ->
       |      CASE WHEN dots[p+1] > 0 THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS bucket,
       |    CAST(list_sort(list_transform(range(len(dots)), p ->
       |      {'a': abs(dots[p+1]), 'p': p}))[1].p AS BIGINT) AS flip
       |  FROM tb),
       |cand AS (
       |  SELECT vec_id AS cand_id, tbl, bucket FROM bk
       |  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= ${graft.operators.Dedup.MaxBucket}),
       |probes AS (
       |  SELECT vec_id AS q_id, tbl,
       |    unnest([bucket, xor(bucket, (1::BIGINT << flip))]) AS bucket
       |  FROM bk),
       |pairs AS (
       |  SELECT DISTINCT p.q_id, t.cand_id
       |  FROM probes p JOIN cand t ON p.tbl = t.tbl AND p.bucket = t.bucket
       |  WHERE p.q_id <> t.cand_id),
       |scored AS (
       |  SELECT s.q_id, s.cand_id, $cos AS cos
       |  FROM pairs s
       |  JOIN embeddings q ON q.vec_id = s.q_id
       |  JOIN embeddings c ON c.vec_id = s.cand_id)
       |SELECT q_id, CAST(rk AS BIGINT) AS rk, cand_id, round(cos, 6) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |  FROM scored)
       |WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  // -------------------------------------------------------------------
  // s13: IVF recall audit — s10's measure-don't-guess role for the
  // IVF path: per-query recall@3 of s5's nprobe=1 cell-restricted
  // search vs exact brute force ON THE SAME query/corpus split
  // (queries 8–12, corpus ≥13 — ids 0–7 are s5's centroids; s10's
  // baseline uses s1's split and would mis-score s5). nprobe=1 is
  // IVF's worst case — a query near a cell boundary loses every
  // neighbor assigned to the adjacent cell — so this audit is the
  // dial that justifies (or indicts) the probe count before scaling.
  // Integer-ppm recall, exact arithmetic everywhere.
  def s13(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val ex = cosineTopK(
      e.filter(col("vec_id") >= 8 && col("vec_id") < 13)
        .select(col("vec_id").as("id"), col("embedding")),
      e.filter(col("vec_id") >= 13).select(col("vec_id").as("id"), col("embedding")),
      3).select(col("q_id"), col("cand_id"))
    val ann = s5(s, dir).select(col("q_id"), col("cand_id"))
    val annq = ann.groupBy(col("q_id")).agg(count(lit(1)).as("n_ivf"))
    val hits = ex.join(ann.withColumn("hit", lit(1)), Seq("q_id", "cand_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hits"))
    hits.join(annq, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_ivf"), lit(0L)).as("n_ivf"), col("n_hits"),
        expr("n_hits * 1000000 div n_exact").as("recall_ppm"))
      .orderBy(col("q_id"))
  }

  val s13Sql: String = {
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""WITH expairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id, $cos AS cos
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id >= 8 AND q.vec_id < 13 AND c.vec_id >= 13),
       |ex AS (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q_id, cand_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
       |    FROM expairs)
       |  WHERE rk <= 3),
       |ann AS ($s5Sql),
       |annq AS (SELECT q_id, count(*) AS n_ivf FROM ann GROUP BY 1),
       |hits AS (
       |  SELECT e.q_id, count(*) AS n_exact,
       |    CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hits
       |  FROM ex e LEFT JOIN ann a ON a.q_id = e.q_id AND a.cand_id = e.cand_id
       |  GROUP BY e.q_id)
       |SELECT h.q_id, h.n_exact, COALESCE(q.n_ivf, 0) AS n_ivf, h.n_hits,
       |  h.n_hits * 1000000 // h.n_exact AS recall_ppm
       |FROM hits h LEFT JOIN annq q USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // s17: MMR — maximal-marginal-relevance DIVERSIFIED top-k, the
  // rerank every retrieval-for-training pipeline runs between ANN
  // recall and the consumer (a redundancy-heavy top-k wastes its
  // candidate budget on near-duplicates; MMR trades relevance against
  // similarity-to-already-selected). Greedy by definition: pick
  // argmax of round(λ·cos − (1−λ)·max_{s∈selected} cos(c,s), 6), k
  // times. The k iterations UNROLL as plan stages (d17-Lloyd's
  // pattern): each step is one anti-join (drop selected), one
  // bounded join against the pool's pairwise-cosine matrix, one
  // max_by argmax per query — all at (query × pool) grain, never
  // corpus grain, so the rerank's cost is independent of corpus size
  // (the pool is the ANN/exact top-`pool` result; at 100 TB the pool
  // stage is s1/s2's problem, MMR adds O(nQ · pool²)).
  //
  // Cross-engine determinism: every MMR comparison runs on UNROUNDED
  // doubles computed by the identical expression tree in both engines
  // (the repo's parity model — a first draft rounded the inputs 6dp
  // and then rounded the arithmetic again, and a planted sf0.01 row
  // flipped on the double-round half-way amplification); λ enters as
  // CAST(0.7 AS DOUBLE) and (1−λ) as the same IEEE subtraction, every
  // argmax tie-breaks on smallest cand_id, and only the FINAL score
  // is rounded for output. The oracle unrolls the same three greedy
  // steps as CTEs and must pick identical winners.

  /** Library API: MMR top-k over an explicit candidate pool rule —
    * queries/corpus as (id, embedding); pool = exact cosine top-N.
    * Returns (q_id, rk, cand_id, score), rk 1..k in selection order. */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, pool: Int, k: Int,
      lam: Double): DataFrame = {
    val s = queries.sparkSession
    import graft.Config.CutOps
    // pool feeds the pairwise matrix plus every greedy step — one cut
    // pays the corpus scan once (the e2e lineage rule); carries the
    // rounded cos AND the candidate's embedding
    // pool built inline (not via cosineTopK) so `cos` stays UNROUNDED:
    // every MMR comparison must run on bit-identical doubles in both
    // engines — rounding inputs and then rounding arithmetic again
    // amplifies engine round() half-way differences (a planted sf0.01
    // row caught exactly that); only the FINAL score is rounded.
    val pairs = broadcast(queries.select(col("id").as("q_id"), col("embedding").as("qe")))
      .join(corpus.select(col("id").as("cand_id"), col("embedding").as("ce")))
      .withColumn("cos", cosineAuto(s, col("qe"), col("ce")))
    val wP = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    val withE = pairs.withColumn("rk", row_number().over(wP)).filter(col("rk") <= pool)
      .select(col("q_id"), col("cand_id"), col("cos"), col("ce").as("__e"))
      .cutLineage()
    val cands = withE.select(col("q_id"), col("cand_id"), col("cos"))
    val cc = withE.select(col("q_id"), col("cand_id").as("a_id"), col("__e").as("__ea"))
      .join(withE.select(col("q_id"), col("cand_id").as("b_id"), col("__e").as("__eb")),
        Seq("q_id"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("ccos", cosineAuto(s, col("__ea"), col("__eb")))
      .select(col("q_id"), col("a_id"), col("b_id"), col("ccos"))
      .cutLineage()
    // step 1: pure relevance (div = 0 — nothing selected yet)
    var selected = cands.groupBy(col("q_id"))
      .agg(max_by(
        struct(col("cand_id"), round(lit(lam) * col("cos"), 6).as("score")),
        struct(col("cos"), -col("cand_id"))).as("__p"))
      .select(col("q_id"), lit(1L).as("rk"),
        col("__p.cand_id").as("cand_id"), col("__p.score").as("score"))
    for (j <- 2 to k) {
      val selSet = selected
        .select(col("q_id").as("__sq"), col("cand_id").as("__sid"))
      val remaining = cands.join(selSet,
        col("q_id") === col("__sq") && col("cand_id") === col("__sid"), "left_anti")
      val div = cc.join(selSet,
          col("q_id") === col("__sq") && col("b_id") === col("__sid"))
        .groupBy(col("q_id"), col("a_id").as("cand_id"))
        .agg(max(col("ccos")).as("__div"))
      val pick = remaining.join(div, Seq("q_id", "cand_id"))
        .withColumn("__sraw", lit(lam) * col("cos") - lit(1 - lam) * col("__div"))
        .groupBy(col("q_id"))
        .agg(max_by(struct(col("cand_id"), round(col("__sraw"), 6).as("score")),
          struct(col("__sraw"), -col("cand_id"))).as("__p"))
        .select(col("q_id"), lit(j.toLong).as("rk"),
          col("__p.cand_id").as("cand_id"), col("__p.score").as("score"))
      selected = selected.unionByName(pick).cutLineage()
    }
    selected
  }

  def s17(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    mmrTopK(
      e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
      e.filter(col("vec_id") >= 16).select(col("vec_id").as("id"), col("embedding")),
      pool = 8, k = 3, lam = 0.7)
      .orderBy(col("q_id"), col("rk"))
  }

  /** DuckDB twin: the three greedy steps unrolled as CTEs (d17Sql's
    * pattern), every input the same rounded 6dp cosine, λ the same
    * CAST(0.7 AS DOUBLE) IEEE value. */
  val s17Sql: String = {
    val qcos = cosineSql("q.embedding", "c.embedding")
    val pcos = cosineSql("ea.embedding", "eb.embedding")
    val lam = "CAST(0.7 AS DOUBLE)"
    s"""WITH pool AS (
       |  SELECT q_id, cand_id, cos FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS cand_id, $qcos AS cos,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $qcos DESC, c.vec_id) AS rk
       |    FROM embeddings q, embeddings c
       |    WHERE q.vec_id < 5 AND c.vec_id >= 16)
       |  WHERE rk <= 8),
       |cc AS (
       |  SELECT pa.q_id, pa.cand_id AS a_id, pb.cand_id AS b_id,
       |    $pcos AS ccos
       |  FROM pool pa
       |  JOIN pool pb ON pb.q_id = pa.q_id AND pb.cand_id <> pa.cand_id
       |  JOIN embeddings ea ON ea.vec_id = pa.cand_id
       |  JOIN embeddings eb ON eb.vec_id = pb.cand_id),
       |s1 AS (
       |  SELECT q_id, cand_id, round($lam * cos, 6) AS score FROM (
       |    SELECT q_id, cand_id, cos,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, cand_id) AS rk
       |    FROM pool) WHERE rk = 1),
       |r2 AS (
       |  SELECT p.q_id, p.cand_id,
       |    $lam * p.cos - (1 - $lam) * max(c.ccos) AS sraw
       |  FROM pool p
       |  JOIN s1 ON s1.q_id = p.q_id AND p.cand_id <> s1.cand_id
       |  JOIN cc c ON c.q_id = p.q_id AND c.a_id = p.cand_id
       |    AND c.b_id = s1.cand_id
       |  GROUP BY p.q_id, p.cand_id, p.cos),
       |s2 AS (
       |  SELECT q_id, cand_id, round(sraw, 6) AS score FROM (
       |    SELECT q_id, cand_id, sraw,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sraw DESC, cand_id) AS rk
       |    FROM r2) WHERE rk = 1),
       |r3 AS (
       |  SELECT p.q_id, p.cand_id,
       |    $lam * p.cos - (1 - $lam) * max(c.ccos) AS sraw
       |  FROM pool p
       |  JOIN s1 ON s1.q_id = p.q_id
       |  JOIN s2 ON s2.q_id = p.q_id
       |  JOIN cc c ON c.q_id = p.q_id AND c.a_id = p.cand_id
       |    AND c.b_id IN (s1.cand_id, s2.cand_id)
       |  WHERE p.cand_id <> s1.cand_id AND p.cand_id <> s2.cand_id
       |  GROUP BY p.q_id, p.cand_id, p.cos),
       |s3 AS (
       |  SELECT q_id, cand_id, round(sraw, 6) AS score FROM (
       |    SELECT q_id, cand_id, sraw,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sraw DESC, cand_id) AS rk
       |    FROM r3) WHERE rk = 1)
       |SELECT q_id, CAST(1 AS BIGINT) AS rk, cand_id, score FROM s1
       |UNION ALL SELECT q_id, CAST(2 AS BIGINT) AS rk, cand_id, score FROM s2
       |UNION ALL SELECT q_id, CAST(3 AS BIGINT) AS rk, cand_id, score FROM s3
       |ORDER BY q_id, rk""".stripMargin
  }

  // -------------------------------------------------------------------
  // s19: HYBRID RETRIEVAL — BM25 lexical scoring fused with dense
  // cosine ranking by Reciprocal Rank Fusion (Cormack/Clarke/Büttcher's
  // rrf = Σ 1/(k + rank), k = 60), the standard two-tower retrieval
  // stack a RAG or dedup-audit pipeline runs over a curated corpus:
  // lexical recall catches exact terminology the embedding smooths
  // over, dense recall catches paraphrase the lexicon misses, and rank
  // fusion needs NO score calibration between the two (only ranks
  // cross the boundary — which is also what makes it replayable
  // cross-engine: ranks are integers).
  //
  // Queries are documents 0–4 IN BOTH MODALITIES (vec_id == doc_id in
  // the corpus contract): the text feeds BM25, the embedding feeds
  // cosine. Corpus = ids ≥ 16 (s18's split). BM25 (k1 = 1.2, b = 0.75,
  // Lucene's +1-smoothed log idf re-based to log10 — t16's cross-engine
  // log): query terms are the DISTINCT tokens (binary query tf — the
  // short-query convention); per-term contributions are rounded 8dp
  // and DECIMAL-summed so the per-(q, cand) score is addition-order
  // free, then rounded 4dp BEFORE ranking (t16's discipline). Each
  // side ranks its top-20; rrf = round(1/(60+lex) + 1/(60+vec), 6dp)
  // over the outer-joined lists (a candidate on one list only scores
  // that one reciprocal), ties → cand_id, top-5 per query.
  //
  // Scale shape: the lexical side is t16's cost class — tf at
  // (doc, term) grain with map-side partial agg, df bounded by
  // VOCABULARY (Heaps-sublinear), the 1-row stats scalar broadcast
  // (q23's pattern), query terms broadcast into the term-keyed tf join
  // (5 docs — metadata-sized); the dense side is s1's broadcast scan;
  // the fusion joins two (|Q|·20)-row frames — driver-trivial at any
  // corpus size. At 100 TB the dense side swaps to the IVF/PQ path
  // (s5/s18) with rrf UNCHANGED — rank fusion is oblivious to how
  // either list was produced.
  private val RrfC = 60L
  private val HybridDepth = 20
  private val HybridTopK = 5

  def s19(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val docs = Tables.documents(s, dir)
    val e = Tables.embeddings(s, dir)
    // ---- lexical: BM25 over the corpus documents
    val ctoks = docs.filter(col("doc_id") >= 16)
      .select(col("doc_id").as("cand_id"), explode(tokens(col("text"))).as("term"))
    val tf = ctoks.groupBy(col("cand_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dlen = tf.groupBy(col("cand_id")).agg(sum(col("tf")).as("dl"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dlen.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
    val contrib = tf.join(broadcast(qterms), Seq("term"))
      .join(dft, Seq("term"))
      .join(dlen, Seq("cand_id"))
      .crossJoin(broadcast(stats)) // provably 1 row
      .withColumn("idf",
        log10((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("c",
        (col("idf") * (col("tf") * lit(2.2))) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    val wL = Window.partitionBy(col("q_id")).orderBy(col("bm25").desc, col("cand_id"))
    val lex = contrib.groupBy(col("q_id"), col("cand_id"))
      .agg(round(sum(round(col("c"), 8).cast("decimal(20,10)")).cast("double"), 4).as("bm25"))
      .withColumn("lex_rank", row_number().over(wL).cast("long"))
      .filter(col("lex_rank") <= HybridDepth)
    // ---- dense: s1's broadcast cosine scan, same depth
    val vec = cosineTopK(
        e.filter(col("vec_id") < 5).select(col("vec_id").as("id"), col("embedding")),
        e.filter(col("vec_id") >= 16).select(col("vec_id").as("id"), col("embedding")),
        HybridDepth)
      .select(col("q_id"), col("cand_id"), col("rk").as("vec_rank"))
    // ---- fusion: reciprocal ranks, fixed lex-then-vec addition order
    val wF = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("cand_id"))
    lex.select(col("q_id"), col("cand_id"), col("lex_rank"))
      .join(vec, Seq("q_id", "cand_id"), "outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfC) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("vec_rank")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(wF).cast("long"))
      .filter(col("rank") <= HybridTopK)
      .select(col("q_id"), col("cand_id"), col("lex_rank"), col("vec_rank"),
        col("rrf"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB twin: the same tf/df/dl/avgdl pipeline (t16's tokenizer),
    * the same literal BM25 formula with 8dp-round + DECIMAL term sums,
    * s1's cosine ranking at depth 20, and the same rounded rrf over a
    * FULL OUTER join. */
  val s19Sql: String = {
    import graft.functions.TextFunctions.tokensSql
    val cos = cosineSql("q.embedding", "c.embedding")
    s"""WITH ctoks AS (
       |  SELECT doc_id AS cand_id, unnest(${tokensSql("text")}) AS term
       |  FROM documents WHERE doc_id >= 16),
       |tf AS (SELECT cand_id, term, count(*) AS tf FROM ctoks GROUP BY 1, 2),
       |dlen AS (SELECT cand_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (
       |  SELECT count(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dlen),
       |qterms AS (
       |  SELECT DISTINCT q_id, term FROM (
       |    SELECT doc_id AS q_id, unnest(${tokensSql("text")}) AS term
       |    FROM documents WHERE doc_id < 5)),
       |contrib AS (
       |  SELECT q.q_id, t.cand_id,
       |    (log10((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
       |      * (t.tf * 2.2))
       |      / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS c
       |  FROM tf t
       |  JOIN qterms q ON q.term = t.term
       |  JOIN dft d ON d.term = t.term
       |  JOIN dlen l ON l.cand_id = t.cand_id
       |  CROSS JOIN stats s),
       |lex AS (
       |  SELECT q_id, cand_id, lex_rank FROM (
       |    SELECT q_id, cand_id,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY bm25 DESC, cand_id) AS BIGINT) AS lex_rank
       |    FROM (
       |      SELECT q_id, cand_id,
       |        round(CAST(SUM(CAST(round(c, 8) AS DECIMAL(20,10))) AS DOUBLE), 4) AS bm25
       |      FROM contrib GROUP BY 1, 2))
       |  WHERE lex_rank <= $HybridDepth),
       |vpairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id, $cos AS cos
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id < 5 AND c.vec_id >= 16),
       |vec AS (
       |  SELECT q_id, cand_id, vec_rank FROM (
       |    SELECT q_id, cand_id,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, cand_id) AS BIGINT) AS vec_rank
       |    FROM vpairs)
       |  WHERE vec_rank <= $HybridDepth),
       |fused AS (
       |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
       |    COALESCE(l.cand_id, v.cand_id) AS cand_id,
       |    l.lex_rank, v.vec_rank,
       |    round(COALESCE(1.0 / ($RrfC + l.lex_rank), 0.0)
       |      + COALESCE(1.0 / ($RrfC + v.vec_rank), 0.0), 6) AS rrf
       |  FROM lex l FULL OUTER JOIN vec v
       |    ON v.q_id = l.q_id AND v.cand_id = l.cand_id)
       |SELECT q_id, cand_id, lex_rank, vec_rank, rrf, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf DESC, cand_id) AS BIGINT) AS rank
       |  FROM fused)
       |WHERE rank <= $HybridTopK
       |ORDER BY q_id, rank""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s19_rrf_hybrid" -> (s19 _),
    "s18_pq_learned" -> (s18 _),
    "s17_mmr_topk" -> (s17 _),
    "s16_pq_recall" -> (s16 _),
    "s15_mips_ann" -> (s15 _),
    "s14_knn_join_dials" -> (s14 _),
    "s13_ivf_recall" -> (s13 _),
    "s12_knn_join" -> (s12 _),
    "s11_pq_adc" -> (s11 _),
    "s10_ann_recall" -> (s10 _),
    "s9_sq8_rerank" -> (s9 _),
    "s8_filtered_topk" -> (s8 _),
    "s7_range_search" -> (s7 _),
    "s6_mips_topk" -> (s6 _),
    "s1_cosine_topk" -> (s1 _), "s2_ann_lsh" -> (s2 _),
    "s3_vector_stats" -> (s3 _), "s4_knn_classify" -> (s4 _), "s5_ivf_ann" -> (s5 _))

  def oracles: Map[String, String] = Map(
    "s19_rrf_hybrid" -> s19Sql, // BM25 + cosine + rank fusion, all replayed
    "s18_pq_learned" -> s18Sql, // unrolled-training replay + s16's audit
    "s17_mmr_topk" -> s17Sql,
    "s16_pq_recall" -> s16Sql,
    "s15_mips_ann" -> s15Sql,
    "s14_knn_join_dials" -> s14Sql,
    "s13_ivf_recall" -> s13Sql,
    "s12_knn_join" -> s12Sql,
    "s11_pq_adc" -> s11Sql,
    "s10_ann_recall" -> s10Sql,
    "s9_sq8_rerank" -> s9Sql,
    "s8_filtered_topk" -> s8Sql,
    "s7_range_search" -> s7Sql,
    "s6_mips_topk" -> s6Sql,
    "s1_cosine_topk" -> s1Sql, "s2_ann_lsh" -> s2Sql, "s3_vector_stats" -> s3Sql,
    "s4_knn_classify" -> s4Sql, "s5_ivf_ann" -> s5Sql)
}
