package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.Dedup
import graft.Config.CutOps

/** End-to-end corpus curation — the composed pipeline an LLM
  * training-data build runs over raw documents (the shape of CCNet /
  * Dolma-style curation), assembled from this library's own operators:
  *
  *  1. min_tokens      whitespace-token floor (t1's counter)
  *  2. quality         t2's heuristic ≥ threshold
  *  2b. gopher_rules   t15's Gopher document-shape rules: token
  *                     bounds, word length, alpha fraction, stopword
  *                     variety — integer flags (off by default)
  *  2c. model_quality  trained fastText-shape classifier gate
  *                     ([[QualityClassifier]]): hashed-n-gram LR
  *                     P(quality) ≥ threshold (off by default)
  *  3. repetition      t9's Gopher signals: top-token fraction +
  *                     duplicate-trigram fraction (off by default)
  *  4. language        t3's marker language-ID == cfg.lang
  *  5. lm_quality      t8's corpus-unigram-LM score ≥ floor — the
  *                     CCNet-style perplexity gate (off by default)
  *  6. exact_dedup     d1's md5 keep-min, among prior survivors
  *  7. near_dedup      d3's minhash-LSH candidates → shingle-Jaccard ≥ τ
  *                     verify → d7's connected components → keep minima
  *  8. semantic_dedup  d11's keep-first pruning inside quantizer cells
  *                     over a caller-supplied embeddings frame —
  *                     paraphrases share no shingles but collapse in
  *                     embedding space (off by default)
  *  9. decontaminated  d6's word-k-gram overlap vs a held-out eval set
  *  10. sampled        m15's integer-hash threshold, capped per source
  *  11. token_budget   t13's per-source greedy quality-ranked token
  *                     budget (off by default)
  *
  * Passage-level surgery (d12, `Dedup.scrubSharedSpans`) is a
  * PRE-pass, not a stage: it rewrites text rather than dropping rows,
  * so it runs before curation and the scrubbed `clean_text` feeds in
  * as the text column — the short husks it leaves behind then fall to
  * the min_tokens/quality gates like any other thin doc (the
  * Dolma-style order of operations; CorpusSpec composes the two).
  *
  * Scale shape: the row-local stages (1-2, 4, and the trigram half of
  * 3) are boolean flags computed in ONE map-side pass; the doc-keyed
  * stages (3's top-token, 5) shuffle only on doc_id; the corpus-level
  * stages (6-8) are the same
  * bucket-join shapes their operators use (hash-groupBy on md5, banded
  * LSH self-join with bucket caps, n-gram equi-join with a bloom
  * pre-filter) joined back as flags; the attrition report is ONE
  * aggregation of cumulative-survivor counts; `kept` is one filter.
  * Nothing is collected; every per-row decision is local after
  * broadcast-sized joins.
  *
  * Flags are CUMULATIVE (`f_quality` means "passed tokens AND
  * quality"), and each corpus-level stage only considers survivors of
  * the previous stages — a filtered-out duplicate can't absorb a
  * keep-slot from a surviving one.
  */
object Corpus {

  /** Curation thresholds. `evalSet` needs the same text/id columns as
    * the corpus; `samplePerSource` caps each source's contribution
    * (expected count; hash thresholding is target ± binomial). */
  final case class Config(
      minTokens: Long = 5,
      minQuality: Double = 0.2,
      lang: Option[String] = Some("en"),
      nearDupTau: Double = 0.9,
      evalSet: Option[DataFrame] = None,
      ngramK: Int = 5,
      samplePerSource: Option[Long] = None,
      /** t15's Gopher RULE gate (Rae et al. 2021): token-count bounds,
        * mean-word-length [3,10], 80% alpha-word fraction, ≥2 distinct
        * required stopwords — all integer comparisons, map-only.
        * Complements the repetition gates below (those are Gopher's
        * REPETITION rules; these are its document-shape rules). */
      gopherRules: Boolean = false,
      /** Trained quality gate ([[QualityClassifier]] — the fastText-
        * shape hashed-n-gram LR the GPT-3/LLaMA pipelines run where
        * t2's ratios are the bootstrap): drop docs whose model
        * P(quality) falls below `minModelProb`. The model trains on a
        * labeled SEED (known-good vs known-bad corpora, or a
        * heuristic-labeled sample) outside curate — scoring here is
        * one stateless map-side transform. None = gate off. */
      qualityModel: Option[QualityClassifier.Model] = None,
      /** Path form of `qualityModel` (a [[QualityClassifier.save]]
        * artifact): the production wiring, where the gate is trained
        * once and every curate run reloads it — `qualityModel` (the
        * in-memory form) wins if both are set. */
      qualityModelPath: Option[String] = None,
      minModelProb: Double = 0.5,
      /** FROZEN-SCORE form of the model gate: a deterministic score
        * expression (given the text column) thresholded at
        * `minModelProb` in the model_quality slot. This is how a
        * trained gate's scores deploy once frozen — scoring is a
        * stateless column, wherever the scores came from — and it is
        * what makes the 13-stage COMPOSITION cross-engine replayable
        * (e2e_curate_fixed): a live `qualityModel` wins if both are
        * set, and its MLlib scores have no SQL twin. */
      frozenModelScore: Option[Column => Column] = None,
      /** Gopher repetition gates: drop docs whose most frequent token
        * exceeds this fraction / whose duplicate-trigram fraction
        * exceeds this fraction. None = gate off. */
      maxTopTokFrac: Option[Double] = None,
      maxDupTrigramFrac: Option[Double] = None,
      /** CCNet-style LM gate: drop docs whose average per-token log10
        * unigram probability (under the CORPUS unigram LM, t8) is
        * below this floor. None = gate off. */
      minAvgLogProb: Option[Double] = None,
      /** d11's semantic-dedup stage: an embeddings frame carrying the
        * corpus id column plus an `embedding` array<float> column.
        * Among prior survivors, a row is dropped iff an earlier-id
        * same-cell row is ≥ `semanticTau` cosine-similar
        * (keep-first, [[Dedup.semanticDedup]]); a survivor with no
        * embedding row passes through. None = stage off. */
      embeddings: Option[DataFrame] = None,
      semanticTau: Double = 0.9,
      semanticK: Int = 8,
      /** ANN-assisted centroid assignment for the semantic stage
        * (Hamming probe radius; [[Dedup.semanticDedup]]'s dial).
        * REQUIRED once semanticK is sized to the corpus
        * (Dedup.sizedCells): exact assignment is N·k per pass —
        * N²/targetCell when k scales with N, the measured d15 trap.
        * None = exact (right for small fixed k and for twin-exact
        * spec baselines). */
      semanticAnnProbes: Option[Int] = None,
      /** Seed hash for the semantic stage's k-means init
        * ([[Dedup.semanticDedup]]'s dial): the default engine hash is
        * right in production; an oracle-gated composition passes the
        * portable LCG ((id·48271 + 11) mod 2^31−1, d15's rule) so
        * DuckDB picks the same seeds. */
      semanticSeedHash: Column => Column = xxhash64(_),
      /** t13's token-budget stage: per source, keep survivors from
        * highest quality down until this many tokens are taken
        * (greedy prefix on (6dp-rounded quality DESC, id) — the
        * boundary doc may overshoot). Composes with samplePerSource:
        * the count cap randomizes, the budget then takes the best
        * tokens of what remains. None = stage off. */
      tokenBudgetPerSource: Option[Long] = None,
      /** Pre-hash for the sampler key (stage 10). Default wraps the id
        * in xxhash64 so NON-INTEGER id columns still key
        * deterministically; an integer id can key [[Sampling.bucket]]
        * directly (identity) — same keep/drop quality (the bucket hash
        * does the mixing), and portable to the oracle engine. */
      sampleIdHash: Column => Column = xxhash64(_))

  /** `kept` = curated corpus (original columns); `flagged` = every
    * input row with its cumulative stage flags (audit trail);
    * `report` = (stage, surviving) attrition counts. */
  final case class Result(kept: DataFrame, flagged: DataFrame, report: DataFrame)

  def curate(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      sourceCol: String = "source", cfg: Config = Config()): Result = {
    val id = col(idCol)

    // stages 1-2: row-local flags, one pass
    val f1 = size(tokens(col(textCol))).cast("long") >= cfg.minTokens
    val f2 = qualityScore(col(textCol)) >= cfg.minQuality
    val flagged0raw = docs
      .withColumn("f_tokens", f1)
      .withColumn("f_quality", col("f_tokens") && f2)

    // stage 2b: t15's Gopher rule gate — still row-local integer
    // arithmetic in the same map pass (the gopherFilter expressions
    // inlined so the flag composes cumulatively)
    val fGopher = if (!cfg.gopherRules) col("f_quality") else {
      val toks = tokens(col(textCol))
      val n = size(toks).cast("long")
      val sl = aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long"))
      val na = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
      val ns = size(array_intersect(array_distinct(toks),
        array(Stopwords.map(lit(_)): _*))).cast("long")
      col("f_quality") && n >= 50L && n <= 100000L &&
        sl >= n * 3L && sl <= n * 10L && na * 5L >= n * 4L && ns >= 2L
    }
    val flagged0g = flagged0raw.withColumn("f_gopher", fGopher)

    // stage 2c: trained quality gate — the model's transform is a
    // row-local expression tree (hashed-n-gram features + a dot
    // product), so the flag joins the same map pass as 1-2b; the
    // scoring columns are dropped to preserve the column contract
    val resolvedModel = cfg.qualityModel.orElse(
      cfg.qualityModelPath.map(p => QualityClassifier.load(docs.sparkSession, p)))
    val flagged0 = resolvedModel match {
      case Some(m) =>
        QualityClassifier.score(m, flagged0g, textCol)
          .withColumn("f_model",
            col("f_gopher") && col("q_prob") >= cfg.minModelProb)
          .drop("q_prob", "q_pred")
      case None => cfg.frozenModelScore match {
        case Some(fs) => flagged0g.withColumn("f_model",
          col("f_gopher") && fs(col(textCol)) >= cfg.minModelProb)
        case None => flagged0g.withColumn("f_model", col("f_gopher"))
      }
    }

    // stage 3: Gopher repetition gates. Duplicate-trigram fraction is
    // row-local (HOFs over the shingle array); the top-token fraction
    // needs only max(count)/sum(count) per doc — a doc-keyed two-level
    // agg on survivors (t9's doc-local shuffle shape, minus the
    // window: the arg-max TOKEN isn't needed, just its count)
    val flaggedR = if (cfg.maxTopTokFrac.isEmpty && cfg.maxDupTrigramFrac.isEmpty)
      flagged0.withColumn("f_repetition", col("f_model"))
    else {
      val dupOk = cfg.maxDupTrigramFrac.map { m =>
        val allk = shinglesAllK(tokens(col(textCol)), 3)
        // docs too short for trigrams pass — guarded with when(), not
        // coalesce: ANSI divide-by-zero is an ERROR, not a null, so an
        // unguarded x/size(allk) crashes the whole run on any ≤2-token
        // doc (found by the full-stack planted-victim spec: the
        // min_tokens victim killed the repetition gate)
        when(size(allk) > 0,
          lit(1.0) - size(array_distinct(allk)).cast("double") / size(allk))
          .otherwise(lit(0.0)) <= m
      }.getOrElse(lit(true))
      val base = flagged0.withColumn("__dup_ok", dupOk)
      cfg.maxTopTokFrac match {
        case None =>
          base.withColumn("f_repetition", col("f_model") && col("__dup_ok")).drop("__dup_ok")
        case Some(m) =>
          // the drop SET is tiny (only docs over the frac) at any
          // scale — cutting it keeps the flag spine's analysis tree
          // linear (an uncut drop subtree embeds a second copy of the
          // whole upstream pipeline in every later stage's plan; the
          // composed ledger's DataFrame CONSTRUCTION alone measured
          // 9.6 s of driver-side Catalyst analysis before the r18
          // aux-frame cuts, guide §3.3/§7.3 "planning time itself can
          // become the bottleneck")
          val drops = base.filter(col("f_model"))
            .select(id.as("__rid"), explode(tokens(col(textCol))).as("__tok"))
            .groupBy(col("__rid"), col("__tok")).agg(count(lit(1)).as("__cnt"))
            .groupBy(col("__rid"))
            .agg((max(col("__cnt")).cast("double") / sum(col("__cnt"))).as("__ttf"))
            .filter(col("__ttf") > m).select(col("__rid").as("__rdrop"))
            .cutLineage()
          base.join(drops, id === col("__rdrop"), "left")
            .withColumn("f_repetition",
              col("f_model") && col("__dup_ok") && col("__rdrop").isNull)
            .drop("__dup_ok", "__rdrop")
      }
    }

    // stage 4: language — row-local flag on repetition survivors.
    //
    // The stage-1..4 frame is materialized ONCE (round 15 —
    // `Probe stages` measurement, PLANS.md): every downstream branch
    // (the LM token frame, the exact-dedup keep set, the near-dup
    // band/shingle frames, decontamination's corpus side, the sampler
    // counts, the budget window, and the final ledger pass) otherwise
    // carries the full stage-1..4 lineage and re-runs the row-local
    // tokenize/quality/Gopher expressions per branch — the composed
    // ledger was paying the upstream pipeline 2× at ×10 (38.3 s vs a
    // 17.4 s single pass) and it dominated the ×100 exponent (0.72).
    val f3 = cfg.lang.map(l => predLang(col(textCol)) === l).getOrElse(lit(true))
    val flaggedL = flaggedR.withColumn("f_lang", col("f_repetition") && f3)
      .cutLineage()

    // stage 5: corpus-unigram-LM quality (t8's shape on survivors):
    // ONE rollup yields per-token counts and the grand total
    // (ReuseExchange), and doc scoring is a doc-keyed agg. The tf join
    // is UNHINTED (t8's rationale: AQE broadcasts from runtime size
    // when the vocabulary is small, demotes to a token-keyed shuffle
    // join when a web-scale vocabulary would OOM a forced broadcast).
    // `toks` is materialized once: its two consumers (the tf rollup on
    // __tok, the scoring groupBy on __lid) shuffle on DIFFERENT keys,
    // so ReuseExchange can't serve both and the whole upstream flag
    // pipeline would be re-run per consumer — d8's cut pattern.
    val flaggedM = cfg.minAvgLogProb match {
      case None => flaggedL.withColumn("f_lm", col("f_lang"))
      case Some(minLp) =>
        val toks = flaggedL.filter(col("f_lang"))
          .select(id.as("__lid"), explode(tokens(col(textCol))).as("__tok"))
          .cutLineage()
        val tfAll = toks.rollup(col("__tok")).agg(count(lit(1)).as("__tf"))
        val tf = tfAll.filter(col("__tok").isNotNull)
        val total = tfAll.filter(col("__tok").isNull).select(col("__tf").as("__total"))
        // drop set cut for the same linear-analysis reason as the
        // repetition stage's (tiny output: ids below the LM floor)
        val drops = toks.join(tf, Seq("__tok")).crossJoin(broadcast(total))
          .groupBy(col("__lid"))
          .agg((avg(log10(col("__tf").cast("double"))) -
            first(log10(col("__total").cast("double")))).as("__lp"))
          .filter(col("__lp") < minLp).select(col("__lid").as("__ldrop"))
          .cutLineage()
        flaggedL.join(drops, id === col("__ldrop"), "left")
          .withColumn("f_lm", col("f_lang") && col("__ldrop").isNull)
          .drop("__ldrop")
    }

    // stage 6: exact dedup among prior survivors — keep-min id per
    // 16-byte md5 group as ONE window over the hash (r18: was a
    // groupBy(md5)+left-join-back, i.e. two shuffles on the same key
    // and a second copy of the whole upstream pipeline in the join's
    // right subtree; the window form is one exchange on __h and zero
    // plan duplication — guide §2.4 "two operations keyed the same
    // way can share one exchange", taken to its limit). min(when(
    // f_lm, id)) over the hash partition is exactly the old keep set:
    // NULL (no survivor in the group) makes f_exact false for every
    // row, non-survivors fail the f_lm conjunct either way. Window
    // partitions are duplicate groups — bounded at any scale.
    val wExact = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    // flagged1 feeds THREE consumers (the near-dup candidate build,
    // the shingle frame, and the continuing spine) — cut it so the
    // md5-window exchange + the LM drop join run once, not per branch
    // (r19; same one-checkpoint rule as flaggedL above).
    val flagged1 = flaggedM.withColumn("__h", md5(col(textCol)))
      .withColumn("__keep", min(when(col("f_lm"), id)).over(wExact))
      .withColumn("f_exact", col("f_lm") && col("__keep") === id)
      .drop("__h", "__keep")
      .cutLineage()

    // stage 7: near-dup dedup among exact survivors — LSH candidates,
    // exact Jaccard verify, connected components, drop non-minima
    val surv4 = flagged1.filter(col("f_exact")).select(id, col(textCol))
    val dropNear = Dedup.connectedComponents(
        Dedup.verifiedNearDupPairs(surv4, textCol, idCol, cfg.nearDupTau))
      .filter(col("id") =!= col("cluster")).select(col("id").as("__drop"))
    val flagged2 = flagged1.join(dropNear, id === col("__drop"), "left")
      .withColumn("f_neardup", col("f_exact") && col("__drop").isNull)
      .drop("__drop")

    // stage 8: semantic dedup among lexical survivors — d11's cells +
    // keep-first pruning over the caller's embeddings. Only survivor
    // embeddings enter (a lexically-dropped doc can't shield its
    // semantic twin); a survivor without an embedding row passes.
    val flaggedSem = cfg.embeddings match {
      case Some(emb) =>
        val surv = flagged2.filter(col("f_neardup")).select(id.as("__eid"))
        // materialize: semanticDedup's trainCodebook evaluates its
        // input 6+ times (init + per-iteration checkpoints), and
        // embSurv's lineage is the ENTIRE lexical pipeline above —
        // without this the quality/LM/dedup stages re-execute per
        // k-means iteration (connectedComponents' own lesson)
        val embSurv = emb.join(surv, emb(idCol) === col("__eid")).drop("__eid")
          .cutLineage()
        // collapseExact = false — a perf choice, stated precisely:
        // stage 5's exact dedup removes byte-identical TEXTS, and this
        // corpus's embeddings are text-derived, so byte-identical
        // embeddings among survivors need two distinct texts to embed
        // to the same bits — rare enough that the by-vector collapse
        // shuffle is overhead here (+32 s at ×100, measured adjacent).
        // The trade when it does happen: such twins keep the
        // UNCOLLAPSED semantics (cap-suppressed pairs in an oversized
        // cell are conservatively kept), i.e. curate's pre-round-15
        // behavior, never a wrong pair.
        val drops = Dedup.semanticDedup(embSurv, idCol, "embedding",
            cfg.semanticK, cfg.semanticTau, seedHash = cfg.semanticSeedHash,
            annProbes = cfg.semanticAnnProbes, collapseExact = false)
          .filter(!col("kept")).select(col("id").as("__sdrop"))
          .cutLineage() // tiny drop set, linear analysis
        flagged2.join(drops, id === col("__sdrop"), "left")
          .withColumn("f_semdup", col("f_neardup") && col("__sdrop").isNull)
          .drop("__sdrop")
      case None => flagged2.withColumn("f_semdup", col("f_neardup"))
    }

    // stage 9: decontamination — drop corpus docs sharing a word-k-gram
    // with the eval set (ngramContamination flags its `eval` argument,
    // and overlap is symmetric, so the corpus goes in as `eval`)
    val flagged3 = cfg.evalSet match {
      case Some(ev) =>
        val contaminated = Dedup.ngramContamination(
            ev, flaggedSem.filter(col("f_semdup")).select(id, col(textCol)),
            textCol, idCol, cfg.ngramK)
          .filter(col("contaminated")).select(col("id").as("__cid"))
          .cutLineage() // tiny drop set, linear analysis
        flaggedSem.join(contaminated, id === col("__cid"), "left")
          .withColumn("f_clean", col("f_semdup") && col("__cid").isNull)
          .drop("__cid")
      case None => flaggedSem.withColumn("f_clean", col("f_semdup"))
    }

    // stage 10: per-source cap — m15's shape (per-source counts → integer
    // hash thresholds broadcast back → map-side filter; no windows)
    val flagged4 = cfg.samplePerSource match {
      case Some(target) =>
        val counts = flagged3.filter(col("f_clean"))
          .groupBy(col(sourceCol)).agg(count(lit(1)).as("__n_c"))
        val thr = counts.select(col(sourceCol),
          expr(s"(${graft.functions.Sampling.Buckets}L * least(${target}L, __n_c)) div __n_c").as("__thr"))
          .cutLineage() // O(#sources) rows, linear analysis
        // Sampling.bucket is the ONE sampler hash (m15/m16's);
        // sampleIdHash (default xxhash64) pre-keys so non-integer id
        // columns still key deterministically.
        flagged3.join(broadcast(thr), Seq(sourceCol), "left")
          .withColumn("f_sampled", col("f_clean") &&
            graft.functions.Sampling.bucket(cfg.sampleIdHash(id)) < coalesce(col("__thr"), lit(0L)))
          .drop("__thr")
      case None => flagged3.withColumn("f_sampled", col("f_clean"))
    }

    // stage 11: per-source token budget — t13's shape (one hash
    // shuffle by source for the prefix-sum window over sampled
    // survivors; the walk order is (6dp-rounded quality DESC, id), so
    // the kept set is deterministic and engine-independent)
    val flagged5 = cfg.tokenBudgetPerSource match {
      case Some(b) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__bsrc")).orderBy(col("__q").desc, col("__bid"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val drops = flagged4.filter(col("f_sampled"))
          .select(id.as("__bid"), col(sourceCol).as("__bsrc"),
            size(tokens(col(textCol))).cast("long").as("__btok"),
            round(qualityScore(col(textCol)), 6).as("__q"))
          .withColumn("__cum", coalesce(sum(col("__btok")).over(w), lit(0L)))
          .filter(col("__cum") >= b).select(col("__bid").as("__bdrop"))
          .cutLineage() // tiny drop set, linear analysis
        flagged4.join(drops, id === col("__bdrop"), "left")
          .withColumn("f_budget", col("f_sampled") && col("__bdrop").isNull)
          .drop("__bdrop")
      case None => flagged4.withColumn("f_budget", col("f_sampled"))
    }

    val aggs = StageFlags.map { case (n, c) => sum(when(c, 1L).otherwise(0L)).as(n) }
    val one = flagged5.agg(aggs.head, aggs.tail: _*)
    val report = one.select(explode(array(StageFlags.zipWithIndex.map { case ((n, _), i) =>
        struct(lit(i).as("stage_idx"), lit(n).as("stage"), col(n).as("surviving")) }: _*)).as("p"))
      .select("p.*")
    val kept = flagged5.filter(col("f_budget")).select(docs.columns.toSeq.map(col): _*)
    Result(kept, flagged5, report)
  }

  // -------------------------------------------------------------------
  // e2e_curate: the COMPOSED pipeline through the oracle gate.
  //
  // Every stage above is oracle-gated in isolation (t1/t2/t15/t9/t3/
  // t8/d1/d3+d7/d6/t13), but stage COMPOSITION — each stage consuming
  // exactly the previous stage's survivor set — was only spec-tested.
  // This key drives a 10-enabled-stage curate run over `documents` and
  // emits the per-stage attrition LEDGER: (stage_idx, stage, surviving,
  // id_sum), where id_sum = Σ doc_id over that stage's cumulative
  // survivors — so a wrong-doc-kept/wrong-doc-dropped swap that
  // preserves counts still flips the hash. The DuckDB twin chains the
  // per-stage twins as CTEs (incl. the banded-LSH candidate pairs and
  // a recursive-CTE transitive closure standing in for
  // connectedComponents).
  //
  // Enabled: min_tokens, quality, gopher_rules, repetition (both
  // gates), language, lm_quality, exact_dedup, near_dedup,
  // decontaminated (eval = the doc_id % 50 slice), token_budget.
  // Off (not DuckDB-replayable): model_quality (trained LR),
  // semantic_dedup (k-means); sampled is off because curate keys the
  // sampler on xxhash64(id), which DuckDB lacks — those stages still
  // appear in the ledger as pass-throughs of the previous flag.
  object E2e {
    val MinTokens = 40L
    val MinQuality = 0.5
    val MaxDupTrigramFrac = 0.005 // any duplicated trigram drops (values are 0 or ≥1/98)
    val MaxTopTokFrac = 0.125
    val Lang = "en"
    val LmFloor = -1.50 // deep in the survivor avg-log10-prob tail: drops only extreme docs, and (unlike -1.48) does NOT sit inside the one-token-perturbation gap that was killing exactly one twin of every planted near-dup pair before near_dedup could see it
    val Tau = 0.9
    val NgramK = 5
    val EvalSliceMod = 50
    val BudgetPerSource = 500L
  }

  /** Stage name → cumulative-flag column of [[Result.flagged]], in
    * pipeline order ("input" flags everything). */
  val StageFlags: Seq[(String, Column)] = Seq(
    "input" -> lit(true), "min_tokens" -> col("f_tokens"),
    "quality" -> col("f_quality"), "gopher_rules" -> col("f_gopher"),
    "model_quality" -> col("f_model"), "repetition" -> col("f_repetition"),
    "language" -> col("f_lang"), "lm_quality" -> col("f_lm"),
    "exact_dedup" -> col("f_exact"), "near_dedup" -> col("f_neardup"),
    "semantic_dedup" -> col("f_semdup"), "decontaminated" -> col("f_clean"),
    "sampled" -> col("f_sampled"), "token_budget" -> col("f_budget"))

  /** The per-stage attrition LEDGER of a curate run: (stage_idx,
    * stage, surviving, id_sum) — id_sum = Σ doc_id over the stage's
    * cumulative survivors, so a wrong-doc-kept/wrong-doc-dropped swap
    * that preserves counts still flips the hash. ONE aggregation over
    * the flagged frame, exploded to 14 rows. */
  private def attritionLedger(flagged: DataFrame): DataFrame = {
    val aggs = StageFlags.flatMap { case (n, c) => Seq(
      sum(when(c, 1L).otherwise(0L)).as(s"s_$n"),
      coalesce(sum(when(c, col("doc_id"))), lit(0L)).as(s"i_$n")) }
    flagged.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(StageFlags.zipWithIndex.map { case ((n, _), i) =>
        struct(lit(i).as("stage_idx"), lit(n).as("stage"),
          col(s"s_$n").as("surviving"), col(s"i_$n").as("id_sum")) }: _*)).as("p"))
      .select("p.*")
      .orderBy(col("stage_idx"))
  }

  private def e2eConfig: Config = Config(
    minTokens = E2e.MinTokens, minQuality = E2e.MinQuality,
    lang = Some(E2e.Lang), nearDupTau = E2e.Tau,
    ngramK = E2e.NgramK,
    gopherRules = true,
    maxTopTokFrac = Some(E2e.MaxTopTokFrac),
    maxDupTrigramFrac = Some(E2e.MaxDupTrigramFrac),
    minAvgLogProb = Some(E2e.LmFloor),
    tokenBudgetPerSource = Some(E2e.BudgetPerSource))

  /** e2e_curate's curate run, pre-ledger — exposed for the dev-only
    * stage profiler (`Probe stages`), which times cumulative
    * flag-column cuts of `flagged` to attribute wall-clock per stage. */
  private[graft] def e2eResult(s: org.apache.spark.sql.SparkSession, dir: String): Result = {
    val docs = Tables.documents(s, dir)
    val ev = docs.filter(col("doc_id") % E2e.EvalSliceMod === 0)
      .select(col("doc_id"), col("text"))
    curate(docs, cfg = e2eConfig.copy(evalSet = Some(ev)))
  }

  def e2eCurate(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    attritionLedger(e2eResult(s, dir).flagged)

  // -------------------------------------------------------------------
  // e2e_curate_full: ALL 13 stages live (r13 VERDICT directive 2).
  //
  // e2e_curate hash-gates the 10 DuckDB-replayable stages; the three
  // that ride along as pass-throughs there (model_quality's trained
  // LR, semantic_dedup's k-means codebook, sampled's xxhash64
  // thresholds) are enabled here, so the COMPOSITION of every stage —
  // each consuming exactly the previous stage's survivor set — runs as
  // a registered key. Rows-only by design (t20's category: MLlib's
  // LBFGS weights have no SQL twin), with the r16 adjudication of the
  // fixture alternative: the trained scores CANNOT reach the oracle as
  // a frozen fixture column, because the driver's DuckDB surface is
  // the 10 fixed testdata tables plus ONE static SQL string shared by
  // all three gate SFs — per-doc score literals would have to differ
  // per SF, and murmur3-hashed featurization (HashingTF) has no
  // DuckDB replay to recompute them. What IS gateable is the
  // 13-stage COMPOSITION itself, and [[e2eCurateFixed]] gates exactly
  // that: the same 13 live stages with deterministic portable
  // stand-ins in the three engine-specific slots (a frozen score
  // expression in the model slot, the portable-seed ANN semantic
  // stage — replayable since d17Sql — and the sampler keyed without
  // the engine hash). This key keeps the TRAINED form registered; its
  // spec side is CorpusSpec's full-stack planted-victim test (one
  // victim per stage, all gates ON simultaneously) plus the ledger
  // invariants asserted at sf0.001.
  //
  // The trained gate follows t20's distillation shape: the seed is the
  // doc_id % 3 slice labeled by the t2 heuristic, so the model is
  // deterministic given the corpus (LBFGS on a fixed frame) and needs
  // no external labels. Embeddings come from the embeddings table
  // (vec_id is doc_id-aligned by TESTDATA construction — the same
  // pairing d5/d11 use).
  object E2eFull {
    val SeedMod = 3L
    val SeedLabelQuality = 0.5
    val MinModelProb = 0.4
    val SemanticTau = 0.9
    /** k follows [[graft.operators.Dedup.sizedCells]] (cells ≈ N/500):
      * a FIXED k would push every cell past MaxBucket as SF grows and
      * the conservative-keep cap would silently stop the stage from
      * attriting — the exact failure shape d15's Scaladoc documents. */
    val SemanticTargetCell = 500
    val SamplePerSource = 8L
    /** Every TwinMod-th doc carries its predecessor's embedding — the
      * testdata embeddings have NO natural near-dup pairs (max
      * pairwise cosine ≈ 0.48 at sf0.001), so the semantic stage
      * would be vacuously exercised without planting. A planted twin
      * drops iff BOTH docs of the pair survive the lexical stages —
      * which is exactly the composition property this key exists to
      * drive (a lexically-dropped doc must not shield its twin). */
    val TwinMod = 25L
  }

  /** The planted-twin embeddings e2e_curate_full/e2e_curate_fixed
    * feed the semantic stage (see E2eFull.TwinMod). */
  private def plantedTwinEmb(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val embBase = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val prevEmb = embBase.select((col("doc_id") + 1).as("doc_id"),
      col("embedding").as("__pe"))
    embBase.join(prevEmb, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % E2eFull.TwinMod === E2eFull.TwinMod - 1 &&
          col("__pe").isNotNull, col("__pe"))
          .otherwise(col("embedding")).as("embedding"))
  }

  private[graft] def e2eFullResult(s: org.apache.spark.sql.SparkSession,
      dir: String): Result = {
    val docs = Tables.documents(s, dir)
    val ev = docs.filter(col("doc_id") % E2e.EvalSliceMod === 0)
      .select(col("doc_id"), col("text"))
    val seed = docs.filter(col("doc_id") % E2eFull.SeedMod === 0)
      .select(col("text"),
        (qualityScore(col("text")) >= E2eFull.SeedLabelQuality).cast("double").as("label"))
    val model = QualityClassifier.train(seed, "text", "label")
    val emb = plantedTwinEmb(s, dir)
    val k = graft.operators.Dedup.sizedCells(docs.count(),
      E2eFull.SemanticTargetCell)
    curate(docs, cfg = e2eConfig.copy(
      evalSet = Some(ev),
      qualityModel = Some(model), minModelProb = E2eFull.MinModelProb,
      embeddings = Some(emb), semanticTau = E2eFull.SemanticTau,
      semanticK = k,
      // sized k ⇒ ANN-assisted assignment (the d15 rule): radius-2
      // probing keeps training+assignment N·log²k; identical planted
      // twins hash identically, so a probe miss keeps BOTH — the
      // conservative direction
      semanticAnnProbes = Some(2),
      samplePerSource = Some(E2eFull.SamplePerSource)))
  }

  def e2eCurateFull(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    attritionLedger(e2eFullResult(s, dir).flagged)

  // -------------------------------------------------------------------
  // e2e_curate_fixed: the 13-stage COMPOSITION through the oracle gate
  // (r15 VERDICT directive 3). e2e_curate_full's three engine-specific
  // slots are filled with deterministic, cross-engine stand-ins — the
  // composition contract under test (each stage consuming exactly the
  // previous stage's survivor set, with every slot attriting) is
  // identical; only the scoring/seeding functions inside the slots
  // change:
  //  - model_quality: a FROZEN SCORE expression (round(qualityScore,6)
  //    at a threshold above the quality stage's, so the slot genuinely
  //    attrites beyond its predecessor) — the deployment shape of a
  //    frozen trained gate: scoring is a stateless column either way.
  //  - semantic_dedup: the same planted-twin embeddings, sized k and
  //    radius-2 ANN assignment as e2e_curate_full, with d15's portable
  //    seed LCG instead of xxhash64 — DuckDB replays the whole stage
  //    via Dedup.semanticDropsSql (d17Sql's machinery).
  //  - sampled: Sampling.bucket keyed directly on the integer doc_id
  //    (the bucket hash is already portable; only the xxhash64
  //    pre-mix isn't).
  object E2eFixed {
    /** Above E2e.MinQuality (0.5) so the model slot drops docs its
      * predecessor passed — a pass-through gate would leave the slot's
      * composition untested. */
    val MinFrozenProb = 0.55
  }

  private[graft] def e2eFixedResult(s: org.apache.spark.sql.SparkSession,
      dir: String): Result = {
    val docs = Tables.documents(s, dir)
    val ev = docs.filter(col("doc_id") % E2e.EvalSliceMod === 0)
      .select(col("doc_id"), col("text"))
    val emb = plantedTwinEmb(s, dir)
    val k = graft.operators.Dedup.sizedCells(docs.count(),
      E2eFull.SemanticTargetCell)
    curate(docs, cfg = e2eConfig.copy(
      evalSet = Some(ev),
      frozenModelScore = Some(t => round(qualityScore(t), 6)),
      minModelProb = E2eFixed.MinFrozenProb,
      embeddings = Some(emb), semanticTau = E2eFull.SemanticTau,
      semanticK = k, semanticAnnProbes = Some(2),
      semanticSeedHash = id => pmod(id * 48271L + 11L, lit(2147483647L)),
      samplePerSource = Some(E2eFull.SamplePerSource),
      sampleIdHash = identity))
  }

  def e2eCurateFixed(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    attritionLedger(e2eFixedResult(s, dir).flagged)

  /** DuckDB twin of [[e2eCurate]] — the per-stage twins chained as
    * CTEs over the same constants. Built from the shared SQL helpers
    * in [[graft.functions.TextFunctions]] so the two engines cannot
    * silently diverge on tokenization/hash constants. */
  def e2eSql: String = {
    import graft.functions.TextFunctions._
    val toks = tokensSql("text")
    val allk3 = shinglesAllKSql(toks, 3)
    val inList = Stopwords.map(w => s"'$w'").mkString(", ")
    val bandSelects = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKeySql("codes", b)} AS key FROM cds")
      .mkString("\n  UNION ALL ")
    val ledger = StageFlags.zipWithIndex.map { case ((n, _), i) =>
      val f = n match {
        case "input" => "TRUE"
        case "min_tokens" => "f_tokens"
        case "quality" => "f_quality"
        case "gopher_rules" | "model_quality" => "f_gopher"
        case "repetition" => "f_rep"
        case "language" => "f_lang"
        case "lm_quality" => "f_lm"
        case "exact_dedup" => "f_exact"
        case "near_dedup" | "semantic_dedup" => "f_neardup"
        case "decontaminated" | "sampled" => "f_clean"
        case "token_budget" => "f_budget"
      }
      s"SELECT CAST($i AS INTEGER) AS stage_idx, '$n' AS stage, " +
        s"count(*) FILTER (WHERE $f) AS surviving, " +
        s"CAST(COALESCE(sum(doc_id) FILTER (WHERE $f), 0) AS BIGINT) AS id_sum FROM f10"
    }.mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE base AS MATERIALIZED (
       |  SELECT doc_id, text, source,
       |    CAST(len($toks) AS BIGINT) AS n,
       |    ${qualityScoreSql("text")} AS qual,
       |    CAST(COALESCE(list_sum(list_transform($toks, t -> length(t))), 0) AS BIGINT) AS sl,
       |    CAST(len(list_filter($toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS na,
       |    CAST(len(list_intersect(list_distinct($toks), [$inList])) AS BIGINT) AS ns,
       |    COALESCE(1.0 - CAST(len(list_distinct($allk3)) AS DOUBLE) / len($allk3), 0.0) AS dupfrac,
       |    CAST(list_max(list_transform(list_distinct($toks), u -> len(list_filter($toks, x -> x = u)))) AS DOUBLE) / len($toks) AS ttf,
       |    ${predLangSql("text")} AS plang
       |  FROM documents),
       |f5 AS MATERIALIZED (
       |  SELECT *,
       |    (n >= ${E2e.MinTokens}) AS f_tokens,
       |    ((n >= ${E2e.MinTokens}) AND qual >= ${E2e.MinQuality}) AS f_quality,
       |    ((n >= ${E2e.MinTokens}) AND qual >= ${E2e.MinQuality}
       |      AND n BETWEEN 50 AND 100000 AND sl BETWEEN n * 3 AND n * 10
       |      AND na * 5 >= n * 4 AND ns >= 2) AS f_gopher,
       |    ((n >= ${E2e.MinTokens}) AND qual >= ${E2e.MinQuality}
       |      AND n BETWEEN 50 AND 100000 AND sl BETWEEN n * 3 AND n * 10
       |      AND na * 5 >= n * 4 AND ns >= 2
       |      AND dupfrac <= ${E2e.MaxDupTrigramFrac} AND ttf <= ${E2e.MaxTopTokFrac}) AS f_rep,
       |    ((n >= ${E2e.MinTokens}) AND qual >= ${E2e.MinQuality}
       |      AND n BETWEEN 50 AND 100000 AND sl BETWEEN n * 3 AND n * 10
       |      AND na * 5 >= n * 4 AND ns >= 2
       |      AND dupfrac <= ${E2e.MaxDupTrigramFrac} AND ttf <= ${E2e.MaxTopTokFrac}
       |      AND plang = '${E2e.Lang}') AS f_lang
       |  FROM base),
       |tk AS MATERIALIZED (SELECT doc_id, unnest($toks) AS tok FROM f5 WHERE f_lang),
       |tf AS MATERIALIZED (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
       |tot AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS total FROM tk),
       |lmdrop AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT tk.doc_id,
       |      avg(log10(CAST(tf.c AS DOUBLE))) - log10((SELECT total FROM tot)) AS lp
       |    FROM tk JOIN tf USING (tok) GROUP BY tk.doc_id)
       |  WHERE lp < ${E2e.LmFloor}),
       |f6 AS MATERIALIZED (
       |  SELECT f5.*, (f_lang AND lmdrop.doc_id IS NULL) AS f_lm
       |  FROM f5 LEFT JOIN lmdrop ON f5.doc_id = lmdrop.doc_id),
       |ek AS MATERIALIZED (SELECT md5(text) AS h, min(doc_id) AS keep FROM f6 WHERE f_lm GROUP BY 1),
       |f7 AS MATERIALIZED (
       |  SELECT f6.*, (f_lm AND ek.keep = f6.doc_id) AS f_exact
       |  FROM f6 LEFT JOIN ek ON md5(f6.text) = ek.h),
       |s9 AS MATERIALIZED (SELECT doc_id, text FROM f7 WHERE f_exact),
       |cds AS MATERIALIZED (SELECT doc_id, ${shingleCodesSql("text")} AS codes FROM s9),
       |bk AS MATERIALIZED (
       |  $bandSelects),
       |cap AS MATERIALIZED (
       |  SELECT doc_id, band, key FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz FROM bk)
       |  WHERE bsz <= 1000),
       |prs AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM cap a JOIN cap b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |shs AS MATERIALIZED (SELECT doc_id, ${shingles3Sql(toks)} AS sh FROM s9),
       |ver AS MATERIALIZED (
       |  SELECT id_a, id_b FROM prs
       |  JOIN shs sa ON sa.doc_id = prs.id_a
       |  JOIN shs sb ON sb.doc_id = prs.id_b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |        (CAST(len(sa.sh) AS DOUBLE) + len(sb.sh) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE))
       |        >= ${E2e.Tau}),
       |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM ver UNION SELECT id_b, id_a FROM ver),
       |reach AS (
       |  SELECT a AS id, b AS r FROM edges
       |  UNION
       |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
       |nddrop AS MATERIALIZED (SELECT id FROM reach GROUP BY id HAVING min(r) < id),
       |f8 AS MATERIALIZED (
       |  SELECT f7.*, (f_exact AND nddrop.id IS NULL) AS f_neardup
       |  FROM f7 LEFT JOIN nddrop ON f7.doc_id = nddrop.id),
       |evg AS MATERIALIZED (
       |  SELECT DISTINCT ng FROM (
       |    SELECT unnest(${shinglesKSql(toks, E2e.NgramK)}) AS ng
       |    FROM documents WHERE doc_id % ${E2e.EvalSliceMod} = 0)),
       |cont AS MATERIALIZED (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest(${shinglesKSql(toks, E2e.NgramK)}) AS ng
       |    FROM f8 WHERE f_neardup)
       |  JOIN evg USING (ng)),
       |f9 AS MATERIALIZED (
       |  SELECT f8.*, (f_neardup AND cont.doc_id IS NULL) AS f_clean
       |  FROM f8 LEFT JOIN cont ON f8.doc_id = cont.doc_id),
       |bt AS MATERIALIZED (
       |  SELECT doc_id, source, n AS n_tok, round(qual, 6) AS q
       |  FROM f9 WHERE f_clean),
       |bdrop AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY q DESC, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |    FROM bt)
       |  WHERE cum >= ${E2e.BudgetPerSource}),
       |f10 AS MATERIALIZED (
       |  SELECT f9.*, (f_clean AND bdrop.doc_id IS NULL) AS f_budget
       |  FROM f9 LEFT JOIN bdrop ON f9.doc_id = bdrop.doc_id)
       |SELECT * FROM (
       |  $ledger)
       |ORDER BY stage_idx""".stripMargin
  }

  /** DuckDB twin of [[e2eCurateFixed]] — e2eSql's chain with every
    * stage live under its own flag: the frozen-score model slot, the
    * planted-twin ANN semantic stage ([[graft.operators.Dedup.semanticDropsSql]]),
    * and the portable-keyed sampler, in exactly curate's stage order. */
  def e2eFixedSql: String = {
    import graft.functions.TextFunctions._
    val toks = tokensSql("text")
    val allk3 = shinglesAllKSql(toks, 3)
    val inList = Stopwords.map(w => s"'$w'").mkString(", ")
    val bandSelects = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKeySql("codes", b)} AS key FROM cds")
      .mkString("\n  UNION ALL ")
    val nsqE = graft.functions.VectorFunctions.normSqSql("embp.embedding")
    val kExpr = "least(greatest(1, ((SELECT count(*) FROM documents) + " +
      s"${E2eFull.SemanticTargetCell - 1}) // ${E2eFull.SemanticTargetCell}), 1048576)"
    val semCtes = graft.operators.Dedup.semanticDropsSql(
      "semb", kExpr, E2eFull.SemanticTau)
    val ledger = StageFlags.zipWithIndex.map { case ((n, _), i) =>
      val f = n match {
        case "input" => "TRUE"
        case "min_tokens" => "f_tokens"
        case "quality" => "f_quality"
        case "gopher_rules" => "f_gopher"
        case "model_quality" => "f_model"
        case "repetition" => "f_rep"
        case "language" => "f_lang"
        case "lm_quality" => "f_lm"
        case "exact_dedup" => "f_exact"
        case "near_dedup" => "f_neardup"
        case "semantic_dedup" => "f_semdup"
        case "decontaminated" => "f_clean"
        case "sampled" => "f_sampled"
        case "token_budget" => "f_budget"
      }
      s"SELECT CAST($i AS INTEGER) AS stage_idx, '$n' AS stage, " +
        s"count(*) FILTER (WHERE $f) AS surviving, " +
        s"CAST(COALESCE(sum(doc_id) FILTER (WHERE $f), 0) AS BIGINT) AS id_sum FROM f10"
    }.mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE base AS MATERIALIZED (
       |  SELECT doc_id, text, source,
       |    CAST(len($toks) AS BIGINT) AS n,
       |    ${qualityScoreSql("text")} AS qual,
       |    CAST(COALESCE(list_sum(list_transform($toks, t -> length(t))), 0) AS BIGINT) AS sl,
       |    CAST(len(list_filter($toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS na,
       |    CAST(len(list_intersect(list_distinct($toks), [$inList])) AS BIGINT) AS ns,
       |    COALESCE(1.0 - CAST(len(list_distinct($allk3)) AS DOUBLE) / len($allk3), 0.0) AS dupfrac,
       |    CAST(list_max(list_transform(list_distinct($toks), u -> len(list_filter($toks, x -> x = u)))) AS DOUBLE) / len($toks) AS ttf,
       |    ${predLangSql("text")} AS plang
       |  FROM documents),
       |f5 AS MATERIALIZED (
       |  SELECT *,
       |    (n >= ${E2e.MinTokens}) AS f_tokens,
       |    ((n >= ${E2e.MinTokens}) AND qual >= ${E2e.MinQuality}) AS f_quality,
       |    ((n >= ${E2e.MinTokens}) AND qual >= ${E2e.MinQuality}
       |      AND n BETWEEN 50 AND 100000 AND sl BETWEEN n * 3 AND n * 10
       |      AND na * 5 >= n * 4 AND ns >= 2) AS f_gopher,
       |    ((n >= ${E2e.MinTokens}) AND qual >= ${E2e.MinQuality}
       |      AND n BETWEEN 50 AND 100000 AND sl BETWEEN n * 3 AND n * 10
       |      AND na * 5 >= n * 4 AND ns >= 2
       |      AND round(qual, 6) >= ${E2eFixed.MinFrozenProb}) AS f_model,
       |    ((n >= ${E2e.MinTokens}) AND qual >= ${E2e.MinQuality}
       |      AND n BETWEEN 50 AND 100000 AND sl BETWEEN n * 3 AND n * 10
       |      AND na * 5 >= n * 4 AND ns >= 2
       |      AND round(qual, 6) >= ${E2eFixed.MinFrozenProb}
       |      AND dupfrac <= ${E2e.MaxDupTrigramFrac} AND ttf <= ${E2e.MaxTopTokFrac}) AS f_rep,
       |    ((n >= ${E2e.MinTokens}) AND qual >= ${E2e.MinQuality}
       |      AND n BETWEEN 50 AND 100000 AND sl BETWEEN n * 3 AND n * 10
       |      AND na * 5 >= n * 4 AND ns >= 2
       |      AND round(qual, 6) >= ${E2eFixed.MinFrozenProb}
       |      AND dupfrac <= ${E2e.MaxDupTrigramFrac} AND ttf <= ${E2e.MaxTopTokFrac}
       |      AND plang = '${E2e.Lang}') AS f_lang
       |  FROM base),
       |tk AS MATERIALIZED (SELECT doc_id, unnest($toks) AS tok FROM f5 WHERE f_lang),
       |tf AS MATERIALIZED (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
       |tot AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS total FROM tk),
       |lmdrop AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT tk.doc_id,
       |      avg(log10(CAST(tf.c AS DOUBLE))) - log10((SELECT total FROM tot)) AS lp
       |    FROM tk JOIN tf USING (tok) GROUP BY tk.doc_id)
       |  WHERE lp < ${E2e.LmFloor}),
       |f6 AS MATERIALIZED (
       |  SELECT f5.*, (f_lang AND lmdrop.doc_id IS NULL) AS f_lm
       |  FROM f5 LEFT JOIN lmdrop ON f5.doc_id = lmdrop.doc_id),
       |ek AS MATERIALIZED (SELECT md5(text) AS h, min(doc_id) AS keep FROM f6 WHERE f_lm GROUP BY 1),
       |f7 AS MATERIALIZED (
       |  SELECT f6.*, (f_lm AND ek.keep = f6.doc_id) AS f_exact
       |  FROM f6 LEFT JOIN ek ON md5(f6.text) = ek.h),
       |s9 AS MATERIALIZED (SELECT doc_id, text FROM f7 WHERE f_exact),
       |cds AS MATERIALIZED (SELECT doc_id, ${shingleCodesSql("text")} AS codes FROM s9),
       |bk AS MATERIALIZED (
       |  $bandSelects),
       |cap AS MATERIALIZED (
       |  SELECT doc_id, band, key FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz FROM bk)
       |  WHERE bsz <= 1000),
       |prs AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM cap a JOIN cap b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |shs AS MATERIALIZED (SELECT doc_id, ${shingles3Sql(toks)} AS sh FROM s9),
       |ver AS MATERIALIZED (
       |  SELECT id_a, id_b FROM prs
       |  JOIN shs sa ON sa.doc_id = prs.id_a
       |  JOIN shs sb ON sb.doc_id = prs.id_b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |        (CAST(len(sa.sh) AS DOUBLE) + len(sb.sh) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE))
       |        >= ${E2e.Tau}),
       |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM ver UNION SELECT id_b, id_a FROM ver),
       |reach AS (
       |  SELECT a AS id, b AS r FROM edges
       |  UNION
       |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
       |nddrop AS MATERIALIZED (SELECT id FROM reach GROUP BY id HAVING min(r) < id),
       |f8 AS MATERIALIZED (
       |  SELECT f7.*, (f_exact AND nddrop.id IS NULL) AS f_neardup
       |  FROM f7 LEFT JOIN nddrop ON f7.doc_id = nddrop.id),
       |embp AS MATERIALIZED (
       |  SELECT e.vec_id AS doc_id,
       |    CASE WHEN e.vec_id % ${E2eFull.TwinMod} = ${E2eFull.TwinMod - 1}
       |      AND p.embedding IS NOT NULL THEN p.embedding
       |      ELSE e.embedding END AS embedding
       |  FROM embeddings e LEFT JOIN embeddings p ON p.vec_id + 1 = e.vec_id),
       |semb AS MATERIALIZED (
       |  SELECT f8.doc_id AS id, embp.embedding
       |  FROM f8 JOIN embp ON f8.doc_id = embp.doc_id
       |  WHERE f8.f_neardup AND $nsqE > 0),
       |$semCtes,
       |f8s AS MATERIALIZED (
       |  SELECT f8.*, (f_neardup AND semdrop.id IS NULL) AS f_semdup
       |  FROM f8 LEFT JOIN semdrop ON f8.doc_id = semdrop.id),
       |evg AS MATERIALIZED (
       |  SELECT DISTINCT ng FROM (
       |    SELECT unnest(${shinglesKSql(toks, E2e.NgramK)}) AS ng
       |    FROM documents WHERE doc_id % ${E2e.EvalSliceMod} = 0)),
       |cont AS MATERIALIZED (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest(${shinglesKSql(toks, E2e.NgramK)}) AS ng
       |    FROM f8s WHERE f_semdup)
       |  JOIN evg USING (ng)),
       |f9 AS MATERIALIZED (
       |  SELECT f8s.*, (f_semdup AND cont.doc_id IS NULL) AS f_clean
       |  FROM f8s LEFT JOIN cont ON f8s.doc_id = cont.doc_id),
       |scnt AS MATERIALIZED (
       |  SELECT source, count(*) AS n_c FROM f9 WHERE f_clean GROUP BY 1),
       |sthr AS MATERIALIZED (
       |  SELECT source,
       |    (${graft.functions.Sampling.Buckets} * least(${E2eFull.SamplePerSource}, n_c)) // n_c AS thr
       |  FROM scnt),
       |f9s AS MATERIALIZED (
       |  SELECT f9.*, (f_clean AND
       |    ${graft.functions.Sampling.bucketSql("f9.doc_id")} < COALESCE(sthr.thr, 0)) AS f_sampled
       |  FROM f9 LEFT JOIN sthr USING (source)),
       |bt AS MATERIALIZED (
       |  SELECT doc_id, source, n AS n_tok, round(qual, 6) AS q
       |  FROM f9s WHERE f_sampled),
       |bdrop AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY q DESC, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |    FROM bt)
       |  WHERE cum >= ${E2e.BudgetPerSource}),
       |f10 AS MATERIALIZED (
       |  SELECT f9s.*, (f_sampled AND bdrop.doc_id IS NULL) AS f_budget
       |  FROM f9s LEFT JOIN bdrop ON f9s.doc_id = bdrop.doc_id)
       |SELECT * FROM (
       |  $ledger)
       |ORDER BY stage_idx""".stripMargin
  }

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("e2e_curate" -> (e2eCurate _),
      "e2e_curate_full" -> (e2eCurateFull _),
      "e2e_curate_fixed" -> (e2eCurateFixed _))

  // e2e_curate_full has no oracle entry: rows-only by design (trained
  // LR weights are not DuckDB-replayable, and the fixture path is
  // adjudicated above e2eCurateFull); e2e_curate_fixed gates the
  // 13-stage composition in its place.
  def oracles: Map[String, String] = Map(
    "e2e_curate" -> e2eSql,
    "e2e_curate_fixed" -> e2eFixedSql)
}
