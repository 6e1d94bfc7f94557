package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Artifact lifecycle (round-11 VERDICT item 6): each trained/derived
  * structure must survive a save → reload with PROBE EQUALITY — the
  * downstream operator fed the reloaded artifact produces
  * byte-identical rows to the in-memory original. Anything weaker
  * (schema-only, count-only) would let a lossy writer (e.g. a double
  * column truncated to float) pass while silently moving assignments.
  */
class ArtifactsSpec extends SparkSuite {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-art-$tag").toString

  test("codebook round-trip: annAssign probe-equal after reload") {
    val base = Tables.embeddings(spark, sf)
      .filter(graft.functions.VectorFunctions.normSq(col("embedding")) > 0)
      .select(col("vec_id").as("id"), col("embedding"))
    val cents = Similarity.trainCodebook(base, k = 8, iters = 2,
      seedHash = id => pmod(id * 48271L + 11L, lit(2147483647L)))
    val dir = tmp("codebook")
    Artifacts.saveCodebook(cents, dir)
    val reloaded = Artifacts.loadCodebook(spark, dir)
    def assignWith(cb: org.apache.spark.sql.DataFrame) =
      Similarity.annAssign(base,
          cb.select(col("id").as("cid"), col("embedding").as("cemb")),
          planes = 2, probes = 2)
        .select(col("id"), col("cell")).orderBy(col("id")).collect().toSeq
    assert(assignWith(reloaded) === assignWith(cents), "assignment moved after reload")
    // a mis-pointed path fails fast, not at analysis time downstream
    val bad = intercept[IllegalArgumentException] {
      Artifacts.loadCodebook(spark, s"$sf/documents.parquet")
    }
    assert(bad.getMessage.contains("codebook"))
  }

  test("band index round-trip: incremental near-dup pairs probe-equal after reload") {
    val docs = Tables.documents(spark, sf)
    val cut = docs.agg(expr("(max(doc_id) + 1) * 9 div 10").as("c")).head().getLong(0)
    val oldKeys = Dedup.bandKeys(docs.filter(col("doc_id") < cut), "text", "doc_id")
    val batch = docs.filter(col("doc_id") >= cut)
    val dir = tmp("bandindex")
    Artifacts.saveBandIndex(oldKeys, dir)
    val reloaded = Artifacts.loadBandIndex(spark, dir)
    def pairsWith(ix: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDupPairs(ix, batch, "text", "doc_id")
        .orderBy(col("id_new"), col("id_other")).collect().toSeq
    val got = pairsWith(reloaded)
    assert(got === pairsWith(oldKeys), "candidate set moved after reload")
    assert(got.nonEmpty, "corpus has planted near-dups; an empty probe set means a broken index")
  }

  test("quality model round-trip: scores identical; curate accepts the path form") {
    val docs = Tables.documents(spark, sf)
      .withColumn("__label",
        (round(graft.functions.TextFunctions.qualityScore(col("text")), 6) >= 0.5)
          .cast("double"))
    val model = QualityClassifier.train(
      docs.filter(col("doc_id") % 2 === 0), "text", "__label")
    val dir = tmp("qmodel")
    QualityClassifier.save(spark, model, dir)
    val reloaded = QualityClassifier.load(spark, dir)
    assert(reloaded.dim === model.dim)
    def scores(m: QualityClassifier.Model) =
      QualityClassifier.score(m, docs, "text")
        .select(col("doc_id"), col("q_prob"), col("q_pred"))
        .orderBy(col("doc_id")).collect().toSeq
    assert(scores(reloaded) === scores(model), "reloaded gate scores diverge")
    // the production wiring: curate reloads the gate from the path —
    // kept set identical to threading the in-memory model
    val viaMem = Corpus.curate(docs.drop("__label"),
      cfg = Corpus.Config(qualityModel = Some(model)))
    val viaPath = Corpus.curate(docs.drop("__label"),
      cfg = Corpus.Config(qualityModelPath = Some(dir)))
    val keptMem = viaMem.kept.select("doc_id").orderBy("doc_id").collect().toSeq
    val keptPath = viaPath.kept.select("doc_id").orderBy("doc_id").collect().toSeq
    assert(keptPath === keptMem)
    assert(keptMem.size < docs.count(), "the gate must actually drop something here")
  }

  test("d13 from persisted artifacts: load-probe equals the in-memory probe on the gate corpus") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.{shingles3, tokens}
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val cut = docs.agg(expr("(max(doc_id) + 1) * 9 div 10").as("__cut"))
    val marked = docs.crossJoin(broadcast(cut))
    val newDocs = marked.filter(col("doc_id") >= col("__cut")).select(col("doc_id"), col("text"))
    val oldDocs = marked.filter(col("doc_id") < col("__cut")).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-art-d13").toString
    Artifacts.saveBandIndex(
      graft.operators.Dedup.bandKeys(oldDocs, "text", "doc_id"), s"$dir/bands")
    Artifacts.saveShingleStore(
      oldDocs.select(col("doc_id"), shingles3(tokens(col("text"))).as("sh")),
      s"$dir/shingles")
    val loaded = graft.operators.Dedup.incrementalNearDupAudit(
        spark, s"$dir/bands", s"$dir/shingles", newDocs)
      .collect().map(_.toSeq).toSeq
    // the registered d13 (which itself routes through a fresh artifact
    // write + reload) must agree row for row
    val registered = graft.operators.Dedup.d13(spark, sf).collect().map(_.toSeq).toSeq
    assert(loaded === registered)
    assert(loaded.nonEmpty)
  }

  test("st16 sinks bootstrapped from a persisted index reject a near-dup of an OLD doc in batch 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.{shingles3, tokens}
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val history = Seq((1L, base),
      (2L, "completely different text about spark and catalyst planning rules"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-art-boot").toString
    Artifacts.saveBandIndex(
      graft.operators.Dedup.bandKeys(history, "text", "doc_id"), s"$dir/bands")
    Artifacts.saveShingleStore(
      history.select(col("doc_id"), shingles3(tokens(col("text"))).as("sh")),
      s"$dir/shingles")
    val batch = Seq((10L, base + " x"),
      (11L, "another unrelated document entirely about parquet file layouts"))
      .toDF("doc_id", "text")
    // in-memory sink
    val mem = new graft.streaming.DedupAdmissionSink(graft.streaming.SinkState.memory(),
      bootstrap = Some((s"$dir/bands", s"$dir/shingles")))
    mem.apply(batch, 0L)
    val memGot = mem.decisions.get.collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(memGot === Map(10L -> false, 11L -> true),
      s"bootstrapped in-memory sink must dedup against history: $memGot")
    // durable sink (fresh store → bootstrap applies; resumed store wins)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-art-boot-st").toString
    val dur = new graft.streaming.DedupAdmissionSink(
      graft.streaming.SinkState.durable(spark, stateDir),
      bootstrap = Some((s"$dir/bands", s"$dir/shingles")))
    dur.apply(batch, 0L)
    val durGot = dur.decisions.get.collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(durGot === Map(10L -> false, 11L -> true))
  }
}
