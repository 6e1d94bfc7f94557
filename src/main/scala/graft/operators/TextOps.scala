package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions._

/** D-family: text analysis over `documents` (SURVEY.md §2.D) — the
  * building blocks of a training-data quality pipeline: token counts,
  * quality scoring, language ID, fingerprinting. All map-only (no
  * shuffle except the final presentation ORDER BY), so throughput at
  * 100 TB is scan-bound.
  */
object TextOps {

  // -------------------------------------------------------------------
  // t1: token counting — whitespace tokens + a BPE-ish alpha-run count
  // (regexp_count stays in codegen).
  def t1(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_alpha_runs"),
        length(col("text")).cast("long").as("n_chars_calc"))
      .orderBy(col("doc_id"))
  }

  val t1Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(${tokensSql("text")}) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_runs,
       |  CAST(length(text) AS BIGINT) AS n_chars_calc
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t2: quality score — length saturation × (1 − punct ratio) ×
  // (1 − stopword ratio). The gating heuristic a pretraining pipeline
  // runs before anything expensive.
  private val stopwords = Stopwords // shared: functions.TextFunctions

  def t2(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin(stopwords: _*))).cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"), nTok.as("n_tokens"), nStop.as("n_stop"),
        round(qualityScore(col("text")), 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  val t2Sql: String = {
    val toks = tokensSql("text")
    val inList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(len($toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter($toks, t -> t IN ($inList))) AS BIGINT) AS n_stop,
       |  round(${qualityScoreSql("text")}, 6) AS quality
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // t3: language ID — stopword-marker overlap, argmax with a
  // deterministic tie order (en > es > de > und). A real pipeline uses
  // character n-gram profiles; the operator shape (per-doc marker
  // counts → argmax) is the same and stays map-only.
  private val markers = LangMarkers // shared: functions.TextFunctions

  def t3(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        langMarkerCount(col("text"), "en").as("en_cnt"),
        langMarkerCount(col("text"), "es").as("es_cnt"),
        langMarkerCount(col("text"), "de").as("de_cnt"),
        predLang(col("text")).as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  val t3Sql: String = {
    val toks = tokensSql("text")
    def c(ws: Seq[String]) =
      s"CAST(len(list_filter($toks, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS BIGINT)"
    val en = c(markers(0)._2); val es = c(markers(1)._2); val de = c(markers(2)._2)
    s"""SELECT doc_id, lang AS labeled_lang,
       |  $en AS en_cnt, $es AS es_cnt, $de AS de_cnt,
       |  ${predLangSql("text")} AS pred_lang
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // t4: positional polynomial fingerprint — order-sensitive (catches
  // reordered near-dups that bag-of-words hashing misses), integer
  // arithmetic, identical mod chain in both engines.
  def t4(s: SparkSession, dir: String): DataFrame = {
    Tables.byDoc(Tables.documents(s, dir))
      .select(col("doc_id"), fingerprint(tokenCodes(col("text"))).as("fp"))
      .orderBy(col("doc_id"))
  }

  val t4Sql: String =
    s"""WITH c AS (SELECT doc_id, ${tokenCodesSql("text")} AS codes FROM documents)
       |SELECT doc_id, ${fingerprintSql("codes")} AS fp
       |FROM c
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t5: PII redaction — the scrub every training-data pipeline runs
  // before anything leaves the ingest zone. The corpus is synthetic
  // (no real PII), so the query plants deterministic doc_id-derived
  // emails/phones first — both engines build the identical input, so
  // the oracle exercises the actual count+mask machinery, not zeros.
  // Regexes are RE2-safe (no backrefs/lookahead): portable between
  // Spark's Java regex and DuckDB's RE2.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** Library API: mask emails/phones in `textCol` (map-only). */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol,
      regexp_replace(regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"))

  // t24 (below, registered beside t5): the scrub extended with IPv4
  // and credit-card detection — round-17 VERDICT directive 6. Cards
  // are NOT a regex class: a 16-digit run is only PII when its Luhn
  // checksum holds (the published card-number check digit), so the
  // scrub extracts candidates by regex and gates each through
  // [[luhnValid16]] — pure integer arithmetic (c16's discipline), so
  // the DuckDB twin replays digit-for-digit and near-miss numbers
  // (one digit off) provably survive unmasked (PiiSpec plants them).
  private val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private val CardRe = "[0-9]{16}"

  /** Luhn checksum validity of a 16-digit candidate string: from the
    * right, every second digit doubles (minus 9 when >9); the sum must
    * be ≡ 0 mod 10. Position i (1-based, left-to-right) doubles iff
    * (16−i) is odd. Pure integer arithmetic over ascii codes. */
  def luhnValid16(c: Column): Column =
    (aggregate(
      transform(sequence(lit(1), lit(16)), i => {
        val d = ascii(c.substr(i, lit(1))) - 48
        val v = when((lit(16) - i) % 2 === 1, d * 2).otherwise(d)
        when(v > 9, v - 9).otherwise(v)
      }),
      lit(0), (acc, x) => acc + x) % 10) === 0

  /** Luhn sum of a 15-digit prefix as the leftmost digits of a
    * 16-digit number (position i doubles iff i is odd) — the check
    * digit is then (10 − sum mod 10) mod 10. Used by t24's planted
    * generator; a card issuer computes the same. */
  def luhnSum15(c: Column): Column =
    aggregate(
      transform(sequence(lit(1), lit(15)), i => {
        val d = ascii(c.substr(i, lit(1))) - 48
        val v = when(i % 2 === 1, d * 2).otherwise(d)
        when(v > 9, v - 9).otherwise(v)
      }),
      lit(0), (acc, x) => acc + x)

  /** Library API: the full scrub — emails, phones, IPv4 addresses,
    * and Luhn-VALID 16-digit card numbers (candidates failing the
    * checksum are not PII and stay). Map-only: regex masks plus one
    * extract-filter-fold per row for the card class. */
  def redactPiiFull(df: DataFrame, textCol: String): DataFrame = {
    val ipMasked = regexp_replace(
      regexp_replace(regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      IpRe, "[IP]")
    val cards = filter(regexp_extract_all(ipMasked, lit(CardRe), lit(0)), luhnValid16 _)
    df.withColumn(textCol,
      aggregate(cards, ipMasked, (acc, c) => replace(acc, c, lit("[CARD]"))))
  }

  def t5(s: SparkSession, dir: String): DataFrame = {
    val seeded = Tables.byDoc(Tables.documents(s, dir)).withColumn("t",
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 555-123-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
    redactPii(seeded, "t")
      .select(col("doc_id"),
        regexp_count(col("t"), lit("\\[EMAIL\\]")).cast("long").as("n_emails"),
        regexp_count(col("t"), lit("\\[PHONE\\]")).cast("long").as("n_phones"),
        col("t").as("redacted"))
      .orderBy(col("doc_id"))
  }

  val t5Sql: String =
    s"""WITH seeded AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com or 555-123-' ||
       |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
       |  FROM documents
       |), red AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(t, '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g') AS redacted
       |  FROM seeded)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(redacted, '\\[EMAIL\\]')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(redacted, '\\[PHONE\\]')) AS BIGINT) AS n_phones,
       |  redacted
       |FROM red
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t24: the FULL PII scrub — t5's email/phone classes plus IPv4 and
  // Luhn-gated credit-card numbers (round-17 VERDICT directive 6).
  // Plants per doc: t5's email/phone, a deterministic 10.x.y.z
  // address, a VALID 16-digit card (15 deterministic digits + the
  // computed Luhn check digit — the generator computes it exactly the
  // way an issuer does), and a NEAR-MISS card (check digit +1 mod 10 —
  // guaranteed Luhn-invalid) that the scrub must LEAVE IN PLACE: a
  // digit run is only card PII when the published checksum holds, and
  // a regex-only scrub would false-positive order ids / timestamps.
  // Counts + the redacted text gate all four mask classes AND the
  // near-miss survival (its 16 digits stay in `redacted`, so a scrub
  // that masks checksum-invalid runs flips the hash). All integer
  // arithmetic — both engines derive the identical check digit.
  def t24(s: SparkSession, dir: String): DataFrame = {
    val base15 = concat(lit("4"),
      lpad((col("doc_id") % 100000000L).cast("string"), 8, "0"), lit("123456"))
    val check = (lit(10) - luhnSum15(base15) % 10) % 10
    val seeded = Tables.documents(s, dir).withColumn("t",
      concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@example.com or 555-123-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit("."), expr("(doc_id div 7) % 256").cast("string"),
        lit("."), expr("(doc_id div 49) % 256").cast("string"),
        lit(" card "), base15, check.cast("string"),
        lit(" ref "), base15, ((check + 1) % 10).cast("string")))
    redactPiiFull(seeded, "t")
      .select(col("doc_id"),
        regexp_count(col("t"), lit("\\[EMAIL\\]")).cast("long").as("n_emails"),
        regexp_count(col("t"), lit("\\[PHONE\\]")).cast("long").as("n_phones"),
        regexp_count(col("t"), lit("\\[IP\\]")).cast("long").as("n_ips"),
        regexp_count(col("t"), lit("\\[CARD\\]")).cast("long").as("n_cards"),
        col("t").as("redacted"))
      .orderBy(col("doc_id"))
  }

  val t24Sql: String = {
    def luhnDigit(pos: String, doubled: String) =
      s"""CASE WHEN $doubled THEN
         |  CASE WHEN (ascii(substr(c, $pos, 1)) - 48) * 2 > 9
         |    THEN (ascii(substr(c, $pos, 1)) - 48) * 2 - 9
         |    ELSE (ascii(substr(c, $pos, 1)) - 48) * 2 END
         |ELSE ascii(substr(c, $pos, 1)) - 48 END""".stripMargin.replace("\n", " ")
    val sum15 = s"list_sum(list_transform(generate_series(1, 15), i -> ${
      luhnDigit("i", "i % 2 = 1")}))"
    val valid16 = s"list_sum(list_transform(generate_series(1, 16), i -> ${
      luhnDigit("i", "(16 - i) % 2 = 1")})) % 10 = 0"
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    '4' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0') || '123456' AS b15
       |  FROM documents),
       |ck AS (
       |  SELECT doc_id, text, b15,
       |    (10 - (SELECT $sum15 FROM (SELECT b15 AS c)) % 10) % 10 AS chk
       |  FROM b),
       |seeded AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com or 555-123-' ||
       |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
       |    ' from 10.' || (doc_id % 256) || '.' || ((doc_id // 7) % 256) ||
       |    '.' || ((doc_id // 49) % 256) ||
       |    ' card ' || b15 || chk || ' ref ' || b15 || ((chk + 1) % 10) AS t
       |  FROM ck),
       |m AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(t,
       |      '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g'),
       |      '$IpRe', '[IP]', 'g') AS t3
       |  FROM seeded),
       |red AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(t3,
       |      list_filter(regexp_extract_all(t3, '$CardRe'),
       |        c -> $valid16)),
       |      (acc, x) -> replace(acc, x, '[CARD]')) AS redacted
       |  FROM m)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(redacted, '\\[EMAIL\\]')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(redacted, '\\[PHONE\\]')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(redacted, '\\[IP\\]')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(redacted, '\\[CARD\\]')) AS BIGINT) AS n_cards,
       |  redacted
       |FROM red
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // t25: CODE-vs-PROSE detection — the routing gate every pretraining
  // curation pipeline runs before language-specific filters (code goes
  // to a code pipeline with its own dedup/quality rules; prose goes to
  // the Gopher/CCNet chain — misrouting poisons both). Heuristic, not
  // learned: symbol density (chars from the {}();=<> class per million
  // chars — integer ppm, c17's discipline) and a reserved-keyword
  // count (\b-anchored alternation — def/class/import/return/const/
  // var/function spans the mainstream languages' highest-frequency
  // tokens); is_code = kw ≥ 6 AND sym_ppm ≥ 10 000 (two independent
  // signals so neither a symbol-heavy table dump nor a prose sentence
  // mentioning "class" alone misroutes). The corpus is pure prose
  // (planted-signal audit: base text carries ZERO symbols/keywords),
  // so docs with doc_id % 4 == 0 get a deterministic polyglot snippet
  // appended (3 + doc_id % 3 repeats — length varies so sym_ppm is
  // non-constant) and the gate proves the detector flags EXACTLY the
  // planted set with the exact integer signals. Map-only: two
  // regexp_count passes + integer arithmetic per row — t5's scale
  // class, embarrassingly parallel, no shuffle before the
  // oracle-ordering sort.
  private val CodeSnip = " def load(x): return x + 1; import os; " +
    "const y = {a: 1}; function g() { var z = (y < 2); }"
  private val CodeSymRe = "[{}();=<>]"
  private val CodeKwRe = "\\b(def|class|import|return|const|var|function)\\b"

  /** Library API: per-row code signals + the routing flag over
    * `textCol`. Two INDEPENDENT signals gate together: a symbol-heavy
    * prose row (a table dump full of `=` and `;`) fails the keyword
    * bar, a prose sentence mentioning `class`/`return` fails the
    * symbol-density bar — only genuinely code-shaped text clears both
    * (TextOpsSpec probes those adversarial rows). */
  def codeSignals(df: DataFrame, textCol: String): DataFrame = df
    .withColumn("n_chars", length(col(textCol)).cast("long"))
    .withColumn("n_sym", regexp_count(col(textCol), lit(CodeSymRe)).cast("long"))
    .withColumn("n_kw", regexp_count(col(textCol), lit(CodeKwRe)).cast("long"))
    .withColumn("sym_ppm", expr("n_sym * 1000000 div n_chars"))
    .withColumn("is_code", col("n_kw") >= 6L && col("sym_ppm") >= 10000L)

  def t25(s: SparkSession, dir: String): DataFrame = {
    val seeded = Tables.documents(s, dir).withColumn("t",
      concat(col("text"),
        when(col("doc_id") % 4 === 0,
          array_join(array_repeat(lit(CodeSnip),
            (lit(3L) + col("doc_id") % 3L).cast("int")), ""))
          .otherwise(lit(""))))
    codeSignals(seeded, "t")
      .select(col("doc_id"), col("n_chars"), col("n_sym"), col("n_kw"),
        col("sym_ppm"), col("is_code"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: same plant (repeat of the literal snippet), same
    * regex classes, same integer-ppm threshold rule. */
  val t25Sql: String =
    s"""WITH seeded AS (
       |  SELECT doc_id, text || CASE WHEN doc_id % 4 = 0
       |    THEN repeat('$CodeSnip', CAST(3 + doc_id % 3 AS INT))
       |    ELSE '' END AS t
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
       |    CAST(len(regexp_extract_all(t, '$CodeSymRe')) AS BIGINT) AS n_sym,
       |    CAST(len(regexp_extract_all(t, '$CodeKwRe')) AS BIGINT) AS n_kw
       |  FROM seeded)
       |SELECT doc_id, n_chars, n_sym, n_kw,
       |  n_sym * 1000000 // n_chars AS sym_ppm,
       |  (n_kw >= 6 AND n_sym * 1000000 // n_chars >= 10000) AS is_code
       |FROM sig
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t6: text normalization — casefold + whitespace collapse + trim,
  // the canonical pre-dedup normalization pass. The query first
  // roughens the text deterministically (leading spaces, tripled
  // separators) so the normalizer provably collapses it; norm(messy)
  // must equal lower(text) exactly.
  /** Library API: lowercase, collapse runs of whitespace, trim. */
  def normalizeText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  def t6(s: SparkSession, dir: String): DataFrame = {
    val messy = concat(lit("  "), regexp_replace(col("text"), " ", "   "), lit(" "))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(messy).cast("long").as("len_messy"),
        normalizeText(messy).as("norm"),
        (normalizeText(messy) === lower(col("text"))).as("roundtrip"))
      .withColumn("len_norm", length(col("norm")).cast("long"))
      .orderBy(col("doc_id"))
  }

  val t6Sql: String =
    """WITH m AS (
      |  SELECT doc_id, text, '  ' || replace(text, ' ', '   ') || ' ' AS messy
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(messy) AS BIGINT) AS len_messy,
      |  trim(regexp_replace(lower(messy), '\s+', ' ', 'g')) AS norm,
      |  trim(regexp_replace(lower(messy), '\s+', ' ', 'g')) = lower(text) AS roundtrip,
      |  CAST(length(trim(regexp_replace(lower(messy), '\s+', ' ', 'g'))) AS BIGINT) AS len_norm
      |FROM m
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t7: corpus n-gram statistics — top-20 word-3-grams by document
  // frequency (each doc counts a shingle once: shinglesK dedups per
  // doc). The contamination-audit / memorization-check primitive:
  // explode shingles → count → top-k, one shuffle on the n-gram.
  // Deterministic ties: ORDER BY df DESC, ngram.
  def t7(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(explode(shinglesK(tokens(col("text")), 3)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("ngram"))
      .limit(20)
  }

  val t7Sql: String =
    s"""SELECT ng AS ngram, count(*) AS doc_freq
       |FROM documents, LATERAL (SELECT unnest(${shinglesKSql(tokensSql("text"), 3)}) AS ng)
       |GROUP BY ng
       |ORDER BY doc_freq DESC, ngram
       |LIMIT 20""".stripMargin

  /** t7's documented scale path: the same top-k n-gram document
    * frequencies, but the corpus-wide aggregation keys on
    * xxhash64(ngram) — a fixed-width 8-byte shuffle/sort key — with
    * min(ngram) carried as the exemplar (d8's hashed-key shape,
    * deterministic where first() isn't). At sf0.1 t7 is
    * expression-bound, not shuffle-bound (measured, PLANS.md), so the
    * oracle query keeps the readable raw-string groupBy; at corpus
    * scale (~1e9 distinct n-grams) the raw-string variant's shuffle
    * compares and sorts variable-length keys, and this one wins.
    * xxhash64 collisions would merge two n-grams' counts; at 1e9
    * distinct keys the birthday bound is ~3% chance of ONE collision
    * corpus-wide — fine for a frequency diagnostic (and spec'd
    * identical to t7 at test scale). */
  def ngramStatsHashed(docs: DataFrame, textCol: String = "text",
      k: Int = 3, topK: Int = 20): DataFrame = {
    docs.select(explode(shinglesK(tokens(col(textCol)), k)).as("ngram"))
      .groupBy(xxhash64(col("ngram")).as("__h"))
      .agg(min(col("ngram")).as("ngram"), count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("ngram"))
      .limit(topK)
      .select(col("ngram"), col("doc_freq"))
  }

  // -------------------------------------------------------------------
  // t8: corpus unigram-LM document scoring — the CCNet-style quality
  // filter: score each document by the average log-probability of its
  // tokens under the corpus's own unigram distribution (low = unusual
  // token mix = candidate junk), plus a rare-token count (tf < 5).
  //
  // Scale shape: ONE shuffle builds the term-frequency table (explode
  // → groupBy token, map-side combine collapses each partition to its
  // vocabulary first). The tf join back onto the exploded tokens is
  // deliberately UNHINTED: a forced broadcast(tf) would bypass Spark's
  // size-based demotion, and a web-corpus vocabulary under a
  // whitespace tokenizer is 1e8–1e9 rows (URLs, typos, code) — enough
  // to OOM executors. AQE promotes the join to broadcast-hash from the
  // tf shuffle's RUNTIME size when the vocabulary is genuinely small
  // (it is at every test SF — spec'd), and keeps the plain
  // co-partitioned shuffle join on the token key when it isn't — the
  // same auto-degradation q2/q22 rely on.
  //
  // FP discipline (SURVEY §6.5): tf and totals are exact integers; the
  // per-token log10 is one deterministic FP op on a small-integer
  // double, and the per-doc mean is rounded at 4 decimals — engine
  // summation-order differences (~1e-13 relative) sit far below the
  // rounding scale.
  def t8(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // ONE rollup aggregation yields the per-token counts AND the grand
    // total (the null-tok row): the two consumers below share an
    // identical shuffle subtree, so ReuseExchange materializes it once
    // — deriving the total independently would re-scan the corpus a
    // third time (tokens are never null, so the null row is
    // unambiguously the total)
    val tfAll = toks.rollup(col("tok")).agg(count(lit(1)).as("tf"))
    val tf = tfAll.filter(col("tok").isNotNull)
    val total = tfAll.filter(col("tok").isNull).select(col("tf").as("total"))
    toks.join(tf, Seq("tok")).crossJoin(broadcast(total)) // total is provably 1 row; tf is size-gated by AQE
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(when(col("tf") < 5, 1L).otherwise(0L)).as("n_rare"),
        round(avg(log10(col("tf").cast("double"))) -
          first(log10(col("total").cast("double"))), 4).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  val t8Sql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents),
       |tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf)
       |SELECT doc_id, count(*) AS n_toks,
       |  CAST(sum(CASE WHEN tf < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |  round(avg(log10(CAST(tf AS DOUBLE))) - log10(CAST(total AS DOUBLE)), 4)
       |    AS avg_logprob
       |FROM toks JOIN tf USING (tok), tot
       |GROUP BY doc_id, total
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t9: repetition signals — the Gopher/Dolma repetition filters: the
  // fraction of a document claimed by its single most frequent token,
  // and the fraction of its word-3-grams that are repeats. Boilerplate,
  // keyword-stuffed, and template-generated pages light up on exactly
  // these two numbers before any model-based scoring runs.
  //
  // Scale shape: two aggregations, both keyed by doc-local keys so
  // map-side partial agg bounds every shuffle: (doc_id, tok) counts
  // feed a per-doc window (partition = one doc's VOCABULARY, never the
  // corpus) for the arg-max token; (doc_id, trigram) partial-distinct
  // feeds count/count_distinct per doc. No corpus-wide hot key exists
  // by construction. Ties on the max count break lexicographically so
  // both engines pick the same token.
  def t9(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tc = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val wRank = Window.partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("tok"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val top = tc.select(col("doc_id"), col("tok"), col("cnt"),
        sum(col("cnt")).over(wDoc).as("n_toks"),
        row_number().over(wRank).as("__rn"))
      .filter(col("__rn") === 1)
    val tri = docs.select(col("doc_id"), explode(shinglesAllK(tokens(col("text")), 3)).as("ng"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_tri"), countDistinct(col("ng")).as("__n_tri_d"))
    top.join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"), col("tok").as("top_tok"),
        round(col("cnt").cast("double") / col("n_toks"), 6).as("top_tok_frac"),
        round(lit(1.0) - col("__n_tri_d").cast("double") / col("__n_tri"), 6)
          .as("dup_trigram_frac"))
      .orderBy(col("doc_id"))
  }

  val t9Sql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents),
       |tc AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
       |top AS (SELECT doc_id, tok, cnt,
       |          CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_toks,
       |          row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok) AS rn
       |        FROM tc),
       |tri AS (SELECT doc_id, unnest(${shinglesAllKSql(tokensSql("text"), 3)}) AS ng FROM documents),
       |td AS (SELECT doc_id, count(*) AS n_tri, count(DISTINCT ng) AS n_tri_d FROM tri GROUP BY 1)
       |SELECT t.doc_id, t.n_toks, t.tok AS top_tok,
       |  round(CAST(t.cnt AS DOUBLE) / t.n_toks, 6) AS top_tok_frac,
       |  round(1.0 - CAST(td.n_tri_d AS DOUBLE) / td.n_tri, 6) AS dup_trigram_frac
       |FROM top t LEFT JOIN td USING (doc_id)
       |WHERE t.rn = 1
       |ORDER BY t.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // t10: the corpus quality dashboard — per (source, lang): doc count,
  // token volume, mean quality, and the exact-duplicate rate. This is
  // the report a curation run publishes before anyone debates
  // filtering thresholds. Two shuffles, both at data-bounded
  // cardinality: one on md5(text) (duplicate-set sized groups — map-
  // side combine collapses same-executor copies first) to flag dup
  // docs, one on (source, lang) for the rollup.
  //
  // Mean quality is order-independent: the per-doc double is rounded
  // to 6dp (deterministic, same value both engines — t2's contract)
  // and summed as DECIMAL, so partition merge order can't wiggle the
  // corpus mean (oracle rule §6.1 applied to an FP-derived column).
  def t10(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        round(qualityScore(col("text")), 6).cast("decimal(18,8)").as("q"),
        md5(col("text")).as("h"))
    val dupSets = d.groupBy(col("h")).agg(count(lit(1)).as("__copies"))
    d.join(dupSets, Seq("h"))
      .groupBy(col("source"), col("lang"))
      // averages stay UNROUNDED: numerator (exact decimal / exact int)
      // and denominator are bit-identical in both engines, so the raw
      // IEEE divide matches exactly — while a final round() is the one
      // step whose half-way tie-breaking differs between engines
      // (sf0.001 hit a .5 boundary digit: 0.5145755 → 6dp divergence)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        (sum(col("q")).cast("double") / count(lit(1))).as("avg_quality"),
        sum(when(col("__copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        (sum(when(col("__copies") > 1, 1L).otherwise(0L)).cast("double") / count(lit(1)))
          .as("dup_frac"))
      .orderBy(col("source"), col("lang"))
  }

  val t10Sql: String = {
    val toks = tokensSql("text")
    s"""WITH d AS (
       |  SELECT doc_id, source, lang,
       |    CAST(len($toks) AS BIGINT) AS n_toks,
       |    CAST(round(${qualityScoreSql("text")}, 6)
       |      AS DECIMAL(18,8)) AS q,
       |    md5(text) AS h
       |  FROM documents),
       |ds AS (SELECT h, count(*) AS copies FROM d GROUP BY 1)
       |SELECT source, lang, count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       |  CAST(sum(q) AS DOUBLE) / count(*) AS avg_quality,
       |  CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |  CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
       |FROM d JOIN ds USING (h)
       |GROUP BY source, lang
       |ORDER BY source, lang""".stripMargin
  }

  // -------------------------------------------------------------------
  // t11: language-ID confusion matrix — pred_lang (t3's heuristic) vs
  // the labeled language, with each cell's exact parts-per-million of
  // its labeled row. The measure-don't-guess audit for the langid
  // gate (d9's role for minhash, m20's for splits): before trusting
  // stage 4 of Corpus.curate at a new corpus, read this matrix. Shape:
  // map-side predLang → one groupBy at |langs|² cardinality → per-label
  // totals joined back (broadcast — bounded by the language set).
  // Rates are integer ppm (c13's rule): exact in both engines.
  def t11(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy(col("lang").as("labeled_lang"), predLang(col("text")).as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = cells.groupBy(col("labeled_lang")).agg(sum(col("n_docs")).as("__n_lab"))
    cells.join(broadcast(tot), Seq("labeled_lang")) // bounded: one row per language
      .select(col("labeled_lang"), col("pred_lang"), col("n_docs"),
        expr("n_docs * 1000000L div __n_lab").as("cell_ppm"))
      .orderBy(col("labeled_lang"), col("pred_lang"))
  }

  val t11Sql: String =
    s"""WITH cells AS (
       |  SELECT lang AS labeled_lang, ${predLangSql("text")} AS pred_lang, count(*) AS n_docs
       |  FROM documents GROUP BY 1, 2),
       |tot AS (SELECT labeled_lang, CAST(sum(n_docs) AS BIGINT) AS n_lab FROM cells GROUP BY 1)
       |SELECT labeled_lang, pred_lang, n_docs,
       |  n_docs * 1000000 // n_lab AS cell_ppm
       |FROM cells JOIN tot USING (labeled_lang)
       |ORDER BY labeled_lang, pred_lang""".stripMargin

  // -------------------------------------------------------------------
  // t12: sequence packing — concat-and-split docs into fixed-capacity
  // token chunks, the layout step that turns a curated corpus into LLM
  // training windows (each chunk ≈ one context window; fill_frac is
  // the padding-waste metric). Packing is SHARD-LOCAL (per source, in
  // doc_id order): a doc lands in the chunk where its first token
  // falls — chunk_id = floor(tokens-before-it / capacity) — so the
  // assignment is a pure prefix-sum, deterministic, and exactly the
  // "concatenate then split every C tokens" rule (the straddling doc
  // counts toward its STARTING chunk, so a chunk may exceed C by up to
  // one doc; no doc is ever split across sources).
  //
  // Scale: ONE shuffle (hash by source for the window); the chunk
  // aggregation reuses that partitioning (source is a prefix of the
  // grouping key), so no second exchange. A pathologically hot source
  // serializes its own prefix-sum — at 100 TB pre-split hot sources on
  // a (source, file_id) sub-shard key; the rule stays shard-local so
  // the output is identical per shard.
  val packCapacity = 512L

  def t12(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("chunk_id", expr(s"cum_before div $packCapacity"))
      .groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("fill_frac",
        round(col("n_tokens").cast("double") / lit(packCapacity.toDouble), 6))
      .orderBy(col("source"), col("chunk_id"))
  }

  /** Library API: t12's SCALE PATH — sequence packing on a
    * `(source, shard)` sub-key so every prefix sum is shard-local.
    * t12's per-source window totally orders each source through ONE
    * task's sort; at 100 TB the dominant source (Common Crawl in any
    * real mix) serializes — a straggler AQE cannot split because the
    * window semantics demand the total order. Sharding restores
    * parallelism: the caller supplies the sub-key (the ingest file id
    * in production — doc order within a file is the arrival order
    * packing wants; any deterministic doc_id-derived key in tests),
    * and the packing rule runs UNCHANGED per (source, shard), so each
    * shard's chunks are byte-identical to running [[t12]] on that
    * shard's documents alone (TextLayoutSpec asserts exactly this).
    * The cost of sharding is one partially-filled trailing chunk per
    * shard instead of per source — fill_frac distribution over
    * non-trailing chunks is untouched (also spec'd).
    *
    * Scale: ONE shuffle, hash by (source, shard); max task = the
    * largest SHARD, which the ingest layer bounds (a file), not the
    * largest source. The chunk aggregation reuses the window's
    * partitioning (its keys are a prefix of the grouping key). */
  def seqPackSharded(docs: DataFrame, textCol: String, sourceCol: String,
      idCol: String, shard: Column, capacity: Long = packCapacity): DataFrame = {
    val w = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(sourceCol).as("source"), shard.as("shard"), col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tok"))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("chunk_id", expr(s"cum_before div $capacity"))
      .groupBy(col("source"), col("shard"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("fill_frac",
        round(col("n_tokens").cast("double") / lit(capacity.toDouble), 6))
  }

  val t12Sql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      // $packCapacity AS BIGINT) AS chunk_id
       |  FROM t)
       |SELECT source, chunk_id, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(n_tok) AS DOUBLE) / $packCapacity, 6) AS fill_frac
       |FROM c GROUP BY source, chunk_id
       |ORDER BY source, chunk_id""".stripMargin

  // -------------------------------------------------------------------
  // t13: token-budget sampling — per source, walk docs from highest
  // quality down and keep them until the source's token budget is
  // spent ("give me the best N tokens per domain", the selection step
  // between scoring and mixing in a pretraining build). Greedy prefix
  // rule: a doc is kept iff the tokens taken BEFORE it are still under
  // budget (the boundary doc may overshoot; deterministic, no
  // knapsack). Order is (rounded quality DESC, doc_id) — the rounding
  // is t2's proven-portable 6dp so the walk order, and therefore the
  // kept set, is engine-independent.
  //
  // Scale: same shape as t12 — one hash shuffle by source, prefix-sum
  // window, aggregation on the window's own partitioning. The output
  // is the per-source attrition line (kept docs/tokens, spend), not
  // the kept rows themselves — at 100 TB the same frame minus the
  // final aggregate IS the sampled corpus (join back on doc_id).
  val tokenBudget = 2000L

  def t13(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        round(qualityScore(col("text")), 6).as("quality"))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("kept", (col("cum_before") < tokenBudget).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).cast("long").as("n_kept"),
        sum(col("n_tok") * col("kept")).as("kept_tokens"),
        sum(col("n_tok")).as("total_tokens"),
        round(min(when(col("kept") === 1, col("quality"))), 6).as("min_kept_quality"))
      .withColumn("kept_frac",
        round(col("kept_tokens").cast("double") / col("total_tokens"), 6))
      .orderBy(col("source"))
  }

  val t13Sql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok,
       |    round(${qualityScoreSql("text")}, 6) AS quality
       |  FROM documents),
       |c AS (
       |  SELECT source, n_tok, quality,
       |    CASE WHEN COALESCE(SUM(n_tok) OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      < $tokenBudget THEN 1 ELSE 0 END AS kept
       |  FROM t)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(kept) AS BIGINT) AS n_kept,
       |  CAST(sum(n_tok * kept) AS BIGINT) AS kept_tokens,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |  round(min(CASE WHEN kept = 1 THEN quality END), 6) AS min_kept_quality,
       |  round(CAST(sum(n_tok * kept) AS DOUBLE) / sum(n_tok), 6) AS kept_frac
       |FROM c GROUP BY source
       |ORDER BY source""".stripMargin

  /** Library API: t13's SCALE PATH — token-budget selection by a
    * per-source quality THRESHOLD instead of a per-source total-order
    * prefix sum. t13's window serializes each source through one
    * task; this variant replaces it with three bounded steps:
    *
    *  1. histogram: per (source, quality-bin) token sums — map-side
    *     combinable, ≤ `bins` rows per source ever shuffled;
    *  2. cut: a cumulative walk over the HISTOGRAM (a window, but
    *     over ≤ `bins` domain-bounded rows per source — m17's
    *     bounded-domain argument, not a corpus total order) finds the
    *     bin where top-down cumulative tokens cross the budget; the
    *     per-source (cut_bin, tokens_above_cut) frame is tiny and
    *     broadcast;
    *  3. keep: map-side — docs in bins above the cut are kept, below
    *     are dropped. Only the CUT STRATUM is ambiguous.
    *
    * `resolveBoundary = true` (default) runs t13's exact greedy rule
    * on the cut stratum only, seeded with tokens_above_cut — a
    * per-source total order over ~1/bins of the source's docs, not
    * the source. The result is then EXACTLY t13's kept set: binning
    * uses the same 6dp-rounded quality as t13's walk order, floor is
    * monotone, so every doc above the cut bin precedes every stratum
    * doc in the walk (all kept: their total is < budget by the cut's
    * definition), every doc below follows it (all dropped: the walk's
    * cum is ≥ budget once the stratum total is in), and the seeded
    * stratum walk reproduces the middle verbatim. TextLayoutSpec
    * asserts bit-equality with t13. `resolveBoundary = false` drops
    * the stratum (one map-side filter, zero windows): under-spends by
    * at most one stratum's tokens — CCNet's own accept-the-fuzz move.
    *
    * Degenerate case: a source whose quality is CONSTANT collapses to
    * one bin, and the stratum walk is the full source again — the
    * exact cost t13 pays everywhere; real corpora put 6dp-rounded
    * quality across ~1e5 strata. Output: one row per doc with `kept`.
    */
  def tokenBudgetByThreshold(docs: DataFrame, textCol: String, sourceCol: String,
      idCol: String, budget: Long = tokenBudget, bins: Int = 100000,
      resolveBoundary: Boolean = true,
      // the t22 composition point: budgets steer TRAINING tokens, so a
      // caller can spend the budget in tokenizer-accurate units by
      // passing e.g. `t => ceil(size(tokens(t)) * bpe_per_regex)` with
      // the per-source correction factor t22_bpe_drift measured —
      // regex counts at scan speed, BPE budgets at selection time
      nTok: Column => Column = t => size(tokens(t)).cast("long")): DataFrame = {
    val scored = docs.select(col(sourceCol).as("source"), col(idCol).as("doc_id"),
        nTok(col(textCol)).cast("long").as("n_tok"),
        round(qualityScore(col(textCol)), 6).as("quality"))
      .withColumn("qbin", least(greatest(floor(col("quality") * bins), lit(0L)),
        lit(bins - 1L)).cast("long"))
    val wh = Window.partitionBy(col("source")).orderBy(col("qbin").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cuts = scored.groupBy(col("source"), col("qbin"))
      .agg(sum(col("n_tok")).as("bin_tok"))
      .withColumn("cum_above", coalesce(sum(col("bin_tok")).over(wh), lit(0L)))
      .withColumn("is_cut",
        col("cum_above") < budget && col("cum_above") + col("bin_tok") >= budget)
      .groupBy(col("source"))
      .agg(max(when(col("is_cut"), col("qbin"))).as("cut_bin"), // ≤1 cut row per source
        max(when(col("is_cut"), col("cum_above"))).as("cut_cum"))
    val j = scored.join(broadcast(cuts), Seq("source"))
    // cut_bin null ⇔ the source's total tokens never reach the budget
    val nonBoundary = j.filter(col("cut_bin").isNull || col("qbin") =!= col("cut_bin"))
      .withColumn("kept", col("cut_bin").isNull || col("qbin") > col("cut_bin"))
    val boundary = j.filter(col("cut_bin").isNotNull && col("qbin") === col("cut_bin"))
    val resolved =
      if (!resolveBoundary) boundary.withColumn("kept", lit(false))
      else {
        val wb = Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        boundary
          .withColumn("__bcum", coalesce(sum(col("n_tok")).over(wb), lit(0L)))
          .withColumn("kept", col("cut_cum") + col("__bcum") < budget)
          .drop("__bcum")
      }
    nonBoundary.unionByName(resolved)
      .select(col("source"), col("doc_id"), col("n_tok"), col("quality"), col("kept"))
  }

  /** t13's exact output schema computed via [[tokenBudgetByThreshold]]
    * — the comparison harness TextLayoutSpec uses to assert the scale
    * path reproduces the oracle-exact form. */
  def t13ByThreshold(s: SparkSession, dir: String,
      resolveBoundary: Boolean = true): DataFrame = {
    tokenBudgetByThreshold(Tables.documents(s, dir), "text", "source", "doc_id",
      tokenBudget, resolveBoundary = resolveBoundary)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept").cast("long")).as("n_kept"),
        sum(col("n_tok") * col("kept").cast("long")).as("kept_tokens"),
        sum(col("n_tok")).as("total_tokens"),
        round(min(when(col("kept"), col("quality"))), 6).as("min_kept_quality"))
      .withColumn("kept_frac",
        round(col("kept_tokens").cast("double") / col("total_tokens"), 6))
      .orderBy(col("source"))
  }

  // -------------------------------------------------------------------
  // t14: CCNet perplexity bucketing — split each language's documents
  // into head/middle/tail terciles of the t8 unigram-LM score (high
  // score = fluent = head; CCNet trains on head+middle and drops or
  // down-weights tail). Buckets come from ntile(3) over (rounded
  // score DESC, doc_id) — integer rank arithmetic on an engine-stable
  // order, no FP percentile interpolation to diverge on.
  //
  // Scale: the ntile window totally orders each language's partition —
  // exact and fine at audit scale, but the dominant web language would
  // serialize into one task at 100 TB. The production swap (CCNet's
  // own move) is threshold bucketing: compute per-lang score
  // percentiles on a sample (approx_percentile), broadcast the two
  // cut points, bucket map-side — same output schema, no total order.
  def t14(s: SparkSession, dir: String): DataFrame = {
    val scored = t8(s, dir).select(col("doc_id"), col("avg_logprob"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    scored.withColumn("ppl_bucket", ntile(3).over(w).cast("long"))
      .withColumn("bucket",
        when(col("ppl_bucket") === 1, "head")
          .when(col("ppl_bucket") === 2, "middle").otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("avg_logprob"), col("ppl_bucket"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  // composes t8Sql verbatim (the s10 pattern) — a future change to
  // t8's scoring can't silently diverge from the bucketing oracle
  val t14Sql: String =
    s"""WITH sc AS (SELECT doc_id, avg_logprob FROM ($t8Sql)),
       |b AS (
       |  SELECT sc.doc_id, d.lang, sc.avg_logprob,
       |    CAST(ntile(3) OVER (PARTITION BY d.lang
       |      ORDER BY sc.avg_logprob DESC, sc.doc_id) AS BIGINT) AS ppl_bucket
       |  FROM sc JOIN documents d USING (doc_id))
       |SELECT doc_id, lang, avg_logprob, ppl_bucket,
       |  CASE ppl_bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM b ORDER BY doc_id""".stripMargin

  /** Library API: t14's SCALE PATH — perplexity bucketing by
    * per-language score THRESHOLDS instead of a per-language ntile
    * total order (CCNet's own production move). No window ever
    * touches the corpus, so the dominant language (English, ~half of
    * any web crawl) no longer serializes through one task's sort:
    *
    *  1. histogram: per (lang, score) doc counts. t8's avg_logprob is
    *     4dp-rounded, so the score DOMAIN is bounded (~60k distinct
    *     values per lang at any corpus size) — m17's bounded-domain
    *     argument makes the exact histogram admissible where an
    *     unbounded column would demand the approx_percentile sketch
    *     (the sketch variant is one substitution away; its rank error
    *     n/accuracy would blur only the same boundary strata).
    *  2. cuts: a cumulative walk over the HISTOGRAM (window over ≤60k
    *     domain-bounded rows per lang, not the corpus) picks the two
    *     tercile cut scores at ntile's OWN bucket-size convention
    *     (first n mod 3 buckets get the extra doc), so with distinct
    *     scores the thresholds reproduce ntile exactly.
    *  3. bucket: the tiny (lang, c_head, c_mid) frame broadcasts into
    *     one map-side CASE.
    *
    * Exactness contract vs [[t14]]: `resolveTies = true` (default) is
    * BIT-EXACT. The histogram walk hands every (lang, score) stratum
    * its strictly-above doc count, and a stratum-LOCAL row_number
    * (window keyed by (lang, score) — ntile's tie-break order, never
    * a per-lang total order) rebuilds each doc's exact global rank:
    * bucket = rank vs ntile's own bucket edges. Max task = the
    * largest single tied-score stratum, not the largest language
    * (degenerate all-one-score language = t13's constant-quality
    * caveat, documented there). `resolveTies = false` skips the
    * stratum window entirely — a pure value-threshold CASE whose only
    * disagreements are tied boundary scores (the whole tie lands in
    * the upper bucket; adjacent buckets unless one tie spans both
    * cuts). TextLayoutSpec asserts bit-equality for the default and
    * measures the threshold-only agreement.
    *
    * `scored`: (doc_id, lang, avg_logprob) — t14's post-t8 frame. */
  def pplBucketsByThreshold(scored: DataFrame, resolveTies: Boolean = true): DataFrame = {
    val hist = scored.groupBy(col("lang"), col("avg_logprob"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("avg_logprob").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
    val walked = hist
      .withColumn("cum", sum(col("c")).over(wCum)) // docs with score ≥ this row's
      .withColumn("n", sum(col("c")).over(wAll))
      // ntile(3) bucket sizes: first (n mod 3) buckets take the extra doc
      .withColumn("k1", expr("n div 3 + CASE WHEN n % 3 >= 1 THEN 1 ELSE 0 END"))
      .withColumn("k12", expr("2 * (n div 3) + LEAST(n % 3, 2)"))
    val bucketed =
      if (resolveTies) {
        // exact global rank = strictly-above count (histogram) +
        // rank inside the tied stratum (stratum-local window)
        val strata = walked.select(col("lang"), col("avg_logprob"),
          (col("cum") - col("c")).as("above"), col("k1"), col("k12"))
        val wTie = Window.partitionBy(col("lang"), col("avg_logprob")).orderBy(col("doc_id"))
        scored
          .withColumn("__rn", row_number().over(wTie).cast("long"))
          .join(strata, Seq("lang", "avg_logprob")) // same keys as wTie: exchange reused
          .withColumn("__pos", col("above") + col("__rn"))
          .withColumn("ppl_bucket",
            when(col("__pos") <= col("k1"), 1L)
              .when(col("__pos") <= col("k12"), 2L).otherwise(3L))
      } else {
        // highest score whose ≥-score doc count reaches each bucket edge
        val cuts = walked.groupBy(col("lang"))
          .agg(max(when(col("cum") >= col("k1"), col("avg_logprob"))).as("c_head"),
            max(when(col("cum") >= col("k12"), col("avg_logprob"))).as("c_mid"))
        scored.join(broadcast(cuts), Seq("lang"))
          .withColumn("ppl_bucket",
            when(col("avg_logprob") >= col("c_head"), 1L)
              .when(col("avg_logprob") >= col("c_mid"), 2L).otherwise(3L))
      }
    bucketed
      .withColumn("bucket",
        when(col("ppl_bucket") === 1, "head")
          .when(col("ppl_bucket") === 2, "middle").otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("avg_logprob"),
        col("ppl_bucket"), col("bucket"))
  }

  /** t14's output schema via [[pplBucketsByThreshold]] — the
    * agreement-measurement harness for TextLayoutSpec. */
  def t14ByThreshold(s: SparkSession, dir: String,
      resolveTies: Boolean = true): DataFrame = {
    val scored = t8(s, dir).select(col("doc_id"), col("avg_logprob"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
    pplBucketsByThreshold(scored, resolveTies).orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------
  // t15: Gopher-style rule filter (Rae et al. 2021 §A1.1, the
  // pretraining quality gate that runs BEFORE anything expensive):
  // token-count bounds, mean-word-length bounds, alpha-word fraction,
  // required-stopword presence. Every rule compares INTEGERS (the
  // word-length bound is 3·n ≤ Σlen ≤ 10·n, the 80% alpha fraction is
  // 5·n_alpha ≥ 4·n) so the flags carry no FP rounding anywhere; the
  // one double (mean word length, reported for the profile) is a
  // single division rounded to 4dp. Map-only — scan-bound at 100 TB.
  //
  // Reference tie-in: the reference gates rows only by dtype/null
  // handling (main.py:66-129); a corpus pipeline gates documents.
  // Rule constants are the published Gopher values where this corpus
  // can exercise them (50 ≤ tokens, word length in [3,10], 80% alpha
  // words, ≥2 distinct stopwords).
  def t15(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long"))
          .as("sum_word_len"),
        size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
          .as("n_alpha_words"),
        size(array_intersect(array_distinct(toks),
          array(stopwords.map(lit(_)): _*))).cast("long").as("n_distinct_stop"))
      .withColumn("mean_word_len",
        when(col("n_tokens") > 0,
          round(col("sum_word_len").cast("double") / col("n_tokens"), 4))
          .otherwise(lit(0.0)))
      .withColumn("r_len",
        (col("n_tokens") >= 50L && col("n_tokens") <= 100000L).cast("long"))
      .withColumn("r_wordlen",
        (col("sum_word_len") >= col("n_tokens") * 3L &&
          col("sum_word_len") <= col("n_tokens") * 10L).cast("long"))
      .withColumn("r_alpha",
        (col("n_alpha_words") * 5L >= col("n_tokens") * 4L).cast("long"))
      .withColumn("r_stop", (col("n_distinct_stop") >= 2L).cast("long"))
      .withColumn("keep",
        (col("r_len") + col("r_wordlen") + col("r_alpha") + col("r_stop") === 4L)
          .cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Library API: t15's gate over any corpus frame — returns the input
    * plus the rule flags and `keep` (map-only; compose ahead of dedup
    * exactly like `Corpus.curate`'s quality stage). */
  def gopherFilter(docs: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    docs
      .withColumn("__n", size(toks).cast("long"))
      .withColumn("__sl", aggregate(toks, lit(0L), (a, t) => a + length(t).cast("long")))
      .withColumn("__na", size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long"))
      .withColumn("__ns", size(array_intersect(array_distinct(toks),
        array(stopwords.map(lit(_)): _*))).cast("long"))
      .withColumn("r_len", (col("__n") >= 50L && col("__n") <= 100000L).cast("long"))
      .withColumn("r_wordlen",
        (col("__sl") >= col("__n") * 3L && col("__sl") <= col("__n") * 10L).cast("long"))
      .withColumn("r_alpha", (col("__na") * 5L >= col("__n") * 4L).cast("long"))
      .withColumn("r_stop", (col("__ns") >= 2L).cast("long"))
      .withColumn("keep",
        (col("r_len") + col("r_wordlen") + col("r_alpha") + col("r_stop") === 4L)
          .cast("long"))
      .drop("__n", "__sl", "__na", "__ns")
  }

  val t15Sql: String = {
    val inList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH b AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0)
       |      AS BIGINT) AS sum_word_len,
       |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
       |      AS BIGINT) AS n_alpha_words,
       |    CAST(len(list_intersect(list_distinct(toks), [$inList]))
       |      AS BIGINT) AS n_distinct_stop
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents))
       |SELECT doc_id, n_tokens, sum_word_len, n_alpha_words, n_distinct_stop,
       |  CASE WHEN n_tokens > 0
       |    THEN round(CAST(sum_word_len AS DOUBLE) / n_tokens, 4)
       |    ELSE 0.0 END AS mean_word_len,
       |  CAST(CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
       |    AS BIGINT) AS r_len,
       |  CAST(CASE WHEN sum_word_len BETWEEN n_tokens * 3 AND n_tokens * 10
       |    THEN 1 ELSE 0 END AS BIGINT) AS r_wordlen,
       |  CAST(CASE WHEN n_alpha_words * 5 >= n_tokens * 4 THEN 1 ELSE 0 END
       |    AS BIGINT) AS r_alpha,
       |  CAST(CASE WHEN n_distinct_stop >= 2 THEN 1 ELSE 0 END AS BIGINT)
       |    AS r_stop,
       |  CAST(CASE WHEN (CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)
       |    + (CASE WHEN sum_word_len BETWEEN n_tokens * 3 AND n_tokens * 10 THEN 1 ELSE 0 END)
       |    + (CASE WHEN n_alpha_words * 5 >= n_tokens * 4 THEN 1 ELSE 0 END)
       |    + (CASE WHEN n_distinct_stop >= 2 THEN 1 ELSE 0 END) = 4
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM b
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // t16: TF-IDF top terms per document — the classic keyword surface
  // (salient-term extraction for routing, topic sampling, or cheap
  // retrieval keys over a pretraining corpus). idf = log10((N+1)/(df+1))
  // with add-one smoothing so corpus-universal terms land at ~0 and
  // nothing divides by zero; score = tf·idf rounded 4dp BEFORE ranking
  // so both engines rank the same values, ties broken lexicographically
  // (t9's arg-max rule). Top-3 terms per doc.
  //
  // Scale shape: tf aggregates at (doc_id, term) grain (doc-local keys,
  // map-side partial agg); df aggregates the tf frame at term grain —
  // bounded by VOCABULARY, not corpus; N is a 1-row broadcast (q23's
  // scalar pattern). The tf⋈df join re-shuffles on term where AQE
  // broadcasts the df side whenever the vocabulary fits (it virtually
  // always does — vocab grows ~Heaps' law, sublinear in corpus). The
  // ranking window partitions by doc_id: partition size = one doc's
  // distinct terms, never a corpus aggregate. A stopword-ish hot term
  // fans out per (doc, term) ROW — linear, no quadratic blowup exists.
  def t16(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term"))
      .crossJoin(broadcast(n)) // provably 1 row
      .withColumn("score",
        round(col("tf").cast("double") *
          (log10((col("n_docs") + 1L).cast("double")) -
            log10((col("df") + 1L).cast("double"))), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val t16Sql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |    round(CAST(tf AS DOUBLE) *
       |      (log10(CAST(n_docs + 1 AS DOUBLE)) - log10(CAST(df + 1 AS DOUBLE))), 4)
       |      AS score
       |  FROM tf JOIN df USING (term), n)
       |SELECT doc_id, term, tf, df, score, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  // -------------------------------------------------------------------
  // t17/t18/t19: the SCALE PATHS of t13/t14/t12, driven through the
  // oracle gate themselves (round-9 VERDICT item 2: library forms were
  // spec-covered only, gated only transitively via bit-equality specs).
  // Each is the d13 trick — deterministic parameters make the library
  // path reproduce an oracle-expressible result cross-engine — so the
  // driver's DuckDB gate now exercises the histogram-cut walk, the
  // stratum-rank rebuild, and the sharded prefix sum directly, not
  // just the total-order forms they replace at 100 TB.

  /** t17: t13's per-source budget line computed by the THRESHOLD path
    * ([[tokenBudgetByThreshold]]: histogram → cut → boundary-stratum
    * walk) — same oracle SQL as t13 because the threshold path is
    * exactly t13's greedy kept set (proof in the library Scaladoc). */
  def t17(s: SparkSession, dir: String): DataFrame = t13ByThreshold(s, dir)

  val t17Sql: String = t13Sql // bit-equal by construction — shared twin

  /** t18: t14's CCNet terciles computed by the THRESHOLD path
    * ([[pplBucketsByThreshold]]: histogram walk + stratum-local rank
    * rebuild — no per-language total order touches the corpus). */
  def t18(s: SparkSession, dir: String): DataFrame = t14ByThreshold(s, dir)

  val t18Sql: String = t14Sql // bit-equal by construction — shared twin

  /** t19: [[seqPackSharded]] on a deterministic doc_id-derived shard
    * key (production: the ingest file id) — t12's packing rule run
    * per (source, shard) so the dominant source no longer serializes
    * through one task's total order. */
  def t19(s: SparkSession, dir: String): DataFrame =
    seqPackSharded(Tables.documents(s, dir), "text", "source", "doc_id",
      pmod(col("doc_id"), lit(4L)))
      .orderBy(col("source"), col("shard"), col("chunk_id"))

  val t19Sql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id % 4 AS shard, doc_id,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, shard, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      // $packCapacity AS BIGINT) AS chunk_id
       |  FROM t)
       |SELECT source, shard, chunk_id, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(n_tok) AS DOUBLE) / $packCapacity, 6) AS fill_frac
       |FROM c GROUP BY source, shard, chunk_id
       |ORDER BY source, shard, chunk_id""".stripMargin

  // -------------------------------------------------------------------
  // t21: deterministic corpus shuffle + fixed-size shard layout — the
  // step between t12's packing and training ingestion: a training run
  // wants documents in a SEEDED pseudo-random global order (no source
  // runs, no doc_id locality) cut into fixed-size shards, each with a
  // manifest (docs, tokens, source mix) the data loader reads. Order
  // is a portable TWO-STEP mixing hash — ((id mod P)·1103515245 +
  // seed·2654435761 + 12345) mod P, then ·48271 mod P again (hpSignC's
  // Lehmer re-multiply) — with an (h, id) total tiebreak, so the
  // layout is reproducible from the seed alone on any engine. The
  // single-multiply form (id·48271 + seed) mod P was tried first and
  // CAUGHT BY THE SPEC: for id ranges below P/48271 it never wraps,
  // so the "shuffle" preserved id order and the seed only shifted it
  // — a correlated layout that would feed training data in crawl
  // order. The first multiply wraps for every id ≥ 2; max
  // intermediate ≈ P·1103515245 + seed·2654435761 ≈ 8.1e18 stays in
  // BIGINT for seed < 2^31 (require'd).
  //
  // Scale shape: a naive global row_number is ONE task sorting the
  // corpus (lint-banned); [[corpusShuffle]] two-levels it — the hash
  // domain [0,P) splits into `buckets` ORDER-ALIGNED ranges (bucket =
  // h div width, so bucket order == hash order), per-bucket counts
  // aggregate map-side (≤buckets rows), the cumulative-offset walk
  // runs over that bounded frame (t18's histogram argument), and each
  // doc's global rank = its bucket's offset + a bucket-LOCAL
  // row_number (max task = corpus/buckets). The DuckDB twin uses the
  // plain global window — hash-matching it is the PROOF the two-level
  // rank equals the total order. Manifest rows are (shard, source)
  // grain; the spec checks fixed shard sizes, seed determinism,
  // shuffle-partition invariance, and composition with seqPackSharded.
  val ShuffleSeed = 2024L
  val ShardSize = 64L

  /** Library API: seeded hash-order global shuffle → fixed-size
    * shards. Adds `__h` (the portable order key) and `shard` to
    * `docs`. Two-level ranking, no corpus-wide window (above). */
  def corpusShuffle(docs: DataFrame, idCol: String,
      seed: Long = ShuffleSeed, shardSize: Long = ShardSize,
      buckets: Int = 4096): DataFrame = {
    require(seed >= 0 && seed < P, s"seed must be in [0, $P), got $seed")
    val width = P / buckets + 1
    val h = pmod(pmod(pmod(col(idCol), lit(P)) * 1103515245L +
      lit(seed) * 2654435761L + 12345L, lit(P)) * 48271L, lit(P))
    val base = docs.withColumn("__h", h)
      .withColumn("__hb", expr(s"__h div $width"))
    val wOff = Window.orderBy(col("__hb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("__hb")).agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wOff), lit(0L)))
      .drop("__bn") // ≤`buckets` rows: the window is construction-bounded
    val wLoc = Window.partitionBy(col("__hb")).orderBy(col("__h"), col(idCol))
    base.join(broadcast(offsets), Seq("__hb"))
      .withColumn("__rk", col("__off") + row_number().over(wLoc))
      .withColumn("shard", expr(s"(__rk - 1) div $shardSize"))
      .drop("__hb", "__off", "__rk")
  }

  /** t21: the shard-layout manifest — per (shard, source): docs and
    * token volume (the source-mix line a loader or a mixing audit
    * reads per shard). */
  def t21(s: SparkSession, dir: String): DataFrame =
    corpusShuffle(Tables.documents(s, dir), "doc_id")
      .groupBy(col("shard"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .orderBy(col("shard"), col("source"))

  val t21Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok,
       |    ((((doc_id % $P) * 1103515245 + $ShuffleSeed * 2654435761 + 12345) % $P) * 48271) % $P AS h
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (ORDER BY h, doc_id) AS rk FROM t)
       |SELECT CAST((rk - 1) // $ShardSize AS BIGINT) AS shard, source,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM r GROUP BY 1, 2
       |ORDER BY shard, source""".stripMargin

  // -------------------------------------------------------------------
  // t20 (rows-only): the TRAINED quality gate's audit — distill t2
  // into a fastText-shape classifier (hashed unigram+bigram features →
  // MLlib LR, graft.QualityClassifier) on a hash-selected seed HALF of
  // the corpus, score the HELD-OUT half, and report per-source
  // held-out agreement with the t2 gate in integer ppm. This is the
  // measured answer to "can a learned gate reproduce (and then
  // outgrow) the heuristic it bootstraps from" — the GPT-3/LLaMA
  // quality-classifier pattern, where the seed would be known-good vs
  // known-bad corpora instead of t2 labels. Rows-only by design:
  // LBFGS-trained weights aren't oracle-replicable (m7/m14's
  // category); the planted-victim behavior is spec-covered in
  // CorpusSpec and the featurizer/scorer are deterministic.
  //
  // Scale: training touches only the SEED; scoring is one stateless
  // map-side transform (no vocabulary state, m19's hashing-trick
  // argument) — the whole audit is two scans + one per-source agg.
  /** t20's LBFGS seed cap (Sampling.capTrainingSample's rationale —
    * training wall must not scale with the corpus; a 200k-doc seed is
    * far past classifier convergence for 8k hashed features). */
  val T20SeedCap = 200000L

  def t20(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("__label",
        (round(qualityScore(col("text")), 6) >= 0.5).cast("double"))
      .withColumn("__seed", pmod(xxhash64(col("doc_id")), lit(2L)) === 0)
    val model = graft.QualityClassifier.train(
      graft.functions.Sampling.capTrainingSample(
        docs.filter(col("__seed")), T20SeedCap, col("doc_id")),
      "text", "__label")
    graft.QualityClassifier.score(model, docs.filter(!col("__seed")), "text")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_holdout"),
        sum(col("__label").cast("long")).as("n_t2_pass"),
        sum(col("q_pred")).as("n_clf_pass"),
        expr("sum(CASE WHEN q_pred = CAST(__label AS BIGINT) THEN 1 ELSE 0 END)" +
          " * 1000000 div count(1)").as("agree_ppm"))
      .orderBy(col("source"))
  }

  // -------------------------------------------------------------------
  // t22 (rows-only): tokenizer-fidelity audit — the token BUDGETS
  // steering the mixing/selection ops (t13/t17, m16/m25) count REGEX
  // tokens, but a training run consumes BPE tokens; if the two drift
  // differently per source, the realized mix is not the configured
  // mix. This audit computes merge-accurate BPE token counts on a
  // hash-selected document sample against a merges table (rank,
  // left, right — the published-tokenizer artifact shape; the default
  // list is the classic most-frequent English character pairs) and
  // reports per-source drift in integer ppm plus the
  // bpe_per_regex correction factor the budget ops can multiply into
  // their n_tok column (pass corrected counts to
  // tokenBudgetByThreshold / weightedDomainMix to budget in BPE
  // tokens while still counting regex tokens at scan time).
  //
  // BPE apply semantics (documented, deterministic): per word, split
  // to characters, then apply each merge rule in rank order as ONE
  // greedy left-to-right pass (fold: merge current symbol into the
  // accumulated tail when they form the rule's pair).
  //
  // ORACLE-GATED since round 11 (was rows-only; VERDICT r10 item 4
  // asked for the attempt). The cross-engine twin is a STRING
  // encoding of the fold, not a list fold (DuckDB's list_reduce
  // cannot carry a list accumulator): a word's symbol sequence is
  // rendered with DOUBLE separators (U+E000, absent from the corpus)
  // — "SS s1 SS s2 SS" — and one merge rule (l, r) is ONE
  // replace(x, 'S l SS r S', 'S lr S'): each SS boundary donates one
  // separator to each adjacent match, so left-to-right replace-all
  // with resume-after-replacement is EXACTLY the greedy fold (the
  // shared-separator failure of a single-S encoding on runs like
  // b,b,b,b was caught by a 20k-case randomized differential test;
  // double-S measured 0 mismatches on the same harness, spec'd in
  // TextLayoutSpec). The 25 rules unroll as 25 nested replaces (the
  // d15 unrolled-iterations move), symbol count = #separators/2 − 1,
  // and the sample selector is t21's portable two-step mixing hash
  // (the xxhash64 it replaces was the one non-portable piece).
  //
  // Scale: the sample bound makes cost independent of corpus size
  // (hash-select, m15's thresholding); per-doc work is
  // words × |merges| × word-length map-side HOF evaluations, no
  // shuffle before the per-source aggregate. The merges table is
  // vocab-bounded (a real BPE vocab is ~50k rows) — collected once,
  // folded into the expression tree (the broadcast-a-small-dim move,
  // in expression space).
  val DefaultMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r",
    "an" -> "d", "s" -> "t", "e" -> "s", "in" -> "g", "o" -> "u",
    "a" -> "r", "t" -> "o", "o" -> "f", "e" -> "d", "i" -> "s",
    "a" -> "l", "l" -> "e", "c" -> "o", "r" -> "o", "u" -> "s")

  /** One greedy left-to-right application of merge rule (l, r) over a
    * symbol array: x joins the accumulated tail when (tail.last, x)
    * == (l, r). */
  private def applyMerge(arr: Column, l: String, r: String): Column =
    aggregate(arr, array().cast("array<string>"), (acc, x) =>
      // size guard first: And short-circuits, so element_at never
      // sees an empty array (ANSI would error on index -1)
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** COMPOSED reference form of the BPE counter: one interpreted
    * `aggregate` HOF per merge rule unrolled into the expression tree.
    * Exact and oracle-replayable, but expression size (and interpreted
    * per-element cost) grows linearly with the merges table — the
    * 25-rule in-repo oracle duty only. [[bpeTokenCount]] is the
    * production path; TextLayoutSpec differential-gates the two. */
  def bpeTokenCountComposed(text: Column,
      merges: Seq[(String, String)] = DefaultMerges): Column = {
    val words = tokens(text)
    aggregate(
      transform(words, w => {
        val chars = filter(split(w, ""), c => c =!= "")
        size(merges.foldLeft(chars) { case (a, (l, r)) => applyMerge(a, l, r) }).cast("long")
      }),
      lit(0L), (acc, n) => acc + n)
  }

  /** Library API: merge-accurate BPE token count per text value.
    * `merges` apply in order (rank order of a real merges table).
    * Backed by the compiled [[graft.plans.BpeCountExpr]] since round
    * 13, so a REAL 32k-50k-rule published merges table is usable (the
    * composed form above was measured superlinear in wall and
    * analysis cost past a few hundred rules — PLANS.md curve); the
    * registered t22 runs THIS path against the unchanged DuckDB twin,
    * and identical greedy semantics vs the composed form are spec'd. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)] = DefaultMerges): Column =
    org.apache.spark.sql.GraftSqlBridge.columnOf(graft.plans.BpeCountExpr(
      org.apache.spark.sql.GraftSqlBridge.expression(text),
      merges.map(_._1).toArray, merges.map(_._2).toArray))

  /** Deterministic synthetic merges table of size `n` for scale
    * rehearsal: DefaultMerges first (so small prefixes stay the
    * hand-checked rules), then letter-pair rules in a fixed order —
    * the content is immaterial to the cost curve (work is
    * rules × symbols), the SIZE is the experiment. */
  def syntheticMerges(n: Int): Seq[(String, String)] = {
    val extra = for {
      a <- 'a' to 'z'; b <- 'a' to 'z'
      if !DefaultMerges.contains((a.toString, b.toString))
    } yield (a.toString, b.toString)
    val doubled = for (a <- 'a' to 'z'; b <- 'a' to 'z')
      yield (s"$a$b", a.toString) // merged-symbol lefts: fire after pair rules
    val paired = for (a <- 'a' to 'z'; b <- 'a' to 'z')
      yield (s"$a$b", s"$b$a") // merged × merged
    // published-tokenizer sizes (32k-50k) need deeper composition
    // tiers; each tier only references symbols earlier tiers create,
    // so every prefix stays a WELL-FORMED merges table (the property
    // the pair-rank execution form's equivalence proof needs).
    // distinct keeps first occurrence, so the historical prefix order
    // (and with it the 25/250/2500 curve points) is unchanged.
    val trip = for (a <- 'a' to 'z'; b <- 'a' to 'z'; c <- 'a' to 'z')
      yield (s"$a$b", c.toString) // pair + char: 17,576
    val tripR = for (a <- 'a' to 'z'; b <- 'a' to 'z'; c <- 'a' to 'z')
      yield (a.toString, s"$b$c") // char + pair: 17,576
    val quad = for (a <- 'a' to 'z'; b <- 'a' to 'z'; c <- 'a' to 'z'; d <- 'a' to 'z')
      yield (s"$a$b", s"$c$d") // pair + pair: bottomless tail
    (DefaultMerges ++ extra ++ doubled ++ doubled.map { case (l, r) => (r, l) } ++
      paired ++ trip ++ tripR ++ quad)
      .distinct.take(n)
  }

  /** t22's sample selector: t21's portable two-step mixing hash at its
    * own seed, mod 4 — replayable cross-engine (the xxhash64 form it
    * replaces was the one non-portable piece keeping t22 rows-only). */
  val BpeSampleSeed = 777L
  private def bpeSampleHash(id: Column): Column =
    pmod(pmod(pmod(id, lit(P)) * 1103515245L +
      lit(BpeSampleSeed) * 2654435761L + 12345L, lit(P)) * 48271L, lit(P))

  /** t22: per-source regex-vs-BPE drift on a deterministic ~25%
    * document sample. `bpe_per_regex` is the correction factor. */
  def t22(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(pmod(bpeSampleHash(col("doc_id")), lit(4L)) === 0)
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("__rt"),
        bpeTokenCount(col("text")).as("__bt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__rt")).as("regex_tokens"),
        sum(col("__bt")).as("bpe_tokens"),
        expr("(sum(__bt) - sum(__rt)) * 1000000 div sum(__rt)").as("drift_ppm"),
        round(sum(col("__bt")).cast("double") / sum(col("__rt")), 6).as("bpe_per_regex"))
      .orderBy(col("source"))

  val t22Sql: String = {
    val S = "\uE000" // private-use separator, corpus-absent (checked)
    // one word's symbol string: SS-wrapped, SS between chars
    val wrapped =
      s"'$S$S' || array_to_string(list_filter(string_split(w, ''), c -> c <> ''), '$S$S') || '$S$S'"
    // the 25 merge rules, rank order, one greedy pass each
    val chain = DefaultMerges.foldLeft(wrapped) { case (e, (l, r)) =>
      s"replace($e, '$S$l$S$S$r$S', '$S$l$r$S')"
    }
    val cnt = s"CASE WHEN w = '' THEN 0 ELSE " +
      s"(length($chain) - length(replace($chain, '$S', ''))) // 2 - 1 END"
    s"""WITH sample AS (
       |  SELECT source, text FROM documents
       |  WHERE ((((doc_id % $P) * 1103515245 + $BpeSampleSeed * 2654435761 + 12345) % $P) * 48271) % $P % 4 = 0),
       |perdoc AS (
       |  SELECT source,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS rt,
       |    CAST(list_sum(list_transform(${tokensSql("text")}, w -> $cnt)) AS BIGINT) AS bt
       |  FROM sample)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(rt) AS BIGINT) AS regex_tokens,
       |  CAST(sum(bt) AS BIGINT) AS bpe_tokens,
       |  CAST((sum(bt) - sum(rt)) * 1000000 // sum(rt) AS BIGINT) AS drift_ppm,
       |  round(CAST(sum(bt) AS DOUBLE) / sum(rt), 6) AS bpe_per_regex
       |FROM perdoc GROUP BY source ORDER BY source""".stripMargin
  }

  // -------------------------------------------------------------------
  // t23: ZIPF-FIT audit — per-source rank-frequency slope, the
  // distribution-shape signal beside t2/t15's per-doc gates: natural
  // language sits near slope −1 on the log-log rank/frequency line;
  // synthetic, templated, or spam-heavy sources bend it (flat = random
  // noise, steep = copy-paste mass). OLS over the top-300 ranks per
  // source.
  //
  // Scale shape: token-frequency rollup is ONE shuffle at (source,
  // token) grain with map-side combine; the rank window partitions by
  // source at TYPE grain (types ≪ tokens — a web-scale vocabulary
  // would swap in approx top-K, t16's note). Determinism: ln() on
  // identical doubles (t8's precedent), the four regression sums
  // accumulate as DECIMAL(28,12) casts so distributed sum ORDER can't
  // move doubles (d17's centroid-mean rule), and the final slope is
  // scalar double arithmetic on those identical sums, rounded 6dp.
  // Sources with <3 ranked types are dropped in both engines (the
  // slope is undefined on a degenerate line).
  val ZipfRanks = 300

  def t23(s: SparkSession, dir: String): DataFrame = {
    val d12 = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(28, 12))
    val tf = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("freq").desc, col("tok"))
    val ranked = tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ZipfRanks)
      .withColumn("x", log(col("rank").cast("double")))
      .withColumn("y", log(col("freq").cast("double")))
    val g = ranked.groupBy(col("source")).agg(
      count(lit(1)).as("n_ranks"),
      sum(col("freq")).as("top_freq"),
      sum(d12(col("x"))).as("sx"), sum(d12(col("y"))).as("sy"),
      sum(d12(col("x") * col("y"))).as("sxy"),
      sum(d12(col("x") * col("x"))).as("sxx"))
    g.filter(col("n_ranks") >= 3)
      .select(col("source"), col("n_ranks"), col("top_freq"),
        round((col("n_ranks").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n_ranks").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("zipf_slope"))
      .orderBy(col("source"))
  }

  val t23Sql: String =
    s"""WITH tf AS (
       |  SELECT source, tok, count(*) AS freq FROM (
       |    SELECT source, unnest(${tokensSql("text")}) AS tok FROM documents)
       |  WHERE length(tok) > 0
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT source, freq,
       |    ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
       |  FROM (
       |    SELECT source, tok, freq,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY freq DESC, tok) AS rank
       |    FROM tf)
       |  WHERE rank <= $ZipfRanks),
       |g AS (
       |  SELECT source, count(*) AS n_ranks,
       |    CAST(sum(freq) AS BIGINT) AS top_freq,
       |    sum(CAST(x AS DECIMAL(28,12))) AS sx,
       |    sum(CAST(y AS DECIMAL(28,12))) AS sy,
       |    sum(CAST(x * y AS DECIMAL(28,12))) AS sxy,
       |    sum(CAST(x * x AS DECIMAL(28,12))) AS sxx
       |  FROM ranked GROUP BY 1)
       |SELECT source, n_ranks, top_freq,
       |  round((CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope
       |FROM g
       |WHERE n_ranks >= 3
       |ORDER BY source""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t25_code_detect" -> (t25 _),
    "t24_pii_full" -> (t24 _),
    "t23_zipf_audit" -> (t23 _),
    "t22_bpe_drift" -> (t22 _),
    "t21_shuffle_shards" -> (t21 _),
    "t20_quality_classifier" -> (t20 _),
    "t19_pack_sharded" -> (t19 _),
    "t18_ppl_threshold" -> (t18 _),
    "t17_budget_threshold" -> (t17 _),
    "t16_tfidf_terms" -> (t16 _),
    "t15_gopher_filter" -> (t15 _),
    "t14_ppl_buckets" -> (t14 _),
    "t12_seq_pack" -> (t12 _), "t13_token_budget" -> (t13 _),
    "t11_langid_confusion" -> (t11 _),
    "t10_corpus_report" -> (t10 _),
    "t9_repetition" -> (t9 _),
    "t1_token_count" -> (t1 _), "t2_quality_score" -> (t2 _),
    "t3_lang_id" -> (t3 _), "t4_fingerprint" -> (t4 _),
    "t5_pii_redact" -> (t5 _), "t6_normalize" -> (t6 _), "t7_ngram_stats" -> (t7 _),
    "t8_unigram_logprob" -> (t8 _))

  def oracles: Map[String, String] = Map(
    "t25_code_detect" -> t25Sql,
    "t24_pii_full" -> t24Sql,
    "t23_zipf_audit" -> t23Sql,
    "t22_bpe_drift" -> t22Sql,
    "t21_shuffle_shards" -> t21Sql,
    "t19_pack_sharded" -> t19Sql,
    "t18_ppl_threshold" -> t18Sql,
    "t17_budget_threshold" -> t17Sql,
    "t16_tfidf_terms" -> t16Sql,
    "t15_gopher_filter" -> t15Sql,
    "t14_ppl_buckets" -> t14Sql,
    "t12_seq_pack" -> t12Sql, "t13_token_budget" -> t13Sql,
    "t11_langid_confusion" -> t11Sql,
    "t10_corpus_report" -> t10Sql,
    "t9_repetition" -> t9Sql,
    "t1_token_count" -> t1Sql, "t2_quality_score" -> t2Sql,
    "t3_lang_id" -> t3Sql, "t4_fingerprint" -> t4Sql,
    "t5_pii_redact" -> t5Sql, "t6_normalize" -> t6Sql, "t7_ngram_stats" -> t7Sql,
    "t8_unigram_logprob" -> t8Sql)
}
