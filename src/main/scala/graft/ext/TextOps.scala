package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table: token counting, quality scoring, language ID,
  * and document fingerprinting. Everything is built from codegen'd
  * built-ins (split / higher-order array functions / regexp / md5) —
  * no UDFs — so the whole stage stays inside whole-stage codegen and
  * scales linearly with the corpus.
  */
object TextOps {

  /** Vocabulary rows returned by [[vocabTopK]] (deterministic:
    * count desc, token asc). Declared BEFORE the `oracle` val: object
    * vals initialize in declaration order, so a constant interpolated
    * into an oracle string must precede the map or it interpolates
    * as 0 (the round-8 `LIMIT 0` bug). */
  val VocabK = 100

  /** Tokenizer-vocabulary size for [[oovRate]] — deliberately smaller
    * than [[VocabK]] so the out-of-vocabulary rate is a meaningful
    * signal on the test corpus (a vocab larger than the corpus's
    * distinct-token count would make every rate zero). */
  val OovVocabK = 10

  /** Repetition-flag thresholds for [[repetition]], chosen at the
    * ~p90 of each signal's corpus distribution (top-bigram-frac p90 ≈
    * 0.069, dup-token-frac median ≈ 0.54 at sf0.01) so the flag
    * splits the corpus rather than passing or failing everything. */
  val RepTopBigramFrac = 0.08
  val RepDupTokenFrac = 0.65

  /** Gopher-rule thresholds for [[gopherRules]] (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", Table A1 quality
    * filters), re-calibrated to this synthetic corpus's measured
    * distributions (word count p5≈16/p95≈94, mean word length
    * p1≈3.96/p99≈5.04, ~7% of docs have zero stopword hits) so each
    * rule splits the corpus instead of passing or failing everything;
    * the max-word-length rule keeps Gopher's structural intent and is
    * documented non-binding here (corpus max token length is 8).
    * Symbol-ratio and bullet/ellipsis line rules are omitted: the
    * corpus is pure alphanumeric-plus-space (measured symbol fraction
    * is 0 at every scale factor), so they cannot discriminate. */
  val GopherMinWords = 16
  val GopherMaxWords = 90
  val GopherMinMeanLen = 4.0
  val GopherMaxMeanLen = 5.0
  val GopherMinStopHits = 1
  val GopherMaxWordLen = 12

  /** Winnowing parameters: token-[[WinnowK]]-gram fingerprints, window
    * of [[WinnowW]] consecutive hashes. The winnowing guarantee
    * (Schleimer, Wilkerson, Aiken, SIGMOD 2003 — the MOSS algorithm):
    * any shared token run of at least K + W − 1 = 7 tokens between two
    * documents produces at least one IDENTICAL selected fingerprint in
    * both, while only ~2/(W+1) of all gram hashes are kept. Declared
    * before the oracle val (init-order discipline). */
  val WinnowK = 4
  val WinnowW = 4

  /** Whitespace tokenization with empty-input guard. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Word 3-gram shingles. Formulated with slice + zip_with rather
    * than `transform(sequence(...), i => element_at(toks, i)...)`:
    * an outer expression referenced inside a higher-order-function
    * lambda is RE-EVALUATED per element, so the element_at form
    * recomputes the regex split ~3n times per row — O(n²) per
    * document and the dominant cost of every shingle pipeline. The
    * slice form evaluates `toks` a constant number of times per row;
    * the lambdas only touch bound variables. Same output (the SQL
    * oracle's 1-based-index formulation produces identical strings). */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3, {
      val n = size(toks) - 2
      zip_with(
        slice(toks, lit(1), n),
        zip_with(slice(toks, lit(2), n), slice(toks, lit(3), n),
          (b, c) => concat(b, lit(" "), c)),
        (a, bc) => concat(a, lit(" "), bc))
    }).otherwise(array().cast("array<string>"))

  /** Word k-gram shingles, same slice+zip_with discipline as
    * [[shingles3]] (each zip_with lambda only touches bound slices,
    * so `toks` is evaluated O(k) times per row, not O(k·n)). Used
    * with k=8 by [[Curation.decontaminate]] — long grams are the
    * standard eval-decontamination signal, rare enough that overlap
    * means real contamination rather than shared stock phrases. */
  def shinglesN(toks: Column, k: Int): Column = {
    require(k >= 1, s"shingle size must be positive, got $k")
    when(size(toks) >= k, {
      val n = size(toks) - (k - 1)
      (2 to k).foldLeft(slice(toks, lit(1), n)) { (acc, j) =>
        zip_with(acc, slice(toks, lit(j), n),
          (a, b) => concat(a, lit(" "), b))
      }
    }).otherwise(array().cast("array<string>"))
  }

  private val stopEn = Seq("the", "and", "of", "to", "a")
  private val stopDe = Seq("der", "die", "und", "ist", "das")
  private val stopFr = Seq("le", "la", "et", "les", "des")
  private val stopEs = Seq("el", "los", "y", "una", "las")

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** BPE-style pre-tokenizer regex (GPT-2-shaped, simplified to the
    * RE2-compatible subset both engines support: no lookahead). */
  val BpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"

  /** Token + char counts per document: whitespace tokens and BPE-ish
    * regex tokens (the cheap proxy for LLM token budgeting). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"),
        size(tokens(col("text"))).as("token_count"),
        size(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0)))
          .as("bpe_token_count"),
        length(col("text")).as("char_count"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: length/stopword/punctuation/avg-token-length
    * signals and a composite score — the standard cheap pre-filters
    * for web-scale corpus cleaning. */
  private[ext] def scoredDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val nChar = length(col("text"))
    val stopRatio = hits(toks, stopEn).cast("double") / nTok
    val punct = (nChar - length(regexp_replace(col("text"), "[.,;:!?]", "")))
      .cast("double") / nChar
    val avgTokLen = (nChar - (nTok - lit(1))).cast("double") / nTok
    d.select(col("doc_id"), col("source"), nTok.as("token_count"),
        stopRatio.as("stopword_ratio"),
        punct.as("punct_ratio"),
        avgTokLen.as("avg_token_len"),
        (stopRatio * 0.5 + (lit(1.0) - punct) * 0.3
          + least(nTok.cast("double") / 100.0, lit(1.0)) * 0.2)
          .as("quality_score"))
  }

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    scoredDocs(spark, dir).drop("source").orderBy(col("doc_id"))

  /** Per-source quality-quantile cut fraction: documents below their
    * OWN source's p25 quality are dropped. A single corpus-wide
    * threshold would wipe out entire low-scoring sources; the
    * per-source quantile keeps every source's best 75% — the adaptive
    * form quality filtering takes in multi-source corpus builds. */
  val QualityCutFrac = 0.25

  /** Per-source adaptive quality filter: each source's cutoff is its
    * own exact p25 quality score (k-th order statistic, k =
    * ceil(0.25·n)), and a document is kept iff its score clears its
    * source's cutoff. The rank window is partitioned by source — a
    * LOW-NDV key, so it carries the same loud rows-per-group guard as
    * the other exact order statistics
    * ([[graft.ops.StatsOps.requireGroupsSortable]]); at scale the
    * cutoffs come from `percentile_approx` instead (the documented
    * exact-with-guard / sketch split). Cutoffs are a sources-sized
    * table broadcast back against the scored scan. */
  def qualitySourceCut(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = scoredDocs(spark, dir)
      .select(col("doc_id"), col("source"), col("quality_score"))
    graft.ops.StatsOps.requireGroupsSortable(s, col("source"))
    val w = Window.partitionBy(col("source"))
    // asc_nulls_last: Spark defaults NULLS FIRST, DuckDB NULLS LAST —
    // a zero-token doc's NULL score would shift the cutoff row
    val cut = s
      .withColumn("rn", row_number().over(
        w.orderBy(col("quality_score").asc_nulls_last, col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("rn") === ceil(col("cnt") * QualityCutFrac))
      .select(col("source"), col("quality_score").as("source_cutoff"))
    s.join(broadcast(cut), "source")
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("source_cutoff"),
        (col("quality_score") >= col("source_cutoff")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** N-gram-heuristic language ID: per-language stopword hit counts,
    * argmax with deterministic alphabetical tie-break. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = tokens(col("text"))
    val withScores = d.select(col("doc_id"), col("lang").as("lang_label"),
      hits(toks, stopDe).as("s_de"), hits(toks, stopEn).as("s_en"),
      hits(toks, stopEs).as("s_es"), hits(toks, stopFr).as("s_fr"))
    withScores.withColumn("lang_pred",
        when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es")
          && col("s_de") >= col("s_fr"), "de")
          .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID confusion matrix: (label, prediction) counts over
    * [[langId]] — the classifier audit a pipeline runs before
    * trusting per-language routing (tercile cuts, mixing quotas) to a
    * heuristic detector; off-diagonal mass shows which languages the
    * stopword signal confuses. One aggregation over the per-row
    * scores, bounded at languages². */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("docs"))
      .withColumn("correct", col("lang_label") === col("lang_pred"))
      .orderBy(col("lang_label"), col("lang_pred"))

  /** Composite corpus-filter pipeline — the decide-and-keep-provenance
    * shape every LLM training-data pipeline ends in: exact-dup removal
    * (first doc_id per content fingerprint survives), minimum length,
    * and quality-score gates, with the first failing rule recorded as
    * the drop reason. One window pass (dedup rank over the content
    * hash) + per-row expressions — no joins, scales linearly. */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame =
    corpusFilterOn(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** [[corpusFilter]] over an explicit documents frame, unordered —
    * the form pipelines compose (the artifact-fed curation tiers pass
    * the doc_id-bucketed gold scan here, so the downstream doc_id
    * join needs no exchange on the other side). */
  def corpusFilterOn(d: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val nChar = length(col("text"))
    val stopRatio = hits(toks, stopEn).cast("double") / nTok
    val punct = (nChar - length(regexp_replace(col("text"), "[.,;:!?]", "")))
      .cast("double") / nChar
    val score = stopRatio * 0.5 + (lit(1.0) - punct) * 0.3 +
      least(nTok.cast("double") / 100.0, lit(1.0)) * 0.2
    val fp = md5(lower(trim(col("text"))).cast("binary"))
    val dupRank = org.apache.spark.sql.expressions.Window
      .partitionBy(fp).orderBy(col("doc_id"))
    val reason = when(row_number().over(dupRank) > 1, "duplicate")
      .when(nTok < 30, "short")
      .when(score < 0.35, "low_quality")
      .otherwise("keep")
    d.select(col("doc_id"), col("source"), nTok.as("token_count"),
        reason.as("reason"))
      .withColumn("keep", col("reason") === "keep")
  }

  /** Per-source yield report over [[corpusFilter]]: docs in, docs
    * kept, drop-reason breakdown — the corpus-curation dashboard. */
  def corpusFilterSummary(spark: SparkSession, dir: String): DataFrame =
    corpusFilter(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("keep").cast("long")).as("kept"),
        sum((col("reason") === "duplicate").cast("long")).as("dropped_duplicate"),
        sum((col("reason") === "short").cast("long")).as("dropped_short"),
        sum((col("reason") === "low_quality").cast("long")).as("dropped_low_quality"))
      .orderBy(col("source"))

  /** Document fingerprints: exact (md5 of normalized text) and
    * shingle-set (md5 of the sorted distinct 3-gram set) — the
    * content-defined keys that downstream dedup joins on. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = tokens(col("text"))
    d.select(col("doc_id"),
        md5(lower(trim(col("text"))).cast("binary")).as("fp_exact"),
        md5(array_join(array_sort(array_distinct(shingles3(toks))), "|")
          .cast("binary")).as("fp_shingle"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of the 60-bit gram fingerprint (first 15 hex
    * chars of md5(s) as a BIGINT, nibble by nibble) — lives here, in
    * the dependency-root object, so Curation and Dedup can both
    * interpolate it at <clinit> time without an init cycle (Curation's
    * initializer reads Dedup.oracle). */
  private[ext] def gramFpSql(s: String): String = {
    def nib(n: Int) =
      s"(strpos('0123456789abcdef', substr(md5($s), $n, 1)) - 1)"
    (1 to 15).map(n => s"${nib(n)} * ${java.lang.Long
      .toString(1L << (4 * (15 - n)))}").mkString("(", " + ", ")")
  }

  private[ext] val toksSql =
    """CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END"""
  private def hitsSql(words: Seq[String]): String =
    s"""len(list_filter(t, x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"""
  private val shinglesSql =
    """CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2]) ELSE [] END"""
  private[ext] val bigramsSql =
    """CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1]) ELSE [] END"""
  private val dupFracSql =
    "CASE WHEN len(t) = 0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END"
  private val topBgFracSql =
    "CASE WHEN len(b) = 0 THEN 0.0 ELSE CAST(COALESCE(m.top, 0) AS DOUBLE) / len(b) END"

  /** Head size for [[zipfFit]] — the standard practice of fitting the
    * rank-frequency law on the distribution's head, where Zipf holds
    * and the fit is insensitive to the hapax tail. Declared before
    * the oracle val (init-order discipline — an after-oracle
    * declaration interpolates 0 into the SQL, caught by the sf0.001
    * gate as an empty LIMIT). */
  val ZipfFitV = 1000

  /** Checkpoint count for [[heapsFit]] — the vocabulary-growth curve
    * is sampled at this many doc_id-range prefixes. Declared before
    * the oracle val (same init-order discipline). */
  val HeapsPoints = 32

  val oracle: Map[String, String] = Map(
    "text_token_count" ->
      s"""SELECT doc_id, len($toksSql) AS token_count, len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+')) AS bpe_token_count, length(text) AS char_count FROM documents ORDER BY doc_id""",
    "text_quality_source_cut" ->
      s"""WITH sc AS (SELECT doc_id, source, stopword_ratio * 0.5 + (1.0 - punct_ratio) * 0.3 + least(CAST(token_count AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality_score FROM (SELECT doc_id, source, len(t) AS token_count, CAST(${hitsSql(stopEn)} AS DOUBLE) / len(t) AS stopword_ratio, CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio FROM (SELECT doc_id, source, text, $toksSql AS t FROM documents))), r AS (SELECT doc_id, source, quality_score, row_number() OVER (PARTITION BY source ORDER BY quality_score, doc_id) AS rn, COUNT(*) OVER (PARTITION BY source) AS cnt FROM sc), cut AS (SELECT source, quality_score AS source_cutoff FROM r WHERE rn = CAST(ceil(cnt * $QualityCutFrac) AS BIGINT)) SELECT sc.doc_id, sc.source, sc.quality_score, c.source_cutoff, sc.quality_score >= c.source_cutoff AS kept FROM sc JOIN cut c USING (source) ORDER BY sc.doc_id""",
    "text_quality_score" ->
      s"""SELECT doc_id, token_count, stopword_ratio, punct_ratio, avg_token_len, stopword_ratio * 0.5 + (1.0 - punct_ratio) * 0.3 + least(CAST(token_count AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality_score FROM (SELECT doc_id, len(t) AS token_count, CAST(${hitsSql(stopEn)} AS DOUBLE) / len(t) AS stopword_ratio, CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio, CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t) AS avg_token_len FROM (SELECT doc_id, text, $toksSql AS t FROM documents)) ORDER BY doc_id""",
    "text_lang_id" ->
      s"""SELECT doc_id, lang_label, s_de, s_en, s_es, s_fr, CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de' WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred FROM (SELECT doc_id, lang AS lang_label, ${hitsSql(stopDe)} AS s_de, ${hitsSql(stopEn)} AS s_en, ${hitsSql(stopEs)} AS s_es, ${hitsSql(stopFr)} AS s_fr FROM (SELECT doc_id, lang, $toksSql AS t FROM documents)) ORDER BY doc_id""",
    "text_lang_confusion" ->
      s"""SELECT lang_label, lang_pred, COUNT(*) AS docs, lang_label = lang_pred AS correct FROM (SELECT lang AS lang_label, CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de' WHEN s_en >= s_es AND s_en >= s_fr THEN 'en' WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred FROM (SELECT lang, ${hitsSql(stopDe)} AS s_de, ${hitsSql(stopEn)} AS s_en, ${hitsSql(stopEs)} AS s_es, ${hitsSql(stopFr)} AS s_fr FROM (SELECT lang, $toksSql AS t FROM documents))) GROUP BY lang_label, lang_pred ORDER BY lang_label, lang_pred""",
    "text_fingerprint" ->
      s"""SELECT doc_id, md5(lower(trim(text))) AS fp_exact, md5(array_to_string(list_sort(list_distinct($shinglesSql)), '|')) AS fp_shingle FROM (SELECT doc_id, text, $toksSql AS t FROM documents) ORDER BY doc_id""",
    // Karp–Rabin h = (h*257 + byte) mod 2^61-1, re-expressed as a
    // HUGEINT list_reduce over code points. Valid because the corpus
    // is pure ASCII (verified at every scale factor), where
    // ord(char) == utf8 byte — the Spark expression hashes raw bytes.
    "text_rolling_fingerprint" ->
      """SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), list_transform(range(1, length(t)+1), i -> CAST(ord(substr(t, i, 1)) AS HUGEINT))), (h, b) -> (h * 257 + b) % 2305843009213693951) AS BIGINT) AS fp_rolling FROM (SELECT doc_id, lower(trim(text)) AS t FROM documents) ORDER BY doc_id""",
    "text_corpus_filter" ->
      s"""WITH q AS (SELECT doc_id, source, len(t) AS token_count, CAST(${hitsSql(stopEn)} AS DOUBLE) / len(t) * 0.5 + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text)) * 0.3 + least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * 0.2 AS score, row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn FROM (SELECT doc_id, source, text, $toksSql AS t FROM documents)) SELECT doc_id, source, token_count, reason, reason = 'keep' AS keep FROM (SELECT doc_id, source, token_count, CASE WHEN rn > 1 THEN 'duplicate' WHEN token_count < 30 THEN 'short' WHEN score < 0.35 THEN 'low_quality' ELSE 'keep' END AS reason FROM q) ORDER BY doc_id""",
    "text_corpus_filter_summary" ->
      s"""WITH q AS (SELECT doc_id, source, len(t) AS token_count, CAST(${hitsSql(stopEn)} AS DOUBLE) / len(t) * 0.5 + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text)) * 0.3 + least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * 0.2 AS score, row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn FROM (SELECT doc_id, source, text, $toksSql AS t FROM documents)), r AS (SELECT source, CASE WHEN rn > 1 THEN 'duplicate' WHEN token_count < 30 THEN 'short' WHEN score < 0.35 THEN 'low_quality' ELSE 'keep' END AS reason FROM q) SELECT source, COUNT(*) AS docs, CAST(SUM(CASE WHEN reason = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS kept, CAST(SUM(CASE WHEN reason = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS dropped_duplicate, CAST(SUM(CASE WHEN reason = 'short' THEN 1 ELSE 0 END) AS BIGINT) AS dropped_short, CAST(SUM(CASE WHEN reason = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS dropped_low_quality FROM r GROUP BY 1 ORDER BY 1""",
    // serve == rebuild: the postings artifact's Σ tf per term equals
    // the live explode-count (same tokenizer, per-doc counts summed),
    // so ONE vocabulary chain pays for both forms
    "text_vocab_topk_forms" -> OracleForms.sql(
      s"""SELECT token, cnt FROM (SELECT token, COUNT(*) AS cnt FROM (SELECT unnest($toksSql) AS token FROM documents) GROUP BY token ORDER BY cnt DESC, token LIMIT $VocabK)""",
      Seq("live", "served")),
    // exact-integer least squares on the micro-nat-quantized points;
    // HUGEINT sums/numerators (the Spark side uses BigInt), one
    // correctly-rounded multiply+divide per coefficient, trunc toward
    // zero (Scala's .toLong) — see zipfFit scaladoc
    "text_zipf_fit_forms" -> OracleForms.sql(
      s"""WITH f AS (SELECT token, COUNT(*) AS cnt FROM (SELECT unnest($toksSql) AS token FROM documents) GROUP BY 1),
         top AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rnk FROM (SELECT * FROM f ORDER BY cnt DESC, token LIMIT $ZipfFitV)),
         pts AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000.0) AS BIGINT) AS x, CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS y FROM top),
         s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy, CAST(SUM(x*y) AS HUGEINT) AS sxy, CAST(SUM(x*x) AS HUGEINT) AS sxx FROM pts),
         d AS (SELECT n, sx, sy, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den FROM s)
         SELECT CAST(d.n AS BIGINT) AS n_points, (SELECT cnt FROM top WHERE rnk = 1) AS top_freq, CAST(trunc(CAST(num AS DOUBLE) * 1000000.0 / CAST(den AS DOUBLE)) AS BIGINT) AS slope_micro, CAST(trunc(CAST(sy*den - num*sx AS DOUBLE) / CAST(n*den AS DOUBLE)) AS BIGINT) AS intercept_micro FROM d""",
      Seq("live", "served")),
    // Heaps replay: checkpoint buckets by arithmetic (no corpus
    // window), driver prefix sums become a 32-row window here, then
    // the zipf fit recipe verbatim
    "text_heaps_fit_forms" -> OracleForms.sql(
      s"""WITH td AS MATERIALIZED (SELECT doc_id, t FROM (SELECT doc_id, $toksSql AS t FROM documents) WHERE len(t) > 0),
         mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
         dj AS (SELECT CAST(floor(CAST(doc_id * $HeapsPoints AS DOUBLE) / CAST(m AS DOUBLE)) AS BIGINT) AS j, len(t) AS dl, t FROM td CROSS JOIN mx),
         tj AS (SELECT j, CAST(SUM(dl) AS BIGINT) AS tok FROM dj GROUP BY 1),
         vj AS (SELECT jmin, COUNT(*) AS nv FROM (SELECT term, MIN(j) AS jmin FROM (SELECT j, unnest(t) AS term FROM dj) GROUP BY 1) GROUP BY 1),
         g AS (SELECT unnest(range(0, $HeapsPoints)) AS j),
         c AS (SELECT g.j, SUM(COALESCE(tj.tok, 0)) OVER (ORDER BY g.j) AS cumtok, SUM(COALESCE(vj.nv, 0)) OVER (ORDER BY g.j) AS cumvoc FROM g LEFT JOIN tj USING (j) LEFT JOIN vj ON vj.jmin = g.j),
         pts AS (SELECT CAST(floor(ln(CAST(cumtok AS DOUBLE)) * 1000000.0) AS BIGINT) AS x, CAST(floor(ln(CAST(cumvoc AS DOUBLE)) * 1000000.0) AS BIGINT) AS y FROM c WHERE cumtok > 0 AND cumvoc > 0),
         s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy, CAST(SUM(x*y) AS HUGEINT) AS sxy, CAST(SUM(x*x) AS HUGEINT) AS sxx FROM pts),
         d AS (SELECT n, sx, sy, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den FROM s)
         SELECT CAST(d.n AS BIGINT) AS n_points, (SELECT CAST(SUM(dl) AS BIGINT) FROM dj) AS total_tokens, (SELECT COUNT(DISTINCT term) FROM (SELECT unnest(t) AS term FROM td)) AS vocab_size, CAST(trunc(CAST(num AS DOUBLE) * 1000000.0 / CAST(den AS DOUBLE)) AS BIGINT) AS beta_micro, CAST(trunc(CAST(sy*den - num*sx AS DOUBLE) / CAST(n*den AS DOUBLE)) AS BIGINT) AS logc_micro FROM d""",
      Seq("live", "served")),
    // the fold-over-sorted-bigrams max-multiplicity is replayed
    // relationally: unnest → per-bigram counts → MAX
    "text_repetition" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents), bg AS (SELECT doc_id, t, $bigramsSql AS b FROM tk), m AS (SELECT doc_id, MAX(c) AS top FROM (SELECT doc_id, u, COUNT(*) AS c FROM (SELECT doc_id, unnest(b) AS u FROM bg) GROUP BY doc_id, u) GROUP BY doc_id) SELECT doc_id, len(t) AS token_count, len(list_distinct(t)) AS distinct_tokens, $dupFracSql AS dup_token_frac, len(b) AS bigram_count, COALESCE(m.top, 0) AS top_bigram_count, $topBgFracSql AS top_bigram_frac, ($topBgFracSql > $RepTopBigramFrac OR $dupFracSql > $RepDupTokenFrac) AS repetitive FROM bg LEFT JOIN m USING (doc_id) ORDER BY doc_id""",
    // robust winnowing: 4-token grams → 60-bit fps, window-of-4 min
    // with rightmost tie (the CASE tests j=3 first), DISTINCT set
    "text_winnow" -> {
      def h(j: Int) = s"hs[i+$j]"
      val lm = s"least(${(0 until WinnowW).map(h).mkString(", ")})"
      val posCase = (WinnowW - 1 to 1 by -1)
        .map(j => s"WHEN ${h(j)} = $lm THEN i+$j").mkString(" ")
      s"""WITH g AS (SELECT doc_id, CASE WHEN len(t) >= $WinnowK THEN list_transform(range(1, len(t) - ${WinnowK - 2}), i -> ${(0 until WinnowK).map(j => s"t[i+$j]").mkString(" || ' ' || ")}) ELSE [] END AS grams FROM (SELECT doc_id, $toksSql AS t FROM documents)), hsx AS (SELECT doc_id, list_transform(grams, g -> ${gramFpSql("g")}) AS hs FROM g), sel AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(hs) - ${WinnowW - 1}, 0) + 1), i -> {'pos': CASE $posCase ELSE i END, 'fp': $lm})) AS u FROM hsx) SELECT DISTINCT doc_id, u.pos AS pos, u.fp AS fp FROM sel ORDER BY doc_id, pos"""
    },
    "text_gopher_rules" ->
      s"""WITH s AS (SELECT doc_id, source, len(t) AS word_count, CASE WHEN len(t) = 0 THEN NULL ELSE CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t) END AS mean_word_len, list_max(list_transform(t, x -> length(x))) AS max_word_len, ${hitsSql(stopEn)} AS stop_hits FROM (SELECT doc_id, source, text, $toksSql AS t FROM documents)) SELECT doc_id, source, word_count, mean_word_len, max_word_len, stop_hits, reason, reason = 'keep' AS kept FROM (SELECT *, CASE WHEN word_count < $GopherMinWords OR word_count > $GopherMaxWords THEN 'word_count' WHEN mean_word_len < $GopherMinMeanLen OR mean_word_len > $GopherMaxMeanLen THEN 'mean_word_len' WHEN stop_hits < $GopherMinStopHits THEN 'stopword' WHEN max_word_len > $GopherMaxWordLen THEN 'max_word_len' ELSE 'keep' END AS reason FROM s) ORDER BY doc_id""",
    "text_oov_rate" ->
      s"""WITH tk AS (SELECT source, $toksSql AS t FROM documents), v AS (SELECT u AS token FROM (SELECT unnest(t) AS u FROM tk) GROUP BY u ORDER BY COUNT(*) DESC, u LIMIT $OovVocabK), tok AS (SELECT source, unnest(t) AS token FROM tk) SELECT source, COUNT(*) AS tokens, CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens, CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate FROM tok LEFT JOIN v ON tok.token = v.token GROUP BY source ORDER BY source"""
  )

  /** Corpus vocabulary: the [[VocabK]] most frequent tokens with
    * counts — the frequency table tokenizer training, stopword
    * derivation, and corpus drift monitoring all start from.
    *
    * Shape at scale: explode → hash aggregate. The aggregation is
    * partial (map-side combine), so the shuffle carries one row per
    * DISTINCT token per task — bounded by vocabulary, not corpus
    * size — and hot tokens ("the") are pre-summed before they ever
    * cross the wire; the top-k is a TakeOrderedAndProject over the
    * aggregated domain, not a global sort of the corpus. */
  def vocabTopK(spark: SparkSession, dir: String): DataFrame =
    vocabOn(liveTermFreqs(spark, dir))

  /** (token, cnt) term frequencies, live: one explode +
    * map-side-combined hash aggregate over the corpus. */
  private def liveTermFreqs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))

  /** Term frequencies answered from the BM25 postings ARTIFACT
    * ([[Retrieval.writeBm25Index]] `postings/` = (doc_id, dl, term,
    * tf)): Σ tf per term — no re-tokenization, no corpus text scan.
    * Exactly the live counts because postings tf is the per-doc count
    * of the same [[tokens]] split, summed over docs. At 100 TB this
    * is the difference between re-reading every text byte and one
    * bounded aggregate over an already-materialized store the lexical
    * lifecycle keeps current anyway (build → append → stream). */
  def termFreqsFromPostings(spark: SparkSession,
      postingsDir: String): DataFrame =
    spark.read.parquet(postingsDir)
      .groupBy(col("term"))
      .agg(sum(col("tf")).cast("long").as("cnt"))
      .select(col("term").as("token"), col("cnt"))

  /** Top-[[VocabK]] cut over a (token, cnt) frame —
    * TakeOrderedAndProject over the aggregated domain. */
  private def vocabOn(tf: DataFrame): DataFrame =
    tf.orderBy(col("cnt").desc, col("token"))
      .limit(VocabK)

  /** [[vocabTopK]] answered from a BM25 postings store — the
    * steady-state report path once the lexical lifecycle maintains
    * the store. */
  def vocabTopKFromStore(spark: SparkSession,
      postingsDir: String): DataFrame =
    vocabOn(termFreqsFromPostings(spark, postingsDir))

  /** [[zipfFit]] answered from a BM25 postings store. */
  def zipfFitFromStore(spark: SparkSession,
      postingsDir: String): DataFrame =
    zipfOn(spark, topZipfFreqs(termFreqsFromPostings(spark, postingsDir)))

  /** Zipf rank-frequency fit — the corpus-statistics row a data card
    * reports (natural corpora follow freq ∝ rank^s with s ≈ −1;
    * a synthetic or badly-filtered corpus shows up as a shallow or
    * kinked slope). Least squares of ln(freq) on ln(rank) over the
    * top-[[ZipfFitV]] terms.
    *
    * Exactness discipline: each point's ln is quantized to integer
    * micro-nats; every sum (Σx, Σy, Σxy, Σx²) and both closed-form
    * numerators/denominators are EXACT big-integer arithmetic
    * (BigInt here, HUGEINT in the oracle); the only floating steps
    * are the final int→double conversions and ONE multiply + ONE
    * divide per reported coefficient, truncated toward zero — all
    * correctly rounded and identical across engines.
    *
    * Shape at scale: the distributed work is [[vocabTopK]]'s shape —
    * explode → map-side-combined hash aggregate (shuffle bounded by
    * vocabulary) → TakeOrdered head; the V-point fit is driver
    * arithmetic on a bounded collect (the orderStat discipline). */
  def zipfFit(spark: SparkSession, dir: String): DataFrame =
    zipfOn(spark, topZipfFreqs(liveTermFreqs(spark, dir)))

  /** Top-[[ZipfFitV]] frequency counts of a (token, cnt) frame — the
    * bounded collect the fit's driver arithmetic runs on. */
  private def topZipfFreqs(tf: DataFrame): Array[Long] =
    tf.orderBy(col("cnt").desc, col("token"))
      .limit(ZipfFitV)
      .select(col("cnt")).collect().map(_.getLong(0))

  /** The exact-integer fit half of [[zipfFit]] over collected top-V
    * counts (shared by the live and postings-served forms). */
  private def zipfOn(spark: SparkSession, top: Array[Long]): DataFrame = {
    val n = top.length
    require(n >= 2, s"zipf fit needs at least 2 distinct tokens, got $n")
    val pts = top.zipWithIndex.map { case (f, i) =>
      (math.floor(math.log((i + 1).toDouble) * 1000000.0).toLong,
        math.floor(math.log(f.toDouble) * 1000000.0).toLong)
    }
    val sx = pts.iterator.map(p => BigInt(p._1)).sum
    val sy = pts.iterator.map(p => BigInt(p._2)).sum
    val sxy = pts.iterator.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = pts.iterator.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val nB = BigInt(n)
    val num = nB * sxy - sx * sy
    val den = nB * sxx - sx * sx
    val slope = (num.toDouble * 1000000.0 / den.toDouble).toLong
    val intercept =
      ((sy * den - num * sx).toDouble / (nB * den).toDouble).toLong
    spark.range(1).select(
      lit(n.toLong).as("n_points"),
      lit(top.head).as("top_freq"),
      lit(slope).as("slope_micro"),
      lit(intercept).as("intercept_micro"))
  }

  /** BOTH vocab forms (live explode / BM25-postings-served) in ONE
    * gated entry tagged by `form` — serve == rebuild for the corpus
    * vocabulary: the postings artifact's Σ tf per term equals the
    * live explode-count, so the text-stats reports join the
    * artifact-fed families (the store is maintained by the lexical
    * lifecycle; the report stops re-tokenizing the corpus). */
  def vocabTopKForms(spark: SparkSession, dir: String): DataFrame =
    OracleForms.union(
        "live" -> vocabTopK(spark, dir),
        "served" -> vocabTopKFromStore(spark,
          s"${scratchPostings(spark, dir)}/postings"))
      .select(col("form"), col("token"), col("cnt"))
      .orderBy(col("form"), col("cnt").desc, col("token"))

  /** BOTH zipf-fit forms (live / postings-served) in ONE gated entry
    * — the same exact-integer fit over the two frequency sources. */
  def zipfFitForms(spark: SparkSession, dir: String): DataFrame =
    OracleForms.union(
        "live" -> zipfFit(spark, dir),
        "served" -> zipfFitFromStore(spark,
          s"${scratchPostings(spark, dir)}/postings"))
      .select(col("form"), col("n_points"), col("top_freq"),
        col("slope_micro"), col("intercept_micro"))
      .orderBy(col("form"))

  /** BOTH Heaps-fit forms (live / postings-served) in ONE gated
    * entry — with [[vocabTopKForms]] and [[zipfFitForms]] this
    * completes the text-stats family's artifact story: every corpus
    * statistic the data card reports also answers from the lexical
    * store the streaming lifecycle maintains. */
  def heapsFitForms(spark: SparkSession, dir: String): DataFrame =
    OracleForms.union(
        "live" -> heapsFit(spark, dir),
        "served" -> heapsFitFromStore(spark,
          scratchPostings(spark, dir)))
      .select(col("form"), col("n_points"), col("total_tokens"),
        col("vocab_size"), col("beta_micro"), col("logc_micro"))
      .orderBy(col("form"))

  /** DRIVER-GATED scaffold: ONE scratch BM25 store per source
    * fingerprint, shared by the served text-stats forms within a
    * session (the store is read-only once built — the shared-scratch
    * discipline of the knn merge family, round-14 verdict #6): three
    * gate entries read it, one build pays for all. */
  private def scratchPostings(spark: SparkSession, dir: String): String =
    graft.ops.SessionStore.dir("textStats", s"$dir/documents.parquet") {
      Retrieval.writeBm25Index(
        Tables.documents(spark, dir)
          .select(col("doc_id"), tokens(col("text")).as("t")), _)
    }

  /** Heaps'-law fit — [[zipfFit]]'s companion corpus statistic: the
    * vocabulary grows as V(n) ≈ C·n^β with β ≈ 0.4–0.6 for natural
    * text; both ends of the spectrum are data-card flags (β → 1: an
    * ID-ridden corpus whose "words" never repeat; β → 0: a
    * template/word-soup corpus whose vocabulary saturates — the
    * driver's synthetic fixture measures ≈ 0, as TextSignalsSpec
    * records). Measured at [[HeapsPoints]] doc_id-range prefixes:
    * checkpoint j covers doc_id < (j+1)·(maxId+1)/[[HeapsPoints]];
    * the fit is least squares of ln V on ln n over the checkpoints
    * with positive token mass, under the exact-integer discipline of
    * [[zipfFit]].
    *
    * Shape at scale: NO corpus-sized window — each doc and each
    * term's FIRST doc land in their checkpoint bucket by arithmetic
    * (the term side is one vocabulary-bounded min-aggregate), the two
    * 32-row bucket frames collect to the driver, and the prefix sums
    * + fit are driver arithmetic (the orderStat discipline). */
  def heapsFit(spark: SparkSession, dir: String): DataFrame = {
    val td = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    val m = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head().getLong(0) + 1
    val jOf = floor(col("doc_id") * lit(HeapsPoints.toLong) / lit(m))
      .cast("long")
    val tokJ = td.select(jOf.as("j"), size(col("t")).cast("long").as("dl"))
      .groupBy(col("j")).agg(sum(col("dl")).as("tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val vocJ = td.select(jOf.as("j"), explode(col("t")).as("term"))
      .groupBy(col("term")).agg(min(col("j")).as("jmin"))
      .groupBy(col("jmin")).agg(count(lit(1)).as("nv"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    heapsOn(spark, tokJ, vocJ)
  }

  /** [[heapsFit]] answered from the BM25 store: the postings rows are
    * per-(doc, term) with dl replicated, so the per-checkpoint token
    * mass (first dl per doc, summed) and each term's FIRST checkpoint
    * (min over its posting rows) re-derive exactly — no text re-scan,
    * no explode. The corpus id bound comes from the store's
    * `committed/` log; contract caveat: a store fed by the streaming
    * sink excludes token-less docs from the log (the live fit's bound
    * counts them), which can shift checkpoint boundaries only when
    * the corpus max-id doc itself has no tokens. */
  def heapsFitFromStore(spark: SparkSession, store: String): DataFrame = {
    val m = spark.read.parquet(Retrieval.committedDir(store))
      .agg(max(col("doc_id"))).head().getLong(0) + 1
    val p = spark.read.parquet(s"$store/postings")
    val jOf = floor(col("doc_id") * lit(HeapsPoints.toLong) / lit(m))
      .cast("long")
    val tokJ = p.groupBy(col("doc_id"))
      .agg(first(col("dl")).cast("long").as("dl"))
      .select(jOf.as("j"), col("dl"))
      .groupBy(col("j")).agg(sum(col("dl")).as("tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val vocJ = p.select(jOf.as("j"), col("term"))
      .groupBy(col("term")).agg(min(col("j")).as("jmin"))
      .groupBy(col("jmin")).agg(count(lit(1)).as("nv"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    heapsOn(spark, tokJ, vocJ)
  }

  /** The cumulative-prefix + exact-integer fit half of [[heapsFit]]
    * over the two collected checkpoint maps (shared by the live and
    * postings-served forms). */
  private def heapsOn(spark: SparkSession, tokJ: Map[Long, Long],
      vocJ: Map[Long, Long]): DataFrame = {
    var cumTok = 0L; var cumVoc = 0L
    val pts = (0L until HeapsPoints.toLong).flatMap { j =>
      cumTok += tokJ.getOrElse(j, 0L)
      cumVoc += vocJ.getOrElse(j, 0L)
      if (cumTok > 0 && cumVoc > 0)
        Some((math.floor(math.log(cumTok.toDouble) * 1000000.0).toLong,
          math.floor(math.log(cumVoc.toDouble) * 1000000.0).toLong))
      else None
    }
    val n = BigInt(pts.length)
    require(pts.length >= 2, s"heaps fit needs ≥ 2 checkpoints")
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val beta = (num.toDouble * 1000000.0 / den.toDouble).toLong
    val logc =
      ((sy * den - num * sx).toDouble / (n * den).toDouble).toLong
    spark.range(1).select(
      lit(pts.length.toLong).as("n_points"),
      lit(cumTok).as("total_tokens"),
      lit(cumVoc).as("vocab_size"),
      lit(beta).as("beta_micro"),
      lit(logc).as("logc_micro"))
  }

  /** Repetition signals per document — the Gopher-class repetitious-
    * text filters (published web-corpus quality heuristics): the
    * duplicate-token fraction (1 − distinct/total) and the fraction
    * of all word bigrams taken by the single most frequent bigram,
    * with a composite `repetitive` flag at the documented thresholds.
    *
    * Shape at scale: entirely per-row — no explode, no shuffle, no
    * per-document aggregation job. Caveat: `aggregate`/`array_sort`
    * are higher-order functions, which Spark evaluates INTERPRETED
    * (CodegenFallback — the same ~50 µs/eval hot-path cost
    * [[graft.functions.NearestCentroid]] exists to avoid), so while
    * the plan stays a single map stage, the per-row fold is not
    * codegen'd; if this operator ever lands on the 100× hot path,
    * port the longest-equal-run fold to a native expression like
    * [[graft.functions.VecStats]]. The oracle replays it relationally
    * (unnest → GROUP BY → MAX) — same answer, which is itself the
    * equivalence proof for the fold. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("bg", shinglesN(col("t"), 2))
      .withColumn("top_bigram_count", expr(
        """aggregate(array_sort(bg),
             named_struct('prev', CAST(NULL AS STRING),
                          'run', CAST(0 AS BIGINT),
                          'best', CAST(0 AS BIGINT)),
             (acc, x) -> named_struct(
               'prev', x,
               'run', IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1L, 1L),
               'best', GREATEST(acc.best,
                 IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1L, 1L))),
             acc -> acc.best)"""))
      .select(
        col("doc_id"),
        size(col("t")).as("token_count"),
        size(array_distinct(col("t"))).as("distinct_tokens"),
        when(size(col("t")) === 0, lit(0.0))
          .otherwise(lit(1.0) -
            size(array_distinct(col("t"))).cast("double") / size(col("t")))
          .as("dup_token_frac"),
        size(col("bg")).as("bigram_count"),
        col("top_bigram_count"),
        when(size(col("bg")) === 0, lit(0.0))
          .otherwise(col("top_bigram_count").cast("double") / size(col("bg")))
          .as("top_bigram_frac"))
      .withColumn("repetitive",
        col("top_bigram_frac") > RepTopBigramFrac ||
          col("dup_token_frac") > RepDupTokenFrac)
      .orderBy(col("doc_id"))

  /** Out-of-vocabulary rate per source against the corpus's own
    * top-[[OovVocabK]] token vocabulary — the coverage check run
    * after tokenizer training (how much of each source the vocab
    * explains) and the cheap drift alarm between corpus builds.
    *
    * Shape at scale: the vocabulary is an aggregate bounded at K
    * rows, broadcast to the probe side (PlanLintSpec asserts the
    * broadcast) — the corpus-sized stream is a single explode →
    * broadcast-hash-join → map-side-combinable groupBy; no
    * corpus-sized shuffle, mirroring [[Curation.decontaminate]]'s
    * probe shape. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(OovVocabK)
      .select(col("token"), lit(1L).as("in_vocab"))
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .withColumn("oov_rate",
        col("oov_tokens").cast("double") / col("tokens"))
      .orderBy(col("source"))
  }

  /** Gopher-style rule-based document filter (Rae et al. 2021,
    * Table A1): per-document signal columns, the FIRST failing rule
    * as the drop reason (fixed evaluation order — word count, mean
    * word length, stopword presence, max word length), and a `kept`
    * verdict. This is the rule-list complement of the score-threshold
    * filters ([[qualityScore]]/[[corpusFilter]]): rules give
    * per-document explainability (which specific property failed),
    * which is what corpus-curation dashboards and ablation studies
    * consume.
    *
    * Shape at scale: entirely per-row — no explode, no join, no
    * shuffle beyond the final presentation sort (dropped when
    * composed into a pipeline). `array_max(transform(...))` is a
    * higher-order function (interpreted, same documented caveat as
    * [[repetition]]); everything else is codegen'd string/length
    * arithmetic, so the operator scans at I/O speed. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val nChar = length(col("text"))
    val meanLen = when(nTok === 0, lit(null).cast("double"))
      .otherwise((nChar - (nTok - lit(1))).cast("double") / nTok)
    val maxLen = array_max(transform(toks, t => length(t)))
    val reason = when(
      col("word_count") < GopherMinWords ||
        col("word_count") > GopherMaxWords, "word_count")
      .when(col("mean_word_len") < GopherMinMeanLen ||
        col("mean_word_len") > GopherMaxMeanLen, "mean_word_len")
      .when(col("stop_hits") < GopherMinStopHits, "stopword")
      .when(col("max_word_len") > GopherMaxWordLen, "max_word_len")
      .otherwise("keep")
    d.select(col("doc_id"), col("source"), nTok.as("word_count"),
        meanLen.as("mean_word_len"), maxLen.as("max_word_len"),
        hits(toks, stopEn).as("stop_hits"))
      .withColumn("reason", reason)
      .withColumn("kept", col("reason") === "keep")
      .orderBy(col("doc_id"))
  }

  /** Robust winnowing fingerprints: per document, hash every
    * [[WinnowK]]-token gram (60-bit md5 compaction), slide a
    * [[WinnowW]]-hash window, and keep the window MINIMUM — ties to
    * the RIGHTMOST position ("robust" winnowing, which picks the same
    * occurrence across overlapping windows); the kept (position,
    * fingerprint) SET is the document's sketch. This is the
    * fingerprint-SELECTION upgrade over [[rollingFingerprint]] /
    * [[fingerprint]]: a content-defined, position-attributed sketch
    * ~W/2× smaller than the full gram set that still guarantees
    * detection of any ≥ K+W−1-token overlap — what plagiarism/copy
    * scanners index instead of every gram.
    *
    * Shape at scale: entirely per-row until the final explode of the
    * selected set (bounded at ~2·n/W rows per doc). The gram-hash
    * array is materialized as a COLUMN before the window pass, so
    * window lambdas touch a bound attribute, not a re-evaluated
    * expression (the [[shingles3]] discipline); window min and
    * rightmost-tie run UNROLLED (`least` + CASE over [[WinnowW]]
    * fixed slots) — no nested interpreted folds. */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val fp60 = (s: Column) =>
      conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")
    val withHs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        transform(shinglesN(tokens(col("text")), WinnowK), g => fp60(g))
          .as("hs"))
    val n = size(col("hs"))
    def at(i: Column, j: Int): Column = element_at(col("hs"), i + lit(j))
    // guard: Spark's sequence(1, n) DESCENDS when n < 1, so short
    // docs must produce an empty window list explicitly
    val wins = when(n >= WinnowW, sequence(lit(1), n - (WinnowW - 1)))
      .otherwise(array().cast("array<int>"))
    val sels = transform(wins,
      i => {
        val es = (0 until WinnowW).map(j => at(i, j))
        val mn = least(es: _*)
        // rightmost occurrence of the window minimum: ascending fold
        // so the HIGHEST j's test ends up outermost and wins ties
        val pos = (1 until WinnowW).foldLeft[Column](i) {
          case (acc, j) => when(es(j) === mn, i + lit(j)).otherwise(acc)
        }
        struct(pos.as("pos"), mn.as("fp"))
      })
    withHs
      .select(col("doc_id"), explode(sels).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
      .distinct()
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Rolling-hash (Karp–Rabin) content fingerprints via the native
    * codegen'd expression — engine-hash-independent (pure arithmetic),
    * so even this custom-Expression path is oracle-checked: DuckDB
    * replays the polynomial fold in HUGEINT arithmetic. */
  def rollingFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"),
        graft.functions.RollingHash(lower(trim(col("text")))).as("fp_rolling"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_rolling_fingerprint" -> rollingFingerprint _,
    "text_corpus_filter" -> corpusFilter _,
    "text_corpus_filter_summary" -> corpusFilterSummary _,
    "text_token_count" -> tokenCount _,
    "text_quality_score" -> qualityScore _,
    "text_quality_source_cut" -> qualitySourceCut _,
    "text_lang_id" -> langId _,
    "text_lang_confusion" -> langConfusion _,
    "text_fingerprint" -> fingerprint _,
    "text_vocab_topk_forms" -> vocabTopKForms _,
    "text_zipf_fit_forms" -> zipfFitForms _,
    "text_heaps_fit_forms" -> heapsFitForms _,
    "text_repetition" -> repetition _,
    "text_gopher_rules" -> gopherRules _,
    "text_winnow" -> winnowFingerprints _,
    "text_oov_rate" -> oovRate _
  )
}
