package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: quality
  * scoring, language ID, token counting, document fingerprinting. All are
  * codegen'd per-row projections over `documents` — embarrassingly parallel
  * at any scale; the only shuffle is the declared output sort.
  */
object TextQueries extends QueryModule {

  /** Non-empty whitespace tokens (Spark-side fragment). */
  // array_remove(...,'') over a codegen'd split — value-identical to the
  // interpreted-HOF form filter(split(...), t -> t <> '') the oracles mirror
  private val toks = "array_remove(split(text, ' ', -1), '')"
  /** Same in DuckDB. */
  private val dToks = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** Gopher-style quality stats: length, token count, mean word length,
    * symbol ratio, stopword ratio, shortness flag.
    */
  def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tokens", expr(s"size($toks)"))
      .select(
        col("doc_id"),
        length(col("text")).as("len_chars"),
        col("n_tokens"),
        round(expr(s"CAST(length(array_join($toks, '')) AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1D)"), 4)
          .as("mean_word_len"),
        round(expr("CAST(length(regexp_replace(text, '[a-z0-9 ]', '')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1D)"), 4)
          .as("symbol_ratio"),
        round(expr(s"CAST(size(filter($toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1D)"), 4)
          .as("stopword_ratio"),
        (col("n_tokens") < 10).as("is_short"))
      .orderBy("doc_id")

  private val textStatsSql =
    s"""SELECT doc_id,
       |  CAST(length(text) AS INT) AS len_chars,
       |  CAST(len($dToks) AS INT) AS n_tokens,
       |  round(list_sum(list_transform($dToks, t -> length(t)))
       |    / greatest(CAST(len($dToks) AS DOUBLE), 1), 4) AS mean_word_len,
       |  round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
       |    / greatest(CAST(length(text) AS DOUBLE), 1), 4) AS symbol_ratio,
       |  round(CAST(len(list_filter($dToks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
       |    / greatest(CAST(len($dToks) AS DOUBLE), 1), 4) AS stopword_ratio,
       |  (len($dToks) < 10) AS is_short
       |FROM documents ORDER BY doc_id""".stripMargin

  // Marker-word sets + the deterministic priority tie-break shared by the
  // per-doc langid report and the confusion-matrix evaluation below.
  private val langSets = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "los", "que", "y", "es"),
    "fr" -> Seq("le", "la", "de", "les", "et", "un", "est"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist"))

  private def langScore(lang: String): String = {
    val lits = langSets(lang).map(w => s"'$w'").mkString(", ")
    s"size(filter($toks, t -> t IN ($lits)))"
  }

  private val langPredictCase =
    """CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'unknown'
      |  WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en'
      |  WHEN s_es >= greatest(s_fr, s_de) THEN 'es'
      |  WHEN s_fr >= s_de THEN 'fr'
      |  ELSE 'de' END""".stripMargin

  /** N-gram-heuristic language ID: score by per-language marker-word hits,
    * deterministic priority tie-break, compared against the labeled lang.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    def score(lang: String): String = langScore(lang)
    Tables.documents(s, dir)
      .withColumn("s_en", expr(score("en")))
      .withColumn("s_es", expr(score("es")))
      .withColumn("s_fr", expr(score("fr")))
      .withColumn("s_de", expr(score("de")))
      .withColumn("predicted", expr(langPredictCase))
      .select(col("doc_id"), col("lang"), col("predicted"),
        (col("lang") === col("predicted")).as("correct"),
        col("s_en"), col("s_es"), col("s_fr"), col("s_de"))
      .orderBy("doc_id")
  }

  private def dScore(words: Seq[String]): String = {
    val lits = words.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter($dToks, t -> t IN ($lits))) AS INT)"
  }

  private val langIdSql =
    s"""SELECT doc_id, lang, predicted, (lang = predicted) AS correct, s_en, s_es, s_fr, s_de
       |FROM (
       |  SELECT doc_id, lang,
       |    ${dScore(Seq("the", "a", "of", "and", "to", "in", "is"))} AS s_en,
       |    ${dScore(Seq("el", "la", "de", "los", "que", "y", "es"))} AS s_es,
       |    ${dScore(Seq("le", "la", "de", "les", "et", "un", "est"))} AS s_fr,
       |    ${dScore(Seq("der", "die", "das", "und", "ein", "ist"))} AS s_de
       |  FROM documents),
       |  LATERAL (SELECT CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'unknown'
       |    WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en'
       |    WHEN s_es >= greatest(s_fr, s_de) THEN 'es'
       |    WHEN s_fr >= s_de THEN 'fr'
       |    ELSE 'de' END AS predicted)
       |ORDER BY doc_id""".stripMargin

  /** Language-ID confusion matrix — the evaluation twin of [[langId]]:
    * per (actual, predicted) cell counts plus each cell's share of its
    * actual-language row (recall on the diagonal, the error budget off
    * it). This is the classifier-eval shape every model-quality pipeline
    * reports. Scale shape: the scoring is the same codegen'd per-row
    * projection as langId, and the aggregate collapses to a
    * |langs|² grid — map-side combinable, constant output.
    */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .withColumn("s_en", expr(langScore("en")))
      .withColumn("s_es", expr(langScore("es")))
      .withColumn("s_fr", expr(langScore("fr")))
      .withColumn("s_de", expr(langScore("de")))
      .withColumn("predicted", expr(langPredictCase))
    scored
      .withColumn("n_actual",
        count(lit(1)).over(Window.partitionBy("lang")))
      .groupBy(col("lang").as("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"),
        round(count(lit(1)).cast("double") / first("n_actual"), 4)
          .as("share_of_actual"))
      .orderBy("actual", "predicted")
  }

  private val langIdConfusionSql =
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    ${dScore(langSets("en"))} AS s_en,
       |    ${dScore(langSets("es"))} AS s_es,
       |    ${dScore(langSets("fr"))} AS s_fr,
       |    ${dScore(langSets("de"))} AS s_de
       |  FROM documents
       |), pred AS (
       |  SELECT lang, CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'unknown'
       |    WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en'
       |    WHEN s_es >= greatest(s_fr, s_de) THEN 'es'
       |    WHEN s_fr >= s_de THEN 'fr'
       |    ELSE 'de' END AS predicted,
       |    count(*) OVER (PARTITION BY lang) AS n_actual
       |  FROM scored)
       |SELECT lang AS actual, predicted, CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(count(*) AS DOUBLE) / any_value(n_actual), 4)
       |    AS share_of_actual
       |FROM pred GROUP BY lang, predicted ORDER BY actual, predicted""".stripMargin

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / digit runs / single symbols).
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        expr(s"size($toks)").as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))").as("bpe_tokens"),
        expr(s"size(array_distinct($toks))").as("distinct_ws_tokens"),
        round(expr(s"CAST(size(array_distinct($toks)) AS DOUBLE) / greatest(CAST(size($toks) AS DOUBLE), 1D)"), 4)
          .as("ttr"))
      .orderBy("doc_id")

  private val tokenCountSql =
    s"""SELECT doc_id,
       |  CAST(len($dToks) AS INT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS bpe_tokens,
       |  CAST(len(list_distinct($dToks)) AS INT) AS distinct_ws_tokens,
       |  round(CAST(len(list_distinct($dToks)) AS DOUBLE)
       |    / greatest(CAST(len($dToks) AS DOUBLE), 1), 4) AS ttr
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprints: sequence-sensitive rolling hash (positional
    * polynomial mod 1000003), content-set hash, and raw-text hash.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val tokCode =
      "aggregate(sequence(1, length(t)), 0L, (acc, ci) -> (acc * 31 + ascii(substring(t, ci, 1))) % 1000003)"
    // sort the narrow source FIRST, fingerprint after (optimization r17):
    // the per-character rolling-hash lambdas are the most expensive
    // projection in this module, and below the range sort they ran twice
    // (once for boundary sampling, once for the shuffle)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("fp_seq"),
        expr(s"md5(CAST(array_join(array_sort(array_distinct($toks)), ' ') AS BINARY))").as("fp_set"),
        expr(
          s"""aggregate(
             |  zip_with($toks, sequence(1, size($toks)), (t, pos) -> (($tokCode) * pos) % 1000003),
             |  0L, (acc, x) -> (acc + x) % 1000003)""".stripMargin).as("fp_rolling"))
  }

  private val fingerprintSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(tk) AS t, generate_subscripts(tk, 1) AS pos
       |  FROM (SELECT doc_id, $dToks AS tk FROM documents)
       |), codes AS (
       |  SELECT doc_id, pos,
       |    list_reduce(
       |      list_concat([CAST(0 AS BIGINT)],
       |        list_transform(range(1, length(t) + 1), ci -> CAST(ascii(substr(t, ci, 1)) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000003) AS code
       |  FROM tok)
       |SELECT d.doc_id,
       |  md5(d.text) AS fp_seq,
       |  md5(array_to_string(list_sort(list_distinct($dToks)), ' ')) AS fp_set,
       |  CAST(coalesce(c.fp, 0) AS BIGINT) AS fp_rolling
       |FROM documents d LEFT JOIN (
       |  SELECT doc_id, CAST(sum((code * pos) % 1000003) % 1000003 AS BIGINT) AS fp
       |  FROM codes GROUP BY doc_id
       |) c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Gopher-style quality gate: per-doc signals + the keep/drop verdict.
    * Repetition ratio (most frequent token's share) is the classic
    * boilerplate detector; bounds follow the published heuristics
    * (mean word length 3–10, stopword presence, low repetition).
    */
  def qualityFlags(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("tk", expr(toks))
      .withColumn("n_tokens", expr("size(tk)"))
      // sum of token lengths == length of the separator-free concatenation
      // (codegen'd) — value-identical to the interpreted
      // aggregate(tk, 0D, (a, t) -> a + length(t)) the oracle replays
      .withColumn("mean_wl", expr("CAST(length(array_join(tk, '')) AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1D)"))
      // native kernel (functions.TokenOps) — value-identical to the HOF
      // form array_max(transform(array_distinct(tk), d -> size(filter(tk,
      // t -> t = d)))) the oracle replays, incl. NULL on empty input
      .withColumn("top_tok_share", expr(
        """CAST(CASE WHEN n_tokens = 0 THEN CAST(NULL AS INT)
          |  ELSE max_token_count(tk) END AS DOUBLE)
          |/ greatest(CAST(n_tokens AS DOUBLE), 1D)""".stripMargin))
      // arrays_overlap is codegen'd; value-identical to the filter-count>0
      .withColumn("has_stopword", expr("arrays_overlap(tk, array('the', 'a', 'of', 'and'))"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(col("mean_wl"), 4).as("mean_word_len"),
        round(col("top_tok_share"), 4).as("repetition_ratio"),
        col("has_stopword"),
        (col("n_tokens") >= 10 && col("mean_wl") >= 3 && col("mean_wl") <= 10 &&
          col("top_tok_share") <= 0.2).as("keep"))
      .orderBy("doc_id")
  }

  private val qualityFlagsSql =
    s"""SELECT doc_id,
       |  CAST(len(tk) AS INT) AS n_tokens,
       |  round(mean_wl, 4) AS mean_word_len,
       |  round(top_share, 4) AS repetition_ratio,
       |  len(list_filter(tk, t -> t IN ('the', 'a', 'of', 'and'))) > 0 AS has_stopword,
       |  (len(tk) >= 10 AND mean_wl >= 3 AND mean_wl <= 10 AND top_share <= 0.2) AS keep
       |FROM (
       |  SELECT doc_id, tk,
       |    list_sum(list_transform(tk, t -> length(t)))
       |      / greatest(CAST(len(tk) AS DOUBLE), 1) AS mean_wl,
       |    CAST(list_max(list_transform(list_distinct(tk),
       |      d -> len(list_filter(tk, t -> t = d)))) AS DOUBLE)
       |      / greatest(CAST(len(tk) AS DOUBLE), 1) AS top_share
       |  FROM (SELECT doc_id, $dToks AS tk FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** The composed training-data curation pipeline: exact-dedup survivors
    * ∩ quality keep ∩ language allowlist, with per-source yield accounting.
    * One pass builds every signal (hash, tokens, quality) in a single
    * codegen'd projection; the dedup is the only shuffle.
    */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("content_hash",
        sha2(lower(trim(regexp_replace(col("text"), "\\s+", " "))).cast("binary"), 256))
      .withColumn("tk", expr(toks))
      .withColumn("n_tokens", expr("size(tk)"))
      .withColumn("mean_wl",
        expr("CAST(length(array_join(tk, '')) AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1D)"))
      .withColumn("survivor",
        col("doc_id") === min("doc_id").over(Window.partitionBy("content_hash")))
      .withColumn("quality_keep",
        col("n_tokens") >= 10 && col("mean_wl") >= 3 && col("mean_wl") <= 10)
      .withColumn("lang_keep", col("lang").isin("en", "fr"))
    docs
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("survivor") && col("quality_keep") && col("lang_keep"), 1))
          .as("n_curated"),
        round(sum(when(col("survivor") && col("quality_keep") && col("lang_keep"),
          col("n_tokens")).otherwise(lit(0))).cast("double"), 2).as("curated_tokens"))
      .orderBy("source")
  }

  private val curationPipelineSql =
    s"""WITH enriched AS (
       |  SELECT source, doc_id, lang,
       |    sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
       |    len($dToks) AS n_tokens,
       |    list_sum(list_transform($dToks, t -> length(t)))
       |      / greatest(CAST(len($dToks) AS DOUBLE), 1) AS mean_wl
       |  FROM documents
       |), flagged AS (
       |  SELECT source, n_tokens,
       |    (doc_id = min(doc_id) OVER (PARTITION BY content_hash)) AS survivor,
       |    (n_tokens >= 10 AND mean_wl >= 3 AND mean_wl <= 10) AS quality_keep,
       |    (lang IN ('en', 'fr')) AS lang_keep
       |  FROM enriched)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(CASE WHEN survivor AND quality_keep AND lang_keep THEN 1 END) AS BIGINT)
       |    AS n_curated,
       |  round(CAST(sum(CASE WHEN survivor AND quality_keep AND lang_keep
       |    THEN n_tokens ELSE 0 END) AS DOUBLE), 2) AS curated_tokens
       |FROM flagged GROUP BY source ORDER BY source""".stripMargin

  /** Intra-document repetition ratio (the Gopher/CCNet repetitiveness
    * gate): 1 − distinct 3-grams / total 3-grams. A doc that repeats the
    * same phrases scores high and is flagged. Pure per-row projection via
    * the native [[graft.functions.WordShingles]] kernel (which returns the
    * DISTINCT shingle set; total count is positional).
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("tk", expr(toks))
      .select(
        col("doc_id"),
        greatest(size(col("tk")) - 2, lit(0)).as("n_3grams"),
        expr("size(word_shingles(tk, 3))").as("n_distinct_3grams"))
      .select(
        col("doc_id"),
        col("n_3grams"),
        col("n_distinct_3grams"),
        when(col("n_3grams") > 0,
          round(lit(1.0) - col("n_distinct_3grams").cast("double") / col("n_3grams"), 4))
          .otherwise(0.0).as("rep_ratio"))
      .withColumn("is_repetitive", col("rep_ratio") > 0.2)
      .orderBy("doc_id")
  }

  private val repetitionSql =
    s"""SELECT doc_id, n_3grams, n_distinct_3grams,
       |  CASE WHEN n_3grams > 0
       |    THEN round(1.0 - CAST(n_distinct_3grams AS DOUBLE) / n_3grams, 4)
       |    ELSE 0.0 END AS rep_ratio,
       |  (CASE WHEN n_3grams > 0
       |    THEN round(1.0 - CAST(n_distinct_3grams AS DOUBLE) / n_3grams, 4)
       |    ELSE 0.0 END) > 0.2 AS is_repetitive
       |FROM (
       |  SELECT doc_id,
       |    CAST(greatest(len(tk) - 2, 0) AS INT) AS n_3grams,
       |    CAST(len(list_distinct(list_transform(range(1, len(tk) - 1),
       |      i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])))) AS INT)
       |      AS n_distinct_3grams
       |  FROM (SELECT doc_id, $dToks AS tk FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** Corpus TF-IDF: top-3 terms per document. The inverted index (term →
    * document frequency) is one hash shuffle on the term; per-doc term
    * counts map-side-combine before it. Ranking is by the INTEGER triple
    * (tf DESC, df ASC, term ASC) — monotone in tf·idf for any monotone idf,
    * and exactly reproducible in another engine, where a float-score
    * ordering could flip near-ties; the reported tfidf score itself is
    * informational (ln-based, rounded).
    */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val terms = docs
      .select(col("doc_id"), explode(expr(toks)).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct("doc_id").as("n_docs"))
    val ranked = tf
      .join(broadcast(df), "term") // vocabulary ≪ corpus: broadcast the df side
      .crossJoin(broadcast(nDocs))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tf").desc, col("df").asc, col("term").asc)))
      .filter(col("rank") <= 3)
    ranked.select(
        col("doc_id"),
        col("rank"),
        col("term"),
        col("tf"),
        col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  private val tfidfTopTermsSql =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(tk) AS term
       |  FROM (SELECT doc_id, $dToks AS tk FROM documents)
       |), tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2
       |), df AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
       |), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |ranked AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
       |  FROM tf JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df,
       |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
       |FROM ranked WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  /** Per-source vocabulary drift: KL(source ‖ corpus) over unigram
    * distributions — the standard divergence check a mixture planner runs
    * before reweighting sources (a drifted source either carries novel
    * vocabulary worth upweighting or template spam worth gating). Source
    * vocabularies are subsets of the corpus vocabulary, so every p > 0 term
    * has q > 0 and the sum is finite by construction. Scale shape: one
    * (source, term)-keyed count shuffle with map-side combine, a term-keyed
    * rollup to corpus counts, then a term-keyed join — all vocabulary-
    * bounded, never corpus-row-bounded; the per-source totals and the
    * grand total are broadcast scalars.
    */
  def klDivergence(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("source"), explode(expr(toks)).as("term"))
    val srcCounts = terms.groupBy("source", "term").agg(count(lit(1)).as("c_src"))
    val corpusCounts = srcCounts.groupBy("term").agg(sum("c_src").as("c_all"))
    val srcTotals = srcCounts.groupBy("source").agg(sum("c_src").as("n_src"))
    val total = corpusCounts.agg(sum("c_all").cast("double").as("n_all"))
    srcCounts
      .join(corpusCounts, "term")
      .join(broadcast(srcTotals), "source")
      .crossJoin(broadcast(total))
      .withColumn("p", col("c_src").cast("double") / col("n_src"))
      .withColumn("q", col("c_all").cast("double") / col("n_all"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        max("n_src").as("n_tokens"),
        round(sum(col("p") * log(col("p") / col("q"))), 4).as("kl_nats"))
      .orderBy("source")
  }

  private val klDivergenceSql =
    s"""WITH t AS (
       |  SELECT source, unnest($dToks) AS term FROM documents
       |), sc AS (
       |  SELECT source, term, count(*) AS c_src FROM t GROUP BY 1, 2
       |), cc AS (
       |  SELECT term, CAST(sum(c_src) AS BIGINT) AS c_all FROM sc GROUP BY 1
       |), st AS (
       |  SELECT source, CAST(sum(c_src) AS BIGINT) AS n_src FROM sc GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(c_all) AS DOUBLE) AS n_all FROM cc)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
       |  max(n_src) AS n_tokens,
       |  round(sum((CAST(c_src AS DOUBLE) / n_src)
       |    * ln((CAST(c_src AS DOUBLE) / n_src) / (CAST(c_all AS DOUBLE) / n_all))), 4)
       |    AS kl_nats
       |FROM sc JOIN cc USING (term) JOIN st USING (source) CROSS JOIN tot
       |GROUP BY source ORDER BY source""".stripMargin

  /** Zipf rank-frequency fit: the least-squares slope of ln(freq) on
    * ln(rank) over the top-500 corpus terms — natural text sits near −1
    * (Zipf's law); strong departures flag synthetic or templated corpora.
    * The slope/intercept come from the engines' own `regr_slope` /
    * `regr_intercept` (identical closed forms both sides). Scale shape:
    * one term-keyed count shuffle, then a single 500-row TakeOrdered cut
    * — the regression itself runs on a constant-size frame, so the query
    * is corpus-scan-bound regardless of vocabulary size.
    */
  def zipfFit(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(expr(toks)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val top = counts.orderBy(col("freq").desc, col("term").asc).limit(500)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("term").asc)))
    top.agg(
      count(lit(1)).as("n_terms"),
      round(expr("regr_slope(ln(freq), ln(rank))"), 4).as("zipf_slope"),
      round(expr("regr_intercept(ln(freq), ln(rank))"), 4).as("zipf_intercept"),
      round(expr("ln(max(freq))"), 4).as("ln_top_freq"))
  }

  private val zipfFitSql =
    s"""WITH tc AS (
       |  SELECT term, count(*) AS freq
       |  FROM (SELECT unnest($dToks) AS term FROM documents)
       |  GROUP BY 1
       |), top AS (
       |  SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
       |  FROM tc ORDER BY freq DESC, term ASC LIMIT 500)
       |SELECT CAST(count(*) AS BIGINT) AS n_terms,
       |  round(regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_slope,
       |  round(regr_intercept(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_intercept,
       |  round(ln(CAST(max(freq) AS DOUBLE)), 4) AS ln_top_freq
       |FROM top""".stripMargin

  /** Moving-average type-token ratio (MATTR, Covington & McFall 2010):
    * TTR over every 50-token sliding window, averaged — the
    * length-invariant lexical-diversity signal (plain TTR shrinks with
    * document length, so it can't be compared across lengths; MATTR
    * can). Documents shorter than the window fall back to plain TTR.
    * Pure per-row HOF arithmetic — window count × window size is bounded
    * by document length, no corpus state, embarrassingly parallel.
    */
  // MATTR stays in INTEGER space until one final division: the mean of
  // window TTRs equals (Σ window distinct counts)/(50·n_windows), an
  // exact rational from exact integer sums, floored at 4 dp via integer
  // division — round(double, 4) sat on …5 boundaries at sf0.1 where
  // Spark (shortest-repr HALF_UP) and DuckDB (binary) split; same
  // treatment for TTR (CHECK_LOCAL_SF01's catch).
  def mattr(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("tk", expr(toks))
      .withColumn("n", size(col("tk")).cast("long"))
      .withColumn("tsum", expr(
        """CASE WHEN n <= 50 THEN CAST(size(array_distinct(tk)) AS BIGINT)
          |ELSE aggregate(transform(sequence(1, CAST(n AS INT) - 49),
          |  i -> CAST(size(array_distinct(slice(tk, i, 50))) AS BIGINT)),
          |  0L, (a, x) -> a + x) END""".stripMargin))
      .withColumn("den", expr("CASE WHEN n <= 50 THEN n ELSE 50 * (n - 49) END"))
      .select(col("doc_id"), col("n").cast("int").as("n_tokens"),
        expr("CAST((tsum * 10000) DIV den AS DOUBLE) / 10000.0").as("mattr"),
        expr("CAST((CAST(size(array_distinct(tk)) AS BIGINT) * 10000) DIV n AS DOUBLE) / 10000.0")
          .as("ttr"))
      .filter(col("n_tokens") >= 1)
      .orderBy("doc_id")

  private val mattrSql =
    s"""WITH d AS (
       |  SELECT doc_id, $dToks AS tk, CAST(len($dToks) AS BIGINT) AS n FROM documents
       |), m AS (
       |  SELECT doc_id, n, tk,
       |    CASE WHEN n <= 50 THEN CAST(len(list_distinct(tk)) AS BIGINT)
       |    ELSE CAST(list_sum(list_transform(range(1, CAST(n AS INT) - 48),
       |      i -> CAST(len(list_distinct(tk[i:i+49])) AS BIGINT))) AS BIGINT) END AS tsum,
       |    CASE WHEN n <= 50 THEN n ELSE 50 * (n - 49) END AS den
       |  FROM d WHERE n >= 1)
       |SELECT doc_id, CAST(n AS INT) AS n_tokens,
       |  CAST((tsum * 10000) // den AS DOUBLE) / 10000.0 AS mattr,
       |  CAST((CAST(len(list_distinct(tk)) AS BIGINT) * 10000) // n AS DOUBLE)
       |    / 10000.0 AS ttr
       |FROM m ORDER BY doc_id""".stripMargin

  /** Token-length histogram per language: fixed 16-token-wide buckets via
    * integer division (exactly portable, unlike float log-buckets), with
    * per-bucket doc counts and char volume — the corpus-shape profile that
    * drives chunking/packing parameter choices. One hash-agg shuffle with
    * map-side combine; bucket cardinality is bounded by max doc length,
    * not corpus size.
    */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tokens", expr(s"size($toks)"))
      .withColumn("bucket", expr("CAST(n_tokens div 16 AS INT)"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"),
        sum("n_chars").as("sum_chars"))
      .orderBy("lang", "bucket")

  private val lengthHistogramSql =
    s"""SELECT lang, CAST(n_tokens // 16 AS INT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM (SELECT lang, CAST(len($dToks) AS INT) AS n_tokens, n_chars FROM documents)
       |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  /** Corpus unigram-LM likelihood scoring (KenLM-style quality filter at
    * unigram order): the corpus's own term frequencies define a unigram
    * model; each document is scored by the mean natural-log probability of
    * its token instances, and the low-likelihood tail is flagged (threshold
    * −3.45 sits between the fixture's p10 and min, so the flag is
    * non-degenerate at both SFs). Scale shape: one term-keyed shuffle for
    * the counts, one term-keyed join back (vocabulary-sized, broadcastable
    * when the vocab is small), one broadcast scalar for the total — no
    * per-document state, no all-pairs anything.
    */
  def unigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(toks)).as("term"))
    val termCounts = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = termCounts.agg(sum("cnt").cast("double").as("total"))
    terms.join(termCounts, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt").cast("double") / col("total"))), 4).as("avg_logprob"))
      .withColumn("is_low_likelihood", col("avg_logprob") < -3.45)
      .orderBy("doc_id")
  }

  private val unigramLogprobSql =
    s"""WITH t AS (
       |  SELECT doc_id, unnest($dToks) AS term FROM documents
       |), tc AS (
       |  SELECT term, count(*) AS cnt FROM t GROUP BY term
       |), tot AS (
       |  SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM tc
       |), scored AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS avg_logprob
       |  FROM t JOIN tc USING (term) CROSS JOIN tot
       |  GROUP BY doc_id)
       |SELECT doc_id, n_tokens, avg_logprob,
       |  avg_logprob < -3.45 AS is_low_likelihood
       |FROM scored ORDER BY doc_id""".stripMargin

  /** Character-level Shannon entropy — the classic cheap gibberish /
    * boilerplate signal (low-entropy docs are repetitive: ASCII art, key
    * smash, templated spam). H = ln(n) − Σ c·ln(c) / n over per-character
    * counts, so the ln work is per-DISTINCT-character (≤ alphabet size),
    * not per character. Scale shape: one (doc, char) count shuffle with
    * map-side partial aggregation — alphabet-bounded per doc — then a
    * per-doc fold; no corpus-level state at all. The low-entropy flag
    * threshold (2.8) sits between the fixture's p10 and median, so it is
    * non-degenerate at both SFs.
    */
  def charEntropy(s: SparkSession, dir: String): DataFrame = {
    val chars = Tables.documents(s, dir)
      // hash(doc_id) satisfies both the (doc_id, char) count and the
      // per-doc fold — one exchange for the whole query (pre-explode, so
      // the shuffle moves documents, not characters)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(expr("filter(split(text, ''), c -> c <> '')")).as("c"))
    chars.groupBy("doc_id", "c").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        round(log(sum("cnt").cast("double")) -
          sum(col("cnt").cast("double") * log(col("cnt").cast("double"))) /
            sum("cnt").cast("double"), 4).as("char_entropy"))
      .withColumn("is_low_entropy", col("char_entropy") < 2.8)
      .orderBy("doc_id")
  }

  /** Per-language character-trigram profile — the MODEL-BUILDING side of
    * n-gram language ID (the classifier in [[langId]] consumes exactly
    * such profiles): top-10 trigrams per language by frequency, ranked
    * with the count-desc / trigram-asc rule so ties are deterministic.
    * Scale shape: the trigram explode is per-row; one (lang, trigram)
    * count shuffle with map-side combine; the top-k window runs per
    * language over the (already tiny) distinct-trigram frame — and the
    * window-top-k idiom auto-rewrites to the native bounded-heap operator
    * under GraftExtensions.
    */
  def ngramProfile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(desc("cnt"), asc("tri"))
    Tables.documents(s, dir)
      .filter(length(col("text")) >= 3)
      // codegen'd kernel, value-identical to the interpreted
      // transform(sequence(...), i -> substring(text, i, 3)) form
      .select(col("lang"), explode(expr("char_ngrams(text, 3)")).as("tri"))
      .groupBy("lang", "tri").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("tri"), col("cnt"))
      .orderBy("lang", "rk")
  }

  private val ngramProfileSql =
    """WITH t AS (
      |  SELECT lang, unnest(list_transform(range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS tri
      |  FROM documents WHERE length(text) >= 3
      |), c AS (
      |  SELECT lang, tri, count(*) AS cnt FROM t GROUP BY 1, 2
      |), r AS (
      |  SELECT lang, tri, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tri ASC) AS rk
      |  FROM c)
      |SELECT lang, CAST(rk AS INT) AS rk, tri, CAST(cnt AS BIGINT) AS cnt
      |FROM r WHERE rk <= 10 ORDER BY lang, rk""".stripMargin

  private val charEntropySql =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
      |), cc AS (
      |  SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2
      |), e AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
      |    CAST(count(*) AS BIGINT) AS n_distinct_chars,
      |    round(ln(CAST(sum(cnt) AS DOUBLE))
      |      - sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)))
      |        / CAST(sum(cnt) AS DOUBLE), 4) AS char_entropy
      |  FROM cc GROUP BY doc_id)
      |SELECT doc_id, n_chars, n_distinct_chars, char_entropy,
      |  char_entropy < 2.8 AS is_low_entropy
      |FROM e ORDER BY doc_id""".stripMargin

  /** Bigram-LM likelihood scoring — the order-2 extension of
    * [[unigramLogprob]]: each document's mean ln P(w₂|w₁) under the
    * corpus's own bigram counts with add-½ smoothing over the observed
    * follower vocabulary (P = (c(w₁w₂)+½) / (c(w₁·)+½·V)). Smoothing keeps
    * the model proper (every logprob < 0) and the query total. Scale
    * shape: the bigram explode runs ONCE, straight into a per-(doc, w₁,
    * w₂) multiplicity aggregate — map-side combine shrinks the only
    * instance-sized shuffle, and everything downstream (the corpus
    * counts, rolled up FROM the multiplicities, and the probability join
    * back) rides on distinct triples, not per-instance rows; the mean is
    * the multiplicity-weighted Σm·ln p / Σm, identical arithmetic to the
    * per-instance avg since every instance of a triple has the same
    * logprob. Skewed keys fan out rows, never pairs — AQE's skew split
    * applies; V is a broadcast scalar.
    */
  def bigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |  i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // per-doc bigram multiplicity FIRST: the explode's single consumer
    val docBg = bg.groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).cast("double").as("m"))
    // corpus counts roll up from the multiplicities (c(w1,w2) = Σ_doc m,
    // c(w1·) = Σ_w2 c(w1,w2); counts are integer-valued doubles < 2^53 so
    // the sums are exact)
    val bgCounts = docBg.groupBy("w1", "w2").agg(sum("m").as("c12"))
    val ugCounts = bgCounts.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = bgCounts.agg(countDistinct("w2").cast("double").as("v"))
    docBg.join(bgCounts, Seq("w1", "w2"))
      .join(ugCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(sum("m").cast("long").as("n_bigrams"),
        round((sum(col("m") * log((col("c12") + lit(0.5)) / (col("c1") + lit(0.5) * col("v"))))
          / sum("m")), 4).as("mean_logprob"))
      .orderBy("doc_id")
  }

  private val bigramLogprobSql =
    s"""WITH tk AS (
       |  SELECT doc_id, $dToks AS tk FROM documents
       |), bg AS (
       |  SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
       |        FROM tk WHERE len(tk) >= 2)
       |), dbg AS (
       |  SELECT doc_id, w1, w2, CAST(count(*) AS DOUBLE) AS m
       |  FROM bg GROUP BY 1, 2, 3
       |), bgc AS (
       |  SELECT w1, w2, sum(m) AS c12 FROM dbg GROUP BY 1, 2
       |), ugc AS (
       |  SELECT w1, sum(c12) AS c1 FROM bgc GROUP BY 1
       |), vocab AS (
       |  SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM bgc)
       |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
       |  round(sum(m * ln((c12 + 0.5) / (c1 + 0.5 * v))) / sum(m), 4) AS mean_logprob
       |FROM dbg JOIN bgc USING (w1, w2) JOIN ugc USING (w1) CROSS JOIN vocab
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Moore–Lewis cross-entropy-difference selection (the published
    * intelligent-selection rule for domain data: score each document by
    * how much better an IN-DOMAIN language model likes it than a
    * GENERAL-corpus model, and keep the top of the ranking). In-domain
    * here is the labeled `lang = 'en'` slice; both models are add-½
    * unigram LMs over the SHARED corpus vocabulary, so out-of-domain
    * terms get genuine smoothed mass rather than zero. Per doc the score
    * is the token-mean of ln P_in(t) − ln P_gen(t) — positive means the
    * doc looks more like the in-domain slice than like the corpus at
    * large. Scale shape: the explode's single consumer is a per-doc term
    * multiplicity pre-aggregate (map-side combined — the bigram-LM
    * lesson), both models' counts come from ONE term-count pass with a
    * conditional sum, and the two normalizers + vocab size ride in as a
    * broadcast single-row aggregate; everything else is linear in the
    * token count with no cross-document state.
    */
  def mooreLewis(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(expr(toks)).as("term"))
    // per-doc multiplicity first: one map-side-combined pass over tokens
    val docTerms = terms.groupBy("doc_id", "lang", "term")
      .agg(count(lit(1)).cast("double").as("m"))
    // both LMs' counts in one rollup from the multiplicities (integer-
    // valued doubles < 2^53, sums exact)
    val tc = docTerms.groupBy("term")
      .agg(sum(when(col("lang") === "en", col("m")).otherwise(0.0)).as("c_in"),
        sum("m").as("c_all"))
    val scal = tc.agg(sum("c_in").as("t_in"), sum("c_all").as("t_all"),
      count(lit(1)).cast("double").as("v"))
    docTerms.join(tc, Seq("term"))
      .crossJoin(broadcast(scal))
      .groupBy("doc_id", "lang")
      .agg(sum("m").cast("long").as("n_tokens"),
        // + 0.0 collapses IEEE −0.0 (a just-below-zero mean rounded to 4
        // decimals) to +0.0 — engines disagree on the sign of that zero
        (round((sum(col("m") *
          (log((col("c_in") + lit(0.5)) / (col("t_in") + lit(0.5) * col("v"))) -
           log((col("c_all") + lit(0.5)) / (col("t_all") + lit(0.5) * col("v")))))
          / sum("m")), 4) + lit(0.0)).as("ml_score"))
      .withColumn("selected", col("ml_score") > 0.0)
      .orderBy("doc_id")
  }

  private val mooreLewisSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang, unnest($dToks) AS term FROM documents
       |), dt AS (
       |  SELECT doc_id, lang, term, CAST(count(*) AS DOUBLE) AS m
       |  FROM t GROUP BY 1, 2, 3
       |), tc AS (
       |  SELECT term,
       |    sum(CASE WHEN lang = 'en' THEN m ELSE 0.0 END) AS c_in,
       |    sum(m) AS c_all
       |  FROM dt GROUP BY 1
       |), scal AS (
       |  SELECT sum(c_in) AS t_in, sum(c_all) AS t_all,
       |    CAST(count(*) AS DOUBLE) AS v
       |  FROM tc)
       |SELECT doc_id, lang, CAST(sum(m) AS BIGINT) AS n_tokens,
       |  round(sum(m * (ln((c_in + 0.5) / (t_in + 0.5 * v))
       |               - ln((c_all + 0.5) / (t_all + 0.5 * v)))) / sum(m), 4) + 0.0
       |    AS ml_score,
       |  round(sum(m * (ln((c_in + 0.5) / (t_in + 0.5 * v))
       |               - ln((c_all + 0.5) / (t_all + 0.5 * v)))) / sum(m), 4) > 0.0
       |    AS selected
       |FROM dt JOIN tc USING (term) CROSS JOIN scal
       |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  /** Gopher-style intra-document repetition signals (the published
    * repetition-rule family for training-data filtering): the fraction of
    * a document's n-gram mass held by its single most frequent 2-gram and
    * 3-gram, and the fraction of token positions covered by 5-grams that
    * occur more than once within the doc. This corpus's documents are
    * single-line token streams, so the token-level rules are the live
    * ones (the line/paragraph-duplicate variants of the rule set are
    * degenerate here — every doc is one line). A document is flagged
    * repetitive at the published thresholds (top-2-gram > 0.20,
    * top-3-gram > 0.18, dup-5-gram coverage > 0.15). Scale shape: three
    * per-doc explodes (≤1 row per token position each), every aggregate
    * map-side combinable, one distinct-position count per doc for the
    * coverage term — no cross-document state anywhere.
    */
  def gopherRepetition(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), expr(toks).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("n_tokens"))
    def topNgramFrac(n: Int, out: String): DataFrame =
      base.filter(col("n_tokens") >= n)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(tk) - ${n - 1}), i -> concat_ws(' ', slice(tk, i, $n)))"))
          .as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg((max("c").cast("double") / sum("c").cast("double")).as(out))
    val top3 = topNgramFrac(3, "f3")
    // coverage: positions i..i+n-1 of every instance of a within-doc
    // duplicated n-gram, counted distinct — computed at n=2 (live on this
    // corpus: ~70% of docs have a repeated bigram, so the machinery is
    // value-checked against the oracle on real data) and at n=5 (the
    // published flag threshold). The position-indexed n-gram frame serves
    // BOTH the count side and the probe side, so the corpus is exploded
    // once per n (AQE reuses the pre-agg exchange for the dup filter).
    def posGrams(n: Int): DataFrame =
      base.filter(col("n_tokens") >= n)
        .select(col("doc_id"), expr(
          s"""explode(transform(sequence(1, size(tk) - ${n - 1}),
             |  i -> struct(i AS i, concat_ws(' ', slice(tk, i, $n)) AS g)))""".stripMargin).as("s"))
        .select(col("doc_id"), col("s.i").as("i"), col("s.g").as("g"))
    def dupCoverage(g: DataFrame, n: Int, out: String): DataFrame = {
      val dup = g.groupBy("doc_id", "g").agg(count(lit(1)).as("m"))
        .filter(col("m") >= 2).drop("m")
      g.join(dup, Seq("doc_id", "g"))
        .select(col("doc_id"), explode(expr(s"sequence(0, ${n - 1})")).as("off"), col("i"))
        .groupBy("doc_id")
        .agg(countDistinct(col("i") + col("off")).as(out))
    }
    // (r18 counter-finding: materializing g2/g5 for their census + probe
    // consumers measured SLOWER — 1.97 -> 2.4/3.0 s probe total; the
    // eager round-trip of the corpus×positions frame exceeds what AQE
    // exchange reuse already saves. Lazy shape stands.)
    val g2 = posGrams(2)
    // the 2-gram top-fraction rolls up from the same positional frame the
    // coverage probe uses — one 2-gram explode, not two
    val top2 = g2.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max("c").cast("double") / sum("c").cast("double")).as("f2"))
    val cov2 = dupCoverage(g2, 2, "covered2")
    val cov5 = dupCoverage(posGrams(5), 5, "covered5")
    base.select("doc_id", "n_tokens")
      .join(top2, Seq("doc_id"), "left")
      .join(top3, Seq("doc_id"), "left")
      .join(cov2, Seq("doc_id"), "left")
      .join(cov5, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round(coalesce(col("f2"), lit(0.0)), 4).as("top2_frac"),
        round(coalesce(col("f3"), lit(0.0)), 4).as("top3_frac"),
        round(coalesce(col("covered2").cast("double"), lit(0.0))
          / col("n_tokens").cast("double"), 4).as("dup2_frac"),
        round(coalesce(col("covered5").cast("double"), lit(0.0))
          / col("n_tokens").cast("double"), 4).as("dup5_frac"))
      .withColumn("is_repetitive",
        col("top2_frac") > 0.20 || col("top3_frac") > 0.18 || col("dup5_frac") > 0.15)
      .orderBy("doc_id")
  }

  private val gopherRepetitionSql =
    s"""WITH base AS (
       |  SELECT doc_id, $dToks AS tk FROM documents
       |), g2 AS (
       |  SELECT doc_id, array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 1], ' ') AS g
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
       |        FROM base WHERE len(tk) >= 2)
       |), t2 AS (
       |  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS f2
       |  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1
       |), g3 AS (
       |  SELECT doc_id, array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS g
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
       |        FROM base WHERE len(tk) >= 3)
       |), t3 AS (
       |  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS f3
       |  FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1
       |), g5 AS (
       |  SELECT doc_id, i, array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 4], ' ') AS g
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
       |        FROM base WHERE len(tk) >= 5)
       |), dup5 AS (
       |  SELECT doc_id, g FROM g5 GROUP BY doc_id, g HAVING count(*) >= 2
       |), cov5 AS (
       |  SELECT a.doc_id, count(DISTINCT a.i + off.off) AS covered5
       |  FROM g5 a JOIN dup5 USING (doc_id, g)
       |  CROSS JOIN (SELECT unnest(range(0, 5)) AS off) off
       |  GROUP BY 1
       |), g2i AS (
       |  SELECT doc_id, i, array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 1], ' ') AS g
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
       |        FROM base WHERE len(tk) >= 2)
       |), dup2 AS (
       |  SELECT doc_id, g FROM g2i GROUP BY doc_id, g HAVING count(*) >= 2
       |), cov2 AS (
       |  SELECT a.doc_id, count(DISTINCT a.i + off.off) AS covered2
       |  FROM g2i a JOIN dup2 USING (doc_id, g)
       |  CROSS JOIN (SELECT unnest(range(0, 2)) AS off) off
       |  GROUP BY 1
       |), j AS (
       |  SELECT b.doc_id, CAST(len(b.tk) AS BIGINT) AS n_tokens,
       |    round(coalesce(f2, 0.0), 4) AS top2_frac,
       |    round(coalesce(f3, 0.0), 4) AS top3_frac,
       |    round(coalesce(CAST(covered2 AS DOUBLE), 0.0) / len(b.tk), 4) AS dup2_frac,
       |    round(coalesce(CAST(covered5 AS DOUBLE), 0.0) / len(b.tk), 4) AS dup5_frac
       |  FROM base b
       |  LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
       |  LEFT JOIN cov2 USING (doc_id) LEFT JOIN cov5 USING (doc_id))
       |SELECT doc_id, n_tokens, top2_frac, top3_frac, dup2_frac, dup5_frac,
       |  (top2_frac > 0.20 OR top3_frac > 0.18 OR dup5_frac > 0.15) AS is_repetitive
       |FROM j ORDER BY doc_id""".stripMargin

  /** The "dataset card" report: one corpus-statistics row per language
    * plus a ROLLUP total — doc counts, token totals and percentiles,
    * short-doc share, exact-dup rate, distinct sources — the summary table
    * published next to a training corpus. One pass computes every per-doc
    * signal in a single codegen'd projection; the rollup is one grouped
    * aggregation (map-side combined) over 4 language groups.
    */
  def datasetCard(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("tk_n", expr(s"size($toks)"))
      .withColumn("content_hash",
        sha2(lower(trim(regexp_replace(col("text"), "\\s+", " "))).cast("binary"), 256))
      .rollup(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("tk_n").as("total_tokens"),
        round(expr("percentile(tk_n, 0.5)"), 2).as("p50_tokens"),
        round(avg(when(col("tk_n") < 10, 1.0).otherwise(0.0)), 4).as("short_share"),
        round(lit(1d) - countDistinct("content_hash").cast("double") / count(lit(1)), 4)
          .as("exact_dup_rate"),
        countDistinct("source").as("n_sources"))
      .withColumn("lang", coalesce(col("lang"), lit("TOTAL")))
      .select("lang", "n_docs", "total_tokens", "p50_tokens", "short_share",
        "exact_dup_rate", "n_sources")
      .orderBy("lang")

  private val datasetCardSql =
    s"""WITH d AS (
       |  SELECT lang, source,
       |    CAST(len($dToks) AS INT) AS tk_n,
       |    sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash
       |  FROM documents)
       |SELECT coalesce(lang, 'TOTAL') AS lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tk_n) AS BIGINT) AS total_tokens,
       |  round(quantile_cont(tk_n, 0.5), 2) AS p50_tokens,
       |  round(avg(CASE WHEN tk_n < 10 THEN 1.0 ELSE 0.0 END), 4) AS short_share,
       |  round(1 - CAST(count(DISTINCT content_hash) AS DOUBLE) / count(*), 4)
       |    AS exact_dup_rate,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |FROM d GROUP BY ROLLUP(lang) ORDER BY lang""".stripMargin

  /** Readability scoring (Flesch reading-ease with the standard
    * vowel-group syllable approximation) — the grade-level signal quality
    * filters bucket on. Sentence count falls back to 1 when the text has
    * no terminators (true of machine-generated corpora), so the score
    * degrades to a words-and-syllables measure instead of dividing by
    * zero. One codegen'd projection per row — the syllable sum is a
    * higher-order `aggregate` over the token array, no explode, no
    * shuffle; the plan is a scan + project at any corpus size.
    */
  def readability(s: SparkSession, dir: String): DataFrame = {
    // syllables(w) ≈ max(1, number of [aeiouy]+ groups in lower(w)):
    // mark each vowel group with '#', count the marks by length delta
    val sylSum =
      """aggregate(tk, 0L, (acc, w) -> acc + greatest(1L, CAST(
        |  length(regexp_replace(lower(w), '[aeiouy]+', '#'))
        |  - length(replace(regexp_replace(lower(w), '[aeiouy]+', '#'), '#', ''))
        |  AS BIGINT)))""".stripMargin
    Tables.documents(s, dir)
      .select(col("doc_id"), expr(toks).as("tk"), col("text"))
      .withColumn("n_words", size(col("tk")).cast("long"))
      .withColumn("n_sentences",
        greatest(lit(1L), length(regexp_replace(col("text"), "[^.!?]", "")).cast("long")))
      .withColumn("n_syllables", expr(sylSum))
      // Flesch as an EXACT integer rational over the common denominator
      // D = 1000·sentences·max(1, words): numer = 206835·s·W − 1015·w·W −
      // 84600·sy·s. The 2-dp display truncates toward zero in integer
      // space (abs-then-DIV so Spark trunc and DuckDB floor agree), and
      // the band thresholds compare numer against 60·D / 30·D directly —
      // round(double, 2) split the engines on …5 boundaries at sf0.1
      // (CHECK_LOCAL_SF01's catch).
      .withColumn("ww", greatest(lit(1L), col("n_words")))
      .withColumn("numer", expr(
        "206835 * n_sentences * ww - 1015 * n_words * ww - 84600 * n_syllables * n_sentences"))
      .withColumn("dd", expr("1000 * n_sentences * ww"))
      .withColumn("flesch", expr(
        """CAST(CASE WHEN numer < 0 THEN -((-numer * 100) DIV dd)
          |ELSE (numer * 100) DIV dd END AS DOUBLE) / 100.0""".stripMargin))
      .withColumn("band",
        when(col("numer") >= lit(60) * col("dd"), "easy")
          .when(col("numer") >= lit(30) * col("dd"), "standard").otherwise("difficult"))
      .select("doc_id", "n_words", "n_sentences", "n_syllables", "flesch", "band")
      .orderBy("doc_id")
  }

  private val readabilitySql =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk, text
      |  FROM documents
      |), m AS (
      |  SELECT doc_id,
      |    CAST(len(tk) AS BIGINT) AS n_words,
      |    greatest(1, CAST(length(regexp_replace(text, '[^.!?]', '', 'g')) AS BIGINT))
      |      AS n_sentences,
      |    CAST(list_sum(list_transform(tk, w -> greatest(1,
      |      length(regexp_replace(lower(w), '[aeiouy]+', '#', 'g'))
      |      - length(replace(regexp_replace(lower(w), '[aeiouy]+', '#', 'g'), '#', ''))
      |    ))) AS BIGINT) AS n_syllables
      |  FROM t
      |), f AS (
      |  SELECT doc_id, n_words, n_sentences, n_syllables,
      |    greatest(1, n_words) AS ww,
      |    206835 * n_sentences * greatest(1, n_words)
      |      - 1015 * n_words * greatest(1, n_words)
      |      - 84600 * n_syllables * n_sentences AS numer,
      |    1000 * n_sentences * greatest(1, n_words) AS dd
      |  FROM m)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  CAST(CASE WHEN numer < 0 THEN -((-numer * 100) // dd)
      |    ELSE (numer * 100) // dd END AS DOUBLE) / 100.0 AS flesch,
      |  CASE WHEN numer >= 60 * dd THEN 'easy'
      |       WHEN numer >= 30 * dd THEN 'standard' ELSE 'difficult' END AS band
      |FROM f ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // RAKE keyword extraction (Rapid Automatic Keyword Extraction): the
  // classic unsupervised keyphrase scorer — split each document into
  // candidate phrases at stopword boundaries, score each word by
  // degree/frequency (words that travel in long phrases beat words
  // that appear alone), and rank phrases by the sum of their member
  // scores. The stopword set is ONE shared literal; phrase membership
  // is a cumulative stop-count window (position-keyed, per doc); word
  // degree = Σ phrase_len over occurrences and frequency are exact
  // integers from one term-keyed aggregate; each phrase instance's
  // score folds its member deg/freq ratios IN POSITION ORDER so the
  // double sum is identical on both engines, and the top-20 ranking
  // follows the float-ordering rule (rounded score, phrase tie-break).
  // Scale shape: posexplode + two term/phrase-keyed shuffles — linear,
  // no self-join.
  // ------------------------------------------------------------------
  private val rakeStops = Seq("the", "a", "an", "of", "and", "or", "to",
    "in", "is", "it", "that", "for", "on", "as", "with", "was", "at",
    "by", "be", "this", "from", "not", "but", "are", "we", "so")
  def rakeKeywords(s: SparkSession, dir: String): DataFrame = {
    val stopArr = rakeStops.map(w => s"'$w'").mkString("array(", ", ", ")")
    val tokens = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(expr(toks)).as(Seq("pos", "w")))
      .withColumn("is_stop", expr(s"array_contains($stopArr, w)"))
      .withColumn("phrase_id", sum(when(col("is_stop"), 1L).otherwise(0L))
        .over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(!col("is_stop"))
    val inPhrase = tokens
      .withColumn("plen", count(lit(1))
        .over(Window.partitionBy("doc_id", "phrase_id")))
      .filter(col("plen").between(2, 4))
    val wstats = inPhrase.groupBy("w")
      .agg(sum("plen").as("deg"), count(lit(1)).as("freq"))
    val phrases = inPhrase.join(wstats, Seq("w"))
      .groupBy("doc_id", "phrase_id")
      .agg(
        expr("concat_ws(' ', transform(sort_array(collect_list(" +
          "named_struct('pos', pos, 'w', w))), e -> e.w))").as("phrase"),
        expr("aggregate(sort_array(collect_list(named_struct('pos', pos, " +
          "'v', CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)))), 0D, " +
          "(a, e) -> a + e.v)").as("score"))
    phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), max("score").as("score"))
      .withColumn("score_r", round(col("score"), 4))
      .orderBy(col("score_r").desc, col("phrase").asc)
      .limit(20)
      .select(col("phrase"), col("n_occurrences"), col("score_r").as("rake_score"))
      .orderBy(col("rake_score").desc, col("phrase").asc)
  }

  private val rakeKeywordsSql = {
    val stopList = rakeStops.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH tokens0 AS (
       |  SELECT doc_id, tk[i] AS w, i AS pos,
       |    list_contains($stopList, tk[i]) AS is_stop
       |  FROM (SELECT doc_id, tk, CAST(unnest(range(1, len(tk) + 1)) AS INT) AS i
       |    FROM (SELECT doc_id, $dToks AS tk FROM documents))),
       |tokens AS (
       |  SELECT doc_id, w, pos,
       |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id, is_stop
       |  FROM tokens0),
       |inphrase0 AS (
       |  SELECT doc_id, w, pos, phrase_id,
       |    count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
       |  FROM tokens WHERE NOT is_stop),
       |inphrase AS (SELECT * FROM inphrase0 WHERE plen BETWEEN 2 AND 4),
       |wstats AS (
       |  SELECT w, CAST(sum(plen) AS BIGINT) AS deg,
       |    CAST(count(*) AS BIGINT) AS freq
       |  FROM inphrase GROUP BY 1),
       |phrases AS (
       |  SELECT doc_id, phrase_id,
       |    string_agg(w, ' ' ORDER BY pos) AS phrase,
       |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |      list(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) ORDER BY pos)),
       |      (a, v) -> a + v) AS score
       |  FROM inphrase JOIN wstats USING (w)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
       |    round(max(score), 4) AS rake_score
       |  FROM phrases GROUP BY 1)
       |SELECT phrase, n_occurrences, rake_score
       |FROM ranked
       |ORDER BY rake_score DESC, phrase ASC LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------------------
  // Heaps'-law vocabulary-growth fit: V(N) ≈ K·N^β over the corpus in
  // doc_id order — the curve that predicts how much NEW vocabulary the
  // next 10× of corpus brings (β ≈ 0.4–0.6 for natural text; β near 1
  // flags boilerplate/id-like token spam, β near 0 a collapsed corpus).
  // Scale shape: token positions never materialize — V and N come from
  // two exact cumulative frames (per-doc token counts; per-term FIRST
  // doc via min(doc_id), both corpus-sized hash-aggs), sampled at 10
  // exact-integer decile checkpoints (rank = n_docs·t DIV 10, shared
  // literal list). The OLS fit runs regr_slope/intercept on ln N, ln V
  // over those 10 rows — the zipf_fit precedent for runtime ln.
  // ------------------------------------------------------------------
  def heapsLaw(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(toks)).as("term"))
    val perDoc = terms.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val firstDoc = terms.groupBy("term").agg(min("doc_id").as("fd"))
      .groupBy(col("fd").as("doc_id")).agg(count(lit(1)).as("nv"))
    val wOrd = Window.orderBy("doc_id")
    val ranks = perDoc.join(firstDoc, Seq("doc_id"), "left")
      .withColumn("nv", coalesce(col("nv"), lit(0L)))
      .withColumn("r", row_number().over(wOrd).cast("long"))
      .withColumn("cum_n", sum("nt").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_v", sum("nv").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val nd = perDoc.agg(count(lit(1)).as("n_docs"))
    ranks.crossJoin(broadcast(nd))
      .filter(expr(
        "array_contains(transform(array(1L,2L,3L,4L,5L,6L,7L,8L,9L,10L)," +
          " t -> (n_docs * t) DIV 10), r)"))
      // OLS over the 10 checkpoints from ORDERED folds, never regr_* —
      // the regr aggregates sum doubles in scan order, and with a
      // saturated vocabulary the slope/intercept sit exactly on a
      // rounding boundary where a parallel-order flip changes the 4th
      // decimal (observed once at sf0.1: heaps_k 31.0 vs 30.9999)
      .agg(first("n_docs").as("n_docs"),
        max("cum_n").as("total_tokens"), max("cum_v").as("vocabulary"),
        count(lit(1)).cast("double").as("m"),
        expr("aggregate(array_sort(collect_list(named_struct('k', r," +
          " 'v', ln(CAST(cum_n AS DOUBLE))))), 0D, (a, e) -> a + e.v)").as("sx"),
        expr("aggregate(array_sort(collect_list(named_struct('k', r," +
          " 'v', ln(CAST(cum_v AS DOUBLE))))), 0D, (a, e) -> a + e.v)").as("sy"),
        expr("aggregate(array_sort(collect_list(named_struct('k', r," +
          " 'v', ln(CAST(cum_n AS DOUBLE)) * ln(CAST(cum_v AS DOUBLE))))), 0D," +
          " (a, e) -> a + e.v)").as("sxy"),
        expr("aggregate(array_sort(collect_list(named_struct('k', r," +
          " 'v', ln(CAST(cum_n AS DOUBLE)) * ln(CAST(cum_n AS DOUBLE))))), 0D," +
          " (a, e) -> a + e.v)").as("sxx"))
      .withColumn("beta", (col("m") * col("sxy") - col("sx") * col("sy"))
        / (col("m") * col("sxx") - col("sx") * col("sx")))
      .select(col("n_docs"), col("total_tokens"), col("vocabulary"),
        round(col("beta"), 4).as("heaps_beta"),
        round(exp((col("sy") - col("beta") * col("sx")) / col("m")), 4).as("heaps_k"))
  }

  private val heapsLawSql =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(tk) AS term
       |  FROM (SELECT doc_id, $dToks AS tk FROM documents)),
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM terms GROUP BY 1),
       |firstdoc AS (
       |  SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS nv
       |  FROM (SELECT term, min(doc_id) AS fd FROM terms GROUP BY 1)
       |  GROUP BY 1),
       |ranks AS (
       |  SELECT p.doc_id,
       |    CAST(row_number() OVER (ORDER BY p.doc_id) AS BIGINT) AS r,
       |    CAST(sum(p.nt) OVER (ORDER BY p.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
       |    CAST(sum(coalesce(f.nv, 0)) OVER (ORDER BY p.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_v
       |  FROM perdoc p LEFT JOIN firstdoc f ON p.doc_id = f.doc_id),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM perdoc),
       |pts AS (
       |  SELECT * FROM ranks, nd
       |  WHERE list_contains(list_transform([1,2,3,4,5,6,7,8,9,10],
       |    t -> (n_docs * t) // 10), r)),
       |sums AS (
       |  SELECT any_value(n_docs) AS n_docs,
       |    CAST(max(cum_n) AS BIGINT) AS total_tokens,
       |    CAST(max(cum_v) AS BIGINT) AS vocabulary,
       |    CAST(count(*) AS DOUBLE) AS m,
       |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |      list(ln(CAST(cum_n AS DOUBLE)) ORDER BY r)), (a, v) -> a + v) AS sx,
       |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |      list(ln(CAST(cum_v AS DOUBLE)) ORDER BY r)), (a, v) -> a + v) AS sy,
       |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |      list(ln(CAST(cum_n AS DOUBLE)) * ln(CAST(cum_v AS DOUBLE)) ORDER BY r)),
       |      (a, v) -> a + v) AS sxy,
       |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |      list(ln(CAST(cum_n AS DOUBLE)) * ln(CAST(cum_n AS DOUBLE)) ORDER BY r)),
       |      (a, v) -> a + v) AS sxx
       |  FROM pts),
       |b AS (
       |  SELECT *, (m * sxy - sx * sy) / (m * sxx - sx * sx) AS beta FROM sums)
       |SELECT n_docs, total_tokens, vocabulary,
       |  round(beta, 4) AS heaps_beta,
       |  round(exp((sy - beta * sx) / m), 4) AS heaps_k
       |FROM b""".stripMargin

  // ------------------------------------------------------------------
  // Chao1 species-richness estimate + Good–Turing unseen mass over the
  // corpus vocabulary — "how many token types does the corpus have that
  // we HAVEN'T seen yet, and how much probability mass do they carry?"
  // — the coverage questions behind tokenizer-vocab sizing and corpus-
  // growth planning, answered from the frequency-of-frequencies frame
  // (f₁ singletons, f₂ doubletons). Bias-corrected Chao1 =
  // V + f₁(f₁−1)/(2(f₂+1)); Good–Turing unseen mass P₀ = f₁/N. Scale
  // shape: term-count hash-agg, then a 2-row census — everything after
  // the first agg is constant-size. All inputs exact integers; the two
  // ratios are single divisions.
  // ------------------------------------------------------------------
  def chao1Richness(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(expr(toks)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("f"))
    freq.agg(count(lit(1)).as("vocabulary"), sum("f").as("n_tokens"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("f") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("vocabulary"), col("n_tokens"), col("f1"), col("f2"),
        round(expr("CAST(vocabulary AS DOUBLE)" +
          " + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * CAST(f2 + 1 AS DOUBLE))"), 2)
          .as("chao1"),
        round(expr("CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)"), 6)
          .as("unseen_mass"))
  }

  private val chao1RichnessSql =
    s"""WITH freq AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(tk) AS term
       |    FROM (SELECT $dToks AS tk FROM documents))
       |  GROUP BY term),
       |census AS (
       |  SELECT CAST(count(*) AS BIGINT) AS vocabulary,
       |    CAST(sum(f) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |    CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |  FROM freq)
       |SELECT vocabulary, n_tokens, f1, f2,
       |  round(CAST(vocabulary AS DOUBLE)
       |    + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * CAST(f2 + 1 AS DOUBLE)), 2)
       |    AS chao1,
       |  round(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS unseen_mass
       |FROM census""".stripMargin

  // ------------------------------------------------------------------
  // Jensen–Shannon divergence of each source's unigram distribution vs
  // the REST of the corpus — the symmetric, bounded (≤ ln 2) sibling of
  // [[klDivergence]] and the standard "which source is distributionally
  // alien" ranking for mixture debugging. The join frame only carries
  // terms PRESENT in the source; the rest-only tail needs no
  // enumeration because Σ_{t∉src} q_t = 1 − Σ_{t∈src} q_t, so its JS
  // contribution collapses to ½·ln2·(1−Σq) exactly (each such term has
  // p = 0 ⇒ q·ln(2q/(p+q)) = q·ln 2). Counts are exact integers;
  // the per-term double sum follows the KL precedent.
  // ------------------------------------------------------------------
  def jsDivergence(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("source"), explode(expr(toks)).as("term"))
    val srcCounts = terms.groupBy("source", "term").agg(count(lit(1)).as("c_src"))
    val corpusCounts = srcCounts.groupBy("term").agg(sum("c_src").as("c_all"))
    val srcTotals = srcCounts.groupBy("source").agg(sum("c_src").as("n_src"))
    val total = corpusCounts.agg(sum("c_all").as("n_all"))
    srcCounts
      .join(corpusCounts, "term")
      .join(broadcast(srcTotals), "source")
      .crossJoin(broadcast(total))
      .withColumn("p", expr("CAST(c_src AS DOUBLE) / CAST(n_src AS DOUBLE)"))
      .withColumn("q", expr(
        "CAST(c_all - c_src AS DOUBLE) / CAST(n_all - n_src AS DOUBLE)"))
      .groupBy("source")
      .agg(max("n_src").as("n_tokens"),
        sum(expr("p * ln(2.0 * p / (p + q))" +
          " + CASE WHEN q > 0.0 THEN q * ln(2.0 * q / (p + q)) ELSE 0.0 END"))
          .as("s_pq"),
        sum("q").as("qcov"))
      .select(col("source"), col("n_tokens"),
        round(expr("0.5 * s_pq + 0.5 * 0.6931471805599453 * (1.0 - qcov)"), 4)
          .as("js_nats"))
      .orderBy("source")
  }

  private val jsDivergenceSql =
    s"""WITH t AS (
       |  SELECT source, unnest($dToks) AS term FROM documents
       |), sc AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS c_src FROM t GROUP BY 1, 2
       |), cc AS (
       |  SELECT term, CAST(sum(c_src) AS BIGINT) AS c_all FROM sc GROUP BY 1
       |), st AS (
       |  SELECT source, CAST(sum(c_src) AS BIGINT) AS n_src FROM sc GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(c_all) AS BIGINT) AS n_all FROM cc
       |), pq AS (
       |  SELECT sc.source, st.n_src,
       |    CAST(c_src AS DOUBLE) / CAST(n_src AS DOUBLE) AS p,
       |    CAST(c_all - c_src AS DOUBLE) / CAST(n_all - n_src AS DOUBLE) AS q
       |  FROM sc JOIN cc USING (term) JOIN st USING (source), tot
       |), agg AS (
       |  SELECT source, max(n_src) AS n_tokens,
       |    sum(p * ln(2.0 * p / (p + q))
       |      + CASE WHEN q > 0.0 THEN q * ln(2.0 * q / (p + q)) ELSE 0.0 END) AS s_pq,
       |    sum(q) AS qcov
       |  FROM pq GROUP BY source)
       |SELECT source, n_tokens,
       |  round(0.5 * s_pq + 0.5 * 0.6931471805599453 * (1.0 - qcov), 4) AS js_nats
       |FROM agg ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // Mutual information between source and document-length bucket
  // (n_chars DIV 100): "does knowing the source tell you the length
  // distribution?" — the dependence number behind stratified sampling
  // decisions (agg_conditional_entropy gives H(Y|X) for one pair; MI is
  // its symmetric, normalizable companion: NMI = MI/min(H(X), H(Y)) in
  // [0, 1]). One (source × bucket) hash-agg is the only corpus-sized
  // pass; the per-cell ln work and the three ORDERED folds walk the
  // ≤ |sources|·|buckets| collapsed grid.
  // ------------------------------------------------------------------
  def mutualInformation(s: SparkSession, dir: String): DataFrame = {
    def fold(v: String, key: String) =
      s"""aggregate(array_sort(collect_list(named_struct('k', $key, 'v', $v))),
         |  0D, (a, e) -> a + e.v)""".stripMargin
    val cells = Tables.documents(s, dir)
      .groupBy(col("source"), expr("n_chars DIV 100").as("lb"))
      .agg(count(lit(1)).as("o"))
    val joint = cells
      .withColumn("rx", sum("o").over(Window.partitionBy("source")))
      .withColumn("cy", sum("o").over(Window.partitionBy("lb")))
      .agg(sum("o").as("n"),
        countDistinct("source").as("nx"), countDistinct("lb").as("ny"),
        expr(fold(
          "CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE) / (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)))",
          "concat(source, '|', CAST(lb AS STRING))")).as("oln"))
    // margin entropies for the normalization: H = ln N − Σ m·ln m / N
    val hx = cells.groupBy("source").agg(sum("o").as("m"))
      .agg(expr(fold("CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE))", "source")).as("sxln"))
    val hy = cells.groupBy("lb").agg(sum("o").as("m"))
      .agg(expr(fold("CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE))", "lb")).as("syln"))
    joint.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .withColumn("lnn", log(col("n").cast("double")))
      .withColumn("mi", col("oln") / col("n") + col("lnn"))
      .withColumn("hxv", col("lnn") - col("sxln") / col("n"))
      .withColumn("hyv", col("lnn") - col("syln") / col("n"))
      .select(col("n").as("n_docs"), col("nx").as("n_sources"),
        col("ny").as("n_len_buckets"),
        round(col("mi"), 6).as("mi_nats"),
        round(col("mi") / least(col("hxv"), col("hyv")), 6).as("nmi"))
  }

  private val mutualInformationSql =
    """WITH cells AS (
      |  SELECT source, n_chars // 100 AS lb, CAST(count(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |g AS (
      |  SELECT source, lb, o,
      |    sum(o) OVER (PARTITION BY source) AS rx,
      |    sum(o) OVER (PARTITION BY lb) AS cy
      |  FROM cells),
      |joint AS (
      |  SELECT CAST(sum(o) AS BIGINT) AS n,
      |    CAST(count(DISTINCT source) AS BIGINT) AS nx,
      |    CAST(count(DISTINCT lb) AS BIGINT) AS ny,
      |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |      list(CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE)
      |        / (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)))
      |        ORDER BY source || '|' || CAST(lb AS VARCHAR))),
      |      (a, v) -> a + v) AS oln
      |  FROM g),
      |hx AS (
      |  SELECT list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |    list(CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE)) ORDER BY source)),
      |    (a, v) -> a + v) AS sxln
      |  FROM (SELECT source, CAST(sum(o) AS BIGINT) AS m FROM cells GROUP BY 1)),
      |hy AS (
      |  SELECT list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |    list(CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE)) ORDER BY lb)),
      |    (a, v) -> a + v) AS syln
      |  FROM (SELECT lb, CAST(sum(o) AS BIGINT) AS m FROM cells GROUP BY 1)),
      |f AS (
      |  SELECT n, nx, ny,
      |    oln / n + ln(CAST(n AS DOUBLE)) AS mi,
      |    ln(CAST(n AS DOUBLE)) - sxln / n AS hxv,
      |    ln(CAST(n AS DOUBLE)) - syln / n AS hyv
      |  FROM joint, hx, hy)
      |SELECT n AS n_docs, nx AS n_sources, ny AS n_len_buckets,
      |  round(mi, 6) AS mi_nats,
      |  round(mi / least(hxv, hyv), 6) AS nmi
      |FROM f""".stripMargin

  /** TextRank keyphrase extraction: PageRank over the word co-occurrence
    * graph (adjacent-token bigrams across the corpus, undirected,
    * count-weighted), 4 damped iterations, top-25 keywords — the
    * graph-based unsupervised keyword ranking of Mihalcea & Tarau's
    * TextRank, corpus-level. Scale shape: the bigram census is one
    * corpus-linear explode + hash-agg; everything after runs on the
    * VOCABULARY-sized graph (nodes = distinct words, edges = distinct
    * adjacent pairs), so the 4 iterations are vocabulary-keyed joins that
    * never touch the corpus again. Determinism: same recipe as
    * curation_host_pagerank — uniform 1/N init, 0.15/N teleport, the
    * transition p = w/out_w from exact integer counts, round(pr, 6), and
    * ties in the final ranking break on the word; both engines replay the
    * identical 4-step unrolled recursion.
    */
  def keyphraseTextrank(s: SparkSession, dir: String): DataFrame = {
    val bigrams = Tables.documents(s, dir)
      .withColumn("tk", expr(toks))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |  i -> named_struct('u', element_at(tk, i), 'v', element_at(tk, i + 1)))""".stripMargin))
        .as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .filter(col("u") =!= col("v")) // self-loops carry no ranking signal
    // undirected: each adjacency counts in both directions — symmetrized
    // AFTER the per-(u, v) count (optimization r17, guide §2.3): the old
    // union of the corpus-sized bigram explode with its mirror ran the
    // tokenize + explode pass TWICE; counting the directed instances once
    // and mirroring the vocabulary²-bounded count frame computes the same
    // w(u, v) = c(u→v) + c(v→u) with a single corpus pass.
    val dirW = bigrams.groupBy("u", "v").agg(count(lit(1)).as("w"))
    val edges = dirW
      .unionByName(dirW.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy("u", "v").agg(sum("w").as("w"))
    val outdeg = edges.groupBy("u").agg(sum("w").as("out_w"))
    // e and nodes feed every one of the 4 unrolled iterations; a cache
    // computes them once at runtime but leaves the FULL corpus lineage in
    // the plan, where the unrolled pyramid becomes a 176-Exchange tree
    // (optimization r18, guide §3.3 plan-size): materializing truncates
    // the lineage — each iteration now plans over a leaf scan. Size-gated
    // like every corpus-derived frame (both are vocabulary-bounded, but
    // vocabulary grows with the corpus).
    val e = Materialize.gated(Tables.documents(s, dir),
      edges.join(outdeg, "u")
        .select(col("u"), col("v"), (col("w") / col("out_w").cast("double")).as("p")),
      "textrank-e")
    val nodes = Materialize.gated(Tables.documents(s, dir),
      e.select(col("u").as("word")).distinct(), "textrank-nodes")
    val n = nodes.agg(count(lit(1)).cast("double").as("n"))
    // (A broadcast-ranks/broadcast-inflow iteration variant was tried in
    // the r17 optimization round and measured SLOWER: each broadcast must
    // eagerly materialize a frame whose lineage chains through every
    // prior iteration, so the broadcast barriers serialize exactly the
    // stages the shuffle pipeline overlaps.)
    var ranks = nodes.crossJoin(broadcast(n))
      .select(col("word"), (lit(1.0) / col("n")).as("pr"), col("n"))
    for (_ <- 1 to 4) {
      val inflow = e.join(ranks, e("u") === ranks("word"))
        .select(col("v"), (col("pr") * col("p")).as("c"))
        .groupBy("v").agg(sum("c").as("inflow"))
      ranks = nodes.crossJoin(broadcast(n))
        .join(inflow, nodes("word") === inflow("v"), "left")
        .select(col("word"),
          (lit(0.15) / col("n") + lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("pr"),
          col("n"))
    }
    val ranked = ranks
      .select(col("word"), round(col("pr"), 6).as("textrank"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("textrank").desc, col("word").asc)).cast("int"))
      .filter(col("rank") <= 25)
      .select("rank", "word", "textrank")
      .orderBy("rank")
    ranked
  }

  private val keyphraseTextrankSql = {
    val iter = (i: Int) =>
      s"""r${i + 1} AS (
         |  SELECT nd.word, 0.15 / nd.n + 0.85 * coalesce(sum(r.pr * e.p), 0) AS pr
         |  FROM (SELECT word, n FROM nodes CROSS JOIN nn) nd
         |  LEFT JOIN e ON e.v = nd.word
         |  LEFT JOIN r$i r ON r.word = e.u
         |  GROUP BY 1, nd.n)""".stripMargin
    s"""WITH big AS (
       |  SELECT p.u AS u, p.v AS v FROM (
       |    SELECT unnest(list_transform(range(1, len(tk)),
       |      i -> struct_pack(u := tk[i], v := tk[i + 1]))) AS p
       |    FROM (SELECT $dToks AS tk FROM documents)
       |    WHERE len(tk) >= 2)
       |  WHERE p.u <> p.v
       |), edges AS (
       |  SELECT u, v, count(*) AS w FROM (
       |    SELECT u, v FROM big UNION ALL SELECT v, u FROM big)
       |  GROUP BY 1, 2
       |), outdeg AS (
       |  SELECT u, sum(w) AS out_w FROM edges GROUP BY 1
       |), e AS (
       |  SELECT edges.u, v, w / CAST(out_w AS DOUBLE) AS p
       |  FROM edges JOIN outdeg USING (u)
       |), nodes AS (
       |  SELECT DISTINCT u AS word FROM edges
       |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT word, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
       |${(0 until 4).map(iter).mkString(",\n")},
       |ranked AS (
       |  SELECT word, round(pr, 6) AS textrank,
       |    CAST(row_number() OVER (ORDER BY round(pr, 6) DESC, word ASC) AS INT) AS rank
       |  FROM r4)
       |SELECT rank, word, textrank FROM ranked WHERE rank <= 25 ORDER BY rank""".stripMargin
  }

  /** Interpolated Kneser–Ney bigram LM scoring — the smoothing the
    * production LM-quality filters (CCNet-style) actually use, where
    * [[bigramLogprob]] is the plain add-k baseline: absolute discount
    * D = 0.75 off every seen bigram, mass redistributed through the
    * CONTINUATION probability (how many distinct left-contexts a word
    * follows — "Francisco" is frequent but only ever follows "San", so
    * its continuation mass is tiny). Per doc: Σ ln P_KN(v|u) over its
    * bigrams plus the per-bigram mean. Determinism follows the
    * [[bigramLogprob]] recipe: all count tables are exact integers, each
    * bigram's log-prob is one scalar expression over those integers, and
    * per-doc sums of ~tens of such doubles round at 4 decimals — the
    * cross-engine float slack (ulp-level libm differences in ln) is nine
    * orders of magnitude below the rounding grid. (An earlier micro-nat
    * quantization was REMOVED: rounding ln to integer micros put a hard
    * decision boundary at the same 1e-6 scale the output rounding reads,
    * and a single libm ulp flipped a micro at sf0.1.) Scale
    * shape: count tables are vocabulary²-bounded hash-aggs; doc scoring
    * is one corpus-linear explode + a keyed join on the bigram + one
    * doc-keyed integer aggregate.
    */
  def kneserNeyLogprob(s: SparkSession, dir: String): DataFrame = {
    // per-doc bigram MULTIPLICITIES are counted in-row (optimization r17,
    // guide §2.4): run-length boundaries over the sorted per-doc bigram
    // array replace the corpus-sized explode, so both the count-table
    // build and the scoring join move (doc, bigram, c) TYPE rows, never
    // per-instance rows. Per-doc Σ lp becomes Σ c·lp — identical up to
    // double ulps, nine orders below the 4-dp rounding grid (the module's
    // established cross-engine float-slack argument).
    val bigc = Tables.documents(s, dir)
      .withColumn("tk", expr(toks))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), expr(
        """array_sort(transform(sequence(1, size(tk) - 1),
          |  i -> named_struct('u', element_at(tk, i), 'v', element_at(tk, i + 1))))""".stripMargin)
        .as("srt"))
      .withColumn("bs", expr(SharedExprs.runLengthBounds("srt")))
      .select(col("doc_id"), explode(expr(
          SharedExprs.runLengthCounts("srt", "bs", "g", "c"))).as("p"))
      .select(col("doc_id"), col("p.g.u").as("u"), col("p.g.v").as("v"),
        col("p.c").as("c"))
    val cb = bigc.groupBy("u", "v").agg(sum("c").as("c_uv"))
    val cu = cb.groupBy("u")
      .agg(sum("c_uv").as("c_u"), count(lit(1)).as("n_follow"))
    val cont = cb.groupBy("v").agg(count(lit(1)).as("n_prec"))
    val tot = cb.agg(count(lit(1)).as("t_types"))
    val lp = cb.join(cu, "u").join(cont, "v").crossJoin(broadcast(tot))
      .withColumn("lp", expr(
        """ln(
          |  (CAST(c_uv AS DOUBLE) - 0.75) / CAST(c_u AS DOUBLE)
          |  + 0.75 * (CAST(n_follow AS DOUBLE) / CAST(c_u AS DOUBLE))
          |    * (CAST(n_prec AS DOUBLE) / CAST(t_types AS DOUBLE))
          |)""".stripMargin))
      .select("u", "v", "lp")
    bigc.join(lp, Seq("u", "v"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), sum(col("lp") * col("c")).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_lp"), 4).as("kn_logprob"),
        round(col("sum_lp") / col("n_bigrams").cast("double"), 4).as("kn_per_bigram"))
      .orderBy("doc_id")
  }

  private val kneserNeyLogprobSql =
    s"""WITH big AS (
       |  SELECT doc_id, p.u AS u, p.v AS v FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |      i -> struct_pack(u := tk[i], v := tk[i + 1]))) AS p
       |    FROM (SELECT doc_id, $dToks AS tk FROM documents)
       |    WHERE len(tk) >= 2)
       |), cb AS (
       |  SELECT u, v, CAST(count(*) AS BIGINT) AS c_uv FROM big GROUP BY 1, 2
       |), cu AS (
       |  SELECT u, CAST(sum(c_uv) AS BIGINT) AS c_u,
       |    CAST(count(*) AS BIGINT) AS n_follow FROM cb GROUP BY 1
       |), cont AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS n_prec FROM cb GROUP BY 1
       |), tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS t_types FROM cb
       |), lp AS (
       |  SELECT u, v,
       |    ln(
       |      (CAST(c_uv AS DOUBLE) - 0.75) / CAST(c_u AS DOUBLE)
       |      + 0.75 * (CAST(n_follow AS DOUBLE) / CAST(c_u AS DOUBLE))
       |        * (CAST(n_prec AS DOUBLE) / CAST(t_types AS DOUBLE))
       |    ) AS lp
       |  FROM cb JOIN cu USING (u) JOIN cont USING (v) CROSS JOIN tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  round(sum(lp), 4) AS kn_logprob,
       |  round(sum(lp) / CAST(count(*) AS DOUBLE), 4) AS kn_per_bigram
       |FROM big JOIN lp USING (u, v)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Term burstiness (Church–Gale): how CLUMPED each term's occurrences
    * are across documents — cf/df (mean occurrences per containing doc)
    * and the Fano factor (variance/mean of per-doc counts over containing
    * docs). Content words burst (a doc that mentions a topic mentions it
    * repeatedly, Fano > 1); function words spread Poisson-like (Fano ≈ 1)
    * — the signal term-weighting and stopword induction read. Top-25
    * terms by collection frequency. Determinism: per-term (df, Σc, Σc²)
    * are exact integer sums; mean and Fano are single scalar expressions
    * over those integers, rounded at 4. Scale shape: one corpus-linear
    * explode + per-(doc, term) count, one term-keyed rollup — map-side
    * combinable, vocabulary-sized output.
    */
  def termBurstiness(s: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(toks)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(desc("cf"), asc("term"))
    perDoc.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("c").as("cf"),
        sum(col("c") * col("c")).as("cf2"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 25)
      .select(col("rank"), col("term"), col("df"), col("cf"),
        round(col("cf").cast("double") / col("df").cast("double"), 4)
          .as("burstiness"),
        // Fano = population variance / mean over the df containing docs:
        // ((Σc² − (Σc)²/df)/df) / (Σc/df)  =  Σc²/Σc − Σc/df
        round(col("cf2").cast("double") / col("cf").cast("double") -
          col("cf").cast("double") / col("df").cast("double"), 4).as("fano"))
      .orderBy("rank")
  }

  private val termBurstinessSql =
    s"""WITH pd AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT doc_id, unnest($dToks) AS term FROM documents)
       |  GROUP BY 1, 2
       |), t AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df,
       |    CAST(sum(c) AS BIGINT) AS cf, CAST(sum(c * c) AS BIGINT) AS cf2
       |  FROM pd GROUP BY 1
       |), ranked AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY cf DESC, term ASC) AS INT) AS rank
       |  FROM t)
       |SELECT rank, term, df, cf,
       |  round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 4) AS burstiness,
       |  round(CAST(cf2 AS DOUBLE) / CAST(cf AS DOUBLE)
       |    - CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 4) AS fano
       |FROM ranked WHERE rank <= 25 ORDER BY rank""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("text_term_burstiness", termBurstiness, Some(termBurstinessSql)),
    QueryDef("text_kneser_ney_logprob", kneserNeyLogprob, Some(kneserNeyLogprobSql)),
    QueryDef("text_keyphrase_textrank", keyphraseTextrank, Some(keyphraseTextrankSql)),
    QueryDef("text_mutual_information", mutualInformation, Some(mutualInformationSql)),
    QueryDef("text_js_divergence", jsDivergence, Some(jsDivergenceSql)),
    QueryDef("text_chao1_richness", chao1Richness, Some(chao1RichnessSql)),
    QueryDef("text_heaps_law", heapsLaw, Some(heapsLawSql)),
    QueryDef("text_rake_keywords", rakeKeywords, Some(rakeKeywordsSql)),
    QueryDef("text_readability", readability, Some(readabilitySql)),
    QueryDef("text_kl_divergence", klDivergence, Some(klDivergenceSql)),
    QueryDef("text_mattr", mattr, Some(mattrSql)),
    QueryDef("text_zipf_fit", zipfFit, Some(zipfFitSql)),
    QueryDef("text_dataset_card", datasetCard, Some(datasetCardSql)),
    QueryDef("pipeline_curation", curationPipeline, Some(curationPipelineSql)),
    QueryDef("text_bigram_logprob", bigramLogprob, Some(bigramLogprobSql)),
    QueryDef("text_gopher_repetition", gopherRepetition, Some(gopherRepetitionSql)),
    QueryDef("text_moore_lewis", mooreLewis, Some(mooreLewisSql)),
    QueryDef("text_unigram_logprob", unigramLogprob, Some(unigramLogprobSql)),
    QueryDef("text_char_entropy", charEntropy, Some(charEntropySql)),
    QueryDef("text_ngram_profile", ngramProfile, Some(ngramProfileSql)),
    QueryDef("text_length_histogram", lengthHistogram, Some(lengthHistogramSql)),
    QueryDef("text_quality_flags", qualityFlags, Some(qualityFlagsSql)),
    QueryDef("text_stats", textStats, Some(textStatsSql)),
    QueryDef("text_langid", langId, Some(langIdSql)),
    QueryDef("text_langid_confusion", langIdConfusion, Some(langIdConfusionSql)),
    QueryDef("text_token_count", tokenCount, Some(tokenCountSql)),
    QueryDef("text_fingerprint", fingerprint, Some(fingerprintSql)),
    QueryDef("text_repetition", repetition, Some(repetitionSql)),
    QueryDef("text_tfidf_topterms", tfidfTopTerms, Some(tfidfTopTermsSql))
  )
}
