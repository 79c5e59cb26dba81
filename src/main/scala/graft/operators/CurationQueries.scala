package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond the round-1 set (SURVEY.md §2
  * LLM extensions): context-window chunking, deterministic train/val/test
  * splitting, boilerplate-shingle flagging, token-budget packing, and
  * benchmark-contamination detection. All are oracle-checked; every pair
  * generator is keyed (shingle inverted index), never all-pairs.
  */
object CurationQueries extends QueryModule {

  // array_remove(...,'') over a codegen'd split — value-identical to the
  // interpreted-HOF form filter(split(...), t -> t <> '') the oracles mirror
  private val toks = "array_remove(split(text, ' ', -1), '')"
  private val dToks = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** Context-window chunking: 50-token windows with stride 40 (10-token
    * overlap) — the standard pretraining tokenize-and-chunk step. Pure
    * per-row generator (explode of a sequence), embarrassingly parallel.
    */
  def chunking(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("tk", expr(toks))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"), col("tk"),
        explode(expr("sequence(0, CAST((size(tk) - 1) div 40 AS INT))")).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id").cast("int").as("chunk_id"),
        expr("CAST(1 + 40 * chunk_id AS INT)").as("start_tok"),
        expr("CAST(least(50, size(tk) - 40 * chunk_id) AS INT)").as("n_chunk_tokens"),
        expr("element_at(tk, 1 + 40 * chunk_id)").as("head_token"),
        expr("element_at(tk, 40 * chunk_id + least(50, size(tk) - 40 * chunk_id))")
          .as("tail_token"))
      .orderBy("doc_id", "chunk_id")

  private val chunkingSql =
    s"""WITH tks AS (
       |  SELECT doc_id, $dToks AS tk FROM documents WHERE len($dToks) >= 1
       |), chunks AS (
       |  SELECT doc_id, tk, unnest(range(0, (len(tk) - 1) // 40 + 1)) AS chunk_id FROM tks
       |)
       |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |  CAST(1 + 40 * chunk_id AS INT) AS start_tok,
       |  CAST(least(50, len(tk) - 40 * chunk_id) AS INT) AS n_chunk_tokens,
       |  tk[CAST(1 + 40 * chunk_id AS INT)] AS head_token,
       |  tk[CAST(40 * chunk_id + least(50, len(tk) - 40 * chunk_id) AS INT)] AS tail_token
       |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin

  /** Deterministic hash-based train/val/test split (~80/10/10): the bucket
    * is the first md5 byte of the doc id, so membership is stable across
    * runs, engines and cluster sizes — the property that matters when the
    * corpus is rewritten incrementally. Shuffle-free per-row projection.
    */
  def trainSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 2), 16, 10) AS INT)"))
      .withColumn("split", expr(
        "CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val' ELSE 'test' END"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"),
        sum(expr(s"size($toks)")).as("n_tokens"))
      .orderBy("split")

  private val trainSplitSql =
    s"""SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id,
       |  CAST(sum(len($dToks)) AS BIGINT) AS n_tokens
       |FROM (
       |  SELECT *, CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val'
       |    ELSE 'test' END AS split
       |  FROM (SELECT *, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT)
       |          AS bucket FROM documents))
       |GROUP BY split ORDER BY split""".stripMargin

  /** Boilerplate flagging: a 4-gram shingle appearing in more than 5
    * documents corpus-wide is boilerplate; documents whose shingles are
    * majority-boilerplate get dropped (the CCNet/Gopher repetition gate at
    * the corpus level). One hash shuffle on the shingle key.
    */
  def boilerplate(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .withColumn("tk", expr(toks))
      .filter(size(col("tk")) >= 4)
      .select(col("doc_id"),
        explode(expr("word_shingles(tk, 4)")).as("shingle"))
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") > 5, 1)).as("n_boilerplate"))
      .withColumn("boiler_ratio",
        round(col("n_boilerplate").cast("double") / col("n_shingles"), 4))
      .withColumn("keep", col("boiler_ratio") <= 0.5)
      .orderBy("doc_id")
  }

  private val boilerplateSql =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 2),
       |    i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2], tk[i + 3])))) AS shingle
       |  FROM (SELECT doc_id, $dToks AS tk FROM documents)
       |  WHERE len(tk) >= 4
       |), flagged AS (
       |  SELECT doc_id, count(*) OVER (PARTITION BY shingle) AS df FROM sh
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(count(CASE WHEN df > 5 THEN 1 END) AS BIGINT) AS n_boilerplate,
       |  round(CAST(count(CASE WHEN df > 5 THEN 1 END) AS DOUBLE) / count(*), 4)
       |    AS boiler_ratio,
       |  (round(CAST(count(CASE WHEN df > 5 THEN 1 END) AS DOUBLE) / count(*), 4) <= 0.5)
       |    AS keep
       |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Token-budget packing: documents in doc_id order are packed greedily
    * into 2048-token context windows (a document goes to the pack where its
    * running-total START falls — the standard streaming approximation). The
    * global running sum is the DISTRIBUTED two-phase prefix sum
    * ([[DistributedOrder.globalCumsum]]): range-partition on doc_id,
    * per-partition cumsum, broadcast exclusive offsets — identical values
    * to a global-order window with no single-partition stage, so the same
    * plan packs 100 TB.
    */
  def tokenPacking(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    DistributedOrder.globalCumsum(docs,
        docs.withColumn("n_tokens", expr(s"size($toks)").cast("long")),
        col("n_tokens"), "cum", col("doc_id"))
      .withColumn("pack_id", expr("CAST((cum - n_tokens) div 2048 AS INT)"))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("pack_id")
  }

  private val tokenPackingSql =
    s"""WITH cum AS (
       |  SELECT doc_id, CAST(len($dToks) AS BIGINT) AS n_tokens,
       |    sum(CAST(len($dToks) AS BIGINT))
       |      OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM documents
       |)
       |SELECT CAST((cum - n_tokens) // 2048 AS INT) AS pack_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM cum GROUP BY 1 ORDER BY pack_id""".stripMargin

  /** Benchmark-contamination check: treat every 97th document as the held-
    * out eval set; a training document is contaminated if it shares a
    * 3-gram with any eval document (n is a dial — real corpora use longer
    * n-grams; the fixture's tiny vocabulary needs n=3 to exercise the
    * operator). The join is an inverted-index equi-join on the shingle
    * (distinct eval shingles broadcast — the eval set is always tiny
    * relative to the corpus), never a cross product.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    def shingles3(df: DataFrame): DataFrame = df
      .withColumn("tk", expr(toks))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        explode(expr("word_shingles(tk, 3)")).as("shingle"))
    val docs = Tables.documents(s, dir)
    val evalSh = shingles3(docs.filter(col("doc_id") % 97 === 0))
      .select(col("doc_id").as("eval_id"), col("shingle"))
    val trainSh = shingles3(docs.filter(col("doc_id") % 97 =!= 0))
    trainSh.join(broadcast(evalSh), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"),
        countDistinct("eval_id").as("n_eval_docs"))
      .orderBy("doc_id")
  }

  private val contaminationSql =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])))) AS shingle
       |  FROM (SELECT doc_id, $dToks AS tk FROM documents)
       |  WHERE len(tk) >= 3
       |)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles,
       |  CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs
       |FROM sh t JOIN sh e ON t.shingle = e.shingle
       |  AND e.doc_id % 97 = 0 AND t.doc_id % 97 <> 0
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Deterministic stratified sampling: each language stratum keeps rows
    * whose salted-md5 bucket falls under a per-stratum threshold (x/256) —
    * the mixture-rebalance step of corpus curation. Membership is a pure
    * per-row hash projection: stable across runs, engines, cluster sizes,
    * and incremental corpus rewrites (no RNG, no global state). The salt
    * decorrelates it from [[trainSplit]]'s unsalted buckets — otherwise
    * "sampled" and "train" would be the same coin flip.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(concat('strat', CAST(doc_id AS STRING)) AS BINARY)), 1, 2), 16, 10) AS INT)"))
      .withColumn("threshold", expr(
        "CASE lang WHEN 'en' THEN 230 WHEN 'de' THEN 192 WHEN 'fr' THEN 153 " +
          "WHEN 'es' THEN 128 WHEN 'zh' THEN 102 ELSE 64 END"))
      .withColumn("keep", col("bucket") < col("threshold"))
      .groupBy("lang")
      .agg(
        max("threshold").as("threshold"),
        count(lit(1)).as("n_total"),
        count(when(col("keep"), 1)).as("n_kept"),
        min(when(col("keep"), col("doc_id"))).as("min_kept_id"),
        max(when(col("keep"), col("doc_id"))).as("max_kept_id"),
        sum(when(col("keep"), expr(s"size($toks)").cast("long")).otherwise(lit(0L)))
          .as("kept_tokens"))
      .withColumn("achieved_rate",
        round(col("n_kept").cast("double") / col("n_total"), 4))
      .orderBy("lang")

  private val stratifiedSampleSql =
    s"""WITH flagged AS (
       |  SELECT lang, doc_id, CAST(len($dToks) AS BIGINT) AS n_tokens,
       |    CASE lang WHEN 'en' THEN 230 WHEN 'de' THEN 192 WHEN 'fr' THEN 153
       |      WHEN 'es' THEN 128 WHEN 'zh' THEN 102 ELSE 64 END AS threshold,
       |    CAST(('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 2)) AS INT)
       |      AS bucket
       |  FROM documents
       |)
       |SELECT lang, max(threshold) AS threshold,
       |  CAST(count(*) AS BIGINT) AS n_total,
       |  CAST(count(CASE WHEN bucket < threshold THEN 1 END) AS BIGINT) AS n_kept,
       |  min(CASE WHEN bucket < threshold THEN doc_id END) AS min_kept_id,
       |  max(CASE WHEN bucket < threshold THEN doc_id END) AS max_kept_id,
       |  CAST(sum(CASE WHEN bucket < threshold THEN n_tokens ELSE 0 END) AS BIGINT)
       |    AS kept_tokens,
       |  round(CAST(count(CASE WHEN bucket < threshold THEN 1 END) AS DOUBLE)
       |    / count(*), 4) AS achieved_rate
       |FROM flagged GROUP BY lang ORDER BY lang""".stripMargin

  // One pattern constant per PII class, shared verbatim by the Spark query
  // (Java regex) and the DuckDB oracle (RE2) — both engines treat \d, \b and
  // {m,n} identically over ASCII, which the fixture invariant guarantees.
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipPat = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  private val phonePat = "\\+1-555-\\d{4}"

  /** PII redaction: count and mask emails / IPv4s / phone numbers. The
    * fixture text is digit- and @-free (asserted in OperatorSmokeSpec), so
    * the query first APPENDS pseudo-PII derived deterministically from
    * doc_id — same derivation in the oracle — then redacts it; the md5 of
    * the redacted text pins byte-exact replacement semantics, not just
    * match counts. Pure per-row projection, shuffle-free; the regexes are
    * anchored word-level so Java and RE2 agree.
    */
  def piiRedaction(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("text2", format_string(
        "%s contact u%d@example.com or u%d@mail.test from 10.%d.0.%d call +1-555-%04d",
        col("text"), col("doc_id"), col("doc_id"),
        col("doc_id") % 200, col("doc_id") % 250, col("doc_id") % 10000))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text2"), emailPat, "<EMAIL>"),
        ipPat, "<IP>"),
      phonePat, "<PHONE>")
    docs.select(
        col("doc_id"),
        regexp_count(col("text2"), lit(emailPat)).cast("int").as("n_emails"),
        regexp_count(col("text2"), lit(ipPat)).cast("int").as("n_ips"),
        regexp_count(col("text2"), lit(phonePat)).cast("int").as("n_phones"),
        length(redacted).cast("int").as("red_len"),
        md5(redacted.cast("binary")).as("red_md5"))
      .orderBy("doc_id")
  }

  private val piiRedactionSql =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    printf('%s contact u%d@example.com or u%d@mail.test from 10.%d.0.%d call +1-555-%04d',
       |      text, doc_id, doc_id, doc_id % 200, doc_id % 250, doc_id % 10000) AS text2
       |  FROM documents
       |), red AS (
       |  SELECT doc_id, text2,
       |    regexp_replace(regexp_replace(regexp_replace(text2,
       |      '$emailPat', '<EMAIL>', 'g'),
       |      '$ipPat', '<IP>', 'g'),
       |      '$phonePat', '<PHONE>', 'g') AS redacted
       |  FROM aug
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text2, '$emailPat')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(text2, '$ipPat')) AS INT) AS n_ips,
       |  CAST(len(regexp_extract_all(text2, '$phonePat')) AS INT) AS n_phones,
       |  CAST(length(redacted) AS INT) AS red_len,
       |  md5(redacted) AS red_md5
       |FROM red ORDER BY doc_id""".stripMargin

  /** Mixture planning: per-source sampling rates that equalize the token
    * contribution of each source (the "data mixture" step before training).
    * Planned tokens use INTEGER arithmetic (min(src, total div n)) so the
    * plan is exactly reproducible; only the reported rate is a rounded
    * double. Two tiny aggregations; the totals side is a broadcast scalar.
    */
  def mixturePlan(s: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr(s"size($toks)").cast("long")).as("src_tokens"))
    val totals = perSrc.agg(
      sum("src_tokens").as("total_tokens"), count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(totals))
      .withColumn("target_tokens", expr("total_tokens div n_sources"))
      .withColumn("planned_tokens", least(col("src_tokens"), col("target_tokens")))
      .withColumn("sample_rate",
        round(col("planned_tokens").cast("double") / col("src_tokens"), 4))
      .select("source", "n_docs", "src_tokens", "target_tokens",
        "planned_tokens", "sample_rate")
      .orderBy("source")
  }

  private val mixturePlanSql =
    s"""WITH per_src AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len($dToks)) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY source
       |), tot AS (
       |  SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
       |    CAST(count(*) AS BIGINT) AS n_sources
       |  FROM per_src
       |)
       |SELECT source, n_docs, src_tokens,
       |  total_tokens // n_sources AS target_tokens,
       |  least(src_tokens, total_tokens // n_sources) AS planned_tokens,
       |  round(CAST(least(src_tokens, total_tokens // n_sources) AS DOUBLE)
       |    / src_tokens, 4) AS sample_rate
       |FROM per_src CROSS JOIN tot ORDER BY source""".stripMargin

  /** Tukey-fence outlier gate: per-language 1.5×IQR fences on token count,
    * flagging freak-length documents (the standard pre-training length
    * filter, computed from the corpus itself instead of fixed thresholds).
    * Exact interpolating percentiles per group (bounded: one buffer per
    * language, the t-digest path covers unbounded-cardinality keys); the
    * tiny fence table re-joins broadcast.
    */
  def outlierGate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("lang"), expr(s"CAST(size($toks) AS DOUBLE)").as("nt"))
    val fences = d.groupBy("lang")
      .agg(expr("percentile(nt, array(0.25, 0.75))").as("q"))
      .select(col("lang"),
        (element_at(col("q"), 1) - lit(1.5) * (element_at(col("q"), 2) - element_at(col("q"), 1)))
          .as("lo"),
        (element_at(col("q"), 2) + lit(1.5) * (element_at(col("q"), 2) - element_at(col("q"), 1)))
          .as("hi"))
    d.join(broadcast(fences), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("nt") < col("lo") || col("nt") > col("hi"), 1)).as("n_outliers"),
        round(max("lo"), 4).as("lo_fence"), round(max("hi"), 4).as("hi_fence"))
      .orderBy("lang")
  }

  private val outlierGateSql =
    s"""WITH d AS (
       |  SELECT lang, CAST(len($dToks) AS DOUBLE) AS nt FROM documents
       |), f AS (
       |  SELECT lang,
       |    quantile_cont(nt, 0.25) - 1.5 * (quantile_cont(nt, 0.75) - quantile_cont(nt, 0.25)) AS lo,
       |    quantile_cont(nt, 0.75) + 1.5 * (quantile_cont(nt, 0.75) - quantile_cont(nt, 0.25)) AS hi
       |  FROM d GROUP BY lang
       |)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(CASE WHEN nt < lo OR nt > hi THEN 1 END) AS BIGINT) AS n_outliers,
       |  round(max(lo), 4) AS lo_fence, round(max(hi), 4) AS hi_fence
       |FROM d JOIN f USING (lang) GROUP BY lang ORDER BY lang""".stripMargin

  /** Deterministic pseudo-URL host for each document (the fixture has no
    * URL column, so one is derived identically in both engines via
    * format_string ≙ printf — the same device the PII query uses).
    */
  private val BlockedHosts = Seq("host03.example.com", "host07.example.com", "host11.example.com")

  /** Domain-blocklist filtering — the opt-out / quality blocklist pass
    * every web-scale corpus runs before anything else: extract the host
    * from the document URL, drop documents whose host is on a blocklist,
    * report per-source kept/blocked counts. The blocklist is a tiny
    * in-memory table joined with a broadcast LEFT ANTI — at 100 TB the
    * blocklist side stays a broadcast (even million-entry blocklists are
    * a few MB) and the corpus side never shuffles at all; the only
    * exchange is the final per-source count agg.
    */
  def domainBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .withColumn("url", format_string("https://host%02d.example.com/%s/doc/%d",
        col("doc_id") % 13, col("source"), col("doc_id")))
      .withColumn("domain", regexp_extract(col("url"), "https://([^/]+)/", 1))
    val bl = BlockedHosts.toDF("domain")
    val kept = docs.join(broadcast(bl), Seq("domain"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    docs.groupBy("source").agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("source"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("n_blocked", col("n_total") - col("n_kept"))
      .select("source", "n_total", "n_kept", "n_blocked")
      .orderBy("source")
  }

  private val domainBlocklistSql = {
    val blValues = BlockedHosts.map(h => s"('$h')").mkString(", ")
    s"""WITH docs AS (
       |  SELECT source,
       |    regexp_extract(printf('https://host%02d.example.com/%s/doc/%d',
       |      doc_id % 13, source, doc_id), 'https://([^/]+)/', 1) AS domain
       |  FROM documents
       |), bl(domain) AS (VALUES $blValues),
       |kept AS (
       |  SELECT source, count(*) AS n_kept FROM docs
       |  WHERE domain NOT IN (SELECT domain FROM bl) GROUP BY 1
       |), tot AS (
       |  SELECT source, count(*) AS n_total FROM docs GROUP BY 1)
       |SELECT tot.source, CAST(n_total AS BIGINT) AS n_total,
       |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(n_total - coalesce(n_kept, 0) AS BIGINT) AS n_blocked
       |FROM tot LEFT JOIN kept USING (source) ORDER BY source""".stripMargin
  }

  /** URL canonicalization + dedup — the C4/RefinedWeb first pass: crawls
    * see the same page under scheme/case/www/query-string/fragment/slash
    * variants, so the corpus is grouped by a CANONICAL url key before any
    * content-level dedup runs. The messy URL is derived deterministically
    * (the fixture has no URL column — same printf device as the blocklist
    * query), then normalized: fragment and query string stripped, scheme +
    * host lowercased, http → https, `www.` dropped, trailing slash
    * trimmed. Scale shape: per-row string ops + ONE canonical-key count
    * shuffle with map-side combine — the cheapest dedup in the pipeline,
    * which is exactly why production runs it first.
    */
  def urlCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      // scheme/WWW/case/query/slash/fragment variants keyed off doc_id so
      // both engines derive byte-identical raw URLs
      .withColumn("raw_url", concat(
        when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
        format_string("Host%02d.Example.COM/docs/page-%d", col("doc_id") % 5, col("doc_id") % 100),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          format_string("?utm_source=feed&sid=%d", col("doc_id"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("#section-2")).otherwise(lit(""))))
      .withColumn("canonical_url",
        regexp_replace( // 4. trailing slash
          regexp_replace( // 3. http → https, www. dropped
            lower( // 2. scheme+host case (path here is lowercase by construction)
              regexp_replace(col("raw_url"), "[?#].*$", "")), // 1. query + fragment
            "^http://(www\\.)?|^https://(www\\.)?", "https://"),
          "/$", ""))
    docs.groupBy("canonical_url")
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("raw_url")).as("n_distinct_raw"),
        min("doc_id").as("survivor_doc_id"))
      .orderBy("canonical_url")
  }

  private val urlCanonicalSql =
    """WITH docs AS (
      |  SELECT doc_id,
      |    concat(
      |      CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
      |      CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
      |      printf('Host%02d.Example.COM/docs/page-%d', doc_id % 5, doc_id % 100),
      |      CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
      |      CASE WHEN doc_id % 4 = 0 THEN printf('?utm_source=feed&sid=%d', doc_id) ELSE '' END,
      |      CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS raw_url
      |  FROM documents
      |), canon AS (
      |  SELECT doc_id, raw_url,
      |    regexp_replace(
      |      regexp_replace(
      |        lower(regexp_replace(raw_url, '[?#].*$', '')),
      |        '^http://(www\.)?|^https://(www\.)?', 'https://'),
      |      '/$', '') AS canonical_url
      |  FROM docs)
      |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_variants,
      |  CAST(count(DISTINCT raw_url) AS BIGINT) AS n_distinct_raw,
      |  min(doc_id) AS survivor_doc_id
      |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin

  /** Host-graph PageRank — the link-graph quality score web-corpus
    * pipelines compute over crawl hosts (the Common-Crawl-style
    * centrality signal that feeds source weighting): 5 power iterations
    * at damping 0.85 over a weighted host→host edge list derived
    * deterministically from the fixture (src = doc host, dst from a
    * quadratic map so the in-link mass is genuinely non-uniform — ranks
    * span 0.012 to 0.20). The iteration loop composes LAZILY into one
    * plan: each round is a rank-keyed join + dst-keyed partial-sum — at
    * 100 TB the edge list is the big frame, the rank vector is
    * host-cardinality and stays the broadcast side, and each iteration
    * is exactly one keyed shuffle. No driver-side math anywhere.
    */
  def hostPagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.documents(s, dir)
      .select(
        format_string("host%02d.example.com", col("doc_id") % 13).as("src"),
        format_string("host%02d.example.com",
          (col("doc_id") * col("doc_id") + 1) % 13).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val outdeg = edges.groupBy("src").agg(sum("w").as("out_w"))
    // transition probabilities — 5 iterations re-read this frame. It is
    // ≤ 13×13 rows BY CONSTRUCTION of the host formula; materializing it
    // cuts the corpus-scan lineage out of the plan (a cached frame keeps
    // it, and the unrolled pyramid then plans a 92-Exchange tree) — one
    // corpus pass, then every iteration plans over a ≤169-row leaf.
    val docs = Tables.documents(s, dir)
    val e = Materialize.gated(docs, edges.join(outdeg, "src")
      .select(col("src"), col("dst"), (col("w") / col("out_w").cast("double")).as("p")),
      "hostpr-e")
    val nodes = Materialize.gated(docs, e.select(col("src").as("host")).distinct(),
      "hostpr-nodes")
    var ranks = nodes.withColumn("pr", lit(1.0 / 13))
    // the rank/inflow frames are host-domain-bounded (≤ 13 rows BY
    // CONSTRUCTION of the edge formula), so both per-iteration joins ride
    // broadcasts (optimization r17): each of the 5 iterations plans one
    // tiny inflow exchange instead of three
    for (_ <- 1 to 5) {
      val inflow = e.join(broadcast(ranks), e("src") === ranks("host"))
        .select(col("dst"), (col("pr") * col("p")).as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      ranks = nodes.join(broadcast(inflow), nodes("host") === inflow("dst"), "left")
        .select(col("host"),
          (lit(0.15 / 13) + lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("pr"))
    }
    ranks.select(col("host"), round(col("pr"), 6).as("pagerank"))
      .orderBy(desc("pagerank"), asc("host"))
  }

  private val hostPagerankSql = {
    val iter = (i: Int) =>
      s"""r${i + 1} AS (
         |  SELECT n.host, 0.15 / 13 + 0.85 * coalesce(sum(r.pr * e.p), 0) AS pr
         |  FROM nodes n LEFT JOIN e ON e.dst = n.host
         |  LEFT JOIN r$i r ON r.host = e.src GROUP BY 1)""".stripMargin
    s"""WITH edges AS (
       |  SELECT printf('host%02d.example.com', doc_id % 13) AS src,
       |         printf('host%02d.example.com', (doc_id * doc_id + 1) % 13) AS dst,
       |         count(*) AS w
       |  FROM documents GROUP BY 1, 2
       |), outdeg AS (
       |  SELECT src, sum(w) AS out_w FROM edges GROUP BY 1
       |), e AS (
       |  SELECT edges.src, dst, w / CAST(out_w AS DOUBLE) AS p
       |  FROM edges JOIN outdeg USING (src)
       |), nodes AS (
       |  SELECT DISTINCT src AS host FROM edges
       |), r0 AS (SELECT host, 1.0 / 13 AS pr FROM nodes),
       |${(0 until 5).map(iter).mkString(",\n")}
       |SELECT host, round(pr, 6) AS pagerank
       |FROM r5 ORDER BY pagerank DESC, host""".stripMargin
  }

  /** The END-TO-END curation pipeline a real corpus run composes — every
    * gate this engine ships, chained over one corpus pass plus the three
    * corpus-level side computations each gate needs:
    * exact-dedup survivorship (content-hash window) ∩ domain blocklist
    * (broadcast list) ∩ quality (token count + mean word length) ∩
    * language allowlist ∩ unigram-LM likelihood (term-keyed join +
    * broadcast total) ∩ per-language IQR length fences (broadcast).
    * Per-source accounting reports every gate's independent drop count
    * plus the final curated yield — the dashboard row a data-engineering
    * team watches. Shuffles: content-hash window, term-count join, the
    * per-lang percentile, and the final source agg; everything else is
    * broadcast. Gate definitions are shared verbatim with the standalone
    * queries, so each gate's fidelity is already oracle-pinned on its own.
    */
  def curationFull(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .withColumn("content_hash",
        sha2(lower(trim(regexp_replace(col("text"), "\\s+", " "))).cast("binary"), 256))
      .withColumn("tk", expr(toks))
      .withColumn("n_tokens", expr("size(tk)"))
      .withColumn("mean_wl",
        expr("CAST(length(array_join(tk, '')) AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1D)"))
      .withColumn("host", format_string("host%02d.example.com", col("doc_id") % 13))
    val withDup = base.withColumn("survivor",
      col("doc_id") === min("doc_id").over(Window.partitionBy("content_hash")))
    val terms = base.select(col("doc_id"), explode(col("tk")).as("term"))
    val termCounts = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = termCounts.agg(sum("cnt").cast("double").as("total"))
    val lp = terms.join(termCounts, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(avg(log(col("cnt").cast("double") / col("total"))), 4).as("avg_logprob"))
    val fences = base.select(col("lang"), col("n_tokens").cast("double").as("nt"))
      .groupBy("lang").agg(expr("percentile(nt, array(0.25, 0.75))").as("q"))
      .select(col("lang"),
        (element_at(col("q"), 1) - lit(1.5) * (element_at(col("q"), 2) - element_at(col("q"), 1)))
          .as("lo"),
        (element_at(col("q"), 2) + lit(1.5) * (element_at(col("q"), 2) - element_at(col("q"), 1)))
          .as("hi"))
    withDup
      .join(lp, "doc_id")
      .join(broadcast(fences), "lang")
      .withColumn("blocked", col("host").isin(BlockedHosts: _*))
      .withColumn("lowq",
        !(col("n_tokens") >= 10 && col("mean_wl") >= 3 && col("mean_wl") <= 10))
      .withColumn("lowlik", col("avg_logprob") < -3.45)
      .withColumn("outlier",
        col("n_tokens").cast("double") < col("lo") || col("n_tokens").cast("double") > col("hi"))
      .withColumn("nonlang", !col("lang").isin("en", "fr"))
      .withColumn("curated",
        col("survivor") && !col("blocked") && !col("lowq") && !col("lowlik") &&
          !col("outlier") && !col("nonlang"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(!col("survivor"), 1)).as("n_dup"),
        count(when(col("blocked"), 1)).as("n_blocked"),
        count(when(col("lowq"), 1)).as("n_lowq"),
        count(when(col("lowlik"), 1)).as("n_lowlik"),
        count(when(col("outlier"), 1)).as("n_outlier"),
        count(when(col("nonlang"), 1)).as("n_nonlang"),
        count(when(col("curated"), 1)).as("n_curated"),
        sum(when(col("curated"), col("n_tokens")).otherwise(lit(0))).as("curated_tokens"))
      .orderBy("source")
  }

  private val curationFullSql = {
    val blValues = BlockedHosts.map(h => s"'$h'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, lang, source,
       |    sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
       |    $dToks AS tk,
       |    printf('host%02d.example.com', doc_id % 13) AS host
       |  FROM documents
       |), feat AS (
       |  SELECT doc_id, lang, source, content_hash, host,
       |    CAST(len(tk) AS INT) AS n_tokens,
       |    list_sum(list_transform(tk, t -> length(t)))
       |      / greatest(CAST(len(tk) AS DOUBLE), 1) AS mean_wl
       |  FROM base
       |), dup AS (
       |  SELECT doc_id,
       |    doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS survivor
       |  FROM feat
       |), t AS (
       |  SELECT doc_id, unnest(tk) AS term FROM base
       |), tc AS (
       |  SELECT term, count(*) AS cnt FROM t GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM tc
       |), lp AS (
       |  SELECT doc_id, round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS avg_logprob
       |  FROM t JOIN tc USING (term) CROSS JOIN tot GROUP BY 1
       |), f AS (
       |  SELECT lang,
       |    quantile_cont(CAST(n_tokens AS DOUBLE), 0.25)
       |      - 1.5 * (quantile_cont(CAST(n_tokens AS DOUBLE), 0.75)
       |             - quantile_cont(CAST(n_tokens AS DOUBLE), 0.25)) AS lo,
       |    quantile_cont(CAST(n_tokens AS DOUBLE), 0.75)
       |      + 1.5 * (quantile_cont(CAST(n_tokens AS DOUBLE), 0.75)
       |             - quantile_cont(CAST(n_tokens AS DOUBLE), 0.25)) AS hi
       |  FROM feat GROUP BY lang
       |), flags AS (
       |  SELECT feat.source, feat.n_tokens, survivor,
       |    host IN ($blValues) AS blocked,
       |    NOT (n_tokens >= 10 AND mean_wl >= 3 AND mean_wl <= 10) AS lowq,
       |    avg_logprob < -3.45 AS lowlik,
       |    CAST(n_tokens AS DOUBLE) < lo OR CAST(n_tokens AS DOUBLE) > hi AS outlier,
       |    lang NOT IN ('en', 'fr') AS nonlang
       |  FROM feat
       |  JOIN dup USING (doc_id)
       |  JOIN lp USING (doc_id)
       |  JOIN f USING (lang))
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(CASE WHEN NOT survivor THEN 1 END) AS BIGINT) AS n_dup,
       |  CAST(count(CASE WHEN blocked THEN 1 END) AS BIGINT) AS n_blocked,
       |  CAST(count(CASE WHEN lowq THEN 1 END) AS BIGINT) AS n_lowq,
       |  CAST(count(CASE WHEN lowlik THEN 1 END) AS BIGINT) AS n_lowlik,
       |  CAST(count(CASE WHEN outlier THEN 1 END) AS BIGINT) AS n_outlier,
       |  CAST(count(CASE WHEN nonlang THEN 1 END) AS BIGINT) AS n_nonlang,
       |  CAST(count(CASE WHEN survivor AND NOT blocked AND NOT lowq AND NOT lowlik
       |                    AND NOT outlier AND NOT nonlang THEN 1 END) AS BIGINT)
       |    AS n_curated,
       |  CAST(sum(CASE WHEN survivor AND NOT blocked AND NOT lowq AND NOT lowlik
       |                 AND NOT outlier AND NOT nonlang THEN n_tokens ELSE 0 END) AS BIGINT)
       |    AS curated_tokens
       |FROM flags GROUP BY source ORDER BY source""".stripMargin
  }

  /** Quality-based survivor selection: near-dup clusters (the LSH
    * connected components from DedupQueries) keep their HIGHEST-QUALITY
    * member — token count as the quality signal, doc_id as the
    * deterministic tiebreak — instead of the min-id convention. This is the
    * curation half of dedup: "which copy do we train on". Scale shape: the
    * closure is the already-keyed label propagation; survivor election is
    * one row_number window on the (tiny) labeled subset; the token counts
    * come from a broadcast-sized projection of only the labeled docs.
    */
  def qualitySurvivor(s: SparkSession, dir: String): DataFrame = {
    val labels = DedupQueries.clusterLabels(s, dir)
    val nTok = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"size($toks)").as("n_tokens"))
    val w = Window.partitionBy("label")
      .orderBy(desc("n_tokens"), asc("doc_id"))
    labels.join(nTok, "doc_id")
      .withColumn("pick", row_number().over(w))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("pick") === 1, col("doc_id"))).as("survivor_id"),
        max(when(col("pick") === 1, col("n_tokens"))).as("survivor_tokens"))
      .orderBy("cluster_id")
  }

  private val qualitySurvivorSql =
    s"""WITH RECURSIVE ${DedupQueries.clusterCompCtes},
       |quality AS (
       |  SELECT doc_id, CAST(len($dToks) AS INT) AS n_tokens FROM documents
       |), picked AS (
       |  SELECT comp.cluster_id, comp.doc_id, q.n_tokens,
       |    row_number() OVER (PARTITION BY comp.cluster_id
       |      ORDER BY q.n_tokens DESC, comp.doc_id ASC) AS pick
       |  FROM comp JOIN quality q USING (doc_id))
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |  max(CASE WHEN pick = 1 THEN doc_id END) AS survivor_id,
       |  max(CASE WHEN pick = 1 THEN n_tokens END) AS survivor_tokens
       |FROM picked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** Content-defined chunking (the rsync/LBFS rolling-hash idea at token
    * granularity): a chunk boundary falls wherever the hash of the
    * trailing 3-token window opens with a zero nibble (p = 1/16 → ~16-token
    * mean chunks). Unlike fixed-stride chunking (`curation_chunking`),
    * boundaries are CONTENT-anchored: inserting a paragraph shifts every
    * fixed-stride chunk after it, but CDC chunks re-align at the next
    * boundary — so chunk-level dedup survives edits. Shape: one positional
    * explode, one per-doc window for the running boundary count, one
    * aggregation; the md5 is the same portable hash family the minhash
    * kernels use, so the oracle reproduces it bit-for-bit.
    */
  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(expr("sequence(1, size(tk))")).as("p"), col("tk"))
      .withColumn("boundary",
        when(col("p") >= 3 &&
          substring(md5(expr("CAST(concat_ws(' ', slice(tk, p - 2, 3)) AS BINARY)")), 1, 1) === "0",
          1).otherwise(0))
      .drop("tk")
      .withColumn("chunk_id", coalesce(sum("boundary").over(w), lit(0L)))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_tokens"),
        min("p").as("start_pos"), max("p").as("end_pos"))
      .orderBy("doc_id", "chunk_id")
  }

  private val cdcChunksSql =
    s"""WITH pos AS (
       |  SELECT doc_id, CAST(p AS INT) AS p,
       |    CASE WHEN p >= 3 AND substr(md5(array_to_string(tk[p-2:p], ' ')), 1, 1) = '0'
       |         THEN 1 ELSE 0 END AS boundary
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS p
       |        FROM (SELECT doc_id, $dToks AS tk FROM documents)
       |        WHERE len(tk) >= 3)
       |), chunked AS (
       |  SELECT doc_id, p,
       |    CAST(coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chunk_id
       |  FROM pos)
       |SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  min(p) AS start_pos, max(p) AS end_pos
       |FROM chunked GROUP BY doc_id, chunk_id
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** Built-in `mask` (Spark 3.4 data masking) — the char-class
    * anonymizer that complements the regex-based
    * [[piiRedaction curation_pii_redaction]]: uppercase→X, lowercase→x,
    * digit→n (plus a custom-replacement variant), preserving length and
    * punctuation so downstream tokenization statistics survive the
    * masking. Pure per-row projection; the oracle rebuilds the same
    * masking from character-class regex replaces.
    */
  def builtinMask(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        expr("mask(c_name)").as("masked_default"),
        expr("mask(c_name, 'Q', 'q', '9', '_')").as("masked_custom"),
        expr("mask(c_mktsegment, 'U', 'l', 'd')").as("masked_seg"))
      .orderBy("c_custkey")

  private val builtinMaskSql =
    """SELECT c_custkey,
      |  regexp_replace(regexp_replace(regexp_replace(c_name,
      |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
      |    AS masked_default,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(c_name,
      |    '[A-Z]', 'Q', 'g'), '[a-z]', 'q', 'g'), '[0-9]', '9', 'g'),
      |    '[^Qq9]', '_', 'g') AS masked_custom,
      |  regexp_replace(regexp_replace(regexp_replace(c_mktsegment,
      |    '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', 'd', 'g')
      |    AS masked_seg
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** CCNet-style perplexity bucketing: a unigram LM is trained on the
    * high-resource reference slice (lang = 'en'), every document —
    * including the slice itself — is scored against that model with add-1
    * smoothing (OOV tokens hit the +1 floor), and the corpus is cut into
    * head / middle / tail thirds by perplexity, the split CCNet keeps or
    * drops by. Scale shape: the reference model is two shuffles over the
    * slice (token counts + two scalars); scoring joins each corpus token
    * against the model on the token key — skew fans out rows, never pairs
    * — and the head/middle/tail cuts are two percentile SCALARS broadcast
    * back (no global-order window: a corpus-wide ntile would sort every
    * per-doc row in one partition). At 100 TB the model is a dimension
    * table (V terms, not corpus-sized) and the cut thresholds are one
    * tiny aggregate.
    */
  def perplexityBucket(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(expr(toks)).as("t"))
    val ref = tok.filter(col("lang") === "en")
      .groupBy("t").agg(count(lit(1)).cast("double").as("c"))
    // model scalars: N = reference token count, V = reference vocab size
    val scalars = ref.agg(sum("c").as("n_ref"), count(lit(1)).cast("double").as("v_ref"))
    val scored = tok
      .join(ref, Seq("t"), "left")
      .crossJoin(broadcast(scalars))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(exp(-avg(log((coalesce(col("c"), lit(0d)) + lit(1d))
          / (col("n_ref") + col("v_ref") + lit(1d))))), 4).as("ppl"))
    val cuts = scored.agg(
      expr("percentile(ppl, CAST(1 AS DOUBLE) / 3)").as("t_head"),
      expr("percentile(ppl, CAST(2 AS DOUBLE) / 3)").as("t_mid"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("ppl") <= col("t_head"), "head")
          .when(col("ppl") <= col("t_mid"), "middle").otherwise("tail"))
      .select("doc_id", "n_tokens", "ppl", "bucket")
      .orderBy("doc_id")
  }

  private val perplexityBucketSql =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest($dToks) AS t FROM documents
       |), ref AS (
       |  SELECT t, CAST(count(*) AS DOUBLE) AS c FROM tok WHERE lang = 'en' GROUP BY t
       |), scalars AS (
       |  SELECT sum(c) AS n_ref, CAST(count(*) AS DOUBLE) AS v_ref FROM ref
       |), scored AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    round(exp(-avg(ln((coalesce(c, 0) + 1) / (n_ref + v_ref + 1)))), 4) AS ppl
       |  FROM tok LEFT JOIN ref USING (t) CROSS JOIN scalars
       |  GROUP BY doc_id
       |), cuts AS (
       |  SELECT quantile_cont(ppl, CAST(1 AS DOUBLE) / 3) AS t_head,
       |    quantile_cont(ppl, CAST(2 AS DOUBLE) / 3) AS t_mid
       |  FROM scored)
       |SELECT doc_id, n_tokens, ppl,
       |  CASE WHEN ppl <= t_head THEN 'head'
       |       WHEN ppl <= t_mid THEN 'middle' ELSE 'tail' END AS bucket
       |FROM scored CROSS JOIN cuts ORDER BY doc_id""".stripMargin

  /** First-occurrence n-gram novelty: the share of a document's distinct
    * 4-gram shingles whose corpus-wide first appearance (min doc_id) is
    * this document — high-novelty docs contribute new content to the
    * training mix, near-zero-novelty docs are recombinations of text
    * already seen (the streaming-corpus analogue ranks by crawl time; the
    * fixture's doc_id is its ingest order). Scale shape: one shingle-keyed
    * min() with map-side combine plus one shingle-keyed join back — the
    * same inverted-index exchange the dedup family rides, and per-shingle
    * fan-out is exactly its df (no pair generation), so no df cap is
    * needed.
    */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    // first-seen census + probe side both read sh: one materialization
    // (optimization r17), size-gated (r18) — corpus-sized frame
    val sh = Materialize.gated(Tables.documents(s, dir),
      Tables.documents(s, dir)
        .withColumn("tk", expr(toks))
        .filter(size(col("tk")) >= 4)
        .select(col("doc_id"), explode(expr("word_shingles(tk, 4)")).as("shingle")),
      "novelty-sh")
    val firstSeen = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    sh.join(firstSeen, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("novel_shingles"))
      .withColumn("novelty",
        round(col("novel_shingles").cast("double") / col("n_shingles"), 4))
      .orderBy("doc_id")
  }

  private val ngramNoveltySql =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(tk) - 2),
       |    i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2], tk[i + 3])))) AS shingle
       |  FROM (SELECT doc_id, $dToks AS tk FROM documents)
       |  WHERE len(tk) >= 4
       |), fs AS (
       |  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS novel_shingles,
       |  round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 4) AS novelty
       |FROM sh JOIN fs USING (shingle)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Population-stability-index drift gate: for each source, PSI between
    * its document-length distribution and the REST of the corpus over
    * fixed 100-char bins — the standard "did this slice drift from the
    * mix" check run before each training snapshot (PSI > 0.2 is the
    * conventional act threshold). Proportions are clamped at 1e-4 so
    * empty cells contribute a finite, deterministic penalty on both
    * engines. Scale shape: three map-side-combinable hash-aggs over one
    * scan, then all arithmetic happens on a (sources × bins) grid that is
    * mix-schema-sized, not corpus-sized.
    */
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("bin", expr("CAST(n_chars div 100 AS INT)"))
    val srcBin = d.groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val binTot = d.groupBy("bin").agg(count(lit(1)).as("ct"))
    val srcTot = d.groupBy("source").agg(count(lit(1)).as("ns"))
    val total = d.agg(count(lit(1)).as("n"))
    val grid = d.select("source").distinct()
      .crossJoin(d.select("bin").distinct())
    grid.join(srcBin, Seq("source", "bin"), "left")
      .na.fill(0, Seq("c"))
      .join(broadcast(binTot), "bin")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(total))
      .withColumn("p", greatest(col("c").cast("double") / col("ns"), lit(1e-4)))
      // the rest-of-corpus denominator is explicitly guarded: a source
      // comprising the whole corpus makes (n - ns) = 0, and the two
      // engines disagree on double x/0 (Spark NULL-ish vs DuckDB inf) —
      // the CASE pins the degenerate cell to the same 1e-4 clamp on both
      .withColumn("q", greatest(
        when(col("n") > col("ns"),
          (col("ct") - col("c")).cast("double") / (col("n") - col("ns")))
          .otherwise(lit(0.0)), lit(1e-4)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bins"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 4).as("psi"))
      .withColumn("drifted", col("psi") > 0.2)
      .orderBy("source")
  }

  private val psiDriftSql =
    """WITH d AS (
      |  SELECT source, CAST(n_chars // 100 AS INT) AS bin FROM documents
      |), sb AS (SELECT source, bin, count(*) AS c FROM d GROUP BY 1, 2),
      |bt AS (SELECT bin, count(*) AS ct FROM d GROUP BY 1),
      |st AS (SELECT source, count(*) AS ns FROM d GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM d),
      |grid AS (
      |  SELECT s.source, b.bin
      |  FROM (SELECT DISTINCT source FROM d) s
      |  CROSS JOIN (SELECT DISTINCT bin FROM d) b),
      |vals AS (
      |  SELECT g.source,
      |    greatest(CAST(coalesce(sb.c, 0) AS DOUBLE) / st.ns, 0.0001) AS p,
      |    greatest(CASE WHEN tot.n > st.ns
      |      THEN CAST(bt.ct - coalesce(sb.c, 0) AS DOUBLE) / (tot.n - st.ns)
      |      ELSE 0 END, 0.0001) AS q
      |  FROM grid g
      |  LEFT JOIN sb ON g.source = sb.source AND g.bin = sb.bin
      |  JOIN bt ON g.bin = bt.bin
      |  JOIN st ON g.source = st.source
      |  CROSS JOIN tot)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_bins,
      |  round(sum((p - q) * ln(p / q)), 4) AS psi,
      |  round(sum((p - q) * ln(p / q)), 4) > 0.2 AS drifted
      |FROM vals GROUP BY source ORDER BY source""".stripMargin

  /** Importance sampling: each document is kept with probability
    * proportional to a quality proxy (token count, clamped to [0.1, 0.9])
    * using a salted-md5 uniform — the deterministic analogue of the
    * Bernoulli subsampling every mixture re-weighting pass runs, and the
    * same portable coin-flip family as [[trainSplit]]/[[stratifiedSample]]
    * (a distinct salt keeps the draws independent of the split coins).
    * The 16-bit hash fraction and the clamp endpoints are exactly
    * representable doubles, so the keep decision is bit-identical on both
    * engines. Pure per-row projection + one source-keyed rollup.
    */
  def importanceSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tokens", expr(s"size($toks)"))
      .withColumn("p_keep",
        least(lit(0.9), greatest(lit(0.1), col("n_tokens") / 400.0)))
      .withColumn("u", expr(
        "CAST(conv(substring(md5(CAST(concat('imp', CAST(doc_id AS STRING)) AS BINARY)), 1, 4), 16, 10) AS DOUBLE) / 65536.0"))
      .withColumn("keep", col("u") < col("p_keep"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        round(avg("p_keep"), 4).as("expected_rate"),
        round(avg(col("keep").cast("double")), 4).as("actual_rate"))
      .orderBy("source")

  private val importanceSampleSql =
    s"""WITH d AS (
       |  SELECT source,
       |    least(0.9, greatest(0.1, len($dToks) / 400.0)) AS p_keep,
       |    CAST(('0x' || substr(md5('imp' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
       |      / 65536.0 AS u
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN u < p_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  round(avg(p_keep), 4) AS expected_rate,
       |  round(avg(CASE WHEN u < p_keep THEN 1.0 ELSE 0.0 END), 4) AS actual_rate
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** First BPE merge step — the corpus-scale heart of tokenizer training:
    * count adjacent character pairs within words, weighted by word
    * frequency, and rank the top-20 merge candidates. The heavy lifting
    * happens on the DISTINCT word table (vocabulary-sized, not
    * corpus-sized): word counts aggregate first, then each distinct word
    * explodes into its character bigrams once and carries its count —
    * exactly how production BPE trainers amortize the pair scan. Ranking
    * ties break lexicographically on the pair.
    */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(expr(toks)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .filter(length(col("word")) >= 2)
    val w = Window.orderBy(col("pair_count").desc, col("pair").asc)
    words
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("wc").as("pair_count"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("pair"), col("pair_count"))
      .orderBy("rank")
  }

  private val bpePairsSql =
    s"""WITH words AS (
       |  SELECT word, count(*) AS wc FROM (
       |    SELECT unnest($dToks) AS word FROM documents)
       |  GROUP BY 1
       |), pairs AS (
       |  SELECT unnest(list_transform(range(1, length(word)),
       |    i -> word[i:i+1])) AS pair, wc
       |  FROM words WHERE length(word) >= 2
       |), pc AS (
       |  SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count
       |  FROM pairs GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS INT) AS rank,
       |  pair, pair_count
       |FROM pc ORDER BY pair_count DESC, pair ASC LIMIT 20""".stripMargin

  /** The greedy-BPE application fold shared by [[bpeEncode]] and the
    * InvariantSpec encoding laws: tokens are delimited by a DOUBLED
    * \\u0001 sentinel (never in the ASCII fixture's words) — the encoding
    * is "␟␟t1␟␟t2␟␟…␟␟" — and a merge (a,b) is ONE leftmost
    * non-overlapping `replace` of "␟a␟␟b␟" with "␟ab␟". The doubling
    * makes a single pass STRICTLY-LEFTMOST greedy (retiring the
    * r13-declared deviation — VERDICT r14 #6): a match consumes one
    * delimiter of each boundary pair, so one delimiter of the trailing
    * boundary survives to lead the immediately following candidate pair
    * — "aaaaa" under merge (a,a) folds to [aa, aa, a], exactly
    * one-merge-at-a-time leftmost application (the old single-delimiter
    * formulation consumed the whole trailing boundary and segmented odd
    * runs ≥ 5 as [aa, a, aa]). Boundary soundness: the pattern needs `a`
    * led by a delimiter and separated from `b` by the DOUBLE boundary,
    * so only complete-token pairs match (a token's interior never
    * contains the sentinel), and the rewrite restores the double
    * boundary on both sides by construction. Plain `replace`, no regex
    * — identical in Spark and DuckDB, so the oracle replays the same
    * merges with the same fold; one pass per merge is exact, so no
    * iterated-replace fixpoint margin is needed (InvariantSpec pins that
    * a SECOND application of every merge changes nothing).
    */
  private val Sep = "\u0001"
  private val Sep2 = Sep + Sep

  /** One learned merge, one leftmost-non-overlapping replace — exact
    * under the doubled-delimiter encoding (see [[bpeFoldExpr]]).
    */
  private def rep1(acc: String): String = {
    val pat = s"concat('$Sep', substring(m, 1, 1), '$Sep2', substring(m, 2, 1), '$Sep')"
    val rw = s"concat('$Sep', m, '$Sep')"
    s"replace($acc, $pat, $rw)"
  }

  private[graft] def bpeFoldExpr(wordCol: String, mergesCol: String): String =
    s"""aggregate($mergesCol,
       |  concat('$Sep2', regexp_replace($wordCol, '(.)', '$$1$Sep2')),
       |  (acc, m) -> ${rep1("acc")})""".stripMargin

  /** Greedy BPE ENCODING — the capstone of the tokenizer-training rows
    * (VERDICT r11 #6): apply the top-20 learned merges from
    * [[bpePairs]] to every word of `documents.text` and report per-doc
    * token accounting. Scale shape: the 20-merge fold runs once per
    * DISTINCT word (vocabulary-sized, the production amortization), the
    * merge table is a broadcast 1-row frame, and the corpus-side work is
    * one keyed join on the word plus a doc-id aggregate — no row-level
    * global state anywhere. Conservation law (InvariantSpec): stripping
    * the delimiters reproduces the word exactly, so n_chars ==
    * n_bpe_tokens + n_merges_applied by construction.
    */
  /** The vocabulary-level encoding frame: one row per distinct word with
    * its delimited encoding `e` and token count — exposed so InvariantSpec
    * can pin the conservation laws (strip(e) == word; 1 <= n_tokens <=
    * length(word)) on the real fixture vocabulary.
    */
  private[graft] def bpeEncodedWords(s: SparkSession, dir: String): DataFrame = {
    val merges = bpePairs(s, dir)
      .agg(expr("transform(array_sort(collect_list(struct(rank, pair))), x -> x.pair)")
        .as("merges"))
    Tables.documents(s, dir)
      .select(explode(expr(toks)).as("word"))
      .distinct()
      .crossJoin(broadcast(merges))
      .withColumn("e", expr(bpeFoldExpr("word", "merges")))
  }

  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val encoded = bpeEncodedWords(s, dir)
      .select(col("word"),
        // doubled delimiters: 2*(n_tokens + 1) sentinels per encoding
        ((length(col("e")) - length(expr(s"replace(e, '$Sep', '')"))) / 2 - 1)
          .cast("long").as("n_tokens"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(toks)).as("word"))
      .join(encoded, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        sum("n_tokens").as("n_bpe_tokens"))
      .withColumn("n_merges_applied", col("n_chars") - col("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  private val bpeEncodeSql =
    s"""WITH words AS (
       |  SELECT word, count(*) AS wc FROM (
       |    SELECT unnest($dToks) AS word FROM documents)
       |  GROUP BY 1
       |), pc AS (
       |  SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count FROM (
       |    SELECT unnest(list_transform(range(1, length(word)),
       |      i -> word[i:i+1])) AS pair, wc
       |    FROM words WHERE length(word) >= 2)
       |  GROUP BY 1
       |), merges AS (
       |  SELECT list(pair ORDER BY pair_count DESC, pair ASC) AS ms FROM (
       |    SELECT pair, pair_count FROM pc
       |    ORDER BY pair_count DESC, pair ASC LIMIT 20)
       |), enc AS (
       |  SELECT word,
       |    list_reduce(list_prepend(
       |        chr(1) || chr(1) || regexp_replace(word, '(.)', concat('\\1', chr(1), chr(1)), 'g'),
       |        (SELECT ms FROM merges)),
       |      (acc, m) -> replace(acc,
       |          chr(1) || m[1:1] || chr(1) || chr(1) || m[2:2] || chr(1),
       |          chr(1) || m || chr(1))) AS e
       |  FROM words
       |), tok AS (
       |  SELECT word,
       |    CAST((length(e) - length(replace(e, chr(1), ''))) // 2 - 1 AS BIGINT) AS n_tokens
       |  FROM enc)
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(t.n_tokens) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(length(d.word)) - sum(t.n_tokens) AS BIGINT) AS n_merges_applied
       |FROM (SELECT doc_id, unnest($dToks) AS word FROM documents) d
       |JOIN tok t USING (word)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** The initial BPE encoding frame: one row per distinct word (the
    * vocabulary collapse — all per-iteration work below is |vocab|-sized,
    * not corpus-sized) with its occurrence count and the character-split
    * delimited encoding `␟c1␟c2␟…␟`.
    */
  private[graft] def bpeInitEnc(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(expr(toks)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .filter(length(col("word")) >= 2)
      .select(col("wc"),
        expr(s"concat('$Sep2', regexp_replace(word, '(.)', '$$1$Sep2'))").as("e"))

  /** Adjacent-token pair census of an encoding frame (cols `wc`, `e`):
    * split on the delimiter, pair each token with its right neighbor,
    * sum the word counts. Overlapping adjacencies both count (standard
    * BPE position census) — greedy application then merges only the
    * leftmost of an overlapping run, so a step's `pair_count` is an upper
    * bound on (not equal to) the replacements it performs.
    */
  private[graft] def bpeCensus(enc: DataFrame): DataFrame =
    enc
      .withColumn("tk", expr(s"filter(split(e, '$Sep', -1), t -> t <> '')"))
      .filter(size(col("tk")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, size(tk) - 1), " +
          "i -> struct(element_at(tk, i) AS lhs, element_at(tk, i + 1) AS rhs))")).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("wc").as("cnt"))

  /** One learned merge applied strictly-leftmost greedily: a single
    * non-overlapping `replace` under the doubled-delimiter encoding, same
    * exactness argument as [[rep1]] / [[bpeFoldExpr]]. Unlike [[rep1]]
    * the sides are full TOKENS (multi-char after the first merges), so
    * the pattern is built from the collected pair, not substring(m, …) —
    * and `functions.replace` with literal Columns avoids any SQL-string
    * escaping of data-derived text.
    */
  private[graft] def bpeApply(enc: DataFrame, lhs: String, rhs: String): DataFrame = {
    val pat = lit(s"$Sep$lhs$Sep2$rhs$Sep")
    val rw = lit(s"$Sep$lhs$rhs$Sep")
    enc.withColumn("e", replace(col("e"), pat, rw))
  }

  /** TRUE iterated BPE training (VERDICT r12 #4): [[bpePairs]] ranks merges
    * by the ROUND-1 pair census only, but real BPE training recounts after
    * EACH merge — merge i+1 is the argmax of the census AFTER applying
    * merge i (once `th` merges, every t·h adjacency is gone and the counts
    * around it change). This runs the real k=20 loop: re-aggregate pair
    * counts from the CURRENT encoding, pick the argmax (ties break
    * lexicographically on lhs then rhs), apply it, repeat. Scale shape:
    * every census and rewrite runs on the distinct-word frame
    * (vocabulary-sized — the production-trainer amortization), the chosen
    * merge is a 1-row collect per step, and each rewritten encoding is
    * localCheckpoint()ed so the 20-step lineage is materialized once per
    * step (the per-hop policy the graph BFS walks use). InvariantSpec
    * replays the census argmax after each applied merge, pins the
    * non-increasing pair_count law, and pins that the learned sequence
    * diverges from [[bpePairs]]' round-1 ranking (the recount matters).
    */
  /** The shared k=20 trainer loop (census → argmax → greedy apply →
    * recount), returning the final encoding frame, the learned merge
    * sequence and per-step snapshots — [[bpeTrain]] emits the sequence,
    * [[bpeTokenize]] consumes the final encodings. The census ignores
    * 1-token rows, so a caller may include single-character words (which
    * never merge) without changing the learned sequence. `captureAt`
    * names the merge counts whose encoding frames are kept (each already
    * materialized by the loop's per-step policy, so a snapshot is a
    * handle, not extra work). Step 0 is the character-split init;
    * `docs` is the corpus `enc0` derives from (the size-gate input).
    */
  private[graft] def bpeTrainLoopCapturing(docs: DataFrame, enc0: DataFrame, captureAt: Set[Int])
      : (DataFrame, Seq[(Int, String, String, String, Long)], Map[Int, DataFrame]) = {
    val k = 20
    var enc = Materialize.gated(docs, enc0, "bpe-enc")
    val snaps = scala.collection.mutable.Map[Int, DataFrame]()
    if (captureAt.contains(0)) snaps(0) = enc
    val learned = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var exhausted = false
    while (learned.size < k && !exhausted) {
      val top = bpeCensus(enc)
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((learned.size + 1, l, r, l + r, c))
        enc = Materialize.gated(docs, bpeApply(enc, l, r), "bpe-enc")
        if (captureAt.contains(learned.size)) snaps(learned.size) = enc
      }
    }
    (enc, learned.toSeq, snaps.toMap)
  }

  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrained(s, dir)._2
      .toDF("step", "lhs", "rhs", "merged", "pair_count").orderBy("step")
  }

  /** ONE memoized trainer run per (session, fixture) serving the whole
    * tokenizer family (VERDICT r16 "what's wrong" #3): bpe_train,
    * bpe_tokenize, tokenizer_fertility, tokenizer_compare and vocab_curve
    * each used to replay the full 20-stage loop; a trained tokenizer is a
    * persisted corpus asset (trained once per snapshot, read by every
    * downstream job), so the session-scoped memo is the honest shape, not
    * a bench trick. The memoized run trains on the word-carrying init
    * (single-character words included — they never enter the census, so
    * the learned sequence is IDENTICAL to the length≥2 init's, which the
    * InvariantSpec census replay pins) and captures the k ∈ {0, 5, 10, 20}
    * snapshots the vocab curve reads. Each per-step frame is already
    * localCheckpointed by the loop, so memo hits are handles, not work.
    */
  private[graft] def bpeTrained(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, String, Long)], Map[Int, DataFrame]) =
    graft.Derived.get(s, "curation.bpeTrained", DedupQueries.docsFile(dir)) {
      val docs = Tables.documents(s, dir)
      val init = docs
        .select(explode(expr(toks)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("wc"))
        .select(col("word"), col("wc"),
          expr(s"concat('$Sep2', regexp_replace(word, '(.)', '$$1$Sep2'))").as("e"))
      bpeTrainLoopCapturing(docs, init, Set(0, 5, 10, 20))
    }

  /** The DuckDB twin replays the identical loop as 20 UNROLLED chained
    * CTE stages (enc0 → m1 → enc1 → … → m20), each MATERIALIZED — the
    * census/argmax/apply at every stage is the same formulation as the
    * Spark side, and materialization keeps the doubly-referenced stages
    * (enc_i feeds both m_{i+1} and enc_{i+1}) from exponential re-inlining.
    */
  private val bpeTrainSql: String = {
    val init =
      s"""WITH enc0 AS MATERIALIZED (
         |  SELECT wc, chr(1) || chr(1) || regexp_replace(word, '(.)', concat('\\1', chr(1), chr(1)), 'g') AS e
         |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM (
         |      SELECT unnest($dToks) AS word FROM documents) GROUP BY 1)
         |  WHERE length(word) >= 2
         |)""".stripMargin
    val stages = (1 to 20).map { i =>
      s""", m$i AS MATERIALIZED (
         |  SELECT p.lhs AS lhs, p.rhs AS rhs, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT unnest(list_transform(range(1, len(tk)),
         |        i -> struct_pack(lhs := tk[i], rhs := tk[i + 1]))) AS p, wc
         |    FROM (SELECT list_filter(string_split(e, chr(1)), t -> t <> '') AS tk, wc
         |          FROM enc${i - 1})
         |    WHERE len(tk) >= 2)
         |  GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 1
         |), enc$i AS MATERIALIZED (
         |  SELECT wc, replace(e, m.pat, m.rw) AS e
         |  FROM enc${i - 1}, (SELECT chr(1) || lhs || chr(1) || chr(1) || rhs || chr(1) AS pat,
         |        chr(1) || lhs || rhs || chr(1) AS rw FROM m$i) m
         |)""".stripMargin
    }.mkString("\n")
    val union = (1 to 20).map { i =>
      s"SELECT $i AS step, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count FROM m$i"
    }.mkString("\nUNION ALL\n")
    s"$init\n$stages\nSELECT * FROM (\n$union\n) ORDER BY step"
  }

  /** The final trained word encodings — vocabulary rows (word, wc, e) after
    * the full k=20 trainer loop, INCLUDING single-character words (they
    * never merge and contribute nothing to any census, so the learned
    * sequence is identical to [[bpeTrain]]'s; they must still tokenize).
    * Exposed for the InvariantSpec round-trip laws.
    */
  private[graft] def bpeTrainedEncodings(s: SparkSession, dir: String): DataFrame =
    bpeTrained(s, dir)._1

  /** The per-word token view of the trained encodings: (word, tpos, token).
    * Vocabulary-sized × tokens-per-word — never corpus-sized.
    */
  private[graft] def bpeWordTokens(s: SparkSession, dir: String): DataFrame =
    bpeTrainedEncodings(s, dir)
      .withColumn("tk", expr(s"filter(split(e, '$Sep', -1), t -> t <> '')"))
      .select(col("word"), posexplode(col("tk")))
      .withColumnRenamed("pos", "tpos")
      .withColumnRenamed("col", "token")

  /** Token-id vocabulary over the trained encodings: every distinct final
    * token (single chars + the 20 learned merges — a few dozen rows) gets
    * a dense id by lexicographic order, the deterministic rule both
    * engines replay. The unpartitioned row_number sits above a distinct
    * over that bounded token domain (WindowAudit-allowlisted).
    */
  private[graft] def bpeVocab(wordTok: DataFrame): DataFrame =
    wordTok.select("token").distinct()
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("token"))).cast("long"))

  /** Corpus tokenization with the LEARNED vocabulary (VERDICT r13 #6) —
    * the artifact a training pipeline actually emits: every document
    * encoded into its token-ID sequence under the k=20 trained merges
    * ([[bpeTrainLoopCapturing]]), closing the loop from [[bpeTrain]] (which learns
    * the merges) through [[bpeEncode]] (which only counts tokens). Scale
    * shape: the trainer and the per-word id assembly run on the
    * distinct-word frame (vocabulary-sized); the corpus-side work is one
    * positional explode + a keyed join on the word + one doc-keyed
    * order-reassembling aggregate — the same linear shape as
    * [[bpeEncode]]. The id sequence is emitted as a space-joined string
    * (portable across engines; parquet array hashing is not).
    */
  def bpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val wordTok = bpeWordTokens(s, dir)
    val wordIds = wordTok.join(broadcast(bpeVocab(wordTok)), "token")
      .groupBy("word")
      .agg(count(lit(1)).as("n_word_tokens"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(tpos, token_id))), " +
            "x -> CAST(x.token_id AS STRING))")).as("ids"))
    Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(expr(toks)))
      .withColumnRenamed("col", "word")
      .join(wordIds, "word")
      .groupBy("doc_id")
      .agg(sum("n_word_tokens").as("n_tokens"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, ids))), x -> x.ids)")).as("token_ids"))
      .orderBy("doc_id")
  }

  /** The DuckDB twin replays the identical trainer (the same 20 unrolled
    * MATERIALIZED stages as [[bpeTrainSql]], with `word` carried through
    * and single-char words included — they never enter a census), then the
    * same vocab/id assembly and per-doc reassembly.
    */
  /** Shared word-carrying trainer-CTE prefix (enc0 … enc20) for the
    * DuckDB twins that need the trained encodings: [[bpeTokenizeSql]] and
    * the tokenizer-fertility oracle.
    */
  private val bpeTrainerCtesSql: String = {
    val init =
      s"""WITH enc0 AS MATERIALIZED (
         |  SELECT word, wc, chr(1) || chr(1) || regexp_replace(word, '(.)', concat('\\1', chr(1), chr(1)), 'g') AS e
         |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM (
         |      SELECT unnest($dToks) AS word FROM documents) GROUP BY 1)
         |)""".stripMargin
    val stages = (1 to 20).map { i =>
      s""", m$i AS MATERIALIZED (
         |  SELECT p.lhs AS lhs, p.rhs AS rhs, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT unnest(list_transform(range(1, len(tk)),
         |        i -> struct_pack(lhs := tk[i], rhs := tk[i + 1]))) AS p, wc
         |    FROM (SELECT list_filter(string_split(e, chr(1)), t -> t <> '') AS tk, wc
         |          FROM enc${i - 1})
         |    WHERE len(tk) >= 2)
         |  GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 1
         |), enc$i AS MATERIALIZED (
         |  SELECT word, wc, replace(e, m.pat, m.rw) AS e
         |  FROM enc${i - 1}, (SELECT chr(1) || lhs || chr(1) || chr(1) || rhs || chr(1) AS pat,
         |        chr(1) || lhs || rhs || chr(1) AS rw FROM m$i) m
         |)""".stripMargin
    }.mkString("\n")
    s"$init\n$stages"
  }

  private val bpeTokenizeSql: String = {
    val tail =
      s""", wt AS MATERIALIZED (
         |  SELECT word, p.tpos AS tpos, p.token AS token FROM (
         |    SELECT word, unnest(list_transform(range(1, len(tk) + 1),
         |      i -> struct_pack(tpos := i, token := tk[i]))) AS p
         |    FROM (SELECT word, list_filter(string_split(e, chr(1)), t -> t <> '') AS tk
         |          FROM enc20))
         |), vocab AS (
         |  SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS token_id
         |  FROM (SELECT DISTINCT token FROM wt)
         |), word_ids AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n_word_tokens,
         |    string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY tpos) AS ids
         |  FROM wt JOIN vocab USING (token) GROUP BY word
         |), dw AS (
         |  SELECT doc_id, q.pos AS pos, q.word AS word FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |      i -> struct_pack(pos := i, word := tk[i]))) AS q
         |    FROM (SELECT doc_id, $dToks AS tk FROM documents))
         |)
         |SELECT doc_id, CAST(sum(n_word_tokens) AS BIGINT) AS n_tokens,
         |  string_agg(ids, ' ' ORDER BY pos) AS token_ids
         |FROM dw JOIN word_ids USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    s"$bpeTrainerCtesSql\n$tail"
  }

  /** DSIR-style data selection (importance resampling over hashed n-gram
    * LM features — the published recipe for "select raw-corpus documents
    * that look like the target domain"): every document is scored by
    * Σ_features log p_target(f) − log p_raw(f) under Laplace-smoothed
    * hashed unigram+bigram bag models (256 md5 buckets; target = the
    * English slice, raw = the whole corpus), and the top quarter by weight
    * is selected. Engine-exactness: the 256 per-bucket log-ratios are
    * quantized to integer MICRO-units once (a 256-row broadcast dim), so
    * every per-document sum is exact integer arithmetic — order-free under
    * any partitioning — and the output weight is the integer itself.
    * Residual float dependency (ADVICE r13): the 256 pre-quantization
    * log-ratios are still computed independently as doubles on each side
    * (JVM Math.log vs DuckDB's libm log), so the integer-only contract
    * covers the document sums, not the bucket constants — a 1-ulp ln
    * disagreement landing exactly on a .5-micro rounding boundary would
    * flip one bucket's llr_c. No such boundary case exists in the fixtures
    * (the oracle gate would catch it as a hash mismatch, loudly); making
    * the contract genuinely integer-only would mean feeding both engines
    * one shared 256-row quantized fixture, which trades away the
    * independent-twin property the oracle exists to provide.
    * Scale shape: one linear feature explode, two 256-row aggregates, a
    * broadcast dim join, one doc-keyed sum, and the selection rank comes
    * from [[DistributedOrder.globalRowNumber]] (two-phase prefix), never a
    * single-partition window.
    */
  def dsirSelection(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass: the feature explode collapses straight into the
    // (doc, bucket) count frame, which is localCheckpoint()ed because it
    // feeds BOTH the distribution fit and the scoring join — without the
    // materialization each consumer would re-run the corpus explode.
    // (The in-row run-length variant was tried in the r17 optimization
    // round and measured SLOWER here: md5 inside a HOF lambda runs
    // interpreted, while the exploded md5 is whole-stage-codegen'd, and
    // the removed exchange was already collapsed by the checkpoint.)
    val db = Materialize.gated(Tables.documents(s, dir),
      Tables.documents(s, dir)
        .withColumn("tk", expr(toks))
        .select(col("doc_id"), col("lang"), explode(expr(
          "CASE WHEN size(tk) >= 2 THEN concat(tk, transform(sequence(1, size(tk) - 1), " +
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))) ELSE tk END")).as("f"))
        .withColumn("b", expr("CAST(conv(substring(md5(f), 1, 4), 16, 10) AS INT) % 256"))
        .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("n")),
      "dsir-db")
    // raw + target bucket masses in ONE 256-row aggregate (raw covers
    // every bucket any document hashes to by construction; absent target
    // mass is the smoothed 0)
    val dist = db.groupBy("b").agg(sum("n").as("cr"),
      sum(when(col("lang") === "en", col("n")).otherwise(lit(0L))).as("ct"))
    val tot = dist.agg(sum("cr").as("r_tot"), sum("ct").as("t_tot"))
    val llr = dist.crossJoin(broadcast(tot))
      .withColumn("llr_c", expr(
        "CAST(round((ln(ct + 1) - ln(t_tot + 256) - ln(cr + 1) + ln(r_tot + 256)) " +
          "* 1000000) AS BIGINT)"))
      .select("b", "llr_c")
    val scored = db.join(broadcast(llr), "b")
      .groupBy("doc_id", "lang")
      .agg(sum(col("n") * col("llr_c")).as("weight_c"))
    val ranked = DistributedOrder.globalRowNumber(Tables.documents(s, dir), scored, "rk",
      col("weight_c").desc, col("doc_id").asc)
    // the quota count reads the ranked frame (whose lineage is the
    // DistributedOrder checkpoint), never re-deriving the corpus pipeline
    val nDocs = ranked.agg(count(lit(1)).as("n_docs"))
    ranked
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("lang"),
        col("weight_c").as("dsir_weight_micros"),
        (col("rk") <= expr("n_docs div 4")).as("selected"))
      .orderBy("doc_id")
  }

  private val dsirSelectionSql =
    s"""WITH feats AS (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substr(md5(f), 1, 4)) AS INT) % 256 AS b
       |  FROM (
       |    SELECT doc_id, lang, unnest(list_concat(tk,
       |      list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]))) AS f
       |    FROM (SELECT doc_id, lang, $dToks AS tk FROM documents))
       |), rawb AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS cr FROM feats GROUP BY 1
       |), tgtb AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS ct FROM feats WHERE lang = 'en' GROUP BY 1
       |), dist AS (
       |  SELECT r.b AS b, r.cr AS cr, coalesce(t.ct, 0) AS ct
       |  FROM rawb r LEFT JOIN tgtb t USING (b)
       |), tot AS (
       |  SELECT CAST(sum(cr) AS BIGINT) AS r_tot, CAST(sum(ct) AS BIGINT) AS t_tot FROM dist
       |), llr AS (
       |  SELECT b, CAST(round((ln(ct + 1) - ln(t_tot + 256) - ln(cr + 1)
       |    + ln(r_tot + 256)) * 1000000) AS BIGINT) AS llr_c
       |  FROM dist, tot
       |), scored AS (
       |  SELECT doc_id, lang, CAST(sum(n * llr_c) AS BIGINT) AS weight_c
       |  FROM (SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS n
       |        FROM feats GROUP BY 1, 2, 3) db
       |  JOIN llr USING (b) GROUP BY 1, 2
       |), rk AS (
       |  SELECT *, row_number() OVER (ORDER BY weight_c DESC, doc_id) AS rk,
       |    count(*) OVER () AS n_docs
       |  FROM scored)
       |SELECT doc_id, lang, weight_c AS dsir_weight_micros,
       |  rk <= n_docs // 4 AS selected
       |FROM rk ORDER BY doc_id""".stripMargin

  /** Benchmark contamination at MULTIPLE published n-gram sizes (VERDICT
    * r11 #7): the fixed 3-gram of [[contamination]] exercises the operator
    * on the fixture's tiny vocabulary, but real decontamination standards
    * use longer windows (the 13-gram of the published eval-suite
    * protocols, with 8 as a mid setting). One pass shingles the corpus at
    * n ∈ {3, 8, 13} (union of three linear explodes), joins train against
    * the broadcast eval side keyed on (n, shingle), and reports the
    * overlap census per size — a clean corpus legitimately reports 0 at
    * the long sizes, and the guaranteed 3-row output (left join from the
    * size grid) makes "clean at 13-gram" an explicit answer rather than
    * an empty result.
    */
  def contaminationMulti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ns = Seq(3, 8, 13)
    val docs = Tables.documents(s, dir).withColumn("tk", expr(toks))
    def sh(n: Int): DataFrame = docs
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), lit(n).as("n"),
        explode(expr(s"word_shingles(tk, $n)")).as("shingle"))
    val allSh = ns.map(sh).reduce(_ unionAll _)
    val evalSh = allSh.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("n"), col("shingle"))
    val hits = allSh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalSh), Seq("n", "shingle"))
      .groupBy("n")
      .agg(count(lit(1)).as("n_shared_shingles"),
        countDistinct("doc_id").as("n_contaminated_docs"),
        countDistinct("eval_id").as("n_eval_docs_hit"))
    ns.toDF("n").join(hits, Seq("n"), "left")
      .na.fill(0L, Seq("n_shared_shingles", "n_contaminated_docs", "n_eval_docs_hit"))
      .orderBy("n")
  }

  private val contaminationMultiSql =
    s"""WITH tks AS (
       |  SELECT doc_id, $dToks AS tk FROM documents
       |), sizes AS (SELECT unnest([3, 8, 13]) AS n
       |), sh AS (
       |  SELECT doc_id, n, unnest(list_distinct(list_transform(
       |    range(1, len(tk) - n + 2),
       |    i -> array_to_string(tk[i:i+n-1], ' ')))) AS shingle
       |  FROM tks, sizes WHERE len(tk) >= n
       |), hits AS (
       |  SELECT t.n, CAST(count(*) AS BIGINT) AS n_shared_shingles,
       |    CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_contaminated_docs,
       |    CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs_hit
       |  FROM sh t JOIN sh e ON t.shingle = e.shingle AND t.n = e.n
       |    AND e.doc_id % 97 = 0 AND t.doc_id % 97 <> 0
       |  GROUP BY t.n)
       |SELECT s.n, coalesce(h.n_shared_shingles, 0) AS n_shared_shingles,
       |  coalesce(h.n_contaminated_docs, 0) AS n_contaminated_docs,
       |  coalesce(h.n_eval_docs_hit, 0) AS n_eval_docs_hit
       |FROM sizes s LEFT JOIN hits h ON s.n = h.n ORDER BY s.n""".stripMargin

  /** Quality-signal calibration (reliability diagram): decile-bucket a
    * cheap quality proxy (type-token ratio) and report each decile's
    * exact-duplicate rate — the check that a filter score actually
    * correlates with the outcome it gates before it is trusted in a
    * curation pipeline. The decile cut is ntile semantics over a TOTAL
    * order (score, doc_id), deterministic under score ties — computed as
    * the DISTRIBUTED global row number ([[DistributedOrder]]: range
    * partition + per-partition rank + broadcast offsets) fed through
    * NTile's closed form (the first n mod 10 buckets carry one extra
    * row), so no single-partition window touches row-level data and the
    * identical deciles come out at 100 TB. Duplicate membership reuses
    * the exact-dedup content hash.
    */
  def qualityCalibration(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("tk", expr(toks))
      .filter(size(col("tk")) >= 1)
      .withColumn("score", expr(
        "round(size(array_distinct(tk)) / CAST(size(tk) AS DOUBLE), 6)"))
      .withColumn("content_hash", sha2(
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).cast("binary"), 256))
    val dup = d.withColumn("n_copies",
      count(lit(1)).over(Window.partitionBy("content_hash")))
    val ranked = DistributedOrder
      .globalRowNumber(Tables.documents(s, dir), dup, "grank", col("score"), col("doc_id"))
      .crossJoin(broadcast(d.agg(count(lit(1)).as("n_tot"))))
    // NTile(10)'s exact bucket rule: with n = 10q + r rows, buckets
    // 1..r hold q+1 rows and buckets r+1..10 hold q (Spark and DuckDB
    // agree on this form, which is why the unchanged oracle still
    // hash-matches)
    ranked
      .withColumn("q", expr("n_tot div 10"))
      .withColumn("r", expr("n_tot % 10"))
      .withColumn("decile", expr(
        """CAST(CASE WHEN grank <= r * (q + 1)
          |  THEN (grank - 1) div (q + 1)
          |  ELSE r + (grank - r * (q + 1) - 1) div q END + 1 AS INT)"""
          .stripMargin))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("score"), 4).as("avg_score"),
        round(avg(when(col("n_copies") > 1, 1.0).otherwise(0.0)), 4).as("dup_rate"))
      .orderBy("decile")
  }

  private val qualityCalibrationSql =
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    round(len(list_distinct($dToks)) / CAST(len($dToks) AS DOUBLE), 6) AS score,
       |    sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash
       |  FROM documents WHERE len($dToks) >= 1
       |), dup AS (
       |  SELECT doc_id, score,
       |    count(*) OVER (PARTITION BY content_hash) AS n_copies
       |  FROM d
       |), cut AS (
       |  SELECT score, n_copies,
       |    ntile(10) OVER (ORDER BY score, doc_id) AS decile
       |  FROM dup)
       |SELECT CAST(decile AS INT) AS decile, CAST(count(*) AS BIGINT) AS n_docs,
       |  round(avg(score), 4) AS avg_score,
       |  round(avg(CASE WHEN n_copies > 1 THEN 1.0 ELSE 0.0 END), 4) AS dup_rate
       |FROM cut GROUP BY decile ORDER BY decile""".stripMargin

  // ------------------------------------------------------------------
  // Temperature-based source mixing (the mT5/XLM-R multilingual recipe):
  // sampling weight wᵢ ∝ nᵢ^α with α = 0.7 upsamples small sources and
  // damps the head — the standard fix for the "English swallows the
  // mixture" failure that uniform-target plans ([[mixturePlan]]) and
  // proportional sampling both have. Per-source token counts are exact
  // integers; the only transcendental is pow(n, 0.7) (the zipf-fit
  // runtime-ln precedent), and the weight normalizer is an ORDERED fold
  // over the |sources|-bounded frame so no cross-row double sum depends
  // on partitioning. Expected tokens land on an integer grid before the
  // per-source epoch ratio.
  // ------------------------------------------------------------------
  def temperatureMixing(s: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr(s"size($toks)").cast("long")).as("src_tokens"))
      .withColumn("w", expr("pow(CAST(src_tokens AS DOUBLE), 0.7)"))
    val norm = perSrc.agg(
      sum("src_tokens").as("total_tokens"),
      expr("aggregate(array_sort(collect_list(struct(source, w))), 0D," +
        " (a, p) -> a + p.w)").as("wsum"))
    perSrc.crossJoin(broadcast(norm))
      .withColumn("weight", expr("w / wsum"))
      .withColumn("expected_tokens", expr(
        "CAST(round(CAST(total_tokens AS DOUBLE) * w / wsum) AS BIGINT)"))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        round(col("weight"), 4).as("weight"),
        col("expected_tokens"),
        round(expr("CAST(expected_tokens AS DOUBLE) / CAST(src_tokens AS DOUBLE)"), 4)
          .as("epochs_over_source"))
      .orderBy("source")
  }

  private val temperatureMixingSql =
    s"""WITH per_src AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len($dToks)) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY source),
       |pw AS (
       |  SELECT *, pow(CAST(src_tokens AS DOUBLE), 0.7) AS w FROM per_src),
       |norm AS (
       |  SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
       |    list_sum(list_transform(list(w ORDER BY source), x -> x)) AS wsum
       |  FROM pw)
       |SELECT source, n_docs, src_tokens,
       |  round(w / wsum, 4) AS weight,
       |  CAST(round(CAST(total_tokens AS DOUBLE) * w / wsum) AS BIGINT)
       |    AS expected_tokens,
       |  round(CAST(CAST(round(CAST(total_tokens AS DOUBLE) * w / wsum) AS BIGINT)
       |      AS DOUBLE) / CAST(src_tokens AS DOUBLE), 4)
       |    AS epochs_over_source
       |FROM pw, norm ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // OOV-rate census: per-source share of tokens OUTSIDE the reference
  // vocabulary (top-200 tokens of source src0 by frequency, ties broken
  // by token) — the tokenizer-fit check before mixing a new source into
  // a training run: a high OOV rate means the tokenizer will shatter
  // this source into bytes. Scale shape: the vocabulary is built from
  // one (token) hash-agg + top-k and BROADCAST; the corpus side is one
  // explode + broadcast anti-lookup + per-source aggregate — no
  // corpus-sized shuffle on the token key.
  // ------------------------------------------------------------------
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(expr(toks)).as("tk"))
    val vocab = tok.filter(col("source") === "src0")
      .groupBy("tk").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tk")).limit(200)
      .select(col("tk"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("tk"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy("source")
  }

  private val oovRateSql =
    s"""WITH tok AS (
       |  SELECT source, unnest($dToks) AS tk FROM documents),
       |vocab AS (
       |  SELECT tk FROM (
       |    SELECT tk, count(*) AS c FROM tok WHERE source = 'src0' GROUP BY 1)
       |  ORDER BY c DESC, tk LIMIT 200)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  round(CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS oov_rate
       |FROM tok LEFT JOIN vocab v USING (tk)
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // Label-balance census: the class-distribution health check a corpus
  // gets before anything trains on its labels — per-language counts and
  // shares plus the three standard whole-distribution figures stamped on
  // every row (entropy, effective class count e^H, max/min imbalance
  // ratio). The per-class ln work is |classes|-bounded; the entropy fold
  // is ORDERED over the collapsed class frame.
  // ------------------------------------------------------------------
  def labelBalance(s: SparkSession, dir: String): DataFrame = {
    val cls = Tables.documents(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val tot = cls.agg(sum("n_docs").as("n_tot"),
      max("n_docs").as("n_max"), min("n_docs").as("n_min"),
      expr("""aggregate(array_sort(collect_list(named_struct('k', lang,
        |  'v', CAST(n_docs AS DOUBLE) * ln(CAST(n_docs AS DOUBLE))))),
        |  0D, (a, e) -> a + e.v)""".stripMargin).as("snln"))
      .withColumn("entropy", log(col("n_tot").cast("double"))
        - col("snln") / col("n_tot"))
    cls.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_tot"), 6).as("share"),
        round(col("entropy"), 4).as("entropy"),
        round(exp(col("entropy")), 4).as("effective_classes"),
        round(col("n_max").cast("double") / col("n_min"), 4).as("imbalance_ratio"))
      .orderBy("lang")
  }

  private val labelBalanceSql =
    """WITH cls AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_tot,
      |    CAST(max(n_docs) AS BIGINT) AS n_max, CAST(min(n_docs) AS BIGINT) AS n_min,
      |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
      |      list(CAST(n_docs AS DOUBLE) * ln(CAST(n_docs AS DOUBLE)) ORDER BY lang)),
      |      (a, v) -> a + v) AS snln
      |  FROM cls),
      |e AS (
      |  SELECT n_tot, n_max, n_min,
      |    ln(CAST(n_tot AS DOUBLE)) - snln / n_tot AS entropy
      |  FROM tot)
      |SELECT lang, n_docs,
      |  round(CAST(n_docs AS DOUBLE) / n_tot, 6) AS share,
      |  round(entropy, 4) AS entropy,
      |  round(exp(entropy), 4) AS effective_classes,
      |  round(CAST(n_max AS DOUBLE) / n_min, 4) AS imbalance_ratio
      |FROM cls, e ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // Train/eval split leakage: how many documents in each split share an
  // OPENING (the md5 of their first 8 tokens) with a document in another
  // split — the leakage detector every split assignment needs BEFORE
  // training (curation_contamination catches n-gram overlap; this
  // catches near-verbatim openings that crossed the split boundary —
  // the fixture, like most real corpora, has shared boilerplate
  // openings but no byte-identical documents). Split rule =
  // curation_train_split's md5 bucket; flow is counted directionally
  // (docs in to_split sharing a fingerprint with from_split). Scale
  // shape: collapse to (fingerprint, split, n) first, then one keyed
  // self-join of the collapsed frame — never row-level pairs.
  // ------------------------------------------------------------------
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 2), 16, 10) AS INT)"))
      .withColumn("split", expr(
        "CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val' ELSE 'test' END"))
      .withColumn("h", expr(s"md5(array_join(slice($toks, 1, 8), ' '))"))
    val hs = d.groupBy("h", "split").agg(count(lit(1)).as("n"))
    hs.select(col("h"), col("split").as("from_split"))
      .join(hs.select(col("h"), col("split").as("to_split"), col("n")), Seq("h"))
      .filter(col("from_split") =!= col("to_split"))
      .groupBy("from_split", "to_split")
      .agg(countDistinct("h").as("n_shared_hashes"), sum("n").as("n_leaked_docs"))
      .orderBy("from_split", "to_split")
  }

  private val splitLeakageSql =
    s"""WITH d AS (
      |  SELECT CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val'
      |      ELSE 'test' END AS split,
      |    md5(array_to_string(($dToks)[1:8], ' ')) AS h
      |  FROM (SELECT *, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT)
      |        AS bucket FROM documents)),
      |hs AS (SELECT h, split, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2)
      |SELECT a.split AS from_split, b.split AS to_split,
      |  CAST(count(DISTINCT a.h) AS BIGINT) AS n_shared_hashes,
      |  CAST(sum(b.n) AS BIGINT) AS n_leaked_docs
      |FROM hs a JOIN hs b ON a.h = b.h AND a.split <> b.split
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** k-anonymity census over quasi-identifiers — the privacy audit a
    * dataset release runs BEFORE publication: group the corpus by the
    * attacker-linkable attribute combination (language, source, length
    * bucket), measure every equivalence-class size k, and report the
    * class/document mass in the standard risk buckets (k=1 unique →
    * re-identifiable, k∈[2,4] → below the usual k≥5 bar, then 5-9, 10+).
    * The headline figure is the share of documents living below k=5.
    * Scale shape: ONE hash-agg on the QI tuple, then a 4-row bucket
    * rollup with a broadcast 1-row total — corpus-linear, map-side
    * combinable; exact integers everywhere, one rounded share division.
    */
  def kAnonymity(s: SparkSession, dir: String): DataFrame = {
    val classes = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        expr("CAST(n_chars div 32 AS INT)").as("len_bucket"))
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("k"))
    val total = classes.agg(sum("k").as("n_total"))
    classes
      .withColumn("k_bucket",
        when(col("k") === 1, "1_unique")
          .when(col("k") <= 4, "2_to_4")
          .when(col("k") <= 9, "5_to_9")
          .otherwise("10_plus"))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n_classes"), sum("k").as("n_docs"))
      .crossJoin(broadcast(total))
      .select(col("k_bucket"), col("n_classes"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total").cast("double"), 4)
          .as("doc_share"))
      .orderBy("k_bucket")
  }

  private val kAnonymitySql =
    """WITH classes AS (
      |  SELECT lang, source, CAST(n_chars // 32 AS INT) AS len_bucket,
      |    CAST(count(*) AS BIGINT) AS k
      |  FROM documents GROUP BY 1, 2, 3
      |), tot AS (SELECT CAST(sum(k) AS BIGINT) AS n_total FROM classes),
      |bucketed AS (
      |  SELECT CASE WHEN k = 1 THEN '1_unique'
      |              WHEN k <= 4 THEN '2_to_4'
      |              WHEN k <= 9 THEN '5_to_9'
      |              ELSE '10_plus' END AS k_bucket,
      |    CAST(count(*) AS BIGINT) AS n_classes, CAST(sum(k) AS BIGINT) AS n_docs
      |  FROM classes GROUP BY 1)
      |SELECT k_bucket, n_classes, n_docs,
      |  round(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 4) AS doc_share
      |FROM bucketed CROSS JOIN tot ORDER BY k_bucket""".stripMargin

  /** Tokenizer fertility by language — the metric tokenizer evaluations
    * report per language (how many subword tokens a word costs, and how
    * many characters a token carries) under the LEARNED k=20 BPE vocab:
    * a language the tokenizer serves poorly shows high fertility, which
    * inflates its effective training cost and context usage. Reuses the
    * trained vocabulary-level encodings ([[bpeTrainedEncodings]] — the
    * per-word token count reads off the doubled-delimiter encoding), so
    * the corpus-side work is one explode + a keyed word join + one
    * lang-keyed exact-integer aggregate; the two reported ratios are
    * single divisions over exact totals. The DuckDB twin replays the full
    * 20-stage trainer (shared CTE prefix with the tokenize oracle).
    */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val enc = bpeTrainedEncodings(s, dir)
      .select(col("word"),
        ((length(col("e")) - length(expr(s"replace(e, '$Sep', '')"))) / 2 - 1)
          .cast("long").as("n_word_tokens"))
    Tables.documents(s, dir)
      .select(col("lang"), explode(expr(toks)).as("word"))
      .join(enc, "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("n_word_tokens").as("n_tokens"),
        sum(length(col("word"))).cast("long").as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words").cast("double"), 4)
          .as("tokens_per_word"),
        round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 4)
          .as("chars_per_token"))
      .orderBy("lang")
  }

  private val tokenizerFertilitySql: String =
    s"""$bpeTrainerCtesSql
       |, wtok AS MATERIALIZED (
       |  SELECT word,
       |    CAST(len(list_filter(string_split(e, chr(1)), t -> t <> '')) AS BIGINT)
       |      AS n_word_tokens
       |  FROM enc20
       |), dw AS (
       |  SELECT lang, unnest($dToks) AS word FROM documents
       |)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_word_tokens) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(n_word_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
       |    AS tokens_per_word,
       |  round(CAST(sum(length(word)) AS DOUBLE) / CAST(sum(n_word_tokens) AS DOUBLE), 4)
       |    AS chars_per_token
       |FROM dw JOIN wtok USING (word)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- unigram

  /** Unigram-LM (SentencePiece-style) tokenizer training via Viterbi
    * hard-EM — the OTHER production tokenizer trainer next to the BPE
    * family (VERDICT r15 "what's missing" #2). Recipe: (1) seed vocab =
    * every single character plus the top-40 substrings of length 2–4 by
    * occurrence-weighted frequency over the distinct-word frame; (2) two
    * EM iterations, each an E-step (Viterbi segmentation of every
    * distinct word under the current piece scores — a length-bounded DP)
    * and an M-step (piece counts from the segmentations, re-normalized;
    * unused pieces prune away because only segmented pieces re-enter the
    * vocab). Words longer than 12 chars are excluded from training in
    * BOTH engines (the max-piece-length/word-length filter every
    * SentencePiece config applies).
    *
    * Determinism contract: piece scores are integer MICRO-NATS
    * (floor(ln(count/total)·1e6 + 0.5), same floor(x+0.5) spelling both
    * sides), so the DP and its argmax are exact integer arithmetic —
    * order-free and engine-exact. The backtrace tie-break is fixed
    * (score, then LONGER piece): at a given end position each candidate
    * length is a distinct piece, so (score, length) is a total order.
    * Residual float dependency is the same one [[dsirSelection]]
    * documents: the pre-quantization ln runs independently per engine
    * (JVM Math.log vs libm), and a 1-ulp disagreement landing exactly on
    * a .5-micro boundary would flip one piece's score. Unlike the r15
    * Kneser–Ney lesson, the OUTPUT never reads the quantization grid
    * (outputs are integer counts + a round-6 share over exact totals),
    * so the boundary risk is the ~1e-10/piece random class, not a
    * systematic grid collision.
    *
    * Scale shape: every DP runs once per DISTINCT word (vocabulary-sized,
    * the BPE-trainer amortization) inside codegen'd HOF folds; the piece
    * vocab is bounded (charset + 40), so the per-iteration collect and
    * the broadcast score map are O(vocab), never corpus-sized; censuses
    * are hash aggregates.
    */
  private val UniBigLit = "CAST(-1000000000000 AS BIGINT)"

  private def uniCandF(l: Int): String =
    s"IF(j >= $l, element_at(acc, j - $l + 1) + " +
      s"coalesce(try_element_at(qm, substr(word, j - $l + 1, $l)), $UniBigLit), $UniBigLit)"

  /** Forward Viterbi DP: best(0..L) as a BIGINT array built by one fold. */
  private val uniForwardExpr: String =
    s"aggregate(sequence(1, length(word)), array(CAST(0 AS BIGINT)), " +
      s"(acc, j) -> concat(acc, array(greatest(${(1 to 4).map(uniCandF).mkString(", ")}))))"

  private def uniCandB(l: Int): String =
    s"IF(acc.pos >= $l, element_at(best, acc.pos - $l + 1) + " +
      s"coalesce(try_element_at(qm, substr(word, acc.pos - $l + 1, $l)), $UniBigLit), $UniBigLit)"

  /** Backtrace fold: walk right-to-left re-deriving the argmax at each
    * position (ties prefer the longer piece), prepending pieces.
    */
  private val uniBackExpr: String = {
    def res(l: Int) =
      s"named_struct('pos', acc.pos - $l, " +
        s"'ps', concat(array(substr(word, acc.pos - $l + 1, $l)), acc.ps))"
    val c = (1 to 4).map(uniCandB)
    val body =
      s"CASE WHEN ${c(3)} >= ${c(2)} AND ${c(3)} >= ${c(1)} AND ${c(3)} >= ${c(0)} THEN ${res(4)} " +
        s"WHEN ${c(2)} >= ${c(1)} AND ${c(2)} >= ${c(0)} THEN ${res(3)} " +
        s"WHEN ${c(1)} >= ${c(0)} THEN ${res(2)} ELSE ${res(1)} END"
    s"aggregate(sequence(1, length(word)), " +
      s"named_struct('pos', length(word), 'ps', cast(array() as array<string>)), " +
      s"(acc, u) -> IF(acc.pos = 0, acc, $body), acc -> acc.ps)"
  }

  private def uniWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(expr(toks)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .filter(length(col("word")).between(1, 12))

  private def uniQuantize(cnt: Long, total: Long): Long =
    math.floor(math.log(cnt.toDouble / total.toDouble) * 1e6 + 0.5).toLong

  /** Seed vocabulary with integer micro-nat scores: all single chars plus
    * the top-40 multi-char substrings (length ≤ 4) by weighted frequency.
    * Both arms are bounded collects (charset-sized / top-40).
    */
  private def uniSeedVocab(s: SparkSession, dir: String): Map[String, Long] = {
    val census = uniWords(s, dir)
      .select(col("wc"), explode(expr(
        "flatten(transform(sequence(1, length(word)), " +
          "i -> transform(sequence(1, least(4, length(word) - i + 1)), " +
          "l -> substr(word, i, l))))")).as("piece"))
      .groupBy("piece").agg(sum("wc").as("cnt"))
    val singles = census.filter(length(col("piece")) === 1).collect()
    val multis = census.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(40).collect()
    val all = (singles ++ multis).map(r => r.getString(0) -> r.getLong(1))
    val total = all.map(_._2).sum
    all.map { case (p, c) => p -> uniQuantize(c, total) }.toMap
  }

  /** The EM trace: for each of the 2 iterations, the (score map used by
    * the E-step, segmented frame) pair, plus the final counts and total.
    * Exposed so InvariantSpec can replay the likelihood-monotonicity laws
    * on the actual states.
    */
  private[graft] def unigramEmTrace(s: SparkSession, dir: String)
      : (Seq[(Map[String, Long], DataFrame)], DataFrame, Long) =
    // memoized per (session, fixture) like [[bpeTrained]] — unigram_train,
    // tokenizer_compare and the InvariantSpec laws all read one EM run
    graft.Derived.get(s, "curation.unigramEmTrace", DedupQueries.docsFile(dir))(
      unigramEmTraceUncached(s, dir))

  private def unigramEmTraceUncached(s: SparkSession, dir: String)
      : (Seq[(Map[String, Long], DataFrame)], DataFrame, Long) = {
    val words = uniWords(s, dir)
    var vocab = uniSeedVocab(s, dir)
    val trace = scala.collection.mutable.ArrayBuffer[(Map[String, Long], DataFrame)]()
    var lastCounts: DataFrame = null
    var lastTotal = 0L
    for (_ <- 1 to 2) {
      // materialized (the BPE-trainer per-step policy): the two HOF
      // folds are interpreted (ArrayAggregate has no codegen), and
      // CollapseProject would otherwise inline the forward-DP fold into
      // every candidate reference of the backtrace fold AND into every
      // downstream consumer — materializing the vocabulary-sized frame
      // once per iteration makes each fold evaluate exactly once per word
      val seg = Materialize.gated(Tables.documents(s, dir), words
        .withColumn("qm", typedLit(vocab))
        .withColumn("best", expr(uniForwardExpr))
        .withColumn("seg", expr(uniBackExpr)), "unigram-seg")
      trace += ((vocab, seg))
      val counts = seg.select(col("wc"), explode(col("seg")).as("piece"))
        .groupBy("piece").agg(sum("wc").as("cnt"))
      val rows = counts.collect() // piece-vocab bounded
      lastTotal = rows.map(_.getLong(1)).sum
      vocab = rows.map(r => r.getString(0) -> uniQuantize(r.getLong(1), lastTotal)).toMap
      lastCounts = counts
    }
    (trace.toSeq, lastCounts, lastTotal)
  }

  def unigramTrain(s: SparkSession, dir: String): DataFrame = {
    val (_, counts, total) = unigramEmTrace(s, dir)
    counts.select(col("piece"),
        length(col("piece")).cast("long").as("piece_len"),
        col("cnt"),
        round(col("cnt").cast("double") / lit(total.toDouble), 6).as("share"))
      .orderBy(col("cnt").desc, col("piece").asc)
  }

  /** DuckDB twin of one Viterbi E-step under vocab CTE `vcte` — the DP is
    * unrolled as one nested subquery LAYER per position (12 forward + 12
    * backtrace). Deliberately NOT list_reduce: DuckDB 1.0.0's list_reduce
    * returned another row's fold result under filter/projection plan
    * variations in testing (vector alignment), and an oracle built on a
    * shaky primitive proves nothing. Plain scalar layers are boring and
    * correct; lateral aliases are avoided too (they inline-expand, which
    * is exponential across a 12-step chain).
    */
  private def uniEStepSql(vcte: String): String = {
    val big = "CAST(-1000000000000 AS BIGINT)"
    var q = "SELECT word, wc, m, CAST(0 AS BIGINT) AS b0 FROM uws, " +
      s"(SELECT map(list(piece ORDER BY piece), list(q ORDER BY piece)) AS m FROM $vcte)"
    for (j <- 1 to 12) {
      val cands = (1 to 4).filter(_ <= j).map(l =>
        s"b${j - l} + coalesce(m[word[${j - l + 1} : $j]][1], $big)")
      val body = if (cands.size == 1) cands.head else s"greatest(${cands.mkString(", ")})"
      q = s"SELECT *, CASE WHEN length(word) >= $j THEN $body ELSE NULL END AS b$j FROM (\n$q)"
    }
    val bl = (0 to 12).map(j => s"coalesce(b$j, $big)").mkString("[", ", ", "]")
    q = s"SELECT word, wc, m, $bl AS bl, length(word) AS p0, CAST([] AS VARCHAR[]) AS s0 FROM (\n$q)"
    for (k <- 1 to 12) {
      val p = s"p${k - 1}"
      def cand(l: Int) =
        s"CASE WHEN $p >= $l THEN bl[$p - $l + 1] + " +
          s"coalesce(m[word[$p - $l + 1 : $p]][1], $big) ELSE $big END"
      val (c1, c2, c3, c4) = (cand(1), cand(2), cand(3), cand(4))
      val lk =
        s"CASE WHEN ($c4) >= ($c3) AND ($c4) >= ($c2) AND ($c4) >= ($c1) THEN 4 " +
          s"WHEN ($c3) >= ($c2) AND ($c3) >= ($c1) THEN 3 " +
          s"WHEN ($c2) >= ($c1) THEN 2 ELSE 1 END"
      q = s"SELECT * EXCLUDE (lk_), " +
        s"CASE WHEN $p = 0 THEN s${k - 1} ELSE list_prepend(word[$p - lk_ + 1 : $p], s${k - 1}) END AS s$k, " +
        s"CASE WHEN $p = 0 THEN 0 ELSE $p - lk_ END AS p$k FROM (\n" +
        s"SELECT *, $lk AS lk_ FROM (\n$q))"
    }
    s"SELECT word, wc, s12 AS seg FROM (\n$q)"
  }

  /** Shared unigram CTE chain (uws … uc2), WITHOUT the leading WITH, so
    * the compare twin can append it after the BPE trainer CTEs.
    */
  private def uniCtesSql: String =
    s"""uws AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest($dToks) AS word FROM documents)
       |  GROUP BY 1 HAVING length(word) BETWEEN 1 AND 12
       |), useed_census AS (
       |  SELECT piece, CAST(sum(wc) AS BIGINT) AS cnt FROM (
       |    SELECT wc, unnest(flatten(list_transform(range(1, length(word) + 1),
       |      i -> list_transform(range(1, least(4, length(word) - i + 1) + 1),
       |        l -> word[i : i + l - 1])))) AS piece
       |    FROM uws)
       |  GROUP BY 1
       |), useed AS (
       |  SELECT piece, cnt FROM useed_census WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
       |    FROM useed_census WHERE length(piece) >= 2) WHERE rk <= 40
       |), uv0 AS (
       |  SELECT piece, CAST(floor(ln(CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM useed)) * 1e6 + 0.5) AS BIGINT) AS q
       |  FROM useed
       |), ue1 AS MATERIALIZED (${uniEStepSql("uv0")}
       |), uc1 AS (
       |  SELECT piece, CAST(sum(wc) AS BIGINT) AS cnt FROM (
       |    SELECT wc, unnest(seg) AS piece FROM ue1) GROUP BY 1
       |), uv1 AS (
       |  SELECT piece, CAST(floor(ln(CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM uc1)) * 1e6 + 0.5) AS BIGINT) AS q
       |  FROM uc1
       |), ue2 AS MATERIALIZED (${uniEStepSql("uv1")}
       |), uc2 AS (
       |  SELECT piece, CAST(sum(wc) AS BIGINT) AS cnt FROM (
       |    SELECT wc, unnest(seg) AS piece FROM ue2) GROUP BY 1
       |)""".stripMargin

  private def unigramTrainSql: String =
    s"""WITH $uniCtesSql
       |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, cnt,
       |  round(CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM uc2), 6) AS share
       |FROM uc2 ORDER BY cnt DESC, piece""".stripMargin

  /** BPE-vs-unigram fertility comparison per language — the evaluation a
    * tokenizer bake-off reports: tokens/word for the SAME corpus slice
    * under the k=20 BPE vocab ([[bpeTrainedEncodings]]) and the trained
    * unigram model (the final E-step's segmentations). Corpus words
    * longer than 12 chars are excluded from both arms (the unigram
    * training cap, applied symmetrically so the two token totals cover
    * the identical word population). The DuckDB twin replays BOTH
    * trainers (the 20 BPE stages + the full unigram EM chain).
    */
  def tokenizerCompare(s: SparkSession, dir: String): DataFrame = {
    val bpe = bpeTrainedEncodings(s, dir)
      .select(col("word"),
        ((length(col("e")) - length(expr(s"replace(e, '$Sep', '')"))) / 2 - 1)
          .cast("long").as("bpe_word_tokens"))
    val (trace, _, _) = unigramEmTrace(s, dir)
    val uni = trace.last._2.select(col("word"), size(col("seg")).cast("long").as("uni_word_tokens"))
    Tables.documents(s, dir)
      .select(col("lang"), explode(expr(toks)).as("word"))
      .filter(length(col("word")) <= 12)
      .join(bpe, "word")
      .join(uni, "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("bpe_word_tokens").as("bpe_tokens"),
        sum("uni_word_tokens").as("unigram_tokens"))
      .select(col("lang"), col("n_words"), col("bpe_tokens"), col("unigram_tokens"),
        round(col("bpe_tokens").cast("double") / col("n_words").cast("double"), 4)
          .as("bpe_tokens_per_word"),
        round(col("unigram_tokens").cast("double") / col("n_words").cast("double"), 4)
          .as("unigram_tokens_per_word"))
      .orderBy("lang")
  }

  private def tokenizerCompareSql: String =
    s"""$bpeTrainerCtesSql
       |, $uniCtesSql
       |, bwtok AS (
       |  SELECT word,
       |    CAST(len(list_filter(string_split(e, chr(1)), t -> t <> '')) AS BIGINT)
       |      AS bpe_word_tokens
       |  FROM enc20
       |), uwtok AS (
       |  SELECT word, CAST(len(seg) AS BIGINT) AS uni_word_tokens FROM ue2
       |), cdw AS (
       |  SELECT lang, word FROM (SELECT lang, unnest($dToks) AS word FROM documents)
       |  WHERE length(word) <= 12
       |)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(bpe_word_tokens) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(uni_word_tokens) AS BIGINT) AS unigram_tokens,
       |  round(CAST(sum(bpe_word_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
       |    AS bpe_tokens_per_word,
       |  round(CAST(sum(uni_word_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
       |    AS unigram_tokens_per_word
       |FROM cdw JOIN bwtok USING (word) JOIN uwtok USING (word)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Vocabulary-size curve: corpus fertility (tokens/word) as a function
    * of BPE merge budget k ∈ {0, 5, 10, 20}, read off PREFIXES of the one
    * learned merge sequence — the compression-vs-vocab-size curve a
    * tokenizer bake-off plots before fixing the vocab budget. Because BPE
    * merges are learned greedily, the k-merge tokenizer IS the first k
    * merges of the k=20 run, so the whole curve costs ONE trainer loop
    * (the per-step localCheckpoint makes each snapshot a handle, not a
    * recompute). Scale shape: everything runs on the distinct-word frame;
    * the curve aggregate is occurrence-weighted exact-integer sums. The
    * DuckDB twin reads the same stages (enc0/enc5/enc10/enc20) of the
    * shared 20-stage trainer CTE chain. Law (InvariantSpec): n_words is
    * constant across k, tokens_per_word is non-increasing in k, and k=0
    * tokenizes to exactly the corpus character count.
    */
  def vocabCurve(s: SparkSession, dir: String): DataFrame = {
    val (fin, _, snaps) = bpeTrained(s, dir)
    Seq(0, 5, 10, 20).map { k =>
      snaps.getOrElse(k, fin)
        .select(col("wc"),
          ((length(col("e")) - length(expr(s"replace(e, '$Sep', '')"))) / 2 - 1)
            .cast("long").as("n_tok"))
        .agg(sum("wc").as("n_words"),
          sum(col("wc") * col("n_tok")).as("total_tokens"))
        .select(lit(k.toLong).as("n_merges"), col("n_words"), col("total_tokens"),
          round(col("total_tokens").cast("double") / col("n_words").cast("double"), 4)
            .as("tokens_per_word"))
    }.reduce(_.unionByName(_)).orderBy("n_merges")
  }

  private def vocabCurveSql: String =
    s"""$bpeTrainerCtesSql
       |, curve AS (
       |  SELECT 0 AS n_merges, wc, e FROM enc0
       |  UNION ALL SELECT 5, wc, e FROM enc5
       |  UNION ALL SELECT 10, wc, e FROM enc10
       |  UNION ALL SELECT 20, wc, e FROM enc20
       |)
       |SELECT n_merges, n_words, total_tokens,
       |  round(CAST(total_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
       |    AS tokens_per_word
       |FROM (
       |  SELECT CAST(n_merges AS BIGINT) AS n_merges,
       |    CAST(sum(wc) AS BIGINT) AS n_words,
       |    CAST(sum(wc * len(list_filter(string_split(e, chr(1)), t -> t <> '')))
       |      AS BIGINT) AS total_tokens
       |  FROM curve GROUP BY 1)
       |ORDER BY n_merges""".stripMargin

  // ------------------------------------------------------------------
  // Trained quality classifier (VERDICT r16 "what's missing" #1): the
  // CCNet/LLaMA-style MODEL-BASED quality gate — a linear classifier over
  // hashed bag-of-token features (the text_hashing_features kernel's
  // 256-bucket md5 path), trained by a small fixed number of unrolled
  // full-batch gradient-descent steps against a WEAK label distilled from
  // the repo's own cheap quality proxy (type-token ratio ≥ 0.5 with ≥ 10
  // tokens — the same score curation_quality_calibration deciles), then
  // applied as a percentile score gate with a calibration report.
  //
  // Integer-exact by construction so the DuckDB twin replays training
  // bit-for-bit: scores live on a micro-probability grid (0..1_000_000),
  // the link is the HARD sigmoid clamp(½ + m, 0, 1) (exact in integer
  // arithmetic — a transcendental exp would make the trajectory hinge on
  // libm ulps), gradients are BIGINT sums of (y·1e6 − p)·x, and the only
  // division is the per-step learning rate floor(g / (n_docs · 80)) — a
  // double division whose floor is provably exact here (|g| ≤ ~1e13 keeps
  // the quotient's double error ~1e-11 while non-exact quotients sit ≥
  // 1/(n·80) ≈ 1e-7 from any integer). Step count 4 and divisor 80 were
  // fixed by measurement: the largest step that keeps the squared loss
  // strictly decreasing at sf0.001/0.01/0.1 (InvariantSpec pins it).
  //
  // Scale shape: features are built in ONE corpus pass (explode → (doc,
  // bucket) hash-agg → per-doc array, localCheckpointed); each GD step is
  // one map-side pass over that checkpoint (margin = HOF fold against the
  // broadcast 257-entry weight map) plus a 257-key gradient hash-agg —
  // map-side combinable, so per-step shuffle traffic is O(buckets ×
  // partitions), not corpus-sized. The weight vector itself is the only
  // driver state (≤ 257 longs). The decile cut and the top-half gate use
  // the DistributedOrder global row number (range partition + offsets),
  // never a single-partition window.
  // ------------------------------------------------------------------

  private val ClfSteps = 4
  private val ClfLrDiv = 80.0

  /** Per-doc hashed features + weak label: (doc_id, source, y, fx) with
    * fx = bias struct (b = −1, x = 1) ++ one (bucket, clipped count ≤ 10)
    * struct per active bucket. localCheckpoint: five scoring passes and
    * four gradient passes read it; re-tokenizing the corpus per pass would
    * multiply the one legitimate corpus scan by nine.
    */
  private[graft] def clfFeats(s: SparkSession, dir: String): DataFrame = {
    val lab = Tables.documents(s, dir)
      .withColumn("tk", expr(toks))
      .filter(size(col("tk")) >= 1)
      .withColumn("y", expr(
        """CAST(CASE WHEN size(array_distinct(tk)) / CAST(size(tk) AS DOUBLE) >= 0.5
          |  AND size(tk) >= 10 THEN 1 ELSE 0 END AS BIGINT)""".stripMargin))
      .select(col("doc_id"), col("source"), col("y"), col("tk"))
    // size-gated (r18): the feature frame is corpus-sized
    Materialize.gated(Tables.documents(s, dir),
      lab.select(col("doc_id"), col("source"), col("y"),
          explode(col("tk")).as("token"))
        .withColumn("b", expr(
          "CAST(conv(substring(md5(CAST(token AS BINARY)), 1, 4), 16, 10) AS INT) % 256"))
        .groupBy("doc_id", "source", "y", "b")
        .agg(least(count(lit(1)), lit(10L)).cast("long").as("x"))
        .groupBy("doc_id", "source", "y")
        .agg(collect_list(struct(col("b"), col("x"))).as("fx0"))
        .withColumn("fx", expr(
          "concat(array(named_struct('b', -1, 'x', CAST(1 AS BIGINT))), fx0)"))
        .drop("fx0"),
      "clf-feats")
  }

  /** Margin + hard-sigmoid score under weight map `w` — order-free exact
    * integer sums, so collect_list's nondeterministic array order cannot
    * move a single micro.
    */
  private[graft] def clfScored(feats: DataFrame, w: Map[Int, Long]): DataFrame =
    feats.withColumn("wm", typedLit(w))
      .withColumn("m", expr(
        """aggregate(fx, CAST(0 AS BIGINT),
          |  (acc, f) -> acc + coalesce(element_at(wm, f.b), CAST(0 AS BIGINT)) * f.x)"""
          .stripMargin))
      .withColumn("p", expr(
        "greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT), 500000 + m))"))
      .drop("wm", "m")

  /** Squared training loss in micro² units under `w` — exposed for the
    * InvariantSpec per-step monotonicity law (exact BIGINT: ≤ 1e12 per doc).
    */
  private[graft] def clfLoss(feats: DataFrame, w: Map[Int, Long]): Long =
    clfScored(feats, w)
      .agg(sum((col("y") * lit(1000000L) - col("p"))
        * (col("y") * lit(1000000L) - col("p"))).as("l"))
      .collect()(0).getLong(0)

  /** The trained trajectory: feats + weight snapshots w0 (zeros) … w4.
    * Memoized per (session, fixture) — the trained model is a persisted
    * corpus asset in the production story (trained once per snapshot,
    * applied by every downstream gate), and both declared queries plus the
    * InvariantSpec laws read the same trajectory.
    */
  private def clfFeatsMemoized(s: SparkSession, dir: String): DataFrame =
    graft.Derived.get(s, "curation.clfFeats", DedupQueries.docsFile(dir))(
      clfFeats(s, dir))

  private[graft] def clfTrain(s: SparkSession, dir: String): (DataFrame, Seq[Map[Int, Long]]) =
    clfTrainOn(s, dir, "full", identity)

  /** The trainer, parameterized by the TRAIN slice (a filter over the
    * shared feature frame): the full-corpus gate trains on everything;
    * the holdout row trains on doc_id % 5 != 0 and scores the complement.
    * Returns the FULL feature frame plus the weight trajectory — scoring
    * any slice under any snapshot is the caller's choice.
    */
  private[graft] def clfTrainOn(s: SparkSession, dir: String, tag: String,
      trainSlice: DataFrame => DataFrame): (DataFrame, Seq[Map[Int, Long]]) =
    graft.Derived.get(s, "curation.clfTrain", DedupQueries.docsFile(dir), tag) {
      val feats = clfFeatsMemoized(s, dir)
      val train = trainSlice(feats)
      val nDiv = train.count().toDouble * ClfLrDiv
      var w = Map.empty[Int, Long]
      val trace = scala.collection.mutable.ArrayBuffer(w)
      for (_ <- 1 to ClfSteps) {
        val g = clfScored(train, w)
          .select(col("y"), col("p"), explode(col("fx")).as("f"))
          .groupBy(col("f.b").as("b"))
          .agg(sum((col("y") * lit(1000000L) - col("p")) * col("f.x")).as("g"))
          .collect() // bucket-bounded: ≤ 257 rows
        w = g.map { r =>
          val b = r.getInt(0)
          b -> (w.getOrElse(b, 0L) +
            math.floor(r.getLong(1) / nDiv).toLong)
        }.toMap
        trace += w
      }
      (feats, trace.toSeq)
    }

  /** Calibration report of the trained gate: decile-bucket the final
    * scores (total order (p, doc_id) — the qualityCalibration NTile closed
    * form over a DistributedOrder global rank) and report each decile's
    * weak-label rate. A useful classifier shows label_rate rising with the
    * decile; the fixture's trained model separates perfectly (0.00 →
    * 1.00), which is the reliability evidence a production gate ships with.
    */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val (feats, ws) = clfTrain(s, dir)
    val scored = clfScored(feats, ws.last)
    val ranked = DistributedOrder
      .globalRowNumber(Tables.documents(s, dir), scored, "grank", col("p"), col("doc_id"))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n_tot"))))
    ranked
      .withColumn("q", expr("n_tot div 10"))
      .withColumn("r", expr("n_tot % 10"))
      .withColumn("decile", expr(
        """CAST(CASE WHEN grank <= r * (q + 1)
          |  THEN (grank - 1) div (q + 1)
          |  ELSE r + (grank - r * (q + 1) - 1) div q END + 1 AS INT)"""
          .stripMargin))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("p").cast("double")) / 1e6, 4).as("avg_score"),
        round(avg(col("y").cast("double")), 4).as("label_rate"))
      .orderBy("decile")
  }

  /** The gate applied, CCNet-style: keep the TOP HALF of the corpus by
    * trained score (a percentile gate — production quality filters select
    * by score percentile, not by the raw sigmoid midpoint, which the
    * deliberately-small GD steps approach only asymptotically). Reports
    * per-source yield plus agreement with the weak label.
    */
  def qualityClassifierApply(s: SparkSession, dir: String): DataFrame = {
    val (feats, ws) = clfTrain(s, dir)
    val scored = clfScored(feats, ws.last)
    val ranked = DistributedOrder
      .globalRowNumber(Tables.documents(s, dir), scored, "grank", col("p"), col("doc_id"))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n_tot"))))
      .withColumn("kept", col("grank") * 2 > col("n_tot"))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        round(avg(when(col("kept"), 1.0).otherwise(0.0)), 4).as("keep_rate"),
        round(avg(when(col("kept") === (col("y") === 1), 1.0).otherwise(0.0)), 4)
          .as("gate_agreement"))
      .orderBy("source")
  }

  /** Shared DuckDB twin CTE chain: lab → feats → w0 → (s1 g1 w1) … (s4 g4
    * w4) → s5 (final scores). Generated per step like the BPE/unigram
    * trainer twins; every stage MATERIALIZED because s_t feeds both g_t
    * and (via w_t) s_{t+1}.
    */
  /** CTE-chain builder parameterized by the TRAIN and SCORE slices (SQL
    * predicates over doc_id). Training stages read feats_tr; the final
    * scoring stage LEFT-joins the weights so a held-out doc whose bucket
    * the train slice never saw scores it at weight 0 — exactly the Spark
    * side's coalesce inside the margin fold. For the full-corpus queries
    * (train = score = TRUE) the left join is value-identical to the inner
    * join it replaced (w$ClfSteps covers every bucket feats carries).
    */
  private def clfCtesFor(trainPred: String, scorePred: String): String = {
    val init =
      s"""lab AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST(CASE WHEN len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE) >= 0.5
         |      AND len(tk) >= 10 THEN 1 ELSE 0 END AS BIGINT) AS y, tk
         |  FROM (SELECT doc_id, source, $dToks AS tk FROM documents)
         |  WHERE len(tk) >= 1
         |), feats AS MATERIALIZED (
         |  SELECT doc_id, source, y, bucket, x FROM (
         |    SELECT doc_id, source, y, bucket, CAST(least(count(*), 10) AS BIGINT) AS x
         |    FROM (SELECT doc_id, source, y,
         |            CAST(('0x' || substr(md5(token), 1, 4)) AS INT) % 256 AS bucket
         |          FROM (SELECT doc_id, source, y, unnest(tk) AS token FROM lab))
         |    GROUP BY 1, 2, 3, 4)
         |  UNION ALL
         |  SELECT doc_id, source, y, -1 AS bucket, CAST(1 AS BIGINT) AS x FROM lab
         |), feats_tr AS MATERIALIZED (
         |  SELECT * FROM feats WHERE $trainPred
         |), nn AS (SELECT CAST(count(*) AS DOUBLE) * $ClfLrDiv AS dv FROM lab WHERE $trainPred
         |), w0 AS (SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS w FROM feats_tr)"""
        .stripMargin
    val steps = (1 to ClfSteps).map { t =>
      s""", s$t AS MATERIALIZED (
         |  SELECT f.doc_id, f.source, f.y,
         |    greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT),
         |      500000 + CAST(sum(w.w * f.x) AS BIGINT))) AS p
         |  FROM feats_tr f JOIN w${t - 1} w USING (bucket)
         |  GROUP BY 1, 2, 3
         |), g$t AS (
         |  SELECT f.bucket, CAST(sum((f.y * 1000000 - p.p) * f.x) AS BIGINT) AS g
         |  FROM feats_tr f JOIN s$t p USING (doc_id) GROUP BY 1
         |), w$t AS MATERIALIZED (
         |  SELECT w.bucket,
         |    w.w + CAST(floor(CAST(g.g AS DOUBLE) / nn.dv) AS BIGINT) AS w
         |  FROM w${t - 1} w JOIN g$t g USING (bucket), nn
         |)""".stripMargin
    }.mkString("\n")
    val fin =
      s""", s${ClfSteps + 1} AS MATERIALIZED (
         |  SELECT f.doc_id, f.source, f.y,
         |    greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT),
         |      500000 + CAST(sum(coalesce(w.w, 0) * f.x) AS BIGINT))) AS p
         |  FROM (SELECT * FROM feats WHERE $scorePred) f
         |  LEFT JOIN w$ClfSteps w USING (bucket)
         |  GROUP BY 1, 2, 3
         |)""".stripMargin
    s"WITH $init\n$steps\n$fin"
  }

  private def clfCtesSql: String = clfCtesFor("TRUE", "TRUE")

  private def qualityClassifierSql: String =
    s"""${clfCtesSql}
       |, cut AS (
       |  SELECT y, p, ntile(10) OVER (ORDER BY p, doc_id) AS decile
       |  FROM s${ClfSteps + 1})
       |SELECT CAST(decile AS INT) AS decile, CAST(count(*) AS BIGINT) AS n_docs,
       |  round(avg(CAST(p AS DOUBLE)) / 1e6, 4) AS avg_score,
       |  round(avg(CAST(y AS DOUBLE)), 4) AS label_rate
       |FROM cut GROUP BY decile ORDER BY decile""".stripMargin

  /** Held-out evaluation of the trained gate — the generalization check a
    * production quality classifier ships with: train on doc_id % 5 != 0,
    * score the UNSEEN complement, and report the held-out decile
    * calibration. A bucket the train slice never saw scores at weight 0
    * on both engines (coalesce in the margin fold / LEFT-joined weights
    * in the twin). Rising label_rate on unseen documents is the evidence
    * the gate learned the signal rather than memorizing doc identities.
    */
  def qualityClassifierHoldout(s: SparkSession, dir: String): DataFrame = {
    val (feats, ws) = clfTrainOn(s, dir, "tr5",
      _.filter(col("doc_id") % 5 =!= 0))
    val scored = clfScored(feats.filter(col("doc_id") % 5 === 0), ws.last)
    val ranked = DistributedOrder
      .globalRowNumber(Tables.documents(s, dir), scored, "grank", col("p"), col("doc_id"))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n_tot"))))
    ranked
      .withColumn("q", expr("n_tot div 10"))
      .withColumn("r", expr("n_tot % 10"))
      .withColumn("decile", expr(
        """CAST(CASE WHEN grank <= r * (q + 1)
          |  THEN (grank - 1) div (q + 1)
          |  ELSE r + (grank - r * (q + 1) - 1) div q END + 1 AS INT)"""
          .stripMargin))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("p").cast("double")) / 1e6, 4).as("avg_score"),
        round(avg(col("y").cast("double")), 4).as("label_rate"))
      .orderBy("decile")
  }

  private def qualityClassifierHoldoutSql: String =
    s"""${clfCtesFor("doc_id % 5 <> 0", "doc_id % 5 = 0")}
       |, cut AS (
       |  SELECT y, p, ntile(10) OVER (ORDER BY p, doc_id) AS decile
       |  FROM s${ClfSteps + 1})
       |SELECT CAST(decile AS INT) AS decile, CAST(count(*) AS BIGINT) AS n_docs,
       |  round(avg(CAST(p AS DOUBLE)) / 1e6, 4) AS avg_score,
       |  round(avg(CAST(y AS DOUBLE)), 4) AS label_rate
       |FROM cut GROUP BY decile ORDER BY decile""".stripMargin

  private def qualityClassifierApplySql: String =
    s"""${clfCtesSql}
       |, nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM s${ClfSteps + 1})
       |, rk AS (
       |  SELECT source, y, p, row_number() OVER (ORDER BY p, doc_id) AS rn
       |  FROM s${ClfSteps + 1})
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN rn * 2 > n_tot THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  round(avg(CASE WHEN rn * 2 > n_tot THEN 1.0 ELSE 0.0 END), 4) AS keep_rate,
       |  round(avg(CASE WHEN (rn * 2 > n_tot) = (y = 1) THEN 1.0 ELSE 0.0 END), 4)
       |    AS gate_agreement
       |FROM rk, nt GROUP BY source ORDER BY source""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("curation_quality_classifier", qualityClassifier,
      Some(qualityClassifierSql)),
    QueryDef("curation_quality_classifier_apply", qualityClassifierApply,
      Some(qualityClassifierApplySql)),
    QueryDef("curation_quality_classifier_holdout", qualityClassifierHoldout,
      Some(qualityClassifierHoldoutSql)),
    QueryDef("curation_vocab_curve", vocabCurve, Some(vocabCurveSql)),
    QueryDef("curation_unigram_train", unigramTrain, Some(unigramTrainSql)),
    QueryDef("curation_tokenizer_compare", tokenizerCompare, Some(tokenizerCompareSql)),
    QueryDef("curation_tokenizer_fertility", tokenizerFertility,
      Some(tokenizerFertilitySql)),
    QueryDef("curation_k_anonymity", kAnonymity, Some(kAnonymitySql)),
    QueryDef("curation_oov_rate", oovRate, Some(oovRateSql)),
    QueryDef("curation_label_balance", labelBalance, Some(labelBalanceSql)),
    QueryDef("curation_split_leakage", splitLeakage, Some(splitLeakageSql)),
    QueryDef("curation_temperature_mixing", temperatureMixing,
      Some(temperatureMixingSql)),
    QueryDef("curation_quality_calibration", qualityCalibration, Some(qualityCalibrationSql)),
    QueryDef("curation_ngram_novelty", ngramNovelty, Some(ngramNoveltySql)),
    QueryDef("curation_psi_drift", psiDrift, Some(psiDriftSql)),
    QueryDef("curation_bpe_pairs", bpePairs, Some(bpePairsSql)),
    QueryDef("curation_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    QueryDef("curation_bpe_train", bpeTrain, Some(bpeTrainSql)),
    QueryDef("curation_bpe_tokenize", bpeTokenize, Some(bpeTokenizeSql)),
    QueryDef("curation_dsir_selection", dsirSelection, Some(dsirSelectionSql)),
    QueryDef("curation_contamination_multi", contaminationMulti,
      Some(contaminationMultiSql)),
    QueryDef("curation_importance_sample", importanceSample, Some(importanceSampleSql)),
    QueryDef("curation_perplexity_bucket", perplexityBucket, Some(perplexityBucketSql)),
    QueryDef("curation_builtin_mask", builtinMask, Some(builtinMaskSql)),
    QueryDef("curation_cdc_chunks", cdcChunks, Some(cdcChunksSql)),
    QueryDef("curation_quality_survivor", qualitySurvivor, Some(qualitySurvivorSql)),
    QueryDef("curation_url_canonical", urlCanonical, Some(urlCanonicalSql)),
    QueryDef("curation_host_pagerank", hostPagerank, Some(hostPagerankSql)),
    QueryDef("curation_chunking", chunking, Some(chunkingSql)),
    QueryDef("pipeline_curation_full", curationFull, Some(curationFullSql)),
    QueryDef("curation_domain_blocklist", domainBlocklist, Some(domainBlocklistSql)),
    QueryDef("curation_train_split", trainSplit, Some(trainSplitSql)),
    QueryDef("curation_boilerplate", boilerplate, Some(boilerplateSql)),
    QueryDef("curation_token_packing", tokenPacking, Some(tokenPackingSql)),
    QueryDef("curation_contamination", contamination, Some(contaminationSql)),
    QueryDef("curation_stratified_sample", stratifiedSample, Some(stratifiedSampleSql)),
    QueryDef("curation_pii_redaction", piiRedaction, Some(piiRedactionSql)),
    QueryDef("curation_mixture_plan", mixturePlan, Some(mixturePlanSql)),
    QueryDef("curation_outlier_gate", outlierGate, Some(outlierGateSql))
  )
}
