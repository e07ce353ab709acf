package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY.md §2.9 X3):
  * language ID, quality scoring, token counting, fingerprinting.
  * Pure column expressions (whole-stage codegen; one scan pass each),
  * every formula reproduced verbatim in the DuckDB oracle.
  */
object TextAnalysis {

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is")

  /** X3a: stopword-ratio language ID heuristic: tokenize, score the
    * fraction of tokens in the English stopword set, threshold.
    */
  def langId(docs: DataFrame, threshold: Double = 0.05): DataFrame = {
    val swArray = stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    // the ground-truth `lang` column exists on the harness table but
    // not on an arbitrary corpus — carry it through only if present
    val langCol =
      if (docs.columns.contains("lang")) Seq(col("lang")) else Seq.empty
    docs
      .withColumn("t", split(col("text"), " "))
      .withColumn("sw_ratio",
        expr(s"size(filter(t, w -> array_contains($swArray, w)))")
          .cast("double") / size(col("t")))
      .select(col("doc_id") +: langCol :+
        round(col("sw_ratio"), 6).as("sw_ratio") :+
        when(col("sw_ratio") > threshold, "en").otherwise("other")
          .as("pred_lang"): _*)
      .orderBy(col("doc_id"))
  }

  def langIdSql(threshold: Double = 0.05): String = {
    val swList = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS toks
       |  FROM documents
       |), scored AS (
       |  SELECT doc_id, lang,
       |         CAST(len(list_filter(toks, w -> list_contains($swList, w)))
       |              AS DOUBLE) / len(toks) AS sw_ratio
       |  FROM t
       |)
       |SELECT doc_id, lang, round(sw_ratio, 6) AS sw_ratio,
       |       CASE WHEN sw_ratio > $threshold THEN 'en' ELSE 'other' END
       |         AS pred_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** X3a': character-n-gram language ID — score each language by
    * occurrence counts of its characteristic trigrams (substring
    * counting via length arithmetic: (len(t) − len(replace(t,g,'')))
    * / len(g), a pure codegen expression in both engines), predict
    * the argmax. The classic n-gram-profile method in filter form.
    */
  val enGrams: Seq[String] = Seq("th", "he", "ing", " a ")
  val esGrams: Seq[String] = Seq(" el", " la", "os ", "ción")

  private def gramCountExpr(grams: Seq[String], textExpr: String): String =
    grams.map { g =>
      val esc = g.replace("'", "''")
      s"(length($textExpr) - length(replace($textExpr, '$esc', ''))) / ${g.length}"
    }.mkString(" + ")

  /** The n-gram scoring projection shared by [[langIdNgram]] and the
    * confusion-matrix eval ([[langIdConfusion]]) — one definition so
    * the eval grades exactly the predictor it claims to.
    */
  private def ngramScored(docs: DataFrame): DataFrame =
    docs
      .withColumn("score_en", expr(gramCountExpr(enGrams, "text")))
      .withColumn("score_es", expr(gramCountExpr(esGrams, "text")))
      .withColumn("pred_lang",
        when(col("score_en") > col("score_es"), "en")
          .when(col("score_es") > col("score_en"), "es")
          .otherwise("und"))

  def langIdNgram(docs: DataFrame): DataFrame =
    ngramScored(docs)
      .select(col("doc_id"), col("score_en"), col("score_es"),
        col("pred_lang"))
      .orderBy(col("doc_id"))

  /** The shared prediction CASE — spliced into both n-gram oracles. */
  private def ngramPredCaseSql: String =
    s"""CASE WHEN ${gramCountExpr(enGrams, "text")} >
       |          ${gramCountExpr(esGrams, "text")} THEN 'en'
       |     WHEN ${gramCountExpr(esGrams, "text")} >
       |          ${gramCountExpr(enGrams, "text")} THEN 'es'
       |     ELSE 'und' END""".stripMargin

  def langIdNgramSql: String =
    s"""SELECT doc_id,
       |  ${gramCountExpr(enGrams, "text")} AS score_en,
       |  ${gramCountExpr(esGrams, "text")} AS score_es,
       |  $ngramPredCaseSql AS pred_lang
       |FROM documents ORDER BY doc_id""".stripMargin

  /** X3a'': lang-id confusion matrix — the EVAL table for the x19
    * n-gram predictor against the corpus's ground-truth `lang`
    * column: per (actual, predicted) cell, count and the share of
    * the actual class (6dp rate of two exact longs). The table that
    * says whether a cheap heuristic is safe to gate training data
    * with — per-class recall collapsing for one language is
    * invisible in x19's per-doc output and obvious here (same eval
    * face as x107 for ANN and x89 for the classifier).
    *
    * Scale shape: the map-side scoring projection, one hash agg to
    * the ≤\|langs\|·3 cell matrix, one co-keyed class-total join on
    * the bounded matrix.
    */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    val cell = ngramScored(docs)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val tot = cell.groupBy(col("lang").as("lang2"))
      .agg(sum(col("n")).as("n_lang"))
    cell.join(tot, col("lang") === col("lang2"))
      .select(col("lang"), col("pred_lang"), col("n"), col("n_lang"),
        round(col("n").cast("double") / col("n_lang"), 6).as("rate"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  def langIdConfusionSql: String =
    s"""WITH pred AS (
       |  SELECT lang, $ngramPredCaseSql AS pred_lang FROM documents
       |), cell AS (
       |  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY 1, 2
       |), tot AS (
       |  SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
       |  FROM cell GROUP BY 1
       |)
       |SELECT c.lang, c.pred_lang, c.n, t.n_lang,
       |       round(CAST(c.n AS DOUBLE) / t.n_lang, 6) AS rate
       |FROM cell c JOIN tot t ON t.lang = c.lang
       |ORDER BY 1, 2""".stripMargin

  /** X3b: quality scoring — token count, mean word length, unique
    * ratio, and a composite keep/flag verdict (the shape of a
    * pre-training quality filter).
    */
  def quality(docs: DataFrame): DataFrame =
    docs
      .withColumn("t", split(col("text"), " "))
      .withColumn("n_tokens", size(col("t")))
      .withColumn("avg_wlen",
        (length(col("text")) - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens"))
      .withColumn("uniq_ratio",
        size(array_distinct(col("t"))).cast("double") / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_wlen"), 6).as("avg_wlen"),
        round(col("uniq_ratio"), 6).as("uniq_ratio"),
        when(col("n_tokens") < 20, "too_short")
          .when(col("uniq_ratio") < 0.3, "repetitive")
          .otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))

  val qualitySql: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, len(toks) AS n_tokens,
      |         CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks)
      |           AS avg_wlen,
      |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      |           AS uniq_ratio
      |  FROM t
      |)
      |SELECT doc_id, n_tokens, round(avg_wlen, 6) AS avg_wlen,
      |       round(uniq_ratio, 6) AS uniq_ratio,
      |       CASE WHEN n_tokens < 20 THEN 'too_short'
      |            WHEN uniq_ratio < 0.3 THEN 'repetitive'
      |            ELSE 'keep' END AS verdict
      |FROM m ORDER BY doc_id""".stripMargin

  /** X3c: token counting — whitespace tokens plus a chars/4 BPE-style
    * estimate (the standard quick token-budget proxy).
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      ceil(length(col("text")).cast("double") / 4.0).cast("long")
        .as("bpe_est"),
      length(col("text")).as("n_chars_text"))
      .orderBy(col("doc_id"))

  val tokenStatsSql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
      |       CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT)
      |         AS bpe_est,
      |       length(text) AS n_chars_text
      |FROM documents ORDER BY doc_id""".stripMargin

  /** X3: per-source corpus-health rollup — the daily dashboard a
    * pipeline owner reads: document and distinct-content counts,
    * exact-dup rate, quality keep-rate, mean uniqueness, and total
    * character volume, one row per source/domain.
    *
    * One scan + one hash aggregate keyed on `source` (map-side
    * partials; the distinct-digest count is Spark's standard
    * two-phase distinct-aggregate expansion — linear, key-grouped).
    * The float mean is integer-quantized per document (millionths as
    * BIGINT) before summing, so the result is immune to parallel
    * summation order in either engine.
    */
  /** The per-document health projection shared by the batch rollup
    * and the streaming running rollup (DocumentsStream
    * .corpusHealthRunning) — ONE definition so batch/stream parity is
    * structural, not parallel maintenance.
    */
  private[graft] def healthProjection(docs: DataFrame): DataFrame =
    docs
      .withColumn("t", split(col("text"), " "))
      .withColumn("nt", size(col("t")))
      .withColumn("uq",
        size(array_distinct(col("t"))).cast("double") / col("nt"))
      .withColumn("uq6", round(col("uq") * 1000000, 0).cast("long"))
      .withColumn("keep",
        (col("nt") >= 20 && col("uq") >= 0.3).cast("long"))

  def corpusHealth(docs: DataFrame): DataFrame =
    healthProjection(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        sum(col("keep")).as("n_keep"),
        sum(col("uq6")).as("s_uq6"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        round(col("n_keep").cast("double") / col("n_docs"), 6)
          .as("keep_rate"),
        round(col("s_uq6").cast("double") / (col("n_docs") * 1000000.0), 6)
          .as("mean_uniq"),
        col("total_chars"))
      .orderBy(col("source"))

  val corpusHealthSql: String =
    """WITH m AS (
      |  SELECT source, md5(text) AS dg, n_chars,
      |         len(string_split(text, ' ')) AS nt,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |           / len(string_split(text, ' ')) AS uq
      |  FROM documents
      |), q AS (
      |  SELECT source, dg, n_chars,
      |         CAST(round(uq * 1000000, 0) AS BIGINT) AS uq6,
      |         CASE WHEN nt >= 20 AND uq >= 0.3 THEN 1 ELSE 0 END AS keep
      |  FROM m
      |)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT dg) AS BIGINT) AS n_distinct,
      |  round(1.0 - CAST(count(DISTINCT dg) AS DOUBLE) / count(*), 6)
      |    AS dup_rate,
      |  round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS keep_rate,
      |  round(CAST(sum(uq6) AS DOUBLE) / (count(*) * 1000000.0), 6)
      |    AS mean_uniq,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM q GROUP BY source ORDER BY source""".stripMargin

  /** X3/X6: truncation-loss report — the packing-policy table: for
    * each candidate max-sequence-length cap, per source, how many
    * documents exceed the cap and how many tokens a hard truncation
    * would discard. This is the table that picks `max_seq_len` for
    * the x38 sequence-packing stage (and budgets the x98 epoch mix)
    * BEFORE anyone pays for a tokenization run: cap too low silently
    * deletes the long-document tail, cap too high wastes pad/packing
    * slots — both only visible here.
    *
    * All counters are exact integer sums; the single rate column is
    * one 6dp-rounded division of two exact longs (deterministic in
    * both engines). Scale shape: one scan, a |lens|-way map-side
    * explode, one hash aggregate keyed (source, max_len) —
    * |sources|·|lens| output rows, no joins, no windows.
    */
  def truncationLoss(docs: DataFrame, lens: Seq[Int]): DataFrame =
    docs
      .select(col("source"), size(split(col("text"), " ")).as("nt"))
      .withColumn("max_len", explode(array(lens.sorted.map(lit): _*)))
      .groupBy(col("source"), col("max_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("nt") > col("max_len")).cast("long")).as("docs_over"),
        sum(col("nt").cast("long")).as("total_tokens"),
        sum(greatest(col("nt") - col("max_len"), lit(0)).cast("long"))
          .as("tokens_dropped"))
      .withColumn("drop_rate", round(
        col("tokens_dropped").cast("double") / col("total_tokens"), 6))
      .orderBy(col("source"), col("max_len"))

  def truncationLossSql(lens: Seq[Int]): String = {
    val arr = lens.sorted.mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT source, len(string_split(text, ' ')) AS nt FROM documents
       |), x AS (
       |  SELECT source, nt, max_len FROM t, UNNEST($arr) AS u(max_len)
       |)
       |SELECT source, max_len,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN nt > max_len THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_over,
       |  CAST(sum(nt) AS BIGINT) AS total_tokens,
       |  CAST(sum(CASE WHEN nt > max_len THEN nt - max_len ELSE 0 END)
       |    AS BIGINT) AS tokens_dropped,
       |  round(CAST(sum(CASE WHEN nt > max_len THEN nt - max_len ELSE 0 END)
       |    AS DOUBLE) / sum(nt), 6) AS drop_rate
       |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** X3d: content fingerprint — md5 of the sorted distinct token set
    * (OpenRefine-style normalization fingerprint), grouped to find
    * same-content docs regardless of word order/duplication.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", md5(concat_ws(" ",
        array_sort(array_distinct(split(lower(col("text")), " "))))))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("fp"))

  /** X3e: TF-IDF top terms per document — term frequency from one
    * token explosion, document frequency from the same aggregated
    * table (shared exchange), idf = ln(N/df) with N broadcast from a
    * 1-row count. Top-k per doc is a per-partition TakeOrdered via
    * row_number. All shuffles are key-grouped; nothing global.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("w"))
    tf.join(dfreq, "w")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("w"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  def tfidfTopTermsSql(k: Int): String =
    s"""WITH tf AS (
       |  SELECT doc_id, w, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  GROUP BY 1, 2
       |), dfreq AS (
       |  SELECT w, count(*) AS df FROM tf GROUP BY 1
       |), scored AS (
       |  SELECT tf.doc_id, tf.w, tf.tf, dfreq.df,
       |         tf.tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
       |                    / dfreq.df) AS tfidf
       |  FROM tf JOIN dfreq ON tf.w = dfreq.w
       |), ranked AS (
       |  SELECT doc_id, w, tf, df, tfidf,
       |         CAST(row_number() OVER (PARTITION BY doc_id
       |           ORDER BY tfidf DESC, w) AS INT) AS rk
       |  FROM scored
       |)
       |SELECT doc_id, rk, w, tf, df, round(tfidf, 6) AS tfidf
       |FROM ranked WHERE rk <= $k
       |ORDER BY doc_id, rk""".stripMargin

  val fingerprintSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |         md5(array_to_string(
      |           list_sort(list_distinct(string_split(lower(text), ' '))),
      |           ' ')) AS fp
      |  FROM documents
      |)
      |SELECT fp, count(*) AS n, min(doc_id) AS keep_id
      |FROM f GROUP BY fp ORDER BY fp""".stripMargin

  /** Gopher-style repetition metrics: the fraction of a document's
    * word n-grams that are repeats (1 − distinct/total) and the share
    * of the single most frequent n-gram — the standard quality-filter
    * signals for boilerplate/looping text. One n-gram explosion into
    * a two-level hash aggregate (per-(doc, gram) counts, then per-doc
    * rollup), all map-side-combinable; docs shorter than n words emit
    * no row. The `repetitive` verdict compares the UNROUNDED ratio so
    * both engines branch on identical bits.
    */
  def repetition(docs: DataFrame, n: Int = 3,
      dupCap: Double = 0.2): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', slice(t, i+1, $n)))"))
        .as("g"))
    val dupFrac = lit(1.0) -
      col("n_distinct").cast("double") / col("n_grams").cast("double")
    grams
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        round(dupFrac, 6).as("dup_frac"),
        round(col("top_count").cast("double") /
          col("n_grams").cast("double"), 6).as("top_frac"),
        (dupFrac > dupCap).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  def repetitionSql(n: Int = 3, dupCap: Double = 0.2): String =
    s"""WITH g AS (
       |  SELECT doc_id, array_to_string(t[i+1:i+$n], ' ') AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t
       |        FROM documents) q,
       |       UNNEST(range(len(t)-${n - 1})) AS r(i)
       |  WHERE len(t) >= $n
       |), pc AS (
       |  SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2
       |), st AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
       |         count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_count
       |  FROM pc GROUP BY 1
       |)
       |SELECT doc_id, n_grams, n_distinct,
       |  CAST(round(CAST(CAST(
       |    1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |    AS VARCHAR) AS DECIMAL(38,16)), 6) AS DOUBLE) AS dup_frac,
       |  CAST(round(CAST(CAST(
       |    CAST(top_count AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |    AS VARCHAR) AS DECIMAL(38,16)), 6) AS DOUBLE) AS top_frac,
       |  (1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE))
       |    > CAST('$dupCap' AS DOUBLE) AS repetitive
       |FROM st ORDER BY doc_id""".stripMargin

  /** X3: Gopher-style rule filter (Rae et al. 2021 §A1.1 adapted to
    * this corpus' shape) — the per-rule verdict table a curation
    * pipeline audits before dropping documents. Unlike x08's single
    * verdict, every rule is its own boolean column so rule-level
    * pass rates can be monitored and thresholds tuned per source:
    *   r_count — token count within [minTokens, maxTokens]
    *   r_wlen  — mean word length within [minWlen, maxWlen]
    *   r_stop  — at least minStop distinct stopwords present
    *   r_alpha — fraction of tokens containing a letter ≥ minAlpha
    *   r_rep   — top-unigram mass ≤ repCap (the unigram face of
    *             Gopher's duplicate-n-gram rules; x35 covers n-grams)
    * keep = every rule passes. Rules evaluate on the 6dp-rounded
    * metrics so boundary docs get the same verdict in both dialects.
    *
    * Scale shape: one map-only metrics pass (split/intersect/filter
    * are codegen'd array expressions) plus the top-unigram aggregate
    * — (doc_id, w) hash count with map-side partials, max per doc,
    * joined back co-keyed on doc_id. No windows, nothing pairwise.
    */
  /** The shared base metrics (everything except top_frac, which the
    * batch and serving forms compute differently).
    */
  private def gopherBase(docs: DataFrame): DataFrame = {
    val swArray = stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    docs
      .withColumn("t", split(col("text"), " "))
      .withColumn("n_tokens", size(col("t")))
      .withColumn("mean_wlen", round(
        (length(col("text")) - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens"), 6))
      .withColumn("stop_hits",
        size(array_intersect(array_distinct(col("t")),
          expr(swArray))))
      .withColumn("alpha_frac", round(
        expr("size(filter(t, x -> x rlike '[A-Za-z]'))").cast("double") /
          col("n_tokens"), 6))
  }

  /** Rule verdicts from the rounded metrics — shared verbatim by the
    * batch operator and the streaming twin, so ingest-time keeps are
    * exactly the batch keeps.
    */
  private def gopherVerdicts(df: DataFrame,
      minTokens: Int, maxTokens: Int, minWlen: Double, maxWlen: Double,
      minStop: Int, minAlpha: Double, repCap: Double): DataFrame =
    df
      .withColumn("r_count",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
      .withColumn("r_wlen",
        col("mean_wlen") >= minWlen && col("mean_wlen") <= maxWlen)
      .withColumn("r_stop", col("stop_hits") >= minStop)
      .withColumn("r_alpha", col("alpha_frac") >= minAlpha)
      .withColumn("r_rep", col("top_frac") <= repCap)
      .select(col("doc_id"), col("n_tokens"), col("mean_wlen"),
        col("stop_hits"), col("alpha_frac"), col("top_frac"),
        col("r_count"), col("r_wlen"), col("r_stop"), col("r_alpha"),
        col("r_rep"),
        (col("r_count") && col("r_wlen") && col("r_stop") &&
          col("r_alpha") && col("r_rep")).as("keep"))

  def gopherRules(docs: DataFrame,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minWlen: Double = 3.0, maxWlen: Double = 10.0, minStop: Int = 2,
      minAlpha: Double = 0.8, repCap: Double = 0.1): DataFrame = {
    val top = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_c"))
    gopherVerdicts(
      gopherBase(docs)
        .join(top, Seq("doc_id"))
        .withColumn("top_frac",
          round(col("top_c").cast("double") / col("n_tokens"), 6)),
      minTokens, maxTokens, minWlen, maxWlen, minStop, minAlpha, repCap)
      .orderBy(col("doc_id"))
  }

  /** The SERVING form of x77 — identical verdicts from one map-only
    * projection: the top-unigram count comes from an array fold over
    * the row's own tokens (O(distinct·n) per document) instead of the
    * corpus-keyed aggregate, so a streaming arrival is scored with
    * ZERO state and no shuffle. Values are bit-identical to the
    * batch operator's (same counts, same rounding).
    */
  def gopherRulesMapOnly(docs: DataFrame,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minWlen: Double = 3.0, maxWlen: Double = 10.0, minStop: Int = 2,
      minAlpha: Double = 0.8, repCap: Double = 0.1): DataFrame =
    gopherVerdicts(
      gopherBase(docs)
        .withColumn("top_c", expr(
          """array_max(transform(array_distinct(t),
            |  w -> size(filter(t, x -> x = w))))""".stripMargin)
          .cast("long"))
        .withColumn("top_frac",
          round(col("top_c").cast("double") / col("n_tokens"), 6)),
      minTokens, maxTokens, minWlen, maxWlen, minStop, minAlpha, repCap)

  /** The x77 per-doc verdict chain as a CTE body (final relation:
    * `verdicts` — the x77 projection incl. the five per-rule
    * booleans and `keep`) — shared by the standalone rules oracle
    * and the x113 funnel oracle (the x112 `deconCtesSql` idiom).
    */
  private[graft] def gopherCtesSql(
      minTokens: Int = 50, maxTokens: Int = 100000,
      minWlen: Double = 3.0, maxWlen: Double = 10.0, minStop: Int = 2,
      minAlpha: Double = 0.8, repCap: Double = 0.1): String = {
    val swList = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""t AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks
       |  FROM documents
       |), tc AS (
       |  SELECT doc_id, w, count(*) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2
       |), tp AS (
       |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c FROM tc GROUP BY 1
       |), m AS (
       |  SELECT t.doc_id, CAST(len(toks) AS INT) AS n_tokens,
       |    round(CAST(length(text) - (len(toks) - 1) AS DOUBLE)
       |      / len(toks), 6) AS mean_wlen,
       |    CAST(len(list_intersect(list_distinct(toks), $swList)) AS INT)
       |      AS stop_hits,
       |    round(CAST(len(list_filter(toks,
       |        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
       |      / len(toks), 6) AS alpha_frac,
       |    round(CAST(tp.top_c AS DOUBLE) / len(toks), 6) AS top_frac
       |  FROM t JOIN tp ON t.doc_id = tp.doc_id
       |), verdicts AS (
       |  SELECT doc_id, n_tokens, mean_wlen, stop_hits, alpha_frac,
       |    top_frac,
       |    n_tokens >= $minTokens AND n_tokens <= $maxTokens AS r_count,
       |    mean_wlen >= $minWlen AND mean_wlen <= $maxWlen AS r_wlen,
       |    stop_hits >= $minStop AS r_stop,
       |    alpha_frac >= $minAlpha AS r_alpha,
       |    top_frac <= $repCap AS r_rep,
       |    (n_tokens >= $minTokens AND n_tokens <= $maxTokens)
       |      AND (mean_wlen >= $minWlen AND mean_wlen <= $maxWlen)
       |      AND stop_hits >= $minStop AND alpha_frac >= $minAlpha
       |      AND top_frac <= $repCap AS keep
       |  FROM m
       |)""".stripMargin
  }

  def gopherRulesSql(
      minTokens: Int = 50, maxTokens: Int = 100000,
      minWlen: Double = 3.0, maxWlen: Double = 10.0, minStop: Int = 2,
      minAlpha: Double = 0.8, repCap: Double = 0.1): String =
    s"""WITH ${gopherCtesSql(minTokens, maxTokens, minWlen, maxWlen,
        minStop, minAlpha, repCap)}
       |SELECT * FROM verdicts ORDER BY doc_id""".stripMargin

  /** The funnel stage order — the order the Gopher paper applies the
    * rules, and the order the x113 attribution table reports them.
    */
  private[graft] val gopherRuleOrder: Seq[String] =
    Seq("r_count", "r_wlen", "r_stop", "r_alpha", "r_rep")

  /** X3: filter-funnel attribution — the policy audit OVER the x77
    * rule verdicts. Per rule (in fixed funnel order): `n_fail` (docs
    * failing it at all), `n_fail_unique` (docs failing ONLY it — the
    * rule's irreplaceable contribution; 0 means every doc it rejects
    * is also rejected elsewhere and the rule could be dropped),
    * `n_removed` (docs whose FIRST failure in funnel order is this
    * rule — the stage attribution), and `n_remaining` (survivors
    * after this stage). The last stage's `n_remaining` equals x77's
    * keep count by construction.
    *
    * Scale shape: the x77 verdict pass (shared verbatim —
    * `gopherRules`), then ONE hash aggregate computing all 16
    * counters as map-side-combinable sums, exploded onto a 5-row
    * literal rule spine in the projection. The single-row global agg
    * is the allowlisted 1-row-scalar shape; nothing per-doc survives
    * the aggregate.
    */
  def filterFunnel(docs: DataFrame,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minWlen: Double = 3.0, maxWlen: Double = 10.0, minStop: Int = 2,
      minAlpha: Double = 0.8, repCap: Double = 0.1): DataFrame =
    funnelFrom(gopherRules(docs, minTokens, maxTokens, minWlen,
      maxWlen, minStop, minAlpha, repCap))

  /** The x113 counter aggregate + rule spine over an already-built
    * verdict table — shared verbatim by the batch operator and the
    * streaming drain-time finisher (the psiAtDrain idiom).
    */
  private[graft] def funnelFrom(v: DataFrame): DataFrame = {
    val rules = gopherRuleOrder
    val aggCols: Seq[Column] =
      Seq(count(lit(1)).as("n_docs")) ++
        rules.map(r => sum((!col(r)).cast("long")).as(s"f_$r")) ++
        rules.map { r =>
          val others = rules.filterNot(_ == r).map(col).reduce(_ && _)
          sum((!col(r) && others).cast("long")).as(s"u_$r")
        } ++
        rules.zipWithIndex.map { case (r, i) =>
          val earlier = rules.take(i).map(col)
            .foldLeft(lit(true))(_ && _)
          sum((!col(r) && earlier).cast("long")).as(s"c_$r")
        }
    val one = v.agg(aggCols.head, aggCols.tail: _*)
    def z(c: Column): Column = coalesce(c, lit(0L))
    val stages = rules.zipWithIndex.map { case (r, i) =>
      val cumRemoved = rules.take(i + 1).map(rr => z(col(s"c_$rr")))
        .reduce(_ + _)
      struct(lit(i + 1).as("stage"), lit(r).as("rule"),
        z(col(s"f_$r")).as("n_fail"),
        z(col(s"u_$r")).as("n_fail_unique"),
        z(col(s"c_$r")).as("n_removed"),
        (col("n_docs") - cumRemoved).as("n_remaining"))
    }
    one.select(explode(array(stages: _*)).as("s"))
      .select(col("s.*"))
      .orderBy(col("stage"))
  }

  def filterFunnelSql(
      minTokens: Int = 50, maxTokens: Int = 100000,
      minWlen: Double = 3.0, maxWlen: Double = 10.0, minStop: Int = 2,
      minAlpha: Double = 0.8, repCap: Double = 0.1): String = {
    val rules = gopherRuleOrder
    def others(r: String): String =
      rules.filterNot(_ == r).mkString(" AND ")
    def earlier(i: Int): String =
      if (i == 0) "TRUE" else rules.take(i).mkString(" AND ")
    val sums =
      (rules.map(r =>
        s"CAST(COALESCE(sum(CASE WHEN NOT $r THEN 1 ELSE 0 END), 0) " +
          s"AS BIGINT) AS f_$r") ++
        rules.map(r =>
          s"CAST(COALESCE(sum(CASE WHEN NOT $r AND ${others(r)} " +
            s"THEN 1 ELSE 0 END), 0) AS BIGINT) AS u_$r") ++
        rules.zipWithIndex.map { case (r, i) =>
          s"CAST(COALESCE(sum(CASE WHEN NOT $r AND ${earlier(i)} " +
            s"THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_$r"
        }).mkString(",\n    ")
    val arms = rules.zipWithIndex.map { case (r, i) =>
      val cum = rules.take(i + 1).map(rr => s"c_$rr").mkString(" - ")
      s"""SELECT ${i + 1} AS stage, '$r' AS rule, f_$r AS n_fail,
         |  u_$r AS n_fail_unique, c_$r AS n_removed,
         |  n_docs - $cum AS n_remaining FROM s""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH ${gopherCtesSql(minTokens, maxTokens, minWlen, maxWlen,
        minStop, minAlpha, repCap)},
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    $sums
       |  FROM verdicts
       |)
       |$arms
       |ORDER BY stage""".stripMargin
  }

  /** X3: character-bigram entropy report — the compressibility proxy
    * of the quality-filter literature (repetitive/templated junk
    * compresses well ⇔ scores LOW Shannon entropy over its own
    * character bigrams; gibberish with a flat character distribution
    * scores at the top of the range). Per document
    * H = (T·lnT − Σ c·ln c)/(T·ln 2) bits from exact integer bigram
    * counts; per source: doc count, mean/min/max entropy, and the
    * count under `lowTheta` — the slice a compression-style filter
    * would drop. The per-doc 6dp rounding then micro-unit
    * quantization before the source mean is the x41/x117 idiom
    * (float noise lives below the round; sums are exact integers).
    *
    * Scale shape: one bigram explosion → (doc, gram) hash agg →
    * per-doc agg → |sources|-row rollup; linear in corpus chars,
    * map-side partials everywhere, no windows.
    */
  def charEntropy(docs: DataFrame, lowTheta: Double): DataFrame = {
    val perDoc = graft.tools.ScaleTier.spread(docs)
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, length(text) - 1), i -> substr(text, i, 2))"))
        .as("g"))
      .groupBy(col("doc_id"), col("source"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("t"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("sl"))
      .select(col("doc_id"), col("source"),
        round((col("t").cast("double") * log(col("t").cast("double"))
          - col("sl")) / (col("t").cast("double") * log(lit(2.0))), 6)
          .as("h"))
    perDoc
      .select(col("source"), col("h"),
        round(col("h") * 1e6, 0).cast("long").as("hu"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("hu")).cast("double") /
          count(lit(1)).cast("double") / 1e6, 6).as("mean_entropy"),
        min(col("h")).as("min_entropy"),
        max(col("h")).as("max_entropy"),
        sum((col("h") < lowTheta).cast("long")).as("n_low"))
      .orderBy(col("source"))
  }

  def charEntropySql(lowTheta: Double): String =
    s"""WITH big AS (
       |  SELECT doc_id, source, substr(text, CAST(i AS INT), 2) AS g
       |  FROM documents, UNNEST(range(1, len(text))) AS u(i)
       |  WHERE len(text) >= 2
       |), cg AS (
       |  SELECT doc_id, source, g, count(*) AS c FROM big GROUP BY 1, 2, 3
       |), ent AS (
       |  SELECT doc_id, source,
       |    round((CAST(sum(c) AS DOUBLE) * ln(CAST(sum(c) AS DOUBLE))
       |      - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))))
       |      / (CAST(sum(c) AS DOUBLE) * ln(2.0)), 6) AS h
       |  FROM cg GROUP BY 1, 2
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  round(CAST(sum(CAST(round(h * 1e6, 0) AS BIGINT)) AS DOUBLE)
       |    / count(*) / 1e6, 6) AS mean_entropy,
       |  min(h) AS min_entropy, max(h) AS max_entropy,
       |  CAST(sum(CASE WHEN h < $lowTheta THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_low
       |FROM ent GROUP BY source ORDER BY source""".stripMargin

  /** X3: per-source distribution-drift monitor — Population
    * Stability Index of each source's token distribution against the
    * corpus-wide one, over the top-`v` corpus tokens plus an OTHER
    * residual bucket (the standard PSI binning). The table a
    * curation pipeline watches to catch a source whose crawl
    * changed character: PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25
    * shifted (the conventional thresholds, emitted as a verdict).
    *
    * term_i = (p_i − q_i)·ln(p_i'/q_i') with p' = max(p, 1e-9)
    * (sources missing a bucket contribute a finite penalty instead
    * of −∞). Terms quantize to integer nano-units before the
    * per-source sum (the DSIR/BM25 idiom) so the 21-term total is
    * exact in any engine order.
    *
    * Scale shape: two token hash aggregates (corpus and per-source
    * counts, map-side partials), a vocabulary-bounded top-v sort, and
    * a |sources|×v grid built from broadcast bounded dimension
    * frames. Nothing scans the corpus twice; no windows.
    */
  /** PSI term in integer nano-units — shared by the batch operator
    * and the streaming drain-time finisher.
    */
  private[graft] def psiTermNano(pc: Column, qc: Column): Column =
    round((pc - qc) *
      log(greatest(pc, lit(1e-9)) / greatest(qc, lit(1e-9))) * 1e9, 0)
      .cast("long")

  /** The frozen baseline the streaming PSI twin serves against:
    * (w, cq, nq) — the top-`v` corpus tokens with their counts and
    * the 1-row corpus total joined in (bounded: v rows).
    */
  def psiBaseline(docs: DataFrame, v: Int = 20): DataFrame = {
    val cw = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cq"))
    cw.orderBy(col("cq").desc, col("w")).limit(v)
      .crossJoin(broadcast(cw.agg(sum(col("cq")).as("nq"))))
  }

  def psiDrift(docs: DataFrame, v: Int = 20): DataFrame = {
    val tok = docs.select(col("source"),
      explode(split(col("text"), " ")).as("w"))
    val cw = tok.groupBy(col("w")).agg(count(lit(1)).as("cq"))
    val topv = cw.orderBy(col("cq").desc, col("w")).limit(v)
    val nTot = cw.agg(sum(col("cq")).as("nq"))
    val sw = tok.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cp"))
    val ns = tok.groupBy(col("source")).agg(count(lit(1)).as("np"))
    val grid = ns.crossJoin(broadcast(topv))
      .join(sw, Seq("source", "w"), "left")
      .na.fill(0L, Seq("cp"))
      .crossJoin(broadcast(nTot))
    val p = col("cp").cast("double") / col("np")
    val q = col("cq").cast("double") / col("nq")
    val perTok = grid.select(col("source"), col("np"), col("nq"),
      col("cp"), col("cq"), psiTermNano(p, q).as("nano"))
    val other = perTok.groupBy(col("source"))
      .agg(sum(col("nano")).as("top_nano"),
        max(col("np")).as("np"), max(col("nq")).as("nq"),
        sum(col("cp")).as("cp_top"), sum(col("cq")).as("cq_top"))
      .withColumn("p_other",
        (col("np") - col("cp_top")).cast("double") / col("np"))
      .withColumn("q_other",
        (col("nq") - col("cq_top")).cast("double") / col("nq"))
      .withColumn("psi",
        (col("top_nano") + psiTermNano(col("p_other"), col("q_other")))
          .cast("double") / 1e9)
    other.select(col("source"), round(col("psi"), 6).as("psi"),
        round(col("p_other"), 6).as("p_other"),
        round(col("q_other"), 6).as("q_other"),
        when(col("psi") < 0.1, "stable")
          .when(col("psi") < 0.25, "drifting")
          .otherwise("shifted").as("verdict"))
      .orderBy(col("source"))
  }

  def psiDriftSql(v: Int = 20): String =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT source, unnest(string_split(text, ' ')) AS w
       |  FROM documents
       |), cw AS (
       |  SELECT w, count(*) AS cq FROM tok GROUP BY 1
       |), topv AS (
       |  SELECT w, cq FROM (
       |    SELECT w, cq, row_number()
       |      OVER (ORDER BY cq DESC, w) AS rk FROM cw
       |  ) WHERE rk <= $v
       |), ntot AS (SELECT CAST(sum(cq) AS BIGINT) AS nq FROM cw),
       |sw AS (
       |  SELECT source, w, count(*) AS cp FROM tok GROUP BY 1, 2
       |), ns AS (
       |  SELECT source, count(*) AS np FROM tok GROUP BY 1
       |), grid AS (
       |  SELECT ns.source, ns.np, ntot.nq, topv.w, topv.cq,
       |         COALESCE(sw.cp, 0) AS cp
       |  FROM ns CROSS JOIN topv CROSS JOIN ntot
       |  LEFT JOIN sw ON sw.source = ns.source AND sw.w = topv.w
       |), pertok AS (
       |  SELECT source, np, nq, cp, cq,
       |    CAST(round((CAST(cp AS DOUBLE) / np - CAST(cq AS DOUBLE) / nq)
       |      * ln(greatest(CAST(cp AS DOUBLE) / np, 1e-9)
       |          / greatest(CAST(cq AS DOUBLE) / nq, 1e-9)) * 1e9)
       |      AS BIGINT) AS nano
       |  FROM grid
       |), agg AS (
       |  SELECT source, CAST(sum(nano) AS BIGINT) AS top_nano,
       |         max(np) AS np, max(nq) AS nq,
       |         CAST(sum(cp) AS BIGINT) AS cp_top,
       |         CAST(sum(cq) AS BIGINT) AS cq_top
       |  FROM pertok GROUP BY 1
       |), fin AS (
       |  SELECT source,
       |    CAST(np - cp_top AS DOUBLE) / np AS p_other,
       |    CAST(nq - cq_top AS DOUBLE) / nq AS q_other,
       |    top_nano
       |  FROM agg
       |), psis AS (
       |  SELECT source,
       |    CAST(top_nano + CAST(round((p_other - q_other)
       |        * ln(greatest(p_other, 1e-9) / greatest(q_other, 1e-9))
       |        * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS psi,
       |    p_other, q_other
       |  FROM fin
       |)
       |SELECT source, round(psi, 6) AS psi,
       |  round(p_other, 6) AS p_other, round(q_other, 6) AS q_other,
       |  CASE WHEN psi < 0.1 THEN 'stable'
       |       WHEN psi < 0.25 THEN 'drifting'
       |       ELSE 'shifted' END AS verdict
       |FROM psis ORDER BY source""".stripMargin

  /** PII redaction — the scrub pass every pre-training corpus gets
    * before anything else sees it: emails, phone numbers, and IPv4
    * addresses replaced by typed placeholders, with per-document
    * match counts for the removal report. Three chained
    * `regexp_replace` column expressions (one scan pass, no UDF); the
    * patterns stay inside the Java-regex ∩ RE2 common dialect
    * (character classes + bounded quantifiers, no lookaround or
    * backrefs) so the DuckDB oracle applies the identical automata.
    * Counts are recovered from placeholder occurrences by pure length
    * arithmetic — cheaper than a second regex pass and portable.
    *
    * The synthetic corpus contains no natural PII, so the operator
    * first plants a deterministic contact line derived from doc_id —
    * both engines plant the identical line, so the redaction itself
    * (not the planting) is what the hash gate checks.
    */
  val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePat = "\\+\\d{1,2}-\\d{3}-\\d{4}"
  val ipPat = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  private def placeholderCount(red: String, ph: String): String =
    s"(length($red) - length(replace($red, '$ph', ''))) div ${ph.length}"

  def piiRedact(docs: DataFrame): DataFrame = {
    val synth = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@mail.example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("doc_id") % 200).cast("string"), lit(".3.7"))
    docs
      .withColumn("r", regexp_replace(
        regexp_replace(
          regexp_replace(synth, emailPat, "<EMAIL>"),
          phonePat, "<PHONE>"),
        ipPat, "<IP>"))
      .select(col("doc_id"), col("r").as("redacted"),
        expr(placeholderCount("r", "<EMAIL>")).as("n_emails"),
        expr(placeholderCount("r", "<PHONE>")).as("n_phones"),
        expr(placeholderCount("r", "<IP>")).as("n_ips"))
      .orderBy(col("doc_id"))
  }

  val piiRedactSql: String = {
    def cnt(ph: String): String =
      s"(length(r) - length(replace(r, '$ph', ''))) // ${ph.length}"
    s"""WITH synth AS (
       |  SELECT doc_id,
       |         text || ' contact user' || doc_id
       |           || '@mail.example.com or +1-555-'
       |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |           || ' from 10.' || (doc_id % 200) || '.3.7' AS s
       |  FROM documents
       |), red AS (
       |  SELECT doc_id, regexp_replace(
       |    regexp_replace(
       |      regexp_replace(s, '$emailPat', '<EMAIL>', 'g'),
       |      '$phonePat', '<PHONE>', 'g'),
       |    '$ipPat', '<IP>', 'g') AS r
       |  FROM synth
       |)
       |SELECT doc_id, r AS redacted,
       |       ${cnt("<EMAIL>")} AS n_emails,
       |       ${cnt("<PHONE>")} AS n_phones,
       |       ${cnt("<IP>")} AS n_ips
       |FROM red ORDER BY doc_id""".stripMargin
  }

  /** Vocabulary profiling with a KMV distinct sketch
    * (functions.KmvSketch): per language, the exact distinct token
    * count (the ground truth a profiler drops at scale) next to the
    * k-minimum-values estimate. The sketch aggregate moves only
    * O(partitions · langs · k) hash values through the shuffle — the
    * approximate-distinct shape a 100 TB corpus profiler needs —
    * and, being md5-derived and deterministic, is reproduced
    * bit-for-bit by the oracle.
    */
  def distinctTokenSketch(docs: DataFrame, k: Int): DataFrame = {
    val tok = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    tok
      // 48-bit hash from the md5 hex prefix: exact in a double, and
      // the same strpos-nibble arithmetic is expressible in DuckDB
      .withColumn("h",
        conv(substring(md5(col("w")), 1, 12), 16, 10).cast("long"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("w")).as("n_exact"),
        graft.functions.Kmv.kmv_distinct(k)(col("h")).as("est"))
      .select(col("lang"), col("n_exact"),
        round(col("est"), 4).as("kmv_est"))
      .orderBy(col("lang"))
  }

  def distinctTokenSketchSql(k: Int): String = {
    val nib = (1 to 12).map { i =>
      s"(strpos('0123456789abcdef', substr(md5(w), $i, 1)) - 1)" +
        s" * ${1L << (4 * (12 - i))}"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w
       |  FROM documents
       |), hv AS (
       |  SELECT DISTINCT lang, $nib AS h FROM tok WHERE w <> ''
       |), rk AS (
       |  SELECT lang, h,
       |         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
       |  FROM hv
       |), sk AS (
       |  SELECT lang, count(*) AS nk,
       |         max(CASE WHEN rn = $k THEN h END) AS hk
       |  FROM rk WHERE rn <= $k GROUP BY lang
       |), ex AS (
       |  SELECT lang, count(DISTINCT w) AS n_exact
       |  FROM tok WHERE w <> '' GROUP BY lang
       |)
       |SELECT ex.lang, ex.n_exact,
       |  CAST(round(CAST(CAST(
       |    CASE WHEN sk.nk < $k THEN CAST(sk.nk AS DOUBLE)
       |         ELSE CAST('${(k - 1).toDouble}' AS DOUBLE)
       |              / (CAST(sk.hk AS DOUBLE)
       |                 / CAST('2.81474976710656E14' AS DOUBLE)) END
       |    AS VARCHAR) AS DECIMAL(38,16)), 4) AS DOUBLE) AS kmv_est
       |FROM ex JOIN sk ON ex.lang = sk.lang
       |ORDER BY ex.lang""".stripMargin
  }

  /** X3: PMI collocation mining — the phrase-vocabulary signal of a
    * tokenizer/curation pipeline: score every adjacent word bigram by
    * pointwise mutual information ln(p(xy) / (p(x)·p(y))) and keep
    * the top-k above a count floor (the floor kills the
    * one-occurrence artifacts PMI is notorious for).
    *
    * Shape at scale: bigram and unigram tables are each ONE explode +
    * hash aggregate; the two corpus totals ride in as a 1-row
    * broadcast; candidate scoring joins the (already minCount-pruned)
    * bigram table to the unigram counts on each word — key-grouped,
    * linear — and the final cut is a bounded TakeOrdered (k rows to
    * the driver, never the bigram table). PMI is rounded to 6dp
    * BEFORE ranking so the order is engine-stable.
    */
  def pmiCollocations(docs: DataFrame, minCount: Int, k: Int): DataFrame = {
    val biAll = docs
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(t[i-1] AS w1, t[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      // two consumers (total + candidates) — pin once
      .transform(graft.tools.Materialize(_))
    val uni = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      .transform(graft.tools.Materialize(_))
    val tot = biAll.agg(sum(col("c2")).as("nb"))
      .crossJoin(uni.agg(sum(col("c1")).as("nt")))
    biAll.filter(col("c2") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c1").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("cy")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi", round(log(
        col("c2").cast("double") * col("nt") * col("nt") /
          (col("nb").cast("double") * col("cx") * col("cy"))), 6))
      .select(col("w1"), col("w2"), col("c2"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def pmiCollocationsSql(minCount: Int, k: Int): String =
    s"""WITH tt AS (
       |  SELECT string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2
       |), bi AS (
       |  SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
       |  FROM tt, UNNEST(range(1, len(t))) AS u(i)
       |  WHERE t[CAST(i AS INT)] <> '' AND t[CAST(i AS INT) + 1] <> ''
       |), biall AS (
       |  SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2
       |), uni AS (
       |  SELECT w, count(*) AS c1
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |), tot AS (
       |  SELECT (SELECT CAST(sum(c2) AS BIGINT) FROM biall) AS nb,
       |         (SELECT CAST(sum(c1) AS BIGINT) FROM uni) AS nt
       |)
       |SELECT b.w1, b.w2, b.c2,
       |  round(ln(CAST(b.c2 AS DOUBLE) * nt * nt
       |         / (CAST(nb AS DOUBLE) * u1.c1 * u2.c1)), 6) AS pmi
       |FROM biall b
       |JOIN uni u1 ON b.w1 = u1.w
       |JOIN uni u2 ON b.w2 = u2.w
       |CROSS JOIN tot
       |WHERE b.c2 >= $minCount
       |ORDER BY pmi DESC, w1, w2 LIMIT $k""".stripMargin

  /** X3: vocabulary-coverage / OOV-rate scoring — the tokenizer-fit
    * signal of a curation pipeline: build the corpus top-V vocabulary
    * (count desc, token asc — a total order, so the cut is exact) and
    * score every document by the fraction of its tokens that fall
    * outside it. High OOV flags garbled text, wrong-language slices,
    * and domains a V-size tokenizer will shred into bytes.
    *
    * Shape at scale: one token explode + hash aggregate builds the
    * counts; the top-V cut is a bounded TakeOrdered (V rows — never
    * the full vocabulary — cross the wire) broadcast back over the
    * same exploded stream; the per-doc rate is a map-side-combined
    * aggregate. The only wide exchange is the token count itself.
    */
  /** The top-V cut over a (w, c) count table — factored so the batch
    * operator and the streaming running-count twin share one
    * definition (count desc, token asc: a total order, exact cut).
    */
  def topVocab(counts: DataFrame, vocabSize: Int): DataFrame =
    counts.orderBy(col("c").desc, col("w")).limit(vocabSize)
      .select(col("w"))

  def vocabCoverage(docs: DataFrame, vocabSize: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val vocab = topVocab(
        toks.groupBy(col("w")).agg(count(lit(1)).as("c")), vocabSize)
      .select(col("w"), lit(true).as("in_v"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v"), 1L).otherwise(0L)).as("n_in_vocab"))
      .withColumn("oov_ratio",
        round(lit(1.0) - col("n_in_vocab") / col("n_tokens"), 6))
      .orderBy(col("doc_id"))
  }

  /** Oracle: same top-V cut (count desc, token asc) via ORDER BY /
    * LIMIT, same left-join scoring. Documents with no tokens drop
    * out in both engines (no denominator — documented).
    */
  def vocabCoverageSql(vocabSize: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents
       |), tk AS (
       |  SELECT doc_id, w FROM toks WHERE w <> ''
       |), vocab AS (
       |  SELECT w FROM (
       |    SELECT w, count(*) AS c FROM tk GROUP BY w
       |    ORDER BY c DESC, w LIMIT $vocabSize)
       |)
       |SELECT t.doc_id, count(*) AS n_tokens,
       |       CAST(sum(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_in_vocab,
       |       round(1.0 - sum(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END)
       |             / count(*), 6) AS oov_ratio
       |FROM tk t LEFT JOIN vocab v ON t.w = v.w
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** X3h: the corpus Zipf curve — every token ranked by frequency
    * (count desc, token asc: a total order) with its cumulative
    * token-mass fraction, the plot a tokenizer/vocab design starts
    * from. Rank and running mass both come from the distributed
    * OrderedRank machinery (bucketed range sort + ≤buckets-row offset
    * broadcast — no single-reducer `OVER (ORDER BY)` anywhere), so
    * the operator holds for a 10M-type vocabulary. The cumulative
    * fraction is computed from exact integer counts and quantized to
    * millionths.
    */
  def zipfCurve(docs: DataFrame): DataFrame = {
    val cnts = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    // one total over the count table (not the token stream) — tiny
    val tot = cnts.agg(sum(col("cnt")).as("n_total"))
    val ranked = graft.ts.OrderedRank.withRowNumber(
      cnts, negate(col("cnt")).cast("double"), col("w"), "rank")
    val summed = graft.ts.OrderedRank.withPrefixSum(
      ranked, negate(col("cnt")).cast("double"), col("w"),
      col("cnt"), "cum_before")
    summed.crossJoin(broadcast(tot))
      .select(col("rank"), col("w"), col("cnt"),
        round((col("cum_before") + col("cnt")).cast("double") * 1000000.0
          / col("n_total"), 0).cast("long").as("cum_frac6"))
      .orderBy(col("rank"))
  }

  val zipfCurveSql: String =
    """WITH cnts AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY w
      |), tot AS (SELECT sum(cnt) AS n_total FROM cnts)
      |SELECT row_number() OVER (ORDER BY cnt DESC, w) AS rank, w, cnt,
      |       CAST(round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, w
      |           ROWS UNBOUNDED PRECEDING) AS DOUBLE) * 1000000.0
      |           / n_total, 0) AS BIGINT) AS cum_frac6
      |FROM cnts CROSS JOIN tot
      |ORDER BY rank""".stripMargin

  /** X3i: pairwise source vocabulary overlap — Jaccard between the
    * distinct-token sets of every source pair, the corpus-comparison
    * matrix a data-mixing decision reads. One (source, token)
    * distinct pass, then the pair enumeration happens INSIDE each
    * token's bucket via a self-join on the token key — ≤|sources|²/2
    * candidates per token, bounded by source cardinality (domains,
    * not documents), never by corpus size.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sv = docs
      .select(col("source"), explode(array_distinct(
        split(col("text"), " "))).as("w"))
      .filter(col("w") =!= "")
      .distinct()
    val sizes = sv.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = sv.as("a")
      .join(sv.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("source").as("s1"), col("sz").as("sz1")), "s1")
      .join(sizes.select(col("source").as("s2"), col("sz").as("sz2")), "s2")
      .select(col("s1"), col("s2"), col("inter"), col("sz1"), col("sz2"),
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")), 6).as("jaccard"))
      .orderBy(col("s1"), col("s2"))
  }

  val sourceOverlapSql: String =
    """WITH sv AS (
      |  SELECT DISTINCT source, w FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w
      |    FROM documents)
      |  WHERE w <> ''
      |), sizes AS (
      |  SELECT source, count(*) AS sz FROM sv GROUP BY source
      |), inter AS (
      |  SELECT a.source AS s1, b.source AS s2, count(*) AS inter
      |  FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT s1, s2, inter, z1.sz AS sz1, z2.sz AS sz2,
      |       round(CAST(inter AS DOUBLE) / (z1.sz + z2.sz - inter), 6)
      |         AS jaccard
      |FROM inter
      |JOIN sizes z1 ON z1.source = s1
      |JOIN sizes z2 ON z2.source = s2
      |ORDER BY s1, s2""".stripMargin

  /** X3w: source-distribution SIMILARITY matrix — for every source
    * pair, the Bhattacharyya coefficient BC = Σ√(p_a·p_b) of their
    * unigram token distributions (and the squared Hellinger distance
    * 1−BC), in integer nano-units. x65 compares vocabularies as SETS
    * (Jaccard); this weighs them by token MASS — two sources can
    * share most of their vocabulary yet use it with very different
    * frequencies (BC low), or share few types that carry all the
    * mass (BC high). The matrix that says which sources are
    * distributionally redundant before a mix is planned, with no
    * logs: only tokens present in BOTH sources contribute, so the
    * pair join is the same token-bucketed enumeration as x65.
    *
    * Determinism: each per-token term √(c_a·c_b/(T_a·T_b)) is ONE
    * sqrt of exact-double ratios, rounded to nano-units BEFORE the
    * sum — the aggregate is an exact integer sum in any engine
    * (x119's quantize-then-sum idiom). BC ≤ 1 up to per-term
    * rounding, so h2_nano can sit within ±n_common nano of 0.
    *
    * Scale shape: one token explode → (source, token) hash agg
    * (pinned — totals and the pair join both read it), a token-keyed
    * self-join bounded by \|sources\| rows per token, two broadcast
    * \|sources\|-row total joins, one hash agg to ≤ \|sources\|²/2
    * report rows.
    */
  def sourceDivergence(docs: DataFrame): DataFrame =
    divergenceFromTf(docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))

  /** The x129 matrix off an already-aggregated (source, w, c) count
    * table — the shared drain-time finisher for the streaming twin
    * (running tf counts drain into the SAME pair pricing). The pin
    * lives HERE (totals + both pair-join sides read the counts), and
    * it also gives the self-join distinct attribute ids — a drained
    * memory-sink view on both sides is otherwise ambiguous.
    */
  def divergenceFromTf(tfRaw: DataFrame): DataFrame = {
    val tf = graft.tools.Materialize(tfRaw)
    val tot = tf.groupBy(col("source")).agg(sum(col("c")).as("t"))
    tf.as("a")
      .join(tf.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"),
        col("a.c").as("ca"), col("b.c").as("cb"))
      // no broadcast hint: the |sources|-row totals frame has no
      // STRUCTURAL cardinality certificate (PlanAudit would flag the
      // hint); AQE broadcasts the few-row side at runtime on its own
      .join(tot.select(col("source").as("s1"), col("t").as("ta")), "s1")
      .join(tot.select(col("source").as("s2"), col("t").as("tb")), "s2")
      .withColumn("term", round(sqrt(
        col("ca").cast("double") * col("cb") /
          (col("ta").cast("double") * col("tb"))) * 1e9).cast("long"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_common"), sum(col("term")).as("bc_nano"))
      .select(col("s1"), col("s2"), col("n_common"), col("bc_nano"),
        (lit(1000000000L) - col("bc_nano")).as("h2_nano"))
      .orderBy(col("s1"), col("s2"))
  }

  /** Oracle: same per-term quantize-then-sum, same join bounds. */
  val sourceDivergenceSql: String =
    """WITH tf AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w
      |    FROM documents)
      |  WHERE w <> '' GROUP BY 1, 2
      |), tot AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS t FROM tf GROUP BY 1
      |), pr AS (
      |  SELECT a.source AS s1, b.source AS s2,
      |    CAST(round(sqrt(CAST(a.c AS DOUBLE) * b.c /
      |      (CAST(ta.t AS DOUBLE) * tb.t)) * 1000000000.0) AS BIGINT)
      |      AS term
      |  FROM tf a
      |  JOIN tf b ON a.w = b.w AND a.source < b.source
      |  JOIN tot ta ON ta.source = a.source
      |  JOIN tot tb ON tb.source = b.source
      |)
      |SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_common,
      |  CAST(sum(term) AS BIGINT) AS bc_nano,
      |  CAST(1000000000 - sum(term) AS BIGINT) AS h2_nano
      |FROM pr GROUP BY 1, 2 ORDER BY s1, s2""".stripMargin

  /** X3s: vocabulary SIZING — the inverse lookup of the x64 Zipf
    * curve: for each coverage target p ∈ `targets` (percent), the
    * smallest vocabulary size V such that the top-V tokens (count
    * desc, token asc — the same total order as x59/x64) cover at
    * least p% of corpus token mass, plus the exact covered mass.
    * This is the table a tokenizer budget decision reads directly
    * ("32k vs 50k vs 100k entries buys how much coverage?") —
    * x59 scores a GIVEN V, x64 plots the whole curve; this answers
    * the design question in |targets| rows.
    *
    * Scale shape: identical to x64 — one token-count hash agg, the
    * distributed OrderedRank rank + prefix-sum passes (bucketed
    * range sort, no single-reducer window), then a |vocab|×|targets|
    * map-side explode into a |targets|-group hash aggregate whose
    * min() partials do all the work map-side. The coverage
    * comparison `cum·100 ≥ p·total` is pure integer arithmetic —
    * exact in any engine; `min(cum)` equals cum at the argmin rank
    * because cum is monotone in rank.
    */
  def vocabSizing(docs: DataFrame, targets: Seq[Int]): DataFrame = {
    require(targets.nonEmpty && targets.forall(p => p > 0 && p <= 100))
    val cnts = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("n_total"),
      count(lit(1)).as("n_vocab"))
    val ranked = graft.ts.OrderedRank.withRowNumber(
      cnts, negate(col("cnt")).cast("double"), col("w"), "rank")
    val summed = graft.ts.OrderedRank.withPrefixSum(
      ranked, negate(col("cnt")).cast("double"), col("w"),
      col("cnt"), "cum_before")
    summed.crossJoin(broadcast(tot))
      .withColumn("cum", col("cum_before") + col("cnt"))
      .withColumn("pct", explode(array(targets.sorted.map(lit): _*)))
      .filter(col("cum") * lit(100L) >= col("pct") * col("n_total"))
      .groupBy(col("pct"))
      .agg(min(col("rank")).as("vocab_size"),
        min(col("cum")).as("covered_tokens"),
        max(col("n_total")).as("n_total"),
        max(col("n_vocab")).as("n_vocab"))
      .select(col("pct"), col("vocab_size"), col("covered_tokens"),
        col("n_total"), col("n_vocab"),
        expr("covered_tokens * 1000000 div n_total").as("covered_micro"))
      .orderBy(col("pct"))
  }

  /** Oracle: same rank/cumulative order via window functions, same
    * integer coverage predicate and `div` quantization.
    */
  def vocabSizingSql(targets: Seq[Int]): String = {
    val arr = targets.sorted.mkString("[", ", ", "]")
    s"""WITH cnts AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |), tot AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
       |         CAST(count(*) AS BIGINT) AS n_vocab
       |  FROM cnts
       |), r AS (
       |  SELECT w, cnt,
       |    row_number() OVER (ORDER BY cnt DESC, w) AS rank,
       |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, w
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM cnts
       |), x AS (
       |  SELECT pct, rank, cum, n_total, n_vocab
       |  FROM r CROSS JOIN tot, UNNEST($arr) AS u(pct)
       |  WHERE cum * 100 >= pct * n_total
       |)
       |SELECT pct, CAST(min(rank) AS BIGINT) AS vocab_size,
       |  CAST(min(cum) AS BIGINT) AS covered_tokens,
       |  CAST(max(n_total) AS BIGINT) AS n_total,
       |  CAST(max(n_vocab) AS BIGINT) AS n_vocab,
       |  CAST(min(cum) * 1000000 // max(n_total) AS BIGINT)
       |    AS covered_micro
       |FROM x GROUP BY pct ORDER BY pct""".stripMargin
  }

  /** X3t: per-source document-LENGTH histogram on power-of-two
    * buckets — bucket b holds docs with n_tokens ∈ [2^(b−1), 2^b)
    * (b = bit length of the token count, an exact integer in both
    * engines — no float log2 at bucket boundaries): document and
    * token counts per (source, bucket). The length profile a
    * packing/truncation policy (x108/x121) is chosen against, and
    * the first table that shows a source is all tweets or all books.
    * Scale shape: map-only token count + bit-length bucket, one hash
    * aggregate to ≤ |sources|·64 rows.
    */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", length(bin(col("n_tokens"))).cast("int"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .select(col("source"), col("bucket"),
        expr("shiftleft(cast(1 as bigint), bucket - 1)").as("lo_tokens"),
        (expr("shiftleft(cast(1 as bigint), bucket)") - 1L).as("hi_tokens"),
        col("n_docs"), col("n_tokens"))
      .orderBy(col("source"), col("bucket"))

  /** Oracle: same bit-length bucketing via bin()/length. */
  val lengthHistogramSql: String =
    """WITH t AS (
      |  SELECT source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), b AS (
      |  SELECT source, CAST(length(bin(n_tokens)) AS INT) AS bucket,
      |         n_tokens
      |  FROM t
      |)
      |SELECT source, bucket,
      |       CAST(CAST(1 AS BIGINT) << (bucket - 1) AS BIGINT)
      |         AS lo_tokens,
      |       CAST((CAST(1 AS BIGINT) << bucket) - 1 AS BIGINT)
      |         AS hi_tokens,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |FROM b GROUP BY source, bucket
      |ORDER BY source, bucket""".stripMargin

  /** X3u: hapax / frequency-of-frequency report — per source: token
    * mass, vocabulary, hapax legomena (frequency 1) and dis legomena
    * (frequency 2) counts, the hapax share of vocabulary (basis
    * points), and the Good–Turing probability that the NEXT token
    * drawn from the source is unseen (hapax/N, integer millionths).
    * High hapax share = fresh long-tail text still worth crawling;
    * low = templated/saturated source — the "is more of this source
    * worth tokens" signal the mix planners (x98/x120) don't measure.
    * Scale shape: one token explode → (source, token) hash agg →
    * |sources|-row rollup; all-integer outputs via `div`.
    */
  def hapaxReport(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        col("n_hapax"), col("n_dis"),
        expr("n_hapax * 10000 div n_vocab").as("hapax_vocab_bp"),
        expr("n_hapax * 1000000 div n_tokens").as("p_new_micro"))
      .orderBy(col("source"))

  /** Oracle: same two-level aggregate, same integer `div` outputs. */
  val hapaxReportSql: String =
    """WITH tf AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w
      |    FROM documents)
      |  WHERE w <> '' GROUP BY source, w
      |)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_vocab,
      |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_hapax,
      |       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_dis,
      |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 10000
      |         // count(*) AS BIGINT) AS hapax_vocab_bp,
      |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
      |         // sum(c) AS BIGINT) AS p_new_micro
      |FROM tf GROUP BY source ORDER BY source""".stripMargin

  /** X3v: per-source BOILERPLATE n-grams — the k most document-
    * frequent word n-grams inside each source (df ≥ `minDf`), with
    * the df share of the source's documents in basis points. x53
    * scores repetition WITHIN a document and x118 counts whole-doc
    * duplicates; this surfaces the actual repeated STRINGS a source
    * stamps across different documents (navigation chrome, license
    * headers, template sentences) — the candidate list for a
    * boilerplate-strip rule, readable because it is k rows per
    * source, not a gram table.
    *
    * Scale shape: per-doc-distinct gram explode (array_distinct
    * inside the row — no global distinct shuffle), one (source, gram)
    * hash aggregate, then the string-keyed bounded top-k aggregate
    * (map-side partials, ≤4k buffers) — never a per-source
    * row_number window, which would funnel the whole gram table into
    * \|sources\| reducers. Output ≤ \|sources\|·k rows joined to the
    * bounded per-source doc counts.
    */
  def boilerplateGrams(docs: DataFrame, n: Int, minDf: Int,
      k: Int): DataFrame = {
    val grams = docs
      .select(col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("source"), explode(array_distinct(expr(
        s"transform(sequence(0, size(t)-$n), " +
          s"i -> concat_ws(' ', slice(t, i+1, $n)))"))).as("gram"))
    val dfc = grams.groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val nd = docs.groupBy(col("source").as("src2"))
      .agg(count(lit(1)).as("n_docs"))
    dfc.groupBy(col("source"))
      .agg(graft.functions.TopK.top_k_str(k)(col("df"), col("gram"))
        .as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("e.key").as("gram"), col("e.score").as("df"))
      .join(nd, col("source") === col("src2"))
      .select(col("source"), col("rank"), col("gram"), col("df"),
        col("n_docs"), expr("df * 10000 div n_docs").as("df_bp"))
      .orderBy(col("source"), col("rank"))
  }

  /** Oracle: same per-doc-distinct grams; the top-k cut as a
    * per-source row_number (fine in DuckDB at oracle scale).
    */
  def boilerplateGramsSql(n: Int, minDf: Int, k: Int): String =
    s"""WITH g AS (
       |  SELECT DISTINCT doc_id, source,
       |         array_to_string(t[i+1:i+$n], ' ') AS gram
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t
       |        FROM documents) q,
       |       UNNEST(range(len(t)-${n - 1})) AS r(i)
       |  WHERE len(t) >= $n
       |), d AS (
       |  SELECT source, gram, CAST(count(*) AS BIGINT) AS df
       |  FROM g GROUP BY 1, 2 HAVING count(*) >= $minDf
       |), rk AS (
       |  SELECT source, gram, df,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY df DESC, gram) AS INT) AS rank
       |  FROM d
       |), nd AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1
       |)
       |SELECT r.source, rank, gram, df, n_docs,
       |       CAST(df * 10000 // n_docs AS BIGINT) AS df_bp
       |FROM rk r JOIN nd ON nd.source = r.source
       |WHERE rank <= $k
       |ORDER BY r.source, rank""".stripMargin

  /** BM25 ranked retrieval (Robertson/Lucene idf, k1/b saturation):
    * the lexical-search face of the curation surface — retrieval-
    * based decontamination, "find corpus docs matching this eval
    * prompt", nearest-neighbor text lookup without embeddings. The
    * query set is the first `nQueries` docs' first `qTerms` distinct
    * tokens (a deterministic stand-in for user queries, same
    * convention as x05/x28); the query doc itself is excluded from
    * its own result list.
    *
    * Scale shape: this is an INVERTED-INDEX probe, not a scan-per-
    * query — tf/df/dl are corpus-keyed aggregates, the tiny (qid,
    * term) relation broadcasts, and only postings of query terms
    * flow into scoring. Per-term contributions quantize to integer
    * nano-units (the DSIR idiom) so the per-(qid,doc) sum is exact
    * and engine-order-independent; ranking is the bounded partial
    * top-k aggregate (TopK.top_k), never a per-qid row_number sort
    * funnel. Cost ≈ |postings of query terms| regardless of corpus
    * width at 100 TB.
    */
  def bm25TopK(docs: DataFrame, nQueries: Int, qTerms: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (postings, stats) = bm25Index(docs)
    val q = bm25QueryTerms(docs.filter(col("doc_id") < nQueries), qTerms)
    bm25Finish(bm25Score(q, postings, stats, k1, b), k)
  }

  /** The frozen corpus side of BM25: the postings relation
    * (w, doc_id, tf, dl, df) and the 1-row (n_docs, avgdl) stats —
    * the "model" the streaming retrieval twin serves against.
    */
  def bm25Index(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val tf = toks.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    (tf.join(dl, "doc_id").join(dfreq, "w"), stats)
  }

  /** Distinct first-`qTerms` tokens per query doc — the (qid, w)
    * probe relation (shared by batch and the streaming twin).
    */
  private[graft] def bm25QueryTerms(docs: DataFrame, qTerms: Int): DataFrame =
    docs.select(col("doc_id").as("qid"),
      explode(array_distinct(slice(split(col("text"), " "), 1, qTerms)))
        .as("w"))

  /** Per-term contributions in integer nano-units: (qid, doc_id,
    * nano), self-matches excluded. No broadcast hint on q: its
    * Generate (explode) blocks the structural boundedness certificate
    * (same as x61) — AQE broadcasts the tiny frame on its own.
    */
  private[graft] def bm25Score(q: DataFrame, postings: DataFrame,
      stats: DataFrame, k1: Double, b: Double): DataFrame =
    postings
      .join(q, "w")
      .filter(col("doc_id") =!= col("qid"))
      .crossJoin(broadcast(stats))
      .withColumn("nano", round(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))) *
          lit(1e9), 0).cast("long"))
      .select(col("qid"), col("doc_id"), col("nano"))

  /** Sum the exact nano contributions per (qid, doc) and rank with
    * the bounded partial top-k aggregate (shared by batch and the
    * streaming drain-time finisher).
    */
  private[graft] def bm25Finish(scored: DataFrame, k: Int): DataFrame =
    bm25FinishUnsorted(scored, k).orderBy(col("qid"), col("rank"))

  /** bm25Finish without the presentation sort — for consumers that
    * aggregate the ranking further (x78 fusion): an inner global sort
    * would survive into the composed plan as a pointless range
    * exchange (AQE coalesces it to a single partition on bounded
    * frames, which the plan audit rightly flags).
    */
  private[graft] def bm25FinishUnsorted(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("nano")).as("s"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.top_k(k)(
        col("s").cast("double"), col("doc_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.vec_id").as("doc_id"),
        round(col("hit.cos") / lit(1e9), 6).as("bm25"))

  /** The x74 ranking without the final sort (see bm25FinishUnsorted). */
  private[graft] def bm25TopKUnsorted(docs: DataFrame, nQueries: Int,
      qTerms: Int, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (postings, stats) = bm25Index(docs)
    val q = bm25QueryTerms(docs.filter(col("doc_id") < nQueries), qTerms)
    bm25FinishUnsorted(bm25Score(q, postings, stats, k1, b), k)
  }

  def bm25TopKSql(nQueries: Int, qTerms: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |), tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
       |), dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
       |q AS (
       |  SELECT DISTINCT doc_id AS qid, unnest(t[1:$qTerms]) AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |        WHERE doc_id < $nQueries)
       |), contrib AS (
       |  SELECT q.qid, tf.doc_id,
       |    CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * ${k1 + 1}) / (tf + $k1 * (1.0 - $b + $b * dl / avgdl))
       |      * 1e9) AS BIGINT) AS nano
       |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (w)
       |       JOIN q ON tf.w = q.w CROSS JOIN stats
       |  WHERE tf.doc_id <> q.qid
       |), scored AS (
       |  SELECT qid, doc_id, CAST(sum(nano) AS BIGINT) AS s
       |  FROM contrib GROUP BY 1, 2
       |), ranked AS (
       |  SELECT qid, doc_id, s, row_number()
       |    OVER (PARTITION BY qid ORDER BY s DESC, doc_id) AS rank
       |  FROM scored
       |)
       |SELECT qid, CAST(rank AS INT) AS rank, doc_id,
       |       round(CAST(s AS DOUBLE) / 1e9, 6) AS bm25
       |FROM ranked WHERE rank <= $k ORDER BY qid, rank""".stripMargin
}
