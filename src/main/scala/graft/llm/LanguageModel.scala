package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring (SURVEY.md §2.9 X3) —
  * the CCNet-style perplexity quality filter: train a character
  * trigram model on the in-language slice of the corpus, score every
  * document by its average negative log-likelihood under that model,
  * and flag the outliers (boilerplate, wrong-language, garbled text
  * all score high).
  *
  * Model: add-α smoothed trigram frequency model. For a trigram g
  * with training count c, P(g) = (c + α) / (N + αV) where N is the
  * total training trigram count and V the number of distinct
  * training trigrams; an unseen trigram gets the α floor.
  *
  * Shape at scale: one trigram explosion per side, both collapsed by
  * hash aggregation before the join — the per-document trigram
  * multiset joins the model table on the trigram key (linear,
  * key-grouped), and (N, V) ride in as a 1-row broadcast. Nothing
  * global, nothing pairwise; the same plan at 1000 executors.
  */
object LanguageModel {

  /** Per-document avg negative log-likelihood under the corpus
    * trigram LM. Output: (doc_id, n_tri, avg_nll, flagged); documents
    * shorter than 3 chars drop out (no trigrams — documented).
    */
  def trigramPerplexity(docs: DataFrame, alpha: Double = 0.5,
      lmLang: String = "en", cap: Double = 11.0): DataFrame = {
    // ONE trigram explosion serves both sides; the scoring side never
    // pre-groups on the gram key — it joins the (bounded, ≤|charset|³
    // rows) LM table right on the exploded stream and partial-aggs
    // per doc map-side, so the only wide exchange in the whole plan
    // is the LM count itself. The LM/totals branches recompute the
    // explosion, but as parallel stages of one job the wall cost is
    // ~one pass (eager-checkpointing was measured slower here; on a
    // saturated cluster, persist the exploded stream instead).
    val raw = trigrams(docs)
    scoreAgainst(raw, lmFrom(raw, lmLang), alpha, cap)
  }

  /** The per-doc trigram stream (doc_id, lang, g) — shared by
    * training, batch scoring, and the serve path.
    */
  private def trigrams(docs: DataFrame): DataFrame =
    graft.tools.ScaleTier.spread(docs)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))"))
          .as("g"))

  private def lmFrom(tri: DataFrame, lmLang: String): DataFrame =
    tri.filter(col("lang") === lmLang)
      .groupBy(col("g")).agg(count(lit(1)).as("c"))

  /** The trained LM as a persistable table: one (g, c) row per
    * distinct training trigram — bounded by ≤|charset|³, in practice
    * a few-K-row few-KB relation; the (N, V) totals recompute from it
    * in one tiny aggregate, so the artifact is the count table alone.
    */
  def lmTable(docs: DataFrame, lmLang: String = "en"): DataFrame =
    lmFrom(trigrams(docs), lmLang)

  /** LM SERVE path (train-once/serve-many,
    * [[graft.tools.ModelStore]]): the trigram count table persists on
    * first use; every later execution reads it back and scores with
    * NO training branch at all — the wide gram-key exchange (the x41
    * plan's only one) disappears from the serve plan. Bit-identical
    * to [[trigramPerplexity]]: integer counts round-trip parquet
    * exactly and the scoring expressions are shared.
    */
  def perplexityServe(docs: DataFrame, modelPath: String,
      alpha: Double = 0.5, lmLang: String = "en",
      cap: Double = 11.0): DataFrame =
    scoreAgainst(trigrams(docs),
      graft.tools.ModelStore.ensure(modelPath, lmTable(docs, lmLang),
        spec = "lmTable v1"),
      alpha, cap)

  /** The scoring stage — per-doc NLL against a (g, c) model table —
    * shared verbatim by [[trigramPerplexity]] (in-query training) and
    * [[perplexityServe]] (persisted model).
    */
  private def scoreAgainst(tri: DataFrame, lm: DataFrame, alpha: Double,
      cap: Double): DataFrame = {
    // coalesce guards the degenerate empty-LM corpus (no in-language
    // docs): n is then 0, v 0, and the α-floored denominator below
    // scores every trigram at the uninformative P = 1 instead of
    // dividing by zero — "no model, no signal"
    val tot = lm.agg(coalesce(sum(col("c")), lit(0L)).as("n"),
      count(lit(1)).as("v"))
    tri.join(lm, Seq("g"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(tot))
      .withColumn("nll",
        -log((col("c") + lit(alpha)) /
          greatest(col("n") + lit(alpha) * col("v"), lit(alpha))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"), sum(col("nll")).as("sn"))
      .select(col("doc_id"), col("n_tri"),
        round(col("sn") / col("n_tri"), 6).as("avg_nll"),
        (round(col("sn") / col("n_tri"), 6) > lit(cap)).as("flagged"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTE chain: trigram LM, totals, per-doc instance
    * stream, and the count join — the common prefix of the scoring
    * and bucketing oracles.
    */
  private def pplCtes(alpha: Double, lmLang: String): String =
    s"""lm AS MATERIALIZED (
       |  SELECT g, count(*) AS c FROM (
       |    SELECT substr(text, CAST(i AS INT), 3) AS g
       |    FROM documents, UNNEST(range(1, len(text) - 1)) AS u(i)
       |    WHERE len(text) >= 3 AND lang = '$lmLang')
       |  GROUP BY g
       |), tot AS (
       |  SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS n, count(*) AS v
       |  FROM lm
       |), inst AS (
       |  SELECT doc_id, substr(text, CAST(i AS INT), 3) AS g
       |  FROM documents, UNNEST(range(1, len(text) - 1)) AS u(i)
       |  WHERE len(text) >= 3
       |), j AS (
       |  SELECT i.doc_id, COALESCE(lm.c, 0) AS c
       |  FROM inst i LEFT JOIN lm USING (g)
       |)""".stripMargin

  def trigramPerplexitySql(alpha: Double = 0.5, lmLang: String = "en",
      cap: Double = 11.0): String =
    s"""WITH ${pplCtes(alpha, lmLang)}
       |SELECT doc_id, count(*) AS n_tri,
       |  round(sum(-ln((c + $alpha) / greatest(n + $alpha * v, $alpha))) / count(*), 6)
       |    AS avg_nll,
       |  round(sum(-ln((c + $alpha) / greatest(n + $alpha * v, $alpha))) / count(*), 6)
       |    > $cap AS flagged
       |FROM j CROSS JOIN tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** CCNet-style perplexity bucketing — the step after scoring: rank
    * every document by its LM score and cut the corpus into
    * head/middle/tail terciles (CCNet trains on "head", mixes in
    * "middle", drops "tail"; the tercile is a RANK cut, not a value
    * threshold, so the split is exact and scale-free).
    *
    * The rank is [[graft.ts.OrderedRank.withNtile]] — the exact
    * distributed ntile (bucketed range sort + a ≤buckets-row offset
    * broadcast), NOT `ntile() OVER (ORDER BY ...)`, which would move
    * the whole corpus through one reducer. Everything upstream is the
    * x41 scoring plan (one wide exchange); the bucketing adds only
    * the OrderedRank pass over the |docs|-row score table.
    */
  def perplexityBuckets(docs: DataFrame, alpha: Double = 0.5,
      lmLang: String = "en", tiles: Int = 3): DataFrame = {
    require(tiles >= 2)
    // OrderedRank pins its own input (graft.tools.Materialize), so
    // the expensive LM scoring upstream runs exactly once — no
    // caller-side checkpoint needed.
    val ppl = trigramPerplexity(docs, alpha, lmLang)
      .select(col("doc_id"), col("avg_nll"))
    graft.ts.OrderedRank.withNtile(ppl, col("avg_nll"), col("doc_id"),
        tiles, "tile")
      .select(col("doc_id"), col("avg_nll"),
        when(col("tile") === 1, "head")
          .when(col("tile") === tiles, "tail")
          .otherwise("middle").as("bucket"))
      .orderBy(col("doc_id"))
  }

  def perplexityBucketsSql(alpha: Double = 0.5, lmLang: String = "en",
      tiles: Int = 3): String =
    s"""WITH ${pplCtes(alpha, lmLang)},
       |ppl AS (
       |  SELECT doc_id,
       |    round(sum(-ln((c + $alpha) / greatest(n + $alpha * v, $alpha)))
       |      / count(*), 6) AS avg_nll
       |  FROM j CROSS JOIN tot GROUP BY doc_id
       |), tiled AS (
       |  SELECT doc_id, avg_nll,
       |         ntile($tiles) OVER (ORDER BY avg_nll, doc_id) AS tile
       |  FROM ppl
       |)
       |SELECT doc_id, avg_nll,
       |       CASE WHEN tile = 1 THEN 'head'
       |            WHEN tile = $tiles THEN 'tail'
       |            ELSE 'middle' END AS bucket
       |FROM tiled ORDER BY doc_id""".stripMargin

  /** X3: curation-signal agreement — per source, the Pearson
    * correlation of the x41 LM perplexity signal against the x08
    * lexical signals (uniqueness ratio, and raw token length). THE
    * redundancy audit of a filtering stack: |r(len, nll)| near 1
    * means the expensive LM pass is mostly re-measuring document
    * length and a length rule would do; r(uniq, nll) strongly
    * negative means repetitive docs are exactly the high-perplexity
    * ones and one of the two filters is paying for the other's
    * verdict (cf. x111, the retrieval-side agreement table).
    *
    * Determinism: both 6dp signals quantize to integer micro-units,
    * every moment sum runs in DECIMAL(38,0) (exact in any order),
    * and floats appear only in the final fixed Pearson expression —
    * identical IEEE ops in both dialects. Zero-variance sides
    * report r = 0 rather than NULL.
    *
    * Scale shape: the x41 scoring plan (its one wide exchange) plus
    * two doc_id co-keyed joins and a |sources|-row moment aggregate.
    */
  def signalCorrelation(docs: DataFrame, alpha: Double = 0.5,
      lmLang: String = "en", cap: Double = 11.0): DataFrame = {
    val q = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("n_tokens").cast("long").as("t"),
        round(col("uniq_ratio") * 1e6, 0).cast("long").as("u"))
    val p = trigramPerplexity(docs, alpha, lmLang, cap)
      .select(col("doc_id"),
        round(col("avg_nll") * 1e6, 0).cast("long").as("y"))
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    val g = docs.select(col("doc_id"), col("source"))
      .join(q, Seq("doc_id")).join(p, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(d19(col("u"))).as("su"), sum(d19(col("y"))).as("sy"),
        sum(d19(col("t"))).as("st"),
        sum(d19(col("u")) * d19(col("u"))).as("suu"),
        sum(d19(col("y")) * d19(col("y"))).as("syy"),
        sum(d19(col("t")) * d19(col("t"))).as("stt"),
        sum(d19(col("u")) * d19(col("y"))).as("suy"),
        sum(d19(col("t")) * d19(col("y"))).as("sty"))
    def pearson(sx: Column, sy: Column, sxx: Column, syy: Column,
        sxy: Column): Column = {
      val nd = col("n").cast("double")
      val (dx, dy, dxx, dyy, dxy) = (sx.cast("double"), sy.cast("double"),
        sxx.cast("double"), syy.cast("double"), sxy.cast("double"))
      val den = (nd * dxx - dx * dx) * (nd * dyy - dy * dy)
      when(den > 0, round((nd * dxy - dx * dy) / sqrt(den), 6))
        .otherwise(lit(0d))
    }
    g.select(col("source"), col("n").as("n_docs"),
      round(col("sy").cast("double") / col("n").cast("double") / 1e6, 6)
        .as("mean_nll"),
      round(col("su").cast("double") / col("n").cast("double") / 1e6, 6)
        .as("mean_uniq"),
      pearson(col("su"), col("sy"), col("suu"), col("syy"),
        col("suy")).as("r_uniq_nll"),
      pearson(col("st"), col("sy"), col("stt"), col("syy"),
        col("sty")).as("r_len_nll"))
      .orderBy(col("source"))
  }

  def signalCorrelationSql(alpha: Double = 0.5, lmLang: String = "en",
      cap: Double = 11.0): String = {
    def pearson(sx: String, sy: String, sxx: String, syy: String,
        sxy: String): String = {
      val den = s"(nd * $sxx - $sx * $sx) * (nd * $syy - $sy * $sy)"
      s"""CASE WHEN $den > 0
         |  THEN round((nd * $sxy - $sx * $sy) / sqrt($den), 6)
         |  ELSE 0.0 END""".stripMargin
    }
    s"""WITH qual AS (
       |${TextAnalysis.qualitySql}
       |), ppl AS (
       |${trigramPerplexitySql(alpha, lmLang, cap)}
       |), sig AS (
       |  SELECT d.source,
       |    CAST(round(q.uniq_ratio * 1e6, 0) AS BIGINT) AS u,
       |    CAST(round(p.avg_nll * 1e6, 0) AS BIGINT) AS y,
       |    CAST(q.n_tokens AS BIGINT) AS t
       |  FROM documents d
       |  JOIN qual q ON q.doc_id = d.doc_id
       |  JOIN ppl p ON p.doc_id = d.doc_id
       |), mom AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(u AS HUGEINT)) AS su, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(t AS HUGEINT)) AS st,
       |    sum(CAST(u AS HUGEINT) * u) AS suu,
       |    sum(CAST(y AS HUGEINT) * y) AS syy,
       |    sum(CAST(t AS HUGEINT) * t) AS stt,
       |    sum(CAST(u AS HUGEINT) * y) AS suy,
       |    sum(CAST(t AS HUGEINT) * y) AS sty
       |  FROM sig GROUP BY source
       |), md AS (
       |  SELECT source, n, CAST(n AS DOUBLE) AS nd,
       |    CAST(su AS DOUBLE) AS su, CAST(sy AS DOUBLE) AS sy,
       |    CAST(st AS DOUBLE) AS st, CAST(suu AS DOUBLE) AS suu,
       |    CAST(syy AS DOUBLE) AS syy, CAST(stt AS DOUBLE) AS stt,
       |    CAST(suy AS DOUBLE) AS suy, CAST(sty AS DOUBLE) AS sty
       |  FROM mom
       |)
       |SELECT source, n AS n_docs,
       |  round(sy / nd / 1e6, 6) AS mean_nll,
       |  round(su / nd / 1e6, 6) AS mean_uniq,
       |  ${pearson("su", "sy", "suu", "syy", "suy")} AS r_uniq_nll,
       |  ${pearson("st", "sy", "stt", "syy", "sty")} AS r_len_nll
       |FROM md ORDER BY source""".stripMargin
  }
}
