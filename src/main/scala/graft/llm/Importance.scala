package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (SURVEY.md
  * §2.9 X3; Xie et al., "Data Selection for Language Models via
  * Importance Resampling"): estimate hashed-n-gram feature
  * distributions for a target domain and for the raw corpus, then
  * weight every document by its log importance ratio
  * Σ_tokens ln(p_target(bucket)/p_raw(bucket)). Documents that look
  * like the target domain get positive weight and survive the
  * resampling step of a pretraining pipeline.
  *
  * Distributions are add-1 smoothed over a fixed bucket count B, so
  * the model table is a CONSTANT-bounded B-row relation whatever the
  * corpus size — it broadcasts for free, and the per-document pass is
  * one token explosion + hash aggregation + B-row join. The bucket
  * hash is the portable md5-nibble hash shared with the MinHash
  * operators, identical in both engines.
  *
  * Float discipline: per-bucket log-ratios are quantized to integer
  * nano-units (round(λ·10⁹) as BIGINT) before the per-document sums,
  * which are then EXACT integer arithmetic — order-independent in
  * both engines, immune to the parallel-aggregation rounding flips
  * that plague float sums. The weight converts back to a double only
  * at the output projection, and the keep verdict branches on the
  * integer sum.
  */
object Importance {

  /** Per-document DSIR log importance weight against a target slice
    * of the corpus (documents whose `source` is in `targetSources`).
    * Output: (doc_id, n_tokens, log_weight, keep).
    */
  def dsirWeights(docs: DataFrame, buckets: Int = 256,
      targetSources: Seq[String] = Seq("src1", "src2")): DataFrame = {
    // ONE tokenize+hash pass: the (doc, bucket) counts carry the
    // target flag, and the per-bucket model table is their rollup —
    // the two consumers of `base` share an identical exchange, which
    // ReuseExchange dedupes instead of re-tokenizing the corpus
    val inTarget = col("source").isin(targetSources: _*)
    // Spread: full-token explosion (~50×) over the single-split scan
    // — measured as a 1.0 s one-task stage at sf0.1 local[32]
    val base = graft.tools.ScaleTier.spread(docs)
      .select(col("doc_id"), inTarget.as("is_t"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("b", expr(s"${Dedup.hash16FastExpr("w")} % $buckets"))
      .groupBy(col("doc_id"), col("is_t"), col("b"))
      .agg(count(lit(1)).as("k"))
    val bk = base.groupBy(col("b"))
      .agg(sum(col("k")).as("cr"),
        sum(when(col("is_t"), col("k")).otherwise(0L)).as("ct"))
    val tot = bk.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val lam = bk.crossJoin(broadcast(tot))
      .select(col("b"), round((
        log((col("ct") + lit(1)) / (col("nt") + lit(buckets))) -
          log((col("cr") + lit(1)) / (col("nr") + lit(buckets)))) *
        lit(1e9), 0).cast("long").as("nano"))
    scoreWith(base, lam)
  }

  /** The per-doc (doc_id, b, k) bucket counts — the scoring-side
    * tokenize+hash pass, shared by the serve path.
    */
  private def docBuckets(docs: DataFrame, buckets: Int): DataFrame =
    graft.tools.ScaleTier.spread(docs).select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("b", expr(s"${Dedup.hash16FastExpr("w")} % $buckets"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("k"))

  /** The trained DSIR model as a persistable table: the B-row
    * (b, nano) integer log-ratio relation — CONSTANT-bounded whatever
    * the corpus size.
    */
  def lambdaTable(docs: DataFrame, buckets: Int = 256,
      targetSources: Seq[String] = Seq("src1", "src2")): DataFrame = {
    val inTarget = col("source").isin(targetSources: _*)
    val bk = graft.tools.ScaleTier.spread(docs)
      .select(inTarget.as("is_t"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("b", expr(s"${Dedup.hash16FastExpr("w")} % $buckets"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
    val tot = bk.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    bk.crossJoin(broadcast(tot))
      .select(col("b"), round((
        log((col("ct") + lit(1)) / (col("nt") + lit(buckets))) -
          log((col("cr") + lit(1)) / (col("nr") + lit(buckets)))) *
        lit(1e9), 0).cast("long").as("nano"))
  }

  /** DSIR SERVE path (train-once/serve-many,
    * [[graft.tools.ModelStore]]): the B-row λ table persists on first
    * use; every later execution reads it back and the whole query is
    * one tokenize+hash pass joined to the broadcast model — no
    * target/raw distribution rollup in-plan. Bit-identical to
    * [[dsirWeights]]: the integer nano-unit ratios round-trip parquet
    * exactly and the scoring expressions are shared.
    */
  def dsirServe(docs: DataFrame, modelPath: String, buckets: Int = 256,
      targetSources: Seq[String] = Seq("src1", "src2")): DataFrame =
    scoreWith(docBuckets(docs, buckets),
      graft.tools.ModelStore.ensure(modelPath,
        lambdaTable(docs, buckets, targetSources),
        spec = "lambdaTable v1"))

  /** The scoring stage — per-doc integer-exact λ sums against a
    * (b, nano) model table — shared verbatim by [[dsirWeights]]
    * (in-query training) and [[dsirServe]] (persisted model).
    */
  private def scoreWith(docBk: DataFrame, lam: DataFrame): DataFrame =
    docBk.join(lam, Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k") * col("nano")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s").cast("double") / lit(1e9), 6).as("log_weight"),
        (col("s") > 0).as("keep"))
      .orderBy(col("doc_id"))

  def dsirWeightsSql(buckets: Int = 256,
      targetSources: Seq[String] = Seq("src1", "src2")): String = {
    val targets = targetSources.map(s => s"'$s'").mkString(", ")
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, source,
       |         ${Dedup.hash16Expr("strpos", "w")} % $buckets AS b
       |  FROM (SELECT doc_id, source,
       |               unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  WHERE len(w) > 0
       |), bk AS (
       |  SELECT b, count(*) AS cr,
       |         CAST(sum(CASE WHEN source IN ($targets) THEN 1 ELSE 0 END)
       |              AS BIGINT) AS ct
       |  FROM tok GROUP BY b
       |), tot AS (
       |  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
       |  FROM bk
       |), lam AS (
       |  SELECT b, CAST(round((ln((ct + 1) / (nt + $buckets * 1.0))
       |               - ln((cr + 1) / (nr + $buckets * 1.0))) * 1e9)
       |             AS BIGINT) AS nano
       |  FROM bk CROSS JOIN tot
       |), docbk AS (
       |  SELECT doc_id, b, count(*) AS k FROM tok GROUP BY doc_id, b
       |)
       |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
       |       round(CAST(sum(k * nano) AS DOUBLE) / 1e9, 6) AS log_weight,
       |       CAST(sum(k * nano) AS BIGINT) > 0 AS keep
       |FROM docbk JOIN lam USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}
