package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.dot_product

/** Similarity search over the `embeddings` table (SURVEY.md §2.9 X2):
  * brute-force cosine top-k as the exactness baseline, and
  * random-hyperplane LSH bucketing as the sublinear scale path.
  *
  * All vector math is `zip_with`/`aggregate` on array columns cast to
  * double (codegen'd Catalyst expressions — no UDF), so the same
  * arithmetic is expressible in the DuckDB oracle.
  */
object Similarity {

  /** Brute-force cosine top-k: query vectors (vec_id < nQueries)
    * against the full table. The query side is tiny → broadcast; the
    * scan side streams. At 100 TB this is one broadcast-join pass —
    * the correct exact baseline. Ties broken by rounded cosine then
    * vec_id so ranking is deterministic across engines.
    *
    * Ranking is a bounded partial top-k (functions.BoundedTopK), not a
    * rank window: each scan partition reduces to ≤4k candidates per
    * query BEFORE the shuffle, so the exchange moves
    * O(partitions · nQueries · k) rows — a rank window over qid would
    * shuffle all N scored rows into nQueries partitions and sort each,
    * a near-single-reducer funnel at scale.
    */
  def cosineTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    broadcastCosineTopK(emb, q, col("vec_id") =!= col("qid"), k)
  }

  def cosineTopKSql(nQueries: Int, k: Int): String =
    broadcastCosineTopKSql("vec_id AS qid, embedding AS qe",
      "e.vec_id <> q.qid", nQueries, k)

  /** X2j: kNN label-PURITY report — for the first `nQueries` vectors
    * as probes: how many of each probe's exact top-k cosine
    * neighbors share its label, rolled up per label (query count,
    * mean/min/max purity in basis points, denominator k). The
    * embedding-quality eval that needs no model: high purity means
    * the space respects the labeling (safe for semantic dedup /
    * cluster sampling / classifier features), purity at chance means
    * the embedding column is noise for this task. Complements x107
    * (index recall vs exact) and x130 (global separability) with the
    * local-neighborhood view.
    *
    * Scale shape: the x05 broadcast-query kernel (corpus × bounded
    * query set through the fused codegen cosine, bounded partial
    * top-k — one exchange), then two co-keyed joins of the
    * nQueries·k hit rows to the narrow (vec_id, label) projection
    * and two bounded hash aggs. All-integer outputs.
    */
  def knnLabelPurity(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label"))
    cosineTopK(emb, nQueries, k)
      .join(labels.select(col("vec_id").as("qid"),
        col("label").as("qlabel")), "qid")
      .join(labels.select(col("vec_id"), col("label").as("hlabel")),
        "vec_id")
      .groupBy(col("qid"), col("qlabel"))
      .agg(sum(when(col("hlabel") === col("qlabel"), 1L).otherwise(0L))
        .as("same"))
      .groupBy(col("qlabel"))
      .agg(count(lit(1)).as("n_queries"),
        expr(s"sum(same) * 10000 div (count(1) * $k)")
          .as("mean_purity_bp"),
        expr(s"min(same * 10000 div $k)").as("min_purity_bp"),
        expr(s"max(same * 10000 div $k)").as("max_purity_bp"))
      .orderBy(col("qlabel"))
  }

  /** Oracle: the x05 chain as a nested-WITH CTE + the same co-keyed
    * label joins and integer rollup.
    */
  def knnLabelPuritySql(nQueries: Int, k: Int): String =
    s"""WITH topk AS (
       |${cosineTopKSql(nQueries, k)}
       |), lab AS (
       |  SELECT vec_id, label FROM embeddings
       |), per AS (
       |  SELECT t.qid, ql.label AS qlabel,
       |    CAST(sum(CASE WHEN hl.label = ql.label THEN 1 ELSE 0 END)
       |      AS BIGINT) AS same
       |  FROM topk t
       |  JOIN lab ql ON ql.vec_id = t.qid
       |  JOIN lab hl ON hl.vec_id = t.vec_id
       |  GROUP BY 1, 2
       |)
       |SELECT qlabel, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(same) * 10000 // (count(*) * $k) AS BIGINT)
       |    AS mean_purity_bp,
       |  CAST(min(same * 10000 // $k) AS BIGINT) AS min_purity_bp,
       |  CAST(max(same * 10000 // $k) AS BIGINT) AS max_purity_bp
       |FROM per GROUP BY 1 ORDER BY qlabel""".stripMargin

  /** Shared exact-scoring kernel for the broadcast-query searches
    * (cosineTopK, hardNegatives): corpus × broadcast(q) through the
    * fused codegen CosineSim — one traversal of both arrays per pair
    * (the HOF zip_with/aggregate form is interpreted per element;
    * three separate dots walk buffers 3×) — then the bounded partial
    * top-k aggregate. The pair predicate is the only thing the
    * callers vary, so its Spark and SQL forms stay in lock-step.
    */
  private def broadcastCosineTopK(emb: DataFrame, q: DataFrame,
      pairFilter: Column, k: Int): DataFrame =
    broadcastCosineTopKUnsorted(emb, q, pairFilter, k)
      .orderBy(col("qid"), col("rank"))

  /** The exact-scoring kernel without the presentation sort — for
    * consumers that aggregate the ranking further (x78 fusion), where
    * an inner global sort would survive as a pointless coalesced-to-
    * one-partition range exchange in the composed plan.
    */
  private def broadcastCosineTopKUnsorted(emb: DataFrame, q: DataFrame,
      pairFilter: Column, k: Int): DataFrame =
    emb.crossJoin(broadcast(q))
      .filter(pairFilter)
      .withColumn("cos",
        round(graft.functions.VectorFunctions
          .cosine_similarity(col("embedding"), col("qe")), 6))
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.top_k(k)(col("cos"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.vec_id").as("vec_id"), col("hit.cos").as("cos"))

  /** The x05 ranking without the final sort (see above). */
  private[graft] def cosineTopKUnsorted(emb: DataFrame, nQueries: Int,
      k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    broadcastCosineTopKUnsorted(emb, q, col("vec_id") =!= col("qid"), k)
  }

  private def broadcastCosineTopKSql(qProjection: String, pairPred: String,
      nQueries: Int, k: Int): String =
    s"""WITH q AS (
       |  SELECT $qProjection FROM embeddings
       |  WHERE vec_id < $nQueries
       |), prods AS (
       |  SELECT q.qid, e.vec_id,
       |         sum(CAST(e.embedding[i+1] AS DOUBLE)
       |             * CAST(q.qe[i+1] AS DOUBLE)) AS dot,
       |         sum(CAST(e.embedding[i+1] AS DOUBLE)
       |             * CAST(e.embedding[i+1] AS DOUBLE)) AS na,
       |         sum(CAST(q.qe[i+1] AS DOUBLE)
       |             * CAST(q.qe[i+1] AS DOUBLE)) AS nb
       |  FROM embeddings e
       |  CROSS JOIN q,
       |       UNNEST(range(len(e.embedding))) AS r(i)
       |  WHERE $pairPred
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT qid, vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
       |  FROM prods
       |), ranked AS (
       |  SELECT qid, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT qid, rank, vec_id, cos FROM ranked WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin

  /** X2: hard-negative mining for contrastive training — for each
    * query vector, the k most-similar vectors whose label DIFFERS
    * from the query's (the "hard negatives" a retrieval/embedding
    * trainer pairs with each anchor; easy negatives are random, hard
    * ones are the near-misses that actually shape the margin).
    *
    * Same 100 TB shape as cosineTopK: the query side (anchors +
    * labels) is tiny → broadcast; the corpus streams through the
    * fused codegen cosine kernel once; the label inequality is a
    * pre-aggregation filter on the scan side; ranking is the bounded
    * partial top-k aggregate, so the only exchange carries
    * O(partitions · nQueries · k) rows.
    */
  def hardNegatives(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    broadcastCosineTopK(emb, q, col("label") =!= col("qlabel"), k)
  }

  def hardNegativesSql(nQueries: Int, k: Int): String =
    broadcastCosineTopKSql(
      "vec_id AS qid, embedding AS qe, label AS qlabel",
      "e.label <> q.qlabel", nQueries, k)

  /** Symmetric per-vector int8 quantization (the embedding-
    * compression face of the ANN family): scale = max|v|/127, code_i
    * = round(v_i/scale) ∈ [-127, 127]. Codes are carried as an
    * array<double> of exact integers so the fused codegen cosine
    * kernel applies unchanged — every downstream product and sum
    * stays EXACTLY representable (|code| ≤ 127, dot ≤ 64·127² ≪ 2^53),
    * which is what makes the quantized scores engine-order-
    * independent and oracle-checkable. An all-zero vector quantizes
    * to the zero code vector (scale 0 guard).
    */
  private[graft] def int8Vectors(emb: DataFrame): DataFrame =
    emb
      .withColumn("s", expr(
        "array_max(transform(embedding, x -> abs(cast(x as double)))) / 127"))
      .withColumn("qv", expr(
        """CASE WHEN s = 0D THEN transform(embedding, x -> 0D)
          |ELSE transform(embedding, x -> round(cast(x as double) / s, 0))
          |END""".stripMargin))

  private def int8Sql: String =
    s"""sc AS (
       |  SELECT vec_id, label, embedding,
       |    list_max(list_transform(embedding,
       |      x -> abs(CAST(x AS DOUBLE)))) / 127 AS s
       |  FROM embeddings
       |), q8 AS (
       |  SELECT vec_id, label, embedding, s,
       |    CASE WHEN s = 0 THEN list_transform(embedding,
       |           x -> CAST(0 AS DOUBLE))
       |         ELSE list_transform(embedding,
       |           x -> round(CAST(x AS DOUBLE) / s)) END AS qv
       |  FROM sc
       |)""".stripMargin

  /** X2: quantized cosine top-k — the x05 search run entirely on the
    * int8 codes. The per-vector scales CANCEL in the cosine
    * (dot·s_q·s_p / (√(n_q)·s_q · √(n_p)·s_p)), so the score is a
    * pure function of exact integers: deterministic in any engine
    * and any order. Same 100 TB shape as cosineTopK (broadcast
    * queries, one corpus pass through the fused kernel, bounded
    * partial top-k) at one quarter the memory traffic per vector —
    * which at 100 TB of embeddings is the difference between a
    * scan that fits in cluster memory and one that doesn't.
    * Recall vs the float ranking is pinned by spec (x05 comparison).
    */
  def int8TopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q8 = int8Vectors(emb)
    val q = q8.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qq"))
    int8Finish(
      q8.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("qcos",
          round(graft.functions.VectorFunctions
            .cosine_similarity(col("qv"), col("qq")), 6))
        .filter(col("qcos").isNotNull) // zero-norm codes drop, not crash
        .select(col("qid"), col("vec_id"), col("qcos")),
      k)
  }

  /** The x80 ranking tail (bounded partial top-k + presentation) —
    * shared by the batch search and the streaming drain finisher.
    */
  private[graft] def int8Finish(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.top_k(k)(col("qcos"), col("vec_id"))
        .as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.vec_id").as("vec_id"), col("hit.cos").as("qcos"))
      .orderBy(col("qid"), col("rank"))

  def int8TopKSql(nQueries: Int, k: Int): String =
    s"""WITH $int8Sql, prods AS (
       |  SELECT q.qid, e.vec_id,
       |         sum(e.qv[i+1] * q.qq[i+1]) AS dot,
       |         sum(e.qv[i+1] * e.qv[i+1]) AS na,
       |         sum(q.qq[i+1] * q.qq[i+1]) AS nb
       |  FROM q8 e
       |  CROSS JOIN (SELECT vec_id AS qid, qv AS qq FROM q8
       |              WHERE vec_id < $nQueries) q,
       |       UNNEST(range(len(e.qv))) AS r(i)
       |  WHERE e.vec_id <> q.qid
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT qid, vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS qcos
       |  FROM prods WHERE na > 0 AND nb > 0
       |), ranked AS (
       |  SELECT qid, vec_id, qcos,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY qcos DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, qcos
       |FROM ranked WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** 1-bit sign signature: bit i (i < 63) set iff embedding[i] > 0.
    * 63 bits so the packed value stays in positive signed-64 (the x86
    * phash convention — bit 63 would be the sign bit). 8 bytes per
    * vector: 32× smaller than the float array, which at 100 TB of
    * embeddings is the difference between a prefilter scan that lives
    * in memory and one that doesn't.
    */
  private[graft] def binarySigs(emb: DataFrame): DataFrame =
    emb.withColumn("sig", expr(
      """aggregate(transform(slice(embedding, 1, 63),
        |  (x, i) -> IF(cast(x as double) > 0D,
        |    shiftleft(cast(1 as bigint), i), cast(0 as bigint))),
        |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin))

  private def binarySigsSqlCte: String =
    """sigs AS MATERIALIZED (
      |  SELECT e.vec_id, e.embedding,
      |    CAST(sum(CASE WHEN CAST(e.embedding[i+1] AS DOUBLE) > 0
      |             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
      |      AS sig
      |  FROM embeddings e, UNNEST(range(63)) AS r(i)
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** X2: binary-quantized search — Hamming-radius prefilter on the
    * 63-bit sign signatures (for sign vectors, P(bit differs) = θ/π,
    * so a Hamming ball IS an angular ball), then exact float-cosine
    * rerank of the survivors. The asymmetric two-stage everyone
    * ships for billion-scale dense retrieval: the cheap 8-byte
    * signature scan (one codegen'd `bit_count(xor)` per pair) kills
    * ~90% of candidates before a float array is ever touched.
    *
    * Scale shape: identical to cosineTopK (broadcast queries, one
    * corpus pass, bounded partial top-k) except the expensive cosine
    * kernel runs only on pairs inside the Hamming ball — the filter
    * sits BEFORE the array math in the same codegen stage, so the
    * pruned pairs cost one long-XOR-popcount each.
    */
  def binaryTopK(emb: DataFrame, nQueries: Int, radius: Int,
      k: Int): DataFrame = {
    val sigs = binarySigs(emb)
    val q = sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("sig").as("qsig"))
    sigs.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid") &&
        expr("bit_count(sig ^ qsig)") <= radius)
      .withColumn("cos",
        round(graft.functions.VectorFunctions
          .cosine_similarity(col("embedding"), col("qe")), 6))
      .filter(col("cos").isNotNull) // zero-norm vectors drop, not crash
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.top_k(k)(col("cos"), col("vec_id"))
        .as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.vec_id").as("vec_id"), col("hit.cos").as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  def binaryTopKSql(nQueries: Int, radius: Int, k: Int): String =
    s"""WITH $binarySigsSqlCte, cand AS (
       |  SELECT q.qid, e.vec_id, e.embedding, q.qe
       |  FROM sigs e
       |  CROSS JOIN (SELECT vec_id AS qid, embedding AS qe, sig AS qsig
       |              FROM sigs WHERE vec_id < $nQueries) q
       |  WHERE e.vec_id <> q.qid
       |    AND bit_count(xor(e.sig, q.qsig)) <= $radius
       |), prods AS (
       |  SELECT c.qid, c.vec_id,
       |         sum(CAST(c.embedding[i+1] AS DOUBLE)
       |             * CAST(c.qe[i+1] AS DOUBLE)) AS dot,
       |         sum(CAST(c.embedding[i+1] AS DOUBLE)
       |             * CAST(c.embedding[i+1] AS DOUBLE)) AS na,
       |         sum(CAST(c.qe[i+1] AS DOUBLE)
       |             * CAST(c.qe[i+1] AS DOUBLE)) AS nb
       |  FROM cand c, UNNEST(range(len(c.embedding))) AS r(i)
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT qid, vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
       |  FROM prods WHERE na > 0 AND nb > 0
       |), ranked AS (
       |  SELECT qid, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, cos
       |FROM ranked WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix: entry (j, i)
    * is +1 iff the first hex nibble of md5("i_j") is even — the same
    * bits both engines derive, so the projection is reproducible
    * anywhere without shipping a matrix. (Achlioptas 2003: ±1 entries
    * preserve pairwise angles in expectation exactly like Gaussian
    * ones.)
    */
  private def jlSign(i: Int, j: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${i}_${j}".getBytes("UTF-8"))
    val nib = (d(0) >> 4) & 0xf
    if (nib % 2 == 0) 1 else -1
  }

  /** Integer-exact vector frame for the JL family: embeddings
    * quantized to micro-units (round(v·10⁶) as bigint) plus the
    * rDim-dimensional ±1 projection — EVERY sum downstream is exact
    * integer arithmetic, so scores are engine-order-independent (the
    * int8 lesson applied to projections: floats only appear in the
    * final fixed sqrt/divide expression).
    */
  private[graft] def jlProjected(emb: DataFrame, rDim: Int): DataFrame = {
    // The sign table covers dims 0..63; a wider embedding would make
    // element_at return NULL and silently null the projection (ADVICE
    // r9). assert_true turns that silent degradation into a loud
    // failure; the oracle mirrors it with error() in its micro CTE.
    val micro = emb.select(col("vec_id"), expr(
      "CASE WHEN assert_true(size(embedding) <= 64, " +
        "'jlProjected: embedding dim > 64 (jlSign table bound)') IS NULL " +
        "THEN transform(embedding, x -> cast(round(cast(x as double) " +
        "* 1000000, 0) as bigint)) END").as("m"))
    val projCols = (0 until rDim).map { j =>
      val lits = (0 until 64).map(i => jlSign(i, j)).mkString(",")
      expr(s"""aggregate(transform(m, (v, i) ->
        |  v * cast(element_at(array($lits), cast(i + 1 as int)) as bigint)),
        |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin).as(s"p$j")
    }
    micro.select(col("vec_id") +: col("m") +: projCols: _*)
      .withColumn("rv", array((0 until rDim).map(j => col(s"p$j")): _*))
      .select(col("vec_id"), col("m"), col("rv"))
  }

  /** Exact-integer cosine between two bigint array columns, one fixed
    * IEEE expression at the end (sums are exact; the bigint→double
    * conversions and the sqrt/divide are deterministic round-to-
    * nearest, identical in both engines). NULL when either norm is 0.
    */
  private def intCos(a: String, b: String): Column = {
    def dot(x: String, y: String) =
      s"""aggregate(zip_with($x, $y, (u, v) -> u * v),
         |  cast(0 as bigint), (acc, t) -> acc + t)""".stripMargin
    expr(s"""CASE WHEN ${dot(a, a)} > 0 AND ${dot(b, b)} > 0
      |THEN round(cast(${dot(a, b)} as double)
      |  / (sqrt(cast(${dot(a, a)} as double))
      |     * sqrt(cast(${dot(b, b)} as double))), 6)
      |ELSE NULL END""".stripMargin)
  }

  /** X2: random-projection (JL) search — the coarse-search/refine
    * pattern for dense retrieval when a 64-float scan is too hot:
    * rank in the rDim·8-byte projected space (4× less memory traffic
    * at rDim=16), keep the top k, then score ONLY those k·nQueries
    * winners at full dimension. Output carries both scores plus the
    * absolute gap — the distortion calibration table (the x87
    * est-vs-exact convention) that tells an operator whether rDim is
    * big enough before they trust the coarse ranking at scale.
    *
    * Scale shape: projection is map-only (16 integer folds per
    * vector); the search is the x05 broadcast-query shape on the
    * short vectors; the full-dim refine touches a bounded
    * k·nQueries-row frame joined co-keyed back to the corpus.
    */
  def jlTopK(emb: DataFrame, nQueries: Int, rDim: Int, k: Int): DataFrame = {
    val proj = jlProjected(emb, rDim)
    val q = proj.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("m").as("qm"),
        col("rv").as("qrv"))
    val ranked = proj.crossJoin(broadcast(q.select(col("qid"), col("qrv"))))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos16", intCos("rv", "qrv"))
      .filter(col("cos16").isNotNull)
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.top_k(k)(col("cos16"), col("vec_id"))
        .as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.vec_id").as("vec_id"), col("hit.cos").as("cos16"))
    ranked
      .join(proj.select(col("vec_id"), col("m")), "vec_id")
      .join(q.select(col("qid"), col("qm")), "qid")
      .withColumn("cos64", intCos("m", "qm"))
      .select(col("qid"), col("rank"), col("vec_id"), col("cos16"),
        col("cos64"),
        round(abs(col("cos16") - col("cos64")), 6).as("err"))
      .orderBy(col("qid"), col("rank"))
  }

  def jlTopKSql(nQueries: Int, rDim: Int, k: Int): String =
    s"""WITH micro AS MATERIALIZED (
       |  SELECT vec_id, CASE WHEN len(embedding) > 64
       |    THEN error('jlProjected: embedding dim > 64 (jlSign table bound)')
       |    ELSE list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
       |    END AS m
       |  FROM embeddings
       |), signs AS (
       |  SELECT j, i,
       |    CASE WHEN (instr('0123456789abcdef',
       |      substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)),
       |        1, 1)) - 1) % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM UNNEST(range($rDim)) AS a(j), UNNEST(range(64)) AS b(i)
       |), proj AS MATERIALIZED (
       |  SELECT t.vec_id, s.j, CAST(sum(s.s * t.m[s.i + 1]) AS BIGINT) AS p
       |  FROM micro t JOIN signs s ON s.i < len(t.m)
       |  GROUP BY 1, 2
       |), p16 AS (
       |  SELECT q.vec_id AS qid, c.vec_id,
       |    CAST(sum(c.p * q.p) AS BIGINT) AS dot,
       |    CAST(sum(c.p * c.p) AS BIGINT) AS na,
       |    CAST(sum(q.p * q.p) AS BIGINT) AS nb
       |  FROM proj c
       |  JOIN (SELECT * FROM proj WHERE vec_id < $nQueries) q ON c.j = q.j
       |  WHERE c.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT qid, vec_id, cos16,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cos16 DESC, vec_id) AS rank
       |  FROM (
       |    SELECT qid, vec_id, round(CAST(dot AS DOUBLE)
       |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
       |      AS cos16
       |    FROM p16 WHERE na > 0 AND nb > 0
       |  )
       |), full64 AS (
       |  SELECT r.qid, r.rank, r.vec_id, r.cos16,
       |    CAST(sum(c.m[i+1] * q.m[i+1]) AS BIGINT) AS dot,
       |    CAST(sum(c.m[i+1] * c.m[i+1]) AS BIGINT) AS na,
       |    CAST(sum(q.m[i+1] * q.m[i+1]) AS BIGINT) AS nb
       |  FROM ranked r
       |  JOIN micro c ON c.vec_id = r.vec_id
       |  JOIN micro q ON q.vec_id = r.qid,
       |       UNNEST(range(len(c.m))) AS x(i)
       |  WHERE r.rank <= $k
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, cos16,
       |  CASE WHEN na > 0 AND nb > 0
       |    THEN round(CAST(dot AS DOUBLE)
       |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
       |    ELSE NULL END AS cos64,
       |  round(abs(cos16 - CASE WHEN na > 0 AND nb > 0
       |    THEN round(CAST(dot AS DOUBLE)
       |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
       |    ELSE NULL END), 6) AS err
       |FROM full64 ORDER BY qid, rank""".stripMargin

  /** X2: quantization-error report — per-label reconstruction MSE and
    * scale statistics, the monitoring table a pipeline checks before
    * switching its serving index to int8. One map-only pass (the
    * per-vector MSE is a sequential fold over the 64 elements) plus a
    * |labels|-row aggregate.
    */
  def int8QuantError(emb: DataFrame): DataFrame =
    int8Vectors(emb)
      .withColumn("mse", expr(
        """aggregate(zip_with(embedding, qv,
          |  (v, q) -> (cast(v as double) - q * s)
          |          * (cast(v as double) - q * s)),
          |  0D, (a, x) -> a + x)""".stripMargin) / size(col("embedding")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("s")), 9).as("avg_scale"),
        round(avg(col("mse")), 12).as("avg_mse"),
        round(max(col("mse")), 12).as("max_mse"))
      .orderBy(col("label"))

  def int8QuantErrorSql: String =
    s"""WITH $int8Sql, err AS (
       |  SELECT e.vec_id, e.label, e.s,
       |         sum((CAST(e.embedding[i+1] AS DOUBLE) - e.qv[i+1] * e.s)
       |           * (CAST(e.embedding[i+1] AS DOUBLE) - e.qv[i+1] * e.s))
       |           AS sse,
       |         count(*) AS dim
       |  FROM q8 e, UNNEST(range(len(e.qv))) AS r(i)
       |  GROUP BY 1, 2, 3
       |)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |       round(avg(s), 9) AS avg_scale,
       |       round(avg(sse / dim), 12) AS avg_mse,
       |       round(max(sse / dim), 12) AS max_mse
       |FROM err GROUP BY label ORDER BY label""".stripMargin

  /** X2: per-label embedding-diversity report WITHOUT enumerating
    * pairs — the identity Σ_{i≠j}||x_i−x_j||² = 2n·Σ‖x_i‖² − 2‖Σx_i‖²
    * turns mean pairwise squared distance (the collapse/mode-coverage
    * monitor a curation pipeline watches per class) into two hash
    * aggregates over the corpus: per-vector squared norms, and
    * per-dimension component sums. A brute-force version is O(n²·d);
    * this is O(n·d) map work + a (label,pos)-keyed exchange of
    * |labels|·dim rows — the only shape that survives 100 TB.
    *
    * Components are quantized to micro-units (the jlProjected /
    * int8 idiom) so EVERY sum is exact integer arithmetic in any
    * execution order; squares are taken in DECIMAL(38,0) (they pass
    * 2⁶³ long before they pass 10³⁸) and floats appear only in the
    * final fixed sqrt/divide/round projection. Reported per label:
    * vector count, centroid norm, RMS vector norm, and mean pairwise
    * squared distance over ordered pairs (0 for singleton labels).
    */
  def embedDiversity(emb: DataFrame): DataFrame = {
    val u = emb.select(col("vec_id"), col("label"), expr(
      "transform(embedding, x -> cast(round(cast(x as double) " +
        "* 1000000, 0) as bigint))").as("u"))
    val norms = u
      .select(col("label"), expr(
        "aggregate(u, cast(0 as bigint), (a, x) -> a + x * x)").as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("n2").cast("decimal(38,0)")).as("s2"))
    val m2 = u
      .select(col("label"), posexplode(col("u")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("s"))
      .groupBy(col("label"))
      .agg(sum(col("s").cast("decimal(19,0)") *
        col("s").cast("decimal(19,0)")).as("m2"))
    norms.join(m2, Seq("label"))
      .select(col("label"), col("n"),
        round(sqrt(col("m2").cast("double")) /
          col("n").cast("double") / 1e6, 6).as("centroid_norm"),
        round(sqrt(col("s2").cast("double") /
          col("n").cast("double")) / 1e6, 6).as("rms_norm"),
        when(col("n") > 1, round(
          (lit(2d) * col("n").cast("double") * col("s2").cast("double")
            - lit(2d) * col("m2").cast("double"))
            / (col("n").cast("double") * (col("n") - 1).cast("double"))
            / 1e12, 6))
          .otherwise(lit(0d)).as("mean_pairwise_sqdist"))
      .orderBy(col("label"))
  }

  /** X2i: Fisher SEPARABILITY report — per label: the within-class
    * variance (mean squared distance of members to their own class
    * mean), the squared distance of the class mean to the GLOBAL
    * mean, and their ratio (the per-class Fisher criterion). x114
    * measures how SPREAD a class is; this measures whether classes
    * are DISTINGUISHABLE — collapsed embeddings (all classes on one
    * point) show fisher ≈ 0 everywhere, a leaked/trivial labeling
    * shows huge ratios. The go/no-go table for using the embedding
    * column as a classifier feature or a semantic-dedup space.
    *
    * All moments are exact integers off micro-unit embeddings (the
    * x114 idiom): n·W = n·Σ‖u‖² − ‖Σu‖² and the between-numerator
    * D = Σ_dim (N·S_L[d] − n_L·S[d])² are DECIMAL(38,0) sums; floats
    * appear only in the final fixed projection, rounded at 6dp.
    *
    * Scale shape: one full-data pass for per-label norms + one for
    * per-(label, dim) component sums (both map-side-combined hash
    * aggs); everything after runs on the ≤\|labels\|·dim bounded
    * frame — the global mean, D, and the report joins never touch a
    * vector again.
    */
  def fisherSeparability(emb: DataFrame): DataFrame = {
    val u = emb.select(col("vec_id"), col("label"), expr(
      "transform(embedding, x -> cast(round(cast(x as double) " +
        "* 1000000, 0) as bigint))").as("u"))
    val norms = u
      .select(col("label"), expr(
        "aggregate(u, cast(0 as bigint), (a, x) -> a + x * x)").as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("n2").cast("decimal(38,0)")).as("s2"))
    val comps = graft.tools.Materialize(u
      .select(col("label"), posexplode(col("u")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("s")))
    val g = comps.groupBy(col("pos")).agg(sum(col("s")).as("gs"))
    val nn = norms.agg(sum(col("n")).as("bign"))
    val m2 = comps.groupBy(col("label"))
      .agg(sum(col("s").cast("decimal(19,0)") *
        col("s").cast("decimal(19,0)")).as("m2"))
    // diff in decimal(38,0), NOT bigint: bign·s with micro-unit
    // component sums overflows int64 around ~3M vectors while the
    // oracle's HUGEINT carries it (ADVICE r9) — widen BEFORE the
    // multiply/subtract so both engines stay exact to ~1e38.
    val dec38 = "decimal(38,0)"
    val d2 = comps.join(g, "pos")
      .join(norms.select(col("label"), col("n")), "label")
      .crossJoin(broadcast(nn))
      .withColumn("diff",
        col("bign").cast(dec38) * col("s").cast(dec38) -
          col("n").cast(dec38) * col("gs").cast(dec38))
      .groupBy(col("label"))
      .agg(sum(col("diff") * col("diff")).as("d2"))
    norms.join(m2, Seq("label")).join(d2, Seq("label"))
      .crossJoin(broadcast(nn))
      .withColumn("wraw",
        (col("n").cast("double") * col("s2").cast("double") -
          col("m2").cast("double")) /
          col("n").cast("double") / col("n").cast("double"))
      .withColumn("braw",
        col("d2").cast("double") /
          col("n").cast("double") / col("n").cast("double") /
          col("bign").cast("double") / col("bign").cast("double"))
      .select(col("label"), col("n"),
        round(col("wraw") / 1e12, 6).as("within_var"),
        round(col("braw") / 1e12, 6).as("between_sqdist"),
        when(col("wraw") > 0, round(col("braw") / col("wraw"), 6))
          .otherwise(lit(0d)).as("fisher_ratio"))
      .orderBy(col("label"))
  }

  /** Oracle: same exact HUGEINT moments, same fixed projection. */
  val fisherSeparabilitySql: String =
    s"""WITH u AS (
       |  SELECT vec_id, label, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
       |    AS u
       |  FROM embeddings
       |), norms AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(list_sum(list_transform(u, x -> x * x)) AS HUGEINT))
       |      AS s2
       |  FROM u GROUP BY 1
       |), comps AS (
       |  SELECT label, pos, CAST(sum(v) AS BIGINT) AS s
       |  FROM (SELECT label, unnest(u) AS v,
       |          unnest(range(len(u))) AS pos FROM u)
       |  GROUP BY 1, 2
       |), g AS (
       |  SELECT pos, CAST(sum(s) AS BIGINT) AS gs FROM comps GROUP BY 1
       |), nn AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS bign FROM norms
       |), msq AS (
       |  SELECT label, sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
       |    AS m2
       |  FROM comps GROUP BY 1
       |), dsq AS (
       |  SELECT c.label,
       |    sum((CAST(bign AS HUGEINT) * s - CAST(n AS HUGEINT) * gs)
       |      * (CAST(bign AS HUGEINT) * s - CAST(n AS HUGEINT) * gs)) AS d2
       |  FROM comps c
       |  JOIN g ON g.pos = c.pos
       |  JOIN norms nr ON nr.label = c.label
       |  CROSS JOIN nn
       |  GROUP BY 1
       |), fin AS (
       |  SELECT nr.label, nr.n,
       |    (nr.n * CAST(nr.s2 AS DOUBLE) - CAST(m.m2 AS DOUBLE))
       |      / nr.n / nr.n AS wraw,
       |    CAST(d.d2 AS DOUBLE) / nr.n / nr.n / bign / bign AS braw
       |  FROM norms nr
       |  JOIN msq m ON m.label = nr.label
       |  JOIN dsq d ON d.label = nr.label
       |  CROSS JOIN nn
       |)
       |SELECT label, n, round(wraw / 1e12, 6) AS within_var,
       |  round(braw / 1e12, 6) AS between_sqdist,
       |  CASE WHEN wraw > 0 THEN round(braw / wraw, 6) ELSE 0.0 END
       |    AS fisher_ratio
       |FROM fin ORDER BY label""".stripMargin

  def embedDiversitySql: String =
    s"""WITH u AS (
       |  SELECT vec_id, label, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
       |    AS u
       |  FROM embeddings
       |), norms AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(list_sum(list_transform(u, x -> x * x)) AS HUGEINT))
       |      AS s2
       |  FROM u GROUP BY 1
       |), comps AS (
       |  SELECT label, pos, sum(v) AS s
       |  FROM (SELECT label, unnest(u) AS v,
       |          unnest(range(len(u))) AS pos FROM u)
       |  GROUP BY 1, 2
       |), msq AS (
       |  SELECT label, sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
       |    AS m2
       |  FROM comps GROUP BY 1
       |)
       |SELECT n.label, n.n,
       |  round(sqrt(CAST(m.m2 AS DOUBLE)) / n.n / 1e6, 6)
       |    AS centroid_norm,
       |  round(sqrt(CAST(n.s2 AS DOUBLE) / n.n) / 1e6, 6) AS rms_norm,
       |  CASE WHEN n.n > 1 THEN round(
       |    (2 * n.n * CAST(n.s2 AS DOUBLE) - 2 * CAST(m.m2 AS DOUBLE))
       |      / (CAST(n.n AS DOUBLE) * (n.n - 1)) / 1e12, 6)
       |  ELSE 0.0 END AS mean_pairwise_sqdist
       |FROM norms n JOIN msq m ON n.label = m.label
       |ORDER BY n.label""".stripMargin

  /** IVF-style ANN search. Coarse lists come from fixed seed vectors
    * (vec_id < nLists — a trained k-means would replace them; the
    * inverted-file *search* shape is the point): every vector is
    * assigned to its highest-cosine seed list, a query probes its
    * nProbe nearest lists, and ranking touches only those lists'
    * members — the sublinear ANN layout. Cosines are rounded to 6dp
    * with id tie-breaks so assignment and ranking are deterministic
    * across engines.
    */
  def ivfTopK(emb: DataFrame, nLists: Int, nProbe: Int, nQueries: Int,
      k: Int): DataFrame =
    ivfSearch(emb, ivfSeeds(emb, nLists), nProbe, nQueries, k)

  /** The fixed-seed coarse lists (vec_id < nLists) — shared by the
    * x18 search, the x107 recall report, and the x110 occupancy
    * report.
    */
  private def ivfSeeds(emb: DataFrame, nLists: Int): DataFrame =
    emb.filter(col("vec_id") < nLists)
      .select(col("vec_id").as("list_id"), col("embedding").as("ce"))

  /** X2: IVF list-occupancy report — the balance half of index
    * health (x107's recall is the accuracy half): vectors per
    * inverted list, each list's corpus share, and its occupancy
    * relative to perfect balance (1.0 = exactly corpus/nLists).
    * Skewed occupancy is what makes nProbe cost unpredictable at
    * scale — one hot list turns a "probe 4 of 16" query into a scan
    * of half the corpus; this is the table that says re-train the
    * quantizer (x72) before that happens. Lists no vector chose are
    * absent (their occupancy is 0 by construction).
    *
    * Scale shape: the shared broadcast-seed assignment pass, one
    * hash agg to ≤nLists rows, one 1-row total broadcast back.
    */
  def ivfListOccupancy(emb: DataFrame, nLists: Int): DataFrame = {
    val counts = ivfAssign(emb, ivfSeeds(emb, nLists))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vectors"))
    val tot = counts.agg(sum(col("n_vectors")).as("total"))
    counts.crossJoin(broadcast(tot))
      .select(col("list_id"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("total"), 6)
          .as("share"),
        round(col("n_vectors").cast("double") * nLists / col("total"), 6)
          .as("occupancy"))
      .orderBy(col("list_id"))
  }

  def ivfListOccupancySql(nLists: Int): String =
    s"""WITH dbl AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), lists AS (
       |  SELECT vec_id AS list_id, e AS ce FROM dbl WHERE vec_id < $nLists
       |),
       |$ivfAssignedCteSql, counts AS (
       |  SELECT list_id, CAST(count(*) AS BIGINT) AS n_vectors
       |  FROM assigned GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(n_vectors) AS BIGINT) AS total FROM counts
       |)
       |SELECT list_id, n_vectors,
       |       round(CAST(n_vectors AS DOUBLE) / total, 6) AS share,
       |       round(CAST(n_vectors AS DOUBLE) * $nLists / total, 6)
       |         AS occupancy
       |FROM counts CROSS JOIN tot ORDER BY list_id""".stripMargin

  /** IVF with a TRAINED coarse quantizer: the inverted lists come
    * from the shared Lloyd loop ([[kmeansCentroids]] — the x36
    * machinery) instead of whichever vectors carry the first ids, so
    * list occupancy reflects the actual vector distribution (balanced
    * lists are what make nProbe/nLists recall-vs-cost behave at
    * scale). The search stage is shared verbatim with [[ivfTopK]].
    */
  def ivfTrainedTopK(emb: DataFrame, nLists: Int, trainIters: Int,
      trainTarget: Long, nProbe: Int, nQueries: Int, k: Int): DataFrame =
    ivfSearch(emb,
      localized(kmeansCentroids(emb, nLists, trainIters, trainTarget))
        .select(col("__cid").cast("long").as("list_id"), col("ce")),
      nProbe, nQueries, k)

  /** IVF SERVE path (train-once/serve-many,
    * [[graft.tools.ModelStore]]): the ≤nLists-row trained centroid
    * table persists on first use; later executions read it back with
    * no Lloyd loop in-plan. Same pattern as [[pqServeTopK]].
    */
  def ivfServeTopK(emb: DataFrame, modelPath: String, nLists: Int,
      trainIters: Int, trainTarget: Long, nProbe: Int, nQueries: Int,
      k: Int): DataFrame =
    ivfSearch(emb,
      localized(graft.tools.ModelStore.ensure(modelPath,
        kmeansCentroids(emb, nLists, trainIters, trainTarget),
        spec = "kmeansCentroids v1"))
        .select(col("__cid").cast("long").as("list_id"), col("ce")),
      nProbe, nQueries, k)

  /** The IVF search stage — broadcast-centroid list assignment,
    * nProbe probe lists per query, ranking only the probed lists'
    * members — shared by the fixed-seed, trained, and serve variants.
    */
  private def ivfSearch(emb: DataFrame, seeds: DataFrame, nProbe: Int,
      nQueries: Int, k: Int): DataFrame =
    ivfSearchUnsorted(emb, seeds, nProbe, nQueries, k)
      .orderBy(col("qid"), col("rank"))

  /** The IVF search without the presentation sort — for consumers
    * that aggregate the ranking further (the x107 recall report),
    * where an inner global sort would survive as a pointless
    * coalesced-to-one-partition range exchange in the composed plan
    * (same reasoning as [[broadcastCosineTopKUnsorted]]).
    */
  private def cosTo(v: Column, c: Column): Column =
    round(graft.functions.VectorFunctions.cosine_similarity(v, c), 6)

  /** The IVF argmax list assignment (broadcast ≤nLists seeds, one
    * corpus pass) — shared by the search stage and the x110
    * list-occupancy report so both see the identical index layout.
    */
  private def ivfAssign(emb: DataFrame, seeds: DataFrame): DataFrame =
    // Spread: ×nLists cosine expansion over the single-split scan
    // (see pqEncode) — the per-vec_id window below shuffles anyway,
    // so the exchange only parallelizes the expansion stage
    graft.tools.ScaleTier.spread(emb).crossJoin(broadcast(seeds))
      .withColumn("c", cosTo(col("embedding"), col("ce")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("c").desc, col("list_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("list_id"), col("embedding"))

  private def ivfSearchUnsorted(emb: DataFrame, seeds: DataFrame,
      nProbe: Int, nQueries: Int, k: Int): DataFrame = {
    val assigned = ivfAssign(emb, seeds)
    // queries probe their nProbe nearest lists
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(seeds))
      .withColumn("c", cosTo(col("qe"), col("ce")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("c").desc, col("list_id"))))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qe"), col("list_id"))
    probes.join(assigned, "list_id")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosTo(col("embedding"), col("qe")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
  }

  /** X2: ANN recall@k report — the index-quality observability
    * table: per query, how many of the EXACT top-k neighbors (the
    * x05 brute-force baseline) the IVF probe path (the x18 layout)
    * actually returned. The table that decides nProbe/nLists before
    * anyone trusts a sublinear index at 100 TB: recall collapsing on
    * a label slice or after an encoder change shows up here, not in
    * the (always-plausible) ANN output itself.
    *
    * Determinism: both rankings already tie-break on (cos 6dp,
    * vec_id); hits are set intersections of those exact rankings;
    * recall_bp = hits · (10000/k) stays in integers (k must divide
    * 10000). Scale shape: both sides are the existing bounded
    * searches (broadcast seeds/queries, per-qid bounded rankings);
    * the comparison join touches ≤ 2·nQueries·k rows.
    */
  def annRecallReport(emb: DataFrame, nLists: Int, nProbe: Int,
      nQueries: Int, k: Int): DataFrame = {
    require(10000 % k == 0, "k must divide 10000 for exact recall_bp")
    val seeds = ivfSeeds(emb, nLists)
    val approx = ivfSearchUnsorted(emb, seeds, nProbe, nQueries, k)
      .select(col("qid"), col("vec_id"), lit(1).as("m"))
    val exact = cosineTopKUnsorted(emb, nQueries, k)
      .select(col("qid"), col("vec_id"))
    exact.join(approx, Seq("qid", "vec_id"), "left_outer")
      .groupBy(col("qid"))
      .agg(sum(when(col("m").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("qid"), col("hits"),
        (col("hits") * lit((10000 / k).toLong)).as("recall_bp"))
      .orderBy(col("qid"))
  }

  def annRecallReportSql(nLists: Int, nProbe: Int, nQueries: Int,
      k: Int): String =
    s"""WITH dbl AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), lists AS (
       |  SELECT vec_id AS list_id, e AS ce FROM dbl WHERE vec_id < $nLists
       |),
       |${ivfSearchSql(nProbe, nQueries, k)}, ivfk AS (
       |  SELECT qid, vec_id FROM ranked WHERE rank <= $k
       |), eprods AS (
       |  SELECT q.vec_id AS qid, d.vec_id,
       |    round(list_dot_product(d.e, q.e)
       |      / (sqrt(list_dot_product(d.e, d.e))
       |       * sqrt(list_dot_product(q.e, q.e))), 6) AS cos
       |  FROM dbl d CROSS JOIN dbl q
       |  WHERE q.vec_id < $nQueries AND d.vec_id <> q.vec_id
       |), exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id) AS rank
       |    FROM eprods) WHERE rank <= $k
       |)
       |SELECT e.qid, CAST(count(i.vec_id) AS BIGINT) AS hits,
       |       CAST(count(i.vec_id) * ${10000 / k} AS BIGINT) AS recall_bp
       |FROM exact e LEFT JOIN ivfk i
       |  ON i.qid = e.qid AND i.vec_id = e.vec_id
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin

  def ivfTopKSql(nLists: Int, nProbe: Int, nQueries: Int, k: Int): String =
    s"""WITH dbl AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), lists AS (
       |  SELECT vec_id AS list_id, e AS ce FROM dbl WHERE vec_id < $nLists
       |),
       |${ivfSearchSql(nProbe, nQueries, k)}
       |${ivfFinalSql(k)}""".stripMargin

  /** Trained-quantizer IVF oracle: the Lloyd CTE chain supplies the
    * centroid relation, the shared search chain does the rest. Also
    * the x72 serve oracle — recomputing the training in-SQL is what
    * proves the persisted model serves bit-identically.
    */
  def ivfTrainedTopKSql(nLists: Int, trainIters: Int, trainTarget: Long,
      nProbe: Int, nQueries: Int, k: Int): String =
    s"""WITH ${kmeansCtesSql(nLists, trainIters, trainTarget)},
       |lists AS (
       |  SELECT CAST(cid AS BIGINT) AS list_id, ce FROM c$trainIters
       |),
       |${ivfSearchSql(nProbe, nQueries, k)}
       |${ivfFinalSql(k)}""".stripMargin

  /** The IVF search CTE chain over a `lists(list_id, ce)` relation
    * and the `dbl` double-cast corpus — shared by the fixed-seed and
    * trained oracles so the two cannot drift.
    */
  /** The IVF argmax-assignment CTE over `dbl` × `lists` — shared by
    * the search chain and the list-occupancy oracle (x110).
    */
  private def ivfAssignedCteSql: String =
    s"""assigned AS (
       |  SELECT vec_id, list_id, e FROM (
       |    SELECT d.vec_id, s.list_id, d.e,
       |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
       |        round(list_dot_product(d.e, s.ce)
       |          / (sqrt(list_dot_product(d.e, d.e))
       |           * sqrt(list_dot_product(s.ce, s.ce))), 6) DESC,
       |        s.list_id) AS rn
       |    FROM dbl d CROSS JOIN lists s)
       |  WHERE rn = 1
       |)""".stripMargin

  private def ivfSearchSql(nProbe: Int, nQueries: Int, k: Int): String =
    s"""$ivfAssignedCteSql, probes AS (
       |  SELECT qid, qe, list_id FROM (
       |    SELECT d.vec_id AS qid, d.e AS qe, s.list_id,
       |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
       |        round(list_dot_product(d.e, s.ce)
       |          / (sqrt(list_dot_product(d.e, d.e))
       |           * sqrt(list_dot_product(s.ce, s.ce))), 6) DESC,
       |        s.list_id) AS rn
       |    FROM dbl d CROSS JOIN lists s WHERE d.vec_id < $nQueries)
       |  WHERE rn <= $nProbe
       |), scored AS (
       |  SELECT p.qid, a.vec_id,
       |    round(list_dot_product(a.e, p.qe)
       |      / (sqrt(list_dot_product(a.e, a.e))
       |       * sqrt(list_dot_product(p.qe, p.qe))), 6) AS cos
       |  FROM probes p JOIN assigned a ON a.list_id = p.list_id
       |  WHERE a.vec_id <> p.qid
       |), ranked AS (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored
       |)""".stripMargin

  /** The final top-k presentation select over the IVF `ranked` CTE —
    * appended by the standalone oracles; the recall-report oracle
    * (x107) keeps `ranked` as a relation instead.
    */
  private def ivfFinalSql(k: Int): String =
    s"""SELECT qid, rank, vec_id, cos FROM ranked WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin

  /** Deterministic pseudo-random hyperplanes (fixed seed) shared by
    * the Spark plan and the generated oracle SQL as literal arrays.
    */
  def planes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(20260812L)
    Array.fill(nPlanes, dim)(rnd.nextDouble() * 2.0 - 1.0)
  }

  /** Random-hyperplane LSH: bucket id = sign-bit string of the dot
    * products with `nPlanes` fixed hyperplanes. Same-bucket vectors
    * are ANN candidates; this is the sublinear scale path (bucket
    * join instead of all-pairs).
    */
  def lshBuckets(emb: DataFrame, nPlanes: Int, dim: Int): DataFrame = {
    val ps = planes(nPlanes, dim)
    val bitCols = ps.zipWithIndex.map { case (p, j) =>
      val plane: Column = array(p.map(lit): _*)
      when(dot_product(col("embedding"), plane) >= 0, lit(1 << j))
        .otherwise(lit(0))
    }
    emb.select(col("vec_id"), bitCols.reduce(_ + _).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("v_min"),
        max(col("vec_id")).as("v_max"))
      .orderBy(col("bucket"))
  }

  /** X2: embedding-cosine near-duplicate pairs: banded
    * random-hyperplane LSH (candidate if the two vectors share a full
    * sign-signature in ANY band — OR over bands recovers the recall a
    * single long signature loses), then exact cosine on candidates
    * only.
    *
    * Scale honesty: a random pair collides per band with prob
    * ~0.5^planesPerBand, so the candidate join is Θ(N²/2^planes)·bands
    * — planesPerBand must grow with log₂N (≈ log₂N − log₂(avg bucket
    * size you can afford)) to keep buckets O(1). True near-dups
    * (cos ≥ 0.95) still collide per band with prob ≈ 0.9^planes, so
    * recall stays high under the OR. Norms are computed once per
    * vector before the pair join, not per pair.
    *
    * Degenerate-signature guard: buckets larger than `bucketCap` are
    * dropped before pair enumeration (same cap-and-drop as
    * Dedup.simhashNearDup) — an over-full bucket means a
    * non-discriminative band (templated or near-zero embeddings
    * collapsing to one sign pattern), and without the cap one such
    * bucket is a quadratic blow-up no plane-growth rule prevents.
    */
  def nearDupPairs(emb: DataFrame, bands: Int, planesPerBand: Int,
      dim: Int, threshold: Double, bucketCap: Int = 64): DataFrame = {
    val ps = planes(bands * planesPerBand, dim)
    val sigCols = (0 until bands).map { b =>
      (0 until planesPerBand).map { j =>
        val plane: Column = array(ps(b * planesPerBand + j).map(lit): _*)
        when(dot_product(col("embedding"), plane) >= 0,
          lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _).as(s"sig$b")
    }
    // Spread: bands·planes dot products per row over the single-split
    // scan (the pqEncode/ivfAssign straggler shape)
    val sigs = graft.tools.ScaleTier.spread(emb)
      .select(col("vec_id") +: col("embedding") +: sigCols: _*)
      .select(col("vec_id"), expr(
        (0 until bands).map(b => s"$b, sig$b")
          .mkString(s"stack($bands, ", ", ", ") AS (band, sig)")))
    // bucket-list form: ONE groupBy per (band, sig) via the
    // cap-and-drop BoundedMinK aggregate — the buffer never exceeds
    // bucketCap+1 entries, so a degenerate signature bucket cannot
    // materialize its member list (the single-buffer OOM a post-hoc
    // size filter would allow). In-bucket enumeration is then
    // ≤ bucketCap²/2 pairs per bucket.
    val cands = sigs
      .groupBy(col("band"), col("sig"))
      .agg(graft.functions.MinK.bounded_min_k(bucketCap)(col("vec_id"))
        .as("vs"))
      .filter(size(col("vs")) > 0)
      .select(explode(expr(
        """flatten(transform(vs, (x, i) ->
          |  transform(slice(vs, i + 2, size(vs)),
          |            y -> struct(x AS i, y AS j))))""".stripMargin)).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
      .distinct()
    // zero-norm vectors (failed upstream encoders) have no direction:
    // cosine is undefined, and the raw dot/(ni·nj) division would
    // throw under ANSI mode — they can never be near-duplicates, so
    // they leave the pair pool here (mirrored in the oracle SQL)
    val normed = emb.select(col("vec_id"), col("embedding"),
      sqrt(dot_product(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0)
    val e1 = normed.select(col("vec_id").as("i"), col("embedding").as("ei"),
      col("nrm").as("ni"))
    val e2 = normed.select(col("vec_id").as("j"), col("embedding").as("ej"),
      col("nrm").as("nj"))
    cands.join(e1, "i").join(e2, "j")
      .withColumn("cos", round(
        dot_product(col("ei"), col("ej")) / (col("ni") * col("nj")), 6))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), col("cos"))
      .orderBy(col("i"), col("j"))
  }

  def nearDupPairsSql(bands: Int, planesPerBand: Int, dim: Int,
      threshold: Double, bucketCap: Int = 64): String =
    s"""WITH ${nearDupCtesSql(bands, planesPerBand, dim, threshold,
         bucketCap)}
       |SELECT i, j, cos FROM epairs
       |ORDER BY i, j""".stripMargin

  /** The x16 candidate→score chain as a CTE body (final relation:
    * `epairs` (i, j, cos), i < j) — shared by the standalone oracle
    * and the cross-modal consensus oracle (x106).
    */
  private[graft] def nearDupCtesSql(bands: Int, planesPerBand: Int,
      dim: Int, threshold: Double, bucketCap: Int = 64): String = {
    val ps = planes(bands * planesPerBand, dim)
    def sigExpr(b: Int): String =
      (0 until planesPerBand).map { j =>
        val litArr = ps(b * planesPerBand + j)
          .map(v => s"CAST('$v' AS DOUBLE)").mkString("[", ", ", "]")
        s"""CASE WHEN list_dot_product(
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)),
           |  $litArr) >= 0 THEN ${1 << j} ELSE 0 END""".stripMargin
      }.mkString(" + ")
    val sigSelects = (0 until bands)
      .map(b => s"SELECT vec_id, $b AS band, ${sigExpr(b)} AS sig FROM embeddings")
      .mkString("\nUNION ALL\n")
    s"""sigs AS (
       |$sigSelects
       |), kept AS (
       |  SELECT band, sig FROM sigs GROUP BY band, sig
       |  HAVING count(*) <= $bucketCap
       |), cands AS (
       |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
       |  FROM sigs a
       |  JOIN kept k ON a.band = k.band AND a.sig = k.sig
       |  JOIN sigs b
       |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
       |), scored AS (
       |  SELECT c.i, c.j,
       |    round(
       |      list_dot_product(list_transform(e1.embedding, x -> CAST(x AS DOUBLE)),
       |                       list_transform(e2.embedding, x -> CAST(x AS DOUBLE)))
       |      / (sqrt(list_dot_product(list_transform(e1.embedding, x -> CAST(x AS DOUBLE)),
       |                               list_transform(e1.embedding, x -> CAST(x AS DOUBLE))))
       |       * sqrt(list_dot_product(list_transform(e2.embedding, x -> CAST(x AS DOUBLE)),
       |                               list_transform(e2.embedding, x -> CAST(x AS DOUBLE)))))
       |    , 6) AS cos
       |  FROM cands c
       |  JOIN embeddings e1 ON e1.vec_id = c.i
       |  JOIN embeddings e2 ON e2.vec_id = c.j
       |  WHERE list_dot_product(list_transform(e1.embedding, x -> CAST(x AS DOUBLE)),
       |                         list_transform(e1.embedding, x -> CAST(x AS DOUBLE))) > 0
       |    AND list_dot_product(list_transform(e2.embedding, x -> CAST(x AS DOUBLE)),
       |                         list_transform(e2.embedding, x -> CAST(x AS DOUBLE))) > 0
       |), epairs AS (
       |  SELECT i, j, cos FROM scored WHERE cos >= $threshold
       |)""".stripMargin
  }

  def lshBucketsSql(nPlanes: Int, dim: Int): String = {
    val ps = planes(nPlanes, dim)
    val bitTerms = ps.zipWithIndex.map { case (p, j) =>
      val litArr = p.map(v => s"CAST('$v' AS DOUBLE)")
        .mkString("[", ", ", "]")
      s"""CASE WHEN list_dot_product(
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)),
         |  $litArr) >= 0 THEN ${1 << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""WITH b AS (SELECT vec_id, $bitTerms AS bucket FROM embeddings)
       |SELECT bucket, count(*) AS n, min(vec_id) AS v_min,
       |       max(vec_id) AS v_max
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** X2: multi-probe LSH calibration — per query, the candidate bill
    * and exact-top-k recall of probing ONLY the query's own
    * hyperplane bucket (the x06 baseline) vs additionally probing
    * every bucket at Hamming distance 1 (the multi-probe trick: a
    * near neighbor that fell on the wrong side of ONE hyperplane is
    * recovered without adding hash tables — Lv et al., VLDB'07). The
    * table that decides whether multi-probe earns its (nPlanes+1)×
    * candidate bill before anyone trusts it at 100 TB.
    *
    * Shape: signatures are one map-only pass (shared [[planes]]
    * family with x06); the probe frame is nQueries·(nPlanes+1) rows
    * (bounded — AQE broadcasts it); candidates come from the bucket
    * equi-join, never a pair enumeration; the exact baseline is the
    * x05/x107 broadcast-kernel top-k. Every vector lands in exactly
    * one bucket and probe buckets are distinct (qb XOR distinct
    * masks), so a candidate appears at most once — counts are exact
    * integers. Queries whose probed buckets are all empty still
    * report (left join from the query spine, zero-filled).
    */
  def multiProbeRecall(emb: DataFrame, nPlanes: Int, dim: Int,
      nQueries: Int, k: Int): DataFrame = {
    val ps = planes(nPlanes, dim)
    val bitCols = ps.zipWithIndex.map { case (p, j) =>
      val plane: Column = array(p.map(lit): _*)
      when(dot_product(col("embedding"), plane) >= 0, lit(1 << j))
        .otherwise(lit(0))
    }
    val sigs = emb.select(col("vec_id"), bitCols.reduce(_ + _).as("bucket"))
    val qsigs = sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("bucket").as("qb"))
    val masks = (0 +: (0 until nPlanes).map(1 << _).toList).map(lit(_))
    val probes = qsigs
      .select(col("qid"), explode(array(masks: _*)).as("m"),
        col("qb"))
      .select(col("qid"), col("m"), col("qb").bitwiseXOR(col("m")).as("pb"))
    val cands = probes.join(sigs, probes("pb") === sigs("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("m"))
    val exact = cosineTopKUnsorted(emb, nQueries, k)
      .select(col("qid"), col("vec_id"), lit(1).as("t"))
    val perq = cands.join(exact, Seq("qid", "vec_id"), "left_outer")
      .groupBy(col("qid"))
      .agg(
        sum(when(col("m") === 0, 1L).otherwise(0L)).as("cand_base"),
        count(lit(1)).as("cand_multi"),
        sum(when(col("m") === 0 && col("t").isNotNull, 1L).otherwise(0L))
          .as("hits_base"),
        sum(when(col("t").isNotNull, 1L).otherwise(0L)).as("hits_multi"))
    qsigs.select(col("qid")).join(perq, Seq("qid"), "left_outer")
      .select(col("qid"),
        coalesce(col("cand_base"), lit(0L)).as("cand_base"),
        coalesce(col("cand_multi"), lit(0L)).as("cand_multi"),
        coalesce(col("hits_base"), lit(0L)).as("hits_base"),
        coalesce(col("hits_multi"), lit(0L)).as("hits_multi"))
      .orderBy(col("qid"))
  }

  def multiProbeRecallSql(nPlanes: Int, dim: Int, nQueries: Int,
      k: Int): String = {
    val ps = planes(nPlanes, dim)
    val bitTerms = ps.zipWithIndex.map { case (p, j) =>
      val litArr = p.map(v => s"CAST('$v' AS DOUBLE)")
        .mkString("[", ", ", "]")
      s"""CASE WHEN list_dot_product(
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)),
         |  $litArr) >= 0 THEN ${1 << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    val maskList = (0 +: (0 until nPlanes).map(1 << _).toList)
      .mkString("[", ", ", "]")
    s"""WITH b AS (SELECT vec_id, $bitTerms AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS qid, bucket AS qb FROM b
       |      WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT qid, t.m AS m, xor(qb, t.m) AS pb
       |  FROM q CROSS JOIN (SELECT unnest($maskList) AS m) t
       |), cands AS (
       |  SELECT p.qid, s.vec_id, p.m
       |  FROM probes p JOIN b s ON s.bucket = p.pb
       |  WHERE s.vec_id <> p.qid
       |), dbl AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), eprods AS (
       |  SELECT qv.vec_id AS qid, d.vec_id,
       |    round(list_dot_product(d.e, qv.e)
       |      / (sqrt(list_dot_product(d.e, d.e))
       |       * sqrt(list_dot_product(qv.e, qv.e))), 6) AS cos
       |  FROM dbl d CROSS JOIN dbl qv
       |  WHERE qv.vec_id < $nQueries AND d.vec_id <> qv.vec_id
       |), exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id) AS rank
       |    FROM eprods) WHERE rank <= $k
       |), perq AS (
       |  SELECT c.qid,
       |    CAST(sum(CASE WHEN c.m = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cand_base,
       |    CAST(count(*) AS BIGINT) AS cand_multi,
       |    CAST(sum(CASE WHEN c.m = 0 AND e.vec_id IS NOT NULL
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS hits_base,
       |    CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits_multi
       |  FROM cands c LEFT JOIN exact e
       |    ON e.qid = c.qid AND e.vec_id = c.vec_id
       |  GROUP BY c.qid
       |)
       |SELECT q.qid,
       |       COALESCE(p.cand_base, 0) AS cand_base,
       |       COALESCE(p.cand_multi, 0) AS cand_multi,
       |       COALESCE(p.hits_base, 0) AS hits_base,
       |       COALESCE(p.hits_multi, 0) AS hits_multi
       |FROM q LEFT JOIN perq p USING (qid)
       |ORDER BY q.qid""".stripMargin
  }

  /** Iterated Lloyd refinement of the IVF coarse quantizer: starting
    * from the first-k seed vectors, alternate argmax-cosine
    * assignment (broadcast centroids — k rows — against the streamed
    * corpus) and per-cluster mean (posexplode + hash aggregate,
    * map-side partials, shuffle of k·dim rows per iteration). The
    * loop that turns [[labelCentroids]]' aggregation step and
    * [[ivfTopK]]'s fixed seeds into a trained quantizer; every
    * iteration is the 100 TB shape (nothing collects, nothing joins
    * unbounded sides). Cosines and means round to 6dp each iteration
    * so the trajectory is engine-reproducible; internal `__cid`/
    * `__dim` names mark the bounded keys (cardinality k and dim).
    * Clusters that lose all members drop out — identically in the
    * oracle.
    */
  /** Collect a BOUNDED model frame (the 1-row PQ codebook, the ≤k
    * centroid rows) to the driver and rebuild it as a LocalRelation:
    * training executes exactly ONCE per operator invocation (the r6
    * cache() pin achieved the same sharing but leaked an
    * InMemoryRelation per invocation in long-lived sessions), nothing
    * stays persisted in executor storage, and the collected rows are
    * exactly what a persisted model table would hold — the
    * train-once/serve-many split ([[pqServeTopK]]) reads the same
    * schema back from parquet. The collect is bounded by construction:
    * callers only pass frames whose root is a grouping-free aggregate
    * or a ≤k-key aggregate.
    */
  private def localized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Absolute-row training-sample modulus: train on ~`target` rows
    * REGARDLESS of corpus size via the deterministic 1-in-r slice
    * `vec_id % r = 0` with r = max(1, ⌊N/target⌋). The former ratio
    * knob (`trainSample = r`) was a constant-factor reduction — at
    * 100× data the training pass still cost 100× — while Lloyd
    * quality needs only a FIXED sample; this pins the absolute
    * training I/O. The one count job here is metadata-cheap (a
    * columnless parquet scan) and runs only when training actually
    * executes (the serve path never reaches it). The oracle mirrors
    * the same arithmetic as a scalar subquery
    * (`count(*) // target`, floor division on both engines).
    */
  private[graft] def sampleModulus(emb: DataFrame, target: Long): Long =
    if (target <= 0) 1L else math.max(1L, emb.count() / target)

  private def sampleSliceSql(target: Long): String =
    if (target <= 0) ""
    else s"WHERE vec_id % greatest(1, " +
      s"(SELECT count(*) // $target FROM embeddings)) = 0"

  /** The Lloyd centroid loop behind [[kmeansRefine]], returning the
    * (`__cid`, `ce`) centroid frame — shared with the trained
    * [[semanticDedup]] assignment so the two operators cannot drift.
    * iters = 0 returns the raw seed frame. trainTarget = N > 0 runs
    * the per-iteration assignment passes over a deterministic
    * ~N-row slice of the corpus ([[sampleModulus]] — a pushed-down
    * scan filter, so at 100 TB training I/O is CONSTANT in corpus
    * size); seeds always come from the full corpus so the codebook
    * keys stay the first k ids regardless of the slice.
    */
  private[graft] def kmeansCentroids(emb: DataFrame, k: Int,
      iters: Int, trainTarget: Long = 0): DataFrame = {
    def cosTo(v: Column, c: Column): Column =
      round(graft.functions.VectorFunctions.cosine_similarity(v, c), 6)
    val trainEmb = {
      val r = if (iters > 0) sampleModulus(emb, trainTarget) else 1L
      if (r > 1) emb.filter(pmod(col("vec_id"), lit(r)) === 0) else emb
    }
    // pmod(vec_id, k) is the identity on the filtered seed domain
    // vec_id ∈ [0, k) — it exists to give the per-iteration centroid
    // broadcast a STRUCTURAL cardinality-≤-k certificate (PlanAudit
    // certifies arithmetic, not column names)
    var centroids = emb.filter(col("vec_id") < k)
      .select(pmod(col("vec_id"), lit(k)).as("__cid"),
        col("embedding").cast("array<double>").as("ce"))
    for (_ <- 1 to iters) {
      val assigned = trainEmb.crossJoin(broadcast(centroids))
        .withColumn("c", cosTo(col("embedding"), col("ce")))
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("vec_id"))
          .orderBy(col("c").desc, col("__cid"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("__cid"), col("embedding"))
      centroids = assigned
        .select(col("__cid"),
          posexplode(col("embedding")).as(Seq("__dim", "v")))
        .groupBy(col("__cid"), col("__dim"))
        .agg(round(avg(col("v").cast("double")), 6).as("cv"))
        .groupBy(col("__cid"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(__dim, cv))), s -> s.cv)")
          .as("ce"))
    }
    centroids
  }

  def kmeansRefine(emb: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansCentroids(emb, k, iters)
      .select(col("__cid").as("cid"),
        posexplode(col("ce")).as(Seq("i", "centroid")))
      .orderBy(col("cid"), col("i"))

  private def sqlCos(a: String, b: String): String =
    s"""round(list_dot_product($a, $b)
       |  / (sqrt(list_dot_product($a, $a))
       |   * sqrt(list_dot_product($b, $b))), 6)""".stripMargin

  /** The dbl → c0 → (a_t, d_t, c_t)* Lloyd CTE chain mirroring
    * [[kmeansCentroids]]; the final centroid relation is `c<iters>`
    * (cid, ce). Shared by the kmeansRefine and trained-semanticDedup
    * oracles.
    */
  private def kmeansCtesSql(k: Int, iters: Int,
      trainTarget: Long = 0): String = {
    def stage(cin: String, aOut: String, dOut: String, cOut: String): String =
      s"""$aOut AS (
         |  SELECT vec_id, cid, e FROM (
         |    SELECT d.vec_id, c.cid, d.e,
         |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
         |        ${sqlCos("d.e", "c.ce")} DESC, c.cid) AS rn
         |    FROM dblt d CROSS JOIN $cin c)
         |  WHERE rn = 1
         |), $dOut AS (
         |  SELECT cid, i, round(avg(e[i+1]), 6) AS cv
         |  FROM $aOut, UNNEST(range(len(e))) AS r(i)
         |  GROUP BY 1, 2
         |), $cOut AS (
         |  SELECT cid, list(cv ORDER BY i) AS ce FROM $dOut GROUP BY cid
         |)""".stripMargin
    val stages = (1 to iters)
      .map(t => stage(s"c${t - 1}", s"a$t", s"d$t", s"c$t"))
      .mkString(",\n")
    val slice = sampleSliceSql(if (iters > 0) trainTarget else 0)
    s"""dbl AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), dblt AS (
       |  SELECT * FROM dbl $slice
       |), c0 AS (
       |  SELECT vec_id AS cid, e AS ce FROM dbl WHERE vec_id < $k
       |)${if (iters > 0) ",\n" + stages else ""}""".stripMargin
  }

  def kmeansRefineSql(k: Int, iters: Int): String =
    s"""WITH ${kmeansCtesSql(k, iters)}
       |SELECT cid, i, cv AS centroid FROM d$iters
       |ORDER BY cid, i""".stripMargin

  /** X2/X3: embedding outlier report — every vector's cosine to its
    * assigned TRAINED centroid (shared Lloyd loop, the x57/x85
    * model), flagged when it sits more than `z` population standard
    * deviations BELOW its cluster's mean affinity. The curation
    * signal for "this embedding belongs to no cluster": encoder
    * failures, off-distribution content, and mislabeled modality all
    * surface here before they poison a semantic-dedup or
    * cluster-sampling pass.
    *
    * Determinism: affinities quantize to integer ten-thousandths
    * (c4) before the per-cluster moments, so mean/sd come from exact
    * integer sums (the x63 idiom); zero-sd clusters admit no outlier
    * and drop. Zero-norm vectors and zero-norm centroids are
    * excluded up front (no NaN enters a comparison in either
    * dialect).
    *
    * Scale shape: one broadcast-centroid pass (argmax assignment as
    * a map-side struct-min aggregate), one ≤k-row moments dim, one
    * co-keyed join back — linear, the x63 shape over trained
    * clusters.
    */
  def centroidOutliers(emb: DataFrame, k: Int, trainIters: Int,
      z: Double, trainTarget: Long = 0): DataFrame =
    centroidOutliersFrom(emb,
      kmeansCentroids(emb, k, trainIters, trainTarget), z)

  /** The x97 serve path: centroids persist via ModelStore like every
    * other trained model (the x66/x88 invariant — EVERY trained
    * model in the engine has a train-once/serve-many split); scoring
    * + moments + flagging shared verbatim with the in-query-training
    * form, so the serve query is hash-identical to x97.
    */
  def centroidOutliersServe(emb: DataFrame, modelPath: String, k: Int,
      trainIters: Int, z: Double, trainTarget: Long = 0): DataFrame =
    centroidOutliersFrom(emb, localized(graft.tools.ModelStore
      .ensure(modelPath, kmeansCentroids(emb, k, trainIters,
        trainTarget))), z)

  private def centroidOutliersFrom(emb: DataFrame, cents: DataFrame,
      z: Double): DataFrame = {
    val scored = emb.crossJoin(broadcast(cents))
      .withColumn("c", round(graft.functions.VectorFunctions
        .cosine_similarity(col("embedding"), col("ce")), 6))
      .filter(col("c").isNotNull)
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("c")).as("nc"), col("__cid").as("cid")))
        .as("b"))
      .select(col("vec_id"), col("b.cid").as("cid"),
        round((-col("b.nc")) * 10000, 0).cast("long").as("c4"))
    val stats = scored.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("c4")).as("s"),
        sum(col("c4") * col("c4")).as("ss"))
      .select(col("cid"),
        (col("s").cast("double") / col("n")).as("mean"),
        sqrt((col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n"))
          / col("n")).as("sd"))
      .filter(col("sd") > 0)
    scored.join(stats, "cid")
      .withColumn("zs", (col("c4").cast("double") - col("mean")) / col("sd"))
      .filter(col("zs") < -z)
      .select(col("vec_id"), col("cid"), col("c4"),
        round(col("zs") * 10000, 0).cast("long").as("z4"))
      .orderBy(col("vec_id"))
  }

  def centroidOutliersSql(k: Int, trainIters: Int, z: Double): String =
    s"""WITH ${kmeansCtesSql(k, trainIters)}, scored AS (
       |  SELECT vec_id, cid, CAST(round(c * 10000, 0) AS BIGINT) AS c4
       |  FROM (
       |    SELECT d.vec_id, c.cid, ${sqlCos("d.e", "c.ce")} AS c,
       |      row_number() OVER (PARTITION BY d.vec_id
       |        ORDER BY ${sqlCos("d.e", "c.ce")} DESC, c.cid) AS rn
       |    FROM dbl d CROSS JOIN c$trainIters c
       |    WHERE list_dot_product(d.e, d.e) > 0
       |      AND list_dot_product(c.ce, c.ce) > 0)
       |  WHERE rn = 1
       |), stats AS (
       |  SELECT cid,
       |    CAST(sum(c4) AS DOUBLE) / count(*) AS mean,
       |    sqrt((CAST(sum(c4 * c4) AS DOUBLE)
       |          - CAST(sum(c4) AS DOUBLE) * CAST(sum(c4) AS DOUBLE)
       |            / count(*)) / count(*)) AS sd
       |  FROM scored GROUP BY cid
       |  HAVING sqrt((CAST(sum(c4 * c4) AS DOUBLE)
       |          - CAST(sum(c4) AS DOUBLE) * CAST(sum(c4) AS DOUBLE)
       |            / count(*)) / count(*)) > 0
       |)
       |SELECT vec_id, cid, c4,
       |  CAST(round((CAST(c4 AS DOUBLE) - mean) / sd * 10000, 0) AS BIGINT)
       |    AS z4
       |FROM scored JOIN stats USING (cid)
       |WHERE (CAST(c4 AS DOUBLE) - mean) / sd < -$z
       |ORDER BY vec_id""".stripMargin

  /** X2h: cluster-separation SILHOUETTE report — per trained cluster
    * (shared Lloyd loop, the x57/x85/x97 model): member count, mean
    * affinity to the OWN centroid, mean affinity to the runner-up
    * centroid, the mean separation margin (own − second, integer
    * ten-thousandths), and how many members are AMBIGUOUS (margin ≤
    * `ambThresh4`). The "is k right" table: margins near zero across
    * clusters mean k oversplits (two centroids claim the same
    * region); one cluster hoarding ambiguous members is a merge
    * candidate. x97 flags individual outlier VECTORS; this grades
    * the CLUSTERING — the simplified-silhouette idiom with cosine
    * affinity in place of distance.
    *
    * Determinism: affinities quantize to integer ten-thousandths
    * BEFORE (10000−c4)·1024+cid packing, so the top-2 selection and
    * every mean (sum div n) are exact integers in both engines.
    * Zero-norm vectors/centroids are excluded like x97.
    *
    * Scale shape: one broadcast-centroid pass; the per-vector top-2
    * is the keep-k-smallest aggregate (map-side partials) on the
    * packed long — never a per-vec_id row_number window; then one
    * hash aggregate to ≤k report rows.
    */
  def silhouetteReport(emb: DataFrame, k: Int, trainIters: Int,
      ambThresh4: Long, trainTarget: Long = 0): DataFrame = {
    // the (10000−c4)·1024+cid packing reserves 10 bits for the
    // centroid id — a larger k would silently corrupt ids/affinities
    // instead of failing (ADVICE r9)
    require(k >= 1 && k <= 1024,
      s"silhouetteReport: k=$k outside [1, 1024] (packing stride)")
    val cents = kmeansCentroids(emb, k, trainIters, trainTarget)
    val top2 = emb.crossJoin(broadcast(cents))
      .withColumn("c", round(graft.functions.VectorFunctions
        .cosine_similarity(col("embedding"), col("ce")), 6))
      .filter(col("c").isNotNull)
      .withColumn("c4", round(col("c") * 10000, 0).cast("long"))
      .withColumn("p",
        (lit(10000L) - col("c4")) * lit(1024L) + col("__cid"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.MinK.smallest_k(2)(col("p")).as("ps"))
      .filter(size(col("ps")) === 2)
      .select((col("ps")(0) % 1024L).as("cid"),
        (lit(10000L) - expr("ps[0] div 1024")).as("a4"),
        (lit(10000L) - expr("ps[1] div 1024")).as("b4"))
    top2
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        // +10000 shift keeps the dividend non-negative: Spark's div
        // truncates toward zero, DuckDB's // floors — they only agree
        // on non-negative operands (affinities can be < 0)
        (expr("sum(a4 + 10000) div count(1)") - 10000L).as("mean_own4"),
        (expr("sum(b4 + 10000) div count(1)") - 10000L)
          .as("mean_second4"),
        expr("sum(a4 - b4) div count(1)").as("mean_margin4"),
        sum(when(col("a4") - col("b4") <= ambThresh4, 1L)
          .otherwise(0L)).as("n_ambiguous"))
      .orderBy(col("cid"))
  }

  /** Oracle: the shared Lloyd CTE chain + the same integer packing
    * order via a per-vector row_number top-2 (fine at oracle scale).
    */
  def silhouetteReportSql(k: Int, trainIters: Int,
      ambThresh4: Long): String =
    s"""WITH ${kmeansCtesSql(k, trainIters)}, sc AS (
       |  SELECT d.vec_id, c.cid,
       |    CAST(round(${sqlCos("d.e", "c.ce")} * 10000, 0) AS BIGINT)
       |      AS c4
       |  FROM dbl d CROSS JOIN c$trainIters c
       |  WHERE list_dot_product(d.e, d.e) > 0
       |    AND list_dot_product(c.ce, c.ce) > 0
       |), rk AS (
       |  SELECT vec_id, cid, c4,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c4 DESC, cid) AS rn
       |  FROM sc
       |), tb AS (
       |  SELECT vec_id,
       |    max(CASE WHEN rn = 1 THEN cid END) AS cid,
       |    max(CASE WHEN rn = 1 THEN c4 END) AS a4,
       |    max(CASE WHEN rn = 2 THEN c4 END) AS b4
       |  FROM rk WHERE rn <= 2 GROUP BY vec_id
       |  HAVING count(*) = 2
       |)
       |SELECT cid, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(a4 + 10000) // count(*) - 10000 AS BIGINT)
       |    AS mean_own4,
       |  CAST(sum(b4 + 10000) // count(*) - 10000 AS BIGINT)
       |    AS mean_second4,
       |  CAST(sum(a4 - b4) // count(*) AS BIGINT) AS mean_margin4,
       |  CAST(sum(CASE WHEN a4 - b4 <= $ambThresh4 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_ambiguous
       |FROM tb GROUP BY cid ORDER BY cid""".stripMargin

  /** Product-quantization ANN (x46): split each `dim`-vector into `m`
    * subvectors, quantize every subvector to its nearest of `ksub`
    * codebook centroids (the first `ksub` vectors' subvectors — a
    * trained quantizer from [[kmeansRefine]] slots in identically),
    * then answer top-k by asymmetric distance computation: a query
    * precomputes its m×ksub table of subvector distances, and each
    * corpus vector's approximate distance is m table lookups summed —
    * the standard 100 TB embedding-compression layout (codes are
    * m bytes instead of dim floats; scoring is m adds, no dot
    * products against the corpus).
    *
    * Plan shape: the codebook is ONE grouping-free aggregate row
    * (provably bounded → broadcast), so ENCODE is a map-only
    * projection — argmin per subspace evaluated per row against the
    * broadcast array, no shuffle at all. The per-query distance
    * tables are a second bounded broadcast (nQueries rows). The only
    * exchange in the whole query is the final per-qid bounded
    * partial top-k ([[graft.functions.TopK]]). Distances are
    * quantized to integer micro-units (floor(d²·1e6 + 0.5), a long)
    * so code assignment, ADC sums, and ranking are integer-exact in
    * both engines — no float-order hazard anywhere.
    */
  /** d²(a,b) = |a|² + |b|² − 2a·b in integer micro-units: three
    * sequential dot products (codegen kernel ≡ list_dot_product) with
    * the same left-to-right combine as the oracle, then exact floor.
    */
  private[graft] def pqD2u6(a: Column, b: Column): Column =
    floor((dot_product(a, a) + dot_product(b, b)
      - lit(2.0) * dot_product(a, b)) * lit(1e6) + lit(0.5))

  private def pqSubvec(e: Column, sub: Column, subDim: Int): Column =
    slice(e, sub * subDim + 1, lit(subDim))

  /** The 1-row PQ codebook frame: sorted (sub, cid, cvec) entries so
    * array position sub·ksub+cid is the ADC table index. A
    * grouping-free aggregate over a bounded slice — certified for
    * broadcast by the plan audit.
    */
  def pqCodebook(emb: DataFrame, dim: Int, m: Int, ksub: Int): DataFrame = {
    val subDim = dim / m
    emb.filter(col("vec_id") < ksub)
      .select(col("vec_id").cast("int").as("cid"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("embedding").as("e"))
      .select(col("sub"), col("cid"),
        pqSubvec(col("e"), col("sub"), subDim).as("cvec"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("sub"), col("cid"),
        col("cvec")))).as("cb"))
  }

  /** PQ encode as a column expression over a row bearing a `cb`
    * codebook array: argmin centroid per subspace — integer (d, cid)
    * struct-min gives the deterministic tiebreak. Pure projection;
    * shared verbatim by the batch encode and the streaming
    * encode-on-ingest twin.
    */
  private[graft] def pqArgminCodes(v: Column, m: Int,
      subDim: Int): Column = {
    // cb is SORTED by (sub, cid), so subspace `sub`'s entries are the
    // contiguous run [sub·stride+1, (sub+1)·stride] — slice them
    // directly instead of filter-scanning all m·stride entries per
    // subspace (an O(m²·ksub) expression tree per row; the stride is
    // the actual per-subspace centroid count, cf. the dt builder).
    // Same entries in the same cid order ⇒ identical argmin structs.
    val stride = (size(col("cb")) / lit(m)).cast("int")
    transform(sequence(lit(0), lit(m - 1)), sub =>
      array_min(transform(
        slice(col("cb"), sub * stride + 1, stride),
        c => struct(pqD2u6(pqSubvec(v, sub, subDim), c.getField("cvec"))
          .as("d"), c.getField("cid").as("cid")))).getField("cid"))
  }

  /** Map-only PQ encode: (vec_id, codes) with zero shuffles — the
    * codebook rides as a 1-row broadcast.
    */
  def pqEncode(emb: DataFrame, cbRow: DataFrame, dim: Int,
      m: Int): DataFrame =
    // Spread: the encode is a heavy map pass (m·ksub quantized
    // distances per row) over the single-split corpus scan — measured
    // as a 0.7 s ONE-task stage at sf0.1 local[32] (the x119/x41
    // straggler shape from round 10, same scale-adaptive fix)
    graft.tools.ScaleTier.spread(emb).crossJoin(broadcast(cbRow))
      .select(col("vec_id"),
        pqArgminCodes(col("embedding"), m, dim / m).as("codes"))

  /** Integer squared L2 distance between two long arrays — exact in
    * both engines, so k-means assignment has no float-order hazard.
    */
  private def intD2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, z) => acc + z)

  /** TRAINED PQ codebook: per-subspace Lloyd k-means over the corpus
    * subvectors, seeded from the first `ksub` vectors, `iters`
    * refinement rounds — the quantizer-quality step the untrained
    * first-ksub codebook lacks (recall at scale depends on it; see
    * PqRecallSpec). Entirely integer-exact so the trajectory is
    * bit-reproducible in the oracle: subvector components quantize to
    * micro-units (floor(x·1e6+0.5) as long), assignment is integer
    * squared-L2 argmin with (d, cid) struct-min tiebreak, and the
    * centroid update is exact integer floor division
    * ((s − pmod(s, n)) / n). A subspace cluster that loses all
    * members keeps its previous centroid, so every subspace always
    * carries exactly `ksub` entries and the ADC table stride stays
    * uniform.
    *
    * Plan shape per iteration: centroids collapse to ONE grouping-free
    * aggregate row (provably bounded → broadcast), assignment is a
    * map-only projection against it, and the update is one
    * posexplode + hash aggregate whose shuffle carries m·ksub·subDim
    * rows regardless of corpus size. trainTarget = N > 0 is the
    * 100 TB knob: the per-iteration assignment passes read only a
    * deterministic ~N-row slice ([[sampleModulus]] — a pushed-down
    * scan filter, so training I/O is CONSTANT in corpus size), while
    * seeds and the downstream encode/ADC still cover the full corpus;
    * the iteration shape is unchanged.
    */
  def pqTrainCodebook(emb: DataFrame, dim: Int, m: Int, ksub: Int,
      iters: Int, trainTarget: Long = 0): DataFrame = {
    val subDim = dim / m
    val sv = emb.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"), col("sub"),
        transform(pqSubvec(col("e"), col("sub"), subDim),
          x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("v"))
    val svT = {
      val r = if (iters > 0) sampleModulus(emb, trainTarget) else 1L
      if (r > 1) sv.filter(pmod(col("vec_id"), lit(r)) === 0) else sv
    }
    var cent = sv.filter(col("vec_id") < ksub)
      .select(col("sub"), col("vec_id").cast("int").as("cid"),
        col("v").as("cv"))
    for (_ <- 1 to iters) {
      val cb1 = cent.groupBy()
        .agg(sort_array(collect_list(
          struct(col("sub"), col("cid"), col("cv")))).as("cb"))
      // cb sorted by (sub, cid): slice the subspace's contiguous run
      // instead of filter-scanning the whole table per row (see
      // pqArgminCodes)
      val stride1 = (size(col("cb")) / lit(m)).cast("int")
      val assigned = svT.crossJoin(broadcast(cb1))
        .select(col("sub"), col("v"),
          array_min(transform(
            slice(col("cb"), col("sub") * stride1 + 1, stride1),
            c => struct(intD2(col("v"), c.getField("cv")).as("d"),
              c.getField("cid").as("cid")))).getField("cid").as("cid"))
      val updated = assigned
        .select(col("sub"), col("cid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("sub"), col("cid"), col("i"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("cid"), col("i"),
          ((col("s") - pmod(col("s"), col("n"))) / col("n"))
            .cast("long").as("cx"))
        .groupBy(col("sub"), col("cid"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(i, cx))), s -> s.cx)")
          .as("ucv"))
      // m·ksub rows — collect the iteration's centroids to a
      // LocalRelation (the `localized` bounded-model idiom): each
      // iteration then plans against a literal instead of the whole
      // nested history, which kept the final collect's plan depth
      // (and its driver-side planning + codegen time) proportional
      // to the iteration count
      cent = localized(cent.join(updated, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"),
          coalesce(col("ucv"), col("cv")).as("cv")))
    }
    cent.select(col("sub"), col("cid"),
        transform(col("cv"), x => x / lit(1e6)).as("cvec"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("sub"), col("cid"),
        col("cvec")))).as("cb"))
  }

  def pqTopK(emb: DataFrame, dim: Int, m: Int, ksub: Int, nQueries: Int,
      k: Int, trainIters: Int = 0, trainTarget: Long = 0): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    // localized, not cache(): BOTH consumers (encode, ADC tables) read
    // this 1-row frame; collecting it once to a LocalRelation runs the
    // training subtree exactly once and leaves nothing persisted in
    // executor storage (the r6 cache() pin leaked an InMemoryRelation
    // per invocation in long-lived sessions). PlanAudit certifies a
    // LocalRelation broadcast directly (driver-local by construction),
    // and audits the training plan itself as a separate entry.
    val cbRow = localized(
      if (trainIters > 0)
        pqTrainCodebook(emb, dim, m, ksub, trainIters, trainTarget)
      else pqCodebook(emb, dim, m, ksub))
    pqAdcTopK(emb, cbRow, dim, m, nQueries, k)
  }

  /** PQ ANN, SERVE path — identical encode/ADC/top-k to [[pqTopK]],
    * but the trained codebook comes from a persisted model table
    * ([[graft.tools.ModelStore]]): trained and written on first use,
    * read back (a few-KB parquet scan, no training plan at all) on
    * every subsequent execution. The oracle for this query is the
    * full deterministic in-query-training SQL, so a hash match proves
    * the parquet round-trip is bit-exact — the train-once/serve-many
    * split costs nothing in fidelity.
    */
  def pqServeTopK(emb: DataFrame, modelPath: String, dim: Int, m: Int,
      ksub: Int, nQueries: Int, k: Int, trainIters: Int = 0,
      trainTarget: Long = 0): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val cbRow = localized(graft.tools.ModelStore.ensure(modelPath,
      if (trainIters > 0)
        pqTrainCodebook(emb, dim, m, ksub, trainIters, trainTarget)
      else pqCodebook(emb, dim, m, ksub),
      spec = if (trainIters > 0) "pqTrainCodebook v1"
        else "pqCodebook v1"))
    pqAdcTopK(emb, cbRow, dim, m, nQueries, k)
  }

  /** The serve stage of PQ ANN — map-only encode against the 1-row
    * broadcast codebook, per-query ADC distance tables, bounded
    * partial top-k — shared verbatim by [[pqTopK]] (in-query
    * training) and [[pqServeTopK]] (persisted model), so the two
    * paths cannot drift.
    */
  private def pqAdcTopK(emb: DataFrame, cbRow: DataFrame, dim: Int,
      m: Int, nQueries: Int, k: Int): DataFrame = {
    val subDim = dim / m
    def d2u6(a: Column, b: Column): Column = pqD2u6(a, b)
    def subvec(e: Column, sub: Column): Column = pqSubvec(e, sub, subDim)
    val codes = pqEncode(emb, cbRow, dim, m)
    // per-query ADC tables: dt[sub·ksub + cid] = d²(q_sub, c_sub,cid)
    val dt = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("__qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cbRow))
      // the dt stride is the ACTUAL per-subspace centroid count (a
      // corpus smaller than ksub trains a smaller codebook; indexing
      // by the literal ksub would walk past the table)
      .select(col("__qid"), (size(col("cb")) / m).cast("int").as("__stride"),
        transform(col("cb"), c =>
          d2u6(subvec(col("qe"), c.getField("sub")), c.getField("cvec")))
          .as("dt"))
    val scored = codes.crossJoin(broadcast(dt))
      .filter(col("vec_id") =!= col("__qid"))
      .select(col("__qid").as("qid"), col("vec_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, sub) =>
          acc + element_at(col("dt"),
            sub * col("__stride") + element_at(col("codes"), sub + 1) + 1))
          .as("adist_u6"))
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopK.top_k(k)(
        -col("adist_u6").cast("double"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.vec_id").as("vec_id"),
        (-col("hit.cos")).cast("long").as("adist_u6"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The trained-codebook CTE chain mirroring [[pqTrainCodebook]]:
    * micro-unit subvectors, integer argmin assignment per round,
    * exact integer floor-division centroid update, empty clusters
    * keeping their previous centroid.
    */
  private def pqTrainedCbSql(subDim: Int, m: Int, ksub: Int,
      iters: Int, trainTarget: Long = 0): String = {
    val d2 =
      """CAST(list_aggregate(list_transform(range(len(s.v)),
        |  i -> (s.v[CAST(i AS INT)+1] - c.cv[CAST(i AS INT)+1])
        |     * (s.v[CAST(i AS INT)+1] - c.cv[CAST(i AS INT)+1])),
        |  'sum') AS BIGINT)""".stripMargin
    val stages = (1 to iters).map { t =>
      val p = t - 1
      s"""a$t AS (
         |  SELECT sub, v, cid FROM (
         |    SELECT s.vec_id, s.sub, s.v, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub
         |        ORDER BY $d2, c.cid) AS rn
         |    FROM sv s JOIN c$p c ON c.sub = s.sub)
         |  WHERE rn = 1
         |), u$t AS (
         |  SELECT sub, cid, list(cx ORDER BY i) AS ucv FROM (
         |    SELECT sub, cid, i,
         |      CAST((s - ((s % n + n) % n)) / n AS BIGINT) AS cx
         |    FROM (SELECT a.sub, a.cid, CAST(r.i AS INT) AS i,
         |            CAST(sum(v[CAST(r.i AS INT)+1]) AS BIGINT) AS s,
         |            count(*) AS n
         |          FROM a$t a, UNNEST(range(len(v))) AS r(i)
         |          GROUP BY 1, 2, 3))
         |  GROUP BY 1, 2
         |), c$t AS (
         |  SELECT p.sub, p.cid, COALESCE(u.ucv, p.cv) AS cv
         |  FROM c$p p LEFT JOIN u$t u ON u.sub = p.sub AND u.cid = p.cid
         |)""".stripMargin
    }.mkString(",\n")
    val slice = sampleSliceSql(if (iters > 0) trainTarget else 0)
    s"""sva AS (
       |  SELECT vec_id, s.sub,
       |    list_transform(embedding[s.sub*$subDim+1 : s.sub*$subDim+$subDim],
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
       |             AS BIGINT)) AS v
       |  FROM embeddings, UNNEST(range($m)) AS s(sub)
       |), sv AS (
       |  SELECT * FROM sva $slice
       |), c0 AS (
       |  SELECT sub, CAST(vec_id AS INT) AS cid, v AS cv
       |  FROM sva WHERE vec_id < $ksub
       |),
       |$stages,
       |cb AS (
       |  SELECT sub, cid, list_transform(cv, x -> x / 1000000.0) AS cvec
       |  FROM c$iters
       |)""".stripMargin
  }

  def pqTopKSql(dim: Int, m: Int, ksub: Int, nQueries: Int,
      k: Int, trainIters: Int = 0, trainTarget: Long = 0): String = {
    val subDim = dim / m
    val cbSql =
      if (trainIters > 0)
        pqTrainedCbSql(subDim, m, ksub, trainIters, trainTarget)
      else
        s"""cb AS (
           |  SELECT s.sub, e.vec_id AS cid,
           |    list_transform(e.embedding[s.sub*$subDim+1 : s.sub*$subDim+$subDim],
           |                   x -> CAST(x AS DOUBLE)) AS cvec
           |  FROM embeddings e, UNNEST(range($m)) AS s(sub)
           |  WHERE e.vec_id < $ksub
           |)""".stripMargin
    s"""WITH $cbSql, corpus AS (
       |  SELECT vec_id, s.sub,
       |    list_transform(embedding[s.sub*$subDim+1 : s.sub*$subDim+$subDim],
       |                   x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings, UNNEST(range($m)) AS s(sub)
       |), dists AS (
       |  SELECT c.vec_id, c.sub, cb.cid,
       |    CAST(floor((list_dot_product(c.v, c.v)
       |         + list_dot_product(cb.cvec, cb.cvec)
       |         - 2 * list_dot_product(c.v, cb.cvec)) * 1000000 + 0.5)
       |      AS BIGINT) AS d
       |  FROM corpus c JOIN cb ON c.sub = cb.sub
       |), codes AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY d, cid) AS rn
       |    FROM dists) WHERE rn = 1
       |), adc AS (
       |  SELECT q.vec_id AS qid, c.vec_id,
       |         CAST(sum(q.d) AS BIGINT) AS adist_u6
       |  FROM codes c
       |  JOIN dists q ON q.sub = c.sub AND q.cid = c.code
       |    AND q.vec_id < $nQueries
       |  WHERE c.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT qid, vec_id, adist_u6,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY adist_u6, vec_id) AS rank
       |  FROM adc
       |)
       |SELECT qid, rank, vec_id, adist_u6 FROM ranked WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin
  }

  /** X2: IVF-PQ composed ANN — the index layout production systems
    * actually run at 100 TB (FAISS's IVFADC): the x18 coarse
    * quantizer routes every vector into one inverted list, queries
    * probe their nProbe nearest lists, and WITHIN the probed lists
    * ranking is the x46 PQ asymmetric-distance computation over
    * m-subspace codes — so per query the full-precision corpus is
    * never touched: the probe prunes to ~nProbe/nLists of the corpus
    * and ADC reads only the m-byte codes plus a per-query
    * (m·ksub)-entry distance table.
    *
    * Shape: list assignment and PQ encode are ONE shared map-only
    * pass against broadcast seeds + the 1-row broadcast codebook; the
    * probe frame is nQueries·nProbe rows; candidate scoring is the
    * list equi-join; ADC sums are exact integers (micro-unit d²), so
    * ranking ties break deterministically on (adist, vec_id). All
    * machinery shared verbatim with x18 (ivfAssign/probes) and x46
    * (pqArgminCodes, ADC tables, bounded top-k tail).
    */
  def ivfPqTopK(emb: DataFrame, nLists: Int, nProbe: Int, dim: Int,
      m: Int, ksub: Int, nQueries: Int, k: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val seeds = ivfSeeds(emb, nLists)
    val cbRow = localized(pqCodebook(emb, dim, m, ksub))
    // one pass: list assignment + PQ encode (both broadcast-driven)
    val coded = ivfAssign(emb, seeds)
      .crossJoin(broadcast(cbRow))
      .select(col("vec_id"), col("list_id"),
        pqArgminCodes(col("embedding"), m, subDim).as("codes"))
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(seeds))
      .withColumn("c", cosTo(col("qe"), col("ce")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("c").desc, col("list_id"))))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("list_id"))
    val dt = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("__qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cbRow))
      .select(col("__qid"),
        (size(col("cb")) / m).cast("int").as("__stride"),
        transform(col("cb"), c =>
          pqD2u6(pqSubvec(col("qe"), c.getField("sub"), subDim),
            c.getField("cvec"))).as("dt"))
    val scored = probes.join(broadcast(dt), probes("qid") === dt("__qid"))
      .join(coded, "list_id")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, sub) =>
          acc + element_at(col("dt"),
            sub * col("__stride") + element_at(col("codes"), sub + 1) + 1))
          .as("adist_u6"))
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopK.top_k(k)(
        -col("adist_u6").cast("double"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("hit.vec_id").as("vec_id"),
        (-col("hit.cos")).cast("long").as("adist_u6"))
      .orderBy(col("qid"), col("rank"))
  }

  /** X2: IVF-PQ recall@k report — the x107 recall table for the
    * composed IVFADC path (x149): per query, how many of the EXACT
    * cosine top-k the probe-pruned, quantization-distorted ranking
    * actually returned. IVFADC loses recall in TWO places (probe
    * misses the right list; ADC distortion reorders within a list) —
    * this is the number that decides nProbe/m/ksub before anyone
    * trusts the composed index at 100 TB. Same bounded shapes as
    * x107/x149.
    */
  def ivfPqRecallReport(emb: DataFrame, nLists: Int, nProbe: Int,
      dim: Int, m: Int, ksub: Int, nQueries: Int, k: Int): DataFrame = {
    require(10000 % k == 0, "k must divide 10000 for exact recall_bp")
    val approx = ivfPqTopK(emb, nLists, nProbe, dim, m, ksub, nQueries, k)
      .select(col("qid"), col("vec_id"), lit(1).as("mm"))
    val exact = cosineTopKUnsorted(emb, nQueries, k)
      .select(col("qid"), col("vec_id"))
    exact.join(approx, Seq("qid", "vec_id"), "left_outer")
      .groupBy(col("qid"))
      .agg(sum(when(col("mm").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("qid"), col("hits"),
        (col("hits") * lit((10000 / k).toLong)).as("recall_bp"))
      .orderBy(col("qid"))
  }

  def ivfPqRecallReportSql(nLists: Int, nProbe: Int, dim: Int, m: Int,
      ksub: Int, nQueries: Int, k: Int): String = {
    val inner = ivfPqTopKSql(nLists, nProbe, dim, m, ksub, nQueries, k)
    s"""WITH ipq AS (
       |$inner
       |), dblx AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), eprods AS (
       |  SELECT qv.vec_id AS qid, d.vec_id,
       |    round(list_dot_product(d.e, qv.e)
       |      / (sqrt(list_dot_product(d.e, d.e))
       |       * sqrt(list_dot_product(qv.e, qv.e))), 6) AS cos
       |  FROM dblx d CROSS JOIN dblx qv
       |  WHERE qv.vec_id < $nQueries AND d.vec_id <> qv.vec_id
       |), exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id) AS rank
       |    FROM eprods) WHERE rank <= $k
       |)
       |SELECT e.qid, CAST(count(i.vec_id) AS BIGINT) AS hits,
       |       CAST(count(i.vec_id) * ${10000 / k} AS BIGINT) AS recall_bp
       |FROM exact e LEFT JOIN ipq i
       |  ON i.qid = e.qid AND i.vec_id = e.vec_id
       |GROUP BY e.qid ORDER BY e.qid""".stripMargin
  }

  def ivfPqTopKSql(nLists: Int, nProbe: Int, dim: Int, m: Int,
      ksub: Int, nQueries: Int, k: Int): String = {
    val subDim = dim / m
    s"""WITH dbl AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), lists AS (
       |  SELECT vec_id AS list_id, e AS ce FROM dbl WHERE vec_id < $nLists
       |),
       |$ivfAssignedCteSql, probes AS (
       |  SELECT qid, list_id FROM (
       |    SELECT d.vec_id AS qid, s.list_id,
       |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
       |        round(list_dot_product(d.e, s.ce)
       |          / (sqrt(list_dot_product(d.e, d.e))
       |           * sqrt(list_dot_product(s.ce, s.ce))), 6) DESC,
       |        s.list_id) AS rn
       |    FROM dbl d CROSS JOIN lists s WHERE d.vec_id < $nQueries)
       |  WHERE rn <= $nProbe
       |), cb AS (
       |  SELECT s.sub, e.vec_id AS cid,
       |    list_transform(e.embedding[s.sub*$subDim+1 : s.sub*$subDim+$subDim],
       |                   x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM embeddings e, UNNEST(range($m)) AS s(sub)
       |  WHERE e.vec_id < $ksub
       |), corpus AS (
       |  SELECT vec_id, s.sub,
       |    list_transform(embedding[s.sub*$subDim+1 : s.sub*$subDim+$subDim],
       |                   x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings, UNNEST(range($m)) AS s(sub)
       |), dists AS (
       |  SELECT c.vec_id, c.sub, cb.cid,
       |    CAST(floor((list_dot_product(c.v, c.v)
       |         + list_dot_product(cb.cvec, cb.cvec)
       |         - 2 * list_dot_product(c.v, cb.cvec)) * 1000000 + 0.5)
       |      AS BIGINT) AS d
       |  FROM corpus c JOIN cb ON c.sub = cb.sub
       |), codes AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY d, cid) AS rn
       |    FROM dists) WHERE rn = 1
       |), adc AS (
       |  SELECT p.qid, c.vec_id, CAST(sum(q.d) AS BIGINT) AS adist_u6
       |  FROM probes p
       |  JOIN assigned a ON a.list_id = p.list_id
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN dists q ON q.sub = c.sub AND q.cid = c.code
       |    AND q.vec_id = p.qid
       |  WHERE c.vec_id <> p.qid
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT qid, vec_id, adist_u6,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY adist_u6, vec_id) AS rank
       |  FROM adc
       |)
       |SELECT qid, rank, vec_id, adist_u6 FROM ranked WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin
  }

  /** Per-label embedding centroids — the aggregation step of k-means
    * / class-prototype computation. Explode to (label, dim, value)
    * and hash-aggregate: partial avg runs map-side per partition, so
    * the shuffle carries labels × dim rows regardless of corpus size
    * — the reduction shape that holds at 100 TB. (An iterated k-means
    * would re-assign labels by nearest centroid via
    * VectorFunctions.cosine_similarity and loop this.)
    */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("v").cast("double")), 6).as("centroid"))
      .orderBy(col("label"), col("i"))

  val labelCentroidsSql: String =
    """SELECT label, i, count(*) AS n,
      |       round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS centroid
      |FROM embeddings, UNNEST(range(len(embedding))) AS r(i)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** X1/X2: semantic deduplication, SemDeDup shape (Abbas et al.
    * 2023): cluster the embedding space, then mark as duplicates the
    * vectors whose cosine to a LOWER-id member of the SAME cluster
    * clears the threshold — all-pairs similarity never runs, only the
    * within-cluster candidate enumeration.
    *
    * Scale honesty: the cluster assignment is one broadcast-k pass
    * (k centroids, argmax cosine); per-cluster member lists come from
    * the cap-and-drop BoundedMinK aggregate (buffer ≤ clusterCap+1 —
    * an over-cap cluster is dropped whole rather than enumerated,
    * the same guard as the LSH near-dup buckets), so pair work is
    * ≤ clusterCap²/2 per cluster. In production k grows ~√N to hold
    * cluster sizes, exactly as SemDeDup prescribes; the harness run
    * pins the arithmetic with fixed seeds. The pmod on the seed ids
    * is the identity on [0, k) and hands the centroid broadcast its
    * structural cardinality certificate.
    */
  def semanticDedup(emb: DataFrame, k: Int, threshold: Double,
      clusterCap: Int = 256, trainIters: Int = 0,
      trainTarget: Long = 0): DataFrame = {
    // trainIters > 0 runs the shared Lloyd loop (kmeansCentroids —
    // the x36 machinery) so the space partition reflects the actual
    // vector distribution instead of whichever k vectors carry the
    // lowest ids; localized (driver-collected ≤k rows) so training
    // runs once and no cache pin outlives the query — see [[localized]]
    val centroids =
      localized(kmeansCentroids(emb, k, trainIters, trainTarget))
    semanticDedupFrom(emb, centroids, threshold, clusterCap)
  }

  /** Semantic-dedup SERVE path (train-once/serve-many,
    * [[graft.tools.ModelStore]]): the ≤k-row centroid table is trained
    * + persisted on first use and read back (no Lloyd loop at all) on
    * every later one; assignment + within-cluster dedup are shared
    * verbatim with [[semanticDedup]], so the served result is
    * bit-identical to in-query training (the 6dp-rounded centroid
    * doubles round-trip parquet exactly).
    */
  def semanticDedupServe(emb: DataFrame, modelPath: String, k: Int,
      threshold: Double, clusterCap: Int = 256, trainIters: Int = 0,
      trainTarget: Long = 0): DataFrame = {
    val centroids = localized(graft.tools.ModelStore.ensure(modelPath,
      kmeansCentroids(emb, k, trainIters, trainTarget),
      spec = "kmeansCentroids v1"))
    semanticDedupFrom(emb, centroids, threshold, clusterCap)
  }

  /** The serve stage of semantic dedup — broadcast-centroid argmax
    * assignment, capped within-cluster pair enumeration, keep-the-
    * first marking — shared by [[semanticDedup]] (in-query training)
    * and [[semanticDedupServe]] (persisted model).
    */
  /** Broadcast-centroid argmax assignment — ONE hash aggregate (min
    * over struct(−cos, cid) ≡ ORDER BY cos DESC, cid), map-side
    * partial per vector, no rank-window sort of the |emb|·k crossed
    * rows. Shared by x57/x68 (dedup) and x85 (cluster sampling).
    */
  private[graft] def assignToCentroids(emb: DataFrame,
      centroids: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centroids))
      .withColumn("c", round(graft.functions.VectorFunctions
        .cosine_similarity(col("embedding"), col("ce")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("c")).as("nc"), col("__cid").as("cid")))
        .as("b"))
      .select(col("vec_id"), col("b.cid").as("cid"))

  private def semanticDedupFrom(emb: DataFrame, centroids: DataFrame,
      threshold: Double, clusterCap: Int): DataFrame = {
    val assigned = assignToCentroids(emb, centroids)
    val pairs = assigned.groupBy(col("cid"))
      .agg(graft.functions.MinK.bounded_min_k(clusterCap)(col("vec_id"))
        .as("vs"))
      .filter(size(col("vs")) > 0)
      .select(explode(expr(
        """flatten(transform(vs, (x, i) ->
          |  transform(slice(vs, i + 2, size(vs)),
          |            y -> struct(x AS i, y AS j))))""".stripMargin)).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
    val e1 = emb.select(col("vec_id").as("i"), col("embedding").as("ei"))
    val e2 = emb.select(col("vec_id").as("j"), col("embedding").as("ej"))
    // a vector is a duplicate iff SOME lower-id same-cluster member
    // is within the threshold (keep-the-first rule — deterministic,
    // no transitive chaining)
    val dropped = pairs.join(e1, "i").join(e2, "j")
      .withColumn("cos", round(graft.functions.VectorFunctions
        .cosine_similarity(col("ei"), col("ej")), 6))
      .filter(col("cos") >= threshold)
      .select(col("j").as("vec_id"), lit(true).as("dup"))
      .distinct()
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** The argmax-assignment CTE over the kmeansCtesSql outputs —
    * shared by the x57 and x85 oracles.
    */
  private def assignedCteSql(trainIters: Int): String =
    s"""assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT d.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY d.vec_id
       |        ORDER BY ${sqlCos("d.e", "c.ce")} DESC, c.cid) AS rn
       |    FROM dbl d CROSS JOIN c$trainIters c)
       |  WHERE rn = 1
       |)""".stripMargin

  /** X2: cluster-balanced sampling — the data-mixing face of the
    * trained-centroid family: per-cluster quotas ∝ size^tau with
    * largest-remainder rounding (the x45 temperature arithmetic,
    * keyed on semantic clusters instead of sources), members chosen
    * by deterministic md5 rank within each cluster. tau < 1
    * deliberately over-samples small clusters — the standard
    * counter to web-scale corpora where a few dominant modes drown
    * the tail (cf. cluster-balanced data selection; same family as
    * DSIR/SemDeDup pipelines).
    *
    * Scale shape: the trained-centroid assignment (broadcast ≤k
    * centroids, one corpus pass), a k-row allocation frame, and the
    * per-cluster rank window (k partitions — the x45 posture; swap
    * for OrderedRank if k must grow past the executor count).
    */
  def clusterSample(emb: DataFrame, k: Int, budget: Int,
      tau: Double = 0.5, trainIters: Int = 1,
      trainTarget: Long = 250): DataFrame = {
    val centroids =
      localized(kmeansCentroids(emb, k, trainIters, trainTarget))
    clusterSampleFromAssigned(assignToCentroids(emb, centroids),
      budget, tau)
  }

  /** Cluster-sample SERVE path (train-once/serve-many,
    * [[graft.tools.ModelStore]]): the ≤k-row trained centroid table
    * is persisted on first use and read back on every later one (no
    * Lloyd loop in the serve plan); assignment + quota selection are
    * shared verbatim with [[clusterSample]], so the served sample is
    * bit-identical to in-query training.
    */
  def clusterSampleServe(emb: DataFrame, modelPath: String, k: Int,
      budget: Int, tau: Double = 0.5, trainIters: Int = 1,
      trainTarget: Long = 250): DataFrame = {
    val centroids = localized(graft.tools.ModelStore.ensure(modelPath,
      kmeansCentroids(emb, k, trainIters, trainTarget),
      spec = "kmeansCentroids v1"))
    clusterSampleFromAssigned(assignToCentroids(emb, centroids),
      budget, tau)
  }

  /** The x85 quota-and-select tail over an assignment table — shared
    * by the batch operator and the streaming drain-time finisher.
    */
  private[graft] def clusterSampleFromAssigned(assigned: DataFrame,
      budget: Int, tau: Double): DataFrame = {
    // quota side built over a RENAMED projection: both join sides
    // would otherwise reference the same attribute ids when
    // `assigned` is a drained memory-sink view (the self-join
    // conflict the streaming finisher hits)
    val cnt = assigned.select(col("cid").as("cid2"))
      .groupBy(col("cid2")).agg(count(lit(1)).as("cnt"))
    val alloc = Sampling.allocations(cnt, budget, tau, keyCol = "cid2")
      .select(col("cid2").as("cid"), col("alloc"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(expr("md5(cast(vec_id as string))"))
    assigned
      .withColumn("rk", row_number().over(w))
      .join(alloc, Seq("cid"))
      .filter(col("rk") <= col("alloc"))
      .select(col("cid"), col("rk"), col("alloc"), col("vec_id"))
      .orderBy(col("cid"), col("rk"))
  }

  def clusterSampleSql(k: Int, budget: Int, tau: Double = 0.5,
      trainIters: Int = 1, trainTarget: Long = 250): String =
    s"""WITH ${kmeansCtesSql(k, trainIters, trainTarget)},
       |${assignedCteSql(trainIters)}, cnt AS (
       |  SELECT cid, count(*) AS cnt FROM assigned GROUP BY 1
       |), z AS (
       |  SELECT round(sum(pow(cnt, $tau)), 9) AS z FROM cnt
       |), quota AS (
       |  SELECT cid, round($budget * pow(cnt, $tau) / z, 9) AS q
       |  FROM cnt CROSS JOIN z
       |), qb AS (
       |  SELECT cid, CAST(floor(q) AS BIGINT) AS base,
       |         q - floor(q) AS rem
       |  FROM quota
       |), spent AS (
       |  SELECT CAST(sum(base) AS BIGINT) AS sb FROM qb
       |), alloc AS (
       |  SELECT cid, CAST(base + (CASE WHEN rrk <= $budget - sb
       |    THEN 1 ELSE 0 END) AS INT) AS alloc
       |  FROM (SELECT cid, base, rem,
       |          row_number() OVER (ORDER BY rem DESC, cid) AS rrk
       |        FROM qb) CROSS JOIN spent
       |), ranked AS (
       |  SELECT cid, vec_id, CAST(row_number() OVER (
       |    PARTITION BY cid
       |    ORDER BY md5(CAST(vec_id AS VARCHAR))) AS INT) AS rk
       |  FROM assigned
       |)
       |SELECT CAST(r.cid AS BIGINT) AS cid, r.rk, a.alloc, r.vec_id
       |FROM ranked r JOIN alloc a USING (cid)
       |WHERE r.rk <= a.alloc
       |ORDER BY cid, rk""".stripMargin

  def semanticDedupSql(k: Int, threshold: Double,
      clusterCap: Int = 256, trainIters: Int = 0,
      trainTarget: Long = 0): String = {
    s"""WITH ${kmeansCtesSql(k, trainIters, trainTarget)},
       |${assignedCteSql(trainIters)}, small AS (
       |  SELECT cid FROM assigned GROUP BY cid
       |  HAVING count(*) <= $clusterCap
       |), dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assigned a
       |  JOIN small s ON a.cid = s.cid
       |  JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN dbl ea ON ea.vec_id = a.vec_id
       |  JOIN dbl eb ON eb.vec_id = b.vec_id
       |  WHERE ${sqlCos("ea.e", "eb.e")} >= $threshold
       |)
       |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,
       |       (d.vec_id IS NOT NULL) AS is_dup
       |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** X1/X2: SEMANTIC decontamination — the embedding-space
    * complement of the n-gram benchmark scrub (x28,
    * [[Dedup.decontaminate]], `Dedup.scala`; reference surface:
    * vladislabv/python-darima has no curation ops — this extends the
    * engine's LLM-pipeline face). A paraphrased eval item shares no
    * 5-gram with the benchmark but sits next to it in embedding
    * space, so n-gram decontamination alone under-scrubs; the
    * standard fix is flagging every training vector whose max cosine
    * to ANY benchmark vector clears a threshold.
    *
    * Benchmark set: the deterministic `vec_id < benchIds` slice (the
    * x28 convention). Output: per-label contamination report —
    * n, n_flagged (max-cosine ≥ thetaC4 ten-thousandths), max_c4,
    * sum_c4 — all integers, so every aggregate is exact in both
    * dialects (the x63/x97 quantization idiom).
    *
    * Scale shape: the benchmark side collapses to ONE grouping-free
    * aggregate row (an array of ≤benchIds (bid, vec) structs —
    * provably 1 row, the PQ-codebook certificate), so scoring is a
    * MAP-ONLY projection: each corpus vector evaluates max cosine
    * over the broadcast array via a higher-order transform — no
    * per-vector shuffle anywhere (a groupBy(vec_id) max would
    * exchange the full corpus). The only exchange is the bounded
    * per-label report aggregate. Zero-norm vectors are excluded on
    * both sides in both dialects (no NaN enters a comparison).
    */
  def semanticDecontaminate(emb: DataFrame, benchIds: Int,
      thetaC4: Long): DataFrame =
    deconReport(deconScoredBatch(emb, benchIds), thetaC4)

  /** The per-vector scored relation (vec_id, label, c4) the x105
    * report aggregates — also consumed directly by the x112
    * decontamination-agreement table.
    */
  private[graft] def deconScoredBatch(emb: DataFrame,
      benchIds: Int): DataFrame = {
    val bench = emb
      .filter(col("vec_id") < benchIds &&
        dot_product(col("embedding"), col("embedding")) > 0)
      .agg(sort_array(collect_list(struct(col("vec_id").as("bid"),
        col("embedding").as("be")))).as("barr"))
    deconCorpus(emb, benchIds)
      .crossJoin(broadcast(bench))
      .withColumn("c4", deconMaxC4(col("barr")))
      // no scoreable benchmark vector → barr is empty → c4 NULL; the
      // oracle's CROSS JOIN against an empty semb emits no rows, so
      // drop the unscored rows to keep batch ≡ stream ≡ oracle in the
      // degenerate config (ADVICE r9)
      .filter(col("c4").isNotNull)
  }

  /** The x105 corpus filter — shared with the streaming ingest twin
    * so both paths score exactly the same vectors.
    */
  private[graft] def deconCorpus(emb: DataFrame, benchIds: Int): DataFrame =
    emb.filter(col("vec_id") >= benchIds &&
      dot_product(col("embedding"), col("embedding")) > 0)

  /** The x105 scoring expression — max over the benchmark array of
    * the 6dp-rounded fused-kernel cosine, quantized to integer
    * ten-thousandths. Shared verbatim by the batch operator (barr =
    * the 1-row broadcast aggregate) and the streaming ingest twin
    * (barr = the frozen literal array), so streamed scores are
    * bit-equal to batch.
    */
  private[graft] def deconMaxC4(barr: Column): Column =
    round(array_max(transform(barr,
        b => round(graft.functions.VectorFunctions
          .cosine_similarity(col("embedding"), b("be")), 6)))
      * 10000, 0).cast("long")

  /** The x105 per-label report tail over scored (label, c4) rows —
    * shared by the batch operator and the streaming drain finisher.
    */
  private[graft] def deconReport(scored: DataFrame,
      thetaC4: Long): DataFrame =
    scored
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("c4") >= thetaC4, 1L).otherwise(0L)).as("n_flagged"),
        max(col("c4")).as("max_c4"),
        sum(col("c4")).as("sum_c4"))
      .orderBy(col("label"))

  /** The x105 scoring chain as a CTE body (final relation:
    * `semscore` (vec_id, label, c4)) — shared by the standalone
    * report oracle and the x112 agreement oracle. CTE names are
    * prefixed (`sdbl`/`semb`) so they compose with the n-gram
    * decontamination CTEs without collision.
    */
  private[graft] def deconCtesSql(benchIds: Int): String =
    s"""sdbl AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), semb AS (
       |  SELECT vec_id AS bid, e AS be FROM sdbl
       |  WHERE vec_id < $benchIds AND list_dot_product(e, e) > 0
       |), semscore AS (
       |  SELECT d.vec_id, d.label,
       |         CAST(round(max(${sqlCos("d.e", "b.be")}) * 10000, 0)
       |           AS BIGINT) AS c4
       |  FROM sdbl d CROSS JOIN semb b
       |  WHERE d.vec_id >= $benchIds AND list_dot_product(d.e, d.e) > 0
       |  GROUP BY 1, 2
       |)""".stripMargin

  def semanticDecontaminateSql(benchIds: Int, thetaC4: Long): String =
    s"""WITH ${deconCtesSql(benchIds)}
       |SELECT label, count(*) AS n,
       |       CAST(sum(CASE WHEN c4 >= $thetaC4 THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_flagged,
       |       max(c4) AS max_c4,
       |       CAST(sum(c4) AS BIGINT) AS sum_c4
       |FROM semscore GROUP BY label ORDER BY label""".stripMargin

  /** X2n: margin-based bitext/alignment mining (the CCMatrix /
    * Artetxe–Schwenk "ratio" margin) — for each probe vector x
    * (`vec_id < nQueries`) and each of its top-k cosine candidates y
    * from the rest of the corpus: margin(x,y) = cos(x,y) / ((fwd(x) +
    * bwd(y)) / 2), where fwd(x) is the mean cosine of x's k nearest
    * candidates and bwd(y) the mean cosine of y's k nearest probes.
    * Raw cosine retrieves hubs — vectors near everything; dividing by
    * the two local neighborhood densities is what makes mined pairs
    * precision-viable (the margin criterion parallel-corpus miners
    * rank by). Emitted per surviving pair: cos, both neighborhood
    * (sum, n) integer stats, and the margin in integer micro-units —
    * margin_micro = cm·2·10⁶·n_fwd·n_bwd div (fwd_sum·n_bwd +
    * bwd_sum·n_fwd), kept only where cm ≥ 0 and the denominator is
    * positive so truncating (Spark `div`) and flooring (DuckDB `//`)
    * division agree exactly.
    *
    * Scale shape: ONE corpus pass against the broadcast probe set
    * through the fused codegen cosine (the x05 kernel: bounded
    * partial top-k, one exchange), a bounded ≤nQueries·k-row hit
    * table, then a broadcast-semi-join fetch of ONLY the hit
    * candidates' vectors for the backward rescore (map-only second
    * scan, tiny cross against the probes). Nothing pairwise over the
    * corpus; every join side past the scans is bounded.
    */
  def marginBitextMine(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val live = emb.filter(
      dot_product(col("embedding"), col("embedding")) > 0)
    val q = live.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cand = live.filter(col("vec_id") >= nQueries)
    val hits = broadcastCosineTopKUnsorted(cand, q, lit(true), k)
      .select(col("qid"), col("vec_id"),
        expr("cast(round(cos * 1000000, 0) as bigint)").as("cos_micro"))
    val fwd = hits.groupBy(col("qid"))
      .agg(sum(col("cos_micro")).as("fwd_sum_micro"),
        count(lit(1)).as("n_fwd"))
    // no broadcast hint on the ≤nQueries·k id set: the posexplode
    // above blocks the structural boundedness certificate, and AQE
    // broadcasts the tiny frame on its own (the x61 convention)
    val candIds = hits.select(col("vec_id")).distinct()
    val bwd = cand.join(candIds, "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("cos", round(graft.functions.VectorFunctions
        .cosine_similarity(col("embedding"), col("qe")), 6))
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopK.top_k(k)(col("cos"), col("qid")).as("top"))
      .select(col("vec_id"), explode(col("top")).as("h"))
      .select(col("vec_id"),
        expr("cast(round(h.cos * 1000000, 0) as bigint)").as("bm"))
      .groupBy(col("vec_id"))
      .agg(sum(col("bm")).as("bwd_sum_micro"), count(lit(1)).as("n_bwd"))
    hits.join(fwd, "qid").join(bwd, "vec_id")
      .filter(col("cos_micro") >= 0 &&
        (col("fwd_sum_micro") * col("n_bwd") +
          col("bwd_sum_micro") * col("n_fwd")) > 0)
      .select(col("qid"), col("vec_id"), col("cos_micro"),
        col("fwd_sum_micro"), col("n_fwd"),
        col("bwd_sum_micro"), col("n_bwd"),
        expr("cos_micro * 2000000 * n_fwd * n_bwd div " +
          "(fwd_sum_micro * n_bwd + bwd_sum_micro * n_fwd)")
          .as("margin_micro"))
      .orderBy(col("qid"), col("margin_micro").desc, col("vec_id"))
  }

  /** Oracle: the same forward ranking as a window (candidate volume
    * is the oracle's problem, not the engine's), the backward rescore
    * restricted to the hit ids, and the identical integer margin.
    */
  def marginBitextMineSql(nQueries: Int, k: Int): String =
    s"""WITH dbl AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |), live AS (
       |  SELECT vec_id, e FROM dbl WHERE list_dot_product(e, e) > 0
       |), q AS (
       |  SELECT vec_id AS qid, e AS qe FROM live
       |  WHERE vec_id < $nQueries
       |), c AS (
       |  SELECT vec_id, e FROM live WHERE vec_id >= $nQueries
       |), scored AS (
       |  SELECT q.qid, c.vec_id,
       |    CAST(round(${sqlCos("c.e", "q.qe")} * 1000000, 0) AS BIGINT)
       |      AS cm
       |  FROM c CROSS JOIN q
       |), franked AS (
       |  SELECT qid, vec_id, cm,
       |    row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id)
       |      AS rn
       |  FROM scored
       |), hits AS (
       |  SELECT qid, vec_id, cm FROM franked WHERE rn <= $k
       |), fwd AS (
       |  SELECT qid, CAST(sum(cm) AS BIGINT) AS fwd_sum_micro,
       |    CAST(count(*) AS BIGINT) AS n_fwd
       |  FROM hits GROUP BY 1
       |), branked AS (
       |  SELECT s.vec_id, s.cm, s.qid,
       |    row_number() OVER (PARTITION BY s.vec_id
       |      ORDER BY s.cm DESC, s.qid) AS rn
       |  FROM scored s
       |  WHERE s.vec_id IN (SELECT vec_id FROM hits)
       |), bwd AS (
       |  SELECT vec_id, CAST(sum(cm) AS BIGINT) AS bwd_sum_micro,
       |    CAST(count(*) AS BIGINT) AS n_bwd
       |  FROM branked WHERE rn <= $k GROUP BY 1
       |)
       |SELECT h.qid, h.vec_id, h.cm AS cos_micro,
       |  f.fwd_sum_micro, f.n_fwd, b.bwd_sum_micro, b.n_bwd,
       |  CAST(h.cm * 2000000 * f.n_fwd * b.n_bwd
       |    // (f.fwd_sum_micro * b.n_bwd + b.bwd_sum_micro * f.n_fwd)
       |    AS BIGINT) AS margin_micro
       |FROM hits h
       |JOIN fwd f ON f.qid = h.qid
       |JOIN bwd b ON b.vec_id = h.vec_id
       |WHERE h.cm >= 0
       |  AND f.fwd_sum_micro * b.n_bwd + b.bwd_sum_micro * f.n_fwd > 0
       |ORDER BY h.qid, margin_micro DESC, h.vec_id""".stripMargin

  /** TOP PRINCIPAL COMPONENT of the embedding cloud by distributed
    * power iteration — the "all-but-the-top" diagnostic (Mu & Viswanath
    * 2018): embedding sets dominated by one common direction waste
    * cosine resolution on it, and this is the direction a
    * post-processing step would remove. Also the go/no-go for the
    * x95 JL route: a huge top-share means random projections keep
    * less than their isotropic guarantee suggests.
    *
    * One power-iteration step is the matvec w = Aᵀ(Av) = Σ_x x·(x·v),
    * computed WITHOUT materializing the d×d Gram matrix: per row the
    * scalar dot (x·v) (int64 — micro-unit x times max-normalized v),
    * then per-dimension sums of x_j·dot in DECIMAL(38,0) (exact in
    * any execution order — the x114/x130 idiom). Between iterations v
    * is MAX-normalized in exact integers (v'_j = ((w_j+m)·10⁶) div m
    * − 10⁶ with m = max|w_j|, shift keeping operands non-negative so
    * Spark `div` and DuckDB `//` agree) — power iteration only needs
    * the direction, so unit norm is deferred to the reader. The
    * dominant-eigenvalue share is reported in exact basis points
    * λ·10⁴ div trace, both sides DECIMAL(38,0); the widening holds to
    * ~10⁷ vectors at dim 64 — past that the share column (a
    * diagnostic, not the direction) would need a second scale-down.
    *
    * Scale shape: the per-vector integer-array frame is pinned once
    * and reused by all K iterations; each iteration is ONE
    * distributed aggregate over it (per-row dot against the current
    * direction, dim exact sums), and the direction itself is
    * DIM-BOUNDED driver state (≤ embedding width, independent of
    * corpus size — the audited bounded-transfer idiom: coefficient
    * tables, BPE merge rounds). K is fixed.
    */
  private val dec38 = "decimal(38,0)"

  /** The pinned per-vector micro-quantized integer frame every
    * power-iteration stage reads: (vec_id, xs array<bigint>). The
    * cloud stays IN-ROW as arrays — no (vec, pos) explosion — so a
    * power-iteration step needs no join at all (see below).
    */
  private def microArrays(emb: DataFrame): DataFrame =
    graft.tools.Materialize(graft.tools.ScaleTier.spread(emb)
      // empty/null embeddings contributed no rows in the previous
      // (vec, pos)-exploded form; keep that semantics — dotExpr's
      // sequence(0, size(xs)-1) would otherwise build [0, -1] on an
      // empty array and element_at(xs, 0) throws
      .filter(size(col("embedding")) > 0)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) " +
          "* 1000000, 0) as bigint))").as("xs")))

  /** SQL literal for a direction vector (entries fit int64 by
    * construction: max-normalized to [−10⁶, 10⁶]).
    */
  private def vLit(v: IndexedSeq[BigInt]): String =
    v.map(x => s"${x}L").mkString("array(", ", ", ")")

  /** Per-row dot(xs, v) as int64 — the same Σ x·v the exploded form
    * summed per vec_id, now a codegen in-row fold (exact integer, so
    * summation order is irrelevant).
    */
  private def dotExpr(v: IndexedSeq[BigInt]): String =
    s"aggregate(sequence(0, size(xs) - 1), 0L, (acc, j) -> " +
      s"acc + element_at(xs, j + 1) * element_at(${vLit(v)}, j + 1))"

  /** K power-iteration steps; the direction lives as a DIM-BOUNDED
    * exact-integer driver array (dim ≤ embedding width — 64 here —
    * independent of corpus size: the audited bounded-transfer idiom,
    * same as the (tol+3)-row coefficient table and the ≤rounds BPE
    * merges). Each step is ONE distributed aggregate: per row the
    * int64 dot x·v, then dim DECIMAL(38,0) sums of x_j·dot — the
    * matvec w = Aᵀ(Av) without materializing the Gram matrix and,
    * versus the previous (vec,pos)-exploded form, without the
    * per-iteration v-broadcast join, per-pos shuffle, max-norm
    * aggregate and checkpoint pin (measured: x159 dropped from 71
    * jobs / 3.8 s to ~10 jobs / ~1 s at sf0.1 local[32]; at scale
    * each iteration is one pass over the pinned cloud instead of two
    * joins + two shuffles). Max-normalization v′_j = ((w_j+m)·10⁶)
    * div m − 10⁶ runs in BigInt — bit-identical to the previous
    * DECIMAL `div` (operands non-negative, both truncate).
    * Returns None when the cloud collapses (empty input or m = 0) —
    * the empty-frame semantics of the previous form and the oracle's
    * WHERE m > 0.
    */
  private def powerIterateVec(xs: DataFrame, dim: Int,
      iters: Int): Option[IndexedSeq[BigInt]] = {
    if (dim <= 0) return None
    var v: IndexedSeq[BigInt] = IndexedSeq.fill(dim)(BigInt(1000000))
    for (_ <- 1 to iters) {
      // ONE tight-loop aggregate per step (graft.functions.PowerSums):
      // the per-row long dot x·v and the dim exact 128-bit sums of
      // x_j·dot run in one JVM loop. The previous form computed the
      // dot as an interpreted higher-order fold (HigherOrderFunction
      // is CodegenFallback) and the sums as 64 DECIMAL(38,0) column
      // aggregates — measured 3-4 s of task time PER STEP on a
      // 5,000-row cloud. Identical exact integers (v entries are
      // max-normalized to [−10⁶, 10⁶], so the long dot bound is the
      // same one the in-plan fold relied on; 128-bit covers the sums
      // the DECIMAL(38,0) columns carried).
      val row = xs.agg(graft.functions.PowerSums.power_step(
        v.map(_.toLong), dim)(col("xs"))).head()
      val w = row.getSeq[String](0).map(BigInt(_)).toIndexedSeq
      val m = w.map(_.abs).max
      if (m == 0) return None
      v = w.map(wj => ((wj + m) * 1000000) / m - 1000000)
    }
    Some(v)
  }

  /** max array width of the pinned cloud — the data-side dim bound
    * (0 for an empty input).
    */
  private def cloudDim(xs: DataFrame): Int = {
    val r = xs.agg(max(size(col("xs")))).head()
    if (r.isNullAt(0)) 0 else r.getInt(0)
  }

  /** One pass over a cloud against a fixed direction: (Σ dot²,
    * Σ‖x‖²) in exact DECIMAL(38,0).
    */
  private def quadTrace(xs: DataFrame,
      v: IndexedSeq[BigInt]): (BigInt, BigInt) = {
    // same tight-loop form as powerIterateVec — one aggregate, exact
    // 128-bit sums (the previous DECIMAL(38,0) sums' values)
    val r = xs.agg(graft.functions.PowerSums.quad_trace(
      v.map(_.toLong))(col("xs"))).head()
    val s = r.getSeq[String](0)
    (BigInt(s(0)), BigInt(s(1)))
  }

  def topComponent(emb: DataFrame, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val xs = microArrays(emb)
    powerIterateVec(xs, cloudDim(xs), iters) match {
      case None =>
        Seq.empty[(Int, Long, Long)].toDF("j", "v_unit", "share_bp")
      case Some(v) =>
        val (quad, tr) = quadTrace(xs, v)
        val vv = v.map(x => x * x).sum
        // share ≤ 10⁴ by Cauchy–Schwarz (quad ≤ vv·tr): fits long
        val share = (quad * 10000) / (vv * tr)
        v.zipWithIndex.map { case (vu, j) => (j, vu.toLong, share.toLong) }
          .toDF("j", "v_unit", "share_bp")
          .orderBy(col("j"))
    }
  }

  /** ALL-BUT-THE-TOP applied (Mu & Viswanath 2018) — the x154 loop
    * CLOSED: find the top component, DEFLATE every vector by its
    * projection onto it, and report how much of the cloud's energy
    * the removal freed — stage 0 is the x154 share, stage 1 is the
    * deflated cloud's new top share plus the residual-trace fraction.
    * A big stage-0 share with a small stage-1 share says one common
    * direction was hogging cosine resolution and removing it is
    * worth a reindex; similar shares say the cloud is genuinely
    * anisotropic and deflation buys nothing.
    *
    * Exact-integer deflation: x′ = x − (x·v/vᵀv)·v is computed as
    * x″ = x·vᵀv − dot·v (pure integers in DECIMAL(38,0) — every row
    * scales by the same vᵀv, which leaves directions, shares, and
    * trace RATIOS unchanged) and re-based to micro units by one
    * truncating division by vᵀv, identical in both engines. The
    * second power iteration then runs on the deflated integer cloud
    * exactly as the first did.
    *
    * Scale shape: two pinned (vec, dim, x) frames and the same
    * per-iteration joins/aggregates as x154 — the deflation itself is
    * one co-keyed join (dot per vec) + map arithmetic, no new
    * exchange class; output is 2 rows.
    */
  def topRemoval(emb: DataFrame, iters: Int, iters2: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val xs = microArrays(emb)
    val dim = cloudDim(xs)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    powerIterateVec(xs, dim, iters).foreach { v =>
      // v defined ⇒ m > 0 ⇒ tr0 > 0: the stage rows below can never
      // divide by zero (the previous form's NULL-filter fires exactly
      // when powerIterateVec returns None)
      val (quad0, tr0) = quadTrace(xs, v)
      val vv = v.map(x => x * x).sum
      // stage-0 trace is its own base: (tr0·10⁴) div tr0 = 10⁴ exactly
      out += ((0, ((quad0 * 10000) / (vv * tr0)).toLong, 10000L))
      // x" = x·vᵀv − dot·v, re-based to micro units by ONE truncating
      // division — the uniform vᵀv scale cancels in every ratio.
      // Identical DECIMAL(38,0) ops to the exploded form, applied
      // in-row (dot from the v literal, no join, no per-pos shuffle).
      val vvDec = s"CAST('$vv' AS $dec38)"
      val xs2 = graft.tools.Materialize(
        xs.withColumn("dot", expr(dotExpr(v)))
          .select(col("vec_id"), expr(
            s"transform(sequence(0, size(xs) - 1), j -> " +
              s"cast((cast(element_at(xs, j + 1) as $dec38) * $vvDec " +
              s"- cast(dot as $dec38) * cast(element_at(${vLit(v)}, " +
              s"j + 1) as $dec38)) div $vvDec as bigint))").as("xs")))
      powerIterateVec(xs2, dim, iters2).foreach { v2 =>
        val (quad1, tr1) = quadTrace(xs2, v2)
        val vv2 = v2.map(x => x * x).sum
        out += ((1, ((quad1 * 10000) / (vv2 * tr1)).toLong,
          ((tr1 * 10000) / tr0).toLong))
      }
    }
    out.toSeq.toDF("stage", "share_bp", "trace_bp").orderBy(col("stage"))
  }

  /** Oracle: identical integer recurrence, one CTE pair (dot, w) per
    * iteration, HUGEINT throughout.
    */
  def topComponentSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""dot$k AS (
         |  SELECT e.vec_id, sum(e.x * v.v) AS dot
         |  FROM xe e JOIN v${k - 1} v USING (pos) GROUP BY e.vec_id
         |), w$k AS (
         |  SELECT e.pos, sum(CAST(e.x AS HUGEINT) * d.dot) AS w
         |  FROM xe e JOIN dot$k d USING (vec_id) GROUP BY e.pos
         |), m$k AS (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS (
         |  SELECT pos, ((w + m) * 1000000) // m - 1000000 AS v
         |  FROM w$k CROSS JOIN m$k WHERE m > 0)""".stripMargin
    }.mkString(",\n")
    s"""WITH xe AS (
       |  SELECT vec_id, CAST(j - 1 AS INT) AS pos,
       |         CAST(round(CAST(e AS DOUBLE) * 1000000, 0) AS BIGINT) AS x
       |  FROM (SELECT vec_id, unnest(embedding) AS e,
       |               generate_subscripts(embedding, 1) AS j
       |        FROM embeddings)
       |), v0 AS (
       |  SELECT DISTINCT pos, CAST(1000000 AS BIGINT) AS v FROM xe
       |),
       |$steps,
       |dotf AS (
       |  SELECT e.vec_id, sum(e.x * v.v) AS dot
       |  FROM xe e JOIN v$iters v USING (pos) GROUP BY e.vec_id
       |), quad AS (
       |  SELECT sum(CAST(dot AS HUGEINT) * dot) AS quad FROM dotf
       |), vvs AS (
       |  SELECT sum(CAST(v AS HUGEINT) * v) AS vv FROM v$iters
       |), tr AS (
       |  SELECT sum(CAST(x AS HUGEINT) * x) AS tr FROM xe
       |)
       |SELECT CAST(v.pos AS INT) AS j, CAST(v.v AS BIGINT) AS v_unit,
       |       CAST((quad * 10000) // (vv * tr) AS BIGINT) AS share_bp
       |FROM v$iters v CROSS JOIN quad CROSS JOIN vvs CROSS JOIN tr
       |ORDER BY j""".stripMargin
  }

  /** Oracle for x159: the x154 chain, the exact-integer deflation
    * CTE, a second power-iteration chain on the deflated cloud, and
    * the two share/trace rows (NULL-filtered like the engine).
    */
  def topRemovalSql(iters: Int, iters2: Int): String = {
    // Every multi-consumer CTE is MATERIALIZED: DuckDB 1.0 inlines
    // non-materialized CTEs per reference, and the deflated cloud xf
    // (itself the whole stage-0 chain) is referenced by every stage-1
    // iteration — measured 420 s at sf0.01 without the hints vs <1 s
    // with them, bit-identical rows (the x131 oracle's idiom).
    def steps(xe: String, p: String, n: Int): String =
      (1 to n).map { k =>
        s"""${p}dot$k AS MATERIALIZED (
           |  SELECT e.vec_id, sum(e.x * v.v) AS dot
           |  FROM $xe e JOIN $p${k - 1} v USING (pos) GROUP BY e.vec_id
           |), ${p}w$k AS MATERIALIZED (
           |  SELECT e.pos, sum(CAST(e.x AS HUGEINT) * d.dot) AS w
           |  FROM $xe e JOIN ${p}dot$k d USING (vec_id) GROUP BY e.pos
           |), ${p}m$k AS (SELECT max(abs(w)) AS m FROM ${p}w$k),
           |$p$k AS MATERIALIZED (
           |  SELECT pos, ((w + m) * 1000000) // m - 1000000 AS v
           |  FROM ${p}w$k CROSS JOIN ${p}m$k WHERE m > 0)""".stripMargin
      }.mkString(",\n")
    s"""WITH xe AS MATERIALIZED (
       |  SELECT vec_id, CAST(j - 1 AS INT) AS pos,
       |         CAST(round(CAST(e AS DOUBLE) * 1000000, 0) AS BIGINT) AS x
       |  FROM (SELECT vec_id, unnest(embedding) AS e,
       |               generate_subscripts(embedding, 1) AS j
       |        FROM embeddings)
       |), va0 AS (
       |  SELECT DISTINCT pos, CAST(1000000 AS BIGINT) AS v FROM xe
       |),
       |${steps("xe", "va", iters)},
       |dotf AS MATERIALIZED (
       |  SELECT e.vec_id, sum(e.x * v.v) AS dot
       |  FROM xe e JOIN va$iters v USING (pos) GROUP BY e.vec_id
       |), quad0 AS (
       |  SELECT sum(CAST(dot AS HUGEINT) * dot) AS quad FROM dotf
       |), vvsa AS (
       |  SELECT sum(CAST(v AS HUGEINT) * v) AS vv FROM va$iters
       |), tr0 AS (
       |  SELECT sum(CAST(x AS HUGEINT) * x) AS tr FROM xe
       |), xf AS MATERIALIZED (
       |  SELECT e.vec_id, e.pos,
       |         CAST((e.x * a.vv - CAST(d.dot AS HUGEINT) * v.v) // a.vv
       |           AS BIGINT) AS x
       |  FROM xe e
       |  JOIN dotf d USING (vec_id)
       |  JOIN va$iters v USING (pos)
       |  CROSS JOIN vvsa a
       |), vb0 AS (
       |  SELECT DISTINCT pos, CAST(1000000 AS BIGINT) AS v FROM xf
       |),
       |${steps("xf", "vb", iters2)},
       |dotg AS (
       |  SELECT e.vec_id, sum(e.x * v.v) AS dot
       |  FROM xf e JOIN vb$iters2 v USING (pos) GROUP BY e.vec_id
       |), quad1 AS (
       |  SELECT sum(CAST(dot AS HUGEINT) * dot) AS quad FROM dotg
       |), vvsb AS (
       |  SELECT sum(CAST(v AS HUGEINT) * v) AS vv FROM vb$iters2
       |), tr1 AS (
       |  SELECT sum(CAST(x AS HUGEINT) * x) AS tr FROM xf
       |)
       |SELECT stage, share_bp, trace_bp FROM (
       |  SELECT 0 AS stage,
       |    CAST((q.quad * 10000) // (a.vv * t.tr) AS BIGINT) AS share_bp,
       |    CAST(CASE WHEN t.tr > 0 THEN (t.tr * 10000) // t.tr END
       |      AS BIGINT) AS trace_bp
       |  FROM quad0 q CROSS JOIN vvsa a CROSS JOIN tr0 t
       |  UNION ALL
       |  SELECT 1,
       |    CAST((q.quad * 10000) // (b.vv * t1.tr) AS BIGINT),
       |    CAST(CASE WHEN t0.tr > 0 THEN (t1.tr * 10000) // t0.tr END
       |      AS BIGINT)
       |  FROM quad1 q CROSS JOIN vvsb b CROSS JOIN tr1 t1 CROSS JOIN tr0 t0
       |)
       |WHERE share_bp IS NOT NULL AND trace_bp IS NOT NULL
       |ORDER BY stage""".stripMargin
  }
}
