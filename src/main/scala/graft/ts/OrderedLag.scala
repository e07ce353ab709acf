package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed lag over a totally-ordered series without a global
  * single-partition sort — the shape `lag(...) OVER (ORDER BY t)`
  * needs at 100 TB.
  *
  * Method: range-bucket the rows on the order key (deterministic
  * quantile-sketch bounds, like graft.ts.Chunker) and compute lags
  * inside each bucket with ONE full-data window pass. Only the first
  * maxLag rows of each bucket ("heads") can be missing cross-bucket
  * lag values; those are recomputed on a tiny side relation — the
  * heads plus the globally-last maxLag rows over ALL earlier buckets
  * (drawn from per-bucket tails, so empty/thin buckets under heavy
  * ties cannot lose lags) — and patched back via a broadcast join.
  * Net cost: one full build-and-sort pass plus one narrow (keys-only)
  * rank pass to locate the boundary rows; the boundary pool is
  * materialized once and everything downstream of it is small-table
  * work. The round-1 union form paid two full passes of everything;
  * the round-3 form re-ran the full build per boundary relation.
  *
  * The bucket count is clamped so the expected bucket size is at
  * least 4·maxLag rows, keeping boundary fix-ups a small fraction of
  * the work.
  *
  * Rows equal on the order key land in one bucket (bucketing is by
  * value with strict `>` on deduplicated bounds), so tie order inside
  * the window matches the global window exactly given the same
  * tie-break columns. (orderCol, tieBreak) must be a total order —
  * the head patch joins back on it.
  */
object OrderedLag {

  /** Add columns `<valueCol>_lag<n>` for each requested lag. */
  def withLags(df: DataFrame, orderCol: Column, tieBreak: Column,
      valueCol: String, lags: Seq[Int], buckets: Int = 32): DataFrame =
    withLagColumns(df, orderCol, tieBreak,
      (in, w) => lags.foldLeft(in) { (acc, k) =>
        acc.withColumn(s"${valueCol}_lag$k", lag(col(valueCol), k).over(w))
      },
      lags.map(k => s"${valueCol}_lag$k"), lags.max, buckets)

  /** Distributed rolling-window aggregate over the total order: the
    * generic entry for sliding-frame computations (moving sums/
    * averages/counts). `build` receives the bucketed window spec and
    * must add exactly `outCols` using frames reaching back at most
    * `window − 1` rows — the head-patch machinery then repairs the
    * first `window − 1` rows of every bucket from the neighboring
    * tails, exactly as it does for lags.
    */
  def withRollingColumns(df: DataFrame, orderCol: Column, tieBreak: Column,
      build: (DataFrame, org.apache.spark.sql.expressions.WindowSpec) => DataFrame,
      outCols: Seq[String], window: Int, buckets: Int = 32): DataFrame =
    withLagColumns(df, orderCol, tieBreak, build, outCols,
      math.max(1, window - 1), buckets)

  /** The range-bucket rule shared by the lag machinery and the
    * fitted/residual AR kernel (graft.pipeline.ArKernel): ONE pass
    * computes the row count and percentile bounds on the order key;
    * the bucket count is clamped so the expected bucket holds at
    * least 4·maxLag rows, and the bounds are deduplicated (heavy ties
    * produce repeated quantiles, which would otherwise manufacture
    * empty bucket ids). No bounds means one bucket.
    */
  private[graft] def bucketBounds(df: DataFrame, orderCol: Column,
      maxLag: Int, buckets: Int = 32): Seq[Double] = {
    val qs = (1 until math.max(buckets, 2)).map(i => i.toDouble / buckets)
    val stats = df.select(
      count(lit(1)).as("n"),
      percentile_approx(orderCol.cast("double"),
        array(qs.map(lit): _*), lit(10000)).as("b"))
      .head()
    val n = stats.getLong(0)
    val rawBounds: Seq[Double] =
      if (stats.isNullAt(1)) Seq.empty else stats.getSeq[Double](1)
    val eff = math.max(1L, math.min(buckets.toLong,
      n / (4L * maxLag))).toInt
    // subsample the computed bounds to the effective bucket count
    (1 until eff).map(i => rawBounds((i * buckets / eff) - 1))
      .distinct.sorted
  }

  /** Bucket id in [0, bounds.size] for sorted `bounds`: the number of
    * bounds strictly below the order key, so rows equal on the key
    * share a bucket and ids ascend with the key (a null key lands in
    * bucket 0).
    */
  private[graft] def bucketOf(orderCol: Column, bounds: Seq[Double]): Column =
    bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(orderCol.cast("double") > lit(b), 1).otherwise(0)
    }

  /** [[bucketOf]] for one key value, by binary search over the sorted,
    * distinct `bounds` (pass −∞ for a null key).
    */
  private[graft] def bucketIndex(bounds: Array[Double], key: Double): Int = {
    val i = java.util.Arrays.binarySearch(bounds, key)
    if (i >= 0) i else -i - 1
  }

  /** Shared skeleton: range-bucketed windows + boundary head patch,
    * generic in the window-derived columns (`build` must add exactly
    * `outCols` using the given window spec).
    */
  private def withLagColumns(df: DataFrame, orderCol: Column,
      tieBreak: Column,
      build: (DataFrame, org.apache.spark.sql.expressions.WindowSpec) => DataFrame,
      outCols: Seq[String], maxLag: Int, buckets: Int): DataFrame = {
    require(outCols.nonEmpty && maxLag >= 1)

    // Broadcast-tier fast path (graft.tools.ScaleTier): below the
    // size gate the single-bucket window is the whole computation —
    // no percentile job, no boundary pin, no patch join. Identical
    // results by the same argument as the degenerate branch below.
    if (graft.tools.ScaleTier.localWindow(df)) {
      val w = Window.partitionBy(col("__bucket"))
        .orderBy(orderCol, tieBreak)
      return build(df.withColumn("__bucket", lit(0)), w)
        .drop("__bucket")
    }

    val bounds = bucketBounds(df, orderCol, maxLag, buckets)

    if (bounds.isEmpty) {
      // Degenerate input (under 4·maxLag rows, or a constant order
      // key): a single local window is both correct and cheap.
      val w = Window.partitionBy(col("__bucket"))
        .orderBy(orderCol, tieBreak)
      return build(df.withColumn("__bucket", lit(0)), w)
        .drop("__bucket")
    }

    val based = df.withColumn("__bucket", bucketOf(orderCol, bounds))

    // THE full-data pass: per-bucket sort computes every lag column.
    // Row numbers / bucket sizes live only in the narrow aux pass
    // below, so this plan stays pure build output.
    val w = Window.partitionBy(col("__bucket")).orderBy(orderCol, tieBreak)
    val wAll = Window.partitionBy(col("__bucket"))
    val local = build(based, w)

    // Heads: rows whose lags may cross the bucket boundary. Tails:
    // each bucket's last maxLag rows — the helper pool (the globally
    // last maxLag rows before any boundary are a subset of the union
    // of earlier tails). Both are at most buckets·maxLag rows, found
    // by ONE narrow pass (no lag building) and
    // materialized once (graft.tools.Materialize): deriving them from `local`
    // instead re-ran the full build-and-sort once per boundary
    // relation — 3 full-data window passes where 2 suffice.
    val dataCols = based.columns
    val boundary = based
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(wAll))
      .filter(col("__rn") <= maxLag ||
        col("__cnt") - col("__rn") < maxLag)
      .transform(graft.tools.Materialize(_))
    val heads = boundary
      .filter(col("__rn") <= maxLag && col("__bucket") > 0)
      .select(dataCols.map(col) :+ col("__bucket").as("__tgt"): _*)
      .withColumn("__head", lit(true))
    val tails = boundary
      .filter(col("__cnt") - col("__rn") < maxLag)
      .select(dataCols.map(col): _*)

    val nBuckets = bounds.size + 1
    val targets = df.sparkSession.range(1, nBuckets)
      .select(col("id").cast("int").as("__tgt"))
    val wTgtDesc = Window.partitionBy(col("__tgt"))
      .orderBy(orderCol.desc, tieBreak.desc)
    val helpers = tails
      .join(broadcast(targets), col("__bucket") < col("__tgt"))
      .withColumn("__rnd", row_number().over(wTgtDesc))
      .filter(col("__rnd") <= maxLag)
      .drop("__rnd")
      .withColumn("__head", lit(false))

    // Patch: recompute the lag columns over helpers ∪ heads per
    // target bucket (tiny windows), keep the head rows' values.
    val wTgt = Window.partitionBy(col("__tgt")).orderBy(orderCol, tieBreak)
    val patchCols = outCols.zipWithIndex.map { case (c, i) =>
      col(c).as(s"__patch_$i")
    }
    val patches = build(
      helpers.select(heads.columns.map(col): _*).unionByName(heads), wTgt)
      .filter(col("__head"))
      .select(col("__tgt").as("__pb") +: orderCol.as("__po") +:
        tieBreak.as("__pt") +: lit(true).as("__patched") +: patchCols: _*)

    // Patched heads are a tiny relation — broadcast-join corrections
    // back on the total order key and take the patched value for
    // head rows (complete by construction: in-bucket predecessors of
    // a head are heads, cross-bucket ones are helpers). The __patched
    // marker — not null-ness of the patch value — selects the branch,
    // because a head's correct cross-bucket lag can itself be null
    // (not enough earlier rows globally).
    val joined = local.join(broadcast(patches),
      col("__bucket") === col("__pb") &&
        orderCol === col("__po") && tieBreak === col("__pt"),
      "left")
    val fixed = outCols.zipWithIndex.foldLeft(joined) { case (acc, (c, i)) =>
      acc.withColumn(c,
        when(col("__patched"), col(s"__patch_$i")).otherwise(col(c)))
    }
    fixed.drop("__bucket", "__rn", "__cnt", "__pb", "__po", "__pt",
        "__patched")
      .drop(outCols.indices.map(i => s"__patch_$i"): _*)
  }
}
