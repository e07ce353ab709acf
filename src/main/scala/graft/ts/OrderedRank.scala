package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact global `row_number()` / `ntile(k)` over a total order
  * without a single-partition sort — the distributed replacement for
  * `ntile(k) OVER (ORDER BY t)` (which moves every row to one
  * reducer; WindowExec warns about exactly this).
  *
  * Method: range-bucket rows on the order key with deterministic
  * quantile-sketch bounds (rows equal on the key stay in one bucket,
  * so the within-bucket sort extends to the exact global order via
  * the tie-break). ONE bucketed window pass computes each row's
  * bucket-local row number (the only wide shuffle + sort); a
  * map-side-combined per-bucket count — a ≤`buckets`-row shuffle
  * over a scan pruned to the order key — prefix-sums into every
  * bucket's global offset, broadcast-joined back. All in a single
  * Catalyst plan: nothing is collected to the driver, and there is
  * no single-partition exchange anywhere — the offset prefix-sum
  * runs on a deliberately-gathered ≤`buckets`-row frame keyed by a
  * non-foldable constant (hash partitioning of a bounded relation,
  * the same audited shape as the q12/q13 scalar broadcasts).
  *
  * `ntile` then follows from the global row number by the standard
  * SQL rule: with n rows and k tiles, the first n mod k tiles hold
  * ceil(n/k) rows — bit-identical to Spark's and DuckDB's NTILE.
  * Tile arithmetic uses integer `div` (not double division), so the
  * boundaries stay exact past 2^53 rows.
  */
object OrderedRank {

  /** Shared core: adds `outCol` (exact global row number, long) and
    * `__n` (total row count, long — a column, not a driver value) to
    * the frame.
    *
    * The input is pinned ONCE here ([[graft.tools.Materialize]]):
    * the plan below reads it three times (quantile bounds, the
    * bucketed window pass, the per-bucket counts), and Catalyst does
    * not reuse the subtree across those consumers — without the pin,
    * an expensive upstream (x51's trigram LM scoring measured 3×)
    * recomputes per read. Callers must NOT pre-checkpoint.
    */
  private def ranked(df: DataFrame, orderCol: Column, tieBreak: Column,
      outCol: String, buckets: Int): DataFrame = {
    // ONE single-bucket window computes the row number and total below
    // the broadcast-tier gate (graft.tools.ScaleTier) — one read, no
    // pin, no percentile job, no per-bucket count/offset join — and on
    // degenerate input (constant order key or empty). Identical
    // results: the buckets only parallelize the sort.
    def oneWindow(d: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("__bucket")).orderBy(orderCol, tieBreak)
      d.withColumn("__bucket", lit(0))
        .withColumn(outCol, row_number().over(w).cast("long"))
        .withColumn("__n",
          count(lit(1)).over(Window.partitionBy(col("__bucket"))))
        .drop("__bucket")
    }
    if (graft.tools.ScaleTier.localWindow(df)) return oneWindow(df)
    val pinned = graft.tools.Materialize(df)
    val qs = (1 until math.max(buckets, 2)).map(i => i.toDouble / buckets)
    val stats = pinned.select(
      percentile_approx(orderCol.cast("double"),
        array(qs.map(lit): _*), lit(10000)).as("b"))
      .head()
    val bounds: Seq[Double] =
      if (stats.isNullAt(0)) Seq.empty
      else stats.getSeq[Double](0).distinct.sorted

    if (bounds.isEmpty) return oneWindow(pinned)

    val based = pinned.withColumn("__bucket",
      OrderedLag.bucketOf(orderCol, bounds))

    // THE full-data pass: per-bucket sort computes the local row
    // number — the only wide shuffle and sort in the plan.
    val w = Window.partitionBy(col("__bucket")).orderBy(orderCol, tieBreak)
    val local = based
      .withColumn("__lrn", row_number().over(w).cast("long"))

    // Per-bucket counts: a map-side-combined aggregate — the shuffle
    // carries ≤buckets rows per input partition, and column pruning
    // reduces its scan to the order key alone. Prefix-sum the counts
    // into global offsets + the grand total; the gather key is
    // pmod(b, 1) = 0 but non-foldable, so this is a hash exchange of
    // ≤buckets rows, not a SinglePartition plan.
    val tiny = based.groupBy(col("__bucket")).count()
      .select(col("__bucket").as("__b"), col("count").as("__tc"))
      .withColumn("__gk", pmod(col("__b"), lit(1)))
    val wOff = Window.partitionBy(col("__gk")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = tiny
      .withColumn("__off", coalesce(sum(col("__tc")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__tc")).over(Window.partitionBy(col("__gk"))))
      .select(col("__b"), col("__off"), col("__n"))

    local.join(broadcast(offs), col("__bucket") === col("__b"))
      .withColumn(outCol, col("__lrn") + col("__off"))
      .drop("__bucket", "__lrn", "__b", "__off")
  }

  /** Adds `outCol` = exact global row_number over
    * (orderCol, tieBreak).
    */
  def withRowNumber(df: DataFrame, orderCol: Column, tieBreak: Column,
      outCol: String = "__rn", buckets: Int = 32): DataFrame =
    ranked(df, orderCol, tieBreak, outCol, buckets).drop("__n")

  /** Adds `outCol` = EXCLUSIVE prefix sum of `valueCol` (long) over
    * the global (orderCol, tieBreak) order — row i gets the sum of
    * all earlier rows' values, the first row gets 0. Same plan shape
    * as [[withRowNumber]]: one bucketed window pass over the data
    * (running sum instead of row_number), a ≤`buckets`-row per-bucket
    * total aggregate prefix-summed into bucket offsets, broadcast
    * back. Nothing single-partition, nothing collected — the
    * distributed replacement for `sum(v) OVER (ORDER BY t)`.
    */
  def withPrefixSum(df: DataFrame, orderCol: Column, tieBreak: Column,
      valueCol: Column, outCol: String = "__psum",
      buckets: Int = 32): DataFrame = {
    val v = valueCol.cast("long")
    // one single-bucket window: broadcast-tier gate or degenerate
    // input — see `ranked`
    def oneWindow(d: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("__bucket")).orderBy(orderCol, tieBreak)
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("__bucket", lit(0))
        .withColumn(outCol, coalesce(sum(v).over(w), lit(0L)))
        .drop("__bucket")
    }
    if (graft.tools.ScaleTier.localWindow(df)) return oneWindow(df)
    // same triple-read pin as `ranked` — see its doc comment
    val pinned = graft.tools.Materialize(df)
    val qs = (1 until math.max(buckets, 2)).map(i => i.toDouble / buckets)
    val stats = pinned.select(
      percentile_approx(orderCol.cast("double"),
        array(qs.map(lit): _*), lit(10000)).as("b"))
      .head()
    val bounds: Seq[Double] =
      if (stats.isNullAt(0)) Seq.empty
      else stats.getSeq[Double](0).distinct.sorted
    if (bounds.isEmpty) return oneWindow(pinned)

    val based = pinned.withColumn("__bucket",
      OrderedLag.bucketOf(orderCol, bounds))

    // THE full-data pass: within-bucket exclusive running sum.
    val w = Window.partitionBy(col("__bucket")).orderBy(orderCol, tieBreak)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = based.withColumn("__lps", coalesce(sum(v).over(w), lit(0L)))

    // Per-bucket value totals -> exclusive bucket offsets (the same
    // audited pmod-gather of a <=buckets-row frame as `ranked`).
    val tiny = based.groupBy(col("__bucket"))
      .agg(sum(v).as("__tv"))
      .select(col("__bucket").as("__b"), col("__tv"))
      .withColumn("__gk", pmod(col("__b"), lit(1)))
    val wOff = Window.partitionBy(col("__gk")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = tiny
      .withColumn("__off", coalesce(sum(col("__tv")).over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))

    local.join(broadcast(offs), col("__bucket") === col("__b"))
      .withColumn(outCol, col("__lps") + col("__off"))
      .drop("__bucket", "__lps", "__b", "__off")
  }

  /** Adds `outCol` = exact global ntile(k) (1-based, standard SQL
    * semantics) over (orderCol, tieBreak).
    */
  def withNtile(df: DataFrame, orderCol: Column, tieBreak: Column,
      k: Int, outCol: String = "tile", buckets: Int = 32): DataFrame = {
    require(k >= 1)
    val rankedDf = ranked(df, orderCol, tieBreak, "__grn", buckets)
    // First (n mod k) tiles have (n div k)+1 rows, the rest n div k;
    // integer div keeps the boundaries exact at any row count.
    val withParts = rankedDf
      .withColumn("__q", expr(s"__n div ${k}L"))
      .withColumn("__r", col("__n") % k)
      .withColumn("__big", (col("__q") + 1L) * col("__r"))
    val rn = col("__grn")
    val tile = when(col("__q") === 0L, rn)
      .when(rn <= col("__big"), expr("(__grn - 1) div (__q + 1) + 1"))
      .otherwise(col("__r") + expr("(__grn - __big - 1) div __q") + 1L)
    withParts
      .withColumn(outCol, tile.cast("int"))
      .drop("__grn", "__n", "__q", "__r", "__big")
  }
}
