package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Contiguous time-ordered chunk assignment — the paper-correct
  * replacement for the reference's round-robin `repartition(k)`
  * (reference: darima.py:151-155; the DARIMA paper requires
  * contiguous subseries — SURVEY.md §1.4.2).
  *
  * Two strategies, both without a global sort:
  *
  *  - [[timeChunks]]: equal-width time ranges, exactly mirrorable in
  *    SQL (see below).
  *  - [[rangeChunks]]: quantile-sketch bounds on time + a `when`
  *    fold, so each chunk is a contiguous time interval with roughly
  *    (not exactly) n/k rows. No single-point bottleneck: this is
  *    the 100 TB path. The DARIMA math only needs contiguity +
  *    within-chunk order, not exact equal sizes, so the
  *    approximation is semantically free.
  */
object Chunker {

  /** Equal-width TIME ranges: chunk = floor((t−tmin)/(tmax−tmin)·k),
    * clamped. One min/max aggregate + a pure codegen projection — no
    * window, no sort, no count job — and exactly mirrorable in SQL
    * (unlike the sketch bounds below). For regularly-sampled series
    * equal-width time ≡ equal row counts; DARIMA itself only needs
    * contiguity (SURVEY.md §1.4.2), so mild imbalance is free.
    */
  def timeChunks(df: DataFrame, timeCol: Column, k: Int): DataFrame = {
    val t = timeCol.cast("double")
    val r = df.agg(min(t), max(t)).head()
    val bounds =
      if (r.isNullAt(0)) None else Some((r.getDouble(0), r.getDouble(1)))
    timeChunksBounded(df, timeCol, k, bounds)
  }

  /** [[timeChunks]] with caller-supplied (tmin, tmax) — lets a caller
    * that already runs a stats aggregate (Darima.runOnScale's row
    * count) fold the bounds into that job instead of paying a second
    * full-data action. None = empty input (all rows chunk 0, like the
    * degenerate branch).
    */
  def timeChunksBounded(df: DataFrame, timeCol: Column, k: Int,
      bounds: Option[(Double, Double)]): DataFrame = {
    val t = timeCol.cast("double")
    bounds match {
      case None => df.withColumn("chunk_id", lit(0))
      case Some((tmin, tmax)) if tmax <= tmin =>
        df.withColumn("chunk_id", lit(0))
      case Some((tmin, tmax)) =>
        val span = tmax - tmin
        df.withColumn("chunk_id",
          least(floor((t - lit(tmin)) / lit(span) * k), lit(k - 1))
            .cast("int"))
    }
  }

  def rangeChunks(df: DataFrame, timeCol: Column, k: Int): DataFrame = {
    // Deterministic range boundaries from a t-digest quantile sketch
    // (one cheap agg pass; no RNG). repartitionByRange was tried
    // first but RangePartitioner's reservoir sample is seeded by the
    // RDD id, so two jobs over the same data could get slightly
    // different chunk boundaries — semantically fine for DARIMA, but
    // it made independently-built plans disagree on chunk membership.
    val qs = (1 until k).map(i => i.toDouble / k)
    val bounds = df
      .select(percentile_approx(timeCol, array(qs.map(lit): _*),
        lit(10000)).as("b"))
      .head().getSeq[Double](0)
    val chunk = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(timeCol > lit(b), 1).otherwise(0)
    }
    df.withColumn("chunk_id", chunk)
  }
}
