package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.hash

/** Every local/spread/distributed size decision in the engine. Each
  * gate is the same size-adaptive trade a broadcast hash join makes:
  * below a fixed threshold a bounded single-task or driver pass
  * replaces the distributed machinery, with identical results; above
  * it (any 100 TB-scale input) the distributed plans run unchanged.
  *
  * One session conf overrides them all: `spark.graft.tier` = `auto`
  * (default) | `distributed`, which sends every gate to its at-scale
  * arm — PlanAudit sets it so the audit judges the plan shape that
  * runs at scale, and specs use it to reach the distributed arms on
  * small frames. Any other value throws.
  */
object ScaleTier {

  val ConfKey = "spark.graft.tier"

  /** [[localWindow]] threshold on the optimizer size estimate. */
  val WindowLocalMaxBytes: BigInt = BigInt(16L << 20)

  /** [[spread]] never fires above this size estimate. */
  val SpreadMaxBytes: BigInt = BigInt(1L << 30)

  /** [[localEdges]] threshold for CC, pagerank and label propagation:
    * 1M (long, long) edges ≈ 16 MB, broadcast-tier.
    */
  val BroadcastMaxEdges: Long = 1000000L

  /** [[localEdges]] threshold for triangles, LOWER: the local wedge
    * replay is O(Σ outdeg²) = O(E^1.5) under the (deg, id) orientation
    * — at 1M edges that is ~10⁹ driver ops (minutes, single-threaded)
    * on a hubby graph the distributed wedge join would spread. 100k
    * edges bounds the replay at ~3·10⁷ ops.
    */
  val TrianglesMaxEdges: Long = 100000L

  /** True under `spark.graft.tier=distributed`; throws on a value
    * other than `auto` or `distributed`.
    */
  def distributed(spark: SparkSession): Boolean =
    spark.conf.getOption(ConfKey).map(_.trim.toLowerCase) match {
      case None | Some("auto") => false
      case Some("distributed") => true
      case Some(other) => throw new IllegalArgumentException(
        s"$ConfKey='$other' (expected auto|distributed)")
    }

  /** Window gate (OrderedLag / OrderedRank): a small frame takes one
    * single-bucket window — one sort task — instead of quantile-
    * bucketed windows plus their boundary patches (the percentile-
    * bounds job, the boundary Materialize pin and the patch/offset
    * joins). Both order by the same (orderCol, tieBreak) total order;
    * the bucketed form exists only to parallelize the sort.
    */
  def localWindow(df: DataFrame): Boolean =
    !distributed(df.sparkSession) && !df.isStreaming &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= WindowLocalMaxBytes

  /** Edge gate (CC, pagerank, label propagation, triangles): a graph of
    * `nEdges` edges is resolved in one bounded driver pass instead of
    * rounds of joins and checkpoint pins. The count is not taken under
    * `distributed`.
    */
  def localEdges(spark: SparkSession, nEdges: => Long,
      triangles: Boolean = false): Boolean =
    !distributed(spark) &&
      nEdges <= (if (triangles) TrianglesMaxEdges else BroadcastMaxEdges)

  /** Parallelism spread for ROW-EXPANDING passes.
    *
    * The harness ships each table as one parquet file with one row
    * group, so a scan plans ONE split no matter what maxPartitionBytes
    * says — and every expansion-heavy pipeline (char grams ~300× rows,
    * shingles ~50× with an md5 per gram, per-dim embedding explosion)
    * serializes on one core while the other N−1 idle: measured 2.96 s
    * for x119's bigram pass as a 1-task stage at sf0.1 local[32].
    *
    * This helper is applied INSIDE the expansion operators, not at the
    * table accessor: a round of full-bench measurement showed a
    * table-level spread taxes every light consumer of the same table
    * +0.2–0.5 s per query (the exchange buys nothing when downstream
    * work is a few comparisons per row) while only the expansion
    * operators repay it. It fires only when the frame's size estimate
    * can't fill the machine (estimated splits at maxPartitionBytes <
    * defaultParallelism) and is at most [[SpreadMaxBytes]], so the
    * exchange moves a trivial byte count.
    * HASH repartition on a deterministic full-row hash, NOT round-robin:
    * repartition(n) pays a per-partition sort of the whole input
    * (spark.sql.execution.sortBeforeRepartition, kept on so retried
    * tasks reproduce their row→partition map) — measured +0.5–1 s as a
    * single-task sort on a 600k-row table; a content hash is already
    * retry-stable, needs no sort, and has ~|rows| distinct values so
    * partitions fill evenly.
    */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // Streaming frames: no-op. Computing optimizedPlan on a streaming
    // DataFrame forces UnsupportedOperationChecker.checkForBatch and
    // throws AnalysisException; the size gate is meaningless for an
    // unbounded frame anyway (micro-batch parallelism is the source's).
    if (distributed(spark) || df.isStreaming) return df
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxSplit = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf
        .get("spark.sql.files.maxPartitionBytes", "128m"))
    val cores = spark.sparkContext.defaultParallelism
    val estSplits = (bytes + maxSplit - 1) / maxSplit
    if (bytes <= SpreadMaxBytes && estSplits < cores) {
      // hash the unique id column when the frame has one: cheaper
      // than hashing the whole row, and immune to the duplicate-heavy
      // corpus skew a full-row hash has (exact-dup rows share a hash
      // and pile onto one partition); fall back to the full row for
      // frames without a schema-unique key
      val keyCols = df.columns
        .filter(c => c == "doc_id" || c == "vec_id").map(df.col).toSeq
      val hashOn =
        if (keyCols.nonEmpty) keyCols else df.columns.map(df.col).toSeq
      df.repartition(cores, hash(hashOn: _*))
    } else df
  }
}
