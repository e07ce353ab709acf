package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed access to the harness parquet tables (TESTDATA.md).
  *
  * All engine queries read through here so scan behavior is uniform:
  * parquet relations with Catalyst column pruning + predicate pushdown
  * (the reference instead re-reads CSV with inferSchema per use,
  * SURVEY.md §4.1). At 100 TB these would be partitioned/bucketed
  * tables behind the same accessor.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") eventsNanos(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")
  // NOTE on scan parallelism: the harness files are single-row-group
  // parquet, so a scan plans ONE split. The scale-adaptive fix lives
  // in graft.tools.ScaleTier.spread and is applied INSIDE the
  // row-expanding operators (shingles, char grams, trigram LM,
  // simhash, embedding micro-arrays) — a table-level spread here was
  // measured to tax every light consumer +0.2-0.5 s per query while
  // only the expansion passes repay the exchange.

  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects — read as raw nanos via the
    * legacy knob and truncate) and plain TIMESTAMP(MICROS) NTZ.
    * Detect which variant this dataset carries and normalize both to
    * microsecond TIMESTAMP, matching what DuckDB sees when it loads
    * the same file so oracle comparisons stay bit-identical (session
    * timezone is UTC everywhere, so the NTZ cast is a no-op shift).
    */
  private def eventsNanos(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the NTZ→Timestamp cast below is identity ONLY under a UTC
    // session zone; pin it here so correctness never depends on
    // caller configuration (a non-UTC session would silently shift
    // every event timestamp vs what DuckDB reads from the same file)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, not double division: epoch-nanos exceeds 2^53
        // so a double round-trip would corrupt the low microsecond digits.
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other (expected nanos-long, " +
          "TIMESTAMP, or TIMESTAMP_NTZ) — refusing to cast blindly")
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame   = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
