package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{ArimaFitAggregator, Darima, DarimaConfig}

class AggregatorSpec extends AnyFunSuite {
  import SparkTestSession._

  test("Aggregator fit path matches the chunk-partition fit path") {
    import spark.implicits._
    val cfg = DarimaConfig(numChunks = 4, freq = 24, tol = 24,
      maxP = 3, maxQ = 2)
    val series = Tables.events(spark, sf)
      .select(col("ts").cast("double").as("time"), col("value"))
    // aggregator path: fit expressible inside agg(...)
    val chunked = graft.ts.Chunker.rangeChunks(
      series.select(col("time").as("t"), col("value").as("v")),
      col("t"), cfg.numChunks)
    val agg = new ArimaFitAggregator(cfg).toColumn.name("coefs")
    val viaAgg = chunked.select(col("chunk_id"), col("t"), col("v"))
      .as[(Int, Double, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg)
      .flatMap { case (chunkId, rows) =>
        rows.map(r => (chunkId, r.coef, r.value))
      }
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    // chunk-partition map step (Darima.fitChunkCoefs)
    val viaGroups = Darima.fitChunkCoefs(spark, series, cfg)
      .select("chunk_id", "coef", "value")
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(viaAgg.keySet == viaGroups.keySet)
    viaAgg.foreach { case (k, v) =>
      assert(math.abs(v - viaGroups(k)) < 1e-9, s"$k: $v vs ${viaGroups(k)}")
    }
  }

  test("KMV sketch: exact below k, unbiased-ish estimate above") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val k = 64
    val kmv = graft.functions.Kmv.kmv_distinct(k) _
    def hash(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast("long")
    // 40 distinct values (< k): the sketch must return the exact count
    val small = spark.range(1000).select((col("id") % 40).as("v"))
      .select(hash(col("v")).as("h"))
      .agg(kmv(col("h"))).collect()(0).getDouble(0)
    assert(small == 40.0, s"small=$small")
    // 100k distinct: estimate within the ~3/sqrt(k-1) ≈ 38% band
    // (deterministic — fixed hash, no RNG)
    val big = spark.range(100_000).repartition(8)
      .select(hash(col("id")).as("h"))
      .agg(kmv(col("h"))).collect()(0).getDouble(0)
    assert(math.abs(big - 100_000) / 100_000 < 0.38, s"big=$big")
    // duplicates cannot inflate the estimate: 100k rows, 500 distinct
    val dup = spark.range(100_000).repartition(8)
      .select(hash(col("id") % 500).as("h"))
      .agg(kmv(col("h"))).collect()(0).getDouble(0)
    val once = spark.range(500).select(hash(col("id")).as("h"))
      .agg(kmv(col("h"))).collect()(0).getDouble(0)
    assert(dup == once, s"dup=$dup once=$once")
  }
}
