package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ts.OrderedRank

class OrderedRankSpec extends AnyFunSuite {
  import SparkTestSession._

  test("distributed row_number equals global-window row_number") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"))
    val global = ev
      .withColumn("rn", row_number()
        .over(Window.orderBy(col("ts"), col("event_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val dist = distOnly(OrderedRank.withRowNumber(ev, col("ts"),
      col("event_id"), "rn", buckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap)
    assert(global.size == dist.size)
    global.foreach { case (k, v) => assert(dist(k) == v, s"event $k") }
  }

  test("distributed ntile equals window ntile, including tie-heavy keys") {
    import spark.implicits._
    // 70% ties at one key value (collapsing quantile bounds) plus an
    // n not divisible by k, so both NTILE branch sizes are exercised
    val rows = (1L to 1003L).map { i =>
      (i, if (i % 3 == 0) 7.0 else i.toDouble)
    }
    val df = rows.toDF("id", "t")
    val global = df
      .withColumn("tile", ntile(7)
        .over(Window.orderBy(col("t"), col("id"))))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val dist = distOnly(OrderedRank.withNtile(df, col("t"), col("id"), 7,
      "tile", buckets = 16)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap)
    assert(global.size == dist.size)
    global.foreach { case (k, v) => assert(dist(k) == v, s"id $k") }
  }

  test("more tiles than rows matches window ntile") {
    import spark.implicits._
    val df = (1L to 5L).map(i => (i, i.toDouble)).toDF("id", "t")
    val global = df
      .withColumn("tile", ntile(9)
        .over(Window.orderBy(col("t"), col("id"))))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val dist = distOnly(OrderedRank.withNtile(df, col("t"), col("id"), 9,
      "tile")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap)
    assert(global == dist)
  }

  test("no single-partition exchange in the rank plan") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("value"))
    val plan = distOnly(
      OrderedRank.withNtile(ev, col("ts"), col("event_id"), 8)
        .queryExecution.executedPlan.toString)
    assert(!plan.contains("SinglePartition"), plan.linesIterator
      .filter(_.contains("SinglePartition")).mkString("\n"))
  }

  test("broadcast-tier fast path equals the distributed rank/ntile/psum") {
    // the ScaleTier single-bucket branch (default confs, small frame)
    // must reproduce the bucketed machinery bit for bit
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("value"))
    def all(): (Map[Long, Long], Map[Long, Int], Map[Long, Long]) = (
      OrderedRank.withRowNumber(ev, col("ts"), col("event_id"), "rn",
        buckets = 8).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap,
      OrderedRank.withNtile(ev, col("ts"), col("event_id"), 8, "tile",
        buckets = 8).collect()
        .map(r => r.getLong(0) -> r.getInt(3)).toMap,
      OrderedRank.withPrefixSum(ev, col("ts"), col("event_id"),
        col("value") * 0 + 1, "ps", buckets = 8).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap)
    val fast = all()
    val dist = distOnly(all())
    assert(fast == dist)
    assert(fast._1.nonEmpty)
  }
}
