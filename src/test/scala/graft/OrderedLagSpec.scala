package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ts.OrderedLag

class OrderedLagSpec extends AnyFunSuite {
  import SparkTestSession._

  test("broadcast-tier fast path equals the distributed lag") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("value"))
    def lags() = OrderedLag.withLags(ev, col("ts"), col("event_id"),
      "value", Seq(1, 24), buckets = 8)
      .select(col("event_id"), col("value_lag1"), col("value_lag24"))
      .collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2))))
      .toMap
    val fast = lags()
    val dist = distOnly(lags())
    assert(fast == dist)
    assert(fast.nonEmpty)
  }

  test("distributed lag equals global-window lag on the events series") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("value"))
    val global = ev
      .withColumn("value_lag1",
        lag(col("value"), 1).over(Window.orderBy(col("ts"), col("event_id"))))
      .withColumn("value_lag24",
        lag(col("value"), 24).over(Window.orderBy(col("ts"), col("event_id"))))
      .select(col("event_id"), col("value_lag1"), col("value_lag24"))
    val dist = distOnly(OrderedLag.withLags(ev, col("ts"), col("event_id"),
      "value", Seq(1, 24), buckets = 8)
      .select(col("event_id"), col("value_lag1"), col("value_lag24"))
      .collect())
    val g = global.collect().map(r => r.getLong(0) ->
      (Option(r.get(1)), Option(r.get(2)))).toMap
    val d = dist.map(r => r.getLong(0) ->
      (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(g.size == d.size)
    g.foreach { case (k, v) => assert(d(k) == v, s"event $k: ${d(k)} vs $v") }
  }

  test("heavily tied order keys (duplicate quantile bounds) keep all lags") {
    import spark.implicits._
    // 90% of rows share one key value -> percentile bounds collapse,
    // which used to manufacture empty bucket ids and drop lags
    val rows = (1L to 2000L).map { i =>
      val key = if (i % 10 == 0) i.toDouble else 42.0
      (i, key, i * 1.5)
    }
    val df = rows.toDF("event_id", "t", "value")
    val global = df.withColumn("value_lag5",
        lag(col("value"), 5).over(Window.orderBy(col("t"), col("event_id"))))
      .select(col("event_id"), col("value_lag5"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val dist = distOnly(OrderedLag.withLags(df, col("t"), col("event_id"),
      "value", Seq(5), buckets = 16)
      .select(col("event_id"), col("value_lag5"))
      .collect()).map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(global.size == dist.size)
    global.foreach { case (k, v) =>
      assert(dist(k) == v, s"event $k: ${dist(k)} vs $v")
    }
  }

  test("lag deeper than bucket capacity triggers the size clamp, stays exact") {
    import spark.implicits._
    // 200 rows, 16 requested buckets, lag 40: unclamped buckets would
    // hold ~12 rows each (far under maxLag); the 4*maxLag clamp must
    // kick in and the result must still equal the global window
    val df = (1L to 200L).map(i => (i, i.toDouble, i * 2.0))
      .toDF("event_id", "t", "value")
    val global = df.withColumn("value_lag40",
        lag(col("value"), 40).over(Window.orderBy(col("t"), col("event_id"))))
      .select(col("event_id"), col("value_lag40"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val dist = distOnly(OrderedLag.withLags(df, col("t"), col("event_id"),
      "value", Seq(40), buckets = 16)
      .select(col("event_id"), col("value_lag40"))
      .collect()).map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(global.size == dist.size)
    global.foreach { case (k, v) =>
      assert(dist(k) == v, s"event $k: ${dist(k)} vs $v")
    }
  }

  test("no single-partition exchange in the distributed-lag plan") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("value"))
    val plan = distOnly(OrderedLag.withLags(ev, col("ts"), col("event_id"),
      "value", Seq(1), buckets = 8)
      .queryExecution.executedPlan.toString)
    // the only SinglePartition allowed is the 1-row quantile agg done
    // before planning; the lag path itself must partition by bucket
    assert(!plan.contains("SinglePartition"), plan.linesIterator
      .filter(_.contains("SinglePartition")).mkString("\n"))
  }

  test("rolling columns equal the single-partition window across buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(23)
    // enough rows for ~32 buckets so head patches are exercised
    val df = Seq.tabulate(5000)(i => (i.toLong, rnd.nextInt(10000) / 100.0))
      .toDF("id", "v")
    val got = distOnly(graft.ts.OrderedLag.withRollingColumns(
      df, col("id"), col("id"),
      (in, w) => in.withColumn("rsum",
        sum(col("v").cast("decimal(14,2)")).over(w.rowsBetween(-9, 0))),
      Seq("rsum"), window = 10)
      .select(col("id"), col("rsum").cast("double"))
      .orderBy("id").collect())
    val w = Window.orderBy(col("id")).rowsBetween(-9, 0)
    val want = df.withColumn("rsum",
      sum(col("v").cast("decimal(14,2)")).over(w))
      .select(col("id"), col("rsum").cast("double"))
      .orderBy("id").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, e) =>
      assert(g.getLong(0) == e.getLong(0))
      assert(math.abs(g.getDouble(1) - e.getDouble(1)) < 1e-9,
        s"id=${g.getLong(0)}: ${g.getDouble(1)} vs ${e.getDouble(1)}")
    }
  }
}
