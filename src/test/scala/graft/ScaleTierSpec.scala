package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.tools.ScaleTier

/** `spark.graft.tier` is the one override of the engine's size gates:
  * `distributed` must send every gate to its at-scale arm without
  * changing any result, and any value but `auto`/`distributed` is an
  * error.
  */
class ScaleTierSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  test("tier=distributed: every gate takes its at-scale arm") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("value"))
    val docs = Tables.documents(spark, sf)
    def lagged() = graft.ts.OrderedLag.withLags(ev, col("ts"),
      col("event_id"), "value", Seq(1), buckets = 8)

    // size-adaptive default on small test frames: the local arms
    assert(ScaleTier.localWindow(ev))
    assert(!(ScaleTier.spread(docs) eq docs))
    assert(ScaleTier.localEdges(spark, 10L))
    assert(ScaleTier.localEdges(spark, 10L, triangles = true))
    assert(jobsDuring(lagged(): Unit) == 0,
      "the single-bucket window plans without a bounds job")

    distOnly {
      assert(!ScaleTier.localWindow(ev))
      assert(ScaleTier.spread(docs) eq docs)
      assert(!ScaleTier.localEdges(spark, 10L))
      assert(!ScaleTier.localEdges(spark, 10L, triangles = true))
      assert(jobsDuring(lagged(): Unit) > 0,
        "the bucketed window runs its percentile-bounds job")
    }
    // the thresholds themselves stay in force under auto
    assert(!ScaleTier.localEdges(spark, ScaleTier.BroadcastMaxEdges + 1))
    assert(!ScaleTier.localEdges(spark, ScaleTier.TrianglesMaxEdges + 1,
      triangles = true))
  }

  test("tier=distributed gives the default results on every gated query") {
    // one declared query per gate family: bucketed rank (q09) and lag
    // (q12) windows, spread expansion (x04), CC (x33), graph loops
    // (x151 pagerank, x155 triangles)
    Seq("q09_chunk", "q12_metrics", "x04_ngram_jaccard",
        "x33_dedup_clusters", "x151_pagerank", "x155_triangle_count")
      .foreach { name =>
        def rows() = SparkEntry.queries(name)(spark, sf).collect()
          .map(_.toString).sorted.toSeq
        val auto = rows()
        val dist = distOnly(rows())
        assert(auto.nonEmpty, name)
        assert(auto == dist, s"$name: auto=${auto.take(3)} dist=${dist.take(3)}")
      }
  }

  test("an unknown spark.graft.tier value is rejected") {
    val ev = Tables.events(spark, sf).select(col("event_id"), col("ts"))
    spark.conf.set(ScaleTier.ConfKey, "local")
    try {
      intercept[IllegalArgumentException](ScaleTier.localWindow(ev))
      intercept[IllegalArgumentException](ScaleTier.spread(ev))
      intercept[IllegalArgumentException](
        graft.ts.OrderedRank.withRowNumber(ev, col("ts"), col("event_id"),
          "rn"))
    } finally spark.conf.unset(ScaleTier.ConfKey)
    spark.conf.set(ScaleTier.ConfKey, "auto")
    try assert(ScaleTier.localWindow(ev))
    finally spark.conf.unset(ScaleTier.ConfKey)
  }
}
