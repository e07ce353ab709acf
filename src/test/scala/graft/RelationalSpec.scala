package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Relational

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` under `spark.graft.tier=distributed`: every size gate
    * takes its at-scale arm, which small test frames never reach.
    */
  def distOnly[T](body: => T): T = {
    spark.conf.set(graft.tools.ScaleTier.ConfKey, "distributed")
    try body finally spark.conf.unset(graft.tools.ScaleTier.ConfKey)
  }
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every relational query has an oracle and runs non-empty") {
    Relational.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows")
      assert(Relational.oracles.contains(name), s"$name missing oracle")
    }
  }

  test("q02 aggregate groups are the expected return flags") {
    val df = Relational.queries("q02_agg_sum")(spark, sf)
    val flags = df.select("l_returnflag").collect().map(_.getString(0)).toSet
    assert(flags.subsetOf(Set("A", "N", "R")))
  }

  test("q09 chunking is contiguous and complete") {
    val rows = Relational.queries("q09_chunk")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == 1000L) // sf0.001 events rows
    assert(rows.length == 8)
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
