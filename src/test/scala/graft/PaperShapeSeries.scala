package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic stand-in for the electricity fixture the DARIMA paper
  * runs on: 121,292 train + 2,879 test hourly rows (the NEMASSBOST
  * split), regular hourly stamps from 2003-03-01 UTC, a level plus
  * daily, weekly and yearly cycles (two harmonics each), and
  * stationary AR(2) noise. Every value is a pure function of the seed.
  */
object PaperShapeSeries {
  val TrainRows = 121292
  val TestRows = 2879
  private val Start = 1046476800L // 2003-03-01T00:00:00Z
  private val Hour = 3600L

  /** Level + seasonality + AR(2) noise (φ = 1.2, −0.35; innovation sd
    * 30, so the noise sd is ≈ 67 against a ±800 seasonal swing).
    */
  def values(n: Int, seed: Long): Array[Double] = {
    val rnd = new java.util.Random(seed)
    var e1 = 0.0
    var e2 = 0.0
    def noise(): Double = {
      val e = 1.2 * e1 - 0.35 * e2 + 30.0 * rnd.nextGaussian()
      e2 = e1; e1 = e; e
    }
    (0 until 300).foreach(_ => noise()) // burn-in to stationarity
    Array.tabulate(n) { i =>
      val hrs = (Start / Hour + i).toDouble
      val d = 2 * math.Pi * hrs / 24
      val w = 2 * math.Pi * hrs / 168
      val y = 2 * math.Pi * hrs / 8766
      2500.0 + 200 * math.cos(d - 1.1) + 70 * math.cos(2 * d + 0.4) +
        90 * math.cos(w - 0.3) + 30 * math.cos(2 * w + 1.2) +
        250 * math.cos(y + 0.2) + 80 * math.cos(2 * y - 0.7) + noise()
    }
  }

  /** (train frame with `time` timestamp and `value` columns, train
    * values, test values).
    */
  def split(spark: SparkSession,
      seed: Long = 17L): (DataFrame, Array[Double], Array[Double]) = {
    import spark.implicits._
    val all = values(TrainRows + TestRows, seed)
    val train = all.take(TrainRows)
    val df = train.indices
      .map(i => (new java.sql.Timestamp((Start + i * Hour) * 1000L), train(i)))
      .toDF("time", "value")
    (df, train, all.drop(TrainRows))
  }
}
