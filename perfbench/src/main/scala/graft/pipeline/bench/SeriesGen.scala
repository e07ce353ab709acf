package graft.pipeline.bench

import java.sql.Timestamp
import java.time.{DayOfWeek, LocalDate, ZoneOffset}
import java.time.temporal.TemporalAdjusters

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Where one workload's generated inputs live, with their row counts
  * and an order-independent content checksum (xor of per-row xxhash64,
  * train and test folded together).
  */
final case class Inputs(train: String, test: String, trainRows: Long,
    testRows: Long, checksum: String)

/** Seeded synthetic inputs. Every value is a pure function of the seed,
  * so the same seed gives the same parquet content (and checksum) in
  * any JVM, whatever the partitioning.
  */
object SeriesGen {
  private val Hour = 3600L

  // ---- darima_paper: one ultra-long series in the reference's shape
  val PaperTrainRows = 121292
  val PaperTestRows = 2879
  private val PaperStart =
    LocalDate.of(2003, 3, 1).atStartOfDay(ZoneOffset.UTC).toEpochSecond

  /** Hourly epoch seconds from 2003-03-01 UTC, skipping one hour (07:00
    * UTC, i.e. 02:00 US Eastern) on the second Sunday of every March —
    * the DST spring-forward holes of the electricity data.
    */
  def paperTimes(n: Int): Array[Long] = {
    val gaps = (2003 to 2030).map { y =>
      LocalDate.of(y, 3, 1)
        .`with`(TemporalAdjusters.dayOfWeekInMonth(2, DayOfWeek.SUNDAY))
        .atStartOfDay(ZoneOffset.UTC).toEpochSecond + 7 * Hour
    }.toSet
    val out = new Array[Long](n)
    var t = PaperStart
    var i = 0
    while (i < n) {
      if (!gaps(t)) { out(i) = t; i += 1 }
      t += Hour
    }
    out
  }

  /** Level + daily/weekly/yearly seasonality + one level shift + AR(2)
    * noise. The shape is fixed; the seed drives the noise only.
    */
  def paperValues(times: Array[Long], seed: Long): Array[Double] = {
    val rnd = new java.util.Random(seed)
    val n = times.length
    val shiftAt = (n * 0.62).toInt
    var e1 = 0.0
    var e2 = 0.0
    def noise(): Double = {
      val e = 1.3 * e1 - 0.4 * e2 + 25.0 * rnd.nextGaussian()
      e2 = e1; e1 = e; e
    }
    (0 until 500).foreach(_ => noise())
    Array.tabulate(n) { i =>
      val hrs = times(i).toDouble / Hour
      val d = 2 * math.Pi * hrs / 24
      val w = 2 * math.Pi * hrs / 168
      val y = 2 * math.Pi * hrs / 8766
      val season = 180 * math.cos(d - 0.8) + 60 * math.cos(2 * d + 0.3) +
        70 * math.cos(w - 0.5) + 25 * math.cos(2 * w) +
        220 * math.cos(y) + 90 * math.cos(2 * y + 1.0)
      3000.0 + (if (i >= shiftAt) 120.0 else 0.0) + season + noise()
    }
  }

  /** Writes the paper-shape train/test parquet under `dir`; `scale`
    * divides the train length (shrunken inputs for the benchmark tests).
    */
  def writePaper(spark: SparkSession, seed: Long, dir: String,
      scale: Int = 1): Inputs = {
    import spark.implicits._
    val nTrain = PaperTrainRows / scale
    val times = paperTimes(nTrain + PaperTestRows)
    val values = paperValues(times, seed)
    val rows = times.indices.map(i =>
      (new Timestamp(times(i) * 1000L), values(i), i >= nTrain))
    val df = rows.toDF("time", "value", "is_test")
    write(df, Seq("time", "value"), dir)
  }

  // ---- darima_fleet: many medium series, one seed per series
  val FleetSeries = 128
  val FleetTrainRows = 17520
  val FleetTestRows = 720
  private val FleetStart =
    LocalDate.of(2015, 1, 1).atStartOfDay(ZoneOffset.UTC).toEpochSecond

  def sidName(i: Long): String = f"s$i%03d"

  /** One fleet series: its own level, seasonal amplitudes and phases,
    * and stationary AR(2) noise, all drawn from (seed, sid).
    */
  def fleetValues(seed: Long, sid: Long, n: Int): Array[Double] = {
    val rnd = new java.util.Random(seed * 1000003L + sid)
    val level = 200 + 4800 * rnd.nextDouble()
    val ad = level * (0.1 + 0.2 * rnd.nextDouble())
    val aw = level * (0.03 + 0.07 * rnd.nextDouble())
    val ay = level * (0.05 + 0.15 * rnd.nextDouble())
    val pd = 2 * math.Pi * rnd.nextDouble()
    val pw = 2 * math.Pi * rnd.nextDouble()
    val py = 2 * math.Pi * rnd.nextDouble()
    val phi1 = 0.5 + 0.8 * rnd.nextDouble()
    val phi2 = -(0.1 + 0.35 * rnd.nextDouble())
    val p2 = if (phi1 + phi2 >= 0.95) 0.95 - phi1 else phi2
    val sd = level * 0.02
    var e1 = 0.0
    var e2 = 0.0
    def noise(): Double = {
      val e = phi1 * e1 + p2 * e2 + sd * rnd.nextGaussian()
      e2 = e1; e1 = e; e
    }
    (0 until 200).foreach(_ => noise())
    Array.tabulate(n) { i =>
      val d = 2 * math.Pi * i / 24
      val w = 2 * math.Pi * i / 168
      val y = 2 * math.Pi * i / 8766
      level + ad * math.cos(d - pd) + aw * math.cos(w - pw) +
        ay * math.cos(y - py) + noise()
    }
  }

  /** Writes the fleet train/test parquet under `dir`; generation runs
    * distributed, one series per task iteration.
    */
  def writeFleet(spark: SparkSession, seed: Long, dir: String,
      series: Int = FleetSeries): Inputs = {
    import spark.implicits._
    val nTrain = FleetTrainRows
    val n = nTrain + FleetTestRows
    val start = FleetStart
    val df = spark.range(0L, series.toLong, 1L, 4).as[Long]
      .flatMap { sid =>
        val v = fleetValues(seed, sid, n)
        val name = sidName(sid)
        (0 until n).iterator.map(i =>
          (name, new Timestamp((start + i * Hour) * 1000L), v(i), i >= nTrain))
      }
      .toDF("sid", "time", "value", "is_test")
    write(df, Seq("sid", "time", "value"), dir)
  }

  private def write(df: DataFrame, cols: Seq[String], dir: String): Inputs = {
    val train = s"$dir/train.parquet"
    val test = s"$dir/test.parquet"
    df.filter(!col("is_test")).select(cols.map(col): _*)
      .write.mode("overwrite").parquet(train)
    df.filter(col("is_test")).select(cols.map(col): _*)
      .write.mode("overwrite").parquet(test)
    val spark = df.sparkSession
    val (nTr, hTr) = digest(spark.read.parquet(train), cols)
    val (nTe, hTe) = digest(spark.read.parquet(test), cols)
    Inputs(train, test, nTr, nTe, f"${hTr ^ (hTe * 31L)}%016x")
  }

  /** Row count and xor of per-row xxhash64 over `cols` as read back. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      bit_xor(xxhash64(cols.map(col): _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
