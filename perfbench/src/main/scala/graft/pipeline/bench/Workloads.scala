package graft.pipeline.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.arima.ArLinearModel
import graft.eval.Metrics
import graft.forecast.{Forecast, ForecastResult}
import graft.pipeline.{Darima, DarimaConfig}

/** One pipeline run's results: per-series model and forecast, and the
  * accuracy means (over series for the fleet).
  */
final case class Outcome(fits: Map[String, (ArLinearModel, ForecastResult)],
    mase: Double, smape: Double, msis95: Double)

/** A DARIMA workload: seeded set-up, the product pipeline as a user
  * composes it (`run`), the same pipeline recomposed stage by stage
  * inside tracer spans (`runTraced`), and one chunk fitted on the
  * driver through the per-chunk function the Spark path uses.
  */
trait Workload {
  def name: String
  def cfg: DarimaConfig
  /** Forecast horizon = test rows per series. */
  def h: Int
  def setup(spark: SparkSession, seed: Long, dir: String, small: Boolean): Inputs
  def run(spark: SparkSession, in: Inputs, out: String): Outcome
  /** Untimed work before the measured runs of an untraced run. */
  def warmUp(spark: SparkSession, seed: Long, dir: String): Unit
  def runTraced(spark: SparkSession, in: Inputs, out: String, tr: Tracer): Outcome
  /** Wall seconds of one chunk fitted single-threaded on the driver. */
  def fitChunkS(spark: SparkSession, in: Inputs): Double
  /** Workload-specific output checks beyond the shared ones. */
  def extraChecks(out: String): Seq[String] = Nil

  /** The forecast step of `Darima.run`/`runMany`: phase from the
    * gap-robust tail spacing, then the driver-side recursion.
    */
  protected def forecastFromTail(m: ArLinearModel,
      tailTv: Array[(Double, Double)], n: Long, h: Int): ForecastResult = {
    val tail = tailTv.map(_._2)
    val tauStart =
      if (m.harmonics.isEmpty || tailTv.length < 2) Double.NaN
      else {
        val dt = Darima.medianDt(tailTv.map(_._1))
        if (dt <= 0) Double.NaN else tailTv.head._1 / dt
      }
    Forecast.forecast(m.copy(n = n), tail, h, cfg.levels,
      startIndex = n - tail.length, tauStart = tauStart,
      dampTrend = cfg.dampTrend)
  }

  /** Accuracy means over series, as DarimaMain scores one series. */
  protected def score(fits: Map[String, (ArLinearModel, ForecastResult)],
      tests: Map[String, Array[Double]],
      scales: Map[String, Double]): Outcome = {
    val per = fits.toSeq.map { case (sid, (_, fc)) =>
      val y = tests(sid)
      val s = scales(sid)
      val i95 = fc.levels.indexOf(95)
      (Metrics.mean(Metrics.maseScaled(y, fc.mean, s)),
        Metrics.mean(Metrics.smape(y, fc.mean)),
        Metrics.mean(Metrics.msisScaled(y, fc.lower(i95), fc.upper(i95), 95, s)))
    }
    def avg(xs: Seq[Double]) = xs.sum / xs.size
    Outcome(fits, avg(per.map(_._1)), avg(per.map(_._2)), avg(per.map(_._3)))
  }

  protected def named(df: DataFrame): DataFrame =
    df.select(col("time").cast("double").as("t"),
      col("value").cast("double").as("v"))

  /** Time-sorted (t, v) rows of one range chunk, collected. */
  protected def chunkRows(series: DataFrame, chunk: Int): Array[(Double, Double)] =
    graft.ts.Chunker.rangeChunks(named(series), col("t"), cfg.numChunks)
      .filter(col("chunk_id") === chunk).select("t", "v").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)

  protected def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** `darima_paper`: one ultra-long hourly series, sarima per chunk,
  * AR(2000), h = 2,879, then DarimaMain's output steps.
  */
object PaperWorkload extends Workload {
  val name = "darima_paper"
  val cfg = DarimaConfig(numChunks = 4, method = "dlsa", tol = 2000,
    fitter = "sarima", levels = Array(80, 95))
  val h: Int = SeriesGen.PaperTestRows
  private val Key = "series"
  // DarimaMain's default inline limit for fitted/residuals
  private val InlineMax = 1000000L

  def setup(spark: SparkSession, seed: Long, dir: String, small: Boolean): Inputs =
    SeriesGen.writePaper(spark, seed, dir, if (small) 8 else 1)

  /** None: DarimaMain runs one pipeline per JVM, so the measured run
    * is the cold one its users pay for.
    */
  def warmUp(spark: SparkSession, seed: Long, dir: String): Unit = ()

  private def load(spark: SparkSession, in: Inputs): (DataFrame, Array[Double]) =
    (spark.read.parquet(in.train),
      spark.read.parquet(in.test).orderBy("time").select("value")
        .collect().map(_.getDouble(0)))

  def run(spark: SparkSession, in: Inputs, out: String): Outcome = {
    val (train, y) = load(spark, in)
    val (model, fc) = Darima.run(spark, train, y.length, cfg)
    new java.io.File(out).mkdirs()
    Darima.writeForecastOutputs(fc, Darima.fittedResidualsDF(train, model),
      model.n, out, InlineMax)
    val scale = Darima.seasonalNaiveScaleDF(train, cfg.freq)
    score(Map(Key -> (model, fc)), Map(Key -> y), Map(Key -> scale))
  }

  /** `Darima.run` (sarima: no Box–Cox, no holdout weighting) and the
    * DarimaMain output steps, one span per layer call.
    */
  def runTraced(spark: SparkSession, in: Inputs, out: String, tr: Tracer): Outcome = {
    require(cfg.boxCox == "off" && cfg.seasonalWeighting == "off")
    val (train, y) = tr.span("pipeline.load")(load(spark, in))
    val cfgFit = Darima.calibrateLongHorizon(cfg, h)
    val cached = train.cache()
    val (model, fc) = try {
      val n = tr.span("pipeline.stats") {
        cached.agg(count(lit(1)), min(col("time").cast("double")),
          max(col("time").cast("double"))).head().getLong(0)
      }
      val coefs = tr.span("pipeline.fit") {
        val c = Darima.fitChunkCoefs(spark, cached, cfgFit).cache()
        tr.count("pipeline.combine.rows_in", c.count())
        c
      }
      val combined = try tr.span("pipeline.combine") {
        Darima.globalModel(Darima.combine(coefs, cfg.method,
          cfg.recencyDecay, cfg.numChunks, cfg.decayScope), n)
      } finally coefs.unpersist()
      val model0 =
        if (cfgFit.anchorWindow <= 0) combined
        else tr.span("pipeline.anchor") {
          Darima.anchorLevel(cached, combined, cfgFit.anchorWindow)
        }
      val tailTv = tr.span("pipeline.tail") {
        Darima.seriesTailTimed(cached, model0.p)
      }
      (model0, tr.span("forecast.forecast")(forecastFromTail(model0, tailTv, n, y.length)))
    } finally cached.unpersist()
    tr.span("pipeline.fitted_residuals") {
      new java.io.File(out).mkdirs()
      Darima.writeForecastOutputs(fc, Darima.fittedResidualsDF(train, model),
        model.n, out, InlineMax)
    }
    val scale = tr.span("pipeline.scale") {
      Darima.seasonalNaiveScaleDF(train, cfg.freq)
    }
    tr.span("eval.metrics") {
      score(Map(Key -> (model, fc)), Map(Key -> y), Map(Key -> scale))
    }
  }

  def fitChunkS(spark: SparkSession, in: Inputs): Double = {
    val buf = chunkRows(spark.read.parquet(in.train), 0)
    val cfgFit = Darima.calibrateLongHorizon(cfg, h)
    timed { Darima.fitOneChunk(buf, cfgFit): Unit }
  }

  override def extraChecks(out: String): Seq[String] = {
    val f = new java.io.File(out, "forecast.json")
    if (f.isFile && f.length > 0) Nil else Seq(s"missing ${f.getPath}")
  }
}

/** `darima_fleet`: 128 two-year hourly series through `runMany` with
  * DarimaMain's default longar config (3 yearly pairs), h = 720, then
  * per-series seasonal-naive scales and accuracy.
  */
object FleetWorkload extends Workload {
  val name = "darima_fleet"
  val cfg = DarimaConfig(numChunks = 4, method = "dlsa", harmYearly = 3)
  val h: Int = SeriesGen.FleetTestRows

  def setup(spark: SparkSession, seed: Long, dir: String, small: Boolean): Inputs =
    SeriesGen.writeFleet(spark, seed, dir, if (small) 8 else SeriesGen.FleetSeries)

  /** One run on a 16-series fleet: a session serving `runMany` calls
    * has compiled its fit and plan code before the call measured.
    */
  def warmUp(spark: SparkSession, seed: Long, dir: String): Unit =
    run(spark, SeriesGen.writeFleet(spark, seed + 7919L, dir, 16), dir): Unit

  private def load(spark: SparkSession,
      in: Inputs): (DataFrame, Map[String, Array[Double]]) = {
    val tests = spark.read.parquet(in.test).select("sid", "time", "value")
      .collect().groupBy(_.getString(0)).map { case (sid, rs) =>
        sid -> rs.sortBy(_.getTimestamp(1).getTime).map(_.getDouble(2))
      }
    (spark.read.parquet(in.train), tests)
  }

  private def namedMany(train: DataFrame): DataFrame =
    train.select(col("sid").cast("string").as("sid"),
      col("time").cast("double").as("t"), col("value").cast("double").as("v"))

  def run(spark: SparkSession, in: Inputs, out: String): Outcome = {
    val (train, tests) = load(spark, in)
    val fits = Darima.runMany(spark, train, h, cfg)
    val scales = Darima.seasonalNaiveScaleManyDF(namedMany(train), cfg.freq)
    score(fits, tests, scales)
  }

  /** `Darima.runMany` and the per-series scoring, one span per layer
    * call (one `forecast.forecast` span per series).
    */
  def runTraced(spark: SparkSession, in: Inputs, out: String, tr: Tracer): Outcome = {
    require(cfg.boxCox == "off" && cfg.seasonalWeighting == "off")
    val (train, tests) = tr.span("pipeline.load")(load(spark, in))
    val cfgFit = Darima.calibrateLongHorizon(cfg, h)
    val named = namedMany(train).cache()
    val fits = try {
      val counts = tr.span("pipeline.stats") {
        named.groupBy(col("sid")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val coefs = tr.span("pipeline.fit") {
        val c = Darima.fitChunkCoefsMany(spark,
          named.select(col("sid"), col("t").as("time"), col("v").as("value")),
          cfgFit).cache()
        tr.count("pipeline.combine.rows_in", c.count())
        c
      }
      val models0 = try tr.span("pipeline.combine") {
        Darima.modelsMany(Darima.combineMany(coefs, cfg.method,
          cfg.recencyDecay, cfg.numChunks, cfg.decayScope), counts)
      } finally coefs.unpersist()
      val models =
        if (cfgFit.anchorWindow <= 0) models0
        else tr.span("pipeline.anchor") {
          Darima.anchorLevelMany(named, models0, cfgFit.anchorWindow)
        }
      val maxP = models.values.map(_.p).foldLeft(1)(math.max)
      val tails = tr.span("pipeline.tail")(Darima.tailsMany(named, maxP))
      models.map { case (sid, m0) =>
        val tailTv = tails.getOrElse(sid, Array.empty[(Double, Double)])
          .takeRight(m0.p)
        sid -> (m0, tr.span("forecast.forecast") {
          forecastFromTail(m0, tailTv, counts.getOrElse(sid, 0L), h)
        })
      }
    } finally { named.unpersist(); () }
    val scales = tr.span("pipeline.scale") {
      Darima.seasonalNaiveScaleManyDF(namedMany(train), cfg.freq)
    }
    tr.span("eval.metrics")(score(fits, tests, scales))
  }

  def fitChunkS(spark: SparkSession, in: Inputs): Double = {
    val one = spark.read.parquet(in.train)
      .filter(col("sid") === SeriesGen.sidName(0))
    val buf = chunkRows(one, 0)
    val cfgFit = Darima.calibrateLongHorizon(cfg, h)
    timed { Darima.fitOneChunk(buf, cfgFit): Unit }
  }
}

/** Output checks shared by both workloads. */
object Checks {
  /** Every series: AR order = tol, h finite forecasts, and per level
    * lower ≤ mean ≤ upper; accuracy means inside `bounds`.
    */
  def outcome(o: Outcome, h: Int, tol: Int,
      bounds: Map[String, (Double, Double)]): Seq[String] = {
    val perSeries = o.fits.toSeq.sortBy(_._1).flatMap { case (sid, (m, fc)) =>
      val finite = (fc.mean ++ fc.se ++ fc.lower.flatten ++ fc.upper.flatten)
        .forall(v => !v.isNaN && !v.isInfinite)
      val ordered = fc.levels.indices.forall { l =>
        fc.mean.indices.forall(i =>
          fc.lower(l)(i) <= fc.mean(i) && fc.mean(i) <= fc.upper(l)(i))
      }
      Seq(
        if (m.p != tol) Some(s"$sid: model.p=${m.p}, expected $tol") else None,
        if (fc.mean.length != h) Some(s"$sid: ${fc.mean.length} forecasts, expected $h") else None,
        if (!finite) Some(s"$sid: non-finite forecast or interval") else None,
        if (!ordered) Some(s"$sid: interval not ordered lower <= mean <= upper") else None
      ).flatten
    }
    val acc = Seq("mase" -> o.mase, "smape" -> o.smape, "msis_95" -> o.msis95)
      .flatMap { case (k, v) =>
        bounds.get(k).flatMap { case (lo, hi) =>
          if (v >= lo && v <= hi) None else Some(s"$k=$v outside [$lo, $hi]")
        }
      }
    perSeries ++ acc
  }

  /** The traced composition must reproduce the untraced run's models
    * and forecasts to `rel` relative (per array, against its largest
    * magnitude), or the trace measured a different program.
    */
  def equivalent(a: Outcome, b: Outcome, rel: Double = 1e-9): Seq[String] = {
    def close(what: String, x: Array[Double], y: Array[Double]): Option[String] = {
      val scale = (x ++ y).map(math.abs).foldLeft(1e-300)(math.max)
      if (x.length != y.length) Some(s"$what: length ${x.length} vs ${y.length}")
      else {
        val worst = x.indices.map(i => math.abs(x(i) - y(i))).foldLeft(0.0)(math.max)
        if (worst <= rel * scale) None
        else Some(f"$what: max diff $worst%.3e vs scale $scale%.3e")
      }
    }
    if (a.fits.keySet != b.fits.keySet) Seq("series sets differ")
    else a.fits.keys.toSeq.sorted.flatMap { sid =>
      val (ma, fa) = a.fits(sid)
      val (mb, fb) = b.fits(sid)
      Seq(
        close(s"$sid beta", Array(ma.beta0, ma.beta1, ma.sigma2),
          Array(mb.beta0, mb.beta1, mb.sigma2)),
        close(s"$sid pi", ma.pi, mb.pi),
        close(s"$sid harmonics", ma.harmonics.flatMap(x => Array(x.cos, x.sin)),
          mb.harmonics.flatMap(x => Array(x.cos, x.sin))),
        close(s"$sid mean", fa.mean, fb.mean),
        close(s"$sid se", fa.se, fb.se),
        close(s"$sid lower", fa.lower.flatten, fb.lower.flatten),
        close(s"$sid upper", fa.upper.flatten, fb.upper.flatten)
      ).flatten
    }
  }
}
