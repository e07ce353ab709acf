package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Darima, DarimaConfig}
import graft.eval.Metrics
import graft.queries.DarimaQueries

/** End-to-end pipeline tests: the harness events series (fast) and
  * the reference's own electricity fixture (the real workload shape:
  * 121k hourly rows, K=4, AR(2000) linearization, h=2879 forecast —
  * reference defaults per darima_config.json).
  */
class DarimaPipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The reference's electricity CSV at `path`; the test is canceled,
    * not failed, where that corpus is not installed — the synthetic
    * twins below make the same assertions on a generated series.
    */
  private def referenceCsv(path: String) = {
    assume(new java.io.File(path).isFile,
      s"reference corpus file $path is not installed")
    Darima.loadSeriesCsv(spark, path)
  }

  test("chunk fit emits a full coefficient table per chunk") {
    val cfg = DarimaConfig(numChunks = 4, freq = 24, tol = 24,
      maxP = 3, maxQ = 2)
    val series = graft.Tables.events(spark, sf)
      .select(col("ts").cast("double").as("time"), col("value"))
    val coefs = Darima.fitChunkCoefs(spark, series, cfg)
    val byChunk = coefs.groupBy("chunk_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byChunk.size == 4)
    byChunk.values.foreach(n => assert(n == cfg.tol + 3L))
    // DLSA weights positive
    assert(coefs.filter(col("weight") <= 0).count() == 0)
  }

  /** An hourly AR(2)-plus-daily-cycle series at the given hour
    * offsets, as (time, value).
    */
  private def hourly(hours: Seq[Int]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val xs = ar2Series(hours.length)
    hours.zip(xs).map { case (hr, x) =>
      (1.6e9 + 3600.0 * hr, x + 3.0 * math.sin(2 * math.Pi * hr / 24.0))
    }.toDF("time", "value")
  }

  test("chunk fit: each chunk's rows equal fitOneChunk on the driver") {
    val cfg = DarimaConfig(numChunks = 4, freq = 24, tol = 24,
      maxP = 3, maxQ = 2, fitter = "arma", harmDaily = 1)
    // the third series has no rows in the second quarter of its time
    // span, so the timerange chunker leaves chunk 1 empty
    val dense = hourly(0 until 2000)
    val gapped = hourly((0 until 500) ++ (1000 until 2000))
    for ((chunker, ser, chunks) <- Seq(("range", dense, 0 to 3),
        ("timerange", dense, 0 to 3), ("timerange", gapped, Seq(0, 2, 3)))) {
      val c = cfg.copy(chunker = chunker)
      val got = Darima.fitChunkCoefs(spark, ser, c).collect()
        .map(r => (r.getInt(0), r.getString(1)) ->
          (r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
      val named = ser.select(col("time").as("t"), col("value").as("v"))
      val assigned =
        if (chunker == "range") graft.ts.Chunker.rangeChunks(named, col("t"), 4)
        else graft.ts.Chunker.timeChunks(named, col("t"), 4)
      val want = assigned.select("chunk_id", "t", "v").collect()
        .groupBy(_.getInt(0)).toSeq.flatMap { case (k, rs) =>
          val buf = rs.map(r => (r.getDouble(1), r.getDouble(2))).sortBy(_._1)
          Darima.fitOneChunk(buf, c).map(r =>
            (k, r.coef) -> (r.value, r.weight, r.n))
        }.toMap
      assert(got.keySet.map(_._1) == chunks.toSet, s"$chunker chunk ids")
      assert(got == want, s"$chunker: distributed fit differs from the driver")
    }
  }

  /** Per stage that ran a task inside `body`: (the number of its tasks
    * that read shuffle records, the records they read in all).
    */
  private def shuffleReadsByStage(body: => Unit): Map[Int, (Int, Long)] = {
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          reads.add((e.stageId, e.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    reads.toArray(Array.empty[(Int, Long)]).groupBy(_._1).map {
      case (stage, rs) => stage -> (rs.count(_._2 > 0), rs.map(_._2).sum)
    }
  }

  test("chunk fit: K chunks are fitted in K tasks, with or without AQE") {
    val n = 4000
    val ser = hourly(0 until n)
    val cfg = DarimaConfig(numChunks = 4, freq = 24, fitter = "olsar",
      chunker = "timerange")
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(aqe)
    try {
      for (enabled <- Seq("true", "false")) {
        spark.conf.set(aqe, enabled)
        val stages = shuffleReadsByStage {
          Darima.fitChunkCoefs(spark, ser, cfg).collect()
        }
        // the chunk exchange is the only one that carries every row
        val readers = stages.values.collect {
          case (tasks, records) if records == n => tasks
        }
        assert(readers.toSeq == Seq(cfg.numChunks),
          s"AQE $enabled: tasks reading the chunk exchange, per stage: " +
            s"$stages")
      }
    } finally saved match {
      case Some(v) => spark.conf.set(aqe, v)
      case None => spark.conf.unset(aqe)
    }
  }

  test("combine: dlsa equals mean when all chunk weights are equal") {
    import spark.implicits._
    val coefs = Seq(
      (0, "ar1", 1, 0.5, 2.0, 100L), (1, "ar1", 1, 0.7, 2.0, 100L),
      (0, "sigma2", Int.MaxValue, 1.0, 2.0, 100L),
      (1, "sigma2", Int.MaxValue, 1.0, 2.0, 100L))
      .toDF("chunk_id", "coef", "lag_idx", "value", "weight", "n")
    val dlsa = Darima.combine(coefs, "dlsa").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(dlsa("ar1") - 0.6) < 1e-12)
    // sigma2 via Σn/Σw = 200/4 = 50 (precision-form combine)
    assert(math.abs(dlsa("sigma2") - 50.0) < 1e-12)
    val mean = Darima.combine(coefs, "mean").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(mean("ar1") - 0.6) < 1e-12)
  }

  test("config: an unknown string knob is rejected when the config is built") {
    val bad: Seq[() => DarimaConfig] = Seq(
      () => DarimaConfig(fitter = "lonagr"),
      () => DarimaConfig(method = "median"),
      () => DarimaConfig(chunker = "ntile"),
      () => DarimaConfig(decayScope = "recent"),
      // a case slip used to run silently as "off"
      () => DarimaConfig(seasonalWeighting = "Holdout"),
      () => DarimaConfig(boxCox = "log"),
      () => DarimaConfig().copy(fitter = "ar"))
    bad.foreach(c => intercept[IllegalArgumentException](c()))
    Seq(DarimaConfig(), DarimaConfig(fitter = "olsar", method = "mean",
      chunker = "timerange", decayScope = "seasonal",
      seasonalWeighting = "holdout", boxCox = "auto"),
      DarimaConfig(boxCox = "0.5")).foreach(c => assert(c.numChunks == 4))
  }

  test("electricity e2e: reference fixture, K=4, forecast h=2879") {
    val train = referenceCsv(
      "/root/reference/data/NEMASSBOST_train.csv")
    val test0 = referenceCsv(
      "/root/reference/data/NEMASSBOST_test.csv")
    val testVals = test0.orderBy("time").select("value").collect()
      .map(_.getDouble(0))
    val h = testVals.length
    assert(h == 2879)
    val cfg = DarimaConfig(numChunks = 4, freq = 24, method = "dlsa",
      tol = 2000, maxP = 5, maxQ = 5)
    val (model, fc) = Darima.run(spark, train, h, cfg)
    assert(model.p == 2000)
    assert(model.sigma2 > 0)
    assert(fc.mean.forall(v => !v.isNaN && math.abs(v) < 1e5))
    // evaluation vs held-out test (paper metrics)
    val trainVals = train.orderBy("time").select("value").collect()
      .map(_.getDouble(0))
    val mase = Metrics.mean(Metrics.mase(trainVals, testVals, fc.mean, 24))
    val smape = Metrics.mean(Metrics.smape(testVals, fc.mean))
    val msis95 = Metrics.mean(Metrics.msis(trainVals, testVals,
      fc.lower(1), fc.upper(1), 95, 24))
    info(s"NEMASSBOST: MASE=$mase sMAPE=$smape MSIS95=$msis95 " +
      s"sigma2=${model.sigma2}")
    // long-AR seasonal fitter reaches ~1.10 on this fixture (the
    // reference's own quality is degraded by SURVEY.md §1.4 defects;
    // Wang et al. report ~0.8-1.0 for full DARIMA)
    assert(mase < 1.5, s"MASE=$mase")
    assert(smape < 0.12, s"sMAPE=$smape")
    assert(msis95 > 0 && msis95 < 25, s"MSIS=$msis95")
    // forecast.json sink round-trips
    val tmp = java.nio.file.Files.createTempDirectory("fc").toString
    Darima.writeForecastJson(fc, s"$tmp/forecast.json")
    assert(java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$tmp/forecast.json")) > 1000)
  }

  test("modulated harmonics survive the full distributed chain: " +
      "chunk fit -> DLSA combine -> model parse -> forecast") {
    import spark.implicits._
    // amplitude-modulated daily signal: y = 100 + (3 + 2cos(ω_y t))·
    // cos(ω_d t) + ripple, with ω_y the REAL yearly mapping the specs
    // inject (8766 hourly samples per modulator cycle). The forecast
    // can only track the varying amplitude if the modulated CoefRows
    // round-trip through the combine's named grouping and
    // globalModel's parse — a plain skeleton would freeze at the
    // average amplitude (error ≥ 2 at the modulator's extremes).
    //
    // numChunks = 2 so each contiguous chunk spans 1.5 modulator
    // cycles: Seasonal.fitHarmonics drops (correctly — the factor is
    // near-constant inside the window, collinear with the base pair)
    // any modulated spec whose modulator period exceeds the CHUNK
    // span, so identifiability has to hold per chunk, not merely
    // globally. The production electricity runs are K=4 over ~14
    // years (≈3.4 cycles per chunk).
    val dt = 3600.0
    val yc = (365.25 * 24).round.toInt // 8766 samples per modulator
    val n = 8766 * 3
    val h = 2000
    def truth(i: Long): Double = 100.0 +
      (3.0 + 2.0 * math.cos(2 * math.Pi * i / yc.toDouble)) *
        math.cos(2 * math.Pi * i / 24.0)
    val rows = (0L until n).map(i =>
      (1.6e9 + i * dt, truth(i) + 0.3 * math.sin(i * 1.7)))
    val cfg = DarimaConfig(numChunks = 2, freq = 24, fitter = "olsar",
      olsP = 2, harmDaily = 1, modDaily = 1, modYearly = 1)
    val (model, fc) = Darima.run(spark, rows.toDF("time", "value"),
      h, cfg)
    assert(model.harmonics.exists(_.mcycle > 0),
      s"no modulated pair survived: ${model.harmonics.mkString(",")}")
    val errs = (0 until h).map(j => math.abs(fc.mean(j) - truth(n + j)))
    val rmse = math.sqrt(errs.map(e => e * e).sum / h)
    // ripple sd ≈ 0.21; an amplitude-frozen skeleton would sit ≥ 1.0
    // RMSE over a horizon crossing the modulator's swing
    assert(rmse < 0.6, s"rmse=$rmse")
  }

  test("electricity e2e: calibrated sarima fitter at long horizon") {
    // the r5-documented failure: fitter="sarima" selected a unit root
    // and h=2879 intervals exploded (MSIS95 ≈ 485). The long-horizon
    // calibration (stationary cap + Fourier harmonics + last-year
    // level anchor, Darima.run) must bring intervals within 2× of the
    // shipped harmonic default while keeping points usable.
    val train = referenceCsv(
      "/root/reference/data/NEMASSBOST_train.csv")
    val test0 = referenceCsv(
      "/root/reference/data/NEMASSBOST_test.csv")
    val testVals = test0.orderBy("time").select("value").collect()
      .map(_.getDouble(0))
    val h = testVals.length
    val cfg = DarimaConfig(fitter = "sarima")
    val (_, fc) = Darima.run(spark, train, h, cfg)
    val trainVals = train.orderBy("time").select("value").collect()
      .map(_.getDouble(0))
    val mase = Metrics.mean(Metrics.mase(trainVals, testVals, fc.mean, 24))
    val msis95 = Metrics.mean(Metrics.msis(trainVals, testVals,
      fc.lower(1), fc.upper(1), 95, 24))
    info(s"NEMASSBOST sarima: MASE=$mase MSIS95=$msis95")
    // round 7: the family search (long-AR candidate under the same
    // AICc) + yearly-only injected skeleton brought this to ≈ 0.87,
    // level with the shipped harmonic default — pin it there
    assert(mase < 1.05, s"MASE=$mase")
    assert(msis95 > 0 && msis95 < 12, s"MSIS95=$msis95")
  }

  test("synthetic e2e: paper-shape series, K=4, forecast h=2879") {
    // twin of the reference-fixture test on PaperShapeSeries, plus the
    // output layer at paper scale: fitted/residuals at p = 2000 and
    // the inline forecast.json sink
    val (train, trainVals, testVals) = PaperShapeSeries.split(spark)
    val h = testVals.length
    assert(h == 2879)
    val cfg = DarimaConfig(numChunks = 4, freq = 24, method = "dlsa",
      tol = 2000, maxP = 5, maxQ = 5)
    val (model, fc) = Darima.run(spark, train, h, cfg)
    assert(model.p == 2000)
    assert(model.sigma2 > 0)
    assert(fc.mean.forall(v => !v.isNaN && math.abs(v) < 1e5))
    val mase = Metrics.mean(Metrics.mase(trainVals, testVals, fc.mean, 24))
    val smape = Metrics.mean(Metrics.smape(testVals, fc.mean))
    val msis95 = Metrics.mean(Metrics.msis(trainVals, testVals,
      fc.lower(1), fc.upper(1), 95, 24))
    info(s"paper-shape: MASE=$mase sMAPE=$smape MSIS95=$msis95 " +
      s"sigma2=${model.sigma2}")
    // bounds re-derived for this series, about 20% above what the
    // engine reaches on it (MASE 2.71, sMAPE 0.098, MSIS95 15.5), the
    // margin the reference test keeps. MASE sits far above the
    // fixture's 1.10 by construction: the denominator is the lag-24
    // in-sample difference, dominated by the AR(2) noise (sd ≈ 70, no
    // weather swings), while longar's AR(2000) spans 83 days and
    // cannot carry the ±330 yearly cycle across a 120-day horizon
    assert(mase < 3.25, s"MASE=$mase")
    assert(smape < 0.12, s"sMAPE=$smape")
    assert(msis95 > 0 && msis95 < 19, s"MSIS=$msis95")
    // fitted/residuals row for row against Forecast.forecast's
    // in-sample recursion (hourly grid: phase τ = t/3600)
    val frDf = Darima.fittedResidualsDF(train, model)
    val got = frDf.orderBy("t").collect()
    val drv = graft.forecast.Forecast.forecast(model, trainVals, h = 1,
      levels = Array(80), startIndex = 0L,
      tauStart = got(0).getDouble(0) / 3600.0)
    assert(got.length == trainVals.length)
    val pEff = model.pi.lastIndexWhere(_ != 0.0) + 1
    def close(a: Double, b: Double) =
      if (model.harmonics.isEmpty) a == b
      else math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    got.indices.foreach { i =>
      if (i < pEff) assert(got(i).isNullAt(2) && got(i).isNullAt(3), s"row $i")
      else if (i >= model.p) {
        assert(close(got(i).getDouble(2), drv.fitted(i)),
          s"row $i: ${got(i).getDouble(2)} vs ${drv.fitted(i)}")
        assert(close(got(i).getDouble(3), drv.residuals(i)), s"row $i")
      }
    }
    // forecast.json sink, inline branch: the whole-train arrays in
    // time order, value for value
    val tmp = java.nio.file.Files.createTempDirectory("fc").toString
    assert(Darima.writeForecastOutputs(fc, frDf, model.n, tmp,
      inlineMax = model.n))
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/forecast.json"))
    val inlined = json.split("\"fitted\":\\[")(1).split("]")(0).split(",")
    assert(inlined.length == got.length)
    got.indices.foreach { i =>
      val want = if (got(i).isNullAt(2)) "null" else got(i).getDouble(2).toString
      assert(inlined(i) == want, s"fitted[$i]")
    }
  }

  test("synthetic e2e: calibrated sarima fitter at long horizon") {
    // twin of the reference sarima test on PaperShapeSeries
    val (train, trainVals, testVals) = PaperShapeSeries.split(spark)
    val cfg = DarimaConfig(fitter = "sarima")
    val (_, fc) = Darima.run(spark, train, testVals.length, cfg)
    val mase = Metrics.mean(Metrics.mase(trainVals, testVals, fc.mean, 24))
    val msis95 = Metrics.mean(Metrics.msis(trainVals, testVals,
      fc.lower(1), fc.upper(1), 95, 24))
    info(s"paper-shape sarima: MASE=$mase MSIS95=$msis95")
    // about 20% above what the engine reaches here (MASE 0.634,
    // MSIS95 4.40), as for the reference test (0.87 → 1.05): the
    // injected yearly pairs carry the cycle longar misses, so sarima
    // must stay well below the longar twin
    assert(mase < 0.76, s"MASE=$mase")
    assert(msis95 > 0 && msis95 < 5.3, s"MSIS95=$msis95")
  }

  test("harmonic phase survives DST-style gaps (gap-robust dt)") {
    import spark.implicits._
    // hourly sinusoid with three 2-hour holes: the average-dt phase
    // (t / ((last-first)/(n-1))) drifts; the median-dt phase is exact
    // and the forecast must continue the wall-clock cycle
    val n = 2000
    val gaps = Set(400, 900, 1500)
    val times = (0 until n).scanLeft(1.6e9) { (t, i) =>
      t + (if (gaps.contains(i)) 7200.0 else 3600.0)
    }.tail
    // the 0.3-amplitude incommensurate ripple keeps the post-harmonic
    // residuals non-degenerate (a pure sinusoid fits exactly and the
    // AR normal equations go singular)
    val ser = times.map(t =>
      (t, 100.0 + 10.0 * math.sin(2 * math.Pi * (t / 3600.0) / 24.0)
        + 0.3 * math.sin(t / 3600.0 * 1.7)))
      .toDF("time", "value")
    val cfg = DarimaConfig(numChunks = 2, freq = 24, fitter = "olsar",
      olsP = 2, harmDaily = 1, chunker = "timerange")
    val (_, fc) = Darima.run(spark, ser, h = 48, cfg)
    val tLast = times.last
    val expected = (1 to 48).map(s =>
      100.0 + 10.0 * math.sin(2 * math.Pi * ((tLast + s * 3600.0) / 3600.0) / 24.0))
    val maxErr = fc.mean.zip(expected).map { case (a, b) => math.abs(a - b) }.max
    // ≥1.0 would mean ≥ 0.1 rad of daily-phase drift (the averaged-dt
    // bug lands whole CYCLES off); the 0.3 ripple bounds the rest
    assert(maxErr < 1.0, s"phase drift: maxErr=$maxErr")
  }

  test("darima queries run and return rows at sf0.001") {
    DarimaQueries.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name empty")
    }
  }

  /** Deterministic AR(2)-ish series of n points, indexed time 0…n−1. */
  private def ar2Series(n: Int): Array[Double] = {
    var state = 9L
    def rnd(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val xs = new Array[Double](n)
    var t = 0
    while (t < n) {
      xs(t) = 5.0 + rnd() +
        (if (t >= 1) 0.5 * xs(t - 1) else 0.0) +
        (if (t >= 2) 0.2 * xs(t - 2) else 0.0)
      t += 1
    }
    xs
  }

  test("distributed fitted/residuals match the driver recursion") {
    import spark.implicits._
    // 4,000 rows split into 32 range buckets at p = 2 and 3 buckets at
    // p = 300, so bucket halos (and, with β1 ≠ 0, global row offsets)
    // carry the lag window across boundaries; without harmonics the
    // fold is the driver's, bit for bit
    val n = 4000
    val xs = ar2Series(n)
    val ser = xs.zipWithIndex.map { case (v, i) => (i.toDouble, v) }
      .toSeq.toDF("time", "value")
    val models = Seq(
      graft.arima.ArLinearModel(beta0 = 1.5, beta1 = 0.0,
        pi = Array(0.5, 0.2), sigma2 = 1.0, n = n),
      graft.arima.ArLinearModel(beta0 = 1.5, beta1 = 1e-4,
        pi = Array.tabulate(300)(j => 0.4 * math.pow(0.6, j) + 1e-5),
        sigma2 = 1.0, n = n))
    models.foreach { model =>
      val p = model.pi.length
      val frDf = Darima.fittedResidualsDF(ser, model)
      assert(frDf.rdd.getNumPartitions > 1, s"p=$p ran as one bucket")
      val got = frDf.orderBy("t").collect()
      val fc = graft.forecast.Forecast.forecast(model, xs, h = 1,
        levels = Array(80))
      assert(got.length == n)
      var i = 0
      while (i < n) {
        if (i < p) {
          assert(got(i).isNullAt(2) && got(i).isNullAt(3),
            s"p=$p row $i should be null")
        } else {
          assert(got(i).getDouble(2) == fc.fitted(i),
            s"p=$p row $i: ${got(i).getDouble(2)} vs ${fc.fitted(i)}")
          assert(got(i).getDouble(3) == fc.residuals(i), s"p=$p row $i")
        }
        i += 1
      }
    }
  }

  test("fitted/residuals: a null value nulls the rows whose lag window holds it") {
    import spark.implicits._
    // the lag window skips nothing: a null value makes the next p rows
    // null (fitted and residual), its own residual null, and leaves
    // every other row equal to the driver recursion
    val n = 4000
    val xs = ar2Series(n)
    val nulls = Set(50, 2001)
    val ser = xs.indices.map(i =>
      (i.toDouble, if (nulls(i)) None else Some(xs(i))))
      .toDF("time", "value")
    val p = 3
    val model = graft.arima.ArLinearModel(beta0 = 1.5, beta1 = 0.0,
      pi = Array(0.5, 0.2, 0.1), sigma2 = 1.0, n = n)
    val got = Darima.fittedResidualsDF(ser, model).orderBy("t").collect()
    val fc = graft.forecast.Forecast.forecast(model, xs, h = 1,
      levels = Array(80))
    assert(got.length == n)
    got.indices.foreach { i =>
      val inWindow = nulls.exists(j => i > j && i - j <= p)
      if (i < p || inWindow)
        assert(got(i).isNullAt(2) && got(i).isNullAt(3), s"row $i")
      else {
        assert(got(i).getDouble(2) == fc.fitted(i), s"row $i")
        if (nulls(i)) assert(got(i).isNullAt(1) && got(i).isNullAt(3), s"row $i")
        else assert(got(i).getDouble(3) == fc.residuals(i), s"row $i")
      }
    }
  }

  test("fitted/residuals with trend and harmonics stay consistent") {
    import spark.implicits._
    val n = 600
    val xs = Array.tabulate(n)(t =>
      10.0 + 0.01 * t + 3.0 * math.cos(2 * math.Pi * t / 24.0))
    val ser = xs.zipWithIndex.map { case (v, i) => (i.toDouble, v) }
      .toSeq.toDF("time", "value")
    val model = graft.arima.ArLinearModel(
      beta0 = 0.2, beta1 = 0.01, pi = Array(0.3), sigma2 = 1.0, n = n,
      harmonics = Array(graft.arima.HarmCoef(24, 1, 3.0, 0.0)))
    val got = Darima.fittedResidualsDF(ser, model).orderBy("t").collect()
    val fc = graft.forecast.Forecast.forecast(model, xs, h = 1,
      levels = Array(80), startIndex = 0L, tauStart = 0.0)
    var i = 1
    while (i < n) {
      assert(math.abs(got(i).getDouble(2) - fc.fitted(i)) < 1e-9,
        s"row $i: ${got(i).getDouble(2)} vs ${fc.fitted(i)}")
      i += 1
    }
  }

  test("forecast sink: inline below the threshold (reference parity), " +
      "parquet + pointer above it") {
    import org.apache.spark.sql.functions.col
    val series = Tables.events(spark, sf)
      .select(col("ts").cast("double").as("time"), col("value"))
    val cfg = DarimaConfig(numChunks = 2, freq = 24, fitter = "olsar",
      olsP = 1, chunker = "timerange")
    val n = series.count()
    val (model, fc) = Darima.run(spark, series, h = 8, cfg)
    val frDf = Darima.fittedResidualsDF(series, model)
    // inline branch: arrays in the JSON, no parquet side file
    val d1 = java.nio.file.Files.createTempDirectory("sink1").toString
    assert(Darima.writeForecastOutputs(fc, frDf, n, d1, inlineMax = n))
    val j1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$d1/forecast.json"))
    assert(j1.contains("\"fitted\":[") && j1.contains("\"residuals\":["))
    assert(!j1.contains("fitted_residuals_path"))
    assert(!new java.io.File(s"$d1/fitted_residuals.parquet").exists())
    // count the inlined fitted values == n (whole-train arrays, the
    // darima.py:400-408 shape)
    val inlined = j1.split("\"fitted\":\\[")(1).split("]")(0)
      .split(",").length
    assert(inlined == n, s"inlined $inlined fitted values, train $n")
    // pointer branch: arrays replaced by the relative path; the
    // parquet holds every (t, fitted, residual) row
    val d2 = java.nio.file.Files.createTempDirectory("sink2").toString
    assert(!Darima.writeForecastOutputs(fc, frDf, n, d2,
      inlineMax = n - 1))
    val j2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$d2/forecast.json"))
    assert(j2.contains("\"fitted_residuals_path\":\"fitted_residuals.parquet\""))
    assert(!j2.contains("\"fitted\":["))
    val pq = spark.read.parquet(s"$d2/fitted_residuals.parquet")
    assert(pq.count() == n)
    assert(pq.columns.toSeq == Seq("t", "fitted", "residual"))
    // the forecast head of the JSON (mean/se/intervals) is identical
    // across branches — only the fitted/residual carrier changed
    assert(j1.split("\"fitted\"")(0) == j2.split("\"fitted")(0))
  }
}
