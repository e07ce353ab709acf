package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.arima.ArFit
import graft.pipeline.{Darima, DarimaConfig}
import graft.eval.Metrics

/** The DARIMA pipeline surface, run over the harness `events` table
  * as the univariate series (ts → time, value → demand analog).
  *
  * Every query here is oracle-checked end to end. The technique
  * (proved by d05 in round 1): run the REAL distributed pipeline —
  * equal-width timerange chunking, chunk-partition fit, DLSA combine,
  * the driver forecast recursion, the metric stack — but pin the inner fit to
  * the closed-form `olsar` fitter (OLS AR(p) by streaming normal
  * equations, ArFit.olsAr), which a DuckDB oracle can reproduce:
  * Cramer's rule for the per-chunk fit, plain SQL for the DLSA
  * combine, and a WITH RECURSIVE CTE that mirrors the forecast
  * recursion term by term (same left-associated float ops). The
  * stepwise/long-AR production fitters stay covered by unit and
  * property specs plus the 10-zone e2e eval (RESULTS.md).
  *
  * Reference trace: chunk fit darima.py:151-155 + auto_arima.R:7-93,
  * combine darima.py:233-280, forecast darima.py:292-414, metrics
  * darima.py:425-488.
  */
object DarimaQueries {
  type Q = (SparkSession, String) => DataFrame

  private def series(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("ts").cast("double").as("time"), col("value"))

  /** Closed-form configs: equal-width time-range chunks (one min/max
    * aggregate + codegen projection — SQL-mirrorable with no window)
    * + fixed-order OLS AR fit, no harmonics. d05 keeps the exact
    * distributed-ntile chunker so OrderedRank stays oracle-covered.
    */
  private val cfgOls2 = DarimaConfig(numChunks = 4, freq = 24,
    fitter = "olsar", olsP = 2, olsTrend = false, chunker = "timerange")
  private val cfgOls1 = cfgOls2.copy(olsP = 1)

  /** Same rounding convention as Spark's / DuckDB's `round(x, n)`
    * (HALF_UP, away from zero on ties) — `math.rint` is half-to-even
    * and would diverge from the oracle on exact .5 ties.
    */
  private def roundN(x: Double, n: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** sigma2 rows round at 3dp (magnitude ~1e4 — 6dp would demand
    * 1e-11 relative agreement between Gaussian elimination and the
    * oracle's Cramer solve); coefficient rows at 6dp.
    */
  private val roundedValue =
    when(col("coef") === "sigma2", round(col("value"), 3))
      .otherwise(round(col("value"), 6)).as("value")

  /** M1-M8: per-chunk fit + coefficient un-nest, on the REAL
    * chunk-partition map step (Darima.fitChunkCoefs) with the closed-form
    * AR(2) fitter — oracle solves the same normal equations by
    * Cramer's rule per ntile chunk.
    */
  private val d01ChunkCoefs: Q = (s, d) =>
    Darima.fitChunkCoefs(s, series(s, d), cfgOls2)
      .select(col("chunk_id"), col("coef"), col("lag_idx"), roundedValue)
      .orderBy(col("chunk_id"), col("lag_idx"))

  /** A1/A4: DLSA combine to the global model — θ = Σw_kθ_k/Σw_k,
    * σ² = Σn_k/Σw_k with w_k = n_k/σ²_k (paper-correct §1.4.6).
    */
  private val d02GlobalCoefs: Q = (s, d) => {
    val coefs = Darima.fitChunkCoefs(s, series(s, d), cfgOls2)
    Darima.combine(coefs, "dlsa")
      .select(col("coef"), col("lag_idx"), roundedValue)
      .orderBy(col("lag_idx"))
  }

  /** FC1-FC8: the full run — distributed fit + combine, driver
    * recursion, ψ-weight s.e., probit intervals — with the AR(1)
    * closed form; the oracle replays the identical recursion in a
    * WITH RECURSIVE CTE seeded from the same combined model.
    */
  private val d03Forecast: Q = (s, d) => {
    import s.implicits._
    val (_, fc) = Darima.run(s, series(s, d), h = 48, cfgOls1)
    fc.mean.indices.map { i =>
      (i + 1, roundN(fc.mean(i), 4), roundN(fc.se(i), 4),
        roundN(fc.lower(0)(i), 4), roundN(fc.upper(0)(i), 4),
        roundN(fc.lower(1)(i), 4), roundN(fc.upper(1)(i), 4))
    }.toDF("step", "mean", "se", "lo80", "hi80", "lo95", "hi95")
      .orderBy(col("step"))
  }

  /** E1-E5: time-cutoff train/test split (pushed-down filter — no
    * GlobalLimit, no full-series collect; VERDICT r2 #1), forecast on
    * the train prefix, distributed seasonal-naïve scale, MASE/sMAPE/
    * MSIS means over the h-row test tail (the only rows collected).
    *
    * Assumes unique timestamps (true of the harness events table and
    * any sane series): with ties at the cutoff, `time < cutoff` and
    * the oracle's row_number split would disagree on the tied rows —
    * the same total-order requirement OrderedLag documents.
    */
  private val d04ForecastEval: Q = (s, d) => {
    import s.implicits._
    // the series feeds four passes (count, tail top-k, fit, scale) —
    // cache it for the duration of this computation; everything below
    // is computed eagerly, so the returned 1-row frame does not
    // depend on the cache
    val all = series(s, d).cache()
    try {
      val n = all.count()
      val nTest = math.max(24L, n / 10).toInt
      // degenerate series: empty, or so short the test tail would
      // swallow every row and leave nothing to train on — an empty
      // result frame (same schema), not a crash (the 100 TB contract:
      // empty/tiny inputs are routine, see EmptyInputSpec)
      if (n <= nTest) {
        Seq.empty[(Double, Double, Double, Double, Int)]
          .toDF("mean_mase", "mean_smape", "mean_msis_80",
            "mean_msis_95", "h")
      } else {
        // test tail: distributed top-k, h rows — bounded driver transfer
        val tail = all.select(col("time").cast("double").as("t"), col("value"))
          .orderBy(col("t").desc).limit(nTest)
          .collect().sortBy(_.getDouble(0))
        val cutoff = tail.head.getDouble(0)
        val test = tail.map(_.getDouble(1))
        val trainDf = all.filter(col("time") < cutoff)
        val (_, fc) = Darima.run(s, trainDf, h = nTest, cfgOls1)
        val scale = Darima.seasonalNaiveScaleDF(trainDf, cfgOls1.freq)
        val mase = Metrics.mean(Metrics.maseScaled(test, fc.mean, scale))
        val smape = Metrics.mean(Metrics.smape(test, fc.mean))
        val msis80 = Metrics.mean(
          Metrics.msisScaled(test, fc.lower(0), fc.upper(0), 80, scale))
        val msis95 = Metrics.mean(
          Metrics.msisScaled(test, fc.lower(1), fc.upper(1), 95, scale))
        Seq((roundN(mase, 6), roundN(smape, 6), roundN(msis80, 6),
          roundN(msis95, 6), nTest))
          .toDF("mean_mase", "mean_smape", "mean_msis_80",
            "mean_msis_95", "h")
      }
    } finally all.unpersist()
  }

  /** The original fit-math oracle: AR(1)+intercept OLS per contiguous
    * chunk (kept from round 1; certifies ArFit.olsAr against the
    * closed-form normal equations on a second code path).
    */
  private val d05Ar1Ols: Q = (s, d) => {
    import s.implicits._
    val chunked = graft.ts.OrderedRank.withNtile(
      Tables.events(s, d)
        .select(col("ts"), col("event_id"), col("value")),
      col("ts"), col("event_id"), 4, "chunk_id")
      .select(col("chunk_id"), col("ts").cast("double").as("t"), col("value"))
    chunked.as[(Int, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (chunkId, it) =>
        val values = it.toArray.sortBy(_._2).map(_._3)
        // a chunk too short for AR(1)+intercept OLS (n−p ≤ k+2) has
        // no defined fit — emit the chunk with NULL fit columns (the
        // oracle mirrors the same n ≤ 5 rule) rather than silently
        // dropping the row; never triggers at harness scales
        if (values.length <= 5)
          Iterator.single((chunkId, values.length.toLong,
            None: Option[Double], None: Option[Double],
            None: Option[Double]))
        else {
          val fit = ArFit.olsAr(values, 1, trend = false)
          Iterator.single((chunkId, values.length.toLong,
            Some(roundN(fit.beta0, 6)), Some(roundN(fit.pi(0), 6)),
            Some(roundN(fit.sigma2, 4))))
        }
      }
      .toDF("chunk_id", "n", "c", "phi", "sigma2")
      .orderBy(col("chunk_id"))
  }

  /** M1 alternate form: the same fit as a typed Aggregator inside
    * agg(...) (SURVEY.md §4.2) — shares Darima.fitOneChunk with d01,
    * and the same oracle certifies both API surfaces.
    */
  private val d06FitAggregator: Q = (s, d) => {
    import s.implicits._
    val chunked = graft.ts.Chunker.timeChunks(
      series(s, d).select(col("time").as("t"), col("value").as("v")),
      col("t"), cfgOls2.numChunks)
    chunked.select(col("chunk_id"), col("t"), col("v"))
      .as[(Int, Double, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new graft.pipeline.ArimaFitAggregator(cfgOls2).toColumn.name("coefs"))
      .flatMap { case (chunkId, rows) =>
        rows.map(r => (chunkId, r.coef, r.lag_idx,
          roundN(r.value, if (r.coef == "sigma2") 3 else 6)))
      }
      .toDF("chunk_id", "coef", "lag_idx", "value")
      .orderBy(col("chunk_id"), col("lag_idx"))
  }

  /** FC1/FC2 distributed: full-series fitted values + residuals from
    * the combined model via the partition-local AR kernel
    * (Darima.fittedResidualsDF) — the reference computes these
    * driver-side from a dense n×p lag matrix (darima.py:320-327).
    */
  private val d07FittedResiduals: Q = (s, d) => {
    val ser = series(s, d)
    // one fit pass, checkpointed as a ~20-row frame; n = Σ per-chunk
    // row counts from the fit output — chunks partition the series,
    // so this equals count(*) without a separate series-wide pass
    // (and without caching the series: the remaining consumers are
    // cheap columnar parquet scans)
    val coefs = Darima.fitChunkCoefs(s, ser, cfgOls2).transform(graft.tools.Materialize(_))
    val nRow = coefs.groupBy(col("chunk_id")).agg(first(col("n")).as("cn"))
      .agg(sum(col("cn"))).head()
    // sum over zero chunk rows is NULL (empty series) — treat as 0
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val model = Darima.globalModel(Darima.combine(coefs, "dlsa"), n)
    Darima.fittedResidualsDF(ser, model)
      .select(col("t"), col("v"),
        round(col("fitted"), 3).as("fitted"),
        round(col("residual"), 3).as("residual"))
      .orderBy(col("t"))
  }

  /** The Fourier stage (M2 seasonal regression, Seasonal.fitHarmonics)
    * as a DISTRIBUTED oracle-checked query: OLS of value on
    * [1, cos(ωτ), sin(ωτ)] at the daily period, by closed-form 3×3
    * normal equations — nine streaming sums in ONE hash aggregate
    * (map-side partials, no shuffle wider than the 9-number row),
    * then Cramer's rule in the projection. τ is the day-phase
    * (t − ⌊t/P⌋·P), keeping the trig arguments small and
    * bit-comparable across engines. Both dialects expand the three
    * determinants along the first column in the same float-op order.
    */
  private val d08HarmonicFit: Q = (s, d) => {
    val P = 86400.0
    val w = 2.0 * math.Pi / P
    val tr = series(s, d).select(col("value").as("y"),
      cos((col("time") - floor(col("time") / P) * P) * w).as("cx"),
      sin((col("time") - floor(col("time") / P) * P) * w).as("sx"))
    val sums = tr.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("cx")).as("sc"), sum(col("sx")).as("ss"),
      sum(col("cx") * col("cx")).as("scc"),
      sum(col("sx") * col("sx")).as("sss"),
      sum(col("cx") * col("sx")).as("scs"),
      sum(col("y")).as("sy"),
      sum(col("y") * col("cx")).as("syc"),
      sum(col("y") * col("sx")).as("sys"))
    val det = col("n") * (col("scc") * col("sss") - col("scs") * col("scs")) -
      col("sc") * (col("sc") * col("sss") - col("ss") * col("scs")) +
      col("ss") * (col("sc") * col("scs") - col("ss") * col("scc"))
    val detA = col("sy") * (col("scc") * col("sss") - col("scs") * col("scs")) -
      col("syc") * (col("sc") * col("sss") - col("ss") * col("scs")) +
      col("sys") * (col("sc") * col("scs") - col("ss") * col("scc"))
    val detB = col("n") * (col("syc") * col("sss") - col("scs") * col("sys")) -
      col("sc") * (col("sy") * col("sss") - col("ss") * col("sys")) +
      col("ss") * (col("sy") * col("scs") - col("ss") * col("syc"))
    val detC = col("n") * (col("scc") * col("sys") - col("syc") * col("scs")) -
      col("sc") * (col("sc") * col("sys") - col("sy") * col("scs")) +
      col("ss") * (col("sc") * col("syc") - col("sy") * col("scc"))
    sums.select(col("n").cast("long").as("n"),
      round(detA / det, 6).as("level"),
      round(detB / det, 6).as("cos_coef"),
      round(detC / det, 6).as("sin_coef"))
  }

  /** The FLEET path (VERDICT r9 #1): every series fitted and
    * DLSA-combined in ONE Catalyst plan — `groupBy(sid, chunk)` fit →
    * `groupBy(sid, coef)` combine (Darima.fitChunkCoefsMany /
    * combineMany) — with the harness events table as a 5-series
    * fleet keyed by event_type. Same closed-form AR(2) fitter and
    * per-series equal-width time chunks as d01/d02, so the oracle is
    * the d01/d02 SQL with the series key threaded through every
    * group: a fleet of one series is bit-identical to the
    * single-series path by construction (shared fitOneChunk /
    * combineKeyed; MultiseriesSpec pins it).
    */
  private val d09Multiseries: Q = (s, d) => {
    val fleet = Tables.events(s, d).select(
      col("event_type").as("sid"),
      col("ts").cast("double").as("time"), col("value"))
    Darima.combineMany(
      Darima.fitChunkCoefsMany(s, fleet, cfgOls2), "dlsa")
      .select(col("sid"), col("coef"), col("lag_idx"), roundedValue)
      .orderBy(col("sid"), col("lag_idx"))
  }

  /** The fleet FORECAST stage, fully distributed: per-series AR(1)
    * fit + DLSA combine (the d09 plan at olsP = 1) reduce to a
    * ≤|series|-row seed frame (c, φ, σ², y0 — the tail via the
    * bounded series_tail aggregate), which a typed flatMap expands
    * into every series' h-step recursion — the d03 driver recursion
    * runs INSIDE the plan, one task per seed partition, no per-series
    * driver loop anywhere (the fleet twin of FC1–FC7). The oracle
    * replays the identical float sequence with a per-sid
    * WITH RECURSIVE seeded from the same keyed fit.
    */
  private val d10MultiForecast: Q = (s, d) => {
    import s.implicits._
    val h = 24
    val fleet = Tables.events(s, d).select(
      col("event_type").as("sid"),
      col("ts").cast("double").as("time"), col("value"))
    val gm = Darima.combineMany(
      Darima.fitChunkCoefsMany(s, fleet, cfgOls1), "dlsa")
    val model = gm.groupBy(col("sid")).agg(
      max(when(col("coef") === "beta0", col("value"))).as("c"),
      max(when(col("coef") === "ar1", col("value"))).as("phi"),
      max(when(col("coef") === "sigma2", col("value"))).as("sig"))
    val tails = fleet
      .select(col("sid"), col("time").as("t"), col("value").as("v"))
      .groupBy(col("sid"))
      .agg(graft.functions.SeriesTail.series_tail(1)(col("t"), col("v"))
        .as("tl"))
      .select(col("sid"), expr("tl[0].v").as("y0"))
    val z80 = 1.2815515655446008
    val z95 = 1.959963984540054
    model.join(tails, "sid")
      // Degenerate series (too short / constant: the fit emits no ar1
      // row, or the closed form divides by zero) have no model — omit
      // them from the forecast, mirroring the oracle's null-seed
      // filter, instead of crashing the non-nullable decode below.
      .filter(col("c").isNotNull && col("phi").isNotNull &&
        col("sig").isNotNull && col("y0").isNotNull)
      .select(col("sid"), col("c"), col("phi"), col("sig"), col("y0"))
      .as[(String, Double, Double, Double, Double)]
      .flatMap { case (sid, c, phi, sig, y0) =>
        // the d03 recursion verbatim: row s+1 takes m' = c + φ·m,
        // ψ' = φ·ψ, cum' = cum + ψ² (old ψ) — same left-associated
        // float ops as the recursive-CTE oracle
        var m = y0; var psi = 1.0; var cum = 0.0
        (1 to h).map { step =>
          val m1 = c + phi * m
          val cum1 = cum + psi * psi
          psi = phi * psi; m = m1; cum = cum1
          val se = math.sqrt(sig * cum1)
          (sid, step, roundN(m1, 4), roundN(se, 4),
            roundN(m1 - z80 * se, 4), roundN(m1 + z80 * se, 4),
            roundN(m1 - z95 * se, 4), roundN(m1 + z95 * se, 4))
        }
      }
      .toDF("sid", "step", "mean", "se", "lo80", "hi80", "lo95", "hi95")
      .orderBy(col("sid"), col("step"))
  }

  /** The fleet BACKTEST (d04 keyed): per series — time-cutoff
    * train/test split (h = max(24, n/10)), keyed AR(1) fit on the
    * train prefix, the d10-style in-plan forecast recursion to each
    * series' own horizon, seasonal-naïve scale from the train
    * window, and the MASE/sMAPE/MSIS means as ONE grouped aggregate
    * over the (sid, step)-joined forecast×actual frame. Driver
    * transfers are the per-series count row and the h-row test
    * tails (the d04 bound, per series); every metric is computed
    * distributed. With d09+d10+d11 the fleet fit→forecast→eval path
    * is oracle-checked end to end.
    */
  private val d11MultiEval: Q = (s, d) => {
    import s.implicits._
    val fleet = Tables.events(s, d).select(
      col("event_type").as("sid"),
      col("ts").cast("double").as("time"), col("value"))
    val counts = fleet.groupBy(col("sid")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty)
      Seq.empty[(String, Double, Double, Double, Double, Int)]
        .toDF("sid", "mean_mase", "mean_smape", "mean_msis_80",
          "mean_msis_95", "h")
    else d11Body(s, fleet, counts)
  }

  private def d11Body(s: SparkSession,
      fleet: DataFrame, counts: Map[String, Long]): DataFrame = {
    import s.implicits._
    val hBySid = counts.map { case (sid, n) =>
      sid -> math.max(24L, n / 10).toInt
    }
    val maxH = hBySid.values.max
    // per-series test tails: one bounded series_tail pass, fetched
    // ONE ROW DEEPER than the test window so the forecast seed (the
    // last TRAIN value = the row just before the cutoff) falls out of
    // the same collected tail — previously a second full series_tail
    // aggregate pass over `train` (+ its shuffle join) re-derived it
    val tailsFull = Darima.tailsMany(
      fleet.select(col("sid"), col("time").as("t"),
        col("value").as("v")), maxH + 1)
    val tails = tailsFull
      .map { case (sid, tl) => sid -> tl.takeRight(hBySid(sid)) }
    val cutDf = tails.toSeq.map { case (sid, tl) => (sid, tl.head._1) }
      .toDF("sid", "__cut")
    val test = tails.toSeq.flatMap { case (sid, tl) =>
      tl.zipWithIndex.map { case ((_, v), i) => (sid, i + 1, v) }
    }.toDF("sid", "step", "actual")
    val train = fleet.join(broadcast(cutDf), "sid")
      .filter(col("time") < col("__cut"))
      .select(col("sid"), col("time"), col("value"))
    val gm = Darima.combineMany(
      Darima.fitChunkCoefsMany(s, train, cfgOls1), "dlsa")
    val model = gm.groupBy(col("sid")).agg(
      max(when(col("coef") === "beta0", col("value"))).as("c"),
      max(when(col("coef") === "ar1", col("value"))).as("phi"),
      max(when(col("coef") === "sigma2", col("value"))).as("sig"))
    // y0 = last train value: tails are time-ascending, the test tail
    // is the last h rows, so the seed is the row h+1 from the end —
    // present iff the series has at least h+1 rows (train nonempty),
    // exactly the rows the previous series_tail(1)-over-train pass
    // surfaced. Values are the same parquet doubles, bit-identical.
    val y0s = tailsFull.toSeq.collect {
      case (sid, tl) if tl.length > hBySid(sid) =>
        (sid, tl(tl.length - hBySid(sid) - 1)._2)
    }.toDF("sid", "y0")
    val hFor = hBySid // serialized into the flatMap closure (tiny)
    val fcRows = model.join(broadcast(y0s), "sid")
      // same null-seed omission as d10: unfittable series forecast
      // nothing (the oracle's keyed fit emits no rows for them)
      .filter(col("c").isNotNull && col("phi").isNotNull &&
        col("sig").isNotNull && col("y0").isNotNull)
      .select(col("sid"), col("c"), col("phi"), col("sig"), col("y0"))
      .as[(String, Double, Double, Double, Double)]
      .flatMap { case (sid, c, phi, sig, y0) =>
        var m = y0; var psi = 1.0; var cum = 0.0
        (1 to hFor(sid)).map { step =>
          val m1 = c + phi * m
          val cum1 = cum + psi * psi
          psi = phi * psi; m = m1; cum = cum1
          (sid, step, m1, math.sqrt(sig * cum1))
        }
      }
      .toDF("sid", "step", "m", "se")
    val scDf = Darima.seasonalNaiveScaleManyDF(
      train.select(col("sid"), col("time").as("t"),
        col("value").as("v")), cfgOls1.freq)
      .toSeq.toDF("sid", "sc")
    val hDf = hBySid.toSeq.toDF("sid", "h")
    val z80 = lit(1.2815515655446008)
    val z95 = lit(1.959963984540054)
    def msis(z: Column, alphaInv: Double): Column =
      (((col("m") + z * col("se")) - (col("m") - z * col("se"))) +
        when(col("actual") < (col("m") - z * col("se")),
          lit(alphaInv) * ((col("m") - z * col("se")) - col("actual")))
          .otherwise(lit(0.0)) +
        when(col("actual") > (col("m") + z * col("se")),
          lit(alphaInv) * (col("actual") - (col("m") + z * col("se"))))
          .otherwise(lit(0.0))) / col("sc")
    fcRows.join(test, Seq("sid", "step"))
      .join(broadcast(scDf), "sid")
      .groupBy(col("sid"))
      .agg(
        round(avg(abs(col("actual") - col("m")) / col("sc")), 6)
          .as("mean_mase"),
        round(avg(when((abs(col("actual")) + abs(col("m"))) / 2 === 0,
          lit(0.0)).otherwise(abs(col("actual") - col("m")) /
            ((abs(col("actual")) + abs(col("m"))) / 2))), 6)
          .as("mean_smape"),
        round(avg(msis(z80, 2.0 / 0.2)), 6).as("mean_msis_80"),
        round(avg(msis(z95, 2.0 / 0.05)), 6).as("mean_msis_95"))
      .join(broadcast(hDf), "sid")
      .select(col("sid"), col("mean_mase"), col("mean_smape"),
        col("mean_msis_80"), col("mean_msis_95"), col("h"))
      .orderBy(col("sid"))
  }

  /** d12: per-series MODEL SELECTION in one Catalyst plan — the d11
    * backtest run for BOTH candidate orders (AR(1), AR(2)) with the
    * candidate as one more grouping key, and the per-series
    * argmin-MASE pick as a 2-rows-per-key struct-min aggregate. This
    * is the piece that forces fleet runners into per-series driver
    * loops whenever model SELECTION (not just fitting) is involved
    * (ZonesEval's auto-harmonics / Box–Cox branch): here the
    * candidate dimension rides the shuffle key, so a 10,000-series ×
    * k-candidate sweep is still ONE plan. Combined coefficients are
    * pinned at 6dp (σ² at 3dp) before the forecast recursion on both
    * sides — the AR(2) fit is Gaussian elimination on the engine and
    * a Cramer solve in the oracle (~1e-11 apart), and the pin keeps
    * the recursion inputs bit-identical rather than hoping 1e-11
    * never straddles a metric rounding boundary.
    */
  private val d12MultiSelect: Q = (s, d) => {
    import s.implicits._
    val fleet = Tables.events(s, d).select(
      col("event_type").as("sid"),
      col("ts").cast("double").as("time"), col("value"))
    val counts = fleet.groupBy(col("sid")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty)
      Seq.empty[(String, Int, Double, Double, Double)]
        .toDF("sid", "best_p", "mean_mase", "mean_smape", "delta_mase")
    else d12Body(s, fleet, counts)
  }

  private def d12Body(s: SparkSession,
      fleet: DataFrame, counts: Map[String, Long]): DataFrame = {
    import s.implicits._
    val hBySid = counts.map { case (sid, n) =>
      sid -> math.max(24L, n / 10).toInt
    }
    val maxH = hBySid.values.max
    // tails fetched TWO rows deeper than the test window: both
    // forecast seeds (y0 = last train value, ym1 = the one before)
    // fall out of the same collected tail — previously a second
    // series_tail(2) aggregate pass over `train` (+ shuffle join)
    val tailsFull = Darima.tailsMany(
      fleet.select(col("sid"), col("time").as("t"),
        col("value").as("v")), maxH + 2)
    val tails = tailsFull
      .map { case (sid, tl) => sid -> tl.takeRight(hBySid(sid)) }
    val cutDf = tails.toSeq.map { case (sid, tl) => (sid, tl.head._1) }
      .toDF("sid", "__cut")
    val test = tails.toSeq.flatMap { case (sid, tl) =>
      tl.zipWithIndex.map { case ((_, v), i) => (sid, i + 1, v) }
    }.toDF("sid", "step", "actual")
    val train = fleet.join(broadcast(cutDf), "sid")
      .filter(col("time") < col("__cut"))
      .select(col("sid"), col("time"), col("value"))
    val trainNamed = train.select(col("sid"), col("time").as("t"),
      col("value").as("v"))
    // a series without two train rows (n < h + 2) has no AR(2) seed
    // and is omitted from the selection, exactly the previous
    // size(tl) = 2 filter (mirrored by the oracle's HAVING count = 2)
    val seeds = tailsFull.toSeq.collect {
      case (sid, tl) if tl.length > hBySid(sid) + 1 =>
        (sid, tl(tl.length - hBySid(sid) - 1)._2,
          tl(tl.length - hBySid(sid) - 2)._2)
    }.toDF("sid", "y0", "ym1")
    // BOTH candidate orders fitted in ONE chunk+fit pass (the chunk
    // rows shuffle, buffer and time-sort once; fitOneChunk runs per
    // tagged config) and combined in ONE hash aggregate with the
    // candidate tag on the group key — previously two full passes
    val gm = Darima.combineManyTagged(
      Darima.fitChunkCoefsManyTagged(s, train,
        Seq(1 -> cfgOls1, 2 -> cfgOls2)), "dlsa")
    val models = gm.groupBy(col("sid"), col("p")).agg(
        round(max(when(col("coef") === "beta0", col("value"))), 6)
          .as("c"),
        round(max(when(col("coef") === "ar1", col("value"))), 6)
          .as("p1"),
        round(max(when(col("coef") === "ar2", col("value"))), 6)
          .as("p2r"),
        round(max(when(col("coef") === "sigma2", col("value"))), 3)
          .as("sig"))
      // order 1 rides with p2 = 0.0 exactly (the fit emits no ar2
      // row), matching the previous per-order max(lit(0.0)) column
      .withColumn("p2",
        when(col("p") === 1, lit(0.0)).otherwise(col("p2r")))
      .drop("p2r")
    val hFor = hBySid
    val fcRows = models.join(broadcast(seeds), "sid")
      .filter(col("c").isNotNull && col("p1").isNotNull &&
        col("p2").isNotNull && col("sig").isNotNull)
      .select(col("sid"), col("p"), col("c"), col("p1"), col("p2"),
        col("sig"), col("y0"), col("ym1"))
      .as[(String, Int, Double, Double, Double, Double, Double, Double)]
      .flatMap { case (sid, p, c, p1, p2, sig, y0, ym1) =>
        // the d10/d11 recursion generalized to order 2 (order 1 rides
        // with p2 = 0 — same float ops, + 0.0 is exact): carry the
        // last two means and ψ-weights
        var m = y0; var mp = ym1
        var psi = 1.0; var psip = 0.0; var cum = 0.0
        (1 to hFor(sid)).map { step =>
          val m1 = c + p1 * m + p2 * mp
          val cum1 = cum + psi * psi
          val psi1 = p1 * psi + p2 * psip
          psip = psi; psi = psi1; mp = m; m = m1; cum = cum1
          (sid, p, step, m1, math.sqrt(sig * cum1))
        }
      }
      .toDF("sid", "p", "step", "m", "se")
    val scDf = Darima.seasonalNaiveScaleManyDF(trainNamed, cfgOls1.freq)
      .toSeq.toDF("sid", "sc")
    val per = fcRows.join(test, Seq("sid", "step"))
      .join(broadcast(scDf), "sid")
      .groupBy(col("sid"), col("p"))
      .agg(
        round(avg(abs(col("actual") - col("m")) / col("sc")), 6)
          .as("mean_mase"),
        round(avg(when((abs(col("actual")) + abs(col("m"))) / 2 === 0,
          lit(0.0)).otherwise(abs(col("actual") - col("m")) /
            ((abs(col("actual")) + abs(col("m"))) / 2))), 6)
          .as("mean_smape"))
    per.groupBy(col("sid"))
      .agg(
        min(struct(col("mean_mase"), col("p"), col("mean_smape")))
          .as("best"),
        round(max(col("mean_mase")) - min(col("mean_mase")), 6)
          .as("delta_mase"))
      .select(col("sid"), col("best.p").as("best_p"),
        col("best.mean_mase").as("mean_mase"),
        col("best.mean_smape").as("mean_smape"), col("delta_mase"))
      .orderBy(col("sid"))
  }

  val queries: Map[String, Q] = Map(
    "d01_chunk_coefs" -> d01ChunkCoefs,
    "d02_global_coefs" -> d02GlobalCoefs,
    "d03_forecast" -> d03Forecast,
    "d04_forecast_eval" -> d04ForecastEval,
    "d05_ar1_ols" -> d05Ar1Ols,
    "d06_fit_aggregator" -> d06FitAggregator,
    "d07_fitted_residuals" -> d07FittedResiduals,
    "d08_harmonic_fit" -> d08HarmonicFit,
    "d09_multiseries" -> d09Multiseries,
    "d10_multiseries_forecast" -> d10MultiForecast,
    "d11_multiseries_eval" -> d11MultiEval,
    "d12_multiseries_select" -> d12MultiSelect,
  )

  // ---------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------

  /** Per-ntile-chunk OLS AR(2) fit by Cramer's rule on the 3×3 normal
    * equations  [n Σx1 Σx2; Σx1 Σx1² Σx1x2; Σx2 Σx1x2 Σx2²]·β =
    * [Σy; Σx1y; Σx2y], then σ² = SSE/(nr−3). Produces one row per
    * (chunk, coefficient) in the pipeline's (coef, lag_idx) layout.
    */
  private val ar2FitCtes: String =
    """bounds AS (
      |  SELECT min(epoch(ts)) AS tmin, max(epoch(ts)) AS tmax FROM events
      |), ordered AS (
      |  SELECT value, epoch(ts) AS t,
      |         least(CAST(floor((epoch(ts) - b.tmin)
      |                          / (b.tmax - b.tmin) * 4) AS INT), 3)
      |           AS chunk_id
      |  FROM events, bounds b
      |), lagged AS (
      |  SELECT chunk_id, value AS y,
      |         lag(value, 1) OVER (PARTITION BY chunk_id ORDER BY t) AS x1,
      |         lag(value, 2) OVER (PARTITION BY chunk_id ORDER BY t) AS x2
      |  FROM ordered
      |), base AS (
      |  SELECT chunk_id, y, x1, x2 FROM lagged WHERE x2 IS NOT NULL
      |), sums AS (
      |  SELECT chunk_id, CAST(count(*) AS DOUBLE) AS nr,
      |         sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
      |         sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
      |         sum(x1*y) AS s1y, sum(x2*y) AS s2y
      |  FROM base GROUP BY chunk_id
      |), params AS (
      |  SELECT chunk_id, nr,
      |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
      |       + s2*(s1y*s12 - s11*s2y))
      |    / (nr*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
      |       + s2*(s1*s12 - s11*s2)) AS b0,
      |    (nr*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
      |       + s2*(s1*s2y - s1y*s2))
      |    / (nr*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
      |       + s2*(s1*s12 - s11*s2)) AS p1,
      |    (nr*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
      |       + sy*(s1*s12 - s11*s2))
      |    / (nr*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
      |       + s2*(s1*s12 - s11*s2)) AS p2
      |  FROM sums
      |), fit AS (
      |  SELECT p.chunk_id, p.nr + 2 AS n, p.b0, p.p1, p.p2,
      |         sum((b.y - p.b0 - p.p1*b.x1 - p.p2*b.x2)
      |             * (b.y - p.b0 - p.p1*b.x1 - p.p2*b.x2))
      |           / (p.nr - 3) AS sig
      |  FROM base b JOIN params p ON b.chunk_id = p.chunk_id
      |  GROUP BY p.chunk_id, p.nr, p.b0, p.p1, p.p2
      |), rows_out AS (
      |  SELECT chunk_id, 'beta0' AS coef, -2 AS lag_idx, round(b0, 6) AS value
      |  FROM fit
      |  UNION ALL
      |  SELECT chunk_id, 'beta1', -1, CAST(0.0 AS DOUBLE) FROM fit
      |  UNION ALL
      |  SELECT chunk_id, 'sigma2', 2147483647, round(sig, 3) FROM fit
      |  UNION ALL
      |  SELECT chunk_id, 'ar1', 1, round(p1, 6) FROM fit
      |  UNION ALL
      |  SELECT chunk_id, 'ar2', 2, round(p2, 6) FROM fit
      |)""".stripMargin

  private val d01Sql: String =
    s"""WITH $ar2FitCtes
       |SELECT chunk_id, coef, lag_idx, value FROM rows_out
       |ORDER BY chunk_id, lag_idx""".stripMargin

  /** DLSA combine over the per-chunk fits: w_k = n_k/σ²_k. */
  private val d02Sql: String =
    s"""WITH $ar2FitCtes, w AS (
       |  SELECT chunk_id, n, b0, p1, p2, sig, n / sig AS wt FROM fit
       |)
       |SELECT coef, lag_idx, value FROM (
       |  SELECT 'beta0' AS coef, -2 AS lag_idx,
       |         round(sum(b0*wt)/sum(wt), 6) AS value FROM w
       |  UNION ALL
       |  SELECT 'beta1', -1, CAST(0.0 AS DOUBLE)
       |  UNION ALL
       |  SELECT 'sigma2', 2147483647, round(sum(n)/sum(wt), 3) FROM w
       |  UNION ALL
       |  SELECT 'ar1', 1, round(sum(p1*wt)/sum(wt), 6) FROM w
       |  UNION ALL
       |  SELECT 'ar2', 2, round(sum(p2*wt)/sum(wt), 6) FROM w
       |) ORDER BY lag_idx""".stripMargin

  /** AR(1) fit CTEs (the d03/d04 building block): same shape as d05's
    * 2×2 closed form, per ntile chunk over a `src(t, value)` relation
    * ordered by t.
    */
  private def ar1FitCtes(src: String): String =
    s"""bounds1 AS (
       |  SELECT min(t) AS tmin, max(t) AS tmax FROM $src
       |), ordered1 AS (
       |  SELECT value, t,
       |         least(CAST(floor((t - b.tmin)
       |                          / (b.tmax - b.tmin) * 4) AS INT), 3)
       |           AS chunk_id
       |  FROM $src, bounds1 b
       |), lagged1 AS (
       |  SELECT chunk_id, value AS y,
       |         lag(value) OVER (PARTITION BY chunk_id ORDER BY t) AS x
       |  FROM ordered1
       |), base1 AS (
       |  SELECT chunk_id, y, x FROM lagged1 WHERE x IS NOT NULL
       |), sums1 AS (
       |  SELECT chunk_id, CAST(count(*) AS DOUBLE) AS nr,
       |         sum(x) AS sx, sum(y) AS sy,
       |         sum(x*y) AS sxy, sum(x*x) AS sxx
       |  FROM base1 GROUP BY chunk_id
       |), params1 AS (
       |  SELECT chunk_id, nr,
       |         (nr*sxy - sx*sy) / (nr*sxx - sx*sx) AS phi,
       |         (sy - ((nr*sxy - sx*sy) / (nr*sxx - sx*sx)) * sx) / nr AS c
       |  FROM sums1
       |), fit1 AS (
       |  SELECT p.chunk_id, p.nr + 1 AS n, p.c, p.phi,
       |         sum((b.y - p.c - p.phi*b.x) * (b.y - p.c - p.phi*b.x))
       |           / (p.nr - 2) AS sig
       |  FROM base1 b JOIN params1 p ON b.chunk_id = p.chunk_id
       |  GROUP BY p.chunk_id, p.nr, p.c, p.phi
       |), gmod AS (
       |  SELECT sum(c * (n/sig)) / sum(n/sig) AS c,
       |         sum(phi * (n/sig)) / sum(n/sig) AS phi,
       |         sum(n) / sum(n/sig) AS sig
       |  FROM fit1
       |)""".stripMargin

  /** Probit constants as the driver computes them (commons-math3
    * inverse normal CDF printed via Double.toString).
    */
  private val z80 = "CAST('1.2815515655446008' AS DOUBLE)"
  private val z95 = "CAST('1.959963984540054' AS DOUBLE)"

  /** The forecast recursion, replayed exactly: row s carries
    * mean_s = c + φ·mean_{s−1}, ψ_s = φ·ψ_{s−1} (ψ_0 = 1), and
    * cum_s = cum_{s−1} + ψ_{s−1}² — the same left-associated float
    * sequence as Forecast.forecast/psiWeights, so the recursive CTE
    * tracks the Scala recursion bit for bit before rounding.
    */
  private val d03Sql: String =
    s"""WITH RECURSIVE src AS (
       |  SELECT epoch(ts) AS t, value FROM events
       |), ${ar1FitCtes("src")}, tail AS (
       |  SELECT value AS y0 FROM src ORDER BY t DESC LIMIT 1
       |), fc AS (
       |  -- the model scalars ride INSIDE the recursion rows: a
       |  -- recursive term that references an upstream CTE re-runs
       |  -- that CTE's whole subtree every iteration
       |  SELECT 0 AS step, CAST(y0 AS DOUBLE) AS m,
       |         CAST(1.0 AS DOUBLE) AS psi, CAST(0.0 AS DOUBLE) AS cum,
       |         g.c AS c, g.phi AS phi, g.sig AS sig
       |  FROM tail, gmod g
       |  UNION ALL
       |  SELECT step + 1, c + phi * m, phi * psi, cum + psi * psi,
       |         c, phi, sig
       |  FROM fc WHERE step < 48
       |)
       |SELECT step,
       |       round(m, 4) AS mean,
       |       round(sqrt(sig * cum), 4) AS se,
       |       round(m - $z80 * sqrt(sig * cum), 4) AS lo80,
       |       round(m + $z80 * sqrt(sig * cum), 4) AS hi80,
       |       round(m - $z95 * sqrt(sig * cum), 4) AS lo95,
       |       round(m + $z95 * sqrt(sig * cum), 4) AS hi95
       |FROM fc
       |WHERE step >= 1
       |ORDER BY step""".stripMargin

  /** Train/test split at the (n−h)-th timestamp, AR(1) pipeline on
    * the train prefix, metric means over the h-step test tail —
    * MASE/MSIS scaled by the train's seasonal-naïve MAE (lag 24).
    */
  private val d04Sql: String =
    s"""WITH RECURSIVE allrows AS (
       |  SELECT epoch(ts) AS t, value,
       |         row_number() OVER (ORDER BY ts) AS rn,
       |         count(*) OVER () AS n
       |  FROM events
       |), split AS (
       |  SELECT greatest(24, n // 10) AS ntest, n FROM allrows LIMIT 1
       |), src AS (
       |  SELECT a.t, a.value FROM allrows a, split s
       |  WHERE a.rn <= a.n - s.ntest
       |), ${ar1FitCtes("src")}, tail AS (
       |  SELECT value AS y0 FROM src ORDER BY t DESC LIMIT 1
       |), fc AS (
       |  -- scalars ride inside the rows (see d03): a recursive term
       |  -- referencing gmod/split would re-run the fit per iteration
       |  SELECT 0 AS step, CAST(y0 AS DOUBLE) AS m,
       |         CAST(1.0 AS DOUBLE) AS psi, CAST(0.0 AS DOUBLE) AS cum,
       |         g.c AS c, g.phi AS phi, g.sig AS sig, s.ntest AS ntest
       |  FROM tail, gmod g, split s
       |  UNION ALL
       |  SELECT step + 1, c + phi * m, phi * psi, cum + psi * psi,
       |         c, phi, sig, ntest
       |  FROM fc WHERE step < ntest
       |), scale AS (
       |  SELECT avg(abs(d)) AS sc FROM (
       |    SELECT value - lag(value, 24) OVER (ORDER BY t) AS d FROM src
       |  ) WHERE d IS NOT NULL
       |), joined AS (
       |  SELECT a.value AS actual, f.m,
       |         sqrt(f.sig * f.cum) AS se
       |  FROM allrows a, split s, fc f
       |  WHERE a.rn > a.n - s.ntest
       |    AND f.step = a.rn - (a.n - s.ntest)
       |)
       |SELECT
       |  round(avg(abs(actual - m) / sc), 6) AS mean_mase,
       |  round(avg(CASE WHEN (abs(actual) + abs(m)) / 2 = 0 THEN 0
       |            ELSE abs(actual - m) / ((abs(actual) + abs(m)) / 2)
       |            END), 6) AS mean_smape,
       |  round(avg((
       |      ((m + $z80 * se) - (m - $z80 * se))
       |      + CASE WHEN actual < (m - $z80 * se)
       |          THEN (2 / 0.2) * ((m - $z80 * se) - actual) ELSE 0 END
       |      + CASE WHEN actual > (m + $z80 * se)
       |          THEN (2 / 0.2) * (actual - (m + $z80 * se)) ELSE 0 END
       |    ) / sc), 6) AS mean_msis_80,
       |  round(avg((
       |      ((m + $z95 * se) - (m - $z95 * se))
       |      + CASE WHEN actual < (m - $z95 * se)
       |          THEN (2 / 0.05) * ((m - $z95 * se) - actual) ELSE 0 END
       |      + CASE WHEN actual > (m + $z95 * se)
       |          THEN (2 / 0.05) * (actual - (m + $z95 * se)) ELSE 0 END
       |    ) / sc), 6) AS mean_msis_95,
       |  CAST(max(s2.ntest) AS INT) AS h
       |FROM joined, scale, split s2""".stripMargin

  /** Global-model fitted values: the d01 fit + d02 combine feed a
    * lag-window projection — fitted = (b0 + p1·y_{t−1}) + p2·y_{t−2}
    * (same association order as the Scala fold), null for the first
    * p rows.
    */
  private val d07Sql: String =
    s"""WITH $ar2FitCtes, w AS (
       |  SELECT chunk_id, n, b0, p1, p2, sig, n / sig AS wt FROM fit
       |), gm AS (
       |  SELECT sum(b0*wt)/sum(wt) AS b0, sum(p1*wt)/sum(wt) AS p1,
       |         sum(p2*wt)/sum(wt) AS p2
       |  FROM w
       |), ser AS (
       |  SELECT epoch(ts) AS t, value,
       |         lag(value, 1) OVER (ORDER BY ts) AS x1,
       |         lag(value, 2) OVER (ORDER BY ts) AS x2
       |  FROM events
       |)
       |SELECT s.t, s.value AS v,
       |  round(CASE WHEN s.x2 IS NULL THEN NULL
       |        ELSE (g.b0 + g.p1*s.x1) + g.p2*s.x2 END, 3) AS fitted,
       |  round(CASE WHEN s.x2 IS NULL THEN NULL
       |        ELSE s.value - ((g.b0 + g.p1*s.x1) + g.p2*s.x2) END, 3)
       |    AS residual
       |FROM ser s, gm g
       |ORDER BY s.t""".stripMargin

  /** d08 oracle: the same nine sums and first-column Cramer
    * expansion, term for term.
    */
  private val d08Sql: String =
    """WITH tr AS (
      |  SELECT value AS y,
      |    cos((epoch(ts) - floor(epoch(ts) / 86400.0) * 86400.0)
      |        * (2.0 * pi() / 86400.0)) AS cx,
      |    sin((epoch(ts) - floor(epoch(ts) / 86400.0) * 86400.0)
      |        * (2.0 * pi() / 86400.0)) AS sx
      |  FROM events
      |), s AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    sum(cx) AS sc, sum(sx) AS ss,
      |    sum(cx * cx) AS scc, sum(sx * sx) AS sss,
      |    sum(cx * sx) AS scs,
      |    sum(y) AS sy, sum(y * cx) AS syc, sum(y * sx) AS sys
      |  FROM tr
      |)
      |SELECT CAST(n AS BIGINT) AS n,
      |  round((sy * (scc * sss - scs * scs) -
      |         syc * (sc * sss - ss * scs) +
      |         sys * (sc * scs - ss * scc)) /
      |        (n * (scc * sss - scs * scs) -
      |         sc * (sc * sss - ss * scs) +
      |         ss * (sc * scs - ss * scc)), 6) AS level,
      |  round((n * (syc * sss - scs * sys) -
      |         sc * (sy * sss - ss * sys) +
      |         ss * (sy * scs - ss * syc)) /
      |        (n * (scc * sss - scs * scs) -
      |         sc * (sc * sss - ss * scs) +
      |         ss * (sc * scs - ss * scc)), 6) AS cos_coef,
      |  round((n * (scc * sys - syc * scs) -
      |         sc * (sc * sys - sy * scs) +
      |         ss * (sc * syc - sy * scc)) /
      |        (n * (scc * sss - scs * scs) -
      |         sc * (sc * sss - ss * scs) +
      |         ss * (sc * scs - ss * scc)), 6) AS sin_coef
      |FROM s""".stripMargin

  /** d09 oracle: the d01 fit + d02 combine CTEs with the series key
    * (event_type) threaded through every group/partition — same
    * Cramer AR(2) closed form, same DLSA weighting, same float-op
    * order as the single-series oracles.
    */
  private val d09Sql: String =
    """WITH bounds AS (
      |  SELECT event_type AS sid, min(epoch(ts)) AS tmin,
      |         max(epoch(ts)) AS tmax
      |  FROM events GROUP BY 1
      |), ordered AS (
      |  SELECT e.event_type AS sid, e.value, epoch(e.ts) AS t,
      |         CASE WHEN b.tmax <= b.tmin THEN 0
      |              ELSE least(CAST(floor((epoch(e.ts) - b.tmin)
      |                               / (b.tmax - b.tmin) * 4) AS INT), 3)
      |         END AS chunk_id
      |  FROM events e JOIN bounds b ON b.sid = e.event_type
      |), lagged AS (
      |  SELECT sid, chunk_id, value AS y,
      |         lag(value, 1) OVER (PARTITION BY sid, chunk_id
      |                             ORDER BY t) AS x1,
      |         lag(value, 2) OVER (PARTITION BY sid, chunk_id
      |                             ORDER BY t) AS x2
      |  FROM ordered
      |), base AS (
      |  SELECT sid, chunk_id, y, x1, x2 FROM lagged WHERE x2 IS NOT NULL
      |), sums AS (
      |  SELECT sid, chunk_id, CAST(count(*) AS DOUBLE) AS nr,
      |         sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
      |         sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
      |         sum(x1*y) AS s1y, sum(x2*y) AS s2y
      |  FROM base GROUP BY sid, chunk_id
      |), params AS (
      |  SELECT sid, chunk_id, nr,
      |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
      |       + s2*(s1y*s12 - s11*s2y))
      |    / (nr*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
      |       + s2*(s1*s12 - s11*s2)) AS b0,
      |    (nr*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
      |       + s2*(s1*s2y - s1y*s2))
      |    / (nr*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
      |       + s2*(s1*s12 - s11*s2)) AS p1,
      |    (nr*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
      |       + sy*(s1*s12 - s11*s2))
      |    / (nr*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
      |       + s2*(s1*s12 - s11*s2)) AS p2
      |  FROM sums
      |), fit AS (
      |  SELECT p.sid, p.chunk_id, p.nr + 2 AS n, p.b0, p.p1, p.p2,
      |         sum((b.y - p.b0 - p.p1*b.x1 - p.p2*b.x2)
      |             * (b.y - p.b0 - p.p1*b.x1 - p.p2*b.x2))
      |           / (p.nr - 3) AS sig
      |  FROM base b
      |  JOIN params p ON b.sid = p.sid AND b.chunk_id = p.chunk_id
      |  GROUP BY p.sid, p.chunk_id, p.nr, p.b0, p.p1, p.p2
      |), w AS (
      |  SELECT sid, n, b0, p1, p2, sig, n / sig AS wt FROM fit
      |)
      |SELECT sid, coef, lag_idx, value FROM (
      |  SELECT sid, 'beta0' AS coef, -2 AS lag_idx,
      |         round(sum(b0*wt)/sum(wt), 6) AS value FROM w GROUP BY sid
      |  UNION ALL
      |  SELECT sid, 'beta1', -1, CAST(0.0 AS DOUBLE) FROM w GROUP BY sid
      |  UNION ALL
      |  SELECT sid, 'sigma2', 2147483647, round(sum(n)/sum(wt), 3)
      |  FROM w GROUP BY sid
      |  UNION ALL
      |  SELECT sid, 'ar1', 1, round(sum(p1*wt)/sum(wt), 6)
      |  FROM w GROUP BY sid
      |  UNION ALL
      |  SELECT sid, 'ar2', 2, round(sum(p2*wt)/sum(wt), 6)
      |  FROM w GROUP BY sid
      |) ORDER BY sid, lag_idx""".stripMargin

  /** d10 oracle: the keyed AR(1) fit (the d09 chunk/combine chain at
    * p = 1) feeding a per-sid recursive CTE — every series' forecast
    * recursion advances in lockstep, scalars riding inside the rows
    * (the d03 rule: a recursive term referencing an upstream CTE
    * re-runs its subtree per iteration).
    */
  private val d10Sql: String =
    s"""WITH RECURSIVE bounds AS (
       |  SELECT event_type AS sid, min(epoch(ts)) AS tmin,
       |         max(epoch(ts)) AS tmax
       |  FROM events GROUP BY 1
       |), ordered AS (
       |  SELECT e.event_type AS sid, e.value, epoch(e.ts) AS t,
       |         CASE WHEN b.tmax <= b.tmin THEN 0
       |              ELSE least(CAST(floor((epoch(e.ts) - b.tmin)
       |                               / (b.tmax - b.tmin) * 4) AS INT), 3)
       |         END AS chunk_id
       |  FROM events e JOIN bounds b ON b.sid = e.event_type
       |), lagged AS (
       |  SELECT sid, chunk_id, value AS y,
       |         lag(value) OVER (PARTITION BY sid, chunk_id
       |                          ORDER BY t) AS x
       |  FROM ordered
       |), base AS (
       |  SELECT sid, chunk_id, y, x FROM lagged WHERE x IS NOT NULL
       |), sums AS (
       |  SELECT sid, chunk_id, CAST(count(*) AS DOUBLE) AS nr,
       |         sum(x) AS sx, sum(y) AS sy,
       |         sum(x*y) AS sxy, sum(x*x) AS sxx
       |  FROM base GROUP BY sid, chunk_id
       |), params AS (
       |  SELECT sid, chunk_id, nr,
       |         (nr*sxy - sx*sy) / (nr*sxx - sx*sx) AS phi,
       |         (sy - ((nr*sxy - sx*sy) / (nr*sxx - sx*sx)) * sx) / nr
       |           AS c
       |  FROM sums
       |), fit AS (
       |  SELECT p.sid, p.chunk_id, p.nr + 1 AS n, p.c, p.phi,
       |         sum((b.y - p.c - p.phi*b.x) * (b.y - p.c - p.phi*b.x))
       |           / (p.nr - 2) AS sig
       |  FROM base b
       |  JOIN params p ON b.sid = p.sid AND b.chunk_id = p.chunk_id
       |  GROUP BY p.sid, p.chunk_id, p.nr, p.c, p.phi
       |), gmod AS (
       |  SELECT sid, sum(c * (n/sig)) / sum(n/sig) AS c,
       |         sum(phi * (n/sig)) / sum(n/sig) AS phi,
       |         sum(n) / sum(n/sig) AS sig
       |  FROM fit GROUP BY sid
       |), tail AS (
       |  SELECT sid, value AS y0 FROM (
       |    SELECT sid, value, row_number()
       |      OVER (PARTITION BY sid ORDER BY t DESC) AS rn
       |    FROM ordered
       |  ) WHERE rn = 1
       |), fc AS (
       |  SELECT g.sid, 0 AS step, CAST(t.y0 AS DOUBLE) AS m,
       |         CAST(1.0 AS DOUBLE) AS psi, CAST(0.0 AS DOUBLE) AS cum,
       |         g.c AS c, g.phi AS phi, g.sig AS sig
       |  FROM tail t JOIN gmod g ON g.sid = t.sid
       |  WHERE g.c IS NOT NULL AND g.phi IS NOT NULL
       |    AND g.sig IS NOT NULL AND t.y0 IS NOT NULL
       |  UNION ALL
       |  SELECT sid, step + 1, c + phi * m, phi * psi, cum + psi * psi,
       |         c, phi, sig
       |  FROM fc WHERE step < 24
       |)
       |SELECT sid, step,
       |       round(m, 4) AS mean,
       |       round(sqrt(sig * cum), 4) AS se,
       |       round(m - $z80 * sqrt(sig * cum), 4) AS lo80,
       |       round(m + $z80 * sqrt(sig * cum), 4) AS hi80,
       |       round(m - $z95 * sqrt(sig * cum), 4) AS lo95,
       |       round(m + $z95 * sqrt(sig * cum), 4) AS hi95
       |FROM fc
       |WHERE step >= 1
       |ORDER BY sid, step""".stripMargin

  /** d11 oracle: d04's split/fit/recursion/metric chain with the
    * series key threaded through every group — keyed AR(1) fit on
    * the per-sid train prefix, per-sid recursive forecast bounded by
    * each series' own ntest, per-sid seasonal-naïve scale, grouped
    * metric means.
    */
  private val d11Sql: String =
    s"""WITH RECURSIVE allrows AS (
       |  SELECT event_type AS sid, epoch(ts) AS t, value,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY ts) AS rn,
       |         count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events
       |), split AS (
       |  SELECT DISTINCT sid, n, greatest(24, n // 10) AS ntest
       |  FROM allrows
       |), src AS (
       |  SELECT a.sid, a.t, a.value
       |  FROM allrows a JOIN split s ON s.sid = a.sid
       |  WHERE a.rn <= a.n - s.ntest
       |), bounds AS (
       |  SELECT sid, min(t) AS tmin, max(t) AS tmax FROM src GROUP BY 1
       |), ordered AS (
       |  SELECT e.sid, e.value, e.t,
       |         CASE WHEN b.tmax <= b.tmin THEN 0
       |              ELSE least(CAST(floor((e.t - b.tmin)
       |                               / (b.tmax - b.tmin) * 4) AS INT), 3)
       |         END AS chunk_id
       |  FROM src e JOIN bounds b ON b.sid = e.sid
       |), lagged AS (
       |  SELECT sid, chunk_id, value AS y,
       |         lag(value) OVER (PARTITION BY sid, chunk_id
       |                          ORDER BY t) AS x
       |  FROM ordered
       |), base AS (
       |  SELECT sid, chunk_id, y, x FROM lagged WHERE x IS NOT NULL
       |), sums AS (
       |  SELECT sid, chunk_id, CAST(count(*) AS DOUBLE) AS nr,
       |         sum(x) AS sx, sum(y) AS sy,
       |         sum(x*y) AS sxy, sum(x*x) AS sxx
       |  FROM base GROUP BY sid, chunk_id
       |), params AS (
       |  SELECT sid, chunk_id, nr,
       |         (nr*sxy - sx*sy) / (nr*sxx - sx*sx) AS phi,
       |         (sy - ((nr*sxy - sx*sy) / (nr*sxx - sx*sx)) * sx) / nr
       |           AS c
       |  FROM sums
       |), fit AS (
       |  SELECT p.sid, p.chunk_id, p.nr + 1 AS n, p.c, p.phi,
       |         sum((b.y - p.c - p.phi*b.x) * (b.y - p.c - p.phi*b.x))
       |           / (p.nr - 2) AS sig
       |  FROM base b
       |  JOIN params p ON b.sid = p.sid AND b.chunk_id = p.chunk_id
       |  GROUP BY p.sid, p.chunk_id, p.nr, p.c, p.phi
       |), gmod AS (
       |  SELECT sid, sum(c * (n/sig)) / sum(n/sig) AS c,
       |         sum(phi * (n/sig)) / sum(n/sig) AS phi,
       |         sum(n) / sum(n/sig) AS sig
       |  FROM fit GROUP BY sid
       |), tail AS (
       |  SELECT sid, value AS y0 FROM (
       |    SELECT sid, value, row_number()
       |      OVER (PARTITION BY sid ORDER BY t DESC) AS rn
       |    FROM src
       |  ) WHERE rn = 1
       |), fc AS (
       |  SELECT g.sid, 0 AS step, CAST(t.y0 AS DOUBLE) AS m,
       |         CAST(1.0 AS DOUBLE) AS psi, CAST(0.0 AS DOUBLE) AS cum,
       |         g.c AS c, g.phi AS phi, g.sig AS sig, s.ntest AS ntest
       |  FROM tail t
       |  JOIN gmod g ON g.sid = t.sid
       |  JOIN split s ON s.sid = t.sid
       |  UNION ALL
       |  SELECT sid, step + 1, c + phi * m, phi * psi, cum + psi * psi,
       |         c, phi, sig, ntest
       |  FROM fc WHERE step < ntest
       |), scale AS (
       |  SELECT sid, avg(abs(d)) AS sc FROM (
       |    SELECT sid, value - lag(value, 24)
       |      OVER (PARTITION BY sid ORDER BY t) AS d
       |    FROM src
       |  ) WHERE d IS NOT NULL GROUP BY sid
       |), joined AS (
       |  SELECT a.sid, a.value AS actual, f.m,
       |         sqrt(f.sig * f.cum) AS se, sc.sc
       |  FROM allrows a
       |  JOIN split s ON s.sid = a.sid
       |  JOIN fc f ON f.sid = a.sid
       |    AND f.step = a.rn - (a.n - s.ntest)
       |  JOIN scale sc ON sc.sid = a.sid
       |  WHERE a.rn > a.n - s.ntest
       |)
       |SELECT j.sid,
       |  round(avg(abs(actual - m) / sc), 6) AS mean_mase,
       |  round(avg(CASE WHEN (abs(actual) + abs(m)) / 2 = 0 THEN 0
       |            ELSE abs(actual - m) / ((abs(actual) + abs(m)) / 2)
       |            END), 6) AS mean_smape,
       |  round(avg((
       |      ((m + $z80 * se) - (m - $z80 * se))
       |      + CASE WHEN actual < (m - $z80 * se)
       |          THEN (2 / 0.2) * ((m - $z80 * se) - actual) ELSE 0 END
       |      + CASE WHEN actual > (m + $z80 * se)
       |          THEN (2 / 0.2) * (actual - (m + $z80 * se)) ELSE 0 END
       |    ) / sc), 6) AS mean_msis_80,
       |  round(avg((
       |      ((m + $z95 * se) - (m - $z95 * se))
       |      + CASE WHEN actual < (m - $z95 * se)
       |          THEN (2 / 0.05) * ((m - $z95 * se) - actual) ELSE 0 END
       |      + CASE WHEN actual > (m + $z95 * se)
       |          THEN (2 / 0.05) * (actual - (m + $z95 * se)) ELSE 0 END
       |    ) / sc), 6) AS mean_msis_95,
       |  CAST(max(s2.ntest) AS INT) AS h
       |FROM joined j JOIN split s2 ON s2.sid = j.sid
       |GROUP BY j.sid
       |ORDER BY j.sid""".stripMargin

  /** d12 oracle: the d11 backtest chain with BOTH candidate orders —
    * the d10-style AR(1) closed form and the d09-style AR(2) Cramer
    * solve, each DLSA-combined per sid, 6dp/3dp-pinned (matching the
    * engine's pin — see d12MultiSelect), unioned into one `models`
    * relation whose (sid, p) rows advance through ONE shared
    * recursion (scalars ride in rows; the recursive arm references
    * only `fc`), then per-(sid, p) metric means and the
    * argmin-(mase, p) pick.
    */
  private val d12Sql: String =
    s"""WITH RECURSIVE allrows AS (
       |  SELECT event_type AS sid, epoch(ts) AS t, value,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY ts) AS rn,
       |         count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events
       |), split AS (
       |  SELECT DISTINCT sid, n, greatest(24, n // 10) AS ntest
       |  FROM allrows
       |), src AS (
       |  SELECT a.sid, a.t, a.value
       |  FROM allrows a JOIN split s ON s.sid = a.sid
       |  WHERE a.rn <= a.n - s.ntest
       |), bounds AS (
       |  SELECT sid, min(t) AS tmin, max(t) AS tmax FROM src GROUP BY 1
       |), ordered AS (
       |  SELECT e.sid, e.value, e.t,
       |         CASE WHEN b.tmax <= b.tmin THEN 0
       |              ELSE least(CAST(floor((e.t - b.tmin)
       |                               / (b.tmax - b.tmin) * 4) AS INT), 3)
       |         END AS chunk_id
       |  FROM src e JOIN bounds b ON b.sid = e.sid
       |), lagged AS (
       |  SELECT sid, chunk_id, value AS y,
       |         lag(value, 1) OVER (PARTITION BY sid, chunk_id
       |                             ORDER BY t) AS x1,
       |         lag(value, 2) OVER (PARTITION BY sid, chunk_id
       |                             ORDER BY t) AS x2
       |  FROM ordered
       |), base1 AS (
       |  SELECT sid, chunk_id, y, x1 FROM lagged WHERE x1 IS NOT NULL
       |), base2 AS (
       |  SELECT sid, chunk_id, y, x1, x2 FROM lagged WHERE x2 IS NOT NULL
       |), sums1 AS (
       |  SELECT sid, chunk_id, CAST(count(*) AS DOUBLE) AS nr,
       |         sum(x1) AS sx, sum(y) AS sy,
       |         sum(x1*y) AS sxy, sum(x1*x1) AS sxx
       |  FROM base1 GROUP BY sid, chunk_id
       |), params1 AS (
       |  SELECT sid, chunk_id, nr,
       |         (nr*sxy - sx*sy) / (nr*sxx - sx*sx) AS phi,
       |         (sy - ((nr*sxy - sx*sy) / (nr*sxx - sx*sx)) * sx) / nr
       |           AS c
       |  FROM sums1
       |), fit1 AS (
       |  SELECT p.sid, p.chunk_id, p.nr + 1 AS n, p.c, p.phi,
       |         sum((b.y - p.c - p.phi*b.x1) * (b.y - p.c - p.phi*b.x1))
       |           / (p.nr - 2) AS sig
       |  FROM base1 b
       |  JOIN params1 p ON b.sid = p.sid AND b.chunk_id = p.chunk_id
       |  GROUP BY p.sid, p.chunk_id, p.nr, p.c, p.phi
       |), gmod1 AS (
       |  SELECT sid, sum(c * (n/sig)) / sum(n/sig) AS c,
       |         sum(phi * (n/sig)) / sum(n/sig) AS phi,
       |         sum(n) / sum(n/sig) AS sig
       |  FROM fit1 GROUP BY sid
       |), sums2 AS (
       |  SELECT sid, chunk_id, CAST(count(*) AS DOUBLE) AS nr,
       |         sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
       |         sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
       |         sum(x1*y) AS s1y, sum(x2*y) AS s2y
       |  FROM base2 GROUP BY sid, chunk_id
       |), params2 AS (
       |  SELECT sid, chunk_id, nr,
       |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
       |       + s2*(s1y*s12 - s11*s2y))
       |    / (nr*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
       |       + s2*(s1*s12 - s11*s2)) AS b0,
       |    (nr*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
       |       + s2*(s1*s2y - s1y*s2))
       |    / (nr*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
       |       + s2*(s1*s12 - s11*s2)) AS p1,
       |    (nr*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
       |       + sy*(s1*s12 - s11*s2))
       |    / (nr*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
       |       + s2*(s1*s12 - s11*s2)) AS p2
       |  FROM sums2
       |), fit2 AS (
       |  SELECT p.sid, p.chunk_id, p.nr + 2 AS n, p.b0, p.p1, p.p2,
       |         sum((b.y - p.b0 - p.p1*b.x1 - p.p2*b.x2)
       |             * (b.y - p.b0 - p.p1*b.x1 - p.p2*b.x2))
       |           / (p.nr - 3) AS sig
       |  FROM base2 b
       |  JOIN params2 p ON b.sid = p.sid AND b.chunk_id = p.chunk_id
       |  GROUP BY p.sid, p.chunk_id, p.nr, p.b0, p.p1, p.p2
       |), gmod2 AS (
       |  SELECT sid, sum(b0 * (n/sig)) / sum(n/sig) AS b0,
       |         sum(p1 * (n/sig)) / sum(n/sig) AS p1,
       |         sum(p2 * (n/sig)) / sum(n/sig) AS p2,
       |         sum(n) / sum(n/sig) AS sig
       |  FROM fit2 GROUP BY sid
       |), models AS (
       |  SELECT sid, 1 AS p, round(c, 6) AS c, round(phi, 6) AS p1,
       |         CAST(0.0 AS DOUBLE) AS p2, round(sig, 3) AS sig
       |  FROM gmod1
       |  UNION ALL
       |  SELECT sid, 2, round(b0, 6), round(p1, 6), round(p2, 6),
       |         round(sig, 3)
       |  FROM gmod2
       |), seeds AS (
       |  SELECT sid, max(CASE WHEN rnd = 1 THEN value END) AS y0,
       |         max(CASE WHEN rnd = 2 THEN value END) AS ym1
       |  FROM (SELECT sid, value, row_number()
       |          OVER (PARTITION BY sid ORDER BY t DESC) AS rnd
       |        FROM src)
       |  WHERE rnd <= 2 GROUP BY sid HAVING count(*) = 2
       |), fc AS (
       |  SELECT mo.sid, mo.p, 0 AS step,
       |         CAST(se.y0 AS DOUBLE) AS m, CAST(se.ym1 AS DOUBLE) AS mp,
       |         CAST(1.0 AS DOUBLE) AS psi, CAST(0.0 AS DOUBLE) AS psip,
       |         CAST(0.0 AS DOUBLE) AS cum,
       |         mo.c AS c, mo.p1 AS p1, mo.p2 AS p2, mo.sig AS sig,
       |         sp.ntest AS ntest
       |  FROM models mo
       |  JOIN seeds se ON se.sid = mo.sid
       |  JOIN split sp ON sp.sid = mo.sid
       |  WHERE mo.c IS NOT NULL AND mo.p1 IS NOT NULL
       |    AND mo.p2 IS NOT NULL AND mo.sig IS NOT NULL
       |  UNION ALL
       |  SELECT sid, p, step + 1,
       |         c + p1 * m + p2 * mp, m,
       |         p1 * psi + p2 * psip, psi,
       |         cum + psi * psi,
       |         c, p1, p2, sig, ntest
       |  FROM fc WHERE step < ntest
       |), scale AS (
       |  SELECT sid, avg(abs(d)) AS sc FROM (
       |    SELECT sid, value - lag(value, 24)
       |      OVER (PARTITION BY sid ORDER BY t) AS d
       |    FROM src
       |  ) WHERE d IS NOT NULL GROUP BY sid
       |), joined AS (
       |  SELECT a.sid, f.p, a.value AS actual, f.m,
       |         sqrt(f.sig * f.cum) AS se, sc.sc
       |  FROM allrows a
       |  JOIN split s ON s.sid = a.sid
       |  JOIN fc f ON f.sid = a.sid
       |    AND f.step = a.rn - (a.n - s.ntest)
       |  JOIN scale sc ON sc.sid = a.sid
       |  WHERE a.rn > a.n - s.ntest
       |), per AS (
       |  SELECT sid, p,
       |    round(avg(abs(actual - m) / sc), 6) AS mean_mase,
       |    round(avg(CASE WHEN (abs(actual) + abs(m)) / 2 = 0 THEN 0
       |              ELSE abs(actual - m) / ((abs(actual) + abs(m)) / 2)
       |              END), 6) AS mean_smape
       |  FROM joined GROUP BY sid, p
       |), pick AS (
       |  SELECT sid, p, mean_mase, mean_smape,
       |    row_number() OVER (PARTITION BY sid
       |                       ORDER BY mean_mase, p, mean_smape) AS rk,
       |    round(max(mean_mase) OVER (PARTITION BY sid)
       |          - min(mean_mase) OVER (PARTITION BY sid), 6) AS delta_mase
       |  FROM per
       |)
       |SELECT sid, CAST(p AS INT) AS best_p, mean_mase, mean_smape,
       |       delta_mase
       |FROM pick WHERE rk = 1 ORDER BY sid""".stripMargin

  val oracles: Map[String, String] = Map(
    "d01_chunk_coefs" -> d01Sql,
    "d02_global_coefs" -> d02Sql,
    "d03_forecast" -> d03Sql,
    "d04_forecast_eval" -> d04Sql,
    "d06_fit_aggregator" -> d01Sql,
    "d07_fitted_residuals" -> d07Sql,
    "d08_harmonic_fit" -> d08Sql,
    "d09_multiseries" -> d09Sql,
    "d10_multiseries_forecast" -> d10Sql,
    "d11_multiseries_eval" -> d11Sql,
    "d12_multiseries_select" -> d12Sql,
    "d05_ar1_ols" ->
      """WITH ordered AS (
        |  SELECT value, ntile(4) OVER (ORDER BY ts, event_id) AS chunk_id,
        |         row_number() OVER (ORDER BY ts, event_id) AS rn
        |  FROM events
        |), cnt AS (
        |  SELECT chunk_id, count(*) AS n FROM ordered GROUP BY chunk_id
        |), lagged AS (
        |  SELECT chunk_id, value AS y,
        |         lag(value) OVER (PARTITION BY chunk_id ORDER BY rn) AS x
        |  FROM ordered
        |), base AS (
        |  SELECT chunk_id, y, x FROM lagged
        |  WHERE x IS NOT NULL
        |    AND chunk_id IN (SELECT chunk_id FROM cnt WHERE n > 5)
        |), sums AS (
        |  SELECT chunk_id, count(*) AS nr, sum(x) AS sx, sum(y) AS sy,
        |         sum(x*y) AS sxy, sum(x*x) AS sxx
        |  FROM base GROUP BY chunk_id
        |), params AS (
        |  SELECT chunk_id, nr,
        |         (nr*sxy - sx*sy) / (nr*sxx - sx*sx) AS phi,
        |         (sy - ((nr*sxy - sx*sy) / (nr*sxx - sx*sx)) * sx) / nr AS c
        |  FROM sums
        |), fit AS (
        |  SELECT p.chunk_id,
        |         round(p.c, 6) AS c, round(p.phi, 6) AS phi,
        |         round(sum((b.y - p.c - p.phi*b.x)*(b.y - p.c - p.phi*b.x))
        |               / (p.nr - 2), 4) AS sigma2
        |  FROM base b JOIN params p ON b.chunk_id = p.chunk_id
        |  GROUP BY p.chunk_id, p.nr, p.c, p.phi
        |)
        |SELECT c.chunk_id, c.n, f.c, f.phi, f.sigma2
        |FROM cnt c LEFT JOIN fit f ON c.chunk_id = f.chunk_id
        |ORDER BY c.chunk_id""".stripMargin,
  )
}
