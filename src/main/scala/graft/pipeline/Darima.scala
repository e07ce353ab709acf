package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.arima.{ArLinearModel, ArimaFit, HarmCoef, Sarima2Ar, Seasonal}
import graft.forecast.{Forecast, ForecastResult}
import graft.ts.Chunker

/** End-to-end DARIMA on Spark — one Catalyst plan from scan to the
  * combined coefficient table, pure-JVM model math inside the
  * per-chunk fit tasks (the reference crosses Python driver → JVM →
  * Python worker → embedded R per task, SURVEY.md §3.1; this engine
  * is JVM-only).
  *
  * Pipeline (reference trace at SURVEY.md §3.2):
  *   series(time,value)
  *     → contiguous chunk ids               [P1, fixed per §1.4.2]
  *     → repartitionById(K, chunk).mapPartitions(sort ∘ fit ∘ linearize)
  *                                          [M1-M7, auto_arima.R:7-93]
  *     → groupBy(coef) DLSA / mean combine  [A1-A4, paper-correct §1.4.6]
  *     → driver forecast + intervals        [FC1-FC8, darima.py:292-414]
  */
final case class DarimaConfig(
    numChunks: Int = 4,
    freq: Int = 24,
    method: String = "dlsa", // or "mean"
    tol: Int = 2000,
    maxP: Int = 5,
    maxQ: Int = 5,
    /** Seasonal order caps for the "sarima" fitter. The library-level
      * ArimaFit defaults match the reference's auto.arima call
      * (max.p/q/P/Q 20, max.order 40, auto_arima.R:74); the pipeline
      * keeps tighter caps because a 10-zone A/B showed nothing above
      * (5,5)(2,2) survives AICc on the electricity data and the
      * search cost is per chunk.
      */
    maxSP: Int = 2,
    maxSQ: Int = 2,
    /** Cap on TOTAL differencing d + D for the arma/sarima fitters.
      * Each unit root compounds forecast-variance growth (one root →
      * Var(ŷ_h) ~ h, two → ~h³), so [[Darima.run]] caps differencing
      * OUT (0) when the horizon extends far beyond the seasonal
      * period, re-expressing seasonality/level via Fourier harmonics
      * and the level anchor — the Fourier-plus-stationary-ARMA-errors
      * recipe auto.arima users apply for long seasonal horizons.
      *
      * −1 (the default) = auto: 2 normally, 0 under the long-horizon
      * calibration. Any explicit value ≥ 0 always wins — the
      * calibration never overrides a configured cap (it cannot tell
      * an explicit 2 from the default otherwise, so the sentinel is
      * the whole mechanism).
      */
    maxTotalD: Int = -1,
    levels: Array[Int] = Array(80, 95),
    /** "longar" = Levinson–Durbin long-AR with seasonal-spanning lags
      * (default; see ArimaFit.fitLongAr); "arma" = stepwise
      * Hannan–Rissanen ARMA search (ArimaFit.fit); "olsar" =
      * fixed-order OLS AR(olsP) via streaming normal equations
      * (ArFit.olsAr) — already in prediction form, so the Sarima2Ar
      * linearization is skipped. The olsar path is closed-form and
      * therefore DuckDB-oracle-expressible end to end (the d01–d06
      * correctness queries pin it; see DarimaQueries).
      */
    fitter: String = "longar",
    /** AR order and trend flag for the "olsar" fitter. */
    olsP: Int = 2,
    olsTrend: Boolean = false,
    /** "range" = sketch-bounded range chunks (no global sort — the
      * 100 TB default); "timerange" = equal-width time ranges,
      * exactly mirrorable in SQL and therefore the oracle-checkable
      * choice.
      */
    chunker: String = "range",
    /** Max AR lag for the longar fitter; 0 = auto (14·freq+8 when
      * freq>1, i.e. two seasonal "weeks"; else 40 — see
      * ArimaFit.fitLongAr). Drives the driver-side tail collect size.
      */
    maxLag: Int = 0,
    /** Fourier seasonal harmonics (graft.arima.Seasonal): cos/sin
      * pairs at the daily (freq) and weekly (7·freq) cycles, fitted
      * per chunk before the AR stage and re-added at forecast time —
      * carries the periodic shape across long horizons where a pure
      * AR mean-reverts. 0/0 (default) = off, the round-1 model.
      */
    harmDaily: Int = 0,
    harmWeekly: Int = 0,
    harmYearly: Int = 0,
    /** Daily×yearly interaction pairs (Seasonal.specs): the first
      * `modDaily` daily harmonics each modulated by the first
      * `modYearly` yearly harmonics, letting the fitted diurnal shape
      * vary with the season (winter double-peak vs summer single
      * peak). 0/0 (default) = off. Measured: these interactions close
      * most of the long-horizon gap between the Fourier-skeleton
      * fitters and the adaptive long-AR (RESULTS.md round 7).
      */
    modDaily: Int = 0,
    modYearly: Int = 0,
    /** Fit per-pair amplitude-drift terms (dynamic harmonic
      * regression, Seasonal.fitHarmonics withDrift) so a seasonal
      * shape that changes year over year extrapolates into the
      * horizon.
      */
    harmTrend: Boolean = false,
    /** Gardner–McKenzie damped-trend φ for the forecast horizon;
      * 1.0 = undamped linear trend (see Forecast.forecast).
      */
    dampTrend: Double = 1.0,
    /** Recency decay λ for the DLSA combine: chunk k (time-ordered,
      * 0 = oldest) is additionally weighted λ^(K−1−k), so a
      * decade-old regime contributes less than the recent one to the
      * global model. 1.0 = classic DLSA (all chunks equal).
      */
    recencyDecay: Double = 1.0,
    /** Scope of the recency decay: "all" (classic) or "seasonal"
      * (level+harmonic rows only — see Darima.combine).
      */
    decayScope: String = "all",
    /** "holdout" = regime-aware seasonal weighting: chunks' harmonic
      * rows are additionally weighted by how well each chunk's shape
      * explains the last train cycle (Darima.holdoutSeasonalWeights).
      */
    seasonalWeighting: String = "off",
    /** Local-level anchoring window, in samples (0 = off). When set,
      * the combined model's intercept is re-anchored so its
      * unconditional level equals the mean of the last `anchorWindow`
      * deseasonalized observations: β0′ = μ_recent·(1−Σπ). Long-
      * horizon forecasts then revert to the RECENT level instead of
      * the all-history DLSA level — the fix for zones whose load
      * level drifted over the train span (VT's behind-the-meter solar
      * growth); the short-horizon AR dynamics are untouched. One
      * distributed filtered aggregate; skipped when a drift term is
      * present.
      */
    anchorWindow: Int = 0,
    /** Joint (GLS) estimation of the harmonic stage with the ARMA
      * error model for the search fitters — one-to-three
      * Cochrane–Orcutt rounds of regression-with-ARMA-errors
      * (Hyndman's fourier+xreg estimates these jointly; the
      * fit-then-subtract OLS stage mis-weights low-frequency pairs
      * under strongly autocorrelated errors). Off = the pre-r8
      * fit-then-subtract behavior, kept for attribution runs.
      */
    jointHarmonics: Boolean = true,
    /** Box–Cox variance-stabilizing transform ahead of the fit:
      * "off" (default), "auto" (λ chosen by Guerrero's method from
      * one bounded block-stats aggregate), or a numeric λ string.
      * The fit runs on the transformed scale; the forecast inverts
      * MEDIAN-unbiased — quantiles are equivariant under the
      * monotone inverse, so intervals map exactly and the point
      * forecast is the median back-transform (forecast::BoxCox with
      * biasadj = FALSE) — and se maps by the delta method. λ ≠ 1
      * requires a positive series; a non-positive one falls back to
      * off with a warning. The returned MODEL stays on the
      * transformed scale (its coefficients parameterize z = bc(y)).
      */
    boxCox: String = "off") {

  /** The differencing cap the fitters actually use: the −1 sentinel
    * resolves to 2 (the reference's auto.arima d+D reach); explicit
    * values pass through.
    */
  def maxTotalDEff: Int = if (maxTotalD < 0) 2 else maxTotalD

  // string knobs fail when the config is built, not mid-job
  require(Set("longar", "arma", "sarima", "olsar")(fitter),
    s"unknown fitter '$fitter' (expected longar|arma|sarima|olsar)")
  require(Set("dlsa", "mean")(method),
    s"unknown combine method '$method' (expected dlsa|mean)")
  require(Set("range", "timerange")(chunker),
    s"unknown chunker '$chunker' (expected range|timerange)")
  require(Set("all", "seasonal")(decayScope),
    s"unknown decayScope '$decayScope' (expected all|seasonal)")
  require(Set("off", "holdout")(seasonalWeighting),
    s"unknown seasonalWeighting '$seasonalWeighting' (expected off|holdout)")
  require(
    boxCox == "off" || boxCox == "auto" || boxCox.toDoubleOption.nonEmpty,
    s"unknown boxCox '$boxCox' (expected off|auto|<lambda>)")
}

object Darima {

  /** Robust sample interval: the MEDIAN of successive time diffs.
    * The naive (last − first)/(n − 1) average is poisoned by gaps —
    * 28 DST spring-forward holes in a 121k-hour electricity series
    * stretch it to ~3600.8 s, and since the Fourier phase is
    * τ = t/dt, that sub-permille error accumulates to HOURS of
    * daily-harmonic phase drift across a chunk (and disagrees across
    * chunks, so the DLSA-averaged harmonic coefficients partially
    * cancel). The median ignores the gaps; wall-clock phase is then
    * exact, which is also the right semantics across the gap itself.
    */
  private[pipeline] def medianDt(times: Array[Double]): Double = {
    if (times.length < 2) return 0.0
    val diffs = new Array[Double](times.length - 1)
    var i = 1
    while (i < times.length) { diffs(i - 1) = times(i) - times(i - 1); i += 1 }
    java.util.Arrays.sort(diffs)
    diffs(diffs.length / 2)
  }

  /** The "sarima" fitter's order search, END-TO-END: the stepwise
    * seasonal walk's winner competes against a long-AR candidate
    * under the SAME AICc — a long AR is just ARMA(p, 0) with large
    * p, i.e. one more point in the search space the stepwise walk
    * cannot reach (its moves are ±1 and the AICc path to
    * p ≈ m·weeks is not monotone). On strongly multi-cyclic series
    * (electricity) the AR's adaptive daily/weekly tracking wins the
    * criterion and the 2,879-step accuracy (MASE 1.08 → 0.87 on
    * NEMASSBOST, RESULTS.md round 7); on genuinely low-order
    * seasonal processes the compact SARIMA wins AICc through the
    * parameter penalty (SarimaSearchSpec pins both directions).
    */
  private[graft] def sarimaFamilySearch(values: Array[Double],
      cfg: DarimaConfig): graft.arima.SarimaModel = {
    val seas = ArimaFit.fitSeasonal(values, cfg.freq, cfg.maxP,
      cfg.maxQ, cfg.maxSP, cfg.maxSQ, maxTotalD = cfg.maxTotalDEff)
    // the differencing cap binds BOTH candidates: a caller who set
    // maxTotalD = 0 must not receive a unit root through the AR
    // family either (the standalone longar fitter keeps its own
    // KPSS-chosen d — the cap is an arma/sarima contract)
    val lar = ArimaFit.fitLongAr(values, cfg.freq, cfg.maxLag,
      maxD = cfg.maxTotalDEff)
    val n = values.length
    val kSeas = seas.phi.length + seas.theta.length +
      seas.sphi.length + seas.stheta.length + 1
    val kLar = lar.phi.length + 1
    if (lar.sigma2 > 0 &&
      graft.arima.ArFit.aicc(n, lar.sigma2, kLar) <
        graft.arima.ArFit.aicc(n, seas.sigma2, kSeas)) lar
    else seas
  }

  /** One chunk's fit: harmonic stage, AR/ARMA fit, linearization,
    * coefficient rows. Shared verbatim by the chunk-partition map step
    * ([[fitChunkCoefs]]), the fleet fits and the typed-Aggregator form
    * ([[ArimaFitAggregator]]), so the API surfaces cannot drift
    * (d01 ≡ d06 by construction). `buf` must be time-sorted
    * (time, value) pairs.
    */
  private[graft] def fitOneChunk(buf: Array[(Double, Double)],
      cfg: DarimaConfig): Array[CoefRow] = {
    val raw = buf.map(_._2)
    // Fourier stage: fit + subtract the periodic signal so the AR
    // stage models the deseasonalized series (no-op when off).
    val ps = Seasonal.specs(cfg.freq, cfg.harmDaily, cfg.harmWeekly,
      cfg.harmYearly, cfg.modDaily, cfg.modYearly)
    val tau0: Array[Double] =
      if (ps.isEmpty || buf.length < 2) null
      else {
        val dt = medianDt(buf.map(_._1))
        if (dt <= 0) null else buf.map(_._1 / dt)
      }
    val (values0, harms0) =
      if (tau0 == null) (raw, Array.empty[HarmCoef])
      else {
        val hs = Seasonal.fitHarmonics(raw, tau0, ps, cfg.harmTrend)
        val z = Array.tabulate(raw.length)(i =>
          raw(i) - Seasonal.value(hs, tau0(i)))
        (z, hs)
      }
    def fitAr(values: Array[Double]): graft.arima.ArLinearModel =
      cfg.fitter match {
      case "olsar" =>
        // timerange chunks are equal-width in TIME, so a temporally
        // sparse bucket can be tiny; fall back to the mean-only AR(0)
        // model instead of failing the whole job on olsAr's length
        // require (the longar/arma fitters degrade gracefully already)
        val kReq = cfg.olsP + (if (cfg.olsTrend) 2 else 1)
        if (values.length - cfg.olsP > kReq + 2)
          graft.arima.ArFit.olsAr(values, cfg.olsP, cfg.olsTrend)
        else {
          val n = values.length
          val mean = if (n == 0) 0.0 else values.sum / n
          val varv = if (n < 2) 0.0
            else values.map(v => (v - mean) * (v - mean)).sum / (n - 1)
          graft.arima.ArLinearModel(mean, 0.0, Array.empty, varv,
            math.max(n, 1).toLong)
        }
      case "longar" =>
        Sarima2Ar.toAr(ArimaFit.fitLongAr(values, cfg.freq, cfg.maxLag),
          cfg.tol)
      case "arma" =>
        Sarima2Ar.toAr(ArimaFit.fit(values, cfg.freq, cfg.maxP, cfg.maxQ,
          maxD = cfg.maxTotalDEff), cfg.tol)
      case "sarima" =>
        Sarima2Ar.toAr(sarimaFamilySearch(values, cfg), cfg.tol)
    }
    val ar0 = fitAr(values0)
    // Joint estimation for the search fitters (one Cochrane–Orcutt
    // round of regression-with-ARMA-errors): refit the harmonic
    // coefficients by GLS under the fitted error model's AR(∞)
    // filter, then refit the error model on the new residuals.
    // Under strongly autocorrelated errors the OLS harmonic stage
    // systematically mis-weights the low-frequency pairs; the GLS
    // metric is where those errors are white. Skipped for olsar
    // (the closed-form oracle fitter — d01–d06 stay bit-stable) and
    // longar (the shipped default profile, measured optimal as-is).
    val doJoint = cfg.jointHarmonics &&
      (cfg.fitter == "sarima" || cfg.fitter == "arma") &&
      harms0.nonEmpty && ar0.pi.nonEmpty
    val (harms, ar) =
      if (!doJoint) (harms0, ar0)
      else {
        // iterate to convergence (≤3 rounds — the loop contracts
        // fast; round 2+ moves are typically <1e-3 relative)
        var hs = harms0
        var m = ar0
        var prev = Double.MaxValue
        var rounds = 0
        var stop = false
        while (rounds < 3 && !stop) {
          val hs1 = Seasonal.fitHarmonicsGls(raw, tau0, ps,
            cfg.harmTrend, m.pi)
          if (hs1.isEmpty) stop = true
          else {
            val z1 = Array.tabulate(raw.length)(i =>
              raw(i) - Seasonal.value(hs1, tau0(i)))
            val delta = hs1.zip(hs).map { case (a, b) =>
              math.abs(a.cos - b.cos) + math.abs(a.sin - b.sin)
            }.sum
            val norm = hs1.map(h =>
              math.abs(h.cos) + math.abs(h.sin)).sum.max(1e-12)
            hs = hs1
            m = fitAr(z1)
            if (delta / norm >= prev || delta / norm < 1e-3) stop = true
            prev = delta / norm
          }
          rounds += 1
        }
        (hs, m)
      }
    val w = ar.n.toDouble / math.max(ar.sigma2, 1e-12)
    val base = Array(
      CoefRow("beta0", -2, ar.beta0, w, ar.n),
      CoefRow("beta1", -1, ar.beta1, w, ar.n),
      CoefRow("sigma2", Int.MaxValue, ar.sigma2, w, ar.n))
    val harmRows = harms.flatMap { h =>
      val base = Array(
        CoefRow(Seasonal.coefName("cos", h),
          Seasonal.lagIdx(h, "cos"), h.cos, w, ar.n),
        CoefRow(Seasonal.coefName("sin", h),
          Seasonal.lagIdx(h, "sin"), h.sin, w, ar.n))
      val driftRows =
        if (h.dcos == 0.0 && h.dsin == 0.0) Array.empty[CoefRow]
        else Array(
          CoefRow(Seasonal.coefName("dcos", h),
            Seasonal.lagIdx(h, "dcos"), h.dcos, w, ar.n),
          CoefRow(Seasonal.coefName("dsin", h),
            Seasonal.lagIdx(h, "dsin"), h.dsin, w, ar.n))
      base ++ driftRows
    }
    val ars = ar.pi.zipWithIndex.map { case (p, i) =>
      CoefRow(s"ar${i + 1}", i + 1, p, w, ar.n)
    }
    base ++ harmRows ++ ars
  }

  private def chunkSeries(series: DataFrame, cfg: DarimaConfig,
      timeBounds: Option[Option[(Double, Double)]] = None): DataFrame = {
    val named = series.select(col("time").cast("double").as("t"),
      col("value").cast("double").as("v"))
    cfg.chunker match {
      case "range" => Chunker.rangeChunks(named, col("t"), cfg.numChunks)
      case "timerange" => timeBounds match {
        // caller already knows (tmin, tmax) — skip the bounds job
        case Some(b) =>
          Chunker.timeChunksBounded(named, col("t"), cfg.numChunks, b)
        case None => Chunker.timeChunks(named, col("t"), cfg.numChunks)
      }
    }
  }

  /** Map step: fit one model per contiguous chunk, linearize to
    * AR(tol), emit (chunk_id, coef, lag_idx, value, weight, n) rows.
    * `weight` is the DLSA precision n_k/σ²_k (reference:
    * auto_arima.R:103-110); `lag_idx` keeps AR coefficients
    * integer-ordered so no zero-pad/rename dance is needed
    * (SURVEY.md F2).
    *
    * Chunk k crosses a `repartitionById` exchange to partition k, so
    * the K fits run in K tasks. Every chunker emits ids in [0, K). A
    * hash exchange (`groupByKey`) is no substitute: its shuffle is
    * small (about 2 MB for a 121k-row series), and adaptive execution
    * coalesces it into one partition, where a single task fits every
    * chunk in turn; a partition-id exchange is never coalesced.
    *
    * The frame ends with a hash exchange on the combine's keys
    * (coef, lag_idx), so the DLSA/mean aggregate runs in its own
    * stage. Without it the partial aggregate is fused into the fit
    * stage, and each fit task allocates the aggregate's hash-map page
    * (32 MB in a 4 GB local[4] JVM) before its first row and holds it
    * for the whole fit: on the 121k-row paper-shape series at K = 4
    * the peak post-GC heap was ~237 MB without the exchange and
    * ~131 MB with it. In local mode the reduce side reads map outputs
    * in map-task order, and map task k holds chunk k, so the DLSA sums
    * run in chunk order.
    */
  def fitChunkCoefs(spark: SparkSession, series: DataFrame,
      cfg: DarimaConfig): DataFrame =
    fitChunkCoefsBounded(spark, series, cfg, None)

  /** [[fitChunkCoefs]] with caller-supplied time bounds for the
    * `timerange` chunker (folded into the caller's stats job —
    * runOnScale's row count — instead of a second full-data action).
    * The outer Option distinguishes "not supplied" (run the bounds
    * job) from "supplied: empty input" (inner None).
    */
  private[graft] def fitChunkCoefsBounded(spark: SparkSession,
      series: DataFrame, cfg: DarimaConfig,
      timeBounds: Option[Option[(Double, Double)]]): DataFrame = {
    import spark.implicits._
    val chunked = chunkSeries(series, cfg, timeBounds)
    val fitted: Dataset[(Int, String, Int, Double, Double, Long)] = chunked
      .select(col("chunk_id"), col("t"), col("v"))
      .repartitionById(cfg.numChunks, col("chunk_id"))
      .as[(Int, Double, Double)]
      .mapPartitions { rows =>
        rows.toArray.groupBy(_._1).toArray.sortBy(_._1).iterator.flatMap {
          case (chunkId, rs) =>
            val buf = rs.map(r => (r._2, r._3)).sortBy(_._1)
            fitOneChunk(buf, cfg).iterator.map(c =>
              (chunkId, c.coef, c.lag_idx, c.value, c.weight, c.n))
        }
      }
    fitted.toDF("chunk_id", "coef", "lag_idx", "value", "weight", "n")
      .repartition(col("coef"), col("lag_idx"))
  }

  /** Reduce step: one Catalyst hash aggregate (partial + final — the
    * reference hand-rolls this with aggregateByKey, darima.py:233-280).
    * DLSA: θ = Σ_k w_k θ_k / Σ_k w_k, σ² = Σ n_k / Σ_k w_k.
    * Mean:  θ = (1/K) Σ_k θ_k.
    * Both are the paper-correct forms (the reference's extra
    * divisions are defects — SURVEY.md §1.4.6).
    */
  def combine(coefs: DataFrame, method: String): DataFrame =
    combine(coefs, method, 1.0, 0)

  /** @param recencyDecay λ ∈ (0,1]: chunk k additionally weighted
    *   λ^(K−1−k) in the DLSA sums (1.0 = classic DLSA); needs
    *   numChunks K when < 1.
    * @param decayScope "all" decays every coefficient row;
    *   "seasonal" decays only the level/seasonal rows (lag_idx < 0:
    *   beta0, beta1, harmonics) and keeps the AR dynamics and sigma2
    *   pooled across all chunks. The seasonal shape is what drifts
    *   between regimes (e.g. VT's solar-driven yearly profile), while
    *   the short-horizon autocorrelation structure is stable — so
    *   localizing only the former buys the accuracy without touching
    *   interval calibration.
    */
  def combine(coefs: DataFrame, method: String, recencyDecay: Double,
      numChunks: Int, decayScope: String = "all"): DataFrame =
    combineKeyed(coefs, method, recencyDecay, numChunks, decayScope, Nil)

  /** The combine aggregate, generic in a leading key-column list —
    * `combine` passes no keys (one series), [[combineMany]] passes
    * `sid` so the whole fleet reduces in ONE hash aggregate. Shared
    * verbatim so the two surfaces cannot drift.
    */
  private def combineKeyed(coefs: DataFrame, method: String,
      recencyDecay: Double, numChunks: Int, decayScope: String,
      keys: Seq[String]): DataFrame = {
    // Decay weight AND n by the same factor: sigma2 is sum(n)/sum(w),
    // so decaying only the denominator would systematically inflate
    // the combined variance (≈2x at K=10, λ=0.8) and blow up MSIS —
    // with both decayed, sigma2 stays the weight-consistent precision
    // estimate (ADVICE r2).
    val weighted =
      if (recencyDecay >= 1.0) coefs
      else {
        val decay0 = pow(lit(recencyDecay), lit(numChunks - 1) - col("chunk_id"))
        val decay = decayScope match {
          case "all" => decay0
          case "seasonal" => when(col("lag_idx") < 0, decay0).otherwise(lit(1.0))
          case other => throw new IllegalArgumentException(
            s"unknown decayScope '$other' (expected all|seasonal)")
        }
        coefs.withColumn("weight", col("weight") * decay)
          .withColumn("n", col("n") * decay)
      }
    val groupCols = keys.map(col) ++ Seq(col("coef"), col("lag_idx"))
    method match {
      case "dlsa" =>
        weighted.groupBy(groupCols: _*)
          .agg(sum(col("value") * col("weight")).as("vw"),
            sum(col("weight")).as("w"), sum(col("n")).as("nn"))
          .select(groupCols :+
            when(col("coef") === "sigma2", col("nn") / col("w"))
              .otherwise(col("vw") / col("w")).as("value"): _*)
      case "mean" =>
        weighted.groupBy(groupCols: _*)
          .agg(avg(col("value")).as("value"))
          .select(groupCols :+ col("value"): _*)
      case other => throw new IllegalArgumentException(
        s"unknown combine method '$other' (expected dlsa|mean)")
    }
  }

  /** Collect the (tol+3)-row combined table into the driver-side
    * linear model. This is the only collect in the fit path — the
    * same 2003-row transfer the reference does (darima.py:80).
    */
  def globalModel(combined: DataFrame, n: Long): ArLinearModel = {
    val rows = combined.select("coef", "lag_idx", "value").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    modelFromRows(rows, n)
  }

  /** Driver-side assembly of one linear model from its (coef,
    * lag_idx, value) rows — factored from [[globalModel]] so the
    * fleet path ([[modelsMany]]) parses per-series slices of ONE
    * collected table through the identical code.
    */
  private[graft] def modelFromRows(rows: Seq[(String, Int, Double)],
      n: Long): ArLinearModel = {
    var beta0 = 0.0
    var beta1 = 0.0
    var sigma2 = 0.0
    val arMap = scala.collection.mutable.LongMap.empty[Double]
    // full pair spec (incl. modulator) -> [cos, sin, dcos, dsin]
    val harmMap =
      scala.collection.mutable.Map.empty[graft.arima.HarmSpec, Array[Double]]
    rows.foreach { case (coef, lagIdx, v) =>
      coef match {
        case "beta0" => beta0 = v
        case "beta1" => beta1 = v
        case "sigma2" => sigma2 = v
        case _ => Seasonal.parseNameFull(coef) match {
          case Some((trig, spec)) =>
            val cur = harmMap.getOrElseUpdate(spec, new Array[Double](4))
            cur(Seq("cos", "sin", "dcos", "dsin").indexOf(trig)) = v
          case None => arMap(lagIdx.toLong) = v
        }
      }
    }
    val p = if (arMap.isEmpty) 0 else arMap.keys.max.toInt
    val pi = Array.tabulate(p)(i => arMap.getOrElse((i + 1).toLong, 0.0))
    val harms = harmMap.toArray
      .sortBy { case (s, _) => (s.cycle, s.k, s.mcycle, s.mk, s.msin) }
      .map { case (s, a) =>
        HarmCoef(s.cycle, s.k, a(0), a(1), a(2), a(3),
          s.mcycle, s.mk, s.msin)
      }
    ArLinearModel(beta0, beta1, pi, sigma2, n, harms)
  }

  /** Last-p tail of the series as time-ordered (time, value) pairs —
    * the only train data the driver ever holds (TakeOrdered, no full
    * collect; the reference collects the whole 121k-row series twice,
    * SURVEY.md §4.1). Times feed the Fourier phase.
    */
  def seriesTailTimed(series: DataFrame, p: Int): Array[(Double, Double)] = {
    val rows = series
      .select(col("time").cast("double").as("t"),
        col("value").cast("double").as("v"))
      .orderBy(col("t").desc).limit(p).collect()
    rows.sortBy(_.getDouble(0)).map(r => (r.getDouble(0), r.getDouble(1)))
  }

  /** Distributed seasonal-naïve scale (the MASE/MSIS denominator):
    * mean |y_t − y_{t−m}| over the time-ordered series, computed as
    * one OrderedLag pass + one aggregate — no driver collect of the
    * series (replaces the full-train collect the r2 eval path had;
    * VERDICT r2 "What's wrong" #2).
    */
  def seasonalNaiveScaleDF(series: DataFrame, m: Int): Double = {
    val lagged = graft.ts.OrderedLag.withLags(
      series.select(col("time").cast("double").as("t"),
        col("value").cast("double").as("v")),
      col("t"), col("t"), "v", Seq(m))
    val r = lagged.filter(col(s"v_lag$m").isNotNull)
      .agg(avg(abs(col("v") - col(s"v_lag$m"))))
      .head()
    // a series with ≤ m rows has no lagged pairs: NaN, matching the
    // driver-side Metrics.seasonalNaiveScale contract
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** Σ harmonics as a column expression over phase τ = t/dt — the
    * column twin of Seasonal.value (same fold order).
    */
  private def seasonalCol(harms: Array[HarmCoef], tau: Column): Column =
    harms.foldLeft(lit(0.0)) { (acc, h) =>
      val w = tau * lit(2.0 * math.Pi * h.k / h.cycle)
      val u = tau / lit(h.cycle.toDouble)
      val f =
        if (h.mcycle <= 0) lit(1.0)
        else {
          val wm = tau * lit(2.0 * math.Pi * h.mk / h.mcycle)
          if (h.msin) sin(wm) else cos(wm)
        }
      acc + f * ((lit(h.cos) + lit(h.dcos) * u) * cos(w) +
        (lit(h.sin) + lit(h.dsin) * u) * sin(w))
    }

  /** (n, tMin, tMax, dt) of a regularly sampled (t, v) frame;
    * dt ≤ 0 for degenerate inputs. Shared by the fitted/residual,
    * anchoring, and holdout-weighting passes.
    */
  private def sampleSpacing(named: DataFrame): (Long, Double, Double, Double) = {
    val r = named.agg(count(lit(1)), min(col("t")), max(col("t"))).head()
    val n = r.getLong(0)
    if (n < 2) (n, 0.0, 0.0, 0.0)
    else (n, r.getDouble(1), r.getDouble(2),
      (r.getDouble(2) - r.getDouble(1)) / (n - 1))
  }

  /** Distributed twin of [[medianDt]] — gap-robust sample interval
    * for harmonic PHASE computations (the averaged `sampleSpacing` dt
    * is fine for window/cutoff arithmetic, but as a phase divisor its
    * gap bias drifts a daily harmonic by hours; see medianDt). One
    * OrderedLag pass + a quantile sketch — no single-partition
    * window, no collect.
    */
  private def robustDt(named: DataFrame): Double = {
    val lagged = graft.ts.OrderedLag.withLags(
      named.select(col("t")), col("t"), col("t"), "t", Seq(1))
    val r = lagged.filter(col("t_lag1").isNotNull)
      .agg(percentile_approx(col("t") - col("t_lag1"), lit(0.5),
        lit(10000))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Distributed full-series fitted values and residuals from the
    * combined model — the reference carries these over the whole
    * train series in forecast.json (darima.py:322-327, 400-408), but
    * computes them driver-side from a dense n×p lag matrix; here the
    * deseasonalized series z = v − s runs through [[ArKernel]], a
    * per-range-bucket primitive AR loop seeded with each bucket's
    * p-row halo, so the series never reaches the driver.
    *
    * Returns (t, v, fitted, residual) rows; fitted/residual are null
    * for the first p_eff rows (p_eff = the AR order with trailing
    * zero coefficients trimmed — the honest lag requirement, not the
    * reference's tol-padded NaN head, SURVEY.md §1.4.8) and for rows
    * whose p_eff-row lag window holds a null value; a null value's
    * own residual is null. Float-op order matches Forecast.forecast's
    * in-sample loop term for term.
    */
  def fittedResidualsDF(series: DataFrame, model: ArLinearModel): DataFrame = {
    val named = series.select(col("time").cast("double").as("t"),
      col("value").cast("double").as("v"))
    val pEff = {
      var i = model.pi.length
      while (i > 0 && model.pi(i - 1) == 0.0) i -= 1
      i
    }
    val piEff = model.pi.take(pEff)
    // harmonic phase needs the sample spacing; one tiny aggregate
    val sCol: Column =
      if (model.harmonics.isEmpty) lit(0.0)
      else {
        val dt = robustDt(named) // phase divisor: gap-robust median
        seasonalCol(model.harmonics,
          col("t") / lit(if (dt <= 0) 1.0 else dt))
      }
    val based = named.withColumn("__s", sCol).withColumn("__z", col("v") - col("__s"))
    if (pEff == 0) {
      val f = lit(model.beta0) + col("__s")
      return based.select(col("t"), col("v"), f.as("fitted"),
        (col("v") - f).as("residual"))
    }
    ArKernel.fittedResiduals(based, piEff, model.beta0, model.beta1)
  }

  /** Regime-aware seasonal weighting: score every chunk's harmonic
    * shape against the LAST cycle of the train series (variance of
    * y − s_k over that window, one multi-column aggregate) and return
    * inverse-variance multipliers (normalized to mean 1) for the
    * chunks' seasonal rows in the DLSA combine. Purely train-data
    * driven — a recent chunk wins only if its shape actually explains
    * the recent data (blind λ-recency was measured and rejected:
    * it sends RI to MASE 5.7 when the newest chunk is anomalous).
    */
  def holdoutSeasonalWeights(series: DataFrame,
      coefs: DataFrame): Map[Int, Double] = {
    val hr = coefs.filter(col("lag_idx") < -2)
      .select(col("chunk_id"), col("coef"), col("value")).collect()
    if (hr.isEmpty) return Map.empty
    val byChunk: Map[Int, Array[HarmCoef]] = hr.groupBy(_.getInt(0)).map {
      case (cid, rows) =>
        val m = scala.collection.mutable
          .Map.empty[graft.arima.HarmSpec, Array[Double]]
        rows.foreach { r =>
          Seasonal.parseNameFull(r.getString(1)).foreach { case (trig, spec) =>
            val cur = m.getOrElseUpdate(spec, new Array[Double](4))
            cur(Seq("cos", "sin", "dcos", "dsin").indexOf(trig)) = r.getDouble(2)
          }
        }
        cid -> m.toArray
          .sortBy { case (s, _) => (s.cycle, s.k, s.mcycle, s.mk, s.msin) }
          .map { case (s, a) =>
            HarmCoef(s.cycle, s.k, a(0), a(1), a(2), a(3),
              s.mcycle, s.mk, s.msin)
          }
    }
    val named = series.select(col("time").cast("double").as("t"),
      col("value").cast("double").as("v"))
    val (n, _, tMax, dt) = sampleSpacing(named)
    if (n < 2 || dt <= 0) return Map.empty
    val maxCycle = byChunk.values.flatMap(_.map(_.cycle)).max
    val window = math.min(maxCycle.toLong, n)
    val cutoff = tMax - (window - 0.5) * dt
    // phase divisor is the gap-robust median; the averaged dt above
    // still sizes the cutoff window (where its bias is harmless)
    val dtPhase = { val m = robustDt(named); if (m <= 0) dt else m }
    val tau = col("t") / lit(dtPhase)
    val chunks = byChunk.keys.toSeq.sorted
    val aggs = chunks.map(cid =>
      var_samp(col("v") - seasonalCol(byChunk(cid), tau)).as(s"v$cid"))
    val row = named.filter(col("t") >= cutoff).agg(aggs.head, aggs.tail: _*)
      .head()
    val invVar = chunks.zipWithIndex.map { case (cid, i) =>
      // var_samp is NULL when the cutoff window caught < 2 rows
      // (irregularly sampled series) — treat as weight 0, like NaN
      val v = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
      cid -> (if (v > 0 && !v.isNaN) 1.0 / v else 0.0)
    }
    val s = invVar.map(_._2).sum
    if (s <= 0) return Map.empty
    val k = invVar.length
    invVar.map { case (cid, w) => cid -> (w * k / s) }.toMap
  }

  /** Local-level anchoring (DarimaConfig.anchorWindow): replace the
    * combined intercept so the model's unconditional level equals the
    * mean of the last `window` deseasonalized observations — one
    * filtered distributed aggregate, no series collect.
    */
  def anchorLevel(series: DataFrame, model: ArLinearModel,
      window: Int): ArLinearModel = {
    val piSum = model.pi.sum
    if (model.beta1 != 0.0 || math.abs(1.0 - piSum) < 1e-6) return model
    val named = series.select(col("time").cast("double").as("t"),
      col("value").cast("double").as("v"))
    val (n, _, tMax, dt) = sampleSpacing(named)
    if (n < 2 || dt <= 0) return model
    val cutoff = tMax - (math.min(window.toLong, n) - 0.5) * dt
    val dtPhase = { val m = robustDt(named); if (m <= 0) dt else m }
    val s = seasonalCol(model.harmonics, col("t") / lit(dtPhase))
    val muRecent = named.filter(col("t") >= cutoff)
      .agg(avg(col("v") - s)).head().getDouble(0)
    model.copy(beta0 = muRecent * (1.0 - piSum))
  }

  /** Full run: distributed fit + combine, driver forecast from the
    * series tail. `n` (series length) rides along from a count on the
    * same cached plan.
    */
  /** Long-horizon calibration for the search fitters (h ≫ m,
    * measured on NEMASSBOST h=2879): ANY unit root makes interval
    * width grow without bound (d=1 alone scored MSIS95 ≈ 485 vs ≈ 10
    * stationary), so differencing is capped OUT and the structure a
    * root would have carried is re-expressed horizon-stably —
    * auto.arima's own long-seasonal recipe (Fourier terms as
    * regressors + stationary ARMA errors, Hyndman's fourier+xreg):
    *  - seasonal pattern → Fourier harmonics (daily+weekly+yearly)
    *    when the user configured none;
    *  - level → anchored to the last year's deseasonalized mean
    *    (a stationary ARMA otherwise reverts to the multi-year
    *    train mean — a +7% bias on the fixture).
    * Each knob only fills in when unset (maxTotalD's unset state is
    * the −1 sentinel), so explicit configuration always wins — a
    * caller who sets maxTotalD = 1 keeps it even at long horizons.
    * Measured: MASE 1.38 / MSIS95 ≈ 10 vs the uncalibrated
    * 1.21 / 485 — intervals usable, points within the bar.
    */
  private[graft] def calibrateLongHorizon(cfg: DarimaConfig,
      h: Int): DarimaConfig = {
    val longHorizon = cfg.freq > 1 && h > 2 * cfg.freq &&
      (cfg.fitter == "sarima" || cfg.fitter == "arma")
    if (!longHorizon) cfg
    else {
      // Injected skeleton is FITTER-dependent (each number measured
      // on NEMASSBOST h=2879, RESULTS.md round 7):
      //  - "sarima" searches dynamics families end-to-end (stepwise
      //    seasonal + long-AR candidate); the AR tracks the daily/
      //    weekly cycles ADAPTIVELY, and subtracting a frozen average
      //    diurnal shape first measurably hurts it (1.15 vs 0.87) —
      //    so only the yearly pairs are injected;
      //  - "arma" has no seasonal dynamics at all, so the skeleton
      //    must carry the shape: PLAIN daily+weekly+yearly pairs.
      //    The daily×yearly interaction pairs r7 injected here are
      //    REMOVED: re-measured reproducibly in r8 they HURT
      //    (NEMASSBOST 1.338 plain vs 1.645 modulated; the r7 prose
      //    claiming 1.23 modulated is not reproducible from the r7
      //    commit — sideband coefficients estimated per chunk are too
      //    noisy at this span, the same failure the sarima+GLS
      //    sideband probe measured). Explicit GRAFT_MOD_* still wins.
      // Fill-in is PER KNOB (0 = unset), not all-or-nothing: the old
      // `noHarm` guard required every harm count to be zero, so any
      // caller presetting harmYearly (ZonesEval does) silently
      // disabled the arma daily/weekly injection — the r7/r8 arma
      // fleets actually ran yearly-only, which is where the
      // irreproducible r7 prose numbers came from.
      val wantShape = cfg.fitter == "arma"
      cfg.copy(
        maxTotalD = if (cfg.maxTotalD < 0) 0 else cfg.maxTotalD,
        harmDaily =
          if (cfg.harmDaily == 0 && wantShape) 3 else cfg.harmDaily,
        harmWeekly =
          if (cfg.harmWeekly == 0 && wantShape) 2 else cfg.harmWeekly,
        harmYearly = if (cfg.harmYearly == 0) 3 else cfg.harmYearly,
        // ONE QUARTER, not a year: the anchored level should be the
        // current-season deseasonalized level — long enough to
        // average out weather noise, short enough to track the slow
        // level drift a stationary model cannot carry. Measured
        // ladder on NEMASSBOST h=2879 (sarima + joint harmonics):
        // 4wk 0.941, 2mo 0.876, 3mo 0.873, 6mo 0.960, 1yr 0.906.
        anchorWindow =
          if (cfg.anchorWindow == 0) (365.25 * cfg.freq / 4).round.toInt
          else cfg.anchorWindow)
    }
  }

  /** Guerrero's λ selection: split the time span into blocks of
    * 2·freq samples, take each block's (mean, sd) — ONE bounded hash
    * aggregate, ≤ n/(2·freq) rows collected — and pick the λ (grid
    * [−1, 2] step 0.01, forecast::guerrero's bounds) minimizing the
    * coefficient of variation of s_i / m_i^(1−λ) across blocks.
    * Degenerate inputs (short series, constant blocks, non-positive
    * means) return 1.0 — the identity-shaped λ.
    */
  private[graft] def guerreroLambda(named: DataFrame, freq: Int): Double = {
    val blockLen = math.max(2, 2 * freq)
    val (n, tMin, _, dt) = sampleSpacing(named)
    if (n < 2L * blockLen || dt <= 0) return 1.0
    val stats = named
      .withColumn("__blk",
        floor((col("t") - lit(tMin)) / lit(blockLen * dt)))
      .groupBy(col("__blk"))
      .agg(count(lit(1)).as("c"), avg(col("v")).as("m"),
        stddev_samp(col("v")).as("s"))
      .filter(col("c") >= 2 && col("m") > 0 &&
        col("s").isNotNull && col("s") > 0)
      .select(col("m"), col("s"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    if (stats.length < 3) return 1.0
    def cv(lam: Double): Double = {
      val ratios = stats.map { case (m, s) =>
        s / math.pow(m, 1.0 - lam)
      }
      val mean = ratios.sum / ratios.length
      if (mean <= 0) Double.MaxValue
      else math.sqrt(ratios.map(r => (r - mean) * (r - mean)).sum /
        (ratios.length - 1)) / mean
    }
    (-100 to 200).map(i => i / 100.0).minBy(cv)
  }

  /** Resolve the configured Box–Cox mode against the data: None =
    * transform off (also the non-positive-series fallback for
    * λ ≠ 1, where the power/log transform leaves its domain).
    */
  private def resolveBoxCox(series: DataFrame,
      cfg: DarimaConfig): Option[Double] = {
    if (cfg.boxCox == "off") return None
    val named = series.select(col("time").cast("double").as("t"),
      col("value").cast("double").as("v"))
    val lam = cfg.boxCox match {
      case "auto" => guerreroLambda(named, math.max(cfg.freq, 1))
      case s => s.toDouble
    }
    if (lam == 1.0) return Some(1.0) // x−1 shift: domain-free
    val minRow = named.agg(min(col("v"))).head()
    if (minRow.isNullAt(0) || minRow.getDouble(0) <= 0) {
      System.err.println(
        s"[darima] boxCox λ=$lam needs a positive series — falling " +
          "back to off")
      None
    } else Some(lam)
  }

  /** Driver-side inverse pair of graft.ts.Transforms — same closed
    * forms, applied to the forecast arrays.
    */
  private def invBc(lam: Double)(z: Double): Double =
    if (z.isNaN) Double.NaN
    else if (lam == 0.0) math.exp(z)
    else {
      val b = lam * z + 1.0
      // an interval bound can escape the transform's domain (the
      // transformed-scale Gaussian has unbounded support); clamp to
      // the image's infimum, matching forecast::InvBoxCox
      if (b <= 0) 0.0 else math.pow(b, 1.0 / lam)
    }

  /** Median-unbiased back-transform of a transformed-scale forecast:
    * mean/intervals/fitted through the inverse (quantile
    * equivariance), se by the delta method d inv/dz at the mean,
    * residuals re-derived on the original scale (y − inv(fitted)).
    */
  private def invForecast(fc: ForecastResult,
      lam: Double): ForecastResult = {
    val inv = invBc(lam) _
    def deriv(z: Double): Double =
      if (z.isNaN) Double.NaN
      else if (lam == 0.0) math.exp(z)
      else {
        val b = lam * z + 1.0
        if (b <= 0) 0.0 else math.pow(b, 1.0 / lam - 1.0)
      }
    fc.copy(
      mean = fc.mean.map(inv),
      se = fc.se.indices.map(i => fc.se(i) * deriv(fc.mean(i))).toArray,
      lower = fc.lower.map(_.map(inv)),
      upper = fc.upper.map(_.map(inv)),
      fitted = fc.fitted.map(inv),
      residuals = fc.residuals.indices.map { i =>
        if (fc.fitted(i).isNaN || fc.residuals(i).isNaN) Double.NaN
        else inv(fc.fitted(i) + fc.residuals(i)) - inv(fc.fitted(i))
      }.toArray)
  }

  def run(spark: SparkSession, series: DataFrame, h: Int,
      cfg: DarimaConfig): (ArLinearModel, ForecastResult) =
    resolveBoxCox(series, cfg) match {
      case None => runOnScale(spark, series, h, cfg)
      case Some(lam) =>
        val tr = series.select(col("time"),
          graft.ts.Transforms.boxCox(col("value").cast("double"), lam)
            .as("value"))
        val (model, fcZ) = runOnScale(spark, tr, h, cfg)
        (model, invForecast(fcZ, lam))
    }

  private def runOnScale(spark: SparkSession, series: DataFrame, h: Int,
      cfg: DarimaConfig): (ArLinearModel, ForecastResult) = {
    val cfgFit = calibrateLongHorizon(cfg, h)
    val cached = series.cache()
    try {
      // ONE stats job: the row count and (for the timerange chunker)
      // the chunk bounds — previously two sequential full-data
      // actions (count, then Chunker.timeChunks' min/max head)
      val statsRow = cached.agg(count(lit(1)),
        min(col("time").cast("double")),
        max(col("time").cast("double"))).head()
      val n = statsRow.getLong(0)
      val tb: Option[(Double, Double)] =
        if (statsRow.isNullAt(1)) None
        else Some((statsRow.getDouble(1), statsRow.getDouble(2)))
      val coefsRaw = fitChunkCoefsBounded(spark, cached, cfgFit,
        if (cfgFit.chunker == "timerange") Some(tb) else None)
      val useHoldoutW = cfg.seasonalWeighting == "holdout"
      // the coef table is tiny (K·(p+3) rows) — cache it when the
      // holdout scoring pass would otherwise re-run the whole fit
      val coefs0 = if (useHoldoutW) coefsRaw.cache() else coefsRaw
      val coefs =
        if (!useHoldoutW) coefs0
        else {
          val ws = holdoutSeasonalWeights(cached, coefs0)
          if (ws.isEmpty) coefs0
          else {
            val mult = ws.foldLeft(lit(1.0)) { case (acc, (cid, m)) =>
              when(col("chunk_id") === cid, lit(m)).otherwise(acc)
            }
            coefs0.withColumn("weight",
              when(col("lag_idx") < -2, col("weight") * mult)
                .otherwise(col("weight")))
          }
        }
      val combined = globalModel(
        combine(coefs, cfg.method, cfg.recencyDecay, cfg.numChunks,
          cfg.decayScope), n)
      if (useHoldoutW) coefs0.unpersist()
      val model0 =
        if (cfgFit.anchorWindow > 0)
          anchorLevel(cached, combined, cfgFit.anchorWindow)
        else combined
      // forecasting only needs the last p observations
      val tailTv = seriesTailTimed(cached, model0.p)
      val tail = tailTv.map(_._2)
      // Fourier phase of the first tail sample, in sample units —
      // regular spacing makes the tail Δt identical to the chunks'
      val tauStart =
        if (model0.harmonics.isEmpty || tailTv.length < 2) Double.NaN
        else {
          // median diff, matching fitOneChunk's gap-robust dt — the
          // average form drifts the daily-harmonic phase on series
          // with DST holes (see medianDt)
          val dt = medianDt(tailTv.map(_._1))
          if (dt <= 0) Double.NaN else tailTv.head._1 / dt
        }
      val fc = Forecast.forecast(model0.copy(n = n), tail, h, cfg.levels,
        startIndex = n - tail.length, tauStart = tauStart,
        dampTrend = cfg.dampTrend)
      // fitted/residuals from the tail window are partial by design;
      // distributed fitted values are exposed separately if needed
      (model0, fc)
    } finally cached.unpersist()
  }

  /** Holdout model selection for the yearly-harmonic count: fit each
    * candidate on the train prefix, score its forecast of the train
    * tail (MASE, seasonal-naïve scaling), run the winner on the full
    * series. Costs |candidates|+1 pipeline runs; the holdout length
    * mirrors the forecast horizon (capped at 20% of the series) so
    * the validation measures exactly the long-horizon behavior the
    * harmonics exist to fix.
    */
  def runAutoHarmonics(spark: SparkSession, series: DataFrame, h: Int,
      cfg: DarimaConfig, candidates: Seq[Int] = Seq(0, 2, 3, 5))
      : (Int, ArLinearModel, ForecastResult) = {
    val cached = series.cache()
    try {
      val n = cached.count()
      val hHold = math.min(h.toLong, n / 5).toInt
      if (hHold < 1) {
        // series too short for a holdout — run the default directly
        val (m, f) = run(spark, cached, h, cfg)
        return (cfg.harmYearly, m, f)
      }
      // Holdout tail: a distributed top-k (TakeOrdered) of hHold rows;
      // the train prefix is then a pushed-down time filter against the
      // tail's first timestamp — no GlobalLimit over 80% of the data
      // (VERDICT r2 "What's wrong" #3).
      val hold = cached
        .select(col("time").cast("double").as("t"),
          col("value").cast("double").as("v"))
        .orderBy(col("t").desc).limit(hHold)
        .collect().sortBy(_.getDouble(0))
      val holdVals = hold.map(_.getDouble(1))
      val cutoff = hold.head.getDouble(0)
      val fitDf = cached.filter(col("time").cast("double") < cutoff)
      // selection metric: mean |hold − pred| — the MASE scale is a
      // common constant across candidates, so it cancels in the
      // argmin and the train series never reaches the driver
      val best = candidates.map { y =>
        val (_, fc) = run(spark, fitDf, hHold, cfg.copy(harmYearly = y))
        val mae = graft.eval.Metrics.mean(
          Array.tabulate(hHold)(i => math.abs(holdVals(i) - fc.mean(i))))
        (y, mae)
      }.minBy(_._2)
      val (model, fc) = run(spark, cached, h, cfg.copy(harmYearly = best._1))
      (best._1, model, fc)
    } finally cached.unpersist()
  }

  // ---------------------------------------------------------------
  // Fleet (many-series) path — the DARIMA paper's actual setting:
  // thousands of ultra-long series fitted in ONE Catalyst plan
  // (`groupBy(sid, chunk) fit → groupBy(sid, coef) combine`), not a
  // driver loop of per-series job cascades (VERDICT r9 #1; the
  // reference is one zone per spark-submit, darima_config.json:4-5).
  // ---------------------------------------------------------------

  /** Per-series chunk assignment for a (sid, t, v) frame — the fleet
    * twin of [[chunkSeries]]. Both strategies are one bounded
    * per-series aggregate (|series| rows, broadcast back) plus a pure
    * codegen projection: no window, no sort, no per-series job.
    *
    *  - "timerange": per-sid min/max → equal-width time ranges
    *    (closed-form, the SQL-mirrorable choice — d09's oracle).
    *  - "range": per-sid quantile-sketch bounds → fold over the
    *    bounds array (the 100 TB default, same sketch accuracy as
    *    the single-series [[graft.ts.Chunker.rangeChunks]]).
    */
  private def chunkSeriesMany(named: DataFrame,
      cfg: DarimaConfig): DataFrame = {
    val k = cfg.numChunks
    cfg.chunker match {
      // NO hard broadcast hint on the bounds tables: they are
      // O(|series|) rows — provably bounded per series but not
      // globally — so AQE picks broadcast when they are small and
      // falls back to a co-keyed exchange at fleet scale (the
      // Extensions.scala:43-48 posture; PlanAudit flags hard hints
      // on O(input) relations)
      case "timerange" =>
        val bounds = named.groupBy(col("sid"))
          .agg(min(col("t")).as("__tmin"), max(col("t")).as("__tmax"))
        named.join(bounds, "sid")
          .withColumn("chunk_id",
            when(col("__tmax") <= col("__tmin"), lit(0)).otherwise(
              least(floor((col("t") - col("__tmin"))
                / (col("__tmax") - col("__tmin")) * k), lit(k - 1))
                .cast("int")))
          .drop("__tmin", "__tmax")
      case "range" =>
        val qs = (1 until k).map(i => i.toDouble / k)
        val bounds = named.groupBy(col("sid"))
          .agg(percentile_approx(col("t"), array(qs.map(lit): _*),
            lit(10000)).as("__b"))
        named.join(bounds, "sid")
          .withColumn("chunk_id", aggregate(col("__b"), lit(0),
            (acc, b) => acc + when(col("t") > b, 1).otherwise(0))
            .cast("int"))
          .drop("__b")
    }
  }

  /** Fleet map step: every (series, chunk) fitted in one
    * `groupByKey.flatMapGroups` pass — [[fitOneChunk]] verbatim, so
    * a fleet fit of one series is bit-identical to [[fitChunkCoefs]]
    * under the same chunker (MultiseriesSpec pins it). Input columns:
    * (sid, time, value).
    */
  def fitChunkCoefsMany(spark: SparkSession, series: DataFrame,
      cfg: DarimaConfig): DataFrame = {
    import spark.implicits._
    val named = series.select(col("sid").cast("string").as("sid"),
      col("time").cast("double").as("t"),
      col("value").cast("double").as("v"))
    chunkSeriesMany(named, cfg)
      .select(col("sid"), col("chunk_id"), col("t"), col("v"))
      .as[(String, Int, Double, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key, it) =>
        val buf = it.map(r => (r._3, r._4)).toArray.sortBy(_._1)
        fitOneChunk(buf, cfg).iterator.map(c =>
          (key._1, key._2, c.coef, c.lag_idx, c.value, c.weight, c.n))
      }
      .toDF("sid", "chunk_id", "coef", "lag_idx", "value", "weight", "n")
  }

  /** Fleet reduce step: the DLSA/mean combine with `sid` in the
    * group key — one hash aggregate for every series at once.
    */
  def combineMany(coefs: DataFrame, method: String,
      recencyDecay: Double = 1.0, numChunks: Int = 0,
      decayScope: String = "all"): DataFrame =
    combineKeyed(coefs, method, recencyDecay, numChunks, decayScope,
      Seq("sid"))

  /** Fleet map step for a CANDIDATE SWEEP: every (series, chunk)
    * group fitted once per tagged config in ONE `groupByKey` pass —
    * the chunk rows are shuffled, buffered and time-sorted once
    * instead of once per candidate (d12 previously ran the whole
    * chunk+fit pipeline twice, once per AR order). All configs must
    * share the chunker and numChunks so the chunk assignment is
    * common; [[fitOneChunk]] is applied verbatim per config, so each
    * tagged slice is bit-identical to a standalone
    * [[fitChunkCoefsMany]] run under that config.
    */
  def fitChunkCoefsManyTagged(spark: SparkSession, series: DataFrame,
      cfgs: Seq[(Int, DarimaConfig)]): DataFrame = {
    import spark.implicits._
    require(cfgs.nonEmpty &&
      cfgs.map(c => (c._2.chunker, c._2.numChunks)).distinct.size == 1,
      "tagged sweep configs must share chunker and numChunks")
    val named = series.select(col("sid").cast("string").as("sid"),
      col("time").cast("double").as("t"),
      col("value").cast("double").as("v"))
    chunkSeriesMany(named, cfgs.head._2)
      .select(col("sid"), col("chunk_id"), col("t"), col("v"))
      .as[(String, Int, Double, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key, it) =>
        val buf = it.map(r => (r._3, r._4)).toArray.sortBy(_._1)
        cfgs.iterator.flatMap { case (tag, cfg) =>
          fitOneChunk(buf, cfg).iterator.map(c =>
            (tag, key._1, key._2, c.coef, c.lag_idx, c.value, c.weight,
              c.n))
        }
      }
      .toDF("p", "sid", "chunk_id", "coef", "lag_idx", "value",
        "weight", "n")
  }

  /** The fleet combine with the candidate tag riding the group key —
    * each (p, sid) slice reduces exactly as [[combineMany]] would
    * reduce that candidate's standalone fit table.
    */
  def combineManyTagged(coefs: DataFrame, method: String): DataFrame =
    combineKeyed(coefs, method, 1.0, 0, "all", Seq("p", "sid"))

  /** Collect the combined fleet table (|series|·(p+3) rows — the
    * only fit-path transfer, same bound per series as
    * [[globalModel]]) into per-series linear models.
    */
  def modelsMany(combined: DataFrame,
      counts: Map[String, Long]): Map[String, ArLinearModel] = {
    val rows = combined.select("sid", "coef", "lag_idx", "value").collect()
    rows.groupBy(_.getString(0)).map { case (sid, rs) =>
      sid -> modelFromRows(
        rs.toSeq.map(r => (r.getString(1), r.getInt(2), r.getDouble(3))),
        counts.getOrElse(sid, 0L))
    }
  }

  /** Every series' forecast-seed tail in ONE aggregate pass:
    * `groupBy(sid).agg(series_tail(p))` — the bounded-top-k shape
    * (map-side partials, O(partitions·series·p) exchange), replacing
    * |series| sequential TakeOrdered jobs. Input: (sid, t, v).
    */
  def tailsMany(named: DataFrame,
      p: Int): Map[String, Array[(Double, Double)]] = {
    named.groupBy(col("sid"))
      .agg(graft.functions.SeriesTail.series_tail(math.max(p, 1))(
        col("t"), col("v")).as("tail"))
      .collect().map { r =>
        r.getString(0) -> r.getSeq[Row](1)
          .map(x => (x.getDouble(0), x.getDouble(1))).toArray
      }.toMap
  }

  /** Per-series seasonal-naïve scale (the fleet twin of
    * [[seasonalNaiveScaleDF]]): one lag window partitioned BY SERIES
    * — the fleet-parallel shape (each series sorts within its own
    * partition; parallelism comes from the series dimension, which is
    * exactly the many-series setting) — plus one hash aggregate.
    */
  def seasonalNaiveScaleManyDF(named: DataFrame,
      m: Int): Map[String, Double] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sid")).orderBy(col("t"))
    named.withColumn("__lv", lag(col("v"), m).over(w))
      .filter(col("__lv").isNotNull)
      .groupBy(col("sid"))
      .agg(avg(abs(col("v") - col("__lv"))).as("sc"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  /** Fleet local-level anchoring — [[anchorLevel]] for every series
    * in two bounded passes. The deseasonalized window mean is linear
    * in the harmonic coefficients, so instead of a per-series
    * expression (which would not vectorize across series) the pass
    * aggregates the per-series window AVERAGE OF EACH HARMONIC BASIS
    * function (cos/sin/drift terms of the shared spec list — the
    * whole fleet runs one config, so specs are common even though
    * coefficients differ) and the driver takes
    * μ = avg(v) − Σ_spec coef·avg(basis) per series on the
    * ≤|series|·(4·specs+1) collected frame.
    */
  def anchorLevelMany(named: DataFrame,
      models: Map[String, ArLinearModel],
      window: Int): Map[String, ArLinearModel] = {
    val eligible = models.filter { case (_, m) =>
      m.beta1 == 0.0 && math.abs(1.0 - m.pi.sum) >= 1e-6
    }
    if (eligible.isEmpty) return models
    val stats = named.groupBy(col("sid"))
      .agg(count(lit(1)).as("n"), min(col("t")).as("tmin"),
        max(col("t")).as("tmax"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    // gap-robust per-series dt for the harmonic phase (see robustDt):
    // lag-1 diffs within each series' window partition, one median
    // sketch per series
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sid")).orderBy(col("t"))
    val dts = named.select(col("sid"), col("t"))
      .withColumn("__d", col("t") - lag(col("t"), 1).over(wLag))
      .filter(col("__d").isNotNull)
      .groupBy(col("sid"))
      .agg(percentile_approx(col("__d"), lit(0.5), lit(10000)).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val plan = eligible.keys.toSeq.sorted.flatMap { sid =>
      stats.get(sid).flatMap { case (n, tmin, tmax) =>
        if (n < 2) None
        else {
          val dt = (tmax - tmin) / (n - 1)
          if (dt <= 0) None
          else {
            val cutoff = tmax - (math.min(window.toLong, n) - 0.5) * dt
            val dtPhase = dts.get(sid).filter(_ > 0).getOrElse(dt)
            Some((sid, cutoff, dtPhase))
          }
        }
      }
    }
    if (plan.isEmpty) return models
    val spark = named.sparkSession
    import spark.implicits._
    val planDf = plan.toDF("sid", "__cutoff", "__dtPhase")
    // shared spec list across the fleet (one cfg ⇒ one spec set; a
    // degenerate series missing a spec just contributes coefficient 0)
    val specList = eligible.values.flatMap(_.harmonics)
      .map(h => (h.cycle, h.k, h.mcycle, h.mk, h.msin)).toSeq
      .distinct.sorted
    val based = named.join(broadcast(planDf), "sid")
      .filter(col("t") >= col("__cutoff"))
      .withColumn("__tau", col("t") / col("__dtPhase"))
    val basisCols = specList.zipWithIndex.flatMap {
      case ((cycle, kk, mcycle, mk, msin), i) =>
        val wc = col("__tau") * lit(2.0 * math.Pi * kk / cycle)
        val u = col("__tau") / lit(cycle.toDouble)
        val f =
          if (mcycle <= 0) lit(1.0)
          else {
            val wm = col("__tau") * lit(2.0 * math.Pi * mk / mcycle)
            if (msin) sin(wm) else cos(wm)
          }
        Seq(avg(f * cos(wc)).as(s"__b${i}_c"),
          avg(f * sin(wc)).as(s"__b${i}_s"),
          avg(f * u * cos(wc)).as(s"__b${i}_dc"),
          avg(f * u * sin(wc)).as(s"__b${i}_ds"))
    }
    val aggCols = avg(col("v")).as("__avg_v") +: basisCols
    val rows = based.groupBy(col("sid"))
      .agg(aggCols.head, aggCols.tail: _*).collect()
    val anchored = rows.flatMap { r =>
      val sid = r.getString(0)
      eligible.get(sid).map { m =>
        val mu = m.harmonics.foldLeft(r.getDouble(1)) { (acc, h) =>
          val i = specList.indexOf((h.cycle, h.k, h.mcycle, h.mk, h.msin))
          acc - (h.cos * r.getAs[Double](s"__b${i}_c") +
            h.sin * r.getAs[Double](s"__b${i}_s") +
            h.dcos * r.getAs[Double](s"__b${i}_dc") +
            h.dsin * r.getAs[Double](s"__b${i}_ds"))
        }
        sid -> m.copy(beta0 = mu * (1.0 - m.pi.sum))
      }
    }.toMap
    models ++ anchored
  }

  /** Fleet run: EVERY series fitted and combined inside one Catalyst
    * plan — `groupBy(sid, chunk)` fit, `groupBy(sid, coef)` DLSA —
    * plus one bounded pass each for counts, anchoring aggregates,
    * and forecast-seed tails. The driver's only per-series work is
    * the h-step forecast recursion from the (p+3)-row model + p-row
    * tail (bounded, embarrassingly parallelizable if ever needed).
    * Replaces |series| sequential [[run]] cascades — at thousands of
    * series the per-series job orchestration, not the math, is the
    * scale killer (VERDICT r9 #1).
    *
    * Input columns: (sid, time, value). Holdout seasonal weighting
    * is per-series model SELECTION and stays on the per-series path.
    */
  def runMany(spark: SparkSession, series: DataFrame, h: Int,
      cfg: DarimaConfig): Map[String, (ArLinearModel, ForecastResult)] = {
    require(cfg.seasonalWeighting == "off",
      "runMany: holdout seasonal weighting is a per-series selection " +
        "pass — use run() per series for that config")
    require(cfg.boxCox == "off",
      "runMany: Box–Cox λ is per-series model selection — use run() " +
        "per series for that config")
    val cfgFit = calibrateLongHorizon(cfg, h)
    val named = series.select(col("sid").cast("string").as("sid"),
      col("time").cast("double").as("t"),
      col("value").cast("double").as("v")).cache()
    try {
      val counts = named.groupBy(col("sid")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val coefs = fitChunkCoefsMany(spark,
        named.select(col("sid"), col("t").as("time"),
          col("v").as("value")), cfgFit)
      val combined = combineMany(coefs, cfg.method, cfg.recencyDecay,
        cfg.numChunks, cfg.decayScope)
      val models0 = modelsMany(combined, counts)
      val models =
        if (cfgFit.anchorWindow > 0)
          anchorLevelMany(named, models0, cfgFit.anchorWindow)
        else models0
      val maxP = models.values.map(_.p).foldLeft(1)(math.max)
      val tails = tailsMany(named, maxP)
      models.map { case (sid, m0) =>
        val n = counts.getOrElse(sid, 0L)
        val tailTv = tails.getOrElse(sid, Array.empty[(Double, Double)])
          .takeRight(m0.p)
        val tail = tailTv.map(_._2)
        val tauStart =
          if (m0.harmonics.isEmpty || tailTv.length < 2) Double.NaN
          else {
            val dt = medianDt(tailTv.map(_._1))
            if (dt <= 0) Double.NaN else tailTv.head._1 / dt
          }
        val fc = Forecast.forecast(m0.copy(n = n), tail, h, cfg.levels,
          startIndex = n - tail.length, tauStart = tauStart,
          dampTrend = cfg.dampTrend)
        sid -> (m0, fc)
      }
    } finally { named.unpersist(); () }
  }

  /** Fleet Guerrero λ: [[guerreroLambda]] for every series in TWO
    * bounded passes — per-sid (n, tmin, tmax) spacing aggregate, then
    * per-(sid, block) (mean, sd) stats (≤ Σ n_sid/(2·freq) rows
    * collected), grid argmin per sid on the driver. Block bounds,
    * filters, grid and tie-break are the single-series rule verbatim.
    */
  private[pipeline] def guerreroLambdaMany(named: DataFrame,
      freq: Int): Map[String, Double] = {
    val blockLen = math.max(2, 2 * freq)
    val spac = named.groupBy(col("sid"))
      .agg(count(lit(1)).as("n"), min(col("t")).as("t0"),
        max(col("t")).as("t1"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val eligible = spac.collect {
      case (s, (n, t0, t1))
        if n >= 2L * blockLen && (t1 - t0) / (n - 1) > 0 =>
        (s, t0, (t1 - t0) / (n - 1))
    }.toSeq
    if (eligible.isEmpty) return spac.keysIterator.map(_ -> 1.0).toMap
    val spark = named.sparkSession
    import spark.implicits._
    val eDf = eligible.toDF("sid", "__t0", "__dt")
    val stats = named.join(broadcast(eDf), "sid")
      .withColumn("__blk", floor(
        (col("t") - col("__t0")) / (lit(blockLen) * col("__dt"))))
      .groupBy(col("sid"), col("__blk"))
      .agg(count(lit(1)).as("c"), avg(col("v")).as("m"),
        stddev_samp(col("v")).as("s"))
      .filter(col("c") >= 2 && col("m") > 0 &&
        col("s").isNotNull && col("s") > 0)
      .select(col("sid"), col("m"), col("s"))
      .collect().groupBy(_.getString(0))
      .map { case (s, rs) =>
        s -> rs.map(r => (r.getDouble(1), r.getDouble(2)))
      }
    spac.keysIterator.map { s =>
      val st = stats.getOrElse(s, Array.empty[(Double, Double)])
      if (st.length < 3) s -> 1.0
      else {
        def cv(lam: Double): Double = {
          val ratios = st.map { case (m, sd) =>
            sd / math.pow(m, 1.0 - lam)
          }
          val mean = ratios.sum / ratios.length
          if (mean <= 0) Double.MaxValue
          else math.sqrt(ratios.map(r => (r - mean) * (r - mean)).sum /
            (ratios.length - 1)) / mean
        }
        s -> (-100 to 200).map(i => i / 100.0).minBy(cv)
      }
    }.toMap
  }

  /** Fleet Box–Cox: per-series λ (Guerrero or fixed) resolved in
    * bounded passes, the forward transform applied with λ riding as a
    * broadcast COLUMN (same float ops as the fixed-λ
    * [[graft.ts.Transforms.boxCox]]), one [[runMany]] fleet plan on
    * the transformed scale, and the median-unbiased inverse applied
    * per series on the driver-side forecast arrays — lifting
    * runMany's "Box–Cox is per-series selection" refusal the same way
    * [[runAutoHarmonicsMany]] lifted the harmonics one. A non-positive
    * series falls back to no transform for THAT series only (the
    * per-series rule).
    */
  def runBoxCoxMany(spark: SparkSession, series: DataFrame, h: Int,
      cfg: DarimaConfig): Map[String, (ArLinearModel, ForecastResult)] = {
    if (cfg.boxCox == "off") return runMany(spark, series, h, cfg)
    import spark.implicits._
    val named = series.select(col("sid").cast("string").as("sid"),
      col("time").cast("double").as("t"),
      col("value").cast("double").as("v")).cache()
    try {
      val lamBase: Map[String, Double] = cfg.boxCox match {
        case "auto" => guerreroLambdaMany(named, math.max(cfg.freq, 1))
        case s =>
          val lam = s.toDouble
          named.select(col("sid")).distinct().collect()
            .map(_.getString(0) -> lam).toMap
      }
      val mins = named.groupBy(col("sid")).agg(min(col("v"))).collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toMap
      val lams: Map[String, Option[Double]] = lamBase.map {
        case (s, lam) =>
          if (lam == 1.0) s -> Some(1.0) // x−1 shift: domain-free
          else if (mins.getOrElse(s, 0.0) <= 0) {
            System.err.println(s"[darima] boxCox λ=$lam needs a " +
              s"positive series — falling back to off for '$s'")
            s -> None
          } else s -> Some(lam)
      }
      val lamDf = lams.toSeq
        .map { case (s, o) => (s, o.getOrElse(Double.NaN)) }
        .toDF("sid", "__lam")
      val tr = named.join(broadcast(lamDf), "sid")
        .withColumn("__bc",
          when(col("__lam").isNaN, col("v"))
            .when(col("__lam") === 0.0, log(col("v")))
            .otherwise((pow(col("v"), col("__lam")) - lit(1.0)) /
              col("__lam")))
        .select(col("sid"), col("t").as("time"), col("__bc").as("value"))
      runMany(spark, tr, h, cfg.copy(boxCox = "off")).map {
        case (s, (m, fc)) =>
          s -> (m, lams.get(s).flatten
            .map(l => invForecast(fc, l)).getOrElse(fc))
      }
    } finally { named.unpersist(); () }
  }

  /** Fleet auto-harmonics: [[runAutoHarmonics]]' holdout selection
    * for EVERY series in |candidates| fleet plans plus ≤|candidates|
    * refit plans — instead of |series|·(|candidates|+1) sequential
    * per-series job cascades. The selection is the per-series rule
    * verbatim: per-sid holdout tail of min(h, n/5) rows (one bounded
    * series_tail pass), candidate fit on the time-prefix, mean
    * |hold − pred| argmin with ties to the earlier candidate.
    * Scoring each sid on the first hHold(sid) steps of the fleet-wide
    * maxHold forecast equals the per-series hHold forecast — the
    * recursion is prefix-stable. Series too short for a holdout keep
    * the configured default (same as the per-series path). Composes
    * with fleet Box–Cox: every inner run routes through
    * [[runBoxCoxMany]] (a no-op delegate when λ is off), matching the
    * per-series path where each candidate run re-resolves λ on the
    * same train prefix and selection scores the inverse-transformed
    * forecasts on the original scale.
    */
  def runAutoHarmonicsMany(spark: SparkSession, series: DataFrame,
      h: Int, cfg: DarimaConfig, candidates: Seq[Int] = Seq(0, 2, 3, 5))
      : Map[String, (Int, ArLinearModel, ForecastResult)] = {
    import spark.implicits._
    val named = series.select(col("sid").cast("string").as("sid"),
      col("time").cast("double").as("t"),
      col("value").cast("double").as("v")).cache()
    try {
      val counts = named.groupBy(col("sid")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val hHold = counts.map { case (s, n) =>
        s -> math.min(h.toLong, n / 5).toInt
      }
      val anyHold = hHold.values.exists(_ >= 1)
      if (!anyHold)
        return runBoxCoxMany(spark, series, h, cfg)
          .map { case (s, (m, f)) => s -> (cfg.harmYearly, m, f) }
      val maxHold = hHold.values.max
      val tails = tailsMany(named, maxHold)
        .map { case (s, tl) => s -> tl.takeRight(math.max(hHold(s), 0)) }
      val cuts = tails.collect {
        case (s, tl) if hHold(s) >= 1 => (s, tl.head._1)
      }.toSeq
      val cutDf = cuts.toDF("sid", "__cut")
      val fitDf = named.join(broadcast(cutDf), Seq("sid"), "left_outer")
        .filter(col("__cut").isNull || col("t") < col("__cut"))
        .select(col("sid"), col("t").as("time"), col("v").as("value"))
      val holdVals = tails.map { case (s, tl) => s -> tl.map(_._2) }
      // route through the Box–Cox selector: with λ off it delegates
      // straight to runMany; with λ on this composes the two fleet
      // selections exactly like the per-series path (each candidate
      // run re-resolves λ on the SAME train prefix, selection scores
      // on the original scale after the inverse)
      val perCand = candidates.map { y =>
        y -> runBoxCoxMany(spark, fitDf, maxHold,
          cfg.copy(harmYearly = y))
      }
      val winners: Map[String, Int] = counts.keysIterator.map { s =>
        val hh = hHold(s)
        if (hh < 1) s -> cfg.harmYearly
        else {
          val hv = holdVals(s)
          s -> perCand.map { case (y, res) =>
            val fc = res(s)._2
            (y, graft.eval.Metrics.mean(Array.tabulate(hh)(i =>
              math.abs(hv(i) - fc.mean(i)))))
          }.minBy(_._2)._1
        }
      }.toMap
      winners.values.toSeq.distinct.sorted.flatMap { y =>
        val sids = winners.collect { case (s, w) if w == y => s }.toSeq
        runBoxCoxMany(spark,
          named.filter(col("sid").isin(sids: _*))
            .select(col("sid"), col("t").as("time"),
              col("v").as("value")),
          h, cfg.copy(harmYearly = y))
          .map { case (s, (m, f)) => s -> (y, m, f) }
      }.toMap
    } finally { named.unpersist(); () }
  }

  /** Load one of the reference-format series CSVs: header
    * `"demand","time"`, time as `%Y-%m-%d %H:%M:%S` strings —
    * explicit schema, single pass (the reference infers schema with
    * an extra full scan, darima.py:138).
    */
  def loadSeriesCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.read
      .option("header", "true")
      .schema(StructType(Seq(
        StructField("demand", DoubleType),
        StructField("time", StringType))))
      .csv(path)
      .select(to_timestamp(col("time"), "yyyy-MM-dd HH:mm:ss").as("time"),
        col("demand").as("value"))
  }

  /** S3 sink: dump a forecast in the reference's forecast.json shape
    * (reference: darima.py:390-412 — keys level/mean/se/lower/upper/
    * fitted/residuals; lower/upper are per-step arrays over levels).
    */
  def writeForecastJson(fc: graft.forecast.ForecastResult,
      path: String): Unit =
    writeForecastJsonTail(fc, path,
      s""""fitted":${jsonArr(fc.fitted)},""" +
        s""""residuals":${jsonArr(fc.residuals)}""")

  private def jsonArr(xs: Array[Double]): String =
    xs.map(v => if (v.isNaN) "null" else v.toString)
      .mkString("[", ",", "]")

  private def writeForecastJsonTail(fc: graft.forecast.ForecastResult,
      path: String, tail: String): Unit = {
    val h = fc.mean.length
    val lower = (0 until h).map(i =>
      fc.levels.indices.map(li => fc.lower(li)(i)).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val upper = (0 until h).map(i =>
      fc.levels.indices.map(li => fc.upper(li)(i)).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val json = s"""{"level":${fc.levels.mkString("[", ",", "]")},""" +
      s""""mean":${jsonArr(fc.mean)},"se":${jsonArr(fc.se)},""" +
      s""""lower":$lower,"upper":$upper,""" + tail + "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

  /** Scale-safe forecast sink (VERDICT r9 #5). At or below
    * `inlineMax` train rows, `forecast.json` carries the full
    * fitted/residual arrays — byte parity with the reference sink
    * (darima.py:400-408), which collects whole-train arrays; above
    * it, the ONLY full-series driver collect in the engine is
    * replaced by a distributed parquet write of
    * [[fittedResidualsDF]] and the JSON carries a relative pointer
    * (`fitted_residuals_path`) instead. Returns true when the arrays
    * were inlined.
    */
  def writeForecastOutputs(fc: graft.forecast.ForecastResult,
      frDf: DataFrame, n: Long, outDir: String,
      inlineMax: Long): Boolean = {
    if (n <= inlineMax) {
      // the rows come back to the driver anyway: sort them here by t
      // (nulls first, as orderBy would) instead of a distributed sort
      val fr = frDf.select(col("t"), col("fitted"), col("residual")).collect()
      java.util.Arrays.sort(fr, (a: Row, b: Row) =>
        if (a.isNullAt(0) || b.isNullAt(0))
          java.lang.Boolean.compare(!a.isNullAt(0), !b.isNullAt(0))
        else java.lang.Double.compare(a.getDouble(0), b.getDouble(0)))
      def arrOf(i: Int) = fr.map(r =>
        if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
      writeForecastJson(fc.copy(fitted = arrOf(1), residuals = arrOf(2)),
        s"$outDir/forecast.json")
      true
    } else {
      val rel = "fitted_residuals.parquet"
      frDf.select(col("t"), col("fitted"), col("residual"))
        .write.mode("overwrite").parquet(s"$outDir/$rel")
      writeForecastJsonTail(fc, s"$outDir/forecast.json",
        s""""fitted_residuals_path":"$rel"""")
      false
    }
  }
}
