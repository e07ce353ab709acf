package graft.pipeline

import org.apache.spark.sql.functions.{col, lit}
import graft.GraftSession
import graft.eval.Metrics

/** Evaluate the pipeline over the reference's whole test corpus — all
  * 10 GEFCom2017-style electricity zones (reference: data/ listing,
  * SURVEY.md §5.2) — and print one JSON metrics line per zone plus a
  * mean row. Usage: ZonesEval [dataDir] (default /root/reference/data).
  */
object ZonesEval {
  val allZones: Seq[String] = Seq("CT", "MASS", "ME", "NEMASSBOST", "NH",
    "RI", "SEMASS", "TOTAL", "VT", "WCMASS")

  /** GRAFT_ZONES=NEMASSBOST,VT narrows the run (single-zone fitter
    * measurements); default is the full 10-zone corpus.
    */
  def zones: Seq[String] = sys.env.get("GRAFT_ZONES")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(allZones)

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/reference/data")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val harmEnv0 = sys.env.getOrElse("GRAFT_HARM_YEARLY", "3")
      val cfg = DarimaConfig(
        fitter = sys.env.getOrElse("GRAFT_FITTER", "longar"),
        harmDaily = sys.env.getOrElse("GRAFT_HARM_DAILY", "0").toInt,
        harmWeekly = sys.env.getOrElse("GRAFT_HARM_WEEKLY", "0").toInt,
        harmYearly = if (harmEnv0 == "auto") 3 else harmEnv0.toInt,
        modDaily = sys.env.getOrElse("GRAFT_MOD_DAILY", "0").toInt,
        modYearly = sys.env.getOrElse("GRAFT_MOD_YEARLY", "0").toInt,
        maxP = sys.env.getOrElse("GRAFT_MAX_P", "5").toInt,
        maxQ = sys.env.getOrElse("GRAFT_MAX_Q", "5").toInt,
        maxSP = sys.env.getOrElse("GRAFT_MAX_SP", "2").toInt,
        maxSQ = sys.env.getOrElse("GRAFT_MAX_SQ", "2").toInt,
        maxLag = sys.env.getOrElse("GRAFT_MAX_LAG", "0").toInt,
        anchorWindow = sys.env.getOrElse("GRAFT_ANCHOR", "0").toInt,
        jointHarmonics =
          sys.env.getOrElse("GRAFT_JOINT", "1") != "0",
        recencyDecay = sys.env.getOrElse("GRAFT_DECAY", "1.0").toDouble,
        decayScope = sys.env.getOrElse("GRAFT_DECAY_SCOPE", "all"),
        seasonalWeighting = sys.env.getOrElse("GRAFT_SEASONAL_W", "off"),
        boxCox = sys.env.getOrElse("GRAFT_LAMBDA", "off"))
      // test tails are h rows per zone — the bounded driver transfer
      // metrics need anyway
      val testVals: Map[String, Array[Double]] = zones.map { zone =>
        zone -> Darima.loadSeriesCsv(spark, s"$dataDir/${zone}_test.csv")
          .orderBy("time").select("value").collect().map(_.getDouble(0))
      }.toMap
      def score(zone: String, fc: graft.forecast.ForecastResult,
          scale: Double): (Double, Double, Double, Double) = {
        val tv = testVals(zone)
        val mase = Metrics.mean(Metrics.maseScaled(tv, fc.mean, scale))
        val smape = Metrics.mean(Metrics.smape(tv, fc.mean))
        val msis80 = Metrics.mean(Metrics.msisScaled(tv,
          fc.lower(0), fc.upper(0), 80, scale))
        val msis95 = Metrics.mean(Metrics.msisScaled(tv,
          fc.lower(1), fc.upper(1), 95, scale))
        println(f"""{"zone":"$zone","mase":$mase%.4f,"smape":$smape%.4f,""" +
          f""""msis_80":$msis80%.4f,"msis_95":$msis95%.4f}""")
        (mase, smape, msis80, msis95)
      }
      val harmEnv = sys.env.getOrElse("GRAFT_HARM_YEARLY", "3")
      val hs = testVals.values.map(_.length).toSet
      val fleetOff = sys.env.get("GRAFT_FLEET").contains("0")
      val rows =
        if (hs.size != 1 || fleetOff) {
          // per-zone path: unequal horizons need per-zone runs;
          // GRAFT_FLEET=0 forces this path (A/B escape hatch). Every
          // selection config — auto-harmonics, Box–Cox λ, both —
          // otherwise runs fleet-wide.
          zones.map { zone =>
            val train =
              Darima.loadSeriesCsv(spark, s"$dataDir/${zone}_train.csv")
            val scale = Darima.seasonalNaiveScaleDF(train, cfg.freq)
            val h = testVals(zone).length
            val (_, fc) =
              if (harmEnv == "auto") {
                val (chosen, m, f) =
                  Darima.runAutoHarmonics(spark, train, h, cfg)
                println(s"""{"zone":"$zone","harm_yearly_auto":$chosen}""")
                (m, f)
              } else Darima.run(spark, train, h, cfg)
            score(zone, fc, scale)
          }
        } else {
          // FLEET path (VERDICT r9 #1): all zones fitted + combined
          // in ONE Catalyst plan (groupBy(zone, chunk) fit →
          // groupBy(zone, coef) DLSA), one keyed pass each for the
          // seasonal-naïve scales and the forecast-seed tails —
          // replaces 10 sequential per-zone job cascades. With
          // GRAFT_HARM_YEARLY=auto the per-series harmonic SELECTION
          // also runs fleet-wide: |candidates| holdout fleet plans +
          // ≤|candidates| refits instead of zones·(candidates+1)
          // cascades (runAutoHarmonicsMany — selection rule identical
          // to the per-zone path).
          val t0 = System.nanoTime()
          val fleetTrain = zones.map { zone =>
            Darima.loadSeriesCsv(spark, s"$dataDir/${zone}_train.csv")
              .select(lit(zone).as("sid"), col("time"), col("value"))
          }.reduce(_ unionByName _)
          val named = fleetTrain.select(col("sid"),
            col("time").cast("double").as("t"),
            col("value").cast("double").as("v"))
          val scales = Darima.seasonalNaiveScaleManyDF(named, cfg.freq)
          val results =
            if (harmEnv == "auto") {
              val r = Darima.runAutoHarmonicsMany(spark, fleetTrain,
                hs.head, cfg)
              zones.foreach { z =>
                println(s"""{"zone":"$z","harm_yearly_auto":${r(z)._1}}""")
              }
              r.map { case (z, (_, m, f)) => z -> (m, f) }
            } else if (cfg.boxCox != "off")
              Darima.runBoxCoxMany(spark, fleetTrain, hs.head, cfg)
            else Darima.runMany(spark, fleetTrain, hs.head, cfg)
          println(f"""{"fleet_zones":${zones.length},"fleet_wall_s":""" +
            f"""${(System.nanoTime() - t0) / 1e9}%.1f}""")
          zones.map { zone => score(zone, results(zone)._2, scales(zone)) }
        }
      val n = rows.length
      println(f"""{"zone":"MEAN","mase":${rows.map(_._1).sum / n}%.4f,""" +
        f""""smape":${rows.map(_._2).sum / n}%.4f,""" +
        f""""msis_80":${rows.map(_._3).sum / n}%.4f,""" +
        f""""msis_95":${rows.map(_._4).sum / n}%.4f}""")
      writeArtifact(zones.zip(rows))
    } finally spark.stop()
  }

  /** The regression gate is STRICT BY DEFAULT: any zone regressing
    * > 5% MASE vs the newest prior artifact fails the run. Setting
    * GRAFT_ZONES_STRICT=0 downgrades to warn-only — the deliberate
    * escape hatch for an accepted trade-off, which must then be noted
    * in RESULTS.md.
    */
  private[graft] def strictEnabled(env: String => Option[String]): Boolean =
    !env("GRAFT_ZONES_STRICT").contains("0")

  /** Zone-regression detection vs a prior artifact's JSON text,
    * comparing within one fitter config only (a sarima run flagged
    * against a longar artifact is a config diff, not a regression;
    * pre-round-7 artifacts carry no fitter field: treated as the
    * longar default). Factored out of [[writeArtifact]] so the gate
    * logic is spec-testable without running the pipeline.
    */
  private[graft] def regressions(priorTxt: String, fitter: String,
      rows: Seq[(String, Double)]): Seq[(String, Double, Double)] = {
    val entry =
      (""""zone":"([A-Z]+)",(?:"fitter":"([a-z]+)",)?""" +
        """"mase":([0-9.]+)""").r
    val prev = entry.findAllMatchIn(priorTxt)
      .filter(m => Option(m.group(2)).getOrElse("longar") == fitter)
      .map(m => m.group(1) -> m.group(3).toDouble).toMap
    rows.flatMap { case (z, mase) =>
      prev.get(z).filter(p => mase > p * 1.05).map(p => (z, p, mase))
    }
  }

  /** Versioned accuracy artifact: per-zone metrics as one JSON file
    * (GRAFT_ZONES_OUT, default ZONES_latest.json — copied to
    * ZONES_r{N}.json per round), machine-diffable like BENCH_r{N}.
    * If a previous round's ZONES_r*.json exists, any zone whose MASE
    * regressed > 5% against it is flagged on stdout and fails the run
    * ([[strictEnabled]] — on unless GRAFT_ZONES_STRICT=0), so
    * accuracy regressions surface mechanically instead of via
    * RESULTS.md prose diffing. Partial runs (GRAFT_ZONES=...) compare
    * only the zones they ran.
    */
  private def writeArtifact(
      rows: Seq[(String, (Double, Double, Double, Double))]): Unit = {
    val out = sys.env.getOrElse("GRAFT_ZONES_OUT",
      "/root/repo/ZONES_latest.json")
    val fitter = sys.env.getOrElse("GRAFT_FITTER", "longar")
    val body = rows.map { case (z, (mase, smape, m80, m95)) =>
      f"""  {"zone":"$z","fitter":"$fitter","mase":$mase%.4f,""" +
        f""""smape":$smape%.4f,""" +
        f""""msis_80":$m80%.4f,"msis_95":$m95%.4f}"""
    }.mkString("[\n", ",\n", "\n]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), body)
    println(s"""{"zones_artifact":"$out"}""")
    // regression gate vs the newest prior round artifact
    val repo = new java.io.File("/root/repo")
    val prior = Option(repo.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("ZONES_r\\d+\\.json"))
      .sortBy(_.getName).lastOption
    prior.foreach { pf =>
      val txt = java.nio.file.Files.readString(pf.toPath)
      val regressed = regressions(txt, fitter,
        rows.map { case (z, (mase, _, _, _)) => (z, mase) })
      regressed.foreach { case (z, p, now) =>
        println(f"""{"zone_regression":"$z","prev":$p%.4f,"""
          + f""""now":$now%.4f,"vs":"${pf.getName}"}""")
      }
      if (regressed.nonEmpty && strictEnabled(sys.env.get))
        throw new IllegalStateException(
          s"${regressed.size} zone(s) regressed > 5% vs ${pf.getName} " +
            "(set GRAFT_ZONES_STRICT=0 to downgrade to warn-only, and " +
            "note the accepted trade-off in RESULTS.md)")
    }
  }
}
