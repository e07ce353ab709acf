package graft.pipeline.bench

import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark driver for one workload in one JVM.
  *
  * Usage: BenchMain --workload darima_paper|darima_fleet --seed N
  *   --seconds S --trace 0|1 --work DIR [--bounds FILE] [--commit SHA]
  *   [--small] [--plant-failure K] [--gen-only]
  *
  * Closed loop, one client: one pipeline run at a time on local[4].
  * Untraced (--trace 0): the workload's warm-up, set-up three times
  * (median = setup_s), then the pipeline until S seconds have passed,
  * at least once. Every run's outputs are checked outside its timed
  * region; a run that throws or fails a check counts as failed and is
  * left out of the timings. Traced (--trace 1): a warm-up run, one
  * untraced run, then the same pipeline recomposed stage by stage
  * inside spans, checked against the untraced result. The last stdout
  * line is the result JSON; a fuller record goes to DIR/results.
  */
object BenchMain {
  private val Cores = 4
  private val SetupReps = 3
  private var sessionReadyS = 0.0

  final case class Opts(workload: String = "", seed: Long = 1L,
      seconds: Int = 10, trace: Boolean = false, work: String = ".bench_build",
      bounds: Option[String] = None, commit: String = "unknown",
      small: Boolean = false, plantFailure: Int = 0,
      genOnly: Boolean = false)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--bounds" :: v :: t => parse(t, o.copy(bounds = Some(v)))
    case "--commit" :: v :: t => parse(t, o.copy(commit = v))
    case "--small" :: t => parse(t, o.copy(small = true))
    case "--plant-failure" :: v :: t => parse(t, o.copy(plantFailure = v.toInt))
    case "--gen-only" :: t => parse(t, o.copy(genOnly = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val wl: Workload = o.workload match {
      case PaperWorkload.name => PaperWorkload
      case FleetWorkload.name => FleetWorkload
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val work = Paths.get(o.work).toAbsolutePath.toString
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      // DarimaMain's session settings, plus scratch dirs in the work dir
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sessionReadyS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    try {
      if (o.genOnly) genOnly(spark, wl, o, work) else bench(spark, wl, o, work)
    } finally spark.stop()
  }

  /** Generates the inputs once and prints their sizes and checksum. */
  private def genOnly(spark: SparkSession, wl: Workload, o: Opts, work: String): Unit = {
    val in = wl.setup(spark, o.seed, s"$work/inputs/${wl.name}-gen", o.small)
    println(Json.obj("workload" -> wl.name, "seed" -> o.seed,
      "train_rows" -> in.trainRows, "test_rows" -> in.testRows,
      "checksum" -> in.checksum))
  }

  private def bench(spark: SparkSession, wl: Workload, o: Opts, work: String): Unit = {
    HeapPeak.install()
    // accuracy bounds hold for the full-size inputs only
    val bounds =
      if (o.small) Map.empty[String, (Double, Double)]
      else o.bounds.map(loadBounds(_, wl.name)).getOrElse(Map.empty)
    val inDir = s"$work/inputs/${wl.name}"
    val outDir = s"$work/outputs/${wl.name}"
    new java.io.File(outDir).mkdirs()

    var warmS = 0.0
    if (!o.trace) {
      val tw = System.nanoTime()
      wl.warmUp(spark, o.seed, s"$inDir/warm")
      warmS = (System.nanoTime() - tw) / 1e9
    }

    // set-up: generate, write and checksum the seeded inputs
    val reps = if (o.trace) 1 else SetupReps
    val setups = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      val in = wl.setup(spark, o.seed, s"$inDir/r$r", o.small)
      ((System.nanoTime() - t0) / 1e9, in)
    }
    val in = setups.last._2
    val checksums = setups.map(_._2.checksum).distinct
    val failures = ArrayBuffer.empty[String]
    if (checksums.size != 1)
      failures += s"set-up not deterministic: checksums ${checksums.mkString(",")}"

    var attempted = 0
    var failed = 0
    val passes = ArrayBuffer.empty[(Double, Boolean)]
    val okWalls = ArrayBuffer.empty[Double]
    val heaps = ArrayBuffer.empty[Double]
    var first: Option[Outcome] = None
    var last: Option[Outcome] = None

    /** One checked pipeline run; the outcome only when it passed. A
      * warm-up run is checked but left out of the timings.
      */
    def attempt(warmUp: Boolean = false): Option[Outcome] = {
      attempted += 1
      spark.catalog.clearCache()
      HeapPeak.gc()
      HeapPeak.reset()
      val t0 = System.nanoTime()
      val res =
        try {
          if (attempted == o.plantFailure)
            throw new IllegalStateException("planted failure")
          Right(wl.run(spark, in, outDir))
        } catch { case e: Exception => Left(s"run $attempted threw: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      HeapPeak.gc()
      val heap = HeapPeak.peakMb
      val problems = res match {
        case Left(err) => Seq(err)
        case Right(oc) =>
          Checks.outcome(oc, wl.h, wl.cfg.tol, bounds) ++ wl.extraChecks(outDir) ++
            first.toSeq.flatMap(f =>
              if (Seq(f.mase, f.smape, f.msis95) == Seq(oc.mase, oc.smape, oc.msis95)) Nil
              else Seq(s"run $attempted: accuracy differs from the first run"))
      }
      passes += ((wall, problems.isEmpty))
      failures ++= problems.map(p => s"run $attempted: $p")
      if (problems.nonEmpty) { failed += 1; None }
      else {
        if (first.isEmpty) first = res.toOption
        last = res.toOption
        if (!warmUp) { okWalls += wall; heaps += heap }
        res.toOption
      }
    }

    val metrics = ArrayBuffer.empty[(String, Double, String, Int)]
    var spans: Seq[SpanStats] = Nil
    var jobs: Seq[(Int, String, Long, Long, Double, Double)] = Nil
    if (!o.trace) {
      val t0 = System.nanoTime()
      while (attempted == 0 || (System.nanoTime() - t0) / 1e9 < o.seconds) attempt()
      val walls = if (okWalls.nonEmpty) okWalls.toSeq else passes.map(_._1).toSeq
      metrics += (("setup_s", median(setups.map(_._1)), "s", setups.size))
      metrics += (("pipeline_s", median(walls), "s", okWalls.size))
      metrics += (("heap_peak_mb", median(if (heaps.nonEmpty) heaps.toSeq else Seq(0.0)),
        "MB", heaps.size))
      last.foreach { oc =>
        metrics += (("mase", oc.mase, "ratio", 1))
        metrics += (("smape", oc.smape, "ratio", 1))
        metrics += (("msis_95", oc.msis95, "ratio", 1))
      }
    } else {
      // the first run in a JVM pays for JIT and codegen; the overhead
      // compares the traced run with a second, warm untraced run
      val tw = System.nanoTime()
      attempt(warmUp = true)
      warmS = (System.nanoTime() - tw) / 1e9
      val untraced = attempt()
      val tr = Tracer.install(spark.sparkContext)
      attempted += 1
      spark.catalog.clearCache()
      HeapPeak.gc()
      val t0 = System.nanoTime()
      val traced =
        try Right(wl.runTraced(spark, in, s"$outDir/traced", tr))
        catch { case e: Exception => Left(s"traced run threw: $e") }
      val tracedS = (System.nanoTime() - t0) / 1e9
      val unattributedS = tr.unattributedS(tracedS)
      val fitChunkS = tr.span("arima.fit_chunk")(wl.fitChunkS(spark, in))
      spans = tr.stats()
      jobs = tr.jobRows()
      Tracer.remove(spark.sparkContext, tr)
      val problems = (traced, untraced) match {
        case (Left(err), _) => Seq(err)
        case (Right(_), None) => Seq("no untraced run to compare the traced run with")
        case (Right(b), Some(a)) =>
          Checks.outcome(b, wl.h, wl.cfg.tol, bounds) ++ Checks.equivalent(a, b)
      }
      passes += ((tracedS, problems.isEmpty))
      failures ++= problems.map(p => s"traced: $p")
      if (problems.nonEmpty) failed += 1
      val byName = spans.map(s => s.name -> s).toMap
      def sp(n: String) = byName.getOrElse(n, SpanStats(n, 0, 0, 0, 0, 0, 0, 0))
      for (n <- Seq("pipeline.stats", "pipeline.fit", "pipeline.combine",
          "pipeline.tail", "pipeline.scale")) {
        val s = sp(n)
        metrics += ((s"$n.wall_s", s.wallS, "s", s.calls))
        metrics += ((s"$n.task_s", s.taskS, "s", s.calls))
        metrics += ((s"$n.driver_s", s.driverS, "s", s.calls))
        metrics += ((s"$n.jobs", s.jobs.toDouble, "count", s.calls))
        metrics += ((s"$n.shuffle_write_mb", s.shuffleWriteMb, "MB", s.calls))
      }
      for (n <- Seq("forecast.forecast", "eval.metrics"))
        metrics += ((s"$n.wall_s", sp(n).wallS, "s", sp(n).calls))
      metrics += (("arima.fit_chunk.wall_s", fitChunkS, "s", 1))
      metrics += (("pipeline.fit.task_max_s", sp("pipeline.fit").taskMaxS, "s", 1))
      metrics += (("pipeline.combine.rows_in",
        tr.countOf("pipeline.combine.rows_in").toDouble, "count", 1))
      metrics += (("trace.unattributed_s", unattributedS, "s", 1))
      metrics += (("trace.overhead_s",
        tracedS - okWalls.headOption.getOrElse(Double.NaN), "s", 1))
    }

    val correct = failures.isEmpty
    metrics.foreach { case (k, v, u, n) => println(f"metric $k%-34s $v%14.6f $u%-6s n=$n") }
    failures.foreach(f => println(s"FAILED $f"))

    val stamp = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss.SSS'Z'")
      .withZone(ZoneOffset.UTC).format(Instant.now())
    val resultFile = s"$work/results/${wl.name}-$stamp-s${o.seed}-t${if (o.trace) 1 else 0}.json"
    val record = Json.obj(
      "workload" -> wl.name, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "failures" -> failures.toSeq,
      "metrics" -> metrics.map { case (k, v, u, n) =>
        k -> Json.obj("value" -> v, "unit" -> u, "n" -> n)
      }.toSeq,
      "passes_s" -> passes.map { case (w, ok) => Json.obj("wall_s" -> w, "ok" -> ok) }.toSeq,
      "setup_s" -> setups.map(_._1), "warmup_s" -> warmS,
      "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "session_ready_s" -> sessionReadyS,
      "provenance" -> Json.obj(
        "commit" -> o.commit,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.toArray.map(_.toString).filter(_.startsWith("-X")).toSeq,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "confs" -> spark.conf.getAll.toSeq.sortBy(_._1)
          .filter { case (k, _) => k.startsWith("spark.sql") || k == "spark.master" }
          .map { case (k, v) => k -> (v: Any) },
        "config" -> wl.cfg.toString,
        "inputs" -> Json.obj("train_rows" -> in.trainRows, "test_rows" -> in.testRows,
          "checksum" -> in.checksum, "small" -> o.small)),
      "spans" -> spans.map(s => Json.obj("name" -> s.name, "calls" -> s.calls,
        "wall_s" -> s.wallS, "task_s" -> s.taskS, "driver_s" -> s.driverS,
        "jobs" -> s.jobs, "shuffle_write_mb" -> s.shuffleWriteMb,
        "task_max_s" -> s.taskMaxS)),
      "jobs" -> jobs.map { case (id, span, st, en, ts, mb) =>
        Json.obj("job" -> id, "span" -> span, "start_ms" -> st, "end_ms" -> en,
          "task_s" -> ts, "shuffle_write_mb" -> mb)
      })
    new java.io.File(s"$work/results").mkdirs()
    Files.writeString(Paths.get(resultFile), s"$record\n")
    println(s"result file $resultFile")
    println(Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u, _) =>
        k -> Json.obj("value" -> v, "unit" -> u)
      }.toSeq))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** {"<workload>": {"<metric>": [lo, hi], ...}, ...} */
  private def loadBounds(path: String, workload: String): Map[String, (Double, Double)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get(workload)
    if (root == null) Map.empty
    else {
      val it = root.fields()
      val out = Map.newBuilder[String, (Double, Double)]
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.isArray)
          out += e.getKey -> ((e.getValue.get(0).asDouble, e.getValue.get(1).asDouble))
      }
      out.result()
    }
  }
}

/** Just enough JSON output for the result records. */
object Json {
  /** Already-encoded JSON. */
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def value(v: Any): String = v match {
    case null => "null"
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.map { case (k: String, x) => k -> x; case other => other.toString -> null }: _*).s
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
