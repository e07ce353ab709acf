package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // best-of-N protocol: per-query wall time is the MIN across reps
    // (one-off GC/compilation/page-cache noise only ever adds time),
    // with every rep's total recorded so run-to-run spread is visible
    // in the artifact instead of being methodology guesswork
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH_full.json")
    val cpus = GraftSession.envCpus
    val spark = GraftSession(cpus)
    // ERROR, not WARN: the driver json-parses the LAST 2000 chars of
    // the run's output, and benign WARN spam (x45's dimension-window
    // WindowExec notes land on stderr) appended after the JSON line
    // is exactly what nulled BENCH_r08's `parsed`
    spark.sparkContext.setLogLevel("ERROR")
    // JVM/codegen warmup: run every query shape once on the smallest
    // SF so whole-stage-codegen compilation + JIT cost (hundreds of ms
    // per distinct generated class, independent of data size) doesn't
    // land inside the timed runs
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    /** Wall seconds of one run, or None when the query throws: a
      * broken query is an error, never a fast timing.
      */
    def timeOne(name: String): Option[Double] = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // noop sink materializes every row (projections, sorts, round/md5
      // in the select list) — .count() would let Catalyst prune them
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"bench: $name failed: $e")
            false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // drain GC-triggered shuffle/broadcast cleanup between queries so
      // one query's garbage is not billed to the next one's timing
      spark.sqlContext.clearCache()
      System.gc()
      if (ok) Some(dt) else None
    }
    val runs: Seq[Seq[(String, Option[Double])]] =
      (1 to reps).map(_ => names.map(n => n -> timeOne(n)))
    // a query that threw in any rep is an error: reported as such and
    // left out of every total
    val errored: Set[String] =
      names.filter(n => runs.exists(_.toMap.apply(n).isEmpty)).toSet
    val best: Seq[(String, Double)] = names.filterNot(errored)
      .map(n => n -> runs.map(_.toMap.apply(n).get).min)
    def r4(v: Double): Double = math.rint(v * 1e4) / 1e4
    def r3(v: Double): Double = math.rint(v * 1e3) / 1e3
    // The driver snapshots only the LAST 2000 chars of stdout and
    // json-parses them; sbt appends a ~75-char `[success]` line after
    // us, so the usable budget is ~1900 chars. At 96 queries a
    // short-id 3dp map fit (~1300 chars); at 197 queries even 2dp
    // short ids need ~2300 chars — NO per-query stdout map can fit,
    // which is why PERF_r09/r10 both recorded parsed:null. The stdout
    // line therefore carries the totals plus a `queries_file` pointer
    // when the full map would overflow the tail, and the per-query map
    // (full names, 4dp, per-rep detail) lives in the file artifact.
    // Measurement methodology is untouched — only the report shape.
    def shortId(name: String): String = name.takeWhile(_ != '_')
    val bestMap = best.toMap
    def cell(v: Option[Double], fmt: Double => Double): String =
      v.fold("\"error\"")(x => fmt(x).toString)
    def qMap(key: String => String, fmt: Double => Double): String =
      names.map(n => s"\"" + key(n) + "\":" + cell(bestMap.get(n), fmt))
        .mkString("{", ",", "}")
    val qs = qMap(shortId, r3)
    val qsFull = qMap(identity, r4)
    val total = r4(best.map(_._2).sum)
    val repTotals = runs.map(r => r4(r.filterNot(q => errored(q._1))
      .map(_._2.get).sum)).mkString("[", ",", "]")
    def mkLine(queriesField: String): String =
      s"""{"metric":"total","value":$total,"unit":"sec"""" +
        s""","reps":$reps,"rep_totals":$repTotals,$queriesField""" +
        s""","sf":"$sfDir","errors":${errored.size}}"""
    val fullLine = mkLine(s""""queries":$qs""")
    val line =
      if (fullLine.length <= 1850) fullLine
      else mkLine(
        s""""n_queries":${best.size},"queries_file":"$outPath"""")
    val fileLine = mkLine(s""""queries":$qsFull""")
    println(line)
    try {
      val perRep = runs.zipWithIndex.map { case (r, i) =>
        s""""run${i + 1}":""" + r.map { case (k, v) =>
          s"\"" + k + "\":" + cell(v, r4)
        }.mkString("{", ",", "}")
      }.mkString(",")
      val full = fileLine.dropRight(1) + s""","per_rep":{$perRep}}""" + "\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        full.getBytes("UTF-8"))
      // ALSO write the per-round snapshot + a generated prose summary,
      // so neither the round artifact (formerly scraped from a 2000-
      // char stdout tail → BENCH_r06 had parsed:null) nor the RESULTS
      // bench paragraph (drifted from the artifact in r7: claimed
      // 100.4 s vs recorded 109.9 s) can disagree with the numbers
      // Bench actually measured.
      val repoDir = java.nio.file.Paths.get(outPath).toAbsolutePath.getParent
      val roundEnv = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt)
      // Fallback when the driver doesn't set SPARK_GRAFT_ROUND: the
      // end-of-round sequence writes CORRECTNESS_r{N} BEFORE running
      // bench, so the newest correctness stamp IS the current round —
      // the old `max + 1` labeled round 9's measurement BENCH_r10
      // (VERDICT r9 artifact nit).
      val round = roundEnv.getOrElse {
        val rx = "CORRECTNESS_r(\\d+)\\.json".r
        val prior = Option(repoDir.toFile.listFiles()).toSeq.flatten
          .flatMap(f => rx.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        if (prior.isEmpty) 1 else prior.max
      }
      val snap = repoDir.resolve(f"BENCH_r$round%02d.json")
      // a fallback-derived round never clobbers an existing snapshot
      // (a mid-round manual run would otherwise overwrite the prior
      // round's record); an explicit SPARK_GRAFT_ROUND always writes
      if (roundEnv.isDefined || !java.nio.file.Files.exists(snap))
        java.nio.file.Files.write(snap, full.getBytes("UTF-8"))
      val slowest = best.sortBy(-_._2).take(10)
        .map { case (k, v) => f"$k ${r3(v)}%.3f s" }.mkString(", ")
      val summary =
        f"""## Bench (generated by graft.Bench — round $round%d)
           |
           |- sf dir: `$sfDir`, local[$cpus%s], best-of-$reps%d per query
           |- **${best.size}%d queries, total ${total}%.1f s** (sum of
           |  per-query minima); rep totals: $repTotals%s
           |- errors (excluded from the totals): ${errored.size}%d
           |- slowest 10: $slowest%s
           |
           |Numbers above are emitted from the same measurement that
           |writes `BENCH_full.json` / `BENCH_r$round%02d.json`; quote them
           |from here, do not hand-copy from an in-round run.
           |""".stripMargin
      java.nio.file.Files.write(repoDir.resolve("BENCH_SUMMARY.md"),
        summary.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // bench must not fail on IO
    spark.stop()
  }
}
