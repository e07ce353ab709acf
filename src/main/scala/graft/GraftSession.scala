package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for every entry point and for the test
  * session: `local[cpus]`, one shuffle partition per core, UTC, no UI,
  * and the sort-based shuffle writer.
  *
  * The writer setting is engine config, not bench methodology. With
  * R = cpus ≤ 200 reducers the bypass-merge writer opens R files PER
  * MAP TASK (cpus² tiny file creates + merges per shuffle) — measured
  * 2× on every sub-second shuffle stage at local[32] (0.53 s → 0.27 s
  * for a 116k-row groupBy). At production scale R > 200, so the
  * bypass never fires and the sort writer IS the at-scale path; this
  * pins the same writer locally instead of a small-R special case.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, defaulting to the machine's processors. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = envCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()

  /** Applies `SPARK_GRAFT_CONFS` ("k=v;k=v") to the session — extra
    * confs for A/B isolation of engine knobs from one build.
    */
  def applyEnvConfs(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONFS").foreach(_.split(';').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
}
