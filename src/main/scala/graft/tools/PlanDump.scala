package graft.tools

import graft.GraftSession

/** Dump formatted physical plans for named declared queries —
  * the .explain("formatted") iteration loop the scale work demands.
  * Usage: tools/spark-run.sh graft.tools.PlanDump q22_scalar_subquery ...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    // lets a plan capture toggle engine knobs (e.g. spark.graft.tier)
    // to reproduce a before/after plan pair from one build
    GraftSession.applyEnvConfs(spark)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args.foreach { name =>
      println(s"===== $name =====")
      graft.SparkEntry.queries(name)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
