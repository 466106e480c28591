package graft
/** Regenerates the round-3 sections of PLANS.md (dev tool, run manually). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftExtensions.localSession("32")
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    args.foreach { name =>
      val df = Registry.all(name).fn(spark, d)
      println(s"PLANSTART $name")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println(s"PLANEND $name")
    }
    spark.stop()
  }
}
