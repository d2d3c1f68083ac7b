package graft.tools

object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[8]", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    for (q <- args) {
      println(s"===== $q =====")
      println(graft.SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
