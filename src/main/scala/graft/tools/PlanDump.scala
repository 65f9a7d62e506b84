package graft.tools

/** Dev-only: print the plan of named queries. `SPARK_GRAFT_SF_DIR`
  * picks the corpus (default sf0.001); `SPARK_GRAFT_PLAN_MODE=formatted`
  * switches from the executed-plan tree to `explain("formatted")`
  * (the representation the optimization-round plan artifacts use).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val formatted = sys.env.get("SPARK_GRAFT_PLAN_MODE").contains("formatted")
    val spark = graft.util.EngineSession.builder("local[4]", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { q =>
      println(s"===== $q =====")
      val qe = graft.SparkEntry.queries(q)(spark, sfDir).queryExecution
      if (formatted)
        println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      else println(qe.executedPlan.toString)
    }
    spark.stop()
  }
}
