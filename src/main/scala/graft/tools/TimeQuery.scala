package graft.tools


/** Dev tool: time individual registered queries in isolation, e.g.
  * `sbt "runMain graft.tools.TimeQuery q_lang_id q_tfidf"`.
  * Each named query runs `SPARK_GRAFT_RUNS` times (default 3); the
  * FIRST run absorbs cold file-listing/codegen costs — read the later
  * runs as steady state (or list a cheap same-table query first as an
  * explicit warm-up). Session flags mirror `graft.Bench` but CPUS
  * defaults to 32 (this box's dev profile) where Bench defaults to 4 —
  * set SPARK_GRAFT_CPUS explicitly when comparing against an artifact.
  * Not part of the engine or the bench protocol.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = graft.util.EngineSession.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def mat(n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (name <- args) {
      for (i <- 1 to runs) println(f"$name run$i: ${mat(name)}%.3f s")
    }
    spark.stop()
  }
}
