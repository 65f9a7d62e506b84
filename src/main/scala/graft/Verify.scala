package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only: extra args subset the run to the named queries (the
    // driver always calls with exactly two args → full run)
    val only = args.drop(2).toSet
    def keep(name: String): Boolean = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // all pins live in the ONE shared builder (graft.util.EngineSession)
    val spark = graft.util.EngineSession.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must surface as an explicit error row, not vanish
    // from the correctness artifact (r10: 8 breaks read as "not there").
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(500)
      }
    }
    // JSON string escape (shared impl): backslash, quote, and ALL control
    // chars (<0x20) — a tab or CR in builder-authored SQL would otherwise
    // make the driver's json.load fail and silently zero the round's
    // correctness.
    def q(s: String): String = graft.util.JsonText.esc(s)
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
  }
}
