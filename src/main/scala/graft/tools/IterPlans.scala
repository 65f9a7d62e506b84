package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dev tool (not part of the engine or bench protocol): dumps the
  * physical plan of ONE iteration of the Graph.hits authority half-step
  * and one labelPropagation round, replicating the loop bodies verbatim
  * from Graph.scala (the r22 raw-sum / min_by shapes), so the per-round
  * plan artifacts under plans/r22 (hits_halfstep_after.txt,
  * lpa_round_after.txt) can be re-captured without instrumenting the
  * engine. Run: sbt "runMain graft.tools.IterPlans". If the Graph loop
  * bodies change, update the replicas here before re-capturing.
  */
object IterPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.EngineSession.builder("local[8]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sfDir

    // the q_hits_docs graph (TextQueries shape)
    val pairs = graft.queries.TextQueries.FuzzyStores.batchPairs(spark, dir)
    val edges = pairs.select(explode(array(
      struct(col("url_a").as("src"), col("url_b").as("dst")),
      struct(col("url_b").as("src"), col("url_a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    val nodes = graft.queries.TextQueries.DocGraphStores.nodes(spark, dir)

    // ---- the doc-graph node universe: derived per serve (before r22
    // second pass) vs served from the session store (after) ----
    println("===== graph_nodes (before: corpus scan + distinct per serve) =====")
    println(graft.sources.Corpus.documents(spark, dir)
      .select(col("url").as("node")).distinct()
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    println("===== graph_nodes (after: one narrow scan of the session node store) =====")
    println(nodes.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))

    // ---- replicate Graph.hits internals (broadcastRanksMax = 0) ----
    val hint: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity
    val eSrc = edges.select("src", "dst").distinct()
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eDst = eSrc.repartition(col("dst")).sortWithinPartitions("dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ar = graft.operators.Dedup.materializeOnce(
      eSrc.groupBy("dst")
        .agg(sum(lit(1.0).cast(DecimalType(27, 12))).cast("double").as("ar")))
    val an = ar.agg(coalesce(
      sum(col("ar").cast(DecimalType(27, 12))).cast("double"), lit(1.0)).as("an"))
    val aScores = ar.crossJoin(hint(an))
      .select(col("dst").as("node"), round(col("ar") / col("an"), 6).as("a"))
    val hrInput = eDst.join(hint(aScores), col("dst") === col("node"))
      .groupBy("src")
      .agg(sum(col("a").cast(DecimalType(27, 12))).cast("double").as("hr"))
    println("===== hits_halfstep (hub raw sums hr, fed by the auths update) =====")
    println(hrInput.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))

    // ---- replicate Graph.labelPropagation round 1 (shuffle path) ----
    val w = edges.select(col("src"), col("dst"), lit(1L).as("w"))
    val e = w.groupBy("src", "dst").agg(sum(col("w").cast("long")).as("w"))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = nodes.select(col("node"), col("node").as("label"))
    val votes = e.join(hint(labels), col("src") === col("node"))
      .groupBy(col("dst"), col("label"))
      .agg(sum(col("w")).as("vw"))
    val winner = votes.groupBy("dst")
      .agg(min_by(col("label"), struct(-col("vw"), col("label"))).as("nl"))
    val nextLabels = labels.join(hint(winner), col("node") === col("dst"), "left_outer")
      .select(col("node"), coalesce(col("nl"), col("label")).as("label"))
    println("===== lpa_round (next labels after one round) =====")
    println(nextLabels.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))

    // ---- q_sparse_sim: the idf-weight (w) BUILD plan. The query
    // materializes w eagerly (Dedup.materializeOnce), so the serving
    // plan artifact can't show this subtree — replicate it here, both
    // n_docs formulations (the r22 change: countDistinct over the
    // exploded shingle stream → plain row count over the per-doc cached
    // hash frame; the hash store is one row per doc). ----
    val h = graft.queries.DedupQueries.DedupStore.hashes(spark, dir)
      .filter(size(col("sh")) > 0)
    val ex = h.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val dfRel = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
    def wOf(n: org.apache.spark.sql.DataFrame) =
      ex.join(dfRel, "shingle").crossJoin(broadcast(n))
        .select(col("doc_id"), col("shingle"),
          round(log(col("n_docs").cast("double") / col("df")), 6).as("idf"))
    println("===== sparse_sim_wbuild (n_docs = countDistinct over exploded shingles) =====")
    println(wOf(ex.agg(countDistinct(col("doc_id")).as("n_docs")))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    println("===== sparse_sim_wbuild (n_docs = row count of the per-doc hash frame) =====")
    println(wOf(h.agg(count(lit(1)).as("n_docs")))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))

    spark.stop()
  }
}
