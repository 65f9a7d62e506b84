package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** SCALE-TREND EVIDENCE GATE (r19 VERDICT ask #1): measure the headline
  * families' 10×/1× growth curves on a DERIVED corpus and assert the
  * plan shapes that make the curves possible — converting the repo's
  * "designed for 100×" argument from plan-reading into measurement.
  *
  * The derived corpus replicates sf0.1's fact tables with SALTED keys
  * (testdata itself is read-only):
  *   - lineitem / orders: order keys offset by replica · 10⁷ — 10× fact
  *     mass against UNCHANGED dimension tables, exactly how a warehouse
  *     grows;
  *   - documents: doc_id offset; `source` (and therefore the derived
  *     doc:// url) salted with a 2-letter replica tag so cross-replica
  *     urls are ≥ ED-2 (zero spurious fuzzy edges); every TOKEN prefixed
  *     with the same tag so cross-replica shingles are disjoint (the
  *     duplicate RATE stays constant — near-dup mass must scale ~10×,
  *     not ~10²×); n_chars recomputed;
  *   - embeddings: vec_id offset (cell distribution preserved — the
  *     pruning fraction is the claim under test, not recall).
  * BOTH legs (1× and 10×) get the same transform, so ratios compare
  * like with like.
  *
  * Measured families (each min-of-2 after a warm-up pass, the Bench
  * interleave discipline):
  *   - scan_q6 (q_forecast_rev): pure pushed-filter scan — expect ~linear;
  *   - agg_q1 (q1_agg): map-side-partial aggregate — expect ~linear;
  *   - graph_pagerank (q_pagerank_docs): 8-round shuffle-path fixpoint —
  *     expect ~FLAT-ish (iteration count × scheduler latency dominates at
  *     toy scale; the data term is small — PLANS.md's 1.6× claim);
  *   - dedup_near (q_dedup_near): LSH near-dup — expect ~linear, and the
  *     CANDIDATE MASS (Σ n·(n−1)/2 over LSH buckets) must stay ≤ ~12×;
  *   - colocated (q_colocated_join): bucketed large×large join — the
  *     zero-exchange plan must HOLD at 10×.
  *
  * Plan-stability gate at 10× (hard assertions, not narrative): Q6's
  * pushed filters survive, q3's dims still broadcast, Q2 stays
  * equi-keyed (no BroadcastNestedLoopJoin/CartesianProduct anywhere),
  * the colocated join stays exchange-free, and the IVF probe still
  * reads a pruned fraction of the cell-partitioned store files.
  *
  * Output: ONE JSON artifact (default `SCALE_TREND_r20.json`) with the
  * measured seconds, ratios, candidate masses, pruning counts and the
  * stability booleans; exits non-zero if any stability assertion fails.
  */
object ScaleTrend {

  private val Offset = 10000000L

  private def saltOf(i: Int): String = { val c = ('a' + i).toChar; s"q$c$c" }

  /** Build the derived corpus at `dst` with `replicas` salted copies of
    * the fact tables (idempotent per (dst, replicas) via a marker file).
    */
  private[graft] def derive(spark: SparkSession, src: String, dst: String,
                            replicas: Int): Unit = {
    val marker = new java.io.File(s"$dst/_graft_derived_$replicas")
    if (marker.exists()) return
    def rep(t: String)(f: (DataFrame, Int) => DataFrame): Unit =
      (0 until replicas)
        .map(i => f(spark.read.parquet(s"$src/$t.parquet"), i))
        .reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "events"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
    rep("lineitem")((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * Offset)))
    rep("orders")((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * Offset)))
    rep("documents") { (d, i) =>
      val salt = saltOf(i)
      val salted = d
        .withColumn("doc_id", col("doc_id") + lit(i * Offset))
        .withColumn("source", concat(col("source"), lit(salt)))
        .withColumn("text", array_join(
          transform(split(col("text"), " "), t => concat(lit(salt), t)), " "))
      salted.withColumn("n_chars", length(col("text")).cast("long"))
    }
    rep("embeddings")((d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * Offset)))
    marker.getParentFile.mkdirs()
    marker.createNewFile(): Unit
  }

  private def timeOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Σ n·(n−1)/2 over LSH (band, sig) buckets — the candidate mass the
    * near-dup join would have to verify.
    */
  private def candidateMass(spark: SparkSession, dir: String): Long = {
    val docs = graft.sources.Corpus.documents(spark, dir)
    val sigs = graft.operators.Dedup.minhashBands(
      graft.operators.Dedup.hashValues(
        graft.operators.Dedup.shingleSets(docs, 3)), 24, 3)
    sigs.groupBy("band", "sig").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - 1) / 2).cast("long")).collect()(0).getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outFile = if (args.length > 1) args(1) else "SCALE_TREND_r20.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.util.EngineSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_scaletrend"
    val d1 = s"$base/x1"
    val d10 = s"$base/x10"
    System.err.println(s"[scaletrend] deriving 1x at $d1 and 10x at $d10 from $src")
    val deriveSec = timeOf { derive(spark, src, d1, 1); derive(spark, src, d10, 10) }

    // ---- ft gate build curve (r21 VERDICT ask #7) ----
    // The featurize (gram_shares over the corpus) and the 48-round
    // DECIMAL descent are corpus-proportional; both run inside the FIRST
    // q_quality_ft call per (session, corpus) — the ftSeedStore +
    // FtModels memos. Timed COLD here, before any warm-up touches them,
    // so the curve measures build+fit+serve (~linear expected: fixed
    // round count, linear pass mass). Must run before the families'
    // warm-up loop and before the plan gate's own q_quality_ft call.
    val ftCold1 = timeOf { materialize(
      graft.SparkEntry.queries("q_quality_ft")(spark, d1)) }
    val ftCold10 = timeOf { materialize(
      graft.SparkEntry.queries("q_quality_ft")(spark, d10)) }
    System.err.println(f"[scaletrend] ft_build x1 $ftCold1%.2f s x10 $ftCold10%.2f s")

    // dedup is timed as the LSH CANDIDATE PIPELINE (tokenize → shingle →
    // md5 → minhash → bucket mass), not the registered q_dedup_near —
    // that query serves from the session pair store built in warm-up,
    // so its timing would measure a memoized read, not the scale-bound
    // dedup work
    def run(q: String, dir: String): Unit =
      materialize(graft.SparkEntry.queries(q)(spark, dir))

    val families: Seq[(String, String => Unit)] = Seq(
      "scan_q6" -> (d => run("q_forecast_rev", d)),
      "agg_q1" -> (d => run("q1_agg", d)),
      "graph_pagerank" -> (d => run("q_pagerank_docs", d)),
      "dedup_lsh" -> (d => { candidateMass(spark, d): Unit }),
      "colocated" -> (d => run("q_colocated_join", d)))

    // warm-up pass on both legs (builds the session stores — bucketed
    // tables, dedup hash frames — so the timed runs are steady-state,
    // the Bench discipline)
    for ((_, work) <- families; d <- Seq(d1, d10)) work(d)

    // two interleaved timed passes, min per (family, leg)
    val samples = scala.collection.mutable.Map.empty[(String, String), Double]
    for (pass <- 1 to 2; (name, work) <- families; (leg, d) <- Seq("x1" -> d1, "x10" -> d10)) {
      val t = timeOf(work(d))
      val k = (name, leg)
      samples(k) = samples.get(k).fold(t)(math.min(_, t))
      System.err.println(f"[scaletrend] pass$pass $name $leg ${t}%.2f s")
    }

    // candidate mass (a count, not a timing)
    val mass1 = candidateMass(spark, d1)
    val mass10 = candidateMass(spark, d10)

    // ---- plan-stability gate at 10× ----
    // TYPED plan-tree assertions (r20 ADVICE: the string-matched dump
    // greps could silently pass on a renamed node or a truncated
    // toString). Each query EXECUTES first, so with AQE the inspected
    // tree is the FINAL adaptive plan, then node classes are collected
    // through the adaptive wrappers.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def collectPlan[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
      val self = if (pf.isDefinedAt(p)) Seq(pf(p)) else Seq.empty[T]
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self ++ kids.flatMap(collectPlan(_)(pf))
    }
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    def executedPlanOf(q: String): SparkPlan = {
      val df = graft.SparkEntry.queries(q)(spark, d10)
      materialize(df)
      df.queryExecution.executedPlan
    }
    def scans(p: SparkPlan) = collectPlan(p) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    def joins(p: SparkPlan) = collectPlan(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    def badJoins(p: SparkPlan) = collectPlan(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j }
    val p6 = executedPlanOf("q_forecast_rev")
    checks("q6_pushdown_survives") =
      scans(p6).exists(_.metadata.getOrElse("PushedFilters", "")
        .contains("IsNotNull(l_shipdate)")) && joins(p6).isEmpty
    val p3 = executedPlanOf("q3_join")
    checks("q3_dims_still_broadcast") = collectPlan(p3) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.length >= 2
    val p2 = executedPlanOf("q_min_cost_supp")
    checks("q2_stays_equi_keyed") = badJoins(p2).isEmpty
    val pc = executedPlanOf("q_colocated_join")
    checks("colocated_zero_exchange") = collectPlan(pc) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty
    checks("no_bnlj_anywhere") = Seq(p6, p3, p2, pc).forall(badJoins(_).isEmpty)
    // the ft gate's SERVE plan must read the narrow persisted seed (no
    // live featurize): exactly one store scan of (split, y, rx), zero
    // gram_shares in the serving tree (r21 VERDICT ask #7's plan assert)
    val pf = executedPlanOf("q_quality_ft")
    checks("ft_serves_persisted_seed") = {
      val ss = scans(pf)
      ss.nonEmpty && ss.forall(s =>
        s.metadata.getOrElse("Location", "").contains("graft_ftseed")) &&
        !pf.toString.contains("gram_shares")
    }

    // IVF store pruning at 10×: the probe must read a pruned fraction of
    // the cell-partitioned files (planning-time partition pruning)
    val probed = graft.sources.VectorStore.ivfTopK(spark, d10, queryId = 0L,
      k = 10, nCells = 16, nProbe = 2)
    probed.collect(): Unit
    // AQE-aware file-scan collector (the PlanScans test helper's shape)
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        fileScans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    }.flatten
    // only the PROBE scan carries the cell partition filter — the
    // query-vector-by-id lookup is a separate pushed-predicate scan that
    // legitimately lists every file's footer and must not count against
    // the pruning claim
    val ivfScan = fileScans(probed.queryExecution.executedPlan)
      .filter(s => s.metadata.getOrElse("Location", "").contains("graft_ivf") &&
        s.metadata.getOrElse("PartitionFilters", "").contains("cell"))
    val filesRead = ivfScan.map(s => s.metrics("numFiles").value).sum
    val filesTotal = {
      val assigned = new java.io.File(graft.sources.SessionStores.pathOf(
        "graft_ivf", "ivf_c16_i0", d10) + "/assigned")
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(assigned)
    }
    checks("ivf_probe_prunes_cells") =
      filesRead > 0 && filesTotal > 0 && filesRead * 2 < filesTotal

    // ---- artifact ----
    def f2(x: Double) = f"$x%.3f"
    val famJson = families.map { case (name, _) =>
      val t1 = samples((name, "x1")); val t10 = samples((name, "x10"))
      s""""$name":{"t1_sec":${f2(t1)},"t10_sec":${f2(t10)},"ratio":${f2(t10 / math.max(t1, 1e-9))}}"""
    }.mkString(",")
    val checksJson = checks.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val json =
      s"""{"metric":"scale_trend","src":"$src","replicas":10,""" +
        s""""derive_sec":${f2(deriveSec)},"families":{$famJson},""" +
        s""""ft_build":{"t1_sec":${f2(ftCold1)},"t10_sec":${f2(ftCold10)},"ratio":${f2(ftCold10 / math.max(ftCold1, 1e-9))}},""" +
        s""""dedup_candidate_mass":{"x1":$mass1,"x10":$mass10,"ratio":${f2(mass10.toDouble / math.max(mass1, 1L))}},""" +
        s""""ivf_pruning":{"files_read":$filesRead,"files_total":$filesTotal},""" +
        s""""plan_stability":{$checksJson}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    println(json)
    val bad = checks.filter(!_._2).keys
    if (bad.nonEmpty) {
      System.err.println(s"[scaletrend] STABILITY FAILURES: ${bad.mkString(", ")}")
      sys.exit(1)
    }
    sys.exit(0)
  }
}
