package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Session-scoped PERSISTED similarity-search structures over the
  * `embeddings` table — the build-once-serve-many counterpart of
  * `IndexStore` for the ANN/IVF family (same `SessionStores` process
  * scoping and end-of-process cleanup). A 100 TB deployment builds its
  * vector index once and serves many queries; recomputing the
  * double-cast + norm pass, the sign buckets, or — worst — the Lloyd
  * training inside every query charges the build to every probe.
  *
  * Two stores, both plain parquet (readable by any engine):
  *
  *   - `vectors(bits)`: (vec_id, v, norm, bucket) — the prepared
  *     projection plus the sign-LSH bucket, serving brute-force top-k
  *     and the sign-bucket ANN/dedup family;
  *   - `ivf(nCells, iters)`: the inverted file proper — (vec_id, v,
  *     norm) PARTITIONED BY cell (one directory per quantizer cell), so
  *     a probe's literal `cell IN (...)` filter prunes whole directories
  *     at planning time and reads ~nProbe/nCells of the corpus; plus the
  *     ≤nCells-row centroid table `(cent_id, cv, cn)` the probe ranking
  *     needs (driver-sized by contract, a session memo after one
  *     metadata-sized read).
  *
  * Store identity includes every shape parameter (bits / nCells /
  * iters): structures built under different parameters are different
  * stores, never silently shared.
  */
object VectorStore {

  private val CentsKey = "ivf_cents:"

  /** Test hook: drop the centroid memos, putting the next read in the
    * state of a FRESH process — the crash-window spec uses it so the
    * repair path is pinned without help from stale cache contents (a
    * true crash loses the cache with the process).
    */
  private[graft] def testClearCentroidCache(): Unit =
    SessionStores.forget(_.startsWith(CentsKey))

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.tbl(spark, dir, "embeddings")

  /** The persisted prepared + sign-bucketed vector relation
    * (vec_id, v, norm, bucket) for `dir`, built on first use.
    */
  def vectors(spark: SparkSession, dir: String, bits: Int = 8): DataFrame = {
    val path = SessionStores.pathOf("graft_vec", s"v_b$bits", dir)
    SessionStores.servedPath(spark, path) {
      Similarity.prepared(emb(spark, dir))
        .withColumn("bucket", Similarity.signBucket(col("v"), bits))
        .write.mode(SaveMode.Overwrite).parquet(path)
    }
  }

  /** The persisted IVF structure for `dir`: cell-partitioned assigned
    * vectors + the centroid sequence. `iters = 0` is the deterministic
    * first-nCells quantizer; `iters > 0` runs that many Lloyd iterations
    * ONCE at build (the 2.1 s training that used to run inside every
    * `q_ann_ivf_trained` execution).
    */
  def ivf(spark: SparkSession, dir: String, nCells: Int = 16,
          iters: Int = 0): (DataFrame, Seq[Similarity.Centroid]) = {
    val root = SessionStores.pathOf("graft_ivf", s"ivf_c${nCells}_i$iters", dir)
    // the centroid table is written BEFORE the assigned partitions: the
    // servedPath guard keys on `assigned/`, so its presence must imply a
    // complete store (a crash in between rebuilds both)
    val assigned = SessionStores.servedPath(spark, s"$root/assigned") {
      val p = Similarity.prepared(emb(spark, dir))
      val cents =
        if (iters == 0) Similarity.collectCentroids(p, nCells)
        else Similarity.lloydCentroids(p, nCells, iters)
      val spk = spark
      import spk.implicits._
      cents.map(c => (c.id, c.cv, c.cn)).toDF("cent_id", "cv", "cn")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/cents")
      p.withColumn("cell", Similarity.bestCell(cents).cast("int"))
        .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(s"$root/assigned")
    }
    val cents = SessionStores.memo(spark, CentsKey + root) {
      val spk = spark
      import spk.implicits._
      spark.read.parquet(s"$root/cents")
        .select("cent_id", "cv", "cn")
        .as[(Long, Seq[Double], Double)].collect().toSeq
        .map { case (id, cv, cn) => Similarity.Centroid(id, cv, cn) }
        .sortBy(_.id)
    }
    (assigned, cents)
  }

  // ---- serving surface: the stored twins of the Similarity operators ----

  def topK(spark: SparkSession, dir: String, queryId: Long, k: Int): DataFrame =
    Similarity.topKPrepared(vectors(spark, dir), queryId, k)

  def annNearestNeighbor(spark: SparkSession, dir: String, bits: Int = 8): DataFrame =
    Similarity.annNearestNeighborBucketed(vectors(spark, dir, bits))

  def annNearestNeighborMultiProbe(spark: SparkSession, dir: String,
                                   bits: Int = 8): DataFrame =
    Similarity.annNearestNeighborMultiProbeBucketed(vectors(spark, dir, bits), bits)

  def embeddingDuplicates(spark: SparkSession, dir: String, bits: Int = 8,
                          threshold: Double = 0.3): DataFrame =
    Similarity.embeddingDuplicatesBucketed(vectors(spark, dir, bits), threshold)

  def ivfTopK(spark: SparkSession, dir: String, queryId: Long, k: Int,
              nCells: Int = 16, nProbe: Int = 2): DataFrame = {
    val (assigned, cents) = ivf(spark, dir, nCells, iters = 0)
    Similarity.ivfRankAssigned(assigned, cents, queryId, k, nProbe)
  }

  def ivfTopKTrained(spark: SparkSession, dir: String, queryId: Long, k: Int,
                     nCells: Int = 16, nProbe: Int = 2, iters: Int = 2): DataFrame = {
    val (assigned, cents) = ivf(spark, dir, nCells, iters)
    Similarity.ivfRankAssigned(assigned, cents, queryId, k, nProbe)
  }

  /** MMR diversity re-rank over the persisted prepared store. */
  def mmrRerank(spark: SparkSession, dir: String, queryId: Long = 0L,
                poolSize: Int = 30, k: Int = 10): DataFrame =
    Similarity.mmrRerank(
      vectors(spark, dir).select("vec_id", "v", "norm"), queryId, poolSize, k)

  /** SemDeDup discard set served from the persisted trained-IVF store —
    * the cluster assignment is the expensive half and it is already on
    * disk cell-partitioned; the query pays only the in-cell pair pass.
    */
  def semDedup(spark: SparkSession, dir: String, nCells: Int = 16,
               iters: Int = 2, threshold: Double = 0.3): DataFrame = {
    val (assigned, _) = ivf(spark, dir, nCells, iters)
    Similarity.semDedupDiscards(assigned, threshold)
  }

  /** IVF-PQ (residual-encoded) top-k served from the persisted
    * trained-IVF store: probe cells prune store partitions; PQ scores
    * only the probed cells' members.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, queryId: Long, k: Int,
                nCells: Int = 16, iters: Int = 2, nProbe: Int = 4,
                poolSize: Int = 100): DataFrame = {
    val (assigned, cents) = ivf(spark, dir, nCells, iters)
    graft.operators.PQ.ivfPqTopK(assigned, cents, queryId, k, nProbe, poolSize)
  }

  /** The OPQ eigen-allocation permutation for `dir`, a session memo:
    * ONE `Pca.fit` Gramian pass supplies the 6dp covariance diagonal
    * (`Model.diag`), `PQ.eigenAllocation` turns it into the
    * variance-balancing rotation — model-sized state, like the centroid
    * memo above.
    */
  private[graft] def opqPerm(spark: SparkSession, dir: String): Seq[Int] =
    SessionStores.memo(spark, "opq_perm:" + dir)(
      graft.operators.PQ.eigenAllocation(
        graft.operators.Pca.fit(emb(spark, dir), dims = 64, k = 1).diag.toSeq))

  /** IVF-PQ with the OPQ rotation composed in: residuals rotate through
    * the eigen-allocation permutation before the subspace split (see
    * `PQ.eigenAllocation`); coarse term and exact re-rank stay in the
    * original basis. Same code budget as `ivfPqTopK` (M codes, K
    * codewords) — the rotation only changes WHICH coordinates share a
    * codebook.
    */
  def ivfPqOpqTopK(spark: SparkSession, dir: String, queryId: Long, k: Int,
                   nCells: Int = 16, iters: Int = 2, nProbe: Int = 4,
                   poolSize: Int = 100): DataFrame = {
    val (assigned, cents) = ivf(spark, dir, nCells, iters)
    graft.operators.PQ.ivfPqTopK(assigned, cents, queryId, k, nProbe, poolSize,
      Some(opqPerm(spark, dir)))
  }

  /** DRIFT-TRIGGERED IVF RETRAIN — the index-maintenance loop a 100 TB
    * embedding store needs (q_embed_drift measures staleness; this
    * CONSUMES it): measure how far the persisted store's centroids have
    * drifted from the CURRENT corpus, and when drift crosses
    * `threshold`, re-run the quantizer training on the current corpus
    * and ATOMICALLY swap the cell partitioning + centroid table
    * (`StoreMaintenance.swapInto` — the two-rename discipline every
    * compaction uses, crash-safe at any point).
    *
    * Drift = mean over live cells of (1 − cos(stored centroid,
    * re-estimated mean of the current vectors that centroid captures)),
    * 6-dp rounded. The re-estimation is ONE aggregate over the current
    * corpus (DECIMAL per-position sums — order-independent), lifted at
    * ≤ nCells rows (bounded by the cell-count contract, never corpus
    * size). On a stable corpus drift ≈ 0 and the store is untouched; a
    * shifted corpus fires the retrain and subsequent `ivf` reads serve
    * the swapped store (the centroid memos invalidate with it). Returns
    * (drift, retrained).
    */
  def maintainIvf(spark: SparkSession, dir: String, current: DataFrame,
                  nCells: Int = 16, iters: Int = 2,
                  threshold: Double = 0.05): (Double, Boolean) = {
    import org.apache.spark.sql.types.DecimalType
    val root = SessionStores.pathOf("graft_ivf", s"ivf_c${nCells}_i$iters", dir)
    // CRASH-RESIDUE GATE (before any drift measurement): a previous
    // maintenance pass that died between swapInto(cents) and
    // swapInto(assigned) leaves FRESH centroids live over the OLD
    // assignment — and a restarted process (empty centroid cache)
    // measures drift against the already-swapped centroids, reads ~0,
    // and would return (drift, false) forever while probe queries rank
    // cells by centroids the members were never partitioned by. Drift
    // says NOTHING about half-swap consistency, so any side-directory
    // residue forces the rebuild regardless of the measured value.
    val residueForcesRebuild = {
      import org.apache.hadoop.fs.Path
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a crash INSIDE one of the two renames can leave a live dir
      // missing entirely — finish/unwind that swap first so both halves
      // exist (recoverSub prefers the complete __compacting rewrite)
      for (half <- Seq("cents", "assigned"))
        if (!fs.exists(new Path(s"$root/$half")) &&
            (fs.exists(new Path(s"$root/${half}__compacting")) ||
             fs.exists(new Path(s"$root/${half}__pre_compact"))))
          graft.streaming.StoreMaintenance.recoverSub(spark, s"$root/$half")
      val residue = Seq("cents__compacting", "cents__pre_compact",
        "assigned__compacting", "assigned__pre_compact")
        .filter(s => fs.exists(new Path(s"$root/$s")))
      if (residue.nonEmpty) {
        // the halves may disagree — drop the residue (the rebuild below
        // rewrites both side dirs from scratch) and the stale cache
        residue.foreach(s => fs.delete(new Path(s"$root/$s"), true))
        SessionStores.forget(_ == CentsKey + root)
      }
      residue.nonEmpty
    }
    val (_, cents) = ivf(spark, dir, nCells, iters) // ensure built
    val p = Similarity.prepared(current)
    val spk = spark
    import spk.implicits._
    val means = p
      .withColumn("cell", Similarity.bestCell(cents).cast("int"))
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg((sum(col("x").cast(DecimalType(27, 12))).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("cell")
      // array_sort on struct(pos, m) orders by pos — rebuilds the mean
      // vector in position order regardless of aggregation order
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        f => f.getField("m")).as("mv"))
      .as[(Int, Seq[Double])].collect().toMap // ≤ nCells rows by contract
    // LOUD-FAILURE GUARD: an empty (or unreadable-as-empty) `current`
    // yields no per-cell means; treating that as max drift would fire a
    // retrain that overwrites a healthy store with empty centroids —
    // garbage input must fail, not destroy good state.
    require(means.nonEmpty,
      s"maintainIvf: current corpus for $dir produced no cell means " +
        "(empty or unreadable input) — refusing to measure drift or retrain")
    val perCell = cents.flatMap { c =>
      means.get(c.id.toInt).map { mv =>
        val dot = c.cv.lazyZip(mv).map(_ * _).sum
        val mn = math.sqrt(mv.map(x => x * x).sum)
        if (c.cn == 0.0 || mn == 0.0) 1.0 else 1.0 - dot / (c.cn * mn)
      }
    }
    val drift =
      if (perCell.isEmpty) 1.0
      else graft.util.Num.r6(perCell.sum / perCell.length)
    if (drift <= threshold && !residueForcesRebuild) (drift, false)
    else {
      val fresh =
        if (iters == 0) Similarity.collectCentroids(p, nCells)
        else Similarity.lloydCentroids(p, nCells, iters)
      // side-dir rewrites first, then the two-rename installs — the
      // same crash windows as every compact (recoverSub can finish or
      // unwind either directory independently; the centroid table
      // swaps FIRST so a crash between the two leaves fresh centroids
      // with the old assignment — still serveable, and the residue it
      // leaves on disk forces the next maintenance pass to rebuild
      // UNCONDITIONALLY via the crash-residue gate above, because the
      // measured drift of that state reads ~0 in a fresh process)
      fresh.map(c => (c.id, c.cv, c.cn)).toDF("cent_id", "cv", "cn")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$root/cents__compacting")
      p.withColumn("cell", Similarity.bestCell(fresh).cast("int"))
        .write.mode(SaveMode.Overwrite).partitionBy("cell")
        .parquet(s"$root/assigned__compacting")
      graft.streaming.StoreMaintenance.swapInto(spark, s"$root/cents")
      graft.streaming.StoreMaintenance.swapInto(spark, s"$root/assigned")
      SessionStores.forget(_ == CentsKey + root)
      (drift, true)
    }
  }

  /** PQ-ADC top-k over the prepared store (codebook + encode derive from
    * the same persisted relation; a deployment would persist the code
    * table alongside — at fixture scale the encode pass is cheaper than
    * a second store).
    */
  def pqTopK(spark: SparkSession, dir: String, queryId: Long, k: Int,
             poolSize: Int = 100): DataFrame =
    graft.operators.PQ.pqTopK(
      vectors(spark, dir).select("vec_id", "v", "norm"), queryId, k, poolSize)
}
