package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Approximate aggregates for corpus-scale statistics — the sketch
  * surface (HyperLogLog++ cardinality, Greenwald-Khanna quantiles,
  * Misra-Gries heavy hitters, Count-Min point frequencies) where exact
  * answers cost a shuffle sized by the distinct-value space but a
  * mergeable fixed-size sketch costs one map-side pass. NOT
  * oracle-registered: sketch outputs are engine-specific by
  * construction; tests assert error bounds against exact answers
  * instead.
  */
object Sketches {

  /** Approximate vocabulary size (distinct terms) per source plus exact,
    * using HLL++ (`approx_count_distinct`, default rsd 5%).
    */
  def vocabularyBySource(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    docs
      .select(col("source"), explode(Text.terms(col("text"))).as("term"))
      .groupBy("source")
      .agg(
        approx_count_distinct(col("term"), rsd).as("approx_vocab"),
        countDistinct(col("term")).as("exact_vocab"))

  /** ORACLE-CHECKABLE HyperLogLog projection: the per-source ESTIMATE is
    * engine-specific (register layout, bias correction), but HLL++ is
    * deterministic for a fixed input set — the same corpus always yields
    * the same estimate, independent of partitioning (register merge is a
    * commutative max). So for a fixed corpus the relation
    * "(source, exact_vocab, |est − exact| ≤ bound·exact)" is a
    * deterministic row-set whose flag DuckDB reproduces as literal TRUE
    * from exact distinct counts alone — the same protocol as the MG
    * completeness set and the GK rank flags. The generic HLL theorem
    * gives only a PROBABILISTIC rsd, so `bound` is set generously above
    * both the 3·rsd tail and the observed per-sf error (≤ 0.036 at
    * sf0.001/0.01/0.1, measured 2026-08-14, pinned in SketchesSpec); a
    * broken sketch
    * (wrong hashing, lost registers, bad merge) lands far outside it
    * and flips the flag, failing the hash compare.
    */
  def vocabularyBySourceChecked(docs: DataFrame, rsd: Double = 0.05,
                                bound: Double = 0.15): DataFrame =
    vocabularyBySource(docs, rsd)
      .select(col("source"), col("exact_vocab"),
        (abs(col("approx_vocab") - col("exact_vocab")) <=
          lit(bound) * col("exact_vocab")).as("hll_within_bound"))
      .orderBy("source")

  /** CBO-style JOIN CARDINALITY ESTIMATION, checked — the statistics
    * pass a cost-based optimizer runs before picking a join strategy:
    * est = n_left·n_right / max(ndv_left, ndv_right) under the
    * containment/uniformity assumption (Spark CBO's
    * `JoinEstimation.computeCardinalityAndStats` formula), with the
    * NDVs from HyperLogLog. Emits the exact inputs plus three
    * deterministic flags (the HLL-family oracle protocol — estimates
    * are engine-specific but deterministic for a fixed input set, so
    * the oracle states the bounds as literal TRUE and a violation fails
    * the hash): both HLL NDVs within 15% of exact, and the estimate
    * within `band`× of the true join cardinality.
    *
    * The TRUE cardinality is computed as Σ_k f_left(k)·f_right(k) —
    * two key-grained aggregates and one key join, never the join's
    * output rows; it is the verification side (the exact-count role the
    * sketch rows all carry), the serving path is the two stats rows.
    */
  def joinCardinalityChecked(left: DataFrame, leftKey: String,
                             right: DataFrame, rightKey: String,
                             rsd: Double = 0.05, band: Double = 2.0): DataFrame = {
    val l = left.agg(count(lit(1)).as("n_left"),
      countDistinct(col(leftKey)).as("ndv_left"),
      approx_count_distinct(col(leftKey), rsd).as("hll_left"))
    val r = right.agg(count(lit(1)).as("n_right"),
      countDistinct(col(rightKey)).as("ndv_right"),
      approx_count_distinct(col(rightKey), rsd).as("hll_right"))
    val exact = left.select(col(leftKey).as("k"))
      .groupBy("k").agg(count(lit(1)).as("fl"))
      .join(right.select(col(rightKey).as("k"))
        .groupBy("k").agg(count(lit(1)).as("fr")), Seq("k"))
      .agg(coalesce(sum(col("fl") * col("fr")), lit(0L)).as("exact_join_rows"))
    val est = col("n_left").cast("double") * col("n_right").cast("double") /
      greatest(col("hll_left"), col("hll_right")).cast("double")
    l.crossJoin(r).crossJoin(exact)
      .select(col("n_left"), col("n_right"), col("ndv_left"), col("ndv_right"),
        col("exact_join_rows"),
        (abs(col("hll_left") - col("ndv_left")) <=
          lit(0.15) * col("ndv_left")).as("hll_left_within"),
        (abs(col("hll_right") - col("ndv_right")) <=
          lit(0.15) * col("ndv_right")).as("hll_right_within"),
        (est >= col("exact_join_rows") / band &&
          est <= col("exact_join_rows") * band).as("est_within_band"))
  }

  /** Token-count distribution quantiles via the Greenwald-Khanna sketch
    * (`percentile_approx`) — p50/p90/p99 of tokens per document.
    */
  def tokenCountQuantiles(docs: DataFrame, accuracy: Int = 10000): DataFrame =
    docs
      .select(size(Text.tokenize(col("text"))).as("n_tokens"))
      .agg(
        percentile_approx(col("n_tokens"), lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx(col("n_tokens"), lit(0.9), lit(accuracy)).as("p90"),
        percentile_approx(col("n_tokens"), lit(0.99), lit(accuracy)).as("p99"),
        count(lit(1)).as("n_docs"))

  /** Mergeable Misra-Gries heavy-hitters summary (Agarwal et al.,
    * "Mergeable Summaries", PODS'12): at most `capacity` (term, weight)
    * counters per partial state. `reduce` is the classic MG step
    * (decrement-all on overflow); `merge` sums two summaries and
    * subtracts the (capacity+1)-largest weight from every counter,
    * keeping positives — both keep the invariant
    *
    *   true_count − N/(capacity+1)  ≤  weight  ≤  true_count
    *
    * so every term with frequency above N/(capacity+1) survives, with
    * the SAME bound under any partitioning/merge order. State is
    * O(capacity) regardless of vocabulary size — where the exact top-k
    * (`q_gram_topk`, `q_topk_df`) pays a vocabulary-sized exchange, the
    * MG pass pays a fixed-size one: the right trade when the key space
    * itself is unbounded (open-vocabulary n-grams) and only the heavy
    * tail matters.
    *
    * The summary VALUES are partition-order-dependent (any MG summary
    * is) — rows-only registration, bounds spec-asserted.
    */
  /** MG partial state: capped counters plus the TOTAL item count n (the
    * bound's denominator travels with the summary, so the guarantee
    * threshold needs no second pass).
    */
  final case class MGState(counters: Map[String, Long], n: Long)

  final class MisraGriesAgg(capacity: Int)
      extends Aggregator[String, MGState, MGState] {

    override def zero: MGState = MGState(Map.empty, 0L)

    override def reduce(buf: MGState, term: String): MGState = {
      val c = buf.counters
      val next = c.get(term) match {
        case Some(w) => c.updated(term, w + 1)
        case None if c.size < capacity => c.updated(term, 1L)
        case None =>
          // decrement-all: every stored counter absorbs one of its own
          // occurrences together with this unstored one
          c.flatMap { case (t, w) => if (w > 1) Some(t -> (w - 1)) else None }
      }
      MGState(next, buf.n + 1)
    }

    override def merge(a: MGState, b: MGState): MGState = {
      val summed = b.counters.foldLeft(a.counters) { case (acc, (t, w)) =>
        acc.updated(t, acc.getOrElse(t, 0L) + w)
      }
      val capped =
        if (summed.size <= capacity) summed
        else {
          // subtract the (capacity+1)-th largest weight, keep positives —
          // at most `capacity` survive and each loses ≤ that weight,
          // preserving the N/(capacity+1) undercount bound
          val cut = summed.values.toSeq.sortBy(-_).apply(capacity)
          summed.flatMap { case (t, w) => if (w > cut) Some(t -> (w - cut)) else None }
        }
      MGState(capped, a.n + b.n)
    }

    override def finish(buf: MGState): MGState = buf

    override def bufferEncoder: Encoder[MGState] = Encoders.kryo[MGState]
    override def outputEncoder: Encoder[MGState] = Encoders.kryo[MGState]
  }

  /** Heavy-hitter terms via one map-side Misra-Gries pass, reported with
    * their exact counts alongside (the exact side is the vocabulary-sized
    * aggregate the sketch avoids — kept here so the summary's undercount
    * is visible in the artifact). Emits EVERY summary counter — that is
    * the set the bound proves complete: any term with true count above
    * `N/(capacity+1)` is guaranteed present, but its WEIGHT may be
    * undercounted all the way to 1, so a `weight > floor` cut would
    * silently drop guaranteed heavy hitters (a term with true count in
    * `(floor, 2·floor]` can surface with weight ≤ floor). Low-weight
    * rows are the possible false positives the summary admits (true
    * count at least the weight, at most weight + floor).
    */
  def heavyHitters(docs: DataFrame, capacity: Int = 48): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = docs.select(explode(Text.terms(col("text"))).as("term"))
    val state = terms.as[String]
      .select(new MisraGriesAgg(capacity).toColumn.name("summary"))
      .head()
    val hh = state.counters.toSeq.toDF("term", "mg_weight")
    hh.join(terms.groupBy("term").agg(count(lit(1)).as("exact_count")), Seq("term"))
      .orderBy(col("exact_count").desc, col("term"))
  }

  /** Mergeable Count-Min sketch over terms: `depth × width` counters,
    * row i indexed by murmur3(term, seed=i), merged by element-wise sum.
    * Point estimate = min over rows — never an undercount, and over by
    * more than `2N/width` with probability at most `2^-depth` per query
    * (Cormode & Muthukrishnan 2005). The last slot carries N. State is
    * O(depth·width) — a frequency oracle for an unbounded key space at
    * fixed memory, the streaming-safe complement of the exact
    * `q_term_lookup` point lookup.
    */
  final class CountMinAgg(depth: Int, width: Int)
      extends Aggregator[String, Array[Long], Array[Long]] {

    private def bucket(term: String, row: Int): Int = {
      val h = scala.util.hashing.MurmurHash3.stringHash(term, row * 0x9e3779b9 + 1)
      java.lang.Math.floorMod(h, width)
    }

    override def zero: Array[Long] = new Array[Long](depth * width + 1)

    override def reduce(buf: Array[Long], term: String): Array[Long] = {
      var i = 0
      while (i < depth) { buf(i * width + bucket(term, i)) += 1; i += 1 }
      buf(depth * width) += 1
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    override def outputEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]

    /** Point estimate from a finished sketch (min over rows). */
    def estimate(sketch: Array[Long], term: String): Long = {
      var best = Long.MaxValue
      var i = 0
      while (i < depth) {
        val v = sketch(i * width + bucket(term, i))
        if (v < best) best = v
        i += 1
      }
      best
    }
  }

  /** CMS point-frequency estimates for a fixed watchlist of terms,
    * reported with exact counts alongside. The sketch aggregation is the
    * distributed pass; the per-watch-term estimate reads the ONE merged
    * sketch row on the driver — `depth·width` longs, bounded by
    * construction (the same metadata-sized-collect discipline as the IVF
    * centroid lift in `operators/Similarity`).
    */
  def cmsWatchlist(docs: DataFrame, watch: Seq[String],
                   depth: Int = 4, width: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val agg = new CountMinAgg(depth, width)
    val terms = docs.select(explode(Text.terms(col("text"))).as("term"))
    val sketch = terms.as[String].select(agg.toColumn.name("sketch")).head()
    val est = watch.map(t => t -> agg.estimate(sketch, t)).toDF("term", "cms_est")
    est.join(
        terms.filter(col("term").isin(watch: _*))
          .groupBy("term").agg(count(lit(1)).as("exact_count")),
        Seq("term"), "left")
      .na.fill(0L, Seq("exact_count"))
      .orderBy(col("term"))
  }

  /** ORACLE-CHECKABLE Greenwald-Khanna projection: the quantile VALUES are
    * engine-specific, but the sketch's rank guarantee is a deterministic
    * theorem — `percentile_approx(col, φ, accuracy)` returns an element
    * whose exact rank is within `N/accuracy` of `φ·N` (Spark's
    * QuantileSummaries contract; for N < accuracy the summary holds every
    * sample and is exact). Emits one row per φ with the guarantee
    * re-derived against exact rank bounds (`#{x < v}+1 .. #{x <= v}`,
    * ±1 rank slack for the query-time rounding) as an all-true flag that
    * DuckDB reproduces as literal TRUE — a bound-violating sketch flips
    * the flag and fails the hash.
    */
  def tokenCountQuantilesChecked(docs: DataFrame,
                                 accuracy: Int = 10000): DataFrame = {
    val phis = Seq(0.5, 0.9, 0.99)
    val toks = docs.select(size(Text.tokenize(col("text"))).as("n_tokens"))
    val head = toks.agg(
      percentile_approx(col("n_tokens"),
        array(phis.map(lit): _*), lit(accuracy)).as("qs"),
      count(lit(1)).as("n")).head()
    // empty corpus: percentile_approx yields NULL — emit the n=0 rows
    // (vacuously within bound; cross-joined with count(*) the oracle
    // produces the same) instead of an opaque NPE
    val n = head.getLong(1)
    val qs = Option(head.getSeq[Int](0)).map(_.map(_.toDouble))
      .getOrElse(phis.map(_ => 0.0))
    rankCheckProjection(toks, phis, qs, n, accuracy)
  }

  /** The per-φ rank-guarantee projection against quantile values from an
    * ALREADY-BUILT summary — e.g. the merged state of a `StreamingSketch`
    * GK store. `n` must be the summary's total count (= the stream
    * length the values summarize), and `toks` the same stream.
    */
  def tokenCountQuantilesCheckedFromValues(docs: DataFrame, qs: Seq[Double],
                                           n: Long,
                                           accuracy: Int = 10000): DataFrame = {
    val toks = docs.select(size(Text.tokenize(col("text"))).as("n_tokens"))
    rankCheckProjection(toks, Seq(0.5, 0.9, 0.99), qs, n, accuracy)
  }

  private def rankCheckProjection(toks: DataFrame, phis: Seq[Double],
                                  qs: Seq[Double], n: Long,
                                  accuracy: Int): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    require(qs.length == phis.length,
      s"${qs.length} quantile values for ${phis.length} phis — mispaired")
    if (n == 0L)
      // no stream: every bound holds vacuously (the sum aggregates below
      // would be NULL over zero rows)
      return phis.map(phi => (phi, 0L, true))
        .toDF("phi", "n_docs", "within_bound").orderBy("phi")
    val rankAggs = phis.indices.flatMap { i =>
      Seq(
        sum(when(col("n_tokens") < qs(i), 1L).otherwise(0L)).as(s"lt_$i"),
        sum(when(col("n_tokens") <= qs(i), 1L).otherwise(0L)).as(s"le_$i"))
    }
    val ranks = toks.agg(rankAggs.head, rankAggs.tail: _*).head()
    val rows = phis.zipWithIndex.map { case (phi, i) =>
      val lt = ranks.getLong(2 * i)
      val le = ranks.getLong(2 * i + 1)
      val target = phi * n
      val tol = n.toDouble / accuracy + 1.0
      (phi, n, (lt + 1) <= target + tol && le >= target - tol)
    }
    rows.toDF("phi", "n_docs", "within_bound").orderBy("phi")
  }

  /** Greenwald-Khanna partial-summary aggregator over token counts —
    * the SAME summary structure `percentile_approx` builds
    * (`QuantileSummaries`, a public catalyst class), exposed as an
    * `Aggregator` so a `StreamingSketch` store can persist PER-BATCH
    * partials and merge them at read (insert buffers per partition,
    * compress-then-merge across partitions — the distributed shape).
    */
  final class GKAgg(relativeError: Double)
      extends Aggregator[Int, org.apache.spark.sql.catalyst.util.QuantileSummaries,
                         org.apache.spark.sql.catalyst.util.QuantileSummaries] {
    import org.apache.spark.sql.catalyst.util.QuantileSummaries

    override def zero: QuantileSummaries =
      new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, relativeError)

    override def reduce(b: QuantileSummaries, v: Int): QuantileSummaries =
      b.insert(v.toDouble)

    override def merge(a: QuantileSummaries, b: QuantileSummaries): QuantileSummaries =
      a.compress().merge(b.compress())

    override def finish(r: QuantileSummaries): QuantileSummaries = r.compress()

    override def bufferEncoder: Encoder[QuantileSummaries] =
      Encoders.kryo[QuantileSummaries]
    override def outputEncoder: Encoder[QuantileSummaries] =
      Encoders.kryo[QuantileSummaries]
  }

  /** ORACLE-CHECKABLE Misra-Gries projection: the sketch's raw weights are
    * engine-specific, but its COMPLETENESS GUARANTEE is deterministic —
    * every term with true count strictly above `N/(capacity+1)` is provably
    * present in the summary, and its weight undercounts by at most
    * `N/(capacity+1)`. So the relation "frequent terms (exact count joins
    * the threshold test) × (in_summary, mg_within_bound)" is a fixed
    * row-set with all-true booleans that DuckDB can reproduce from exact
    * GROUP BY counts alone — a broken MG implementation (dropped hitter,
    * bound-violating undercount) flips a value and fails the hash compare.
    *
    * The exact-count pass exists to VERIFY the sketch (diagnostic query);
    * the serving path is the summary itself. All-integer threshold
    * arithmetic (`count·(cap+1) > n`) on both sides — no float division.
    */
  def heavyHittersChecked(docs: DataFrame, capacity: Int = 48): DataFrame =
    heavyHittersCheckedFromTerms(
      docs.select(explode(Text.terms(col("text"))).as("term")), capacity)

  /** `heavyHittersChecked` over an existing single-column `term` relation —
    * e.g. the persisted bucket-laid posting store, which IS the distinct
    * stopword-filtered (doc, term) stream by construction: the sketch pass
    * then reads a stored column instead of re-tokenizing the corpus (the
    * serving form at scale; identical result and oracle).
    */
  def heavyHittersCheckedFromTerms(terms: DataFrame,
                                   capacity: Int = 48): DataFrame = {
    val spark = terms.sparkSession
    import spark.implicits._
    val state = terms.select(col("term")).as[String]
      .select(new MisraGriesAgg(capacity).toColumn.name("summary"))
      .head()
    heavyHittersCheckedFromState(terms, state, capacity)
  }

  /** The completeness projection against an ALREADY-BUILT summary — e.g.
    * the accumulated state of a `StreamingSketch` store. The projection
    * is merge-path-independent (the frequent set is derived from exact
    * counts + `state.n`, and the guarantee flags are theorems for ANY
    * valid MG summary of the same stream), so a streamed state serves
    * the identical oracle-checked rows as the batch pass — provided
    * `terms` is the same stream the summary accumulated.
    */
  def heavyHittersCheckedFromState(terms: DataFrame, state: MGState,
                                   capacity: Int = 48): DataFrame = {
    val spark = terms.sparkSession
    import spark.implicits._
    val mg = state.counters.toSeq.toDF("term", "mg_weight")
    terms.groupBy("term").agg(count(lit(1)).as("exact_count"))
      .filter(col("exact_count") * (capacity + 1) > lit(state.n))
      .join(broadcast(mg), Seq("term"), "left")
      .select(
        col("term"),
        col("exact_count"),
        col("mg_weight").isNotNull.as("in_summary"),
        (col("mg_weight").isNotNull &&
          (col("exact_count") - coalesce(col("mg_weight"), lit(0L))) * (capacity + 1)
            <= lit(state.n)).as("mg_within_bound"))
      .orderBy("term")
  }

  /** ORACLE-CHECKABLE Count-Min projection: point estimates are
    * engine-specific, but `est ≥ exact` holds DETERMINISTICALLY for every
    * key (CMS only ever over-counts). Emits the watchlist with exact
    * counts (0 for absent keys) and the guaranteed-true `cms_ge_exact`
    * flag — an undercounting CMS flips the flag and fails the hash.
    * The `2N/width` closeness bound is only probabilistic (2^-depth per
    * key) and deliberately NOT asserted here; it stays spec-only.
    */
  def cmsWatchlistChecked(docs: DataFrame, watch: Seq[String],
                          depth: Int = 4, width: Int = 1024): DataFrame =
    cmsWatchlistCheckedFromTerms(
      docs.select(explode(Text.terms(col("text"))).as("term")),
      watch, depth, width)

  /** `cmsWatchlistChecked` over an existing `term` relation (see
    * `heavyHittersCheckedFromTerms`) — the exact side's watch-term filter
    * additionally bucket-prunes when the relation is the term-bucketed
    * posting store.
    */
  def cmsWatchlistCheckedFromTerms(terms: DataFrame, watch: Seq[String],
                                   depth: Int = 4, width: Int = 1024): DataFrame = {
    val spark = terms.sparkSession
    import spark.implicits._
    val agg = new CountMinAgg(depth, width)
    val sketch = terms.select(col("term")).as[String]
      .select(agg.toColumn.name("sketch")).head()
    cmsWatchlistCheckedFromState(terms, sketch, watch, depth, width)
  }

  /** The est≥exact projection against an ALREADY-BUILT CMS counter array
    * — e.g. the accumulated state of a `StreamingSketch` CMS store. CMS
    * is linear (merged parts ≡ the union-stream sketch), so a streamed
    * state serves the identical oracle-checked rows as the batch pass.
    */
  def cmsWatchlistCheckedFromState(terms: DataFrame, sketch: Array[Long],
                                   watch: Seq[String],
                                   depth: Int = 4, width: Int = 1024): DataFrame = {
    val spark = terms.sparkSession
    import spark.implicits._
    val agg = new CountMinAgg(depth, width)
    val est = watch.map(w => w -> agg.estimate(sketch, w)).toDF("term", "cms_est")
    est.join(
        terms.select(col("term"))
          .filter(col("term").isin(watch: _*))
          .groupBy("term").agg(count(lit(1)).as("exact_count")),
        Seq("term"), "left")
      .na.fill(0L, Seq("exact_count"))
      .select(
        col("term"),
        col("exact_count"),
        (col("cms_est") >= col("exact_count")).as("cms_ge_exact"))
      .orderBy("term")
  }
}
