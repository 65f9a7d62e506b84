package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Unigram-LM tokenizer TRAINING (Kudo '18, the SentencePiece family —
  * the other mainstream tokenizer beside BPE): a piece vocabulary with
  * probabilities fit by EM, where encoding is the maximum-likelihood
  * segmentation of each word. `operators/Bpe.scala` learns merge RULES
  * greedily; this learns piece WEIGHTS by expectation-maximization —
  * together they cover both production tokenizer families.
  *
  * FORMULATION (deterministic hard-EM, oracle-mirrorable end to end):
  * - Seed vocabulary: every single character plus the top-`multiBudget`
  *   multi-char substrings (≤ `MaxPieceLen`) by corpus-weighted count,
  *   (count DESC, piece ASC) tie-break. Seed probabilities are
  *   Laplace-smoothed relative counts on the 6dp grid.
  * - E-step (Viterbi): each word type's best segmentation — the one
  *   maximizing the LEFT-FOLD product of 6dp piece probabilities, with
  *   a total-order tie-break on the '|'-joined piece string — chosen by
  *   EXHAUSTIVE enumeration over the composition table (see below), so
  *   engine and oracle agree without sharing DP internals. Piece counts
  *   accumulate as EXACT integer `sum(wc)` — partitioning-invariant.
  * - M-step: p ← round((c + 1) / (Σc + V), 6) — Laplace keeps every
  *   piece alive (a piece unused at corpus scale ≳2M tokens quantizes
  *   to 0.0 on the 6dp grid and simply goes dead; segmentation remains
  *   total and deterministic through the char pieces).
  * - A FIXED number of rounds: like `Similarity.lloydCentroids`, the
  *   goal is oracle-checkable trained state; convergence quality is a
  *   spec property (likelihood monotonicity), not a stop condition.
  *
  * SCALE SHAPE: the corpus-proportional work is ONE word-frequency
  * aggregation (the caller's `words` relation — the same vocab-sized
  * state `Bpe.train` runs on). Everything after runs over WORD TYPES:
  * the segmentation table is |types| × compositions(len ≤ 12) ≤ 1 490
  * rows each, every E-step is one types-sized exchange, and the only
  * driver lifts are MODEL-sized (the vocabulary and its counts — a
  * tokenizer model is driver-resident by definition, exactly like
  * `lloydCentroids`' centroid lift).
  *
  * DETERMINISM ACROSS ENGINES: probabilities live on the 6dp grid;
  * the segmentation cost is a left-fold of IEEE double products (the
  * engine folds from 1.0, the oracle's `list_reduce` folds from the
  * first element — bitwise identical because 1.0·x ≡ x); counts are
  * exact integers; every argmax carries an explicit total-order
  * tie-break. No transcendentals anywhere in the trained state.
  */
object Unigram {

  val MaxPieceLen = 4

  /** Composition-table bound: a corpus word longer than this fails
    * LOUDLY (the raise_error guard in `segTable`) instead of silently
    * vanishing from the enumeration join. 12 keeps the table at 3 095
    * rows total (1 490 compositions at length 12); raise it consciously
    * for long-word corpora (the table grows ~tetranacci, ×1.93 per
    * extra character).
    */
  val MaxWordLen = 12

  /** All ordered compositions of n into parts 1..MaxPieceLen. */
  private[graft] def compositions(n: Int): Seq[Seq[Int]] =
    if (n == 0) Seq(Seq.empty)
    else (1 to math.min(MaxPieceLen, n)).flatMap(l =>
      compositions(n - l).map(l +: _))

  /** Every segmentation of every word type: (word, wc, pieces, key).
    * The composition relation is length-keyed bounded combinatorics
    * (3 095 rows at the length-12 bound), broadcast onto the types
    * relation.
    */
  private[graft] def segTable(words: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val comps = (1 to MaxWordLen).flatMap { n =>
      compositions(n).map { c =>
        (n, c.scanLeft(1)(_ + _).init.toArray, c.toArray)
      }
    }.toDF("wlen", "starts", "lens")
    words
      .withColumn("wlen",
        when(length(col("word")) > MaxWordLen, raise_error(format_string(
          s"unigram: word '%s' exceeds the $MaxWordLen-char composition bound " +
            "(raise Unigram.MaxWordLen consciously)", col("word"))))
          .otherwise(length(col("word"))))
      .join(broadcast(comps), "wlen")
      .withColumn("pieces",
        zip_with(col("starts"), col("lens"), (s, l) => col("word").substr(s, l)))
      .withColumn("key", concat_ws("|", col("pieces")))
      .select("word", "wc", "pieces", "key")
  }

  /** Best (Viterbi) segmentation per word type under literal piece
    * probabilities: left-fold product cost, (cost DESC, key ASC)
    * tie-break. Pieces outside the vocabulary cost 0, so any
    * segmentation using one loses to any all-vocab segmentation.
    */
  private[graft] def bestSegs(seg: DataFrame, probs: Map[String, Double]): DataFrame = {
    val pm = typedLit(probs)
    val cost = aggregate(col("pieces"), lit(1.0),
      (acc, x) => acc * coalesce(element_at(pm, x), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("word").orderBy(col("cost").desc, col("key").asc)
    seg.withColumn("cost", cost)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1).drop("_rk")
  }

  /** Driver-resident trained model: the sorted vocabulary with final
    * probabilities, the final E-step counts, and the per-round
    * probability history (for the likelihood-monotonicity spec).
    */
  private[graft] final case class Fitted(
      vocab: Seq[String],
      history: Seq[Map[String, Double]], // p0 .. pRounds
      counts: Map[String, Long])         // final-round E-step counts

  private def r6(x: Double): Double = graft.util.Num.r6(x)

  /** The EM fit. `words` is a (word, wc) word-frequency relation.
    * @param seg0 an already-persisted segmentation table to reuse
    *             (callers chaining several EM phases — `fitPruned` —
    *             enumerate once); when absent the fit owns its own.
    */
  private[graft] def fit(words: DataFrame, multiBudget: Int = 12,
                         rounds: Int = 3,
                         seg0: Option[DataFrame] = None): Fitted = {
    val spark = words.sparkSession
    import spark.implicits._
    val seg = seg0.getOrElse(segTable(words)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      // seed: corpus-weighted substring counts; two MODEL-sized lifts
      // (alphabet, budget) — never the full substring-type relation
      val subs = words.select(col("wc"), explode(flatten(transform(
          sequence(lit(1), length(col("word"))), p =>
            transform(
              sequence(lit(1), least(lit(MaxPieceLen), length(col("word")) - p + 1)),
              l => col("word").substr(p, l))))).as("piece"))
        .groupBy("piece").agg(sum(col("wc")).as("c0"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seed: Seq[(String, Long)] =
        try {
          val chars = subs.filter(length(col("piece")) === 1)
            .as[(String, Long)].collect().toSeq
          val multi = subs.filter(length(col("piece")) > 1)
            .orderBy(col("c0").desc, col("piece").asc).limit(multiBudget)
            .as[(String, Long)].collect().toSeq
          chars ++ multi
        } finally { subs.unpersist(); () }
      val vocab = seed.map(_._1).sorted
      val v = vocab.length
      require(v > 0, "unigram: empty corpus — nothing to fit")
      val c0Total = seed.map(_._2).sum
      var probs: Map[String, Double] = seed.map { case (p, c) =>
        p -> r6((c + 1).toDouble / (c0Total + v))
      }.toMap
      val history = scala.collection.mutable.ArrayBuffer(probs)
      var counts = Map.empty[String, Long]
      for (_ <- 1 to rounds) {
        counts = eStep(seg, vocab, probs)
        probs = mStep(vocab, counts)
        history += probs
      }
      Fitted(vocab, history.toSeq, counts)
    } finally { if (seg0.isEmpty) { seg.unpersist(); () } }
  }

  /** E: exact integer piece counts off the best segmentations
    * (model-sized lift; pieces of a best segmentation are vocab pieces
    * whenever a positive-cost segmentation exists — non-vocab pieces
    * from cost-0 ties are discarded by the vocab restriction).
    */
  private def eStep(seg: DataFrame, vocab: Seq[String],
                    probs: Map[String, Double]): Map[String, Long] = {
    val spark = seg.sparkSession
    import spark.implicits._
    val raw = bestSegs(seg, probs)
      .select(col("wc"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("c"))
      .as[(String, Long)].collect().toMap
    vocab.map(p => p -> raw.getOrElse(p, 0L)).toMap
  }

  /** M: Laplace on the 6dp grid, denominator over VOCAB counts. */
  private def mStep(vocab: Seq[String], counts: Map[String, Long]): Map[String, Double] = {
    val ct = counts.valuesIterator.sum
    vocab.map(p =>
      p -> r6((counts(p) + 1).toDouble / (ct + vocab.length))).toMap
  }

  /** SentencePiece's full training loop shape: seed EM, PRUNE the
    * weakest multi-char pieces (keep chars + the top `keepBudget` by
    * (trained prob DESC, piece ASC) — chars never prune, keeping
    * segmentation total), then CONTINUE EM over the surviving
    * vocabulary from the surviving probabilities (selection only, no
    * renormalization — the next M-step renormalizes on its own grid).
    * One prune cycle demonstrates the algorithm under an oracle-sized
    * unroll; production SentencePiece iterates the cycle.
    */
  private[graft] def fitPruned(words: DataFrame, seedBudget: Int = 16,
                               preRounds: Int = 2, keepBudget: Int = 12,
                               postRounds: Int = 1): Fitted = {
    val seg = segTable(words)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pre = fit(words, seedBudget, preRounds, Some(seg))
      val trained = pre.history.last
      val chars = pre.vocab.filter(_.length == 1)
      val multi = pre.vocab.filter(_.length > 1)
        .sortBy(p => (-trained(p), p)).take(keepBudget)
      val vocab = (chars ++ multi).sorted
      var probs = vocab.map(p => p -> trained(p)).toMap
      val history = scala.collection.mutable.ArrayBuffer(probs)
      var counts = Map.empty[String, Long]
      for (_ <- 1 to postRounds) {
        counts = eStep(seg, vocab, probs)
        probs = mStep(vocab, counts)
        history += probs
      }
      Fitted(vocab, history.toSeq, counts)
    } finally { seg.unpersist(); () }
  }

  /** q_unigram_prune's table: the surviving vocabulary with its
    * post-prune re-estimated statistics.
    */
  def prune(words: DataFrame): DataFrame = {
    val spark = words.sparkSession
    val f = fitPruned(words)
    val rows = f.vocab.map { p =>
      org.apache.spark.sql.Row(p, p.length.toLong, f.counts(p), f.history.last(p))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("piece", StringType),
        StructField("piece_len", LongType),
        StructField("n_uses", LongType),
        StructField("prob", org.apache.spark.sql.types.DoubleType))))
      .orderBy("piece")
  }

  /** q_unigram_train's table: (piece, piece_len, n_uses, prob). */
  def train(words: DataFrame, multiBudget: Int = 12, rounds: Int = 3): DataFrame = {
    val spark = words.sparkSession
    val f = fit(words, multiBudget, rounds)
    val rows = f.vocab.map { p =>
      org.apache.spark.sql.Row(p, p.length.toLong, f.counts(p), f.history.last(p))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("piece", StringType),
        StructField("piece_len", LongType),
        StructField("n_uses", LongType),
        StructField("prob", org.apache.spark.sql.types.DoubleType))))
      .orderBy("piece")
  }

  /** Vocabulary-budget sweep over ONE trained model: for each budget b,
    * restrict to chars + top-b multi pieces by (trained prob DESC,
    * piece ASC) — selection only, probabilities NOT renormalized (the
    * within-word argmax only compares costs under the same map) — and
    * re-segment the types table. Fertility = encoded pieces per corpus
    * token, the tokenizer-efficiency knob the budget trades against.
    */
  def sweep(words: DataFrame, budgets: Seq[Int] = Seq(0, 4, 8, 12),
            rounds: Int = 3): DataFrame =
    sweepFitted(words, budgets, fit(words, multiBudget = budgets.max, rounds = rounds))

  /** `sweep` over an already-trained model — the serving split (r18
    * review): callers that memoize the fit (the BpeStores "training is
    * input state for serving" discipline) re-segment without re-paying
    * the EM rounds, and the types table is enumerated exactly once.
    */
  private[graft] def sweepFitted(words: DataFrame, budgets: Seq[Int], f: Fitted): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val trained = f.history.last
    val nWords = words.agg(sum(col("wc"))).collect()(0).getLong(0)
    val seg = segTable(words)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = budgets.map { b =>
        val chars = f.vocab.filter(_.length == 1)
        val multi = f.vocab.filter(_.length > 1)
          .sortBy(p => (-trained(p), p)).take(b)
        val restricted = (chars ++ multi).map(p => p -> trained(p)).toMap
        val nPieces = bestSegs(seg, restricted)
          .agg(sum(col("wc") * size(col("pieces")))).collect()(0).getLong(0)
        (b.toLong, (chars.length + multi.length).toLong, nWords, nPieces,
          r6(nPieces.toDouble / nWords))
      }
      rows.toDF("budget", "vocab_size", "n_words", "n_pieces", "fertility")
        .orderBy("budget")
    } finally { seg.unpersist(); () }
  }
}
