package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact percentiles by RANGE SORT, not by buffering and not by
  * per-group windows.
  *
  * Spark's built-in exact `percentile` aggregate holds every (value,
  * count) pair of a group in an in-memory map buffer — at corpus scale
  * that is an executor-memory bomb and a single-threaded merge per
  * group. A `Window.partitionBy(key).orderBy(value)` rank fixes the
  * memory but caps parallelism at the KEY CARDINALITY: with 3 group
  * values, the whole fact table external-sorts in 3 tasks — a straggler
  * wall at 100 TB.
  *
  * This formulation keeps parallelism data-sized:
  *   1. `repartitionByRange(key, value)` + `sortWithinPartitions` — the
  *      one full-data exchange; a single hot key spans MANY partitions,
  *      each sorted on its value range (Spark's spillable external sort);
  *   2. partition-local positions from `monotonically_increasing_id`,
  *      which encodes (partition id << 33 | consecutive local counter) —
  *      no second full-data shuffle for ranking;
  *   3. a TINY per-(partition, key) stats relation (first local id +
  *      row count — at most #partitions × #keys rows) turns local
  *      positions into global ranks: global rank = local position
  *      − first local id + running offset of earlier partitions. It is
  *      broadcast back, so the full-data path never re-shuffles;
  *   4. each requested quantile then reduces to AT MOST TWO boundary
  *      rows per group (floor/ceil of the interpolation position),
  *      aggregated with interpolation weights — map-side partial
  *      aggregation ships ≤ one row per (partition, key) to the final
  *      group-by.
  *
  * Ties that cross a range boundary are harmless: equal values are
  * interchangeable under interpolation, so any tie order yields the
  * same quantile. The pathological all-one-value group degrades to one
  * partition for that value run (a range partitioner cannot split equal
  * tuples) but stays correct and spill-safe.
  *
  * NULL values are excluded before ranking — matching DuckDB
  * `quantile_cont` / NumPy, which ignore nulls; counting them would
  * silently shift every interpolation position. A group whose values
  * are ALL null consequently produces no output row (a SQL aggregate
  * would emit the group with NULL quantiles).
  *
  * Interpolation is the standard linear rule (DuckDB `quantile_cont`,
  * NumPy `linear`): pos = p·(n-1) zero-based; result = v_lo·(1-frac) +
  * v_hi·frac. When pos is integral the row is its own floor and ceil
  * and the two weighted terms sum to exactly v.
  */
object Percentiles {

  /** Globally-ranked values: one row per non-null value with `_rn`
    * (1-based rank of `_v` within `key`), `_n` (group size) and `_pid`
    * (the physical partition that ranked it — exposed for the
    * parallelism assertion in PercentilesSpec). The mechanism — range
    * repartition, partition-local ids, tiny offset relation — is the
    * shared `RangeRank` operator; equal values are interchangeable
    * under interpolation, so the positional tie order within a value
    * run never changes a quantile.
    */
  private[graft] def rankedByRange(df: DataFrame, key: String, value: String): DataFrame =
    RangeRank.ranked(
      df.select(col(key), col(value).cast("double").as("_v"))
        .filter(col("_v").isNotNull),
      key, Seq("_v"))

  /** @param quantiles (output column name, p) pairs, each 0 ≤ p ≤ 1
    * @return one row per key: key, each quantile column (rounded to 6
    *         decimals for cross-engine float parity), and `n`
    */
  def exactQuantiles(df: DataFrame, key: String, value: String,
                     quantiles: Seq[(String, Double)]): DataFrame = {
    val ranked = rankedByRange(df, key, value)
    val qCols = quantiles.map { case (name, p) =>
      val pos = lit(p) * (col("_n") - 1) + 1 // 1-based interpolation position
      val lo = floor(pos)
      val hi = ceil(pos)
      val frac = pos - lo
      round(sum(
        when(col("_rn") === lo, col("_v") * (lit(1) - frac)).otherwise(lit(0.0)) +
          when(col("_rn") === hi, col("_v") * frac).otherwise(lit(0.0))), 6).as(name)
    }
    ranked.groupBy(key).agg(qCols.head, qCols.tail :+ max("_n").as("n"): _*)
  }
}
