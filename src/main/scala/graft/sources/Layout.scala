package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data LAYOUT clustering (z-order / Morton curve) —
  * the storage-side half of scan performance at 100 TB. Partitioning and
  * bucketing cluster one key; a table queried by selective predicates on
  * TWO columns (ship date × part, user × time) wants file/row-group
  * min-max statistics that are tight on BOTH, and a linear sort can only
  * deliver one. Interleaving the bits of the two (range-normalized)
  * values orders rows along a space-filling curve, so each output file
  * covers a small RECTANGLE of the value space instead of a full-width
  * stripe — a predicate box then overlaps few files' [min, max] ranges
  * and the rest are skippable from statistics alone, before any data is
  * read. This is the open-Spark re-expression of the lakehouse
  * `OPTIMIZE ... ZORDER BY (a, b)` maintenance op.
  *
  * Everything here is pure codegen'd column arithmetic (shift/mask
  * Morton spreading — ~5 ops per dimension, no UDF, no custom
  * expression) plus one min/max aggregate over the input, so the rewrite
  * itself is a single range-exchange + per-partition sort: exactly the
  * cost of any clustered write, with the curve key computed map-side.
  *
  * Semantics are untouched by layout: LayoutSpec asserts the z-ordered
  * copy answers box queries identically to the original, and pins the
  * skipping property (file bounding boxes measured from the written
  * files themselves).
  */
object Layout {

  /** Morton bit-spread: a 16-bit value placed on the even bit positions
    * of a 32-bit word (magic-mask form, 4 shift+or+mask steps).
    */
  private def spread16(c: Column): Column = {
    val a = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val d = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Range-normalize a numeric column to an integer in [0, 65535].
    * Degenerate range (min == max) maps everything to 0; nulls sort
    * first (treated as the minimum), matching a plain sort's null
    * placement.
    */
  private def scale16(c: Column, lo: Double, hi: Double): Column =
    if (hi <= lo) lit(0L)
    else least(lit(65535L), greatest(lit(0L),
      floor((coalesce(c.cast("double"), lit(lo)) - lit(lo)) * 65535.0 / (lit(hi) - lit(lo)))
        .cast("long")))

  /** The 32-bit Morton key of two range-normalized numeric columns —
    * `x` on the odd bit positions, `y` on the even. Pure map-side
    * arithmetic; the (lo, hi) bounds are the caller-supplied value
    * ranges (one agg over the input, see `writeZOrdered`).
    */
  def zorderKey(x: Column, xLo: Double, xHi: Double,
                y: Column, yLo: Double, yHi: Double): Column =
    shiftleft(spread16(scale16(x, xLo, xHi)), 1)
      .bitwiseOR(spread16(scale16(y, yLo, yHi)))

  /** Rewrite `df` as `numFiles` parquet files clustered along the
    * z-order curve of (`cx`, `cy`): one min/max aggregate (metadata-
    * sized driver lift), the curve key computed map-side, one range
    * exchange, one per-partition sort. The `_zkey` column is kept in
    * the files (harmless, occasionally useful for curve-range reads).
    */
  def writeZOrdered(df: DataFrame, path: String, cx: String, cy: String,
                    numFiles: Int = 32): Unit = {
    val r = df.agg(
      min(col(cx).cast("double")), max(col(cx).cast("double")),
      min(col(cy).cast("double")), max(col(cy).cast("double"))).head()
    require(!r.isNullAt(0) && !r.isNullAt(2), "z-order bounds need at least one non-null row")
    val keyed = df.withColumn("_zkey",
      zorderKey(col(cx), r.getDouble(0), r.getDouble(1), col(cy), r.getDouble(2), r.getDouble(3)))
    keyed.repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** How many of `path`'s files a box predicate `cx ∈ [x1, x2] ∧ cy ∈
    * [y1, y2]` can skip on file-level min/max statistics alone —
    * measured from the written files themselves (per-file bounds via
    * `input_file_name`), so the assertion holds for ANY stats-based
    * reader (Spark parquet row-group pruning, an external table format's
    * file pruning) without depending on one reader's metrics. Returns
    * (skippable, total).
    */
  def skippableFiles(spark: SparkSession, path: String, cx: String, cy: String,
                     x1: Double, x2: Double, y1: Double, y2: Double): (Long, Long) = {
    val bounds = spark.read.parquet(path)
      .groupBy(input_file_name().as("_f"))
      .agg(min(col(cx).cast("double")).as("_xlo"), max(col(cx).cast("double")).as("_xhi"),
        min(col(cy).cast("double")).as("_ylo"), max(col(cy).cast("double")).as("_yhi"))
    val overlap = col("_xhi") >= x1 && col("_xlo") <= x2 &&
      col("_yhi") >= y1 && col("_ylo") <= y2
    val r = bounds.agg(
      sum(when(overlap, 0L).otherwise(1L)).as("skip"),
      count(lit(1)).as("total")).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** Session-scoped z-ordered copy of the lineitem table, clustered on
  * (l_orderkey, l_partkey) — built once per (process, corpus dir) and
  * served to `q_zorder_box` (build once, query many; the `IndexStore`
  * pattern). Files live under a per-process scope directory so two
  * concurrent processes never race each other's rewrites.
  */
object LayoutStore {

  def lineitemZ(spark: SparkSession, dir: String): DataFrame = {
    val path = SessionStores.pathOf("graft_zorder", "li", dir)
    SessionStores.servedPath(spark, path) {
      Layout.writeZOrdered(Tables.tbl(spark, dir, "lineitem"), path,
        "l_orderkey", "l_partkey")
    }
  }
}
