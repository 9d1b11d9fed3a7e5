package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-phase statistics: compute scalar stats in one distributed job,
  * then use them as literals in a second plan — the Spark-idiomatic
  * re-expression of the reference's client-side IQR/min-max
  * round-trips (`etl_pipeline/transform.py:37-73`,
  * `elt/hold.ipynb:cell12`). The median
  * (`etl_pipeline/transform.py:163`) is instead a scalar subquery
  * ([[medianColumn]]) that runs inside the plan using it.
  *
  * Quantiles are defined as *lower order statistics* (the value at
  * zero-based rank `floor(q*(n-1))` of the sorted column). This is
  * deterministic and engine-independent — no interpolation arithmetic
  * to diverge between engines or between cluster runs.
  *
  * Scale note: `orderStat` plans as TakeOrderedAndProject(k+1), which
  * is fine while k fits in memory (stats over a measure column). At
  * 100 TB, swap in `percentile_approx` (sketch-based, one pass, no
  * global sort) via the `approxQuantile` helper — the two are
  * interchangeable wherever a tolerance is acceptable.
  */
object StatsOps {

  /** Zero-based rank of quantile q in n rows (lower order statistic). */
  def rankOf(q: Double, n: Long): Long = math.floor(q * (n - 1)).toLong

  /** Guard threshold for exact per-group rank windows — the grouped
    * form of the orderStat discipline. A window partitioned by a
    * low-NDV key (5 order priorities, 5 event types) sorts each
    * group's FULL row set in a single task; past this bound that task
    * is a skewed-shuffle hot spot and the plan must fail loudly
    * instead (callers switch to the registered `percentile_approx`
    * variant, which is mergeable sketch state — no per-group sort). */
  val MaxRankGroupRows = 10000000L

  /** Loud-failure guard for exact rank windows over low-NDV partition
    * keys (same discipline as Dedup.MaxExactRows). Runs one EAGER
    * aggregation job over just the grouping column — column-pruned,
    * map-side combined, cheap relative to the guarded per-group sort —
    * so do not call it inside a hot per-query loop. */
  def requireGroupsSortable(df: DataFrame, grp: Column,
      maxRows: Long = MaxRankGroupRows): Unit = {
    val worst = df.groupBy(grp).count()
      .agg(max(col("count"))).head()
    val n = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    require(n <= maxRows,
      s"largest group has $n rows > $maxRows: an exact rank window " +
        s"would sort the whole group in one task; use the " +
        s"percentile_approx variant at this scale")
  }

  /** Exact lower-order-statistic quantile of a numeric column. */
  def orderStat(df: DataFrame, c: Column, q: Double): Double = {
    val vals = df.select(c.cast("double").as("x")).filter(col("x").isNotNull)
    val n = vals.count()
    require(n > 0, "orderStat on empty input")
    val k = rankOf(q, n)
    // limit() takes an Int; past that rank the exact path cannot be
    // planned as sort-limit — fail loudly rather than silently
    // truncating the rank (callers switch to approxQuantile at scale).
    require(k < Int.MaxValue - 1,
      s"orderStat rank $k exceeds exact sort-limit range; use approxQuantile")
    vals.orderBy(col("x")).limit(k.toInt + 1)
      .agg(max(col("x"))).head().getDouble(0)
  }

  /** Sketch-based quantile for the 100 TB path (single pass, no sort). */
  def approxQuantile(df: DataFrame, c: Column, q: Double): Double =
    df.select(percentile_approx(c.cast("double"), lit(q), lit(10000)))
      .head().getDouble(0)

  /** IQR bounds (reference handle_outliers_iqr,
    * etl_pipeline/transform.py:37-58): [q1 - 1.5*iqr, q3 + 1.5*iqr]. */
  def iqrBounds(df: DataFrame, c: Column): (Double, Double) = {
    val q1 = orderStat(df, c, 0.25)
    val q3 = orderStat(df, c, 0.75)
    val iqr = q3 - q1
    (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
  }

  /** Min and max of a column in one job (reference min_max_scale,
    * etl_pipeline/transform.py:62-73). */
  def minMax(df: DataFrame, c: Column): (Double, Double) = {
    val row = df.agg(min(c.cast("double")), max(c.cast("double"))).head()
    (row.getDouble(0), row.getDouble(1))
  }

  /** Lower-order-statistic median of the non-null values of `c` cast
    * to double (reference median imputation,
    * etl_pipeline/transform.py:161-166), as a scalar subquery: a lazy
    * column that runs with the plan it is used in, so building that
    * plan starts no job. `percentile_disc(0.5)` picks the value at
    * zero-based rank ceil(n/2)-1, which is [[rankOf]]`(0.5, n)` for
    * every n. A column with no non-null value fails the plan loudly.
    *
    * Scale note: percentile_disc counts each distinct value, so the
    * final aggregate holds the column's distinct values in one task,
    * as `orderStat`'s sort-limit holds half the rows; see
    * [[approxQuantile]] for the one-pass sketch. */
  def medianColumn(df: DataFrame, c: Column): Column =
    df.select(c.cast("double").as("x")).filter(col("x").isNotNull)
      .agg(coalesce(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)"),
        raise_error(lit("median of a column with no non-null value"))))
      .scalar()

  /** [[medianColumn]], collected. */
  def median(df: DataFrame, c: Column): Double =
    df.sparkSession.range(1).select(medianColumn(df, c)).head().getDouble(0)

  /** Equal-width histogram bin id with a constant-column guard: when
    * `mx == mn` (e.g. a narrow dashboard filter leaves one distinct
    * value) every row lands in bin 0 instead of dividing by a zero
    * width — the same convention `ColumnOps.minMaxScale` uses for
    * constant columns. Values at the max clamp into the last bin
    * (reference dashboard/app.py:384-389 maxbins behavior). */
  def histogramBin(c: Column, mn: Double, mx: Double, bins: Int): Column =
    if (mx == mn) lit(0L)
    else least(floor((c - lit(mn)) / lit((mx - mn) / bins.toDouble)),
      lit((bins - 1).toLong))
}
