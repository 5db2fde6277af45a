package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** COLUMN PROFILE — the one-scan data-quality summary every ingest runs
  * before trusting a new corpus drop: per column, row/null/distinct
  * counts plus min/max/mean for numerics. One long-format row per
  * profiled column so the result is join-able against the previous
  * drop's profile (schema drift and null-rate regressions become a
  * trivial diff).
  *
  * Scale shape: every stat combines associatively (counts, min, max,
  * the decimal sum), so partial aggregation runs map-side and each
  * final merge sees one row per task. Exact mode plans TWO aggregates
  * over the same input, cross-joined in one query: a plain global
  * aggregate holding every non-distinct stat, and one holding only the
  * `count(distinct)`s. Catalyst plans several distinct columns in one
  * aggregate via Expand (one duplicated stream per distinct column);
  * kept apart, that Expand carries only the distinct columns, while
  * the regular stats skip it entirely and the two branches run as
  * independent adaptive stages at the same time. The trade at 100 TB
  * is one more column-pruned scan of the profiled columns against
  * dropping the regular stats' copy of every row from the Expand
  * stream. Exact mode is the oracle/CI shape; at 100 TB pass
  * `exact = false` (or use [[profileAdaptive]], which does so above
  * 10M rows) and the distinct counts become mergeable HLL sketches
  * (`approx_count_distinct`, ±~2%) in the ONE aggregate: one scan,
  * one stream, no Expand.
  *
  * Mean determinism (SURVEY §5.3): a double sum is order-dependent, so
  * the mean goes through an exact decimal(32,6) sum; both engines then
  * perform ONE double division on identical operands.
  */
object ColumnProfile {

  /** Profile `cols` (default: every column) of `df`. Output columns:
    * `column, n_rows, n_nulls, n_distinct, min_d, max_d, mean_d` —
    * the `_d` stats are null for non-numeric columns.
    */
  def profile(df: DataFrame, cols: Seq[String] = Nil,
              exact: Boolean = true): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    val schema = df.schema
    // Aggregate everything to ONE row (positional aliases sidestep any
    // exotic source column names), then pivot that row long with a
    // zero-cost explode over literal structs.
    val regular = names.zipWithIndex.flatMap { case (c, i) =>
      val numeric = schema(c).dataType.isInstanceOf[NumericType]
      val d = col(c).cast("double")
      Seq(
        count(lit(1)).as(s"__nr_$i"),
        (count(lit(1)) - count(col(c))).as(s"__nn_$i"),
        (if (numeric) min(d) else min(lit(null).cast("double")))
          .as(s"__mn_$i"),
        (if (numeric) max(d) else max(lit(null).cast("double")))
          .as(s"__mx_$i"),
        (if (numeric)
           sum(col(c).cast("decimal(32,6)")).cast("double") / count(col(c))
         else max(lit(null).cast("double"))).as(s"__av_$i"))
    }
    val distinct = names.zipWithIndex.map { case (c, i) =>
      (if (exact) count_distinct(col(c)) else approx_count_distinct(col(c)))
        .as(s"__nd_$i")
    }
    // both sides are global aggregates: one row each, also on empty input
    val one =
      if (exact) df.agg(regular.head, regular.tail: _*)
        .crossJoin(df.agg(distinct.head, distinct.tail: _*))
      else df.agg(regular.head, regular.tail ++ distinct: _*)
    val rows = names.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c).as("column"),
        col(s"__nr_$i").as("n_rows"),
        col(s"__nn_$i").as("n_nulls"),
        col(s"__nd_$i").as("n_distinct"),
        col(s"__mn_$i").as("min_d"),
        col(s"__mx_$i").as("max_d"),
        col(s"__av_$i").as("mean_d"))
    }
    one.select(explode(array(rows: _*)).as("__p")).select(col("__p.*"))
  }

  /** Adaptive gate for [[profile]]'s exact-vs-HLL distinct mode: the
    * exact-distinct Expand copies every row once per profiled column
    * (×|cols|-ing a 100 TB scan stream), so above `exactMaxRows` the
    * profile switches itself to HLL. The row probe is
    * `limit(n+1).count()` — a LocalLimit that short-circuits the scan
    * long before corpus size, so the gate costs one bounded partial
    * pass, not a full count. Every non-distinct stat
    * (rows/nulls/min/max/decimal mean) is bit-identical in either mode
    * (ColumnProfileSpec pins this); only `n_distinct` degrades to ±~2%.
    */
  val AdaptiveExactMaxRows: Int = 10 * 1000 * 1000

  def profileAdaptive(df: DataFrame, cols: Seq[String] = Nil,
                      exactMaxRows: Int = AdaptiveExactMaxRows): DataFrame = {
    require(exactMaxRows >= 0 && exactMaxRows < Int.MaxValue)
    val small = df.limit(exactMaxRows + 1).count() <= exactMaxRows
    profile(df, cols, exact = small)
  }

  /** PROFILE DRIFT — the monitoring step between two corpus drops: diff
    * `cur`'s profile against `prev`'s, per column. This is what turns
    * the profile into an alert surface: schema drift (added/removed
    * columns), null-rate regressions, cardinality shifts, mean
    * movement, and range widening (new out-of-envelope values — the
    * precursor of a constraint-check failure) all land in one row per
    * column.
    *
    * Scale shape: two profile scans (each one-pass, partial-agg'd) and
    * a |columns|-row full-outer join — the diff itself costs nothing at
    * any corpus size. Deterministic end to end: every metric is a count
    * ratio or an exact-decimal-mean delta, one double op sequence on
    * identical operands in both engines, rounded to the 6-dp grid. */
  def drift(cur: DataFrame, prev: DataFrame,
            curCols: Seq[String] = Nil, prevCols: Seq[String] = Nil,
            exact: Boolean = true): DataFrame = {
    val pc = profile(cur, curCols, exact)
    val pp = profile(prev, prevCols, exact)
    val c = pc.columns.filter(_ != "column")
      .foldLeft(pc)((d, n) => d.withColumnRenamed(n, s"${n}_cur"))
    val p = pp.columns.filter(_ != "column")
      .foldLeft(pp)((d, n) => d.withColumnRenamed(n, s"${n}_prev"))
    def rate(n: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
      when(d > 0, round(n.cast("double") / d.cast("double"), 6))
    c.join(p, Seq("column"), "full_outer")
      .withColumn("status",
        when(col("n_rows_prev").isNull, lit("added"))
          .when(col("n_rows_cur").isNull, lit("removed"))
          .otherwise(lit("common")))
      .withColumn("null_rate_cur", rate(col("n_nulls_cur"), col("n_rows_cur")))
      .withColumn("null_rate_prev", rate(col("n_nulls_prev"), col("n_rows_prev")))
      .withColumn("null_rate_delta",
        round(col("null_rate_cur") - col("null_rate_prev"), 6))
      .withColumn("distinct_ratio_cur", rate(col("n_distinct_cur"), col("n_rows_cur")))
      .withColumn("distinct_ratio_prev", rate(col("n_distinct_prev"), col("n_rows_prev")))
      .withColumn("mean_delta", round(col("mean_d_cur") - col("mean_d_prev"), 6))
      .withColumn("range_widened",
        (col("min_d_cur") < col("min_d_prev") ||
          col("max_d_cur") > col("max_d_prev")).cast("int"))
      .select("column", "status", "n_rows_cur", "n_rows_prev",
        "null_rate_cur", "null_rate_prev", "null_rate_delta",
        "distinct_ratio_cur", "distinct_ratio_prev",
        "mean_delta", "range_widened")
  }
}
