package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

class ColumnProfileSpec extends SparkSpec {

  import spark.implicits._

  private def byCol(df: org.apache.spark.sql.DataFrame): Map[String, Row] =
    df.collect().map(r => r.getString(0) -> r).toMap

  /** The exact profile as ONE aggregate — the formulation before the
    * distinct counts moved into their own branch, kept as the
    * reference the two-branch plan must reproduce bit for bit. */
  private def singleAggProfile(df: DataFrame, names: Seq[String]): DataFrame = {
    val aggs = names.zipWithIndex.flatMap { case (c, i) =>
      val numeric = df.schema(c).dataType.isInstanceOf[NumericType]
      val d = col(c).cast("double")
      Seq(
        count(lit(1)).as(s"__nr_$i"),
        (count(lit(1)) - count(col(c))).as(s"__nn_$i"),
        count_distinct(col(c)).as(s"__nd_$i"),
        (if (numeric) min(d) else min(lit(null).cast("double")))
          .as(s"__mn_$i"),
        (if (numeric) max(d) else max(lit(null).cast("double")))
          .as(s"__mx_$i"),
        (if (numeric)
           sum(col(c).cast("decimal(32,6)")).cast("double") / count(col(c))
         else max(lit(null).cast("double"))).as(s"__av_$i"))
    }
    val rows = names.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column"), col(s"__nr_$i").as("n_rows"),
        col(s"__nn_$i").as("n_nulls"), col(s"__nd_$i").as("n_distinct"),
        col(s"__mn_$i").as("min_d"), col(s"__mx_$i").as("max_d"),
        col(s"__av_$i").as("mean_d"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("__p")).select(col("__p.*"))
  }

  /** Rows in order with every double as its bit pattern, so -0.0 vs
    * 0.0 and NaN compare exactly. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })

  test("counts, nulls, distincts, numeric stats") {
    val df = Seq(
      (Some(1L), Some(2.0), Some("a")),
      (Some(2L), None,      Some("b")),
      (Some(2L), Some(4.0), None),
      (None,     Some(6.0), Some("a")))
      .toDF("k", "v", "s")
    val p = byCol(ColumnProfile.profile(df))
    assert(p.keySet === Set("k", "v", "s"))
    val k = p("k")
    assert(k.getLong(1) === 4L && k.getLong(2) === 1L && k.getLong(3) === 2L)
    assert(k.getDouble(4) === 1.0 && k.getDouble(5) === 2.0)
    assert(k.getDouble(6) === (1.0 + 2.0 + 2.0) / 3)
    val v = p("v")
    assert(v.getLong(2) === 1L && v.getLong(3) === 3L)
    assert(v.getDouble(4) === 2.0 && v.getDouble(5) === 6.0 &&
      v.getDouble(6) === 4.0)
    // string column: counts only, numeric stats null
    val s = p("s")
    assert(s.getLong(2) === 1L && s.getLong(3) === 2L)
    assert(s.isNullAt(4) && s.isNullAt(5) && s.isNullAt(6))
  }

  test("all-null and empty inputs profile without NaNs or crashes") {
    val df = Seq.empty[(Option[Long], Option[String])].toDF("k", "s")
    val p = byCol(ColumnProfile.profile(df))
    assert(p("k").getLong(1) === 0L && p("k").getLong(3) === 0L)
    assert(p("k").isNullAt(4) && p("k").isNullAt(6))
    val nulls = Seq((Option.empty[Long], Option.empty[String]),
      (Option.empty[Long], Option.empty[String])).toDF("k", "s")
    val q = byCol(ColumnProfile.profile(nulls))
    assert(q("k").getLong(1) === 2L && q("k").getLong(2) === 2L &&
      q("k").getLong(3) === 0L)
    assert(q("k").isNullAt(4) && q("k").isNullAt(5) && q("k").isNullAt(6))
  }

  test("column subset selection and approx mode") {
    val df = (1L to 1000L).map(i => (i, i % 10, s"s$i")).toDF("a", "b", "s")
    val exact = byCol(ColumnProfile.profile(df, Seq("a", "b")))
    assert(exact.keySet === Set("a", "b"))
    assert(exact("a").getLong(3) === 1000L && exact("b").getLong(3) === 10L)
    // approx mode: HLL estimate within its documented ~2-5% envelope
    val approx = byCol(ColumnProfile.profile(df, Seq("a"), exact = false))
    val est = approx("a").getLong(3).toDouble
    assert(math.abs(est - 1000.0) / 1000.0 < 0.1)
  }

  test("scale mode: non-distinct stats bit-identical, Expand dropped") {
    val li = graft.Tables.lineitem(spark, sf0001)
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag")
    val exact = ColumnProfile.profile(li, cols).drop("n_distinct")
    val hll = ColumnProfile.profile(li, cols, exact = false).drop("n_distinct")
    // every retained stat (rows/nulls/min/max/decimal mean) is exact
    // arithmetic in both modes — bit-identical, which is what lets the
    // d13 scale query sit under the exact oracle
    assert(byCol(exact).map { case (k, r) => k -> r.toSeq } ===
      byCol(hll).map { case (k, r) => k -> r.toSeq })
    // the whole point of the switch: exact multi-column distinct plans
    // via Expand (×streams the scan); HLL collapses to one stream
    val exactPlan = ColumnProfile.profile(li, cols)
      .queryExecution.executedPlan.toString
    val hllPlan = ColumnProfile.profile(li, cols, exact = false)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"))
    assert(!hllPlan.contains("Expand"))
  }

  test("two-branch exact plan ≡ the single-aggregate formulation, bit " +
    "for bit") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val df = Seq(
      (Some(1L), Some(0.0), Some("a"), Some(d("2024-01-01")), Some(1.5f)),
      (Some(2L), Some(-0.0), None, Some(d("2024-01-01")), Some(-0.0f)),
      (None, Some(Double.NaN), Some("b"), None, None),
      (Some(2L), None, Some("a"), Some(d("1999-12-31")), Some(Float.NaN)),
      (Some(-7L), Some(2.5), Some(""), Some(d("2024-02-29")), Some(0.0f)),
      (Some(2L), Some(Double.NaN), Some("b"), None, Some(3.25f)))
      .toDF("k", "v", "s", "dt", "f")
    val allNull = Seq((Option.empty[Long], Option.empty[String]),
      (Option.empty[Long], Option.empty[String])).toDF("k", "s")
    val empty = Seq.empty[(Option[Long], Option[Double], Option[String])]
      .toDF("k", "v", "s")
    val li = graft.Tables.lineitem(spark, sf0001)
    val liCols = Seq("l_orderkey", "l_quantity", "l_discount",
      "l_linenumber", "l_returnflag", "l_shipdate")
    for ((name, in, cols) <- Seq(("mixed", df, df.columns.toSeq),
        ("mixed subset", df, Seq("v", "s")),
        ("all-null", allNull, allNull.columns.toSeq),
        ("empty", empty, empty.columns.toSeq),
        ("lineitem", li, liCols))) {
      val got = ColumnProfile.profile(in, cols)
      assert(got.schema === singleAggProfile(in, cols).schema, name)
      assert(bits(got) === bits(singleAggProfile(in, cols)), name)
    }
  }

  test("adaptive gate: small stays exact, above-threshold flips to HLL") {
    val df = (1L to 1000L).map(i => (i, s"s$i")).toDF("a", "s")
    // under the threshold: bit-identical to the exact profile
    val small = ColumnProfile.profileAdaptive(df, Seq("a", "s"),
      exactMaxRows = 5000)
    assert(byCol(small).map { case (k, r) => k -> r.toSeq } ===
      byCol(ColumnProfile.profile(df, Seq("a", "s")))
        .map { case (k, r) => k -> r.toSeq })
    // over the threshold: the profile switched itself to the HLL plan
    val big = ColumnProfile.profileAdaptive(df, Seq("a", "s"),
      exactMaxRows = 100)
    assert(!big.queryExecution.executedPlan.toString.contains("Expand"))
    val est = byCol(big)("a").getLong(3).toDouble
    assert(math.abs(est - 1000.0) / 1000.0 < 0.1)
  }

  test("profile agrees with lineitem ground truth at sf0.001") {
    val li = graft.Tables.lineitem(spark, sf0001)
    val p = byCol(ColumnProfile.profile(li, Seq("l_orderkey", "l_quantity")))
    val n = li.count()
    assert(p("l_orderkey").getLong(1) === n)
    assert(p("l_quantity").getDouble(4) === 1.0)
    assert(p("l_quantity").getDouble(5) === 50.0)
  }

  test("drift: schema add/remove, null-rate regression, range widening") {
    val prev = Seq((1L, "a", 5.0), (2L, "b", 7.0), (3L, "c", 9.0))
      .toDF("id", "s", "v")
    val cur = Seq((4L, "a", Some(5.0), 1L), (5L, "b", Some(99.0), 1L),
        (6L, "c", Option.empty[Double], 1L), (7L, "d", Some(6.0), 1L))
      .toDF("id", "s", "v", "extra")
    val d = ColumnProfile.drift(cur, prev,
        Seq("v", "extra"), Seq("v", "id"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(d("extra").getString(1) === "added")
    assert(d("id").getString(1) === "removed")
    val v = d("v")
    assert(v.getString(1) === "common")
    assert(v.getDouble(v.fieldIndex("null_rate_cur")) === 0.25)
    assert(v.getDouble(v.fieldIndex("null_rate_delta")) === 0.25)
    assert(v.getInt(v.fieldIndex("range_widened")) === 1) // 99 > 9
    // added/removed rows carry no delta metrics
    assert(d("extra").isNullAt(d("extra").fieldIndex("null_rate_delta")))
  }
}
