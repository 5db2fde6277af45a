package graft.impute

import graft.functions.Noise
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The encoded-matrix layout and the encode/decode projections — the
  * reference's preprocessing stages A3–A9 and postprocessing A12–A15
  * (SURVEY.md §2), expressed as pure Column expressions so the whole
  * path stays inside whole-stage codegen: one logical row becomes
  * `[scaled numerics…, one-hot groups…]`, every cell in [0,1], missing
  * cells noise-filled deterministically (keyed hash-noise) with a
  * per-source-column known/missing flag alongside.
  */
final case class NumericStats(name: String, min: Double, max: Double)

final case class CategoryInfo(name: String, values: Seq[String])

/** Driver-side description of the encoded width: numeric unit i sits at
  * index i; categorical group j occupies a contiguous slice. Width is
  * bounded by the ImputeSpec cardinality cap so the RBM weight matrix
  * stays broadcastable at 100 TB row counts (SURVEY §1.2). */
final case class ColumnLayout(
    numerics: Seq[NumericStats],
    categoricals: Seq[CategoryInfo]) extends Serializable {
  val width: Int = numerics.size + categoricals.map(_.values.size).sum
  /** (start, length) of categorical group j within the encoded row. */
  def catSlice(j: Int): (Int, Int) = {
    val start = numerics.size + categoricals.take(j).map(_.values.size).sum
    (start, categoricals(j).values.size)
  }
  def sourceColumns: Seq[String] = numerics.map(_.name) ++ categoricals.map(_.name)
}

object Encoding {

  import org.apache.spark.sql.types.{DoubleType, FloatType}

  /** Missing = null, plus NaN for float-typed columns only (an ANSI-safe
    * check — casting strings to double would throw under Spark 4 ANSI). */
  def missingExpr(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case DoubleType | FloatType => col(name).isNull || isnan(col(name))
      case _ => col(name).isNull
    }

  val VCol = "__v"        // Array[Double]: the encoded visible row
  val KnownCol = "__known" // Array[Boolean]: per SOURCE column presence
  val ReconCol = "__recon" // Array[Double]: RBM reconstruction

  /** Fits the layout: one agg pass for numeric min/max (A4) plus ONE
    * pass for ALL categorical value lists (A6) — explode the (column,
    * value) pairs, count, rank per column, collect once. Driver
    * round-trips are independent of column count (round 1 ran one
    * groupBy-collect per categorical column — k collects for k columns).
    * Categories beyond the top `maxCardinality` by frequency collapse
    * into their own exclusion (they decode as the most frequent value) —
    * the width cap that keeps the model broadcastable. Value lists are
    * sorted so Spark and any handwritten oracle enumerate identical unit
    * order (SURVEY §5.3); frequency ties at the cap break by string
    * order of the value. */
  def fitLayout(df: DataFrame, spec: ImputeSpec): ColumnLayout = {
    val stats: Seq[NumericStats] = if (spec.numeric.isEmpty) Seq.empty else {
      // NaN reads as null (float/double only): Spark orders NaN above
      // every value, so one NaN cell would become the max and make every
      // imputed value of its column NaN
      def known(c: String): Column = df.schema(c).dataType match {
        case DoubleType | FloatType => when(!isnan(col(c)), col(c))
        case _ => col(c)
      }
      val aggs = spec.numeric.flatMap(c => Seq(min(known(c)), max(known(c))))
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      spec.numeric.zipWithIndex.map { case (c, i) =>
        def d(x: Any): Double = x match {
          case null => 0.0
          case n: Number => n.doubleValue()
        }
        NumericStats(c, d(row.get(2 * i)), d(row.get(2 * i + 1)))
      }
    }
    val cats: Seq[CategoryInfo] = if (spec.categorical.isEmpty) Seq.empty else {
      import org.apache.spark.sql.expressions.Window
      val entries = spec.categorical.map(c =>
        struct(lit(c).as("col"), col(c).cast("string").as("v")))
      val w = Window.partitionBy(col("col"))
        .orderBy(col("count").desc, col("v").asc)
      val top = df.select(explode(array(entries: _*)).as("e"))
        .select(col("e.col").as("col"), col("e.v").as("v"))
        .filter(col("v").isNotNull)
        .groupBy(col("col"), col("v")).count()
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= spec.maxCardinality)
        .select("col", "v")
        .collect()
      val byCol = top.groupBy(_.getString(0))
      spec.categorical.map(c => CategoryInfo(c,
        byCol.getOrElse(c, Array.empty).map(_.getString(1)).toSeq.sorted))
    }
    ColumnLayout(stats, cats)
  }

  /** Appends `__v` (noise-filled encoded row) and `__known` (per source
    * column). Missing = null or NaN. `keyCol` drives the deterministic
    * noise fill; `saltBase` offsets the per-unit salts. */
  def encode(df: DataFrame, layout: ColumnLayout, keyCol: String,
             saltBase: Int = 1000): DataFrame = {
    val key = col(keyCol)
    def missing(name: String): Column = missingExpr(df, name)

    val numericUnits: Seq[Column] = layout.numerics.zipWithIndex.map {
      case (stat, i) =>
        val c = col(stat.name).cast("double")
        val scaled = Scaling.scale(c, lit(stat.min), lit(stat.max))
        when(missing(stat.name), Noise.hashNoise(key, saltBase + i)).otherwise(scaled)
    }
    val catUnits: Seq[Column] = layout.categoricals.zipWithIndex.flatMap {
      case (info, j) =>
        val (start, _) = layout.catSlice(j)
        val c = col(info.name)
        info.values.zipWithIndex.map { case (v, k) =>
          when(missing(info.name), Noise.hashNoise(key, saltBase + start + k))
            .otherwise(when(c === lit(v), lit(1.0)).otherwise(lit(0.0)))
        }
    }
    val knownFlags: Seq[Column] =
      layout.sourceColumns.map(c => !missing(c))
    df.withColumn(VCol, array(numericUnits ++ catUnits: _*))
      .withColumn(KnownCol, array(knownFlags: _*))
  }

  /** Expands per-source-column known flags into per-encoded-unit flags
    * (a categorical column's flag covers its whole one-hot group). */
  def expandKnown(layout: ColumnLayout, k: IndexedSeq[Boolean]): Array[Boolean] = {
    val out = new Array[Boolean](layout.width)
    var s = 0
    while (s < layout.numerics.size) { out(s) = k(s); s += 1 }
    var g = 0
    while (g < layout.categoricals.size) {
      val (start, len) = layout.catSlice(g)
      var u = 0
      while (u < len) { out(start + u) = k(layout.numerics.size + g); u += 1 }
      g += 1
    }
    out
  }

  /** Merges the reconstruction back: known cells pass through untouched
    * (A12), numerics inverse-scale (A13), categoricals argmax-decode
    * with ties going to the first unit (A14), original schema restored
    * (A15). Expects `__recon` alongside the original columns. */
  def decode(df: DataFrame, layout: ColumnLayout, originalColumns: Seq[String],
             roundNumericsTo: Option[Int] = None): DataFrame = {
    val known = col(KnownCol)
    val recon = col(ReconCol)
    val imputed: Map[String, Column] =
      layout.numerics.zipWithIndex.map { case (stat, i) =>
        val raw = Scaling.unscale(element_at(recon, i + 1), lit(stat.min), lit(stat.max))
        val v = roundNumericsTo.map(nd => round(raw, nd)).getOrElse(raw)
        stat.name -> when(!element_at(known, i + 1), v).otherwise(col(stat.name))
      }.toMap ++
      layout.categoricals.zipWithIndex.map { case (info, j) =>
        val (start, len) = layout.catSlice(j)
        val grp = slice(recon, start + 1, len)
        val idx = array_position(grp, array_max(grp)).cast("int")
        val decoded = element_at(array(info.values.map(lit): _*), idx)
        val knownIdx = layout.numerics.size + j + 1
        info.name -> when(!element_at(known, knownIdx), decoded).otherwise(col(info.name))
      }.toMap
    df.select(originalColumns.map(c => imputed.getOrElse(c, col(c)).as(c)): _*)
  }
}
