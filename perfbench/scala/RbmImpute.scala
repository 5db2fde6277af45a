package perfbench

import graft.functions.Noise
import graft.ml.RbmImputer
import graft.operators.ColumnProfile
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The paper's own job: profile -> RbmImputer.fit -> transform over a
  * 600k-row lineitem frame with 10% of every target cell missing. The
  * input is one parquet file (a single scan split); the trainer collects
  * at most its 100k-row sample, while transform touches every row. */
final class RbmImpute(run: Run) extends Workload {
  import RbmImpute._

  private val spark = run.spark
  private var raw: DataFrame = _
  private var masked: DataFrame = _
  private val results = mutable.ArrayBuffer[(Array[Row], Row)]()

  // the seed picks each column's missingness salt
  private val salts: Map[String, Int] = {
    val r = new scala.util.Random(run.seed)
    Targets.map(_ -> (1 + r.nextInt(1 << 20))).toMap
  }
  private def mask(c: String): Column = Noise.missingMask(col(Key), salts(c), MissingFrac)

  def setup(): Unit = {
    raw = spark.read.parquet(s"${run.dataDir}/inputs/lineitem")
    masked = Targets.foldLeft(raw)((df, c) => Noise.injectMissing(df, c, Key, salts(c), MissingFrac))
    masked.createOrReplaceTempView("lineitem")
  }

  /** One full pass: the profile rows, and one aggregate row over the
    * imputed frame (the pass's collected result) holding per column the
    * nulls left, the known-cell checksum, and either the imputed cells'
    * range (numeric) or how many fall outside the generator's alphabet
    * (categorical). */
  private def pass(): (Array[Row], Row) = run.tracer.span("rbm_impute.pass") {
    val prof = run.tracer.span("operators.profile") {
      ColumnProfile.profile(masked, Targets).collect()
    }
    val model = run.tracer.span("ml.fit") {
      new RbmImputer().setNumericCols(Numeric).setCategoricalCols(Categorical)
        .setKeyCol(Key).setSeed(run.seed).fit(masked)
    }
    run.gauges("ml.epochs") = model.epochErrors.size
    val out = run.tracer.span("ml.transform") {
      model.transform(masked).agg(count(lit(1)), Targets.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)),
        sum(when(!mask(c), cellHash(c)).otherwise(0L))) ++ cells(c, mask(c))): _*)
        .collect()(0)
    }
    (prof, out)
  }

  /** Range, or count outside the alphabet, of the cells where `where`. */
  private def cells(c: String, where: Column): Seq[Column] = Alphabet.get(c) match {
    case None => Seq(min(when(where, col(c))), max(when(where, col(c))))
    case Some(a) => Seq(sum(when(where && !col(c).isin(a: _*), 1L).otherwise(0L)))
  }

  def measure(): Unit = run.batchPasses(results += pass())

  /** Checks every pass against the unmasked input: row count; per
    * column the profile's row and null counts, no nulls left, the
    * known-cell checksum unchanged, and imputed values inside the known
    * cells' range or value set. The known categorical values must be the
    * whole alphabet, which makes "outside the alphabet" exact. */
  override def finish(): Unit = {
    val want = raw.agg(count(lit(1)), Targets.flatMap(c => Seq(
      sum(when(mask(c), 1L).otherwise(0L)),
      sum(when(!mask(c), cellHash(c)).otherwise(0L))) ++ cells(c, !mask(c)) ++
      Alphabet.getOrElse(c, Nil).map(v => sum(when(!mask(c) && col(c) === v, 1L).otherwise(0L)))
    ): _*).collect()(0)
    val bad = results.count { case (prof, out) =>
      val errs = check(prof, out, want)
      errs.foreach(e => System.err.println(s"perfbench: rbm_impute pass: $e"))
      errs.nonEmpty
    }
    run.fail("rbm_impute passes failing output checks", bad)
  }

  private def check(prof: Array[Row], out: Row, want: Row): Seq[String] = {
    val n = want.getLong(0)
    val errs = Seq.newBuilder[String]
    if (out.getLong(0) != n) errs += s"rows ${out.getLong(0)} != $n"
    val byCol = prof.map(r => r.getString(0) -> r).toMap
    var o = 1 // column c's first field in `out`
    var w = 1 // and in `want`
    Targets.foreach { c =>
      val p = byCol(c)
      if (p.getAs[Long]("n_rows") != n || p.getAs[Long]("n_nulls") != want.getLong(w))
        errs += s"profile of $c: rows ${p.getAs[Long]("n_rows")}, nulls ${p.getAs[Long]("n_nulls")}"
      if (out.getLong(o) != 0) errs += s"${out.getLong(o)} nulls left in $c"
      if (out.getLong(o + 1) != want.getLong(w + 1)) errs += s"known cells of $c changed"
      Alphabet.get(c) match {
        case None =>
          if (out.getDouble(o + 2) < want.getDouble(w + 2) || out.getDouble(o + 3) > want.getDouble(w + 3))
            errs += s"imputed $c outside the known range"
          o += 4; w += 4
        case Some(a) =>
          if (out.getLong(o + 2) != 0) errs += s"${out.getLong(o + 2)} imputed $c values outside ${a.mkString(",")}"
          if (want.getLong(w + 2) != 0 || a.indices.exists(i => want.getLong(w + 3 + i) == 0))
            errs += s"known $c values are not exactly ${a.mkString(",")}"
          o += 3; w += 3 + a.size
      }
    }
    errs.result()
  }
}

object RbmImpute {
  val Key = "row_key"
  val Numeric = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  /** The values gen.py writes for each categorical column. */
  val Alphabet = Map("l_returnflag" -> Seq("A", "N", "R"), "l_linestatus" -> Seq("F", "O"))
  val Categorical = Seq("l_returnflag", "l_linestatus")
  val Targets: Seq[String] = Numeric ++ Categorical
  val MissingFrac = 0.10

  // per-cell hash folded below 2^31, so a 600k-row sum cannot overflow
  private def cellHash(c: String): Column =
    pmod(xxhash64(col(Key), col(c)), lit(Int.MaxValue.toLong))
}
