package graft.ml

import breeze.linalg.DenseMatrix
import graft.{SparkSpec, Tables}
import graft.functions.Noise
import graft.impute.Encoding
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-contract invariants (SURVEY §5.1 i–v) for the full
  * Estimator/Model imputation pipeline on real test data. */
class RbmImputerSpec extends SparkSpec {
  import RbmImputerSpec._

  private lazy val withMissing = {
    val base = Tables.customer(spark, sf0001)
    Noise.injectMissing(
      Noise.injectMissing(base, "c_acctbal", "c_custkey", salt = 21, frac = 0.10),
      "c_mktsegment", "c_custkey", salt = 22, frac = 0.10).cache()
  }

  private lazy val imputed = {
    val imputer = new RbmImputer()
      .setNumericCols(Seq("c_acctbal"))
      .setCategoricalCols(Seq("c_mktsegment"))
      .setKeyCol("c_custkey")
      .setNHidden(8).setMaxEpochs(10).setBatchSize(32)
    imputer.fit(withMissing).transform(withMissing).cache()
  }

  test("no nulls remain in the imputed columns") {
    assert(imputed.filter(col("c_acctbal").isNull || isnan(col("c_acctbal")) ||
      col("c_mktsegment").isNull).count() === 0)
  }

  test("originally-known cells are unchanged") {
    val joined = imputed.as("i")
      .join(withMissing.as("m"), "c_custkey")
    val numBad = joined.filter(col("m.c_acctbal").isNotNull &&
      col("i.c_acctbal") =!= col("m.c_acctbal")).count()
    val catBad = joined.filter(col("m.c_mktsegment").isNotNull &&
      col("i.c_mktsegment") =!= col("m.c_mktsegment")).count()
    assert(numBad === 0 && catBad === 0)
  }

  test("imputed categoricals come from the original category set") {
    val cats = Tables.customer(spark, sf0001)
      .select("c_mktsegment").distinct().collect().map(_.getString(0)).toSet
    val produced = imputed.select("c_mktsegment").distinct()
      .collect().map(_.getString(0)).toSet
    assert(produced.subsetOf(cats), s"unexpected categories ${produced -- cats}")
  }

  test("imputed numerics land inside the observed [min,max]") {
    val row = withMissing.agg(min("c_acctbal"), max("c_acctbal")).collect()(0)
    val (mn, mx) = (row.getDouble(0), row.getDouble(1))
    assert(imputed.filter(col("c_acctbal") < mn || col("c_acctbal") > mx).count() === 0)
  }

  test("schema and row count preserved") {
    assert(imputed.schema.fieldNames.toSeq ===
      withMissing.schema.fieldNames.toSeq)
    assert(imputed.count() === withMissing.count())
  }

  /** 3000 rows: a double column with nulls and NaN, an int column with
    * nulls, a float column, two string categoricals; some rows all
    * known, some all missing. */
  private lazy val mixed: DataFrame = {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("d", DoubleType),
      StructField("i", IntegerType), StructField("f", FloatType),
      StructField("c", StringType), StructField("e", StringType),
      StructField("other", StringType)))
    val rng = new scala.util.Random(17)
    val rows = (0 until 3000).map { k =>
      val kind = k % 10 // 0: all missing, 1-3: all known, else random holes
      def miss(p: Double): Boolean = kind == 0 || (kind > 3 && rng.nextDouble() < p)
      val d: Any = if (miss(0.15)) (if (rng.nextBoolean()) null else Double.NaN)
        else rng.nextGaussian() * 100
      val i: Any = if (miss(0.15)) null else rng.nextInt(50)
      val f: Any = if (miss(0.1)) (if (rng.nextBoolean()) null else Float.NaN)
        else rng.nextFloat()
      val c: Any = if (miss(0.2)) null else Seq("a", "b", "c", "d")(rng.nextInt(4))
      val e: Any = if (miss(0.2)) null else Seq("x", "y")(rng.nextInt(2))
      Row(k.toLong, d, i, f, c, e, s"o$k")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema).cache()
  }

  private lazy val mixedModel = new RbmImputer()
    .setNumericCols(Seq("d", "i", "f")).setCategoricalCols(Seq("c", "e"))
    .setKeyCol("k").setMaxEpochs(4).setSeed(5)
    .fit(mixed)

  test("a NaN cell in a double target column gets finite imputed values in range") {
    // the layout's min/max must read NaN as null: in Spark's ordering
    // NaN is the max, and a NaN range makes every imputed value NaN
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("d", DoubleType), StructField("c", StringType)))
    val rng = new scala.util.Random(3)
    val rows = (0 until 400).map { k =>
      val d: Any = if (k == 7) Double.NaN else if (k % 9 == 0) null
        else rng.nextGaussian() * 10 + 50
      Row(k.toLong, d, Seq("a", "b")(k % 2))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val out = new RbmImputer().setNumericCols(Seq("d"))
      .setCategoricalCols(Seq("c")).setKeyCol("k").setMaxEpochs(3).setSeed(1)
      .fit(df).transform(df)
    val range = df.filter(!isnan(col("d"))).agg(min("d"), max("d")).head()
    val (mn, mx) = (range.getDouble(0), range.getDouble(1))
    val holes = df.filter(col("d").isNull || isnan(col("d"))).select("k")
    val filled = out.join(holes, "k").select("d").collect().map(_.getDouble(0))
    assert(filled.length === 46)
    assert(filled.forall(v => !v.isNaN && v >= mn && v <= mx),
      s"imputed ${filled.mkString(", ")} outside [$mn, $mx]")
  }

  test("transform equals the former mapPartitions formulation bit for bit") {
    val got = mixedModel.transform(mixed)
    val want = rowPathTransform(mixedModel, mixed)
    assert(got.filter(Seq("d", "i", "f").map(c => col(c).isNull || isnan(col(c)))
      .reduce(_ || _)).count() === 0)
    assert(got.schema === want.schema)
    assert(bitRows(got, "k") === bitRows(want, "k"))
    // and on the customer frame, through the default configuration
    val model = new RbmImputer().setNumericCols(Seq("c_acctbal"))
      .setCategoricalCols(Seq("c_mktsegment")).setKeyCol("c_custkey")
      .setMaxEpochs(3).fit(withMissing)
    def byKey(df: DataFrame) = bitRows(df, "c_custkey")
    assert(byKey(model.transform(withMissing)) ===
      byKey(rowPathTransform(model, withMissing)))
  }

  test("transform plans no MapPartitions and no DeserializeToObject") {
    val out = mixedModel.transform(mixed)
    out.write.format("noop").mode("overwrite").save()
    def nodes(df: DataFrame): String =
      df.queryExecution.optimizedPlan.toString + df.queryExecution.executedPlan.toString
    for (node <- Seq("MapPartitions", "DeserializeToObject"))
      assert(!nodes(out).contains(node), s"$node in\n${nodes(out)}")
    // the check can see them: the former Row path planned both
    val old = nodes(rowPathTransform(mixedModel, mixed))
    assert(old.contains("MapPartitions") && old.contains("DeserializeToObject"))
    assert(out.queryExecution.executedPlan.toString.contains("graft_rbm_reconstruct"))
  }

  test("a __v width other than the model's nVisible throws") {
    val narrow = new RbmImputerModel("narrow", mixedModel.layout,
      RbmCore.init(mixedModel.layout.width - 1, RbmCore.Config()), Nil).setKeyCol("k")
    val e = intercept[Exception](narrow.transform(mixed).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("the model has")), e.toString)
  }
}

object RbmImputerSpec {

  /** `transform` as it ran before the native expression: a
    * `mapPartitions` over `Encoders.row` with one Breeze reconstruct per
    * 1024-row block (RbmCoreSpec.reconstruct is that Breeze pass) with
    * `weights`, by default the model's own. */
  def rowPathTransform(model: RbmImputerModel, df: DataFrame,
                       weights: Option[RbmCoreSpec.BreezeWeights] = None): DataFrame = {
    val encoded = Encoding.encode(df, model.layout, model.getOrDefault(model.keyCol))
    val outSchema = encoded.schema.add(Encoding.ReconCol, ArrayType(DoubleType, false))
    val bc = df.sparkSession.sparkContext.broadcast(
      weights.getOrElse(RbmCoreSpec.toBreeze(model.weights)))
    val vIdx = encoded.schema.fieldIndex(Encoding.VCol)
    val width = model.layout.width
    val reconDf = encoded.mapPartitions { it: Iterator[Row] =>
      it.grouped(1024).flatMap { batch =>
        val v = DenseMatrix.tabulate(batch.size, width)(
          (r, c) => batch(r).getSeq[Double](vIdx)(c))
        val recon = RbmCoreSpec.reconstruct(bc.value, v)
        batch.iterator.zipWithIndex.map { case (row, r) =>
          Row.fromSeq(row.toSeq :+ (0 until width).map(recon(r, _)))
        }
      }
    }(Encoders.row(outSchema))
    Encoding.decode(reconDf, model.layout, df.schema.fieldNames.toSeq)
  }

  /** Rows sorted by `key`, doubles and floats as raw bits. */
  def bitRows(df: DataFrame, key: String): Seq[Seq[Any]] =
    df.orderBy(key).collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case f: Float => java.lang.Float.floatToRawIntBits(f)
      case v => v
    })
}
