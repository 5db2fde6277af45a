package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.{SparkSpec, Tables}
import graft.functions.Noise
import org.apache.spark.sql.functions._

class PersistenceSpec extends SparkSpec {

  private lazy val withMissing = Noise.injectMissing(
    Noise.injectMissing(Tables.customer(spark, sf0001), "c_acctbal",
      "c_custkey", 21, 0.10),
    "c_mktsegment", "c_custkey", 22, 0.10).cache()

  private def imputer = new RbmImputer()
    .setNumericCols(Seq("c_acctbal"))
    .setCategoricalCols(Seq("c_mktsegment"))
    .setKeyCol("c_custkey").setMaxEpochs(5)

  test("save/load round-trip: loaded model transforms identically") {
    val model = imputer.fit(withMissing)
    val dir = java.nio.file.Files.createTempDirectory("rbm_model").toString
    model.save(s"$dir/m")
    val loaded = RbmImputerModel.load(spark, s"$dir/m")
    val a = model.transform(withMissing).orderBy("c_custkey").collect()
    val b = loaded.transform(withMissing).orderBy("c_custkey").collect()
    assert(a.toSeq === b.toSeq)
    assert(loaded.layout === model.layout)
    assert(loaded.weights.w === model.weights.w)
  }

  test("model and estimator survive MLlib Pipeline persistence") {
    import org.apache.spark.ml.{Pipeline, PipelineModel}
    val dir = java.nio.file.Files.createTempDirectory("rbm_pipe").toString

    // unfitted pipeline: estimator is DefaultParamsWritable
    val pipe = new Pipeline().setStages(Array(imputer))
    pipe.write.overwrite().save(s"$dir/pipe")
    val loadedPipe = Pipeline.load(s"$dir/pipe")
    val stage = loadedPipe.getStages(0).asInstanceOf[RbmImputer]
    assert(stage.getOrDefault(stage.numericCols).toSeq === Seq("c_acctbal"))

    // fitted pipeline: model round-trips through PipelineModel.load,
    // which resolves RbmImputerModel reflectively from our metadata
    val pm = pipe.fit(withMissing)
    pm.write.overwrite().save(s"$dir/pm")
    val loadedPm = PipelineModel.load(s"$dir/pm")
    val a = pm.transform(withMissing).orderBy("c_custkey").collect()
    val b = loadedPm.transform(withMissing).orderBy("c_custkey").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("a saved model whose shapes disagree fails at load, naming the mismatch") {
    val model = imputer.fit(withMissing)
    val dir = java.nio.file.Files.createTempDirectory("rbm_tamper").toString
    model.save(s"$dir/m")
    val data = spark.read.parquet(s"$dir/m/data").cache()
    assert(data.count() === 1)
    val cases = Seq(
      "layout width" -> data.withColumn("catValues",
        transform(col("catValues"), v => slice(v, 2, 1000))),
      "vBias length" -> data.withColumn("vBias", slice(col("vBias"), 2, 1000)),
      "hBias length" -> data.withColumn("hBias", concat(col("hBias"), array(lit(0.0)))),
      "weight count" -> data.withColumn("w", slice(col("w"), 2, 100000)))
    cases.zipWithIndex.foreach { case ((what, tampered), i) =>
      model.save(s"$dir/t$i")
      tampered.write.mode("overwrite").parquet(s"$dir/t$i/data")
      val e = intercept[IllegalArgumentException](RbmImputerModel.load(s"$dir/t$i"))
      assert(e.getMessage.contains(what), e.getMessage)
    }
    // the untampered copy still loads
    assert(RbmImputerModel.load(s"$dir/m").weights.w === model.weights.w)
  }

  test("the saved weights are column-major, and column-major weights load as Breeze read them") {
    // a save and a load that both transposed would pass the round trip
    // above; a non-square model with distinct weights pins the order
    val layout = imputer.fit(withMissing).layout
    val (nv, nh) = (layout.width, 4)
    assert(nv != nh)
    def wAt(i: Int, j: Int): Double = 0.05 * (i * nh + j + 1) * (if ((i + j) % 2 == 0) 1 else -1)
    val model = new RbmImputerModel("nonsquare", layout,
      new RbmWeights(nv, nh, Array.tabulate(nv * nh)(k => wAt(k / nh, k % nh)),
        Array.tabulate(nv)(i => 0.1 * i - 0.2), Array.tabulate(nh)(j => 0.3 - 0.1 * j)),
      Nil).setKeyCol("c_custkey")
    val dir = java.nio.file.Files.createTempDirectory("rbm_order").toString
    model.save(s"$dir/m")
    val colMajor = Seq.tabulate(nv * nh)(k => wAt(k % nv, k / nv))
    assert(spark.read.parquet(s"$dir/m/data").select("w").head().getSeq[Double](0) === colMajor)

    // a ModelData written in that order, as earlier versions wrote it
    import spark.implicits._
    val d = RbmImputerModel.ModelData("colmajor", "c_custkey",
      layout.numerics.map(_.name), layout.numerics.map(_.min), layout.numerics.map(_.max),
      layout.categoricals.map(_.name), layout.categoricals.map(_.values),
      nv, nh, colMajor, model.weights.vBias.toSeq, model.weights.hBias.toSeq, Nil)
    model.save(s"$dir/c")
    Seq(d).toDS().write.mode("overwrite").parquet(s"$dir/c/data")
    val loaded = RbmImputerModel.load(s"$dir/c")
    // Breeze's DenseMatrix constructor reads its data column-major
    val reference = RbmCoreSpec.BreezeWeights(new DenseMatrix(nv, nh, colMajor.toArray),
      DenseVector(d.vBias.toArray), DenseVector(d.hBias.toArray))
    assert(RbmImputerSpec.bitRows(loaded.transform(withMissing), "c_custkey") ===
      RbmImputerSpec.bitRows(
        RbmImputerSpec.rowPathTransform(loaded, withMissing, Some(reference)), "c_custkey"))
  }
}
