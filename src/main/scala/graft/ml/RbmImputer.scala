package graft.ml

import graft.impute.{ColumnLayout, Encoding, ImputeSpec}
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable,
  Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import graft.expressions.RbmReconstruct
import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions.{array_contains, col, when}
import org.apache.spark.sql.types.StructType

/** MLlib-style `Estimator`/`Model` pair for RBM-based missing-value
  * imputation — the Spark-native re-expression of the reference's
  * `clean()` API (upstream: boltzmannclean.py; SURVEY.md §3.1):
  * `new RbmImputer().setNumericCols(...).setCategoricalCols(...)
  * .fit(df).transform(df)` returns `df` with nulls/NaNs in the declared
  * columns replaced, all other cells and columns untouched.
  *
  * Execution shape (designed for the 1000-executor case):
  *  - `fit`: two light metadata passes (min/max agg; per-categorical
  *    top-K distinct) + one bounded `collect` of an encoded sample
  *    (`sampleLimit` rows — the RBM is a few-thousand-parameter model;
  *    a bounded uniform sample is statistically faithful at any SF),
  *    then driver-local CD-1 training ([[RbmCore.fit]]). Nothing
  *    quadratic in cluster size; sample never exceeds `sampleLimit`
  *    rows regardless of input scale. `backend = "distributed"`
  *    instead trains on every row, one gradient pass per epoch
  *    ([[RbmCore.fitDistributed]]).
  *  - `transform`: one projection chain inside whole-stage codegen —
  *    encode, then the native [[graft.expressions.RbmReconstruct]]
  *    (weights broadcast once) on rows with a missing target cell,
  *    then decode. A row with every target cell known skips the kernel.
  *    No shuffle and no external-Row conversion.
  *
  * Both trainers and the reconstruct run on RbmCore's fma kernels,
  * which reproduce the former Breeze formulation bit for bit (fma
  * chains in `Java11BLAS` order; RbmCoreSpec pins it).
  */
class RbmImputer(override val uid: String) extends Estimator[RbmImputerModel]
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("rbmImputer"))

  final val numericCols = new StringArrayParam(this, "numericCols",
    "numeric columns to impute (min-max scaled into [0,1])")
  final val categoricalCols = new StringArrayParam(this, "categoricalCols",
    "categorical columns to impute (one-hot encoded)")
  final val keyCol = new Param[String](this, "keyCol",
    "numeric key column driving deterministic noise fill")
  final val nHidden = new IntParam(this, "nHidden", "hidden units", ParamValidators.gt(0))
  final val learnRate = new DoubleParam(this, "learnRate", "learning rate", ParamValidators.gt(0))
  final val batchSize = new IntParam(this, "batchSize", "minibatch size", ParamValidators.gt(0))
  final val dropoutFraction = new DoubleParam(this, "dropoutFraction",
    "hidden-unit dropout probability", ParamValidators.inRange(0, 1))
  final val maxEpochs = new IntParam(this, "maxEpochs", "max training epochs", ParamValidators.gt(0))
  final val adagrad = new BooleanParam(this, "adagrad", "use AdaGrad updates")
  final val seed = new LongParam(this, "seed", "rng seed")
  final val sampleLimit = new IntParam(this, "sampleLimit",
    "max rows collected for driver-local training", ParamValidators.gt(0))
  final val maxCardinality = new IntParam(this, "maxCardinality",
    "one-hot width cap per categorical column", ParamValidators.gt(0))
  final val backend = new Param[String](this, "backend",
    "training backend: 'local' (bounded-sample, driver-side) or " +
      "'distributed' (treeReduce data-parallel gradients)",
    ParamValidators.inArray(Array("local", "distributed")))

  setDefault(numericCols -> Array.empty[String], categoricalCols -> Array.empty[String],
    nHidden -> 16, learnRate -> 0.1, batchSize -> 64, dropoutFraction -> 0.5,
    maxEpochs -> 30, adagrad -> true, seed -> 42L, sampleLimit -> 100000,
    maxCardinality -> 10000, backend -> "local")

  def setNumericCols(v: Seq[String]): this.type = set(numericCols, v.toArray)
  def setCategoricalCols(v: Seq[String]): this.type = set(categoricalCols, v.toArray)
  def setKeyCol(v: String): this.type = set(keyCol, v)
  def setNHidden(v: Int): this.type = set(nHidden, v)
  def setLearnRate(v: Double): this.type = set(learnRate, v)
  def setBatchSize(v: Int): this.type = set(batchSize, v)
  def setDropoutFraction(v: Double): this.type = set(dropoutFraction, v)
  def setMaxEpochs(v: Int): this.type = set(maxEpochs, v)
  def setAdagrad(v: Boolean): this.type = set(adagrad, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setSampleLimit(v: Int): this.type = set(sampleLimit, v)
  def setMaxCardinality(v: Int): this.type = set(maxCardinality, v)
  def setBackend(v: String): this.type = set(backend, v)

  def spec: ImputeSpec =
    ImputeSpec($(numericCols).toSeq, $(categoricalCols).toSeq, $(maxCardinality))

  def rbmConfig: RbmCore.Config = RbmCore.Config(
    nHidden = $(nHidden), learnRate = $(learnRate), batchSize = $(batchSize),
    dropout = $(dropoutFraction), maxEpochs = $(maxEpochs), adagrad = $(adagrad),
    seed = $(seed))

  /** Layout fit + bounded-sample collect of the encoded training rows
    * and their expanded known-cell masks (shared by plain fit and the
    * tuner). count() is one cheap pass; the sample fraction is padded
    * 10% then truncated so the collect stays <= sampleLimit rows at any
    * SF. */
  private[ml] def collectTrainingData(df: org.apache.spark.sql.DataFrame)
      : (ColumnLayout, Array[Array[Double]], Array[Array[Boolean]]) = {
    val layout = Encoding.fitLayout(df, spec)
    val encoded = Encoding.encode(df, layout, $(keyCol))
      .select(Encoding.VCol, Encoding.KnownCol)
    val n = df.count()
    val lim = $(sampleLimit)
    val sampled =
      if (n <= lim) encoded
      else encoded.sample(withReplacement = false,
        math.min(1.0, lim.toDouble * 1.1 / n), $(seed)).limit(lim)
    val rows = sampled.collect()
    (layout, rows.map(_.getSeq[Double](0).toArray),
      rows.map(r => Encoding.expandKnown(layout, r.getSeq[Boolean](1).toIndexedSeq)))
  }

  private[ml] def buildModel(layout: ColumnLayout,
                             result: RbmCore.FitResult): RbmImputerModel = {
    val model = new RbmImputerModel(uid, layout, result.weights, result.epochErrors)
    model.setParent(this)
    copyValues(model)
  }

  override def fit(ds: Dataset[_]): RbmImputerModel = {
    val df = ds.toDF()
    if ($(backend) == "distributed") {
      val layout = Encoding.fitLayout(df, spec)
      val result = RbmCore.fitDistributed(
        Encoding.encode(df, layout, $(keyCol)), layout, rbmConfig)
      buildModel(layout, result)
    } else {
      val (layout, x, known) = collectTrainingData(df)
      buildModel(layout, RbmCore.fit(x, known, layout.width, rbmConfig))
    }
  }

  override def transformSchema(schema: StructType): StructType = schema
  override def copy(extra: ParamMap): RbmImputer = defaultCopy(extra)
}

/** Params-only stage, so stock MLlib persistence applies — makes the
  * unfitted estimator legal inside `Pipeline.save`. */
object RbmImputer extends DefaultParamsReadable[RbmImputer]

class RbmImputerModel(
    override val uid: String,
    val layout: ColumnLayout,
    val weights: RbmWeights,
    val epochErrors: Seq[Double]) extends Model[RbmImputerModel]
    with MLWritable {

  /** Key column is inherited from the estimator via copyValues. */
  final val keyCol = new Param[String](this, "keyCol",
    "numeric key column driving deterministic noise fill")
  def setKeyCol(v: String): this.type = set(keyCol, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val df = ds.toDF()
    val bc = df.sparkSession.sparkContext.broadcast(weights)
    val recon = GraftColumnBridge.column(
      RbmReconstruct(GraftColumnBridge.expression(col(Encoding.VCol)), bc))
    // decode reads __recon only where a target cell is missing
    val withRecon = Encoding.encode(df, layout, $(keyCol)).withColumn(Encoding.ReconCol,
      when(array_contains(col(Encoding.KnownCol), false), recon))
    Encoding.decode(withRecon, layout, df.schema.fieldNames.toSeq)
  }

  override def transformSchema(schema: StructType): StructType = schema
  override def copy(extra: ParamMap): RbmImputerModel = {
    val copied = new RbmImputerModel(uid, layout, weights, epochErrors)
    copyValues(copied, extra).setParent(parent)
  }

  /** MLlib-standard persistence (`model.write.save(path)`): metadata in
    * the DefaultParams JSON layout (so `PipelineModel.load` can resolve
    * this class reflectively — the model is a legal stage of a persisted
    * MLlib `Pipeline`) plus one inspectable parquet row of structural
    * state (layout, weights) under `path/data`. */
  override def write: MLWriter = new RbmImputerModel.Writer(this)
}

object RbmImputerModel extends MLReadable[RbmImputerModel] {
  private[ml] case class ModelData(
      uid: String, keyColName: String,
      numericNames: Seq[String], numericMins: Seq[Double], numericMaxs: Seq[Double],
      catNames: Seq[String], catValues: Seq[Seq[String]],
      nVisible: Int, nHidden: Int,
      w: Seq[Double], vBias: Seq[Double], hBias: Seq[Double],
      epochErrors: Seq[Double])

  /** On disk `w` stays column-major — W(i, j) at `j * nVisible + i` —
    * so models saved before the weights went row-major still load. */
  private def modelData(m: RbmImputerModel): ModelData = {
    val wts = m.weights
    val (nv, nh) = (wts.nVisible, wts.nHidden)
    ModelData(
      uid = m.uid,
      keyColName = m.getOrDefault(m.keyCol),
      numericNames = m.layout.numerics.map(_.name),
      numericMins = m.layout.numerics.map(_.min),
      numericMaxs = m.layout.numerics.map(_.max),
      catNames = m.layout.categoricals.map(_.name),
      catValues = m.layout.categoricals.map(_.values),
      nVisible = nv,
      nHidden = nh,
      w = Seq.tabulate(nv * nh)(k => wts.w((k % nv) * nh + k / nv)),
      vBias = wts.vBias.toSeq,
      hBias = wts.hBias.toSeq,
      epochErrors = m.epochErrors)
  }

  /** Rebuilds a saved model, refusing one whose shapes disagree — such
    * a model would otherwise load and fail only inside a transform task. */
  private def fromData(d: ModelData): RbmImputerModel = {
    val layout = ColumnLayout(
      d.numericNames.indices.map(i =>
        graft.impute.NumericStats(d.numericNames(i), d.numericMins(i), d.numericMaxs(i))),
      d.catNames.indices.map(i =>
        graft.impute.CategoryInfo(d.catNames(i), d.catValues(i))))
    def shape(what: String, got: Int, want: Int, of: String): Unit =
      require(got == want, s"saved RbmImputerModel ${d.uid}: $what is $got, " +
        s"but $of is $want")
    shape("the layout width", layout.width, d.nVisible, "nVisible")
    shape("the vBias length", d.vBias.length, d.nVisible, "nVisible")
    shape("the hBias length", d.hBias.length, d.nHidden, "nHidden")
    shape("the weight count", d.w.length, d.nVisible * d.nHidden, "nVisible × nHidden")
    val (nv, nh) = (d.nVisible, d.nHidden)
    val colMajor = d.w.toArray
    val weights = new RbmWeights(nv, nh,
      Array.tabulate(nv * nh)(k => colMajor((k % nh) * nv + k / nh)),
      d.vBias.toArray, d.hBias.toArray)
    new RbmImputerModel(d.uid, layout, weights, d.epochErrors)
      .setKeyCol(d.keyColName)
  }

  /** Writes `path/metadata` in the exact JSON layout MLlib's (private)
    * DefaultParamsWriter produces — `{class, timestamp, sparkVersion,
    * uid, paramMap, defaultParamMap}` — which is what PipelineModel.load
    * parses to resolve the stage class before dispatching to [[read]].
    * The helpers themselves are private[ml], but the on-disk layout is
    * MLlib's cross-version persistence contract. */
  private class Writer(instance: RbmImputerModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      import org.json4s._
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods._
      def enc(pp: ParamPair[_]): (String, JValue) =
        pp.param.name -> parse(pp.param.asInstanceOf[Param[Any]].jsonEncode(pp.value))
      val metadata: JValue =
        ("class" -> instance.getClass.getName) ~
        ("timestamp" -> System.currentTimeMillis()) ~
        ("sparkVersion" -> sc.version) ~
        ("uid" -> instance.uid) ~
        ("paramMap" -> JObject(instance.extractParamMap().toSeq.map(enc).toList)) ~
        ("defaultParamMap" -> JObject(Nil))
      sc.parallelize(Seq(compact(render(metadata))), 1)
        .saveAsTextFile(new org.apache.hadoop.fs.Path(path, "metadata").toString)
      val spark = sparkSession
      import spark.implicits._
      Seq(modelData(instance)).toDS().write
        .parquet(new org.apache.hadoop.fs.Path(path, "data").toString)
    }
  }

  private class Reader extends MLReader[RbmImputerModel] {
    override def load(path: String): RbmImputerModel = {
      val spark = sparkSession
      import spark.implicits._
      fromData(spark.read
        .parquet(new org.apache.hadoop.fs.Path(path, "data").toString)
        .as[ModelData].head())
    }
  }

  override def read: MLReader[RbmImputerModel] = new Reader
  override def load(path: String): RbmImputerModel = super.load(path)

  /** Legacy two-arg loader, kept for callers that pass the session. */
  def load(spark: SparkSession, path: String): RbmImputerModel =
    read.load(path)
}
