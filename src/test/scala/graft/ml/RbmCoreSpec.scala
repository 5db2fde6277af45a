package graft.ml

import breeze.linalg.{*, DenseMatrix, DenseVector}
import breeze.numerics.sigmoid
import graft.SparkSpec
import graft.impute.{CategoryInfo, ColumnLayout, Encoding, NumericStats}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.util.Random

/** Pure math invariants for the CD-1 core, and bit parity of its
  * primitive kernels — in both trainers and the up-down pass — with the
  * Breeze formulation they replaced (kept below as the reference). */
class RbmCoreSpec extends SparkSpec {
  import RbmCoreSpec._

  // Toy data: two redundant column-pairs — col1 copies col0, col3 copies
  // col2 — so reconstruction from correlation is actually learnable.
  private def toyData(n: Int): (DenseMatrix[Double], DenseMatrix[Boolean]) = {
    val rng = new scala.util.Random(1)
    val x = DenseMatrix.zeros[Double](n, 4)
    for (i <- 0 until n) {
      val a = if (rng.nextBoolean()) 0.9 else 0.1
      val b = if (rng.nextBoolean()) 0.9 else 0.1
      x(i, 0) = a; x(i, 1) = a; x(i, 2) = b; x(i, 3) = b
    }
    (x, DenseMatrix.fill[Boolean](n, 4)(true))
  }

  /** n×nv cells in [0,1] with about `missing` of the mask false. */
  private def randomData(n: Int, nv: Int, missing: Double, seed: Long)
      : (DenseMatrix[Double], DenseMatrix[Boolean]) = {
    val rng = new Random(seed)
    (DenseMatrix.fill(n, nv)(rng.nextDouble()),
      DenseMatrix.fill(n, nv)(rng.nextDouble() >= missing))
  }

  private def rowsOf[T: scala.reflect.ClassTag](m: DenseMatrix[T]): Array[Array[T]] =
    Array.tabulate(m.rows)(i => Array.tabulate(m.cols)(j => m(i, j)))

  /** [[RbmCore.fit]] on the rows of `x` and `known`. */
  private def kernelFit(x: DenseMatrix[Double], known: DenseMatrix[Boolean],
                        cfg: RbmCore.Config): RbmCore.FitResult =
    RbmCore.fit(rowsOf(x), rowsOf(known), x.cols, cfg)

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def assertSameBits(a: RbmCore.FitResult, b: RbmCore.FitResult, what: String): Unit = {
    assert((a.weights.nVisible, a.weights.nHidden) === ((b.weights.nVisible, b.weights.nHidden)),
      s"$what: shape")
    assert(bits(a.weights.w) === bits(b.weights.w), s"$what: w")
    assert(bits(a.weights.vBias) === bits(b.weights.vBias), s"$what: vBias")
    assert(bits(a.weights.hBias) === bits(b.weights.hBias), s"$what: hBias")
    assert(bits(a.epochErrors.toArray) === bits(b.epochErrors.toArray), s"$what: epoch errors")
  }

  test("the BLAS behind the Breeze reference is Java11BLAS") {
    // the parity below is with Java11BLAS's fma order; a different BLAS
    // (native, or VectorBLAS with jdk.incubator.vector) would silently
    // move the reference, so fail loudly instead
    assert(dev.ludovic.netlib.blas.BLAS.getInstance().getClass.getName ===
      "dev.ludovic.netlib.blas.Java11BLAS")
  }

  test("reconstruct stays strictly inside (0,1)") {
    val (x, _) = toyData(50)
    val wts = RbmCore.init(4, RbmCore.Config(nHidden = 3))
    val r = new Array[Double](50 * 4)
    RbmCore.reconstruct(wts, rowsOf(x).flatten, 50, new Array[Double](50 * 3), r)
    assert(r.forall(v => v > 0.0 && v < 1.0))
  }

  test("reconstruct equals the Breeze reference bit for bit on random weights") {
    val rng = new Random(7)
    for ((n, nv, nh) <- Seq((1, 1, 1), (3, 9, 16), (200, 9, 16), (70, 37, 5), (1100, 120, 16))) {
      val wts = BreezeWeights(DenseMatrix.fill(nv, nh)(rng.nextGaussian() * 2),
        DenseVector.fill(nv)(rng.nextGaussian()), DenseVector.fill(nh)(rng.nextGaussian()))
      val v = DenseMatrix.fill(n, nv)(rng.nextDouble())
      val want = reconstruct(wts, v)
      val kernel = fromBreeze(wts)
      val got = new Array[Double](n * nv)
      RbmCore.reconstruct(kernel, rowsOf(v).flatten, n, new Array[Double](n * nh), got)
      assert(bits(got) === bits(rowsOf(want).flatten), s"batch n=$n nv=$nv nh=$nh")
      // the one-row form, as the transform expression calls it
      val row = RbmCore.reconstruct(kernel, v(0, ::).t.toArray)
      assert(bits(row) === bits(want(0, ::).t.toArray), s"row n=$n nv=$nv nh=$nh")
    }
  }

  test("fit equals the Breeze reference bit for bit") {
    val base = RbmCore.Config(nHidden = 6, maxEpochs = 4, patience = 4, seed = 3)
    val (x, known) = randomData(150, 7, missing = 0.2, seed = 11)
    val cases = Seq(
      "adagrad, dropout 0.5" -> base,
      "plain SGD" -> base.copy(adagrad = false),
      "dropout 0" -> base.copy(dropout = 0.0),
      "plain SGD, dropout 0" -> base.copy(adagrad = false, dropout = 0.0),
      "batch not dividing n" -> base.copy(batchSize = 40),
      "batch of one" -> base.copy(batchSize = 1, maxEpochs = 2),
      "early stop" -> base.copy(maxEpochs = 30, patience = 1, learnRate = 0.5))
    cases.foreach { case (what, cfg) =>
      assertSameBits(kernelFit(x, known, cfg), fit(x, known, cfg), what)
    }
    // the benchmark's shape: 9 visible, 16 hidden, default config; at
    // 8000 rows the reference's validation pass takes Java11BLAS's
    // blocked dgemm path (m·n·k ≥ 10⁶)
    val (xb, kb) = randomData(8000, 9, missing = 0.1, seed = 12)
    val cfg = RbmCore.Config(maxEpochs = 2)
    assertSameBits(kernelFit(xb, kb, cfg), fit(xb, kb, cfg), "9×16 default")
  }

  test("fit parity holds on the edge shapes") {
    val cfg = RbmCore.Config(nHidden = 4, batchSize = 32, maxEpochs = 3, seed = 8)
    // n = 0: the initial weights and no epochs
    val (x0, k0) = randomData(0, 5, missing = 0.0, seed = 1)
    val r0 = kernelFit(x0, k0, cfg)
    assert(r0.epochErrors.isEmpty)
    assertSameBits(r0, fit(x0, k0, cfg), "n = 0")
    // n < batch
    val (x1, k1) = randomData(20, 5, missing = 0.1, seed = 2)
    assertSameBits(kernelFit(x1, k1, cfg), fit(x1, k1, cfg), "n < batch")
    // no known cell: nothing held out, every epoch error NaN
    val (xn, _) = randomData(60, 5, missing = 0.0, seed = 3)
    val none = DenseMatrix.fill[Boolean](60, 5)(false)
    val rNone = kernelFit(xn, none, cfg)
    assert(rNone.epochErrors.size === 3 && rNone.epochErrors.forall(_.isNaN))
    assertSameBits(rNone, fit(xn, none, cfg), "no known cells")
    // a transposed view as the reference's input
    val (xt, kt) = randomData(5, 90, missing = 0.1, seed = 4)
    val xtT = xt.t
    assert(xtT.isTranspose)
    assertSameBits(kernelFit(xtT, kt.t.copy, cfg), fit(xtT, kt.t.copy, cfg), "transposed input")
  }

  test("training reduces held-out reconstruction error on learnable data") {
    val (x, known) = toyData(400)
    val cfg = RbmCore.Config(nHidden = 8, learnRate = 0.3, batchSize = 32,
      dropout = 0.0, maxEpochs = 40, patience = 40, seed = 5)
    val res = kernelFit(x, known, cfg)
    val errs = res.epochErrors
    assert(errs.nonEmpty)
    // late-phase error should beat the first epoch's
    assert(errs.takeRight(5).min < errs.head,
      s"no improvement: first=${errs.head} last5=${errs.takeRight(5)}")
    // and should beat chance (uniform guess MSE on 0.1/0.9 data ~ 0.16+)
    assert(errs.min < 0.12, s"best error ${errs.min}")
  }

  test("same seed, same data → identical weights (determinism)") {
    val (x, known) = toyData(100)
    val cfg = RbmCore.Config(nHidden = 4, maxEpochs = 5, seed = 9)
    val a = kernelFit(x, known, cfg).weights
    val b = kernelFit(x, known, cfg).weights
    assert(a.w === b.w && a.vBias === b.vBias && a.hBias === b.hBias)
  }

  test("fit only reads its inputs") {
    val (xm, km) = randomData(90, 6, missing = 0.3, seed = 13)
    val (x, known) = (rowsOf(xm), rowsOf(km))
    val (x0, known0) = (x.map(_.clone), known.map(_.clone))
    for (cfg <- Seq(RbmCore.Config(nHidden = 5, batchSize = 16, maxEpochs = 3, seed = 2),
                    RbmCore.Config(nHidden = 3, batchSize = 1, maxEpochs = 2, dropout = 0.0)))
      RbmCore.fit(x, known, 6, cfg)
    assert(x.map(r => bits(r)).toSeq === x0.map(r => bits(r)).toSeq)
    assert(known.map(_.toSeq).toSeq === known0.map(_.toSeq).toSeq)
  }

  /** An encoded frame in `Encoding.encode`'s shape over [[distLayout]]:
    * 2000 rows, about a fifth of the source cells missing. */
  private lazy val encodedRows: Seq[Row] = {
    val rng = new Random(23)
    (0 until 2000).map { _ =>
      val cat = rng.nextInt(3)
      val v = Seq.fill(3)(rng.nextDouble()) ++ (0 until 3).map(u => if (u == cat) 1.0 else 0.0)
      Row(v, Seq.fill(4)(rng.nextDouble() >= 0.2))
    }
  }

  private def encodedFrame(rows: Seq[Row], partitions: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField(Encoding.VCol, ArrayType(DoubleType, containsNull = false)),
      StructField(Encoding.KnownCol, ArrayType(BooleanType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)
      .localCheckpoint()
  }

  test("fitDistributed equals the Breeze reference bit for bit") {
    // 8 partitions, not 4: at depth 2, treeReduce over 4 partials folds
    // them on the driver in task completion order, so neither side
    // repeats itself there; over 8 it first folds by key on executors,
    // in shuffle order, and the driver adds two partials, which commutes
    val base = RbmCore.Config(nHidden = 5, maxEpochs = 4, patience = 4, seed = 7)
    val cases = Seq(
      "adagrad, dropout 0.5" -> base,
      "plain SGD" -> base.copy(adagrad = false),
      "dropout 0" -> base.copy(dropout = 0.0),
      "plain SGD, dropout 0" -> base.copy(adagrad = false, dropout = 0.0),
      "16 hidden units" -> base.copy(nHidden = 16))
    for (partitions <- Seq(1, 8)) {
      val df = encodedFrame(encodedRows, partitions)
      assert(df.rdd.getNumPartitions === partitions)
      cases.foreach { case (what, cfg) =>
        val got = RbmCore.fitDistributed(df, distLayout, cfg)
        assert(got.epochErrors.size === 4)
        assertSameBits(got, fitDistributed(df, distLayout, cfg), s"$what, $partitions partitions")
      }
    }
  }

  test("fitDistributed parity holds with no training rows") {
    val cfg = RbmCore.Config(nHidden = 4, maxEpochs = 3, seed = 3)
    // every row a validation row: training sees none
    val holdoutOnly = encodedRows.filter { r =>
      (java.util.Arrays.hashCode(r.getSeq[Double](0).toArray) & 0x7fffffff) % 10 == 0
    }
    assert(holdoutOnly.nonEmpty)
    for ((what, rows) <- Seq("empty input" -> Seq.empty[Row], "holdout rows only" -> holdoutOnly)) {
      val df = encodedFrame(rows, 2)
      val got = RbmCore.fitDistributed(df, distLayout, cfg)
      assert(got.epochErrors.isEmpty, what)
      assertSameBits(got, fitDistributed(df, distLayout, cfg), what)
    }
  }
}

/** The Breeze formulation of the CD-1 trainers and the up-down pass, as
  * `RbmCore` ran them before its primitive kernels: the parity
  * reference for RbmCoreSpec, RbmImputerSpec and PersistenceSpec. */
object RbmCoreSpec {

  /** The weights as Breeze held them: `w` is the column-major
    * nVisible×nHidden matrix. */
  final case class BreezeWeights(w: DenseMatrix[Double], vBias: DenseVector[Double],
                                 hBias: DenseVector[Double])

  def toBreeze(wts: RbmWeights): BreezeWeights =
    BreezeWeights(DenseMatrix.tabulate(wts.nVisible, wts.nHidden)((i, j) => wts.w(i * wts.nHidden + j)),
      DenseVector(wts.vBias.clone), DenseVector(wts.hBias.clone))

  def fromBreeze(b: BreezeWeights): RbmWeights = {
    val (nv, nh) = (b.w.rows, b.w.cols)
    new RbmWeights(nv, nh, Array.tabulate(nv * nh)(k => b.w(k / nh, k % nh)),
      b.vBias.toArray, b.hBias.toArray)
  }

  def init(nVisible: Int, cfg: RbmCore.Config): BreezeWeights = {
    val rng = new Random(cfg.seed)
    BreezeWeights(
      DenseMatrix.fill(nVisible, cfg.nHidden)(rng.nextGaussian() * 0.1),
      DenseVector.zeros[Double](nVisible),
      DenseVector.zeros[Double](cfg.nHidden))
  }

  /** 3 numeric units and one 3-way categorical: width 6. */
  val distLayout: ColumnLayout = ColumnLayout(
    Seq(NumericStats("a", 0, 1), NumericStats("b", 0, 1), NumericStats("c", 0, 1)),
    Seq(CategoryInfo("d", Seq("x", "y", "z"))))

  def reconstruct(wts: BreezeWeights, v: DenseMatrix[Double]): DenseMatrix[Double] = {
    val hIn = v * wts.w
    val h = sigmoid(hIn(*, ::) + wts.hBias)
    val vIn = h * wts.w.t
    sigmoid(vIn(*, ::) + wts.vBias)
  }

  private def affineSigmoid(x: DenseMatrix[Double], m: DenseMatrix[Double],
                            bias: DenseVector[Double]): DenseMatrix[Double] = {
    val z = x * m
    sigmoid(z(*, ::) + bias)
  }

  def fit(x: DenseMatrix[Double], known: DenseMatrix[Boolean],
          cfg: RbmCore.Config): RbmCore.FitResult = {
    val rng = new Random(cfg.seed)
    val n = x.rows
    val nv = x.cols
    if (n == 0) return RbmCore.FitResult(fromBreeze(init(nv, cfg)), Seq.empty)
    val holdout = DenseMatrix.fill[Boolean](n, nv)(false)
    val train = x.copy
    var i = 0
    while (i < n) {
      var j = 0
      while (j < nv) {
        if (known(i, j) && rng.nextDouble() < cfg.holdoutFraction) {
          holdout(i, j) = true
          train(i, j) = rng.nextDouble()
        }
        j += 1
      }
      i += 1
    }
    var wts = init(nv, cfg)
    val cacheW = DenseMatrix.zeros[Double](nv, cfg.nHidden)
    val cacheB = DenseVector.zeros[Double](nv)
    val cacheC = DenseVector.zeros[Double](cfg.nHidden)
    val eps = 1e-8
    def valError(w: BreezeWeights): Double = {
      val recon = reconstruct(w, train)
      var se = 0.0; var cnt = 0L
      var i = 0
      while (i < n) {
        var j = 0
        while (j < nv) {
          if (holdout(i, j)) { val d = recon(i, j) - x(i, j); se += d * d; cnt += 1 }
          j += 1
        }
        i += 1
      }
      if (cnt == 0) Double.NaN else se / cnt
    }
    var best = wts
    var bestErr = Double.MaxValue
    var bad = 0
    val errors = Seq.newBuilder[Double]
    var epoch = 0
    while (epoch < cfg.maxEpochs && bad < cfg.patience) {
      val order = rng.shuffle((0 until n).toVector)
      order.grouped(cfg.batchSize).foreach { idx =>
        val v0 = DenseMatrix.tabulate(idx.size, nv)((r, c) => train(idx(r), c))
        val h0p = affineSigmoid(v0, wts.w, wts.hBias)
        val h0s = h0p.mapValues(p => if (rng.nextDouble() < p) 1.0 else 0.0)
        if (cfg.dropout > 0) {
          var j = 0
          while (j < cfg.nHidden) {
            if (rng.nextDouble() < cfg.dropout) h0s(::, j) := 0.0
            j += 1
          }
        }
        val v1p = affineSigmoid(h0s, wts.w.t, wts.vBias)
        val h1p = affineSigmoid(v1p, wts.w, wts.hBias)
        val b = idx.size.toDouble
        val dW = (v0.t * h0p - v1p.t * h1p) /:/ b
        val dB = breeze.linalg.sum(v0 - v1p, breeze.linalg.Axis._0).t /:/ b
        val dC = breeze.linalg.sum(h0p - h1p, breeze.linalg.Axis._0).t /:/ b
        if (cfg.adagrad) {
          cacheW :+= dW *:* dW; cacheB :+= dB *:* dB; cacheC :+= dC *:* dC
          wts = BreezeWeights(
            wts.w + (dW *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheW + eps),
            wts.vBias + (dB *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheB + eps),
            wts.hBias + (dC *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheC + eps))
        } else {
          wts = BreezeWeights(
            wts.w + dW *:* cfg.learnRate,
            wts.vBias + dB *:* cfg.learnRate,
            wts.hBias + dC *:* cfg.learnRate)
        }
      }
      val err = valError(wts)
      errors += err
      if (err.isNaN) { /* no holdout → no early-stop signal */ }
      else if (err < bestErr - 1e-12) { bestErr = err; best = wts; bad = 0 }
      else bad += 1
      epoch += 1
    }
    RbmCore.FitResult(fromBreeze(if (bestErr < Double.MaxValue) best else wts), errors.result())
  }

  /** `RbmCore.fitDistributed` as it ran on Breeze, moved here as is:
    * only the weight type, the reference `init` and the validation
    * pass (the Breeze [[reconstruct]]) name this spec's reference. */
  def fitDistributed(encoded: org.apache.spark.sql.DataFrame,
                     layout: graft.impute.ColumnLayout,
                     cfg: RbmCore.Config): RbmCore.FitResult = {
    import breeze.linalg.{DenseMatrix => BM, DenseVector => BV}
    import org.apache.spark.storage.StorageLevel
    val nv = layout.width
    val nh = cfg.nHidden
    val spark = encoded.sparkSession
    val all = encoded
      .select(graft.impute.Encoding.VCol, graft.impute.Encoding.KnownCol)
      .rdd.map { row =>
        val v = row.getSeq[Double](0).toArray
        val k = graft.impute.Encoding.expandKnown(
          layout, row.getSeq[Boolean](1).toIndexedSeq)
        (v, k)
      }.persist(StorageLevel.MEMORY_AND_DISK)
    // deterministic ~10% row holdout (content-hashed, so it survives
    // repartitioning): validation rows are EXCLUDED from training, so
    // early stopping measures generalization, not training error
    def isHoldout(v: Array[Double]): Boolean =
      (java.util.Arrays.hashCode(v) & 0x7fffffff) % 10 == 0
    val data = all.filter(r => !isHoldout(r._1))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nTrain = data.count()
    // uniform (not first-partition-biased) validation sample
    val valRows = all.filter(r => isHoldout(r._1))
      .takeSample(withReplacement = false, 2000, cfg.seed)
    all.unpersist(blocking = false)
    if (nTrain == 0) {
      data.unpersist(blocking = false)
      return RbmCore.FitResult(fromBreeze(init(nv, cfg)), Seq.empty)
    }
    val nVal = valRows.length
    val valX = DenseMatrix.tabulate(nVal, nv)((r, c) => valRows(r)._1(c))
    // NaN = "no early-stopping signal" (empty holdout): training then
    // runs to maxEpochs instead of silently stopping after patience+1
    // epochs on a constant fake 0.0 error
    def valError(w: BreezeWeights): Double = {
      if (valRows.isEmpty) return Double.NaN
      val recon = reconstruct(w, valX)
      var se = 0.0; var cnt = 0L
      var i = 0
      while (i < nVal) {
        val k = valRows(i)._2
        var j = 0
        while (j < nv) {
          if (k(j)) { val d = recon(i, j) - valX(i, j); se += d * d; cnt += 1 }
          j += 1
        }
        i += 1
      }
      if (cnt == 0) Double.NaN else se / cnt
    }

    var wts = init(nv, cfg)
    val cacheW = BM.zeros[Double](nv, nh)
    val cacheB = BV.zeros[Double](nv)
    val cacheC = BV.zeros[Double](nh)
    val eps = 1e-8
    var best = wts
    var bestErr = Double.MaxValue
    var bad = 0
    val errors = Seq.newBuilder[Double]
    var epoch = 0
    while (epoch < cfg.maxEpochs && bad < cfg.patience) {
      val bc = spark.sparkContext.broadcast(wts)
      val seedE = cfg.seed + 31L * epoch
      val dropout = cfg.dropout
      type Acc = (BM[Double], BV[Double], BV[Double], Long)
      // per-ROW RNG seeded from the row's content hash: decorrelated
      // across rows (the original per-row fixed seed reused one stream
      // for every row) AND invariant to partition layout / row order
      // (a per-partition sequential RNG would not be)
      val partials = data.mapPartitions { it =>
        val w = bc.value
        val accW = BM.zeros[Double](nv, nh)
        val accB = BV.zeros[Double](nv)
        val accC = BV.zeros[Double](nh)
        var cnt = 0L
        it.foreach { row =>
          val rng = new scala.util.Random(
            seedE ^ (java.util.Arrays.hashCode(row._1).toLong * 0x9E3779B9L))
          val v0 = BV(row._1)
          val h0p = breeze.numerics.sigmoid(w.w.t * v0 + w.hBias)
          val h0s = h0p.map(p => if (rng.nextDouble() < p) 1.0 else 0.0)
          if (dropout > 0) {
            var j = 0
            while (j < nh) { if (rng.nextDouble() < dropout) h0s(j) = 0.0; j += 1 }
          }
          val v1p = breeze.numerics.sigmoid(w.w * h0s + w.vBias)
          val h1p = breeze.numerics.sigmoid(w.w.t * v1p + w.hBias)
          accW :+= v0 * h0p.t - v1p * h1p.t
          accB :+= v0 - v1p
          accC :+= h0p - h1p
          cnt += 1
        }
        Iterator.single((accW, accB, accC, cnt))
      }
      val (gw, gb, gc, cnt) = partials.treeReduce({ (a: Acc, b: Acc) =>
        (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4)
      }, depth = 2)
      bc.destroy()
      if (cnt > 0) {
        val dW = gw /:/ cnt.toDouble
        val dB = gb /:/ cnt.toDouble
        val dC = gc /:/ cnt.toDouble
        if (cfg.adagrad) {
          cacheW :+= dW *:* dW; cacheB :+= dB *:* dB; cacheC :+= dC *:* dC
          wts = BreezeWeights(
            wts.w + (dW *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheW + eps),
            wts.vBias + (dB *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheB + eps),
            wts.hBias + (dC *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheC + eps))
        } else {
          wts = BreezeWeights(wts.w + dW *:* cfg.learnRate,
            wts.vBias + dB *:* cfg.learnRate, wts.hBias + dC *:* cfg.learnRate)
        }
      }
      val err = valError(wts)
      errors += err
      if (err.isNaN) { /* no holdout → no early-stop signal */ }
      else if (err < bestErr - 1e-12) { bestErr = err; best = wts; bad = 0 }
      else bad += 1
      epoch += 1
    }
    data.unpersist(blocking = false)
    RbmCore.FitResult(fromBreeze(if (bestErr < Double.MaxValue) best else wts), errors.result())
  }
}
