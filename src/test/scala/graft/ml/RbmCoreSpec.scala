package graft.ml

import breeze.linalg.{*, DenseMatrix, DenseVector}
import breeze.numerics.sigmoid
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Pure math invariants for the CD-1 core (no Spark needed), and bit
  * parity of its primitive kernels with the Breeze formulation they
  * replaced (kept below as the reference). */
class RbmCoreSpec extends AnyFunSuite {
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

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def assertSameBits(a: RbmCore.FitResult, b: RbmCore.FitResult, what: String): Unit = {
    assert(bits(a.weights.w.toArray) === bits(b.weights.w.toArray), s"$what: w")
    assert(bits(a.weights.vBias.toArray) === bits(b.weights.vBias.toArray), s"$what: vBias")
    assert(bits(a.weights.hBias.toArray) === bits(b.weights.hBias.toArray), s"$what: hBias")
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
    val wts = RbmCore.Flat(RbmCore.init(4, RbmCore.Config(nHidden = 3)))
    val r = new Array[Double](50 * 4)
    RbmCore.reconstruct(wts, x.t.toDenseMatrix.toArray, 50, new Array[Double](50 * 3), r)
    assert(r.forall(v => v > 0.0 && v < 1.0))
  }

  test("reconstruct equals the Breeze reference bit for bit on random weights") {
    val rng = new Random(7)
    for ((n, nv, nh) <- Seq((1, 1, 1), (3, 9, 16), (200, 9, 16), (70, 37, 5), (1100, 120, 16))) {
      val wts = RbmWeights(DenseMatrix.fill(nv, nh)(rng.nextGaussian() * 2),
        DenseVector.fill(nv)(rng.nextGaussian()), DenseVector.fill(nh)(rng.nextGaussian()))
      val v = DenseMatrix.fill(n, nv)(rng.nextDouble())
      val want = reconstruct(wts, v)
      val flat = RbmCore.Flat(wts)
      val got = new Array[Double](n * nv)
      RbmCore.reconstruct(flat, v.t.toDenseMatrix.toArray, n, new Array[Double](n * nh), got)
      assert(bits(got) === bits(want.t.toDenseMatrix.toArray), s"batch n=$n nv=$nv nh=$nh")
      // the one-row form, as the transform expression calls it
      val row = RbmCore.reconstruct(flat, v(0, ::).t.toArray)
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
      assertSameBits(RbmCore.fit(x, known, cfg), fit(x, known, cfg), what)
    }
    // the benchmark's shape: 9 visible, 16 hidden, default config; at
    // 8000 rows the reference's validation pass takes Java11BLAS's
    // blocked dgemm path (m·n·k ≥ 10⁶)
    val (xb, kb) = randomData(8000, 9, missing = 0.1, seed = 12)
    val cfg = RbmCore.Config(maxEpochs = 2)
    assertSameBits(RbmCore.fit(xb, kb, cfg), fit(xb, kb, cfg), "9×16 default")
  }

  test("fit parity holds on the edge shapes") {
    val cfg = RbmCore.Config(nHidden = 4, batchSize = 32, maxEpochs = 3, seed = 8)
    // n = 0: the initial weights and no epochs
    val (x0, k0) = randomData(0, 5, missing = 0.0, seed = 1)
    val r0 = RbmCore.fit(x0, k0, cfg)
    assert(r0.epochErrors.isEmpty)
    assertSameBits(r0, fit(x0, k0, cfg), "n = 0")
    // n < batch
    val (x1, k1) = randomData(20, 5, missing = 0.1, seed = 2)
    assertSameBits(RbmCore.fit(x1, k1, cfg), fit(x1, k1, cfg), "n < batch")
    // no known cell: nothing held out, every epoch error NaN
    val (xn, _) = randomData(60, 5, missing = 0.0, seed = 3)
    val none = DenseMatrix.fill[Boolean](60, 5)(false)
    val rNone = RbmCore.fit(xn, none, cfg)
    assert(rNone.epochErrors.size === 3 && rNone.epochErrors.forall(_.isNaN))
    assertSameBits(rNone, fit(xn, none, cfg), "no known cells")
    // a transposed view as input
    val (xt, kt) = randomData(5, 90, missing = 0.1, seed = 4)
    val xtT = xt.t
    assert(xtT.isTranspose)
    assertSameBits(RbmCore.fit(xtT, kt.t.copy, cfg), fit(xtT, kt.t.copy, cfg), "transposed input")
  }

  test("training reduces held-out reconstruction error on learnable data") {
    val (x, known) = toyData(400)
    val cfg = RbmCore.Config(nHidden = 8, learnRate = 0.3, batchSize = 32,
      dropout = 0.0, maxEpochs = 40, patience = 40, seed = 5)
    val res = RbmCore.fit(x, known, cfg)
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
    val a = RbmCore.fit(x.copy, known.copy, cfg).weights
    val b = RbmCore.fit(x.copy, known.copy, cfg).weights
    assert(a.w === b.w && a.vBias === b.vBias && a.hBias === b.hBias)
  }
}

/** The Breeze formulation of the CD-1 trainer and the up-down pass, as
  * `RbmCore` ran them before its primitive kernels: the parity
  * reference for RbmCoreSpec and RbmImputerSpec. */
object RbmCoreSpec {

  def reconstruct(wts: RbmWeights, v: DenseMatrix[Double]): DenseMatrix[Double] = {
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
    if (n == 0) return RbmCore.FitResult(RbmCore.init(nv, cfg), Seq.empty)
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
    var wts = RbmCore.init(nv, cfg)
    val cacheW = DenseMatrix.zeros[Double](nv, cfg.nHidden)
    val cacheB = DenseVector.zeros[Double](nv)
    val cacheC = DenseVector.zeros[Double](cfg.nHidden)
    val eps = 1e-8
    def valError(w: RbmWeights): Double = {
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
          wts = RbmWeights(
            wts.w + (dW *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheW + eps),
            wts.vBias + (dB *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheB + eps),
            wts.hBias + (dC *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheC + eps))
        } else {
          wts = RbmWeights(
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
    RbmCore.FitResult(if (bestErr < Double.MaxValue) best else wts, errors.result())
  }
}
