package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector}

import scala.util.Random

/** Weights of a trained RBM: `w` is nVisible×nHidden, `vBias` length
  * nVisible, `hBias` length nHidden. Small by construction (encoded
  * width is cardinality-capped, see ImputeSpec), so the whole struct
  * broadcasts to every executor at any data scale. */
final case class RbmWeights(
    w: DenseMatrix[Double],
    vBias: DenseVector[Double],
    hBias: DenseVector[Double]) extends Serializable {
  def nVisible: Int = w.rows
  def nHidden: Int = w.cols
}

/** CD-1 Restricted Boltzmann Machine — the math core of the
  * reference's TensorFlow graph (upstream: rbm.py; see SURVEY.md §3.2 —
  * semantics derive from the public upstream repo): sigmoid units,
  * contrastive divergence k=1, minibatch SGD with optional AdaGrad,
  * dropout on the hidden layer, early stopping on held-out-cell
  * reconstruction error. Deterministic given the seed.
  *
  * Inputs are matrices with rows = samples, every cell in [0,1]; missing
  * cells arrive already noise-filled (Encoding A8) with `known` marking
  * originally-present cells.
  *
  * Arithmetic: the local trainer [[fit]] and every reconstruct run on
  * the primitive kernels below, over row-major `Array[Double]` buffers
  * ([[Flat]]). They reproduce, bit for bit, the Breeze formulation they
  * replaced (kept as the reference in RbmCoreSpec). That formulation
  * ran its matrix products through `dev.ludovic.netlib`'s `Java11BLAS`
  * (no native BLAS, no `jdk.incubator.vector`), whose dgemm computes
  * each output cell as `Math.fma` accumulations starting from 0.0 in
  * index order — so each product here is one fma chain per cell, in the
  * same order. σ(z) is `1/(1+exp(−z))`, Breeze's `sigmoid`. The bound:
  * once m·n·k ≥ 10⁶, `Java11BLAS` splits an inner dimension k > 500
  * into 500-wide blocks and adds the block sums; the kernels keep one
  * chain. So the parity holds while nVisible, nHidden and batchSize are
  * each at most 500 (RbmCoreSpec pins it, and that `Java11BLAS` is the
  * BLAS in use). Only `fitDistributed`'s per-row gradient still uses
  * Breeze (GEMV).
  */
object RbmCore {

  final case class Config(
      nHidden: Int = 16,
      learnRate: Double = 0.1,
      batchSize: Int = 64,
      dropout: Double = 0.5,
      maxEpochs: Int = 30,
      adagrad: Boolean = true,
      holdoutFraction: Double = 0.1,
      patience: Int = 3,
      seed: Long = 42L)

  def init(nVisible: Int, cfg: Config): RbmWeights = {
    val rng = new Random(cfg.seed)
    RbmWeights(
      DenseMatrix.fill(nVisible, cfg.nHidden)(rng.nextGaussian() * 0.1),
      DenseVector.zeros[Double](nVisible),
      DenseVector.zeros[Double](cfg.nHidden))
  }

  /** The weights as row-major primitive arrays, which every kernel
    * reads: `w(i * nh + j)` is W(i, j). */
  final class Flat(val nv: Int, val nh: Int, val w: Array[Double],
                   val vBias: Array[Double], val hBias: Array[Double]) {
    def copy: Flat = new Flat(nv, nh, w.clone, vBias.clone, hBias.clone)

    def toWeights: RbmWeights = {
      val colMajor = new Array[Double](nv * nh)
      var i = 0
      while (i < nv) {
        var j = 0
        while (j < nh) { colMajor(j * nv + i) = w(i * nh + j); j += 1 }
        i += 1
      }
      RbmWeights(new DenseMatrix(nv, nh, colMajor),
        DenseVector(vBias.clone), DenseVector(hBias.clone))
    }
  }

  object Flat {
    def apply(wts: RbmWeights): Flat = {
      val nv = wts.nVisible
      val nh = wts.nHidden
      val w = new Array[Double](nv * nh)
      var i = 0
      while (i < nv) {
        var j = 0
        while (j < nh) { w(i * nh + j) = wts.w(i, j); j += 1 }
        i += 1
      }
      new Flat(nv, nh, w, wts.vBias.toArray, wts.hBias.toArray)
    }
  }

  @inline private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** out(r, ·) = σ(x(r, ·)·W + c) for the first `m` rows of the
    * row-major m×nv `x`. */
  private def hidden(f: Flat, x: Array[Double], m: Int, out: Array[Double]): Unit = {
    val nv = f.nv
    val nh = f.nh
    var r = 0
    while (r < m) {
      val xo = r * nv
      val ho = r * nh
      java.util.Arrays.fill(out, ho, ho + nh, 0.0)
      var i = 0
      while (i < nv) {
        val xi = x(xo + i)
        val wo = i * nh
        var j = 0
        while (j < nh) { out(ho + j) = Math.fma(xi, f.w(wo + j), out(ho + j)); j += 1 }
        i += 1
      }
      var j = 0
      while (j < nh) { out(ho + j) = sigmoid(out(ho + j) + f.hBias(j)); j += 1 }
      r += 1
    }
  }

  /** out(r, ·) = σ(h(r, ·)·Wᵀ + b) for the first `m` rows of the
    * row-major m×nh `h`. */
  private def visible(f: Flat, h: Array[Double], m: Int, out: Array[Double]): Unit = {
    val nv = f.nv
    val nh = f.nh
    var r = 0
    while (r < m) {
      val ho = r * nh
      var i = 0
      while (i < nv) {
        val wo = i * nh
        var acc = 0.0
        var j = 0
        while (j < nh) { acc = Math.fma(h(ho + j), f.w(wo + j), acc); j += 1 }
        out(r * nv + i) = sigmoid(acc + f.vBias(i))
        i += 1
      }
      r += 1
    }
  }

  /** Deterministic up-down pass on probabilities (no sampling) — the
    * reference's transform semantics: v' = σ(σ(vW+c)Wᵀ+b), for the first
    * `m` rows of the row-major `x` into `out`; `h` is m×nh scratch. */
  def reconstruct(f: Flat, x: Array[Double], m: Int,
                  h: Array[Double], out: Array[Double]): Unit = {
    hidden(f, x, m, h)
    visible(f, h, m, out)
  }

  /** [[reconstruct]] of the one row `v`. */
  def reconstruct(f: Flat, v: Array[Double]): Array[Double] = {
    val out = new Array[Double](f.nv)
    reconstruct(f, v, 1, new Array[Double](f.nh), out)
    out
  }

  final case class FitResult(weights: RbmWeights, epochErrors: Seq[Double])

  /** Data-parallel training backend for the 100 TB path (SURVEY §7 M5):
    * the classic MLlib pattern — weights broadcast each epoch, one
    * synchronous pass computes per-partition CD-1 gradient sums that
    * `treeReduce` combines (depth 2, so the driver never receives more
    * than √P partial results), driver applies the AdaGrad update.
    * Nothing on the driver scales with row count: the only driver-side
    * data is the (nv×nh) gradient and a small uniformly-sampled
    * validation set (content-hash row holdout, excluded from training)
    * for early stopping. Stochastic draws are seeded per ROW from the
    * row's content hash, so training is invariant to partitioning, row
    * order, and AQE re-plans.
    */
  def fitDistributed(encoded: org.apache.spark.sql.DataFrame,
                     layout: graft.impute.ColumnLayout,
                     cfg: Config): FitResult = {
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
      return FitResult(init(nv, cfg), Seq.empty)
    }
    val nVal = valRows.length
    val valX = new Array[Double](nVal * nv)
    var r = 0
    while (r < nVal) { System.arraycopy(valRows(r)._1, 0, valX, r * nv, nv); r += 1 }
    val valH = new Array[Double](nVal * nh)
    val recon = new Array[Double](nVal * nv)
    // NaN = "no early-stopping signal" (empty holdout): training then
    // runs to maxEpochs instead of silently stopping after patience+1
    // epochs on a constant fake 0.0 error
    def valError(w: RbmWeights): Double = {
      if (valRows.isEmpty) return Double.NaN
      reconstruct(Flat(w), valX, nVal, valH, recon)
      var se = 0.0; var cnt = 0L
      var i = 0
      while (i < nVal) {
        val k = valRows(i)._2
        var j = 0
        while (j < nv) {
          if (k(j)) { val d = recon(i * nv + j) - valX(i * nv + j); se += d * d; cnt += 1 }
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
          wts = RbmWeights(
            wts.w + (dW *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheW + eps),
            wts.vBias + (dB *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheB + eps),
            wts.hBias + (dC *:* cfg.learnRate) /:/ breeze.numerics.sqrt(cacheC + eps))
        } else {
          wts = RbmWeights(wts.w + dW *:* cfg.learnRate,
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
    FitResult(if (bestErr < Double.MaxValue) best else wts, errors.result())
  }

  /** Trains on `x` (noise-filled, [0,1] cells). A deterministic fraction
    * of `known` cells is hidden from training (replaced with noise) and
    * used as the early-stopping validation set — the reference's A9/A17
    * holdout. Returns the best-validation weights. Runs on the
    * primitive kernels: its buffers are allocated once per fit, and the
    * RNG draws keep the Breeze formulation's order (holdout, per-epoch
    * shuffle, hidden states column-major, one dropout draw per hidden
    * unit). */
  def fit(x: DenseMatrix[Double], known: DenseMatrix[Boolean], cfg: Config): FitResult = {
    val rng = new Random(cfg.seed)
    val n = x.rows
    val nv = x.cols
    val nh = cfg.nHidden
    require(known.rows == n && known.cols == nv, "mask shape mismatch")
    require(cfg.batchSize > 0, "batchSize must be positive")
    if (n == 0) return FitResult(init(nv, cfg), Seq.empty)

    // A9: hide a fraction of known cells; train sees noise there. The
    // hidden cells' true values are kept in row-major order.
    val train = new Array[Double](n * nv)
    val heldIdx = Array.newBuilder[Int]
    val heldVal = Array.newBuilder[Double]
    var i = 0
    while (i < n) {
      var j = 0
      while (j < nv) {
        train(i * nv + j) = x(i, j)
        if (known(i, j) && rng.nextDouble() < cfg.holdoutFraction) {
          heldIdx += i * nv + j
          heldVal += x(i, j)
          train(i * nv + j) = rng.nextDouble()
        }
        j += 1
      }
      i += 1
    }
    val held = heldIdx.result()
    val heldX = heldVal.result()

    val wts = Flat(init(nv, cfg))
    val cacheW = new Array[Double](nv * nh)
    val cacheB = new Array[Double](nv)
    val cacheC = new Array[Double](nh)
    val eps = 1e-8
    val bs = math.min(cfg.batchSize, n)
    val v0 = new Array[Double](bs * nv)
    val h0p = new Array[Double](bs * nh)
    val h0s = new Array[Double](bs * nh)
    val v1p = new Array[Double](bs * nv)
    val h1p = new Array[Double](bs * nh)
    val pos = new Array[Double](nv * nh)
    val neg = new Array[Double](nv * nh)
    val gB = new Array[Double](nv)
    val gC = new Array[Double](nh)
    val rowV = new Array[Double](nv)
    val rowH = new Array[Double](nh)
    val rowOut = new Array[Double](nv)

    def update(p: Array[Double], g: Array[Double], cache: Array[Double]): Unit = {
      var k = 0
      if (cfg.adagrad) while (k < p.length) {
        val d = g(k)
        cache(k) += d * d
        p(k) = p(k) + (d * cfg.learnRate) / math.sqrt(cache(k) + eps)
        k += 1
      } else while (k < p.length) { p(k) = p(k) + g(k) * cfg.learnRate; k += 1 }
    }

    /** One CD-1 step on the m rows `order(start until start + m)`. */
    def step(order: Array[Int], start: Int, m: Int): Unit = {
      var r = 0
      while (r < m) { System.arraycopy(train, order(start + r) * nv, v0, r * nv, nv); r += 1 }
      hidden(wts, v0, m, h0p)
      // sample hidden states column-major (unit outer, row inner), then dropout
      var j = 0
      while (j < nh) {
        r = 0
        while (r < m) {
          h0s(r * nh + j) = if (rng.nextDouble() < h0p(r * nh + j)) 1.0 else 0.0
          r += 1
        }
        j += 1
      }
      if (cfg.dropout > 0) {
        j = 0
        while (j < nh) {
          if (rng.nextDouble() < cfg.dropout) {
            r = 0
            while (r < m) { h0s(r * nh + j) = 0.0; r += 1 }
          }
          j += 1
        }
      }
      visible(wts, h0s, m, v1p)
      hidden(wts, v1p, m, h1p)
      // dW = (v0ᵀ·h0p − v1pᵀ·h1p) / b, each product one fma chain over rows
      java.util.Arrays.fill(pos, 0.0)
      java.util.Arrays.fill(neg, 0.0)
      r = 0
      while (r < m) {
        var i = 0
        while (i < nv) {
          val a = v0(r * nv + i)
          val c = v1p(r * nv + i)
          val wo = i * nh
          j = 0
          while (j < nh) {
            pos(wo + j) = Math.fma(a, h0p(r * nh + j), pos(wo + j))
            neg(wo + j) = Math.fma(c, h1p(r * nh + j), neg(wo + j))
            j += 1
          }
          i += 1
        }
        r += 1
      }
      val b = m.toDouble
      var k = 0
      while (k < pos.length) { pos(k) = (pos(k) - neg(k)) / b; k += 1 }
      // bias gradients: column sums of the differences, left to right
      var i = 0
      while (i < nv) {
        var s = 0.0
        r = 0
        while (r < m) { s += v0(r * nv + i) - v1p(r * nv + i); r += 1 }
        gB(i) = s / b
        i += 1
      }
      j = 0
      while (j < nh) {
        var s = 0.0
        r = 0
        while (r < m) { s += h0p(r * nh + j) - h1p(r * nh + j); r += 1 }
        gC(j) = s / b
        j += 1
      }
      update(wts.w, pos, cacheW)
      update(wts.vBias, gB, cacheB)
      update(wts.hBias, gC, cacheC)
    }

    // reconstructs only the rows holding a held-out cell, one at a time
    def valError(f: Flat): Double = {
      var se = 0.0
      var row = -1
      var p = 0
      while (p < held.length) {
        val r = held(p) / nv
        if (r != row) {
          System.arraycopy(train, r * nv, rowV, 0, nv)
          reconstruct(f, rowV, 1, rowH, rowOut)
          row = r
        }
        val d = rowOut(held(p) - r * nv) - heldX(p)
        se += d * d
        p += 1
      }
      if (held.isEmpty) Double.NaN else se / held.length
    }

    var best = wts.copy
    var bestErr = Double.MaxValue
    var bad = 0
    val errors = Seq.newBuilder[Double]
    var epoch = 0
    while (epoch < cfg.maxEpochs && bad < cfg.patience) {
      val order = rng.shuffle((0 until n).toVector).toArray
      var start = 0
      while (start < n) {
        val m = math.min(cfg.batchSize, n - start)
        step(order, start, m)
        start += m
      }
      val err = valError(wts)
      errors += err
      if (err.isNaN) { /* no holdout → no early-stop signal */ }
      else if (err < bestErr - 1e-12) { bestErr = err; best = wts.copy; bad = 0 }
      else bad += 1
      epoch += 1
    }
    FitResult((if (bestErr < Double.MaxValue) best else wts).toWeights, errors.result())
  }
}
