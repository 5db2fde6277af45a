package graft.ml

import scala.util.Random

/** Weights of a trained RBM, row-major: `w(i * nHidden + j)` is W(i, j),
  * the weight between visible unit i and hidden unit j; `vBias` has
  * length nVisible, `hBias` length nHidden. Small by construction
  * (encoded width is cardinality-capped, see ImputeSpec), so the whole
  * struct broadcasts to every executor at any data scale. */
final class RbmWeights(val nVisible: Int, val nHidden: Int, val w: Array[Double],
                       val vBias: Array[Double], val hBias: Array[Double])
    extends Serializable {
  def copy: RbmWeights = new RbmWeights(nVisible, nHidden, w.clone, vBias.clone, hBias.clone)
}

/** CD-1 Restricted Boltzmann Machine — the math core of the
  * reference's TensorFlow graph (upstream: rbm.py; see SURVEY.md §3.2 —
  * semantics derive from the public upstream repo): sigmoid units,
  * contrastive divergence k=1, minibatch SGD with optional AdaGrad,
  * dropout on the hidden layer, early stopping on held-out-cell
  * reconstruction error. [[fit]] is deterministic given the seed.
  *
  * Inputs are rows of cells in [0,1]; missing cells arrive already
  * noise-filled (Encoding A8) with `known` marking originally-present
  * cells.
  *
  * Arithmetic: both trainers ([[fit]], [[fitDistributed]]) and every
  * reconstruct run on the primitive kernels below, over row-major
  * `Array[Double]` buffers, and share one AdaGrad/SGD `update` and one
  * early-stopping loop. They reproduce, bit for bit, the Breeze
  * formulation they replaced (kept as the reference in RbmCoreSpec).
  * That formulation ran its matrix products through
  * `dev.ludovic.netlib`'s `Java11BLAS` (no native BLAS, no
  * `jdk.incubator.vector`), whose dgemm and dgemv compute each output
  * cell as `Math.fma` accumulations starting from 0.0 in index order —
  * so each product here is one fma chain per cell, in the same order.
  * σ(z) is `1/(1+exp(−z))`, Breeze's `sigmoid`. The kernels always keep
  * one chain; the reference did not (`Java11BLAS` splits an inner
  * dimension over 500 into blocks once m·n·k ≥ 10⁶), so the parity is
  * pinned while nVisible, nHidden and batchSize are each at most 500.
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

  /** Gaussian(0, 0.1) weights drawn column-major (hidden unit outer,
    * visible unit inner) and zero biases. */
  def init(nVisible: Int, cfg: Config): RbmWeights = {
    val rng = new Random(cfg.seed)
    val nh = cfg.nHidden
    val w = new Array[Double](nVisible * nh)
    var j = 0
    while (j < nh) {
      var i = 0
      while (i < nVisible) { w(i * nh + j) = rng.nextGaussian() * 0.1; i += 1 }
      j += 1
    }
    new RbmWeights(nVisible, nh, w, new Array[Double](nVisible), new Array[Double](nh))
  }

  @inline private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** out(r, ·) = σ(x(r, ·)·W + c) for the first `m` rows of the
    * row-major m×nv `x`. */
  private def hidden(wts: RbmWeights, x: Array[Double], m: Int, out: Array[Double]): Unit = {
    val nv = wts.nVisible
    val nh = wts.nHidden
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
        while (j < nh) { out(ho + j) = Math.fma(xi, wts.w(wo + j), out(ho + j)); j += 1 }
        i += 1
      }
      var j = 0
      while (j < nh) { out(ho + j) = sigmoid(out(ho + j) + wts.hBias(j)); j += 1 }
      r += 1
    }
  }

  /** out(r, ·) = σ(h(r, ·)·Wᵀ + b) for the first `m` rows of the
    * row-major m×nh `h`. */
  private def visible(wts: RbmWeights, h: Array[Double], m: Int, out: Array[Double]): Unit = {
    val nv = wts.nVisible
    val nh = wts.nHidden
    var r = 0
    while (r < m) {
      val ho = r * nh
      var i = 0
      while (i < nv) {
        val wo = i * nh
        var acc = 0.0
        var j = 0
        while (j < nh) { acc = Math.fma(h(ho + j), wts.w(wo + j), acc); j += 1 }
        out(r * nv + i) = sigmoid(acc + wts.vBias(i))
        i += 1
      }
      r += 1
    }
  }

  /** [[visible]] of the one row `h`, each sum in the order of
    * `Java11BLAS`'s dgemvN, which the distributed trainer's Breeze
    * matrix-vector product ran: hidden units in blocks of four, each
    * block one fma chain from its last unit to its first, then the
    * leftover units in order. (dgemm, behind the batched products, and
    * dgemvT keep plain index order.) */
  private def visibleRow(wts: RbmWeights, h: Array[Double], out: Array[Double]): Unit = {
    val nv = wts.nVisible
    val nh = wts.nHidden
    val blocked = nh - nh % 4
    var i = 0
    while (i < nv) {
      val wo = i * nh
      var acc = 0.0
      var j = 0
      while (j < blocked) {
        acc = Math.fma(h(j), wts.w(wo + j), Math.fma(h(j + 1), wts.w(wo + j + 1),
          Math.fma(h(j + 2), wts.w(wo + j + 2), Math.fma(h(j + 3), wts.w(wo + j + 3), acc))))
        j += 4
      }
      while (j < nh) { acc = Math.fma(h(j), wts.w(wo + j), acc); j += 1 }
      out(i) = sigmoid(acc + wts.vBias(i))
      i += 1
    }
  }

  /** Deterministic up-down pass on probabilities (no sampling) — the
    * reference's transform semantics: v' = σ(σ(vW+c)Wᵀ+b), for the first
    * `m` rows of the row-major `x` into `out`; `h` is m×nh scratch. */
  def reconstruct(wts: RbmWeights, x: Array[Double], m: Int,
                  h: Array[Double], out: Array[Double]): Unit = {
    hidden(wts, x, m, h)
    visible(wts, h, m, out)
  }

  /** [[reconstruct]] of the one row `v`. */
  def reconstruct(wts: RbmWeights, v: Array[Double]): Array[Double] = {
    val out = new Array[Double](wts.nVisible)
    reconstruct(wts, v, 1, new Array[Double](wts.nHidden), out)
    out
  }

  /** Hidden states for the first `m` rows of the m×nh probabilities `p`,
    * drawn into `s` column-major (unit outer, row inner); then one
    * dropout draw per unit, which zeroes that unit in every row. */
  private def sampleHidden(p: Array[Double], s: Array[Double], m: Int, nh: Int,
                           dropout: Double, rng: Random): Unit = {
    var j = 0
    while (j < nh) {
      var r = 0
      while (r < m) {
        s(r * nh + j) = if (rng.nextDouble() < p(r * nh + j)) 1.0 else 0.0
        r += 1
      }
      j += 1
    }
    if (dropout > 0) {
      j = 0
      while (j < nh) {
        if (rng.nextDouble() < dropout) {
          var r = 0
          while (r < m) { s(r * nh + j) = 0.0; r += 1 }
        }
        j += 1
      }
    }
  }

  private def zeros(nv: Int, nh: Int): RbmWeights =
    new RbmWeights(nv, nh, new Array[Double](nv * nh), new Array[Double](nv), new Array[Double](nh))

  /** One AdaGrad (or plain SGD) step of `wts` along the mean gradient
    * `sums / n`, in place; `cache`, shaped like the weights, holds
    * AdaGrad's running sums of squares. */
  private def update(wts: RbmWeights, sums: RbmWeights, n: Double,
                     cache: RbmWeights, cfg: Config): Unit = {
    def step(p: Array[Double], g: Array[Double], c: Array[Double]): Unit = {
      var k = 0
      if (cfg.adagrad) while (k < p.length) {
        val d = g(k) / n
        c(k) += d * d
        p(k) = p(k) + (d * cfg.learnRate) / math.sqrt(c(k) + 1e-8)
        k += 1
      } else while (k < p.length) { p(k) = p(k) + (g(k) / n) * cfg.learnRate; k += 1 }
    }
    step(wts.w, sums.w, cache.w)
    step(wts.vBias, sums.vBias, cache.vBias)
    step(wts.hBias, sums.hBias, cache.hBias)
  }

  final case class FitResult(weights: RbmWeights, epochErrors: Seq[Double])

  /** The early-stopping loop both trainers share. Each epoch runs
    * `epoch(e)`, which steps `wts` in place, then scores the weights
    * with `valError`; NaN means no held-out signal, and training then
    * runs to maxEpochs instead of stopping on a constant fake error.
    * Returns the best-validation weights, or the last ones when no
    * epoch had a signal. */
  private def runEpochs(wts: RbmWeights, cfg: Config)(epoch: Int => Unit)
                       (valError: RbmWeights => Double): FitResult = {
    var best = wts
    var bestErr = Double.MaxValue
    var bad = 0
    val errors = Seq.newBuilder[Double]
    var e = 0
    while (e < cfg.maxEpochs && bad < cfg.patience) {
      epoch(e)
      val err = valError(wts)
      errors += err
      if (err.isNaN) { /* no holdout → no early-stop signal */ }
      else if (err < bestErr - 1e-12) { bestErr = err; best = wts.copy; bad = 0 }
      else bad += 1
      e += 1
    }
    FitResult(if (bestErr < Double.MaxValue) best else wts, errors.result())
  }

  /** Data-parallel training backend for the 100 TB path (SURVEY §7 M5):
    * the classic MLlib pattern — weights broadcast each epoch, one
    * synchronous pass computes per-partition CD-1 gradient sums that
    * `treeReduce` combines (depth 2, so the driver never receives more
    * than √P partial results), driver applies the AdaGrad update.
    * Nothing on the driver scales with row count: the only driver-side
    * data is the (nv×nh) gradient and a small sampled validation set
    * (content-hash row holdout, excluded from training) for early
    * stopping. Each row is one CD-1 step on the kernels (m = 1), its
    * stochastic draws seeded from the row's content hash, so a row's
    * gradient does not depend on where it sits. The trained weights
    * still do: `treeReduce` adds the partial sums in an order set by
    * the partitions (on the driver, in task completion order), and
    * `takeSample` picks and orders the validation rows by partition.
    */
  def fitDistributed(encoded: org.apache.spark.sql.DataFrame,
                     layout: graft.impute.ColumnLayout,
                     cfg: Config): FitResult = {
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
    def valError(w: RbmWeights): Double = {
      if (valRows.isEmpty) return Double.NaN
      reconstruct(w, valX, nVal, valH, recon)
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

    val wts = init(nv, cfg)
    val cache = zeros(nv, nh)
    val dropout = cfg.dropout
    val result = runEpochs(wts, cfg) { epoch =>
      // the tasks only read the broadcast; `update` steps `wts` after
      // the job has finished and the broadcast is destroyed
      val bc = spark.sparkContext.broadcast(wts)
      val seedE = cfg.seed + 31L * epoch
      // per-ROW RNG seeded from the row's content hash: decorrelated
      // across rows and independent of the row's partition
      val partials = data.mapPartitions { it =>
        val w = bc.value
        val sum = zeros(nv, nh)
        val h0p = new Array[Double](nh)
        val h0s = new Array[Double](nh)
        val v1p = new Array[Double](nv)
        val h1p = new Array[Double](nh)
        var cnt = 0L
        it.foreach { case (v0, _) =>
          val rng = new Random(seedE ^ (java.util.Arrays.hashCode(v0).toLong * 0x9E3779B9L))
          hidden(w, v0, 1, h0p)
          sampleHidden(h0p, h0s, 1, nh, dropout, rng)
          visibleRow(w, h0s, v1p)
          hidden(w, v1p, 1, h1p)
          // sum + (v0·h0pᵀ − v1p·h1pᵀ), each product rounded before the
          // subtraction (no fma), as the Breeze outer products the spec
          // pins were
          var i = 0
          while (i < nv) {
            val a = v0(i)
            val c = v1p(i)
            val wo = i * nh
            var j = 0
            while (j < nh) { sum.w(wo + j) += a * h0p(j) - c * h1p(j); j += 1 }
            sum.vBias(i) += a - c
            i += 1
          }
          var j = 0
          while (j < nh) { sum.hBias(j) += h0p(j) - h1p(j); j += 1 }
          cnt += 1
        }
        Iterator.single((sum, cnt))
      }
      val (sums, cnt) = partials.treeReduce({ (a, b) =>
        def add(x: Array[Double], y: Array[Double]): Unit = {
          var k = 0
          while (k < x.length) { x(k) += y(k); k += 1 }
        }
        add(a._1.w, b._1.w); add(a._1.vBias, b._1.vBias); add(a._1.hBias, b._1.hBias)
        (a._1, a._2 + b._2)
      }, depth = 2)
      bc.destroy()
      if (cnt > 0) update(wts, sums, cnt.toDouble, cache, cfg)
    }(valError)
    data.unpersist(blocking = false)
    result
  }

  /** Trains on the n rows `x` (noise-filled, [0,1] cells, nv each; row
    * `i` of `known` flags the cells of `x(i)` that were present). A
    * deterministic fraction of known cells is hidden from training
    * (replaced with noise) and used as the early-stopping validation
    * set — the reference's A9/A17 holdout. Returns the best-validation
    * weights. Only reads `x` and `known`. Its buffers are allocated
    * once per fit, and the RNG draws keep the Breeze formulation's
    * order (holdout, per-epoch shuffle, hidden states column-major, one
    * dropout draw per hidden unit). */
  def fit(x: Array[Array[Double]], known: Array[Array[Boolean]], nv: Int,
          cfg: Config): FitResult = {
    val rng = new Random(cfg.seed)
    val n = x.length
    val nh = cfg.nHidden
    require(known.length == n && x.forall(_.length == nv) && known.forall(_.length == nv),
      "mask shape mismatch")
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
        train(i * nv + j) = x(i)(j)
        if (known(i)(j) && rng.nextDouble() < cfg.holdoutFraction) {
          heldIdx += i * nv + j
          heldVal += x(i)(j)
          train(i * nv + j) = rng.nextDouble()
        }
        j += 1
      }
      i += 1
    }
    val held = heldIdx.result()
    val heldX = heldVal.result()

    val wts = init(nv, cfg)
    val cache = zeros(nv, nh)
    val bs = math.min(cfg.batchSize, n)
    val v0 = new Array[Double](bs * nv)
    val h0p = new Array[Double](bs * nh)
    val h0s = new Array[Double](bs * nh)
    val v1p = new Array[Double](bs * nv)
    val h1p = new Array[Double](bs * nh)
    val sums = zeros(nv, nh)
    val neg = new Array[Double](nv * nh)
    val rowV = new Array[Double](nv)
    val rowH = new Array[Double](nh)
    val rowOut = new Array[Double](nv)

    /** One CD-1 step on the m rows `order(start until start + m)`. */
    def step(order: Array[Int], start: Int, m: Int): Unit = {
      var r = 0
      while (r < m) { System.arraycopy(train, order(start + r) * nv, v0, r * nv, nv); r += 1 }
      hidden(wts, v0, m, h0p)
      sampleHidden(h0p, h0s, m, nh, cfg.dropout, rng)
      visible(wts, h0s, m, v1p)
      hidden(wts, v1p, m, h1p)
      // v0ᵀ·h0p − v1pᵀ·h1p, each product one fma chain over rows; the
      // bias gradients are the column sums of the differences, in row order
      val pos = sums.w
      java.util.Arrays.fill(pos, 0.0)
      java.util.Arrays.fill(neg, 0.0)
      java.util.Arrays.fill(sums.vBias, 0.0)
      java.util.Arrays.fill(sums.hBias, 0.0)
      r = 0
      while (r < m) {
        var i = 0
        while (i < nv) {
          val a = v0(r * nv + i)
          val c = v1p(r * nv + i)
          val wo = i * nh
          var j = 0
          while (j < nh) {
            pos(wo + j) = Math.fma(a, h0p(r * nh + j), pos(wo + j))
            neg(wo + j) = Math.fma(c, h1p(r * nh + j), neg(wo + j))
            j += 1
          }
          sums.vBias(i) += a - c
          i += 1
        }
        var j = 0
        while (j < nh) { sums.hBias(j) += h0p(r * nh + j) - h1p(r * nh + j); j += 1 }
        r += 1
      }
      var k = 0
      while (k < pos.length) { pos(k) = pos(k) - neg(k); k += 1 }
      update(wts, sums, m.toDouble, cache, cfg)
    }

    // reconstructs only the rows holding a held-out cell, one at a time
    def valError(w: RbmWeights): Double = {
      var se = 0.0
      var row = -1
      var p = 0
      while (p < held.length) {
        val r = held(p) / nv
        if (r != row) {
          System.arraycopy(train, r * nv, rowV, 0, nv)
          reconstruct(w, rowV, 1, rowH, rowOut)
          row = r
        }
        val d = rowOut(held(p) - r * nv) - heldX(p)
        se += d * d
        p += 1
      }
      if (held.isEmpty) Double.NaN else se / held.length
    }

    runEpochs(wts, cfg) { _ =>
      val order = rng.shuffle((0 until n).toVector).toArray
      var start = 0
      while (start < n) {
        val m = math.min(cfg.batchSize, n - start)
        step(order, start, m)
        start += m
      }
    }(valError)
  }
}
