package graft.similarity

import graft.ml.KMeansLloyd
import graft.operators.{Sampling, TopPerGroup}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PRODUCT QUANTIZATION (PQ) — the memory side of vector search at
  * 100 TB. [[Quantize.scalarQuantize]] compresses 4×; PQ compresses
  * 32–64×: split each D-dim vector into `m` subvectors, k-means each
  * subspace into `ksub` centroids, store only the m centroid ids
  * (m bytes at ksub ≤ 256 — 8 bytes/vector here vs 256 for float64).
  * Search runs ASYMMETRIC DISTANCE COMPUTATION (ADC, Jégou et al.,
  * TPAMI'11): per query, precompute an m × ksub table of exact
  * subspace distances, then score any corpus vector with m table
  * lookups — no decompression, no float math per candidate. This is
  * the FAISS serving layout; the codes table for a 10⁹-vector corpus
  * fits in the page cache where the raw vectors never could.
  *
  * Determinism, the repo contract: codebooks come from the
  * bit-deterministic [[KMeansLloyd]] (integer-grid Lloyd, lowest-id
  * seeding) fit on a [[Sampling.fixedSize]] sample (key-ranked — same
  * sample on any layout); encoding is the same grid argmin; and the
  * ADC tables are BIGINT (query on the micro-unit grid, centroids
  * rounded back onto it), so candidate scores are exact integer sums —
  * order- and partitioning-insensitive, no float-accumulation tie
  * flapping anywhere. Same codes, same shortlist, same ranks, every
  * run (ProductQuantizeSpec asserts it under repartition).
  *
  * Accuracy follows the FAISS recipe: ADC ranks a SHORTLIST
  * (`shortlist` ≫ k), then the survivors re-rank by EXACT grid L2
  * against the raw vectors — m-byte codes find the neighborhood, the
  * re-rank fixes the order (recall floor spec-pinned).
  *
  * Scale shape: fit touches a bounded sample (m small Lloyd fits,
  * kilobyte stats frames); encoding is one narrow projection; ADC is
  * codes-explode (m rows per vector) ⋈ broadcast LUT (q·m·ksub rows)
  * with map-side partial sums into a (query, id) aggregate — the only
  * wide shuffle, carrying candidates, not vectors. Re-rank joins raw
  * vectors for shortlist rows only. Persisting the codes bucketed on a
  * coarse IVF cell (the [[IvfIndex]] pattern) is the composed
  * IVF-PQ serving layout; the pieces here compose with it unchanged.
  */
object ProductQuantize {

  /** Fitted codebooks: `centroids(j)(c)` is subspace j's centroid c on
    * the micro-unit grid scale (doubles — Lloyd means). */
  final case class Codebooks(dim: Int, m: Int, ksub: Int,
                             centroids: Array[Array[Array[Double]]]) {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sub: Int = dim / m
    /** Centroids rounded back onto the BIGINT grid — the exact-ADC
      * representation (shared by encode-side argmin inputs and the
      * query-side tables, so both sides quantize identically). */
    lazy val gridCentroids: Array[Array[Array[Long]]] =
      centroids.map(_.map(_.map(x => Math.round(x))))
  }

  /** Spark `round(x · 10⁶)`'s exact driver twin: the multiply runs in
    * double, then HALF_UP decimal rounding (Spark's RoundBase goes
    * through BigDecimal HALF_UP — NOT Math.round, which floors x+0.5
    * and disagrees on negative half-way values). */
  private def gridOf(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1000000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /** Fit `m` subspace codebooks of `ksub` centroids each on a
    * deterministic `fitSample`-row sample.
    *
    * The Lloyd rounds run DRIVER-SIDE on the collected sample — the
    * FAISS posture (codebooks always train in memory on a sample) and
    * the only shape that doesn't pay m × iters scheduler round-trips:
    * the distributed [[KMeansLloyd.fit]] costs ~33 tiny Spark jobs for
    * m=8, iters=2 (measured 15 s of pure job overhead at sf0.1), the
    * collected sample costs ONE. The math is the distributed fit's
    * exact twin — same grid, same lowest-id seeding, same left-fold
    * IEEE distance, same (d, i) tie-break, same exact-integer-sum
    * updates — so the codebooks are bit-identical to KMeansLloyd.fit
    * on the same sample (ProductQuantizeSpec asserts it). */
  def fit(df: DataFrame, idCol: String, vecCol: String, dim: Int,
          m: Int = 8, ksub: Int = 16, iters: Int = 4,
          fitSample: Int = 20000): Codebooks = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    require(ksub >= 2 && iters >= 1)
    val sub = dim / m
    val rows = Sampling.fixedSize(
        df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>")),
        idCol, fitSample)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray.map(gridOf))
      .sortBy(_._1)
    require(rows.length >= ksub, s"sample ${rows.length} < ksub $ksub")
    val books = (0 until m).toArray.map { j =>
      val xs = rows.map(_._2.slice(j * sub, (j + 1) * sub))
      lloyd(xs, ksub, iters)
    }
    Codebooks(dim, m, ksub, books)
  }

  /** Driver Lloyd on grid vectors — KMeansLloyd.fit's bit-exact twin
    * (seeding, distance, tie-break, update all mirrored op-for-op). */
  private def lloyd(xs: Array[Array[Long]], k: Int,
                    iters: Int): Array[Array[Double]] = {
    val dim = xs.head.length
    var centroids: Array[Array[Double]] =
      xs.take(k).map(_.map(_.toDouble))
    for (_ <- 1 to iters) {
      val sums = Array.fill(k, dim)(0L)
      val counts = new Array[Long](k)
      xs.foreach { x =>
        // argmin by (d2, cluster id): left-fold double accumulation in
        // dim order — the same op sequence as d2Double's aggregate
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var acc = 0.0
          var d = 0
          while (d < dim) {
            val e = x(d).toDouble - centroids(c)(d)
            acc += e * e
            d += 1
          }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        counts(best) += 1L
        var d = 0
        while (d < dim) { sums(best)(d) += x(d); d += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (prev, c) =>
        if (counts(c) == 0L) prev // empty clusters keep their centroid
        else sums(c).map(_.toDouble / counts(c).toDouble)
      }
    }
    centroids
  }

  /** PQ codes: `(id, codes array<bigint> length m)` — the persisted
    * serving table (m bytes/vector at ksub ≤ 256). The m-subspace
    * argmin runs in the NATIVE [[graft.expressions.PqEncode]]
    * expression: the Column form (~3k expression nodes at the default
    * shape) blew past the JVM's 64 KB generated-method limit and fell
    * back to INTERPRETED projection for the whole pass — measured
    * 2.7 s for 2,000 rows at sf0.1 vs ~0.1 s native, a constant
    * factor on the pass that touches EVERY corpus vector at build
    * time. Arithmetic and (d, id) tie order are bit-identical
    * (PqEncode scaladoc; ProductQuantizeSpec pins the codes). */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             cb: Codebooks): DataFrame =
    df.select(col(idCol).as("__id"), codes(col(vecCol), cb).as("__codes"))

  /** The `array<bigint>` PQ code column of [[encode]], for callers that
    * project codes next to other columns. */
  private[similarity] def codes(vec: Column, cb: Codebooks): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.PqEncode(
        org.apache.spark.sql.GraftColumnBridge.expression(
          KMeansLloyd.quantize(vec)),
        cb.gridCentroids.map(_.map(_.map(_.toDouble).toSeq).toSeq).toSeq))

  /** ADC top-k with exact re-rank. Output `(query_id, id, d2, rank)`:
    * d2 is the EXACT squared L2 distance on the micro-unit grid
    * (divide by 10¹² for raw units), rank 1..k ascending by
    * (d2, id). `queries` is a small batch by serving contract. */
  def adcTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              cb: Codebooks, k: Int, shortlist: Int = 0,
              excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1)
    // default = 16k, the measured knee: the ADC join dominates cost,
    // so a larger shortlist is ~free while recall@10 climbs 0.67→0.80
    // (SCALING.md's PQ shortlist grid) — the round-6 "don't ship the
    // speed-tuned default" lesson applied at birth
    val short = if (shortlist > 0) shortlist else 16 * k
    require(short >= k, s"shortlist $short < k $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    // query-side ADC tables: (query_id, j, code, partial d2) — exact
    // BIGINT subspace distances of the grid query against the grid
    // centroids, q·m·ksub rows, built driver-side from the collected
    // query batch (small by contract, like every serve path here)
    val qRows = queries
      .select(col(qIdCol).cast("long").as("qid"),
        KMeansLloyd.quantize(col(qVecCol)).as("qv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val lut = qRows.flatMap { case (qid, qv) =>
      (0 until cb.m).flatMap { j =>
        val qs = qv.slice(j * cb.sub, (j + 1) * cb.sub)
        cb.gridCentroids(j).zipWithIndex.map { case (c, ci) =>
          var d = 0L
          var t = 0
          while (t < cb.sub) { val e = qs(t) - c(t); d += e * e; t += 1 }
          (qid, j, ci.toLong, d)
        }
      }
    }.toIndexedSeq.toDF("qid", "j", "code", "pd2")
    // candidate scoring: explode codes (m rows/vector), broadcast-join
    // the tables, exact integer sum per (query, id) — the one shuffle
    // codes MATERIALIZE before the explode (MinHashDedup/Bm25
    // checkpoint pattern): exploding through the m × ksub argmin
    // expression re-evaluates it per exploded row and pushes the
    // generated code past codegen limits — measured 0.4 s to encode
    // but 5–10 s to score without the barrier. In the serving shape
    // the codes ARE a persisted table; this is its one-shot stand-in.
    // excludeSelf assumes queries share the corpus id space (the
    // queries-from-the-corpus shape); pass false for disjoint id spaces
    val scored = encode(corpus, idCol, vecCol, cb)
      .localCheckpoint()
      .select(col("__id"), posexplode(col("__codes")).as(Seq("j", "code")))
      .join(broadcast(lut), Seq("j", "code"))
      .filter(if (excludeSelf) col("qid") =!= col("__id") else lit(true))
      .groupBy(col("qid"), col("__id"))
      .agg(sum(col("pd2")).as("adc_d2"))
    // shortlist: skew-safe exact top-`short` per query by ASCENDING
    // approximate distance (topN orders desc, so negate)
    val top = TopPerGroup.topN(
        scored.withColumn("__neg", -col("adc_d2")),
        "qid", "__neg", "__id", short)
      .select(col("qid"), col("__id"))
    // exact re-rank of the shortlist on the raw grid vectors
    val cv = corpus.select(col(idCol).as("__id"),
      KMeansLloyd.quantize(col(vecCol)).as("__cv"))
    val qv = queries.select(col(qIdCol).cast("long").as("qid"),
      KMeansLloyd.quantize(col(qVecCol)).as("__qv"))
    val d2 = aggregate(zip_with(col("__cv"), col("__qv"),
      (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("__id").asc)
    top.join(cv, "__id").join(broadcast(qv), "qid")
      .withColumn("d2", d2)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("__id").as("id"),
        col("d2"), col("rank"))
  }
}
