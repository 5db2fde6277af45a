package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (C3/C4): exact cosine as the baseline,
  * LSH-bucketed approximate as the scale path. Dot products compile to
  * graft's native DotProduct expression (a codegen'd primitive loop,
  * see graft.expressions) with deterministic left-to-right accumulation
  * (matters for the oracle) and the same null semantics as the
  * `aggregate(zip_with(...))` composition it replaced.
  */
object Cosine {

  /** Native codegen'd dot product (graft.expressions.DotProduct): a bare
    * primitive loop over the two array buffers — same left-to-right
    * accumulation order as the previous `aggregate(zip_with(...))`
    * composition (bit-identical results) without its per-row
    * intermediate array allocation. Built directly as an Expression so
    * it works in any session, registered or not. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.DotProduct(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Unit-normalization expression (zero vectors pass through unscaled —
    * their dot with anything is 0, matching cosine's zero-denominator
    * guard). */
  private def unitExpr(v: Column): Column = {
    val n = norm(v)
    when(n === 0, v).otherwise(transform(v, x => x / n))
  }

  /** (id, unit-normalized vector) projection: after it, cosine costs ONE
    * dot per pair instead of three. */
  private def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      unitExpr(col(vecCol).cast("array<double>")).as("__v"))

  /** Top-k most similar rows to one query vector (C4). The query row is
    * a one-row broadcast cross-join — the plan is scan → projection →
    * TakeOrderedAndProject, no shuffle of the big side. Scores rounded
    * to 6 dp (absorbs FP accumulation-order noise) with id tie-break so
    * the ranking is total and engine-portable. */
  def topK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
           k: Int): DataFrame = {
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("__q"))
    df.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .withColumn("score", round(cosine(col(vecCol).cast("array<double>"), col("__q")), 6))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Exact all-pairs top-k within a partition key (label) — brute force
    * is O(n²) per group, so real corpora bucket by an IVF/LSH key first;
    * the operator shape (per-bucket self-join + window top-k) is the
    * same. */
  def selfJoinTopK(df: DataFrame, idCol: String, vecCol: String,
                   bucketCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = df.select(col(bucketCol).as("__bk"), col(idCol).as("a"),
      col(vecCol).cast("array<double>").as("__va"))
    val r = df.select(col(bucketCol).as("__bk2"), col(idCol).as("b"),
      col(vecCol).cast("array<double>").as("__vb"))
    val w = Window.partitionBy(col("a")).orderBy(col("score").desc, col("b").asc)
    l.join(r, col("__bk") === col("__bk2") && col("a") =!= col("b"))
      .withColumn("score", round(cosine(col("__va"), col("__vb")), 6))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("a", "b", "score", "rank")
  }

  /** Sign-bit bucket of `numPlanes` seeded random hyperplanes. */
  def lshBucket(vec: Column, dim: Int, numPlanes: Int,
                seed: Long): Column = {
    val rng = new scala.util.Random(seed)
    val planes = Array.fill(numPlanes)(Array.fill(dim)(rng.nextGaussian()))
    val bits = (0 until numPlanes).map { p =>
      val plane = array(planes(p).toIndexedSeq.map(lit): _*)
      when(dot(vec.cast("array<double>"), plane) > 0,
        shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Coarse-quantizer fit on a bounded sample — shared by the one-shot
    * [[ivfTopK]] and the persisted [[IvfIndex]]: identical parameters
    * produce identical centers (same sample, same seed, same Lloyd
    * schedule), which IvfIndexSpec's served ≡ recomputed equivalence
    * relies on. At 100 TB k-means never sees the full corpus, only
    * assignment does. nlist ≈ √n keeps per-cell pair work ≈ n^1.5
    * total instead of n²/nlist with a fixed tiny cell count; a coarse
    * quantizer needs rough cells, not converged ones, so Lloyd is
    * capped at 8 iterations (IVF recall comes from multi-probe, not
    * centroid polish; FAISS trains its quantizer the same way). */
  private[similarity] def fitQuantizer(df: DataFrame, vecCol: String,
      numCentroids: Int, seed: Long,
      fitSample: Int): Array[Array[Double]] = {
    import org.apache.spark.ml.functions.array_to_vector
    val n = df.count()
    val cells = if (numCentroids > 0) numCentroids
      else math.max(2, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))
    val fitDf = (if (n <= fitSample) df
                 else df.sample(fitSample.toDouble / n, seed))
      .withColumn("__mlvec", array_to_vector(col(vecCol).cast("array<double>")))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(cells).setSeed(seed).setMaxIter(8).setTol(1e-3)
      .setFeaturesCol("__mlvec").setPredictionCol("__cell")
    km.fit(fitDf).clusterCenters.map(_.toArray)
  }

  /** IVF-style approximate neighbors with MULTI-PROBE: a k-means coarse
    * quantizer assigns every vector to its nearest centroid cell (the
    * physical bucketing key at 100 TB); each QUERY vector probes its
    * `nProbe` nearest cells, so neighbors sitting just across a cell
    * border — the single-probe recall cliff — are still found. Cell
    * assignment is one projection ([[ivfProbes]]). The only shuffle is
    * the per-cell pair join. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              numCentroids: Int = 0, nProbe: Int = 2,
              seed: Long = 42L, fitSample: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centers = fitQuantizer(df, vecCol, numCentroids, seed, fitSample)
    // probes come from the RAW vector (k-means was fit on raw vectors);
    // scoring uses the unit vector. Both plus the argmin over `cells`
    // per-centroid distances are the dominant per-row cost, and `base`
    // feeds BOTH sides of the cell self-join — materialize it once
    // (same pattern as annScored)
    val base = ivfProbes(df, idCol, vecCol, centers, nProbe).localCheckpoint()
    // index side: every vector lives in exactly its nearest cell;
    // query side: each vector probes its nProbe nearest cells
    val indexSide = base.select(element_at(col("__probes"), 1).as("__cell"),
      col("__id").as("b"), col("__v").as("__vb"))
    val querySide = base.select(col("__id").as("a"), col("__v").as("__va"),
      explode(col("__probes")).as("__qcell"))
    val w = Window.partitionBy(col("a")).orderBy(col("score").desc, col("b").asc)
    querySide.join(indexSide,
        col("__qcell") === col("__cell") && col("a") =!= col("b"))
      .withColumn("score", round(dot(col("__va"), col("__vb")), 6))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("a", "b", "score", "rank")
  }

  /** Cell/probe assignment stage of [[ivfTopK]], [[IvfIndex]] and
    * [[IvfPq]], visible for plan assertions: returns `(__id, __v unit
    * vector, __probes)` with NO checkpoint. `__probes` is the ids of the
    * `nProbe` nearest centroids to the RAW vector, nearest first, by
    * the native [[graft.expressions.CentroidTopK]] — one projection,
    * no join, centroids out of the plan text at any nlist. It stays
    * `array<int>` so bucketed tables already on disk keep accepting
    * [[IvfIndex.merge]] appends. A null vector, a null element or a
    * wrong-dimension vector gets null probes: it probes no cell, and
    * [[IvfIndex.assign]] refuses to store it. */
  private[similarity] def ivfProbes(df: DataFrame, idCol: String,
      vecCol: String, centers: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val nearest = graft.expressions.CentroidTopK.column(v, centers, nProbe)
    df.select(col(idCol).as("__id"), unitExpr(v).as("__v"),
      transform(nearest, s => s.getField("i").cast("int")).as("__probes"))
  }

  /** How many hyperplanes a self-sized LSH code uses: enough bits that
    * the EXPECTED bucket holds ~`targetBucket` rows (buckets/table =
    * 2^planes ≈ n/targetBucket), clamped to [2, 24]. Fixed small plane
    * counts (the round-1 bug) give 2³ = 8 buckets at ANY n — candidate
    * generation degenerates to near-all-pairs as the corpus grows.
    * targetBucket is the recall/cost dial (measured grid in SCALING.md):
    * bigger buckets = fewer planes = more candidates = higher recall.
    * [[annTopK]] defaults to 128 (the measured recall knee for SEARCH,
    * 0.71 recall@10 at sf0.1); [[annScoredPairs]] keeps 32 (DEDUP
    * candidates are near-identical vectors whose codes collide even in
    * small buckets — planted-dup specs hold there at ~4× fewer pairs). */
  /** annTopK's default targetBucket — the measured recall knee. Tools
    * that label "auto" plane counts (AnnRecallCurve) reference this so
    * a future default move cannot desync their labels again. */
  val DefaultSearchTargetBucket = 128

  def planesFor(n: Long, targetBucket: Int = 32): Int =
    math.min(24, math.max(2,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt))

  /** Shared ANN substrate: multi-table hyperplane-LSH candidates, scored
    * exactly. `bothDirections` emits each pair once per ordering (for
    * per-query top-k) or once with a < b (for dedup edges).
    * `probeBits = 1` adds MULTI-PROBE on the query side: each code also
    * probes the `planes` buckets at Hamming distance 1 (one sign bit
    * flipped) — neighbors sitting just across one hyperplane, the
    * dominant LSH miss mode, are recovered without paying for more
    * tables (the same recall trick [[ivfTopK]]'s nProbe plays for
    * k-means cells). The INDEX side stays single-bucket, so the join
    * fan-out is (1 + planes)× on the probe side only. */
  private def annScored(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, numPlanes: Int, numTables: Int,
                        maxBucket: Int, seed: Long,
                        bothDirections: Boolean,
                        targetBucket: Int,
                        probeBits: Int = 0): DataFrame = {
    require(probeBits >= 0 && probeBits <= 1, "probeBits must be 0 or 1")
    val planes =
      if (numPlanes > 0) numPlanes else planesFor(df.count(), targetBucket)
    val buckets = array((0 until numTables).map(t =>
      lshBucket(col(vecCol), dim, planes, seed + t * 7919)): _*)
    // materialize the bucket codes once: they feed BOTH the bucket-size
    // census and the kept-join, and each code costs numTables × planes
    // dot products per row — without the checkpoint the whole LSH
    // projection runs twice (and the optimizer cannot CSE across the
    // aggregate boundary)
    val coded = df.select(col(idCol).as("__id"),
      posexplode(buckets).as(Seq("__table", "__bucket")))
      .localCheckpoint()
    // degenerate-bucket cap (same role as MinHashDedup's maxBucket),
    // done as a count-filter + join rather than collect_list so no
    // single hot bucket can blow an aggregation buffer at scale. The
    // LOWER bound depends on the probe mode: single-probe pairs form
    // within a bucket, so singletons are dead weight (floor 2) — but a
    // multi-probe query reaches ACROSS buckets, and dropping singleton
    // buckets would make any vector alone in its bucket in every table
    // silently unreachable as a neighbor (exactly the tail vector
    // multiprobe exists to recover), so the floor drops to 1.
    val minBucket = if (probeBits == 0) 2 else 1
    val sized = coded.groupBy(col("__table"), col("__bucket")).count()
      .filter(col("count").between(minBucket, maxBucket))
      .select(col("__table").as("__t"), col("__bucket").as("__b"))
    val kept = coded.join(sized,
        col("__table") === col("__t") && col("__bucket") === col("__b"))
      .select(col("__table"), col("__bucket"), col("__id"))
    val pairCond = if (bothDirections) col("a") =!= col("b")
                   else col("a") < col("b")
    // probe side: own bucket + (with probeBits = 1) each 1-bit flip.
    // Probes come from the UNCAPPED codes (a query in a dropped
    // degenerate bucket can still probe its neighbors); the index side
    // is `kept`, so the cap still bounds every join key's fan-in.
    val probeSide =
      if (probeBits == 0)
        kept.select(col("__table"), col("__bucket"), col("__id").as("a"))
      else coded.select(col("__table"),
          explode(array((col("__bucket") +:
            (0 until planes).map(j =>
              col("__bucket").bitwiseXOR(lit(1L << j)))): _*)).as("__bucket"),
          col("__id").as("a"))
    val candidates = probeSide
      .join(kept.select(col("__table").as("__t2"), col("__bucket").as("__b2"),
        col("__id").as("b")),
        col("__table") === col("__t2") && col("__bucket") === col("__b2") && pairCond)
      .select("a", "b").distinct()
    // score via plain shuffled joins keyed on a/b — NEVER a forced
    // broadcast of the corpus (round 1 broadcast the full vector table
    // twice: fine at sf0.1, an executor OOM at 100 TB). AQE still
    // size-gates an automatic broadcast when the table really is small.
    // Normalization (norm = one dot per row) is materialized once for
    // the same reason as `coded` above: it feeds both the a- and b-side
    // scoring joins.
    val vecs = normalized(df, idCol, vecCol).localCheckpoint()
    candidates
      .join(vecs.select(col("__id").as("a"), col("__v").as("__va")), "a")
      .join(vecs.select(col("__id").as("b"), col("__v").as("__vb")), "b")
      .withColumn("score", round(dot(col("__va"), col("__vb")), 6))
      .select("a", "b", "score")
  }

  /** LSH candidate pairs (a < b) with exact cosine scores and NO
    * ranking — the dedup-edge shape: candidates → score → caller
    * thresholds. Skips the per-key row_number sort entirely (round 1
    * routed dedup through top-k with k = MaxValue, paying a window sort
    * over every candidate pair just to discard the rank). */
  def annScoredPairs(df: DataFrame, idCol: String, vecCol: String,
                     dim: Int, numPlanes: Int = 0, numTables: Int = 8,
                     maxBucket: Int = 256, seed: Long = 42L,
                     targetBucket: Int = 32): DataFrame =
    annScored(df, idCol, vecCol, dim, numPlanes, numTables, maxBucket,
      seed, bothDirections = false, targetBucket = targetBucket)

  /** Approximate top-k neighbors via MULTI-TABLE random-hyperplane LSH:
    * `numTables` independent codes; candidates share a bucket in at
    * least one table, are deduped, then scored exactly and ranked per
    * query id. numPlanes = 0 (default) self-sizes to the corpus
    * (planesFor at targetBucket = 128 — the measured recall knee:
    * 0.71 recall@10 at sf0.1 vs 0.36 at the old 32-row buckets, see
    * SCALING.md's grid), so buckets stay ~constant-size at any n; at
    * 100 TB each (table, bucket) key is the shuffle/bucketing key and
    * candidate scoring stays per-bucket — never all-pairs. Lower
    * `targetBucket` (or raise numPlanes) to buy speed at the cost of
    * recall. */
  def annTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
              k: Int, numPlanes: Int = 0, numTables: Int = 8,
              maxBucket: Int = 256, seed: Long = 42L,
              targetBucket: Int = DefaultSearchTargetBucket,
              probeBits: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("a")).orderBy(col("score").desc, col("b").asc)
    annScored(df, idCol, vecCol, dim, numPlanes, numTables, maxBucket,
        seed, bothDirections = true, targetBucket = targetBucket,
        probeBits = probeBits)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("a", "b", "score", "rank")
  }
}
