package graft.impute

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K-NEAREST-NEIGHBOR IMPUTATION — the other classic model-based
  * imputer next to the reference's RBM (sklearn's `KNNImputer`
  * lineage): fill a missing value with the mean of the target over the
  * `k` complete rows closest in feature space. Where the RBM learns a
  * joint distribution, KNN is local and assumption-free — the cleaning
  * library's second opinion, and the one practitioners reach for first.
  *
  * Determinism (the whole imputer sits under the bit-exact oracle):
  * features min-max scale with the reference's own A4/A5 arithmetic
  * (fit on COMPLETE rows only — the donor space defines the geometry),
  * squared distances are fixed-order IEEE sums (+,−,×,÷ are exactly
  * rounded and engine-identical, unlike libm), neighbors rank by
  * (d², donor id) — a total order — and the imputed value is an exact
  * decimal mean of the k donors divided once.
  *
  * Scale shape: this exact form joins recipients × donors — right for
  * the audit/small-segment shape it ships in (and the oracle). At
  * corpus scale the SAME scoring tail runs behind a candidate
  * generator instead of the full join: block donors with
  * [[graft.similarity.Cosine.annTopK]]/[[graft.similarity.IvfIndex]]
  * on the feature vector and feed candidates to the identical
  * rank+mean — the composition the similarity family exists for.
  * Donor-side skew is impossible (every recipient scores every donor
  * or its candidate set); the rank window partitions by recipient.
  */
object KnnImpute {

  /** ONE driver-side collect of the donor-side A4 fit — per-feature
    * (min, max) plus the donor COUNT in the same aggregate. The
    * multi-action paths (imputeAnn / writeDonorIndex) previously
    * re-computed the stats subtree (a full donor scan) inside every
    * downstream action via `crossJoin(broadcast(stats))`, plus a
    * separate `donorSide.count()` scan to size the cell count; this
    * is one scan total (guide §1.2/§2.4 — remove redundant passes),
    * and the values embed as LITERALS carrying the same doubles the
    * broadcast row carried, so the A5 scaling arithmetic is
    * bit-identical. */
  private def collectStats(donors: DataFrame, featureCols: Seq[String])
      : (Map[String, (Option[Double], Option[Double])], Long) = {
    val aggs = count(lit(1)).as("__n") +: featureCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__mn_$c"),
      max(col(c).cast("double")).as(s"__mx_$c")))
    val r = donors.agg(aggs.head, aggs.tail: _*).collect()(0)
    val byCol = featureCols.zipWithIndex.map { case (c, i) =>
      val mnI = 1 + 2 * i
      c -> (if (r.isNullAt(mnI)) None else Some(r.getDouble(mnI)),
        if (r.isNullAt(mnI + 1)) None else Some(r.getDouble(mnI + 1)))
    }.toMap
    (byCol, r.getLong(0))
  }

  /** A collected stat as a literal Column (null-preserving: an empty
    * donor set yields null min/max exactly like the aggregate row). */
  private def litOf(v: Option[Double]): Column =
    v.map(lit).getOrElse(lit(null).cast("double"))

  /** A persisted-stats row field as a literal Column (the serve-side
    * twin of [[litOf]] — same doubles the old 1-row broadcast join
    * carried, null-preserving). */
  private def statOf(sr: org.apache.spark.sql.Row, name: String): Column = {
    val i = sr.fieldIndex(name)
    if (sr.isNullAt(i)) lit(null).cast("double") else lit(sr.getDouble(i))
  }

  /** Impute nulls of `targetCol` from the `k` nearest complete rows in
    * `featureCols` space. Output: input columns with `targetCol`
    * replaced by its imputed value where it was null (rows with a null
    * FEATURE keep their null target — no geometry, no donation). */
  def impute(df: DataFrame, idCol: String, targetCol: String,
             featureCols: Seq[String], k: Int = 5): DataFrame = {
    require(featureCols.nonEmpty && k >= 1)
    val featOk = featureCols.map(col(_).isNotNull).reduce(_ && _)
    val donors = df.filter(col(targetCol).isNotNull && featOk)
    // A4 fit on donors: per-feature min/max, one broadcast row
    val stats = donors.agg(
      featureCols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c"))).head,
      featureCols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c"))).tail: _*)
    def scaled(prefix: String)(c: String): Column =
      Scaling.scale(col(s"$prefix$c").cast("double"),
        col(s"__mn_$c"), col(s"__mx_$c"))
    val recipients = df.filter(col(targetCol).isNull && featOk)
      .select(col(idCol).as("__rid") +:
        featureCols.map(c => col(c).as(s"__rf_$c")): _*)
      .crossJoin(broadcast(stats))
    val donorSide = donors
      .select(Seq(col(idCol).as("__did"),
        col(targetCol).cast("decimal(18,2)").as("__dv")) ++
        featureCols.map(c => col(c).as(s"__df_$c")): _*)
    // fixed-order squared distance over the scaled features
    val d2 = featureCols.map { c =>
      val e = scaled("__rf_")(c) - scaled("__df_")(c)
      e * e
    }.reduce(_ + _)
    val w = Window.partitionBy(col("__rid"))
      .orderBy(col("__d2").asc, col("__did").asc)
    val imputed = recipients.join(donorSide,
        col("__rid") =!= col("__did"), "inner")
      .withColumn("__d2", d2)
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .groupBy(col("__rid"))
      .agg((sum(col("__dv")).cast("double") /
        count(lit(1)).cast("double")).as("__imputed"))
    // reassemble: original schema, imputed values where target was
    // null. Cast __imputed back to the ORIGINAL target type first —
    // when/otherwise would otherwise coerce a DECIMAL target column to
    // double, silently changing the output schema.
    val targetType = df.schema(targetCol).dataType
    df.join(imputed, col(idCol) === col("__rid"), "left_outer")
      .withColumn(targetCol,
        when(col(targetCol).isNull, col("__imputed").cast(targetType))
          .otherwise(col(targetCol)))
      .drop("__rid", "__imputed")
  }

  /** CATEGORICAL KNN imputation — donor-majority vote over the SAME
    * scoring tail as [[impute]]: fill a missing label with the most
    * common label among the `k` nearest complete rows in feature
    * space. Completes the categorical story next to RBM argmax (joint
    * model) and mode fill (global prior) with the LOCAL estimator —
    * a row's own neighborhood decides, which is what practitioners
    * mean by "KNNImputer on a categorical column".
    *
    * Determinism: the same A4/A5 scaling fit, fixed-order d², and
    * (d², donor id) rank as the numeric form; the vote then breaks
    * ties by EARLIEST DONOR — (votes DESC, min-rank ASC), and
    * min-rank values are distinct across labels, so the pick is a
    * total order and the whole imputer sits under the bit-exact
    * oracle. Same audit shape as [[impute]] (recipients × donors);
    * the candidate-blocked composition applies identically when a
    * segment outgrows it. */
  def imputeCategorical(df: DataFrame, idCol: String, targetCol: String,
                        featureCols: Seq[String], k: Int = 5): DataFrame = {
    require(featureCols.nonEmpty && k >= 1)
    val featOk = featureCols.map(col(_).isNotNull).reduce(_ && _)
    val donors = df.filter(col(targetCol).isNotNull && featOk)
    val stats = donors.agg(
      featureCols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c"))).head,
      featureCols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c"))).tail: _*)
    def scaled(prefix: String)(c: String): Column =
      Scaling.scale(col(s"$prefix$c").cast("double"),
        col(s"__mn_$c"), col(s"__mx_$c"))
    val recipients = df.filter(col(targetCol).isNull && featOk)
      .select(col(idCol).as("__rid") +:
        featureCols.map(c => col(c).as(s"__rf_$c")): _*)
      .crossJoin(broadcast(stats))
    val donorSide = donors
      .select(Seq(col(idCol).as("__did"),
        col(targetCol).as("__dv")) ++
        featureCols.map(c => col(c).as(s"__df_$c")): _*)
    val d2 = featureCols.map { c =>
      val e = scaled("__rf_")(c) - scaled("__df_")(c)
      e * e
    }.reduce(_ + _)
    val w = Window.partitionBy(col("__rid"))
      .orderBy(col("__d2").asc, col("__did").asc)
    val wPick = Window.partitionBy(col("__rid"))
      .orderBy(col("__votes").desc, col("__best").asc)
    val imputed = recipients.join(donorSide,
        col("__rid") =!= col("__did"), "inner")
      .withColumn("__d2", d2)
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .groupBy(col("__rid"), col("__dv"))
      .agg(count(lit(1)).as("__votes"), min(col("__rank")).as("__best"))
      .withColumn("__pick", row_number().over(wPick))
      .filter(col("__pick") === 1)
      .select(col("__rid"), col("__dv").as("__imputed"))
    df.join(imputed, col(idCol) === col("__rid"), "left_outer")
      .withColumn(targetCol,
        when(col(targetCol).isNull, col("__imputed"))
          .otherwise(col(targetCol)))
      .drop("__rid", "__imputed")
  }

  /** THE CORPUS-SCALE FORM — KNN imputation over IVF-blocked candidate
    * donors instead of the full recipients × donors join. The scoring
    * tail is IDENTICAL to [[impute]] (same A4/A5 scaling fit on donors,
    * same fixed-order d², same (d², donor id) rank, same exact-decimal
    * mean); only candidate GENERATION changes: donors are bucketed into
    * k-means cells over the scaled feature space ([[graft.ml
    * .KMeansLloyd]] — Euclidean, bit-deterministic fit), each recipient
    * probes its `nProbe` nearest cells, and only donors in probed cells
    * are scored.
    *
    * Scale shape: fit moves k·dim doubles to the driver per iteration
    * (never rows); donor assignment and recipient probing are narrow
    * projections; the candidate join is an equi-join on cell id —
    * shuffle-partitioned, no cross join anywhere. Expected scored pairs
    * drop from |R|·|D| to |R|·nProbe·|D|/cells: with cells ≈ √|D| the
    * exact join's quadratic term becomes |R|·nProbe·√|D| (the measured
    * 11.6×-at-10× row in BASELINE.md becomes ≲3×). Cost of the trade:
    * a recipient whose true k-th neighbor lives outside its probed
    * cells gets the mean of slightly-farther donors — KnnImputeSpec
    * pins ≥95% of imputed cells bit-equal to the exact form at sf0.01
    * (the rest differ by the near-tie at the cell boundary).
    *
    * Deterministic end to end (fit, probes, tail) — same output for
    * any partitioning or executor count; not SQL-oracle-able only
    * because the iterative fit has no single-query SQL twin.
    */
  def imputeAnn(df: DataFrame, idCol: String, targetCol: String,
                featureCols: Seq[String], k: Int = 5,
                numCells: Int = 0, nProbe: Int = 3,
                fitIters: Int = 3): DataFrame = {
    require(featureCols.nonEmpty && k >= 1 && nProbe >= 1)
    val featOk = featureCols.map(col(_).isNotNull).reduce(_ && _)
    val donors = df.filter(col(targetCol).isNotNull && featOk)
    // ONE donor scan fits the stats AND counts the donors (collectStats
    // scaladoc); before, the stats subtree re-ran inside every action
    // (count, fit checkpoint, index build, recipients, final join) —
    // ~7 source scans for one query. Literal stats also drop the
    // 1-row BroadcastNestedLoopJoin from every subplan.
    val (st, nDonors) = collectStats(donors, featureCols)
    def scaledVec: Column = array(featureCols.map(c =>
      Scaling.scale(col(c).cast("double"),
        litOf(st(c)._1), litOf(st(c)._2))): _*)
    // cells ≈ √|donors| (the IVF heuristic). The cap is generous —
    // the native CentroidTopK expression carries its centroid matrix
    // INSIDE one expression object (k·dim doubles, not k plan
    // subtrees), so neither planning nor per-row cost explodes with
    // k; 4096 matches Cosine's quantizer ceiling.
    val donorSide = donors
      .select(Seq(col(idCol).as("__did"),
        col(targetCol).cast("decimal(18,2)").as("__dv")) ++
        featureCols.map(c => col(c)): _*)
      .withColumn("__vec", scaledVec)
      .select("__did", "__dv", "__vec")
    val cells =
      if (numCells > 0) numCells
      else math.max(2, math.min(4096,
        math.ceil(math.sqrt(nDonors.toDouble)).toInt))
    val model = graft.ml.KMeansLloyd.fit(donorSide, "__did", "__vec",
      cells, fitIters)
    // the one-shot analogue of the SERVE path's bucketed donor layout:
    // spread the assigned donors across the session's shuffle width on
    // __cell BEFORE the candidate join. Without it, a small-file input
    // leaves the scan at one split and the whole pair-scoring +
    // per-recipient group-limit tail on ONE task (the broadcast join
    // streams the donor side at scan parallelism); at corpus scale
    // this is the same donor-side exchange ENSURE_REQUIREMENTS inserts
    // for the shuffle join. Width follows spark.sql.shuffle.partitions
    // (conf-derived, never a local constant).
    val width = df.sparkSession.conf.get(
      "spark.sql.shuffle.partitions").toInt
    val indexed = donorSide
      .withColumn("__cell",
        graft.ml.KMeansLloyd.nearestCell(col("__vec"), model))
      .repartition(width, col("__cell"))
    val recipients = df.filter(col(targetCol).isNull && featOk)
      .select(col(idCol).as("__rid") +: featureCols.map(c => col(c)): _*)
      .withColumn("__rvec", scaledVec)
      .select(col("__rid"), col("__rvec"),
        explode(graft.ml.KMeansLloyd.probeCells(col("__rvec"), model,
          nProbe)).as("__cell"))
    // the identical scoring tail: fixed-order d² over the scaled
    // features via the native SqDist (left-to-right fold — bit-equal
    // to impute's per-column reduce), (d², donor id) rank, exact mean
    val d2 = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SqDist(
        org.apache.spark.sql.GraftColumnBridge.expression(col("__rvec")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("__vec"))))
    val w = Window.partitionBy(col("__rid"))
      .orderBy(col("__d2").asc, col("__did").asc)
    val imputed = recipients.join(indexed, Seq("__cell"))
      .withColumn("__d2", d2)
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .groupBy(col("__rid"))
      .agg((sum(col("__dv")).cast("double") /
        count(lit(1)).cast("double")).as("__imputed"))
    val targetType = df.schema(targetCol).dataType
    df.join(imputed, col(idCol) === col("__rid"), "left_outer")
      .withColumn(targetCol,
        when(col(targetCol).isNull, col("__imputed").cast(targetType))
          .otherwise(col(targetCol)))
      .drop("__rid", "__imputed")
  }

  // ---- persisted donor index (the SERVING shape) -------------------
  // imputeAnn re-fits the quantizer and re-assigns donors on every
  // call — right for a one-shot audit, wrong for the production shape
  // where a reference donor corpus is built once and every incoming
  // batch is imputed against it (the IvfIndex split, applied to
  // imputation). write() persists the scaling stats (1 row), the
  // k-means centroids (cells × dim — kilobytes), and a BUCKETED donor
  // table on __cell; imputeServe() probes the persisted model for the
  // batch's recipients and joins the bucketed table IN PLACE — zero
  // Exchange on the donor side (KnnImputeSpec plan-asserts), only the
  // batch shuffles to meet it. Served cells are IDENTICAL to a fresh
  // imputeAnn with the same parameters (same stats → same scaling,
  // same deterministic fit → same cells → same candidates → same
  // tail; spec-pinned row equality).

  /** Schema of the donor index's `path/stats` side table: the min and
    * max of every feature column. Reads pass it to the reader, so
    * serving runs no schema-inference job. */
  private[graft] def statsSchema(featureCols: Seq[String])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(featureCols.flatMap(c => Seq(
      org.apache.spark.sql.types.StructField(s"__mn_$c",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField(s"__mx_$c",
        org.apache.spark.sql.types.DoubleType))))

  private def readStats(spark: org.apache.spark.sql.SparkSession,
                        path: String, featureCols: Seq[String]) =
    spark.read.schema(statsSchema(featureCols)).parquet(s"$path/stats")
      .collect()(0)

  /** Build + persist the donor index: `path/stats`, `path/centroids`,
    * and the bucketed donor table (catalog name `table`). */
  def writeDonorIndex(df: DataFrame, idCol: String, targetCol: String,
                      featureCols: Seq[String], table: String, path: String,
                      numCells: Int = 0, fitIters: Int = 3,
                      numBuckets: Int = 32): Unit = {
    val spark = df.sparkSession
    val featOk = featureCols.map(col(_).isNotNull).reduce(_ && _)
    val donors = df.filter(col(targetCol).isNotNull && featOk)
    // one donor scan for stats + count (collectStats scaladoc); the
    // stats sidecar is then written from the collected row — same
    // column names/values/nullability as the old aggregate write, so
    // imputeServe/mergeDonorIndex read an identical file
    val (st, nDonors) = collectStats(donors, featureCols)
    val statsRow = org.apache.spark.sql.Row.fromSeq(featureCols.flatMap(
      c => Seq(st(c)._1.map(Double.box).orNull,
        st(c)._2.map(Double.box).orNull)))
    spark.createDataFrame(
        java.util.Arrays.asList(statsRow), statsSchema(featureCols))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    def scaledVec: Column = array(featureCols.map(c =>
      Scaling.scale(col(c).cast("double"),
        litOf(st(c)._1), litOf(st(c)._2))): _*)
    // materialized once: the fit, the cell assignment and the bucketed
    // write all consume this projection
    val donorSide = donors
      .select(Seq(col(idCol).as("__did"),
        col(targetCol).cast("decimal(18,2)").as("__dv")) ++
        featureCols.map(c => col(c)): _*)
      .withColumn("__vec", scaledVec)
      .select("__did", "__dv", "__vec")
      .localCheckpoint()
    val cells =
      if (numCells > 0) numCells
      else math.max(2, math.min(4096,
        math.ceil(math.sqrt(nDonors.toDouble)).toInt))
    val model = graft.ml.KMeansLloyd.fit(donorSide, "__did", "__vec",
      cells, fitIters)
    graft.similarity.IvfIndex.writeCentroids(spark, model.centroids, path)
    graft.sources.TableSink.writeBucketed(
      donorSide.withColumn("__cell",
        graft.ml.KMeansLloyd.nearestCell(col("__vec"), model)),
      table, s"$path/donors", Seq("__cell"), numBuckets)
  }

  /** INCREMENTALLY add donors to a persisted index under its FROZEN
    * geometry: the persisted scaling stats and centroids stay fixed
    * (all sides keep scoring in the SAME coordinate frame — donors
    * outside the original min/max scale linearly outside [0, 1],
    * which is consistent, not wrong), new donors are assigned to
    * their nearest existing cell and appended as one batch-sized
    * bucketed file set. The merged table is bit-identical to a
    * [[writeDonorIndex]] of the donor union GIVEN the same stats and
    * centroids (KnnImputeSpec pins it), so [[imputeServe]] sees the
    * new donors immediately. Same re-fit policy as
    * [[graft.similarity.IvfIndex.merge]]: re-build when merged
    * donors exceed ~30% of the index or the feature distribution
    * drifts past the frozen min/max frame. */
  def mergeDonorIndex(spark: org.apache.spark.sql.SparkSession,
                      table: String, path: String, df: DataFrame,
                      idCol: String, targetCol: String,
                      featureCols: Seq[String],
                      numBuckets: Int = 32): Unit = {
    val featOk = featureCols.map(col(_).isNotNull).reduce(_ && _)
    val donors = df.filter(col(targetCol).isNotNull && featOk)
    if (donors.isEmpty) return
    val sr = readStats(spark, path, featureCols)
    val model = graft.ml.KMeansLloyd.Model(
      graft.similarity.IvfIndex.readCentroids(spark, path), Seq.empty)
    def scaledVec: Column = array(featureCols.map(c =>
      Scaling.scale(col(c).cast("double"),
        statOf(sr, s"__mn_$c"), statOf(sr, s"__mx_$c"))): _*)
    val donorSide = donors
      .select(Seq(col(idCol).as("__did"),
        col(targetCol).cast("decimal(18,2)").as("__dv")) ++
        featureCols.map(c => col(c)): _*)
      .withColumn("__vec", scaledVec)
      .select("__did", "__dv", "__vec")
    graft.sources.TableSink.appendBucketed(
      donorSide.withColumn("__cell",
        graft.ml.KMeansLloyd.nearestCell(col("__vec"), model)),
      table, Seq("__cell"), numBuckets)
    spark.catalog.refreshTable(table)
  }

  /** Impute a batch against the PERSISTED donor index — no fit, no
    * donor re-assignment, zero Exchange on the donor side. */
  def imputeServe(spark: org.apache.spark.sql.SparkSession, table: String,
                  path: String, df: DataFrame, idCol: String,
                  targetCol: String, featureCols: Seq[String],
                  k: Int = 5, nProbe: Int = 3): DataFrame = {
    require(featureCols.nonEmpty && k >= 1 && nProbe >= 1)
    val model = graft.ml.KMeansLloyd.Model(
      graft.similarity.IvfIndex.readCentroids(spark, path), Seq.empty)
    // the persisted stats are ONE row — collect to literals (same
    // doubles, bit-identical scaling) instead of planning a 1-row
    // broadcast join into the batch subtree
    val sr = readStats(spark, path, featureCols)
    def scaledVec: Column = array(featureCols.map(c =>
      Scaling.scale(col(c).cast("double"),
        statOf(sr, s"__mn_$c"), statOf(sr, s"__mx_$c"))): _*)
    val featOk = featureCols.map(col(_).isNotNull).reduce(_ && _)
    // probe column named __qcell (not __cell) so plan asserts can tell
    // the batch-side exchange from an index-side one (IvfIndex naming)
    val recipients = df.filter(col(targetCol).isNull && featOk)
      .select(col(idCol).as("__rid") +: featureCols.map(c => col(c)): _*)
      .withColumn("__rvec", scaledVec)
      .select(col("__rid"), col("__rvec"),
        explode(graft.ml.KMeansLloyd.probeCells(col("__rvec"), model,
          nProbe)).as("__qcell"))
    val indexed = spark.table(table)
    val d2 = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SqDist(
        org.apache.spark.sql.GraftColumnBridge.expression(col("__rvec")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("__vec"))))
    val w = Window.partitionBy(col("__rid"))
      .orderBy(col("__d2").asc, col("__did").asc)
    val imputed = recipients
      .join(indexed, col("__qcell") === col("__cell"))
      .withColumn("__d2", d2)
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .groupBy(col("__rid"))
      .agg((sum(col("__dv")).cast("double") /
        count(lit(1)).cast("double")).as("__imputed"))
    val targetType = df.schema(targetCol).dataType
    df.join(imputed, col(idCol) === col("__rid"), "left_outer")
      .withColumn(targetCol,
        when(col(targetCol).isNull, col("__imputed").cast(targetType))
          .otherwise(col(targetCol)))
      .drop("__rid", "__imputed")
  }
}
