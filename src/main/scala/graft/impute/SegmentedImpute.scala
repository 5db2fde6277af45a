package graft.impute

import graft.functions.Noise
import graft.ml.RbmCore
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Imputation-at-scale orchestration (SURVEY §2 C8): instead of one
  * global model, fit one model per data segment. Two shapes:
  *
  *  - [[meanBySegment]]: per-segment mean fill as a pure groupBy +
  *    broadcast-join plan — deterministic, DuckDB-oracle-able, and the
  *    degenerate "model" that validates the orchestration plumbing.
  *  - [[rbmBySegment]]: one RBM per segment trained INSIDE the
  *    executors via `flatMapGroups` — the genuinely distributed
  *    fit: each group's rows stream to one task, the tiny model
  *    trains locally, reconstruction is emitted inline. No driver
  *    round-trip at all; parallelism = number of segments. The
  *    per-group collect is bounded by segment size — the operator is
  *    for many-modest-segments workloads (per-tenant, per-language),
  *    exactly where per-segment models beat a global one.
  */
object SegmentedImpute {

  /** Per-segment mean imputation of `valueCol` (missingness injected by
    * keyed hash-noise so the oracle reproduces it). Decimal-exact group
    * means; groups with no known values fall back to the value 0.0. */
  def meanBySegment(df: DataFrame, valueCol: String, segmentCol: String,
                    keyCol: String, salt: Int, frac: Double = 0.10): DataFrame = {
    val masked = df
      .withColumn("__miss", Noise.missingMask(col(keyCol), salt, frac))
      .withColumn(valueCol,
        when(col("__miss"), lit(null)).otherwise(col(valueCol)))
    val stats = masked.groupBy(col(segmentCol).as("__seg"))
      .agg((sum(col(valueCol).cast("decimal(30,2)")).cast("double") /
        count(col(valueCol))).as("__segmean"))
    masked.join(broadcast(stats), col(segmentCol) === col("__seg"), "left")
      .withColumn(valueCol,
        when(col("__miss"), coalesce(col("__segmean"), lit(0.0)))
          .otherwise(col(valueCol)))
      .drop("__miss", "__seg", "__segmean")
  }

  /** DuckDB oracle for [[meanBySegment]]. */
  def meanBySegmentSql(tbl: String, allCols: Seq[String], valueCol: String,
                       segmentCol: String, keyCol: String, salt: Int,
                       frac: Double = 0.10): String = {
    val miss = Noise.sqlMissing(keyCol, salt, frac)
    val maskedCols = allCols.map {
      case `valueCol` => s"CASE WHEN $miss THEN NULL ELSE $valueCol END AS $valueCol"
      case c => c
    }.mkString(", ")
    val outCols = allCols.map {
      case `valueCol` =>
        s"CASE WHEN __miss THEN coalesce(__segmean, 0.0e0) ELSE $valueCol END AS $valueCol"
      case c => c
    }.mkString(", ")
    s"""WITH masked AS (
       |  SELECT $maskedCols, $miss AS __miss FROM $tbl
       |), s AS (
       |  SELECT $segmentCol AS __seg,
       |    CAST(sum(CAST($valueCol AS DECIMAL(30,2))) AS DOUBLE) / count($valueCol) AS __segmean
       |  FROM masked GROUP BY $segmentCol
       |)
       |SELECT $outCols FROM masked LEFT JOIN s ON masked.$segmentCol = s.__seg""".stripMargin
  }

  /** One RBM per segment, trained executor-side. Output schema = input
    * schema; only null cells of `valueCol` change. Segments larger than
    * `maxGroupRows` are trained on their first `maxGroupRows` rows
    * (bounded memory per task) but reconstructed in full. */
  def rbmBySegment(df: DataFrame, valueCol: String, segmentCol: String,
                   keyCol: String, cfg: RbmCore.Config = RbmCore.Config(),
                   maxGroupRows: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema
    val valueIdx = schema.fieldIndex(valueCol)
    val keyIdx = schema.fieldIndex(keyCol)
    val segIdx = schema.fieldIndex(segmentCol)
    // NaN-safe stats: Spark orders NaN above every double, so a single
    // NaN cell would otherwise become the max and wreck the range
    val cleanVal = {
      val c = col(valueCol).cast("double")
      when(isnan(c), lit(null)).otherwise(c)
    }
    val stats = df.agg(
      min(cleanVal).as("mn"),
      max(cleanVal).as("mx")).collect()(0)
    // all-null / empty input → degenerate stats; impute into [0,1]
    def statOr(i: Int, dflt: Double): Double =
      if (stats.isNullAt(i) || stats.getDouble(i).isNaN) dflt else stats.getDouble(i)
    val mn = statOr(0, 0.0)
    val mx = statOr(1, 1.0)
    val range = if (mx == mn) 1.0 else mx - mn

    implicit val rowEnc = Encoders.row(schema)
    df.repartition(col(segmentCol))
      .sortWithinPartitions(col(segmentCol))
      .mapPartitions { it: Iterator[Row] =>
        // partition holds whole segments (repartition on segment key);
        // process each contiguous segment run independently
        new Iterator[Row] {
          val buf = it.buffered
          var out: Iterator[Row] = Iterator.empty
          def fill(): Unit = {
            while (!out.hasNext && buf.hasNext) {
              val seg = buf.head.get(segIdx)
              val rows = scala.collection.mutable.ArrayBuffer[Row]()
              while (buf.hasNext && buf.head.get(segIdx) == seg)
                rows += buf.next()
              out = imputeGroup(rows.toSeq)
            }
          }
          // missing = null OR NaN, matching Encoding.missingExpr and
          // the clean() contract (a NaN treated as known would poison
          // every weight in the group's model)
          def isMissing(r: Row): Boolean =
            r.isNullAt(valueIdx) || num(r, valueIdx).isNaN
          def imputeGroup(rows: Seq[Row]): Iterator[Row] = {
            val train = rows.take(maxGroupRows)
            val x = train.map { r =>
              Array(if (isMissing(r)) hashNoiseLocal(numKey(r, keyIdx), 9001)
                else (num(r, valueIdx) - mn) / range)
            }.toArray
            val known = train.map(r => Array(!isMissing(r))).toArray
            val wts = RbmCore.fit(x, known, 1, cfg).weights
            rows.iterator.map { r =>
              if (!isMissing(r)) r
              else {
                val recon = RbmCore.reconstruct(wts,
                  Array(hashNoiseLocal(numKey(r, keyIdx), 9001)))
                val filled = recon(0) * range + mn
                Row.fromSeq(r.toSeq.updated(valueIdx,
                  castBack(filled, schema(valueIdx).dataType)))
              }
            }
          }
          def hasNext: Boolean = { fill(); out.hasNext }
          def next(): Row = { fill(); out.next() }
        }
      }(rowEnc)
  }

  /** The output row must carry the DECLARED column type: the schema is
    * unchanged, so writing a raw Double into a float/int/decimal column
    * would blow up the row encoder — and only on imputed rows. */
  private def castBack(v: Double, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case DoubleType => v
      case FloatType => v.toFloat
      case LongType => math.round(v)
      case IntegerType => math.round(v).toInt
      case ShortType => math.round(v).toShort
      case ByteType => math.round(v).toByte
      case d: DecimalType => new java.math.BigDecimal(v)
        .setScale(d.scale, java.math.RoundingMode.HALF_UP)
      case _ => v
    }
  }

  private def num(r: Row, i: Int): Double = r.get(i) match {
    case n: Number => n.doubleValue()
  }
  private def numKey(r: Row, i: Int): Double = r.get(i) match {
    case n: Number => n.doubleValue()
  }
  private def hashNoiseLocal(key: Double, salt: Int): Double = {
    val x = math.sin(key * 12.9898 + salt * 78.233) * 43758.5453
    x - math.floor(x)
  }
}
