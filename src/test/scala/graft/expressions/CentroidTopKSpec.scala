package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CentroidTopKSpec extends SparkSpec {

  private def topK(q: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    GraftColumnBridge.column(
      CentroidTopK(GraftColumnBridge.expression(q), centroids, nProbe))

  /** (d, i) pairs of one output row, nearest first. */
  private def pairs(r: Row): Seq[(Double, Long)] =
    r.getSeq[Row](0).map(s => (s.getDouble(0), s.getLong(1)))

  private def frame(vecs: Seq[Seq[Any]], elem: DataType) = spark.createDataFrame(
    spark.sparkContext.parallelize(vecs.map(v => Row(if (v == null) null else v)), 1),
    StructType(Seq(StructField("q", ArrayType(elem)))))

  test("a double input equals the bigint input on integral values") {
    val rng = new scala.util.Random(7)
    val dim = 5
    val centroids = Seq.fill(12)(Seq.fill(dim)(rng.nextGaussian() * 40))
    val ints = Seq.fill(200)(Seq.fill(dim)(rng.nextInt(201).toLong - 100))
    val viaLong = frame(ints, LongType)
      .select(topK(col("q"), centroids, 4)).collect().map(pairs)
    val viaDouble = frame(ints.map(_.map(_.toDouble)), DoubleType)
      .select(topK(col("q"), centroids, 4)).collect().map(pairs)
    assert(viaLong.toSeq === viaDouble.toSeq)
    // and both are the left-to-right Σ(q−c)² with (d, id) order
    val want = ints.map { q =>
      centroids.zipWithIndex.map { case (c, i) =>
        (q.zip(c).foldLeft(0.0) { case (s, (x, y)) =>
          val e = x.toDouble - y; s + e * e }, i.toLong)
      }.sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        .take(4)
    }
    assert(viaDouble.toSeq === want)
  }

  test("ties break by (d, id)") {
    // centroids 0 and 2 coincide, 1 and 3 sit at the same distance
    val centroids = Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 0.0), Seq(-1.0, 0.0))
    val out = frame(Seq(Seq(0.0, 0.0)), DoubleType)
      .select(topK(col("q"), centroids, 4)).collect().map(pairs)
    assert(out.head === Seq((0.0, 0L), (0.0, 2L), (1.0, 1L), (1.0, 3L)))
  }

  test("nProbe greater than k returns all k, nearest first") {
    val centroids = Seq(Seq(5.0), Seq(1.0), Seq(3.0))
    val out = frame(Seq(Seq(0L)), LongType)
      .select(topK(col("q"), centroids, 10)).collect().map(pairs)
    assert(out.head === Seq((1.0, 1L), (9.0, 2L), (25.0, 0L)))
  }

  test("a null vector, a null element or a wrong-dimension vector gives null") {
    val centroids = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))
    val rows = frame(Seq(null, Seq(1.0, null), Seq(1.0), Seq(1.0, 2.0, 3.0),
        Seq(1.0, 1.0)), DoubleType)
      .select(topK(col("q"), centroids, 1)).collect()
    assert(rows.take(4).forall(_.isNullAt(0)), rows.mkString(", "))
    assert(pairs(rows(4)) === Seq((0.0, 1L)))
  }

  test("no centroid value enters the plan string") {
    val centroids = Seq(Seq(0.123456789, 9.87654321), Seq(4.5, 6.5))
    val df = frame(Seq(Seq(1.0, 1.0)), DoubleType)
      .select(topK(col("q"), centroids, 1).as("t"))
    val plans = df.queryExecution.toString
    assert(!plans.contains("0.123456789") && !plans.contains("6.5"), plans)
  }
}
