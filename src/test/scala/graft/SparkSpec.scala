package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — the
  * suites only read the driver test data, so sharing is safe and fast). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001  = "/root/testdata/sf0.01"
  val sf01   = "/root/testdata/sf0.1"

  /** A frame over `df`'s rows plus `extra`, held on the driver as a
    * serving client holds its query batch: Spark plans it as a local
    * relation. */
  def local(df: DataFrame, extra: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect() ++ extra: _*),
      df.schema)

  /** `got` has `want`'s schema and the same rows, each as many times. */
  def assertSameAnswer(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    def counts(df: DataFrame) = df.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val (g, w) = (counts(got), counts(want))
    assert(g === w, s"only in got: ${g.toSet -- w.toSet}; only in want: ${w.toSet -- g.toSet}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .withExtensions(new graft.GraftExtensions)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
