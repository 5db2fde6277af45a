package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The driver twins' key guard: a key type that holds FLOAT/DOUBLE or
  * BINARY anywhere — nested fields included — must decline the driver
  * path, because Spark normalizes nested -0.0/NaN in join and group
  * keys while boxed JVM equality does not. */
class GraphDriverSpec extends SparkSpec {

  import spark.implicits._

  test("nested float/double/binary keys decline the driver path") {
    val base = Seq((1L, 2L, -0.0), (2L, 3L, 0.0)).toDF("a", "b", "d")
    // both key columns must have the SAME type (field names included)
    // for the guard under test to be the one that declines
    def keyed(k: String => org.apache.spark.sql.Column) =
      base.select(k("a").as("src"), k("b").as("dst"))
    val structDouble = keyed(c => struct(col(c).as("n"), col("d").as("z")))
    val arrayFloat = keyed(c => array(col(c).cast("float"), col("d").cast("float")))
    val mapBinary = keyed(c => map(col(c), col(c).cast("string").cast("binary")))
    for (df <- Seq(structDouble, arrayFloat, mapBinary))
      assert(GraphDriver.collectEdges(df).isEmpty, df.schema(0).dataType)
    val structExact = keyed(c =>
      struct(col(c).as("n"), col(c).cast("string").as("z")))
    assert(GraphDriver.collectEdges(structExact).map(_.length) === Some(2))
  }

  test("array<binary> node keys: one node per value, as in the " +
    "distributed rounds") {
    // every collected byte array is its own object and arrays compare
    // by reference on the driver, so "a" (three rows) would become
    // three nodes there; Spark's key equality makes it one
    val edges = Seq(("a", "b", 3L), ("b", "a", 1L), ("a", "c", 2L))
      .toDF("s", "d", "w")
      .select(array(col("s").cast("binary")).as("src"),
        array(col("d").cast("binary")).as("dst"), col("w"))
    val auto = Hits.scores(edges, iterations = 2).collect()
    val dist = Hits.scores(edges, iterations = 2, smallGraphMaxEdges = 0)
      .collect()
    assert(auto.length === 3, "nodes a, b, c")
    def scores(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(scores(auto) === scores(dist))
  }
}
