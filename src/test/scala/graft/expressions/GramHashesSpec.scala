package graft.expressions

import graft.{SparkSpec, Tables}
import graft.text.Winnowing
import org.apache.spark.sql.functions._

class GramHashesSpec extends SparkSpec {

  test("rolling gram hashes match the fold composition on the corpus (k=1,2,8)") {
    val ks = Seq(1, 2, 8)
    val norm = Winnowing.normalize(col("text"))
    // the native side runs in Spark; the reference folds the collected
    // char codes in plain Scala — the same Horner fold per gram as
    // Winnowing.gramHashesComposed, without its per-gram SQL lambdas
    val rows = Tables.documents(spark, sf0001)
      .select(Winnowing.charCodes(norm) +:
        ks.map(k => Winnowing.gramHashes(norm, k)): _*)
      .collect()
    def ref(codes: Seq[Long], k: Int): Seq[Long] =
      codes.sliding(k).filter(_.size == k)
        .map(_.foldLeft(0L)((acc, c) => (acc * Winnowing.Base + c) % Winnowing.Mod))
        .toSeq
    for ((k, i) <- ks.zipWithIndex) {
      val bad = rows.count(r => r.getSeq[Long](i + 1) != ref(r.getSeq[Long](0), k))
      assert(bad === 0, s"mismatch at k=$k")
    }
  }

  test("edge cases: shorter than k, exactly k, unicode, null") {
    import spark.implicits._
    val df = Seq(Some(""), Some("ab"), Some("abcdefgh"), Some("straße äö"),
        None).toDF("s")
      .withColumn("__codes", Winnowing.charCodes(col("s")))
    val rows = df.select(
        Winnowing.gramHashes(col("s"), 8).as("n"),
        Winnowing.gramHashesComposed(col("__codes"), 8).as("c"))
      .collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"null parity row $i")
      if (!r.isNullAt(0))
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"row $i")
    }
    assert(rows(0).getSeq[Long](0).isEmpty, "short input yields empty array")
  }

  test("graft_gram_hashes is SQL-callable via GraftExtensions") {
    // 'abc' k=2: [(97*31+98)%p, (98*31+99)%p] = [3105, 3137]
    val r = spark.sql("SELECT graft_gram_hashes('abc', 2) AS g")
      .head().getSeq[Long](0)
    assert(r === Seq(3105L, 3137L))
  }
}
