package graft.tools

import graft.{LocalRun, Tables}
import org.apache.spark.sql.functions._

/** Incremental-maintenance probe for the persisted BM25 index: the
  * merge claim is "per-batch cost scales with the batch + vocabulary,
  * never the indexed corpus". Measured directly: build an index over a
  * 1× and a `mult`× corpus (re-keyed unions, the ScaleProbe recipe),
  * then merge the SAME fixed-size batch into each and time the merge.
  * A corpus-shaped merge would scale ≈ mult×; the shipped shape should
  * stay flat (it touches the batch and the 1-row stats only). Results
  * recorded in BASELINE.md.
  * Usage: runMain graft.tools.ProfileLexicalMerge [sfDir] [mult]
  */
object ProfileLexicalMerge {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = LocalRun.session(LocalRun.cpus)
    LocalRun.warmUp(spark)

    val docs = Tables.documents(spark, sfDir).localCheckpoint()
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val big = (0 until mult).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * (maxId + 1))))
      .reduce(_ union _).localCheckpoint()
    // fixed-size batch, re-keyed past BOTH corpora
    val batch = docs.limit(500)
      .withColumn("doc_id", col("doc_id") + lit(mult.toLong * (maxId + 1)))
      .localCheckpoint()
    val tmp = java.nio.file.Files.createTempDirectory("lexmerge").toString

    def timeMerge(corpusDf: org.apache.spark.sql.DataFrame,
                  tag: String): Double = {
      graft.text.LexicalIndex.write(corpusDf, "doc_id", "text",
        table = s"lexmerge_$tag", path = s"$tmp/$tag", numBuckets = 8)
      val t0 = System.nanoTime()
      graft.text.LexicalIndex.merge(spark, s"lexmerge_$tag", s"$tmp/$tag",
        batch, "doc_id", "text", numBuckets = 8)
      (System.nanoTime() - t0) / 1e9
    }
    // warm the codegen path once
    timeMerge(docs.limit(100), "warm")
    val t1 = timeMerge(docs, "x1")
    val tN = timeMerge(big, s"x$mult")
    println(f"| lexical merge of fixed 500-doc batch | $t1%.2f s into 1x " +
      f"| $tN%.2f s into ${mult}x | ${tN / t1}%.1fx |")
    spark.stop()
  }
}
