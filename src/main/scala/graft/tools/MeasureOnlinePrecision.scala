package graft.tools

import graft.{LocalRun, Tables}
import graft.streaming.StreamingNearDedup
import org.apache.spark.sql.functions._

/** Dev-only: measure online-dedup drop precision against exact
  * token-set Jaccard ground truth (is each dropped doc actually a
  * near-dup of some earlier doc?), across band geometries. */
object MeasureOnlinePrecision {
  def main(args: Array[String]): Unit = {
    val spark = LocalRun.session(LocalRun.cpus)
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text")).cache()
      val n = docs.count()
      // shared truth definition — same as StreamingNearDedupSpec's floor
      val truth = graft.dedup.DedupGroundTruth
        .jaccardTruthPairs(docs, "doc_id", "text", threshold = 0.5).cache()
      println(s"== $sf: $n docs, ${truth.count()} pairs with jaccard>=0.5")
      for ((nh, bands) <- Seq((16, 4), (16, 2), (16, 8))) {
        val kept = StreamingNearDedup.keptBatch(docs, "doc_id", "text",
          numHashes = nh, bands = bands).select(col("doc_id")).cache()
        val nKept = kept.count()
        val (nDropped, justified, nTrueDup, caught) = graft.dedup
          .DedupGroundTruth.firstWinsQuality(docs, "doc_id", kept, truth)
        println(f"  k=$nh bands=$bands rows=${nh / bands}: kept=$nKept dropped=$nDropped " +
          f"precision=${if (nDropped == 0) 1.0 else justified.toDouble / nDropped}%.3f " +
          f"recall=${if (nTrueDup == 0) 1.0 else caught.toDouble / nTrueDup}%.3f (trueDupLater=$nTrueDup)")
      }
    }
    spark.stop()
  }
}
