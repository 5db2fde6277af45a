package graft.tools

import graft.{LocalRun, Tables}
import graft.similarity.Cosine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures the ANN recall/cost trade-off against the EXACT top-k
  * ground truth on the real embeddings table — the operating-point
  * table a user tuning `c3_ann_topk` / `c3_ivf_topk` needs (recorded
  * in SCALING.md; CosineSpec's recall floors are set at the measured
  * knee). Usage: runMain graft.tools.AnnRecallCurve [sfDir] [k]
  */
object AnnRecallCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = LocalRun.session(LocalRun.cpus)
    LocalRun.warmUp(spark)

    val embs = Tables.embeddings(spark, sfDir).localCheckpoint()
    val n = embs.count()
    println(s"[curve] $sfDir: $n vectors, recall@$k")

    // exact ground truth: brute-force per-query top-k (one bucket)
    val t0 = System.nanoTime()
    val exact = Cosine.selfJoinTopK(embs.withColumn("__all", lit(1)),
        "vec_id", "embedding", "__all", k)
      .select("a", "b").localCheckpoint()
    val nExact = exact.count()
    println(f"[curve] exact baseline: $nExact rows, " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")

    def recallOf(approx: DataFrame): (Double, Double) = {
      val t = System.nanoTime()
      val a = approx.select("a", "b").localCheckpoint()
      a.count() // materialize inside the timed span
      val secs = (System.nanoTime() - t) / 1e9
      (exact.intersect(a).count().toDouble / nExact, secs)
    }

    println("\n| engine | config | recall@" + k + " | seconds |")
    println("|---|---|---|---|")
    for (tables <- Seq(4, 8, 12, 16)) {
      val (r, s) = recallOf(Cosine.annTopK(embs, "vec_id", "embedding",
        dim = 64, k = k, numPlanes = 0, numTables = tables))
      // numPlanes=0 self-sizes with annTopK's default targetBucket —
      // label through the SAME constant so a default move can't desync
      println(f"| LSH | tables=$tables planes=auto(${
        Cosine.planesFor(n, Cosine.DefaultSearchTargetBucket)}) " +
        f"| $r%.3f | $s%.2f |")
    }
    for (planes <- Seq(4, 6, 8)) {
      val (r, s) = recallOf(Cosine.annTopK(embs, "vec_id", "embedding",
        dim = 64, k = k, numPlanes = planes, numTables = 8))
      println(f"| LSH | tables=8 planes=$planes | $r%.3f | $s%.2f |")
    }
    for ((tables, planes) <- Seq((2, 4), (4, 4), (4, 6), (8, 6))) {
      val (r, s) = recallOf(Cosine.annTopK(embs, "vec_id", "embedding",
        dim = 64, k = k, numPlanes = planes, numTables = tables,
        probeBits = 1))
      println(f"| LSH | tables=$tables planes=$planes probeBits=1 | $r%.3f | $s%.2f |")
    }
    for (nProbe <- Seq(1, 2, 4, 8)) {
      val (r, s) = recallOf(Cosine.ivfTopK(embs, "vec_id", "embedding",
        k = k, nProbe = nProbe))
      println(f"| IVF | cells=auto(sqrt n) nProbe=$nProbe | $r%.3f | $s%.2f |")
    }
    spark.stop()
  }
}
