package graft.text

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The persisted inverted-index contract: serving from the index
  * returns EXACTLY what a fresh Bm25.topK recompute returns (same
  * postings/df/stats ⇒ same contributions ⇒ same decimal scores ⇒
  * same ranks), and the index side of the serving read never
  * shuffles — the 100 TB side is read in place, pruned to the
  * buckets of the query terms. */
class LexicalIndexSpec extends SparkSpec {

  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("lex_index").toString

  private lazy val docs = Tables.documents(spark, sf0001).localCheckpoint()
  private lazy val corpus = docs.filter(col("doc_id") >= 10)
  private lazy val queries = docs.filter(col("doc_id") < 10)

  /** (planned buckets, total buckets) of the executed postings scan. */
  private def selectedBuckets(served: DataFrame): (Int, Int) = {
    val plan = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      .getOrElse(fail(s"no bucketed postings scan:\n${plan.take(2000)}"))
    (m.group(1).toInt, m.group(2).toInt)
  }

  test("serving from the persisted index equals a fresh Bm25 recompute") {
    LexicalIndex.write(corpus, "doc_id", "text",
      table = "lex_spec_postings", path = s"$tmp/idx", numBuckets = 4)
    val served = LexicalIndex.topK(spark, "lex_spec_postings", s"$tmp/idx",
      queries, "doc_id", "text", k = 5)
    val recomputed = Bm25.topK(corpus, "doc_id", "text",
      queries, "doc_id", "text", k = 5)
    assert(served.count() > 0, "fixture queries must hit the corpus")
    assert(served.exceptAll(recomputed).isEmpty &&
           recomputed.exceptAll(served).isEmpty,
      "served index results diverged from the one-shot recompute")
  }

  test("df stopping applies at serve time too") {
    LexicalIndex.write(corpus, "doc_id", "text",
      table = "lex_stop_postings", path = s"$tmp/idx_stop", numBuckets = 4)
    val served = LexicalIndex.topK(spark, "lex_stop_postings",
      s"$tmp/idx_stop", queries, "doc_id", "text", k = 5,
      maxDfFraction = 0.05)
    val recomputed = Bm25.topK(corpus, "doc_id", "text",
      queries, "doc_id", "text", k = 5, maxDfFraction = 0.05)
    assert(served.exceptAll(recomputed).isEmpty &&
           recomputed.exceptAll(served).isEmpty)
    // and stopping actually binds on this fixture (fewer candidates
    // than the unstopped run ⇒ some scores/ranks change)
    val unstopped = LexicalIndex.topK(spark, "lex_stop_postings",
      s"$tmp/idx_stop", queries, "doc_id", "text", k = 5)
    assert(served.exceptAll(unstopped).count() > 0,
      "maxDfFraction=0.05 should change results on the fixture")
  }

  test("incremental merge: (build ∪ merge) ≡ one-shot rebuild bit-exact") {
    // nightly shape: index ~3/4 of the corpus, merge the rest
    val initial = corpus.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val batch = corpus.filter(pmod(col("doc_id"), lit(4)) === 0)
    LexicalIndex.write(initial, "doc_id", "text",
      table = "lex_incr_postings", path = s"$tmp/idx_incr", numBuckets = 4)
    LexicalIndex.merge(spark, "lex_incr_postings", s"$tmp/idx_incr",
      batch, "doc_id", "text", numBuckets = 4)
    val served = LexicalIndex.topK(spark, "lex_incr_postings",
      s"$tmp/idx_incr", queries, "doc_id", "text", k = 5)
    // one-shot index of the union corpus — the rebuild the merge avoids
    LexicalIndex.write(corpus, "doc_id", "text",
      table = "lex_full_postings", path = s"$tmp/idx_full", numBuckets = 4)
    val rebuilt = LexicalIndex.topK(spark, "lex_full_postings",
      s"$tmp/idx_full", queries, "doc_id", "text", k = 5)
    assert(served.count() > 0)
    assert(served.exceptAll(rebuilt).isEmpty &&
           rebuilt.exceptAll(served).isEmpty,
      "merged index diverged from the one-shot rebuild")
    // stats really are the union's (additive 1-row rewrite)
    val st = spark.read.parquet(s"$tmp/idx_incr/stats").collect()(0)
    val full = spark.read.parquet(s"$tmp/idx_full/stats").collect()(0)
    assert(st === full, s"merged stats $st != rebuilt stats $full")
    // serving the MERGED table still never shuffles the index side
    served.collect()
    val physical = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!physical.contains("Exchange hashpartitioning(term"),
      "merged index side shuffled on term")
    // an empty batch is a no-op, not a corrupted index
    LexicalIndex.merge(spark, "lex_incr_postings", s"$tmp/idx_incr",
      batch.limit(0), "doc_id", "text", numBuckets = 4)
    assert(LexicalIndex.topK(spark, "lex_incr_postings", s"$tmp/idx_incr",
      queries, "doc_id", "text", k = 5)
      .exceptAll(rebuilt).isEmpty)
  }

  test("index side of the serving join never shuffles on term") {
    LexicalIndex.write(corpus, "doc_id", "text",
      table = "lex_plan_postings", path = s"$tmp/idx_plan", numBuckets = 4)
    val served = LexicalIndex.topK(spark, "lex_plan_postings",
      s"$tmp/idx_plan", queries, "doc_id", "text", k = 5)
    served.collect() // finalize the AQE plan before reading it
    val physical = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the query terms are a literal in the plan; the postings scan
    // (and the df window over it) must not contribute a hash exchange
    // on term — the shuffles are the candidate-score groupBy on
    // (query_id, doc_id) and the rank window on query_id
    assert(!physical.contains("Exchange hashpartitioning(term"),
      s"the INDEX side shuffled on term:\n${physical.take(2000)}")
    // a two-term query opens at most two of the four buckets
    val query = local(docs.select("doc_id", "text").limit(0), Row(1L, "spark join"))
    val pruned = LexicalIndex.topK(spark, "lex_plan_postings",
      s"$tmp/idx_plan", query, "doc_id", "text", k = 5)
    assert(pruned.count() > 0)
    val (selected, total) = selectedBuckets(pruned)
    assert(total === 4 && selected <= 2, s"$selected of $total buckets scanned")
  }

  test("serving equals Bm25.topK after a write and three merges, on every query shape") {
    // 64 queries over a 31-word vocabulary share nearly every term;
    // the extra rows hold no indexed term, null text, and repeated
    // tokens (Bm25 counts a query term once)
    val corpus = docs.filter(col("doc_id") >= 64).select("doc_id", "text")
    val batch = local(docs.filter(col("doc_id") < 64).select("doc_id", "text"),
      Row(9001L, "zzz-unindexed qqq-none"), Row(9002L, null),
      Row(9003L, "Spark spark SPARK join join"))
    LexicalIndex.write(corpus.filter(pmod(col("doc_id"), lit(4)) === 0),
      "doc_id", "text", table = "lex_parity_postings",
      path = s"$tmp/idx_parity", numBuckets = 4)
    for (part <- 1 to 3)
      LexicalIndex.merge(spark, "lex_parity_postings", s"$tmp/idx_parity",
        corpus.filter(pmod(col("doc_id"), lit(4)) === part), "doc_id", "text",
        numBuckets = 4)
    def served(q: DataFrame, maxDf: Double) = LexicalIndex.topK(spark,
      "lex_parity_postings", s"$tmp/idx_parity", q, "doc_id", "text", k = 5,
      maxDfFraction = maxDf)
    def expected(q: DataFrame, maxDf: Double) = Bm25.topK(corpus, "doc_id",
      "text", q, "doc_id", "text", k = 5, maxDfFraction = maxDf)
    assertSameAnswer(served(batch, 1.0), expected(batch, 1.0))
    val ids = served(batch, 1.0).select("query_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(ids === ((0L until 64L).toSet + 9003L))
    // stopping binds on this corpus: about half its vocabulary is in
    // more than 77% of the documents
    assertSameAnswer(served(batch, 0.77), expected(batch, 0.77))
    assert(served(batch, 0.77).exceptAll(served(batch, 1.0)).count() > 0)
    val empty = batch.limit(0)
    assertSameAnswer(served(empty, 1.0), expected(empty, 1.0))
    assert(served(empty, 1.0).isEmpty)
  }

  test("a rewrite at the same path serves the new index, not the old one") {
    val first = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val second = docs.filter(pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 300)
    for (corpus <- Seq(first, second)) {
      LexicalIndex.write(corpus, "doc_id", "text", table = "lex_rewrite_postings",
        path = s"$tmp/idx_rewrite", numBuckets = 4)
      assertSameAnswer(LexicalIndex.topK(spark, "lex_rewrite_postings",
          s"$tmp/idx_rewrite", queries, "doc_id", "text", k = 5),
        Bm25.topK(corpus, "doc_id", "text", queries, "doc_id", "text", k = 5))
    }
  }
}
