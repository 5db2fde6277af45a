package graft.text

import graft.operators.TopPerGroup
import graft.sources.TableSink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Persisted INVERTED INDEX for BM25 serving — the lexical sibling of
  * [[graft.similarity.IvfIndex]] (dense ANN) and
  * [[graft.dedup.MinHashIndex]] (near-dup), completing the
  * build-once/serve-forever triad. [[Bm25.topK]] re-tokenizes and
  * re-aggregates the whole corpus on every call: right for a one-shot
  * analytical query, wrong for the 100 TB serving shape where the
  * corpus is indexed nightly and queried constantly.
  *
  *  - [[write]]: tokenize ONCE, aggregate postings and document
  *    lengths, DENORMALIZE dl into the posting rows (one build-time
  *    join so serving needs no doc-side join at all), and persist
  *      `path/stats`    — 1 row (n_docs, total_len);
  *      `path/terms`    — vocabulary-sized (term, df);
  *      a BUCKETED catalog table of (term, doc_id, tf, dl)
  *    via [[TableSink.writeBucketed]], bucketed + sorted on `term`.
  *  - [[topK]]: read stats (driver, 1 row), enrich the QUERY batch's
  *    terms with df from the terms table (query side is small by
  *    contract — it broadcasts into the vocabulary scan), then join
  *    the enriched query terms against the bucketed postings with the
  *    query side BROADCAST: the index — the 100 TB side — is read in
  *    place with NO Exchange (LexicalIndexSpec asserts it). Only the
  *    candidate contributions (corpus rows matching a query term,
  *    post df-stopping) reach the per-(query, doc) score shuffle.
  *
  * Served scores are IDENTICAL to a fresh [[Bm25.topK]] run with the
  * same parameters: the persisted tf/dl/df/stats are the same
  * aggregates the one-shot path computes, and the scoring projection
  * runs the same fixed double-op sequence on the same 6-dp grid — so
  * the serve queries sit under the SAME exact DuckDB oracle
  * ([[Bm25.sql]]) as the recompute, not a weaker rows-only check.
  */
object LexicalIndex {

  /** Schemas of the `stats` and `terms` side tables as [[write]] and
    * [[merge]] leave them (SideTableReadsSpec pins them). Reads pass
    * them to the reader, so serving runs no schema-inference job. */
  val StatsSchema: StructType = StructType(Seq(
    StructField("n_docs", LongType), StructField("total_len", LongType)))
  val TermsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType)))

  private def readStats(spark: SparkSession, path: String): Row =
    spark.read.schema(StatsSchema).parquet(s"$path/stats").collect()(0)

  private def readTerms(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TermsSchema).parquet(s"$path/terms")

  /** Build and persist the index. `table` is the catalog name for the
    * bucketed postings (bucket metadata needs a catalog); `path` is the
    * storage location. `numBuckets` should put bucket × file near
    * 128–512 MB at the target scale — postings shrink ~10× from raw
    * text, so ~1 bucket per 2–5 GB of corpus. */
  def write(corpus: DataFrame, idCol: String, textCol: String,
            table: String, path: String, numBuckets: Int = 32): Unit = {
    // ONE corpus pass builds the postings (tokenize + per-(doc, term)
    // count), checkpointed once; every other persisted aggregate
    // derives from postings, which is post-aggregation and far smaller
    // than the exploded token frame the previous shape materialized
    // (guide §1.2: the token frame was checkpointed only to feed two
    // aggregates that both fold onto postings anyway — dl is the sum
    // of the doc's tf, n_docs/total_len fold over dl).
    val postings = corpus.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // n_docs counts docs with >= 1 token (the doclen frame's row count
    // in the old shape); total_len = sum of all tf = total token count
    postings.agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("tf")).as("total_len"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/terms")
    // dl by window instead of a join against a separate doclen frame:
    // one shuffle of postings by doc_id, no second materialization,
    // the same exact integers (sum of longs)
    TableSink.writeBucketed(
      postings.withColumn("dl", sum(col("tf")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id"))))
        .select(col("term"), col("doc_id"), col("tf"), col("dl")),
      table, s"$path/postings", Seq("term"), numBuckets)
  }

  /** INCREMENTALLY fold a batch of NEW documents into a persisted
    * index — the nightly-batch path that previously had no option but
    * a full rebuild. Every persisted aggregate is ADDITIVE over
    * disjoint document sets, so the merge is exact, not approximate:
    *
    *  - postings `(term, doc_id, tf, dl)` rows are per-document facts
    *    — the batch's rows APPEND to the bucketed table
    *    ([[graft.sources.TableSink.appendBucketed]]): one new file set
    *    sized to the batch, existing files untouched, bucket spec (and
    *    the serve path's zero-Exchange join) preserved;
    *  - `terms` df counts add: old table ∪ batch df, summed per term
    *    (a VOCABULARY-sized job — grows sub-linearly with the corpus);
    *  - `stats` is one row of additive counts.
    *
    * Because BM25 reads df/n_docs/total_len at QUERY time, the merged
    * index serves scores BIT-IDENTICAL to a one-shot [[write]] of the
    * union corpus (LexicalIndexSpec pins it; the `c3_bm25_serve_incr`
    * row puts it under the exact DuckDB oracle). Per-batch cost scales
    * with the batch + vocabulary, never the indexed corpus.
    *
    * CONTRACT: batch doc ids must be NEW — postings are append-only
    * facts, so re-merging an already-indexed document would double its
    * tf/dl/df contributions (updates/deletes need the MergeUpsert
    * snapshot shape, not an inverted index). After many appends,
    * [[graft.sources.TableSink.compact]] bounds per-bucket file
    * counts. */
  def merge(spark: SparkSession, table: String, path: String,
            newDocs: DataFrame, idCol: String, textCol: String,
            numBuckets: Int = 32): Unit = {
    // ONE batch pass builds the batch postings (same fusion as
    // [[write]]): the old shape materialized the token frame AND a
    // doclen frame just to feed aggregates that fold onto postings
    val postings = newDocs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // empty-batch no-op decided on the checkpointed postings (free)
    // instead of a separate limit-1 scan of the batch source; a batch
    // whose docs carry no tokens is equally a no-op — such docs never
    // enter the index (dl derives from tokens), so there is nothing
    // to add to stats/terms/postings
    if (postings.isEmpty) return
    // stats: one 1-row read, one batch-postings fold, one additive
    // rewrite (same integers as the old doclen fold: docs with >= 1
    // token, total token count)
    val old = readStats(spark, path)
    val add = postings.agg(countDistinct(col("doc_id")).as("n"),
      sum(col("tf")).as("t")).collect()(0)
    import spark.implicits._
    Seq((old.getLong(old.fieldIndex("n_docs")) + add.getLong(0),
        old.getLong(old.fieldIndex("total_len")) + add.getLong(1)))
      .toDF("n_docs", "total_len")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    // terms: vocabulary-sized union-sum, MATERIALIZED (localCheckpoint)
    // before overwriting the directory it was read from
    val updatedTerms = readTerms(spark, path)
      .unionByName(postings.groupBy(col("term"))
        .agg(count(lit(1)).as("df")))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .localCheckpoint()
    updatedTerms.write.mode("overwrite").parquet(s"$path/terms")
    // postings: append the batch's rows to the bucketed table, dl by
    // window (no doclen join, same exact integers)
    graft.sources.TableSink.appendBucketed(
      postings.withColumn("dl", sum(col("tf")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id"))))
        .select(col("term"), col("doc_id"), col("tf"), col("dl")),
      table, Seq("term"), numBuckets)
    // appended files must be visible to an already-resolved table
    // relation in this session
    spark.catalog.refreshTable(table)
  }

  /** Top-`k` docs per query against the PERSISTED index — no corpus
    * tokenization, no corpus aggregation. Same output contract and
    * same exact scores as [[Bm25.topK]] with identical parameters. */
  def topK(spark: SparkSession, table: String, path: String,
           queries: DataFrame, queryId: String, queryText: String,
           k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
           maxDfFraction: Double = 1.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(k1 > 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    require(maxDfFraction > 0 && maxDfFraction <= 1,
      s"maxDfFraction must be in (0, 1]: $maxDfFraction")
    val stats = readStats(spark, path)
    val nDocs = stats.getLong(stats.fieldIndex("n_docs"))
    val totalLen = stats.getLong(stats.fieldIndex("total_len"))
    // query terms + df: the query batch broadcasts into the
    // vocabulary-sized terms scan (map-side), then the enriched result
    // (still query-sized) broadcasts into the postings scan
    val qterms = readTerms(spark, path)
      .join(broadcast(queries
        .select(col(queryId).as("query_id"),
          explode(TextFunctions.tokens(col(queryText))).as("term"))
        .distinct()), "term")
      .filter(col("df").cast("double") <=
        lit(maxDfFraction) * lit(nDocs.toDouble))
    // scoring projection: the EXACT op sequence of Bm25.topK with
    // n_docs/total_len as literals carrying the same values — IEEE
    // double ops are value-functions, so the scores are bit-identical
    val contrib = spark.table(table)
      .join(broadcast(qterms), "term")
      .withColumn("__c", round(
        log((lit(nDocs.toDouble) - col("df").cast("double")
            + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
          * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl").cast("double")
              * lit(nDocs.toDouble)
              / lit(totalLen.toDouble))), 6)
        .cast("decimal(18,6)"))
    val scored = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).cast("decimal(18,6)").as("score"))
    TopPerGroup.topN(scored, "query_id", "score", "doc_id", k)
      .withColumn("score", col("score").cast("double"))
  }
}
