package graft.queries

import graft.Tables
import graft.similarity.Cosine
import org.apache.spark.sql.functions._

/** Embedding similarity-search queries (C3/C4) over `embeddings`
  * (64-d float vectors). Exact variants carry DuckDB oracles
  * (list_dot_product); the LSH/ANN path is recall-tested in ScalaTest.
  */
object SimilarityQueries extends Registry {

  val queries: Map[String, Q] = Map(
    // C4: query-vector → table top-k (the retrieval primitive).
    "c4_cosine_topk" -> ((s, d) =>
      Cosine.topK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryId = 1L, k = 20)),
    // C3: all-pairs top-k within label buckets over a deterministic
    // sample — the oracle-able exact slice of the self-join.
    "c3_cosine_selfjoin" -> ((s, d) =>
      Cosine.selfJoinTopK(
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(10)) === 0),
        "vec_id", "embedding", "label", k = 3)),
    // C3 at scale: LSH-bucketed approximate neighbors over the full
    // table (recall vs exact tested in ScalaTest; driver rows-check).
    "c3_ann_topk" -> ((s, d) =>
      Cosine.annTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, k = 3)),
    // C3: hard-negative mining — per anchor, the most-similar
    // CROSS-LABEL examples (the negatives a contrastive batch needs;
    // random negatives are separable and teach nothing). The anchor
    // side is a FIXED batch (vec_id < 50 — constant under corpus
    // growth, matching the bounded-batch contract); one corpus scan,
    // exact oracle.
    "c3_hard_negatives" -> ((s, d) =>
      graft.similarity.HardNegatives.mine(Tables.embeddings(s, d),
        "vec_id", "embedding", "label",
        col("vec_id") < 50, k = 5)),
    // C4: Matryoshka truncation recall — recall@10 of prefix-dim
    // cosine search (8/16/32 dims) vs the 64-dim ground truth over a
    // fixed anchor batch: the measurement before serving a truncated
    // index at a fraction of the memory. Exact everywhere → oracle.
    "c4_matryoshka_recall" -> ((s, d) =>
      graft.similarity.MatryoshkaEval.truncationRecall(
        Tables.embeddings(s, d), "vec_id", "embedding",
        col("vec_id") < 20, dims = Seq(8, 16, 32), fullDim = 64,
        k = 10)),
    // C3: simplified silhouette — per-cluster fit quality under the
    // k-means model ((b−a)/max over the two nearest centroids, one
    // scan through the native CentroidTopK). The k-picker / degenerate
    // -cluster flag; rows+spec like the k-means family.
    "c3_silhouette" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = graft.ml.KMeansLloyd.fit(emb, "vec_id", "embedding",
        k = 8, iters = 5)
      graft.ml.ClusterQuality.silhouette(emb, "vec_id", "embedding", model)
    }),
    // C3: IVF variant — k-means coarse cells as the data-adaptive
    // bucketing, cells self-sized to ≈√n, multi-probe (recall tested
    // on clustered data in CosineSpec).
    "c3_ivf_topk" -> ((s, d) =>
      Cosine.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 3)),
    // C3: the COMPOSED serving layout — IVF cells × PQ codes (FAISS
    // IVFPQ): build the bucketed cell table carrying m-byte codes +
    // unit vectors, probe cells, ADC-score candidates from CODES ONLY
    // (column pruning drops the vectors from the scoring scan —
    // IvfPqSpec asserts the ReadSchema), exact-cosine re-rank of the
    // shortlist. Rows-only (model state); 0.77 measured recall@3 at
    // nProbe=3 with the 0.7 floor spec-pinned.
    "c3_ivfpq_serve" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val (tbl, tmp) = indexScratch(d, "graft_ivfpq_serve_vectors")
      graft.similarity.IvfPq.write(embs, "vec_id", "embedding", dim = 64,
        table = tbl, path = tmp, numCentroids = 8, fitSample = 2000,
        numBuckets = 8)
      graft.similarity.IvfPq.topK(s, tbl, tmp,
        embs.filter(col("vec_id") < 50), "vec_id", "embedding",
        dim = 64, k = 10, nProbe = 2)
    }),
    // C3: product quantization — 32× code compression + ADC shortlist
    // + exact grid re-rank (FAISS serving recipe). Deterministic end to
    // end (grid Lloyd codebooks, BIGINT ADC tables) but the codebooks
    // are model state, so rows-only; ProductQuantizeSpec pins the 0.7
    // recall@10 floor and exact re-rank distances.
    "c3_pq_topk" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      // codebooks train on a bounded sample with few Lloyd rounds (the
      // FAISS posture — stable buckets, not a converged optimum): at
      // any corpus size the fit cost is 8 subspaces × 2 bounded
      // iterations; ADC + re-rank is where the corpus is touched
      val cb = graft.similarity.ProductQuantize.fit(
        embs, "vec_id", "embedding", dim = 64, m = 8, ksub = 16,
        iters = 2, fitSample = 2000)
      graft.similarity.ProductQuantize.adcTopK(embs, "vec_id", "embedding",
        embs.filter(col("vec_id") < 10), "vec_id", "embedding", cb, k = 10)
    }),
    // C3: the SERVING shape — build the persisted IVF index (bucketed
    // vector table + centroids), then answer a 100-query batch from it
    // with no re-fit and zero Exchange on the index side. Rows-only
    // (served ≡ recompute is IvfIndexSpec-pinned); the build cost is
    // deliberately inside the timed query so the bench row carries the
    // full build+serve story (`graft.tools.Profile c3_ivf_serve` splits
    // the two: build = index write, action = serve).
    "c3_ivf_serve" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      // Query batch is a key PREDICATE, not limit(100) — LIMIT without
      // ORDER BY picks rows by scan-split order and would flap with
      // partition planning.
      val (tbl, tmp) = indexScratch(d, "graft_ivf_serve_vectors")
      graft.similarity.IvfIndex.write(embs, "vec_id", "embedding",
        table = tbl, path = tmp)
      graft.similarity.IvfIndex.topK(s, tbl,
        tmp, embs.filter(col("vec_id") < 100), "vec_id", "embedding", k = 10)
    }),
    // C2/north star: embedding-cosine near-dup removal. Projected to
    // scalar columns — the driver's pandas canonicalization cannot
    // sort/hash an array<float> column (the one red row of round 1).
    // Threshold sits above the corpus's random-pair tail (p99.9 ≈ 0.38,
    // max ≈ 0.51 at sf0.01): round 1's 0.25 was BELOW p99, which chained
    // a third of all pairs into one giant cluster and "deduped" the
    // table down to 2 rows.
    "c2_embedding_dedup" -> ((s, d) =>
      graft.dedup.EmbeddingDedup.dedup(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, threshold = 0.45)
        .select(col("vec_id"), col("label"))),
    // C2: SemDeDup (Abbas et al. 2023) — k-means cluster blocking +
    // within-cluster cosine dedup, survivor = farthest-from-centroid.
    // The third near-dup blocking strategy (lexical bands, LSH
    // sketches, semantic clusters); rows+spec like its family. k SIZES
    // WITH THE CORPUS (n/64, floor 8) — the published Σ|cluster|² cost
    // only holds when cluster size is held bounded, and the 10× probe
    // runs this query verbatim.
    "c2_semdedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val k = math.max(8L, emb.count() / 64L).toInt
      graft.dedup.SemDedup.dedup(emb, "vec_id", "embedding",
        k = k, tau = 0.45)
        .select(col("vec_id"), col("label"))
    }),
    // C3: int8 scalar quantization — per-vector scale, quantized
    // codes, and the reconstruction-error bound a serving index would
    // monitor. Within-row arithmetic only → exact oracle.
    "c3_quantized_vectors" -> ((s, d) => {
      val q = graft.similarity.Quantize.scalarQuantize(
        Tables.embeddings(s, d), "embedding")
      val v = col("embedding").cast("array<double>")
      val recon = graft.similarity.Quantize.dequantize(col("q"), col("q_scale"))
      // error computed BEFORE the output select: aliasing the rounded
      // scale as "q_scale" in the same projection would shadow the
      // name, and the error expression would silently dequantize with
      // the ROUNDED scale (observed: max_err off by 1e-8 vs the oracle)
      q.withColumn("__max_err",
          array_max(zip_with(v, recon, (x, r) => abs(x - r))))
        .select(col("vec_id"), col("label"),
          round(col("q_scale"), 9).as("q_scale"),
          round(col("__max_err"), 9).as("max_err"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + abs(x)).as("q_l1"))
    }),
    // C3: kNN label classification — the embedding-quality eval op:
    // predict each sampled vector's label from the majority label of
    // its 5 nearest neighbors (cosine, neighbors from the same sample,
    // self excluded); ties break (votes desc, label asc). Eval sets
    // are small by construction, so the all-pairs join is the honest
    // shape here — the LSH/IVF paths serve the full-corpus case.
    "c3_knn_classify" -> ((s, d) => {
      val sample = Tables.embeddings(s, d)
        .filter(pmod(col("vec_id"), lit(10)) === 0)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("__v"))
      val a = sample.select(col("vec_id").as("a"), col("label").as("label_true"),
        col("__v").as("__va"))
      val b = sample.select(col("vec_id").as("b"), col("label").as("label_b"),
        col("__v").as("__vb"))
      val wN = org.apache.spark.sql.expressions.Window
        .partitionBy(col("a")).orderBy(col("score").desc, col("b").asc)
      val wV = org.apache.spark.sql.expressions.Window
        .partitionBy(col("a")).orderBy(col("votes").desc, col("label_b").asc)
      a.join(b, col("a") =!= col("b"))
        .withColumn("score", round(Cosine.cosine(col("__va"), col("__vb")), 6))
        .withColumn("__rk", row_number().over(wN))
        .filter(col("__rk") <= 5)
        .groupBy(col("a"), col("label_true"), col("label_b"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("__vr", row_number().over(wV))
        .filter(col("__vr") === 1)
        .select(col("a").as("vec_id"), col("label_true"),
          col("label_b").as("label_pred"),
          (col("label_b") === col("label_true")).cast("bigint").as("correct"))
    }),
    // C3/C4: hybrid retrieval (HybridSearch.scala) — lexical term-
    // frequency score fused 50/50 with cosine against the vec_id=1
    // query embedding, top-20 by the fused score. Docs pair with
    // vectors by id. Fully deterministic → exact oracle.
    "c3_hybrid_search" -> ((s, d) =>
      graft.similarity.HybridSearch.search(
        Tables.documents(s, d),
        Tables.embeddings(s, d).withColumnRenamed("vec_id", "doc_id"),
        "doc_id", "text", "embedding",
        terms = Seq("spark", "join", "merge"), queryId = 1L, k = 20)),
    // C3: BM25 ranked lexical retrieval (text.Bm25) — docs below id 10
    // play the QUERY batch (an eval set probing the corpus), the rest
    // the corpus; top-5 per query. No df-stopping here: the synthetic
    // corpus has a ~31-term vocabulary where all but one term sit in
    // >50% of docs, so any stopping fraction ≤0.8 empties the
    // candidate set (measured; the knob is exercised on controlled
    // data in Bm25Spec instead). Deterministic on the 6-dp decimal
    // grid → exact oracle.
    "c3_bm25_retrieval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.Bm25.topK(
        docs.filter(col("doc_id") >= 10), "doc_id", "text",
        docs.filter(col("doc_id") < 10), "doc_id", "text",
        k = 5)
    }),
    // C3: OFFLINE RETRIEVAL EVAL — recall@5 / MRR@5 / nDCG@5 of the
    // BM25 run against deterministic judgments (relevant = corpus
    // docs sharing the query doc's (lang, source)); DCG gains on the
    // 1e-9 integer grid so the folds are order-free, ratios on the
    // 6-dp floor grid. The measurement leg of the retrieval stack.
    "c3_retrieval_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val run = graft.text.Bm25.topK(
        docs.filter(col("doc_id") >= 10), "doc_id", "text",
        docs.filter(col("doc_id") < 10), "doc_id", "text",
        k = 5)
      val qrels = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("lang"), col("source"))
        .join(docs.filter(col("doc_id") >= 10)
          .select(col("doc_id"), col("lang"), col("source")),
          Seq("lang", "source"))
        .select(col("query_id"), col("doc_id"))
      graft.similarity.RetrievalEval.metrics(run, qrels, k = 5)
    }),
    // C3: lexical SERVING shape — persist the inverted index (bucketed
    // postings + 1-row stats), then answer the query batch from it
    // (df counted from the bucket-pruned postings scan).
    // Served scores are bit-identical to the one-shot recompute, so
    // this sits under the SAME exact DuckDB oracle as c3_bm25_retrieval
    // — the strongest correctness statement of the three persisted
    // indexes (IVF and MinHash serve under rows+spec).
    "c3_bm25_serve" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (tbl, tmp) = indexScratch(d, "graft_bm25_serve_postings")
      graft.text.LexicalIndex.write(docs.filter(col("doc_id") >= 10),
        "doc_id", "text", table = tbl, path = tmp, numBuckets = 8)
      graft.text.LexicalIndex.topK(s, tbl, tmp,
        docs.filter(col("doc_id") < 10), "doc_id", "text", k = 5)
    }),
    // C3: INCREMENTAL index maintenance — the nightly-batch shape the
    // build-once indexes lacked: build on 3/4 of the corpus, MERGE the
    // remaining quarter (postings append + 1-row stats rewrite — cost
    // scales with the batch, never the indexed corpus or its
    // vocabulary), then serve. Every persisted aggregate is
    // additive over disjoint doc sets, so (build ∪ merge) ≡ one-shot
    // rebuild BIT-EXACT — same DuckDB oracle as the full-corpus serve.
    "c3_bm25_serve_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (tbl, tmp) = indexScratch(d, "graft_bm25_incr_postings")
      graft.text.LexicalIndex.write(
        docs.filter(col("doc_id") >= 10 && pmod(col("doc_id"), lit(4)) =!= 0),
        "doc_id", "text", table = tbl, path = tmp, numBuckets = 8)
      graft.text.LexicalIndex.merge(s, tbl, tmp,
        docs.filter(col("doc_id") >= 10 && pmod(col("doc_id"), lit(4)) === 0),
        "doc_id", "text", numBuckets = 8)
      graft.text.LexicalIndex.topK(s, tbl, tmp,
        docs.filter(col("doc_id") < 10), "doc_id", "text", k = 5)
    }),
    // C3: per-label centroids (the IVF/k-NN-classify building block) —
    // posexplode to (label, dim, v), then an ORDER-INSENSITIVE exact
    // mean: elements rounded to the 6-dp grid (tie-free for binary
    // fractions — a double can never sit exactly on a half-ulp of a
    // decimal grid) and summed as DECIMAL, so Spark's partial aggs and
    // DuckDB's single-threaded sum agree bit-for-bit.
    "c3_label_centroids" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding").cast("array<double>")))
        .toDF("label", "dim", "v")
        .groupBy(col("label"), col("dim").cast("bigint").as("dim"))
        .agg((sum(round(col("v"), 6).cast("decimal(28,6)")).cast("double") /
              count(lit(1))).as("centroid"),
             count(lit(1)).as("n_vecs"))),
    // C3: exact k-means assignment step (graft.ml.KMeansLloyd) — the
    // integer micro-unit grid makes every distance a BIGINT, so the
    // full argmin (ties → lower cluster id) sits under the oracle
    // bit-for-bit. Initial centroids = the 8 lowest-id vectors.
    "c3_kmeans_assign" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val init = graft.ml.KMeansLloyd.initialCentroids(
        emb, "vec_id", "embedding", k = 8)
      graft.ml.KMeansLloyd.assignExact(emb, "vec_id", "embedding", init)
    }),
    // C3: full distributed Lloyd fit (5 iterations) — deterministic by
    // construction (integer-grid updates, RNG-free seeding) but the
    // real-valued centroids of iterations ≥ 2 aren't SQL-portable, so
    // the driver records rows-only; KMeansSpec pins the semantics
    // (≡ driver-side reference run, layout invariance, inertia
    // monotonicity).
    "c3_kmeans" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = graft.ml.KMeansLloyd.fit(emb, "vec_id", "embedding",
        k = 8, iters = 5)
      graft.ml.KMeansLloyd.transform(emb, "vec_id", "embedding", model)
        .select(col("vec_id"), col("cluster"), round(col("d2"), 3).as("d2"))
    }),
    // D208b: ROC-AUC by the rank-sum identity (tie-exact 2U over the
    // distinct-score axis, the Mann–Whitney fold) — per segment, how
    // well embedding dim 1 separates labels 0–4 from 5–9. The
    // threshold-free metric the Brier/calibration family lacked.
    "d112_auc" -> ((s, d) => {
      val rows = Tables.embeddings(s, d).select(
        pmod(col("vec_id"), lit(2L)).cast("string").as("seg"),
        (col("label") < 5).cast("int").as("label"),
        (floor(element_at(col("embedding"), 1).cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("score"))
      graft.operators.RankEval.auc(rows, "label", "score", Seq("seg"))
    }),
    // D203: embedding-space drift — per-dim mean/var/shift between two
    // snapshots (even vec_ids vs odd vec_ids with a planted +0.05
    // shift) + the one-row summary (mean-vector cosine, shift L2);
    // exact decimal folds per dim, cross-dim terms on the 1e-9 grid.
    // The read that triggers the IvfIndex re-fit policy.
    "d110_embedding_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val a = emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
      val b = emb.filter(pmod(col("vec_id"), lit(2L)) === 1)
        .select(transform(col("embedding"),
          x => x.cast("double") + lit(0.05)).as("embedding"))
      graft.similarity.EmbeddingDrift.perDim(a, b, "embedding")
    }),
    "d110_embedding_drift_summary" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val a = emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
      val b = emb.filter(pmod(col("vec_id"), lit(2L)) === 1)
        .select(transform(col("embedding"),
          x => x.cast("double") + lit(0.05)).as("embedding"))
      graft.similarity.EmbeddingDrift.summary(
        graft.similarity.EmbeddingDrift.perDim(a, b, "embedding"))
    }),
    // D147: exact covariance of the embedding space — the ORACLE shape
    // of the PCA family (6-dp floor-portable quantization → exact
    // decimal product folds). Audit-priced: O(n·d²) pair rows through
    // one shuffle; the corpus path is Pca.fit's treeAggregate.
    "d76_covariance" -> ((s, d) =>
      graft.similarity.Pca.covarianceExact(
        Tables.embeddings(s, d), "embedding", idCol = Some("vec_id"))),
    // C4: PCA fit + native-expression projection — one treeAggregate
    // pass to (n, Σx, Σxxᵀ), driver Jacobi on the 64×64, then
    // ProjectAffine scores every vector (k·d primitive flops/row).
    // Float-sum combine order → rows-only; PcaSpec pins fit ≡ the
    // exact-covariance eigensolve and projection ≡ driver matmul.
    "c4_pca_project" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = graft.similarity.Pca.fit(emb, "embedding", k = 8)
      graft.similarity.Pca.project(emb, "embedding", model,
          Seq("vec_id", "label"))
        .select(col("vec_id"), col("label"),
          round(element_at(col("pc"), 1), 6).as("pc1"),
          round(element_at(col("pc"), 2), 6).as("pc2"),
          round(element_at(col("pc"), 3), 6).as("pc3"))
    }),
  )

  /** Shared cosine SQL: round(dot/(|a||b|), 6) with zero-denominator
    * guard, mirroring Cosine.cosine's expression shape. */
  private def cosSql(a: String, b: String): String =
    s"""round(CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0
       |  THEN 0.0e0
       |  ELSE list_dot_product($a, $b)
       |       / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))
       |  END, 6)""".stripMargin

  val oracle: Map[String, String] = Map(
    "d76_covariance" -> graft.similarity.Pca.sqlCovarianceExact(
      "SELECT vec_id AS rid, embedding AS v FROM embeddings"),
    "d112_auc" -> graft.operators.RankEval.sqlAuc(
      """SELECT CAST(vec_id % 2 AS VARCHAR) AS seg,
           CAST(label < 5 AS INT) AS label,
           floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5e0) / 1e6
             AS score
         FROM embeddings""", Seq("seg")),
    "d110_embedding_drift" -> graft.similarity.EmbeddingDrift.sqlPerDim(
      "SELECT embedding AS v FROM embeddings WHERE vec_id % 2 = 0",
      """SELECT list_transform(embedding,
           x -> CAST(x AS DOUBLE) + 0.05e0) AS v
         FROM embeddings WHERE vec_id % 2 = 1"""),
    "d110_embedding_drift_summary" ->
      graft.similarity.EmbeddingDrift.sqlSummary(
        "SELECT embedding AS v FROM embeddings WHERE vec_id % 2 = 0",
        """SELECT list_transform(embedding,
             x -> CAST(x AS DOUBLE) + 0.05e0) AS v
           FROM embeddings WHERE vec_id % 2 = 1"""),
    "c3_retrieval_eval" -> graft.similarity.RetrievalEval.sqlMetrics(
      graft.text.Bm25.sql(
        "SELECT doc_id, text FROM documents WHERE doc_id >= 10",
        "SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 10",
        k = 5),
      """SELECT q.doc_id AS query_id, c.doc_id
         FROM documents q JOIN documents c
           ON q.lang = c.lang AND q.source = c.source
         WHERE q.doc_id < 10 AND c.doc_id >= 10""",
      k = 5),
    "c3_bm25_retrieval" -> graft.text.Bm25.sql(
      "SELECT doc_id, text FROM documents WHERE doc_id >= 10",
      "SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 10",
      k = 5),
    // identical oracle: serving from the persisted index ≡ recompute
    "c3_bm25_serve" -> graft.text.Bm25.sql(
      "SELECT doc_id, text FROM documents WHERE doc_id >= 10",
      "SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 10",
      k = 5),
    // identical oracle again: (build ∪ incremental merge) ≡ a one-shot
    // index of the UNION corpus ≡ the recompute — the merge is exact
    "c3_bm25_serve_incr" -> graft.text.Bm25.sql(
      "SELECT doc_id, text FROM documents WHERE doc_id >= 10",
      "SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 10",
      k = 5),
    "c4_cosine_topk" -> s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1),
      scored AS (
        SELECT vec_id, ${cosSql("embedding::DOUBLE[]", "qv")} AS score
        FROM embeddings, q WHERE vec_id != 1)
      SELECT vec_id, score FROM scored
      ORDER BY score DESC, vec_id ASC LIMIT 20""",
    "c4_matryoshka_recall" ->
      graft.similarity.MatryoshkaEval.sqlTruncationRecall(
        "SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings",
        anchorPredSql = "{} < 20", dims = Seq(8, 16, 32), fullDim = 64,
        k = 10),
    "c3_hard_negatives" -> s"""
      WITH anc AS (SELECT vec_id AS a, label AS a_label,
                     embedding::DOUBLE[] AS va
                   FROM embeddings WHERE vec_id < 50),
      corp AS (SELECT vec_id AS b, label AS b_label,
                 embedding::DOUBLE[] AS vb
               FROM embeddings),
      scored AS (
        SELECT a, b, a_label, b_label, ${cosSql("va", "vb")} AS score
        FROM anc JOIN corp ON a_label != b_label),
      ranked AS (
        SELECT a, b, a_label, b_label, score,
          CAST(row_number() OVER (PARTITION BY a
            ORDER BY score DESC, b ASC) AS BIGINT) AS rank
        FROM scored)
      SELECT a, b, a_label, b_label, score, rank
      FROM ranked WHERE rank <= 5""",
    "c3_cosine_selfjoin" -> s"""
      WITH s AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                 FROM embeddings WHERE vec_id % 10 = 0),
      scored AS (
        SELECT l.vec_id AS a, r.vec_id AS b, ${cosSql("l.v", "r.v")} AS score
        FROM s l JOIN s r ON l.label = r.label AND l.vec_id != r.vec_id),
      ranked AS (
        SELECT a, b, score,
          row_number() OVER (PARTITION BY a ORDER BY score DESC, b ASC) AS rank
        FROM scored)
      SELECT a, b, score, rank FROM ranked WHERE rank <= 3""",
    "c3_quantized_vectors" -> """
      WITH s AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
          list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS sc
        FROM embeddings
      ), q AS (
        SELECT vec_id, label, v, sc,
          CASE WHEN sc = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
               ELSE list_transform(v, x -> CAST(round(x / sc) AS BIGINT)) END AS qv
        FROM s
      )
      SELECT vec_id, label, round(sc, 9) AS q_scale,
        round(list_max(list_transform(range(1, len(v) + 1),
          i -> abs(v[i] - qv[i] * sc))), 9) AS max_err,
        CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
      FROM q""",
    "c3_label_centroids" -> """
      SELECT label, CAST(t.i - 1 AS BIGINT) AS dim,
        CAST(sum(CAST(round(v[t.i], 6) AS DECIMAL(28,6))) AS DOUBLE)
          / count(*) AS centroid,
        count(*) AS n_vecs
      FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
           LATERAL unnest(range(1, len(v) + 1)) AS t(i)
      GROUP BY label, t.i""",
    "c3_knn_classify" -> s"""
      WITH s AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id % 10 = 0
      ), scored AS (
        SELECT l.vec_id AS a, l.label AS label_true,
          r.vec_id AS b, r.label AS label_b,
          ${cosSql("l.v", "r.v")} AS score
        FROM s l JOIN s r ON l.vec_id != r.vec_id
      ), nn AS (
        SELECT a, label_true, label_b,
          row_number() OVER (PARTITION BY a ORDER BY score DESC, b ASC) AS rk
        FROM scored
      ), votes AS (
        SELECT a, label_true, label_b, count(*) AS votes
        FROM nn WHERE rk <= 5 GROUP BY a, label_true, label_b
      ), picked AS (
        SELECT a, label_true, label_b,
          row_number() OVER (PARTITION BY a
            ORDER BY votes DESC, label_b ASC) AS vr
        FROM votes)
      SELECT a AS vec_id, label_true, label_b AS label_pred,
        CAST(label_b = label_true AS BIGINT) AS correct
      FROM picked WHERE vr = 1""",
    "c3_hybrid_search" -> {
      val toksSql = TextQueries.sqlToks("text")
      s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1),
      t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      l AS (
        SELECT doc_id, round(CASE WHEN len(toks) = 0 THEN 0.0e0
          ELSE CAST(len(list_filter(toks,
                 t -> list_contains(['spark', 'join', 'merge'], t))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) END, 6) AS lex_score
        FROM t),
      s AS (
        SELECT l.doc_id, l.lex_score,
          ${cosSql("e.embedding::DOUBLE[]", "qv")} AS dense_score
        FROM l JOIN embeddings e ON e.vec_id = l.doc_id, q
        WHERE l.doc_id != 1)
      SELECT doc_id, lex_score, dense_score,
        round(lex_score * 0.5e0 + dense_score * 0.5e0, 6) AS score
      FROM s ORDER BY score DESC, doc_id ASC LIMIT 20"""
    },
    // c3_ann_topk: hyperplane constants impractical to embed portably —
    // recall tested against the exact baseline in CosineSpec.
    // c3_kmeans: iteration-2+ centroids are driver-computed reals — not
    // SQL-expressible; pinned by KMeansSpec instead (≡ driver
    // reference, layout invariance, inertia decreasing).
    "c3_kmeans_assign" -> """
      WITH q AS (
        SELECT vec_id,
          list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        FROM embeddings
      ), c AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
        FROM q ORDER BY vec_id LIMIT 8
      ), d AS (
        SELECT q.vec_id, c.cid,
          CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
        FROM q CROSS JOIN c
      )
      SELECT vec_id, CAST(cid AS BIGINT) AS cluster, dist AS d2
      FROM (SELECT vec_id, cid, dist,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cid) AS rn
            FROM d)
      WHERE rn = 1""",
  )
}
