package perfbench

import java.io.File

import graft.dedup.{Dedup, MinHashDedup, SemDedup}
import graft.similarity.IvfIndex
import graft.text.{Bm25, LexicalIndex}
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable

/** The LLM-data pipeline from raw corpus to served index. The build
  * pass deduplicates a document corpus (exact, then MinHash) and an
  * embedding set (SemDeDup), both seeded with planted exact and near
  * copies and written as several files, then indexes the survivors as a
  * LexicalIndex and an IvfIndex. A single-threaded closed-loop client
  * then issues hybrid-retrieval requests (one lexical and one vector
  * single-query top-k read) and, every tenth operation, a small
  * incremental merge into both. The build is shuffle and connected-components
  * heavy; each read or merge is several small Spark jobs, so per-job
  * driver latency dominates it, and every merge adds files that later
  * reads open. */
final class CurateServe(run: Run) extends Workload {
  import CurateServe._

  private val spark = run.spark
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var builds = 0
  /** Survivor frames of every build: (documents, embeddings). */
  private val survivors = mutable.ArrayBuffer[(DataFrame, DataFrame)]()
  // the served (last) build's survivors, which its index holds
  private var keptDocs: DataFrame = _
  private var keptVecs: Array[(Long, Array[Double])] = _

  private var newDocs: Array[Row] = _
  private var newVecs: Array[Row] = _
  private var textQueries: Array[Row] = _
  private var vecQueries: Array[Row] = _
  private var merges = 0
  /** (query index, merges before it, (doc_id, score, rank) rows) */
  private val textReads = mutable.ArrayBuffer[(Int, Int, Seq[(Long, Double, Long)])]()
  /** (query index, merges before it, neighbour ids) */
  private val vecReads = mutable.ArrayBuffer[(Int, Int, Seq[Long])]()

  private def read(n: String) = spark.read.parquet(s"${run.dataDir}/inputs/$n")

  def setup(): Unit = {
    docs = read("documents")
    vecs = read("embeddings")
    docs.createOrReplaceTempView("documents")
    vecs.createOrReplaceTempView("embeddings")
  }

  private def frame(rows: Seq[Row], like: Array[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), like.head.schema)

  private def lex(b: Int) = (s"lex$b", s"${run.workDir}/index/lex$b")
  private def ivf(b: Int) = (s"ivf$b", s"${run.workDir}/index/ivf$b")

  /** The build pass: curate both inputs, index the survivors. Each
    * step's output is materialized, so its work lands in its own span. */
  private def build(): Int = run.tracer.span("curate_serve.build") {
    val b = builds
    builds += 1
    val exact = run.tracer.span("dedup.exact") {
      Dedup.exact(docs, "doc_id", "text").localCheckpoint()
    }
    val d = run.tracer.span("dedup.minhash") {
      MinHashDedup.dedup(exact, "doc_id", "text").localCheckpoint()
    }
    val v = run.tracer.span("dedup.semdedup") {
      SemDedup.dedup(vecs, "vec_id", "embedding", k = SemK, tau = SemTau).localCheckpoint()
    }
    run.tracer.span("text.index_write") {
      LexicalIndex.write(d, "doc_id", "text", lex(b)._1, lex(b)._2, Buckets)
    }
    run.tracer.span("similarity.index_write") {
      IvfIndex.write(v, "vec_id", "embedding", ivf(b)._1, ivf(b)._2,
        seed = run.seed, numBuckets = Buckets)
    }
    survivors += ((d, v))
    b
  }

  private def textTopK(b: Int, q: Seq[Row]): Seq[Row] =
    LexicalIndex.topK(spark, lex(b)._1, lex(b)._2, frame(q, textQueries),
      "query_id", "text", k = K).collect().toSeq

  private def vecTopK(b: Int, q: Seq[Row]): Seq[Row] =
    IvfIndex.topK(spark, ivf(b)._1, ivf(b)._2, frame(q, vecQueries),
      "vec_id", "embedding", k = K).collect().toSeq

  private def batch(rows: Array[Row], i: Int): Array[Row] =
    rows.slice(i * BatchRows, (i + 1) * BatchRows)

  /** Held-out rows merged by the first `n` merges of one kind. */
  private def merged(rows: Array[Row], n: Int): Seq[Row] = rows.take(n * BatchRows).toSeq

  def measure(): Unit = {
    var b = -1
    run.batchPasses { b = build() }
    keptDocs = survivors.last._1
    keptVecs = survivors.last._2.collect().map(r => (r.getLong(0), unit(r.getSeq[Float](1))))
    // untimed: the client's query pools and held-out batches, and one
    // read of each kind, so the serving window starts with warm read plans
    newDocs = read("documents_new").orderBy("doc_id").collect()
    newVecs = read("embeddings_new").orderBy("vec_id").collect()
    textQueries = read("queries_text").orderBy("query_id").collect()
    vecQueries = read("queries_vec").orderBy("vec_id").collect()
    textTopK(b, Seq(textQueries(0)))
    vecTopK(b, Seq(vecQueries(0)))
    serve(b)
    grade()
    checkText(b)
    checkVectors()
    val files = new File(run.workDir, "index").listFiles()
      .filter(f => f.getName == s"lex$b" || f.getName == s"ivf$b")
      .flatMap(walk)
    val input = Seq("documents", "embeddings").flatMap(n => walk(new File(s"${run.dataDir}/inputs/$n")))
    run.gauges("sources.index_files") = files.count(_.getName.endsWith(".parquet"))
    run.gauges("sources.index_mb_per_input_mb") =
      files.map(_.length).sum.toDouble / input.map(_.length).sum
  }

  /** The closed loop. Each operation serves one hybrid-retrieval
    * request: a lexical and a vector top-k read of queries the seed
    * picks. Every tenth operation, from the second on, instead merges the
    * next held-out batch into both indexes. */
  private def serve(b: Int): Unit = {
    val rng = new scala.util.Random(run.seed)
    val start = run.now
    var i = 0
    run.phase(run.traced) {
      // the window closes on a read, so reads after the last merge exist
      while (run.now < start + run.seconds || i % 10 == 2) {
        val t = run.now
        if (i % 10 == 1 && merges < newDocs.length / BatchRows) {
          run.tracer.span("curate_serve.write") {
            run.attempt("merge") {
              run.tracer.span("text.merge") {
                LexicalIndex.merge(spark, lex(b)._1, lex(b)._2,
                  frame(batch(newDocs, merges).toSeq, newDocs), "doc_id", "text", Buckets)
              }
              run.tracer.span("similarity.merge") {
                IvfIndex.merge(spark, ivf(b)._1, ivf(b)._2,
                  frame(batch(newVecs, merges).toSeq, newVecs), "vec_id", "embedding", Buckets)
              }
              merges += 1
            }(_ => Nil)
          }
          run.ops += (("write", (run.now - t) * 1e3, run.traced))
        } else {
          val q = rng.nextInt(Queries)
          run.tracer.span("curate_serve.read") {
            run.attempt("read") {
              val text = run.tracer.span("text.topk")(textTopK(b, Seq(textQueries(q))))
              textReads += ((q, merges, text.map(r =>
                (r.getAs[Long]("doc_id"), r.getAs[Double]("score"), r.getAs[Long]("rank")))))
              val vec = run.tracer.span("similarity.topk")(vecTopK(b, Seq(vecQueries(q))))
              vecReads += ((q, merges, vec.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("b"))))
            }(_ => Nil)
          }
          run.ops += (("read", (run.now - t) * 1e3, run.traced))
        }
        i += 1
      }
    }
    run.opsWindowS = run.now - start
  }

  /** Every build's survivors against the planted groups. */
  private def grade(): Unit = {
    val docTruth = Truth.read(run, "documents")
    val vecTruth = Truth.read(run, "embeddings")
    val ids = survivors.map { case (d, v) =>
      (d.select("doc_id").collect().map(_.getLong(0)), v.select("vec_id").collect().map(_.getLong(0)))
    }
    val bad = ids.count { case (d, v) =>
      val (docRecall, docErrs) = docTruth.grade("documents", d, NearFloor)
      val (vecRecall, vecErrs) = vecTruth.grade("embeddings", v, NearFloor)
      run.gauges("dedup.near_recall_documents") = docRecall
      run.gauges("dedup.near_recall_embeddings") = vecRecall
      val errs = docErrs ++ vecErrs
      errs.foreach(e => System.err.println(s"perfbench: curate_serve build: $e"))
      errs.nonEmpty
    }
    run.fail("builds failing the dedup checks", bad)
    ids.headOption.foreach { case (d, v) =>
      run.gauges("dedup.kept_frac") = (d.length + v.length).toDouble / (docTruth.size + vecTruth.size)
    }
  }

  /** Timed lexical reads made after the last merge must equal a fresh
    * Bm25.topK over the documents the index then holds; so must one
    * batched read of every query. */
  private def checkText(b: Int): Unit = {
    val all = textQueries.toSeq
    val corpus = keptDocs.unionByName(frame(merged(newDocs, merges), newDocs))
    val want = group(Bm25.topK(corpus, "doc_id", "text", frame(all, textQueries),
      "query_id", "text", k = K).collect().toSeq)
    run.attempt("final index read vs Bm25.topK")(group(textTopK(b, all))) { got =>
      if (got == want) Nil else Seq("served top-k differs from Bm25.topK")
    }
    val checked = textReads.filter(_._2 == merges)
    run.gauges("text.checked_reads") = checked.size
    val bad = checked.count { case (q, _, rows) =>
      rows.sortBy(_._3) != want.getOrElse(textQueries(q).getLong(0), Nil)
    }
    run.fail("lexical reads differing from Bm25.topK", bad)
  }

  private def group(rows: Seq[Row]): Map[Long, Seq[(Long, Double, Long)]] =
    rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Long]("rank"))).sortBy(_._3) }

  /** recall@10 of every timed IVF read against exact cosine over the
    * vectors indexed when it ran; below the floor, all IVF reads fail. */
  private def checkVectors(): Unit = {
    val added = merged(newVecs, merges).map(r => (r.getLong(0), unit(r.getSeq[Float](1))))
    val recalls = vecReads.map { case (q, m, got) =>
      val qv = unit(vecQueries(q).getSeq[Float](1))
      val exact = (keptVecs.iterator ++ added.iterator.take(m * BatchRows))
        .map { case (id, v) => (id, dot(qv, v)) }.toSeq
        .sortBy { case (id, s) => (-s, id) }.take(K).map(_._1).toSet
      got.count(exact).toDouble / K
    }
    val recall = recalls.sum / math.max(1, recalls.size)
    run.gauges("similarity.recall_at_10") = recall
    if (recall < RecallFloor)
      run.fail(s"IVF recall@$K $recall below the floor $RecallFloor", vecReads.size)
  }
}

object CurateServe {
  // SemDeDup cluster count and cosine threshold for the 2.75k-vector set
  val SemK = 48
  val SemTau = 0.95
  /** Share of planted near-copy groups left with exactly one survivor;
    * the current code reaches 0.99-1.0 on seeds 31-40. */
  val NearFloor = 0.95
  /** Mean IVF recall@10 at the default nProbe; the current code reaches
    * 0.91-1.0 on seeds 31-40. */
  val RecallFloor = 0.8
  val K = 10
  val Buckets = 4
  val BatchRows = 25
  val Queries = 64

  private def unit(v: Seq[Float]): Array[Double] = {
    val d = v.map(_.toDouble).toArray
    val n = math.sqrt(dot(d, d))
    d.map(_ / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
}

/** Planted-duplicate ground truth for one input: the group (original's
  * id) and kind (base, exact, near) of every row, indexed by id. */
final class Truth(group: Array[Int], kind: Array[String]) {
  def size: Int = group.length

  /** Grades a survivor id set: ids unique and from the input, every
    * exact group and every unduplicated original keeps exactly one row,
    * and near groups keep exactly one at a rate (returned) of at least
    * `nearFloor`. */
  def grade(what: String, kept: Array[Long], nearFloor: Double): (Double, Seq[String]) = {
    val errs = Seq.newBuilder[String]
    if (kept.distinct.length != kept.length) errs += s"$what: duplicate survivor ids"
    if (kept.exists(i => i < 0 || i >= size)) errs += s"$what: survivor ids outside the input"
    val survivors = new Array[Int](size)
    kept.filter(i => i >= 0 && i < size).foreach(i => survivors(group(i.toInt)) += 1)
    val kindOf = Array.fill(size)("base")
    kind.indices.filter(kind(_) != "base").foreach(i => kindOf(group(i)) = kind(i))
    val roots = (0 until size).filter(i => group(i) == i)
    val exactBad = roots.count(r => kindOf(r) == "exact" && survivors(r) != 1)
    val singleBad = roots.count(r => kindOf(r) == "base" && survivors(r) != 1)
    val near = roots.filter(kindOf(_) == "near")
    val nearOk = near.count(survivors(_) == 1).toDouble / math.max(1, near.size)
    if (exactBad > 0) errs += s"$what: $exactBad exact-copy groups not reduced to one row"
    if (singleBad > 0) errs += s"$what: $singleBad unduplicated rows removed"
    if (nearOk < nearFloor) errs += s"$what: near-copy recall $nearOk < $nearFloor"
    (nearOk, errs.result())
  }
}

object Truth {
  def read(run: Run, name: String): Truth = {
    val id = if (name == "documents") "doc_id" else "vec_id"
    val rows = run.spark.read.parquet(s"${run.dataDir}/truth/$name")
      .orderBy(id).select("group", "kind").collect()
    new Truth(rows.map(_.getLong(0).toInt), rows.map(_.getString(1)))
  }
}
