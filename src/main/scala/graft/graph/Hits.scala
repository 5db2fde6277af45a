package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** HITS (hubs & authorities, Kleinberg 1998) — the BIPARTITE
  * importance read PageRank collapses: in a directed graph a good HUB
  * points at good authorities and a good AUTHORITY is pointed at by
  * good hubs. On trade/citation/link graphs the two sides are
  * different answers ("which nations BUY from everywhere" vs "which
  * nations everyone BUYS FROM"), and a rank surface with only
  * PageRank can't ask the question.
  *
  * Mutual recursion with weighted edges, fixed iterations:
  *
  *   auth_i(v) = Σ_{u→v} hub_{i-1}(u)·w,   hub_i(u) = Σ_{u→v} auth_i(v)·w
  *
  * each half-step L∞-normalized. Determinism ([[PageRank]]'s integer
  * convention): scores live on a `scale` integer grid and the
  * normalizer is `d = max(raw) DIV scale` (≥ 1 — the max raw score is
  * ≥ scale whenever the graph has an edge), so every update is pure
  * BIGINT arithmetic — order-insensitive sums, truncating division
  * identical in Spark (`DIV`) and DuckDB (`//`) — and a fixed
  * iteration count unrolls bit-exactly into the SQL oracle.
  *
  * Overflow bounds: scores ≤ ~scale (1e9 default), so a per-edge term
  * needs `w ≤ 9.2e18/1e9 ≈ 9.2e9` and per-node in/out weighted degree
  * `Σw ≤ 9.2e9` total; hotter graphs down-scale w (HITS only consumes
  * weight proportions).
  *
  * Scale shape (100 TB): edges localCheckpoint'd once; per iteration
  * TWO equi-joins of edges against a #nodes-sized score frame and two
  * partial-agg'd groupBys — one shuffle of #edges rows per half-step,
  * plus a broadcast 1-row max. No windows, no collect. */
object Hits {

  /** Driver-path edge bound for fixed-width keys when the caller passes
    * none (see the driver-heap guard on [[scores]]). */
  private val DefaultSmallGraphMaxEdges: Long = 1L << 20

  /** Iterate HITS over `edges(src, dst, w)`. Returns one row per
    * node: `(node, hub, auth)` in [0, ~scale] integer units (nodes
    * with no out-edges have hub 0; no in-edges, auth 0).
    *
    * ADAPTIVE SMALL-GRAPH PATH (the [[graft.dedup.MinHashDedup
    * .connectedComponentsConverged]] precedent): when the materialized
    * edge list holds at most `smallGraphMaxEdges` rows, the iterations
    * run on the driver — every update is an order-insensitive BIGINT
    * sum and a truncating division, so the driver loop is the
    * distributed rounds' bit-exact twin (HitsSpec asserts equality),
    * while skipping `iterations × (2 joins + 2 aggs + a checkpoint)`
    * of tiny-frame scheduler round-trips. Aggregated graphs (nation
    * trade, domain link graphs) are typically orders of magnitude
    * smaller than the corpus that produced them; pass
    * `smallGraphMaxEdges = 0` to force the distributed rounds.
    *
    * DRIVER-HEAP GUARD: the default bound (any negative
    * `smallGraphMaxEdges`) is 2^20 edges for fixed-width node keys
    * (ints/longs — the aggregated-graph shape). For variable-width
    * keys (strings, structs) the collected Rows plus the per-iteration
    * score maps can be an order of magnitude heavier per edge, so the
    * default drops to 2^17. An explicit bound is used as given —
    * lower it (or pass 0) for graphs with very wide keys on a small
    * driver.
    *
    * OVERFLOW PARITY NOTE: the driver twin folds each node's incoming
    * contributions sequentially with Math.addExact; the distributed
    * partial aggregation adds in a different order, so with
    * mixed-sign products near the Long bound one path can overflow an
    * INTERMEDIATE sum the other never forms. Parity (including
    * failure parity) is guaranteed only while Σ|hub(u)·w| per node
    * stays under 2^63 — the documented weight-scale contract above. */
  def scores(edgesIn: DataFrame, iterations: Int,
             scale: Long = 1000000000L,
             smallGraphMaxEdges: Long = -1L): DataFrame = {
    require(iterations >= 1 && scale > 0)
    // weights must be INTEGRAL: a silent cast('long') would truncate
    // w<1 to 0 (edge contributes nothing), contradicting the
    // down-scale contract above — fail loudly on fractional input
    // (callers re-quantize, e.g. ×1000, before down-scaling).
    // NULL is checked FIRST (a null `when` condition would fall
    // through to `otherwise` with a misleading "must be integral ...
    // got null"); and |w| ≥ 2^53 is rejected explicitly — above that
    // the double==long round-trip can no longer detect truncation
    // (every long maps onto some representable double).
    val wChecked = when(col("w").isNull,
        raise_error(lit("Hits: edge weight must not be null "
          + "(filter or default null-weight edges upstream)"))
          .cast("long"))
      .when(abs(col("w").cast("double")) >= lit(9007199254740992.0),
        raise_error(concat(
          lit("Hits: |edge weight| >= 2^53 loses integer precision in "
            + "double (down-scale weights upstream), got "),
          col("w").cast("string"))).cast("long"))
      .when(
        col("w").cast("double") === col("w").cast("long").cast("double"),
        col("w").cast("long"))
      .otherwise(raise_error(concat(
        lit("Hits: edge weight must be integral (re-quantize fractional "
          + "weights, e.g. round(w*1000)), got "),
        col("w").cast("string"))).cast("long"))
    val edges = edgesIn.select(col("src"), col("dst"),
      wChecked.as("w")).localCheckpoint()
    // variable-width keys weigh far more per collected edge than the
    // fixed-width aggregated-graph shape the default bound was sized
    // for — scale the DEFAULT row bound down (see the driver-heap
    // guard note); an explicit bound stays authoritative
    val fixedWidthKeys = Seq(edges.schema(0), edges.schema(1)).forall(
      _.dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.BooleanType => true
        case _ => false
      })
    val effectiveMax =
      if (smallGraphMaxEdges >= 0) smallGraphMaxEdges
      else if (fixedWidthKeys) DefaultSmallGraphMaxEdges
      else DefaultSmallGraphMaxEdges / 8
    if (effectiveMax > 0 && edges.count() <= effectiveMax) {
      val d = driverScores(edges, iterations, scale)
      if (d.isDefined) return d.get
    }
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    var hub = nodes.withColumn("hub", lit(scale))
    var auth: DataFrame = null
    for (i <- 1 to iterations) {
      val rawA = edges
        .join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("hub * w")).as("__ra"))
      val dA = rawA.agg(
        expr(s"greatest(max(__ra) DIV ${scale}L, 1L)").as("__d"))
      auth = nodes
        .join(rawA, Seq("node"), "left")
        .crossJoin(broadcast(dA))
        .select(col("node"),
          expr("coalesce(__ra, 0L) DIV __d").as("auth"))
      val rawH = edges
        .join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(expr("auth * w")).as("__rh"))
      val dH = rawH.agg(
        expr(s"greatest(max(__rh) DIV ${scale}L, 1L)").as("__d"))
      hub = nodes
        .join(rawH, Seq("node"), "left")
        .crossJoin(broadcast(dH))
        .select(col("node"),
          expr("coalesce(__rh, 0L) DIV __d").as("hub"))
      if (i < iterations) { hub = hub.localCheckpoint() }
      else auth = auth.localCheckpoint()
    }
    hub.join(auth, "node")
  }

  /** The driver twin of the distributed rounds — collected edges, the
    * SAME arithmetic: order-insensitive Long sums per half-step,
    * `greatest(max DIV scale, 1)` normalizer, truncating Long
    * division (IntegralDivide's quot). Sums/products use
    * add/multiplyExact so a caller past the documented weight bounds
    * fails LOUDLY (ArithmeticException) exactly where the distributed
    * rounds fail under ANSI overflow — never a silent wrap. None when
    * the edge set is empty or [[GraphDriver.collectEdges]] declines
    * (type mismatch / binary keys / null keys — the distributed path
    * handles those). */
  private def driverScores(edges: DataFrame, iterations: Int,
                           scale: Long): Option[DataFrame] = {
    val rows = GraphDriver.collectEdges(edges).getOrElse(return None)
    if (rows.isEmpty) return None
    val srcF = edges.schema("src")
    val dstF = edges.schema("dst")
    val es = rows.map(r => (r.get(0), r.get(1), r.getLong(2)))
    val nodes: Array[Any] =
      (es.map(_._1) ++ es.map(_._2)).distinct.toArray
    var hub = nodes.map(n => n -> scale).toMap
    var auth: Map[Any, Long] = Map.empty
    for (_ <- 1 to iterations) {
      val rawA = scala.collection.mutable.Map[Any, Long]()
      es.foreach { case (u, v, w) =>
        rawA(v) = Math.addExact(rawA.getOrElse(v, 0L),
          Math.multiplyExact(hub(u), w)) }
      val dA = math.max(rawA.values.max / scale, 1L)
      auth = nodes.map(n => n -> rawA.getOrElse(n, 0L) / dA).toMap
      val rawH = scala.collection.mutable.Map[Any, Long]()
      es.foreach { case (u, v, w) =>
        rawH(u) = Math.addExact(rawH.getOrElse(u, 0L),
          Math.multiplyExact(auth(v), w)) }
      val dH = math.max(rawH.values.max / scale, 1L)
      hub = nodes.map(n => n -> rawH.getOrElse(n, 0L) / dH).toMap
    }
    val spark = edges.sparkSession
    val schema = StructType(Seq(
      StructField("node", srcF.dataType, srcF.nullable || dstF.nullable),
      StructField("hub", LongType, nullable = true),
      StructField("auth", LongType, nullable = true)))
    val out: java.util.List[Row] = java.util.Arrays.asList(
      nodes.map(n => Row(n, hub(n), auth(n))): _*)
    Some(spark.createDataFrame(out, schema))
  }

  /** DuckDB twin: the same BIGINT half-steps unrolled as a WITH
    * chain. `edgesSql` must produce `(src, dst, w BIGINT)`. */
  def sqlScores(edgesSql: String, iterations: Int,
                scale: Long = 1000000000L): String = {
    require(iterations >= 1)
    val head = s"""
      WITH edges AS ($edgesSql),
      nodes AS (SELECT src AS node FROM edges
                UNION SELECT dst AS node FROM edges),
      h0 AS (SELECT node, CAST($scale AS BIGINT) AS hub FROM nodes)"""
    val iters = (1 to iterations).map { i =>
      s"""
      ra$i AS (SELECT e.dst AS node, CAST(sum(h.hub * e.w) AS BIGINT) AS ra
               FROM edges e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
      da$i AS (SELECT greatest(CAST(max(ra) AS BIGINT) // $scale, 1) AS d
               FROM ra$i),
      a$i AS (SELECT nodes.node,
                CAST(COALESCE(ra$i.ra, 0) // da$i.d AS BIGINT) AS auth
              FROM nodes CROSS JOIN da$i
              LEFT JOIN ra$i ON nodes.node = ra$i.node),
      rh$i AS (SELECT e.src AS node, CAST(sum(a.auth * e.w) AS BIGINT) AS rh
               FROM edges e JOIN a$i a ON e.dst = a.node GROUP BY 1),
      dh$i AS (SELECT greatest(CAST(max(rh) AS BIGINT) // $scale, 1) AS d
               FROM rh$i),
      h$i AS (SELECT nodes.node,
                CAST(COALESCE(rh$i.rh, 0) // dh$i.d AS BIGINT) AS hub
              FROM nodes CROSS JOIN dh$i
              LEFT JOIN rh$i ON nodes.node = rh$i.node)"""
    }.mkString(",")
    s"""$head,$iters
    SELECT h$iterations.node, h$iterations.hub, a$iterations.auth
    FROM h$iterations JOIN a$iterations
      ON h$iterations.node = a$iterations.node"""
  }
}
