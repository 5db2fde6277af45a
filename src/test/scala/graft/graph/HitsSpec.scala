package graft.graph

import graft.SparkSpec

class HitsSpec extends SparkSpec {

  import spark.implicits._

  test("hand-traced star: pure hubs point at the one authority") {
    // 1→9, 2→9, 3→9 with unit weights: 9 is the only authority,
    // 1..3 are equal hubs; 9 never points anywhere → hub(9) = 0.
    val e = Seq((1L, 9L, 1L), (2L, 9L, 1L), (3L, 9L, 1L))
      .toDF("src", "dst", "w")
    val s = 1000000000L
    val r = Hits.scores(e, iterations = 3, scale = s)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    // trace: rawA(9) = 3s, d = 3 → auth(9) = s; rawH(i) = s, d = 1
    // → hub stays s every round (the fixed point)
    assert(r(9L) === ((0L, s)))
    assert(r(1L) === ((s, 0L)) && r(2L) === ((s, 0L)) && r(3L) === ((s, 0L)))
  }

  test("weighted edges split authority proportionally") {
    // one hub, two authorities at weights 3 and 1
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val s = 1000000000L
    val r = Hits.scores(e, iterations = 1, scale = s)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    // rawA = (3s, s), d = 3 → auth = (s, s DIV 3); node 1 sole hub
    assert(r(2L)._2 === s)
    assert(r(3L)._2 === s / 3)
    assert(r(2L)._1 === 0L && r(3L)._1 === 0L)
    assert(r(1L)._1 > 0L)
  }

  test("hubs and authorities diverge on an asymmetric graph") {
    // 1 points at everything (pure hub); everything points at 5
    // (pure authority); 2,3 both middle.
    val e = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 5L, 1L),
      (2L, 5L, 1L), (3L, 5L, 1L)).toDF("src", "dst", "w")
    val r = Hits.scores(e, iterations = 4)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    val hubs = r.toSeq.sortBy { case (n, (h, _)) => (-h, n) }.map(_._1)
    val auths = r.toSeq.sortBy { case (n, (_, a)) => (-a, n) }.map(_._1)
    assert(hubs.head === 1L, s"1 must top hubs: $r")
    assert(auths.head === 5L, s"5 must top authorities: $r")
    assert(r(5L)._1 === 0L, "5 has no out-edges")
    assert(r(1L)._2 === 0L, "1 has no in-edges")
  }

  test("nation trade graph: all 25 nations scored, scores bounded") {
    val li = graft.Tables.lineitem(spark, sf0001)
      .select($"l_orderkey", $"l_suppkey")
    val edges = li
      .join(graft.Tables.orders(spark, sf0001)
        .select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(graft.Tables.customer(spark, sf0001)
        .select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(graft.Tables.supplier(spark, sf0001)
        .select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("w"))
    val r = Hits.scores(edges, iterations = 4).collect()
    assert(r.length === 25)
    assert(r.forall(x => x.getLong(1) >= 0 && x.getLong(2) >= 0))
    assert(r.forall(x => x.getLong(1) <= 2000000000L &&
      x.getLong(2) <= 2000000000L), "scores stay ~scale-bounded")
    assert(r.exists(_.getLong(1) > 0) && r.exists(_.getLong(2) > 0))
  }

  test("small-graph driver path ≡ distributed rounds (incl. negative " +
    "and skewed weights)") {
    val e = Seq((1L, 2L, 3L), (2L, 3L, -1L), (3L, 1L, 2L), (1L, 3L, 5L),
      (4L, 1L, 1000000L), (2L, 4L, 7L)).toDF("src", "dst", "w")
    for (iters <- Seq(1, 3, 5)) {
      val drv = Hits.scores(e, iters)
        .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
        .toMap
      val dist = Hits.scores(e, iters, smallGraphMaxEdges = 0)
        .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
        .toMap
      assert(drv === dist, s"iters=$iters driver/distributed differ")
    }
  }

  test("an explicit smallGraphMaxEdges is authoritative for string keys") {
    val e = Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "a", 2L))
      .toDF("src", "dst", "w")
    def onDriver(r: org.apache.spark.sql.DataFrame) =
      r.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    // a bound below 8 used to be cut to 0 by the variable-width haircut
    val explicit = Hits.scores(e, iterations = 3, smallGraphMaxEdges = 4)
    val tooSmall = Hits.scores(e, iterations = 3, smallGraphMaxEdges = 2)
    val default = Hits.scores(e, iterations = 3)
    assert(onDriver(explicit) && onDriver(default) && !onDriver(tooSmall))
    val rows = Seq(explicit, tooSmall, default).map(
      _.collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap)
    assert(rows.distinct.size === 1, "driver and distributed paths differ")
  }

  test("fractional edge weights fail loudly instead of truncating to 0") {
    import spark.implicits._
    val e = Seq((1L, 2L, 0.5)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      Hits.scores(e, iterations = 1).collect()
    }
    assert(ex.getMessage.contains("integral"),
      s"expected the integral-weight error, got: ${ex.getMessage}")
  }

  test("null edge weights fail with a dedicated error, not the " +
    "misleading integral message") {
    import spark.implicits._
    val e = Seq((1L, 2L, Some(3.0)), (2L, 3L, None))
      .toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      Hits.scores(e, iterations = 1).collect()
    }
    assert(ex.getMessage.contains("null"),
      s"expected the null-weight error, got: ${ex.getMessage}")
  }

  test("|w| >= 2^53 fails loudly — the double round-trip can no " +
    "longer detect truncation there") {
    import spark.implicits._
    // 2^53 + 1 is NOT representable in double: the old check would
    // silently accept its lossy cast
    val e = Seq((1L, 2L, (1L << 53) + 1L)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      Hits.scores(e, iterations = 1).collect()
    }
    assert(ex.getMessage.contains("2^53"),
      s"expected the 2^53 precision error, got: ${ex.getMessage}")
  }
}
