package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational substrate queries (SURVEY §2-B): the star-schema query
  * surface the reference exercises implicitly through pandas, expressed
  * as native DataFrame plans so Catalyst supplies pushdown, pruning,
  * join strategy and AQE for free.
  *
  * Determinism for the DuckDB oracle (SURVEY §5.3): sums over
  * 2-decimal money doubles go through DECIMAL (exact, order-insensitive);
  * integer-valued doubles (l_quantity) sum exactly as doubles; ratios are
  * a single double division of identical operands on both sides.
  */
object RelationalQueries extends Registry {

  /** Shared per-subject survival frame for d44/d45: per user, duration
    * to first purchase (or to last-seen for censored users), the event
    * flag, and the experiment-arm cohort (user_id parity — the same
    * assignment the A/B family uses). */
  private def survivalPerUser(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id")).agg(
        min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("tp"),
        max(unix_micros(col("ts"))).as("tl"))
      .select(
        when(pmod(col("user_id"), lit(2L)) === 0, lit("control"))
          .otherwise(lit("treatment")).as("cohort"),
        when(col("tp").isNotNull, col("tp") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("duration"),
        when(col("tp").isNotNull, lit(1)).otherwise(lit(0)).as("event"))

  /** Shared per-user A/B frame (d32/d52/d53): per-user purchase-value
    * sum on the exact decimal grid + the deterministic arm. */
  private def abPerUser(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(12,2)"))
        .otherwise(lit(0).cast("decimal(12,2)")))
        .cast("decimal(18,2)").as("m"))
      .withColumn("variant", graft.operators.Experiment.variantOf(
        col("user_id"), Seq("control", "treatment"), salt = 17))

  /** DuckDB twin of [[abPerUser]]. */
  private val abPerUserSql: String =
    s"""SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'purchase'
             THEN CAST(value AS DECIMAL(12,2))
             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m,
         ${graft.operators.Experiment.sqlVariantOf("user_id",
           Seq("control", "treatment"), salt = 17)} AS variant
       FROM events GROUP BY user_id"""

  /** DuckDB twin of [[survivalPerUser]]. */
  private val survivalPerUserSql: String =
    """SELECT
         CASE WHEN ((user_id % 2) + 2) % 2 = 0 THEN 'control'
           ELSE 'treatment' END AS cohort,
         CASE WHEN tp IS NOT NULL THEN tp - t0 ELSE tl - t0 END AS duration,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS event
       FROM (
         SELECT user_id, min(epoch_us(ts)) AS t0,
           min(CASE WHEN event_type = 'purchase'
             THEN epoch_us(ts) END) AS tp,
           max(epoch_us(ts)) AS tl
         FROM events GROUP BY user_id)"""

  val queries: Map[String, Q] = Map(
    // B1+B2+B5: the TPC-H Q1 pattern — scan → pushed filter → hash agg.
    "q1_pricing_summary" -> ((s, d) => {
      val ep   = col("l_extendedprice").cast("decimal(12,2)")
      val disc = col("l_discount").cast("decimal(4,2)")
      val tax  = col("l_tax").cast("decimal(4,2)")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(ep).cast("double").as("sum_base_price"),
          sum(ep * (lit(1) - disc)).cast("double").as("sum_disc_price"),
          sum(ep * (lit(1) - disc) * (lit(1) + tax)).cast("double").as("sum_charge"),
          (sum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"),
          (sum(ep).cast("double") / count(ep)).as("avg_price"),
          (sum(disc).cast("double") / count(disc)).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),
    // B2: predicate + projection, both pushed to the parquet scan.
    "b2_filter_project" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-06-01").cast("timestamp") &&
                col("l_discount") > lit(0.05))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),
    // B3: the 5-way star join (TPC-H Q5 shape). The four dimension
    // tables are tiny → Catalyst broadcasts them; only lineitem⋈orders
    // shuffles, on the join key. Revenue per nation.
    "b3_star_join_revenue" -> ((s, d) => {
      val rev = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(4,2)"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(rev).cast("double").as("revenue"),
             count(lit(1)).as("line_count"))
    }),
    // B4: semi + anti join — customers who ordered in H1/1998 vs never.
    "b4_semi_join" -> ((s, d) => {
      val o98 = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      Tables.customer(s, d)
        .join(o98, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    }),
    "b4_anti_join" -> ((s, d) => {
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1998-06-01").cast("timestamp"))
      Tables.customer(s, d)
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    }),
    // B6: distinct counting per group (exact; HLL variant is non-oracle).
    "b6_distinct_parts" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
             countDistinct(col("l_suppkey")).as("distinct_supps"))),
    // B7: rollup with grouping-set indicators.
    "b7_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
             count(lit(1)).as("cnt"),
             grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid"))),
    // B7b: cube — all grouping-set combinations.
    "b7_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
             count(lit(1)).as("cnt"),
             grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid"))),
    // B8: window functions — running revenue + order rank per customer.
    // Frame order is made total with the unique o_orderkey tie-break so
    // both engines accumulate in the same sequence.
    "b8_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("order_rank", row_number().over(w).cast("bigint"))
        .withColumn("running_spend",
          sum(col("o_totalprice").cast("decimal(12,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("prev_price",
          lag(col("o_totalprice"), 1).over(w))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
          "order_rank", "running_spend", "prev_price")
    }),
    // B8b: ranking/distribution window surface — ntile, percent_rank,
    // cume_dist, nth_value over a total (tie-broken) order, so every
    // function is deterministic and oracle-able.
    "b8_window_ranking" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(s, d).select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        ntile(4).over(w).cast("bigint").as("quartile"),
        round(percent_rank().over(w), 9).as("pct_rank"),
        round(cume_dist().over(w), 9).as("cume"),
        nth_value(col("c_custkey"), 2).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("second_richest"))
    }),
    // B9: global top-k with total tie-broken order → TakeOrderedAndProject.
    "b9_topk_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")),
    // B10: set ops over key sets from two predicates.
    "b10_set_ops" -> ((s, d) => {
      val auto = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
      val rich = Tables.customer(s, d)
        .filter(col("c_acctbal") > 8000).select("c_custkey")
      auto.union(rich).distinct()
        .exceptAll(auto.intersect(rich))
        .select(col("c_custkey"))
    }),
    // B15: correlated scalar subquery — orders above their own
    // customer's average order value. Declared in SQL (the surface a
    // reference user would write); Catalyst decorrelates it into an
    // aggregate + join, so the physical plan is the same partial-agg +
    // shuffled-join shape as the hand-written form — no per-row
    // re-execution anywhere.
    "b15_correlated_scalar" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_b15")
      // DECIMAL sum + one double division (the Registry determinism
      // pattern): a plain double avg would accumulate in engine-
      // specific order and move boundary rows between engines
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM graft_orders_b15 o
        WHERE o_totalprice > 2 * (
          SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*)
          FROM graft_orders_b15 i
          WHERE i.o_custkey = o.o_custkey)""")
    }),
    // B11: scalar function surface — strings + JSON over events.props.
    "b11_scalar_functions" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("k_value", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("etype_upper", upper(col("event_type")))
        .withColumn("user_bucket", pmod(col("user_id"), lit(10)))
        .filter(col("k_value").isNotNull)
        .groupBy(col("etype_upper"), col("user_bucket"))
        .agg(sum(col("k_value")).as("k_sum"),
             round(avg(col("k_value")), 6).as("k_avg"),
             count(lit(1)).as("n"))),
    // B11b: string-function surface over part.
    "b11_string_functions" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        substring(col("p_type"), 1, 5).as("type5"),
        levenshtein(col("p_brand"), lit("Brand#11")).cast("bigint").as("brand_dist"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).cast("bigint").as("name_len"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
        regexp_replace(col("p_brand"), "#\\d+", "").as("brand_stem"))),
    // B11c: date/time function surface over orders. Date-typed values
    // are emitted as yyyy-MM-dd strings or timestamps — never DATE
    // columns — so both engines' pandas dtypes line up for the hash
    // compare; field extracts cast to bigint on both sides.
    "b11_datetime_functions" -> ((s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        date_format(date_add(to_date(col("o_orderdate")), 30), "yyyy-MM-dd")
          .as("ship_by"),
        datediff(to_date(lit("1998-12-31")), to_date(col("o_orderdate")))
          .cast("bigint").as("days_to_eoy"),
        year(col("o_orderdate")).cast("bigint").as("o_year"),
        quarter(col("o_orderdate")).cast("bigint").as("o_quarter"),
        month(col("o_orderdate")).cast("bigint").as("o_month"),
        dayofmonth(col("o_orderdate")).cast("bigint").as("o_day"),
        weekofyear(col("o_orderdate")).cast("bigint").as("iso_week"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        last_day(col("o_orderdate")).cast("timestamp").as("month_end"))),
    // B11d: array + map function surface over part.p_name word lists —
    // transform/aggregate/sort/contains plus a real map lookup
    // (map_from_arrays → element_at). Distinct-keyed map (Spark throws
    // on duplicate map keys under the default dedup policy).
    "b11_array_map_functions" -> ((s, d) => {
      val words = split(col("p_name"), " ")
      val lens = transform(words, w => length(w))
      val dwords = array_distinct(words)
      val wordLen = map_from_arrays(dwords, transform(dwords, w => length(w)))
      val firstSorted = element_at(array_sort(words), 1)
      Tables.part(s, d).select(
        col("p_partkey"),
        size(words).cast("bigint").as("n_words"),
        aggregate(lens, lit(0), (acc, x) => acc + x).cast("bigint")
          .as("total_chars"),
        array_max(lens).cast("bigint").as("longest_word"),
        firstSorted.as("first_word"),
        element_at(wordLen, firstSorted).cast("bigint").as("first_word_len"),
        array_join(array_sort(words), "-").as("sorted_words"),
        array_contains(words, "green").as("has_green"))
    }),
    // B5b: exact interpolated percentiles per group (type-7 quantiles,
    // same definition both engines; 4-dp round absorbs interpolation
    // rounding-shape differences).
    "b5_percentiles" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))),
    // B5d: the SAME exact type-7 quantiles WITHOUT the per-group
    // value buffer — rank selection over one window sort (the b5
    // hazard's 100 TB path: a skewed group becomes a disk-backed
    // external sort, never a growing aggregation buffer). Identical
    // oracle to b5_percentiles.
    "b5_percentiles_scalable" -> ((s, d) =>
      graft.operators.Percentiles.exactByRank(
        Tables.lineitem(s, d), Seq("l_returnflag"), "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))),
    // B6b: HLL approximate distinct (approx → rows-only driver check).
    "b6_approx_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))),
    // B5c: sketch-based quantiles (KLL/GK-style approx_percentile) —
    // the single-pass mergeable twin of b5_percentiles' exact type-7
    // quantiles; approx → rows-only driver check, exactness covered by
    // the b5 oracle row.
    "b5_approx_percentiles" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("p50_approx"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000))
            .as("p95_approx"))),
    // B12: event-time tumbling windows over the events stream table —
    // batch form of the Structured Streaming aggregation (C9 mirrors it).
    "b12_event_time_windows" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
                 col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"),
             countDistinct(col("user_id")).as("unique_users"))),
    // B12b: gap-based sessionization in batch via lag + running sum —
    // the window-function twin of EventStreams.sessionize. Gaps compare
    // integer microseconds (unix_micros/epoch_us) so both engines cut
    // sessions at identical boundaries.
    "b12_sessionization" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts"))
      val newSession = when(
        lag(us, 1).over(w).isNull || us - lag(us, 1).over(w) > 600000000L, 1L)
        .otherwise(0L)
      Tables.events(s, d)
        .withColumn("__new", newSession)
        .withColumn("session_idx",
          sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("session_start"),
             max(col("ts")).as("session_end"),
             sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
    }),
    // B12c/C10: capped sessions — the batch twin of the custom-state
    // flatMapGroupsWithState operator (split on inactivity gap OR an
    // event-count cap, which session_window can't express). The batch
    // path runs the SAME pure fold as the streaming path, so this
    // oracle row transitively checks the streaming operator's logic.
    // 24h gap / 8-event cap: at the test data's event density a 10-min
    // gap yields near-singleton sessions, so these are sized to make
    // both split conditions actually fire (max gap-session ~50 events).
    "b12_capped_sessions" -> ((s, d) =>
      graft.streaming.StatefulSessions.cappedSessions(Tables.events(s, d),
        gapMinutes = 1440, maxEvents = 8)),
    // D1 (beyond-survey): as-of join — each event picks up its user's
    // most recent end-of-day snapshot (point-in-time feature lookup).
    // Oracle is DuckDB's native ASOF LEFT JOIN; the Spark side is the
    // union+window single-shuffle operator in graft.operators.AsofJoin.
    "d1_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val snaps = ev.groupBy(col("user_id"),
          (date_trunc("day", col("ts")) + expr("INTERVAL 1 DAY")).as("snap_ts"))
        .agg(count(lit(1)).as("day_events"),
             sum(col("value").cast("decimal(18,2)")).cast("double").as("day_value"))
      graft.operators.AsofJoin.asofJoin(
        ev.select("event_id", "user_id", "ts"),
        snaps, Seq("user_id"), "ts", "snap_ts")
    }),
    // D1b: forward as-of — each event picks up its NEXT end-of-day
    // snapshot (= its own day's summary, since snapshots stamp day+1).
    // Oracle: DuckDB ASOF with the comparison reversed (e.ts <= snap).
    "d1_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val snaps = ev.groupBy(col("user_id"),
          (date_trunc("day", col("ts")) + expr("INTERVAL 1 DAY")).as("snap_ts"))
        .agg(count(lit(1)).as("day_events"),
             sum(col("value").cast("decimal(18,2)")).cast("double").as("day_value"))
      graft.operators.AsofJoin.asofJoin(
        ev.select("event_id", "user_id", "ts"),
        snaps, Seq("user_id"), "ts", "snap_ts", direction = "forward")
    }),
    // D1c: NEAREST as-of — each event attaches its closest end-of-day
    // snapshot in |Δts| (pandas merge_asof direction='nearest';
    // distance ties go backward). Both traversals over ONE key
    // exchange. Oracle: correlated min-|Δ| pick with the same
    // (abs asc, ts asc) tie order.
    "d1_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val snaps = ev.groupBy(col("user_id"),
          (date_trunc("day", col("ts")) + expr("INTERVAL 1 DAY")).as("snap_ts"))
        .agg(count(lit(1)).as("day_events"),
             sum(col("value").cast("decimal(18,2)")).cast("double").as("day_value"))
      graft.operators.AsofJoin.asofJoin(
        ev.select("event_id", "user_id", "ts"),
        snaps, Seq("user_id"), "ts", "snap_ts", direction = "nearest")
    }),
    // D2 (beyond-survey): point-in-interval range join — each event is
    // matched to the gap-session interval containing it via the
    // bucketed equi-join in graft.operators.RangeJoin (a bare range
    // predicate would nested-loop). Oracle: plain BETWEEN join.
    "d2_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts"))
      val newSession = when(
        lag(us, 1).over(w).isNull || us - lag(us, 1).over(w) > 600000000L, 1L)
        .otherwise(0L)
      val sess = ev
        .withColumn("__new", newSession)
        .withColumn("session_idx",
          sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(min(us).as("start_us"), max(us).as("end_us"),
             count(lit(1)).as("n_events"))
      val points = ev.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("point_us"))
      graft.operators.RangeJoin.pointInInterval(
          points, sess, "point_us", "start_us", "end_us",
          Seq("user_id"), bucketWidth = 600000000L)
        .select(col("event_id"), col("user_id"),
          col("session_idx").cast("bigint").as("session_idx"),
          timestamp_micros(col("start_us")).as("session_start"),
          col("n_events"))
    }),
    // B7b: explicit GROUPING SETS — finer than rollup/cube (disjoint
    // per-dimension slices + grand total in one shuffle pass); grouping
    // ids disambiguate "null group value" from "aggregated-away".
    "b7_grouping_sets" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("bigint").as("g_rf"),
             grouping(col("l_linestatus")).cast("bigint").as("g_ls"),
             sum(col("l_quantity")).as("sum_qty"),
             count(lit(1)).as("n"))),
    // B13: pivot — long→wide with an explicit value list (never
    // inferred: a distinct-scan at 100 TB to discover pivot columns is
    // a full extra pass, and a fixed list keeps the schema stable).
    "b13_pivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity")))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")),
    // B13b: unpivot/melt — wide→long, the inverse reshape (narrow op,
    // no shuffle; output rows = rows × measures).
    "b13_unpivot" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          col("c_acctbal").cast("double").as("acctbal"),
          col("c_nationkey").cast("double").as("nationkey"))
        .unpivot(Array(col("c_custkey")),
          Array(col("acctbal"), col("nationkey")), "metric", "value")),
    // B14: lateral explode with position — the unnest/flatten surface
    // (posexplode keeps the element index, needed whenever order in the
    // source array is meaningful).
    "b14_lateral_explode" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"), posexplode(split(col("p_name"), " ")))
        .toDF("p_partkey", "pos", "word")
        .select(col("p_partkey"), col("pos").cast("bigint").as("pos"),
          col("word"), length(col("word")).cast("bigint").as("word_len"))),
    // D7 (beyond-survey): interval join — batch twin of the
    // stream-stream attribution join (EventStreams.attributionJoin);
    // the SAME function runs here on batch frames and in
    // StreamStreamJoinSpec on MemoryStreams, so this oracle row
    // transitively checks the streaming join's semantics.
    "d7_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.streaming.EventStreams.attributionJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        windowMinutes = 10)
    }),
    // D3 (beyond-survey): salted two-phase aggregation — the skew
    // escape hatch, run under the oracle: ANY salt assignment yields
    // the same result as the plain GROUP BY (decimal sums are
    // order-insensitive), so the oracle is the unsalted aggregate.
    "d3_salted_agg" -> ((s, d) =>
      graft.operators.Salted.saltedAgg(
        Tables.lineitem(s, d), Seq("l_returnflag"), saltFactor = 16,
        partial = Seq(
          sum(col("l_extendedprice").cast("decimal(12,2)")).as("rev"),
          count(lit(1)).as("n")),
        merge = Seq(
          sum(col("rev")).cast("double").as("revenue"),
          sum(col("n")).as("n")),
        // deterministic salt off the fact table's primary key — the
        // salt assignment is now §5.3-clean (no per-run counter), and
        // the key's uniqueness spreads any hot l_returnflag group
        saltKey = Seq(col("l_orderkey"), col("l_linenumber")))),
    // D3b: skew-safe JOIN — the hot-key fact⋈dim shape: fact rows
    // salted across 8 reducers, the dimension replicated 8×, identical
    // result to the plain join (which is exactly what the oracle
    // checks). The post-join agg goes through DECIMAL so the oracle is
    // bit-exact.
    "d3_salted_join" -> ((s, d) =>
      graft.operators.Salted.saltedJoin(
        Tables.lineitem(s, d).select(col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice")),
        Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
          col("o_orderpriority")),
        Seq("l_orderkey"), saltFactor = 8,
        saltKey = Seq(col("l_orderkey"), col("l_linenumber")))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)"))
               .cast("double").as("revenue"),
             count(lit(1)).as("n_lines"))),
    // D8 (beyond-survey): per-user running totals — batch twin of the
    // transformWithState (state v2) processor; the SAME pure fold runs
    // here via flatMapGroups and in StatefulRunningSpec on a RocksDB
    // stream, so this oracle row transitively checks the processor.
    "d8_running_totals" -> ((s, d) =>
      graft.streaming.StatefulRunning.runningStatsBatch(Tables.events(s, d))),
    // D10 (beyond-survey): weekly cohort retention — the classic
    // product-analytics matrix: users bucketed by first-seen week, one
    // row per (cohort, week offset) with distinct active users. Two
    // aggs over (user, week) — both shuffle on user/cohort keys with
    // partial aggregation; the firsts table is per-user (small relative
    // to events) and joins back on the shuffle key.
    "d10_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      val firsts = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      ev.join(firsts, "user_id")
        .groupBy(col("cohort"),
          (datediff(col("wk"), col("cohort")) / 7).cast("bigint").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),
    // D9 (beyond-survey): event-rate anomaly detection — the pipeline
    // observability op: hourly counts per event type, z-scored against
    // that type's own mean/stddev across hours, |z| >= 2 flagged.
    // Variance from exact integer sums (n, n²) in a FIXED expression
    // order, so the doubles — and sqrt, correctly rounded per IEEE in
    // both engines — agree bit-for-bit with the oracle. Two tiny aggs
    // (hours × types, then types) + a broadcast join back: nothing
    // corpus-sized shuffles twice.
    "d9_rate_anomaly" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(sum(col("n")).as("s"), sum(col("n") * col("n")).as("ss"),
          count(lit(1)).as("k"))
      val meanRaw = col("s").cast("double") / col("k").cast("double")
      val varRaw = (col("ss").cast("double") -
        col("s").cast("double") * col("s").cast("double") / col("k").cast("double")) /
        col("k").cast("double")
      hourly.join(broadcast(stats), "event_type")
        .withColumn("z", when(varRaw <= 0, lit(0.0))
          .otherwise(round((col("n").cast("double") - meanRaw) / sqrt(varRaw), 6)))
        .select(col("event_type"), col("hour"), col("n"),
          round(meanRaw, 6).as("mean_n"), col("z"),
          (abs(col("z")) >= 2.0).cast("bigint").as("flagged"))
    }),
    // D6 (beyond-survey): bloom-prefiltered fact⋉dim semi join — the
    // broadcast key-sketch pattern for dim sides too big for a hash
    // broadcast. Exact confirm join after the probe ⇒ identical result
    // to a plain semi join, so it sits under the oracle.
    "d6_bloom_join" -> ((s, d) => {
      val dim = Tables.supplier(s, d).filter(col("s_acctbal") > 9000)
      graft.operators.BloomJoin.semiJoin(
          Tables.lineitem(s, d), dim, "l_suppkey", "s_suppkey",
          expectedItems = 100000L)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
             sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double")
               .as("revenue"))
    }),
    // D42: z-order key — the Morton interleave that drives the
    // multi-dim clustering layout (ZOrder.layout); the key arithmetic
    // itself sits under the exact oracle, the file-envelope pruning
    // property is ZOrderSpec's job.
    "d14_zorder_curve" -> ((s, d) => {
      val p = Tables.part(s, d)
      p.select(col("p_partkey"), col("p_size"),
        graft.operators.ZOrder.zValue(col("p_size"),
          pmod(col("p_partkey"), lit(64L)), 6).as("z"))
    }),
    // D40: column profile — the one-scan data-quality summary run on
    // every corpus drop before trusting it: per-column row/null/exact-
    // distinct counts + min/max/mean for numerics (mean through an
    // exact decimal sum, SURVEY §5.3). Mixed column types on purpose:
    // timestamps and strings profile as counts-only.
    "d13_column_profile" -> ((s, d) =>
      graft.operators.ColumnProfile.profile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
          "l_returnflag", "l_shipdate", "l_linestatus"))),
    // the SCALE mode of the same profile: exact=false swaps the exact
    // plan's second scan and its Expand-×7 distinct branch for mergeable
    // HLL sketches (one scan, no Expand — ColumnProfileSpec asserts the
    // plan). Every retained column is bit-identical to exact mode, so
    // dropping the ±2% n_distinct puts the whole scale plan under the
    // exact oracle.
    // profileAdaptive makes this switch itself above 10M rows.
    "d13_column_profile_scale" -> ((s, d) =>
      graft.operators.ColumnProfile.profile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
          "l_returnflag", "l_shipdate", "l_linestatus"), exact = false)
        .drop("n_distinct")),
    // D71: PROFILE DRIFT — this drop vs the last one: schema drift
    // (o_orderpriority added, o_custkey removed), a real null-rate
    // regression (10% hash-noise missingness injected on the cur side,
    // oracle-reproducible), cardinality and mean movement, range
    // widening. The |columns|-row diff join costs nothing at any
    // corpus size; the two profile scans are the whole cost.
    "d33_profile_drift" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val prev = o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val cur = graft.functions.Noise.injectMissing(
        o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")),
        "o_totalprice", "o_orderkey", salt = 23, frac = 0.10)
      graft.operators.ColumnProfile.drift(cur, prev,
        Seq("o_totalprice", "o_orderstatus", "o_orderpriority"),
        Seq("o_totalprice", "o_orderstatus", "o_custkey"))
    }),
    // D47: declarative constraint checks (the Deequ pattern) — the
    // data-contract gate run on every drop. Mixed pass/fail on
    // purpose: the in_range bound and the status regex are tightened
    // until real rows violate them, so the report shape (violations>0,
    // passed=false) sits under the oracle too. Row-level checks fuse
    // into ONE scan; unique adds a key agg; ref_integrity an anti join.
    "d15_constraint_checks" -> ((s, d) => {
      import graft.operators.Checks._
      graft.operators.Checks.run(Tables.orders(s, d), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 300000.0),
        Accepted("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")),
        Matches("o_orderstatus", "^[FO]$"),
        Satisfies("positive_price", col("o_totalprice") > 0),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_custkey", Tables.customer(s, d), "c_custkey")))
    }),
    // D48: funnel analysis — ordered signup → click → purchase
    // conversion over the event log; strict first-touch ordering, one
    // shuffle total (chained whole-partition window minima).
    "d16_funnel" -> ((s, d) =>
      graft.operators.Funnel.funnel(Tables.events(s, d),
        Seq("signup", "click", "purchase"))),
    // D48b: per-user step completions — the BATCH twin of the
    // streaming funnel state machine (StatefulFunnel: the same pure
    // fold runs under flatMapGroupsWithState; spec asserts stream ≡
    // batch), emitted as rows so the oracle checks every user's every
    // completion timestamp, not just the counts.
    "d16_funnel_completions" -> ((s, d) =>
      graft.streaming.StatefulFunnel.stepCompletions(Tables.events(s, d),
        Seq("signup", "click", "purchase"))),
    // B12d: NATIVE session_window sessionization — the same streaming
    // operator (EventStreams.sessionize, stream ≡ batch in
    // EventStreamsSpec) run in batch under an oracle. Differs from
    // b12_sessionization's lag/sum form in break semantics (gap ≥ 10
    // min splits here, > splits there) and in emitting window.end =
    // last event + gap — the oracle encodes session_window's rules.
    "b12_session_window" -> ((s, d) =>
      graft.streaming.EventStreams.sessionize(Tables.events(s, d))),
    // D49: time-series resample + forward fill — dense per-user hourly
    // grid with explicit zero rows and last-known value carry-forward.
    "d17_gap_fill" -> ((s, d) =>
      graft.operators.GapFill.resampleFfill(Tables.events(s, d),
        "user_id", "ts", "value")),
    // D50: equi-width histogram with explicit empty/under/overflow
    // buckets; 22 × 5000-wide buckets so every edge is an exact double.
    "d18_histogram" -> ((s, d) =>
      graft.operators.Histogram.equiWidth(Tables.lineitem(s, d),
        "l_extendedprice", 0.0, 110000.0, 22)),
    // D55: SCD2 interval build — per-user daily snapshots become
    // validity intervals (valid_from = change ts, valid_to = next
    // change, open-ended current version); point-in-time enrichment
    // composes with AsofJoin (Scd2Spec asserts ≡ BETWEEN join).
    "d21_scd2_intervals" -> ((s, d) => {
      val snaps = Tables.events(s, d)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("change_ts"))
        .agg(count(lit(1)).as("day_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("day_value"))
      graft.operators.Scd2.buildIntervals(snaps, "user_id", "change_ts",
        tieCol = "change_ts")
    }),
    // D56: co-occurrence / basket analysis — for each event-type pair,
    // how many users do both, with lift vs independence. The self-join
    // runs on the per-user DISTINCT type set (≤ |types| rows per user),
    // so pair generation is linear in users, never events².
    "d22_cooccurrence" -> ((s, d) => {
      val ut = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val a = ut.toDF("user_id", "t_a")
      val b = ut.toDF("user_id", "t_b")
      val pairs = a.join(b, Seq("user_id"))
        .where(col("t_a") < col("t_b"))
        .groupBy(col("t_a"), col("t_b"))
        .agg(count(lit(1)).as("n_users"))
      val totals = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
      val universe = ut.select(col("user_id")).distinct().count()
      pairs
        .join(broadcast(totals.toDF("t_a", "n_a")), "t_a")
        .join(broadcast(totals.toDF("t_b", "n_b")), "t_b")
        .select(col("t_a"), col("t_b"), col("n_users"), col("n_a"),
          col("n_b"),
          (col("n_users").cast("double") * lit(universe.toDouble) /
            (col("n_a").cast("double") * col("n_b").cast("double")))
            .as("lift"))
    }),
    // D54: incremental aggregate maintenance — the rollup refreshed by
    // MERGING two shards' mergeable states (count/decimal-sum/min/max)
    // instead of rescanning; the oracle recomputes from the full table,
    // so merge ≡ recompute is hash-checked bit-for-bit.
    "d20_incremental_agg" -> ((s, d) => {
      import graft.operators.IncrementalAgg
      val li = Tables.lineitem(s, d)
      val g = Seq("l_returnflag", "l_linestatus")
      val even = li.filter(pmod(col("l_orderkey"), lit(2L)) === 0)
      val odd = li.filter(pmod(col("l_orderkey"), lit(2L)) === 1)
      IncrementalAgg.finish(IncrementalAgg.merge(
        IncrementalAgg.state(even, g, "l_quantity"),
        IncrementalAgg.state(odd, g, "l_quantity"), g))
    }),
    // D70: incremental DISTINCT maintenance — the one rollup metric the
    // exact d20 state can't carry, held as mergeable HLL sketches
    // (union of shard sketches ≡ sketch of the union — register-wise
    // max, order- and partitioning-insensitive). Rows-only by the
    // engine-sketch contract; IncrementalAggSpec pins merge ≡ recompute
    // on the estimate and a ≤5% error floor vs exact distinct.
    "d20_incremental_distinct" -> ((s, d) => {
      import graft.operators.IncrementalAgg
      val li = Tables.lineitem(s, d)
      val g = Seq("l_returnflag", "l_linestatus")
      val even = li.filter(pmod(col("l_orderkey"), lit(2L)) === 0)
      val odd = li.filter(pmod(col("l_orderkey"), lit(2L)) === 1)
      IncrementalAgg.distinctFinish(IncrementalAgg.distinctMerge(
        IncrementalAgg.distinctState(even, g, "l_partkey"),
        IncrementalAgg.distinctState(odd, g, "l_partkey"), g))
        .drop("nd_sketch")
    }),
    // D120: incremental EXACT-quantile maintenance — the monitored
    // percentile (latency SLO) held as a mergeable per-value counter
    // table on the cent grid (merge = counter sum, finish = type-7
    // walk over the bounded axis); the oracle recomputes from the full
    // table with the same interpolation double sequence, so
    // merge ≡ recompute is hash-checked bit-for-bit.
    "d20_incremental_quantile" -> ((s, d) => {
      import graft.operators.IncrementalAgg
      val li = Tables.lineitem(s, d)
      val g = Seq("l_returnflag", "l_linestatus")
      val ps = Seq(0.5, 0.9, 0.99)
      val even = li.filter(pmod(col("l_orderkey"), lit(2L)) === 0)
      val odd = li.filter(pmod(col("l_orderkey"), lit(2L)) === 1)
      IncrementalAgg.quantileFinish(IncrementalAgg.quantileMerge(
        IncrementalAgg.quantileState(even, g, "l_extendedprice"),
        IncrementalAgg.quantileState(odd, g, "l_extendedprice"), g),
        g, ps)
    }),
    // D212: mergeable quantile SKETCH for unbounded axes — the
    // incremental-agg member d20's exact grid state cannot cover
    // (latencies/token counts have no bounded decimal axis):
    // deterministic KLL-shape compactor hierarchy, built shard-wise
    // and MERGED (4 shards by orderkey mod), queried at the monitor
    // percentiles. Rows-only by the sketch contract (value set depends
    // on partition layout; QuantileSketchSpec pins the ≤1% rank-error
    // bound for both one-shot and merged builds).
    "d117_sketch_quantiles" -> ((s, d) => {
      import graft.operators.QuantileSketch
      val li = Tables.lineitem(s, d)
      val shards = (0L until 4L).map(r =>
        li.filter(pmod(col("l_orderkey"), lit(4L)) === r))
      val sk = shards.map(QuantileSketch.build(_, "l_extendedprice"))
        .reduce(QuantileSketch.merge)
      val ps = Seq(0.25, 0.5, 0.9, 0.99)
      val rows = ps.map(p =>
        org.apache.spark.sql.Row(p, QuantileSketch.query(sk, p), sk.n))
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("p",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField("q",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }),
    // D215b: the GROUPED/persistable sketch state — per-returnflag
    // sketches built shard-wise (orderkey parity), merged as state
    // frames (the materialized-view refresh), finished at the monitor
    // percentiles. Rows-only by the sketch contract.
    "d117_sketch_quantiles_grouped" -> ((s, d) => {
      import graft.operators.QuantileSketch
      val li = Tables.lineitem(s, d)
      val even = li.filter(pmod(col("l_orderkey"), lit(2L)) === 0)
      val odd = li.filter(pmod(col("l_orderkey"), lit(2L)) === 1)
      QuantileSketch.finishState(
        QuantileSketch.mergeStates(
          QuantileSketch.groupedState(even, "l_returnflag",
            "l_extendedprice"),
          QuantileSketch.groupedState(odd, "l_returnflag",
            "l_extendedprice")),
        ps = Seq(0.5, 0.9, 0.99))
    }),
    // D210: inverse-propensity-weighted ATE (Hájek) — the
    // OBSERVATIONAL leg of the causal family: treatment is planted
    // with probability e(activity) (deterministic hash draw against a
    // linear propensity), then IPW with the true e reweights the arms
    // back to a common covariate mix. Per-unit terms on the 1e-6 grid
    // so the sums are order-free.
    "d113_ipw" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("a"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      val z = least(col("a"), lit(20L)).cast("double") / lit(20.0)
      val e = lit(0.2) + lit(0.6) * z
      val u = graft.functions.Noise.hashNoise(col("user_id"), salt = 23)
      graft.operators.Experiment.ipwAte(
        perUser.select((u < e).cast("int").as("t"), col("y"), e.as("e")),
        "t", "y", "e")
    }),
    // D211: doubly-robust AIPW on the same planted-propensity setup —
    // outcome model = a simple closed-form of activity (deliberately
    // imperfect; the propensity side carries consistency).
    "d114_aipw" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("a"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      val z = least(col("a"), lit(20L)).cast("double") / lit(20.0)
      val e = lit(0.2) + lit(0.6) * z
      val u = graft.functions.Noise.hashNoise(col("user_id"), salt = 23)
      graft.operators.Experiment.aipwAte(
        perUser.select((u < e).cast("int").as("t"), col("y"), e.as("e"),
          (lit(10.0) * z).as("m1"), (lit(8.0) * z).as("m0")),
        "t", "y", "e", "m1", "m0")
    }),
    // D90: minimum detectable effect — the pre-launch power check on
    // the d32 experiment setup (same deterministic assignment, same
    // one-pass exact sums): the smallest lift this traffic detects at
    // α=5%, power=80%.
    "d43_mde" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)").as("m"))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treatment"), salt = 17))
      graft.operators.Experiment.mde(
        perUser, "variant", "m", "control", "treatment")
    }),
    // D89: Kaplan–Meier time-to-conversion — first-touch → first
    // purchase, users without a purchase CENSORED at their last
    // observed event (dropping them is optimistic bias, keeping them
    // as never-converting is pessimistic — KM is the fix). Hourly
    // buckets bound the time axis; survival = exp of a running ln sum
    // over that bounded order.
    "d42_survival" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id")).agg(
          min(unix_micros(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("tp"),
          max(unix_micros(col("ts"))).as("tl"))
        .select(
          when(col("tp").isNotNull, col("tp") - col("t0"))
            .otherwise(col("tl") - col("t0")).as("duration"),
          when(col("tp").isNotNull, lit(1)).otherwise(lit(0)).as("event"))
      graft.operators.Survival.kaplanMeier(perUser, "duration", "event",
        bucketUs = 3600000000L)
    }),
    // D190: competing risks (Aalen–Johansen) — first PURCHASE (cause
    // 1) races first ERROR (cause 2) from each user's first event;
    // treating the loser as censoring would overstate both curves
    // (the classic competing-risks bias). CIF₁+CIF₂+S = 1 per bucket.
    "d105_competing_risks" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id")).agg(
          min(unix_micros(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("tp"),
          min(when(col("event_type") === "error",
            unix_micros(col("ts")))).as("te"),
          max(unix_micros(col("ts"))).as("tl"))
        .select(
          when(col("tp").isNotNull &&
              (col("te").isNull || col("tp") <= col("te")),
            col("tp") - col("t0"))
            .when(col("te").isNotNull, col("te") - col("t0"))
            .otherwise(col("tl") - col("t0")).as("duration"),
          when(col("tp").isNotNull &&
              (col("te").isNull || col("tp") <= col("te")), lit(1))
            .when(col("te").isNotNull, lit(2))
            .otherwise(lit(0)).as("event"))
      graft.operators.Survival.competingRisks(perUser, "duration",
        "event", bucketUs = 3600000000L)
    }),
    // D91: the SAME estimator per cohort (here: the experiment-arm
    // assignment the A/B family uses) — one curve per arm, windows
    // partitioned by cohort so per-arm state stays bounded-axis-sized.
    "d44_km_cohorts" -> ((s, d) => {
      graft.operators.Survival.kaplanMeierCohorts(
        survivalPerUser(s, d), "duration", "event", "cohort",
        bucketUs = 3600000000L)
    }),
    // D92: two-cohort LOG-RANK χ² — "is treatment's time-to-purchase
    // curve the same curve as control's?", completing the
    // experimentation family (Welch t / CUPED / MDE) for
    // time-to-event outcomes. All counts exact BIGINT; the three
    // double sums fold via ordered windows (never an unordered hash
    // agg), so the statistic is bit-portable.
    "d45_logrank" -> ((s, d) => {
      graft.operators.Survival.logRank(
        survivalPerUser(s, d), "duration", "event", "cohort",
        bucketUs = 3600000000L)
    }),
    // D88: CUPED variance reduction — the experimentation power-up
    // beside d32's Welch t: pre-period spend (first half of January)
    // as the covariate for experiment-period spend (second half);
    // θ and the achieved reduction computed ANALYTICALLY from one
    // pass of exact decimal sums (no adjusted column materialized).
    "d41_cuped" -> ((s, d) => {
      val split = lit("2024-01-16").cast("timestamp")
      def spend(cond: org.apache.spark.sql.Column) =
        sum(when(col("event_type") === "purchase" && cond,
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)")
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(spend(col("ts") < split).as("x"),
          spend(col("ts") >= split).as("y"))
      graft.operators.Experiment.cuped(perUser, "x", "y")
    }),
    // D230: MULTI-COVARIATE REGRESSION ADJUSTMENT — d41's CUPED in
    // its production form: adjust post-period spend by TWO pre-period
    // covariates (spend AND purchase count) at once; θ = Var(X)⁻¹
    // Cov(X,Y) solves on the driver by a FIXED pivot-free elimination
    // the oracle unrolls verbatim, so the whole ANCOVA row is
    // bit-exact. ExperimentSpec pins reduction ≥ single-covariate
    // CUPED's.
    "d122_regression_adjust" -> ((s, d) => {
      val split = lit("2024-01-16").cast("timestamp")
      def spend(cond: org.apache.spark.sql.Column) =
        sum(when(col("event_type") === "purchase" && cond,
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)")
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(spend(col("ts") < split).as("x1"),
          count(when(col("event_type") === "purchase" &&
            col("ts") < split, lit(1))).cast("decimal(18,2)").as("x2"),
          spend(col("ts") >= split).as("y"))
      graft.operators.Experiment.regressionAdjust(
        perUser, Seq("x1", "x2"), "y")
    }),
    // D231/D232: IPW and AIPW with TRAINED nuisance models — the
    // observational workflow d113/d114 assume away: the propensity is
    // fit from the data (MLlib LR over activity covariates, the
    // treeAggregate all-reduce shape) and, for AIPW, the outcome
    // models are exact-moment per-arm OLS. Trained-model contract →
    // rows+spec (PropensitySpec pins effect recovery on the
    // confounded fixture); d113/d114 stay the closed-form oracle
    // twins.
    "d123_ipw_trained" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("a"),
          countDistinct(col("event_type")).as("k"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      val z = least(col("a"), lit(20L)).cast("double") / lit(20.0)
      val e = lit(0.2) + lit(0.6) * z
      val u = graft.functions.Noise.hashNoise(col("user_id"), salt = 23)
      graft.operators.Experiment.ipwAteTrained(
        perUser.select((u < e).cast("int").as("t"), col("y"),
          col("a").cast("double").as("x1"),
          col("k").cast("double").as("x2")),
        "t", "y", Seq("x1", "x2"))
    }),
    // D235: IPW overlap/positivity diagnostics on the d113 setup —
    // per-arm Kish ESS of the weights, post-clip propensity range,
    // clipped share; exact integer grids → bit-exact oracle.
    "d127_ipw_diagnostics" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("a"))
      val z = least(col("a"), lit(20L)).cast("double") / lit(20.0)
      val e = lit(0.2) + lit(0.6) * z
      val u = graft.functions.Noise.hashNoise(col("user_id"), salt = 23)
      graft.operators.Experiment.ipwDiagnostics(
        perUser.select((u < e).cast("int").as("t"), e.as("e")), "t", "e")
    }),
    "d124_aipw_trained" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("a"),
          countDistinct(col("event_type")).as("k"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      val z = least(col("a"), lit(20L)).cast("double") / lit(20.0)
      val e = lit(0.2) + lit(0.6) * z
      val u = graft.functions.Noise.hashNoise(col("user_id"), salt = 23)
      graft.operators.Experiment.aipwAteTrained(
        perUser.select((u < e).cast("int").as("t"), col("y"),
          col("a").cast("double").as("x1"),
          col("k").cast("double").as("x2")),
        "t", "y", Seq("x1", "x2"))
    }),
    // D85: EWMA smoothing — the monitoring dashboard's trend line and
    // its residual, over per-type hourly rates. EWMA's recursion is
    // window-hostile, so this is the standard bounded-memory form: an
    // 8-term lag chain with literal geometric weights, normalized over
    // the lags that EXIST (series heads don't bias toward zero). One
    // (type) shuffle; the lag chain is codegen'd arithmetic.
    "d40_ewma" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("hour"))
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      val terms = (0 to 7).map { k =>
        val x = if (k == 0) col("n") else lag(col("n"), k).over(w)
        val wt = math.pow(0.5, k)
        (when(x.isNotNull, x.cast("double") * lit(wt)).otherwise(lit(0.0)),
          when(x.isNotNull, lit(wt)).otherwise(lit(0.0)))
      }
      val num = terms.map(_._1).reduce(_ + _)
      val den = terms.map(_._2).reduce(_ + _)
      hourly
        .withColumn("ewma", round(num / den, 6))
        .withColumn("deviation",
          round(col("n").cast("double") - col("ewma"), 6))
    }),
    // D84: Benford first-digit audit — the classic fabricated-numbers
    // screen for financial/measure columns: observed first-digit
    // shares vs Benford's log10(1 + 1/d) expectation, per-digit z and
    // a chi-square total. Digit extraction is integer arithmetic on
    // the 2-dp money grid (value × 100 → BIGINT, strip trailing
    // zeros by division — no string formatting, no float log); the
    // statistics are one fixed double-op sequence per digit. ONE scan,
    // 9-row output.
    "d39_benford" -> ((s, d) => {
      // first significant digit of a positive grid value: the leading
      // character of the BIGINT's decimal rendering — integer→string
      // is exact and engine-identical, sidestepping both the log10
      // power-of-ten boundary and a division cascade
      val fd = expr("""CAST(substring(CAST(
        CAST(round(o_totalprice * 100.0) AS BIGINT) AS STRING), 1, 1)
        AS BIGINT)""")
      val digits = Tables.orders(s, d)
        .filter(col("o_totalprice") > 0)
        .withColumn("digit", fd)
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum(col("n")).as("total"))
      digits.crossJoin(broadcast(tot))
        .withColumn("observed",
          round(col("n").cast("double") / col("total").cast("double"), 6))
        .withColumn("expected", round(
          log(10.0, lit(1.0) + lit(1.0) / col("digit").cast("double")), 6))
        .withColumn("z", round(
          (col("n").cast("double") - col("expected") * col("total").cast("double"))
            / sqrt(col("expected") * (lit(1.0) - col("expected"))
              * col("total").cast("double")), 6))
        .select("digit", "n", "observed", "expected", "z")
    }),
    // D81: abandoned-cart detection (batch twin of the event-time
    // TIMER processor — "click not followed by purchase within 30
    // min"): user-keyed ANTI interval join, the range condition as SMJ
    // residual. The streaming form emits on watermark-passed timers
    // (AbandonedCartsSpec: stream ≡ this batch ≡ oracle).
    "d38_abandoned_carts" -> ((s, d) =>
      graft.streaming.AbandonedCarts.abandonedBatch(Tables.events(s, d))),
    // D80: funnel conversion latency — "how long from first signup to
    // the first purchase after it", the time-to-value metric next to
    // d16's conversion rates. Two hash aggs on user (both partial) +
    // one 1-row percentile summary; latencies are exact µs integers,
    // percentiles exact type-7 on the 4-dp grid, hours via one shared
    // double division.
    "d37_funnel_latency" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("s_us"))
      val lat = ev.filter(col("event_type") === "purchase")
        .join(signups, "user_id")
        .filter(unix_micros(col("ts")) >= col("s_us"))
        .groupBy(col("user_id"), col("s_us"))
        .agg(min(unix_micros(col("ts"))).as("p_us"))
        .withColumn("lat_us", col("p_us") - col("s_us"))
      lat.agg(count(lit(1)).as("n_converted"),
        round(round(expr("percentile(lat_us, 0.5)"), 4)
          / lit(3600000000.0), 6).as("p50_hours"),
        round(round(expr("percentile(lat_us, 0.9)"), 4)
          / lit(3600000000.0), 6).as("p90_hours"))
    }),
    // B16: the SQL-TEXT front end — the same engine consumed as ANSI
    // SQL over registered views (spark.sql), exercising CTE + join +
    // window + qualify-style filter in one statement. The oracle is
    // near-verbatim the same text: the point is that a reference user
    // who writes SQL, not DataFrames, gets the identical engine.
    "b16_sql_surface" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_v_orders")
      Tables.customer(s, d).createOrReplaceTempView("graft_v_customer")
      Tables.nation(s, d).createOrReplaceTempView("graft_v_nation")
      s.sql("""
        WITH spend AS (
          SELECT o_custkey,
            CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
          FROM graft_v_orders GROUP BY o_custkey)
        SELECT n_name, c_custkey, total, rnk FROM (
          SELECT n.n_name, c.c_custkey, s.total,
            CAST(row_number() OVER (PARTITION BY n.n_name
              ORDER BY s.total DESC, c.c_custkey) AS BIGINT) AS rnk
          FROM spend s
          JOIN graft_v_customer c ON c.c_custkey = s.o_custkey
          JOIN graft_v_nation n ON n.n_nationkey = c.c_nationkey)
        WHERE rnk <= 3""")
    }),
    // B17: the SQL surface over VERSIONED tables — before round 16 the
    // lakehouse layer was Scala-method-only. `versioned('<dir>')` /
    // `versioned('<dir>', N)` resolve manifests into native-parquet
    // snapshot views (full pushdown/codegen — deliberately NOT a
    // custom relation), so `spark.sql` time-travels: the query joins
    // the CURRENT version against VERSION AS OF 1 to count arrivals
    // per status, plus a scalar subquery over a ZONE-MAP-PRUNED view
    // whose file skip is require-asserted (the prune happens at
    // registration, before the scan is planned — at 10⁶ files that
    // ordering is the feature).
    "b17_versioned_sql" -> ((s, d) => {
      val (_, dir) = indexScratch(d, "graft_versioned_sql")
      graft.sources.VersionedTable.drop(s, dir)
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      graft.sources.VersionedTable.publish(
        orders.filter(col("o_orderkey") % 3 =!= 0), dir, "cut-1")
      graft.sources.VersionedTable.publish(
        orders.repartitionByRange(8, col("o_totalprice")), dir, "cut-2",
        statsCols = Seq("o_totalprice"))
      val (opened, total) = graft.sources.VersionedSql.registerPruned(
        s, "graft_b17_band", dir, 2L, "o_totalprice", 50000.0, 100000.0)
      require(opened < total,
        s"zone-map prune must fire through the SQL view: $opened/$total")
      graft.sources.VersionedSql.sql(s, s"""
        SELECT cur.o_orderstatus AS status,
          CAST(count(*) AS BIGINT) AS n_cur,
          CAST(sum(CASE WHEN old.o_orderkey IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
          (SELECT CAST(count(*) AS BIGINT) FROM graft_b17_band) AS n_band
        FROM versioned('$dir') cur
        LEFT JOIN versioned('$dir', 1) old
          ON cur.o_orderkey = old.o_orderkey
        GROUP BY cur.o_orderstatus""")
    }),
    // D79: triangle counting over the co-purchase graph (parts sharing
    // an order, thinned to high-quantity lines so the graph has
    // realistic density) — degree-oriented wedge join, each triangle
    // counted once; the oracle computes the naive a<b<c form, so the
    // orientation algorithm's correctness is EXECUTED, not argued.
    "d36_triangles" -> ((s, d) => {
      val edges = graft.graph.Triangles.coOccurrenceEdges(
        Tables.lineitem(s, d).filter(col("l_quantity") >= 45),
        "l_orderkey", "l_partkey")
      graft.graph.Triangles.stats(edges)
    }),
    // D79b: node-level view — triangle membership + LOCAL clustering
    // coefficient per node (spam hubs: huge degree, near-zero local
    // cc). Same oriented wedges, one explode crediting each triangle's
    // three corners, a node hash agg. Naive per-node oracle.
    "d36_local_cc" -> ((s, d) => {
      val edges = graft.graph.Triangles.coOccurrenceEdges(
        Tables.lineitem(s, d).filter(col("l_quantity") >= 45),
        "l_orderkey", "l_partkey")
      graft.graph.Triangles.perNode(edges)
    }),
    // D159: Adamic–Adar link prediction over the same co-purchase
    // graph — top non-adjacent pairs by shared-neighborhood evidence,
    // hub-safe (degree-capped centers) and order-free (1e-9-grid
    // wedge weights sum as exact BIGINTs).
    "d85_adamic_adar" -> ((s, d) => {
      val edges = graft.graph.Triangles.coOccurrenceEdges(
        Tables.lineitem(s, d).filter(col("l_quantity") >= 45),
        "l_orderkey", "l_partkey")
      graft.graph.LinkPrediction.adamicAdar(edges, k = 50)
    }),
    // D185: Laplace-noised SUMS with contribution bounding — the half
    // of a DP release d34 doesn't cover: each user's per-group total
    // clamps to ±500 BEFORE the sum, then Laplace(cap/ε) calibrates to
    // that sensitivity. Deterministic keyed noise → exact oracle.
    "d101_noised_sums" -> ((s, d) =>
      graft.operators.Anonymity.noisedSums(Tables.events(s, d),
        Seq("event_type"), "user_id", "value", cap = 500.0,
        epsilon = 0.5)),
    // D77: Laplace-noised release counts — the DP mechanism shape with
    // deterministic keyed noise (re-publication must not wobble; the
    // oracle reproduces the release bit-for-bit). ε = 0.5 so the noise
    // is clearly visible against the fixture counts.
    "d34_noised_counts" -> ((s, d) =>
      graft.operators.Anonymity.noisedCounts(Tables.events(s, d),
        Seq("event_type"), epsilon = 0.5)),
    // D233: the GAUSSIAN (ε, δ) mechanism next to d34's pure-ε
    // Laplace — σ = sqrt(2·ln(1.25/δ))/ε, Φ⁻¹ via Acklam's rational
    // approximation (pure arithmetic + sqrt/ln → bit-exact oracle).
    "d125_dp_gaussian" -> ((s, d) =>
      graft.operators.Anonymity.noisedCountsGaussian(Tables.events(s, d),
        Seq("event_type"), epsilon = 0.5, delta = 1e-6)),
    // D238: Gaussian SUM release — d101's contribution-bounded sums
    // under the (ε, δ) mechanism (σ = cap·sqrt(2 ln(1.25/δ))/ε).
    "d130_dp_gaussian_sums" -> ((s, d) =>
      graft.operators.Anonymity.noisedSumsGaussian(Tables.events(s, d),
        Seq("event_type"), "user_id", "value", cap = 500.0,
        epsilon = 0.5, delta = 1e-6)),
    // D234: the DP BUDGET LEDGER — sequential-composition accounting
    // across releases on a tiny VersionedTable: init a (ε=2, δ=1e-6)
    // budget, record the week's four releases (the d34 family + the
    // Gaussian one), REPLAY one to prove release-name idempotence,
    // and emit the running totals/headroom. All integer-grid BIGINT →
    // exact oracle; DpLedgerSpec pins the loud budget-exceeded
    // failure.
    "d126_dp_ledger" -> ((s, d) => {
      val (_, dir) = indexScratch(d, "graft_dp_ledger")
      graft.sources.VersionedTable.drop(s, dir)
      graft.operators.DpLedger.init(s, dir, epsBudget = 2.0,
        deltaBudget = 1e-6)
      graft.operators.DpLedger.record(s, dir, "counts-week1",
        "laplace-counts", 0.5, 0.0)
      graft.operators.DpLedger.record(s, dir, "sums-week1",
        "laplace-sums", 0.5, 0.0)
      graft.operators.DpLedger.record(s, dir, "hist-week1",
        "laplace-histogram", 0.4, 0.0)
      graft.operators.DpLedger.record(s, dir, "gauss-week1",
        "gaussian-counts", 0.3, 5e-7)
      // replayed release: must not double-count
      graft.operators.DpLedger.record(s, dir, "gauss-week1",
        "gaussian-counts", 0.3, 5e-7)
      graft.operators.DpLedger.summary(s, dir)
    }),
    // D236: advanced composition over the same ledger — the
    // sqrt(k)-scaling (ε, δ) bound vs d126's basic Σε account.
    "d128_dp_ledger_advanced" -> ((s, d) => {
      val (_, dir) = indexScratch(d, "graft_dp_ledger_adv")
      graft.sources.VersionedTable.drop(s, dir)
      graft.operators.DpLedger.init(s, dir, epsBudget = 2.0,
        deltaBudget = 1e-6)
      graft.operators.DpLedger.record(s, dir, "counts-week1",
        "laplace-counts", 0.5, 0.0)
      graft.operators.DpLedger.record(s, dir, "sums-week1",
        "laplace-sums", 0.5, 0.0)
      graft.operators.DpLedger.record(s, dir, "hist-week1",
        "laplace-histogram", 0.4, 0.0)
      graft.operators.DpLedger.record(s, dir, "gauss-week1",
        "gaussian-counts", 0.3, 5e-7)
      graft.operators.DpLedger.advancedSummary(s, dir, deltaSlack = 1e-9)
    }),
    // multi-column release cells — exercises the \u0001 (U+0001)-separated tuple
    // hash (concat_ws("") would conflate cells and correlate their
    // noise; AnonymitySpec pins the conflation case, this row pins the
    // cross-engine hash agreement on >1 group column).
    "d34_noised_counts_multi" -> ((s, d) =>
      graft.operators.Anonymity.noisedCounts(
        Tables.events(s, d).select(col("event_type"),
          pmod(col("user_id"), lit(3L)).cast("string").as("seg")),
        Seq("event_type", "seg"), epsilon = 0.5)),
    // D242: the SAME multi-column cell pin for the GAUSSIAN release —
    // round 13 shipped the Gaussian mechanisms with a ""-separated
    // tuple hash while their DuckDB twins used chr(1), a divergence
    // the single-group-column d125/d130 rows masked; this row keeps
    // the cross-engine agreement load-bearing on >1 group column.
    "d125_dp_gaussian_multi" -> ((s, d) =>
      graft.operators.Anonymity.noisedCountsGaussian(
        Tables.events(s, d).select(col("event_type"),
          pmod(col("user_id"), lit(3L)).cast("string").as("seg")),
        Seq("event_type", "seg"), epsilon = 0.5, delta = 1e-6)),
    // D208: Laplace-noised HISTOGRAM release — the distribution leg of
    // the private-release family: d18's bounded-bin fold (dense spine,
    // explicit zero rows — an absent empty bin leaks) + per-bin
    // deterministic Laplace(1/ε), one ε for the whole release by
    // parallel composition over the disjoint bins.
    "d34_noised_histogram" -> ((s, d) =>
      graft.operators.Anonymity.noisedHistogram(Tables.lineitem(s, d),
        "l_extendedprice", 0.0, 110000.0, 22, epsilon = 0.5)),
    // D241: the histogram release under the Gaussian mechanism —
    // completes the (Laplace, Gaussian) x (counts, sums, histogram)
    // release matrix.
    "d131_dp_gaussian_histogram" -> ((s, d) =>
      graft.operators.Anonymity.noisedHistogramGaussian(
        Tables.lineitem(s, d), "l_extendedprice", 0.0, 110000.0, 22,
        epsilon = 0.5, delta = 1e-6)),
    // D209: quantiles read off the NOISED CDF — free by DP
    // post-processing (no extra ε); clamp → cumulate → interpolate
    // inside the reaching bin, boundary edges for under/overflow.
    "d34_noised_quantiles" -> ((s, d) =>
      graft.operators.Anonymity.noisedQuantiles(Tables.lineitem(s, d),
        "l_extendedprice", 0.0, 110000.0, 22, epsilon = 0.5,
        ps = Seq(0.25, 0.5, 0.9, 0.99))),
    // D78: MAD robust rate anomaly — d9's σ z-score replaced by
    // median/MAD so a burst can't inflate the spread and mask itself;
    // hourly counts per event type, exact type-7 medians on the 4-dp
    // grid, robust z on the 6-dp grid.
    // D111: SEASONAL-BASELINE anomaly — d35's median/MAD monitor with
    // the baseline keyed by (type, day-of-week, hour-of-day): a quiet
    // Sunday 3am is not an anomaly just because weekday noon is busy,
    // and a weekday-noon outage is not masked by the weekly average.
    // Pure composition: the SAME madOutliers over seasonal group keys
    // (dow via datediff from a fixed Sunday — engine-portable; both
    // engines' native dayofweek disagree on numbering).
    "d56_seasonal_anomaly" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow",
          pmod(datediff(to_date(col("hour")), lit("2024-01-07").cast("date")),
            lit(7)))
        .withColumn("hod", hour(col("hour")))
      graft.impute.Robust.madOutliers(hourly, "n",
        Seq("event_type", "dow", "hod"))
    }),
    "d35_robust_anomaly" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
      graft.impute.Robust.madOutliers(hourly, "n", Seq("event_type"))
        .select(col("event_type"), col("hour"), col("n"),
          col("med"), col("robust_z"), col("flagged"))
    }),
    // D53: event-type transition matrix — per-user Markov transitions
    // (prev type → type) with exact counts and one-division
    // probabilities; the behavioral-analytics twin of the text bigram
    // LM. One user-hash shuffle for the lag, then a tiny (5×5) agg.
    "d19_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pw = Window.partitionBy(col("prev_type"))
      Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p",
          col("n").cast("double") / sum(col("n")).over(pw).cast("double"))
    }),
    // B8c: TIME-range window frame — trailing 1-hour per-user activity
    // (sliding feature windows keyed on event time, not row position).
    // Spark's rangeBetween needs a numeric sort key: integer
    // microseconds, [-3.6e9, 0] inclusive ≡ SQL RANGE INTERVAL 1 HOUR
    // PRECEDING; peers (equal ts) are in-frame in both engines.
    "b8_window_time_range" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
          .as("v_1h"))
    }),
    // D57: weighted PageRank on the nation trade graph (customer
    // nation → supplier nation, weight = lineitem count), 3 iterations
    // on the BIGINT micro-unit grid — bit-exact vs DuckDB's unrolled
    // WITH chain. The edge list is the only corpus-sized frame; ranks
    // are #nodes-sized, so each iteration is one broadcastable join +
    // one partial-agg'd shuffle (PageRank Scaladoc).
    "d23_pagerank" -> ((s, d) => {
      val edges = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.graph.PageRank.ranks(edges, iterations = 3)
        .join(broadcast(Tables.nation(s, d)),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("pr_rank"))
    }),
    // D169: Spearman rank correlation — the monotone-association read
    // Pearson gets wrong on heavy tails: ranks on the half-integer
    // grid (doubled → exact BIGINTs), five exact decimal moments, one
    // closed form. The robust sibling of d28_correlation.
    "d89_spearman" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(
        col("source"),
        graft.text.TextFunctions.wordCount(col("text")).as("x"),
        col("n_chars").as("y"))
      graft.operators.RankCorrelation.spearman(docs, "x", "y",
        Seq("source"))
    }),
    // D170: entropy l-diversity — the release-audit triad's stronger
    // middle leg (distinct-l is gamed by a 99:1 class; entropy is
    // not). Per-value −p·ln p on the 1e-9 grid → order-free class
    // sums, effective l = e^H.
    "d90_entropy_ldiv" -> ((s, d) =>
      graft.operators.Anonymity.entropyLDiversity(
        Tables.orders(s, d).select(col("o_orderstatus"),
          pmod(col("o_custkey"), lit(10L)).as("seg"),
          col("o_orderpriority")),
        Seq("o_orderstatus", "seg"), "o_orderpriority", l = 3.0)),
    // D168: join-explosion audit — predict |A ⋈ B| and its key skew
    // from two per-key count aggs WITHOUT running the join (the 3am
    // OOM conversation, had at plan time). Self-join of events on
    // user_id: the sessionization shape whose pair count explodes on
    // hot users.
    "d88_join_audit" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.operators.JoinAudit.joinCardinality(ev, ev, Seq("user_id"),
        k = 10)
    }),
    // D191: recommender backtest — rules trained on pre-2000 baskets,
    // top-lift recommendation per test-basket item, hit iff it really
    // co-occurs post-cutoff: the honest eval (training on the test
    // period inflates hit rates the way leaked features inflate AUC).
    "d106_rec_backtest" -> ((s, d) => {
      val baskets = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 40)
        .join(Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"),
          col("o_orderdate").as("ts"))
      graft.operators.MarketBasket.backtest(baskets, "b", "i", "ts",
        "2000-01-01 00:00:00", minPairs = 1)
    }),
    // D188: RFM segmentation — recency/frequency/monetary quintile
    // scores (recency inverted) folded into first-match lifecycle
    // segments; exact type-7 quintile cutoffs broadcast back. The
    // retention program's routing table.
    "d104_rfm" -> ((s, d) =>
      graft.operators.Rfm.rfm(Tables.events(s, d), "user_id", "ts",
        "value", col("event_type") === "purchase")),
    // D187: association rules — support/confidence/LIFT for co-bought
    // part pairs (lift divides away the bestseller base rate that
    // confidence alone crowns). Pair tier, basket-size-bounded join.
    "d103_assoc_rules" -> ((s, d) =>
      graft.operators.MarketBasket.rules(
        Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i")),
        "b", "i", minPairs = 1, k = 50)),
    // D193: time-decayed engagement features — 2^{−Δt/halflife}
    // weights at the same cutoff discipline as d102: current
    // engagement mass, not lifetime counts. Per-row weights on the
    // 1e-9 grid so unit sums are order-free.
    "d107_decayed_features" -> ((s, d) =>
      graft.operators.Decay.decayedFeatures(Tables.events(s, d),
        "user_id", "ts", "value", "2024-01-20 00:00:00",
        halfLifeDays = 7.0)),
    // D186: leakage-safe churn labels — features strictly ≤ the
    // Jan-20 cutoff, label strictly from the 7-day horizon after it,
    // units born after the cutoff excluded: the supervised-dataset
    // discipline as an operator.
    "d102_churn_labels" -> ((s, d) =>
      graft.operators.Labels.churnLabels(Tables.events(s, d),
        "user_id", "ts", "value", "2024-01-20 00:00:00",
        horizonDays = 7)),
    // D183: count-metric health — overdispersion index + zero share
    // per event type over the user universe: decides whether Poisson
    // CIs/thresholds are even admissible (index 1 = Poisson; ≫ 1 =
    // negative-binomial world). Zeros enter analytically — no
    // user × type cross join.
    "d100_count_health" -> ((s, d) =>
      graft.operators.SeriesStats.countHealth(Tables.events(s, d),
        "user_id", "event_type")),
    // D179: empirical-Bayes rate shrinkage — per-user purchase rates
    // shrunk toward the MoM Beta prior fit on the user ensemble: the
    // fix for every "top groups by rate = smallest n" leaderboard.
    "d97_eb_rates" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("k"),
          count(lit(1)).as("n"))
      graft.operators.Shrinkage.ebRates(perUser, Seq("user_id"),
        "k", "n")
    }),
    // D180: fixed-effect meta-analysis — the per-segment A/B effects
    // pooled with inverse-variance weights + the Q/I² heterogeneity
    // read ("is it ONE effect?"). Segments = user_id % 5 cohorts;
    // per-segment Welch cells from one conditional agg.
    "d98_meta_analysis" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)").as("m"))
        .withColumn("seg", pmod(col("user_id"), lit(5L)))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treatment"), salt = 17))
      def cellN(v: String) =
        count(when(col("variant") === v, lit(1)))
      def cellS(v: String) = sum(when(col("variant") === v, col("m")))
      def cellQ(v: String) =
        sum(when(col("variant") === v, col("m") * col("m")))
      val perSeg = perUser.groupBy(col("seg"))
        .agg(cellN("treatment").as("nt"), cellS("treatment").as("st"),
          cellQ("treatment").as("qt"), cellN("control").as("nc"),
          cellS("control").as("sc"), cellQ("control").as("qc"))
      def dd(c: String) = col(c).cast("double")
      def varC(q: String, ss: String, n: String) =
        (dd(q) - dd(ss) * dd(ss) / dd(n)) / (dd(n) - lit(1.0))
      val eff = perSeg
        .filter(col("nt") >= 2 && col("nc") >= 2)
        .select(col("seg"),
          (dd("st") / dd("nt") - dd("sc") / dd("nc")).as("e"),
          sqrt(varC("qt", "st", "nt") / dd("nt") +
            varC("qc", "sc", "nc") / dd("nc")).as("se"))
      graft.operators.MetaAnalysis.fixedEffect(eff, "e", "se")
    }),
    // D177: Holt linear-trend forecast — the series family's forward
    // leg: per-event-type daily value series → level/trend recursion
    // driver-side over the bounded day axis, mirrored bit-exactly by
    // a DuckDB RECURSIVE CTE; 7-day horizon.
    "d96_holt_forecast" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type").as("g"),
          date_trunc("day", col("ts")).as("t"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("y"))
      graft.operators.Forecast.holt(daily, Seq("g"), "t", "y",
        alpha = 0.3, beta = 0.1, horizon = 7)
    }),
    // D176: instrumental variables (Wald) — the non-compliance read:
    // hash-latent always-takers (30%) plus compliers who take up only
    // when encouraged (z=1), so the first stage is ~0.7 at ANY SF
    // while the outcome link stays null (LATE ≈ 0 — the honest read).
    // ITT / first stage with the delta-method SE; the weak-instrument
    // t reported alongside.
    "d95_iv_wald" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)").as("m"))
        .withColumn("z",
          when(graft.operators.Experiment.variantOf(col("user_id"),
            Seq("z0", "z1"), salt = 29) === "z1", 1).otherwise(0))
        .withColumn("d",
          when(col("z") === 1 ||
            graft.functions.Noise.hashNoise(col("user_id"), 31) < 0.3,
            1L).otherwise(0L))
      graft.operators.Experiment.ivWald(perUser, "z", "d", "m")
    }),
    // D173: regression discontinuity — the third quasi-experimental
    // read: local linear both sides of a running-variable cutoff
    // (quantity 25 ± 10); the jump at the cutoff is the effect (≈ 0
    // on this data — the null read is the point). One conditional
    // exact-sum agg, twelve moments, one closed form.
    "d93_rdd" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_quantity").cast("decimal(12,2)").as("r"),
        col("l_extendedprice").cast("decimal(12,2)").as("y"))
      graft.operators.Regression.discontinuity(li, "r", "y",
        cutoff = 25.0, bandwidth = 10.0)
    }),
    // D174: UCB1 bandit allocation — the decision layer over the
    // experiment estimates: optimism bonus per arm, route the next
    // block to the argmax. Exact per-arm sums, variant-axis closed
    // form, (ucb DESC, variant) pick.
    "d94_ucb" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)").as("m"))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("arm_a", "arm_b", "arm_c"), salt = 23))
      graft.operators.Experiment.ucbAllocation(perUser, "variant", "m",
        c = 100.0)
    }),
    // D172: event study (lead–lag DiD) — per-week treated−control gaps
    // relative to week 0: the parallel-trends diagnostic that makes
    // d82's 2×2 trustable (sloped pre-periods = the DiD eats a trend,
    // not an effect). One (group × week) conditional exact-sum agg.
    "d91_event_study" -> ((s, d) => {
      val perUserWeek = Tables.events(s, d)
        .groupBy(col("user_id"),
          floor((dayofmonth(col("ts")) - 1) / 7).cast("long").as("week"))
        .agg(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)").as("m"))
        .withColumn("grp", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treated"), salt = 17))
      graft.operators.Experiment.eventStudy(perUserWeek, "grp", "week",
        "m", "treated", "control", basePeriod = 0L)
    }),
    // D162: Markov removal-effect attribution — data-driven multi-touch
    // credit (Anderl et al. 2014): journeys → transition counts
    // (distributed), then k-step INTEGER absorption mass per
    // remove-one-channel variant (driver-side over the bounded state
    // axis, mirrored bit-exactly by the unrolled SQL chain). The causal
    // counterpoint to last-touch (d68).
    "d87_markov_attribution" -> ((s, d) =>
      graft.operators.Attribution.removalEffects(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type", "purchase")),
    // D181: k-core of the co-purchase graph — the dense-subgraph
    // pre-filter (spam rings and community nuclei survive peeling;
    // casual tails don't). Iterative fixed point → rows+spec like CC.
    "d99_kcore" -> ((s, d) => {
      val edges = graft.graph.Triangles.coOccurrenceEdges(
        Tables.lineitem(s, d).filter(col("l_quantity") >= 45),
        "l_orderkey", "l_partkey")
      graft.graph.KCore.kCore(edges, k = 2)
    }),
    // D161: HITS over the same trade graph — the BIPARTITE importance
    // read PageRank collapses: hub = "buys from everywhere", authority
    // = "everyone buys from". Integer L∞-normalized half-steps, fixed
    // 4 iterations unrolled bit-exactly into the oracle.
    "d86_hits" -> ((s, d) => {
      val edges = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.graph.Hits.scores(edges, iterations = 4)
        .join(broadcast(Tables.nation(s, d)),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("hub"), col("auth"))
    }),
    // D155: label-propagation communities over the same co-purchase
    // nation graph as d23 — the clustering read (which nations form
    // one trade community) next to PageRank's importance read.
    // Synchronous, integer-weight argmax with (score DESC, label ASC)
    // ties → a fixed 4 rounds unrolls into the DuckDB oracle.
    // D194: modularity of the LPA partition — the number that says
    // whether d81's communities MEAN anything (Q ≈ 0 = luck under the
    // degree-preserving null; the nation trade graph is near-complete,
    // so a near-zero read is itself the honest diagnosis). Unweighted
    // over the distinct undirected edge set, self-loops excluded.
    "d108_modularity" -> ((s, d) => {
      val trade = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        // materialized once: trade feeds BOTH the LPA labels and the
        // undirected edge set — unchecked, the 4-table join +
        // aggregate subtree executes twice per query
        .localCheckpoint()
      val labels = graft.graph.LabelPropagation.communities(trade,
        rounds = 4)
      val und = trade.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      graft.graph.Modularity.modularity(und, labels)
    }),
    // D211: Louvain one-level refinement — the modularity-IMPROVING
    // step over d81's LPA labels (d108 only SCORES them): strict-gain
    // parity-staggered local moves on exact-integer 2m·k_ic − k_i·d_c
    // scores, 4 sweeps unrolled into the DuckDB oracle. LouvainSpec
    // pins Q(refined) ≥ Q(lpa) on this graph.
    "d115_louvain" -> ((s, d) => {
      val trade = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        // materialized once: trade feeds BOTH the undirected edge set
        // and the LPA seed labels — unchecked, the 4-table join +
        // aggregate subtree executes twice per query
        .localCheckpoint()
      val und = trade.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val lpa = graft.graph.LabelPropagation.communities(trade, rounds = 4)
      graft.graph.Louvain.refine(und, lpa, sweeps = 4)
        .join(broadcast(Tables.nation(s, d)),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("label"))
    }),
    // D227: LEIDEN-STYLE connectivity pass — d115's local moves can
    // strand a disconnected community (the defect Leiden's refinement
    // fixes); the post-pass splits every community into the connected
    // components of its intra-community subgraph, making
    // "communities are internally connected" STRUCTURAL. Q
    // non-decreasing by construction; exact reachability closure
    // unrolls into the DuckDB oracle as a recursive CTE.
    "d119_leiden" -> ((s, d) => {
      val trade = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        // materialized once: trade feeds BOTH the undirected edge set
        // and the LPA seed labels — unchecked, the 4-table join +
        // aggregate subtree executes twice per query
        .localCheckpoint()
      val und = trade.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val lpa = graft.graph.LabelPropagation.communities(trade, rounds = 4)
      graft.graph.Louvain.leiden(und, lpa, sweeps = 4)
        .join(broadcast(Tables.nation(s, d)),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("label"))
    }),
    // D228: TWO-LEVEL LEIDEN — d118's two-phase Louvain with the
    // connectivity pass after EACH local-move phase, before
    // contraction: every super-node is internally connected by
    // construction, so the mapped-back level-2 communities carry the
    // Leiden connectivity guarantee structurally end to end.
    "d120_leiden_two_level" -> ((s, d) => {
      val trade = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        // materialized once: trade feeds BOTH the undirected edge set
        // and the LPA seed labels — unchecked, the 4-table join +
        // aggregate subtree executes twice per query
        .localCheckpoint()
      val und = trade.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val lpa = graft.graph.LabelPropagation.communities(trade, rounds = 4)
      graft.graph.Louvain.leidenTwoLevel(und, lpa, sweeps = 4)
        .join(broadcast(Tables.nation(s, d)),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("label"))
    }),
    // D214b: FULL two-phase Louvain — local moves, community
    // contraction (intra edges → weighted self-loops), a second
    // weighted local-move pass on the contracted graph, labels mapped
    // back. The whole-community merges one-level moves can't make;
    // LouvainSpec pins the resolution-limit fixture.
    "d118_louvain_two_level" -> ((s, d) => {
      val trade = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        // materialized once: trade feeds BOTH the undirected edge set
        // and the LPA seed labels — unchecked, the 4-table join +
        // aggregate subtree executes twice per query
        .localCheckpoint()
      val und = trade.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val lpa = graft.graph.LabelPropagation.communities(trade, rounds = 4)
      graft.graph.Louvain.twoLevel(und, lpa, sweeps = 4)
        .join(broadcast(Tables.nation(s, d)),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("label"))
    }),
    "d81_label_prop" -> ((s, d) => {
      val edges = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.graph.LabelPropagation.communities(edges, rounds = 4)
        .join(broadcast(Tables.nation(s, d)),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("label"))
    }),
    // D58: k-anonymity / l-diversity audit — equivalence classes on
    // (nation, market segment), sensitive column acctbal; k=12 sits
    // mid-distribution (class sizes 5–21 at sf0.01) so both at-risk
    // and safe classes appear. One hash agg over the table.
    "d24_k_anonymity" -> ((s, d) =>
      graft.operators.Anonymity.audit(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 12)),
    // D143: t-closeness — the leak the k/l audit can't see: a class
    // whose sensitive DISTRIBUTION skews far from the table-wide one
    // discloses by membership alone. Ordered-distance EMD per class
    // over the acctbal value grid, flagged at t = 0.15.
    "d75_t_closeness" -> ((s, d) =>
      graft.operators.Anonymity.tCloseness(Tables.customer(s, d),
        Seq("c_mktsegment"), "c_acctbal", threshold = 0.15)),
    // D60: session path mining — top navigation paths: per user-day
    // session, the ordered event-type sequence (capped at the first 12
    // events so a hot user can't build an unbounded string), counted
    // and top-50'd. ONE (user, day) shuffle for the ordered collapse
    // (sort_array over structs — no window), then a tiny path agg and
    // TakeOrderedAndProject. Total order (ts, event_id) makes the
    // path string deterministic.
    "d26_top_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 12)
        .groupBy(col("user_id"), col("day"))
        .agg(concat_ws(">", transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          e => e.getField("event_type"))).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), asc("path")).limit(50)
    }),
    // D61: key-skew profile — the shuffle-planning diagnostic: rows
    // per join key, bucketed by decimal magnitude (digits of the
    // count — pure integer/string arithmetic, no log2 floats), with
    // per-bucket key counts, row mass, and the hottest key size.
    // Two partial-agg'd hash aggs; nothing corpus-sized leaves the
    // first one.
    "d27_key_skew" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
        .groupBy(length(col("cnt").cast("string")).as("magnitude"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_per_key"))),
    // D62: correlation matrix — exact-grid Pearson over the lineitem
    // numerics: every sum (n, Σx, Σy, Σx², Σy², Σxy) is an exact
    // DECIMAL on the cents grid (factors cast to DECIMAL BEFORE the
    // product — the doubles are 2-dp-representable, so products are
    // exact 4-dp decimals), then one fixed double-arithmetic formula
    // over identical operands in both engines. ONE scan, one 1-row
    // partial-agg'd aggregate for all three pairs.
    "d28_correlation" -> ((s, d) => {
      def dec(c: String) = col(c).cast("decimal(18,2)")
      def pair(x: String, y: String) = Seq(
        count(col(x)).cast("double").as(s"n_${x}_$y"),
        sum(dec(x)).cast("double").as(s"sx_${x}_$y"),
        sum(dec(y)).cast("double").as(s"sy_${x}_$y"),
        sum(dec(x) * dec(x)).cast("double").as(s"sxx_${x}_$y"),
        sum(dec(y) * dec(y)).cast("double").as(s"syy_${x}_$y"),
        sum(dec(x) * dec(y)).cast("double").as(s"sxy_${x}_$y"))
      val pairs = Seq(("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"), ("l_extendedprice", "l_discount"))
      val aggs = pairs.flatMap { case (x, y) => pair(x, y) }
      val sums = Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
      // all three pairs from the ONE 1-row aggregate (an explode of
      // literal structs, not a union that would re-run the scan)
      val rows = pairs.map { case (x, y) =>
        val (n, sx, sy, sxx, syy, sxy) =
          (col(s"n_${x}_$y"), col(s"sx_${x}_$y"), col(s"sy_${x}_$y"),
            col(s"sxx_${x}_$y"), col(s"syy_${x}_$y"), col(s"sxy_${x}_$y"))
        // floor-portable 6-dp finish: the UNROUNDED quotient diverged
        // at sf0.1 (4e-19 — the engines' decimal→double conversions
        // round the big sxx/syy sums differently by 1 ulp); emitted
        // statistics end on the 6-dp grid per §5.3
        struct(lit(x).as("x_col"), lit(y).as("y_col"),
          (floor(((n * sxy - sx * sy) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
            * lit(1e6) + lit(0.5)) / lit(1e6))
            .as("corr"))
      }
      sums.select(explode(array(rows: _*)).as("r"))
        .select(col("r.x_col"), col("r.y_col"), col("r.corr"))
    }),
    // D66: per-key rate limiting (streaming.RateLimit batch twin) —
    // every event annotated with its within-user-DAY arrival rank and
    // an admitted flag for the first 3 (day buckets: the cap actually
    // binds on this fixture — max 10/user-day at sf0.01); ONE
    // (user, day) shuffle with bounded frames. The streaming form is
    // the same pure fold in a transformWithState processor
    // (RateLimitSpec: stream ≡ batch ≡ this window form).
    "d29_rate_limit" -> ((s, d) =>
      graft.streaming.RateLimit.capBatch(Tables.events(s, d),
        cap = 3, truncUnit = "day")),
    // D67: debounce — telemetry dedup: drop an event arriving within
    // 30 min of the SAME user's previous event of the same type (lag
    // gap-filter semantics, the standard alert-merge debounce; the
    // threshold sits where it actually BINDS on this fixture — min
    // same-user-type gap is ~8 s, p01 ≈ 30 min, so ~1% of rows drop).
    // One (user, type) shuffle, codegen'd lag + filter.
    "d30_debounce" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .where(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L)
        .drop("prev_us")
    }),
    // D68: LEFT-OUTER attribution join — d7's interval join keeping
    // unattributed purchases (null click columns); on streams Spark
    // holds each purchase until the click watermark passes its
    // interval, so state stays bounded and the row set converges to
    // this batch twin.
    "d31_attribution_outer" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.streaming.EventStreams.attributionJoinOuter(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        windowMinutes = 10)
    }),
    // D69: A/B experiment analysis — units = users over ALL events (a
    // user with no purchases contributes metric 0, the correct
    // intention-to-treat denominator), deterministic intRank variant
    // assignment, per-user purchase value on the exact decimal grid,
    // Welch t from Σm/Σm² in ONE pass. Two shuffles total: the
    // per-user groupBy and a 1-row partial-agg'd summary.
    // D97: POISSON BOOTSTRAP CI — the distributed bootstrap (per-row
    // Poisson(1) weights, all B replicas in ONE aggregation pass, no
    // resampling shuffle) on the per-type mean event value. Shuffle
    // traffic is |groups|·B, not |corpus|·B; the draw is keyed
    // hash-noise through a literal inverse-CDF ladder so the whole CI
    // is bit-exact under the oracle.
    "d46_bootstrap_ci" -> ((s, d) =>
      graft.operators.Bootstrap.meanCi(Tables.events(s, d), "value",
        Seq("event_type"), col("event_id"), b = 100)),
    // D98: SAMPLE-RATIO MISMATCH — the experiment-health gate before
    // any readout: observed per-arm unit counts vs the designed 50/50
    // split, Pearson χ² folded over the bounded variant axis.
    "d47_srm" -> ((s, d) =>
      graft.operators.Experiment.srmCheck(
        Tables.events(s, d).select(col("user_id")).distinct()
          .withColumn("variant", graft.operators.Experiment.variantOf(
            col("user_id"), Seq("control", "treatment"), salt = 17)),
        "variant", Map("control" -> 0.5, "treatment" -> 0.5))),
    // D99: NELSON–AALEN cumulative hazard — the additive twin of d42's
    // KM product over the same per-user conversion frame.
    "d50_nelson_aalen" -> ((s, d) =>
      graft.operators.Survival.nelsonAalen(
        survivalPerUser(s, d), "duration", "event",
        bucketUs = 3600000000L)),
    // D100: RESTRICTED MEAN SURVIVAL TIME — ∫₀^τ S(t)dt at a 1-week
    // horizon (168 hourly buckets): "average conversion-free hours in
    // the first week", the single-number time-unit summary.
    "d51_rmst" -> ((s, d) =>
      graft.operators.Survival.rmst(
        survivalPerUser(s, d), "duration", "event",
        bucketUs = 3600000000L, horizonBuckets = 168L)),
    // D103: MANN–WHITNEY U — the nonparametric A/B readout for the
    // heavy-tailed, zero-inflated revenue metric Welch's t mishandles.
    // Ranking collapses to the bounded DECIMAL value axis (the
    // KM/histogram recipe): groupBy value + ordered running sums —
    // no corpus-sized window, no per-unit rank.
    "d52_mann_whitney" -> ((s, d) => {
      graft.operators.Experiment.mannWhitney(
        abPerUser(s, d), "variant", "m", "control", "treatment")
    }),
    // D104: 2×2 χ² of independence — conversion-rate A/B in closed
    // form from four exact cells.
    "d53_chi2_conversion" -> ((s, d) => {
      graft.operators.Experiment.chiSquareConversion(
        abPerUser(s, d).withColumn("success", (col("m") > 0).cast("int")),
        "variant", "success", "control", "treatment")
    }),
    // D112: GINI concentration — how concentrated is value across
    // events, per type: the corpus-balance diagnostic read before
    // sampling (high Gini = a handful of rows ARE the mass) and the
    // whale-detector behind any mean. Rank sums collapse to the
    // bounded decimal value axis (exact decimal tie-block arithmetic).
    "d57_gini" -> ((s, d) =>
      graft.operators.Inequality.gini(Tables.events(s, d), "value",
        Seq("event_type"))),
    // D133: QUANTILE NORMALIZATION — map each type's value
    // distribution onto the POOLED quantile function (v ↦
    // Q_pool(F_type(v))): the batch-effect correction that lets
    // differently-calibrated scorers share one threshold. Bounded
    // value axes + ONE union-axis range-frame window — no theta join,
    // no per-row rank.
    "d67_quantile_norm" -> ((s, d) =>
      graft.operators.QuantileNormalize.normalize(
        Tables.events(s, d)
          .select(col("event_id"), col("event_type").as("g"),
            col("value").as("v")),
        "g", "v")),
    // D139: WEIGHT DIAGNOSTICS — ESS/max-share of value-proportional
    // sampling weights per type: the degeneracy check run BEFORE
    // trusting any PPS/mixture/DSIR selection (ESS/n → 0 means the
    // weighted corpus is a small dataset wearing a big row count).
    "d72_ess" -> ((s, d) =>
      graft.operators.Sampling.weightDiagnostics(
        Tables.events(s, d).select(col("event_type"),
          col("value").as("w")),
        "w", Seq("event_type"))),
    // D136: THEIL–SEN robust trend — median pairwise slope of hourly
    // revenue per type: the trend readout one corrupted bucket cannot
    // move (OLS breakdown point 0; Theil–Sen ~29%). Axis-bounded
    // quadratic BY DESIGN: pairs live on the bucketed series axis
    // (~720 hours), never corpus rows.
    "d69_theil_sen" -> ((s, d) =>
      graft.operators.SeriesStats.theilSen(
        Tables.events(s, d)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("t"))
          .agg(sum(col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("x")),
        "t", "x", Seq("event_type"))),
    // D137: SEASONAL DECOMPOSITION — hourly revenue per type split
    // into trend (2x24 centered MA) + daily seasonal + residual: the
    // pass run before CUSUM/anomaly gating on a rhythmic metric (a
    // raw CUSUM on seasonal revenue alarms every morning; on the
    // residual it alarms on real shifts). Exact scaled-integer MA and
    // phase folds; doubles only in final fixed-sequence divisions.
    "d70_seasonal_decomp" -> ((s, d) =>
      graft.operators.SeriesStats.seasonalDecompose(
        Tables.events(s, d)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("t"))
          .agg(sum(col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("x")),
        "t", "x", Seq("event_type"), period = 24)),
    // D134: LJUNG–BOX — is hourly revenue white noise per type: the
    // portmanteau Q over the first 3 lags against chi2(3); the formal
    // reading of the ACF profile.
    "d68_ljung_box" -> ((s, d) =>
      graft.operators.SeriesStats.ljungBox(
        Tables.events(s, d)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("t"))
          .agg(sum(col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("x")),
        "t", "x", Seq("event_type"), maxLag = 3)),
    // D132: AUTOCORRELATION — lag-1..3 ACF of hourly revenue per type:
    // the series-memory diagnostic read before trusting an i.i.d.
    // assumption or choosing seasonal windows. Exact micro-unit
    // deviations, DECIMAL(38,0)/HUGEINT product folds, one rn-shift
    // equi-join for all lags.
    "d66_acf" -> ((s, d) =>
      graft.operators.SeriesStats.acf(
        Tables.events(s, d)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("t"))
          .agg(sum(col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("x")),
        "t", "x", Seq("event_type"), maxLag = 3)),
    // D138: JENSEN–SHANNON drift — the BOUNDED, symmetric index over
    // the same half-month snapshots: lands in [0,1] bits, so one
    // threshold works across metrics of any scale (PSI is unbounded,
    // W1 in metric units). Same fixed baseline-edge bins + ordered
    // fold as PSI.
    "d71_js_divergence" -> ((s, d) =>
      graft.operators.Drift.jsDivergence(
        Tables.events(s, d).withColumn("snapshot",
          when(dayofmonth(col("ts")) <= 15, lit("base"))
            .otherwise(lit("curr"))),
        "snapshot", "value", "base", "curr",
        groupCols = Seq("event_type"))),
    // D131: WASSERSTEIN-1 drift — the earth-mover distance between the
    // two half-month value distributions per type: drift magnitude in
    // the metric's own units (PSI is unitless, KS a sup-norm). Pooled
    // value axis + segment-integral ordered folds.
    "d65_wasserstein" -> ((s, d) =>
      graft.operators.Drift.wasserstein1(
        Tables.events(s, d).withColumn("snapshot",
          when(dayofmonth(col("ts")) <= 15, lit("base"))
            .otherwise(lit("curr"))),
        "snapshot", "value", "base", "curr",
        groupCols = Seq("event_type"))),
    // D125: CUSUM changepoint detection — hourly revenue per type vs
    // its own mean: the sequential detector for SLOW persistent shifts
    // (PSI/seasonal-z catch magnitude and point outliers; CUSUM
    // accumulates small deviations until they cross h). Prefix-sum
    // closed form in integer micro-units — two ordered folds over the
    // bounded hourly axis, exact at any corpus size.
    "d64_cusum" -> ((s, d) =>
      graft.operators.Drift.cusum(
        Tables.events(s, d)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("t"))
          .agg(sum(col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("x")),
        "t", "x", Seq("event_type"),
        allowanceMicro = 50000000L, thresholdMicro = 200000000L)),
    // D115: SPLIT-CONFORMAL prediction intervals — distribution-free
    // ±q̂ around the per-segment mean predictor: train/cal/test carved
    // from custkey thirds; q̂ is the ⌈(n+1)(1−α)⌉-th residual order
    // statistic folded over the bounded 2-dp residual axis (never a
    // per-row rank window). The honesty layer over the imputers.
    "d63_conformal" -> ((s, d) =>
      graft.operators.Conformal.meanInterval(
        Tables.customer(s, d).select(col("c_mktsegment"),
          when(col("c_custkey") % 3 === 0, lit("train"))
            .when(col("c_custkey") % 3 === 1, lit("cal"))
            .otherwise(lit("test")).as("role"),
          col("c_acctbal").as("y")),
        "role", "y", Seq("c_mktsegment"), alpha10 = 1)),
    // D113: KOLMOGOROV–SMIRNOV two-sample — distribution-SHAPE A/B
    // readout on the same per-user revenue metric as d52: sup-norm of
    // the two ECDFs over the bounded decimal value axis (inclusive
    // running sums, no corpus-sized rank window).
    "d60_ks_test" -> ((s, d) =>
      graft.operators.Experiment.ksTest(
        abPerUser(s, d), "variant", "m", "control", "treatment")),
    // D114: POPULATION STABILITY INDEX — drift magnitude of the event
    // value distribution, first half of the month (baseline) vs second
    // (current), per event type: the monitoring metric that triggers
    // retraining. Baseline-anchored fixed bins + ordered fold over the
    // bounded bin axis.
    "d61_psi" -> ((s, d) =>
      graft.operators.Drift.psi(
        Tables.events(s, d).withColumn("snapshot",
          when(dayofmonth(col("ts")) <= 15, lit("base"))
            .otherwise(lit("curr"))),
        "snapshot", "value", "base", "curr", bins = 10,
        groupCols = Seq("event_type"))),
    // D110: BOOTSTRAP DIFFERENCE CI — the nonparametric A/B readout:
    // percentile CI on (treatment mean − control mean) from the same
    // one-pass Poisson replicas; a CI excluding 0 is the significance
    // call with no normality assumption on the revenue metric.
    "d55_bootstrap_diff" -> ((s, d) =>
      graft.operators.Bootstrap.diffCi(abPerUser(s, d), "variant", "m",
        "control", "treatment", col("user_id"))),
    // D105: DELTA-METHOD RATIO CI — purchases-per-event with user-level
    // clustering: the ratio-of-sums estimand whose numerator and
    // denominator correlate within a user (naive mean-of-ratios and
    // iid-mean treatments are both wrong). One exact-sum pass.
    "d54_ratio_ci" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "purchase", lit(1))).as("x"),
          count(lit(1)).as("y"))
      graft.operators.Experiment.ratioMetricCi(perUser, "x", "y")
    }),
    "d32_ab_test" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)").as("m"))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treatment"), salt = 17))
      graft.operators.Experiment.welchTTest(
        perUser, "variant", "m", "control", "treatment")
    }),
    // D114: BENJAMINI–HOCHBERG FDR over many metrics — the
    // many-METRICS twin of d58's many-looks correction: per-type
    // Welch z (one conditional-sum pass per metric), p via the
    // literal-coefficient A&S CDF tail, step-up threshold fold over
    // the bounded metric axis.
    "d59_bh_fdr" -> ((s, d) => {
      val perUnit = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(col("value").cast("decimal(12,2)"))
          .cast("decimal(18,2)").as("m"))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treatment"), salt = 17))
      graft.operators.Experiment.benjaminiHochberg(
        graft.operators.Experiment.welchZByGroup(perUnit, "event_type",
            "variant", "m", "control", "treatment")
          .withColumnRenamed("event_type", "metric"),
        "metric", "z")
    }),
    // D113: GROUP-SEQUENTIAL (O'Brien–Fleming) boundary — the peeking
    // fix the fixed-horizon d32 readout needs when experimenters look
    // daily: units enter at their first-seen day, cumulative Welch z
    // per look vs the early-conservative C·√(K/k) boundary (ordered
    // folds over the bounded day axis — the srm/KM recipe).
    "d58_sequential_obf" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(date_trunc("day", col("ts"))).as("look"),
          sum(when(col("event_type") === "purchase",
              col("value").cast("decimal(12,2)"))
            .otherwise(lit(0).cast("decimal(12,2)")))
            .cast("decimal(18,2)").as("m"))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treatment"), salt = 17))
      graft.operators.Experiment.obrienFleming(perUser, "look",
        "variant", "m", "control", "treatment")
    }),
    // D140: mSPRT always-valid p — the continuous-monitoring
    // complement to d58's fixed-schedule OBF boundary: valid at EVERY
    // look with no schedule, the running-min 1/Λ under a N(0, τ²)
    // effect prior. Same per-user purchase metric and look axis.
    "d73_msprt" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(date_trunc("day", col("ts"))).as("look"),
          sum(when(col("event_type") === "purchase",
              col("value").cast("decimal(12,2)"))
            .otherwise(lit(0).cast("decimal(12,2)")))
            .cast("decimal(18,2)").as("m"))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treatment"), salt = 17))
      graft.operators.Experiment.msprt(perUser, "look",
        "variant", "m", "control", "treatment", tau2 = 100.0)
    }),
    // D156: difference-in-differences — the causal read for a staged
    // (unrandomized) rollout: treated-vs-control pre→post movement
    // nets out the standing group difference AND the common time
    // trend. Per-(user, half-of-month) purchase sums, 2×2 cells in
    // ONE conditional aggregate.
    // D158: simple OLS with inference — slope ± SE, t, R² of document
    // length in chars on length in words, per source: the auditable
    // effect size ("chars per word ≈ β₁ ± se") the correlation matrix
    // only hints at. Six exact BIGINT moments per group, one closed
    // form.
    "d84_ols" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(
        col("source"),
        graft.text.TextFunctions.wordCount(col("text")).as("x"),
        col("n_chars").as("y"))
      graft.operators.Regression.ols(docs, "x", "y", Seq("source"))
    }),
    // D157: Mahalanobis multivariate outliers — the JOINT-surprise
    // cleaning diagnostic per-column fences can't see: exact decimal
    // moments → closed-form 3×3 precision matrix → per-row d², top-100
    // ranked, flagged at the χ²₃ 0.999 tail. Identical IEEE formula in
    // both engines, so the whole scorer is oracle-exact.
    "d83_mahalanobis" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(12,2)").as("x1"),
        col("l_extendedprice").cast("decimal(12,2)").as("x2"),
        col("l_discount").cast("decimal(12,2)").as("x3"))
      graft.operators.Outliers.mahalanobis3(li, Seq("x1", "x2", "x3"),
        Seq("l_orderkey", "l_linenumber"), k = 100)
    }),
    "d82_diff_in_diff" -> ((s, d) => {
      val perUserPeriod = Tables.events(s, d)
        .groupBy(col("user_id"),
          when(dayofmonth(col("ts")) <= 15, "pre").otherwise("post")
            .as("period"))
        .agg(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)").as("m"))
        .withColumn("grp", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treated"), salt = 17))
      graft.operators.Experiment.diffInDiff(perUserPeriod, "grp",
        "period", "m", "treated", "control", "pre", "post")
    }),
    // D152: Yuen's trimmed t — robust effect SIZE in metric units:
    // 20% rank-trimmed means + winsorized-variance SE, the inference
    // a whale user cannot own (MW-U only ranks; Welch follows the
    // whale).
    "d79_yuen_trimmed" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)").as("m"))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treatment"), salt = 17))
      graft.operators.Experiment.yuenTrimmedT(perUser, "variant",
        "m", "control", "treatment", trim = 0.2)
    }),
    // D151: post-stratified difference — activity cohorts (per-user
    // event-count buckets) predict spend, so re-weighting arms to the
    // pooled cohort shares kills chance imbalance + the variance the
    // cohorts explain (CUPED's categorical counterpart).
    "d78_stratified_diff" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)").as("m"),
          count(lit(1)).as("__ne"))
        .withColumn("stratum", least(expr("__ne DIV 10"), lit(5L)))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treatment"), salt = 17))
      graft.operators.Experiment.stratifiedDiff(perUser, "variant",
        "stratum", "m", "control", "treatment")
    }),
    // D149: quantile treatment effects — WHERE the distribution moved:
    // per-variant exact type-7 quantiles of the per-user purchase
    // metric and their differences at p25/p50/p75/p90. The read that
    // catches "median improved, tail regressed" — invisible to d32's
    // mean test.
    "d77_quantile_effect" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")))
          .cast("decimal(18,2)").as("m"))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treatment"), salt = 17))
      graft.operators.Experiment.quantileEffect(perUser, "variant",
        "m", "control", "treatment", ps = Seq(0.25, 0.5, 0.75, 0.9))
    }),
    // D142: cluster-robust difference in means — randomize by USER,
    // analyze per EVENT: the naive per-row SE ignores within-user
    // correlation and over-rejects; the CR1 sandwich over cluster
    // totals is the honest read. design_effect quantifies the gap.
    "d74_cluster_se" -> ((s, d) => {
      val rows = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          col("value").cast("decimal(12,2)").as("m"))
        .withColumn("variant", graft.operators.Experiment.variantOf(
          col("user_id"), Seq("control", "treatment"), salt = 17))
      graft.operators.Experiment.clusterDiff(rows, "variant",
        "user_id", "m", "control", "treatment")
    }),
  )

  val oracle: Map[String, String] = Map(
    "d14_zorder_curve" -> s"""
      SELECT p_partkey, p_size,
        ${graft.operators.ZOrder.sqlZValue("p_size",
          "((p_partkey % 64) + 64) % 64", 6)} AS z
      FROM part""",
    "d13_column_profile" -> {
      def num(c: String) = s"""
        SELECT '$c' AS "column", count(*) AS n_rows,
          count(*) - count($c) AS n_nulls,
          count(DISTINCT $c) AS n_distinct,
          CAST(min($c) AS DOUBLE) AS min_d,
          CAST(max($c) AS DOUBLE) AS max_d,
          CAST(sum(CAST($c AS DECIMAL(32,6))) AS DOUBLE) / count($c) AS mean_d
        FROM lineitem"""
      def other(c: String) = s"""
        SELECT '$c' AS "column", count(*) AS n_rows,
          count(*) - count($c) AS n_nulls,
          count(DISTINCT $c) AS n_distinct,
          CAST(NULL AS DOUBLE) AS min_d, CAST(NULL AS DOUBLE) AS max_d,
          CAST(NULL AS DOUBLE) AS mean_d
        FROM lineitem"""
      Seq(num("l_orderkey"), num("l_quantity"), num("l_extendedprice"),
        num("l_discount"), other("l_returnflag"), other("l_shipdate"),
        other("l_linestatus")).mkString(" UNION ALL ")
    },
    "d13_column_profile_scale" -> {
      def num(c: String) = s"""
        SELECT '$c' AS "column", count(*) AS n_rows,
          count(*) - count($c) AS n_nulls,
          CAST(min($c) AS DOUBLE) AS min_d,
          CAST(max($c) AS DOUBLE) AS max_d,
          CAST(sum(CAST($c AS DECIMAL(32,6))) AS DOUBLE) / count($c) AS mean_d
        FROM lineitem"""
      def other(c: String) = s"""
        SELECT '$c' AS "column", count(*) AS n_rows,
          count(*) - count($c) AS n_nulls,
          CAST(NULL AS DOUBLE) AS min_d, CAST(NULL AS DOUBLE) AS max_d,
          CAST(NULL AS DOUBLE) AS mean_d
        FROM lineitem"""
      Seq(num("l_orderkey"), num("l_quantity"), num("l_extendedprice"),
        num("l_discount"), other("l_returnflag"), other("l_shipdate"),
        other("l_linestatus")).mkString(" UNION ALL ")
    },
    "d33_profile_drift" -> {
      def prof(c: String, from: String, numeric: Boolean) = {
        val stats =
          if (numeric) s"""CAST(min($c) AS DOUBLE) AS min_d,
            CAST(max($c) AS DOUBLE) AS max_d,
            CAST(sum(CAST($c AS DECIMAL(32,6))) AS DOUBLE) / count($c) AS mean_d"""
          else """CAST(NULL AS DOUBLE) AS min_d, CAST(NULL AS DOUBLE) AS max_d,
            CAST(NULL AS DOUBLE) AS mean_d"""
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
          count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
          $stats FROM $from"""
      }
      def rate(n: String, d: String) =
        s"CASE WHEN $d > 0 THEN round(CAST($n AS DOUBLE) / CAST($d AS DOUBLE), 6) END"
      s"""
      WITH curt AS (
        SELECT CASE WHEN ${graft.functions.Noise.sqlMissing("o_orderkey", 23, 0.10)}
                 THEN NULL ELSE o_totalprice END AS o_totalprice,
               o_orderstatus, o_orderpriority
        FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      ), prevt AS (
        SELECT o_totalprice, o_orderstatus, o_custkey
        FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      ), pc AS (
        ${prof("o_totalprice", "curt", numeric = true)} UNION ALL
        ${prof("o_orderstatus", "curt", numeric = false)} UNION ALL
        ${prof("o_orderpriority", "curt", numeric = false)}
      ), pp AS (
        ${prof("o_totalprice", "prevt", numeric = true)} UNION ALL
        ${prof("o_orderstatus", "prevt", numeric = false)} UNION ALL
        ${prof("o_custkey", "prevt", numeric = true)}
      ), j AS (
        SELECT coalesce(c.col_name, p.col_name) AS col_name,
          c.n_rows AS n_rows_cur, c.n_nulls AS n_nulls_cur,
          c.n_distinct AS n_distinct_cur, c.min_d AS min_cur,
          c.max_d AS max_cur, c.mean_d AS mean_cur,
          p.n_rows AS n_rows_prev, p.n_nulls AS n_nulls_prev,
          p.n_distinct AS n_distinct_prev, p.min_d AS min_prev,
          p.max_d AS max_prev, p.mean_d AS mean_prev
        FROM pc c FULL OUTER JOIN pp p ON c.col_name = p.col_name)
      SELECT col_name AS "column",
        CASE WHEN n_rows_prev IS NULL THEN 'added'
             WHEN n_rows_cur IS NULL THEN 'removed'
             ELSE 'common' END AS status,
        n_rows_cur, n_rows_prev,
        ${rate("n_nulls_cur", "n_rows_cur")} AS null_rate_cur,
        ${rate("n_nulls_prev", "n_rows_prev")} AS null_rate_prev,
        round(${rate("n_nulls_cur", "n_rows_cur")}
          - ${rate("n_nulls_prev", "n_rows_prev")}, 6) AS null_rate_delta,
        ${rate("n_distinct_cur", "n_rows_cur")} AS distinct_ratio_cur,
        ${rate("n_distinct_prev", "n_rows_prev")} AS distinct_ratio_prev,
        round(mean_cur - mean_prev, 6) AS mean_delta,
        CAST(min_cur < min_prev OR max_cur > max_prev AS INT) AS range_widened
      FROM j"""
    },
    "b7_grouping_sets" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        sum(l_quantity) AS sum_qty, count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
    "b13_pivot" -> """
      SELECT l_returnflag,
        sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
        sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o
      FROM lineitem GROUP BY l_returnflag""",
    "b13_unpivot" -> """
      SELECT c_custkey, 'acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS value
      FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer""",
    "b14_lateral_explode" -> """
      SELECT p_partkey, CAST(t.i - 1 AS BIGINT) AS pos, ws[t.i] AS word,
        CAST(length(ws[t.i]) AS BIGINT) AS word_len
      FROM (SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part),
           LATERAL unnest(range(1, len(ws) + 1)) AS t(i)""",
    "d7_interval_join" -> """
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        p.value AS purchase_value, c.event_id AS click_id, c.ts AS click_ts
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'""",
    "b8_window_ranking" -> """
      SELECT c_custkey, c_mktsegment, c_acctbal,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        round(percent_rank() OVER w, 9) AS pct_rank,
        round(cume_dist() OVER w, 9) AS cume,
        nth_value(c_custkey, 2) OVER (PARTITION BY c_mktsegment
          ORDER BY c_acctbal DESC, c_custkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_richest
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey ASC)""",
    "d3_salted_join" -> """
      SELECT o_orderpriority,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
          AS revenue,
        count(*) AS n_lines
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""",
    "d3_salted_agg" -> """
      SELECT l_returnflag,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag""",
    "d8_running_totals" -> """
      SELECT event_id, user_id,
        CAST(row_number() OVER w AS BIGINT) AS n_so_far,
        CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_so_far
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "d10_retention" -> """
      WITH uw AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
      ), firsts AS (
        SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id
      )
      SELECT cohort,
        CAST(datediff('day', cohort, wk) // 7 AS BIGINT) AS week_offset,
        count(DISTINCT user_id) AS n_users
      FROM uw JOIN firsts USING (user_id)
      GROUP BY cohort, datediff('day', cohort, wk) // 7""",
    "d9_rate_anomaly" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        FROM events GROUP BY event_type, date_trunc('hour', ts)
      ), stats AS (
        SELECT event_type, sum(n) AS s, sum(n * n) AS ss, count(*) AS k
        FROM hourly GROUP BY event_type
      ), j AS (
        SELECT h.event_type, h.hour, h.n,
          CAST(s AS DOUBLE) / CAST(k AS DOUBLE) AS mean_raw,
          (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             / CAST(k AS DOUBLE)) / CAST(k AS DOUBLE) AS var_raw
        FROM hourly h JOIN stats USING (event_type)
      )
      SELECT event_type, hour, n, round(mean_raw, 6) AS mean_n,
        CASE WHEN var_raw <= 0 THEN 0.0e0
          ELSE round((CAST(n AS DOUBLE) - mean_raw) / sqrt(var_raw), 6) END AS z,
        CAST(abs(CASE WHEN var_raw <= 0 THEN 0.0e0
          ELSE round((CAST(n AS DOUBLE) - mean_raw) / sqrt(var_raw), 6) END)
          >= 2.0e0 AS BIGINT) AS flagged
      FROM j""",
    "d6_bloom_join" -> """
      SELECT l_suppkey, count(*) AS n_items,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 9000)
      GROUP BY l_suppkey""",
    "q1_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
        sum(l_quantity) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        sum(l_quantity) / count(l_quantity) AS avg_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
        CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus""",
    "b2_filter_project" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-06-01' AND l_discount > 0.05""",
    "b3_star_join_revenue" -> """
      SELECT r_name, n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        count(*) AS line_count
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      GROUP BY r_name, n_name""",
    "b4_semi_join" -> """
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1998-01-01')""",
    "b4_anti_join" -> """
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1998-06-01')""",
    "b6_distinct_parts" -> """
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS distinct_parts,
             count(DISTINCT l_suppkey) AS distinct_supps
      FROM lineitem GROUP BY l_returnflag""",
    "b7_rollup" -> """
      SELECT l_returnflag, l_linestatus,
             sum(l_quantity) AS sum_qty, count(*) AS cnt,
             GROUPING(l_returnflag, l_linestatus) AS gid
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "b7_cube" -> """
      SELECT l_returnflag, l_linestatus,
             sum(l_quantity) AS sum_qty, count(*) AS cnt,
             GROUPING(l_returnflag, l_linestatus) AS gid
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "b8_window_running" -> """
      SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
        row_number() OVER w AS order_rank,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
             OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        lag(o_totalprice, 1) OVER w AS prev_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "b9_topk_orders" -> """
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""",
    "b15_correlated_scalar" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders o
      WHERE o_totalprice > 2 * (
        SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(*)
        FROM orders i
        WHERE i.o_custkey = o.o_custkey)""",
    "b10_set_ops" -> """
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
       UNION
       SELECT c_custkey FROM customer WHERE c_acctbal > 8000)
      EXCEPT ALL
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
       INTERSECT
       SELECT c_custkey FROM customer WHERE c_acctbal > 8000)""",
    "b11_scalar_functions" -> """
      SELECT upper(event_type) AS etype_upper,
             user_id % 10 AS user_bucket,
             CAST(sum(k_value) AS BIGINT) AS k_sum,
             round(avg(k_value), 6) AS k_avg,
             count(*) AS n
      FROM (SELECT *, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
            FROM events)
      WHERE k_value IS NOT NULL
      GROUP BY 1, 2""",
    "b11_datetime_functions" -> """
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS ship_by,
             date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
             CAST(month(o_orderdate) AS BIGINT) AS o_month,
             CAST(day(o_orderdate) AS BIGINT) AS o_day,
             CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
             date_trunc('month', o_orderdate) AS month_start,
             CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
      FROM orders""",
    "b11_array_map_functions" -> """
      SELECT p_partkey,
             CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
             CAST(list_aggregate(list_transform(string_split(p_name, ' '), w -> length(w)), 'sum') AS BIGINT) AS total_chars,
             CAST(list_max(list_transform(string_split(p_name, ' '), w -> length(w))) AS BIGINT) AS longest_word,
             list_sort(string_split(p_name, ' '))[1] AS first_word,
             CAST(length(list_sort(string_split(p_name, ' '))[1]) AS BIGINT) AS first_word_len,
             array_to_string(list_sort(string_split(p_name, ' ')), '-') AS sorted_words,
             list_contains(string_split(p_name, ' '), 'green') AS has_green
      FROM part""",
    "b5_percentiles" -> """
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.25e0), 4) AS p25,
             round(quantile_cont(l_extendedprice, 0.5e0), 4) AS p50,
             round(quantile_cont(l_extendedprice, 0.75e0), 4) AS p75,
             round(quantile_cont(l_extendedprice, 0.95e0), 4) AS p95
      FROM lineitem GROUP BY l_returnflag""",
    "b5_percentiles_scalable" -> """
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.25e0), 4) AS p25,
             round(quantile_cont(l_extendedprice, 0.5e0), 4) AS p50,
             round(quantile_cont(l_extendedprice, 0.75e0), 4) AS p75,
             round(quantile_cont(l_extendedprice, 0.95e0), 4) AS p95
      FROM lineitem GROUP BY l_returnflag""",
    "b11_string_functions" -> """
      SELECT p_partkey, lower(p_name) AS name_lower,
             substring(p_type, 1, 5) AS type5,
             CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS brand_dist,
             concat_ws('|', p_brand, p_type) AS brand_type,
             CAST(length(p_name) AS BIGINT) AS name_len,
             regexp_extract(p_type, '^(\w+)', 1) AS type_head,
             regexp_replace(p_brand, '#\d+', '') AS brand_stem
      FROM part""",
    "b12_event_time_windows" -> """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
             count(DISTINCT user_id) AS unique_users
      FROM events GROUP BY 1, 2""",
    "b12_sessionization" -> """
      WITH marked AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 600000000
               THEN 1 ELSE 0 END AS newsess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sessioned AS (
        SELECT user_id, ts, value,
          sum(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked)
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             count(*) AS n_events,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM sessioned GROUP BY user_id, session_idx""",
    // Gap-split first (24h), then cap-split into chunks of 8 events
    // via integer division on row_number inside each gap session. A
    // chunk that is not the last of its gap session closed because the
    // next within-gap event hit the cap -> 'cap'; every other chunk
    // closed because the gap elapsed -> 'gap' (the fold checks gap
    // before cap, and tail flush / streaming timeout carry the same
    // 'gap' label — there is no separate 'end', see CappedSession).
    "b12_capped_sessions" -> """
      WITH marked AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 86400000000
               THEN 1 ELSE 0 END AS newsess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sessioned AS (
        SELECT user_id, event_id, ts, value,
          sum(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        FROM marked
      ), chunked AS (
        SELECT user_id, sess, ts, value,
          (row_number() OVER (PARTITION BY user_id, sess ORDER BY ts, event_id) - 1)
            // 8 AS chunk
        FROM sessioned
      ), agg AS (
        SELECT user_id, sess, chunk,
          min(ts) AS session_start, max(ts) AS session_end,
          count(*) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        FROM chunked GROUP BY user_id, sess, chunk)
      SELECT user_id, session_start, session_end, n_events, session_value,
        CASE WHEN chunk < max(chunk) OVER (PARTITION BY user_id, sess) THEN 'cap'
             ELSE 'gap' END AS closed_by
      FROM agg""",
    "d1_asof_join" -> """
      WITH snaps AS (
        SELECT user_id, date_trunc('day', ts) + INTERVAL 1 DAY AS snap_ts,
               count(*) AS day_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        FROM events GROUP BY 1, 2
      )
      SELECT e.event_id, e.user_id, e.ts, s.snap_ts, s.day_events, s.day_value
      FROM events e ASOF LEFT JOIN snaps s
        ON e.user_id = s.user_id AND e.ts >= s.snap_ts""",
    "d1_asof_forward" -> """
      WITH snaps AS (
        SELECT user_id, date_trunc('day', ts) + INTERVAL 1 DAY AS snap_ts,
               count(*) AS day_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        FROM events GROUP BY 1, 2
      )
      SELECT e.event_id, e.user_id, e.ts, s.snap_ts, s.day_events, s.day_value
      FROM events e ASOF LEFT JOIN snaps s
        ON e.user_id = s.user_id AND e.ts <= s.snap_ts""",
    "d1_asof_nearest" -> """
      WITH snaps AS (
        SELECT user_id, date_trunc('day', ts) + INTERVAL 1 DAY AS snap_ts,
               count(*) AS day_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        FROM events GROUP BY 1, 2
      )
      SELECT e.event_id, e.user_id, e.ts, p.snap_ts, p.day_events,
             p.day_value
      FROM events e LEFT JOIN LATERAL (
        SELECT s.snap_ts, s.day_events, s.day_value
        FROM snaps s WHERE s.user_id = e.user_id
        ORDER BY abs(epoch_us(s.snap_ts) - epoch_us(e.ts)), s.snap_ts
        LIMIT 1) p ON true""",
    "d2_range_join" -> """
      WITH marked AS (
        SELECT user_id, event_id, ts,
          CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 600000000
               THEN 1 ELSE 0 END AS newsess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sessioned AS (
        SELECT user_id, ts,
          sum(newsess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked
      ), sess AS (
        SELECT user_id, session_idx, min(ts) AS s, max(ts) AS e,
               count(*) AS n_events
        FROM sessioned GROUP BY user_id, session_idx)
      SELECT ev.event_id, ev.user_id,
             CAST(se.session_idx AS BIGINT) AS session_idx,
             se.s AS session_start, se.n_events
      FROM events ev JOIN sess se
        ON ev.user_id = se.user_id AND ev.ts BETWEEN se.s AND se.e""",
    "d15_constraint_checks" -> """
      SELECT 'not_null' AS "check", 'o_custkey' AS target,
        count(*) AS n_rows,
        count(*) - count(o_custkey) AS violations,
        count(*) - count(o_custkey) = 0 AS passed
      FROM orders
      UNION ALL
      SELECT 'in_range', 'o_totalprice', count(*),
        CAST(coalesce(sum(CASE WHEN o_totalprice IS NOT NULL
          AND (o_totalprice < 0 OR o_totalprice > 300000)
          THEN 1 ELSE 0 END), 0) AS BIGINT),
        CAST(coalesce(sum(CASE WHEN o_totalprice IS NOT NULL
          AND (o_totalprice < 0 OR o_totalprice > 300000)
          THEN 1 ELSE 0 END), 0) AS BIGINT) = 0
      FROM orders
      UNION ALL
      SELECT 'accepted_values', 'o_orderpriority', count(*),
        CAST(coalesce(sum(CASE WHEN o_orderpriority IS NOT NULL
          AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
            '4-NOT SPECIFIED', '5-LOW') THEN 1 ELSE 0 END), 0) AS BIGINT),
        CAST(coalesce(sum(CASE WHEN o_orderpriority IS NOT NULL
          AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
            '4-NOT SPECIFIED', '5-LOW') THEN 1 ELSE 0 END), 0) AS BIGINT) = 0
      FROM orders
      UNION ALL
      SELECT 'matches_regex', 'o_orderstatus', count(*),
        CAST(coalesce(sum(CASE WHEN o_orderstatus IS NOT NULL
          AND NOT regexp_matches(o_orderstatus, '^[FO]$')
          THEN 1 ELSE 0 END), 0) AS BIGINT),
        CAST(coalesce(sum(CASE WHEN o_orderstatus IS NOT NULL
          AND NOT regexp_matches(o_orderstatus, '^[FO]$')
          THEN 1 ELSE 0 END), 0) AS BIGINT) = 0
      FROM orders
      UNION ALL
      SELECT 'satisfies', 'positive_price', count(*),
        CAST(coalesce(sum(CASE WHEN NOT coalesce(o_totalprice > 0, TRUE)
          THEN 1 ELSE 0 END), 0) AS BIGINT),
        CAST(coalesce(sum(CASE WHEN NOT coalesce(o_totalprice > 0, TRUE)
          THEN 1 ELSE 0 END), 0) AS BIGINT) = 0
      FROM orders
      UNION ALL
      SELECT 'unique', 'o_orderkey', count(*),
        count(o_orderkey) - count(DISTINCT o_orderkey),
        count(o_orderkey) - count(DISTINCT o_orderkey) = 0
      FROM orders
      UNION ALL
      SELECT 'ref_integrity', 'o_custkey',
        (SELECT count(*) FROM orders),
        (SELECT count(*) FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND o.o_custkey NOT IN (SELECT c_custkey FROM customer
                                    WHERE c_custkey IS NOT NULL)),
        (SELECT count(*) FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND o.o_custkey NOT IN (SELECT c_custkey FROM customer
                                    WHERE c_custkey IS NOT NULL)) = 0""",
    "d16_funnel" -> """
      WITH f AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('signup', 'click', 'purchase')
      ), w1 AS (
        SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
          OVER (PARTITION BY user_id) AS t0 FROM f
      ), w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
          OVER (PARTITION BY user_id) AS t1 FROM w1
      ), w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
          OVER (PARTITION BY user_id) AS t2 FROM w2
      ), u AS (SELECT DISTINCT user_id, t0, t1, t2 FROM w3)
      SELECT CAST(1 AS BIGINT) AS step_idx, 'signup' AS step,
             count(t0) AS n_users FROM u
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'click', count(t1) FROM u
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'purchase', count(t2) FROM u""",
    "d16_funnel_completions" -> """
      WITH f AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('signup', 'click', 'purchase')
      ), w1 AS (
        SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
          OVER (PARTITION BY user_id) AS t0 FROM f
      ), w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
          OVER (PARTITION BY user_id) AS t1 FROM w1
      ), w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
          OVER (PARTITION BY user_id) AS t2 FROM w2
      ), u AS (SELECT DISTINCT user_id, t0, t1, t2 FROM w3)
      SELECT user_id, CAST(1 AS BIGINT) AS step_idx, 'signup' AS step,
             t0 AS completed_at FROM u WHERE t0 IS NOT NULL
      UNION ALL
      SELECT user_id, CAST(2 AS BIGINT), 'click', t1 FROM u
      WHERE t1 IS NOT NULL
      UNION ALL
      SELECT user_id, CAST(3 AS BIGINT), 'purchase', t2 FROM u
      WHERE t2 IS NOT NULL""",
    "b12_session_window" -> """
      WITH ordered AS (
        SELECT user_id, ts, value,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
      ), marked AS (
        SELECT *, CASE WHEN prev IS NULL
            OR epoch_us(ts) - epoch_us(prev) >= 600000000
          THEN 1 ELSE 0 END AS brk
        FROM ordered
      ), sess AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT min(ts) AS session_start,
        max(ts) + INTERVAL 10 MINUTE AS session_end,
        user_id, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM sess GROUP BY user_id, sid""",
    "d17_gap_fill" -> """
      WITH b AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket,
          count(*) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        FROM events GROUP BY user_id, date_trunc('hour', ts)
      ), g AS (
        SELECT user_id,
          unnest(generate_series(min(bucket), max(bucket),
                                 INTERVAL 1 HOUR)) AS bucket
        FROM b GROUP BY user_id
      )
      SELECT g.user_id, g.bucket,
        coalesce(b.n_events, 0) AS n_events,
        last_value(b.v IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
      FROM g LEFT JOIN b
        ON g.user_id = b.user_id AND g.bucket = b.bucket""",
    "d18_histogram" -> """
      WITH c AS (
        SELECT CASE WHEN l_extendedprice < 0 THEN CAST(-1 AS BIGINT)
                    WHEN l_extendedprice >= 110000 THEN CAST(22 AS BIGINT)
                    ELSE CAST(floor(l_extendedprice / 5000.0e0) AS BIGINT)
               END AS bucket,
               count(*) AS n_rows
        FROM lineitem WHERE l_extendedprice IS NOT NULL
        GROUP BY 1
      ), s AS (
        SELECT CAST(unnest(generate_series(-1, 22)) AS BIGINT) AS bucket
      )
      SELECT s.bucket,
        CASE WHEN s.bucket BETWEEN 0 AND 21
             THEN 0.0e0 + s.bucket * 5000.0e0 END AS lo_edge,
        CASE WHEN s.bucket BETWEEN 0 AND 21
             THEN 0.0e0 + (s.bucket + 1) * 5000.0e0 END AS hi_edge,
        coalesce(c.n_rows, 0) AS n_rows
      FROM s LEFT JOIN c ON s.bucket = c.bucket""",
    "d21_scd2_intervals" -> """
      WITH snaps AS (
        SELECT user_id, date_trunc('day', ts) AS change_ts,
          count(*) AS day_events,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        FROM events GROUP BY user_id, date_trunc('day', ts))
      SELECT user_id, change_ts, day_events, day_value,
        change_ts AS valid_from,
        lead(change_ts) OVER (PARTITION BY user_id ORDER BY change_ts)
          AS valid_to
      FROM snaps""",
    "d22_cooccurrence" -> """
      WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      pairs AS (
        SELECT a.event_type AS t_a, b.event_type AS t_b,
          count(*) AS n_users
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type),
      tot AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
      uni AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS u FROM ut)
      SELECT p.t_a, p.t_b, p.n_users, ta.n_t AS n_a, tb.n_t AS n_b,
        CAST(p.n_users AS DOUBLE) * uni.u
          / (CAST(ta.n_t AS DOUBLE) * CAST(tb.n_t AS DOUBLE)) AS lift
      FROM pairs p
      JOIN tot ta ON p.t_a = ta.event_type
      JOIN tot tb ON p.t_b = tb.event_type, uni""",
    "d20_incremental_agg" -> """
      SELECT l_returnflag, l_linestatus,
        count(l_quantity) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(32,6))) AS DOUBLE) AS sum_v,
        min(CAST(l_quantity AS DOUBLE)) AS min_v,
        max(CAST(l_quantity AS DOUBLE)) AS max_v,
        CAST(sum(CAST(l_quantity AS DECIMAL(32,6))) AS DOUBLE)
          / CAST(count(l_quantity) AS DOUBLE) AS avg_v
      FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "d20_incremental_quantile" ->
      graft.operators.IncrementalAgg.sqlQuantileRecompute(
        "SELECT * FROM lineitem",
        Seq("l_returnflag", "l_linestatus"), "l_extendedprice",
        Seq(0.5, 0.9, 0.99)),
    "d113_ipw" -> {
      val z = "(CAST(least(a, 20) AS DOUBLE) / 20.0e0)"
      val e = s"(0.2e0 + 0.6e0 * $z)"
      graft.operators.Experiment.sqlIpwAte(s"""
        SELECT CASE WHEN ${graft.functions.Noise.sqlNoise("user_id", 23)}
            < $e THEN 1 ELSE 0 END AS t,
          CAST(sv AS DOUBLE) AS y, $e AS e
        FROM (SELECT user_id, count(*) AS a,
            sum(CAST(value AS DECIMAL(18,2))) AS sv
          FROM events GROUP BY user_id)""")
    },
    "d127_ipw_diagnostics" -> {
      val z = "(CAST(least(a, 20) AS DOUBLE) / 20.0e0)"
      val e = s"(0.2e0 + 0.6e0 * $z)"
      graft.operators.Experiment.sqlIpwDiagnostics(s"""
        SELECT CASE WHEN ${graft.functions.Noise.sqlNoise("user_id", 23)}
            < $e THEN 1 ELSE 0 END AS t, $e AS e
        FROM (SELECT user_id, count(*) AS a
          FROM events GROUP BY user_id)""")
    },
    "d114_aipw" -> {
      val z = "(CAST(least(a, 20) AS DOUBLE) / 20.0e0)"
      val e = s"(0.2e0 + 0.6e0 * $z)"
      graft.operators.Experiment.sqlAipwAte(s"""
        SELECT CASE WHEN ${graft.functions.Noise.sqlNoise("user_id", 23)}
            < $e THEN 1 ELSE 0 END AS t,
          CAST(sv AS DOUBLE) AS y, $e AS e,
          10.0e0 * $z AS m1, 8.0e0 * $z AS m0
        FROM (SELECT user_id, count(*) AS a,
            sum(CAST(value AS DECIMAL(18,2))) AS sv
          FROM events GROUP BY user_id)""")
    },
    "d34_noised_histogram" -> graft.operators.Anonymity.sqlNoisedHistogram(
      "lineitem", "l_extendedprice", 0.0, 110000.0, 22, epsilon = 0.5),
    "d131_dp_gaussian_histogram" -> graft.operators.Anonymity
      .sqlNoisedHistogramGaussian("lineitem", "l_extendedprice", 0.0,
        110000.0, 22, epsilon = 0.5, delta = 1e-6),
    "d34_noised_quantiles" -> graft.operators.Anonymity.sqlNoisedQuantiles(
      "lineitem", "l_extendedprice", 0.0, 110000.0, 22, epsilon = 0.5,
      ps = Seq(0.25, 0.5, 0.9, 0.99)),
    "d34_noised_counts" -> graft.operators.Anonymity.sqlNoisedCounts(
      "events", Seq("event_type"), epsilon = 0.5),
    "d125_dp_gaussian" -> graft.operators.Anonymity
      .sqlNoisedCountsGaussian("events", Seq("event_type"),
        epsilon = 0.5, delta = 1e-6),
    "d130_dp_gaussian_sums" -> graft.operators.Anonymity
      .sqlNoisedSumsGaussian("events", Seq("event_type"), "user_id",
        "value", cap = 500.0, epsilon = 0.5, delta = 1e-6),
    // the ledger arithmetic replayed over the same fixed release
    // sequence (the engine side additionally exercises the versioned
    // protocol + replay idempotence via require/short-circuit)
    "d126_dp_ledger" -> """
      WITH rel(ord, release, mechanism, eps_micro, delta_pico) AS (
        VALUES (1, 'counts-week1', 'laplace-counts',
                 CAST(500000 AS BIGINT), CAST(0 AS BIGINT)),
               (2, 'sums-week1', 'laplace-sums',
                 CAST(500000 AS BIGINT), CAST(0 AS BIGINT)),
               (3, 'hist-week1', 'laplace-histogram',
                 CAST(400000 AS BIGINT), CAST(0 AS BIGINT)),
               (4, 'gauss-week1', 'gaussian-counts',
                 CAST(300000 AS BIGINT), CAST(500000 AS BIGINT)))
      SELECT CAST(ord AS BIGINT) AS ord, release, mechanism,
        eps_micro, delta_pico,
        CAST(sum(eps_micro) OVER (ORDER BY ord) AS BIGINT)
          AS eps_spent_micro,
        CAST(sum(delta_pico) OVER (ORDER BY ord) AS BIGINT)
          AS delta_spent_pico,
        CAST(2000000 - sum(eps_micro) OVER (ORDER BY ord) AS BIGINT)
          AS eps_left_micro,
        CAST(1000000 - sum(delta_pico) OVER (ORDER BY ord) AS BIGINT)
          AS delta_left_pico
      FROM rel""",
    "d128_dp_ledger_advanced" -> {
      val lnInv = graft.functions.Noise.sqlDouble(math.log(1.0 / 1e-9))
      s"""
      WITH rel(ord, eps_micro, delta_pico) AS (
        VALUES (1, CAST(500000 AS BIGINT), CAST(0 AS BIGINT)),
               (2, CAST(500000 AS BIGINT), CAST(0 AS BIGINT)),
               (3, CAST(400000 AS BIGINT), CAST(0 AS BIGINT)),
               (4, CAST(300000 AS BIGINT), CAST(500000 AS BIGINT))),
      t AS (
        SELECT eps_micro, delta_pico,
          CAST(floor((CAST(eps_micro AS DOUBLE) / 1e6)
            * (exp(CAST(eps_micro AS DOUBLE) / 1e6) - 1.0e0)
            * 1e12 + 0.5e0) AS BIGINT) AS lin_pico,
          CAST(eps_micro AS HUGEINT) * CAST(eps_micro AS HUGEINT)
            AS s2_pico2
        FROM rel),
      sums AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(sum(eps_micro) AS BIGINT) AS eps_basic_micro,
          CAST(sum(delta_pico) AS BIGINT) AS delta_basic_pico,
          sum(s2_pico2) AS s2, CAST(sum(lin_pico) AS BIGINT) AS lin
        FROM t)
      SELECT k, eps_basic_micro, delta_basic_pico,
        CAST(1000 AS BIGINT) AS delta_slack_pico,
        floor((sqrt(2.0e0 * $lnInv * (CAST(s2 AS DOUBLE) / 1e12))
          + CAST(lin AS DOUBLE) / 1e12) * 1e6 + 0.5e0) / 1e6
          AS eps_advanced,
        CAST(delta_basic_pico + 1000 AS BIGINT) AS delta_advanced_pico
      FROM sums"""
    },
    "d34_noised_counts_multi" -> graft.operators.Anonymity.sqlNoisedCounts(
      """(SELECT event_type,
           CAST(((user_id % 3) + 3) % 3 AS VARCHAR) AS seg FROM events)""",
      Seq("event_type", "seg"), epsilon = 0.5),
    "d125_dp_gaussian_multi" -> graft.operators.Anonymity
      .sqlNoisedCountsGaussian(
        """(SELECT event_type,
             CAST(((user_id % 3) + 3) % 3 AS VARCHAR) AS seg FROM events)""",
        Seq("event_type", "seg"), epsilon = 0.5, delta = 1e-6),
    "d43_mde" -> graft.operators.Experiment.sqlMde(
      s"""SELECT
            ${graft.operators.Experiment.sqlVariantOf("user_id",
              Seq("control", "treatment"), 17)} AS variant, m
          FROM (SELECT user_id,
              CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(value AS DECIMAL(12,2))
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m
            FROM events GROUP BY user_id)""",
      "control", "treatment"),
    "d42_survival" -> graft.operators.Survival.sqlKaplanMeier(
      """SELECT
           CASE WHEN tp IS NOT NULL THEN tp - t0 ELSE tl - t0 END AS duration,
           CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS event
         FROM (
           SELECT user_id, min(epoch_us(ts)) AS t0,
             min(CASE WHEN event_type = 'purchase'
               THEN epoch_us(ts) END) AS tp,
             max(epoch_us(ts)) AS tl
           FROM events GROUP BY user_id)""",
      bucketUs = 3600000000L),
    "d105_competing_risks" -> graft.operators.Survival.sqlCompetingRisks(
      """SELECT
           CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
               THEN tp - t0
             WHEN te IS NOT NULL THEN te - t0
             ELSE tl - t0 END AS duration,
           CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
             WHEN te IS NOT NULL THEN 2
             ELSE 0 END AS event
         FROM (
           SELECT user_id, min(epoch_us(ts)) AS t0,
             min(CASE WHEN event_type = 'purchase'
               THEN epoch_us(ts) END) AS tp,
             min(CASE WHEN event_type = 'error'
               THEN epoch_us(ts) END) AS te,
             max(epoch_us(ts)) AS tl
           FROM events GROUP BY user_id)""",
      bucketUs = 3600000000L),
    "d44_km_cohorts" -> graft.operators.Survival.sqlKaplanMeierCohorts(
      survivalPerUserSql, bucketUs = 3600000000L),
    "d45_logrank" -> graft.operators.Survival.sqlLogRank(
      survivalPerUserSql, bucketUs = 3600000000L),
    "d46_bootstrap_ci" -> graft.operators.Bootstrap.sqlMeanCi(
      "events", "value", Seq("event_type"), "event_id", b = 100),
    "d47_srm" -> graft.operators.Experiment.sqlSrmCheck(
      s"""SELECT ${graft.operators.Experiment.sqlVariantOf(
           "user_id", Seq("control", "treatment"), salt = 17)} AS variant
          FROM (SELECT DISTINCT user_id FROM events)""",
      Map("control" -> 0.5, "treatment" -> 0.5)),
    "d52_mann_whitney" -> graft.operators.Experiment.sqlMannWhitney(
      abPerUserSql, "control", "treatment"),
    "d59_bh_fdr" -> graft.operators.Experiment.sqlBenjaminiHochberg(
      s"""SELECT g AS metric, z FROM (
            ${graft.operators.Experiment.sqlWelchZByGroup(
              s"""SELECT event_type AS g, user_id,
                   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS m,
                   ${graft.operators.Experiment.sqlVariantOf("user_id",
                     Seq("control", "treatment"), salt = 17)} AS variant
                 FROM events GROUP BY event_type, user_id""",
              "control", "treatment")})"""),
    "d58_sequential_obf" -> graft.operators.Experiment.sqlObrienFleming(
      s"""SELECT user_id, min(date_trunc('day', ts)) AS look,
           CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m,
           ${graft.operators.Experiment.sqlVariantOf("user_id",
             Seq("control", "treatment"), salt = 17)} AS variant
         FROM events GROUP BY user_id""",
      "control", "treatment"),
    "d73_msprt" -> graft.operators.Experiment.sqlMsprt(
      s"""SELECT user_id, min(date_trunc('day', ts)) AS look,
           CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m,
           ${graft.operators.Experiment.sqlVariantOf("user_id",
             Seq("control", "treatment"), salt = 17)} AS variant
         FROM events GROUP BY user_id""",
      "control", "treatment", tau2 = 100.0),
    "d84_ols" -> graft.operators.Regression.sqlOls(
      """SELECT source,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
             t -> len(t) > 0)) AS BIGINT) AS x,
           n_chars AS y
         FROM documents""",
      groupCols = Seq("source")),
    "d83_mahalanobis" -> graft.operators.Outliers.sqlMahalanobis3(
      """SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DECIMAL(12,2)) AS x1,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS x2,
           CAST(l_discount AS DECIMAL(12,2)) AS x3
         FROM lineitem""",
      idOut = Seq("l_orderkey", "l_linenumber"), k = 100),
    "d82_diff_in_diff" -> graft.operators.Experiment.sqlDiffInDiff(
      s"""SELECT ${graft.operators.Experiment.sqlVariantOf("user_id",
             Seq("control", "treated"), salt = 17)} AS grp, period, m
         FROM (SELECT user_id,
             CASE WHEN dayofmonth(ts) <= 15 THEN 'pre'
               ELSE 'post' END AS period,
             CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m
           FROM events GROUP BY 1, 2)""",
      "treated", "control", "pre", "post"),
    "d79_yuen_trimmed" -> graft.operators.Experiment.sqlYuenTrimmedT(
      abPerUserSql, "control", "treatment", trim = 0.2),
    "d78_stratified_diff" -> graft.operators.Experiment.sqlStratifiedDiff(
      s"""SELECT ${graft.operators.Experiment.sqlVariantOf("user_id",
             Seq("control", "treatment"), salt = 17)} AS variant,
           least(ne // 10, 5) AS stratum, m
         FROM (SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m,
             CAST(count(*) AS BIGINT) AS ne
           FROM events GROUP BY user_id)""",
      "control", "treatment"),
    "d77_quantile_effect" -> graft.operators.Experiment.sqlQuantileEffect(
      s"""SELECT ${graft.operators.Experiment.sqlVariantOf("user_id",
             Seq("control", "treatment"), salt = 17)} AS variant, m
         FROM (SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m
           FROM events GROUP BY user_id)""",
      "control", "treatment", ps = Seq(0.25, 0.5, 0.75, 0.9)),
    "d74_cluster_se" -> graft.operators.Experiment.sqlClusterDiff(
      s"""SELECT ${graft.operators.Experiment.sqlVariantOf("user_id",
             Seq("control", "treatment"), salt = 17)} AS variant,
           user_id AS cluster, CAST(value AS DECIMAL(12,2)) AS m
         FROM events WHERE event_type = 'purchase'""",
      "control", "treatment"),
    "d57_gini" -> graft.operators.Inequality.sqlGini(
      "SELECT event_type, value AS v FROM events", Seq("event_type")),
    "d60_ks_test" -> graft.operators.Experiment.sqlKsTest(
      abPerUserSql, "control", "treatment"),
    "d67_quantile_norm" -> graft.operators.QuantileNormalize.sqlNormalize(
      "SELECT event_id, event_type AS g, value AS v FROM events",
      cols = Seq("event_id", "g", "v")),
    "d72_ess" -> graft.operators.Sampling.sqlWeightDiagnostics(
      "SELECT event_type, value AS w FROM events", Seq("event_type")),
    "d69_theil_sen" -> graft.operators.SeriesStats.sqlTheilSen(
      """SELECT event_type, date_trunc('hour', ts) AS t,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
         FROM events GROUP BY event_type, date_trunc('hour', ts)""",
      Seq("event_type")),
    "d70_seasonal_decomp" -> graft.operators.SeriesStats.sqlSeasonalDecompose(
      """SELECT event_type, date_trunc('hour', ts) AS t,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
         FROM events GROUP BY event_type, date_trunc('hour', ts)""",
      Seq("event_type"), period = 24),
    "d68_ljung_box" -> graft.operators.SeriesStats.sqlLjungBox(
      """SELECT event_type, date_trunc('hour', ts) AS t,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
         FROM events GROUP BY event_type, date_trunc('hour', ts)""",
      Seq("event_type"), maxLag = 3),
    "d66_acf" -> graft.operators.SeriesStats.sqlAcf(
      """SELECT event_type, date_trunc('hour', ts) AS t,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
         FROM events GROUP BY event_type, date_trunc('hour', ts)""",
      Seq("event_type"), maxLag = 3),
    "d71_js_divergence" -> graft.operators.Drift.sqlJsDivergence(
      """SELECT event_type,
           CASE WHEN date_part('day', ts) <= 15
             THEN 'base' ELSE 'curr' END AS snapshot,
           value AS v
         FROM events""",
      "base", "curr", groupCols = Seq("event_type")),
    "d65_wasserstein" -> graft.operators.Drift.sqlWasserstein1(
      """SELECT event_type,
           CASE WHEN date_part('day', ts) <= 15
             THEN 'base' ELSE 'curr' END AS snapshot,
           value AS v
         FROM events""",
      "base", "curr", groupCols = Seq("event_type")),
    "d64_cusum" -> graft.operators.Drift.sqlCusum(
      """SELECT event_type, date_trunc('hour', ts) AS t,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
         FROM events GROUP BY event_type, date_trunc('hour', ts)""",
      Seq("event_type"),
      allowanceMicro = 50000000L, thresholdMicro = 200000000L),
    "d63_conformal" -> graft.operators.Conformal.sqlMeanInterval(
      """SELECT c_mktsegment,
           CASE WHEN c_custkey % 3 = 0 THEN 'train'
                WHEN c_custkey % 3 = 1 THEN 'cal'
                ELSE 'test' END AS role,
           c_acctbal AS y
         FROM customer""",
      Seq("c_mktsegment"), alpha10 = 1),
    "d61_psi" -> graft.operators.Drift.sqlPsi(
      """SELECT event_type,
           CASE WHEN date_part('day', ts) <= 15
             THEN 'base' ELSE 'curr' END AS snapshot,
           value AS v
         FROM events""",
      "base", "curr", bins = 10, groupCols = Seq("event_type")),
    "d55_bootstrap_diff" -> graft.operators.Bootstrap.sqlDiffCi(
      s"SELECT variant, m, user_id AS key FROM ($abPerUserSql)",
      "control", "treatment"),
    "d54_ratio_ci" -> graft.operators.Experiment.sqlRatioMetricCi(
      """SELECT
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
             AS BIGINT) AS x,
           CAST(count(*) AS BIGINT) AS y
         FROM events GROUP BY user_id"""),
    "d53_chi2_conversion" -> graft.operators.Experiment.sqlChiSquareConversion(
      s"""SELECT variant, CASE WHEN m > 0 THEN 1 ELSE 0 END AS success
          FROM ($abPerUserSql)""", "control", "treatment"),
    "d50_nelson_aalen" -> graft.operators.Survival.sqlNelsonAalen(
      survivalPerUserSql, bucketUs = 3600000000L),
    "d51_rmst" -> graft.operators.Survival.sqlRmst(
      survivalPerUserSql, bucketUs = 3600000000L, horizonBuckets = 168L),
    "d41_cuped" -> graft.operators.Experiment.sqlCuped(
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase'
               AND ts < TIMESTAMP '2024-01-16'
             THEN CAST(value AS DECIMAL(12,2))
             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS x,
           CAST(sum(CASE WHEN event_type = 'purchase'
               AND ts >= TIMESTAMP '2024-01-16'
             THEN CAST(value AS DECIMAL(12,2))
             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS y
         FROM events GROUP BY user_id"""),
    "d122_regression_adjust" -> graft.operators.Experiment
      .sqlRegressionAdjust(
        """SELECT
             CAST(sum(CASE WHEN event_type = 'purchase'
                 AND ts < TIMESTAMP '2024-01-16'
               THEN CAST(value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS x1,
             CAST(count(CASE WHEN event_type = 'purchase'
                 AND ts < TIMESTAMP '2024-01-16'
               THEN 1 END) AS DECIMAL(18,2)) AS x2,
             CAST(sum(CASE WHEN event_type = 'purchase'
                 AND ts >= TIMESTAMP '2024-01-16'
               THEN CAST(value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS y
           FROM events GROUP BY user_id""", k = 2),
    "d40_ewma" -> {
      def term(k: Int): (String, String) = {
        val x = if (k == 0) "n"
          else s"lag(n, $k) OVER (PARTITION BY event_type ORDER BY hour)"
        val wt = graft.functions.Noise.sqlDouble(math.pow(0.5, k))
        (s"(CASE WHEN $x IS NOT NULL THEN CAST($x AS DOUBLE) * $wt ELSE 0.0e0 END)",
          s"(CASE WHEN $x IS NOT NULL THEN $wt ELSE 0.0e0 END)")
      }
      val terms = (0 to 7).map(term)
      val num = terms.map(_._1).mkString("(((((((", " + ", ")))))))")
      val den = terms.map(_._2).mkString("(((((((", " + ", ")))))))")
      s"""
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        FROM events GROUP BY event_type, date_trunc('hour', ts)
      ), e AS (
        SELECT event_type, hour, n, round($num / $den, 6) AS ewma
        FROM hourly)
      SELECT event_type, hour, n, ewma,
        round(CAST(n AS DOUBLE) - ewma, 6) AS deviation
      FROM e"""
    },
    "d39_benford" -> """
      WITH d AS (
        SELECT CAST(substring(CAST(
            CAST(round(o_totalprice * 100.0e0) AS BIGINT) AS VARCHAR), 1, 1)
          AS BIGINT) AS digit
        FROM orders WHERE o_totalprice > 0
      ), c AS (
        SELECT digit, count(*) AS n FROM d GROUP BY digit
      ), t AS (SELECT sum(n) AS total FROM c)
      SELECT digit, n,
        round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS observed,
        round(log10(1.0e0 + 1.0e0 / CAST(digit AS DOUBLE)), 6) AS expected,
        round((CAST(n AS DOUBLE)
            - round(log10(1.0e0 + 1.0e0 / CAST(digit AS DOUBLE)), 6)
              * CAST(total AS DOUBLE))
          / sqrt(round(log10(1.0e0 + 1.0e0 / CAST(digit AS DOUBLE)), 6)
            * (1.0e0 - round(log10(1.0e0 + 1.0e0 / CAST(digit AS DOUBLE)), 6))
            * CAST(total AS DOUBLE)), 6) AS z
      FROM c CROSS JOIN t""",
    "d38_abandoned_carts" -> """
      SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts
      FROM events c
      WHERE c.event_type = 'click' AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
          AND epoch_us(p.ts) >= epoch_us(c.ts)
          AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000)""",
    "d37_funnel_latency" -> """
      WITH s AS (
        SELECT user_id, min(epoch_us(ts)) AS s_us
        FROM events WHERE event_type = 'signup' GROUP BY user_id
      ), lat AS (
        SELECT e.user_id, min(epoch_us(e.ts)) - s.s_us AS lat_us
        FROM events e JOIN s USING (user_id)
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.s_us
        GROUP BY e.user_id, s.s_us)
      SELECT CAST(count(*) AS BIGINT) AS n_converted,
        round(round(quantile_cont(lat_us, 0.5), 4) / 3600000000.0e0, 6)
          AS p50_hours,
        round(round(quantile_cont(lat_us, 0.9), 4) / 3600000000.0e0, 6)
          AS p90_hours
      FROM lat""",
    "b16_sql_surface" -> """
      WITH spend AS (
        SELECT o_custkey,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_custkey)
      SELECT n_name, c_custkey, total, rnk FROM (
        SELECT n.n_name, c.c_custkey, s.total,
          CAST(row_number() OVER (PARTITION BY n.n_name
            ORDER BY s.total DESC, c.c_custkey) AS BIGINT) AS rnk
        FROM spend s
        JOIN customer c ON c.c_custkey = s.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey) t
      WHERE rnk <= 3""",
    // versioned SQL: current ≡ full orders, VERSION AS OF 1 ≡ the
    // %3-filtered cut, so arrivals are exactly the %3 == 0 keys; the
    // pruned-view scalar ≡ the band count
    "b17_versioned_sql" -> """
      SELECT o_orderstatus AS status,
        CAST(count(*) AS BIGINT) AS n_cur,
        CAST(sum(CASE WHEN o_orderkey % 3 = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        (SELECT CAST(count(*) AS BIGINT) FROM orders
          WHERE CAST(o_totalprice AS DOUBLE) >= 50000.0e0
            AND CAST(o_totalprice AS DOUBLE) <= 100000.0e0) AS n_band
      FROM orders GROUP BY o_orderstatus""",
    "d36_local_cc" -> """
      WITH it AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_quantity >= 45
      ), e AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM it x JOIN it y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      ), deg AS (
        SELECT v, count(*) AS deg FROM (
          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY v
      ), tri AS (
        SELECT e1.a AS u, e1.b AS x, e2.b AS y
        FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      ), pn AS (
        SELECT v, count(*) AS n_triangles FROM (
          SELECT u AS v FROM tri UNION ALL
          SELECT x AS v FROM tri UNION ALL
          SELECT y AS v FROM tri)
        GROUP BY v)
      SELECT pn.v, pn.n_triangles, d.deg,
        round(CAST(pn.n_triangles AS DOUBLE)
          / CAST(d.deg * (d.deg - 1) / 2 AS DOUBLE), 6) AS local_cc
      FROM pn JOIN deg d ON d.v = pn.v""",
    "d85_adamic_adar" -> graft.graph.LinkPrediction.sqlAdamicAdar(
      """SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
         FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
               WHERE l_quantity >= 45) x
         JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
               WHERE l_quantity >= 45) y
           ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey""",
      k = 50),
    "d36_triangles" -> """
      WITH it AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_quantity >= 45
      ), e AS (
        SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        FROM it x JOIN it y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      ), deg AS (
        SELECT v, count(*) AS deg FROM (
          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY v
      ), tri AS (
        SELECT count(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT (SELECT count(*) FROM deg) AS n_nodes,
        (SELECT count(*) FROM e) AS n_edges,
        CAST((SELECT sum(deg * (deg - 1) / 2) FROM deg) AS BIGINT) AS n_wedges,
        n_triangles,
        CASE WHEN (SELECT sum(deg * (deg - 1) / 2) FROM deg) > 0
          THEN round(3.0e0 * CAST(n_triangles AS DOUBLE)
            / CAST((SELECT sum(deg * (deg - 1) / 2) FROM deg) AS DOUBLE), 6)
          ELSE 0.0e0 END AS clustering_coeff
      FROM tri""",
    "d56_seasonal_anomaly" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, date_trunc('hour', ts)
      ), keyed AS (
        SELECT event_type, hour, n,
          CAST(((date_diff('day', DATE '2024-01-07', CAST(hour AS DATE))
            % 7) + 7) % 7 AS INT) AS dow,
          CAST(hour(hour) AS INT) AS hod
        FROM hourly
      ), meds AS (
        SELECT event_type, dow, hod, round(quantile_cont(n, 0.5), 4) AS med
        FROM keyed GROUP BY 1, 2, 3
      ), dev AS (
        SELECT k.event_type, k.dow, k.hod, k.hour, k.n, m.med,
          abs(CAST(k.n AS DOUBLE) - m.med) AS d
        FROM keyed k JOIN meds m USING (event_type, dow, hod)
      ), mads AS (
        SELECT event_type, dow, hod, round(quantile_cont(d, 0.5), 4) AS mad
        FROM dev GROUP BY 1, 2, 3)
      SELECT d.event_type, d.hour, d.n, d.dow, d.hod, d.med,
        CASE WHEN m.mad = 0 THEN 0.0e0
          ELSE floor(0.6745e0 * (CAST(d.n AS DOUBLE) - d.med) / m.mad
            * 1.0e6 + 0.5e0) / 1.0e6
        END AS robust_z,
        CAST(CASE WHEN m.mad = 0 THEN 0.0e0
          ELSE abs(floor(0.6745e0 * (CAST(d.n AS DOUBLE) - d.med) / m.mad
            * 1.0e6 + 0.5e0) / 1.0e6)
        END >= 3.5e0 AS BIGINT) AS flagged
      FROM dev d JOIN mads m USING (event_type, dow, hod)""",
    "d35_robust_anomaly" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        FROM events GROUP BY event_type, date_trunc('hour', ts)
      ), meds AS (
        SELECT event_type, round(quantile_cont(n, 0.5), 4) AS med
        FROM hourly GROUP BY event_type
      ), dev AS (
        SELECT h.event_type, h.hour, h.n, m.med,
          abs(CAST(h.n AS DOUBLE) - m.med) AS d
        FROM hourly h JOIN meds m USING (event_type)
      ), mads AS (
        SELECT event_type, round(quantile_cont(d, 0.5), 4) AS mad
        FROM dev GROUP BY event_type)
      SELECT d.event_type, d.hour, d.n, d.med,
        CASE WHEN m.mad = 0 THEN 0.0e0
          ELSE floor(0.6745e0 * (CAST(d.n AS DOUBLE) - d.med) / m.mad
            * 1.0e6 + 0.5e0) / 1.0e6
        END AS robust_z,
        -- flagged derives from the SAME floor-portable robust_z (not a
        -- second round(...,6)): on exact decimal ties the two roundings
        -- disagree and flagged would contradict the emitted z
        CAST(CASE WHEN m.mad = 0 THEN 0.0e0
          ELSE abs(floor(0.6745e0 * (CAST(d.n AS DOUBLE) - d.med) / m.mad
            * 1.0e6 + 0.5e0) / 1.0e6)
        END >= 3.5e0 AS BIGINT) AS flagged
      FROM dev d JOIN mads m USING (event_type)""",
    "d19_event_transitions" -> """
      WITH t AS (
        SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev_type
        FROM events
      ), c AS (
        SELECT prev_type, event_type, count(*) AS n
        FROM t WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type)
      SELECT prev_type, event_type, n,
        CAST(n AS DOUBLE) /
          CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
      FROM c""",
    "b8_window_time_range" -> """
      SELECT event_id, user_id, ts,
        count(*) OVER w AS n_1h,
        CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS v_1h
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                             AND CURRENT ROW)""",
    "d23_pagerank" -> {
      val edgesSql = """
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
      s"""SELECT n_name, pr_rank
          FROM (${graft.graph.PageRank.sqlRanks(edgesSql, 3)}) pr
          JOIN nation ON pr.node = n_nationkey"""
    },
    "d106_rec_backtest" -> graft.operators.MarketBasket.sqlBacktest(
      """SELECT l.l_orderkey AS b, l.l_partkey AS i,
           o.o_orderdate AS ts
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE l.l_quantity >= 40""",
      cutoffTs = "2000-01-01 00:00:00", minPairs = 1),
    "d104_rfm" -> graft.operators.Rfm.sqlRfm(
      """SELECT user_id AS unit, ts, value,
           event_type = 'purchase' AS is_purchase
         FROM events""",
      unitOut = "user_id"),
    "d103_assoc_rules" -> graft.operators.MarketBasket.sqlRules(
      """SELECT l_orderkey AS b, l_partkey AS i FROM lineitem
         WHERE l_quantity >= 45""",
      minPairs = 1, k = 50),
    "d107_decayed_features" -> graft.operators.Decay.sqlDecayedFeatures(
      "events", "user_id", "ts", "value", "2024-01-20 00:00:00",
      halfLifeDays = 7.0),
    "d102_churn_labels" -> graft.operators.Labels.sqlChurnLabels(
      "events", "user_id", "ts", "value", "2024-01-20 00:00:00",
      horizonDays = 7),
    "d100_count_health" -> graft.operators.SeriesStats.sqlCountHealth(
      "SELECT user_id AS unit, event_type AS key FROM events",
      keyOut = "event_type"),
    "d97_eb_rates" -> graft.operators.Shrinkage.sqlEbRates(
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY user_id""",
      groupCols = Seq("user_id")),
    "d98_meta_analysis" -> graft.operators.MetaAnalysis.sqlFixedEffect(
      s"""
      WITH pu AS (
        SELECT user_id, user_id % 5 AS seg,
          ${graft.operators.Experiment.sqlVariantOf("user_id",
            Seq("control", "treatment"), salt = 17)} AS variant,
          CAST(sum(CASE WHEN event_type = 'purchase'
            THEN CAST(value AS DECIMAL(12,2))
            ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m
        FROM events GROUP BY user_id
      ), ps AS (
        SELECT seg,
          CAST(count(CASE WHEN variant = 'treatment' THEN 1 END)
            AS BIGINT) AS nt,
          sum(CASE WHEN variant = 'treatment' THEN m END) AS st,
          sum(CASE WHEN variant = 'treatment' THEN m * m END) AS qt,
          CAST(count(CASE WHEN variant = 'control' THEN 1 END)
            AS BIGINT) AS nc,
          sum(CASE WHEN variant = 'control' THEN m END) AS sc,
          sum(CASE WHEN variant = 'control' THEN m * m END) AS qc
        FROM pu GROUP BY seg)
      SELECT seg,
        CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
          - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS e,
        sqrt(((CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
            / CAST(nt AS DOUBLE)) / (CAST(nt AS DOUBLE) - 1.0e0))
            / CAST(nt AS DOUBLE)
          + ((CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
            / CAST(nc AS DOUBLE)) / (CAST(nc AS DOUBLE) - 1.0e0))
            / CAST(nc AS DOUBLE)) AS se
      FROM ps WHERE nt >= 2 AND nc >= 2"""),
    "d96_holt_forecast" -> graft.operators.Forecast.sqlHolt(
      """SELECT event_type AS g, date_trunc('day', ts) AS t,
           sum(CAST(value AS DECIMAL(18,2))) AS y
         FROM events GROUP BY 1, 2""",
      groupOut = "g", alpha = 0.3, beta = 0.1, horizon = 7),
    "d95_iv_wald" -> graft.operators.Experiment.sqlIvWald(
      s"""SELECT z,
           CASE WHEN z = 1
               OR ${graft.functions.Noise.sqlNoise("user_id", 31)}
                 < 0.3e0
             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS d, m
         FROM (SELECT user_id,
             CASE WHEN ${graft.operators.Experiment.sqlVariantOf(
               "user_id", Seq("z0", "z1"), salt = 29)} = 'z1'
               THEN 1 ELSE 0 END AS z,
             CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m
           FROM events GROUP BY user_id)""".stripMargin),
    "d93_rdd" -> graft.operators.Regression.sqlDiscontinuity(
      """SELECT CAST(l_quantity AS DECIMAL(12,2)) AS r,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS y
         FROM lineitem""",
      cutoff = 25.0, bandwidth = 10.0),
    "d94_ucb" -> graft.operators.Experiment.sqlUcbAllocation(
      s"""SELECT ${graft.operators.Experiment.sqlVariantOf("user_id",
             Seq("arm_a", "arm_b", "arm_c"), salt = 23)} AS variant, m
         FROM (SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m
           FROM events GROUP BY user_id)""",
      c = 100.0),
    "d91_event_study" -> graft.operators.Experiment.sqlEventStudy(
      s"""SELECT ${graft.operators.Experiment.sqlVariantOf("user_id",
             Seq("control", "treated"), salt = 17)} AS grp, week AS period,
           m
         FROM (SELECT user_id,
             CAST(floor((dayofmonth(ts) - 1) / 7) AS BIGINT) AS week,
             CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(value AS DECIMAL(12,2))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m
           FROM events GROUP BY 1, 2)""",
      "treated", "control", basePeriod = 0L),
    "d89_spearman" -> graft.operators.RankCorrelation.sqlSpearman(
      """SELECT source,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
             t -> len(t) > 0)) AS BIGINT) AS x,
           n_chars AS y
         FROM documents""",
      groupCols = Seq("source")),
    "d90_entropy_ldiv" -> graft.operators.Anonymity.sqlEntropyLDiversity(
      """(SELECT o_orderstatus, o_custkey % 10 AS seg, o_orderpriority
          FROM orders)""",
      Seq("o_orderstatus", "seg"), "o_orderpriority", l = 3.0),
    "d88_join_audit" -> graft.operators.JoinAudit.sqlJoinCardinality(
      "SELECT user_id FROM events", "SELECT user_id FROM events",
      keys = Seq("user_id"), k = 10),
    "d87_markov_attribution" -> graft.operators.Attribution
      .sqlRemovalEffects(
        """SELECT user_id AS id, ts, event_id AS eid, event_type AS st
           FROM events""",
        convValue = "purchase",
        channels = Seq("click", "error", "signup", "view")),
    "d86_hits" -> {
      val edgesSql = """
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
      s"""SELECT n_name, hub, auth
          FROM (${graft.graph.Hits.sqlScores(edgesSql, 4)}) hs
          JOIN nation ON hs.node = n_nationkey"""
    },
    "d108_modularity" -> {
      val edgesSql = """
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
      graft.graph.Modularity.sqlModularity(
        s"""SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM ($edgesSql) WHERE src != dst""",
        graft.graph.LabelPropagation.sqlCommunities(edgesSql, 4))
    },
    "d81_label_prop" -> {
      val edgesSql = """
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
      s"""SELECT n_name, label
          FROM (${graft.graph.LabelPropagation.sqlCommunities(edgesSql, 4)}) lp
          JOIN nation ON lp.node = n_nationkey"""
    },
    "d115_louvain" -> {
      val edgesSql = """
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
      val undSql = s"""
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM ($edgesSql) WHERE src != dst"""
      s"""SELECT n_name, label
          FROM (${graft.graph.Louvain.sqlRefine(undSql,
            graft.graph.LabelPropagation.sqlCommunities(edgesSql, 4),
            sweeps = 4)}) lv
          JOIN nation ON lv.node = n_nationkey"""
    },
    "d118_louvain_two_level" -> {
      val edgesSql = """
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
      val undSql = s"""
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM ($edgesSql) WHERE src != dst"""
      s"""SELECT n_name, label
          FROM (${graft.graph.Louvain.sqlTwoLevel(undSql,
            graft.graph.LabelPropagation.sqlCommunities(edgesSql, 4),
            sweeps = 4)}) lv
          JOIN nation ON lv.node = n_nationkey"""
    },
    "d119_leiden" -> {
      val edgesSql = """
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
      val undSql = s"""
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM ($edgesSql) WHERE src != dst"""
      s"""SELECT n_name, label
          FROM (${graft.graph.Louvain.sqlLeiden(undSql,
            graft.graph.LabelPropagation.sqlCommunities(edgesSql, 4),
            sweeps = 4)}) lv
          JOIN nation ON lv.node = n_nationkey"""
    },
    "d120_leiden_two_level" -> {
      val edgesSql = """
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2"""
      val undSql = s"""
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM ($edgesSql) WHERE src != dst"""
      s"""SELECT n_name, label
          FROM (${graft.graph.Louvain.sqlLeidenTwoLevel(undSql,
            graft.graph.LabelPropagation.sqlCommunities(edgesSql, 4),
            sweeps = 4)}) lv
          JOIN nation ON lv.node = n_nationkey"""
    },
    "d101_noised_sums" -> graft.operators.Anonymity.sqlNoisedSums(
      "events", Seq("event_type"), "user_id", "value", cap = 500.0,
      epsilon = 0.5),
    "d24_k_anonymity" -> graft.operators.Anonymity.sqlAudit(
      "customer", Seq("c_nationkey", "c_mktsegment"), "c_acctbal", 12),
    "d75_t_closeness" -> graft.operators.Anonymity.sqlTCloseness(
      "customer", Seq("c_mktsegment"), "c_acctbal", threshold = 0.15),
    "d26_top_paths" -> """
      WITH e AS (
        SELECT user_id, date_trunc('day', ts) AS day, ts, event_id,
          event_type,
          row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                             ORDER BY ts, event_id) AS rn
        FROM events),
      p AS (
        SELECT user_id, day,
          string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM e WHERE rn <= 12 GROUP BY user_id, day)
      SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      FROM p GROUP BY path
      ORDER BY n_sessions DESC, path ASC LIMIT 50""",
    "d27_key_skew" -> """
      WITH k AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1)
      SELECT CAST(length(CAST(cnt AS VARCHAR)) AS INT) AS magnitude,
        CAST(count(*) AS BIGINT) AS n_keys,
        CAST(sum(cnt) AS BIGINT) AS n_rows,
        max(cnt) AS max_per_key
      FROM k GROUP BY 1""",
    "d29_rate_limit" -> """
      SELECT event_id, user_id, ts, event_type,
        CAST(row_number() OVER (
          PARTITION BY user_id, date_trunc('day', ts)
          ORDER BY ts, event_id) AS BIGINT) AS n_in_hour,
        CAST(row_number() OVER (
          PARTITION BY user_id, date_trunc('day', ts)
          ORDER BY ts, event_id) <= 3 AS INT) AS admitted
      FROM events""",
    "d30_debounce" -> """
      WITH t AS (
        SELECT event_id, user_id, event_type, ts,
          lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS prev_us
        FROM events)
      SELECT event_id, user_id, event_type, ts FROM t
      WHERE prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000""",
    "d31_attribution_outer" -> """
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        p.value AS purchase_value, c.event_id AS click_id, c.ts AS click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts""",
    "d32_ab_test" -> graft.operators.Experiment.sqlWelch(
      s"""SELECT
            ${graft.operators.Experiment.sqlVariantOf("user_id",
              Seq("control", "treatment"), 17)} AS variant, m
          FROM (SELECT user_id,
              CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(value AS DECIMAL(12,2))
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DECIMAL(18,2)) AS m
            FROM events GROUP BY user_id)""",
      "control", "treatment"),
    "d28_correlation" -> {
      def sums(x: String, y: String, sfx: String) =
        s"""CAST(count($x) AS DOUBLE) AS n$sfx,
            CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE) AS sx$sfx,
            CAST(sum(CAST($y AS DECIMAL(18,2))) AS DOUBLE) AS sy$sfx,
            CAST(sum(CAST($x AS DECIMAL(18,2)) * CAST($x AS DECIMAL(18,2)))
              AS DOUBLE) AS sxx$sfx,
            CAST(sum(CAST($y AS DECIMAL(18,2)) * CAST($y AS DECIMAL(18,2)))
              AS DOUBLE) AS syy$sfx,
            CAST(sum(CAST($x AS DECIMAL(18,2)) * CAST($y AS DECIMAL(18,2)))
              AS DOUBLE) AS sxy$sfx"""
      def row(x: String, y: String, i: String) =
        s"""SELECT '$x' AS x_col, '$y' AS y_col,
              floor((n$i * sxy$i - sx$i * sy$i) /
                (sqrt(n$i * sxx$i - sx$i * sx$i) *
                 sqrt(n$i * syy$i - sy$i * sy$i)) * 1e6 + 0.5e0) / 1e6
                AS corr FROM s"""
      s"""WITH s AS (SELECT
            ${sums("l_quantity", "l_extendedprice", "1")},
            ${sums("l_quantity", "l_discount", "2")},
            ${sums("l_extendedprice", "l_discount", "3")}
          FROM lineitem)
          ${row("l_quantity", "l_extendedprice", "1")}
          UNION ALL ${row("l_quantity", "l_discount", "2")}
          UNION ALL ${row("l_extendedprice", "l_discount", "3")}"""
    },
  )
}
