package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** SURVEY §2.1 scans, §2.2 projection/filter, §2.3 joins (as-of lives in
  * EventQueries), §2.6 sorts/top-k, §2.7 set ops.
  *
  * All plain DataFrame ops: Catalyst handles parquet predicate pushdown /
  * column pruning (q_scan_*), join-strategy selection (broadcast vs SMJ),
  * and the INTERSECT/EXCEPT -> semi/anti-join rewrites. Reference
  * behavior being re-expressed: /root/reference is an empty snapshot
  * (README.md:1 only); semantics follow SURVEY.md §2's declared contract.
  */
object RelationalQueries extends QueryGroup {

  val queries: Map[String, QFn] = Map(
    // ---- §2.1 scans ------------------------------------------------------
    "q_scan_project" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "q_scan_pushdown" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // ---- §2.2 filter / predicates ---------------------------------------
    "q_filter_between" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")) / 1000000.0, 2).as("revenue_m"))),

    "q_case_classify" -> ((s, d) =>
      Tables.orders(s, d)
        .select(
          when(col("o_totalprice") < 100000.0, "small")
            .when(col("o_totalprice") < 200000.0, "medium")
            .when(col("o_totalprice") < 300000.0, "large")
            .otherwise("huge").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // ---- §2.3 joins ------------------------------------------------------
    "q_join_inner" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")) / 1000000.0, 2).as("sum_price_m"))
        .orderBy("c_mktsegment")),

    "q_join_broadcast" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"), "inner")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("p_brand")),

    // revenue computed in exact integer units (price-cents × discount
    // percentage-points = 1e-4 dollars): the true per-group revenue is a
    // 4dp decimal that ends in .xx50 for ~1% of groups, exactly where a
    // double sum's accumulation noise makes round(x,2) engine-dependent
    // (§7.3.13). Integer sums are order-free; ranking on the rounded
    // value with the orderkey tiebreak keeps the top-10 cut stable.
    "q_join_3way_topk" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      c.join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .withColumn("rev_u", round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(r2(sum(col("rev_u")).cast("double") / 10000.0).as("revenue"))
        .select(col("o_orderkey"), fmtDate(col("o_orderdate")).as("o_orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q_join_left" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
        .limit(100)),

    "q_join_full" -> ((s, d) =>
      Tables.nation(s, d)
        .join(Tables.supplier(s, d), col("n_nationkey") === col("s_nationkey"), "full_outer")
        .groupBy("n_nationkey", "n_name")
        .agg(count(col("s_suppkey")).as("n_suppliers"))
        .orderBy("n_nationkey")),

    "q_join_semi" -> ((s, d) => {
      val o95 = Tables.orders(s, d).filter(year(col("o_orderdate")) === 1995)
      Tables.customer(s, d)
        .join(o95, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "q_join_anti" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // ---- multi-correlated EXISTS / NOT EXISTS (TPC-H Q21 shape) ----------
    // "Suppliers who were the ONLY late shipper on a shared order": line
    // was late (integer datediff > 60 — no float date math), EXISTS
    // another supplier's line on the same order, NOT EXISTS another
    // supplier's LATE line on the same order. The two correlated
    // subqueries plan as a left-semi and a left-anti join, both keyed on
    // l_orderkey — the SAME key as the fact join, so at scale all three
    // hash-shuffles co-partition and AQE can chain them without a
    // repartition. Top-10 suppliers by blamed-order count.
    "q_multi_exists" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val late = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")) > 60)
        .select(col("l_orderkey").as("k"), col("l_suppkey").as("s")).distinct()
      val others = l.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
      val lateOthers = late.select(col("k").as("k3"), col("s").as("s3"))
      late
        .join(others, col("k") === col("k2") && col("s") =!= col("s2"), "left_semi")
        .join(lateOthers, col("k") === col("k3") && col("s") =!= col("s3"), "left_anti")
        .groupBy(col("s").as("l_suppkey"))
        .agg(count(lit(1)).as("n_blamed"))
        .orderBy(col("n_blamed").desc, col("l_suppkey"))
        .limit(10)
    }),

    // range join against an interval dimension. The predicate
    // o_orderdate ∈ [m_start, m_start + 1 month) is interval-ALIGNED, so
    // the scale path rewrites it to a broadcast EQUI-join on the derived
    // month key — Catalyst plans BroadcastHashJoin instead of the
    // O(rows × intervals) BroadcastNestedLoopJoin a raw BETWEEN predicate
    // would get. (Non-aligned intervals generalize the same way: bucket
    // both sides to a coarse grid, equi-join on the bucket, re-check the
    // residual range predicate.) Oracle states the BETWEEN form directly,
    // proving the rewrite exact.
    "q_join_range" -> ((s, d) => {
      val dim = s.range(1).select(explode(expr(
        "sequence(timestamp'1995-01-01 00:00:00', timestamp'2001-08-01 00:00:00', interval 1 month)"))
        .as("m_start"))
      Tables.orders(s, d)
        .join(broadcast(dim), date_trunc("MONTH", col("o_orderdate")) === col("m_start"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy("m_start")
        .agg(count(lit(1)).as("n_orders"),
          r2(sum(col("cents")).cast("double") / 100000000.0).as("sum_price_m"))
        .select(date_format(col("m_start"), "yyyy-MM").as("month"),
          col("n_orders"), col("sum_price_m"))
        .orderBy("month")
    }),

    // The same range join in its NATURAL form — the query states the raw
    // BETWEEN predicates and nothing else; the RangeJoinRewrite optimizer
    // rule (graft.plans, the Rule[LogicalPlan] extension rung) detects
    // f >= s AND f < e, buckets both sides on a 32-day grid, explodes
    // each interval to the buckets it touches, and re-plans the join as
    // a bucket EQUI-join with the ranges as residuals — exactly the
    // rewrite q_join_range performs BY HAND, now done by the planner for
    // any user query. PlanAuditSpec pins that no BroadcastNestedLoopJoin
    // survives; the oracle states the BETWEEN form, proving the rewrite
    // exact.
    "q_join_range_auto" -> ((s, d) => {
      graft.plans.RangeJoinRewrite.install(s)
      val dim = s.range(1).select(explode(expr(
        "sequence(timestamp'1995-01-01 00:00:00', timestamp'2001-08-01 00:00:00', interval 1 month)"))
        .as("m_start"))
      Tables.orders(s, d)
        .join(broadcast(dim),
          col("o_orderdate") >= col("m_start")
            && col("o_orderdate") < col("m_start") + expr("INTERVAL 1 MONTH"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy("m_start")
        .agg(count(lit(1)).as("n_orders"),
          r2(sum(col("cents")).cast("double") / 100000000.0).as("sum_price_m"))
        .select(date_format(col("m_start"), "yyyy-MM").as("month"),
          col("n_orders"), col("sum_price_m"))
        .orderBy("month")
    }),

    "q_join_theta" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")) / 1000000.0, 2).as("sum_price_m"))
        .orderBy("l_returnflag")),

    "q_join_cross" -> ((s, d) =>
      Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select(col("r_regionkey"), col("n_nationkey"),
          concat(col("r_name"), lit("-"), col("n_name")).as("pair_name"))
        .orderBy("r_regionkey", "n_nationkey")),

    // ---- subqueries (Catalyst rewrites: scalar broadcast + decorrelation)
    // Both predicates add +0.005 to the avg: prices sit on the 2dp cents
    // grid, and an order-of-accumulation ulp difference between engines
    // could flip `price > avg` exactly when avg lands on the grid — the
    // half-cent offset moves the boundary where no price can sit.
    "q_subquery_scalar" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_sq")
      s.sql("""
        SELECT o_orderpriority, count(1) AS n_above
        FROM graft_orders_sq
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM graft_orders_sq) + 0.005
        GROUP BY o_orderpriority ORDER BY o_orderpriority
      """)
    }),

    // correlated subquery — Catalyst decorrelates to an aggregate + join
    // (RewriteCorrelatedScalarSubquery); DuckDB runs the same SQL.
    "q_subquery_corr" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_sq2")
      s.sql("""
        SELECT o_custkey, count(1) AS n_above_own_avg
        FROM graft_orders_sq2 o
        WHERE o_totalprice > (SELECT avg(i.o_totalprice) FROM graft_orders_sq2 i
                              WHERE i.o_custkey = o.o_custkey) + 0.005
        GROUP BY o_custkey ORDER BY o_custkey
      """)
    }),

    // LATERAL correlated subquery with per-row LIMIT — top-2 orders per
    // customer through the lateral-join path (Catalyst plans it as a
    // DomainJoin/decorrelated limit), not a window function.
    "q_join_lateral" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_cust_lat")
      Tables.orders(s, d).createOrReplaceTempView("graft_ord_lat")
      s.sql("""
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM graft_cust_lat,
        LATERAL (SELECT o_orderkey, o_totalprice FROM graft_ord_lat
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c_custkey, t.o_totalprice DESC, t.o_orderkey
      """)
    }),

    // ---- §2.6 sorts / top-k ---------------------------------------------
    "q_topk_global" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    "q_sort_nulls" -> ((s, d) =>
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"),
          when(col("s_acctbal") < 0, lit(null)).otherwise(col("s_acctbal")).as("bal"))
        .orderBy(col("bal").asc_nulls_first, col("s_suppkey"))),

    // ---- §2.7 set operations --------------------------------------------
    "q_union_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      val b = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      a.unionAll(b).groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .orderBy("o_custkey")
    }),

    "q_intersect" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      val b = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      a.intersect(b).orderBy("o_custkey")
    }),

    "q_except" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      val b = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      a.except(b).orderBy("o_custkey")
    }),

    // bag-semantics set difference: a customer ordering 3× in 1995 and 1×
    // in 1996 keeps 2 copies (EXCEPT ALL), vs q_except's set semantics
    // where they'd vanish. Catalyst rewrites exceptAll to a count-window
    // + generate — no distinct shuffle beyond the join keys.
    "q_except_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      val b = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      a.exceptAll(b).groupBy("o_custkey").agg(count(lit(1)).as("n_excess"))
        .orderBy("o_custkey")
    }),

    // INTERSECT ALL: multiplicity-preserving intersection — each custkey
    // survives min(#1995, #1996) times, which the census makes visible.
    "q_intersect_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      val b = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      a.intersectAll(b).groupBy("o_custkey").agg(count(lit(1)).as("n_common"))
        .orderBy("o_custkey")
    }),

    // ---- ORDER BY + LIMIT/OFFSET pagination -----------------------------
    // Page 3 of the price-ranked orders (rows 41-60 of a total order) —
    // the BI pagination contract. OFFSET still sorts the full prefix, so
    // a deep page is O(offset) per request; keyset pagination (WHERE
    // key > last-seen) is the scale path — this grades the semantics.
    "q_paginate" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), r2(col("o_totalprice")).as("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(40).limit(20)),

    // ---- keyset (seek) pagination — the deep-page scale path ------------
    // (ORACLE) q_paginate's OFFSET form scans-and-discards 40 rows;
    // page 10⁶ discards 2·10⁷ — OFFSET cost grows with page depth. The
    // keyset form seeks: remember the LAST KEY of the previous page
    // (here derived in-query as the 40th tuple in (cents desc, key)
    // order — one TakeOrderedAndProject, k-bounded) and fetch WHERE
    // tuple < boundary LIMIT 20. The predicate pushes into the scan, so
    // every page costs the same regardless of depth — the pagination
    // contract a 100 TB result-serving layer needs. Prices are compared
    // in exact integer cents so the strict tuple order is portable.
    "q_paginate_keyset" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val boundary = o.orderBy(col("cents").desc, col("o_orderkey"))
        .limit(40).orderBy(col("cents").asc, col("o_orderkey").desc).limit(1)
        .select(col("cents").as("bc"), col("o_orderkey").as("bk"))
      o.join(broadcast(boundary),
          col("cents") < col("bc") ||
            (col("cents") === col("bc") && col("o_orderkey") > col("bk")))
        .orderBy(col("cents").desc, col("o_orderkey")).limit(20)
        .select(col("o_orderkey"), col("cents"))
    }),

    // ---- null-handling scalar family ------------------------------------
    // nullif / coalesce / nvl2 as one pipeline: the status 'P' is masked
    // to NULL (nullif), re-labeled (coalesce), and branch-flagged (nvl2 —
    // mirrored by CASE in the oracle since engines differ on nvl2).
    // Corpus has no natural nulls, so the mask synthesizes them — the
    // same recipe as q_join_nullsafe.
    "q_null_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("k", nullif(col("o_orderstatus"), lit("P")))
        .withColumn("lbl", coalesce(col("k"), lit("PENDING")))
        .withColumn("flag", expr("nvl2(k, 'known', 'masked')"))
        .groupBy("lbl", "flag")
        .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("lbl")),

    // ---- SQL-defined scalar function (CREATE FUNCTION) -------------------
    // The declarative UDF entry path: the revenue formula is defined ONCE
    // as a SQL function (catalog object, fully visible to Catalyst — it
    // inlines into codegen, unlike a black-box Scala UDF) and used from
    // SQL text. The oracle states the same arithmetic inline, so hash
    // equality proves the function body was applied losslessly.
    "q_sql_udf" -> ((s, d) => {
      graft.Tables.registerViews(s, d)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_net_tk(p DOUBLE, disc DOUBLE)
        RETURNS BIGINT
        RETURN CAST(round(p * 100) AS BIGINT) * (100 - CAST(round(disc * 100) AS BIGINT))""")
      s.sql("""
        SELECT l_returnflag,
          count(*) AS n,
          CAST(sum(graft_net_tk(l_extendedprice, l_discount)) AS BIGINT) AS rev_tk
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // null-safe equality join (<=>): NULL keys match each other — the
    // semantics MERGE/dedup pipelines need when the join key is optional.
    // Keys are synthesized (corpus has no nulls): nation keys 20+ -> NULL
    // on both sides; <=> pairs those rows instead of dropping them.
    "q_join_nullsafe" -> ((s, d) => {
      val n = Tables.nation(s, d)
        .select(when(col("n_nationkey") < 20, col("n_nationkey")).as("k"),
          col("n_name"))
      val s2 = Tables.supplier(s, d)
        .select(when(col("s_nationkey") < 20, col("s_nationkey")).as("k"),
          col("s_suppkey"))
      n.join(s2, n("k") <=> s2("k"))
        .groupBy(n("k").as("k"))
        .agg(count(lit(1)).as("n_pairs"), countDistinct(col("s_suppkey")).as("n_suppliers"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // BED-style interval-overlap self-join — the genomics region-overlap
    // shape from SURVEY §1.1's reference mapping: each order spans
    // [orderdate, orderdate+7d]; count per-customer pairs of overlapping
    // spans. Equi-join on the partition key (custkey) + theta residual
    // (s1 <= e2 AND s2 <= e1) — the standard distributed interval join:
    // the equi key bounds the pair expansion to per-customer order
    // counts, never a global interval cross. All-integer day arithmetic.
    "q_interval_overlap" -> ((s, d) => {
      val iv = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          unix_date(to_date(col("o_orderdate"))).cast("long").as("s"))
        .withColumn("e", col("s") + 7L)
      val a = iv.select(col("o_custkey"), col("o_orderkey").as("k1"),
        col("s").as("s1"), col("e").as("e1"))
      val b = iv.select(col("o_custkey"), col("o_orderkey").as("k2"),
        col("s").as("s2"), col("e").as("e2"))
      a.join(b, Seq("o_custkey"))
        .filter(col("k1") < col("k2") && col("s1") <= col("e2") && col("s2") <= col("e1"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy("o_custkey")
    }),

    // data-quality expectations: a fixed rule set evaluated corpus-wide,
    // one row per rule with its violation count — the
    // constraint-validation report every ingestion pipeline gates on.
    // ALL rules ride ONE pass: a single left join (null right side =
    // referential-integrity violation; non-null enables the cross-table
    // date rule) and one conditional aggregate — at 100 TB a per-rule
    // scan would read the fact table four times, this reads it once.
    // The one-row aggregate then unpivots to the per-rule report.
    "q_data_checks" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d).select(col("o_orderkey").as("ok"), col("o_orderdate"))
      val m = li.join(o, li("l_orderkey") === col("ok"), "left").agg(
        sum(when(col("ok").isNull, 1L).otherwise(0L)).as("orphan"),
        sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("nonpos"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L).otherwise(0L)).as("disc"),
        sum(when(col("ok").isNotNull && col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L)).as("shipb"))
      m.select(explode(array(
        struct(lit("1_orphan_lineitem").as("rule"), col("orphan").as("n_violations")),
        struct(lit("2_nonpositive_price").as("rule"), col("nonpos").as("n_violations")),
        struct(lit("3_discount_range").as("rule"), col("disc").as("n_violations")),
        struct(lit("4_ship_before_order").as("rule"), col("shipb").as("n_violations")))).as("r"))
        .select(col("r.rule").as("rule"), col("r.n_violations").as("n_violations"))
        .orderBy("rule")
    }),

    // incremental-view maintenance: yesterday's snapshot + today's delta
    // as PARTIAL aggregates (count, sum) merged by a second aggregation —
    // the algebraic re-aggregation shape every incremental pipeline
    // relies on. Exact integer cents make the merge provably equal to
    // the direct one-pass aggregate, which is exactly what the oracle
    // computes.
    "q_partial_merge" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_custkey").agg(count(lit(1)).as("pn"), sum(col("cents")).as("ps"))
      val snapshot = partial(o.filter(year(col("o_orderdate")) <= 1997))
      val delta = partial(o.filter(year(col("o_orderdate")) >= 1998))
      snapshot.unionAll(delta)
        .groupBy("o_custkey")
        .agg(sum(col("pn")).as("n_orders"), sum(col("ps")).as("total_cents"))
        .orderBy("o_custkey")
    }),

    // ---- §2.1 partitioned sink round-trip --------------------------------
    // Hive-style partitioned parquet write (the layout a 100 TB pipeline
    // ships downstream: one directory per partition value, so consumers
    // prune at the directory level), then a read-back that PROVES the
    // pruning: the filter on the partition column becomes PartitionFilters
    // in the scan — zero non-'O' files are opened. The aggregate is exact
    // integer cents. Oracle reads the original table: a lossless
    // round-trip must give identical results.
    "q_sink_partitioned" -> ((s, d) => {
      val out = s"/tmp/graft_sink_${Integer.toHexString(d.hashCode)}/orders_by_status"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderstatus") === "O")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // ---- §2.1 CSV source round-trip --------------------------------------
    // Header CSV write + schema-enforced read-back (inferSchema is a
    // second full scan at 100 TB — a production read ALWAYS declares the
    // schema). Monetary values travel as integer cents: CSV is a decimal-
    // string format, so shipping doubles through it invites parse drift;
    // integers round-trip exactly. Oracle reads the original table —
    // equality proves the round-trip lossless.
    "q_source_csv" -> ((s, d) => {
      val out = s"/tmp/graft_src_${Integer.toHexString(d.hashCode)}/orders_csv"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema("o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT")
        .option("header", "true").csv(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .orderBy("o_orderstatus")
    }),

    // ---- §2.1 ORC source round-trip --------------------------------------
    // The other columnar format large warehouses actually hold. The
    // read-back filter must push into the ORC scan (ORC keeps min/max
    // stride statistics like parquet row groups — PlanAuditSpec pins the
    // pushdown); monetary values travel as integer cents. Oracle reads
    // the original table: a lossless round-trip must agree exactly.
    "q_source_orc" -> ((s, d) => {
      val out = s"/tmp/graft_src_${Integer.toHexString(d.hashCode)}/lineitem_orc"
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("price_c") > 5000000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("price_c")).as("sum_price_c"))
        .orderBy("l_returnflag")
    }),

    // ---- §2.1 catalog/DDL surface ----------------------------------------
    // The persisted-catalog path BI tooling expects: CREATE DATABASE +
    // CREATE TABLE ... USING parquet + INSERT INTO, then a catalog-
    // resolved aggregate over the managed table. The session catalog owns
    // the metadata (schema, format, location under /tmp — not the repo's
    // spark-warehouse) and the INSERT runs the same committed-file
    // protocol as a DataFrame write. DROP TABLE IF EXISTS keeps the query
    // idempotent across passes (a managed drop removes the data files).
    // Oracle reads the original table — the managed round-trip must agree
    // exactly.
    "q_catalog_table" -> ((s, d) => {
      val tag = Integer.toHexString(d.hashCode)
      val db = s"graft_cat_$tag"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '/tmp/graft_cat_$tag.db'")
      s.sql(s"DROP TABLE IF EXISTS $db.orders_t")
      // a PREVIOUS session's managed files can survive under /tmp while
      // this session's in-memory catalog has no entry to drop — remove
      // the orphaned location or CREATE TABLE refuses it
      val loc = new org.apache.hadoop.fs.Path(s"/tmp/graft_cat_$tag.db/orders_t")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      s.sql(s"CREATE TABLE $db.orders_t " +
        "(o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT) USING parquet")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(s"orders_src_$tag")
      s.sql(s"INSERT INTO $db.orders_t SELECT * FROM orders_src_$tag")
      s.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS total_cents " +
        s"FROM $db.orders_t GROUP BY o_orderstatus ORDER BY o_orderstatus")
    }),

    // ---- join-key skew report (ORACLE) -----------------------------------
    // The operational input to the salting decision (q_join_salted): per
    // candidate join key — row count, exact distinct keys, and the
    // hottest key's share of rows. Top share near 1/n_distinct means the
    // shuffle balances; a fat top share says salt or broadcast. One
    // groupBy per audited column (each shards on its own key) — the
    // ANALYZE-style sweep a platform team schedules; k-row output.
    "q_skew_report" -> ((s, d) => {
      def keyStats(df: org.apache.spark.sql.DataFrame, name: String, k: String) =
        df.groupBy(col(k).cast("string").as("kv"))
          .agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_distinct"),
            max(col("c")).as("maxc"))
          .select(lit(name).as("key_col"), col("n_rows"), col("n_distinct"),
            r3(col("maxc").cast("double") / col("n_rows").cast("double")).as("top_share"))
      keyStats(Tables.orders(s, d), "orders.o_custkey", "o_custkey")
        .unionAll(keyStats(Tables.orders(s, d), "orders.o_orderpriority", "o_orderpriority"))
        .unionAll(keyStats(Tables.lineitem(s, d), "lineitem.l_returnflag", "l_returnflag"))
        .unionAll(keyStats(Tables.customer(s, d), "customer.c_nationkey", "c_nationkey"))
        .unionAll(keyStats(Tables.events(s, d), "events.user_id", "user_id"))
        .orderBy("key_col")
    }),

    // ---- §2.1 JDBC source/sink round-trip --------------------------------
    // The federation path: write a projection to a relational database
    // (embedded Derby — the same spark.read/write.jdbc surface talks to
    // any warehouse) and read it back as a PARTITIONED scan: 4 parallel
    // range-bounded queries on the numeric key, which is how a JDBC
    // extract avoids the single-connection bottleneck at scale. Money as
    // integer cents (DOUBLE↔DECIMAL drift across JDBC dialects is the
    // classic silent killer). mode("overwrite") drops and recreates the
    // table, keeping passes idempotent. Oracle on the original table.
    // The database lives in Derby's in-memory store: an on-disk one
    // under /tmp/graft_* stays booted after the query returns (the
    // frame is lazy, so the fn cannot shut it down), and the fixture
    // sweep between queries would delete its files under the live engine.
    "q_source_jdbc" -> ((s, d) => {
      System.setProperty("derby.system.home", "/tmp")
      val tag = Integer.toHexString(d.hashCode)
      val url = s"jdbc:derby:memory:graft_jdbc_$tag;create=true"
      val props = new java.util.Properties()
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .write.mode("overwrite").jdbc(url, "ORDERS_T", props)
      s.read
        .option("partitionColumn", "o_orderkey")
        .option("numPartitions", "4")
        .option("lowerBound", "0")
        .option("upperBound", "2000000")
        .jdbc(url, "ORDERS_T", props)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        .orderBy("o_orderpriority")
    }),

    // ---- §2.1 cached-relation surface ------------------------------------
    // CACHE TABLE ... AS SELECT: the interactive-session accelerator. The
    // cached relation is columnar (InMemoryRelation, built eagerly) and
    // subsequent access scans it instead of parquet — PlanAuditSpec pins
    // the InMemoryTableScan. Money as integer cents; oracle on the
    // original table, because caching must be semantically invisible.
    // At 100 TB this is the per-session hot-set tool (cache the filtered
    // projection, not the fact table); the cross-session analogue is the
    // persisted artifact pattern (saveShingleIndex / q_sink_partitioned).
    "q_cache_table" -> ((s, d) => {
      val tag = Integer.toHexString(d.hashCode)
      val v = s"graft_cache_$tag"
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(s"${v}_src")
      // CACHE TABLE ... AS SELECT registers a temp view of the same
      // name; release the cache AND drop the view so re-invocation
      // (bench passes, repeated sessions) stays idempotent
      s.sql(s"UNCACHE TABLE IF EXISTS $v")
      s.sql(s"DROP VIEW IF EXISTS $v")
      s.sql(s"CACHE TABLE $v AS SELECT * FROM ${v}_src")
      s.table(v).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("l_returnflag")
    }),

    // ---- §2.1 Avro source round-trip --------------------------------------
    // The row-oriented interchange format of Kafka/streaming estates.
    // Spark 4 ships the Avro connector inside spark-sql but does NOT
    // register the `avro` short name (the alias still errors, pointing at
    // the external package), so the format is addressed by its provider
    // class. Monetary values travel as integer cents — Avro doubles would
    // round-trip, but the suite's cents discipline keeps the aggregate
    // integer-exact. DuckDB cannot read Avro, so like the partitioned
    // sink the oracle reads the ORIGINAL table: equality proves the
    // round-trip lossless.
    "q_source_avro" -> ((s, d) => {
      val fmt = "org.apache.spark.sql.avro.AvroFileFormat"
      val out = s"/tmp/graft_src_${Integer.toHexString(d.hashCode)}/customer_avro"
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("bal_c"))
        .write.mode("overwrite").format(fmt).save(out)
      s.read.format(fmt).load(out)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(col("bal_c")).as("sum_bal_c"))
        .orderBy("c_mktsegment")
    }),

    // ---- §2.1 XML source round-trip ---------------------------------------
    // Spark 4's NATIVE XML source (XmlFileFormat registers the short
    // name) — the feed/config interchange shape, exercised on the small
    // supplier table because XML is a per-row text format, not a fact-
    // table format. The read-back declares its schema (rowTag inference
    // is a second full scan) and money travels as integer cents. Oracle
    // reads the original table.
    "q_source_xml" -> ((s, d) => {
      val out = s"/tmp/graft_src_${Integer.toHexString(d.hashCode)}/supplier_xml"
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey").cast("long").as("s_nationkey"),
          round(col("s_acctbal") * 100).cast("long").as("bal_c"))
        .write.mode("overwrite").option("rowTag", "supplier").format("xml").save(out)
      s.read.schema("s_suppkey BIGINT, s_nationkey BIGINT, bal_c BIGINT")
        .option("rowTag", "supplier").format("xml").load(out)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"), sum(col("bal_c")).as("sum_bal_c"))
        .orderBy("s_nationkey")
    }),

    // ---- §2.1 binaryFile source (raw-asset ingest) ------------------------
    // The ingest path for media/blob estates: `binaryFile` reads whole
    // files as (path, modificationTime, length, content BINARY) rows —
    // how a multimodal pipeline lands image/audio assets before the
    // MediaPipeline decode stage. Fixture: 20 docs written one-file-each
    // via the text sink partitioned by doc_id (each file = text + '\n'),
    // then read back with recursiveFileLookup (disables partition
    // inference, so the full path survives for key extraction) +
    // pathGlobFilter (skips _SUCCESS). The census proves LOSSLESS ingest:
    // per-file byte length and content md5 — the oracle recomputes both
    // from the original table (octet_length+1 / md5(text||'\n')), so the
    // whole write→filesystem→binaryFile loop is hash-verified.
    "q_source_binaryfile" -> ((s, d) => {
      val out = s"/tmp/graft_src_${Integer.toHexString(d.hashCode)}/docs_bin"
      Tables.documents(s, d).filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").partitionBy("doc_id").format("text").save(out)
      s.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.txt")
        .load(out)
        .select(regexp_extract(col("path"), "doc_id=(\\d+)", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("doc_id")
    }),

    // ---- §2.3 nation-pair trade matrix via the SQL entry path ------------
    // TPC-H Q7 generalized to the full supplier-nation × customer-nation
    // matrix, and the ONLY graded query expressed as a raw spark.sql(...)
    // string over Tables.registerViews — proving the ad-hoc/BI entry
    // path (temp views + SQL text) produces the exact same gated results
    // as the DataFrame API. Catalyst plans it identically: two fact
    // shuffles (lineitem⋈orders, orders⋈customer), broadcast dim paths,
    // exact centi-cent revenue.
    "q_volume_ship" -> ((s, d) => {
      graft.Tables.registerViews(s, d)
      s.sql("""
        WITH sn AS (SELECT s_suppkey, n_name AS supp_nation
                    FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        cn AS (SELECT c_custkey, n_name AS cust_nation
               FROM customer JOIN nation ON c_nationkey = n_nationkey)
        SELECT supp_nation, cust_nation, CAST(year(l_shipdate) AS BIGINT) AS yr,
          count(*) AS n_lines,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_cc
        FROM lineitem
        JOIN sn ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN cn ON o_custkey = c_custkey
        WHERE supp_nation <> cust_nation
        GROUP BY supp_nation, cust_nation, yr
        ORDER BY supp_nation, cust_nation, yr""")
    }),

    // ---- §2.3 market-share star join (TPC-H Q8 shape) ---------------------
    // The hardest classic join topology in the suite: lineitem joined to
    // SIX other tables with nation playing TWO different roles (customer-
    // side region filter, supplier-side attribution). Per order year:
    // total PROMO-part revenue from ASIA-region customers, and NATION_0
    // suppliers' share of it. Join strategy mirrors the 100 TB plan: the
    // two fact-fact edges (lineitem⋈orders on orderkey, orders⋈customer
    // on custkey) shuffle on their keys; every dimension path (region→
    // nation→customer filter, part filtered to PROMO, supplier⋈nation)
    // reduces to a broadcast build side. Revenue is exact centi-cents
    // (price_c·(100−disc_c), the cross-multiplied discount — no float
    // product), so the share is one r3'd division of exact BIGINTs.
    "q_market_share" -> ((s, d) => {
      val nat = Tables.nation(s, d)
      val asiaNat = nat.join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
          nat("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nationkey"))
      val asiaCust = Tables.customer(s, d).join(broadcast(asiaNat), "c_nationkey")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
      val promo = Tables.part(s, d).filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val supNation = Tables.supplier(s, d)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_cc"))
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("yr")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("rev_cc")).as("rev_cc_total"),
          sum(when(col("supp_nation") === "NATION_0", col("rev_cc"))
            .otherwise(0L)).as("rev_cc_n0"))
        .withColumn("share",
          r3(col("rev_cc_n0").cast("double") / col("rev_cc_total").cast("double")))
        .orderBy("yr")
    }),

    // ---- §2.3 salted skew join -------------------------------------------
    // The hot-key mitigation for a shuffle join at 100 TB: orders join a
    // 5-row priority dim on o_orderpriority — a key with 5 values over
    // the whole fact table, i.e. every row of a partition lands on one
    // of 5 reducers in a plain shuffle join. Salting replicates the dim
    // SALT times and gives each fact row a deterministic content salt
    // (xxhash64 of the row key, NOT rand() — task retries and the oracle
    // must agree), so the join key becomes (key, salt) and each hot key
    // spreads over SALT reducers. shuffle_hash hint keeps the exec a
    // shuffle join (broadcast would make salting moot here — the point
    // is the technique for dims past the broadcast threshold). Oracle is
    // the plain unsalted join.
    "q_join_salted" -> ((s, d) => {
      import s.implicits._
      val SALT = 16
      val dim = Seq(("1-URGENT", 10L), ("2-HIGH", 8L), ("3-MEDIUM", 5L),
        ("4-NOT SPECIFIED", 2L), ("5-LOW", 1L)).toDF("prio", "weight")
      val dimSalted = dim.withColumn("salt",
        explode(sequence(lit(0L), lit(SALT - 1L))))
      val facts = Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(SALT.toLong)))
      facts.join(dimSalted.hint("shuffle_hash"),
          facts("o_orderpriority") === dimSalted("prio") && facts("salt") === dimSalted("salt"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("cents") * col("weight")).as("weighted_cents"))
        .orderBy("o_orderpriority")
    }),

    // ---- §2.3 runtime bloom-filter join pruning --------------------------
    // (ORACLE) The fourth leg of the adaptive-planning triad (salting /
    // AQE skew-split / DPP): Catalyst's InjectRuntimeFilter. A shuffle
    // join whose build side carries a selective filter (urgent 1995
    // orders ≈ 3% of orders) gets a bloom filter of the build-side join
    // keys injected into the PROBE side's scan — at 100 TB, ~97% of
    // lineitem rows die at the scan instead of riding the shuffle, with
    // zero query rewrite (the runtime analogue of q_dedup_bloom's
    // hand-built sketch prune; RuntimeFilterSpec pins the injected
    // bloom_filter_might_contain and off-vs-on equality). Thresholds are
    // session-scoped for the fixture (scan-size gate 0, broadcast off so
    // the join actually shuffles); the aggregate is materialized eagerly
    // (localCheckpoint) while they hold, then they are restored.
    "q_join_runtime_filter" -> ((s, d) => {
      val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      val saved = keys.map(k => k -> s.conf.getOption(k))
      try {
        s.conf.set(keys(0), "-1"); s.conf.set(keys(1), "-1")
        s.conf.set(keys(2), "true"); s.conf.set(keys(3), "0")
        val ord = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT" &&
            year(col("o_orderdate")) === 1995)
          .select(col("o_orderkey"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("rev_cents"))
          .orderBy("l_returnflag")
          .localCheckpoint(true)
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }),

    // ---- §2.2 GROUP BY ALL / ORDER BY ALL sugar --------------------------
    // (ORACLE) The analyst-SQL ergonomics surface both engines added in
    // the same era: every non-aggregate select item groups implicitly,
    // and the output orders by the whole select list. Same plan as the
    // explicit form — this grades the RESOLUTION rule (which items are
    // grouping keys), not new execution machinery, with the oracle
    // running the IDENTICAL SQL text in DuckDB.
    "q_groupby_all" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_gba")
      s.sql("SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS yr, " +
        "count(*) AS n, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents " +
        "FROM graft_orders_gba GROUP BY ALL ORDER BY ALL")
    }),

    // ---- §2.3 bucketed co-located join -----------------------------------
    // The shuffle-amortization posture for tables joined REPEATEDLY at
    // 100 TB: both sides written bucketBy(8, join-key) (+ sortBy, so the
    // layout also pre-sorts within buckets), then merge-joined with ZERO
    // exchange — the bucket layout IS the shuffle, paid once at write
    // time instead of per query. Matching bucket counts let Spark treat
    // each scan as already hash-distributed on the key
    // (spark.sql.sources.bucketing.enabled); PlanAuditSpec pins that the
    // only remaining Exchange is the final 5-row aggregate. The merge
    // hint keeps the exec a sort-merge join — broadcast would hide
    // whether bucketing removed the shuffle. Oracle joins the ORIGINAL
    // tables: a lossless bucketed round-trip must agree exactly.
    "q_join_bucketed" -> ((s, d) => {
      val tag = Integer.toHexString(d.hashCode)
      val base = s"/tmp/graft_sink_$tag"
      val ot = s"graft_orders_b_$tag"; val ct = s"graft_customer_b_$tag"
      s.sql(s"DROP TABLE IF EXISTS $ot"); s.sql(s"DROP TABLE IF EXISTS $ct")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$base/orders_bucketed").saveAsTable(ot)
      Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$base/customer_bucketed").saveAsTable(ct)
      s.table(ot).hint("merge")
        .join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy("c_mktsegment")
    }),

    // ---- §2.3 dynamic partition pruning ----------------------------------
    // The star-schema scan-killer at 100 TB: the fact table is stored
    // partitioned on the join key; the dim-side predicate (tier =
    // 'critical') is only known at RUN time, so static pruning can't
    // help — Catalyst instead injects a DynamicPruningExpression into the
    // fact scan's PartitionFilters (reusing the dim's broadcast as the
    // filter source), and only the matching partition directories are
    // read. PlanAuditSpec pins the dynamicpruningexpression in the scan.
    // The dim must be a FILE relation: an inline LocalRelation gets its
    // filter constant-folded away at plan time, and with no surviving
    // selective Filter node the PartitionPruning rule never fires.
    // Oracle applies the dim filter to the ORIGINAL orders table.
    "q_dpp" -> ((s, d) => {
      import s.implicits._
      val base = s"/tmp/graft_sink_${Integer.toHexString(d.hashCode)}"
      val out = s"$base/orders_by_prio"
      Tables.orders(s, d)
        .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderpriority"))
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
      Seq(("1-URGENT", "critical"), ("2-HIGH", "critical"), ("3-MEDIUM", "normal"),
        ("4-NOT SPECIFIED", "normal"), ("5-LOW", "normal")).toDF("prio", "tier")
        .write.mode("overwrite").parquet(s"$base/prio_dim")
      val dim = s.read.parquet(s"$base/prio_dim")
      s.read.parquet(out)
        .join(dim.filter(col("tier") === "critical"), col("o_orderpriority") === col("prio"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("o_orderpriority")
    }),

    // ---- §2.1 JSON-lines source round-trip -------------------------------
    // The interchange format training-data corpora actually arrive in.
    // Schema-enforced read (no sampling pass); doubles round-trip
    // bit-exactly through Jackson's shortest-representation encoding, and
    // the aggregates are order-free (count/min/max) so the oracle over
    // the ORIGINAL table must match exactly.
    "q_source_jsonl" -> ((s, d) => {
      val out = s"/tmp/graft_src_${Integer.toHexString(d.hashCode)}/events_jsonl"
      graft.Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(out)
      s.read.schema("event_id BIGINT, event_type STRING, value DOUBLE").json(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), r2(min(col("value"))).as("min_v"),
          r2(max(col("value"))).as("max_v"))
        .orderBy("event_type")
    }),
    // ---- TPC-H Q3 shape: shipping-priority top-10 (ORACLE) --------------
    // customer(segment) |x| orders(before cut) |x| lineitem(shipped after
    // cut), revenue-ranked top 10 open orders. Revenue in exact integer
    // ten-thousandths (price_c * (100 - disc_c)) — the suite's standard
    // discipline for sum(price * (1-disc)). The segment filter prunes the
    // customer side before the join; the two date filters reach their
    // scans (PushedFilters). Top-10 via sort+limit (TakeOrderedAndProject
    // — no global sort materialization).
    "q_ship_priority" -> ((s, d) => {
      val cut = lit("1998-06-30").cast("timestamp")
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
        .withColumn("rev_tk", round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .select("l_orderkey", "rev_tk")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(col("rev_tk")).as("revenue_tk"))
        .select(col("l_orderkey"), r2(col("revenue_tk").cast("double") / lit(10000.0)).as("revenue"),
          fmtDate(col("o_orderdate")).as("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue_tk").desc, col("l_orderkey"))
        .limit(10)
    }),

    // ---- TPC-H Q15 shape: top supplier(s) by period revenue (ORACLE) ----
    // Quarter revenue per supplier, then the supplier(s) AT the maximum —
    // the classic view + scalar-max join. The max is a one-row broadcast
    // against the k-suppliers aggregate; ties all surface (no arbitrary
    // row pick), ordered by suppkey.
    "q_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
        .withColumn("rev_tk", round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .groupBy("l_suppkey").agg(sum(col("rev_tk")).as("total_tk"))
      val mx = rev.agg(max(col("total_tk")).as("mx"))
      rev.join(broadcast(mx), col("total_tk") === col("mx"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          r2(col("total_tk").cast("double") / lit(10000.0)).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // ---- TPC-H Q18 shape: large-quantity orders (ORACLE) ----------------
    // Orders whose total line quantity exceeds a threshold, with the
    // customer attached — the IN-subquery-over-groupBy-HAVING shape. The
    // qualifying-orders aggregate is computed ONCE and reused as both
    // the filter and the quantity column (no second lineitem pass); the
    // customer join is broadcast (qualifying set is tiny by definition).
    "q_large_orders" -> ((s, d) => {
      val qty = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"))
        .filter(col("qty_c") > lit(9000L))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      broadcast(qty)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_name"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          fmtDate(col("o_orderdate")).as("o_orderdate"),
          r2(col("o_totalprice")).as("o_totalprice"),
          r2(col("qty_c").cast("double") / lit(100.0)).as("total_qty"))
        .orderBy(col("qty_c").desc, col("o_orderkey"))
        .limit(20)
    }),

    // ---- TPC-H Q10 shape: returned-item reporting (ORACLE) --------------
    // Top-20 customers by revenue lost to returns in a quarter:
    // customer |x| orders(quarter) |x| lineitem(returnflag = 'R') |x|
    // nation. Revenue in exact integer ten-thousandths; the date filter
    // and the returnflag filter both reach their scans, the nation dim
    // is broadcast, and the top-20 is TakeOrderedAndProject over the
    // customer aggregate — never a global sort of the join output.
    "q_returned_items" -> ((s, d) => {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-04-01").cast("timestamp")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .withColumn("rev_tk", round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .select("l_orderkey", "rev_tk")
      val n = Tables.nation(s, d).select("n_nationkey", "n_name")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(col("rev_tk")).as("rev_tk"),
          // acctbal is a per-customer constant; max() carries it through
          // the aggregate without a second customer join
          max(round(col("c_acctbal") * 100).cast("long")).as("acct_c"))
        .select(col("c_custkey"), col("c_name"),
          r2(col("rev_tk").cast("double") / lit(10000.0)).as("revenue"),
          r2(col("acct_c").cast("double") / lit(100.0)).as("c_acctbal"),
          col("n_name"), col("rev_tk"))
        .orderBy(col("rev_tk").desc, col("c_custkey"))
        .limit(20)
        .drop("rev_tk")
    }),

    // ---- TPC-H Q21 shape: suppliers who kept orders waiting (ORACLE) ----
    // The classic form is a correlated EXISTS (another supplier in the
    // order) + NOT EXISTS (any other supplier shipping later) per line —
    // two corpus-scale correlated subqueries. The scale-correct rewrite:
    // collapse to one (order, supplier) aggregate, then ONE partitioned
    // window derives both predicates — n_suppliers ≥ 2 (the EXISTS) and
    // supplier_max_ship = order_max_ship (the NOT EXISTS: nobody else
    // shipped strictly later; ties qualify both, exactly as the double
    // negation does). One shuffle on l_orderkey replaces two correlated
    // joins; finished orders only, count per supplier, top 10.
    "q_waiting_supplier" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val fOrders = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey")
      val perSupp = Tables.lineitem(s, d)
        .join(fOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("l_shipdate")).as("supp_max"))
      val w = Window.partitionBy("l_orderkey")
      val waiting = perSupp
        .withColumn("n_supp", count(lit(1)).over(w))
        .withColumn("order_max", max(col("supp_max")).over(w))
        .filter(col("n_supp") >= 2 && col("supp_max") === col("order_max"))
      waiting.groupBy("l_suppkey")
        .agg(countDistinct(col("l_orderkey")).as("numwait"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(10)
    }),

    // ---- TPC-H Q22 shape: global sales opportunity (ORACLE) -------------
    // Dormant high-balance customers by country: acctbal above the global
    // positive-balance average AND no orders since 2000. The average is a
    // one-row broadcast, but the comparison is cross-multiplied exact
    // integers (c_cents · n > total_cents) so no float ratio ever decides
    // a knife-edge row; the "no recent orders" predicate is a left-anti
    // join against the date-pruned orders scan (never a correlated
    // NOT EXISTS per row); nation dim broadcast.
    "q_sales_opportunity" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .withColumn("acct_c", round(col("c_acctbal") * 100).cast("long"))
      val avgPos = c.filter(col("acct_c") > 0L)
        .agg(count(lit(1)).as("n_pos"), sum(col("acct_c")).as("sum_pos"))
      val idle = c
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
      idle.crossJoin(broadcast(avgPos))
        .filter(col("acct_c") * col("n_pos") > col("sum_pos"))
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("numcust"), sum(col("acct_c")).as("bal_c"))
        .select(col("n_name"), col("numcust"),
          r2(col("bal_c").cast("double") / lit(100.0)).as("totacctbal"))
        .orderBy("n_name")
    }),
    // ---- schema-merge parquet read (ORACLE) -----------------------------
    // The source-level face of schema evolution (q_union_evolve is the
    // query-level face): two parquet drops — an old one without a column
    // and a new one with it — read as ONE dataset via mergeSchema; the
    // missing column surfaces as null for old rows. At 100 TB this is
    // how a years-old lake with accreted columns reads without a
    // rewrite. Oracle reconstructs the same union from the live table.
    "q_source_merge_schema" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("graft_merge_schema_").toString
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$base/drop=old")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$base/drop=new")
      s.read.option("mergeSchema", "true").parquet(base)
        .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>")).as("prio"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("prio")
    }),
    // ---- error-tolerant CSV ingestion (ORACLE) --------------------------
    // The one-bad-row-must-not-kill-the-job contract at the SOURCE: a
    // CSV extract with deterministically corrupted rows (every 97th
    // order key gets a non-numeric key field) read back in PERMISSIVE
    // mode — malformed rows land in _corrupt_record instead of failing
    // the scan, and the report accounts for BOTH populations. The
    // oracle derives the same split from the live table by the same
    // rule, so equality proves the permissive parser quarantined
    // exactly the planted rows and parsed every other field losslessly.
    "q_source_csv_corrupt" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("graft_csv_corrupt_").toString
      Tables.orders(s, d)
        .select(concat_ws(",",
          when(col("o_orderkey") % 97 === 0, lit("corrupted")).otherwise(col("o_orderkey").cast("string")),
          col("o_custkey").cast("string"),
          format_string("%.2f", col("o_totalprice"))).as("line"))
        .write.mode("overwrite").text(base)
      val schema = "o_orderkey LONG, o_custkey LONG, o_totalprice STRING, _corrupt_record STRING"
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(base)
      // the key column MUST appear in the aggregate: the CSV parser only
      // parses REQUIRED columns (column pruning), and corrupt-record
      // detection sees only what was parsed — prune away o_orderkey and
      // the planted corruption is invisible (caught live by this query's
      // first draft)
      parsed.groupBy()
        .agg(sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_corrupt_record").isNull,
            round(col("o_totalprice").cast("double") * 100).cast("long"))
            .otherwise(0L)).as("good_cents"),
          max(when(col("_corrupt_record").isNull, col("o_orderkey"))).as("max_good_key"))
    }),

    // ---- observed job metrics as the graded result (ORACLE) -------------
    // Production observability: the scan job carries its own metrics via
    // `Dataset.observe` (accumulator-backed, exact, no second scan), and
    // the REPORT IS those metrics — rows scanned, rows matching a
    // predicate, exact cents mass. The oracle recomputes the same three
    // numbers declaratively, so hash equality proves the listener path
    // delivers exact counts, not approximations. The driving action is a
    // one-row aggregate (never a data-sized collect).
    "q_observe_metrics" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val df = Tables.lineitem(s, d)
        .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
        .observe(obs, count(lit(1)).as("rows_scanned"),
          sum(when(col("l_quantity") >= 25, 1L).otherwise(0L)).as("rows_big_qty"),
          sum(col("cents")).as("total_cents"))
      df.agg(count(lit(1))).collect() // one-row action that runs the observed scan
      val m = obs.get
      s.range(1).select(
        lit(m("rows_scanned").asInstanceOf[Long]).as("rows_scanned"),
        lit(m("rows_big_qty").asInstanceOf[Long]).as("rows_big_qty"),
        lit(m("total_cents").asInstanceOf[Long]).as("total_cents"))
    }),

    // ---- computed (generated) source (ORACLE) ---------------------------
    // A table that is never read from storage: spark.range generates the
    // rows ON the executors and every derived column is a deterministic
    // function of the id (md5-based bucketing — the same portable hash
    // recipe as q_split_hash). This is how a 100 TB benchmark corpus or
    // synthetic-data sweep materializes: generation cost scales with
    // cores, storage cost is zero, and the oracle regenerates the
    // identical rows from DuckDB's range() — proof the generation is
    // engine-independent, not an artifact of one engine's RNG.
    "q_source_generated" -> ((s, d) => {
      val bucket = conv(substring(md5(col("id").cast("string")), 1, 2), 16, 10)
        .cast("long")
      s.range(0, 100000)
        .withColumn("b16", bucket % 16)
        .groupBy("b16")
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"), sum(col("id")).as("sum_id"))
        .orderBy("b16")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q_scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "q_scan_pushdown" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000.0 ORDER BY o_orderkey",
    "q_filter_between" ->
      "SELECT round(sum(l_extendedprice * l_discount) / 1000000.0, 2) AS revenue_m FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24",
    "q_case_classify" ->
      "SELECT CASE WHEN o_totalprice < 100000.0 THEN 'small' WHEN o_totalprice < 200000.0 THEN 'medium' WHEN o_totalprice < 300000.0 THEN 'large' ELSE 'huge' END AS bucket, count(*) AS n FROM orders GROUP BY 1 ORDER BY bucket",
    "q_join_inner" ->
      "SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice) / 1000000.0, 2) AS sum_price_m FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment",
    "q_join_broadcast" ->
      "SELECT p_brand, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand ORDER BY p_brand",
    "q_join_3way_topk" ->
      "SELECT o_orderkey, strftime(od, '%Y-%m-%d') AS o_orderdate, revenue FROM (SELECT o_orderkey, o_orderdate AS od, floor(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 * 100.0 + 0.5) / 100.0 AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey WHERE c_mktsegment = 'BUILDING' GROUP BY o_orderkey, o_orderdate) t ORDER BY revenue DESC, o_orderkey LIMIT 10",
    "q_join_left" ->
      "SELECT c_custkey, count(o_orderkey) AS n_orders FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey ORDER BY c_custkey LIMIT 100",
    "q_join_full" ->
      "SELECT n_nationkey, n_name, count(s_suppkey) AS n_suppliers FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey GROUP BY n_nationkey, n_name ORDER BY n_nationkey",
    "q_join_semi" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995) ORDER BY c_custkey",
    "q_join_anti" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey",
    "q_multi_exists" ->
      ("WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders WHERE o_orderstatus = 'F'), " +
        "l AS (SELECT l_orderkey, l_suppkey, CAST(l_shipdate AS DATE) AS sd FROM lineitem), " +
        "late AS (SELECT DISTINCT l_orderkey AS k, l_suppkey AS s FROM l JOIN o ON l_orderkey = o_orderkey " +
        "WHERE date_diff('day', od, sd) > 60), " +
        "f AS (SELECT k, s FROM late t WHERE EXISTS (SELECT 1 FROM l WHERE l.l_orderkey = t.k AND l.l_suppkey <> t.s) " +
        "AND NOT EXISTS (SELECT 1 FROM late x WHERE x.k = t.k AND x.s <> t.s)) " +
        "SELECT s AS l_suppkey, count(*) AS n_blamed FROM f GROUP BY 1 " +
        "ORDER BY n_blamed DESC, l_suppkey LIMIT 10"),
    "q_join_range" ->
      ("WITH dim AS (SELECT unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01', INTERVAL 1 MONTH)) AS m_start) " +
        "SELECT strftime(m_start, '%Y-%m') AS month, count(*) AS n_orders, " +
        "floor(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100000000.0 * 100.0 + 0.5) / 100.0 AS sum_price_m " +
        "FROM orders JOIN dim ON o_orderdate >= m_start AND o_orderdate < m_start + INTERVAL 1 MONTH " +
        "GROUP BY m_start ORDER BY month"),
    "q_join_range_auto" ->
      ("WITH dim AS (SELECT unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01', INTERVAL 1 MONTH)) AS m_start) " +
        "SELECT strftime(m_start, '%Y-%m') AS month, count(*) AS n_orders, " +
        "floor(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100000000.0 * 100.0 + 0.5) / 100.0 AS sum_price_m " +
        "FROM orders JOIN dim ON o_orderdate >= m_start AND o_orderdate < m_start + INTERVAL 1 MONTH " +
        "GROUP BY m_start ORDER BY month"),
    "q_join_theta" ->
      "SELECT l_returnflag, count(*) AS n_items, round(sum(l_extendedprice) / 1000000.0, 2) AS sum_price_m FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate + INTERVAL 90 DAY GROUP BY l_returnflag ORDER BY l_returnflag",
    "q_join_cross" ->
      "SELECT r_regionkey, n_nationkey, r_name || '-' || n_name AS pair_name FROM region CROSS JOIN nation ORDER BY r_regionkey, n_nationkey",
    "q_join_lateral" ->
      ("SELECT c_custkey, t.o_orderkey, t.o_totalprice FROM customer, " +
        "LATERAL (SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t " +
        "ORDER BY c_custkey, t.o_totalprice DESC, t.o_orderkey"),
    "q_subquery_scalar" ->
      ("SELECT o_orderpriority, count(*) AS n_above FROM orders " +
        "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) + 0.005 " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_subquery_corr" ->
      ("SELECT o_custkey, count(*) AS n_above_own_avg FROM orders o " +
        "WHERE o_totalprice > (SELECT avg(i.o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey) + 0.005 " +
        "GROUP BY o_custkey ORDER BY o_custkey"),
    "q_topk_global" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q_sort_nulls" ->
      "SELECT s_suppkey, s_name, CASE WHEN s_acctbal < 0 THEN NULL ELSE s_acctbal END AS bal FROM supplier ORDER BY bal ASC NULLS FIRST, s_suppkey",
    "q_union_all" ->
      "SELECT o_custkey, count(*) AS n FROM (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995 UNION ALL SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996) t GROUP BY o_custkey ORDER BY o_custkey",
    "q_intersect" ->
      "SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995 INTERSECT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996 ORDER BY o_custkey",
    "q_except" ->
      "SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995 EXCEPT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996 ORDER BY o_custkey",
    "q_except_all" ->
      ("SELECT o_custkey, count(*) AS n_excess FROM (" +
        "SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995 " +
        "EXCEPT ALL SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996) t " +
        "GROUP BY o_custkey ORDER BY o_custkey"),
    "q_join_nullsafe" ->
      ("WITH n AS (SELECT CASE WHEN n_nationkey < 20 THEN n_nationkey END AS k, n_name FROM nation), " +
        "s AS (SELECT CASE WHEN s_nationkey < 20 THEN s_nationkey END AS k, s_suppkey FROM supplier) " +
        "SELECT CAST(n.k AS INT) AS k, count(*) AS n_pairs, count(DISTINCT s_suppkey) AS n_suppliers " +
        "FROM n JOIN s ON n.k IS NOT DISTINCT FROM s.k " +
        "GROUP BY n.k ORDER BY k ASC NULLS FIRST"),
    "q_interval_overlap" ->
      ("WITH iv AS (SELECT o_custkey, o_orderkey, " +
        "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s, " +
        "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 7 AS e FROM orders) " +
        "SELECT a.o_custkey, count(*) AS n_overlaps " +
        "FROM iv a JOIN iv b ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey " +
        "AND a.s <= b.e AND b.s <= a.e " +
        "GROUP BY a.o_custkey ORDER BY a.o_custkey"),
    "q_data_checks" ->
      ("SELECT '1_orphan_lineitem' AS rule, count(*) AS n_violations FROM lineitem " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey) " +
        "UNION ALL SELECT '2_nonpositive_price', count(*) FROM lineitem WHERE l_extendedprice <= 0 " +
        "UNION ALL SELECT '3_discount_range', count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 0.1 " +
        "UNION ALL SELECT '4_ship_before_order', count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate < o_orderdate ORDER BY rule"),
    "q_partial_merge" ->
      ("SELECT o_custkey, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders GROUP BY o_custkey ORDER BY o_custkey"),
    "q_sink_partitioned" ->
      ("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_source_orc" ->
      ("SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(price_c) AS BIGINT) AS sum_price_c FROM " +
        "(SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c FROM lineitem) t " +
        "WHERE price_c > 5000000 GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_join_runtime_filter" ->
      ("SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1995 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_groupby_all" ->
      ("SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS yr, " +
        "count(*) AS n, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY ALL ORDER BY ALL"),
    "q_join_salted" ->
      ("WITH dim(prio, weight) AS (VALUES ('1-URGENT', 10), ('2-HIGH', 8), ('3-MEDIUM', 5), " +
        "('4-NOT SPECIFIED', 2), ('5-LOW', 1)) " +
        "SELECT o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) * weight) AS BIGINT) AS weighted_cents " +
        "FROM orders JOIN dim ON o_orderpriority = prio " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_join_bucketed" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "q_dpp" ->
      ("WITH dim(prio, tier) AS (VALUES ('1-URGENT', 'critical'), ('2-HIGH', 'critical'), " +
        "('3-MEDIUM', 'normal'), ('4-NOT SPECIFIED', 'normal'), ('5-LOW', 'normal')) " +
        "SELECT o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders JOIN dim ON o_orderpriority = prio WHERE tier = 'critical' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_skew_report" ->
      ("WITH c1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY o_custkey), " +
        "c2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY o_orderpriority), " +
        "c3 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_returnflag), " +
        "c4 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM customer GROUP BY c_nationkey), " +
        "c5 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM events GROUP BY user_id), " +
        "u AS (SELECT 'orders.o_custkey' AS key_col, CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_distinct, " +
        "floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) * 1000.0 + 0.5) / 1000.0 AS top_share FROM c1 " +
        "UNION ALL SELECT 'orders.o_orderpriority', CAST(sum(c) AS BIGINT), count(*), " +
        "floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) * 1000.0 + 0.5) / 1000.0 FROM c2 " +
        "UNION ALL SELECT 'lineitem.l_returnflag', CAST(sum(c) AS BIGINT), count(*), " +
        "floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) * 1000.0 + 0.5) / 1000.0 FROM c3 " +
        "UNION ALL SELECT 'customer.c_nationkey', CAST(sum(c) AS BIGINT), count(*), " +
        "floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) * 1000.0 + 0.5) / 1000.0 FROM c4 " +
        "UNION ALL SELECT 'events.user_id', CAST(sum(c) AS BIGINT), count(*), " +
        "floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) * 1000.0 + 0.5) / 1000.0 FROM c5) " +
        "SELECT key_col, n_rows, n_distinct, top_share FROM u ORDER BY key_col"),
    "q_source_jdbc" ->
      ("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_cache_table" ->
      ("SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_catalog_table" ->
      ("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q_source_avro" ->
      ("SELECT c_mktsegment, count(*) AS n, " +
        "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c " +
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "q_source_xml" ->
      ("SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n_suppliers, " +
        "CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c " +
        "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"),
    // round-trip losslessness: the oracle recomputes file size and md5
    // from the ORIGINAL rows (the text sink appends one '\n' per line)
    "q_source_binaryfile" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes, " +
        "md5(text || chr(10)) AS content_md5 " +
        "FROM documents WHERE doc_id < 20 ORDER BY doc_id"),
    // same matrix, DuckDB dialect — the Spark side is raw SQL text too,
    // so this pair gates dialect-for-dialect parity
    "q_volume_ship" ->
      ("WITH sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey), " +
        "cn AS (SELECT c_custkey, n_name AS cust_nation FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey) " +
        "SELECT supp_nation, cust_nation, CAST(year(l_shipdate) AS BIGINT) AS yr, " +
        "count(*) AS n_lines, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) " +
        "* (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_cc " +
        "FROM lineitem " +
        "JOIN sn ON l_suppkey = s_suppkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN cn ON o_custkey = c_custkey " +
        "WHERE supp_nation <> cust_nation " +
        "GROUP BY supp_nation, cust_nation, yr " +
        "ORDER BY supp_nation, cust_nation, yr"),
    // centi-cent revenue keeps the discount product integer-exact
    "q_market_share" ->
      ("WITH ac AS (SELECT c_custkey FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'), " +
        "o AS (SELECT o_orderkey, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr " +
        "FROM orders JOIN ac ON o_custkey = c_custkey), " +
        "sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey), " +
        "l AS (SELECT l_orderkey, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cc, " +
        "supp_nation FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO' " +
        "JOIN sn ON l_suppkey = s_suppkey) " +
        "SELECT yr, count(*) AS n_lines, CAST(sum(rev_cc) AS BIGINT) AS rev_cc_total, " +
        "CAST(sum(CASE WHEN supp_nation = 'NATION_0' THEN rev_cc ELSE 0 END) AS BIGINT) AS rev_cc_n0, " +
        "floor(CAST(sum(CASE WHEN supp_nation = 'NATION_0' THEN rev_cc ELSE 0 END) AS DOUBLE) " +
        "/ CAST(sum(rev_cc) AS DOUBLE) * 1000.0 + 0.5) / 1000.0 AS share " +
        "FROM l JOIN o ON l_orderkey = o_orderkey GROUP BY yr ORDER BY yr"),
    "q_source_csv" ->
      ("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q_source_jsonl" ->
      ("SELECT event_type, count(*) AS n, " +
        "floor(min(value) * 100.0 + 0.5) / 100.0 AS min_v, " +
        "floor(max(value) * 100.0 + 0.5) / 100.0 AS max_v " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_ship_priority" ->
      ("SELECT l_orderkey, floor(CAST(revenue_tk AS DOUBLE) / 10000.0 * 100.0 + 0.5) / 100.0 AS revenue, " +
        "strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate, o_orderpriority FROM (" +
        "SELECT l_orderkey, o_orderdate, o_orderpriority, sum(rev_tk) AS revenue_tk FROM (" +
        "SELECT l_orderkey, CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_tk " +
        "FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-06-30') l " +
        "JOIN (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-30') o ON l_orderkey = o_orderkey " +
        "JOIN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') c ON o_custkey = c_custkey " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority) t " +
        "ORDER BY revenue_tk DESC, l_orderkey LIMIT 10"),
    "q_top_supplier" ->
      ("WITH rev AS (SELECT l_suppkey, sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS total_tk " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-04-01' GROUP BY l_suppkey) " +
        "SELECT s_suppkey, s_name, floor(CAST(total_tk AS DOUBLE) / 10000.0 * 100.0 + 0.5) / 100.0 AS total_revenue " +
        "FROM rev JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE total_tk = (SELECT max(total_tk) FROM rev) ORDER BY s_suppkey"),
    "q_large_orders" ->
      ("SELECT c_name, c_custkey, o_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate, " +
        "floor(o_totalprice * 100.0 + 0.5) / 100.0 AS o_totalprice, " +
        "floor(CAST(qty_c AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS total_qty " +
        "FROM (SELECT l_orderkey, sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 9000) q " +
        "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY qty_c DESC, o_orderkey LIMIT 20"),
    "q_returned_items" ->
      ("SELECT c_custkey, c_name, floor(CAST(rev_tk AS DOUBLE) / 10000.0 * 100.0 + 0.5) / 100.0 AS revenue, " +
        "floor(CAST(acct_c AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS c_acctbal, n_name FROM (" +
        "SELECT c_custkey, c_name, n_name, sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_tk, " +
        "max(CAST(round(c_acctbal * 100) AS BIGINT)) AS acct_c " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01' " +
        "GROUP BY c_custkey, c_name, n_name) t ORDER BY rev_tk DESC, c_custkey LIMIT 20"),
    "q_waiting_supplier" ->
      ("WITH per_supp AS (SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_max " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderstatus = 'F' " +
        "GROUP BY l_orderkey, l_suppkey), " +
        "marked AS (SELECT l_suppkey, l_orderkey, count(*) OVER (PARTITION BY l_orderkey) AS n_supp, " +
        "supp_max, max(supp_max) OVER (PARTITION BY l_orderkey) AS order_max FROM per_supp) " +
        "SELECT s_suppkey, s_name, numwait FROM (" +
        "SELECT l_suppkey, count(DISTINCT l_orderkey) AS numwait FROM marked " +
        "WHERE n_supp >= 2 AND supp_max = order_max GROUP BY l_suppkey) w " +
        "JOIN supplier ON l_suppkey = s_suppkey ORDER BY numwait DESC, s_suppkey LIMIT 10"),
    "q_sales_opportunity" ->
      ("WITH c AS (SELECT c_custkey, c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS acct_c FROM customer), " +
        "avg_pos AS (SELECT count(*) AS n_pos, sum(acct_c) AS sum_pos FROM c WHERE acct_c > 0) " +
        "SELECT n_name, count(*) AS numcust, " +
        "floor(CAST(sum(acct_c) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0 AS totacctbal " +
        "FROM c CROSS JOIN avg_pos JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE acct_c * n_pos > sum_pos " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01') " +
        "GROUP BY n_name ORDER BY n_name"),
    "q_source_merge_schema" ->
      ("SELECT coalesce(prio, '<pre-schema>') AS prio, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents FROM (" +
        "SELECT o_totalprice, CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS prio " +
        "FROM orders) t GROUP BY 1 ORDER BY prio"),
    "q_intersect_all" ->
      ("SELECT o_custkey, count(*) AS n_common FROM (" +
        "SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995 " +
        "INTERSECT ALL SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996) t " +
        "GROUP BY o_custkey ORDER BY o_custkey"),
    "q_paginate_keyset" ->
      ("WITH o AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "b AS (SELECT cents AS bc, o_orderkey AS bk FROM o ORDER BY cents DESC, o_orderkey LIMIT 40) , " +
        "bd AS (SELECT bc, bk FROM b ORDER BY bc ASC, bk DESC LIMIT 1) " +
        "SELECT o_orderkey, cents FROM o, bd " +
        "WHERE cents < bc OR (cents = bc AND o_orderkey > bk) " +
        "ORDER BY cents DESC, o_orderkey LIMIT 20"),
    "q_paginate" ->
      ("SELECT o_orderkey, floor(o_totalprice * 100.0 + 0.5) / 100.0 AS o_totalprice " +
        "FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 40"),
    "q_null_funcs" ->
      ("WITH t AS (SELECT nullif(o_orderstatus, 'P') AS k, o_custkey FROM orders) " +
        "SELECT coalesce(k, 'PENDING') AS lbl, " +
        "CASE WHEN k IS NOT NULL THEN 'known' ELSE 'masked' END AS flag, " +
        "count(*) AS n, count(DISTINCT o_custkey) AS n_cust " +
        "FROM t GROUP BY lbl, flag ORDER BY lbl"),
    "q_sql_udf" ->
      ("SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_tk " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_observe_metrics" ->
      ("SELECT count(*) AS rows_scanned, " +
        "CAST(sum(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS rows_big_qty, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents " +
        "FROM lineitem"),
    "q_source_generated" ->
      ("SELECT b16, count(*) AS n, min(i) AS min_id, max(i) AS max_id, CAST(sum(i) AS BIGINT) AS sum_id " +
        "FROM (SELECT i, CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 2)) AS BIGINT) % 16 AS b16 " +
        "FROM range(0, 100000) t(i)) g GROUP BY b16 ORDER BY b16"),
    "q_source_csv_corrupt" ->
      ("SELECT CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt, " +
        "CAST(sum(CASE WHEN o_orderkey % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good, " +
        "CAST(sum(CASE WHEN o_orderkey % 97 <> 0 THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS good_cents, " +
        "max(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey END) AS max_good_key " +
        "FROM orders"),
  )
}
