package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The relational operator surface (SURVEY.md §2.2, §2.4-2.7): projections,
  * predicates, joins, aggregates, windows, set ops, subqueries, temporal.
  * All stock Catalyst — filters and projections push into the parquet scan,
  * small dimension tables are broadcast, aggregates run partial+final.
  *
  * Numeric-parity discipline: money/quantity sums are computed over
  * per-row DECIMAL casts (exact, order-independent) then cast back to
  * DOUBLE, in both the Spark plan and the DuckDB oracle SQL — float sums
  * over shuffled partitions would otherwise diverge in low-order bits at
  * scale. Averages are exact-decimal sums divided by counts.
  */
object RelationalQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.table(s, d, n)

  /** sum over an exact decimal cast, returned as double
    * (order-independent). Computed by the int128 fixed-point aggregate
    * ([[org.apache.spark.sql.graft.FixedPointSum]]): same per-row
    * decimal rounding as the oracle (rint in double space — DuckDB's
    * own double→decimal cast), same exact sum, with NO decimal values
    * anywhere in the plan (PERF_r14.md, 18M rows, one session: stock decimal
    * Sum 1.02 s → int128-over-decimal-cast 0.57 s → int128-over-rint
    * 0.26 s, the plain-double-sum floor while staying exact). */
  private def dsum(c: Column, scale: Int = 2): Column =
    org.apache.spark.sql.graft.FixedPointSum.dsumD(c, scale)

  val defs: Seq[QueryDef] = Seq(

    // ---- A1-A7: the complete aggregate set, GROUP BY, ORDER BY (TPC-H Q1 shape)
    // reference: collection/search/query/aggregation.rs:115-323
    QueryDef(
      "q01_tpch_q1",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) * CAST(1 + l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          // the oracle's (18,4)×(8,2) decimal product IS an exact int64
          // multiply of the two unscaled longs (≤1e9 × ≤2e2), summed at
          // scale 6 — the whole sum_charge chain in primitive longs
          org.apache.spark.sql.graft.FixedPointSum.sumScaled(
            org.apache.spark.sql.graft.FixedPointSum.scaledLong(
              col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            * org.apache.spark.sql.graft.FixedPointSum.scaledLong(
              lit(1) + col("l_tax"), 2), 6).as("sum_charge"),
          (dsum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"),
          (dsum(col("l_extendedprice")) / count(col("l_extendedprice"))).as("avg_price"),
          (dsum(col("l_discount")) / count(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- P1: projection with aliases + computed column (per-row float math is
    // bit-deterministic across engines; only aggregation order is not)
    QueryDef(
      "q02_project_alias",
      """SELECT c_custkey AS custkey, c_name AS name,
        |       c_acctbal * 1.1 AS bal_up
        |FROM customer""".stripMargin) { (s, d) =>
      t(s, d, "customer").select(
        col("c_custkey").as("custkey"),
        col("c_name").as("name"),
        (col("c_acctbal") * lit(1.1)).as("bal_up"))
    },

    // ---- P4: comparison predicates (pushed into parquet scan)
    QueryDef(
      "q03_filter_cmp",
      """SELECT p_partkey, p_name, p_size, p_retailprice FROM part
        |WHERE p_size > 40 AND p_retailprice <= 910.5 AND p_size <> 43""".stripMargin) { (s, d) =>
      t(s, d, "part")
        .where(col("p_size") > 40 && col("p_retailprice") <= 910.5 && col("p_size") =!= 43)
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
    },

    // ---- P5: IN (…) list membership
    QueryDef(
      "q04_filter_in",
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |WHERE o_orderstatus IN ('F') AND o_orderpriority IN ('1-URGENT','2-HIGH')""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .where(col("o_orderstatus").isin("F") &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    },

    // ---- P6: BETWEEN (inclusive bounds, SQL semantics)
    QueryDef(
      "q05_between",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice BETWEEN 100000 AND 200000""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .where(col("o_totalprice").between(100000, 200000))
        .select("o_orderkey", "o_totalprice")
    },

    // ---- P7: LIKE with % and _ wildcards
    QueryDef(
      "q06_like",
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_name LIKE '%wid%' AND p_brand LIKE 'Brand#1_'""".stripMargin) { (s, d) =>
      t(s, d, "part")
        .where(col("p_name").like("%wid%") && col("p_brand").like("Brand#1_"))
        .select("p_partkey", "p_name", "p_brand")
    },

    // ---- P7: ILIKE (case-insensitive)
    QueryDef(
      "q07_ilike",
      """SELECT p_partkey, p_name FROM part
        |WHERE p_name ILIKE '%WIDGET%'""".stripMargin) { (s, d) =>
      t(s, d, "part")
        .where(col("p_name").ilike("%WIDGET%"))
        .select("p_partkey", "p_name")
    },

    // ---- P9 + anti-join: IS NULL on the null-producing side of a left join
    // (customers with no orders)
    QueryDef(
      "q08_null_anti",
      """SELECT c.c_custkey, c.c_name FROM customer c
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |  ON c.c_custkey = o.o_custkey
        |WHERE o.o_orderkey IS NULL""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").where(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .where(o("o_orderkey").isNull)
        .select(c("c_custkey"), c("c_name"))
    },

    // ---- P10: AND / OR / NOT / parens
    QueryDef(
      "q09_and_or_not",
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |WHERE (o_orderstatus = 'F' OR o_totalprice > 300000)
        |  AND NOT (o_orderpriority = '5-LOW')""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .where((col("o_orderstatus") === "F" || col("o_totalprice") > 300000)
          && !(col("o_orderpriority") === "5-LOW"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    },

    // ---- J1: inner equi-join (fact-to-fact, shuffle hash/sort-merge)
    QueryDef(
      "q10_join_inner",
      """SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, l.l_extendedprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_quantity > 45""".stripMargin) { (s, d) =>
      val l = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      l.where(col("l_quantity") > 45)
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .select(l("l_orderkey"), l("l_linenumber"), o("o_orderdate"), l("l_extendedprice"))
    },

    // ---- J1: left outer join + aggregate over the nullable side
    QueryDef(
      "q11_join_left",
      """SELECT c.c_custkey, count(o.o_orderkey) AS order_cnt
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("order_cnt"))
    },

    // ---- J1: right outer join
    QueryDef(
      "q12_join_right",
      """SELECT n.n_name, s.s_name FROM supplier s
        |RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey""".stripMargin) { (s, d) =>
      val sup = t(s, d, "supplier")
      val n = t(s, d, "nation")
      sup.join(n, sup("s_nationkey") === n("n_nationkey"), "right")
        .select(n("n_name"), sup("s_name"))
    },

    // ---- J1: full outer join of two aggregated sides
    QueryDef(
      "q13_join_full",
      """SELECT coalesce(cs.nk, ss.nk) AS nationkey, cs.cust_cnt, ss.supp_cnt FROM
        |  (SELECT c_nationkey AS nk, count(*) AS cust_cnt FROM customer GROUP BY c_nationkey) cs
        |FULL JOIN
        |  (SELECT s_nationkey AS nk, count(*) AS supp_cnt FROM supplier GROUP BY s_nationkey) ss
        |ON cs.nk = ss.nk""".stripMargin) { (s, d) =>
      val cs = t(s, d, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("cust_cnt"))
      val ss = t(s, d, "supplier").groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("supp_cnt"))
      cs.join(ss, cs("nk") === ss("nk"), "full")
        .select(coalesce(cs("nk"), ss("nk")).as("nationkey"),
          col("cust_cnt"), col("supp_cnt"))
    },

    // ---- J2: JOIN ... USING (the reference parses but never executes this —
    // query/join.rs:129-139 warns and returns empty; we implement it for real)
    QueryDef(
      "q14_join_using",
      """SELECT nationkey, c_name, n_name FROM
        |  (SELECT c_nationkey AS nationkey, c_name FROM customer) c
        |JOIN
        |  (SELECT n_nationkey AS nationkey, n_name FROM nation) n
        |USING (nationkey)""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
        .select(col("c_nationkey").as("nationkey"), col("c_name"))
      val n = t(s, d, "nation")
        .select(col("n_nationkey").as("nationkey"), col("n_name"))
      c.join(n, Seq("nationkey")).select("nationkey", "c_name", "n_name")
    },

    // ---- J4: self-join via aliases
    QueryDef(
      "q15_self_join",
      """SELECT n1.n_name AS name_a, n2.n_name AS name_b, n1.n_regionkey AS regionkey
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_name < n2.n_name""".stripMargin) { (s, d) =>
      val n1 = t(s, d, "nation").as("n1")
      val n2 = t(s, d, "nation").as("n2")
      n1.join(n2, col("n1.n_regionkey") === col("n2.n_regionkey")
          && col("n1.n_name") < col("n2.n_name"))
        .select(col("n1.n_name").as("name_a"), col("n2.n_name").as("name_b"),
          col("n1.n_regionkey").as("regionkey"))
    },

    // ---- J1+A: 5-table star join (TPC-H Q5 shape). Dimension tables are
    // broadcast — at 100 TB the only shuffle is lineitem⋈orders.
    QueryDef(
      "q16_star_join",
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n.n_name""".stripMargin) { (s, d) =>
      val l = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      val r = t(s, d, "region")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .where(r("r_name") === "ASIA")
        .groupBy(n("n_name"))
        .agg(dsum(l("l_extendedprice") * (lit(1) - l("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, n("n_name"))
    },

    // ---- A4+A5: GROUP BY + HAVING (reference folds HAVING chains strictly
    // left-to-right — aggregation.rs:611-644; single condition here, SQL-equal)
    QueryDef(
      "q17_having",
      """SELECT o_custkey, count(*) AS order_cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) >= 12 AND sum(CAST(o_totalprice AS DECIMAL(18,2))) > 1500000""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("order_cnt"),
          dsum(col("o_totalprice")).as("total_spend"))
        // exact-sum compare survives the double carrier: sums are
        // multiples of 0.01, so no value sits within an ulp of the gate
        .where(col("order_cnt") >= 12 && col("total_spend") > 1500000)
        .select(col("o_custkey"), col("order_cnt"), col("total_spend"))
    },

    // ---- W1+W3: multi-column ORDER BY + LIMIT + OFFSET (deterministic via key)
    QueryDef(
      "q18_topn_offset",
      """SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 5""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .offset(5).limit(10)
    },

    // ---- W5: SELECT DISTINCT (typed equality, not the reference's
    // string-concat dedup key — search/query/distinct.rs:12-35)
    QueryDef(
      "q19_distinct",
      "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer") { (s, d) =>
      t(s, d, "customer").select("c_nationkey", "c_mktsegment").distinct()
    },

    // ---- U1: set operations (parsed-but-unexecuted in the reference —
    // ast/mod.rs:98-117; fully implemented here)
    QueryDef(
      "q20_union_all",
      """SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION ALL
        |SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      c.where(col("c_mktsegment") === "BUILDING").select("c_custkey", "c_mktsegment")
        .unionAll(c.where(col("c_acctbal") > 5000).select("c_custkey", "c_mktsegment"))
    },

    QueryDef(
      "q21_union",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      c.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .union(c.where(col("c_acctbal") > 5000).select("c_custkey"))
        .distinct()
    },

    QueryDef(
      "q22_intersect",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 2000""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      c.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .intersect(c.where(col("c_acctbal") > 2000).select("c_custkey"))
    },

    QueryDef(
      "q23_except",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 2000""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      c.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .except(c.where(col("c_acctbal") > 2000).select("c_custkey"))
    },

    // ---- Scalar subquery in WHERE (ast/values.rs:70-87)
    QueryDef(
      "q24_scalar_subquery",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 1.9 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) FROM orders)""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      val avgPrice = o.agg(
        (dsum(col("o_totalprice")) / count(lit(1))).as("a"))
      o.join(broadcast(avgPrice))
        .where(col("o_totalprice") > lit(1.9) * col("a"))
        .select("o_orderkey", "o_totalprice")
    },

    // ---- EXISTS → left-semi join
    QueryDef(
      "q25_exists_semi",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").where(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    },

    // ---- P11: temporal predicate, timestamp - INTERVAL arithmetic
    // (reference months = 30 days — ast/values.rs:136-163; we use day units)
    QueryDef(
      "q26_temporal",
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-22 00:00:00' - INTERVAL 7 DAY
        |  AND ts < TIMESTAMP '2024-01-22 00:00:00'
        |GROUP BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .where(col("ts") >= to_timestamp(lit("2024-01-22 00:00:00")) - expr("INTERVAL 7 DAY")
          && col("ts") < to_timestamp(lit("2024-01-22 00:00:00")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value"), 6).as("total_value"))
    },

    // ---- W6: ranking window function (row_number per partition, top-3)
    QueryDef(
      "q27_window_rank",
      """SELECT * FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer) WHERE rn <= 3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, d, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          row_number().over(w).as("rn"))
        .where(col("rn") <= 3)
    },

    // ---- Window frame: running sum per customer over order history
    QueryDef(
      "q28_window_running",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          dsum(col("o_totalprice")).over(w).as("running_spend"))
    },

    // ---- COUNT(DISTINCT) — exact distinct aggregation
    QueryDef(
      "q29_count_distinct",
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |       count(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"))
    },

    // ---- approx_count_distinct (SURVEY §7.1 step 9): HyperLogLog++
    // partial-mergeable sketch — at 100 TB the exact count-distinct's
    // per-group hash set becomes the memory bound, the HLL sketch is
    // constant-size. Accuracy pin: every per-group estimate within 5%
    // of the exact count (rsd default 0.05), as a constant-1 row.
    QueryDef("q151_approx_distinct", "SELECT CAST(1 AS INT) AS approx_ok") { (s, d) =>
      val both = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact"),
          approx_count_distinct(col("l_partkey")).as("approx"))
      both.agg((count(lit(1)) ===
          count(when(abs(col("approx") - col("exact")) <= col("exact") * 0.05, 1)))
        .cast("int").as("approx_ok"))
    },

    // ---- approx quantiles (companion to q151's HLL row): Spark's
    // percentile_approx is a KLL/GK-style mergeable sketch — at 100 TB
    // the exact percentile's per-group full sort is the bottleneck, the
    // sketch is one partial+final agg with bounded memory. Accuracy pin
    // checks the sketch's OWN contract directly — the returned value's
    // RANK must sit within ε·n of p·n (ε = 2/accuracy slack) — via two
    // linear conditional counts per quantile (rank(v) bracketed by
    // count(x < v) and count(x ≤ v)), per l_returnflag group, for
    // p ∈ {0.5, 0.9, 0.99}. No exact per-group sort anywhere: both the
    // product AND its check are linear scans, the shape that survives
    // 100 TB. Constant-1 row (both engines' approx sketches differ, so
    // the assertion — not the estimate — is pinned).
    QueryDef("q159_approx_quantiles", "SELECT CAST(1 AS INT) AS quantile_ok") { (s, d) =>
      val eps = 2.0 / 1000 // accuracy = 1000
      val ps = Seq(0.5, 0.9, 0.99)
      val base = t(s, d, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
      val ap = base.groupBy(col("l_returnflag"))
        .agg(expr(s"percentile_approx(l_extendedprice, array(${ps.mkString(",")}), 1000)")
          .as("ap"))
      val aggCols = count(lit(1)).as("n") +:
        ps.indices.flatMap(i => Seq(
          count(when(col("l_extendedprice") <= element_at(col("ap"), i + 1), 1))
            .as(s"le$i"),
          count(when(col("l_extendedprice") < element_at(col("ap"), i + 1), 1))
            .as(s"lt$i")))
      val ranks = base.join(broadcast(ap), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(aggCols.head, aggCols.tail: _*)
      val ok = ps.indices.map(i =>
          col(s"le$i") >= (lit(ps(i)) - eps) * col("n") &&
          col(s"lt$i") <= (lit(ps(i)) + eps) * col("n"))
        .reduce(_ && _)
      ranks.agg((count(lit(1)) === count(when(ok, 1)))
        .cast("int").as("quantile_ok"))
    },

    // ---- Heavy hitters: DataFrame.stat.freqItems accuracy pin (the
    // q151/q159 sketch-contract class — at 100 TB an exact groupBy for
    // "which event types dominate" is a full shuffle; the single-pass
    // Karp/Misra-Gries sketch is the scale path and this row pins its
    // CONTRACT): every event_type whose true frequency exceeds the 10%
    // support threshold must appear in the sketch's result set (false
    // positives are allowed by the algorithm, false negatives never —
    // all five ~20% types qualify here, so the subset check has teeth).
    // The exact side is one small groupBy at sf; the assertion — not
    // the estimate — is the pinned value, so engine-specific sketch
    // internals don't surface.
    QueryDef("q190_freq_items", "SELECT CAST(1 AS INT) AS freq_ok") { (s, d) =>
      val ev = t(s, d, "events")
      val support = 0.1
      val sketch = ev.stat.freqItems(Seq("event_type"), support)
        .collect()(0).getSeq[String](0).toSet
      val n = ev.count()
      val truth = ev.groupBy("event_type").agg(count(lit(1)).as("c"))
        .where(col("c") > lit(n * support))
        .collect().map(_.getString(0)).toSet
      val ok = truth.subsetOf(sketch) && truth.nonEmpty
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("freq_ok"))
    },

    // ---- CASE WHEN expression + aggregation over the derived column
    QueryDef(
      "q30_case_when",
      """SELECT CASE WHEN o_totalprice > 300000 THEN 'big'
        |            WHEN o_totalprice > 100000 THEN 'mid'
        |            ELSE 'small' END AS bucket,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .select(when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"))
    },

    // ---- Temporal grouping: date_trunc to day
    QueryDef(
      "q31_date_trunc",
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
    },

    // ---- Grouping by a derived temporal expression (year)
    QueryDef(
      "q32_group_by_year",
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
    },

    // ---- A1: min/max over numbers and strings
    QueryDef(
      "q33_minmax",
      """SELECT s_nationkey, min(s_acctbal) AS min_bal, max(s_acctbal) AS max_bal,
        |       min(s_name) AS first_name, max(s_name) AS last_name, count(*) AS cnt
        |FROM supplier GROUP BY s_nationkey""".stripMargin) { (s, d) =>
      t(s, d, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(min(col("s_acctbal")).as("min_bal"), max(col("s_acctbal")).as("max_bal"),
          min(col("s_name")).as("first_name"), max(col("s_name")).as("last_name"),
          count(lit(1)).as("cnt"))
    },

    // ---- P8: CONTAINS substring filter (the reference's filter-API-only
    // operator, filter/mod.rs:107-112 — not in the grammar)
    QueryDef(
      "q36_contains",
      """SELECT p_partkey, p_name FROM part
        |WHERE instr(p_name, 'steel') > 0""".stripMargin) { (s, d) =>
      t(s, d, "part")
        .where(col("p_name").contains("steel"))
        .select("p_partkey", "p_name")
    },

    // ---- L1: TTL row expiry as a live-rows view — the reference mutates
    // storage (column_store row_expiry, types.rs:158-164); Spark-side the
    // idiomatic shape is a WHERE over expiry, with compaction left to the
    // table format. Expiry = ts + 10-day TTL, "now" fixed for determinism.
    QueryDef(
      "q35_ttl_live_rows",
      """SELECT event_type, count(*) AS live_cnt FROM events
        |WHERE ts + INTERVAL 10 DAY > TIMESTAMP '2024-01-25 00:00:00'
        |GROUP BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .where(col("ts") + expr("INTERVAL 10 DAY")
          > to_timestamp(lit("2024-01-25 00:00:00")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("live_cnt"))
    },

    // ---- P2/P3-analog: JSON payload field extraction (the reference stores
    // payloads as JSON — velesql/json_path.rs; events.props is a JSON string)
    QueryDef(
      "q34_json_extract",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |       count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .select((get_json_object(col("props"), "$.k").cast("bigint") % 10).as("k_mod"))
        .groupBy(col("k_mod"))
        .agg(count(lit(1)).as("cnt"))
    },

    // ---- AS-OF join (beyond-reference; operators/TemporalJoins.scala):
    // each purchase picks up the latest prior click of the same user.
    // The operator is the union-tag + window shape — ONE shuffle on
    // user_id, no join node, no range predicate (a naive formulation
    // BNLJs). The oracle is the correlated-subquery definition of the
    // same semantics; clicks pre-dedupe per (user, ts) so the carried
    // payload is deterministic on both engines.
    QueryDef(
      "q155_asof_join",
      """WITH c AS (SELECT user_id, ts, min(event_id) AS click_id FROM events
        |           WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT p.event_id, p.user_id, p.ts,
        |        (SELECT max(c.ts) FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS ats
        |      FROM p)
        |SELECT m.event_id, m.user_id,
        |  epoch_us(m.ts) - epoch_us(m.ats) AS gap_us,
        |  c.click_id
        |FROM m LEFT JOIN c ON c.user_id = m.user_id AND c.ts = m.ats
        |ORDER BY m.event_id""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(min(col("event_id")).as("click_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.TemporalJoins
        .asofBackward(purchases, clicks, Seq("user_id"), "ts", Seq("click_id"))
        .select(col("event_id"), col("user_id"),
          (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("gap_us"),
          col("asof_click_id").as("click_id"))
        .orderBy("event_id")
    },

    // ---- Time-RANGE join, keyless (beyond-reference;
    // operators/TemporalJoins.scala): every error within 60 s after any
    // purchase, across ALL users — the pure-inequality-join case where
    // Spark's native plan is a BroadcastNestedLoopJoin (O(|L|·|R|),
    // cluster-fatal). The bucketized operator turns it into an
    // equi-join on floor(ts/Δ) with a residual filter; the oracle
    // states the same predicate directly (DuckDB IEJoins it).
    QueryDef(
      "q156_range_join",
      """SELECT p.event_id AS purchase_id, e.event_id AS error_id,
        |  epoch_us(e.ts) - epoch_us(p.ts) AS gap_us
        |FROM events p JOIN events e
        |  ON p.event_type = 'purchase' AND e.event_type = 'error'
        | AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 60 SECOND
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val errs = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("ts"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts"))
      graft.operators.TemporalJoins
        .rangeJoin(purch, errs, Nil, "ts", 60L * 1000000L, Seq("event_id"))
        .select(col("purchase_id"), col("r_event_id").as("error_id"),
          (unix_micros(col("r_ts")) - unix_micros(col("ts"))).as("gap_us"))
        .orderBy("purchase_id", "error_id")
    },

    // ---- Batch sessionization (operator: TemporalJoins.sessionize —
    // the replay-over-history complement of q131's streaming session
    // windows): per-user gaps-and-islands at a 12 h inactivity gap.
    // At sf0.01: 3292 sessions over 150 users, up to 18 events each.
    // Micro-second BIGINTs end to end — no float surface; the
    // oracle's count() needs no cast (BIGINT both engines) but the
    // session_idx running sum does (HUGEINT trap).
    QueryDef(
      "q180_sessionize",
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id, event_id, us,
        |        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus
        |      FROM e),
        |f AS (SELECT user_id, event_id, us,
        |        CASE WHEN pus IS NULL OR us - pus > 43200000000 THEN 1 ELSE 0 END AS brk
        |      FROM l),
        |s AS (SELECT user_id, us,
        |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |             AS BIGINT) AS session_idx
        |      FROM f)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us,
        |  max(us) - min(us) AS duration_us
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      graft.operators.TemporalJoins
        .sessionize(t(s, d, "events"), gapUs = 43200000000L)
        .orderBy("user_id", "session_idx")
    }
  )
}
