package graft.queries

import graft.{Q, T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational SQL surface (SURVEY.md §2B): the capability set reachable
  * through the reference's raw `sql()` pass-through
  * (`icerunner.py:200-207`). Each query is a Spark DataFrame plan with a
  * DuckDB oracle; Catalyst supplies pushdown/pruning/join selection.
  *
  * Scale posture: dimension tables (region/nation/customer/supplier/part)
  * are broadcast explicitly; fact-side aggregations rely on partial
  * (map-side) aggregation; every query carries a total ORDER BY only as
  * the final (cheap, post-agg) step.
  */
object Relational {

  private def ql: Seq[Q] = Seq(

    // ---- scan → filter → hash-agg → sort (TPC-H Q1 shape) ----
    Q("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      T.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- projection + filter, pushed to the parquet scan ----
    Q("q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      T.lineitem(s, d)
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- 3-way join: fact ⋈ fact-dim ⋈ broadcast dim ----
    Q("q03_join_agg",
      """SELECT c_mktsegment,
        |  count(*) AS n_lines,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      T.lineitem(s, d)
        .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(T.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("c_mktsegment")
    },

    // ---- left outer join with null-producing side ----
    Q("q04_left_join",
      """SELECT o_orderkey, o_totalprice, c_name
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey AND c_acctbal > 9000
        |WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = T.orders(s, d).filter(col("o_orderkey") <= 500)
      val c = T.customer(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey") && c("c_acctbal") > 9000, "left")
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"))
        .orderBy("o_orderkey")
    },

    // ---- semi join (EXISTS) ----
    Q("q05_semi_join",
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = T.customer(s, d)
      val o = T.orders(s, d).filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- anti join (NOT EXISTS) ----
    Q("q06_anti_join",
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val c = T.customer(s, d)
      val o = T.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // ---- distinct aggregation + multi-distinct ----
    Q("q07_distinct_agg",
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(*) AS n_lines
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_lines"))
        .orderBy("l_returnflag")
    },

    // ---- rollup (grouping sets) ----
    Q("q08_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      T.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---- cube ----
    Q("q09_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      T.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // ---- window: rank within group ----
    Q("q10_window_rank",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      T.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },

    // ---- window: running sum + lag ----
    Q("q11_window_running",
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |     ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
        |  lag(o_orderkey) OVER (PARTITION BY o_custkey
        |     ORDER BY o_orderdate, o_orderkey) AS prev_order
        |FROM orders
        |WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      T.orders(s, d)
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_spend"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---- global top-k (TakeOrderedAndProject) ----
    Q("q12_topk",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""".stripMargin) { (s, d) =>
      T.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(25)
    },

    // ---- set ops ----
    Q("q13_set_ops",
      """SELECT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |) t ORDER BY custkey""".stripMargin) { (s, d) =>
      val o = T.orders(s, d)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      val op = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
      val big = o.filter(col("o_totalprice") > 400000).select(col("o_custkey").as("custkey"))
      f.intersect(op).except(big).orderBy("custkey")
    },

    // ---- union all + distinct union ----
    Q("q14_union",
      """SELECT k, count(*) AS n FROM (
        |  SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'A'
        |  UNION ALL
        |  SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'
        |) t GROUP BY k HAVING count(*) >= 4 ORDER BY k""".stripMargin) { (s, d) =>
      val a = T.lineitem(s, d).filter(col("l_returnflag") === "A")
        .select(col("l_orderkey").as("k"))
      val b = T.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("k"))
      a.unionAll(b).groupBy("k").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 4).orderBy("k")
    },

    // ---- string functions ----
    Q("q15_string_funcs",
      """SELECT c_custkey,
        |  upper(c_name) AS uname,
        |  substr(c_mktsegment, 1, 4) AS seg4,
        |  concat(c_name, '#', c_mktsegment) AS tagged,
        |  length(c_name) AS name_len
        |FROM customer
        |WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      T.customer(s, d)
        .filter(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          upper(col("c_name")).as("uname"),
          substring(col("c_mktsegment"), 1, 4).as("seg4"),
          concat(col("c_name"), lit("#"), col("c_mktsegment")).as("tagged"),
          length(col("c_name")).as("name_len"))
        .orderBy("c_custkey")
    },

    // ---- date/time functions (ms-unit timestamps) ----
    Q("q16_date_funcs",
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      T.orders(s, d)
        .groupBy(
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("yr", "mo")
    },

    // ---- math functions ----
    Q("q17_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  round(abs(l_extendedprice - 30000), 2) AS dist,
        |  CAST(floor(l_quantity) AS BIGINT) AS qfloor,
        |  CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct,
        |  round(sqrt(l_extendedprice), 4) AS root
        |FROM lineitem
        |WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      T.lineitem(s, d)
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(abs(col("l_extendedprice") - 30000), 2).as("dist"),
          floor(col("l_quantity")).cast("long").as("qfloor"),
          ceil(col("l_discount") * 100).cast("long").as("disc_pct"),
          round(sqrt(col("l_extendedprice")), 4).as("root"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- JSON-ish extraction from events.props (regex on both sides
    //      keeps DuckDB's ns timestamps out of the compared columns) ----
    Q("q18_json_extract",
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k
        |FROM events
        |WHERE event_id < 500
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      T.events(s, d)
        .filter(col("event_id") < 500)
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (-?\\d+)", 1)
            .cast("long").as("k"))
        .orderBy("event_id")
    },

    // ---- date_trunc bucketing over the ns-unit events table ----
    Q("q19_events_daily",
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      T.events(s, d)
        .groupBy(
          date_trunc("day", col("ts")).cast("date").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .orderBy("day", "event_type")
    },

    // ---- theta/range join (small × small → broadcast NLJ) ----
    Q("q20_range_join",
      """SELECT n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE n_nationkey > r_regionkey * 4
        |ORDER BY n_name, r_name""".stripMargin) { (s, d) =>
      val n = T.nation(s, d)
      val r = T.region(s, d)
      n.join(broadcast(r),
          n("n_regionkey") === r("r_regionkey") &&
          n("n_nationkey") > r("r_regionkey") * 4)
        .select(col("n_name"), col("r_name"))
        .orderBy("n_name", "r_name")
    },

    // ---- bucketed co-located join (shuffle-free fact×fact) ----
    // At 100 TB the orders⋈lineitem shuffle IS the query cost; bucketing
    // both tables on the join key at write time makes every subsequent
    // join/agg on that key exchange-free — the classic pay-once layout.
    // The plan witness makes the LAYOUT graded, not just the rows: the
    // physical plan must contain a SortMergeJoin and NO hash-partition
    // exchange (a broadcast sneaking in, bucketing silently disabled, or
    // mismatched bucket counts all flip it). The merge hint pins SMJ so
    // the witness can't be trivially true via a BroadcastHashJoin.
    Q("q104_bucketed_join",
      """SELECT o_orderkey, count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS revenue,
        |  TRUE AS colocated_ok
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val oT = s"orders_bkt_$tag"; val lT = s"lineitem_bkt_$tag"
      // the session catalog is shared across every graded query and
      // bench pass: a mid-run failure must not strand the tables
      try {
        T.orders(s, d).select(col("o_orderkey"))
          .write.bucketBy(8, "o_orderkey")
          .option("path", Scratch.dir("q104_o")).saveAsTable(oT)
        T.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"))
          .write.bucketBy(8, "l_orderkey")
          .option("path", Scratch.dir("q104_l")).saveAsTable(lT)
        val joined = s.table(oT).hint("merge")
          .join(s.table(lT), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice")), 2).as("revenue"))
        // the grouped plan (pre-ORDER BY: the final sort legitimately
        // range-exchanges) must be exchange-free end to end — bucketed
        // scans satisfy the join AND the same-key aggregation
        val plan = joined.queryExecution.executedPlan.toString
        val colocated = plan.contains("SortMergeJoin") &&
          !plan.contains("Exchange hashpartitioning")
        val landed = Scratch.dir("q104_out")
        joined.withColumn("colocated_ok", lit(colocated))
          .write.mode("overwrite").parquet(landed)
        s.read.parquet(landed).orderBy("o_orderkey")
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $oT")
        s.sql(s"DROP TABLE IF EXISTS $lT")
      }
    },

    // ---- q165: RECURSIVE CTE (iterative transitive closure in SQL) ---
    // WITH RECURSIVE landed in Spark 4 — the last big ANSI surface the
    // sql() path lacked (hierarchy walks, BOM explosions, graph
    // reachability without dropping to RDD loops). The query is the
    // SAME text on both engines: synthetic doubling chains over orders
    // (odd keys are roots at depth 0; k → 2k edges), folded to
    // per-depth count/sum so the result is tiny and order-stable.
    // Each recursion step is one equi-join; depth ≈ log2(maxk) steps.
    Q("q165_recursive_cte",
      """WITH RECURSIVE chain AS (
        |  SELECT o_orderkey AS k, 0 AS depth FROM orders
        |  WHERE o_orderkey % 2 = 1
        |  UNION ALL
        |  SELECT o.o_orderkey, c.depth + 1
        |  FROM chain c JOIN orders o ON o.o_orderkey = c.k * 2)
        |SELECT depth, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM chain GROUP BY depth ORDER BY depth""".stripMargin) { (s, d) =>
      T.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT o_orderkey AS k, CAST(0 AS INT) AS depth FROM orders
          |  WHERE o_orderkey % 2 = 1
          |  UNION ALL
          |  SELECT o.o_orderkey, c.depth + 1
          |  FROM chain c JOIN orders o ON o.o_orderkey = c.k * 2)
          |SELECT depth, count(*) AS n, sum(k) AS sum_k
          |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)
    })

  def queries: Seq[Q] = ql
}
