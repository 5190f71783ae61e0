package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Query.t

/** Layer B — the relational surface the reference delegates to its source
  * RDBMS (SURVEY.md §2.2), implemented natively on Catalyst.
  *
  * Every query here is paired with an ANSI-SQL oracle (DuckDB dialect)
  * over the same parquet tables; results are made deterministic with a
  * total ORDER BY on both sides. Aggregates over doubles are kept
  * bit-comparable where accumulation order cannot change the result
  * (min/max, ordered running sums) and otherwise checked empirically
  * against the oracle at the gate scale factor.
  *
  * Scale notes (100 TB design):
  *  - dimension tables (region/nation/supplier/part/customer) are
  *    broadcast explicitly — no shuffle of the fact table for those joins;
  *  - fact-fact joins (orders⋈lineitem) shuffle on the join key once and
  *    reuse it for downstream grouping where possible;
  *  - all filters/projections sit directly on the scan so parquet
  *    pushdown + column pruning apply (verified via .explain).
  */
object Relational {
  val declared: Seq[Query] = Seq(
    // ---- Layer A parity (reference ETL semantics as native plans) ----

    // A12+A13: the demo `addrx` extract — projection + integer filter
    // (reference application.properties:18).
    Query("a12_filter_project", Oracle(
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_orderkey < 13422
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  l_quantity, l_returnflag""".stripMargin)) { (s, dir) =>
      // ORDER BY spans every projected column: the fixture has duplicate
      // (l_orderkey, l_linenumber) rows whose other columns differ, so a
      // two-key sort leaves genuinely tied rows in nondeterministic
      // order (driver compare is row-ordered)
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_returnflag")
        .filter(col("l_orderkey") < 13422)
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                 "l_quantity", "l_returnflag")
    },

    // A14: constant select (reference application.properties:13).
    Query("a14_const_select", Oracle("SELECT CAST(1 AS INTEGER) AS one")) { (s, _) =>
      s.range(1).select(lit(1).cast("int").as("one"))
    },

    // A2: uppercase column normalization (reference ClassMapMapper.kt:19-21).
    Query("a2_uppercase_schema", Oracle(
      """SELECT r_regionkey AS "R_REGIONKEY", r_name AS "R_NAME"
        |FROM region ORDER BY r_regionkey""".stripMargin)) { (s, dir) =>
      val r = t(s, dir, "region")
      r.toDF(r.columns.map(_.toUpperCase): _*).orderBy("R_REGIONKEY")
    },

    // ---- Aggregation ----

    // TPC-H Q1-style grouped aggregation: partial (map-side) agg then
    // final — one shuffle on the two low-cardinality group keys.
    Query("q1_agg", Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |  CAST(sum(l_extendedprice) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(l_extendedprice * (1.0 - l_discount)) AS DOUBLE) AS sum_disc_price,
        |  CAST(avg(l_quantity) AS DOUBLE) AS avg_qty,
        |  CAST(avg(l_discount) AS DOUBLE) AS avg_disc,
        |  count(1) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          avg("l_quantity").as("avg_qty"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // distinct aggregation (expands to two-phase agg under the hood)
    Query("q14_distinct_agg", Oracle(
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(1) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // min/max/count only — bit-exact regardless of accumulation order
    Query("q15_minmax_agg", Oracle(
      """SELECT o_orderpriority,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  min(o_orderdate) AS first_date, max(o_orderdate) AS last_date,
        |  count(1) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          min("o_totalprice").as("min_price"),
          max("o_totalprice").as("max_price"),
          min("o_orderdate").as("first_date"),
          max("o_orderdate").as("last_date"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // ---- Joins ----

    // TPC-H Q3-style: fact⋈fact shuffle join + broadcast dim, then
    // grouped revenue, top-10. `customer` is broadcast (small dim).
    Query("q2_join_agg", Oracle(
      """SELECT l_orderkey,
        |  CAST(sum(l_extendedprice * (1.0 - l_discount)) AS DOUBLE) AS revenue,
        |  count(1) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin)) { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("l_orderkey")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
             count(lit(1)).as("n_lines"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q5-style star join: every dim broadcast; single shuffle for
    // the orders⋈lineitem fact join + one for the final group-by.
    Query("q3_star_join", Oracle(
      """SELECT n_name, count(1) AS n_lines,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)) { (s, dir) =>
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey") &&
                            su("s_nationkey") === c("c_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_lines"),
             min("l_extendedprice").as("min_price"),
             max("l_extendedprice").as("max_price"))
        .orderBy("n_name")
    },

    // left semi join = EXISTS: orders having a high-quantity line
    Query("q4_semi_join", Oracle(
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // left anti join = NOT EXISTS: customers with no high-value order
    Query("q5_anti_join", Oracle(
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    },

    // left outer join preserving all customers, counting orders
    Query("q6_outer_join", Oracle(
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },

    // full outer join over two aggregated sides
    // the join stays sort-merge after AQE by semantics, not size: Spark's
    // BroadcastHashJoin cannot build either side of a FULL OUTER join
    // (both sides must surface unmatched rows), so it shuffles on its
    // keys at any scale
    Query("q7_full_outer", Oracle(
      """SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, count(1) AS n_cust
        |      FROM customer GROUP BY c_nationkey) cn
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nationkey, count(1) AS n_supp
        |      FROM supplier GROUP BY s_nationkey) sn
        |USING (nationkey)
        |ORDER BY nationkey""".stripMargin), allow = Some(PlanAllowance.SortMergeJoin)) { (s, dir) =>
      val cn = t(s, dir, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust")).withColumnRenamed("c_nationkey", "nationkey")
      val sn = t(s, dir, "supplier").groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp")).withColumnRenamed("s_nationkey", "nationkey")
      cn.join(sn, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
                coalesce(col("n_cust"), lit(0L)).as("n_cust"),
                coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },

    // theta (non-equi) self-join on a broadcastable dim: nation pairs in
    // the same region — BroadcastNestedLoopJoin territory, kept to dims.
    Query("q8_theta_join", Oracle(
      """SELECT n1.n_name AS name1, n2.n_name AS name2
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
        |ORDER BY name1, name2""".stripMargin)) { (s, dir) =>
      val n1 = t(s, dir, "nation").select(
        col("n_nationkey").as("k1"), col("n_name").as("name1"), col("n_regionkey").as("r1"))
      val n2 = t(s, dir, "nation").select(
        col("n_nationkey").as("k2"), col("n_name").as("name2"), col("n_regionkey").as("r2"))
      n1.join(broadcast(n2), col("r1") === col("r2") && col("k1") < col("k2"))
        .select("name1", "name2")
        .orderBy("name1", "name2")
    },

    // equi + range condition (as-of-style): lines shipped within 7 days
    // of their order date — equi key keeps this a hash/SMJ join, the
    // range predicate is evaluated as a post-join filter.
    Query("q9_range_join", Oracle(
      """SELECT o_orderpriority, count(1) AS n_fast_lines
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 7 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey") &&
                l("l_shipdate") >= o("o_orderdate") &&
                l("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 7 DAYS"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_fast_lines"))
        .orderBy("o_orderpriority")
    },

    // explicit cross join (small dims only)
    // the plan sweep allows this cartesian: q10 is the cross-join operator itself
    Query("q10_cross_join", Oracle(
      """SELECT r_name, o_orderpriority
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
        |ORDER BY r_name, o_orderpriority""".stripMargin), allow = Some(PlanAllowance.Cartesian)) { (s, dir) =>
      val r = t(s, dir, "region").select(col("r_name"))
      val p = t(s, dir, "orders").select(col("o_orderpriority")).distinct()
      r.crossJoin(p).orderBy("r_name", "o_orderpriority")
    },

    // ---- Window functions ----

    // ranking: top-3 orders per customer by price (row_number)
    Query("q11_window_rank", Oracle(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
        |  FROM orders) x
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)) { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },

    // analytic frame: running sum + lag within supplier, ordered — the
    // sequential frame makes the double sum order-deterministic.
    Query("q12_window_running", Oracle(
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
        |  lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity) AS prev_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity""".stripMargin)) { (s, dir) =>
      // l_quantity joins the ordering: the fixture has duplicate
      // (orderkey, linenumber) rows (e.g. two suppkey-707/45185/7 rows
      // with quantities 13 and 16 at sf0.1), so without it the window
      // order has genuine ties and the running sum is nondeterministic
      // on BOTH engines; remaining ties are fully-identical rows whose
      // order cannot change any output value
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
      t(s, dir, "lineitem")
        .withColumn("running_qty",
          sum("l_quantity").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("prev_qty", lag("l_quantity", 1).over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "running_qty", "prev_qty")
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
    },

    // ntile + dense_rank within partitions (a global window would
    // single-partition at scale; keyed windows shuffle once on the key)
    Query("q13_window_ntile", Oracle(
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("drank", dense_rank().over(w))
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "quartile", "drank")
        .orderBy("o_orderkey")
    },

    // ---- Grouping sets / rollup / cube ----

    Query("q16_rollup", Oracle(
      """SELECT l_returnflag, l_linestatus, count(1) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    Query("q17_cube", Oracle(
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n, min(o_totalprice) AS min_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), min("o_totalprice").as("min_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },

    Query("q18_grouping_sets", Oracle(
      """SELECT l_returnflag, l_linestatus, count(1) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(1) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
          |""".stripMargin)
    },

    // ---- Set operations ----

    Query("q19_union", Oracle(
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier) u
        |ORDER BY nationkey""".stripMargin)) { (s, dir) =>
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      cn.union(sn).distinct().orderBy("nationkey")
    },

    Query("q20_intersect", Oracle(
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)) { (s, dir) =>
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      cn.intersect(sn).orderBy("nationkey")
    },

    Query("q21_except", Oracle(
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |ORDER BY custkey""".stripMargin)) { (s, dir) =>
      val all = t(s, dir, "orders").select(col("o_custkey").as("custkey"))
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("custkey"))
      all.except(big).orderBy("custkey")
    },

    // ---- Sort / limit (TakeOrderedAndProject) ----

    Query("q22_topk", Oracle(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(20)
    },

    // ---- Scalar functions ----

    Query("q23_string_funcs", Oracle(
      """SELECT c_custkey,
        |  upper(c_name) AS uname, lower(c_mktsegment) AS lseg,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  substring(c_name, 1, 8) AS name8,
        |  c_mktsegment || '#' || c_name AS tagged,
        |  regexp_replace(c_name, '[0-9]', 'x', 'g') AS masked
        |FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_custkey") <= 100)
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("uname"),
          lower(col("c_mktsegment")).as("lseg"),
          length(col("c_name")).as("name_len"),
          substring(col("c_name"), 1, 8).as("name8"),
          concat(col("c_mktsegment"), lit("#"), col("c_name")).as("tagged"),
          regexp_replace(col("c_name"), "[0-9]", "x").as("masked"))
        .orderBy("c_custkey")
    },

    Query("q24_date_funcs", Oracle(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS d,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since
        |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 200)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"))
        .orderBy("o_orderkey")
    },

    Query("q25_math_funcs", Oracle(
      """SELECT p_partkey,
        |  round(p_retailprice, 1) AS rounded,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ceiled,
        |  CAST(floor(p_retailprice) AS BIGINT) AS floored,
        |  abs(p_retailprice - 1000.0) AS dist1000,
        |  sqrt(p_retailprice) AS sqrt_price,
        |  pow(CAST(p_size AS DOUBLE), 2.0) AS size_sq
        |FROM part WHERE p_partkey <= 100 ORDER BY p_partkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") <= 100)
        .select(
          col("p_partkey"),
          round(col("p_retailprice"), 1).as("rounded"),
          ceil(col("p_retailprice")).as("ceiled"),
          floor(col("p_retailprice")).as("floored"),
          abs(col("p_retailprice") - 1000.0).as("dist1000"),
          sqrt(col("p_retailprice")).as("sqrt_price"),
          pow(col("p_size").cast("double"), 2.0).as("size_sq"))
        .orderBy("p_partkey")
    },

    Query("q26_case_when", Oracle(
      """SELECT CASE WHEN o_totalprice > 300000 THEN 'big'
        |            WHEN o_totalprice > 100000 THEN 'mid'
        |            ELSE 'small' END AS bucket, count(1) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 300000, "big")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("small").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },

    Query("q27_predicates", Oracle(
      """SELECT p_partkey, p_name, p_brand, p_size
        |FROM part
        |WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |  AND p_size BETWEEN 10 AND 40
        |  AND p_name LIKE '%ol%'
        |  AND p_retailprice IS NOT NULL
        |ORDER BY p_partkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
                col("p_size").between(10, 40) &&
                col("p_name").like("%ol%") &&
                col("p_retailprice").isNotNull)
        .select("p_partkey", "p_name", "p_brand", "p_size")
        .orderBy("p_partkey")
    },

    // ---- Subqueries / CTEs ----

    // scalar subquery: parts above overall average retail price
    Query("q28_scalar_subquery", Oracle(
      """SELECT p_partkey, p_retailprice
        |FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |ORDER BY p_partkey""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT p_partkey, p_retailprice
          |FROM part
          |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
          |ORDER BY p_partkey
          |""".stripMargin)
    },

    // CTE with a join back
    Query("q29_cte", Oracle(
      """WITH big_orders AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_totalprice > 200000)
        |SELECT c_nationkey, count(1) AS n_big, CAST(min(o_totalprice) AS DOUBLE) AS min_big
        |FROM big_orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """WITH big_orders AS (
          |  SELECT o_orderkey, o_custkey, o_totalprice
          |  FROM orders WHERE o_totalprice > 200000
          |)
          |SELECT c_nationkey, count(1) AS n_big, CAST(min(o_totalprice) AS DOUBLE) AS min_big
          |FROM big_orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_nationkey
          |ORDER BY c_nationkey
          |""".stripMargin)
    },

    // correlated EXISTS subquery (decorrelated by Catalyst)
    Query("q30_exists_subquery", Oracle(
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
        |ORDER BY s_suppkey""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT s_suppkey, s_name
          |FROM supplier
          |WHERE EXISTS (
          |  SELECT 1 FROM lineitem
          |  WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
          |ORDER BY s_suppkey
          |""".stripMargin)
    },

    // ---- Pivot ----

    Query("q31_pivot", Oracle(
      """SELECT o_orderpriority,
        |  count(1) FILTER (o_orderstatus = 'F') AS "F",
        |  count(1) FILTER (o_orderstatus = 'O') AS "O",
        |  count(1) FILTER (o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")
    },

    // ---- Array / explode / JSON ----

    // explode word arrays → global top-20 word frequency
    Query("q32_explode_words", Oracle(
      """SELECT word, count(1) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin)) { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word"))
        .limit(20)
    },

    // JSON field extraction from events.props
    Query("q33_json_extract", Oracle(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 90
        |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .filter(col("k") > 90)
        .orderBy("event_id")
    },

    // array construction + aggregation functions
    Query("q34_array_funcs", Oracle(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
        |  list_contains(string_split(text, ' '), 'spark') AS has_spark
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          split(col("text"), " ").as("words"))
        .select(
          col("doc_id"),
          size(col("words")).as("n_words"),
          size(array_distinct(col("words"))).as("n_distinct"),
          array_contains(col("words"), "spark").as("has_spark"))
        .orderBy("doc_id")
    },

    // ---- Streaming-equivalent batch window (tumbling) ----
    // Structured Streaming shares this exact plan shape (see
    // graft.streaming); batch form is the oracle-checkable variant.
    Query("q35_time_window", Oracle(
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type, count(1) AS n
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    }
  )
}
