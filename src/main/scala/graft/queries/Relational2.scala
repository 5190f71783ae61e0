package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.AsOfJoin
import graft.functions.Aggregators
import Query.t

/** Layer B continuation: as-of join, typed UDAF, set-op variants,
  * percentiles/statistics, range window frames, null semantics,
  * regex, conditional aggregation. */
object Relational2 {
  val declared: Seq[Query] = Seq(

    // as-of join: each purchase event picks up the value of the user's
    // most recent prior-or-simultaneous signup event
    Query("q36_asof_join", Oracle(
      """SELECT p.event_id, p.user_id, p.ts, p.value, s.value AS asof_signup_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY p.event_id""".stripMargin)) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("signup_id"),
                col("value").as("signup_value"))
      AsOfJoin.asof(purchases, signups, Seq("user_id"), "ts", "ts",
          payloadCols = Seq("signup_value"), rightTieBreak = "signup_id")
        .orderBy("event_id")
    },

    // tolerance-bounded as-of (pandas merge_asof tolerance): the most
    // recent signup wins ONLY within 7 days — staler state nulls out
    // the nearest match is picked FIRST (ts desc, largest-id tie), the
    // tolerance gate nulls it after — no fallback to a farther row
    // (pandas merge_asof semantics)
    Query("q95_asof_tolerance", Oracle(
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, ts, event_id AS signup_id, value AS signup_value
        |      FROM events WHERE event_type = 'signup'),
        |j AS (
        |  SELECT p.event_id, s.signup_value, s.ts AS sts,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY s.ts DESC, s.signup_id DESC) AS rk
        |  FROM p JOIN s ON p.user_id = s.user_id AND s.ts <= p.ts)
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |  CASE WHEN p.ts - j.sts <= INTERVAL 7 DAY
        |       THEN j.signup_value END AS asof_signup_value
        |FROM p LEFT JOIN (SELECT event_id, signup_value, sts FROM j
        |                  WHERE rk = 1) j ON p.event_id = j.event_id
        |ORDER BY p.event_id""".stripMargin)) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("signup_id"),
                col("value").as("signup_value"))
      AsOfJoin.asofWithin(purchases, signups, Seq("user_id"), "ts", "ts",
          payloadCols = Seq("signup_value"), rightTieBreak = "signup_id",
          tolerance = "7 DAYS")
        .orderBy("event_id")
    },

    // forward as-of: for each purchase, the NEXT signup at or after it
    Query("q67_asof_forward", Oracle(
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, ts, event_id AS signup_id, value AS signup_value
        |      FROM events WHERE event_type = 'signup'),
        |j AS (
        |  SELECT p.event_id, s.signup_value,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY s.ts ASC, s.signup_id ASC) AS rk
        |  FROM p JOIN s ON p.user_id = s.user_id AND s.ts >= p.ts)
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |  j.signup_value AS asof_signup_value
        |FROM p LEFT JOIN (SELECT event_id, signup_value FROM j WHERE rk = 1) j
        |  ON p.event_id = j.event_id
        |ORDER BY p.event_id""".stripMargin)) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("signup_id"),
                col("value").as("signup_value"))
      AsOfJoin.asofForward(purchases, signups, Seq("user_id"), "ts", "ts",
          payloadCols = Seq("signup_value"), rightTieBreak = "signup_id")
        .orderBy("event_id")
    },

    // typed Aggregator UDAF: quantity-weighted mean price per flag
    Query("q37_typed_agg", Oracle(
      """SELECT l_returnflag,
        |  sum(l_extendedprice * l_quantity) / sum(l_quantity) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      val wmean = udaf(Aggregators.WeightedMean)
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(wmean(col("l_extendedprice"), col("l_quantity")).as("wavg_price"))
        .orderBy("l_returnflag")
    },

    // UNION ALL with source tagging
    Query("q38_union_all", Oracle(
      """SELECT src, count(1) AS n, min(bal) AS min_bal, max(bal) AS max_bal
        |FROM (SELECT 'customer' AS src, c_acctbal AS bal FROM customer
        |      UNION ALL SELECT 'supplier', s_acctbal FROM supplier) u
        |GROUP BY src ORDER BY src""".stripMargin)) { (s, dir) =>
      val c = t(s, dir, "customer")
        .select(lit("customer").as("src"), col("c_acctbal").as("bal"))
      val su = t(s, dir, "supplier")
        .select(lit("supplier").as("src"), col("s_acctbal").as("bal"))
      c.union(su).groupBy("src")
        .agg(count(lit(1)).as("n"), min("bal").as("min_bal"), max("bal").as("max_bal"))
        .orderBy("src")
    },

    // EXCEPT ALL / INTERSECT ALL (multiset semantics)
    // the INTERSECT ALL / EXCEPT ALL rewrite inherits the full-outer
    // shape of q7, so its join stays sort-merge after AQE by semantics
    Query("q39_multiset_ops", Oracle(
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem),
        |     b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 25),
        |     ex AS (SELECT k, count(1) AS n_except FROM (
        |              SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k),
        |     inx AS (SELECT k, count(1) AS n_intersect FROM (
        |              SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k)
        |SELECT COALESCE(ex.k, inx.k) AS k,
        |       COALESCE(n_except, 0) AS n_except,
        |       COALESCE(n_intersect, 0) AS n_intersect
        |FROM ex FULL OUTER JOIN inx USING (k)
        |ORDER BY k""".stripMargin), allow = Some(PlanAllowance.SortMergeJoin)) { (s, dir) =>
      val a = t(s, dir, "lineitem").select(col("l_suppkey").as("k"))
      val b = t(s, dir, "lineitem").filter(col("l_quantity") > 25)
        .select(col("l_suppkey").as("k"))
      val ex = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_except"))
      val in = a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n_intersect"))
      ex.join(in, Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("n_except"), lit(0L)).as("n_except"),
          coalesce(col("n_intersect"), lit(0L)).as("n_intersect"))
        .orderBy("k")
    },

    // exact percentiles (interpolating) + median
    Query("q40_percentiles", Oracle(
      """SELECT o_orderpriority,
        |  quantile_disc(o_totalprice, 0.5) AS p50_approx,
        |  percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
        |  percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000000)).as("p50_approx"),
          median(col("o_totalprice")).as("p50"),
          percentile(col("o_totalprice"), lit(0.9)).as("p90"))
        .orderBy("o_orderpriority")
    },

    // sample stddev/variance (rounded: accumulation-order sensitive)
    Query("q41_stats", Oracle(
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(var_samp(l_discount), 6) AS var_disc,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_discount")), 6).as("var_disc"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"))
        .orderBy("l_returnflag")
    },

    // null-handling functions: nullif/coalesce/nvl2-style
    Query("q42_null_funcs", Oracle(
      """SELECT o_orderkey,
        |  nullif(o_orderstatus, 'O') AS status_or_null,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
        |  CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 1 ELSE 0 END AS is_open
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 300)
        .select(
          col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("status_or_null"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_filled"),
          when(nullif(col("o_orderstatus"), lit("O")).isNull, 1).otherwise(0).as("is_open"))
        .orderBy("o_orderkey")
    },

    // range window frame: sum of prices within 1000 below current price
    Query("q43_window_range", Oracle(
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  count(1) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
        |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS near_sum
        |FROM orders ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
        .rangeBetween(-1000L, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("near_sum", count(lit(1)).over(w))
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "near_sum")
        .orderBy("o_orderkey")
    },

    // first/last/nth value with explicit full frame
    Query("q44_window_firstlast", Oracle(
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)) { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .withColumn("first_price", first(col("o_totalprice")).over(w))
        .withColumn("last_price", last(col("o_totalprice")).over(w))
        .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(w))
        .select("o_custkey", "o_orderkey", "first_price", "last_price", "second_price")
        .orderBy("o_custkey", "o_orderkey")
    },

    // regexp_extract with groups + rlike filter
    Query("q45_regexp", Oracle(
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+) ([a-z]+)', 1) AS w1,
        |  regexp_extract(p_name, '^([a-z]+) ([a-z]+)', 2) AS w2
        |FROM part
        |WHERE regexp_matches(p_name, '^[a-z]+ [a-z]+')
        |ORDER BY p_partkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").rlike("^[a-z]+ [a-z]+"))
        .select(
          col("p_partkey"),
          regexp_extract(col("p_name"), "^([a-z]+) ([a-z]+)", 1).as("w1"),
          regexp_extract(col("p_name"), "^([a-z]+) ([a-z]+)", 2).as("w2"))
        .orderBy("p_partkey")
    },

    // IN-subquery predicate
    Query("q46_in_subquery", Oracle(
      """SELECT o_orderkey, o_custkey
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderkey, o_custkey
          |FROM orders
          |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
          |ORDER BY o_orderkey""".stripMargin)
    },

    // string padding / trimming / replacement
    Query("q47_string_pad", Oracle(
      """SELECT n_nationkey,
        |  lpad(n_name, 12, '*') AS padded,
        |  rpad(n_name, 12, '.') AS rpadded,
        |  trim(lpad(n_name, 12, ' ')) AS trimmed,
        |  replace(n_name, 'a', '@') AS replaced,
        |  reverse(n_name) AS reversed,
        |  split_part(n_name, 'a', 1) AS first_part
        |FROM nation ORDER BY n_nationkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "nation")
        .select(
          col("n_nationkey"),
          lpad(col("n_name"), 12, "*").as("padded"),
          rpad(col("n_name"), 12, ".").as("rpadded"),
          trim(lpad(col("n_name"), 12, " ")).as("trimmed"),
          replace(col("n_name"), lit("a"), lit("@")).as("replaced"),
          reverse(col("n_name")).as("reversed"),
          split_part(col("n_name"), lit("a"), lit(1)).as("first_part"))
        .orderBy("n_nationkey")
    },

    // conditional aggregation (FILTER-style)
    Query("q48_conditional_agg", Oracle(
      """SELECT l_linestatus,
        |  count(1) FILTER (l_quantity > 45) AS n_high,
        |  count(1) FILTER (l_discount = 0.0) AS n_nodisc,
        |  max(l_extendedprice) FILTER (l_returnflag = 'R') AS max_returned
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          count(when(col("l_quantity") > 45, 1)).as("n_high"),
          count(when(col("l_discount") === 0.0, 1)).as("n_nodisc"),
          max(when(col("l_returnflag") === "R", col("l_extendedprice"))).as("max_returned"))
        .orderBy("l_linestatus")
    }
  )
}
