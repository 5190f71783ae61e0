package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Profiling
import Query.t

/** Round-4/5 SQL-surface additions: bitwise/boolean aggregates, the
  * linear-regression aggregate family, fuzzy matching, recursive CTEs,
  * and the VARIANT semi-structured type (SURVEY.md §2.2 — dialect
  * built-ins every delegated RDBMS exposes; recursive CTE and VARIANT
  * are Spark 4 features).
  */
object Relational5 {
  val declared: Seq[Query] = Seq(

    // bitwise AND/OR/XOR aggregates + boolean every/any + count_if
    // DuckDB count_if availability varies by version — sum(CASE) is the
    // portable spelling of the same BIGINT result
    Query("q72_bit_bool_aggs", Oracle(
      """SELECT l_returnflag,
        |  bit_and(l_linenumber) AS ba,
        |  bit_or(l_linenumber) AS bo,
        |  bit_xor(l_linenumber) AS bx,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_discount > 0.07) AS any_hi_disc,
        |  CAST(sum(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_tax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("bit_and(l_linenumber)").as("ba"),
          expr("bit_or(l_linenumber)").as("bo"),
          expr("bit_xor(l_linenumber)").as("bx"),
          expr("bool_and(l_quantity > 0)").as("all_pos"),
          expr("bool_or(l_discount > 0.07)").as("any_hi_disc"),
          expr("count_if(l_tax > 0.04)").as("n_hi_tax"))
        .orderBy("l_returnflag")
    },

    // fuzzy string matching: near-identical value pairs by edit
    // distance — the cheap cousin of the shingle-Jaccard near-dup ops,
    // right for short strings (brands/titles/names). Distinct-value
    // pairs only, so the quadratic term is over the domain, not the
    // table — and the standard length prune runs INSIDE the join
    // condition: levenshtein(a,b) >= |len(a)-len(b)|, so pairs whose
    // lengths differ by more than the distance cap are rejected before
    // the O(len²) edit-distance DP ever evaluates. On a
    // high-cardinality domain (titles, names) that prune is what keeps
    // the quadratic term from being a bare cross join.
    Query("q74_fuzzy_match", Oracle(
      """WITH br AS (SELECT DISTINCT p_brand FROM part)
        |SELECT x.p_brand AS brand_a, y.p_brand AS brand_b,
        |  CAST(levenshtein(x.p_brand, y.p_brand) AS INTEGER) AS dist
        |FROM br x JOIN br y ON x.p_brand < y.p_brand
        |WHERE levenshtein(x.p_brand, y.p_brand) <= 2
        |ORDER BY brand_a, brand_b""".stripMargin)) { (s, dir) =>
      val maxDist = 2
      val brands = t(s, dir, "part").select(col("p_brand")).distinct()
      val a = brands.select(col("p_brand").as("brand_a"))
      val b = brands.select(col("p_brand").as("brand_b"))
      a.join(b, col("brand_a") < col("brand_b") &&
          abs(length(col("brand_a")) - length(col("brand_b"))) <= maxDist)
        .select(col("brand_a"), col("brand_b"),
          levenshtein(col("brand_a"), col("brand_b")).as("dist"))
        .filter(col("dist") <= maxDist)
        .orderBy("brand_a", "brand_b")
    },

    // recursive CTE (Spark 4): a data-driven integer ladder — every
    // order year between min and max INCLUDING empty years (the gap a
    // plain GROUP BY silently skips). The recursion carries its bound
    // as a column so the recursive term needs no subquery; work per
    // step is one row. DuckDB runs the identical statement.
    Query("q75_recursive_cte", Oracle(
      """WITH RECURSIVE bounds AS (
        |  SELECT CAST(min(year(o_orderdate)) AS INTEGER) AS lo,
        |         CAST(max(year(o_orderdate)) AS INTEGER) AS hi FROM orders),
        |years(y, hi) AS (
        |  SELECT lo, hi FROM bounds
        |  UNION ALL SELECT y + 1, hi FROM years WHERE y < hi)
        |SELECT y AS order_year, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |FROM years LEFT JOIN orders ON year(o_orderdate) = y
        |GROUP BY y ORDER BY y""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_rec")
      s.sql("""
        WITH RECURSIVE bounds AS (
          SELECT CAST(min(year(o_orderdate)) AS INT) AS lo,
                 CAST(max(year(o_orderdate)) AS INT) AS hi FROM orders_rec),
        years(y, hi) AS (
          SELECT lo, hi FROM bounds
          UNION ALL SELECT y + 1, hi FROM years WHERE y < hi)
        SELECT y AS order_year, count(o_orderkey) AS n_orders
        FROM years LEFT JOIN orders_rec ON year(o_orderdate) = y
        GROUP BY y ORDER BY y""")
    },

    // VARIANT semi-structured type (Spark 4): build a nested JSON from
    // the event's props + type, parse once to VARIANT, extract typed
    // paths (nested field, array element, and a missing path via
    // try_variant_get). The DuckDB oracle extracts the same paths from
    // the same JSON with its json functions.
    Query("q76_variant", Oracle(
      """WITH j AS (
        |  SELECT event_id,
        |    '{"meta":' || props || ',"tags":["' || event_type || '"]}' AS js
        |  FROM events)
        |SELECT event_id,
        |  CAST(json_extract_string(js, '$.meta.k') AS INTEGER) AS k,
        |  json_extract_string(js, '$.tags[0]') AS tag0,
        |  CAST(NULL AS INTEGER) AS absent
        |FROM j
        |WHERE CAST(json_extract_string(js, '$.meta.k') AS INTEGER) > 95
        |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      t(s, dir, "events")
        .withColumn("_j", concat(lit("{\"meta\":"), col("props"),
          lit(",\"tags\":[\""), col("event_type"), lit("\"]}")))
        .select(col("event_id"),
          expr("variant_get(parse_json(_j), '$.meta.k', 'int')").as("k"),
          expr("variant_get(parse_json(_j), '$.tags[0]', 'string')").as("tag0"),
          expr("try_variant_get(parse_json(_j), '$.missing', 'int')").as("absent"))
        .filter(col("k") > 95)
        .orderBy("event_id")
    },

    // regression aggregates: corr / covariance / least-squares fit of
    // extendedprice on quantity per return flag. One map-side-combined
    // aggregation — co-moments merge associatively, so the shuffle
    // carries one state row per (task × group) at any scale.
    Query("q73_regr_stats", Oracle(
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_pop(l_quantity, l_discount), 6) AS covp_qd,
        |  round(covar_samp(l_quantity, l_discount), 6) AS covs_qd,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  regr_count(l_extendedprice, l_quantity) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("covp_qd"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covs_qd"),
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
          expr("regr_count(l_extendedprice, l_quantity)").as("n"))
        .orderBy("l_returnflag")
    },

    // GROUP BY ALL / ORDER BY ALL (Spark 4 + DuckDB both support the
    // dialect shorthand — the statement text is shared verbatim with
    // the oracle, modulo the view name)
    // year() → DuckDB returns BIGINT, Spark INT — dtype KINDS still
    // both integer, which is what the harness compares
    Query("q77_group_by_all", Oracle(
      """SELECT o_orderpriority, year(o_orderdate) AS order_year,
        |       count(o_orderkey) AS n, round(sum(o_totalprice), 4) AS total
        |FROM orders
        |GROUP BY ALL ORDER BY ALL""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_gba")
      s.sql("""
        SELECT o_orderpriority, year(o_orderdate) AS order_year,
               count(o_orderkey) AS n, round(sum(o_totalprice), 4) AS total
        FROM orders_gba
        GROUP BY ALL ORDER BY ALL""")
    },

    // string collation (Spark 4): per-expression COLLATE UTF8_LCASE
    // drives case-insensitive equality and substring matching through
    // the native collation-aware operators — no lower() rewrites on the
    // data side. The oracle expresses the same semantics via lower()
    // (DuckDB's collations don't extend to contains()).
    // the fixture has uppercase p_type ('ECONOMY') and lowercase p_name
    // ('cold widget'); matching a lowercase literal against the former
    // and an uppercase needle against the latter is what proves the
    // comparisons really run case-insensitively
    Query("q78_collation", Oracle(
      """SELECT p_type, count(*) AS n,
        |  CAST(sum(CASE WHEN contains(lower(p_name), lower('WIDGET'))
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_widget
        |FROM part
        |WHERE lower(p_type) = 'economy'
        |GROUP BY p_type ORDER BY p_type""".stripMargin)) { (s, dir) =>
      t(s, dir, "part").createOrReplaceTempView("part_coll")
      s.sql("""
        SELECT p_type, count(*) AS n,
               CAST(sum(CASE WHEN contains(p_name COLLATE UTF8_LCASE,
                                           'WIDGET') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_widget
        FROM part_coll
        WHERE p_type COLLATE UTF8_LCASE = 'economy'
        GROUP BY p_type ORDER BY p_type""")
    },

    // schema-evolution union: unionByName(allowMissingColumns) aligns
    // columns by NAME (not position) and null-fills columns one side
    // lacks — the API for unioning snapshots whose schemas drifted
    // (positional UNION would silently mis-bind or reject). DuckDB's
    // UNION ALL BY NAME is the same semantics, so the statement shape
    // is shared, not just the result.
    Query("q80_union_by_name", Oracle(
      """SELECT o_orderkey, o_orderpriority, o_totalprice AS price
        |FROM orders WHERE o_totalprice > 480000
        |UNION ALL BY NAME
        |SELECT o_orderpriority, o_orderkey
        |FROM orders WHERE o_totalprice < 5000
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 480000)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").as("price"))
      // column order permuted AND price absent — both axes of drift
      val lo = o.filter(col("o_totalprice") < 5000)
        .select(col("o_orderpriority"), col("o_orderkey"))
      hi.unionByName(lo, allowMissingColumns = true)
        .orderBy("o_orderkey")
    },

    // higher-order array functions (lambda tier): transform / filter /
    // exists / forall / aggregate stay whole-stage-codegen'd — per-row
    // array loops with NO explode, NO shuffle, NO UDF. The oracle
    // replays the same per-document reductions relationally
    // (unnest + GROUP BY), pinning that the lambda forms equal their
    // first-order relational meaning.
    Query("q81_higher_order", Oracle(
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS x
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(sum(len(x)) AS INTEGER) AS total_chars,
        |  CAST(sum(CASE WHEN len(x) > 4 THEN 1 ELSE 0 END) AS INTEGER) AS n_long,
        |  bool_or(x = 'data') AS has_data,
        |  bool_and(len(x) > 0) AS all_nonempty,
        |  CAST(max(len(x)) AS INTEGER) AS max_len
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          expr("aggregate(w, 0, (a, x) -> a + length(x))").as("total_chars"),
          expr("size(filter(w, x -> length(x) > 4))").as("n_long"),
          expr("exists(w, x -> x = 'data')").as("has_data"),
          expr("forall(w, x -> length(x) > 0)").as("all_nonempty"),
          expr("array_max(transform(w, x -> length(x)))").as("max_len"))
        .orderBy("doc_id")
    },

    // correlated LATERAL subquery join (Spark 4 decorrelation): top-2
    // customers per nation where the per-group LIMIT lives INSIDE the
    // lateral subquery — the SQL-standard spelling of grouped top-k
    // (q11/q22 are the window/aggregate spellings; this pins the
    // decorrelated plan computes the same relation). DuckDB runs the
    // identical statement.
    Query("q82_lateral_topk", Oracle(
      """SELECT n_name, c_name, c_acctbal
        |FROM nation JOIN LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) ON true
        |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin)) { (s, dir) =>
      t(s, dir, "nation").createOrReplaceTempView("nation_lat")
      t(s, dir, "customer").createOrReplaceTempView("cust_lat")
      s.sql("""
        SELECT n_name, c_name, c_acctbal
        FROM nation_lat, LATERAL (
          SELECT c_name, c_acctbal FROM cust_lat
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2)
        ORDER BY n_name, c_acctbal DESC, c_name""")
    },

    // IGNORE NULLS window fill: LOCF (last observation carried forward)
    // and its backward twin — the time-series gap-fill every sensor /
    // metrics pipeline runs. Nulls are planted deterministically
    // (event_id % 5) so both engines fill the same gaps; q44's
    // first/last windows do NOT exercise null-skipping — this is the
    // ignore-nulls tier.
    Query("q83_fill_forward", Oracle(
      """WITH m AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT event_id, user_id, v,
        |  last_value(v IGNORE NULLS) OVER (wf
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill,
        |  first_value(v IGNORE NULLS) OVER (wf
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfill
        |FROM m
        |WINDOW wf AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("v",
          when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")))
        .withColumn("ffill", last(col("v"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("bfill", first(col("v"), ignoreNulls = true)
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .select("event_id", "user_id", "v", "ffill", "bfill")
        .orderBy("event_id")
    },

    // SCD type-2 interval build: each per-customer order opens a
    // validity interval closed by the next one (lead), the open
    // interval marked current — the dimension-history pattern the
    // reference's JDBC targets would hold as a versioned table.
    Query("q84_scd2_intervals", Oracle(
      """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
        |  o_orderpriority AS prio,
        |  lead(o_orderdate, 1) OVER w AS valid_to,
        |  lead(o_orderdate, 1) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("valid_from").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").as("valid_from"),
          col("o_orderpriority").as("prio"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    },

    // Ordered funnel analysis: view → click-after-view →
    // purchase-after-click, each stage's timestamp strictly after the
    // previous stage's — the product-analytics conversion query.
    // Each stage is one filtered min-aggregation joined to the prior
    // stage (no windows, no self-cross); output is the 3-row summary.
    Query("q85_funnel", Oracle(
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        |      GROUP BY e.user_id)
        |SELECT 1 AS stage, 'view' AS event, count(1) AS n_users FROM v
        |UNION ALL
        |SELECT 2 AS stage, 'click' AS event, count(1) AS n_users FROM c
        |UNION ALL
        |SELECT 3 AS stage, 'purchase' AS event, count(1) AS n_users FROM p
        |ORDER BY stage""".stripMargin)) { (s, dir) =>
      val ev = t(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("v_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("v_ts"))
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("c_ts"))
        .groupBy("user_id").agg(min("ts").as("p_ts"))
      val stage = (n: Int, nm: String, d: DataFrame) =>
        d.agg(count(lit(1)).as("n_users"))
          .select(lit(n).as("stage"), lit(nm).as("event"), col("n_users"))
      stage(1, "view", v).unionAll(stage(2, "click", c))
        .unionAll(stage(3, "purchase", p))
        .orderBy("stage")
    },

    // Weekly cohort retention: users grouped by first-activity week,
    // counted per (cohort, weeks-since-cohort) cell — the
    // retention-matrix query. Week arithmetic stays on Monday-truncated
    // dates so offsets are exact multiples of 7 days on both engines.
    Query("q86_cohort_retention", Oracle(
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |co AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id)
        |SELECT cohort_wk,
        |  CAST(datediff('day', cohort_wk, wk) / 7 AS INTEGER) AS week_offset,
        |  count(1) AS n_users
        |FROM a JOIN co USING (user_id)
        |GROUP BY cohort_wk, week_offset
        |ORDER BY cohort_wk, week_offset""".stripMargin)) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      val cohort = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_wk"),
          (datediff(col("wk"), col("cohort_wk")) / lit(7)).cast("int")
            .as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "week_offset")
    },

    // one-pass per-column table profile (null rate / cardinality /
    // range) — the source-onboarding data-quality check. Double
    // columns are excluded from the oracle-checked profile because
    // engines render doubles differently; their stats live in q41.
    Query("q87_profile", Oracle(
      """SELECT 'o_custkey' AS col_name, count(1) AS n_rows,
        |  count(1) - count(o_custkey) AS n_nulls,
        |  count(DISTINCT o_custkey) AS n_distinct,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_val,
        |  CAST(max(o_custkey) AS VARCHAR) AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', count(1), count(1) - count(o_orderdate),
        |  count(DISTINCT o_orderdate),
        |  CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', count(1), count(1) - count(o_orderkey),
        |  count(DISTINCT o_orderkey),
        |  CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(1), count(1) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority),
        |  CAST(min(o_orderpriority) AS VARCHAR),
        |  CAST(max(o_orderpriority) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(1), count(1) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus),
        |  CAST(min(o_orderstatus) AS VARCHAR),
        |  CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders
        |ORDER BY col_name""".stripMargin)) { (s, dir) =>
      Profiling.profile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
            "o_orderpriority"))
        .orderBy("col_name")
    },

    // Last-touch marketing attribution: each purchase's value goes to
    // the most recent strictly-prior NON-purchase event of the same
    // user within a 7-day lookback, else 'direct' — q83's IGNORE NULLS
    // carry-forward made conditional (nulled purchase rows are skipped
    // by the window, so purchases never attribute to each other).
    // One user-keyed window + one small grouped rollup; no self-join.
    Query("q88_attribution", Oracle(
      """WITH m AS (
        |  SELECT event_id, user_id, ts, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_type,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN ts END IGNORE NULLS)
        |      OVER w AS touch_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT CASE WHEN touch_ts IS NULL OR touch_ts < ts - INTERVAL 7 DAY
        |            THEN 'direct' ELSE touch_type END AS channel,
        |  count(1) AS n_purchases, round(sum(value), 4) AS revenue
        |FROM m WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      val touchTs = when(col("event_type") =!= "purchase", col("ts"))
      t(s, dir, "events")
        .withColumn("touch_type", last(touch, ignoreNulls = true).over(w))
        .withColumn("touch_ts", last(touchTs, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("channel",
          when(col("touch_ts").isNull ||
              col("touch_ts") < col("ts") - expr("INTERVAL 7 DAYS"),
            lit("direct")).otherwise(col("touch_type")))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          round(sum("value"), 4).as("revenue"))
        .orderBy("channel")
    },

    // Robust outlier detection: per-group median + MAD (median absolute
    // deviation), rows beyond 3·MAD counted — the robust tier above
    // q41's mean/stddev moments, which a single spike can drag. Two
    // grouped exact medians + broadcast joins of the group-count-sized
    // stats back to the data; both engines interpolate even-N medians
    // identically so the 3·MAD threshold compares the same doubles.
    Query("q89_mad_outliers", Oracle(
      """WITH med AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS adev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, median(adev) AS mad FROM d GROUP BY 1),
        |s AS (
        |  SELECT d.event_type, count(1) AS n,
        |    CAST(sum(CASE WHEN d.adev > 3 * mad.mad THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_outliers
        |  FROM d JOIN mad USING (event_type) GROUP BY d.event_type)
        |SELECT s.event_type, s.n, s.n_outliers,
        |  round(med.med, 6) AS med, round(mad.mad, 6) AS mad
        |FROM s JOIN med USING (event_type) JOIN mad USING (event_type)
        |ORDER BY event_type""".stripMargin)) { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .join(med, "event_type").join(mad, "event_type")
        .select(col("event_type"), col("n"), col("n_outliers"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"))
        .orderBy("event_type")
    },

    // Explicit NULLS FIRST / NULLS LAST ordering: Spark defaults nulls
    // FIRST on ASC, DuckDB defaults nulls LAST — this query pins the
    // explicit forms on planted nulls where the defaults would diverge.
    // Both segments are TakeOrderedAndProject (no global sort survives
    // the limit); selection is what proves the placement: ASC NULLS
    // FIRST admits only nulls into its top-10, DESC NULLS LAST none.
    Query("q91_nulls_ordering", Oracle(
      """WITH m AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |nf AS (
        |  SELECT 'asc_nulls_first' AS mode, event_id, round(v, 6) AS v
        |  FROM m ORDER BY v ASC NULLS FIRST, event_id LIMIT 10),
        |nl AS (
        |  SELECT 'desc_nulls_last' AS mode, event_id, round(v, 6) AS v
        |  FROM m ORDER BY v DESC NULLS LAST, event_id LIMIT 10)
        |SELECT * FROM nf UNION ALL SELECT * FROM nl
        |ORDER BY mode, event_id""".stripMargin)) { (s, dir) =>
      val m = t(s, dir, "events").select(col("event_id"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value"))
          .as("v"))
      val nf = m.orderBy(col("v").asc_nulls_first, col("event_id").asc)
        .limit(10)
        .select(lit("asc_nulls_first").as("mode"), col("event_id"),
          round(col("v"), 6).as("v"))
      val nl = m.orderBy(col("v").desc_nulls_last, col("event_id").asc)
        .limit(10)
        .select(lit("desc_nulls_last").as("mode"), col("event_id"),
          round(col("v"), 6).as("v"))
      nf.unionAll(nl).orderBy("mode", "event_id")
    },

    // Month-over-month growth: per-month revenue, lag ratio − 1 —
    // the trend readout every revenue dashboard leads with. One
    // month-keyed aggregation + one ordered window over the
    // month-count-sized result (the window input is 80 rows, not the
    // fact table).
    // the growth ratio divides the ROUNDED revenues (both engines read
    // the same 4-dp inputs, so the 6-dp ratio cannot straddle a boundary)
    Query("q94_mom_growth", Oracle(
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    round(sum(o_totalprice), 4) AS revenue, count(1) AS n
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue, n,
        |  round(revenue / lag(revenue, 1) OVER (ORDER BY month) - 1, 6)
        |    AS growth
        |FROM m ORDER BY month""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("month")
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(round(sum("o_totalprice"), 4).as("revenue"), count(lit(1)).as("n"))
        .withColumn("prev", lag(col("revenue"), 1).over(w))
        .withColumn("growth",
          when(col("prev").isNotNull, round(col("revenue") / col("prev") - 1, 6)))
        .drop("prev")
        .orderBy("month")
    },

    // Built-in session_window in BATCH (the API twin of q69's manual
    // gaps-and-islands): sessions close after a 30-minute silence, end
    // = last event + gap, a gap of EXACTLY 30 min starts a new session
    // (end-exclusive) — the oracle's >= breaks on the same boundary.
    Query("q93_session_window", Oracle(
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(1) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Lateral column aliases (Spark 3.4+/4): a SELECT-list alias reused
    // by later expressions in the same list — the incremental-derivation
    // sugar that otherwise forces nested subqueries. Per-row products
    // are order-free, so no rounding is needed for cross-engine equality.
    Query("q92_lateral_alias", Oracle(
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS disc_price,
        |  disc_price * (1 + l_tax) AS charged
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("li_lca")
      s.sql("""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS disc_price,
               disc_price * (1 + l_tax) AS charged
        FROM li_lca WHERE l_orderkey < 100
        ORDER BY l_orderkey, l_linenumber""")
    },

    // Welch two-sample t-test between event cohorts — the A/B
    // experiment readout (unequal variances, so Welch not Student).
    // One grouped pass for (n, mean, var) then closed-form t and
    // Welch–Satterthwaite df on the 1×1 joined stats; rounding absorbs
    // the engines' different streaming-variance summation orders
    // (the q41 precedent).
    Query("q90_ab_ttest", Oracle(
      """WITH ag AS (
        |  SELECT event_type, CAST(count(1) AS DOUBLE) AS n,
        |    avg(value) AS m, var_samp(value) AS v
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
        |a AS (SELECT n AS na, m AS ma, v AS va FROM ag
        |      WHERE event_type = 'click'),
        |b AS (SELECT n AS nb, m AS mb, v AS vb FROM ag
        |      WHERE event_type = 'view'),
        |j AS (SELECT *, va/na + vb/nb AS se2 FROM a CROSS JOIN b)
        |SELECT CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT) AS n_view,
        |  round(ma, 6) AS mean_click, round(mb, 6) AS mean_view,
        |  round((ma - mb)/sqrt(se2), 6) AS t_stat,
        |  round(pow(se2, 2) / (pow(va/na, 2)/(na - 1) +
        |        pow(vb/nb, 2)/(nb - 1)), 4) AS welch_df
        |FROM j""".stripMargin)) { (s, dir) =>
      val ag = t(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"), avg("value").as("m"),
          var_samp("value").as("v"))
      val a = ag.filter(col("event_type") === "click")
        .select(col("n").as("na"), col("m").as("ma"), col("v").as("va"))
      val b = ag.filter(col("event_type") === "view")
        .select(col("n").as("nb"), col("m").as("mb"), col("v").as("vb"))
      a.crossJoin(b)
        .withColumn("se2", col("va") / col("na") + col("vb") / col("nb"))
        .select(col("na").cast("long").as("n_click"),
          col("nb").cast("long").as("n_view"),
          round(col("ma"), 6).as("mean_click"),
          round(col("mb"), 6).as("mean_view"),
          round((col("ma") - col("mb")) / sqrt(col("se2")), 6).as("t_stat"),
          round(pow(col("se2"), 2) /
            (pow(col("va") / col("na"), 2) / (col("na") - 1) +
             pow(col("vb") / col("nb"), 2) / (col("nb") - 1)), 4).as("welch_df"))
    },

    // SQL-defined scalar function (Spark 4 CREATE FUNCTION ... RETURN):
    // the declarative UDF tier — the body inlines into the plan as an
    // expression (stays in codegen; nothing crosses a JVM boundary),
    // which is the recommended replacement for trivial Scala UDFs. The
    // oracle inlines the same arithmetic (q14's proven-exact revenue
    // expression).
    Query("q79_sql_udf", Oracle(
      """SELECT l_returnflag,
        |  CAST(sum(l_extendedprice * (1.0 - l_discount)) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("li_udf")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION disc_price(
                 p DOUBLE, d DOUBLE) RETURNS DOUBLE RETURN p * (1.0 - d)""")
      s.sql("""
        SELECT l_returnflag,
               CAST(sum(disc_price(l_extendedprice, l_discount)) AS DOUBLE)
                 AS revenue,
               count(*) AS n
        FROM li_udf
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    }
  )
}
