package graft.queries

import org.apache.spark.sql.functions._
import Query.t

/** Layer B continuation #3: HAVING, LIMIT/OFFSET pagination, set-op type
  * coercion, interval arithmetic, ordered string aggregation. */
object Relational4 {
  // shared with Extended's s7: the streamed sliding window must equal q70
  private[queries] val slidingWindowSql: String =
    """SELECT ws AS window_start, event_type, count(1) AS n
      |FROM (
      |  SELECT event_type, ts,
      |    time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS ws
      |  FROM events, LATERAL (SELECT unnest([0, 1]) AS k) u) t
      |WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
      |GROUP BY ws, event_type
      |ORDER BY window_start, event_type""".stripMargin

  val declared: Seq[Query] = Seq(

    // UNPIVOT (wide → long reshape): four metric columns melt into
    // (metric, value) rows — a narrow per-row generator, no shuffle
    Query("q71_unpivot", Oracle(
      """SELECT l_orderkey, l_linenumber, m.metric, m.value
        |FROM lineitem,
        |  LATERAL (VALUES ('l_quantity', l_quantity),
        |                  ('l_extendedprice', l_extendedprice),
        |                  ('l_discount', l_discount),
        |                  ('l_tax', l_tax)) AS m(metric, value)
        |WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        // value in the key: lineitem holds duplicate (orderkey,
        // linenumber) pairs, so (…, metric) alone is not a total order
        .orderBy("l_orderkey", "l_linenumber", "metric", "value")
    },

    // GROUP BY ... HAVING over an aggregate predicate
    Query("q57_having", Oracle(
      """SELECT l_suppkey, count(1) AS n_lines
        |FROM lineitem GROUP BY l_suppkey
        |HAVING count(1) > 650 ORDER BY l_suppkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_lines"))
        .filter(col("n_lines") > 650)
        .orderBy("l_suppkey")
    },

    // LIMIT + OFFSET pagination over a total order
    Query("q58_limit_offset", Oracle(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 15 OFFSET 10""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .offset(10).limit(15)
    },

    // UNION type coercion: int column unioned with double → double
    Query("q59_union_coercion", Oracle(
      """SELECT count(1) AS n, round(min(x), 6) AS min_x, round(max(x), 6) AS max_x
        |FROM (SELECT CAST(p_size AS DOUBLE) AS x FROM part
        |      UNION ALL SELECT p_retailprice FROM part) u""".stripMargin)) { (s, dir) =>
      val ints = t(s, dir, "part").select(col("p_size").cast("int").as("x"))
      val dbls = t(s, dir, "part").select(col("p_retailprice").as("x"))
      ints.union(dbls)
        .agg(count(lit(1)).as("n"), round(min(col("x")), 6).as("min_x"),
             round(max(col("x")), 6).as("max_x"))
    },

    // interval arithmetic in predicates and projections
    Query("q60_interval_arith", Oracle(
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL 90 DAY AS due_date,
        |  o_orderdate - INTERVAL 1 HOUR AS hour_before
        |FROM orders
        |WHERE o_orderdate + INTERVAL 30 DAY < TIMESTAMP '1995-06-01'
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderdate") + expr("INTERVAL 30 DAYS") < lit("1995-06-01").cast("timestamp"))
        .select(
          col("o_orderkey"),
          (col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("due_date"),
          (col("o_orderdate") - expr("INTERVAL 1 HOUR")).as("hour_before"))
        .orderBy("o_orderkey")
    },

    // ordered string aggregation (listagg shape): deterministic via sort
    Query("q61_string_agg", Oracle(
      """SELECT n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(1) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "nation")
        .groupBy("n_regionkey")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
             count(lit(1)).as("n"))
        .orderBy("n_regionkey")
    },

    // nested struct aggregation: per-region list of (name, key) structs
    Query("q62_struct_agg", Oracle(
      """SELECT n_regionkey,
        |  CAST(to_json(list_sort(list({'name': n_name, 'key': n_nationkey}))) AS VARCHAR) AS members
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "nation")
        .groupBy("n_regionkey")
        .agg(sort_array(collect_list(struct(col("n_name").as("name"),
          col("n_nationkey").as("key")))).as("members_raw"))
        // struct list serialized to JSON so the oracle harness can hash it
        .select(col("n_regionkey"), to_json(col("members_raw")).as("members"))
        .orderBy("n_regionkey")
    },

    // window distribution functions + lag/lead navigation
    Query("q64_window_dist", Oracle(
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_totalprice, o_orderkey""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"))
        .orderBy("o_orderstatus", "o_totalprice", "o_orderkey")
    },

    // lateral explode with ordinality (posexplode) + post-explode filter
    Query("q65_lateral_explode", Oracle(
      """WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS ws
        |           FROM part WHERE p_partkey <= 200),
        |e AS (
        |  SELECT p_partkey, CAST(i AS INTEGER) AS pos, ws[i + 1] AS word
        |  FROM w, LATERAL (SELECT unnest(range(len(ws))) AS i) u)
        |SELECT p_partkey, pos, word FROM e
        |WHERE length(word) > 3
        |ORDER BY p_partkey, pos""".stripMargin)) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .filter(length(col("word")) > 3)
        .orderBy("p_partkey", "pos")
    },

    // width_bucket equi-width histogram of order totals
    // DuckDB 1.0 has no width_bucket — replicate Spark's semantics:
    // floor((v - lo)/width) + 1, clamped to 0 below lo and n+1 above hi
    Query("q66_width_bucket", Oracle(
      """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
        |                 WHEN o_totalprice >= 600000 THEN 13
        |                 ELSE floor(o_totalprice / 50000.0) + 1 END AS BIGINT) AS bucket,
        |  count(1) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .select(width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0), lit(12))
          .as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },

    // try_* error-safe arithmetic/casts: ANSI mode makes 1/0 and bad
    // casts THROW; the try_ variants degrade to NULL instead
    Query("q68_try_funcs", Oracle(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(NULL AS DOUBLE) AS div_by_zero,
        |  l_extendedprice / l_quantity AS unit_price,
        |  TRY_CAST(l_returnflag AS DECIMAL(3,0)) AS flag_as_number,
        |  CAST(NULL AS BIGINT) AS overflow_add
        |FROM lineitem WHERE l_orderkey <= 200
        |ORDER BY l_orderkey, l_linenumber, unit_price""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 200)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          try_divide(col("l_extendedprice"), col("l_quantity") - col("l_quantity"))
            .as("div_by_zero"),
          try_divide(col("l_extendedprice"), col("l_quantity")).as("unit_price"),
          try_to_number(col("l_returnflag"), lit("999")).as("flag_as_number"),
          // +1 so the addend is always >= 1 (l_orderkey starts at 0):
          // the add always overflows and try_add always yields NULL
          try_add(col("l_orderkey") + 1, lit(Long.MaxValue)).as("overflow_add"))
        // unit_price breaks ties between duplicate (orderkey, linenumber)
        // fixture rows — see a12/q55
        .orderBy("l_orderkey", "l_linenumber", "unit_price")
    },

    // batch sessionization (gaps-and-islands) — the batch counterpart
    // of the streaming session_window (s2), for backfills
    Query("q69_sessionize", Oracle(
      """WITH d AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM d)
        |SELECT user_id, session_seq, min(ts) AS session_start,
        |       max(ts) AS last_ts, count(1) AS n_events
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin)) { (s, dir) =>
      graft.operators.Sessionize.sessionStats(
          t(s, dir, "events"), "user_id", "ts", gapSeconds = 1800)
        .orderBy("user_id", "session_seq")
    },

    // sliding (overlapping) time windows: 1 h windows every 30 min —
    // each event lands in 2 windows (tumbling q35 / session s2 cover
    // the other window kinds)
    Query("q70_sliding_window", Oracle(slidingWindowSql)) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    },

    // upsert/merge: apply an "updates" changeset to a target keyed by
    // o_orderkey — updated rows win, unmatched target rows survive,
    // brand-new rows append (the ETL pattern the reference's INSERT-only
    // loader cannot express; at scale this is the partition-overwrite /
    // MERGE INTO shape)
    Query("q63_upsert_merge", Oracle(
      """WITH updates AS (
        |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice, 'U' AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT max(o_orderkey) + 1, 42.0, 'N' FROM orders)
        |SELECT o_orderkey, o_totalprice, o_orderstatus FROM (
        |  SELECT t.o_orderkey, t.o_totalprice, t.o_orderstatus
        |  FROM orders t ANTI JOIN updates u USING (o_orderkey)
        |  UNION ALL SELECT * FROM updates) m
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val target = t(s, dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
      val updates = t(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") * 1.1).as("o_totalprice"),
          lit("U").as("o_orderstatus"))
        .union(t(s, dir, "orders").agg((max("o_orderkey") + 1).as("o_orderkey"))
          .select(col("o_orderkey"), lit(42.0).as("o_totalprice"), lit("N").as("o_orderstatus")))
      target.join(updates, Seq("o_orderkey"), "left_anti")
        .union(updates)
        .orderBy("o_orderkey")
    }
  )
}
