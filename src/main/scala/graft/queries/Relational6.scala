package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Query.t

/** Round-7 SQL-surface additions.
  *
  * Starts with the approximate-percentile tier: `q40_percentiles` is the
  * exact family (full-sort per group), which is the right answer at
  * report scale but not at 100 TB — there the GK/KLL-style mergeable
  * sketch behind `percentile_approx` is the production path (one pass,
  * map-side partial sketches merged at reduce, rank error bounded by
  * 1/accuracy). Same exact-vs-approx pairing the engine already ships
  * for count-distinct (`q53_approx_distinct` + ApproxSpec).
  */
object Relational6 {
  /** CDC snapshot-diff classification (the EXTRACT side of CDC; q63's
    * upsert-merge is the APPLY side): full-outer join `prev` and `curr`
    * on `key`, classify each row, drop the unchanged. Side PRESENCE
    * (key membership, via planted flags the outer join nulls out), not
    * payload nullness, decides insert/delete — so a key present in one
    * snapshot whose payload column happens to be NULL can never read
    * as a phantom insert or delete. With BOTH sides present, `old <>
    * new` evaluates NULL when either payload is NULL, so such a row
    * classifies as UNCHANGED and drops — exactly the oracle's SQL `<>`
    * semantics; if NULL payloads must read as updates instead, compare
    * with a null-safe inequality (`not(old <=> new)`) in both engines.
    * Scale shape: ONE full-outer sort-merge join on the key, the
    * classification is a codegen projection, and the (usually dominant)
    * unchanged class drops before anything downstream sees it; at
    * 100 TB with wide rows compare an xxhash64 digest of the payload
    * columns instead of column-by-column equality — same plan, 8-byte
    * compare. */
  def snapshotDiff(prev: DataFrame, curr: DataFrame, key: String,
                   oldCol: String, newCol: String): DataFrame =
    prev.withColumn("_in_prev", lit(true))
      .join(curr.withColumn("_in_curr", lit(true)), Seq(key), "full_outer")
      .withColumn("change_type",
        when(col("_in_prev").isNull, "insert")
          .when(col("_in_curr").isNull, "delete")
          .when(col(oldCol) =!= col(newCol), "update"))
      .filter(col("change_type").isNotNull)
      .select(key, "change_type", oldCol, newCol)

  val declared: Seq[Query] = Seq(

    // approximate percentiles at production accuracy — rows-only: the
    // sketch's picked elements have no DuckDB-equal value; the rank
    // error bound (≤ 1/accuracy) is asserted in ApproxSpec vs the
    // exact tier on the same data
    // per-group winsorization: clip each price into its return-flag's
    // [p05, p95] band — outlier taming that keeps row count (vs
    // c26's quantile FILTER which drops). Exact interpolated
    // percentiles (Spark `percentile` == DuckDB `quantile_cont`, the
    // q103 median precedent); cuts are a groups-sized broadcast, the
    // clip itself is a pure codegen projection — two passes, no window
    // GROUPING()/GROUPING_ID over rollup: the flags that distinguish a
    // NULL-as-data group from a NULL-as-subtotal row — without them a
    // rollup over a nullable column is ambiguous to every consumer.
    // gid is the bit vector (flag, status) → {0, 1, 3} for a 2-level
    // rollup, and doubles as the deterministic level-first sort key
    // CDC snapshot diff: the EXTRACT side of change-data-capture (q63's
    // upsert-merge is the APPLY side) — given two snapshots of a keyed
    // table, emit every insert/delete/update, dropping unchanged rows
    // before anything downstream sees them. The two snapshots here are
    // deterministic modular slices of orders with a planted price drift
    // so all three change classes occur. Scale shape: ONE full-outer
    // sort-merge join on the key, change classification is a codegen
    // projection, and the (usually dominant) unchanged class drops
    // immediately; at 100 TB with wide rows, compare an xxhash64 digest
    // of the payload columns instead of column-by-column equality —
    // same plan, 8-byte compare
    // identical modular slices + identical planted drift (+1.5 is one
    // IEEE add on both engines); the unchanged class filtered by the
    // same inequality
    // the CDC diff is a full outer join, the same class as q7: its
    // shuffle join is the correct shape, not a size question
    Query("q109_snapshot_diff", Oracle(
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
        |prev AS (
        |  SELECT o_orderkey, o_totalprice AS old_price FROM o
        |  WHERE o_orderkey % 7 <> 0),
        |curr AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.5
        |         ELSE o_totalprice END AS new_price
        |  FROM o WHERE o_orderkey % 5 <> 0)
        |SELECT coalesce(prev.o_orderkey, curr.o_orderkey) AS o_orderkey,
        |  CASE WHEN prev.o_orderkey IS NULL THEN 'insert'
        |       WHEN curr.o_orderkey IS NULL THEN 'delete'
        |       WHEN old_price <> new_price THEN 'update' END AS change_type,
        |  old_price, new_price
        |FROM prev FULL OUTER JOIN curr ON prev.o_orderkey = curr.o_orderkey
        |WHERE prev.o_orderkey IS NULL OR curr.o_orderkey IS NULL
        |   OR old_price <> new_price
        |ORDER BY o_orderkey""".stripMargin), allow = Some(PlanAllowance.SortMergeJoin)) { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val prev = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice").as("old_price"))
      val curr = o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.5)
            .otherwise(col("o_totalprice")).as("new_price"))
      snapshotDiff(prev, curr, "o_orderkey", "old_price", "new_price")
        .orderBy("o_orderkey")
    },

    // top-k WITH TIES (ANSI FETCH FIRST k ROWS WITH TIES): rank() ≤ k
    // keeps every row tied at the boundary value, where q22/q102's
    // row_number cuts arbitrarily through a tie — the correct "latest
    // 3 order DATES per status" semantics when dates repeat. Same
    // one-exchange per-group window shape as q11
    // rank() semantics are identical; the boundary ties survive on both
    Query("q110_topk_ties", Oracle(
      """SELECT o_orderstatus, rk, o_orderdate, o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice,
        |    rank() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_orderdate DESC) AS rk
        |  FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_orderstatus, rk, o_orderkey""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_orderdate").desc)
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
        .withColumn("rk", rank().over(w))
        .filter(col("rk") <= 3)
        .select("o_orderstatus", "rk", "o_orderdate", "o_orderkey",
          "o_totalprice")
        .orderBy("o_orderstatus", "rk", "o_orderkey")
    },

    // column-level Avro wire round-trip: struct → Avro binary →
    // struct, the Kafka-payload codec this distribution ships headless
    // (the builtin from_avro/to_avro throw AVRO_NOT_LOADED — connector
    // expression classes absent — while the codec machinery is bundled
    // for the file format; graft.functions.AvroWire rebuilds the wire
    // tier on it). The oracle is the plain projection: a correct codec
    // is EXACTLY the identity on these rows, doubles bit-for-bit
    // the codec must be the identity — the oracle never sees Avro
    Query("q115_avro_wire", Oracle(
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      import graft.functions.AvroWire.{avroSchemaFor, from_avro_wire, to_avro_wire}
      val o = t(s, dir, "orders")
      val payload = struct(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      val schemaJson = avroSchemaFor(
        o.select(payload.as("r")).schema("r").dataType)
      o.select(to_avro_wire(payload).as("wire"))
        .select(from_avro_wire(col("wire"), schemaJson).as("r"))
        .select(col("r.o_orderkey").as("o_orderkey"),
          col("r.o_orderstatus").as("o_orderstatus"),
          col("r.o_totalprice").as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // argmax/argmin aggregates (max_by/min_by == ANSI-adjacent arg_max):
    // "the order WITH the highest price per status" in ONE aggregation
    // pass where the classic idiom needs a window + filter or a
    // self-join. Ordering value is the (price, key) array so ties are
    // deterministic on both engines (the q103 tie discipline; array
    // comparison is lexicographic in both, and orderkey is exact in
    // double far beyond this fixture)
    // DuckDB 1.0's arg_max takes only scalar ordering values, so the
    // oracle states the argmax definition directly via window ranking
    // (the q103 derivation pattern), with the identical (price, key)
    // lexicographic tie order
    Query("q114_max_by", Oracle(
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |  FROM orders),
        |s AS (
        |  SELECT o_orderstatus, round(max(o_totalprice), 2) AS max_price,
        |    count(1) AS n
        |  FROM orders GROUP BY 1)
        |SELECT s.o_orderstatus, mx.o_orderkey AS best_order,
        |  mn.o_orderkey AS worst_order, s.max_price, s.n
        |FROM s
        |JOIN (SELECT o_orderstatus, o_orderkey FROM r WHERE rmax = 1) mx
        |  USING (o_orderstatus)
        |JOIN (SELECT o_orderstatus, o_orderkey FROM r WHERE rmin = 1) mn
        |  USING (o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin)) { (s, dir) =>
      val ordv = array(col("o_totalprice"), col("o_orderkey").cast("double"))
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(max_by(col("o_orderkey"), ordv).as("best_order"),
          min_by(col("o_orderkey"), ordv).as("worst_order"),
          round(max(col("o_totalprice")), 2).as("max_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },

    // time-interval RANGE frame: each event's trailing-1h count/sum for
    // its user — the rolling-window feature shape (rate limiting, burst
    // features) that a ROWS frame gets wrong the moment event spacing
    // is uneven (q43's numeric RANGE covers quantities; this is the
    // calendar-interval variant over a timestamp ordering). Windows
    // partition by user — nothing global-sorts; equal-ts rows share a
    // frame by RANGE semantics, so the result is tie-deterministic
    // identical WINDOW clause — both engines implement the ANSI
    // calendar-interval RANGE frame
    Query("q113_time_range_frame", Oracle(
      """SELECT event_id, user_id, ts,
        |  count(1) OVER w AS n_1h,
        |  round(sum(value) OVER w, 6) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      t(s, dir, "events").createOrReplaceTempView("events_rf")
      // rounded because windowed double SUM associativity differs
      // between engines (the s3 precedent: DuckDB sums pairwise)
      s.sql("""
        SELECT event_id, user_id, ts,
          count(1) OVER w AS n_1h,
          round(sum(value) OVER w, 6) AS sum_1h
        FROM events_rf
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")
    },

    // null-safe equality join (<=> / ANSI IS NOT DISTINCT FROM): NULL
    // keys MATCH each other where a plain equi-join silently drops
    // every NULL-keyed row — the correct semantics when NULL is a
    // legitimate category (here: priority suppressed to NULL). Still
    // an equi-join to the planner (one hash exchange, broadcastable) —
    // NOT the non-equi BNLJ a naive `k = k OR (k IS NULL AND ...)`
    // rewrite degenerates to
    // IS NOT DISTINCT FROM is DuckDB's spelling of Spark's <=>
    Query("q112_null_safe_join", Oracle(
      """WITH lhs AS (
        |  SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS prio_n,
        |    o_totalprice
        |  FROM orders),
        |dim AS (
        |  SELECT prio_n AS dim_prio,
        |    coalesce(prio_n, '(suppressed)') AS label
        |  FROM (SELECT DISTINCT prio_n FROM lhs))
        |SELECT label, count(1) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM lhs JOIN dim ON lhs.prio_n IS NOT DISTINCT FROM dim.dim_prio
        |GROUP BY label ORDER BY label""".stripMargin)) { (s, dir) =>
      val lhs = t(s, dir, "orders")
        .select(col("o_orderkey"),
          nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio_n"),
          col("o_totalprice"))
      val dim = lhs.select(col("prio_n")).distinct()
        .select(col("prio_n").as("dim_prio"),
          coalesce(col("prio_n"), lit("(suppressed)")).as("label"))
      lhs.join(broadcast(dim), lhs("prio_n") <=> dim("dim_prio"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("label")
    },

    // PERCENTILE_DISC — the third percentile tier next to exact
    // interpolated (q40) and mergeable approx (q96): the ANSI inverse
    // distribution function returning an ACTUAL data value (smallest
    // value whose cume_dist ≥ p), which matters when the column is a
    // code/price-point where an interpolated midpoint is meaningless.
    // WITHIN GROUP syntax exercises the Spark 4 SQL surface
    // the oracle states the ANSI definition directly — smallest value
    // whose cume_dist reaches p — rather than trusting two engines'
    // quantile_disc variants to share an indexing convention
    Query("q111_percentile_disc", Oracle(
      """WITH cd AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    cume_dist() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice) AS cd
        |  FROM orders)
        |SELECT o_orderpriority,
        |  min(CASE WHEN cd >= 0.25 THEN o_totalprice END) AS p25_disc,
        |  min(CASE WHEN cd >= 0.5  THEN o_totalprice END) AS p50_disc,
        |  min(CASE WHEN cd >= 0.9  THEN o_totalprice END) AS p90_disc,
        |  count(1) AS n
        |FROM cd GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_pd")
      s.sql("""
        SELECT o_orderpriority,
          percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25_disc,
          percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS p50_disc,
          percentile_disc(0.9)  WITHIN GROUP (ORDER BY o_totalprice) AS p90_disc,
          count(1) AS n
        FROM orders_pd GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },

    // DuckDB GROUPING with multiple args == Spark grouping_id bit vector
    Query("q108_grouping_id", Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  count(1) AS n,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          grouping_id().cast("long").as("gid"))
        .orderBy(asc("gid"), asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))
    },

    // quantile_cont == Spark percentile (exact interpolated, q103
    // precedent); the clip is least/greatest on identical doubles
    Query("q107_winsorize", Oracle(
      """WITH cuts AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS p05,
        |    quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  l.l_extendedprice,
        |  round(least(greatest(l.l_extendedprice, c.p05), c.p95), 6)
        |    AS winsorized,
        |  (l.l_extendedprice < c.p05 OR l.l_extendedprice > c.p95)
        |    AS clipped
        |FROM lineitem l JOIN cuts c USING (l_returnflag)
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin)) { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice"))
      val cuts = li.groupBy("l_returnflag").agg(
        percentile(col("l_extendedprice"), lit(0.05)).as("_p05"),
        percentile(col("l_extendedprice"), lit(0.95)).as("_p95"))
      li.join(broadcast(cuts), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"),
          round(least(greatest(col("l_extendedprice"), col("_p05")),
            col("_p95")), 6).as("winsorized"),
          (col("l_extendedprice") < col("_p05") ||
            col("l_extendedprice") > col("_p95")).as("clipped"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // linear time-series interpolation: per-user daily purchase volume
    // over the user's own [first, last] day spine, gap days filled by
    // interpolating between the surrounding OBSERVED days — the
    // gap-repair rung above q83's fill-forward (carry) and q98's spine
    // (zero-fill). Per-user windows only (the spine join and both
    // IGNORE-NULLS scans key on user_id — no global order); observed
    // sums rounded to 6 BEFORE interpolating so both engines
    // interpolate from identical inputs, and the day-fraction is a
    // division of exact small ints
    // same op tree for the interpolation arithmetic (pv + (nv-pv)*frac,
    // frac an exact int division) so the doubles agree bit-for-bit
    Query("q106_interpolate", Oracle(
      """WITH obs AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 6) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |sp AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(min(d), max(d), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM obs GROUP BY user_id),
        |j AS (
        |  SELECT sp.user_id, sp.d, o.v FROM sp
        |  LEFT JOIN obs o ON o.user_id = sp.user_id AND o.d = sp.d),
        |w AS (
        |  SELECT user_id, d, v,
        |    last_value(v IGNORE NULLS) OVER bk AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
        |      OVER bk AS pd,
        |    first_value(v IGNORE NULLS) OVER fw AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
        |      OVER fw AS nd
        |  FROM j
        |  WINDOW bk AS (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  fw AS (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, d,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |    ELSE pv + (nv - pv) *
        |      (CAST(date_diff('day', pd, d) AS DOUBLE) /
        |        date_diff('day', pd, nd)) END, 6) AS value,
        |  (v IS NOT NULL) AS observed
        |FROM w ORDER BY user_id, d""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val obs = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(round(sum(col("value")), 6).as("v"))
      val spine = obs.groupBy("user_id")
        .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 day")))
            .as("d"))
      val j = spine.join(obs, Seq("user_id", "d"), "left")
      val back = Window.partitionBy("user_id").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      val fwd = Window.partitionBy("user_id").orderBy("d")
        .rowsBetween(0, Window.unboundedFollowing)
      val obsD = when(col("v").isNotNull, col("d"))
      j.withColumn("_pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("_pd", last(obsD, ignoreNulls = true).over(back))
        .withColumn("_nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("_nd", first(obsD, ignoreNulls = true).over(fwd))
        .select(col("user_id"), col("d"),
          round(when(col("v").isNotNull, col("v"))
            .otherwise(col("_pv") + (col("_nv") - col("_pv")) *
              (datediff(col("d"), col("_pd")).cast("double") /
                datediff(col("_nd"), col("_pd")))), 6).as("value"),
          col("v").isNotNull.as("observed"))
        .orderBy("user_id", "d")
    },

    // 2D Pareto frontier (skyline): urgent orders where no other urgent
    // order is both >= in price and <= in date — the multi-objective
    // "best trade-off set" without an arbitrary score weighting. The
    // Spark side is the sort-free scan (Skyline.pareto2d: per-x min,
    // range partitions + local running strict-min + model-sized
    // boundary prefix); the oracle states the dominance definition
    // directly as NOT EXISTS — O(n²), which is exactly why the engine
    // side doesn't compute it that way
    // dominance stated directly: the O(n²) NOT EXISTS the engine side
    // replaces with a partitioned scan
    Query("q105_skyline", Oracle(
      """WITH u AS (
        |  SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        |  WHERE o_orderpriority = '1-URGENT')
        |SELECT o_orderkey, o_totalprice, o_orderdate FROM u o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM u o2
        |  WHERE o2.o_totalprice >= o.o_totalprice
        |    AND o2.o_orderdate <= o.o_orderdate
        |    AND (o2.o_totalprice > o.o_totalprice
        |         OR o2.o_orderdate < o.o_orderdate))
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
      graft.operators.Skyline.pareto2d(urgent, "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
    },

    // one mergeable sketch per group computes all five cuts in a single
    // pass; the array expands to scalar columns because the comparison
    // harness can't sort array cells (the c38 flattening convention)
    Query("q96_approx_percentiles", RowsOnly) { (s, dir) =>
      val acc = 100 // rank error ≤ 1/acc = 1% — the 100 TB setting
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          percentile_approx(col("o_totalprice"),
            array(lit(0.25), lit(0.5), lit(0.75), lit(0.9), lit(0.99)),
            lit(acc)).as("_p"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"),
          element_at(col("_p"), 1).as("p25"),
          element_at(col("_p"), 2).as("p50"),
          element_at(col("_p"), 3).as("p75"),
          element_at(col("_p"), 4).as("p90"),
          element_at(col("_p"), 5).as("p99"),
          col("n"))
        .orderBy("o_orderpriority")
    },

    // Apache DataSketches HLL: per-shard sketches + a sketch-level
    // union for the global estimate — the mergeable-sketch discipline
    // at 100 TB (per-shard/per-day sketches persist; any rollup is a
    // cheap union of fixed-size sketches, never a re-scan of the data).
    // Rows-only: estimates have no DuckDB-equal value; ApproxSpec pins
    // the relative error vs exact count-distinct on the same data.
    Query("q97_hll_union", RowsOnly) { (s, dir) =>
      val lgK = 12 // 2^12 buckets — ~1.6% standard error, 4 KB sketches
      val perType = t(s, dir, "events")
        .groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("_sk"))
      val per = perType.select(col("event_type"),
        hll_sketch_estimate(col("_sk")).as("approx_users"))
      // the global tier NEVER re-reads events — it merges the per-type
      // sketches (5 rows × 4 KB), exactly the shard-rollup path
      val all = perType
        .agg(hll_sketch_estimate(hll_union_agg(col("_sk"), lit(false)))
          .as("approx_users"))
        .select(lit("ALL").as("event_type"), col("approx_users"))
      per.unionByName(all).orderBy("event_type")
    },

    // calendar gap-fill ("date spine"): generate every month between
    // the global min/max order date, left-join monthly revenue, fill
    // empty months with zeros — the reporting shape that a bare
    // GROUP BY month silently gets wrong (missing months vanish).
    // The spine derives from a 1-row broadcast aggregate + sequence()
    // — never a driver-side loop
    Query("q98_date_spine", Oracle(
      """WITH o AS (SELECT * FROM orders WHERE o_totalprice > 490000),
        |b AS (
        |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |         date_trunc('month', max(o_orderdate)) AS hi
        |  FROM o),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS month
        |  FROM b),
        |m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    round(sum(o_totalprice), 2) AS revenue, count(1) AS n_orders
        |  FROM o GROUP BY 1)
        |SELECT spine.month,
        |  coalesce(m.revenue, 0.0) AS revenue,
        |  coalesce(m.n_orders, 0) AS n_orders
        |FROM spine LEFT JOIN m USING (month) ORDER BY month""".stripMargin)) { (s, dir) =>
      // big-ticket orders only — sparse enough that some months are
      // genuinely empty, so the fill is exercised, not vacuous
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 490000)
      val bounds = o.agg(
        date_trunc("month", min(col("o_orderdate"))).as("lo"),
        date_trunc("month", max(col("o_orderdate"))).as("hi"))
      val spine = bounds.select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 month"))).as("m"))
        .select(col("m").cast("date").as("month"))
      val monthly = o
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
      spine.join(monthly, Seq("month"), "left")
        .select(col("month"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("month")
    },

    // gaps-and-islands: per-user runs of CONSECUTIVE active days. The
    // island key is datediff-from-epoch minus the per-user row_number —
    // constant within a run, and every window is PARTITIONED by user,
    // so nothing ever global-sorts: the classic streak shape that
    // scales as long as no single key's history is unbounded
    // same island arithmetic on integer day numbers — no interval math
    // to disagree on
    Query("q99_streaks", Oracle(
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |r AS (
        |  SELECT user_id, d,
        |    date_diff('day', DATE '1970-01-01', d) -
        |      row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
        |  FROM d)
        |SELECT user_id, min(d) AS streak_start, max(d) AS streak_end,
        |  count(1) AS streak_days
        |FROM r GROUP BY user_id, grp
        |ORDER BY user_id, streak_start""".stripMargin)) { (s, dir) =>
      val days = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("d")
      days
        .withColumn("_grp",
          datediff(col("d"), lit("1970-01-01").cast("date")) -
            row_number().over(w))
        .groupBy(col("user_id"), col("_grp"))
        .agg(min(col("d")).as("streak_start"),
          max(col("d")).as("streak_end"),
          count(lit(1)).as("streak_days"))
        .select("user_id", "streak_start", "streak_end", "streak_days")
        .orderBy("user_id", "streak_start")
    },

    // explode_outer: the null-PRESERVING lateral — rows whose array is
    // empty survive with a null element where plain explode silently
    // drops them (the q32 shape loses 106 of 500 docs on this filter).
    // The preserved rows are exactly what an audit query needs; null
    // ordering pinned explicitly because Spark defaults NULLS FIRST
    // where most engines default LAST
    // unnest of a [NULL] placeholder emulates the outer explode
    Query("q104_explode_outer", Oracle(
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> length(x) >= 8) AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  unnest(CASE WHEN len(ws) = 0 THEN [CAST(NULL AS VARCHAR)]
        |         ELSE ws END) AS long_word
        |FROM w
        |ORDER BY doc_id, long_word NULLS FIRST""".stripMargin)) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode_outer(expr(
            "filter(split(lower(text), '\\\\s+'), w -> length(w) >= 8)"))
            .as("long_word"))
        .orderBy(col("doc_id"), col("long_word").asc_nulls_first)
    },

    // grouped MEDIAN (exact, interpolated — Spark's median == DuckDB's
    // quantile_cont(0.5)) + MODE with an explicit tie rule. Spark's
    // built-in mode() is nondeterministic on ties, so the mode is
    // DERIVED: per-(group, value) counts ranked by (count desc, value
    // asc) — deterministic on both engines, and the count relation is
    // map-side combinable where a naive mode over raw rows is not
    // quantile_cont(0.5) is the same exact interpolated median Spark's
    // median() computes; the mode derivation mirrors the Spark ranking
    Query("q103_mode_median", Oracle(
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, count(1) AS n
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY n DESC, o_orderpriority) AS rk
        |  FROM c),
        |md AS (
        |  SELECT o_orderstatus,
        |    round(quantile_cont(o_totalprice, 0.5), 6) AS median_price
        |  FROM orders GROUP BY 1)
        |SELECT md.o_orderstatus AS o_orderstatus, md.median_price,
        |  m.mode_priority
        |FROM md JOIN m ON md.o_orderstatus = m.o_orderstatus AND m.rk = 1
        |ORDER BY md.o_orderstatus""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("_n").desc, col("o_orderpriority"))
      val modes = o.groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("_n"))
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"))
      o.groupBy(col("o_orderstatus"))
        .agg(round(median(col("o_totalprice")), 6).as("median_price"))
        .join(modes, Seq("o_orderstatus"))
        .select("o_orderstatus", "median_price", "mode_priority")
        .orderBy("o_orderstatus")
    },

    // per-key top-k via the CUSTOM WHOLE-OPERATOR tier (logical node +
    // strategy + bounded-heap partial/final SparkPlans,
    // graft.plans.TopKPerGroup): each customer's 2 highest-value
    // orders. Where q22's window idiom sorts every group completely,
    // this ships at most k rows per (group, map partition) into the
    // one hash exchange — the skew-proof shape at 100 TB
    // the bounded-heap operator must equal the classic window idiom
    Query("q102_topk_per_group", Oracle(
      """WITH r AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM r WHERE rk <= 2
        |ORDER BY o_custkey, o_orderkey""".stripMargin)) { (s, dir) =>
      graft.plans.TopKPerGroup.topKPerGroup(
          t(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          groupCols = Seq("o_custkey"),
          order = Seq(("o_totalprice", true), ("o_orderkey", false)), k = 2)
        .orderBy("o_custkey", "o_orderkey")
    },

    // windowed COUNT(DISTINCT) — Spark rejects DISTINCT aggregates over
    // windows outright, so this is THE workaround idiom: a
    // first-occurrence flag (row_number()==1 per (user, type) ordered
    // by time) summed over (a) the whole partition for the total and
    // (b) a running frame for distinct-types-so-far. Every window is
    // PARTITIONED by user — nothing global-sorts, and the flag trick
    // costs one extra in-partition sort on the SAME user_id exchange
    // the same first-occurrence derivation (DuckDB would also accept a
    // native windowed COUNT(DISTINCT) for the total, but the flag form
    // keeps both columns on one definition); BIGINT casts pin the
    // HUGEINT window sums to Spark's long
    Query("q101_window_distinct", Oracle(
      """WITH f AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    CASE WHEN row_number() OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
        |    THEN 1 ELSE 0 END AS fst
        |  FROM events)
        |SELECT event_id, user_id, ts, event_type,
        |  CAST(sum(fst) OVER (PARTITION BY user_id) AS BIGINT)
        |    AS n_types_total,
        |  CAST(sum(fst) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_types_so_far
        |FROM f ORDER BY event_id""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byFirst = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val whole = Window.partitionBy("user_id")
      val running = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .withColumn("_fst",
          when(row_number().over(byFirst) === 1, 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          sum(col("_fst")).over(whole).as("n_types_total"),
          sum(col("_fst")).over(running).as("n_types_so_far"))
        .orderBy("event_id")
    },

    // nearest-direction as-of: each purchase picks the signup closest
    // in time, earlier or later, with the equal-distance tie resolved
    // backward — completes the as-of family (q36 back, q67 forward,
    // q95 tolerance) on the same one-shuffle union-window machinery
    // global argmin over |gap| with the exact tie ladder the operator
    // implements: nearer wins; equal distance → backward; same-instant
    // rows are backward matches; backward ties take the LARGEST
    // signup_id, forward ties the smallest
    Query("q100_asof_nearest", Oracle(
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, ts, event_id AS signup_id, value AS signup_value
        |      FROM events WHERE event_type = 'signup'),
        |j AS (
        |  SELECT p.event_id, s.signup_value,
        |    row_number() OVER (PARTITION BY p.event_id ORDER BY
        |      CASE WHEN s.ts <= p.ts THEN p.ts - s.ts ELSE s.ts - p.ts END ASC,
        |      CASE WHEN s.ts <= p.ts THEN 0 ELSE 1 END ASC,
        |      CASE WHEN s.ts <= p.ts THEN -s.signup_id ELSE s.signup_id END ASC
        |    ) AS rk
        |  FROM p JOIN s ON p.user_id = s.user_id)
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
      graft.operators.AsOfJoin.asofNearest(purchases, signups,
          Seq("user_id"), "ts", "ts",
          payloadCols = Seq("signup_value"), rightTieBreak = "signup_id")
        .orderBy("event_id")
    }
  )
}
