package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Query.t

/** Layer B continuation #2: JSON struct round-trips, date arithmetic,
  * cast semantics, map functions, approximate distinct, vector-level
  * exact dedup. */
object Relational3 {
  val declared: Seq[Query] = Seq(

    // from_json with explicit schema → struct field access + to_json
    Query("q49_json_struct", Oracle(
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INTEGER) AS k,
        |  json_object('t', event_type, 'u', user_id) AS j
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin)) { (s, dir) =>
      val schema = StructType(Seq(StructField("k", IntegerType)))
      t(s, dir, "events")
        .filter(col("event_id") < 500)
        .select(
          col("event_id"),
          from_json(col("props"), schema).getField("k").as("k"),
          to_json(struct(col("event_type").as("t"), col("user_id").as("u"))).as("j"))
        .orderBy("event_id")
    },

    // date arithmetic: add_months, last_day, quarter, day-of-week family
    Query("q50_date_arith", Oracle(
      """SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  last_day(o_orderdate) AS month_end,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(weekofyear(o_orderdate) AS INTEGER) AS woy
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 300)
        .select(
          col("o_orderkey"),
          add_months(col("o_orderdate").cast("date"), 2).as("plus2m"),
          last_day(col("o_orderdate").cast("date")).as("month_end"),
          quarter(col("o_orderdate")).as("q"),
          dayofweek(col("o_orderdate")).as("dow"),
          weekofyear(col("o_orderdate")).as("woy"))
        .orderBy("o_orderkey")
    },

    // cast semantics: double→int truncation, int→string, string→date,
    // double→decimal rounding
    Query("q51_casts", Oracle(
      """SELECT p_partkey,
        |  CAST(trunc(p_retailprice) AS INTEGER) AS price_int,
        |  CAST(p_size AS VARCHAR) AS size_str,
        |  CAST('1997-0' || CAST((p_partkey % 9) + 1 AS VARCHAR) || '-15' AS DATE) AS derived_date,
        |  CAST(p_retailprice AS DECIMAL(12,1)) AS price_dec
        |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") <= 200)
        .select(
          col("p_partkey"),
          col("p_retailprice").cast("int").as("price_int"),
          col("p_size").cast("string").as("size_str"),
          concat(lit("1997-0"), (pmod(col("p_partkey"), lit(9)) + 1).cast("string"), lit("-15"))
            .cast("date").as("derived_date"),
          col("p_retailprice").cast("decimal(12,1)").as("price_dec"))
        .orderBy("p_partkey")
    },

    // map construction and access
    Query("q52_maps", Oracle(
      """SELECT n_nationkey,
        |  n_name AS name,
        |  'name,region' AS ks,
        |  CAST(json_object('name', n_name, 'region', CAST(n_regionkey AS VARCHAR)) AS VARCHAR) AS m_json,
        |  CAST(2 AS INTEGER) AS m_size
        |FROM nation ORDER BY n_nationkey""".stripMargin)) { (s, dir) =>
      t(s, dir, "nation")
        .select(
          col("n_nationkey"),
          map(lit("name"), col("n_name"), lit("region"), col("n_regionkey").cast("string"))
            .as("m"))
        .select(
          col("n_nationkey"),
          col("m")("name").as("name"),
          // complex outputs projected through scalars so the DuckDB oracle
          // harness can sort/hash them (pandas cannot sort ndarray columns)
          array_join(map_keys(col("m")), ",").as("ks"),
          to_json(col("m")).as("m_json"),
          size(col("m")).as("m_size"))
        .orderBy("n_nationkey")
    },

    // approximate distinct (HLL++) — rows-only: sketch estimates have no
    // DuckDB-equal value; accuracy asserted in ApproxSpec vs exact
    Query("q53_approx_distinct", RowsOnly) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
        .orderBy("l_returnflag")
    },

    // exact dedup over an embedding column (vector-level): group by the
    // full vector, keep min id — the multimodal/embedding analog of c1
    Query("q54_vector_dedup", Oracle(
      """SELECT min(vec_id) AS vec_id, count(1) AS n_copies
        |FROM embeddings GROUP BY embedding ORDER BY vec_id""".stripMargin)) { (s, dir) =>
      t(s, dir, "embeddings")
        .groupBy("embedding")
        .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("n_copies"))
        .select("vec_id", "n_copies")
        .orderBy("vec_id")
    },

    // greatest/least + arithmetic edge semantics
    Query("q55_greatest_least", Oracle(
      """SELECT l_orderkey, l_linenumber,
        |  greatest(l_quantity, l_discount * 100) AS g,
        |  least(l_tax, l_discount) AS l,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
        |FROM lineitem WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber, charged, g, l""".stripMargin)) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          greatest(col("l_quantity"), col("l_discount") * 100).as("g"),
          least(col("l_tax"), col("l_discount")).as("l"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .as("charged"))
        // duplicate (orderkey, linenumber) rows exist — total order via
        // the computed columns so the row-ordered compare is stable
        .orderBy("l_orderkey", "l_linenumber", "charged", "g", "l")
    }
  )
}
