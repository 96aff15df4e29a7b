package graft.queries

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det.{dsum, dsumSql, davg, davgSql}

/** Block A — core relational / ETL operators (SURVEY.md §2.A).
  *
  * Declarative DataFrame plans: filters/projections reach the parquet
  * scan, dim joins are broadcast, aggs keep map-side partials, AQE is on.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- q1_agg: TPC-H Q1-style wide aggregation -------------------------
  private val q1 = Q(
    (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-12-01").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${dsumSql("l_quantity")} AS sum_qty,
        ${dsumSql("l_extendedprice")} AS sum_base_price,
        ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
        ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
        ${davgSql("l_quantity")} AS avg_qty,
        ${davgSql("l_extendedprice")} AS avg_price,
        ${davgSql("l_discount")} AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  // ---- q2_filter_project: pushdown scan (TPC-H Q6 shape) ---------------
  private val q2 = Q(
    (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date") &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
          col("l_quantity") < 24)
        .agg(
          dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_rows"))
    },
    Some(s"""
      SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue,
             COUNT(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount >= CAST(0.02 AS DOUBLE) AND l_discount <= CAST(0.06 AS DOUBLE)
        AND l_quantity < CAST(24 AS DOUBLE)"""))

  // ---- q3_join_agg: customer ⋈ orders ⋈ lineitem, top revenue ----------
  private val q3 = Q(
    (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_date"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some(s"""
      SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_orderpriority,
             ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""))

  // ---- q4_broadcast_join: dim-chain broadcast --------------------------
  private val q4 = Q(
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region"))
      cust.join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("r_name", "n_name")
    },
    Some(s"""
      SELECT r_name, n_name, COUNT(*) AS n_cust, ${dsumSql("c_acctbal")} AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name"""))

  // ---- q5_window: per-customer top orders + lag ------------------------
  private val q5 = Q(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_orderkey", lag(col("o_orderkey"), 1).over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn"), col("prev_orderkey"))
        .orderBy("o_custkey", "rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn, prev_orderkey
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
               LAG(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_orderkey
        FROM orders) q
      WHERE rn <= 2
      ORDER BY o_custkey, rn"""))

  // ---- q6_topk: global order-by-limit (TakeOrderedAndProject) ----------
  private val q6 = Q(
    (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(25)
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      LIMIT 25"""))

  // ---- q7_distinct_agg -------------------------------------------------
  private val q7 = Q(
    (s, dir) => {
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status"),
        count(lit(1)).as("n_rows"))
    },
    Some("""
      SELECT COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(DISTINCT l_suppkey) AS n_supps,
             COUNT(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status,
             COUNT(*) AS n_rows
      FROM lineitem"""))

  // ---- q8_union_all ----------------------------------------------------
  private val q8 = Q(
    (s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
        .select(lit("order").as("src"), col("o_orderkey").as("id"))
      val b = t(s, dir, "lineitem").filter(col("l_quantity") >= 49.0)
        .select(lit("line").as("src"), col("l_orderkey").as("id"))
      a.unionAll(b).orderBy("src", "id")
    },
    Some("""
      SELECT * FROM (
        SELECT 'order' AS src, o_orderkey AS id FROM orders WHERE o_totalprice > CAST(300000 AS DOUBLE)
        UNION ALL
        SELECT 'line' AS src, l_orderkey AS id FROM lineitem WHERE l_quantity >= CAST(49 AS DOUBLE)
      ) u ORDER BY src, id"""))

  // ---- q9_pivot: orders priority × status ------------------------------
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val q9 = Q(
    (s, dir) => {
      val p = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", priorities)
        .count()
      val renamed = priorities.zipWithIndex.foldLeft(p) { case (df, (name, i)) =>
        df.withColumn(s"p${i + 1}", coalesce(col(s"`$name`"), lit(0L))).drop(name)
      }
      renamed.orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus,
             COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
             COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
             COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
             COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
             COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // ---- q10_rollup ------------------------------------------------------
  private val q10 = Q(
    (s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("n_cust"), col("sum_bal"))
        .orderBy("region_name", "nation_name")
    },
    Some(s"""
      SELECT COALESCE(r_name, 'ALL') AS region_name,
             COALESCE(n_name, 'ALL') AS nation_name,
             COUNT(*) AS n_cust, ${dsumSql("c_acctbal")} AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY region_name, nation_name"""))

  // ---- q11_semi_anti ---------------------------------------------------
  private val q11 = Q(
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 150000.0)
      val semi = cust.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_with"))
      val anti = cust.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_without"))
      semi.crossJoin(anti)
    },
    Some("""
      SELECT
        (SELECT COUNT(*) FROM customer WHERE EXISTS
          (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > CAST(150000 AS DOUBLE))) AS n_with,
        (SELECT COUNT(*) FROM customer WHERE NOT EXISTS
          (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > CAST(150000 AS DOUBLE))) AS n_without"""))

  // ---- q12_case_agg: conditional aggregation by year -------------------
  private val q12 = Q(
    (s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_cnt"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("low_cnt"))
        .orderBy("yr")
    },
    Some("""
      SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_cnt,
             CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_cnt
      FROM orders GROUP BY 1 ORDER BY yr"""))

  // ---- q13_scalar_funcs ------------------------------------------------
  private val q13 = Q(
    (s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type5"),
        concat(col("p_brand"), lit("|"), col("p_type")).as("brand_type"),
        graft.Det.qz(sqrt(col("p_retailprice"))).as("price_sqrt"),
        (col("p_size") % 7).as("size_mod"),
        abs(col("p_size") - 25).as("size_dist"))
        .orderBy("p_partkey")
    },
    Some("""
      SELECT p_partkey,
             UPPER(p_brand) AS brand_u,
             CAST(LENGTH(p_name) AS INTEGER) AS name_len,
             SUBSTRING(p_type, 1, 5) AS type5,
             p_brand || '|' || p_type AS brand_type,
             FLOOR(SQRT(p_retailprice) * 1e4 + 0.5) / 1e4 AS price_sqrt,
             p_size % 7 AS size_mod,
             ABS(p_size - 25) AS size_dist
      FROM part ORDER BY p_partkey"""))

  // ---- q14_join_skew: fact-fact shuffle join under AQE -----------------
  private val q14 = Q(
    (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    },
    Some(s"""
      SELECT o_orderstatus, COUNT(*) AS n_items, ${dsumSql("l_quantity")} AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // ---- q15_percentiles: exact interpolated percentiles per group -------
  private val q15 = Q(
    (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Det.qz(expr("percentile(l_extendedprice, 0.5)")).as("p50"),
          Det.qz(expr("percentile(l_extendedprice, 0.9)")).as("p90"),
          Det.qz(expr("percentile(l_quantity, 0.25)")).as("q25"))
        .orderBy("l_returnflag")
    },
    Some(s"""
      SELECT l_returnflag,
             ${Det.qzSql("quantile_cont(l_extendedprice, 0.5)")} AS p50,
             ${Det.qzSql("quantile_cont(l_extendedprice, 0.9)")} AS p90,
             ${Det.qzSql("quantile_cont(l_quantity, 0.25)")} AS q25
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- q16_set_ops: INTERSECT / EXCEPT ---------------------------------
  private val q16 = Q(
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val buyers = orders.select(col("o_custkey").as("k"))
      val bigBuyers = orders.filter(col("o_totalprice") > 200000.0)
        .select(col("o_custkey").as("k"))
      val custs = t(s, dir, "customer").select(col("c_custkey").as("k"))
      val both = custs.intersect(bigBuyers).agg(count(lit(1)).as("n_big_buyers"))
      val never = custs.except(buyers).agg(count(lit(1)).as("n_never_bought"))
      both.crossJoin(never)
    },
    Some("""
      SELECT
        (SELECT COUNT(*) FROM (
          SELECT c_custkey AS k FROM customer
          INTERSECT
          SELECT o_custkey AS k FROM orders WHERE o_totalprice > CAST(200000 AS DOUBLE)) a) AS n_big_buyers,
        (SELECT COUNT(*) FROM (
          SELECT c_custkey AS k FROM customer
          EXCEPT
          SELECT o_custkey AS k FROM orders) b) AS n_never_bought"""))

  // ---- q17_date_arith --------------------------------------------------
  private val q17 = Q(
    (s, dir) => {
      val o = t(s, dir, "orders").withColumn("d", col("o_orderdate").cast("date"))
      o.select(col("o_orderkey"),
        datediff(col("d"), lit("1970-01-01").cast("date")).as("epoch_days"),
        date_format(date_trunc("month", col("d")), "yyyy-MM-dd").as("month_start"),
        date_format(last_day(col("d")), "yyyy-MM-dd").as("month_end"),
        dayofweek(col("d")).as("dow"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS epoch_days,
             strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_start,
             strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
             CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow
      FROM orders ORDER BY o_orderkey"""))

  // ---- q18_array_agg ---------------------------------------------------
  private val q18 = Q(
    (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          concat_ws(",", array_sort(collect_set(col("l_linestatus")))).as("statuses"),
          size(collect_set(col("l_linestatus"))).as("n_statuses"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
             string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
             CAST(COUNT(DISTINCT l_linestatus) AS INTEGER) AS n_statuses
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- q19_scalar_subquery: customers above their nation's mean balance --
  // The comparison is done in exact integer-free decimal form
  // (bal·n > sum) so both engines agree at the boundary — a double mean
  // could differ in the last ulp and flip a count.
  private val q19 = Q(
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val stats = cust.groupBy(col("c_nationkey").as("k"))
        .agg(sum(col("c_acctbal").cast(Det.D)).as("s"), count(lit(1)).as("n"))
      cust.join(broadcast(stats), col("c_nationkey") === col("k"))
        .groupBy(col("c_nationkey"))
        .agg(sum(when(col("c_acctbal").cast(Det.D) * col("n") > col("s"), 1L).otherwise(0L)).as("n_above"),
          count(lit(1)).as("n_total"))
        .orderBy("c_nationkey")
    },
    Some("""
      SELECT c_nationkey,
             CAST(SUM(CASE WHEN CAST(c_acctbal AS DECIMAL(28,6)) * n > s THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
             COUNT(*) AS n_total
      FROM customer
      JOIN (SELECT c_nationkey AS k, SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS s, COUNT(*) AS n
            FROM customer GROUP BY 1) g ON c_nationkey = k
      GROUP BY c_nationkey ORDER BY c_nationkey"""))

  // ---- q20_explode: lateral word expansion with position ----------------
  private val q20 = Q(
    (s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"), posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"), min(col("pos")).as("min_pos"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    },
    Some("""
      SELECT word, COUNT(*) AS cnt, CAST(MIN(i - 1) AS INTEGER) AS min_pos
      FROM (SELECT unnest(w) AS word, generate_subscripts(w, 1) AS i
            FROM (SELECT string_split(p_name, ' ') AS w FROM part) a) b
      GROUP BY word ORDER BY cnt DESC, word LIMIT 20"""))

  // ---- q21_json_extract: typed field out of a JSON props column ---------
  private val q21 = Q(
    (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"), sum(col("k")).as("sum_k"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
             MIN(k) AS min_k, MAX(k) AS max_k, CAST(SUM(k) AS BIGINT) AS sum_k
      FROM (SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events) e
      GROUP BY event_type ORDER BY event_type"""))

  // ---- q22_regex_extract: structured fields out of freetext -------------
  private val q22 = Q(
    (s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast("int").as("brand_num"),
        regexp_extract(col("p_name"), "^(\\S+)", 1).as("first_word"),
        (length(col("p_name")) -
          length(regexp_replace(lower(col("p_name")), "[aeiou]", ""))).as("n_vowels"))
        .orderBy("p_partkey")
    },
    Some("""
      SELECT p_partkey,
             CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS INTEGER) AS brand_num,
             regexp_extract(p_name, '^(\S+)', 1) AS first_word,
             CAST(LENGTH(p_name) - LENGTH(regexp_replace(lower(p_name), '[aeiou]', '', 'g')) AS INTEGER) AS n_vowels
      FROM part ORDER BY p_partkey"""))

  // ---- q23_cube: full grouping-sets lattice with grouping_id ------------
  private val q23 = Q(
    (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("gid"))
        .orderBy("gid", "status", "priority")
    },
    Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n,
             CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY gid, status, priority"""))

  // ---- q24_window_range: RANGE-frame trailing window --------------------
  // Day-granularity integer ordering on both sides: RANGE frame
  // membership is then set-deterministic, and the decimal frame sum is
  // order-free, so any partitioning yields identical doubles.
  private val q24 = Q(
    (s, dir) => {
      val epochDay = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(epochDay)
        .rangeBetween(-30, 0)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(Det.D)).over(w).cast("double").as("trailing_30d"),
          count(lit(1)).over(w).as("n_in_window"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE) AS trailing_30d,
             COUNT(*) OVER w AS n_in_window
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey"""))

  // ---- q25_dist_window: ntile / percent_rank / cume_dist ----------------
  // The ORDER BY is made total (price, orderkey, linenumber) — ntile is
  // not tie-deterministic, and with a total order every distribution
  // function is exact on both engines.
  private val q25 = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          ntile(4).over(w).as("tile"),
          Det.qz(percent_rank().over(w), 6).as("pr"),
          Det.qz(cume_dist().over(w), 6).as("cd"))
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    },
    Some("""
      SELECT l_returnflag, l_orderkey, l_linenumber,
             CAST(ntile(4) OVER w AS INTEGER) AS tile,
             FLOOR(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pr,
             FLOOR(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cd
      FROM lineitem WHERE l_orderkey < 2000
      WINDOW w AS (PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      ORDER BY l_returnflag, l_orderkey, l_linenumber"""))

  // ---- q26_corr_stats: deterministic correlation / covariance -----------
  // Built from exact decimal component sums (Sx, Sy, Sxy, Sxx, Syy) with
  // the closing arithmetic in scalar IEEE doubles — the built-in corr()
  // is a streaming float aggregate whose result depends on partitioning,
  // so it can never hash-match a second engine.
  private val q26 = Q(
    (s, dir) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      val g = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x.cast(Det.D)).cast("double").as("sx"),
          sum(y.cast(Det.D)).cast("double").as("sy"),
          sum((x * y).cast(Det.D)).cast("double").as("sxy"),
          sum((x * x).cast(Det.D)).cast("double").as("sxx"),
          sum((y * y).cast(Det.D)).cast("double").as("syy"))
      g.select(col("l_returnflag"), col("n"),
        Det.qz((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_xy"),
        Det.qz((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 4).as("covar_pop"),
        Det.qz(sqrt(col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))), 6).as("stddev_x"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag, n,
             FLOOR((n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6 + 0.5) / 1e6 AS corr_xy,
             FLOOR((sxy - sx * sy / n) / n * 1e4 + 0.5) / 1e4 AS covar_pop,
             FLOOR(SQRT(sxx / n - (sx / n) * (sx / n)) * 1e6 + 0.5) / 1e6 AS stddev_x
      FROM (SELECT l_returnflag, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS syy
            FROM lineitem GROUP BY l_returnflag) g
      ORDER BY l_returnflag"""))

  // ---- q27_listagg: ordered string aggregation --------------------------
  // collect_list order is partitioning-dependent; array_sort makes the
  // aggregation order-free, matching string_agg(... ORDER BY) exactly
  // (ASCII names, so binary and collation order agree).
  private val q27 = Q(
    (s, dir) => {
      t(s, dir, "customer").filter(col("c_custkey") % 7 === 0)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          array_join(array_sort(collect_list(col("c_name"))), "|").as("names"))
        .orderBy("c_nationkey")
    },
    Some("""
      SELECT c_nationkey, COUNT(*) AS n,
             string_agg(c_name, '|' ORDER BY c_name) AS names
      FROM customer WHERE c_custkey % 7 = 0
      GROUP BY c_nationkey ORDER BY c_nationkey"""))

  // ---- q28_argminmax: min_by / max_by with an exact integer tiebreak ----
  // acctbal has 2 decimals and |custkey| < 2^20, so
  // ord = round(bal·100)·2^21 + (2^20 − custkey) is an exact BIGINT that
  // orders by balance then lower-custkey — arg extremes become
  // deterministic on both engines (bare min_by/max_by tie order is not).
  private val q28 = Q(
    (s, dir) => {
      val ord = (round(col("c_acctbal") * 100).cast("long") * 2097152L +
        (lit(1048576L) - col("c_custkey"))).as("ord")
      t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_name"), ord)
        .groupBy(col("c_nationkey"))
        .agg(max_by(col("c_name"), col("ord")).as("richest"),
          min_by(col("c_name"), col("ord")).as("poorest"),
          count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    },
    Some("""
      SELECT c_nationkey,
             arg_max(c_name, ord) AS richest,
             arg_min(c_name, ord) AS poorest,
             COUNT(*) AS n
      FROM (SELECT c_nationkey, c_name,
                   CAST(round(c_acctbal * 100) AS BIGINT) * 2097152 + (1048576 - c_custkey) AS ord
            FROM customer) c
      GROUP BY c_nationkey ORDER BY c_nationkey"""))

  // ---- q29_unpivot: wide → long melt (inverse of q9) --------------------
  // Spark's unpivot/melt operator; the oracle mirrors with UNPIVOT.
  // Decimal sums keep the per-measure aggregates engine-exact.
  private val q29 = Q(
    (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"), dsum(col("val")).as("total"),
          min(col("val")).as("mn"), max(col("val")).as("mx"))
        .orderBy("measure")
    },
    Some(s"""
      SELECT measure, COUNT(*) AS n, ${dsumSql("val")} AS total,
             MIN(val) AS mn, MAX(val) AS mx
      FROM (
        UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
                 FROM lineitem)
        ON l_quantity, l_discount, l_tax
        INTO NAME measure VALUE val) u
      GROUP BY measure ORDER BY measure"""))

  // ---- q30_grouped_topk: custom plan node (bounded heaps, no sort) ------
  // Runs through graft.plans.GroupedTopK — LogicalPlan + Strategy +
  // SparkPlan injected via GraftExtensions. Same answer as the window
  // shape (the oracle), but the physical plan never sorts partitions.
  private val q30 = Q(
    (s, dir) => {
      graft.operators.TopK.perKey(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")),
        keys = Seq("l_returnflag"),
        order = Seq(("l_extendedprice", false), ("l_orderkey", true), ("l_linenumber", true)),
        k = 5)
        .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
    },
    Some("""
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
      FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
            FROM lineitem) z
      WHERE rn <= 5
      ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber"""))

  // ---- k1_sketch_distinct: HLL++ approx distinct vs exact ----------------
  // Sketch outputs are engine-specific, so no SQL oracle; RegistrySpec
  // pins the relative-error bound against the exact counts.
  private val k1 = Q(
    (s, dir) => {
      t(s, dir, "lineitem").agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"),
        countDistinct(col("l_suppkey")).as("exact_supps"))
    },
    None)

  // ---- k3_sketch_union: mergeable HLL sketches (datasketches) ------------
  // The 100 TB distinct-count path: build one sketch per partition-group
  // (here: per source), persist/union them, estimate globally — no
  // re-scan of raw data to combine. RegistrySpec pins the union estimate
  // against the direct estimate and the exact count.
  private val k3 = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val perSource = d.groupBy(col("source"))
        .agg(expr("hll_sketch_agg(text)").as("sk"),
          countDistinct(col("text")).as("exact_distinct"))
      perSource.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("union_estimate"),
        sum(col("exact_distinct")).as("sum_exact"),
        count(lit(1)).as("n_sources"))
    },
    None)

  // ---- k2_sketch_quantile: approx percentile sketch vs exact -------------
  private val k2 = Q(
    (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Det.qz(expr("approx_percentile(l_extendedprice, 0.5, 1000)")).as("ap50"),
          Det.qz(expr("percentile(l_extendedprice, 0.5)")).as("p50"))
        .orderBy("l_returnflag")
    },
    None)

  // ---- q31_funnel: ordered-sequence (funnel) detection -------------------
  // view → click → purchase per user, each step's timestamp strictly
  // after the previous step's FIRST occurrence — the sequence-matching
  // analytic (MATCH_RECOGNIZE-lite) done with chained conditional-min
  // windows over ONE partitioning: three window functions, one keyed
  // exchange, no self-joins. The final rollup counts users per reached
  // depth.
  private val q31 = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      // high-value events only — thins the stream so the funnel actually
      // discriminates (every user trivially converts on the full stream)
      val ev = t(s, dir, "events").filter(col("value") > 100.0)
        .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2", min(when(col("event_type") === "click" && col("ts") > col("t1"), col("ts"))).over(w))
        .withColumn("t3", min(when(col("event_type") === "purchase" && col("ts") > col("t2"), col("ts"))).over(w))
      ev.select(col("user_id"), col("t1"), col("t2"), col("t3")).distinct()
        .select(
          (when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1).otherwise(0)).as("depth"))
        .groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
        .orderBy("depth")
    },
    Some("""
      WITH ev AS (SELECT * FROM events WHERE value > 100.0),
      s1 AS (
        SELECT user_id, event_type, ts,
               MIN(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS t1
        FROM ev),
      s2 AS (
        SELECT user_id, event_type, ts, t1,
               MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                 OVER (PARTITION BY user_id) AS t2
        FROM s1),
      s3 AS (
        SELECT user_id, t1, t2,
               MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                 OVER (PARTITION BY user_id) AS t3
        FROM s2),
      f AS (SELECT DISTINCT user_id, t1, t2, t3 FROM s3)
      SELECT CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                  WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS depth,
             COUNT(*) AS n_users
      FROM f GROUP BY 1 ORDER BY depth"""))

  // ---- q32_scd2: slowly-changing-dimension (type 2) build ----------------
  // Rebuilds a versioned dimension from an event history: per customer,
  // consecutive orders sharing o_orderpriority collapse into one validity
  // interval [valid_from, valid_to) with is_current on the open tail —
  // the standard SCD2 shape every warehouse ETL needs. One keyed
  // exchange on o_custkey: the change-detection lag, the running segment
  // sum, the (custkey, seg) aggregation (hash(custkey) already clusters
  // it), and the valid_to lead all reuse the same partitioning.
  private val q32 = Q(
    (s, dir) => {
      val wOrd = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val seg = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_orderpriority"))
        .withColumn("chg", when(lag(col("o_orderpriority"), 1).over(wOrd).isNull ||
          lag(col("o_orderpriority"), 1).over(wOrd) =!= col("o_orderpriority"), 1).otherwise(0))
        .withColumn("seg", sum(col("chg")).over(wOrd))
      val wSeg = Window.partitionBy(col("o_custkey")).orderBy(col("seg"))
      seg.groupBy(col("o_custkey"), col("seg"), col("o_orderpriority").as("priority"))
        .agg(min(col("o_orderdate")).as("valid_from"), count(lit(1)).as("n_orders"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(wSeg))
        .withColumn("is_current", col("valid_to").isNull)
        .select("o_custkey", "priority", "valid_from", "valid_to", "is_current", "n_orders")
        .orderBy("o_custkey", "valid_from")
    },
    Some("""
      WITH seg AS (
        SELECT o_custkey, o_orderdate, o_orderpriority,
               SUM(CASE WHEN prev IS NULL OR prev <> o_orderpriority THEN 1 ELSE 0 END)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS seg
        FROM (SELECT *, LAG(o_orderpriority) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
              FROM orders)),
      dim AS (
        SELECT o_custkey, seg, o_orderpriority AS priority,
               MIN(o_orderdate) AS valid_from, COUNT(*) AS n_orders
        FROM seg GROUP BY o_custkey, seg, o_orderpriority)
      SELECT o_custkey, priority, valid_from,
             LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY seg) AS valid_to,
             LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY seg) IS NULL AS is_current,
             n_orders
      FROM dim
      ORDER BY o_custkey, valid_from"""))

  // ---- q33_cdc_merge: changelog compaction (upsert/delete apply) ---------
  // Applies a CDC changelog to derive final keyed state: per user, the
  // LATEST event wins (ts, event_id as the monotone sequence tiebreak);
  // 'purchase' acts as a delete marker, everything else upserts the
  // value. This is log compaction — the MERGE INTO shape — done with one
  // keyed exchange (row_number) and a map-side filter, no join against a
  // base table.
  private val q33 = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .filter(col("event_type").isin("view", "click", "purchase"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("last_op"),
          col("ts").as("last_ts"), col("value").as("last_value"))
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id, event_type AS last_op, ts AS last_ts, value AS last_value
      FROM (SELECT *, ROW_NUMBER() OVER
              (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE event_type IN ('view', 'click', 'purchase'))
      WHERE rn = 1 AND event_type <> 'purchase'
      ORDER BY user_id"""))

  // ---- q34_retention: weekly cohort retention matrix ---------------------
  // The product-analytics cohort table: users grouped by first-active
  // week, activity counted per whole-week offset, rate = cohort share
  // still active. Shuffle plan: ONE keyed exchange on user_id (the
  // first-ts window), one (cohort, offset) aggregation with map-side
  // distinct partials, and a window over the tiny cohort matrix for the
  // offset-0 denominator — no self-joins, nothing driver-side, so the
  // shape is identical at 100 TB where `events` is the big table.
  private val q34 = Q(
    (s, dir) => {
      val wUser = Window.partitionBy(col("user_id"))
      val ev = t(s, dir, "events")
        .withColumn("first_ts", min(col("ts")).over(wUser))
      val matrix = ev.select(
        to_date(date_trunc("week", col("first_ts"))).as("cohort_week"),
        floor(datediff(to_date(col("ts")), to_date(col("first_ts"))) / 7)
          .cast("int").as("week_offset"),
        col("user_id"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val wCohort = Window.partitionBy(col("cohort_week"))
      matrix
        .withColumn("cohort_size",
          max(when(col("week_offset") === 0, col("n_users"))).over(wCohort))
        .withColumn("retention", Det.qz(
          col("n_users").cast("double") / col("cohort_size").cast("double"), 6))
        .orderBy("cohort_week", "week_offset")
    },
    Some(s"""
      WITH f AS (
        SELECT user_id, ts,
               MIN(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events),
      m AS (
        SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
               CAST(FLOOR(date_diff('day', CAST(first_ts AS DATE), CAST(ts AS DATE)) / 7.0) AS INTEGER) AS week_offset,
               user_id
        FROM f),
      g AS (
        SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS n_users
        FROM m GROUP BY 1, 2)
      SELECT cohort_week, week_offset, n_users,
             MAX(CASE WHEN week_offset = 0 THEN n_users END)
               OVER (PARTITION BY cohort_week) AS cohort_size,
             ${Det.qzSql("CAST(n_users AS DOUBLE) / CAST(MAX(CASE WHEN week_offset = 0 THEN n_users END) OVER (PARTITION BY cohort_week) AS DOUBLE)", 6)} AS retention
      FROM g ORDER BY cohort_week, week_offset"""))

  // ---- q35_gaps_islands: consecutive same-type runs per user -------------
  // The gaps-and-islands pattern: a run ("island") is a maximal streak of
  // consecutive events with the same type under the (ts, event_id) total
  // order. lag + running-sum window, both over ONE keyed exchange on
  // user_id; run stats are a keyed agg on the same key, so the whole
  // query is a single shuffle of the fact table. top_run_type uses the
  // lpad-encoded (run_len, event_type) max — the q28 trick — so the
  // tiebreak is engine-independent.
  private val q35 = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val lagType = lag(col("event_type"), 1).over(w)
      val runs = t(s, dir, "events")
        .withColumn("new_run",
          when(lagType.isNull || col("event_type") =!= lagType, 1L).otherwise(0L))
        .withColumn("run_id", sum(col("new_run"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("run_id"), col("event_type"))
        .agg(count(lit(1)).as("run_len"))
      runs.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_runs"),
          max(col("run_len")).as("max_run_len"),
          max(concat(lpad(col("run_len").cast("string"), 6, "0"),
            lit(":"), col("event_type"))).substr(lit(8), lit(64)).as("top_run_type"))
        .orderBy("user_id")
    },
    Some("""
      WITH g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR event_type <> lag(event_type) OVER w THEN 1 ELSE 0 END AS new_run
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      r AS (
        SELECT user_id, event_type,
               SUM(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS run_id
        FROM g),
      runs AS (
        SELECT user_id, run_id, event_type, COUNT(*) AS run_len
        FROM r GROUP BY 1, 2, 3)
      SELECT user_id, COUNT(*) AS n_runs, MAX(run_len) AS max_run_len,
             substr(MAX(concat(lpad(CAST(run_len AS VARCHAR), 6, '0'), ':', event_type)), 8) AS top_run_type
      FROM runs GROUP BY user_id ORDER BY user_id"""))

  // ---- k4_theta_setops: KMV/theta sketch set algebra ---------------------
  // Per-event-type KMV sketches of the user set, then PAIRWISE overlap
  // estimates (union / intersection / jaccard) computed purely from the
  // sketches — the shape that answers "how much does corpus A overlap
  // corpus B" over 100 TB without ever joining raw data. Exact
  // per-type distinct ships alongside; RegistrySpec pins the estimator
  // error bounds (KMV k=256 ⇒ ~6% RSE) and the exact-below-k fast path.
  private val k4 = Q(
    (s, dir) => {
      import graft.functions.Sketches._
      val K = 256
      // FULL SQL oracle since r11: portable md5-derived hash (the d3/d13
      // oracle-tax re-key; library path keeps hash63/xxhash64), shifted
      // to 63-bit scale (<<3) so the estimators' 2^63 normalization — and
      // the Round3Spec accuracy bounds — hold unchanged. The KMV sketch
      // is a pure function of the distinct hash set, so DuckDB replays
      // retained sets, thetas, and every estimator with list functions.
      val ph = shiftleft(graft.functions.Text.md5Long(col("user_id").cast("string")), 3)
      val sk = t(s, dir, "events").groupBy(col("event_type"))
        .agg(thetaSketch(ph, K).as("sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"),
        col("exact_users").as("exact_a"))
      val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"),
        col("exact_users").as("exact_b"))
      a.join(b, col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"), col("exact_a"), col("exact_b"),
          Det.qz(distinctEstimate(col("ska"), K)).as("est_a"),
          Det.qz(unionEstimate(col("ska"), col("skb"), K)).as("est_union"),
          Det.qz(intersectEstimate(col("ska"), col("skb"), K)).as("est_intersect"),
          Det.qz(jaccardEstimate(col("ska"), col("skb"), K), 6).as("est_jaccard"))
        .orderBy("type_a", "type_b")
    },
    Some(s"""
      WITH hh AS (
        SELECT DISTINCT event_type,
               ${graft.functions.Text.md5LongSql("CAST(user_id AS VARCHAR)")} * 8 AS h
        FROM events),
      r AS (
        SELECT event_type, list_sort(list(h))[1:256] AS l
        FROM hh GROUP BY event_type),
      ex AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
        FROM events GROUP BY event_type),
      p AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.l AS la, b.l AS lb,
               ea.exact_users AS exact_a, eb.exact_users AS exact_b
        FROM r a JOIN r b ON a.event_type < b.event_type
        JOIN ex ea ON ea.event_type = a.event_type
        JOIN ex eb ON eb.event_type = b.event_type),
      calc AS (
        SELECT type_a, type_b, exact_a, exact_b, la, lb,
          CASE WHEN len(la) < 256 THEN CAST(len(la) AS DOUBLE)
               ELSE 255.0 * 9.223372036854775808e18 / CAST(la[256] AS DOUBLE) END AS est_a_raw,
          list_sort(list_distinct(list_concat(la, lb)))[1:256] AS lu,
          LEAST(
            CASE WHEN len(la) < 256 THEN 9.223372036854775808e18 ELSE CAST(la[256] AS DOUBLE) END,
            CASE WHEN len(lb) < 256 THEN 9.223372036854775808e18 ELSE CAST(lb[256] AS DOUBLE) END) AS thc
        FROM p),
      calc2 AS (
        SELECT type_a, type_b, exact_a, exact_b, est_a_raw,
          CASE WHEN len(lu) < 256 THEN CAST(len(lu) AS DOUBLE)
               ELSE 255.0 * 9.223372036854775808e18 / CAST(lu[256] AS DOUBLE) END AS est_u_raw,
          CAST(len(list_filter(list_intersect(la, lb),
                 x -> CAST(x AS DOUBLE) < thc)) AS DOUBLE)
            * 9.223372036854775808e18 / thc AS est_i_raw
        FROM calc)
      SELECT type_a, type_b, exact_a, exact_b,
             ${Det.qzSql("est_a_raw")} AS est_a,
             ${Det.qzSql("est_u_raw")} AS est_union,
             ${Det.qzSql("est_i_raw")} AS est_intersect,
             ${Det.qzSql("CASE WHEN est_u_raw = 0 THEN 0.0 ELSE est_i_raw / est_u_raw END", 6)} AS est_jaccard
      FROM calc2 ORDER BY type_a, type_b"""))

  // ---- k5_cms_freq: Count-Min Sketch token frequencies -------------------
  // The heavy-hitter frequency path at 100 TB: per-language CMS sketches
  // of the token stream built in ONE keyed aggregation (linear sketch ⇒
  // map-side partials merge by elementwise add), then point-queried for
  // probe tokens purely from the sketch arrays — alongside the exact
  // counts so the output exhibits the CMS guarantee (est ≥ exact;
  // Round5Spec pins the εN upper bound too). Raw tokens are never
  // shuffled twice and the sketch per group is depth·width·8 bytes
  // regardless of corpus size.
  private val k5d = 4
  private val k5w = 512
  private val k5probes = Seq("table", "query", "spark", "data", "the")
  private val k5 = Q(
    (s, dir) => {
      import graft.functions.Sketches._
      // FULL SQL oracle since r11 (same portable-hash re-key as k4/k7):
      // the CMS cell address ((h%P)·A_i+B_i)%P%w is overflow-free BIGINT
      // arithmetic by design (CountMinSketchAgg.P scaladoc), so DuckDB
      // rebuilds each addressed cell's count directly from the token
      // stream with the same literal A_i/B_i and takes the same min.
      def ph(c: org.apache.spark.sql.Column) =
        shiftleft(graft.functions.Text.md5Long(c), 3)
      val tok = graft.Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("lang"), explode(split(trim(lower(col("text"))), "\\s+")).as("tk"))
        .filter(col("tk") =!= "")
      val sk = tok.groupBy(col("lang"))
        .agg(cms(ph(col("tk")), k5d, k5w).as("sk"), count(lit(1)).as("n_tokens"))
      val exact = tok.filter(col("tk").isin(k5probes: _*))
        .groupBy(col("lang").as("elang"), col("tk").as("etk"))
        .agg(count(lit(1)).as("exact_cnt"))
      val probes = explode(array(k5probes.map(lit(_)): _*)).as("token")
      sk.select(col("lang"), col("n_tokens"), col("sk"), probes)
        .join(exact, col("lang") === col("elang") && col("token") === col("etk"), "left")
        .select(col("lang"), col("token"), col("n_tokens"),
          coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"),
          cmsEstimate(col("sk"), ph(col("token")), k5d, k5w).as("est_cnt"))
        .withColumn("no_undercount",
          col("est_cnt") >= col("exact_cnt"))
        .orderBy("lang", "token")
    },
    Some {
      import graft.plans.CountMinSketchAgg.{A, B, P}
      val abRows = (0 until k5d)
        .map(i => s"($i, ${A(i)}, ${B(i)})").mkString(", ")
      val probeRows = k5probes.map(p => s"('$p')").mkString(", ")
      val hSql = graft.functions.Text.md5LongSql("tk") + " * 8"
      val hpSql = graft.functions.Text.md5LongSql("token") + " * 8"
      s"""
      WITH ab(i, a, b) AS (VALUES $abRows),
      pr(token) AS (VALUES $probeRows),
      tok AS (
        SELECT lang, tk FROM (
          SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tk
          FROM documents) z WHERE tk <> ''),
      lt AS (SELECT lang, COUNT(*) AS n_tokens FROM tok GROUP BY lang),
      cells AS (
        SELECT lang, i, (((($hSql % $P) * a + b) % $P) % $k5w) AS cell,
               COUNT(*) AS cnt
        FROM tok CROSS JOIN ab GROUP BY 1, 2, 3),
      pc AS (
        SELECT token, i, (((($hpSql % $P) * a + b) % $P) % $k5w) AS cell
        FROM pr CROSS JOIN ab),
      est AS (
        SELECT lt.lang, pc.token, MIN(COALESCE(c.cnt, 0)) AS est_cnt
        FROM lt CROSS JOIN pc
        LEFT JOIN cells c ON c.lang = lt.lang AND c.i = pc.i AND c.cell = pc.cell
        GROUP BY 1, 2),
      exact AS (
        SELECT lang, tk AS token, COUNT(*) AS exact_cnt
        FROM tok WHERE tk IN (SELECT token FROM pr) GROUP BY 1, 2)
      SELECT e.lang, e.token, lt.n_tokens,
             COALESCE(x.exact_cnt, 0) AS exact_cnt,
             e.est_cnt,
             (e.est_cnt >= COALESCE(x.exact_cnt, 0)) AS no_undercount
      FROM est e
      JOIN lt ON lt.lang = e.lang
      LEFT JOIN exact x ON x.lang = e.lang AND x.token = e.token
      ORDER BY e.lang, e.token"""
    })

  // ---- k6_heavy_hitters: Misra-Gries dominant tokens per source ----------
  // "Which items dominate each group" without pre-declared candidates:
  // per-source Misra-Gries sketches of the token stream (ONE keyed
  // exchange, k-entry buffers merge map-side), top-5 exploded with the
  // sketch's lower/upper count bounds. Round5Spec pins the coverage and
  // undercount guarantees; deterministic output (sorted by -cnt, item).
  private val k6 = Q(
    (s, dir) => {
      import graft.functions.Sketches._
      val tok = graft.Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("source"), explode(split(trim(lower(col("text"))), "\\s+")).as("tk"))
        .filter(col("tk") =!= "")
      tok.groupBy(col("source"))
        .agg(heavyHitters(col("tk"), 32).as("hh"), count(lit(1)).as("n_tokens"))
        .select(col("source"), col("n_tokens"),
          posexplode(slice(col("hh"), 1, 5)))
        .select(col("source"), col("n_tokens"), (col("pos") + 1).as("rank"),
          col("col.item").as("token"), col("col.cnt").as("cnt_lower"),
          (col("col.cnt") + floor(col("n_tokens") / 33).cast("long")).as("cnt_upper"))
        .orderBy("source", "rank")
    },
    None)

  // ---- k7_sketch_quantile: mergeable bottom-k quantile sketches ----------
  // The fourth sketch corner: per-(type, day) quantile sketches — the
  // granularity a warehouse persists — UNIONED to per-type quantiles by
  // re-aggregating retained (hash, value) pairs, never re-reading raw
  // rows (the k3 re-agg idiom; exact because the global bottom-k is a
  // subset of the per-group bottom-ks). The output self-audits: each
  // estimate is joined back against the raw stream to report its TRUE
  // CDF position, which Round10Spec bounds around the target quantile.
  // FULL SQL oracle since r11: the registry row re-keys on the portable
  // md5-derived row hash (the d3/d13 oracle-tax pattern — the library
  // path keeps hash63/xxhash64), and the r11 collision rule (min-value
  // tiebreak, order-free) makes the sketch a pure FUNCTION of the row
  // set — so DuckDB replays the whole thing: per-group min-value dedup
  // on the hash, bottom-256 by hash, re-agg union, ceil-rank estimates.
  private val k7 = Q(
    (s, dir) => {
      import graft.functions.Sketches._
      val e = t(s, dir, "events")
      val ph = graft.functions.Text.md5Long(col("event_id").cast("string"))
      val daily = e
        .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(quantileSketch(ph, col("value"), 256).as("sk"))
      val perType = daily
        .select(col("event_type"), col("sk.hs").as("h0"), col("sk.vs").as("v0"))
        .select(col("event_type"),
          explode(arrays_zip(col("h0").as("h"), col("v0").as("v"))).as("p"))
        .select(col("event_type"), col("p.h").as("h"), col("p.v").as("v"))
        .groupBy(col("event_type"))
        .agg(quantileSketch(col("h"), col("v"), 256).as("sk"))
      val est = perType.select(col("event_type"),
        size(col("sk.hs")).as("n_sample"),
        sketchQuantile(col("sk"), 0.5).as("est_p50"),
        sketchQuantile(col("sk"), 0.9).as("est_p90"))
      e.join(broadcast(est), "event_type")
        .groupBy(col("event_type"), col("n_sample"),
          col("est_p50"), col("est_p90"))
        .agg(
          Det.qz(sum(when(col("value") <= col("est_p50"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("rank_p50"),
          Det.qz(sum(when(col("value") <= col("est_p90"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("rank_p90"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH h AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               ${graft.functions.Text.md5LongSql("CAST(event_id AS VARCHAR)")} AS h,
               CAST(value AS DOUBLE) AS v
        FROM events),
      dd AS (SELECT event_type, day, h, MIN(v) AS v FROM h GROUP BY 1, 2, 3),
      daily AS (
        SELECT event_type, day, h, v FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
          FROM dd) z WHERE rn <= 256),
      pt AS (SELECT event_type, h, MIN(v) AS v FROM daily GROUP BY 1, 2),
      kept AS (
        SELECT event_type, h, v FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM pt) z WHERE rn <= 256),
      vs AS (
        SELECT event_type, v,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS vr,
               COUNT(*) OVER (PARTITION BY event_type) AS ns
        FROM kept),
      est AS (
        SELECT event_type, CAST(MAX(ns) AS INTEGER) AS n_sample,
               MAX(CASE WHEN vr = LEAST(ns, GREATEST(1, CAST(CEIL(0.5 * ns) AS BIGINT))) THEN v END) AS est_p50,
               MAX(CASE WHEN vr = LEAST(ns, GREATEST(1, CAST(CEIL(0.9 * ns) AS BIGINT))) THEN v END) AS est_p90
        FROM vs GROUP BY event_type)
      SELECT e.event_type, est.n_sample, est.est_p50, est.est_p90,
             ${Det.qzSql("CAST(SUM(CASE WHEN e.value <= est.est_p50 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS rank_p50,
             ${Det.qzSql("CAST(SUM(CASE WHEN e.value <= est.est_p90 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS rank_p90
      FROM events e JOIN est ON e.event_type = est.event_type
      GROUP BY 1, 2, 3, 4
      ORDER BY e.event_type"""))

  // ---- q38_running_distinct: COUNT(DISTINCT) over a running window -------
  // Spark (correctly) refuses DISTINCT aggregates over windows; the
  // scalable form marks each key's FIRST occurrence with one window and
  // running-sums the flags with another — both windows share ONE keyed
  // exchange on user_id because the first-occurrence rank partitions by
  // (user_id, event_type), a superset key. The oracle replays the same
  // two-window form.
  private val q38 = Q(
    (s, dir) => {
      val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"), col("event_type"),
          sum(col("first_seen")).over(wRun).as("distinct_types_so_far"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, event_type,
             CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_types_so_far
      FROM (
        SELECT event_id, ts, user_id, event_type,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                            ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS first_seen
        FROM events) f
      ORDER BY event_id"""))

  // ---- q39_bag_setops: INTERSECT ALL / EXCEPT ALL ------------------------
  // The multiset complements of q16's distinct set ops: bag semantics
  // keep duplicate cardinality (a key appearing 3× on one side and 2×
  // on the other intersects 2×, excepts 1×). Spark's
  // intersectAll/exceptAll plan as aggregated joins on count; the
  // summary keeps the output bounded.
  private val q39 = Q(
    (s, dir) => {
      val a = t(s, dir, "lineitem").select((col("l_orderkey") % 1000).as("k"))
      val b = t(s, dir, "orders").select((col("o_orderkey") % 1000).as("k"))
      val inter = a.intersectAll(b).groupBy().agg(
        count(lit(1)).as("inter_all_rows"), countDistinct(col("k")).as("inter_all_keys"))
      val except = a.exceptAll(b).groupBy().agg(
        count(lit(1)).as("except_all_rows"), countDistinct(col("k")).as("except_all_keys"))
      inter.crossJoin(except)
    },
    Some("""
      WITH a AS (SELECT l_orderkey % 1000 AS k FROM lineitem),
      b AS (SELECT o_orderkey % 1000 AS k FROM orders),
      i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
      x AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b),
      si AS (SELECT COUNT(*) AS inter_all_rows, COUNT(DISTINCT k) AS inter_all_keys FROM i),
      sx AS (SELECT COUNT(*) AS except_all_rows, COUNT(DISTINCT k) AS except_all_keys FROM x)
      SELECT inter_all_rows, inter_all_keys, except_all_rows, except_all_keys
      FROM si CROSS JOIN sx"""))

  // ---- q40_money_exact: exact decimal money arithmetic -------------------
  // The accounting contract floats cannot give: prices fixed to
  // DECIMAL(18,2) at ingest, summed exactly (order-free, no
  // accumulation drift), net-of-discount in decimal multiply, emitted
  // as STRINGS so the gate compares exact digits — alongside the
  // drifting double sum quantized for reference. One keyed exchange
  // with map-side decimal partials.
  private val q40 = Q(
    (s, dir) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val net = (price * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(28,4)")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(price).cast("decimal(38,2)").cast("string").as("gross_exact"),
          sum(net).cast("decimal(38,4)").cast("string").as("net_exact"),
          Det.qz(sum(price).cast("double") / count(lit(1)), 2).as("avg_price"))
        .orderBy("l_returnflag")
    },
    Some(s"""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS gross_exact,
             CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DECIMAL(38,4)) AS VARCHAR) AS net_exact,
             ${Det.qzSql("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)", 2)} AS avg_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- q41_grouping_sets: explicit (non-lattice) grouping sets -----------
  // The shapes rollup/cube can't express: a hand-picked set list —
  // (status, priority), (status), (priority), () — where the lattice
  // operators would force the full hierarchy or power set. One Expand +
  // one keyed aggregation; grouping_id disambiguates which set each
  // output row came from (NULL group values vs real NULLs).
  private val q41 = Q(
    (s, dir) => {
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping_id().as("gid"),
          Det.qz(sum(col("o_totalprice").cast(Det.D)).cast("double"), 2).as("sum_price"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    Some(s"""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
             ${Det.qzSql("CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)", 2)} AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderstatus), (o_orderpriority), ())
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  // ---- q42_null_semantics: the NULL-comparison catalog -------------------
  // Where engines classically diverge: null-safe equality (<=> / IS NOT
  // DISTINCT FROM), IS DISTINCT FROM, NULLIF collapse, and COALESCE
  // fallback — exercised over two deterministically-nulled variants of
  // the value column and aggregated per type, so any three-valued-logic
  // drift shows up as a count mismatch.
  private val q42 = Q(
    (s, dir) => {
      val x = when(col("event_type") =!= "view", col("value"))
      val y = when(col("event_id") % 3 =!= 0, col("value"))
      t(s, dir, "events")
        .select(col("event_type"), x.as("x"), y.as("y"), col("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("x").isNull && col("y").isNull, 1L).otherwise(0L)).as("n_both_null"),
          sum(when(col("x") <=> col("y"), 1L).otherwise(0L)).as("n_nullsafe_eq"),
          sum(when(!(col("x") <=> col("y")), 1L).otherwise(0L)).as("n_distinct_from"),
          sum(when(coalesce(col("x"), col("y"), lit(-1.0)) === -1.0, 1L).otherwise(0L))
            .as("n_total_fallback"),
          sum(when(nullif(col("x"), col("y")).isNull, 1L).otherwise(0L)).as("n_nullif_null"))
        .orderBy("event_type")
    },
    Some("""
      WITH v AS (
        SELECT event_type,
               CASE WHEN event_type <> 'view' THEN value END AS x,
               CASE WHEN event_id % 3 <> 0 THEN value END AS y
        FROM events)
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CASE WHEN x IS NULL AND y IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both_null,
             CAST(SUM(CASE WHEN x IS NOT DISTINCT FROM y THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
             CAST(SUM(CASE WHEN x IS DISTINCT FROM y THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct_from,
             CAST(SUM(CASE WHEN COALESCE(x, y, -1.0) = -1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_total_fallback,
             CAST(SUM(CASE WHEN NULLIF(x, y) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullif_null
      FROM v GROUP BY event_type ORDER BY event_type"""))

  // ---- q36_fill_down: last-non-null carry-forward ------------------------
  // The "fill down" shape (LAST_VALUE ... IGNORE NULLS): values are
  // deterministically nulled (view events report no value), then each
  // row carries the latest preceding non-null per user under the total
  // order (ts, event_id). One keyed exchange; the window sort is
  // per-partition. At 100 TB this is the standard sensor/telemetry
  // forward-fill — same plan as s5's join-free as-of carry.
  private val q36 = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("v", when(col("event_type") =!= "view", col("value")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          last(col("v"), ignoreNulls = true).over(w).as("filled"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, event_type,
             LAST_VALUE(CASE WHEN event_type <> 'view' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS filled
      FROM events ORDER BY event_id"""))

  // ---- q37_mode_bits: deterministic mode + bitwise aggregates ------------
  // Mode with an exact tiebreak (smallest user_id among the most
  // frequent) — NOT the built-in `mode`, whose tie choice is
  // engine-dependent — plus the bitwise aggregate family (BIT_AND /
  // BIT_OR / BIT_XOR) over the per-type user sets. Counting is one keyed
  // exchange with map-side partials; the mode cut is a broadcast-sized
  // per-type max join back onto the counts.
  private val q37 = Q(
    (s, dir) => {
      val e = t(s, dir, "events")
      val cnt = e.groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("cnt"))
      val top = cnt.groupBy(col("event_type").as("et")).agg(max(col("cnt")).as("top_cnt"))
      val mode = cnt.join(broadcast(top),
          col("event_type") === col("et") && col("cnt") === col("top_cnt"))
        .groupBy(col("event_type"))
        .agg(min(col("user_id")).as("mode_user"), max(col("cnt")).as("mode_cnt"))
      val bits = e.groupBy(col("event_type"))
        .agg(bit_and(col("user_id")).as("users_bit_and"),
          bit_or(col("user_id")).as("users_bit_or"),
          bit_xor(col("user_id")).as("users_bit_xor"),
          count(lit(1)).as("n_events"))
      bits.join(mode, "event_type")
        .select(col("event_type"), col("n_events"), col("mode_user"), col("mode_cnt"),
          col("users_bit_and"), col("users_bit_or"), col("users_bit_xor"))
        .orderBy("event_type")
    },
    Some("""
      WITH cnt AS (
        SELECT event_type, user_id, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      top AS (SELECT event_type, MAX(cnt) AS top_cnt FROM cnt GROUP BY 1),
      mode AS (
        SELECT c.event_type, MIN(c.user_id) AS mode_user, MAX(c.cnt) AS mode_cnt
        FROM cnt c JOIN top t ON c.event_type = t.event_type AND c.cnt = t.top_cnt
        GROUP BY c.event_type),
      bits AS (
        SELECT event_type,
               BIT_AND(user_id) AS users_bit_and,
               BIT_OR(user_id) AS users_bit_or,
               BIT_XOR(user_id) AS users_bit_xor,
               COUNT(*) AS n_events
        FROM events GROUP BY 1)
      SELECT b.event_type, n_events, mode_user, mode_cnt,
             users_bit_and, users_bit_or, users_bit_xor
      FROM bits b JOIN mode m ON b.event_type = m.event_type
      ORDER BY b.event_type"""))

  // ---- q43_bucketed_join: fact-fact join over bucketed tables ----------
  // The co-located join [[graft.operators.Sink.writeBucketed]] exists
  // for, as a registry row: lineitem and orders bucketed 8-ways on the
  // orderkey, then joined and aggregated ON that key. Both scans come
  // out hash-partitioned by bucket, so the plan needs ZERO exchanges —
  // no join shuffle (both sides co-located), no aggregation shuffle
  // (partitioning by orderkey already clusters the (orderkey, priority)
  // group keys), and the final top-k is a TakeOrdered. At 100 TB this
  // is the difference between re-shuffling two fact tables on every
  // query and paying the bucketing shuffle once at write time — the
  // standard warehouse layout for a repeatedly-joined key.
  // PlanAuditSpec pins the zero-Exchange shape. The merge hint keeps
  // the join a sort-merge at every sf (a broadcast would also skip the
  // exchange, but only while one side stays small — the bucketed SMJ is
  // the shape that survives 100×). Tables stage once per (sf dir,
  // process), in the application's scratch dir ([[graft.Tables.scratch]]).
  private def q43Table(s: SparkSession, dir: String, src: String, key: String): DataFrame = {
    val tbl = s"graft_q43_${src}_${graft.Tables.dirKey(dir)}"
    if (!s.catalog.tableExists(tbl))
      graft.operators.Sink.writeBucketed(t(s, dir, src), tbl,
        new java.io.File(graft.Tables.scratch(s), tbl).toString, "parquet", key, 8)
    s.table(tbl)
  }

  private val q43 = Q(
    (s, dir) => {
      val li = q43Table(s, dir, "lineitem", "l_orderkey")
      val ord = q43Table(s, dir, "orders", "o_orderkey")
      li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(20)
    },
    Some(s"""
      SELECT l_orderkey, o_orderpriority,
             ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
             COUNT(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_orderkey, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 20"""))

  val entries: Seq[(String, Q)] = Seq(
    "q1_agg" -> q1,
    "q2_filter_project" -> q2,
    "q3_join_agg" -> q3,
    "q4_broadcast_join" -> q4,
    "q5_window" -> q5,
    "q6_topk" -> q6,
    "q7_distinct_agg" -> q7,
    "q8_union_all" -> q8,
    "q9_pivot" -> q9,
    "q10_rollup" -> q10,
    "q11_semi_anti" -> q11,
    "q12_case_agg" -> q12,
    "q13_scalar_funcs" -> q13,
    "q14_join_skew" -> q14,
    "q15_percentiles" -> q15,
    "q16_set_ops" -> q16,
    "q17_date_arith" -> q17,
    "q18_array_agg" -> q18,
    "q19_scalar_subquery" -> q19,
    "q20_explode" -> q20,
    "q21_json_extract" -> q21,
    "q22_regex_extract" -> q22,
    "q23_cube" -> q23,
    "q24_window_range" -> q24,
    "q25_dist_window" -> q25,
    "q26_corr_stats" -> q26,
    "q27_listagg" -> q27,
    "q28_argminmax" -> q28,
    "q29_unpivot" -> q29,
    "q30_grouped_topk" -> q30,
    "q31_funnel" -> q31,
    "q32_scd2" -> q32,
    "q33_cdc_merge" -> q33,
    "q34_retention" -> q34,
    "q35_gaps_islands" -> q35,
    "q36_fill_down" -> q36,
    "q37_mode_bits" -> q37,
    "q38_running_distinct" -> q38,
    "q39_bag_setops" -> q39,
    "q40_money_exact" -> q40,
    "q41_grouping_sets" -> q41,
    "q42_null_semantics" -> q42,
    "q43_bucketed_join" -> q43,
    "k1_sketch_distinct" -> k1,
    "k2_sketch_quantile" -> k2,
    "k3_sketch_union" -> k3,
    "k4_theta_setops" -> k4,
    "k5_cms_freq" -> k5,
    "k6_heavy_hitters" -> k6,
    "k7_sketch_quantile" -> k7)
}
