package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Sources.table
import graft.ops.{Exprs, Relational, Windows}

/**
 * Core relational inventory (SURVEY.md §2.1-2.8) expressed on the
 * TPC-H-ish harness tables, each with a DuckDB oracle.
 *
 * Determinism conventions shared by every query here:
 *  - every output carries an ORDER BY over a unique key (both sides);
 *  - money sums go through DECIMAL so the result is independent of
 *    partial-aggregation order (then cast back to DOUBLE to match the
 *    oracle's type);
 *  - doubles that accumulate fp error (avg, weighted sums) are rounded
 *    to 4 decimals on both sides;
 *  - DuckDB `dayofweek` is Sunday=0, Spark's Sunday=1 → the oracle uses
 *    `dayofweek(x)+1`.
 */
object CoreQueries {

  private val lineitem = (s: SparkSession, d: String) => table(s, d, "lineitem")
  private val orders = (s: SparkSession, d: String) => table(s, d, "orders")
  private val customer = (s: SparkSession, d: String) => table(s, d, "customer")
  private val supplier = (s: SparkSession, d: String) => table(s, d, "supplier")
  private val nation = (s: SparkSession, d: String) => table(s, d, "nation")
  private val region = (s: SparkSession, d: String) => table(s, d, "region")
  private val part = (s: SparkSession, d: String) => table(s, d, "part")
  private val events = (s: SparkSession, d: String) => table(s, d, "events")

  /** Exact (order-independent) money sum: route through DECIMAL, emit
   * DOUBLE — THE money rule (AQE-safe determinism), shared across the
   * query files. */
  private[queries] def moneySum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    round(sum(c.cast("decimal(18,6)")), scale).cast("double")

  // ------------------------------------------------------------------ A1/A14

  val q01PricingSummary: Q = Q("q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS n
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""") { (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---------------------------------------------------------------- P1/P2/P6

  val q02FilterProject: Q = Q("q02_filter_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
         AND l_quantity < 10
       ORDER BY l_orderkey, l_linenumber""") { (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1995-04-01 00:00:00")) &&
        col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"),
        // ISO string, not DateType: pandas renders parquet date32 and
        // DuckDB DATE differently — strings remove the hash-divergence
        // class from the driver's compare (same below for all date outputs)
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ------------------------------------------------------------------ J1-J3

  val q03JoinAgg: Q = Q("q03_join_agg",
    """SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name""") { (s, d) =>
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        countDistinct("o_orderkey").as("n_orders"))
      .orderBy("n_name")
  }

  val q04RegionRollup: Q = Q("q04_region_rollup",
    """SELECT r_name, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
       FROM lineitem
       JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name ORDER BY r_name""") { (s, d) =>
    lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("r_name")
  }

  // ------------------------------------------------------------------ J6/P3

  val q05SemiJoin: Q = Q("q05_semi_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_totalprice > 400000)
       ORDER BY c_custkey""") { (s, d) =>
    customer(s, d)
      .join(orders(s, d).filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val q06AntiJoin: Q = Q("q06_anti_join",
    """SELECT c_mktsegment, count(*) AS n FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 300000)
       GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (s, d) =>
    customer(s, d)
      .join(orders(s, d).filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  // ------------------------------------------------------------------ P3/P4

  val q07InNotContains: Q = Q("q07_in_not_contains",
    """SELECT p_brand, count(*) AS n, round(avg(p_retailprice), 4) AS avg_price
       FROM part
       WHERE NOT contains(upper(p_type), 'PROMO') AND p_size IN (1, 5, 10, 15)
       GROUP BY p_brand ORDER BY p_brand""") { (s, d) =>
    part(s, d)
      .filter(!upper(col("p_type")).contains("PROMO") &&
        col("p_size").isin(1, 5, 10, 15))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), round(avg("p_retailprice"), 4).as("avg_price"))
      .orderBy("p_brand")
  }

  // ------------------------------------------------------------------ S12/J4

  val q08DateSpine: Q = Q("q08_date_spine",
    """WITH spine AS (
         SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-12-31',
                                            INTERVAL 1 DAY)) AS DATE) AS d),
       cnt AS (
         SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
         FROM orders GROUP BY 1)
       SELECT strftime(spine.d, '%Y-%m-%d') AS d, coalesce(cnt.n, 0) AS n
       FROM spine LEFT JOIN cnt USING (d) ORDER BY d""") { (s, d) =>
    val spine = Relational.dateSpine(s, "1995-01-01", "1995-12-31", "d")
    val cnt = orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n"))
    Relational.spineJoin(spine, cnt, Seq("d"), Seq("n"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("n"))
      .orderBy("d")
  }

  // -------------------------------------------------------------- A2 flagship

  /** Avg hourly call/event demand per weekday — the EP2 core (SURVEY.md
   * §7.2 slice 0, app_calculo_necesidad_recepción_call_center.py:248-255):
   * count per (date, dow, hour), then mean per (dow, hour). */
  val q09DemandByHour: Q = Q("q09_demand_by_hour",
    """WITH l1 AS (
         SELECT CAST(ts AS DATE) AS fecha, dayofweek(ts) + 1 AS dia,
                hour(ts) AS hora, count(*) AS n
         FROM events GROUP BY 1, 2, 3)
       SELECT dia, hora, round(avg(n), 4) AS avg_demand,
              CAST(sum(n) AS BIGINT) AS total
       FROM l1 GROUP BY dia, hora ORDER BY dia, hora""") { (s, d) =>
    events(s, d)
      .groupBy(to_date(col("ts")).as("fecha"),
        dayofweek(col("ts")).cast("long").as("dia"),
        hour(col("ts")).cast("long").as("hora"))
      .agg(count(lit(1)).as("n"))
      .groupBy("dia", "hora")
      .agg(round(avg("n"), 4).as("avg_demand"), sum("n").as("total"))
      .orderBy("dia", "hora")
  }

  // ---------------------------------------------------------------------- A4

  val q10CountDistinct: Q = Q("q10_count_distinct",
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("n_cust"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------------- A9

  val q11Pivot: Q = Q("q11_pivot_status",
    """SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P",
       count(*) AS "TOTAL"
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
    Relational.withRowTotal(
      Relational.pivotCount(orders(s, d), "o_orderpriority", "o_orderstatus",
        Seq("F", "O", "P")),
      Seq("F", "O", "P"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------- W4 top-K

  val q12TopK: Q = Q("q12_topk_customers",
    """SELECT c_custkey, c_name,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_custkey, c_name
       ORDER BY revenue DESC, c_custkey LIMIT 10""") { (s, d) =>
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(moneySum(col("o_totalprice")).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(10)
  }

  // ---------------------------------------------------------------------- W1

  val q13FirstPerKey: Q = Q("q13_first_order_per_customer",
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS first_date
       FROM orders
       QUALIFY row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) = 1
       ORDER BY o_custkey""") { (s, d) =>
    Windows.firstPerKey(orders(s, d), Seq("o_custkey"),
      Seq(col("o_orderdate").asc, col("o_orderkey").asc))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("first_date"))
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------------- W3

  val q14LagGap: Q = Q("q14_lag_gap",
    """WITH g AS (
         SELECT user_id,
                CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                lag(CAST(floor(epoch(ts)) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         FROM events)
       SELECT user_id, round(avg((sec - prev) // 60), 4) AS avg_gap_min,
              count(*) FILTER (WHERE prev IS NOT NULL) AS n_gaps
       FROM g GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    events(s, d)
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("prev", lag(col("sec"), 1).over(w))
      .groupBy("user_id")
      .agg(round(avg(floor((col("sec") - col("prev")) / 60)), 4).as("avg_gap_min"),
        count(col("prev")).as("n_gaps"))
      .orderBy("user_id")
  }

  // --------------------------------------------------------------- A16 Pareto

  val q15Pareto: Q = Q("q15_pareto",
    """WITH freq AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS cnt
                     FROM orders GROUP BY 1),
       ranked AS (SELECT k, cnt, row_number() OVER (ORDER BY cnt DESC, k ASC) AS rk
                  FROM freq),
       bucketed AS (SELECT CASE WHEN rk <= 10 THEN k ELSE 'OTROS' END AS bucket,
                           CAST(sum(cnt) AS BIGINT) AS cnt,
                           min(CASE WHEN rk <= 10 THEN rk ELSE 11 END) AS ord
                    FROM ranked GROUP BY 1),
       t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tt FROM bucketed)
       SELECT bucket, cnt, round(cnt / tt * 100, 4) AS pct,
              round(sum(cnt) OVER (ORDER BY ord ROWS UNBOUNDED PRECEDING) / tt * 100, 4) AS cum_pct
       FROM bucketed, t ORDER BY cnt DESC, bucket""") { (s, d) =>
    Relational.pareto(orders(s, d).withColumn("k", col("o_custkey").cast("string")), "k")
  }

  // ------------------------------------------------------------------- U1/U2

  val q16Union: Q = Q("q16_union",
    """SELECT o_orderstatus, count(*) AS n FROM (
         SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
         UNION ALL
         SELECT * FROM orders WHERE o_orderpriority = '2-HIGH')
       GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, d) =>
    val o = orders(s, d)
    o.filter(col("o_orderpriority") === "1-URGENT")
      .unionByName(o.filter(col("o_orderpriority") === "2-HIGH"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  // -------------------------------------------------------------- A12 rollup

  val q17Rollup: Q = Q("q17_rollup_totals",
    """SELECT coalesce(l_returnflag, 'TOTAL') AS l_returnflag,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
       FROM lineitem GROUP BY ROLLUP(l_returnflag) ORDER BY l_returnflag""") { (s, d) =>
    lineitem(s, d)
      .rollup("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .withColumn("l_returnflag", coalesce(col("l_returnflag"), lit("TOTAL")))
      .orderBy("l_returnflag")
  }

  // ----------------------------------------------------------- A11 pct-total

  val q18PctOfTotal: Q = Q("q18_pct_of_total",
    """WITH g AS (SELECT c_mktsegment, count(*) AS value FROM customer GROUP BY 1),
       t AS (SELECT CAST(sum(value) AS DOUBLE) AS tt FROM g)
       SELECT c_mktsegment, value, round(value / tt * 100, 4) AS pct
       FROM g, t ORDER BY c_mktsegment""") { (s, d) =>
    Relational.pctOfTotal(customer(s, d), Seq("c_mktsegment"), count(lit(1)))
      .orderBy("c_mktsegment")
  }

  // ------------------------------------------------------- A6 weighted count

  /** Weighted-by-1/days-in-month demand (SURVEY.md A6,
   * app_calculador_recursos_modelo_atencion.py:404-417): dedup the key,
   * weight each kept row by 1/(# same-weekday days in its month), sum per
   * hour — "average demand for a Monday at 10:00". */
  val q19WeightedWeekday: Q = Q("q19_weighted_weekday",
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS fecha,
                         hour(ts) AS hora FROM events),
       wt AS (SELECT hora,
                     1.0 / (((day(fecha) - 1) // 7) +
                            ((day(last_day(fecha)) - day(fecha)) // 7) + 1) AS peso
              FROM d)
       SELECT hora, round(sum(peso), 4) AS sum_peso, count(*) AS n
       FROM wt GROUP BY hora ORDER BY hora""") { (s, d) =>
    events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("fecha"),
        hour(col("ts")).cast("long").as("hora"))
      .distinct()
      .withColumn("peso", lit(1.0) / Exprs.sameWeekdayCountInMonth(col("fecha")))
      .groupBy("hora")
      .agg(round(sum("peso"), 4).as("sum_peso"), count(lit(1)).as("n"))
      .orderBy("hora")
  }

  // ------------------------------------------------------- P11 classification

  val q20CaseClassify: Q = Q("q20_case_classify",
    """SELECT CASE WHEN event_type IN ('purchase', 'signup') THEN 'CONVERSION'
                   WHEN event_type = 'error' THEN 'ERROR'
                   ELSE 'TRAFFIC' END AS clase,
              CASE WHEN value < 50 THEN 'low'
                   WHEN value < 150 THEN 'mid'
                   ELSE 'high' END AS bucket,
              count(*) AS n, round(sum(value), 2) AS sum_value
       FROM events GROUP BY clase, bucket ORDER BY clase, bucket""") { (s, d) =>
    events(s, d)
      .withColumn("clase",
        when(col("event_type").isin("purchase", "signup"), "CONVERSION")
          .when(col("event_type") === "error", "ERROR")
          .otherwise("TRAFFIC"))
      .withColumn("bucket",
        when(col("value") < 50, "low").when(col("value") < 150, "mid").otherwise("high"))
      .groupBy("clase", "bucket")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("clase", "bucket")
  }

  // ------------------------------------------------------------ excel serial

  /** Excel serial → date with the 1900-leap-bug adjust (SURVEY.md §2.8,
   * indicador-modelo-vs-facturacion.py:92-109), exercised by treating
   * orderkeys as serials. */
  val q21ExcelSerial: Q = Q("q21_excel_serial",
    """WITH s AS (SELECT l_orderkey % 60000 AS n FROM lineitem),
       d AS (SELECT DATE '1899-12-30' +
                    CAST((CASE WHEN n >= 61 THEN n - 1 ELSE n END) AS INTEGER) AS dt
             FROM s)
       SELECT year(dt) AS y, count(*) AS n FROM d GROUP BY y ORDER BY y""") { (s, d) =>
    lineitem(s, d)
      .select(Exprs.excelSerialToDate(col("l_orderkey") % 60000).as("dt"))
      .groupBy(year(col("dt")).cast("long").as("y"))
      .agg(count(lit(1)).as("n"))
      .orderBy("y")
  }

  // ------------------------------------------------------------- month/week

  val q22MonthRollup: Q = Q("q22_month_rollup",
    """SELECT strftime(o_orderdate, '%Y-%m') AS mes,
       count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
       FROM orders GROUP BY mes ORDER BY mes""") { (s, d) =>
    orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mes"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .orderBy("mes")
  }

  val q23WeekRollup: Q = Q("q23_week_rollup",
    """SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS semana,
              count(*) AS n
       FROM orders GROUP BY semana ORDER BY semana""") { (s, d) =>
    orders(s, d)
      .groupBy(date_format(date_trunc("week", col("o_orderdate")), "yyyy-MM-dd")
        .as("semana"))
      .agg(count(lit(1)).as("n"))
      .orderBy("semana")
  }

  // ------------------------------------------------------------ json extract

  val q24JsonExtract: Q = Q("q24_json_extract",
    """SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
       FROM events GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val k = get_json_object(col("props"), "$.k").cast("int")
    events(s, d)
      .groupBy("event_type")
      .agg(round(avg(k), 4).as("avg_k"), max(k).as("max_k"))
      .orderBy("event_type")
  }

  // ------------------------------------------------------------- A8 argmax

  val q25ArgmaxPerGroup: Q = Q("q25_argmax_per_group",
    """SELECT o_orderstatus, o_orderkey, o_custkey, o_totalprice
       FROM orders
       QUALIFY row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice DESC, o_orderkey) = 1
       ORDER BY o_orderstatus""") { (s, d) =>
    Windows.firstPerKey(orders(s, d), Seq("o_orderstatus"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc))
      .select("o_orderstatus", "o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderstatus")
  }

  // --------------------------------------------------------- P9/P10 overwrite

  val q26ConditionalOverwrite: Q = Q("q26_conditional_overwrite",
    """SELECT CASE WHEN c_acctbal < 0 THEN 'DEUDOR' ELSE c_mktsegment END AS segmento,
       count(*) AS n,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_bal
       FROM customer GROUP BY segmento ORDER BY segmento""") { (s, d) =>
    customer(s, d)
      .withColumn("segmento",
        when(col("c_acctbal") < 0, "DEUDOR").otherwise(col("c_mktsegment")))
      .groupBy("segmento")
      .agg(count(lit(1)).as("n"), moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy("segmento")
  }

  // -------------------------------------------------------- 5-min time grid

  /** Round-up-to-5-min bucketing + spine join with zero fill (SURVEY.md
   * S11/J5, app_calculador_recursos_modelo_atencion.py:105-136). Arithmetic
   * on epoch seconds on both sides — no tz-dependent timestamp rendering. */
  val q27FiveMinSpine: Q = Q("q27_five_min_spine",
    """WITH spine AS (SELECT unnest(generate_series(0, 1435, 5)) AS min_of_day),
       b AS (SELECT CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 300 * 5 AS BIGINT)
                    AS min_of_day, count(*) AS n
             FROM events GROUP BY 1)
       SELECT spine.min_of_day, coalesce(b.n, 0) AS n
       FROM spine LEFT JOIN b USING (min_of_day) ORDER BY min_of_day""") { (s, d) =>
    val spine = s.range(1).select(explode(sequence(lit(0L), lit(1435L), lit(5L))).as("min_of_day"))
    val b = events(s, d)
      .select(((unix_timestamp(col("ts")) % 86400) / 300).cast("long").multiply(5).as("min_of_day"))
      .groupBy("min_of_day").agg(count(lit(1)).as("n"))
    Relational.spineJoin(spine, b, Seq("min_of_day"), Seq("n")).orderBy("min_of_day")
  }

  // -------------------------------------------------- D1 seeded partitioner

  /** Balanced seeded partitioner (SURVEY.md D1, app.py:49-89): md5-seeded
   * order + ntile(4) per segment; output per-partition distinct/total
   * counts (the reference's summary sheet, app.py:344-396). */
  val q28SeededPartition: Q = Q("q28_seeded_partition",
    """WITH assigned AS (
         SELECT c_mktsegment, c_custkey,
                ntile(4) OVER (PARTITION BY c_mktsegment
                               ORDER BY md5(CAST(c_custkey AS VARCHAR) || '|' || '42'),
                                        c_custkey)
                  AS partition_id
         FROM customer)
       SELECT partition_id, c_mktsegment, count(DISTINCT c_custkey) AS n_ids,
              count(*) AS n_rows
       FROM assigned GROUP BY 1, 2 ORDER BY partition_id, c_mktsegment""") { (s, d) =>
    val assigned = Windows.seededNtile(customer(s, d), Seq("c_mktsegment"),
      "c_custkey", 4)
      .withColumn("partition_id", col("partition_id").cast("long"))
    Windows.partitionStats(assigned, "partition_id", "c_mktsegment", "c_custkey")
  }

  // ------------------------------------------------------- min-positive rows

  /** Row-wise min-of-positives + conditional row stats (SURVEY.md A5). */
  val q29RowwiseMinPositive: Q = Q("q29_rowwise_min_positive",
    """SELECT l_returnflag,
       round(avg(CASE WHEN l_discount > 0 AND l_discount <= l_tax THEN l_discount
                      WHEN l_tax > 0 THEN l_tax
                      WHEN l_discount > 0 THEN l_discount END), 4) AS avg_min_pos,
       count(*) AS n
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
    lineitem(s, d)
      .withColumn("min_pos", Exprs.minPositive(col("l_discount"), col("l_tax")))
      .groupBy("l_returnflag")
      .agg(round(avg("min_pos"), 4).as("avg_min_pos"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  // --------------------------------------------------------- substring-OR P5

  val q30SubstringOr: Q = Q("q30_substring_or",
    """SELECT p_brand, count(*) AS n FROM part
       WHERE contains(p_type, 'ECO') OR contains(p_type, 'PROMO')
          OR contains(p_type, 'STD')
       GROUP BY p_brand ORDER BY p_brand""") { (s, d) =>
    val keys = Seq("ECO", "PROMO", "STD")
    part(s, d)
      .filter(keys.map(k => col("p_type").contains(k)).reduce(_ || _))
      .groupBy("p_brand").agg(count(lit(1)).as("n"))
      .orderBy("p_brand")
  }

  val all: Seq[Q] = Seq(
    q01PricingSummary, q02FilterProject, q03JoinAgg, q04RegionRollup,
    q05SemiJoin, q06AntiJoin, q07InNotContains, q08DateSpine, q09DemandByHour,
    q10CountDistinct, q11Pivot, q12TopK, q13FirstPerKey, q14LagGap, q15Pareto,
    q16Union, q17Rollup, q18PctOfTotal, q19WeightedWeekday, q20CaseClassify,
    q21ExcelSerial, q22MonthRollup, q23WeekRollup, q24JsonExtract,
    q25ArgmaxPerGroup, q26ConditionalOverwrite, q27FiveMinSpine,
    q28SeededPartition, q29RowwiseMinPositive, q30SubstringOr)
}
