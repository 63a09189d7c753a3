package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.Sources.table
import graft.queries.CoreQueries.moneySum

/**
 * The TPC-H 22 (q235–q256) — the industry yardstick the harness's
 * tables are shaped for, registered as first-class oracle-checked
 * queries so the bench line is externally comparable.
 *
 * The synthetic schema is TPC-H-ish, not TPC-H: there is NO partsupp
 * table, and comment/address/phone/shipmode/commit-receipt-date/
 * container/mfgr/shippriority columns don't exist. Each query keeps the
 * REFERENCE SHAPE (join graph, correlated/scalar subqueries,
 * exists/not-exists, disjunctive predicates, group-by-having) and
 * substitutes the nearest available column, documented per query:
 *  - partsupp-derived facts (supplycost, availqty) come from lineitem's
 *    (l_partkey, l_suppkey) pairs — min unit price as supplycost,
 *    quantity sums as availqty;
 *  - l_receiptdate > l_commitdate ("late") becomes
 *    l_shipdate > o_orderdate + N days (ship lag);
 *  - o_shippriority → o_orderpriority, l_shipmode → l_linestatus,
 *    p_container → p_size buckets, c_phone country code →
 *    c_nationkey % 10, comment filters → value predicates.
 *
 * House determinism rules apply: money sums through DECIMAL
 * ([[CoreQueries.moneySum]]), quantity sums are integral doubles (exact
 * at any partial-agg order), averages rounded to 4, every output ORDER
 * BYs a unique key, dates emit as ISO strings, year()/count() cast to
 * BIGINT on the Spark side.
 *
 * 100 TB notes: nation/region/supplier/part broadcast (true dimensions);
 * customer–orders and orders–lineitem shuffle on their keys; scalar
 * subqueries (Q11/Q15/Q17/Q22 thresholds) broadcast their 1-row frames;
 * every intermediate consumed twice is localCheckpoint'ed so no fact
 * table is scanned more than twice.
 */
object TpchQueries {

  private val lineitem = (s: SparkSession, d: String) => table(s, d, "lineitem")
  private val orders = (s: SparkSession, d: String) => table(s, d, "orders")
  private val customer = (s: SparkSession, d: String) => table(s, d, "customer")
  private val supplier = (s: SparkSession, d: String) => table(s, d, "supplier")
  private val nation = (s: SparkSession, d: String) => table(s, d, "nation")
  private val region = (s: SparkSession, d: String) => table(s, d, "region")
  private val part = (s: SparkSession, d: String) => table(s, d, "part")

  private def ts(x: String) = to_timestamp(lit(s"$x 00:00:00"))

  // ------------------------------------------------------------- Q1

  /** TPC-H Q1 pricing summary — fully expressible (q01 carries its
    * core; this is the complete column set). */
  val q235TpchQ1: Q = Q("q235_tpch_q1",
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_disc,
       count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""") { (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") <= ts("2000-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        // decimal sum / count, not avg(): a double-sum average is
        // partial-agg-order-dependent at the 4th decimal at this scale
        round(sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 4).as("avg_price"),
        round(sum(col("l_discount").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ------------------------------------------------------------- Q2

  /** TPC-H Q2 minimum-cost supplier. No partsupp: supplycost :=
    * min(l_extendedprice / l_quantity) per (part, supplier) from
    * lineitem (min of identical doubles — order-independent). Keeps the
    * correlated-min shape: the chosen supplier's cost equals the
    * region-wide minimum for that part. */
  val q236TpchQ2: Q = Q("q236_tpch_q2",
    """WITH ps AS (SELECT l_partkey AS pk, l_suppkey AS sk,
             min(l_extendedprice / l_quantity) AS cost
           FROM lineitem GROUP BY 1, 2),
       euro AS MATERIALIZED (
         SELECT ps.pk, ps.sk, ps.cost, s_acctbal, s_name, n_name
         FROM ps JOIN supplier ON s_suppkey = ps.sk
                 JOIN nation ON n_nationkey = s_nationkey
                 JOIN region ON r_regionkey = n_regionkey
         WHERE r_name = 'EUROPE'),
       mc AS (SELECT pk, min(cost) AS mincost FROM euro GROUP BY pk)
       SELECT s_acctbal, s_name, n_name, CAST(p_partkey AS BIGINT) AS p_partkey,
              round(cost, 4) AS cost
       FROM euro JOIN mc ON mc.pk = euro.pk AND euro.cost = mc.mincost
                 JOIN part ON p_partkey = euro.pk
       WHERE p_size = 15 AND p_type = 'STANDARD'
       ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""") { (s, d) =>
    // correlated-subquery pushdown a 100 TB plan needs: only the
    // filtered parts' costs matter, so the semi join runs BEFORE the
    // (part, supplier) aggregate — the oracle's unrestricted ps yields
    // identical rows for the surviving part keys
    val wanted = part(s, d)
      .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      .select(col("p_partkey").as("fpk"))
    val ps = lineitem(s, d)
      .join(broadcast(wanted), col("l_partkey") === col("fpk"), "left_semi")
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
    val euro = ps
      .join(broadcast(supplier(s, d)), col("sk") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("pk"), col("sk"), col("cost"), col("s_acctbal"),
        col("s_name"), col("n_name"))
      .localCheckpoint() // min-per-part + the final join both read it
    val mc = euro.groupBy("pk").agg(min("cost").as("mincost"))
    euro.join(mc, Seq("pk")).filter(col("cost") === col("mincost"))
      .join(broadcast(part(s, d)
        .filter(col("p_size") === 15 && col("p_type") === "STANDARD")),
        col("pk") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), round(col("cost"), 4).as("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  // ------------------------------------------------------------- Q3

  /** TPC-H Q3 shipping priority (o_shippriority → o_orderpriority). */
  val q237TpchQ3: Q = Q("q237_tpch_q3",
    """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
         AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""") { (s, d) =>
    customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(orders(s, d).filter(col("o_orderdate") < ts("1997-03-15")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem(s, d).filter(col("l_shipdate") > ts("1997-03-15")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  // ------------------------------------------------------------- Q4

  /** TPC-H Q4 order-priority checking. The commit-vs-receipt lateness
    * EXISTS becomes "some line shipped > 30 days after the order date"
    * — same correlated-exists shape over the same tables. */
  val q238TpchQ4: Q = Q("q238_tpch_q4",
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
         AND EXISTS (SELECT * FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
    orders(s, d)
      .filter(col("o_orderdate") >= ts("1996-07-01") &&
        col("o_orderdate") < ts("1996-10-01"))
      .join(lineitem(s, d).select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // ------------------------------------------------------------- Q5

  /** TPC-H Q5 local-supplier volume — fully expressible (the
    * c_nationkey = s_nationkey local-supply constraint included). */
  val q239TpchQ5: Q = Q("q239_tpch_q5",
    """SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
                     JOIN supplier ON l_suppkey = s_suppkey
                                  AND c_nationkey = s_nationkey
                     JOIN nation ON s_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY n_name ORDER BY revenue DESC, n_name""") { (s, d) =>
    customer(s, d)
      .join(orders(s, d)
        .filter(col("o_orderdate") >= ts("1996-01-01") &&
          col("o_orderdate") < ts("1997-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // ------------------------------------------------------------- Q6

  /** TPC-H Q6 forecasting revenue change — fully expressible. */
  val q240TpchQ6: Q = Q("q240_tpch_q6",
    """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""") { (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  // ------------------------------------------------------------- Q7

  /** TPC-H Q7 volume shipping between two trading blocs (nation pair →
    * AMERICA↔ASIA region pair — single named nations can have zero
    * suppliers at the smallest SF; the bidirectional either-direction
    * filter shape is unchanged). */
  val q241TpchQ7: Q = Q("q241_tpch_q7",
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
       FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                     JOIN orders ON o_orderkey = l_orderkey
                     JOIN customer ON c_custkey = o_custkey
                     JOIN nation n1 ON s_nationkey = n1.n_nationkey
                     JOIN nation n2 ON c_nationkey = n2.n_nationkey
       WHERE ((n1.n_regionkey = 1 AND n2.n_regionkey = 2)
           OR (n1.n_regionkey = 2 AND n2.n_regionkey = 1))
         AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""") { (s, d) =>
    val n1 = nation(s, d).select(col("n_nationkey").as("n1k"),
      col("n_regionkey").as("n1r"), col("n_name").as("supp_nation"))
    val n2 = nation(s, d).select(col("n_nationkey").as("n2k"),
      col("n_regionkey").as("n2r"), col("n_name").as("cust_nation"))
    lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(customer(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1k"))
      .join(broadcast(n2), col("c_nationkey") === col("n2k"))
      .filter((col("n1r") === 1 && col("n2r") === 2) ||
        (col("n1r") === 2 && col("n2r") === 1))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  // ------------------------------------------------------------- Q8

  /** TPC-H Q8 national market share: NATION_3's share of ECONOMY-part
    * revenue sold into ASIA, per order year. Decimal sums, one final
    * double division rounded to 6 on both sides. */
  val q242TpchQ8: Q = Q("q242_tpch_q8",
    """WITH base AS (
         SELECT year(o_orderdate) AS o_year,
                CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
                n1.n_name AS supp_nation
         FROM part JOIN lineitem ON p_partkey = l_partkey
                   JOIN supplier ON s_suppkey = l_suppkey
                   JOIN orders ON o_orderkey = l_orderkey
                   JOIN customer ON c_custkey = o_custkey
                   JOIN nation n1 ON s_nationkey = n1.n_nationkey
                   JOIN nation n2 ON c_nationkey = n2.n_nationkey
                   JOIN region ON n2.n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
       SELECT CAST(o_year AS BIGINT) AS o_year,
              round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                    / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
       FROM base GROUP BY o_year ORDER BY o_year""") { (s, d) =>
    val n1 = nation(s, d).select(col("n_nationkey").as("n1k"),
      col("n_name").as("supp_nation"))
    val n2 = nation(s, d).select(col("n_nationkey").as("n2k"),
      col("n_regionkey").as("n2r"))
    val base = lineitem(s, d)
      .join(broadcast(part(s, d).filter(col("p_type") === "ECONOMY")),
        col("p_partkey") === col("l_partkey"))
      .join(broadcast(supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
      .join(orders(s, d)
        .filter(col("o_orderdate") >= ts("1996-01-01") &&
          col("o_orderdate") < ts("1998-01-01")),
        col("o_orderkey") === col("l_orderkey"))
      .join(customer(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1k"))
      .join(broadcast(n2), col("c_nationkey") === col("n2k"))
      .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n2r") === col("r_regionkey"))
      .select(year(col("o_orderdate")).as("o_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("volume"),
        col("supp_nation"))
    base.groupBy(col("o_year").cast("long").as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_3", col("volume"))
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double") /
          sum(col("volume")).cast("double"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  // ------------------------------------------------------------- Q9

  /** TPC-H Q9 product-type profit. No ps_supplycost: cost stand-in is
    * 10% of p_retailprice per unit, so
    * amount = extprice·(1−disc) − 0.1·p_retailprice·qty; the part
    * filter keeps Q9's name-substring shape (p_name LIKE '%red%'). */
  val q243TpchQ9: Q = Q("q243_tpch_q9",
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           - 0.1 * p_retailprice * l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_profit
       FROM part JOIN lineitem ON p_partkey = l_partkey
                 JOIN supplier ON s_suppkey = l_suppkey
                 JOIN orders ON o_orderkey = l_orderkey
                 JOIN nation ON s_nationkey = n_nationkey
       WHERE p_name LIKE '%red%'
       GROUP BY 1, 2 ORDER BY nation, o_year DESC""") { (s, d) =>
    lineitem(s, d)
      .join(broadcast(part(s, d).filter(col("p_name").like("%red%"))),
        col("p_partkey") === col("l_partkey"))
      .join(broadcast(supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
      .join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.1) * col("p_retailprice") * col("l_quantity")).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  // ------------------------------------------------------------- Q10

  /** TPC-H Q10 returned-item reporting (c_address/c_phone/c_comment
    * don't exist — dropped from the projection, shape unchanged). */
  val q244TpchQ10: Q = Q("q244_tpch_q10",
    """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
       c_acctbal, n_name
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
                     JOIN nation ON c_nationkey = n_nationkey
       WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         AND l_returnflag = 'R'
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey LIMIT 20""") { (s, d) =>
    customer(s, d)
      .join(orders(s, d)
        .filter(col("o_orderdate") >= ts("1996-10-01") &&
          col("o_orderdate") < ts("1997-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem(s, d).filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  // ------------------------------------------------------------- Q11

  /** TPC-H Q11 important stock. No partsupp: a part's "stock value" at
    * AFRICA's suppliers (nation → region — a single nation can have
    * zero suppliers at the smallest SF) is its lineitem revenue there;
    * keeps the
    * group-by-HAVING-over-scalar-fraction shape. Decimal sums; the
    * threshold comparison happens in DOUBLE identically on both
    * sides. */
  val q245TpchQ11: Q = Q("q245_tpch_q11",
    """WITH pv AS MATERIALIZED (
         SELECT l_partkey AS pk,
                sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS dval
         FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                       JOIN nation ON n_nationkey = s_nationkey
         WHERE n_regionkey = 0
         GROUP BY l_partkey)
       SELECT CAST(pk AS BIGINT) AS pk,
              CAST(round(dval, 2) AS DOUBLE) AS value
       FROM pv
       WHERE CAST(dval AS DOUBLE) > (SELECT CAST(sum(dval) AS DOUBLE) * 0.001 FROM pv)
       ORDER BY value DESC, pk""") { (s, d) =>
    val pv = lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(nation(s, d).filter(col("n_regionkey") === 0)),
        col("n_nationkey") === col("s_nationkey"))
      .groupBy(col("l_partkey").as("pk"))
      // the threshold compare must be exact: decimal sums both sides,
      // one identical decimal→double cast before the 0.001 fraction
      .agg(sum(col("l_extendedprice").cast("decimal(18,6)")).as("dval"))
      .localCheckpoint() // threshold + the value rows both read it
    val thr = pv.agg((sum("dval").cast("double") * 0.001).as("thr"))
    pv.crossJoin(broadcast(thr))
      .filter(col("dval").cast("double") > col("thr"))
      .select(col("pk"), round(col("dval"), 2).cast("double").as("value"))
      .orderBy(col("value").desc, col("pk"))
  }

  // ------------------------------------------------------------- Q12

  /** TPC-H Q12 shipping modes and order priority. l_shipmode →
    * l_linestatus (the 2-valued line dimension); "received late"
    * (commit < receipt) → shipped > 60 days after order date. Same
    * conditional-count-by-priority shape. */
  val q246TpchQ12: Q = Q("q246_tpch_q12",
    """SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         AND l_shipdate > o_orderdate + INTERVAL 60 DAY
       GROUP BY l_linestatus ORDER BY l_linestatus""") { (s, d) =>
    orders(s, d)
      .join(lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1997-01-01") &&
          col("l_shipdate") < ts("1998-01-01")),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
          .otherwise(0)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
          .otherwise(0)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  // ------------------------------------------------------------- Q13

  /** TPC-H Q13 customer order-count distribution. The o_comment NOT
    * LIKE filter becomes an order-priority exclusion — same left-join
    * + double-aggregate shape, nulls counting as zero orders. */
  val q247TpchQ13: Q = Q("q247_tpch_q13",
    """SELECT c_count, count(*) AS custdist
       FROM (SELECT c_custkey, count(o_orderkey) AS c_count
             FROM customer LEFT JOIN orders
               ON c_custkey = o_custkey
              AND o_orderpriority <> '4-NOT SPECIFIED'
             GROUP BY c_custkey)
       GROUP BY c_count ORDER BY custdist DESC, c_count DESC""") { (s, d) =>
    customer(s, d)
      .join(orders(s, d).filter(col("o_orderpriority") =!= "4-NOT SPECIFIED"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  // ------------------------------------------------------------- Q14

  /** TPC-H Q14 promotion effect (p_type LIKE 'PROMO%' is exact here —
    * the synthetic p_type carries the bare family name). */
  val q248TpchQ14: Q = Q("q248_tpch_q14",
    """SELECT round(100.0 *
         CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS promo_revenue
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""") { (s, d) =>
    val disc = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-09-01") &&
        col("l_shipdate") < ts("1996-10-01"))
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type") === "PROMO", disc)
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double") /
        sum(disc).cast("double"), 4).as("promo_revenue"))
  }

  // ------------------------------------------------------------- Q15

  /** TPC-H Q15 top supplier — the revenue view + scalar max, decimal
    * revenue so the max-equality join is exact. */
  val q249TpchQ15: Q = Q("q249_tpch_q15",
    """WITH rev AS MATERIALIZED (
         SELECT l_suppkey AS sk,
                sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         GROUP BY l_suppkey)
       SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
              CAST(round(total, 2) AS DOUBLE) AS total_revenue
       FROM supplier JOIN rev ON s_suppkey = sk
       WHERE total = (SELECT max(total) FROM rev)
       ORDER BY s_suppkey""") { (s, d) =>
    val rev = lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey").as("sk"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("total"))
      .localCheckpoint() // scalar max + the winner join both read it
    val mx = rev.agg(max("total").as("mxt"))
    broadcast(supplier(s, d)).join(rev, col("s_suppkey") === col("sk"))
      .crossJoin(broadcast(mx))
      .filter(col("total") === col("mxt"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total"), 2).cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  // ------------------------------------------------------------- Q16

  /** TPC-H Q16 parts/supplier relationship. partsupp → lineitem's
    * (part, supplier) pairs; the "Customer Complaints" s_comment
    * exclusion → negative-balance suppliers. Same NOT-IN + distinct
    * count shape. */
  val q250TpchQ16: Q = Q("q250_tpch_q16",
    """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
         AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
         AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""") { (s, d) =>
    lineitem(s, d)
      .join(broadcast(part(s, d)
        .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "MEDIUM" &&
          col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))),
        col("p_partkey") === col("l_partkey"))
      .join(broadcast(supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("bad_sk"))),
        col("l_suppkey") === col("bad_sk"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"),
        col("p_size").cast("long").as("p_size"))
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  // ------------------------------------------------------------- Q17

  /** TPC-H Q17 small-quantity-order revenue. p_container → p_size
    * bucket; the correlated 0.2·avg(quantity) subquery is exact:
    * quantities are integral doubles, so their sums (and the single
    * division) are bit-identical in both engines. */
  val q251TpchQ17: Q = Q("q251_tpch_q17",
    """WITH pq AS (SELECT l_partkey AS apk, 0.2 * avg(l_quantity) AS thr
                   FROM lineitem GROUP BY l_partkey)
       SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))) / 7.0, 2) AS DOUBLE) AS avg_yearly
       FROM lineitem JOIN part ON p_partkey = l_partkey
                     JOIN pq ON apk = l_partkey
       WHERE p_brand = 'Brand#23' AND p_size = 5
         AND l_quantity < thr""") { (s, d) =>
    // correlated-avg pushdown: the threshold is only consulted for the
    // brand/size-filtered parts, so the semi join precedes the per-part
    // aggregate (oracle rows for surviving keys are identical)
    val fparts = part(s, d)
      .filter(col("p_brand") === "Brand#23" && col("p_size") === 5)
    val pq = lineitem(s, d)
      .join(broadcast(fparts.select(col("p_partkey").as("fpk"))),
        col("l_partkey") === col("fpk"), "left_semi")
      .groupBy(col("l_partkey").as("apk"))
      .agg((lit(0.2) * avg("l_quantity")).as("thr"))
    lineitem(s, d)
      .join(broadcast(fparts), col("p_partkey") === col("l_partkey"))
      .join(pq, col("apk") === col("l_partkey"))
      .filter(col("l_quantity") < col("thr"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,6)")) / lit(7.0))
        .cast("decimal(38,6)").cast("double").as("avg_yearly0"))
      .select(round(col("avg_yearly0"), 2).as("avg_yearly"))
  }

  // ------------------------------------------------------------- Q18

  /** TPC-H Q18 large-volume customers — the IN-over-HAVING shape;
    * quantity sums are integral doubles (exact threshold compare). */
  val q252TpchQ18: Q = Q("q252_tpch_q18",
    """WITH big AS (SELECT l_orderkey AS bok FROM lineitem
                    GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
       SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
              CAST(o_orderkey AS BIGINT) AS o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
              o_totalprice, round(sum(l_quantity), 2) AS sum_qty
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON o_orderkey = l_orderkey
       WHERE o_orderkey IN (SELECT bok FROM big)
       GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""") { (s, d) =>
    val big = lineitem(s, d).groupBy(col("l_orderkey").as("bok"))
      .agg(sum("l_quantity").as("sq")).filter(col("sq") > 250)
      .select("bok")
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(big, col("o_orderkey") === col("bok"), "left_semi")
      .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
        "o_totalprice")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  // ------------------------------------------------------------- Q19

  /** TPC-H Q19 discounted revenue — the disjunctive brand/size/quantity
    * predicate (container and shipmode terms replaced by size ranges,
    * the shape Catalyst must push as one OR-of-ANDs filter). */
  val q253TpchQ19: Q = Q("q253_tpch_q19",
    """SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
              AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
              AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
              AND l_quantity BETWEEN 20 AND 30)""") { (s, d) =>
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("p_partkey") === col("l_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
  }

  // ------------------------------------------------------------- Q20

  /** TPC-H Q20 potential part promotion. The partsupp availqty
    * comparison becomes a per-(supplier, part) shipped-quantity HAVING
    * over lineitem — same nested-IN shape ending in a region-filtered
    * supplier list (nation → region so the smallest SF still has
    * qualifying suppliers). */
  val q254TpchQ20: Q = Q("q254_tpch_q20",
    """WITH hot AS (
         SELECT l_suppkey AS hsk
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_type = 'ECONOMY'
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY l_suppkey, l_partkey
         HAVING sum(l_quantity) > 25)
       SELECT s_name, CAST(s_suppkey AS BIGINT) AS s_suppkey
       FROM supplier JOIN nation ON s_nationkey = n_nationkey
       WHERE n_regionkey = 2 AND s_suppkey IN (SELECT hsk FROM hot)
       ORDER BY s_suppkey""") { (s, d) =>
    val hot = lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .join(broadcast(part(s, d).filter(col("p_type") === "ECONOMY")),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("l_suppkey").as("hsk"), col("l_partkey"))
      .agg(sum("l_quantity").as("sq")).filter(col("sq") > 25)
      .select("hsk")
    supplier(s, d)
      .join(broadcast(nation(s, d).filter(col("n_regionkey") === 2)),
        col("s_nationkey") === col("n_nationkey"))
      .join(hot, col("s_suppkey") === col("hsk"), "left_semi")
      .select(col("s_name"), col("s_suppkey"))
      .orderBy("s_suppkey")
  }

  // ------------------------------------------------------------- Q21

  /** TPC-H Q21 suppliers who kept orders waiting: the sole late
    * supplier on a multi-supplier finished order, AMERICA's suppliers
    * (nation → region for smallest-SF coverage). "Late" (receipt >
    * commit) → shipped > 60 days after order date. One
    * lineitem-with-orderdate table is checkpointed and reused by the
    * base, the EXISTS semi and the NOT-EXISTS anti — one fact scan. */
  val q255TpchQ21: Q = Q("q255_tpch_q21",
    """WITH lo AS MATERIALIZED (
         SELECT l_orderkey AS ok, l_suppkey AS sk,
                l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
         FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         WHERE o_orderstatus = 'F')
       SELECT s_name, count(*) AS numwait
       FROM lo l1 JOIN supplier ON s_suppkey = l1.sk
                  JOIN nation ON n_nationkey = s_nationkey
       WHERE n_regionkey = 1 AND l1.late
         AND EXISTS (SELECT * FROM lo l2
                     WHERE l2.ok = l1.ok AND l2.sk <> l1.sk)
         AND NOT EXISTS (SELECT * FROM lo l3
                         WHERE l3.ok = l1.ok AND l3.sk <> l1.sk AND l3.late)
       GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""") { (s, d) =>
    val lo = lineitem(s, d)
      .join(orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"))
      .localCheckpoint() // base + exists-semi + not-exists-anti read it
    val base = lo.filter(col("late"))
      .join(broadcast(supplier(s, d)), col("sk") === col("s_suppkey"))
      .join(broadcast(nation(s, d).filter(col("n_regionkey") === 1)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("ok"), col("sk"), col("s_name"))
    base
      .join(lo.select(col("ok").as("ok2"), col("sk").as("sk2")),
        col("ok2") === col("ok") && col("sk2") =!= col("sk"), "left_semi")
      .join(lo.filter(col("late"))
        .select(col("ok").as("ok3"), col("sk").as("sk3")),
        col("ok3") === col("ok") && col("sk3") =!= col("sk"), "left_anti")
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  // ------------------------------------------------------------- Q22

  /** TPC-H Q22 global sales opportunity. The c_phone country code →
    * c_nationkey % 10; threshold = decimal-exact mean of positive
    * balances in the code set; NOT EXISTS anti-joins RECENT orders
    * (every synthetic customer has some order, so "no orders ever"
    * would be empty — "lapsed since 1999" keeps the shape and yields
    * rows). */
  val q256TpchQ22: Q = Q("q256_tpch_q22",
    """WITH cs AS MATERIALIZED (
         SELECT c_custkey, c_nationkey % 10 AS cntrycode, c_acctbal
         FROM customer WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5, 6, 7)),
       thr AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                      / count(*) AS avg_bal
               FROM cs WHERE c_acctbal > 0)
       SELECT CAST(cntrycode AS BIGINT) AS cntrycode, count(*) AS numcust,
              CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
       FROM cs, thr
       WHERE c_acctbal > avg_bal
         AND NOT EXISTS (SELECT * FROM orders WHERE o_custkey = c_custkey
                         AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
       GROUP BY cntrycode ORDER BY cntrycode""") { (s, d) =>
    val cs = customer(s, d)
      .select(col("c_custkey"), (col("c_nationkey") % 10).as("cntrycode"),
        col("c_acctbal"))
      .filter(col("cntrycode").isin(1, 2, 3, 4, 5, 6, 7))
      .localCheckpoint() // threshold + the kept rows both read it
    val thr = cs.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("avg_bal"))
    cs.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(orders(s, d)
        .filter(col("o_orderdate") >= ts("1999-01-01"))
        .select(col("o_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy(col("cntrycode").cast("long").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        moneySum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  val all: Seq[Q] = Seq(q235TpchQ1, q236TpchQ2, q237TpchQ3, q238TpchQ4,
    q239TpchQ5, q240TpchQ6, q241TpchQ7, q242TpchQ8, q243TpchQ9, q244TpchQ10,
    q245TpchQ11, q246TpchQ12, q247TpchQ13, q248TpchQ14, q249TpchQ15,
    q250TpchQ16, q251TpchQ17, q252TpchQ18, q253TpchQ19, q254TpchQ20,
    q255TpchQ21, q256TpchQ22)
}
