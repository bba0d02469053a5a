package graft.gates

import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPC-H shapes: the relational core over the TPC-H-ish tables, plus the
  * salted skew join over the corpus.
  */
private[graft] object TpchGates {

  val gates: Seq[Gate] = Seq(
    Gate("q1_agg") { (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("count_order"),
          sum(col("l_quantity").cast("decimal(20,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(20,2)")).cast("double").as("sum_base_price"),
          sum(col("l_quantity").cast("decimal(20,2)") * col("l_discount").cast("decimal(20,2)"))
            .cast("double").as("sum_disc_qty"))
    } {
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS count_order,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,2)) * CAST(l_discount AS DECIMAL(20,2))) AS DOUBLE) AS sum_disc_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin
    },
    Gate("q3_join") { (s, dir) =>
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val lineitem = s.read.parquet(s"$dir/lineitem.parquet")
      customer
        .join(orders, col("c_custkey") === col("o_custkey"))
        .join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(20,2)") * (lit(1.0) - col("l_discount")).cast("decimal(20,2)"))
            .cast("double").as("revenue"))
    } {
      """SELECT c_mktsegment,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(1.0 - l_discount AS DECIMAL(20,2))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_mktsegment""".stripMargin
    },
    Gate("q7_volume") { (s, dir) =>
      val n1 = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").as("_snk"), col("n_name").as("supp_nation"))
      val n2 = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").as("_cnk"), col("n_name").as("cust_nation"))
      s.read.parquet(s"$dir/lineitem.parquet")
        .join(s.read.parquet(s"$dir/supplier.parquet"), col("l_suppkey") === col("s_suppkey"))
        .join(s.read.parquet(s"$dir/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
        .join(s.read.parquet(s"$dir/customer.parquet"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("_snk"))
        .join(broadcast(n2), col("c_nationkey") === col("_cnk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(20,2)") * (lit(1.0) - col("l_discount")).cast("decimal(20,2)"))
            .cast("double").as("revenue"))
    } {
      // TPC-H Q7 shape: bidirectional nation-pair volume by ship year,
      // decimal-exact revenue
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(1.0 - l_discount AS DECIMAL(20,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3""".stripMargin
    },
    Gate("q5_join") { (s, dir) =>
      // 5-table join chain: region -> nation -> customer+supplier -> orders -> lineitem
      val region = s.read.parquet(s"$dir/region.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val supplier = s.read.parquet(s"$dir/supplier.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val lineitem = s.read.parquet(s"$dir/lineitem.parquet")
      region.join(nation, col("r_regionkey") === col("n_regionkey"))
        .join(customer, col("n_nationkey") === col("c_nationkey"))
        .join(orders, col("c_custkey") === col("o_custkey"))
        .join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .join(supplier, col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(20,2)") * (lit(1.0) - col("l_discount")).cast("decimal(20,2)"))
            .cast("double").as("revenue"))
    } {
      """SELECT r_name, n_name,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(1.0 - l_discount AS DECIMAL(20,2))) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |GROUP BY r_name, n_name""".stripMargin
    },
    Gate("q_topn_orders") { (s, dir) =>
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("o_orderpriority"), col("rn").cast("long").as("rn"), col("o_orderkey"))
    } {
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 5""".stripMargin
    },
    Gate("q10_returned") { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet").filter(col("l_returnflag") === "R")
      val rev = col("l_extendedprice").cast("decimal(20,2)") *
        (lit(1.0) - col("l_discount")).cast("decimal(20,2)")
      li.join(s.read.parquet(s"$dir/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
        .join(s.read.parquet(s"$dir/customer.parquet"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n_items"), sum(rev).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    } {
      // TPC-H Q10 shape: top returned-revenue customers via TakeOrdered
      """SELECT c_custkey, c_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(1.0 - l_discount AS DECIMAL(20,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin
    },
    // TPC-H Q18 shape: large-quantity orders via HAVING over the
    // lineitem aggregate, joined back to order/customer attributes
    Gate("q18_bigorders") { (s, dir) =>
      val big = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"), count(lit(1)).as("n_items"))
        .filter(col("total_qty") > 150.0)
      big.join(s.read.parquet(s"$dir/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
        .join(s.read.parquet(s"$dir/customer.parquet"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("orderdate_us"),
          col("n_items"), col("total_qty"))
    } {
      // TPC-H Q18 shape: HAVING over the per-order quantity aggregate
      """SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate) AS orderdate_us,
        |       n_items, total_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty,
        |             CAST(count(*) AS BIGINT) AS n_items
        |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150.0) b
        |JOIN orders ON b.l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin
    },
    Gate("q4_priority") { (s, dir) =>
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      orders.join(li,
          col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    } {
      // TPC-H Q4 shape: order-priority counts gated by a lineitem
      // existence semi-join
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin
    },
    Gate("q14_promo") { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      val part = s.read.parquet(s"$dir/part.parquet")
      val rev = col("l_extendedprice").cast("decimal(20,2)") *
        (lit(1.0) - col("l_discount")).cast("decimal(20,2)")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(20,2)"))).as("_p"),
          sum(rev).as("_t"))
        .select(col("n_items"),
          col("_p").cast("double").as("promo_revenue"),
          col("_t").cast("double").as("total_revenue"),
          ((lit(100.0) * col("_p").cast("double")) / col("_t").cast("double")).as("promo_share"))
    } {
      // TPC-H Q14 shape: promo revenue share in a ship window,
      // decimal-exact sums, doubles last
      """WITH j AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(1.0 - l_discount AS DECIMAL(20,2)) AS rev,
        |         p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_items,
        |         sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(20,2)) END) AS p,
        |         sum(rev) AS t
        |  FROM j)
        |SELECT n_items, CAST(p AS DOUBLE) AS promo_revenue, CAST(t AS DOUBLE) AS total_revenue,
        |       (100.0 * CAST(p AS DOUBLE)) / CAST(t AS DOUBLE) AS promo_share
        |FROM a""".stripMargin
    },
    // TPC-H Q6 shape: the pure predicate-pushdown scan-aggregate — every
    // filter reaches the parquet scan, one map-side-combined 1-row agg
    Gate("q6_revenue") { (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24.0)
        .agg(count(lit(1)).cast("long").as("n_items"),
          sum(col("l_extendedprice").cast("decimal(20,2)") * col("l_discount").cast("decimal(20,2)"))
            .cast("double").as("revenue"))
    } {
      // TPC-H Q6 shape: pushdown scan-aggregate, decimal-exact revenue
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(l_discount AS DECIMAL(20,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin
    },
    // TPC-H Q8 shape: national market share — the deepest join tree in
    // the suite (lineitem x part x orders x customer x nation x region x
    // supplier x nation); dims broadcast, fact joins shuffle on their
    // keys, revenue stays decimal-exact until the final division
    Gate("q8_marketshare") { (s, dir) =>
      val custNations = s.read.parquet(s"$dir/nation.parquet")
        .join(broadcast(s.read.parquet(s"$dir/region.parquet")
          .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nkey"))
      val vol = col("l_extendedprice").cast("decimal(20,2)") *
        (lit(1.0) - col("l_discount")).cast("decimal(20,2)")
      s.read.parquet(s"$dir/lineitem.parquet")
        .join(broadcast(s.read.parquet(s"$dir/part.parquet")
          .filter(col("p_type") === "ECONOMY")), col("l_partkey") === col("p_partkey"))
        .join(s.read.parquet(s"$dir/orders.parquet")
          .filter(col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(s.read.parquet(s"$dir/customer.parquet"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNations), col("c_nationkey") === col("c_nkey"))
        .join(s.read.parquet(s"$dir/supplier.parquet"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(s.read.parquet(s"$dir/nation.parquet")
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0).cast("decimal(20,2)"))).as("_n"),
          sum(vol).as("_t"))
        .select(col("o_year"),
          col("_n").cast("double").as("nation_volume"),
          col("_t").cast("double").as("total_volume"),
          (col("_n").cast("double") / col("_t").cast("double")).as("mkt_share"))
    } {
      // TPC-H Q8 shape: national market share, decimal-exact volumes,
      // one final double division
      """WITH j AS (
        |  SELECT year(o_orderdate) AS o_year,
        |         CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(1.0 - l_discount AS DECIMAL(20,2)) AS vol,
        |         n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= '1995-01-01' AND o_orderdate < '1997-01-01')
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE CAST(0 AS DECIMAL(20,2)) END) AS DOUBLE) AS nation_volume,
        |  CAST(sum(vol) AS DOUBLE) AS total_volume,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE CAST(0 AS DECIMAL(20,2)) END) AS DOUBLE)
        |    / CAST(sum(vol) AS DOUBLE) AS mkt_share
        |FROM j GROUP BY o_year""".stripMargin
    },
    // TPC-H Q13 shape: customer order-count distribution through a LEFT
    // OUTER join — customers with zero (filtered) orders must survive
    // as c_count = 0 rows, the outer-join null semantics the inner-join
    // shapes never exercise
    Gate("q13_orderdist") { (s, dir) =>
      val c = s.read.parquet(s"$dir/customer.parquet").select(col("c_custkey"))
      val o = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips outer nulls
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    } {
      // TPC-H Q13 shape: LEFT OUTER order counts, zero-order customers kept
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) d
        |GROUP BY c_count""".stripMargin
    },
    // TPC-H Q15 shape: top supplier by window revenue — the scalar-max
    // subquery decorrelates to a 1-row aggregate joined back on the
    // EXACT decimal revenue (cross-engine equality is only safe because
    // the sum never leaves decimal before the comparison)
    Gate("q15_topsupplier") { (s, dir) =>
      val rev = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(20,2)")).as("_rev"))
      val mx = rev.agg(max(col("_rev")).as("_mx"))
      rev.join(broadcast(mx), col("_rev") === col("_mx"))
        .join(s.read.parquet(s"$dir/supplier.parquet"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("_rev").cast("double").as("total_revenue"))
    } {
      // TPC-H Q15 shape: scalar-max revenue selection on the exact decimal
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(1.0 - l_discount AS DECIMAL(20,2))) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE r = (SELECT max(r) FROM rev)""".stripMargin
    },
    // TPC-H Q17 shape: small-quantity revenue for one brand — the
    // correlated per-part avg-quantity subquery decorrelated into a
    // grouped aggregate joined back; the "< 0.2·avg" decision is the
    // exact cross-multiplication 5·qty·n < Σqty, so no float mean exists
    Gate("q17_smallqty") { (s, dir) =>
      val pk = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      val stats = li.groupBy(col("l_partkey").as("_pk"))
        .agg(sum(col("l_quantity").cast("decimal(20,2)")).as("_sq"),
          count(lit(1)).cast("decimal(10,0)").as("_n"))
      li.join(broadcast(stats), col("l_partkey") === col("_pk"))
        .filter(col("l_quantity").cast("decimal(20,2)") * col("_n") * lit(5) < col("_sq"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(20,2)")).as("_s"))
        .select(col("n_items"), (col("_s").cast("double") / 5.0).as("avg_period_revenue"))
    } {
      // TPC-H Q17 shape: exact cross-multiplied "< 0.2 * avg(qty)" decision
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1'),
        |st AS (
        |  SELECT l_partkey AS pk, sum(CAST(l_quantity AS DECIMAL(20,2))) AS sq,
        |         CAST(count(*) AS DECIMAL(10,0)) AS n
        |  FROM li GROUP BY l_partkey),
        |f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_items,
        |         sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS s
        |  FROM li JOIN st ON l_partkey = pk
        |  WHERE CAST(l_quantity AS DECIMAL(20,2)) * n * 5 < sq)
        |SELECT n_items, CAST(s AS DOUBLE) / 5.0 AS avg_period_revenue FROM f""".stripMargin
    },
    // TPC-H Q19 shape: disjunction of brand/size/quantity bands spanning
    // BOTH join sides — the OR can't push below the join, so the plan
    // must carry it as a post-join filter over the broadcast part dim
    Gate("q19_disjunct") { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val part = s.read.parquet(s"$dir/part.parquet")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1.0, 11.0)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10.0, 20.0)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20.0, 30.0)))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0) - col("l_discount")).cast("decimal(20,2)")).cast("double").as("revenue"))
    } {
      // TPC-H Q19 shape: OR-of-ANDs spanning both join sides
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(1.0 - l_discount AS DECIMAL(20,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1.0 AND 11.0)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10.0 AND 20.0)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin
    },
    // TPC-H Q22 shape: above-average-balance customers with no URGENT
    // orders — a 1-row broadcast stats join (the hotspot_cells total
    // convention), the exact cross-multiplied "> avg" decision, and an
    // anti-join (the priority predicate keeps the survivor set nonempty
    // at every test scale factor, unlike the literal "no orders at all")
    // TPC-H Q12 plan shape (shipmode/commit dates absent from the test
    // schema): one fact-fact equi-join + conditional two-way counts —
    // the CASE-inside-sum partial-aggregation pattern
    Gate("q12_shape") { (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
        .join(s.read.parquet(s"$dir/orders.parquet")
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >= col("o_orderdate"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("low_line_count"))
    } {
      // TPC-H Q22 shape: above-average balance + NOT EXISTS anti-join
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= o_orderdate
        |GROUP BY l_returnflag""".stripMargin
    },
    // TPC-H Q21 plan shape (waiting suppliers): the famous double
    // self-join on the fact table — EXISTS (another supplier in the
    // order) as a left-semi join, NOT EXISTS (another LATE supplier) as
    // a left-anti join, then broadcast dims. Lateness adapts to the test
    // schema (no receipt/commit dates): shipped > 60 days after order.
    Gate("q21_shape") { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val late = li
        .join(s.read.parquet(s"$dir/orders.parquet")
            .filter(col("o_orderstatus") === "F").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey").as("lk"), col("l_suppkey").as("ls"))
      val waiting = late
        .join(li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2")),
          col("k2") === col("lk") && col("s2") =!= col("ls"), "left_semi")
        .join(late.select(col("lk").as("k3"), col("ls").as("s3")),
          col("k3") === col("lk") && col("s3") =!= col("ls"), "left_anti")
      waiting
        .join(broadcast(s.read.parquet(s"$dir/supplier.parquet")), col("ls") === col("s_suppkey"))
        .join(broadcast(s.read.parquet(s"$dir/nation.parquet")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    } {
      """WITH late AS (
        |  SELECT l_orderkey AS lk, l_suppkey AS ls
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT n_name, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1
        |JOIN supplier ON s_suppkey = l1.ls
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.lk AND l2.l_suppkey <> l1.ls)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.lk = l1.lk AND l3.ls <> l1.ls)
        |GROUP BY n_name, s_name""".stripMargin
    },
    Gate("q22_idle") { (s, dir) =>
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val stats = cust.filter(col("c_acctbal") > 0.0)
        .agg(sum(col("c_acctbal").cast("decimal(20,2)")).as("_sb"),
          count(lit(1)).cast("decimal(10,0)").as("_nb"))
      cust.crossJoin(broadcast(stats))
        .filter(col("c_acctbal").cast("decimal(20,2)") * col("_nb") > col("_sb"))
        .join(s.read.parquet(s"$dir/orders.parquet")
            .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast("decimal(20,2)")).cast("double").as("totacctbal"))
    } {
      """WITH stats AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(20,2))) AS sb,
        |         CAST(count(*) AS DECIMAL(10,0)) AS nb
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |       CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS totacctbal
        |FROM customer, stats
        |WHERE CAST(c_acctbal AS DECIMAL(20,2)) * nb > sb
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin
    },
    // TPC-H Q2 shape (adapted: no partsupp table — lineitem is the
    // part↔supplier relation, min l_extendedprice plays supplycost):
    // min-per-group scalar subquery decorrelated to an aggregate +
    // equality join-back, suppliers restricted to one region through
    // the broadcast supplier⋈nation⋈region dim chain
    Gate("q2_mincost") { (s, dir) =>
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(s.read.parquet(s"$dir/nation.parquet")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(s.read.parquet(s"$dir/region.parquet")
            .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val pk = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_type") === "SMALL").select(col("p_partkey"), col("p_name"))
      // offers feeds the per-part minima AND the join-back probe side —
      // shared, so the lineitem scan + broadcast joins run once
      val offers = graft.operators.Share.materialize(
        s.read.parquet(s"$dir/lineitem.parquet")
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
          .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
            col("l_extendedprice")))
      val minp = offers.groupBy(col("p_partkey").as("_pk"))
        .agg(min(col("l_extendedprice")).as("_minp"))
      offers.join(broadcast(minp),
          col("p_partkey") === col("_pk") && col("l_extendedprice") === col("_minp"))
        .groupBy(col("p_partkey").cast("long").as("partkey"), col("p_name"),
          col("s_name"), col("n_name"))
        .agg(min(col("l_extendedprice")).as("min_price"))
    } {
      // TPC-H Q2 shape: min-per-group decorrelated to aggregate + join-back
      """WITH sup AS (
        |  SELECT s_suppkey, s_name, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |pk AS (SELECT p_partkey, p_name FROM part WHERE p_type = 'SMALL'),
        |offers AS (
        |  SELECT p_partkey, p_name, s_name, n_name, l_extendedprice
        |  FROM lineitem JOIN sup ON l_suppkey = s_suppkey
        |  JOIN pk ON l_partkey = p_partkey),
        |minp AS (SELECT p_partkey AS pk2, min(l_extendedprice) AS mp FROM offers GROUP BY 1)
        |SELECT CAST(p_partkey AS BIGINT) AS partkey, p_name, s_name, n_name,
        |       min(l_extendedprice) AS min_price
        |FROM offers JOIN minp ON p_partkey = pk2 AND l_extendedprice = mp
        |GROUP BY 1, 2, 3, 4""".stripMargin
    },
    // TPC-H Q9 shape (supplycost term dropped with partsupp): profit by
    // (nation, order year) through the deepest join tree in the suite —
    // two broadcast dims (filtered part, supplier⋈nation) + the genuine
    // lineitem⋈orders shuffle on orderkey
    Gate("q9_profit") { (s, dir) =>
      val pk = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_name").like("%gear%")).select(col("p_partkey"))
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(s.read.parquet(s"$dir/nation.parquet")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      s.read.parquet(s"$dir/lineitem.parquet")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(20,2)"))
          .cast("double").as("profit"))
    } {
      // TPC-H Q9 shape: profit by (nation, order year), supplycost dropped
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(1.0 - l_discount AS DECIMAL(20,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2""".stripMargin
    },
    // TPC-H Q11 shape (lineitem revenue plays partsupp value): per-part
    // value for one nation's suppliers, kept only above 1/500 of the
    // global total — the HAVING-scalar-subquery pattern, decided by
    // exact decimal cross-multiplication
    Gate("q11_concentration") { (s, dir) =>
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .filter(col("s_nationkey") === 3).select(col("s_suppkey"))
      val pv = s.read.parquet(s"$dir/lineitem.parquet")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(20,2)")).as("_v"))
      val tot = pv.agg(sum(col("_v").cast("decimal(38,4)")).as("_t"))
      pv.crossJoin(broadcast(tot))
        // pinned precisions on both sides of the cross-multiplication:
        // DuckDB promotes an over-38-wide decimal product to DOUBLE, so
        // the compare must stay inside exact decimal range in BOTH
        // engines — (30,4)·500 and the (38,4) total do
        .filter(col("_v").cast("decimal(30,4)") * lit(500) > col("_t"))
        .select(col("l_partkey").cast("long").as("partkey"),
          col("_v").cast("double").as("value"))
    } {
      // TPC-H Q11 shape: HAVING-scalar-subquery via exact decimal
      // cross-multiplication at pinned precision on both sides
      """WITH pv AS (
        |  SELECT l_partkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(20,2)) * CAST(1.0 - l_discount AS DECIMAL(20,2))) AS v
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey = 3 GROUP BY 1),
        |tot AS (SELECT sum(CAST(v AS DECIMAL(38,4))) AS t FROM pv)
        |SELECT CAST(l_partkey AS BIGINT) AS partkey, CAST(v AS DOUBLE) AS value
        |FROM pv, tot WHERE CAST(v AS DECIMAL(30,4)) * 500 > t""".stripMargin
    },
    // TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    // with the NOT-IN supplier exclusion as a broadcast anti-join
    Gate("q16_suppcnt") { (s, dir) =>
      val badSup = s.read.parquet(s"$dir/supplier.parquet")
        .filter(col("s_acctbal") < 500.0).select(col("s_suppkey"))
      val pk = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_brand") =!= "Brand#1" && col("p_size") <= 20)
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(badSup), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).cast("long").as("supplier_cnt"))
    } {
      // TPC-H Q16 shape: NOT-IN supplier exclusion + distinct counts
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size <= 20
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500.0)
        |GROUP BY 1, 2, 3""".stripMargin
    },
    // TPC-H Q20 shape: suppliers who shipped > 100 units of any 'small%'
    // part — the EXISTS-over-aggregated-subquery as a semi-join against
    // a grouped quantity table
    Gate("q20_semi") { (s, dir) =>
      val pk = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_name").like("small%")).select(col("p_partkey"))
      val qualified = s.read.parquet(s"$dir/lineitem.parquet")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(20,2)")).as("_q"))
        .filter(col("_q") > lit(100))
        .select(col("l_suppkey")).distinct()
      s.read.parquet(s"$dir/supplier.parquet")
        .join(qualified, col("s_suppkey") === qualified("l_suppkey"), "left_semi")
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"))
    } {
      // TPC-H Q20 shape: EXISTS over an aggregated subquery as a semi-join
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(20,2))) > 100)""".stripMargin
    },
    // skew-spread join: every lang is a hot key (5 values over the whole
    // corpus); the salted result must equal the plain join bit-for-bit
    Gate("salted_join") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("lang"))
      val dim = docs.groupBy(col("lang")).agg(count(lit(1)).as("lang_docs"))
      SkewJoin.saltedEquiJoin(docs, dim, Seq("lang"), saltFactor = 8)
        .select(col("doc_id"), col("lang"), col("lang_docs"))
    } {
      """WITH dim AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs FROM documents GROUP BY lang)
        |SELECT doc_id, d.lang, lang_docs
        |FROM documents d JOIN dim ON d.lang = dim.lang""".stripMargin
    }
  )
}
