package graft.queriesRelational

import org.apache.spark.sql.functions.{col, floor, lit, when}

import graft.Tables
import graft.queriesRelational.RelationalQueries.Q

/** SQL-text entry point (the engine's full ANSI SQL parser via
  * spark.sql over registered views — a surface the reference has no
  * analogue of) + subquery coverage.
  */
object SqlQueries {

  /** A query written once as SQL text: `spark.sql` over the registered
    * views runs `text`, and the same `text` is its oracle.
    */
  private def sqlQ(name: String, text: String): Q =
    Q(name, (s, dir) => { Tables.registerAll(s, dir); s.sql(text) }, Some(text))

  /** TPC-H Q5-shaped local-supplier volume, written as SQL text and
    * parsed/planned by Catalyst like any DataFrame query. The
    * c_nationkey = s_nationkey condition makes the join graph cyclic —
    * a real join-reorder workout.
    */
  private val q57 = sqlQ("q57_sql_text", """
    SELECT n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    ORDER BY n_name""")

  /** Correlated scalar subquery: parts priced >= 1.05x their type's
    * average (Catalyst de-correlates into an aggregate + join).
    */
  private val q58 = sqlQ("q58_correlated_subquery", """
    SELECT p_partkey, p_type, p_retailprice
    FROM part p
    WHERE p_retailprice >= 1.05 * (
      SELECT floor(avg(p_retailprice) * 1000000 + 0.5) / 1000000.0
      FROM part q WHERE q.p_type = p.p_type)
    ORDER BY p_partkey""")

  /** Uncorrelated IN-subquery + aggregate filter in SQL text. */
  private val q59 = sqlQ("q59_in_subquery", """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      AND o_totalprice > 150000
    ORDER BY o_orderkey""")

  /** B16: explicit GROUPING SETS with grouping() disambiguation (the
    * third shape besides rollup q11 / cube q12).
    */
  private val q68 = sqlQ("q68_grouping_sets", """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY status, priority""")

  /** TPC-H Q2-shaped min-cost-supplier lookup (no partsupp table in
    * this corpus, so lineitem is the part-supplier link): correlated
    * scalar MIN subquery against the outer part key, de-correlated by
    * Catalyst into an aggregate + join. DISTINCT because a supplier
    * can hit the per-part minimum on several lineitems.
    */
  private val q70 = sqlQ("q70_min_cost_supplier", """
    SELECT DISTINCT p_partkey, p_type, s_suppkey, s_name, l_extendedprice AS min_price
    FROM part JOIN lineitem ON l_partkey = p_partkey
      JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size = 15
      AND l_extendedprice = (
        SELECT min(l2.l_extendedprice) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    ORDER BY p_partkey, s_suppkey""")

  /** TPC-H Q8-shaped market share: 6-way join inside a derived table,
    * conditional aggregation over it, exact-cents revenue so the
    * share division is bit-identical across engines.
    */
  private val q71 = sqlQ("q71_market_share", """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(floor(CAST(sum(CASE WHEN nation = 'NATION_1' THEN rev_cents ELSE 0 END) AS DOUBLE)
                 / sum(rev_cents) * 1000000 + 0.5) AS DOUBLE) / 1000000.0 AS mkt_share
    FROM (
      SELECT o_orderdate,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_cents,
             n2.n_name AS nation
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA') t
    GROUP BY year(o_orderdate)
    ORDER BY o_year""")

  /** TPC-H Q20-shaped nesting: IN-subquery over a grouped derived
    * table whose filter is a correlated scalar SUM against the full
    * link table — two de-correlation levels plus an inner IN on part.
    * (0.12 threshold: discriminating but non-empty at sf0.01 AND
    * sf0.1 — 48 and 76 suppliers respectively.)
    */
  private val q72 = sqlQ("q72_part_share_suppliers", """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT sp.l_suppkey FROM (
        SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        GROUP BY l_suppkey, l_partkey) sp
      WHERE sp.qty > 0.12 * (
        SELECT sum(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = sp.l_partkey))
    ORDER BY s_suppkey""")

  /** Correlated EXISTS + NOT EXISTS (TPC-H Q4/Q22 shape): customers
    * with at least one urgent order but no high-line-count order.
    * Catalyst de-correlates both predicates into semi/anti joins —
    * the SQL-text route to the B9 operators, exercised together.
    */
  private val q88 = sqlQ("q88_exists_pair", SQL_Q88)

  private lazy val SQL_Q88 = """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c_custkey
          AND (SELECT count(*) FROM lineitem WHERE l_orderkey = o.o_orderkey) > 6)
    ORDER BY c_custkey"""

  /** TPC-H Q18-shaped large-order customers: HAVING over an exact
    * integer-cents quantity sum (order-proof on both engines).
    */
  private val largeOrdersSql = """
    SELECT c_custkey, o_orderkey,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)/100.0 AS total_qty
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey
    HAVING sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) > 15000
    ORDER BY c_custkey, o_orderkey"""
  private val q109 = sqlQ("q109_large_orders", largeOrdersSql)

  /** TPC-H Q16-shaped supplier variety: distinct suppliers per part
    * (brand, size), excluding a NOT IN supplier subquery — the
    * count-distinct + anti-subquery planning shape.
    */
  private val supplierVarietySql = """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY p_brand, p_size"""
  private val q110 = sqlQ("q110_supplier_variety", supplierVarietySql)

  /** TPC-H Q11-shaped value concentration: parts whose shipped value
    * exceeds 1.1x the MEAN per-part value — a scalar subquery over the
    * same aggregate CTE, threshold floored to exact integer cents.
    * (Mean-relative, not a global fraction: scale-free, so the query
    * selects a real subset at every SF instead of going vacuous.)
    */
  private val valueShareSql = """
    WITH v AS (
      SELECT l_partkey,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS val_c
      FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey AS partkey, CAST(val_c AS DOUBLE)/100.0 AS value
    FROM v
    WHERE val_c > (SELECT CAST(floor(avg(val_c) * 1.1) AS BIGINT) FROM v)
    ORDER BY partkey"""
  private val q111 = sqlQ("q111_value_share", valueShareSql)

  /** TPC-H Q21-shaped "sole late supplier": suppliers whose late
    * shipment (60-day ship-lag proxy — this schema carries no
    * commit/receipt dates) was the ONLY late one in a finished
    * multi-supplier order. The structural workout is the pair of
    * correlated subqueries — one EXISTS, one NOT EXISTS, both also
    * referencing the outer o_orderdate — that Catalyst must
    * de-correlate into semi/anti joins over lineitem.
    */
  private val soleLateSupplierSql = """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name"""
  private val q121 = sqlQ("q121_sole_late_supplier", soleLateSupplierSql)

  /** TPC-H Q22-shaped "lapsed high-balance customers": above-average
    * balance, no order since mid-2000, counted per nation. The
    * above-average comparison cross-multiplies integer cents
    * (cents * n > total_cents) so no engine ever divides — the
    * boundary customer lands on the same side everywhere.
    */
  private val lapsedCustomersSql = """
    WITH ab AS (
      SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_c,
             count(*) AS n
      FROM customer WHERE c_acctbal > 0.0)
    SELECT c_nationkey, count(*) AS numcust,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
    FROM customer, ab
    WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) * n > total_c
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    GROUP BY c_nationkey
    ORDER BY c_nationkey"""
  private val q122 = sqlQ("q122_lapsed_customers", lapsedCustomersSql)

  /** TPC-H Q19-shaped disjunctive predicate revenue: three
    * brand/size/quantity conjunction arms OR-ed across a join — the
    * optimizer workout is pushing the common `p_partkey = l_partkey`
    * through the disjunction while keeping per-arm predicates
    * evaluable post-join.
    */
  private val disjunctiveRevenueSql = """
    SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)"""
  private val q133 = sqlQ("q133_disjunctive_revenue", disjunctiveRevenueSql)

  /** TPC-H Q15-shaped top supplier: revenue per supplier in a
    * 3-month window, then the supplier(s) hitting the maximum via a
    * scalar subquery over the same derived table — all comparisons on
    * exact integer cents.
    */
  private val topSupplierSql = """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_c AS DOUBLE) / 100.0 AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_c = (SELECT max(total_c) FROM rev)
    ORDER BY s_suppkey"""
  private val q134 = sqlQ("q134_top_supplier", topSupplierSql)

  /** TPC-H Q5-shaped local-supplier volume: the classic 6-way
    * join-order exercise (customer-orders-lineitem-supplier-nation-
    * region with the c_nationkey = s_nationkey locality constraint) —
    * Catalyst broadcasts the three dims and hash-joins the two facts;
    * revenue rides exact integer cents.
    */
  private val localVolumeSql = """
    SELECT n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name ORDER BY revenue DESC, n_name"""
  private val q151 = sqlQ("q151_local_volume", localVolumeSql)

  /** TPC-H Q7-shaped nation-pair shipping volume: the self-joined
    * nation dimension (n1 supplier side, n2 customer side) with the
    * symmetric pair predicate, yearly grain via EXTRACT — both
    * directions of trade between two nations.
    */
  private val tradeVolumeSql = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(vol_c) AS DOUBLE) / 100.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS vol_c
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year"""
  private val q152 = sqlQ("q152_trade_volume", tradeVolumeSql)

  /** TPC-H Q10-shaped returned-item report: top-20 customers by
    * revenue lost to returns in a half-year window — group on the
    * full customer grain, order by the exact-cents aggregate with a
    * key tie-break so the LIMIT is deterministic.
    */
  private val returnedItemsSql = """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
           CAST(floor(c_acctbal * 100 + 0.5) / 100.0 AS DOUBLE) AS acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) DESC, c_custkey
    LIMIT 20"""
  private val q153 = sqlQ("q153_returned_items", returnedItemsSql)

  /** Column profiling of the orders table (Profiler.profile): total /
    * null / exact-distinct counts plus string-rendered bounds per
    * column — the validation pass an ingest gate runs. Timestamp
    * bounds ride CAST-to-string, which both engines render as
    * 'yyyy-MM-dd HH:mm:ss'.
    */
  private val q154 = Q("q154_table_profile", (s, dir) => {
    graft.operators.Profiler.profile(
        Tables.load(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"))
      .orderBy(col("col_name"))
  }, Some {
    def one(c: String) = s"""
      SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             CAST(min($c) AS VARCHAR) AS v_min, CAST(max($c) AS VARCHAR) AS v_max
      FROM orders"""
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")
      .map(one).mkString("", "\n      UNION ALL", "\n      ORDER BY col_name")
  })

  /** Referential-integrity audit of the star schema
    * (Profiler.auditReferences): child row count and orphan count per
    * FK edge — all-zero orphans here is the ASSERTION (the synthetic
    * generator is consistent), and the planted-orphan path is proven
    * in ProfilerSpec.
    */
  private val q155 = Q("q155_integrity_audit", (s, dir) => {
    def t(n: String) = Tables.load(s, dir, n)
    graft.operators.Profiler.auditReferences(Seq(
        ("lineitem.l_orderkey->orders", t("lineitem"), "l_orderkey", t("orders"), "o_orderkey"),
        ("lineitem.l_suppkey->supplier", t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey"),
        ("orders.o_custkey->customer", t("orders"), "o_custkey", t("customer"), "c_custkey"),
        ("customer.c_nationkey->nation", t("customer"), "c_nationkey", t("nation"), "n_nationkey"),
        ("nation.n_regionkey->region", t("nation"), "n_regionkey", t("region"), "r_regionkey")))
      .orderBy(col("relationship"))
  }, Some("""
    SELECT 'customer.c_nationkey->nation' AS relationship,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM customer c WHERE c_nationkey IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c.c_nationkey)) AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l WHERE l_suppkey IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l.l_suppkey)) AS BIGINT)
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           CAST((SELECT count(*) FROM nation) AS BIGINT),
           CAST((SELECT count(*) FROM nation n WHERE n_regionkey IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n.n_regionkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey)) AS BIGINT)
    ORDER BY relationship"""))

  /** TPC-H Q9-shaped product-type profit: every part whose name
    * mentions 'bolt', profit per supplier nation per order year. The
    * synthetic schema has no partsupp, so unit cost is modeled as 40%
    * of p_retailprice (documented adaptation) — the shape (5-way join,
    * LIKE filter on the part dim, two-level grain, per-row profit
    * difference) is Q9's. Revenue and cost both ride exact integer
    * cents so the difference is exact.
    */
  private val productProfitSql = """
    SELECT nation, o_year, CAST(sum(amount_c) AS DOUBLE) / 100.0 AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
               - CAST(floor(p_retailprice * l_quantity * 40 + 0.5) AS BIGINT) AS amount_c
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%bolt%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC"""
  private val q157 = sqlQ("q157_product_profit", productProfitSql)

  /** TPC-H Q12-shaped shipping-class priority split: per lineitem
    * class (l_linestatus stands in for the schema's missing
    * l_shipmode), how many lines belong to critical-priority orders
    * vs not, within a one-year ship window — the orders-side CASE
    * aggregation over a fact-fact join that Q12 exercises.
    */
  private val priorityClassSql = """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus"""
  private val q158 = sqlQ("q158_priority_shipclass", priorityClassSql)

  /** TPC-H Q14-shaped promo-revenue share: the percentage of a
    * month's revenue that came from PROMO-type parts. Both the
    * conditional and total sums are exact integer cents; the final
    * percentage is one IEEE division of two exact integers, identical
    * across engines.
    */
  private val promoRevenueSql = """
    SELECT CAST(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN rev_c ELSE 0 END) AS DOUBLE)
             / CAST(sum(rev_c) AS DOUBLE) AS promo_revenue
    FROM (
      SELECT p_type,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_c
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    ) promo"""
  private val q159 = sqlQ("q159_promo_revenue", promoRevenueSql)

  /** TPC-H Q18-shaped large-volume customers: orders whose total line
    * quantity exceeds 180, with customer identity and the order's
    * quantity sum — the classic HAVING-subquery semi-join shape
    * (Catalyst plans the IN as a left-semi hash join on l_orderkey;
    * both lineitem passes are map-side-combined aggregations).
    * Quantities are integer-valued doubles, so their sums are exact;
    * the price rides the integer-cents grid.
    */
  private val bigOrderCustomersSql = """
    SELECT c_name, c_custkey, o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
    GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
    ORDER BY price_c DESC, o_orderkey
    LIMIT 100"""
  private val q167 = sqlQ("q167_big_order_customers", bigOrderCustomersSql)

  /** Distribution-drift monitoring (Profiler.psiDrift): PSI between
    * an even-keyed baseline load of order prices and an odd-keyed
    * current load where a quarter of customers drifted +$500. Eight
    * equi-depth bins from the BASELINE percentiles (exact i/8
    * fractions on the cents grid), both loads binned by the same
    * boundaries, per-bin PSI contributions in integer micro-PSI with
    * ln on the micro-nat grid. The oracle replays the boundary
    * rank-select (q132 pattern), the strict-`>` bin membership, and
    * the same smoothed integer arithmetic.
    */
  private val q166 = Q("q166_psi_drift", (s, dir) => {
    val o = Tables.load(s, dir, "orders")
    val priceC = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
    val baseline = o.where(col("o_orderkey") % 2 === 0).select(priceC.as("v"))
    val current = o.where(col("o_orderkey") % 2 === 1)
      .select((priceC + when(col("o_custkey") % 4 === 0, 50000L)
        .otherwise(0L)).as("v"))
    graft.operators.Profiler.psiDrift(baseline, current, col("v"), nBins = 8)
      .orderBy(col("bin"))
  }, Some("""
    WITH base AS (
      SELECT CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS DOUBLE) AS v
      FROM orders WHERE o_orderkey % 2 = 0),
    cur AS (
      SELECT CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             + CASE WHEN o_custkey % 4 = 0 THEN 50000 ELSE 0 END AS DOUBLE) AS v
      FROM orders WHERE o_orderkey % 2 = 1),
    r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n FROM base),
    gs AS (SELECT DISTINCT n FROM r),
    ps AS (SELECT unnest([0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS p),
    loc AS (SELECT ps.p,
                   CAST(floor(ps.p * (gs.n - 1)) AS BIGINT) + 1 AS lo,
                   least(CAST(floor(ps.p * (gs.n - 1)) AS BIGINT) + 2, gs.n) AS hi,
                   ps.p * (gs.n - 1) - floor(ps.p * (gs.n - 1)) AS frac
            FROM gs CROSS JOIN ps),
    bvals AS (SELECT loc.p,
                   max(CASE WHEN r.rn = loc.lo THEN r.v END) +
                   (max(CASE WHEN r.rn = loc.hi THEN r.v END) -
                    max(CASE WHEN r.rn = loc.lo THEN r.v END)) * max(loc.frac) AS bv
              FROM loc CROSS JOIN r GROUP BY loc.p),
    bb AS (SELECT bin, count(*) AS cnt FROM (
             SELECT r.rn, CAST(sum(CASE WHEN r.v > bvals.bv THEN 1 ELSE 0 END) AS INT) AS bin
             FROM r CROSS JOIN bvals GROUP BY r.rn)
           GROUP BY bin),
    r2 AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM cur),
    cb AS (SELECT bin, count(*) AS cnt FROM (
             SELECT r2.rn, CAST(sum(CASE WHEN r2.v > bvals.bv THEN 1 ELSE 0 END) AS INT) AS bin
             FROM r2 CROSS JOIN bvals GROUP BY r2.rn)
           GROUP BY bin),
    bins AS (SELECT unnest(generate_series(0, 7)) AS bin),
    j AS (SELECT bins.bin,
                 COALESCE(bb.cnt, 0) AS base_cnt,
                 COALESCE(cb.cnt, 0) AS cur_cnt
          FROM bins LEFT JOIN bb ON bins.bin = bb.bin
                    LEFT JOIN cb ON bins.bin = cb.bin),
    t AS (SELECT j.*,
                 CAST(sum(base_cnt) OVER () AS DOUBLE) AS bt,
                 CAST(sum(cur_cnt) OVER () AS DOUBLE) AS ct,
                 CAST(greatest(base_cnt, 1) AS DOUBLE) AS bs,
                 CAST(greatest(cur_cnt, 1) AS DOUBLE) AS cs
          FROM j)
    SELECT CAST(bin AS INT) AS bin, CAST(base_cnt AS BIGINT) AS base_cnt,
           CAST(cur_cnt AS BIGINT) AS cur_cnt,
           CAST(CASE WHEN base_cnt = 0 AND cur_cnt = 0 THEN 0
                     ELSE floor((bs / bt - cs / ct) *
                          floor(ln((bs * ct) / (cs * bt)) * 1000000 + 0.5) + 0.5)
                END AS BIGINT) AS psi_micro
    FROM t ORDER BY bin"""))

  /** TPC-H Q13-shaped customer order-count distribution ("custdist"):
    * LEFT OUTER customer x orders with the predicate IN THE JOIN
    * CONDITION (the Q13 trap — a WHERE would silently drop the
    * zero-order customers the query exists to count), then a
    * histogram of counts. Adapted: this schema has no o_comment, so
    * the join-side filter excludes finished orders ('F'), preserving
    * the shape. Both aggregations are map-side combined; output is
    * bounded by the distinct count values.
    */
  private val q178Sql = """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""
  private val q178 = sqlQ("q178_custdist", q178Sql)

  /** TPC-H Q17-shaped small-quantity-order revenue: lineitems under
    * 20% of their part's average quantity, for one brand, reported
    * as avg yearly revenue. The correlated AVG subquery de-correlates
    * to an aggregate + join on l_partkey. Determinism rewrite: the
    * 20%-of-average comparison cross-multiplies onto the integer
    * centi-quantity grid (5*qty*cnt < sum — no float average
    * boundary), and revenue rides integer cents with `div 7` at the
    * end, so both engines agree bit-for-bit.
    */
  private val q179Sql = """
    WITH li AS (
      SELECT l_partkey,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_i,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
      FROM lineitem),
    pa AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(qty_i) AS BIGINT) AS sum_qty
      FROM li GROUP BY l_partkey)
    SELECT CAST(count(*) AS BIGINT) AS n_small,
           CAST(sum(li.price_c) AS BIGINT) DIV 7 AS avg_yearly_cents
    FROM li
      JOIN pa ON pa.l_partkey = li.l_partkey
      JOIN part p ON p.p_partkey = li.l_partkey
    WHERE p.p_brand = 'Brand#11'
      AND 5 * li.qty_i * pa.cnt < pa.sum_qty"""
  private val q179 = Q("q179_small_quantity_revenue", (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(q179Sql)
  }, Some(q179Sql.replace("DIV 7", "// 7")))

  /** Categorical drift (Profiler.psiCategorical): order-priority mix
    * of an even-keyed baseline vs an odd-keyed current load with
    * 1-URGENT dropped entirely — the vanished-category case a
    * numeric-bin PSI can't express. Full-outer category union
    * (1-URGENT still surfaces, with cur_cnt 0 and the floor-at-1
    * smoothing), micro-nat ln, and micro-PSI contributions, all
    * mirrored by the oracle's integer arithmetic.
    */
  private val q198 = Q("q198_psi_categorical", (s, dir) => {
    val o = Tables.load(s, dir, "orders")
    graft.operators.Profiler.psiCategorical(
        o.where(col("o_orderkey") % 2 === 0),
        o.where(col("o_orderkey") % 2 === 1 && col("o_orderpriority") =!= "1-URGENT"),
        col("o_orderpriority"))
      .orderBy(col("cat"))
  }, Some("""
    WITH b AS (SELECT o_orderpriority AS cat FROM orders WHERE o_orderkey % 2 = 0),
    c AS (SELECT o_orderpriority AS cat FROM orders
          WHERE o_orderkey % 2 = 1 AND o_orderpriority <> '1-URGENT'),
    bc AS (SELECT cat, count(*) AS base_cnt FROM b GROUP BY cat),
    cc AS (SELECT cat, count(*) AS cur_cnt FROM c GROUP BY cat),
    j AS (SELECT COALESCE(bc.cat, cc.cat) AS cat,
                 COALESCE(bc.base_cnt, 0) AS base_cnt,
                 COALESCE(cc.cur_cnt, 0) AS cur_cnt
          FROM bc FULL OUTER JOIN cc ON bc.cat = cc.cat),
    t AS (SELECT CAST(sum(base_cnt) AS BIGINT) AS bt,
                 CAST(sum(cur_cnt) AS BIGINT) AS ct
          FROM j)
    SELECT j.cat, j.base_cnt, j.cur_cnt,
           CAST(floor(
             (greatest(j.base_cnt, 1) / CAST(t.bt AS DOUBLE)
              - greatest(j.cur_cnt, 1) / CAST(t.ct AS DOUBLE))
             * CAST(CAST(floor(ln(
                 (greatest(j.base_cnt, 1) * CAST(t.ct AS DOUBLE))
                 / (greatest(j.cur_cnt, 1) * CAST(t.bt AS DOUBLE)))
                 * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
             + 0.5) AS BIGINT) AS psi_micro
    FROM j, t ORDER BY j.cat"""))

  /** TPC-H Q8-shaped national market share (round 16): of all PROMO-
    * part revenue sold into ASIA-region customers over two years,
    * the share supplied by one nation, per year. The classic
    * two-level aggregation with a conditional numerator; revenue in
    * exact cents, the share quantized on the 1e-6 grid AFTER one
    * double division (numerator and denominator are exact BIGINTs,
    * so both engines divide the same integers). The nation dimension
    * joins twice (customer side for the region, supplier side for
    * the share) — both broadcastable.
    */
  private val marketShareSql = """
    SELECT o_year,
           CAST(CAST(floor(CAST(nation_vol AS DOUBLE) / CAST(total_vol AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS mkt_share
    FROM (
      SELECT o_year,
             sum(CASE WHEN nation = 'NATION_3' THEN vol_c ELSE 0 END) AS nation_vol,
             sum(vol_c) AS total_vol
      FROM (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
               CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS vol_c,
               n2.n_name AS nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
          AND EXTRACT(YEAR FROM o_orderdate) BETWEEN 1996 AND 1997
      ) all_nations
      GROUP BY o_year
    ) shares
    ORDER BY o_year"""
  private val q224 = sqlQ("q224_market_share", marketShareSql)

  /** TPC-H Q13-shaped customer order-count distribution: LEFT join so
    * zero-order customers land in the c_count=0 bucket (the point of
    * Q13), with an excluded order class pushed into the JOIN
    * CONDITION — in the WHERE it would silently turn the outer join
    * inner (the classic Q13 trap). The testdata carries no comment
    * column, so the excluded class is the urgent priority.
    */
  private val custDistSql = """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""
  private val q225 = sqlQ("q225_custdist", custDistSql)

  /** TPC-H Q17-shaped small-quantity-order revenue: the correlated
    * "below 20% of this part's average quantity" subquery, written as
    * the de-correlated per-part aggregate joined back (what Catalyst
    * rewrites the correlated form into — stated directly so both
    * engines run the same shape). Determinism: l_quantity values are
    * integers in doubles, so sum and count are exact and the single
    * avg division is bit-identical; the 0.2 threshold quantizes to
    * integer micro-units BEFORE the strict-< comparison, and the
    * yearly average divides exact total cents by 7.0 once.
    */
  private val smallQtySql = """
    WITH agg AS (
      SELECT l_partkey AS a_partkey,
             CAST(floor(avg(l_quantity) * 0.2 * 1000000 + 0.5) AS BIGINT) AS qlim_u
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(CAST(floor(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 7.0 + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN agg ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#1' AND p_size <= 3
      AND l_quantity * 1000000.0 < CAST(qlim_u AS DOUBLE)"""
  private val q226 = sqlQ("q226_small_qty_revenue", smallQtySql)

  val list: Seq[Q] = Seq(q57, q58, q59, q68, q70, q71, q72, q88, q109, q110, q111,
    q121, q122, q133, q134, q151, q152, q153, q154, q155, q157, q158, q159,
    q166, q167, q178, q179, q198, q224, q225, q226)
}
