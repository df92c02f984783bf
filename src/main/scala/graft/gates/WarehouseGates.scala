package graft
package gates

import graft.operators.Warehouse
import graft.sources.Tables
import SparkEntry.ivfTmpDir

/** Warehouse OLAP: TPC-H-shape plans over the star schema, plus the
  * join pre-flight, manual skew salting and bucketed co-located joins.
  */
object WarehouseGates {

  val gates: Seq[Gate] = Seq(
    // Q1 shape: one scan-bound pass, pushed date filter, 6-group agg
    Gate("wh_pricing_summary", (s, d) =>
      Warehouse.pricingSummary(Tables.table(s, d, "lineitem"))
        .orderBy("l_returnflag", "l_linestatus"),
      // blocklist oracle: the same declared-terms join, per-(doc, term)
      // counts, (c desc, term asc) argmax, integer ppm density
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(SUM(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) " +
        "AS sum_base_cents, " +
        "CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) AS sum_disc_cents, " +
        "CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * " +
        "(1.0 + l_tax) * 100.0) AS BIGINT)) AS BIGINT) AS sum_charge_cents, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) * 1000000 // COUNT(*) " +
        "AS BIGINT) AS avg_qty_ppm FROM lineitem " +
        s"WHERE l_shipdate <= TIMESTAMP '${Warehouse.Q1Cutoff}' " +
        "GROUP BY 1, 2"),
    // Q3 shape: segment dimension broadcast, fact-keyed revenue agg,
    // TakeOrdered global top-10
    Gate("wh_top_orders", (s, d) =>
      Warehouse.topOrders(Tables.table(s, d, "customer"),
        Tables.table(s, d, "orders"), Tables.table(s, d, "lineitem")),
      "WITH cust AS (SELECT c_custkey FROM customer " +
        s"WHERE c_mktsegment = '${Warehouse.Q3Segment}'), " +
        "ord AS (SELECT o_orderkey FROM orders " +
        "JOIN cust ON o_custkey = c_custkey " +
        s"WHERE o_orderdate < TIMESTAMP '${Warehouse.Q3Date}'), " +
        "li AS (SELECT l_orderkey, CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT) AS rev_c FROM lineitem " +
        s"WHERE l_shipdate > TIMESTAMP '${Warehouse.Q3Date}'), " +
        "agg AS (SELECT l_orderkey AS o_orderkey, " +
        "CAST(SUM(rev_c) AS BIGINT) AS revenue_cents FROM li " +
        "JOIN ord ON ord.o_orderkey = li.l_orderkey GROUP BY 1) " +
        "SELECT o_orderkey, revenue_cents FROM agg " +
        s"ORDER BY revenue_cents DESC, o_orderkey ASC LIMIT ${Warehouse.Q3TopK}"),
    // Q5 shape: snowflake dims broadcast, same-nation residual,
    // one nation-keyed aggregate exchange
    Gate("wh_region_revenue", (s, d) =>
      Warehouse.regionRevenue(Tables.table(s, d, "region"),
          Tables.table(s, d, "nation"), Tables.table(s, d, "customer"),
          Tables.table(s, d, "supplier"), Tables.table(s, d, "orders"),
          Tables.table(s, d, "lineitem"))
        .orderBy("n_name"),
      "WITH nat AS (SELECT n_nationkey, n_name FROM nation " +
        "JOIN region ON n_regionkey = r_regionkey " +
        s"WHERE r_name = '${Warehouse.Q5Region}'), " +
        "cust AS (SELECT c_custkey, c_nationkey FROM customer " +
        "JOIN nat ON c_nationkey = n_nationkey), " +
        "supp AS (SELECT s_suppkey, s_nationkey FROM supplier " +
        "JOIN nat ON s_nationkey = n_nationkey), " +
        "ord AS (SELECT o_orderkey, c_nationkey FROM orders " +
        "JOIN cust ON o_custkey = c_custkey " +
        s"WHERE o_orderdate >= TIMESTAMP '${Warehouse.Q5Start}' " +
        s"AND o_orderdate < TIMESTAMP '${Warehouse.Q5End}'), " +
        "sn AS (SELECT s_suppkey, s_nationkey, n_name FROM supp " +
        "JOIN nat ON s_nationkey = n_nationkey) " +
        "SELECT n_name, " +
        "CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents FROM lineitem " +
        "JOIN ord ON l_orderkey = o_orderkey " +
        "JOIN sn ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "GROUP BY 1"),
    // ROLLUP report: grouping-sets Expand plan — leaf + subtotal +
    // grand-total rows in ONE pass, lvl = grouping_id
    Gate("wh_rollup", (s, d) =>
      Warehouse.revenueRollup(Tables.table(s, d, "lineitem"))
        .orderBy("lvl", "l_returnflag", "l_linestatus"),
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS lvl " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"),
    // Q17 shape: decorrelated scalar-agg join — per-part averages
    // joined back to the fact on the same key, exact rational compare
    Gate("wh_small_qty", (s, d) =>
      Warehouse.smallQuantityRevenue(Tables.table(s, d, "part"),
          Tables.table(s, d, "lineitem"))
        .orderBy("p_brand"),
      "WITH li AS (SELECT l_partkey, " +
        "CAST(floor(l_quantity) AS BIGINT) AS qty, " +
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT) AS rev_c FROM lineitem), " +
        "pp AS (SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty, " +
        "CAST(COUNT(*) AS BIGINT) AS n_li FROM li GROUP BY 1) " +
        "SELECT p_brand, CAST(SUM(rev_c) AS BIGINT) AS revenue_cents, " +
        "CAST(COUNT(*) AS BIGINT) AS n_small FROM li " +
        "JOIN pp ON pp.l_partkey = li.l_partkey " +
        "JOIN part ON p_partkey = li.l_partkey " +
        s"WHERE qty * ${Warehouse.Q17Den} * n_li < " +
        s"sum_qty * ${Warehouse.Q17Num} GROUP BY 1"),
    // join pre-flight: exact join cardinality + skew advisor over
    // orders⋈lineitem — key-cardinality-sized work, 1-row verdict
    Gate("wh_join_stats", (s, d) =>
      Warehouse.joinStats(Tables.table(s, d, "orders"),
        Tables.table(s, d, "lineitem"), "o_orderkey", "l_orderkey"),
      "WITH lc AS (SELECT o_orderkey AS k, COUNT(*) AS cl FROM orders " +
        "GROUP BY 1), " +
        "rc AS (SELECT l_orderkey AS k, COUNT(*) AS cr FROM lineitem " +
        "GROUP BY 1), " +
        "ls AS (SELECT CAST(SUM(cl) AS BIGINT) AS n_left, " +
        "CAST(COUNT(*) AS BIGINT) AS n_left_keys, " +
        "CAST(MAX(cl) AS BIGINT) AS max_left_key FROM lc), " +
        "rs AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_right, " +
        "CAST(COUNT(*) AS BIGINT) AS n_right_keys, " +
        "CAST(MAX(cr) AS BIGINT) AS max_right_key FROM rc), " +
        "js AS (SELECT CAST(COALESCE(SUM(cl * cr), 0) AS BIGINT) " +
        "AS join_rows FROM lc JOIN rc ON rc.k = lc.k), " +
        "c AS (SELECT *, CAST(CASE WHEN n_left >= n_right THEN " +
        "max_left_key * 1000000 // GREATEST(n_left, 1) ELSE " +
        "max_right_key * 1000000 // GREATEST(n_right, 1) END AS BIGINT) " +
        "AS skew_ppm FROM ls, rs, js) " +
        "SELECT n_left, n_right, n_left_keys, n_right_keys, join_rows, " +
        "max_left_key, max_right_key, skew_ppm, " +
        s"CASE WHEN skew_ppm > ${Warehouse.JoinSkewPpm} THEN 'salt' " +
        s"WHEN LEAST(n_left, n_right) <= ${Warehouse.JoinBroadcastRows} " +
        "THEN 'broadcast' ELSE 'shuffle' END AS hint FROM c"),
    // Q4 shape: EXISTS as LEFT SEMI with a cross-table residual
    Gate("wh_order_priority", (s, d) =>
      Warehouse.orderPriority(Tables.table(s, d, "orders"),
          Tables.table(s, d, "lineitem"))
        .orderBy("o_orderpriority"),
      "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders " +
        "FROM orders o " +
        s"WHERE o_orderdate >= TIMESTAMP '${Warehouse.Q4Start}' " +
        s"AND o_orderdate < TIMESTAMP '${Warehouse.Q4End}' " +
        "AND EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > o.o_orderdate) GROUP BY 1"),
    // Q21 shape: the correlated EXISTS / NOT EXISTS chain — LEFT SEMI
    // + LEFT ANTI self-legs over the shared (order, supplier, late)
    // relation, dims broadcast onto supplier-keyed counts
    Gate("wh_late_suppliers", (s, d) =>
      Warehouse.waitingSuppliers(Tables.table(s, d, "nation"),
        Tables.table(s, d, "supplier"), Tables.table(s, d, "orders"),
        Tables.table(s, d, "lineitem")),
      // Q21 oracle: the literal correlated EXISTS / NOT EXISTS pair over
      // the shared F-order (orderkey, suppkey, late) relation — the
      // operator's semi/anti legs compile exactly this
      "WITH li AS (SELECT l_orderkey, l_suppkey, " +
        "l_shipdate > o_orderdate AS late FROM lineitem l " +
        "JOIN orders o ON o.o_orderkey = l.l_orderkey " +
        "WHERE o_orderstatus = 'F'), " +
        "l1 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late), " +
        "b AS (SELECT * FROM l1 WHERE EXISTS (SELECT 1 FROM li x " +
        "WHERE x.l_orderkey = l1.l_orderkey " +
        "AND x.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM li y " +
        "WHERE y.l_orderkey = l1.l_orderkey " +
        "AND y.l_suppkey <> l1.l_suppkey AND y.late)), " +
        "c AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait " +
        "FROM b GROUP BY 1) " +
        "SELECT s.s_name, c.numwait FROM c " +
        "JOIN supplier s ON s.s_suppkey = c.l_suppkey " +
        "JOIN nation n ON n.n_nationkey = s.s_nationkey " +
        s"AND n.n_name = '${Warehouse.Q21Nation}' " +
        "ORDER BY numwait DESC, s_name ASC " +
        s"LIMIT ${Warehouse.Q21TopK}"),
    // MANUAL SKEW SALTING as a gated query — the mitigation the
    // wh_join_stats advisor recommends when one key dominates: the
    // probe spreads each key over 4 salts (whole-row hash — replays
    // identically), the build replicates once per salt, and the
    // result equals the plain join EXACTLY (bag semantics) — which is
    // precisely what the plain-join oracle checks
    Gate("wh_salted_join", (s, d) => {
      import org.apache.spark.sql.functions.{col, count, floor, lit, sum}
      val li = Tables.table(s, d, "lineitem")
        .select(col("l_orderkey"),
          floor(col("l_quantity")).cast("long").as("qty"))
      val ord = Tables.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      operators.Skew.saltedJoin(li, ord, "l_orderkey", "o_orderkey", 4)
        .groupBy("o_orderstatus")
        .agg(sum("qty").as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy("o_orderstatus")
    },
      // salting is an execution detail (salted ≡ plain, exactly) — the
      // plain join gates it
      "SELECT o_orderstatus, CAST(SUM(CAST(floor(l_quantity) " +
        "AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rows " +
        "FROM lineitem JOIN orders ON o_orderkey = l_orderkey " +
        "GROUP BY 1"),
    // co-located fact-fact join over bucketBy tables: the layout
    // that deletes the shuffle from every repeated orderkey join —
    // write once, join shuffle-free forever (PlanSpec-pinned with
    // broadcast disabled); buckets are an execution detail, so the
    // plain join SQL gates it
    Gate("wh_bucketed_join", (s, d) =>
      Warehouse.bucketedRevenue(s, ivfTmpDir(s, d, "bucketed"),
          Tables.table(s, d, "orders"), Tables.table(s, d, "lineitem"))
        .orderBy("o_orderstatus"),
      // bucketing is an execution layout — the oracle is the plain join
      "SELECT o_orderstatus, CAST(SUM(CAST(floor(l_extendedprice * " +
        "(1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) " +
        "AS revenue_cents, CAST(COUNT(*) AS BIGINT) AS n_lineitems " +
        "FROM lineitem JOIN orders ON o_orderkey = l_orderkey " +
        "GROUP BY 1"),
    // Q9 shape: the 5-table product-line profit rollup by
    // (supplier nation, order year) — dims broadcast, one co-keyed
    // fact-fact join, one aggregate exchange
    Gate("wh_product_profit", (s, d) =>
      Warehouse.productProfit(Tables.table(s, d, "nation"),
          Tables.table(s, d, "supplier"), Tables.table(s, d, "part"),
          Tables.table(s, d, "orders"), Tables.table(s, d, "lineitem"))
        .orderBy("nation", "o_year"),
      // Q9 oracle: the same 5-table join, year via extract (UTC session
      // ≡ DuckDB's naive timestamp year), integer-cents revenue
      "WITH p AS (SELECT p_partkey FROM part " +
        s"WHERE p_name LIKE '%${Warehouse.Q9NameToken}%'), " +
        "supp AS (SELECT s_suppkey, n_name FROM supplier " +
        "JOIN nation ON n_nationkey = s_nationkey), " +
        "li AS (SELECT l_orderkey, l_suppkey, " +
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) " +
        "AS BIGINT) AS rev_c FROM lineitem " +
        "JOIN p ON p.p_partkey = lineitem.l_partkey) " +
        "SELECT supp.n_name AS nation, " +
        "CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(SUM(rev_c) AS BIGINT) AS profit_cents, " +
        "CAST(COUNT(*) AS BIGINT) AS n_lineitems FROM li " +
        "JOIN supp ON supp.s_suppkey = li.l_suppkey " +
        "JOIN orders ON o_orderkey = li.l_orderkey " +
        "GROUP BY 1, 2"),
  )
}
