package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator inventory (SURVEY.md §2.2–§2.4).
  *
  * The reference (milenkovicm/ballista_delta) inherits its whole relational
  * surface from DataFusion 50.3 (`src/lib.rs:36` `with_default_features()`);
  * here each family is re-expressed DataFrame-first so Catalyst owns shuffle
  * placement, broadcast selection and pushdown. Every query is paired with a
  * DuckDB oracle in [[oracleSql]]: identical column names, identical ORDER BY,
  * doubles rounded so summation order can't flip the hash compare.
  *
  * Scale notes (100 TB posture):
  *  - dims (region/nation/supplier) are broadcast explicitly;
  *  - fact-fact joins stay as shuffled hash/SMJ on their natural keys;
  *  - aggregations are partial+final automatically (HashAggregateExec);
  *  - every filter/projection is Catalyst-pushed into the parquet scan.
  */
object Relational {

  // ---------------------------------------------------------------------------
  // Aggregation / scan family
  // ---------------------------------------------------------------------------

  /** TPC-H Q1 pricing summary: partial+final hash agg, filter pushed to scan. */
  private def q01Agg(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Projection + filter: both must reach the parquet scan (PushedFilters). */
  private def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "part")
      .filter(col("p_size").between(10, 20) && col("p_retailprice") > 500.0)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_uc"),
        round(col("p_retailprice") * 1.1, 2).as("marked_up"),
        col("p_size"))
      .orderBy(col("p_partkey"))

  // ---------------------------------------------------------------------------
  // Join family
  // ---------------------------------------------------------------------------

  /** TPC-H Q5-ish star join: broadcast the dim chain, shuffle the facts. */
  private def q03JoinMulti(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.read(s, dir, "region")
    val nation = Tables.read(s, dir, "nation")
    val customer = Tables.read(s, dir, "customer")
    val orders = Tables.read(s, dir, "orders")
    val lineitem = Tables.read(s, dir, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** TPC-H Q13-ish: LEFT OUTER join keeps customers with zero orders. */
  private def q04JoinLeft(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.read(s, dir, "customer")
    val orders = Tables.read(s, dir, "orders")
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** RIGHT OUTER: every order row survives even without a matching hot part. */
  private def q05JoinRight(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.read(s, dir, "part").filter(col("p_size") > 40)
    val lineitem = Tables.read(s, dir, "lineitem")
    part
      .join(lineitem, col("p_partkey") === col("l_partkey"), "right")
      .groupBy(col("l_returnflag"))
      .agg(
        count(col("p_partkey")).as("matched_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** FULL OUTER join of two daily aggregates, coalescing both sides. */
  private def q06JoinFull(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.read(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n_orders"))
    val ld = Tables.read(s, dir, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("d"))
      .agg(count(lit(1)).as("n_ships"))
    od.join(ld, Seq("d"), "full")
      .select(
        col("d"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_ships"), lit(0L)).as("n_ships"))
      .orderBy(col("d"))
      .limit(100)
  }

  /** LEFT SEMI = EXISTS: customers having at least one open order. */
  private def q07SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.read(s, dir, "customer")
    val open = Tables.read(s, dir, "orders").filter(col("o_orderstatus") === "O")
    customer
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** LEFT ANTI = NOT EXISTS: customers who never placed a big-ticket order. */
  private def q08AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.read(s, dir, "customer")
    val big = Tables.read(s, dir, "orders").filter(col("o_totalprice") > 300000)
    customer
      .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), round(avg(col("c_acctbal")), 4).as("avg_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Cross join of two tiny dims — BroadcastNestedLoop, bounded output. */
  private def q09CrossJoin(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.read(s, dir, "region").select(col("r_name"))
    val status = Tables.read(s, dir, "orders").select(col("o_orderstatus")).distinct()
    region.crossJoin(status)
      .select(col("r_name"), col("o_orderstatus"))
      .orderBy(col("r_name"), col("o_orderstatus"))
  }

  /** Theta (non-equi) join against an inline VALUES tier table: price-band
    * classification via BroadcastNestedLoopJoin — the band side is tiny by
    * construction, so this stays broadcastable at any fact scale. */
  private def q10ThetaJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tiers = Seq(
      ("T1", 0.0, 50000.0),
      ("T2", 50000.0, 150000.0),
      ("T3", 150000.0, 300000.0),
      ("T4", 300000.0, 1e12)).toDF("tier", "lo", "hi")
    val orders = Tables.read(s, dir, "orders")
    orders
      .join(broadcast(tiers), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("tier"))
  }

  // ---------------------------------------------------------------------------
  // Distinct / grouping sets
  // ---------------------------------------------------------------------------

  private def q11Distinct(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.read(s, dir, "customer")
    val orders = Tables.read(s, dir, "orders")
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("c_mktsegment"), col("o_orderpriority"))
  }

  /** Multi-phase distinct-aggregate rewrite (RewriteDistinctAggregates).
    * Spark's countDistinct(a, b) drops rows where ANY argument is NULL; the
    * oracle mirrors that explicitly with a FILTER clause (DuckDB's
    * count(DISTINCT (a,b)) would otherwise count a struct with NULL fields). */
  private def q12CountDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        countDistinct(col("l_suppkey"), col("l_partkey")).as("n_sp"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** ROLLUP with grouping() indicator; names coalesced so NULL grouping rows
    * sort identically in both engines. */
  private def q13Rollup(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.read(s, dir, "nation")
    val region = Tables.read(s, dir, "region")
    val customer = Tables.read(s, dir, "customer")
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("c_acctbal")), 2).as("bal"),
        count(lit(1)).as("n"),
        grouping(col("r_name")).cast("int").as("g_r"),
        grouping(col("n_name")).cast("int").as("g_n"))
      .select(
        coalesce(col("r_name"), lit("(all)")).as("r_name"),
        coalesce(col("n_name"), lit("(all)")).as("n_name"),
        col("bal"), col("n"), col("g_r"), col("g_n"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** CUBE over two independent dims. grouping() flags are emitted (as in
    * q13) so a genuine data NULL can never collide with the subtotal
    * sentinel, and the ORDER BY (which includes them) is total. */
  private def q14Cube(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("o_totalprice")), 2).as("avg_price"),
        grouping(col("o_orderstatus")).cast("int").as("g_s"),
        grouping(col("o_orderpriority")).cast("int").as("g_p"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("o_orderpriority"),
        col("n"), col("avg_price"), col("g_s"), col("g_p"))
      .orderBy(col("g_s"), col("g_p"), col("o_orderstatus"), col("o_orderpriority"))

  /** Explicit GROUPING SETS via SQL (DataFrame API has no direct form).
    * grouping() flags distinguish data-NULLs from subtotal rows. */
  private def q15GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.views(s, dir, "orders")
    s.sql("""
      SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus,
             coalesce(o_orderpriority, '(all)') AS o_orderpriority,
             count(*) AS n,
             CAST(grouping(o_orderstatus) AS INT) AS g_s,
             CAST(grouping(o_orderpriority) AS INT) AS g_p
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY g_s, g_p, o_orderstatus, o_orderpriority
    """)
  }

  // ---------------------------------------------------------------------------
  // Window functions
  // ---------------------------------------------------------------------------

  /** Ranking family. Window ordering includes the unique key so every rank is
    * deterministic (and engine-agnostic) even under acctbal ties. */
  private def q16WindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.read(s, dir, "customer")
      .select(
        col("c_mktsegment"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("bal"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rk"),
        dense_rank().over(w).as("drk"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"))
      .filter(col("rn") <= 5)
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  /** Frame family: running/windowed aggregates, lag/lead, first/last. */
  private def q17WindowFrames(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = w.rowsBetween(-2, Window.currentRow)
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.read(s, dir, "orders")
      .filter(col("o_custkey") < 50)
      .select(
        col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(running), 2).as("run_total"),
        round(avg(col("o_totalprice")).over(sliding), 4).as("avg3"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        round(first(col("o_totalprice")).over(whole), 2).as("first_price"),
        round(last(col("o_totalprice")).over(whole), 2).as("last_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  // ---------------------------------------------------------------------------
  // Sort / limit / set ops
  // ---------------------------------------------------------------------------

  /** Top-K: Catalyst plans TakeOrderedAndProject — no full sort at scale. */
  private def q18TopK(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(10)

  /** LIMIT + OFFSET pagination on a total order. */
  private def q19Offset(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
      .offset(20)
      .limit(10)

  /** UNION / INTERSECT / EXCEPT in one tagged result. */
  private def q20SetOps(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(s, dir, "orders")
    val a = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val b = orders.filter(col("o_totalprice") > 200000).select(col("o_custkey"))
    val u = a.union(b).distinct().withColumn("op", lit("union"))
    val i = a.intersect(b).withColumn("op", lit("intersect"))
    val e = a.except(b).withColumn("op", lit("except"))
    u.union(i).union(e)
      .select(col("op"), col("o_custkey"))
      .orderBy(col("op"), col("o_custkey"))
  }

  /** Multiset (ALL) set-op variants — duplicate-preserving semantics:
    * unionAll keeps every occurrence, intersectAll keeps min(multiplicity),
    * exceptAll subtracts multiplicities. Result is aggregated to
    * (op, key, multiplicity) so the compare is order-insensitive within
    * the pinned ORDER BY. */
  private def q31SetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(s, dir, "orders")
    val a = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val b = orders.filter(col("o_totalprice") > 150000).select(col("o_custkey"))
    val u = a.unionAll(b).withColumn("op", lit("union_all"))
    val i = a.intersectAll(b).withColumn("op", lit("intersect_all"))
    val e = a.exceptAll(b).withColumn("op", lit("except_all"))
    u.union(i).union(e)
      .groupBy(col("op"), col("o_custkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("op"), col("o_custkey"))
  }

  // ---------------------------------------------------------------------------
  // Subqueries / CTEs (SQL surface — Catalyst decorrelates)
  // ---------------------------------------------------------------------------

  /** Correlated scalar subquery: above-nation-average customers. The avg is
    * rounded to 4 digits in BOTH engines before the comparison so a row
    * within float epsilon of the boundary (summation order differs between
    * Spark shuffles and DuckDB) can't flip membership. */
  private def q21SubqueryScalar(s: SparkSession, dir: String): DataFrame = {
    Tables.views(s, dir, "customer")
    s.sql("""
      SELECT c_custkey, round(c_acctbal, 2) AS bal
      FROM customer c
      WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
        AND c_custkey < 200
      ORDER BY c_custkey
    """)
  }

  /** IN-subquery (rewritten to semi join). */
  private def q22SubqueryIn(s: SparkSession, dir: String): DataFrame = {
    Tables.views(s, dir, "orders", "customer")
    s.sql("""
      SELECT o_orderstatus, count(*) AS n
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """)
  }

  /** CTE + scalar subquery (TPC-H Q15 flavor): top-revenue suppliers.
    * Revenue is summed as DECIMAL(18,6) — exact, order-independent — so the
    * `total_revenue = max(total_revenue)` equality is deterministic in both
    * engines regardless of shuffle/summation order; only the final display
    * value is cast back to DOUBLE. */
  private def q23Cte(s: SparkSession, dir: String): DataFrame = {
    Tables.views(s, dir, "lineitem", "supplier")
    s.sql("""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev_exact
        FROM lineitem
        GROUP BY l_suppkey
      )
      SELECT s_suppkey, s_name,
             round(CAST(rev_exact AS DOUBLE), 2) AS total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE rev_exact = (SELECT max(rev_exact) FROM revenue)
      ORDER BY s_suppkey
    """)
  }

  /** RANGE window frames (value-based bounds — peers by value, not row
    * position) + nth_value: completes the §2.2 frame family next to q17's
    * ROWS frames. */
  private def q28RangeFrames(s: SparkSession, dir: String): DataFrame = {
    val wRange = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"))
      .rangeBetween(-5000, 0)
    val wRows = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.read(s, dir, "orders")
      .filter(col("o_custkey") < 100)
      .select(
        col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        count(lit(1)).over(wRange).as("n_in_band"),
        nth_value(col("o_orderkey"), 2).over(wRows).as("second_key"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** GROUPS window frames (frame bounds count PEER GROUPS — distinct
    * ORDER BY values — not rows or value ranges). DataFusion/DuckDB have
    * them natively; Spark does not (the one §2.2 frame-family gap), so
    * compose: collapse rows to one row per (partition, order-value) group
    * with that group's partial aggregates, index groups with row_number
    * (at group level each order-value is unique, so row_number == the
    * group index dense_rank would give the base rows), run an INTEGER
    * RANGE frame over the group index — `RANGE BETWEEN 1 PRECEDING AND
    * CURRENT ROW` over consecutive indices IS `GROUPS 1 PRECEDING` — and
    * broadcast-join the per-group result back to the base rows. Scales:
    * the window runs over the collapsed group-level table, not the fact. */
  private def q30GroupsFrame(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.read(s, dir, "orders")
      .filter(col("o_custkey") < 100)
      .withColumn("m", date_trunc("month", col("o_orderdate")).cast("date"))
    val grp = base.groupBy(col("o_custkey"), col("m"))
      .agg(
        count(lit(1)).as("mcnt"),
        sum(col("o_totalprice").cast("decimal(18,6)")).as("msum"))
    val gidx = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
    val band = Window.partitionBy(col("o_custkey")).orderBy(col("gi"))
      .rangeBetween(-1, 0)
    val gwin = grp
      .withColumn("gi", row_number().over(gidx))
      .withColumn("band_cnt", sum(col("mcnt")).over(band))
      .withColumn("band_sum",
        round(sum(col("msum")).over(band), 2).cast("double"))
      .select(col("o_custkey"), col("m"), col("band_cnt"), col("band_sum"))
    base
      .join(broadcast(gwin), Seq("o_custkey", "m"))
      .select(
        col("o_custkey"), col("o_orderkey"), col("m"),
        round(col("o_totalprice"), 2).as("price"),
        col("band_cnt"), col("band_sum"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** PIVOT (exceeds reference parity — DataFusion 50 has no PIVOT; Spark's
    * RelationalGroupedDataset.pivot is native). Pivot values are given
    * EXPLICITLY — omitting them adds a whole extra distinct-collect job
    * over the fact table at scale. The oracle lowers the pivot to FILTERed
    * conditional aggregation, which is also what Catalyst plans (one pass,
    * no shuffle beyond the group-by). */
  private def q32Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity").cast("decimal(18,6)")), 2).cast("double"))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
      .orderBy(col("l_returnflag"))

  /** UNPIVOT (melt) — the inverse of q32: wide per-measure columns to long
    * (measure, value) rows via Dataset.unpivot (Spark 3.4+ native; plans
    * as Expand, no shuffle). Values decimal-rounded on both sides. */
  private def q33Unpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.read(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_quantity").cast("decimal(18,6)")), 2).cast("double").as("qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,6)")), 2).cast("double").as("price"),
        round(sum(col("l_discount").cast("decimal(18,6)")), 2).cast("double").as("disc"))
    wide.unpivot(
      ids = Array(col("l_returnflag")),
      values = Array(col("qty"), col("price"), col("disc")),
      variableColumnName = "measure",
      valueColumnName = "v")
      .orderBy(col("l_returnflag"), col("measure"))
  }

  /** TPC-H Q15 flavor (top supplier): a derived revenue view consumed
    * twice — once as the join input, once inside a scalar subquery
    * computing the global max — with membership decided by EQUALITY on
    * the aggregate. The sum must therefore be decimal-exact (order-
    * independent): a double sum can differ in last ulps between the two
    * evaluations and drop the top row nondeterministically. */
  private def q34TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val revenue = Tables.read(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("total_revenue"))
    val maxRev = revenue.agg(max(col("total_revenue")).as("mr"))
    Tables.read(s, dir, "supplier")
      .join(revenue, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(maxRev), col("total_revenue") === col("mr"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total_revenue"), 2).cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q11 flavor (important stock, adapted to the fixture tables):
    * per-part revenue share exceeding a fraction of the global total.
    * The comparison stays in the DECIMAL domain on BOTH sides —
    * `part_sum * 5000 > global_sum` instead of `part_sum > 0.0002 *
    * global_sum` — because scaling by an integer is exact while
    * multiplying by a double fraction is not. */
  private def q35RevenueShare(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.read(s, dir, "lineitem")
    val perPart = li.groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("value"))
    val total = li.agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")).as("grand"))
    perPart.join(broadcast(total))
      .filter(col("value") * 5000 > col("grand"))
      .select(col("l_partkey"), round(col("value"), 2).cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** TPC-H Q21 shape (adapted — the fixture carries no commit/receipt
    * dates, so "kept the order waiting" becomes "sole 'R'-return supplier
    * on a multi-supplier finished order"): one EXISTS plus one NOT EXISTS
    * both correlated into the same fact table — the classic multi-subquery
    * decorrelation stress. Catalyst rewrites them to a semi join + anti
    * join on l_orderkey (no per-row re-scan of lineitem), which is the
    * only shape that survives at 100 TB. */
  /** TPC-H Q20 shape (excess-stock suppliers): nested IN chains with a
    * correlated scalar aggregate at the bottom — the deepest
    * decorrelation shape in the classic suite. The fixture carries no
    * partsupp table, so availability derives from lineitem (all-time
    * shipped quantity per (part, supplier)); the predicate compares it
    * decimal-exact against the 1996 shipped quantity (doubled, so no
    * fractional factor enters the decimal domain). Catalyst decorrelates
    * the whole chain into semi joins + one keyed aggregate — no per-row
    * re-scan (plan-pinned in spirit by q36's EXISTS pin). */
  private def q37ExcessStock(s: SparkSession, dir: String): DataFrame = {
    Tables.views(s, dir, "supplier", "lineitem", "nation", "part")
    s.sql("""
      WITH partsupp AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               sum(CAST(l_quantity AS DECIMAL(18,6))) AS ps_availqty
        FROM lineitem GROUP BY 1, 2)
      SELECT s_suppkey, s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        AND s_suppkey IN (
          SELECT ps_suppkey FROM partsupp
          WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
            AND ps_availqty * 2 > (SELECT sum(CAST(l_quantity AS DECIMAL(18,6)))
                                   FROM lineitem
                                   WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                                     AND l_shipdate >= TIMESTAMP '1996-01-01'
                                     AND l_shipdate < TIMESTAMP '1997-01-01'))
      ORDER BY s_suppkey
    """)
  }

  private def q36BlameSupplier(s: SparkSession, dir: String): DataFrame = {
    Tables.views(s, dir, "supplier", "lineitem", "orders")
    s.sql("""
      SELECT s_name, count(*) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey
        AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 10
    """)
  }

  /** Salted two-phase aggregation — the skew-mitigation pattern for hot
    * grouping keys at scale: phase 1 aggregates on (key, salt) so a hot
    * key's rows spread over N reducers; phase 2 merges the N partials.
    * Results are EXACTLY the plain groupBy (counts/decimal sums are
    * associative), which is what the oracle checks. Salt here derives from
    * a row attribute (deterministic for the gate); production salting uses
    * a random or hash salt — same plan shape. */
  private def q29SaltedAgg(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        count(lit(1)).as("pn"),
        sum(col("l_quantity").cast("decimal(18,6)")).as("pq"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("pn")).as("n"),
        round(sum(col("pq")), 2).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))

  // ---------------------------------------------------------------------------
  // TPC-H classic shapes (adapted to the fixture schema)
  // ---------------------------------------------------------------------------

  /** TPC-H Q7 flavor: shipping volume between customer/supplier nation
    * pairs — two independent broadcast dim chains off the same fact join. */
  private def q24VolumePairs(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.read(s, dir, "nation")
    val lineitem = Tables.read(s, dir, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")))
    lineitem
      .join(Tables.read(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.read(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.read(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cnk"))
      .join(broadcast(nation.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .filter(col("cust_nation") < col("supp_nation"))
      .groupBy(col("cust_nation"), col("supp_nation"), year(col("l_shipdate")).cast("long").as("l_year"))
      // decimal-exact sum (price and discount have 2 decimals → the product
      // is a 4-decimal rational, lossless in DECIMAL(18,6)); the rounded
      // value also decides row membership, so it must be order-independent
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)")), 2)
        .cast("double").as("revenue"))
      .filter(col("revenue") > 50000.0)
      .orderBy(col("cust_nation"), col("supp_nation"), col("l_year"))
  }

  /** TPC-H Q19 flavor: disjunction of conjunctive band predicates across
    * the join — Catalyst splits the common `p_partkey = l_partkey` out and
    * pushes the residual OR; exercises complex predicate pushdown. */
  private def q25Disjunctive(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .join(Tables.read(s, dir, "part"), col("p_partkey") === col("l_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) && col("l_quantity").between(1, 15)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 25) && col("l_quantity").between(10, 25)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 40) && col("l_quantity").between(20, 35)))
      .agg(
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)")), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))

  /** TPC-H Q22 flavor: customers above the global positive-balance average
    * with no big-ticket orders — uncorrelated scalar subquery + anti join. */
  private def q26GlobalAvgAnti(s: SparkSession, dir: String): DataFrame = {
    Tables.views(s, dir, "customer", "orders")
    s.sql("""
      SELECT substring(c_name, 1, 9) AS cntrycode,
             count(*) AS numcust,
             CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
      FROM customer
      WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      GROUP BY substring(c_name, 1, 9)
      ORDER BY cntrycode""")
  }

  /** TPC-H Q17 flavor: small-quantity orders vs 20% of the per-part
    * average — correlated aggregate subquery, decorrelated to a join. */
  private def q27AvgQtyCorrelated(s: SparkSession, dir: String): DataFrame = {
    Tables.views(s, dir, "lineitem", "part")
    s.sql("""
      SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) / 7.0 AS DOUBLE), 2) AS avg_yearly
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#1'
        AND l_quantity < (SELECT round(0.2 * avg(l_quantity), 6)
                          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""")
  }

  // ---------------------------------------------------------------------------
  // oracle SQL (DuckDB dialect) — column names/order MUST match the above
  // ---------------------------------------------------------------------------

  val oracleSql: Map[String, String] = classicOracles ++ Map(
    "q01_agg" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_project" -> """
      SELECT p_partkey, upper(p_brand) AS brand_uc,
             round(p_retailprice * 1.1, 2) AS marked_up, p_size
      FROM part
      WHERE p_size BETWEEN 10 AND 20 AND p_retailprice > 500.0
      ORDER BY p_partkey""",
    "q03_join_multi" -> """
      SELECT r_name, n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             count(*) AS n_items
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name""",
    "q04_join_left" -> """
      SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""",
    "q05_join_right" -> """
      SELECT l_returnflag, count(p_partkey) AS matched_parts, count(*) AS n_rows
      FROM (SELECT * FROM part WHERE p_size > 40) p
        RIGHT JOIN lineitem ON p_partkey = l_partkey
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    "q06_join_full" -> """
      SELECT coalesce(od.d, ld.d) AS d,
             coalesce(n_orders, 0) AS n_orders,
             coalesce(n_ships, 0) AS n_ships
      FROM (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
            FROM orders GROUP BY 1) od
        FULL OUTER JOIN
           (SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_ships
            FROM lineitem GROUP BY 1) ld
        ON od.d = ld.d
      ORDER BY d
      LIMIT 100""",
    "q07_semi_join" -> """
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",
    "q08_anti_join" -> """
      SELECT c_mktsegment, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_bal
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",
    "q09_cross_join" -> """
      SELECT r_name, o_orderstatus
      FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
      ORDER BY r_name, o_orderstatus""",
    "q10_theta_join" -> """
      SELECT tier, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
      FROM orders
        JOIN (VALUES ('T1', 0.0, 50000.0), ('T2', 50000.0, 150000.0),
                     ('T3', 150000.0, 300000.0), ('T4', 300000.0, 1e12))
             tiers(tier, lo, hi)
        ON o_totalprice >= lo AND o_totalprice < hi
      GROUP BY tier
      ORDER BY tier""",
    "q11_distinct" -> """
      SELECT DISTINCT c_mktsegment, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
      ORDER BY c_mktsegment, o_orderpriority""",
    "q12_count_distinct" -> """
      SELECT l_returnflag,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT l_partkey) AS n_part,
             count(DISTINCT (l_suppkey, l_partkey))
               FILTER (WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL) AS n_sp,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",
    "q13_rollup" -> """
      SELECT coalesce(r_name, '(all)') AS r_name,
             coalesce(n_name, '(all)') AS n_name,
             round(sum(c_acctbal), 2) AS bal,
             count(*) AS n,
             CAST(grouping(r_name) AS INT) AS g_r,
             CAST(grouping(n_name) AS INT) AS g_n
      FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY r_name, n_name""",
    "q14_cube" -> """
      SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus,
             coalesce(o_orderpriority, '(all)') AS o_orderpriority,
             count(*) AS n, round(avg(o_totalprice), 2) AS avg_price,
             CAST(grouping(o_orderstatus) AS INT) AS g_s,
             CAST(grouping(o_orderpriority) AS INT) AS g_p
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY g_s, g_p, o_orderstatus, o_orderpriority""",
    "q15_grouping_sets" -> """
      SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus,
             coalesce(o_orderpriority, '(all)') AS o_orderpriority,
             count(*) AS n,
             CAST(grouping(o_orderstatus) AS INT) AS g_s,
             CAST(grouping(o_orderpriority) AS INT) AS g_p
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY g_s, g_p, o_orderstatus, o_orderpriority""",
    "q16_window_rank" -> """
      SELECT * FROM (
        SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS bal,
               row_number() OVER w AS rn,
               rank() OVER w AS rk,
               dense_rank() OVER w AS drk,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cdist
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey))
      WHERE rn <= 5
      ORDER BY c_mktsegment, rn""",
    "q17_window_frames" -> """
      SELECT o_custkey, o_orderkey,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total,
             round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg3,
             round(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS prev_price,
             round(lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS next_price,
             round(first_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS first_price,
             round(last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS last_price
      FROM orders
      WHERE o_custkey < 50
      ORDER BY o_custkey, o_orderkey""",
    "q18_topk" -> """
      SELECT o_orderkey, round(o_totalprice, 2) AS price
      FROM orders
      ORDER BY price DESC, o_orderkey
      LIMIT 10""",
    "q19_offset" -> """
      SELECT c_custkey, c_name
      FROM customer
      ORDER BY c_custkey
      LIMIT 10 OFFSET 20""",
    "q20_set_ops" -> """
      WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
           b AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
      SELECT 'union' AS op, o_custkey FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)
      UNION ALL
      SELECT 'intersect' AS op, o_custkey FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
      UNION ALL
      SELECT 'except' AS op, o_custkey FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
      ORDER BY op, o_custkey""",
    "q31_set_ops_all" -> """
      WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
           b AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
      m AS (
        SELECT 'union_all' AS op, o_custkey FROM (SELECT o_custkey FROM a UNION ALL SELECT o_custkey FROM b)
        UNION ALL
        SELECT 'intersect_all' AS op, o_custkey FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
        UNION ALL
        SELECT 'except_all' AS op, o_custkey FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b))
      SELECT op, o_custkey, count(*) AS n FROM m
      GROUP BY op, o_custkey ORDER BY op, o_custkey""",
    "q21_subquery_scalar" -> """
      SELECT c_custkey, round(c_acctbal, 2) AS bal
      FROM customer c
      WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
        AND c_custkey < 200
      ORDER BY c_custkey""",
    "q22_subquery_in" -> """
      SELECT o_orderstatus, count(*) AS n
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",
    "q23_cte" -> """
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev_exact
        FROM lineitem
        GROUP BY l_suppkey
      )
      SELECT s_suppkey, s_name,
             round(CAST(rev_exact AS DOUBLE), 2) AS total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE rev_exact = (SELECT max(rev_exact) FROM revenue)
      ORDER BY s_suppkey""")

  // lazy: referenced by oracleSql, which is declared earlier in the file
  private lazy val classicOracles: Map[String, String] = Map(
    "q32_pivot" -> """
      SELECT l_returnflag,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_linestatus = 'F'), 2) AS DOUBLE) AS qty_f,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_linestatus = 'O'), 2) AS DOUBLE) AS qty_o
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q33_unpivot" -> """
      WITH wide AS (
        SELECT l_returnflag,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS qty,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS price,
               CAST(round(sum(CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS disc
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, measure, v
      FROM wide UNPIVOT (v FOR measure IN (qty, price, disc))
      ORDER BY l_returnflag, measure""",
    "q30_groups_frame" -> """
      -- this DuckDB build has no GROUPS frames either ("not implemented
      -- yet"), so the oracle computes them FROM THE DEFINITION: for each
      -- row, aggregate over all partition rows whose peer-group index
      -- (dense_rank of the ORDER BY value) is within 1 — deliberately NOT
      -- the group-collapse+RANGE composition the Spark side uses, so the
      -- two sides stay independent.
      WITH base AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               date_trunc('month', o_orderdate) AS m,
               dense_rank() OVER (PARTITION BY o_custkey
                                  ORDER BY date_trunc('month', o_orderdate)) AS g
        FROM orders WHERE o_custkey < 100)
      SELECT b.o_custkey, b.o_orderkey, CAST(b.m AS DATE) AS m,
             round(b.o_totalprice, 2) AS price,
             (SELECT CAST(count(*) AS BIGINT) FROM base b2
              WHERE b2.o_custkey = b.o_custkey AND b2.g BETWEEN b.g - 1 AND b.g) AS band_cnt,
             (SELECT CAST(round(sum(CAST(b2.o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
              FROM base b2
              WHERE b2.o_custkey = b.o_custkey AND b2.g BETWEEN b.g - 1 AND b.g) AS band_sum
      FROM base b
      ORDER BY o_custkey, o_orderkey""",
    "q29_salted_agg" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q28_range_frames" -> """
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
             count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                            RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS n_in_band,
             nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key
      FROM orders WHERE o_custkey < 100
      ORDER BY o_custkey, o_orderkey""",
    "q24_volume_pairs" -> """
      SELECT cust_nation, supp_nation, l_year, revenue FROM (
        SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
               date_part('year', l_shipdate) AS l_year,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND cn.n_name < sn.n_name
        GROUP BY 1, 2, 3)
      WHERE revenue > 50000.0
      ORDER BY cust_nation, supp_nation, l_year""",
    "q25_disjunctive" -> """
      SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
             count(*) AS n
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 25)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 20 AND 35)""",
    "q26_global_avg_anti" -> """
      SELECT substring(c_name, 1, 9) AS cntrycode,
             count(*) AS numcust,
             CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
      FROM customer
      WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      GROUP BY substring(c_name, 1, 9)
      ORDER BY cntrycode""",
    "q27_avg_qty_correlated" -> """
      SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) / 7.0 AS DOUBLE), 2) AS avg_yearly
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#1'
        AND l_quantity < (SELECT round(0.2 * avg(l_quantity), 6)
                          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""",
    "q34_top_supplier" -> """
      WITH revenue AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name,
             CAST(round(total_revenue, 2) AS DOUBLE) AS total_revenue
      FROM supplier JOIN revenue ON s_suppkey = l_suppkey
      WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      ORDER BY s_suppkey""",
    "q35_revenue_share" -> """
      WITH per_part AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS value
        FROM lineitem GROUP BY l_partkey),
      total AS (
        SELECT sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS grand
        FROM lineitem)
      SELECT l_partkey, CAST(round(value, 2) AS DOUBLE) AS value
      FROM per_part, total
      WHERE value * 5000 > grand
      ORDER BY value DESC, l_partkey""",
    "q37_excess_stock" -> """
      WITH partsupp AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               sum(CAST(l_quantity AS DECIMAL(18,6))) AS ps_availqty
        FROM lineitem GROUP BY 1, 2)
      SELECT s_suppkey, s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        AND s_suppkey IN (
          SELECT ps_suppkey FROM partsupp
          WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
            AND ps_availqty * 2 > (SELECT sum(CAST(l_quantity AS DECIMAL(18,6)))
                                   FROM lineitem
                                   WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                                     AND l_shipdate >= TIMESTAMP '1996-01-01'
                                     AND l_shipdate < TIMESTAMP '1997-01-01'))
      ORDER BY s_suppkey""",
    "q36_blame_supplier" -> """
      SELECT s_name, count(*) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey
        AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 10""")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q28_range_frames" -> q28RangeFrames,
    "q29_salted_agg" -> q29SaltedAgg,
    "q30_groups_frame" -> q30GroupsFrame,
    "q32_pivot" -> q32Pivot,
    "q33_unpivot" -> q33Unpivot,
    "q34_top_supplier" -> q34TopSupplier,
    "q35_revenue_share" -> q35RevenueShare,
    "q36_blame_supplier" -> q36BlameSupplier,
    "q37_excess_stock" -> q37ExcessStock,
    "q24_volume_pairs" -> q24VolumePairs,
    "q25_disjunctive" -> q25Disjunctive,
    "q26_global_avg_anti" -> q26GlobalAvgAnti,
    "q27_avg_qty_correlated" -> q27AvgQtyCorrelated,
    "q01_agg" -> q01Agg,
    "q02_filter_project" -> q02FilterProject,
    "q03_join_multi" -> q03JoinMulti,
    "q04_join_left" -> q04JoinLeft,
    "q05_join_right" -> q05JoinRight,
    "q06_join_full" -> q06JoinFull,
    "q07_semi_join" -> q07SemiJoin,
    "q08_anti_join" -> q08AntiJoin,
    "q09_cross_join" -> q09CrossJoin,
    "q10_theta_join" -> q10ThetaJoin,
    "q11_distinct" -> q11Distinct,
    "q12_count_distinct" -> q12CountDistinct,
    "q13_rollup" -> q13Rollup,
    "q14_cube" -> q14Cube,
    "q15_grouping_sets" -> q15GroupingSets,
    "q16_window_rank" -> q16WindowRank,
    "q17_window_frames" -> q17WindowFrames,
    "q18_topk" -> q18TopK,
    "q19_offset" -> q19Offset,
    "q20_set_ops" -> q20SetOps,
    "q31_set_ops_all" -> q31SetOpsAll,
    "q21_subquery_scalar" -> q21SubqueryScalar,
    "q22_subquery_in" -> q22SubqueryIn,
    "q23_cte" -> q23Cte)
}
