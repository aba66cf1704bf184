package graft.operators

import graft.{Gate, Tables}
import graft.wikidata.IdCodec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational/OLAP core (SURVEY.md §2.2) + the wd2sql query patterns
  * (§2.1 W1/W2/W14/W15/W16) expressed over the driver testdata, each with a
  * DuckDB oracle.
  *
  * Conventions that make the DuckDB hash-compare deterministic at any
  * parallelism:
  *   - money/metric sums go through DECIMAL(18,2) (`money`) — decimal sums
  *     are exact and associative, double sums are not; at 1000-way
  *     parallelism a double sum is run-to-run nondeterministic.
  *   - every computed column is aliased identically in Spark and SQL.
  *   - rank/top-k orderings always carry a unique tiebreaker key.
  */
object Relational {

  private def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Final-projection rendering rule: aggregate in DECIMAL (exact,
    * shuffle-order-deterministic), but emit DOUBLE. The driver's comparator
    * renders Spark parquet decimals with full scale ("77.00") and DuckDB
    * decimals as floats ("77.0"), so any trailing-zero decimal output fails
    * the hash even when values are identical. A correctly-rounded double of
    * the same exact decimal is bit-identical in both engines. Every oracle
    * SQL mirrors this with CAST(... AS DOUBLE).
    */
  private def emit(c: Column): Column = c.cast("double")

  /** Shared R34/R35 fixture: the synthesized SCD2 change feed — every
    * sampled order inserts at seq 1, keys ≡0 mod 3 update at seq 2 (price
    * +10), keys ≡0 mod 9 delete at seq 3. R35 is DEFINED as the consumer
    * of R34's history; one builder keeps both gates and both oracles in
    * lockstep. */
  private def scd2ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir).orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), money(col("o_totalprice")).as("price"))
    o.withColumn("op", lit("I")).withColumn("seq", lit(1L))
      .unionByName(o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("price", (col("price") + 10).cast(DecimalType(18, 2)))
        .withColumn("op", lit("U")).withColumn("seq", lit(2L)))
      .unionByName(o.filter(col("o_orderkey") % 9 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(3L)))
  }

  /** The matching WITH-prefix (`ch` feed + `v` lead-window versions) shared
    * by the r34/r35 oracles. */
  private val scd2CteSql =
    """WITH ch AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |    'I' AS op, CAST(1 AS BIGINT) AS seq
      |  FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) + 10,
      |    'U', 2 FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)),
      |    'D', 3 FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 9 = 0
      |), v AS (
      |  SELECT o_orderkey, price, op,
      |    CAST(seq AS BIGINT) AS valid_from,
      |    lead(CAST(seq AS BIGINT)) OVER (PARTITION BY o_orderkey ORDER BY seq) AS valid_to
      |  FROM ch
      |)""".stripMargin

  /** Discounted revenue — the TPC-H workhorse metric. The multiply happens in
    * DECIMAL domain (exact), never on doubles: rounding a double *product* to
    * 2dp lands on .005 boundaries where engines disagree; rounding the raw
    * 2dp-generated columns is the identity.
    */
  // w36/x27 shared churn fixture over the part labels: renames (id%7==3,
  // 3rd char -> 'x'), deletes (id%11==0), adds (id+1e6, 'nw '-prefixed).
  private def fuzzyLabelsV1(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).part
      .select(col("p_partkey").as("id"), col("p_name").as("label"))
  private def fuzzyRenamed(v1: DataFrame): DataFrame =
    v1.filter(pmod(col("id"), lit(7)) === 3)
      .withColumn("label", concat(col("label").substr(1, 2), lit("x"),
        col("label").substr(lit(4), length(col("label")))))
  private def fuzzyAdded(v1: DataFrame): DataFrame =
    v1.select((col("id") + 1000000L).as("id"),
      concat(lit("nw "), col("label")).as("label"))
  private def fuzzyCurrent(v1: DataFrame): DataFrame =
    v1.filter(pmod(col("id"), lit(11)) =!= 0 && pmod(col("id"), lit(7)) =!= 3)
      .unionAll(fuzzyRenamed(v1).filter(pmod(col("id"), lit(11)) =!= 0))
      .unionAll(fuzzyAdded(v1))
  private def fuzzyTerm(v1: DataFrame): String = {
    val base = v1.filter(col("id") === 1).head().getString(1)
    base.substring(0, 2) + "z" + base.substring(3)
  }

  private def revenue(ep: Column, disc: Column): Column =
    money(ep) * (lit(1).cast(DecimalType(18, 2)) - money(disc))

  // ------------------------------------------------------------------ gates

  /** R40 (and R49, whose clone pins the same content): keys ≡ 0 or 1 mod 3. */
  private val r40OracleSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderkey % 3 IN (0, 1)""".stripMargin

  /** R46 (and X16, its streamed form): the planted-skew heavy hitters as a
    * plain GROUP BY/HAVING. */
  private[graft] val r46OracleSql: String =
    """WITH k AS (
      |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN 42
      |              WHEN o_orderkey % 7 = 0 THEN 7
      |              ELSE o_custkey END AS item
      |  FROM orders
      |), t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM k)
      |SELECT item, CAST(count(*) AS BIGINT) AS cnt
      |FROM k, t GROUP BY item, n HAVING count(*) * 21 > n
      |ORDER BY item""".stripMargin

  /** W32 (and W33, its stored index): the typo term, then a brute-force
    * levenshtein scan over the part names. */
  private val w32OracleSql: String =
    """WITH term AS (
      |  SELECT substr(p_name, 1, 2) || 'z' || substr(p_name, 4) AS t
      |  FROM part WHERE p_partkey = 1)
      |SELECT p_partkey AS id, p_name AS label,
      |  CAST(levenshtein(p_name, (SELECT t FROM term)) AS INTEGER) AS dist
      |FROM part
      |WHERE levenshtein(p_name, (SELECT t FROM term)) <= 1
      |ORDER BY id""".stripMargin

  /** W36 (and X27, its streamed form): the changeset arithmetic in SQL, then
    * the brute-force scan over the current labels. */
  private val w36OracleSql: String =
    """WITH cur AS (
      |  SELECT p_partkey AS id,
      |    CASE WHEN p_partkey % 7 = 3
      |         THEN substr(p_name, 1, 2) || 'x' || substr(p_name, 4)
      |         ELSE p_name END AS label
      |  FROM part WHERE p_partkey % 11 <> 0
      |  UNION ALL
      |  SELECT p_partkey + 1000000 AS id, 'nw ' || p_name AS label FROM part
      |), term AS (
      |  SELECT substr(p_name, 1, 2) || 'z' || substr(p_name, 4) AS t
      |  FROM part WHERE p_partkey = 1)
      |SELECT id, label,
      |  CAST(levenshtein(label, (SELECT t FROM term)) AS INTEGER) AS dist
      |FROM cur
      |WHERE levenshtein(label, (SELECT t FROM term)) <= 1
      |ORDER BY id""".stripMargin

  /** X14 (and X15, its streamed form): the rollup recomputed over the
    * post-merge base. */
  private val x14OracleSql: String =
    """WITH v2 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey BETWEEN 100 AND 200
      |         THEN CAST(-1.0 AS DECIMAL(18,2))
      |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
      |  FROM orders WHERE o_orderkey NOT BETWEEN 300 AND 350
      |  UNION ALL
      |  SELECT CAST(1000000000 + range AS BIGINT), CAST(1 AS BIGINT),
      |    CAST(5.0 AS DECIMAL(18,2))
      |  FROM range(5))
      |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM v2 GROUP BY o_custkey""".stripMargin

  /** R60 (and R62, the stats of base + two appends): exact per-column
    * stats of the planted rows. ndv_ok is the in-plan HLL bound (a literal
    * true here, the s2_recall pattern). */
  private val r60OracleSql: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CASE WHEN l_linenumber % 7 = 0 THEN NULL
      |         ELSE l_returnflag END AS l_returnflag
      |  FROM lineitem)
      |SELECT * FROM (
      |  SELECT 'l_orderkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_nulls,
      |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
      |    CAST(min(l_orderkey) AS VARCHAR) AS min_str,
      |    CAST(max(l_orderkey) AS VARCHAR) AS max_str, true AS ndv_ok
      |  FROM src
      |  UNION ALL
      |  SELECT 'l_returnflag', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(l_returnflag) AS BIGINT),
      |    CAST(count(DISTINCT l_returnflag) AS BIGINT),
      |    CAST(min(l_returnflag) AS VARCHAR),
      |    CAST(max(l_returnflag) AS VARCHAR), true
      |  FROM src
      |  UNION ALL
      |  SELECT 'l_suppkey', CAST(count(*) AS BIGINT),
      |    CAST(count(*) - count(l_suppkey) AS BIGINT),
      |    CAST(count(DISTINCT l_suppkey) AS BIGINT),
      |    CAST(min(l_suppkey) AS VARCHAR),
      |    CAST(max(l_suppkey) AS VARCHAR), true
      |  FROM src)
      |ORDER BY "column"""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("r1_pushdown",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_shipdate < TIMESTAMP '2001-01-01'
        |  AND l_quantity > 45""".stripMargin) { (s, dir) =>
      // Filter + projection both reach the parquet scan (PushedFilters/ReadSchema).
      Tables(s, dir).lineitem
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("2001-01-01").cast("timestamp") &&
          col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },

    Gate("r2_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          emit(sum(money(col("l_quantity")))).as("sum_qty"),
          emit(sum(money(col("l_extendedprice")))).as("sum_base_price"),
          emit(sum(revenue(col("l_extendedprice"), col("l_discount")))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },

    Gate("r3_join_agg",
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS rev
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.filter(col("c_mktsegment") === "BUILDING")
        .join(t.orders, col("c_custkey") === col("o_custkey"))
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(emit(sum(revenue(col("l_extendedprice"), col("l_discount")))).as("rev"))
        .orderBy(col("rev").desc, col("l_orderkey"))
        .limit(10)
    },

    Gate("r4_star_join",
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS rev,
        |  count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      // Classic star join: fact shuffles once on s_suppkey; nation/region are
      // broadcast (they are tiny at any scale factor — explicit hint).
      t.lineitem
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          emit(sum(revenue(col("l_extendedprice"), col("l_discount")))).as("rev"),
          count(lit(1)).as("n_items"))
    },

    Gate("r6_antijoin",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      t.customer
        .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },

    Gate("r7_window_topn",
      """SELECT p_brand, p_partkey, CAST(rev AS DOUBLE) AS rev, rk FROM (
        |  SELECT p_brand, p_partkey, rev,
        |    rank() OVER (PARTITION BY p_brand ORDER BY rev DESC, p_partkey) AS rk
        |  FROM (
        |    SELECT p_brand, p_partkey,
        |      sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        |    FROM lineitem JOIN part ON l_partkey = p_partkey
        |    GROUP BY p_brand, p_partkey)
        |) WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      val base = t.lineitem
        .join(t.part, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev"))
      // rank over the exact decimal; emit double + long rank (driver parity)
      val w = Window.partitionBy(col("p_brand")).orderBy(col("rev").desc, col("p_partkey"))
      base.withColumn("rk", rank().over(w)).filter(col("rk") <= 3)
        .select(col("p_brand"), col("p_partkey"), emit(col("rev")).as("rev"),
          col("rk").cast("long").as("rk"))
    },

    Gate("r8_window_running",
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir).orders
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          emit(sum(money(col("o_totalprice"))).over(w)).as("running_spend"))
    },

    Gate("r9_distinct",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
    },

    Gate("r9_approx",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, true AS approx_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      // R9's approx half, driver-visible: approx_count_distinct (HLL++) has
      // no cross-engine-stable value, so the gate hashes the exact count
      // plus an in-plan boolean asserting the sketch landed within 5%
      // relative error — the oracle emits `true` unconditionally, so an
      // out-of-bounds estimate flips the hash red.
      Tables(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          approx_count_distinct(col("l_partkey")).as("__approx"))
        .select(col("l_returnflag"), col("n_parts"),
          (abs(col("__approx") - col("n_parts")).cast("double") <=
            col("n_parts") * lit(0.05)).as("approx_ok"))
    },

    Gate("r10_setops",
      """SELECT nk, 'both' AS tag FROM
        |  (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nk, 'cust_only' AS tag FROM
        |  (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)""".stripMargin) { (s, dir) =>
      val t    = Tables(s, dir)
      val cust = t.customer.select(col("c_nationkey").as("nk"))
      val supp = t.supplier.select(col("s_nationkey").as("nk"))
      cust.intersect(supp).withColumn("tag", lit("both"))
        .unionAll(cust.except(supp).withColumn("tag", lit("cust_only")))
    },

    Gate("r11_condagg",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables(s, dir).events
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"),
          emit(sum(when(col("event_type") === "purchase", money(col("value")))
            .otherwise(money(lit(0))))).as("purchase_value"))
    },

    Gate("r12_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin) { (s, dir) =>
      Tables(s, dir).orders
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(15)
    },

    Gate("r14_nullsafe",
      """SELECT o_orderkey,
        |  CAST(coalesce(sum(CAST(bl_extendedprice AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS big_value,
        |  count(bl_orderkey) AS n_big_items
        |FROM orders LEFT JOIN (
        |  SELECT l_orderkey AS bl_orderkey, l_extendedprice AS bl_extendedprice
        |  FROM lineitem WHERE l_quantity > 49) ON o_orderkey = bl_orderkey
        |GROUP BY o_orderkey""".stripMargin) { (s, dir) =>
      val t   = Tables(s, dir)
      val big = t.lineitem.filter(col("l_quantity") > 49)
        .select(col("l_orderkey").as("bl_orderkey"),
          col("l_extendedprice").as("bl_extendedprice"))
      // Left join manufactures NULLs (orders with no qty-50 item); the
      // aggregate coalesces them away — exercises null-fallback semantics.
      t.orders.join(big, col("o_orderkey") === col("bl_orderkey"), "left")
        .groupBy("o_orderkey")
        .agg(
          emit(coalesce(sum(money(col("bl_extendedprice"))), money(lit(0)))).as("big_value"),
          count(col("bl_orderkey")).as("n_big_items"))
    },

    Gate("r15_percentile",
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.95) AS p95_qty,
        |  quantile_cont(l_extendedprice, 0.5) AS median_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      // exact (sort-based) percentiles; linear interpolation matches
      // DuckDB quantile_cont bit-for-bit on these double inputs
      Tables(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.95)").as("p95_qty"),
          expr("percentile(l_extendedprice, 0.5)").as("median_price"))
    },

    Gate("r20_approx_quantile",
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS median_price,
        |  true AS approx_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      // R15's approx half (same construction as r9_approx): the KLL/GK-style
      // approx_percentile sketch has no cross-engine-stable value, so the
      // gate hashes the exact median plus an in-plan boolean asserting the
      // sketch landed within 1% relative error — the oracle emits `true`
      // unconditionally, so an out-of-bounds estimate flips the hash red.
      // At 100 TB the sketch is the only viable path (exact percentiles
      // sort each group); this gate keeps it honest against the exact value.
      Tables(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("median_price"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("__apx"))
        .select(col("l_returnflag"), col("median_price"),
          (abs(col("__apx") - col("median_price")) <=
            greatest(abs(col("median_price")) * lit(0.01), lit(1e-6))).as("approx_ok"))
    },

    Gate("r21_zorder_roundtrip", "SELECT o_orderkey, o_custkey, o_totalprice FROM orders") { (s, dir) =>
      // z-order clustered write + read-back: the layout must not corrupt,
      // drop, or duplicate a row (the multi-dimensional pruning property
      // itself is spec-asserted on per-file stats — ZOrderSpec)
      val out = graft.Scratch.fresh("r21_z")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      ZOrder.writeClustered(o, Seq("o_custkey", "o_totalprice"), out, partitions = 8)
      s.read.parquet(out)
    },

    Gate("p1_topk_native",
      """SELECT p_brand, p_partkey, CAST(rev AS DOUBLE) AS rev FROM (
        |  SELECT p_brand, p_partkey, rev,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY rev DESC, p_partkey DESC) AS rn
        |  FROM (
        |    SELECT p_brand, p_partkey,
        |      sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        |    FROM lineitem JOIN part ON l_partkey = p_partkey
        |    GROUP BY p_brand, p_partkey)
        |) WHERE rn <= 3""".stripMargin) { (s, dir) =>
      // custom LogicalPlan/Strategy/Exec path (SURVEY §2 P1): bounded
      // per-group heaps instead of full sort + rank
      val t = Tables(s, dir)
      val base = t.lineitem
        .join(t.part, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))).as("rev"))
      graft.plans.TopK.perGroup(base, Seq("p_brand"), Seq("rev", "p_partkey"), k = 3)
        .withColumn("rev", emit(col("rev")))
    },

    Gate("r16_salted_join",
      """SELECT s_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin) { (s, dir) =>
      // salted skew join must produce exactly the rows of the plain join —
      // the salt spreads hot keys across reducers without changing results
      val t = Tables(s, dir)
      SkewJoin.saltedJoin(
          t.lineitem.select("l_orderkey", "l_suppkey", "l_quantity"),
          t.supplier.select("s_suppkey", "s_name").withColumnRenamed("s_suppkey", "l_suppkey"),
          "l_suppkey", salts = 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"), emit(sum(money(col("l_quantity")))).as("qty"))
    },

    Gate("r17_bucketed_join",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      // bucketed managed tables: one write-time shuffle, then co-located
      // joins (the no-Exchange property is spec-asserted; this gates the
      // RESULT against a plain-join oracle)
      val t = Tables(s, dir)
      Bucketing.writeBucketedFresh(s,
        t.orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        "gate_orders_b", "o_custkey", 8)
      Bucketing.writeBucketedFresh(s,
        t.customer.select("c_custkey", "c_mktsegment"),
        "gate_customer_b", "c_custkey", 8)
      Bucketing.table(s, "gate_orders_b")
        .join(Bucketing.table(s, "gate_customer_b"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), emit(sum(money(col("o_totalprice")))).as("total"))
    },

    Gate("r19_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      // OLAP super-aggregates: ROLLUP emits per-group, per-returnflag and
      // grand-total rows in one pass (Expand + single shuffle in Spark)
      Tables(s, dir).lineitem
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), emit(sum(money(col("l_quantity")))).as("qty"))
    },

    Gate("r22_pivot",
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      // pivot = conditional aggregation with a column per pivot value. The
      // value list is EXPLICIT (scale rule: pivot without values runs an
      // extra distinct pass over the corpus to discover columns — at 100 TB
      // the schema must be declared, not inferred). One Expand-free
      // hash-agg pass, same shuffle shape as a plain groupBy.
      Tables(s, dir).lineitem
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(money(col("l_quantity"))))
        .select(col("l_returnflag"),
          emit(col("F")).as("qty_f"), emit(col("O")).as("qty_o"))
    },

    Gate("r23_cube",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      // CUBE = all 2^n grouping-set combinations in one Expand pass +
      // single shuffle (r19's ROLLUP is the hierarchical subset); the
      // grouping columns are non-null in this data, so NULL unambiguously
      // marks the rolled-up dimension.
      Tables(s, dir).lineitem
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), emit(sum(money(col("l_quantity")))).as("qty"))
    },

    Gate("r25_upsert",
      """WITH snap AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |), changes AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, 'D' AS op FROM snap WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000, 'U' FROM snap WHERE o_orderkey % 7 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice + 5, 'I' FROM snap WHERE o_orderkey % 7 = 2
        |)
        |SELECT s.o_orderkey, s.o_custkey, s.o_totalprice FROM snap s
        |WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice FROM changes WHERE op <> 'D'""".stripMargin) { (s, dir) =>
      // CDC apply: a changeset synthesized deterministically from the
      // snapshot itself (keys ≡0 mod 7 deleted, ≡1 updated, ≡2 re-inserted
      // under offset keys), merged via one anti-join + union — the oracle
      // re-derives the merge relationally.
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      val changes =
        o.filter(col("o_orderkey") % 7 === 0).withColumn("op", lit("D"))
          .unionByName(o.filter(col("o_orderkey") % 7 === 1)
            .withColumn("o_totalprice", col("o_totalprice") + 1000)
            .withColumn("op", lit("U")))
          .unionByName(o.filter(col("o_orderkey") % 7 === 2)
            .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
            .withColumn("o_totalprice", col("o_totalprice") + 5)
            .withColumn("op", lit("I")))
      Upsert.applyChanges(o, changes, Seq("o_orderkey"))
    },

    Gate("r26_compaction", "SELECT o_orderkey, o_custkey, o_totalprice FROM orders") { (s, dir) =>
      // small-file compaction round-trip: fragment orders into 64 tiny
      // files, compact via scan-side bin-packing (no shuffle), read back —
      // the rewrite must not corrupt, drop, or duplicate a row. The
      // file-count reduction itself is spec-asserted (CompactionSpec).
      val frag = graft.Scratch.fresh("r26_frag")
      val out  = graft.Scratch.fresh("r26_out")
      Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(64).write.mode("overwrite").parquet(frag)
      Compaction.compact(s, frag, out, targetBytes = 512L * 1024 * 1024)
      s.read.parquet(out)
    },

    Gate("r40_snapshot_commit",
      // R40: version 2 = commit 1 (keys ≡0 mod 3) + appended commit 2 (≡1);
      // the v3 overwrite (≡2) is pinned out by the time-travel read
      r40OracleSql) { (s, dir) =>
      // atomic manifest-log commits + time travel: three commits (base,
      // append, overwrite), then read pinned at v2 — the overwrite in v3
      // must be invisible, and the returned content is exactly commits
      // 1+2 (hash-exact vs the oracle's reconstruction). Crash atomicity
      // (kill mid-commit → old or new, never a mix) is SnapshotTableSpec's
      // injected-crash test.
      val t = graft.Scratch.fresh("r40_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 0))
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 1),
        mode = SnapshotTable.Append)
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 2))
      SnapshotTable.read(s, t, version = 2L)
    },

    Gate("r62_analyze_incremental",
      // R60: exact per-column stats re-derived from the same planted rows;
      // R62: stats of the union, blind to the fold count — the identical
      // derivation as r60's oracle (same planted nulls, same columns), over
      // ALL slices since base+append+append reassembles the whole table.
      r60OracleSql) { (s, dir) =>
      // R62: mergeable ANALYZE — base commit + two appends, each analyze
      // folding ONLY the new files into the persisted sketch state
      // (incremental=true required in-gate). The merged result must equal
      // a from-scratch exact profile on counts/min/max and bound the
      // union-sketch NDV at 10% — then the whole frame replays against
      // DuckDB's re-derivation over the union (stats of the union, blind
      // to how many folds produced them).
      val t = graft.Scratch.fresh("r62_table")
      val li = Tables(s, dir).lineitem.select(
        col("l_orderkey"), col("l_suppkey"),
        when(col("l_linenumber") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("l_returnflag")).as("l_returnflag"),
        pmod(col("l_orderkey"), lit(3)).as("__slice"))
      def slice(k: Int) = li.filter(col("__slice") === k).drop("__slice")
      val cols = Seq("l_orderkey", "l_suppkey", "l_returnflag")
      SnapshotTable.commit(s, t, slice(0))
      val (_, i1) = SnapshotAnalyze.analyzeMergeable(s, t, cols)
      SnapshotTable.commit(s, t, slice(1), SnapshotTable.Append)
      val (_, i2) = SnapshotAnalyze.analyzeMergeable(s, t, cols)
      SnapshotTable.commit(s, t, slice(2), SnapshotTable.Append)
      val (v3, i3) = SnapshotAnalyze.analyzeMergeable(s, t, cols)
      require(!i1 && i2 && i3,
        s"fold pattern must be full,append,append — got ($i1, $i2, $i3)")
      val merged = SnapshotAnalyze.readMergeableProfile(s, t, v3).get.collect()
      val full = SnapshotAnalyze.profile(s, t, cols, v3, exact = true).collect()
        .map(r => r.getString(0) -> r).toMap
      import s.implicits._
      merged.toSeq.map { r =>
        val f = full(r.getString(0))
        require(r.getLong(1) == f.getLong(1) && r.getLong(2) == f.getLong(2) &&
            r.getString(4) == f.getString(4) && r.getString(5) == f.getString(5),
          s"merged exact fields diverged from recompute for ${r.getString(0)}")
        // n_distinct carries the EXACT yardstick (oracle-reproducible);
        // the union-sketch estimate is hash-gated through ndv_ok, the
        // r60 pattern
        (r.getString(0), r.getLong(1), r.getLong(2), f.getLong(3),
          r.getString(4), r.getString(5),
          math.abs(r.getLong(3) - f.getLong(3)).toDouble <= f.getLong(3) * 0.1)
      }.toDF("column", "n_rows", "n_nulls", "n_distinct", "min_str",
          "max_str", "ndv_ok")
        .orderBy("column")
    },

    Gate("r60_analyze",
      // ndv_ok is the in-plan HLL bound (literal true on the oracle side —
      // the s2_recall hash-gated-quality pattern)
      r60OracleSql) { (s, dir) =>
      // R60: ANALYZE on a pinned snapshot version. The gate hashes the
      // EXACT fields (rows/nulls/ndv/min/max per column — DuckDB
      // re-derives them from the same rows) and bounds the HLL sketch
      // in-plan: ndv_ok must be true for every column at rsd=0.02 with a
      // 10% bound (the s2_recall pattern — quality asserted inside the
      // hashed result, not just spec'd). The in-gate require proves the
      // persisted sidecar read back EQUALS the computed profile — the
      // zero-data-I/O read path is what a planner consumes.
      val t = graft.Scratch.fresh("r60_table")
      val li = Tables(s, dir).lineitem
        .select(col("l_orderkey"), col("l_suppkey"),
          // plant nulls so n_nulls bites: every 7th row loses its flag
          when(col("l_linenumber") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("l_returnflag")).as("l_returnflag"))
      SnapshotTable.commit(s, t, li)
      val cols = Seq("l_orderkey", "l_suppkey", "l_returnflag")
      // one exact pass, compared driver-side (3 rows) — re-evaluating the
      // aggregate frame for an `except` would re-scan per comparison
      val profRows = SnapshotAnalyze.profile(s, t, cols, exact = true).collect()
      SnapshotAnalyze.analyze(s, t, cols)
      val persisted = SnapshotAnalyze.readProfile(s, t).get.collect()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getString(4), r.getString(5))
      require(persisted.length == cols.size && persisted.map(key).toSet ==
          profRows.map(key).toSet,
        "persisted ANALYZE sidecar must equal the computed profile")
      import s.implicits._
      profRows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getString(5),
          math.abs(r.getLong(6) - r.getLong(3)).toDouble <= r.getLong(3) * 0.1))
        .toSeq
        .toDF("column", "n_rows", "n_nulls", "n_distinct", "min_str",
          "max_str", "ndv_ok")
        .orderBy("column")
    },

    Gate("r59_merge_evolve",
      // R59: the evolving merge re-derived — survivors with a NULL note,
      // updates overwritten with one, deletes gone, inserts present
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0
        |), upd AS (
        |  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, 'upd' AS o_note
        |  FROM orders WHERE o_orderkey % 10 = 0
        |), del AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 14 = 0 AND o_orderkey % 10 <> 0 AND o_orderkey % 2 = 0
        |), ins AS (
        |  SELECT o_orderkey, o_custkey, 'new' AS o_note
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 9 = 0
        |)
        |SELECT o_orderkey, o_custkey, CAST(NULL AS VARCHAR) AS o_note FROM base
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  AND o_orderkey NOT IN (SELECT o_orderkey FROM del)
        |UNION ALL SELECT * FROM upd
        |UNION ALL SELECT * FROM ins
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // R59: schema-evolving MERGE (Delta autoMerge) — the changeset
      // carries a column the table lacks (o_note): updates overwrite
      // custkey and attach a note, inserts arrive with one, deletes drop
      // rows, and every surviving pre-merge row reads the new column as
      // NULL through the R52 mergeSchema read (untouched files keep their
      // old physical schema — no rewrite amplification from widening).
      // Strict-mode rejection of the same changeset is SnapshotMergeSpec's.
      val t = graft.Scratch.fresh("r59_table")
      val o = Tables(s, dir).orders
      SnapshotTable.commit(s, t,
        o.filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_custkey"))
      val upd = o.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), (col("o_custkey") + 1000000L).as("o_custkey"),
          lit("upd").as("o_note"), lit("U").as("op"))
      val del = o.filter(col("o_orderkey") % 14 === 0 && col("o_orderkey") % 10 =!= 0
          && col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), lit(null).cast("long").as("o_custkey"),
          lit(null).cast("string").as("o_note"), lit("D").as("op"))
      val ins = o.filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("new").as("o_note"), lit("I").as("op"))
      SnapshotTable.merge(s, t, upd.unionByName(del).unionByName(ins),
        Seq("o_orderkey"), evolveSchema = true)
      SnapshotTable.read(s, t, mergeSchema = true)
        .select("o_orderkey", "o_custkey", "o_note")
        .orderBy("o_orderkey")
    },

    Gate("r58_sql_time_travel",
      // R58: latest = the %3=1 overwrite plus the %3=2 append, reached
      // through pure-SQL catalog reads
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <> 0 AND o_custkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // R58: the TableCatalog — an r57-style lifecycle reached from PURE
      // SQL: VERSION AS OF must pin the same manifests the API pins
      // (in-gate require, row-exact both ways), the R44 commit tag
      // resolves through the same clause, and the emitted frame is the
      // SQL latest read with a residual filter. Parser → catalog → pinned
      // parquet scan, no graft classes on the query side; TIMESTAMP AS
      // OF, SHOW TABLES, read-only rejection and plan shapes are
      // GraftCatalogSpec's.
      val t = graft.Scratch.fresh("r58_table")
      val name = new java.io.File(t).getName
      s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_cat.warehouse", new java.io.File(t).getParent)
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 0))
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 1))
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 2),
        mode = SnapshotTable.Append, tag = Some("cut-7"))
      val v1 = s.sql(s"SELECT * FROM graft_cat.`$name` VERSION AS OF 1")
      val api1 = SnapshotTable.read(s, t, 1L)
      require(v1.exceptAll(api1).isEmpty && api1.exceptAll(v1).isEmpty,
        "SQL VERSION AS OF 1 must read exactly what the API reads")
      val tagged = s.sql(s"SELECT * FROM graft_cat.`$name` VERSION AS OF 'cut-7'")
      val latest = s.sql(s"SELECT * FROM graft_cat.`$name`")
      require(tagged.exceptAll(latest).isEmpty && latest.exceptAll(tagged).isEmpty,
        "the tag rides the latest commit: tag read must equal latest read")
      latest.filter(col("o_custkey") % 7 === 0).orderBy("o_orderkey")
    },

    Gate("r57_dsv2_read",
      // R57: latest = the %3=1 overwrite plus the %3=2 append, through the
      // DSv2 connector with a residual filter
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <> 0 AND o_custkey % 5 = 0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // R57: the DataSourceV2 connector end to end — an r55-style
      // lifecycle (overwrite, overwrite, append) read back through
      // `spark.read.format("graft")`: versionAsOf and timestampAsOf must
      // pin exactly the manifests the API reads pin (in-gate require,
      // row-exact via exceptAll both ways), and the emitted frame rides a
      // residual filter over the connector's parquet scan — pushdown /
      // pruning / read-only / isolation plan shapes are GraftSourceSpec's.
      val t = graft.Scratch.fresh("r57_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 0))
      Thread.sleep(5)
      val t1 = System.currentTimeMillis()
      Thread.sleep(5)
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 1))
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 2),
        mode = SnapshotTable.Append)
      val v1 = s.read.format("graft").option("versionAsOf", 1).load(t)
      val asof = s.read.format("graft").option("timestampAsOf", t1.toString).load(t)
      require(v1.exceptAll(asof).isEmpty && asof.exceptAll(v1).isEmpty,
        "timestampAsOf at the v1 boundary must read exactly version 1")
      s.read.format("graft").load(t)
        .filter(col("o_custkey") % 5 === 0)
        .orderBy("o_orderkey")
    },

    Gate("r56_history",
      // R56: the audit trail replayed as literals over the lifecycle's
      // deterministic row counts — parent lineage, modes, the tag and each
      // version's visible rows all pinned
      """WITH c AS (
        |  SELECT count(CASE WHEN o_orderkey % 3 = 0 THEN 1 END) AS c0,
        |         count(CASE WHEN o_orderkey % 3 = 1 THEN 1 END) AS c1,
        |         count(CASE WHEN o_orderkey % 3 = 2 THEN 1 END) AS c2
        |  FROM orders
        |)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(-1 AS BIGINT) AS parent,
        |       'Overwrite' AS mode, '' AS tag, CAST(c0 AS BIGINT) AS n_rows FROM c
        |UNION ALL SELECT 2, 1, 'Append', '', CAST(c0 + c1 AS BIGINT) FROM c
        |UNION ALL SELECT 3, 2, 'Restore', '', CAST(c0 AS BIGINT) FROM c
        |UNION ALL SELECT 4, 3, 'Append', 'batch-7', CAST(c0 + c2 AS BIGINT) FROM c
        |ORDER BY version""".stripMargin) { (s, dir) =>
      // R56: DESCRIBE HISTORY — a fixed lifecycle (overwrite, append,
      // restore-to-v1, tagged append) read back as the audit trail, with
      // each version's visible ROW COUNT joined on so the history rows
      // prove not just what the log says happened but what each version
      // actually holds. Modes, parent lineage and the tag all ride the
      // hash; ts/n_files are env-dependent and in-gate require'd instead.
      val t = graft.Scratch.fresh("r56_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 0))
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 1),
        mode = SnapshotTable.Append)
      SnapshotTable.restore(t, toVersion = 1L)
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 2),
        mode = SnapshotTable.Append, tag = Some("batch-7"))
      val h = SnapshotTable.history(s, t)
      require(h.filter(col("ts_millis").isNull || col("n_files") <= 0).count() == 0,
        "every manifest must carry a commit time and files")
      import s.implicits._
      val counts = SnapshotTable.versions(t).map(v =>
        (v, SnapshotTable.read(s, t, v).count())).toDF("version", "n_rows")
      h.join(counts, Seq("version"))
        .select(col("version"), col("parent"), col("mode"),
          coalesce(col("tag"), lit("")).as("tag"), col("n_rows"))
        .orderBy("version")
    },

    Gate("r55_time_travel",
      // R55: AS OF the post-overwrite boundary sees exactly version 2
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 = 1 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // R55: AS OF TIMESTAMP — three commits with wall-clock boundaries
      // captured between them; reading at the boundary AFTER the overwrite
      // must resolve to version 2 exactly (the appended v3 rows invisible),
      // and the in-gate require pins the v1 boundary too. The sleeps
      // guarantee strictly-later manifest times at millisecond clock
      // resolution. Missing-ts tolerance, skew handling and the
      // before-first-commit error are SnapshotTableSpec's.
      val t = graft.Scratch.fresh("r55_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 0))
      Thread.sleep(5)
      val t1 = System.currentTimeMillis()
      Thread.sleep(5)
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 1))
      Thread.sleep(5)
      val t2 = System.currentTimeMillis()
      Thread.sleep(5)
      SnapshotTable.commit(s, t, o.limit(5), mode = SnapshotTable.Append)
      require(SnapshotTable.versionAsOf(t, t1) == 1L &&
        SnapshotTable.versionAsOf(t, t2) == 2L &&
        SnapshotTable.versionAsOf(t, System.currentTimeMillis()) == 3L,
        "AS OF must resolve each boundary to the version current at it")
      SnapshotTable.readAsOf(s, t, t2).orderBy("o_orderkey")
    },

    Gate("r54_partition_prune",
      // R54: partition + stats pruning must be invisible — the pruned read
      // equals the plain filter (most frequent user × first 7 days)
      """WITH u AS (
        |  SELECT user_id FROM events
        |  GROUP BY user_id ORDER BY count(*) DESC, user_id LIMIT 1
        |),
        |t0 AS (SELECT min(ts) AS ts0 FROM events)
        |SELECT event_id, ts, e.user_id, event_type, value
        |FROM events e, u, t0
        |WHERE e.user_id = u.user_id
        |  AND e.ts >= t0.ts0 AND e.ts < t0.ts0 + INTERVAL 7 DAY
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      // R54: hidden-partition pruning + per-commit spec evolution. Commit 1
      // lays even events out by day(ts); commit 2 APPENDS the odd events
      // under an EVOLVED spec, bucket(user_id, 8) × identity(event_type) —
      // two specs live in one table, no history rewrite. The query
      // predicates on the SOURCE columns only (a 7-day window × the most
      // frequent user); pruning must bite under each file's own spec: the
      // in-gate require proves files were skipped in BOTH commit dirs
      // (day-range pruning in c1, literal-hash bucket pruning in c2). The
      // oracle replays the plain filter — pruning must be invisible to
      // content. Transform bounds, null partitions, escaping and
      // vacuum-recursion safety are SnapshotPartitionsSpec's.
      val t = graft.Scratch.fresh("r54_table")
      val ev = Tables(s, dir).events
        .select("event_id", "ts", "user_id", "event_type", "value")
      SnapshotTable.commit(s, t, ev.filter(col("event_id") % 2 === 0),
        partitionBy = Seq(SnapshotPartitions.Day("ts")))
      SnapshotTable.commit(s, t, ev.filter(col("event_id") % 2 === 1),
        mode = SnapshotTable.Append,
        partitionBy = Seq(SnapshotPartitions.Bucket("user_id", 8),
          SnapshotPartitions.Identity("event_type")))
      val u = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id")).limit(1).head().getLong(0)
      val ts0 = ev.agg(min("ts")).head().getTimestamp(0)
      val ts1 = new java.sql.Timestamp(ts0.getTime + 7L * 86400000L)
      val pred = col("user_id") === u && col("ts") >= lit(ts0) && col("ts") < lit(ts1)
      val (kept, skipped) = SnapshotTable.prunedFiles(s, t, pred)
      val skippedDirs = skipped.map(_.split('/').take(2).mkString("/")).distinct
      require(kept.nonEmpty && skippedDirs.size >= 2,
        s"both specs must prune (kept ${kept.size}, skipped dirs $skippedDirs)")
      SnapshotTable.readPruned(s, t, pred).orderBy("event_id")
    },

    Gate("r53_deletion_vectors",
      // R53: the MoR read equals the plain predicate filter
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 7 <> 0 AND o_custkey % 11 <> 0""".stripMargin) { (s, dir) =>
      // R53: merge-on-read deletes — two cumulative DV batches against a
      // two-commit base; the in-gate require proves NO data file was
      // rewritten (the whole point vs R43's copy-on-write), and the MoR
      // read must equal the plain predicate filter. Fold/compaction,
      // two-axis time travel, idempotent re-delete and the
      // rewrite-resurrection hazard are SnapshotDvSpec's.
      val t = graft.Scratch.fresh("r53_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 2 === 0).coalesce(2))
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 2 === 1).coalesce(2),
        mode = SnapshotTable.Append)
      val filesBefore = SnapshotTable.filesOf(t)
      SnapshotDv.deleteWhere(s, t, col("o_orderkey") % 7 === 0)
      SnapshotDv.deleteWhere(s, t, col("o_custkey") % 11 === 0)
      require(SnapshotTable.filesOf(t) == filesBefore,
        "merge-on-read delete must not rewrite data files")
      SnapshotDv.readMor(s, t).orderBy("o_orderkey")
    },

    Gate("r52_snapshot_evolution",
      // R52: old commit's rows surface with NULL in the later-added column
      """SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 3 = 1""".stripMargin) { (s, dir) =>
      // R52: column-add schema evolution under the manifest log — v1 files
      // predate o_totalprice, the Append's files carry it, and a merged
      // read resolves the union schema with nulls for the old rows. No
      // history rewrite; a pinned v1 read keeps the narrow schema
      // (SnapshotTableSpec). The plain-dir R29 gate covers mergeSchema on
      // raw parquet; this certifies it composed with versioned commits.
      val t = graft.Scratch.fresh("r52_table")
      val o = Tables(s, dir).orders
      SnapshotTable.commit(s, t,
        o.filter(col("o_orderkey") % 3 === 0).select("o_orderkey", "o_custkey"))
      SnapshotTable.commit(s, t,
        o.filter(col("o_orderkey") % 3 === 1)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        mode = SnapshotTable.Append)
      SnapshotTable.read(s, t, mergeSchema = true).orderBy("o_orderkey")
    },

    Gate("r51_bloom_skip",
      // R51: the point lookup's exact rows; skipping is proven in-gate
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""".stripMargin) { (s, dir) =>
      // R51: bloom point-lookup skipping on a layout R42's ranges CANNOT
      // prune — four Append commits each hold one residue class mod 4, so
      // every file's o_orderkey range spans the table, but a point probe
      // hits one residue. The in-gate require proves files were actually
      // skipped; the emitted rows are the exact equality result either
      // way (false positives cost I/O, never rows). Agg/probe bit
      // behavior, merge-OR laws and no-bloom fallback are
      // SnapshotBloomSpec's.
      val t = graft.Scratch.fresh("r51_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      (0 until 4).foreach { i =>
        SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 4 === i).coalesce(1),
          mode = if (i == 0) SnapshotTable.Overwrite else SnapshotTable.Append): Unit
      }
      SnapshotBloom.attach(s, t, Seq("o_orderkey"))
      val key = o.agg(min("o_orderkey")).head().getLong(0)
      val (kept, skipped) = SnapshotBloom.prunedFiles(s, t, "o_orderkey", key)
      require(skipped.size >= 2,
        s"bloom must skip overlapping-range files (kept ${kept.size}, skipped ${skipped.size})")
      SnapshotBloom.readPoint(s, t, "o_orderkey", key)
    },

    Gate("r50_txn_commit",
      // R50: the txn-1 cut is the FULL aggregates of both tables — a torn
      // read resolving either table to txn 2's filtered half breaks the hash
      """SELECT 'nation' AS tbl, CAST(c_nationkey AS VARCHAR) AS key,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM customer GROUP BY c_nationkey
        |UNION ALL
        |SELECT 'status' AS tbl, o_orderstatus AS key,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      // R50: atomic cross-table transaction + cross-table time travel.
      // Txn 1 commits the full per-nation and per-orderstatus aggregates;
      // txn 2 overwrites BOTH with filtered halves. Reading both tables
      // pinned at txn 1 must return the full aggregates — a reader that
      // resolves any table to its per-table latest (txn 2's data) breaks
      // the hash, which is exactly the torn-read the txn log exists to
      // prevent. Crash atomicity (member commits staged, txn publish
      // killed → readers keep the old cut; tagged replay repairs) is
      // SnapshotTxnSpec's injected-crash test.
      val root = graft.Scratch.fresh("r50_txn")
      val t = Tables(s, dir)
      def cuts(cust: org.apache.spark.sql.DataFrame, ord: org.apache.spark.sql.DataFrame) = Seq(
        "nation_counts" -> cust.groupBy("c_nationkey").agg(count(lit(1)).as("cnt")),
        "status_counts" -> ord.groupBy("o_orderstatus").agg(count(lit(1)).as("cnt")))
      SnapshotTxn.commit(s, root, cuts(t.customer, t.orders))
      SnapshotTxn.commit(s, root, cuts(
        t.customer.filter(col("c_custkey") % 2 === 0),
        t.orders.filter(col("o_orderkey") % 2 === 0)))
      SnapshotTxn.readAt(s, root, "nation_counts", txn = 1L)
        .select(lit("nation").as("tbl"), col("c_nationkey").cast("string").as("key"), col("cnt"))
        .unionAll(SnapshotTxn.readAt(s, root, "status_counts", txn = 1L)
          .select(lit("status").as("tbl"), col("o_orderstatus").as("key"), col("cnt")))
        .orderBy("tbl", "key")
    },

    Gate("r47_snapshot_restore",
      // R47: after the restore, only the base commit's rows are visible
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 = 0""".stripMargin) { (s, dir) =>
      // R47: RESTORE — commit the base, clobber it twice (a bad overwrite,
      // then a bad append), restore to v1 and read LATEST. The restore is
      // metadata-only: the in-gate require proves the restored version
      // references EXACTLY v1's file list (no data rewritten), and the
      // oracle sees the original rows — any leakage from the undone
      // versions breaks the hash. Inverse-CDC, vacuum-keeps-restored and
      // CAS behavior are SnapshotRestoreSpec's.
      val t = graft.Scratch.fresh("r47_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 0))
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 1))
      SnapshotTable.commit(s, t, o.limit(5), mode = SnapshotTable.Append)
      val v = SnapshotTable.restore(t, toVersion = 1L)
      require(v == 4L && SnapshotTable.filesOf(t, 4L) == SnapshotTable.filesOf(t, 1L),
        "restore must reference exactly the target version's files")
      SnapshotTable.read(s, t)
    },

    Gate("r64_vacuum",
      // R64: the post-vacuum latest = v2 overwrite + v3 append — vacuum must
      // be invisible to every retained reader
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 IN (1, 2)""".stripMargin) { (s, dir) =>
      // R64: retention VACUUM — the storage-lifecycle bound every
      // long-lived table format needs (Delta/Iceberg VACUUM / expire
      // snapshots): drop manifests below the retention floor and
      // physically delete the data files no retained version references.
      // A three-version lifecycle (overwrite, overwrite, append), then
      // vacuum(keepFrom = 2): in-gate requires prove the dropped
      // version's files are GONE from disk, its manifest no longer
      // resolves, and the retained versions read exactly as before; the
      // emitted frame is the post-vacuum LATEST read, which the oracle
      // re-derives from the base table — vacuum must be invisible to
      // every retained reader. In-flight-commit safety and
      // vacuum-keeps-restored are SnapshotTableSpec/SnapshotRestoreSpec's.
      import java.nio.file.{Files, Paths}
      val t = graft.Scratch.fresh("r64_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 0))
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 1))
      SnapshotTable.commit(s, t, o.filter(col("o_orderkey") % 3 === 2),
        mode = SnapshotTable.Append)
      val v1Files = SnapshotTable.filesOf(t, 1L)
      val keptBefore = SnapshotTable.read(s, t, 2L).count()
      SnapshotTable.vacuum(t, keepFrom = 2L)
      require(v1Files.nonEmpty && v1Files.forall(f => !Files.exists(Paths.get(f))),
        "vacuum must physically delete the dropped version's unreferenced files")
      require(SnapshotTable.versions(t) == Seq(2L, 3L),
        s"retention floor 2 must keep exactly [2, 3], got ${SnapshotTable.versions(t)}")
      val v1Gone = try { SnapshotTable.read(s, t, 1L).count(); false }
        catch { case _: Exception => true }
      require(v1Gone, "the vacuumed version must no longer resolve")
      require(SnapshotTable.read(s, t, 2L).count() == keptBefore,
        "a retained version must read exactly as before the vacuum")
      SnapshotTable.read(s, t)
    },

    Gate("r49_shallow_clone",
      // R49: the clone pins the forked content; the source's later
      // overwrite must be invisible through it
      r40OracleSql) { (s, dir) =>
      // R49: zero-copy fork. Clone the source, then OVERWRITE the source —
      // the clone must still read the forked content (independence), and
      // the in-gate require proves the clone is metadata-only: no data
      // directory exists under it at all. Divergence both ways, stats
      // skipping through the clone, vacuum safety and the error surface
      // are SnapshotCloneSpec's.
      val src = graft.Scratch.fresh("r49_src")
      val dst = graft.Scratch.fresh("r49_dst")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, src, o.filter(col("o_orderkey") % 3 === 0))
      SnapshotTable.commit(s, src, o.filter(col("o_orderkey") % 3 === 1),
        mode = SnapshotTable.Append)
      SnapshotTable.shallowClone(src, dst)
      SnapshotTable.commit(s, src, o.limit(7)) // source diverges after the fork
      require(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dst, "data")),
        "shallow clone must not write data files")
      SnapshotTable.read(s, dst)
    },

    Gate("r48_checked_commit",
      // R48: the expectations replayed in SQL — positive_chars never fires
      // on this corpus (min n_chars = 48), short_text splits it; the failed
      // Fail-policy attempt must have published zero versions
      """SELECT doc_id,
        |  CASE WHEN n_chars < 400 THEN 'kept' ELSE 'quarantined' END AS bucket,
        |  CASE WHEN n_chars < 400 THEN '' ELSE 'short_text' END AS violations,
        |  CAST(0 AS BIGINT) AS n_failed_versions
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // R48: expectation-gated publication (R36 × R40). A Fail-policy
      // commit against a violated rule must publish NOTHING (the failed
      // table's version count rides the output); the Quarantine retry
      // publishes the valid rows and dead-letters the violations with
      // their audit trail. Both tables read back into one frame, so a
      // leaked invalid row, a lost quarantine row, or a ghost version
      // from the failed attempt all break the hash. Drop policy, per-rule
      // counts and all-valid Fail publication are ConstraintsSpec's.
      val docs = Tables(s, dir).documents
        .select("doc_id", "lang", "n_chars")
      val rules = Seq(
        "positive_chars" -> (col("n_chars") > 0),
        "short_text" -> (col("n_chars") < 400))
      val tFail = graft.Scratch.fresh("r48_fail")
      val tMain = graft.Scratch.fresh("r48_main")
      val tQuar = graft.Scratch.fresh("r48_quar")
      val failed = Constraints.commitChecked(s, tFail, docs, rules, Constraints.Fail)
      require(failed.version.isEmpty, "Fail policy must not publish")
      Constraints.commitChecked(s, tMain, docs, rules, Constraints.Quarantine,
        quarantineTable = Some(tQuar))
      val nFailedVersions = SnapshotTable.versions(tFail).size.toLong
      SnapshotTable.read(s, tMain)
        .select(col("doc_id"), lit("kept").as("bucket"), lit("").as("violations"))
        .unionAll(SnapshotTable.read(s, tQuar)
          .select(col("doc_id"), lit("quarantined").as("bucket"), col("violations")))
        .withColumn("n_failed_versions", lit(nFailedVersions))
        .orderBy("doc_id")
    },

    Gate("r41_optimize",
      // R41: OPTIMIZE is invisible to readers — same rows, better layout
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders") { (s, dir) =>
      // R41: snapshot-preserving OPTIMIZE — commit a deliberately
      // 64-fragmented table, z-order-optimize it into the next version,
      // read the result. Content must be byte-identical to the source
      // (the oracle never sees the maintenance op); file-count shrink,
      // version lineage, CAS loss and vacuum are SnapshotOptimizeSpec's.
      val t = graft.Scratch.fresh("r41_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t, o.repartition(64))
      SnapshotTable.optimize(s, t, zorderCols = Seq("o_custkey", "o_orderkey"))
      SnapshotTable.read(s, t)
    },

    Gate("r42_stats_skipping",
      // R42: skipping is invisible to readers — same rows, fewer files read
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey BETWEEN 500 AND 2500""".stripMargin) { (s, dir) =>
      // R42: manifest-level data skipping — commit orders range-clustered
      // on o_orderkey (footer stats per file land in the sidecar), then
      // readPruned a selective key range: the scan plans only the files
      // whose (min, max) intersect, the residual filter makes it exact, so
      // the result must equal the oracle's plain WHERE. File-count shrink,
      // conservatism on unsupported predicates, string/Or/In shapes and
      // the R41-optimize interplay are SnapshotStatsSpec's.
      val t = graft.Scratch.fresh("r42_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t,
        o.repartitionByRange(16, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      SnapshotTable.readPruned(s, t,
        col("o_orderkey") >= 500 && col("o_orderkey") <= 2500)
    },

    Gate("r43_cow_merge",
      // R43: the merge replayed in SQL — updates as CASE, deletes as WHERE,
      // inserts as a UNION'd range
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey BETWEEN 100 AND 200 THEN -1.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey NOT BETWEEN 300 AND 350
        |UNION ALL
        |SELECT CAST(1000000000 + range AS BIGINT), CAST(1 AS BIGINT), 5.0
        |FROM range(5)""".stripMargin) { (s, dir) =>
      // R43: copy-on-write MERGE — commit orders key-clustered, apply a
      // narrow changeset (updates in [100,200], deletes in [300,350], 5
      // inserts past the key range); R42's stats confine the rewrite to
      // the files those keys can live in, every other path carries into
      // the new manifest verbatim. The oracle replays the merge in SQL —
      // the result cannot depend on which files were rewritten.
      // Untouched-path identity + fallback-on-unclustered are
      // SnapshotMergeSpec's.
      val t = graft.Scratch.fresh("r43_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t,
        o.repartitionByRange(16, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      val changes = o.filter(col("o_orderkey").between(100, 200))
          .withColumn("o_totalprice", lit(-1.0)).withColumn("op", lit("U"))
        .unionByName(o.filter(col("o_orderkey").between(300, 350))
          .withColumn("op", lit("D")))
        .unionByName(s.range(5).select(
          // +1e9: past any real orderkey at every SF (the r25 discipline) —
          // 1e7 collides with sparse TPC-H keys at SF ≥ 2, where merge's
          // upsert semantics and the oracle's plain UNION ALL would diverge
          (col("id") + 1000000000L).as("o_orderkey"), lit(1L).as("o_custkey"),
          lit(5.0).as("o_totalprice"), lit("I").as("op")))
      SnapshotTable.merge(s, t, changes, Seq("o_orderkey"))
      SnapshotTable.read(s, t)
    },

    Gate("r44_snapshot_cdc",
      // R44: the change feed reconstructed from the changeset definition —
      // updates contribute a pre and a post image, deletes their old image,
      // inserts their new one; carried rows contribute NOTHING
      """SELECT o_orderkey, o_custkey, o_totalprice, 'U_pre' AS op
        |FROM orders WHERE o_orderkey BETWEEN 100 AND 200
        |UNION ALL
        |SELECT o_orderkey, o_custkey, -1.0, 'U_post'
        |FROM orders WHERE o_orderkey BETWEEN 100 AND 200
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, 'D'
        |FROM orders WHERE o_orderkey BETWEEN 300 AND 350
        |UNION ALL
        |SELECT CAST(1000000000 + range AS BIGINT), CAST(1 AS BIGINT), 5.0, 'I'
        |FROM range(5)""".stripMargin) { (s, dir) =>
      // R44: change-data-feed read — replay r43's merge, then ask the
      // table WHAT CHANGED between the two versions. The feed must be
      // exactly the changeset's net effect (I/D plus U_pre+U_post pairs);
      // the unchanged rows the merge's file rewrites carried along are
      // suppressed by the image diff — the oracle reconstructs the feed
      // from the changeset definition alone, so any leakage of carried
      // rows or missed image fails the hash. Append fast-path (no join),
      // OPTIMIZE-invisibility, net-collapse semantics and the
      // apply-forward fold are SnapshotCdcSpec's.
      val t = graft.Scratch.fresh("r44_table")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      SnapshotTable.commit(s, t,
        o.repartitionByRange(16, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      val changes = o.filter(col("o_orderkey").between(100, 200))
          .withColumn("o_totalprice", lit(-1.0)).withColumn("op", lit("U"))
        .unionByName(o.filter(col("o_orderkey").between(300, 350))
          .withColumn("op", lit("D")))
        .unionByName(s.range(5).select(
          (col("id") + 1000000000L).as("o_orderkey"), lit(1L).as("o_custkey"),
          lit(5.0).as("o_totalprice"), lit("I").as("op")))
      SnapshotTable.merge(s, t, changes, Seq("o_orderkey"))
      SnapshotTable.changesBetween(s, t, 1L, 2L, Seq("o_orderkey"))
    },

    Gate("x14_snapshot_ivm",
      // X14: the maintained rollup must equal a from-scratch aggregate over
      // the post-merge base state (the merge replayed in SQL as in r43)
      x14OracleSql) { (s, dir) =>
      // X14: incremental MV maintenance over the table format — bootstrap
      // a per-customer (n, sum_price) rollup of a committed orders
      // snapshot, merge r43's changeset into the base, refresh. The
      // refresh reads ONLY the changed files (R44) plus the MV state; the
      // oracle recomputes the rollup from the replayed merge, so any
      // double-applied, missed, or mis-signed delta fails the hash.
      // Replay no-op, CAS, emptied groups and multi-cycle equivalence are
      // SnapshotIvmSpec's.
      val t = graft.Scratch.fresh("x14_base")
      val mv = graft.Scratch.fresh("x14_mv")
      val o = Tables(s, dir).orders.select(col("o_orderkey"), col("o_custkey"),
        money(col("o_totalprice")).as("price"))
      SnapshotTable.commit(s, t,
        o.repartitionByRange(16, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      def sync(): Unit = SnapshotIvm.refresh(s, t, mv,
        rowKeys = Seq("o_orderkey"), groupKeys = Seq("o_custkey"),
        sumCols = Seq("price")): Unit
      sync() // bootstrap at base v1
      val changes = o.filter(col("o_orderkey").between(100, 200))
          .withColumn("price", money(lit(-1.0))).withColumn("op", lit("U"))
        .unionByName(o.filter(col("o_orderkey").between(300, 350))
          .withColumn("op", lit("D")))
        .unionByName(s.range(5).select(
          (col("id") + 1000000000L).as("o_orderkey"), lit(1L).as("o_custkey"),
          money(lit(5.0)).as("price"), lit("I").as("op")))
      SnapshotTable.merge(s, t, changes, Seq("o_orderkey"))
      sync() // incremental: changed files + MV state only
      SnapshotTable.read(s, mv)
        .select(col("o_custkey"), col("n"), emit(col("sum_price")).as("sum_price"))
    },

    Gate("r45_mv_rewrite",
      // R45: the rewrite must be invisible to results — the oracle aggregates
      // raw lineitem, never seeing the rollup
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_linestatus = 'F'
        |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      // R45: MV auto-rewrite — lineitem (decimal qty) committed as a
      // snapshot base, its (returnflag, linestatus) rollup maintained by
      // X14, registered with the optimizer rule; the gate query filters a
      // group key and aggregates ANOTHER group key over the BASE scan.
      // The require proves the optimizer answered it from the rollup (mv
      // path in the optimized plan, base path gone); the oracle computes
      // the same aggregate from raw lineitem in DuckDB, so a wrong or
      // stale rewrite fails the hash. Guard shapes (non-group filters,
      // distinct, untracked columns) and exprId stability are
      // MvRewriteSpec's.
      val t = graft.Scratch.fresh("r45_base")
      val mv = graft.Scratch.fresh("r45_mv")
      val li = Tables(s, dir).lineitem.select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_linestatus"), money(col("l_quantity")).as("qty"))
      SnapshotTable.commit(s, t,
        li.repartitionByRange(8, col("l_orderkey"), col("l_linenumber")))
      SnapshotIvm.refresh(s, t, mv,
        rowKeys = Seq("l_orderkey", "l_linenumber"),
        groupKeys = Seq("l_returnflag", "l_linestatus"), sumCols = Seq("qty"))
      graft.plans.MvRewriteRule.attach(s)
      // versioned registration: only scans of exactly this version's files
      // rewrite, so a time-travel read of an older version keeps its scan
      graft.plans.MvRegistry.register(t, () => SnapshotTable.read(s, mv),
        Seq("l_returnflag", "l_linestatus"), Seq("qty"),
        exactFiles = SnapshotTable.filesOf(t))
      val q = SnapshotTable.read(s, t)
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
      val roots = q.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      require(roots.exists(_.contains(mv.split('/').last)) &&
        !roots.exists(_.contains(t.split('/').last)),
        s"MV rewrite did not fire; scanned: ${roots.take(3).mkString(", ")}")
      q.select(col("l_returnflag"), col("n_rows"), emit(col("sum_qty")).as("sum_qty"))
    },

    Gate("r46_frequent_items",
      // R46: the sketch+verify pipeline is semantically a plain
      // GROUP BY/HAVING over the planted-skew key — any candidate the
      // sketch missed or extra the verify pass kept breaks the hash
      r46OracleSql) { (s, dir) =>
      // R46: exact heavy hitters over a skewed key stream — two hot keys
      // planted into the otherwise-uniform custkey distribution (≡0 mod 3
      // → key 42 at ~33%, else ≡0 mod 7 → key 7 at ~9.5%; capacity 20 ⇒
      // φ = 1/21 ≈ 4.8%, so exactly those two clear the threshold at any
      // SF). The MisraGries TypedImperativeAggregate proposes candidates,
      // the broadcast exact pass counts and thresholds them — so the
      // result is a pure function of the data and DuckDB's plain
      // GROUP BY/HAVING replay is hash-exact. The sketch guarantee and
      // partitioning independence are HeavyHittersSpec's.
      val keyed = Tables(s, dir).orders.select(
        when(col("o_orderkey") % 3 === 0, lit(42L))
          .when(col("o_orderkey") % 7 === 0, lit(7L))
          .otherwise(col("o_custkey").cast("long")).as("k"))
      HeavyHitters.exact(keyed, "k", capacity = 20)
    },

    Gate("x15_stream_ivm",
      // X15: same final state as x14 — the batch split must be invisible
      x14OracleSql) { (s, dir) =>
      // X15: the R43×R44×X14 chain driven by a stream — three disjoint CDC
      // shards (U/D/I, one per micro-batch) merge into the snapshot base
      // and the rollup refreshes after each batch; the final MV must equal
      // the same DuckDB replay as x14, whatever the batch split. Replay
      // idempotency, merge-crash repair and order-insensitivity are
      // SnapshotIvmStreamSpec's.
      val base = graft.Scratch.fresh("x15_base")
      val mv = graft.Scratch.fresh("x15_mv")
      val ckpt = graft.Scratch.fresh("x15_ckpt")
      val o = Tables(s, dir).orders.select(col("o_orderkey"), col("o_custkey"),
        money(col("o_totalprice")).as("price"))
      SnapshotTable.commit(s, base,
        o.repartitionByRange(16, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      SnapshotIvm.refresh(s, base, mv, Seq("o_orderkey"), Seq("o_custkey"),
        Seq("price")): Unit
      val shards = Seq(
        o.filter(col("o_orderkey").between(100, 200))
          .withColumn("price", money(lit(-1.0))).withColumn("op", lit("U")),
        o.filter(col("o_orderkey").between(300, 350)).withColumn("op", lit("D")),
        s.range(5).select((col("id") + 1000000000L).as("o_orderkey"),
          lit(1L).as("o_custkey"), money(lit(5.0)).as("price"), lit("I").as("op")))
      graft.streaming.SnapshotIvmStream.start(s, graft.Scratch.shards("x15_in", shards),
        base, mv, ckpt, shards.head.schema, Seq("o_orderkey"), Seq("o_custkey"),
        Seq("price")).awaitTermination()
      SnapshotTable.read(s, mv)
        .select(col("o_custkey"), col("n"), emit(col("sum_price")).as("sum_price"))
    },

    Gate("r27_rolling_window",
      """SELECT event_id, user_id, ts,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      // time-RANGE rolling aggregate (r8's running agg is row-framed): each
      // event's trailing 1-hour sum/count per user. Range frames are
      // tie-insensitive — equal timestamps are peers and always share a
      // frame, so the result is deterministic without a tiebreaker column
      // (rows-frames need one; that asymmetry is the point of the gate).
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000, 0)
      Tables(s, dir).events
        .select(col("event_id"), col("user_id"), col("ts"),
          count(lit(1)).over(w).as("n_1h"),
          emit(sum(money(col("value"))).over(w)).as("sum_1h"))
    },

    Gate("r28_partitioned_write", "SELECT doc_id, text, lang, source, n_chars FROM documents") { (s, dir) =>
      // hive-style partition layout: documents written partitionBy(lang) —
      // the coarse-pruning layer ABOVE row-group stats (a lang='en' query
      // never lists, opens, or reads any other language's files; at 100 TB
      // partition pruning is the first and cheapest filter). Round-trip
      // must restore the partition column from directory names exactly;
      // the pruning itself (PartitionFilters + selected file subset) is
      // spec-asserted in PartitionedWriteSpec.
      val out = graft.Scratch.fresh("r28_pw")
      Tables(s, dir).documents
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out).select("doc_id", "text", "lang", "source", "n_chars")
    },

    Gate("r29_schema_evolution",
      // R29: the merged read = old rows null-extended ∪ new rows, with the
      // partition column restored from directory names.
      """SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice,
        |  CAST(1 AS BIGINT) AS batch
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, CAST(2 AS BIGINT) AS batch
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin) { (s, dir) =>
      // schema evolution on a growing dataset: batch 1 wrote (key, cust),
      // batch 2 added a column. mergeSchema reconciles parquet footers at
      // read time and null-fills the old files — the at-scale alternative
      // to rewriting 100 TB whenever a column lands. Hive-style batch=N
      // dirs double as the partition-discovery path.
      val out = graft.Scratch.fresh("r29_se")
      val o = Tables(s, dir).orders
      o.filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$out/batch=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$out/batch=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("batch").cast("long").as("batch"))
    },

    Gate("r30_range_join",
      // R30: the oracle runs the NAIVE inequality join — the binned
      // decomposition must return the identical row set.
      """SELECT o.o_orderkey, l.l_orderkey, l.l_linenumber,
        |  CAST(CAST(l.l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ship_day,
        |  CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS win_start
        |FROM orders o JOIN lineitem l
        |  ON CAST(l.l_shipdate AS DATE) - DATE '1970-01-01'
        |       BETWEEN CAST(o.o_orderdate AS DATE) - DATE '1970-01-01'
        |           AND CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' + 14
        |WHERE o.o_orderkey % 50 = 0 AND l.l_orderkey % 97 = 0""".stripMargin) { (s, dir) =>
      // generic range join, NO equi-key: each sampled shipment matches
      // every sampled order whose 15-day window [o_orderdate, +14d]
      // contains its ship day. The binned decomposition (16-day bins:
      // explode intervals to covered bins, equi-join on bin, exact
      // post-filter) returns the identical row set to the naive inequality
      // join DuckDB runs — but as a shuffled hash join instead of the
      // BroadcastNestedLoopJoin Spark plans for a pure inequality predicate
      // (plan shape spec-asserted in RangeJoinSpec).
      val t = Tables(s, dir)
      def day(c: Column) = datediff(c, lit("1970-01-01").cast("date")).cast("long")
      val intervals = t.orders.filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"), day(col("o_orderdate")).as("win_start"),
          (day(col("o_orderdate")) + 14).as("win_end"))
      val points = t.lineitem.filter(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          day(col("l_shipdate")).as("ship_day"))
      RangeJoin.pointInInterval(intervals, points,
          "win_start", "win_end", "ship_day", binSize = 16)
        .select("o_orderkey", "l_orderkey", "l_linenumber", "ship_day", "win_start")
    },

    Gate("r31_incr_agg",
      // R31: the oracle recomputes the rollup from the post-change row set
      // (survivors ∪ re-inserts) — delta maintenance must equal recompute.
      """WITH live AS (
        |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 9 <> 0
        |  UNION ALL
        |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS price
        |  FROM orders WHERE o_orderkey % 9 = 1
        |)
        |SELECT o_orderstatus, count(*) AS n, CAST(sum(price) AS DOUBLE) AS sum_price
        |FROM live GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      // incremental view maintenance: the per-status (count, sum) rollup
      // maintained under a CDC changeset (keys ≡0 mod 9 deleted, ≡1 mod 9
      // re-inserted at price+10) WITHOUT rescanning the base — the oracle
      // recomputes the same rollup from the post-change row set, so the
      // gate proves delta-merge ≡ full recompute.
      val o = Tables(s, dir).orders.select(col("o_orderkey"),
        col("o_orderstatus"), money(col("o_totalprice")).as("price"))
      val state = IncrementalAgg.sumState(o, Seq("o_orderstatus"), Seq("price"))
      val changes =
        o.filter(col("o_orderkey") % 9 === 0).withColumn("op", lit("D"))
          .unionByName(o.filter(col("o_orderkey") % 9 === 1)
            .withColumn("price", col("price") + 10).withColumn("op", lit("I")))
          .drop("o_orderkey")
      IncrementalAgg.applyDelta(state, changes, Seq("o_orderstatus"), "op", Seq("price"))
        .select(col("o_orderstatus"), col("n"), emit(col("sum_price")).as("sum_price"))
    },

    Gate("r32_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus))""".stripMargin) { (s, dir) =>
      // arbitrary GROUPING SETS (r19 ROLLUP and r23 CUBE are the fixed
      // hierarchical/exhaustive specializations): per-flag×status,
      // per-flag, and per-status rollups in ONE Expand pass + single
      // shuffle — the ad-hoc dashboard shape where the wanted sets are
      // neither a prefix chain nor the full power set.
      Tables(s, dir).lineitem.createOrReplaceTempView("gs_lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
              |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
              |FROM gs_lineitem
              |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
              |  (l_returnflag), (l_linestatus))""".stripMargin)
    },

    Gate("r33_dpp",
      // R33: one ASIA-mapped year survives the dim filter; the oracle joins
      // on the derived year directly.
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, r_name,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN region ON year(o_orderdate) = r_regionkey + 1994
        |WHERE r_name = 'ASIA'
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      // dynamic partition pruning: the fact table is partitioned on disk by
      // order year; the join's partition filter is only knowable at RUNTIME
      // from the filtered dim scan (r_name = 'ASIA' → one year), and Spark
      // injects a dynamicpruning subquery into the fact scan so non-matching
      // year partitions are never listed or read — the 100 TB star-schema
      // complement of R1's static pushdown and R28's static partition
      // pruning. Plan shape (dynamicpruning expression in PartitionFilters,
      // one partition selected) is spec-asserted in RelationalSpec.
      val out = graft.Scratch.fresh("r33_fact")
      val t = Tables(s, dir)
      t.orders.select(col("o_orderkey"), col("o_custkey"),
          money(col("o_totalprice")).as("price"),
          year(col("o_orderdate")).as("o_year"))
        .write.mode("overwrite").partitionBy("o_year").parquet(out)
      val fact = s.read.parquet(out)
      val dim = t.region.select((col("r_regionkey") + 1994).cast("int").as("o_year"),
          col("r_name"))
        .filter(col("r_name") === "ASIA")
      fact.join(dim, "o_year")
        .groupBy("o_year", "r_name")
        .agg(count(lit(1)).as("n"), emit(sum(col("price"))).as("total"))
    },

    Gate("r34_scd2",
      // R34: the shared change feed + lead() window re-derived; D tombstones
      // close intervals but emit no row.
      (scd2CteSql +
      """
        |SELECT o_orderkey, CAST(price AS DOUBLE) AS price, valid_from, valid_to,
        |  (valid_to IS NULL AND op <> 'D') AS is_current
        |FROM v WHERE op <> 'D'""".stripMargin)) { (s, dir) =>
      // SCD Type-2 history from the shared synthesized change feed
      // (scd2ChangeFeed — r35 consumes the same fixture): every sampled
      // order inserts at seq 1, keys ≡0 mod 3 update at seq 2, keys ≡0
      // mod 9 delete at seq 3 (tombstone: closes the interval, emits no
      // row). The full versioned history — bounds, current flags, closed
      // rows — is re-derived relationally in DuckDB.
      Scd2.fromChanges(scd2ChangeFeed(s, dir), Seq("o_orderkey"), "seq")
        .select(col("o_orderkey"), emit(col("price")).as("price"),
          col("valid_from"), col("valid_to"), col("is_current"))
    },

    Gate("r35_pit_join",
      // R35: the same SCD2 history + interval-containment fact join.
      (scd2CteSql +
      """, hist AS (
        |  SELECT o_orderkey, price, valid_from, valid_to FROM v WHERE op <> 'D'
        |), facts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST((l_linenumber % 4) + 1 AS BIGINT) AS fact_seq
        |  FROM lineitem WHERE l_orderkey % 7 = 0
        |)
        |SELECT l_orderkey, l_linenumber, fact_seq,
        |  CAST(price AS DOUBLE) AS price, valid_from
        |FROM facts JOIN hist ON l_orderkey = o_orderkey
        |  AND fact_seq >= valid_from
        |  AND (valid_to IS NULL OR fact_seq < valid_to)""".stripMargin)) { (s, dir) =>
      // the R34 consumer path: facts join the SCD2 history point-in-time —
      // key equality plus seq ∈ [valid_from, valid_to) picks the dimension
      // version that was current when the fact happened. The equi-key makes
      // this a plain hash join with the interval as a post-condition (no
      // nested loop, no R30 binning needed); facts hitting a tombstoned
      // interval get no row (inner join) exactly as the oracle derives.
      val hist = Scd2.fromChanges(scd2ChangeFeed(s, dir), Seq("o_orderkey"), "seq")
        .select(col("o_orderkey"), col("price"), col("valid_from"), col("valid_to"))
      val facts = Tables(s, dir).lineitem.filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          ((col("l_linenumber") % 4) + 1).cast("long").as("fact_seq"))
      facts.join(hist, col("l_orderkey") === col("o_orderkey") &&
          col("fact_seq") >= col("valid_from") &&
          (col("valid_to").isNull || col("fact_seq") < col("valid_to")))
        .select(col("l_orderkey"), col("l_linenumber"), col("fact_seq"),
          emit(col("price")).as("price"), col("valid_from"))
    },

    Gate("r36_constraints",
      // R36: the same planted violations re-derived; list sorted, comma-joined.
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 17 = 0 THEN 'Z' ELSE o_orderstatus END AS status,
        |    CASE WHEN o_orderkey % 13 = 0 THEN -CAST(o_totalprice AS DECIMAL(18,2))
        |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price,
        |    CASE WHEN o_orderkey % 19 = 0 THEN NULL ELSE o_custkey END AS cust
        |  FROM orders
        |), v AS (
        |  SELECT o_orderkey,
        |    list_sort(list_filter([
        |      CASE WHEN NOT coalesce(price > 0, false) THEN 'positive_price' END,
        |      CASE WHEN NOT coalesce(status IN ('F','O','P'), false) THEN 'known_status' END,
        |      CASE WHEN NOT coalesce(cust IS NOT NULL, false) THEN 'has_customer' END
        |    ], x -> x IS NOT NULL)) AS vio
        |  FROM o
        |)
        |SELECT o_orderkey, coalesce(array_to_string(vio, ','), '') AS violations,
        |  len(vio) = 0 AS is_valid
        |FROM v""".stripMargin) { (s, dir) =>
      // declarative data-quality constraints over a feed with PLANTED
      // violations (keys ≡0 mod 13 get negative prices, ≡0 mod 17 an
      // unknown status, ≡0 mod 19 a null custkey): each row carries the
      // sorted list of violated rule names + is_valid — one codegen'd
      // projection, the quarantine split derived from it.
      val o = Tables(s, dir).orders
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 17 === 0, lit("Z"))
            .otherwise(col("o_orderstatus")).as("status"),
          when(col("o_orderkey") % 13 === 0, -money(col("o_totalprice")))
            .otherwise(money(col("o_totalprice"))).as("price"),
          when(col("o_orderkey") % 19 === 0, lit(null).cast("long"))
            .otherwise(col("o_custkey")).as("cust"))
      Constraints.check(o, Seq(
          "positive_price" -> (col("price") > 0),
          "known_status" -> col("status").isin("F", "O", "P"),
          "has_customer" -> col("cust").isNotNull))
        .select(col("o_orderkey"),
          array_join(col("violations"), ",").as("violations"),
          col("is_valid"))
    },

    Gate("r37_json_ops",
      // R37: DuckDB's ->> JSON extraction mirrors the path extract; sums
      // wrapped back to BIGINT (DuckDB widens to HUGEINT). TRY_CAST mirrors
      // Spark's cast-to-NULL on non-numeric payloads (CAST would hard-error),
      // and ((k % 7) + 7) % 7 mirrors pmod on any sign — both identical to
      // the simple forms on the current non-negative generator, but the
      // oracle should match Spark semantics on ANY payload.
      """SELECT CAST(((k % 7) + 7) % 7 AS BIGINT) AS bucket, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS k_sum, CAST(max(k) AS BIGINT) AS k_max
        |FROM (SELECT TRY_CAST(props->>'k' AS BIGINT) AS k FROM events)
        |WHERE k IS NOT NULL
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      // semi-structured column processing: the events feed carries a JSON
      // props payload; extract a typed field with a JSON path (codegen'd
      // get_json_object — schema-on-read, no ETL rewrite when the payload
      // evolves), then filter/group/aggregate on it like any column. The
      // 100 TB point: extraction is a projection fused into the scan
      // pipeline, so querying JSON costs one pass, not a parse-then-join.
      Tables(s, dir).events
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k").isNotNull)
        .groupBy(pmod(col("k"), lit(7)).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          max(col("k")).as("k_max"))
    },

    Gate("r38_bloom_join",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      // runtime bloom-filter join pruning: for a shuffle join with a
      // selective dim side, Spark's InjectRuntimeFilter builds a bloom
      // over the dim keys at runtime and pushes `might_contain` onto the
      // FACT scan — rows that cannot join are dropped before the shuffle,
      // the single biggest wire-volume lever in a 100 TB star join (D8's
      // BloomFilterAggregate machinery, wired by the optimizer). The
      // VALUES are optimization-independent (this gate); the injection
      // itself is spec-asserted under forced thresholds in RelationalSpec.
      val t = Tables(s, dir)
      t.lineitem.join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          emit(sum(money(col("l_extendedprice")))).as("total"))
    },

    Gate("r61_stats_join",
      // R61: the plain join — broadcast/salt/shuffle strategy (and every
      // in-gate plan assert) must be invisible to the answer.
      """SELECT c_custkey, c_nationkey AS nationkey, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin) { (s, dir) =>
      // R61: the CBO consumption side of R60 — join strategy picked at
      // plan time from the two metadata surfaces the snapshot format
      // already maintains (manifest bytes + _analyze NDV), zero data I/O.
      // Three scenarios exercise the whole law in-gate; the hashed result
      // is the broadcast scenario, whose answer the oracle re-derives as
      // a plain SQL join (strategy invisible to the answer, the point).
      val t = Tables(s, dir)
      val cust = graft.Scratch.fresh("r61_cust")
      val nat = graft.Scratch.fresh("r61_nat")
      SnapshotTable.commit(s, cust, t.customer.select(col("c_custkey"),
        col("c_nationkey").as("nationkey")))
      SnapshotTable.commit(s, nat, t.nation.select(
        col("n_nationkey").as("nationkey"), col("n_name")))
      SnapshotAnalyze.analyze(s, cust, Seq("nationkey"))
      SnapshotAnalyze.analyze(s, nat, Seq("nationkey"))
      // (a) the small dim fits the broadcast budget → BroadcastRight, and
      //     the EXECUTED plan must contain the broadcast join
      val (sa, dfa) = StatsJoin.join(s, cust, nat, "nationkey")
      require(sa == StatsJoin.BroadcastRight, s"expected BroadcastRight, got $sa")
      dfa.count()
      require(dfa.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "stats said broadcast; the executed plan must contain BroadcastHashJoin")
      // (b) broadcast budget exhausted + key NDV (25) below the cluster
      //     parallelism target → salted; answer ≡ the broadcast answer
      val (sb, dfb) = StatsJoin.join(s, cust, nat, "nationkey",
        broadcastBytes = 1L, parallelism = 256)
      require(sb.isInstanceOf[StatsJoin.Salted], s"expected Salted, got $sb")
      require(dfb.select("c_custkey", "n_name").collect().toSet ==
        dfa.select("c_custkey", "n_name").collect().toSet,
        "salted answer diverged from broadcast answer")
      // (c) no broadcast budget, NDV ≥ parallelism → plain shuffle join
      val (sc, dfc) = StatsJoin.join(s, cust, nat, "nationkey",
        broadcastBytes = 1L, parallelism = 8)
      require(sc == StatsJoin.Shuffle, s"expected Shuffle, got $sc")
      dfc.count()
      require(dfc.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        "stats said shuffle; the executed plan must contain SortMergeJoin")
      dfa.select("c_custkey", "nationkey", "n_name")
    },

    Gate("r63_stats_sql_join",
      // R63: the plain-join re-derivation — broadcast promotion from the
      // manifest bytes must be invisible to the answer
      """SELECT c_mktsegment AS segment, count(*) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      // R63: R61's broadcast law consumed INSIDE the SQL planner — a pure
      // SQL join of two R58 catalog tables, session broadcast threshold
      // DISABLED, must still plan the map-side join because the rule reads
      // the dim's EXACT manifest-pinned bytes at plan time; with the rule
      // off the same query sort-merge-joins, and both answers equal the
      // DuckDB re-derivation (strategy invisible to the answer, the point).
      val t = Tables(s, dir)
      val wh = graft.Scratch.fresh("r63_wh")
      SnapshotTable.commit(s, s"$wh/orders_fact",
        t.orders.select(col("o_orderkey"), col("o_custkey")))
      SnapshotTable.commit(s, s"$wh/cust_dim",
        t.customer.select(col("c_custkey"), col("c_mktsegment")))
      graft.plans.StatsJoinRule.attach(s)
      s.conf.set("spark.sql.catalog.graft_c63", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_c63.warehouse", wh)
      val sql =
        """SELECT c.c_mktsegment AS segment, count(*) AS n_orders,
          |  sum(o.o_orderkey) AS key_sum
          |FROM graft_c63.orders_fact o
          |JOIN graft_c63.cust_dim c ON o.o_custkey = c.c_custkey
          |GROUP BY c.c_mktsegment""".stripMargin
      val prevAuto = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val on = s.sql(sql)
        on.count()
        require(on.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          "pinned manifest bytes fit the budget; the SQL plan must broadcast")
        s.conf.set("spark.graft.statsJoin.enabled", "false")
        val off = s.sql(sql)
        off.count()
        require(off.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
          "rule disabled + threshold disabled must sort-merge-join")
        require(on.collect().toSet == off.collect().toSet,
          "the rule must never change the answer, only the strategy")
        on.orderBy("segment")
      } finally {
        s.conf.set("spark.graft.statsJoin.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      }
    },

    Gate("r39_aqe_skew_join",
      // R39: the skew-key mapping re-derived; keys are non-negative so plain
      // % matches Spark's %, and counts are BIGINT on both engines.
      """WITH l AS (
        |  SELECT CASE WHEN id % 4 < 3 THEN CAST(0 AS BIGINT)
        |              ELSE CAST(id % 64 AS BIGINT) END AS k,
        |         CAST(id % 97 AS DOUBLE) * 0.25 AS qty
        |  FROM range(0, 200000) t(id))
        |SELECT CAST(k % 8 AS BIGINT) AS bucket, count(*) AS n_rows,
        |  CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  max(n_name) AS top_nation
        |FROM l JOIN nation ON l.k = CAST(n_nationkey AS BIGINT)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      // AQE runtime skew split, the complement of R16's static salting: a
      // deliberately skewed fact join (~3/4 of lineitem maps to key 0)
      // whose VALUES are optimization-independent and hash-gated here; that
      // the AQE OptimizeSkewedJoin rule actually splits the hot partition
      // (SortMergeJoin ... skew=true in the EXECUTED plan) is asserted
      // under forced thresholds in AqeSkewSpec — the r38 proof pattern.
      // At production scale this is the no-code-change answer to skew the
      // static salt can't know about at plan time. Two shape constraints
      // learned the hard way, both now load-bearing in this gate:
      // (1) the final aggregate groups on a DERIVED bucket, not the join
      //     key — requiring the join's own partitioning downstream would
      //     (correctly) veto the split, AQE only breaks a partition whose
      //     guarantee nothing above it needs; (2) the right side is a plain
      //     scan, not an aggregate — OptimizeSkewedJoin matches
      //     Sort(ShuffleQueryStage) children, and a final-agg node between
      //     them structurally disables the rule.
      // the skewed fact is a 32-partition range, not a parquet scan: skew
      // splitting works at MAP-OUTPUT granularity, and the gate-SF parquet
      // is one row group = one map task, leaving the hot partition
      // indivisible however skewed. range(…, 32) restores the
      // many-map shape a production scan has, deterministically.
      val t = Tables(s, dir)
      val l = s.range(0, 200000, 1, 32).select(
        when(col("id") % 4 < 3, lit(0L))
          .otherwise((col("id") % 64).cast("long")).as("k"),
        ((col("id") % 97).cast("double") * lit(0.25)).as("qty"))
      val n = t.nation.select(col("n_nationkey").cast("long").as("k"), col("n_name"))
      l.join(n, "k")
        .withColumn("bucket", col("k") % 8)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          emit(sum(money(col("qty")))).as("qty"),
          max(col("n_name")).as("top_nation"))
    },

    Gate("r24_hll_sketch",
      """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, true AS sketch_ok
        |FROM events""".stripMargin) { (s, dir) =>
      // Mergeable distinct sketches (Apache DataSketches HLL via Spark's
      // hll_sketch_agg): per-event_type sketches built in one pass over the
      // facts are UNIONED into a global estimate — the re-aggregatable form
      // a 100 TB rollup pipeline needs: sketches are bytes, so per-day /
      // per-source sketches can be stored and re-unioned across jobs
      // without rescanning (approx_count_distinct merges map-side inside
      // ONE query, but its sketch can't be persisted and re-unioned).
      // Gate construction as r9_approx/r20: exact distinct hash-gated, the
      // sketch estimate asserted within 5% rel error by an in-plan boolean.
      val ev = Tables(s, dir).events
      val merged = ev.groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("__est"))
      ev.agg(countDistinct(col("user_id")).as("n_users"))
        .crossJoin(merged)
        .select(col("n_users"),
          (abs(col("__est") - col("n_users")) <=
            greatest(col("n_users").cast("double") * lit(0.05), lit(1.0))).as("sketch_ok"))
    },

    Gate("r18_asof_join",
      """SELECT p.event_id, p.user_id, p.ts, p.value, c.ts AS asof_click_ts
        |FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin) { (s, dir) =>
      // point-in-time join: each purchase picks up the user's latest click
      // at-or-before it (NULL when none) — DuckDB's native ASOF JOIN is the
      // oracle for the union-window formulation
      val ev = Tables(s, dir).events
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("click_ts"))
      AsofJoin.asofJoin(purchases, clicks, Seq("user_id"), "ts", Seq("click_ts"))
    },

    // ---- wd2sql surface (reference: README.md:103-156, src/id.rs:6-24) ----

    Gate("w1_id_encode",
      """SELECT CAST(n_nationkey AS BIGINT) AS raw_id,
        |  CAST(n_nationkey AS BIGINT) AS q_enc,
        |  CAST(n_nationkey AS BIGINT) + 1000000000 AS p_enc,
        |  CAST(n_nationkey AS BIGINT) + 2000000000 AS l_enc,
        |  CAST(n_nationkey AS BIGINT) + 2000000000 + 2 * 100000000000 AS f_enc,
        |  CAST(n_nationkey AS BIGINT) + 2000000000 + 3 * 100000000000 + 10000000000 AS s_enc
        |FROM nation""".stripMargin) { (s, dir) =>
      Tables(s, dir).nation.select(
        col("n_nationkey").cast("long").as("raw_id"),
        IdCodec.qid(col("n_nationkey")).as("q_enc"),
        IdCodec.pid(col("n_nationkey")).as("p_enc"),
        IdCodec.lid(col("n_nationkey")).as("l_enc"),
        IdCodec.fid(col("n_nationkey"), lit(2)).as("f_enc"),
        IdCodec.sid(col("n_nationkey"), lit(3)).as("s_enc"))
    },

    Gate("w2_id_decode",
      """WITH enc AS (
        |  SELECT unnest([CAST(n_nationkey AS BIGINT),
        |                 CAST(n_nationkey AS BIGINT) + 1000000000,
        |                 CAST(n_nationkey AS BIGINT) + 2000000000,
        |                 CAST(n_nationkey AS BIGINT) + 2000000000 + 2 * 100000000000,
        |                 CAST(n_nationkey AS BIGINT) + 2000000000 + 3 * 100000000000 + 10000000000]) AS eid
        |  FROM nation)
        |SELECT eid,
        |  CASE WHEN eid >= 100000000000 THEN
        |         CASE WHEN eid % 100000000000 >= 12000000000 THEN 'S' ELSE 'F' END
        |       WHEN eid >= 2000000000 THEN 'L'
        |       WHEN eid >= 1000000000 THEN 'P' ELSE 'Q' END AS kind,
        |  CASE WHEN eid >= 100000000000 THEN
        |         CASE WHEN eid % 100000000000 >= 12000000000
        |              THEN eid % 100000000000 - 12000000000
        |              ELSE eid % 100000000000 - 2000000000 END
        |       WHEN eid >= 2000000000 THEN eid - 2000000000
        |       WHEN eid >= 1000000000 THEN eid - 1000000000 ELSE eid END AS num,
        |  CASE WHEN eid >= 100000000000 THEN eid // 100000000000 ELSE 0 END AS sub
        |FROM enc""".stripMargin) { (s, dir) =>
      val enc = Tables(s, dir).nation.select(
        explode(array(
          IdCodec.qid(col("n_nationkey")),
          IdCodec.pid(col("n_nationkey")),
          IdCodec.lid(col("n_nationkey")),
          IdCodec.fid(col("n_nationkey"), lit(2)),
          IdCodec.sid(col("n_nationkey"), lit(3)))).as("eid"))
      enc.select(
        col("eid"),
        IdCodec.kindCol(col("eid")).as("kind"),
        IdCodec.numCol(col("eid")).as("num"),
        IdCodec.subCol(col("eid")).as("sub"))
    },

    Gate("w14_label_lookup",
      """SELECT p_partkey AS id, p_name AS label, p_type AS description
        |FROM part WHERE label LIKE 'red %'""".stripMargin) { (s, dir) =>
      // meta-table label lookup ≙ README.md:108 `SELECT * FROM meta WHERE label = 'red'`
      Tables(s, dir).part
        .select(col("p_partkey").as("id"), col("p_name").as("label"),
          col("p_type").as("description"))
        .filter(col("label").startsWith("red "))
    },

    Gate("w33_fuzzy_stored",
      // W33: identical brute-force oracle as w32 — the stored index and its
      // pruning are invisible to the answer (that is the point)
      w32OracleSql) { (s, dir) =>
      // W33: w32's lookup through the PERSISTED range-clustered variant
      // index — same typo term, same answer (the oracle is the identical
      // brute-force scan), but the probe plans only the files whose __h
      // range holds a term-variant hash. The in-gate require proves the
      // R42 stats actually skipped files (the store writes 32 range
      // files; a ≤13-variant probe can touch at most 13).
      val labels = Tables(s, dir).part
        .select(col("p_partkey").as("id"), col("p_name").as("label"))
      val base = labels.filter(col("id") === 1).head().getString(1)
      val term = base.substring(0, 2) + "z" + base.substring(3)
      val t = graft.Scratch.fresh("w33_index")
      EditJoin.saveIndex(s, t, labels, "id", "label", files = 32)
      val (kept, skipped) = SnapshotTable.prunedFiles(s, t,
        col("__h").isin(EditJoin.termVariantHashes(term): _*))
      require(skipped.nonEmpty && kept.size <= EditJoin.termVariantHashes(term).size,
        s"stats pruning must confine the probe: kept ${kept.size}, skipped ${skipped.size}")
      EditJoin.fuzzyLookupStored(s, t, labels, "id", "label", term)
        .select(col("id"), col("label"), col("dist"))
        .orderBy("id")
    },

    Gate("w36_fuzzy_maintained",
      // W36: the changeset arithmetic re-derived in SQL, then the identical
      // brute-force scan over the CURRENT label set — appends, stale
      // variants, pruning and the maintenance fold are all invisible to it.
      w36OracleSql) { (s, dir) =>
      // W36: the W33 store under label churn — build on the v1 labels,
      // then apply one changeset (renames: id % 7 == 3 gets its 3rd char
      // turned to 'x'; deletes: id % 11 == 0; adds: id + 1000000 with a
      // 'nw '-prefixed name) as ONE Append of just the delta's variant
      // rows. The lookup runs against the CURRENT labels, so stale
      // variants of renamed ids self-neutralize at the exact verify and
      // deleted ids drop at the join — the oracle is a brute-force
      // levenshtein scan of the current label set, blind to all of it.
      val v1 = fuzzyLabelsV1(s, dir)
      val renamed = fuzzyRenamed(v1)
      val added = fuzzyAdded(v1)
      val current = fuzzyCurrent(v1)
      val term = fuzzyTerm(v1)
      val t = graft.Scratch.fresh("w36_index")
      EditJoin.saveIndex(s, t, v1, "id", "label", files = 32)
      EditJoin.appendIndexDelta(s, t, renamed.unionAll(added), "id", "label")
      // the maintained store must still confine the probe to footer-pruned
      // files: ≤ |term|+1 per commit (2 commits live), never a full scan
      val hashes = EditJoin.termVariantHashes(term)
      val (kept, skipped) = SnapshotTable.prunedFiles(s, t,
        col("__h").isin(hashes: _*))
      require(skipped.nonEmpty && kept.size <= 2 * hashes.size,
        s"maintained index must stay point-probed: kept ${kept.size}, skipped ${skipped.size}")
      val maintained = EditJoin.fuzzyLookupStored(s, t, current, "id", "label", term)
        .select(col("id"), col("label"), col("dist"))
      // maintained ≡ fold-and-rebuild, row-exact — the maintenance law
      val t2 = graft.Scratch.fresh("w36_rebuilt")
      EditJoin.saveIndex(s, t2, current, "id", "label", files = 32)
      val rebuilt = EditJoin.fuzzyLookupStored(s, t2, current, "id", "label", term)
        .select(col("id"), col("label"), col("dist"))
      require(maintained.collect().toSet == rebuilt.collect().toSet,
        "append-maintained lookup diverged from fold-and-rebuild")
      maintained.orderBy("id")
    },

    Gate("x27_stream_variant_index",
      // X27: the streamed W36 — same oracle verbatim; shard boundaries,
      // batch tags and the replay probe are invisible to the answer.
      w36OracleSql) { (s, dir) =>
      // X27: the W36 maintenance loop as a STREAM — the same churn
      // arrives as 3 label shards in a watched directory, each
      // micro-batch Appends only its variant delta batch-tagged; a
      // manual redelivery of a consumed batch must commit nothing. The
      // final lookup runs against the current labels and replays the
      // SAME brute-force oracle as w36: shard boundaries, batch count
      // and replays are all invisible to the answer.
      val v1 = fuzzyLabelsV1(s, dir)
      val delta = fuzzyRenamed(v1).unionAll(fuzzyAdded(v1))
      val current = fuzzyCurrent(v1)
      val term = fuzzyTerm(v1)
      val t = graft.Scratch.fresh("x27_index")
      EditJoin.saveIndex(s, t, v1, "id", "label", files = 32)
      val in = graft.Scratch.shards("x27_in",
        (0 until 3).map(k => delta.filter(pmod(col("id"), lit(3)) === k)))
      val ckpt = graft.Scratch.fresh("x27_ckpt")
      graft.streaming.StreamingVariantIngest.start(
        s, in, delta.schema, "id", "label", t, ckpt).awaitTermination()
      // at-least-once redelivery: batch 0 again, by its consumed tag —
      // same checkpoint-derived namespace the stream stamped
      val vBefore = SnapshotTable.latestVersion(t).get
      graft.streaming.StreamingVariantIngest.applyBatch(
        s, delta.filter(pmod(col("id"), lit(3)) === 0), 0L, "id", "label", t,
        graft.streaming.BatchTags.namespace(ckpt))
      require(SnapshotTable.latestVersion(t).contains(vBefore),
        "replayed batch must commit nothing")
      EditJoin.fuzzyLookupStored(s, t, current, "id", "label", term)
        .select(col("id"), col("label"), col("dist"))
        .orderBy("id")
    },

    Gate("w32_fuzzy_label",
      // W32: the same typo derivation, then a full levenshtein scan — the
      // brute-force oracle for the variant-index probe path.
      w32OracleSql) { (s, dir) =>
      // W32: typo-tolerant label lookup over the same label surface as
      // w14 — the query term is part 1's name with its 3rd char turned
      // into 'z' (a one-substitution typo both engines derive from the
      // table, nothing hard-coded), so the original label must come back
      // at dist 1 (or 0 if that char already was 'z') along with any
      // natural ed<=1 neighbors. The oracle scans with levenshtein; the
      // operator probes D16's variant-hash index with the term's deletion
      // variants and verifies candidates only.
      val labels = Tables(s, dir).part
        .select(col("p_partkey").as("id"), col("p_name").as("label"))
      val base = labels.filter(col("id") === 1)
        .head().getString(1)
      val term = base.substring(0, 2) + "z" + base.substring(3)
      EditJoin.fuzzyLookup(
          EditJoin.variantIndex(labels, "id", "label"),
          labels, "id", "label", term)
        .select(col("id"), col("label"), col("dist"))
        .orderBy("id")
    },

    Gate("w15_conjunctive_semijoin",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |                     WHERE p_brand = 'Brand#1')
        |  AND o_orderkey IN (SELECT l_orderkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |                     WHERE p_brand = 'Brand#2')""".stripMargin) { (s, dir) =>
      // "red fruits" pattern (README.md:129-131): ids satisfying claim A AND claim B
      // = chained LEFT SEMI joins; Catalyst broadcasts the small claim sets.
      val t = Tables(s, dir)
      def ordersWithBrand(brand: String): DataFrame =
        t.lineitem.join(t.part.filter(col("p_brand") === brand),
          col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"))
      t.orders
        .join(ordersWithBrand("Brand#1"), col("o_orderkey") === col("ok"), "left_semi")
        .join(ordersWithBrand("Brand#2"), col("o_orderkey") === col("ok"), "left_semi")
        .select("o_orderkey", "o_totalprice")
    },

    Gate("w45_conjunctive_at",
      // W45: the surviving conjunction as pure residue arithmetic — claim
      // plumbing, spans and semi-join order all invisible. The span
      // residues intersect the conjunction set (23 mod 70), so the
      // temporal clauses remove real rows (14 → 8).
      """SELECT id FROM range(0, 1000) t(id)
        |WHERE id % 10 = 3 AND id % 7 = 2
        |  AND NOT id % 3 = 0   -- P31 claim ended 1940: dead at 1950
        |  AND NOT id % 11 = 0  -- P27 claim starts 1960: not yet at 1950
        |ORDER BY id""".stripMargin) { (s, dir) =>
      // W45 = W15 × W35: "red fruits, as of 1950" — ids whose P31 points
      // at 3 AND P27 at 2, both claims in force at T. Deterministic
      // two-property claim set over ids 0..999 (P31 → id%10, P27 → id%7)
      // with spans killing P31 claims of ids %3==0 (ended 1940) and P27
      // claims of ids %11==0 (start 1960); the oracle re-derives the
      // surviving conjunction as pure residue arithmetic. Residues chosen
      // so the temporal filter BITES the conjunction (ids ≡ 23 mod 70):
      // %3 kills 93/303/513/723/933 and %11 kills 583, shrinking the
      // answer from 14 ids to 8 — a broken span filter that keeps dead
      // claims (or drops spanned live ones) cannot pass. (The earlier
      // %4/%5 residues were vacuous on odd ids ≡ 3 mod 5.)
      import graft.wikidata.{IdCodec, TemporalClaims}
      val ids = s.range(0, 1000)
      val st31 = ids.select(col("id"),
        lit(IdCodec.pId(31)).as("property_id"),
        concat(lit("a"), col("id")).as("claim_id"),
        pmod(col("id"), lit(10)).as("entity_id"))
      val st27 = ids.select(col("id"),
        lit(IdCodec.pId(27)).as("property_id"),
        concat(lit("b"), col("id")).as("claim_id"),
        pmod(col("id"), lit(7)).as("entity_id"))
      val q31 = ids.filter(col("id") % 3 === 0).select(
        concat(lit("a"), col("id")).as("claim_id"),
        lit(TemporalClaims.EndPid).as("qual_property_id"),
        lit("time").as("kind"),
        expr("make_timestamp(1940, 1, 1, 0, 0, 0)").as("time"))
      val q27 = ids.filter(col("id") % 11 === 0).select(
        concat(lit("b"), col("id")).as("claim_id"),
        lit(TemporalClaims.StartPid).as("qual_property_id"),
        lit("time").as("kind"),
        expr("make_timestamp(1960, 1, 1, 0, 0, 0)").as("time"))
      TemporalClaims.conjunctiveSearchAt(
          st31.unionAll(st27), q31.unionAll(q27),
          Seq((IdCodec.pId(31), 3L), (IdCodec.pId(27), 2L)),
          lit("1950-06-01 00:00:00").cast("timestamp"))
        .orderBy("id")
    },

    Gate("w41_temporal_path",
      // W41: both alive edge sets, the closure and the zero-hop rewrite
      // re-derived from the same arithmetic.
      """WITH RECURSIVE e279 AS (
        |  SELECT id AS src, id // 2 AS dst,
        |    CASE WHEN id % 3 = 0
        |      THEN make_timestamp(CAST(1900 + id % 50 AS BIGINT), 1, 1, 0, 0, 0.0) END AS vfrom,
        |    CASE WHEN id % 4 = 0
        |      THEN make_timestamp(CAST(1940 + id % 40 AS BIGINT), 1, 1, 0, 0, 0.0) END AS vuntil
        |  FROM range(2, 256) t(id)
        |), a279 AS (
        |  SELECT src, dst FROM e279
        |  WHERE (vfrom IS NULL OR vfrom <= TIMESTAMP '1950-06-01 00:00:00')
        |    AND (vuntil IS NULL OR vuntil > TIMESTAMP '1950-06-01 00:00:00')
        |), a31 AS (
        |  SELECT 1000 + id AS src, id AS dst
        |  FROM range(2, 256) t(id)
        |  WHERE NOT (id % 5 = 0 AND make_timestamp(1945, 1, 1, 0, 0, 0.0) <= TIMESTAMP '1950-06-01 00:00:00')
        |    AND NOT (id % 7 = 0 AND make_timestamp(1960, 1, 1, 0, 0, 0.0) > TIMESTAMP '1950-06-01 00:00:00')
        |), cl AS (
        |  SELECT src, dst FROM a279
        |  UNION
        |  SELECT cl.src, a.dst FROM cl JOIN a279 a ON cl.dst = a.src
        |)
        |SELECT DISTINCT x.src, y.dst FROM a31 x JOIN cl y ON x.dst = y.src
        |UNION
        |SELECT src, dst FROM a31""".stripMargin) { (s, dir) =>
      // W41 = W21 × W35: a COMPOSED path at a point in time —
      // P31/P279* ("instances of any subclass, as the ontology stood at
      // 1950") over a two-property temporal graph: the P279 class tree
      // carries w39's span arithmetic; P31 instance edges die on their
      // own spans (every 5th ended 1945, every 7th starts 1960). One
      // validAt pass feeds every algebra leaf; the sequence/closure
      // machinery is untouched. The oracle re-derives both alive edge
      // sets, the recursive closure, and the exact zero-hop rewrite
      // (a/b* = a/b+ ∪ a) from the same arithmetic.
      import graft.wikidata.TemporalClaims
      val classes = s.range(2, 256)
      val c279 = concat(lit("c279_"), col("id"))
      val st279 = classes.select(col("id"),
        lit(graft.wikidata.IdCodec.pId(279)).as("property_id"),
        c279.as("claim_id"), expr("id div 2").as("entity_id"))
      val q279 = classes.filter(col("id") % 3 === 0).select(
          c279.as("claim_id"), lit(TemporalClaims.StartPid).as("qual_property_id"),
          lit("time").as("kind"),
          expr("make_timestamp(1900 + id % 50, 1, 1, 0, 0, 0)").as("time"))
        .unionAll(classes.filter(col("id") % 4 === 0).select(
          c279.as("claim_id"), lit(TemporalClaims.EndPid).as("qual_property_id"),
          lit("time").as("kind"),
          expr("make_timestamp(1940 + id % 40, 1, 1, 0, 0, 0)").as("time")))
      val c31 = concat(lit("c31_"), col("id"))
      val st31 = classes.select((col("id") + 1000L).as("id"),
        lit(graft.wikidata.IdCodec.pId(31)).as("property_id"),
        c31.as("claim_id"), col("id").as("entity_id"))
      val q31 = classes.filter(col("id") % 5 === 0).select(
          c31.as("claim_id"), lit(TemporalClaims.EndPid).as("qual_property_id"),
          lit("time").as("kind"),
          expr("make_timestamp(1945, 1, 1, 0, 0, 0)").as("time"))
        .unionAll(classes.filter(col("id") % 7 === 0).select(
          c31.as("claim_id"), lit(TemporalClaims.StartPid).as("qual_property_id"),
          lit("time").as("kind"),
          expr("make_timestamp(1960, 1, 1, 0, 0, 0)").as("time")))
      TemporalClaims.pathAt("P31/P279*", st279.unionAll(st31),
          q279.unionAll(q31), lit("1950-06-01 00:00:00").cast("timestamp"))
        .orderBy("src", "dst")
    },

    Gate("w39_temporal_closure",
      // W39: spans, the alive-at-T filter and the recursive closure all
      // re-derived from the same arithmetic — qualifier plumbing invisible.
      """WITH RECURSIVE e AS (
        |  SELECT id AS src, id // 2 AS dst,
        |    CASE WHEN id % 3 = 0
        |      THEN make_timestamp(CAST(1900 + id % 50 AS BIGINT), 1, 1, 0, 0, 0.0) END AS vfrom,
        |    CASE WHEN id % 4 = 0
        |      THEN make_timestamp(CAST(1940 + id % 40 AS BIGINT), 1, 1, 0, 0, 0.0) END AS vuntil
        |  FROM range(2, 4096) t(id)
        |), alive AS (
        |  SELECT src, dst FROM e
        |  WHERE (vfrom IS NULL OR vfrom <= TIMESTAMP '1950-06-01 00:00:00')
        |    AND (vuntil IS NULL OR vuntil > TIMESTAMP '1950-06-01 00:00:00')
        |), cl AS (
        |  SELECT src, dst FROM alive
        |  UNION
        |  SELECT cl.src, a.dst FROM cl JOIN alive a ON cl.dst = a.src
        |)
        |SELECT src, dst FROM cl""".stripMargin) { (s, dir) =>
      // W39 = W20 × W35: the ontology closure AS OF a point in time — the
      // "subclass tree as of 1950" query neither operator answers alone
      // (and the reference cannot ask at all: no qualifiers, no closure).
      // The same 4094-edge binary tree, now with deterministic validity
      // spans (every 3rd claim a start year 1900+i%50, every 4th an end
      // year 1940+i%40) expressed as REAL W34 qualifier rows; validAt
      // filters the edge set, path doubling closes what remains. The
      // oracle re-derives spans, the alive filter, and the recursive
      // closure from the identical arithmetic.
      import graft.wikidata.{IdCodec, TemporalClaims}
      val ids = s.range(2, 4096)
      val cid = concat(lit("c"), col("id"))
      val stmts = ids.select(col("id"),
        lit(IdCodec.encodeText("P279").get).as("property_id"),
        cid.as("claim_id"), expr("id div 2").as("entity_id"))
      val starts = ids.filter(col("id") % 3 === 0).select(
        cid.as("claim_id"),
        lit(TemporalClaims.StartPid).as("qual_property_id"),
        lit("time").as("kind"),
        expr("make_timestamp(1900 + id % 50, 1, 1, 0, 0, 0)").as("time"))
      val ends = ids.filter(col("id") % 4 === 0).select(
        cid.as("claim_id"),
        lit(TemporalClaims.EndPid).as("qual_property_id"),
        lit("time").as("kind"),
        expr("make_timestamp(1940 + id % 40, 1, 1, 0, 0, 0)").as("time"))
      val alive = TemporalClaims.validAt(stmts, starts.unionAll(ends),
        lit("1950-06-01 00:00:00").cast("timestamp"))
      graft.operators.PropertyPath.closure(
          alive.select(col("id").as("src"), col("entity_id").as("dst")))
        .orderBy("src", "dst")
    },

    Gate("w20_path_closure",
      // W20: the same closure via DuckDB's recursive CTE (UNION dedups, so
      // the recursion terminates at the fixpoint like the doubling does).
      """WITH RECURSIVE e AS (
        |  SELECT id AS src, id // 2 AS dst FROM range(2, 4096) t(id)
        |), cl AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT cl.src, e.dst FROM cl JOIN e ON cl.dst = e.src
        |)
        |SELECT src, dst FROM cl""".stripMargin) { (s, dir) =>
      // transitive property path (P279*-shaped): full reachability closure
      // of a deterministic 4094-node binary-tree hierarchy (child i →
      // parent i div 2, depth 11) via path doubling — the ontology-closure
      // query the reference's single-step search can't express. Oracle is
      // DuckDB's recursive CTE over the same range; rows are exact pairs,
      // so the gate hashes the whole closure. O(log diameter) round count
      // is asserted in PropertyPathSpec.
      graft.operators.PropertyPath.closure(
          s.range(2, 4096).select(col("id").as("src"), expr("id div 2").as("dst")))
        .orderBy("src", "dst")
    },

    Gate("w49_truthy_closure",
      // W49: the truthy edge set re-derived as residue arithmetic — a %5 id
      // keeps ONLY its preferred id//4 edge, everyone else the normal id//2
      // edge, deprecated edges never exist — then the same recursive CTE.
      """WITH RECURSIVE e AS (
        |  SELECT id AS src,
        |    CASE WHEN id % 5 = 0 THEN id // 4 ELSE id // 2 END AS dst
        |  FROM range(2, 4096) t(id)
        |), cl AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT cl.src, e.dst FROM cl JOIN e ON cl.dst = e.src
        |)
        |SELECT src, dst FROM cl ORDER BY src, dst""".stripMargin) { (s, dir) =>
      // W49 = W20 × W46: the ontology closure under wdt: semantics — the
      // BestRank cut picks each node's edge set, THEN path doubling runs
      // over the survivors. Deterministic contested hierarchy over ids
      // 2..4095: every id asserts a NORMAL P279 edge to id div 2; ids %5==0
      // also assert a PREFERRED edge to id div 4 (truthy must keep ONLY
      // that one — reachability genuinely changes); ids %7==0 also assert
      // a DEPRECATED edge to 1 (must drop AND never suppress). A cut that
      // keeps deprecated edges, misses preferred suppression, or computes
      // the flag in the wrong group diverges from the oracle's residue
      // arithmetic. Two claim-keyed stages: one window shuffle for the
      // cut, O(log diameter) joins for the closure.
      import graft.wikidata.{IdCodec, WikidataEtl}
      val ids = s.range(2, 4096)
      val pid = lit(IdCodec.encodeText("P279").get)
      val normal = ids.select(col("id"), pid.as("property_id"),
        lit("normal").as("rank"), expr("id div 2").as("entity_id"))
      val preferred = ids.filter(col("id") % 5 === 0).select(col("id"),
        pid.as("property_id"), lit("preferred").as("rank"),
        expr("id div 4").as("entity_id"))
      val deprecated = ids.filter(col("id") % 7 === 0).select(col("id"),
        pid.as("property_id"), lit("deprecated").as("rank"),
        lit(1L).as("entity_id"))
      val truthy = WikidataEtl.truthyCut(
        normal.unionAll(preferred).unionAll(deprecated))
      graft.operators.PropertyPath.closure(
          truthy.select(col("id").as("src"), col("entity_id").as("dst")))
        .orderBy("src", "dst")
    },

    Gate("w31_ontology_cycles",
      // W31: closure over the planted-cycle tree, self-pairs = loop members,
      // taint = everything whose ancestor chain reaches one
      """WITH RECURSIVE e AS (
        |  SELECT id AS src, id // 2 AS dst FROM range(2, 2048) t(id)
        |  UNION ALL
        |  SELECT * FROM (VALUES (4, 8), (32, 64), (256, 512)) v(src, dst)
        |), cl AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT cl.src, e.dst FROM cl JOIN e ON cl.dst = e.src
        |), cyc AS (
        |  SELECT DISTINCT src AS cid FROM cl WHERE src = dst
        |)
        |SELECT DISTINCT cl.src AS id,
        |  cl.src IN (SELECT cid FROM cyc) AS on_cycle
        |FROM cl WHERE cl.dst IN (SELECT cid FROM cyc)
        |ORDER BY id""".stripMargin) { (s, dir) =>
      // W31: the P279-loop audit over a deterministic 2046-node class tree
      // with three planted back-edges (parent → child), each closing a
      // 2-cycle. cycleAudit must flag exactly the six loop members and
      // list every class whose ancestor chain passes through one — the
      // whole report re-derived by the recursive-CTE oracle. Closure
      // convergence ON the cyclic graph is part of what's certified: path
      // doubling must terminate at the finite pair set, not diverge.
      import s.implicits._
      val tree = s.range(2, 2048).select(col("id").as("src"), expr("id div 2").as("dst"))
      val backEdges = Seq((4L, 8L), (32L, 64L), (256L, 512L)).toDF("src", "dst")
      graft.operators.PropertyPath.cycleAudit(tree.unionByName(backEdges))
        .orderBy("id")
    },

    Gate("w21_path_compose",
      // W21: (P31|P101)/P279* — seed with the alternation's 1-step pairs
      // (zero P279 hops), then extend through the class tree; UNION dedups,
      // so the fixpoint is the reachability set
      """WITH RECURSIVE p279 AS (
        |  SELECT id AS src, id // 2 AS dst FROM range(2, 1025) t(id)
        |), step1 AS (
        |  SELECT 100000 + i AS src, 2 + (i % 1023) AS dst FROM range(0, 5000) t(i)
        |  UNION
        |  SELECT 100000 + i AS src, 2 + ((i * 3) % 1023) AS dst
        |  FROM range(0, 1000) t(i) WHERE i % 7 = 0
        |), reach AS (
        |  SELECT src, dst FROM step1
        |  UNION
        |  SELECT reach.src, p279.dst FROM reach JOIN p279 ON reach.dst = p279.src
        |)
        |SELECT src, dst FROM reach""".stripMargin) { (s, dir) =>
      // composed property path `(P31|P101)/P279*` — "instance (or field-of-
      // work) of any subclass of", the reference README's own SPARQL
      // comparison pattern (README.md:146-152) that single-property closure
      // (w20) cannot express. Deterministic mini ontology: P279 = 1023-node
      // binary class tree (id -> id div 2), P31 = 5000 instances spread over
      // the classes, P101 = a sparse second instance property exercising
      // alternation. The zero-hop rewrite (a/b* = a/b+ ∪ a) keeps instances
      // of leaf classes with no outgoing P279 edges — the oracle recursive
      // CTE seeds with the 1-step pairs, the same semantics.
      def edgesOf(pid: Long): DataFrame = pid match {
        case 279L => s.range(2, 1025).select(col("id").as("src"), expr("id div 2").as("dst"))
        case 31L => s.range(0, 5000).select(
          (col("id") + 100000L).as("src"), (col("id") % 1023 + 2).as("dst"))
        case 101L => s.range(0, 1000).filter(col("id") % 7 === 0).select(
          (col("id") + 100000L).as("src"), (col("id") * 3 % 1023 + 2).as("dst"))
        case other => sys.error(s"no edges for P$other")
      }
      graft.operators.PathAlgebra.eval("(P31|P101)/P279*", edgesOf)
        .orderBy("src", "dst")
    },

    Gate("w30_negated_path",
      // W30: negating the instance properties leaves exactly P279, so the
      // first leg is the P279+ closure; the inverse-negated set is the
      // reversed instance edges
      """WITH RECURSIVE p279 AS (
        |  SELECT id AS src, id // 2 AS dst FROM range(2, 1025) t(id)
        |), plus AS (
        |  SELECT src, dst FROM p279
        |  UNION
        |  SELECT plus.src, p279.dst FROM plus JOIN p279 ON plus.dst = p279.src
        |), step1 AS (
        |  SELECT 100000 + i AS src, 2 + (i % 1023) AS dst FROM range(0, 5000) t(i)
        |  UNION
        |  SELECT 100000 + i AS src, 2 + ((i * 3) % 1023) AS dst
        |  FROM range(0, 1000) t(i) WHERE i % 7 = 0
        |)
        |SELECT src, dst FROM plus
        |UNION
        |SELECT dst AS src, src AS dst FROM step1
        |ORDER BY src, dst""".stripMargin) { (s, dir) =>
      // SPARQL negated property sets composed into the algebra:
      // `(!(P31|P101)/P279*) | !(^P279)` over the w21 claim universe. The
      // first leg negates every instance property, leaving exactly the
      // P279 edges, whose composition with P279* is the P279+ closure —
      // negation feeding sequence and closure; the second leg is the
      // INVERSE-negated set (reversed edges of everything but P279),
      // exercising the mixed translation. A leg that leaks the negated
      // property, or a forward edge in the inverse leg, breaks the hash.
      // Per-direction leg semantics and parser shapes are PathAlgebraSpec's.
      def edgesOf(pid: Long): DataFrame = pid match {
        case 279L => s.range(2, 1025).select(col("id").as("src"), expr("id div 2").as("dst"))
        case 31L => s.range(0, 5000).select(
          (col("id") + 100000L).as("src"), (col("id") % 1023 + 2).as("dst"))
        case 101L => s.range(0, 1000).filter(col("id") % 7 === 0).select(
          (col("id") + 100000L).as("src"), (col("id") * 3 % 1023 + 2).as("dst"))
        case other => sys.error(s"no edges for P$other")
      }
      def allEdges(): DataFrame =
        Seq(279L, 31L, 101L).map(p => edgesOf(p).select(lit(p).as("pid"),
          col("src"), col("dst"))).reduce(_ unionByName _)
      graft.operators.PathAlgebra.eval("(!(P31|P101)/P279*) | !(^P279)",
          edgesOf, allEdges _)
        .orderBy("src", "dst")
    },

    Gate("w24_geo_radius",
      // W24: same deterministic point set from range(); the oracle needs no
      // bbox (that is pushdown plumbing, not semantics) — the integer circle
      // test is the whole predicate, cos_pm = 658 the shared literal
      """WITH pts AS (
        |  SELECT range AS id,
        |    (range * 2654435761) % 120000001 - 60000000 AS lat_micro,
        |    (range * 1597334677) % 360000001 - 180000000 AS lon_micro
        |  FROM range(0, 50000)
        |), d AS (
        |  SELECT id, lat_micro, lon_micro,
        |    abs(lat_micro - 48856600) * abs(lat_micro - 48856600)
        |      + ((abs(lon_micro - 2352200) * 658) // 1000)
        |        * ((abs(lon_micro - 2352200) * 658) // 1000) AS dist2
        |  FROM pts
        |)
        |SELECT id, lat_micro, lon_micro, dist2 FROM d
        |WHERE dist2 <= CAST(4491600 AS BIGINT) * 4491600
        |ORDER BY dist2, id LIMIT 100""".stripMargin) { (s, dir) =>
      // geo-radius search: 100 nearest of 50k deterministic points
      // (multiplicative-hash spread over lat ∈ ±60°, lon ∈ ±180°, exactly
      // re-derivable from range() in DuckDB) within ~500 km of Paris.
      // cos(48.8566°) enters both engines as the same per-mille literal,
      // so every distance is long arithmetic and the gate hashes
      // (id, lat, lon, dist2) verbatim. Bbox pushdown, haversine-agreement
      // and k-prefix are GeoSpec's.
      val pts = s.range(0, 50000).select(col("id"),
        ((col("id") * 2654435761L) % 120000001L - 60000000L).as("lat_micro"),
        ((col("id") * 1597334677L) % 360000001L - 180000000L).as("lon_micro"))
      Geo.radiusSearch(pts, "id", "lat_micro", "lon_micro",
        lat0Micro = 48856600L, lon0Micro = 2352200L,
        radiusMicro = 4491600L, k = 100)
    },

    Gate("w26_entity_similarity",
      // W26: the pure semantic pair set {J >= 0.5} re-derived from shared
      // elements — the prefix-filter blocking must be invisible
      """WITH sets AS (
        |  SELECT s_nationkey AS id, list_distinct(list(l_partkey)) AS s
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY s_nationkey
        |), ex AS (
        |  SELECT id, unnest(s) AS e FROM sets
        |), inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.e = b.e AND a.id < b.id
        |  GROUP BY 1, 2
        |), sz AS (
        |  SELECT id, len(s) AS n FROM sets
        |)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter JOIN sz sa ON inter.id_a = sa.id
        |             JOIN sz sb ON inter.id_b = sb.id
        |) WHERE jaccard >= 0.5""".stripMargin) { (s, dir) =>
      // KG entity resolution re-expressed on the stand-in schema: two
      // entities are similar when the sets of claims they carry overlap —
      // here nations by the distinct parts their suppliers ship
      // (lineitem ≙ claims). Exact Jaccard ≥ 0.5 through the LOSSLESS
      // PPJoin path over arbitrary long-id sets (setJaccardPairs, the D4
      // kernel generalized past text), so the blocking is invisible and
      // DuckDB re-derives the pure pair set from shared elements.
      val t = Tables(s, dir)
      val sets = t.lineitem
        .join(t.supplier.select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("id"))
        .agg(sort_array(array_distinct(collect_list(col("l_partkey")))).as("__set"))
      Dedup.setJaccardPairs(sets, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    Gate("w25_geo_pairs",
      // W25: brute-force replay of the same long-arithmetic pair predicate;
      // the lat-band condition makes it a DuckDB IEJoin, not a cross join
      """WITH pts AS (
        |  SELECT range AS id,
        |    (range * 2654435761) % 120000001 - 60000000 AS lat,
        |    (range * 1597334677) % 360000001 - 180000000 AS lon
        |  FROM range(0, 10000)
        |)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  (a.lat - b.lat) * (a.lat - b.lat)
        |    + (a.lon - b.lon) * (a.lon - b.lon) AS dist2
        |FROM pts a JOIN pts b
        |  ON b.lat BETWEEN a.lat - 2000000 AND a.lat + 2000000
        | AND a.id < b.id
        |WHERE (a.lat - b.lat) * (a.lat - b.lat)
        |    + (a.lon - b.lon) * (a.lon - b.lon)
        |  <= CAST(2000000 AS BIGINT) * 2000000""".stripMargin) { (s, dir) =>
      // spatial pair self-join: all pairs within 2.0 deg (squared-microdegree
      // metric) over 10k deterministic points. The operator grid-blocks
      // (cell = eps, 3×3 replication, home-side dedup); the oracle brute
      // forces the same long-arithmetic predicate with a lat-band range
      // join — blocking must be invisible. Exactly-once pair emission and
      // boundary coverage are GeoSpec's.
      val pts = s.range(0, 10000).select(col("id"),
        ((col("id") * 2654435761L) % 120000001L - 60000000L).as("lat_micro"),
        ((col("id") * 1597334677L) % 360000001L - 180000000L).as("lon_micro"))
      Geo.pairsWithin(pts, "id", "lat_micro", "lon_micro", epsMicro = 2000000L)
        .orderBy("id_a", "id_b")
    },

    Gate("w27_hop_distance",
      // W27: recursive UNION-dedup walk (rows (id, d) dedup, so the bound
      // terminates it) + min per node ≡ BFS settling order
      """WITH RECURSIVE r AS (
        |  SELECT range // 2 AS src, range AS dst FROM range(2, 4096)
        |  UNION ALL
        |  SELECT (range * 7) % 4095 + 1 AS src, range AS dst
        |  FROM range(1, 4096) WHERE range % 3 = 0
        |), walk(id, d) AS (
        |  SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d
        |  UNION
        |  SELECT r.dst, walk.d + 1 FROM walk JOIN r ON r.src = walk.id
        |  WHERE walk.d < 30
        |)
        |SELECT id, min(d) AS dist FROM walk GROUP BY id""".stripMargin) { (s, dir) =>
      // min-hop distances from the root over the w23 claim graph with
      // edges reversed (child→parent becomes parent→child): "how deep
      // below the root class is each entity" — the distance question the
      // boolean closure (w20/w21) cannot answer. Frontier BFS settles
      // each depth in one round; DuckDB replays with a recursive
      // UNION-dedup walk + min aggregation. BFS semantics (multi-source
      // min, unreachable absent, round bound) are PropertyPathSpec's.
      val tree = s.range(2, 4096).select(col("id").as("src"), expr("id div 2").as("dst"))
      val cross = s.range(1, 4096).filter(col("id") % 3 === 0)
        .select(col("id").as("src"), ((col("id") * 7) % 4095 + 1).as("dst"))
      val rev = tree.unionByName(cross)
        .select(col("dst").as("src"), col("src").as("dst"))
      PropertyPath.hopDistances(rev, s.range(1, 2).toDF("id"))
        .orderBy("id")
    },

    Gate("w29_shortest_path",
      // W29: two full recursive BFS walks (forward from 4093, backward from
      // the root), intersected; the meet set is every node with
      // da + db = min — the bidirectional strategy must land on exactly it
      """WITH RECURSIVE e AS (
        |  SELECT range AS src, range // 2 AS dst FROM range(2, 4096)
        |  UNION ALL
        |  SELECT range AS src, ((range * 7) % 4095) + 1 AS dst
        |  FROM range(1, 4096) WHERE range % 3 = 0
        |), fa(id, d) AS (
        |  SELECT CAST(4093 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d
        |  UNION
        |  SELECT e.dst, fa.d + 1 FROM fa JOIN e ON e.src = fa.id WHERE fa.d < 20
        |), fb(id, d) AS (
        |  SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d
        |  UNION
        |  SELECT e.src, fb.d + 1 FROM fb JOIN e ON e.dst = fb.id WHERE fb.d < 20
        |), da AS (SELECT id, min(d) AS d1 FROM fa GROUP BY id),
        |db AS (SELECT id, min(d) AS d2 FROM fb GROUP BY id),
        |m AS (SELECT da.id, d1 + d2 AS dist FROM da JOIN db USING (id)),
        |t AS (SELECT min(dist) AS best FROM m)
        |SELECT m.id AS meet_id, m.dist FROM m, t WHERE m.dist = t.best
        |ORDER BY meet_id""".stripMargin) { (s, dir) =>
      // single-pair shortest path with its meet certificate: from deep
      // leaf 4093 to the root over the w23 claim graph (tree edges point
      // child → parent; cross links add shortcuts, so the answer is NOT
      // simply the tree depth). The operator meets in the middle
      // (bidirectional BFS, smaller-frontier rule); the oracle replays
      // two full recursive BFS walks and intersects — the search strategy
      // must be invisible in the (meet_id, dist) set. Brute-force
      // equality on random graphs, unreachable pairs, self pairs and the
      // early-exit bound are PropertyPathSpec's.
      val tree = s.range(2, 4096).select(col("id").as("src"), expr("id div 2").as("dst"))
      val cross = s.range(1, 4096).filter(col("id") % 3 === 0)
        .select(col("id").as("src"), ((col("id") * 7) % 4095 + 1).as("dst"))
      PropertyPath.shortestMeet(tree.unionByName(cross), srcId = 4093L, dstId = 1L)
        .orderBy("meet_id")
    },

    Gate("w23_pagerank", {
      // W23: the same 5 integer-unit PageRank steps unrolled in SQL — floor
      // division per edge, so every rank is bit-identical
      def step(k: Int) =
        s"""r$k AS (
           |  SELECT n.id, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, SUM(r.rank // deg.d) AS s
           |    FROM e JOIN r${k - 1} r ON r.id = e.src JOIN deg ON deg.src = e.src
           |    GROUP BY e.dst) c ON c.id = n.id)""".stripMargin
      """WITH e AS (
        |  SELECT range AS src, range // 2 AS dst FROM range(2, 4096)
        |  UNION ALL
        |  SELECT range AS src, ((range * 7) % 4095) + 1 AS dst
        |  FROM range(1, 4096) WHERE range % 3 = 0
        |),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |""".stripMargin +
        (1 to 5).map(step).mkString(",\n") +
        "\nSELECT id, rank FROM r5"
    }) { (s, dir) =>
      // entity centrality: 5 integer-unit PageRank steps over a
      // deterministic claim graph — a 4094-edge class tree (i -> i div 2,
      // the w20 hierarchy) plus a sparse cross-link family; node 1 (the
      // root) has no out-edge, exercising the dangling-mass convention.
      // Every intermediate is floor division on longs, so the DuckDB
      // oracle unrolling the same 5 steps in SQL is hash-exact on all
      // 4095 ranks. Fixed points, brute-force equality and dangling
      // semantics are CentralitySpec's.
      val tree = s.range(2, 4096).select(col("id").as("src"), expr("id div 2").as("dst"))
      val cross = s.range(1, 4096).filter(col("id") % 3 === 0)
        .select(col("id").as("src"), ((col("id") * 7) % 4095 + 1).as("dst"))
      Centrality.pageRank(tree.unionByName(cross), iterations = 5)
    },

    Gate("w28_triangles",
      // W28: canonical-triple brute force — triangles are the (a < b < c)
      // closures of the deduped undirected edge set; per-node counts fall
      // out of unioning the three corners. The Spark side's degree-ordered
      // orientation must produce exactly this set.
      """WITH e0 AS (
        |  SELECT range AS src, range // 2 AS dst FROM range(2, 4096)
        |  UNION ALL
        |  SELECT range AS src, range // 4 AS dst FROM range(4, 4096)
        |  UNION ALL
        |  SELECT range AS src, ((range * 7) % 4095) + 1 AS dst
        |  FROM range(1, 4096) WHERE range % 3 = 0
        |),
        |e AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst
        |),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |),
        |m AS (
        |  SELECT x AS id FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri
        |)
        |SELECT id, count(*) AS triangles FROM m GROUP BY id ORDER BY id""".stripMargin) { (s, dir) =>
      // per-node triangle counts over the w23 claim graph densified with
      // grandparent short-cuts (i -> i div 4), which close one triangle
      // {i, i div 2, i div 4} per node — plus the cross-link family for
      // irregular closures, reverse edges and parallel edges (the
      // canonicalization must absorb them). The operator counts via
      // degree-ordered orientation; the oracle brute-forces the canonical
      // a<b<c triple join — the orientation strategy must be invisible.
      // Orientation-vs-brute equality on random graphs, skew safety and
      // the simple-graph contract are CentralitySpec's.
      val tree = s.range(2, 4096).select(col("id").as("src"), expr("id div 2").as("dst"))
      val grand = s.range(4, 4096).select(col("id").as("src"), expr("id div 4").as("dst"))
      val cross = s.range(1, 4096).filter(col("id") % 3 === 0)
        .select(col("id").as("src"), ((col("id") * 7) % 4095 + 1).as("dst"))
      Centrality.triangleCounts(tree.unionByName(grand).unionByName(cross))
        .orderBy("id")
    },

    Gate("w16_claim_filter",
      """SELECT l_orderkey AS id, p_name AS label, l_quantity AS quantity
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#3' AND l_quantity >= 50""".stripMargin) { (s, dir) =>
      // claim-value lookup with property filter: claims(id, property, value)
      // ≙ lineitem(l_orderkey, l_partkey, l_quantity) + label join.
      val t = Tables(s, dir)
      t.lineitem
        .join(t.part.filter(col("p_brand") === "Brand#3"),
          col("l_partkey") === col("p_partkey"))
        .filter(col("l_quantity") >= 50)
        .select(col("l_orderkey").as("id"), col("p_name").as("label"),
          col("l_quantity").as("quantity"))
    }
  )
}
