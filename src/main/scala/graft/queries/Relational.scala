package graft.queries

import graft.operators.{AsOfJoin, Graphs, Layout, RangeJoin}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import Tables.tbl

/** Generic relational surface over the TPC-H-ish testdata: aggregation,
  * multi-way joins, windows, semi/anti, rollup, distinct-agg,
  * sessionization, as-of join. Each query keeps the plan declarative so
  * Catalyst does pruning/pushdown/broadcast; small dimensions are
  * broadcast-hinted explicitly.
  */
object Relational {

  /** Exact decimal view of a 2-decimal double column (never rounds on
    * this data; see QueryDef determinism rules). */
  private def dec(c: String): Column = col(c).cast(DecimalType(18, 6))

  val q1Pricing: QueryDef = QueryDef(
    "q1_pricing",
    (s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
          sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 6)) - dec("l_discount")))
            .cast("double").as("sum_disc_price"),
          sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 6)) - dec("l_discount"))
            * (lit(1).cast(DecimalType(18, 6)) + dec("l_tax")))
            .cast("double").as("sum_charge"),
          count(lit(1)).as("count_order")
        )
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .withColumn("avg_price", col("sum_base_price") / col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) * (CAST(1 AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6)))) AS DOUBLE) AS sum_charge,
        count(*) AS count_order,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_price
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """.stripMargin.trim)
  )

  val q3Revenue: QueryDef = QueryDef(
    "q3_revenue",
    (s, dir) => {
      val cust = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = tbl(s, dir, "orders").filter(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      val li = tbl(s, dir, "lineitem").filter(col("l_shipdate") > to_timestamp(lit("1998-01-01 00:00:00")))
      li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 6)) - dec("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
    Some("""
      SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_orderkey, orderdate
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10
    """.stripMargin.trim)
  )

  val q5NationRevenue: QueryDef = QueryDef(
    "q5_nation_revenue",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val ord = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 6)) - dec("l_discount")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },
    Some("""
      SELECT r_name, n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS revenue,
        count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name
    """.stripMargin.trim)
  )

  val qTopOrders: QueryDef = QueryDef(
    "q_top_orders_per_customer",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
      ) WHERE rn <= 3
      ORDER BY o_custkey, rn
    """.stripMargin.trim)
  )

  val qSemiAnti: QueryDef = QueryDef(
    "q_semi_anti",
    (s, dir) => {
      val cust = tbl(s, dir, "customer")
      val ord = tbl(s, dir, "orders")
      cust
        .join(ord.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .join(ord.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey
    """.stripMargin.trim)
  )

  val qRollup: QueryDef = QueryDef(
    "q_rollup",
    (s, dir) => {
      tbl(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), sum(dec("l_quantity")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """.stripMargin.trim)
  )

  val qDistinctAgg: QueryDef = QueryDef(
    "q_distinct_agg",
    (s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.stripMargin.trim)
  )

  val qSessionize: QueryDef = QueryDef(
    "q_sessionize",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      tbl(s, dir, "events")
        .withColumn("sec", expr("ts div 1000000000"))
        .withColumn("prev", lag("sec", 1).over(w))
        .withColumn("new_session",
          when(col("prev").isNull || col("sec") - col("prev") > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec FROM events
      ), m AS (
        SELECT user_id,
          CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
                 OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
               THEN 1 ELSE 0 END AS ns
        FROM e
      )
      SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions, count(*) AS n_events
      FROM m GROUP BY user_id ORDER BY user_id
    """.stripMargin.trim)
  )

  val qAsOf: QueryDef = QueryDef(
    "q_asof_prior_error",
    (s, dir) => {
      val e = tbl(s, dir, "events").withColumn("sec", expr("ts div 1000000000"))
      val clicks = e.filter(col("event_type") === "click").select("user_id", "sec", "event_id")
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("sec"), col("event_id"), col("event_id").as("prior_error_id"))
      AsOfJoin
        .lastPrior(clicks, errors, Seq("user_id"), "sec", "event_id", Seq("prior_error_id"))
        .select("event_id", "prior_error_id")
        .orderBy("event_id")
    },
    Some("""
      WITH u AS (
        SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, event_id,
               CASE WHEN event_type = 'click' THEN event_id END AS lid,
               CASE WHEN event_type = 'error' THEN event_id END AS rid,
               CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
        FROM events WHERE event_type IN ('click', 'error')
      ), w AS (
        SELECT lid, side,
          last_value(rid IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY sec, side, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior
        FROM u
      )
      SELECT lid AS event_id, prior AS prior_error_id FROM w WHERE side = 0 ORDER BY event_id
    """.stripMargin.trim)
  )

  /** Sessionization through Spark's NATIVE `session_window` (the same
    * code path [[graft.streaming.StreamingDedup.sessionAggregates]]
    * runs on unbounded streams — batch ≡ stream is spec-pinned there).
    * The oracle independently replays session_window's merge rule
    * (touching windows merge: a session closes only when diff > 1800 —
    * the same boundary as `q_sessionize`) with lag + cumulative-sum
    * session ids — pinning the built-in operator's merge semantics
    * against a from-scratch SQL implementation. */
  val qSessionWindow: QueryDef = QueryDef(
    "q_session_window",
    (s, dir) => {
      val e = tbl(s, dir, "events")
        .select(col("user_id"), timestamp_seconds(expr("ts div 1000000000")).as("ets"))
      graft.streaming.StreamingDedup
        .sessionAggregates(e, "user_id", "ets", gap = "30 minutes", watermark = "0 seconds")
        .orderBy("user_id", "session_start")
    },
    Some("""
      WITH e AS (
        SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, event_id FROM events
      ),
      m AS (
        SELECT user_id, sec, event_id,
          CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
                 OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
               THEN 1 ELSE 0 END AS ns
        FROM e
      ),
      s AS (
        SELECT user_id, sec,
          SUM(ns) OVER (PARTITION BY user_id ORDER BY sec, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM m
      )
      SELECT user_id, MIN(sec) AS session_start, MAX(sec) + 1800 AS session_end,
        COUNT(*) AS n_events
      FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
    """.stripMargin.trim)
  )

  /** Forward as-of: each click's NEXT purchase (strictly after) via
    * [[AsOfJoin.firstAfter]] — the union+window mirror of
    * `q_asof_prior_error`, one shuffle, no range blowup. */
  val qAsOfNext: QueryDef = QueryDef(
    "q_asof_next_purchase",
    (s, dir) => {
      val e = tbl(s, dir, "events").withColumn("sec", expr("ts div 1000000000"))
      val clicks = e.filter(col("event_type") === "click").select("user_id", "sec", "event_id")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("sec"), col("event_id"), col("event_id").as("next_purchase_id"))
      AsOfJoin
        .firstAfter(clicks, purchases, Seq("user_id"), "sec", "event_id", Seq("next_purchase_id"))
        .select("event_id", "next_purchase_id")
        .orderBy("event_id")
    },
    Some("""
      WITH u AS (
        SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, event_id,
               CASE WHEN event_type = 'click' THEN event_id END AS lid,
               CASE WHEN event_type = 'purchase' THEN event_id END AS rid,
               CASE WHEN event_type = 'click' THEN 0 ELSE -1 END AS side
        FROM events WHERE event_type IN ('click', 'purchase')
      ), w AS (
        SELECT lid, side,
          first_value(rid IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY sec, side, event_id
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
        FROM u
      )
      SELECT lid AS event_id, nxt AS next_purchase_id FROM w WHERE side = 0 ORDER BY event_id
    """.stripMargin.trim)
  )

  /** Exact-decimal covariance/correlation: every SUM runs in DECIMAL
    * (order-independent), and the float math happens once per GROUP on
    * identical exact-sourced doubles — so a statistic that is normally
    * partition-order-dependent (double accumulation) replays
    * bit-for-bit on both engines. */
  val qCovariance: QueryDef = QueryDef(
    "q_covariance",
    (s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(dec("l_quantity") * dec("l_extendedprice")).cast("double").as("sxy"),
          sum(dec("l_quantity")).cast("double").as("sx"),
          sum(dec("l_extendedprice")).cast("double").as("sy"),
          sum(dec("l_quantity") * dec("l_quantity")).cast("double").as("sxx"),
          sum(dec("l_extendedprice") * dec("l_extendedprice")).cast("double").as("syy"))
        .select(col("l_returnflag"), col("n"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) / col("n")).as("cov_pop"),
          (((col("sxy") - col("sx") * col("sy") / col("n")) / col("n")) /
            (sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")) *
              sqrt((col("syy") - col("sy") * col("sy") / col("n")) / col("n")))).as("corr"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH a AS (
        SELECT l_returnflag, count(*) AS n,
          -- DECIMAL(25,6) forces DuckDB onto the int128 path: the
          -- (18,6)x(18,6) product overflows its int64-backed width-18
          -- multiply even though the mathematical value fits
          CAST(sum(CAST(l_quantity AS DECIMAL(25,6)) * CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
          CAST(sum(CAST(l_quantity AS DECIMAL(25,6)) * CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6)) * CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY l_returnflag
      )
      SELECT l_returnflag, n,
        (sxy - sx * sy / n) / n AS cov_pop,
        ((sxy - sx * sy / n) / n) /
          (sqrt((sxx - sx * sx / n) / n) * sqrt((syy - sy * sy / n) / n)) AS corr
      FROM a ORDER BY l_returnflag
    """.stripMargin.trim)
  )

  val qCube: QueryDef = QueryDef(
    "q_cube",
    (s, dir) => {
      tbl(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec("o_totalprice")).cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """.trim)
  )

  /** Arbitrary GROUPING SETS (the general form rollup/cube specialize):
    * per-(flag,status), per-priority, and grand-total aggregates in ONE
    * pass, with `grouping_id` disambiguating the null-vs-subtotal
    * encoding. */
  val qGroupingSets: QueryDef = QueryDef(
    "q_grouping_sets",
    (s, dir) => {
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_li_gs")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(*) AS n_rows,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM graft_li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
      """)
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
             count(*) AS n_rows,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """.stripMargin.trim)
  )

  /** The SQL FRONT END end to end — parser, analyzer, correlated
    * subqueries — not just the DataFrame DSL: a CTE + window + a
    * correlated scalar subquery + EXISTS, submitted as TEXT via
    * spark.sql over registered views. The oracle is near-verbatim
    * (shared ANSI surface). */
  val qSqlSurface: QueryDef = QueryDef(
    "q_sql_surface",
    (s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("graft_ord_sq")
      tbl(s, dir, "customer").createOrReplaceTempView("graft_cust_sq")
      s.sql("""
        WITH big AS (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM graft_ord_sq
        )
        SELECT c_custkey, c_name,
               (SELECT CAST(count(*) AS BIGINT) FROM graft_ord_sq o
                WHERE o.o_custkey = c.c_custkey) AS n_orders,
               (SELECT max(o_totalprice) FROM graft_ord_sq o
                WHERE o.o_custkey = c.c_custkey) AS top_price
        FROM graft_cust_sq c
        WHERE EXISTS (SELECT 1 FROM big b WHERE b.o_custkey = c.c_custkey AND b.rk = 1
                        AND b.o_totalprice > 300000)
        ORDER BY c_custkey
      """)
    },
    Some("""
      WITH big AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
      )
      SELECT c_custkey, c_name,
             (SELECT CAST(count(*) AS BIGINT) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS n_orders,
             (SELECT max(o_totalprice) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS top_price
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM big b WHERE b.o_custkey = c.c_custkey AND b.rk = 1
                      AND b.o_totalprice > 300000)
      ORDER BY c_custkey
    """.stripMargin.trim)
  )

  val qSetOps: QueryDef = QueryDef(
    "q_set_ops",
    (s, dir) => {
      val ord = tbl(s, dir, "orders")
      def custs(status: String) =
        ord.filter(col("o_orderstatus") === status).select("o_custkey").distinct()
      custs("O").intersect(custs("F"))
        .unionByName(custs("P").except(custs("F")))
        .distinct()
        .orderBy("o_custkey")
    },
    Some("""
      SELECT DISTINCT o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        UNION
        (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      ) ORDER BY o_custkey
    """.trim)
  )

  /** The native Catalyst expression through the FULL SQL surface:
    * `hamming_distance` is injected by [[graft.plans.GraftExtensions]]
    * (harness sessions build `.withExtensions`), parsed from SQL text,
    * analyzed, and whole-stage-codegen'd over `BinaryType`. The oracle
    * replays the distance as four 32-bit xor+popcount chunks. */
  val qHammingExpr: QueryDef = QueryDef(
    "q_hamming_expr",
    (s, dir) => tbl(s, dir, "documents")
      .select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("a"),
        md5((col("doc_id") + 1).cast("string")).as("b"))
      .selectExpr("doc_id AS id", "hamming_distance(unhex(a), unhex(b)) AS dist")
      .orderBy("id"),
    Some {
      val chunks = (0 until 4).map { k =>
        s"bit_count(xor(CAST('0x' || substr(a, ${k * 8 + 1}, 8) AS BIGINT), CAST('0x' || substr(b, ${k * 8 + 1}, 8) AS BIGINT)))"
      }.mkString(" + ")
      s"""
      SELECT doc_id AS id, CAST($chunks AS INT) AS dist
      FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS a, md5(CAST(doc_id + 1 AS VARCHAR)) AS b FROM documents)
      ORDER BY id""".trim
    }
  )

  /** The custom PHYSICAL operator end-to-end: the broadcast Hamming
    * kernel as its own LogicalPlan + Strategy + Exec
    * ([[graft.plans.HammingKernelJoin]]), run against a synthesized
    * hash corpus with planted exact (every 7th ≡ 1) and 4-bit-flipped
    * (≡ 2) near-dups; the kernel side is every 40th id. The join runs
    * at hash level — distinct corpus hashes stream past the packed
    * distinct kernel hashes — and joins back to ids on both sides. The
    * oracle brute-forces every (corpus × kernel) pair at the bit level. */
  val qKernelJoin: QueryDef = QueryDef(
    "q_kernel_join",
    (s, dir) => {
      import graft.functions.HashFunctions.canonicalHex64
      val e = tbl(s, dir, "events").filter(col("event_id") < 2000)
      val hid = when(col("event_id") % 7 === 1, col("event_id") - 1)
        .when(col("event_id") % 7 === 2, col("event_id") - 2)
        .otherwise(col("event_id"))
      val base = concat(md5(hid.cast("string")), md5(concat(hid.cast("string"), lit("k"))))
      val h = when(col("event_id") % 7 === 2,
        concat(expr(
          "substring('fedcba9876543210', instr('0123456789abcdef', substring(" +
            "concat(md5(CAST(CASE WHEN event_id % 7 = 1 THEN event_id - 1 WHEN event_id % 7 = 2 THEN event_id - 2 ELSE event_id END AS STRING)), " +
            "md5(concat(CAST(CASE WHEN event_id % 7 = 1 THEN event_id - 1 WHEN event_id % 7 = 2 THEN event_id - 2 ELSE event_id END AS STRING), 'k'))), 1, 1)), 1)"),
          base.substr(lit(2), lit(63)))).otherwise(base)
      val all = e.select(col("event_id").as("id"), canonicalHex64(h).as("h"))
      val kernel = all.filter(col("id") % 40 === 0)
      val kernelHashes = kernel.select("h").distinct().collect().map(_.getString(0))
      graft.plans.HammingKernelJoin.join(all.select(col("h").as("phash")).distinct(), kernelHashes, maxDist = 60)
        .join(all.select(col("id").as("id_a"), col("h").as("phash")), Seq("phash"))
        .join(kernel.select(col("id").as("id_b"), col("h").as("chash")), Seq("chash"))
        .filter(col("id_a") =!= col("id_b"))
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")
    },
    Some {
      // bit_count returns TINYINT — cast each term or the sum overflows 127
      val dist = (0 until 8).map { k =>
        s"CAST(bit_count(xor(CAST('0x' || substr(a.h, ${k * 8 + 1}, 8) AS BIGINT), CAST('0x' || substr(b.h, ${k * 8 + 1}, 8) AS BIGINT))) AS INT)"
      }.mkString(" + ")
      s"""
      WITH kj_e AS (SELECT event_id AS id FROM events WHERE event_id < 2000),
      kj_h0 AS (
        SELECT id,
          md5(CAST(hid AS VARCHAR)) || md5(CAST(hid AS VARCHAR) || 'k') AS base,
          id % 7 = 2 AS flip
        FROM (SELECT id, CASE WHEN id % 7 = 1 THEN id - 1
                              WHEN id % 7 = 2 THEN id - 2 ELSE id END AS hid FROM kj_e)),
      kj_hx AS (
        SELECT id, CASE WHEN flip
          THEN substring('fedcba9876543210', strpos('0123456789abcdef', substring(base, 1, 1)), 1)
               || substring(base, 2, 63)
          ELSE base END AS h
        FROM kj_h0),
      kj_k AS (SELECT * FROM kj_hx WHERE id % 40 = 0)
      SELECT a.id AS id_a, b.id AS id_b, CAST($dist AS INT) AS dist
      FROM kj_hx a CROSS JOIN kj_k b
      WHERE a.id <> b.id AND $dist <= 60
      ORDER BY id_a, id_b
      """.trim
    }
  )

  /** Pivot (wide crosstab): order counts by status × priority. Spark's
    * `.pivot` with EXPLICIT values keeps the plan a single aggregate
    * (no extra distinct-values job, fixed output schema — the only
    * scalable way to pivot); missing cells coalesce to 0 to match the
    * oracle's `count(*) FILTER`. */
  val qPivot: QueryDef = QueryDef(
    "q_pivot",
    (s, dir) => {
      val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val p = tbl(s, dir, "orders")
        .groupBy("o_orderstatus").pivot("o_orderpriority", priorities).count()
      p.select(col("o_orderstatus") +:
        priorities.zipWithIndex.map { case (v, i) =>
          coalesce(p.col(s"`$v`"), lit(0L)).as(s"p${i + 1}")
        }: _*)
        .orderBy("o_orderstatus")
    },
    Some {
      val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val cells = priorities.zipWithIndex.map { case (v, i) =>
        s"count(*) FILTER (WHERE o_orderpriority = '$v') AS p${i + 1}"
      }.mkString(",\n        ")
      s"""
      SELECT o_orderstatus,
        $cells
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
      """.trim
    }
  )

  /** Ordered funnel (view → click → purchase) per user with
    * earliest-completion semantics: step k's timestamp is the MIN
    * event time of its type strictly after step k−1. ONE exchange on
    * user_id: the three dependent mins are stacked unbounded windows
    * over the same partitioning (no order → no sort), and the closing
    * per-user aggregate reuses the hash distribution — a funnel over
    * a trillion events shuffles each slim row once. */
  val qFunnel: QueryDef = QueryDef(
    "q_funnel",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
      tbl(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("ts div 1000000000").as("sec"))
        .withColumn("s1", min(when(col("event_type") === "view", col("sec"))).over(w))
        .withColumn("s2", min(when(col("event_type") === "click" && col("sec") > col("s1"),
          col("sec"))).over(w))
        .withColumn("s3", min(when(col("event_type") === "purchase" && col("sec") > col("s2"),
          col("sec"))).over(w))
        .groupBy("user_id")
        .agg(max("s1").as("t_view"), max("s2").as("t_click"), max("s3").as("t_purchase"))
        .withColumn("n_steps",
          when(col("t_purchase").isNotNull, 3L).when(col("t_click").isNotNull, 2L)
            .when(col("t_view").isNotNull, 1L).otherwise(0L))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events
      ), w1 AS (
        SELECT *, min(CASE WHEN event_type = 'view' THEN sec END)
                    OVER (PARTITION BY user_id) AS s1 FROM e
      ), w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND sec > s1 THEN sec END)
                    OVER (PARTITION BY user_id) AS s2 FROM w1
      ), w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND sec > s2 THEN sec END)
                    OVER (PARTITION BY user_id) AS s3 FROM w2
      )
      SELECT user_id, max(s1) AS t_view, max(s2) AS t_click, max(s3) AS t_purchase,
        CAST(CASE WHEN max(s3) IS NOT NULL THEN 3 WHEN max(s2) IS NOT NULL THEN 2
                  WHEN max(s1) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_steps
      FROM w3 GROUP BY user_id ORDER BY user_id
    """.stripMargin.trim)
  )

  /** Interval containment through [[RangeJoin.pointInInterval]]: every
    * click inside the 24 h window opened by an error of the SAME user.
    * The bucketed rewrite turns the BNLJ-shaped `BETWEEN` predicate
    * into a hash equi-join on (user_id, bucket) — fan-out per interval
    * is exactly 2 buckets at W = window length — so AQE skew handling
    * applies and the candidate volume is |clicks| + 2·|errors|, not
    * |clicks|×|errors| per user (PlanShapeSpec pins no BNLJ /
    * cartesian in the plan). */
  val qRangeJoin: QueryDef = QueryDef(
    "q_range_join",
    (s, dir) => {
      val e = tbl(s, dir, "events").withColumn("sec", expr("ts div 1000000000"))
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "event_id", "sec")
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          col("sec").as("lo"), (col("sec") + 86400L).as("hi"))
      RangeJoin.pointInInterval(clicks, errors, Seq("user_id"),
          pointCol = "sec", loCol = "lo", hiCol = "hi", bucketWidth = 86400L)
        .select("event_id", "err_id")
        .orderBy("event_id", "err_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec, event_type FROM events
      ),
      c AS (SELECT user_id, event_id, sec FROM e WHERE event_type = 'click'),
      x AS (SELECT user_id, event_id AS err_id, sec AS lo, sec + 86400 AS hi
            FROM e WHERE event_type = 'error')
      SELECT c.event_id, x.err_id
      FROM c JOIN x ON c.user_id = x.user_id AND c.sec BETWEEN x.lo AND x.hi
      ORDER BY event_id, err_id
    """.stripMargin.trim)
  )

  /** Interval × interval overlap through [[RangeJoin.intervalOverlap]]:
    * 4-hour error windows meeting 4-hour purchase windows of the same
    * user. Both sides explode into their covered buckets and each
    * overlapping pair is claimed exactly once — in the bucket holding
    * `greatest(lo_a, lo_b)` — so no post-join distinct shuffle. */
  val qIntervalOverlap: QueryDef = QueryDef(
    "q_interval_overlap",
    (s, dir) => {
      val e = tbl(s, dir, "events").withColumn("sec", expr("ts div 1000000000"))
      val errs = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          col("sec").as("lo_a"), (col("sec") + 14400L).as("hi_a"))
      val purs = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pur_id"),
          col("sec").as("lo_b"), (col("sec") + 14400L).as("hi_b"))
      RangeJoin.intervalOverlap(errs, purs, Seq("user_id"),
          loL = "lo_a", hiL = "hi_a", loR = "lo_b", hiR = "hi_b", bucketWidth = 14400L)
        .select("err_id", "pur_id")
        .orderBy("err_id", "pur_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec, event_type FROM events
      ),
      a AS (SELECT user_id, event_id AS err_id, sec AS lo_a, sec + 14400 AS hi_a
            FROM e WHERE event_type = 'error'),
      b AS (SELECT user_id, event_id AS pur_id, sec AS lo_b, sec + 14400 AS hi_b
            FROM e WHERE event_type = 'purchase')
      SELECT err_id, pur_id
      FROM a JOIN b ON a.user_id = b.user_id AND lo_a <= hi_b AND lo_b <= hi_a
      ORDER BY err_id, pur_id
    """.stripMargin.trim)
  )

  /** Daily cohort retention over purchase events: cohort = a user's
    * first active day, output = users active per (cohort, day offset).
    * Two exchanges total on a trillion events: distinct (user, day)
    * pairs, then the unbounded min-over-user window (no ORDER BY → no
    * sort) feeding the closing aggregate. */
  val qRetention: QueryDef = QueryDef(
    "q_retention",
    (s, dir) => {
      val uw = tbl(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id")
      uw.withColumn("cohort_day", min("day").over(w))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
    Some("""
      WITH uw AS (
        SELECT DISTINCT user_id, (epoch_ns(ts) // 1000000000) // 86400 AS day
        FROM events WHERE event_type = 'purchase'
      ),
      c AS (SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM uw)
      SELECT cohort_day, day - cohort_day AS day_offset, count(DISTINCT user_id) AS n_users
      FROM c GROUP BY 1, 2 ORDER BY 1, 2
    """.stripMargin.trim)
  )

  /** RANGE-frame sliding window: per-customer trailing-90-day revenue
    * at each order. The frame is defined by the day VALUE (not row
    * count), so same-day ties contribute symmetrically and the result
    * is deterministic; the sum runs in exact decimal. One exchange
    * (the window partitioning). */
  val qMovingSum: QueryDef = QueryDef(
    "q_moving_sum90",
    (s, dir) => {
      val o = tbl(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day"),
          col("o_totalprice"))
      val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-89, 0)
      o.withColumn("sum90", sum(dec("o_totalprice")).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "day", "sum90")
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey, day,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
          PARTITION BY o_custkey ORDER BY day
          RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum90
      FROM (SELECT o_custkey, o_orderkey,
              date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
              o_totalprice
            FROM orders)
      ORDER BY o_orderkey
    """.stripMargin.trim)
  )

  /** SCD-Type-2 dimension build from an event stream: each user's
    * last-of-day `value` snapshot becomes a validity interval
    * [valid_from, valid_to] (open rows carry the 99999999 sentinel so
    * the schema stays BIGINT end to end). Last-of-day is a combinable
    * `max(struct(sec, event_id, value))` — no per-day sort window —
    * and the interval edges come from one lead() over the (user, day)
    * relation, already thousands of times smaller than the events. */
  val qScd2: QueryDef = QueryDef(
    "q_scd2",
    (s, dir) => {
      val e = tbl(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000000000").as("sec"),
          expr("ts div 1000000000 div 86400").as("day"), col("event_id"), col("value"))
      val lastPerDay = e.groupBy("user_id", "day")
        .agg(max(struct(col("sec"), col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("day"), col("m.value").as("value"))
      val w = Window.partitionBy("user_id").orderBy("day")
      lastPerDay
        .withColumn("valid_to", coalesce(lead("day", 1).over(w) - 1, lit(99999999L)))
        .select(col("user_id"), col("day").as("valid_from"), col("valid_to"), col("value"))
        .orderBy("user_id", "valid_from")
    },
    Some("""
      WITH e AS (
        SELECT user_id, epoch_ns(ts) // 1000000000 AS sec,
               (epoch_ns(ts) // 1000000000) // 86400 AS day, event_id, value
        FROM events
      ),
      last AS (
        SELECT user_id, day, value FROM (
          SELECT user_id, day, value,
            row_number() OVER (PARTITION BY user_id, day ORDER BY sec DESC, event_id DESC) AS rn
          FROM e) WHERE rn = 1
      )
      SELECT user_id, day AS valid_from,
        COALESCE(lead(day) OVER (PARTITION BY user_id ORDER BY day) - 1, 99999999) AS valid_to,
        value
      FROM last ORDER BY user_id, valid_from
    """.stripMargin.trim)
  )

  /** Declarative data-quality contract over lineitem via
    * [[graft.operators.QualityRules]]: five row rules in ONE aggregate
    * pass plus a key-uniqueness aggregation. The discount range is
    * deliberately tighter than the data so the report carries real
    * violation counts, not just zeros. */
  val qDqChecks: QueryDef = QueryDef(
    "dq_checks",
    (s, dir) => {
      import graft.operators.QualityRules._
      check(tbl(s, dir, "lineitem"), Seq(
        NotNull("l_shipdate"),
        InRange("l_quantity", 1, 50),
        InRange("l_discount", 0, 0.05),
        AcceptedValues("l_returnflag", Seq("A", "N", "R")),
        MatchesRegex("l_linestatus", "^[OF]$"),
        Unique(Seq("l_orderkey", "l_linenumber"))))
    },
    Some("""
      SELECT rule, CAST(violations AS BIGINT) AS violations, violations = 0 AS pass FROM (
        SELECT 'not_null(l_shipdate)' AS rule,
               count(*) FILTER (WHERE l_shipdate IS NULL) AS violations FROM lineitem
        UNION ALL SELECT 'in_range(l_quantity,1.0,50.0)',
               count(*) FILTER (WHERE l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50)) FROM lineitem
        UNION ALL SELECT 'in_range(l_discount,0.0,0.05)',
               count(*) FILTER (WHERE l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.05)) FROM lineitem
        UNION ALL SELECT 'accepted_values(l_returnflag)',
               count(*) FILTER (WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N', 'R')) FROM lineitem
        UNION ALL SELECT 'matches_regex(l_linestatus)',
               count(*) FILTER (WHERE l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^[OF]$')) FROM lineitem
        UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
               COALESCE((SELECT CAST(sum(c - 1) AS BIGINT) FROM (
                 SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber) WHERE c > 1), 0)
      ) ORDER BY rule
    """.stripMargin.trim)
  )

  /** The injected optimizer rule's k = 0 arm at work
    * ([[graft.plans.HammingRadiusBandJoin]]): an exact-duplicate
    * similarity join WRITTEN as the θ-predicate
    * `hamming_distance(ha, hb) = 0` — which Catalyst alone can only
    * nested-loop — planned as a hash equi-join because the rule
    * rewrites distance-zero to binary equality (exact: the kernel
    * counts length-difference bytes as 8 bits each, so distance 0 ⟺
    * bytes equal). PlanShapeSpec pins the BNLJ → hash-join flip. */
  val qHammingZeroJoin: QueryDef = QueryDef(
    "q_hamming_zero_join",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), unhex(md5((col("doc_id") % 100).cast("string"))).as("h"))
      val l = d.select(col("doc_id").as("id_a"), col("h").as("ha"))
      val r = d.select(col("doc_id").as("id_b"), col("h").as("hb"))
      l.join(r, graft.plans.HammingDistance(col("ha"), col("hb")) === 0 &&
          col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH d AS (SELECT doc_id, md5(CAST(doc_id % 100 AS VARCHAR)) AS h FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b
    """.stripMargin.trim)
  )

  /** The radius form of the injected-rule family
    * ([[graft.plans.HammingRadiusBandJoin]]): a NEAR-duplicate join
    * written as the raw θ-predicate `hamming_distance(ha, hb) <= 2` —
    * hashes tweaked by 0–2 planted bit flips in the leading nibble —
    * planned as the pigeonhole band equi-join automatically. The
    * oracle brute-forces every pair's distance with the chunked
    * bit_count formula; PlanShapeSpec pins the BNLJ → band-join flip. */
  val qHammingRadiusJoin: QueryDef = QueryDef(
    "q_hamming_radius_join",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      val base = md5((col("doc_id") % 50).cast("string"))
      val l = d.select(col("doc_id").as("id_a"), unhex(base).as("ha"))
      val nib = conv(substring(base, 1, 1), 16, 10).cast("int")
      val tweaked = concat(
        lower(conv(nib.bitwiseXOR((col("doc_id") % 4).cast("int")).cast("string"), 10, 16)),
        substring(base, 2, 31))
      val r = d.select(col("doc_id").as("id_b"), unhex(tweaked).as("hb"))
      l.join(r, graft.plans.HammingDistance(col("ha"), col("hb")) <= 2)
        .select(col("id_a"), col("id_b"),
          graft.plans.HammingDistance(col("ha"), col("hb")).as("dist"))
        .orderBy("id_a", "id_b")
    },
    Some {
      val chunks = (0 until 4).map { i =>
        s"bit_count(xor(CAST('0x' || substr(hxa, ${i * 8 + 1}, 8) AS BIGINT), CAST('0x' || substr(hxb, ${i * 8 + 1}, 8) AS BIGINT)))"
      }.mkString(" + ")
      s"""
      WITH b AS (SELECT doc_id, md5(CAST(doc_id % 50 AS VARCHAR)) AS m FROM documents),
      l AS (SELECT doc_id AS id_a, m AS hxa FROM b),
      r AS (SELECT doc_id AS id_b,
              lower(to_hex(xor(CAST('0x' || substr(m, 1, 1) AS BIGINT), doc_id % 4))) || substr(m, 2, 31) AS hxb
            FROM b)
      SELECT id_a, id_b, CAST(d AS INT) AS dist FROM (
        SELECT id_a, id_b, $chunks AS d FROM l, r)
      WHERE d <= 2 ORDER BY id_a, id_b""".trim
    }
  )

  /** [[qHammingRadiusJoin]] at a PDQ-REALISTIC radius: 256-bit hashes
    * (md5∥md5, the PDQ width) θ-joined at `hamming_distance <= 51` —
    * similarity 0.8, the reference's published benchmark setting — and
    * rewritten by the generalized band rule (k <= 64, multi-prefix
    * banding). The right side complements the first `doc_id % 16` hex
    * nibbles (`translate`, an involution), so a same-group pair's
    * distance is EXACTLY 4·t: t <= 12 qualifies (<= 48), t >= 13 bands
    * equal on the long shared suffix but verifies out at 52+ — the
    * candidate-rejection leg is genuinely exercised. Oracle
    * brute-forces all pairs with the 8-chunk popcount formula. */
  val qHammingRadiusJoinPdq: QueryDef = QueryDef(
    "q_hamming_radius_join_pdq",
    (s, dir) => {
      // the sf corpora are one small parquet file = ONE scan partition,
      // and AQE coalesces a column-only repartition of 40 KB straight
      // back to one task — numbered repartition pins the spread so the
      // 364× band fan-out and candidate verify run wide (at real scale
      // the scan is already many-partitioned and this is moot)
      val d0 = tbl(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      // SCALE-AWARE group count: duplicate-group size stays ~12 at any
      // corpus size (real dedup corpora have bounded clique sizes; a
      // fixed modulus would make the gate's output quadratic in N).
      // At the sf0.01 gate, greatest(50, 500/12) = 50 — unchanged.
      val d = d0.crossJoin(broadcast(d0.groupBy().count().select(
        greatest(lit(50L), floor(col("count") / 12).cast("long")).as("__m"))))
      val g = (col("doc_id") % col("__m")).cast("string")
      val base = concat(md5(g), md5(concat(g, lit("q"))))
      val l = d.select(col("doc_id").as("id_a"), unhex(base).as("ha"))
      val t = (col("doc_id") % 16).cast("int")
      val tweaked = concat(
        translate(base.substr(lit(1), t), "0123456789abcdef", "fedcba9876543210"),
        base.substr(t + lit(1), lit(64)))
      val r = d.select(col("doc_id").as("id_b"), unhex(tweaked).as("hb"))
      l.join(r, graft.plans.HammingDistance(col("ha"), col("hb")) <= 51)
        .select(col("id_a"), col("id_b"),
          graft.plans.HammingDistance(col("ha"), col("hb")).as("dist"))
        .orderBy("id_a", "id_b")
    },
    Some {
      val chunks = (0 until 8).map { i =>
        s"CAST(bit_count(xor(CAST('0x' || substr(hxa, ${i * 8 + 1}, 8) AS BIGINT), CAST('0x' || substr(hxb, ${i * 8 + 1}, 8) AS BIGINT))) AS INTEGER)"
      }.mkString(" + ")
      s"""
      WITH g AS (SELECT greatest(50, count(*) // 12) AS gm FROM documents),
      b AS (SELECT doc_id,
              md5(CAST(doc_id % gm AS VARCHAR)) || md5(CAST(doc_id % gm AS VARCHAR) || 'q') AS m,
              CAST(doc_id % 16 AS INT) AS t
            FROM documents, g),
      l AS (SELECT doc_id AS id_a, m AS hxa FROM b),
      r AS (SELECT doc_id AS id_b,
              translate(substr(m, 1, t), '0123456789abcdef', 'fedcba9876543210') || substr(m, t + 1) AS hxb
            FROM b)
      SELECT id_a, id_b, CAST(d AS INT) AS dist FROM (
        SELECT id_a, id_b, $chunks AS d FROM l, r)
      WHERE d <= 51 ORDER BY id_a, id_b""".trim
    }
  )

  /** Bloom semi-join reduction ([[graft.operators.SemiReduce]]): a
    * month of orders joins the full lineitem with the fact side
    * Bloom-prefiltered by the order-key set — identical result to the
    * plain join (the oracle IS the plain join), shuffle volume cut to
    * the matching sliver. PlanShapeSpec pins the codegen probe below
    * the join. */
  val qBloomSemiReduce: QueryDef = QueryDef(
    "q_bloom_semi_reduce",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val ord = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-06-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1996-07-01 00:00:00")))
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.SemiReduce.bloomPrefilteredJoin(li, ord, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(dec("l_quantity")).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_items,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1996-06-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY o_orderpriority ORDER BY o_orderpriority
    """.stripMargin.trim)
  )

  /** Fuzzy join through the deletion-neighborhood rewrite
    * ([[graft.operators.FuzzyJoin]]): customer names with one planted
    * character mutation matched back to the clean roster within edit
    * distance 1 — a hash EQUI-join over neighborhood variants, never
    * |L|×|R| (PlanShapeSpec pins no product); the oracle verifies with
    * the brute-force θ-join the rewrite replaces. */
  val qFuzzyJoin: QueryDef = QueryDef(
    "fuzzy_join",
    (s, dir) => {
      val cust = tbl(s, dir, "customer").select("c_custkey", "c_name")
      val dirty = cust.select(col("c_custkey").as("did"),
        concat(expr("substring(c_name, 1, 10 + c_custkey % 8 - 1)"), lit("X"),
          expr("substring(c_name, 10 + c_custkey % 8 + 1)")).as("name"))
      graft.operators.FuzzyJoin.withinEditDistance(
          dirty, cust.select(col("c_custkey"), col("c_name").as("name")),
          leftId = "did", rightId = "c_custkey", strCol = "name", maxDist = 1)
        .orderBy("did", "c_custkey")
    },
    Some("""
      WITH dirty AS (
        SELECT c_custkey AS did,
          substring(c_name, 1, 10 + c_custkey % 8 - 1) || 'X' ||
            substring(c_name, 10 + c_custkey % 8 + 1) AS name
        FROM customer)
      SELECT did, c_custkey, CAST(levenshtein(d.name, c.c_name) AS INT) AS dist
      FROM dirty d JOIN customer c ON levenshtein(d.name, c.c_name) <= 1
      ORDER BY did, c_custkey
    """.stripMargin.trim)
  )

  /** Fixed-point PageRank over the customer↔supplier trading graph
    * (distinct pairs via orders⋈lineitem, both directions so the walk
    * is symmetric; supplier ids offset to disjoint the key spaces).
    * Three [[Graphs.pageRankScaled]] rounds in exact Q-scaled BIGINT —
    * the oracle unrolls the identical iterations as CTEs. */
  val qPageRank: QueryDef = QueryDef(
    "q_pagerank",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = tbl(s, dir, "orders").select("o_orderkey", "o_custkey")
      val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp")).distinct()
      val edges = pairs.select(col("cust").as("src"), (col("supp") + 1000000L).as("dst"))
        .unionByName(pairs.select((col("supp") + 1000000L).as("src"), col("cust").as("dst")))
      Graphs.pageRankScaled(edges, iterations = 3).orderBy("id")
    },
    Some(s"""
      WITH pr_pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      pr_edges AS (
        SELECT cust AS src, supp + 1000000 AS dst FROM pr_pairs
        UNION ALL SELECT supp + 1000000, cust FROM pr_pairs),
      ${Graphs.pageRankScaledSql("pr_edges", 3)} ORDER BY id
    """.stripMargin.trim)
  )

  private val bucketRun = new java.util.concurrent.atomic.AtomicLong()

  /** The shuffle-free join a bucketed layout buys: orders and customer
    * both [[Layout.writeBucketed]] on the customer key (one file per
    * bucket), read back and sort-merge-joined with ZERO exchanges and
    * zero sorts below the join — the per-customer aggregate then reuses
    * the join's partitioning, so the only exchange in the whole plan is
    * the final presentation ORDER BY (PlanShapeSpec pins exactly that).
    * This is the write-once/join-forever contract that removes the
    * fact-table shuffle from every downstream job at 100 TB. */
  val qBucketedJoin: QueryDef = QueryDef(
    "q_bucketed_join",
    (s, dir) => {
      val n = bucketRun.incrementAndGet()
      val base = java.nio.file.Files.createTempDirectory("graft-bkt").toString
      Layout.writeBucketed(
        tbl(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        s"graft_bkt_orders_$n", s"$base/orders", numBuckets = 8, bucketCol = "o_custkey")
      Layout.writeBucketed(
        tbl(s, dir, "customer").select("c_custkey", "c_name"),
        s"graft_bkt_customer_$n", s"$base/customer", numBuckets = 8, bucketCol = "c_custkey")
      val o = Layout.readBucketed(s, s"graft_bkt_orders_$n")
      val c = Layout.readBucketed(s, s"graft_bkt_customer_$n")
      o.hint("merge").join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey")
        .agg(max("c_name").as("c_name"), count(lit(1)).as("n_orders"),
          sum(dec("o_totalprice")).cast("double").as("sum_price"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, max(c_name) AS c_name, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey ORDER BY c_custkey
    """.stripMargin.trim)
  )

  /** Per-node triangle counts over the customer co-purchase graph —
    * customers linked when they bought the same part in the same
    * ship-week. The edge build is one (part, week) equi-self-join on
    * the DISTINCT (customer, part·10^5+week) relation (tiny
    * co-occurrence lists — the key carries the week so a popular part
    * never forms one giant clique), and [[Graphs.triangleCounts]] runs
    * the degree-oriented forward algorithm on top: three hash
    * equi-joins, out-degree bounded O(√m) per node regardless of raw
    * degree. The oracle counts triangles by the independent brute
    * u<v<w closure. */
  val qTriangles: QueryDef = QueryDef(
    "q_triangles",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
        expr("unix_micros(l_shipdate) div 604800000000").as("wk"))
      val ord = tbl(s, dir, "orders").select("o_orderkey", "o_custkey")
      val cp = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_partkey") * 100000L + col("wk")).as("p"))
        .distinct()
      val a = cp.select(col("c").as("src"), col("p"))
      val b = cp.select(col("c").as("dst"), col("p"))
      val edges = a.join(b, Seq("p")).filter(col("src") < col("dst"))
        .select("src", "dst").distinct()
      Graphs.triangleCounts(edges).orderBy("id")
    },
    Some(s"""
      WITH tc_cp AS (
        SELECT DISTINCT o_custkey AS c,
          l_partkey * 100000 + epoch_ns(l_shipdate) // 604800000000000 AS p
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      tc_edges AS (
        SELECT a.c AS src, b.c AS dst
        FROM tc_cp a JOIN tc_cp b ON a.p = b.p AND a.c < b.c
        GROUP BY 1, 2),
      ${Graphs.triangleCountsSql("tc_edges")} ORDER BY 1
    """.stripMargin.trim)
  )

  /** Exact per-nation median customer balance by histogram refinement
    * ([[graft.operators.Sketches.exactMedian]]): the candidate bucket
    * comes from a ≤ groups·nb-row histogram, and the per-group sort
    * touches only that bucket's rows — no global sort at 100 TB, yet
    * the answer is exact and histogram-parameter-independent, which
    * the oracle proves by computing the same statistic via direct
    * full-partition row_number. Balances shift +100000 cents first so
    * the bucket division never sees a negative value. */
  val qExactMedian: QueryDef = QueryDef(
    "exact_median",
    (s, dir) => {
      val c = tbl(s, dir, "customer").select(col("c_nationkey"),
        (expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)") + lit(100000L)).as("bal"))
      graft.operators.Sketches.exactMedian(c, "c_nationkey", "bal", step = 10000L, nb = 128)
        .select(col("c_nationkey"), col("n"), (col("median") - lit(100000L)).as("median_cents"))
        .orderBy("c_nationkey")
    },
    Some(s"""
      ${graft.operators.Sketches.exactMedianSql(
        "SELECT c_nationkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000 AS bal FROM customer",
        "c_nationkey", "bal")
        .replace("SELECT c_nationkey, n, v AS median",
          "SELECT c_nationkey, n, v - 100000 AS median_cents")}
      ORDER BY c_nationkey
    """.stripMargin.trim)
  )

  /** Exact GLOBAL 16-tile binning of lineitem price cents — the
    * feature-discretizer surface — via histogram-CDF refinement
    * ([[graft.operators.Sketches.exactNtile]]): rows sort only inside
    * their value bucket, never globally, yet every per-row assignment
    * matches the oracle's direct full-relation `ntile()` window. */
  val qExactNtile: QueryDef = QueryDef(
    "exact_ntile",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem").select(
        expr("l_orderkey * 10 + l_linenumber").as("rid"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("price_c"))
      graft.operators.Sketches.exactNtile(li, "rid", "price_c",
          k = 16, step = 200000L, nb = 64)
        .orderBy("id")
    },
    Some(s"""
      ${graft.operators.Sketches.exactNtileSql(
        "SELECT l_orderkey * 10 + l_linenumber AS rid, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c FROM lineitem",
        "rid", "price_c", 16)}
      ORDER BY id
    """.stripMargin.trim)
  )

  /** Next-event transition matrix (first-order Markov estimate over
    * the event stream): per user, order events by (sec, event_id) and
    * pair each with its successor — one shuffle on user_id, per-user
    * sort bounded by that user's activity — then the ≤ |types|² count
    * relation normalizes per from-state in exact integer milli-units.
    * The sequence-mining complement to `q_funnel`'s fixed pattern. */
  val qTransitions: QueryDef = QueryDef(
    "q_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      val pairs = tbl(s, dir, "events")
        .withColumn("sec", expr("ts div 1000000000"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("nf", sum("n").over(Window.partitionBy("event_type")))
        .select(col("event_type"), col("next_type"), col("n"),
          expr("(n * 1000) div nf").as("p_milli"))
        .orderBy("event_type", "next_type")
    },
    Some("""
      WITH tr_e AS (
        SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events
      ), tr_n AS (
        SELECT event_type,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS next_type
        FROM tr_e
      ), tr_c AS (
        SELECT event_type, next_type, count(*) AS n
        FROM tr_n WHERE next_type IS NOT NULL GROUP BY 1, 2
      )
      SELECT event_type, next_type, n,
        (n * 1000) // CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS p_milli
      FROM tr_c ORDER BY event_type, next_type
    """.stripMargin.trim)
  )

  private val fiInput =
    "SELECT l_orderkey AS txn, CAST(floor(sqrt(CAST(l_partkey % 400 AS DOUBLE))) AS BIGINT) AS item FROM lineitem"

  private def fiItems(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").select(col("l_orderkey").as("txn"),
      expr("CAST(floor(sqrt(CAST(l_partkey % 400 AS DOUBLE))) AS BIGINT)").as("item"))

  /** Market-basket: frequent part-family PAIRS per order (Apriori L2,
    * [[graft.operators.FrequentItemsets.frequentPairs]]). The ramped
    * item mapping (floor∘sqrt of the part bucket) gives the supports a
    * real spread, so the threshold genuinely prunes (50/105 survive at
    * sf0.001, 164/190 at sf0.01). */
  val qFrequentPairs: QueryDef = QueryDef(
    "frequent_pairs",
    (s, dir) => graft.operators.FrequentItemsets.frequentPairs(
        fiItems(s, dir), "txn", "item", minSupport = 60L)
      .orderBy("item_a", "item_b"),
    Some(s"""
      ${graft.operators.FrequentItemsets.frequentPairsSql(fiInput, 60L)}
      ORDER BY item_a, item_b
    """.stripMargin.trim)
  )

  /** Apriori L3: candidate triples generated from L2 prefix joins and
    * pruned by the third pair BEFORE any transaction counting — while
    * the oracle deliberately brute-enumerates triples with no prune,
    * so a prune that wrongly drops a candidate cannot self-confirm. */
  val qFrequentTriples: QueryDef = QueryDef(
    "frequent_triples",
    (s, dir) => graft.operators.FrequentItemsets.frequentTriples(
        fiItems(s, dir), "txn", "item", minSupport = 25L)
      .orderBy("item_a", "item_b", "item_c"),
    Some(s"""
      ${graft.operators.FrequentItemsets.frequentTriplesSql(fiInput, 25L)}
      ORDER BY item_a, item_b, item_c
    """.stripMargin.trim)
  )

  /** Per-day Shannon entropy of the event-type mix — the
    * distribution-health profile (a day whose traffic collapses onto
    * one type shows H → 0). Exact-integer discipline for the one
    * transcendental: each type's term is n_i · floor(ln(N/n_i)·10⁶) —
    * the ln exits through the floor grid BEFORE the per-day sum, so
    * the reduction is an order-free BIGINT add both engines replay
    * bit-for-bit (the lm_score pattern). H_micro = Σ terms div N. */
  val qEntropy: QueryDef = QueryDef(
    "q_entropy",
    (s, dir) => {
      val counts = tbl(s, dir, "events")
        .groupBy(expr("ts div 86400000000000").as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      counts
        .withColumn("n", sum("c").over(Window.partitionBy("day")))
        .withColumn("t", expr("c * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000) AS BIGINT)"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_types"), max("n").as("n_events"),
          expr("sum(t) div max(n)").as("h_micro"))
        .orderBy("day")
    },
    Some("""
      WITH en_c AS (
        SELECT epoch_ns(ts) // 86400000000000 AS day, event_type, count(*) AS c
        FROM events GROUP BY 1, 2
      ), en_n AS (
        SELECT day, event_type, c, CAST(sum(c) OVER (PARTITION BY day) AS BIGINT) AS n FROM en_c
      )
      SELECT day, count(*) AS n_types, max(n) AS n_events,
        CAST(sum(c * CAST(floor(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000) AS BIGINT))
             // max(n) AS BIGINT) AS h_micro
      FROM en_n GROUP BY day ORDER BY day
    """.stripMargin.trim)
  )

  /** Association rules over the same baskets: both directions of every
    * frequent pair scored by exact integer confidence (milli) and lift
    * (micro) — the Agrawal-Srikant second phase, L1 supports broadcast
    * onto the pair relation. */
  val qAssocRules: QueryDef = QueryDef(
    "assoc_rules",
    (s, dir) => graft.operators.FrequentItemsets.associationRules(
        fiItems(s, dir), "txn", "item", minSupport = 60L, minConfidenceMilli = 100L)
      .orderBy("antecedent", "consequent"),
    Some(s"""
      ${graft.operators.FrequentItemsets.associationRulesSql(fiInput, 60L, 100L)}
      ORDER BY antecedent, consequent
    """.stripMargin.trim)
  )

  /** Token-mass concentration: Gini over per-order revenue cents —
    * exact and SORT-FREE via the histogram-CDF global rank
    * ([[graft.operators.Sketches.giniConcentration]]); the oracle
    * ranks with a direct full-relation row_number. */
  val qGini: QueryDef = QueryDef(
    "gini_concentration",
    (s, dir) => {
      val o = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      graft.operators.Sketches.giniConcentration(o, "k", "cents",
        step = 1000000L, nb = 64)
    },
    Some(graft.operators.Sketches.giniConcentrationSql(
      "SELECT o_orderkey AS k, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM orders",
      "k", "cents"))
  )

  /** CUSUM change-point detection over per-type daily event counts —
    * the mean-shift monitor (Page, Biometrika 1954) in EXACT closed
    * form: the recurrence s_i = max(0, s_{i-1} + x_i − k) equals
    * P_i − min(0, min_{j≤i} P_j) for the prefix sum P of (x − k), so
    * two windowed aggregates replace the sequential scan — no
    * recursion, no UDF, and the identity holds in pure BIGINT, which
    * is exactly what lets DuckDB replay it bit-for-bit. Windows
    * partition by event_type (the series per key is the DAY count —
    * bounded — while keys scale out). Alarm when s crosses h. */
  val qCusum: QueryDef = QueryDef(
    "q_cusum",
    (s, dir) => {
      val k = 60L; val h = 25L
      val daily = tbl(s, dir, "events")
        .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      daily
        .withColumn("p", sum(col("x") - lit(k)).over(w))
        .withColumn("s", col("p") - least(lit(0L), min("p").over(w)))
        .select(col("event_type"), col("day"), col("x"), col("s"),
          (col("s") > h).as("alarm"))
        .orderBy("event_type", "day")
    },
    Some("""
      WITH cu_d AS (
        SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, count(*) AS x
        FROM events GROUP BY 1, 2
      ), cu_p AS (
        SELECT event_type, day, x,
          CAST(sum(x - 60) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS p
        FROM cu_d
      )
      SELECT event_type, day, x,
        p - least(CAST(0 AS BIGINT),
                  min(p) OVER (PARTITION BY event_type ORDER BY day)) AS s,
        (p - least(CAST(0 AS BIGINT),
                   min(p) OVER (PARTITION BY event_type ORDER BY day))) > 25 AS alarm
      FROM cu_p ORDER BY event_type, day
    """.stripMargin.trim)
  )

  /** Hierarchy closure over a 1,500-node parent-pointer tree
    * (parent = id div 2): every node's (root, depth) by log-round path
    * doubling ([[graft.operators.Graphs.treeClosure]]) against the
    * OTHER computation model — DuckDB's sequential `WITH RECURSIVE`
    * walk. ~11 doubling rounds instead of an 11-step serial chain. */
  val qTreeClosure: QueryDef = QueryDef(
    "q_tree_closure",
    (s, dir) => {
      val p = tbl(s, dir, "customer").select(col("c_custkey").as("id"),
        when(col("c_custkey") > 1, expr("c_custkey div 2")).as("parent"))
      graft.operators.Graphs.treeClosure(p).orderBy("id")
    },
    Some(s"""
      ${graft.operators.Graphs.treeClosureSql(
        "SELECT c_custkey AS id, CASE WHEN c_custkey > 1 THEN c_custkey // 2 END AS parent FROM customer")}
      ORDER BY id
    """.stripMargin.trim)
  )

  /** Semi-structured extraction over the events `props` JSON column —
    * BOTH surfaces in one gate: `get_json_object` (path extraction, no
    * schema) and `from_json` (schema'd parse) must agree, and rows made
    * deliberately malformed (every 17th gets a trailing byte) must
    * null out under each — Spark's null-on-malformed twinned by
    * DuckDB's `json_valid` guard. Map-only until the ≤ 11-bucket
    * aggregate. */
  val qJsonExtract: QueryDef = QueryDef(
    "q_json_extract",
    (s, dir) => {
      // '{oops' is malformed to BOTH engines — a trailing-junk corruption
      // ('{"k":1}x') would NOT be: Spark's Jackson path parser stops at a
      // complete value while DuckDB's json_valid rejects the whole string
      val p = when(col("event_id") % 17 === 0, lit("{oops")).otherwise(col("props"))
      tbl(s, dir, "events")
        .select(
          get_json_object(p, "$.k").cast("long").as("k"),
          from_json(p, org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k2"))
        .groupBy(coalesce(expr("k div 10"), lit(-1L)).as("kb"))
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_path"),
          count(col("k2")).as("n_schema"), coalesce(sum("k"), lit(0L)).as("sum_k"))
        .orderBy("kb")
    },
    Some("""
      WITH je AS (
        SELECT CASE WHEN event_id % 17 = 0 THEN '{oops' ELSE props END AS p FROM events
      ), jx AS (
        SELECT CASE WHEN json_valid(p) THEN CAST(json_extract(p, '$.k') AS BIGINT) END AS k,
               CASE WHEN json_valid(p) THEN CAST(json_extract(p, '$.k') AS BIGINT) END AS k2
        FROM je
      )
      SELECT COALESCE(k // 10, -1) AS kb, count(*) AS n, count(k) AS n_path,
        count(k2) AS n_schema, CAST(COALESCE(sum(k), 0) AS BIGINT) AS sum_k
      FROM jx GROUP BY 1 ORDER BY 1
    """.stripMargin.trim)
  )

  /** k-anonymity audit over (nation, segment) quasi-identifiers: every
    * equivalence class with its size and at-risk flag — one
    * map-combinable aggregate over the class key space. */
  val qKAnonymity: QueryDef = QueryDef(
    "k_anonymity",
    (s, dir) => graft.operators.Privacy.kAnonymityGroups(
        tbl(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"), k = 10)
      .orderBy("c_nationkey", "c_mktsegment"),
    Some("""
      SELECT c_nationkey, c_mktsegment, count(*) AS n, count(*) < 10 AS at_risk
      FROM customer GROUP BY 1, 2 ORDER BY 1, 2
    """.stripMargin.trim)
  )

  /** l-diversity audit: per (event_type, $50 value bucket) class, how
    * many DISTINCT users — classes dominated by one user leak the
    * sensitive attribute even when k-anonymous. */
  val qLDiversity: QueryDef = QueryDef(
    "l_diversity",
    (s, dir) => graft.operators.Privacy.lDiversityGroups(
        tbl(s, dir, "events").withColumn("vb",
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 5000")),
        Seq("event_type", "vb"), "user_id", l = 3)
      .orderBy("event_type", "vb"),
    Some("""
      SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000 AS vb,
        count(*) AS n, count(DISTINCT user_id) AS n_sensitive,
        count(DISTINCT user_id) < 3 AS at_risk
      FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """.stripMargin.trim)
  )

  /** Generalize-and-suppress k-anonymization of account balance under
    * (nation, segment): the bucket-width ladder doubles until ≥ 90% of
    * rows sit in classes of ≥ 8, then retained rows emit with the
    * balance generalized to its bucket floor. The level choice is
    * data-derived; the oracle replays the WHOLE ladder and must pick
    * the same level. */
  val qKAnonymize: QueryDef = QueryDef(
    "k_anonymize",
    (s, dir) => graft.operators.Privacy.kAnonymize(
        tbl(s, dir, "customer").withColumn("bal",
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000")),
        "c_custkey", Seq("c_nationkey", "c_mktsegment"), "bal",
        k = 8, baseStep = 100000L, maxLevels = 4, targetRetainedMilli = 900L)
      .orderBy("c_custkey"),
    Some(s"""
      ${graft.operators.Privacy.kAnonymizeSql(
        "SELECT c_custkey, c_nationkey, c_mktsegment, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000 AS bal FROM customer",
        "c_custkey", Seq("c_nationkey", "c_mktsegment"), "bal",
        k = 8, baseStep = 100000L, maxLevels = 4, targetRetainedMilli = 900L)}
      ORDER BY c_custkey
    """.stripMargin.trim)
  )

  /** Per-user daily activity with gap-filling and a fixed-point EWMA:
    * missing days inside each user's observed span materialize as
    * zero-count rows (`sequence` + explode — fan-out bounded by the
    * span, not the corpus), then an 8-tap exponential smoother with
    * α = 1/2 runs as an unrolled lag chain over the dense series:
    * weights 2^7..2^0 (sum 255), `ewma_milli = (Σ·1000) div 255` —
    * exact BIGINT end to end, so DuckDB replays it bit-for-bit. One
    * window exchange per user; the K-tap truncation IS the operator's
    * definition (tail weight < 1/255 of the newest sample), not an
    * approximation of an unbounded recurrence. */
  val qGapfillEwma: QueryDef = QueryDef(
    "q_gapfill_ewma",
    (s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val daily = ev.groupBy("user_id", "day").agg(count(lit(1)).as("cnt"))
      val grid = daily.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
      val filled = grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      val w = Window.partitionBy("user_id").orderBy("day")
      val num = (0 to 7).map { j =>
        coalesce(lag(col("cnt"), j).over(w), lit(0L)) * lit(1L << (7 - j))
      }.reduce(_ + _)
      filled.withColumn("__num", num)
        .select(col("user_id"), col("day"), col("cnt"),
          expr("(__num * 1000) div 255").as("ewma_milli"))
        .orderBy("user_id", "day")
    },
    Some {
      val lags = (1 to 7).map(j => s"COALESCE(lag(cnt, $j) OVER w, 0) AS c$j").mkString(", ")
      val num = "cnt * 128 + " + (1 to 7).map(j => s"c$j * ${1L << (7 - j)}").mkString(" + ")
      s"""
      WITH gf_ev AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
      gf_daily AS (SELECT user_id, day, count(*) AS cnt FROM gf_ev GROUP BY 1, 2),
      gf_grid AS (
        SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
        FROM gf_daily GROUP BY user_id),
      gf_filled AS (
        SELECT g.user_id, g.day, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS cnt
        FROM gf_grid g LEFT JOIN gf_daily d ON d.user_id = g.user_id AND d.day = g.day),
      gf_l AS (
        SELECT user_id, day, cnt, $lags FROM gf_filled
        WINDOW w AS (PARTITION BY user_id ORDER BY day))
      SELECT user_id, day, cnt, CAST((($num) * 1000) // 255 AS BIGINT) AS ewma_milli
      FROM gf_l ORDER BY user_id, day
      """.trim
    }
  )

  /** Wide→long reshaping through Spark's native `unpivot` (the
    * `stack`/melt surface): three exact-integer lineitem measures fold
    * into (metric, val) rows — the map-only reshape a feature-store
    * export needs — then a per-metric aggregate pins the semantics.
    * The oracle is the UNION ALL the operator replaces. */
  val qUnpivot: QueryDef = QueryDef(
    "q_unpivot",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem").select(
        expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)").as("qty_c"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("price_c"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)").as("disc_c"))
      li.unpivot(Array.empty[Column],
          Array(col("qty_c"), col("price_c"), col("disc_c")), "metric", "val")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"), sum("val").as("total"),
          min("val").as("lo"), max("val").as("hi"))
        .orderBy("metric")
    },
    Some("""
      WITH up_src AS (
        SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_c,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
               CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_c
        FROM lineitem),
      up_long AS (
        SELECT 'qty_c' AS metric, qty_c AS val FROM up_src
        UNION ALL SELECT 'price_c', price_c FROM up_src
        UNION ALL SELECT 'disc_c', disc_c FROM up_src)
      SELECT metric, count(*) AS n, CAST(sum(val) AS BIGINT) AS total,
        min(val) AS lo, max(val) AS hi
      FROM up_long GROUP BY metric ORDER BY metric
    """.stripMargin.trim)
  )

  val defs: Seq[QueryDef] = Seq(
    q1Pricing, q3Revenue, q5NationRevenue, qTopOrders, qSemiAnti,
    qRollup, qCube, qGroupingSets, qSqlSurface, qSetOps, qDistinctAgg, qSessionize, qSessionWindow, qAsOf, qAsOfNext, qCovariance, qHammingExpr, qKernelJoin, qPivot, qFunnel,
    qRangeJoin, qIntervalOverlap, qRetention, qMovingSum, qBucketedJoin, qPageRank, qScd2, qDqChecks, qFuzzyJoin, qBloomSemiReduce, qHammingZeroJoin, qHammingRadiusJoin, qHammingRadiusJoinPdq,
    qTriangles, qExactMedian, qExactNtile, qGapfillEwma, qUnpivot, qTransitions,
    qKAnonymity, qLDiversity, qKAnonymize, qJsonExtract, qTreeClosure, qCusum, qFrequentPairs, qFrequentTriples, qAssocRules, qGini, qEntropy
  )
}
