package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOfJoin, Scd2, Upsert}
import graft.sources.Tables

/** Relational parity queries — one per operator family in SURVEY §2, each with
  * a DuckDB oracle. Numeric rule used throughout: sums over doubles are cast
  * to DECIMAL before aggregation (exact, order-independent — Spark's shuffle
  * order would otherwise make float sums nondeterministic) and cast back to
  * DOUBLE at the end; single-row double arithmetic (`a*b`, `a+10`) is IEEE-
  * exact and identical across engines, so it needs no special handling.
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Exact order-independent sum of a double expression. */
  private def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  val queries: Seq[Query] = Seq(

    // P1/P4/S6 — projection + conjunctive predicates, pushed to the scan.
    Query("p1_project_filter",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_mktsegment = 'FURNITURE' AND c_acctbal > 1000""")((s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_mktsegment") === "FURNITURE" && col("c_acctbal") > 1000)
        .select("c_custkey", "c_name", "c_acctbal")),

    // P2 — IS NULL predicate (the reference's current-version filter shape).
    Query("p2_null_filter",
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
         WHERE nullif(o_orderstatus, 'F') IS NULL GROUP BY 1""")((s, dir) =>
      t(s, dir, "orders")
        .filter(expr("nullif(o_orderstatus, 'F')").isNull)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))),

    // J1 — fact⋈dim equi-join with an explicit broadcast of the small side.
    Query("j1_broadcast_join_agg",
      """SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1""")((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"),
          count(lit(1)).as("n_items"))),

    // J2/F10 — lookup join on a normalized (lower+trim) key.
    Query("j2_normalized_key_join",
      """SELECT s_suppkey, n_nationkey FROM supplier
         JOIN (SELECT lower(trim(n_name)) AS k, n_nationkey FROM nation) d
         ON lower(trim(' Nation_' || CAST(s_nationkey AS VARCHAR))) = d.k""")((s, dir) => {
      val dim = t(s, dir, "nation")
        .select(lower(trim(col("n_name"))).as("k"), col("n_nationkey"))
      t(s, dir, "supplier")
        .withColumn("k", lower(trim(
          concat(lit(" Nation_"), col("s_nationkey").cast("string")))))
        .join(broadcast(dim), "k")
        .select("s_suppkey", "n_nationkey")
    }),

    // J3 — left-semi join (FK-validity filter).
    Query("j3_semi_join",
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)""")((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),

    // J4 — left-anti join (find orphans / missing parents).
    Query("j4_anti_join",
      """SELECT p_partkey, p_name FROM part
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""")((s, dir) =>
      t(s, dir, "part")
        .join(t(s, dir, "lineitem"),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")),

    // J5 — existence check + FK null-out (auditory→department semantics).
    Query("j5_fk_nullout",
      """SELECT o_orderkey,
           CASE WHEN v.vc IS NULL THEN NULL ELSE o_custkey END AS o_custkey_fixed
         FROM orders LEFT JOIN
           (SELECT c_custkey AS vc FROM customer WHERE c_acctbal >= 2000) v
         ON o_custkey = v.vc""")((s, dir) => {
      val valid = t(s, dir, "customer")
        .filter(col("c_acctbal") >= 2000)
        .select(col("c_custkey").as("vc"))
      t(s, dir, "orders")
        .join(valid, col("o_custkey") === col("vc"), "left")
        .select(col("o_orderkey"),
          when(col("vc").isNull, lit(null).cast(LongType))
            .otherwise(col("o_custkey")).as("o_custkey_fixed"))
    }),

    // J6 — full-outer snapshot diff with per-key change classification.
    Query("j6_snapshot_diff",
      """WITH snap AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 10 ELSE c_acctbal END AS new_acctbal
           FROM customer WHERE c_custkey % 10 <> 3)
         SELECT COALESCE(c.c_custkey, s.c_custkey) AS c_custkey,
           CASE WHEN c.c_custkey IS NULL THEN 'inserted'
                WHEN s.c_custkey IS NULL THEN 'deleted'
                WHEN c.c_acctbal IS DISTINCT FROM s.new_acctbal THEN 'changed'
                ELSE 'same' END AS status
         FROM customer c FULL OUTER JOIN snap s ON c.c_custkey = s.c_custkey""")((s, dir) => {
      val c = t(s, dir, "customer")
      val snap = c.filter(col("c_custkey") % 10 =!= 3)
        .select(col("c_custkey"),
          when(col("c_custkey") % 5 === 0, col("c_acctbal") + 10)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
      val cur = c.select(col("c_custkey"), col("c_acctbal"))
        .withColumn("__cur", lit(true))
      val inc = snap
        .withColumnRenamed("c_acctbal", "new_acctbal")
        .withColumn("__inc", lit(true))
      cur.join(inc, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          when(col("__cur").isNull, lit("inserted"))
            .when(col("__inc").isNull, lit("deleted"))
            .when(!(col("c_acctbal") <=> col("new_acctbal")), lit("changed"))
            .otherwise(lit("same")).as("status"))
    }),

    // U1–U6 — keyed upsert with a partial update-set: c_acctbal is updated on
    // conflict, c_name/c_nationkey/c_mktsegment stay frozen (the reference
    // freezes employee names after insert, logic.py:186-194).
    Query("u1_upsert_partial",
      """WITH inc AS (
           SELECT c_custkey, 'X-' || c_name AS c_name, c_nationkey,
                  c_acctbal * 2 AS c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey + 500000, 'NEW-' || CAST(c_custkey AS VARCHAR),
                  CAST(1 AS INT), 5.5, 'AUTOMOBILE'
           FROM customer WHERE c_custkey % 11 = 0)
         SELECT COALESCE(c.c_custkey, i.c_custkey) AS c_custkey,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_name ELSE i.c_name END AS c_name,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_nationkey ELSE i.c_nationkey END AS c_nationkey,
           CASE WHEN i.c_custkey IS NOT NULL THEN i.c_acctbal ELSE c.c_acctbal END AS c_acctbal,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_mktsegment ELSE i.c_mktsegment END AS c_mktsegment
         FROM customer c FULL OUTER JOIN inc i ON c.c_custkey = i.c_custkey""")((s, dir) => {
      val c = t(s, dir, "customer")
      val updated = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"),
          concat(lit("X-"), col("c_name")).as("c_name"),
          col("c_nationkey"),
          (col("c_acctbal") * 2).as("c_acctbal"),
          col("c_mktsegment"))
      val fresh = c.filter(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + 500000).as("c_custkey"),
          concat(lit("NEW-"), col("c_custkey").cast("string")).as("c_name"),
          lit(1).cast(IntegerType).as("c_nationkey"),
          lit(5.5).as("c_acctbal"),
          lit("AUTOMOBILE").as("c_mktsegment"))
      Upsert(c, updated.unionByName(fresh),
        Seq("c_custkey"), Seq("c_acctbal"))
    }),

    // U7 — insert-if-absent (ON CONFLICT DO NOTHING).
    Query("u7_insert_if_absent",
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
         UNION ALL
         SELECT c_custkey + 700000, 'APPENDED', c_nationkey, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 9 = 0""")((s, dir) => {
      val c = t(s, dir, "customer")
      val inc = c.filter(col("c_custkey") % 4 === 0)
        .select(col("c_custkey"),
          lit("IGNORED").as("c_name"), // must NOT overwrite existing rows
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      val fresh = c.filter(col("c_custkey") % 9 === 0)
        .select((col("c_custkey") + 700000).as("c_custkey"),
          lit("APPENDED").as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      Upsert.insertIfAbsent(c, inc.unionByName(fresh), Seq("c_custkey"))
    }),

    // U8 — delete-then-insert: full replace of each parent-key slice.
    Query("u8_delete_insert",
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE user_id % 7 <> 0
         UNION ALL
         SELECT event_id, user_id, 'replaced' AS event_type, value FROM events
         WHERE user_id % 7 = 0""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val slice = ev.filter(col("user_id") % 7 === 0)
        .withColumn("event_type", lit("replaced"))
      Upsert.deleteInsert(ev, slice, Seq("user_id"))
    }),

    // A4 — the full SCD Type 2 branch matrix over a simulated snapshot:
    // deletes (%10=3), tracked changes (%7=0 → new version), Type 1 changes
    // (%5=0 → in-place), brand-new keys (%13=0 → insert).
    Query("scd2_apply",
      """WITH snapbase AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'UPGRADED' ELSE c_name END AS c_name,
             c_nationkey,
             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
           FROM customer WHERE c_custkey % 10 <> 3),
         snapnew AS (
           SELECT c_custkey + 1000000 AS c_custkey,
                  'Customer#new' || CAST(c_custkey AS VARCHAR) AS c_name,
                  CAST(0 AS INT) AS c_nationkey, 0.0 AS c_acctbal,
                  'NEW' AS c_mktsegment
           FROM customer WHERE c_custkey % 13 = 0),
         snap AS (SELECT * FROM snapbase UNION ALL SELECT * FROM snapnew),
         dim AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
                  TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
                  CAST(NULL AS TIMESTAMP) AS valid_to
           FROM customer),
         j AS (
           SELECT d.c_custkey AS dk, s.c_custkey AS sk,
                  d.c_name AS dn, d.c_nationkey AS dnat, d.c_acctbal AS dab,
                  d.c_mktsegment AS dseg, d.valid_from AS dvf,
                  s.c_name AS sn, s.c_nationkey AS snat, s.c_acctbal AS sab,
                  s.c_mktsegment AS sseg
           FROM dim d FULL OUTER JOIN snap s ON d.c_custkey = s.c_custkey)
         SELECT dk AS c_custkey, dn AS c_name, dnat AS c_nationkey,
                dab AS c_acctbal, dseg AS c_mktsegment,
                dvf AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
           FROM j WHERE dk IS NOT NULL AND sk IS NOT NULL
             AND NOT (dn IS DISTINCT FROM sn)
             AND NOT (dab IS DISTINCT FROM sab)
         UNION ALL
         SELECT dk, dn, dnat, sab, dseg, dvf, CAST(NULL AS TIMESTAMP)
           FROM j WHERE dk IS NOT NULL AND sk IS NOT NULL
             AND NOT (dn IS DISTINCT FROM sn)
             AND (dab IS DISTINCT FROM sab)
         UNION ALL
         SELECT dk, dn, dnat, dab, dseg, dvf, TIMESTAMP '2024-06-01 00:00:00'
           FROM j WHERE dk IS NOT NULL AND sk IS NOT NULL
             AND (dn IS DISTINCT FROM sn)
         UNION ALL
         SELECT dk, sn, snat, sab, sseg, TIMESTAMP '2024-06-01 00:00:00',
                CAST(NULL AS TIMESTAMP)
           FROM j WHERE dk IS NOT NULL AND sk IS NOT NULL
             AND (dn IS DISTINCT FROM sn)
         UNION ALL
         SELECT dk, dn, dnat, dab, dseg, dvf, TIMESTAMP '2024-06-01 00:00:00'
           FROM j WHERE dk IS NOT NULL AND sk IS NULL
         UNION ALL
         SELECT sk, sn, snat, sab, sseg, TIMESTAMP '2024-06-01 00:00:00',
                CAST(NULL AS TIMESTAMP)
           FROM j WHERE dk IS NULL""")((s, dir) => {
      val c = t(s, dir, "customer")
      val snapBase = c.filter(col("c_custkey") % 10 =!= 3)
        .select(col("c_custkey"),
          when(col("c_custkey") % 7 === 0, lit("UPGRADED"))
            .otherwise(col("c_name")).as("c_name"),
          col("c_nationkey"),
          when(col("c_custkey") % 5 === 0, col("c_acctbal") + 10)
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_mktsegment"))
      val snapNew = c.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          concat(lit("Customer#new"), col("c_custkey").cast("string"))
            .as("c_name"),
          lit(0).cast(IntegerType).as("c_nationkey"),
          lit(0.0).as("c_acctbal"),
          lit("NEW").as("c_mktsegment"))
      val dim = c
        .withColumn("valid_from",
          lit("2024-01-01 00:00:00").cast(TimestampType))
        .withColumn("valid_to", lit(null).cast(TimestampType))
      Scd2(dim, snapBase.unionByName(snapNew), "c_custkey",
        tracked = Seq("c_name"), type1 = Seq("c_acctbal"),
        runTs = lit("2024-06-01 00:00:00").cast(TimestampType))
    }),

    // Q3-shape — 3-way star join + agg + deterministic top-10: shipping
    // priority by revenue for one segment.
    Query("q3_shipping_priority",
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey LIMIT 10""")((s, dir) =>
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_orderdate") < lit("2000-01-01 00:00:00").cast(TimestampType))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)),

    // Q5-shape — 6-way snowflake join: revenue by nation for one region,
    // with the local-supplier constraint (customer and supplier share the
    // nation). Dim chain broadcasts; facts join keyed.
    Query("q5_local_supplier",
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM region
         JOIN nation ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         WHERE r_name = 'ASIA'
         GROUP BY 1""")((s, dir) =>
      t(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"))),

    // Q4-shape — correlated EXISTS as a LEFT SEMI join with a MIXED
    // predicate (equi on the key + an inequality on dates): the planner
    // keeps the equi conjunct as the hash-join key and evaluates the
    // range conjunct as a join residual, so the semi join stays a hash
    // join (one shuffle each side), never a broadcast-nested-loop — the
    // shape that matters when both sides are fact-sized.
    Query("q4_order_priority",
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate)
         GROUP BY 1""")((s, dir) => {
      val o = t(s, dir, "orders").filter(
        col("o_orderdate") >= lit("1995-01-01 00:00:00").cast(TimestampType)
          && col("o_orderdate") < lit("1997-01-01 00:00:00")
            .cast(TimestampType))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_shipdate"))
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    // Q10-shape — returned-items revenue: who returned the most value?
    // Fact-fact equi join keyed on the order, flag filter pushed to the
    // lineitem scan, customer dim broadcast onto the aggregated result.
    Query("q10_returned_items",
      """SELECT c_custkey, c_name, revenue FROM (
           SELECT o_custkey,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(18,6))) AS DOUBLE) AS revenue
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_returnflag = 'R'
           GROUP BY 1) rev
         JOIN customer ON o_custkey = c_custkey
         ORDER BY revenue DESC, c_custkey LIMIT 20""")((s, dir) => {
      val rev = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          6).as("revenue"))
      rev.join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // A1 — hash aggregate headline (TPC-H Q1 shape; exact decimal sums).
    Query("a1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY 1, 2""")((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast(TimestampType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    // A6 — first-match scalar extraction with a pinned order (the reference
    // takes the first positive student count in dict order, logic.py:302-316;
    // here: each user's earliest high-value event by (ts, event_id)).
    Query("a6_first_match",
      """SELECT user_id, event_id AS first_event_id, value AS first_value
         FROM (SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
               FROM events WHERE value > 100)
         WHERE rn = 1""")((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .filter(col("value") > 100)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("first_event_id"),
          col("value").as("first_value"))
    }),

    // A5 — versioned append (bronze history): every arriving key closes its
    // open version and appends a new one; untouched keys stay open.
    Query("a5_versioned_append",
      """SELECT c_custkey, c_acctbal AS payload,
                TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
                CASE WHEN c_custkey % 4 = 0
                     THEN TIMESTAMP '2024-06-01 00:00:00' END AS valid_to
         FROM customer
         UNION ALL
         SELECT c_custkey, c_acctbal + 1,
                TIMESTAMP '2024-06-01 00:00:00', CAST(NULL AS TIMESTAMP)
         FROM customer WHERE c_custkey % 4 = 0""")((s, dir) => {
      val cur = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal").as("payload"))
        .withColumn("valid_from", lit("2024-01-01 00:00:00").cast(TimestampType))
        .withColumn("valid_to", lit(null).cast(TimestampType))
      val inc = t(s, dir, "customer").filter(col("c_custkey") % 4 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 1).as("payload"))
      Scd2.versionedAppend(cur, inc, Seq("c_custkey"),
        lit("2024-06-01 00:00:00").cast(TimestampType))
    }),

    // EP3 flagship — occupancy-index rebuild shape: pre-explode filter,
    // double explode (weeks × rooms) with the F3 default-weeks rule, broadcast
    // dim join, group-by grain, sorted distinct array agg.
    Query("occupancy_index",
      """WITH w AS (
           SELECT p_partkey, p_brand, p_name,
             CASE WHEN p_size % 5 > 0 THEN generate_series(1, p_size % 5)
                  ELSE [1, 2, 3, 4] END AS weeks
           FROM part WHERE p_retailprice > 901),
         e1 AS (SELECT p_partkey, p_brand, p_name,
                       CAST(unnest(weeks) AS BIGINT) AS week FROM w),
         e2 AS (SELECT p_partkey, p_brand, week,
                       unnest(string_split(p_name, ' ')) AS room FROM e1),
         rooms AS (
           SELECT DISTINCT room FROM
             (SELECT unnest(string_split(p_name, ' ')) AS room FROM part)
           WHERE length(room) > 4)
         SELECT e2.room AS room, week,
                array_to_string(list_sort(list(DISTINCT p_brand)), '|') AS brands,
                COUNT(*) AS n_events
         FROM e2 JOIN rooms ON e2.room = rooms.room
         GROUP BY 1, 2""")((s, dir) => {
      val p = t(s, dir, "part")
      val weeksRaw = when(col("p_size") % 5 > 0,
          sequence(lit(1L), (col("p_size") % 5).cast(LongType)))
        .otherwise(array().cast(ArrayType(LongType)))
      val weeks = when(size(weeksRaw) === 0,
          array(lit(1L), lit(2L), lit(3L), lit(4L)))
        .otherwise(weeksRaw)
      val exploded = p.filter(col("p_retailprice") > 901)
        .withColumn("week", explode(weeks))
        .withColumn("room", explode(split(col("p_name"), " ")))
      val rooms = p
        .select(explode(split(col("p_name"), " ")).as("room"))
        .filter(length(col("room")) > 4).distinct()
      // Array output serialized to a canonical scalar (sorted, '|'-joined):
      // the driver's pandas comparer can't sort array cells, so the checked
      // projection is a string; the array agg itself still runs.
      exploded.join(broadcast(rooms), "room")
        .groupBy("room", "week")
        .agg(array_join(array_sort(collect_set(col("p_brand"))), "|")
            .as("brands"),
          count(lit(1)).as("n_events"))
    }),

    // The SQL front-end over the EP3 flagship shape: the SAME double
    // lateral explode + broadcast dim join + grouped distinct-set agg as
    // occupancy_index, expressed end-to-end in spark.sql over registered
    // views — the engine-user surface for the hardest operator shape, not
    // just the simple-join sql_interface. Catalyst compiles it to the same
    // plan family (LATERAL VIEW explode = generate, AQE broadcasts the
    // small distinct-rooms side).
    // Same expected result as occupancy_index: the SQL front-end must agree
    // with the DataFrame form AND the independent oracle.
    Query("sql_occupancy",
      """WITH w AS (
           SELECT p_partkey, p_brand, p_name,
             CASE WHEN p_size % 5 > 0 THEN generate_series(1, p_size % 5)
                  ELSE [1, 2, 3, 4] END AS weeks
           FROM part WHERE p_retailprice > 901),
         e1 AS (SELECT p_partkey, p_brand, p_name,
                       CAST(unnest(weeks) AS BIGINT) AS week FROM w),
         e2 AS (SELECT p_partkey, p_brand, week,
                       unnest(string_split(p_name, ' ')) AS room FROM e1),
         rooms AS (
           SELECT DISTINCT room FROM
             (SELECT unnest(string_split(p_name, ' ')) AS room FROM part)
           WHERE length(room) > 4)
         SELECT e2.room AS room, week,
                array_to_string(list_sort(list(DISTINCT p_brand)), '|') AS brands,
                COUNT(*) AS n_events
         FROM e2 JOIN rooms ON e2.room = rooms.room
         GROUP BY 1, 2""")((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("v_part")
      s.sql("""
        WITH p AS (
          SELECT p_name, p_brand, p_retailprice,
            CASE WHEN p_size % 5 > 0
                 THEN sequence(CAST(1 AS BIGINT), CAST(p_size % 5 AS BIGINT))
                 ELSE array(CAST(1 AS BIGINT), CAST(2 AS BIGINT),
                            CAST(3 AS BIGINT), CAST(4 AS BIGINT))
            END AS weeks
          FROM v_part),
        rooms AS (
          SELECT DISTINCT room
          FROM v_part LATERAL VIEW explode(split(p_name, ' ')) AS room
          WHERE length(room) > 4),
        e AS (
          SELECT p_brand, week, room
          FROM p
          LATERAL VIEW explode(weeks) AS week
          LATERAL VIEW explode(split(p_name, ' ')) AS room
          WHERE p_retailprice > 901)
        SELECT e.room, e.week,
               array_join(array_sort(collect_set(p_brand)), '|') AS brands,
               COUNT(*) AS n_events
        FROM e JOIN rooms ON e.room = rooms.room
        GROUP BY e.room, e.week""")
    }),

    // F1/F2 — day-number↔name CASE mapping over epoch-nanos timestamps.
    Query("f_case_map",
      """WITH d AS (
           SELECT event_id,
             CAST((epoch_ns(ts) // 86400000000000) % 7 + 1 AS INT) AS day_num
           FROM events),
         n AS (
           SELECT event_id, day_num,
             CASE day_num
               WHEN 1 THEN 'Понедельник' WHEN 2 THEN 'Вторник'
               WHEN 3 THEN 'Среда' WHEN 4 THEN 'Четверг'
               WHEN 5 THEN 'Пятница' WHEN 6 THEN 'Суббота'
               WHEN 7 THEN 'Воскресенье' END AS day_name
           FROM d)
         SELECT event_id, day_num, day_name,
           CASE day_name
             WHEN 'Понедельник' THEN 1 WHEN 'Вторник' THEN 2
             WHEN 'Среда' THEN 3 WHEN 'Четверг' THEN 4
             WHEN 'Пятница' THEN 5 WHEN 'Суббота' THEN 6
             WHEN 'Воскресенье' THEN 7 END AS day_num_back
         FROM n""")((s, dir) => {
      val dayNames = Seq("Понедельник", "Вторник", "Среда", "Четверг",
        "Пятница", "Суббота", "Воскресенье")
      val day = (expr("ts div 86400000000000") % 7 + 1).cast(IntegerType)
      val name = dayNames.zipWithIndex.foldLeft(lit(null).cast(StringType)) {
        case (acc, (n, i)) => when(day === (i + 1), lit(n)).otherwise(acc)
      }
      val inverse = element_at(
        map(dayNames.zipWithIndex.flatMap {
          case (n, i) => Seq(lit(n), lit(i + 1))
        }: _*), col("day_name"))
      t(s, dir, "events")
        .select(col("event_id"), day.as("day_num"), name.as("day_name"))
        .withColumn("day_num_back", inverse)
    }),

    // F8–F13 — string function battery: empty-as-missing coalesce, substring
    // truncation, normalized keys, conditional concat, array_join.
    Query("f_strings",
      """SELECT p_partkey,
           substring(p_name, 1, 5) AS abbr,
           lower(trim(p_type)) AS norm_type,
           CASE WHEN p_type IS NULL OR length(trim(p_type)) = 0
                THEN 'Без названия' ELSE p_type END AS subject,
           CASE WHEN NOT contains(p_name, p_brand)
                THEN concat_ws('-', p_name, p_brand) ELSE p_name END AS display_name,
           array_to_string(string_split(p_name, ' '), '|') AS joined
         FROM part""")((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        substring(col("p_name"), 1, 5).as("abbr"),
        lower(trim(col("p_type"))).as("norm_type"),
        when(col("p_type").isNull || length(trim(col("p_type"))) === 0,
          lit("Без названия")).otherwise(col("p_type")).as("subject"),
        when(!col("p_name").contains(col("p_brand")),
            concat_ws("-", col("p_name"), col("p_brand")))
          .otherwise(col("p_name")).as("display_name"),
        array_join(split(col("p_name"), " "), "|").as("joined"))),

    // F6/F7 — dd.MM.yyyy format/parse round-trip; malformed input → null
    // (the reference's null-on-failure policy, logic.py:52-56). The malformed
    // branch is regex-guarded: null-on-failure semantics are identical but the
    // per-row throw/catch inside the non-ANSI parser is avoided — at sf0.1
    // this one guard is a ~10× win for the query (4.6s → 0.4s).
    Query("f_dates",
      """SELECT o_orderkey,
           strftime(o_orderdate, '%d.%m.%Y') AS date_str,
           CAST(strptime(strftime(o_orderdate, '%d.%m.%Y'), '%d.%m.%Y') AS DATE) AS parsed,
           CASE WHEN regexp_matches(o_orderpriority, '^\d{2}\.\d{2}\.\d{4}$')
                THEN CAST(strptime(o_orderpriority, '%d.%m.%Y') AS DATE)
                ELSE NULL END AS bad_parse
         FROM orders""")((s, dir) => {
      val str = date_format(col("o_orderdate"), "dd.MM.yyyy")
      val shaped = col("o_orderpriority").rlike("^\\d{2}\\.\\d{2}\\.\\d{4}$")
      t(s, dir, "orders").select(
        col("o_orderkey"),
        str.as("date_str"),
        to_date(str, "dd.MM.yyyy").as("parsed"),
        when(shaped, to_date(col("o_orderpriority"), "dd.MM.yyyy"))
          .otherwise(lit(null).cast(DateType)).as("bad_parse"))
    }),

    // W1 — window functions: row_number / lag / running aggregate per key.
    Query("w1_window",
      """SELECT event_id, user_id,
           CAST(row_number() OVER w AS INT) AS rn,
           lag(value, 1) OVER w AS prev_value,
           count(*) OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING) AS running_n
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""")((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(w).as("rn"),
        lag(col("value"), 1).over(w).as("prev_value"),
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .as("running_n"))
    }),

    // JSON passthrough + extraction (reference keeps related_groups/
    // related_employees as opaque JSON, logic.py:356-357; query side =
    // get_json_object, the engine's json surface).
    Query("f_json_extract",
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           '{"event_type":"' || event_type || '","user_id":' ||
             CAST(user_id AS VARCHAR) || '}' AS packed,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) < 25 THEN 'low'
                WHEN CAST(json_extract_string(props, '$.k') AS INT) < 75 THEN 'mid'
                ELSE 'high' END AS k_bucket
         FROM events""")((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k_val"),
        to_json(struct(col("event_type"), col("user_id"))).as("packed"))
        .withColumn("k_bucket",
          when(col("k_val") < 25, "low")
            .when(col("k_val") < 75, "mid").otherwise("high"))),

    // UDAF surface — typed bounded top-k per group (Aggregator): shuffle
    // carries O(groups x k), not O(rows).
    Query("a_topk_per_user",
      """SELECT user_id,
           array_to_string(list_transform(
             (list(event_id ORDER BY value DESC, event_id))[1:3],
             e -> CAST(e AS VARCHAR)), '|') AS top_events
         FROM events GROUP BY 1""")((s, dir) => {
      val topk = udaf(graft.functions.TopK(3))
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(topk(col("value"), col("event_id")).as("tk"))
        // rank order preserved in the serialized form (no sort — the array
        // is already deterministically ordered by (value desc, event_id)).
        .select(col("user_id"),
          array_join(transform(col("tk"), _.cast(StringType)), "|")
            .as("top_events"))
    }),

    // As-of join — latest prior 'view' for each 'purchase' per user,
    // via the single-shuffle union+window form (no inequality join).
    Query("asof_last_view",
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                epoch_us(v.ts) AS view_ts_us, v.value AS view_value
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                         WHERE event_type = 'view') v
           ON p.user_id = v.user_id AND p.ts >= v.ts""")((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("ts").as("view_ts"),
          col("value").as("view_value"))
      AsOfJoin(purchases, views, "user_id", "ts",
        Seq("view_ts", "view_value"))
        // DuckDB reads TIMESTAMP(NANOS) at microsecond precision — compare
        // timestamps at us on both sides (match semantics still use full ns)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"),
          expr("view_ts div 1000").as("view_ts_us"),
          col("view_value"))
    }),

    // A2 with skew protection — salted two-phase collect_set: partial sets
    // per (key, salt), merged per key. Same result as the direct aggregate;
    // at scale the salt bounds any single reducer's input on hot keys.
    Query("a2_salted_collect",
      """SELECT p_brand,
           array_to_string(list_sort(list(DISTINCT p_type)), '|') AS types
         FROM part GROUP BY 1""")((s, dir) =>
      t(s, dir, "part")
        .withColumn("salt", pmod(col("p_partkey"), lit(8)))
        .groupBy("p_brand", "salt")
        .agg(collect_set(col("p_type")).as("partial"))
        .groupBy("p_brand")
        .agg(array_join(
          array_sort(array_distinct(flatten(collect_list(col("partial"))))),
          "|").as("types"))),

    // Range (interval) join — views within the hour before each purchase,
    // bucketized: explode each probe row into its two candidate hour-buckets
    // and equi-join on (user, bucket), then filter the exact window. The
    // equi-join keeps it a hash join at scale — a raw inequality join would
    // be a per-user cross product. Comparisons at microseconds (oracle
    // reads nanos parquet at us precision).
    Query("range_join_views_1h",
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                    FROM events WHERE event_type = 'purchase'),
            v AS (SELECT user_id, epoch_us(ts) AS vts_us
                  FROM events WHERE event_type = 'view')
         SELECT p.event_id, p.user_id, p.ts_us,
                COUNT(v.vts_us) AS n_views_1h
         FROM p LEFT JOIN v
           ON p.user_id = v.user_id
          AND v.vts_us > p.ts_us - 3600000000 AND v.vts_us <= p.ts_us
         GROUP BY 1, 2, 3""")((s, dir) => {
      val hUs = 3600L * 1000000L
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"),
          expr("ts div 1000").as("vts_us"))
        .withColumn("bucket", expr(s"vts_us div $hUs"))
      purchases
        .withColumn("p_bucket", explode(array(
          expr(s"(ts_us div $hUs)"), expr(s"(ts_us div $hUs) - 1"))))
        .join(views,
          col("user_id") === col("v_user") &&
            col("bucket") === col("p_bucket"), "left")
        .groupBy("event_id", "user_id", "ts_us")
        .agg(count(when(col("vts_us") > col("ts_us") - hUs &&
          col("vts_us") <= col("ts_us"), lit(1))).as("n_views_1h"))
    }),

    // Rollup — hierarchical totals with grouping id (free via Catalyst;
    // listed for engine-surface completeness).
    Query("a1_rollup",
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().cast(LongType).as("gid"))),

    // Explicit GROUPING SETS (beyond rollup's prefix lattice): two
    // independent single-column groupings plus the grand total in ONE
    // aggregate pass — Spark expands the sets with a single Expand node,
    // one scan, one shuffle. Driven through the SQL surface (the
    // DataFrame API only exposes rollup/cube).
    Query("a8_grouping_sets",
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total,
           CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
             AS BIGINT) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""")((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_orders_gs")
      s.sql("""
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               CAST(GROUPING_ID() AS BIGINT) AS gid
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""")
    }),

    // W6 — percent_rank + cume_dist: the distribution-ranking windows
    // (deterministic: ties share ranks by definition, output keyed by
    // orderkey).
    Query("w6_percent_rank",
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)""")((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"))
      t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), col("o_totalprice"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
    }),

    // TPC-H Q6 — the forecasting-revenue-change scalar: a pure
    // filter-and-sum whose entire predicate set reaches the parquet scan
    // (PushedFilters on date, discount and quantity) and whose aggregate
    // is one map-side partial to a single row — the minimal-shuffle shape.
    Query("q6_forecast_revenue",
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount
             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""")((s, dir) =>
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1994-01-01 00:00:00").cast(TimestampType)
            && col("l_shipdate") < lit("1995-01-01 00:00:00")
              .cast(TimestampType)
            && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
            && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 6)
          .as("revenue"))),

    // Time travel as a first-class query: three committed versions, the
    // MIDDLE one read back while later versions exist — the
    // reproducibility contract (yesterday's training run reads
    // yesterday's corpus) hash-checked, not just spec-asserted.
    Query("time_travel",
      """SELECT event_id, user_id, value FROM events
         WHERE event_id % 3 IN (0, 1)""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-tt")
      val tbl = graft.sources.TxLogTable(s, tmp.resolve("events").toString)
      tbl.commit(ev.filter(col("event_id") % 3 === 0), overwrite = true)
      tbl.commit(ev.filter(col("event_id") % 3 === 1), overwrite = false)
      tbl.commit(ev.filter(col("event_id") % 3 === 2), overwrite = false)
      tbl.snapshot(ev.schema, version = Some(1))
    }),

    // Exact quantiles per group (interpolating percentile — identical
    // linear-interpolation arithmetic in DuckDB's quantile_cont). Quartiles
    // as three scalar columns: the driver's comparer needs scalar cells.
    Query("a3_quantiles",
      """SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.25) AS q25,
           quantile_cont(o_totalprice, 0.5) AS q50,
           quantile_cont(o_totalprice, 0.75) AS q75
         FROM orders GROUP BY 1""")((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          expr("percentile(o_totalprice, 0.25)").as("q25"),
          expr("percentile(o_totalprice, 0.5)").as("q50"),
          expr("percentile(o_totalprice, 0.75)").as("q75"))),

    // Deterministic SAMPLED quantile sketch — the fourth sketch family
    // (distinct = HLL/KMV, membership = blooms, counts = histPow2,
    // order statistics = this): a hash-keyed 5% row sample (md5 bucket
    // on the row key — no RNG, engines and reruns agree row-for-row)
    // feeds an exact percentile. Mergeable by construction: the sample
    // of a union IS the union of the samples (the keep decision is
    // per-row), so per-partition sketches combine by concatenation —
    // at 100 TB the rate would derive from target_sample/corpus like
    // tx_domain_mix's budget, and only the sample ever shuffles.
    Query("sk_quantile_sample",
      """WITH s AS (SELECT o_totalprice FROM orders
           WHERE CAST('0x' || substring(
               md5('qs:' || CAST(o_orderkey AS VARCHAR)), 1, 6)
             AS BIGINT) % 100 < 5)
         SELECT COUNT(*) AS n_sample,
           quantile_cont(o_totalprice, 0.5) AS q50_est,
           quantile_cont(o_totalprice, 0.9) AS q90_est
         FROM s""")((s, dir) => {
      val keep = conv(substring(md5(concat(lit("qs:"),
        col("o_orderkey").cast(StringType))), 1, 6), 16, 10)
        .cast(LongType) % 100 < 5
      t(s, dir, "orders").filter(keep)
        .agg(count(lit(1)).as("n_sample"),
          expr("percentile(o_totalprice, 0.5)").as("q50_est"),
          expr("percentile(o_totalprice, 0.9)").as("q90_est"))
    }),

    // HyperLogLog distinct sketch (functions.Sketches.hllRegisters): the
    // whole table reduces MAP-SIDE to ≤256 (bucket, max-rank) register
    // rows — approximate COUNT(DISTINCT) whose shuffle is 256 groups
    // regardless of table size, mergeable across days/partitions by plain
    // max. Register math is exact integers (md5 + bitlength via bin()), so
    // the sketch itself hash-matches the DuckDB oracle bit-for-bit; the
    // float estimate is derived driver-side from this bounded artifact
    // (Sketches.hllEstimate, accuracy spec-tested in SketchesSpec).
    Query("sk_hll_registers",
      """WITH h AS (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM events
                    WHERE user_id IS NOT NULL),
          b AS (SELECT CAST('0x' || substring(h, 1, 2) AS BIGINT) AS bucket,
                       CAST('0x' || substring(h, 3, 15) AS BIGINT) AS v
                FROM h)
         SELECT bucket,
           MAX(CASE WHEN v = 0 THEN CAST(61 AS BIGINT)
                    ELSE 61 - length(bin(v)) END) AS r
         FROM b GROUP BY bucket""")((s, dir) =>
      graft.functions.Sketches.hllRegisters(
        t(s, dir, "events"), col("user_id"))),

    // KMV (bottom-k minimum values) distinct sketch: the k=64 smallest
    // distinct value hashes — a partial-aggable distinct then a global
    // TakeOrdered of 64 rows, no full sort, no wide result. The
    // complementary sketch family to HLL (exact below k, mergeable by
    // union+re-sort above it).
    Query("sk_kmv_minima",
      """SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h
         FROM events WHERE user_id IS NOT NULL
         ORDER BY h LIMIT 64""")((s, dir) =>
      graft.functions.Sketches.kmvMinima(
        t(s, dir, "events"), col("user_id"), 64)),

    // Power-of-2 histogram sketch (functions.Sketches.histPow2): the
    // quantile-family sketch completing the trio (distinct = HLL/KMV,
    // membership = manifest blooms, quantiles = this). ~64 count rows via
    // map-side reduction, mergeable by adding counts, exact integer math
    // (bit length, no FP log2) so it hash-matches the oracle; quantile
    // estimates derived driver-side (Sketches.histQuantile, within 2x by
    // construction — the scale-profiling tradeoff, spec-tested).
    Query("sk_hist_counts",
      """SELECT length(bin(CAST(floor(o_totalprice) AS BIGINT))) AS bucket,
           COUNT(*) AS cnt
         FROM orders
         WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0
         GROUP BY 1""")((s, dir) =>
      graft.functions.Sketches.histPow2(
        t(s, dir, "orders"), col("o_totalprice"))),

    // Count-min frequency sketch (functions.Sketches.cmSketch): 4×256
    // counters, each a plain COUNT — an exact integer function of the
    // multiset (unlike Misra-Gries, whose under-counts depend on arrival
    // order), so the sketch hash-matches the oracle and merges across
    // partitions/days by ADDING counters. One partial-aggable groupBy:
    // every partition reduces map-side to ≤1024 rows at any table size.
    Query("sk_cms_counts",
      """SELECT i,
           CAST('0x' || substring(md5(CAST(i AS VARCHAR) || ':' ||
               CAST(user_id AS VARCHAR)), 3, 15) AS BIGINT) % 256 AS bucket,
           COUNT(*) AS cnt
         FROM events CROSS JOIN range(4) AS t(i)
         WHERE user_id IS NOT NULL
         GROUP BY 1, 2""")((s, dir) =>
      graft.functions.Sketches.cmSketch(
        t(s, dir, "events"), col("user_id"))),

    // Heavy hitters via broadcast count-min lookup: distinct values join
    // the ≤1024-row sketch broadcast-side, estimate = min counter over
    // the 4 rows, threshold filter after. Never-under-count ⇒ no false
    // negatives; the oracle recomputes the SAME estimate in SQL, so the
    // check is exact, not approximate-tolerance.
    Query("sk_cms_heavy",
      """WITH sk AS (
           SELECT i,
             CAST('0x' || substring(md5(CAST(i AS VARCHAR) || ':' ||
                 event_type), 3, 15) AS BIGINT) % 256 AS bucket,
             COUNT(*) AS cnt
           FROM events CROSS JOIN range(4) AS t(i)
           WHERE event_type IS NOT NULL
           GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT i2.i, e.event_type AS v,
             CAST('0x' || substring(md5(CAST(i2.i AS VARCHAR) || ':' ||
                 e.event_type), 3, 15) AS BIGINT) % 256 AS bucket
           FROM events e CROSS JOIN range(4) AS i2(i)
           WHERE e.event_type IS NOT NULL)
         SELECT v, MIN(COALESCE(sk.cnt, 0)) AS est
         FROM cand LEFT JOIN sk USING (i, bucket)
         GROUP BY v HAVING MIN(COALESCE(sk.cnt, 0)) >= 100""")((s, dir) => {
      val ev = t(s, dir, "events")
      graft.functions.Sketches.cmsHeavyHitters(
        ev, col("event_type"),
        graft.functions.Sketches.cmSketch(ev, col("event_type")),
        minCount = 100L)
    }),

    // W5 — NTILE decile assignment per group (the remaining classic
    // ranking window; deterministic via the orderkey tie-break).
    Query("w5_ntile",
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
           NTILE(10) OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey) AS decile
         FROM orders""")((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"),
        ntile(10).over(Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey")))
          .as("decile"))),

    // Pivot — wide per-key counts by category (engine surface; compiled to
    // a single aggregate with conditional counts, no extra shuffle).
    Query("a5_pivot",
      """SELECT user_id,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'error') AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY 1""")((s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)),

    // Set operations — INTERSECT / EXCEPT semantics (SURVEY §2.8: free from
    // Spark; exercised for engine completeness).
    Query("set_ops",
      """SELECT id, 'both' AS which FROM (
           SELECT o_custkey AS id FROM orders
           INTERSECT
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
         UNION ALL
         SELECT id, 'rich_only' AS which FROM (
           SELECT c_custkey AS id FROM customer WHERE c_acctbal > 5000
           EXCEPT
           SELECT o_custkey FROM orders)""")((s, dir) => {
      val buyers = t(s, dir, "orders").select(col("o_custkey").as("id"))
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("id"))
      val both = buyers.intersect(rich).withColumn("which", lit("both"))
      val richOnly = rich.except(buyers).withColumn("which", lit("rich_only"))
      both.unionByName(richOnly)
    }),

    // SQL front-end — the same engine drives spark.sql over registered
    // views (user-facing SQL surface; plan identical to the DataFrame form).
    Query("sql_interface",
      """SELECT p_brand,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
           COUNT(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size < 20
         GROUP BY p_brand""")((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      t(s, dir, "part").createOrReplaceTempView("v_part")
      s.sql("""
        SELECT p_brand,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               COUNT(*) AS n
        FROM v_lineitem JOIN v_part ON l_partkey = p_partkey
        WHERE p_size < 20
        GROUP BY p_brand""")
    }),

    // W3 — RANGE-frame window: per-user trailing-1h revenue (decimal-exact
    // windowed sum over a value range frame).
    Query("w3_range_window",
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS trailing_1h_value
         FROM events""")((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
        .withColumn("trailing_1h_value",
          sum(col("value").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType))
        .drop("value")
    }),

    // W4 — native session_window operator (gap-merged event-time sessions;
    // the built-in form of the w2 logic, usable identically in streaming).
    Query("w4_session_window",
      """WITH g AS (
           SELECT user_id, epoch_us(ts) AS ts_us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
         s AS (
           SELECT user_id, ts_us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                 ROWS UNBOUNDED PRECEDING) AS sess
           FROM g)
         SELECT user_id, MIN(ts_us) AS session_start_us,
                COUNT(*) AS n_events
         FROM s GROUP BY user_id, sess""")((s, dir) =>
      t(s, dir, "events")
        .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
        .groupBy(col("user_id"),
          session_window(col("event_ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("session_start_us"),
          col("n_events"))),

    // W2 — gap-based sessionization (30-minute inactivity threshold) — the
    // batch shape of the streaming sessionizer in graft.streaming.
    Query("w2_sessionize",
      """WITH g AS (
           SELECT user_id, event_id,
             CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
                    OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
         s AS (
           SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
           FROM g)
         SELECT user_id, CAST(MAX(sess) AS BIGINT) AS n_sessions,
                COUNT(*) AS n_events
         FROM s GROUP BY 1""")((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val gapNs = lit(30L * 60 * 1000000000L)
      val newSess = when(lag(col("ts"), 1).over(w).isNull ||
        (col("ts") - lag(col("ts"), 1).over(w)) > gapNs, 1).otherwise(0)
      t(s, dir, "events")
        .withColumn("sess", sum(newSess)
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id")
        .agg(max(col("sess")).cast(LongType).as("n_sessions"),
          count(lit(1)).as("n_events"))
    }))
}
