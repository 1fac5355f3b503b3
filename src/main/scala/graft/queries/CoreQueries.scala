package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Ops

/** Scan / projection / filter / sort / limit / set-op queries —
  * SURVEY §2.1 S1, §2.2 P1–P6, §2.6 O2–O4, §2.7 U1–U3.
  *
  * Determinism rules (lineitem's `(l_orderkey, l_linenumber)` is NOT unique
  * in the testdata):
  *  - row-returning lineitem queries ORDER BY *all* output columns — rows
  *    tied on every column are identical, so the hash is stable;
  *  - LIMIT queries run on tables with a unique key (orders) so the cut
  *    point is well-defined;
  *  - the migrate-shaped full scan is verified via an order-free checksum
  *    aggregate, keeping the scan itself shuffle- and sort-free (the
  *    reference's Migrate path is narrow end-to-end, SURVEY §3.1 — a global
  *    sort of 100 TB purely for verification would be the worst plan in the
  *    repo).
  */
object CoreQueries {
  import Common._

  private def orderByAll(cols: Seq[String]) =
    (df: org.apache.spark.sql.DataFrame) => df.orderBy(cols.map(col): _*)

  val qs: Map[String, Q] = Map(
    // S1 — full-table scan (CDM Migrate read side, docs/04-cdm-approach.md:280-285).
    // Narrow scan → single checksum aggregate; no sort, no wide exchange.
    "scan_full" -> ((s, d) =>
      // sums go through DECIMAL (exact, order-independent) and surface as
      // DOUBLE (same IEEE value on every engine/driver)
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"),
        min(usOf(col("l_shipdate"))).as("min_ship_us"),
        max(usOf(col("l_shipdate"))).as("max_ship_us"))),

    // P1 — column-subset projection (column.names.to.target)
    "project_subset" -> ((s, d) => {
      val cols = Seq("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
      orderByAll(cols)(Ops.project(t(s, d, "lineitem"), cols))
    }),

    // P2 — column exclusion (column.names.to.exclude)
    "project_exclude" -> ((s, d) => {
      val out = liAllCols.filterNot(Set("l_tax", "l_discount", "l_partkey"))
      orderByAll(out)(Ops.exclude(t(s, d, "lineitem"), Seq("l_tax", "l_discount", "l_partkey")))
    }),

    // P3 — equality filter (ALLOW FILTERING analog); pushed to parquet scan
    "filter_eq" -> ((s, d) =>
      orderByAll(liAllCols)(t(s, d, "lineitem").filter(col("l_returnflag") === "R"))),

    // P4 — token-range slice. Oracle-checkable variant buckets the numeric
    // PK directly; the hash-based Ops.tokenRange (string-safe) is unit-tested.
    "filter_token_range" -> ((s, d) =>
      orderByAll(liAllCols)(
        t(s, d, "lineitem").filter(pmod(col("l_orderkey"), lit(32)).between(8, 15)))),

    // P5 — incremental (writetime >= min) re-migration on events
    "filter_incremental" -> ((s, d) =>
      Ops.incremental(
          events(s, d).withColumn("writetime", col("ts_us")),
          "writetime", 1705276800000000L) // 2024-01-15T00:00:00Z in micros
        .select(col("event_id"), col("writetime"), col("event_type"))
        .orderBy(col("event_id"))),

    // P6/O3 — LIMIT sampling (validate_migration.py:43); orders' unique PK
    // makes the cut deterministic
    "limit_sample" -> ((s, d) =>
      t(s, d, "orders").orderBy(col("o_orderkey")).limit(100)),

    // P7 — guardrail size filter (docs/04-cdm-approach.md:380-387)
    "guardrail_check" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), octet_length(col("text")).as("row_bytes"),
          (octet_length(col("text")) > 400).as("oversize"))
        .orderBy(col("doc_id"))),

    // O2 — global sort (range-partitioned exchange + per-partition sort).
    // ORDER BY covers every output column → hash-stable even with ties.
    "sort_global" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(1000)),

    // O4 — top-k (TakeOrderedAndProject, no full sort); o_orderkey unique
    "topk_orders" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    // grouped top-k via the graft_topk bounded-heap AGGREGATE (r12) — the
    // scale-safe alternative to `row_number() OVER (PARTITION BY …) <= k`:
    // the window form shuffles and SORTS every row of every group; the
    // heap evicts to k entries inside each map task, so the exchange
    // carries #groups × k rows no matter how hot a group is. Ties break
    // (price desc, orderkey asc), same as the window mirror.
    "topk_per_group" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("graft_topk(o_totalprice, o_orderkey, 3)").as("nn"))
        .select(col("o_orderpriority"), posexplode(col("nn")).as(Seq("rk", "x")))
        .select(col("o_orderpriority"), (col("rk") + 1).as("rk"),
          col("x.id").as("o_orderkey"), col("x.score").as("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rk"))
    }),

    // U1 — EXCEPT: origin rows whose (pk, totalprice) got lost or mutated
    "set_except_schema" -> ((s, d) => {
      val ord = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val tw = ordersTwin(t(s, d, "orders"))
        .select(col("o_orderkey"), col("o_totalprice"))
      ord.except(tw).orderBy(col("o_orderkey"))
    }),

    // U2 — UNION (distinct) of name domains
    "set_union" -> ((s, d) =>
      t(s, d, "nation").select(col("n_name").as("name"))
        .union(t(s, d, "region").select(col("r_name").as("name")))
        .distinct()
        .orderBy(col("name"))),

    // U3 — INTERSECT of nation keys present on both sides
    "set_intersect" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey")))
  )

  private val liAllSql = liAllCols.mkString(", ")

  val oracle: Map[String, String] = Map(
    "scan_full" ->
      """SELECT count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
         min(epoch_us(l_shipdate)) AS min_ship_us, max(epoch_us(l_shipdate)) AS max_ship_us
         FROM lineitem""",
    "project_subset" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_shipdate""",
    "project_exclude" -> {
      val out = liAllCols.filterNot(Set("l_tax", "l_discount", "l_partkey")).mkString(", ")
      s"SELECT $out FROM lineitem ORDER BY $out"
    },
    "filter_eq" ->
      s"SELECT * FROM lineitem WHERE l_returnflag = 'R' ORDER BY $liAllSql",
    "filter_token_range" ->
      s"SELECT * FROM lineitem WHERE l_orderkey % 32 BETWEEN 8 AND 15 ORDER BY $liAllSql",
    "filter_incremental" ->
      "SELECT event_id, epoch_us(ts) AS writetime, event_type FROM events WHERE epoch_us(ts) >= 1705276800000000 ORDER BY event_id",
    "limit_sample" ->
      "SELECT * FROM orders ORDER BY o_orderkey LIMIT 100",
    "guardrail_check" ->
      "SELECT doc_id, strlen(text) AS row_bytes, strlen(text) > 400 AS oversize FROM documents ORDER BY doc_id",
    "sort_global" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 1000",
    "topk_orders" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    // window mirror of the graft_topk heap: rank = position in the
    // (price desc, orderkey asc) order, k = 3 per priority
    "topk_per_group" ->
      """SELECT o_orderpriority, CAST(rk AS INTEGER) AS rk, o_orderkey, o_totalprice
         FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderpriority
                                         ORDER BY o_totalprice DESC, o_orderkey) AS rk
               FROM orders)
         WHERE rk <= 3 ORDER BY o_orderpriority, rk""",
    "set_except_schema" ->
      s"""WITH twin AS ($twinSql)
          SELECT o_orderkey, o_totalprice FROM orders
          EXCEPT
          SELECT o_orderkey, o_totalprice FROM twin
          ORDER BY o_orderkey""",
    "set_union" ->
      "SELECT n_name AS name FROM nation UNION SELECT r_name FROM region ORDER BY name",
    "set_intersect" ->
      "SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey AS nationkey FROM supplier ORDER BY nationkey"
  )
}
