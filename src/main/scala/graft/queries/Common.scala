package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the driver-facing query registry (SparkEntry).
  *
  * Conventions that keep the DuckDB oracle hash-comparable:
  *  - every query ends with a deterministic ORDER BY including a unique key,
  *    and the oracle SQL carries the same ORDER BY;
  *  - aggregates over doubles are cast to DECIMAL *before* summing (decimal
  *    addition is exact and associative; double addition is order-dependent);
  *  - `events.ts` has shipped in three on-disk shapes, which
  *    [[Common.events]] normalizes to `ts_us` (epoch micros) — any
  *    ts-derived output or sort key goes through unix_micros (Spark) /
  *    epoch_us (DuckDB) so both engines see the same int64.
  */
object Common {
  type Q = (SparkSession, String) => DataFrame

  /** Every registry query reads tables through here. The graft_* native
    * functions its queries call come with the session: graft on the driver
    * classpath when the session is built installs them
    * ([[graft.GraftExtensions]]); otherwise call
    * [[graft.functions.GraftFunctions.ensure]] once.
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.parquet(s, s"$dir/$name.parquet")

  /** events.parquet raw-int64 schema, for the two `ts` shapes Spark 4's
    * schema inference can't read as a timestamp: parquet TIMESTAMP(NANOS)
    * (inference rejects it outright — PARQUET_TYPE_ILLEGAL — unless the
    * session-wide spark.sql.legacy.parquet.nanosAsLong flag is set) and the
    * GenSf tiers' plain int64 nanos. Declaring `ts` as LongType reads the
    * raw nanos int64 directly, with no session conf required — an external
    * driver's vanilla SparkSession works as-is.
    */
  val eventsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType), // TIMESTAMP(NANOS) read as nanos-since-epoch
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** events with `ts` normalized: `ts_us` (epoch micros, matches DuckDB
    * epoch_us(ts)) and `ts` re-typed as a µs TimestampType for
    * window()/to_date() — whatever the on-disk shape ([[eventsRawUs]]).
    */
  def events(s: SparkSession, dir: String): DataFrame =
    eventsRawUs(s, s"$dir/events.parquet")
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** events with `ts_us` (int64 epoch micros) attached and `ts` left in its
    * on-disk type. The testdata has shipped `ts` in three shapes across
    * rounds — parquet TIMESTAMP(NANOS), TIMESTAMP(MICROS), and the GenSf
    * tiers' plain int64 nanos — so the shape is detected from the file
    * footer, read on the driver by [[graft.Tables.parquet]] (no job for the
    * two shapes inference accepts): a µs timestamp type reuses that read;
    * int64-backed shapes read through [[eventsSchema]] with `ts div 1000`
    * (integer division — a double division would lose precision above
    * 2^53 ns).
    */
  private def eventsRawUs(s: SparkSession, path: String): DataFrame =
    nativeTsEvents(s, path) match {
      // NTZ cast is wall-clock-preserving: sessions here are UTC-pinned,
      // same convention as usOf
      case Some(df) => df.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      case None =>
        s.read.schema(eventsSchema).parquet(path)
          .withColumn("ts_us", expr("ts div 1000"))
    }

  /** The footer-inferred read of events when its `ts` is a native µs
    * timestamp; None for the int64-backed shapes: plain int64 nanos, and
    * the one shape inference REJECTS (parquet TIMESTAMP(NANOS) →
    * PARQUET_TYPE_ILLEGAL, raised by Spark's own inference once the driver
    * footer read hands the read back to it). Only that rejection maps to
    * None: a missing path, permission error, or corrupt footer propagates
    * — treating those as "the NANOS shape" would resurface later as a
    * confusing schema-mismatch error far from the real cause.
    */
  private def nativeTsEvents(s: SparkSession, path: String): Option[DataFrame] = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val inferred =
      try Some(graft.Tables.parquet(s, path))
      catch { case e: Throwable if isNanosRejection(e) => None }
    inferred.filter(_.schema.find(_.name == "ts").map(_.dataType)
      .exists(t => t == TimestampType || t == TimestampNTZType))
  }

  /** True when the failure (or any of its causes) is parquet's
    * illegal-type inference rejection — the TIMESTAMP(NANOS) signature.
    */
  @annotation.tailrec
  private def isNanosRejection(e: Throwable): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    if (m.contains("PARQUET_TYPE_ILLEGAL") || m.contains("Illegal Parquet type"))
      true
    else if (e.getCause != null && (e.getCause ne e)) isNanosRejection(e.getCause)
    else false
  }

  /** events in the raw-int64-NANOS shape ([[eventsSchema]]'s contract) from
    * any on-disk shape — what [[graft.tools.GenSf]] writes, so generated
    * tiers always carry the BIGINT-nanos form regardless of the source
    * tier's shape (and the oracle harness's BIGINT shim keeps working).
    */
  def eventsRawNanos(s: SparkSession, path: String): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    nativeTsEvents(s, path) match {
      case Some(df) =>
        // native µs timestamp: nanos must be synthesized (µs × 1000)
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
          .select(cols.map(col): _*)
      case None =>
        // int64-backed shapes (TIMESTAMP(NANOS) or plain int64 nanos): the
        // on-disk value IS nanos — pass it through byte-for-byte instead of
        // round-tripping via ts_us, which would truncate sub-µs precision
        s.read.schema(eventsSchema).parquet(path).select(cols.map(col): _*)
    }
  }

  /** Epoch-micros of a TIMESTAMP_NTZ column (testdata dates are NTZ;
    * unix_micros only takes TIMESTAMP — with the session in UTC the cast is
    * wall-clock-preserving, matching DuckDB's epoch_us).
    */
  def usOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unix_micros(c.cast("timestamp"))

  /** All lineitem columns in schema order — used to make lineitem ORDER BYs
    * *total*: `(l_orderkey, l_linenumber)` is NOT unique in the testdata
    * (up to 6 rows per pair at sf0.01), so any ordering that doesn't cover
    * every output column is run-to-run nondeterministic. An ORDER BY over
    * ALL output columns is always hash-stable: rows tied on the full column
    * list are identical, so their relative order cannot change the output.
    */
  val liAllCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  /** orders PK — verified unique at sf0.001/0.01/0.1 (unlike lineitem's
    * `(l_orderkey, l_linenumber)`), so the Diff/LWW family is keyed here:
    * DiffData semantics assume one row per PK
    * (reference: docs/04-cdm-approach.md:355-377).
    */
  val ordPk: Seq[String] = Seq("o_orderkey")

  /** Non-PK orders columns, used as the diff compare set. */
  val ordCompare: Seq[String] = Seq(
    "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority")

  /** Defect-injected twin of orders, playing the migration "target" side
    * for the Diff family (reference DiffData semantics,
    * docs/04-cdm-approach.md:355-377). Deterministic defects:
    *  - rows with o_orderkey % 97 == 0 are MISSING from the target;
    *  - rows with o_orderkey % 89 == 0 have o_totalprice + 1 (MISMATCH);
    *  - rows with o_orderkey % 101 == 0 also appear under a shifted key
    *    (+100,000,000 — beyond any real key) → EXTRA_IN_TARGET.
    */
  def ordersTwin(ord: DataFrame): DataFrame = {
    val base = ord
      .filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    val extra = ord
      .filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
    base.unionByName(extra.select(base.columns.toIndexedSeq.map(col): _*))
  }

  /** DuckDB CTE body mirroring [[ordersTwin]] exactly. Use as
    * s"WITH twin AS ($twinSql) SELECT ...".
    */
  val twinSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
       FROM orders WHERE o_orderkey % 97 <> 0
       UNION ALL
       SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_orderstatus,
       o_totalprice, o_orderdate, o_orderpriority
       FROM orders WHERE o_orderkey % 101 = 0"""

  /** Scratch dir for queries that exercise a write path (CSV/JSON round
    * trips, dual-write, migrate). Kept inside the repo's build dir.
    */
  def scratch(name: String, sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    s"/root/repo/target/scratch/$tag/$name"
  }
}
