package graft.validate

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Common

/** Property tests for the reconciliation algebra (SURVEY §5): diff(x,x) is
  * all-valid; the diff classes partition the key space; LWW is idempotent
  * and order-insensitive — mirroring the reference's idempotency claim
  * (lab/exercises/04-cdm-migration.md:417).
  */
class DiffSpec extends SparkSpec {
  private lazy val orders = spark.read.parquet(s"${sf()}/orders.parquet")
  private lazy val twin = Common.ordersTwin(orders)
  private val pk = Common.ordPk
  private val compare = Common.ordCompare

  test("diff(x, x) classifies every row valid") {
    val rep = Diff.report(orders, orders, pk, compare).collect()
    assert(rep.length == 1)
    assert(rep.head.getString(0) == "valid")
    assert(rep.head.getLong(1) == orders.count())
  }

  test("diff classes partition the joined key space") {
    val counts = Diff.report(orders, twin, pk, compare).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val origin = orders.count()
    val target = twin.count()
    // every origin row is valid, missing or mismatched
    assert(counts.getOrElse("valid", 0L) + counts.getOrElse("missing", 0L) +
      counts.getOrElse("mismatch", 0L) == origin)
    // every target row is valid, mismatched or extra
    assert(counts.getOrElse("valid", 0L) + counts.getOrElse("mismatch", 0L) +
      counts.getOrElse("extra_in_target", 0L) == target)
    // the twin injects all four classes
    assert(counts.keySet == Set("valid", "missing", "mismatch", "extra_in_target"))
  }

  test("classifyByHash agrees with column-wise classify on the twin") {
    val byCols = Diff.classify(orders, twin, pk, compare)
      .groupBy(Diff.StatusCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byHash = Diff.classifyByHash(orders, twin, pk, compare)
      .groupBy(Diff.StatusCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCols == byHash)
  }

  test("missing ∪ target-pks covers origin exactly") {
    val missing = Diff.missing(orders, twin, pk).count()
    val overlap = orders.join(twin.select(pk.map(col): _*), pk, "left_semi").count()
    assert(missing + overlap == orders.count())
  }

  test("dup-PK gate: FailOnDup fires, CollapseLww pre-collapses, AssumeUnique bypasses") {
    import spark.implicits._
    // key 2 is duplicated with two writetime versions — the full-outer join
    // would multiply it into phantom rows without the gate
    val dupped = Seq((1L, "a", 10L), (2L, "old", 20L), (2L, "new", 30L))
      .toDF("k", "v", "wt")
    val clean = Seq((1L, "a", 10L), (2L, "new", 30L)).toDF("k", "v", "wt")
    // the gate rides the join's own shuffle (no pre-pass), so it fires at
    // the ACTION — the job fails before any phantom row can be consumed
    def allMessages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val err = intercept[Exception] {
      Diff.classify(dupped, clean, Seq("k"), Seq("v")).count()
    }
    assert(allMessages(err).contains("duplicate-PK") &&
      allMessages(err).contains("origin"), allMessages(err))
    // symmetric: a target-side dup names the target
    val errT = intercept[Exception] {
      Diff.classifyByHash(clean, dupped, Seq("k"), Seq("v")).count()
    }
    assert(allMessages(errT).contains("duplicate-PK") &&
      allMessages(errT).contains("target"), allMessages(errT))
    // CollapseLww keeps max-writetime per key first → all-valid diff
    val collapsed = Diff.report(dupped, clean, Seq("k"), Seq("v"),
      onDup = Diff.CollapseLww("wt")).collect()
    assert(collapsed.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("valid" -> 2L))
    // AssumeUnique reproduces the ungated (phantom-row) shape — caller owns it
    val phantom = Diff.classify(dupped, dupped, Seq("k"), Seq("v"),
      onDup = Diff.AssumeUnique)
    assert(phantom.count() == 5L) // 1 + 2×2: the multiplication the gate stops
  }

  test("validateSample survives a duplicate-PK target (found ≤ sampled, no negative missing)") {
    import spark.implicits._
    val origin = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    // target duplicates key 1 (one matching + one mismatching row) and
    // lacks key 3 entirely
    val target = Seq((1L, "a"), (1L, "z"), (2L, "b")).toDF("k", "v")
    val r = Diff.validateSample(origin, target, Seq("k"), Seq("v"), 3).collect()(0)
    assert(r.getLong(0) == 3L, "sampled")
    assert(r.getLong(1) == 2L, "found counts distinct PKs, not join rows")
    assert(r.getLong(2) == 1L, "missing stays non-negative")
    assert(r.getLong(3) == 1L, "a PK with any mismatching row is mismatched")
  }

  test("lwwMerge is idempotent and union-order-insensitive") {
    val o = orders.withColumn("writetime", Common.usOf(col("o_orderdate")))
      .withColumn("src", lit(0))
    val t2 = twin.withColumn("writetime", Common.usOf(col("o_orderdate")) + 1)
      .withColumn("src", lit(1))
    val ab = Diff.lwwMerge(o.unionByName(t2), pk, "writetime", Seq("src"))
    val ba = Diff.lwwMerge(t2.unionByName(o), pk, "writetime", Seq("src"))
    assert(ab.exceptAll(ba).isEmpty && ba.exceptAll(ab).isEmpty)
    val twice = Diff.lwwMerge(ab, pk, "writetime", Seq("src"))
    assert(ab.exceptAll(twice).isEmpty && twice.exceptAll(ab).isEmpty)
  }

  test("autocorrect: target-only rows kept, newer target wins, origin fills missing") {
    val o = orders.withColumn("writetime", lit(100L))
    val t2 = twin.withColumn("writetime",
      when(col("o_orderkey") % 89 === 0, 200L).otherwise(50L))
    val fixed = Diff.autocorrect(o, t2, pk, compare, "writetime")
    // mutated rows (89-divisible, surviving 97-filter) carry newer writetime → target version kept
    val mutated = fixed.filter(col("o_orderkey") % 89 === 0 && col("o_orderkey") % 97 =!= 0
      && col("o_orderkey") < 100000000L)
    val mutatedTwin = t2.filter(col("o_orderkey") % 89 === 0 && col("o_orderkey") < 100000000L)
    assert(mutated.select(pk.head, "o_totalprice").exceptAll(
      mutatedTwin.select(pk.head, "o_totalprice")).isEmpty)
    // missing rows (97-divisible, unshifted key space) restored from origin
    assert(fixed.filter(col("o_orderkey") % 97 === 0 && col("o_orderkey") < 100000000L).count() ==
      orders.filter(col("o_orderkey") % 97 === 0).count())
    // extra target rows (shifted keys) survive — never deleted
    assert(fixed.filter(col("o_orderkey") >= 100000000L).count() ==
      twin.filter(col("o_orderkey") >= 100000000L).count())
  }

  test("validateSample finds injected defects in the first 500 keys") {
    val row = Diff.validateSample(orders, twin, pk, compare, 500).collect().head
    val sampled = row.getAs[Long]("sampled")
    val found = row.getAs[Long]("found")
    val missing = row.getAs[Long]("missing")
    assert(sampled == 500)
    assert(found + missing == sampled)
    assert(missing > 0 && row.getAs[Long]("mismatched") > 0)
  }
}
