package graft.perfbench

import graft.queries.{AggQueries, CoreQueries, DiffQueries, FnQueries, JoinQueries}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.Observation

/** Registry keys through the noop sink, in a seeded order that changes each
  * round. Each key's row count must equal the DuckDB oracle's, recorded in
  * `oracle_counts.tsv`.
  */
final class RegistrySql(tier: String, expected: Map[String, Long]) {
  import RegistrySql._

  private var seed = 0L

  /** Fix the key order's seed; returns the tables the keys read. */
  def prepare(seed: Long): Seq[String] = {
    this.seed = seed
    val missing = keys.keySet -- expected.keySet
    require(missing.isEmpty, s"no recorded oracle count for ${missing.mkString(", ")}")
    Tables.map(t => s"$tier/$t.parquet")
  }

  /** The key order of `round`, a pure function of the seed. */
  def order(round: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + round).shuffle(keys.keys.toSeq.sorted)

  def round(r: Runner): Unit = {
    val corruptKey = if (r.corruptNow()) order(r.round).headOption else None
    order(r.round).foreach { key =>
      val (family, fn) = keys(key)
      r.call("queries", family) {
        val obs = Observation(key)
        fn(r.spark, tier).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        obs.get("n").asInstanceOf[Long] + (if (corruptKey.contains(key)) 1 else 0)
      } { n => Checks.expect(s"$key rows", n, expected(key)) }
    }
  }
}

object RegistrySql {
  val families: Seq[(String, Map[String, graft.queries.Common.Q])] = Seq(
    "CoreQueries" -> CoreQueries.qs, "AggQueries" -> AggQueries.qs,
    "DiffQueries" -> DiffQueries.qs, "FnQueries" -> FnQueries.qs,
    "JoinQueries" -> JoinQueries.qs)

  /** Every read-only key of the five families. */
  val allKeys: Map[String, (String, graft.queries.Common.Q)] =
    families.flatMap { case (f, qs) => qs.map { case (k, q) => k -> (f, q) } }.toMap

  /** The keys a round runs, as many as fit a run's time budget: fn_json,
    * whose family no other call reaches.
    */
  val keys: Map[String, (String, graft.queries.Common.Q)] =
    allKeys.filter { case (k, _) => k == "fn_json" }

  /** The tables those keys read. */
  val Tables: Seq[String] = Seq("events")

  val fns: Seq[(String, String)] = keys.values.map("queries" -> _._1).toSeq.distinct.sorted

  /** `key<TAB>rows` lines, as written by `record_oracle.py`. */
  def loadExpected(path: String): Map[String, Long] =
    Workload.readTsv(path).map { case Array(k, n) => k -> n.toLong }.toMap
}
