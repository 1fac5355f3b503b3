package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs — same config surface as Verify/Bench. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Spark jobs `body` submits, via an isolated job group (AQE splits one
    * action into several jobs, so a count pins the whole call shape).
    */
  def countJobs(tag: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try body finally sc.clearJobGroup()
    settled(sc.statusTracker.getJobIdsForGroup(tag).length)
  }

  /** `read` once it is stable across consecutive polls (bounded): the
    * async listener bus feeds the status tracker and listeners after the
    * action returns, and a fixed sleep under-reports on a loaded host
    * (ADVICE r8).
    */
  def settled(read: => Int): Int = {
    var last = -1
    var stable = 0
    var waitedMs = 0
    while (stable < 3 && waitedMs < 10000) {
      val cur = read
      if (cur == last) stable += 1 else { stable = 0; last = cur }
      Thread.sleep(100)
      waitedMs += 100
    }
    last
  }

  /** The physical plan that computed a materialized (persisted) result:
    * its executedPlan is only a scan of the cache, so read the cached
    * relation's own plan, with every AQE query stage inlined. Caches it
    * reads stay `InMemoryTableScan` leaves. `initial` reads the plan AQE
    * started from instead of the one it ran: on an input where a join
    * side turns out empty, AQE replaces the ran plan by an empty relation
    * and the planned operators are no longer in it.
    */
  def cachedPhysical(df: DataFrame, initial: Boolean = false): SparkPlan = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val cached = df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }.getOrElse(fail(s"not a cached frame:\n${df.queryExecution.withCachedData}"))
    def inline(p: SparkPlan): SparkPlan = p.transformUp {
      case a: AdaptiveSparkPlanExec => inline(if (initial) a.initialPlan else a.executedPlan)
      case s: QueryStageExec => inline(s.plan)
    }
    inline(cached)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // Vanilla session (no spark.sql.extensions, no nanosAsLong), as an
    // external driver builds it: graft_* functions come only from graft
    // being on the classpath (the GraftExtensions provider).
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
