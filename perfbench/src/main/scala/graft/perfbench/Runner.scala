package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One timed call into a graft layer. `startMs`/`endMs` are wall-clock
  * stamps for attributing Spark events to the call; `seconds` is the
  * monotonic duration.
  */
final case class Call(layer: String, fn: String, round: Int, startMs: Long,
                      endMs: Long, seconds: Double, ok: Boolean,
                      leaked: Int, rows: Long, inBytes: Long)

/** The closed-loop client: one call at a time, each timed around the public
  * function plus the action that materializes its result. After every call
  * it counts what the call left behind (persisted RDDs, a job group still
  * set), then clears it, so no state carries into the next call or round.
  */
final class Runner(val spark: SparkSession, corrupt: Boolean) {
  val calls = ArrayBuffer[Call]()
  var round = 0
  private var corrupted = false

  /** True exactly once per run when `--corrupt` is on: the workload then
    * damages one output before its check, and the run must fail.
    */
  def corruptNow(): Boolean =
    if (corrupt && !corrupted && round > 0) { corrupted = true; true } else false

  /** Time `body`, then validate its value with `check` (outside the timer).
    * A throw or a failed check counts as a failed call. `rows` and
    * `inBytes` are the input the call processes, for the per-layer ratios.
    */
  def call[T](layer: String, fn: String, rows: Long = 0L, inBytes: Long = 0L)(body: => T)(
      check: T => Option[String]): Option[T] = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val verdict = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check threw: ${e.getMessage}") }
    }
    val leaked = releaseLeftovers()
    verdict.foreach(v => System.err.println(s"[perfbench] round $round $layer.$fn FAILED: $v"))
    calls += Call(layer, fn, round, startMs, endMs, seconds, verdict.isEmpty, leaked, rows,
      inBytes)
    res.toOption.filter(_ => verdict.isEmpty)
  }

  /** Count persisted RDDs and a leftover job group, then clear both along
    * with any cached tables. Returns the count.
    */
  private def releaseLeftovers(): Int = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.values.toSeq
    val group = Option(sc.getLocalProperty("spark.jobGroup.id")).isDefined
    persisted.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    if (group) sc.clearJobGroup()
    persisted.size + (if (group) 1 else 0)
  }
}

object Checks {
  def expect[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def all(cs: Option[String]*): Option[String] = cs.flatten.headOption
}
