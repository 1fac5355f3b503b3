package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** ZDM proxy semantics re-expressed as Structured Streaming (reference:
  * docs/05-zdm-approach.md:108-121,364-436; lab/zdm-config/zdm-config.yml:27-33):
  * dual-write to origin+target, configurable read routing, last-write-wins
  * conflict resolution with watermark-bounded state, periodic validation and
  * a metrics listener.
  *
  * Scale posture: foreachBatch persists each micro-batch once and writes it
  * twice — no recomputation, no shuffle (the batch is written as-is).
  * Streaming LWW keys state by PK with a watermark so state is bounded by
  * the lateness window, not the key space lifetime.
  */
object DualWrite {

  /** T1/S7 batch form — one materialization, two sinks (the proxy sends
    * every write to both clusters, docs/05-zdm-approach.md:392-396).
    * One-shot/ad-hoc use only: append is NOT replay-safe. The streaming
    * path goes through [[dualWriteMicroBatch]], which is.
    */
  def dualWriteBatch(df: DataFrame, originPath: String, targetPath: String): Unit = {
    df.persist()
    try {
      df.write.mode("append").parquet(originPath)
      df.write.mode("append").parquet(targetPath)
    } finally df.unpersist()
  }

  /** Idempotent micro-batch dual-sink body: batch N lands in `batch=N`
    * subdirectories with overwrite, so an at-least-once replay of the same
    * batchId (foreachBatch's contract after a failure) REWRITES its own
    * slice instead of appending duplicates — the "idempotent sink"
    * assumption the LWW state eviction relies on holds for real. Readers
    * `spark.read.parquet(originPath)` see the union of all batches plus a
    * `batch` partition column (standard partition discovery).
    */
  def dualWriteMicroBatch(batch: DataFrame, batchId: Long,
                          originPath: String, targetPath: String,
                          layout: DataFrame => DataFrame = identity): Unit = {
    batch.persist()
    try {
      // layout (e.g. a z-order repartitionByRange+sort,
      // graft.core.Ops.zorderLayout) runs on the PERSISTED batch, so each
      // sink pays the layout exchange but never the upstream lineage; the
      // landed store's parquet files then carry tight min/max envelopes on
      // the dial columns and downstream scans prune (ZorderSpec measures
      // the records-read fraction on this exact write path)
      val laid = layout(batch)
      laid.write.mode("overwrite").parquet(s"$originPath/batch=$batchId")
      laid.write.mode("overwrite").parquet(s"$targetPath/batch=$batchId")
    } finally batch.unpersist()
  }

  /** T1 streaming form: micro-batch dual-sink via foreachBatch. */
  def dualWriteStream(stream: DataFrame, originPath: String, targetPath: String,
                      checkpoint: String,
                      trigger: Trigger = Trigger.ProcessingTime("1 second"),
                      layout: DataFrame => DataFrame = identity): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dualWriteMicroBatch(batch, batchId, originPath, targetPath, layout)
      }
      .start()

  /** T2 read routing (read_mode / primary_cluster,
    * docs/05-zdm-approach.md:117-121). DUAL runs the read on the primary
    * and returns it, while the shadow side is compared asynchronously —
    * here the comparison frame is returned alongside for the caller to
    * check (the async part is the caller's scheduling choice).
    */
  sealed trait ReadMode
  case object PrimaryOnly extends ReadMode
  case object TargetOnly extends ReadMode
  case object Dual extends ReadMode

  def routedRead(mode: ReadMode, origin: => DataFrame, target: => DataFrame,
                 pk: Seq[String]): (DataFrame, Option[DataFrame]) = mode match {
    case PrimaryOnly => (origin, None)
    case TargetOnly => (target, None)
    case Dual =>
      (origin, Some(graft.validate.Diff.report(origin, target, pk,
        origin.columns.filterNot(pk.contains).toSeq)))
  }

  /** T3/T4 streaming last-write-wins: per PK keep the max-writetime row;
    * late rows older than the watermark horizon are dropped before they can
    * regress state (docs/04-cdm-approach.md:837-841 — a backfilled row never
    * beats a newer live write). Implemented with the built-in
    * watermark + window-dedup machinery: groupBy(pk).agg(max_by(row, wt))
    * in update mode keeps exactly the LWW row per key.
    */
  def lwwStream(stream: DataFrame, pk: Seq[String], tsCol: String,
                writetimeCol: String, lateness: String,
                tieBreak: Seq[String] = Nil): DataFrame = {
    val valueCols = stream.columns.toIndexedSeq.filterNot(c => pk.contains(c))
    // ordering struct matches the batch twin (Diff.lwwMerge): lexicographic
    // max over (writetime, tieBreak…) — pass the same tieBreak columns in
    // both places or exact-writetime ties resolve arbitrarily
    val ord = struct((col(writetimeCol) +: tieBreak.map(col)): _*)
    stream
      .withWatermark(tsCol, lateness)
      .groupBy(pk.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*), ord).as("_v"))
      .select(pk.map(col) ++ valueCols.map(c => col(s"_v.$c")): _*)
  }

  /** T3 with bounded state: [[lwwStream]]'s groupBy-agg keeps state for
    * every key ever seen — unbounded over a 100 TB key space. This variant
    * holds (writetime, payload) per PK in explicit `GroupState` with a
    * processing-time timeout: keys idle longer than `stateTtlMs` are
    * evicted (safe because any late row for an evicted key re-creates
    * state, and LWW re-resolves on the idempotent sink).
    *
    * Input is typed (pk, writetime, payload); emits the current winner per
    * key on every update. `stateTtlMs = None` disables eviction (NoTimeout)
    * — use it in tests: with ProcessingTimeTimeout the engine runs empty
    * micro-batches continuously to fire timers, which never converges under
    * `processAllAvailable()`.
    */
  def lwwStreamBounded(
      stream: org.apache.spark.sql.Dataset[(String, Long, String)],
      stateTtlMs: Option[Long]): org.apache.spark.sql.Dataset[(String, Long, String)] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import stream.sparkSession.implicits._
    val timeoutConf = stateTtlMs match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout
      case None => GroupStateTimeout.NoTimeout
    }
    stream.groupByKey(_._1)
      .mapGroupsWithState[(Long, String), (String, Long, String)](timeoutConf)(
        lwwUpdate(stateTtlMs))
  }

  /** The per-key state transition of [[lwwStreamBounded]], factored out so
    * the TTL contract is testable deterministically via `TestGroupState`
    * (driving real ProcessingTimeTimeout timers needs wall-clock idle time
    * and continuous empty micro-batches — see the scaladoc above). On
    * timeout: emit the winner one final time and REMOVE the state (the
    * bounded-growth half). Otherwise: LWW-merge the incoming rows into
    * state and re-arm the TTL (the idle clock resets on every update).
    */
  private[graft] def lwwUpdate(stateTtlMs: Option[Long])(
      pk: String, rows: Iterator[(String, Long, String)],
      state: org.apache.spark.sql.streaming.GroupState[(Long, String)]): (String, Long, String) =
    if (state.hasTimedOut) {
      val (wt, v) = state.get
      state.remove()
      (pk, wt, v)
    } else {
      val ord = Ordering.Tuple2[Long, String]
      val incoming = rows.map(r => (r._2, r._3)).max(ord)
      val winner = state.getOption match {
        case Some(cur) if ord.gteq(cur, incoming) => cur
        case _ => incoming
      }
      state.update(winner)
      stateTtlMs.foreach(state.setTimeoutDuration)
      (pk, winner._1, winner._2)
    }

  /** T5 periodic validation: run a count-gate (A1) every trigger interval —
    * the 60s continuous-validation loop
    * (lab/exercises/06-validation-monitoring.md:412-451).
    */
  def periodicValidation(spark: SparkSession, originPath: String, targetPath: String,
                         checkpoint: String, interval: String)
                        (report: (Long, Long) => Unit): StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (_: DataFrame, _: Long) =>
        val o = graft.Tables.parquet(spark, originPath).count()
        val t = graft.Tables.parquet(spark, targetPath).count()
        report(o, t)
      }
      .start()

  /** T6 workload-simulation source (simulate_app_traffic.py:139-208): the
    * rate source mapped to a deterministic read/write op mix.
    */
  def workloadSim(spark: SparkSession, rowsPerSecond: Int, readRatio: Double): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()
      .select(col("timestamp").as("ts"), col("value").as("op_id"),
        when(pmod(col("value"), lit(100)) < lit((readRatio * 100).toInt), "read")
          .otherwise("write").as("op_type"))

  /** T7 metrics listener: rows/sec + batch durations per query, the
    * Prometheus-counter analog (docs/05-zdm-approach.md:544-566).
    */
  final class MetricsListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    @volatile var batches: Long = 0L
    @volatile var rows: Long = 0L
    @volatile var lastRowsPerSecond: Double = 0.0
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      batches += 1
      rows += e.progress.numInputRows
      lastRowsPerSecond = e.progress.processedRowsPerSecond
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
}
