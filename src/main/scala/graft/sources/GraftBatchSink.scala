package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.LongAccumulator
import java.util.{Map => JMap}

/** Minimal DataSource V2 SINK proving the connector seam's WRITE
  * contracts — the write-side twin of [[GraftRangeSource]] (which proved
  * filters/columns/aggregates cross INTO a scan). Three production
  * behaviors of the reference's bulk loader and migrator cross a real V2
  * writer here instead of stopping at the parquet sink:
  *
  *   - PARTITION-KEY BATCHING (`docs/03-dse-tooling.md:138` —
  *     `--batch.mode PARTITION_KEY`; `cdm.properties:28` — `batchSize`):
  *     rows flush in batches that never mix partition keys and never
  *     exceed `batchSize` rows. The sink does NOT re-sort to get this: it
  *     declares [[RequiresDistributionAndOrdering]] (clustered + sorted
  *     by `pkCol`), and SPARK plans the exchange/sort that makes same-pk
  *     rows contiguous in one task — the idiomatic V2 split of "the
  *     connector states its layout contract, the engine satisfies it",
  *     and exactly how a distributed writer avoids a driver-side or
  *     writer-side regroup at 100 TB.
  *   - RATE LIMITING (`cdm.properties:30-31` — `ratelimit.target`): each
  *     writer task paces itself to `rateLimit` rows/second (token-bucket
  *     by elapsed time; 0 disables). Per-TASK, like the reference's
  *     per-executor limiter — total throughput = tasks × rate.
  *   - ERROR BUDGET (`cdm.properties:38` — `errorLimit`), JOB-GLOBAL like
  *     CDM's maxErrorCount (r14 VERDICT item 2 — a per-task budget would
  *     silently tolerate tasks × errorLimit at 1000 tasks). Failed rows
  *     are skipped and counted at three scopes:
  *       (1) task-local fast abort: a single task whose OWN count exceeds
  *           the job limit throws immediately (local ≤ global, so this is
  *           a definite breach — no driver round-trip needed);
  *       (2) commit-time global enforcement: [[BatchWrite.commit]] sums
  *           the error counts from every task's commit message and throws
  *           when the JOB total exceeds the limit — Spark then calls
  *           [[BatchWrite.abort]], which the run registry records;
  *       (3) mid-job cross-task abort (best-effort): every error also
  *           feeds a driver-registered [[LongAccumulator]] (exposed via
  *           [[GraftBatchSink.errorAccumulator]]); an orchestrator that
  *           owns the write action — [[graft.migrate.GraftBatchTarget]]
  *           does — polls it and cancels the write's tagged jobs once the
  *           cross-task total breaches, instead of letting the write run
  *           to completion first (accumulator updates reach the driver as
  *           tasks complete plus executor heartbeats).
  *     Failure injection for tests: `failEveryN` fails every row whose
  *     PARTITION-KEY VALUE is divisible by it — all rows of a divisible
  *     pk fail (e.g. pks 0, 10 at failEveryN=10), not every N-th row.
  *
  * Batch descriptors, written/error counts, the optional `sumCol`
  * checksum, and elapsed nanos travel in each task's
  * [[WriterCommitMessage]] — the V2-lifecycle-correct channel — and land
  * in the same-JVM run registry under the caller's `runId` option on
  * driver-side commit. The registry is how specs and the migrate
  * composition observe batching without a real external store; everything
  * else is the production shape. NOTE the per-batch descriptor list is
  * that OBSERVATION harness, sized rows/batchSize (gate-scale by
  * contract — ~12 MB at the sf1 registry run); a production deployment of
  * this seam would ship only the scalar counts in its commit messages,
  * exactly as the parquet path ships file-level stats.
  *
  * Options: `runId` (required), `pkCol` (default "pk", must be LongType),
  * `batchSize` (default 5 — the cdm.properties value), `rateLimit`
  * rows/s/task (default 0 = off), `errorLimit` (default 100 — ditto,
  * JOB-global), `failEveryN` (default 0 = no injected failures; keyed on
  * the pk value, see above), `sumCol` (optional LongType column: each
  * task accumulates Σ(value − `sumOffset`) over written rows — the
  * content checksum the migrate composition verifies end-to-end transform
  * survival with; offset keeps epoch-micro sums inside int64).
  */
class GraftBatchSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  // write-only source: there is nothing to infer a schema FROM — reads
  // are not supported and save() paths pass the frame's schema in
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "graft_batch_sink is write-only")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new GraftBatchTable(schema, properties)
}

object GraftBatchSink {
  /** One flushed batch: (partition key, rows in the batch). */
  final case class BatchRec(pk: Long, n: Int)

  final case class TaskSummary(partitionId: Int, batches: Seq[BatchRec],
                               written: Long, errors: Long,
                               colSum: Long, elapsedNanos: Long)
      extends WriterCommitMessage

  final case class RunResult(committed: Boolean, aborted: Boolean,
                             tasks: Seq[TaskSummary])

  /** Same-JVM run registry (driver-side commit/abort records — the test
    * observation channel, keyed by the `runId` option).
    */
  private val runs =
    new java.util.concurrent.ConcurrentHashMap[String, RunResult]()

  /** Per-runId error accumulators (scope 3 of the budget): created on the
    * driver at write-build time (or pre-registered by an orchestrator that
    * wants to poll DURING the job), fed by every writer task.
    */
  private val errorAccs =
    new java.util.concurrent.ConcurrentHashMap[String, LongAccumulator]()

  def runResult(runId: String): Option[RunResult] = Option(runs.get(runId))
  def clear(runId: String): Unit = { runs.remove(runId); errorAccs.remove(runId) }

  /** The job-wide error accumulator for `runId` — poll `.value` on the
    * driver while the write runs (mid-job budget watchers). Registered
    * lazily at write-build time; call this BEFORE the save() to start a
    * watcher against the same instance the tasks will feed.
    */
  def errorAccumulator(runId: String): LongAccumulator =
    errorAccs.computeIfAbsent(runId, _ =>
      org.apache.spark.sql.SparkSession.active.sparkContext
        .longAccumulator(s"graft_sink_errors_$runId"))

  private[sources] def recordCommit(runId: String,
                                    tasks: Seq[TaskSummary]): Unit =
    runs.put(runId, RunResult(committed = true, aborted = false, tasks))

  private[sources] def recordAbort(runId: String): Unit =
    runs.put(runId, RunResult(committed = false, aborted = true, Nil))
}

private[sources] class GraftBatchTable(schema: StructType,
                                       props: JMap[String, String])
    extends Table with SupportsWrite {
  override def name(): String = "graft_batch_sink"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val o = info.options()
    val pkCol = o.getOrDefault("pkCol", "pk")
    val idx = schema.fieldIndex(pkCol)
    require(schema.fields(idx).dataType == LongType,
      s"graft_batch_sink: pk column '$pkCol' must be LongType, got " +
        schema.fields(idx).dataType)
    val runId = o.get("runId")
    require(runId != null && runId.nonEmpty,
      "graft_batch_sink requires a runId option")
    val sumCol = o.getOrDefault("sumCol", "")
    val sumIdx =
      if (sumCol.isEmpty) -1
      else {
        val i = schema.fieldIndex(sumCol)
        require(schema.fields(i).dataType == LongType,
          s"graft_batch_sink: sumCol '$sumCol' must be LongType, got " +
            schema.fields(i).dataType)
        i
      }
    new WriteBuilder {
      override def build(): Write = new GraftBatchWrite(
        runId, pkCol, idx,
        o.getOrDefault("batchSize", "5").toInt,
        o.getOrDefault("rateLimit", "0").toLong,
        o.getOrDefault("errorLimit", "100").toLong,
        o.getOrDefault("failEveryN", "0").toLong,
        sumIdx, o.getOrDefault("sumOffset", "0").toLong)
    }
  }
}

private[sources] class GraftBatchWrite(runId: String, pkCol: String,
                                       pkIdx: Int, batchSize: Int,
                                       rateLimit: Long, errorLimit: Long,
                                       failEveryN: Long, sumIdx: Int,
                                       sumOffset: Long)
    extends Write with RequiresDistributionAndOrdering {

  // the layout contract: same pk never split across tasks, and contiguous
  // within a task — Spark plans the exchange + sort that satisfies it
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.identity(pkCol)))
  override def requiredOrdering(): Array[SortOrder] =
    Array(Expressions.sort(Expressions.column(pkCol),
      SortDirection.ASCENDING))

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      // driver-side: the accumulator is created (or the orchestrator's
      // pre-registered one reused) here and serialized into every task
      new GraftBatchWriterFactory(pkIdx, batchSize, rateLimit, errorLimit,
        failEveryN, sumIdx, sumOffset,
        GraftBatchSink.errorAccumulator(runId))

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val tasks = messages.toSeq.map(_.asInstanceOf[GraftBatchSink.TaskSummary])
      // JOB-GLOBAL budget enforcement (CDM maxErrorCount semantics): the
      // per-task counts each stayed under the limit or their task would
      // have aborted already — the JOB total still must not exceed it
      val totalErrors = tasks.map(_.errors).sum
      if (totalErrors > errorLimit)
        throw new java.io.IOException(
          s"graft_batch_sink: job-global error budget exceeded " +
            s"($totalErrors > $errorLimit across ${tasks.size} tasks)")
      GraftBatchSink.recordCommit(runId, tasks)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      GraftBatchSink.recordAbort(runId)
  }
}

private[sources] class GraftBatchWriterFactory(pkIdx: Int, batchSize: Int,
                                               rateLimit: Long,
                                               errorLimit: Long,
                                               failEveryN: Long,
                                               sumIdx: Int, sumOffset: Long,
                                               errorAcc: LongAccumulator)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftBatchWriter(partitionId, pkIdx, batchSize, rateLimit,
      errorLimit, failEveryN, sumIdx, sumOffset, errorAcc)
}

private[sources] class GraftBatchWriter(partitionId: Int, pkIdx: Int,
                                        batchSize: Int, rateLimit: Long,
                                        errorLimit: Long, failEveryN: Long,
                                        sumIdx: Int, sumOffset: Long,
                                        errorAcc: LongAccumulator)
    extends DataWriter[InternalRow] {
  import GraftBatchSink.{BatchRec, TaskSummary}

  private val batches = scala.collection.mutable.ArrayBuffer.empty[BatchRec]
  private var curPk = 0L
  private var curN = 0
  private var written = 0L
  private var errors = 0L
  private var colSum = 0L
  private val t0 = System.nanoTime()

  private def flush(): Unit = {
    if (curN > 0) { batches += BatchRec(curPk, curN); curN = 0 }
  }

  override def write(row: InternalRow): Unit = {
    val pk = row.getLong(pkIdx)
    // injected failure: every row of a pk DIVISIBLE by failEveryN fails
    // (keyed on the pk value — a divisible pk fails ALL its rows)
    if (failEveryN > 0 && pk % failEveryN == 0) {
      errors += 1
      errorAcc.add(1L) // feeds the job-global mid-job watcher (scope 3)
      // task-local fast abort (scope 1): this task ALONE blew the whole
      // job budget — definite breach, no cross-task view needed
      if (errors > errorLimit) throw new java.io.IOException(
        s"graft_batch_sink: error budget exceeded in one task " +
          s"($errors > $errorLimit)")
      return
    }
    if (curN > 0 && (pk != curPk || curN >= batchSize)) flush()
    curPk = pk
    curN += 1
    written += 1
    if (sumIdx >= 0) colSum += row.getLong(sumIdx) - sumOffset
    if (rateLimit > 0) {
      // token bucket by elapsed time: row `written` may not leave before
      // written/rateLimit seconds — the reference's maxPerSecond pacing
      val dueNanos = written * 1000000000L / rateLimit
      var wait = dueNanos - (System.nanoTime() - t0)
      while (wait > 0) {
        Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        wait = dueNanos - (System.nanoTime() - t0)
      }
    }
  }

  override def commit(): WriterCommitMessage = {
    flush()
    TaskSummary(partitionId, batches.toSeq, written, errors, colSum,
      System.nanoTime() - t0)
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}
