package graft.migrate

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.sources.GreaterThanOrEqual
import graft.SparkSpec
import graft.sources.{GraftBatchSink, GraftRangeScan, GraftRangeSource}

/** The connector-shaped migrate END-TO-END (r14 VERDICT item 1): the two
  * DSv2 seams composed through one MigrateJob.run. Pins the two facts the
  * registry oracle cannot see:
  *
  *   1. PUSHDOWN SURVIVES THE FULL CHAIN — captured from the EXECUTED
  *      plan of the actual write job (not a reconstruction): the same
  *      physical plan that appends into the V2 sink carries the range
  *      scan with the writetime floor absorbed, the read schema pruned
  *      to [id, tok, wt], and the below-floor input slices eliminated.
  *   2. ABORT MID-MIGRATE LEAVES THE LEDGER RESUMABLE — a blown sink
  *      error budget fails the run, every attempted bucket ledgers
  *      `failed`, unattempted buckets stay unledgered, and a clean
  *      re-run re-drives exactly the pending set to completion.
  */
class ConnectorMigrateSpec extends SparkSpec {

  private val WtFloorId = 60000L
  private def cfg(transformer: Boolean = true) = MigrateJob.Config(
    pkCols = Seq("id"), tokenBuckets = 8,
    minWritetime = Some(GraftRangeSource.wtOf(WtFloorId)),
    writetimeCol = Some("wt"), writetimeIncrementBy = 1000L,
    columnsToExclude = Seq("payload"),
    transformerClass = Some(classOf[TargetKeyTransformer].getName))

  private def freshDir(name: String): String = {
    val d = s"target/tmp/connector_migrate_spec/$name"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(d), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(d), true)
    d
  }

  /** Every [[GraftRangeScan]] in `p`, descending through the AQE
    * wrappers — AdaptiveSparkPlanExec AND the QueryStageExec nodes
    * (Result/ShuffleQueryStage), which are LEAVES whose real subtree
    * hangs off `.plan`, invisible to a plain `collect`.
    */
  private def rangeScans(p: SparkPlan): Seq[GraftRangeScan] =
    p.collect { case b: BatchScanExec => b.scan }
      .collect { case s: GraftRangeScan => s } ++
      p.collect {
        case a: AdaptiveSparkPlanExec => rangeScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          rangeScans(q.plan)
      }.flatten

  test("pushdown survives the full chain: the write job's own executed " +
       "plan carries the scan with the writetime floor absorbed, the " +
       "payload column pruned, and below-floor slices eliminated") {
    val captured = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.synchronized { captured += qe }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val base = freshDir("pushdown")
      val sink = GraftBatchTarget(base, pkCol = "pk", batchSize = 5,
        runPrefix = "cms_push", sumCol = "wt",
        sumOffset = GraftRangeSource.WriteTimeBase)
      val r = MigrateJob.run(spark, GraftRangeOrigin(100000, 8), sink, cfg())
      assert(r.migrated == 40000L && r.skippedOversize == 0L)
      // the listener bus is async — wait (bounded) for the write job's
      // execution to arrive
      val deadline = System.currentTimeMillis() + 30000
      def writeQe: Option[QueryExecution] = captured.synchronized {
        captured.find { qe =>
          val s = qe.executedPlan.toString
          s.contains("AppendData") && rangeScans(qe.executedPlan).nonEmpty
        }
      }
      while (writeQe.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val qe = writeQe.getOrElse(fail("no captured execution contains " +
        "both the V2 append and the range scan"))
      val scan = rangeScans(qe.executedPlan).head
      assert(scan.pushed.exists {
        case GreaterThanOrEqual("wt", v: Long) =>
          v == GraftRangeSource.wtOf(WtFloorId)
        case _ => false
      }, s"writetime floor not pushed: ${scan.pushed.mkString(", ")}")
      assert(scan.required.fieldNames.toSet == Set("id", "tok", "wt"),
        s"payload must be pruned from the read schema, got " +
          scan.required.fieldNames.mkString(","))
      // 8 slices of 12500 over 100k rows; ids < 60000 fill the first 4
      // slices entirely -> only slices 4..7 may plan
      assert(scan.planInputPartitions().length == 4,
        "below-floor input slices must be eliminated at planning time")
    } finally spark.listenerManager.unregister(listener)
  }

  test("a blown job-global sink budget aborts the migrate mid-run; the " +
       "ledger records the attempted wave as failed and a clean re-run " +
       "resumes exactly the pending buckets to completion") {
    val base = freshDir("abort_resume")
    // pks 6000..9999; the 42 pks divisible by 97 fail all 10 of their
    // rows (420 errors) against a budget of 5 — tasks breach locally
    // and/or the watcher cancels cross-task; either way the wave fails
    val failing = GraftBatchTarget(base, pkCol = "pk", batchSize = 5,
      errorLimit = 5L, failEveryN = 97L, runPrefix = "cms_fail",
      sumCol = "wt", sumOffset = GraftRangeSource.WriteTimeBase)
    // two waves of 4 buckets: the failure hits wave 1, so buckets 4..7
    // must never run (no ledger rows at all — strictly pending)
    val twoWaves = cfg().copy(bucketsPerScan = 4)
    val e = intercept[Exception] {
      MigrateJob.run(spark, GraftRangeOrigin(100000, 8), failing, twoWaves)
    }
    assert(String.valueOf(e.getMessage).contains("error budget exceeded"),
      s"unexpected failure: $e")
    val status = MigrateJob.bucketStatus(failing.ledgerPath)
    assert(status == (0 to 3).map(_ -> "failed").toMap,
      s"wave 1 must ledger failed, wave 2 must stay unledgered: $status")
    assert(GraftBatchSink.runResult("cms_fail_w0").exists(_.aborted),
      "the V2 sink must record the aborted wave write")
    // resume: same ledger, failures cleared — re-drives buckets 0..7
    val clean = failing.copy(failEveryN = 0L, errorLimit = 100L,
      runPrefix = "cms_resume")
    val r2 = MigrateJob.run(spark, GraftRangeOrigin(100000, 8), clean,
      twoWaves)
    assert(r2.migrated == 40000L, s"resume must migrate everything: $r2")
    assert(r2.buckets.sorted == (0 to 7),
      "resume must re-drive the failed AND the never-run buckets")
    val lt = MigrateJob.ledgerTotals(clean.ledgerPath)
    assert(lt.bucketsDone == 8 && lt.rows == 40000L && lt.skipped == 0L)
    // and the re-driven waves committed through the sink with the exact
    // content checksum (sum of (wt + increment - base) over survivors)
    val runs = clean.waveResults(Seq(0 to 3, 4 to 7))
    assert(runs.size == 2 && runs.forall(w => w.committed && !w.aborted))
    val expectSum = (WtFloorId until 100000L).map(_ + 1000L).sum
    assert(runs.flatMap(_.tasks).map(_.colSum).sum == expectSum)
  }

  test("budget watchers NEST: after the inner watcher returns the outer " +
       "tag is kept and the inner one gone, an outer breach still cancels " +
       "a running job, and the caller's job group is never touched " +
       "(guardrail wave watcher around a sink write watcher)") {
    val sc = spark.sparkContext
    val accOuter = sc.longAccumulator("nest_outer")
    val accInner = sc.longAccumulator("nest_inner")
    def tags(): Seq[String] = sc.getJobTags().toSeq.sorted
    def callerGroup(): Unit = {
      assert(sc.getLocalProperty("spark.jobGroup.id") == "nest-caller")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    }
    sc.setJobGroup("nest-caller", "caller")
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        MigrateJob.withBudgetWatcher(spark, accOuter, 100L, "nest-outer") {
          val Seq(outer) = tags()
          assert(outer.startsWith("nest-outer-"))
          MigrateJob.withBudgetWatcher(spark, accInner, 100L, "nest-inner") {
            assert(tags().size == 2 && tags().exists(_.startsWith("nest-inner-")) &&
              tags().contains(outer), s"both watchers' tags must be set: ${tags()}")
            callerGroup()
          }
          assert(tags() == Seq(outer),
            "the inner watcher must remove its own tag and only that")
          callerGroup()
          accOuter.add(101L)
          sc.parallelize(1 to 4, 4).map { i => Thread.sleep(10000); i }.count()
        }
      }
      val elapsedS = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage.contains("error budget exceeded mid-wave"))
      assert(elapsedS < 8.0,
        f"the outer watcher must cancel the 10 s job promptly, took $elapsedS%.1f s")
      assert(tags().isEmpty)
      callerGroup()
    } finally sc.clearJobGroup()
  }

  test("a second run over a DONE ledger is a no-op resume: zero buckets " +
       "re-driven, totals still report the full migrated state") {
    val base = freshDir("noop_resume")
    val sink = GraftBatchTarget(base, pkCol = "pk", batchSize = 5,
      runPrefix = "cms_noop")
    val r1 = MigrateJob.run(spark, GraftRangeOrigin(100000, 8), sink, cfg())
    assert(r1.migrated == 40000L && r1.buckets.size == 8)
    val r2 = MigrateJob.run(spark, GraftRangeOrigin(100000, 8), sink, cfg())
    assert(r2.migrated == 0L && r2.buckets.isEmpty,
      "all buckets are done — nothing may re-drive")
    val lt = MigrateJob.ledgerTotals(sink.ledgerPath)
    assert(lt.bucketsDone == 8 && lt.rows == 40000L)
  }
}
