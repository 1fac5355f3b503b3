package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import scala.util.Try
import graft.SparkSpec
import graft.ext.LlmOps
import graft.migrate.{GraftBatchTarget, GraftRangeOrigin, MigrateJob}

/** [[Scope.concurrently]] and the operators that overlap or watch their
  * Spark actions: every job they submit is attributed to the caller's job
  * group, and a failing branch cancels its siblings' jobs.
  */
class ScopeSpec extends SparkSpec {
  import spark.implicits._

  /** Create `ExecutionContext.global`'s threads from a thread with no job
    * group, so a job run on one of them is never in the caller's group.
    */
  private def warmGlobalPool(): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val warm = new Thread(() => {
      spark.sparkContext.clearJobGroup()
      val n = Runtime.getRuntime.availableProcessors
      val all = new CountDownLatch(n)
      val fs = (1 to n).map(_ => Future {
        all.countDown(); all.await(10, TimeUnit.SECONDS)
      }(ExecutionContext.global))
      fs.foreach(Await.result(_, 30.seconds))
    })
    warm.start()
    warm.join()
  }

  /** (jobs `body` submits under the caller's job group, jobs it submits
    * in all).
    */
  private def groupAndAllJobs(tag: String)(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val all = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = all.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val inGroup = countJobs(tag)(body)
      (inGroup, settled(all.get))
    } finally sc.removeSparkListener(listener)
  }

  test("every job an overlapping or watched operator submits runs in the " +
       "caller's job group (multimodalClusters, embeddingPcaApplyReport, " +
       "a budget-watched connector migrate)") {
    warmGlobalPool()
    val prose = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(1L -> prose, 2L -> prose,
      3L -> "entirely different words about spark catalyst tungsten codegen")
      .toDF("doc_id", "text")
    val grid = Array.tabulate(64)(i => (i * 37 % 101).toFloat)
    val imgs = Seq((2L, grid), (3L, grid)).toDF("vec_id", "embedding")

    val emb = spark.range(0, 200).select(col("id").as("vec_id"),
      (col("id") % 5).as("label"),
      array((1 to 8).map(j => sin((col("id") + 1) * j).cast("float")): _*).as("embedding"))
    val corpus = emb.filter(col("vec_id") =!= 0)
    val fit = LlmOps.embeddingPcaFitK(corpus, k = 4)

    val base = s"target/tmp/scope_spec/${System.nanoTime()}"
    val sink = GraftBatchTarget(base, pkCol = "id", runPrefix = "scope_jobs")
    assert(sink.errorLimit < Long.MaxValue, "fixture: the write must be watched")

    val calls = Seq[(String, () => Unit)](
      "multimodalClusters" -> (() => LlmOps.multimodalClusters(docs, imgs).collect()),
      "embeddingPcaApplyReport" -> (() =>
        LlmOps.embeddingPcaApplyReport(corpus, emb.filter(col("vec_id") === 0), fit)
          .collect()),
      "MigrateJob.run" -> (() => MigrateJob.run(spark, GraftRangeOrigin(2000, 4), sink,
        MigrateJob.Config(pkCols = Seq("id"), tokenBuckets = 4))))
    val counts = calls.map { case (name, call) =>
      name -> groupAndAllJobs(s"scope-spec-$name")(call())
    }
    info(counts.map { case (name, (inGroup, all)) => s"$name $inGroup/$all" }.mkString(", "))
    assert(counts.forall(_._2._2 > 0), s"a call submitted no job: $counts")
    val hidden = counts.collect { case (name, (inGroup, all)) if inGroup != all =>
      s"$name: $inGroup of its $all jobs ran in the caller's job group"
    }
    assert(hidden.isEmpty, hidden.mkString("; "))
  }

  test("concurrently: a failing branch cancels its running sibling, whose " +
       "cache is released; the failure reported is the thrower's") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val cached = spark.range(0, 1000).toDF("x")
    val boom = new IllegalStateException("branch failed")
    val t0 = System.nanoTime()
    val out = Scope.concurrently(spark, Seq(
      () => LlmOps.released(cached) {
        cached.count()
        sc.parallelize(1 to 4, 4).map { i => Thread.sleep(30000); i }.count()
      },
      () => { Thread.sleep(1000); throw boom }))
    val elapsedS = (System.nanoTime() - t0) / 1e9
    info(f"concurrently returned after $elapsedS%.2f s")
    assert(elapsedS < 15.0, f"the sibling was not cancelled: took $elapsedS%.1f s")
    assert(out.forall(_.failed.toOption.contains(boom)),
      s"each branch must report the thrower's exception: $out")
    assert(Try(out.map(_.get)).failed.get eq boom)
    assert(boom.getSuppressed.exists(_.isInstanceOf[org.apache.spark.SparkException]),
      s"the sibling's own failure must be its job's cancellation: ${boom.getSuppressed.toSeq}")
    assert(settled(sc.statusTracker.getActiveJobIds().length) == 0,
      "a cancelled sibling job is still active")
    assert(settled(sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum) == 0,
      "the sibling's tasks were not interrupted")
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"the cancelled sibling left persisted RDDs: $leaked")
  }
}
