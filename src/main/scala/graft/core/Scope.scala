package graft.core

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.SparkSession
import scala.util.{Failure, Success, Try}

/** The library's one way to overlap Spark actions. */
object Scope {

  private val MaxThreads = 4
  private val calls = new AtomicLong()

  /** Run `branches` side by side on a per-call pool of at most 4 threads
    * created from the caller's, so each keeps the caller's job group,
    * description and tags, plus one call-unique tag; return every outcome,
    * in order, once all returned. On the first failure, that tag's jobs
    * are cancelled (tasks interrupted) until all branches return — a cancel
    * reaches only running jobs — and a sibling failing after it reports
    * the first failure, its own exception suppressed.
    */
  def concurrently[T](spark: SparkSession, branches: Seq[() => T]): Seq[Try[T]] = {
    val sc = spark.sparkContext
    val tag = s"graft-concurrently-${calls.incrementAndGet()}"
    val first = new AtomicReference[Throwable]()
    val left = new CountDownLatch(branches.size)
    val pool = Executors.newFixedThreadPool(math.min(branches.size, MaxThreads))
    try {
      val results = branches.map(b => pool.submit(new Callable[Try[T]] {
        def call(): Try[T] = {
          sc.addJobTag(tag)
          sc.setInterruptOnCancel(true)
          try Success(b())
          catch { case e: Throwable => first.compareAndSet(null, e); Failure(e) }
          finally left.countDown()
        }
      }))
      while (!left.await(20, TimeUnit.MILLISECONDS))
        if (first.get != null) sc.cancelJobsWithTag(tag)
      results.map(_.get match {
        case Failure(e) if e ne first.get => first.get.addSuppressed(e); Failure(first.get)
        case t => t
      })
    } finally pool.shutdown()
  }
}
