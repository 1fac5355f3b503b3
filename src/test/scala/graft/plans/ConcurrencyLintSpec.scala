package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** graft overlaps and cancels Spark actions one way: `graft.core.Scope`'s
  * `concurrently`, whose per-call pool threads inherit the caller's job
  * group, description and tags, and job tags for cancellation. A future on
  * a shared execution context runs on a thread that carries whatever Spark
  * local properties it was created with, and a job group set by library
  * code replaces the caller's: both hide jobs from the caller.
  */
class ConcurrencyLintSpec extends AnyFunSuite {

  private val banned = Seq(
    "ExecutionContext", "Future", "Await", "setJobGroup", "clearJobGroup")
    .map(w => w -> s"\\b$w\\b".r)
  private val poolConstruction =
    "Executors\\.|new (ForkJoinPool|ThreadPoolExecutor|ScheduledThreadPoolExecutor)\\b".r

  private def codeLines(): List[(Path, Int, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.exists(root), s"run from the repo root; missing $root")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i)
            if !line.trim.startsWith("//") && !line.trim.startsWith("*") =>
            (p, i + 1, line.trim)
        }
      }.toList
  }

  test("no execution context, future, await or job-group write in src/main") {
    val offenders = codeLines().collect {
      case (p, n, line) if banned.exists(_._2.findFirstIn(line).isDefined) =>
        s"$p:$n: $line"
    }
    assert(offenders.isEmpty,
      "overlap actions with Scope.concurrently and cancel by job tag:\n" +
        offenders.mkString("\n"))
  }

  test("the only thread pool in src/main is Scope.concurrently's") {
    val pools = codeLines().collect {
      case (p, n, line) if poolConstruction.findFirstIn(line).isDefined =>
        s"$p:$n: $line"
    }
    assert(pools.size == 1 && pools.head.startsWith("src/main/scala/graft/core/Scope.scala:"),
      s"expected exactly one pool construction, in Scope.scala:\n${pools.mkString("\n")}")
  }
}
