package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** graft's native functions are installed once, when the session is built
  * (`graft.GraftExtensions`, a `SparkSessionExtensionsProvider` listed under
  * META-INF/services). No library code re-registers them per call: a
  * per-call install takes a lock and checks every function each time, and
  * the provider makes it unnecessary. `GraftFunctions.ensure` stays public
  * for a session built before graft was on its classpath; only the
  * application calls it.
  */
class FunctionInstallLintSpec extends AnyFunSuite {

  private val banned = Seq("ensureFns", "GraftFunctions.ensure(")

  test("no per-call function install in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.exists(root), s"run from the repo root; missing $root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i)
            if banned.exists(line.contains)
              && !line.trim.startsWith("//") && !line.trim.startsWith("*") =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      "graft functions come with the session (GraftExtensions); delete the " +
        s"per-call install:\n${offenders.mkString("\n")}")
  }
}
