package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Vanilla session on purpose (no extensions conf, no legacy flags):
      // graft_* functions come with graft on the classpath (GraftExtensions)
      // and events read with an explicit schema, like any external driver.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up JVM/Hadoop/codegen paths so the first measured query doesn't
    // absorb session fixed costs (measured ~3s on the first parquet scan).
    Tables.names.foreach { n =>
      try spark.read.parquet(s"$sfDir/$n.parquet").limit(1).count()
      catch { case _: Throwable => () }
    }
    // median-of-3 per query: a single run carries ±15% scheduler/JIT noise
    // and the first attempt additionally pays plan compilation — the r4
    // artifact showed 2-7x phantom "regressions" on sub-second queries from
    // exactly this. The median absorbs both tails without hiding a real
    // slowdown the way min would. All side-effecting queries are idempotent
    // (overwrite sinks); in-session reuse across attempts is the same reuse
    // any repeated production run gets.
    // Materialize through the noop sink, NOT count(): a count lets Catalyst
    // prune every unused column, optimizing away the very expressions the
    // query exists to compute — noop evaluates all output columns with no
    // I/O, so the measured time is the query's real cost.
    // failures must be VISIBLE, not folded into the median as a near-zero
    // "fast" time: a failed attempt is excluded, and a query with no
    // successful attempt reports -1.0 (an impossible duration) + stderr
    // clamp to >= 1: zero/garbage would silently report every query failed
    val iterations = sys.env.get("SPARK_GRAFT_BENCH_ITERS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    // Discarded warmup attempt per key (r14, adjudicating the r12-r13
    // sim_search_pq variance): VarianceProbe (last present at commit
    // 511b9b3) measured its first sample at 7.6s decaying monotonically
    // to a 2.5s steady state with per-stage
    // splits summing to ~1.9s — the spread is PLAN-ANALYSIS + CODEGEN
    // warmup of the registry's deepest expression trees, not data-path
    // work, and whether the median-of-3 caught a cold sample was the
    // whole cross-round wobble. One discarded attempt makes the record
    // steady-state (what a production query template pays after its first
    // run); the raw samples stay in BENCH_LOCAL.json as evidence.
    val warmup = sys.env.get("SPARK_GRAFT_BENCH_WARMUP")
      .flatMap(_.toIntOption).filter(_ >= 0).getOrElse(1)
    // Host calibration constant: a SOLO median-of-5 of the flagship narrow
    // scan, measured before the main loop (stable position, no preceding
    // load). Cross-round totals divide by this to normalize host weather
    // mechanically — the BENCH protocol's same-host discipline as a number
    // instead of a prose argument. -1.0 when the probe fails.
    val calibration = {
      val times = (1 to 5).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries("scan_full")(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => None }
      }
      if (times.isEmpty) -1.0 else times.sorted.apply(times.length / 2)
    }
    System.err.println(f"[bench] calibration scan_full solo: $calibration%.4f s")
    val sampled = SparkEntry.queries.map { case (name, fn) =>
      (1 to warmup).foreach { _ =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // the timed loop reports failures
      }
      val times = (1 to iterations).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None
        }
      }
      // upper median on even success counts: when one of 3 attempts failed,
      // picking the LOWER of the surviving two would be exactly the
      // optimistic min-of-2 this estimator replaced — degrade conservative
      val median =
        if (times.isEmpty) -1.0
        else times.sorted.apply(times.length / 2)
      System.err.println(f"[bench] $name%-28s $median%.4f s (${times.length}/$iterations ok)")
      name -> (median, times)
    }
    val results = sampled.map { case (n, (m, _)) => n -> m }
    val samples = sampled.map { case (n, (_, ts)) => n -> ts }
    // ONE compact line on stdout, nothing else: the r4 artifact was lost to
    // output-tail truncation, so keep the line small (4-decimal times) and
    // make it the only stdout the driver has to find.
    // complete artifact the tail window can't truncate → file (committed);
    // carries the raw per-key SAMPLES alongside the medians (r13 VERDICT:
    // cross-round comparisons kept needing manual host-weather
    // adjudication — the spread is the evidence, so record it)
    val full = renderJsonFull(results, samples, sfDir, calibration)
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] local dump failed: $e") }
    // stdout artifact hard-capped under the driver's 2000-byte tail window
    println(renderJsonBudget(results, sfDir, calibration = calibration))
    Console.out.flush()
    spark.stop()
  }

  /** The driver-facing artifact line. Locale-pinned formatting: the f""
    * interpolator honors the default locale, and a comma decimal separator
    * would corrupt the JSON.
    *
    * Size budget: the driver keeps only the last ~2000 bytes of stdout, so
    * the whole line must fit there (r4/r5 lost their artifacts to head
    * truncation at 4-decimal precision + sbt's success line). Numbers are
    * rendered at millisecond precision with trailing zeros stripped
    * ("0.464", "0.12", "2"), worth ~150 bytes across 84 queries; build.sbt
    * suppresses the success line for the rest. [[main]] also writes the
    * full line to BENCH_LOCAL.json as a non-truncatable fallback.
    */
  private def num(v: Double): String = {
    // ms precision under 0.1s, cs above — matches the real measurement
    // noise floor and keeps the line inside the tail window
    val fmt = if (math.abs(v) < 0.0995) "%.3f" else "%.2f"
    val s = String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
  }

  // escape interpolated strings — a quote/backslash in the sf path must
  // not corrupt the one machine-parsed artifact line
  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** `calibration` = solo scan_full median (seconds) for mechanical
    * cross-round host normalization; emitted as `cal_scan_full`. -1.0
    * (probe failed / not run, e.g. spec-constructed lines) still emits —
    * the field is part of the pinned schema (BenchFormatSpec).
    */
  def renderJson(results: Map[String, Double], sfDir: String,
                 calibration: Double = -1.0): String = {
    val qs = results.map { case (k, v) => str(k) + ":" + num(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""cal_scan_full":${num(calibration)},"queries":$qs,"sf":${str(sfDir)}}"""
  }

  /** The FILE artifact line (BENCH_LOCAL.json): [[renderJson]]'s schema
    * plus `"samples"` — every successful attempt's raw seconds per key, in
    * run order. Medians absorb noise; the samples PROVE whether a
    * cross-round delta is host weather (wide spread / one fat outlier) or
    * real (tight spread at a new level) without a re-run. File-only: the
    * stdout line stays inside the driver's tail window.
    */
  def renderJsonFull(results: Map[String, Double],
                     samples: Map[String, Seq[Double]], sfDir: String,
                     calibration: Double = -1.0): String = {
    val base = renderJson(results, sfDir, calibration)
    val ss = samples.map { case (k, ts) =>
      str(k) + ":" + ts.map(num).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    base.stripSuffix("}") + s""","samples":$ss}"""
  }

  /** The stdout artifact, hard-capped at `budget` bytes. The driver keeps
    * only the LAST ~2000 bytes of stdout, and a longer line gets its HEAD
    * cut — unparseable (the r4 failure mode). At 95 registered queries the
    * full map alone is >2100 bytes, so past the cap the stdout line keeps
    * the slowest-first subset that fits and reports the spillover as
    * `"queries_omitted":K,"queries_file":"BENCH_LOCAL.json"` — the file
    * artifact (committed to the repo) always carries the complete map.
    * Name order inside the subset is slowest-first, so what the tail
    * window shows is exactly the timings that matter most.
    */
  def renderJsonBudget(results: Map[String, Double], sfDir: String,
                       budget: Int = 1900, calibration: Double = -1.0): String = {
    val full = renderJson(results, sfDir, calibration)
    if (full.length <= budget) return full
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val bySlowest = results.toSeq.sortBy { case (k, v) => (-v, k) }
    def line(entries: Seq[(String, Double)], omitted: Int): String = {
      val qs = entries.map { case (k, v) => str(k) + ":" + num(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
        s""""cal_scan_full":${num(calibration)},"queries":$qs,""" +
        s""""queries_omitted":$omitted,"queries_file":"BENCH_LOCAL.json","sf":${str(sfDir)}}"""
    }
    // binary-search the largest slowest-first prefix that fits: line length
    // is monotone in the kept count, and O(log n) renders beats re-rendering
    // the full line once per dropped entry
    var lo = 0
    var hi = bySlowest.length
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (line(bySlowest.take(mid), bySlowest.length - mid).length <= budget) lo = mid
      else hi = mid - 1
    }
    val best = line(bySlowest.take(lo), bySlowest.length - lo)
    if (best.length <= budget) best
    else
      // even keep=0 over budget (pathological sfDir path): the sf VALUE is
      // the unbounded culprit, but consumers key on the field — emit
      // "sf":null so the artifact schema stays fixed across paths (ADVICE
      // r8); every other field is a bounded number or fixed string, so
      // this floor line always fits the tail window
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
        s""""cal_scan_full":${num(calibration)},"queries":{},""" +
        s""""queries_omitted":${bySlowest.length},"queries_file":"BENCH_LOCAL.json","sf":null}"""
  }
}
