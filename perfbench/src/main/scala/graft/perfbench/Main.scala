package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Runs one workload for one seed and writes its measurements as JSON.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --tier <parquet dir> --work <dir> --out <result.json>
  *        [--oracle <counts.tsv>] [--cpus <n>] [--corrupt 1]
  *   Main --list-keys    # every read-only key of the five registry families
  *
  * Timeline: JVM start, session, reading the seeded inputs prep.py wrote
  * (timed on its own), then set-up: functions registered and every input
  * opened once. Set-up is repeated on fresh sessions and reported as the
  * median. Then a cold first round (plan analysis, codegen, JIT), timed
  * but outside the window, and the timed window: warm rounds while
  * `--seconds` leaves time for another, at least `MinWarmRounds`. After
  * every round the Spark-only reference job runs; the gated times are
  * ratios to its median.
  */
object Main {
  val SetupRepeats = 3
  val MinWarmRounds = 3

  def main(args: Array[String]): Unit = {
    if (args.contains("--list-keys")) {
      RegistrySql.allKeys.keys.toSeq.sorted.foreach(println)
      return
    }
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val tier = o("tier")
    val work = o("work")
    val cpus = o.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val corrupt = o.getOrElse("corrupt", "0") == "1"

    val workload: Workload = name match {
      case "migrate_validate" =>
        new MigrateValidate(tier, new RegistrySql(tier, RegistrySql.loadExpected(o("oracle"))))
      case "curate_llm" => new CurateLlm(tier)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def session(): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(workload.conf)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    var spark = session()
    Workload.delete(spark, s"$work/round")
    val prepT0 = System.nanoTime()
    val inputs = workload.prepare(spark, seed, s"$work/inputs")
    val prepS = (System.nanoTime() - prepT0) / 1e9

    // opening reads each input's footer for its schema; no Spark job runs
    def openInputs(s: SparkSession): Unit = {
      graft.functions.GraftFunctions.ensure(s)
      inputs.foreach(p => s.read.parquet(p).schema)
    }
    openInputs(spark)
    val coldSetup =
      ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 - prepS
    val setups = coldSetup +: (2 to SetupRepeats).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      openInputs(spark)
      (System.nanoTime() - t0) / 1e9
    }

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val runner = new Runner(spark, corrupt)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    val roundTimes = scala.collection.mutable.ArrayBuffer[Double]()
    val refTimes = scala.collection.mutable.ArrayBuffer[Double]()
    var liveHeap = 0L
    /** One round; returns its wall time, GC and clean-up included. */
    def runRound(): Double = {
      val r0 = System.nanoTime()
      val before = runner.calls.size
      val out = s"$work/round"
      workload.round(runner, out)
      Workload.delete(spark, out)
      roundTimes += runner.calls.drop(before).map(_.seconds).sum
      // live heap: what the round left reachable, after a full collection
      System.gc()
      liveHeap = math.max(liveHeap, heapPools.map(_.getUsage.getUsed).sum)
      // the first reference run absorbs the clean-up the round left behind
      refTimes ++= (0 to RefRuns).map(_ => reference(spark, cpus.toInt)).tail
      runner.round += 1
      (System.nanoTime() - r0) / 1e9
    }
    runRound()
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    liveHeap = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var lastWall = 0.0
    while (roundTimes.size < 1 + MinWarmRounds ||
           (elapsed + lastWall <= seconds && elapsed < HardCapSeconds)) {
      lastWall = runRound()
    }
    val windowS = elapsed
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

    val calls = runner.calls.toSeq
    val warm = calls.filter(_.round > 0)
    val roundS = median(roundTimes.tail.toSeq)
    val opS = median(workload.ops(warm).map(_.map(_.seconds).sum))
    val refS = median(refTimes.toSeq)
    val endToEnd = Seq(
      ("setup_s", median(setups), "s"),
      ("round_rel", roundS / refS, "ratio"),
      ("op_rel", opS / refS, "ratio"),
      ("heap_live_mb", liveHeap / (1024.0 * 1024.0), "MB"))
    // wall-clock figures, printed but not gated: see perfbench/README.md
    val wall = Seq(("round_s", roundS, "s"), ("op_p50_s", opS, "s"), ("ref_s", refS, "s"),
      ("first_round_s", roundTimes.head, "s"))
    val layer = tracer.map { t =>
      val m = t.layerMetrics(calls, Workload.layers, Workload.allFunctions)
      t.stop()
      m ++ ratios(m, calls)
    }.getOrElse(Nil)

    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    def metricJson(ms: Seq[(String, Double, String)]) = ms.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val failures = calls.count(!_.ok)
    val json =
      s"""{"workload": "$name", "seed": $seed, "traced": $traced,
         |"attempted": ${calls.size}, "failed": $failures,
         |"rounds": ${roundTimes.size}, "ops": ${workload.ops(warm).size},
         |"window_s": ${num(windowS)}, "prep_s": ${num(prepS)},
         |"setup_samples": [${setups.map(num).mkString(", ")}],
         |"round_samples": [${roundTimes.map(num).mkString(", ")}],
         |"ref_samples": [${refTimes.map(num).mkString(", ")}],
         |"end_to_end": ${metricJson(endToEnd)},
         |"wall": ${metricJson(wall)}, "heap_peak_mb": ${num(heapPeakMb)},
         |"per_layer": ${metricJson(layer)}}""".stripMargin.replace("\n", " ")
    Files.write(Paths.get(o("out")), (json + "\n").getBytes(UTF_8))
    writeSpans(s"$work/spans.jsonl", calls)
  }

  /** The reference job runs this many times after each round, after one
    * discarded run; the run's reference time is the median of all of them.
    */
  val RefRuns = 2

  /** The reference job: Spark alone, no graft code. One job of two stages,
    * a hash aggregate over a shuffle, through the noop sink. Returns its wall
    * time. The gated times are ratios to it, so that a host that is slower
    * for a while, which slows both alike, does not move them.
    */
  def reference(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1000000L, 1L, cpus)
      .selectExpr("id % 1000 AS k", "xxhash64(id) % 1000 AS h")
      .groupBy("k").sum("h")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Hard stop for the warm loop, far inside the 180-s run limit. */
  val HardCapSeconds = 120.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Ratios measured where the work happens, each over its stated base. */
  private def ratios(m: Seq[(String, Double, String)],
                     calls: Seq[Call]): Seq[(String, Double, String)] = {
    val v = m.map(x => x._1 -> x._2).toMap
    def div(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def rows(l: String) = calls.filter(_.layer == l).map(_.rows).sum.toDouble
    val migrateIn = calls.filter(_.layer == "migrate").map(_.inBytes).sum.toDouble
    Seq(
      ("migrate.write_amp", div(v("migrate.output_mb") * 1024 * 1024, migrateIn), "ratio"),
      ("migrate.rows_per_s", div(rows("migrate"), v("migrate.busy_s")), "rows/s"),
      ("validate.rows_per_s", div(rows("validate"), v("validate.busy_s")), "rows/s"),
      ("validate.shuffle_bytes_per_row",
        div(v("validate.shuffle_write_mb") * 1024 * 1024, rows("validate")), "B/row"),
      ("ext.jobs_per_call", div(v("ext.jobs"), v("ext.calls")), "ratio"),
      ("queries.jobs_per_call", div(v("queries.jobs"), v("queries.calls")), "ratio"))
  }

  /** One span per call, its round as the parent, written after the run. */
  private def writeSpans(path: String, calls: Seq[Call]): Unit = {
    val lines = calls.map(c =>
      s"""{"name": "${c.layer}.${c.fn}", "parent": "round-${c.round}", """ +
        s""""start_ms": ${c.startMs}, "end_ms": ${c.endMs}, "seconds": ${c.seconds}, """ +
        s""""ok": ${c.ok}, "leaked": ${c.leaked}}""")
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.asJava, UTF_8)
  }
}
