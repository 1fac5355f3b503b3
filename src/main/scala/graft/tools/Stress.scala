package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.validate.Diff

/** Measurement protocol for STRESS rows (r10 verdict item 7): NOTES.md
  * records a 4× same-day swing on a >60 s row under host load, so a
  * single sample of a heavy row is weather, not measurement. Rows whose
  * FIRST sample exceeds [[MedianThresholdSecs]] re-run to 3 samples and
  * report the MEDIAN, with every sample recorded in the artifact; cheap
  * rows stay single-sample (their cross-round deltas are already ruled
  * non-actionable below ~0.3 s — NOTES.md round-8 adjudication).
  */
object StressProtocol {
  val MedianThresholdSecs = 30.0
  def samplesNeeded(firstSecs: Double): Int =
    if (firstSecs > MedianThresholdSecs) 3 else 1
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    xs.sorted.apply(xs.size / 2)
  }
  /** The artifact cell: median plus every sample when re-runs happened. */
  def cell(xs: Seq[Double]): String =
    if (xs.size == 1) f"${xs.head}%.1f"
    else f"${median(xs)}%.1f (med of ${xs.size}: ${xs.map(x => f"$x%.1f").mkString(" / ")})"
}

/** Scale-headroom probe: generates an orders-shaped table ~110× sf0.1
  * (10M rows, ~2 GB raw) inside the build dir, then drives the flagship
  * pipelines and reports rows/sec. Writes STRESS.md. Dev tool — run with
  *   sbt "runMain graft.tools.Stress [nRows]"
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 10000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def newSession(): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        // one long-lived JVM runs dozens of shuffle-heavy jobs back to
        // back; unreferenced shuffle files are only reclaimed when their
        // dependencies GC, so force the cleaner's GC often enough that the
        // session's blockmgr dir can't accrete tens of GB and ENOSPC a
        // late row (it did — r11 first run died in the trained-IVF pair)
        .config("spark.cleaner.periodicGC.interval", "2min")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    var spark: SparkSession = newSession()
    // Section boundary: SparkContext.stop() deletes the context's
    // spark-local dirs SYNCHRONOUSLY — the only deterministic
    // shuffle-disk reclaim. GC + the ContextCleaner reap a row's files
    // only when its shuffle dependencies happen to be collected, and the
    // r11 second run proved that isn't a bound: even with a forced GC
    // after every sample the accumulated residue of 25 heavy rows
    // ENOSPC'd the ~60 GB usable headroom right after the trained-IVF
    // pair. Sections pass data exclusively through $base parquet files
    // (and plain JVM doubles/strings), so bouncing the session between
    // them resets shuffle disk to zero at a ~5 s session-startup cost.
    // NOTE: session-bound values (LocalRelation centroid/codebook
    // tables) must be created and consumed within ONE section.
    def bounce(): Unit = { spark.stop(); spark = newSession() }
    val base = "/root/repo/target/stress"
    val src = s"$base/orders_big.parquet"

    // deterministic orders-shaped table, pure function of the id
    spark.range(n).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id")), lit(n / 10)).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")), (col("id") % 3 + 1).cast("int")).as("o_orderstatus"),
      round(pmod(xxhash64(col("id") + 7), lit(10000000L)) / 100.0, 2).as("o_totalprice"),
      timestamp_micros(lit(788918400000000L) + col("id") % 200000000000L).as("o_orderdate"),
      concat(lit("P"), (col("id") % 5).cast("string")).as("o_orderpriority"))
      .write.mode("overwrite").parquet(src)

    def orders: DataFrame = spark.read.parquet(src)
    val report = new StringBuilder
    report ++= s"# STRESS — relational core at ${n / 1000000}M rows (local[$cpus])\n\n"
    report ++= s"Protocol: rows whose first sample exceeds ${StressProtocol.MedianThresholdSecs.toInt} s " +
      "re-run to 3 samples and report the median with all samples shown " +
      "(single heavy samples are host weather — NOTES.md round-8/round-10 " +
      "adjudications); sub-threshold rows are single-sample.\n\n"
    report ++= "| pipeline | seconds | rows/sec |\n|---|---|---|\n"
    def bench(name: String, rows: Long)(f: => Unit): Double = {
      def once(): Double = {
        val t0 = System.nanoTime(); f; val secs = (System.nanoTime() - t0) / 1e9
        // reap shuffle files BETWEEN samples, outside the timed span: a
        // heavy row's median-of-3 writes ~3× its shuffle volume, and the
        // ContextCleaner only deletes a sample's files once its shuffle
        // dependencies GC — with a 96g heap that lags far behind the
        // 2-minute periodicGC and the r11 100M run ENOSPC'd on the box's
        // ~60 GB usable headroom (ext4 reserves the rest for another uid)
        System.gc(); Thread.sleep(2000)
        secs
      }
      // median-of-3 for heavy rows (StressProtocol — r10 verdict item 7):
      // a single >30 s sample is host weather; all samples land in the
      // artifact so the spread is auditable
      val first = once()
      val samples = first +:
        Seq.fill(StressProtocol.samplesNeeded(first) - 1)(once())
      val secs = StressProtocol.median(samples)
      report ++= f"| $name | ${StressProtocol.cell(samples)} | ${(rows / secs).toLong}%,d |\n"
      println(f"$name%-28s $secs%8.1fs ${(rows / secs).toLong}%,d rows/s" +
        (if (samples.size > 1) s"  [${StressProtocol.cell(samples)}]" else ""))
      secs
    }

    val migSecs = bench("migrate scan→transform→write", n) {
      graft.migrate.MigrateJob.transformOnly(orders,
          graft.migrate.MigrateJob.Config(pkCols = Seq("o_orderkey"),
            columnsToExclude = Seq("o_orderpriority")))
        .write.mode("overwrite").parquet(s"$base/migrated.parquet")
    }
    bench("diff_full_outer (SMJ on PK)", 2 * n) {
      val tw = orders.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      // AssumeUnique: o_orderkey is spark.range-generated (unique by
      // construction) — keeps this row a pure SMJ measurement; the gate's
      // own cost/behavior is spec-covered (DiffSpec dup-PK cases)
      Diff.report(orders, tw, Seq("o_orderkey"),
        Seq("o_custkey", "o_totalprice"), onDup = Diff.AssumeUnique).collect()
    }
    bench("diff_missing skewed PK (1% hot key)", n) {
      // replayed hot key: 1% of origin shares one PK — the shape the
      // reference flags as the migration bottleneck (>100 MB partitions,
      // docs/04-cdm-approach.md:455-456). AQE's skew split handles it
      // (SkewSpec proves the plan); this row proves the throughput holds.
      val skewed = orders.withColumn("o_orderkey",
        when(col("o_orderkey") % 100 === 0, lit(0L)).otherwise(col("o_orderkey")))
      Diff.missing(skewed, orders.limit(1000000).select(col("o_orderkey")),
        Seq("o_orderkey")).agg(count(lit(1))).collect()
    }
    bench("lww_merge (max_by hash agg)", 2 * n) {
      val o = orders.withColumn("writetime", col("o_orderkey") % 1000).withColumn("src", lit(0))
      val t = orders.withColumn("writetime", col("o_orderkey") % 997).withColumn("src", lit(1))
      // sum a merged VALUE column so pruning can't delete the max_by
      // evaluation under a bare group count
      Diff.lwwMerge(o.unionByName(t), Seq("o_orderkey"), "writetime", Seq("src"))
        .agg(count(lit(1)), sum(col("writetime"))).collect()
    }
    bench("window running total per key", n) {
      // aggregate OVER the window output — a bare count(1) lets column
      // pruning delete the window projection entirely and the row
      // measures a naked count (r9's 99M rows/s figure was that artifact)
      graft.window.TimeSeries.runningTotal(orders, Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")), col("o_totalprice"), "rt")
        .agg(count(lit(1)), sum(col("rt"))).collect()
    }
    bench("hash agg group-by status", n) {
      orders.groupBy("o_orderstatus")
        .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)"))).collect()
    }

    bounce() // orders section done — drop its diff/window shuffle residue

    // ---- LLM-ops at scale: synthetic corpus + embeddings ----
    // documents: ~30 pseudo-words each; ids %10==0 duplicate the text of
    // id-1 (so dedup has ~10% real work); all deterministic from the id.
    val nDocs = math.max(100000L, n / 10)
    val docsSrc = s"$base/docs_big.parquet"
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      expr("""concat_ws(' ', transform(sequence(0, 29),
               j -> substr(md5(cast((if(id % 10 = 0, id - 1, id)) * 31 + j as string)), 1, 8)))""")
        .as("text"))
      .write.mode("overwrite").parquet(docsSrc)
    def docs: DataFrame = spark.read.parquet(docsSrc)

    bench(s"exact dedup (hash groupBy) ${nDocs / 1000000}M docs", nDocs) {
      docs.groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")))
        .filter(col("cnt") > 1).agg(count(lit(1))).collect()
    }
    bench(s"minhash LSH candidates ${nDocs / 1000000}M docs", nDocs) {
      val pairs = graft.ext.LlmOps.minhashCandidates(docs, "doc_id")
      try pairs.agg(count(lit(1))).collect() finally pairs.unpersist()
    }
    bench(s"winnow fingerprints ${nDocs / 1000000}M docs", nDocs) {
      graft.ext.LlmOps.withWinnowFingerprints(docs)
        .select(sum(size(col("fps")))).collect()
    }
    bench(s"simhash64 hamming<=2 pairs ${nDocs / 1000000}M docs", nDocs) {
      // 20-bit blocks over the 64-lane simhash: expected equal-block
      // bucket size nDocs/2^20 (~10 at 10M docs) — the non-quadratic
      // scale path VERDICT r4 flagged the 11-bit/32-bit form for.
      // Mirrors the registry query shape exactly (r7): 60-bit mask before
      // blocking, grouped pair generation, no cached state.
      val sh = graft.ext.LlmOps.withSimhash64(graft.ext.LlmOps.withWords(docs))
        .select(col("doc_id"), col("simhash64"))
      val blocked = sh.select(col("doc_id"), col("simhash64"),
        explode(expr(
          """transform(sequence(0, 2), b -> concat(cast(b as string), ':',
               cast(((simhash64 & 1152921504606846975L) div shiftleft(1L, b * 20)) % shiftleft(1L, 20) as string)))"""))
          .as("blk"))
      graft.ext.LlmOps.hammingPairsByBlock(blocked, "simhash64", radius = 2)
        .agg(count(lit(1))).collect()
    }

    bounce() // enter the gram-table-sized section with a clean disk

    // ExactSubstr is the ONE operator whose shuffle is gram-table-sized:
    // ~20 B per corpus char, and on near-unique 20-gram hashes map-side
    // combine barely collapses the count stream (unlike LM trigrams).
    // r11 cost model (skew-safe two-level count + semi-join — see
    // duplicatedSpans): worst case (dup-heavy corpora like this fixture,
    // where AQE can't broadcast the duplicated-gram set) shuffles the
    // (h, count) partials AND the gram probe ≈ 1.8× the gram table; the
    // NATURAL regime (dup grams ≪ corpus) broadcasts the dup set and
    // shuffles only the partials ≈ 0.8×. In exchange, no task ever
    // buffers a hot gram's position list (the r10 window form's
    // unsplittable-task hazard — adversarial row below). At 100 TB the
    // operator still needs tens-of-× corpus bytes of shuffle capacity
    // (the public suffix-array tooling carries a comparable ~9× working
    // multiple); the staged-to-disk form bounds the PEAK to ~1/passes.
    def subDocs(m: Long) = docs.filter(col("doc_id") < m)
    val sub1 = bench(s"ExactSubstr spans k=20 1M docs", 1000000L) {
      graft.ext.LlmOps.duplicatedSpans(subDocs(1000000L), "doc_id")
        .agg(count(lit(1)), sum(col("span_len"))).collect()
    }
    val sub2 = bench(s"ExactSubstr spans k=20 2M docs (2×)", 2000000L) {
      graft.ext.LlmOps.duplicatedSpans(subDocs(2000000L), "doc_id")
        .agg(count(lit(1)), sum(col("span_len"))).collect()
    }
    // adversarial hot-gram corpus (r10 verdict item 2's Done criterion):
    // EVERY doc opens with the same 64-char boilerplate block, so each of
    // its ~45 constituent 20-grams occurs nDocs times — the shape that
    // stranded the r10 count-over-window form on one task per hot gram
    // (2M-row single-task window partitions here; 10⁸+ at corpus scale).
    // The two-level count collapses each hot gram map-side and the probe
    // streams through the semi-join, so the row must complete at
    // near-uniform-corpus throughput.
    val advSubSrc = s"$base/docs_hotgram.parquet"
    spark.range(2000000L).select(
      col("id").as("doc_id"),
      concat(
        lit("LICENSED UNDER THE GRAFT PUBLIC BOILERPLATE HEADER v1.0 DO NOT EDIT "),
        expr("""concat_ws(' ', transform(sequence(0, 25),
                 j -> substr(md5(cast(id * 31 + j as string)), 1, 8)))"""))
        .as("text"))
      .write.mode("overwrite").parquet(advSubSrc)
    bench(s"ExactSubstr spans HOT-GRAM corpus 2M docs (every doc shares a 64-char block)",
        2000000L) {
      graft.ext.LlmOps.duplicatedSpans(
          spark.read.parquet(advSubSrc), "doc_id")
        .agg(count(lit(1)), sum(col("span_len"))).collect()
    }
    // the 10M-doc design-scale row (r10 verdict item 8): the single-job
    // form's total shuffle exceeds this box's free disk, so it runs the
    // staged-TO-DISK form — each pass is its own action whose shuffle
    // files are reclaimed before the next pass shuffles; peak disk ≈ one
    // slice. passes=8 bounds the live slice to ~1/8 of the gram table.
    bench(s"ExactSubstr spans k=20 ${nDocs / 1000000}M docs staged-to-disk x8", nDocs) {
      graft.ext.LlmOps.duplicatedSpansStagedToDisk(docs, "doc_id",
          s"$base/substr_passes", passes = 8)
        .agg(count(lit(1)), sum(col("span_len"))).collect()
    }

    bounce() // ExactSubstr leaves ~gram-table shuffle residue — reclaim it

    // ---- image perceptual-hash dedup: dHash over 64-px grids, 21-bit
    // pigeonhole blocks — the hash is a narrow codegen'd map, pairing
    // GROUPS on the block key (no join anywhere). ids %10==0 reuse id-1's
    // grid, so ~10% of the corpus is a planted exact-dup image.
    val nImg = math.max(1000000L, n / 10)
    val imgSrc = s"$base/img_big.parquet"
    spark.range(nImg).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63),
               j -> cast(pmod(hash((if(id % 10 = 0, id - 1, id)) * 64 + j), 1000) as float) / 1000.0f)""")
        .as("embedding"))
      .write.mode("overwrite").parquet(imgSrc)
    bench(s"image dHash near-dups ${nImg / 1000000}M grids", nImg) {
      graft.ext.LlmOps.imagePhashNearDups(
          spark.read.parquet(imgSrc), "vec_id")
        .agg(count(lit(1))).collect()
    }

    // sequence packing at corpus scale: the r8 two-level plan (bounded
    // per-(lang, shard) windows + tiny base-offset aggregate) vs the
    // single per-lang window it replaced (VERDICT r7 risk #1: lang
    // cardinality is 5 here, so the old form sorts ~nDocs/5 rows per TASK
    // regardless of cores — already visible at 10M docs, catastrophic at
    // 100 TB). Identical output, spec- and property-pinned.
    val langedDocs = docs.withColumn("lang",
      element_at(array(lit("en"), lit("fr"), lit("de"), lit("ja"), lit("zh")),
        (col("doc_id") % 5 + 1).cast("int")))
    bench(s"pack_sequences two-level ${nDocs / 1000000}M docs", nDocs) {
      graft.ext.LlmOps.packSequences(langedDocs)
        .agg(sum(col("start_off")), max(col("bin"))).collect()
    }
    bench(s"pack_sequences single-window (old form) ${nDocs / 1000000}M docs", nDocs) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      langedDocs.withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
        .withColumn("bin", expr("start_off div 64"))
        .agg(sum(col("start_off")), max(col("bin"))).collect()
    }

    // decontamination: 1% of the corpus plays the benchmark (ids %100==0;
    // their %10==1 neighbors share text with id-1 docs, so real overlap
    // exists). Compares the broadcast-bench form against the bloom
    // prefilter form on identical inputs — the bloom pays a build pass
    // over the small side to keep the big side join-free of any
    // corpus-wide broadcast build.
    bench(s"decontaminate broadcast-bench ${nDocs / 1000000}M docs", nDocs) {
      graft.ext.LlmOps.decontaminate(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0), "doc_id", 0.5)
        .agg(count(lit(1))).collect()
    }
    bench(s"decontaminate bloom-prefilter ${nDocs / 1000000}M docs", nDocs) {
      graft.ext.LlmOps.decontaminateBloom(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0), "doc_id", 0.5)
        .agg(count(lit(1))).collect()
    }

    bounce() // text-family section done

    // embeddings: 64-dim, 1000 IVF buckets → cells of ~nVec/1000 bound the
    // pairwise term of the kNN join
    val nVec = math.max(50000L, n / 100)
    val vecSrc = s"$base/emb_big.parquet"
    spark.range(nVec).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63),
               j -> cast(pmod(hash(id * 64 + j), 1000) as float) / 1000.0f)""")
        .as("embedding"),
      (col("id") % 1000).cast("int").as("label"))
      .write.mode("overwrite").parquet(vecSrc)
    def emb: DataFrame = spark.read.parquet(vecSrc)

    bench(s"kNN join k=3 ${nVec / 1000}k vectors (1000 buckets)", nVec) {
      graft.ext.LlmOps.knnJoin(emb, 3).agg(count(lit(1))).collect()
    }
    bench(s"brute-force top-10 query ${nVec / 1000}k vectors", nVec) {
      graft.ext.LlmOps.cosineTopK(emb.filter(col("vec_id") =!= 0),
        emb.filter(col("vec_id") === 0), 10).collect()
    }
    // the quantized-scan pair: the codes table materializes ONCE per
    // corpus (tinyint arrays — parquet keeps them near 1 B/dim), then
    // every query scans 4× fewer bytes than brute force and rescores 40
    // rows in float. Build cost amortizes across the query stream.
    val codesSrc = s"$base/emb_codes.parquet"
    bench(s"int8 codes build+materialize ${nVec / 1000}k vectors (once per corpus)", nVec) {
      graft.ext.LlmOps.quantizeCodes(emb.filter(col("vec_id") =!= 0))
        .write.mode("overwrite").parquet(codesSrc)
    }
    bench(s"int8-quantized top-10 over materialized codes ${nVec / 1000}k vectors", nVec) {
      graft.ext.LlmOps.quantizedSearchCodes(spark.read.parquet(codesSrc),
        emb, emb.filter(col("vec_id") === 0), 10).collect()
    }

    // ---- the capped pairwise-cell demonstration (r9, clears the r8 weak
    // marks): 100 data-labels put nV/100 vectors in each cell — the regime
    // where label-only pairing is quadratic (10⁴ per-cell pairs per vector
    // at 1M vectors ⇒ 10¹⁰ dots, not runnable). With maxCell the cells
    // LSH-sub-bucket, so pairwise work is ≤ nVec×maxCell — LINEAR in the
    // corpus at fixed maxCell. 10× the vectors must cost ~10×, not 100×.
    val nV1 = math.min(1000000L, math.max(100000L, n / 10))
    def writeSkewEmb(nv: Long, path: String): Unit =
      spark.range(nv).select(
        col("id").as("vec_id"),
        expr("""transform(sequence(0, 63),
                 j -> cast(pmod(hash(id * 64 + j), 1000) as float) / 1000.0f)""")
          .as("embedding"),
        (col("id") % 100).cast("int").as("label"))
        .write.mode("overwrite").parquet(path)
    writeSkewEmb(nV1, s"$base/emb_skew1.parquet")
    writeSkewEmb(10 * nV1, s"$base/emb_skew10.parquet")
    val knn1 = bench(s"kNN join k=3 maxCell=128 ${nV1 / 1000}k vectors / 100 cells", nV1) {
      graft.ext.LlmOps.knnJoin(
          spark.read.parquet(s"$base/emb_skew1.parquet"), 3, maxCell = 128)
        .agg(count(lit(1))).collect()
    }
    val knn10 = bench(s"kNN join k=3 maxCell=128 ${10 * nV1 / 1000}k vectors / 100 cells (10×)",
        10 * nV1) {
      graft.ext.LlmOps.knnJoin(
          spark.read.parquet(s"$base/emb_skew10.parquet"), 3, maxCell = 128)
        .agg(count(lit(1))).collect()
    }
    // narrative notes are buffered and appended AFTER the table — an
    // inline append here would split the markdown table in two
    val notes = new StringBuilder
    notes ++= f"""
      |Capped kNN growth at 10× the vectors: ${knn10 / knn1}%.1f× wall-clock
      |(quadratic label-only pairing would be ~100×, and its 1× row — 10⁴-row
      |cells uncapped — is already ~10¹⁰ dots, not runnable at all).
      |
      |ExactSubstr growth at 2× the docs: ${sub2 / sub1}%.1f× wall-clock —
      |the shuffle is gram-table-sized (~20 B/char; near-unique 20-gram
      |hashes barely combine map-side), so the single-job capacity
      |requirement is up to ~2× gram-table bytes of shuffle disk (the
      |public suffix-array tooling carries a comparable ~9× working-set
      |multiple). The ${nDocs / 1000000}M-doc row therefore runs staged-TO-DISK (per-pass
      |actions, shuffle reclaimed between passes — peak ≈ 1/passes), and
      |the HOT-GRAM row proves the r11 two-level duplicate test holds
      |throughput when every document shares a boilerplate block — the
      |corpus shape that stranded the r10 count-over-window form on one
      |unsplittable task per hot gram.
      |""".stripMargin

    bounce() // kNN-join section done

    // ---- trained IVF (r9 fourth pass): spherical k-means over the
    // unlabeled embedding corpus — each Lloyd iteration is one corpus scan
    // vs a c-row broadcast table, so train+search cost must stay a small
    // multiple of the brute-force single-query row above.
    bench(s"kmeans IVF train+search c=16 ${nVec / 1000}k vectors", nVec) {
      graft.ext.LlmOps.ivfSearchKmeans(emb.filter(col("vec_id") =!= 0),
        emb.filter(col("vec_id") === 0), c = 16, iters = 2,
        nprobe = 2, k = 10).collect()
    }

    // trained-IVF growth at corpus scale: 1M → 10M vectors at FIXED c
    // (c is held constant so the pair isolates per-vector cost — each
    // Lloyd iteration is one corpus scan vs a c-row broadcast, so 10× the
    // vectors must cost ~10×, not more). Auto-c (√N) is the production
    // default; the fixed-c pair is the linearity instrument.
    // capped at 10M: the pair isolates per-vector cost and the 10× growth
    // factor IS the measurement — beyond 10M the c=100 assignment term
    // (3 corpus×c dot scans) only multiplies wall-clock without adding
    // information, and at n=100M an uncapped pair would train over 100M
    // vectors (~hours of pure assignment flops)
    val nVecXl = math.min(10000000L, math.max(1000000L, n))
    def writeVecs(nv: Long, path: String): Unit =
      spark.range(nv).select(
        col("id").as("vec_id"),
        expr("""transform(sequence(0, 63),
                 j -> cast(pmod(hash(id * 64 + j), 1000) as float) / 1000.0f)""")
          .as("embedding"),
        (col("id") % 1000).cast("int").as("label"))
        .write.mode("overwrite").parquet(path)
    writeVecs(nVecXl / 10, s"$base/emb_xl1.parquet")
    writeVecs(nVecXl, s"$base/emb_xl10.parquet")
    val ivf1 = bench(s"kmeans IVF train+search c=100 ${nVecXl / 10 / 1000000}M vectors",
        nVecXl / 10) {
      val e = spark.read.parquet(s"$base/emb_xl1.parquet")
      graft.ext.LlmOps.ivfSearchKmeans(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), c = 100, iters = 2,
        nprobe = 4, k = 10).collect()
    }
    val ivf10 = bench(s"kmeans IVF train+search c=100 ${nVecXl / 1000000}M vectors (10×)",
        nVecXl) {
      val e = spark.read.parquet(s"$base/emb_xl10.parquet")
      graft.ext.LlmOps.ivfSearchKmeans(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), c = 100, iters = 2,
        nprobe = 4, k = 10).collect()
    }

    bounce() // the c=100/10M train+search medians are the run's biggest
             // shuffle writers (~3 corpus-sized aggregates × 3 samples) —
             // the r11b ENOSPC landed immediately after them

    // ---- two-level assignment at auto-c (r10 verdict item 4): at the √N
    // rule's c = √10M ≈ 3162 the FLAT assignment pays 3162 dots/vector —
    // the N·√N wall; the hierarchical form pays ~2√c ≈ 113. Centroids
    // train on a c×16 id-prefix sample (standard IVF practice) so the
    // pair isolates ASSIGNMENT cost; NOTES.md's two-level assignment table
    // holds the parity figures (assignment agreement + cosine loss on
    // disagreements).
    val cAuto = graft.ext.LlmOps.kmeansAutoC(nVecXl)
    val hierCents = graft.ext.LlmOps.kmeansCentroids(
      spark.read.parquet(s"$base/emb_xl10.parquet")
        .filter(col("vec_id") < cAuto.toLong * 16), cAuto, iters = 2)
    // flat baseline on a 1/100 slice only, for TIME: flat pays c dots per
    // vector (the N·√c flop wall the two-level form exists to cut), so the
    // full corpus at c=3162 is ~100× this row's work — the slice carries
    // the per-vector rate and ×100 projects the full flat cost. Disk is no
    // longer the binding constraint here: the r11/r12 ENOSPC runs died in
    // this row back when argmaxCell's max(struct) carried the embedding
    // array — an array-bearing agg buffer falls back to SORT-based
    // aggregation, spilling the whole (vector × centroid) pair stream
    // (~126 GB at a 1/10 slice) — but the narrow fixed-width argmax
    // introduced after r12's ENOSPC hash-aggregates with map-side combine
    // and materializes no pair stream at all.
    val flatAssign = bench(
        s"IVF flat assignment c=$cAuto ${nVecXl / 100 / 1000}k vectors (1/100 slice)",
        nVecXl / 100) {
      graft.ext.LlmOps.kmeansAssignTo(
          spark.read.parquet(s"$base/emb_xl10.parquet")
            .filter(col("vec_id") % 100 === 0), hierCents)
        .agg(count(lit(1)), avg(col("ccos"))).collect()
    }
    val hierAssign = bench(
        s"IVF two-level assignment c=$cAuto ${nVecXl / 1000000}M vectors", nVecXl) {
      graft.ext.LlmOps.kmeansAssignToHier(
          spark.read.parquet(s"$base/emb_xl10.parquet"), hierCents)
        .agg(count(lit(1)), avg(col("ccos"))).collect()
    }
    notes ++= f"""
      |Two-level assignment at auto-c (c=$cAuto): the full ${nVecXl / 1000000}M-vector
      |corpus assigns hierarchically in ${hierAssign}%.1f s, vs ~${100 * flatAssign}%.0f s
      |projected for flat (measured ${flatAssign}%.1f s on a 1/100 slice — flat pays
      |c dots/vector, the N·√N flop wall; two-level probing 4 groups pays ~5√c).
      |Both paths run the narrow fixed-width argmax (hash aggregate,
      |map-side combine, embedding rejoined by vec_id) — the r12 fix after
      |the array-bearing max(struct) form sort-spilled the vector×centroid
      |pair stream to ENOSPC on this row.
      |NOTES.md's two-level assignment table quantifies the hierarchical
      |residual miss (clustered: parity 1.0 probing 4 groups; uniform noise: cell
      |identity is tie-arbitrary, cosine loss ~0.01).
      |""".stripMargin

    bounce() // assignment section done (hierCents is section-local)

    // quantized-vs-brute at 10M vectors: the scan-bandwidth regime where
    // the 4×-narrower codes column pays (at 1M both fit cache and the
    // rows above mostly measure fixed overhead)
    def embXl: DataFrame = spark.read.parquet(s"$base/emb_xl10.parquet")
    val bruteXl = bench(s"brute-force top-10 query ${nVecXl / 1000000}M vectors", nVecXl) {
      graft.ext.LlmOps.cosineTopK(embXl.filter(col("vec_id") =!= 0),
        embXl.filter(col("vec_id") === 0), 10).collect()
    }
    val codesXlSrc = s"$base/emb_codes_xl.parquet"
    bench(s"int8 codes build+materialize ${nVecXl / 1000000}M vectors (once per corpus)",
        nVecXl) {
      graft.ext.LlmOps.quantizeCodes(embXl.filter(col("vec_id") =!= 0))
        .write.mode("overwrite").parquet(codesXlSrc)
    }
    val quantXl = bench(
        s"int8-quantized top-10 over materialized codes ${nVecXl / 1000000}M vectors",
        nVecXl) {
      graft.ext.LlmOps.quantizedSearchCodes(spark.read.parquet(codesXlSrc),
        embXl, embXl.filter(col("vec_id") === 0), 10).collect()
    }
    // ---- PQ ADC at corpus scale (r11): codebooks train on a bounded
    // id-prefix sample (standard PQ practice — the codebook is a fixed
    // m·ks table, not a corpus statistic), the codes materialize ONCE at
    // m ints/vector, and every query scans the codes through the
    // codegen'd graft_pq_adc LUT kernel — the 32×-narrower cousin of the
    // int8 row above (8 coded subspaces vs 64 int8 lanes).
    val pqM = 8; val pqKs = 16
    val pqCbs = graft.ext.LlmOps.pqTrainCodebooks(
      embXl.filter(col("vec_id") =!= 0 && col("vec_id") < 100000),
      m = pqM, ks = pqKs, iters = 2)
    val pqCodesSrc = s"$base/emb_pq_codes.parquet"
    bench(s"pq codes build+materialize m=$pqM ks=$pqKs ${nVecXl / 1000000}M vectors (once per corpus)",
        nVecXl) {
      graft.ext.LlmOps.pqEncode(embXl.filter(col("vec_id") =!= 0), pqCbs, pqM)
        .write.mode("overwrite").parquet(pqCodesSrc)
    }
    val pqXl = bench(
        s"pq ADC top-10 over materialized codes ${nVecXl / 1000000}M vectors", nVecXl) {
      graft.ext.LlmOps.pqSearchCodes(spark.read.parquet(pqCodesSrc), embXl,
        pqCbs, embXl.filter(col("vec_id") === 0), 10, m = pqM, ks = pqKs)
        .collect()
    }
    // ---- IVFADC serving (r11): the coarse quantizer prunes the ADC scan
    // to nprobe/c of the codes, and the cid-PARTITIONED layout turns that
    // into physical file pruning — per-query bytes = (nprobe/c)·m ints per
    // vector, the double pruning a 10^12-vector corpus needs. The coarse
    // quantizer trains on the same bounded id-prefix sample as the
    // codebooks (standard IVF practice; assignment cost is what scales).
    val ivfpqC = 100; val ivfpqNprobe = 4
    val ivfpqCents = graft.ext.LlmOps.kmeansCentroids(
      embXl.filter(col("vec_id") =!= 0 && col("vec_id") < 100000),
      ivfpqC, iters = 2)
    val ivfpqSrc = s"$base/emb_ivfpq_codes.parquet"
    bench(s"ivfpq index build c=$ivfpqC m=$pqM cid-partitioned ${nVecXl / 1000000}M vectors (once per corpus)",
        nVecXl) {
      graft.ext.LlmOps.pqEncodeIvf(embXl.filter(col("vec_id") =!= 0),
          ivfpqCents, pqCbs, pqM)
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(ivfpqSrc)
    }
    val ivfpqXl = bench(
        s"ivfpq ADC top-10 nprobe=$ivfpqNprobe/$ivfpqC partition-pruned ${nVecXl / 1000000}M vectors",
        nVecXl) {
      graft.ext.LlmOps.pqSearchIvfCodes(spark.read.parquet(ivfpqSrc), embXl,
        ivfpqCents, pqCbs, embXl.filter(col("vec_id") === 0), 10,
        nprobe = ivfpqNprobe,
        m = pqM, ks = pqKs).collect()
    }

    notes ++= f"""
      |Quantized search at ${nVecXl / 1000000}M vectors: ${bruteXl / quantXl}%.1f× faster than the
      |float brute-force scan per query (codes parquet ${"%,d".format(
        java.nio.file.Files.walk(java.nio.file.Paths.get(codesXlSrc))
          .filter(p => p.toString.endsWith(".parquet")).mapToLong(p =>
            java.nio.file.Files.size(p)).sum() >> 20)} MB vs float ${"%,d".format(
        java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/emb_xl10.parquet"))
          .filter(p => p.toString.endsWith(".parquet")).mapToLong(p =>
            java.nio.file.Files.size(p)).sum() >> 20)} MB on disk); the build
      |row amortizes across the query stream.
      |PQ ADC at the same ${nVecXl / 1000000}M vectors: ${bruteXl / pqXl}%.1f× vs the float scan and
      |${quantXl / pqXl}%.1f× vs the int8 scan per query (pq codes parquet ${"%,d".format(
        java.nio.file.Files.walk(java.nio.file.Paths.get(pqCodesSrc))
          .filter(p => p.toString.endsWith(".parquet")).mapToLong(p =>
            java.nio.file.Files.size(p)).sum() >> 20)} MB at m=$pqM ints/vector);
      |ADC is approximate where int8 is near-exact — the overfetch dial and
      |the measured recall curve live in PqSpec, and the exact-recovery
      |regime (tight clusters) is spec-pinned.
      |IVFADC serving at the same corpus: ${pqXl / ivfpqXl}%.1f× vs the flat ADC scan per
      |query (nprobe=$ivfpqNprobe of $ivfpqC cells — the partition-pruned read touches
      |~${100 * ivfpqNprobe / ivfpqC}%% of the code files; build row amortizes once per corpus).
      |""".stripMargin

    bounce() // quantized/PQ/IVFADC section done (pqCbs/ivfpqCents local)

    // ---- LM quality scoring A/B: the two value-identical forms CROSS
    // OVER with scale (1M docs: two-explode 8.1 s vs cached 29.1 s; 10M
    // docs across two same-host runs: 237.7 vs 95.9 loaded, 62.1 vs 70.4
    // quiet — the cached form is the low-variance side under memory
    // pressure). lmScore auto-selects at LmCacheCrossoverDocs; both
    // sides stay measured.
    bench(s"LM trigram quality score two-explode ${nDocs / 1000000}M docs", nDocs) {
      graft.ext.LlmOps.lmScoreBy(docs, Seq("doc_id"), None, 4096, cached = false)
        .agg(sum(col("n_grams")), avg(col("avg_logp"))).collect()
    }
    bench(s"LM trigram quality score cached-gram ${nDocs / 1000000}M docs", nDocs) {
      val sc = graft.ext.LlmOps.lmScoreBy(docs, Seq("doc_id"), None, 4096, cached = true)
      sc.agg(sum(col("n_grams")), avg(col("avg_logp"))).collect()
      sc.unpersist()
    }

    // ---- modality-native dedup at corpus scale: the %10==0 ids duplicate
    // id-1's text, so ~10% of "tracks"/"clips" have an exact twin — audio
    // pairs at hamming 0 through the pigeonhole, video at Jaccard 1
    // through the postings index. Both are the plan-pinned join-free
    // shapes; cost must stay a narrow-scan multiple, not pairwise.
    bench(s"audio fingerprint dedup ${nDocs / 1000000}M tracks", nDocs) {
      graft.ext.LlmOps.audioFingerprintNearDups(docs)
        .agg(count(lit(1))).collect()
    }
    bench(s"video frame-set dedup ${nDocs / 1000000}M clips", nDocs) {
      graft.ext.LlmOps.videoFrameNearDups(docs)
        .agg(count(lit(1))).collect()
    }

    bounce() // LM + modality rows done

    // ---- incremental dedup: the store build pays the corpus's text cost
    // ONCE; each batch probe pays batch + candidate cost only. The two
    // rows separate the amortized cost from the per-increment cost (the
    // %10==0 ids duplicate id-1's text, so every batch doc is a planted
    // near-dup of a corpus doc — worst-case candidate load).
    val incStore = s"$base/sigstore"
    val incCorpus = docs.filter(col("doc_id") % 10 =!= 0)
    val incBatch = docs.filter(col("doc_id") % 10 === 0)
    val storeSecs = bench(
        s"sigstore build ${nDocs / 1000000}M-doc corpus (once per corpus)", nDocs) {
      graft.ext.LlmOps.writeSignatureStore(incCorpus, "doc_id", incStore)
    }
    val probeSecs = bench(
        s"incremental probe ${nDocs / 10 / 1000000}M-doc batch vs store", nDocs / 10) {
      val out = graft.ext.LlmOps.incrementalDupes(incCorpus, incBatch,
        "doc_id", incStore, threshold = 0.5)
      out.agg(count(lit(1))).collect()
      out.unpersist()
    }
    notes ++= f"""
      |Trained-IVF growth at 10× the vectors (fixed c=100): ${ivf10 / ivf1}%.1f×
      |wall-clock — each Lloyd iteration is one corpus scan against a c-row
      |broadcast, so cost is linear in the corpus at fixed c. The production
      |default picks c = √N (kmeansAutoC), which grows probe cost as √N, not N.
      |""".stripMargin

    notes ++= f"""
      |The incremental-dedup fixture is worst-case: EVERY batch doc is a
      |planted near-dup, so the probe pays ~${nDocs / 10 / 1000000}M exact-Jaccard
      |verifications on top of the band join. Even so, probe
      |(${probeSecs}%.1f s/batch) replaces re-paying the store build
      |(${storeSecs}%.1f s of corpus text work) per batch; sparsely-duplicated
      |real batches also skip most of the verify.
      |""".stripMargin

    // ---- adversarial contamination: HALF the corpus verbatim-copies a
    // benchmark doc. The candidate set is then corpus-proportional —
    // exactly the regime the r8 candidate-broadcast gate exists for: the
    // default 64 MB budget must reject it and fall back to the shuffled
    // verify join. Both shapes run on identical inputs; the gate-engaged
    // row is the production path, the forced-broadcast row is the
    // comparison (and the OOM risk the gate removes — at larger corpora it
    // stops completing at all).
    val nAdv = nDocs
    val nBench = math.max(1000L, nAdv / 100)
    val advSrc = s"$base/docs_adv.parquet"
    // even ids copy benchmark doc (id % nBench); odd ids are unique text.
    // Benchmark texts derive from seeds 2e9+b — disjoint from the odd-id
    // seed space, so contamination is exactly the even half.
    def advText(seed: String) =
      s"""concat_ws(' ', transform(sequence(0, 29),
          j -> substr(md5(cast(($seed) * 37 + j as string)), 1, 8)))"""
    spark.range(nAdv).select(
      col("id").as("doc_id"),
      expr(advText(s"if(id % 2 = 0, 2000000000 + id % $nBench, id)")).as("text"))
      .write.mode("overwrite").parquet(advSrc)
    def advCorpus: DataFrame = spark.read.parquet(advSrc)
    def advBench: DataFrame = spark.range(nBench).select(
      (col("id") + 3000000000L).as("doc_id"),
      expr(advText("2000000000 + id")).as("text"))

    bench(s"decontam minhash 50% contaminated GATED ${nAdv / 1000000}M docs", nAdv) {
      graft.ext.LlmOps.decontaminateMinhash(advCorpus, advBench, "doc_id", 0.5)
        .agg(count(lit(1))).collect()
    }
    // the comparison row may legitimately DIE (multi-GB broadcast build —
    // the failure mode the gate exists to remove); record that as a result
    // instead of aborting the whole stress run
    try bench(s"decontam minhash 50% contaminated forced-broadcast ${nAdv / 1000000}M docs", nAdv) {
      graft.ext.LlmOps.decontaminateMinhash(advCorpus, advBench, "doc_id", 0.5,
          candBroadcastBudgetBytes = Long.MaxValue)
        .agg(count(lit(1))).collect()
    } catch {
      case e: Throwable =>
        report ++= s"| decontam minhash 50% contaminated forced-broadcast ${nAdv / 1000000}M docs | FAILED (${e.getClass.getSimpleName}) | — |\n"
        println(s"forced-broadcast comparison failed (expected at scale): $e")
    }
    // gate-engagement proof for the report: count the candidate pairs the
    // gated run saw and record the gate's verdict at the default budget.
    val nCand = graft.ext.LlmOps
      .bandedSignatures(graft.ext.LlmOps.shingleTable(advCorpus, "doc_id"), "doc_id")
      .join(graft.ext.LlmOps
        .bandedSignatures(graft.ext.LlmOps.shingleTable(advBench, "doc_id"), "doc_id")
        .withColumnRenamed("doc_id", "bench_id"), "band")
      .select(col("doc_id"), col("bench_id")).distinct().count()
    val gateVerdict =
      if (nCand <= (64L << 20) / graft.ext.LlmOps.BytesPerBroadcastCandidate)
        "ADMITS them (gate did NOT engage — investigate)"
      else "REJECTS them: the shuffle-join fallback engaged"
    report ++= notes
    report ++= s"""
      |Adversarial decontamination: ${f"$nCand%,d"} candidate pairs from the
      |50%-contaminated corpus → the 64 MB default budget $gateVerdict
      |and completed (table row above). The clean-corpus regime (1% benchmark
      |rows, earlier decontaminate rows) stays on the broadcast path.
      |""".stripMargin

    report ++= s"""
      |Context: ${n / 1000000}M rows ≈ ${n / 600000}× the sf0.1 bench tables. The
      |reference's published single-pipeline figures are 50,000 rows/s read /
      |45,000 rows/s write on a production-tuned cluster
      |(docs/04-cdm-approach.md:540-541); the migrate-shaped pipeline above
      |runs ~${math.round(n / migSecs / 50000.0)}× that on one node reading/writing parquet. Every pipeline is
      |the same physical shape it would have on a 1000-executor cluster —
      |narrow migrate, single PK exchange for diff/LWW, hash partials for
      |aggregates — so throughput scales with executors, bounded by the
      |shuffle for the diff family and by the sink for migrate.
      |
      |The skewed-PK diff row (1% of rows on one hot key — the >100 MB
      |partition shape the reference calls the bottleneck) runs within ~2×
      |of the balanced diff's per-row cost: AQE splits the hot partition at
      |runtime (SkewSpec pins the skew=true plan).
      |
      |LLM ops: the dedup/fingerprint pipelines are narrow per-row maps plus
      |one shuffle on the band hash; kNN join shuffles once on (label, sub)
      |and its pairwise term is bounded by maxCell LSH sub-bucketing
      |(≤ nVec×maxCell dots total — the capped rows above measure the
      |resulting ~linear growth), which is the knob that keeps it feasible
      |at corpus scale; degenerate buckets are capped-and-counted into the
      |capped_cells output column.
      |The simhash64 hamming row is the 20-bit-block pigeonhole search over
      |10M docs — linear-shaped runtime (equal-block buckets ~N/2^20), the
      |scale form of the radius-2 near-dup search.
      |The per-row stages run as native codegen'd expressions
      |(graft_word_ngrams / graft_minhash / graft_band_hash /
      |graft_gram_hash / graft_sliding_min) — replacing the interpreted HOF
      |formulations cut minhash candidate generation ~2.2× and winnowing
      |~6.5× at 1M docs; band keys are int64 md5-prefixes, so the LSH
      |self-join shuffles 8-byte keys instead of hex strings.
      |""".stripMargin
    // carry over EVERYTHING below the generated-content end marker (the
    // ANN-recall section, hand notes, anything added later) so a stress
    // re-run never erases a hand-maintained section. Files written before
    // the marker existed fall back to the ANN-recall heading.
    val endMarker = "<!-- graft:stress generated content ends here -->"
    val path = java.nio.file.Paths.get("/root/repo/STRESS.md")
    val tail =
      if (java.nio.file.Files.exists(path)) {
        val old = java.nio.file.Files.readString(path)
        val m = old.indexOf(endMarker)
        val i = if (m >= 0) m + endMarker.length else old.indexOf("## ANN recall")
        if (i >= 0) "\n" + old.substring(i).dropWhile(_ == '\n') else ""
      } else ""
    java.nio.file.Files.writeString(path,
      report.toString + "\n" + endMarker + "\n" + tail)
    println("wrote STRESS.md")
    spark.stop()
  }
}
