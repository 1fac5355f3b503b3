package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.SparkSpec

/** Product-quantization family (pqTrainCodebooks / pqEncode /
  * pqSearchCodes): behavior pins for the ADC scale path — the narrow
  * encoder must agree with the training assignment, the overfetch dial
  * must be monotone with an exact full-coverage limit, degenerate
  * (collapsed-code) training must stay servable, and the plans must keep
  * the codes/corpus sides un-exchanged.
  */
class PqSpec extends SparkSpec {

  private val K = 10

  private lazy val emb: DataFrame = {
    val e = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    e.persist(); e.count(); e
  }
  private def corpus = emb.filter(col("vec_id") =!= 0)
  private def query = emb.filter(col("vec_id") === 0)

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("pqEncode agrees with the training assignment on every (vec_id, sub)") {
    // the registry oracle proves this cross-engine; this pin proves it
    // in-repo: the join-free encoder walk and the max(struct) argmin are
    // the same function
    val cbs = LlmOps.pqTrainCodebooks(corpus, m = 4, ks = 4, iters = 2)
    val fromEncode = LlmOps.pqEncode(corpus, cbs, m = 4)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
    val fromAssign = LlmOps.pqAssignments(corpus, cbs, m = 4)
    assert(fromEncode.exceptAll(fromAssign).isEmpty &&
      fromAssign.exceptAll(fromEncode).isEmpty,
      "narrow encode must equal the training-assignment argmin")
  }

  test("overfetch dial: recall@10 rises monotonically; full overfetch is exact") {
    // near-random fixture => ADC candidates track coverage; at overfetch
    // spanning the whole corpus the rescore IS brute force
    val truth = LlmOps.cosineTopK(corpus, query, K)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    val cbs = LlmOps.pqTrainCodebooks(corpus, m = 4, ks = 4, iters = 2)
    val codes = LlmOps.pqEncode(corpus, cbs, m = 4)
    val recalls = Seq(4, 16, 50).map { of =>
      val got = LlmOps.pqSearchCodes(codes, corpus, cbs, query, K, m = 4,
        overfetch = of)
      val v = LlmOps.recallAtK(got, truth)
      info(f"pq overfetch=$of: recall@10 = $v%.2f")
      v
    }
    assert(recalls == recalls.sorted,
      s"recall must not fall as overfetch widens coverage: $recalls")
    assert(recalls.last == 1.0,
      s"overfetch=50 spans the 499-vector corpus — the rescore is brute force: $recalls")
  }

  test("clustered corpus: exact top-k recovery at the default overfetch") {
    // the regime a PQ index exists for — tight clusters far apart: every
    // subvector quantizes near-losslessly, so ADC ranking preserves the
    // true order and the default 4x overfetch recovers the exact top-k.
    // 16 clusters of 25 keep each cluster INSIDE the k·overfetch=40 pool
    // (a cluster is an approx-score tie set; a cluster wider than the
    // pool would tie-truncate by vec_id — coverage, not correctness)
    val n = 400L
    val cDf = spark.range(n).select(
      col("id").as("vec_id"),
      expr(
        """transform(sequence(0, 31), j ->
             cast(pmod(hash((id % 16) * 32 + j), 1000) as float) / 1000.0f
               + cast(pmod(hash(id * 32 + j + 7), 100) as float) / 50000.0f)""")
        .as("embedding"),
      (col("id") % 16).cast("int").as("label"))
    val cCorpus = cDf.filter(col("vec_id") =!= 0)
    val cQuery = cDf.filter(col("vec_id") === 0)
    val exact = LlmOps.cosineTopK(cCorpus, cQuery, K)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val pq = LlmOps.pqSearch(cCorpus, cQuery, K, m = 4, ks = 16, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(pq == exact, s"clustered corpus: pq $pq != exact $exact")
  }

  test("collapsed codes: identical seeds empty a code; encode and search still serve") {
    // seeds 0 and 1 are IDENTICAL vectors -> after the first assignment
    // every member ties to the smaller code and code 1 starves (the
    // empty-cell rule); the codebook row then carries code VALUES, so the
    // encoder must keep emitting valid surviving codes, never ordinals
    val df = spark.range(100).select(
      when(col("id") === 1, lit(0L)).otherwise(col("id")).as("seed_id"),
      col("id").as("vec_id"))
      .select(col("vec_id"),
        expr(
          """transform(sequence(0, 15), j ->
               cast(pmod(hash(seed_id * 16 + j), 1000) as float) / 1000.0f)""")
          .as("embedding"),
        lit(0).as("label"))
    val cbs = LlmOps.pqTrainCodebooks(df, m = 4, ks = 2, iters = 2)
    val live = cbs.select("sub", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    val emitted = LlmOps.pqEncode(df, cbs, m = 4)
      .select(posexplode(col("codes")).as(Seq("sub", "code")))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(emitted.subsetOf(live),
      s"encoder must emit surviving code values only: $emitted vs live $live")
    val got = LlmOps.pqSearch(df.filter(col("vec_id") =!= 0),
      df.filter(col("vec_id") === 0), 5, m = 4, ks = 2, iters = 2)
    assert(got.count() == 5, "search must serve over a collapsed codebook")
  }

  test("trailing remainder dims are ignored on both paths (dim % m != 0)") {
    // dim 10 at m 4 -> width 2, dims 9..10 unused: two vectors differing
    // only in the tail must encode identically
    val df = spark.range(40).select(
      col("id").as("vec_id"),
      expr(
        """transform(sequence(0, 9), j ->
             if(j >= 8 and id >= 20,
                cast(id as float),
                cast(pmod(hash((id % 20) * 10 + j), 1000) as float) / 1000.0f))""")
        .as("embedding"),
      lit(0).as("label"))
    val cbs = LlmOps.pqTrainCodebooks(df, m = 4, ks = 4, iters = 2)
    val codes = LlmOps.pqEncode(df, cbs, m = 4)
      .select(col("vec_id"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    for (i <- 0L until 20L)
      assert(codes(i) == codes(i + 20),
        s"tail-only difference must not change codes: vec $i ${codes(i)} vs ${codes(i + 20)}")
  }

  test("ivfpq at nprobe = c equals the unrestricted ADC scan") {
    // probing every coarse cell removes the IVF restriction — the IVFADC
    // composition must then reproduce the flat ADC search row for row
    val flat = LlmOps.pqSearch(corpus, query, K, m = 4, ks = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val ivf = LlmOps.pqSearchIvf(corpus, query, K, c = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(ivf == flat, s"nprobe=c must be the flat scan: $ivf vs $flat")
  }

  test("ivfpq serving plan: the materialized index is never exchanged") {
    // production shape: cents + codebooks trained once, (vec_id, cid,
    // codes) written once; per query the only work is the bounded probe
    // ranking, the pruned ADC scan, and the rescore — nothing data-sized
    // may shuffle
    val cents = LlmOps.kmeansCentroids(corpus, c = 4, iters = 2)
    val cbs = LlmOps.pqTrainCodebooks(corpus, m = 4, ks = 4, iters = 2)
    val store = "target/pqspec_ivf_codes.parquet"
    LlmOps.pqEncodeIvf(corpus, cents, cbs, m = 4)
      .write.mode("overwrite").parquet(store)
    val codesC = spark.read.parquet(store)
    val search = physical(
      LlmOps.pqSearchIvfCodes(codesC, corpus, cents, cbs, query, K))
    def scansOutsideBroadcast(n: SparkPlan): Boolean = n match {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => false
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => true
      case other => other.children.exists(scansOutsideBroadcast)
    }
    val offending = search.collect { case e: ShuffleExchangeExec => e }
      .filter(e => e.children.exists(scansOutsideBroadcast))
    assert(offending.isEmpty,
      s"neither the codes index nor the corpus may be exchanged:\n$search")
    assert(search.toString.contains("TakeOrderedAndProject"),
      s"the candidate/final stages must be TakeOrderedAndProject:\n$search")
  }

  test("ivfpq store serve is row-identical to the in-plan form") {
    // the cid-partitioned store path (collect nprobe cids -> partition-
    // pruned scan) and the broadcast-semi-join form must rank identically
    val cents = LlmOps.kmeansCentroids(corpus, c = 4, iters = 2)
    val cbs = LlmOps.pqTrainCodebooks(corpus, m = 4, ks = 4, iters = 2)
    val store = "target/pqspec_ivf_codes_part.parquet"
    LlmOps.pqEncodeIvf(corpus, cents, cbs, m = 4)
      .write.mode("overwrite").partitionBy("cid").parquet(store)
    val inPlan = LlmOps.pqSearchIvfCodes(
        LlmOps.pqEncodeIvf(corpus, cents, cbs, m = 4), corpus, cents, cbs,
        query, K)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val servedDf = LlmOps.pqSearchIvfCodes(spark.read.parquet(store), corpus,
      cents, cbs, query, K)
    val served = servedDf.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(served == inPlan, s"store serve $served != in-plan $inPlan")
    // the probed-cell filter reaches the codes store scan as a partition
    // filter, so unprobed cells are never listed or opened
    val plan = physical(servedDf).toString
    assert("PartitionFilters: \\[cid#\\d+ IN \\(".r.findFirstIn(plan).nonEmpty,
      s"the codes store scan must partition-prune on cid:\n$plan")
  }

  test("plans: the corpus is never exchanged — encode and ADC scan stay narrow") {
    // the only legitimate exchanges are the m·ks-row codebook/LUT
    // group-bys: their subtrees read the LOCAL trained table plus the
    // 1-row query attach (which sits under a BroadcastExchange). No
    // shuffle exchange may move data scanned OUTSIDE a broadcast — that
    // would be the corpus or the codes table
    def scansOutsideBroadcast(n: SparkPlan): Boolean = n match {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => false
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => true
      case other => other.children.exists(scansOutsideBroadcast)
    }
    def corpusExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
      p.collect { case e: ShuffleExchangeExec => e }
        .filter(e => e.children.exists(scansOutsideBroadcast))
    val cbs = LlmOps.pqTrainCodebooks(corpus, m = 4, ks = 4, iters = 2)
    val enc = physical(LlmOps.pqEncode(corpus, cbs, m = 4))
    assert(corpusExchanges(enc).isEmpty,
      s"encode must scan the corpus once, never exchange it:\n$enc")
    val codes = LlmOps.pqEncode(corpus, cbs, m = 4)
    val search = physical(
      LlmOps.pqSearchCodes(codes, corpus, cbs, query, K, m = 4))
    assert(corpusExchanges(search).isEmpty,
      s"neither the codes table nor the corpus may be exchanged:\n$search")
    assert(search.toString.contains("TakeOrderedAndProject"),
      s"the candidate/final stages must be TakeOrderedAndProject:\n$search")
  }
}
