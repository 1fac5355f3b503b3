package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Board-wide broadcast-gate lint (VERDICT r8 #4): every `broadcast(` hint
  * in src/main must be either inside a byte-gated helper or on this
  * allowlist with a cited size bound. The r8 purge gate was found by a
  * manual sweep; this encodes the convention so a future operator can't
  * silently regress it — a NEW (or edited) broadcast call site fails here
  * until its bound is reviewed and listed.
  *
  * Matching is by line-content substring, deliberately: line numbers
  * drift, but editing the call itself (changing what is broadcast) also
  * invalidates the entry and forces re-review.
  */
class BroadcastGateLintSpec extends AnyFunSuite {

  /** snippet that must appear in the call-site line → the size bound that
    * justifies the broadcast.
    */
  private val allowlist: Seq[(String, String)] = Seq(
    ("broadcast(sSel)",
      "Diff.validateSample: sample side is .limit(n) — ≤ n rows by construction"),
    ("broadcast(query.select(col(\"embedding\").as(\"q\")))",
      "LlmOps.cosineTopK: the single query vector — 1 row by contract"),
    ("broadcast(cappedCellsFromBuckets(",
      "LlmOps knnJoin/embeddingNearDups: groupless global aggregate over the bucket-count table — exactly 1 row"),
    ("broadcast(labDf)",
      "LlmOps.distributedClustersStar (union-find path): labels of the edges boundedCollect returned — at most driverEdgeBudgetBytes/BytesPerDriverEdge edges (byte-budgeted)"),
    ("crossJoin(broadcast(q))",
      "LlmOps ivfSearch/lshSearch: the single query vector — 1 row by contract"),
    ("crossJoin(broadcast(qp))",
      "LlmOps.embeddingPcaApplyReport: the single PROJECTED query vector — 1 row by the vec_id = 0 contract"),
    ("broadcast(probed.select(col(\"label\")))",
      "LlmOps.ivfSearch: probed centroid ids — ≤ nprobe rows by .limit(nprobe)"),
    ("c.join(broadcast(q), \"blk\")",
      "LlmOps.lshSearch: the query's band keys — ≤ bands rows per query"),
    ("broadcast(benchGrams)",
      "LlmOps.decontaminate: benchmark n-gram set — benchmark suites are contractually small (plan-audited)"),
    ("broadcast(benchGramsAttr)",
      "LlmOps.contaminationReport: attributed benchmark n-gram table — same bench-suite-small contract as decontaminate; beyond-broadcast suites go through decontaminateBloom first"),
    ("corpus.join(broadcast(idRel), Seq(idCol), \"left_anti\")",
      "LlmOps.purge: a local relation of the flagged ids boundedCollect returned — at most flaggedBroadcastBudgetBytes/BytesPerBroadcastId ids; the byte gate is the enclosing match"),
    ("acc.crossJoin(broadcast(df.agg(nd(c).as(s\"__${c}__nd\"))))",
      "Ops.profileTable exact regime: groupless global aggregate — exactly 1 row per column subtree"),
    ("broadcast(bBand",
      "LlmOps.decontaminateMinhash: benchmark band table — benchmark-small by contract"),
    ("broadcast(cand.join(broadcast(bench), \"bench_id\"))",
      "LlmOps.decontaminateMinhash verify: executes only on a local relation of the candidates boundedCollect returned — at most candBroadcastBudgetBytes/BytesPerBroadcastCandidate rows; bench is contract-small"),
    (".join(broadcast(bench), \"bench_id\")",
      "LlmOps.decontaminateMinhash shuffled fallback: only the contract-small bench side is hinted"),
    ("broadcast(bases)",
      "LlmOps.packSequences two-level: per-(lang, shard) aggregate — bounded at idSpan/shardWidth rows"),
    ("broadcast(t(s, d, \"customer\"))",
      "JoinQueries J5 demo: caller-designated small dimension — the operator's own semantic"),
    ("crossJoin(broadcast(withCnorm(cents)))",
      "LlmOps.assignCells: the k-means centroid table — ≤ c rows by construction"),
    ("g.join(broadcast(vocab), Seq(\"h\"), \"left\")",
      "LlmOps.lmScoreBy (lmScore, ccnetBuckets): the LM vocabulary — ≤ vocabK rows by .limit(vocabK)"),
    ("merged.crossJoin(broadcast(exact))",
      "AggQueries.distinct_users_sketch: groupless global exact-count aggregate — exactly 1 row"),
    ("ap.crossJoin(broadcast(ex))",
      "LlmQueries.embedding_health_approx: groupless exact-percentile harness aggregate — exactly 1 row"),
    ("q.crossJoin(broadcast(withCnorm(cents)))",
      "LlmOps.ivfSearchBatch: the c-row centroid table (CentroidBudgetBytes contract); probe side gated at QueryBatchMaxRows"),
    (".join(broadcast(probed), \"cid\")",
      "LlmOps.ivfSearchBatch: the Q·nprobe probe list — bounded by the QueryBatchMaxRows gate × the nprobe literal"),
    (".join(broadcast(q), \"qid\")",
      "LlmOps.ivfSearchBatch: the local query table boundedCollect returned — at most QueryBatchMaxRows rows (require before any broadcast)"),
    ("crossJoin(broadcast(tots))",
      "LlmOps.dsirSelect: groupless global word-total aggregate — exactly 1 row"),
    ("scored.join(broadcast(thr), Seq(\"lang\"))",
      "LlmOps.ccnetBuckets: per-language tercile thresholds — one row per language (bounded by the lang cardinality, a corpus property the lang_dist family already treats as report-sized)"),
    ("feats.join(broadcast(lam), Seq(\"bucket\"))",
      "LlmOps.dsirSelect: the bucket log-ratio table — ≤ `buckets` rows by construction (one row per hash bucket)"),
    ("crossJoin(broadcast(tot))",
      "LlmOps.lmScoreBy / clusterSizeStats: groupless global aggregate (gram mass / label count) — exactly 1 row"),
    ("broadcast(cand.select(col(\"vec_id\")))",
      "LlmOps.quantizedSearchCodes: rescore candidate ids — ≤ k·overfetch rows by .limit(k * overfetch)"),
    ("pairs.crossJoin(broadcast(capped))",
      "LlmOps hammingPairsByBlock/videoFrameNearDups: groupless global capped-bucket count — exactly 1 row"),
    ("topG.join(broadcast(groups), \"gid\")",
      "LlmOps.kmeansAssignToHier stage 2: the fine centroid table — c rows, CentroidBudgetBytes-gated via centroidGate in kmeansAssignToHier (and at readAnnIndex for persisted indexes)"),
    ("crossJoin(broadcast(withCnorm(coarse)))",
      "LlmOps.kmeansAssignToHier stage 1: the coarse quantizer — ≤ √c rows by kmeansCoarse construction"),
    ("subs.join(broadcast(cbs), Seq(\"sub\"))",
      "LlmOps.pqAssign: the PQ codebook table — ≤ m·ks rows by construction (the pqSeed/decimalVecMean aggregates)"),
    ("crossJoin(broadcast(pqCbRow(cbs)))",
      "LlmOps.pqEncode: the m·ks codebook rows grouped to ONE row — bounded by the (m, ks) literals"),
    ("broadcast(query.select(col(\"embedding\").as(\"qm\")))",
      "LlmOps.pqSearchCodes: the single query vector — 1 row by contract"),
    ("crossJoin(broadcast(pqLut(cbs, q, m, ks)))",
      "LlmOps.pqSearchCodes/pqSearchIvfCodes: the ADC lookup table grouped to ONE row — bounded by the (m, ks) literals"),
    (".crossJoin(broadcast(n))",
      "LlmOps.tfIdfTopTerms: groupless global doc-count aggregate — exactly 1 row"),
    ("tf.join(broadcast(dfT), Seq(\"term\"))",
      "LlmOps.bm25Search: per-query-term document frequencies — ≤ |terms| rows (terms is a literal list)"),
    (".crossJoin(broadcast(stats))",
      "LlmOps.bm25Search: groupless global (n_docs, sum_dl) aggregate — exactly 1 row"),
    (".join(broadcast(snapSig(shB).alias(\"y\")), Seq(\"pos\"))",
      "LlmOps.corpusOverlap: the snapshot-level MinHash signature — exactly kSig (≤64) rows by the per-position min fold"),
    ("exact.crossJoin(broadcast(est))",
      "LlmOps.corpusOverlap: groupless signature-match aggregate — exactly 1 row"),
    ("ev.join(broadcast(stats), Seq(\"event_type\"))",
      "AggQueries.anomaly_zscore: per-event-type (mu, sd) aggregate — one row per distinct event type (a low-cardinality enum by data contract; the same bound heavy_hitters' k=16 presumes)"),
    ("pushed.crossJoin(broadcast(ref))",
      "MiscQueries.connector_agg_pushdown: groupless global aggregate harness — exactly 1 row each side"))

  test("every broadcast( in src/main is gated or allowlisted with a cited bound") {
    val root = Paths.get("src/main/scala")
    assert(Files.exists(root), s"run from the repo root; missing $root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i)
            if line.contains("broadcast(")
              && !line.trim.startsWith("//") && !line.trim.startsWith("*")
              && !allowlist.exists { case (snippet, _) => line.contains(snippet) } =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      "unreviewed broadcast hint(s) — verify the build side is byte-gated " +
        "or bounded by construction, then add an allowlist entry with the " +
        s"bound:\n${offenders.mkString("\n")}")
  }

  test("allowlist entries are live (no stale snippets masking future call sites)") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8"))
      .toList
    val stale = allowlist.collect {
      case (snippet, why) if !sources.exists(_.contains(snippet)) => s"$snippet ($why)"
    }
    assert(stale.isEmpty,
      s"allowlist entries with no matching call site — delete them:\n${stale.mkString("\n")}")
  }
}
