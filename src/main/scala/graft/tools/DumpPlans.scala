package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dev tool: dumps formatted physical plans of the flagship queries to
  * PLANS.md — the plan-audit evidence for the scale posture claims
  * (broadcasts where expected, single exchanges, pushdown, codegen spans).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val audited = Seq(
      "scan_full" -> "migrate-shaped checksum scan: narrow read → one partial+final agg, no sort",
      "diff_full_outer" -> "the ONE wide op: both sides exchange once on the PK, SMJ, narrow classify+count after",
      "validate_sample" -> "500-row sample broadcast; the target is scanned once and never shuffled",
      "join_fk_orders_users" -> "dimension side broadcast (BHJ), fact side never shuffles",
      "topk_orders" -> "TakeOrderedAndProject — no global sort for top-k",
      "dedup_minhash" -> "signature table materialized (InMemoryRelation), band self-join is an equi-join — no cartesian",
      "dedup_simhash_hamming64" -> "radius-2 hamming search via grouped pair generation: one hash-agg shuffle on the 20-bit block key (buckets ~N/2^20), a<b pairs exploded inside each group, hamming filter inline — the only join is the 1-row capped_blocks coverage attach (BNLJ over a global scalar aggregate, reusing the block exchange); no cached state",
      "sim_search_ivf" -> "centroid build = one (label,pos) shuffle; probe + cell filter both broadcast",
      "multimodal_decode" -> "binary payloads stay per-partition; only feature rows leave the scan",
      "sim_knn_join" -> "pairs built inside the bounded, salted (label, sub, salt) cell slice — the STREAMED (replicated) side repartitions on the full pair key, spreading one bucket's pairwise block over ceil(bucket_n/512) tasks (output-skew fix AQE cannot see); the probe side carries no explicit exchange (r10 — wasted under the broadcast build, auto-inserted under SMJ) — oversize label cells LSH-sub-bucketed at maxCell, degenerate buckets capped-and-counted from the bucket AGGREGATE table (r10 — no corpus re-join for the accounting) — no cartesian; top-k via graft_topk partial aggregation — the exchange carries #vectors×k rows, not the pairwise set",
      "text_winnow" -> "narrow per-row map; graft_hash_array appears ONCE (CollapseProject keeps the multi-referenced hash array un-inlined)",
      "multimodal_frames" -> "declarative frame explode — generator over a stride sequence, no shuffle before the output sort",
      "decontaminate_bloom" -> "bloom prefilter probes inside the corpus scan (graft_might_contain under the verify join); benchmark grams are never a corpus-wide broadcast build side",
      "decontaminate_minhash" -> "cross-corpus LSH: benchmark band table broadcast, corpus bands stream through the join; candidates counted against a byte gate — under it (this dump: clean corpus) the verify broadcasts them and the corpus never shuffles; over it the verify falls back to a shuffled equi-join on the doc id (adversarial-contamination path, PlanAuditSpec-pinned)",
      "pack_sequences" -> "two-level packing: corpus-wide running sum windows on (lang, shard) — bounded partitions — base offsets from a tiny per-shard aggregate broadcast back; no window partitions the raw corpus on low-cardinality lang",
      "decontaminate_purge" -> "flagged ids counted once against the byte gate (lazy anti-join returned, nothing persisted — r9); under budget (this dump) the anti-join broadcasts the flagged side and the corpus never shuffles; over it the hint drops to a plain shuffled anti-join",
      "pii_redact" -> "narrow per-row regex map — zero exchanges before the output sort",
      "sample_stratified" -> "content-stable md5-bucket filter evaluated in the scan stage — zero shuffles, no RNG",
      "sim_search_ivf_kmeans" -> "trained IVF: every Lloyd iteration is one corpus scan against a c-row broadcast centroid table plus one (cid, pos) partial-sum exchange whose OUTPUT is c×dim rows; the probed cell ids (ranked on the driver over the local centroid table) and the query vector ride the serve as literals — assignment projection → cid filter → TakeOrdered, no join; the corpus itself never self-joins or windows",
      "quality_lm_score" -> "LM scoring: gram explode is narrow codegen; the only exchanges are the charset-bounded gram-count agg and the per-doc avg; the vocabulary joins as a top-K broadcast bounded by .limit(vocabK)",
      "dedup_semantic" -> "SemDeDup: assignment = corpus scan vs the c-row broadcast centroid table (argmax agg shuffles on vec_id); in-cluster pairing inherits the bounded (cid, sub, salt) cell machinery; the dropped-id side rejoins UNHINTED (data-sized — AQE may broadcast at runtime, never a hard hint)",
      "mix_temperature" -> "tempered mixture: one tiny per-lang count agg → |langs|-row keep_frac table broadcast back; the keep decision is a narrow per-row md5 filter — the corpus itself never shuffles",
      "dedup_audio_fp" -> "acoustic fingerprint: graft_frame_energy → graft_dhash is one codegen'd narrow map; block explode + grouped in-bucket pairing shuffle ONLY (id, fingerprint, block) rows — payload bytes never leave the scan stage; the only join is the 1-row capped_blocks coverage attach",
      "dedup_video_frames" -> "frame-set Jaccard: signature (array_distinct) and its size compute narrowly pre-explode — no per-doc count pass, no size join-back; two core exchanges (frame-hash postings groupBy with the stop-frame cap, then the (a,b) shared-count agg) with the capped-count branch reusing the postings exchange; the only join is the 1-row capped_postings coverage attach",
      "sim_search_quantized" -> "int8 two-stage ANN: approx stage scans codes and carries only (vec_id, approx) into a TakeOrdered; rescore joins the 40-row candidate list as a broadcast build — zero shuffle exchanges, the corpus is never hash- or range-partitioned",
      "dedup_substring" -> "ExactSubstr (r11 skew-safe): gram explode is narrow codegen (graft_gram_hash, no gram strings materialized); the duplicate test is a TWO-LEVEL count — map-side partial combine collapses hot grams, the (h, sites) partials shuffle small, and ONE left-semi join streams the gram table against the dup-gram set (AQE may broadcast it or skew-split the probe — the r10 hot-gram window buffered a hot gram's whole position list in one unsplittable task); one exchange back on the doc id for the span-merge windows — no gram-hash window, no global suffix sort. r12 VERIFIED at sf0.1 (final adaptive plan): the dup-gram set builds as a BroadcastExchange → BroadcastHashJoin LeftSemi — the gram table never shuffles on h for the join; the residual ~1.3–1.4× vs the r10 window form is the second gram explode + the (h, sites) partial-agg exchange, the price of map-side hot-gram collapse, not a join regression",
      "sim_search_pq" -> "PQ ADC (r11): the codes scan runs the codegen'd graft_pq_adc LUT kernel and carries only (vec_id, approx) into a TakeOrdered; the LUT, grouped codebook row, and query are 1-row broadcast attaches; rescore joins the 40-row candidate list broadcast — the codes table and the corpus are never hash- or range-exchanged",
      "sim_search_ivfpq" -> "IVFADC (r11): the coarse quantizer's nprobe probed-cell ids, ranked on the driver over the local centroid table, filter the (vec_id, cid, codes) index as `cid IN (...)` literals (over a cid-partitioned store read that filter partition-prunes), the ADC scan ranks only those cells' codes, rescore joins the candidate ids broadcast; the only data-sized exchange anywhere is the BUILD-time assignment argmax combine, paid once per corpus snapshot",
      "training_manifest" -> "end-to-end composition (r11): every stage keeps its standalone plan shape — the LSH keeper election's cached signature/cluster passes, the decontaminate broadcast-gated benchmark grams, the byte-gated purge anti-join, then the token gate and shard assignment as narrow per-row maps over the survivor stream; composing adds NO new shuffle beyond the stages' own",
      "dedup_paragraph" -> "CCNet paragraph dedup (r11): segment explode is a narrow generator; the corpus-wide frequency pass is a map-combined hash agg on the segment hash (a 10⁹×-duplicated boilerplate paragraph collapses to one row per map task BEFORE the shuffle) and the count attach is an AQE-splittable equi-join — the two shapes the gram-hash window could never use; reassembly groups on the doc id, bounded by doc length",
      "dedup_clusters_dist" -> "star-contraction CC (r11): the key passes a zero driver budget, so distributedClustersStar runs its star rounds instead of the driver union-find; each round is two per-node-minimum windows and a distinct over the edge set, localCheckpoint-truncated (each round references its input several times; without truncation the logical plan doubles per round) with the convergence fingerprint observed on the checkpoint pass; the labels are materialized, so the dumped plan is a scan of the cached labels and stays round-count-independent",
      "dedup_edit_distance" -> "Levenshtein verify tier (r11): candidates come from the SAME banded LSH equi-join minhash uses; the O(len²) distance evaluates inline (codegen'd levenshtein) on candidate pairs only — the corpus text joins to the pair list by id, never self-joins",
      "quality_histogram" -> "score histogram (r11): inherits lmScore's plan (narrow gram explode, charset-bounded count agg, 1-row total attach); the histogram itself is one map-combined agg on floor(score) — fixed-width buckets, never an ntile (no global sort)",
      "distinct_users_sketch" -> "persisted-sketch distinct (r11, envelope r12): per-day HLL sketches build in one hash agg (datasketches buffers combine map-side), the union agg merges |days| KB-sized sketches — the events table is never re-shuffled; at 100 TB the daily sketches persist and the merge reads NO events. The registry output adds an exact countDistinct harness pass (1-row × 1-row BNLJ attach) so the driver gate sees a three-axis row — verification cost, not the scale path",
      "embedding_health_approx" -> "the 100 TB embedding-QA regime FORCED at sf scale (r12): approx_percentile sketch aggregates — merge-able, bounded buffer, no single-task value multiset — plus a 1-row exact-percentile harness attach (norms_ok ≤5%); both sides are groupless global aggregates, ONE corpus scan each",
      "profile_table_approx" -> "the 100 TB profile regime FORCED at sf scale (r12): approx_count_distinct at rsd 0.023 (precision 12; r15) — single-pass partials, NO Expand (the exact form multiplies map output ×(cols+1)) — joined to the exact-distinct harness on the 4-row col_name table (nd_ok ≤5%)",
      "sim_search_batch" -> "batched trained-IVF serving (r12): the Q-query batch ranks the c-row broadcast centroid table (Q×c bounded nested loop), the Q·nprobe probe list — collected to a local table whose distinct cids also filter the assignment (partition pruning over a cid-partitioned store) — equi-joins the corpus assignment on cid — ONE corpus pass for the whole batch, each vector fans out only to the queries probing its cell — and per-query top-k runs on the graft_topk bounded heap (map-side eviction, Q·k exchange rows); the batch side is gated at QueryBatchMaxRows",
      "small_files_report" -> "storage-layout audit (r12, write shape fixed r13): the controlled write is salted by doc_id % 16 and partitioned by (lang, b) through an EXPLICIT repartition(32, lang, b) — AQE-coalesce-exempt, each salt group wholly in one task owning its directory, so file rolls stay closed-form (ceil(cnt/100) per group) while write tasks scale with lang × buckets, never one per lang — then re-read through input_file_name(); two map-combined hash aggregates — per-file counts leave the map side as one row per (lang, file), the report is langs-sized",
      "compact_files" -> "small-files compaction (r13): lands the 16-bucket small layout, rewrites it through a 4-bucket salt at maxRecordsPerFile=1000 (scan → narrow salt column → one explicit (lang, b) exchange → write — the rewrite the report prices), audits BOTH layouts from disk via input_file_name(); audits are map-combined aggregates joined on the 5-row lang table, rows_ok pins content preservation",
      "migrate_report" -> "multi-table migrate orchestration (r13): MigrateJob.migrateAll drives the single-table pipeline per table — each table keeps the narrow scan → tag → transform → dynamic-partition write shape with its own ledger — under one consolidated error budget; the report itself is a 4-row createDataFrame of ledger-derived totals, exchange-free beyond the per-table migrate jobs",
      "topk_per_group" -> "grouped top-k (r12): the graft_topk TypedImperativeAggregate evicts to k entries INSIDE each map task, so the exchange carries #groups×k rows — the row_number window form this replaces shuffles and sorts every row of every group; no Window node anywhere in the plan (PlanSpec-pinned)",
      "funnel_steps" -> "ordered funnel (r12): three conditional-MIN aggregates chained by user_id equi-joins — every stage partial-combines map-side, so a bot user's 10⁹ events collapse before any exchange; deliberately not a per-user collect_list + sequence scan (the unsplittable-hot-user shape); three narrow filter-pushed event scans is the price",
      "retention_cohorts" -> "cohort retention matrix (r12): first-seen MIN agg → user_id equi-join → (user, cohort, offset) distinct → matrix count; all hash aggregates partial-combine and the output is cohorts × horizon, report-sized",
      "heavy_hitters" -> "Misra–Gries heavy hitters (r12): the graft_freq TypedImperativeAggregate keeps ≤k counters per map task, so the exchange carries ≤k rows per task where the exact groupBy pays one per DISTINCT key; the exact pass + inner join here is the driver-visible verification envelope (presence = the join, accuracy = hh_ok), not the scale path",
      "purge_by_ids" -> "takedown purge (r12): at sf tiers the ≤256-id regime compiles to a PLAIN SCAN FILTER (NOT-IN over the bounded-collected request ids — no join node at all; row-group prunable on an id-sorted layout); above the gate it is one left-anti equi-join AQE can broadcast — spec pins both regimes output-identical",
      "tfidf_topterms" -> "per-lang TF-IDF head terms (r13): tokenize/explode is a narrow generator; tf and df are map-combined hash aggregates (the Zipf head collapses map-side); the per-lang ranking is the graft_topk_str bounded heap — #langs×k exchange rows, NO Window node (a window would funnel each lang's distinct-token set through one partition); the 1-row doc-count attach is the only BNLJ",
      "bm25_search" -> "BM25 retrieval (r13): query-term hits are filtered INSIDE the row (filter(words, …) before the explode — non-matching tokens never leave the scan stage); tf is a map-combined agg on (doc, term); df (≤|terms| rows) and the 1-row (n_docs, sum_dl) stats broadcast back; top-k is a TakeOrderedAndProject — the corpus is never hash- or range-exchanged at row width",
      "embedding_dim_stats" -> "per-dimension moments (r13): one narrow posexplode (×dim, linear — never the d² outer-product fanout) into a dim-grouped map-combined hash aggregate; output is d rows, report-sized",
      "anomaly_zscore" -> "z-score outliers (r13): per-type (mu, sd) is one map-combined agg over an enum-cardinality key, BROADCAST back onto the event stream (BHJ) — the corpus never shuffles on event_type (a window form would funnel one task per type); the outlier filter and rounding are narrow",
      "connector_agg_pushdown" -> "DSv2 aggregate pushdown (r13): the pushed branch is a bare projection over the source's ONE pre-aggregated row — no aggregate node, no exchange; the unpushed harness branch keeps its repartition + two-stage aggregate, and the two 1-row results meet in a bounded BNLJ",
      "ann_index_append" -> "ANN delta maintenance (r13; retrain-realism + drift recording r14): the dumped plan is the post-append serve over the base-trained store — probed-cell partition-pruned store scan with the query vector as a literal, drift columns as literals; the lifecycle's other jobs (base-only train, build stats, append, post-health scan) share ONE localCheckpointed corpus read, and the append's delta-proportional contract stays metrics-pinned in AnnIndexSpec",
      "embedding_pca_apply" -> "PCA apply + report (r14): the dumped plan is the 1-row driver-assembled report; the data-path jobs inside it are (a) ONE map-combined k-width moment pass over the projection, where each projected coordinate is a codegen'd graft_dot against a LITERAL basis vector with centering folded into a driver constant — no centered array, no broadcast, nothing exchanged — and (b) two broadcast-query corpus scans into TakeOrdered (original-space top-10, projected-space pool-50) plus a 50-row exact rescore; driver state O(k² + pool)",
      "bpe_train" -> "BPE vocabulary induction (r14): the dumped plan is the 1-row report; the training regime below bpeFitsDriver collects the (word, cnt) table once (byte-gated, the distributedClustersStar pattern) and loops in memory; ABOVE the gate each round is one map-combined adjacent-pair hash aggregate over the checkpointed word table + a 1-row argmax collect + a stacked codegen'd graft_bpe_merge projection, lineage re-checkpointed every 8 rounds — regimes spec-pinned output-identical; the corpus is read exactly once either way (the Zipf word-table collapse)",
      "connector_batch_write" -> "DSv2 batched write (r14): the dumped plan is the per-pk summary local relation; the interesting plan is the WRITE job, where the sink's RequiresDistributionAndOrdering declaration makes Spark insert the clustering exchange + sort on pk — WriteSinkSpec pins the resulting contiguity (exactly ceil(rows/batchSize) pk-pure batches, each pk in one task), the per-task rate pacing, and the error-budget abort through BatchWrite.abort",
      "connector_migrate" -> "connector-shaped migrate end-to-end (r15): the dumped plan is the 1-row summary local relation; the real plan is the single migrate wave captured in ConnectorMigrateSpec from the LIVE write job — DSv2 range scan with the writetime floor ABSORBED (pushed=[GreaterThanOrEqual(wt,…)]), payload pruned from the read schema, the 4 below-floor input slices eliminated at planning, then tag/transform/increment as narrow codegen'd projections, ONE clustering exchange + sort demanded by the sink's declared distribution, and pk-pure batched V2 writes under a JOB-global error budget (task-local fast abort, commit-time total enforcement, accumulator-fed mid-job watcher); ledgered + resumable like every migrate",
      "bpe_encode" -> "BPE apply half (r15): the trained merge table applies to the DISTINCT-word table only — ≤20 stacked codegen'd graft_bpe_merge kernels over word-table-sized rows (the same Zipf collapse training rides), localCheckpointed once; the corpus-sized work is ONE exploded-words equi-join to the encoded table plus ONE map-combined per-doc aggregate; apply/train parity (apply_ok) is a word-table-sized join check, and the DuckDB oracle trains its own 20 rounds in SQL so every count is independently derived",
      "hybrid_search_rrf" -> "RRF hybrid retrieval (r15): each branch keeps its audited bounded shape — BM25's in-row term filter + map-combined tf agg + TakeOrdered, dense cosine's broadcast-query scan + TakeOrdered — so the corpus is never exchanged at row width on either side; the rank windows and the full-outer fusion join run on the two branch LISTS (≤ k·overfetch rows each, a CONSTANT — the single-partition WindowExec is bounded by the upstream limit, not by data)",
      "dsir_select" -> "DSIR importance resampling (r15): ONE corpus pass into the per-(doc, bucket) feature table (map-combined — ≤ B rows per doc survive each mapper), persisted and reused by the B-row bucket stats and the scoring join; the log-ratio table broadcasts (B = 64 rows), the Gumbel draw is a narrow md5 expression, selection is a TakeOrdered — the corpus never self-joins, never windows, and is never exchanged at row width; the dumped plan is the materialized top-k extraction (cache-release policy, the dedup_clusters pattern)",
      "minhash_tune" -> "LSH parameter sweep (r15): the corpus is shingled and 16-perm-signed ONCE (cached for the call); each (bands, r) config adds one narrow band-hash map over the signature table and ALL configs share ONE (config, band)-keyed self-join — the sweep costs one extra shuffle column, not configs× pipelines; hot buckets cap out of pairing exactly as minhashCandidatesFrom; the dumped plan is the 4-row report extraction (cache-release policy)",
      "ccnet_buckets" -> "CCNet perplexity terciles (r15): ONE codegen'd gram explode feeds both the reference count-agg and the scoring join (persisted once above the lmScore crossover); vocab (≤vocabK rows) and the 1-row reference mass broadcast; the per-doc avg shuffles once on doc_id; thresholds are a lang-cardinality agg broadcast back as an equi-join — the corpus never sorts (exact terciles come from element access into per-lang score lists, percentile_approx is the documented 100 TB swap)",
      "cluster_balanced_sample" -> "k-means coverage sample (r15): training/assignment are the audited kmeans shapes (c-row centroid broadcast, narrow 8-byte argmax partials); the per-cell cap is a graft_topk bounded heap inside ONE hash-aggregate — ≤cap entries per cell per mapper, never a corpus window — and the output is ≤ c·cap rows with per-cell population from the same agg")

    val out = new StringBuilder
    out ++= "# Physical plan audit (generated by graft.tools.DumpPlans at sf0.01)\n\n"
    out ++= "Legend: `*(n)` prefix = inside WholeStageCodegen span `n`. " +
      "Generated with `ExplainMode(\"formatted\")`.\n\n"

    // shuffle-count summary: the at-a-glance scale posture. Shuffle
    // exchanges are the unit of cost that survives a 1000-executor
    // scale-up; broadcasts are cheap (small side only).
    val plans = audited.map { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val physical = df.queryExecution.executedPlan.toString
      // Lines nested under an InMemoryRelation belong to a persisted
      // intermediate's BUILD plan: those exchanges run ONCE when the cache
      // materializes, not per reference — counting them as core would
      // charge the operator once per cache reference (the printer repeats
      // the cached plan under every InMemoryTableScan). Classify them by
      // tree indentation into their own bucket.
      def indent(l: String): Int = {
        val a = l.indexOf("+-"); val b = l.indexOf(":-")
        (a, b) match {
          case (-1, -1) => l.takeWhile(c => c == ' ' || c == ':').length
          case (-1, j)  => j
          case (i, -1)  => i
          case (i, j)   => math.min(i, j)
        }
      }
      // The printer repeats a cached relation's build plan under EVERY
      // InMemoryTableScan referencing it — count each distinct relation
      // once (first occurrence), skip repeats entirely. Identity = the
      // trimmed node line: its output attributes carry exprIds, unique per
      // relation instance and identical across repeated prints.
      val seen = scala.collection.mutable.Set[String]()
      var stack = List.empty[(Int, Boolean)] // (region indent, first occurrence?)
      val classified = physical.linesIterator.map { l =>
        val ind = indent(l)
        stack = stack.dropWhile(_._1 >= ind)
        val inCache = stack.nonEmpty
        if (l.contains("InMemoryRelation")) {
          val fresh = seen.add(l.drop(ind).replaceAll("^[+:\\- ]+", ""))
          stack = (ind, fresh) :: stack
        }
        val counted = stack.nonEmpty && stack.forall(_._2)
        (l, inCache, counted)
      }.toSeq
      val exchanges = classified.filter { case (l, in, counted) =>
        l.contains("Exchange") && !l.contains("BroadcastExchange") &&
          (!in || counted) // drop repeated prints of the same cached plan
      }
      val cacheBuild = exchanges.count(_._3)
      // verify-only exchanges: the deterministic output ORDER BY (a range
      // exchange of the RESULT — every audited query's only range
      // exchange) and SinglePartition exchanges of 1-row final aggregates.
      // Everything else is the operator's own cost.
      val verifyOnly = exchanges.count { case (l, in, _) =>
        !in && (l.contains("rangepartitioning") || l.contains("SinglePartition"))
      }
      val core = exchanges.size - cacheBuild - verifyOnly
      val bcasts = classified.count { case (l, in, _) =>
        !in && l.contains("BroadcastExchange")
      }
      (name, note, formatted, core, verifyOnly, cacheBuild, bcasts)
    }
    out ++= "Shuffle exchanges split into CORE (the operator's own cost — " +
      "what survives a 1000-executor scale-up), VERIFY-ONLY (the " +
      "deterministic output ORDER BY's range exchange of the result, and " +
      "SinglePartition exchanges of 1-row final aggregates — harness " +
      "artifacts, classified mechanically from the exchange's partitioning) " +
      "and CACHE-BUILD (exchange lines printed inside a persisted " +
      "intermediate's build plan — that work runs ONCE when the cache " +
      "materializes, not per reference; the printed count is an upper " +
      "bound since the printer repeats cached plans per reference and " +
      "AQE prints initial+final plans for nested stages). Broadcasts " +
      "move only the small side (cache-build broadcasts excluded the " +
      "same way).\n\n"
    out ++= "| query | core exchanges | verify-only | cache-build (once) | broadcasts | posture |\n|---|---|---|---|---|---|\n"
    for ((name, note, _, core, ver, cb, bc) <- plans)
      out ++= s"| $name | $core | $ver | $cb | $bc | ${note.takeWhile(_ != ';')} |\n"
    for ((name, note, plan, _, _, _, _) <- plans)
      out ++= s"\n## $name\n\n$note\n\n```\n$plan```\n"
    Files.writeString(Paths.get("/root/repo/PLANS.md"), out.toString)
    println(s"wrote PLANS.md (${audited.size} plans)")
    spark.stop()
  }
}
