package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.LlmOps

/** The composed ingest path a training-data pipeline runs on arriving
  * documents — every stage is an operator this library already provides,
  * wired end-to-end on an unbounded source:
  *
  *   quality gate (stateless Gopher-style rules)
  *     → fingerprint (codegen'd winnowing min + content hash)
  *       → streaming exact dedup (watermarked state on the content hash)
  *         → idempotent dual sink (batchId-scoped, replay-safe)
  *
  * Scale posture: the gate and fingerprints are narrow per-row maps (all
  * native expressions); dedup state is bounded by the watermark horizon,
  * not corpus lifetime; the sink writes each micro-batch once per side.
  * Near-dup (MinHash/LSH) dedup against the WHOLE landed corpus runs
  * through the persisted signature store ([[startWithStore]]): the
  * corpus-lived banding state lives in the store, not in stream state,
  * and each micro-batch pays batch-proportional work only. The plain
  * [[start]] keeps exact dedup only.
  */
object IngestPipeline {

  final case class Config(
      minTokens: Int = 10,
      maxTokens: Int = 1000,
      maxStopRatio: Double = 0.5,
      dedupLateness: String = "10 minutes",
      originPath: String,
      targetPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      // write layout for the landed store, applied per micro-batch before
      // both sinks — e.g. [[zorderByEntityDay]] so the corpus lands
      // (entity, day)-clustered and every later scan filtered on either
      // dimension prunes row groups instead of reading the store
      layout: DataFrame => DataFrame = identity)

  /** The 100 TB landed-corpus layout: Morton z-order on (entity, event
    * day), the two dimensions corpus maintenance scans filter on (the
    * probe's candidate semi-join by id prefix; retention/backfill by day).
    * Dial values clip into 16 bits — the z curve needs bounded
    * non-negative inputs ([[graft.core.Ops.zValue]]).
    *
    * Pruning caveat: the layout clusters any timestamp type, but the day
    * dimension only PRUNES row groups when the filtered column is a plain
    * INT64 — store event time as epoch micros (`ts_us`, this repo's
    * normalization convention). Measured in ZorderSpec: with `ts` as
    * INT96 (Spark's default timestamp encoding) or TIMESTAMP_NTZ the day
    * predicate appears under PushedFilters but never converts to a
    * parquet row-group predicate, and nothing skips.
    */
  def zorderByEntityDay(entity: org.apache.spark.sql.Column,
                        ts: org.apache.spark.sql.Column,
                        numPartitions: Int): DataFrame => DataFrame =
    df => graft.core.Ops.zorderLayout(df,
      entity.bitwiseAND(lit(65535L)),
      unix_date(ts.cast("date")).cast("long").bitwiseAND(lit(65535L)),
      numPartitions)

  /** Stateless quality + fingerprint stage. Works identically on batch and
    * streaming frames (no aggregation, no state): input needs (doc_id,
    * text); output adds n_tokens, stop_ratio, passes, fingerprint (winnow
    * set minimum) and content_h (exact-dedup key).
    */
  def gateAndFingerprint(docs: DataFrame, cfg: Config): DataFrame = {
    LlmOps.withWords(docs)
      .withColumn("n_tokens", size(col("words")))
      .withColumn("stop_ratio",
        LlmOps.round6(expr("size(filter(words, w -> w in ('the', 'a')))").cast("double") /
          col("n_tokens").cast("double")))
      .withColumn("passes",
        col("n_tokens").between(cfg.minTokens, cfg.maxTokens) &&
          col("stop_ratio") < cfg.maxStopRatio)
      // min of the window minima IS the fingerprint-set minimum — no
      // array_distinct pass needed (min(distinct(x)) == min(x))
      .withColumn("fingerprint",
        expr("array_min(graft_sliding_min(graft_gram_hash(text, 5, ':wn', 15), 4))"))
      .withColumn("content_h", md5(col("text")))
      .drop("words")
  }

  /** Start the full ingest: gate → keep passing docs → dedup within the
    * watermark → dual-write each micro-batch idempotently.
    */
  def start(docs: DataFrame, tsCol: String, cfg: Config): StreamingQuery = {
    val deduped = gateAndFingerprint(docs, cfg)
      .filter(col("passes"))
      .withWatermark(tsCol, cfg.dedupLateness)
      .dropDuplicatesWithinWatermark("content_h")
    // the sink IS the ZDM dual-writer — one wiring, shared with DualWrite
    DualWrite.dualWriteStream(deduped, cfg.originPath, cfg.targetPath,
      cfg.checkpoint, cfg.trigger, cfg.layout)
  }

  /** As [[start]], plus corpus-scale NEAR-dup dedup backed by the
    * persisted MinHash signature store: each micro-batch is probed against
    * the store ([[LlmOps.incrementalDupes]] — batch-proportional work, the
    * landed corpus is never re-shingled), batch docs that near-dup the
    * landed corpus are dropped, survivors dual-write idempotently, and
    * their signatures are appended to the store so the NEXT micro-batch
    * dedups against them too. This closes the gap [[start]] documents
    * ("near-dup dedup stays a batch pass downstream"): the banding state
    * lives in the store, outside stream state, so it is corpus-lived
    * without growing the watermark horizon.
    *
    * 100 TB note: the probe's SIGNATURE work is store-sized integer work
    * and the verify's shingling is candidate-only, but the verify still
    * SCANS the landed table's (doc_id, text) columns to find candidate
    * text — lay the landed corpus out partitioned/bucketed on a doc-id
    * prefix so the semi-join prunes that scan to candidate partitions.
    *
    * Replay safety: a re-run batchId rewrites its own sink partitions
    * (dualWriteMicroBatch's contract) and re-appends its signatures.
    * The ghost signatures a failed first attempt left in the store can
    * produce two pair shapes on the re-run, and both are excluded: the
    * self-pair (a == b) is dropped inside incrementalDupes, and the
    * CROSS-pair between two docs of the same batch (both appended by the
    * failed attempt) is dropped here by anti-joining the probe result's
    * corpus side against the current batch's doc_ids — a batch dedups
    * against the PRIOR corpus only, never against its own ghosts.
    * Near-dup pairs WITHIN a micro-batch are handled by a dedicated
    * batch-local pass ([[LlmOps.batchNearDups]]) with a deterministic
    * keeper (smallest doc_id), which is itself replay-stable.
    */
  def startWithStore(docs: DataFrame, tsCol: String, cfg: Config,
                     storePath: String,
                     nearDupThreshold: Double = 0.5): StreamingQuery = {
    val gated = gateAndFingerprint(docs, cfg)
      .filter(col("passes"))
      .withWatermark(tsCol, cfg.dedupLateness)
      .dropDuplicatesWithinWatermark("content_h")
    gated.writeStream
      .option("checkpointLocation", cfg.checkpoint)
      .trigger(cfg.trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatchWithStore(batch, batchId, cfg, storePath, nearDupThreshold)
      }
      .start()
  }

  /** One micro-batch of the store-backed ingest, as a named method so the
    * replay contract is directly testable: calling this twice with the
    * same (batch, batchId) must land the same survivor set both times.
    */
  private[graft] def landBatchWithStore(batch: DataFrame, batchId: Long,
                                        cfg: Config, storePath: String,
                                        nearDupThreshold: Double): Unit = {
    val spark = batch.sparkSession
    // intra-batch near-dups first: the store only knows PREVIOUSLY landed
    // docs, so a pair arriving together would otherwise both land.
    // Deterministic keeper (smallest doc_id of each verified pair) — a
    // pure function of batch content, so a replay drops the exact same
    // losers. Batch-sized cost.
    val intra = LlmOps.batchNearDups(
      batch.select(col("doc_id"), col("text")), "doc_id", nearDupThreshold)
    // survivors are materialized inside each scope, before it releases the
    // pairs they were computed from
    val survivors = LlmOps.released(intra) {
      val afterIntra = batch.join(
        intra.select(col("b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      // FS-agnostic existence probes: first batch has neither a landed
      // corpus nor a store — everything survives and seeds both
      val landed = scala.util.Try(
        graft.Tables.parquet(spark, cfg.targetPath).select(col("doc_id"), col("text")))
      val storeReadable = scala.util.Try(graft.Tables.parquet(spark, storePath)).isSuccess
      if (landed.isFailure || !storeReadable) LlmOps.materialized(afterIntra)
      else {
        val dupes = LlmOps.incrementalDupes(landed.get,
          afterIntra.select(col("doc_id"), col("text")), "doc_id",
          storePath, nearDupThreshold)
        // replay ghost exclusion: a failed first attempt already appended
        // THIS batch's signatures (and wrote its sink partitions), so the
        // probe can pair two current-batch docs through the store. Keep
        // only pairs whose corpus side is genuinely prior — anti-join `b`
        // against the full batch id set — or a routine at-least-once
        // replay would silently drop both members of an intra-batch
        // near-dup pair.
        LlmOps.released(dupes) {
          val prior = dupes.join(
            batch.select(col("doc_id").as("b")), Seq("b"), "left_anti")
          LlmOps.materialized(afterIntra.join(
            prior.select(col("a").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti"))
        }
      }
    }
    LlmOps.released(survivors) {
      DualWrite.dualWriteMicroBatch(survivors, batchId,
        cfg.originPath, cfg.targetPath, cfg.layout)
      LlmOps.appendSignatureStore(
        survivors.select(col("doc_id"), col("text")), "doc_id", storePath)
    }
  }
}
