package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.LlmOps

/** LLM training-data pipeline queries (SURVEY §2.11): five dedup variants,
  * similarity search, text analysis, multimodal join — exercised on the
  * documents/embeddings testdata. The corpus has no natural duplicates, so
  * dedup queries run on a twin with injected exact/near duplicates (same
  * pattern as the Diff family's defect twin).
  */
object LlmQueries {
  import Common._

  /** documents ∪ shifted copies: ids %10==0 re-appear under id+100000;
    * those with id %20==0 get one appended word (near- but not exact dup).
    */
  private def docsWithDups(docs: DataFrame): DataFrame =
    docs.unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .select(
          (col("doc_id") + 100000L).as("doc_id"),
          when(col("doc_id") % 20 === 0, concat(col("text"), lit(" tail")))
            .otherwise(col("text")).as("text"),
          col("lang"), col("source"), col("n_chars")))

  /** Near-duplicate cluster labels (doc_id, cluster_id) of `docs`: LSH
    * candidate pairs, then connected components through `cluster`. The
    * pairs are released before returning: every clustering path consumes
    * them eagerly (the union-find collect, the star loop's checkpoints).
    */
  private def candidateClusters(
      docs: DataFrame,
      cluster: (DataFrame, String, DataFrame) => DataFrame): DataFrame = {
    val pairs = LlmOps.minhashCandidates(docs, "doc_id")
    LlmOps.released(pairs)(cluster(docs.select(col("doc_id")), "doc_id", pairs))
  }

  private val docsDupSql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
       UNION ALL
       SELECT doc_id + 100000 AS doc_id,
              CASE WHEN doc_id % 20 = 0 THEN text || ' tail' ELSE text END AS text,
              lang, source, n_chars
       FROM documents WHERE doc_id % 10 = 0"""

  /** The "next crawl" twin for corpus_overlap: 1-in-7 docs dropped (decayed
    * pages), 1-in-10 surviving texts get one appended word (edited pages) —
    * a realistic month-over-month shingle overlap in the 0.8–0.95 band.
    */
  private def docsNextCrawl(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" tail")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))

  private val docsNextCrawlSql: String =
    """SELECT doc_id,
              CASE WHEN doc_id % 10 = 0 THEN text || ' tail' ELSE text END AS text,
              lang, source, n_chars
       FROM documents WHERE doc_id % 7 <> 0"""

  /** embeddings ∪ identical copies of ids %25==0 (cosine exactly 1). */
  private def embWithDups(emb: DataFrame): DataFrame =
    emb.unionByName(
      emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label")))

  private val embDupSql: String =
    """SELECT vec_id, embedding, label FROM embeddings
       UNION ALL
       SELECT vec_id + 100000 AS vec_id, embedding, label
       FROM embeddings WHERE vec_id % 25 = 0"""

  /** embeddings as the decoded-image pixel-grid stand-in (each 64-dim array
    * plays the 8×8 grayscale thumbnail a real pipeline's decode+resize
    * produces), with planted image dups: ids %25==0 re-appear IDENTICAL at
    * +100000 (hamming 0 — a byte-for-byte re-upload); ids %25==7 re-appear
    * at +200000 with their first two pixels SWAPPED (a small local edit —
    * flips at most the two adjacent-pair comparisons touching those pixels,
    * hamming ≤ 2). Swapping is arithmetic-free, so both engines agree
    * bit-for-bit with zero float-rounding risk.
    */
  /** documents as the decoded-audio sample-sequence stand-in (each code
    * point plays one PCM sample), with planted track dups: ids %10==0
    * re-appear IDENTICAL at +100000 (same fingerprint, hamming 0); ids
    * %10==3 re-appear at +200000 with samples 1,2 TRANSPOSED (an
    * order-glitch inside one energy window for tracks ≥ 65 samples —
    * energies unchanged, hamming 0, while md5-style exact dedup misses
    * it; for the sub-65 tail the two touched windows perturb ≤ 2
    * adjacent-delta bits); ids %10==7 re-appear at +300000 with sample 33
    * CORRUPTED to 'Z' (one window's energy moves → ≤ 2 bits). Every edit
    * is length-preserving, so window boundaries never shift.
    */
  private def audioWithDups(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 200000L).as("doc_id"),
          expr("concat(substr(text, 2, 1), substr(text, 1, 1), substr(text, 3, length(text) - 2))")
            .as("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 300000L).as("doc_id"),
          expr("concat(substr(text, 1, 32), 'Z', substr(text, 34, length(text) - 33))")
            .as("text")))
  }

  private val audioDupSql: String =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
       UNION ALL
       SELECT doc_id + 200000 AS doc_id,
              substr(text, 2, 1) || substr(text, 1, 1) || substr(text, 3, length(text) - 2) AS text
       FROM documents WHERE doc_id % 10 = 3
       UNION ALL
       SELECT doc_id + 300000 AS doc_id,
              substr(text, 1, 32) || 'Z' || substr(text, 34, length(text) - 33) AS text
       FROM documents WHERE doc_id % 10 = 7"""

  /** documents as the frame-sampled video stand-in (each 64-char window is
    * one frame fingerprint), with planted clip dups: ids %10==5 re-appear
    * IDENTICAL at +200000 (every frame shared, Jaccard 1); ids %10==0 with
    * ≥ 128 chars re-appear at +100000 TRIMMED to their full-frame prefix
    * (the end-trim re-upload: the twin's k = len div 64 ≥ 2 frames are all
    * frames of the original, whose only extra frame is its partial tail —
    * Jaccard ≥ k/(k+1) ≥ 2/3, above the 0.5 gate).
    */
  private def videosWithDups(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 0 && length(col("text")) >= 128)
        .select((col("doc_id") + 100000L).as("doc_id"),
          expr("substr(text, 1, 64 * (length(text) div 64))").as("text")))
  }

  private val videoDupSql: String =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 10 = 5
       UNION ALL
       SELECT doc_id + 100000 AS doc_id,
              substr(text, 1, 64 * (length(text) // 64)) AS text
       FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 128"""

  private def imagesWithDups(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    base
      .unionByName(emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      .unionByName(emb.filter(col("vec_id") % 25 === 7)
        .select((col("vec_id") + 200000L).as("vec_id"),
          expr("concat(array(element_at(embedding, 2), element_at(embedding, 1)), slice(embedding, 3, 62))")
            .as("embedding")))
  }

  private val imgDupSql: String =
    """SELECT vec_id, embedding FROM embeddings
       UNION ALL
       SELECT vec_id + 100000 AS vec_id, embedding
       FROM embeddings WHERE vec_id % 25 = 0
       UNION ALL
       SELECT vec_id + 200000 AS vec_id,
              [embedding[2], embedding[1]] || embedding[3:] AS embedding
       FROM embeddings WHERE vec_id % 25 = 7"""

  /** Shared by decontaminate_ngram and decontaminate_bloom: the bloom path
    * is a prefilter whose false positives die in the exact verify join, so
    * both operators answer to the identical exact-overlap oracle.
    */
  private lazy val decontamHitsCtes: String =
    s"""all_docs AS ($docsDupSql),
        bdocs AS (SELECT * FROM all_docs WHERE doc_id < 100000 AND doc_id % 10 = 0),
        cdocs AS (SELECT * FROM all_docs WHERE doc_id >= 100000 OR doc_id % 10 <> 0),
        cw AS (SELECT doc_id, text, $duckWords AS words FROM cdocs),
        csh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(words) < 3 THEN [lower(text)]
                       ELSE list_transform(generate_series(1, len(words) - 2),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                  END) AS sh
                FROM cw),
        bw AS (SELECT doc_id, text, $duckWords AS words FROM bdocs),
        bsh AS (SELECT CASE WHEN len(words) < 3 THEN [lower(text)]
                       ELSE list_transform(generate_series(1, len(words) - 2),
                              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                  END AS sh
                FROM bw),
        bg AS (SELECT DISTINCT unnest(sh) AS g FROM bsh),
        cg AS (SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS g FROM csh),
        hits AS (SELECT doc_id, n_shingles, count(*) AS n_shared
                 FROM cg JOIN bg USING (g) GROUP BY 1, 2)"""

  private lazy val decontamOracleSql: String =
    s"""WITH $decontamHitsCtes
        SELECT doc_id, n_shingles, n_shared,
               round(n_shared::DOUBLE / n_shingles::DOUBLE, 6) AS contam_ratio,
               round(n_shared::DOUBLE / n_shingles::DOUBLE, 6) >= 0.5 AS contaminated
        FROM hits ORDER BY doc_id"""

  /** PII patterns, restricted to the Java-regex ∩ RE2 common subset
    * (character classes, bounded repetition, `\b`, alternation) so the
    * Spark side and the DuckDB oracle match byte-for-byte. The phone form
    * is the injected fixture shape, not a general-world phone matcher.
    */
  private val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val piiPhoneRe = "\\+\\d{1,2} \\d{3}-\\d{4}"
  private val piiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val piiAnyRe = s"$piiEmailRe|$piiPhoneRe|$piiIpRe"

  // ---- shared DuckDB fragments mirroring LlmOps bit-for-bit ----

  private def duckHash(s: String, seed: String): String =
    s"('0x' || substr(md5($s || ':' || $seed), 1, 15))::BIGINT"

  /** Merge rounds for the bpe_train / bpe_encode keys — ONE constant so
    * the Spark query and the DuckDB oracle's hardcoded n_merges can never
    * drift. COUPLING: the oracle states n_merges = BpeRounds as a literal,
    * which assumes every round finds a pair with count >= 2 (no early
    * stop). That holds at every gated tier (thousands of docs make 20
    * productive merges certain); a corpus small enough to early-stop
    * would surface as an n_merges hash mismatch — regenerate the oracle
    * literal if such a tier is ever gated.
    */
  private val BpeRounds = 20

  /** The bpe_encode oracle: DuckDB TRAINS the same `rounds` BPE merges
    * itself (no literals smuggled from the Spark run), then encodes the
    * corpus with them. One materialized CTE pair per round — m_k is the
    * weighted pair argmax (pc desc, l, r — binary collation, the pinned
    * tie-break), wt_k applies the merge to every word. The merge applies
    * via string replace over a TOKEN-WRAPPED rendering (each symbol
    * wrapped in chr(31) unit separators): non-overlapping left-to-right
    * replace on wrapped tokens is exactly the greedy single-pass BPE
    * merge, including the (a,a) run case — [a,a,a,a] -> [aa,aa]
    * (validated against an independent reference implementation).
    * MATERIALIZED is load-bearing: each round references the previous
    * table twice, so inlined CTEs would expand 2^rounds. Shares the
    * no-early-stop coupling documented on [[BpeRounds]] (the SQL always
    * runs all rounds; the trainer stops at pair count < 2 — at every
    * gated tier round 20's count is in the hundreds).
    */
  private def bpeEncodeOracle(rounds: Int): String = {
    val us = "chr(31)"
    val head = s"""WITH wt_0 AS MATERIALIZED (
        SELECT w, count(*) AS cnt, string_split(w, '') AS syms
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w)"""
    val roundCtes = (1 to rounds).map { k =>
      val p = k - 1
      s"""m_$k AS MATERIALIZED (
        SELECT l, r FROM (
          SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pc FROM (
            SELECT cnt, unnest(syms[1:len(syms)-1]) AS l,
                   unnest(syms[2:len(syms)]) AS r
            FROM wt_$p WHERE len(syms) > 1)
          GROUP BY 1, 2)
        ORDER BY pc DESC, l, r LIMIT 1),
      wt_$k AS MATERIALIZED (
        SELECT w, cnt,
          string_split(substr(rep2, 2, length(rep2) - 2), $us||$us) AS syms
        FROM (
          SELECT w, cnt,
            replace($us||array_to_string(syms, $us||$us)||$us,
                    $us||m.l||$us||$us||m.r||$us,
                    $us||m.l||m.r||$us) AS rep2
          FROM wt_$p, m_$k m))"""
    }
    val tail = s"""dw AS (
        SELECT doc_id, w
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w <> '')
      SELECT d.doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(e.n_tok) AS BIGINT) AS n_tokens,
             CAST(sum(length(d.w)) AS BIGINT) AS n_chars,
             true AS apply_ok
      FROM dw d JOIN (SELECT w, len(syms) AS n_tok FROM wt_$rounds) e
        USING (w)
      GROUP BY d.doc_id ORDER BY d.doc_id"""
    (Seq(head) ++ roundCtes ++ Seq(tail)).mkString(",\n")
  }

  private val duckWords = "string_split(lower(text), ' ')"

  /** words → per-word hash → 32-bit vote simhash, shared by both simhash
    * oracles (expects a `docs` CTE in scope).
    */
  private val duckSimhashCte =
    s"""base AS (SELECT doc_id, $duckWords AS words FROM docs),
        hashed AS (SELECT doc_id,
                     list_transform(words, w -> ${duckHash("w", "'sim'")}) AS hs
                   FROM base),
        simh AS (SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(0, 31),
                     j -> CASE WHEN list_sum(list_transform(hs,
                                  h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                               THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash
                 FROM hashed)"""

  /** 64-lane variant of [[duckSimhashCte]] (mirrors TextOps.simhash64 —
    * lanes 60-63 vote negative with 15-nibble hashes, so no overflow risk
    * in the BIGINT sum: bit 63 is never set).
    */
  private val duckSimhash64Cte =
    s"""base AS (SELECT doc_id, $duckWords AS words FROM docs),
        hashed AS (SELECT doc_id,
                     list_transform(words, w -> ${duckHash("w", "'sim'")}) AS hs
                   FROM base),
        simh64 AS (SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(0, 63),
                     j -> CASE WHEN list_sum(list_transform(hs,
                                  h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                               THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash64
                 FROM hashed)"""

  private val duckShingleCte =
    s"""base AS (SELECT doc_id, text, lang, $duckWords AS words FROM docs),
        sh AS (SELECT doc_id, text, lang, words,
                 CASE WHEN len(words) < 3 THEN [lower(text)]
                      ELSE list_transform(generate_series(1, len(words) - 2),
                             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                 END AS shingles
               FROM base)"""

  private val duckSigCte =
    """sig AS (SELECT doc_id,
                 list_transform([0, 1, 2, 3, 4, 5, 6, 7],
                   j -> list_min(list_transform(
                          list_transform(shingles,
                            s -> ('0x' || substr(md5(s), 1, 8))::BIGINT),
                          h -> ((1 + j * 104729) * h + j * 7919) % 4294967311))) AS sig
               FROM sh)"""

  // int64 band keys mirroring graft_band_hash: md5-prefix-15 of
  // "b|s(b*2+1),s(b*2+2)" over decimal renderings
  private val duckBandCte =
    """bands AS (SELECT doc_id,
                  unnest(list_transform([0, 1, 2, 3],
                    b -> ('0x' || substr(md5(b::VARCHAR || '|' ||
                           sig[b*2+1]::VARCHAR || ',' || sig[b*2+2]::VARCHAR), 1, 15))::BIGINT)) AS band
                FROM sig)"""

  /** Prefixed words→shingles→minhash-sig→band CTE chain over `srcCte`
    * (same bodies as duckShingleCte/duckSigCte/duckBandCte, renamed) — for
    * oracles that need the LSH pipeline on TWO corpora in one query.
    */
  private def duckLshChain(srcCte: String, p: String): String =
    s"""${p}w AS (SELECT doc_id, text, $duckWords AS words FROM $srcCte),
        ${p}sh AS (SELECT doc_id,
                     CASE WHEN len(words) < 3 THEN [lower(text)]
                          ELSE list_transform(generate_series(1, len(words) - 2),
                                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                     END AS shingles
                   FROM ${p}w),
        ${p}sig AS (SELECT doc_id,
                      list_transform([0, 1, 2, 3, 4, 5, 6, 7],
                        j -> list_min(list_transform(
                               list_transform(shingles,
                                 s -> ('0x' || substr(md5(s), 1, 8))::BIGINT),
                               h -> ((1 + j * 104729) * h + j * 7919) % 4294967311))) AS sig
                    FROM ${p}sh),
        ${p}bands AS (SELECT doc_id,
                       unnest(list_transform([0, 1, 2, 3],
                         b -> ('0x' || substr(md5(b::VARCHAR || '|' ||
                                sig[b*2+1]::VARCHAR || ',' || sig[b*2+2]::VARCHAR), 1, 15))::BIGINT)) AS band
                     FROM ${p}sig)"""

  val qs: Map[String, Q] = Map(
    // exact dedup: group by content hash, keep the smallest id
    "dedup_exact" -> ((s, d) =>
      docsWithDups(t(s, d, "documents"))
        .groupBy(md5(col("text")).as("content_md5"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
        .filter(col("n") > 1)
        .orderBy(col("content_md5"))),

    // takedown / right-to-be-forgotten purge (r12): the deletion-request
    // table here is every doc_id % 97 == 0 — 6 ids at sf0.01 (the
    // ≤256-id regime: a plain NOT-IN scan filter, no join), ~515 at sf1
    // (the anti-join regime) — so the two gate tiers exercise BOTH
    // purgeByIds regimes against the same oracle.
    "purge_by_ids" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val requests = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"))
      LlmOps.purgeByIds(docs, requests, "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // MinHash+LSH banded near-dup candidates (shuffle on band hash)
    "dedup_minhash" -> ((s, d) =>
      LlmOps.minhashCandidates(docsWithDups(t(s, d, "documents")), "doc_id")
        .orderBy(col("a"), col("b"))),

    // SimHash bucket pairs (equal 32-bit simhash), generated by GROUPING on
    // the hash instead of self-joining: one documents scan, one shuffle,
    // pairs exploded inside each group, no cached state. Bucket size picks
    // the form (docs/NOTES.md r7): equality buckets ARE duplicate clusters
    // — small — so the grouped form wins here (the tokenize+simhash chain
    // runs once; the r6 persist+count paid an extra materialization job,
    // an uncached self-join pays the chain per side). The big-bucket
    // counterexample keeping its streaming self-join is
    // dedup_simhash_hamming below.
    "dedup_simhash" -> ((s, d) =>
      LlmOps.withSimhash(LlmOps.withWords(docsWithDups(t(s, d, "documents"))))
        .groupBy(col("simhash"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1)
        .select(col("simhash"), explode(expr(
          """flatten(transform(ids, (x, i) ->
               transform(slice(ids, i + 2, size(ids) - i - 1),
                         y -> struct(x AS a, y AS b))))""")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("simhash"))
        .orderBy(col("a"), col("b"))),

    // SimHash near-dups within hamming radius 2 — the block-pigeonhole
    // search the equality bucket (dedup_simhash) can't express: split the
    // 32-bit simhash into 3 blocks (radius+1, so any pair within distance
    // 2 agrees on >= 1 whole block), equi-join on (block_ix, block_value),
    // then filter bit_count(xor) <= 2. Still an equi-join on a bucket key
    // — never all-pairs — with the hamming check narrow on candidates.
    // Scale note: ~11-bit blocks bound buckets only while corpus << 2^11
    // per block value; at millions of docs use dedup_simhash_hamming64
    // below (64-lane hash, 20-bit blocks, expected bucket N/2^20) — same
    // plan shape, wider hash. This 32-bit form stays as the cheap
    // small-corpus variant.
    "dedup_simhash_hamming" -> ((s, d) =>
      // The 32-bit variant keeps the STREAMING self-join (uncached): 11-bit
      // blocks make buckets big (~N/2^11 members), and the grouped form's
      // per-bucket pair array materialization loses to the codegen'd join
      // there (measured within one session at sf0.1: self-join 1.33 s,
      // grouped 1.51 s, r6's persist+count 1.56 s). Rule: bucket size picks
      // the form; no corpus-size crossover between the two keys is
      // measured, so the caller picks the 32-bit or the 64-lane key.
      LlmOps.simhashNearDups32(docsWithDups(t(s, d, "documents")))
        .orderBy(col("a"), col("b"))),

    // the 64-lane scale form of the hamming search (VERDICT r4 #4): same
    // plan shape — block equi-join, never all-pairs — but 20-bit blocks
    // over a 60-effective-bit simhash, so expected bucket size is N/2^20
    // per block value instead of N/2^11. Blocks are 20/20/20 over bits
    // 0-59; lanes 60-63 are structurally zero (15-nibble element hashes),
    // so any radius-2 pair still agrees on >= 1 whole block.
    "dedup_simhash_hamming64" -> ((s, d) =>
      // grouped pair generation over 20-bit blocks (expected bucket
      // N/2^20); the 60-bit mask keeps Spark's `div` (truncate) and
      // DuckDB's `//` (floor) on the same non-negative domain — full
      // rationale on LlmOps.simhashNearDups64.
      LlmOps.simhashNearDups64(docsWithDups(t(s, d, "documents")))
        .orderBy(col("a"), col("b"))),

    // exact n-gram Jaccard over LSH candidates (verify step after banding)
    "dedup_ngram_jaccard" -> ((s, d) =>
      LlmOps.batchNearDups(docsWithDups(t(s, d, "documents")), "doc_id", 0.5)
        .orderBy(col("a"), col("b"))),

    // edit-distance verify tier over the same LSH candidates: normalized
    // Levenshtein ≤ 0.2 (the byte-level near-dup check — catches small
    // in-place edits that shift every downstream shingle, where n-gram
    // Jaccard under-scores). O(len²) per pair, so it runs on banded
    // candidates ONLY, never all pairs; levenshtein is a codegen'd
    // built-in on both engines.
    //
    // r15 (result-identical, measured 6.5 s → 3.9 s at sf0.1): the final
    // filter accepts a pair iff round6(dist/ml) <= 0.2, i.e. iff
    // dist < 0.2000005·ml — so (a) a pair whose LENGTH GAP already
    // exceeds that bound can never pass (levenshtein >= |len(a)-len(b)|)
    // and is dropped before the O(len²) kernel runs, and (b) the kernel
    // itself runs BANDED via levenshtein's threshold form at
    // trunc(0.2000005·ml)+1 — O(len·k) instead of O(len²), returning the
    // exact distance for every distance that can pass and -1 (dropped;
    // it would have failed the ratio filter) above the band. Survivor
    // rows and their dist values are bit-identical to the unbounded
    // form; the oracle pins it.
    "dedup_edit_distance" -> ((s, d) => {
      val docs = docsWithDups(t(s, d, "documents"))
      val cands = LlmOps.minhashCandidates(docs, "doc_id")
      // the pair list broadcasts onto the text table, so the levenshtein
      // kernel runs in the TEXT side's stage — spread it (r15): on a
      // one-row-group corpus it is otherwise a single task
      val texts = LlmOps.spreadSmall(docs.select(col("doc_id"), col("text")))
      cands
        .join(texts.select(col("doc_id").as("a"), col("text").as("ta")), "a")
        .join(texts.select(col("doc_id").as("b"), col("text").as("tb")), "b")
        .select(col("a"), col("b"), col("ta"), col("tb"),
          greatest(length(col("ta")), length(col("tb"))).cast("double").as("ml"))
        .filter(abs(length(col("ta")) - length(col("tb"))).cast("double") <=
          col("ml") * 0.2000005)
        .select(col("a"), col("b"),
          expr("levenshtein(ta, tb, cast(ml * 0.2000005 as int) + 1)")
            .cast("bigint").as("dist"),
          col("ml"))
        .filter(col("dist") >= 0) // threshold form returns -1 above the band
        .select(col("a"), col("b"), col("dist"),
          LlmOps.round6(col("dist").cast("double") / col("ml")).as("edit_ratio"))
        .filter(col("edit_ratio") <= 0.2)
        .orderBy(col("a"), col("b"))
    }),

    // CCNet paragraph-level dedup: fixed 10-word segments, a segment
    // drops from EVERY doc when its hash repeats corpus-wide. The
    // frequency pass is a map-combined agg (a 10^9×-duplicated
    // boilerplate paragraph collapses map-side — the skew-safe
    // counterpart to the ExactSubstr span tier; see
    // LlmOps.paragraphDedup's scale note).
    "dedup_paragraph" -> ((s, d) =>
      LlmOps.paragraphDedup(docsWithDups(t(s, d, "documents")), "doc_id")
        .orderBy(col("doc_id"))),

    // embedding cosine near-dups within an IVF-style bucket (cluster label)
    "dedup_embedding_cos" -> ((s, d) =>
      LlmOps.embeddingNearDups(embWithDups(t(s, d, "embeddings")), 0.95)
        .orderBy(col("a"), col("b"))),

    // modality-native IMAGE dedup: dHash over the decoded pixel grid (the
    // 8×8 thumbnail stand-in), hamming-bucketed by the same 3-block
    // pigeonhole dedup_simhash_hamming64 proved — catches re-uploads
    // (hamming 0) and small edits (the swapped-pixel twins, hamming ≤ 2)
    // without touching text or provided embeddings
    "dedup_image_phash" -> ((s, d) =>
      LlmOps.imagePhashNearDups(imagesWithDups(t(s, d, "embeddings")), "vec_id")
        .orderBy(col("a"), col("b"))),

    // modality-native AUDIO dedup: time-normalized frame-energy envelope
    // (graft_frame_energy, one codegen'd pass) → sign-of-delta fingerprint
    // (graft_dhash) → the same 3-block hamming pigeonhole — catches exact
    // re-uploads AND sample-level glitches md5 misses (the transposed-
    // sample twins fingerprint IDENTICALLY)
    "dedup_audio_fp" -> ((s, d) =>
      LlmOps.audioFingerprintNearDups(audioWithDups(t(s, d, "documents")))
        .orderBy(col("a"), col("b"))),

    // modality-native VIDEO dedup: frame-fingerprint sets + shared-frame
    // Jaccard via a postings-list inverted index (grouped in-bucket pair
    // generation, stop-frame cap) — catches re-uploads and end-trims
    "dedup_video_frames" -> ((s, d) =>
      LlmOps.videoFrameNearDups(videosWithDups(t(s, d, "documents")))
        .orderBy(col("a"), col("b"))),

    // CROSS-MODAL cluster collapse: text-LSH ∪ image-dHash ∪ audio-
    // fingerprint ∪ video-shared-frame edges → one connected-components
    // pass; transitive linkage across modalities, cluster_id = smallest
    // member id
    "dedup_multimodal" -> ((s, d) =>
      LlmOps.multimodalClusters(docsWithDups(t(s, d, "documents")),
          imagesWithDups(t(s, d, "embeddings")))
        .orderBy(col("doc_id"))),

    // brute-force cosine top-k around the vec_id=0 query vector
    "sim_search_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      LlmOps.cosineTopK(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), 10)
    }),

    // int8-quantized two-stage search: rank by code-vector cosine (scale
    // cancels — no dequantization), rescore the overfetched survivors in
    // float; the 4×-narrower scan is the bandwidth path for brute force
    "sim_search_quantized" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      LlmOps.quantizedSearch(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), 10)
    }),

    // product-quantized ADC search (m=4 subspaces × ks=4 codes, L2-Lloyd
    // codebooks): the query builds an m·ks dot-product LUT, every vector
    // scores as the fixed-order sum of its m code entries, the overfetched
    // survivors rescore in exact float — the 32×-narrower scan path
    // (m bytes/vector at production m=8/ks=256 vs dim×4 float)
    "sim_search_pq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      LlmOps.pqSearch(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), 10)
    }),

    // IVF+PQ (IVFADC — the composition production ANN serves from): the
    // coarse IVF quantizer prunes the scan to the query's nprobe=2 best
    // trained cells, the PQ ADC LUT ranks ONLY the codes rows in them,
    // exact float rescore of the survivors — double pruning (cells ×
    // code width), per-query bytes = (nprobe/c) · m ints per vector
    "sim_search_ivfpq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      LlmOps.pqSearchIvf(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), 10)
    }),

    // the trained PQ codebook table: per-(sub, code) occupancy under the
    // NARROW encoder (pqEncode — so the oracle cross-checks the join-free
    // encode path against the training assignment) + centroid norms
    "pq_train_codebooks" -> ((s, d) => {
      val e = t(s, d, "embeddings").filter(col("vec_id") =!= 0)
      val cbs = LlmOps.pqTrainCodebooks(e, m = 4, ks = 4, iters = 2)
      val counts = LlmOps.pqEncode(e, cbs, m = 4)
        .select(posexplode(col("codes")).as(Seq("sub", "code")))
        .groupBy(col("sub"), col("code"))
        .agg(count(lit(1)).as("n_assigned"))
      cbs.join(counts, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
          LlmOps.round6(sqrt(LlmOps.dot("cvec", "cvec"))).as("cnorm"))
        .orderBy(col("sub"), col("code"))
    }),

    // cluster collapse: connected components over the LSH candidate pairs —
    // the keep-one-per-duplicate-cluster step after candidate generation
    "dedup_clusters" -> ((s, d) =>
      candidateClusters(docsWithDups(t(s, d, "documents")),
        LlmOps.distributedClustersStar(_, _, _))
        .orderBy(col("doc_id"))),

    // the same operator with a zero driver budget, so the pairs never
    // reach the driver: alternating large-star/small-star contraction
    // (SoCC'14), O(log² n) rounds on ANY topology (label propagation
    // needs diameter rounds; a 10⁶-doc near-dup CHAIN is its worst case
    // and this path's design case). Same min-id labels as dedup_clusters
    // — same oracle, so the oracle keeps checking the star rounds.
    "dedup_clusters_dist" -> ((s, d) =>
      candidateClusters(docsWithDups(t(s, d, "documents")),
        LlmOps.distributedClustersStar(_, _, _, driverEdgeBudgetBytes = 0L))
        .orderBy(col("doc_id"))),

    // the dedup AUDIT report: cluster-size histogram + the doc share a
    // keep-one collapse would remove at each size — the number a curation
    // owner reads before choosing hard drop / best-keeper / soft weights
    "dedup_cluster_stats" -> ((s, d) =>
      LlmOps.clusterSizeStats(
        candidateClusters(docsWithDups(t(s, d, "documents")),
          LlmOps.distributedClustersStar(_, _, _)),
        "doc_id")),

    // soft dedup: keep EVERY doc but weight it 1/cluster_size, so a
    // doc duplicated k× contributes one doc's worth of training loss in
    // expectation (the downweight-instead-of-drop recipe — sampling with
    // these weights reproduces hard dedup in expectation while keeping
    // intra-cluster variants available). Plan: cluster sizes are one
    // map-combined agg on cluster_id, joined back on the same key — the
    // join shuffles on cluster_id, already the clusters frame's natural
    // key, and no step holds a cluster in one task.
    "dedup_weights" -> ((s, d) => {
      val clusters = candidateClusters(docsWithDups(t(s, d, "documents")),
        LlmOps.distributedClustersStar(_, _, _))
      val sizes = clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      clusters.join(sizes, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_size"),
          LlmOps.round6(lit(1.0) / col("cluster_size")).as("weight"))
        .orderBy(col("doc_id"))
    }),

    // token-frequency head: the tokenizer-training corpus statistic
    // (vocabulary induction starts from exactly this table). Explode →
    // map-combined count — the Zipf head collapses map-side, so the
    // shuffle carries ≈ distinct-token rows per task, not corpus tokens —
    // then a TakeOrdered top-k with a total (cnt, token) order so the
    // cut is deterministic under ties.
    "vocab_topk" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(100)),

    // BPE vocabulary induction (r14): the merge loop vocab_topk's
    // frequency head feeds — 20 rounds of weighted adjacent-pair argmax
    // over the distinct-word table (corpus read ONCE; every round is
    // word-table-sized, map-combined, with a codegen'd single-pass merge
    // kernel). First merge + base vocab are hash-exact in SQL; the
    // sequential-loop facts are envelope booleans (count monotonicity,
    // vocab growth bound, byte-exact round-trip of every word)
    // driver budget sized DELIBERATELY for this box (local[32]/128 GiB —
    // the sf1 word table estimates ~0.8 GB): the in-memory incremental
    // trainer is the production regime whenever the deduped word table
    // fits the driver; a 100 TB word table (~10⁸ words) estimates well
    // past any budget and takes the distributed rounds
    "bpe_train" -> ((s, d) =>
      LlmOps.bpeTrainReport(t(s, d, "documents"), rounds = BpeRounds,
        driverWordBudgetBytes = 4L << 30)),

    // the APPLY half of bpe_train (r14 VERDICT item 3 — the fit/apply
    // pattern embedding_pca completed): encode the corpus with the
    // trained merge table and report per-doc token counts. Scale shape:
    // the merge table applies to the DISTINCT-word table only (the same
    // Zipf collapse training rides — <= BpeRounds stacked codegen'd
    // graft_bpe_merge kernels over word-table-sized rows, never corpus
    // rows), then ONE corpus-sized equi-join from exploded doc words to
    // the encoded words + one map-combined per-doc aggregate. apply_ok
    // is the in-query fit/apply parity harness: the multiset FINGERPRINT
    // (count + Σ md5-term per (word, symbols) row — bpeSymsFingerprint)
    // of the re-encoded distinct words must equal the trainer's own
    // final symbol table's. Fingerprints, not a join: the driver regime
    // hands its half over for free from the training audit loop, where
    // joining the word-table-sized LocalRelation through Spark measured
    // 15-17 s at sf1 (single-threaded driver serialization); the
    // distributed regime computes both halves as one cheap aggregate
    // each. The oracle is fully independent: it TRAINS the same 20
    // rounds in SQL (materialized CTE chain; greedy merge via
    // token-wrapped string replace) and derives every count from its
    // own encoding.
    "bpe_encode" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (merges, wcFinal, auditOpt) = LlmOps.bpeTrainFull(docs, BpeRounds,
        driverWordBudgetBytes = 4L << 30)
      val (trainN, trainFp) = auditOpt match {
        case Some(a) => (a.wordCount, a.symsFp)
        case None => LlmOps.bpeSymsFingerprint(wcFinal, "w", "syms")
      }
      val words = docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "").distinct()
      val enc = LlmOps.bpeEncode(words, merges).localCheckpoint()
      val (encN, encFp) = LlmOps.bpeSymsFingerprint(enc, "w", "tokens")
      val applyOk = encN == trainN && encFp == trainFp
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(enc.select(col("w"), size(col("tokens")).as("n_tok")), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_tok")).as("n_tokens"),
          sum(length(col("w"))).as("n_chars"))
        .withColumn("apply_ok", lit(applyOk))
        .orderBy(col("doc_id"))
    }),

    // IVF two-stage ANN: centroid build → probe best 2 cells → exact search
    // inside them (the scale path; brute force is sim_search_topk)
    "sim_search_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      LlmOps.ivfSearch(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), nprobe = 2, k = 10)
    }),

    // hyperplane-LSH ANN (the banding alternative to IVF): integer-exact
    // sign projections over the int8-quantized codes, band equi-join
    // against the broadcast query, exact cosine re-rank of candidates only
    "sim_search_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      LlmOps.lshSearch(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), k = 10)
    }),

    // benchmark decontamination: corpus docs sharing 3-gram shingles with
    // the held-out set (originals with id%10==0 play the benchmark; their
    // re-injected twins >= 100000 are the planted leaks)
    "decontaminate_ngram" -> ((s, d) => {
      val all = docsWithDups(t(s, d, "documents"))
      val bench = all.filter(col("doc_id") < 100000 && col("doc_id") % 10 === 0)
      val corpus = all.filter(col("doc_id") >= 100000 || col("doc_id") % 10 =!= 0)
      LlmOps.decontaminate(corpus, bench, "doc_id", threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // same contamination report via the bloom-prefilter path (the shape for
    // benchmark sides beyond broadcast size); bit-identical result to
    // decontaminate_ngram — bloom false positives die in the verify join —
    // so it shares that query's oracle
    "decontaminate_bloom" -> ((s, d) => {
      val all = docsWithDups(t(s, d, "documents"))
      val bench = all.filter(col("doc_id") < 100000 && col("doc_id") % 10 === 0)
      val corpus = all.filter(col("doc_id") >= 100000 || col("doc_id") % 10 =!= 0)
      LlmOps.decontaminateBloom(corpus, bench, "doc_id", threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // the end product of decontamination (the analog of dedup_corpus for
    // the dedup family): the corpus with contaminated docs removed. The
    // flagged set is CONTAMINATION-proportional, so LlmOps.purge counts it
    // against a byte gate and only broadcasts the anti-join side under
    // budget (clean corpus — this fixture); over budget the hint drops to
    // a plain shuffled anti-join (adversarial regime, same rows).
    "decontaminate_purge" -> ((s, d) => {
      val all = docsWithDups(t(s, d, "documents"))
      val bench = all.filter(col("doc_id") < 100000 && col("doc_id") % 10 === 0)
      val corpus = all.filter(col("doc_id") >= 100000 || col("doc_id") % 10 =!= 0)
      val flagged = LlmOps.decontaminate(corpus, bench, "doc_id", threshold = 0.5)
        .filter(col("contaminated")).select(col("doc_id"))
      LlmOps.purge(corpus, flagged, "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // per-benchmark-item attribution (the report read AFTER decontaminate
    // flags leaks): which held-out items leaked, into how many corpus
    // docs, and how strongly — per-pair ratios, rolled up by bench id
    "contamination_report" -> ((s, d) => {
      val all = docsWithDups(t(s, d, "documents"))
      val bench = all.filter(col("doc_id") < 100000 && col("doc_id") % 10 === 0)
      val corpus = all.filter(col("doc_id") >= 100000 || col("doc_id") % 10 =!= 0)
      LlmOps.contaminationReport(corpus, bench, "doc_id", threshold = 0.5)
        .orderBy(col("bench_id"))
    }),

    // the end-to-end pre-export pipeline as ONE operator: best-keeper
    // dedup → benchmark decontamination → token-count gate → seeded shard
    // assignment — the "what ships to training" manifest a user of the
    // reference would otherwise hand-chain; every stage keeps its
    // standalone caps/gates, and the composition adds no new shuffle
    "training_manifest" -> ((s, d) => {
      val all = docsWithDups(t(s, d, "documents"))
      val bench = all.filter(col("doc_id") < 100000 && col("doc_id") % 10 === 0)
      val corpus = all.filter(col("doc_id") >= 100000 || col("doc_id") % 10 =!= 0)
      LlmOps.trainingManifest(corpus, bench, "doc_id")
        .orderBy(col("shard"), col("ord"), col("doc_id"))
    }),

    // paraphrase-level decontamination: corpus docs near-duplicating ANY
    // benchmark doc (cross-corpus MinHash-LSH candidates + exact Jaccard
    // verify) — catches whole-doc copies that per-gram overlap counting
    // under-weights once boilerplate dilutes the shingle set
    "decontaminate_minhash" -> ((s, d) => {
      val all = docsWithDups(t(s, d, "documents"))
      val bench = all.filter(col("doc_id") < 100000 && col("doc_id") % 10 === 0)
      val corpus = all.filter(col("doc_id") >= 100000 || col("doc_id") % 10 =!= 0)
      LlmOps.decontaminateMinhash(corpus, bench, "doc_id", threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // PII scrubbing: email/phone/IPv4 redaction + per-doc PII count. The
    // fixture text carries no PII, so each doc gets a deterministic
    // injected triple (both engines construct the identical string) — the
    // regexes are exercised for real, not vacuously green on no-op rows.
    // Patterns are restricted to syntax with identical semantics in Java
    // regex and RE2 (character classes, bounded repetition, \b).
    "pii_redact" -> ((s, d) =>
      // spreadSmall (r15): three regex passes per row are the kernel cost
      LlmOps.spreadSmall(t(s, d, "documents"))
        .select(col("doc_id"), concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")
        ).as("raw"))
        .withColumn("n_pii",
          size(regexp_extract_all(col("raw"), lit(piiAnyRe), lit(0))))
        .withColumn("clean",
          regexp_replace(
            regexp_replace(
              regexp_replace(col("raw"), lit(piiEmailRe), lit("<EMAIL>")),
              lit(piiPhoneRe), lit("<PHONE>")),
            lit(piiIpRe), lit("<IP>")))
        .select(col("doc_id"), col("n_pii"), col("clean"))
        .orderBy(col("doc_id"))),

    // sequence packing (concat-then-chunk): each doc gets its token start
    // offset in its language's packed stream and the 64-token bin that
    // offset lands in — the standard pretraining packing bookkeeping.
    // Packing is inherently order-dependent; the scale posture is the
    // TWO-LEVEL prefix sum in LlmOps.packSequences (per-(lang, shard)
    // local windows + a tiny per-shard base-offset aggregate), never a
    // window partitioned on low-cardinality `lang` alone. shardWidth=16
    // exercises the multi-shard path even at sf0.001 (~50 docs); the
    // output is width-invariant.
    "pack_sequences" -> ((s, d) =>
      LlmOps.packSequences(t(s, d, "documents"), shardWidth = 16L)
        .orderBy(col("doc_id"))),

    // epoch mixing — the other half of domain weighting: rare strata are
    // UPsampled by an integer epoch factor (en ×1, others ×2 here). A
    // narrow generator explode, no shuffle; composes with
    // sample_stratified (downsampling) to hit arbitrary mixture weights.
    "mix_epochs" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("n_epochs",
          when(col("lang") === "en", lit(1)).otherwise(lit(2)))
        .withColumn("epoch", explode(expr("sequence(0, n_epochs - 1)")))
        .select(col("doc_id"), col("lang"), col("n_epochs"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),

    // overlapping context-window chunking (window 40 tokens, stride 30):
    // each doc explodes into its chunk table — the RAG/pretraining
    // chunker. Narrow generator, chunk count ~n_tokens/stride per doc.
    "chunk_overlap" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("start", explode(expr("sequence(0, n_tokens - 1, 30)")))
        .withColumn("chunk_id", expr("start div 30"))
        .withColumn("chunk_len", least(lit(40), col("n_tokens") - col("start")))
        .select(col("doc_id"), col("chunk_id"), col("start"),
          col("chunk_len"), col("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // deterministic stratified sampling — the domain/language-mixing
    // primitive of a pretraining pipeline: keep P(lang) of each stratum,
    // decided per row by a content-stable md5 bucket (no RNG, no seed
    // drift across engines or re-runs; the same row always lands on the
    // same side, so incremental re-samples are stable). Narrow filter,
    // zero shuffle, fully pushdown-friendly at 100 TB.
    "sample_stratified" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("bucket",
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2))
        .where(col("bucket") < when(col("lang") === "en", lit("1a")).otherwise(lit("80")))
        .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
        .orderBy(col("doc_id"))),

    // deterministic holdout-split manifest (r13): every doc lands in
    // exactly one of train/valid/test by a CONTENT-STABLE md5 bucket
    // (250/3/3 of 256) — recrawls and cluster-size changes never move a
    // doc across the split boundary, the property that prevents
    // eval-set leakage over time. The hash input is salted ('split:')
    // so split membership is independent of sample_stratified's
    // sampling buckets. One narrow per-row hash + one map-combined agg;
    // report-sized output.
    "split_manifest" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("b", substring(
          md5(concat(lit("split:"), col("doc_id").cast("string")).cast("binary")),
          1, 2))
        .withColumn("split",
          when(col("b") < "fa", "train")
            .when(col("b") < "fd", "valid").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split"), col("lang"))),

    // Gopher-style repetition signal: duplicate word-3-gram fraction per
    // doc (narrow per-row maps, no shuffle)
    "quality_repetition" -> ((s, d) =>
      LlmOps.withShingles(LlmOps.withWords(
          LlmOps.spreadSmall(docsWithDups(t(s, d, "documents")))))
        .select(col("doc_id"),
          size(col("shingles")).as("n_grams"),
          size(array_distinct(col("shingles"))).as("n_distinct"))
        .withColumn("rep_ratio",
          LlmOps.round6((col("n_grams") - col("n_distinct")).cast("double") /
            col("n_grams").cast("double")))
        .withColumn("repetitive", col("rep_ratio") > 0.05)
        .orderBy(col("doc_id"))),

    // the end product of dedup: the surviving corpus — one canonical
    // (min-id) doc per duplicate cluster, non-duplicates untouched. Each
    // row carries capped_lsh_buckets (buckets the maxBucket cap excluded
    // from pairing) so capped coverage is never a silent gap.
    "dedup_corpus" -> ((s, d) =>
      LlmOps.dedupCorpus(docsWithDups(t(s, d, "documents")), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("capped_lsh_buckets"))
        .orderBy(col("doc_id"))),

    // best-keeper collapse: each near-dup cluster keeps its LONGEST
    // member (ties to smallest id) — the fixture's %20 copies carry a
    // ' tail', so for those clusters the COPY survives, not the
    // original: a materially different output from dedup_corpus's
    // keep-smallest-id
    "dedup_corpus_best" -> ((s, d) =>
      LlmOps.dedupCorpusBest(docsWithDups(t(s, d, "documents")), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("capped_lsh_buckets"))
        .orderBy(col("doc_id"))),

    // quality-weighted soft sampling: keep probability = LM score mapped
    // onto [lo, hi], decision = content-stable md5 draw (no RNG) — the
    // gradient form of the quality filter (tails survive at low rate)
    "sample_quality_weighted" -> ((s, d) =>
      LlmOps.qualityWeightedSample(t(s, d, "documents"),
          lo = -2.405, scale = 8.0, vocabK = 1024)
        .orderBy(col("doc_id"))),

    // k-NN join: top-3 neighbors of EVERY vector within its bucket (the
    // corpus-wide batch form of similarity search; sim_search_topk is the
    // single-query form)
    "sim_knn_join" -> ((s, d) =>
      LlmOps.knnJoin(t(s, d, "embeddings"), 3)
        .orderBy(col("a"), col("rank"))),

    // winnowing fingerprints (MOSS): per-doc fingerprint-set summary
    "text_winnow" -> ((s, d) =>
      LlmOps.withWinnowFingerprints(t(s, d, "documents"))
        .select(col("doc_id"),
          size(col("wins")).as("n_windows"),
          size(col("fps")).as("n_fp"),
          array_min(col("fps")).as("fp_min"),
          array_max(col("fps")).as("fp_max"))
        .orderBy(col("doc_id"))),

    // the streaming ingest pipeline's stateless stage, batch-checked: the
    // same gateAndFingerprint that runs on the unbounded source (quality
    // gate + winnow fingerprint + content hash) — IngestPipelineSpec
    // proves batch/stream agnosticism, this row proves the values
    "ingest_gate" -> ((s, d) =>
      graft.stream.IngestPipeline.gateAndFingerprint(
          t(s, d, "documents"),
          graft.stream.IngestPipeline.Config(
            originPath = "", targetPath = "", checkpoint = ""))
        .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
          col("passes"), col("fingerprint"), col("content_h"))
        .orderBy(col("doc_id"))),

    // per-doc text analysis: token counts, stopword ratio, quality, lang
    // guess, minhash fingerprint
    "text_stats" -> ((s, d) =>
      LlmOps.textStats(t(s, d, "documents"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_tokens_re"),
          col("stop_hits"), col("stop_ratio"), col("lang_guess"), col("quality"),
          col("fingerprint"))
        .orderBy(col("doc_id"))),

    // pretraining-style quality gate (Gopher-rule shape): token-count
    // bounds, mean word length bounds, stopword-ratio and symbol-ratio
    // caps; emits per-doc pass/fail with the failing rule for auditability
    "text_quality_filter" -> ((s, d) =>
      LlmOps.withWords(LlmOps.spreadSmall(t(s, d, "documents")))
        .withColumn("n_tokens", size(col("words")))
        .withColumn("mean_wlen",
          LlmOps.round6(octet_length(concat_ws("", col("words"))).cast("double") /
            col("n_tokens").cast("double")))
        .withColumn("stop_ratio",
          LlmOps.round6(expr("size(filter(words, w -> w in ('the', 'a')))").cast("double") /
            col("n_tokens").cast("double")))
        // graft_symbol_bytes == octet_length(text) - octet_length(
        // regexp_replace(text, '[^A-Za-z0-9 ]', '')) (spec-pinned), minus
        // the per-row regex engine — the regex form measured at half this
        // query's sf1 runtime (NOTES.md)
        .withColumn("symbol_ratio",
          LlmOps.round6(expr("graft_symbol_bytes(text)").cast("double") /
            octet_length(col("text")).cast("double")))
        .withColumn("fail_rule",
          when(!col("n_tokens").between(20, 90), "token_count")
            .when(!col("mean_wlen").between(2.0, 12.0), "word_length")
            .when(col("stop_ratio") > 0.12, "stopword_ratio")
            .when(col("symbol_ratio") > 0.2, "symbol_ratio"))
        .select(col("doc_id"), col("n_tokens"), col("mean_wlen"),
          col("stop_ratio"), col("symbol_ratio"),
          col("fail_rule").isNull.as("passes"), col("fail_rule"))
        .orderBy(col("doc_id"))),

    // language distribution (the corpus-level half of text_stats)
    "lang_dist" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("lang"))),

    // int8 scalar quantization of embeddings (per-vector max-abs scale) —
    // the 4x storage/bandwidth saver an ANN index applies before sharding;
    // emits the scale, a code checksum and the max reconstruction error.
    // floor(x + 0.5) instead of round(): Spark rounds HALF_UP, DuckDB
    // differs — floor is portable. `scale` is deliberately also in the
    // output so CollapseProject keeps it an attribute (a computed column
    // referenced inside a lambda body would otherwise be re-inlined per
    // element).
    // embedding-table QA gate (run BEFORE any index build): dim range,
    // NaN/zero-vector counts, norm percentiles — one aggregate; the
    // percentile form auto-selects by plan stats (exact here at sf scale)
    "embedding_health" -> ((s, d) =>
      LlmOps.embeddingHealth(t(s, d, "embeddings"), "embedding")),

    // the 100 TB regime of embedding_health, FORCED at sf scale so the
    // gate sees it: approx_percentile (merge-able sketch, bounded buffer
    // — no single-task value multiset) with an in-query exact harness;
    // norms_ok pins each approx percentile within 5% of exact, the
    // structural counts stay hash-exact against DuckDB
    "embedding_health_approx" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val ap = LlmOps.embeddingHealth(emb, "embedding",
        exactPercentiles = Some(false))
      val ex = LlmOps.embeddingHealth(emb, "embedding",
          exactPercentiles = Some(true))
        .select(col("norm_p01").as("e01"), col("norm_p50").as("e50"),
          col("norm_p99").as("e99"))
      def ok(a: String, e: String) =
        abs(col(a) - col(e)) <= abs(col(e)) * lit(0.05)
      ap.crossJoin(broadcast(ex)).select(
        col("n_vecs"), col("dim_min"), col("dim_max"),
        col("n_nan"), col("n_zero"),
        (ok("norm_p01", "e01") && ok("norm_p50", "e50") &&
          ok("norm_p99", "e99")).as("norms_ok"))
    }),

    "embed_quantize" -> ((s, d) =>
      t(s, d, "embeddings")
        .withColumn("scale", expr(
          "greatest(array_max(transform(embedding, v -> abs(cast(v as double)))) / 127.0, 1e-30d)"))
        .withColumn("codes", expr(
          "transform(embedding, v -> cast(floor(cast(v as double) / scale + 0.5d) as int))"))
        .select(col("vec_id"),
          LlmOps.roundAt(col("scale"), 9).as("scale_r"),
          expr("aggregate(codes, 0, (acc, c) -> acc + c)").as("code_sum"),
          LlmOps.roundAt(expr(
            "array_max(zip_with(codes, embedding, (c, v) -> abs(c * scale - cast(v as double))))"),
            9).as("max_err"),
          size(col("codes")).as("dim"))
        .orderBy(col("vec_id"))),

    // multimodal: text metadata ⋈ vector metadata on the shared id
    "multimodal_cols" -> ((s, d) =>
      t(s, d, "documents")
        .join(t(s, d, "embeddings"), col("doc_id") === col("vec_id"), "inner")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
          size(col("embedding")).as("dim"))
        .orderBy(col("doc_id"))),

    // spherical k-means training summary: per trained cell, the assigned
    // population and the centroid norm — the index-build step of the
    // trained-IVF family (sim_search_ivf trusts the data's label column;
    // this learns cells from the vectors, so unlabeled corpora work too)
    "ivf_train_kmeans" -> ((s, d) => {
      val e = t(s, d, "embeddings").filter(col("vec_id") =!= 0)
      val cents = LlmOps.kmeansCentroids(e, c = 4, iters = 2)
      LlmOps.kmeansAssignTo(e, cents)
        .groupBy(col("cid")).agg(count(lit(1)).as("n_assigned"))
        .join(cents, "cid")
        .select(col("cid"),
          col("n_assigned"),
          LlmOps.round6(sqrt(expr("graft_dot(cvec, cvec)"))).as("cnorm"))
        .orderBy(col("cid"))
    }),

    // IVF ANN over TRAINED cells: k-means (c=4, 2 Lloyd iterations) →
    // probe best 2 trained cells → exact search inside them
    "sim_search_ivf_kmeans" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      LlmOps.ivfSearchKmeans(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), c = 4, iters = 2, nprobe = 2, k = 10)
    }),

    // char-trigram LM quality score (the CCNet-style filter signal): avg
    // log10 gram probability under the corpus's own trigram model,
    // truncated to the top-1024 grams, OOV floored at half a count
    "quality_lm_score" -> ((s, d) =>
      LlmOps.lmScore(t(s, d, "documents"), vocabK = 1024)
        .orderBy(col("doc_id"))),

    // the score-DISTRIBUTION read that precedes sample_quality_weighted's
    // temperature choice: fixed-width log10 buckets (floor of avg_logp) —
    // a map-combined agg over report-sized output, never an ntile (a
    // global sort for a histogram is the classic scale mistake). floor of
    // the round6'd score is engine-stable: both sides floor the SAME
    // rounded double.
    "quality_histogram" -> ((s, d) =>
      LlmOps.lmScore(t(s, d, "documents"), vocabK = 1024)
        .select(floor(col("avg_logp")).cast("bigint").as("bucket"),
          col("avg_logp"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          LlmOps.round6(avg(col("avg_logp"))).as("mean_logp"))
        .orderBy(col("bucket"))),

    // incremental dedup: corpus signatures persisted ONCE to a parquet
    // signature store; the new batch (the injected twins) is the only side
    // that pays text cost — it probes the store's band table, and the
    // exact-Jaccard verify re-shingles only candidate corpus docs
    "dedup_incremental" -> ((s, d) => {
      val all = docsWithDups(t(s, d, "documents"))
      val corpus = all.filter(col("doc_id") < 100000L)
      val batch = all.filter(col("doc_id") >= 100000L)
      val store = scratch("dedup_incremental_sigstore", d)
      LlmOps.writeSignatureStore(corpus, "doc_id", store)
      LlmOps.incrementalDupes(corpus, batch, "doc_id", store, threshold = 0.5)
        .orderBy(col("a"), col("b"))
    }),

    // SemDeDup (semantic dedup over TRAINED k-means cells): drop vectors
    // whose cosine to a smaller-id cluster-mate is >= 0.95 — paraphrase/
    // re-encoding dups the shingle family can't see. Index trained on the
    // base corpus snapshot (vec_id <> 0 — the same chain the IVF oracle
    // mirrors), applied to the dup-injected corpus.
    "dedup_semantic" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      // c = 16 keeps every trained cell under DefaultMaxCell at all gated
      // tiers (sf1: ~20.8k vectors / 16 ≈ 1.3k per cell), so the gated
      // query runs the SAME plan shape production uses (no sub-bucket cap
      // firing) and the oracle mirrors exact uncapped-cell semantics; the
      // cap path itself is spec-pinned (LlmOpsSpec hot-cell fixtures).
      // c = 4 at sf1 put ~5.2k vectors in each cell and the cap dropped
      // 169 planted pairs the oracle kept.
      val cents =
        LlmOps.kmeansCentroids(e.filter(col("vec_id") =!= 0), c = 16, iters = 2)
      LlmOps.semanticDedupWith(embWithDups(e), cents, threshold = 0.95)
        .orderBy(col("vec_id"))
    }),

    // temperature-flattened language mixture (α=0.5): downsample
    // overrepresented languages to the p^α tempered shares — the
    // multilingual rebalancing rule; keep decisions are content-stable
    // md5 buckets, so the sample is deterministic and re-run-stable
    "mix_temperature" -> ((s, d) =>
      LlmOps.mixTemperature(t(s, d, "documents"), alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("keep_frac"))
        .orderBy(col("doc_id"))),

    // ExactSubstr tier (Lee et al. 2022): maximal duplicated char spans —
    // a position is duplicated when its 20-gram occurs at >= 2 sites
    // corpus-wide (any doc, same doc included). Catches boilerplate spans
    // inside otherwise-unique docs that every whole-doc tier misses.
    "dedup_substring" -> ((s, d) =>
      LlmOps.duplicatedSpans(docsWithDups(t(s, d, "documents")), "doc_id", k = 20)
        .orderBy(col("doc_id"), col("span_start"))),

    // per-doc duplicated-char budget over the same spans — the form a
    // pipeline thresholds on (drop docs past a duplication budget)
    "dedup_substring_stats" -> ((s, d) =>
      LlmOps.substringDupStats(docsWithDups(t(s, d, "documents")), "doc_id", k = 20)
        .orderBy(col("doc_id"))),

    // span-precise decontamination: the exact character ranges of each
    // corpus doc whose 20-grams appear in the benchmark (same split as
    // decontaminate_ngram: originals %10==0 play the benchmark, their
    // re-injected twins are the planted leaks — whole-doc leaks surface
    // as full-length spans, the ' tail' variants as all-but-tail spans)
    "decontaminate_spans" -> ((s, d) => {
      val all = docsWithDups(t(s, d, "documents"))
      val bench = all.filter(col("doc_id") < 100000 && col("doc_id") % 10 === 0)
      val corpus = all.filter(col("doc_id") >= 100000 || col("doc_id") % 10 =!= 0)
      LlmOps.decontaminateSpans(corpus, bench, "doc_id", k = 20)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // span-excised corpus (remove-all policy, the public ExactSubstr
    // tooling default): duplicated chars cut from every doc; fully-
    // duplicated docs surface as empty strings, never silently dropped
    "dedup_substring_purge" -> ((s, d) =>
      LlmOps.substringPurge(docsWithDups(t(s, d, "documents")), "doc_id", k = 20)
        .orderBy(col("doc_id"))),

    // persisted ANN index lifecycle: train on the base snapshot (c=4, the
    // oracle-mirrorable hint), then measure health against the dup-grown
    // corpus — the √N size rule fires (c_auto ≈ √207 > 2×4) while
    // assignment quality holds (exact dups land ON their twins' cells),
    // so the report reads stale/size with mean_cos intact
    "ann_index_health" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val store = scratch("ann_index_store", d)
      LlmOps.writeAnnIndex(e.filter(col("vec_id") =!= 0), store,
        cHint = Some(4), iters = 2)
      val h = LlmOps.annIndexHealth(
        embWithDups(e).filter(col("vec_id") =!= 0), store)
      import s.implicits._
      Seq((h.nIndexed, h.nNow, h.cIndex, h.cAuto, h.meanCosBuild,
          h.meanCosNow, h.stale, h.reason))
        .toDF("n_indexed", "n_now", "c_index", "c_auto", "mean_cos_build",
          "mean_cos_now", "stale", "reason")
    }),

    // the IVF SERVING path (r11): assignment persisted cell-partitioned
    // ONCE, then every query partition-prunes to its nprobe probed cells
    // — per-query bytes are nprobe/c of the corpus, the shape a query
    // STREAM needs at 100 TB. Row-identical to sim_search_ivf_kmeans at
    // the same (c, iters, nprobe, k); the shared oracle asserts it.
    "sim_search_served" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val corpus = e.filter(col("vec_id") =!= 0)
      val cents = LlmOps.kmeansCentroids(corpus, c = 4, iters = 2)
      val store = scratch("ann_assigned_store", d)
      LlmOps.writeAnnAssignments(corpus, cents, store)
      LlmOps.annAssignedSearch(s, store, cents,
        e.filter(col("vec_id") === 0), nprobe = 2, k = 10)
    }),

    // BATCHED trained-IVF serving (r12): Q=4 queries answered in ONE
    // corpus pass — per-query cell probing over the bounded centroid
    // table, an equi-join fan-out of the assignment to probing queries,
    // and per-query top-k via the graft_topk map-side heap. Same corpus
    // and trained centroids as sim_search_ivf_kmeans, so the oracle
    // reuses the kmeans chain with a 4-row query CTE.
    "sim_search_batch" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val corpus = e.filter(col("vec_id") =!= 0)
      val cents = LlmOps.kmeansCentroids(corpus, c = 4, iters = 2)
      LlmOps.ivfSearchBatch(LlmOps.kmeansAssignAuto(corpus, cents),
          e.filter(col("vec_id") < 4), cents, nprobe = 2, k = 10)
        .orderBy(col("qid"), col("cos").desc, col("vec_id"))
    }),

    // ANN index delta maintenance (r13; retrain-realism r14): centroids
    // train on the BASE 2/3 snapshot ONLY — the delta batch did not exist
    // at train time, the situation every real append faces — then the
    // remaining third APPENDS (assigned against the frozen centroids,
    // files added only under the delta's cells — no retrain, no store
    // rewrite). Serving from the appended store must equal the base-
    // trained full-corpus assignment chain, and the key RECORDS the
    // ann_index_health drift the append caused (reason pre/post + the
    // mean-cos drop) — the numbers the maintenance loop's retrain
    // decision reads.
    "ann_index_append" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      // ONE corpus read feeds the whole lifecycle (train + build stats +
      // store write + append + post-health): the key composes five
      // operators over the same snapshot, and a maintenance pipeline pins
      // its working set for exactly this reason — each OPERATOR keeps its
      // standalone scan-frugal shape; the checkpoint is the composition's
      // (bench-visible) scan-sharing, not a semantic change
      val corpus = e.filter(col("vec_id") =!= 0).localCheckpoint()
      val base = corpus.filter(col("vec_id") % 3 =!= 0)
      val delta = corpus.filter(col("vec_id") % 3 === 0)
      val cent = scratch("ann_append_cent", d)
      val store = scratch("ann_append_store", d)
      LlmOps.writeAnnIndex(base, cent, cHint = Some(4), iters = 2)
      val cents = LlmOps.readAnnIndex(s, cent)
      LlmOps.writeAnnAssignments(base, cents, store)
      // PRE-append health is definitionally the build baseline (same
      // corpus, same centroids ⇒ mean_cos_now == mean_cos_build, drift
      // rule can't fire) — derived from the persisted build stats with no
      // corpus scan; only the √N size rule can trip
      val st = graft.Tables.parquet(s, cent.stripSuffix("/") + "_stats")
        .select(col("n"), col("c")).head()
      val reasonPre =
        if (LlmOps.kmeansAutoC(st.getLong(0)) > 2.0 * st.getInt(1)) "size"
        else "fresh"
      LlmOps.appendAnnAssignments(delta, cents, store)
      // centsHint: `cents` IS the stored table (read back from the store
      // four lines up) — the health check skips a second collect (r16)
      val hPost = LlmOps.annIndexHealth(corpus, cent, centsHint = Some(cents))
      LlmOps.annAssignedSearch(s, store, cents,
          e.filter(col("vec_id") === 0), nprobe = 2, k = 10)
        .withColumn("reason_pre", lit(reasonPre))
        .withColumn("reason_post", lit(hPost.reason))
        .withColumn("cos_drift",
          lit(LlmOps.round6d(hPost.meanCosBuild - hPost.meanCosNow)))
    }),

    // per-lang TF-IDF head terms (r13): what characterizes each sub-corpus
    // — map-combined tf/df aggregates + the graft_topk_str map-side heap,
    // so the per-lang ranking never funnels a lang's distinct-token set
    // through one window partition
    "tfidf_topterms" -> ((s, d) =>
      LlmOps.tfIdfTopTerms(t(s, d, "documents"), k = 10)),

    // BM25 lexical retrieval (r13): top-10 docs for a fixed 3-term query —
    // the keyword complement of the sim_search_* vector family; log-free
    // rational idf keeps every score bit-reproducible in the oracle
    "bm25_search" -> ((s, d) =>
      LlmOps.bm25Search(t(s, d, "documents"),
        Seq("column", "window", "scan"), kTop = 10)),

    // hybrid retrieval (r15): BM25 lexical branch + dense cosine branch
    // fused by Reciprocal Rank Fusion — the production RAG search shape
    // (rank-based, so no cross-scale score normalization). doc_id/vec_id
    // share an id space; id 0 is the query on both branches.
    "hybrid_search_rrf" -> ((s, d) =>
      LlmOps.hybridSearchRrf(t(s, d, "documents"), t(s, d, "embeddings"),
        Seq("column", "window", "scan"), k = 10)),

    // DSIR data selection (r15, Xie et al. 2023): hashed-unigram importance
    // weights of every doc against the src1-3 target domain, Gumbel-top-k
    // sample of 100 — the domain-matched subset-carving recipe
    "dsir_select" -> ((s, d) =>
      LlmOps.dsirSelect(t(s, d, "documents"), Seq("src1", "src2", "src3"))),

    // LSH tuning table (r15): for each (bands, rows) split of one 16-perm
    // signature, the closed-form S-curve (s*, P at s=0.5/0.8/0.9) next to
    // the MEASURED candidate-pair mass on this corpus — what a curation
    // owner reads before locking the dedup_minhash parameters
    "minhash_tune" -> ((s, d) =>
      LlmOps.minhashTune(docsWithDups(t(s, d, "documents")), "doc_id")),

    // CCNet perplexity buckets (r15, Wenzek et al. 2020): char-trigram LM
    // fit on the src1-3 reference slice, every doc scored under it, and
    // each language split head/middle/tail at exact score terciles — the
    // keep/drop routing signal of the CCNet curation recipe
    "ccnet_buckets" -> ((s, d) =>
      LlmOps.ccnetBuckets(t(s, d, "documents"), Seq("src1", "src2", "src3"))),

    // cluster-balanced diversity sample (r15): k-means cells over the
    // embedding corpus, at most 20 keepers per cell by content-stable md5
    // draw — coverage sampling (the cap flattens density instead of
    // mirroring it)
    "cluster_balanced_sample" -> ((s, d) =>
      LlmOps.clusterBalancedSample(t(s, d, "embeddings"))),

    // crawl-to-crawl corpus overlap (r13): exact shingle-set Jaccard
    // between documents and its "next crawl" twin (1-in-7 docs dropped,
    // 1-in-10 texts edited), plus the MinHash estimate with an in-query
    // tolerance check — the sketch is the only 100 TB form; the exact
    // pass is its verification harness at gate scale
    "corpus_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      LlmOps.corpusOverlap(docs, docsNextCrawl(docs), "doc_id",
        kSig = 64, tol = 0.2)
    }),

    // PCA APPLY (r14): the transform half of the embedding_pca pair — fit
    // the top-32 basis on the corpus (one moment pass, deflated power
    // iteration on the driver), project every row through k codegen'd
    // dot kernels against literal basis vectors (centering folded into a
    // driver constant — nothing broadcast, nothing exchanged), and report
    // the envelope: per-coordinate variance == eigenvalue, basis
    // orthonormality, the k/d variance-capture theorem, and top-10
    // recall of the projected-prefilter + exact-rescore search vs the
    // full-dim search (k=32/pool=50 measured 0.9-1.0 across SF tiers)
    "embedding_pca_apply" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val corpus = e.filter(col("vec_id") =!= 0)
      val fit = LlmOps.embeddingPcaFitK(corpus, k = 32)
      LlmOps.embeddingPcaApplyReport(corpus,
        e.filter(col("vec_id") === 0), fit)
    }),

    // distributed PCA fit (r13): one map-combined moment pass (graft_vec_sum
    // over per-row outer products — #tasks × d² doubles exchanged, never
    // row-count-sized), d×d eigenproblem on the driver (byte-gated d ≤ 256).
    // Structural facts hash-exact; eigenpair quality is the in-query pca_ok
    // harness (residual ≤ 5% λ₁, λ₁ ∈ [trace/d, trace]); the strong check
    // against a dense reference lives in TextRankOpsSpec
    "embedding_pca" -> ((s, d) =>
      LlmOps.embeddingPca(t(s, d, "embeddings"))),

    // per-dimension embedding moments (r13): the whitening/normalization
    // stats a feature pipeline computes before PCA or scalar quantization
    // — one narrow posexplode (×dim, linear) into a 64-group map-combined
    // aggregate; report-sized output
    "embedding_dim_stats" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("vd", col("v").cast("double"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          LlmOps.round6(avg(col("vd"))).as("mean"),
          LlmOps.round6(stddev_samp(col("vd"))).as("sd"),
          min(col("vd")).as("vmin"), max(col("vd")).as("vmax"))
        .orderBy(col("dim")))
  )

  /** DuckDB mirror of the trained-IVF search (c=4, iters=2, nprobe=2,
    * k=10, query = vec 0) — shared by `sim_search_ivf_kmeans` (the
    * re-assigning form) and `sim_search_served` (the cell-partitioned
    * assignment store), which are row-identical by contract.
    */
  /** Shared probe+serve tail CTEs over a trained chain (expects `emb`,
    * `cent2`, `a3` in scope): `q` (the query vector), `probed` (top-2
    * probed cells), `serve` (the pruned-cell top-10 by query cosine).
    */
  private val duckServeTail: String =
    """q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       probed AS (SELECT cid,
                    round(list_dot_product(c2.cvec, q.qv) /
                          (sqrt(list_dot_product(c2.cvec, c2.cvec))
                           * sqrt(list_dot_product(q.qv, q.qv))), 6) AS ccos
                  FROM cent2 c2 CROSS JOIN q
                  WHERE sqrt(list_dot_product(c2.cvec, c2.cvec)) > 0
                  ORDER BY ccos DESC, cid LIMIT 2),
       serve AS (SELECT m.vec_id, a3.cid,
                   round(list_dot_product(m.e, q.qv) /
                         (m.nrm * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
                 FROM a3 JOIN probed USING (cid) JOIN emb m USING (vec_id) CROSS JOIN q
                 ORDER BY cos DESC, vec_id LIMIT 10)"""

  private lazy val simSearchKmeansSql: String =
    s"""WITH $duckKmeansChain,
        $duckServeTail
        SELECT vec_id, cid, cos FROM serve ORDER BY cos DESC, vec_id"""

  /** The append key's mirror: the SAME serve tail, but the chain TRAINS on
    * the base 2/3 only (`vec_id % 3 <> 0`) while a3 assigns the full
    * corpus — exactly what base-trained write + frozen-centroid delta
    * append produces — plus the health columns: `mb` is the build-time
    * mean assignment cosine (winning rows restricted to the base), `mn`
    * the post-append mean over everything, and the reasons replay
    * annIndexHealth's size/drift rules (c_index = 4, size factor 2,
    * cosine drop 0.05; pre-append now == build, so only the size rule can
    * fire pre).
    */
  private lazy val annIndexAppendSql: String =
    s"""WITH ${duckKmeansChainC(4, "", "vec_id % 3 <> 0")},
        $duckServeTail,
        win AS (SELECT vec_id, ccos, row_number() OVER (PARTITION BY vec_id
                  ORDER BY ccos DESC, cid) AS rn FROM s3),
        mb AS (SELECT round(avg(ccos), 6) AS m, count(*) AS n FROM win
               WHERE rn = 1 AND vec_id % 3 <> 0),
        mn AS (SELECT round(avg(ccos), 6) AS m, count(*) AS n FROM win
               WHERE rn = 1),
        h AS (SELECT
                CASE WHEN GREATEST(2, LEAST(round(sqrt(mb.n::DOUBLE)), 65536)) > 2.0 * 4
                     THEN 'size' ELSE 'fresh' END AS reason_pre,
                CASE WHEN GREATEST(2, LEAST(round(sqrt(mn.n::DOUBLE)), 65536)) > 2.0 * 4
                      AND mb.m - mn.m > 0.05 THEN 'size+drift'
                     WHEN GREATEST(2, LEAST(round(sqrt(mn.n::DOUBLE)), 65536)) > 2.0 * 4
                     THEN 'size'
                     WHEN mb.m - mn.m > 0.05 THEN 'drift'
                     ELSE 'fresh' END AS reason_post,
                round(mb.m - mn.m, 6) AS cos_drift
              FROM mb, mn)
        SELECT vec_id, cid, cos, reason_pre, reason_post, cos_drift
        FROM serve CROSS JOIN h ORDER BY cos DESC, vec_id"""

  /** DuckDB mirror of LlmOps.ivfSearch (nprobe=2, k=10, query = vec 0). */
  private val simSearchIvfSql: String =
    """WITH emb AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id <> 0),
       parts AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                        unnest(embedding) AS e
                 FROM emb),
       cent AS (SELECT label, pos,
                       CAST(sum(CAST(e AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS cval
                FROM parts GROUP BY 1, 2),
       centroids AS (SELECT label, list(cval ORDER BY pos) AS cvec FROM cent GROUP BY 1),
       q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       probed AS (SELECT label,
                    round(list_dot_product(cvec, qv::DOUBLE[]) /
                      (sqrt(list_dot_product(cvec, cvec))
                       * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS ccos
                  FROM centroids, q
                  ORDER BY ccos DESC, label LIMIT 2)
       SELECT vec_id, e.label,
              round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[]) /
                (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                 * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS cos
       FROM emb e JOIN probed USING (label), q
       ORDER BY cos DESC, vec_id LIMIT 10"""

  // ---- DuckDB mirror of the spherical k-means chain (LlmOps.kmeansCentroids
  // at c=4, iters=2 over the non-query vectors). One assignment step: round6
  // cosine vs every live centroid, argmax with ties to the smallest cid
  // (row_number mirrors Spark's max(struct(ccos, -cid))). One update step:
  // DECIMAL-exact element-wise mean (the ivfCentroids construction).

  private def duckKmeansAssign(i: Int, prevCent: String,
                               p: String = "", src: String = "emb"): String =
    s"""${p}s$i AS (SELECT m.vec_id, c.cid,
                  round(list_dot_product(m.e, c.cvec) /
                        (m.nrm * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS ccos
           FROM ${p}$src m CROSS JOIN (SELECT * FROM $prevCent
                  WHERE sqrt(list_dot_product(cvec, cvec)) > 0) c),
        ${p}a$i AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY ccos DESC, cid) AS rn
                  FROM ${p}s$i) WHERE rn = 1)"""

  private def duckKmeansUpdate(i: Int, p: String = ""): String =
    s"""${p}p$i AS (SELECT ${p}a$i.cid, generate_subscripts(m.e, 1) AS pos, unnest(m.e) AS v
           FROM ${p}a$i JOIN ${p}emb m USING (vec_id)),
        ${p}c$i AS (SELECT cid, pos,
                  CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS cval
           FROM ${p}p$i GROUP BY 1, 2),
        ${p}cent$i AS (SELECT cid, list(cval ORDER BY pos) AS cvec FROM ${p}c$i GROUP BY 1)"""

  /** CTE chain ending in `cent2` (trained centroids) and `a3` (the final
    * vec_id → cid assignment under them). Seed = the `c` smallest vec_ids.
    * Every CTE name takes prefix `p`, so the chain composes collision-free
    * with the PQ chain (the IVF+PQ mirror runs both).
    *
    * `trainWhere` restricts TRAINING (seed + both Lloyd iterations) to a
    * subset of `emb` while the final a3 assignment still covers the full
    * corpus — the retrain-realism shape ann_index_append mirrors (the
    * delta batch did not exist when the centroids were trained). The
    * default TRUE makes `tremb` a passthrough, leaving every other chain
    * consumer semantically unchanged.
    */
  private def duckKmeansChainC(c: Int, p: String = "",
                               trainWhere: String = "TRUE"): String =
    s"""${p}emb AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings
           WHERE vec_id <> 0
             AND sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0),
        ${p}tremb AS (SELECT * FROM ${p}emb WHERE $trainWhere),
        ${p}cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS cvec
           FROM (SELECT vec_id, e FROM ${p}tremb ORDER BY vec_id LIMIT $c)),
        ${duckKmeansAssign(1, s"${p}cent0", p, "tremb")},
        ${duckKmeansUpdate(1, p)},
        ${duckKmeansAssign(2, s"${p}cent1", p, "tremb")},
        ${duckKmeansUpdate(2, p)},
        ${duckKmeansAssign(3, s"${p}cent2", p)}"""

  private lazy val duckKmeansChain: String = duckKmeansChainC(4)

  // ---- DuckDB mirror of the PQ chain (LlmOps.pqTrainCodebooks at m=4,
  // ks=4, iters=2 over the non-query vectors). Same Lloyd discipline as
  // the k-means mirror, but per (sub, code) under the reduced-L2 metric
  // d2r = |c|² − 2·x·c rounded at 6 (argmin ties to the smallest code —
  // row_number mirrors both pqAssign's max(struct) and pqEncode's
  // first-minimum walk). Ends in cb2 (trained codebooks) and a3 (the
  // final per-(vec_id, sub) code assignment under them).

  private def duckPqAssign(i: Int, prev: String): String =
    s"""s$i AS (SELECT x.vec_id, x.sub, c.code,
             round(list_dot_product(c.cvec, c.cvec)
                   - 2 * list_dot_product(x.sv, c.cvec), 6) AS d2r
           FROM subs x JOIN $prev c USING (sub)),
        a$i AS (SELECT vec_id, sub, code FROM (
             SELECT vec_id, sub, code,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d2r ASC, code) AS rn
             FROM s$i) WHERE rn = 1)"""

  private def duckPqUpdate(i: Int): String =
    s"""p$i AS (SELECT a.sub, a.code, generate_subscripts(x.sv, 1) AS pos,
                   unnest(x.sv) AS v
           FROM a$i a JOIN subs x ON x.vec_id = a.vec_id AND x.sub = a.sub),
        c$i AS (SELECT sub, code, pos,
             CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS cval
           FROM p$i GROUP BY 1, 2, 3),
        cb$i AS (SELECT sub, code, list(cval ORDER BY pos) AS cvec
           FROM c$i GROUP BY 1, 2)"""

  /** CTE chain for m=4 / ks=4 / iters=2: subvector width len//4 computed
    * per row (trailing remainder ignored — mirrored by `size(embedding)
    * div m` on the Spark side), seed = the 4 smallest vec_ids.
    */
  private lazy val duckPqChain: String =
    s"""emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
           FROM embeddings
           WHERE vec_id <> 0
             AND sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0),
        ss AS (SELECT unnest([0, 1, 2, 3]) AS s),
        subs AS (SELECT vec_id, s AS sub,
                   e[(s * (len(e) // 4) + 1):((s + 1) * (len(e) // 4))] AS sv
                 FROM emb CROSS JOIN ss),
        seed AS (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 4),
        cb0 AS (SELECT sub,
                  CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                       AS INTEGER) AS code,
                  sv AS cvec
                FROM subs WHERE vec_id IN (SELECT vec_id FROM seed)),
        ${duckPqAssign(1, "cb0")},
        ${duckPqUpdate(1)},
        ${duckPqAssign(2, "cb1")},
        ${duckPqUpdate(2)},
        ${duckPqAssign(3, "cb2")}"""

  /** Shared CTE chain for the ExactSubstr mirrors: 20-gram md5-60bit
    * hashes at every char position (bit-identical to graft_gram_hash with
    * suffix ':xs', nibbles 15), positions whose gram occurs at >= 2 sites
    * corpus-wide, merged into maximal spans by the <= k gap rule.
    */
  private val duckSpanCte: String =
    s"""g0 AS (SELECT doc_id,
                 list_transform(generate_series(1, length(text) - 19),
                   i -> ('0x' || substr(md5(substr(text, i::INT, 20) || ':xs'),
                                        1, 15))::BIGINT) AS hs
               FROM docs),
        g AS (SELECT doc_id, generate_subscripts(hs, 1) AS pos, unnest(hs) AS h
              FROM g0),
        dup AS (SELECT doc_id, pos FROM
                  (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS sites
                   FROM g)
                WHERE sites >= 2),
        brk AS (SELECT doc_id, pos,
                  CASE WHEN pos - lag(pos) OVER
                              (PARTITION BY doc_id ORDER BY pos) <= 20
                       THEN 0 ELSE 1 END AS brk
                FROM dup),
        runs AS (SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM brk),
        spans AS (SELECT doc_id, min(pos) AS span_start,
                    max(pos) - min(pos) + 20 AS span_len
                  FROM runs GROUP BY doc_id, grp)"""

  val oracle: Map[String, String] = Map(
    "dedup_substring" ->
      s"""WITH docs AS ($docsDupSql),
          $duckSpanCte
          SELECT doc_id, span_start, span_len
          FROM spans ORDER BY doc_id, span_start""",
    "decontaminate_spans" ->
      s"""WITH alldocs AS ($docsDupSql),
          bench AS (SELECT doc_id, text FROM alldocs
                    WHERE doc_id < 100000 AND doc_id % 10 = 0),
          corpus AS (SELECT doc_id, text FROM alldocs
                     WHERE doc_id >= 100000 OR doc_id % 10 <> 0),
          bg0 AS (SELECT list_transform(generate_series(1, length(text) - 19),
                    i -> ('0x' || substr(md5(substr(text, i::INT, 20) || ':xs'),
                                         1, 15))::BIGINT) AS hs
                  FROM bench),
          bg AS (SELECT DISTINCT unnest(hs) AS h FROM bg0),
          cg0 AS (SELECT doc_id,
                    list_transform(generate_series(1, length(text) - 19),
                      i -> ('0x' || substr(md5(substr(text, i::INT, 20) || ':xs'),
                                           1, 15))::BIGINT) AS hs
                  FROM corpus),
          cg AS (SELECT doc_id, generate_subscripts(hs, 1) AS pos, unnest(hs) AS h
                 FROM cg0),
          hit AS (SELECT cg.doc_id, cg.pos FROM cg
                  WHERE EXISTS (SELECT 1 FROM bg WHERE bg.h = cg.h)),
          brk AS (SELECT doc_id, pos,
                    CASE WHEN pos - lag(pos) OVER
                                (PARTITION BY doc_id ORDER BY pos) <= 20
                         THEN 0 ELSE 1 END AS brk
                  FROM hit),
          runs AS (SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                   FROM brk)
          SELECT doc_id, min(pos) AS span_start,
                 max(pos) - min(pos) + 20 AS span_len
          FROM runs GROUP BY doc_id, grp
          ORDER BY doc_id, span_start""",
    "dedup_substring_purge" ->
      s"""WITH docs AS ($docsDupSql),
          $duckSpanCte,
          ch0 AS (SELECT doc_id,
                    list_transform(generate_series(1, length(text)),
                      i -> substr(text, i::INT, 1)) AS cs
                  FROM docs),
          ch AS (SELECT doc_id, generate_subscripts(cs, 1) AS i, unnest(cs) AS c
                 FROM ch0),
          kept AS (SELECT ch.doc_id, ch.i, ch.c FROM ch
                   WHERE NOT EXISTS
                     (SELECT 1 FROM spans s
                      WHERE s.doc_id = ch.doc_id
                        AND ch.i >= s.span_start
                        AND ch.i < s.span_start + s.span_len)),
          agg AS (SELECT doc_id, string_agg(c, '' ORDER BY i) AS clean_text
                  FROM kept GROUP BY doc_id)
          SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
                 length(d.text) - length(coalesce(a.clean_text, '')) AS removed_chars
          FROM docs d LEFT JOIN agg a ON d.doc_id = a.doc_id
          ORDER BY d.doc_id""",
    "dedup_substring_stats" ->
      s"""WITH docs AS ($docsDupSql),
          $duckSpanCte,
          agg AS (SELECT doc_id, sum(span_len)::BIGINT AS dup_chars
                  FROM spans GROUP BY doc_id)
          SELECT d.doc_id, length(d.text) AS n_chars,
                 coalesce(agg.dup_chars, 0)::BIGINT AS dup_chars,
                 CASE WHEN length(d.text) = 0 THEN 0.0
                      ELSE round(coalesce(agg.dup_chars, 0)::DOUBLE
                                 / length(d.text)::DOUBLE, 6) END AS dup_frac
          FROM docs d LEFT JOIN agg ON d.doc_id = agg.doc_id
          ORDER BY d.doc_id""",
    "dedup_exact" ->
      s"""WITH docs AS ($docsDupSql)
          SELECT md5(text) AS content_md5, count(*) AS n, min(doc_id) AS keep_id
          FROM docs GROUP BY 1 HAVING count(*) > 1 ORDER BY content_md5""",
    "purge_by_ids" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 97 = 0)
         ORDER BY doc_id""",
    "dedup_minhash" ->
      s"""WITH docs AS ($docsDupSql),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id
          ORDER BY a, b""",
    "dedup_simhash" ->
      s"""WITH docs AS ($docsDupSql),
          $duckSimhashCte
          SELECT x.doc_id AS a, y.doc_id AS b, x.simhash
          FROM simh x JOIN simh y ON x.simhash = y.simhash AND x.doc_id < y.doc_id
          ORDER BY a, b""",
    "dedup_simhash_hamming" ->
      s"""WITH docs AS ($docsDupSql),
          $duckSimhashCte,
          blocked AS (SELECT doc_id, simhash,
                        unnest(list_transform([0, 1, 2],
                          b -> b::VARCHAR || ':' ||
                               ((simhash // (1::BIGINT << (b * 11))) %
                                (1::BIGINT << CASE WHEN b = 2 THEN 10 ELSE 11 END))::VARCHAR)) AS blk
                      FROM simh)
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                 CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
          FROM blocked x JOIN blocked y
            ON x.blk = y.blk AND x.doc_id < y.doc_id
          WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
          ORDER BY a, b""",
    "dedup_simhash_hamming64" ->
      s"""WITH docs AS ($docsDupSql),
          $duckSimhash64Cte,
          blocked AS (SELECT doc_id, simhash64,
                        unnest(list_transform([0, 1, 2],
                          b -> b::VARCHAR || ':' ||
                               (((simhash64 & ((1::BIGINT << 60) - 1)) // (1::BIGINT << (b * 20))) %
                                (1::BIGINT << 20))::VARCHAR)) AS blk
                      FROM simh64),
          live AS (SELECT blk FROM blocked
                   GROUP BY blk HAVING count(*) <= 4096),
          lb AS (SELECT b.* FROM blocked b JOIN live USING (blk)),
          cap AS (SELECT count(*) AS capped_blocks FROM
                    (SELECT blk FROM blocked GROUP BY blk HAVING count(*) > 4096))
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                 CAST(bit_count(xor(x.simhash64, y.simhash64)) AS INTEGER) AS hamming,
                 cap.capped_blocks
          FROM lb x JOIN lb y
            ON x.blk = y.blk AND x.doc_id < y.doc_id
          CROSS JOIN cap
          WHERE bit_count(xor(x.simhash64, y.simhash64)) <= 2
          ORDER BY a, b""",
    "dedup_edit_distance" ->
      s"""WITH docs AS ($docsDupSql),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte,
          cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
          p AS (SELECT c.a, c.b,
                  CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
                  greatest(length(da.text), length(db.text))::DOUBLE AS ml
                FROM cands c
                JOIN docs da ON da.doc_id = c.a
                JOIN docs db ON db.doc_id = c.b)
          SELECT a, b, dist, round(dist::DOUBLE / ml, 6) AS edit_ratio
          FROM p WHERE round(dist::DOUBLE / ml, 6) <= 0.2
          ORDER BY a, b""",
    "dedup_paragraph" ->
      s"""WITH docs AS ($docsDupSql),
          w AS (SELECT doc_id, $duckWords AS words FROM docs),
          st AS (SELECT doc_id, words,
                   unnest(generate_series(0, (len(words) - 1) // 10)) AS seg_idx
                 FROM w),
          segs AS (SELECT doc_id, seg_idx,
                     array_to_string(list_slice(words, seg_idx * 10 + 1, seg_idx * 10 + 10), ' ')
                       AS seg_text
                   FROM st),
          counts AS (SELECT ${duckHash("seg_text", "'seg'")} AS h, count(*) AS cnt
                     FROM segs GROUP BY 1)
          SELECT s.doc_id, count(*) AS n_segs,
                 CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                 coalesce(string_agg(CASE WHEN c.cnt = 1 THEN s.seg_text END,
                                     ' ' ORDER BY s.seg_idx), '') AS text_clean
          FROM segs s JOIN counts c ON ${duckHash("s.seg_text", "'seg'")} = c.h
          GROUP BY s.doc_id
          ORDER BY s.doc_id""",
    "dedup_ngram_jaccard" ->
      s"""WITH docs AS ($docsDupSql),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte,
          cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id)
          SELECT c.a, c.b,
                 round(len(list_intersect(list_distinct(pa.shingles), list_distinct(pb.shingles)))::DOUBLE
                       / (len(list_distinct(pa.shingles)) + len(list_distinct(pb.shingles))
                          - len(list_intersect(list_distinct(pa.shingles), list_distinct(pb.shingles))))::DOUBLE,
                       6) AS jac
          FROM cands c
          JOIN sh pa ON pa.doc_id = c.a
          JOIN sh pb ON pb.doc_id = c.b
          WHERE round(len(list_intersect(list_distinct(pa.shingles), list_distinct(pb.shingles)))::DOUBLE
                      / (len(list_distinct(pa.shingles)) + len(list_distinct(pb.shingles))
                         - len(list_intersect(list_distinct(pa.shingles), list_distinct(pb.shingles))))::DOUBLE,
                      6) >= 0.5
          ORDER BY a, b""",
    // mirrors LlmOps.imagePhashNearDups: dHash = adjacent-pair comparison
    // bits over the pixel grid (double-widened compares, exact for floats),
    // 21-bit pigeonhole blocks, hamming <= 2 on block-mates
    "dedup_image_phash" ->
      s"""WITH imgs AS ($imgDupSql),
          ph AS (SELECT vec_id AS doc_id,
                   CAST(coalesce(list_sum(list_transform(generate_series(1, least(len(embedding) - 1, 63)),
                     i -> CASE WHEN embedding[i]::DOUBLE > embedding[i+1]::DOUBLE
                               THEN (1::BIGINT << (i - 1)) ELSE 0 END)), 0) AS BIGINT) AS phash
                 FROM imgs),
          blocked AS (SELECT doc_id, phash,
                        unnest(list_transform([0, 1, 2],
                          b -> b::VARCHAR || ':' ||
                               ((phash // (1::BIGINT << (b * 21))) %
                                (1::BIGINT << 21))::VARCHAR)) AS blk
                      FROM ph),
          live AS (SELECT blk FROM blocked
                   GROUP BY blk HAVING count(*) <= 4096),
          lb AS (SELECT b.* FROM blocked b JOIN live USING (blk)),
          cap AS (SELECT count(*) AS capped_blocks FROM
                    (SELECT blk FROM blocked GROUP BY blk HAVING count(*) > 4096))
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                 CAST(bit_count(xor(x.phash, y.phash)) AS INTEGER) AS hamming,
                 cap.capped_blocks
          FROM lb x JOIN lb y
            ON x.blk = y.blk AND x.doc_id < y.doc_id
          CROSS JOIN cap
          WHERE bit_count(xor(x.phash, y.phash)) <= 2
          ORDER BY a, b""",
    // mirrors LlmOps.audioFingerprintNearDups: 64 time-normalized windows
    // of w = ceil(len/64) code points, energy = code-point sum (integer-
    // valued doubles, exact), dHash over the envelope, 21-bit pigeonhole
    "dedup_audio_fp" ->
      s"""WITH audio AS ($audioDupSql),
          dims AS (SELECT doc_id, text, length(text) AS len,
                     greatest(1, CAST(ceil(length(text) / 64.0) AS BIGINT)) AS w
                   FROM audio),
          fe AS (SELECT doc_id,
                   list_transform(generate_series(0, 63), f ->
                     coalesce(list_sum(list_transform(generate_series(1, w), j ->
                       CASE WHEN f * w + j <= len
                            THEN unicode(substr(text, (f * w + j)::INT, 1))
                            ELSE 0 END)), 0)::DOUBLE) AS en
                 FROM dims),
          ph AS (SELECT doc_id,
                   CAST(coalesce(list_sum(list_transform(generate_series(1, 63),
                     i -> CASE WHEN en[i] > en[i+1]
                               THEN (1::BIGINT << (i - 1)) ELSE 0 END)), 0) AS BIGINT) AS afp
                 FROM fe),
          blocked AS (SELECT doc_id, afp,
                        unnest(list_transform([0, 1, 2],
                          b -> b::VARCHAR || ':' ||
                               ((afp // (1::BIGINT << (b * 21))) %
                                (1::BIGINT << 21))::VARCHAR)) AS blk
                      FROM ph),
          live AS (SELECT blk FROM blocked
                   GROUP BY blk HAVING count(*) <= 4096),
          lb AS (SELECT b.* FROM blocked b JOIN live USING (blk)),
          cap AS (SELECT count(*) AS capped_blocks FROM
                    (SELECT blk FROM blocked GROUP BY blk HAVING count(*) > 4096))
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                 CAST(bit_count(xor(x.afp, y.afp)) AS INTEGER) AS hamming,
                 cap.capped_blocks
          FROM lb x JOIN lb y
            ON x.blk = y.blk AND x.doc_id < y.doc_id
          CROSS JOIN cap
          WHERE bit_count(xor(x.afp, y.afp)) <= 2
          ORDER BY a, b""",
    // mirrors LlmOps.videoFrameNearDups: distinct 64-char frame md5 sets,
    // shared-frame counts through the postings index (stop-frame cap
    // modeled by the HAVING bound), Jaccard >= 0.5
    "dedup_video_frames" ->
      s"""WITH clips AS ($videoDupSql),
          sigs AS (SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(0, CAST(ceil(length(text) / 64.0) AS BIGINT) - 1),
                       f -> md5(substr(text, (f * 64 + 1)::INT, 64)))) AS fhs
                   FROM clips WHERE length(text) > 0),
          postings AS (SELECT doc_id, CAST(len(fhs) AS INTEGER) AS nf,
                              unnest(fhs) AS fh FROM sigs),
          live AS (SELECT fh FROM postings GROUP BY fh
                   HAVING count(*) > 1 AND count(*) <= 1024),
          cap AS (SELECT count(*) AS capped_postings FROM
                    (SELECT fh FROM postings GROUP BY fh HAVING count(*) > 1024)),
          pairs AS (SELECT x.doc_id AS a, x.nf AS na, y.doc_id AS b, y.nf AS nb,
                           count(*) AS shared
                    FROM postings x
                    JOIN postings y ON x.fh = y.fh AND x.doc_id < y.doc_id
                    JOIN live l ON l.fh = x.fh
                    GROUP BY 1, 2, 3, 4)
          SELECT a, b, shared, na, nb,
                 round(shared::DOUBLE / (na + nb - shared), 6) AS jac,
                 cap.capped_postings
          FROM pairs CROSS JOIN cap
          WHERE round(shared::DOUBLE / (na + nb - shared), 6) >= 0.5
          ORDER BY a, b""",
    // mirrors LlmOps.multimodalClusters: the four modality pair sets
    // (text minhash-band CTE chain, image dHash pigeonhole, audio
    // energy-envelope pigeonhole, video shared-frame postings) unioned
    // into one transitive closure; cluster_id = smallest component
    // member, singletons self-label. EVERY channel carries its Spark-
    // side hot-bucket cap (text maxBucket=1000, image/audio
    // maxBucket=4096, video maxPostings=1024) so the engines can never
    // diverge on a degenerate bucket at a gated tier (r10 ADVICE)
    "dedup_multimodal" ->
      s"""WITH RECURSIVE docs AS ($docsDupSql),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte,
          tlive AS (SELECT band FROM bands GROUP BY band
                    HAVING count(*) <= 1000),
          tlb AS (SELECT b.* FROM bands b JOIN tlive USING (band)),
          cands_text AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                         FROM tlb x JOIN tlb y
                           ON x.band = y.band AND x.doc_id < y.doc_id),
          imgs AS ($imgDupSql),
          iph AS (SELECT vec_id AS doc_id,
                    CAST(coalesce(list_sum(list_transform(generate_series(1, least(len(embedding) - 1, 63)),
                      i -> CASE WHEN embedding[i]::DOUBLE > embedding[i+1]::DOUBLE
                                THEN (1::BIGINT << (i - 1)) ELSE 0 END)), 0) AS BIGINT) AS phash
                  FROM imgs),
          iblk AS (SELECT doc_id, phash,
                     unnest(list_transform([0, 1, 2],
                       b -> b::VARCHAR || ':' ||
                            ((phash // (1::BIGINT << (b * 21))) %
                             (1::BIGINT << 21))::VARCHAR)) AS blk
                   FROM iph),
          ilive AS (SELECT blk FROM iblk GROUP BY blk
                    HAVING count(*) <= 4096),
          ilb AS (SELECT b.* FROM iblk b JOIN ilive USING (blk)),
          cands_img AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                        FROM ilb x JOIN ilb y
                          ON x.blk = y.blk AND x.doc_id < y.doc_id
                        WHERE bit_count(xor(x.phash, y.phash)) <= 2),
          -- the audio channel runs over the SAME corpus fixture as the
          -- text channel (docsDupSql) — the Spark key feeds ONE
          -- docsWithDups frame to both; the standalone dedup_audio_fp
          -- key's richer audioDupSql fixture (transposition/glitch
          -- variants) is a DIFFERENT corpus and using it here made the
          -- channels disagree at sf1 (copies there are pristine, while
          -- docsDupSql's %20 copies carry a ' tail' that moves the
          -- time-normalized envelope)
          audio AS (SELECT doc_id, text FROM docs),
          adims AS (SELECT doc_id, text, length(text) AS len,
                      greatest(1, CAST(ceil(length(text) / 64.0) AS BIGINT)) AS w
                    FROM audio),
          afe AS (SELECT doc_id,
                    list_transform(generate_series(0, 63), f ->
                      coalesce(list_sum(list_transform(generate_series(1, w), j ->
                        CASE WHEN f * w + j <= len
                             THEN unicode(substr(text, (f * w + j)::INT, 1))
                             ELSE 0 END)), 0)::DOUBLE) AS en
                  FROM adims),
          aph AS (SELECT doc_id,
                    CAST(coalesce(list_sum(list_transform(generate_series(1, 63),
                      i -> CASE WHEN en[i] > en[i+1]
                                THEN (1::BIGINT << (i - 1)) ELSE 0 END)), 0) AS BIGINT) AS afp
                  FROM afe),
          ablk AS (SELECT doc_id, afp,
                     unnest(list_transform([0, 1, 2],
                       b -> b::VARCHAR || ':' ||
                            ((afp // (1::BIGINT << (b * 21))) %
                             (1::BIGINT << 21))::VARCHAR)) AS blk
                   FROM aph),
          alive AS (SELECT blk FROM ablk GROUP BY blk
                    HAVING count(*) <= 4096),
          alb AS (SELECT b.* FROM ablk b JOIN alive USING (blk)),
          cands_audio AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                          FROM alb x JOIN alb y
                            ON x.blk = y.blk AND x.doc_id < y.doc_id
                          WHERE bit_count(xor(x.afp, y.afp)) <= 2),
          -- the video channel runs over the SAME corpus frame as
          -- text/audio (multimodalClusters feeds docsWithDups to
          -- videoFramePairsWithCoverage): fixed-width frame md5 sets,
          -- stop-frame live window, Jaccard >= 0.5
          vsigs AS (SELECT doc_id,
                      list_distinct(list_transform(
                        generate_series(0, CAST(ceil(length(text) / 64.0) AS BIGINT) - 1),
                        f -> md5(substr(text, (f * 64 + 1)::INT, 64)))) AS fhs
                    FROM docs WHERE length(text) > 0),
          vpostings AS (SELECT doc_id, CAST(len(fhs) AS INTEGER) AS nf,
                               unnest(fhs) AS fh FROM vsigs),
          vlive AS (SELECT fh FROM vpostings GROUP BY fh
                    HAVING count(*) > 1 AND count(*) <= 1024),
          vpairs AS (SELECT x.doc_id AS a, x.nf AS na, y.doc_id AS b, y.nf AS nb,
                            count(*) AS shared
                     FROM vpostings x
                     JOIN vpostings y ON x.fh = y.fh AND x.doc_id < y.doc_id
                     JOIN vlive l ON l.fh = x.fh
                     GROUP BY 1, 2, 3, 4),
          cands_video AS (SELECT a, b FROM vpairs
                          WHERE round(shared::DOUBLE / (na + nb - shared), 6) >= 0.5),
          allc AS (SELECT a, b FROM cands_text
                   UNION SELECT a, b FROM cands_img
                   UNION SELECT a, b FROM cands_audio
                   UNION SELECT a, b FROM cands_video),
          undirected AS (SELECT a AS x, b AS y FROM allc
                         UNION SELECT b AS x, a AS y FROM allc),
          reach(x, y) AS (
            SELECT x, y FROM undirected
            UNION
            SELECT r.x, u.y FROM reach r JOIN undirected u ON r.y = u.x),
          ids AS (SELECT doc_id FROM docs
                  UNION SELECT vec_id AS doc_id FROM imgs)
          SELECT i.doc_id,
                 least(i.doc_id, coalesce(min(r.y), i.doc_id)) AS cluster_id
          FROM ids i LEFT JOIN reach r ON r.x = i.doc_id
          GROUP BY i.doc_id
          ORDER BY i.doc_id""",
    "dedup_embedding_cos" ->
      s"""WITH e AS ($embDupSql)
          SELECT x.vec_id AS a, y.vec_id AS b,
                 round(list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))),
                       6) AS cos,
                 0::BIGINT AS capped_cells
          FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
          WHERE round(list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
                      / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))
                         * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))),
                      6) >= 0.95
          ORDER BY a, b""",
    "sim_search_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, label,
                round(list_dot_product(embedding::DOUBLE[], qe::DOUBLE[])
                      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                         * sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))),
                      6) AS cos
         FROM embeddings, q WHERE vec_id <> 0
         ORDER BY cos DESC, vec_id LIMIT 10""",
    // mirrors LlmOps.quantizedSearch: embed_quantize's int8 codes, cosine
    // of the code vector (scale cancels — no dequantization), overfetch
    // 40, float rescore. Approx dots/norms spelled as index-ordered
    // list_sum folds to match Spark's aggregate() evaluation order
    "sim_search_quantized" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         c AS (SELECT vec_id, embedding,
                 greatest(list_max(list_transform(embedding, v -> abs(v::DOUBLE))) / 127.0,
                          1e-30) AS scale
               FROM embeddings WHERE vec_id <> 0),
         codes AS (SELECT vec_id,
                     list_transform(embedding,
                       v -> CAST(floor(v::DOUBLE / scale + 0.5) AS INTEGER)) AS cd
                   FROM c),
         approx AS (SELECT vec_id,
                      list_sum(list_transform(generate_series(1, len(cd)),
                        i -> cd[i] * qe[i]::DOUBLE))
                      / (sqrt(list_sum(list_transform(qe, v -> v::DOUBLE * v::DOUBLE)))
                         * greatest(sqrt(list_sum(list_transform(cd,
                             x -> x::DOUBLE * x::DOUBLE))), 1e-30)) AS approx
                    FROM codes, q),
         cand AS (SELECT vec_id FROM approx ORDER BY approx DESC, vec_id LIMIT 40)
         SELECT e.vec_id, e.label,
                round(list_dot_product(e.embedding::DOUBLE[], qe::DOUBLE[])
                      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                         * sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))),
                      6) AS cos
         FROM embeddings e JOIN cand USING (vec_id), q
         ORDER BY cos DESC, vec_id LIMIT 10""",
    // mirrors LlmOps.pqSearch (m=4, ks=4, iters=2, overfetch=4): ADC
    // approx = sum of the query's per-(sub, code) LUT dots, rounded at 6;
    // the 4-term group sum is order-noise-safe five orders under the
    // rounding step; exact-cosine rescore of the 40 survivors
    "sim_search_pq" ->
      s"""WITH $duckPqChain,
          q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
          qs AS (SELECT s.s AS sub,
                   qv[(s.s * (len(qv) // 4) + 1):((s.s + 1) * (len(qv) // 4))] AS qsv
                 FROM q CROSS JOIN ss s),
          lut AS (SELECT c.sub, c.code, list_dot_product(qs.qsv, c.cvec) AS pdot
                  FROM cb2 c JOIN qs USING (sub)),
          adc AS (SELECT a.vec_id, round(sum(l.pdot), 6) AS approx
                  FROM a3 a JOIN lut l ON l.sub = a.sub AND l.code = a.code
                  GROUP BY 1),
          cand AS (SELECT vec_id FROM adc ORDER BY approx DESC, vec_id LIMIT 40),
          qq AS (SELECT qv, sqrt(list_dot_product(qv, qv)) AS qn FROM q)
          SELECT e.vec_id, e.label,
                 round(list_dot_product(e.e, qq.qv) /
                       (sqrt(list_dot_product(e.e, e.e)) * qq.qn), 6) AS cos
          FROM emb e JOIN cand USING (vec_id) CROSS JOIN qq
          ORDER BY cos DESC, vec_id LIMIT 10""",
    // mirrors LlmOps.pqSearchIvf (c=4, nprobe=2, m=4, ks=4, iters=2,
    // overfetch=4): the kmeans chain (prefix k, collision-free with the PQ
    // chain) picks the query's 2 best cells, the ADC sum ranks only
    // vectors assigned to them (ka3), exact-cosine rescore of the 40
    // survivors — both trained chains identical to their standalone mirrors
    "sim_search_ivfpq" ->
      s"""WITH ${duckKmeansChainC(4, "k")},
          $duckPqChain,
          q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
          probed AS (SELECT cid,
                       round(list_dot_product(c2.cvec, q.qv) /
                             (sqrt(list_dot_product(c2.cvec, c2.cvec))
                              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS ccos
                     FROM kcent2 c2 CROSS JOIN q
                     WHERE sqrt(list_dot_product(c2.cvec, c2.cvec)) > 0
                     ORDER BY ccos DESC, cid LIMIT 2),
          qs AS (SELECT s.s AS sub,
                   qv[(s.s * (len(qv) // 4) + 1):((s.s + 1) * (len(qv) // 4))] AS qsv
                 FROM q CROSS JOIN ss s),
          lut AS (SELECT c.sub, c.code, list_dot_product(qs.qsv, c.cvec) AS pdot
                  FROM cb2 c JOIN qs USING (sub)),
          adc AS (SELECT a.vec_id, round(sum(l.pdot), 6) AS approx
                  FROM a3 a JOIN lut l ON l.sub = a.sub AND l.code = a.code
                  JOIN ka3 kv ON kv.vec_id = a.vec_id
                  JOIN probed p ON p.cid = kv.cid
                  GROUP BY 1),
          cand AS (SELECT vec_id FROM adc ORDER BY approx DESC, vec_id LIMIT 40),
          qq AS (SELECT qv, sqrt(list_dot_product(qv, qv)) AS qn FROM q)
          SELECT e.vec_id, e.label,
                 round(list_dot_product(e.e, qq.qv) /
                       (sqrt(list_dot_product(e.e, e.e)) * qq.qn), 6) AS cos
          FROM emb e JOIN cand USING (vec_id) CROSS JOIN qq
          ORDER BY cos DESC, vec_id LIMIT 10""",
    // mirrors the pq_train_codebooks registry key: occupancy counted from
    // the final assignment a3 (the Spark side counts the NARROW pqEncode
    // output — the match proves the join-free encoder agrees with the
    // training assignment), codebook norms from cb2
    "pq_train_codebooks" ->
      s"""WITH $duckPqChain,
          cnt AS (SELECT sub, code, count(*) AS n_assigned FROM a3 GROUP BY 1, 2)
          SELECT c.sub, c.code, coalesce(cnt.n_assigned, 0) AS n_assigned,
                 round(sqrt(list_dot_product(c.cvec, c.cvec)), 6) AS cnorm
          FROM cb2 c LEFT JOIN cnt USING (sub, code)
          ORDER BY sub, code""",
    "sim_search_ivf" -> simSearchIvfSql,
    // mirrors LlmOps.lshSearch: same int8 quantization as embed_quantize,
    // same ±1 plane literal (LlmOps.lshPlanesDuckLit), integer-exact signs
    "sim_search_lsh" ->
      s"""WITH pl AS (SELECT ${graft.ext.LlmOps.lshPlanesDuckLit} AS p),
          s AS (SELECT vec_id, label, embedding,
                  greatest(list_max(list_transform(embedding, v -> abs(v::DOUBLE))) / 127.0,
                           1e-30) AS scale
                FROM embeddings),
          qz AS (SELECT vec_id, label, embedding,
                   list_transform(embedding,
                     v -> CAST(floor(v::DOUBLE / scale + 0.5) AS INTEGER)) AS codes
                 FROM s),
          sig AS (SELECT vec_id, label, embedding,
                    CAST(list_sum(list_transform(generate_series(1, ${graft.ext.LlmOps.LshPlanes}),
                      j -> CASE WHEN 2 * list_sum(list_transform(generate_series(1, ${graft.ext.LlmOps.LshDim}),
                                     i -> CASE WHEN ((p[j] >> (i - 1)) & 1) <> 0
                                          THEN codes[i] ELSE 0 END))
                                   - list_sum(codes) >= 0
                                THEN (1::BIGINT << (j - 1)) ELSE 0 END)) AS BIGINT) AS lsh_sig
                  FROM qz, pl),
          cb AS (SELECT vec_id, label, embedding, lsh_sig,
                   unnest(list_transform([0, 1, 2, 3],
                     b -> b::VARCHAR || ':' ||
                          ((lsh_sig // (1::BIGINT << (b * 8))) % 256)::VARCHAR)) AS blk
                 FROM sig WHERE vec_id <> 0),
          qb AS (SELECT embedding AS qv,
                   unnest(list_transform([0, 1, 2, 3],
                     b -> b::VARCHAR || ':' ||
                          ((lsh_sig // (1::BIGINT << (b * 8))) % 256)::VARCHAR)) AS blk
                 FROM sig WHERE vec_id = 0),
          cand AS (SELECT DISTINCT c.vec_id, c.label, c.embedding, q.qv
                   FROM cb c JOIN qb q USING (blk))
          SELECT vec_id, label,
                 round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                       / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                          * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))),
                       6) AS cos
          FROM cand
          ORDER BY cos DESC, vec_id LIMIT 10""",
    "decontaminate_ngram" -> decontamOracleSql,
    // bloom prefilter + exact verify ≡ plain exact join — same oracle
    "decontaminate_bloom" -> decontamOracleSql,
    "decontaminate_purge" ->
      s"""WITH $decontamHitsCtes
          SELECT doc_id, lang, n_chars FROM cdocs
          WHERE doc_id NOT IN (
            SELECT doc_id FROM hits
            WHERE round(n_shared::DOUBLE / n_shingles::DOUBLE, 6) >= 0.5)
          ORDER BY doc_id""",
    // mirrors LlmOps.contaminationReport: the decontam gram split with the
    // BENCH id kept through the join, per-(corpus, bench) ratios past the
    // 0.5 threshold, rolled up per bench item
    "contamination_report" ->
      s"""WITH all_docs AS ($docsDupSql),
          bdocs AS (SELECT * FROM all_docs WHERE doc_id < 100000 AND doc_id % 10 = 0),
          cdocs AS (SELECT * FROM all_docs WHERE doc_id >= 100000 OR doc_id % 10 <> 0),
          cw AS (SELECT doc_id, text, $duckWords AS words FROM cdocs),
          csh AS (SELECT doc_id,
                    list_distinct(CASE WHEN len(words) < 3 THEN [lower(text)]
                         ELSE list_transform(generate_series(1, len(words) - 2),
                                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                    END) AS sh
                  FROM cw),
          bw AS (SELECT doc_id, text, $duckWords AS words FROM bdocs),
          bsh AS (SELECT doc_id,
                    list_distinct(CASE WHEN len(words) < 3 THEN [lower(text)]
                         ELSE list_transform(generate_series(1, len(words) - 2),
                                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                    END) AS sh
                  FROM bw),
          bg AS (SELECT doc_id AS bench_id, unnest(sh) AS g FROM bsh),
          cg AS (SELECT doc_id AS corpus_id, len(sh) AS n_shingles, unnest(sh) AS g
                 FROM csh),
          pairs AS (SELECT corpus_id, bench_id, n_shingles, count(*) AS n_shared
                    FROM cg JOIN bg USING (g) GROUP BY 1, 2, 3),
          flagged AS (SELECT bench_id, corpus_id,
                        round(n_shared::DOUBLE / n_shingles::DOUBLE, 6) AS contam_ratio
                      FROM pairs
                      WHERE round(n_shared::DOUBLE / n_shingles::DOUBLE, 6) >= 0.5)
          SELECT bench_id, CAST(count(DISTINCT corpus_id) AS BIGINT) AS n_contaminated,
                 max(contam_ratio) AS max_ratio
          FROM flagged GROUP BY bench_id ORDER BY bench_id""",
    // mirrors LlmOps.trainingManifest end to end: the dedup_corpus_best
    // keeper chain (WITH the live<=1000 bucket cap candidatesWithCoverage
    // applies), the decontaminate hits fragment re-aimed at the KEPT
    // corpus, the [5, 100000] token gate, and shuffle_shards' md5
    // shard/ord expressions
    "training_manifest" ->
      s"""WITH RECURSIVE all_docs AS ($docsDupSql),
          bdocs AS (SELECT * FROM all_docs WHERE doc_id < 100000 AND doc_id % 10 = 0),
          docs AS (SELECT * FROM all_docs WHERE doc_id >= 100000 OR doc_id % 10 <> 0),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte,
          tlive AS (SELECT band FROM bands GROUP BY band
                    HAVING count(*) <= 1000),
          tlb AS (SELECT b.* FROM bands b JOIN tlive USING (band)),
          cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM tlb x JOIN tlb y
                      ON x.band = y.band AND x.doc_id < y.doc_id),
          undirected AS (SELECT a AS x, b AS y FROM cands
                         UNION SELECT b AS x, a AS y FROM cands),
          reach(x, y) AS (
            SELECT x, y FROM undirected
            UNION
            SELECT r.x, u.y FROM reach r JOIN undirected u ON r.y = u.x),
          clusters AS (
            SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
            FROM docs d LEFT JOIN reach r ON r.x = d.doc_id
            GROUP BY d.doc_id),
          keepers AS (
            SELECT doc_id FROM (
              SELECT d.doc_id,
                     row_number() OVER (PARTITION BY c.cluster_id
                                        ORDER BY length(d.text) DESC, d.doc_id) AS rn
              FROM docs d JOIN clusters c ON d.doc_id = c.doc_id)
            WHERE rn = 1),
          kept AS (SELECT d.* FROM docs d JOIN keepers k USING (doc_id)),
          kw AS (SELECT doc_id, text, $duckWords AS words FROM kept),
          ksh AS (SELECT doc_id,
                    list_distinct(CASE WHEN len(words) < 3 THEN [lower(text)]
                         ELSE list_transform(generate_series(1, len(words) - 2),
                                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                    END) AS shg
                  FROM kw),
          bw AS (SELECT doc_id, text, $duckWords AS words FROM bdocs),
          bshg AS (SELECT CASE WHEN len(words) < 3 THEN [lower(text)]
                         ELSE list_transform(generate_series(1, len(words) - 2),
                                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                    END AS shg
                  FROM bw),
          bg AS (SELECT DISTINCT unnest(shg) AS g FROM bshg),
          kg AS (SELECT doc_id, len(shg) AS n_shingles, unnest(shg) AS g FROM ksh),
          hits AS (SELECT doc_id, n_shingles, count(*) AS n_shared
                   FROM kg JOIN bg USING (g) GROUP BY 1, 2),
          flagged AS (SELECT doc_id FROM hits
                      WHERE round(n_shared::DOUBLE / n_shingles::DOUBLE, 6) >= 0.5),
          survivors AS (SELECT k.*, len(string_split(k.text, ' ')) AS n_tokens
                        FROM kept k
                        WHERE k.doc_id NOT IN (SELECT doc_id FROM flagged))
          SELECT doc_id, lang, n_tokens,
                 (('0x' || substr(md5('42:' || doc_id::VARCHAR || ':shard'), 1, 15))::BIGINT % 8)::INT AS shard,
                 md5('42:' || doc_id::VARCHAR || ':ord') AS ord
          FROM survivors
          WHERE n_tokens >= 5 AND n_tokens <= 100000
          ORDER BY shard, ord, doc_id""",
    "decontaminate_minhash" ->
      s"""WITH all_docs AS ($docsDupSql),
          bdocs AS (SELECT * FROM all_docs WHERE doc_id < 100000 AND doc_id % 10 = 0),
          cdocs AS (SELECT * FROM all_docs WHERE doc_id >= 100000 OR doc_id % 10 <> 0),
          ${duckLshChain("cdocs", "c")},
          ${duckLshChain("bdocs", "b")},
          cands AS (SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
                    FROM cbands c JOIN bbands b ON c.band = b.band),
          ver AS (SELECT cd.doc_id, cd.bench_id,
                    round(len(list_intersect(list_distinct(ps.shingles), list_distinct(bs.shingles)))::DOUBLE
                          / (len(list_distinct(ps.shingles)) + len(list_distinct(bs.shingles))
                             - len(list_intersect(list_distinct(ps.shingles), list_distinct(bs.shingles))))::DOUBLE,
                          6) AS jac
                  FROM cands cd
                  JOIN csh ps ON ps.doc_id = cd.doc_id
                  JOIN bsh bs ON bs.doc_id = cd.bench_id)
          SELECT doc_id, count(*) AS n_bench_matches, max(jac) AS max_jaccard
          FROM ver WHERE jac >= 0.5
          GROUP BY doc_id ORDER BY doc_id""",
    "pii_redact" ->
      s"""WITH raws AS (
            SELECT doc_id,
                   text || ' contact user' || doc_id::VARCHAR
                        || '@mail.example.com or +1 555-'
                        || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                        || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.7' AS raw
            FROM documents)
          SELECT doc_id,
                 len(regexp_extract_all(raw, '$piiAnyRe')) AS n_pii,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(raw, '$piiEmailRe', '<EMAIL>', 'g'),
                     '$piiPhoneRe', '<PHONE>', 'g'),
                   '$piiIpRe', '<IP>', 'g') AS clean
          FROM raws ORDER BY doc_id""",
    "mix_epochs" ->
      """SELECT doc_id, lang,
                CASE WHEN lang = 'en' THEN 1 ELSE 2 END AS n_epochs,
                unnest(generate_series(0, CASE WHEN lang = 'en' THEN 0 ELSE 1 END)) AS epoch
         FROM documents ORDER BY doc_id, epoch""",
    "chunk_overlap" ->
      """WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
                      FROM documents),
          st AS (SELECT doc_id, n_tokens,
                   unnest(generate_series(0, n_tokens - 1, 30)) AS start
                 FROM tok)
          SELECT doc_id, start // 30 AS chunk_id, start,
                 least(40, n_tokens - start) AS chunk_len, n_tokens
          FROM st ORDER BY doc_id, chunk_id""",
    "pack_sequences" ->
      """WITH tok AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
                      FROM documents),
          cum AS (SELECT doc_id, lang, n_tokens,
                    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                      - n_tokens AS start_off
                  FROM tok)
          SELECT doc_id, lang, n_tokens, start_off,
                 start_off // 64 AS bin, start_off % 64 AS off_in_bin
          FROM cum ORDER BY doc_id""",
    "sample_stratified" ->
      """SELECT doc_id, lang, source, substring(md5(doc_id::VARCHAR), 1, 2) AS bucket
         FROM documents
         WHERE substring(md5(doc_id::VARCHAR), 1, 2)
               < CASE WHEN lang = 'en' THEN '1a' ELSE '80' END
         ORDER BY doc_id""",
    "split_manifest" ->
      """SELECT split, lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM (SELECT lang, n_chars,
                      CASE WHEN b < 'fa' THEN 'train'
                           WHEN b < 'fd' THEN 'valid'
                           ELSE 'test' END AS split
               FROM (SELECT lang, n_chars,
                            substring(md5('split:' || doc_id::VARCHAR), 1, 2) AS b
                     FROM documents))
         GROUP BY 1, 2 ORDER BY split, lang""",
    "quality_repetition" ->
      s"""WITH docs AS ($docsDupSql),
          $duckShingleCte
          SELECT doc_id,
                 len(shingles) AS n_grams,
                 len(list_distinct(shingles)) AS n_distinct,
                 round((len(shingles) - len(list_distinct(shingles)))::DOUBLE
                       / len(shingles)::DOUBLE, 6) AS rep_ratio,
                 round((len(shingles) - len(list_distinct(shingles)))::DOUBLE
                       / len(shingles)::DOUBLE, 6) > 0.05 AS repetitive
          FROM sh ORDER BY doc_id""",
    "dedup_clusters" ->
      s"""WITH RECURSIVE docs AS ($docsDupSql),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte,
          cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
          undirected AS (SELECT a AS x, b AS y FROM cands
                         UNION SELECT b AS x, a AS y FROM cands),
          reach(x, y) AS (
            SELECT x, y FROM undirected
            UNION
            SELECT r.x, u.y FROM reach r JOIN undirected u ON r.y = u.x)
          SELECT d.doc_id,
                 least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
          FROM docs d LEFT JOIN reach r ON r.x = d.doc_id
          GROUP BY d.doc_id
          ORDER BY d.doc_id""",
    // identical to dedup_clusters: star contraction produces the same
    // min-id component labels as the union-find / reach-closure paths
    "dedup_clusters_dist" ->
      s"""WITH RECURSIVE docs AS ($docsDupSql),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte,
          cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
          undirected AS (SELECT a AS x, b AS y FROM cands
                         UNION SELECT b AS x, a AS y FROM cands),
          reach(x, y) AS (
            SELECT x, y FROM undirected
            UNION
            SELECT r.x, u.y FROM reach r JOIN undirected u ON r.y = u.x)
          SELECT d.doc_id,
                 least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
          FROM docs d LEFT JOIN reach r ON r.x = d.doc_id
          GROUP BY d.doc_id
          ORDER BY d.doc_id""",
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE docs AS ($docsDupSql),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte,
          cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
          undirected AS (SELECT a AS x, b AS y FROM cands
                         UNION SELECT b AS x, a AS y FROM cands),
          reach(x, y) AS (
            SELECT x, y FROM undirected
            UNION
            SELECT r.x, u.y FROM reach r JOIN undirected u ON r.y = u.x),
          clusters AS (
            SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
            FROM docs d LEFT JOIN reach r ON r.x = d.doc_id
            GROUP BY d.doc_id),
          sizes AS (SELECT cluster_id, count(*) AS cluster_size
                    FROM clusters GROUP BY cluster_id),
          tot AS (SELECT count(*) AS n_total FROM clusters)
          SELECT cluster_size, count(*) AS n_clusters,
                 cluster_size * count(*) AS n_docs,
                 round((cluster_size - 1)::DOUBLE * count(*) / n_total, 6)
                   AS removable_frac
          FROM sizes CROSS JOIN tot
          GROUP BY cluster_size, n_total
          ORDER BY cluster_size""",
    "dedup_weights" ->
      s"""WITH RECURSIVE docs AS ($docsDupSql),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte,
          cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
          undirected AS (SELECT a AS x, b AS y FROM cands
                         UNION SELECT b AS x, a AS y FROM cands),
          reach(x, y) AS (
            SELECT x, y FROM undirected
            UNION
            SELECT r.x, u.y FROM reach r JOIN undirected u ON r.y = u.x),
          clusters AS (
            SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
            FROM docs d LEFT JOIN reach r ON r.x = d.doc_id
            GROUP BY d.doc_id),
          sizes AS (SELECT cluster_id, count(*) AS cluster_size
                    FROM clusters GROUP BY cluster_id)
          SELECT c.doc_id, s.cluster_size,
                 round(1.0::DOUBLE / s.cluster_size, 6) AS weight
          FROM clusters c JOIN sizes s ON c.cluster_id = s.cluster_id
          ORDER BY c.doc_id""",
    "vocab_topk" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         WHERE token <> ''
         GROUP BY token
         ORDER BY cnt DESC, token LIMIT 100""",
    // round 1 of BPE is plain SQL (weighted char-pair argmax over the
    // distinct-word table, ties to the smallest (l, r)); the loop facts
    // are the envelope booleans bpeTrainReport documents. n_merges is the
    // shared BpeRounds constant — see its scaladoc for the no-early-stop
    // coupling this literal assumes.
    "bpe_train" ->
      s"""WITH wc AS (SELECT w, count(*) AS cnt
                     FROM (SELECT unnest(string_split(text, ' ')) AS w
                           FROM documents)
                     WHERE w <> '' GROUP BY w),
          base AS (SELECT count(DISTINCT substring(w, CAST(i AS INTEGER), 1)) AS bv
                   FROM (SELECT w, unnest(generate_series(1, length(w))) AS i
                         FROM wc)),
          pairs AS (SELECT substring(w, CAST(i AS INTEGER), 1) AS l,
                           substring(w, CAST(i AS INTEGER) + 1, 1) AS r,
                           CAST(sum(cnt) AS BIGINT) AS pc
                    FROM (SELECT w, cnt,
                                 unnest(generate_series(1, length(w) - 1)) AS i
                          FROM wc)
                    GROUP BY 1, 2),
          f AS (SELECT l, r, pc FROM pairs ORDER BY pc DESC, l, r LIMIT 1)
          SELECT CAST($BpeRounds AS INTEGER) AS n_merges, base.bv AS base_vocab,
                 f.l AS first_left, f.r AS first_right, f.pc AS first_cnt,
                 true AS monotone_ok, true AS vocab_ok, true AS roundtrip_ok
          FROM base, f""",
    // independent SQL-side BPE: trains the same rounds, encodes the same
    // corpus — see bpeEncodeOracle
    "bpe_encode" -> bpeEncodeOracle(BpeRounds),
    "dedup_corpus" ->
      s"""WITH RECURSIVE docs AS ($docsDupSql),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte,
          cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
          undirected AS (SELECT a AS x, b AS y FROM cands
                         UNION SELECT b AS x, a AS y FROM cands),
          reach(x, y) AS (
            SELECT x, y FROM undirected
            UNION
            SELECT r.x, u.y FROM reach r JOIN undirected u ON r.y = u.x),
          clusters AS (
            SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
            FROM docs d LEFT JOIN reach r ON r.x = d.doc_id
            GROUP BY d.doc_id)
          SELECT d.doc_id, d.lang, d.n_chars,
                 (SELECT count(*) FROM
                    (SELECT band FROM bands GROUP BY band HAVING count(*) > 1000))
                   AS capped_lsh_buckets
          FROM docs d JOIN clusters c ON d.doc_id = c.doc_id
          WHERE c.doc_id = c.cluster_id
          ORDER BY d.doc_id""",
    "sim_knn_join" ->
      """WITH nz AS (
           SELECT * FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         p AS (
           SELECT x.vec_id AS a, y.vec_id AS b,
                  round(list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
                        / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))
                           * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))),
                        6) AS cos
           FROM nz x JOIN nz y
             ON x.label = y.label AND x.vec_id <> y.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rank
               FROM p)
         SELECT a, b, cos, rank, 0::BIGINT AS capped_cells
         FROM r WHERE rank <= 3 ORDER BY a, rank""",
    "text_winnow" ->
      """WITH g AS (
           SELECT doc_id,
                  list_transform(generate_series(1, length(text) - 4),
                                 i -> substr(text, i, 5)) AS grams
           FROM documents),
         h AS (SELECT doc_id,
                      list_transform(grams,
                        gm -> ('0x' || substr(md5(gm || ':wn'), 1, 15))::BIGINT) AS hs
               FROM g),
         w AS (SELECT doc_id, greatest(len(hs) - 3, 0) AS n_windows,
                      list_transform(generate_series(1, len(hs) - 3),
                        j -> least(hs[j], hs[j+1], hs[j+2], hs[j+3])) AS wins
               FROM h)
         SELECT doc_id, n_windows,
                len(list_distinct(wins)) AS n_fp,
                list_min(list_distinct(wins)) AS fp_min,
                list_max(list_distinct(wins)) AS fp_max
         FROM w ORDER BY doc_id""",
    "ingest_gate" ->
      s"""WITH base AS (
           SELECT doc_id, text, $duckWords AS words FROM documents),
         m AS (
           SELECT doc_id, text, len(words) AS n_tokens,
                  round(len(list_filter(words, w -> w IN ('the', 'a')))::DOUBLE
                        / len(words)::DOUBLE, 6) AS stop_ratio
           FROM base),
         h AS (SELECT doc_id, text, n_tokens, stop_ratio,
                      list_transform(
                        list_transform(generate_series(1, length(text) - 4),
                                       i -> substr(text, i, 5)),
                        gm -> ('0x' || substr(md5(gm || ':wn'), 1, 15))::BIGINT) AS hs
               FROM m)
         SELECT doc_id, n_tokens, stop_ratio,
                n_tokens BETWEEN 10 AND 1000 AND stop_ratio < 0.5 AS passes,
                list_min(list_transform(generate_series(1, len(hs) - 3),
                    j -> least(hs[j], hs[j+1], hs[j+2], hs[j+3]))) AS fingerprint,
                md5(text) AS content_h
         FROM h ORDER BY doc_id""",
    "text_stats" ->
      s"""WITH docs AS (SELECT * FROM documents),
          $duckShingleCte
          SELECT doc_id, lang,
                 len(words) AS n_tokens,
                 len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_tokens_re,
                 len(list_filter(words, w -> w IN ('the', 'a'))) AS stop_hits,
                 round(len(list_filter(words, w -> w IN ('the', 'a')))::DOUBLE
                       / len(words)::DOUBLE, 6) AS stop_ratio,
                 CASE WHEN len(list_filter(words, w -> w IN ('the', 'a'))) > 0
                      THEN 'en' ELSE 'unk' END AS lang_guess,
                 len(words) BETWEEN 10 AND 1000
                   AND round(len(list_filter(words, w -> w IN ('the', 'a')))::DOUBLE
                             / len(words)::DOUBLE, 6) < 0.5 AS quality,
                 list_min(list_transform(shingles, fs -> ${duckHash("fs", "'fp'")})) AS fingerprint
          FROM sh ORDER BY doc_id""",
    "text_quality_filter" ->
      """WITH base AS (
           SELECT doc_id, text, string_split(lower(text), ' ') AS words FROM documents),
         m AS (
           SELECT doc_id,
                  len(words) AS n_tokens,
                  round(strlen(array_to_string(words, ''))::DOUBLE / len(words)::DOUBLE, 6) AS mean_wlen,
                  round(len(list_filter(words, w -> w IN ('the', 'a')))::DOUBLE
                        / len(words)::DOUBLE, 6) AS stop_ratio,
                  round((strlen(text) - strlen(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
                        / strlen(text)::DOUBLE, 6) AS symbol_ratio
           FROM base),
         r AS (
           SELECT *, CASE WHEN n_tokens NOT BETWEEN 20 AND 90 THEN 'token_count'
                          WHEN mean_wlen NOT BETWEEN 2.0 AND 12.0 THEN 'word_length'
                          WHEN stop_ratio > 0.12 THEN 'stopword_ratio'
                          WHEN symbol_ratio > 0.2 THEN 'symbol_ratio' END AS fail_rule
           FROM m)
         SELECT doc_id, n_tokens, mean_wlen, stop_ratio, symbol_ratio,
                fail_rule IS NULL AS passes, fail_rule
         FROM r ORDER BY doc_id""",
    "lang_dist" ->
      """SELECT lang, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
         FROM documents GROUP BY 1 ORDER BY lang""",
    // mirrors LlmOps.embeddingHealth: per-element double casts keep the
    // dot product order- and precision-identical to graft_dot;
    // quantile_cont is DuckDB's linear-interpolation percentile — the
    // same estimator as Spark's exact `percentile` (round6 both sides)
    "embedding_health" ->
      """WITH v AS (
           SELECT CAST(len(embedding) AS BIGINT) AS dim,
                  CASE WHEN len(list_filter(embedding, x -> isnan(x))) > 0
                       THEN 1 ELSE 0 END AS has_nan,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings)
         SELECT count(*) AS n_vecs,
                min(dim) AS dim_min, max(dim) AS dim_max,
                CAST(sum(has_nan) AS BIGINT) AS n_nan,
                CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
                round(quantile_cont(nrm, 0.01), 6) AS norm_p01,
                round(quantile_cont(nrm, 0.5), 6) AS norm_p50,
                round(quantile_cont(nrm, 0.99), 6) AS norm_p99
         FROM v""",
    // approx regime: percentiles are sketch estimates (engine-specific),
    // so the oracle checks the structural counts exactly and the
    // tolerance flag the Spark side computed against its own exact pass
    "embedding_health_approx" ->
      """WITH v AS (
           SELECT CAST(len(embedding) AS BIGINT) AS dim,
                  CASE WHEN len(list_filter(embedding, x -> isnan(x))) > 0
                       THEN 1 ELSE 0 END AS has_nan,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings)
         SELECT count(*) AS n_vecs,
                min(dim) AS dim_min, max(dim) AS dim_max,
                CAST(sum(has_nan) AS BIGINT) AS n_nan,
                CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
                TRUE AS norms_ok
         FROM v""",
    "embed_quantize" ->
      """WITH s AS (
           SELECT vec_id, embedding,
                  greatest(list_max(list_transform(embedding, v -> abs(v::DOUBLE))) / 127.0,
                           1e-30) AS scale
           FROM embeddings),
         q AS (
           SELECT vec_id, scale, embedding,
                  list_transform(embedding,
                    v -> CAST(floor(v::DOUBLE / scale + 0.5) AS INTEGER)) AS codes
           FROM s)
         SELECT vec_id,
                round(scale, 9) AS scale_r,
                CAST(list_sum(codes) AS INTEGER) AS code_sum,
                round(list_max(list_transform(generate_series(1, len(codes)),
                        i -> abs(codes[i] * scale - embedding[i]::DOUBLE))), 9) AS max_err,
                len(codes) AS dim
         FROM q ORDER BY vec_id""",
    "multimodal_cols" ->
      """SELECT doc_id, lang, n_chars, label, len(embedding) AS dim
         FROM documents JOIN embeddings ON doc_id = vec_id
         ORDER BY doc_id""",
    "ivf_train_kmeans" ->
      s"""WITH $duckKmeansChain,
          cnt AS (SELECT cid, count(*) AS n_assigned FROM a3 GROUP BY 1)
          SELECT cnt.cid, cnt.n_assigned,
                 round(sqrt(list_dot_product(c2.cvec, c2.cvec)), 6) AS cnorm
          FROM cnt JOIN cent2 c2 USING (cid)
          ORDER BY cid""",
    // index lifecycle report: build-time mean assignment cosine comes from
    // the winning (rn=1) rows of the training chain's final assignment
    // scoring; the "now" side rescoreds the dup-grown corpus against the
    // same cent2. c_auto mirrors kmeansAutoC: round(sqrt(n)), clamped.
    "ann_index_health" ->
      s"""WITH $duckKmeansChain,
          mb AS (SELECT round(avg(ccos), 6) AS m FROM (
                   SELECT ccos, row_number() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cid) AS rn FROM s3)
                 WHERE rn = 1),
          dup AS ($embDupSql),
          embd AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                     sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                   FROM dup
                   WHERE vec_id <> 0
                     AND sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0),
          sn AS (SELECT m.vec_id, c.cid,
                   round(list_dot_product(m.e, c.cvec) /
                         (m.nrm * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS ccos
                 FROM embd m CROSS JOIN (SELECT * FROM cent2
                        WHERE sqrt(list_dot_product(cvec, cvec)) > 0) c),
          mn AS (SELECT round(avg(ccos), 6) AS m, count(*) AS n_now FROM (
                   SELECT vec_id, ccos, row_number() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cid) AS rn FROM sn)
                 WHERE rn = 1),
          h AS (SELECT (SELECT count(*) FROM emb) AS n_indexed,
                       mn.n_now AS n_now, 4 AS c_index,
                       GREATEST(2, LEAST(round(sqrt(mn.n_now::DOUBLE)), 65536))::INT AS c_auto,
                       mb.m AS mean_cos_build, mn.m AS mean_cos_now
                FROM mb, mn)
          SELECT n_indexed, n_now, c_index, c_auto, mean_cos_build, mean_cos_now,
                 (c_auto > 2.0 * c_index OR mean_cos_build - mean_cos_now > 0.05) AS stale,
                 CASE WHEN c_auto > 2.0 * c_index AND mean_cos_build - mean_cos_now > 0.05
                        THEN 'size+drift'
                      WHEN c_auto > 2.0 * c_index THEN 'size'
                      WHEN mean_cos_build - mean_cos_now > 0.05 THEN 'drift'
                      ELSE 'fresh' END AS reason
          FROM h""",
    "sim_search_ivf_kmeans" -> simSearchKmeansSql,
    // the cell-partitioned SERVING path is row-identical to the
    // re-assigning trained-IVF search at the same (c, iters, nprobe, k)
    // — the shared mirror asserts exactly that
    "sim_search_served" -> simSearchKmeansSql,
    // the appended store serves the SAME rows as the base-trained chain's
    // full-corpus assignment — a dropped or duplicated delta row in the
    // probed cells would shift the top-k — and the health columns replay
    // the pre/post drift report the maintenance loop reads
    "ann_index_append" -> annIndexAppendSql,
    // batched serving: the same trained chain, per-query probe + top-k
    // via row_number windows (the oracle-side analog of graft_topk's
    // (score desc, id asc) heap and the (ccos desc, cid asc) cell rank)
    "sim_search_batch" ->
      s"""WITH $duckKmeansChain,
          q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
                       sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qnrm
                FROM embeddings
                WHERE vec_id < 4
                  AND sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0),
          pc AS (SELECT q.qid, c2.cid,
                        round(list_dot_product(c2.cvec, q.qv) /
                              (sqrt(list_dot_product(c2.cvec, c2.cvec)) * q.qnrm), 6) AS ccos
                 FROM cent2 c2 CROSS JOIN q
                 WHERE sqrt(list_dot_product(c2.cvec, c2.cvec)) > 0),
          probed AS (SELECT qid, cid FROM (
                       SELECT qid, cid,
                              row_number() OVER (PARTITION BY qid
                                                 ORDER BY ccos DESC, cid) AS rn
                       FROM pc) WHERE rn <= 2),
          scored AS (SELECT p.qid, m.vec_id,
                            round(list_dot_product(m.e, q.qv) / (m.nrm * q.qnrm), 6) AS cos
                     FROM a3 JOIN probed p USING (cid)
                             JOIN emb m USING (vec_id)
                             JOIN q ON q.qid = p.qid)
          SELECT qid, vec_id, cos FROM (
            SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
            FROM scored) WHERE rn <= 10
          ORDER BY qid, cos DESC, vec_id""",
    "dedup_corpus_best" ->
      s"""WITH RECURSIVE docs AS ($docsDupSql),
          $duckShingleCte,
          $duckSigCte,
          $duckBandCte,
          cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                    FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
          undirected AS (SELECT a AS x, b AS y FROM cands
                         UNION SELECT b AS x, a AS y FROM cands),
          reach(x, y) AS (
            SELECT x, y FROM undirected
            UNION
            SELECT r.x, u.y FROM reach r JOIN undirected u ON r.y = u.x),
          clusters AS (
            SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
            FROM docs d LEFT JOIN reach r ON r.x = d.doc_id
            GROUP BY d.doc_id),
          keepers AS (
            SELECT doc_id FROM (
              SELECT d.doc_id,
                     row_number() OVER (PARTITION BY c.cluster_id
                                        ORDER BY length(d.text) DESC, d.doc_id) AS rn
              FROM docs d JOIN clusters c ON d.doc_id = c.doc_id)
            WHERE rn = 1)
          SELECT d.doc_id, d.lang, d.n_chars,
                 (SELECT count(*) FROM
                    (SELECT band FROM bands GROUP BY band HAVING count(*) > 1000))
                   AS capped_lsh_buckets
          FROM docs d JOIN keepers k ON d.doc_id = k.doc_id
          ORDER BY d.doc_id""",
    "sample_quality_weighted" ->
      """WITH g AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, length(text) - 2),
                        i -> ('0x' || substr(md5(substr(text, i, 3) || ':lm'), 1, 15))::BIGINT)) AS h
                    FROM documents),
         cnt AS (SELECT h, count(*) AS c FROM g GROUP BY 1),
         tot AS (SELECT CAST(sum(greatest(length(text) - 2, 0)) AS DOUBLE) AS n
                 FROM documents),
         vocab AS (SELECT h, c FROM cnt ORDER BY c DESC, h LIMIT 1024),
         scored AS (SELECT g.doc_id,
                      coalesce(log10(v.c::DOUBLE / t.n), log10(0.5 / t.n)) AS logp
                    FROM g LEFT JOIN vocab v USING (h) CROSS JOIN tot t),
         lm AS (SELECT doc_id, count(*) AS n_grams, round(avg(logp), 6) AS avg_logp
                FROM scored GROUP BY 1)
         SELECT doc_id, n_grams, avg_logp,
                round(greatest(0.0, least(1.0, (avg_logp - (-2.405)::DOUBLE) * 8.0)), 6) AS keep_prob,
                (('0x' || substr(md5(doc_id::VARCHAR || ':qw'), 1, 15))::BIGINT::DOUBLE
                   / 1152921504606846976.0)
                  < round(greatest(0.0, least(1.0, (avg_logp - (-2.405)::DOUBLE) * 8.0)), 6) AS kept
         FROM lm ORDER BY doc_id""",
    "quality_lm_score" ->
      """WITH g AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, length(text) - 2),
                        i -> ('0x' || substr(md5(substr(text, i, 3) || ':lm'), 1, 15))::BIGINT)) AS h
                    FROM documents),
         cnt AS (SELECT h, count(*) AS c FROM g GROUP BY 1),
         tot AS (SELECT CAST(sum(greatest(length(text) - 2, 0)) AS DOUBLE) AS n
                 FROM documents),
         vocab AS (SELECT h, c FROM cnt ORDER BY c DESC, h LIMIT 1024),
         scored AS (SELECT g.doc_id,
                      coalesce(log10(v.c::DOUBLE / t.n), log10(0.5 / t.n)) AS logp
                    FROM g LEFT JOIN vocab v USING (h) CROSS JOIN tot t)
         SELECT doc_id, count(*) AS n_grams, round(avg(logp), 6) AS avg_logp
         FROM scored GROUP BY 1 ORDER BY doc_id""",
    // mirrors quality_histogram: the quality_lm_score chain rolled into
    // fixed-width floor(avg_logp) buckets
    "quality_histogram" ->
      """WITH g AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, length(text) - 2),
                        i -> ('0x' || substr(md5(substr(text, i, 3) || ':lm'), 1, 15))::BIGINT)) AS h
                    FROM documents),
         cnt AS (SELECT h, count(*) AS c FROM g GROUP BY 1),
         tot AS (SELECT CAST(sum(greatest(length(text) - 2, 0)) AS DOUBLE) AS n
                 FROM documents),
         vocab AS (SELECT h, c FROM cnt ORDER BY c DESC, h LIMIT 1024),
         scored AS (SELECT g.doc_id,
                      coalesce(log10(v.c::DOUBLE / t.n), log10(0.5 / t.n)) AS logp
                    FROM g LEFT JOIN vocab v USING (h) CROSS JOIN tot t),
         s AS (SELECT doc_id, round(avg(logp), 6) AS avg_logp
               FROM scored GROUP BY 1)
         SELECT CAST(floor(avg_logp) AS BIGINT) AS bucket,
                count(*) AS n_docs,
                round(avg(avg_logp), 6) AS mean_logp
         FROM s GROUP BY 1 ORDER BY bucket""",
    "dedup_incremental" ->
      s"""WITH all_docs AS ($docsDupSql),
          cd AS (SELECT * FROM all_docs WHERE doc_id < 100000),
          nd AS (SELECT * FROM all_docs WHERE doc_id >= 100000),
          ${duckLshChain("cd", "c")},
          ${duckLshChain("nd", "n")},
          cand AS (SELECT DISTINCT nb.doc_id AS a, cb.doc_id AS b
                   FROM nbands nb JOIN cbands cb USING (band))
          SELECT cand.a, cand.b,
                 round(len(list_intersect(list_distinct(pa.shingles), list_distinct(pb.shingles)))::DOUBLE
                       / (len(list_distinct(pa.shingles)) + len(list_distinct(pb.shingles))
                          - len(list_intersect(list_distinct(pa.shingles), list_distinct(pb.shingles))))::DOUBLE,
                       6) AS jac
          FROM cand
          JOIN nsh pa ON pa.doc_id = cand.a
          JOIN csh pb ON pb.doc_id = cand.b
          WHERE round(len(list_intersect(list_distinct(pa.shingles), list_distinct(pb.shingles)))::DOUBLE
                      / (len(list_distinct(pa.shingles)) + len(list_distinct(pb.shingles))
                         - len(list_intersect(list_distinct(pa.shingles), list_distinct(pb.shingles))))::DOUBLE,
                      6) >= 0.5
          ORDER BY a, b""",
    // mirrors LlmOps.semanticDedupWith: assign the dup-injected corpus to
    // the cent2 trained centroids (argmax round6 cosine, ties to smallest
    // cid), then drop any vector with a smaller-id cluster-mate at
    // round6 cosine >= 0.95
    "dedup_semantic" ->
      s"""WITH ${duckKmeansChainC(16)},
          sdc AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                  FROM ($embDupSql) t0
                  WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0),
          sds AS (SELECT m.vec_id, c.cid,
                    round(list_dot_product(m.e, c.cvec) /
                          (m.nrm * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS ccos
                  FROM sdc m CROSS JOIN (SELECT * FROM cent2
                         WHERE sqrt(list_dot_product(cvec, cvec)) > 0) c),
          sda AS (SELECT vec_id, cid FROM (
                    SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY ccos DESC, cid) AS rn
                    FROM sds) WHERE rn = 1),
          sdv AS (SELECT a.vec_id, a.cid, m.e, m.nrm
                  FROM sda a JOIN sdc m USING (vec_id)),
          sdd AS (SELECT DISTINCT y.vec_id
                  FROM sdv x JOIN sdv y
                    ON x.cid = y.cid AND x.vec_id < y.vec_id
                  WHERE round(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 6) >= 0.95)
          SELECT v.vec_id, v.cid, (d.vec_id IS NOT NULL) AS dropped
          FROM sdv v LEFT JOIN sdd d ON v.vec_id = d.vec_id
          ORDER BY v.vec_id""",
    // mirrors LlmOps.mixTemperature (alpha=0.5): tempered shares from the
    // per-lang counts (DECIMAL-exact w_tot), keep_frac round6'd, keep
    // decided by the md5-derived u01 of each doc_id
    "mix_temperature" ->
      """WITH cnt AS (SELECT lang, count(*) AS n_l,
                        pow(count(*)::DOUBLE, 0.5) AS w
                      FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(CAST(w AS DECIMAL(30,12))) AS DOUBLE) AS w_tot
                 FROM cnt),
         fr AS (SELECT lang, n_l, w / w_tot AS q,
                       n_l::DOUBLE / (w / w_tot) AS r
                FROM cnt, tot),
         m AS (SELECT min(r) AS m_tot FROM fr),
         kf AS (SELECT lang, round(q * m_tot / n_l::DOUBLE, 6) AS keep_frac
                FROM fr, m)
         SELECT d.doc_id, d.lang, kf.keep_frac
         FROM documents d JOIN kf USING (lang)
         WHERE ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
               / 4294967296.0 < kf.keep_frac
         ORDER BY d.doc_id""",

    // score = round(tf·N / df, 6): the log-free idf keeps every double op
    // inside the IEEE-exact set so both engines agree bit-for-bit; the
    // row_number tie-break (score DESC, token) is the graft_topk_str
    // heap's contract
    "tfidf_topterms" ->
      """WITH w AS (SELECT doc_id, lang,
                           unnest(string_split(lower(text), ' ')) AS token
                    FROM documents),
          w2 AS (SELECT * FROM w WHERE token <> ''),
          tf AS (SELECT lang, token, count(*) AS tf FROM w2 GROUP BY 1, 2),
          dft AS (SELECT token, count(*) AS df
                  FROM (SELECT DISTINCT doc_id, token FROM w2) GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM documents),
          scored AS (SELECT lang, tf.token,
                            round(CAST(tf * (SELECT n_docs FROM n) AS DOUBLE)
                                  / CAST(df AS DOUBLE), 6) AS score
                     FROM tf JOIN dft ON tf.token = dft.token)
          SELECT lang, CAST(rk AS INTEGER) AS rk, token, score FROM (
            SELECT lang, token, score,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY score DESC, token) AS rk
            FROM scored)
          WHERE rk <= 10 ORDER BY lang, rk""",

    // identical parenthesization to bm25Search: idf, the length-normalized
    // tf saturation, and round6 all run on bit-identical doubles; the
    // ≤3-term sum goes through DECIMAL(20,6) so addition order can't matter
    "bm25_search" ->
      """WITH base AS (SELECT doc_id,
                              list_filter(string_split(lower(text), ' '),
                                          w -> w <> '') AS words
                       FROM documents),
          dls AS (SELECT doc_id, len(words) AS dl, words FROM base),
          stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dls),
          tf AS (SELECT doc_id, dl, term, count(*) AS tf
                 FROM (SELECT doc_id, dl,
                              unnest(list_filter(words,
                                w -> w IN ('column', 'window', 'scan'))) AS term
                       FROM dls)
                 GROUP BY 1, 2, 3),
          dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          contrib AS (
            SELECT tf.doc_id,
                   round(((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                            / (CAST(d.df AS DOUBLE) + 0.5)
                          * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)))
                         / (CAST(tf.tf AS DOUBLE)
                            + 1.2 * (1.0 - 0.75
                                     + (0.75 * CAST(tf.dl AS DOUBLE))
                                       / (CAST(s.sum_dl AS DOUBLE)
                                          / CAST(s.n_docs AS DOUBLE)))), 6)
                     AS contrib
            FROM tf JOIN dft d USING (term) CROSS JOIN stats s)
          SELECT doc_id,
                 CAST(sum(CAST(contrib AS DECIMAL(20,6))) AS DOUBLE) AS score,
                 count(*) AS n_terms
          FROM contrib GROUP BY doc_id
          ORDER BY score DESC, doc_id LIMIT 10""",

    // RRF fusion of the bm25_search chain (doc_id <> 0, top-20) and the
    // sim_search_topk chain (top-20): fused = 1/(60+lex_rank) +
    // 1/(60+dense_rank) — each division exactly rounded, ONE double add,
    // so both engines produce identical bits before round6. Ranks surface
    // as DOUBLE so the nullable column has one cross-engine dtype.
    "hybrid_search_rrf" ->
      """WITH base AS (SELECT doc_id,
                              list_filter(string_split(lower(text), ' '),
                                          w -> w <> '') AS words
                       FROM documents WHERE doc_id <> 0),
          dls AS (SELECT doc_id, len(words) AS dl, words FROM base),
          stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dls),
          tf AS (SELECT doc_id, dl, term, count(*) AS tf
                 FROM (SELECT doc_id, dl,
                              unnest(list_filter(words,
                                w -> w IN ('column', 'window', 'scan'))) AS term
                       FROM dls)
                 GROUP BY 1, 2, 3),
          dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          contrib AS (
            SELECT tf.doc_id,
                   round(((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                            / (CAST(d.df AS DOUBLE) + 0.5)
                          * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)))
                         / (CAST(tf.tf AS DOUBLE)
                            + 1.2 * (1.0 - 0.75
                                     + (0.75 * CAST(tf.dl AS DOUBLE))
                                       / (CAST(s.sum_dl AS DOUBLE)
                                          / CAST(s.n_docs AS DOUBLE)))), 6)
                     AS contrib
            FROM tf JOIN dft d USING (term) CROSS JOIN stats s),
          lexs AS (SELECT doc_id,
                          CAST(sum(CAST(contrib AS DECIMAL(20,6))) AS DOUBLE)
                            AS score
                   FROM contrib GROUP BY doc_id
                   ORDER BY score DESC, doc_id LIMIT 20),
          lexr AS (SELECT doc_id,
                          row_number() OVER (ORDER BY score DESC, doc_id)
                            AS lex_rank
                   FROM lexs),
          q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
          dens AS (SELECT vec_id,
                          round(list_dot_product(embedding::DOUBLE[], qe::DOUBLE[])
                                / (sqrt(list_dot_product(embedding::DOUBLE[],
                                                         embedding::DOUBLE[]))
                                   * sqrt(list_dot_product(qe::DOUBLE[],
                                                           qe::DOUBLE[]))),
                                6) AS cos
                   FROM embeddings, q WHERE vec_id <> 0
                   ORDER BY cos DESC, vec_id LIMIT 20),
          denr AS (SELECT vec_id AS doc_id,
                          row_number() OVER (ORDER BY cos DESC, vec_id)
                            AS dense_rank
                   FROM dens)
          SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
                 round(coalesce(1.0 / (60.0 + CAST(l.lex_rank AS DOUBLE)), 0.0)
                       + coalesce(1.0 / (60.0 + CAST(r.dense_rank AS DOUBLE)),
                                  0.0), 6) AS rrf,
                 CAST(l.lex_rank AS DOUBLE) AS lex_rank,
                 CAST(r.dense_rank AS DOUBLE) AS dense_rank
          FROM lexr l FULL OUTER JOIN denr r ON l.doc_id = r.doc_id
          ORDER BY rrf DESC, doc_id LIMIT 10""",

    // DSIR mirror: λ[b] is ONE ln of an exact rational (products of exact
    // int64→double widenings) rounded at 6; per-doc logw sums 6-dec
    // contribs through DECIMAL (exact, order-independent); the Gumbel draw
    // is a dyadic-rational md5 u — identical bits in both engines
    "dsir_select" ->
      """WITH base AS (SELECT doc_id, source,
                              list_filter(string_split(lower(text), ' '),
                                          w -> w <> '') AS words
                       FROM documents),
          wx AS (SELECT doc_id,
                        source IN ('src1', 'src2', 'src3') AS is_t,
                        ('0x' || substr(md5(w || ':' || 'dsir'), 1, 15))::BIGINT
                          % 64 AS bucket
                 FROM (SELECT doc_id, source, unnest(words) AS w FROM base)),
          feats AS (SELECT doc_id, is_t, bucket, count(*) AS n
                    FROM wx GROUP BY 1, 2, 3),
          stats AS (SELECT bucket,
                           sum(CASE WHEN is_t THEN n ELSE 0 END) AS cnt_t,
                           sum(n) AS cnt_r
                    FROM feats GROUP BY 1),
          tots AS (SELECT sum(cnt_t) AS tot_t, sum(cnt_r) AS tot_r FROM stats),
          lam AS (SELECT bucket,
                         round(ln((CAST(cnt_t + 1 AS DOUBLE)
                                   * CAST(tot_r + 64 AS DOUBLE))
                                  / (CAST(tot_t + 64 AS DOUBLE)
                                     * CAST(cnt_r + 1 AS DOUBLE))), 6) AS lam
                  FROM stats CROSS JOIN tots),
          scored AS (SELECT doc_id,
                            sum(CAST(round(CAST(n AS DOUBLE) * lam, 6)
                                     AS DECIMAL(30,6))) AS logw_dec
                     FROM feats JOIN lam USING (bucket) GROUP BY 1),
          gum AS (SELECT doc_id, source,
                         round(-ln(-ln(
                           ((('0x' || substr(md5(doc_id::VARCHAR || ':' || 'gum'),
                                      1, 15))::BIGINT % 1048576)::DOUBLE + 0.5)
                           / 1048576.0)), 6) AS gumbel
                  FROM documents)
          SELECT g.doc_id, g.source,
                 coalesce(CAST(s.logw_dec AS DOUBLE), 0.0) AS logw,
                 g.gumbel,
                 round(coalesce(CAST(s.logw_dec AS DOUBLE), 0.0) + g.gumbel, 6)
                   AS skey
          FROM gum g LEFT JOIN scored s ON g.doc_id = s.doc_id
          ORDER BY skey DESC, g.doc_id LIMIT 100""",

    // minhash_tune mirror: one 16-perm signature, per-config band keys via
    // the graft_band_hash string convention ("b|s1,s2,..." md5-prefix-15),
    // hot buckets > 1000 excluded and counted; the closed forms round at 6
    // (power's final-ulp wiggle is five orders below the rounding step)
    "minhash_tune" ->
      s"""WITH docs AS ($docsDupSql),
          w AS (SELECT doc_id, text, $duckWords AS words FROM docs),
          sh AS (SELECT doc_id,
                   CASE WHEN len(words) < 3 THEN [lower(text)]
                        ELSE list_transform(generate_series(1, len(words) - 2),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                   END AS shingles
                 FROM w),
          sigt AS (SELECT doc_id,
                     list_transform(generate_series(0, 15),
                       j -> list_min(list_transform(
                              list_transform(shingles,
                                s -> ('0x' || substr(md5(s), 1, 8))::BIGINT),
                              h -> ((1 + j * 104729) * h + j * 7919) % 4294967311))) AS sig
                   FROM sh),
          cfgs AS (SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8))
                     AS t(nb, nr)),
          bands AS (SELECT nb, nr, doc_id,
                      unnest(list_transform(generate_series(0, nb - 1),
                        b -> ('0x' || substr(md5(b::VARCHAR || '|' ||
                               array_to_string(list_slice(sig, b * nr + 1,
                                                          b * nr + nr), ',')),
                             1, 15))::BIGINT)) AS band
                    FROM sigt CROSS JOIN cfgs),
          hot AS (SELECT nb, nr, band FROM bands
                  GROUP BY 1, 2, 3 HAVING count(*) > 1000),
          okb AS (SELECT b.nb, b.nr, b.band, b.doc_id
                  FROM bands b LEFT JOIN hot h
                    ON b.nb = h.nb AND b.nr = h.nr AND b.band = h.band
                  WHERE h.band IS NULL),
          pairs AS (SELECT DISTINCT l.nb, l.nr, l.doc_id AS a, r.doc_id AS b
                    FROM okb l JOIN okb r
                      ON l.nb = r.nb AND l.nr = r.nr AND l.band = r.band
                    WHERE l.doc_id < r.doc_id),
          pc AS (SELECT nb, nr, count(*) AS n_pairs FROM pairs GROUP BY 1, 2),
          hc AS (SELECT nb, nr, count(*) AS n_hot FROM hot GROUP BY 1, 2)
          SELECT c.nb AS bands, c.nr AS rows_per_band,
                 round(power(1.0 / CAST(c.nb AS DOUBLE),
                             1.0 / CAST(c.nr AS DOUBLE)), 6) AS s_star,
                 round(1.0 - power(1.0 - power(0.5, CAST(c.nr AS DOUBLE)),
                                   CAST(c.nb AS DOUBLE)), 6) AS p050,
                 round(1.0 - power(1.0 - power(0.8, CAST(c.nr AS DOUBLE)),
                                   CAST(c.nb AS DOUBLE)), 6) AS p080,
                 round(1.0 - power(1.0 - power(0.9, CAST(c.nr AS DOUBLE)),
                                   CAST(c.nb AS DOUBLE)), 6) AS p090,
                 coalesce(pc.n_pairs, 0) AS n_pairs,
                 coalesce(hc.n_hot, 0) AS n_hot_buckets
          FROM cfgs c
          LEFT JOIN pc ON c.nb = pc.nb AND c.nr = pc.nr
          LEFT JOIN hc ON c.nb = hc.nb AND c.nr = hc.nr
          ORDER BY bands DESC""",

    // ccnet_buckets mirror: trigram LM counts restricted to the reference
    // slice, per-lang terciles by ELEMENT ACCESS into the sorted score
    // list ((n-1)//3 integer division — no interpolated percentile, so
    // both engines compare the same round6 doubles)
    "ccnet_buckets" ->
      """WITH g AS (SELECT doc_id, lang,
                      source IN ('src1', 'src2', 'src3') AS is_ref,
                      unnest(list_transform(generate_series(1, length(text) - 2),
                        i -> ('0x' || substr(md5(substr(text, i, 3) || ':lm'), 1, 15))::BIGINT)) AS h
                    FROM documents),
         cnt AS (SELECT h, count(*) AS c FROM g WHERE is_ref GROUP BY 1),
         tot AS (SELECT CAST(sum(greatest(length(text) - 2, 0)) AS DOUBLE) AS n
                 FROM documents WHERE source IN ('src1', 'src2', 'src3')),
         vocab AS (SELECT h, c FROM cnt ORDER BY c DESC, h LIMIT 1024),
         scored AS (SELECT g.doc_id, g.lang,
                      coalesce(log10(v.c::DOUBLE / t.n), log10(0.5 / t.n)) AS logp
                    FROM g LEFT JOIN vocab v USING (h) CROSS JOIN tot t),
         s AS (SELECT doc_id, lang, count(*) AS n_grams,
                      round(avg(logp), 6) AS avg_logp
               FROM scored GROUP BY 1, 2),
         thr AS (SELECT lang,
                        arr[((n - 1) // 3) + 1] AS t_lo,
                        arr[((2 * (n - 1)) // 3) + 1] AS t_hi
                 FROM (SELECT lang, list(avg_logp ORDER BY avg_logp) AS arr,
                              count(*) AS n
                       FROM s GROUP BY 1))
         SELECT s.doc_id, s.lang, s.n_grams, s.avg_logp,
                CASE WHEN s.avg_logp <= t.t_lo THEN 'tail'
                     WHEN s.avg_logp <= t.t_hi THEN 'middle'
                     ELSE 'head' END AS ppl_bucket
         FROM s JOIN thr t USING (lang)
         ORDER BY s.doc_id""",

    // cluster_balanced_sample mirror: the trained-cell assignment a3 from
    // the shared k-means chain (c=16), per-cell row_number over the
    // md5-dyadic draw (u DESC, vec_id — the graft_topk heap contract),
    // capped at 20 per cell
    "cluster_balanced_sample" ->
      s"""WITH ${duckKmeansChainC(16)},
          uu AS (SELECT vec_id, cid,
                   ((('0x' || substr(md5(vec_id::VARCHAR || ':' || 'cb'),
                        1, 15))::BIGINT % 1048576)::DOUBLE + 0.5)
                     / 1048576.0 AS u
                 FROM a3),
          r AS (SELECT cid, vec_id, u,
                       row_number() OVER (PARTITION BY cid
                                          ORDER BY u DESC, vec_id) AS rk,
                       count(*) OVER (PARTITION BY cid) AS n_cell
                FROM uu)
          SELECT cid, n_cell, CAST(rk AS INTEGER) AS rk, vec_id,
                 round(u, 6) AS u
          FROM r WHERE rk <= 20 ORDER BY cid, rk""",

    // exact shingle-set Jaccard between documents and the next-crawl twin;
    // est_ok is the envelope contract for the Spark-side MinHash estimate
    // (64 perms, tol 0.2 ≈ 4.5σ — verified deterministic per SF tier)
    "corpus_overlap" ->
      s"""WITH bdocs AS ($docsNextCrawlSql),
          aw AS (SELECT doc_id, text, $duckWords AS words FROM documents),
          ash AS (SELECT CASE WHEN len(words) < 3 THEN [lower(text)]
                         ELSE list_transform(generate_series(1, len(words) - 2),
                                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                    END AS sh
                  FROM aw),
          ag AS (SELECT DISTINCT unnest(sh) AS g FROM ash),
          bw AS (SELECT doc_id, text, $duckWords AS words FROM bdocs),
          bsh AS (SELECT CASE WHEN len(words) < 3 THEN [lower(text)]
                         ELSE list_transform(generate_series(1, len(words) - 2),
                                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                    END AS sh
                  FROM bw),
          bg AS (SELECT DISTINCT unnest(sh) AS g FROM bsh),
          u AS (SELECT g, max(a) AS a, max(b) AS b FROM (
                  SELECT g, 1 AS a, 0 AS b FROM ag
                  UNION ALL
                  SELECT g, 0 AS a, 1 AS b FROM bg)
                GROUP BY g)
          SELECT CAST(sum(a) AS BIGINT) AS n_shingles_a,
                 CAST(sum(b) AS BIGINT) AS n_shingles_b,
                 CAST(sum(a * b) AS BIGINT) AS n_inter,
                 count(*) AS n_union,
                 round(CAST(sum(a * b) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                   AS jaccard,
                 true AS est_ok
          FROM u""",

    // apply half: structural facts exact; the quality booleans are the
    // in-query envelope (variance==eigenvalue, orthonormality, k/d
    // capture, projected-search recall) — same contract as pca_ok
    "embedding_pca_apply" ->
      """SELECT count(*) AS n_vecs,
                CAST(max(len(embedding)) AS INTEGER) AS dim,
                CAST(32 AS INTEGER) AS k,
                true AS proj_var_ok, true AS ortho_ok,
                true AS var_capture_ok, true AS recall_ok
         FROM embeddings WHERE vec_id <> 0""",

    // structural facts exact; pca_ok is the envelope contract for the
    // driver-side eigenpair (no SQL engine solves the eigenproblem)
    "embedding_pca" ->
      """SELECT count(*) AS n_vecs,
                CAST(max(len(embedding)) AS INTEGER) AS dim,
                CAST(1 AS INTEGER) AS n_components,
                true AS pca_ok
         FROM embeddings""",

    // per-dimension moments: mean/sd round to 6dp (cross-engine summation
    // skew ~1e-13 abs vs 5e-7 rounding spacing); min/max are exact float
    // widenings
    "embedding_dim_stats" ->
      """SELECT CAST(dim AS INTEGER) AS dim, count(*) AS n,
                round(avg(vd), 6) AS mean,
                round(stddev_samp(vd), 6) AS sd,
                min(vd) AS vmin, max(vd) AS vmax
         FROM (SELECT unnest(range(len(embedding))) AS dim,
                      CAST(unnest(embedding) AS DOUBLE) AS vd
               FROM embeddings)
         GROUP BY dim ORDER BY dim"""
  )
}
