package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Contracts of the round-9 additions: trained-IVF (spherical k-means),
  * char-trigram LM quality scoring, and incremental dedup against a
  * persisted signature store.
  */
class TrainedOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Two planted clusters on orthogonal axes; ids 1 and 2 are one member of
    * each, so the deterministic seed (smallest vec_ids) starts one centroid
    * in each cone.
    */
  private def planted = {
    val a = (1L, Seq(1f, 0f, 0f, 0f)) +:
      (3L to 10L).map(i => (i, Seq(1f, 0.01f * i, 0f, 0f)))
    val b = (2L, Seq(0f, 1f, 0f, 0f)) +:
      (11L to 20L).map(i => (i, Seq(0.01f * i, 1f, 0f, 0f)))
    (a ++ b).toDF("vec_id", "embedding")
  }

  test("kmeans separates planted clusters and assignments are exhaustive") {
    val assigned = LlmOps.kmeansAssignTo(planted,
        LlmOps.kmeansCentroids(planted, c = 2, iters = 2))
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned.size == 20)
    val aCids = (Seq(1L) ++ (3L to 10L)).map(assigned).toSet
    val bCids = (Seq(2L) ++ (11L to 20L)).map(assigned).toSet
    assert(aCids.size == 1 && bCids.size == 1 && aCids != bCids,
      s"planted clusters not separated: $assigned")
  }

  test("kmeans centroids are deterministic across runs (no RNG, exact sums)") {
    def run() = LlmOps.kmeansCentroids(planted, c = 2, iters = 2)
      .orderBy(col("cid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(run().toSeq == run().toSeq)
  }

  test("assignment argmax breaks cosine ties on the smallest cid") {
    val emb = Seq((7L, Seq(1f, 0f), 1.0))
      .toDF("vec_id", "embedding", "nrm")
    // two IDENTICAL centroids → equal rounded cosine → smallest cid wins
    val cents = Seq((3, Seq(1.0, 0.0)), (1, Seq(1.0, 0.0)))
      .toDF("cid", "cvec")
    val got = LlmOps.assignCells(emb, cents).select(col("cid")).head().getInt(0)
    assert(got == 1, s"tie must resolve to the smallest cid, got $got")
  }

  test("ivfSearchKmeans matches the brute-force top-k on the planted fixture") {
    val query = Seq((0L, Seq(1f, 0.005f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = LlmOps.ivfSearchKmeans(planted, query, c = 2, iters = 2,
        nprobe = 1, k = 3)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    // brute force with the operator's own rounding + tie-break
    val q = Array(1.0, 0.005, 0.0, 0.0)
    def cos(v: Seq[Float]): Double = {
      val d = v.zip(q).map { case (x, y) => x.toDouble * y }.sum
      val r = d / (math.sqrt(v.map(x => x.toDouble * x).sum) *
        math.sqrt(q.map(x => x * x).sum))
      math.floor(math.abs(r) * 1e6 + 0.5) * math.signum(r) / 1e6
    }
    val want = planted.collect()
      .map(r => (r.getLong(0), cos(r.getSeq[Float](1))))
      .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSeq
    assert(got == want, s"got $got want $want")
  }

  test("kmeans property: every assignment is the rounded-cosine argmax, min-cid ties") {
    // random corpora stress what the planted fixture can't: arbitrary
    // dims/c, dead cells (decimalVecMean emits only populated cids),
    // near-ties. Plain-Scala reference mirrors the operator's arithmetic
    // exactly: double dot in array order, graft_round's half-away-from-
    // zero, smallest-cid tie-break. Fixed-seed sampling, same pattern as
    // LlmOpsSpec's packSequences property.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](gen: Gen[A], n: Int): Seq[A] =
      (1L to n).flatMap(seed => gen.apply(Gen.Parameters.default, Seed(seed)))
    val gen = for {
      n <- Gen.choose(5, 30)
      dim <- Gen.oneOf(2, 3, 8)
      c <- Gen.choose(2, 4)
      vals <- Gen.listOfN(n * dim, Gen.choose(-5, 5).map(_.toFloat))
    } yield (n, dim, c, vals)
    def rnd6(x: Double): Double =
      if (x == 0d) 0d else math.floor(math.abs(x) * 1e6 + 0.5) * math.signum(x) / 1e6
    for ((n, dim, c, vals) <- samples(gen, 6)) {
      val rows = (0 until n)
        .map(i => (i.toLong + 1, vals.slice(i * dim, (i + 1) * dim)))
        .filter(_._2.exists(_ != 0f)) // zero-norm vectors excluded by contract
      val df = rows.toDF("vec_id", "embedding")
      val cents = LlmOps.kmeansCentroids(df, c, iters = 2)
      val centRows = cents.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
      val got = LlmOps.kmeansAssignTo(df, cents).select("vec_id", "cid")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      for ((id, v) <- rows) {
        val scored = centRows.collect {
          case (cid, cv) if math.sqrt(cv.map(x => x * x).sum) > 0 =>
            val dot = v.map(_.toDouble).zip(cv).map { case (a, b) => a * b }.sum
            val cos = dot / (math.sqrt(v.map(x => x.toDouble * x).sum) *
              math.sqrt(cv.map(x => x * x).sum))
            (cid, rnd6(cos))
        }
        val want = scored.sortBy { case (cid, s) => (-s, cid) }.head._1
        assert(got(id) == want,
          s"vec $id assigned ${got(id)}, argmax is $want (scores $scored)")
      }
    }
  }

  test("lmScore: hand-computed trigram model on a two-doc corpus") {
    // grams: doc 1 "abcabc" → abc,bca,cab,abc; doc 2 "xyz" → xyz
    // counts: abc=2, bca=1, cab=1, xyz=1; total n=5
    val d = Seq((1L, "abcabc"), (2L, "xyz")).toDF("doc_id", "text")
    val got = LlmOps.lmScore(d, vocabK = 100).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val e1 = (2 * math.log10(2.0 / 5) + 2 * math.log10(1.0 / 5)) / 4
    val e2 = math.log10(1.0 / 5)
    assert(got.map(x => (x._1, x._2)).toSeq == Seq((1L, 4L), (2L, 1L)))
    assert(math.abs(got(0)._3 - e1) < 2e-6, s"doc1 ${got(0)._3} vs $e1")
    assert(math.abs(got(1)._3 - e2) < 2e-6, s"doc2 ${got(1)._3} vs $e2")
  }

  test("lmScore: grams outside the top-K vocabulary get the OOV floor") {
    val d = Seq((1L, "abcabc"), (2L, "xyz")).toDF("doc_id", "text")
    // vocabK=1 keeps only the count-2 gram (abc); all others floor at 0.5/n
    val got = LlmOps.lmScore(d, vocabK = 1).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    val floor = math.log10(0.5 / 5)
    val e1 = (2 * math.log10(2.0 / 5) + 2 * floor) / 4
    assert(math.abs(got(1L) - e1) < 2e-6, s"doc1 ${got(1L)} vs $e1")
    assert(math.abs(got(2L) - floor) < 2e-6, s"doc2 ${got(2L)} vs $floor")
  }

  test("lmScore's total-gram shortcut: explode count == length sum, unicode incl.") {
    // lmScore derives the model's total gram count from a narrow length sum
    // instead of a second explode+groupBy pass — valid iff graft_gram_hash
    // emits exactly max(numChars - 2, 0) trigrams per doc, across empty,
    // sub-k, ASCII, and multi-byte/4-byte code points
    val d = Seq((1L, "abcabc"), (2L, "xyz"), (3L, "ab"), (4L, ""),
      (5L, "héllo 🌍 wörld")).toDF("doc_id", "text")
    val exploded = d.select(explode(expr("graft_gram_hash(text, 3, ':lm', 15)"))).count()
    val lensum = d.agg(sum(greatest(length(col("text")) - 2, lit(0)))).head().getLong(0)
    assert(exploded == lensum, s"explode $exploded vs length-sum $lensum")
  }

  test("incremental dedup: store probe finds the planted twin, verify kills " +
    "band false positives, and the store holds fingerprints only") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "entirely different words about spark catalyst tungsten codegen"),
      (3L, "a third corpus document with its own unique phrasing here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again"),
      (102L, "completely novel batch content sharing nothing with the corpus"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("sigstore").toString + "/store"
    LlmOps.writeSignatureStore(corpus, "doc_id", store)
    // the store is fingerprint-only: (id, sig) — no text column travels
    assert(spark.read.parquet(store).columns.toSeq.sorted == Seq("doc_id", "sig"))
    val got = LlmOps.incrementalDupes(corpus, batch, "doc_id", store,
        threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((101L, 1L, 1.0)), s"got ${got.toSeq}")
    // store maintenance: append the accepted batch — the NEXT increment
    // dedups against it too, at batch-proportional cost
    LlmOps.appendSignatureStore(batch, "doc_id", store)
    val batch2 = Seq(
      (201L, "completely novel batch content sharing nothing with the corpus"))
      .toDF("doc_id", "text")
    val corpus2 = corpus.unionByName(batch)
    val got2 = LlmOps.incrementalDupes(corpus2, batch2, "doc_id", store,
        threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got2.toSeq == Seq((201L, 102L, 1.0)),
      s"appended batch must be probe-visible, got ${got2.toSeq}")
  }

  test("lmScore's two auto-select branches (two-explode / cached-gram) " +
       "are value-identical") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = LlmOps.lmScoreBy(docs, Seq("doc_id"), None, 4096, cached = false)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val cached = LlmOps.lmScoreBy(docs, Seq("doc_id"), None, 4096, cached = true)
    val b = cached.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    cached.unpersist()
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("signature store lifecycle: append → purge → compact — a purged ghost " +
       "must not veto a near-identical future doc, and compact bounds the store") {
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (1L, fox),
      (2L, "entirely different words about spark catalyst tungsten codegen"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("sigstore-lc").toString + "/store"
    LlmOps.writeSignatureStore(corpus, "doc_id", store)
    val batch = Seq((101L, fox + " tail")).toDF("doc_id", "text")
    def probe() = LlmOps.incrementalDupes(corpus, batch, "doc_id", store,
        threshold = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // landed doc 1 vetoes its near-twin
    assert(probe() == Seq((101L, 1L)))
    // doc 1 is purged (decontamination, LWW supersession, takedown…) —
    // deletion must take effect IMMEDIATELY, before any compaction runs
    LlmOps.deleteFromSignatureStore(Seq(1L).toDF("doc_id"), "doc_id", store)
    assert(probe().isEmpty, "purged ghost must not veto the batch doc")
    // append the now-acceptable batch (twice — a replay leaves a dup row)
    LlmOps.appendSignatureStore(batch, "doc_id", store)
    LlmOps.appendSignatureStore(batch, "doc_id", store)
    assert(spark.read.parquet(store).count() == 4) // 1,2,101,101 (1 tombstoned)
    // compact: store rewritten bounded by LIVE signatures — tombstoned id
    // gone, replay dup collapsed, sidecar cleared
    LlmOps.compactSignatureStore(spark, store, "doc_id")
    val after = spark.read.parquet(store)
    assert(after.count() == 2, "compact must keep exactly the live ids")
    assert(after.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 101L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(LlmOps.storeTombstonePath(store))))
    // the store still probes correctly after the rewrite
    val batch2 = Seq((201L, fox + " tail longer")).toDF("doc_id", "text")
    val corpus2 = corpus.filter(col("doc_id") =!= 1L).unionByName(batch)
    val got = LlmOps.incrementalDupes(corpus2, batch2, "doc_id", store,
        threshold = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((201L, 101L)), s"post-compact probe got $got")
  }

  test("signature store k-mismatch fails fast on both probe and append " +
       "(a silent mismatch would band to incomparable hashes → zero candidates)") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("sigstore-k").toString + "/store"
    LlmOps.writeSignatureStore(corpus, "doc_id", store, k = 8)
    val batch = Seq((2L, "whatever batch text this is")).toDF("doc_id", "text")
    val probeErr = intercept[IllegalArgumentException] {
      LlmOps.incrementalDupes(corpus, batch, "doc_id", store,
        threshold = 0.5, k = 4)
    }
    assert(probeErr.getMessage.contains("k=4"))
    val appendErr = intercept[IllegalArgumentException] {
      LlmOps.appendSignatureStore(batch, "doc_id", store, k = 16)
    }
    assert(appendErr.getMessage.contains("k=16"))
    // matching k still works end-to-end
    LlmOps.appendSignatureStore(batch, "doc_id", store, k = 8)
    assert(spark.read.parquet(store).count() == 2)
  }

  /** Two well-separated semantic cones whose in-cluster cosines sit BELOW
    * the 0.95 threshold (1⋅3 = 0.8, 2⋅4 = 0.6), plus exact re-encodings
    * of ids 3 and 4 — only the planted semantic dups cross the line.
    */
  private def semFixture = Seq(
    (1L, Seq(1f, 0f, 0f, 0f)),
    (2L, Seq(0f, 1f, 0f, 0f)),
    (3L, Seq(0.8f, 0.6f, 0f, 0f)),
    (4L, Seq(0f, 0.6f, 0.8f, 0f)),
    (103L, Seq(0.8f, 0.6f, 0f, 0f)),
    (104L, Seq(0f, 0.6f, 0.8f, 0f))).toDF("vec_id", "embedding")

  test("semanticDedupWith drops re-encoded twins inside their learned cluster, " +
    "keeps the smallest id, and leaves sub-threshold cluster-mates alone") {
    val base = semFixture.filter(col("vec_id") < 100L)
    val got = LlmOps.semanticDedupWith(semFixture,
        LlmOps.kmeansCentroids(base, c = 2, iters = 2), threshold = 0.95).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 103L, 104L))
    assert(got.filter(_._2._2).keySet == Set(103L, 104L),
      s"exactly the planted twins must drop, got $got")
    // a twin lands in its original's cluster (identical vector, identical
    // argmax) — the pair was generated inside one cell, never across
    assert(got(103L)._1 == got(3L)._1 && got(104L)._1 == got(4L)._1)
  }

  test("semanticDedupWith keeper rule: of three identical copies the smallest " +
    "id survives and both larger ids drop; zero-norm vectors are excluded") {
    val tri = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)),
      (7L, Seq(0.6f, 0.8f, 0f, 0f)),
      (107L, Seq(0.6f, 0.8f, 0f, 0f)),
      (207L, Seq(0.6f, 0.8f, 0f, 0f)),
      (999L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = LlmOps.semanticDedupWith(tri,
        LlmOps.kmeansCentroids(tri, c = 2, iters = 1), threshold = 0.95).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!got.contains(999L), "zero-norm vector must be excluded")
    assert(got.filter(_._2).keySet == Set(107L, 207L), s"got $got")
    assert(!got(7L), "the smallest id of the group survives")
  }

  test("ivfSearchBatch: each query's rows equal the single-query trained-IVF " +
       "search at the same (cents, nprobe, k) — one corpus pass, Q answers") {
    val corpus = planted
    val cents = LlmOps.kmeansCentroids(corpus, c = 2, iters = 2)
    val queries = Seq(
      (101L, Seq(0.9f, 0.1f, 0f, 0f)),
      (102L, Seq(0.1f, 0.9f, 0f, 0f)),
      (103L, Seq(0.7f, 0.7f, 0f, 0f))).toDF("vec_id", "embedding")
    val batch = LlmOps.ivfSearchBatch(LlmOps.kmeansAssignAuto(corpus, cents),
        queries, cents, nprobe = 1, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(x => (-x._2, x._1)).toSeq).toMap
    assert(batch.keySet == Set(101L, 102L, 103L))
    for (qid <- Seq(101L, 102L, 103L)) {
      val single = LlmOps.ivfSearchKmeansWith(corpus, cents,
          queries.filter(col("vec_id") === qid).select(col("embedding")),
          nprobe = 1, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(batch(qid) == single,
        s"qid=$qid batch ${batch(qid)} != single $single")
    }
  }

  test("ivfSearchBatch: an over-budget query batch fails loudly at the gate") {
    val corpus = planted
    val cents = LlmOps.kmeansCentroids(corpus, c = 2, iters = 2)
    val big = spark.range(LlmOps.QueryBatchMaxRows + 1)
      .select(col("id").as("vec_id"),
        org.apache.spark.sql.functions.array(lit(1f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      LlmOps.ivfSearchBatch(LlmOps.kmeansAssignAuto(corpus, cents), big, cents,
        nprobe = 1, k = 5)
    }
    assert(e.getMessage.contains("QueryBatchMaxRows"))
  }
}
