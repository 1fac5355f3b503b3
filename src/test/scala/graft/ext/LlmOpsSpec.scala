package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("identical docs collide in every band; disjoint docs in none") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "entirely different words about spark catalyst tungsten codegen shuffles")
    val pairs = LlmOps.minhashCandidates(d, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("oversized band buckets are capped out of pairing (hot-bucket guard)") {
    // 6 identical docs → every band bucket has 6 members; cap at 3 excludes
    // them all from pairing, and the side channel reports the skipped buckets
    val rows = (1L to 6L).map(i => (i, "the same exact boilerplate text repeated here"))
    val d = docs(rows: _*)
    val sh = LlmOps.shingleTable(d, "doc_id")
    val capped = LlmOps.minhashCandidatesFrom(sh, "doc_id", maxBucket = 3)
    assert(capped.count() == 0)
    val skipped = LlmOps.oversizedBuckets(sh, "doc_id", maxBucket = 3).collect()
    assert(skipped.nonEmpty && skipped.forall(_.getLong(1) == 6L))
    val uncapped = LlmOps.minhashCandidatesFrom(sh, "doc_id", maxBucket = 1000)
    assert(uncapped.count() == 15) // 6 choose 2
  }

  test("candidatesWithCoverage folds the capped count into one band aggregation") {
    // r7 ran the band-table aggregation TWICE (once for the capped count,
    // once inline in the pair join); r8 computes the tiny capped-band set
    // once and anti-joins it. Pin both halves: (a) the whole call runs in
    // ≤3 jobs (capped count + pairs count + at most one broadcast build
    // for the anti-join); (b) the pair join's plan carries no count
    // aggregation at all — the only Aggregate left is the pair distinct.
    val rows = (1L to 6L).map(i => (i, "the same exact boilerplate text repeated here")) :+
      (7L, "completely different content about catalyst and tungsten engines")
    val d = docs(rows: _*)
    val sh = LlmOps.shingleTable(d, "doc_id")
    var out: (org.apache.spark.sql.DataFrame, Long) = null
    val newJobs = countJobs("cov-folded") {
      out = LlmOps.candidatesWithCoverage(sh, "doc_id", maxBucket = 3)
    }
    val (pairs, capped) = out
    assert(capped > 0 && pairs.count() == 0,
      "cap=3 must exclude the 6-doc buckets and report them")
    // the r7 shape, replicated: the bucket-count aggregation ran once for
    // the capped count and AGAIN inline as the pair join's semi filter
    val oldJobs = countJobs("cov-r7-shape") {
      val banded = LlmOps.bandedSignatures(sh, "doc_id").persist()
      val counts = banded.groupBy("band").count()
      assert(counts.filter(col("count") > 3).count() > 0)
      val small = banded.join(counts.filter(col("count") <= 3).select("band"), "band")
      val p = small.as("x").join(small.as("y"), "band")
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct().persist()
      assert(p.count() == 0)
      banded.unpersist(); p.unpersist()
    }
    assert(newJobs < oldJobs,
      s"folding the capped count must save jobs: $newJobs vs r7-shape $oldJobs")
    // and the pair join's own plan carries no count aggregation at all —
    // the only Aggregate left is the pair distinct. `pairs` is persisted,
    // so its optimized plan is a bare InMemoryRelation: walk the physical
    // plan that computed it, where the caches it reads are leaves. The
    // pairs are empty here, so read the plan AQE started from
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val phys = cachedPhysical(pairs, initial = true)
    val countAggs = phys.collect {
      case a: BaseAggregateExec
        if a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[Count]) => a
    }
    assert(countAggs.isEmpty, s"the pair join must not re-aggregate the band table:\n$phys")
  }

  test("dedupCorpus surfaces capped-bucket coverage in the corpus output") {
    // degenerate duplication: 6 identical docs + 1 distinct. Cap at 3 kills
    // every bucket of the identical six → no pairs, no collapse — and the
    // coverage gap must be visible on every output row, not swallowed.
    val rows = (1L to 6L).map(i => (i, "the same exact boilerplate text repeated here")) :+
      (7L, "completely different content about catalyst and tungsten")
    val d = docs(rows: _*)
    val capped = LlmOps.dedupCorpus(d, "doc_id", maxBucket = 3).collect()
    assert(capped.length == 7, "capped buckets generate no pairs: nothing collapses")
    val cappedCounts = capped.map(_.getAs[Long]("capped_lsh_buckets")).distinct
    assert(cappedCounts.length == 1 && cappedCounts.head > 0,
      s"capped bucket count must flow through, got ${cappedCounts.toSeq}")
    // with the cap lifted the six collapse to doc 1 and the count reads 0
    val open = LlmOps.dedupCorpus(d, "doc_id", maxBucket = 1000).collect()
    assert(open.map(_.getLong(0)).sorted.toSeq == Seq(1L, 7L))
    assert(open.forall(_.getAs[Long]("capped_lsh_buckets") == 0L))
  }

  test("clusters: chains collapse to the min id, singletons keep their own") {
    import spark.implicits._
    // chain 1-2-3 (transitive through 2), pair 5-6, singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val ids = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L)
    // driver union-find path
    val uf = LlmOps.distributedClustersStar(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == expected)
    // distributed star-contraction path (forced via a zero byte budget)
    val dist = LlmOps.distributedClustersStar(ids, "doc_id", pairs, driverEdgeBudgetBytes = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
  }

  test("boundedCollect: Some(rows) up to maxRows, None past it") {
    val ten = spark.range(10).toDF("id")
    def ids(rows: Option[Array[org.apache.spark.sql.Row]]) =
      rows.map(_.map(_.getLong(0)).sorted.toSeq)
    // n rows at maxRows = n are all handed back; n + 1 are not
    assert(ids(LlmOps.boundedCollect(ten, 10)) == Some(0L until 10L))
    assert(LlmOps.boundedCollect(spark.range(11).toDF("id"), 10).isEmpty)
    assert(ids(LlmOps.boundedCollect(ten.filter(col("id") < 0), 10)) == Some(Seq()))
    // a zero budget admits no row at all
    assert(LlmOps.boundedCollect(spark.range(1).toDF("id"), 0).isEmpty)
    // a maxRows past Int.MaxValue clamps the limit instead of overflowing
    assert(ids(LlmOps.boundedCollect(ten, Int.MaxValue.toLong + 1)) == Some(0L until 10L))
    assert(ids(LlmOps.boundedCollect(ten, Long.MaxValue)) == Some(0L until 10L))
  }

  test("driver gate is a byte budget: boundary math and path equivalence") {
    import spark.implicits._
    // a budget right at the fallback boundary yields the same clusters on
    // both sides of it
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val ids = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val atBoundary = LlmOps.distributedClustersStar(ids, "doc_id", pairs,
        driverEdgeBudgetBytes = 3 * LlmOps.BytesPerDriverEdge) // exactly fits
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val belowBoundary = LlmOps.distributedClustersStar(ids, "doc_id", pairs,
        driverEdgeBudgetBytes = 3 * LlmOps.BytesPerDriverEdge - 1) // forced distributed
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(atBoundary == belowBoundary)
  }

  test("jaccard(x, x) = 1; jaccard of disjoint sets = 0") {
    val d = LlmOps.withShingles(LlmOps.withWords(docs(
      1L -> "a b c d e f g h", 2L -> "p q r s t u v w")))
      .select(col("doc_id"), col("shingles"))
    val a = d.filter(col("doc_id") === 1).select(col("shingles").as("sa"))
    val b = d.filter(col("doc_id") === 2).select(col("shingles").as("sb"))
    val self = a.crossJoin(a.select(col("sa").as("sb")))
      .select(LlmOps.jaccard(col("sa"), col("sb")).as("j")).collect().head.getDouble(0)
    val disj = a.crossJoin(b)
      .select(LlmOps.jaccard(col("sa"), col("sb")).as("j")).collect().head.getDouble(0)
    assert(self == 1.0)
    assert(disj == 0.0)
  }

  test("simhash: identical texts equal; different texts differ") {
    val d = LlmOps.withSimhash(LlmOps.withWords(docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "one two three four five six seven eight nine ten")))
      .select(col("doc_id"), col("simhash")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(1L) == d(2L))
    assert(d(1L) != d(3L))
  }

  test("cosine of a vector with itself is 1; orthogonal is 0") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f, 2.0f)),
      (2L, Seq(0.0f, 3.0f, 0.0f))).toDF("vec_id", "embedding")
    val a = e.filter(col("vec_id") === 1).select(col("embedding").as("x"))
    val self = a.crossJoin(a.select(col("x").as("y")))
      .select(LlmOps.cosine("x", "y").as("c")).collect().head.getDouble(0)
    val ortho = a.withColumnRenamed("x", "x0")
      .crossJoin(e.filter(col("vec_id") === 2).select(col("embedding").as("y")))
      .select(LlmOps.cosine("x0", "y").as("c")).collect().head.getDouble(0)
    assert(self == 1.0)
    assert(ortho == 0.0)
  }

  test("textStats: counts and ratios on a known doc") {
    val r = LlmOps.textStats(docs(1L -> "the cat sat on a mat"))
      .select("n_tokens", "stop_hits", "stop_ratio", "lang_guess").collect().head
    assert(r.getInt(0) == 6)
    assert(r.getInt(1) == 2)
    assert(r.getDouble(2) == math.round(2.0 / 6.0 * 1e6) / 1e6)
    assert(r.getString(3) == "en")
  }

  test("embeddingNearDups only compares within a label bucket") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),   // same bucket, identical
      (3L, Seq(1.0f, 0.0f), 1))                              // identical but other bucket
      .toDF("vec_id", "embedding", "label")
    val pairs = LlmOps.embeddingNearDups(e, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("knnJoin: every vector gets ≤k in-bucket neighbors ranked by cosine") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.1f), 0), (3L, Seq(0.0f, 1.0f), 0),
      (4L, Seq(1.0f, 0.0f), 1)) // other bucket — must never pair with 1-3
      .toDF("vec_id", "embedding", "label")
    val out = LlmOps.knnJoin(e, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val byA = out.groupBy(_._1)
    assert(!byA.contains(4L), "a singleton bucket has no neighbors")
    // vector 1's nearest is 2 (cos ~0.995), then 3 (cos 0)
    assert(byA(1L).sortBy(_._3).map(_._2).toSeq == Seq(2L, 3L))
    // ranks are 1..k per source
    byA.values.foreach(rs => assert(rs.map(_._3).sorted.toSeq == (1 to rs.length).toSeq))
  }

  test("degenerate embedding cells are capped out of pairing and counted") {
    // 40 identical vectors in one label: no LSH depth can split them (all
    // share every plane sign), so at maxCell=8 their bucket is excluded
    // from pairing and surfaced in capped_cells — the maxBucket contract.
    val hot = (1L to 40L).map(i => (i, Seq(1.0f, 0.0f), 0))
    val small = Seq((41L, Seq(0.0f, 1.0f), 1), (42L, Seq(0.0f, 1.0f), 1),
      (43L, Seq(1.0f, 0.0f), 1))
    val e = (hot ++ small).toDF("vec_id", "embedding", "label")
    val dups = LlmOps.embeddingNearDups(e, 0.95, maxCell = 8).collect()
    assert(dups.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((41L, 42L)),
      "pairs must come only from the small label; the degenerate cell is capped")
    assert(dups.forall(_.getLong(3) == 1L), "capped_cells must report the excluded bucket")
    val knn = LlmOps.knnJoin(e, 2, maxCell = 8).collect()
    assert(knn.forall(r => r.getLong(0) > 40L),
      "vectors in a capped bucket get no neighbor rows")
    assert(knn.forall(_.getLong(4) == 1L))
  }

  test("oversize spread cells are LSH sub-bucketed without losing identical-pair recall") {
    // 50 spread directions + 10 identical clones in ONE label cell of 60:
    // above maxCell=24 the cell splits on hyperplane sign bits. Identical
    // vectors share the full signature, so every clone pair survives the
    // split; the result is a subset of the uncapped (exact) pairing.
    // 64-dim (the testdata shape); the split key graft_lsh_sig_any spans
    // any width -- the 32-dim case is pinned in its own test below.
    // Hash-style deterministic components — a smooth curve fixture clumps
    // into a few LSH arcs and re-skews the sub-buckets.
    def fuzz(i: Long, j: Int): Float = {
      val s = math.sin(i * 12.9898 + j * 78.233) * 43758.5453
      ((s - math.floor(s)) * 2 - 1).toFloat
    }
    val spread = (1L to 50L).map(i => (i, Seq.tabulate(64)(fuzz(i, _)), 0))
    val cloneVec = Seq.tabulate(64)(fuzz(999L, _))
    val clones = (101L to 110L).map(i => (i, cloneVec, 0))
    val e = (spread ++ clones).toDF("vec_id", "embedding", "label")
    val capped = LlmOps.embeddingNearDups(e, 0.999, maxCell = 24).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = LlmOps.embeddingNearDups(e, 0.999, maxCell = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val clonePairs = (for (a <- 101L to 110L; b <- (a + 1) to 110L) yield (a, b)).toSet
    assert(clonePairs.subsetOf(capped), "co-signed clones must stay co-bucketed")
    assert(capped.subsetOf(exact), "sub-bucketing must never invent pairs")
  }

  test("capped cells keep near-duplicate recall ≥0.9 where splitting engages") {
    // The cap is an approximation — quantify what it costs ON ITS PURPOSE.
    // 2000 spread vectors + 200 planted near-dup pairs (one component
    // nudged: cos ≈ 0.9999) in ONE label cell; maxCell=128 forces a
    // depth-5 split (32 sub-buckets). Near-identical vectors agree on
    // nearly every hyperplane sign, so planted pairs should almost always
    // stay co-bucketed; only a projection sitting near a masked plane's
    // boundary can separate one. Pin ≥0.9 planted-pair recall for the
    // near-dup operator (deterministic fixture, so this is a fixed number
    // — the floor leaves room only for the boundary flips).
    def fuzz(i: Long, j: Int): Float = {
      val s = math.sin(i * 12.9898 + j * 78.233) * 43758.5453
      ((s - math.floor(s)) * 2 - 1).toFloat
    }
    val base = (1L to 1800L).map(i => (i, Seq.tabulate(64)(fuzz(i, _)), 0))
    val planted = (1L to 200L).map { i =>
      val v = Seq.tabulate(64)(fuzz(i, _))
      (10000L + i, v.updated(0, v.head + 0.01f), 0)
    }
    val e = (base ++ planted).toDF("vec_id", "embedding", "label")
    def pairs(maxCell: Int) =
      LlmOps.embeddingNearDups(e, 0.999, maxCell).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(128)
    val exact = pairs(Int.MaxValue)
    val plantedPairs = (1L to 200L).map(i => (i, 10000L + i)).toSet
    assert(plantedPairs.subsetOf(exact), "sanity: the nudge keeps cos ≥ 0.999")
    val recall = (capped & plantedPairs).size.toDouble / plantedPairs.size
    info(f"planted near-dup recall under depth-5 split: $recall%.3f")
    assert(recall >= 0.9, f"near-dup recall $recall%.3f under the cap")
    assert(capped.subsetOf(exact))
  }

  test("oversize cells split at any embedding width (graft_lsh_sig_any)") {
    // r9: the split key used to be 64-dim-pinned — a 32-dim corpus
    // degenerated to sig 0 and oversize cells capped whole. The
    // generalized planes must now sub-bucket a 32-dim oversize cell, and
    // the capped pairing must stay a subset of the exact pairing.
    def fuzz(i: Long, j: Int): Float = {
      val s = math.sin(i * 12.9898 + j * 78.233) * 43758.5453
      ((s - math.floor(s)) * 2 - 1).toFloat
    }
    val e = (1L to 60L).map(i => (i, Seq.tabulate(32)(fuzz(i, _)), 0))
      .toDF("vec_id", "embedding", "label")
    val maxCell = 24
    val cells = LlmOps.withPairCells(e, maxCell)
    val kept = cells.filter(col("bucket_n") <= maxCell)
    assert(kept.select(countDistinct(col("sub"))).collect()(0).getLong(0) > 1L,
      "a 32-dim oversize cell must split into sub-buckets")
    val biggest = kept.groupBy(col("label"), col("sub"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).collect()(0).getLong(0)
    assert(biggest <= maxCell, s"kept bucket exceeds the bound: $biggest")
    assert(kept.count() >= 48L, "the split must bound cells by splitting, not excluding")
    val capped = LlmOps.embeddingNearDups(e, 0.5, maxCell).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = LlmOps.embeddingNearDups(e, 0.5, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact), "sub-bucketing must never invent pairs")
  }

  test("pairwise salt slices are exact: salted output == unsalted output") {
    // The salt parallelizes a bucket's pairwise block across
    // ceil(bucket_n/chunk) tasks (withPairSalt) — it must never change the
    // pair set. 120 spread vectors in 2 labels, chunk=16 → ~4 slices per
    // bucket; compare against saltChunk=Int.MaxValue (nSalt=1 everywhere).
    def fuzz(i: Long, j: Int): Float = {
      val s = math.sin(i * 12.9898 + j * 78.233) * 43758.5453
      ((s - math.floor(s)) * 2 - 1).toFloat
    }
    val e = (1L to 120L).map(i => (i, Seq.tabulate(64)(fuzz(i, _)), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    // the fixture must actually engage slicing (nSalt > 1 somewhere)
    val cells = LlmOps.withPairCells(e, 1024)
    val (xs, _) = LlmOps.withPairSalt(cells, 16)
    assert(xs.select(countDistinct(col("salt"))).collect()(0).getLong(0) > 1L,
      "fixture too small: salting never engaged")
    def dupSet(chunk: Int) =
      LlmOps.embeddingNearDups(e, 0.5, saltChunk = chunk).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(dupSet(16) == dupSet(Int.MaxValue))
    def knnSet(chunk: Int) =
      LlmOps.knnJoin(e, 3, saltChunk = chunk).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(knnSet(16) == knnSet(Int.MaxValue))
  }

  test("decontaminateMinhash flags near-dup corpus docs, not clean ones") {
    val bench = docs(
      10L -> "the quick brown fox jumps over the lazy dog near the river bank",
      20L -> "entirely unrelated benchmark question about catalyst codegen spans")
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank", // verbatim leak
      2L -> "the quick brown fox jumps over the lazy dog near the river edge", // near-dup
      3L -> "clean training document with its own vocabulary and no overlap whatsoever")
    val out = LlmOps.decontaminateMinhash(corpus, bench, "doc_id", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.contains(1L) && out(1L) == 1.0, s"verbatim copy must score 1.0: $out")
    assert(out.contains(2L) && out(2L) >= 0.5, s"near-dup must clear threshold: $out")
    assert(!out.contains(3L), s"clean doc must not be flagged: $out")
  }

  test("decontaminateMinhash: broadcast gate fallback is row-identical") {
    val bench = docs(
      10L -> "the quick brown fox jumps over the lazy dog near the river bank",
      20L -> "entirely unrelated benchmark question about catalyst codegen spans")
    // adversarially contaminated corpus: most docs near-dup the benchmark,
    // so the candidate set is corpus-proportional — the regime the gate
    // exists for. budget=0 makes every candidate set "too big", forcing
    // the shuffle-join fallback.
    val contaminated = (1L to 8L).map(i =>
      i -> s"the quick brown fox jumps over the lazy dog near the river ${if (i % 2 == 0) "bank" else "edge"}")
    val corpus = docs(contaminated :+
      (9L -> "clean training document with its own vocabulary and no overlap whatsoever"): _*)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    val viaBroadcast = rows(LlmOps.decontaminateMinhash(corpus, bench, "doc_id"))
    val viaShuffle = rows(LlmOps.decontaminateMinhash(corpus, bench, "doc_id",
      candBroadcastBudgetBytes = 0L))
    assert(viaBroadcast.nonEmpty, "the contaminated corpus must produce matches")
    assert(viaShuffle == viaBroadcast,
      s"gate shapes must be result-identical:\n$viaShuffle\nvs\n$viaBroadcast")
  }

  test("purge: broadcast gate fallback is row-identical and drops the right docs") {
    val corpus = docs((1L to 10L).map(i => (i, s"doc number $i content")): _*)
    val flagged = Seq(2L, 4L, 4L, 6L).toDF("doc_id") // dup flag must not matter
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val broadcastShape = ids(LlmOps.purge(corpus, flagged, "doc_id"))
    val shuffleShape = ids(LlmOps.purge(corpus, flagged, "doc_id",
      flaggedBroadcastBudgetBytes = 0L))
    assert(broadcastShape == Seq(1L, 3L, 5L, 7L, 8L, 9L, 10L))
    assert(shuffleShape == broadcastShape, "gate shapes must be result-identical")
  }

  test("packSequences: two-level shard packing ≡ single per-lang window; width-invariant") {
    val d = (0L until 37L).map(i =>
        (i, ("tok " * (1 + (i % 7).toInt)).trim, if (i % 3 == 0) "en" else "fr"))
      .toDF("doc_id", "text", "lang")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = d.withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin", expr("start_off div 64"))
      .withColumn("off_in_bin", col("start_off") % 64)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("start_off"), col("bin"), col("off_in_bin"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect().toSeq
    val exp = rows(expected)
    assert(rows(LlmOps.packSequences(d, shardWidth = 5L)) == exp)
    assert(rows(LlmOps.packSequences(d, shardWidth = 1L)) == exp,
      "degenerate one-doc shards must still compose")
    assert(rows(LlmOps.packSequences(d)) == exp,
      "default width puts all 37 docs in one shard — still identical")
  }

  test("packSequences property: matches a plain-Scala reference on sparse ids, any width") {
    // engine-independent reference: per lang, order by doc_id, running
    // token sum. Random corpora stress what the fixture can't — GAPPY id
    // spaces (shards of unequal row counts, empty shards), uneven lang
    // mixes, widths from one-doc-per-shard to everything-in-one-shard.
    // Fixed-seed sampling, same pattern as TextOpsPropertiesSpec.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](gen: Gen[A], n: Int): Seq[A] =
      (1L to n).flatMap(seed => gen.apply(Gen.Parameters.default, Seed(seed)))
    val corpusGen = for {
      n <- Gen.choose(1, 50)
      ids <- Gen.pick(n, 0L until 400L)
      rows <- Gen.sequence[List[(Long, String, String)], (Long, String, String)](
        ids.toList.map { id =>
          for {
            nw <- Gen.choose(1, 9)
            lang <- Gen.oneOf("en", "fr", "de")
          } yield (id, ("w " * nw).trim, lang)
        })
      width <- Gen.oneOf(1L, 2L, 3L, 7L, 64L, 1L << 20, Long.MaxValue)
    } yield (rows, width)
    for ((rows, width) <- samples(corpusGen, 8)) {
      val expected = rows.groupBy(_._3).flatMap { case (lang, rs) =>
        var off = 0L
        rs.sortBy(_._1).map { case (id, text, _) =>
          val nt = text.split(" ").length
          val row = (id, lang, nt, off, off / 64, off % 64)
          off += nt
          row
        }
      }.toSeq.sortBy(_._1)
      val got = LlmOps.packSequences(rows.toDF("doc_id", "text", "lang"), width)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      assert(got == expected, s"width=$width rows=$rows")
    }
  }

  test("winnowing: shared substring of length >= k+w-1 shares a fingerprint") {
    // k=5, w=4 → guarantee threshold is 8 chars; give the docs a long
    // common run with different surroundings
    val common = "abcdefghijklmnopqrstuvwxyz0123456789abcdefghij"
    val d = docs(
      1L -> s"XXXXXXXX$common",
      2L -> s"YYYYYYYY$common",
      3L -> "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz")
    val fps = LlmOps.withWinnowFingerprints(d)
      .select(col("doc_id"), col("fps")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "docs sharing a 46-char run must share fingerprints")
    assert((fps(1L) & fps(3L)).isEmpty, "disjoint docs must not share fingerprints")
    // fingerprint count is far below gram count (that's the point of winnowing)
    val n = LlmOps.withWinnowFingerprints(d)
      .select(size(col("hs")).as("g"), size(col("fps")).as("f"))
      .collect()
    n.foreach(r => assert(r.getInt(1) < r.getInt(0) / 2))
  }

  /** 900 docs of lang a vs 100 of lang b — the skew mixTemperature exists
    * to flatten.
    */
  private def mixFixture = {
    import spark.implicits._
    ((1L to 900L).map(i => (i, "a")) ++ (1001L to 1100L).map(i => (i, "b")))
      .toDF("doc_id", "lang")
  }

  test("mixTemperature: alpha=1 keeps every row (no resampling); " +
    "alpha=0.5 keeps ALL of the binding language and flattens the rest " +
    "toward the tempered shares, deterministically") {
    val all = LlmOps.mixTemperature(mixFixture, alpha = 1.0)
    assert(all.count() == 1000, "alpha=1 must be the identity mixture")
    assert(all.select(min(col("keep_frac"))).head().getDouble(0) == 1.0)

    val t = LlmOps.mixTemperature(mixFixture, alpha = 0.5)
    val kept = t.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // b binds (most underrepresented): every b row survives
    assert(kept("b") == 100L, s"binding language must keep all rows: $kept")
    // tempered target for a: q_a*M = sqrt(900)/sqrt(100) * 100 = 300 —
    // realized by hash threshold, so approximate (binomial ±3σ ≈ ±42)
    assert(kept("a") > 250 && kept("a") < 350,
      s"a should flatten to ~300 of 900, got ${kept("a")}")
    // content-stable: a re-run keeps the identical rows
    val a = t.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = LlmOps.mixTemperature(mixFixture, alpha = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("mixTemperature: alpha=0 equalizes — every language's expected kept " +
    "count is the minority size; keep decisions never exceed quota frac") {
    val t = LlmOps.mixTemperature(mixFixture, alpha = 0.0)
    val kf = t.groupBy(col("lang")).agg(max(col("keep_frac"))).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // q = 1/2 each; M = min(100/0.5, 900/0.5) = 200; fracs: a 100/900, b 1
    assert(kf("b") == 1.0)
    assert(math.abs(kf("a") - 100.0 / 900.0) < 1e-6, s"got $kf")
  }

  test("audio fingerprint: order glitches inside a window are invisible, " +
    "one corrupted sample stays within radius 2, unrelated tracks don't pair") {
    // 130-char tracks → w = ceil(130/64) = 3 code points per window
    val base = ("abcdefghij" * 13).take(130)
    val transposed = "" + base(1) + base(0) + base.drop(2) // samples 0,1 swap, window 0
    val glitched = base.updated(70, 'Z')                   // one sample, window 23
    val other = ("zyxwvutsrq" * 13).take(130)
    val pairs = LlmOps.audioFingerprintNearDups(docs(
        1L -> base, 2L -> transposed, 3L -> glitched, 4L -> other))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // transposition leaves every window energy unchanged → SAME fingerprint
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0),
      s"transposed twin must fingerprint identically: ${pairs.toSeq}")
    // single-sample corruption moves one window → ≤ 2 adjacent-delta bits
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 <= 2),
      s"glitched twin must stay within radius 2: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated track must not pair: ${pairs.toSeq}")
  }

  test("dedupCorpusBest keeps the longest cluster member; dedupCorpus the smallest id") {
    // doc 2 is a superset of doc 1 (the common truncated-variant shape):
    // same shingle mass → same cluster; best-keeper elects the LONGER
    // doc 2 even though its id is larger, keep-smallest-id elects doc 1
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(
      1L -> a,
      2L -> (a + " extended"),
      3L -> "entirely different words about spark catalyst tungsten codegen shuffles")
    val best = LlmOps.dedupCorpusBest(d, "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val smallest = LlmOps.dedupCorpus(d, "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(best.toSeq == Seq(2L, 3L), best.toSeq.toString)
    assert(smallest.toSeq == Seq(1L, 3L), smallest.toSeq.toString)
  }

  test("qualityWeightedSample: probability tracks the LM score, clamps, and is rerun-stable") {
    // boilerplate (repeated trigrams → high score) vs alphabet soup
    val rows = (1L to 8L).map(i => (i, "common common common common common words")) :+
      (9L, "zq9!kx7#vw2@pl5&mn8*st4%") // OOV-heavy → floor score
    val d = docs(rows: _*)
    val out = LlmOps.qualityWeightedSample(d, lo = -3.0, scale = 2.0, vocabK = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    val byId = out.map(x => x._1 -> x).toMap
    // every boilerplate doc shares one score/probability; the soup doc is lower
    assert(byId(9L)._2 < byId(1L)._2)
    assert(byId(9L)._3 <= byId(1L)._3)
    out.foreach { case (_, _, p, _) => assert(p >= 0.0 && p <= 1.0) }
    // content-stable: identical output under a different partitioning
    val out2 = LlmOps.qualityWeightedSample(d.repartition(7),
        lo = -3.0, scale = 2.0, vocabK = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
    assert(out.sortBy(_._1).toSeq == out2.sortBy(_._1).toSeq)
  }

  test("hamming pigeonhole: oversized block buckets are capped out of pairing") {
    // 6 identical tracks: one fingerprint, every block bucket holds all 6.
    // cap 3 excludes them all (pairs empty); cap 1000 restores the full
    // 6-choose-2 — the degenerate-envelope hazard NOTES.md measured
    // (silence/test tones collapse onto few fingerprint values), bounded
    // exactly like minhash maxBucket / video maxPostings
    val rows = (1L to 6L).map(i => (i, ("abcdefghij" * 13).take(130)))
    val d = docs(rows: _*)
    assert(LlmOps.audioFingerprintNearDups(d, maxBucket = 3).count() == 0)
    assert(LlmOps.audioFingerprintNearDups(d, maxBucket = 1000).count() == 15)
  }

  test("hamming pigeonhole: the cap is COUNTED into capped_blocks, never silent") {
    // hot group: 6 identical envelopes → every one of its 3 blocks
    // exceeds cap 4 (capped_blocks = 3); live group: 2 identical
    // envelopes → pairs normally, carrying the coverage count (r10
    // verdict item 5 — the "no silent caps" convention)
    val hot = (1L to 6L).map(i => (i, ("abcdefghij" * 13).take(130)))
    val live = Seq(7L -> ("zyxwvutsrq" * 13).take(130),
                   8L -> ("zyxwvutsrq" * 13).take(130))
    val out = LlmOps.audioFingerprintNearDups(docs(hot ++ live: _*), maxBucket = 4)
      .collect()
    assert(out.length == 1, out.toSeq.toString)
    val r = out.head
    assert(r.getLong(0) == 7L && r.getLong(1) == 8L && r.getInt(2) == 0)
    assert(r.getLong(3) == 3L,
      s"all 3 hot-fingerprint blocks must be counted: ${r.getLong(3)}")
    // uncapped → coverage reports exact (0)
    val exact = LlmOps.audioFingerprintNearDups(docs(hot ++ live: _*),
      maxBucket = 1000).collect()
    assert(exact.nonEmpty && exact.forall(_.getLong(3) == 0L))
  }

  test("video frame dedup: re-upload jac 1, end-trim above gate, " +
    "stop-frame cap drops non-discriminative frames") {
    val f1 = ("frame-one-payload-" + "0123456789" * 5).take(64)
    val f2 = ("frame-two-differs-" + "abcdefghij" * 5).take(64)
    val clip = f1 + f2 + "third-frame-tail" // 3 frames, last partial
    val trimmed = clip.take(128)            // full-frame prefix: {f1, f2}
    val other = "Z" * 200
    val out = LlmOps.videoFrameNearDups(docs(
        1L -> clip, 2L -> clip, 3L -> trimmed, 4L -> other))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(out.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0),
      s"re-upload must share every frame: ${out.toSeq}")
    // shared {f1, f2}, union 3 → jac = 0.666667, above the 0.5 gate
    assert(out.exists(p => p._1 == 1L && p._2 == 3L && p._3 >= 0.6),
      s"end-trim must clear the gate: ${out.toSeq}")
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L), out.toSeq.toString)
    // a frame shared by MORE than maxPostings clips pairs nobody through
    // it: each clip is the 64-char hot frame + its own private frames, so
    // the hot posting (5 members > cap 4) is the ONLY multi-member list
    val hot = (1L to 5L).map(i =>
      (i, ("H" * 64) + (('a' + i.toInt).toChar.toString * (64 * i.toInt))))
    val capped = LlmOps.videoFrameNearDups(docs(hot: _*), maxPostings = 4)
    assert(capped.count() == 0,
      "the only shared frame exceeds the postings cap → no pairs")
    // stop-frame cut is COUNTED, never silent: the hot posting (5 > 4)
    // surfaces as capped_postings = 1 on surviving pairs — add a live
    // identical pair so the output is non-empty (r10 verdict item 5)
    val withLive = hot ++ Seq(
      11L -> (("L" * 64) + ("M" * 64)), 12L -> (("L" * 64) + ("M" * 64)))
    val covered = LlmOps.videoFrameNearDups(docs(withLive: _*), maxPostings = 4)
      .collect()
    assert(covered.length == 1, covered.toSeq.toString)
    assert(covered.head.getLong(0) == 11L && covered.head.getLong(1) == 12L)
    assert(covered.head.getLong(6) == 1L,
      s"the hot posting list must be counted: ${covered.head}")
  }

  test("multimodal clusters: linkage is transitive ACROSS modalities") {
    // 1 ↔ 2 only by TEXT (identical prose, distinct image grids);
    // 2 ↔ 3 only by IMAGE (identical grids, unrelated prose);
    // 4 is linked by nothing → all of {1,2,3} collapse under min id 1,
    // 4 self-labels. No single modality sees the whole cluster.
    val prose = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docs(
      1L -> prose, 2L -> prose,
      3L -> "entirely different words about spark catalyst tungsten codegen",
      4L -> "another unrelated corpus item speaking of parquet row groups only")
    val gridA = Array.tabulate(64)(i => (i * 37 % 101).toFloat)
    val gridB = Array.tabulate(64)(i => (i * 53 % 97).toFloat)
    val gridC = Array.tabulate(64)(i => ((i * 29 + 11) % 89).toFloat)
    val imgs = Seq((2L, gridA), (3L, gridA), (1L, gridB), (4L, gridC))
      .toDF("vec_id", "embedding")
    val out = LlmOps.multimodalClusters(d, imgs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L,
      s"cross-modal transitivity must merge 1-2-3: $out")
    assert(out(4L) == 4L, s"unlinked item must self-label: $out")
  }

  test("multimodal clusters: a failing channel throws and releases every cache") {
    // the image channel cannot hash a string embedding, while the text,
    // audio and video channels run; the call must fail only after both
    // channel threads finished, with the payload cache and the text pairs
    // released
    val prose = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docs(1L -> prose, 2L -> prose,
      3L -> "entirely different words about spark catalyst tungsten codegen")
    val imgs = Seq((1L, "not an embedding")).toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    intercept[Exception](LlmOps.multimodalClusters(d, imgs).collect())
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"a failed call left persisted RDDs: $leaked")
  }

  test("multimodal clusters: a pair linked ONLY by shared video frames co-clusters") {
    // r10 verdict item 3: videoFrameNearDups existed but its edges never
    // reached the cross-modal pass. Construct a pair no OTHER channel
    // links: same frame SET in a different ORDER — video jac = 1 (sets),
    // audio fingerprints differ by 3 sign-of-delta bits (> radius 2,
    // order-dependent envelope), and the space-free payloads are single
    // distinct tokens (no shingles → no text edge).
    val p = "a" * 64
    val q = "z" * 64
    val d = docs(
      5L -> (p + q + p + q),
      6L -> (q + p + q + p),
      // alternates every energy window (~31 sign-of-delta bits — far
      // outside radius 2 of either clip) and repeats ONE private frame
      7L -> ("bbbbyyyy" * 32))
    // prove the link is video-only on this fixture
    assert(LlmOps.audioFingerprintNearDups(d).filter("a = 5 and b = 6").count() == 0,
      "audio must NOT link the reordered pair")
    assert(LlmOps.minhashCandidates(d, "doc_id").filter("a = 5 and b = 6").count() == 0,
      "text must NOT link the reordered pair")
    assert(LlmOps.videoFrameNearDups(d).filter("a = 5 and b = 6").count() == 1,
      "video MUST link the reordered pair")
    val imgs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val out = LlmOps.multimodalClusters(d, imgs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(5L) == 5L && out(6L) == 5L,
      s"frame-linked clips must co-cluster: $out")
    assert(out(7L) == 7L, s"unlinked clip must self-label: $out")
  }

  test("paragraphDedup drops shared segments from every doc, keeps unique text") {
    // boiler is EXACTLY one 10-word segment shared (position-aligned) by
    // docs 1 and 2; each doc's second segment is unique; doc 3 is unique
    val boiler = "shared license header text repeated across many documents verbatim"
    // (9 words) + 1 pad word to fill the 10-word segment
    val d = docs(
      1L -> s"$boiler pad unique first document content words here apple banana cherry",
      2L -> s"$boiler pad unique second document content words here dates elder figs",
      3L -> "entirely original single segment document nothing shared anywhere at all")
    val out = LlmOps.paragraphDedup(d, "doc_id").orderBy(col("doc_id")).collect()
    val r1 = out(0); val r2 = out(1); val r3 = out(2)
    assert(r1.getLong(1) == 2 && r1.getLong(2) == 1,
      s"doc 1 must drop exactly the boilerplate segment: $r1")
    assert(r1.getString(3) == "unique first document content words here apple banana cherry")
    assert(r2.getLong(2) == 1 &&
      r2.getString(3) == "unique second document content words here dates elder figs")
    assert(r3.getLong(2) == 0 && r3.getString(3) ==
      "entirely original single segment document nothing shared anywhere at all")
  }

  test("paragraphDedup erases fully-duplicated docs to empty, never drops them") {
    val txt = "ten words exactly aaa bbb ccc ddd eee fff ggg"
    val d = docs(1L -> txt, 2L -> txt)
    val out = LlmOps.paragraphDedup(d, "doc_id").orderBy(col("doc_id")).collect()
    assert(out.length == 2, "both docs must remain as rows")
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"all segments dropped: $r")
      assert(r.getString(3) == "", s"clean text must be empty, not null: $r")
    }
  }

  test("dedup_edit_distance: exact twins at dist 0, tail variants at dist 5") {
    val out = graft.SparkEntry.queries("dedup_edit_distance")(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.nonEmpty)
    // planted exact dups: id%10==0, id%20!=0 → twin at +100000 with equal text
    assert(out.exists { case (a, b, dist) => b - a == 100000L && dist == 0L })
    // ' tail' variants: 5 appended chars → levenshtein exactly 5
    assert(out.exists { case (a, b, dist) => b - a == 100000L && dist == 5L })
    assert(out.forall(_._3 >= 0L))
  }

  test("contamination_report attributes every planted leak to its bench item") {
    val rep = graft.SparkEntry.queries("contamination_report")(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // every bench doc id%10==0 has a planted twin at +100000 in the corpus
    // (exact copy or all-but-' tail'), so every bench item must be flagged
    val bench = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .filter(col("doc_id") % 10 === 0).select(col("doc_id"))
      .collect().map(_.getLong(0))
    bench.foreach { id =>
      assert(rep.contains(id), s"bench item $id has a planted leak but no report row")
      assert(rep(id)._1 >= 1L, s"bench item $id must attribute >= 1 corpus doc")
      assert(rep(id)._2 > 0.5, s"bench item $id max_ratio must clear the threshold")
    }
  }

  test("dedup_clusters_dist matches dedup_clusters on the registry chain") {
    // the star rounds (dedup_clusters_dist's zero driver budget) must
    // produce the exact min-id labels the union-find path does
    val a = graft.SparkEntry.queries("dedup_clusters")(spark, sf("sf0.001"))
    val b = graft.SparkEntry.queries("dedup_clusters_dist")(spark, sf("sf0.001"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "star-contraction labels must equal union-find labels")
  }

  test("distributedClustersStar collapses a long CHAIN in O(log n) rounds") {
    // a 2000-node path graph is label propagation's worst case (one round
    // per diameter unit = 2000 rounds); star contraction (forced by a zero
    // driver budget) must finish it inside the 25-round cap and label
    // everything 0, and so must the driver union-find at the default
    val n = 2000L
    val ids = spark.range(n).select(col("id").as("doc_id"))
    val chain = spark.range(n - 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val before = spark.sparkContext.getPersistentRDDs.size
    var labels: Array[org.apache.spark.sql.Row] = null
    val jobs = countJobs("star-chain") {
      labels = LlmOps.distributedClustersStar(ids, "doc_id", chain,
        driverEdgeBudgetBytes = 0L).collect()
    }
    assert(labels.forall(_.getLong(1) == 0L),
      "every chain node must label to the minimum id 0")
    assert(labels.length == n)
    // two per-node-minimum windows, one distinct and the checkpoint job a
    // round; no fingerprint aggregate, no join-back
    assert(jobs <= 60, s"star contraction took $jobs jobs on the chain")
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"only the materialized result may stay persisted: $before -> $after")
    var viaGate: Array[org.apache.spark.sql.Row] = null
    val gateJobs = countJobs("uf-chain") {
      viaGate = LlmOps.distributedClustersStar(ids, "doc_id", chain).collect()
    }
    assert(viaGate.length == n && viaGate.forall(_.getLong(1) == 0L),
      "the union-find path must label every chain node 0")
    // the bounded edge collect and the label join
    assert(gateJobs <= 6, s"the union-find path took $gateJobs jobs on the chain")
  }

  test("distributedClustersStar below its gate reads single-file pairs in one bounded collect") {
    // the gate and the union-find share one collect job: no count job
    // precedes it, so a lazy single-file pairs read is scanned once
    val dir = java.nio.file.Files.createTempDirectory("graft-star-pairs").toString
    Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val pairs = graft.Tables.parquet(spark, dir)
    val ids = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    var labels = Map.empty[Long, Long]
    val jobs = countJobs("uf-parquet") {
      labels = LlmOps.distributedClustersStar(ids, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
    // one edge collect and the label join
    assert(jobs <= 4, s"the union-find path took $jobs jobs on single-file pairs")
  }

  test("distributedClustersStar: unpersist on the star result releases all it persisted") {
    // the result is the only state a call leaves, and the caller can
    // release it: no round's checkpoint stays behind
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val ids = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val before = sc.getPersistentRDDs.size
    val out = LlmOps.distributedClustersStar(ids, "doc_id", pairs, driverEdgeBudgetBytes = 0L)
    assert(out.collect().length == 6)
    out.unpersist(blocking = true)
    assert(sc.getPersistentRDDs.size == before,
      s"persisted RDDs $before -> ${sc.getPersistentRDDs.size} after unpersist")
  }

  test("distributedClustersStar: a null id fails loudly on both paths") {
    // (null, 3) must not become the self-loop (3, 3) and vanish
    val pairs = Seq((None: Option[Long], Some(3L)), (Some(1L), Some(2L))).toDF("a", "b")
    val ids = Seq(1L, 2L, 3L).toDF("doc_id")
    for (budget <- Seq(512L << 20, 0L)) {
      val e = intercept[Exception] {
        LlmOps.distributedClustersStar(ids, "doc_id", pairs, budget).collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(_.contains("id is not numeric")), s"budget $budget: $msgs")
    }
  }

  test("cluster registry keys release their shingle and pair caches") {
    // each key's only lasting state is the result it hands back (a
    // materialized frame, dedup_clusters_dist's star labels included):
    // shingle tables, signature and band tables, candidate pairs and
    // every other intermediate are released before the result returns
    val sc = spark.sparkContext
    val kept = Map("dedup_clusters" -> 0, "dedup_clusters_dist" -> 1,
      "dedup_cluster_stats" -> 0, "dedup_weights" -> 0,
      "dedup_ngram_jaccard" -> 1, "dedup_edit_distance" -> 1,
      "training_manifest" -> 1, "decontaminate_purge" -> 0,
      "dedup_multimodal" -> 0, "dedup_minhash" -> 1,
      "decontaminate_bloom" -> 1, "decontaminate_minhash" -> 1,
      "dedup_incremental" -> 1, "dedup_semantic" -> 1,
      "dsir_select" -> 1, "minhash_tune" -> 1)
    // the results stay referenced: the persistent-RDD registry holds its
    // RDDs weakly, so a collected frame's checkpoint could vanish mid-count
    val results = kept.toSeq.map { case (key, grows) =>
      // every key starts from an empty cache: two keys materializing the
      // same plan (dedup_minhash's pairs are dedup_edit_distance's
      // candidates) must not share one cache entry
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val before = sc.getPersistentRDDs.size
      val df = graft.SparkEntry.queries(key)(spark, sf("sf0.001"))
      assert(df.collect().nonEmpty, key)
      val after = sc.getPersistentRDDs.size
      assert(after - before == grows,
        s"$key: persisted RDDs $before -> $after, expected +$grows")
      df
    }
    assert(results.size == kept.size)
  }

  // min-id connected-component labels from a driver union-find: every root
  // is its component's minimum because the larger root always links under
  // the smaller one
  private def unionFindLabels(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  test("distributedClustersStar equals a driver union-find on every graph " +
       "shape, exactly one row per id") {
    val n = 60L
    val path = (0L until n - 1).map(i => (i, i + 1))
    val rnd = new scala.util.Random(17)
    val randoms = (1 to 12).map { g =>
      s"random$g" -> Seq.fill(rnd.nextInt(80) + 10)(
        (rnd.nextInt(n.toInt).toLong, rnd.nextInt(n.toInt).toLong))
    }
    val graphs = Seq(
      "empty" -> Seq.empty[(Long, Long)],
      "chain" -> path,
      "reversed chain" -> path.reverse.map(_.swap),
      "hub-low star" -> (1L until n).map(i => (0L, i)),
      "hub-high star" -> (0L until n - 1).map(i => (n - 1, i)),
      "clique" -> (for (a <- 0L until 12L; b <- a + 1 until 12L) yield (a, b)),
      "cycle" -> (0L until n).map(i => (i, (i + 1) % n)),
      "duplicates and self-loops" ->
        (path ++ path.map(_.swap) ++ path ++ (0L until n).map(i => (i, i)))) ++ randoms
    // ids past every edge stay singletons; a zero budget runs the star
    // rounds, the default the driver union-find
    val ids = 0L until n + 5
    for ((name, edges) <- graphs; budget <- Seq(0L, 512L << 20)) {
      val out = LlmOps.distributedClustersStar(ids.toDF("doc_id"), "doc_id",
          edges.toDF("a", "b"), budget)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(out.length == ids.length && out.map(_._1).distinct.length == ids.length,
        s"$name at budget $budget: one row per id, got ${out.length}")
      assert(out.toMap == unionFindLabels(ids, edges), s"$name at budget $budget: labels differ")
    }
  }

  test("clusterSizeStats: histogram and removable mass on known clusters") {
    // clusters: {1,2,3} (size 3), {4,5} (size 2), {6} and {7} (singletons)
    val clusters = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L).toDF("doc_id", "cluster_id")
    val out = LlmOps.clusterSizeStats(clusters, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 2L, 0.0)), s"two singletons, nothing removable: $out")
    assert(out(2L) == ((1L, 2L, 0.142857)), s"one pair: 1 of 7 docs removable (round6): $out")
    assert(out(3L) == ((1L, 3L, 0.285714)), s"one triple: 2 of 7 docs removable (round6): $out")
    // keep-one collapse removes sum(size-1) docs; the fracs must total that
    assert(math.abs(out.values.map(_._3).sum - 3.0 / 7) < 1e-5)
  }

  test("embeddingHealth flags NaN vectors, zero vectors, and mixed dims") {
    val rows = Seq(
      (1L, Array(3.0f, 4.0f)),            // norm 5
      (2L, Array(0.0f, 0.0f)),            // zero vector
      (3L, Array(Float.NaN, 1.0f)),       // NaN poison
      (4L, Array(1.0f, 0.0f, 0.0f)))      // mixed dim
    val emb = rows.toDF("vec_id", "embedding")
    val r = LlmOps.embeddingHealth(emb, "embedding").collect().head
    assert(r.getLong(0) == 4)                       // n_vecs
    assert(r.getLong(1) == 2 && r.getLong(2) == 3,  // dim_min != dim_max
      s"mixed dims must surface: $r")
    assert(r.getLong(3) == 1, s"one NaN vector: $r")
    assert(r.getLong(4) == 1, s"one zero vector: $r")
    assert(r.getDouble(6) > 0.0, s"median norm positive: $r")
  }

  test("quality_histogram partitions the corpus and brackets each bucket's mean") {
    val hist = graft.SparkEntry.queries("quality_histogram")(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nDocs = spark.read.parquet(sf("sf0.001") + "/documents.parquet").count()
    assert(hist.map(_._2).sum == nDocs, "bucket counts must partition the corpus")
    hist.foreach { case (b, _, mean) =>
      assert(mean >= b && mean < b + 1, s"bucket $b mean $mean out of range")
    }
    // sf0.001's 500 docs are near-homogeneous (one log bucket); the
    // invariants above are the contract — bucket spread is data-dependent
    assert(hist.nonEmpty)
  }

  // --- purgeByIds (takedown / right-to-be-forgotten) ---------------------

  test("purgeByIds small regime: plain scan filter (no join), ids removed") {
    val corpus = (1L to 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val requests = Seq(3L, 500L, 999L, 4242L).toDF("doc_id") // 4242 absent: no-op
    val out = LlmOps.purgeByIds(corpus, requests, "doc_id")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"small purge regime must compile to a scan filter, not a join:\n$plan")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.size == 997)
    assert(Seq(3L, 500L, 999L).forall(!ids.contains(_)))
    assert(ids.contains(4L) && ids.contains(1000L))
  }

  test("purgeByIds: a NULL corpus id is kept by BOTH regimes (r12 ADVICE — " +
       "the small regime's plain NOT-IN would have dropped it)") {
    val corpus = ((1L to 300L).map(i => (java.lang.Long.valueOf(i), s"doc $i")) :+
      ((null: java.lang.Long), "orphan")).toDF("doc_id", "text")
    // small regime (3 ids) and large regime (400 ids) on the same corpus
    val small = LlmOps.purgeByIds(corpus, Seq(3L, 5L, 7L).toDF("doc_id"), "doc_id")
    val large = LlmOps.purgeByIds(corpus,
      (1L to 400L).map(_ * 2).toDF("doc_id"), "doc_id")
    assert(small.filter(col("doc_id").isNull).count() == 1,
      "small regime dropped the null-id corpus row")
    assert(large.filter(col("doc_id").isNull).count() == 1,
      "anti-join regime dropped the null-id corpus row")
    assert(small.count() == 300 - 3 + 1)
    assert(large.count() == 300 - 150 + 1)
  }

  test("purgeByIds large regime (> CandidateInFilterMaxIds): left-anti join, " +
       "same result as the small-regime semantics") {
    val corpus = (1L to 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 400 distinct request ids — above the 256-id pushdown gate
    val requests = (1L to 400L).map(_ * 5).toDF("doc_id")
    val out = LlmOps.purgeByIds(corpus, requests, "doc_id")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"large purge regime must be a left-anti join:\n$plan")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == (1L to 2000L).filterNot(i => i % 5 == 0).toSet,
      "anti-join regime diverged from NOT-IN semantics")
  }

  test("purgeByIds fails loudly on a null request id (PK contract)") {
    val corpus = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val requests = Seq(Some(1L), None).toDF("doc_id")
    val e = intercept[IllegalArgumentException] {
      LlmOps.purgeByIds(corpus, requests, "doc_id")
    }
    assert(e.getMessage.contains("null"))
  }

  test("dedup_weights: every cluster's weights sum to 1 (soft dedup mass)") {
    // the defining invariant of downweight-instead-of-drop: each
    // duplicate cluster contributes exactly one document's worth of
    // expected training mass. Cross-checked against dedup_clusters'
    // cluster_id (same pair source), not against dedup_weights' own
    // sizes — that check would be circular.
    val weights = graft.SparkEntry.queries("dedup_weights")(spark, sf("sf0.001"))
    val clusters = graft.SparkEntry.queries("dedup_clusters")(spark, sf("sf0.001"))
    assert(weights.filter(col("weight") <= 0 || col("weight") > 1).count() == 0)
    val perCluster = weights.join(clusters, "doc_id")
      .groupBy(col("cluster_id")).agg(sum(col("weight")).as("mass"))
    assert(perCluster.filter(abs(col("mass") - 1.0) > 1e-4).count() == 0,
      "some cluster's weights do not sum to 1")
  }
}
