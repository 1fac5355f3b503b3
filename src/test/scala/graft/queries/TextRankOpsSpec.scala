package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ext.LlmOps

/** r13 text-relevance + corpus-analytics operators: TF-IDF head terms,
  * BM25 search, crawl overlap, z-score anomalies, per-dim embedding stats.
  * Semantics against hand-computed / window-form references, plus the plan
  * pins that carry the 100 TB posture (heap aggregate instead of a window,
  * broadcast group stats instead of a corpus shuffle).
  */
class TextRankOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  // --- tfidf_topterms -----------------------------------------------------

  test("tfidf_topterms: no Window node — the per-lang ranking runs as the " +
       "graft_topk_str map-side heap") {
    val q = graft.SparkEntry.queries("tfidf_topterms")(spark, sf())
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window form crept back:\n$plan")
    assert(plan.contains("graft_topk_str"), plan)
    // TypedImperativeAggregate runs partial-then-final as ObjectHashAggregate
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("tfidf_topterms matches the row_number window reference on testdata") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val got = LlmOps.tfIdfTopTerms(docs, k = 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val w = docs.select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = w.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("tf"))
    val dfT = w.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.count()
    val scored = tf.join(dfT, Seq("token"))
      .withColumn("score",
        LlmOps.round6((col("tf") * lit(n)).cast("double") / col("df").cast("double")))
    val win = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("token"))
    val ref = scored.withColumn("rk", row_number().over(win)).filter(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("token"), col("score"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    assert(got == ref)
  }

  // --- bm25_search ---------------------------------------------------------

  test("bm25_search scores a controlled corpus exactly (hand formula) and " +
       "ranks the saturated multi-term doc first") {
    val docs = docsDf(
      1L -> "column column scan",
      2L -> "column window",
      3L -> "noise words here")
    val out = LlmOps.bm25Search(docs, Seq("column", "window", "scan"), kTop = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // same double ops as the impl/oracle → bit-identical expectation
    val (k1, b) = (1.2, 0.75)
    val avgdl = 8.0 / 3.0
    def contrib(tf: Long, df: Long, dl: Long): BigDecimal = {
      val idf = (3.0 - df.toDouble + 0.5) / (df.toDouble + 0.5)
      val raw = (idf * (tf.toDouble * (k1 + 1.0))) /
        (tf.toDouble + k1 * (1.0 - b + (b * dl.toDouble) / avgdl))
      BigDecimal(math.floor(raw * 1e6 + 0.5) / 1e6).setScale(6)
    }
    val s1 = (contrib(2, 2, 3) + contrib(1, 1, 3)).toDouble // column + scan
    val s2 = (contrib(1, 2, 2) + contrib(1, 1, 2)).toDouble // column + window
    assert(out.length == 2, out.mkString(","))               // doc 3 matches nothing
    assert(out(0)._1 == (if (s1 >= s2) 1L else 2L))
    val byId = out.map(t => t._1 -> t._2).toMap
    assert(math.abs(byId(1L) - s1) < 1e-9, s"doc1 ${byId(1L)} vs $s1")
    assert(math.abs(byId(2L) - s2) < 1e-9, s"doc2 ${byId(2L)} vs $s2")
    assert(out.map(_._3).forall(_ <= 3))
  }

  test("bm25_search plan: query-term candidates broadcast back, no " +
       "corpus-width sort-merge join, top-k is TakeOrdered") {
    val q = graft.SparkEntry.queries("bm25_search")(spark, sf())
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin"), s"corpus-width join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
           plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  // --- corpus_overlap --------------------------------------------------------

  test("corpus_overlap: identical snapshots → jaccard 1, disjoint → 0; " +
       "estimate agrees; shingle caches are released") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val a = docsDf(
      1L -> "alpha beta gamma delta",
      2L -> "epsilon zeta eta theta")
    val same = LlmOps.corpusOverlap(a, a, "doc_id").collect()(0)
    assert(same.getDouble(4) == 1.0 && same.getBoolean(5), same.toString)
    val b = docsDf(3L -> "iota kappa lambda mu")
    val disj = LlmOps.corpusOverlap(a, b, "doc_id").collect()(0)
    assert(disj.getDouble(4) == 0.0 && disj.getBoolean(5), disj.toString)
    assert(disj.getLong(2) == 0 &&
      disj.getLong(3) == disj.getLong(0) + disj.getLong(1))
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "corpusOverlap leaked a persisted shingle table")
  }

  test("corpus_overlap estimate is deterministic and inside tolerance on " +
       "the registered next-crawl pair") {
    val r1 = graft.SparkEntry.queries("corpus_overlap")(spark, sf()).collect()(0)
    val r2 = graft.SparkEntry.queries("corpus_overlap")(spark, sf()).collect()(0)
    assert(r1 == r2, "md5-based MinHash must be run-stable")
    assert(r1.getBoolean(5), s"estimate out of tolerance: $r1")
    assert(r1.getDouble(4) > 0.5 && r1.getDouble(4) < 1.0,
      s"next-crawl overlap should be a real partial overlap: $r1")
  }

  // --- anomaly_zscore ---------------------------------------------------------

  test("anomaly_zscore matches an independently-computed two-pass z on " +
       "testdata and only emits |z| > 3") {
    val got = graft.SparkEntry.queries("anomaly_zscore")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    val ev = Common.events(spark, sf())
      .select(col("event_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byType = ev.groupBy(_._2)
    val stats = byType.map { case (t, rows) =>
      val xs = rows.map(_._3)
      val mu = xs.sum / xs.length
      val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1))
      t -> (mu, sd)
    }
    val ref = ev.flatMap { case (id, t, v) =>
      val (mu, sd) = stats(t)
      val z = (v - mu) / sd
      if (math.abs(z) > 3.0) Some(id) else None
    }.toSet
    assert(got.map(_._1).toSet == ref)
    assert(got.forall(r => math.abs(r._4) > 2.99))
    // rounded z within two-pass-vs-streaming numeric slack of the reference
    got.foreach { case (id, t, v, z) =>
      val (mu, sd) = stats(t)
      assert(math.abs(z - (v - mu) / sd) < 1e-3, s"event $id z=$z")
    }
  }

  test("anomaly_zscore plan: group stats broadcast back — the event stream " +
       "never shuffles on event_type") {
    val q = graft.SparkEntry.queries("anomaly_zscore")(spark, sf())
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  // --- embedding_pca ------------------------------------------------------

  test("embeddingPcaFit recovers a planted dominant direction") {
    val d = 8
    val u0 = Array.tabulate(d)(i => (i + 1).toDouble)
    val un = math.sqrt(u0.map(a => a * a).sum)
    val u = u0.map(_ / un)
    // x_i = t_i·u + 0.01·e_{i mod d}: deterministic, strongly anisotropic
    val n = 400
    val rows = (0 until n).map { i =>
      val t = i - (n - 1) / 2.0
      val x = Array.tabulate(d)(k =>
        t * u(k) + (if (k == i % d) 0.01 else 0.0))
      Tuple1(x.toSeq)
    }
    val df = rows.toDF("embedding")
    val f = LlmOps.embeddingPcaFit(df, "embedding")
    assert(f.nVecs == n && f.dim == d)
    val cosUV = f.eigenvector.indices.map(k => f.eigenvector(k) * u(k)).sum
    assert(math.abs(cosUV) > 0.999999, s"top PC misses the planted axis: $cosUV")
    // λ₁ ≈ var(t): uniform grid of n points spaced 1 → var = n(n+1)/12
    val varT = (0 until n).map(i => math.pow(i - (n - 1) / 2.0, 2)).sum / (n - 1)
    assert(math.abs(f.eigenvalue - varT) < 0.01 * varT,
      s"λ=${f.eigenvalue} vs planted var $varT")
    assert(f.resid <= 1e-6 * f.eigenvalue)
  }

  test("embeddingPcaFitK + apply: recovers two planted directions, projects " +
       "rows onto them (driver-parity), whitening yields unit variance") {
    val d = 8
    val u1 = { val v = Array.tabulate(d)(i => (i + 1).toDouble)
               val n = math.sqrt(v.map(a => a * a).sum); v.map(_ / n) }
    // u2 ⊥ u1 by construction (alternating-sign pairing)
    val u2 = { val v = Array.tabulate(d)(i => if (i % 2 == 0) u1(i + 1) else -u1(i - 1))
               val n = math.sqrt(v.map(a => a * a).sum); v.map(_ / n) }
    val n = 400
    val rows = (0 until n).map { i =>
      val t1 = i - (n - 1) / 2.0          // planted var ≈ 13400
      val t2 = (i % 40) - 19.5            // planted var ≈ 134, well separated
      val x = Array.tabulate(d)(k =>
        t1 * u1(k) + t2 * u2(k) + (if (k == i % d) 0.01 else 0.0))
      Tuple1(x.toSeq)
    }
    val df = rows.toDF("embedding").withColumn("vec_id",
      monotonically_increasing_id())
    val f = LlmOps.embeddingPcaFitK(df, k = 2)
    assert(f.eigenvalues(0) > f.eigenvalues(1),
      s"eigenvalues out of order: ${f.eigenvalues.toSeq}")
    val c1 = f.basis(0).indices.map(k => f.basis(0)(k) * u1(k)).sum
    val c2 = f.basis(1).indices.map(k => f.basis(1)(k) * u2(k)).sum
    // t2 = i%40 carries a small inherent correlation with t1 = i (cov =
    // var(t2)), so the TRUE top eigenvector tilts ~cov/(λ1−λ2) ≈ 0.01 rad
    // off u1 — 0.9999 is the bound the construction supports, not a
    // convergence allowance (the 1-component planted test keeps 6 nines
    // on its uncorrelated construction)
    assert(math.abs(c1) > 0.9999, s"PC1 misses planted u1: $c1")
    assert(math.abs(c2) > 0.9999, s"PC2 misses planted u2: $c2")
    // apply parity: Spark projection == driver-computed (x − μ)·v
    val got = LlmOps.embeddingPcaApply(df, f)
      .select(col("vec_id"), col("proj")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.zipWithIndex.foreach { case (Tuple1(x), i) =>
      val exp = f.basis.map(v =>
        v.indices.map(k => (x(k) - f.mean(k)) * v(k)).sum)
      val g = got(i.toLong)
      exp.indices.foreach(j => assert(math.abs(g(j) - exp(j)) <=
        1e-9 * math.max(1.0, math.abs(exp(j))), s"row $i comp $j"))
    }
    // whitened coordinates have unit sample variance
    val w = LlmOps.embeddingPcaApply(df, f, whiten = true)
      .select(col("proj")).collect().map(_.getSeq[Double](0))
    (0 until 2).foreach { j =>
      val m = w.map(_(j)).sum / n
      val v = w.map(p => (p(j) - m) * (p(j) - m)).sum / (n - 1)
      assert(math.abs(v - 1.0) <= 1e-6, s"whitened var comp $j = $v")
    }
  }

  test("embedding_pca_apply registry key: every envelope boolean holds " +
       "(variance==eigenvalue, orthonormal basis, k/d capture, " +
       "prefilter+rescore recall)") {
    val row = graft.SparkEntry.queries("embedding_pca_apply")(spark, sf())
      .collect()(0)
    assert(row.getInt(2) == 32)
    (3 to 6).foreach(i => assert(row.getBoolean(i), s"boolean col $i false"))
  }

  test("embeddingPcaFit on testdata: eigenpair satisfies the dense two-pass " +
       "covariance reference; registry key reports pca_ok") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val f = LlmOps.embeddingPcaFit(emb)
    // dense reference covariance, two-pass, driver-side
    val xs = emb.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val d = xs.head.length
    val n = xs.length
    val mu = Array.tabulate(d)(k => xs.map(_(k)).sum / n)
    def cref(i: Int, j: Int): Double =
      xs.map(x => (x(i) - mu(i)) * (x(j) - mu(j))).sum / (n - 1)
    // Rayleigh quotient of the fit's eigenvector on the REFERENCE matrix
    // must reproduce λ, and the residual must stay inside the report gate
    val v = f.eigenvector
    val cv = Array.tabulate(d)(i => (0 until d).map(j => cref(i, j) * v(j)).sum)
    val lamRef = v.indices.map(k => v(k) * cv(k)).sum
    assert(math.abs(lamRef - f.eigenvalue) <= 1e-6 * f.eigenvalue)
    val resid = math.sqrt(v.indices.map { k =>
      val e = cv(k) - lamRef * v(k); e * e
    }.sum)
    assert(resid <= 0.05 * lamRef, s"residual $resid vs λ $lamRef")
    // one-pass moments (graft_vec_sum) agree with the two-pass mean
    f.mean.indices.foreach(k =>
      assert(math.abs(f.mean(k) - mu(k)) < 1e-9, s"mean dim $k"))
    assert(f.eigenvalue >= cref(0, 0) - 1e-9) // λ₁ ≥ any diagonal entry
    val row = graft.SparkEntry.queries("embedding_pca")(spark, sf()).collect()(0)
    assert(row.getLong(0) == n && row.getInt(1) == d && row.getBoolean(3))
  }

  // --- embedding_dim_stats ------------------------------------------------------

  test("embedding_dim_stats: one row per dimension, n = corpus size, " +
       "moments match a driver-side two-pass reference") {
    val rows = graft.SparkEntry.queries("embedding_dim_stats")(spark, sf())
      .collect()
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    assert(rows.length == emb.head.length)
    rows.foreach { r =>
      val dim = r.getInt(0)
      val xs = emb.map(_(dim))
      assert(r.getLong(1) == xs.length)
      val mu = xs.sum / xs.length
      val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1))
      assert(math.abs(r.getDouble(2) - mu) < 1e-6, s"dim $dim mean")
      assert(math.abs(r.getDouble(3) - sd) < 1e-6, s"dim $dim sd")
      assert(r.getDouble(4) == xs.min && r.getDouble(5) == xs.max)
    }
  }
}
