package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class AggExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_topk keeps the k best (score desc, id asc), exercising partial merge") {
    val rows = Seq(
      // group 1: tie on 0.9 broken by id asc; 4 candidates for k=3
      (1L, 0.9, 10L), (1L, 0.9, 7L), (1L, 0.5, 1L), (1L, 0.7, 2L),
      // group 2: fewer than k
      (2L, 0.1, 99L))
      .toDF("g", "score", "id")
      .repartition(4) // spread the group across tasks: merge + serialize run
    val out = rows.groupBy($"g")
      .agg(expr("graft_topk(score, id, 3)").as("nn"))
      .select($"g", posexplode($"nn").as(Seq("pos", "nn")))
      .select($"g", $"pos", $"nn.id", $"nn.score")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 0, 7L, 0.9), (1L, 1, 10L, 0.9), (1L, 2, 2L, 0.7),
      (2L, 0, 99L, 0.1)))
  }

  test("graft_topk rejects bad k and types at analysis") {
    val df = Seq((1L, 0.5, 2L)).toDF("g", "s", "i")
    intercept[Exception] {
      df.groupBy($"g").agg(expr("graft_topk(s, i, 0)")).collect()
    }
    intercept[Exception] {
      df.groupBy($"g").agg(expr("graft_topk(i, i, 3)")).collect() // score not double
    }
  }

  test("knnJoin via graft_topk is bit-identical to the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val agg = graft.ext.LlmOps.knnJoin(e, 3)
      .select("a", "b", "cos", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // the reference window form it replaced (graft_* ensured in beforeAll)
    val base = e.select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("nrm", sqrt(graft.ext.LlmOps.dot("embedding", "embedding")))
    val pairs = base.as("x").join(base.as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round(graft.ext.LlmOps.dot("x.embedding", "y.embedding") /
          (col("x.nrm") * col("y.nrm")), 6).as("cos"))
    val w = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))
    val win = pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(agg == win)
  }

  // --- graft_vec_sum (elementwise array sum) ------------------------------

  test("graft_vec_sum sums elementwise across partitions (merge + serde), " +
       "skips nulls, nulls out empty groups") {
    val rows = Seq(
      (1L, Some(Seq(1.0, 2.0, 3.0))), (1L, Some(Seq(10.0, 20.0, 30.0))),
      (1L, None), (1L, Some(Seq(100.0, 200.0, 300.0))),
      (2L, None))
      .toDF("g", "x").repartition(4)
    val out = rows.groupBy($"g").agg(expr("graft_vec_sum(x)").as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(out(1L).get == Seq(111.0, 222.0, 333.0))
    assert(out(2L).isEmpty) // all-null group → null
  }

  test("graft_vec_sum fails loudly on mixed lengths and non-double arrays") {
    val mixed = Seq(Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)).toDF("x")
    val e = intercept[Exception] {
      mixed.agg(expr("graft_vec_sum(x)")).collect()
    }
    assert(e.getMessage != null)
    intercept[Exception] {
      Seq(Seq(1, 2)).toDF("x").agg(expr("graft_vec_sum(x)")).collect()
    }
  }

  test("graft_vec_sum fails loudly on null ELEMENTS (r13 ADVICE: getDouble " +
       "on a null slot would silently contribute 0.0)") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_vec_sum(x) FROM VALUES (array(1.0d, NULL)) t(x)")
        .collect()
    }
    assert(e.getMessage.contains("null element") ||
      (e.getCause != null && e.getCause.getMessage.contains("null element")))
    // a null VECTOR is still skipped like any SQL agg input
    val ok = spark.sql(
      "SELECT graft_vec_sum(x) AS s FROM VALUES (array(1.0d, 2.0d)), " +
      "(CAST(NULL AS array<double>)) t(x)").collect()(0).getSeq[Double](0)
    assert(ok == Seq(1.0, 2.0))
  }

  test("graft_vec_sum outer-product pass equals the posexplode reference " +
       "(the Gramian shape embedding_pca uses)") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(50)
      .select(expr("transform(embedding, v -> cast(v as double))").as("x"))
    val viaAgg = e
      .select(expr("flatten(transform(x, a -> transform(x, b -> a * b)))").as("xx"))
      .agg(expr("graft_vec_sum(xx)").as("s"))
      .collect()(0).getSeq[Double](0)
    val viaExplode = e
      .select(posexplode(expr(
        "flatten(transform(x, a -> transform(x, b -> a * b)))")).as(Seq("i", "v")))
      .groupBy($"i").agg(sum($"v").as("s"))
      .orderBy($"i").collect().map(_.getDouble(1))
    assert(viaAgg.length == viaExplode.length)
    viaAgg.indices.foreach { i =>
      assert(math.abs(viaAgg(i) - viaExplode(i)) <=
        1e-9 * (1.0 + math.abs(viaExplode(i))), s"entry $i")
    }
  }

  // --- graft_topk_str (string-keyed top-k heap) --------------------------

  test("graft_topk_str keeps the k best (score desc, id asc) with string " +
       "ids, exercising partial merge + serde") {
    val rows = Seq(
      // group 1: tie on 0.9 broken by token asc; 4 candidates for k=3
      (1L, 0.9, "zebra"), (1L, 0.9, "apple"), (1L, 0.5, "mid"), (1L, 0.7, "top"),
      // group 2: fewer than k
      (2L, 0.1, "only"))
      .toDF("g", "score", "id")
      .repartition(4) // spread the group across tasks: merge + serialize run
    val out = rows.groupBy($"g")
      .agg(expr("graft_topk_str(score, id, 3)").as("nn"))
      .select($"g", posexplode($"nn").as(Seq("pos", "nn")))
      .select($"g", $"pos", $"nn.id", $"nn.score")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (1L, 0, "apple", 0.9), (1L, 1, "zebra", 0.9), (1L, 2, "top", 0.7),
      (2L, 0, "only", 0.1)))
  }

  test("graft_topk_str matches the row_number window form on real tokens " +
       "(ties included) and survives buffer-reuse of UTF8String inputs") {
    import org.apache.spark.sql.expressions.Window
    // token counts from the documents table: many ties at small counts,
    // parquet string columns exercise the UTF8String clone-on-buffer path
    val toks = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).cast("double").as("score"))
    val agg = toks.groupBy(col("lang"))
      .agg(expr("graft_topk_str(score, token, 5)").as("nn"))
      .select(col("lang"), posexplode(col("nn")).as(Seq("pos", "x")))
      .select(col("lang"), col("pos"), col("x.id"), col("x.score"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("token"))
    val win = toks.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("lang"), (col("rn") - 1).as("pos"), col("token"), col("score"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet
    assert(agg == win)
  }

  test("graft_topk_str ranks NaN first, merges -0.0/0.0, skips nulls, " +
       "and rejects bad k / non-string ids at analysis") {
    val rows = Seq(
      (1L, Double.NaN, "nan"), (1L, 1.0, "one"), (1L, -0.0, "negzero"),
      (1L, 0.0, "poszero"))
      .toDF("g", "score", "id")
      .unionByName(Seq((1L, null.asInstanceOf[java.lang.Double], "nullsco"))
        .toDF("g", "score", "id"))
    val out = rows.groupBy($"g")
      .agg(expr("graft_topk_str(score, id, 4)").as("nn"))
      .select(posexplode($"nn").as(Seq("pos", "x")))
      .select($"x.id").as[String].collect().toSeq
    // NaN ranks greatest (Spark sort order); -0.0 ties 0.0 → id asc
    assert(out == Seq("nan", "one", "negzero", "poszero"))
    val df = Seq((1L, 0.5, 2L)).toDF("g", "s", "i")
    intercept[Exception] {
      df.groupBy($"g").agg(expr("graft_topk_str(s, i, 3)")).collect() // id not string
    }
    intercept[Exception] {
      Seq((1L, 0.5, "x")).toDF("g", "s", "i").groupBy($"g")
        .agg(expr("graft_topk_str(s, i, 0)")).collect()
    }
  }

  // --- graft_freq (Misra–Gries heavy hitters) ---------------------------

  /** Planted-skew corpus: 3 hitters at ~heavyEach rows each over a sea of
    * distinct noise keys — distinct count ≫ k, so the MG decrement path
    * and the merge-time (k+1)-th-largest prune both actually run.
    */
  private def skewed(noise: Int, heavyEach: Int) = {
    val rows =
      (1 to noise).map(i => s"noise-$i") ++
      Seq("alpha", "beta", "gamma").flatMap(h => Seq.fill(heavyEach)(h))
    rows.toDF("item").repartition(8) // spread hitters: merge + serde run
  }

  test("graft_freq surfaces planted hitters within the n/(k+1) bound " +
       "under saturation (distinct >> k) and partial merge") {
    val n = 5000 + 3 * 1000
    val out = skewed(5000, 1000)
      .agg(expr("graft_freq(item, 16)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size <= 16, s"summary exceeded k: ${out.size}")
    for (h <- Seq("alpha", "beta", "gamma")) {
      assert(out.contains(h), s"hitter $h missing from $out")
      val est = out(h)
      assert(est <= 1000 && est >= 1000 - n / 17.0,
        s"$h est $est outside [n - n/(k+1), n] bound")
    }
  }

  test("graft_freq with no saturation is exact, sorted est desc / item asc") {
    val out = Seq("b", "a", "b", "c", "b", "a")
      .toDF("item").repartition(3)
      .agg(expr("graft_freq(item, 16)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("b", 3L), ("a", 2L), ("c", 1L)))
  }

  test("graft_freq on bigint items; nulls skipped; deterministic re-run") {
    // single partition: update order is row order, so the full sequence is
    // deterministic (multi-partition est values depend on merge ARRIVAL
    // order — only the presence/error BOUNDS are stable there, which is
    // why heavy_hitters' registry envelope reports exact counts + hh_ok,
    // never raw ests)
    val df = (Seq.fill(50)(Some(7L)) ++ (1L to 40L).map(Some(_)) ++
      Seq(None, None))
      .toDF("item").coalesce(1)
    def run() = df.agg(expr("graft_freq(item, 8)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val a = run()
    assert(a.head._1 == 7L, s"dominant key not ranked first: $a")
    assert(a == run(), "graft_freq output not deterministic across runs")
  }

  test("graft_freq rejects bad k and types at analysis") {
    val df = Seq(("x", 1.0)).toDF("item", "d")
    intercept[Exception] {
      df.agg(expr("graft_freq(item, 0)")).collect()
    }
    intercept[Exception] {
      df.agg(expr("graft_freq(d, 8)")).collect() // double items unsupported
    }
  }
}
