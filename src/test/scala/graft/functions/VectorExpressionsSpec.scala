package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._
  // The suite session is vanilla (no spark.sql.extensions): its graft_*
  // functions come from the GraftExtensions provider alone.

  test("graft_dot matches the HOF formulation bit-for-bit") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("embedding").as("a"),
        reverse(col("embedding")).as("b"))
    val cmp = e.select(
      expr("graft_dot(a, b)").as("native"),
      expr("""aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)),
              cast(0.0 as double), (acc, v) -> acc + v)""").as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_dot on tinyint code arrays matches the HOF formulation bit-for-bit") {
    // the int8 ANN approx stage runs graft_dot over (codes, float query)
    // and (codes, codes) — byte elements must promote exactly as the
    // interpreted lambda formulation promotes them
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("embedding"),
        expr("transform(embedding, x -> cast(floor(x * 50.0d + 0.5d) as tinyint))").as("codes"))
    val cmp = e.select(
      expr("graft_dot(codes, embedding)").as("mixed_native"),
      expr("""aggregate(zip_with(codes, embedding, (c, v) -> c * cast(v as double)),
              cast(0.0 as double), (acc, x) -> acc + x)""").as("mixed_hof"),
      expr("graft_dot(codes, codes)").as("self_native"),
      expr("""aggregate(codes, cast(0.0 as double),
              (acc, c) -> acc + cast(c as double) * cast(c as double))""").as("self_hof"))
    assert(cmp.filter(col("mixed_native") =!= col("mixed_hof") ||
      col("self_native") =!= col("self_hof")).count() == 0)
  }

  test("graft_dot handles empty arrays and nulls") {
    val df = Seq(
      (Seq.empty[Float], Seq.empty[Float]),
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    val out = df.select(expr("graft_dot(a, b)").as("d")).collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(0.0, 11.0))
    val withNull = df.withColumn("a", when(size(col("a")) === 0, lit(null)).otherwise(col("a")))
    val nulls = withNull.select(expr("graft_dot(a, b)").as("d")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("graft_dot degenerate cases match the HOF formulation: mismatch + null elems") {
    val hof = """aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)),
                 cast(0.0 as double), (acc, v) -> acc + v)"""
    // length mismatch: zip_with pads with null -> sum nulls out
    val mism = Seq((Seq(1.0f, 2.0f), Seq(3.0f))).toDF("a", "b")
      .select(expr("graft_dot(a, b)").as("native"), expr(hof).as("hof")).collect().head
    assert(mism.isNullAt(0) && mism.isNullAt(1))
    // null element on one side -> null, like the HOF form
    val withNullElem = Seq((Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](3.0f, 4.0f)))
      .toDF("a", "b")
      .select(expr("graft_dot(a, b)").as("native"), expr(hof).as("hof")).collect().head
    assert(withNullElem.isNullAt(0) && withNullElem.isNullAt(1))
  }

  test("graft_hash_array: null elements hash to null, like the transform form") {
    val df = Seq(Seq[String]("abc", null, "xyz")).toDF("arr")
    val cmp = df.select(
      expr("graft_hash_array(arr, ':fp', 15)").as("native"),
      expr("transform(arr, s -> cast(conv(substr(md5(concat(s, ':fp')), 1, 15), 16, 10) as bigint))").as("sql"))
      .collect().head
    assert(cmp.getSeq[Any](0) == cmp.getSeq[Any](1))
    assert(cmp.getSeq[Any](0)(1) == null)
  }

  test("graft_hash_array rejects out-of-range nibbles at analysis time") {
    val df = Seq(Seq("a")).toDF("arr")
    for (bad <- Seq("0", "16", "33")) {
      val e = intercept[Exception] {
        df.select(expr(s"graft_hash_array(arr, '', $bad)")).collect()
      }
      assert(e.getMessage.contains("nibbles"), s"nibbles=$bad: ${e.getMessage.take(120)}")
    }
  }

  test("graft_hash_array matches the SQL md5/conv formulation, incl. unicode") {
    val df = Seq(Seq("abc", "", "héllo wörld", "a|b:c", "x")).toDF("arr")
    val cmp = df.select(
      expr("graft_hash_array(arr, ':fp', 15)").as("native"),
      expr("transform(arr, s -> cast(conv(substr(md5(concat(s, ':fp')), 1, 15), 16, 10) as bigint))").as("sql"))
      .collect().head
    assert(cmp.getSeq[Long](0) == cmp.getSeq[Long](1))
  }

  test("graft_hash_array: empty array and null array") {
    val df = Seq((1, Seq.empty[String]), (2, null.asInstanceOf[Seq[String]]))
      .toDF("id", "arr")
    val out = df.select(col("id"), expr("graft_hash_array(arr, '', 8)").as("h"))
      .orderBy("id").collect()
    assert(out(0).getSeq[Long](1).isEmpty)
    assert(out(1).isNullAt(1))
  }

  test("a new session of the vanilla suite session resolves every graft function, " +
       "with no ensure call") {
    val fresh = spark.newSession()
    val registry = fresh.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val missing = GraftFunctions.all.collect {
      case (ident, _, _) if !registry.functionExists(ident) => ident.funcName
    }
    assert(missing.isEmpty, s"unresolved in a new session: ${missing.mkString(", ")}")
    val out = fresh.sql("select graft_dot(array(2.0d, 3.0d), array(4.0d, 5.0d)) as d")
      .collect()
    assert(out.head.getDouble(0) == 23.0)
  }

  test("GraftFunctions.ensure self-heals a session without the extensions conf") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    // simulate the external-driver session: functions absent
    GraftFunctions.all.foreach { case (ident, _, _) => registry.dropFunction(ident) }
    assert(!registry.functionExists(FunctionIdentifier("graft_dot")))
    intercept[Exception] {
      Seq((Seq(1.0f), Seq(1.0f))).toDF("a", "b")
        .select(expr("graft_dot(a, b)")).collect()
    }
    GraftFunctions.ensure(spark)
    val out = Seq((Seq(2.0f, 3.0f), Seq(4.0f, 5.0f))).toDF("a", "b")
      .select(expr("graft_dot(a, b)").as("d")).collect()
    assert(out.head.getDouble(0) == 23.0)
    assert(registry.functionExists(FunctionIdentifier("graft_hash_array")))
  }

  test("graft_dot participates in whole-stage codegen") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(expr("graft_dot(embedding, embedding)").as("d"))
    // the `*(n)` prefix marks operators inside a WholeStageCodegen span
    val plan = e.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_dot""".r.findFirstIn(plan).isDefined,
      s"expected graft_dot inside a codegen span (*(n) prefix):\n$plan")
  }
  test("graft_lsh_sig is bit-identical to the HOF reference form (fixtures + edges)") {
    import graft.ext.LlmOps
    // the real fixtures: every signature must match exactly
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val both = LlmOps.withLshSigHof(emb)
      .withColumnRenamed("lsh_sig", "hof_sig")
      .withColumn("native_sig", expr("graft_lsh_sig(embedding)"))
      .select(col("vec_id"), col("hof_sig"), col("native_sig"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"vec_id ${r.get(0)}: hof ${r.getLong(1)} != native ${r.getLong(2)}")
    }
    // adversarial shapes: empty, shorter than 64 dims, longer than 64 dims,
    // null element, all-zero, negatives — the SQL-null-propagation corners
    // documented on LshOps.sigOf
    val edges = Seq(
      Array.empty[java.lang.Float],
      Array[java.lang.Float](1.0f, -2.0f, 3.0f),
      Array.tabulate[java.lang.Float](70)(i => (i - 35).toFloat / 7f),
      Array[java.lang.Float](1.0f, null, 3.0f),
      Array.fill[java.lang.Float](64)(0.0f),
      Array.tabulate[java.lang.Float](64)(i => -(i + 1).toFloat))
    val edgeDf = edges.zipWithIndex
      .map { case (a, i) => (i.toLong, a.map(Option(_).map(_.floatValue))) }
      .toDF("vec_id", "embedding")
    val eout = LlmOps.withLshSigHof(edgeDf)
      .withColumnRenamed("lsh_sig", "hof_sig")
      .withColumn("native_sig", expr("graft_lsh_sig(embedding)"))
      .select(col("vec_id"), col("hof_sig"), col("native_sig"))
      .collect()
    eout.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2) &&
        (r.isNullAt(1) || r.getLong(1) == r.getLong(2)),
        s"edge ${r.get(0)}: hof ${r.get(1)} != native ${r.get(2)}")
    }
    // null INPUT → null out, both forms
    val nullRow = spark.sql("select cast(null as array<float>) as embedding")
    assert(nullRow.select(expr("graft_lsh_sig(embedding)")).collect().head.isNullAt(0))
  }

  test("graft_lsh_sig participates in whole-stage codegen") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(expr("graft_lsh_sig(embedding)").as("s"))
    val plan = e.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_lsh_sig""".r.findFirstIn(plan).isDefined,
      s"expected graft_lsh_sig inside a codegen span:\n$plan")
  }

  test("graft_lsh_sig_any: bit-identical to graft_lsh_sig at 64 dims, live at any width") {
    // 64-dim fixtures: the generalized planes' word 0 IS planeMasks, so
    // the two forms must agree on every vector
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
      .select(expr("graft_lsh_sig(embedding)").as("pinned"),
        expr("graft_lsh_sig_any(embedding)").as("any"))
    assert(emb.filter(col("pinned") =!= col("any")).count() == 0L)
    // 32-dim spread vectors: the pinned form degenerates to sig 0 (every
    // plane touches a missing dim); the generalized form must separate them
    def fuzz(i: Long, j: Int): Float = {
      val s = math.sin(i * 12.9898 + j * 78.233) * 43758.5453
      ((s - math.floor(s)) * 2 - 1).toFloat
    }
    val short = (1L to 50L).map(i => (i, Seq.tabulate(32)(fuzz(i, _))))
      .toDF("vec_id", "embedding")
      .select(expr("graft_lsh_sig(embedding)").as("pinned"),
        expr("graft_lsh_sig_any(embedding)").as("any"))
      .collect()
    assert(short.forall(_.getLong(0) == 0L), "the 64-dim form should degenerate here")
    assert(short.map(_.getLong(1)).distinct.length > 10,
      "the generalized form must produce varied signatures at 32 dims")
    // >64 dims: dims past 64 must influence the generalized signature
    val long1 = Seq((1L, Seq.tabulate(128)(fuzz(1L, _)))).toDF("vec_id", "embedding")
    val long2 = Seq((1L, Seq.tabulate(128)(j => if (j < 64) fuzz(1L, j) else -fuzz(1L, j))))
      .toDF("vec_id", "embedding")
    val s1 = long1.select(expr("graft_lsh_sig_any(embedding)")).collect()(0).getLong(0)
    val s2 = long2.select(expr("graft_lsh_sig_any(embedding)")).collect()(0).getLong(0)
    assert(s1 != s2, "dims beyond 64 must reach the generalized planes")
  }

  test("graft_dhash: hand-computed bits, degenerate inputs, swap locality") {
    // bit i set ⇔ x[i] > x[i+1]: [3,1,2,2] → bit0 (3>1) only
    def h(xs: Seq[Float]): Long =
      Seq(xs).toDF("g").select(expr("graft_dhash(g)")).collect()(0).getLong(0)
    assert(h(Seq(3f, 1f, 2f, 2f)) == 1L)
    assert(h(Seq(1f, 2f, 3f)) == 0L) // monotone ascending → no bits
    assert(h(Seq(3f, 2f, 1f)) == 3L) // descending → all comparison bits
    assert(h(Seq.empty) == 0L && h(Seq(5f)) == 0L)
    // 64 values → 63 comparisons; bit 63 structurally zero → non-negative
    val desc64 = Seq.tabulate(64)(i => (64 - i).toFloat)
    assert(h(desc64) == Long.MaxValue) // bits 0..62 all set = 2^63 - 1
    assert(h(desc64) >= 0)
    // values past index 63 are ignored (first-64 cap)
    assert(h(desc64 ++ Seq(100f, 0f)) == h(desc64))
    // double input agrees with float input on exactly-representable values
    val asD = Seq(Seq(3.0, 1.0, 2.0, 2.0)).toDF("g")
      .select(expr("graft_dhash(g)")).collect()(0).getLong(0)
    assert(asD == 1L)
    // null element → its comparison bits are 0 (oracle CASE semantics)
    val withNull = Seq(1).toDF("x")
      .select(expr("""graft_dhash(array(cast(3.0 as float), cast(null as float),
                                        cast(1.0 as float), cast(0.5 as float)))"""))
      .collect()(0).getLong(0)
    assert(withNull == 4L) // only bit2 (1 > 0.5); bits 0,1 touch the null
    // the planted-image edit: swapping two adjacent pixels moves hamming ≤ 2
    val grid = Seq.tabulate(64)(i => math.sin(i * 1.7).toFloat)
    val swapped = grid.updated(0, grid(1)).updated(1, grid(0))
    assert(java.lang.Long.bitCount(h(grid) ^ h(swapped)) <= 2)
  }

  test("graft_dhash participates in whole-stage codegen") {
    val df = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(expr("graft_dhash(embedding)").as("p"))
    // the `*(n)` prefix marks operators inside a WholeStageCodegen span
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_dhash""".r.findFirstIn(plan).isDefined,
      s"expected graft_dhash inside a codegen span (*(n) prefix):\n$plan")
    assert(df.filter(col("p") < 0).count() == 0L, "dhash must be non-negative")
  }
}
