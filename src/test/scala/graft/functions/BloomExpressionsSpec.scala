package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.SparkSpec
import graft.ext.LlmOps

class BloomExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  test("graft_might_contain: no false negatives, some true negatives") {
    val members = (0 until 1000).map(i => s"gram-$i")
    val bf = BloomFilter.create(members.size, 0.01)
    members.foreach(m => bf.putBinary(m.getBytes(UTF_8)))
    val probes = (members ++ (0 until 1000).map(i => s"absent-$i")).toDF("g")
    val hits = probes
      .withColumn("hit", call_function("graft_might_contain",
        lit(serialize(bf)), col("g")))
    // every inserted member must probe true (blooms cannot false-negative)
    assert(hits.filter(col("g").startsWith("gram-") && !col("hit")).count() == 0)
    // at fpp=0.01 the 1000 non-members should overwhelmingly probe false;
    // 100 misses (10%) would mean the UTF-8 put/probe sides disagree
    val fp = hits.filter(col("g").startsWith("absent-") && col("hit")).count()
    assert(fp < 100, s"false-positive count $fp out of 1000 at fpp=0.01")
  }

  test("graft_might_contain agrees between codegen and interpreted eval") {
    val bf = BloomFilter.create(100, 0.03)
    (0 until 100).foreach(i => bf.putBinary(s"k$i".getBytes(UTF_8)))
    val bytes = serialize(bf)
    val df = (0 until 200).map(i => s"k$i").toDF("g")
    val expected = {
      val probe = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
      (0 until 200).count(i => probe.mightContainBinary(s"k$i".getBytes(UTF_8)))
    }
    val viaSpark = df.filter(call_function("graft_might_contain",
      lit(bytes), col("g"))).count()
    assert(viaSpark == expected)
  }

  test("graft_might_contain probes longs via mightContainLong") {
    val bf = BloomFilter.create(100, 0.01)
    (0L until 100L).foreach(bf.putLong)
    val df = (0L until 1000L).toDF("v")
    val hits = df.filter(call_function("graft_might_contain",
      lit(serialize(bf)), col("v")))
    assert(hits.filter(col("v") < 100).count() == 100)
    assert(hits.count() < 200)
  }

  test("graft_might_contain rejects a non-foldable bloom argument") {
    val df = Seq(("a".getBytes(UTF_8), "a")).toDF("b", "g")
    val err = intercept[Exception] {
      df.select(call_function("graft_might_contain", col("b"), col("g"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("foldable") ||
      err.getMessage.toLowerCase.contains("literal"))
  }

  test("decontaminateBloom is bit-identical to the exact decontaminate") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      // plant contamination: every 7th corpus doc borrows a benchmark text
      .withColumn("text",
        when(col("doc_id") % 7 === 0, lit("the quick brown fox jumps over the lazy dog"))
          .otherwise(col("text")))
    val benchP = bench.withColumn("text",
      when(col("doc_id") % 30 === 0, lit("the quick brown fox jumps over the lazy dog"))
        .otherwise(col("text")))
    val exact = LlmOps.decontaminate(corpus, benchP, "doc_id", 0.5)
      .orderBy(col("doc_id")).collect()
    val bloomed = LlmOps.decontaminateBloom(corpus, benchP, "doc_id", 0.5)
      .orderBy(col("doc_id")).collect()
    assert(exact.nonEmpty, "fixture must produce at least one contaminated doc")
    assert(bloomed.toSeq == exact.toSeq)
  }

  test("decontaminateBloom at high fpp still exact (verify join kills FPs)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val exact = LlmOps.decontaminate(corpus, bench, "doc_id", 0.5)
      .orderBy(col("doc_id")).collect()
    val sloppy = LlmOps.decontaminateBloom(corpus, bench, "doc_id", 0.5, fpp = 0.3)
      .orderBy(col("doc_id")).collect()
    assert(sloppy.toSeq == exact.toSeq)
  }
}
