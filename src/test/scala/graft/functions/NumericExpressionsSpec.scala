package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class NumericExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_round matches Spark round(x, 6) on real similarity scores") {
    // The exact value class graft_round serves: cosines (dot/norm ratios of
    // float-array dots) and small-integer ratios. Deterministic inputs, so
    // a pass here is a pass always; knife-edge disagreement would need a
    // value within ~1 ulp of an exact half at the 6th decimal.
    val e = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val q = e.orderBy("vec_id").limit(1).select(col("embedding").as("qv"))
    val cos = e.crossJoin(broadcast(q)).select(
      (expr("graft_dot(embedding, qv)") /
        (sqrt(expr("graft_dot(embedding, embedding)")) *
          sqrt(expr("graft_dot(qv, qv)")))).as("x"))
    val cmp = cos.select(
      expr("graft_round(x, 6)").as("fast"), round(col("x"), 6).as("slow"))
    assert(cmp.filter(col("fast") =!= col("slow")).count() == 0)
    // small-integer ratios (the contam_ratio / stop_ratio shape)
    val ratios = (1 to 2000).flatMap(q0 => Seq(1, 3, 7, q0 - 1).filter(_ > 0)
      .map(p => p.toDouble / q0)).toDF("x")
      .select(expr("graft_round(x, 6)").as("fast"), round(col("x"), 6).as("slow"))
    assert(ratios.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("graft_round edge semantics: halves, sign, zero, NaN, infinity, null") {
    val out = Seq(
      0.0000005,   // exact-half decimal: away from zero -> 1e-6
      -0.0000005,  // negative half: away from zero -> -1e-6
      -1e-9,       // tiny negative: rounds to zero, must be POSITIVE 0.0
      0.9999995, -0.9999995,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .toDF("x").select(expr("graft_round(x, 6)").as("r")).collect().map(_.getDouble(0))
    assert(out(0) == 1e-6 && out(1) == -1e-6)
    assert(out(2) == 0.0 && (1.0 / out(2)) > 0, "negative zero must normalize to +0.0")
    assert(out(3) == 1.0 && out(4) == -1.0)
    assert(out(5).isNaN && out(6).isPosInfinity && out(7).isNegInfinity)
    val n = Seq[Option[Double]](None).toDF("x")
      .select(expr("graft_round(x, 6)").as("r")).collect().head
    assert(n.isNullAt(0))
  }

  test("graft_round rejects non-literal scales and non-double inputs") {
    intercept[Exception] {
      Seq((1.0, 6)).toDF("x", "s").select(expr("graft_round(x, s)")).collect()
    }
    intercept[Exception] {
      Seq(1).toDF("x").select(expr("graft_round(x, 6)")).collect()
    }
  }

  test("graft_round stays inside whole-stage codegen") {
    val plan = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(expr("graft_round(graft_dot(embedding, embedding), 6)").as("r"))
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_round""".r.findFirstIn(plan).isDefined,
      s"expected graft_round inside a codegen span:\n$plan")
  }
}
