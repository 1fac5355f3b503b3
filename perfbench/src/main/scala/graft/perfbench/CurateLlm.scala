package graft.perfbench

import graft.ext.LlmOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The LLM curation pipeline over one corpus: distributed star clustering
  * of seeded candidate pairs, then an ANN index built and appended, and
  * seeded point searches against it.
  */
final class CurateLlm(tier: String) extends Workload {
  import CurateLlm._

  private var docsPath, pairsPath, queriesPath = ""
  private var nDocs, nVecs = 0L
  private var nQueries = 0
  private var clusters = Map.empty[Long, Long]
  private var truth = Map.empty[Long, Seq[Long]]

  private def embeddings(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$tier/embeddings.parquet")

  def prepare(spark: SparkSession, seed: Long, dir: String): Seq[String] = {
    docsPath = s"$dir/documents_dups.parquet"
    pairsPath = s"$dir/pairs.parquet"
    queriesPath = s"$dir/queries.parquet"
    clusters = Workload.readTsv(s"$dir/clusters.tsv").map { case Array(d, c) =>
      d.toLong -> c.toLong }.toMap
    truth = Workload.readTsv(s"$dir/truth.tsv").map(l => l.head.toLong -> l.tail.map(_.toLong).toSeq).toMap
    val sizes = Workload.readTsv(s"$dir/sizes.tsv").map { case Array(k, v) => k -> v.toLong }.toMap
    nDocs = sizes("docs"); nVecs = sizes("vecs"); nQueries = sizes("queries").toInt
    Seq(docsPath, pairsPath, queriesPath, s"$tier/embeddings.parquet")
  }

  def round(r: Runner, out: String): Unit = {
    val spark = r.spark
    val docs = spark.read.parquet(docsPath)
    r.call("ext", "distributedClustersStar", nDocs) {
      LlmOps.distributedClustersStar(docs.select(col("doc_id")), "doc_id",
        spark.read.parquet(pairsPath)).collect()
    } { rows =>
      val got = rows.map(x => x.getLong(0) -> x.getLong(1)).toMap
      // the self-check moves one document out of its cluster
      val corrupt = if (r.corruptNow()) clusters.keys.headOption.toSet else Set.empty[Long]
      val wrong = clusters.count { case (d, c) => corrupt(d) || !got.get(d).contains(c) }
      Checks.all(
        Checks.expect("clustered docs", got.size.toLong, nDocs),
        Checks.expect("docs outside their connected component's cluster", wrong, 0))
    }

    val emb = embeddings(spark)
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val centPath = s"$out/ann_cent"
    val store = s"$out/ann_store"
    r.call("ext", "writeAnnIndex", nVecs) {
      LlmOps.writeAnnIndex(base, centPath, cHint = Some(Cells), iters = 2)
    } { _ => None }
    var cents: DataFrame = null
    r.call("ext", "writeAnnAssignments", nVecs) {
      cents = LlmOps.readAnnIndex(spark, centPath)
      LlmOps.writeAnnAssignments(base, cents, store)
    } { _ => None }
    r.call("ext", "appendAnnAssignments", nVecs) {
      LlmOps.appendAnnAssignments(delta, cents, store)
    } { _ => None }

    val queries = spark.read.parquet(queriesPath)
    var hits = 0
    (0 until nQueries).foreach { q =>
      r.call("ext", "annAssignedSearch", nVecs) {
        LlmOps.annAssignedSearch(spark, store, cents,
          queries.filter(col("vec_id") === q), nprobe = Probes, k = K)
          .collect().map(_.getLong(0)).toSeq
      } { got =>
        hits += got.count(truth(q.toLong).toSet)
        val recall = hits.toDouble / (K * (q + 1))
        Checks.all(Checks.expect(s"query $q hits", got.size, K),
          if (q < nQueries - 1 || recall >= RecallBound) None
          else Some(f"mean recall@$K $recall%.2f below $RecallBound"))
      }
    }
  }

  /** One operation is a single-query search. */
  def ops(calls: Seq[Call]): Seq[Seq[Call]] =
    calls.filter(_.fn == "annAssignedSearch").map(Seq(_))
}

object CurateLlm {
  val K = 10
  val Cells = 4
  val Probes = 2
  /** Lowest acceptable mean recall@10 of a round's IVF searches against
    * the exact cosine top-10 prep.py computes.
    */
  val RecallBound = 0.6

  val fns: Seq[(String, String)] = Seq(
    "distributedClustersStar", "writeAnnIndex",
    "writeAnnAssignments", "appendAnnAssignments", "annAssignedSearch").map("ext" -> _)
}
