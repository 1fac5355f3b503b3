package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.ext.LlmOps

/** Dedicated adjudication probe for the two recurring bench movers
  * (r13 VERDICT item 1): `sim_search_pq` and `dedup_clusters`, measured
  * median-of-5 end-to-end IN THE SAME SESSION CONFIG AS graft.Bench,
  * plus per-stage splits (PQ: codebook train / encode / ADC scan+rescore;
  * clusters: shingle build / LSH candidate pairs / union-find collapse)
  * so a future delta pins to a named stage instead of a plan diff.
  * Prints the host calibration constant first — runs with cal > 0.7 are
  * not a quiet window and should be discarded. Dev-only; safe to delete.
  */
object VarianceProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.names.foreach { n =>
      try spark.read.parquet(s"$sfDir/$n.parquet").limit(1).count()
      catch { case _: Throwable => () }
    }

    def sample(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def med5(name: String)(f: => Unit): Seq[Double] = {
      val ts = (1 to 5).map(_ => sample(f))
      val m = ts.sorted.apply(2)
      println(f"[vp] $name%-28s med5=$m%.3f  samples=" +
        ts.map(t => f"$t%.3f").mkString("[", ",", "]"))
      ts
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val cal = med5("cal_scan_full")(
      noop(SparkEntry.queries("scan_full")(spark, sfDir)))
    println(f"[vp] quiet-window check: cal median ${cal.sorted.apply(2)}%.3f" +
      " (discard the run if > 0.7)")

    // ---- sim_search_pq: end-to-end + stages ----
    med5("sim_search_pq e2e")(
      noop(SparkEntry.queries("sim_search_pq")(spark, sfDir)))
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") =!= 0)
    val query = e.filter(col("vec_id") === 0)
    med5("pq stage: train codebooks")(
      LlmOps.pqTrainCodebooks(corpus, m = 4, ks = 4, iters = 2))
    val cbs = LlmOps.pqTrainCodebooks(corpus, m = 4, ks = 4, iters = 2)
    med5("pq stage: encode")(noop(LlmOps.pqEncode(corpus, cbs, m = 4)))
    val codes = LlmOps.pqEncode(corpus, cbs, m = 4)
    med5("pq stage: ADC scan+rescore")(
      noop(LlmOps.pqSearchCodes(codes, corpus, cbs, query, 10, 4, 4, 4)))

    // ---- dedup_clusters: end-to-end + stages ----
    med5("dedup_clusters e2e")(
      noop(SparkEntry.queries("dedup_clusters")(spark, sfDir)))
    // same dup-grown corpus the key builds (LlmQueries.docsWithDups)
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val docs = docs0.unionByName(
      docs0.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          when(col("doc_id") % 20 === 0, concat(col("text"), lit(" tail")))
            .otherwise(col("text")).as("text"),
          col("lang"), col("source"), col("n_chars")))
    med5("clusters stage: shingles") {
      LlmOps.shingleTable(docs, "doc_id").agg(sum(size(col("shingles")))).collect()
    }
    med5("clusters stage: pairs") {
      val pairs = LlmOps.minhashCandidates(docs, "doc_id")
      pairs.agg(count(lit(1))).collect()
      pairs.unpersist()
    }
    med5("clusters stage: collapse") {
      val pairs = LlmOps.minhashCandidates(docs, "doc_id")
      noop(LlmOps.duplicateClusters(docs.select(col("doc_id")), "doc_id",
        pairs))
      pairs.unpersist()
    }
    spark.stop()
  }
}
