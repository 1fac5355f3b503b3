package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs made before the timer, then
  * rounds of calls into graft's public functions.
  */
trait Workload {
  /** Session settings this workload runs under, beyond the common ones. */
  def conf: Map[String, String] = Map.empty

  /** Read this run's seeded inputs from `dir` (written by prep.py) and
    * derive what the checks expect; returns the parquet paths set-up opens
    * once. Runs before set-up is timed.
    */
  def prepare(spark: SparkSession, seed: Long, dir: String): Seq[String]

  /** One round of calls. Outputs go under `out`, which is deleted after the
    * round.
    */
  def round(r: Runner, out: String): Unit

  /** The workload's operations among the warm `calls`, each as its calls. */
  def ops(calls: Seq[Call]): Seq[Seq[Call]]
}

object Workload {
  val layers: Seq[String] = Seq("migrate", "validate", "ext", "queries")

  /** Every `(layer, function)` pair any workload calls: a traced run emits
    * all of them, zero where the workload does not call the function.
    */
  val allFunctions: Seq[(String, String)] =
    MigrateValidate.fns ++ CurateLlm.fns

  def readTsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.nonEmpty).map(_.split("\t")).toList finally src.close()
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
