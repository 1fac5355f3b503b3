package graft.perfbench

import graft.migrate._
import graft.queries.Common
import graft.sources.{GraftBatchSink, GraftRangeSource}
import graft.validate.Diff
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The paper's migration path: migrate the unique-PK tables, run one
  * connector-shaped migration, validate the clean target, classify and
  * sample a seeded defect twin, autocorrect it and validate the result.
  * A registry key on the same tier follows, so the queries layer is
  * measured too.
  */
final class MigrateValidate(tier: String, registry: RegistrySql) extends Workload {
  import MigrateValidate._

  /** Broadcast joins off: the tier is small enough to broadcast, but a real
    * migration's tables are far above any broadcast threshold, so Diff is
    * measured in the sort-merge regime it runs at scale.
    */
  override def conf: Map[String, String] =
    Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private val pk = Common.ordPk
  private val compare = Common.ordCompare
  private val tables = Seq("orders" -> "o_orderkey", "customer" -> "c_custkey")
  private var twinPath = ""
  private var sourceRows = Map.empty[String, Long]
  private var expMissing, expMismatch, expSampleMissing, expSampleMismatch = 0L
  private var twinRows = 0L
  private var sourceBytes = 0L

  private def src(spark: SparkSession, t: String): DataFrame =
    spark.read.parquet(s"$tier/$t.parquet")

  def prepare(spark: SparkSession, seed: Long, dir: String): Seq[String] = {
    val e = Workload.readTsv(s"$dir/expect.tsv").map { case Array(k, v) => k -> v.toLong }.toMap
    sourceRows = tables.map { case (t, _) => t -> e(s"rows_$t") }.toMap
    expMissing = e("missing"); expMismatch = e("mismatch")
    expSampleMissing = e("sample_missing"); expSampleMismatch = e("sample_mismatch")
    twinRows = e("twin_rows")
    twinPath = s"$dir/orders_twin.parquet"
    sourceBytes = tables.map { case (t, _) =>
      val p = new org.apache.hadoop.fs.Path(s"$tier/$t.parquet")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    }.sum
    tables.map { case (t, _) => s"$tier/$t.parquet" } ++ Seq(twinPath) ++ registry.prepare(seed)
  }

  def round(r: Runner, out: String): Unit = {
    val spark = r.spark
    val nOrd = sourceRows("orders")
    val migrations = tables.map { case (t, key) =>
      MigrateJob.TableMigration(t, ParquetSource(s"$tier/$t.parquet"),
        ParquetBucketSink(s"$out/migrated/$t"),
        MigrateJob.Config(pkCols = Seq(key), tokenBuckets = 8))
    }
    r.call("migrate", "migrateAll", sourceRows.values.sum, sourceBytes) {
      MigrateJob.migrateAll(spark, migrations)
    } { outcomes =>
      Checks.all(outcomes.filter(_.status != "done").map(o =>
        Some(s"${o.table_name} ${o.status}: ${o.error.getOrElse("")}")) ++
        outcomes.map(o => Checks.expect(s"${o.table_name} migrated", o.migrated,
          sourceRows(o.table_name))): _*)
    }
    if (r.corruptNow()) {
      // damage the migrated target: drop one bucket's files
      Workload.delete(spark, s"$out/migrated/orders/bucket=0")
    }

    val origin = src(spark, "orders")
    val migrated = spark.read.parquet(s"$out/migrated/orders")
    r.call("validate", "report", 2 * nOrd) {
      Diff.report(origin, migrated, pk, compare).collect()
    } { rows =>
      Checks.expect("clean target report", statusCounts(rows), Map("valid" -> nOrd))
    }

    val base = s"$out/connector"
    val sink = GraftBatchTarget(base, pkCol = "pk", batchSize = 5, runPrefix = "perfbench",
      sumCol = "wt", sumOffset = GraftRangeSource.WriteTimeBase)
    val cfg = MigrateJob.Config(
      pkCols = Seq("id"), tokenBuckets = 8,
      minWritetime = Some(GraftRangeSource.wtOf(ConnectorFloor)),
      writetimeCol = Some("wt"), writetimeIncrementBy = 1000L,
      columnsToExclude = Seq("payload"),
      transformerClass = Some(classOf[TargetKeyTransformer].getName))
    val passing = ConnectorRows - ConnectorFloor
    r.call("migrate", "run", passing) {
      MigrateJob.run(spark, GraftRangeOrigin(ConnectorRows, 8), sink, cfg)
    } { res =>
      val waves = sink.waveResults(Seq(0 to 7))
      Checks.all(
        Checks.expect("connector migrated", res.migrated, passing),
        Checks.expect("connector committed", waves.nonEmpty && waves.forall(w =>
          w.committed && !w.aborted), true),
        Checks.expect("connector written", waves.flatMap(_.tasks).map(_.written).sum, passing))
    }
    GraftBatchSink.clear("perfbench_w0")

    val twin = spark.read.parquet(twinPath)
    r.call("validate", "classifyByHash", nOrd + twinRows) {
      Diff.classifyByHash(origin, twin, pk, compare)
        .groupBy(col(Diff.StatusCol)).count().collect()
    } { rows =>
      Checks.expect("twin classes", statusCounts(rows), Map(
        "valid" -> (nOrd - expMissing - expMismatch),
        "missing" -> expMissing, "mismatch" -> expMismatch).filter(_._2 > 0))
    }

    r.call("validate", "validateSample", SampleRows + twinRows) {
      Diff.validateSample(origin, twin, pk, compare, SampleRows).head()
    } { row =>
      val (sampled, found, missing, mismatched) =
        (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      Checks.all(
        Checks.expect("found + missing", found + missing, sampled),
        Checks.expect("sampled", sampled, SampleRows.toLong),
        Checks.expect("sample missing", missing, expSampleMissing),
        Checks.expect("sample mismatched", mismatched, expSampleMismatch))
    }

    // origin rows carry a newer writetime than the twin, so origin wins
    val originWt = origin.withColumn("wt", lit(2L))
    r.call("validate", "autocorrect", nOrd + twinRows) {
      Diff.autocorrect(originWt, twin, pk, compare, "wt")
        .write.mode("overwrite").parquet(s"$out/corrected")
    } { _ =>
      // from the written files' footers, without a Spark job: every origin
      // row is back and no nulled priority survived
      val (rows, nulls) = footerCounts(spark, s"$out/corrected", "o_orderpriority")
      Checks.all(Checks.expect("corrected rows", rows, nOrd),
        Checks.expect("corrected null priorities", nulls, 0L))
    }
    registry.round(r)
  }

  /** Row count and one column's null count summed over a parquet dir's
    * footers.
    */
  private def footerCounts(spark: SparkSession, dir: String, column: String): (Long, Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val files = p.getFileSystem(conf).listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        (blocks.map(_.getRowCount).sum, blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == column).map(_.getStatistics.getNumNulls).sum)
      } finally reader.close()
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  private def statusCounts(rows: Array[org.apache.spark.sql.Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  /** One operation is a round's validation pass: every Diff call of it. */
  def ops(calls: Seq[Call]): Seq[Seq[Call]] =
    calls.filter(_.layer == "validate").groupBy(_.round).values.toSeq
}

object MigrateValidate {
  val SampleRows = 1000 // as in prep.py
  val ConnectorRows = 300000L
  val ConnectorFloor = 100000L

  val fns: Seq[(String, String)] = Seq(
    "migrate" -> "migrateAll", "migrate" -> "run",
    "validate" -> "report", "validate" -> "classifyByHash",
    "validate" -> "validateSample", "validate" -> "autocorrect") ++ RegistrySql.fns
}
