package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one parquet reader every single-path library read goes through, plus
  * explicit StructTypes for the reference `training` keyspace
  * (reference: lab/init-scripts/01-create-schema.cql:11-53). The engine is
  * schema-declared, mirroring CDM's requirement that schemas be known on
  * both sides (reference: docs/04-cdm-approach.md:19).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `spark.read.parquet(path)` without its schema-inference Spark job.
    * Spark's inference (no `mergeSchema`) reads ONE footer, but it does so
    * in a one-task job: pure per-job fixed cost on every re-read of a
    * store written a moment earlier (the ANN cell store on every search).
    * This reads that same footer on the driver and hands Spark the schema,
    * so the scan is planned with no job; partition columns are still
    * inferred by Spark from the directory names, and column pruning and
    * predicate/partition pushdown are unchanged (Catalyst's file scan, the
    * Spark-native analog of CDM's token-range full-table scan,
    * reference: docs/04-cdm-approach.md:280-285).
    *
    * The footer is the one Spark's inference would touch: `_common_metadata`,
    * else `_metadata` (looked up at the root, where parquet writes them),
    * else the first data file in full-path order, hidden names skipped as
    * the file index skips them. The walk lists one directory per level
    * (more only past empty ones), not the whole tree. The schema is the
    * footer's Spark row metadata when present, else the footer converted
    * under the session's parquet confs (`binaryAsString`,
    * `int96AsTimestamp`, NTZ inference) — Spark's own `readSchemaFromFooter`.
    *
    * Every other case is `spark.read.parquet(path)` unchanged, so errors
    * and edge cases stay Spark's: `mergeSchema` on, a glob path, no data
    * file, a data column that is also a partition directory name, and any
    * failure on the driver path (a missing path, a corrupt footer, the
    * TIMESTAMP(NANOS) rejection).
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark's no-merge inference would read for `path`, or None
    * where [[parquet]] leaves the read to Spark.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    if (state.conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
    else scala.util.Try {
      val hadoopConf = state.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf)
      footerFile(fs, fs.getFileStatus(root)).flatMap { case (file, partCols) =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, meta), new ParquetToSparkSchemaConverter(state.conf))
        // a column stored in the files AND named by a partition directory
        // takes the data schema's position in Spark's inferred schema but
        // the end in a user-schema read: leave that layout to Spark
        val resolver = state.conf.resolver
        if (schema.exists(f => partCols.exists(resolver(_, f.name)))) None
        else Some(schema)
      }
    }.toOption.flatten
  }

  /** The summary file, else the first data file in full-path order, under
    * `root`, with the partition column names on the way to it.
    */
  private def footerFile(fs: FileSystem, root: FileStatus)
      : Option[(FileStatus, Seq[String])] =
    if (!root.isDirectory) Some((root, Nil))
    else {
      val top = fs.listStatus(root.getPath)
      SummaryFiles
        .flatMap(n => top.find(c => c.isFile && c.getPath.getName == n))
        .headOption.map((_, Seq.empty[String]))
        .orElse(firstDataFile(fs, top, Nil))
    }

  /** Depth-first in full-path order: children sort by name, a directory's
    * name with its "/" (so `cid=1/…` sorts after `cid=1.5/…`, as the full
    * paths do), and the walk stops at the first data file.
    */
  private def firstDataFile(fs: FileSystem, children: Array[FileStatus],
                            partCols: Seq[String]): Option[(FileStatus, Seq[String])] =
    children.filterNot(c => hiddenName(c.getPath.getName))
      .sortBy(c => if (c.isDirectory) c.getPath.getName + "/" else c.getPath.getName)
      .iterator.flatMap { c =>
        val name = c.getPath.getName
        if (c.isDirectory) {
          val cols =
            if (!name.contains("=")) partCols
            else partCols :+ ExternalCatalogUtils.unescapePathName(name.takeWhile(_ != '='))
          firstDataFile(fs, fs.listStatus(c.getPath), cols)
        } else if (SummaryFiles.contains(name)) None
        else Some((c, partCols))
      }.nextOption()

  /** The file index's hidden-name rule (`_`/`.` prefixes, `._COPYING_`
    * suffix), which keeps partition directories and summary files.
    */
  private def hiddenName(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !SummaryFiles.exists(name.startsWith)

  /** Parquet summary files, in the order inference prefers them. */
  private val SummaryFiles = Seq("_common_metadata", "_metadata")

  import org.apache.spark.sql.types._

  /** training.users (reference: lab/init-scripts/01-create-schema.cql:11-21) */
  val usersSchema: StructType = StructType(Seq(
    StructField("user_id", StringType, nullable = false),
    StructField("username", StringType),
    StructField("email", StringType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType),
    StructField("status", StringType),
    StructField("preferences", MapType(StringType, StringType))))

  /** training.orders (reference: lab/init-scripts/01-create-schema.cql:24-32) */
  val trainingOrdersSchema: StructType = StructType(Seq(
    StructField("order_id", StringType, nullable = false),
    StructField("user_id", StringType),
    StructField("order_date", TimestampType),
    StructField("total_amount", DecimalType(12, 2)),
    StructField("status", StringType),
    StructField("items", ArrayType(StringType)),
    StructField("shipping_address", StringType)))

  /** training.products (reference: lab/init-scripts/01-create-schema.cql:35-43) */
  val productsSchema: StructType = StructType(Seq(
    StructField("product_id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("price", DecimalType(12, 2)),
    StructField("category", StringType),
    StructField("stock_quantity", IntegerType),
    StructField("created_at", TimestampType)))

  /** training.user_activity — time-series table with composite partition key
    * and DESC clustering (reference: lab/init-scripts/01-create-schema.cql:46-53).
    */
  val userActivitySchema: StructType = StructType(Seq(
    StructField("user_id", StringType, nullable = false),
    StructField("activity_date", DateType, nullable = false),
    StructField("activity_time", TimestampType, nullable = false),
    StructField("activity_type", StringType),
    StructField("details", StringType)))
}
