package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV/JSON export+import round-trips — SURVEY §2.1 S2–S5, the
  * COPY TO/FROM + DSBulk load/unload surface (reference:
  * docs/02-native-tooling.md:303-358, docs/03-dse-tooling.md:24-152,
  * lab/exercises/03-dsbulk-migration.md). Each query WRITES the export to a
  * scratch dir, re-reads it with the declared schema (header-driven mapping,
  * docs/02-native-tooling.md:328-334 — no inference in the core path), and
  * returns the round-tripped rows, so the oracle checks the full
  * export→import cycle against the source table.
  *
  * Dates travel as formatted strings (the COPY DATEFORMAT option,
  * docs/02-native-tooling.md:341); doubles round-trip exactly (Spark writes
  * shortest-round-trip decimal form).
  */
object IoQueries {
  import Common._

  /** Salt-bucket count for `small_files_report`'s controlled fixture
    * write (and the before-layout of `compact_files`): write parallelism
    * per lang. 16 here keeps every closed-form oracle cheap at sf tiers;
    * a 100 TB corpus raises it (tasks scale as lang × buckets).
    */
  val SmallFilesWriteBuckets = 16

  /** `compact_files`' coarse re-bucket count: the rewrite's parallelism
    * per lang at the 1000-row target.
    */
  val CompactWriteBuckets = 4

  /** Explicit shuffle-partition count for the two controlled writes: an
    * explicit `repartition(n, cols…)` is exempt from AQE partition
    * coalescing, which at sf tiers would merge the salted groups back
    * into one task and silently restore the one-task-per-lang shape the
    * salt exists to break. Each (lang, b) group still lands wholly in
    * one task (hash on the full key), so the closed-form file rolls are
    * unchanged; at 100 TB this is the knob you raise with the bucket
    * count.
    */
  val SmallFilesWriteTasks = 32

  private val ordersCsvSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_date", StringType),
    StructField("o_orderpriority", StringType)))

  private def ordersExportable(s: org.apache.spark.sql.SparkSession, d: String) =
    t(s, d, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
      col("o_orderpriority"))

  private val ordersExportableSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority
       FROM orders ORDER BY o_orderkey"""

  val qs: Map[String, Q] = Map(
    // S2 — CSV export (header, '|' delimiter — the COPY option surface),
    // re-read with the declared schema
    "export_csv" -> ((s, d) => {
      val path = scratch("export_csv", d)
      // writer-side whitespace trimming is ON by default — disable so COPY
      // semantics (value fidelity) hold for padded strings
      ordersExportable(s, d).write.mode("overwrite")
        .option("header", "true").option("delimiter", "|")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
      s.read.schema(ordersCsvSchema)
        .option("header", "true").option("delimiter", "|")
        .csv(path)
        .orderBy(col("o_orderkey"))
    }),

    // S3+S5 — gzip-compressed CSV import with declared schema (INGESTRATE
    // chunked load analog; compression from 03-dsbulk-migration.md:236-258).
    // Result is a checksum over the imported rows (the count gate a loader
    // run ends with, docs/02-native-tooling.md:388-398).
    "import_csv" -> ((s, d) => {
      val path = scratch("import_csv", d)
      ordersExportable(s, d).write.mode("overwrite")
        .option("header", "true").option("compression", "gzip")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
      s.read.schema(ordersCsvSchema).option("header", "true").csv(path)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    }),

    // columnar round-trip via ORC (Spark-native breadth beyond the
    // reference's CSV/JSON surface): schema travels with the file, zlib
    // block compression; checksum gate identical to import_csv's
    "import_orc" -> ((s, d) => {
      val path = scratch("import_orc", d)
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").option("compression", "zlib").orc(path)
      s.read.orc(path)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    }),

    // partitioned export + partition-pruned re-read: the layout a 100 TB
    // corpus actually ships with (hive-style lang=… directories). The
    // re-read filter prunes to ONE partition on disk — PlanSpec pins the
    // PartitionFilters — and the checksum proves pruning loses nothing.
    "export_partitioned" -> ((s, d) => {
      val path = scratch("export_partitioned", d)
      t(s, d, "documents").write.mode("overwrite")
        .partitionBy("lang").parquet(path)
      graft.Tables.parquet(s, path).filter(col("lang") === "en")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
    }),

    // small-files / layout report (r12; write shape fixed r13 — the
    // 100 TB ops gate before a table is declared servable: a corpus
    // written with too many tiny files pays per-file open/list/footer
    // costs on EVERY downstream scan, and the fix — compaction — is a
    // plan you want sized before running it). The write half produces a
    // CONTROLLED layout whose file rolls are deterministic WITHOUT
    // funneling a partition through one task (the r12 weak): the write
    // is salted by b = doc_id % SmallFilesWriteBuckets and partitioned
    // by (lang, b), so each (lang, b) group — hash-repartitioned wholly
    // into one task — rolls its OWN directory's files at
    // maxRecordsPerFile=100: exactly ceil(cnt/100) files per group, and
    // write tasks scale with lang×buckets (80 groups here; raise the
    // bucket count with data), never with the 5-value lang column alone.
    // IoLayoutSpec pins >1 distinct writer task per lang on disk. The
    // report half reads the REAL resulting layout back via
    // input_file_name() — per-file row counts, never trusting the write
    // plan — and prices a compaction to a 1000-row/file target. Scale
    // shape: two map-combined hash aggregates over the re-read; file
    // identity never leaves the map side as more than one row per
    // (lang, file).
    "small_files_report" -> ((s, d) => {
      val path = scratch("small_files_report", d)
      t(s, d, "documents")
        .withColumn("b", pmod(col("doc_id"), lit(SmallFilesWriteBuckets)).cast("int"))
        .repartition(SmallFilesWriteTasks, col("lang"), col("b"))
        .write.mode("overwrite").option("maxRecordsPerFile", 100)
        .partitionBy("lang", "b").parquet(path)
      val perFile = graft.Tables.parquet(s, path)
        .groupBy(col("lang"), input_file_name().as("f"))
        .agg(count(lit(1)).as("rows_in_file"))
      perFile.groupBy(col("lang"))
        .agg(count(lit(1)).cast("bigint").as("n_files"),
          sum(col("rows_in_file")).as("n_rows"),
          max(col("rows_in_file")).as("max_file_rows"),
          min(col("rows_in_file")).as("min_file_rows"))
        .withColumn("target_files",
          ceil(col("n_rows").cast("double") / 1000).cast("bigint"))
        .withColumn("files_saved",
          (col("n_files") - col("target_files")).cast("bigint"))
        .select(col("lang"), col("n_files"), col("n_rows"),
          col("max_file_rows"), col("min_file_rows"),
          col("target_files"), col("files_saved"))
        .orderBy(col("lang"))
    }),

    // compaction (r13 — the rewrite `small_files_report` prices; the ops
    // loop the reference's troubleshooting doc gestures at needs the FIX,
    // not just the diagnosis, docs/08-troubleshooting.md). Lands the same
    // controlled small-file layout (16 salt buckets × 100-row rolls),
    // then REWRITES it to the 1000-row target through a coarser salt
    // (4 buckets — task count still scales with lang × buckets, never one
    // task per lang) and re-audits BOTH layouts from disk via
    // input_file_name(). Output: per lang, files before/after, the saved
    // count, and a rows_ok parity bit proving the rewrite lost nothing.
    // Scale shape: the rewrite is scan → narrow salt column → one
    // exchange on (lang, b) → write; audits are map-combined aggregates.
    "compact_files" -> ((s, d) => {
      val smallPath = scratch("compact_files_small", d)
      val outPath = scratch("compact_files_out", d)
      t(s, d, "documents")
        .withColumn("b", pmod(col("doc_id"), lit(SmallFilesWriteBuckets)).cast("int"))
        .repartition(SmallFilesWriteTasks, col("lang"), col("b"))
        .write.mode("overwrite").option("maxRecordsPerFile", 100)
        .partitionBy("lang", "b").parquet(smallPath)
      def audit(path: String, filesCol: String, rowsCol: String) =
        graft.Tables.parquet(s, path)
          .groupBy(col("lang"), input_file_name().as("f"))
          .agg(count(lit(1)).as("rif"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast("bigint").as(filesCol),
            sum(col("rif")).as(rowsCol))
      val before = audit(smallPath, "files_before", "n_rows")
      graft.Tables.parquet(s, smallPath).drop("b")
        .withColumn("b", pmod(col("doc_id"), lit(CompactWriteBuckets)).cast("int"))
        .repartition(SmallFilesWriteTasks, col("lang"), col("b"))
        .write.mode("overwrite").option("maxRecordsPerFile", 1000)
        .partitionBy("lang", "b").parquet(outPath)
      val after = audit(outPath, "files_after", "rows_after")
      before.join(after, "lang")
        .select(col("lang"), col("files_before"), col("n_rows"),
          col("files_after"),
          (col("files_before") - col("files_after")).as("files_saved"),
          (col("n_rows") === col("rows_after")).as("rows_ok"))
        .orderBy(col("lang"))
    }),

    // S4 — JSON lines export/import (dsbulk --connector.name json)
    "export_json" -> ((s, d) => {
      val path = scratch("export_json", d)
      ordersExportable(s, d).write.mode("overwrite").json(path)
      s.read.schema(ordersCsvSchema).json(path)
        .orderBy(col("o_orderkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "export_csv" -> ordersExportableSql,
    "import_csv" ->
      """SELECT count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         FROM orders""",
    "export_json" -> ordersExportableSql,
    "import_orc" ->
      """SELECT count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         FROM orders""",
    "export_partitioned" ->
      """SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents WHERE lang = 'en'""",
    // the controlled write rolls files at exactly 100 rows per
    // (lang, doc_id % 16) salt group — each group lands wholly in one
    // writer task and owns its output directory — so the REAL layout the
    // Spark side reads back with input_file_name() must equal these
    // per-group closed forms
    "small_files_report" ->
      """WITH g AS (SELECT lang, doc_id % 16 AS b, count(*) AS cnt
                    FROM documents GROUP BY lang, doc_id % 16)
         SELECT lang,
                CAST(sum(ceil(cnt / 100.0)) AS BIGINT) AS n_files,
                CAST(sum(cnt) AS BIGINT) AS n_rows,
                CAST(max(LEAST(cnt, 100)) AS BIGINT) AS max_file_rows,
                CAST(min(CASE WHEN cnt % 100 = 0 THEN LEAST(cnt, 100)
                              ELSE cnt % 100 END) AS BIGINT) AS min_file_rows,
                CAST(ceil(sum(cnt) / 1000.0) AS BIGINT) AS target_files,
                CAST(sum(ceil(cnt / 100.0)) - ceil(sum(cnt) / 1000.0) AS BIGINT) AS files_saved
         FROM g GROUP BY lang ORDER BY lang""",
    // both layouts roll deterministically per salt group (100-row rolls
    // over doc_id % 16 before; 1000-row rolls over doc_id % 4 after), so
    // the on-disk audit equals these closed forms; rows_ok is TRUE by the
    // rewrite's content preservation
    "compact_files" ->
      """WITH b16 AS (SELECT lang, doc_id % 16 AS b, count(*) AS cnt
                      FROM documents GROUP BY lang, doc_id % 16),
              b4 AS (SELECT lang, doc_id % 4 AS b, count(*) AS cnt
                     FROM documents GROUP BY lang, doc_id % 4),
              bef AS (SELECT lang, CAST(sum(ceil(cnt / 100.0)) AS BIGINT) AS files_before,
                             CAST(sum(cnt) AS BIGINT) AS n_rows
                      FROM b16 GROUP BY lang),
              aft AS (SELECT lang, CAST(sum(ceil(cnt / 1000.0)) AS BIGINT) AS files_after
                      FROM b4 GROUP BY lang)
         SELECT bef.lang AS lang, files_before, n_rows, files_after,
                files_before - files_after AS files_saved, TRUE AS rows_ok
         FROM bef JOIN aft ON bef.lang = aft.lang ORDER BY lang"""
  )
}
