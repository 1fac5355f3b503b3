package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.parquet` reads the schema Spark's own inference would read, from
  * one footer on the driver: same schema as `spark.read.parquet` on every
  * layout graft reads (pyarrow testdata, Spark-written files, hive
  * partitions), no Spark job, and Spark's own errors and merge behavior on
  * the cases it hands back to Spark.
  */
class TablesParquetSpec extends SparkSpec {
  import spark.implicits._

  private def dir(name: String): String = {
    val d = s"target/tables_parquet_spec/$name"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(d), true)
    d
  }

  /** One parquet file written by parquet-mr itself (no Spark row metadata
    * in its footer), so the schema comes from the footer's parquet types.
    */
  private def writeRaw(path: String, schema: String)(rows: Seq[Seq[Any]]): Unit = {
    val msg = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new Path(path)).withType(msg).build()
    val groups = new SimpleGroupFactory(msg)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.zipWithIndex.foreach {
        case (v: Long, i) => g.add(i, v)
        case (v: Int, i) => g.add(i, v)
        case (v: Double, i) => g.add(i, v)
        case (v: String, i) => g.add(i, Binary.fromString(v))
        case (v, _) => fail(s"unsupported test value $v")
      }
      w.write(g)
    } finally w.close()
  }

  private def assertParity(path: String): Unit = {
    val expected = spark.read.parquet(path).schema
    assert(Tables.parquet(spark, path).schema == expected, path)
  }

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private def condition(body: => Any): String =
    intercept[Exception](body) match {
      case e: SparkThrowable => e.getCondition
      case e => fail(s"not a Spark error condition: $e")
    }

  test("schema parity on every testdata table (pyarrow footers)") {
    Tables.names.foreach(n => assertParity(s"${sf()}/$n.parquet"))
  }

  test("schema parity on a Spark-written flat file") {
    val path = dir("flat")
    Seq((1L, "a", BigDecimal("1.25"), Seq(1f, 2f), Map("k" -> 1),
        java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
        java.sql.Date.valueOf("2024-01-02")))
      .toDF("id", "s", "dec", "vec", "m", "ts", "d")
      .withColumn("st", struct(col("id"), col("s")))
      .coalesce(1).write.parquet(path)
    assertParity(path)
  }

  test("schema parity on a cid-partitioned ANN store") {
    val path = dir("store")
    val corpus = (0 until 40).map(i => (i.toLong, Seq(i % 2 * 1f, (i + 1) % 2 * 1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cid", "cvec")
    graft.ext.LlmOps.writeAssignedCells(graft.ext.LlmOps.kmeansAssignTo(corpus, cents), path)
    assertParity(path)
    assert(Tables.parquet(spark, path).schema.fieldNames.last == "cid")
  }

  test("the footer is the first data file in full-path order (p=1.5 before p=1)") {
    val path = dir("order")
    // each partition's files carry a different column: the schema names
    // the file Spark's inference reads. Full paths sort ".../p=1.5/…"
    // before ".../p=1/…" ('.' < '/'), the reverse of the names alone
    Seq((1L, 10)).toDF("id", "x").write.parquet(s"$path/p=1")
    Seq((2L, "y")).toDF("id", "y").write.parquet(s"$path/p=1.5")
    assertParity(path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("id", "y", "p"))
  }

  test("a data column that also names a partition directory keeps Spark's layout") {
    val path = dir("overlap")
    // the files store `p` too: inference keeps it at its data position,
    // a user-schema read would move it to the end
    Seq((1L, 1, "a")).toDF("id", "p", "s").write.parquet(s"$path/p=1")
    assertParity(path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("id", "p", "s"))
  }

  test("binaryAsString applies to a footer without Spark metadata") {
    val path = dir("binary")
    writeRaw(s"$path/part-0.parquet",
      "message m { required binary b; required int32 n; }")(Seq(Seq("abc", 1)))
    assertParity(path)
    assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
    withConf("spark.sql.parquet.binaryAsString", "true") {
      assertParity(path)
      assert(Tables.parquet(spark, path).schema("b").dataType == StringType)
      assert(Tables.parquet(spark, path).head().getString(0) == "abc")
    }
  }

  test("the driver footer read submits no Spark job") {
    val path = dir("jobs")
    Seq((1L, 1), (2L, 2)).toDF("id", "cid").write.partitionBy("cid").parquet(path)
    assert(countJobs("inferred-schema")(spark.read.parquet(path).schema) >= 1,
      "spark.read.parquet infers its schema in a job")
    assert(countJobs("footer-schema")(Tables.parquet(spark, path).schema) == 0)
    assert(countJobs("footer-schema-table")(
      Tables.parquet(spark, s"${sf()}/documents.parquet").schema) == 0)
  }

  test("errors stay Spark's: a missing path and an empty directory") {
    val missing = dir("missing")
    assert(condition(Tables.parquet(spark, missing)) ==
      condition(spark.read.parquet(missing)))
    val empty = dir("empty")
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .mkdirs(new Path(empty))
    assert(condition(Tables.parquet(spark, empty)) ==
      condition(spark.read.parquet(empty)))
  }

  test("mergeSchema=true gives Spark's merged schema") {
    val path = dir("merge")
    Seq((1L, 10)).toDF("id", "a").write.parquet(s"$path/k=1")
    Seq((2L, "b")).toDF("id", "b").write.parquet(s"$path/k=2")
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assertParity(path)
      assert(Tables.parquet(spark, path).schema.fieldNames.toSet ==
        Set("id", "a", "b", "k"))
    }
  }

  test("TIMESTAMP(NANOS) events: the rejection reaches the events reader, " +
       "which reads the raw nanos") {
    val d = dir("nanos")
    val nanos = 1704164645123456789L
    writeRaw(s"$d/events.parquet/part-0.parquet",
      """message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id; required binary event_type (STRING);
        |  required double value; required binary props (STRING); }""".stripMargin)(
      Seq(Seq(1L, nanos, 7L, "click", 1.5, "{}")))
    assert(condition(Tables.parquet(spark, s"$d/events.parquet")) ==
      condition(spark.read.parquet(s"$d/events.parquet")))
    val ev = graft.queries.Common.events(spark, d).select("ts_us").head()
    assert(ev.getLong(0) == nanos / 1000)
  }
}
