package graft.streaming

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.SpecBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession
import graft.sinks.PortalTransport

/** Evaluation counter for [[SlotWriteSpec]]'s failing write (one JVM in
  * local mode, so executor threads share it). */
object SlotChaosCounter {
  val evals = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** The NRT slot writer ([[SlotWrite]]) against Spark's own parquet file
  * writer: same rows, schema, part files and footers; an empty window
  * still leaves a readable slot; a failed write leaves the previous
  * slot and no staging directory; the write plans as a V2 write. */
class SlotWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  /** Every type the DAS maps to, with the edge values of each. */
  private lazy val allTypes: DataFrame = {
    val schema = StructType(Seq(
      StructField("time", TimestampType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("b", ByteType),
      StructField("s", ShortType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("str", StringType),
      StructField("flag", BooleanType)))
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      Row(ts("2024-06-01 12:34:56.123456"), 1.5, 1.5f, 1.toByte, 1.toShort, 1, 1L, "a", true),
      Row(ts("1969-12-31 23:59:59.999999"), Double.NaN, Float.NaN, Byte.MinValue,
        Short.MinValue, Int.MinValue, Long.MinValue, "", false),
      Row(ts("1900-01-01 00:00:00.000001"), Double.PositiveInfinity,
        Float.PositiveInfinity, Byte.MaxValue, Short.MaxValue, Int.MaxValue,
        Long.MaxValue, "ünïcødé, \"quoted\"\nline", true),
      Row(ts("1500-03-01 00:00:00.5"), Double.NegativeInfinity,
        Float.NegativeInfinity, 0.toByte, 0.toShort, 0, 0L, "x", false),
      Row(ts("1970-01-01 00:00:00"), -0.0, -0.0f, -1.toByte, -1.toShort, -1, -1L,
        "y", null),
      Row(null, null, null, null, null, null, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def parts(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)

  /** (file schema, key-value metadata, codec per column) of one file. */
  private def footer(file: Path) = {
    val r = ParquetFileReader.open(new LocalInputFile(file))
    try {
      val meta = r.getFooter.getFileMetaData
      (meta.getSchema, meta.getKeyValueMetaData.asScala.toMap,
        r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).distinct)
    } finally r.close()
  }

  /** Write `df` both ways and compare what `spark.read.parquet` sees,
    * the number of part files and each file's footer. */
  private def assertSameAsSpark(df: DataFrame, expectRows: Long): Unit = {
    val root = tmp("slot_rt")
    val mine = root.resolve("a")
    val spark0 = root.resolve("spark")
    SlotWrite.overwrite(df, mine)
    df.write.parquet(spark0.toString)
    val a = spark.read.parquet(mine.toString)
    val b = spark.read.parquet(spark0.toString)
    assert(a.schema == b.schema)
    assert(a.count() == expectRows && b.count() == expectRows)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(parts(mine).size == parts(spark0).size)
    parts(mine).zip(parts(spark0)).foreach { case (x, y) => assert(footer(x) == footer(y)) }
    // nothing but the slot is left next to it
    assert(Files.list(root).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("a", "spark"))
  }

  test("round trip equals DataFrameWriter.parquet for every DAS type") {
    assertSameAsSpark(allTypes, 6)
  }

  test("multi-partition input writes one file per non-empty partition") {
    val df = spark.range(0, 1000, 1, 4).select($"id",
      ($"id" * 0.5).as("v"), ($"id" % 7).cast("string").as("g"))
    assertSameAsSpark(df, 1000)
    val slot = tmp("slot_parts").resolve("b")
    SlotWrite.overwrite(df, slot)
    assert(parts(slot).size == 4)
  }

  test("zero-row and zero-partition input leave a schema-only slot") {
    val zeroRows = allTypes.filter($"l" === 42L)
    assert(zeroRows.rdd.getNumPartitions == 2)
    assertSameAsSpark(zeroRows, 0)
    val zeroParts = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], allTypes.schema)
    assert(zeroParts.rdd.getNumPartitions == 0)
    assertSameAsSpark(zeroParts, 0)
    val slot = tmp("slot_empty").resolve("a")
    SlotWrite.overwrite(zeroParts, slot)
    assert(parts(slot).size == 1)
    assert(spark.read.parquet(slot.toString).schema == allTypes.schema)
  }

  test("the session's parquet confs reach the files as Spark's writer applies them") {
    val confs = Seq(
      "spark.sql.parquet.compression.codec" -> "gzip",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.parquet.writeLegacyFormat" -> "true",
      "spark.sql.parquet.fieldId.write.enabled" -> "false",
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      assertSameAsSpark(allTypes, 6)
      val slot = tmp("slot_conf").resolve("a")
      SlotWrite.overwrite(allTypes, slot)
      val (schema, kv, codecs) = footer(parts(slot).head)
      assert(codecs.map(_.name) == Seq("GZIP"))
      assert(schema.getType(schema.getFieldIndex("time")).asPrimitiveType.getPrimitiveTypeName.name == "INT64")
      assert(kv.contains("org.apache.spark.legacyDateTime"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // defaults again: snappy, and no legacy marker
    val slot = tmp("slot_conf2").resolve("a")
    SlotWrite.overwrite(allTypes, slot)
    val (_, kv, codecs) = footer(parts(slot).head)
    assert(codecs.map(_.name) == Seq("SNAPPY") && !kv.contains("org.apache.spark.legacyDateTime"))
  }

  test("a task that throws leaves the previous slot readable and no staging directory") {
    val dir = tmp("slot_chaos")
    val slot = dir.resolve("a")
    SlotWrite.overwrite(spark.range(0, 200, 1, 4).toDF("id"), slot)
    SlotChaosCounter.evals.set(0L)
    val boom = udf { (id: Long) =>
      if (SlotChaosCounter.evals.incrementAndGet() > 150L)
        throw new RuntimeException("chaos: slot write killed")
      id
    }
    val err = intercept[Exception] {
      SlotWrite.overwrite(spark.range(1000, 1400, 1, 4).select(boom($"id").as("id")), slot)
    }
    assert(err.toString.contains("chaos") ||
      Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("chaos")), err)
    val kept = spark.read.parquet(slot.toString)
    assert(kept.count() == 200 && kept.agg(max($"id")).head().getLong(0) == 199L)
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq == Seq("a"))
  }

  test("the slot write plans as a V2 write, with no InsertIntoHadoopFsRelationCommand") {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    def plans(body: => Unit): Seq[QueryExecution] = {
      SpecBus.drain(spark.sparkContext)
      seen.clear()
      spark.listenerManager.register(listener)
      try { body; SpecBus.drain(spark.sparkContext) }
      finally spark.listenerManager.unregister(listener)
      seen.asScala.toSeq
    }
    def fileWrite(qe: QueryExecution): Boolean =
      qe.analyzed.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand]) ||
        qe.executedPlan.exists(_.isInstanceOf[DataWritingCommandExec])
    val df = spark.range(0, 50, 1, 2).toDF("id")
    val dir = tmp("slot_plan")

    val slotWrite = plans(SlotWrite.overwrite(df, dir.resolve("a")))
    assert(slotWrite.exists(_.executedPlan.exists(_.isInstanceOf[V2TableWriteExec])))
    assert(!slotWrite.exists(fileWrite))
    // the same check sees the file source's command, so it is not vacuous
    assert(plans(df.write.parquet(dir.resolve("spark").toString)).exists(fileWrite))
  }

  test("sinkRoot: a file: URI works, another scheme fails fast naming sinkRoot") {
    val fresh = spark.range(0, 30, 1, 2).select($"id", lit(1).as("ver"))
    val sink = tmp("slot_uri_sink")
    val t = PortalTransport(tmp("slot_uri_portal").toString)
    val uri = sink.toUri.toString
    assert(uri.startsWith("file:"))
    val out = Nrt.refreshViaPortal(spark, "ds", fresh, t, uri)
    assert(out.changed && out.rows == 30)
    val slot = t.props(t.findByTitle("ds").get.id)("activeSlot")
    assert(spark.read.parquet(Nrt.activePath(uri, "ds", slot)).count() == 30)
    assert(Files.isDirectory(sink.resolve("ds").resolve(slot)))

    Seq("hdfs://namenode/nrt", "s3a://bucket/nrt").foreach { bad =>
      val e1 = intercept[IllegalArgumentException](
        Nrt.refreshViaPortal(spark, "other", fresh, t, bad))
      assert(e1.getMessage.contains("sinkRoot") && e1.getMessage.contains(bad))
      val e2 = intercept[IllegalArgumentException](
        Nrt.refreshCycleViaPortal(spark, Seq("other"), _ => fresh, t, bad))
      assert(e2.getMessage.contains("sinkRoot"))
    }
    // failed before any portal call: no item was created
    assert(t.findByTitle("other").isEmpty)
  }
}
