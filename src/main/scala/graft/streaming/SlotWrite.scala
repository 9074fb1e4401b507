package graft.streaming

import java.net.URI
import java.nio.file.{DirectoryNotEmptyException, Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.PortalDataSource

/** The NRT slot write: a DataSource V2 batch writer that replaces one
  * A/B slot directory with a DataFrame's rows as parquet, in one Spark
  * job.
  *
  * Each task writes its rows with parquet-mr's `ParquetWriter` over a
  * `LocalOutputFile`, through Spark's own `ParquetWriteSupport`, so the
  * files are the ones `DataFrameWriter.parquet` writes and
  * `spark.read.parquet` reads them as such. Tasks write into a hidden
  * staging directory next to the slot (`.<slot>-staging-<uuid>`);
  * `commit()` moves the old slot aside, renames the staging directory
  * onto it and deletes the old one, and `abort()` deletes the staging
  * directory, so a failed write never touches the previous slot.
  *
  * What this avoids, against the FileFormat write path: the Hadoop
  * `Configuration` serialized into every task, the `FileOutputCommitter`
  * job/task protocol, and the forked `chmod` per file and directory that
  * Hadoop's local file system runs when it has no native library. A task
  * receives the schema, its file name and the handful of session confs
  * the parquet writer reads ([[parquetConfs]]); it builds a small
  * unserialized `Configuration` of just those.
  *
  * Paths are local: the driver and every task must see the slot at the
  * same path (local mode, or a mount shared by all executors). Tasks
  * are not retried into distinct files: a retried task attempt
  * overwrites its predecessor's file, and there is no commit
  * coordination, so speculative execution must stay off (the default). */
object SlotWrite {

  private val Scheme = "([A-Za-z][A-Za-z0-9+.-]*):.*".r

  /** `sinkRoot` as an absolute local directory: a plain path or a
    * `file:` URI. Any other scheme fails, naming `sinkRoot`. */
  def localRoot(sinkRoot: String): Path = sinkRoot match {
    case Scheme(scheme) if scheme.equalsIgnoreCase("file") =>
      try Paths.get(URI.create(sinkRoot)) catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"sinkRoot '$sinkRoot' is not a valid file: URI: ${e.getMessage}", e)
      }
    case Scheme(scheme) => throw new IllegalArgumentException(
      s"sinkRoot must be a local path or a file: URI, got '$sinkRoot' (scheme '$scheme')")
    case _ => Paths.get(sinkRoot).toAbsolutePath
  }

  /** Replace the directory `slot` with `df`'s rows as parquet: one Spark
    * job, a V2 overwrite. Observations attached to `df` ride on it. */
  def overwrite(df: DataFrame, slot: Path): Unit =
    df.write.format(classOf[SlotSource].getName).mode(SaveMode.Overwrite)
      .save(slot.toString)

  /** The session confs Spark's parquet write path reads, by key, taken
    * on the driver: the legacy-format, timestamp-type, field-id and
    * variant-annotation settings `ParquetWriteSupport` reads from its
    * `Configuration`, and the datetime/INT96 rebase modes and session
    * time zone it reads from `SQLConf`. The codec travels apart. */
  private[streaming] def parquetConfs(conf: SQLConf): Map[String, String] = Map(
    SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key -> conf.writeLegacyParquetFormat.toString,
    SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key -> conf.parquetOutputTimestampType.toString,
    SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key -> conf.parquetFieldIdWriteEnabled.toString,
    SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key ->
      conf.parquetAnnotateVariantLogicalType.toString,
    SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key ->
      conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString,
    SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key ->
      conf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString,
    SQLConf.SESSION_LOCAL_TIMEZONE.key -> conf.sessionLocalTimeZone)
}

/** Loaded by class name from [[SlotWrite.overwrite]]; not registered as
  * a short name, because nothing but the NRT refresh writes slots. */
class SlotSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SlotTable(Paths.get(properties.get("path")))
}

class SlotTable(slot: Path) extends Table with SupportsWrite {
  override def name(): String = s"slot.$slot"
  override def schema(): StructType = new StructType()
  // ACCEPT_ANY_SCHEMA: the write's schema is the query's, as written
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // planning runs with the writing session's conf active
    val conf = SQLConf.get
    val codec = new ParquetOptions(Map.empty[String, String], conf).compressionCodecClassName
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new SlotBatchWrite(slot, info.schema(),
          SlotWrite.parquetConfs(conf), codec)
      }
    }
  }
}

class SlotBatchWrite(slot: Path, schema: StructType, confs: Map[String, String],
    codec: String) extends BatchWrite {

  private val id = UUID.randomUUID().toString
  private val staging = slot.resolveSibling(s".${slot.getFileName}-staging-$id")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // made here, on the driver, and never by a task: once abort()
    // deletes it, a late task cannot create a file in it
    Files.createDirectories(staging)
    new SlotWriterFactory(staging.toString, id, schema, confs, codec)
  }

  override def useCommitCoordinator(): Boolean = false

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val old = slot.resolveSibling(s".${slot.getFileName}-old-$id")
    if (Files.exists(slot)) Files.move(slot, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staging, slot, StandardCopyOption.ATOMIC_MOVE)
    PortalDataSource.deleteRecursively(old)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // a task still running when the job failed may add a file between
    // the walk and the directory's own delete; walk again
    var attempts = 0
    while (Files.exists(staging)) {
      try PortalDataSource.deleteRecursively(staging)
      catch { case e @ (_: DirectoryNotEmptyException | _: java.io.UncheckedIOException) =>
        attempts += 1
        if (attempts >= 10) throw e
      }
    }
  }
}

class SlotWriterFactory(staging: String, writeId: String, schema: StructType,
    confs: Map[String, String], codec: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SlotDataWriter(Paths.get(staging), writeId, partitionId, schema, confs, codec)
}

case object SlotFileWritten extends WriterCommitMessage

/** One task's rows as one parquet file, named as Spark names its part
  * files. Partition 0 writes its file even when it has no rows, so a
  * slot of an empty window still carries the schema (Spark's file
  * writer does the same); other empty partitions write nothing. */
class SlotDataWriter(staging: Path, writeId: String, partitionId: Int,
    schema: StructType, confs: Map[String, String], codec: String)
    extends DataWriter[InternalRow] {

  private val codecName = CompressionCodecName.fromConf(codec)
  private val file = staging.resolve(
    f"part-$partitionId%05d-$writeId-c000${codecName.getExtension}.parquet")
  private var writer: ParquetWriter[InternalRow] = if (partitionId == 0) open() else null

  private def open(): ParquetWriter[InternalRow] = {
    val hadoopConf = new Configuration(false)
    confs.foreach { case (k, v) => hadoopConf.set(k, v) }
    ParquetWriteSupport.setSchema(schema, hadoopConf)
    val sqlConf = new SQLConf
    confs.foreach { case (k, v) => sqlConf.setConfString(k, v) }
    // ParquetWriteSupport reads its rebase modes from SQLConf.get
    SQLConf.withExistingConf(sqlConf) {
      new SlotDataWriter.Builder(new LocalOutputFile(file))
        .withConf(hadoopConf)
        .withCompressionCodec(codecName)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .build()
    }
  }

  override def write(row: InternalRow): Unit = {
    if (writer == null) writer = open()
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = { close(); SlotFileWritten }

  override def abort(): Unit = {
    try if (writer != null) writer.close()
    finally { writer = null; Files.deleteIfExists(file) }
  }

  override def close(): Unit = if (writer != null) { writer.close(); writer = null }
}

object SlotDataWriter {
  private class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
