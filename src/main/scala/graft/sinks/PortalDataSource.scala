package graft.sinks

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.erddap.Csv

/** Portal publish as a DataSource V2 BATCH_WRITE —
  * `df.write.format("portal")` with the reference's overwrite
  * transactionality (`OverwriteFS.py:2404-2634`) as the DSv2 commit
  * protocol:
  *
  *  - executors stage partition files + per-task content moments
  *    (no extra pass over the data);
  *  - `commit()` on the driver: unchanged fingerprint → NO-OP (the
  *    reference's success=None outcome, `OverwriteFS.py:2182-2196`);
  *    else backup item properties (K9), publish the staged files into
  *    the INACTIVE A/B slot (K10), restore properties (hasLiveData
  *    reset, index dedupe — `OverwriteFS.py:268-398`), flip the active
  *    slot, touch (K11);
  *  - `abort()` discards the staging directory; portal state is never
  *    mutated before commit, so abort restores by construction.
  *
  * Options: `root` (portal root dir), `item` (title; created on first
  * publish via the K5 retry-rename), `ifChanged` (default true),
  * `tags` (comma-separated extra tags).
  *
  * The published container is headerless RFC-4180 CSV per partition
  * (timestamps as ISO-8601 with microseconds); `spark.read.format("portal")`
  * reads the active slot back with the schema recorded at publish.
  */
class PortalDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "portal"

  // write path: schema comes from the DataFrame being written; read
  // path: from the schema recorded in the item at publish time —
  // resolved THROUGH the transport seam, so `spark.read.format("portal")`
  // works against the local model and a live portal alike
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val title = options.get("item")
    def opt(key: String) = Option(options.get(key))
    PortalDataSource.transportFor(opt("root"), opt("portalUrl"),
      opt("username").getOrElse(""), opt("password").getOrElse("")) match {
      case Some(t) if title != null =>
        t.findByTitle(title)
          .flatMap(i => t.props(i.id).get("schema"))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
          .getOrElse(new StructType())
      case _ => new StructType()
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new PortalTable(schema, new CaseInsensitiveStringMap(properties))
}

object PortalDataSource {
  /** The stored `fingerprint` property from three commutative moments
    * of a row-hash multiset — XOR, wrapping SUM and COUNT — each
    * murmur3-fmix64 avalanche-mixed before combining. Shared by this
    * sink's commit fold and [[graft.streaming.Nrt.tableFingerprint]]. */
  def combineMoments(xor: Long, sum: Long, count: Long): Long = {
    def mix(z0: Long): Long = {
      var z = z0; z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL
      z ^= z >>> 33; z *= 0xC4CEB9FE1A85EC53L; z ^ (z >>> 33)
    }
    mix(xor) ^ mix(sum + 0x9E3779B97F4A7C15L) ^ mix(count)
  }

  /** The one transport selection for the reader and the writer:
    * `portalUrl` set → live REST backend; else the local model at
    * `root`. */
  def transportFor(root: Option[String], portalUrl: Option[String],
      username: String, password: String): Option[PortalTransport] =
    portalUrl.map(u => PortalTransport(u, username, password))
      .orElse(root.map(PortalTransport(_)))
}

/** Per-part column min/max statistics, written into the item's
  * `partStats` property at publish commit and read back at scan
  * planning to PRUNE part handles that cannot satisfy the pushed
  * filters — a time-windowed read of a published layer skips
  * non-overlapping parts instead of re-downloading every one (the
  * ERDDAP source's bound pushdown, mirrored on the portal read side).
  *
  * Stats are ADVISORY: Spark re-evaluates every filter post-scan, so a
  * missing/undecodable stats property only costs pruning, never
  * correctness. Values ride in a canonical comparable form per type
  * (timestamp→µs, date→epoch day, integral/boolean→long, float→double,
  * string→raw); the wire encoding is line/comma structured with
  * URL-escaped fields, so no value can corrupt the framing. The merged
  * `*` entry covers backends whose read plane is a single handle (the
  * REST item-data download) — a fully out-of-window read prunes to
  * zero parts there. */
object PortalStats {
  import org.apache.spark.sql.sources._

  val PropKey = "partStats"
  private val MaxEncoded = 100000 // props are small: skip stats, not publish

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Canonical string for one tracked value (already in type domain). */
  private def canonStr(v: Any): String = v match {
    case l: Long => l.toString
    case d: Double => d.toString
    case s: String => s
    case other => other.toString
  }

  private def parseCanon(dt: DataType, s: String): Any = dt match {
    case TimestampType | DateType | LongType | IntegerType | ShortType |
         ByteType | BooleanType => s.toLong
    case DoubleType | FloatType => s.toDouble
    case _ => s
  }

  /** Byte-wise UTF-8 comparison — Spark's UTF8String binary order.
    * Java String.compareTo diverges above the BMP (surrogates sort
    * below U+E000 in UTF-16 but above it in UTF-8 bytes), and stats
    * compared in a different order than the engine's own filters would
    * prune parts the residual filter keeps. */
  private[sinks] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => utf8Compare(x, y)
    case _ => 0
  }

  /** Spark pushes filter values as external JVM types; map them into
    * the canonical domain of the column's type (None = not comparable,
    * never prune). */
  private def filterValue(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case (TimestampType, i: java.time.Instant) =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case (DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay)
    case (LongType | IntegerType | ShortType | ByteType, n: Number) =>
      Some(n.longValue())
    case (DoubleType | FloatType, n: Number) =>
      // never prune on a NaN comparison: Spark orders NaN greatest and
      // NaN = NaN true — min/max range logic doesn't model that
      Some(n.doubleValue()).filterNot(_.isNaN)
    case (BooleanType, b: java.lang.Boolean) => Some(if (b) 1L else 0L)
    case (StringType, s: String) => Some(s)
    case _ => None
  }

  /** Encode: record 1 `v1`, record 2 column names, then one record per
    * part — basename, then (min,max) per column (`-` = no stat).
    * Records join on `;`, fields on `,` — both are URL-escaped inside
    * fields, and the whole value stays control-char-free so it can ride
    * any property wire (JSON, form-encoded) untouched. */
  def encode(schema: StructType,
      parts: Seq[(String, Seq[Option[(String, String)]])]): Option[String] = {
    val header = "v1;" + schema.fields.map(f => enc(f.name)).mkString(",")
    val lines = parts.map { case (name, stats) =>
      (enc(name) +: stats.flatMap {
        case Some((mn, mx)) => Seq("v" + enc(mn), "v" + enc(mx))
        case None => Seq("-", "-")
      }).mkString(",")
    }
    val out = (header +: lines).mkString(";")
    if (out.length > MaxEncoded) None else Some(out)
  }

  /** Decode to basename → (col → (min, max) in canonical domain). */
  def decode(schema: StructType, encoded: String): Map[String, Map[String, (Any, Any)]] = {
    try {
      val lines = encoded.split(";", -1)
      if (lines.length < 2 || lines(0) != "v1") return Map.empty
      val cols = lines(1).split(",", -1).map(dec)
      val types = cols.map(c => schema.fields.find(_.name == c).map(_.dataType))
      lines.drop(2).filter(_.nonEmpty).map { line =>
        val f = line.split(",", -1)
        val name = dec(f(0))
        val ranges = cols.indices.flatMap { i =>
          val (mnF, mxF) = (f(1 + 2 * i), f(2 + 2 * i))
          types(i) match {
            case Some(dt) if mnF.startsWith("v") && mxF.startsWith("v") =>
              Some(cols(i) -> (parseCanon(dt, dec(mnF.drop(1))),
                parseCanon(dt, dec(mxF.drop(1)))))
            case _ => None
          }
        }.toMap
        name -> ranges
      }.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Elementwise merge of per-part stats → the `*` whole-payload entry. */
  def merge(schema: StructType,
      parts: Seq[Seq[Option[(String, String)]]]): Seq[Option[(String, String)]] =
    schema.fields.indices.map { i =>
      val present = parts.flatMap(_(i))
      if (present.isEmpty || present.length < parts.length) None // a stat-less part → unknown range
      else {
        val dt = schema.fields(i).dataType
        val mn = present.map(p => parseCanon(dt, p._1)).minBy(identity)(Ordering.fromLessThan((a, b) => cmp(a, b) < 0))
        val mx = present.map(p => parseCanon(dt, p._2)).maxBy(identity)(Ordering.fromLessThan((a, b) => cmp(a, b) < 0))
        Some((canonStr(mn), canonStr(mx)))
      }
    }

  /** Can a part whose column ranges are `ranges` contain a row matching
    * `filter`? Missing range → true (never prune blind). */
  def mayMatch(schema: StructType, ranges: Map[String, (Any, Any)],
      filter: Filter): Boolean = {
    def colRange(c: String): Option[(DataType, Any, Any)] = for {
      f <- schema.fields.find(_.name == c)
      r <- ranges.get(c)
    } yield (f.dataType, r._1, r._2)
    def bound(c: String, v: Any)(p: (Int, Int) => Boolean): Boolean =
      colRange(c) match {
        case Some((dt, mn, mx)) => filterValue(dt, v) match {
          case Some(fv) => p(cmp(fv, mn), cmp(fv, mx))
          case None => true
        }
        case None => true
      }
    filter match {
      case And(l, r) => mayMatch(schema, ranges, l) && mayMatch(schema, ranges, r)
      case Or(l, r) => mayMatch(schema, ranges, l) || mayMatch(schema, ranges, r)
      case EqualTo(c, v) => bound(c, v)((dMin, dMax) => dMin >= 0 && dMax <= 0)
      case GreaterThan(c, v) => bound(c, v)((_, dMax) => dMax < 0)
      case GreaterThanOrEqual(c, v) => bound(c, v)((_, dMax) => dMax <= 0)
      case LessThan(c, v) => bound(c, v)((dMin, _) => dMin > 0)
      case LessThanOrEqual(c, v) => bound(c, v)((dMin, _) => dMin >= 0)
      case In(c, vs) => vs.exists(v => bound(c, v)((dMin, dMax) => dMin >= 0 && dMax <= 0))
      case _ => true
    }
  }

  /** Is this a filter shape [[mayMatch]] can ever prune on? */
  def prunable(filter: Filter): Boolean = filter match {
    case And(l, r) => prunable(l) || prunable(r)
    case Or(l, r) => prunable(l) && prunable(r)
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In => true
    case _ => false
  }
}

class PortalTable(writeSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {

  private val root = options.get("root")
  private val title = options.get("item")
  require(title != null && (root != null || options.get("portalUrl") != null),
    "portal source requires options: item, and root or portalUrl")

  override def name(): String = s"portal.$title"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new PortalWriteBuilder(root, title,
      Option(options.get("tags")).map(_.split(",").toSeq).getOrElse(Nil),
      options.getBoolean("ifChanged", true), info.schema(),
      Option(options.get("portalUrl")),
      Option(options.get("username")).getOrElse(""),
      Option(options.get("password")).getOrElse(""))

  /** Read side: the ACTIVE slot's payload through the TRANSPORT seam —
    * one InputPartition per part handle (local: per staged partition
    * file; REST: the item-data download), with column pruning. The
    * slot pointer resolves at scan PLANNING time, so a refresh between
    * planning and execution cannot tear a read across slots (K10's
    * reader-side atomicity). */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    new PortalScanBuilder(Option(root), title, writeSchema,
      Option(options.get("portalUrl")),
      Option(options.get("username")).getOrElse(""),
      Option(options.get("password")).getOrElse(""))
}

class PortalScanBuilder(root: Option[String], title: String,
    fullSchema: StructType, portalUrl: Option[String],
    username: String, password: String)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.sources.Filter

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(req: StructType): Unit = {
    val names = req.fieldNames.toSet
    required = StructType(fullSchema.filter(f => names.contains(f.name)))
  }

  /** Part-PRUNING pushdown: comparison/equality shapes are accepted for
    * min/max pruning against the published `partStats`, but every
    * filter stays residual (we return the full array) — stats are
    * advisory, Spark re-evaluates post-scan, so stale or absent stats
    * can only cost pruning, never rows. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(PortalStats.prunable)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new Scan with Batch {
    private val transport =
      PortalDataSource.transportFor(root, portalUrl, username, password).get
    private val item = transport.findByTitle(title).getOrElse(
      throw new IllegalArgumentException(s"no published item '$title'"))
    private val props = transport.props(item.id)
    private val slot = props.getOrElse("activeSlot",
      throw new IllegalStateException(s"item '$title' has no published slot"))
    private val partStats: Map[String, Map[String, (Any, Any)]] =
      props.get(PortalStats.PropKey)
        .map(PortalStats.decode(fullSchema, _)).getOrElse(Map.empty)

    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"portal.$title slot=$slot cols=${required.fieldNames.mkString(",")}" +
        (if (pushed.isEmpty) "" else s" pruneFilters=${pushed.mkString(",")}")

    override def planInputPartitions(): Array[InputPartition] =
      transport.listParts(item.id, slot).filter { h =>
        // stats keyed by part basename; `*` covers single-handle
        // backends (REST item-data). No stats → never prune.
        val basename = h.substring(h.lastIndexOf('/') + 1)
        partStats.get(basename).orElse(partStats.get("*")) match {
          case Some(ranges) =>
            pushed.forall(PortalStats.mayMatch(fullSchema, ranges, _))
          case None => true
        }
      }.map(h => PortalFilePartition(h): InputPartition).toArray

    override def createReaderFactory(): PartitionReaderFactory =
      new PortalReaderFactory(root, portalUrl, username, password,
        fullSchema, required)
  }
}

case class PortalFilePartition(handle: String)
    extends org.apache.spark.sql.connector.read.InputPartition

/** Serializable factory: carries only strings; the transport is
  * re-created inside each executor-side reader (the live client's
  * sockets never serialize). */
class PortalReaderFactory(root: Option[String], portalUrl: Option[String],
    username: String, password: String,
    fullSchema: StructType, required: StructType)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read._

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val lines =
        PortalDataSource.transportFor(root, portalUrl, username, password).get
          .fetchPart(p.asInstanceOf[PortalFilePartition].handle).iterator
      // stored files carry ALL columns in fullSchema order (headerless)
      private val colIdx = required.fields.map(f => fullSchema.fieldIndex(f.name))
      private var current: InternalRow = _

      override def next(): Boolean = {
        if (!lines.hasNext) return false
        val cells = Csv.split(lines.next())
        current = InternalRow.fromSeq(required.fields.indices.map { i =>
          val s = cells(colIdx(i))
          if (s.isEmpty) null
          else required.fields(i).dataType match {
            case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
            case DoubleType => s.toDouble
            case FloatType => s.toFloat
            case IntegerType => s.toInt
            case LongType => s.toLong
            case ShortType => s.toShort
            case ByteType => s.toByte
            case BooleanType => s.toBoolean
            case TimestampType =>
              val inst = java.time.Instant.parse(s)
              inst.getEpochSecond * 1000000L + inst.getNano / 1000L
            case DateType =>
              java.time.LocalDate.parse(s).toEpochDay.toInt
            case dt => throw new UnsupportedOperationException(
              s"portal read: unsupported type $dt")
          }
        })
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

/** Publishes are full replacements (reference overwrite semantics, T3);
  * append-mode requests are accepted and treated identically — the K6
  * chunk-append pattern collapses to one union'd write upstream. */
class PortalWriteBuilder(root: String, title: String, tags: Seq[String],
    ifChanged: Boolean, schema: StructType, portalUrl: Option[String] = None,
    username: String = "", password: String = "")
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = this
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new PortalBatchWrite(root, title, tags, ifChanged, schema,
        portalUrl, username, password)
  }
}

case class PortalCommitMessage(path: String, rows: Long, xor: Long,
    sum: Long, stats: Seq[Option[(String, String)]] = Nil)
    extends WriterCommitMessage

class PortalBatchWrite(root: String, title: String, tags: Seq[String],
    ifChanged: Boolean, schema: StructType, portalUrl: Option[String] = None,
    username: String = "", password: String = "") extends BatchWrite {

  private val stagingDir = s"$root/.staging-${UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new PortalWriterFactory(stagingDir, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.map(_.asInstanceOf[PortalCommitMessage])
    // All control-plane (and slot data-plane) calls go through the ONE
    // portal seam; `portalUrl` selects the live REST backend while the
    // executors keep staging to the local filesystem — pointing the sink
    // at a real portal is an option change, not a rewrite.
    val t = PortalDataSource.transportFor(Some(root), portalUrl, username, password).get
    val item = t.findByTitle(title).getOrElse(
      t.addOrRetry(title, "Feature Service", Seq("erddap2agol") ++ tags))
    // one property read serves the refusal tiers, the change check and
    // the slot flip
    val props = t.props(item.id)
    // refusal tiers run before ANY portal mutation (OverwriteFS.py:2093-2106)
    try PortalTransport.verifyOverwrite(t, item.id, props)
    catch { case e: Throwable => deleteRecursively(Path.of(stagingDir)); throw e }

    // distributed change fingerprint from the per-task moments
    val xor = msgs.foldLeft(0L)(_ ^ _.xor)
    val sum = msgs.foldLeft(0L)(_ + _.sum)
    val rows = msgs.foldLeft(0L)(_ + _.rows)
    val fp = PortalDataSource.combineMoments(xor, sum, rows).toString

    if (ifChanged && props.get("fingerprint").contains(fp)) {
      // unchanged → no-op publish that still touches the item, as the
      // reference's no-op overwrite does (OverwriteFS.py:2182-2196)
      deleteRecursively(Path.of(stagingDir))
      t.touch(item.id, System.currentTimeMillis())
      return
    }

    val backup = t.backupProperties(item.id)
    val active = props.getOrElse("activeSlot", "b")
    val inactive = if (active == "a") "b" else "a"
    t.replaceData(item.id, inactive,
      msgs.filter(_.path.nonEmpty).map(m => Path.of(m.path)).toSeq)
    deleteRecursively(Path.of(stagingDir))
    t.restoreProperties(item.id, backup)
    // per-part min/max column stats (collected free during the write
    // pass) → the partStats property, keyed by part basename plus the
    // merged `*` whole-payload entry — the read path prunes parts on
    // pushed filters against these
    val withStats = msgs.filter(m => m.path.nonEmpty && m.stats.nonEmpty)
    val statEntries = withStats.map(m =>
      Path.of(m.path).getFileName.toString -> m.stats.toSeq).toSeq
    // the key is ALWAYS written: when stats are skipped (oversized
    // encoding) the empty value tombstones the PREVIOUS publish's
    // stats — property updates merge, and pruning a fresh slot against
    // a stale range would silently drop rows
    val statsProp = PortalStats.encode(schema,
      statEntries :+ ("*" -> PortalStats.merge(schema, statEntries.map(_._2))))
      .getOrElse("")
    t.update(item.id, Map(
      "activeSlot" -> inactive, "fingerprint" -> fp, "rows" -> rows.toString,
      "schema" -> schema.json, // read path resolves the layout from here
      PortalStats.PropKey -> statsProp))
    t.touch(item.id, System.currentTimeMillis())
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteRecursively(Path.of(stagingDir))

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
}

class PortalWriterFactory(stagingDir: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PortalDataWriter(stagingDir, schema, partitionId, taskId)
}

/** Writes one partition as RFC-4180 CSV while folding the row-hash
  * moments (FNV-1a 64 per line; XOR + wrapping sum + count) used by the
  * driver-side unchanged check — change detection costs no second scan. */
class PortalDataWriter(stagingDir: String, schema: StructType,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  private var out: java.io.BufferedWriter = _
  private var path = ""
  private var rows = 0L
  private var xor = 0L
  private var sum = 0L
  // per-column min/max in canonical domain (Long/Double/String); null
  // until the first non-null value — costs no extra pass over the data.
  // A NaN anywhere in a float column POISONS its stat (Spark orders
  // NaN greatest and NaN = NaN true, which a min/max range can't
  // model, so the column must never prune for this part).
  private val mins = new Array[Any](schema.length)
  private val maxs = new Array[Any](schema.length)
  private val poisoned = new Array[Boolean](schema.length)

  private def trackStats(row: InternalRow): Unit = {
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i) && !poisoned(i)) {
        val v: Any = schema.fields(i).dataType match {
          case StringType => row.getUTF8String(i).toString
          case TimestampType | LongType => row.getLong(i)
          case IntegerType => row.getInt(i).toLong
          case DateType => row.getInt(i).toLong
          case ShortType => row.getShort(i).toLong
          case ByteType => row.getByte(i).toLong
          case BooleanType => if (row.getBoolean(i)) 1L else 0L
          case DoubleType => row.getDouble(i)
          case FloatType => row.getFloat(i).toDouble
          case _ => null
        }
        v match {
          case d: Double if d.isNaN => poisoned(i) = true
          case null => ()
          case _ =>
            // byte-wise UTF-8 for strings: Spark's own comparison order
            def lt(a: Any, b: Any): Boolean = (a, b) match {
              case (x: Long, y: Long) => x < y
              case (x: Double, y: Double) => x < y
              case (x: String, y: String) => PortalStats.utf8Compare(x, y) < 0
              case _ => false
            }
            if (mins(i) == null || lt(v, mins(i))) mins(i) = v
            if (maxs(i) == null || lt(maxs(i), v)) maxs(i) = v
        }
      }
      i += 1
    }
  }

  private def fnv1a64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001B3L; i += 1 }
    h
  }

  private def cell(row: InternalRow, i: Int): String = {
    if (row.isNullAt(i)) return ""
    schema.fields(i).dataType match {
      case StringType => row.getUTF8String(i).toString
      case DoubleType => row.getDouble(i).toString
      case FloatType => row.getFloat(i).toString
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case ShortType => row.getShort(i).toString
      case ByteType => row.getByte(i).toString
      case BooleanType => row.getBoolean(i).toString
      case TimestampType =>
        val us = row.getLong(i)
        PortalDataWriter.TimestampFormat.format(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case DateType => java.time.LocalDate.ofEpochDay(row.getInt(i)).toString
      case dt => throw new UnsupportedOperationException(
        s"portal sink: unsupported type $dt")
    }
  }

  override def write(row: InternalRow): Unit = {
    if (out == null) {
      Files.createDirectories(Path.of(stagingDir))
      path = s"$stagingDir/part-$partitionId-$taskId.csv"
      out = Files.newBufferedWriter(Path.of(path))
    }
    val line = Csv.join(schema.fields.indices.map(cell(row, _)))
    out.write(line); out.write("\n")
    val h = fnv1a64(line)
    rows += 1; xor ^= h; sum += h
    trackStats(row)
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    val stats = schema.fields.indices.map { i =>
      if (mins(i) == null || poisoned(i)) None
      else Some((mins(i).toString, maxs(i).toString))
    }
    PortalCommitMessage(path, rows, xor, sum, stats)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    if (path.nonEmpty) Files.deleteIfExists(Path.of(path))
  }

  override def close(): Unit = ()
}

object PortalDataWriter {
  /** ISO-8601 UTC with microseconds; immutable and thread-safe, so one
    * instance serves every writer. */
  private val TimestampFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    .withZone(java.time.ZoneOffset.UTC)
}
