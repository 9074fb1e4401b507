package graft.sources.erddap

import java.time.Instant
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThanOrEqual, LessThanOrEqual, GreaterThan, LessThan}
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.erddap.{AttributePolicy, ChunkPlanner, Das, UrlCompiler}

/** ERDDAP DataSource V2 (SURVEY.md §3.1 "Spark shape").
  *
  * `spark.read.format("erddap")` with options:
  *   - `dataDir`    transport endpoint: a fixture directory, or an
  *                  `http(s)://` server root (selects the live
  *                  [[HttpErddapTransport]])
  *   - `dataset`    dataset id
  *   - `das`        OPTIONAL local path to the DAS document (schema
  *                  source); omitted → fetched through the transport
  *                  (`tabledap/<id>.das` for HTTP endpoints)
  *   - `server`     server URL prefix (used verbatim in compiled URLs)
  *   - `chunkSize`  rows per time-chunk partition (default 100000)
  *   - `returnAll`  disable QC pruning (reference `return_all` mode)
  *
  * Planning mirrors the reference end-to-end: DAS → `StructType` (with
  * QC pruning policy); ncHeader-style row-count probe →
  * `SupportsReportStatistics`; chunk plan → one `InputPartition` per
  * time chunk (the reference downloads chunks SERIALLY,
  * `data_wrangler.py:666-682` — here they run partition-parallel);
  * column pruning (`SupportsPushDownRequiredColumns`) and time-range
  * filters (`SupportsPushDownFilters`) compile INTO the request URL,
  * so Catalyst's pushdown literally becomes ERDDAP's URL grammar.
  */
class ErddapDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "erddap"

  // `load()` calls inferSchema then getTable on ONE provider instance
  // with the same options: both resolve to one table, so the DAS is
  // fetched once per load
  private var table: Option[(java.util.Map[String, String], ErddapTable)] = None

  private def tableFor(props: java.util.Map[String, String]): ErddapTable =
    table.collect { case (p, t) if p == props => t }.getOrElse {
      val t = ErddapTable.fromOptions(new CaseInsensitiveStringMap(props))
      table = Some((props, t))
      t
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableFor(options.asCaseSensitiveMap()).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    tableFor(properties)
}

object ErddapTable {
  def fromOptions(options: CaseInsensitiveStringMap): ErddapTable = {
    val dataDir = options.get("dataDir")
    val dataset = options.get("dataset")
    require(dataDir != null && dataset != null,
      "erddap source requires options: dataDir, dataset")
    new ErddapTable(
      dataDir, dataset, Option(options.get("das")),
      Option(options.get("server")).getOrElse("https://local/erddap/tabledap/"),
      Option(options.get("chunkSize")).map(_.toLong).getOrElse(100000L),
      options.getBoolean("returnAll", false))
  }
}

class ErddapTable(dataDir: String, dataset: String, dasPath: Option[String],
    server: String, chunkSize: Long, returnAll: Boolean)
    extends Table with SupportsRead {

  /** DAS resolution: an explicit local `das` path wins (fixture
    * workflows); otherwise the TRANSPORT serves it (`tabledap/<id>
    * .das` over HTTP, `<dir>/<id>.das` locally) — pointing the
    * connector at a remote server needs no local metadata files. */
  private lazy val das = Das.parse(dasPath match {
    case Some(p) => java.nio.file.Files.readString(java.nio.file.Path.of(p))
    case None => ErddapTransport(dataDir).dasText(dataset)
  })
  private[erddap] lazy val selection = AttributePolicy.actualAttributes(das, returnAll)
  private lazy val fullSchema = Das.toStructType(das, selection.attributes, selection.timeCol)

  override def name(): String = s"erddap.$dataset"
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ErddapScanBuilder(dataDir, dataset, server, chunkSize,
      das, selection, fullSchema)
}

class ErddapScanBuilder(dataDir: String, dataset: String, server: String,
    chunkSize: Long, das: Das.Document, selection: AttributePolicy.Selection,
    fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var requiredSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var lo: Option[Instant] = None
  private var hi: Option[Instant] = None
  private var loStrict = false
  private var hiStrict = false
  private var aggSpecs: Option[Seq[ErddapAggScan.Spec]] = None

  /** The reference answers COUNT(*) from the ncHeader probe and
    * min/max(time) from the DAS actual_range WITHOUT transferring data
    * (`data_wrangler.py:238-266`, `das_client.py:186-232`) — complete
    * aggregate pushdown reproduces exactly that. Only legal on the
    * unfiltered table (a pushed time range would change the answers). */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAggregation(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    translateAggregation(agg) match {
      case some @ Some(_) => aggSpecs = some; true
      case None => false
    }
  }

  private def translateAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[ErddapAggScan.Spec]] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (lo.isDefined || hi.isDefined || agg.groupByExpressions().nonEmpty) return None
    val timeCol = selection.timeCol.getOrElse(return None)
    val specs = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => ErddapAggScan.CountStar
      case m: Min => m.column() match {
        case f: NamedReference if f.fieldNames().sameElements(Array(timeCol)) =>
          ErddapAggScan.MinTime
        case _ => return None
      }
      case m: Max => m.column() match {
        case f: NamedReference if f.fieldNames().sameElements(Array(timeCol)) =>
          ErddapAggScan.MaxTime
        case _ => return None
      }
      case _ => return None
    }
    Some(specs)
  }

  override def pruneColumns(required: StructType): Unit = {
    // keep declared column order; ERDDAP serves columns in request order
    val names = required.fieldNames.toSet
    requiredSchema = StructType(fullSchema.filter(f => names.contains(f.name)))
  }

  /** Accept >=/<=/>/< on the time column — all four compile into the
    * URL (ERDDAP's constraint grammar has strict operators); all other
    * filters remain Spark-side.
    *
    * Two soundness rules govern what may be DROPPED from the remaining
    * (Spark-side) set:
    *  - bounds on the same side are INTERSECTED (max of lower, min of
    *    upper; at equal instants strict beats non-strict) — Catalyst
    *    does not collapse redundant range predicates, so
    *    `time >= a AND time >= b` arrives as two conjuncts, and a
    *    last-write-wins bound would silently widen the scan;
    *  - the URL grammar is SECOND-granular, so a filter is only
    *    removed when its bound is exactly second-aligned. A fractional
    *    bound still narrows the URL (floor for lower, CEIL for upper —
    *    flooring an upper bound would wrongly exclude rows in the
    *    fractional tail) but is re-checked by Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val timeCol = selection.timeCol.getOrElse("")
    def toInstant(v: Any): Option[Instant] = v match {
      case ts: java.sql.Timestamp => Some(ts.toInstant)
      case i: Instant => Some(i)
      case ldt: java.time.LocalDateTime => Some(ldt.toInstant(java.time.ZoneOffset.UTC))
      case _ => None
    }
    def aligned(i: Instant): Boolean = i.getNano == 0

    // pass 1: accumulate the tightest bounds
    filters.foreach {
      case GreaterThanOrEqual(c, v) if c == timeCol && toInstant(v).isDefined =>
        val i = toInstant(v).get
        if (lo.forall(i.isAfter)) { lo = Some(i); loStrict = false }
      case GreaterThan(c, v) if c == timeCol && toInstant(v).isDefined =>
        val i = toInstant(v).get
        if (lo.forall(old => i.isAfter(old) || i == old)) { lo = Some(i); loStrict = true }
      case LessThanOrEqual(c, v) if c == timeCol && toInstant(v).isDefined =>
        val i = toInstant(v).get
        if (hi.forall(i.isBefore)) { hi = Some(i); hiStrict = false }
      case LessThan(c, v) if c == timeCol && toInstant(v).isDefined =>
        val i = toInstant(v).get
        if (hi.forall(old => i.isBefore(old) || i == old)) { hi = Some(i); hiStrict = true }
      case _ =>
    }

    // pass 2: a filter leaves the remaining set only when the final
    // compiled bound implies it at second granularity
    filters.filter {
      case f @ GreaterThanOrEqual(c, v) if c == timeCol && toInstant(v).isDefined =>
        val implied = lo.exists(l => aligned(l) &&
          (l.isAfter(toInstant(v).get) || l == toInstant(v).get))
        if (implied) pushed :+= f
        !implied
      case f @ GreaterThan(c, v) if c == timeCol && toInstant(v).isDefined =>
        val i = toInstant(v).get
        // implied by a strict bound at >= i, or any bound strictly after i
        val implied = lo.exists(l => aligned(l) &&
          (l.isAfter(i) || (l == i && loStrict)))
        if (implied) pushed :+= f
        !implied
      case f @ LessThanOrEqual(c, v) if c == timeCol && toInstant(v).isDefined =>
        val implied = hi.exists(h => aligned(h) &&
          (h.isBefore(toInstant(v).get) || h == toInstant(v).get))
        if (implied) pushed :+= f
        !implied
      case f @ LessThan(c, v) if c == timeCol && toInstant(v).isDefined =>
        val i = toInstant(v).get
        val implied = hi.exists(h => aligned(h) &&
          (h.isBefore(i) || (h == i && hiStrict)))
        if (implied) pushed :+= f
        !implied
      case f @ org.apache.spark.sql.sources.IsNotNull(c)
          if c == timeCol && (lo.isDefined || hi.isDefined) =>
        // a compiled time-range constraint only matches rows with a
        // parseable time, so Catalyst's derived isnotnull is implied
        pushed :+= f; false
      case _ => true
    }
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = aggSpecs match {
    case Some(specs) =>
      new ErddapAggScan(dataDir, dataset, das, selection, specs)
    case None =>
      new ErddapScan(dataDir, dataset, server, chunkSize, das, selection,
        requiredSchema, lo, hi, loStrict, hiStrict)
  }
}

/** Metadata-only scan answering pushed aggregates from the size probe
  * and the DAS time extent — zero data transfer, one row, one
  * partition. */
object ErddapAggScan {
  sealed trait Spec
  case object CountStar extends Spec
  case object MinTime extends Spec
  case object MaxTime extends Spec
}

class ErddapAggScan(dataDir: String, dataset: String, das: Das.Document,
    selection: AttributePolicy.Selection, specs: Seq[ErddapAggScan.Spec])
    extends Scan with Batch {
  import ErddapAggScan._

  override def readSchema(): StructType = StructType(specs.zipWithIndex.map {
    case (CountStar, i) => org.apache.spark.sql.types.StructField(
      s"agg_$i", org.apache.spark.sql.types.LongType, nullable = false)
    case (_, i) => org.apache.spark.sql.types.StructField(
      s"agg_$i", TimestampType, nullable = true)
  })

  override def toBatch: Batch = this
  override def description(): String =
    s"erddap-agg dataset=$dataset specs=${specs.mkString(",")} (metadata only)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(ErddapInputPartition("agg"))

  override def createReaderFactory(): PartitionReaderFactory = {
    val rowCount = ErddapTransport(dataDir).rowCount(dataset)
    val extent = selection.timeCol.flatMap(tc => Das.timeExtent(das, tc))
    def micros(i: Instant): Long =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    val values: Array[Any] = specs.map {
      case CountStar => rowCount: Any
      case MinTime => extent.map(e => micros(e._1): Any).orNull
      case MaxTime => extent.map(e => micros(e._2): Any).orNull
    }.toArray
    new ErddapAggReaderFactory(values)
  }
}

class ErddapAggReaderFactory(values: Array[Any])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = InternalRow.fromSeq(values.toSeq)
      override def close(): Unit = ()
    }
}

class ErddapScan(dataDir: String, dataset: String, server: String,
    chunkSize: Long, das: Das.Document, selection: AttributePolicy.Selection,
    readSchema: StructType, lo: Option[Instant], hi: Option[Instant],
    loStrict: Boolean = false, hiStrict: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics {

  private val srv = ErddapTransport(dataDir)
  // one ncHeader probe per scan, shared by the statistics and the plan
  private lazy val totalRows = srv.rowCount(dataset)

  override def readSchema(): StructType = readSchema
  override def toBatch: Batch = this
  override def description(): String = {
    val range = (lo, hi) match {
      case (Some(a), Some(b)) => s" time=[$a,$b]"
      case (Some(a), None) => s" time>=$a"
      case (None, Some(b)) => s" time<=$b"
      case _ => ""
    }
    s"erddap dataset=$dataset cols=${readSchema.fieldNames.mkString(",")}$range"
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(srv.sizeInBytes(dataset, totalRows))
    override def numRows(): OptionalLong = OptionalLong.of(totalRows)
  }

  /** One partition per time chunk — the reference's chunk plan
    * (`data_wrangler.py:283-314`) becomes the split plan. Extent comes
    * from the DAS actual_range intersected with pushed bounds. */
  override def planInputPartitions(): Array[InputPartition] = {
    val timeCol = selection.timeCol
    val extent = timeCol.flatMap(tc => Das.timeExtent(das, tc))
    val (start, endRaw) = extent match {
      case Some((s, e)) =>
        (lo.filter(_.isAfter(s)).getOrElse(s), hi.filter(_.isBefore(e)).getOrElse(e))
      case None => (Instant.EPOCH, Instant.EPOCH)
    }
    // URL grammar is second-granular: a fractional upper bound must CEIL
    // (flooring would drop rows in the fractional tail; the exact bound
    // stays in Spark's post-scan filters — see pushFilters)
    val end =
      if (endRaw.getNano != 0)
        endRaw.truncatedTo(java.time.temporal.ChronoUnit.SECONDS).plusSeconds(1)
      else endRaw
    // strict operators compile only when the URL bound IS the pushed
    // bound (not a tighter DAS-extent edge) and second-aligned
    val firstStartExcl = loStrict && lo.contains(start) && start.getNano == 0
    val lastEndExcl = hiStrict && hi.contains(end)
    // Estimated rows in the (possibly pushed-down) window: total count
    // scaled by the covered time fraction — the reference's uniform-
    // density assumption (data_wrangler.py:294-297) applied to pruning.
    val rows = extent match {
      case Some((fullS, fullE)) if fullE.isAfter(fullS) =>
        val frac = (end.toEpochMilli - start.toEpochMilli).toDouble /
          (fullE.toEpochMilli - fullS.toEpochMilli)
        math.max(1L, math.round(totalRows * math.min(1.0, math.max(0.0, frac))))
      case _ => totalRows
    }
    val attrs = readSchema.fieldNames.toSeq

    def urlFor(cs: Option[String], ce: Option[String],
        startExcl: Boolean = false, endExcl: Boolean = false): String =
      UrlCompiler.compile(UrlCompiler.Tabledap(
        server, dataset, "csvp", attrs, timeCol,
        start = cs, end = ce,
        noTimeRange = timeCol.isEmpty || extent.isEmpty,
        startExclusive = startExcl, endExclusive = endExcl)).head

    if (timeCol.isEmpty || extent.isEmpty)
      Array(ErddapInputPartition(urlFor(None, None)))
    else {
      val chunks = ChunkPlanner.timeSubsets(start, end, rows, chunkSize)
      if (chunks.isEmpty)
        Array(ErddapInputPartition(urlFor(
          Some(ChunkPlanner.isoNoZone(start)), Some(ChunkPlanner.isoNoZone(end)),
          startExcl = firstStartExcl, endExcl = lastEndExcl)))
      else chunks.zipWithIndex.map { case (c, i) =>
        // interior starts strict: boundary rows belong to the previous chunk
        ErddapInputPartition(urlFor(Some(c.startString), Some(c.endString),
          startExcl = i > 0 || firstStartExcl,
          endExcl = i == chunks.length - 1 && lastEndExcl))
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ErddapReaderFactory(dataDir, readSchema)
}

case class ErddapInputPartition(url: String) extends InputPartition

class ErddapReaderFactory(dataDir: String, schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ErddapPartitionReader(dataDir, schema,
      partition.asInstanceOf[ErddapInputPartition].url)
}

/** Fetches one chunk URL through the transport and converts CSV lines to
  * InternalRows of the pruned schema (with per-URL retry ×3 like the
  * reference, `data_wrangler.py:557`; here retry = re-read). */
class ErddapPartitionReader(dataDir: String, schema: StructType, url: String)
    extends PartitionReader[InternalRow] {

  private val (headerCells: Array[String], lines: Iterator[String]) = {
    var attempt = 0
    var res: Seq[String] = null
    while (res == null && attempt < 3) {
      try res = ErddapTransport(dataDir).fetch(url)
      catch { case e: Exception if attempt < 2 => attempt += 1 }
    }
    val it = res.iterator
    (Csv.split(it.next()), it)
  }

  /** Schema position → served-column position. The URL grammar always
    * prepends the time column (reference's time-first projection,
    * `data_wrangler.py:330-344`), so the response may carry columns the
    * pruned schema doesn't want — align by header name, never by index. */
  private val colIdx: Array[Int] = schema.fields.map { f =>
    val i = headerCells.indexOf(f.name)
    require(i >= 0, s"column ${f.name} missing from response header " +
      headerCells.mkString(","))
    i
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!lines.hasNext) return false
    val cells = Csv.split(lines.next())
    current = new GenericInternalRow(schema.fields.zipWithIndex.map[Any] { case (f, i) =>
      val s = cells(colIdx(i))
      // "NaN" is ERDDAP's missing marker: a real NaN for floating
      // columns (both widths — consistent policy), null elsewhere.
      if (s.isEmpty || s == "NaN" &&
          f.dataType != org.apache.spark.sql.types.DoubleType &&
          f.dataType != org.apache.spark.sql.types.FloatType) null
      else f.dataType match {
        case TimestampType =>
          // ISO-8601 (with or without Z) → micros
          val t = Instant.parse(if (s.endsWith("Z")) s else s + "Z")
          t.getEpochSecond * 1000000L + t.getNano / 1000
        case org.apache.spark.sql.types.DoubleType => s.toDouble
        case org.apache.spark.sql.types.FloatType => s.toFloat
        case org.apache.spark.sql.types.IntegerType => s.toInt
        case org.apache.spark.sql.types.ShortType => s.toShort
        case org.apache.spark.sql.types.ByteType => s.toByte
        case org.apache.spark.sql.types.LongType => s.toLong
        case _ => UTF8String.fromString(s)
      }
    })
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
