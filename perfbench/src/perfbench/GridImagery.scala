package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.sinks.Portal
import graft.sources.griddap.GridNc

/** The griddap half of `publish`: 4 gridded datasets of hourly 120 x 120 slices of
  * two Float32 variables, 24 slices to start with. Each dataset has a
  * record-dimension Imagery Layer published at set-up. In each block of
  * 4 units one, at a seeded position, publishes the latest
  * [[PublishSlices]] slices as a new Imagery Layer; the other 3 are NRT
  * refreshes: the generator appends a slice, and the unit scans the
  * slices after the layer's newest time through the griddap source and
  * appends them with `refreshImagery`. */
final class GridImagery(a: Args, tracer: Tracer) extends Part {
  val Grids = 4
  val Slices = 24
  val PublishSlices = 6

  private var spark: SparkSession = _
  private var ep: ErddapEndpoint = _
  private var portal: Portal = _
  private var sources: IndexedSeq[GridSource] = IndexedSeq.empty
  /** grid index -> (NRT imagery item, slices it holds). */
  private val nrt = collection.mutable.Map.empty[Int, (Portal#Item, Int)]
  private var round = 0
  private var unit = 0
  /** Unit id carried by the current unit's spans. */
  private var spanUnit = 0
  private var writeNs = 0L
  private var bytesWritten = 0L

  override def endpoints: Seq[ErddapEndpoint] = Seq(ep)

  private def scan(k: Int, after: Option[Long], from: Option[Long]): Array[Row] = {
    val df = tracer.span("erddap.load", spanUnit) {
      spark.read.format("griddap").option("dataDir", ep.base).option("dataset", sources(k).id).load()
    }
    val ts = (s: Long) => lit(new java.sql.Timestamp(s * 1000L))
    val sel = Seq(after.map(t => col("time") > ts(t)), from.map(t => col("time") >= ts(t))).flatten
    tracer.span("griddap.scan", spanUnit) {
      sel.foldLeft(df)(_.filter(_))
        .select("time", "latitude", "longitude", "sst", "wind").collect()
    }
  }

  /** Long-form rows back to a record-dimension grid. */
  private def assemble(src: GridSource, rows: Array[Row]): GridNc.Grid = tracer.span("grid.assemble", spanUnit) {
    val times = rows.map(_.getTimestamp(0).getTime / 1000L).distinct.sorted
    val tIdx = times.zipWithIndex.toMap
    val n = times.length * src.cells
    val sst = new Array[Double](n)
    val wind = new Array[Double](n)
    rows.foreach { r =>
      val la = math.round(r.getDouble(1) * 10).toInt - 240
      val lo = math.round(r.getDouble(2) * 10).toInt + 980
      val i = (tIdx(r.getTimestamp(0).getTime / 1000L) * src.nLat + la) * src.nLon + lo
      sst(i) = r.getDouble(3)
      wind(i) = r.getDouble(4)
    }
    GridNc.Grid(Seq("time" -> times.length, "latitude" -> src.nLat, "longitude" -> src.nLon),
      Seq(GridNc.Var("time", Seq(0), isFloat = false, times.map(_.toDouble)),
        GridNc.Var("latitude", Seq(1), isFloat = false, src.lats),
        GridNc.Var("longitude", Seq(2), isFloat = false, src.lons),
        GridNc.Var("sst", Seq(0, 1, 2), isFloat = true, sst),
        GridNc.Var("wind", Seq(0, 1, 2), isFloat = true, wind)),
      recordDim = Some(0))
  }

  private def file(item: Portal#Item): Path = {
    val p = portal
    Path.of(p.imageryDir(item.asInstanceOf[p.Item]), "imagery.nc")
  }

  /** The time length a reader sees: `numrecs` of the record-dim file. */
  private def storedSlices(item: Portal#Item): Int = {
    val in = new java.io.DataInputStream(Files.newInputStream(file(item)))
    try { in.skipBytes(4); in.readInt() } finally in.close()
  }

  private def publishNrt(k: Int, m: Measure): Unit = {
    val src = sources(k)
    val rows = scan(k, None, None)
    val item = portal.publishImagery(s"${src.id} nrt", assemble(src, rows), Seq(s"did_${src.id}"))
    val slices = ep.grid(src.id).slices
    nrt(k) = (item, slices)
    m.check(s"${src.id} nrt publish", Seq(
      Option.when(rows.length != slices * src.cells)(s"scanned ${rows.length} cells, hyperslab ${slices * src.cells}"),
      Option.when(storedSlices(item) != slices)(s"imagery holds ${storedSlices(item)} slices, expected $slices")).flatten)
  }

  override def setUp(s: SparkSession): Unit = {
    close()
    round += 1
    spark = s
    nrt.clear()
    sources = (0 until Grids).map(k => new GridSource(f"grid_$k%02d", k, a.seed, Gen.Epoch0))
    ep = new ErddapEndpoint()
    sources.foreach(src => ep.put(GridSnap.build(src, Slices)))
    portal = new Portal(a.work.resolve(s"grid-$round").toString)
    val cold = new Measure(recording = false)
    publishNrt(0, cold)
    require(cold.failed == 0, s"cold publish failed: ${cold.failures.mkString("; ")}")
  }

  override def warmUp(m: Measure): Unit = {
    (1 until Grids).foreach(publishNrt(_, m))
    (1 to Grids).foreach(_ => step(m))
  }

  override def step(m: Measure): Unit = {
    unit += 1
    spanUnit = m.unitId()
    val k = unit % Grids
    val src = sources(k)
    val block = (unit - 1) / 4
    val publish = (unit - 1) % 4 == (Gen.uniform(a.seed, block, 7, 7) * 4).toInt
    if (publish) {
      val snap = ep.grid(src.id)
      val t0 = System.nanoTime()
      val (rows, item, w) = tracer.span("grid.publish", spanUnit) {
        val rows = scan(k, None, Some(src.epoch(snap.slices - PublishSlices)))
        val grid = assemble(src, rows)
        val w0 = System.nanoTime()
        val item = tracer.span("imagery.write", spanUnit)(portal.publishImagery(f"grid-$unit%06d", grid))
        (rows, item, System.nanoTime() - w0)
      }
      val t1 = System.nanoTime()
      m.offClock {
        val back = GridNc.read(Files.readAllBytes(file(item)))
        if (m.check(s"grid-$unit publish", Seq(
            Option.when(rows.length != PublishSlices * src.cells)(
              s"scanned ${rows.length} cells, hyperslab ${PublishSlices * src.cells}"),
            Option.when(back.dimLen("time") != PublishSlices)(
              s"imagery time length ${back.dimLen("time")}, expected $PublishSlices")).flatten)) {
          m.sample(t1 - t0, rows.length)
          if (m.recording) { writeNs += w; bytesWritten += Files.size(file(item)) }
        }
      }
    } else {
      val (item, held) = nrt(k)
      val snap = ep.grid(src.id).appendSlice()
      ep.put(snap)
      val written = System.nanoTime()
      val size0 = Files.size(file(item))
      val t0 = System.nanoTime()
      val (rows, appended, w) = tracer.span("grid.refresh", spanUnit) {
        val rows = scan(k, Some(src.epoch(held - 1)), None)
        val grid = assemble(src, rows)
        val w0 = System.nanoTime()
        val p = portal
        val n = tracer.span("imagery.write", spanUnit)(p.refreshImagery(item.asInstanceOf[p.Item], grid))
        (rows, n, System.nanoTime() - w0)
      }
      val t1 = System.nanoTime()
      m.offClock {
        val fresh = snap.slices - held
        nrt(k) = (item, snap.slices)
        if (m.check(s"grid-$unit refresh ${src.id}", Seq(
            Option.when(rows.length != fresh * src.cells)(s"scanned ${rows.length} cells, hyperslab ${fresh * src.cells}"),
            Option.when(appended != fresh)(s"appended $appended slices, expected $fresh"),
            Option.when(storedSlices(item) != snap.slices)(
              s"imagery holds ${storedSlices(item)} slices, expected ${snap.slices}")).flatten)) {
          m.sample(t1 - t0, rows.length, Some(t1 - written))
          if (m.recording) { writeNs += w; bytesWritten += Files.size(file(item)) - size0 }
        }
      }
    }
  }

  override def layers(units: Int): Seq[(String, Double, String)] = {
    val u = math.max(units, 1).toDouble
    Seq(("imagery.bytes_written", bytesWritten / u, "bytes"), ("imagery.write_ms", writeNs / 1e6 / u, "ms"))
  }

  override def close(): Unit = if (ep != null) { ep.stop(); ep = null }
}
