package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.{FakeAgolServer, Portal, PortalTransport}
import graft.streaming.Nrt

/** Reads a generated tabledap dataset through the production ERDDAP
  * source over HTTP, and checks the schema it plans. */
object Tabledap {
  def load(spark: SparkSession, ep: ErddapEndpoint, id: String, chunkSize: Long = 100000L): DataFrame =
    spark.read.format("erddap").option("dataDir", ep.base).option("dataset", id)
      .option("chunkSize", chunkSize.toString).load()

  /** Every generated non-QC column, and nothing else, in DAS order. */
  def checkSchema(spark: SparkSession, ep: ErddapEndpoint, src: TableSource): Unit = {
    val got = load(spark, ep, src.id).schema.fieldNames.toSeq
    require(got == src.nonQc, s"${src.id}: read schema $got, generated non-QC columns ${src.nonQc}")
  }
}

/** `nrt_refresh`: 12 stations of 30 days at 3-minute cadence, each
  * refreshed through `Nrt.refreshCycleViaPortal` with a 7-day window
  * ending at its newest observation, over the REST portal transport.
  * Before each cycle the generator appends one hour to 4 stations, in
  * a rotation that changes every station once per 3 cycles, so a
  * third of the refreshes overwrite and two thirds are no-ops. */
final class NrtRefresh(a: Args, tracer: Tracer) extends Workload {
  val Datasets = 12
  val PerCycle = 4
  val Cadence = 180
  val Rows: Long = 30L * 86400 / Cadence
  val AppendRows = 3600 / Cadence
  val WindowDays = 7

  private var spark: SparkSession = _
  private var ep: ErddapEndpoint = _
  private var agol: FakeAgolServer = _
  private var portal: TimedPortalTransport = _
  private var sources: IndexedSeq[TableSource] = IndexedSeq.empty
  private var sinkRoot = ""
  private var round = 0
  private var cycle = 0
  private val written = new ConcurrentHashMap[String, java.lang.Long]()
  /** id -> (readFresh start = load start, load end, readFresh end). */
  private val reads = new ConcurrentHashMap[String, (Long, Long, Long)]()

  private var refreshes = 0L
  private var noops = 0L
  private var cycleNs = 0L
  private var cycles = 0L
  private var fingerprintNs = 0L
  private var slotWriteNs = 0L
  private var restNs = 0L
  private var restCalls = 0L

  override def endpoints: Seq[ErddapEndpoint] = Seq(ep)
  override def stepMultiple: Int = Datasets / PerCycle
  /** 12 cycles = 144 refreshes. 9 would meet the p90 sample rule;
    * the extra cycles steady the percentiles on a shared host. */
  override def minSteps: Int = 12
  override def warmSteps: Int = 1

  /** Refresh order: the stations in a seeded permutation. */
  private var ids: IndexedSeq[String] = IndexedSeq.empty

  private def readFresh(id: String): DataFrame = {
    val t0 = System.nanoTime()
    val df = Tabledap.load(spark, ep, id)
    val t1 = System.nanoTime()
    val s = ep.table(id)
    val out = Nrt.movingWindow(df, "time", new java.sql.Timestamp(s.src.epoch(s.end - 1) * 1000L), WindowDays)
    reads.put(id, (t0, t1, System.nanoTime()))
    out
  }

  /** Rows in the dataset's refresh window, from the generator's side. */
  private def windowRows(id: String): Long = {
    val s = ep.table(id)
    val from = s.src.epoch(s.end - 1) - WindowDays * 86400L
    s.end - math.max(s.first, Math.floorDiv(from - s.src.start + Cadence - 1, Cadence.toLong))
  }

  private def slots(): Map[String, String] = ids.map { id =>
    id -> agol.portal.findByTitle(id)
      .flatMap(i => agol.portal.itemById(i.id).serviceProps.get("activeSlot")).getOrElse("")
  }.toMap

  override def setUp(s: SparkSession): Unit = {
    close()
    round += 1
    spark = s
    cycle = 0
    written.clear()
    val dir = a.work.resolve(s"nrt-$round")
    sources = (0 until Datasets).map(k => new TableSource(f"nrt_$k%02d", k, a.seed, Gen.Epoch0, Cadence))
    ids = Gen.permutation(a.seed, Datasets).map(sources(_).id).toIndexedSeq
    ep = new ErddapEndpoint()
    sources.foreach(src => ep.put(TableSnap.build(src, 0, Rows)))
    agol = new FakeAgolServer(new Portal(dir.resolve("portal").toString), Main.User, Main.Pass)
    portal = new TimedPortalTransport(PortalTransport(agol.base, Main.User, Main.Pass))
    sinkRoot = dir.resolve("slots").toString
    Tabledap.checkSchema(spark, ep, sources.head)
    val cold = new Measure(recording = false)
    refresh(cold, Seq(ids.head), Set(ids.head))
    require(cold.failed == 0, s"cold publish failed: ${cold.failures.mkString("; ")}")
  }

  /** The first publish of the other stations. */
  override def warmUp(m: Measure): Unit = refresh(m, ids, ids.tail.toSet)

  override def step(m: Measure): Unit = {
    val changed = Gen.changedPositions(Datasets, PerCycle, cycle).map(ids)
    cycle += 1
    changed.foreach { id =>
      val s = ep.table(id)
      ep.put(s.advance(s.first, s.end + AppendRows))
      written.put(id, System.nanoTime())
    }
    refresh(m, ids, changed.toSet)
  }

  /** One `refreshCycleViaPortal` over `batch`; `expect` are the
    * datasets whose refresh must overwrite. */
  private def refresh(m: Measure, batch: Seq[String], expect: Set[String]): Unit = {
    val before = m.offClock(slots())
    val c0 = System.nanoTime()
    portal.drain()
    val outcomes = Nrt.refreshCycleViaPortal(spark, batch, readFresh, portal, sinkRoot)
    val c1 = System.nanoTime()
    val calls = portal.drain().sortBy(_.start)
    m.offClock {
      val after = slots()
      val cycleSpan = tracer.record("nrt.cycle", c0, c1, 0, -1)
      if (m.recording) { cycleNs += c1 - c0; cycles += 1 }
      outcomes.foreach { o =>
        val id = o.datasetId
        val shouldChange = expect.contains(id)
        val itemId = agol.portal.findByTitle(id).map(_.id).getOrElse("")
        val touchEnd = calls.filter(c => c.method == "touch" && c.item == itemId).map(_.end).maxOption
        val errors = Seq(
          Option.when(o.failed)("refresh failed"),
          Option.when(o.changed != shouldChange)(s"changed=${o.changed}, generator changed=$shouldChange"),
          Option.when(o.changed && o.rows != windowRows(id))(s"rows ${o.rows} != window ${windowRows(id)}"),
          Option.when((before(id) != after(id)) != shouldChange)(s"slot ${before(id)} -> ${after(id)}"),
          Option.when(touchEnd.isEmpty)("item never touched")).flatten
        if (m.check(s"$id cycle $cycle", errors)) {
          val (rs, le, re) = reads.get(id)
          val end = touchEnd.get
          m.sample(end - rs, windowRows(id), Option.when(o.changed && written.containsKey(id))(end - written.get(id)))
          val mine = calls.filter(c => c.start >= rs && c.end <= end)
          val props = mine.filter(_.method == "props")
          val fp = props.headOption.flatMap(p => mine.find(_.start >= p.end).map(n => (p.end, n.start)))
          val slot = props.lift(1).flatMap(p => mine.find(c => c.method == "update" && c.start >= p.end)
            .map(u => (p.end, u.start)))
          if (m.recording) {
            refreshes += 1
            if (!o.changed) noops += 1
            restCalls += mine.size
            restNs += mine.map(_.dur).sum
            fp.foreach(x => fingerprintNs += x._2 - x._1)
            slot.foreach(x => slotWriteNs += x._2 - x._1)
          }
          if (tracer.enabled) {
            val unit = m.unitId()
            val u = tracer.record("nrt.refresh", rs, end, cycleSpan, unit)
            val r = tracer.record("erddap.read_fresh", rs, re, u, unit)
            tracer.record("erddap.load", rs, le, r, unit)
            mine.foreach(c => tracer.record(s"portal.${c.method}", c.start, c.end, u, unit))
            fp.foreach(x => tracer.record("nrt.fingerprint", x._1, x._2, u, unit))
            slot.foreach(x => tracer.record("nrt.slot_write", x._1, x._2, u, unit))
          }
        }
      }
    }
  }

  override def layers(units: Int): Seq[(String, Double, String)] = {
    val n = math.max(units, 1).toDouble
    Seq(
      ("nrt.noop_ratio", if (refreshes == 0) 0.0 else noops.toDouble / refreshes, "ratio"),
      ("nrt.fingerprint_ms", fingerprintNs / 1e6 / n, "ms"),
      ("nrt.slot_write_ms", slotWriteNs / 1e6 / n, "ms"),
      ("nrt.cycle_s", if (cycles == 0) 0.0 else cycleNs / 1e9 / cycles, "s"),
      ("portal.rest_calls", restCalls / n, "count"),
      ("portal.rest_ms", restNs / 1e6 / n, "ms"))
  }

  override def close(): Unit = {
    if (agol != null) { agol.stop(); agol = null }
    if (ep != null) { ep.stop(); ep = null }
  }
}
