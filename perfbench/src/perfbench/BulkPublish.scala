package perfbench

import org.apache.spark.sql.SparkSession

import graft.sinks.{FakeAgolServer, Portal}

/** The tabledap half of `publish`: 4 stations, each a rolling table of
  * [[Rows]] rows. Before each unit the generator rolls one station
  * forward an hour; the unit reads the whole table through the ERDDAP
  * source in 4 time chunks and writes it with `df.write.format("portal")`
  * to a new item over the REST transport, so the unchanged-data fast
  * path never short-circuits a unit. */
final class BulkPublish(a: Args, tracer: Tracer) extends Part {
  val Datasets = 4
  val Rows = 16000L
  val Chunks = 4
  val Cadence = 180
  val AppendRows = 3600 / Cadence

  private var spark: SparkSession = _
  private var ep: ErddapEndpoint = _
  private var agol: FakeAgolServer = _
  private var sources: IndexedSeq[TableSource] = IndexedSeq.empty
  private var stageRoot = ""
  private var round = 0
  private var unit = 0
  private lazy val order = Gen.permutation(a.seed, Datasets)
  private var bytesUploaded = 0L

  override def endpoints: Seq[ErddapEndpoint] = Seq(ep)

  override def setUp(s: SparkSession): Unit = {
    close()
    round += 1
    spark = s
    val dir = a.work.resolve(s"bulk-$round")
    sources = (0 until Datasets).map(k => new TableSource(f"bulk_$k%02d", k, a.seed, Gen.Epoch0, Cadence))
    ep = new ErddapEndpoint()
    sources.foreach(src => ep.put(TableSnap.build(src, 0, Rows)))
    agol = new FakeAgolServer(new Portal(dir.resolve("portal").toString), Main.User, Main.Pass)
    stageRoot = dir.resolve("staging").toString
    Tabledap.checkSchema(spark, ep, sources.head)
    val cold = new Measure(recording = false)
    step(cold)
    require(cold.failed == 0, s"cold publish failed: ${cold.failures.mkString("; ")}")
  }

  override def warmUp(m: Measure): Unit = (1 to Datasets).foreach(_ => step(m))

  override def step(m: Measure): Unit = {
    unit += 1
    val id = sources(order(unit % Datasets)).id
    val title = f"bulk-$unit%06d"
    val s = ep.table(id)
    ep.put(s.advance(s.first + AppendRows, s.end + AppendRows))
    val spanUnit = m.unitId()
    val t0 = System.nanoTime()
    tracer.span("bulk.publish", spanUnit) {
      val df = tracer.span("erddap.load", spanUnit)(Tabledap.load(spark, ep, id, (Rows + Chunks - 1) / Chunks))
      tracer.span("portal.write", spanUnit) {
        df.write.format("portal")
          .option("root", stageRoot).option("item", title)
          .option("portalUrl", agol.base).option("username", Main.User).option("password", Main.Pass)
          .mode("append").save()
      }
    }
    val t1 = System.nanoTime()
    m.offClock {
      val item = agol.portal.findByTitle(title)
      val rows = item.flatMap(i => agol.portal.itemById(i.id).serviceProps.get("rows"))
      val uploaded = item.flatMap(i => agol.dataStore.remove(i.id)).map(_.length.toLong).getOrElse(0L)
      if (m.check(s"$title ($id)", Seq(
          Option.when(item.isEmpty)("no item published"),
          Option.when(rows != Some(Rows.toString))(s"item rows $rows, generated $Rows"),
          Option.when(uploaded == 0)("no payload uploaded")).flatten)) {
        m.sample(t1 - t0, Rows)
        if (m.recording) bytesUploaded += uploaded
      }
    }
  }

  override def layers(units: Int): Seq[(String, Double, String)] =
    Seq(("portal.bytes_uploaded", bytesUploaded.toDouble / math.max(units, 1), "bytes"))

  override def close(): Unit = {
    if (agol != null) { agol.stop(); agol = null }
    if (ep != null) { ep.stop(); ep = null }
  }
}
