package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SparkTestSession

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"

  /** File streaming sources need a DIRECTORY; stage the events parquet
    * into one. */
  lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sfDir/events.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  test("tableFingerprint: order-independent, content+count sensitive") {
    val a = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val b = Seq((2, "y"), (1, "x")).toDF("id", "v") // same rows, other order
    val c = Seq((1, "x"), (2, "z")).toDF("id", "v")
    val d = Seq((1, "x")).toDF("id", "v")
    assert(Nrt.tableFingerprint(a) == Nrt.tableFingerprint(b))
    assert(Nrt.tableFingerprint(a) != Nrt.tableFingerprint(c))
    assert(Nrt.tableFingerprint(a) != Nrt.tableFingerprint(d))
  }

  test("tableFingerprint: even-multiplicity differences do not cancel") {
    // {A,A,B} vs {B,C,C}: equal counts, equal XOR — a pure XOR fold
    // calls these identical; the SUM moment must separate them.
    val aab = Seq((1, "A"), (1, "A"), (2, "B")).toDF("id", "v")
    val bcc = Seq((2, "B"), (3, "C"), (3, "C")).toDF("id", "v")
    assert(Nrt.tableFingerprint(aab) != Nrt.tableFingerprint(bcc))
    // duplicating an existing row twice: XOR and content-set unchanged
    val base = Seq((1, "A"), (2, "B")).toDF("id", "v")
    val dupd = Seq((1, "A"), (1, "A"), (1, "A"), (2, "B")).toDF("id", "v")
    assert(Nrt.tableFingerprint(base) != Nrt.tableFingerprint(dupd))
  }

  test("refresh cycle: first run publishes, unchanged second run no-ops, change flips slot") {
    val root = java.nio.file.Files.createTempDirectory("nrt").toString
    val portalRoot = java.nio.file.Files.createTempDirectory("nrt_portal").toString
    val t = graft.sinks.PortalTransport(portalRoot)
    val now = Timestamp.valueOf("2024-01-30 00:00:00")

    val events = graft.Tables.load(spark, sfDir, "events")
    def read1(id: String) = Nrt.movingWindow(events, "ts", now, 7)
      .select("event_id", "ts", "user_id", "value")

    // run 1: no stored fingerprint → publish to the inactive slot, flip
    val out1 = Nrt.refreshCycleViaPortal(spark, Seq("ds1"), read1, t, root,
      now.getTime)
    assert(out1.head.changed)
    val item = t.findByTitle("ds1").get
    val slot1 = t.props(item.id)("activeSlot")
    val published = spark.read.parquet(Nrt.activePath(root, "ds1", slot1))
    assert(published.count() == out1.head.rows && published.count() > 0)

    // run 2: same data → fingerprint match → no-op, slot stays
    val later = now.getTime + 3600000L
    val out2 = Nrt.refreshCycleViaPortal(spark, Seq("ds1"), read1, t, root, later)
    assert(!out2.head.changed)
    assert(t.props(item.id)("activeSlot") == slot1)
    // but the item was touched (reference touches views even on no-op)
    assert(graft.sinks.Portal.forRoot(portalRoot).itemById(item.id)
      .lastTouched == later)

    // run 3: window moved → different content → republish to the other slot
    val now2 = Timestamp.valueOf("2024-01-25 00:00:00")
    def read2(id: String) = Nrt.movingWindow(events, "ts", now2, 7)
      .select("event_id", "ts", "user_id", "value")
    val out3 = Nrt.refreshCycleViaPortal(spark, Seq("ds1"), read2, t, root,
      now2.getTime)
    assert(out3.head.changed)
    assert(t.props(item.id)("activeSlot") != slot1)
  }

  test("duePlan: stale or advanced datasets are selected") {
    val control = Seq(
      ("fresh", "u", "a", 1L, Timestamp.valueOf("2024-01-10 00:00:00"),
        Timestamp.valueOf("2099-01-01 00:00:00")), // refreshed far future → not due
      ("advanced", "u", "a", 1L, Timestamp.valueOf("2024-01-10 00:00:00"),
        Timestamp.valueOf("2099-01-01 00:00:00")), // src newer → due
      ("aged", "u", "a", 1L, Timestamp.valueOf("2024-01-10 00:00:00"),
        Timestamp.valueOf("2020-01-01 00:00:00"))  // last refresh old → due
    ).toDF("dataset_id", "base_url", "active_slot", "fingerprint",
      "last_modified", "last_refresh")
    val src = Seq(
      ("fresh", Timestamp.valueOf("2024-01-09 00:00:00")),
      ("advanced", Timestamp.valueOf("2024-02-01 00:00:00")),
      ("aged", Timestamp.valueOf("2024-01-09 00:00:00"))
    ).toDF("dataset_id", "last_modified")
    val due = Nrt.duePlan(control, src).select("dataset_id")
      .as[String].collect().sorted
    assert(due.toSeq == Seq("advanced", "aged"))
  }

  test("streaming: watermarked hourly window over the events file source") {
    val events = EventStream.readEvents(spark, eventsDir)
    assert(events.isStreaming)
    val q = EventStream.hourlyCounts(events)
      .writeStream.outputMode("append").format("memory")
      .queryName("hourly_out").start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; with one batch
      // the watermark advances to max(ts)-1h, so all but the tail emit
      val got = spark.table("hourly_out")
      val batchEquivalent = graft.Tables.load(spark, sfDir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("win_start"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      assert(got.count() > 0)
      assert(got.count() <= batchEquivalent.count())
      // every emitted window matches the batch computation exactly
      val joined = got.alias("s").join(batchEquivalent.alias("b"),
        Seq("win_start", "event_type"))
        .filter(col("s.n") =!= col("b.n"))
      assert(joined.count() == 0)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join exactly") {
    val events = EventStream.readEvents(spark, eventsDir)
      .withColumn("ts", date_trunc("second", col("ts")))
    def sideOf(df: org.apache.spark.sql.DataFrame, t: String) =
      df.filter(col("event_type") === t)
        .select(col("user_id"), col("event_id"), col("ts"))
    val q = EventStream.intervalJoin(sideOf(events, "purchase"),
        sideOf(events, "click"), "user_id", "ts", windowSeconds = 7200)
      .select(col("_l.user_id").as("user_id"),
        col("_l.event_id").as("pid"),
        date_trunc("second", col("_lts")).as("pts"),
        col("_r.event_id").as("cid"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ivj_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ivj_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      val ev = graft.Tables.load(spark, sfDir, "events")
        .withColumn("ts", date_trunc("second", col("ts")))
      val p = sideOf(ev, "purchase").withColumnRenamed("event_id", "pid")
      val c = sideOf(ev, "click").withColumnRenamed("event_id", "cid")
        .withColumnRenamed("ts", "cts")
      val want = p.join(c, Seq("user_id"))
        .filter(col("cts") <= col("ts") &&
          col("cts") >= col("ts") - expr("INTERVAL 7200 SECONDS"))
        .select("user_id", "pid", "cid")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.nonEmpty && got == want)
    } finally q.stop()
  }

  test("streaming: processing-time NRT full-replace refresh") {
    val events = EventStream.readEvents(spark, eventsDir)
    val q = EventStream.nrtRefresh(events, intervalMs = 100)
      .queryName("nrt_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("nrt_out")
      val expect = graft.Tables.load(spark, sfDir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      assert(got.count() == expect.count())
    } finally q.stop()
  }

  test("streaming dedup within watermark drops duplicate keys") {
    val d = java.nio.file.Files.createTempDirectory("dedup_stream")
    // two copies of the same events → duplicates by event_id
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id")
    ev.unionAll(ev).coalesce(1).write.parquet(d.toString + "/in")
    val schema = spark.read.parquet(d.toString + "/in").schema
    val stream = spark.readStream.schema(schema).parquet(d.toString + "/in")
    val q = EventStream.dedupWithinWatermark(stream, Seq("event_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == ev.count())
    } finally q.stop()
  }

  test("stateless curation ops run unchanged on a stream (chunk, scrub, gopher)") {
    // the Spark-first payoff: chunkDocuments / scrubPii / gopherFilter
    // are narrow plans, so the SAME operator code runs under
    // readStream with no rewrite and matches the batch result exactly
    val d = java.nio.file.Files.createTempDirectory("docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sfDir/documents.parquet"),
      d.resolve("part-0.parquet"))
    val batchDocs = graft.Tables.load(spark, sfDir, "documents")
    val stream = spark.readStream.schema(batchDocs.schema).parquet(d.toString)
    assert(stream.isStreaming)

    val streamed = graft.operators.TextAnalysis.gopherFilter(
      graft.operators.TextAnalysis.scrubPii(
        graft.operators.TextAnalysis.chunkDocuments(
          stream, "text", "doc_id", chunkTokens = 32, stride = 16)
          .withColumnRenamed("chunk_text", "text"),
        "text"),
      "text_clean", "doc_id", minTokens = 5, maxTokens = 32,
      maxTopUnigramFrac = 0.5, maxDupBigramFrac = 0.6)
    val q = streamed.writeStream.outputMode("append").format("memory")
      .queryName("curation_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("curation_out")
      val expect = graft.operators.TextAnalysis.gopherFilter(
        graft.operators.TextAnalysis.scrubPii(
          graft.operators.TextAnalysis.chunkDocuments(
            batchDocs, "text", "doc_id", chunkTokens = 32, stride = 16)
            .withColumnRenamed("chunk_text", "text"),
          "text"),
        "text_clean", "doc_id", minTokens = 5, maxTokens = 32,
        maxTopUnigramFrac = 0.5, maxDupBigramFrac = 0.6)
      assert(got.count() > 0)
      assert(got.count() == expect.count())
      assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
    } finally q.stop()
  }

  test("streaming politeness: in-batch md5 order; slots continue across batches") {
    val dir = java.nio.file.Files.createTempDirectory("frontier_t").toString
    def stage(rows: Seq[(Long, String, java.lang.Long)]): Unit =
      rows.toDF("id", "url", "delay_ms").coalesce(1)
        .write.mode("append").parquet(dir)
    stage(Seq(
      (1L, "https://a.com/x", java.lang.Long.valueOf(2000L)),
      (2L, "https://a.com/y", java.lang.Long.valueOf(2000L)),
      (10L, "https://b.org/q", null.asInstanceOf[java.lang.Long])))
    val src = spark.readStream.schema("id LONG, url STRING, delay_ms LONG")
      .parquet(dir)
    val q = Frontier.politenessStream(src, "url", "id", "delay_ms")
      .writeStream.outputMode("append").format("memory")
      .queryName("polite_out").start()
    try {
      q.processAllAvailable()
      // a later-discovered a.com URL must queue BEHIND the slots the
      // domain already handed out — the state the batch scheduler lacks
      stage(Seq((3L, "https://a.com/z", java.lang.Long.valueOf(2000L))))
      q.processAllAvailable()
      val got = spark.table("polite_out").collect()
        .map(r => r.getAs[Long]("id") ->
          ((r.getAs[String]("domain"), r.getAs[Long]("slot"),
            r.getAs[Long]("offsetMs")))).toMap
      // batch 1: md5("1") < md5("2") → slots 1, 2 on a.com
      assert(got(1L) == (("a.com", 1L, 0L)))
      assert(got(2L) == (("a.com", 2L, 2000L)))
      // null delay falls back to the 1000 ms default (slot 1 → offset 0)
      assert(got(10L) == (("b.org", 1L, 0L)))
      // batch 2: continuation, not a restart at slot 1
      assert(got(3L) == (("a.com", 3L, 4000L)))
    } finally q.stop()
  }
}
