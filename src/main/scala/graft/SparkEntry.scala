package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{AudioCodec, Geometry, GifCodec, HtmlOps, ImageCodec, Mojibake, RobotsOps, Sitemap, TiffCodec, VideoCodec, WarcCodec}
import graft.functions.Extraction.{Add, Concat, Length, Mult, Offset, Start, pipeline}
import graft.operators.{Dedup, EventAnalytics, Glider, LinkGraph, Multimodal, Relational, Similarity, Sketches, Spatial, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each [[gates]] entry exercises one operator family from SURVEY.md §2
  * (or a training-data-pipeline extension) against the driver's
  * synthetic tables and carries its DuckDB-equivalent oracle SQL. Column
  * names and types are aligned on both sides (the driver hash-compares
  * after sorting columns by name).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Trained BPE merges per sfDir (see the bpe_encode gate), keyed on
    * the documents table's on-disk fingerprint (file names + sizes +
    * mtimes) so a regenerated table in the same JVM retrains instead of
    * silently encoding with stale merges. */
  private val bpeMergeCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Seq[(String, String)]]

  /** The 8 trained merges for `dir`'s documents table — memoized per
    * on-disk fingerprint: training is the bpe_merges gate's cost; the
    * encode-side gates measure their projections, and re-planning them
    * (bench iterations, ExplainCheck) must not retrain. */
  private def trainedMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergeCache.getOrElseUpdate(
      (dir, tableFingerprint(dir, "documents")),
      TextAnalysis.trainBpeMerges(t(s, dir, "documents"), "text",
        numMerges = 8, minPairCount = 1)
        .orderBy("rank").collect()
        .map(r => r.getAs[String]("lhs") -> r.getAs[String]("rhs")).toSeq)

  /** Deterministic crawl-style URL per document (sub/site/tld all
    * affine in doc_id) — the url_domains/domain_cap gates' input; the
    * oracle recomputes host/domain from the same rule without parsing. */
  private def synthUrl: org.apache.spark.sql.Column =
    concat(lit("https://"),
      element_at(array(lit("www"), lit("api"), lit("cdn"), lit("blog")),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int")),
      lit(".site"), pmod(col("doc_id"), lit(11)).cast("string"),
      element_at(array(lit(".com"), lit(".co.uk"), lit(".org")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")),
      lit("/p/"), col("doc_id").cast("string"), lit("?u=1"))

  /** The bm25_topk gate's fixed query set — one definition, mirrored
    * term-by-term in the oracle's VALUES list. */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark window join",
    2L -> "vector scan batch",
    3L -> "customer hash merge sort")

  private def tableFingerprint(dir: String, name: String): Long = {
    val root = new java.io.File(dir, name + ".parquet")
    val files =
      if (root.isDirectory) root.listFiles().toSeq.sortBy(_.getName)
      else Seq(root)
    files.foldLeft(17L) { (h, f) =>
      ((h * 31 + f.getName.hashCode) * 31 + f.length) * 31 + f.lastModified
    }
  }

  /** One live output dir per streaming gate tag: a new run for the same
    * tag deletes the previous run's dir (so bench iterations can't
    * accumulate result sets), and a JVM shutdown hook sweeps whatever
    * is live at exit. Checkpoints are deleted as soon as the query
    * terminates — they're pure waste once AvailableNow drains. */
  private val liveStreamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private lazy val streamDirSweeper: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      liveStreamDirs.values().forEach(deleteTree)))
  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(f =>
          try java.nio.file.Files.deleteIfExists(f) catch { case _: Exception => })
    }

  /** Run a streaming transform end-to-end (AvailableNow) through a
    * PARQUET sink + checkpoint — the production shape: output stays
    * distributed and exactly-once, never collected to the driver, so
    * a gate whose result scales with the input (t4 emits one row per
    * session) works at ANY scale factor. (The previous memory sink
    * held every row driver-side and had to cap at 100k rows — t4
    * tripped it at sf1.) Stateful streaming uses 8 shuffle partitions
    * (state-store provider count follows shuffle partitions). The
    * returned DataFrame reads the latest run's files lazily; a LATER
    * run of the same tag invalidates it (bench/verify consume each
    * result before re-invoking the gate). */
  /** Per-tag (setup_sec, work_sec) of the LAST streaming-gate run:
    * work = sum of the micro-batch `triggerExecution` durations from
    * the query's progress events, setup = wall minus work (stream
    * construction, checkpoint init, source listing, shutdown). Bench
    * reads this so the 2×-budget comparison can see how much of a
    * streaming gate's wall time is fixed micro-batch choreography
    * rather than data work. */
  val streamGateTimings =
    new java.util.concurrent.ConcurrentHashMap[String, (Double, Double)]()

  /** Shared fixture for the incremental-SemDeDup gates: centroids
    * trained on the corpus split (deterministic ordered-sample Lloyd —
    * cheap, retrained per call) and the cluster-partitioned IVF index
    * written once per sfDir (marker-guarded). */
  private def ensureSemDedupIndex(s: SparkSession,
      dir: String): (String, Array[Array[Double]]) = {
    val corpus = t(s, dir, "embeddings").filter(col("vec_id") % 10 =!= 0)
    val cents = Similarity.trainCentroids(corpus, "embedding", 64,
      iters = 3, sampleN = 2000, orderBy = "vec_id")
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    // The index dir is keyed on BOTH the source-parquet fingerprint
    // (regenerated testdata) and the trained centroids themselves (a
    // training change retrains in-memory but would otherwise probe a
    // stale on-disk index partitioned by the OLD centroids) — either
    // mismatch lands in a fresh dir and rebuilds.
    val centCrc = {
      val crc = new java.util.zip.CRC32()
      val bb = java.nio.ByteBuffer.allocate(8)
      cents.foreach(_.foreach { d =>
        bb.clear(); bb.putDouble(d); crc.update(bb.array()) })
      java.lang.Long.toHexString(crc.getValue)
    }
    // v2 = the index format carries the build-time `_crank` probe rank
    val tag = s"${Tables.contentTag(dir, "embeddings")}_${centCrc}_v2"
    val idxDir = java.nio.file.Path.of(
      System.getProperty("java.io.tmpdir"), s"graft_semdedup_idx_${safe}_$tag")
    val marker = idxDir.resolve("_READY")
    if (!java.nio.file.Files.exists(marker)) {
      Similarity.writeIvfIndex(corpus, "vec_id", "embedding", cents,
        idxDir.resolve("ivf").toString)
      java.nio.file.Files.writeString(marker, "ok")
    }
    (idxDir.resolve("ivf").toString, cents)
  }

  private def runStreamingGate(s: SparkSession, dir: String, tag: String,
      table: String = "events")(
      transform: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    streamDirSweeper // install the exit sweep once
    val outDir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_out")
    val ckDir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_ck")
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    // recentProgress is ring-buffered (default 100 entries) — a gate
    // running more micro-batches would silently under-count `work` in
    // the stream_split metric; raise the cap for the gate's lifetime
    val progressKey = "spark.sql.streaming.numRecentProgressUpdates"
    val prevProgress = s.conf.getOption(progressKey)
    val schema = try {
      // 8 state partitions on the default HDFS-backed state store: at
      // this fixture's ~100k keys/batch neither 4/16/32 partitions
      // (OPTIMIZATION_r15.md "Streaming gates") nor RocksDB
      // (OPTIMIZATION_r16.md §3) won a paired A/B
      s.conf.set("spark.sql.shuffle.partitions", "8")
      s.conf.set(progressKey, "10000")
      val t0 = System.nanoTime()
      val src =
        if (table == "events")
          graft.streaming.EventStream.readEvents(s, s"$dir/events.parquet")
        else graft.streaming.EventStream.readParquetStream(s, s"$dir/$table.parquet")
      val out = transform(src)
      val q = out.writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckDir.toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val work = q.recentProgress.iterator.map { p =>
        Option(p.durationMs.get("triggerExecution"))
          .fold(0.0)(_.doubleValue() / 1000.0)
      }.sum
      streamGateTimings.put(tag, (math.max(0.0, wall - work), work))
      out.schema
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      prevProgress match {
        case Some(v) => s.conf.set(progressKey, v)
        case None => s.conf.unset(progressKey)
      }
      deleteTree(ckDir)
    }
    Option(liveStreamDirs.put(tag, outDir)).foreach(deleteTree)
    // explicit schema: an empty result leaves no data files to infer from
    s.read.schema(schema).parquet(outDir.toString)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The §3.1 pipeline shape: time-windowed projection over the
    * observation table, QC-style pruning, per-key extent + chunk plan. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
    Relational.chunkPlan(
      Relational.timeRange(li, "l_shipdate", "1993-01-01", "1998-12-31"),
      "l_returnflag", "l_shipdate", 1000L)
  }

  /** One gate: `run` builds its frame from a session and an sf directory;
    * `oracle` is the DuckDB-equivalent SQL the driver hash-compares it
    * against.
    *
    * `lazyPin` marks a gate whose RETURNED frame lazily references a
    * pinned snapshot the operator cannot release itself (only the
    * consumer knows when the result is drained) — the documented
    * exceptions to the harness storage-hygiene invariant (Verify/Bench
    * assert zero residual pins after draining every OTHER gate). Keep
    * each one justified: a lazy pin without a reason is a leak with an
    * alibi. Reasons (audited round 13 via SPARK_GRAFT_PIN_AUDIT=warn):
    *  - iterative graph ops (pagerank/ppr/hits/labelprop/coreness/
    *    ktruss/harmonic): the result IS the final round's checkpointed
    *    state (superseded rounds are released inside the loop) — 1-2
    *    pins each; triangle_counts additionally returns a frame that
    *    reads its degree + orientation pins (3);
    *  - reciprocity_links: result reads the deduped edge pin;
    *  - dedup_jaccard_prefix(_distinct): the PPJoin candidate set is
    *    pinned and re-read by the verify re-join the result wraps;
    *  - r15 optimization pins (dsir_select, bm25_topk, keyness_terms,
    *    pmi_pairs, dedup_ngram_jaccard): the returned frame lazily reads
    *    a feature relation pinned so its expensive tokenize+hash subtree
    *    runs once instead of 2-3× per call (a logreg feature pin was
    *    tried and reverted in r15 — the logreg gates are deliberately
    *    NOT lazy-pin gates).
    *
    * `frozen` marks the 50 gates of [[Bench.frozenGates]]. */
  final case class Gate(run: (SparkSession, String) => DataFrame, oracle: String,
      lazyPin: Boolean = false, frozen: Boolean = false)

  /** Every gate by name. Lazy: the oracles read the fragment vals below,
    * which a strict val here would see uninitialized. */
  lazy val gates: Map[String, Gate] = Map(
    // ---- §2.5 aggregation: TPC-H Q1 pricing summary (A1/A2 analog) ----
    "q1_agg" -> Gate((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin, frozen = true),

    // ---- S2/P11 catalog scan ----
    "s2_catalog_scan" -> Gate((s, dir) => {
      Relational.catalogScan(t(s, dir, "supplier"), "s_name", "s_name")
        .select(col("s_suppkey").as("dataset_id"), col("s_name").as("title"))
    }, oracle =
      """SELECT s_suppkey AS dataset_id, s_name AS title FROM supplier
        |WHERE s_name <> 'allDatasets' AND s_name IS NOT NULL AND s_name <> ''""".stripMargin, frozen = true),

    // ---- S3 full-text search ----
    "s3_text_search" -> Gate((s, dir) => {
      Relational.textSearch(t(s, dir, "part"), "p_name", "widget")
        .select(col("p_partkey"), col("p_name"))
    }, oracle =
      "SELECT p_partkey, p_name FROM part WHERE lower(p_name) LIKE '%widget%'"),

    // ---- S4/T1 trailing 7-day window (NRT recency) ----
    "s4_recent_window" -> Gate((s, dir) => {
      Relational.recentWindow(t(s, dir, "events"), "ts", 7)
        .select(col("event_id"), date_trunc("second", col("ts")).as("ts_s"),
          col("user_id"), col("event_type"))
    }, oracle =
      """SELECT event_id, date_trunc('second', ts) AS ts_s, user_id, event_type
        |FROM events WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY""".stripMargin),

    // ---- P1/P2 projection + time-range pushdown ----
    "p2_time_range" -> Gate((s, dir) => {
      val li = Relational.timeRange(t(s, dir, "lineitem"), "l_shipdate",
        "1995-01-01 00:00:00", "1995-12-31 23:59:59")
      Relational.projectTimeFirst(li, "l_shipdate",
        Seq("l_orderkey", "l_linenumber", "l_quantity"))
    }, oracle =
      """SELECT l_shipdate, l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '1995-12-31 23:59:59'""".stripMargin),

    // ---- P8 all-null column drop (no-op on this data, checks plumbing) --
    "p8_null_prune" -> Gate((s, dir) =>
      Relational.dropAllNullColumns(t(s, dir, "events"))
        .withColumn("ts", date_trunc("second", col("ts"))),
      oracle = """SELECT event_id, date_trunc('second', ts) AS ts, user_id, event_type,
        | value, props FROM events""".stripMargin, frozen = true),

    // ---- P9 coordinate validity filter ----
    "p9_dropna" -> Gate((s, dir) =>
      Relational.dropInvalidCoords(t(s, dir, "customer"),
        Seq("c_acctbal")).select(col("c_custkey"), col("c_acctbal")),
      oracle = """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal IS NOT NULL AND NOT isnan(c_acctbal)""".stripMargin),

    // ---- J1 broadcast dim join + revenue rollup ----
    "j1_broadcast_join" -> Gate((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      Relational.dateCacheJoin(
        li.select(col("l_partkey"), col("l_extendedprice"), col("l_discount")),
        part.select(col("p_partkey").as("l_partkey"), col("p_brand")),
        "l_partkey")
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"), count(lit(1)).as("n"))
    }, oracle =
      """SELECT p_brand, round(sum(l_extendedprice*(1-l_discount)),4) AS revenue,
        | count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""".stripMargin),

    // ---- J2/E1 anti join: unpublished candidates ----
    "j2_anti_join" -> Gate((s, dir) =>
      Relational.newMinusExisting(
        t(s, dir, "customer"),
        t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
        "c_custkey").select(col("c_custkey"), col("c_name")),
      oracle = """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin),

    // ---- J4 semi join: existence check ----
    "j4_semi_join" -> Gate((s, dir) =>
      Relational.existsIn(
        t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"),
        t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
        "c_custkey").select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      oracle = """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE c_mktsegment = 'BUILDING'
        |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin, frozen = true),

    // ---- J6 positional (byLayerOrder) join ----
    "j6_positional_join" -> Gate((s, dir) =>
      Relational.positionalJoin(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        Seq(col("n_name")),
        t(s, dir, "region").select(col("r_regionkey"), col("r_name")),
        Seq(col("r_name"))),
      oracle = """WITH n AS (SELECT n_nationkey, n_name,
        |   row_number() OVER (ORDER BY n_name) AS pos FROM nation),
        | r AS (SELECT r_regionkey, r_name,
        |   row_number() OVER (ORDER BY r_name) AS pos FROM region)
        |SELECT n.n_nationkey, n.n_name, r.r_regionkey, r.r_name
        |FROM n JOIN r ON n.pos = r.pos""".stripMargin),

    // ---- A1 per-key time extent ----
    "a1_time_extent" -> Gate((s, dir) =>
      Relational.timeExtent(t(s, dir, "orders"), "o_custkey", "o_orderdate"),
      oracle = """SELECT o_custkey, min(o_orderdate) AS min_time, max(o_orderdate) AS max_time
        |FROM orders GROUP BY o_custkey""".stripMargin, frozen = true),

    // ---- A3 chunk-plan derivation ----
    "a3_chunk_plan" -> Gate((s, dir) =>
      Relational.chunkPlan(t(s, dir, "lineitem"), "l_returnflag",
        "l_shipdate", 1000L),
      oracle = """SELECT l_returnflag, count(*) AS row_count,
        | min(l_shipdate) AS start_time, max(l_shipdate) AS end_time,
        | CAST(ceil(count(*)/1000.0) AS BIGINT) AS chunks
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // ---- A4 geographic extent ----
    "a4_extent" -> Gate((s, dir) =>
      t(s, dir, "customer").agg(
        min(col("c_acctbal")).as("min_bal"), max(col("c_acctbal")).as("max_bal"),
        count(lit(1)).as("n")),
      oracle = """SELECT min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
        | count(*) AS n FROM customer""".stripMargin),

    // ---- W1 glider lead-window line segments ----
    "w1_glider_segments" -> Gate((s, dir) => {
      val pts = t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts"),
        col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("double").as("y"))
      Glider.segments(pts, "user_id", "ts", "x", "y", tieBreak = Seq("event_id"))
    }, oracle =
      """WITH pts AS (
        |  SELECT user_id, event_id, date_trunc('second', ts) AS ts, value AS x,
        |         CAST(props->>'$.k' AS DOUBLE) AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)
        |    AND (props->>'$.k') IS NOT NULL),
        |seg AS (
        |  SELECT lead(user_id) OVER w AS user_id,
        |         lead(event_id) OVER w AS event_id,
        |         lead(ts) OVER w AS ts,
        |         x AS x1, y AS y1,
        |         lead(x) OVER w AS x2, lead(y) OVER w AS y2
        |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, ts, x1, y1, x2, y2 FROM seg
        |WHERE x2 IS NOT NULL AND y2 IS NOT NULL""".stripMargin),

    // ---- W2 calendar bucketing ----
    "w2_calendar_bucket" -> Gate((s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("bucket_start"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total")),
      oracle = """SELECT date_trunc('month', o_orderdate) AS bucket_start, count(*) AS n,
        | round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY 1""".stripMargin),

    // ---- streaming-shaped tumbling-window agg over events ----
    "w3_hourly_window" -> Gate((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("win_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv")),
      oracle = """SELECT date_trunc('hour', ts) AS win_start, event_type,
        | count(*) AS n, round(sum(value),2) AS sv
        |FROM events GROUP BY 1, 2""".stripMargin),

    // ---- T1 end-to-end STREAMING gate: the watermarked tumbling-window
    //      aggregation actually RUNS as a Structured Streaming query
    //      (file source → AvailableNow → memory sink); the oracle is the
    //      batch twin restricted to watermark-closed windows (append
    //      mode emits a window only once the watermark — max event time
    //      minus the 1 h delay — passes its end) ----
    "t1_streaming_hourly" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t1") { events =>
        graft.streaming.EventStream.hourlyCounts(events)
          .select(col("win_start"), col("event_type"), col("n"),
            round(col("sv"), 2).as("sv"))
      },
      // streaming twin: only windows whose END (start + 1h) the final
      // watermark (max ts - 1h delay) has passed are emitted in append
      // mode → win_start + 2h <= max(ts), at microsecond precision (the
      // stream truncates nanos to Spark's µs timestamps)
      oracle = """SELECT date_trunc('hour', ts) AS win_start, event_type,
        | count(*) AS n, round(sum(value),2) AS sv
        |FROM events
        |WHERE date_trunc('hour', ts) + INTERVAL 2 HOUR
        |  <= (SELECT date_trunc('microsecond', max(ts)) FROM events)
        |GROUP BY 1, 2""".stripMargin),

    // ---- T2/streaming-dedup gate: dropDuplicatesWithinWatermark runs
    //      as a real streaming query; projecting the key columns makes
    //      the kept-first-arrival row deterministic (all dup rows are
    //      identical after projection), so the oracle is plain DISTINCT
    "t2_streaming_dedup" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t2") { events =>
        graft.streaming.EventStream
          .dedupWithinWatermark(events, Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type"))
      },
      // streaming dedup keeps the first arrival per key; projected to the
      // key columns the result is exactly the distinct key set
      oracle = "SELECT DISTINCT user_id, event_type FROM events"),

    // ---- T6 streaming KMV: the bottom-k sketch aggregate running
    //      inside a watermarked windowed streaming aggregation —
    //      deterministic, so streaming equals batch equals oracle ----
    "t6_streaming_kmv" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t6") { events =>
        graft.streaming.EventStream.hourlyKmvDistinct(events, "user_id", 64)
      },
      // the hourly-window twin of kmv_distinct: per (hour, type) rank of
      // the same 52-bit hashes; streaming and batch agree because the
      // sketch is deterministic
      oracle = """WITH h AS (SELECT DISTINCT date_trunc('hour', ts) AS win_start,
        |    event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
        |      AS UBIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL
        |    AND date_trunc('hour', ts) + INTERVAL 2 HOUR
        |      <= (SELECT date_trunc('microsecond', max(ts)) FROM events)),
        | r AS (SELECT win_start, event_type, h, row_number()
        |    OVER (PARTITION BY win_start, event_type ORDER BY h) AS rn
        |  FROM h),
        | a AS (SELECT win_start, event_type,
        |    max(CASE WHEN rn <= 64 THEN h END) AS hk,
        |    sum(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS kept
        |  FROM r GROUP BY 1, 2)
        |SELECT win_start, event_type,
        |  CASE WHEN kept < 64 THEN CAST(kept AS DOUBLE)
        |       ELSE (63e0 * 4503599627370496e0) / hk END AS est,
        |  CAST(kept AS INTEGER) AS kept
        |FROM a""".stripMargin),

    // ---- T11 streaming duplication monitor — the NRT dedup_report:
    //      per closed (hour, type), row count + KMV-estimated distinct
    //      payload fingerprints → duplicate-rate estimate; O(k) state
    //      per open window, payload-cardinality-independent ----
    "t11_streaming_dup_rate" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t11") { events =>
        graft.streaming.EventStream.hourlyDupRate(events, "props", 64)
      },
      // batch twin of the streaming dup-rate monitor: same closed-window
      // rule as t6, KMV over the normalized-payload fingerprint
      oracle = """WITH base AS (
        |  SELECT date_trunc('hour', ts) AS win_start, event_type,
        |    md5(trim(regexp_replace(lower(props), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM events WHERE props IS NOT NULL
        |    AND date_trunc('hour', ts) + INTERVAL 2 HOUR
        |      <= (SELECT date_trunc('microsecond', max(ts)) FROM events)),
        | cnt AS (SELECT win_start, event_type, count(*) AS n
        |   FROM base GROUP BY 1, 2),
        | h AS (SELECT DISTINCT win_start, event_type,
        |    CAST(concat('0x', substr(md5(fp), 1, 13)) AS UBIGINT) AS h
        |  FROM base),
        | r AS (SELECT win_start, event_type, h, row_number()
        |    OVER (PARTITION BY win_start, event_type ORDER BY h) AS rn
        |  FROM h),
        | a AS (SELECT win_start, event_type,
        |    max(CASE WHEN rn <= 64 THEN h END) AS hk,
        |    sum(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS kept
        |  FROM r GROUP BY 1, 2),
        | e AS (SELECT a.win_start, a.event_type, cnt.n,
        |    CASE WHEN kept < 64 THEN CAST(kept AS DOUBLE)
        |         ELSE (63e0 * 4503599627370496e0) / hk END AS est_distinct
        |  FROM a JOIN cnt USING (win_start, event_type))
        |SELECT win_start, event_type, n, est_distinct,
        |  round(greatest(0e0, 1e0 - est_distinct / n), 6) AS dup_rate_est
        |FROM e""".stripMargin),

    // ---- T10 streaming anomaly scoring: closed hourly windows
    //      z-scored against a batch stats table over the SAME emitted
    //      window set (t1's +2h cutoff) via a stream-static BROADCAST
    //      join — streaming output equals the batch z-scores exactly ----
    "t10_streaming_anomaly" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t10") { events =>
        val evB = t(s, dir, "events")
        val maxTs = evB.agg(max(col("ts"))).head().getTimestamp(0)
        val hourlyB = evB
          .filter(date_trunc("hour", col("ts")) +
            expr("INTERVAL 2 HOURS") <= lit(maxTs))
          .groupBy(date_trunc("hour", col("ts")).as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val stats = hourlyB.groupBy(col("event_type")).agg(
          count(lit(1)).as("_h"), sum(col("n")).as("_s"),
          sum(col("n") * col("n")).as("_s2"))
        graft.streaming.EventStream.hourlyAnomalyScores(events, stats,
          threshold = 2.0)
      },
      // streaming anomaly = the anomaly_hours formula over t1's emitted
      // (watermark-closed) window set — stats and scores both restricted
      // to hour + 2h <= max ts
      oracle = anomalyOracleSql(" WHERE date_trunc('hour', ts) + INTERVAL 2 HOUR" +
        " <= (SELECT date_trunc('microsecond', max(ts)) FROM events)")),

    // ---- T8 streaming incremental dedup: new docs stream in, the
    //      portable-minhash signature + banding run STATELESS, and a
    //      stream-static band join probes the persisted corpus index —
    //      nothing accumulates in the state store; one row per
    //      matching band (multiplicity = shared-band count) keeps the
    //      plan append-mode with no watermark ----
    "t8_streaming_incremental" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t8", table = "documents") { docs =>
        val idx = Dedup.minhashIndexRows(
          t(s, dir, "documents")
            .filter(col("doc_id") < 500 && col("doc_id") % 2 === 0),
          "text", "doc_id", maxBucket = 0)
        Dedup.incrementalNearDupStream(
          docs.filter(col("doc_id") < 500 && col("doc_id") % 2 === 1),
          idx, "text", "doc_id")
      },
      // the streaming banded join emits one row per matching band — the
      // batch twin is the banded join WITHOUT distinct
      oracle = s"""WITH ${minhashCtes(8, 4, " WHERE doc_id < 500")}
         |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id
         |FROM banded a JOIN banded b ON a.band = b.band
         |WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0""".stripMargin),

    // ---- T7 streaming Count-Min: the sketch-as-relation means its
    //      streaming twin is a plain watermarked windowed count over
    //      (window, d, bucket) — bounded depth×width state per open
    //      window, deterministic, append-emitted on watermark close ----
    "t7_streaming_cms" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t7") { events =>
        graft.streaming.EventStream.hourlyCms(events, "user_id", 4, 256)
      },
      // batch twin of the streaming hourly Count-Min, restricted to
      // watermark-closed windows (same closure rule as t1/t6)
      oracle = """SELECT date_trunc('hour', ts) AS win_start, t.d,
        |  ('0x' || substr(md5(CAST(t.d AS VARCHAR) || ':' ||
        |    CAST(user_id AS VARCHAR)), 1, 13))::UBIGINT % 256 AS bucket,
        |  count(*) AS cnt
        |FROM events, range(4) t(d)
        |WHERE user_id IS NOT NULL
        |  AND date_trunc('hour', ts) + INTERVAL 2 HOUR
        |    <= (SELECT date_trunc('microsecond', max(ts)) FROM events)
        |GROUP BY 1, 2, 3""".stripMargin),

    // ---- T9 streaming politeness: the crawl frontier as a stream —
    //      flatMapGroupsWithState keyed by registered domain holds one
    //      slot counter per domain (state tracks domains, not URLs);
    //      the fixture arrives as one micro-batch, where the in-batch
    //      salted-md5 order makes streaming ≡ the batch scheduler ≡
    //      the crawl_schedule oracle ----
    "t9_streaming_politeness" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t9", table = "documents") { docs =>
        val url = concat(lit("https://site"),
          pmod(col("doc_id"), lit(11)).cast("string"),
          element_at(array(lit(".com"), lit(".co.uk"), lit(".org")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")),
          lit("/p"), col("doc_id"))
        val in = docs.select(col("doc_id"), url.as("url"),
          when(pmod(col("doc_id"), lit(11)) < 4, lit(2000L)).as("delay_ms"))
        graft.streaming.Frontier.politenessStream(in, "url", "doc_id",
            "delay_ms")
          .toDF().select(col("id").as("doc_id"), col("domain"), col("slot"),
            col("offsetMs").as("offset_ms"))
      },
      // single-batch stream ≡ the batch scheduler — same SQL as
      // crawl_schedule
      oracle = """WITH u AS (
        |  SELECT doc_id,
        |    'site' || CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) ||
        |      CASE ((doc_id % 3) + 3) % 3 WHEN 0 THEN '.com'
        |        WHEN 1 THEN '.co.uk' ELSE '.org' END AS domain,
        |    CASE WHEN ((doc_id % 11) + 11) % 11 < 4 THEN 2000 END AS delay_ms
        |  FROM documents),
        | r AS (
        |  SELECT doc_id, domain, delay_ms,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS slot
        |  FROM u)
        |SELECT doc_id, domain, CAST(slot AS BIGINT) AS slot,
        |  CAST((slot - 1) * coalesce(delay_ms, 1000) AS BIGINT) AS offset_ms
        |FROM r""".stripMargin),

    // ---- W4/W5 row numbering + M running increment (scalable two-pass
    //      global numbering — no single-partition window) ----
    "w5_row_number" -> Gate((s, dir) =>
      Relational.globalRowNumber(t(s, dir, "events"),
        Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("rn"),
          round(col("rn") * lit(0.5), 1).as("m")),
      oracle = """SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn,
        | round(row_number() OVER (ORDER BY ts, event_id) * 0.5, 1) AS m
        |FROM events""".stripMargin),

    // ---- O3 pagination ----
    "o3_pagination" -> Gate((s, dir) =>
      Relational.pageSlice(t(s, dir, "part").select(col("p_partkey"), col("p_name")),
        Seq(col("p_partkey")), offset = 50, length = 20),
      oracle = "SELECT p_partkey, p_name FROM part ORDER BY p_partkey LIMIT 20 OFFSET 50"),

    // ---- O4 latest-per-key ----
    "o4_latest" -> Gate((s, dir) =>
      Relational.latestPerKey(t(s, dir, "events"), "user_id", "ts",
        Seq(col("event_id")))
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("ts_s"), col("event_type")),
      oracle = """SELECT user_id, event_id, date_trunc('second', ts) AS ts_s, event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin, frozen = true),

    // ---- O1 descending sort (lat reorder analog) ----
    "o1_sort_desc" -> Gate((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_acctbal").desc, col("c_custkey")),
      oracle = "SELECT c_custkey, c_acctbal FROM customer"),

    // ---- E3 chunk union (K6 collapse) ----
    "e3_union_chunks" -> Gate((s, dir) => {
      val li = t(s, dir, "lineitem")
      val c1 = Relational.timeRange(li, "l_shipdate", "1992-01-01", "1994-12-31 23:59:59")
      val c2 = li.filter(col("l_shipdate") > lit("1994-12-31 23:59:59").cast("timestamp"))
      c1.unionByName(c2).groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("q"))
    }, oracle =
      """SELECT l_linestatus, count(*) AS n, round(sum(l_quantity),2) AS q
        |FROM (SELECT * FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1992-01-01 00:00:00'
        |        AND l_shipdate <= TIMESTAMP '1994-12-31 23:59:59'
        |      UNION ALL
        |      SELECT * FROM lineitem WHERE l_shipdate > TIMESTAMP '1994-12-31 23:59:59')
        |GROUP BY l_linestatus""".stripMargin, frozen = true),

    // ---- skew-salted join (scale path; same result as plain join) ----
    "j7_salted_join" -> Gate((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"))
      val part = t(s, dir, "part").select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Relational.saltedJoin(li, part, "l_partkey", saltFactor = 4)
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 2).as("qty"), count(lit(1)).as("n"))
    }, oracle =
      """SELECT p_brand, round(sum(l_quantity),2) AS qty, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""".stripMargin),

    // ---- J8 backward as-of join (training-pipeline op): latest click
    //      at-or-before each purchase per user — union + carry-forward
    //      window, ONE shuffle on the key, no inequality join ----
    "j8_asof_join" -> Gate((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts", date_trunc("second", col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id")) // unique per (key, ts)
      Relational.asofJoin(purchases, clicks, "user_id", "ts", Seq("click_id"))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("ts_right").as("click_ts"), col("click_id"))
    }, oracle =
      // DuckDB's native ASOF JOIN is the independent semantics check for
      // the union+carry-forward implementation
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS ts FROM events),
        |p AS (SELECT user_id, ts, event_id FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS click_id
        |      FROM e WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id, p.ts, c.ts AS click_ts, c.click_id
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts""".stripMargin),

    // ---- J9 point-in-interval range join (training-pipeline op):
    //      events inside per-nation day windows — interval bins +
    //      equi-join on the bin, never a CartesianProduct/BNLJ ----
    "j9_range_join" -> Gate((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts", date_trunc("second", col("ts")))
        .select(col("ts"), col("value"))
      val iv = t(s, dir, "nation").select(col("n_nationkey"),
        expr("TIMESTAMP '2024-01-01 00:00:00' + make_dt_interval(n_nationkey)").as("lo"),
        expr("TIMESTAMP '2024-01-01 00:00:00' + make_dt_interval(n_nationkey + 2)").as("hi"))
      Relational.rangeJoin(iv, "lo", "hi", ev, "ts", binSeconds = 86400L)
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sv"))
    }, oracle =
      """WITH e AS (SELECT date_trunc('second', ts) AS ts, value FROM events),
        |iv AS (SELECT n_nationkey,
        |  TIMESTAMP '2024-01-01 00:00:00' + n_nationkey * INTERVAL '1 day' AS lo,
        |  TIMESTAMP '2024-01-01 00:00:00' + n_nationkey * INTERVAL '1 day'
        |    + INTERVAL '2 days' AS hi
        |  FROM nation)
        |SELECT n_nationkey, count(*) AS n_events, round(sum(value), 2) AS sv
        |FROM iv JOIN e ON e.ts >= lo AND e.ts <= hi GROUP BY 1""".stripMargin, frozen = true),

    // ---- J10 bloom-pruned exact semi join: the too-big-to-broadcast
    //      membership pattern — probe filter sheds non-members before
    //      the shuffle, exact confirm join kills false positives ----
    "j10_bloom_semi" -> Gate((s, dir) => {
      val keys = t(s, dir, "orders")
        .filter(col("o_orderpriority").startsWith("1"))
        .select(col("o_orderkey"))
      Relational.bloomSemiJoin(t(s, dir, "lineitem"), "l_orderkey",
        keys, "o_orderkey", expectedItems = 100000L, fpp = 0.01)
        .select(col("l_orderkey"), col("l_linenumber"))
    }, oracle =
      // the bloom prefilter is result-invisible: plain semi-join oracle
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority LIKE '1%')""".stripMargin, frozen = true),

    // ---- J11 spatial radius join: deterministic platform positions
    //      minted from the keys, all pairs within 500 km — grid-cell
    //      equi-join + haversine confirm, never a cross join ----
    "j11_spatial_radius" -> Gate((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        ((col("c_custkey") * 7919 % 1200) / 10.0 - 60.0).as("c_lat"),
        ((col("c_custkey") * 104729 % 3600) / 10.0 - 180.0).as("c_lon"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"),
        ((col("s_suppkey") * 7907 % 1200) / 10.0 - 60.0).as("s_lat"),
        ((col("s_suppkey") * 104717 % 3600) / 10.0 - 180.0).as("s_lon"))
      Spatial.withinRadiusJoin(c, su, "c_lat", "c_lon", "s_lat", "s_lon",
        radiusM = 500000.0)
        .select(col("c_custkey"), col("s_suppkey"))
    }, oracle =
      // the grid is pruning only: the oracle is the plain cross join +
      // haversine the operator must equal pair-for-pair
      """WITH c AS (SELECT c_custkey,
        |  (c_custkey*7919 % 1200)/10.0 - 60.0 AS lat,
        |  (c_custkey*104729 % 3600)/10.0 - 180.0 AS lon FROM customer),
        |s AS (SELECT s_suppkey,
        |  (s_suppkey*7907 % 1200)/10.0 - 60.0 AS lat,
        |  (s_suppkey*104717 % 3600)/10.0 - 180.0 AS lon FROM supplier)
        |SELECT c_custkey, s_suppkey FROM c CROSS JOIN s
        |WHERE 2*6371008.8*asin(sqrt(
        |    sin(radians(s.lat-c.lat)/2)*sin(radians(s.lat-c.lat)/2)
        |    + cos(radians(c.lat))*cos(radians(s.lat))
        |      *sin(radians(s.lon-c.lon)/2)*sin(radians(s.lon-c.lon)/2)))
        |  <= 500000.0""".stripMargin),

    // ---- W6 gap-based sessionization (training-pipeline op) ----
    "w6_sessionize" -> Gate((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts", date_trunc("second", col("ts")))
      graft.operators.Sessionize.sessionSummary(ev, "user_id", "ts",
        gapSeconds = 600, tieBreak = Seq("event_id"))
        .select(col("user_id"), col("session_id"), col("session_start"),
          col("session_end"), col("n_events"))
    }, oracle =
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('second', ts) AS ts FROM events),
        |lagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR epoch(ts) - epoch(lag(ts) OVER w) > 600 THEN 1 ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM lagged)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |  max(ts) AS session_end, count(*) AS n_events
        |FROM sess GROUP BY 1, 2""".stripMargin),

    // ---- event analytics: strict ordered funnel with a 7-day
    //      conversion window (view → click → purchase) — step k fires
    //      at the earliest qualifying event strictly after step k−1
    //      and within the window of step 1; the oracle replays the
    //      same conditional-min chain as k CTEs ----
    "funnel_steps" -> Gate((s, dir) =>
      EventAnalytics.funnelSummary(t(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        windowSeconds = 7 * 86400L),
      // the funnel's conditional-min chain unrolled: s1 = earliest 'view'
      // per user; s2 = earliest 'click' after s1 within the 7-day window
      // of s1; s3 = earliest 'purchase' after s2 within the same window
      oracle = s"""WITH ${funnelCtes()}
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |       count(*) AS users FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3""".stripMargin),

    // ---- event analytics: per-user funnel depth under the same rule ----
    "funnel_users" -> Gate((s, dir) =>
      EventAnalytics.funnelUsers(t(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        windowSeconds = 7 * 86400L),
      oracle = s"""WITH ${funnelCtes()}
        |SELECT user_id, CAST(max(step) AS BIGINT) AS steps_completed FROM (
        |  SELECT user_id, 1 AS step FROM s1
        |  UNION ALL SELECT user_id, 2 FROM s2
        |  UNION ALL SELECT user_id, 3 FROM s3) GROUP BY 1""".stripMargin, frozen = true),

    // ---- event analytics: funnel latency — users and mean seconds
    //      from step 1 for each later step, same chain as funnel_steps ----
    "funnel_latency" -> Gate((s, dir) =>
      EventAnalytics.funnelLatency(t(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        windowSeconds = 7 * 86400L),
      // the funnel chain with t1 carried through every step: latency is
      // (step time − step-1 time), exact µs integers until the final
      // sum/users/1e6 division
      oracle = s"""WITH ${funnelCtes("min(s2.t1) AS t1, ")}
        |SELECT CAST(2 AS BIGINT) AS step, 'click' AS step_name,
        |  count(*) AS users,
        |  round(sum(t - t1)::DOUBLE / count(*) / 1000000.0, 6)
        |    AS avg_seconds
        |FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*),
        |  round(sum(t - t1)::DOUBLE / count(*) / 1000000.0, 6)
        |FROM s3""".stripMargin),

    // ---- event analytics: last-touch attribution — each purchase
    //      credits the user's latest click at or before it (as-of
    //      join; same-µs click ties pre-aggregate to max id) ----
    "attribution_last_click" -> Gate((s, dir) =>
      EventAnalytics.lastTouchAttribution(t(s, dir, "events"), "user_id",
        "ts", "event_id", "event_type", convType = "purchase",
        touchType = "click")
        .withColumnRenamed("touch_id", "click_id"),
      oracle = """WITH p AS (
        |  SELECT user_id, event_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        | c AS (
        |  SELECT user_id, ts AS cts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        | j AS (
        |  SELECT p.event_id, c.click_id,
        |    epoch_us(p.ts) - epoch_us(c.cts) AS gap_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.cts DESC) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.cts <= p.ts)
        |SELECT p2.event_id, j.click_id, j.gap_us
        |FROM p p2 LEFT JOIN j ON j.event_id = p2.event_id AND j.rn = 1""".stripMargin, frozen = true),

    // ---- event analytics: time-to-next-purchase — forward as-of join
    //      from each view to the user's next purchase within 7 days ----
    "time_to_purchase" -> Gate((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts", date_trunc("second", col("ts")))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("purchase_id"))
      Relational.asofJoinForward(views, purchases, "user_id", "ts",
          Seq("purchase_id"), toleranceSeconds = 7 * 86400L)
        .select(col("event_id"), col("purchase_id"),
          (unix_micros(col("ts_right")) - unix_micros(col("ts")))
            .as("gap_us"))
    }, oracle =
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('second', ts) AS ts,
        |    event_type FROM events),
        | v AS (SELECT user_id, event_id, ts FROM e
        |   WHERE event_type = 'view'),
        | p AS (
        |  SELECT user_id, ts AS pts, max(event_id) AS purchase_id
        |  FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
        | j AS (
        |  SELECT v.event_id, p.purchase_id,
        |    epoch_us(p.pts) - epoch_us(v.ts) AS gap_us,
        |    row_number() OVER (PARTITION BY v.event_id
        |      ORDER BY p.pts) AS rn
        |  FROM v JOIN p ON v.user_id = p.user_id AND p.pts >= v.ts
        |    AND epoch(p.pts) - epoch(v.ts) <= 604800)
        |SELECT v2.event_id, j.purchase_id, j.gap_us
        |FROM v v2 LEFT JOIN j ON j.event_id = v2.event_id AND j.rn = 1""".stripMargin),

    // ---- event analytics: A/B readout — user_id parity as the
    //      variant, purchase as conversion, pooled two-proportion z ----
    "ab_test" -> Gate((s, dir) =>
      EventAnalytics.abTest(
        t(s, dir, "events").withColumn("variant", pmod(col("user_id"), lit(2))),
        "user_id", "variant", "event_type", convType = "purchase"),
      oracle = """WITH u AS (
        |  SELECT user_id % 2 AS v, user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        | byv AS (SELECT v, count(*) AS n, sum(conv) AS x FROM u GROUP BY 1),
        | flat AS (
        |  SELECT
        |    CAST(sum(CASE WHEN v = 0 THEN n END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN v = 0 THEN x END) AS BIGINT) AS x0,
        |    CAST(sum(CASE WHEN v = 1 THEN n END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN v = 1 THEN x END) AS BIGINT) AS x1
        |  FROM byv),
        | dn AS (
        |  SELECT n0, x0, n1, x1,
        |    sqrt(((x0 + x1)::DOUBLE/(n0 + n1))
        |         * (1.0 - (x0 + x1)::DOUBLE/(n0 + n1))
        |         * (1.0/n0 + 1.0/n1)) AS denom
        |  FROM flat),
        | zz AS (
        |  SELECT n0, x0, n1, x1,
        |    CASE WHEN denom = 0.0 THEN 0.0
        |         ELSE (x0::DOUBLE/n0 - x1::DOUBLE/n1) / denom END AS z
        |  FROM dn)
        |SELECT '0' AS variant0, '1' AS variant1, n0, x0, n1, x1,
        |  round(x0::DOUBLE/n0, 6) AS rate0, round(x1::DOUBLE/n1, 6) AS rate1,
        |  round(z, 6) AS z, abs(z) >= 1.96 AS significant
        |FROM zz""".stripMargin),

    // ---- event analytics: sparse equi-width histogram of `value`
    //      per event type (10 bins over each type's own range) ----
    "value_histogram" -> Gate((s, dir) =>
      EventAnalytics.histogram(t(s, dir, "events"), "event_type",
        "value", bins = 10),
      oracle = """WITH vals AS (
        |  SELECT event_type AS g, value AS x FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        | b AS (SELECT g, min(x) AS lo, max(x) AS hi FROM vals GROUP BY 1),
        | binned AS (
        |  SELECT v.g,
        |    CAST(CASE WHEN b.hi = b.lo THEN 0
        |         ELSE least(floor((v.x - b.lo) / ((b.hi - b.lo)/10)), 9)
        |    END AS BIGINT) AS bin,
        |    b.lo AS glo, b.hi AS ghi
        |  FROM vals v JOIN b ON v.g = b.g)
        |SELECT g AS event_type, bin,
        |  round(glo + bin*((ghi - glo)/10), 6) AS lo,
        |  round(glo + (bin + 1)*((ghi - glo)/10), 6) AS hi,
        |  count(*) AS n
        |FROM binned GROUP BY g, bin, glo, ghi""".stripMargin),

    // ---- event analytics: key-skew report over the user key —
    //      exact counts, heaviest-key share, Gini coefficient ----
    "skew_report" -> Gate((s, dir) =>
      EventAnalytics.keySkewReport(t(s, dir, "events"), "user_id"),
      oracle = """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS cnt
        |  FROM events GROUP BY 1),
        | r AS (
        |  SELECT k, cnt, row_number() OVER (ORDER BY cnt, k) AS i,
        |    count(*) OVER () AS n, sum(cnt) OVER () AS tot
        |  FROM c)
        |SELECT CAST(min(n) AS BIGINT) AS n_keys,
        |  CAST(min(tot) AS BIGINT) AS n_rows,
        |  max(cnt) AS max_count,
        |  round(max(cnt)::DOUBLE / min(tot), 6) AS max_share,
        |  round(sum((2*i - n - 1) * cnt)::DOUBLE
        |        / (min(n) * min(tot)), 6) AS gini
        |FROM r""".stripMargin),

    // ---- event analytics: ROLLUP tally — (type, day), (type), ()
    //      levels in one pass with grouping_id disambiguation ----
    "rollup_tally" -> Gate((s, dir) =>
      t(s, dir, "events")
        .withColumn("day", date_trunc("day", col("ts")))
        .rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .select(col("event_type"), col("day"), col("n"), col("gid")),
      oracle = """SELECT event_type, date_trunc('day', ts) AS day,
        |  count(*) AS n,
        |  CAST(GROUPING(event_type) * 2 + GROUPING(date_trunc('day', ts))
        |       AS BIGINT) AS gid
        |FROM events
        |GROUP BY ROLLUP(event_type, date_trunc('day', ts))""".stripMargin),

    // ---- event analytics: pivot — one row per day, one count column
    //      per event type (the wide dashboard shape) ----
    "pivot_daily" -> Gate((s, dir) =>
      t(s, dir, "events")
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy(col("day"))
        .pivot("event_type", Seq("view", "click", "purchase", "signup",
          "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("day"), col("view").as("n_view"),
          col("click").as("n_click"), col("purchase").as("n_purchase"),
          col("signup").as("n_signup"), col("error").as("n_error")),
      oracle = """SELECT date_trunc('day', ts) AS day,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM events GROUP BY 1""".stripMargin),

    // ---- event analytics: per-user behavioral transition entropy ----
    "behavior_entropy" -> Gate((s, dir) =>
      EventAnalytics.behaviorEntropy(t(s, dir, "events"), "user_id",
        "ts", "event_type", tieBreak = Seq("event_id")),
      oracle = """WITH nxt AS (
        |  SELECT user_id, event_type AS f,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t
        |  FROM events),
        | counts AS (
        |  SELECT user_id, f, t, count(*) AS c FROM nxt
        |  WHERE t IS NOT NULL GROUP BY 1, 2, 3),
        | agg AS (
        |  SELECT user_id, sum(c) AS n, count(*) AS n_transitions,
        |    sum(c * ln(c::DOUBLE)) AS clogc
        |  FROM counts GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n_moves, n_transitions,
        |  round(ln(n::DOUBLE) - clogc / n, 6) AS entropy
        |FROM agg""".stripMargin),

    // ---- event analytics: Kaplan–Meier retention over user activity
    //      spans bucketed to days ----
    "survival_retention" -> Gate((s, dir) =>
      EventAnalytics.survivalCurve(t(s, dir, "events"), "user_id", "ts",
        bucketSeconds = 86400L),
      oracle = """WITH spans AS (
        |  SELECT user_id,
        |    (epoch_us(max(ts)) - epoch_us(min(ts))) // 86400000000 AS t
        |  FROM events GROUP BY 1),
        | nn AS (SELECT count(*) AS n FROM spans),
        | durs AS (SELECT t, count(*) AS d FROM spans GROUP BY 1),
        | risk AS (
        |  SELECT t, d, (SELECT n FROM nn) - coalesce(sum(d) OVER (
        |    ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS n_risk
        |  FROM durs),
        | lns AS (
        |  SELECT t, d, n_risk,
        |    CASE WHEN d < n_risk THEN ln(1.0 - d::DOUBLE/n_risk) END AS l,
        |    max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS dead
        |  FROM risk)
        |SELECT t AS duration, d AS n_events, CAST(n_risk AS BIGINT) AS n_risk,
        |  round(CASE WHEN dead = 1 THEN 0.0
        |             ELSE exp(sum(l) OVER (ORDER BY t
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |        END, 6) AS survival
        |FROM lns""".stripMargin),

    // ---- event analytics: rolling 6-hour drift z per event type ----
    "rolling_drift" -> Gate((s, dir) =>
      EventAnalytics.rollingDrift(t(s, dir, "events"), "ts",
        "event_type", windowHours = 6, threshold = 3.0),
      oracle = s"""WITH ${hourlyCtes()},
        | rolled AS (
        |  SELECT hour, event_type, n,
        |    sum(n) OVER w AS rsum, count(*) OVER w AS rn
        |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
        | zs AS (
        |  SELECT r.hour, r.event_type, r.n,
        |    r.rsum::DOUBLE / r.rn AS roll_mean,
        |    CASE WHEN st.s2::DOUBLE/st.h
        |              - (st.s::DOUBLE/st.h)*(st.s::DOUBLE/st.h) <= 0
        |         THEN 0.0
        |         ELSE (r.rsum::DOUBLE / r.rn - st.s::DOUBLE/st.h) /
        |              sqrt((st.s2::DOUBLE/st.h
        |                    - (st.s::DOUBLE/st.h)*(st.s::DOUBLE/st.h))
        |                   / r.rn)
        |    END AS z
        |  FROM rolled r JOIN st ON r.event_type = st.event_type)
        |SELECT hour, event_type, n, round(roll_mean, 6) AS roll_mean,
        |  round(z, 6) AS z, abs(z) >= 3.0 AS is_drift
        |FROM zs""".stripMargin),

    // ---- text: tokenizer fertility — chars per BPE-ish token per
    //      language (the multilingual budget diagnostic) ----
    "tokenizer_fertility" -> Gate((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          sum(TextAnalysis.bpeishTokenCount(col("text")).cast("long"))
            .as("tokens"))
        .select(col("lang"), col("n_docs"), col("chars"), col("tokens"),
          round(col("chars").cast("double") / col("tokens"), 6)
            .as("chars_per_token")),
      oracle = """WITH base AS (
        |  SELECT lang, n_chars,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS toks
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(toks) AS BIGINT) AS tokens,
        |  round(sum(n_chars)::DOUBLE / CAST(sum(toks) AS BIGINT), 6)
        |    AS chars_per_token
        |FROM base GROUP BY 1""".stripMargin),

    // ---- event analytics: daily OHLC bars of `value` per event type ----
    "ohlc_bars" -> Gate((s, dir) =>
      EventAnalytics.ohlcBars(t(s, dir, "events"), "event_type", "ts",
        "value", bucket = "day", tieBreak = Seq("event_id")),
      oracle = """WITH v AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS bucket,
        |    ts, event_id, value
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        | o AS (
        |  SELECT g, bucket, value,
        |    row_number() OVER (PARTITION BY g, bucket
        |      ORDER BY ts, event_id, value) AS rna,
        |    row_number() OVER (PARTITION BY g, bucket
        |      ORDER BY ts DESC, event_id DESC, value DESC) AS rnd
        |  FROM v),
        | agg AS (
        |  SELECT g, bucket, min(value) AS lo, max(value) AS hi,
        |    count(*) AS n
        |  FROM v GROUP BY 1, 2)
        |SELECT a.g AS event_type, a.bucket, op.value AS open,
        |  a.hi AS high, a.lo AS low, cl.value AS close, a.n
        |FROM agg a
        |JOIN o op ON op.g = a.g AND op.bucket = a.bucket AND op.rna = 1
        |JOIN o cl ON cl.g = a.g AND cl.bucket = a.bucket AND cl.rnd = 1""".stripMargin),

    // ---- event analytics: time-weighted average of `value` per user ----
    "time_weighted_avg" -> Gate((s, dir) =>
      EventAnalytics.timeWeightedAvg(t(s, dir, "events"), "user_id",
        "ts", "value", tieBreak = Seq("event_id")),
      oracle = """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS t, value, event_id
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        | seg AS (
        |  SELECT user_id, value,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t
        |      AS dt,
        |    t
        |  FROM v)
        |SELECT user_id,
        |  round(sum(value * dt) / (max(t) - min(t)), 6) AS twa,
        |  (max(t) - min(t)) / 1000000 AS span_s
        |FROM seg GROUP BY 1 HAVING max(t) - min(t) > 0""".stripMargin),

    // ---- event analytics: weekly cohort retention (cohort = Monday
    //      week of first event; retained = any event in week+offset) ----
    "cohort_retention" -> Gate((s, dir) =>
      EventAnalytics.cohortRetention(t(s, dir, "events"), "user_id", "ts")
        // DATE comparability across engines: ship the week as its ISO
        // string (DuckDB's DATE round-trips as midnight TIMESTAMP)
        .withColumn("cohort_week", col("cohort_week").cast("string")),
      oracle = """WITH firsts AS (
        |  SELECT user_id, date_trunc('week', min(ts))::DATE AS cw
        |  FROM events GROUP BY 1),
        | sizes AS (SELECT cw, count(*) AS cohort_size FROM firsts GROUP BY 1),
        | act AS (
        |  SELECT f.cw, date_diff('day', f.cw,
        |      date_trunc('week', e.ts)::DATE) // 7 AS week_offset,
        |    count(DISTINCT e.user_id) AS active_users
        |  FROM events e JOIN firsts f ON e.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT CAST(a.cw AS VARCHAR) AS cohort_week,
        |  CAST(a.week_offset AS BIGINT) AS week_offset,
        |  a.active_users, s.cohort_size,
        |  round(a.active_users::DOUBLE / s.cohort_size, 6) AS retention
        |FROM act a JOIN sizes s ON a.cw = s.cw""".stripMargin),

    // ---- event analytics: first-order Markov transition matrix over
    //      event types (per-user lead window, row-normalized) ----
    "event_transitions" -> Gate((s, dir) =>
      EventAnalytics.eventTransitions(t(s, dir, "events"), "user_id",
        "ts", "event_type", tieBreak = Seq("event_id")),
      oracle = """WITH nxt AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        | cnt AS (
        |  SELECT from_type, to_type, count(*) AS n FROM nxt
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        | tot AS (SELECT from_type, sum(n) AS t FROM cnt GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  round(c.n::DOUBLE / t.t, 6) AS p
        |FROM cnt c JOIN tot t ON c.from_type = t.from_type""".stripMargin),

    // ---- event analytics: hourly anomaly z-scores per event type
    //      (population moments from exact integer sums) ----
    "anomaly_hours" -> Gate((s, dir) =>
      EventAnalytics.hourlyAnomalies(t(s, dir, "events"), "ts",
        "event_type", threshold = 2.0),
      oracle = anomalyOracleSql()),

    // ---- event analytics: top-20 session paths (gap 600 s, first 5
    //      event types per session) ----
    "session_paths" -> Gate((s, dir) =>
      EventAnalytics.sessionPaths(
        t(s, dir, "events")
          // second-truncate like w6 so the gap rule is integral on
          // both engines (epoch() keeps µs fractions)
          .withColumn("ts", date_trunc("second", col("ts"))),
        "user_id", "ts", "event_type", gapSeconds = 600, maxSteps = 5,
        k = 20, tieBreak = Seq("event_id")),
      // the w6 sessionization CTEs, then the first-5-types path per
      // session via DuckDB's ordered list aggregate
      oracle = """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('second', ts) AS ts,
        |    event_type FROM events),
        | lagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR epoch(ts) - epoch(lag(ts) OVER w) > 600 THEN 1 ELSE 0
        |    END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM lagged),
        | paths AS (
        |  SELECT array_to_string(list_slice(
        |    list(event_type ORDER BY ts, event_id), 1, 5), '>') AS path
        |  FROM sess GROUP BY user_id, sid)
        |SELECT path, count(*) AS n_sessions FROM paths
        |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin, frozen = true),

    // ---- E1 except ----
    "e1_except" -> Gate((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .except(t(s, dir, "orders").select(col("o_custkey"))),
      oracle = "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders"),

    // ---- E2 union + dedup ----
    "e2_union_dedup" -> Gate((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey")))
        .distinct(),
      oracle = """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier""".stripMargin),

    // ---- E4 intersect ----
    "e4_intersect" -> Gate((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))),
      oracle = "SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders"),

    // ---- F1 universal datetime decode (format synthesis) ----
    "f1_decode_datetime" -> Gate((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        graft.functions.DecodeDatetime.decode_datetime(
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
          asMicroseconds = false).as("decoded")),
      oracle = "SELECT event_id, date_trunc('second', ts) AS decoded FROM events", frozen = true),

    // ---- F3 ISO-Z formatting ----
    "f3_iso_format" -> Gate((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso")),
      oracle = "SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS iso FROM events"),

    // ---- F4 date diff ----
    "f4_datediff" -> Gate((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("days"))
    }, oracle =
      """SELECT l_orderkey, l_linenumber,
        | date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin),

    // ---- F5 sequence iteration ----
    "f5_sequence" -> Gate((s, dir) =>
      t(s, dir, "region").select(col("r_regionkey"),
        explode(sequence(lit(0L), lit(6L))).as("day_off")),
      oracle = """SELECT r_regionkey, unnest(generate_series(0, 6)) AS day_off FROM region"""),

    // ---- F6 extraction DSL (substring/concat/arith) ----
    "f6_extraction" -> Gate((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        substring(col("p_name"), 1, 5).as("name5"),
        concat(col("p_brand"), lit("-"), col("p_type")).as("bt"),
        round(col("p_retailprice") * lit(1.1), 3).as("up"),
        abs(col("p_size") - lit(25)).as("sz")),
      oracle = """SELECT p_partkey, substr(p_name, 1, 5) AS name5,
        | concat(p_brand, '-', p_type) AS bt,
        | round(p_retailprice * 1.1, 3) AS up,
        | abs(p_size - 25) AS sz
        |FROM part""".stripMargin, frozen = true),

    // ---- F7 case functions ----
    "f7_case" -> Gate((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        upper(col("p_name")).as("u"), lower(col("p_brand")).as("l")),
      oracle = "SELECT p_partkey, upper(p_name) AS u, lower(p_brand) AS l FROM part"),

    // ---- F7 extended case functions (Capital/Camel/camel/Acronym) ----
    "f7_case_ext" -> Gate((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        graft.functions.TextCase.capital(col("p_name")).as("cap"),
        graft.functions.TextCase.camelUpper(col("p_name")).as("camel_u"),
        graft.functions.TextCase.camelLower(col("p_name")).as("camel_l"),
        graft.functions.TextCase.acronym(col("p_name")).as("acro")),
      oracle = """SELECT p_partkey,
        | upper(substr(p_name,1,1)) || lower(substr(p_name,2)) AS cap,
        | array_to_string(list_transform(string_split_regex(p_name,'\s+'),
        |   w -> upper(substr(w,1,1)) || lower(substr(w,2))), '') AS camel_u,
        | lower(string_split_regex(p_name,'\s+')[1]) ||
        |   array_to_string(list_transform(string_split_regex(p_name,'\s+')[2:],
        |     w -> upper(substr(w,1,1)) || lower(substr(w,2))), '') AS camel_l,
        | array_to_string(list_transform(string_split_regex(p_name,'\s+'),
        |   w -> substr(w,1,1)), '') AS acro
        |FROM part""".stripMargin),

    // ---- F6 extraction DSL pipeline ----
    "f6_extraction_dsl" -> Gate((s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
        pipeline(col("p_name"), Seq(Offset(2), Length(4))).as("mid"),
        pipeline(col("p_retailprice").cast("string"),
          Seq(Add(5.0), Mult(2.0))).as("calc"),
        pipeline(col("p_type"), Seq(Start("O"), Concat("!"))).as("tail"))
    }, oracle =
      """SELECT p_partkey,
        | substr(substr(p_name, 3), 1, 4) AS mid,
        | CASE WHEN (CAST(p_retailprice AS DOUBLE) + 5.0) * 2.0 =
        |        CAST(CAST((CAST(p_retailprice AS DOUBLE) + 5.0) * 2.0 AS BIGINT) AS DOUBLE)
        |      THEN CAST(CAST((CAST(p_retailprice AS DOUBLE) + 5.0) * 2.0 AS BIGINT) AS VARCHAR) || '.0'
        |      ELSE CAST((CAST(p_retailprice AS DOUBLE) + 5.0) * 2.0 AS VARCHAR) END AS calc,
        | CASE WHEN instr(p_type, 'O') > 0
        |      THEN substr(p_type, instr(p_type, 'O') + 1) || '!' END AS tail
        |FROM part""".stripMargin),

    // ---- F16/K2 geometry + GeoJSON feature assembly ----
    "k2_geojson_features" -> Gate((s, dir) => {
      val pts = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("double").as("y"))
      pts.select(col("event_id"),
        Geometry.featureJson(
          struct(col("event_id"), col("user_id")),
          struct(lit("Point").as("type"),
            array(col("x"), col("y")).as("coordinates"))).as("feature"))
    }, oracle =
      """SELECT event_id,
        | '{"type":"Feature","properties":{"event_id":' || event_id ||
        | ',"user_id":' || user_id || '},"geometry":{"type":"Point","coordinates":[' ||
        | CAST(value AS VARCHAR) || ',' ||
        | CAST(CAST(props->>'$.k' AS DOUBLE) AS VARCHAR) || ']}}' AS feature
        |FROM events""".stripMargin),

    // ---- F10 numeric prefix coercion ----
    "f10_numeric_prefix" -> Gate((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        nullif(regexp_extract(
          concat(col("p_size").cast("string"), lit("mm "), col("p_name")),
          "^[0-9+\\-.]+", 0), lit("")).cast("double").as("num")),
      oracle = """SELECT p_partkey,
        | CAST(NULLIF(regexp_extract(concat(CAST(p_size AS VARCHAR), 'mm ', p_name),
        |   '^[0-9+\-.]+'), '') AS DOUBLE) AS num
        |FROM part""".stripMargin, frozen = true),

    // ---- F12 name sanitization ----
    "f12_sanitize" -> Gate((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(col("text"), "[^0-9A-Za-z_]+", "_").as("sanitized")),
      oracle = """SELECT doc_id, regexp_replace(text, '[^0-9A-Za-z_]+', '_', 'g') AS sanitized
        |FROM documents""".stripMargin),

    // ---- F14 JSON flatten ----
    "f14_json_flatten" -> Gate((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k")),
      oracle = "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events", frozen = true),

    // ---- F15 array ops over embeddings ----
    "f15_array_ops" -> Gate((s, dir) =>
      t(s, dir, "embeddings").select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"), col("label")),
      oracle = "SELECT vec_id, len(embedding) AS dim, label FROM embeddings"),

    // ---- §2.11 converter REGISTRY surface: a struct-carrying frame
    //      pushed through the shipped "json2geojson" converter resolved
    //      BY NAME (the reference's module-import plugin protocol) —
    //      the registry path itself is the subject; the flatten it
    //      resolves to is replayed by the oracle ----
    "u1_converter_apply" -> Gate((s, dir) =>
      graft.operators.Converters.applyOpt(
        t(s, dir, "documents").select(col("doc_id"),
          struct(upper(col("source")).as("src"),
            col("lang").as("lng")).as("meta")),
        Some("json2geojson")),
      // registry-resolved json2geojson = Flatten: struct leaves become
      // parent_child columns
      oracle = """SELECT doc_id, upper(source) AS meta_src, lang AS meta_lng
        |FROM documents""".stripMargin),

    // ---- F11 unicode un-escaping — the reference's escaped-JSON text
    //      repair: `\\u`→`\u`, `\\n`→LF, `\\t`→TAB, `\\x`→`\u00`.
    //      Inputs are synthesized in-plan via chr(92) so both engines
    //      build the byte-identical escaped string ----
    "f11_unescape" -> Gate((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextCase.unescape(expr(
          "concat('w', doc_id, ' ', chr(92), chr(92), 'u00e9 m', " +
          "chr(92), chr(92), 'n t', chr(92), chr(92), 't h', " +
          "chr(92), chr(92), 'x41 end')")).as("unescaped")),
      oracle = """SELECT doc_id,
        |  replace(replace(replace(replace(
        |    'w' || CAST(doc_id AS VARCHAR) || ' ' || chr(92)||chr(92)||'u00e9 m'
        |      || chr(92)||chr(92)||'n t' || chr(92)||chr(92)||'t h'
        |      || chr(92)||chr(92)||'x41 end',
        |    chr(92)||chr(92)||'u', chr(92)||'u'),
        |    chr(92)||chr(92)||'n', chr(10)),
        |    chr(92)||chr(92)||'t', chr(9)),
        |    chr(92)||chr(92)||'x', chr(92)||'u00') AS unescaped
        |FROM documents""".stripMargin),

    // ---- P12 field exclusion — the INI `exclude=` rule as plan-time
    //      schema pruning: excluded paths (nested or top-level) never
    //      reach the flattened select ----
    "p12_field_exclusion" -> Gate((s, dir) =>
      graft.operators.Flatten.flatten(
        t(s, dir, "documents").select(col("doc_id"),
          struct(col("source").as("keep"), col("lang").as("drop_me"))
            .as("meta"),
          col("n_chars")),
        exclude = Set("meta.drop_me", "n_chars")),
      oracle = "SELECT doc_id, source AS meta_keep FROM documents"),

    // ---- F2 epoch→timestamp with the reference's future clamp ("now"
    //      pinned to a literal so both engines replay the clamp);
    //      inputs span negative epochs and far-future overshoots ----
    "f2_epoch_clamp" -> Gate((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        least(
          timestamp_seconds(pmod(col("event_id"), lit(2000000L)) * 3000L
            - 1000000000L),
          lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
          .as("clamped")),
      oracle = """SELECT event_id,
        |  least(CAST(to_timestamp((event_id % 2000000) * 3000
        |          - 1000000000) AS TIMESTAMP),
        |        TIMESTAMP '2026-01-01 00:00:00') AS clamped
        |FROM events""".stripMargin, frozen = true),

    // ---- F24 recursive key path — dotted-path extraction through
    //      nested structs, the `_getRecursiveKey("a.b.c")` surface ----
    "f24_key_path" -> Gate((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          struct(struct(upper(col("source")).as("c"),
            col("lang").as("noise")).as("b")).as("a"))
        .select(col("doc_id"), col("a.b.c").as("leaf")),
      oracle = "SELECT doc_id, upper(source) AS leaf FROM documents"),

    // ---- F21 value-content type detection (Json2GeoJSON.py:711-750),
    //      faithful to the reference's dead time/datetime branches:
    //      eight (name, value) probes per event covering integer,
    //      name-promoted date, float, text, dash-date, and the
    //      colon-means-text case. Raw value strings stay OUT of the
    //      output (double rendering differs across engines; the
    //      CLASSIFICATION doesn't) ----
    "f21_detect_type" -> Gate((s, dir) => {
      val ev = t(s, dir, "events")
      val pairs = ev.select(col("event_id"), explode(map(
        lit("event_id"), col("event_id").cast("string"),
        lit("created"), col("event_id").cast("string"),
        lit("value"), col("value").cast("string"),
        lit("kind"), col("event_type"),
        lit("day"), date_format(col("ts"), "yyyy-MM-dd"),
        lit("stamp"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
        lit("slug"), concat(col("event_type"), lit("-"),
          col("event_id").cast("string")),
        lit("ratio"), concat(col("event_id").cast("string"), lit(".5")))))
        .toDF("event_id", "field_name", "val")
      pairs.select(col("event_id"), col("field_name"),
        graft.operators.Converters.detectType(col("field_name"), col("val"))
          .as("detected"))
    }, oracle =
      // the reference's classifier replayed rule-for-rule: int probe
      // first (name promotes to date), float grammar second, slash/dash
      // all-digits date third; anything with a colon lands in 'text'
      // (the upstream time/datetime branches are dead code — see
      // Converters.detectType)
      """WITH pairs AS (
        |  SELECT event_id, 'event_id' AS field_name,
        |    CAST(event_id AS VARCHAR) AS val FROM events
        |  UNION ALL SELECT event_id, 'created', CAST(event_id AS VARCHAR)
        |    FROM events
        |  UNION ALL SELECT event_id, 'value', CAST(value AS VARCHAR)
        |    FROM events
        |  UNION ALL SELECT event_id, 'kind', event_type FROM events
        |  UNION ALL SELECT event_id, 'day', strftime(ts, '%Y-%m-%d')
        |    FROM events
        |  UNION ALL SELECT event_id, 'stamp',
        |    strftime(ts, '%Y-%m-%d %H:%M:%S') FROM events
        |  UNION ALL SELECT event_id, 'slug',
        |    event_type || '-' || CAST(event_id AS VARCHAR) FROM events
        |  UNION ALL SELECT event_id, 'ratio',
        |    CAST(event_id AS VARCHAR) || '.5' FROM events)
        |SELECT event_id, field_name,
        |  CASE
        |    WHEN val IS NULL THEN 'text'
        |    WHEN regexp_matches(val, '^[+-]?[0-9]+$') THEN
        |      CASE WHEN lower(field_name) LIKE '%date%'
        |        OR lower(field_name) LIKE '%time%'
        |        OR lower(field_name) LIKE '%updated%'
        |        OR lower(field_name) LIKE '%created%'
        |        OR lower(field_name) LIKE '%modified%'
        |        OR lower(field_name) LIKE '%start%'
        |        OR lower(field_name) LIKE '%end%'
        |        THEN 'date' ELSE 'integer' END
        |    WHEN regexp_matches(val,
        |      '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$')
        |      THEN 'float'
        |    WHEN (contains(val, '/') OR contains(val, '-'))
        |      AND regexp_matches(replace(replace(val, '/', ''), '-', ''),
        |        '^[0-9]+$') THEN 'date'
        |    ELSE 'text' END AS detected
        |FROM pairs""".stripMargin),

    // ---- F22 publication-date short-circuit: per-dataset JSON docs
    //      (tag + nesting varies by rank, one doc carries two tags to
    //      exercise priority) through the REAL publicationDate reader;
    //      verdict = stamp newer than the stored watermark ----
    "f22_publication_gate" -> Gate((s, dir) =>
      graft.sources.FeatureCollection.publicationGate(s, dir),
      // tag priority + nesting + newer-than verdict replayed from the
      // rank rules the fixture writer uses
      oracle = """WITH mx AS (SELECT event_type,
        |    strftime(date_trunc('second', max(ts)),
        |      '%Y-%m-%d %H:%M:%S') AS pub
        |  FROM events GROUP BY 1),
        | ds AS (SELECT event_type, pub,
        |    row_number() OVER (ORDER BY event_type) AS r FROM mx)
        |SELECT 'ds_' || event_type AS dataset_id,
        |  CASE r WHEN 1 THEN 'lastBuildDate' WHEN 2 THEN 'pubDate'
        |         WHEN 3 THEN 'published' WHEN 4 THEN 'generated'
        |         ELSE 'pubDate' END AS tag_used,
        |  pub AS pub_date,
        |  (r % 2 = 1) AS refresh
        |FROM ds""".stripMargin),

    // ---- F23 item-property templating (agol_wrangler.py:117-139):
    //      one item per nation through the REAL Portal.itemProperties —
    //      tag assembly, the publisher→creator→institution fallback
    //      (rotated by rank so every branch fires), license presence,
    //      snippet template with the server-host extraction. Driver-side
    //      by design: item shaping is per-dataset metadata, item-count-
    //      sized (the reference manages hundreds of items) ----
    "f23_item_properties" -> Gate((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      rows.toSeq.map { case (k, name) =>
        val server = s"https://host${k % 3}.example/erddap/tabledap/ds"
        val nc = Map("summary" -> s"Summary of $name") ++
          ((k % 4) match {
            case 0 => Map("publisher_institution" -> s"Pub $name",
              "creator_institution" -> s"Cre $name",
              "institution" -> s"Inst $name")
            case 1 => Map("creator_institution" -> s"Cre $name",
              "institution" -> s"Inst $name")
            case 2 => Map("institution" -> s"Inst $name")
            case _ => Map.empty[String, String]
          }) ++
          (if (k % 2 == 0) Map("license" -> s"License $k")
           else Map.empty[String, String])
        val (title, tags, props) = graft.sinks.Portal.itemProperties(
          s"ds_$name", s"$name dataset", server,
          attributes = Seq("time", name.toLowerCase), isNrt = k % 2 == 1,
          ncGlobal = nc)
        (k, title, tags.mkString("|"), props("snippet"),
          props("accessInformation"), props("licenseInfo"))
      }.toDF("n_nationkey", "title", "tags", "snippet", "access_info",
        "license_info")
    }, oracle =
      // the full string composition replayed: tag chain, host extraction,
      // institution fallback rotation, license presence, snippet template
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  n_name || ' dataset' AS title,
        |  'erddap2agol|did_ds_' || n_name || '|time|' || lower(n_name) ||
        |    (CASE WHEN n_nationkey % 2 = 1 THEN '|e2a_nrt' ELSE '' END) ||
        |    '|https://host' || CAST(n_nationkey % 3 AS VARCHAR) ||
        |    '.example/erddap/tabledap/ds' AS tags,
        |  'Summary of ' || n_name || '. ' || n_name ||
        |    ' dataset was generated with erddap2agol from the host' ||
        |    CAST(n_nationkey % 3 AS VARCHAR) || '.example ERDDAP.' AS snippet,
        |  CASE n_nationkey % 4
        |    WHEN 0 THEN 'Pub ' || n_name
        |    WHEN 1 THEN 'Cre ' || n_name
        |    WHEN 2 THEN 'Inst ' || n_name
        |    ELSE '' END AS access_info,
        |  CASE WHEN n_nationkey % 2 = 0
        |    THEN 'License ' || CAST(n_nationkey AS VARCHAR)
        |    ELSE '' END AS license_info
        |FROM nation""".stripMargin),

    // ---- K9 property-restore normalizer (OverwriteFS.py:499-558,
    //      :483-486): per-nation saved-index bags through the REAL
    //      PortalTransport.restoreIndexPlan — fields-match skip, the
    //      noIndexes flag (every 5th nation), missing-field and
    //      >4000-byte-key validation (field length alternates by
    //      parity), name synthesis + by-name dedupe — plus the real
    //      hasLiveData=false forcing. Driver-side by design like f23:
    //      item property shaping is per-dataset metadata ----
    "k9_property_restore" -> Gate((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      rows.toSeq.flatMap { case (k, name) =>
        val nlow = name.toLowerCase(java.util.Locale.ROOT)
          .replaceAll("[^a-z0-9]", "_")
        val layerFields = Seq(("objectid", 0), ("time", 0),
          (nlow, if (k % 2 == 0) 4000 else 4001), ("note", 8000))
        val saved = Seq(
          ("pk_saved", "OBJECTID"), ("empty_saved", ""),
          ("ghost_saved", "time, ghost"), ("name_saved", s"time, $nlow"),
          ("dup_a", "time"), ("dup_b", "time"), ("wide_saved", "note"))
        val live = graft.sinks.PortalTransport.PropertyBackup(
          Map("hasLiveData" -> "true")).normalized.props("hasLiveData")
        graft.sinks.PortalTransport.restoreIndexPlan(s"tbl_$nlow",
            layerFields, Seq("objectid"), saved, noIndexes = k % 5 == 0)
          .map(d => (k, d.savedName, d.outcome, d.newName, d.newFields, live))
      }.toDF("n_nationkey", "saved_name", "outcome", "new_name",
        "new_fields", "has_live_data")
    }, oracle =
      // K9 restore replay: the decision each saved index takes, from the
      // same rank rules the gate's fixture bag is built with
      """WITH n AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k,
        |    regexp_replace(lower(n_name), '[^a-z0-9]', '_', 'g') AS nlow,
        |    (n_nationkey % 2 = 0) AS fits,
        |    (n_nationkey % 5 = 0) AS noidx
        |  FROM nation),
        |s(ord, saved_name) AS (VALUES
        |  (1, 'pk_saved'), (2, 'empty_saved'), (3, 'ghost_saved'),
        |  (4, 'name_saved'), (5, 'dup_a'), (6, 'dup_b'), (7, 'wide_saved'))
        |SELECT n.k AS n_nationkey, s.saved_name,
        |  CASE WHEN s.ord = 1 THEN 'exists_fields'
        |       WHEN noidx THEN 'no_indexes_flag'
        |       WHEN s.ord = 2 THEN 'no_fields'
        |       WHEN s.ord = 3 THEN 'missing_field'
        |       WHEN s.ord = 4 THEN
        |         CASE WHEN fits THEN 'added' ELSE 'too_large' END
        |       WHEN s.ord = 5 THEN 'added'
        |       WHEN s.ord = 6 THEN 'exists_name'
        |       ELSE 'too_large' END AS outcome,
        |  CASE WHEN NOT noidx AND s.ord = 4 AND fits
        |         THEN 'tbl_' || nlow || '_time_' || nlow || '_idx'
        |       WHEN NOT noidx AND s.ord = 5
        |         THEN 'tbl_' || nlow || '_time_idx'
        |       ELSE '' END AS new_name,
        |  CASE WHEN NOT noidx AND s.ord = 4 AND fits THEN 'time,' || nlow
        |       WHEN NOT noidx AND s.ord = 5 THEN 'time'
        |       ELSE '' END AS new_fields,
        |  'false' AS has_live_data
        |FROM n CROSS JOIN s""".stripMargin),

    // ---- S10 RSS/GeoRSS scan: a GeoRSS feed derived from events
    //      through the REAL DOM parser (fields map, georss:point
    //      ordinates), projected back to scalars for the oracle ----
    "s10_rss_scan" -> Gate((s, dir) => graft.sources.Rss.rssGate(s, dir),
      // the GeoRSS fixture replay: id subset, point ordinates from the
      // id's half/quarter fractions (exact doubles on any engine)
      oracle = """SELECT event_id, event_type, 'point' AS kind,
        |  (event_id % 90) + CAST(0.5 AS DOUBLE) AS lat,
        |  (event_id % 180) + CAST(0.25 AS DOUBLE) AS lon
        |FROM events WHERE event_id % 53 = 0""".stripMargin),

    // ---- S5/P5/P7 DAS parse + attribute policy: per-dataset DAS docs
    //      through the REAL parser — QC variable pruned, time column
    //      detected via the fallback chain, extent from actual_range ----
    "s5_das_policy" -> Gate((s, dir) => graft.erddap.Das.dasGate(s, dir),
      // the DAS fixture replay: policy keeps (time, value) and prunes the
      // _qc variable; extent = truncated min/max epochs per type
      oracle = """SELECT 'ds_' || event_type AS dataset_id,
        |  'time' AS time_col,
        |  'time|value' AS attributes,
        |  CAST(epoch(date_trunc('second', min(ts))) AS BIGINT)
        |    AS time_lo_epoch,
        |  CAST(epoch(date_trunc('second', max(ts))) AS BIGINT)
        |    AS time_hi_epoch,
        |  'DAS fixture ' || event_type AS title
        |FROM events GROUP BY event_type""".stripMargin),

    // ---- S6 size probe: COUNT/min/max(time) per dataset answered
    //      METADATA-ONLY (complete aggregate pushdown → the record
    //      probe + DAS actual_range; the erddap-agg plan shape is
    //      asserted in ExplainCheck) — zero data transfer, exactly the
    //      reference's ncHeader sizing ----
    "s6_size_probe" -> Gate((s, dir) => {
      val fixDir = graft.streaming.NrtPipeline.ensureFixture(s, dir)
      val types = t(s, dir, "events").select(col("event_type")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      types.map { tp =>
        s.read.format("erddap")
          .option("dataDir", fixDir).option("dataset", s"ds_$tp").load()
          .agg(count(lit(1)).as("n"), min(col("time")).as("lo"),
            max(col("time")).as("hi"))
          .select(lit(s"ds_$tp").as("dataset_id"), col("n"), col("lo"),
            col("hi"))
      }.reduce(_ unionByName _)
    }, oracle =
      // size-probe replay: record counts and truncated time extents per
      // type (what the metadata path must answer without data transfer)
      """SELECT 'ds_' || event_type AS dataset_id,
        |  count(*) AS n,
        |  date_trunc('second', min(ts)) AS lo,
        |  date_trunc('second', max(ts)) AS hi
        |FROM events GROUP BY event_type""".stripMargin),

    // ---- S12/S13 portal content/tag search (model path): one item per
    //      nation seeded idempotently (title-checked, sorted order →
    //      stable item ids), then the REAL searchByTags recovers the
    //      topic_1 subset with dataset id + base url parsed from tags
    //      (the reference's tag-recovered item state,
    //      update_manager.py:30-84) ----
    "s12_portal_search" -> Gate((s, dir) => {
      val portal = graft.sinks.Portal.forRoot(
        s"/tmp/graft_portal_s12_${dir.replaceAll("[^A-Za-z0-9._-]", "_")}")
      val rows = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._2)
      portal.synchronized {
        rows.foreach { case (k, name) =>
          val title = s"$name dataset"
          if (portal.findByTitle(title).isEmpty)
            portal.addOrRetry(title, "Feature Service", Seq(
              "erddap2agol", s"did_ds_$name", s"topic_${k % 3}",
              s"https://host${k % 3}.example/erddap/tabledap/ds"),
              Map.empty)
        }
      }
      portal.searchByTags(s, Seq("erddap2agol", "topic_1"))
    }, oracle =
      // tag-search replay: items seeded in n_name order → item ids are
      // the name rank; topic_1 = nationkey % 3 = 1
      """WITH r AS (SELECT n_name, n_nationkey,
        |    row_number() OVER (ORDER BY n_name) AS rk
        |  FROM nation)
        |SELECT 'item' || lpad(CAST(rk AS VARCHAR), 4, '0') AS agol_id,
        |  n_name || ' dataset' AS title,
        |  'ds_' || n_name AS dataset_id,
        |  'https://host' || CAST(n_nationkey % 3 AS VARCHAR) ||
        |    '.example/erddap/tabledap/ds' AS base_url
        |FROM r WHERE n_nationkey % 3 = 1""".stripMargin),

    // ---- F13 flat-name uniquification (plan-time, via Flatten): the
    //      struct leaf a.b collides with the top-level a_b and lands
    //      as a_b2; array leaves re-serialize as JSON ----
    "f13_uniquify" -> Gate((s, dir) =>
      graft.operators.Flatten.flatten(
        t(s, dir, "documents").select(col("doc_id"),
          lit("top").as("a_b"),
          struct(upper(col("source")).as("b"),
            array(col("lang"), lit("x")).as("arr")).as("a"))),
      oracle = """SELECT doc_id, 'top' AS a_b, upper(source) AS a_b2,
        |  CAST(to_json([lang, 'x']) AS VARCHAR) AS a_arr
        |FROM documents""".stripMargin),

    // ---- F19/F20 geometry: lowercase/uppercase type names
    //      canonicalize (F20), then >1 part promotes to Multi<Type>
    //      with the deeper coordinate nesting (F19) ----
    "f19_geometry_promote" -> Gate((s, dir) => {
      val d = col("doc_id").cast("double")
      val part1 = array(array(d, lit(0.5)), array(d + 1.0, lit(2.25)))
      val part2 = array(array(d + 2.0, lit(3.5)), array(d + 3.0, lit(4.75)))
      t(s, dir, "documents").select(col("doc_id"),
        Geometry.multiPromote(
          Geometry.canonicalType(
            when(pmod(col("doc_id"), lit(2)) === 0, lit("linestring"))
              .otherwise(lit("LINESTRING"))),
          when(pmod(col("doc_id"), lit(3)) === 0, array(part1))
            .otherwise(array(part1, part2))).as("geojson"))
    }, oracle =
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |    CAST(to_json(struct_pack(type := 'LineString', coordinates :=
        |      [[CAST(doc_id AS DOUBLE), 0.5],
        |       [CAST(doc_id + 1 AS DOUBLE), 2.25]])) AS VARCHAR)
        |  ELSE
        |    CAST(to_json(struct_pack(type := 'MultiLineString', coordinates :=
        |      [[[CAST(doc_id AS DOUBLE), 0.5],
        |        [CAST(doc_id + 1 AS DOUBLE), 2.25]],
        |       [[CAST(doc_id + 2 AS DOUBLE), 3.5],
        |        [CAST(doc_id + 3 AS DOUBLE), 4.75]]])) AS VARCHAR)
        |  END AS geojson
        |FROM documents""".stripMargin),

    // ---- dedup: exact (hash-groupBy, deterministic winner) ----
    "dedup_exact" -> Gate((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id"),
      oracle = """SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |    ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1""".stripMargin),

    // ---- dedup: engine-portable md5 minhash (FULL oracle for the LSH
    //      pipeline, bounded doc subset to keep the gate cheap).
    //      maxBucket pinned 0: the DuckDB oracle computes the EXACT
    //      uncapped pair set (the production default is 1000) ----
    "dedup_minhash_oracle" -> Gate((s, dir) =>
      Dedup.minhashLshPairsPortable(
        t(s, dir, "documents").filter(col("doc_id") < 500), "text", "doc_id",
        maxBucket = 0),
      oracle = s"""WITH ${minhashCtes(8, 4, " WHERE doc_id < 500")}
         |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id""".stripMargin, frozen = true),

    // ---- dedup: INCREMENTAL near-dup against a persisted LSH index —
    //      the production shape at 100 TB: corpus banded ONCE into an
    //      index, each new batch signatures only its own text and
    //      broadcast-joins band keys against the index (the index is
    //      read, never shuffled; corpus text never rescans).
    //      maxBucket pinned 0 on the index for the exact oracle ----
    "dedup_incremental" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val idx = Dedup.minhashIndexRows(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", maxBucket = 0)
      Dedup.incrementalNearDups(docs.filter(col("doc_id") % 2 === 1), idx,
        "text", "doc_id")
    }, oracle =
      // same banded signatures, split by parity: odd doc_ids are the
      // "new batch", even the indexed corpus — candidates are band-key
      // matches across the split, exactly the incremental join
      s"""WITH ${minhashCtes(8, 4, " WHERE doc_id < 500")}
         |SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
         |FROM banded a JOIN banded b ON a.band = b.band
         |WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0""".stripMargin),

    // ---- SemDeDup: INCREMENTAL arrival path — corpus IVF-indexed once
    //      (cluster-partitioned parquet, idempotent per sfDir), each new
    //      batch assigns to its cluster and joins ONLY matching cluster
    //      partitions, exact cosine >= tau verify. The embedding twin of
    //      dedup_incremental; oracle replays the Lloyd training + both
    //      assignments in SQL ----
    "semdedup_incremental" -> Gate((s, dir) => {
      val (idxPath, cents) = ensureSemDedupIndex(s, dir)
      val batch = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      Similarity.semDedupIncremental(s, idxPath,
          batch, "vec_id", "embedding", cents, threshold = 0.3,
          maxProbe = 0) // oracle-exact; production default is cap-on
        .select(col("new_id"), col("corpus_id"),
          round(col("cosine"), 6).as("cos"))
    }, oracle =
      s"""WITH $semDedupIncOracleCtes
         |SELECT new_id, corpus_id, round(c, 6) AS cos FROM ipairs
         |WHERE c >= 0.3""".stripMargin),

    // ---- IVF index MAINTENANCE policy: the re-index/compaction
    //      trigger decision table (K9 pattern) — per-cluster occupancy
    //      from the index layout + the arrival log, global stale
    //      trigger at arrivals > 20% of indexed (this fixture's 11% is
    //      below it, so the per-cluster hot/ok actions stay visible in
    //      the table; the stale→reindex branch is spec-covered),
    //      hot-cluster trigger at 1.5x mean occupancy ----
    "ivf_maintenance" -> Gate((s, dir) => {
      val (idxPath, cents) = ensureSemDedupIndex(s, dir)
      val batch = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      val arrivals = Similarity.ivfAssign(batch, "vec_id", "embedding", cents)
      Similarity.ivfMaintenancePlan(s.read.parquet(idxPath), arrivals,
        arrivalFrac = 0.2, hotOccupancy = 1.5)
    }, oracle =
      // maintenance decision table: per-cluster counts from the SAME
      // Lloyd-replay assignments (icasg = indexed corpus, ibasg = the
      // arrival log), totals cross-joined, pure arithmetic thresholds
      s"""WITH $semDedupIncOracleCtes,
         |ic AS (SELECT ci AS cluster, count(*) AS n_indexed FROM icasg GROUP BY ci),
         |ac AS (SELECT ci AS cluster, count(*) AS n_arrived FROM ibasg GROUP BY ci),
         |per AS (
         |  SELECT COALESCE(ic.cluster, ac.cluster) AS cluster,
         |    COALESCE(n_indexed, 0) AS n_indexed,
         |    COALESCE(n_arrived, 0) AS n_arrived
         |  FROM ic FULL OUTER JOIN ac ON ic.cluster = ac.cluster),
         |tot AS (SELECT sum(n_indexed) AS nn, sum(n_arrived) AS aa,
         |               count(*) AS kk FROM per)
         |SELECT cluster, n_indexed, n_arrived,
         |  n_indexed + n_arrived AS occupancy,
         |  round((n_indexed + n_arrived) * kk / (nn + aa), 6) AS occ_ratio,
         |  round(aa / nn, 6) AS arrival_frac,
         |  aa > 0.2 * nn AS stale_index,
         |  (n_indexed + n_arrived) * kk > 1.5 * (nn + aa) AS hot,
         |  CASE WHEN aa > 0.2 * nn THEN 'reindex'
         |       WHEN (n_indexed + n_arrived) * kk > 1.5 * (nn + aa)
         |         THEN 'split_cluster'
         |       ELSE 'ok' END AS action
         |FROM per CROSS JOIN tot""".stripMargin),

    // ---- T12 streaming SemDeDup arrivals: the same index probe as a
    //      STREAM — stateless assignment projection + stream-static
    //      cluster join, zero state store; streaming ≡ batch ≡ the
    //      same Lloyd-replay oracle ----
    "t12_streaming_semdedup" -> Gate((s, dir) => {
      val (idxPath, cents) = ensureSemDedupIndex(s, dir)
      runStreamingGate(s, dir, "t12", table = "embeddings") { embS =>
        Similarity.semDedupIncrementalStream(s, idxPath,
            embS.filter(col("vec_id") % 10 === 0),
            "vec_id", "embedding", cents, threshold = 0.3,
            maxProbe = 0) // oracle-exact; production default is cap-on
          .select(col("new_id"), col("corpus_id"),
            round(col("cosine"), 6).as("cos"))
      }
    }, oracle =
      // the streaming twin is stateless per micro-batch → identical replay
      s"""WITH $semDedupIncOracleCtes
         |SELECT new_id, corpus_id, round(c, 6) AS cos FROM ipairs
         |WHERE c >= 0.3""".stripMargin),

    // ---- dedup: per-source duplication report — docs, distinct
    //      normalized texts, dup rows/rate, largest dup group; the
    //      where-does-duplication-live readout before any pairwise
    //      pass (two hash aggregates, output = |sources| rows) ----
    "dedup_report" -> Gate((s, dir) =>
      Dedup.dedupReport(t(s, dir, "documents"), "text", "source"),
      oracle = """WITH g AS (
        |  SELECT source,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |    count(*) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |  count(*) AS n_unique,
        |  CAST(sum(n) - count(*) AS BIGINT) AS n_dup_rows,
        |  round((sum(n) - count(*))::DOUBLE / sum(n), 6) AS dup_rate,
        |  CAST(max(n) AS BIGINT) AS max_group
        |FROM g GROUP BY 1""".stripMargin),

    // ---- dedup: MinHash + LSH near-dup pairs. Gate runs the PORTABLE
    //      md5 path (full oracle; different band geometry than
    //      dedup_minhash_oracle); the xxhash64 production path is
    //      spec-verified against planted pairs ----
    "dedup_minhash_lsh" -> Gate((s, dir) =>
      Dedup.minhashLshPairsPortable(t(s, dir, "documents"), "text", "doc_id",
        numHashes = 16, bands = 8, withEstimate = true, maxBucket = 0)
        .select(col("id1"), col("id2"), round(col("est_jaccard"), 6).as("est_j")),
      oracle = s"""WITH ${minhashCtes(16, 8)},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT p.id1, p.id2,
         |  round(CAST(len(list_filter(list_zip(sa.sig, sb.sig),
         |    z -> z[1] = z[2])) AS DOUBLE) / 16, 6) AS est_j
         |FROM pairs p JOIN sigs sa ON sa.doc_id = p.id1
         |             JOIN sigs sb ON sb.doc_id = p.id2""".stripMargin),

    // ---- dedup: SimHash hamming pairs. Gate runs the PORTABLE 60-bit
    //      md5 simhash (full oracle — banding is exact by pigeonhole);
    //      the xxhash64 SimHash64 path is spec-verified ----
    "dedup_simhash" -> Gate((s, dir) =>
      Dedup.simhashPairsPortable(t(s, dir, "documents"), "text", "doc_id",
        maxBucket = 0) // pinned 0: the DuckDB oracle computes the EXACT pair set
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming")),
      oracle = s"""WITH $simhash60Ctes
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin),

    // ---- dedup: exact n-gram Jaccard verify over LSH candidates.
    //      Oracle computes TRUE jaccard over all pairs: the planted
    //      near-dups sit at j ≥ 0.89 where 16×4 banding recall is
    //      1 - 1.4e-7, so candidates ⊇ the ≥0.8 pair set ----
    "dedup_ngram_jaccard" -> Gate((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", 0.8)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jacc")),
      // exact 3-gram-shingle-set Jaccard pairs; the oracle prunes with
      // the public AllPairs prefix theorem so the sf1 replay stays
      // sub-quadratic — see jaccardPrefixOracleSql
      oracle = jaccardPrefixOracleSql, lazyPin = true),

    // ---- dedup: EXACT shingle-set Jaccard self-join via rarity-ordered
    //      prefix filtering (AllPairs/PPJoin family) — zero false
    //      negatives, unlike LSH; same 3-gram universe as
    //      dedup_ngram_jaccard so the oracle is the identical all-pairs
    //      set. Cap pinned 0: exactness guarantee mode. (Word unigrams
    //      are deliberately NOT used here: the synthetic corpus has a
    //      31-word vocabulary, making unigram-set Jaccard degenerate —
    //      ~3M qualifying pairs at sf0.1 — for ANY exact algorithm.) ----
    "dedup_jaccard_prefix" -> Gate((s, dir) =>
      Dedup.jaccardPrefixJoin(t(s, dir, "documents"), "text", "doc_id",
          0.8, maxBucket = 0, shingleN = 3)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jacc")),
      // prefix-filtered exact Jaccard: same pair set as
      // dedup_ngram_jaccard (different Spark algorithm: prefix-filter
      // equi-join + position filter, not LSH candidates)
      oracle = jaccardPrefixOracleSql, lazyPin = true),

    // ---- dedup: the DISTINCT-document twin of dedup_jaccard_prefix —
    //      every 6th word salted per (word, doc_id), so the sf1
    //      clone-amplified fixture stops being ~9 near-clones per doc
    //      and the gate times the PLAN, not the output mass (the clone
    //      fixture stays as the adversarial case). Same operator, same
    //      threshold; the salt is replayed verbatim in the oracle. ----
    "dedup_jaccard_prefix_distinct" -> Gate((s, dir) =>
      Dedup.jaccardPrefixJoin(saltedDocs(t(s, dir, "documents")), "text",
          "doc_id", 0.8, maxBucket = 0, shingleN = 3)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jacc")),
      oracle = saltedVariant(jaccardPrefixOracleSql), lazyPin = true),

    // ---- dedup: connected components → keep-one-per-cluster ----
    "dedup_clusters" -> Gate((s, dir) => {
      Dedup.connectedComponents(custPairs(t(s, dir, "customer")))
    }, oracle =
      s"""WITH $custWalkCtes
        |SELECT id, min(lbl) AS cluster FROM walk GROUP BY id""".stripMargin),

    // ---- dedup: QUALITY-AWARE keep — highest c_acctbal per duplicate
    //      cluster survives (ties → smallest key), the production keep
    //      policy; same banded pair graph as dedup_clusters ----
    "dedup_keep_best" -> Gate((s, dir) => {
      val cust = t(s, dir, "customer")
      val pairs = custPairs(cust)
      Dedup.dedupByClustersBest(
        cust.select(col("c_custkey"), col("c_acctbal")),
        "c_custkey", pairs, "c_acctbal")
    }, oracle =
      // quality-aware keep: same components, arg-max by (acctbal, -key)
      s"""WITH $custWalkCtes,
        |lab AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id),
        |win AS (
        |  SELECT l.cluster, c.c_custkey,
        |    row_number() OVER (PARTITION BY l.cluster
        |      ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rk
        |  FROM customer c JOIN lab l ON c.c_custkey = l.id)
        |SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM win WHERE rk > 1)""".stripMargin, frozen = true),

    // ---- dedup: leakage-safe split — sides assigned by the md5
    //      bucket of the duplicate-cluster representative, so near-dup
    //      copies never straddle train/test ----
    "split_by_cluster" -> Gate((s, dir) => {
      val cust = t(s, dir, "customer")
      val pairs = custPairs(cust)
      Dedup.splitByCluster(cust.select(col("c_custkey"), col("c_nationkey")),
        "c_custkey", pairs, testPct = 20)
    }, oracle =
      // same chain pair graph + recursive-CTE components as
      // dedup_clusters, then the sampleByHash md5 bucket of the cluster
      // representative decides the side
      s"""WITH $custWalkCtes,
        |labels AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id)
        |SELECT c_custkey, c_nationkey,
        |  CASE WHEN ('0x' || substr(md5(CAST(coalesce(cluster, c_custkey)
        |    AS VARCHAR)), 1, 8))::BIGINT % 100 < 20
        |  THEN 'test' ELSE 'train' END AS split
        |FROM customer LEFT JOIN labels ON c_custkey = id""".stripMargin),

    // ---- similarity/PCA: sample covariance of the embedding column —
    //      ONE typed single-pass aggregate (d + d(d+1)/2 mergeable
    //      buffer doubles), d²-bounded result; the front half of the
    //      PCA → IVF/PQ preprocessing chain ----
    "pca_covariance" -> Gate((s, dir) =>
      graft.operators.Pca.covarianceDf(t(s, dir, "embeddings"), "embedding"),
      oracle = """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |pairs AS (
        |  SELECT gi.i AS i, gj.j AS j, e[gi.i] AS xi, e[gj.j] AS xj
        |  FROM v,
        |    LATERAL unnest(generate_series(1, len(e))) gi(i),
        |    LATERAL unnest(generate_series(1, len(e))) gj(j)
        |  WHERE gi.i <= gj.j)
        |SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
        |  -- + 0.0 normalizes IEEE -0.0 (the Spark side rounds through
        |  -- BigDecimal, which has no signed zero)
        |  round((sum(xi * xj) - sum(xi) * sum(xj) / count(*))
        |        / (count(*) - 1), 6) + 0.0 AS cov
        |FROM pairs GROUP BY 1, 2""".stripMargin, frozen = true),

    // ---- similarity: brute-force cosine top-k ----
    "ann_bruteforce" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("cosine"), 6).as("cos"))
    }, oracle =
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(list_zip(CAST(embedding AS DOUBLE[]), qv),
        |      p -> p[1] * p[2])) /
        |    (sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))) *
        |     sqrt(list_sum(list_transform(qv, x -> x*x)))) AS cosine
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, round(cosine, 6) AS cos FROM scored
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),

    // ---- similarity: SRP-LSH candidate pairs (md5-derived hyperplanes
    //      → FULL oracle: DuckDB recomputes the same planes/buckets) ----
    "ann_lsh_pairs" -> Gate((s, dir) =>
      Similarity.lshCandidatePairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", planes = 8, tables = 2)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cos")),
      oracle = s"""$srpPairSql
         |SELECT id1, id2, round(c, 6) AS cos FROM scored""".stripMargin),

    // ---- similarity: multi-probe LSH top-k (full oracle, same planes) --
    "ann_lsh_topk" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      Similarity.lshTopK(emb.filter(col("vec_id") =!= 0), "vec_id",
        "embedding", q, k = 10, planes = 8, tables = 2, probeRadius = 1)
        .select(col("vec_id"), round(col("cosine"), 6).as("cos"))
    }, oracle =
      s"""WITH $srpCtes,
         |q AS (SELECT e AS qv FROM emb WHERE vec_id = 0),
         |qk AS (
         |  SELECT pl.t AS tbl,
         |    string_agg(CASE WHEN list_sum(list_transform(list_zip(q.qv, pl.pl),
         |      z -> z[1] * z[2])) >= 0 THEN '1' ELSE '0' END, '' ORDER BY pl.p) AS qb
         |  FROM q CROSS JOIN planes pl GROUP BY pl.t),
         |cand AS (
         |  SELECT DISTINCT k.vec_id FROM keyed k JOIN qk ON k.tbl = qk.tbl
         |  WHERE k.vec_id <> 0 AND
         |    list_sum(list_transform(range(0, 8), i ->
         |      CASE WHEN substr(k.bucket, CAST(i + 1 AS INTEGER), 1)
         |        <> substr(qk.qb, CAST(i + 1 AS INTEGER), 1)
         |      THEN 1 ELSE 0 END)) <= 1),
         |scored AS (
         |  SELECT e.vec_id,
         |    list_sum(list_transform(list_zip(e.e, q.qv), p -> p[1] * p[2])) /
         |    (sqrt(list_sum(list_transform(e.e, x -> x*x))) *
         |     sqrt(list_sum(list_transform(q.qv, x -> x*x)))) AS cosine
         |  FROM emb e JOIN cand c ON c.vec_id = e.vec_id, q)
         |SELECT vec_id, round(cosine, 6) AS cos FROM scored
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),

    // ---- similarity: int8-quantized asymmetric top-k — the embedding
    //      STORAGE path (4× smaller corpus bytes); the query keeps
    //      full precision (ADC), corpus vectors dequantize inside the
    //      scoring projection; same scan + TakeOrdered plan as
    //      ann_bruteforce, and the fixed IEEE dequantization sequence
    //      lets the oracle reproduce scores bit-for-bit ----
    "ann_quantized_topk" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val qd = Similarity.quantizeEmbeddings(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding")
      Similarity.quantizedTopK(qd, "vec_id", q, k = 10)
        .select(col("vec_id"), round(col("cosine"), 6).as("cos"))
    }, oracle =
      // int8 affine quantization per vector: u = floor((x-mn)*255/(mx-mn)+0.5),
      // dequant = mn + u*(mx-mn)/255 — the identical left-to-right IEEE
      // sequence both engines run, then the ann_bruteforce cosine shape
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_min(CAST(embedding AS DOUBLE[])) AS mn,
        |    list_max(CAST(embedding AS DOUBLE[])) AS mx
        |  FROM embeddings WHERE vec_id <> 0),
        |dq AS (
        |  SELECT vec_id,
        |    list_transform(v, x -> CASE WHEN mx = mn THEN mn
        |      ELSE mn + floor((x - mn) * 255.0 / (mx - mn) + 0.5) * (mx - mn) / 255.0
        |      END) AS dv
        |  FROM base),
        |scored AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(list_zip(dv, qv), p -> p[1] * p[2])) /
        |    (sqrt(list_sum(list_transform(dv, x -> x*x))) *
        |     sqrt(list_sum(list_transform(qv, x -> x*x)))) AS cosine
        |  FROM dq, q)
        |SELECT vec_id, round(cosine, 6) AS cos FROM scored
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),

    // ---- similarity: IVF top-k probe. FULL oracle: the sample is
    //      deterministic (ordered take), init = first k, and the
    //      oracle unrolls the same Lloyd iterations in SQL with
    //      identical summation order ----
    "ann_ivf_topk" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val rest = emb.filter(col("vec_id") =!= 0)
      val cents = Similarity.trainCentroids(rest, "embedding", k = 8, iters = 3,
        sampleN = 2000, orderBy = "vec_id")
      Similarity.ivfTopK(rest, "vec_id", "embedding", q, k = 10, cents, nProbe = 4)
        .select(col("vec_id"), round(col("cosine"), 6).as("cos"))
    }, oracle = ivfOracleSql, frozen = true),

    // ---- similarity: product-quantization ADC top-k. FULL oracle:
    //      per-subspace Lloyd runs are deterministic (ordered sample,
    //      first-k init) and the oracle unrolls them per subspace with
    //      identical summation order; approximate distances are M table
    //      lookups summed subspace-major ----
    "ann_pq_topk" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val rest = emb.filter(col("vec_id") =!= 0)
      val cbs = Similarity.trainPq(rest, "embedding", m = 4, k = 8,
        iters = 2, sampleN = 2000, orderBy = "vec_id")
      Similarity.pqTopK(rest, "vec_id", "embedding", q, k = 10, cbs)
    }, oracle = pqOracleSql, frozen = true),

    // ---- similarity: batch k-NN join — exact top-5 for 5 queries in
    //      ONE corpus scan (per-partition bounded heaps; only
    //      partitions×queries×k rows ever shuffle) ----
    "ann_knn_join" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
        .toSeq
      Similarity.knnJoin(emb.filter(col("vec_id") >= 5), "vec_id",
        "embedding", qs, k = 5)
        .select(col("qid"), col("vec_id"), round(col("cosine"), 6).as("cos"),
          col("rank"))
    }, oracle =
      s"""WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        | c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id >= 5),
        | $knnScoredCte,
        | ranked AS (
        |  SELECT qid, vec_id, cos, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT qid, vec_id, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rank
        |FROM ranked WHERE rn <= 5""".stripMargin),

    // ---- similarity: MMR diversified re-rank — exact top-20
    //      candidates per query, greedy λ=0.7 re-pick of 5 (6-dp-
    //      rounded scores/sims pin the trajectory; the oracle unrolls
    //      the identical 5 steps) ----
    "mmr_rerank" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
        .toSeq
      val run = Similarity.knnJoin(emb.filter(col("vec_id") >= 5),
        "vec_id", "embedding", qs, k = 20)
      val cands = run
        .select(col("qid"), col("vec_id"), round(col("cosine"), 6).as("score"))
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      Similarity.mmrRerank(cands, "qid", "vec_id", "score", "embedding",
        k = 5, lambda = 0.7)
    }, oracle = {
      // MMR: the knn top-20 candidates (scores rounded 6), the pairwise
      // rounded cosine table, then the 5 greedy steps UNROLLED — each
      // step is one marginal computation over the unselected candidates
      // and one (marg desc, id) argmax, exactly the Spark trajectory
      def step(sel: String, out: String): String =
        s"""${out}m AS (
           |  SELECT c.qid, c.vec_id,
           |    0.7*c.score - (1 - 0.7)*max(pc.sim) AS marg
           |  FROM cands c
           |  JOIN pc ON pc.qid = c.qid AND pc.ia = c.vec_id
           |  JOIN $sel s ON s.qid = pc.qid AND s.vec_id = pc.ib
           |  WHERE NOT EXISTS (SELECT 1 FROM $sel x
           |    WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
           |  GROUP BY c.qid, c.vec_id, c.score),
           |$out AS (
           |  SELECT qid, vec_id, marg FROM (
           |    SELECT qid, vec_id, marg, row_number() OVER (
           |      PARTITION BY qid ORDER BY marg DESC, vec_id) AS rn
           |    FROM ${out}m) WHERE rn = 1)""".stripMargin
      s"""WITH q AS (
         |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 5),
         | c0 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id >= 5),
         | scored AS (
         |  SELECT q.qid, c0.vec_id, c0.v,
         |    CASE WHEN sqrt(list_sum(list_transform(c0.v, x -> x*x))) *
         |              sqrt(list_sum(list_transform(q.qv, x -> x*x))) = 0
         |         THEN 0.0
         |         ELSE list_sum(list_transform(list_zip(c0.v, q.qv), p -> p[1]*p[2])) /
         |              (sqrt(list_sum(list_transform(c0.v, x -> x*x))) *
         |               sqrt(list_sum(list_transform(q.qv, x -> x*x))))
         |    END AS cosr
         |  FROM c0 CROSS JOIN q),
         | ranked AS (
         |  SELECT qid, vec_id, v, cosr, row_number() OVER (
         |    PARTITION BY qid ORDER BY cosr DESC, vec_id) AS rn
         |  FROM scored),
         | cands AS (
         |  SELECT qid, vec_id, round(cosr, 6) AS score, v
         |  FROM ranked WHERE rn <= 20),
         | pc AS (
         |  SELECT a.qid, a.vec_id AS ia, b.vec_id AS ib,
         |    CASE WHEN a.vec_id = b.vec_id THEN 1.0
         |         ELSE round(CASE
         |           WHEN sqrt(list_sum(list_transform(a.v, x -> x*x))) *
         |                sqrt(list_sum(list_transform(b.v, x -> x*x))) = 0
         |           THEN 0.0
         |           ELSE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) /
         |                (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
         |                 sqrt(list_sum(list_transform(b.v, x -> x*x))))
         |           END, 6)
         |    END AS sim
         |  FROM cands a JOIN cands b ON a.qid = b.qid),
         | s1m AS (
         |  SELECT qid, vec_id, 0.7*score AS marg, row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
         |  FROM cands),
         | s1 AS (SELECT qid, vec_id, marg FROM s1m WHERE rn = 1),
         | sel1 AS (SELECT qid, vec_id FROM s1),
         | ${step("sel1", "s2")},
         | sel2 AS (SELECT * FROM sel1 UNION ALL SELECT qid, vec_id FROM s2),
         | ${step("sel2", "s3")},
         | sel3 AS (SELECT * FROM sel2 UNION ALL SELECT qid, vec_id FROM s3),
         | ${step("sel3", "s4")},
         | sel4 AS (SELECT * FROM sel3 UNION ALL SELECT qid, vec_id FROM s4),
         | ${step("sel4", "s5")}
         |SELECT qid, vec_id, CAST(1 AS BIGINT) AS mmr_rank,
         |  round(marg, 5) AS marginal FROM s1
         |UNION ALL SELECT qid, vec_id, 2, round(marg, 5) FROM s2
         |UNION ALL SELECT qid, vec_id, 3, round(marg, 5) FROM s3
         |UNION ALL SELECT qid, vec_id, 4, round(marg, 5) FROM s4
         |UNION ALL SELECT qid, vec_id, 5, round(marg, 5) FROM s5""".stripMargin
    }),

    // ---- similarity: retrieval-quality evaluation — exact cosine
    //      top-10 run (the ann_knn_join shape) scored against
    //      label-match qrels: nDCG@10, MRR, P@10, R@10 per query ----
    "retrieval_eval" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
        .toSeq
      val run = Similarity.knnJoin(emb.filter(col("vec_id") >= 5), "vec_id",
        "embedding", qs, k = 10)
      val qrels = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("label").as("_ql"))
        .join(emb.filter(col("vec_id") >= 5)
          .select(col("vec_id"), col("label")), col("label") === col("_ql"))
        .select(col("qid"), col("vec_id"))
      Similarity.retrievalMetrics(run, qrels, k = 10)
    }, oracle =
      // the same knn run at k=10, scored against label-match qrels with
      // the identical ascending-summation ideal-DCG table
      s"""WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label
        |  FROM embeddings WHERE vec_id < 5),
        | c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings WHERE vec_id >= 5),
        | $knnScoredCte,
        | ranked AS (
        |  SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored),
        | qr AS (
        |  SELECT q.qid, c.vec_id FROM q JOIN c ON q.label = c.label),
        | nrel AS (SELECT qid, count(*) AS nrel FROM qr GROUP BY 1),
        | ideal AS (
        |  SELECT i, sum(1.0/log2(i+1)) OVER (ORDER BY i) AS idcg
        |  FROM range(1, 11) t(i)),
        | perq AS (
        |  SELECT r.qid,
        |    sum(CASE WHEN qr.vec_id IS NOT NULL
        |             THEN 1.0/log2(r.rn+1) ELSE 0 END) AS dcg,
        |    sum(CASE WHEN qr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS hits,
        |    min(CASE WHEN qr.vec_id IS NOT NULL THEN r.rn END) AS fr
        |  FROM ranked r LEFT JOIN qr
        |    ON r.qid = qr.qid AND r.vec_id = qr.vec_id
        |  WHERE r.rn <= 10 GROUP BY 1)
        |SELECT p.qid,
        |  round(CASE WHEN idcg IS NULL OR idcg = 0 THEN 0.0
        |             ELSE p.dcg/idcg END, 6) AS ndcg,
        |  round(coalesce(1.0/p.fr, 0.0), 6) AS mrr,
        |  round(p.hits/10.0, 6) AS precision,
        |  round(p.hits/n.nrel, 6) AS recall
        |FROM perq p JOIN nrel n ON p.qid = n.qid
        |LEFT JOIN ideal ON least(n.nrel, 10) = ideal.i""".stripMargin),

    // ---- similarity: nearest-centroid (Rocchio) classification —
    //      per-label mean vectors (rounded to 6 so any engine agrees),
    //      then one shuffle-free codegen'd argmax-cosine projection ----
    "ann_centroid_classify" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.labelCentroids(emb, "label", "embedding")
      Similarity.classifyByCentroids(emb, "embedding", cents)
        .select(col("vec_id"), col("label").cast("long").as("true_label"),
          col("pred").cast("long").as("pred"), col("score"))
    }, oracle =
      """WITH dimed AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |         unnest(range(1, len(embedding)+1)) AS i
        |  FROM embeddings),
        | cent AS (
        |  SELECT label AS cl, list(m ORDER BY i) AS cv FROM (
        |    SELECT label, i, round(avg(v), 6) AS m FROM dimed GROUP BY label, i)
        |  GROUP BY label),
        | scored AS (
        |  SELECT e.vec_id, e.label, c.cl,
        |    round(list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
        |        p -> p[1]*p[2])) /
        |      (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x*x))) *
        |       sqrt(list_sum(list_transform(c.cv, x -> x*x)))), 6) AS cos
        |  FROM embeddings e CROSS JOIN cent c),
        | best AS (
        |  SELECT vec_id, label, cl, cos, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, cl) AS rn
        |  FROM scored)
        |SELECT vec_id, CAST(label AS BIGINT) AS true_label,
        |  CAST(cl AS BIGINT) AS pred, cos AS score
        |FROM best WHERE rn = 1""".stripMargin),

    // ---- dedup: embedding-cosine near-dup pairs (full oracle via the
    //      portable SRP planes) ----
    "dedup_embedding" -> Gate((s, dir) =>
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.25, planes = 8, tables = 2)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cos")),
      oracle = s"""$srpPairSql
         |SELECT id1, id2, round(c, 6) AS cos FROM scored WHERE c >= 0.25""".stripMargin),

    // ---- SemDeDup (Abbas et al. 2023): k-means the embedding space,
    //      then exact-cosine duplicate pairs WITHIN each cluster only.
    //      Deterministic ordered-sample Lloyd (the ann_ivf convention)
    //      so the oracle replays training; cap pinned 0 = exact mode ----
    "semdedup_pairs" -> Gate((s, dir) =>
      Similarity.semDedupPairs(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.3, k = 64, iters = 3,
          maxBucket = 0, orderBy = "vec_id")
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cos")),
      oracle = s"""WITH $semDedupOracleCtes
         |SELECT id1, id2, round(c, 6) AS cos FROM spairs
         |WHERE c >= 0.3""".stripMargin),

    // ---- SemDeDup keep-set: connected components over the pair set,
    //      keep the smallest id per semantic-duplicate group ----
    "semdedup_keep" -> Gate((s, dir) =>
      Similarity.semDedupKeep(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.3, k = 64, iters = 3,
        maxBucket = 0, orderBy = "vec_id"),
      // keep-set: recursive-CTE connected components over the pair set,
      // drop every non-minimum member of each component
      oracle = s"""WITH $semDedupOracleCtes,
         |pr AS (SELECT id1, id2 FROM spairs WHERE c >= 0.3),
         |sedges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pr
         |           UNION SELECT id2, id1 FROM pr),
         |swalk AS (
         |  WITH RECURSIVE r(id, lbl) AS (
         |    SELECT a, a FROM sedges
         |    UNION
         |    SELECT e2.b, r.lbl FROM r JOIN sedges e2 ON r.id = e2.a)
         |  SELECT * FROM r),
         |slab AS (SELECT id, min(lbl) AS cluster FROM swalk GROUP BY id)
         |SELECT vec_id FROM emb
         |WHERE vec_id NOT IN (SELECT id FROM slab WHERE id <> cluster)""".stripMargin),

    // ---- ANN: hard-negative mining — top-k cosine neighbors per query
    //      EXCLUDING near-duplicate cluster co-members (the contrastive
    //      training negative set; exact via the k + maxCluster pad) ----
    "ann_hard_negatives" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
        .toSeq
      val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.25, planes = 8, tables = 2)
      Similarity.mineHardNegatives(emb.filter(col("vec_id") >= 5), "vec_id",
        "embedding", qs, k = 5, pairs)
        .select(col("qid"), col("vec_id"), round(col("cosine"), 6).as("cos"),
          col("neg_rank"))
    }, oracle =
      s"""$srpPairSql,
         |fpairs AS (SELECT id1, id2 FROM scored WHERE c >= 0.25),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM fpairs
         |  UNION SELECT id2, id1 FROM fpairs),
         |walk AS (
         |  WITH RECURSIVE r(id, lbl) AS (
         |    SELECT a, a FROM edges
         |    UNION
         |    SELECT e.b, r.lbl FROM r JOIN edges e ON r.id = e.a)
         |  SELECT * FROM r),
         |cl AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id),
         |q2 AS (
         |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |c2 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id >= 5),
         |scored2 AS (
         |  SELECT q2.qid, c2.vec_id,
         |    CASE WHEN sqrt(list_sum(list_transform(c2.v, x -> x*x))) *
         |              sqrt(list_sum(list_transform(q2.qv, x -> x*x))) = 0
         |         THEN 0.0
         |         ELSE list_sum(list_transform(list_zip(c2.v, q2.qv),
         |                p -> p[1]*p[2])) /
         |              (sqrt(list_sum(list_transform(c2.v, x -> x*x))) *
         |               sqrt(list_sum(list_transform(q2.qv, x -> x*x))))
         |    END AS cos
         |  FROM c2 CROSS JOIN q2),
         |excl AS (
         |  SELECT a.id AS qid, b.id AS vid
         |  FROM cl a JOIN cl b ON a.cluster = b.cluster),
         |kept AS (
         |  SELECT s.qid, s.vec_id, s.cos FROM scored2 s
         |  LEFT JOIN excl e ON s.qid = e.qid AND s.vec_id = e.vid
         |  WHERE e.qid IS NULL),
         |ranked2 AS (
         |  SELECT qid, vec_id, cos, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
         |  FROM kept)
         |SELECT qid, vec_id, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS neg_rank
         |FROM ranked2 WHERE rn <= 5""".stripMargin),

    // ---- multimodal: binary container ingest + batched header decode ----
    "mm_decode_meta" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = Multimodal.ingestFromText(docs, "doc_id", "text")
      Multimodal.decodeBatched(media, "doc_id", "payload")
        .select(col("doc_id"), col("meta.modality"), col("meta.width"),
          col("meta.height"), col("meta.payload_bytes"))
    }, oracle =
      """SELECT doc_id,
        | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |   ELSE 'video' END AS modality,
        | CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER) AS width,
        | CAST(octet_length(encode(text)) % 48 + 1 AS INTEGER) AS height,
        | CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes
        |FROM documents""".stripMargin),

    // ---- multimodal: REAL JPEG/PNG header decode — synthesize valid
    //      format bytes (deterministic from doc_id + text length), then
    //      parse them back natively (segment walk / CRC-checked IHDR).
    //      Pure projection: zero Exchange (plan-asserted) ----
    "mm_decode_image" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          ImageCodec.image_meta(
            ImageCodec.image_synth(
              col("doc_id"), col("text"))).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.bit_depth").as("bit_depth"),
          col("m.channels").as("channels"),
          col("m.color_type").as("color_type"),
          // int, not boolean: a nullable BOOLEAN normalizes differently
          // across parquet readers (None vs NaN); nullable INTEGER is
          // stable (see color_type)
          col("m.progressive").cast("int").as("progressive"))
    }, oracle =
      // mirrors ImageCodec.synthFromDoc: the Spark side builds REAL
      // JPEG/PNG bytes and parses them back; the oracle recomputes the
      // same metadata from the deterministic synth rule
      """WITH base AS (
        | SELECT doc_id, octet_length(encode(text)) AS n,
        |   CASE doc_id % 5 WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 3
        |     WHEN 3 THEN 4 ELSE 6 END AS ct
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'png' END AS format,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN n % 317 + 1
        |      ELSE n % 509 + 1 END AS INTEGER) AS width,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN n % 211 + 1
        |      ELSE n % 331 + 1 END AS INTEGER) AS height,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 8
        |      WHEN doc_id % 3 = 0 AND ct <> 3 THEN 16
        |      ELSE 8 END AS INTEGER) AS bit_depth,
        | CAST(CASE WHEN doc_id % 2 = 0
        |      THEN (CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 3 END)
        |      ELSE (CASE ct WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
        |            WHEN 4 THEN 2 ELSE 4 END) END AS INTEGER) AS channels,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN NULL ELSE ct END AS INTEGER)
        |   AS color_type,
        | CAST(CASE WHEN doc_id % 2 = 0
        |   THEN CAST(doc_id % 4 = 0 AS INTEGER) ELSE NULL END AS INTEGER)
        |   AS progressive
        |FROM base""".stripMargin, frozen = true),

    // ---- multimodal: REAL pixel kernels — synthesize a 24bpp gradient
    //      BMP (pixel values are affine in (x, y, doc_id) mod 256),
    //      nearest-neighbor resize it to 16×9 for real, then decode the
    //      resized pixels back to exact integer channel sums. The
    //      oracle recomputes every resized pixel analytically ----
    "mm_image_resize" -> Gate((s, dir) =>
      imageStats(s, dir,
        ImageCodec.image_resize_nn(
          ImageCodec.image_synth_bmp(col("doc_id"), col("text")),
          lit(16), lit(9))),
      oracle =
      """WITH dims AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 37 + 4 AS w,
        |         octet_length(encode(text)) % 23 + 3 AS h
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id,
        |         (xs.x * d.w) // 16 AS sx,
        |         (ys.y * d.h) // 9 AS sy
        |  FROM dims d, range(16) xs(x), range(9) ys(y))
        |SELECT doc_id,
        |       CAST(16 AS INTEGER) AS width,
        |       CAST(9 AS INTEGER) AS height,
        |       CAST(144 AS BIGINT) AS n_px,
        |       CAST(sum(((sx * 13 + sy * 17 + doc_id * 3) % 256 + 256) % 256)
        |         AS BIGINT) AS sum_r,
        |       CAST(sum(((sx * 7 + sy * 11 + doc_id * 2) % 256 + 256) % 256)
        |         AS BIGINT) AS sum_g,
        |       CAST(sum(((sx * 3 + sy * 5 + doc_id) % 256 + 256) % 256)
        |         AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id""".stripMargin, frozen = true),

    // ---- multimodal: FULL PNG pixel decode — synthesize a real
    //      zlib-compressed 8-bit PNG (color type cycling gray/RGB/
    //      gray+alpha/RGBA, scanline filters cycling all five RFC 2083
    //      types, two IDAT chunks), then inflate + unfilter it back to
    //      exact integer channel sums. The oracle recomputes the sums
    //      analytically from the affine sample rule ----
    // ---- multimodal: 64-bit audio energy fingerprint — per-frame
    //      summed |amplitude| pooled into 65 blocks, bit = quieter-
    //      than-next; text length pinned ≥ 45 so every clip clears the
    //      65-frame floor; oracle re-pools the affine samples ----
    "mm_audio_fingerprint" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        AudioCodec.audio_fingerprint(AudioCodec.audio_synth_g711(col("doc_id"),
          expr("repeat('x', CAST(doc_id % 50 + 60 AS INT))"))).as("afp"))
    }, oracle =
      s"""WITH ${audioFpCtes("doc_id", "doc_id % 50 + 60")}
         |SELECT doc_id, afp FROM fhashes""".stripMargin),

    // ---- multimodal: near-duplicate AUDIO pairs — the fingerprint
    //      through the shared 4×16-bit banding; synth ids fold to
    //      doc_id%6 so genuine duplicate clips exist; cap pinned 0 ----
    "mm_audio_neardup" -> Gate((s, dir) => {
      val clips = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          AudioCodec.audio_synth_g711(pmod(col("doc_id"), lit(6)),
            expr("repeat('x', CAST(doc_id % 3 + 60 AS INT))")).as("clip"))
      graft.operators.Multimodal.audioNearDupPairs(clips, "clip", "doc_id",
        maxHamming = 3, maxBucket = 0)
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
    }, oracle =
      s"""WITH ${audioFpCtes("((doc_id % 6) + 6) % 6", "doc_id % 3 + 60",
            " WHERE doc_id < 300")},
         |abands AS (SELECT doc_id, afp, b.r AS blk_no,
         |    (afp >> (b.r*16)) & 65535 AS blk
         |  FROM fhashes, range(4) b(r)),
         |acand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |    a.afp AS h1, b.afp AS h2
         |  FROM abands a JOIN abands b
         |    ON a.blk_no = b.blk_no AND a.blk = b.blk AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
         |FROM acand WHERE bit_count(xor(h1, h2)) <= 3""".stripMargin),

    // ---- multimodal: 64-bit perceptual dHash — 9×8 average-pooled
    //      grayscale, bit = darker-than-right-neighbor via cross-
    //      multiplied integer sums; text length pinned to doc_id%4+15
    //      so every synth image clears the 9×8 grid; the oracle
    //      re-pools the affine pixels in SQL and rebuilds the hash ----
    "mm_image_dhash" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        ImageCodec.image_dhash(ImageCodec.image_synth_png(col("doc_id"),
          expr("repeat('x', CAST(doc_id % 4 + 15 AS INT))"))).as("dhash"))
    }, oracle =
      s"""WITH ${dhashCtes("doc_id")}
         |SELECT doc_id, dhash FROM hashes""".stripMargin, frozen = true),

    // ---- multimodal: near-duplicate IMAGE pairs — dHash banded into
    //      4×16-bit blocks (pigeonhole-exact for hamming ≤ 3), block-
    //      bucket equi-join, exact bit_count verify; synth ids fold to
    //      doc_id%8 so genuine duplicate images exist. Cap pinned 0
    //      for the exact oracle ----
    "mm_image_neardup" -> Gate((s, dir) => {
      val imgs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          ImageCodec.image_synth_png(pmod(col("doc_id"), lit(8)),
            expr("repeat('x', CAST(doc_id % 4 + 15 AS INT))")).as("img"))
      graft.operators.Multimodal.imageNearDupPairs(imgs, "img", "doc_id",
        maxHamming = 3, maxBucket = 0)
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
    }, oracle =
      // 4×16-bit banding (arithmetic >> then mask — sign bits masked off
      // identically in both engines), exact bit_count(xor) verify
      s"""WITH ${dhashCtes("((doc_id % 8) + 8) % 8", " WHERE doc_id < 300")},
         |bands AS (SELECT doc_id, dhash, b.r AS blk_no,
         |    (dhash >> (b.r*16)) & 65535 AS blk
         |  FROM hashes, range(4) b(r)),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |    a.dhash AS h1, b.dhash AS h2
         |  FROM bands a JOIN bands b
         |    ON a.blk_no = b.blk_no AND a.blk = b.blk AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(h1, h2)) <= 3""".stripMargin),

    // ---- multimodal: 64-bit perceptual DCT hash (pHash) — 16×8
    //      average-pooled grayscale through a FIXED-POINT separable
    //      DCT-II (integer cosine table shared verbatim with the
    //      oracle), bit = coefficient above the 63-AC median; text
    //      length pinned to doc_id%4+24 so every synth image clears
    //      the 16×8 grid ----
    "mm_image_phash" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        ImageCodec.image_phash(ImageCodec.image_synth_png(col("doc_id"),
          expr("repeat('x', CAST(doc_id % 4 + 24 AS INT))"))).as("phash"))
    }, oracle =
      s"""WITH ${phashCtes("doc_id")}
         |SELECT doc_id, phash FROM hashes""".stripMargin),

    // ---- multimodal: near-duplicate IMAGE pairs over the DCT hash —
    //      identical 4×16-bit banding to mm_image_neardup; synth ids
    //      fold to doc_id%8 so genuine duplicates exist. Cap pinned 0
    //      for the exact oracle ----
    "mm_image_neardup_phash" -> Gate((s, dir) => {
      val imgs = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          ImageCodec.image_synth_png(pmod(col("doc_id"), lit(8)),
            expr("repeat('x', CAST(doc_id % 4 + 24 AS INT))")).as("img"))
      graft.operators.Multimodal.imageNearDupPairsPhash(imgs, "img", "doc_id",
        maxHamming = 3, maxBucket = 0)
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
    }, oracle =
      s"""WITH ${phashCtes("((doc_id % 8) + 8) % 8", " WHERE doc_id < 300")},
         |bands AS (SELECT doc_id, phash, b.r AS blk_no,
         |    (phash >> (b.r*16)) & 65535 AS blk
         |  FROM hashes, range(4) b(r)),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |    a.phash AS h1, b.phash AS h2
         |  FROM bands a JOIN bands b
         |    ON a.blk_no = b.blk_no AND a.blk = b.blk AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(h1, h2)) <= 3""".stripMargin),

    "mm_png_pixel_stats" -> Gate((s, dir) =>
      imageStats(s, dir,
        ImageCodec.image_synth_png(col("doc_id"), col("text")), alpha = true),
      oracle =
      // mirrors ImageCodec.synthPngPixels: sample value for channel slot c
      // is floorMod(x*(3+2c) + y*(5+2c) + id*(c+1), 256); color type
      // cycles gray/RGB/gray+alpha/RGBA by doc_id % 4. The Spark side
      // decodes REAL zlib-compressed PNG bytes; the oracle never parses a
      // byte — it recomputes the channel sums analytically.
      s"""WITH dims AS (
        |  SELECT doc_id, ((doc_id % 4) + 4) % 4 AS cti,
        |         octet_length(encode(text)) % 29 + 4 AS w,
        |         octet_length(encode(text)) % 19 + 3 AS h
        |  FROM documents),
        | vals AS (
        |  SELECT d.doc_id, d.cti, d.w, d.h,
        |         ${pngSamples("xs.x", "ys.y", "d.doc_id")}
        |  FROM dims d, range(32) xs(x), range(21) ys(y)
        |  WHERE xs.x < d.w AND ys.y < d.h)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  $pngSums
        |FROM vals GROUP BY doc_id""".stripMargin),

    // ---- multimodal: BASELINE JPEG entropy decode — real Huffman
    //      tables (carried in DHT), byte-stuffed entropy data, restart
    //      markers, DC DPCM, dequantize + IDCT per block. The synth is
    //      BLOCK-CONSTANT so the lossy transform round-trips exactly
    //      (flat quant: a constant block is one DC coefficient) and the
    //      oracle recomputes every pixel analytically, incl. the fixed
    //      floor(x+0.5) YCbCr→RGB rounding ----
    "mm_jpeg_pixel_stats" -> Gate((s, dir) =>
      imageStats(s, dir, ImageCodec.image_synth_jpeg_px(col("doc_id"), col("text"))),
      oracle =
      // mirrors JpegCodec.synthJpegPixels: every 8×8 block constant
      // (value affine in blockX/blockY/id), gray vs YCbCr by id parity;
      // the YCbCr→RGB conversion uses the decoder's exact constants with
      // floor(x+0.5) rounding — the e0 suffixes force DOUBLE arithmetic
      // (a bare 1.402 is DECIMAL in DuckDB, which rounds differently)
      s"""WITH dims AS (
        |  SELECT doc_id, ((doc_id % 2) + 2) % 2 = 0 AS gray,
        |         octet_length(encode(text)) % 39 + 8 AS w,
        |         octet_length(encode(text)) % 25 + 8 AS h
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.gray, d.w, d.h, xs.x // 8 AS bx, ys.y // 8 AS by
        |  FROM dims d, range(46) xs(x), range(32) ys(y)
        |  WHERE xs.x < d.w AND ys.y < d.h),
        | blocks AS (
        |  SELECT doc_id, gray, w, h,
        |    ((bx*7 + by*11 + doc_id) % 256 + 256) % 256 AS gv,
        |    ((bx*5 + by*7 + doc_id) % 256 + 256) % 256 AS yv,
        |    ((bx*3 + by*13 + doc_id*2) % 256 + 256) % 256 - 128 AS cb,
        |    ((bx*11 + by*3 + doc_id*3) % 256 + 256) % 256 - 128 AS cr
        |  FROM px),
        | rgb AS (
        |  SELECT doc_id, gray, w, h, gv,
        |    $ycbcrRgb
        |  FROM blocks)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  $grayRgbSums
        |FROM rgb GROUP BY doc_id""".stripMargin),

    // ---- multimodal: 4:2:0 chroma-subsampled JPEG (the layout most
    //      real JPEGs ship) — interleaved MCUs carry 4 Y blocks per
    //      chroma block; decode replicate-upsamples chroma. Chroma
    //      blocks live on the SUBSAMPLED grid, so the oracle indexes
    //      them by (x/16, y/16) ----
    "mm_jpeg_420" -> Gate((s, dir) =>
      imageStats(s, dir, ImageCodec.image_synth_jpeg420(col("doc_id"), col("text"))),
      oracle =
      // mirrors JpegCodec.synthJpeg420: Y block (x//8, y//8) on the full
      // grid, chroma block (x//16, y//16) on the subsampled grid, same
      // fixed-rounding YCbCr→RGB as mm_jpeg_pixel_stats
      s"""WITH dims AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 37 + 8 AS w,
        |         octet_length(encode(text)) % 23 + 8 AS h
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |         xs.x // 8 AS ybx, ys.y // 8 AS yby,
        |         xs.x // 16 AS cbx, ys.y // 16 AS cby
        |  FROM dims d, range(44) xs(x), range(30) ys(y)
        |  WHERE xs.x < d.w AND ys.y < d.h),
        | blocks AS (
        |  SELECT doc_id, w, h,
        |    ((ybx*5 + yby*7 + doc_id) % 256 + 256) % 256 AS yv,
        |    ((cbx*3 + cby*13 + doc_id*2) % 256 + 256) % 256 - 128 AS cb,
        |    ((cbx*11 + cby*3 + doc_id*3) % 256 + 256) % 256 - 128 AS cr
        |  FROM px)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(greatest(0, least(255,
        |    CAST(floor(yv + 1.402e0*cr + 0.5e0) AS BIGINT)))) AS BIGINT) AS sum_r,
        |  CAST(sum(greatest(0, least(255,
        |    CAST(floor(yv - 0.344136e0*cb - 0.714136e0*cr + 0.5e0) AS BIGINT))))
        |    AS BIGINT) AS sum_g,
        |  CAST(sum(greatest(0, least(255,
        |    CAST(floor(yv + 1.772e0*cb + 0.5e0) AS BIGINT)))) AS BIGINT) AS sum_b
        |FROM blocks GROUP BY doc_id""".stripMargin),

    // ---- multimodal: PROGRESSIVE (SOF2) JPEG — multi-scan spectral
    //      selection + successive approximation (DC/AC first and
    //      refinement scans, EOBn runs), block-constant so the lossy
    //      transform round-trips exactly; chroma on the /16 grid for
    //      the 4:2:0 ids (every fifth color id), /8 otherwise ----
    "mm_jpeg_progressive" -> Gate((s, dir) =>
      imageStats(s, dir, ImageCodec.image_synth_jpeg_prog(col("doc_id"), col("text"))),
      oracle =
      // mirrors JpegCodec.synthJpegProg: the baseline block rules with the
      // chroma grid switching to /16 for the 4:2:0 ids (color, id%5==0);
      // progressive scans reconstruct the very same coefficients, so the
      // analytic oracle is unchanged from the baseline gates
      s"""WITH dims AS (
        |  SELECT doc_id, ((doc_id % 2) + 2) % 2 = 0 AS gray,
        |         ((doc_id % 2) + 2) % 2 = 1 AND ((doc_id % 5) + 5) % 5 = 0 AS sub,
        |         octet_length(encode(text)) % 35 + 8 AS w,
        |         octet_length(encode(text)) % 27 + 8 AS h
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.gray, d.w, d.h, xs.x // 8 AS bx, ys.y // 8 AS by,
        |         CASE WHEN d.sub THEN xs.x // 16 ELSE xs.x // 8 END AS cbx,
        |         CASE WHEN d.sub THEN ys.y // 16 ELSE ys.y // 8 END AS cby
        |  FROM dims d, range(42) xs(x), range(34) ys(y)
        |  WHERE xs.x < d.w AND ys.y < d.h),
        | blocks AS (
        |  SELECT doc_id, gray, w, h,
        |    ((bx*7 + by*11 + doc_id) % 256 + 256) % 256 AS gv,
        |    ((bx*5 + by*7 + doc_id) % 256 + 256) % 256 AS yv,
        |    ((cbx*3 + cby*13 + doc_id*2) % 256 + 256) % 256 - 128 AS cb,
        |    ((cbx*11 + cby*3 + doc_id*3) % 256 + 256) % 256 - 128 AS cr
        |  FROM px),
        | rgb AS (
        |  SELECT doc_id, gray, w, h, gv,
        |    $ycbcrRgb
        |  FROM blocks)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  $grayRgbSums
        |FROM rgb GROUP BY doc_id""".stripMargin),

    // ---- multimodal: Adam7-INTERLACED PNG — seven-pass wire layout
    //      with per-pass scanline filtering, dims down to 1×1 (empty
    //      passes). Interlacing only reorders scanlines, so the oracle
    //      is the same per-pixel affine rule as mm_png_pixel_stats ----
    "mm_png_interlaced" -> Gate((s, dir) =>
      imageStats(s, dir,
        ImageCodec.image_synth_png_i7(col("doc_id"), col("text")), alpha = true),
      oracle =
      // mirrors ImageCodec.synthPngInterlaced: identical value rule to
      // mm_png_pixel_stats (Adam7 only reorders the wire), tiny dims
      s"""WITH dims AS (
        |  SELECT doc_id, ((doc_id % 4) + 4) % 4 AS cti,
        |         octet_length(encode(text)) % 27 + 1 AS w,
        |         octet_length(encode(text)) % 21 + 1 AS h
        |  FROM documents),
        | vals AS (
        |  SELECT d.doc_id, d.cti, d.w, d.h,
        |         ${pngSamples("xs.x", "ys.y", "d.doc_id")}
        |  FROM dims d, range(27) xs(x), range(21) ys(y)
        |  WHERE xs.x < d.w AND ys.y < d.h)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  $pngSums
        |FROM vals GROUP BY doc_id""".stripMargin),

    // ---- multimodal: REAL GIF decode — variable-width LZW, 8-color
    //      global table, 1–3 composed animation frames, alternate
    //      frames interlaced (wire order only). The oracle recomputes
    //      channel sums from the affine palette/index rule ----
    "mm_gif_pixel_stats" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          GifCodec.gif_synth(col("doc_id"), col("text")).as("g"))
        .select(col("doc_id"),
          ImageCodec.image_pixel_stats(col("g")).as("st"),
          GifCodec.gif_meta(col("g")).as("mt"))
        .select(statCols("mt.width", "mt.height", "mt.n_frames", "st.n_px", "st.sum_r",
          "st.sum_g", "st.sum_b"): _*)
    }, oracle =
      // mirrors GifCodec.synthGif: w = n%21+4, h = n%11+3, frames =
      // floorMod(id,3)+1, 8-color palette and per-pixel index both
      // affine with floor-mod semantics; interlace is wire-order only,
      // so the oracle never sees it
      s"""WITH dims AS (
        |  SELECT doc_id,
        |    octet_length(encode(text)) % 21 + 4 AS w,
        |    octet_length(encode(text)) % 11 + 3 AS h,
        |    ((doc_id % 3) + 3) % 3 + 1 AS nf
        |  FROM documents),
        | vals AS (
        |  SELECT d.doc_id, d.w, d.h, d.nf,
        |    ((xs.x*3 + ys.y*5 + fs.f*7 + d.doc_id) % 8 + 8) % 8 AS j
        |  FROM dims d, range(25) xs(x), range(14) ys(y), range(3) fs(f)
        |  WHERE xs.x < d.w AND ys.y < d.h AND fs.f < d.nf)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(max(nf) AS INTEGER) AS n_frames,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(((j*31 + doc_id) % 256 + 256) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum(((j*57 + doc_id*2) % 256 + 256) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum(((j*89 + doc_id*3) % 256 + 256) % 256) AS BIGINT) AS sum_b
        |FROM vals GROUP BY doc_id""".stripMargin),

    // ---- multimodal: GIF frame sampling — every 2nd composed frame
    //      re-encoded through the real LZW encoder as a valid GIF,
    //      then re-decoded; oracle keeps even frame indices ----
    "mm_gif_frames" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          GifCodec.gif_frame_sample(
            GifCodec.gif_synth(col("doc_id"), col("text")), lit(2)).as("g"))
        .select(col("doc_id"),
          ImageCodec.image_pixel_stats(col("g")).as("st"),
          GifCodec.gif_meta(col("g")).as("mt"))
        .select(statCols("mt.n_frames", "st.n_px", "st.sum_r", "st.sum_g", "st.sum_b"): _*)
    }, oracle =
      // every-2nd-frame sampling: the oracle keeps even frame indices
      """WITH dims AS (
        |  SELECT doc_id,
        |    octet_length(encode(text)) % 21 + 4 AS w,
        |    octet_length(encode(text)) % 11 + 3 AS h,
        |    ((doc_id % 3) + 3) % 3 + 1 AS nf
        |  FROM documents),
        | vals AS (
        |  SELECT d.doc_id, d.w, d.h, d.nf,
        |    ((xs.x*3 + ys.y*5 + fs.f*7 + d.doc_id) % 8 + 8) % 8 AS j
        |  FROM dims d, range(25) xs(x), range(14) ys(y), range(3) fs(f)
        |  WHERE xs.x < d.w AND ys.y < d.h AND fs.f < d.nf
        |    AND fs.f % 2 = 0)
        |SELECT doc_id,
        |  CAST((max(nf) + 1) // 2 AS INTEGER) AS n_frames,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(((j*31 + doc_id) % 256 + 256) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum(((j*57 + doc_id*2) % 256 + 256) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum(((j*89 + doc_id*3) % 256 + 256) % 256) AS BIGINT) AS sum_b
        |FROM vals GROUP BY doc_id""".stripMargin),

    // ---- multimodal: REAL TIFF decode — both byte orders, gray/RGB/
    //      palette photometrics cycling by id, PackBits RLE on even
    //      ids, multi-strip assembly. Oracle mirrors the synth rule ----
    "mm_tiff_pixel_stats" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TiffCodec.tiff_synth(col("doc_id"), col("text")).as("ti"))
        .select(col("doc_id"),
          ImageCodec.image_pixel_stats(col("ti")).as("st"),
          TiffCodec.tiff_meta(col("ti")).as("mt"))
        .select(statCols("mt.width", "mt.height", "mt.photometric", "mt.compression", "st.n_px",
          "st.sum_r", "st.sum_g", "st.sum_b"): _*)
    }, oracle =
      // mirrors TiffCodec.synthTiff: photometric 1/2/3 by id, gray base
      // value (x*3+y*5+id) fm 256 doubles as the palette index; PackBits
      // and byte order are wire-level only
      s"""WITH dims AS (
        |  SELECT doc_id,
        |    octet_length(encode(text)) % 19 + 4 AS w,
        |    octet_length(encode(text)) % 9 + 3 AS h,
        |    ((doc_id % 3) + 3) % 3 + 1 AS pm,
        |    CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN 32773 ELSE 1 END AS comp
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.w, d.h, d.pm, d.comp,
        |    ((xs.x*3 + ys.y*5 + d.doc_id) % 256 + 256) % 256 AS base,
        |    ((xs.x*5 + ys.y*6 + d.doc_id*2) % 256 + 256) % 256 AS g2,
        |    ((xs.x*7 + ys.y*7 + d.doc_id*3) % 256 + 256) % 256 AS b2
        |  FROM dims d, range(23) xs(x), range(12) ys(y)
        |  WHERE xs.x < d.w AND ys.y < d.h),
        | vals AS (
        |  SELECT doc_id, w, h, pm, comp,
        |    CASE pm WHEN 1 THEN base WHEN 2 THEN base
        |      ELSE ((base*31 + doc_id) % 256 + 256) % 256 END AS r,
        |    CASE pm WHEN 1 THEN base WHEN 2 THEN g2
        |      ELSE ((base*57 + doc_id*2) % 256 + 256) % 256 END AS g,
        |    CASE pm WHEN 1 THEN base WHEN 2 THEN b2
        |      ELSE ((base*89 + doc_id*3) % 256 + 256) % 256 END AS b
        |  FROM px)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(max(pm) AS INTEGER) AS photometric,
        |  CAST(max(comp) AS INTEGER) AS compression,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM vals GROUP BY doc_id""".stripMargin),

    // ---- multimodal: SUB-BYTE PNG (depths 1/2/4) — MSB-first bit
    //      unpacking after the byte-wise unfilter, Adam7 on even ids,
    //      sums over the NATIVE code range (0..2^depth−1) ----
    "mm_png_tiny" -> Gate((s, dir) =>
      imageStats(s, dir, ImageCodec.image_synth_png_tiny(col("doc_id"), col("text"))),
      oracle =
      // mirrors ImageCodec.synthPngTiny: gray code value
      // floorMod(x*3 + y*5 + id, 2^depth), depth cycling 1/2/4 by id
      s"""WITH dims AS (
        |  SELECT doc_id,
        |         CASE ((doc_id % 3) + 3) % 3 WHEN 0 THEN 2 WHEN 1 THEN 4
        |           ELSE 16 END AS maxv,
        |         octet_length(encode(text)) % 33 + 1 AS w,
        |         octet_length(encode(text)) % 19 + 1 AS h
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |    ((xs.x*3 + ys.y*5 + d.doc_id) % d.maxv + d.maxv) % d.maxv AS v
        |  FROM dims d, range(33) xs(x), range(19) ys(y)
        |  WHERE xs.x < d.w AND ys.y < d.h)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(v) AS BIGINT) AS sum_r,
        |  CAST(sum(v) AS BIGINT) AS sum_g,
        |  CAST(sum(v) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id""".stripMargin),

    // ---- multimodal: PALETTE PNG decode — a real PLTE-backed color
    //      type 3 image (indices AND palette both affine in the
    //      inputs), decoded through inflate + unfilter + palette
    //      expansion to exact RGB sums ----
    "mm_png_palette" -> Gate((s, dir) =>
      imageStats(s, dir, ImageCodec.image_synth_png_pal(col("doc_id"), col("text"))),
      oracle =
      // mirrors ImageCodec.synthPngPalette: pixel (x, y) holds palette
      // index floorMod(x*3 + y*5 + id, ps) with ps = floorMod(id,15)+2;
      // entry e expands to r = (e*5 + id*7) mod 256, g = (e*11 + id*3)
      // mod 256, b = (e*13 + id) mod 256 — the oracle composes the two
      // affine rules
      s"""WITH dims AS (
        |  SELECT doc_id, ((doc_id % 15) + 15) % 15 + 2 AS ps,
        |         octet_length(encode(text)) % 31 + 4 AS w,
        |         octet_length(encode(text)) % 17 + 3 AS h
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |         ((xs.x*3 + ys.y*5 + d.doc_id) % d.ps + d.ps) % d.ps AS e
        |  FROM dims d, range(34) xs(x), range(19) ys(y)
        |  WHERE xs.x < d.w AND ys.y < d.h)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(((e*5 + doc_id*7) % 256 + 256) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum(((e*11 + doc_id*3) % 256 + 256) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum(((e*13 + doc_id) % 256 + 256) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id""".stripMargin, frozen = true),

    // ---- multimodal: 16-BIT PNG decode — two big-endian bytes per
    //      sample, gray or RGB by id parity, full-range (0..65535)
    //      channel sums; resize preserves the deep samples (16-bit in →
    //      16-bit out → decoded again) ----
    "mm_png_deep" -> Gate((s, dir) =>
      imageStats(s, dir, ImageCodec.image_synth_png16(col("doc_id"), col("text"))),
      oracle =
      // mirrors ImageCodec.synthPng16: sample (x, y, c) =
      // floorMod(x*(31+2c) + y*(47+2c) + id*(c+1), 65536); id parity
      // picks gray (r=g=b from c=0) vs RGB
      s"""WITH dims AS (
        |  SELECT doc_id, ((doc_id % 2) + 2) % 2 = 0 AS gray,
        |         octet_length(encode(text)) % 23 + 4 AS w,
        |         octet_length(encode(text)) % 15 + 3 AS h
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.gray, d.w, d.h,
        |    ((xs.x*31 + ys.y*47 + d.doc_id) % 65536 + 65536) % 65536 AS v0,
        |    ((xs.x*33 + ys.y*49 + d.doc_id*2) % 65536 + 65536) % 65536 AS v1,
        |    ((xs.x*35 + ys.y*51 + d.doc_id*3) % 65536 + 65536) % 65536 AS v2
        |  FROM dims d, range(26) xs(x), range(17) ys(y)
        |  WHERE xs.x < d.w AND ys.y < d.h)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(v0) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN gray THEN v0 ELSE v1 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN gray THEN v0 ELSE v2 END) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id""".stripMargin),

    // ---- multimodal: PNG→PNG resize — full decode, nearest-neighbor
    //      resample in sample space, re-encode through the zlib PNG
    //      writer, decode AGAIN for stats. Exercises the whole codec
    //      round-trip per row; still a pure zero-Exchange projection ----
    "mm_png_resize" -> Gate((s, dir) =>
      imageStats(s, dir,
        ImageCodec.image_resize_nn(
          ImageCodec.image_synth_png(col("doc_id"), col("text")),
          lit(11), lit(6)), alpha = true),
      oracle =
      s"""WITH dims AS (
        |  SELECT doc_id, ((doc_id % 4) + 4) % 4 AS cti,
        |         octet_length(encode(text)) % 29 + 4 AS w,
        |         octet_length(encode(text)) % 19 + 3 AS h
        |  FROM documents),
        | vals AS (
        |  SELECT d.doc_id, d.cti,
        |         (xs.x * d.w) // 11 AS sx, (ys.y * d.h) // 6 AS sy
        |  FROM dims d, range(11) xs(x), range(6) ys(y)),
        | chans AS (
        |  SELECT doc_id, cti,
        |         ${pngSamples("sx", "sy", "doc_id")}
        |  FROM vals)
        |SELECT doc_id,
        |  CAST(11 AS INTEGER) AS width,
        |  CAST(6 AS INTEGER) AS height,
        |  CAST(66 AS BIGINT) AS n_px,
        |  $pngSums
        |FROM chans GROUP BY doc_id""".stripMargin),

    // ---- multimodal: REAL audio decode — synthesize RIFF/WAVE 16-bit
    //      PCM bytes (mono/stereo cycling by id, an odd-length LIST
    //      chunk exercising the RIFF pad rule), parse the header AND
    //      decode every frame to exact per-channel sums + peak. The
    //      oracle recomputes from the affine sample rule ----
    "mm_audio_stats" -> Gate((s, dir) => {
      val wav = AudioCodec.audio_synth_wav(col("doc_id"), col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          AudioCodec.audio_meta(wav).as("m"),
          AudioCodec.audio_pcm_stats(wav).as("st"))
        .select(statCols("st.channels", "st.sample_rate", "st.n_frames", "m.duration_us",
          "st.sum_l", "st.sum_r", "st.peak"): _*)
    }, oracle =
      // mirrors AudioCodec.synthWav: sample (i, c) =
      // floorMod(i*(7+2c) + id*(3+c), 65536) - 32768; frames from the
      // text's byte length, channels/rate cycle by doc_id. The Spark side
      // decodes REAL RIFF/WAVE bytes; the oracle recomputes analytically.
      s"""WITH dims AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 241 + 20 AS f,
        |         ((doc_id % 2) + 2) % 2 + 1 AS ch,
        |         $pcmRate
        |  FROM documents),
        | vals AS (
        |  SELECT d.doc_id, d.f, d.ch, d.rate,
        |         ((s.i*7 + d.doc_id*3) % 65536 + 65536) % 65536 - 32768 AS v0,
        |         ((s.i*9 + d.doc_id*4) % 65536 + 65536) % 65536 - 32768 AS v1
        |  FROM dims d, range(261) s(i) WHERE s.i < d.f)
        |SELECT doc_id,
        |  CAST(max(ch) AS INTEGER) AS channels,
        |  CAST(max(rate) AS INTEGER) AS sample_rate,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST((max(f) * 1000000) // max(rate) AS BIGINT) AS duration_us,
        |  $pcmSums
        |FROM vals GROUP BY doc_id""".stripMargin),

    // ---- multimodal: wider PCM matrix — 8-bit excess-128, 24-bit
    //      signed LE, IEEE float32 (the ML-audio-corpus layouts);
    //      float samples map through floor(v·32767 + 0.5) so stats
    //      stay exact integers the oracle recomputes ----
    "mm_audio_deep" -> Gate((s, dir) => {
      val wav = AudioCodec.audio_synth_deep(col("doc_id"), col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          AudioCodec.audio_meta(wav).as("m"),
          AudioCodec.audio_pcm_stats(wav).as("st"))
        .select(statCols("m.format", "st.channels", "st.sample_rate", "st.n_frames", "st.sum_l",
          "st.sum_r", "st.peak"): _*)
    }, oracle =
      // mirrors AudioCodec.synthWavDeep: with e = i·(7+2c) + id·(3+c),
      // 8-bit decodes to floorMod(e,256)−128, 24-bit to
      // floorMod(e,2^24)−2^23, float32 stores (floorMod(e,131072)−65536)
      // /65536 exactly and decodes through floor(v·32767 + 0.5)
      s"""WITH dims AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 97 + 10 AS f,
        |         ((doc_id % 2) + 2) % 2 + 1 AS ch,
        |         ((doc_id % 3) + 3) % 3 AS kind,
        |         $pcmRate
        |  FROM documents),
        | sm AS (
        |  SELECT d.doc_id, d.f, d.ch, d.kind, d.rate, cs.c,
        |    s.i*(7 + 2*cs.c) + d.doc_id*(3 + cs.c) AS e
        |  FROM dims d, range(107) s(i), range(2) cs(c)
        |  WHERE s.i < d.f AND cs.c < d.ch),
        | vals AS (
        |  SELECT doc_id, f, ch, kind, rate, c,
        |    CASE kind
        |      WHEN 0 THEN ((e % 256 + 256) % 256) - 128
        |      WHEN 1 THEN ((e % 16777216 + 16777216) % 16777216) - 8388608
        |      ELSE CAST(floor((((e % 131072 + 131072) % 131072 - 65536)
        |        / 65536.0e0) * 32767.0e0 + 0.5e0) AS BIGINT)
        |    END AS v
        |  FROM sm)
        |SELECT doc_id,
        |  CASE max(kind) WHEN 0 THEN 'pcm8' WHEN 1 THEN 'pcm24'
        |    ELSE 'float32' END AS format,
        |  CAST(max(ch) AS INTEGER) AS channels,
        |  CAST(max(rate) AS INTEGER) AS sample_rate,
        |  CAST(max(f) AS BIGINT) AS n_frames,
        |  CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_l,
        |  CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_r,
        |  CAST(max(abs(v)) AS INTEGER) AS peak
        |FROM vals GROUP BY doc_id""".stripMargin),

    // ---- multimodal: mono IMA ADPCM (format 17) — the stateful
    //      4-bit companded codec; the oracle unrolls the decoder
    //      recurrence (predictor + step index per nibble) in a
    //      recursive CTE over the public 89-entry step table ----
    "mm_audio_adpcm" -> Gate((s, dir) => {
      val wav = AudioCodec.audio_synth_adpcm(col("doc_id"), col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          AudioCodec.audio_meta(wav).as("m"),
          AudioCodec.audio_pcm_stats(wav).as("st"))
        .select(statCols("m.format", "st.sample_rate", "st.n_frames", "st.sum_l", "st.peak"): _*)
    }, oracle = {
      // the IMA decoder recurrence unrolled: per (doc, block), 16
      // recursive steps carry (predictor, step-index) through the nibble
      // stream; the 89-entry step table is inlined as VALUES and the
      // block header predictor is itself sample 0
      val steps = AudioCodec.AdpcmSteps.zipWithIndex
        .map { case (st, i) => s"($i,$st)" }.mkString(",")
      s"""WITH RECURSIVE dims AS (
         |  SELECT doc_id, octet_length(encode(text)) % 5 + 2 AS nb,
         |    CASE ((doc_id % 4) + 4) % 4 WHEN 0 THEN 8000
         |      WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END AS rate
         |  FROM documents),
         | blocks AS (
         |  SELECT d.doc_id, d.nb, d.rate, bs.b,
         |    ((d.doc_id*31 + bs.b*17) % 65536 + 65536) % 65536 - 32768 AS pred0,
         |    ((d.doc_id*7 + bs.b*3) % 89 + 89) % 89 AS idx0
         |  FROM dims d, range(7) bs(b) WHERE bs.b < d.nb),
         | steps(i, step) AS (VALUES $steps),
         | st AS (
         |  SELECT doc_id, b, 0 AS s, pred0 AS pred, idx0 AS idx,
         |    CAST(pred0 AS BIGINT) AS emitted
         |  FROM blocks
         |  UNION ALL
         |  SELECT doc_id, b, s + 1,
         |    greatest(-32768, least(32767,
         |      pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)),
         |    greatest(0, least(88,
         |      idx + CASE WHEN nib % 8 < 4 THEN -1 ELSE (nib % 8 - 3) * 2 END)),
         |    CAST(greatest(-32768, least(32767,
         |      pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)) AS BIGINT)
         |  FROM (
         |    SELECT st.doc_id, st.b, st.s, st.pred, st.idx,
         |      ((st.s*5 + st.b*11 + st.doc_id) % 16 + 16) % 16 AS nib,
         |      sp.step // 8
         |        + CASE WHEN ((st.s*5 + st.b*11 + st.doc_id) % 16 + 16) % 16
         |            % 2 = 1 THEN sp.step // 4 ELSE 0 END
         |        + CASE WHEN ((st.s*5 + st.b*11 + st.doc_id) % 16 + 16) % 16
         |            // 2 % 2 = 1 THEN sp.step // 2 ELSE 0 END
         |        + CASE WHEN ((st.s*5 + st.b*11 + st.doc_id) % 16 + 16) % 16
         |            // 4 % 2 = 1 THEN sp.step ELSE 0 END AS diff
         |    FROM st JOIN steps sp ON sp.i = st.idx
         |    WHERE st.s < 16) q)
         |SELECT s.doc_id, 'adpcm' AS format,
         |  CAST(max(d.rate) AS INTEGER) AS sample_rate,
         |  CAST(max(d.nb) * 17 AS BIGINT) AS n_frames,
         |  CAST(sum(s.emitted) AS BIGINT) AS sum_l,
         |  CAST(max(abs(s.emitted)) AS INTEGER) AS peak
         |FROM st s JOIN dims d ON d.doc_id = s.doc_id
         |GROUP BY s.doc_id""".stripMargin
    }),

    // ---- multimodal: G.711 companded audio (μ-law/A-law — the
    //      telephony/speech-corpus encodings) — 8-bit code bytes
    //      expanded to linear by the CCITT integer formulas; the
    //      oracle reproduces the expansion arithmetic in SQL ----
    "mm_audio_g711" -> Gate((s, dir) => {
      val wav = AudioCodec.audio_synth_g711(col("doc_id"), col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          AudioCodec.audio_meta(wav).as("m"),
          AudioCodec.audio_pcm_stats(wav).as("st"))
        .select(col("doc_id"), col("m.format").as("kind"),
          col("st.channels").as("channels"),
          col("st.sample_rate").as("sample_rate"),
          col("st.n_frames").as("n_frames"),
          col("st.sum_l").as("sum_l"), col("st.sum_r").as("sum_r"),
          col("st.peak").as("peak"))
    }, oracle =
      // mirrors AudioCodec.synthWavG711 + the CCITT G.711 expansions:
      // μ-law (even ids): u = 255-code; t = (((u&15)*8)+132) << ((u>>4)&7);
      // v = sign(u&128) ? 132-t : t-132. A-law (odd): a = code XOR 85;
      // seg = (a&112)>>4; base = (a&15)*16; t = seg=0 ? base+8 :
      // (base+264) << (seg-1); v = (a&128) ? t : -t
      s"""WITH dims AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 241 + 20 AS f,
        |         ((doc_id % 4) + 4) % 4 AS m4,
        |         ((doc_id % 2) + 2) % 2 = 0 AS ulaw
        |  FROM documents),
        | codes AS (
        |  SELECT d.doc_id, d.m4, d.ulaw, d.f,
        |         d.m4 // 2 + 1 AS ch,
        |         CASE d.m4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |           WHEN 2 THEN 22050 ELSE 44100 END AS rate,
        |         ((s.i*7 + d.doc_id*3) % 256 + 256) % 256 AS c0,
        |         ((s.i*9 + d.doc_id*4) % 256 + 256) % 256 AS c1
        |  FROM dims d, range(261) s(i) WHERE s.i < d.f),
        | vals AS (
        |  SELECT doc_id, ulaw, ch, rate, f,
        |   ${g711ExpandSql("c0")} AS v0,
        |   ${g711ExpandSql("c1")} AS v1
        |  FROM codes)
        |SELECT doc_id,
        |  CASE WHEN max(CAST(ulaw AS INTEGER)) = 1 THEN 'ulaw' ELSE 'alaw' END AS kind,
        |  CAST(max(ch) AS INTEGER) AS channels,
        |  CAST(max(rate) AS INTEGER) AS sample_rate,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  $pcmSums
        |FROM vals GROUP BY doc_id""".stripMargin, frozen = true),

    // ---- multimodal: audio frame decimation — keep every 3rd PCM
    //      frame, re-emit a VALID WAV, decode it again for stats (the
    //      audio analog of video frame sampling) ----
    "mm_audio_sample" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          AudioCodec.audio_pcm_stats(
            AudioCodec.audio_frame_sample(
              AudioCodec.audio_synth_wav(col("doc_id"), col("text")),
              lit(3))).as("st"))
        .select(statCols("st.channels", "st.sample_rate", "st.n_frames", "st.sum_l", "st.sum_r",
          "st.peak"): _*)
    }, oracle =
      s"""WITH dims AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 241 + 20 AS f,
        |         ((doc_id % 2) + 2) % 2 + 1 AS ch,
        |         $pcmRate
        |  FROM documents),
        | vals AS (
        |  SELECT d.doc_id, d.ch, d.rate, s.j * 3 AS i
        |  FROM dims d, range(87) s(j) WHERE s.j < (d.f + 2) // 3),
        | chans AS (
        |  SELECT doc_id, ch, rate,
        |         ((i*7 + doc_id*3) % 65536 + 65536) % 65536 - 32768 AS v0,
        |         ((i*9 + doc_id*4) % 65536 + 65536) % 65536 - 32768 AS v1
        |  FROM vals)
        |SELECT doc_id,
        |  CAST(max(ch) AS INTEGER) AS channels,
        |  CAST(max(rate) AS INTEGER) AS sample_rate,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  $pcmSums
        |FROM chans GROUP BY doc_id""".stripMargin),

    // ---- multimodal: REAL video decode — synthesize an AVI (RIFF)
    //      container of uncompressed 24bpp DIB frames, parse the
    //      hdrl/avih headers AND decode every pixel of every frame to
    //      exact channel sums. The oracle recomputes analytically from
    //      the per-frame affine pixel rule ----
    // ---- multimodal: scene-change signal — per-transition Σ|Δpixel|
    //      (exact integers, one decode pass); thresholding stays
    //      relational, so one array serves every cut policy ----
    "mm_video_scenes" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          posexplode(VideoCodec.video_frame_deltas(
            VideoCodec.video_synth_avi(col("doc_id"), col("text")))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("frame"),
          col("col").as("delta"))
    }, oracle =
      // mirrors VideoCodec.synthAvi: frame t's pixel (x, y) channels are
      // the BMP gradient extended with a frame term (r: +t*19, g: +t*23,
      // b: +t*29). The Spark side walks a REAL RIFF/AVI container; the
      // oracle recomputes the channel sums analytically.
      // consecutive-frame |Δ| of the affine synth planes, channel-wise,
      // summed over every pixel — exact integers both engines agree on
      """WITH dims AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 21 + 4 AS w,
        |         octet_length(encode(text)) % 13 + 3 AS h,
        |         octet_length(encode(text)) % 17 + 2 AS f
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, ts.t AS t,
        |    abs(((xs.x*13 + ys.y*17 + ts.t*19 + d.doc_id*3) % 256)
        |      - ((xs.x*13 + ys.y*17 + (ts.t-1)*19 + d.doc_id*3) % 256))
        |    + abs(((xs.x*7 + ys.y*11 + ts.t*23 + d.doc_id*2) % 256)
        |      - ((xs.x*7 + ys.y*11 + (ts.t-1)*23 + d.doc_id*2) % 256))
        |    + abs(((xs.x*3 + ys.y*5 + ts.t*29 + d.doc_id) % 256)
        |      - ((xs.x*3 + ys.y*5 + (ts.t-1)*29 + d.doc_id) % 256)) AS dd
        |  FROM dims d, range(24) xs(x), range(15) ys(y), range(1, 18) ts(t)
        |  WHERE xs.x < d.w AND ys.y < d.h AND ts.t < d.f)
        |SELECT doc_id, CAST(t AS BIGINT) AS frame,
        |  CAST(sum(dd) AS BIGINT) AS delta
        |FROM px GROUP BY 1, 2""".stripMargin),

    "mm_video_stats" -> Gate((s, dir) => {
      val avi = VideoCodec.video_synth_avi(col("doc_id"), col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          VideoCodec.video_meta(avi).as("m"),
          VideoCodec.video_pixel_stats(avi).as("st"))
        .select(statCols("st.width", "st.height", "st.n_frames", "m.us_per_frame",
          "m.duration_us", "st.sum_r", "st.sum_g", "st.sum_b"): _*)
    }, oracle =
      s"""WITH dims AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 21 + 4 AS w,
        |         octet_length(encode(text)) % 13 + 3 AS h,
        |         octet_length(encode(text)) % 17 + 2 AS f,
        |         CASE ((doc_id % 4) + 4) % 4 WHEN 0 THEN 33333
        |           WHEN 1 THEN 40000 WHEN 2 THEN 16667 ELSE 20000 END AS us
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.w, d.h, d.f, d.us, xs.x, ys.y, ts.t
        |  FROM dims d, range(24) xs(x), range(15) ys(y), range(18) ts(t)
        |  WHERE xs.x < d.w AND ys.y < d.h AND ts.t < d.f)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(max(f) AS BIGINT) AS n_frames,
        |  CAST(max(us) AS BIGINT) AS us_per_frame,
        |  CAST(max(f) * max(us) AS BIGINT) AS duration_us,
        |  $aviSums
        |FROM px GROUP BY doc_id""".stripMargin, frozen = true),

    // ---- multimodal: video frame sampling — keep every 2nd frame,
    //      re-emit a VALID AVI, decode it again for stats (the core
    //      video op of a training-data pipeline, done for real) ----
    "mm_video_sample" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          VideoCodec.video_pixel_stats(
            VideoCodec.video_frame_sample(
              VideoCodec.video_synth_avi(col("doc_id"), col("text")),
              lit(2))).as("st"))
        .select(statCols("st.width", "st.height", "st.n_frames", "st.n_px", "st.sum_r",
          "st.sum_g", "st.sum_b"): _*)
    }, oracle =
      s"""WITH dims AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 21 + 4 AS w,
        |         octet_length(encode(text)) % 13 + 3 AS h,
        |         octet_length(encode(text)) % 17 + 2 AS f
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.w, d.h, (d.f + 1) // 2 AS nf,
        |         xs.x, ys.y, js.j * 2 AS t
        |  FROM dims d, range(24) xs(x), range(15) ys(y), range(9) js(j)
        |  WHERE xs.x < d.w AND ys.y < d.h AND js.j < (d.f + 1) // 2)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(max(nf) AS BIGINT) AS n_frames,
        |  CAST(max(w) * max(h) * max(nf) AS BIGINT) AS n_px,
        |  $aviSums
        |FROM px GROUP BY doc_id""".stripMargin),

    // ---- multimodal: MJPEG-in-AVI — every `00dc` chunk one real
    //      baseline JPEG; stats run the full entropy decode per frame
    //      (block-constant planes, so the lossy transform round-trips
    //      exactly and the oracle composes the affine + YCbCr rules) ----
    "mm_mjpeg_stats" -> Gate((s, dir) => {
      val avi = VideoCodec.video_synth_mjpeg(col("doc_id"), col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          VideoCodec.video_meta(avi).as("m"),
          VideoCodec.video_pixel_stats(avi).as("st"))
        .select(statCols("m.format", "st.width", "st.height", "st.n_frames", "st.sum_r",
          "st.sum_g", "st.sum_b"): _*)
    }, oracle =
      // mirrors VideoCodec.synthAviMjpeg: block-constant planes with a
      // frame term, fixed-rounding YCbCr→RGB (same rule as the still
      // mm_jpeg_pixel_stats oracle), gray when doc_id is even
      s"""WITH dims AS (
        |  SELECT doc_id, ((doc_id % 2) + 2) % 2 = 0 AS gray,
        |         octet_length(encode(text)) % 39 + 8 AS w,
        |         octet_length(encode(text)) % 25 + 8 AS h,
        |         octet_length(encode(text)) % 5 + 2 AS f
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.gray, d.w, d.h, d.f,
        |         xs.x // 8 AS bx, ys.y // 8 AS by, ts.t
        |  FROM dims d, range(47) xs(x), range(33) ys(y), range(7) ts(t)
        |  WHERE xs.x < d.w AND ys.y < d.h AND ts.t < d.f),
        | blocks AS (
        |  SELECT doc_id, gray, w, h, f,
        |    $mjpegBlockPlanes
        |  FROM px),
        | rgb AS (
        |  SELECT doc_id, gray, w, h, f, gv,
        |    $ycbcrRgb
        |  FROM blocks)
        |SELECT doc_id, 'avi-mjpeg' AS format,
        |  $maxDims,
        |  CAST(max(f) AS BIGINT) AS n_frames,
        |  $grayRgbSums
        |FROM rgb GROUP BY doc_id""".stripMargin),

    // ---- multimodal: MJPEG frame sampling — every 2nd JPEG copied
    //      VERBATIM (bytes move, pixels never decode on the sampling
    //      path), then re-parsed and decoded for stats ----
    "mm_mjpeg_sample" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          VideoCodec.video_pixel_stats(
            VideoCodec.video_frame_sample(
              VideoCodec.video_synth_mjpeg(col("doc_id"), col("text")),
              lit(2))).as("st"))
        .select(statCols("st.width", "st.height", "st.n_frames", "st.n_px", "st.sum_r",
          "st.sum_g", "st.sum_b"): _*)
    }, oracle =
      s"""WITH dims AS (
        |  SELECT doc_id, ((doc_id % 2) + 2) % 2 = 0 AS gray,
        |         octet_length(encode(text)) % 39 + 8 AS w,
        |         octet_length(encode(text)) % 25 + 8 AS h,
        |         octet_length(encode(text)) % 5 + 2 AS f
        |  FROM documents),
        | px AS (
        |  SELECT d.doc_id, d.gray, d.w, d.h, (d.f + 1) // 2 AS nf,
        |         xs.x // 8 AS bx, ys.y // 8 AS by, js.j * 2 AS t
        |  FROM dims d, range(47) xs(x), range(33) ys(y), range(4) js(j)
        |  WHERE xs.x < d.w AND ys.y < d.h AND js.j < (d.f + 1) // 2),
        | blocks AS (
        |  SELECT doc_id, gray, w, h, nf,
        |    $mjpegBlockPlanes
        |  FROM px),
        | rgb AS (
        |  SELECT doc_id, gray, w, h, nf, gv,
        |    $ycbcrRgb
        |  FROM blocks)
        |SELECT doc_id,
        |  $maxDims,
        |  CAST(max(nf) AS BIGINT) AS n_frames,
        |  CAST(max(w) * max(h) * max(nf) AS BIGINT) AS n_px,
        |  $grayRgbSums
        |FROM rgb GROUP BY doc_id""".stripMargin, frozen = true),

    // ---- multimodal: mixed-modality ROUTER — one binary column holds
    //      PNG, WAV, or AVI bytes per row (the crawled-data reality);
    //      each decoder sniffs its own magic and the projection routes
    //      on whichever succeeds. Pure composition of the three meta
    //      expressions — no new operator, no Exchange ----
    "mm_router" -> Gate((s, dir) => {
      routedMeta(s, dir)
        .select(col("doc_id"),
          coalesce(col("im.format"), col("am.format"), col("vm.format"))
            .as("kind"),
          coalesce(col("im.width"), col("vm.width")).as("width"),
          coalesce(col("gm.n_frames").cast("long"), col("am.n_frames"),
            col("vm.n_frames"), lit(1L)).as("n_frames"))
    }, oracle =
      // router: modality by doc_id % 4 (png / wav / avi / 4:2:0 jpeg);
      // each branch's dims mirror the corresponding synth rule
      """WITH base AS (
        |  SELECT doc_id, ((doc_id % 5) + 5) % 5 AS m,
        |         octet_length(encode(text)) AS n
        |  FROM documents)
        |SELECT doc_id,
        |  CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'pcm16' WHEN 2 THEN 'avi'
        |    WHEN 3 THEN 'jpeg' ELSE 'gif' END AS kind,
        |  CAST(CASE m WHEN 0 THEN n % 29 + 4 WHEN 2 THEN n % 21 + 4
        |    WHEN 3 THEN n % 37 + 8 WHEN 4 THEN n % 21 + 4
        |    END AS INTEGER) AS width,
        |  CAST(CASE m WHEN 0 THEN 1 WHEN 1 THEN n % 241 + 20
        |    WHEN 2 THEN n % 17 + 2 WHEN 4 THEN ((doc_id % 3) + 3) % 3 + 1
        |    ELSE 1 END AS BIGINT) AS n_frames
        |FROM base""".stripMargin, frozen = true),

    // ---- composite multimodal pipeline: route mixed binary payloads
    //      by sniffed magic, then aggregate per modality — the
    //      multimodal twin of pipeline_corpus (one groupBy over four
    //      keys; decode stays in the map side) ----
    "pipeline_multimodal" -> Gate((s, dir) => {
      routedMeta(s, dir)
        .select(
          coalesce(col("im.format"), col("am.format"), col("vm.format"))
            .as("kind"),
          coalesce(col("gm.n_frames").cast("long"), col("am.n_frames"),
            col("vm.n_frames"), lit(1L)).as("n_frames"),
          coalesce(col("am.duration_us"), col("vm.duration_us"), lit(0L))
            .as("duration_us"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_frames")).as("total_frames"),
          sum(col("duration_us")).as("total_duration_us"))
    }, oracle =
      // the multimodal pipeline aggregate: counts/frames/durations per
      // routed kind, all derivable from the synth rules (wav duration =
      // frames*1e6 // rate with rate by id%4; avi = frames * us_per_frame)
      """WITH base AS (
        |  SELECT doc_id, ((doc_id % 5) + 5) % 5 AS m,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        | rows_ AS (
        |  SELECT
        |   CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'pcm16' WHEN 2 THEN 'avi'
        |     WHEN 3 THEN 'jpeg' ELSE 'gif' END AS kind,
        |   CASE m WHEN 1 THEN n % 241 + 20 WHEN 2 THEN n % 17 + 2
        |     WHEN 4 THEN ((doc_id % 3) + 3) % 3 + 1
        |     ELSE 1 END AS n_frames,
        |   CASE m
        |    WHEN 1 THEN ((n % 241 + 20) * 1000000) //
        |      (CASE ((doc_id % 4) + 4) % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |        WHEN 2 THEN 22050 ELSE 44100 END)
        |    WHEN 2 THEN (n % 17 + 2) *
        |      (CASE ((doc_id % 4) + 4) % 4 WHEN 0 THEN 33333 WHEN 1 THEN 40000
        |        WHEN 2 THEN 16667 ELSE 20000 END)
        |    ELSE 0 END AS duration_us
        |  FROM base)
        |SELECT kind,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_frames) AS BIGINT) AS total_frames,
        |  CAST(sum(duration_us) AS BIGINT) AS total_duration_us
        |FROM rows_ GROUP BY kind""".stripMargin),

    // ---- composite corpus-curation pipeline: quality → lang → dedup →
    //      per-source stats (the flagship training-data flow) ----
    "pipeline_corpus" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = TextAnalysis.qualitySignals(docs, "text")
        .filter(col("n_tokens") >= 10 && col("stopword_ratio") <= 0.5)
      val english = TextAnalysis.languageId(quality, "text")
        .filter(col("lang_guess") === "en")
      val deduped = Dedup.exact(english, "text", "doc_id")
      deduped.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_tokens")), 4).as("avg_tokens"))
    }, oracle =
      s"""WITH base AS (
        | SELECT doc_id, text, source,
        |  $tokenCountSql AS n_tokens,
        |  ${wordHits(stopWords)} AS stops
        | FROM documents),
        |filt AS (
        | SELECT * FROM base
        | WHERE n_tokens >= 10
        |   AND round(CASE WHEN n_tokens > 0
        |     THEN CAST(stops AS DOUBLE)/n_tokens ELSE 0 END, 6) <= 0.5),
        |scored AS (
        | SELECT f.*,
        |  $langHits
        | FROM filt f),
        |en AS (
        | SELECT * FROM scored
        | WHERE (CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
        |        WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
        |        WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
        |        WHEN s_fr > 0 THEN 'fr' ELSE 'und' END) = 'en'),
        |ded AS (
        | SELECT *, row_number() OVER (
        |   PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |   ORDER BY doc_id) AS rn
        | FROM en)
        |SELECT source, count(*) AS n_docs, round(avg(n_tokens), 4) AS avg_tokens
        |FROM ded WHERE rn = 1 GROUP BY source""".stripMargin),

    // ---- text: token counting ----
    "text_tokens" -> Gate((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords")),
      oracle = raw"""SELECT doc_id,
        | $tokenCountSql AS n_tokens,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
        |        w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) END AS n_subwords
        |FROM documents""".stripMargin),

    // ---- text: BPE-ish pre-tokenizer count (letter runs / digit runs /
    //      single punctuation, the GPT-2 pre-split shape) ----
    "text_bpe_tokens" -> Gate((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe")),
      oracle = """SELECT doc_id,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
        |FROM documents""".stripMargin),

    // ---- F8 width truncate + pad ----
    "f8_truncate_pad" -> Gate((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.TextCase.clipToWidth(col("text"), 24).as("clipped"),
        graft.functions.TextCase.padToWidth(col("source"), 12).as("padded")),
      oracle = """SELECT doc_id, substring(text, 1, 24) AS clipped,
        | rpad(source, 12, ' ') AS padded
        |FROM documents""".stripMargin, frozen = true),

    // ---- F17/F18 ordinate surgery: elevation broadcast onto line
    //      coords, Z adjust, Z/M strip — stringified so both engines
    //      hash the same rendering (concat_ws and array_to_string both
    //      skip the nulled Z) ----
    "f18_zm_surgery" -> Gate((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("x"),
        round(col("l_discount"), 2).as("y"),
        round(col("l_tax"), 2).as("z"),
        round(col("l_quantity"), 2).as("m"))
      def str(a: org.apache.spark.sql.Column) =
        concat_ws(",", transform(a, v => v.cast("string")))
      li.select(col("l_orderkey"), col("l_linenumber"),
        str(Geometry.zAdjust(array(col("x"), col("y"), col("z")),
          lit(2.0), lit(1.0))).as("adj"),
        str(Geometry.stripZM(array(col("x"), col("y"), col("z"), col("m")),
          keepZ = false, keepM = true)).as("stripped"),
        str(element_at(Geometry.addElevation(
          array(array(col("x"), col("y"))), col("z")), 1)).as("elevated"))
    }, oracle =
      // array_to_string and Spark's concat_ws both skip the nulled-out Z
      """SELECT l_orderkey, l_linenumber,
        | array_to_string([round(l_extendedprice,2), round(l_discount,2),
        |   round(l_tax,2)*2+1], ',') AS adj,
        | array_to_string([round(l_extendedprice,2), round(l_discount,2),
        |   NULL::DOUBLE, round(l_quantity,2)], ',') AS stripped,
        | array_to_string([round(l_extendedprice,2), round(l_discount,2),
        |   round(l_tax,2)], ',') AS elevated
        |FROM lineitem""".stripMargin),

    // ---- text: quality scoring ----
    "text_quality" -> Gate((s, dir) =>
      TextAnalysis.qualitySignals(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
          col("punct_ratio"), col("digit_ratio"), col("stopword_ratio")),
      oracle = s"""WITH base AS (
        | SELECT doc_id, text, length(text) AS nc,
        |  $tokenCountSql AS toks,
        |  length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
        |  length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
        |  ${wordHits(stopWords)} AS stops
        | FROM documents)
        |SELECT doc_id, toks AS n_tokens,
        | round(CASE WHEN toks > 0 THEN CAST(nc - (toks - 1) AS DOUBLE)/toks ELSE 0 END, 4)
        |   AS mean_word_len,
        | round(CASE WHEN nc > 0 THEN CAST(punct AS DOUBLE)/nc ELSE 0 END, 6) AS punct_ratio,
        | round(CASE WHEN nc > 0 THEN CAST(digits AS DOUBLE)/nc ELSE 0 END, 6) AS digit_ratio,
        | round(CASE WHEN toks > 0 THEN CAST(stops AS DOUBLE)/toks ELSE 0 END, 6)
        |   AS stopword_ratio
        |FROM base""".stripMargin),

    // ---- text: logistic quality score (fixed-weight classifier
    //      stand-in) + threshold filter — one projection over the
    //      single-pass stats kernel ----
    "quality_score" -> Gate((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"), "text", minScore = 0.5)
        .select(col("doc_id"), col("quality_score")),
      oracle = s"""WITH base AS (
        | SELECT doc_id, text, length(text) AS nc,
        |  $tokenCountSql AS toks,
        |  length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
        |  length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
        |  length(regexp_replace(text, '[^A-Z]', '', 'g')) AS uppers,
        |  ${wordHits(stopWords)} AS stops
        | FROM documents),
        | feats AS (SELECT doc_id,
        |  round(CASE WHEN toks>0 THEN CAST(nc-(toks-1) AS DOUBLE)/toks ELSE 0 END,4) AS mwl,
        |  round(CASE WHEN nc>0 THEN CAST(punct AS DOUBLE)/nc ELSE 0 END,6) AS pr,
        |  round(CASE WHEN nc>0 THEN CAST(uppers AS DOUBLE)/nc ELSE 0 END,6) AS ur,
        |  round(CASE WHEN nc>0 THEN CAST(digits AS DOUBLE)/nc ELSE 0 END,6) AS dr,
        |  round(CASE WHEN toks>0 THEN CAST(stops AS DOUBLE)/toks ELSE 0 END,6) AS sr
        | FROM base)
        |SELECT doc_id, quality_score FROM (
        |  SELECT doc_id, round(1.0/(1.0+exp(
        |    -(-1.0 + sr*4.0 + mwl*0.3 + pr*-2.0 + ur*-3.0 + dr*-3.0))),6)
        |    AS quality_score
        |  FROM feats)
        |WHERE quality_score >= 0.5""".stripMargin),

    // ---- text: token blocklist filter — drop docs containing any
    //      listed term (normalized match) ----
    "blocklist_filter" -> Gate((s, dir) =>
      TextAnalysis.blocklistFilter(t(s, dir, "documents"), "text",
        Seq("vector", "stream"))
        .select(col("doc_id"), col("source")),
      oracle = """SELECT doc_id, source FROM documents
        |WHERE len(list_intersect(
        |  string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |  ['vector', 'stream'])) = 0""".stripMargin),

    // ---- text: language ID heuristic ----
    "text_langid" -> Gate((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang_guess")),
      oracle = s"""WITH s AS (
        | SELECT doc_id,
        |  $langHits
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
        |      WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
        |      WHEN s_fr > 0 THEN 'fr'
        |      ELSE 'und' END AS lang_guess
        |FROM s""".stripMargin),

    // ---- text: document fingerprint ----
    "text_fingerprint" -> Gate((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")),
      oracle = """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin),

    // ---- dedup: C4-style cross-document span dedup (10-token windows,
    //      first occurrence wins, documents reassembled) ----
    "dedup_spans" -> Gate((s, dir) =>
      Dedup.dedupSpans(t(s, dir, "documents"), "text", "doc_id", span = 10),
      oracle = """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents WHERE length(trim(text)) > 0),
        | idx AS (
        |  SELECT doc_id, l,
        |         unnest(range(CAST(ceil(len(l) / 10.0) AS INT))) AS pos
        |  FROM toks),
        | chunks AS (
        |  SELECT doc_id, pos,
        |         array_to_string(l[pos * 10 + 1 : pos * 10 + 10], ' ') AS chunk
        |  FROM idx),
        | ranked AS (
        |  SELECT doc_id, pos, chunk,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM chunks)
        |SELECT doc_id,
        |       string_agg(chunk, ' ' ORDER BY pos) AS text_deduped,
        |       CAST(count(*) AS BIGINT) AS n_spans_kept
        |FROM ranked WHERE rn = 1
        |GROUP BY doc_id""".stripMargin, frozen = true),

    // ---- dedup: RefinedWeb-style line-level boilerplate removal.
    //      The corpus is single-line, so multi-line documents are
    //      synthesized inline: a header shared by doc_id % 7, the
    //      original text, a footer shared by ALL docs, and a unique
    //      signature line — the shared lines must vanish everywhere,
    //      the unique ones must all survive ----
    "dedup_lines" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(lit("nav-"), (col("doc_id") % 7).cast("string")),
          col("text"),
          lit("(c) example corpus - all rights reserved"),
          concat(lit("sig "), col("doc_id").cast("string"))).as("text"))
      Dedup.dedupLines(docs, "text", "doc_id", minDocs = 3)
    }, oracle =
      """WITH src AS (
        |  SELECT doc_id,
        |         concat_ws(chr(10),
        |           'nav-' || CAST(doc_id % 7 AS VARCHAR),
        |           text,
        |           '(c) example corpus - all rights reserved',
        |           'sig ' || CAST(doc_id AS VARCHAR)) AS text
        |  FROM documents),
        | sp AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM src),
        | idx AS (SELECT doc_id, l, unnest(range(len(l))) AS pos FROM sp),
        | ln AS (SELECT doc_id, pos, l[pos + 1] AS line FROM idx),
        | boiler AS (
        |  SELECT nline FROM (
        |    SELECT DISTINCT trim(line) AS nline, doc_id
        |    FROM ln WHERE trim(line) <> '')
        |  GROUP BY nline HAVING count(*) >= 3),
        | kept AS (
        |  SELECT doc_id, pos, line FROM ln
        |  WHERE trim(line) NOT IN (SELECT nline FROM boiler))
        |SELECT doc_id,
        |       string_agg(line, chr(10) ORDER BY pos) AS text_clean,
        |       CAST(count(*) AS BIGINT) AS n_lines_kept
        |FROM kept GROUP BY doc_id""".stripMargin),

    // ---- text: training-sample construction — one row per 512-token
    //      context window with its doc provenance spans ----
    "pack_windows" -> Gate((s, dir) =>
      TextAnalysis.packWindows(t(s, dir, "documents"), "text", "doc_id",
        ctxLen = 512),
      oracle = packOracleSql(512), frozen = true),

    // ---- text: window packing with a HARD source boundary — no
    //      context window mixes sources ----
    "pack_windows_by_source" -> Gate((s, dir) =>
      TextAnalysis.packWindowsBySource(t(s, dir, "documents"), "text",
        "doc_id", "source", ctxLen = 512),
      oracle = packOracleSql(512, "source")),

    // ---- text: window packing with a HIGH-CARDINALITY stratum key
    //      (per-user-grade) — the keyed-window path: one shuffle on the
    //      stratum, no stratum×partition totals table, each stratum
    //      sorted inside one task ----
    "pack_windows_keyed" -> Gate((s, dir) =>
      TextAnalysis.packWindowsBySource(
        t(s, dir, "documents").withColumn("user_bucket",
          pmod(col("doc_id"), lit(97L))),
        "text", "doc_id", "user_bucket", ctxLen = 128,
        highCardinalityStrata = true),
      // the keyed-window twin of pack_windows_by_source: same packing rule
      // with a synthetic per-user stratum (doc_id mod 97) and 128-token
      // windows — the oracle is path-independent
      oracle = packOracleSql(128, "user_bucket", "((doc_id % 97) + 97) % 97")),

    // ---- layout: Z-ORDER (Morton) clustering code — scale each
    //      dimension to 16 bits against its global min/max, interleave
    //      the bits; range-partitioning by this code makes parquet
    //      min/max stats selective on BOTH columns at once ----
    "zorder_cluster" -> Gate((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select(col("l_orderkey"), col("l_linenumber"),
        Relational.zorderColumn(li, Seq("l_partkey", "l_suppkey")).as("zval"))
    }, oracle = {
      // mirrors Relational.zorderColumn: global min/max scaling to 16
      // bits (pure integer division) then bit interleaving — the
      // interleave expression is GENERATED to match the Spark plan's
      // shift/mask tree term for term
      val interleave = (for (i <- 0 until 16; j <- 0 until 2) yield
        s"(((s$j >> $i) & 1) << ${i * 2 + j})").mkString(" | ")
      s"""WITH st AS (
         |  SELECT CAST(min(l_partkey) AS BIGINT) AS mn0,
         |         CAST(max(l_partkey) AS BIGINT) AS mx0,
         |         CAST(min(l_suppkey) AS BIGINT) AS mn1,
         |         CAST(max(l_suppkey) AS BIGINT) AS mx1
         |  FROM lineitem),
         | sc AS (
         |  SELECT l.l_orderkey, l.l_linenumber,
         |    CASE WHEN st.mx0 > st.mn0
         |         THEN ((CAST(l.l_partkey AS BIGINT) - st.mn0) * 65535)
         |              // (st.mx0 - st.mn0)
         |         ELSE 0 END AS s0,
         |    CASE WHEN st.mx1 > st.mn1
         |         THEN ((CAST(l.l_suppkey AS BIGINT) - st.mn1) * 65535)
         |              // (st.mx1 - st.mn1)
         |         ELSE 0 END AS s1
         |  FROM lineitem l, st)
         |SELECT l_orderkey, l_linenumber, CAST($interleave AS BIGINT) AS zval
         |FROM sc""".stripMargin
    }),

    // ---- text: epoch-weighted source upsampling (books ×2.5 web ×1:
    //      the pretraining-mix repeat primitive) ----
    "upsample_sources" -> Gate((s, dir) =>
      TextAnalysis.upsampleSources(t(s, dir, "documents"), "doc_id", "source",
        Map("src1" -> 250, "src2" -> 30, "src3" -> 0), defaultPct = 100)
        .select(col("doc_id"), col("source"), col("epoch")),
      oracle = """WITH base AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 100 AS b,
        |    CASE WHEN source = 'src1' THEN 250
        |         WHEN source = 'src2' THEN 30
        |         WHEN source = 'src3' THEN 0
        |         ELSE 100 END AS pct
        |  FROM documents),
        | c AS (
        |  SELECT doc_id, source,
        |    pct // 100 + CASE WHEN b < pct % 100 THEN 1 ELSE 0 END AS n
        |  FROM base)
        |SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch FROM (
        |  SELECT doc_id, source, unnest(range(n)) AS epoch FROM c
        |  WHERE n > 0)""".stripMargin),

    // ---- text: inverted index with df bounds + posting cap ----
    "inverted_index" -> Gate((s, dir) =>
      TextAnalysis.invertedIndex(t(s, dir, "documents"), "text", "doc_id",
        minDf = 3L, maxDf = 400L, maxPostings = 50),
      oracle = """WITH pairs AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text),
        |      '[^a-z0-9]+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        | np AS (SELECT doc_id, term FROM pairs WHERE term <> ''),
        | dfc AS (
        |  SELECT term, count(*) AS df FROM np GROUP BY term
        |  HAVING count(*) >= 3 AND count(*) <= 400)
        |SELECT np.term, CAST(dfc.df AS BIGINT) AS df,
        |  array_to_string(list_sort(list(np.doc_id))[1:50], ',') AS postings
        |FROM np JOIN dfc ON np.term = dfc.term
        |GROUP BY np.term, dfc.df""".stripMargin),

    // ---- multimodal/source: WARC record splitting — version blocks,
    //      named headers, Content-Length payload slicing, HTTP status/
    //      content-type/body extraction for response records ----
    "warc_records" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          explode(WarcCodec.warc_records(
            WarcCodec.warc_synth(col("doc_id"), col("text")))).as("r"))
        .select(col("doc_id"),
          col("r.warc_type").as("warc_type"),
          col("r.target_uri").as("target_uri"),
          col("r.warc_date").as("warc_date"),
          col("r.content_length").as("content_length"),
          col("r.http_status").as("http_status"),
          col("r.http_content_type").as("http_content_type"),
          length(col("r.body")).cast("long").as("body_len"),
          col("r.body").cast("string").as("body"))
    }, oracle = warcRecordsOracle),

    // ---- same records over the Common Crawl WIRE layout: one gzip
    //      member per record, concatenated (.warc.gz) — the parser
    //      sniffs the magic, inflates the member chain, and must land
    //      on byte-identical fields ----
    "warc_records_gz" -> Gate((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          explode(WarcCodec.warc_records(
            WarcCodec.warc_synth_gz(col("doc_id"), col("text")))).as("r"))
        .select(col("doc_id"),
          col("r.warc_type").as("warc_type"),
          col("r.target_uri").as("target_uri"),
          col("r.warc_date").as("warc_date"),
          col("r.content_length").as("content_length"),
          col("r.http_status").as("http_status"),
          col("r.http_content_type").as("http_content_type"),
          length(col("r.body")).cast("long").as("body_len"),
          col("r.body").cast("string").as("body"))
    }, oracle = warcRecordsOracle),

    // ---- crawl: sitemap.xml parsing — urlset entries with the four
    //      protocol fields, namespace-qualified, exploded one row per
    //      URL (the crawl-frontier seeding step) ----
    "sitemap_urls" -> Gate((s, dir) => {
      def urlEntry(j: Int) = concat(
        lit("<url><loc>https://site"), pmod(col("doc_id"), lit(11)),
        lit(s".example/p/"), col("doc_id"), lit(s"/$j</loc>"),
        lit("<lastmod>2024-0"), pmod(col("doc_id"), lit(9)) + 1,
        lit("-01</lastmod><changefreq>"),
        element_at(array(lit("daily"), lit("weekly"), lit("monthly")),
          (pmod(col("doc_id") + lit(j), lit(3)) + 1).cast("int")),
        lit("</changefreq><priority>0."), pmod(col("doc_id") + lit(j), lit(10)),
        lit("</priority></url>"))
      val xml = concat(
        lit("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
        urlEntry(0), urlEntry(1), lit("</urlset>"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(Sitemap.sitemap_entries(xml)).as("e"))
        .select(statCols("e.kind", "e.loc", "e.lastmod", "e.changefreq", "e.priority"): _*)
    }, oracle =
      // two constructed url entries per document, fields recomputed
      // directly from the synthesis rule
      """SELECT doc_id, 'url' AS kind,
        |  'https://site' || CAST(doc_id % 11 AS VARCHAR) || '.example/p/' ||
        |    CAST(doc_id AS VARCHAR) || '/' || CAST(j.j AS VARCHAR) AS loc,
        |  '2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-01' AS lastmod,
        |  CASE (doc_id + j.j) % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
        |    ELSE 'monthly' END AS changefreq,
        |  CAST('0.' || CAST((doc_id + j.j) % 10 AS VARCHAR) AS DOUBLE)
        |    AS priority
        |FROM documents, range(2) j(j)""".stripMargin),

    // ---- sketch: KMV (bottom-k) distinct count — deterministic
    //      mergeable cardinality sketch; the oracle recomputes the
    //      same k smallest md5-52bit hashes and lands on the exact
    //      same estimate double ----
    "kmv_distinct" -> Gate((s, dir) =>
      Sketches.kmvDistinct(t(s, dir, "lineitem"),
        "l_returnflag", "l_partkey", k = 64)
        .select(col("l_returnflag"), col("est"), col("kept"), col("kth")),
      // the k smallest distinct 13-hex-digit md5 hashes per group; both
      // engines compute (63·2^52)/h_k as the same two IEEE double ops,
      // so the estimate hash-matches without rounding
      oracle = """WITH h AS (SELECT DISTINCT l_returnflag AS g,
        |    CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13))
        |      AS UBIGINT) AS h
        |  FROM lineitem WHERE l_partkey IS NOT NULL),
        | r AS (SELECT g, h,
        |    row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM h),
        | a AS (SELECT g,
        |    max(CASE WHEN rn <= 64 THEN h END) AS hk,
        |    sum(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS kept
        |  FROM r GROUP BY g)
        |SELECT g AS l_returnflag,
        |  CASE WHEN kept < 64 THEN CAST(kept AS DOUBLE)
        |       ELSE (63e0 * 4503599627370496e0) / hk END AS est,
        |  CAST(kept AS INTEGER) AS kept,
        |  CAST(CASE WHEN kept >= 64 THEN hk END AS BIGINT) AS kth
        |FROM a""".stripMargin, frozen = true),

    // ---- sketch: KMV set resemblance — estimated Jaccard between
    //      every group pair from merged bottom-k sketches (one data
    //      pass; the pairwise stage is G² sketch rows, metadata-sized
    //      at any corpus scale) ----
    "kmv_resemblance" -> Gate((s, dir) =>
      Sketches.kmvResemblance(t(s, dir, "orders"),
        "o_orderpriority", "o_custkey", k = 64)
        .select(col("g1"), col("g2"), col("jaccard")),
      // Broder's estimator over the bottom-64 of the union, recomputed
      // with DuckDB list algebra on the same 52-bit hashes
      oracle = """WITH h AS (SELECT DISTINCT o_orderpriority AS g,
        |    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13))
        |      AS UBIGINT) AS h
        |  FROM orders WHERE o_custkey IS NOT NULL),
        | r AS (SELECT g, h,
        |    row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM h),
        | sk AS (SELECT g, list(h ORDER BY h) AS hs
        |   FROM r WHERE rn <= 64 GROUP BY g)
        |SELECT a.g AS g1, b.g AS g2,
        |  CAST(len(list_filter(list_sort(list_distinct(a.hs || b.hs))[1:64],
        |      x -> list_contains(a.hs, x) AND list_contains(b.hs, x)))
        |    AS DOUBLE)
        |  / len(list_sort(list_distinct(a.hs || b.hs))[1:64]) AS jaccard
        |FROM sk a JOIN sk b ON a.g < b.g""".stripMargin),

    // ---- sketch: KMV containment — asymmetric |A∩B|/|A| from the
    //      same bottom-k sketches (a contained shard has low Jaccard
    //      but containment ≈ 1); both sketches restricted to the hash
    //      prefix where both are complete, so it's deterministic ----
    "kmv_containment" -> Gate((s, dir) =>
      Sketches.kmvContainment(t(s, dir, "orders"),
        "o_orderpriority", "o_custkey", k = 64)
        .select(col("g1"), col("g2"), col("containment")),
      // containment from the bottom-64 sketches: A's sample restricted
      // below both k-th smallest hashes, membership-tested against B̂
      oracle = """WITH h AS (SELECT DISTINCT o_orderpriority AS g,
        |    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13))
        |      AS UBIGINT) AS h
        |  FROM orders WHERE o_custkey IS NOT NULL),
        | r AS (SELECT g, h,
        |    row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM h),
        | sk AS (SELECT g, list(h ORDER BY h) AS hs
        |   FROM r WHERE rn <= 64 GROUP BY g),
        | p AS (SELECT a.g AS g1, b.g AS g2, a.hs AS h1, b.hs AS h2,
        |    least(
        |      CASE WHEN len(a.hs) < 64
        |        THEN 9223372036854775807::UBIGINT ELSE a.hs[64] END,
        |      CASE WHEN len(b.hs) < 64
        |        THEN 9223372036854775807::UBIGINT ELSE b.hs[64] END) AS cut
        |  FROM sk a JOIN sk b ON a.g <> b.g),
        | q AS (SELECT g1, g2, h2,
        |    list_filter(h1, x -> x <= cut) AS a1 FROM p)
        |SELECT g1, g2,
        |  CASE WHEN len(a1) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(a1, x -> list_contains(h2, x)))
        |      AS DOUBLE) / len(a1)
        |  END AS containment
        |FROM q""".stripMargin),

    // ---- sketch: Count-Min point frequency — the sketch IS a
    //      (d, bucket, cnt) relation, so the build is one hash agg
    //      whose map-side combine bounds the shuffle at depth×width
    //      rows per partition at ANY corpus size; probing is a
    //      broadcast join + min over depth rows (classic one-sided
    //      overestimate, deterministic via the md5 bucket hash) ----
    "cms_freq" -> Gate((s, dir) => {
      val sk = Sketches.cmsSketch(t(s, dir, "lineitem"), "l_suppkey",
        depth = 4, width = 512)
      val probes = t(s, dir, "supplier").filter(col("s_suppkey") <= 200)
        .select(col("s_suppkey"))
      Sketches.cmsEstimate(sk, probes, "s_suppkey", depth = 4, width = 512)
        .select(col("s_suppkey"), col("est"))
    }, oracle =
      // Count-Min relation: both engines hash value v into row d's
      // buckets via md5("d:" || v) first-13-hex mod width; est = min of
      // the probed bucket counts (0 when a bucket never filled)
      """WITH s AS (
        |  SELECT t.d,
        |    ('0x' || substr(md5(CAST(t.d AS VARCHAR) || ':' ||
        |      CAST(l_suppkey AS VARCHAR)), 1, 13))::UBIGINT % 512 AS bucket,
        |    count(*) AS cnt
        |  FROM lineitem, range(4) t(d) WHERE l_suppkey IS NOT NULL
        |  GROUP BY 1, 2),
        | p AS (
        |  SELECT s_suppkey, t.d,
        |    ('0x' || substr(md5(CAST(t.d AS VARCHAR) || ':' ||
        |      CAST(s_suppkey AS VARCHAR)), 1, 13))::UBIGINT % 512 AS bucket
        |  FROM supplier, range(4) t(d) WHERE s_suppkey <= 200)
        |SELECT p.s_suppkey, CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est
        |FROM p LEFT JOIN s ON p.d = s.d AND p.bucket = s.bucket
        |GROUP BY 1""".stripMargin),

    // ---- crawl: hyperlink harvesting — anchors scanned out of HTML
    //      (quote styles, comments, entity decode) and resolved per
    //      RFC 3986 against the page URL; absolute, protocol-relative,
    //      root-relative and ../ shapes all land on the oracle's
    //      directly-constructed URLs ----
    "html_links" -> Gate((s, dir) => {
      val base = concat(lit("https://base"), pmod(col("doc_id"), lit(11)),
        lit(".example/dir/page"), col("doc_id"), lit(".html"))
      val html = concat(
        lit("<html><body><a href=\"https://abs"), pmod(col("doc_id"), lit(7)),
        lit(".example/p?a=1&amp;b=2\">x</a>"),
        lit("<a href='//cdn"), pmod(col("doc_id"), lit(5)),
        lit(".example/c.js'>y</a>"),
        lit("<a href=/root"), col("doc_id"), lit(".html>z</a>"),
        lit("<a href=\"../up"), col("doc_id"), lit(".html#frag\">w</a>"),
        lit("<!--<a href=\"no.html\">--><a href=\"mailto:x@y\">m</a>"),
        lit("</body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(HtmlOps.html_links(html, base)).as("link"))
    }, oracle =
      // the four surviving anchors' resolved URLs constructed directly
      // (comment + mailto anchors drop; entities decode; ../ climbs out
      // of /dir/; fragment drops)
      """SELECT doc_id,
        |  'https://abs' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example/p?a=1&b=2' AS link FROM documents
        |UNION ALL SELECT doc_id,
        |  'https://cdn' || CAST(doc_id % 5 AS VARCHAR) || '.example/c.js'
        |  FROM documents
        |UNION ALL SELECT doc_id,
        |  'https://base' || CAST(doc_id % 11 AS VARCHAR) ||
        |    '.example/root' || CAST(doc_id AS VARCHAR) || '.html'
        |  FROM documents
        |UNION ALL SELECT doc_id,
        |  'https://base' || CAST(doc_id % 11 AS VARCHAR) ||
        |    '.example/up' || CAST(doc_id AS VARCHAR) || '.html'
        |  FROM documents""".stripMargin),

    // ---- crawl: anchor-text corpus — per TARGET url, anchor count +
    //      first-2 distinct anchor texts (inner tags stripped, entities
    //      decoded, whitespace collapsed; empty-text image anchors
    //      count but contribute no text) ----
    "anchor_texts" -> Gate((s, dir) => {
      val base = concat(lit("https://site"), pmod(col("doc_id"), lit(11)),
        lit(".example/dir/page"), col("doc_id"), lit(".html"))
      val html = concat(
        lit("<html><body><a href=\"https://hub"), pmod(col("doc_id"), lit(7)),
        lit(".example/T\">Visit <b>hub "), pmod(col("doc_id"), lit(3)),
        lit("</b>   now</a>"),
        lit("<a href='/local"), pmod(col("doc_id"), lit(5)),
        lit(".html'> local &amp; co </a>"),
        lit("<a href=\"https://hub"), pmod(col("doc_id"), lit(7)),
        lit(".example/T#frag\"><img src=x></a>"),
        lit("<a href=\"https://img"), pmod(col("doc_id"), lit(2)),
        lit(".example/only\"><img src=y></a>"),
        lit("</body></html>"))
      // `texts` is stringified (chr(1)-joined) so the driver's pandas
      // row-sort can hash it — array<string> cells are unhashable there.
      TextAnalysis.anchorTextCorpus(t(s, dir, "documents"), html, base,
        maxTexts = 2)
        .withColumn("texts", concat_ws("\u0001", col("texts")))
    }, oracle =
      // anchor-text corpus: the oracle reconstructs each (target url,
      // text) occurrence directly from the synth rule — the hub target is
      // hit twice per doc (once with text, once via an empty image
      // anchor), the local target resolves root-relative, the img-only
      // target aggregates to an EMPTY text list
      """WITH a AS (
        |  SELECT 'https://hub' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example/T' AS url,
        |    'Visit hub ' || CAST(doc_id % 3 AS VARCHAR) || ' now' AS text
        |  FROM documents
        |  UNION ALL SELECT 'https://hub' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example/T', '' FROM documents
        |  UNION ALL SELECT 'https://site' || CAST(doc_id % 11 AS VARCHAR) ||
        |    '.example/local' || CAST(doc_id % 5 AS VARCHAR) || '.html',
        |    'local & co' FROM documents
        |  UNION ALL SELECT 'https://img' || CAST(doc_id % 2 AS VARCHAR) ||
        |    '.example/only', '' FROM documents),
        |counts AS (SELECT url, count(*) AS n_anchors FROM a GROUP BY 1),
        |rk AS (
        |  SELECT url, text,
        |    row_number() OVER (PARTITION BY url ORDER BY text) AS rk
        |  FROM (SELECT DISTINCT url, text FROM a WHERE text <> '')),
        |tl AS (SELECT url, list(text ORDER BY text) AS texts
        |       FROM rk WHERE rk <= 2 GROUP BY url)
        |SELECT c.url, c.n_anchors,
        |  COALESCE(array_to_string(tl.texts, chr(1)), '') AS texts
        |FROM counts c LEFT JOIN tl ON c.url = tl.url""".stripMargin, frozen = true),

    // ---- crawl: COMPOSITE pipeline — HTML → anchors resolved per
    //      RFC 3986 → robots.txt compliance on the link path → public-
    //      suffix domain extraction → per-domain link/doc profile. The
    //      root-relative links die at the robots gate; everything
    //      composes as plain projections + one aggregation ----
    "pipeline_crawl" -> Gate((s, dir) => {
      val base = concat(lit("https://base"), pmod(col("doc_id"), lit(11)),
        lit(".example/dir/page"), col("doc_id"), lit(".html"))
      val html = concat(
        lit("<html><body><a href=\"https://abs"), pmod(col("doc_id"), lit(7)),
        lit(".example/p?a=1&amp;b=2\">x</a>"),
        lit("<a href='//cdn"), pmod(col("doc_id"), lit(5)),
        lit(".example/c.js'>y</a>"),
        lit("<a href=/root"), col("doc_id"), lit(".html>z</a>"),
        lit("<a href=\"../up"), col("doc_id"), lit(".html#frag\">w</a>"),
        lit("</body></html>"))
      val robots = lit("User-agent: *\nDisallow: /root\nAllow: /\n")
      val links = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(HtmlOps.html_links(html, base)).as("link"))
        .filter(RobotsOps.robots_allowed(robots,
          try_parse_url(col("link"), lit("PATH")), "graftbot"))
      TextAnalysis.urlDomains(links, "link", "doc_id")
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"))
    }, oracle =
      // three links survive robots (the /root shape is disallowed); the
      // surviving domains are recomputed directly from the synth rule
      """WITH l AS (
        |  SELECT doc_id,
        |    'abs' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS domain
        |  FROM documents
        |  UNION ALL SELECT doc_id,
        |    'cdn' || CAST(doc_id % 5 AS VARCHAR) || '.example' FROM documents
        |  UNION ALL SELECT doc_id,
        |    'base' || CAST(doc_id % 11 AS VARCHAR) || '.example' FROM documents)
        |SELECT domain, count(*) AS n_links,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM l GROUP BY domain""".stripMargin),

    // ---- §3.2 END-TO-END NRT lifecycle (the reference's flagship
    //      scheduled path, core.py:806-880 + OverwriteFS.py:2137-2369)
    //      over the in-JVM Portal model: due plan → control state seeded
    //      as item properties → 7-day window read through the ERDDAP
    //      DSv2 source → fingerprint unchanged-skip → blue-green slot
    //      overwrite → item touch, slot_after read back from the item.
    //      Fixture = events sliced into one tabledap dataset per
    //      event_type; the oracle replays the due/changed rules and
    //      window counts from events.parquet ----
    "pipeline_nrt" -> Gate((s, dir) => graft.streaming.NrtPipeline.run(s, dir),
      oracle = nrtLifecycleOracleSql),

    // ---- streaming: the SAME NRT lifecycle body driven through the
    //      live ArcGIS-sharing-REST transport over real sockets
    //      (localhost server): refresh via RestPortalTransport
    //      (add/search/props/update/touch all HTTP). Same oracle as
    //      pipeline_nrt. ----
    "pipeline_nrt_rest" -> Gate((s, dir) => graft.streaming.NrtPipeline.runViaRest(s, dir),
      oracle = nrtLifecycleOracleSql),

    // ---- graph: damped PageRank over a deterministic link graph
    //      (doc i → (3i+1, 5i+2, 7i+3) mod N) — 5 fixed power-iteration
    //      rounds, lineage checkpoint-truncated per round; the oracle
    //      unrolls the same 5 rounds in SQL ----
    "pagerank_links" -> Gate((s, dir) => {
      val (_, edges) = linkGraph(s, dir, 3)
      LinkGraph.pageRank(edges, "src", "dst", iterations = 5,
        idCol = "doc_id")
        .select(col("doc_id"), round(col("rank"), 9).as("rank"))
    }, oracle = {
      // the same 5 power-iteration rounds unrolled; (1 - 0.85)/n is kept
      // as the literal two-op form so both engines compute the identical
      // IEEE double, and ranks round to 9 decimals (values ~2e-3, cross-
      // engine summation-order noise ~1e-17 — eight orders of margin)
      def round(prev: String, cur: String): String =
        s"""$cur AS (SELECT nd.id,
           |  (1 - 0.85)/(SELECT n FROM nn)
           |    + 0.85*coalesce(sum(p.r/dg.deg), 0) AS r
           |  FROM nodes nd
           |  LEFT JOIN edges e ON e.dst = nd.id
           |  LEFT JOIN $prev p ON p.id = e.src
           |  LEFT JOIN deg dg ON dg.src = e.src
           |  GROUP BY nd.id)""".stripMargin
      s"""WITH ${linkCtes(3)},
         | edges AS (SELECT DISTINCT src, dst FROM dir),
         | deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         | r0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS r FROM nodes),
         | ${round("r0", "r1")},
         | ${round("r1", "r2")},
         | ${round("r2", "r3")},
         | ${round("r3", "r4")},
         | ${round("r4", "r5")}
         |SELECT id AS doc_id, round(r, 9) AS rank FROM r5""".stripMargin
    }, lazyPin = true),

    // ---- graph: bounded-radius harmonic centrality (3 hops) over the
    //      undirected synthetic graph — Σ n_d/d from exact counts ----
    "harmonic_links" -> Gate((s, dir) => {
      val (docs, edges) = linkGraph(s, dir, 2)
      LinkGraph.harmonicCentrality(edges, "src", "dst", maxDist = 3,
        nodes = docs, idCol = "doc_id")
    }, oracle =
      // harmonic centrality: BFS radius 3 unrolled — d2/d3 are frontier
      // joins minus already-seen pairs; the score folds exact counts as
      // n1/1.0 + n2/2.0 + n3/3.0 (the Spark expression verbatim)
      s"""WITH ${linkCtes(2)},
        | $undCte,
        | d1 AS (SELECT src AS u, dst AS v FROM und),
        | d2 AS (
        |  SELECT DISTINCT f.u, e.dst AS v FROM d1 f JOIN und e ON e.src = f.v
        |  WHERE e.dst <> f.u AND NOT EXISTS (
        |    SELECT 1 FROM d1 x WHERE x.u = f.u AND x.v = e.dst)),
        | d3 AS (
        |  SELECT DISTINCT f.u, e.dst AS v FROM d2 f JOIN und e ON e.src = f.v
        |  WHERE e.dst <> f.u
        |    AND NOT EXISTS (SELECT 1 FROM d1 x WHERE x.u = f.u AND x.v = e.dst)
        |    AND NOT EXISTS (SELECT 1 FROM d2 x WHERE x.u = f.u AND x.v = e.dst)),
        | c1 AS (SELECT u, count(*) AS n FROM d1 GROUP BY 1),
        | c2 AS (SELECT u, count(*) AS n FROM d2 GROUP BY 1),
        | c3 AS (SELECT u, count(*) AS n FROM d3 GROUP BY 1)
        |SELECT nd.id AS doc_id,
        |  round(coalesce(c1.n, 0)/1.0 + coalesce(c2.n, 0)/2.0
        |        + coalesce(c3.n, 0)/3.0, 6) AS harmonic
        |FROM nodes nd
        |LEFT JOIN c1 ON c1.u = nd.id
        |LEFT JOIN c2 ON c2.u = nd.id
        |LEFT JOIN c3 ON c3.u = nd.id""".stripMargin, lazyPin = true),

    // ---- graph: reciprocity of the DIRECTED synthetic graph ----
    "reciprocity_links" -> Gate((s, dir) => {
      val (_, edges) = linkGraph(s, dir, 2)
      LinkGraph.reciprocity(edges, "src", "dst")
    }, oracle =
      s"""WITH ${linkCtes(2)},
        | e AS (SELECT DISTINCT src AS a, dst AS b FROM dir WHERE src <> dst),
        | mu AS (
        |  SELECT count(*) AS r FROM e
        |  WHERE EXISTS (SELECT 1 FROM e x WHERE x.a = e.b AND x.b = e.a)),
        | mm AS (SELECT count(*) AS m FROM e)
        |SELECT m, (SELECT r FROM mu) AS mutual,
        |  round(CASE WHEN m = 0 THEN 0.0
        |        ELSE (SELECT r FROM mu)::DOUBLE / m END, 6) AS reciprocity
        |FROM mm""".stripMargin, lazyPin = true, frozen = true),

    // ---- graph: degree assortativity (Newman 2002) of the synthetic
    //      undirected graph — one number, exact integer sums ----
    "assortativity_links" -> Gate((s, dir) => {
      val (_, edges) = linkGraph(s, dir, 2)
      LinkGraph.degreeAssortativity(edges, "src", "dst")
    }, oracle =
      s"""WITH ${linkCtes(2)},
        | $undCte,
        | deg AS (SELECT src AS id, count(*) AS d FROM und GROUP BY 1),
        | wd AS (
        |  SELECT da.d AS dx, db.d AS dy FROM und u
        |  JOIN deg da ON da.id = u.src JOIN deg db ON db.id = u.dst),
        | agg AS (
        |  SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
        |    sum(dx*dy) AS sxy, sum(dx*dx) AS sxx, sum(dy*dy) AS syy
        |  FROM wd),
        | f AS (
        |  SELECT m, m::DOUBLE*sxy - sx*sy AS num,
        |    sqrt((m::DOUBLE*sxx - sx*sx) * (m::DOUBLE*syy - sy*sy)) AS den
        |  FROM agg)
        |SELECT CAST(m AS BIGINT) AS m,
        |  round(CASE WHEN den = 0.0 THEN 0.0 ELSE num/den END, 6) AS r
        |FROM f""".stripMargin),

    // ---- graph: personalized PageRank — teleport to the doc_id%10==0
    //      seed set over the same synthetic graph (4 rounds; the graph
    //      has no dangling nodes, so the oracle needs no dangling term) ----
    "ppr_links" -> Gate((s, dir) => {
      val (docs, edges) = linkGraph(s, dir, 3)
      val seeds = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      LinkGraph.personalizedPageRank(edges, "src", "dst", seeds,
        iterations = 4, idCol = "doc_id")
        .select(col("doc_id"), round(col("rank"), 9).as("rank"))
    }, oracle = {
      // personalized PageRank: the same unrolled power iteration with the
      // teleport vector p (1/|seeds| on doc_id%10==0, else 0) replacing
      // the uniform 1/N term; init = p, 4 rounds
      def round(prev: String, cur: String): String =
        s"""$cur AS (SELECT nd.id,
           |  (1 - 0.85)*pp.p
           |    + 0.85*coalesce(sum(p2.r/dg.deg), 0) AS r
           |  FROM nodes nd
           |  JOIN p pp ON pp.id = nd.id
           |  LEFT JOIN edges e ON e.dst = nd.id
           |  LEFT JOIN $prev p2 ON p2.id = e.src
           |  LEFT JOIN deg dg ON dg.src = e.src
           |  GROUP BY nd.id, pp.p)""".stripMargin
      s"""WITH ${linkCtes(3)},
         | edges AS (SELECT DISTINCT src, dst FROM dir),
         | deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         | ns AS (SELECT count(*) AS s FROM nodes WHERE id % 10 = 0),
         | p AS (SELECT id, CASE WHEN id % 10 = 0
         |    THEN 1.0/(SELECT s FROM ns) ELSE 0.0 END AS p FROM nodes),
         | r0 AS (SELECT id, p AS r FROM p),
         | ${round("r0", "r1")},
         | ${round("r1", "r2")},
         | ${round("r2", "r3")},
         | ${round("r3", "r4")}
         |SELECT id AS doc_id, round(r, 9) AS rank FROM r4""".stripMargin
    }, lazyPin = true),

    // ---- graph: synchronous label propagation (3 rounds) — most
    //      frequent neighbor label, ties to the smallest; undirected
    //      mirror of the same synthetic link graph; deterministic so
    //      the oracle replays identical rounds ----
    "labelprop_links" -> Gate((s, dir) => {
      val (_, edges) = linkGraph(s, dir, 2)
      LinkGraph.labelPropagation(edges, "src", "dst", iterations = 3,
        idCol = "doc_id")
        .select(col("doc_id"), col("label"))
    }, oracle =
      // three unrolled synchronous rounds (lpRound)
      s"""WITH ${linkCtes(2)},
         | $undCte,
         | l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM und),
         |${lpRound("l0", "v1", "w1", "l1")},
         |${lpRound("l1", "v2", "w2", "l2")},
         |${lpRound("l2", "v3", "w3", "l3")}
         |SELECT id AS doc_id, lbl AS label FROM l3""".stripMargin, lazyPin = true),

    // ---- graph: oscillation-hardened label propagation — one extra
    //      round, `stable` = consecutive states agree, label = min of
    //      the pair (phase-independent on bipartite 2-cycles) ----
    "labelprop_stable" -> Gate((s, dir) => {
      val (_, edges) = linkGraph(s, dir, 2)
      LinkGraph.labelPropagationStable(edges, "src", "dst", iterations = 2,
        idCol = "doc_id")
        .select(col("doc_id"), col("label"), col("stable"))
    }, oracle =
      // same vote rounds; compare rounds 2 and 3, min-resolve the pair
      s"""WITH ${linkCtes(2)},
         | $undCte,
         | l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM und),
         |${lpRound("l0", "v1", "w1", "l1")},
         |${lpRound("l1", "v2", "w2", "l2")},
         |${lpRound("l2", "v3", "w3", "l3")}
         |SELECT a.id AS doc_id, least(a.lbl, b.lbl) AS label,
         |       a.lbl = b.lbl AS stable
         |FROM l2 a JOIN l3 b ON a.id = b.id""".stripMargin, lazyPin = true, frozen = true),

    // ---- graph: HITS hubs & authorities (3 rounds) over the same
    //      synthetic link graph — max-normalized + 6-dp pinned per
    //      half-round, so the oracle replays the identical trajectory ----
    "hits_links" -> Gate((s, dir) => {
      val (_, edges) = linkGraph(s, dir, 3)
      LinkGraph.hits(edges, "src", "dst", iterations = 3, idCol = "doc_id")
        .select(col("doc_id"), col("hub"), col("authority"))
    }, oracle = {
      // the same 3 HITS rounds unrolled: each half-round sums the dual
      // score over the edge, normalizes by the MAX (deterministic — no
      // summation-order noise), and rounds to 6 dp, so both engines step
      // through bit-identical states. Each half-round's sums CTE is
      // referenced twice (the normalize join + the max scalar) and the
      // chain is 6 deep, so without MATERIALIZED DuckDB's inlining
      // re-evaluates the prefix exponentially (~20 s at sf0.01).
      def half(scores: String, from: String, to: String, sums: String,
          out: String): String =
        s"""$sums AS MATERIALIZED (SELECT e.$to AS id, sum(p.s) AS s
           |  FROM edges e JOIN $scores p ON e.$from = p.id GROUP BY 1),
           |$out AS MATERIALIZED (SELECT nd.id,
           |  round(coalesce(x.s, 0) / (SELECT max(s) FROM $sums), 6) AS s
           |  FROM nodes nd LEFT JOIN $sums x ON nd.id = x.id)""".stripMargin
      s"""WITH ${linkCtes(3)},
         | edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM dir),
         | h0 AS (SELECT id, 1.0 AS s FROM nodes),
         |${half("h0", "src", "dst", "a1s", "a1")},
         |${half("a1", "dst", "src", "h1s", "h1")},
         |${half("h1", "src", "dst", "a2s", "a2")},
         |${half("a2", "dst", "src", "h2s", "h2")},
         |${half("h2", "src", "dst", "a3s", "a3")},
         |${half("a3", "dst", "src", "h3s", "h3")}
         |SELECT h3.id AS doc_id, h3.s AS hub, a3.s AS authority
         |FROM h3 JOIN a3 ON h3.id = a3.id""".stripMargin
    }, lazyPin = true),

    // ---- graph: per-node triangle counts + local clustering
    //      coefficient — degree-ordered wedge enumeration (no Σ deg²
    //      blowup); exact integers, orientation-independent oracle ----
    "triangle_counts" -> Gate((s, dir) => {
      val (_, edges) = linkGraph(s, dir, 3)
      LinkGraph.triangleCounts(edges, "src", "dst", idCol = "doc_id")
        .select(col("doc_id"), col("triangles"), col("degree"),
          round(col("lcc"), 6).as("lcc"))
    }, oracle =
      // triangle counts are orientation-independent exact integers, so
      // the oracle enumerates each triangle once by canonical a<b<c
      // (the Spark side's degree-ordered orientation is a physical
      // optimization with the identical result)
      s"""WITH ${linkCtes(3)},
        | und AS (
        |  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
        |  FROM dir WHERE src <> dst),
        | deg AS (SELECT id, count(*) AS deg FROM (
        |   SELECT lo AS id FROM und UNION ALL SELECT hi FROM und)
        |  GROUP BY 1),
        | tri AS (
        |  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |  FROM und e1 JOIN und e2 ON e2.lo = e1.hi
        |  JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
        | tn AS (SELECT id, count(*) AS t FROM (
        |   SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        |   UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT nd.id AS doc_id,
        |  coalesce(tn.t, 0) AS triangles,
        |  coalesce(deg.deg, 0) AS degree,
        |  CASE WHEN coalesce(deg.deg, 0) >= 2
        |    THEN round(2.0 * coalesce(tn.t, 0) / (deg.deg * (deg.deg - 1)), 6)
        |    ELSE 0.0 END AS lcc
        |FROM nodes nd LEFT JOIN tn ON nd.id = tn.id
        |LEFT JOIN deg ON nd.id = deg.id""".stripMargin, lazyPin = true),

    // ---- graph: 4-truss edge filter over a half-dense ring (dense
    //      half: +1/+2/+3 neighbors → triangle-rich; sparse half: +1
    //      path → no triangles) — boundary edges cascade out ----
    "ktruss_edges" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"), explode(
        when(col("doc_id") < lit(n / 2), array(
          pmod(col("doc_id") + 1, lit(n)),
          pmod(col("doc_id") + 2, lit(n)),
          pmod(col("doc_id") + 3, lit(n))))
        .otherwise(array(pmod(col("doc_id") + 1, lit(n))))).as("dst"))
      LinkGraph.kTrussEdges(edges, "src", "dst", k = 4, rounds = 3)
    }, oracle = {
      // k-truss: the same 3 support-filter rounds unrolled — triangle
      // enumeration over the surviving edges, per-edge support via the
      // 3-way union count, filter at k-2 = 2. Every multiply-referenced
      // CTE is MATERIALIZED and the node-count scalar is hoisted into a
      // cross join: without that, DuckDB inlines tri_*/sup_*/u* at each
      // of their 3+ reference sites — exponential re-evaluation across
      // the three unrolled rounds that hung the round-15 driver compare
      // indefinitely (correctness file zeroed by a compare-step timeout).
      def round(prev: String, cur: String): String =
        s"""tri_$cur AS MATERIALIZED (
           |  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
           |  FROM $prev e1 JOIN $prev e2 ON e2.lo = e1.hi
           |  JOIN $prev e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
           |sup_$cur AS MATERIALIZED (
           |  SELECT lo, hi, count(*) AS s FROM (
           |    SELECT a AS lo, b AS hi FROM tri_$cur
           |    UNION ALL SELECT b, c FROM tri_$cur
           |    UNION ALL SELECT a, c FROM tri_$cur) GROUP BY 1, 2),
           |$cur AS MATERIALIZED (
           |  SELECT u.lo, u.hi FROM $prev u
           |  JOIN sup_$cur s ON s.lo = u.lo AND s.hi = u.hi
           |  WHERE s.s >= 2)""".stripMargin
      s"""WITH $linkNodeCtes,
         | dir AS (
         |  SELECT id AS a, (id + 1) % n AS b FROM nodes, nn WHERE id < n // 2
         |  UNION ALL SELECT id, (id + 2) % n FROM nodes, nn WHERE id < n // 2
         |  UNION ALL SELECT id, (id + 3) % n FROM nodes, nn WHERE id < n // 2
         |  UNION ALL SELECT id, (id + 1) % n FROM nodes, nn
         |  WHERE id >= n // 2),
         | u0 AS MATERIALIZED (
         |  SELECT DISTINCT least(a, b) AS lo, greatest(a, b) AS hi
         |  FROM dir WHERE a <> b),
         | ${round("u0", "u1")},
         | ${round("u1", "u2")},
         | ${round("u2", "u3")}
         |SELECT lo, hi FROM u3""".stripMargin
    }, lazyPin = true),

    // ---- graph: k-core number per node via the h-index fixpoint —
    //      6 rounds (init = degree, values only move down, so rounds
    //      past convergence are no-ops); the oracle unrolls the same
    //      deterministic trajectory ----
    "graph_coreness" -> Gate((s, dir) => {
      val (docs, edges) = linkGraph(s, dir, 3)
      LinkGraph.coreness(edges, "src", "dst", iterations = 6,
        nodes = docs, idCol = "doc_id")
        .select(col("doc_id"), col("coreness"))
    }, oracle = {
      // coreness: the same 6 h-index rounds unrolled — each round takes,
      // per node, the H-index of its neighbors' previous values (largest
      // h with >= h neighbors at value >= h), expressed as
      // max(rn where nh >= rn) over a desc row_number; init = degree
      def hround(prev: String, cur: String): String =
        s"""$cur AS (SELECT nd.id,
           |  coalesce(max(CASE WHEN x.nh >= x.rn THEN x.rn ELSE 0 END), 0) AS h
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.dst AS id, p.h AS nh,
           |      row_number() OVER (PARTITION BY e.dst ORDER BY p.h DESC) AS rn
           |    FROM und e JOIN $prev p ON e.src = p.id) x ON x.id = nd.id
           |  GROUP BY nd.id)""".stripMargin
      s"""WITH ${linkCtes(3)},
         | $undCte,
         | h0 AS (SELECT nd.id, coalesce(d.deg, 0) AS h FROM nodes nd
         |   LEFT JOIN (SELECT dst AS id, count(*) AS deg FROM und
         |     GROUP BY 1) d ON d.id = nd.id),
         | ${hround("h0", "h1")},
         | ${hround("h1", "h2")},
         | ${hround("h2", "h3")},
         | ${hround("h3", "h4")},
         | ${hround("h4", "h5")},
         | ${hround("h5", "h6")}
         |SELECT id AS doc_id, CAST(h AS BIGINT) AS coreness
         |FROM h6""".stripMargin
    }, lazyPin = true),

    // ---- text: exact-N uniform sample by portable md5 rank — plans
    //      as TakeOrderedAndProject, never a global sort ----
    "sample_exact_n" -> Gate((s, dir) =>
      TextAnalysis.sampleExactN(t(s, dir, "documents"), "doc_id", n = 25)
        .select(col("doc_id"), col("lang"), col("source")),
      oracle = """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id IS NOT NULL
        |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 25""".stripMargin),

    // ---- text: weighted exact-N sample (Efraimidis–Spirakis A-ES,
    //      deterministic) — longer documents favored by n_chars ----
    "sample_weighted" -> Gate((s, dir) =>
      TextAnalysis.sampleWeighted(t(s, dir, "documents"), "doc_id",
        "n_chars", n = 30)
        .select(col("doc_id"), col("n_chars"), col("source")),
      // the A-ES priority ln(u)/w recomputed on the same 52-bit hash;
      // priorities are random-spread doubles, so the rank-30 boundary is
      // far beyond any cross-engine ulp difference in ln()
      oracle = """SELECT doc_id, n_chars, source FROM documents
        |WHERE doc_id IS NOT NULL AND n_chars > 0
        |ORDER BY ln((CAST(concat('0x',
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT) + 1.0)
        |  / 4503599627370497e0) / n_chars DESC, doc_id
        |LIMIT 30""".stripMargin),

    // ---- text: corpus snapshot delta (CDC) — v2 = v1 with ids%7==0
    //      dropped, ids%5==0 text-mutated, and a fresh shifted-id set
    //      added; every class must label correctly by fingerprint ----
    "corpus_delta" -> Gate((s, dir) => {
      val v1 = t(s, dir, "documents")
      val v2kept = v1.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" v2-edit"))).otherwise(col("text")))
      val v2new = v1.filter(pmod(col("doc_id"), lit(3)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      TextAnalysis.corpusDelta(v1, v2kept.unionByName(v2new),
        "text", "doc_id")
    }, oracle =
      // delta classes from the v2 construction rule: ids%7=0 removed,
      // else ids%5=0 changed, shifted copies of ids%3=0 added
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'removed'
        |       WHEN doc_id % 5 = 0 THEN 'changed'
        |       ELSE 'unchanged' END AS delta
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, 'added' AS delta
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin),

    // ---- text: mojibake repair — cp1252-minted double-encoding is
    //      appended to every document and must invert exactly, while
    //      an already-clean accent suffix passes through untouched ----
    "text_fix_mojibake" -> Gate((s, dir) => {
      val clean = "café naïve — “ok’ №"
      val broken = new String(
        clean.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.Charset.forName("windows-1252"))
      t(s, dir, "documents").select(col("doc_id"),
        Mojibake.fix_mojibake(concat(col("text"), lit(" " + broken)))
          .as("fixed"),
        Mojibake.fix_mojibake(concat(col("text"), lit(" " + clean)))
          .as("untouched"))
    }, oracle =
      // both columns repair/pass-through to the same clean suffix
      """SELECT doc_id,
        |  text || ' café naïve — “ok’ №' AS fixed,
        |  text || ' café naïve — “ok’ №' AS untouched
        |FROM documents""".stripMargin),

    // ---- text: robots.txt compliance (RFC 9309) — group selection by
    //      UA specificity, longest-pattern decision, Allow tie-break;
    //      even ids carry a crawler-specific group, odd ids fall to * ----
    "robots_filter" -> Gate((s, dir) => {
      val robots = concat(
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("User-agent: crawler0\nDisallow: /a"),
            pmod(col("doc_id"), lit(3)).cast("string"), lit("\n\n")))
          .otherwise(lit("")),
        lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n"))
      val path = element_at(array(lit("/a1/x"), lit("/private/z"),
        lit("/private/ok"), lit("/home")),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
      t(s, dir, "documents").select(col("doc_id"), path.as("path"),
        RobotsOps.robots_allowed(robots, path, "crawler0-bot").as("allowed"))
    }, oracle =
      // mirrors the synthesized robots decision table: even ids select
      // the crawler0 group (only /a{id%3} disallowed), odd ids the *
      // group (/private disallowed, /private/ok re-allowed by length)
      """SELECT doc_id,
        |  CASE ((doc_id % 4) + 4) % 4 WHEN 0 THEN '/a1/x'
        |    WHEN 1 THEN '/private/z' WHEN 2 THEN '/private/ok'
        |    ELSE '/home' END AS path,
        |  NOT ((((doc_id % 4) + 4) % 4 = 0 AND ((doc_id % 3) + 3) % 3 = 1
        |        AND ((doc_id % 2) + 2) % 2 = 0)
        |    OR (((doc_id % 4) + 4) % 4 = 1 AND ((doc_id % 2) + 2) % 2 = 1))
        |    AS allowed
        |FROM documents""".stripMargin),

    // ---- crawl: Crawl-delay of the winning UA group in ms —
    //      specific-agent group beats *, fractional seconds legal,
    //      absent → null; the politeness input for crawl_schedule ----
    "robots_delay" -> Gate((s, dir) => {
      val k = pmod(col("doc_id"), lit(4))
      val robots =
        when(k === 0, concat(lit("User-agent: *\nCrawl-delay: "),
          (pmod(col("doc_id"), lit(5)) + 1).cast("string"),
          lit("\nDisallow: /x\n")))
        .when(k === 1, concat(
          lit("User-agent: graftbot\nCrawl-delay: 0.5\nDisallow: /y\n\n"),
          lit("User-agent: *\nCrawl-delay: 10\n")))
        .when(k === 2, lit("User-agent: *\nDisallow: /private\n"))
        .otherwise(lit("User-agent: other\nCrawl-delay: 9\n"))
      t(s, dir, "documents").select(col("doc_id"),
        RobotsOps.robots_crawl_delay(robots, "graftbot").as("delay_ms"))
    }, oracle =
      // specific-agent group beats *, fractional seconds round to ms,
      // non-matching or delay-less winners are null
      """SELECT doc_id,
        |  CASE ((doc_id % 4) + 4) % 4
        |    WHEN 0 THEN (doc_id % 5 + 1) * 1000
        |    WHEN 1 THEN 500
        |    ELSE NULL
        |  END AS delay_ms
        |FROM documents""".stripMargin),

    // ---- crawl: per-host politeness schedule — consecutive fetch
    //      slots per registered domain (salted-md5 order) with
    //      offset_ms = (slot−1)·delay; one hash window per domain ----
    "crawl_schedule" -> Gate((s, dir) => {
      val url = concat(lit("https://site"),
        pmod(col("doc_id"), lit(11)).cast("string"),
        element_at(array(lit(".com"), lit(".co.uk"), lit(".org")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")),
        lit("/p"), col("doc_id"))
      val in = t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"),
          when(pmod(col("doc_id"), lit(11)) < 4, lit(2000L)).as("delay_ms"))
      TextAnalysis.politenessSchedule(in, "url", "doc_id", "delay_ms")
        .select(col("doc_id"), col("domain"), col("slot"), col("offset_ms"))
    }, oracle =
      // slots = md5 rank within the registered domain; offsets multiply
      // the per-row delay (null → the 1000 ms default)
      """WITH u AS (
        |  SELECT doc_id,
        |    'site' || CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) ||
        |      CASE ((doc_id % 3) + 3) % 3 WHEN 0 THEN '.com'
        |        WHEN 1 THEN '.co.uk' ELSE '.org' END AS domain,
        |    CASE WHEN ((doc_id % 11) + 11) % 11 < 4 THEN 2000 END AS delay_ms
        |  FROM documents),
        | r AS (
        |  SELECT doc_id, domain, delay_ms,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS slot
        |  FROM u)
        |SELECT doc_id, domain, CAST(slot AS BIGINT) AS slot,
        |  CAST((slot - 1) * coalesce(delay_ms, 1000) AS BIGINT) AS offset_ms
        |FROM r""".stripMargin),

    // ---- crawl: Sitemap directives out of robots.txt — group-
    //      independent per RFC 9309 §2.2.4, collected file-wide in
    //      order (comments stripped, blanks skipped) ----
    "robots_sitemaps" -> Gate((s, dir) => {
      val robots = concat(
        lit("User-agent: *\nDisallow: /private\n"),
        lit("Sitemap: https://s"), pmod(col("doc_id"), lit(7)),
        lit(".example/sitemap.xml  # primary\n"),
        lit("User-agent: other\nAllow: /\n"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("sitemap: https://s"), pmod(col("doc_id"), lit(7)),
            lit(".example/news.xml\n"))).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(RobotsOps.robots_sitemaps(robots)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("sitemap_url"))
    }, oracle =
      // the primary directive (comment-stripped) always at pos 0; even
      // ids add a lowercase second directive at pos 1
      """SELECT doc_id, CAST(0 AS BIGINT) AS pos,
        |  'https://s' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example/sitemap.xml' AS sitemap_url
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT) AS pos,
        |  'https://s' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example/news.xml' AS sitemap_url
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin, frozen = true),

    // ---- text: URL → host + registered domain (public-suffix-aware:
    //      .co.uk keeps three labels) over synthesized crawl URLs ----
    "url_domains" -> Gate((s, dir) =>
      TextAnalysis.urlDomains(
        t(s, dir, "documents").select(col("doc_id"), synthUrl.as("url")),
        "url", "doc_id"),
      // host/domain recomputed from the synthUrl rule — the .co.uk rows
      // pin the multi-label public-suffix branch
      oracle = """WITH base AS (
        |  SELECT doc_id,
        |    CASE ((doc_id % 4) + 4) % 4 WHEN 0 THEN 'www' WHEN 1 THEN 'api'
        |      WHEN 2 THEN 'cdn' ELSE 'blog' END AS sub,
        |    'site' || CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) AS site,
        |    CASE ((doc_id % 3) + 3) % 3 WHEN 0 THEN '.com'
        |      WHEN 1 THEN '.co.uk' ELSE '.org' END AS tld
        |  FROM documents)
        |SELECT doc_id, sub || '.' || site || tld AS host,
        |  site || tld AS domain
        |FROM base""".stripMargin),

    // ---- crawl: RFC 3986 §6.2 URL canonicalization — lowercase
    //      scheme/host, default ports dropped, dot segments removed,
    //      unreserved %-escapes decoded + kept escapes uppercased,
    //      fragment dropped, empty path → "/". Messy shapes synthesize
    //      deterministically; the oracle constructs the clean form
    //      directly (same pattern as html_links) ----
    "url_canonical" -> Gate((s, dir) => {
      val m = pmod(col("doc_id"), lit(11)).cast("string")
      val k = pmod(col("doc_id"), lit(6))
      val messy =
        when(k === 0, concat(lit("HTTP://Example"), m,
          lit(".COM:80/a/./b/../c%7Ed?x=%2a#frag")))
        .when(k === 1, concat(lit("https://www.Site"), m,
          lit(".org:443/%61bc/")))
        .when(k === 2, concat(lit("http://h"), m, lit(".net")))
        .when(k === 3, concat(lit("https://u:p@Host"), m,
          lit(".io:8443/p/q")))
        .when(k === 4, concat(lit("ftp://F"), m,
          lit(".example:21/dir/../file.txt")))
        .otherwise(concat(lit("http://x"), m, lit(".com/a%2Fb?q=1&r=%7e2")))
      t(s, dir, "documents")
        .select(col("doc_id"), HtmlOps.canonical_url(messy).as("url"))
    }, oracle =
      // the oracle CONSTRUCTS each canonical form directly from the same
      // doc_id arithmetic the gate uses to synthesize the messy input
      """SELECT doc_id,
        |  CASE ((doc_id % 6) + 6) % 6
        |    WHEN 0 THEN 'http://example' ||
        |      CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) || '.com/a/c~d?x=%2A'
        |    WHEN 1 THEN 'https://www.site' ||
        |      CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) || '.org/abc/'
        |    WHEN 2 THEN 'http://h' ||
        |      CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) || '.net/'
        |    WHEN 3 THEN 'https://u:p@host' ||
        |      CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) || '.io:8443/p/q'
        |    WHEN 4 THEN 'ftp://f' ||
        |      CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) || '.example/file.txt'
        |    ELSE 'http://x' ||
        |      CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) || '.com/a%2Fb?q=1&r=~2'
        |  END AS url
        |FROM documents""".stripMargin),

    // ---- text: per-domain frequency cap (10 docs per registered
    //      domain by portable md5 rank) — the anti-hot-host mix
    //      control; rides the two-phase balanced-sample windows ----
    "domain_cap" -> Gate((s, dir) =>
      TextAnalysis.capPerDomain(
        t(s, dir, "documents").select(col("doc_id"), synthUrl.as("url")),
        "url", "doc_id", cap = 10)
        .select(col("doc_id"), col("domain")),
      // the cap mirrors sample_balanced's portable md5 rank per domain
      oracle = """WITH base AS (
        |  SELECT doc_id,
        |    'site' || CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) ||
        |    CASE ((doc_id % 3) + 3) % 3 WHEN 0 THEN '.com'
        |      WHEN 1 THEN '.co.uk' ELSE '.org' END AS domain
        |  FROM documents),
        | r AS (
        |  SELECT doc_id, domain, row_number() OVER (
        |    PARTITION BY domain
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM base)
        |SELECT doc_id, domain FROM r WHERE rn <= 10""".stripMargin, frozen = true),

    // ---- text: BM25 top-k retrieval — three queries, Lucene idf,
    //      k1=1.2 b=0.75; the corpus tf is pruned by an isin() hash
    //      probe (no join) and top-k flows through bounded
    //      per-partition heaps, never a global sort ----
    "bm25_topk" -> Gate((s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        queries = bm25Queries, k = 5),
      // mirrors TextAnalysis.bm25TopK: Lucene non-negative idf, k1=1.2
      // b=0.75, scores rounded to 6 dp BEFORE ranking, ties by doc_id.
      // e0 suffixes force DOUBLE (bare 0.5 is DECIMAL in DuckDB)
      oracle = """WITH q(qid, tok) AS (VALUES
        |    (1, 'spark'), (1, 'window'), (1, 'join'),
        |    (2, 'vector'), (2, 'scan'), (2, 'batch'),
        |    (3, 'customer'), (3, 'hash'), (3, 'merge'), (3, 'sort')),
        | lists AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(
        |    lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |    x -> x <> '') AS lst
        |  FROM documents),
        | base AS (SELECT doc_id, len(lst) AS dl FROM lists),
        | tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(lst) AS tok FROM lists)
        |  WHERE tok IN (SELECT DISTINCT tok FROM q)
        |  GROUP BY 1, 2),
        | dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        | stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM base),
        | scored AS (
        |  SELECT q.qid, tf.doc_id,
        |    round(sum(
        |      ln(1e0 + (n - df + 0.5e0) / (df + 0.5e0)) *
        |      (tf * 2.2e0) /
        |      (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl /
        |        (CAST(sdl AS DOUBLE) / n)))), 6) AS score
        |  FROM tf
        |  JOIN q USING (tok) JOIN dfreq USING (tok)
        |  JOIN base USING (doc_id) CROSS JOIN stats
        |  GROUP BY 1, 2),
        | ranked AS (
        |  SELECT qid, doc_id, score, row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
        |  FROM scored)
        |SELECT CAST(qid AS BIGINT) AS query_id, doc_id, score,
        |  CAST(rn AS BIGINT) AS rank
        |FROM ranked WHERE rn <= 5""".stripMargin, lazyPin = true, frozen = true),

    // ---- text: balanced output-shard assignment by token budget ----
    "shard_assign" -> Gate((s, dir) =>
      TextAnalysis.shardByTokenBudget(t(s, dir, "documents"), "text", "doc_id",
        shardTokens = 5000L),
      oracle = s"""WITH ranked AS (
        |  SELECT doc_id,
        |    $tokenCountSql AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS bk
        |  FROM documents),
        | c AS (
        |  SELECT doc_id, n_tokens, sum(n_tokens) OVER (
        |    ORDER BY bk, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens
        |      AS start_off
        |  FROM ranked)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(start_off // 5000 AS BIGINT) AS shard
        |FROM c""".stripMargin),

    // ---- text: Unicode NFC normalization — decomposed accent
    //      sequences are injected so the normalization must fire ----
    "text_nfc" -> Gate((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" cafe\u0301 A\u030angstro\u0308m")).as("text"))
        .select(col("doc_id"),
          graft.functions.UnicodeNorm.unicode_normalize(col("text")).as("nfc"),
          length(col("text")).as("len_raw"),
          length(graft.functions.UnicodeNorm.unicode_normalize(col("text")))
            .as("len_nfc")),
      oracle = """WITH src AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' A' || chr(778) ||
        |    'ngstro' || chr(776) || 'm' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  nfc_normalize(text) AS nfc,
        |  CAST(length(text) AS INTEGER) AS len_raw,
        |  CAST(length(nfc_normalize(text)) AS INTEGER) AS len_nfc
        |FROM src""".stripMargin),

    // ---- text: exact heavy hitters (>= 0.2% of all tokens) via a
    //      mergeable Misra-Gries pass + exact candidate count ----
    "heavy_hitters" -> Gate((s, dir) =>
      TextAnalysis.heavyHitters(t(s, dir, "documents"), "text",
        thresholdPpm = 2000L),
      oracle = """WITH toks AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        | c AS (SELECT tok, count(*) AS cnt FROM toks WHERE tok <> ''
        |       GROUP BY tok),
        | t AS (SELECT sum(cnt) AS total FROM c)
        |SELECT tok, CAST(cnt AS BIGINT) AS cnt FROM c, t
        |WHERE cnt * 1000000 >= 2000 * total""".stripMargin, frozen = true),

    // ---- text: HTML-strip normalization. Documents are wrapped in a
    //      deterministic HTML shell (script/style blocks, comments,
    //      attributes, entities) that the strip must fully remove ----
    "text_strip_html" -> Gate((s, dir) => {
      val html = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;" +
            "</script><style>p { color: red; }</style></head><body><p " +
            "class=\"doc\">"),
          col("text"),
          lit("</p><!-- id --><div>Tom &amp; Jerry &lt;3 &quot;quoted&quot;" +
            " &#39;s&nbsp;end</div></body></html>")).as("text"))
      html.select(col("doc_id"),
        TextAnalysis.stripHtml(col("text")).as("text_clean"))
    }, oracle =
      """WITH src AS (
        |  SELECT doc_id,
        |    '<html><head><script type="text/javascript">var x = 1 < 2;' ||
        |    '</script><style>p { color: red; }</style></head><body><p ' ||
        |    'class="doc">' || text ||
        |    '</p><!-- id --><div>Tom &amp; Jerry &lt;3 &quot;quoted&quot;' ||
        |    ' &#39;s&nbsp;end</div></body></html>' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        text,
        |        '<script.*?</script\s*>', ' ', 'gis'),
        |        '<style.*?</style\s*>', ' ', 'gis'),
        |        '<!--.*?-->', ' ', 'gs'),
        |        '<[^>]*>', ' ', 'gs'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS text_clean
        |FROM src""".stripMargin),

    // ---- text: Gopher-style repetition quality signals ----
    "text_repetition" -> Gate((s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"), "text", "doc_id"),
      oracle = """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents WHERE length(trim(text)) > 0),
        | uc AS (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(l) AS tok FROM toks) GROUP BY doc_id, tok),
        | u AS (
        |  SELECT doc_id,
        |         round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
        |           AS top_unigram_frac
        |  FROM uc GROUP BY doc_id),
        | bc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(len(l) - 1),
        |             i -> l[i + 1] || ' ' || l[i + 2])) AS bg
        |    FROM toks) GROUP BY doc_id, bg),
        | b AS (
        |  SELECT doc_id,
        |         round(CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
        |           AS dup_bigram_frac
        |  FROM bc GROUP BY doc_id)
        |SELECT u.doc_id, u.top_unigram_frac,
        |       coalesce(b.dup_bigram_frac, 0.0) AS dup_bigram_frac
        |FROM u LEFT JOIN b ON u.doc_id = b.doc_id""".stripMargin),

    // ---- text: composite Gopher-rules document filter ----
    "gopher_filter" -> Gate((s, dir) =>
      TextAnalysis.gopherFilter(t(s, dir, "documents"), "text", "doc_id"),
      oracle = """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        |  FROM documents WHERE length(trim(text)) > 0),
        | uc AS (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(l) AS tok FROM toks) GROUP BY doc_id, tok),
        | u AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS tuf
        |  FROM uc GROUP BY doc_id),
        | bc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(len(l) - 1),
        |             i -> l[i + 1] || ' ' || l[i + 2])) AS bg
        |    FROM toks) GROUP BY doc_id, bg),
        | b AS (
        |  SELECT doc_id,
        |         CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dbf
        |  FROM bc GROUP BY doc_id)
        |SELECT u.doc_id, u.n_tokens,
        |       round(u.tuf, 6) AS top_unigram_frac,
        |       round(coalesce(b.dbf, 0.0), 6) AS dup_bigram_frac
        |FROM u LEFT JOIN b ON u.doc_id = b.doc_id
        |WHERE u.n_tokens >= 30 AND u.n_tokens <= 5000
        |  AND u.tuf <= 0.10 AND coalesce(b.dbf, 0.0) <= 0.05""".stripMargin),

    // ---- text: PII scrub with removal counts. The corpus carries no
    //      PII, so contact strings are synthesized from doc_id inline —
    //      the scrub (and its oracle) must find and redact ALL of them ----
    "text_pii_scrub" -> Gate((s, dir) => {
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      TextAnalysis.scrubPii(withPii, "text")
        .select(col("doc_id"), col("text_clean"), col("n_emails"), col("n_phones"))
    }, oracle =
      """WITH withpii AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |           '@example.com or 555-' ||
        |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents)
        |SELECT doc_id,
        | regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |   '\b\d{3}-\d{4}\b', '[PHONE]', 'g') AS text_clean,
        | CAST(len(regexp_extract_all(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones
        |FROM withpii""".stripMargin),

    // ---- text: deterministic portable hash sampling (20% bucket) ----
    "sample_by_hash" -> Gate((s, dir) =>
      TextAnalysis.sampleByHash(t(s, dir, "documents"), "doc_id", pct = 20)
        .select(col("doc_id"), col("source")),
      oracle = """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 100 < 20""".stripMargin),

    // ---- text: corpus mixing — per-source sampling rates (keep all of
    //      src0, 40% of src1, 10% of everything else) ----
    "mix_sources" -> Gate((s, dir) =>
      TextAnalysis.mixSources(t(s, dir, "documents"), "doc_id", "source",
        rates = Map("src0" -> 100, "src1" -> 40), defaultPct = 10)
        .select(col("doc_id"), col("source")),
      oracle = """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |      < CASE WHEN source = 'src1' THEN 40
        |             WHEN source = 'src0' THEN 100
        |             ELSE 10 END""".stripMargin),

    // ---- text: trained quality classifier — hashed features →
    //      3 rounds of full-batch logistic GD (gradient + weights
    //      rounded to 6 dp per round, so the oracle replays the exact
    //      float trajectory) → per-doc σ(w·x) ----
    "text_quality_logreg" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      // (r15: a gate-level feats pin was tried and REVERTED — the extra
      // materialization job cost more than the one 64-bucket hashing
      // pass it saved; see OPTIMIZATION_r15.md)
      val feats = TextAnalysis.hashingFeatures(docs, "text", "doc_id", 64)
      val labels = docs.select(col("doc_id"),
        (col("source") === "src0").cast("double").as("y"))
      val w = TextAnalysis.trainLogreg(feats, labels, "doc_id", "y",
        dim = 64, iters = 3, lr = 0.4)
      TextAnalysis.scoreLogreg(feats, "doc_id", w)
        .select(col("doc_id"), col("score"))
    }, oracle = {
      // three unrolled full-batch GD rounds over the hashed features —
      // per-round gradient and weight rounding (6 dp) pins the float
      // trajectory to the operator's exactly
      def gd(prev: String, z: String, d: String, g: String, cur: String) =
        s"""$z AS (SELECT f.doc_id, sum(f.x * p.w) AS z
           |  FROM lrfeats f JOIN $prev p ON f.bucket = p.j GROUP BY 1),
           |$d AS (SELECT zz.doc_id, 1.0/(1.0+exp(-zz.z)) - l.y AS d
           |  FROM $z zz JOIN lab l USING (doc_id)),
           |$g AS (SELECT f.bucket AS j,
           |    round(sum(f.x * dd.d) / (SELECT n FROM nn), 6) AS g
           |  FROM lrfeats f JOIN $d dd USING (doc_id) GROUP BY 1),
           |$cur AS (SELECT dims.j, round(p.w - 0.4 * coalesce(g.g, 0.0), 6) AS w
           |  FROM dims JOIN $prev p USING (j) LEFT JOIN $g g USING (j))""".stripMargin
      s"""WITH $logregCtes,
         | nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         | dims AS (SELECT r AS j FROM range(64) t(r)),
         | w0 AS (SELECT j, 0.0 AS w FROM dims),
         |${gd("w0", "z1", "d1", "g1", "w1")},
         |${gd("w1", "z2", "d2", "g2", "w2")},
         |${gd("w2", "z3", "d3", "g3", "w3")},
         |zf AS (SELECT f.doc_id, sum(f.x * p.w) AS z
         |  FROM lrfeats f JOIN w3 p ON f.bucket = p.j GROUP BY 1)
         |SELECT doc_id, round(1.0/(1.0+exp(-z)), 6) AS score FROM zf""".stripMargin
    }),

    // ---- text: the production-shape classifier — intercept (a
    //      synthetic bucket −1 riding the same gradient aggregate) +
    //      L2 weight decay (0.25 — binary-exact, so the decay product
    //      adds no cross-engine rounding noise); same 6-dp trajectory
    //      pin, oracle replays all three rounds ----
    "text_quality_logreg_l2" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = TextAnalysis.hashingFeatures(docs, "text", "doc_id", 64)
      val labels = docs.select(col("doc_id"),
        (col("source") === "src0").cast("double").as("y"))
      val (w, b) = TextAnalysis.trainLogregL2(feats, labels, "doc_id", "y",
        dim = 64, iters = 3, lr = 0.4, l2 = 0.25)
      TextAnalysis.scoreLogreg(feats, "doc_id", w, b)
        .select(col("doc_id"), col("score"))
    }, oracle = {
      // same three unrolled GD rounds with an intercept (bucket −1, x = 1
      // on every labeled doc, unregularized) and L2 decay 0.25 inside the
      // 6-dp gradient round — mirrors TextAnalysis.trainLogregL2
      def gd(prev: String, z: String, d: String, g: String, cur: String) =
        s"""$z AS (SELECT f.doc_id, sum(f.x * p.w) AS z
           |  FROM lrfeats2 f JOIN $prev p ON f.bucket = p.j GROUP BY 1),
           |$d AS (SELECT zz.doc_id, 1.0/(1.0+exp(-zz.z)) - l.y AS d
           |  FROM $z zz JOIN lab l USING (doc_id)),
           |$g AS (SELECT f.bucket AS j,
           |    sum(f.x * dd.d) / (SELECT n FROM nn) AS g
           |  FROM lrfeats2 f JOIN $d dd USING (doc_id) GROUP BY 1),
           |$cur AS (SELECT dims.j,
           |    round(p.w - 0.4 * round(coalesce(g.g, 0.0)
           |      + CASE WHEN dims.j >= 0 THEN 0.25 * p.w ELSE 0.0 END, 6), 6) AS w
           |  FROM dims JOIN $prev p USING (j) LEFT JOIN $g g USING (j))""".stripMargin
      s"""WITH $logregCtes,
         | lrfeats2 AS (SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, x
         |    FROM lrfeats
         |  UNION ALL SELECT doc_id, CAST(-1 AS BIGINT), 1.0 FROM lab),
         | nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         | dims AS (SELECT r - 1 AS j FROM range(65) t(r)),
         | w0 AS (SELECT j, 0.0 AS w FROM dims),
         |${gd("w0", "z1", "d1", "g1", "w1")},
         |${gd("w1", "z2", "d2", "g2", "w2")},
         |${gd("w2", "z3", "d3", "g3", "w3")},
         |zf AS (SELECT f.doc_id, sum(f.x * p.w) AS z
         |  FROM lrfeats f JOIN w3 p ON f.bucket = p.j GROUP BY 1)
         |SELECT zf.doc_id, round(1.0/(1.0+exp(-(zf.z + bb.b))), 6) AS score
         |FROM zf, (SELECT w AS b FROM w3 WHERE j = -1) bb""".stripMargin
    }),

    // ---- text: feature hashing (the fastText/Vowpal trick) — tokens
    //      into md5 buckets mod dim with tf weights; no vocabulary to
    //      build or broadcast, one explode + one hash aggregate ----
    "text_hash_features" -> Gate((s, dir) =>
      TextAnalysis.hashingFeatures(t(s, dir, "documents"), "text", "doc_id",
        dim = 512)
        .select(col("doc_id"), col("bucket"), col("tf")),
      // token → md5-52bit bucket mod 512 with tf counts — the identical
      // portable hash rule both engines compute
      oracle = """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
        |  FROM documents)
        |SELECT doc_id,
        |  ('0x' || substr(md5(tok), 1, 13))::UBIGINT % 512 AS bucket,
        |  CAST(count(*) AS BIGINT) AS tf
        |FROM toks WHERE tok <> ''
        |GROUP BY 1, 2""".stripMargin),

    // ---- text: temperature-flattened mix (n^(1/T) proportions, T=2) —
    //      keep-rates from one metadata-sized count aggregate,
    //      broadcast onto the corpus filter; ratio rounded to 6 dp
    //      before the basis-point floor so both engines land on the
    //      identical integer ----
    "mix_temperature" -> Gate((s, dir) =>
      TextAnalysis.temperatureMix(t(s, dir, "documents"), "doc_id", "source",
        temperature = 2.0, salt = "tmix:")
        .select(col("doc_id"), col("source")),
      // n^(1/T)-proportional keep-rates (T=2 → w = n^-0.5), normalized to
      // the max, rounded to 6 dp, floored to basis points — the same
      // arithmetic sequence the operator runs
      oracle = """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        | m AS (SELECT source, pow(CAST(n AS DOUBLE), -0.5) AS w FROM c),
        | mx AS (SELECT max(w) AS mw FROM m),
        | r AS (SELECT source,
        |    CAST(floor(round(w / mw, 6) * 10000 + 0.5) AS BIGINT) AS bp
        |  FROM m, mx)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r USING (source)
        |WHERE ('0x' || substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 10000 < bp""".stripMargin, frozen = true),

    // ---- text: per-source corpus report (exact median pinned for the
    //      oracle; the operator default is the mergeable approx sketch) ----
    "corpus_report" -> Gate((s, dir) =>
      TextAnalysis.corpusReport(t(s, dir, "documents"), "text", "source",
        minTokens = 30, medianExact = true),
      oracle = s"""WITH tc AS (
        |  SELECT source AS stratum,
        |    $tokenCountSql AS n_tokens
        |  FROM documents)
        |SELECT stratum, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(avg(n_tokens), 4) AS mean_tokens,
        |  round(quantile_cont(n_tokens, 0.5), 4) AS median_tokens,
        |  round(avg(CASE WHEN n_tokens >= 30 THEN 1.0 ELSE 0.0 END), 6)
        |    AS frac_min_tokens
        |FROM tc GROUP BY stratum""".stripMargin, frozen = true),

    // ---- text: sequence packing — concat-and-chunk the corpus into
    //      512-token training windows; per-doc start offset and
    //      first/last window (two-pass global cumsum, no single-
    //      partition window) ----
    "pack_sequences" -> Gate((s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"), "text", "doc_id",
        ctxLen = 512),
      oracle = s"""WITH tc AS (
        |  SELECT doc_id,
        |    $tokenCountSql AS n_tokens
        |  FROM documents),
        | c AS (
        |  SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tc)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cum - n_tokens AS BIGINT) AS start_off,
        |  CAST((cum - n_tokens) // 512 AS BIGINT) AS bin_first,
        |  CAST(CASE WHEN n_tokens = 0 THEN (cum - n_tokens) // 512
        |       ELSE (cum - 1) // 512 END AS BIGINT) AS bin_last
        |FROM c""".stripMargin),

    // ---- text: WHOLE-document bin packing (the SFT batching mode:
    //      docs stay intact, unlike pack_sequences' concat-and-chunk) —
    //      power-of-two length classes, per-class two-pass rank →
    //      (bin, slot); bins never mix classes, never overflow ----
    "pack_whole_docs" -> Gate((s, dir) =>
      TextAnalysis.packWholeDocs(t(s, dir, "documents"), "text", "doc_id",
        ctxLen = 512),
      oracle = s"""WITH tc AS (
        |  SELECT doc_id,
        |    $tokenCountSql AS n_tokens
        |  FROM documents),
        | k AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens <= 1 THEN 1 WHEN n_tokens <= 2 THEN 2
        |         WHEN n_tokens <= 4 THEN 4 WHEN n_tokens <= 8 THEN 8
        |         WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
        |         WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
        |         WHEN n_tokens <= 256 THEN 256 ELSE 512 END AS len_class
        |  FROM tc WHERE n_tokens > 0 AND n_tokens <= 512),
        | r AS (
        |  SELECT doc_id, n_tokens, len_class,
        |    row_number() OVER (PARTITION BY len_class ORDER BY doc_id) - 1 AS rk
        |  FROM k)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(len_class AS BIGINT) AS len_class,
        |  CAST(rk // (512 // len_class) AS BIGINT) AS bin,
        |  CAST(rk % (512 // len_class) AS BIGINT) AS slot
        |FROM r""".stripMargin),

    // ---- text: BPE merge training — 8 frequency-ranked merges over
    //      the corpus word table (greedy left-to-right merge semantics,
    //      engine-portable via the wrapped-marker encoding) ----
    "bpe_merges" -> Gate((s, dir) =>
      TextAnalysis.trainBpeMerges(t(s, dir, "documents"), "text",
        numMerges = 8, minPairCount = 1),
      oracle = bpeOracleSql(8)),

    // ---- T-streaming/chunking: the curation chunker running as a REAL
    //      streaming query (stateless narrow plan → no rewrite), output
    //      oracle-checked against the batch SQL — streaming parity is a
    //      HASH gate, not just a spec. The doc_id % 7 slice keeps the
    //      gate cheap at bench scale (chunks explode rows ~30x); the
    //      parquet sink itself has no size cap ----
    "t3_streaming_chunks" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t3", table = "documents") { docs =>
        TextAnalysis.chunkDocuments(docs.filter(col("doc_id") % 7 === 0),
          "text", "doc_id", chunkTokens = 32, stride = 16)
      },
      oracle = """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |  WHERE length(trim(text)) > 0 AND doc_id % 7 = 0),
        | starts AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, CAST(floor((len(t)-1)/16) AS BIGINT) + 1)) AS i
        |  FROM toks)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(t[i*16+1 : i*16+32], ' ') AS chunk_text,
        |  CAST(least(32, len(t) - i*16) AS BIGINT) AS n_chunk_tokens
        |FROM starts""".stripMargin),

    // ---- T-streaming/sessionize: the flatMapGroupsWithState session
    //      operator running as a REAL streaming query, hash-matched vs
    //      the batch SQL oracle. Emitted = every session closed by a
    //      later event plus those whose gap timeout passed the final
    //      watermark (= max event time at delay 0) — the oracle is the
    //      batch sessionization filtered to exactly that set ----
    "t4_streaming_sessions" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t4") { events =>
        val ev = events
          .select(col("user_id").as("userId"),
            date_trunc("second", col("ts")).as("ts"))
          .withWatermark("ts", "0 seconds")
          .as[graft.operators.Sessionize.Event](
            org.apache.spark.sql.Encoders.product[graft.operators.Sessionize.Event])
        graft.operators.Sessionize.streamingSessions(ev, gapSeconds = 600)
          .toDF()
          .select(col("userId").as("user_id"),
            col("sessionStart").as("session_start"),
            col("sessionEnd").as("session_end"),
            col("nEvents").as("n_events"))
      },
      // the batch sessionization (w6) filtered to sessions the streaming
      // run EMITS: closed by a later event (not the key's last session)
      // or gap-timeout fired before the final watermark (strictly —
      // Spark fires when the watermark advances BEYOND the timeout)
      oracle = """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('second', ts) AS ts FROM events),
        |lagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR epoch(ts) - epoch(lag(ts) OVER w) > 600 THEN 1 ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM lagged),
        |summ AS (
        |  SELECT user_id, session_id, min(ts) AS session_start,
        |    max(ts) AS session_end, count(*) AS n_events,
        |    max(session_id) OVER (PARTITION BY user_id) AS last_session
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, session_start, session_end, n_events
        |FROM summ
        |WHERE session_id < last_session
        |   OR epoch(session_end) + 600
        |      < (SELECT epoch(max(date_trunc('second', ts))) FROM events)""".stripMargin),

    // ---- T-streaming/join: STREAM-STREAM interval join (click →
    //      purchase attribution within 1h), both sides watermarked so
    //      join state expires; inner-join semantics make the
    //      complete-data result equal the batch join → hash gate ----
    "t5_streaming_interval_join" -> Gate((s, dir) =>
      runStreamingGate(s, dir, "t5") { events =>
        val ev = events.withColumn("ts", date_trunc("second", col("ts")))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
        graft.streaming.EventStream.intervalJoin(
            purchases, clicks.withColumnRenamed("click_ts", "ts"),
            "user_id", "ts", windowSeconds = 3600)
          // date_trunc is a semantic no-op (values are already
          // second-truncated) that CLEARS the event-time metadata on
          // the joined output
          .select(col("_l.user_id").as("user_id"),
            col("_l.event_id").as("event_id"),
            date_trunc("second", col("_lts")).as("ts"),
            col("_r.click_id").as("click_id"),
            date_trunc("second", col("_rts")).as("click_ts"))
      },
      // stream-stream inner join == batch join once all data has arrived
      oracle = """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    date_trunc('second', ts) AS ts FROM events),
        |p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |      FROM e WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts, c.click_id, c.click_ts
        |FROM p JOIN c ON p.user_id = c.user_id
        | AND c.click_ts <= p.ts
        | AND c.click_ts >= p.ts - INTERVAL 3600 SECONDS""".stripMargin),

    // ---- text: BPE encode — subword counts under the 8 trained
    //      merges (pure codegen'd string pipeline, zero shuffle) ----
    "bpe_encode" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = trainedMerges(s, dir)
      docs.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          TextAnalysis.bpeSubwordCount(col("text"), merges).as("n_subwords"))
    }, oracle = bpeEncodeOracleSql(8)),

    // ---- text: BPE token-id emission — the actual tokenize output
    //      under the 8 trained merges (pure string pipeline) ----
    "bpe_token_ids" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = trainedMerges(s, dir)
      docs.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          TextAnalysis.bpeTokenIds(col("text"), merges).as("token_ids"))
    }, oracle = bpeTokenIdsOracleSql(8), frozen = true),

    // ---- text: the trained BPE vocabulary as a table (id -> symbol),
    //      the vocab.json analog a tokenizer ships with ----
    "bpe_vocab" -> Gate((s, dir) => {
      import s.implicits._
      TextAnalysis.bpeVocab(trainedMerges(s, dir))
        .map { case (sym, id) => (id.toLong, sym) }
        .toDF("token_id", "symbol")
    }, oracle = bpeVocabOracleSql(8)),

    // ---- text: BPE round trip — decode(encode(text)) must equal the
    //      normalized text minus spaces; the oracle computes that RHS
    //      with an INDEPENDENT formula (no BPE anywhere), so a bug in
    //      either direction of the id pipeline breaks the hash ----
    "bpe_roundtrip" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = trainedMerges(s, dir)
      docs.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          TextAnalysis.bpeDecodeIds(
            TextAnalysis.bpeTokenIds(col("text"), merges), merges)
            .as("decoded"))
    }, oracle =
      // round-trip RHS: normalized text minus spaces — deliberately
      // computed WITHOUT any BPE machinery (independent check)
      """SELECT doc_id,
        |  replace(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
        |    ' ', '') AS decoded
        |FROM documents WHERE length(trim(text)) > 0""".stripMargin),

    // ---- dedup: winnowing (MOSS) partial-overlap matches — shared
    //      passages inside otherwise-different documents; min-hash per
    //      sliding shingle window, ubiquitous fingerprints dropped
    //      (deterministic doc-frequency cap, fp-bucket join bounded) ----
    "dedup_winnow" -> Gate((s, dir) =>
      Dedup.winnowMatches(t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, window = 4, minShared = 2, maxDocsPerFp = 50),
      oracle = """WITH nt AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ') AS t
        |  FROM documents
        |  WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''),
        |shp AS (
        |  SELECT doc_id, g.i - 1 AS pos,
        |    substr(md5(array_to_string(t[g.i:g.i+2], ' ')), 1, 16) AS fp
        |  FROM nt, LATERAL unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)),
        |wmin AS (
        |  SELECT doc_id, pos,
        |    min(fp) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wfp,
        |    max(pos) OVER (PARTITION BY doc_id) AS maxpos
        |  FROM shp),
        |sel AS (SELECT DISTINCT doc_id, wfp AS fp FROM wmin
        |        WHERE pos <= greatest(maxpos - 3, 0)),
        |kept AS (SELECT fp, doc_id FROM sel
        |         WHERE fp IN (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50))
        |SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // ---- text: bigram LM scoring — the perplexity-style quality
    //      filter, self-trained on the corpus (add-k smoothing);
    //      model joins by gram key, everything keyed, no cross
    //      product ----
    "text_lm_score" -> Gate((s, dir) =>
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), "text", "doc_id",
        k = 0.5),
      oracle = """WITH lists AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ') AS lst
        |  FROM documents
        |  WHERE length(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g'))) > 0),
        |docpairs AS (
        |  SELECT doc_id, lst[g.i] AS w1, lst[g.i + 1] AS w2
        |  FROM lists, LATERAL unnest(range(1, len(lst))) AS g(i)
        |  WHERE lst[g.i] <> '' AND lst[g.i + 1] <> ''),
        |uni AS (
        |  SELECT u.w1, count(*) AS c1
        |  FROM (SELECT unnest(lst) AS w1 FROM lists) u
        |  WHERE u.w1 <> '' GROUP BY 1),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM docpairs GROUP BY 1, 2),
        |v AS (SELECT count(*) AS vocab FROM uni),
        |scored AS (
        |  SELECT d.doc_id,
        |    round(avg(ln((c12 + 0.5) / (c1 + 0.5 * vocab))), 6) AS lm_score,
        |    count(*) AS n_bigrams
        |  FROM docpairs d JOIN big USING (w1, w2) JOIN uni USING (w1)
        |  CROSS JOIN v
        |  GROUP BY 1)
        |SELECT doc_id, lm_score, coalesce(n_bigrams, 0) AS n_bigrams
        |FROM documents LEFT JOIN scored USING (doc_id)""".stripMargin),

    // ---- dedup: FUZZY decontamination — LSH candidates between the
    //      eval slice (doc_id % 7 == 0) and the corpus, then exact
    //      normalized-Levenshtein verify; catches rephrased benchmark
    //      copies the n-gram guard misses. Cap pinned 0 (oracle mode) ----
    "decontam_fuzzy" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.fuzzyContamination(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "text", "doc_id", maxDist = 20, maxBucket = 0)
    }, oracle =
      // fuzzy decontam: the full banded candidate join restricted to the
      // eval/corpus split, then the same classic Levenshtein DP both
      // engines implement
      decontamFuzzyOracleSql, frozen = true),

    // ---- decontamination: DISTINCT-document twin (see
    //      dedup_jaccard_prefix_distinct) — the primary tracked number
    //      at sf1, where the clone fixture makes decontam_fuzzy
    //      output-driven (~9 true near-clones per doc) ----
    "decontam_fuzzy_distinct" -> Gate((s, dir) => {
      val docs = saltedDocs(t(s, dir, "documents"))
      Dedup.fuzzyContamination(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "text", "doc_id", maxDist = 20, maxBucket = 0)
    }, oracle = saltedVariant(decontamFuzzyOracleSql)),

    // ---- retrieval: reciprocal rank fusion — combine a hash-order
    //      ranking and a length ranking without score calibration ----
    "rrf_fusion" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      import org.apache.spark.sql.expressions.Window
      def ranked(key: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
        // rank lists are top-k-sized by construction — the 50-row
        // window after TakeOrdered is bounded, not corpus-sized
        docs.orderBy(key: _*).limit(50)
          .select(col("doc_id"), row_number().over(Window.orderBy(key: _*))
            .cast("long").as("rank"))
      val byHash = ranked(md5(col("doc_id").cast("string")), col("doc_id"))
      val byLen = ranked(TextAnalysis.tokenCount(col("text")).desc,
        col("doc_id"))
      TextAnalysis.rrfFuse(Seq(byHash, byLen), "doc_id", k = 60, topK = 10)
    }, oracle =
      // RRF: both rank lists rebuilt with QUALIFY'd windows, fused with
      // the published 1/(k + rank) rule
      s"""WITH n AS (
        |  SELECT doc_id,
        |    $tokenCountSql AS nt
        |  FROM documents),
        |ra AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY
        |    md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        |  FROM documents QUALIFY r <= 50),
        |rb AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY nt DESC, doc_id) AS r
        |  FROM n QUALIFY r <= 50)
        |SELECT doc_id,
        |  round(coalesce(1.0 / (60 + ra.r), 0) +
        |        coalesce(1.0 / (60 + rb.r), 0), 6) AS rrf
        |FROM ra FULL OUTER JOIN rb USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),

    // ---- dedup: leakage-safe k-fold CV assignment — near-dup copies
    //      share a fold (md5 of the cluster representative mod k) ----
    "cv_folds" -> Gate((s, dir) => {
      val cust = t(s, dir, "customer")
      val pairs = custPairs(cust)
      Dedup.cvFoldsByCluster(cust.select(col("c_custkey")), "c_custkey",
        pairs, k = 5)
    }, oracle =
      // k-fold CV: same recursive components as dedup_clusters, fold =
      // md5 bucket of the representative mod k
      s"""WITH $custWalkCtes,
        |lab AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id)
        |SELECT c.c_custkey,
        |  ('0x' || substr(md5(CAST(coalesce(l.cluster, c.c_custkey)
        |    AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold
        |FROM customer c LEFT JOIN lab l ON c.c_custkey = l.id""".stripMargin),

    // ---- text: length-bucketed batching — power-of-two token-count
    //      buckets, salted-md5 batch formation within each bucket ----
    "length_buckets" -> Gate((s, dir) =>
      TextAnalysis.lengthBuckets(t(s, dir, "documents"), "text", "doc_id",
          batchSize = 8)
        .select(col("doc_id"), col("n_tokens"), col("bucket"), col("batch")),
      // length buckets: bucket = len(bin(n)) - 1 (exact floor(log2)),
      // batches by the md5 rank window within each bucket
      oracle = s"""WITH n AS (
        |  SELECT doc_id,
        |    $tokenCountSql AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CASE WHEN n_tokens <= 1 THEN 0
        |      ELSE length(bin(n_tokens)) - 1 END AS bucket
        |  FROM n)
        |SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
        |  CAST((row_number() OVER (PARTITION BY bucket
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) // 8
        |    AS BIGINT) AS batch
        |FROM b""".stripMargin),

    // ---- text: training-order interleave — stride-scheduling virtual
    //      time (rank−½)/weight per source; sorting by vtime yields the
    //      evenly-mixed training stream ----
    "train_interleave" -> Gate((s, dir) =>
      TextAnalysis.interleaveOrder(t(s, dir, "documents")
          .select(col("doc_id"), col("source")),
        "doc_id", "source", Map("src0" -> 3.0, "src1" -> 1.0))
        .select(col("doc_id"), col("source"), col("rank"),
          round(col("vtime"), 6).as("vtime")),
      oracle = """SELECT doc_id, source, rank, round((rank - 0.5) / w, 6) AS vtime
        |FROM (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank,
        |  CASE WHEN source = 'src0' THEN 3.0 ELSE 1.0 END AS w
        |FROM documents)""".stripMargin),

    // ---- text: T5-style span corruption — deterministic block-wise
    //      masking (md5-placed span per full 20-token block, span 3)
    //      producing the (input, target) denoising pair ----
    "span_corrupt" -> Gate((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SpanCorruptOps.span_corrupt(col("text"),
            col("doc_id").cast("string"), blockLen = 20, spanLen = 3)
            .as("p"))
        .select(statCols("p.input", "p.target", "p.n_spans"): _*),
      // span corruption: the oracle re-places each block's span from the
      // same md5 rule and reassembles input/target with ordered
      // string_agg (NULLs skipped = masked tokens dropped)
      oracle = """WITH lists AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, CAST(g.i AS BIGINT) AS i, t[CAST(g.i AS INT)] AS tok
        |  FROM lists, LATERAL unnest(range(1, len(t) + 1)) AS g(i)),
        |spans AS (
        |  SELECT l.doc_id, CAST(b.b AS BIGINT) AS k,
        |    b.b * 20 + (('0x' || substr(md5(CAST(l.doc_id AS VARCHAR) ||
        |      '_' || CAST(b.b AS VARCHAR)), 1, 8))::BIGINT % 18) + 1 AS s
        |  FROM lists l, LATERAL unnest(range(0, len(l.t) // 20)) AS b(b)),
        |marked AS (
        |  SELECT tk.doc_id, tk.i, tk.tok, sp.k, sp.s
        |  FROM toks tk LEFT JOIN spans sp
        |    ON sp.doc_id = tk.doc_id AND tk.i >= sp.s AND tk.i < sp.s + 3),
        |inp AS (
        |  SELECT doc_id, string_agg(CASE WHEN k IS NULL THEN tok
        |      WHEN i = s THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
        |      END, ' ' ORDER BY i) AS input
        |  FROM marked GROUP BY doc_id),
        |tgtspans AS (
        |  SELECT m.doc_id, m.k, '<extra_id_' || CAST(m.k AS VARCHAR) ||
        |      '> ' || string_agg(m.tok, ' ' ORDER BY m.i) AS seg
        |  FROM marked m WHERE m.k IS NOT NULL GROUP BY m.doc_id, m.k),
        |tgt AS (
        |  SELECT doc_id, string_agg(seg, ' ' ORDER BY k) || ' <extra_id_'
        |      || CAST(max(k) + 1 AS VARCHAR) || '>' AS target
        |  FROM tgtspans GROUP BY doc_id)
        |SELECT l.doc_id, coalesce(i.input, '') AS input,
        |  coalesce(t2.target, '') AS target,
        |  CAST(len(l.t) // 20 AS BIGINT) AS n_spans
        |FROM lists l LEFT JOIN inp i USING (doc_id)
        |LEFT JOIN tgt t2 USING (doc_id)""".stripMargin, frozen = true),

    // ---- text: multi-phrase matching (token-level Aho–Corasick) —
    //      phrase blocklist audit: which listed phrases appear as
    //      ADJACENT normalized tokens in each document ----
    "blocklist_phrases" -> Gate((s, dir) =>
      // `matches` is stringified (chr(1)-joined) so the driver's pandas
      // row-sort can hash it — array<string> cells are unhashable there.
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.PhraseAc.phrase_matches(col("text"), Seq(
            "customer data", "table scan", "sort merge",
            "batch batch batch", "Key-Order!")).as("matches"))
        .withColumn("n_matches", size(col("matches")).cast("long"))
        .withColumn("matches", concat_ws("\u0001", col("matches"))),
      // phrase matching: adjacency on the normalized token stream ≡
      // substring on the space-padded normalized text — the oracle
      // filters the (normalized) phrase list per document
      oracle = """WITH m AS (
        |  SELECT doc_id, list_sort(list_filter(
        |    ['customer data', 'table scan', 'sort merge',
        |     'batch batch batch', 'key order'],
        |    p -> contains(pad, ' ' || p || ' '))) AS matches
        |  FROM (SELECT doc_id, ' ' || trim(regexp_replace(lower(text),
        |          '[^a-z0-9]+', ' ', 'g')) || ' ' AS pad
        |        FROM documents))
        |SELECT doc_id,
        |  coalesce(array_to_string(matches, chr(1)), '') AS matches,
        |  CAST(len(matches) AS BIGINT) AS n_matches
        |FROM m""".stripMargin),

    // ---- text: content-defined chunking (gear CDC, FastCDC family) —
    //      boundaries where the rolling hash's low 5 bits are zero
    //      (≈32-byte chunks); chunk md5 is the snapshot-dedup key ----
    "cdc_chunks" -> Gate((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          graft.functions.CdcOps.cdc_chunks(col("text"), 5)).as(Seq("idx", "c")))
        .select(col("doc_id"), col("idx").cast("long").as("idx"),
          col("c.start").as("start"), col("c.len").as("len"),
          col("c.hash").as("hash")),
      oracle = s"""WITH $cdcCtes
         |SELECT doc_id, CAST(idx AS BIGINT) AS idx, start, len, hash
         |FROM cchunks""".stripMargin),

    // ---- text: per-source chunk-level dedup estimate — the storage
    //      question CDC answers: how many chunk bytes are duplicates ----
    "cdc_dedup_ratio" -> Gate((s, dir) => {
      val ch = t(s, dir, "documents")
        .select(col("source"), explode(
          graft.functions.CdcOps.cdc_chunks(col("text"), 5)).as("c"))
        .select(col("source"), col("c.len").as("len"), col("c.hash").as("hash"))
      val per = ch.groupBy("source").agg(count(lit(1)).as("n_chunks"),
        sum(col("len")).as("total_bytes"))
      val uniq = ch.distinct()
        .groupBy("source").agg(count(lit(1)).as("n_unique"),
          sum(col("len")).as("unique_bytes"))
      per.join(uniq, Seq("source"))
    }, oracle =
      s"""WITH $cdcCtes,
         |wsrc AS MATERIALIZED (SELECT d.source, c.len, c.hash
         |         FROM cchunks c JOIN cdocs d USING (doc_id)),
         |per AS (SELECT source, count(*) AS n_chunks,
         |          sum(len) AS total_bytes FROM wsrc GROUP BY 1),
         |unq AS (SELECT source, count(*) AS n_unique,
         |          sum(len) AS unique_bytes
         |        FROM (SELECT DISTINCT source, len, hash FROM wsrc)
         |        GROUP BY 1)
         |SELECT per.source, per.n_chunks, CAST(per.total_bytes AS BIGINT)
         |    AS total_bytes,
         |  unq.n_unique, CAST(unq.unique_bytes AS BIGINT) AS unique_bytes
         |FROM per JOIN unq USING (source)""".stripMargin),

    // ---- text: trigram STUPID BACKOFF LM scoring (Brants et al. 2007)
    //      — odd docs scored against the even-doc reference corpus ----
    "text_stupid_backoff" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.stupidBackoffScore(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
    }, oracle =
      // stupid backoff: the oracle rebuilds the three count tables from
      // the even half and replays the backoff chain per odd-doc trigram;
      // OOV (w3 unseen) trigrams are excluded from the mean, counted
      """WITH clists AS (
        |  SELECT string_split(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ') AS lst
        |  FROM documents WHERE doc_id % 2 = 0
        |    AND length(trim(regexp_replace(lower(text),
        |      '[^a-z0-9]+', ' ', 'g'))) > 0),
        |cuni AS (
        |  SELECT u.w, count(*) AS cu
        |  FROM (SELECT unnest(lst) AS w FROM clists) u
        |  WHERE u.w <> '' GROUP BY 1),
        |ctot AS (SELECT CAST(sum(cu) AS DOUBLE) AS n FROM cuni),
        |cbi AS (
        |  SELECT lst[g.i] AS w1, lst[g.i + 1] AS w2, count(*) AS cb
        |  FROM clists, LATERAL unnest(range(1, len(lst))) AS g(i)
        |  WHERE lst[g.i] <> '' AND lst[g.i + 1] <> '' GROUP BY 1, 2),
        |ctri AS (
        |  SELECT lst[g.i] AS w1, lst[g.i + 1] AS w2, lst[g.i + 2] AS w3,
        |    count(*) AS ct
        |  FROM clists, LATERAL unnest(range(1, len(lst) - 1)) AS g(i)
        |  WHERE len(lst) >= 3 AND lst[g.i] <> '' AND lst[g.i + 1] <> ''
        |    AND lst[g.i + 2] <> ''
        |  GROUP BY 1, 2, 3),
        |tlists AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ') AS lst
        |  FROM documents WHERE doc_id % 2 = 1),
        |ttris AS (
        |  SELECT doc_id, lst[g.i] AS w1, lst[g.i + 1] AS w2,
        |    lst[g.i + 2] AS w3
        |  FROM tlists, LATERAL unnest(range(1, len(lst) - 1)) AS g(i)
        |  WHERE len(lst) >= 3 AND lst[g.i] <> '' AND lst[g.i + 1] <> ''
        |    AND lst[g.i + 2] <> ''),
        |rows_scored AS (
        |  SELECT t.doc_id,
        |    CASE WHEN u3.cu IS NOT NULL THEN ln(
        |      CASE WHEN tr.ct IS NOT NULL THEN CAST(tr.ct AS DOUBLE) / b12.cb
        |      ELSE 0.4 * (CASE WHEN b23.cb IS NOT NULL
        |        THEN CAST(b23.cb AS DOUBLE) / u2.cu
        |        ELSE 0.4 * CAST(u3.cu AS DOUBLE) / (SELECT n FROM ctot) END)
        |      END) END AS lp,
        |    CASE WHEN u3.cu IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM ttris t
        |  LEFT JOIN ctri tr ON tr.w1 = t.w1 AND tr.w2 = t.w2 AND tr.w3 = t.w3
        |  LEFT JOIN cbi b12 ON b12.w1 = t.w1 AND b12.w2 = t.w2
        |  LEFT JOIN cbi b23 ON b23.w1 = t.w2 AND b23.w2 = t.w3
        |  LEFT JOIN cuni u2 ON u2.w = t.w2
        |  LEFT JOIN cuni u3 ON u3.w = t.w3),
        |agg AS (
        |  SELECT doc_id, round(avg(lp), 6) AS sb_score,
        |    count(lp) AS n_scored, CAST(sum(oov) AS BIGINT) AS n_oov
        |  FROM rows_scored GROUP BY 1)
        |SELECT d.doc_id, agg.sb_score,
        |  coalesce(agg.n_scored, 0) AS n_scored,
        |  coalesce(agg.n_oov, 0) AS n_oov
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |WHERE d.doc_id % 2 = 1""".stripMargin),

    // ---- text: vocabulary induction — global top-100 token
    //      frequencies, count-desc with lexicographic ties ----
    "vocab_topk" -> Gate((s, dir) =>
      TextAnalysis.topVocabulary(t(s, dir, "documents"), "text", k = 100),
      oracle = """WITH toks AS (
        |  SELECT string_split(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        | u AS (SELECT unnest(t) AS tok FROM toks)
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM u WHERE tok <> ''
        |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 100""".stripMargin),

    // ---- text: keyness — top-10 distinctive terms per source by
    //      Dunning G² against the rest of the corpus (exact integer
    //      counts in, 6-dp-rounded ranking out) ----
    "keyness_terms" -> Gate((s, dir) =>
      TextAnalysis.keynessTerms(t(s, dir, "documents"), "source", "text",
        k = 10),
      // Dunning G² from the same exact integer counts; avoid bare a/b/A/B
      // identifiers (DuckDB names are case-insensitive)
      oracle = """WITH toks AS (
        |  SELECT source AS g, unnest(string_split(trim(regexp_replace(
        |    lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        | bg AS (SELECT g, tok, count(*) AS cnt_in FROM toks
        |   WHERE tok <> '' GROUP BY 1, 2),
        | bt AS (SELECT tok, sum(cnt_in) AS tok_tot FROM bg GROUP BY 1),
        | gt AS (SELECT g, sum(cnt_in) AS grp_tot FROM bg GROUP BY 1),
        | tt AS (SELECT sum(cnt_in) AS grand FROM bg),
        | j AS (
        |  SELECT bg.g, bg.tok, bg.cnt_in,
        |    bt.tok_tot - bg.cnt_in AS cnt_out,
        |    gt.grp_tot, (SELECT grand FROM tt) - gt.grp_tot AS rest_tot,
        |    bt.tok_tot
        |  FROM bg JOIN bt ON bg.tok = bt.tok JOIN gt ON bg.g = gt.g),
        | sc AS (
        |  SELECT g, tok, cnt_in,
        |    round(2.0 * (
        |      CASE WHEN cnt_in > 0 THEN cnt_in * ln(cnt_in /
        |        (grp_tot::DOUBLE * tok_tot / (SELECT grand FROM tt)))
        |        ELSE 0.0 END +
        |      CASE WHEN cnt_out > 0 THEN cnt_out * ln(cnt_out /
        |        (rest_tot::DOUBLE * tok_tot / (SELECT grand FROM tt)))
        |        ELSE 0.0 END), 6) AS g2
        |  FROM j
        |  WHERE cnt_in::DOUBLE * rest_tot > cnt_out::DOUBLE * grp_tot),
        | rk AS (
        |  SELECT g, tok, cnt_in, g2, row_number() OVER (
        |    PARTITION BY g ORDER BY g2 DESC, tok) AS rn
        |  FROM sc)
        |SELECT g AS source, tok, cnt_in AS cnt, g2,
        |  CAST(rn AS BIGINT) AS rank
        |FROM rk WHERE rn <= 10""".stripMargin, lazyPin = true),

    // ---- text: lexical richness per source — tokens, types, TTR,
    //      hapax share ----
    "lexical_richness" -> Gate((s, dir) =>
      TextAnalysis.lexicalRichness(t(s, dir, "documents"), "source",
        "text"),
      oracle = """WITH counts AS (
        |  SELECT g, tok, count(*) AS c FROM (
        |    SELECT source AS g, unnest(string_split(trim(regexp_replace(
        |      lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2)
        |SELECT g AS source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  round(count(*)::DOUBLE / CAST(sum(c) AS BIGINT), 6)
        |    AS type_token_ratio,
        |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*), 6) AS hapax_share
        |FROM counts GROUP BY 1""".stripMargin),

    // ---- similarity: embedding quality report per label ----
    "embedding_quality" -> Gate((s, dir) =>
      Similarity.embeddingQuality(t(s, dir, "embeddings"), "embedding",
        "label"),
      oracle = """SELECT label, count(*) AS n_vectors,
        |  CAST(min(len(embedding)) AS BIGINT) AS dim_min,
        |  CAST(max(len(embedding)) AS BIGINT) AS dim_max,
        |  CAST(sum(CASE WHEN sqrt(list_sum(list_transform(
        |    CAST(embedding AS DOUBLE[]), x -> x*x))) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(sum(CASE WHEN len(list_filter(embedding,
        |    x -> isnan(x))) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        |  round(avg(sqrt(list_sum(list_transform(
        |    CAST(embedding AS DOUBLE[]), x -> x*x)))), 6) AS mean_norm
        |FROM embeddings GROUP BY 1""".stripMargin),

    // ---- event analytics: funnel depth distribution per A/B variant ----
    "funnel_by_variant" -> Gate((s, dir) =>
      EventAnalytics.funnelUsers(t(s, dir, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowSeconds = 7 * 86400L)
        .withColumn("variant", pmod(col("user_id"), lit(2)))
        .groupBy(col("variant"), col("steps_completed"))
        .agg(count(lit(1)).as("users")),
      oracle = s"""WITH ${funnelCtes()},
        | depth AS (
        |  SELECT user_id, CAST(max(step) AS BIGINT) AS steps_completed
        |  FROM (
        |    SELECT user_id, 1 AS step FROM s1
        |    UNION ALL SELECT user_id, 2 FROM s2
        |    UNION ALL SELECT user_id, 3 FROM s3) GROUP BY 1)
        |SELECT user_id % 2 AS variant, steps_completed,
        |  count(*) AS users
        |FROM depth GROUP BY 1, 2""".stripMargin),

    // ---- text: within-source rank normalization of a score column
    //      (mid-rank quantile — the cross-source calibration step) ----
    "rank_normalize" -> Gate((s, dir) =>
      TextAnalysis.rankNormalize(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          col("n_chars")),
        "source", "doc_id", "n_chars"),
      oracle = """WITH n AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
        | r AS (
        |  SELECT source, doc_id, n_chars, row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars, doc_id) AS rk
        |  FROM documents)
        |SELECT r.source, r.doc_id, r.n_chars,
        |  round((rk::DOUBLE - 0.5) / n.cnt, 6) AS q_norm
        |FROM r JOIN n ON r.source = n.source""".stripMargin),

    // ---- text: distinct-2 n-gram diversity per source (exact) ----
    "distinct_ngrams" -> Gate((s, dir) =>
      TextAnalysis.distinctNgrams(t(s, dir, "documents"), "source",
        "text", n = 2, exact = true),
      oracle = """WITH toks AS (
        |  SELECT source AS g, string_split(trim(regexp_replace(
        |    lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        | grams AS (
        |  SELECT g, unnest(list_transform(
        |    range(0, greatest(len(t) - 1, 0)),
        |    i -> array_to_string(t[i+1:i+2], ' '))) AS gram
        |  FROM toks)
        |SELECT g AS source, count(*) AS total_ngrams,
        |  count(DISTINCT gram) AS distinct_ngrams,
        |  round(count(DISTINCT gram)::DOUBLE / count(*), 6)
        |    AS distinct_ratio
        |FROM grams WHERE gram <> '' GROUP BY 1""".stripMargin),

    // ---- text: the same diversity signal through the DEFAULT KMV
    //      sketch path — per-group state is 256 longs instead of a
    //      gram-cardinality shuffle; deterministic, so the ESTIMATE
    //      is hash-matched by the oracle ----
    "distinct_ngrams_kmv" -> Gate((s, dir) =>
      TextAnalysis.distinctNgrams(t(s, dir, "documents"), "source",
        "text", n = 2),
      // same gram stream through the KMV bottom-k replay (the kmv_distinct
      // rank trick): distinct 52-bit hashes per group, rank by hash, est =
      // (k-1)*2^52/h_k past k — deterministic, so est hash-matches
      oracle = """WITH toks AS (
        |  SELECT source AS g, string_split(trim(regexp_replace(
        |    lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        | grams AS (
        |  SELECT g, unnest(list_transform(
        |    range(0, greatest(len(t) - 1, 0)),
        |    i -> array_to_string(t[i+1:i+2], ' '))) AS gram
        |  FROM toks),
        | tot AS (SELECT g, count(*) AS total FROM grams
        |   WHERE gram <> '' GROUP BY 1),
        | h AS (SELECT DISTINCT g,
        |    CAST(concat('0x', substr(md5(gram), 1, 13)) AS UBIGINT) AS h
        |  FROM grams WHERE gram <> ''),
        | r AS (SELECT g, h,
        |    row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM h),
        | a AS (SELECT g, max(CASE WHEN rn <= 256 THEN h END) AS hk,
        |    sum(CASE WHEN rn <= 256 THEN 1 ELSE 0 END) AS kept
        |  FROM r GROUP BY g)
        |SELECT a.g AS source, tot.total AS total_ngrams,
        |  CASE WHEN kept < 256 THEN CAST(kept AS DOUBLE)
        |       ELSE (255e0 * 4503599627370496e0) / hk END AS distinct_est,
        |  round((CASE WHEN kept < 256 THEN CAST(kept AS DOUBLE)
        |       ELSE (255e0 * 4503599627370496e0) / hk END) / tot.total, 6)
        |    AS distinct_ratio
        |FROM a JOIN tot ON a.g = tot.g""".stripMargin),

    // ---- text: PMI collocations — top-50 co-occurring token pairs
    //      (document-level df, [5,500] df band, 32-token doc cap) ----
    "pmi_pairs" -> Gate((s, dir) =>
      TextAnalysis.pmiPairs(t(s, dir, "documents"), "text", "doc_id",
        minDf = 5L, maxDf = 500L, maxTokensPerDoc = 32, minPair = 2L,
        k = 50),
      oracle = """WITH nn AS (SELECT count(*) AS n FROM documents),
        | dt AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(trim(regexp_replace(
        |      lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        | dfr AS (
        |  SELECT tok, count(*) AS dfc FROM dt GROUP BY 1
        |  HAVING count(*) BETWEEN 5 AND 500),
        | kept AS (
        |  SELECT dt.doc_id, dt.tok, dfr.dfc FROM dt
        |  JOIN dfr ON dt.tok = dfr.tok),
        | capped AS (
        |  SELECT doc_id, tok, dfc FROM (
        |    SELECT doc_id, tok, dfc, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY tok) AS rn
        |    FROM kept) WHERE rn <= 32),
        | pr AS (
        |  SELECT l.tok AS t1, r.tok AS t2, l.dfc AS df1, r.dfc AS df2,
        |    count(*) AS n_pair
        |  FROM capped l JOIN capped r
        |    ON l.doc_id = r.doc_id AND l.tok < r.tok
        |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
        |SELECT t1, t2, n_pair,
        |  round(ln((SELECT n FROM nn) * n_pair / (df1 * df2)), 6) AS pmi
        |FROM pr ORDER BY pmi DESC, t1, t2 LIMIT 50""".stripMargin, lazyPin = true),

    // ---- text: Zipf least-squares slope over each source's top-50
    //      terms — the templated-text drift diagnostic ----
    "zipf_slope" -> Gate((s, dir) =>
      TextAnalysis.zipfSlope(t(s, dir, "documents"), "source", "text",
        topN = 50),
      oracle = """WITH cnts AS (
        |  SELECT g, tok, count(*) AS c FROM (
        |    SELECT source AS g, unnest(string_split(trim(regexp_replace(
        |      lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2),
        | rk AS (
        |  SELECT g, c, row_number() OVER (
        |    PARTITION BY g ORDER BY c DESC, tok) AS r
        |  FROM cnts),
        | top AS (
        |  SELECT g, ln(r::DOUBLE) AS x, ln(c::DOUBLE) AS y
        |  FROM rk WHERE r <= 50),
        | agg AS (
        |  SELECT g, count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*y) AS sxy, sum(x*x) AS sxx
        |  FROM top GROUP BY 1)
        |SELECT g AS source, CAST(n AS BIGINT) AS n_terms,
        |  round((n*sxy - sx*sy)/(n*sxx - sx*sx), 6) AS slope,
        |  round((sy - ((n*sxy - sx*sy)/(n*sxx - sx*sx))*sx)/n, 6)
        |    AS intercept
        |FROM agg WHERE n >= 2""".stripMargin),

    // ---- text: DSIR importance selection — rank the non-src0 corpus
    //      by hashed-bigram likelihood ratio against the src0 target
    //      sample (add-one smoothing, 6-dp log-ratios, dim-sized
    //      broadcast; the corpus never shuffles by bucket) ----
    "dsir_select" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.dsirSelect(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", dim = 256, n = 50)
        .select(col("doc_id"), col("dsir_score"))
    }, oracle =
      // hashed-bigram importance ratios: target (src0) vs raw (the rest),
      // add-one smoothing over 256 buckets, 6-dp pins at the ratio and
      // doc-score levels, ties at the cut break by doc_id
      """WITH lists AS (
        |  SELECT doc_id, source, string_split(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ') AS lst
        |  FROM documents
        |  WHERE length(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g'))) > 0),
        |pairs AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(lst[g.i] || ' ' || lst[g.i + 1]), 1, 13))::UBIGINT
        |      % 256 AS bucket
        |  FROM lists, LATERAL unnest(range(1, len(lst))) AS g(i)
        |  WHERE lst[g.i] <> '' AND lst[g.i + 1] <> ''),
        |cfeat AS (SELECT doc_id, bucket, count(*) AS tf
        |  FROM pairs WHERE source <> 'src0' GROUP BY 1, 2),
        |tcnt AS (SELECT bucket, count(*) AS ct
        |  FROM pairs WHERE source = 'src0' GROUP BY 1),
        |ccnt AS (SELECT bucket, sum(tf) AS cc FROM cfeat GROUP BY 1),
        |tt AS (SELECT count(*) AS s FROM pairs WHERE source = 'src0'),
        |tc AS (SELECT sum(tf) AS s FROM cfeat),
        |ratio AS (
        |  SELECT g.r AS bucket,
        |    round(ln((coalesce(ct, 0) + 1.0) / ((SELECT s FROM tt) + 256.0))
        |        - ln((coalesce(cc, 0) + 1.0) / ((SELECT s FROM tc) + 256.0)),
        |      6) AS r
        |  FROM range(256) g(r)
        |  LEFT JOIN tcnt ON tcnt.bucket = g.r
        |  LEFT JOIN ccnt ON ccnt.bucket = g.r),
        |scored AS (
        |  SELECT doc_id, round(sum(tf * r), 6) AS dsir_score
        |  FROM cfeat JOIN ratio USING (bucket) GROUP BY 1)
        |SELECT doc_id, dsir_score FROM scored
        |ORDER BY dsir_score DESC, doc_id LIMIT 50""".stripMargin, lazyPin = true),

    // ---- text: TF-IDF keyword extraction — top-3 terms per doc ----
    "tfidf_topterms" -> Gate((s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "text", "doc_id",
        k = 3),
      oracle = """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        | tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok <> ''
        |  GROUP BY doc_id, tok),
        | dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        | n AS (SELECT count(*) AS n FROM documents),
        | scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS score
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
        | ranked AS (
        |  SELECT doc_id, tok, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
        |  FROM scored)
        |SELECT doc_id, tok AS term, score AS tfidf, CAST(rn AS BIGINT) AS rank
        |FROM ranked WHERE rn <= 3""".stripMargin),

    // ---- text: document chunking into overlapping token windows
    //      (32-token chunks every 16 — the RAG/context-window prep;
    //      pure narrow pipeline, zero shuffles) ----
    "chunk_documents" -> Gate((s, dir) =>
      TextAnalysis.chunkDocuments(t(s, dir, "documents"), "text", "doc_id",
        chunkTokens = 32, stride = 16),
      oracle = """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        | starts AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, CAST(floor((len(t)-1)/16) AS BIGINT) + 1)) AS i
        |  FROM toks)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(t[i*16+1 : i*16+32], ' ') AS chunk_text,
        |  CAST(least(32, len(t) - i*16) AS BIGINT) AS n_chunk_tokens
        |FROM starts""".stripMargin, frozen = true),

    // ---- text: balanced sampling — at most 20 docs per language,
    //      chosen by portable md5 rank (two-phase windows; the full
    //      per-stratum sort never happens) ----
    "sample_balanced" -> Gate((s, dir) =>
      TextAnalysis.balancedSample(t(s, dir, "documents"), "doc_id", "lang",
        cap = 20)
        .select(col("doc_id"), col("lang"), col("source")),
      oracle = """WITH r AS (
        |  SELECT doc_id, lang, source, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, source FROM r WHERE rn <= 20""".stripMargin),

    // ---- text: per-stratum quantile band — keep docs inside the
    //      [P10, P90] n_chars band of their source (exact percentile
    //      pinned for the oracle; operator default is the mergeable
    //      approx sketch) ----
    "quantile_filter" -> Gate((s, dir) =>
      TextAnalysis.quantileFilter(t(s, dir, "documents"), "n_chars", "source",
        loQ = 0.10, hiQ = 0.90, exact = true)
        .select(col("doc_id"), col("source"), col("n_chars")),
      oracle = """WITH b AS (
        |  SELECT source,
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.10), 6) AS lo,
        |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.90), 6) AS hi
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN b USING (source)
        |WHERE d.n_chars >= lo AND d.n_chars <= hi""".stripMargin),

    // ---- text: token-budget subsampling — fill 10k tokens in
    //      portable md5-rank order (two-pass cumsum; the first
    //      overflowing doc is excluded) ----
    "sample_token_budget" -> Gate((s, dir) =>
      TextAnalysis.sampleToTokenBudget(t(s, dir, "documents"), "text",
        "doc_id", budgetTokens = 10000L),
      oracle = s"""WITH ranked AS (
        |  SELECT doc_id,
        |    $tokenCountSql AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS bk
        |  FROM documents),
        | c AS (
        |  SELECT doc_id, n_tokens, sum(n_tokens) OVER (
        |    ORDER BY bk, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ranked)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cum AS BIGINT) AS cum_tokens
        |FROM c WHERE cum <= 10000""".stripMargin, frozen = true),

    // ---- dedup: end-to-end embedding near-dup resolution — SRP pairs
    //      at cosine ≥ 0.25 → connected components → (id, cluster);
    //      the full "find and resolve duplicate vectors" flow ----
    "dedup_embedding_clusters" -> Gate((s, dir) => {
      val pairs = Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.25, planes = 8, tables = 2)
        .select(col("id1"), col("id2"))
      Dedup.connectedComponents(pairs)
    }, oracle =
      s"""$srpPairSql,
         |fpairs AS (SELECT id1, id2 FROM scored WHERE c >= 0.25),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM fpairs
         |  UNION SELECT id2, id1 FROM fpairs),
         |walk AS (
         |  WITH RECURSIVE r(id, lbl) AS (
         |    SELECT a, a FROM edges
         |    UNION
         |    SELECT e.b, r.lbl FROM r JOIN edges e ON r.id = e.a)
         |  SELECT * FROM r)
         |SELECT id, min(lbl) AS cluster FROM walk GROUP BY id""".stripMargin, frozen = true),

    // ---- dedup: keep-one FILTER form — the rows that survive
    //      embedding near-dup resolution (losers anti-joined away) ----
    "dedup_keep_one" -> Gate((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.25, planes = 8, tables = 2)
        .select(col("id1"), col("id2"))
      Dedup.dedupByClusters(emb, "vec_id", pairs)
        .select(col("vec_id"), col("label").cast("long").as("label"))
    }, oracle =
      s"""$srpPairSql,
         |fpairs AS (SELECT id1, id2 FROM scored WHERE c >= 0.25),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM fpairs
         |  UNION SELECT id2, id1 FROM fpairs),
         |walk AS (
         |  WITH RECURSIVE r(id, lbl) AS (
         |    SELECT a, a FROM edges
         |    UNION
         |    SELECT e.b, r.lbl FROM r JOIN edges e ON r.id = e.a)
         |  SELECT * FROM r),
         |losers AS (
         |  SELECT id FROM (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id)
         |  WHERE id <> cluster)
         |SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM losers)""".stripMargin),

    // ---- dedup: benchmark DECONTAMINATION — corpus docs sharing a
    //      13-gram with the eval slice (doc_id % 97 == 0), with the
    //      distinct-hit audit count. Eval grams broadcast; the corpus
    //      is never shuffled by gram ----
    "decontam_hits" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationHits(docs, docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id")
    }, oracle =
      s"""WITH $decontamCtes
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_eval_ngrams
         |FROM grams s JOIN ev USING (g)
         |GROUP BY s.doc_id""".stripMargin),

    // ---- dedup: decontamination filter form — the rows safe to train
    //      on (no eval n-gram anywhere in the text) ----
    "decontam_clean" -> Gate((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(docs, docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id").select(col("doc_id"), col("source"))
    }, oracle =
      s"""WITH $decontamCtes
         |SELECT doc_id, source FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT DISTINCT s.doc_id FROM grams s JOIN ev USING (g))""".stripMargin),

    // ---- S8 griddap scan: NetCDF-classic transport + hyperslab
    //      pushdown through the DSv2 connector (deterministic fixture;
    //      the oracle recomputes the same grid from range()) ----
    "s8_griddap_scan" -> Gate((s, dir) => {
      val fixtureDir = graft.sources.griddap.GriddapFixture.ensure()
      s.read.format("griddap")
        .option("dataDir", fixtureDir)
        .option("dataset", "s8grid")
        .option("slicesPerPartition", "4")
        .load()
        .filter(col("time") >= lit("2024-03-01 06:00:00").cast("timestamp") &&
          col("time") <= lit("2024-03-01 18:00:00").cast("timestamp") &&
          col("latitude") >= 22.0 && col("latitude") <= 27.0 &&
          col("longitude") >= -93.0 && col("longitude") <= -88.0)
        .select(col("time"), col("latitude"), col("longitude"),
          col("sst"), col("uwind"))
    }, oracle =
      // s8: the oracle recomputes the deterministic grid (GriddapFixture)
      // from range() — no table needed; values are exact binary fractions
      """SELECT TIMESTAMP '2024-03-01 00:00:00' + ti * INTERVAL 1 HOUR AS time,
        | CAST(20 + lai AS DOUBLE) AS latitude,
        | CAST(-95 + loi AS DOUBLE) AS longitude,
        | CAST((ti*10000 + lai*100 + loi) * 0.25 AS DOUBLE) AS sst,
        | CAST(ti + lai*0.5 + loi*0.25 AS DOUBLE) AS uwind
        |FROM range(0,24) t(ti)
        |CROSS JOIN range(0,11) a(lai) CROSS JOIN range(0,11) o(loi)
        |WHERE ti BETWEEN 6 AND 18 AND lai BETWEEN 2 AND 7
        |  AND loi BETWEEN 2 AND 7""".stripMargin),

    // ---- S8 variant: PACKED integer storage (NC_SHORT/NC_INT with CF
    //      scale_factor/add_offset, the common satellite-product shape)
    //      unpacked at scan time by the codec; same hyperslab pushdown ----
    "s8_griddap_scan_int16" -> Gate((s, dir) => {
      val fixtureDir = graft.sources.griddap.GriddapFixture.ensure()
      s.read.format("griddap")
        .option("dataDir", fixtureDir)
        .option("dataset", "s8gridint")
        .option("slicesPerPartition", "4")
        .load()
        .filter(col("time") >= lit("2024-03-01 06:00:00").cast("timestamp") &&
          col("time") <= lit("2024-03-01 18:00:00").cast("timestamp") &&
          col("latitude") >= 22.0 && col("latitude") <= 27.0 &&
          col("longitude") >= -93.0 && col("longitude") <= -88.0)
        .select(col("time"), col("latitude"), col("longitude"),
          col("sst_i16"), col("chl_i32"))
    }, oracle =
      // s8 int variant: oracle recomputes the CF-unpacked values
      // (raw*scale + offset, all exact binary fractions)
      """SELECT TIMESTAMP '2024-03-01 00:00:00' + ti * INTERVAL 1 HOUR AS time,
        | CAST(20 + lai AS DOUBLE) AS latitude,
        | CAST(-95 + loi AS DOUBLE) AS longitude,
        | CAST((ti*100 + lai*10 + loi) * 0.25 - 10 AS DOUBLE) AS sst_i16,
        | CAST((ti*10000 + lai*100 + loi) * 0.5 + 100 AS DOUBLE) AS chl_i32
        |FROM range(0,24) t(ti)
        |CROSS JOIN range(0,11) a(lai) CROSS JOIN range(0,11) o(loi)
        |WHERE ti BETWEEN 6 AND 18 AND lai BETWEEN 2 AND 7
        |  AND loi BETWEEN 2 AND 7""".stripMargin, frozen = true)
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.view.mapValues(_.run).toMap
  lazy val oracleSql: Map[String, String] = gates.view.mapValues(_.oracle).toMap
  lazy val lazyPinGates: Set[String] = gates.collect { case (n, g) if g.lazyPin => n }.toSet

  // ---- shared gate inputs ---------------------------------------------------

  /** The cluster gates' deterministic near-dup graph: same-nation
    * customers with custkey gap ≤ 3 are "duplicates". Pair generation
    * is BANDED on custkey div 4 (gap ≤ 3 ⇒ the partner is in the same
    * or the next block), so both joins are equi-joins on
    * (nation, block) — the naive same-nation join compares every
    * custkey pair within a nation, O(n²/nations), and was measured
    * 25× the whole-query cost at sf1. Identical pair set; the two
    * block joins are disjoint by construction. */
  private def custPairs(cust: DataFrame): DataFrame = {
    def side(idc: String) = cust.select(col("c_custkey").as(idc),
      col("c_nationkey").as("n"), expr("c_custkey div 4").as("blk"))
    val a = side("id1")
    val sameBlk = a.join(side("id2"), Seq("n", "blk"))
    val nextBlk = a.withColumn("blk", col("blk") + 1)
      .join(side("id2"), Seq("n", "blk"))
    sameBlk.unionByName(nextBlk)
      .filter(col("id1") < col("id2") && col("id2") - col("id1") <= 3)
      .select("id1", "id2")
  }

  /** The graph gates' deterministic link graph over `documents`: doc i
    * links to (3i+1, 5i+2 and, for `fanout` 3, 7i+3) mod N. Returns the
    * doc_id node frame and the (src, dst) edges. */
  private def linkGraph(s: SparkSession, dir: String,
      fanout: Int): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    val links = Seq(3 -> 1, 5 -> 2, 7 -> 3).take(fanout).map { case (k, c) =>
      pmod(col("doc_id") * k + c, lit(n)) }
    (docs, docs.select(col("doc_id").as("src"), explode(array(links: _*)).as("dst")))
  }

  /** doc_id plus each struct field `path` (`st.width`) as a column
    * named by its last segment — the codec gates' stat projection. */
  private def statCols(paths: String*): Seq[Column] =
    col("doc_id") +: paths.map(p => col(p).as(p.split('.').last))

  /** The still-image gates' frame: `img` (built from doc_id and text)
    * decoded to its dims, pixel count and channel sums (`sum_a` too
    * when `alpha`). */
  private def imageStats(s: SparkSession, dir: String, img: Column,
      alpha: Boolean = false): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), ImageCodec.image_pixel_stats(img).as("st"))
      .select(statCols(Seq("st.width", "st.height", "st.n_px", "st.sum_r", "st.sum_g",
        "st.sum_b") ++ (if (alpha) Seq("st.sum_a") else Nil): _*): _*)

  /** The router gates' input: one binary payload per document — PNG,
    * WAV, AVI, 4:2:0 JPEG or GIF by doc_id % 5 — sniffed by each
    * decoder's meta expression (`im`, `am`, `vm`, `gm`). */
  private def routedMeta(s: SparkSession, dir: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(5))
    val payload = when(m === 0,
        ImageCodec.image_synth_png(col("doc_id"), col("text")))
      .when(m === 1, AudioCodec.audio_synth_wav(col("doc_id"), col("text")))
      .when(m === 2, VideoCodec.video_synth_avi(col("doc_id"), col("text")))
      .when(m === 3, ImageCodec.image_synth_jpeg420(col("doc_id"), col("text")))
      .otherwise(GifCodec.gif_synth(col("doc_id"), col("text")))
    t(s, dir, "documents").select(col("doc_id"), payload.as("payload"))
      .select(col("doc_id"),
        ImageCodec.image_meta(col("payload")).as("im"),
        AudioCodec.audio_meta(col("payload")).as("am"),
        VideoCodec.video_meta(col("payload")).as("vm"),
        GifCodec.gif_meta(col("payload")).as("gm"))
  }

  // ---- generated oracle-SQL fragments (md5-portable pipelines) -----------

  /** Oracle twin of [[custPairs]] plus its recursive-CTE components:
    * `walk` holds every (id, reachable label) pair. */
  private val custWalkCtes: String =
    """pairs AS (
      |  SELECT a.c_custkey AS id1, b.c_custkey AS id2
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey
      |   AND a.c_custkey < b.c_custkey
      |   AND b.c_custkey - a.c_custkey <= 3),
      |edges AS (
      |  SELECT id1 AS a, id2 AS b FROM pairs
      |  UNION SELECT id2, id1 FROM pairs),
      |walk AS (
      |  WITH RECURSIVE r(id, lbl) AS (
      |    SELECT a, a FROM edges
      |    UNION
      |    SELECT e.b, r.lbl FROM r JOIN edges e ON r.id = e.a)
      |  SELECT * FROM r)""".stripMargin

  /** The funnel oracles' conditional-min chain (view → click →
    * purchase, each within 7 days of the view); `s3Carry` adds columns
    * to the last step. */
  private def funnelCtes(s3Carry: String = ""): String =
    s"""s1 AS (
       |  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
       |  WHERE event_type = 'view' GROUP BY 1),
       | s2 AS (
       |  SELECT e.user_id, min(s1.t1) AS t1, min(epoch_us(e.ts)) AS t
       |  FROM events e JOIN s1 ON e.user_id = s1.user_id
       |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
       |    AND epoch_us(e.ts) <= s1.t1 + 604800000000 GROUP BY 1),
       | s3 AS (
       |  SELECT e.user_id, ${s3Carry}min(epoch_us(e.ts)) AS t
       |  FROM events e JOIN s2 ON e.user_id = s2.user_id
       |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
       |    AND epoch_us(e.ts) <= s2.t1 + 604800000000 GROUP BY 1)""".stripMargin

  /** Hourly per-type event counts over `events` (`where` restricts the
    * hours) and their per-type population moments. */
  private def hourlyCtes(where: String = ""): String =
    s"""hourly AS (
       |  SELECT date_trunc('hour', ts) AS hour, event_type,
       |    count(*) AS n
       |  FROM events$where GROUP BY 1, 2),
       | st AS (
       |  SELECT event_type, count(*) AS h, sum(n) AS s,
       |    sum(n*n) AS s2
       |  FROM hourly GROUP BY 1)""".stripMargin

  /** Hourly anomaly z-scores against the per-type moments (the
    * anomaly_hours formula); `where` as in [[hourlyCtes]]. */
  private def anomalyOracleSql(where: String = ""): String =
    s"""WITH ${hourlyCtes(where)},
       | zs AS (
       |  SELECT hr.hour, hr.event_type, hr.n,
       |    CASE WHEN st.s2::DOUBLE/st.h
       |              - (st.s::DOUBLE/st.h)*(st.s::DOUBLE/st.h) <= 0
       |         THEN 0.0
       |         ELSE (hr.n - st.s::DOUBLE/st.h) /
       |              sqrt(st.s2::DOUBLE/st.h
       |                   - (st.s::DOUBLE/st.h)*(st.s::DOUBLE/st.h))
       |    END AS z
       |  FROM hourly hr JOIN st ON hr.event_type = st.event_type)
       |SELECT hour, event_type, n, round(z, 6) AS z,
       |  abs(z) >= 2.0 AS is_anomaly
       |FROM zs""".stripMargin

  /** NRT lifecycle replay shared by the model and REST pipeline gates:
    * datasets = event_types ranked alphabetically; rank 1 not due
    * (source mtime unchanged), even ranks due+changed (stale stored
    * fingerprint → overwrite of the window count), odd ranks > 1
    * due+unchanged (no-op, touched only). now = the truncated max event
    * time; the 7-day window is closed on both ends at second granularity
    * (the ERDDAP URL grammar the connector compiles to). */
  private val nrtLifecycleOracleSql: String =
    """WITH nw AS (SELECT date_trunc('second', max(ts)) AS now FROM events),
      |ds AS (SELECT event_type,
      |         row_number() OVER (ORDER BY event_type) AS r
      |       FROM (SELECT DISTINCT event_type FROM events)),
      |win AS (SELECT e.event_type, count(*) AS n
      |        FROM events e, nw
      |        WHERE date_trunc('second', e.ts) >= nw.now - INTERVAL 7 DAY
      |          AND date_trunc('second', e.ts) <= nw.now
      |        GROUP BY e.event_type)
      |SELECT 'ds_' || ds.event_type AS dataset_id,
      |       ds.r > 1 AS was_due,
      |       (ds.r > 1 AND ds.r % 2 = 0) AS changed,
      |       CASE WHEN ds.r > 1 AND ds.r % 2 = 0
      |            THEN CAST(coalesce(win.n, 0) AS BIGINT)
      |            ELSE CAST(-1 AS BIGINT) END AS rows_written,
      |       CASE WHEN ds.r > 1 AND ds.r % 2 = 0 THEN 'b'
      |            ELSE 'a' END AS slot_after,
      |       CASE WHEN ds.r > 1 THEN nw.now
      |            ELSE nw.now - INTERVAL 1 DAY END AS refreshed_at_s
      |FROM ds LEFT JOIN win ON ds.event_type = win.event_type
      |CROSS JOIN nw""".stripMargin

  /** The link-graph oracles' node CTEs: `nn` (the node count, one row)
    * and `nodes`. */
  private val linkNodeCtes: String =
    """nn AS MATERIALIZED (SELECT count(*) AS n FROM documents),
      | nodes AS (SELECT doc_id AS id FROM documents)""".stripMargin

  /** Oracle twin of [[linkGraph]]: the node CTEs plus `dir`, the
    * directed (src, dst) links. */
  private def linkCtes(fanout: Int): String = {
    val links = Seq("id*3+1", "id*5+2", "id*7+3").take(fanout)
      .map(l => s"SELECT id, ($l) % (SELECT n FROM nn) FROM nodes")
    s"""$linkNodeCtes,
       | dir(src, dst) AS (
       |  ${links.mkString("\n  UNION ALL ")})""".stripMargin
  }

  /** `und`: [[linkCtes]]' `dir` mirrored to undirected, self-loops
    * dropped. */
  private val undCte: String =
    """und AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT src, dst FROM dir UNION ALL SELECT dst, src FROM dir)
      |  WHERE src <> dst)""".stripMargin

  /** One synchronous label-propagation round over `und`: neighbor-label
    * counts, winner by (count desc, label asc), keep-own-label when
    * isolated. */
  private def lpRound(prev: String, v: String, w: String, cur: String): String =
    s"""$v AS (SELECT e.dst AS id, p.lbl, count(*) AS n
       |  FROM und e JOIN $prev p ON e.src = p.id GROUP BY 1, 2),
       |$w AS (SELECT id, lbl FROM (
       |  SELECT id, lbl, row_number() OVER (
       |    PARTITION BY id ORDER BY n DESC, lbl) AS rn FROM $v)
       |  WHERE rn = 1),
       |$cur AS (SELECT p.id, coalesce($w.lbl, p.lbl) AS lbl
       |  FROM $prev p LEFT JOIN $w ON p.id = $w.id)""".stripMargin

  /** Whitespace token count of `text` — the oracle twin of
    * [[TextAnalysis.tokenCount]]. */
  private val tokenCountSql: String =
    """CASE WHEN length(trim(text)) = 0 THEN 0
      |    ELSE len(string_split_regex(trim(text), '\s+')) END""".stripMargin

  /** Count of `text`'s lowercased whitespace tokens that, stripped to
    * letters, are in `words` (a SQL list body). */
  private def wordHits(words: String): String =
    raw"""len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
         |    t -> list_contains([$words], regexp_replace(t, '[^a-z]', '', 'g'))))""".stripMargin

  private val stopWords: String =
    "'the','a','an','and','or','of','to','in','is','it'," +
      "'that','was','for','on','with','as','at','by','be'"

  /** The language-id oracles' per-language function-word hits
    * (`s_de`, `s_en`, `s_es`, `s_fr`). */
  private val langHits: String = Seq(
    "de" -> "'der','die','das','und','ist','nicht','ein','mit','von','zu'",
    "en" -> "'the','and','of','to','is','in','that','was','with','for'",
    "es" -> "'el','la','los','y','es','en','que','una','por','con'",
    "fr" -> "'le','la','les','et','est','une','dans','que','pour','des'"
  ).map { case (l, w) => s"${wordHits(w)} AS s_$l" }.mkString(",\n  ")

  /** Window-packing oracle: documents' whitespace tokens concatenated
    * in doc_id order (within each `key` stratum, computed by `keyExpr`
    * when given) and cut into `ctx`-token windows, each listing its
    * docs' provenance spans. */
  private def packOracleSql(ctx: Int, key: String = "", keyExpr: String = ""): String = {
    val k = if (key.isEmpty) "" else s"$key, "
    val keySel = if (keyExpr.isEmpty) k else s"$keyExpr AS $k"
    val part = if (key.isEmpty) "" else s"PARTITION BY $key "
    s"""WITH tc AS (
       |  SELECT ${keySel}doc_id,
       |    $tokenCountSql AS n_tokens
       |  FROM documents),
       | c AS (
       |  SELECT ${k}doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (${part}ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |      AS BIGINT) AS start_off
       |  FROM tc WHERE n_tokens > 0),
       | b AS (
       |  SELECT ${k}doc_id, n_tokens, start_off,
       |    unnest(range(start_off // $ctx,
       |                 (start_off + n_tokens - 1) // $ctx + 1)) AS bin
       |  FROM c),
       | s AS (
       |  SELECT ${k}bin, doc_id,
       |    greatest(start_off, bin * $ctx) - bin * $ctx AS span_start,
       |    least(start_off + n_tokens, bin * $ctx + $ctx)
       |      - greatest(start_off, bin * $ctx) AS span_len
       |  FROM b)
       |SELECT ${k}bin, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(span_len) AS BIGINT) AS n_tokens,
       |  string_agg(CAST(doc_id AS VARCHAR) || ':' ||
       |             CAST(span_start AS VARCHAR) || ':' ||
       |             CAST(span_len AS VARCHAR),
       |             ',' ORDER BY span_start, doc_id) AS doc_spans
       |FROM s GROUP BY ${k}bin""".stripMargin
  }

  /** The logreg oracles' hashed tf features (`lrfeats`: 64 md5 buckets,
    * tf normalized per doc) and labels (`lab`: src0 = 1). */
  private val logregCtes: String =
    """lrfeats AS (
      |  SELECT doc_id, bucket,
      |    tf / sum(tf) OVER (PARTITION BY doc_id) AS x
      |  FROM (SELECT doc_id,
      |      ('0x' || substr(md5(tok), 1, 13))::UBIGINT % 64 AS bucket,
      |      CAST(count(*) AS DOUBLE) AS tf
      |    FROM (SELECT doc_id, unnest(string_split(trim(regexp_replace(
      |        lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
      |      FROM documents) WHERE tok <> '' GROUP BY 1, 2)),
      | lab AS (SELECT doc_id,
      |    CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
      |  FROM documents)""".stripMargin

  /** Cosine of every `c` candidate (vec_id, v) against every `q` query
    * (qid, qv), 0 for a zero-norm pair — the knn oracles' `scored`. */
  private val knnScoredCte: String =
    """scored AS (
      |  SELECT q.qid, c.vec_id,
      |    CASE WHEN sqrt(list_sum(list_transform(c.v, x -> x*x))) *
      |              sqrt(list_sum(list_transform(q.qv, x -> x*x))) = 0
      |         THEN 0.0
      |         ELSE list_sum(list_transform(list_zip(c.v, q.qv), p -> p[1]*p[2])) /
      |              (sqrt(list_sum(list_transform(c.v, x -> x*x))) *
      |               sqrt(list_sum(list_transform(q.qv, x -> x*x))))
      |    END AS cos
      |  FROM c CROSS JOIN q)""".stripMargin

  /** Codec oracles' per-doc image dims (max of the `w`/`h` columns). */
  private val maxDims: String =
    """CAST(max(w) AS INTEGER) AS width,
      |  CAST(max(h) AS INTEGER) AS height""".stripMargin

  /** The PNG synth's four channel-slot samples at (x, y) for doc `id`:
    * floorMod(x*(3+2c) + y*(5+2c) + id*(c+1), 256) as v0..v3. */
  private def pngSamples(x: String, y: String, id: String): String =
    (0 until 4).map { c =>
      s"(($x*${3 + 2 * c} + $y*${5 + 2 * c} + $id${if (c == 0) "" else s"*${c + 1}"})" +
        s" % 256 + 256) % 256 AS v$c"
    }.mkString(",\n         ")

  /** Channel sums of [[pngSamples]] by color type `cti` (gray/RGB/
    * gray+alpha/RGBA). */
  private val pngSums: String =
    """CAST(sum(v0) AS BIGINT) AS sum_r,
      |  CAST(sum(CASE WHEN cti IN (0, 2) THEN v0 ELSE v1 END) AS BIGINT)
      |    AS sum_g,
      |  CAST(sum(CASE WHEN cti IN (0, 2) THEN v0 ELSE v2 END) AS BIGINT)
      |    AS sum_b,
      |  CAST(CASE WHEN max(cti) = 2 THEN sum(v1)
      |            WHEN max(cti) = 3 THEN sum(v3) END AS BIGINT) AS sum_a""".stripMargin

  /** The JPEG decoder's fixed-rounding YCbCr→RGB over `yv`/`cb`/`cr`
    * as `r`, `g`, `b`: the e0 suffixes force DOUBLE arithmetic (a bare
    * 1.402 is DECIMAL in DuckDB, which rounds differently). */
  private val ycbcrRgb: String =
    """greatest(0, least(255,
      |      CAST(floor(yv + 1.402e0*cr + 0.5e0) AS BIGINT))) AS r,
      |    greatest(0, least(255,
      |      CAST(floor(yv - 0.344136e0*cb - 0.714136e0*cr + 0.5e0) AS BIGINT))) AS g,
      |    greatest(0, least(255,
      |      CAST(floor(yv + 1.772e0*cb + 0.5e0) AS BIGINT))) AS b""".stripMargin

  /** Channel sums of [[ycbcrRgb]], gray docs summing their `gv` plane. */
  private val grayRgbSums: String =
    """CAST(sum(CASE WHEN gray THEN gv ELSE r END) AS BIGINT) AS sum_r,
      |  CAST(sum(CASE WHEN gray THEN gv ELSE g END) AS BIGINT) AS sum_g,
      |  CAST(sum(CASE WHEN gray THEN gv ELSE b END) AS BIGINT) AS sum_b""".stripMargin

  /** The MJPEG synth's block-constant planes at block (bx, by) of
    * frame t. */
  private val mjpegBlockPlanes: String =
    """((bx*7 + by*11 + t*19 + doc_id) % 256 + 256) % 256 AS gv,
      |    ((bx*5 + by*7 + t*17 + doc_id) % 256 + 256) % 256 AS yv,
      |    ((bx*3 + by*13 + t*5 + doc_id*2) % 256 + 256) % 256 - 128 AS cb,
      |    ((bx*11 + by*3 + t*7 + doc_id*3) % 256 + 256) % 256 - 128 AS cr""".stripMargin

  /** Channel sums of the AVI synth's per-frame gradient at (x, y, t). */
  private val aviSums: String =
    """CAST(sum(((x*13 + y*17 + t*19 + doc_id*3) % 256 + 256) % 256)
      |    AS BIGINT) AS sum_r,
      |  CAST(sum(((x*7 + y*11 + t*23 + doc_id*2) % 256 + 256) % 256)
      |    AS BIGINT) AS sum_g,
      |  CAST(sum(((x*3 + y*5 + t*29 + doc_id) % 256 + 256) % 256)
      |    AS BIGINT) AS sum_b""".stripMargin

  /** The WAV synths' sample rate, cycling by doc_id. */
  private val pcmRate: String =
    """CASE ((doc_id % 4) + 4) % 4 WHEN 0 THEN 8000
      |           WHEN 1 THEN 16000 WHEN 2 THEN 22050 ELSE 44100 END AS rate""".stripMargin

  /** Left/right sums and peak of a mono-or-stereo (`ch`) `v0`/`v1`
    * sample stream. */
  private val pcmSums: String =
    """CAST(sum(v0) AS BIGINT) AS sum_l,
      |  CAST(CASE WHEN max(ch) = 2 THEN sum(v1) END AS BIGINT) AS sum_r,
      |  CAST(max(greatest(abs(v0),
      |    CASE WHEN ch = 2 THEN abs(v1) ELSE 0 END)) AS INTEGER) AS peak""".stripMargin

  /** Shingle CTEs proven bit-compatible with [[Dedup.shingles]] by the
    * long-green dedup_minhash_oracle gate. */
  private val shingleCtes: String =
    """toks AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 3 THEN
      |      list_distinct(list_transform(generate_series(1, len(t)-2),
      |        i -> array_to_string(t[i:i+2], ' ')))
      |    ELSE [array_to_string(t, ' ')] END AS sh
      |  FROM toks)""".stripMargin

  /** Deterministic per-(word, doc_id) salting of every 6th word — the
    * distinct-document twin of the clone-amplified sf1 fixture: clones
    * carry remapped doc_ids, so each copy salts DIFFERENTLY and the
    * ~9-near-clones-per-doc output mass disappears; what remains is
    * the operator's plan cost. The expression is byte-identical to
    * [[saltedVariant]]'s DuckDB replay (Spark transform indexes are
    * 0-based, DuckDB lambdas 1-based — hence i%6=5 here vs i%6=0
    * there). */
  private def saltedDocs(docs: DataFrame): DataFrame =
    // doc_id <= 250 stays unsalted: a CONSTANT-sized slice (copy 0 of
    // the amplified fixture — clone copies carry remapped ids above
    // it) whose natural near-dups keep the gates' outputs non-empty at
    // every SF, so the oracles verify real pairs, not just emptiness,
    // while the other half of the driver-SF corpus exercises the salt
    // parity. A modulo exemption would instead let a constant FRACTION
    // of cross-copy clone pairs survive at sf1, re-coupling the gate
    // to output mass.
    docs.withColumn("text", expr(
      "array_join(transform(split(text, ' '), (w, i) -> " +
      "IF(doc_id > 250 AND i % 6 = 5, concat('z', substr(md5(concat(w, '_', " +
      "CAST(doc_id AS STRING))), 1, 8)), w)), ' ')"))

  /** DuckDB replay of [[saltedDocs]]: prepends a `documents_salted`
    * CTE and rewrites the oracle's `FROM documents` references to it
    * (a CTE SHADOWING `documents` binds circular in DuckDB, and
    * schema-qualifying would couple the oracle to how the runner
    * registers its views — the rename is registration-agnostic). */
  private def saltedVariant(oracle: String): String = {
    val cte =
      """documents_salted AS (
        |  SELECT doc_id, array_to_string(list_transform(
        |    string_split(text, ' '),
        |    (w, i) -> CASE WHEN doc_id > 250 AND i % 6 = 0 THEN concat('z',
        |      substr(md5(concat(w, '_', CAST(doc_id AS VARCHAR))), 1, 8))
        |      ELSE w END), ' ') AS text
        |  FROM documents)""".stripMargin
    s"WITH $cte,\n" + oracle.replaceFirst("WITH ", "")
      .replace("FROM documents", "FROM documents_salted")
  }

  /** Fuzzy decontamination oracle: the full banded candidate join
    * restricted to the eval/corpus split, then the same classic
    * Levenshtein DP both engines implement. Shared by the clone-
    * fixture gate and its distinct-document twin. */
  private lazy val decontamFuzzyOracleSql: String =
    s"""WITH ${minhashCtes(8, 4)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS eval_id, b.doc_id AS corpus_id
       |  FROM banded a JOIN banded b ON a.band = b.band
       |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0),
       |nrm AS (SELECT doc_id, trim(regexp_replace(lower(text),
       |  '[^a-z0-9]+', ' ', 'g')) AS nt FROM documents)
       |SELECT c.eval_id, c.corpus_id,
       |  CAST(levenshtein(e.nt, o.nt) AS BIGINT) AS dist
       |FROM cand c JOIN nrm e ON e.doc_id = c.eval_id
       |JOIN nrm o ON o.doc_id = c.corpus_id
       |WHERE levenshtein(e.nt, o.nt) <= 20""".stripMargin

  /** Shared oracle SQL for the exact shingle-set Jaccard pair gates
    * (`dedup_ngram_jaccard`, `dedup_jaccard_prefix`). The naive
    * `sh a JOIN sh b ON a.doc_id < b.doc_id` replay is quadratic in
    * documents (every pair pays a list intersection) and timed out at
    * sf1 (SELFCHECK_sf1.log, round 12) — the only two unproven-at-10×
    * gates. This version applies the PUBLIC AllPairs prefix-filter
    * theorem (Bayardo WWW'07) inside the oracle, engine-agnostically:
    * order each doc's shingles by global rarity, keep the first
    * sz − ⌈t·sz⌉ + 1 as its prefix, and only pairs sharing a PREFIX
    * shingle (plus the t-length-ratio bound) reach the exact verify
    * join — zero false negatives by the theorem, and the verify step
    * recomputes exact Jaccard from the FULL shingle sets, so candidate
    * generation never affects values. ⌈4·sz/5⌉ is computed in integer
    * arithmetic ((4·sz+4)//5) — no fp-ceil hazard at all (the Spark
    * side needs an epsilon guard; the oracle does not). */
  private val jaccardPrefixOracleSql: String =
    s"""WITH $shingleCtes,
       |sizes AS (SELECT doc_id, len(sh) AS sz FROM sh),
       |grams AS (SELECT doc_id, unnest(sh) AS g FROM sh),
       |rarity AS (SELECT g, count(*) AS c FROM grams GROUP BY g),
       |ranked AS (
       |  SELECT gr.doc_id, gr.g,
       |    row_number() OVER (PARTITION BY gr.doc_id ORDER BY r.c, gr.g) AS rn,
       |    s.sz
       |  FROM grams gr
       |  JOIN rarity r ON r.g = gr.g
       |  JOIN sizes s ON s.doc_id = gr.doc_id),
       |prefix AS (
       |  SELECT doc_id, g, sz FROM ranked
       |  WHERE rn <= sz - ((4*sz + 4) // 5) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM prefix a JOIN prefix b ON a.g = b.g AND a.doc_id < b.doc_id
       |  WHERE 5*a.sz >= 4*b.sz AND 5*b.sz >= 4*a.sz),
       |pairs AS (
       |  SELECT c.id1, c.id2,
       |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(x.sh, y.sh))) AS j
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.id1
       |  JOIN sh y ON y.doc_id = c.id2)
       |SELECT id1, id2, round(j, 6) AS jacc FROM pairs WHERE j >= 0.8""".stripMargin

  /** 13-gram shingles of every document + the eval slice's distinct
    * grams — the decontamination oracle's shared front half (mirrors
    * [[graft.functions.ShingleStrings]] with n = 13: same normalizer,
    * per-doc-distinct grams, whole-text fallback under 13 tokens). */
  private val decontamCtes: String =
    """toks AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 13 THEN
      |      list_distinct(list_transform(generate_series(1, len(t)-12),
      |        i -> array_to_string(t[i:i+12], ' ')))
      |    ELSE [array_to_string(t, ' ')] END AS g
      |  FROM toks),
      |ev AS (SELECT DISTINCT unnest(g) AS g FROM sh WHERE doc_id % 97 = 0),
      |grams AS (SELECT doc_id, unnest(g) AS g FROM sh)""".stripMargin

  /** SRP plane + bucket CTEs mirroring [[Similarity.planeComponent]] /
    * [[Similarity.srpBits]]: 2 tables × 8 planes × 64 dims. */
  private val srpCtes: String =
    """emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |planes AS (
      |  SELECT t, p, list_transform(range(0, 64), j ->
      |    (('0x' || substr(md5(t || ':' || p || ':' || j), 1, 8))::BIGINT
      |      / 2147483647.5) - 1.0) AS pl
      |  FROM range(0, 2) tt(t) CROSS JOIN range(0, 8) pp(p)),
      |norms AS (SELECT vec_id, e,
      |  sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM emb),
      |keyed AS (
      |  SELECT e.vec_id, pl.t AS tbl,
      |    string_agg(CASE WHEN list_sum(list_transform(list_zip(e.e, pl.pl),
      |      z -> z[1] * z[2])) >= 0 THEN '1' ELSE '0' END, '' ORDER BY pl.p) AS bucket
      |  FROM emb e CROSS JOIN planes pl GROUP BY e.vec_id, pl.t)""".stripMargin

  private val srpPairSql: String =
    s"""WITH $srpCtes,
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |  FROM keyed a JOIN keyed b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT p.id1, p.id2,
       |    CASE WHEN na.nrm * nb.nrm = 0 THEN 0.0
       |      ELSE list_sum(list_transform(list_zip(na.e, nb.e), z -> z[1]*z[2]))
       |        / (na.nrm * nb.nrm) END AS c
       |  FROM pairs p JOIN norms na ON na.vec_id = p.id1
       |               JOIN norms nb ON nb.vec_id = p.id2)""".stripMargin

  /** Unrolled BPE-merge rounds mirroring [[TextAnalysis.trainBpeMerges]]
    * (wrapped-marker state, greedy left-to-right `replace` merges,
    * count-desc lexicographic winner per round). k = 8, minPairCount
    * pinned 1 by the gate so every round produces a merge. */
  private def bpeCtes(k: Int): String = {
    // s${i-1} feeds both the round's pair count and the merged state,
    // and b$i feeds the state merge plus the encode/token-id/vocab
    // chains — MATERIALIZED, or DuckDB's CTE inlining re-evaluates the
    // whole prefix once per reference (2^k blowup; bpe_token_ids sat at
    // 9 s of the driver's sf0.01 compare budget, 0.5 s pinned)
    val head =
      """words AS (
        |  SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(trim(regexp_replace(lower(text),
        |      '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |    FROM documents) WHERE w <> '' GROUP BY w),
        |s0 AS MATERIALIZED (
        |  SELECT '|' || array_to_string(
        |    list_transform(range(1, len(w)+1), i -> w[i:i]), '||') || '|' AS state,
        |    cnt
        |  FROM words)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT sy[i] AS l, sy[i+1] AS r, sum(cnt) AS pc FROM (
         |    SELECT string_split(trim(state, '|'), '||') AS sy, cnt,
         |      unnest(range(1, len(string_split(trim(state, '|'), '||')))) AS i
         |    FROM s${i - 1})
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (
         |  SELECT l, r, pc FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT replace(state, '|'||b.l||'||'||b.r||'|',
         |    '|'||b.l||b.r||'|') AS state, cnt
         |  FROM s${i - 1} CROSS JOIN b$i b)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private def bpeOracleSql(k: Int): String = {
    val finalSel = (1 to k).map { i =>
      s"SELECT CAST($i AS BIGINT) AS rank, l AS lhs, r AS rhs, " +
        s"l||r AS merged, CAST(pc AS BIGINT) AS pair_count FROM b$i"
    }.mkString("\n UNION ALL ")
    "WITH " + bpeCtes(k) + "\n" + finalSel
  }

  /** The doc-state encode chain shared by the bpe_encode and
    * bpe_token_ids oracles: wrap every char, mark word boundaries with
    * '#', apply the k trained merges in rank order.
    * LEFT JOIN, not CROSS JOIN: a round past early-stop has an empty
    * b$i, and a cross join would empty the whole encode chain while
    * the Spark side just applies fewer merges. */
  private def bpeEncCtes(k: Int): Seq[String] = {
    val enc0 =
      """enc0 AS (
        |  SELECT doc_id, replace(regexp_replace(
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
        |    '(.)', '|\1|', 'g'), '| |', '#') AS st
        |  FROM documents WHERE length(trim(text)) > 0)""".stripMargin
    val encs = (1 to k).map { i =>
      s"""enc$i AS (
         |  SELECT doc_id, CASE WHEN b.l IS NULL THEN st
         |    ELSE replace(st, '|'||b.l||'||'||b.r||'|', '|'||b.l||b.r||'|')
         |    END AS st
         |  FROM enc${i - 1} LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    enc0 +: encs
  }

  /** Encode-side oracle: the same doc-state pipeline as
    * [[TextAnalysis.bpeSubwordCount]] — wrap every char, mark word
    * boundaries with '#', apply the k trained merges in rank order,
    * count subwords as count("||") + nWords. */
  private def bpeEncodeOracleSql(k: Int): String =
    "WITH " + (bpeCtes(k) +: bpeEncCtes(k)).mkString(",\n") + "\n" +
      s"""SELECT doc_id, CAST(CASE WHEN st = '' THEN 0 ELSE
         |  length(st) - length(replace(st, '||', '|')) +
         |  len(string_split(st, '#')) END AS BIGINT) AS n_subwords
         |FROM enc$k""".stripMargin

  /** Token-id oracle: the encoded state's wrapped symbols become
    * `<id>` (base chars 0-35 statically, merge i's product 35+i via
    * the b$i row — wrapped replacements can't match inside one
    * another, see TextAnalysis.bpeTokenIds), then the markers collapse
    * to the comma-joined id list. */
  private def bpeTokenIdsOracleSql(k: Int): String = {
    val charChain = (('a' to 'z') ++ ('0' to '9')).zipWithIndex
      .foldLeft("st") { case (e, (c, i)) => s"replace($e, '|$c|', '<$i>')" }
    val id0 = s"id0 AS (SELECT doc_id, $charChain AS st FROM enc$k)"
    val ids = (1 to k).map { i =>
      s"""id$i AS (
         |  SELECT doc_id, CASE WHEN b.l IS NULL THEN st
         |    ELSE replace(st, '|'||b.l||b.r||'|', '<${35 + i}>') END AS st
         |  FROM id${i - 1} LEFT JOIN b$i b ON TRUE)""".stripMargin
    }
    "WITH " + ((bpeCtes(k) +: bpeEncCtes(k)) ++ (id0 +: ids)).mkString(",\n") +
      "\n" +
      s"""SELECT doc_id,
         |  replace(replace(replace(replace(st, '><', ','), '<', ''),
         |    '>', ''), '#', ',') AS token_ids
         |FROM id$k""".stripMargin
  }

  /** Vocab oracle: 36 static base-symbol rows + one row per trained
    * merge (id 35+i from the b$i CTE; empty past early-stop → no row,
    * matching the Scala side's shorter merges list). */
  private def bpeVocabOracleSql(k: Int): String = {
    val base = (('a' to 'z') ++ ('0' to '9')).zipWithIndex.map { case (c, i) =>
      s"SELECT $i AS id, '$c' AS symbol"
    }.mkString("\n UNION ALL ")
    val merged = (1 to k).map { i =>
      s"SELECT ${35 + i} AS id, l||r AS symbol FROM b$i"
    }.mkString("\n UNION ALL ")
    "WITH " + bpeCtes(k) + "\n" +
      s"SELECT CAST(id AS BIGINT) AS token_id, symbol FROM (\n$base\n UNION ALL $merged)"
  }

  /** Gear-CDC oracle CTEs mirroring [[graft.functions.GearCdcChunks]]
    * at maskBits = 5: the 256-entry gear table is EMBEDDED as VALUES
    * (rebuilt from md5 of each byte's decimal string — the same rule as
    * the Scala side), boundaries where `h % 32 = 0` plus end-of-text,
    * chunks via lag. ASCII-only synth text keeps ord(char) == UTF-8
    * byte. The per-byte recurrence `h ← (2h + T[b]) mod 2³¹` is
    * evaluated in CLOSED FORM rather than as a recursive CTE: unrolled,
    * `h_i = Σ_j T[b_j]·2^(i−j) mod 2³¹`, and every term with shift
    * ≥ 31 is a multiple of 2³¹ ≡ 0, so only the most recent 31 bytes
    * contribute — `h_i = Σ_{k=0..30} T[b_{i−k}]·2^k mod 2³¹`, one
    * list_sum over a 31-slot window per position. The recursive form
    * re-joined the whole character table once per text position
    * (longest-doc iterations × full-table scans) and put the two cdc
    * gates at 13–20 s each in the driver's sf0.01 compare budget. */
  private val cdcCtes: String = {
    val tbl = (0 until 256).map(b =>
      s"($b, ${graft.functions.CdcOps.gearTable(b)})").mkString(", ")
    s"""gear(b, t) AS (VALUES $tbl),
       |cdocs AS MATERIALIZED (SELECT doc_id, source, text FROM documents),
       |cchars AS (
       |  SELECT doc_id, CAST(g.i AS BIGINT) AS i,
       |    ord(substr(text, CAST(g.i AS INT), 1)) AS b
       |  FROM cdocs, LATERAL unnest(range(1, len(text) + 1)) AS g(i)),
       |ctl AS MATERIALIZED (
       |  SELECT c.doc_id, list(g.t ORDER BY c.i) AS ts
       |  FROM cchars c JOIN gear g ON g.b = c.b GROUP BY c.doc_id),
       |chash AS (
       |  SELECT doc_id, CAST(g.i AS BIGINT) AS i,
       |    list_sum(list_transform(
       |      range(greatest(1, g.i - 30), g.i + 1),
       |      j -> (ts[CAST(j AS INT)] *
       |            (CAST(1 AS BIGINT) << CAST(g.i - j AS INT)))
       |           % 2147483648)) % 2147483648 AS h
       |  FROM ctl, LATERAL unnest(range(1, len(ts) + 1)) AS g(i)),
       |cbnds AS (
       |  SELECT doc_id, i AS pos FROM chash WHERE i > 0 AND h % 32 = 0
       |  UNION
       |  SELECT doc_id, CAST(len(text) AS BIGINT) FROM cdocs
       |  WHERE len(text) > 0),
       |cchunks AS MATERIALIZED (
       |  SELECT b2.doc_id,
       |    row_number() OVER (PARTITION BY b2.doc_id ORDER BY b2.pos) - 1
       |      AS idx,
       |    b2.prev AS start, b2.pos - b2.prev AS len,
       |    md5(substr(d.text, CAST(b2.prev + 1 AS INT),
       |      CAST(b2.pos - b2.prev AS INT))) AS hash
       |  FROM (SELECT doc_id, pos,
       |          lag(pos, 1, CAST(0 AS BIGINT))
       |            OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |        FROM cbnds) b2
       |  JOIN cdocs d USING (doc_id))""".stripMargin
  }

  /** Unrolled SemDeDup CTEs mirroring [[Similarity.semDedupPairs]] at
    * the gate's parameters (k=64, iters=3, sample = first 2000 by
    * vec_id): the same Lloyd trajectory as [[ivfOracleSql]] (init =
    * first k, ties → smallest ci, means summed in vec_id order), then
    * ALL vectors assigned to the final centroids and exact cosine over
    * same-cluster pairs. The annulus pruning on the Spark side is
    * lossless, so the oracle needs no mirror of it. */
  private val semDedupOracleCtes: String =
    // each scent$i is referenced twice (the next round's assignment +
    // the next centroid patch), so MATERIALIZED keeps the Lloyd chain
    // linear; sasg/spairs feed multiply-referencing consumers
    // (semdedup_keep's recursive component walk re-inlined the whole
    // chain once per recursion step — 11 s at sf0.01, 0.4 s pinned)
    s"""emb AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |ssample AS (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT 2000),
       |scent0 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e AS cv
       |  FROM ssample ORDER BY vec_id LIMIT 64),
       |${lloydRounds("s", "", "ssample", iters = 3, dim = 64, materialized = true)},
       |sfa AS (
       |  ${nearestCentroid("emb", "scent3")}),
       |sasg AS MATERIALIZED (SELECT vec_id, e, ci FROM sfa WHERE rk = 1),
       |spairs AS MATERIALIZED (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2,
       |    list_sum(list_transform(list_zip(a.e, b.e), p -> p[1]*p[2])) /
       |    (sqrt(list_sum(list_transform(a.e, x -> x*x))) *
       |     sqrt(list_sum(list_transform(b.e, x -> x*x)))) AS c
       |  FROM sasg a JOIN sasg b ON a.ci = b.ci AND a.vec_id < b.vec_id)""".stripMargin

  /** The incremental-SemDeDup replay: Lloyd trained on the CORPUS split
    * (`vec_id % 10 <> 0`, ordered sample), then batch AND corpus both
    * assigned against the final centroids, pairs = batch × corpus
    * within a shared cluster. Same tie rules as the Spark side
    * (first-min argmin = ORDER BY dist, ci). */
  private val semDedupIncOracleCtes: String =
    // icent$i is referenced twice per level and the final icent by both
    // assignment passes; icasg/ibasg each feed two consumers in
    // ivf_maintenance — MATERIALIZED keeps the replay linear
    s"""emb AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |icorp AS MATERIALIZED (SELECT vec_id, e FROM emb WHERE vec_id % 10 <> 0),
       |ibat AS (SELECT vec_id, e FROM emb WHERE vec_id % 10 = 0),
       |isample AS (SELECT vec_id, e FROM icorp ORDER BY vec_id LIMIT 2000),
       |icent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e AS cv
       |           FROM isample ORDER BY vec_id LIMIT 64),
       |${lloydRounds("i", "", "isample", iters = 3, dim = 64, materialized = true)},
       |icasg AS MATERIALIZED (SELECT vec_id, e, ci FROM (
       |  ${nearestCentroid("icorp", "icent3")}) WHERE rk = 1),
       |ibasg AS MATERIALIZED (SELECT vec_id, e, ci FROM (
       |  ${nearestCentroid("ibat", "icent3")}) WHERE rk = 1),
       |ipairs AS (
       |  SELECT b.vec_id AS new_id, a.vec_id AS corpus_id,
       |    list_sum(list_transform(list_zip(b.e, a.e), p -> p[1]*p[2])) /
       |    (sqrt(list_sum(list_transform(b.e, x -> x*x))) *
       |     sqrt(list_sum(list_transform(a.e, x -> x*x)))) AS c
       |  FROM ibasg b JOIN icasg a ON b.ci = a.ci)""".stripMargin

  private val ivfOracleSql: String =
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT e AS qv FROM emb WHERE vec_id = 0),
       |sample AS (SELECT vec_id, e FROM emb WHERE vec_id <> 0
       |           ORDER BY vec_id LIMIT 2000),
       |cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e AS cv
       |          FROM sample ORDER BY vec_id LIMIT 8),
       |${lloydRounds("", "", "sample", iters = 3, dim = 64)},
       |probes AS (
       |  SELECT c.ci FROM cent3 c, q
       |  ORDER BY ${l2Sql("c.cv", "q.qv")}, c.ci LIMIT 4),
       |fa AS (
       |  ${nearestCentroid("emb", "cent3", where = " WHERE s.vec_id <> 0")}),
       |kept AS (SELECT vec_id, e FROM fa
       |         WHERE rk = 1 AND ci IN (SELECT ci FROM probes)),
       |scored AS (
       |  SELECT k.vec_id,
       |    list_sum(list_transform(list_zip(k.e, q.qv), p -> p[1] * p[2])) /
       |    (sqrt(list_sum(list_transform(k.e, x -> x*x))) *
       |     sqrt(list_sum(list_transform(q.qv, x -> x*x)))) AS cosine
       |  FROM kept k, q)
       |SELECT vec_id, round(cosine, 6) AS cos FROM scored
       |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  /** Unrolled per-subspace Lloyd + ADC CTEs mirroring
    * [[Similarity.trainPq]] / [[Similarity.pqTopK]]: m=4 subspaces of
    * 16 dims, k=8, iters=2; approximate distance = 4 table lookups
    * summed subspace-major, ordered by the ROUNDED distance then id
    * (exactly the Spark side's ordering). */
  private val pqOracleSql: String = {
    val m = 4; val iters = 2; val dsub = 16; val k = 8
    val subCtes = (0 until m).map { sub =>
      val lo = sub * dsub + 1; val hi = (sub + 1) * dsub
      s"""sample_$sub AS (SELECT vec_id, e[$lo:$hi] AS e FROM sample),
         |cent0_$sub AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e AS cv
         |               FROM sample_$sub ORDER BY vec_id LIMIT $k),
         |${lloydRounds("", s"_$sub", s"sample_$sub", iters, dsub)},
         |fa_$sub AS (
         |  ${nearestCentroid("emb", s"cent${iters}_$sub", s"s.e[$lo:$hi]", " WHERE s.vec_id <> 0")}),
         |code_$sub AS (SELECT vec_id, ci FROM fa_$sub WHERE rk = 1),
         |tbl_$sub AS (SELECT c.ci, ${l2Sql(s"q.qv[$lo:$hi]", "c.cv")} AS d
         |             FROM cent${iters}_$sub c, q)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until m).map(sub =>
      s"JOIN code_$sub c$sub ON c$sub.vec_id = e.vec_id " +
        s"JOIN tbl_$sub t$sub ON t$sub.ci = c$sub.ci").mkString("\n")
    val sumExpr = (0 until m).map(sub => s"t$sub.d").mkString(" + ")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT e AS qv FROM emb WHERE vec_id = 0),
       |sample AS (SELECT vec_id, e FROM emb WHERE vec_id <> 0
       |           ORDER BY vec_id LIMIT 2000),
       |$subCtes
       |SELECT e.vec_id, round($sumExpr, 6) AS adist
       |FROM emb e
       |$joins
       |WHERE e.vec_id <> 0
       |ORDER BY adist, e.vec_id LIMIT 10""".stripMargin
  }

  /** Squared L2 distance between two DOUBLE[] expressions. */
  private def l2Sql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), z -> (z[1]-z[2])*(z[1]-z[2])))"

  /** Every `vecs` row (vec_id, e) against every `cents` centroid (ci,
    * cv) by squared L2 distance of `vec` (default: the whole vector):
    * (vec_id, e, ci, rk), rk = 1 at the nearest centroid, ties to the
    * smallest ci (the Spark side's first-min argmin). */
  private def nearestCentroid(vecs: String, cents: String, vec: String = "s.e",
      where: String = ""): String =
    s"""SELECT vec_id, e, ci,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, ci) AS rk
       |  FROM (SELECT s.vec_id, s.e, c.ci, ${l2Sql(vec, "c.cv")} AS dist
       |        FROM $vecs s CROSS JOIN $cents c$where)""".stripMargin

  /** Unrolled Lloyd rounds mirroring [[Similarity.trainCentroids]]
    * (ordered sample, first-k init, first-min tie-break, per-dim mean
    * in sample order): round i assigns every `sample` vector to its
    * nearest round-(i-1) centroid, averages each cluster's `dim`-d
    * vectors in vec_id order, and keeps an empty cluster's centroid.
    * Round i's CTEs are `p` + `a`/`m`/`cent` + i + `x` (`sa1`,
    * `cent2_3`); the round-0 centroids are the caller's. */
  private def lloydRounds(p: String, x: String, sample: String, iters: Int, dim: Int,
      materialized: Boolean = false): String =
    (1 to iters).map { i =>
      s"""${p}a$i$x AS (
         |  ${nearestCentroid(sample, s"${p}cent${i - 1}$x")}),
         |${p}m$i$x AS (
         |  SELECT ci, list_transform(range(0, $dim), d ->
         |      list_sum(list_transform(vecs, v -> v[d+1])) / cnt) AS cv
         |  FROM (SELECT ci, list(e ORDER BY vec_id) AS vecs, count(*) AS cnt
         |        FROM ${p}a$i$x WHERE rk = 1 GROUP BY ci)),
         |${p}cent$i$x AS ${if (materialized) "MATERIALIZED " else ""}(
         |  SELECT p.ci, COALESCE(m.cv, p.cv) AS cv
         |  FROM ${p}cent${i - 1}$x p LEFT JOIN ${p}m$i$x m ON m.ci = p.ci)""".stripMargin
    }.mkString(",\n")

  /** The dHash/pHash oracles' input: [[graft.functions.ImageSynthPng]]
    * images with text length `doc_id % 4 + lenBase` and synth id
    * `sidExpr`, re-derived as dims and the affine grayscale pixels
    * `px` (doc_id, w, h, y, x, g). */
  private def synthGrayPxCtes(sidExpr: String, lenBase: Int, where: String): String =
    s"""d AS (SELECT doc_id, $sidExpr AS sid, doc_id % 4 + $lenBase AS n
       |  FROM documents$where),
       |dims AS (SELECT doc_id, sid, n % 29 + 4 AS w, n % 19 + 3 AS h FROM d),
       |px AS (SELECT doc_id, w, h, y.r AS y, x.r AS x,
       |    CASE WHEN sid % 4 IN (0, 2)
       |      THEN 3 * ((x.r*3 + y.r*5 + sid) % 256)
       |      ELSE ((x.r*3 + y.r*5 + sid) % 256)
       |           + ((x.r*5 + y.r*7 + sid*2) % 256)
       |           + ((x.r*7 + y.r*9 + sid*3) % 256) END AS g
       |  FROM dims, range(32) x(r), range(24) y(r)
       |  WHERE x.r < w AND y.r < h)""".stripMargin

  /** dHash CTEs mirroring [[ImageCodec.dhashInternal]]
    * over [[graft.functions.ImageSynthPng]] images with text length
    * `doc_id % 4 + 15`: re-derive dims, enumerate the affine pixels,
    * average-pool into the 8×9 grid (integer `//`), compare adjacent
    * cells by cross-multiplication, rebuild the signed 64-bit hash
    * (bit 63 folded in via BIGINT wrap-around, no HUGEINT shifts). */
  private def dhashCtes(sidExpr: String, where: String = ""): String =
    s"""${synthGrayPxCtes(sidExpr, 15, where)},
       |cells AS (SELECT doc_id, (y*8)//h AS cy, (x*9)//w AS cx,
       |    sum(g) AS s, count(*) AS cnt
       |  FROM px GROUP BY 1, 2, 3),
       |bits AS (SELECT a.doc_id, a.cy, a.cx,
       |    CASE WHEN a.s * b.cnt < b.s * a.cnt THEN 1 ELSE 0 END AS bit
       |  FROM cells a JOIN cells b
       |    ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1),
       |hashes AS (SELECT doc_id,
       |    CAST(CAST(u62 AS BIGINT)
       |      + top * ((-9223372036854775807)::BIGINT - 1) AS BIGINT) AS dhash
       |  FROM (SELECT doc_id,
       |      sum(CASE WHEN cy*8 + cx = 63 THEN 0
       |          ELSE bit * (1::BIGINT << (cy*8 + cx)) END) AS u62,
       |      max(CASE WHEN cy*8 + cx = 63 THEN bit ELSE 0 END) AS top
       |    FROM bits GROUP BY 1))""".stripMargin

  /** pHash CTEs mirroring [[ImageCodec.phashInternal]]
    * over [[graft.functions.ImageSynthPng]] images with text length
    * `doc_id % 4 + 24` (w ≥ 28, h ≥ 8 — always clears the 16×8 grid):
    * re-derive dims, enumerate the affine pixels, average-pool into
    * the 16×8 grid (`(s*64)//cnt` keeps six fractional bits), run the
    * separable fixed-point DCT against the SAME integer cosine table
    * the expression uses (emitted below as VALUES — not recomputed, so
    * a libm cos() difference can never flip a bit), threshold each AC
    * coefficient against the rank-32 AC value, signed 64-bit fold. */
  private def phashCtes(sidExpr: String, where: String = ""): String = {
    val cosx = (for (x <- 0 until ImageCodec.PHASH_W; u <- 0 until 8)
      yield s"($x,$u,${ImageCodec.phashCosX(x)(u)})").mkString(",")
    val cosy = (for (y <- 0 until ImageCodec.PHASH_H; v <- 0 until 8)
      yield s"($y,$v,${ImageCodec.phashCosY(y)(v)})").mkString(",")
    s"""${synthGrayPxCtes(sidExpr, 24, where)},
       |cells AS (SELECT doc_id, (y*8)//h AS cy, (x*16)//w AS cx,
       |    (sum(g) * 64) // count(*) AS gv
       |  FROM px GROUP BY 1, 2, 3),
       |cosx(x, u, c) AS (VALUES $cosx),
       |cosy(y, v, c) AS (VALUES $cosy),
       |rp AS (SELECT cells.doc_id, cosx.u, cells.cy,
       |    sum(cells.gv * cosx.c) AS r
       |  FROM cells JOIN cosx ON cosx.x = cells.cx GROUP BY 1, 2, 3),
       |cf AS (SELECT rp.doc_id, rp.u, cosy.v, sum(rp.r * cosy.c) AS coef
       |  FROM rp JOIN cosy ON cosy.y = rp.cy GROUP BY 1, 2, 3),
       |med AS (SELECT doc_id, coef AS m FROM (
       |    SELECT doc_id, coef,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY coef) AS rk
       |    FROM cf WHERE NOT (u = 0 AND v = 0)) WHERE rk = 32),
       |pbits AS (SELECT cf.doc_id, cf.v*8 + cf.u AS idx,
       |    CASE WHEN cf.coef > med.m THEN 1 ELSE 0 END AS bit
       |  FROM cf JOIN med ON med.doc_id = cf.doc_id
       |  WHERE NOT (cf.u = 0 AND cf.v = 0)),
       |hashes AS (SELECT doc_id,
       |    CAST(CAST(u62 AS BIGINT)
       |      + top * ((-9223372036854775807)::BIGINT - 1) AS BIGINT) AS phash
       |  FROM (SELECT doc_id,
       |      sum(CASE WHEN idx = 63 THEN 0
       |          ELSE bit * (1::BIGINT << idx) END) AS u62,
       |      max(CASE WHEN idx = 63 THEN bit ELSE 0 END) AS top
       |    FROM pbits GROUP BY 1))""".stripMargin
  }

  /** The CCITT G.711 expansion as SQL over a code expression `c`,
    * branching on a boolean `ulaw` column — shared by the
    * `mm_audio_g711` oracle and [[audioFpCtes]]. */
  private def g711ExpandSql(c: String): String =
    s"""CASE WHEN ulaw THEN
       |  CASE WHEN ((255 - $c) & 128) <> 0
       |    THEN 132 - (((((255 - $c) & 15) * 8) + 132) << (((255 - $c) >> 4) & 7))
       |    ELSE (((((255 - $c) & 15) * 8) + 132) << (((255 - $c) >> 4) & 7)) - 132 END
       |ELSE
       |  CASE WHEN (xor($c, 85) & 128) <> 0 THEN
       |    CASE WHEN ((xor($c, 85) & 112) >> 4) = 0
       |      THEN (xor($c, 85) & 15) * 16 + 8
       |      ELSE ((xor($c, 85) & 15) * 16 + 264)
       |        << (greatest(1, (xor($c, 85) & 112) >> 4) - 1) END
       |  ELSE -(
       |    CASE WHEN ((xor($c, 85) & 112) >> 4) = 0
       |      THEN (xor($c, 85) & 15) * 16 + 8
       |      ELSE ((xor($c, 85) & 15) * 16 + 264)
       |        << (greatest(1, (xor($c, 85) & 112) >> 4) - 1) END) END
       |END""".stripMargin

  /** Audio-fingerprint CTEs mirroring [[graft.functions.AudioCodec
    * .fingerprintInternal]] over [[graft.functions.AudioSynthG711]]
    * clips with text length `lenExpr`: code (i, c) =
    * floorMod(i·(7+2c) + sid·(3+c), 256) expanded through the G.711
    * μ-law/A-law formulas (format by sid parity — the companded
    * expansion makes the energy contour oscillate), channels =
    * (sid % 4) / 2 + 1, frames = n % 241 + 20; |amplitudes| pool into
    * 65 blocks, bit b = quieter-than-next, signed fold like dhash. */
  private def audioFpCtes(sidExpr: String, lenExpr: String,
      where: String = ""): String =
    s"""d AS (SELECT doc_id, $sidExpr AS sid, ($lenExpr) % 241 + 20 AS nf
       |  FROM documents$where),
       |fr AS (SELECT doc_id, nf, sid, (sid % 4) // 2 + 1 AS ch,
       |    sid % 2 = 0 AS ulaw, i.r AS i,
       |    (i.r*7 + sid*3) % 256 AS c0, (i.r*9 + sid*4) % 256 AS c1
       |  FROM d, range(261) i(r) WHERE i.r < nf),
       |amp AS (SELECT doc_id, nf, i,
       |    abs(${g711ExpandSql("c0")})
       |    + CASE WHEN ch = 2
       |        THEN abs(${g711ExpandSql("c1")}) ELSE 0 END AS a
       |  FROM fr),
       |blocks AS (SELECT doc_id, (i*65)//nf AS b,
       |    sum(a) AS s, count(*) AS cnt
       |  FROM amp GROUP BY 1, 2),
       |fbits AS (SELECT x.doc_id, x.b AS p,
       |    CASE WHEN x.s * y.cnt < y.s * x.cnt THEN 1 ELSE 0 END AS bit
       |  FROM blocks x JOIN blocks y
       |    ON x.doc_id = y.doc_id AND y.b = x.b + 1 AND x.b < 64),
       |fhashes AS (SELECT doc_id,
       |    CAST(CAST(u62 AS BIGINT)
       |      + top * ((-9223372036854775807)::BIGINT - 1) AS BIGINT) AS afp
       |  FROM (SELECT doc_id,
       |      sum(CASE WHEN p = 63 THEN 0
       |          ELSE bit * (1::BIGINT << p) END) AS u62,
       |      max(CASE WHEN p = 63 THEN bit ELSE 0 END) AS top
       |    FROM fbits GROUP BY 1))""".stripMargin

  /** Portable universal-hash minhash CTEs mirroring
    * [[Dedup.minhashLshPairsPortable]] (constants shared via
    * [[Dedup.uhA]]/[[Dedup.uhB]]). */
  private def minhashCtes(numHashes: Int, bands: Int,
      where: String = ""): String = {
    val rowsPer = numHashes / bands
    val sigList = (0 until numHashes)
      .map(i => s"min((x * ${Dedup.uhA(i)} + ${Dedup.uhB(i)}) % ${Dedup.uhP}) " +
        s"AS m$i")
      .mkString(",\n      ")
    val sigArr = (0 until numHashes).map(i => s"m$i").mkString(", ")
    val bandList = (0 until bands)
      .map(b => s"md5(array_to_string(sig[${rowsPer * b + 1}:${rowsPer * (b + 1)}], '|'))")
      .mkString(",\n      ")
    s"""$shingleCtes,
       |hs AS (
       |  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x
       |  FROM (SELECT doc_id, unnest(sh) AS s FROM sh$where)),
       |mins AS (
       |  SELECT doc_id,
       |      $sigList
       |  FROM hs GROUP BY doc_id),
       |sigs AS (SELECT doc_id, [$sigArr] AS sig FROM mins),
       |banded AS (
       |  SELECT doc_id, unnest([
       |      $bandList]) AS band
       |  FROM sigs)""".stripMargin
  }

  /** 60-bit md5 simhash CTEs mirroring [[Dedup.simhashPairsPortable]]. */
  private val simhash60Ctes: String = {
    val sums = (0 until 60).map(j => s"sum((h >> $j) & 1) AS c$j")
      .mkString(",\n      ")
    val simBits = (0 until 60)
      .map(j => s"CASE WHEN 2*c$j > n THEN (1::BIGINT << $j) ELSE 0::BIGINT END")
      .mkString(" +\n      ")
    s"""$shingleCtes,
       |hv AS (
       |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
       |votes AS (
       |  SELECT doc_id, count(*) AS n,
       |      $sums
       |  FROM hv GROUP BY doc_id),
       |sim AS (
       |  SELECT doc_id,
       |      $simBits AS sim
       |  FROM votes)""".stripMargin
  }

  // mirrors WarcCodec.synthWarc record-by-record: response records'
  // content_length counts the full HTTP payload (status line + headers
  // + CRLFs + body), others just the body; gzip framing is
  // result-invisible so the plain and .gz gates share this oracle
  private val warcRecordsOracle: String =
    """WITH recs AS (
      |  SELECT doc_id, f.r AS r
      |  FROM documents, range(3) f(r)
      |  WHERE f.r < ((doc_id % 3) + 3) % 3 + 1),
      | t AS (
      |  SELECT doc_id, r, ((doc_id + r) % 3 + 3) % 3 AS ty,
      |    'payload-' || CAST(doc_id AS VARCHAR) || '-' ||
      |      CAST(r AS VARCHAR) AS body,
      |    CASE ((doc_id + r + 1) % 3 + 3) % 3 WHEN 0 THEN '200 OK'
      |      WHEN 1 THEN '404 Not Found'
      |      ELSE '301 Moved Permanently' END AS statusline
      |  FROM recs)
      |SELECT doc_id,
      |  CASE ty WHEN 0 THEN 'response' WHEN 1 THEN 'request'
      |    ELSE 'metadata' END AS warc_type,
      |  'https://site' || CAST(((doc_id % 11) + 11) % 11 AS VARCHAR) ||
      |    '.example/p/' || CAST(r AS VARCHAR) AS target_uri,
      |  '2024-01-01T00:00:00Z' AS warc_date,
      |  CAST(CASE WHEN ty = 0 THEN
      |      9 + length(statusline) + 2 +
      |      23 + 2 +
      |      16 + length(CAST(length(body) AS VARCHAR)) + 2 +
      |      2 + length(body)
      |    ELSE length(body) END AS BIGINT) AS content_length,
      |  CAST(CASE WHEN ty = 0 THEN
      |    CASE ((doc_id + r + 1) % 3 + 3) % 3 WHEN 0 THEN 200
      |      WHEN 1 THEN 404 ELSE 301 END END AS INTEGER) AS http_status,
      |  CASE WHEN ty = 0 THEN 'text/html' END AS http_content_type,
      |  CAST(length(body) AS BIGINT) AS body_len,
      |  body
      |FROM t""".stripMargin
}
