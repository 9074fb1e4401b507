package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §3.2 END-TO-END NRT LIFECYCLE — the reference's flagship scheduled
  * path (`core.py:806-880` + `OverwriteFS.py:2137-2369`) as ONE
  * composite flow over deterministic fixtures, oracled as the
  * `pipeline_nrt` (in-JVM [[graft.sinks.Portal]] model) and
  * `pipeline_nrt_rest` (live sharing-REST transport) gates:
  *
  *   Last-Modified probes → [[Nrt.duePlan]] → item properties seeded
  *   with the control state (activeSlot, fingerprint; the reference's
  *   tag-recovered item state, `update_manager.py:30-84`) →
  *   [[Nrt.refreshCycleViaPortal]]: 7-day moving-window read THROUGH
  *   the ERDDAP DSv2 source (the window compiles into the request URL —
  *   T1 + S7) → [[Nrt.tableFingerprint]] unchanged-skip (T2) → blue-green
  *   slot overwrite (K8 + K10) → item touch (K11).
  *
  * Fixture design (everything DuckDB can replay from `events.parquet`):
  * the events table is sliced into one tabledap dataset per
  * `event_type` (5 datasets). With types ranked alphabetically:
  *   - rank 1: the source's Last-Modified has NOT advanced past the
  *     stored one → not due, never read (the reference skips items
  *     whose catalog date hasn't moved, `update_manager.py:118-151`);
  *   - even ranks: due, stored fingerprint is STALE → full overwrite of
  *     the inactive slot, slot flips a→b (`OverwriteFS.py:2137-2369`);
  *   - odd ranks > 1: due, fresh window fingerprints EQUAL to stored →
  *     no-op refresh, slot kept, item still touched (the reference's
  *     success=None outcome + dependent touch, `OverwriteFS.py:2182-2196`,
  *     2670-2686).
  *
  * Scale shape: the item inventory is item-count-sized (the reference
  * manages hundreds of AGOL items), so the driver loop over due
  * datasets is bounded by construction; each per-dataset
  * read/fingerprint/write is a distributed job whose data plane never
  * lands on the driver.
  */
object NrtPipeline {

  /** One tabledap CSV+DAS fixture per event_type, written idempotently
    * (per sfDir) to the JVM tmpdir. Times are truncated to seconds —
    * ERDDAP's URL constraint grammar is second-granular, and the oracle
    * applies the same `date_trunc('second', ts)`. */
  def ensureFixture(spark: SparkSession, sfDir: String): String = {
    val safe = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    // content tag: regenerated testdata at the same path must rebuild
    // the fixture, not serve the stale one (dir name carries the
    // source-parquet fingerprint)
    val tag = graft.Tables.contentTag(sfDir, "events")
    // format tag (f2: one DAS attribute per line): a changed fixture
    // layout must not reuse a stale `_READY` dir from an older build
    val dir = Path.of(System.getProperty("java.io.tmpdir"),
      s"graft_nrt_fixture_f2_${safe}_$tag")
    val marker = dir.resolve("_READY")
    if (Files.exists(marker)) return dir.toString
    Files.createDirectories(dir)
    // the fixture source is bounded (events at test SFs); a production
    // deployment points the connector at the real server instead
    val rows = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_type"), date_trunc("second", col("ts")).as("ts"),
        col("value"))
      .orderBy(col("event_type"), col("ts"), col("value"))
      .collect()
    rows.groupBy(_.getString(0)).foreach { case (tp, rs) =>
      val body = rs.map { r =>
        val iso = graft.erddap.ChunkPlanner.isoNoZone(r.getTimestamp(1).toInstant) + "Z"
        val v = if (r.isNullAt(2)) "" else r.getDouble(2).toString
        s"$iso,$v"
      }
      Files.writeString(dir.resolve(s"ds_$tp.csv"),
        ("time,value" +: body.toSeq).mkString("\n"))
      val secs = rs.map(_.getTimestamp(1).toInstant.getEpochSecond)
      val vals = rs.filterNot(_.isNullAt(2)).map(_.getDouble(2))
      def f(d: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, d)
      val (vLo, vHi) =
        if (vals.isEmpty) ("0.0", "0.0") else (f(vals.min), f(vals.max))
      // one attribute per line: the parser opens a section only on a
      // line ENDING in `{`, like the reference's (`das_client.py:25-135`)
      Files.writeString(dir.resolve(s"ds_$tp.das"),
        s"""Attributes {
           |  time {
           |    String ioos_category "Time";
           |    Float64 actual_range ${secs.min}.0, ${secs.max}.0;
           |  }
           |  value {
           |    Float64 actual_range $vLo, $vHi;
           |  }
           |  NC_GLOBAL {
           |    String title "NRT fixture $tp";
           |  }
           |}""".stripMargin)
    }
    Files.writeString(marker, "ok")
    dir.toString
  }

  /** The trailing-window ERDDAP read for one dataset — the time range
    * pushes down into the compiled tabledap URL (asserted in
    * ExplainCheck's `nrt_window_pushdown` audit). */
  def freshWindow(spark: SparkSession, fixDir: String, datasetId: String,
      now: java.sql.Timestamp, windowDays: Int = 7): DataFrame =
    Nrt.movingWindow(
      spark.read.format("erddap")
        .option("dataDir", fixDir).option("dataset", datasetId).load(),
      "time", now, windowDays)

  /** `pipeline_nrt`: the lifecycle over the in-JVM [[graft.sinks.Portal]]
    * model. Its root is stable under the fixture dir, so a re-run in the
    * same JVM recovers the items the previous run left behind. */
  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val fixDir = ensureFixture(spark, sfDir)
    lifecycle(spark, sfDir, fixDir,
      graft.sinks.PortalTransport(s"$fixDir/portal"), s"$fixDir/sink")
  }

  /** `pipeline_nrt_rest`: the SAME lifecycle over real sockets — a
    * localhost [[graft.sinks.FakeAgolServer]] exposes a portal, and
    * add / search / props / update / touch all go over HTTP through
    * [[graft.sinks.RestPortalTransport]] (reference flow
    * `OverwriteFS.py:1744-2688`). Same oracle as `pipeline_nrt`. */
  def runViaRest(spark: SparkSession, sfDir: String): DataFrame = {
    val fixDir = ensureFixture(spark, sfDir)
    val user = "gcoos"; val pass = "fixture-pass"
    val server = new graft.sinks.FakeAgolServer(new graft.sinks.Portal(
      Files.createTempDirectory("portal_nrt_rest").toString), user, pass)
    try lifecycle(spark, sfDir, fixDir,
      graft.sinks.PortalTransport(server.base, user, pass), s"$fixDir/sink_rest")
    finally server.stop()
  }

  /** The one lifecycle body; returns one outcome row per dataset:
    * (dataset_id, was_due, changed, rows_written, slot_after,
    * refreshed_at_s). `rows_written` is the row count the slot write
    * observed for changed datasets, -1 otherwise;
    * `slot_after` is read back from the portal's post-cycle item
    * properties — the state a next scheduled run would recover. The
    * report is a local relation, so it outlives the transport. */
  private def lifecycle(spark: SparkSession, sfDir: String, fixDir: String,
      transport: graft.sinks.PortalTransport, sinkRoot: String): DataFrame = {
    import spark.implicits._
    val events = graft.Tables.load(spark, sfDir, "events")
    val nowTs = events.agg(date_trunc("second", max(col("ts"))).as("now"))
      .head().getTimestamp(0)
    val dayBefore = new java.sql.Timestamp(nowTs.getTime - 86400000L)
    val types = events.select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq

    def fresh(id: String): DataFrame = freshWindow(spark, fixDir, id, nowTs)

    // source Last-Modified probe: max(time) per dataset — answered from
    // the DAS actual_range via COMPLETE aggregate pushdown (S6), no
    // data transfer (the reference's catalog-date check)
    // r15 (guide §2.6): the per-dataset Last-Modified probes are
    // independent driver-submitted jobs — overlap them on the small
    // pool (order-preserving, so downstream seeds are unchanged)
    val srcLmSeq = Nrt.parMap(types) { tp =>
      val id = s"ds_$tp"
      val m = spark.read.format("erddap")
        .option("dataDir", fixDir).option("dataset", id).load()
        .agg(max(col("time"))).head().getTimestamp(0)
      id -> m
    }
    val srcLm = srcLmSeq.toDF("dataset_id", "last_modified")

    // seed ("what the last scheduled run left behind"): rank 1 already
    // saw the current source mtime → not due; even ranks carry a
    // deliberately stale fingerprint → overwrite path; odd ranks > 1
    // carry the true fingerprint of the current window → no-op path
    // r15 (guide §2.6): per-dataset window fingerprints are likewise
    // independent jobs — overlapped, order preserved
    val seedRows = Nrt.parMap(types.zipWithIndex) { case (tp, i) =>
      val r = i + 1
      val id = s"ds_$tp"
      val actual = Nrt.tableFingerprint(fresh(id))
      val stored = if (r > 1 && r % 2 == 0) actual + 1L else actual
      val srcM = srcLmSeq(i)._2
      val ctlM =
        if (r == 1) srcM else new java.sql.Timestamp(srcM.getTime - 3600000L)
      (id, stored, ctlM, dayBefore)
    }

    // due plan: the age branch is disabled (fixtures live in 2024 wall
    // time), so due-ness is purely the Last-Modified comparison
    val seeded = seedRows.toDF("dataset_id", "fingerprint", "last_modified",
      "last_refresh")
    val dueIds = Nrt.duePlan(seeded, srcLm, maxAgeHours = 24 * 365 * 1000)
      .select("dataset_id").collect().map(_.getString(0)).sorted.toSeq

    // seed the item properties with the control state; an item a
    // previous run left behind is found, not added again (a second add
    // would be renamed `<id>_1` and the refresh would miss it)
    val itemIds = seedRows.map { case (id, stored, _, _) =>
      val item = transport.findByTitle(id).getOrElse(transport.addOrRetry(
        id, "Feature Service", Seq("erddap2agol", s"did_$id")))
      transport.update(item.id,
        Map("activeSlot" -> "a", "fingerprint" -> stored.toString))
      id -> item.id
    }.toMap

    val outcomes = Nrt.refreshCycleViaPortal(spark, dueIds,
      id => fresh(id), transport, sinkRoot, now = nowTs.getTime)
    val byId = outcomes.map(o => o.datasetId -> o).toMap

    val report = types.map { tp =>
      val id = s"ds_$tp"
      val o = byId.get(id).filterNot(_.failed)
      val slotAfter = transport.props(itemIds(id))("activeSlot")
      (id, dueIds.contains(id), o.exists(_.changed),
        o.filter(_.changed).map(_.rows).getOrElse(-1L), slotAfter,
        if (o.isDefined) nowTs else dayBefore)
    }
    report.toDF("dataset_id", "was_due", "changed", "rows_written",
      "slot_after", "refreshed_at_s")
  }
}
