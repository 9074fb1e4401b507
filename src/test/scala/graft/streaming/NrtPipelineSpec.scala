package graft.streaming

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession

/** §3.2 end-to-end NRT lifecycle (the `pipeline_nrt` and
  * `pipeline_nrt_rest` gates' one body): due plan → item properties
  * seeded → windowed ERDDAP read → fingerprint skip → blue-green
  * overwrite → touch. The DuckDB oracle checks VALUES; these specs pin
  * the SIDE EFFECTS the oracle can't see — which slot directories get
  * written, idempotence across runs, and the unchanged-skip actually
  * skipping the write. */
class NrtPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** (dataset_id, was_due, changed, slot_after) of one run's report. */
  private def flags(rows: Seq[Seq[Any]]): Seq[(Any, Any, Any, Any)] =
    rows.map(r => (r(0), r(1), r(2), r(4)))
  // ranks: click=1 (not due), error=2 (changed), purchase=3 (no-op),
  // signup=4 (changed), view=5 (no-op)
  private val fixtureRules = Seq(
    ("ds_click", false, false, "a"),
    ("ds_error", true, true, "b"),
    ("ds_purchase", true, false, "a"),
    ("ds_signup", true, true, "b"),
    ("ds_view", true, false, "a"))

  test("nrt pipeline: outcomes follow the due/changed fixture rules") {
    val out = NrtPipeline.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2),
        r.getLong(3), r.getString(4)))
      .sortBy(_._1)
    assert(out.map(o => (o._1, o._2, o._3, o._5)).toSeq == fixtureRules)
    // changed datasets report the written window count; others -1
    assert(out.filter(_._3).forall(_._4 > 0L))
    assert(out.filterNot(_._3).forall(_._4 == -1L))
  }

  test("nrt pipeline: unchanged-skip never writes; runs are idempotent") {
    val first = NrtPipeline.run(spark, sfDir).collect()
      .map(_.toSeq).sortBy(_.head.toString)
    val fixDir = NrtPipeline.ensureFixture(spark, sfDir)
    // no-op datasets (purchase/view) must have NO inactive-slot write:
    // the fingerprint matched, so the sink dir was never created
    assert(!Files.exists(Path.of(fixDir, "sink", "ds_purchase", "b")))
    assert(!Files.exists(Path.of(fixDir, "sink", "ds_view", "b")))
    // changed datasets DID write their inactive slot
    assert(Files.exists(Path.of(fixDir, "sink", "ds_error", "b")))
    assert(Files.exists(Path.of(fixDir, "sink", "ds_signup", "b")))
    // second run over the same fixtures → byte-identical report (the
    // scheduled job is re-entrant; K8 overwrite keeps it idempotent).
    // Both must still follow the rules: a re-run that added a second
    // item instead of finding the first would refresh the wrong one.
    val second = NrtPipeline.run(spark, sfDir).collect()
      .map(_.toSeq).sortBy(_.head.toString)
    assert(first.toSeq == second.toSeq)
    assert(flags(second.toSeq) == fixtureRules)
  }

  test("nrt pipeline: written slot holds exactly the 7-day window rows") {
    NrtPipeline.run(spark, sfDir).collect()
    val fixDir = NrtPipeline.ensureFixture(spark, sfDir)
    import org.apache.spark.sql.functions._
    val events = graft.Tables.load(spark, sfDir, "events")
    val now = events.agg(date_trunc("second", max(col("ts"))))
      .head().getTimestamp(0)
    val expected = events
      .filter(col("event_type") === "error")
      .filter(date_trunc("second", col("ts")) >=
        lit(new java.sql.Timestamp(now.getTime - 7 * 86400000L)) &&
        date_trunc("second", col("ts")) <= lit(now))
      .count()
    val slot = spark.read.parquet(
      Nrt.activePath(s"$fixDir/sink", "ds_error", "b")).count()
    assert(slot == expected)
  }

  test("nrt fixture: the DAS declares every CSV column, so the read schema is time, value") {
    val fixDir = NrtPipeline.ensureFixture(spark, sfDir)
    val df = spark.read.format("erddap")
      .option("dataDir", fixDir).option("dataset", "ds_error").load()
    assert(df.schema.fieldNames.toSeq == Seq("time", "value"))
    assert(df.schema("value").dataType == org.apache.spark.sql.types.DoubleType)
  }

  test("nrt pipeline: the local and REST transports report the same outcomes") {
    val local = NrtPipeline.run(spark, sfDir).collect().map(_.toSeq).sortBy(_.head.toString)
    val rest = NrtPipeline.runViaRest(spark, sfDir).collect().map(_.toSeq)
      .sortBy(_.head.toString)
    assert(local.toSeq == rest.toSeq)
  }
}
