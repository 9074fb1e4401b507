package graft.sinks

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession
import graft.streaming.Nrt

/** The ONE portal seam, exercised with the SAME scenarios against both
  * backends: the in-JVM [[Portal]] model (directory root) and the live
  * REST client over a localhost sharing-REST server (http root). The
  * factory's scheme selection is part of what's under test. */
class PortalTransportSpec extends AnyFunSuite with FakeAgolServers {
  lazy val spark = SparkTestSession.spark

  private def localTransport(): PortalTransport =
    PortalTransport(java.nio.file.Files.createTempDirectory("pt_local").toString)

  private def restTransport(): PortalTransport = {
    val server = startServer("pt_rest")
    PortalTransport(server.base, "gcoos", "fixture-pass")
  }

  private def scenarios(name: String, mk: () => PortalTransport): Unit = {
    test(s"[$name] factory selects the backend by scheme") {
      val t = mk()
      if (name == "rest") assert(t.isInstanceOf[RestPortalTransport])
      else assert(t.isInstanceOf[LocalPortalTransport])
    }

    test(s"[$name] addOrRetry renames on title conflict: _1, _2") {
      val t = mk()
      val a = t.addOrRetry("Dup", "CSV", Seq("t1"))
      val b = t.addOrRetry("Dup", "CSV", Seq("t1"))
      val c = t.addOrRetry("Dup", "CSV", Seq("t1"))
      assert(Seq(a, b, c).map(_.title) == Seq("Dup", "Dup_1", "Dup_2"))
      assert(Seq(a, b, c).map(_.id).distinct.size == 3)
      assert(t.findByTitle("Dup_1").map(_.id).contains(b.id))
    }

    test(s"[$name] tag search uses AND semantics") {
      val t = mk()
      t.addOrRetry("A", "Feature Service", Seq("erddap2agol", "did_a"))
      t.addOrRetry("B", "Feature Service", Seq("erddap2agol", "did_b"))
      assert(t.searchByTags(Seq("erddap2agol")).size == 2)
      assert(t.searchByTags(Seq("erddap2agol", "did_b")).map(_.title) == Seq("B"))
      assert(t.searchByTags(Seq("erddap2agol", "nope")).isEmpty)
    }

    test(s"[$name] props update merges; backup/restore forces hasLiveData=false") {
      val t = mk()
      val item = t.addOrRetry("Props", "Feature Service", Nil)
      t.update(item.id, Map("snippet" -> "s1", "hasLiveData" -> "true"))
      assert(t.props(item.id)("snippet") == "s1")
      val backup = t.backupProperties(item.id)
      t.update(item.id, Map("snippet" -> "overwritten", "addedLater" -> "x"))
      t.restoreProperties(item.id, backup)
      val restored = t.props(item.id)
      assert(restored("snippet") == "s1")
      assert(restored("hasLiveData") == "false") // K9's timeInfo reset
      // restore REPLACES the snapshot: a key that appeared after the
      // backup must not survive it (REST tombstones via empty values)
      assert(!restored.contains("addedLater"))
    }

    test(s"[$name] K9 typed index + timeInfo restore crosses the seam") {
      val t = mk()
      val item = t.addOrRetry("Indexed", "Feature Service", Nil)
      // restore a backup carrying a duplicate index name, an oversized
      // key, and a timeInfo blob — the rules must apply identically on
      // both backends, and read back through the seam
      val backup = PortalTransport.PropertyBackup(
        Map("snippet" -> "s1"),
        Seq("idx_id" -> "id", "idx_id" -> "id,v",
          "idx_big" -> ("f" * 4001), "idx_t" -> "ts",
          // an OVERSIZED first occurrence claims the name, so the later
          // small twin must NOT revive it (dedupe before size filter —
          // the reference's replay order)
          "idx_shadow" -> ("g" * 4001), "idx_shadow" -> "ok"),
        Some("""{"startTimeField":"ts"}"""))
      t.restoreProperties(item.id, backup)
      val rt = t.backupProperties(item.id)
      assert(rt.indexes == Seq("idx_id" -> "id", "idx_t" -> "ts"),
        "indexes deduped by name (first wins) THEN >4000-byte keys dropped")
      assert(rt.timeInfo.contains("""{"startTimeField":"ts"}"""))
      assert(rt.props("snippet") == "s1")
      assert(rt.props("hasLiveData") == "false")
    }

    test(s"[$name] relations: relate/related/unrelate; verifyOverwrite refuses WFS dependents") {
      val t = mk()
      val svc = t.addOrRetry("Svc", "Feature Service", Nil)
      val wfs = t.addOrRetry("Wfs dep", "WFS", Nil)
      t.relate(svc.id, wfs.id)
      assert(t.related(svc.id).map(_.id) == Seq(wfs.id))
      val e = intercept[IllegalStateException](
        PortalTransport.verifyOverwrite(t, svc.id))
      assert(e.getMessage.contains("dependent WFS Service exists"))
      t.relate(svc.id, wfs.id, unRelate = true)
      assert(t.related(svc.id).isEmpty)
      PortalTransport.verifyOverwrite(t, svc.id) // no longer refused
    }

    test(s"[$name] verifyOverwrite refuses change-tracking-enabled views") {
      val t = mk()
      val svc = t.addOrRetry("Tracked", "Feature Service", Nil)
      t.update(svc.id, Map("hasChangeTrackingEnabledViews" -> "true"))
      val e = intercept[IllegalStateException](
        PortalTransport.verifyOverwrite(t, svc.id))
      assert(e.getMessage.contains("Change Tracking Enabled"))
    }

    test(s"[$name] publish creates the hosted service, related to its source") {
      val t = mk()
      val src = t.addOrRetry("To publish", "CSV", Seq("tp"))
      val svcId = t.publish(src.id)
      assert(svcId.nonEmpty && svcId != src.id)
      assert(t.related(svcId).map(_.id).contains(src.id))
    }

    test(s"[$name] Nrt.refreshViaPortal: publish, no-op on unchanged, slot flip on change") {
      import spark.implicits._
      val t = mk()
      val sink = java.nio.file.Files.createTempDirectory("nrt_pt").toString
      val v1 = Seq((1, "a"), (2, "b")).toDF("id", "v")

      val r1 = Nrt.refreshViaPortal(spark, "ds1", v1, t, sink)
      assert(r1.changed && r1.rows == 2)
      val item = t.findByTitle("ds1").get
      val slot1 = t.props(item.id)("activeSlot")

      // same data → fingerprint match → no-op, slot unchanged
      val r2 = Nrt.refreshViaPortal(spark, "ds1", v1, t, sink)
      assert(!r2.changed && t.props(item.id)("activeSlot") == slot1)

      // changed data → slot flips, fingerprint advances
      val r3 = Nrt.refreshViaPortal(spark, "ds1",
        Seq((1, "a"), (2, "CHANGED")).toDF("id", "v"), t, sink)
      assert(r3.changed && t.props(item.id)("activeSlot") != slot1)
      assert(t.props(item.id)("fingerprint") == r3.newFingerprint.toString)
      val active = Nrt.activePath(sink, "ds1", t.props(item.id)("activeSlot"))
      assert(spark.read.parquet(active).count() == 2)
    }
  }

  scenarios("local", () => localTransport())
  scenarios("rest", () => restTransport())

  test("DSv2 sink commit drives the REST backend when portalUrl is set") {
    import spark.implicits._
    val server = startServer("pt_sink_rest")
    val root = java.nio.file.Files.createTempDirectory("pt_sink_stage").toString
    Seq((1, "x"), (2, "y")).toDF("id", "v")
      .repartition(1)
      .write.format("portal")
      .option("root", root).option("item", "Rest published")
      .option("portalUrl", server.base)
      .option("username", "gcoos").option("password", "fixture-pass")
      .mode("append").save()
    // control plane landed on the REMOTE portal, not a local model
    val item = server.portal.findByTitle("Rest published").get
    val props = server.portal.itemById(item.id).serviceProps
    assert(props("rows") == "2" && props.contains("fingerprint"))
    assert(props("activeSlot").nonEmpty)
    // data plane rode the item-data upload road
    val payload = server.dataStore(item.id)
    assert(payload.contains("1,x") && payload.contains("2,y"))
    // no slot directories appeared under the local staging root
    val local = new java.io.File(root).listFiles()
    assert(local == null || local.isEmpty)

    // …and the DSv2 READ path resolves the published payload back
    // through the SAME REST seam (schema from the item properties,
    // data from the item-data download)
    val back = spark.read.format("portal")
      .option("root", root).option("item", "Rest published")
      .option("portalUrl", server.base)
      .option("username", "gcoos").option("password", "fixture-pass")
      .load()
    assert(back.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(back.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
      .toSeq == Seq((1, "x"), (2, "y")))
    // column pruning still applies through the transport read plane
    assert(back.select("v").orderBy("v").collect().map(_.getString(0)).toSeq
      == Seq("x", "y"))
  }

  test("write→read round trip across A/B slot flips, local backend") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("pt_rt_local").toString
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.repartition(2).write.format("portal")
        .option("root", root).option("item", "rt").mode("append").save()
    write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val r1 = spark.read.format("portal")
      .option("root", root).option("item", "rt").load()
    assert(r1.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b", "c"))
    // second publish flips the slot; the read must follow the pointer
    write(Seq((1, "a2"), (2, "b2")).toDF("id", "v"))
    val r2 = spark.read.format("portal")
      .option("root", root).option("item", "rt").load()
    assert(r2.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a2", "b2"))
  }

  test("K9 restoreIndexPlan replays the reference's full decision table") {
    import PortalTransport.{restoreIndexPlan, IndexDecision}
    val fields = Seq(("objectid", 0), ("time", 0), ("name", 4001), ("note", 8000))
    val saved = Seq(
      ("pk_saved", "OBJECTID"),       // fields already indexed on the layer
      ("empty_saved", ""),            // no fields
      ("ghost_saved", "time, ghost"), // second field missing
      ("wide_first", "note, ghost"),  // FIRST failing field decides: too_large
      ("good", "time"),
      ("dup", "time"))                // same synthesized name as `good`
    val plan = restoreIndexPlan("tbl", fields, Seq("objectid"), saved)
    assert(plan == Seq(
      IndexDecision("pk_saved", "exists_fields", "", ""),
      IndexDecision("empty_saved", "no_fields", "", ""),
      IndexDecision("ghost_saved", "missing_field", "", ""),
      IndexDecision("wide_first", "too_large", "", ""),
      IndexDecision("good", "added", "tbl_time_idx", "time"),
      IndexDecision("dup", "exists_name", "", "")))
    // noIndexes skips everything EXCEPT the fields-match short-circuit
    // (checked before the flag, like the reference)
    val no = restoreIndexPlan("tbl", fields, Seq("objectid"), saved,
      noIndexes = true)
    assert(no.map(_.outcome) ==
      "exists_fields" +: Seq.fill(5)("no_indexes_flag"))
    // multi-field: per-field validation, name joins the trimmed parts,
    // fields re-join comma-separated with no spaces
    val multi = restoreIndexPlan("t2", fields, Nil,
      Seq(("m", "time , objectid")))
    assert(multi == Seq(
      IndexDecision("m", "added", "t2_time_objectid_idx", "time,objectid")))
  }

  test("local Portal restore applies the full plan when the layer schema is known") {
    val p = Portal.forRoot(
      java.nio.file.Files.createTempDirectory("k9plan").toString)
    val item = p.addOrRetry("Planned", "Feature Service", Nil,
      Map.empty[String, String])
    p.setFields(item, Seq(("objectid", 0), ("ts", 0), ("wide", 9000)))
    p.setIndexes(item, Seq("pk" -> "objectid"))
    val backup = p.Backup(Map("snippet" -> "s"),
      Seq("saved_pk" -> "objectid",    // matched by the new layer's pk
        "saved_ts" -> "ts",            // re-created under the synth name
        "saved_wide" -> "wide",        // >4000-byte key column
        "saved_ghost" -> "nope"))      // field absent from the new layer
    val restored = p.restoreProperties(p.itemById(item.id), backup)
    assert(restored.indexes == Seq(
      "pk" -> "objectid", s"${item.id}_ts_idx" -> "ts"))
    assert(restored.serviceProps("hasLiveData") == "false")
  }
}
