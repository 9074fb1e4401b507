package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SparkTestSession

class PortalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def newPortal() = new Portal(
    java.nio.file.Files.createTempDirectory("portal").toString)

  test("item properties: tags + snippet composed from NC_GLOBAL") {
    val (title, tags, props) = Portal.itemProperties("gcoos_42G01", "Buoy 42G01",
      "https://erddap2.gcoos.org/erddap/tabledap/",
      Seq("time", "latitude"), isNrt = true,
      Map("institution" -> "GCOOS", "summary" -> "Buoy observations",
        "license" -> "free"))
    assert(tags.contains("erddap2agol") && tags.contains("did_gcoos_42G01") &&
      tags.contains("e2a_nrt") &&
      tags.contains("https://erddap2.gcoos.org/erddap/tabledap/"))
    assert(props("accessInformation") == "GCOOS")
    assert(props("snippet") ==
      "Buoy observations. Buoy 42G01 was generated with erddap2agol from the erddap2.gcoos.org ERDDAP.")
  }

  test("addOrRetry renames on conflict: title, title_1, title_2; fails after max") {
    val p = newPortal()
    assert(p.addOrRetry("T", "CSV", Nil, Map()).title == "T")
    assert(p.addOrRetry("T", "CSV", Nil, Map()).title == "T_1")
    assert(p.addOrRetry("T", "CSV", Nil, Map()).title == "T_2")
    val p2 = newPortal()
    (0 until 10).foreach(_ => p2.addOrRetry("X", "CSV", Nil, Map(), maxAttempts = 10))
    intercept[IllegalStateException] {
      p2.addOrRetry("X", "CSV", Nil, Map(), maxAttempts = 10)
    }
  }

  test("publish unions chunks by name in one write (K6 collapse)") {
    val p = newPortal()
    val item = p.addOrRetry("data", "CSV", Nil, Map())
    val c1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val c2 = Seq((3L, "c")).toDF("id", "v")
    assert(p.publish(item, Seq(c1, c2)) == 3L)
    assert(spark.read.parquet(p.dataPath(item)).count() == 3)
  }

  test("overwrite preserves service props and indexes transactionally (K9)") {
    val p = newPortal()
    var item = p.addOrRetry("svc", "FeatureService", Nil, Map())
    p.publish(item, Seq(Seq((1L, "x")).toDF("id", "v")))
    item = p.updateServiceProps(item, Map("maxRecordCount" -> "2000",
      "capabilities" -> "Query"))
    item = p.addIndex(item, "idx_id", "id")
    item = p.addIndex(item, "idx_id", "id,v")    // duplicate name → deduped
    item = p.addIndex(item, "idx_big", "f" * 4001) // oversized key → dropped
    val restored = p.overwrite(item, Seq((9L, "z"), (8L, "y")).toDF("id", "v"))
    assert(spark.read.parquet(p.dataPath(restored)).count() == 2)
    assert(restored.serviceProps("maxRecordCount") == "2000")
    assert(restored.serviceProps("hasLiveData") == "false") // forced like reference
    assert(restored.indexes.map(_._1) == Seq("idx_id"))     // deduped + size-limited
  }

  test("GeoPackage backing item routes overwrite through update+publish (K8 tier)") {
    val p = newPortal()
    var svc = p.addOrRetry("gpkg svc", "Feature Service", Nil, Map())
    p.publish(svc, Seq(Seq((1L, "old")).toDF("id", "v")))
    svc = p.updateServiceProps(svc, Map("maxRecordCount" -> "1000",
      "hasLiveData" -> "true"))
    // the service's backing file item is a GeoPackage (Service2Data)
    val gpkg = p.addOrRetry("gpkg file", "GeoPackage", Nil, Map())
    p.relate(svc, Seq(gpkg))

    val fresh = Seq((2L, "new"), (3L, "newer")).toDF("id", "v")
    val restored = p.overwrite(svc, fresh)

    // alternate route: the FILE item's container got the bytes first,
    // and the service re-derived from it
    val fileData = spark.read.parquet(p.dataPath(gpkg))
    assert(fileData.count() == 2 &&
      fileData.select("v").as[String].collect().toSet == Set("new", "newer"))
    val svcData = spark.read.parquet(p.dataPath(svc))
    assert(svcData.select("id").as[Long].collect().toSet == Set(2L, 3L))
    // property restore still applies under the alternate route
    assert(restored.serviceProps("maxRecordCount") == "1000")
    assert(restored.serviceProps("hasLiveData") == "false")

    // a service WITHOUT a GeoPackage backing item takes the manager
    // road: its related file item's container is never created
    var plain = p.addOrRetry("plain svc", "Feature Service", Nil, Map())
    p.publish(plain, Seq(Seq((1L, "o")).toDF("id", "v")))
    val csvItem = p.addOrRetry("csv file", "CSV", Nil, Map())
    p.relate(plain, Seq(csvItem))
    p.overwrite(plain, fresh)
    assert(!new java.io.File(p.dataPath(csvItem)).exists())
  }

  test("overwrite refuses when a dependent view has change tracking enabled") {
    val p = newPortal()
    val item = p.addOrRetry("svc", "Feature Service", Nil, Map())
    p.updateServiceProps(item, Map("hasChangeTrackingEnabledViews" -> "true"))
    val fresh = Seq((1, "a")).toDF("id", "v")
    val e = intercept[IllegalStateException](p.overwrite(item, fresh))
    assert(e.getMessage.contains("Change Tracking Enabled"))
    // clearing the flag unblocks the overwrite
    p.updateServiceProps(item, Map("hasChangeTrackingEnabledViews" -> "false"))
    p.overwrite(item, fresh)
  }

  test("overwrite refuses when a dependent WFS service exists") {
    val p = newPortal()
    val item = p.addOrRetry("svc", "Feature Service", Nil, Map())
    val wfs = p.addOrRetry("svc WFS", "WFS", Nil, Map())
    p.relate(item, Seq(wfs))
    val fresh = Seq((1, "a")).toDF("id", "v")
    val e = intercept[IllegalStateException](p.overwrite(item, fresh))
    assert(e.getMessage.contains("dependent WFS Service"))
    // non-WFS dependents (e.g. the A/B view) do not block
    val p2 = newPortal()
    val item2 = p2.addOrRetry("svc2", "Feature Service", Nil, Map())
    val view = p2.addOrRetry("svc2 view", "Feature Service View", Nil, Map())
    p2.relate(item2, Seq(view))
    p2.overwrite(item2, fresh)
  }

  test("'job failed' overwrite recovers once: drop layers, retry, restore (K8)") {
    val p = newPortal()
    val item = p.addOrRetry("svc", "Feature Service", Nil, Map())
    p.setLayers(item, Seq(p.Layer(0, "obs"), p.Layer(1, "tracks")))
    val fresh = Seq((1, "a")).toDF("id", "v")

    var calls = 0
    var layersAtRetry: Seq[p.Layer] = null
    val flaky = (i: p.Item, df: org.apache.spark.sql.DataFrame) => {
      calls += 1
      if (calls == 1) throw new RuntimeException("Update Service: Job Failed!")
      layersAtRetry = p.layersOf(i) // the retry must run WITHOUT layers
      p.overwrite(i, df)
    }
    val out = p.overwriteWithRecovery(item, fresh, flaky)
    assert(calls == 2)
    assert(layersAtRetry.isEmpty) // deleteFromDefinition happened first
    assert(p.layersOf(out).map(_.name) == Seq("obs", "tracks")) // restored

    // non-"job failed" errors propagate without a retry
    var calls2 = 0
    val hardFail = (_: p.Item, _: org.apache.spark.sql.DataFrame) => {
      calls2 += 1
      (throw new RuntimeException("401 unauthorized")): p.Item
    }
    intercept[RuntimeException](p.overwriteWithRecovery(item, fresh, hardFail))
    assert(calls2 == 1)

    // a second "job failed" on the retry propagates (retry is ONCE)
    var calls3 = 0
    val alwaysJobFail = (_: p.Item, _: org.apache.spark.sql.DataFrame) => {
      calls3 += 1
      (throw new RuntimeException("job failed")): p.Item
    }
    intercept[RuntimeException](p.overwriteWithRecovery(item, fresh, alwaysJobFail))
    assert(calls3 == 2)
  }

  test("GeoTIFF fallback: add raster item, analyze, publish Imagery Layer (K7)") {
    val p = newPortal()
    // minimal little-endian TIFF magic + padding
    val tiff = Array[Byte]('I', 'I', 42, 0, 8, 0, 0, 0, 1, 2, 3, 4)
    val img = p.publishImageryRaster("SST raster", tiff, Seq("did_sst"))
    assert(img.itemType == "Imagery Layer")
    assert(img.properties("fileType") == "GeoTIFF")
    assert(img.properties("byteOrder") == "little")
    // the upload exists as its own Raster Dataset item, related to the layer
    val raster = p.allItems.find(_.itemType == "Raster Dataset").get
    assert(raster.title == "SST raster (raster)")
    val stored = java.nio.file.Files.readAllBytes(
      java.nio.file.Path.of(p.imageryDir(img), "imagery.tif"))
    assert(stored.toSeq == tiff.toSeq)
    // big-endian magic also analyzes; garbage is refused like a failed analyze
    assert(p.analyzeRaster(Array[Byte]('M', 'M', 0, 42, 0, 0, 0, 0))("byteOrder") == "big")
    intercept[IllegalArgumentException](
      p.analyzeRaster("not a raster".getBytes("ASCII")))
    // 409-style retry on the second publish of the same title
    val img2 = p.publishImageryRaster("SST raster", tiff)
    assert(img2.title == "SST raster_1")
  }

  test("tag search extracts did_/server tags into a control DataFrame (S12)") {
    val p = newPortal()
    p.addOrRetry("A", "FeatureService",
      Seq("erddap2agol", "did_ds1", "e2a_nrt", "https://srv/erddap/tabledap/"), Map())
    p.addOrRetry("B", "FeatureService",
      Seq("erddap2agol", "did_ds2"), Map())
    p.addOrRetry("C", "CSV", Seq("unrelated"), Map())
    val nrt = p.searchByTags(spark, Seq("erddap2agol", "e2a_nrt"))
    val got = nrt.select("dataset_id", "base_url").as[(String, String)].collect()
    assert(got.toSeq == Seq(("ds1", "https://srv/erddap/tabledap/")))
    assert(p.searchByTags(spark, Seq("erddap2agol")).count() == 2)
  }

  test("touch bumps lastTouched (K11)") {
    val p = newPortal()
    val item = p.addOrRetry("t", "CSV", Nil, Map())
    assert(p.touch(item, 12345L).lastTouched == 12345L)
  }

  test("A/B swap: name-matched and positional layer repointing, noSwap QA, exactly-2 rule") {
    val p = newPortal()
    val a = p.addOrRetry("svc_A", "FeatureService", Nil, Map())
    val b = p.addOrRetry("svc_B", "FeatureService", Nil, Map())
    val view = p.addOrRetry("view", "FeatureService", Nil, Map())
    p.setLayers(a, Seq(p.Layer(0, "obs"), p.Layer(1, "tracks")))
    p.setLayers(b, Seq(p.Layer(7, "tracks"), p.Layer(8, "obs")))
    p.setLayers(view, Seq(p.Layer(0, "obs"), p.Layer(1, "tracks")))
    p.relate(view, Seq(a, b))
    p.pointViewAt(view, a)

    // QA mode: mapping computed by name, pointer untouched
    val qa = p.swapViewLayers(view, noSwap = true)
    assert(qa == Seq(("obs", 8), ("tracks", 7)))
    assert(p.viewTarget(view).contains(a.id))

    // real swap flips the pointer to the inactive service
    p.swapViewLayers(view)
    assert(p.viewTarget(view).contains(b.id))

    // now A is inactive; positional mapping pairs by order
    val positional = p.swapViewLayers(view, byLayerOrder = true, noSwap = true)
    assert(positional == Seq(("obs", 0), ("tracks", 1)))

    // exactly-2 rule
    val lonely = p.addOrRetry("lonely_view", "FeatureService", Nil, Map())
    p.relate(lonely, Seq(a))
    p.pointViewAt(lonely, a)
    intercept[IllegalArgumentException] { p.swapViewLayers(lonely) }
  }

  test("checkView restores lost layers from the saved snapshot") {
    val p = newPortal()
    val view = p.addOrRetry("view", "FeatureService", Nil, Map())
    p.setLayers(view, Seq(p.Layer(0, "obs"), p.Layer(1, "tracks")))
    p.saveLayerSnapshot(view)

    p.setLayers(view, Nil) // the AGOL lost-layers failure mode
    val out = p.checkView(view)
    assert(out.layersRestored == 2)
    assert(p.layersOf(view).map(_.name) == Seq("obs", "tracks"))

    // idempotent: nothing more to repair
    val again = p.checkView(view)
    assert(again == p.RepairOutcome(0, 0, false))

    // dry run computes without applying
    p.setLayers(view, Nil)
    val dry = p.checkView(view, dryRun = true)
    assert(dry.layersRestored == 2 && p.layersOf(view).isEmpty)
  }

  test("checkView restores missing relationships; drift refreshes the backup") {
    val p = newPortal()
    val a = p.addOrRetry("svc_A", "FeatureService", Nil, Map())
    val b = p.addOrRetry("svc_B", "FeatureService", Nil, Map())
    val c = p.addOrRetry("svc_C", "FeatureService", Nil, Map())
    val view = p.addOrRetry("view", "FeatureService", Nil, Map())
    p.relate(view, Seq(a, b))
    p.backupRelationships(view)

    // a relationship vanishes → restored from backup
    p.updateRelationships(view, Seq(b), unRelate = true)
    val out = p.checkView(view)
    assert(out.relationshipsRestored == 1)
    p.pointViewAt(view, a) // related set is back to {a,b} — verify via A/B rule
    assert(p.inactiveTarget(view).id == b.id)

    // same-size drift (replaced, not lost) → backup refreshed, not reverted
    p.updateRelationships(view, Seq(b), unRelate = true)
    p.updateRelationships(view, Seq(c))
    val drift = p.checkView(view)
    assert(drift.backupRefreshed && drift.relationshipsRestored == 0)
    p.updateRelationships(view, Seq(c), unRelate = true)
    val afterDrift = p.checkView(view) // backup now {a,c}: c restored
    assert(afterDrift.relationshipsRestored == 1)
  }

  test("updateRelationships add/remove is idempotent") {
    val p = newPortal()
    val a = p.addOrRetry("svc_A", "FeatureService", Nil, Map())
    val b = p.addOrRetry("svc_B", "FeatureService", Nil, Map())
    val view = p.addOrRetry("view", "FeatureService", Nil, Map())

    assert(p.updateRelationships(view, Seq(a, b)) == Seq(a.id, b.id))
    assert(p.updateRelationships(view, Seq(a, b)) == Seq(a.id, b.id)) // re-add no-op
    assert(p.updateRelationships(view, Seq(a), unRelate = true) == Seq(b.id))
    assert(p.updateRelationships(view, Seq(a), unRelate = true) == Seq(b.id)) // re-remove no-op
  }
}
