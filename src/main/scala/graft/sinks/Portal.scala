package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Local model of the publish-side portal (AGOL stand-in) — the live
  * REST surface is out of reach, so publishing semantics are modeled as
  * state over a directory + a control DataFrame, reproducing the
  * behaviors of SURVEY.md §2.2:
  *
  *  - K5 add+publish with 409-conflict retry: name collisions rename
  *    the title `_1.._10` (`agol_wrangler.py:527-568`)
  *  - K6 chunk append: publish chunk 1, append 2..N — in Spark the
  *    whole pattern collapses to `unionByName` before ONE write
  *    (`agol_wrangler.py:648-682`)
  *  - K9 property snapshot/restore around an overwrite, incl. index
  *    restore with by-name dedupe and the ≤4000-byte key limit
  *    (`OverwriteFS.py:268-398`, `:499-558`)
  *  - K11 touch (`OverwriteFS.py:1852-1961`)
  *  - S12/S13 tag search → control DataFrame
  *    (`update_manager.py:30-84`, `agol_wrangler.py:727-748`)
  *
  * Item properties follow `makeItemProperties`
  * (`agol_wrangler.py:150-194`): tags `erddap2agol`, `did_<id>`,
  * attribute names, `e2a_nrt` when NRT, the server URL; snippet
  * composed from NC_GLOBAL summary + title + server host.
  */
/** JVM-local portal registry: the DSv2 sink's commit coordinator runs
  * on the driver, so one shared instance per portal root models the
  * remote service's state exactly where the reference's REST session
  * would live. */
object Portal {
  private val registry = collection.mutable.Map.empty[String, Portal]
  def forRoot(root: String): Portal =
    registry.synchronized(registry.getOrElseUpdate(root, new Portal(root)))

  /** F23 — item properties from DAS NC_GLOBAL metadata
    * (`agol_wrangler.py:117-139`, `:182-187`): tags (tool marker,
    * dataset id, attribute names, NRT marker, server), access from the
    * publisher→creator→institution fallback chain, license, and the
    * templated snippet. Pure string composition (no portal state), so
    * it lives on the companion and the `f23_item_properties` gate can
    * replay it in SQL. */
  def itemProperties(datasetId: String, title: String, server: String,
      attributes: Seq[String], isNrt: Boolean,
      ncGlobal: Map[String, String]): (String, Seq[String], Map[String, String]) = {
    val tags = Seq("erddap2agol", s"did_$datasetId") ++ attributes ++
      (if (isNrt) Seq("e2a_nrt") else Nil) ++ Seq(server)
    val serverName = server.split("/erddap/")(0).split("://").last
    val access = ncGlobal.get("publisher_institution")
      .orElse(ncGlobal.get("creator_institution"))
      .orElse(ncGlobal.get("institution")).getOrElse("")
    val summary = ncGlobal.getOrElse("summary", "")
    val props = Map(
      "accessInformation" -> access,
      "licenseInfo" -> ncGlobal.getOrElse("license", ""),
      "snippet" -> s"$summary. $title was generated with erddap2agol from the $serverName ERDDAP.")
    (title, tags, props)
  }
}

class Portal(root: String) {

  case class Item(
      id: String,
      title: String,
      itemType: String,
      tags: Seq[String],
      properties: Map[String, String],
      serviceProps: Map[String, String] = Map.empty,
      indexes: Seq[(String, String)] = Nil, // (name, fields)
      fields: Seq[(String, Int)] = Nil, // layer schema: (name, length)
      timeInfo: Option[String] = None, // layer time settings blob
      lastTouched: Long = 0L)

  private val items = collection.mutable.LinkedHashMap.empty[String, Item]
  private var nextId = 0

  def allItems: Seq[Item] = items.values.toSeq
  def itemById(id: String): Item = items(id)
  def findByTitle(title: String): Option[Item] =
    items.values.find(_.title == title)

  /** K5 — add with 409-style conflict retry: existing title → `_1`,
    * `_2`, … up to `maxAttempts`, then fail (reference raises). */
  def addOrRetry(title: String, itemType: String, tags: Seq[String],
      properties: Map[String, String], maxAttempts: Int = 10): Item = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val candidate = if (attempt == 0) title else s"${title}_$attempt"
      if (!items.values.exists(_.title == candidate)) {
        nextId += 1
        val item = Item(f"item$nextId%04d", candidate, itemType, tags, properties)
        items(item.id) = item
        return item
      }
      attempt += 1
    }
    throw new IllegalStateException("Max attempts reached for adding item with retry.")
  }

  /** Publish data for an item. K6 note: pass ALL chunks here —
    * `unionByName` + one write replaces the reference's
    * publish-then-append loop. */
  def publish(item: Item, chunks: Seq[DataFrame]): Long = {
    require(chunks.nonEmpty)
    val data = chunks.reduce(_.unionByName(_))
    data.write.mode(SaveMode.Overwrite).parquet(dataPath(item))
    data.sparkSession.read.parquet(dataPath(item)).count()
  }

  def dataPath(item: Item): String = s"$root/${item.id}"

  /** K9 — snapshot the restorable properties before an overwrite. */
  case class Backup(serviceProps: Map[String, String],
      indexes: Seq[(String, String)], timeInfo: Option[String] = None)
  def backupProperties(item: Item): Backup =
    Backup(item.serviceProps, item.indexes, item.timeInfo)

  /** K9 — restore after overwrite: service props reapplied (forcing
    * hasLiveData=false like the reference's timeInfo restore,
    * `OverwriteFS.py:483-486`); indexes deduped by name, keys over
    * 4000 bytes dropped (`OverwriteFS.py:529-531`); timeInfo put back
    * (`OverwriteFS.py:469-478`). The index rules are the seam-shared
    * [[PortalTransport.normalizeIndexes]], so the local model and the
    * REST backend restore identically. */
  def restoreProperties(item: Item, backup: Backup): Item = {
    // With a known layer schema, replay the reference's FULL decision
    // table (field validation, >4000-byte key columns, synthesized
    // names — PortalTransport.restoreIndexPlan); without one, the
    // seam-shared degenerate rules.
    val current = items(item.id)
    val restoredIndexes =
      if (current.fields.nonEmpty)
        current.indexes ++ PortalTransport.restoreIndexPlan(
            current.serviceProps.getOrElse("tableName", current.id),
            current.fields, current.indexes.map(_._2), backup.indexes)
          .collect { case d if d.outcome == "added" => (d.newName, d.newFields) }
      else PortalTransport.normalizeIndexes(backup.indexes)
    val restored = current.copy(
      serviceProps = backup.serviceProps + ("hasLiveData" -> "false"),
      indexes = restoredIndexes,
      timeInfo = backup.timeInfo)
    items(item.id) = restored
    restored
  }

  /** K8 — overwrite with property transactionality: verify refusal
    * tiers (the seam's [[PortalTransport.verifyOverwrite]], over this
    * model) → backup → replace data → restore. Unchanged-data
    * short-circuit belongs to the caller (Nrt.tableFingerprint).
    *
    * GeoPackage tier (`OverwriteFS.py:2481-2493`): when the service's
    * backing item (its Service2Data relation) is a GeoPackage, the
    * manager road is unavailable — overwrite routes through the FILE
    * item instead: update its stored container with the fresh data,
    * then re-publish the service from it (`dataItem.update(data)` +
    * `publish(overwrite=True, file_type)`), under the SAME
    * backup/restore envelope. */
  def overwrite(item: Item, fresh: DataFrame): Item = {
    PortalTransport.verifyOverwrite(new LocalPortalTransport(this, root), item.id)
    val backup = backupProperties(items(item.id))
    relatedItems(item).find(_.itemType == "GeoPackage") match {
      case Some(dataItem) =>
        // dataItem.update(data): the file item's container gets the bytes
        fresh.write.mode(SaveMode.Overwrite).parquet(dataPath(dataItem))
        // publish(overwrite=True): the service re-derives from the file
        fresh.sparkSession.read.parquet(dataPath(dataItem))
          .write.mode(SaveMode.Overwrite).parquet(dataPath(item))
      case None =>
        fresh.write.mode(SaveMode.Overwrite).parquet(dataPath(item))
    }
    restoreProperties(items(item.id), backup)
  }

  /** K8 recovery tier (`OverwriteFS.py:2533-2560`): when an overwrite
    * fails with the portal's "job failed" outcome, the reference drops
    * the service's layer definitions (`deleteFromDefinition`) and
    * retries ONCE; the layer set is put back from the pre-failure
    * snapshot afterwards (the `_checkView`-style repair). Any other
    * error propagates unchanged. `attempt` is the overwrite action —
    * injectable so failure behavior is testable. */
  def overwriteWithRecovery(item: Item, fresh: DataFrame,
      attempt: (Item, DataFrame) => Item = overwrite): Item =
    try attempt(item, fresh)
    catch {
      case e: Exception if Option(e.getMessage).exists(
          _.toLowerCase.contains("job failed")) =>
        val snapshot = layersOf(item)
        serviceLayers(item.id) = Nil // deleteFromDefinition
        val out = attempt(items(item.id), fresh) // retry once; failure propagates
        if (layersOf(out).isEmpty && snapshot.nonEmpty)
          serviceLayers(out.id) = snapshot
        out
    }

  /** K11 — touch: bump the item (and its dependents in the reference). */
  def touch(item: Item, now: Long): Item = {
    val touched = items(item.id).copy(lastTouched = now)
    items(item.id) = touched
    touched
  }

  def updateServiceProps(item: Item, props: Map[String, String]): Item = {
    val updated = items(item.id).copy(serviceProps = items(item.id).serviceProps ++ props)
    items(item.id) = updated
    updated
  }

  def removeServiceProps(item: Item, keys: Set[String]): Item = {
    val updated = items(item.id).copy(serviceProps = items(item.id).serviceProps -- keys)
    items(item.id) = updated
    updated
  }

  def addIndex(item: Item, name: String, fields: String): Item = {
    val updated = items(item.id).copy(indexes = items(item.id).indexes :+ (name, fields))
    items(item.id) = updated
    updated
  }

  /** Declare the layer's schema (field name → declared byte length);
    * with it set, [[restoreProperties]] replays the reference's FULL
    * index-restore decision table instead of the degenerate rules. */
  def setFields(item: Item, fields: Seq[(String, Int)]): Item = {
    val updated = items(item.id).copy(fields = fields)
    items(item.id) = updated
    updated
  }

  def setIndexes(item: Item, indexes: Seq[(String, String)]): Item = {
    val updated = items(item.id).copy(indexes = indexes)
    items(item.id) = updated
    updated
  }

  def setTimeInfo(item: Item, timeInfo: Option[String]): Item = {
    val updated = items(item.id).copy(timeInfo = timeInfo)
    items(item.id) = updated
    updated
  }

  // ---- K10: A/B view-layer swap (`OverwriteFS.py:1131-1744`) ------------

  case class Layer(id: Int, name: String)
  private val serviceLayers = collection.mutable.Map.empty[String, Seq[Layer]]
  private val viewSources = collection.mutable.Map.empty[String, String]
  private val related = collection.mutable.Map.empty[String, Seq[String]]

  def setLayers(item: Item, layers: Seq[Layer]): Unit =
    serviceLayers(item.id) = layers
  def layersOf(item: Item): Seq[Layer] = serviceLayers.getOrElse(item.id, Nil)
  def pointViewAt(view: Item, target: Item): Unit =
    viewSources(view.id) = target.id
  def viewTarget(view: Item): Option[String] = viewSources.get(view.id)
  def relate(a: Item, bs: Seq[Item]): Unit = related(a.id) = bs.map(_.id)
  def relatedItems(item: Item): Seq[Item] =
    related.getOrElse(item.id, Nil).flatMap(items.get)

  /** `getFeatureServiceTarget` (`OverwriteFS.py:1131-1283`): of the view's
    * EXACTLY-2 related services, return the inactive one (the one the
    * view does not currently point at). Any other count is an error —
    * the reference refuses to guess. */
  def inactiveTarget(view: Item): Item = {
    val rel = related.getOrElse(view.id, Nil)
    require(rel.size == 2,
      s"A/B swap requires exactly 2 related services, found ${rel.size}")
    val active = viewSources.getOrElse(view.id,
      throw new IllegalStateException("view points nowhere"))
    val inactive = rel.filterNot(_ == active)
    require(inactive.size == 1, "view must point at one of its related services")
    items(inactive.head)
  }

  /** `swapFeatureViewLayers` (`OverwriteFS.py:1284-1744`): repoint the
    * view's layers at `target`'s layers — matched BY NAME by default, or
    * POSITIONALLY with `byLayerOrder` (the `-SwapByOrder` CLI flag,
    * J6's join analog). `noSwap` computes and returns the mapping
    * without applying (the reference's QA mode). Returns
    * (viewLayerName, targetLayerId) pairs; unmatched name → error. */
  def swapViewLayers(view: Item, byLayerOrder: Boolean = false,
      noSwap: Boolean = false): Seq[(String, Int)] = {
    val target = inactiveTarget(view)
    val vls = layersOf(view)
    val tls = layersOf(target)
    val mapping =
      if (byLayerOrder) {
        require(vls.size <= tls.size, "target has fewer layers than view")
        vls.zip(tls).map { case (v, t) => (v.name, t.id) }
      } else vls.map { v =>
        val t = tls.find(_.name == v.name).getOrElse(
          throw new IllegalArgumentException(
            s"no target layer named '${v.name}' (use byLayerOrder?)"))
        (v.name, t.id)
      }
    if (!noSwap) viewSources(view.id) = target.id
    mapping
  }

  // ---- K7: imagery publish ----------------------------------------------

  /** K7 — publish a grid as an Imagery Layer item: the reference
    * uploads reoriented NetCDF bytes and publishes them as imagery
    * (`agol_wrangler.py:256-261` + imagery item types). The stored
    * artifact is real NetCDF-classic ([[graft.sources.griddap.GridNc]]),
    * latitude flipped north→south; readable back through the griddap
    * source at `imageryDir(item)`. */
  def publishImagery(title: String, grid: graft.sources.griddap.GridNc.Grid,
      tags: Seq[String] = Nil): Item = {
    import graft.sources.griddap.GridNc
    val item = addOrRetry(title, "Imagery Layer",
      Seq("erddap2agol") ++ tags, Map.empty)
    val dir = java.nio.file.Path.of(root, item.id)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("imagery.nc"),
      GridNc.write(GridNc.latFlip(grid)))
    item
  }

  /** Directory holding an imagery item's NetCDF (dataset id `imagery`). */
  def imageryDir(item: Item): String =
    java.nio.file.Path.of(root, item.id).toString

  /** K7 NRT — refresh a published imagery item with a fresh grid. A
    * RECORD-DIM artifact grows incrementally: only slices after the
    * stored max time are appended ([[graft.sources.griddap.GridNc
    * .appendRecordsToFile]] — write cost is the new slices' bytes, not
    * the file). A fixed-dim artifact is rewritten whole (the
    * pre-record-dim behavior). Fresh slices are reoriented
    * north→south exactly like the original publish. Returns the
    * number of records appended (fixed-dim rewrite: the full time
    * length written). */
  def refreshImagery(item: Item, fresh: graft.sources.griddap.GridNc.Grid): Int = {
    import graft.sources.griddap.GridNc
    val p = java.nio.file.Path.of(root, item.id, "imagery.nc")
    val flipped = GridNc.latFlip(fresh)
    if (GridNc.hasRecordDim(p) && flipped.recordDim.isDefined)
      GridNc.appendRecordsToFile(p, flipped)
    else {
      java.nio.file.Files.write(p, GridNc.write(flipped))
      flipped.dims.headOption.map(_._2).getOrElse(0)
    }
  }

  /** K7 fallback — `analyze(file_type="raster")` stand-in for the
    * GeoTIFF/IMG road (`agol_wrangler.py:456-460`): inspects the upload
    * and returns the publish parameters, refusing non-raster bytes the
    * way the live analyze call errors on an unreadable file. */
  def analyzeRaster(bytes: Array[Byte]): Map[String, String] = {
    require(bytes != null && bytes.length >= 8, "analyze: empty raster upload")
    val littleEndian = bytes(0) == 'I' && bytes(1) == 'I' &&
      bytes(2) == 42 && bytes(3) == 0
    val bigEndian = bytes(0) == 'M' && bytes(1) == 'M' &&
      bytes(2) == 0 && bytes(3) == 42
    require(littleEndian || bigEndian,
      "analyze: file_type=raster requires a GeoTIFF/IMG payload")
    Map("fileType" -> "GeoTIFF",
      "byteOrder" -> (if (littleEndian) "little" else "big"))
  }

  /** K7 fallback — non-NetCDF rasters take the add → analyze → publish
    * road instead of copy_raster (`agol_wrangler.py:278`, `:449-472`):
    * the raster is added as a "Raster Dataset" item with 409-style
    * title retry, analyze produces the publish parameters, and the
    * publish step (also 409-retried via the same rename rule) creates
    * the hosted Imagery Layer related to its source upload. */
  def publishImageryRaster(title: String, bytes: Array[Byte],
      tags: Seq[String] = Nil): Item = {
    val publishParams = analyzeRaster(bytes) // analyze BEFORE any item exists
    val rasterItem = addOrRetry(s"$title (raster)", "Raster Dataset",
      Seq("erddap2agol") ++ tags, Map("item_type" -> "Image Service"))
    val rasterDir = java.nio.file.Path.of(root, rasterItem.id)
    java.nio.file.Files.createDirectories(rasterDir)
    java.nio.file.Files.write(rasterDir.resolve("upload.tif"), bytes)
    val img = addOrRetry(title, "Imagery Layer",
      Seq("erddap2agol") ++ tags, publishParams)
    val imgDir = java.nio.file.Path.of(root, img.id)
    java.nio.file.Files.createDirectories(imgDir)
    java.nio.file.Files.write(imgDir.resolve("imagery.tif"), bytes)
    relate(img, Seq(rasterItem)) // Service2Data link back to the upload
    img
  }

  // ---- view repair + relationship maintenance ---------------------------

  private val layerSnapshots = collection.mutable.Map.empty[String, Seq[Layer]]
  private val relationshipBackups = collection.mutable.Map.empty[String, Seq[String]]

  /** Snapshot the view's layer list — the reference's saved
    * `<viewId>_addLayers.json` (`OverwriteFS.py:813`, written at view
    * build time and read back by `_checkView`). */
  def saveLayerSnapshot(view: Item): Unit =
    layerSnapshots(view.id) = layersOf(view)

  /** Snapshot the view's related-service ids (the reference's
    * `view.backupRelationships`, `OverwriteFS.py:815`). */
  def backupRelationships(view: Item): Unit =
    relationshipBackups(view.id) = related.getOrElse(view.id, Nil)

  case class RepairOutcome(layersRestored: Int, relationshipsRestored: Int,
      backupRefreshed: Boolean)

  /** `_checkView` (`OverwriteFS.py:806-869`): repair a view before an
    * overwrite. A view that lost ALL its layers (the AGOL failure mode
    * the reference guards against) gets them restored from the saved
    * snapshot; missing relationships are re-added from the backup; if
    * the live set drifted some other way, the BACKUP is refreshed to
    * match (the reference trusts the portal over the backup then).
    * `dryRun` computes the outcome without applying. Idempotent. */
  def checkView(view: Item, dryRun: Boolean = false): RepairOutcome = {
    var layersRestored = 0
    if (layersOf(view).isEmpty)
      layerSnapshots.get(view.id).filter(_.nonEmpty).foreach { snap =>
        if (!dryRun) serviceLayers(view.id) = snap
        layersRestored = snap.size
      }
    var relRestored = 0
    var refreshed = false
    relationshipBackups.get(view.id).foreach { saved =>
      val current = related.getOrElse(view.id, Nil)
      if (saved.size > current.size) {
        val missing = saved.filterNot(current.contains)
        if (!dryRun) related(view.id) = current ++ missing
        relRestored = missing.size
      } else if (saved.toSet != current.toSet) {
        if (!dryRun) relationshipBackups(view.id) = current
        refreshed = true
      }
    }
    RepairOutcome(layersRestored, relRestored, refreshed)
  }

  /** `updateRelationships` (`OverwriteFS.py:897-1131`): add or remove
    * Service2Service links between a view and target services.
    * Idempotent both ways — re-adding an existing link or removing an
    * absent one is a no-op, like the reference's trapped
    * "already exists"/"not found" REST outcomes. */
  def updateRelationships(view: Item, targets: Seq[Item],
      unRelate: Boolean = false): Seq[String] = {
    val current = related.getOrElse(view.id, Nil)
    val ids = targets.map(_.id)
    val updated =
      if (unRelate) current.filterNot(ids.contains)
      else current ++ ids.filterNot(current.contains)
    related(view.id) = updated
    updated
  }

  /** S12/S13 — tag search as a control DataFrame: all requested tags
    * must be present; `did_<id>` and the `http…` server tag are
    * extracted like `update_manager.py:57-76`. */
  def searchByTags(spark: SparkSession, requiredTags: Seq[String],
      maxItems: Int = 5000): DataFrame = {
    import spark.implicits._
    items.values
      .filter(i => requiredTags.forall(i.tags.contains))
      .take(maxItems)
      .map { i =>
        val did = i.tags.find(_.startsWith("did_")).map(_.stripPrefix("did_"))
        val base = i.tags.find(_.startsWith("http"))
        (i.id, i.title, did.orNull, base.orNull)
      }.toSeq
      .toDF("agol_id", "title", "dataset_id", "base_url")
  }
}
