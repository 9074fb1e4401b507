package graft.sinks

/** The ONE portal seam (SURVEY.md §2.2): every publish-side flow —
  * the DSv2 sink commit, NRT refresh, tag recovery — drives this
  * trait, and the backend is picked by SCHEME exactly like
  * [[graft.sources.erddap.ErddapTransport]]:
  *
  *   - `http(s)://…` → [[RestPortalTransport]] over the live
  *     ArcGIS-sharing-REST client ([[PortalRestClient]]);
  *   - anything else → [[LocalPortalTransport]] over the in-JVM
  *     [[Portal]] model rooted at that directory.
  *
  * A real deployment is therefore a URL change, not a rewrite — the
  * reference's whole publish flow drives the live SDK the same way
  * (`agol_wrangler.py:475-723`).
  *
  * The surface is the control-plane the flows actually use (lookup,
  * K5 add-retry, property get/update, K9 backup/restore, publish,
  * Service2Service relations, K11 touch) plus ONE data-plane call,
  * [[PortalTransport#replaceData]], which is where overwrite bytes
  * flow (local: atomic moves into the slot directory; REST: item
  * data upload + publish, the `dataItem.update(data)` road).
  */
trait PortalTransport {
  import PortalTransport.Ref

  def findByTitle(title: String): Option[Ref]
  def searchByTags(tags: Seq[String], maxItems: Int = 5000): Seq[Ref]

  /** K5 — create with the 409-conflict rename loop (`title_1`…). */
  def addOrRetry(title: String, itemType: String, tags: Seq[String],
      maxAttempts: Int = 10): Ref

  /** Free-form item properties (fingerprint, activeSlot, schema, …). */
  def props(itemId: String): Map[String, String]

  /** Merge properties into the item (the sharing API's update call). */
  def update(itemId: String, props: Map[String, String]): Unit

  /** K9 — snapshot the restorable state before an overwrite: free-form
    * properties PLUS the service-definition pieces the reference
    * replays (`OverwriteFS.py:499-558`) — attribute indexes and the
    * layer timeInfo. TYPED so the index rules survive the live seam. */
  def backupProperties(itemId: String): PortalTransport.PropertyBackup

  /** K9 — reapply the snapshot after an overwrite. Both backends apply
    * [[PortalTransport.PropertyBackup.normalized]]: indexes deduped by
    * name, >4000-byte keys dropped, hasLiveData forced false (the
    * reference's timeInfo reset, `OverwriteFS.py:483-486`). */
  def restoreProperties(itemId: String, backup: PortalTransport.PropertyBackup): Unit

  /** Read plane: opaque part handles for `slot`'s published payload
    * (local: one handle per staged partition file; REST: the single
    * item-data payload) — the DSv2 read path plans one InputPartition
    * per handle. */
  def listParts(itemId: String, slot: String): Seq[String]

  /** Read plane: the CSV lines behind one [[listParts]] handle. */
  def fetchPart(handle: String): Seq[String]

  /** Publish the item as a hosted service; returns the service id. */
  def publish(itemId: String): String

  /** Service2Service link maintenance (idempotent both directions). */
  def relate(originId: String, destId: String, unRelate: Boolean = false): Unit
  def related(itemId: String): Seq[Ref]

  /** K11 — touch. */
  def touch(itemId: String, now: Long): Unit

  /** Replace the item's served data for `slot` with the staged files. */
  def replaceData(itemId: String, slot: String,
      files: Seq[java.nio.file.Path]): Unit
}

object PortalTransport {
  case class Ref(id: String, title: String, itemType: String, tags: Seq[String])

  /** K9's restorable state, typed across the seam. `indexes` are
    * (name, fields) pairs; `timeInfo` is the layer's time-settings
    * blob (the piece the reference re-applies via updateDefinition,
    * `OverwriteFS.py:469-486`). */
  case class PropertyBackup(props: Map[String, String],
      indexes: Seq[(String, String)] = Nil,
      timeInfo: Option[String] = None) {
    /** The restore rules, in ONE place so both backends behave
      * identically: indexes deduped by name (first occurrence wins),
      * keys over 4000 bytes dropped (`OverwriteFS.py:529-531`),
      * hasLiveData forced false (`OverwriteFS.py:483-486`). */
    def normalized: PropertyBackup = copy(
      props = props + ("hasLiveData" -> "false"),
      indexes = PortalTransport.normalizeIndexes(indexes))
  }

  /** Index restore rules shared by the seam and the local model.
    * Order matters: dedupe by name FIRST (first occurrence claims the
    * name), THEN drop oversized keys — so an oversized first
    * occurrence shadows later same-name entries and the name is
    * dropped entirely, exactly the reference's replay order
    * (`OverwriteFS.py:499-558`). This is the degenerate form used when
    * the new layer's schema is unknown; [[restoreIndexPlan]] is the
    * full decision table applied when it is. */
  def normalizeIndexes(indexes: Seq[(String, String)]): Seq[(String, String)] = {
    val seen = collection.mutable.LinkedHashSet.empty[String]
    indexes.filter { case (name, _) => seen.add(name) }
      .filter { case (_, fields) => fields.getBytes("UTF-8").length <= 4000 }
  }

  /** One saved index's restore decision: `outcome` is the branch the
    * reference takes (`added`, or a skip reason); `newName`/`newFields`
    * are non-empty only for `added`. */
  case class IndexDecision(savedName: String, outcome: String,
      newName: String, newFields: String)

  /** K9 — the reference's full index-restore decision table
    * (`OverwriteFS.py:499-558`), as a pure function over the backed-up
    * indexes and the NEW layer's schema. For each saved index, in the
    * reference's exact order:
    *
    *  1. fields string already matched by an index on the new layer
    *     (case-insensitive exact string) → `exists_fields`;
    *  2. the `noIndexes` flag → `no_indexes_flag`;
    *  3. empty fields → `no_fields`;
    *  4. each comma-split field in order: not in the layer's fields
    *     (case-insensitive) → `missing_field`; declared length over
    *     4000 bytes (cannot be a key column) → `too_large`;
    *  5. synthesized name `<table>_<field>…_idx` already claimed this
    *     service → `exists_name`; otherwise `added` with the fields
    *     re-joined comma-separated (no spaces).
    */
  def restoreIndexPlan(userTable: String,
      layerFields: Seq[(String, Int)],
      layerIndexFields: Seq[String],
      saved: Seq[(String, String)],
      noIndexes: Boolean = false): Seq[IndexDecision] = {
    import java.util.Locale.ROOT
    val fieldLen = layerFields.map { case (n, l) => n.toLowerCase(ROOT) -> l }.toMap
    val existing = layerIndexFields.map(_.toLowerCase(ROOT)).toSet
    val serviceIndexes = collection.mutable.Set.empty[String]
    saved.map { case (name, fields) =>
      if (existing.contains(fields.toLowerCase(ROOT)))
        IndexDecision(name, "exists_fields", "", "")
      else if (noIndexes) IndexDecision(name, "no_indexes_flag", "", "")
      else if (fields.isEmpty) IndexDecision(name, "no_fields", "", "")
      else {
        val parts = fields.split(",", -1).map(_.trim)
        // first failing field decides, like the reference's break
        val firstBad = parts.iterator.map { f =>
          fieldLen.get(f.toLowerCase(ROOT)) match {
            case None => Some("missing_field")
            case Some(len) if len > 4000 => Some("too_large")
            case _ => None
          }
        }.collectFirst { case Some(r) => r }
        firstBad match {
          case Some(reason) => IndexDecision(name, reason, "", "")
          case None =>
            val newName = (userTable +: parts.toSeq :+ "idx").mkString("_")
            if (!serviceIndexes.add(newName))
              IndexDecision(name, "exists_name", "", "")
            else IndexDecision(name, "added", newName, parts.mkString(","))
        }
      }
    }
  }

  /** Scheme-selected backend; credentials only matter for http(s). */
  def apply(root: String, username: String = "", password: String = ""): PortalTransport =
    if (root.startsWith("http://") || root.startsWith("https://"))
      new RestPortalTransport(new PortalRestClient(root, username, password))
    else new LocalPortalTransport(Portal.forRoot(root), root)

  /** Overwrite refusal tiers (`OverwriteFS.py:2093-2106`), expressed
    * over the seam so both backends refuse identically: a dependent
    * view with change tracking enabled, or a dependent WFS service,
    * blocks the overwrite with the reference's exact outcomes. `props`
    * is the item's property map, when the caller has already read it. */
  def verifyOverwrite(t: PortalTransport, itemId: String): Unit =
    verifyOverwrite(t, itemId, t.props(itemId))

  def verifyOverwrite(t: PortalTransport, itemId: String,
      props: Map[String, String]): Unit = {
    if (props.get("hasChangeTrackingEnabledViews").contains("true"))
      throw new IllegalStateException(
        "Overwrite on Service is NOT allowed, a dependent View or Service " +
          "has Change Tracking Enabled!")
    if (t.related(itemId).exists(_.itemType == "WFS"))
      throw new IllegalStateException(
        "Overwrite on Service is NOT allowed, a dependent WFS Service exists!")
  }
}

/** Local backend: delegates to the in-JVM [[Portal]] model (which also
  * keeps the richer K9 index semantics the string-map surface can't
  * carry). Data lands under `root/<itemId>/<slot>/` via atomic moves. */
class LocalPortalTransport(portal: Portal, root: String) extends PortalTransport {
  import PortalTransport.Ref

  private def ref(i: portal.Item): Ref = Ref(i.id, i.title, i.itemType, i.tags)

  override def findByTitle(title: String): Option[Ref] =
    portal.findByTitle(title).map(ref)

  override def searchByTags(tags: Seq[String], maxItems: Int): Seq[Ref] =
    portal.allItems.filter(i => tags.forall(i.tags.contains))
      .take(maxItems).map(ref)

  override def addOrRetry(title: String, itemType: String, tags: Seq[String],
      maxAttempts: Int): Ref =
    ref(portal.addOrRetry(title, itemType, tags, Map.empty, maxAttempts))

  override def props(itemId: String): Map[String, String] =
    portal.itemById(itemId).serviceProps

  override def update(itemId: String, props: Map[String, String]): Unit =
    portal.updateServiceProps(portal.itemById(itemId), props)

  override def backupProperties(itemId: String): PortalTransport.PropertyBackup = {
    val b = portal.backupProperties(portal.itemById(itemId))
    PortalTransport.PropertyBackup(b.serviceProps, b.indexes, b.timeInfo)
  }

  override def restoreProperties(itemId: String,
      backup: PortalTransport.PropertyBackup): Unit =
    portal.restoreProperties(portal.itemById(itemId),
      portal.Backup(backup.props, backup.indexes, backup.timeInfo))

  override def publish(itemId: String): String = {
    val src = portal.itemById(itemId)
    val svc = portal.addOrRetry(s"${src.title} (service)", "Feature Service",
      src.tags, Map.empty)
    portal.relate(svc, Seq(src))
    svc.id
  }

  override def relate(originId: String, destId: String, unRelate: Boolean): Unit =
    portal.updateRelationships(portal.itemById(originId),
      Seq(portal.itemById(destId)), unRelate)

  override def related(itemId: String): Seq[Ref] =
    portal.relatedItems(portal.itemById(itemId)).map(ref)

  override def touch(itemId: String, now: Long): Unit =
    portal.touch(portal.itemById(itemId), now)

  override def replaceData(itemId: String, slot: String,
      files: Seq[java.nio.file.Path]): Unit = {
    import java.nio.file.{Files, Path, StandardCopyOption}
    val slotDir = Path.of(root, itemId, slot)
    if (Files.exists(slotDir)) {
      import scala.jdk.CollectionConverters._
      Files.walk(slotDir).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
    Files.createDirectories(slotDir)
    files.foreach(f => Files.move(f, slotDir.resolve(f.getFileName),
      StandardCopyOption.ATOMIC_MOVE))
  }

  override def listParts(itemId: String, slot: String): Seq[String] = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val dir = Path.of(root, itemId, slot)
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv"))
      .map(_.toString).toSeq.sorted
  }

  override def fetchPart(handle: String): Seq[String] =
    // RECORD split, not line split: string cells may carry quoted
    // CR/LF (RFC 4180), which a readAllLines would tear mid-cell
    graft.sources.erddap.Csv.recordLines(
      java.nio.file.Files.readString(java.nio.file.Path.of(handle)))
}

/** Live backend over the sharing-REST client. Data replacement is the
  * reference's GeoPackage/file road: upload the payload as item data
  * (`update(text=…)`), slot recorded in properties — one service holds
  * one live payload, A/B being two services in the reference. */
class RestPortalTransport(client: PortalRestClient) extends PortalTransport {
  import PortalTransport.Ref

  private def ref(i: client.ItemRef): Ref = Ref(i.id, i.title, i.itemType, i.tags)

  override def findByTitle(title: String): Option[Ref] =
    client.findByTitle(title).map(ref)

  override def searchByTags(tags: Seq[String], maxItems: Int): Seq[Ref] =
    client.searchByTags(tags, maxItems).map(ref)

  override def addOrRetry(title: String, itemType: String, tags: Seq[String],
      maxAttempts: Int): Ref = {
    val (id, wonTitle) = client.addOrRetryWithTitle(title, itemType, tags, maxAttempts)
    Ref(id, wonTitle, itemType, tags)
  }

  override def props(itemId: String): Map[String, String] =
    client.itemProps(itemId)

  override def update(itemId: String, props: Map[String, String]): Unit = {
    if (!client.update(itemId, props))
      throw new java.io.IOException(s"update failed for $itemId")
  }

  override def backupProperties(itemId: String): PortalTransport.PropertyBackup = {
    val (indexes, timeInfo) = client.serviceDefinition(itemId)
    PortalTransport.PropertyBackup(client.itemProps(itemId), indexes, timeInfo)
  }

  /** The full K9 replay over the wire: properties via item update,
    * indexes + timeInfo via the definition route — the reference's
    * index replay (`OverwriteFS.py:499-558`) and layer-optimization
    * restore (`:469-478`) now have a REST path, with the SAME
    * normalization rules as the local model.
    *
    * Restore REPLACES the property set like the local model: the
    * sharing API's update merges, so keys that appeared after the
    * backup are tombstoned with empty values (the `clearEmptyFields`
    * convention) in the same update call. */
  override def restoreProperties(itemId: String,
      backup: PortalTransport.PropertyBackup): Unit = {
    val n = backup.normalized
    val stale = client.itemProps(itemId).keySet -- n.props.keySet
    // clearEmptyFields=true makes the portal DELETE the tombstoned
    // keys (a plain update would just store empty strings)
    if (!client.update(itemId, n.props ++ stale.map(_ -> ""),
        clearEmptyFields = true))
      throw new java.io.IOException(s"restore update failed for $itemId")
    if (!client.updateDefinition(itemId, n.indexes, n.timeInfo))
      throw new java.io.IOException(s"updateDefinition failed for $itemId")
  }

  override def publish(itemId: String): String = client.publish(itemId)

  override def relate(originId: String, destId: String, unRelate: Boolean): Unit = {
    if (!client.relate(originId, destId, unRelate))
      throw new java.io.IOException(s"relate failed: $originId -> $destId")
  }

  override def related(itemId: String): Seq[Ref] =
    client.relatedItems(itemId).map(ref)

  override def touch(itemId: String, now: Long): Unit = {
    // the sharing API has no dedicated touch; an empty update bumps
    // `modified`, which is exactly how the reference touches items
    client.update(itemId, Map.empty)
    ()
  }

  override def replaceData(itemId: String, slot: String,
      files: Seq[java.nio.file.Path]): Unit = {
    val payload = files.map(f =>
      new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)).mkString
    if (!client.updateData(itemId, payload))
      throw new java.io.IOException(s"data upload failed for $itemId")
    files.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** One service holds one live payload (A/B = two services in the
    * reference), so the read plane is the single item-data download
    * regardless of slot. */
  override def listParts(itemId: String, slot: String): Seq[String] =
    Seq(itemId)

  override def fetchPart(handle: String): Seq[String] =
    graft.sources.erddap.Csv.recordLines(client.itemData(handle))
}
