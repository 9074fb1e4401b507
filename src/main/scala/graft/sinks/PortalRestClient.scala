package graft.sinks

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** ArcGIS-sharing-REST client (`java.net.http`) — the live transport
  * behind the Portal model's surfaces. Speaks the documented REST
  * routes the reference drives through the arcgis SDK
  * (`agol_wrangler.py` `gis.content.*`, `update_manager.py` search):
  *
  *   POST <root>/sharing/rest/generateToken                  → {token}
  *   GET  <root>/sharing/rest/search?q=…&num=…&f=json        → {results}
  *   POST <root>/sharing/rest/content/users/<u>/addItem      → {id} | 409
  *   POST …/content/users/<u>/items/<id>/update              → {success}
  *   POST …/content/users/<u>/items/<id>/publish             → {services}
  *
  * Every call carries the session token (fetched lazily, refreshed on
  * a 498/499 token error) and `f=json`. [[addOrRetry]] reproduces the
  * reference's 409-conflict rename loop (`agol_wrangler.py:527-568`):
  * title `_1`.. `_{max-1}`, then fail. Tag search uses the
  * `tags:"…" AND tags:"…"` query grammar (`update_manager.py:30-46`).
  */
class PortalRestClient(root: String, username: String, password: String,
    connectTimeoutSec: Long = 30, readTimeoutSec: Long = 60) {

  case class ItemRef(id: String, title: String, itemType: String, tags: Seq[String])

  private val base = root.stripSuffix("/") + "/sharing/rest"
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(connectTimeoutSec)).build()

  @volatile private var token: Option[String] = None
  private val mintLock = new Object

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def form(params: Seq[(String, String)]): String =
    params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")

  private def send(req: HttpRequest): JsonNode = {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    mapper.readTree(resp.body())
  }

  /** POST generateToken — AGOL's username/password login. */
  def generateToken(): String = {
    val req = HttpRequest.newBuilder(URI.create(s"$base/generateToken"))
      .timeout(Duration.ofSeconds(readTimeoutSec))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form(Seq(
        "username" -> username, "password" -> password,
        "referer" -> root, "f" -> "json"))))
      .build()
    val node = send(req)
    if (!node.has("token"))
      throw new java.io.IOException(s"generateToken failed: $node")
    val t = node.get("token").asText()
    token = Some(t)
    t
  }

  /** A token to use after `failed` (None: there was none yet), minted
    * single-flight: callers that saw the same token fail wait on one
    * login, and a caller that finds a newer token takes it unminted. */
  private def mint(failed: Option[String]): String = mintLock.synchronized {
    token match {
      case Some(t) if !failed.contains(t) => t
      case _ => generateToken()
    }
  }

  private def withToken[A](call: String => JsonNode): JsonNode = {
    val t = token.getOrElse(mint(None))
    val node = call(t)
    if (node.has("error") &&
        Set(498, 499).contains(node.get("error").path("code").asInt())) {
      // expired/invalid token → re-login once, like the SDK session
      call(mint(Some(t)))
    } else node
  }

  private def get(path: String, params: Seq[(String, String)]): JsonNode =
    withToken { t =>
      val q = form(params ++ Seq("token" -> t, "f" -> "json"))
      send(HttpRequest.newBuilder(URI.create(s"$base$path?$q"))
        .timeout(Duration.ofSeconds(readTimeoutSec)).GET().build())
    }

  private def post(path: String, params: Seq[(String, String)]): JsonNode =
    withToken { t =>
      send(HttpRequest.newBuilder(URI.create(s"$base$path"))
        .timeout(Duration.ofSeconds(readTimeoutSec))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(
          form(params ++ Seq("token" -> t, "f" -> "json"))))
        .build())
    }

  private def parseItem(n: JsonNode): ItemRef = {
    val tags = (0 until n.path("tags").size())
      .map(i => n.path("tags").get(i).asText())
    ItemRef(n.path("id").asText(), n.path("title").asText(),
      n.path("type").asText(), tags)
  }

  /** Raw search with the sharing-REST query grammar. */
  def search(q: String, maxItems: Int = 5000): Seq[ItemRef] = {
    val node = get("/search", Seq("q" -> q, "num" -> maxItems.toString))
    (0 until node.path("results").size())
      .map(i => parseItem(node.path("results").get(i)))
  }

  /** S12/S13 — tag search with the reference's query grammar: all tags
    * must match (`update_manager.py:30-46`). */
  def searchByTags(tags: Seq[String], maxItems: Int = 5000): Seq[ItemRef] =
    search(tags.map(t => s"""tags:"$t"""").mkString(" AND "), maxItems)

  /** Exact-title lookup via the `title:"…"` query (the grammar matches
    * loosely, so the exact-equality filter happens client-side). */
  def findByTitle(title: String): Option[ItemRef] =
    search(s"""title:"$title"""").find(_.title == title)

  /** GET /content/items/<id> — the item resource; returns its
    * `properties` object as a string map (AGOL's free-form key-values). */
  def itemProps(itemId: String): Map[String, String] = {
    val node = get(s"/content/items/$itemId", Nil)
    if (node.has("error"))
      throw new java.io.IOException(s"item $itemId: $node")
    val props = node.path("properties")
    props.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  /** GET /content/items/<id>/relatedItems (Service2Service forward). */
  def relatedItems(itemId: String,
      relationshipType: String = "Service2Service"): Seq[ItemRef] = {
    val node = get(s"/content/items/$itemId/relatedItems",
      Seq("relationshipType" -> relationshipType, "direction" -> "forward"))
    (0 until node.path("relatedItems").size())
      .map(i => parseItem(node.path("relatedItems").get(i)))
  }

  /** POST addRelationship / deleteRelationship — idempotence is the
    * server's ("already exists" / "not found" outcomes are success,
    * like the reference's trapped REST errors). */
  def relate(originId: String, destId: String, unRelate: Boolean = false,
      relationshipType: String = "Service2Service"): Boolean = {
    val route = if (unRelate) "deleteRelationship" else "addRelationship"
    val node = post(s"/content/users/$username/$route", Seq(
      "originItemId" -> originId, "destinationItemId" -> destId,
      "relationshipType" -> relationshipType))
    node.path("success").asBoolean(false) ||
      node.path("error").path("message").asText("").matches(
        ".*(already exists|not found).*")
  }

  /** Raw addItem — surfaces the portal's 409 on a title conflict. */
  def addItem(title: String, itemType: String, tags: Seq[String]): String = {
    val node = post(s"/content/users/$username/addItem", Seq(
      "title" -> title, "type" -> itemType, "tags" -> tags.mkString(",")))
    if (node.has("error")) {
      val code = node.get("error").path("code").asInt()
      throw new java.io.IOException(
        s"addItem failed ($code): ${node.get("error").path("message").asText()}")
    }
    node.path("id").asText()
  }

  /** K5 — the reference's 409-retry loop: on "409 … already exists",
    * retry with `title_1`, `title_2`, …; anything else rethrows. */
  def addOrRetry(title: String, itemType: String, tags: Seq[String],
      maxAttempts: Int = 10): String =
    addOrRetryWithTitle(title, itemType, tags, maxAttempts)._1

  /** [[addOrRetry]] variant also returning the title that won. */
  def addOrRetryWithTitle(title: String, itemType: String, tags: Seq[String],
      maxAttempts: Int = 10): (String, String) = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val candidate = if (attempt == 0) title else s"${title}_$attempt"
      try return (addItem(candidate, itemType, tags), candidate)
      catch {
        case e: java.io.IOException
            if e.getMessage.contains("409") &&
              e.getMessage.contains("already exists") =>
          attempt += 1
      }
    }
    throw new IllegalStateException("Max attempts reached for adding item with retry.")
  }

  /** Upload item DATA as text (the sharing API's `text` update field —
    * how the reference ships CSV/GeoJSON payloads before publish). */
  def updateData(itemId: String, text: String): Boolean = {
    val node = post(s"/content/users/$username/items/$itemId/update",
      Seq("text" -> text))
    node.path("success").asBoolean(false)
  }

  /** GET /content/items/<id>/data — the raw stored payload (verbatim,
    * not a JSON envelope; only token errors come back as JSON). */
  def itemData(itemId: String): String = {
    val node = withToken { t =>
      val q = form(Seq("token" -> t))
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/content/items/$itemId/data?$q"))
          .timeout(Duration.ofSeconds(readTimeoutSec)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val body = resp.body()
      val parsed = try mapper.readTree(body) catch { case _: Exception => null }
      if (parsed != null && parsed.has("error")) parsed
      else mapper.createObjectNode().put("data", body)
    }
    if (node.has("error"))
      throw new java.io.IOException(s"itemData $itemId: $node")
    node.path("data").asText()
  }

  /** GET /content/items/<id>/definition — the service-definition slice
    * K9 replays after an overwrite: attribute indexes and the layer's
    * timeInfo (the surface the reference reads through the admin
    * manager, `OverwriteFS.py:268-398`). */
  def serviceDefinition(itemId: String): (Seq[(String, String)], Option[String]) = {
    val node = get(s"/content/items/$itemId/definition", Nil)
    if (node.has("error"))
      throw new java.io.IOException(s"definition $itemId: $node")
    val idx = (0 until node.path("indexes").size()).map { i =>
      val n = node.path("indexes").get(i)
      n.path("name").asText() -> n.path("fields").asText()
    }
    // a real service definition carries timeInfo as a JSON OBJECT;
    // string-valued blobs (test fixtures, round-tripped restores) come
    // back textual — carry either shape verbatim
    val tiNode = node.path("timeInfo")
    val ti =
      if (tiNode.isMissingNode || tiNode.isNull) None
      else if (tiNode.isTextual) Some(tiNode.asText()).filter(_.nonEmpty)
      else Some(tiNode.toString)
    (idx, ti)
  }

  /** POST …/items/<id>/updateDefinition — replace the definition slice
    * (indexes as a JSON array, timeInfo as its blob): the wire path of
    * the reference's index replay (`OverwriteFS.py:499-558`) and
    * layer-optimization restore (`:469-478`). */
  def updateDefinition(itemId: String, indexes: Seq[(String, String)],
      timeInfo: Option[String]): Boolean = {
    val arr = mapper.createArrayNode()
    indexes.foreach { case (name, fields) =>
      arr.add(mapper.createObjectNode().put("name", name).put("fields", fields))
    }
    val node = post(s"/content/users/$username/items/$itemId/updateDefinition",
      Seq("indexes" -> mapper.writeValueAsString(arr)) ++
        timeInfo.map("timeInfo" -> _).toSeq)
    node.path("success").asBoolean(false)
  }

  /** Item property update (also the K11 touch vehicle).
    * `clearEmptyFields = true` asks the portal to DELETE keys posted
    * with empty values (the sharing API's documented flag) — the wire
    * vehicle for restore-as-replace semantics. */
  def update(itemId: String, props: Map[String, String],
      clearEmptyFields: Boolean = false): Boolean = {
    val params = props.toSeq ++
      (if (clearEmptyFields) Seq("clearEmptyFields" -> "true") else Nil)
    val node = post(s"/content/users/$username/items/$itemId/update", params)
    node.path("success").asBoolean(false)
  }

  /** Publish an uploaded item as a hosted service; returns the service
    * item id. An async publish (response carries a `jobId`) is awaited
    * with the escalating-backoff poll before returning. */
  def publish(itemId: String): String = {
    val node = post(s"/content/users/$username/items/$itemId/publish", Nil)
    val services = node.path("services")
    if (services.size() == 0)
      throw new java.io.IOException(s"publish returned no services: $node")
    val svc = services.get(0)
    val svcId = svc.path("serviceItemId").asText()
    val jobId = svc.path("jobId").asText("")
    if (jobId.nonEmpty) awaitJob(svcId, jobId)
    svcId
  }

  /** Escalating-backoff poll of an async portal job — the reference's
    * sleep ladder around job status (`OverwriteFS.py:185-248`): start
    * at 0.25 s, double each poll, cap at 15 s, until the status route
    * reports `completed` (returned) or `failed` (IOException with the
    * job's statusMessage, the shape the "job failed" recovery tier
    * string-matches on). `sleeper` is injectable for tests. */
  def awaitJob(itemId: String, jobId: String, maxWaitSec: Long = 600,
      sleeper: Long => Unit = Thread.sleep): String = {
    val deadline = System.nanoTime() + maxWaitSec * 1000000000L
    var delayMs = 250L
    while (true) {
      val node = get(s"/content/users/$username/items/$itemId/status",
        Seq("jobId" -> jobId, "jobType" -> "publish"))
      node.path("status").asText("") match {
        case "completed" => return "completed"
        case "failed" => throw new java.io.IOException(
          "job failed: " + node.path("statusMessage").asText(""))
        case _ =>
          if (System.nanoTime() > deadline)
            throw new java.io.IOException(
              s"job $jobId timed out after ${maxWaitSec}s")
          sleeper(delayMs)
          delayMs = math.min(delayMs * 2, 15000L)
      }
    }
    "completed" // unreachable
  }
}
