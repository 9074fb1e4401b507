package graft.sinks

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Localhost ArcGIS-sharing-REST fixture: exposes a [[Portal]] model
  * instance through the documented REST routes so the live client and
  * the [[RestPortalTransport]] can be exercised over real sockets.
  * Errors ride HTTP 200 with an `error` body, AGOL-style. */
class FakeAgolServer(val portal: Portal, val user: String, val pass: String,
    val tokenValue: String = "tok-12345") {

  /** Item data payloads stored via `update(text=…)`. */
  val dataStore = collection.mutable.Map.empty[String, String]

  /** Async-job knobs: when `jobPollsUntilDone > 0`, publish responses
    * carry a jobId whose status stays `processing` for that many polls
    * before `completed` (or `failed` when `failJobs` is set). */
  @volatile var jobPollsUntilDone = 0
  @volatile var failJobs = false
  val jobPolls = collection.mutable.Map.empty[String, Int]

  /** Fault-injection knobs. `currentToken` is the token the server
    * accepts RIGHT NOW; `rotateTokenAfterPolls = n` invalidates it
    * server-side immediately after the n-th status poll (the
    * token-expired-mid-job scenario — the client must re-login and
    * resume polling). `dropNextDataUpdate` makes the next item-data
    * `update` request die mid-response (declared content-length never
    * satisfied → the client sees a broken socket, not an error body). */
  @volatile var currentToken: String = tokenValue
  @volatile var rotateTokenAfterPolls: Int = -1
  @volatile var dropNextDataUpdate = false

  /** One-shot commit-plane fault: the next item PROPERTY update (no
    * `text` part) answers an AGOL error envelope instead of mutating —
    * the transport sees a failed update over a real socket, AFTER any
    * data-plane work already happened. */
  @volatile var failNextPropsUpdate = false

  /** `generateToken` requests received, valid credentials or not. */
  val tokenRequests = new java.util.concurrent.atomic.AtomicInteger()

  // com.sun.net.httpserver leaves Nagle ON by default; with the
  // client's small POST bodies that interacts with Linux delayed ACKs
  // into a ~40 ms stall PER REQUEST (measured: the REST lifecycle gate
  // spends ~1.5 s across ~35 localhost round-trips). The server honors
  // this property at ServerConfig class-load; setting it before the
  // first create() turns every fixture request into sub-millisecond.
  // Production semantics are untouched — this is the test server.
  FakeAgolServer.ensureNoDelay()

  private val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  private def reply(ex: HttpExchange, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, b.length)
    ex.getResponseBody.write(b); ex.close()
  }

  private def params(ex: HttpExchange): Map[String, String] = {
    val raw =
      if (ex.getRequestMethod == "POST")
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      else Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
  }

  private def jstr(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def itemJson(i: portal.Item): String = {
    val props = i.serviceProps.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString(",")
    s"""{"id":${jstr(i.id)},"title":${jstr(i.title)},"type":${jstr(i.itemType)},""" +
      s""""tags":[${i.tags.map(jstr).mkString(",")}],"properties":{$props}}"""
  }

  private def requireToken(p: Map[String, String], ex: HttpExchange)(ok: => Unit): Unit =
    if (!p.get("token").contains(currentToken))
      reply(ex, """{"error":{"code":499,"message":"Token Required"}}""")
    else ok

  srv.createContext("/sharing/rest/generateToken", (ex: HttpExchange) => {
    tokenRequests.incrementAndGet()
    val p = params(ex)
    if (p.get("username").contains(user) && p.get("password").contains(pass))
      reply(ex, s"""{"token":${jstr(currentToken)},"expires":9999999999}""")
    else reply(ex, """{"error":{"code":400,"message":"Invalid credentials"}}""")
  })

  srv.createContext("/sharing/rest/search", (ex: HttpExchange) => {
    val p = params(ex)
    requireToken(p, ex) {
      val q = p.getOrElse("q", "")
      val tags = "tags:\"([^\"]+)\"".r.findAllMatchIn(q).map(_.group(1)).toSeq
      val titles = "title:\"([^\"]+)\"".r.findAllMatchIn(q).map(_.group(1)).toSeq
      val num = p.getOrElse("num", "5000").toInt
      val hits = portal.allItems
        .filter(i => tags.forall(i.tags.contains))
        .filter(i => titles.forall(t => i.title.contains(t)))
        .take(num)
      reply(ex, s"""{"total":${hits.size},"results":[${hits.map(itemJson).mkString(",")}]}""")
    }
  })

  // item resource, relatedItems, data
  srv.createContext("/sharing/rest/content/items/", (ex: HttpExchange) => {
    val p = params(ex)
    requireToken(p, ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/sharing/rest/content/items/")
      path.split("/").toList match {
        case id :: Nil =>
          portal.allItems.find(_.id == id) match {
            case Some(i) => reply(ex, itemJson(i))
            case None => reply(ex, s"""{"error":{"code":400,"message":"Item '$id' not found"}}""")
          }
        case id :: "relatedItems" :: Nil =>
          val rel = portal.allItems.find(_.id == id)
            .map(portal.relatedItems).getOrElse(Nil)
          reply(ex, s"""{"relatedItems":[${rel.map(itemJson).mkString(",")}]}""")
        case id :: "definition" :: Nil =>
          portal.allItems.find(_.id == id) match {
            case Some(i) =>
              val idx = i.indexes.map { case (n, f) =>
                s"""{"name":${jstr(n)},"fields":${jstr(f)}}""" }.mkString(",")
              // a JSON-blob timeInfo is served as the OBJECT a real
              // service definition returns; other strings as text
              val ti = i.timeInfo.map(t =>
                s""","timeInfo":${if (t.trim.startsWith("{")) t else jstr(t)}""")
                .getOrElse("")
              reply(ex, s"""{"indexes":[$idx]$ti}""")
            case None => reply(ex, s"""{"error":{"code":400,"message":"Item '$id' not found"}}""")
          }
        case id :: "data" :: Nil =>
          val body = dataStore.getOrElse(id, "")
          val b = body.getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b); ex.close()
        case other =>
          reply(ex, s"""{"error":{"code":400,"message":"Unknown route ${other.mkString("/")}"}}""")
      }
    }
  })

  srv.createContext(s"/sharing/rest/content/users/", (ex: HttpExchange) => {
    val p = params(ex)
    requireToken(p, ex) {
      val path = ex.getRequestURI.getPath
        .stripPrefix(s"/sharing/rest/content/users/$user/")
      path match {
        case "addItem" =>
          val title = p.getOrElse("title", "")
          if (portal.findByTitle(title).isDefined)
            // the live portal's filename-conflict shape the reference
            // string-matches on (agol_wrangler.py:549-551)
            reply(ex, s"""{"error":{"code":409,"message":"Item '${title}' already exists"}}""")
          else {
            val tags = p.getOrElse("tags", "").split(",").filter(_.nonEmpty).toSeq
            val item = portal.addOrRetry(title, p.getOrElse("type", ""), tags, Map())
            reply(ex, s"""{"success":true,"id":${jstr(item.id)}}""")
          }
        case "addRelationship" | "deleteRelationship" =>
          val origin = p.getOrElse("originItemId", "")
          val dest = p.getOrElse("destinationItemId", "")
          (portal.allItems.find(_.id == origin), portal.allItems.find(_.id == dest)) match {
            case (Some(o), Some(d)) =>
              portal.updateRelationships(o, Seq(d),
                unRelate = path == "deleteRelationship")
              reply(ex, """{"success":true}""")
            case _ =>
              reply(ex, """{"error":{"code":400,"message":"relationship item not found"}}""")
          }
        case p2 if p2.endsWith("/updateDefinition") =>
          val id = p2.stripSuffix("/updateDefinition").stripPrefix("items/")
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val arr = mapper.readTree(p.getOrElse("indexes", "[]"))
          val idx = (0 until arr.size()).map { i =>
            arr.get(i).path("name").asText() -> arr.get(i).path("fields").asText()
          }
          portal.setIndexes(portal.itemById(id), idx)
          portal.setTimeInfo(portal.itemById(id), p.get("timeInfo"))
          reply(ex, s"""{"success":true,"id":${jstr(id)}}""")
        case p2 if p2.endsWith("/update") && failNextPropsUpdate &&
            !p.contains("text") =>
          failNextPropsUpdate = false
          reply(ex, """{"error":{"code":500,"message":"Unable to update item. Service temporarily unavailable."}}""")
        case p2 if p2.endsWith("/update") && dropNextDataUpdate && p.contains("text") =>
          // induced mid-commit socket drop: declare a body we never
          // finish, so the client dies on a broken stream BEFORE any
          // server-side mutation happened
          dropNextDataUpdate = false
          ex.sendResponseHeaders(200, 100)
          ex.getResponseBody.write("{".getBytes(StandardCharsets.UTF_8))
          ex.close()
        case p2 if p2.endsWith("/update") =>
          val id = p2.stripSuffix("/update").stripPrefix("items/")
          val clearFlag = p.get("clearEmptyFields").contains("true")
          val props = p - "token" - "f" - "text" - "clearEmptyFields"
          p.get("text").foreach(dataStore(id) = _)
          val (empties, sets) = props.partition(_._2.isEmpty)
          if (sets.nonEmpty)
            portal.updateServiceProps(portal.itemById(id), sets)
          // the sharing API deletes empty-valued keys ONLY under
          // clearEmptyFields=true; otherwise they are stored verbatim
          if (empties.nonEmpty) {
            if (clearFlag) portal.removeServiceProps(portal.itemById(id), empties.keySet)
            else portal.updateServiceProps(portal.itemById(id), empties)
          }
          portal.touch(portal.itemById(id), System.currentTimeMillis())
          reply(ex, s"""{"success":true,"id":${jstr(id)}}""")
        case p2 if p2.endsWith("/publish") =>
          val id = p2.stripSuffix("/publish").stripPrefix("items/")
          val src = portal.itemById(id)
          val svc = portal.addOrRetry(s"${src.title} (service)",
            "Feature Service", src.tags, Map())
          portal.relate(svc, Seq(src))
          val job =
            if (jobPollsUntilDone > 0) { jobPolls(s"job-${svc.id}") = 0
              s""","jobId":${jstr(s"job-${svc.id}")}""" }
            else ""
          reply(ex, s"""{"services":[{"serviceItemId":${jstr(svc.id)},"success":true$job}]}""")
        case p2 if p2.endsWith("/status") =>
          val jobId = p.getOrElse("jobId", "")
          val polls = jobPolls.getOrElse(jobId, 0) + 1
          jobPolls(jobId) = polls
          // token expiry mid-poll: this poll succeeds, the NEXT request
          // carrying the old token gets the 499 re-login dance
          if (rotateTokenAfterPolls >= 0 && polls == rotateTokenAfterPolls)
            currentToken = currentToken + s"-rot$polls"
          if (polls <= jobPollsUntilDone)
            reply(ex, """{"status":"processing","statusMessage":"..."}""")
          else if (failJobs)
            reply(ex, """{"status":"failed","statusMessage":"Job failed."}""")
          else reply(ex, """{"status":"completed","statusMessage":"done"}""")
        case other =>
          reply(ex, s"""{"error":{"code":400,"message":"Unknown route $other"}}""")
      }
    }
  })

  srv.start()
  val base: String = s"http://127.0.0.1:${srv.getAddress.getPort}"

  def stop(): Unit = srv.stop(0)
}

object FakeAgolServer {
  /** Must run before the FIRST HttpServer.create in the JVM —
    * sun.net.httpserver.ServerConfig reads the property once at class
    * load. Idempotent; if another fixture already loaded ServerConfig
    * without it, requests just stay on the (correct, slower) path. */
  private lazy val noDelaySet: Boolean = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    true
  }
  private[graft] def ensureNoDelay(): Unit = { noDelaySet; () }
}
