package graft.sources.erddap

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Transport seam for the ERDDAP connectors: everything above this
  * trait (URL grammar, chunk partitions, pushdown) is
  * transport-agnostic, and retrying a failed request is the transport's
  * job alone — the partition readers call each URL once. Two
  * implementations:
  *
  *  - [[LocalErddapServer]] — fixture-directory fake executing the same
  *    request grammar server-side (zero-egress test/bench path);
  *  - [[HttpErddapTransport]] — real `java.net.http` client with the
  *    reference's timeout/retry policy (`data_wrangler.py:557-573`:
  *    connect 120 s, read 180 s, 3 tries).
  *
  * Selection is by endpoint scheme: `http://`/`https://` → HTTP,
  * anything else is a local fixture directory — so the same
  * `spark.read.format("erddap").option("dataDir", …)` call works
  * against either.
  */
trait ErddapTransport extends Serializable {
  /** Execute a compiled tabledap URL, returning CSV lines (header first). */
  def fetch(url: String): Seq[String]
  /** The dataset's DAS document (schema source) — local file or
    * `tabledap/<id>.das` over HTTP, so a connector pointed at a remote
    * server needs NO local metadata files. */
  def dasText(datasetId: String): String
  /** Execute a compiled griddap hyperslab URL, returning NetCDF bytes. */
  def fetchGriddap(url: String): Array[Byte]
  /** Griddap metadata probe: dims + variables + coordinates. */
  def griddapHeader(datasetId: String): graft.sources.griddap.GridNc.Grid
  /** ncHeader-style row-count probe — no data transfer. */
  def rowCount(datasetId: String): Long
  /** Size estimate for `SupportsReportStatistics`, given the scan's
    * [[rowCount]] probe answer so no transport probes twice. */
  def sizeInBytes(datasetId: String, rowCount: Long): Long
}

object ErddapTransport {
  def apply(endpoint: String): ErddapTransport =
    if (endpoint.startsWith("http://") || endpoint.startsWith("https://"))
      new HttpErddapTransport(endpoint)
    else new LocalErddapServer(endpoint)
}

/** Live HTTP transport. `base` is the server root (e.g.
  * `https://host/erddap`); compiled request URLs are REBASED onto it
  * (`<base>/tabledap/<id>.csv?…`, `<base>/griddap/<id>.nc?…`) so the
  * connector's `server` option — which exists to make compiled URLs
  * readable in plans — never has to agree with the transport endpoint.
  *
  * Retry policy mirrors the reference (`data_wrangler.py:557-573`):
  * `retries` attempts per request, fixed delay between attempts,
  * connect/read timeouts of 120 s/180 s. Non-2xx responses count as
  * failures and are retried (ERDDAP returns 404 for empty chunk
  * windows — callers see the final exception after retries).
  *
  * The row-count probe requests `<id>.ncHeader` and parses the
  * `row = N ;` dimension from the CDL header, exactly the reference's
  * sizing probe (`data_wrangler.py:238-266`). The size estimate derives
  * from it (stats only steer join planning, they need order of
  * magnitude, not bytes).
  */
class HttpErddapTransport(
    base: String,
    connectTimeoutSec: Long = 120,
    readTimeoutSec: Long = 180,
    retries: Int = 3,
    retryDelayMs: Long = 2000) extends ErddapTransport {

  private val root = base.stripSuffix("/")

  private def rebase(compiledUrl: String, kind: String): URI = {
    val tail = compiledUrl.substring(compiledUrl.lastIndexOf('/') + 1)
    URI.create(s"$root/$kind/$tail")
  }

  private def getBytes(uri: URI): Array[Byte] =
    HttpErddapTransport.withClient(root, connectTimeoutSec)(getBytes(_, uri))

  private def getBytes(client: HttpClient, uri: URI): Array[Byte] = {
    var attempt = 0
    var last: Exception = null
    while (attempt < retries) {
      try {
        val req = HttpRequest.newBuilder(uri)
          .timeout(Duration.ofSeconds(readTimeoutSec)).GET().build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
        if (resp.statusCode() / 100 == 2) return resp.body()
        last = new java.io.IOException(s"HTTP ${resp.statusCode()} for $uri")
      } catch { case e: Exception => last = e }
      attempt += 1
      if (attempt < retries) Thread.sleep(retryDelayMs)
    }
    throw last
  }

  private def getString(uri: URI): String =
    new String(getBytes(uri), java.nio.charset.StandardCharsets.UTF_8)

  override def fetch(url: String): Seq[String] = {
    // quote-aware record split: ERDDAP's csvp never embeds newlines,
    // but plain .csv responses MAY quote them — a record split here
    // keeps such cells intact instead of tearing the row in half
    Csv.recordLines(getString(rebase(url, "tabledap"))).filter(_.nonEmpty)
  }

  override def dasText(datasetId: String): String =
    getString(URI.create(s"$root/tabledap/$datasetId.das"))

  override def fetchGriddap(url: String): Array[Byte] =
    getBytes(rebase(url, "griddap"))

  private val ddsVarRe =
    "(Float32|Float64|Int32|Int16|UInt16|Byte)\\s+(\\w+)((?:\\[\\w+ = \\d+\\])+);".r
  private val ddsDimRe = "\\[(\\w+) = (\\d+)\\]".r

  /** Bounded metadata probe — O(header + coordinate axes) bytes, never
    * the data payload (the reference probes `.das`/`.dds` only,
    * `data_wrangler.py:238-266`; a multi-GB remote grid must not be
    * downloaded to PLAN a scan):
    *
    *  1. `griddap/<id>.dds` → structure: dims with lengths, data
    *     variables with their dim lists and storage type;
    *  2. one tiny `griddap/<id>.nc?<coord>` request PER coordinate
    *     axis → the coord values the hyperslab compiler needs
    *     (O(sum of axis lengths), vs O(product) for the data).
    *
    * Data variables carry EMPTY value arrays — the scan never reads
    * them from the header; partition readers fetch hyperslab bytes.
    * A server without the `.dds` route falls back to the full-file
    * road (`files/<id>.nc`) for fixture compatibility. */
  override def griddapHeader(datasetId: String): graft.sources.griddap.GridNc.Grid = {
    import graft.sources.griddap.GridNc
    val ddsText =
      try getString(URI.create(s"$root/griddap/$datasetId.dds"))
      catch { case _: Exception =>
        return GridNc.read(getBytes(URI.create(s"$root/files/$datasetId.nc")))
      }
    val entries = ddsVarRe.findAllMatchIn(ddsText).map { m =>
      (m.group(1), m.group(2),
        ddsDimRe.findAllMatchIn(m.group(3))
          .map(d => (d.group(1), d.group(2).toInt)).toSeq)
    }.toSeq
    require(entries.nonEmpty, s"unparseable DDS for $datasetId:\n$ddsText")

    val dims = collection.mutable.LinkedHashMap.empty[String, Int]
    entries.foreach(_._3.foreach { case (n, len) => dims.getOrElseUpdate(n, len) })
    val dimList = dims.toSeq
    val dimIdx = dimList.map(_._1).zipWithIndex.toMap

    def isCoord(e: (String, String, Seq[(String, Int)])): Boolean =
      e._3.length == 1 && e._3.head._1 == e._2

    val coordVars = entries.filter(isCoord).distinctBy(_._2).map { e =>
      val values = GridNc.read(
        getBytes(URI.create(s"$root/griddap/$datasetId.nc?${e._2}")))
        .coord(e._2)
      GridNc.Var(e._2, e._3.map(d => dimIdx(d._1)), e._1 == "Float32", values)
    }
    val dataVars = entries.filterNot(isCoord).distinctBy(_._2).map { e =>
      GridNc.Var(e._2, e._3.map(d => dimIdx(d._1)), e._1 == "Float32",
        Array.emptyDoubleArray)
    }
    GridNc.Grid(dimList, coordVars ++ dataVars)
  }

  private val rowDimRe = "(?m)^\\s*(?:row|obs)\\s*=\\s*(\\d+)\\s*;".r

  override def rowCount(datasetId: String): Long = {
    val header = getString(URI.create(s"$root/tabledap/$datasetId.ncHeader"))
    rowDimRe.findFirstMatchIn(header)
      .map(_.group(1).toLong)
      .getOrElse(throw new java.io.IOException(
        s"no row dimension in ncHeader for $datasetId"))
  }

  override def sizeInBytes(datasetId: String, rowCount: Long): Long =
    rowCount * 64 // ~64 B/row: order-of-magnitude for planning
}

object HttpErddapTransport {
  private val MaxEndpoints = 16

  /** (endpoint root, connect timeout) → its idle client, least recently
    * used first; the oldest is dropped past [[MaxEndpoints]]. */
  private val idle =
    new java.util.LinkedHashMap[(String, Long), HttpClient](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), HttpClient]): Boolean =
        size() > MaxEndpoints
    }

  /** `f` over a client of the endpoint: its idle client, else a new one,
    * which afterwards becomes the endpoint's idle client unless another
    * already is. Requests one after another — the DAS and size probes,
    * the scan, each partition reader, the griddap probes and slices —
    * so share one client and its keep-alive connection, where a client
    * per transport opened a connection per request. Requests that
    * overlap get a client each and keep at most one: a client lent to
    * one request at a time holds one connection, and a server may keep
    * a buffer per open connection (the JDK's HTTP server keeps one as
    * large as the connection's largest response), so pooling every
    * overlapping scan's connections would hold that memory for as long
    * as the client lives. A dropped client's connection closes when it
    * is collected. */
  private[erddap] def withClient[A](root: String, connectTimeoutSec: Long)(
      f: HttpClient => A): A = {
    val key = (root, connectTimeoutSec)
    val client = Option(idle.synchronized(idle.remove(key))).getOrElse(
      HttpClient.newBuilder()
        .connectTimeout(Duration.ofSeconds(connectTimeoutSec))
        .followRedirects(HttpClient.Redirect.NORMAL)
        .build())
    try f(client)
    finally idle.synchronized(idle.putIfAbsent(key, client))
  }
}
