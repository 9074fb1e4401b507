package graft.sources

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SparkTestSession
import graft.sources.erddap.{ErddapTransport, HttpErddapTransport, LocalErddapServer}
import graft.sources.griddap.GridNc

/** The connector over the REAL `java.net.http` transport: a localhost
  * HTTP server serves the same fixtures the local transport reads, and
  * every connector behavior (scan, pushdown, chunking, griddap slices,
  * retry) must produce identical results through both transports. */
class HttpTransportSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  // ---- fixtures: one tabledap CSV + DAS, one griddap grid ----------------
  lazy val dir: Path = {
    val d = Files.createTempDirectory("erddap_http")
    val rows = (0 until 96).map { h =>
      val t = Instant.parse("2024-06-01T00:00:00Z").plusSeconds(h * 3600L)
      val iso = graft.erddap.ChunkPlanner.isoNoZone(t) + "Z"
      s"$iso,25.9,-89.7,${20.0 + h % 10}"
    }
    Files.writeString(d.resolve("buoy1.csv"),
      ("time,latitude,longitude,sst" +: rows).mkString("\n"))
    // real DAS shape: one attribute per line (the parser is line-based,
    // like the reference's das_client state machine)
    Files.writeString(d.resolve("buoy1.das"),
      """Attributes {
        |  time {
        |    String ioos_category "Time";
        |    Float64 actual_range 1717200000.0, 1717542000.0;
        |  }
        |  latitude {
        |    Float64 actual_range 25.9, 25.9;
        |  }
        |  longitude {
        |    Float64 actual_range -89.7, -89.7;
        |  }
        |  sst {
        |    Float64 actual_range 20.0, 29.0;
        |  }
        |  NC_GLOBAL {
        |    String title "Test buoy";
        |  }
        |}""".stripMargin)
    val nt = 4; val nlat = 3; val nlon = 2
    val t0 = Instant.parse("2024-03-01T00:00:00Z").getEpochSecond
    Files.write(d.resolve("grid1.nc"), GridNc.write(GridNc.Grid(
      dims = Seq(("time", nt), ("latitude", nlat), ("longitude", nlon)),
      vars = Seq(
        GridNc.Var("time", Seq(0), isFloat = false,
          Array.tabulate(nt)(i => (t0 + i * 3600L).toDouble)),
        GridNc.Var("latitude", Seq(1), isFloat = false,
          Array.tabulate(nlat)(i => 20.0 + i)),
        GridNc.Var("longitude", Seq(2), isFloat = false,
          Array.tabulate(nlon)(i => -95.0 + i)),
        GridNc.Var("sst", Seq(0, 1, 2), isFloat = false,
          Array.tabulate(nt * nlat * nlon)(_ * 0.5))))))
    // a deliberately LARGE grid (~1.6 MB of data payload) for the
    // bounded-header-probe assertion
    val (bt, blat, blon) = (100, 50, 40)
    Files.write(d.resolve("grid2.nc"), GridNc.write(GridNc.Grid(
      dims = Seq(("time", bt), ("latitude", blat), ("longitude", blon)),
      vars = Seq(
        GridNc.Var("time", Seq(0), isFloat = false,
          Array.tabulate(bt)(i => (t0 + i * 3600L).toDouble)),
        GridNc.Var("latitude", Seq(1), isFloat = false,
          Array.tabulate(blat)(i => 20.0 + i * 0.1)),
        GridNc.Var("longitude", Seq(2), isFloat = false,
          Array.tabulate(blon)(i => -95.0 + i * 0.1)),
        GridNc.Var("sst", Seq(0, 1, 2), isFloat = false,
          Array.tabulate(bt * blat * blon)(_ * 0.5))))))
    d
  }

  // bytes served by the griddap route + hits on the full-file route,
  // for the bounded-probe assertion
  val griddapBytes = new java.util.concurrent.atomic.AtomicLong(0)
  val filesHits = new java.util.concurrent.atomic.AtomicInteger(0)
  val tabledapRequests = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()

  /** Fixture HTTP server: the SAME request grammar LocalErddapServer
    * executes, served over real sockets. Routes mirror ERDDAP's:
    * `/tabledap/<id>.csv?…`, `/tabledap/<id>.ncHeader`,
    * `/griddap/<id>.nc?…`, plus `/files/<id>.nc` raw. */
  lazy val (server: HttpServer, base: String) = {
    val local = new LocalErddapServer(dir.toString)
    graft.sinks.FakeAgolServer.ensureNoDelay() // kill the ~40ms Nagle/delayed-ACK stall
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
      ex.sendResponseHeaders(code, body.length)
      ex.getResponseBody.write(body); ex.close()
    }
    def tabledap(ex: HttpExchange): Unit = {
      val path = ex.getRequestURI.getPath
      try {
        if (path.endsWith(".ncHeader")) {
          val id = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".ncHeader")
          val n = local.rowCount(id)
          reply(ex, 200,
            s"netcdf $id {\ndimensions:\n\trow = $n ;\n}\n".getBytes("UTF-8"))
        } else if (path.endsWith(".das")) {
          val id = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".das")
          reply(ex, 200, local.dasText(id).getBytes("UTF-8"))
        } else {
          val url = "http://fixture" + path + "?" + ex.getRequestURI.getRawQuery
          reply(ex, 200, local.fetch(url).mkString("\n").getBytes("UTF-8"))
        }
      } catch { case e: Exception => reply(ex, 500, e.toString.getBytes("UTF-8")) }
    }
    srv.createContext("/tabledap/", (ex: HttpExchange) => tabledap(ex))
    // the same routes, counting requests per suffix (das, ncHeader, csvp…)
    srv.createContext("/counted/tabledap/", (ex: HttpExchange) => {
      val file = ex.getRequestURI.getPath.split('/').last
      tabledapRequests.computeIfAbsent(file.substring(file.lastIndexOf('.') + 1),
        _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet()
      tabledap(ex)
    })
    srv.createContext("/griddap/", (ex: HttpExchange) => {
      try {
        val path = ex.getRequestURI.getPath
        val body =
          if (path.endsWith(".dds")) {
            val id = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".dds")
            GridNc.dds(local.griddapHeader(id), id).getBytes("UTF-8")
          } else
            local.fetchGriddap(
              "http://fixture" + path + "?" + ex.getRequestURI.getRawQuery)
        griddapBytes.addAndGet(body.length)
        reply(ex, 200, body)
      } catch { case e: Exception => reply(ex, 500, e.toString.getBytes("UTF-8")) }
    })
    srv.createContext("/files/", (ex: HttpExchange) => {
      filesHits.incrementAndGet()
      val name = ex.getRequestURI.getPath.substring("/files/".length)
      val f = dir.resolve(name)
      if (Files.exists(f)) reply(ex, 200, Files.readAllBytes(f))
      else reply(ex, 404, Array.emptyByteArray)
    })
    srv.start()
    (srv, s"http://127.0.0.1:${srv.getAddress.getPort}")
  }

  def readLocal() = spark.read.format("erddap")
    .option("dataDir", dir.toString)
    .option("dataset", "buoy1")
    .option("das", dir.resolve("buoy1.das").toString)
    .option("chunkSize", "25")

  def readHttp() = spark.read.format("erddap")
    .option("dataDir", base)
    .option("dataset", "buoy1")
    .option("das", dir.resolve("buoy1.das").toString)
    .option("chunkSize", "25")

  test("endpoint scheme selects the transport") {
    assert(ErddapTransport(dir.toString).isInstanceOf[LocalErddapServer])
    assert(ErddapTransport(base).isInstanceOf[HttpErddapTransport])
    assert(ErddapTransport("https://example.org/erddap")
      .isInstanceOf[HttpErddapTransport])
  }

  test("full scan over HTTP matches the local transport") {
    val viaHttp = readHttp().load().orderBy("time").collect()
    val viaLocal = readLocal().load().orderBy("time").collect()
    assert(viaHttp.length == 96)
    assert(viaHttp.toSeq == viaLocal.toSeq)
  }

  test("das option is optional: schema comes from tabledap/<id>.das over HTTP") {
    val noLocalDas = spark.read.format("erddap")
      .option("dataDir", base)
      .option("dataset", "buoy1")
      .option("chunkSize", "25").load()
    assert(noLocalDas.schema.fieldNames.toSeq ==
      Seq("time", "latitude", "longitude", "sst"))
    assert(noLocalDas.count() == 96)
  }

  test("chunked partitions and time pushdown work over real sockets") {
    val df = readHttp().load()
    assert(df.rdd.getNumPartitions == 4) // 96 rows / 25-row chunks
    val filtered = df
      .filter(col("time") >= lit("2024-06-02 00:00:00").cast("timestamp") &&
        col("time") <= lit("2024-06-02 23:00:00").cast("timestamp"))
    assert(filtered.count() == 24)
    assert(filtered.rdd.getNumPartitions == 1)
  }

  test("statistics come from the ncHeader probe over HTTP") {
    val t = new HttpErddapTransport(base)
    assert(t.rowCount("buoy1") == 96)
    assert(t.sizeInBytes("buoy1", t.rowCount("buoy1")) == 96 * 64)
  }

  test("a filtered load().count() sends one .das and one .ncHeader") {
    server // started before counting
    tabledapRequests.clear()
    val n = spark.read.format("erddap")
      .option("dataDir", s"$base/counted")
      .option("dataset", "buoy1")
      .option("chunkSize", "25").load()
      .filter(col("time") >= lit("2024-06-02 00:00:00").cast("timestamp"))
      .count()
    assert(n == 72)
    val sent = tabledapRequests.asScala.map { case (k, v) => k -> v.get }.toMap
    assert(sent.get("das").contains(1), sent)
    assert(sent.get("ncHeader").contains(1), sent)
  }

  test("aggregate pushdown answers from HTTP metadata only") {
    val agg = readHttp().load()
      .agg(count(lit(1)).as("n"), min(col("time")).as("lo"))
    assert(agg.queryExecution.executedPlan.toString.contains("erddap-agg"))
    val r = agg.head()
    assert(r.getLong(0) == 96)
    assert(r.getTimestamp(1).toInstant == Instant.parse("2024-06-01T00:00:00Z"))
  }

  test("griddap scan over HTTP matches the local transport") {
    def read(endpoint: String) = spark.read.format("griddap")
      .option("dataDir", endpoint)
      .option("dataset", "grid1")
      .option("slicesPerPartition", "2").load()
    val viaHttp = read(base).orderBy("time", "latitude", "longitude").collect()
    val viaLocal = read(dir.toString).orderBy("time", "latitude", "longitude").collect()
    assert(viaHttp.length == 4 * 3 * 2)
    assert(viaHttp.toSeq == viaLocal.toSeq)
  }

  test("griddap header probe is bounded: DDS + coord axes, never the payload") {
    val t = new HttpErddapTransport(base, retryDelayMs = 10)
    val fullSize = Files.size(dir.resolve("grid2.nc"))
    assert(fullSize > 1500000L) // the payload the probe must NOT fetch

    val before = griddapBytes.get()
    val filesBefore = filesHits.get()
    val header = t.griddapHeader("grid2")
    val probeBytes = griddapBytes.get() - before

    // structure matches the local header exactly
    val localHeader = new LocalErddapServer(dir.toString).griddapHeader("grid2")
    assert(header.dims == localHeader.dims)
    assert(header.dataVars.map(_.name) == Seq("sst"))
    Seq("time", "latitude", "longitude").foreach { c =>
      assert(header.coord(c).toSeq == localHeader.coord(c).toSeq, c)
    }
    // data variables ride with NO values — the probe never fetched them
    assert(header.dataVars.head.values.isEmpty)

    // O(header): DDS + 3 coordinate axes ≪ the 3.2 MB payload
    assert(probeBytes < 100000L,
      s"header probe transferred $probeBytes bytes (full file: $fullSize)")
    assert(filesHits.get() == filesBefore, "probe must not hit the full-file route")
  }

  test("header probe falls back to the full-file road when the server has no .dds") {
    // a server speaking only the old routes: /griddap/ that errors on
    // .dds (unknown grammar) and /files/ serving raw bytes
    val local = new LocalErddapServer(dir.toString)
    val srv2 = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: com.sun.net.httpserver.HttpExchange, code: Int, b: Array[Byte]): Unit = {
      ex.sendResponseHeaders(code, b.length); ex.getResponseBody.write(b); ex.close()
    }
    srv2.createContext("/griddap/", (ex: com.sun.net.httpserver.HttpExchange) =>
      reply(ex, 404, "no dds here".getBytes("UTF-8")))
    srv2.createContext("/files/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val name = ex.getRequestURI.getPath.substring("/files/".length)
      reply(ex, 200, Files.readAllBytes(dir.resolve(name)))
    })
    srv2.start()
    try {
      val t = new HttpErddapTransport(
        s"http://127.0.0.1:${srv2.getAddress.getPort}", retries = 1, retryDelayMs = 10)
      val header = t.griddapHeader("grid1")
      val localHeader = local.griddapHeader("grid1")
      assert(header.dims == localHeader.dims)
      // full-file road carries the data values too
      assert(header.dataVars.head.values.nonEmpty)
    } finally srv2.stop(0)
  }

  test("griddap bbox pushdown slices server-side over HTTP") {
    val df = spark.read.format("griddap")
      .option("dataDir", base).option("dataset", "grid1").load()
      .filter(col("latitude") >= 21.0 && col("latitude") <= 22.0)
    assert(df.count() == 4 * 2 * 2)
  }

  test("transport retries transient failures (reference retry x3)") {
    // a route that 503s twice, then succeeds
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/flaky/tabledap/", (ex: HttpExchange) => {
      val n = hits.incrementAndGet()
      val body =
        if (n < 3) "unavailable".getBytes("UTF-8")
        else "time,sst\n2024-06-01T00:00:00Z,20.0".getBytes("UTF-8")
      ex.sendResponseHeaders(if (n < 3) 503 else 200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    val t = new HttpErddapTransport(s"$base/flaky", retryDelayMs = 10)
    val lines = t.fetch("https://ignored/tabledap/x.csv?time%2Csst")
    assert(lines.head == "time,sst" && lines.length == 2)
    assert(hits.get() == 3)
    // exhausted retries surface the final error
    val always = new HttpErddapTransport(s"$base/nosuch", retries = 2, retryDelayMs = 10)
    val err = intercept[Exception](always.fetch("https://ignored/tabledap/x.csv?a"))
    assert(err.getMessage.contains("404") || err.getMessage.contains("HTTP"))
  }

  test("a scan whose data route always 503s fails after the transport's 3 tries") {
    // metadata served normally; every data request answers 503
    val dataHits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/down/tabledap/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      if (path.endsWith(".das") || path.endsWith(".ncHeader")) {
        val id = path.substring(path.lastIndexOf('/') + 1)
        val local = new LocalErddapServer(dir.toString)
        val body =
          if (id.endsWith(".das")) local.dasText(id.stripSuffix(".das"))
          else s"netcdf x {\ndimensions:\n\trow = ${
            local.rowCount(id.stripSuffix(".ncHeader"))} ;\n}\n"
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes); ex.close()
      } else {
        dataHits.incrementAndGet()
        ex.sendResponseHeaders(503, -1); ex.close()
      }
    })
    // collect, not count: a bare count() is answered from the ncHeader
    // by the aggregate pushdown and never reads data
    val err = intercept[Exception] {
      spark.read.format("erddap")
        .option("dataDir", s"$base/down")
        .option("dataset", "buoy1").load().collect()
    }
    assert(err.toString.contains("503") ||
      Option(err.getCause).exists(_.toString.contains("503")), err)
    assert(dataHits.get() == 3)
  }

  test("compiled URLs are rebased onto the endpoint (server option independent)") {
    // the default server prefix "https://local/erddap/tabledap/" must not
    // leak into the socket request — only the endpoint matters
    val t = new HttpErddapTransport(base, retryDelayMs = 10)
    val lines = t.fetch(
      "https://local/erddap/tabledap/buoy1.csv?time%2Csst" +
        "&time%3E%3D2024-06-01T00:00:00Z&time%3C%3D2024-06-01T02:00:00Z")
    assert(lines.length == 4) // header + 3 rows
  }
}
