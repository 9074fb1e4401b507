package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A tabledap dataset as served: rows `[first, end)` of `src`,
  * pre-encoded in the connector's URL attribute order into one byte
  * array with per-row offsets, so a time-window request is a slice. */
final class TableSnap(val src: TableSource, val first: Long, val end: Long,
    val body: Array[Byte], val offs: Array[Int]) {
  val das: Array[Byte] = src.das(first, end).getBytes(UTF_8)
  val ncHeader: Array[Byte] = src.ncHeader(end - first).getBytes(UTF_8)
  val header: Array[Byte] = src.urlOrder.mkString("", ",", "\n").getBytes(US_ASCII)

  /** Rows `[newFirst, newEnd)`: appends the new rows' bytes and drops
    * the aged ones, reusing the bytes of the rows kept. */
  def advance(newFirst: Long, newEnd: Long): TableSnap = {
    require(newFirst >= first && newEnd >= end && newFirst < newEnd)
    val added = (end until newEnd).map(i => src.line(src.urlOrder, i))
    val keepFrom = offs((newFirst - first).toInt)
    val keepLen = body.length - keepFrom
    val out = new Array[Byte](keepLen + added.map(_.length).sum)
    System.arraycopy(body, keepFrom, out, 0, keepLen)
    val n = (newEnd - newFirst).toInt
    val o = new Array[Int](n + 1)
    val kept = (end - newFirst).toInt
    var j = 0
    while (j <= kept) { o(j) = offs(j + (newFirst - first).toInt) - keepFrom; j += 1 }
    var pos = keepLen
    added.zipWithIndex.foreach { case (b, k) =>
      System.arraycopy(b, 0, out, pos, b.length); pos += b.length; o(kept + k + 1) = pos
    }
    new TableSnap(src, newFirst, newEnd, out, o)
  }
}

object TableSnap {
  def build(src: TableSource, first: Long, end: Long): TableSnap =
    new TableSnap(src, first, first, Array.emptyByteArray, Array(0)).advance(first, end)
}

/** A griddap dataset as served: `slices` hourly slices of `src`, each
  * variable's slice pre-encoded as a NetCDF data slab. */
final class GridSnap(val src: GridSource, val slabs: Vector[Vector[Array[Byte]]]) {
  def slices: Int = slabs.head.length
  val times: Array[Double] = Array.tabulate(slices)(s => src.epoch(s).toDouble)

  val dds: Array[Byte] = {
    def dim(n: String, len: Int) = s"[$n = $len]"
    val t = dim("time", slices); val la = dim("latitude", src.nLat); val lo = dim("longitude", src.nLon)
    val coords = Seq(s"  Float64 time$t;", s"  Float64 latitude$la;", s"  Float64 longitude$lo;")
    val grids = src.vars.map { v =>
      s"  GRID {\n    ARRAY:\n      Float32 $v$t$la$lo;\n    MAPS:\n" +
        s"      Float64 time$t;\n      Float64 latitude$la;\n      Float64 longitude$lo;\n  } $v;"
    }
    (Seq("Dataset {") ++ coords ++ grids ++ Seq(s"} ${src.id};")).mkString("", "\n", "\n").getBytes(UTF_8)
  }

  def appendSlice(): GridSnap = {
    val s = slices
    new GridSnap(src, slabs.zipWithIndex.map { case (vs, v) => vs :+ src.slab(v, s) })
  }
}

object GridSnap {
  def build(src: GridSource, slices: Int): GridSnap =
    new GridSnap(src, src.vars.indices.map(v => (0 until slices).map(s => src.slab(v, s)).toVector).toVector)
}

/** Minimal NetCDF classic (CDF-1) encoder for fixed dimensions: the
  * header is built per response, the data are copied from slabs. The
  * server does not call the program's `GridNc.write`, so a change to
  * the program's codec never moves the fake's own time. */
object Nc {
  val Float = 5
  val Double = 6

  /** `chunks` write the variable's data in order. */
  final case class V(name: String, dims: Seq[Int], ncType: Int, bytes: Int,
      chunks: java.io.OutputStream => Unit)

  private def nameLen(s: String): Int = { val n = s.getBytes(UTF_8).length; 4 + n + (4 - n % 4) % 4 }

  def encode(dims: Seq[(String, Int)], vars: Seq[V]): Array[Byte] = {
    val headerLen = 4 + 4 + 8 + dims.map(d => nameLen(d._1) + 4).sum + 8 + 8 +
      vars.map(v => nameLen(v.name) + 4 + 4 * v.dims.length + 8 + 4 + 4 + 4).sum
    val padded = vars.map(v => v.bytes + (4 - v.bytes % 4) % 4)
    val out = new java.io.ByteArrayOutputStream(headerLen + padded.sum)
    val d = new java.io.DataOutputStream(out)
    def name(s: String): Unit = {
      val b = s.getBytes(UTF_8); d.writeInt(b.length); d.write(b)
      var p = (4 - b.length % 4) % 4; while (p > 0) { d.writeByte(0); p -= 1 }
    }
    d.write(Array[Byte]('C', 'D', 'F', 1)); d.writeInt(0)
    d.writeInt(0x0A); d.writeInt(dims.length)
    dims.foreach { case (n, len) => name(n); d.writeInt(len) }
    d.writeInt(0); d.writeInt(0) // no global attributes
    d.writeInt(0x0B); d.writeInt(vars.length)
    var begin = headerLen
    vars.zip(padded).foreach { case (v, p) =>
      name(v.name); d.writeInt(v.dims.length); v.dims.foreach(d.writeInt)
      d.writeInt(0); d.writeInt(0) // no variable attributes
      d.writeInt(v.ncType); d.writeInt(p); d.writeInt(begin)
      begin += p
    }
    d.flush()
    require(out.size() == headerLen, s"header size ${out.size()} != $headerLen")
    vars.zip(padded).foreach { case (v, p) =>
      v.chunks(out)
      var pad = p - v.bytes; while (pad > 0) { out.write(0); pad -= 1 }
    }
    out.toByteArray
  }

  def doubles(xs: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(xs.length * 8).order(ByteOrder.BIG_ENDIAN)
    xs.foreach(bb.putDouble); bb.array()
  }
}

/** The benchmark's in-process ERDDAP server. It answers the routes the
  * production `HttpErddapTransport` requests — tabledap `.das`,
  * `.ncHeader` and `.csvp?…`, griddap `.dds` and `.nc?…` — from
  * pre-encoded snapshots, so its per-request work is a lookup plus a
  * copy, and it counts what it serves. */
final class ErddapEndpoint {
  private val tables = new ConcurrentHashMap[String, TableSnap]()
  private val grids = new ConcurrentHashMap[String, GridSnap]()

  val requests = new AtomicLong
  val busyNs = new AtomicLong
  val rowsServed = new AtomicLong
  val cellsServed = new AtomicLong
  val connections = new AtomicLong
  /** Requests whose projection was not the pre-encoded one. */
  val reencoded = new AtomicLong
  private val peers = ConcurrentHashMap.newKeySet[String]()

  // one handler thread per Spark task slot
  private val pool = Executors.newFixedThreadPool(4, new ThreadFactory {
    private val n = new AtomicLong
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"erddap-endpoint-${n.incrementAndGet()}"); t.setDaemon(true); t
    }
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/erddap/", (ex: HttpExchange) => handle(ex))
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}/erddap"

  def put(s: TableSnap): Unit = tables.put(s.src.id, s)
  def put(s: GridSnap): Unit = grids.put(s.src.id, s)
  def table(id: String): TableSnap = tables.get(id)
  def grid(id: String): GridSnap = grids.get(id)

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      if (peers.add(ex.getRemoteAddress.toString)) connections.incrementAndGet()
      requests.incrementAndGet()
      val path = ex.getRequestURI.getRawPath.stripPrefix("/erddap/")
      val query = Option(ex.getRequestURI.getRawQuery).map(URLDecoder.decode(_, UTF_8)).getOrElse("")
      val slash = path.indexOf('/')
      val dot = path.lastIndexOf('.')
      val kind = path.substring(0, math.max(slash, 0))
      val id = if (slash >= 0 && dot > slash) path.substring(slash + 1, dot) else ""
      val ext = if (dot >= 0) path.substring(dot + 1) else ""
      (kind, ext) match {
        case ("tabledap", "das") => withTable(ex, id)(s => send(ex, 200, s.das))
        case ("tabledap", "ncHeader") => withTable(ex, id)(s => send(ex, 200, s.ncHeader))
        case ("tabledap", "csvp" | "csv") => withTable(ex, id)(s => tabledap(ex, s, query))
        case ("griddap", "dds") => withGrid(ex, id)(g => send(ex, 200, g.dds))
        case ("griddap", "nc") => withGrid(ex, id)(g => griddap(ex, g, query))
        case _ => error(ex, 404, s"unknown route $path")
      }
    } catch {
      case e: Exception => try error(ex, 500, e.toString) catch { case _: Exception => () }
    } finally {
      ex.close()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  }

  private def withTable(ex: HttpExchange, id: String)(f: TableSnap => Unit): Unit =
    Option(tables.get(id)).fold(error(ex, 404, s"no dataset $id"))(f)
  private def withGrid(ex: HttpExchange, id: String)(f: GridSnap => Unit): Unit =
    Option(grids.get(id)).fold(error(ex, 404, s"no dataset $id"))(f)

  private def send(ex: HttpExchange, code: Int, parts: Array[Byte]*): Unit = {
    ex.sendResponseHeaders(code, parts.map(_.length.toLong).sum)
    val os = ex.getResponseBody
    parts.foreach(os.write)
    os.close()
  }

  private def error(ex: HttpExchange, code: Int, msg: String): Unit =
    send(ex, code, s"Error {\n    code=$code;\n    message=\"$msg\";\n}\n".getBytes(UTF_8))

  /** `<attrs>[&time>=…Z][&time<=…Z]` (also strict `>`/`<`). */
  private def tabledap(ex: HttpExchange, s: TableSnap, query: String): Unit = {
    val parts = query.split("&")
    val attrs = parts.head.split(",").toSeq
    if (!attrs.forall(s.src.hasColumn)) return error(ex, 400, s"unknown attribute in $attrs")
    var lo = s.first
    var hi = s.end // exclusive
    def at(v: String) = java.time.Instant.parse(if (v.endsWith("Z")) v else v + "Z").getEpochSecond
    parts.tail.foreach { c =>
      val op = Seq(">=", "<=", ">", "<").find(c.contains).getOrElse("")
      val t = if (op.isEmpty) 0L else at(c.substring(c.indexOf(op) + op.length))
      // row index of the first observation at or after t
      val i = Math.floorDiv(t - s.src.start + s.src.cadence - 1, s.src.cadence.toLong)
      val exact = s.src.epoch(i) == t
      op match {
        case ">=" => lo = math.max(lo, i)
        case ">" => lo = math.max(lo, if (exact) i + 1 else i)
        case "<=" => hi = math.min(hi, if (exact) i + 1 else i)
        case "<" => hi = math.min(hi, i)
        case _ =>
      }
    }
    if (hi <= lo) return error(ex, 404, "Your query produced no matching results.")
    rowsServed.addAndGet(hi - lo)
    if (attrs == s.src.urlOrder) {
      val a = s.offs((lo - s.first).toInt)
      val b = s.offs((hi - s.first).toInt)
      ex.sendResponseHeaders(200, s.header.length + (b - a).toLong)
      val os = ex.getResponseBody
      os.write(s.header); os.write(s.body, a, b - a); os.close()
    } else {
      reencoded.incrementAndGet()
      val out = new java.io.ByteArrayOutputStream()
      out.write(attrs.mkString("", ",", "\n").getBytes(US_ASCII))
      var i = lo
      while (i < hi) { out.write(s.src.line(attrs, i)); i += 1 }
      send(ex, 200, out.toByteArray)
    }
  }

  /** `coord` alone (an axis probe) or `var[t][lat][lon],…` hyperslabs
    * with `(a):1:(b)`, `(a)` or bare-index selectors. */
  private def griddap(ex: HttpExchange, g: GridSnap, query: String): Unit = {
    val src = g.src
    val specs = query.split(",").toSeq.filter(_.nonEmpty)
    val axes = Map("time" -> g.times, "latitude" -> src.lats, "longitude" -> src.lons)
    if (specs.length == 1 && axes.contains(specs.head)) {
      val a = axes(specs.head)
      val bytes = Nc.doubles(a)
      return send(ex, 200, Nc.encode(Seq(specs.head -> a.length),
        Seq(Nc.V(specs.head, Seq(0), Nc.Double, bytes.length, _.write(bytes)))))
    }
    val selRe = "\\[([^\\]]*)\\]".r
    val parsed = specs.map { sp =>
      val b = sp.indexOf('[')
      (sp.substring(0, b), selRe.findAllMatchIn(sp.substring(b)).map(_.group(1)).toSeq)
    }
    if (!parsed.forall(p => src.vars.contains(p._1) && p._2.length == 3))
      return error(ex, 400, s"bad hyperslab $query")
    def value(s: String): Double = {
      val body = s.stripPrefix("(").stripSuffix(")")
      try body.toDouble
      catch { case _: NumberFormatException =>
        java.time.Instant.parse(if (body.endsWith("Z")) body else body + "Z").getEpochSecond.toDouble }
    }
    def range(sel: String, coord: Array[Double]): (Int, Int) =
      if (!sel.contains("(")) { val i = sel.trim.toInt; (i, i + 1) }
      else {
        val bounds = "\\(([^)]*)\\)".r.findAllMatchIn(sel).map(m => value(m.group(1))).toSeq
        val lo = bounds.min - 1e-9
        val hi = bounds.max + 1e-9
        val kept = coord.indices.filter(i => coord(i) >= lo && coord(i) <= hi)
        if (kept.isEmpty) (0, 0) else (kept.head, kept.last + 1)
      }
    val sels = parsed.head._2
    val (t0, t1) = range(sels(0), g.times)
    val (la0, la1) = range(sels(1), src.lats)
    val (lo0, lo1) = range(sels(2), src.lons)
    val (nt, nla, nlo) = (t1 - t0, la1 - la0, lo1 - lo0)
    if (nt <= 0 || nla <= 0 || nlo <= 0)
      return error(ex, 404, "Your query produced no matching results.")
    cellsServed.addAndGet(nt.toLong * nla * nlo * parsed.length)
    val full = nla == src.nLat && nlo == src.nLon
    def coordVar(n: String, dim: Int, xs: Array[Double]) = {
      val b = Nc.doubles(xs); Nc.V(n, Seq(dim), Nc.Double, b.length, _.write(b))
    }
    val dataVars = parsed.map { case (name, _) =>
      val v = src.vars.indexOf(name)
      Nc.V(name, Seq(0, 1, 2), Nc.Float, nt * nla * nlo * 4, os =>
        (t0 until t1).foreach { s =>
          val slab = g.slabs(v)(s)
          if (full) os.write(slab)
          else (la0 until la1).foreach(la => os.write(slab, (la * src.nLon + lo0) * 4, nlo * 4))
        })
    }
    send(ex, 200, Nc.encode(Seq("time" -> nt, "latitude" -> nla, "longitude" -> nlo),
      Seq(coordVar("time", 0, g.times.slice(t0, t1)),
        coordVar("latitude", 1, src.lats.slice(la0, la1)),
        coordVar("longitude", 2, src.lons.slice(lo0, lo1))) ++ dataVars))
  }
}
