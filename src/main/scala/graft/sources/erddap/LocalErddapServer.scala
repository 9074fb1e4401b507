package graft.sources.erddap

import java.net.URLDecoder
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Transport fake standing in for an ERDDAP server (the live HTTP
  * surface is out of reach). It executes the SAME request-URL grammar
  * the reference compiles (`data_wrangler.py:360-387`): projection as a
  * `%2C` attribute list, time predicates `time>=startZ` / `time<=endZ`.
  *
  * Backing store: one headered CSV per dataset at
  * `<dataDir>/<datasetId>.csv`, time column in ISO-8601. The fake
  * applies projection + predicates server-side, exactly like ERDDAP —
  * which is what makes connector pushdown observable in tests: a scan
  * that fails to push down would fetch all columns/rows.
  */
class LocalErddapServer(dataDir: String) extends ErddapTransport {

  override def dasText(datasetId: String): String =
    Files.readString(Path.of(dataDir, s"$datasetId.das"))

  /** Execute a compiled tabledap URL, returning CSV lines (header first). */
  override def fetch(url: String): Seq[String] = {
    val q = url.indexOf('?')
    require(q > 0, s"malformed erddap url: $url")
    val pre = url.substring(0, q)
    val datasetId = pre.substring(pre.lastIndexOf('/') + 1, pre.lastIndexOf('.'))
    val query = URLDecoder.decode(url.substring(q + 1), "UTF-8")

    // query = "<attr1>,<attr2>...[&time>=..Z&time<=..Z]"
    val parts = query.split("&")
    val attrs = parts.head.split(",").toSeq
    var timeCol: Option[String] = None
    var lo: Option[String] = None
    var hi: Option[String] = None
    var loExcl = false
    var hiExcl = false
    parts.tail.foreach { p =>
      val geIdx = p.indexOf(">=")
      val leIdx = p.indexOf("<=")
      if (geIdx > 0) {
        timeCol = Some(p.substring(0, geIdx))
        lo = Some(p.substring(geIdx + 2).stripSuffix("Z"))
      } else if (leIdx > 0) {
        timeCol = Some(p.substring(0, leIdx))
        hi = Some(p.substring(leIdx + 2).stripSuffix("Z"))
      } else if (p.indexOf('>') > 0) { // strict bounds (ERDDAP grammar)
        val i = p.indexOf('>')
        timeCol = Some(p.substring(0, i))
        lo = Some(p.substring(i + 1).stripSuffix("Z")); loExcl = true
      } else if (p.indexOf('<') > 0) {
        val i = p.indexOf('<')
        timeCol = Some(p.substring(0, i))
        hi = Some(p.substring(i + 1).stripSuffix("Z")); hiExcl = true
      }
    }

    // record-aware: fixture cells may carry quoted CR/LF (RFC 4180)
    val lines = Csv.recordLines(
      Files.readString(Path.of(dataDir, s"$datasetId.csv"))).filter(_.nonEmpty)
    val header = Csv.split(lines.head).toSeq
    val idx = attrs.map(a => header.indexOf(a))
    require(idx.forall(_ >= 0), s"unknown attribute in $attrs vs $header")
    val timeIdx = timeCol.map(header.indexOf).getOrElse(-1)

    val body = lines.tail.filter { line =>
      if (timeIdx < 0) true
      else {
        // ISO strings compare lexically once the Z suffix is normalized away
        val t = Csv.split(line)(timeIdx).stripSuffix("Z")
        lo.forall(b => if (loExcl) t > b else t >= b) &&
          hi.forall(b => if (hiExcl) t < b else t <= b)
      }
    }.map { line =>
      val cells = Csv.split(line)
      Csv.join(idx.map(cells(_)))
    }
    attrs.mkString(",") +: body
  }

  /** Execute a compiled griddap hyperslab URL
    * (`<server>/griddap/<id>.nc?var[(t0Z):1:(t1Z)][0][(a):1:(b)][(c):1:(d)],…`)
    * against the backing NetCDF fixture `<dataDir>/<id>.nc`, returning
    * the sliced grid as NetCDF-classic bytes — the reference's per-slice
    * `.nc` download (`data_wrangler.py:591-604`). Selector forms:
    * `(v):1:(v2)` closed value range, `(v)` single value, bare integer
    * index. Time selectors accept ISO-8601 (`Z` suffix) or epoch
    * seconds; coordinate ranges work on ascending or descending axes. */
  override def fetchGriddap(url: String): Array[Byte] = {
    import graft.sources.griddap.GridNc
    val q = url.indexOf('?')
    require(q > 0, s"malformed griddap url: $url")
    val pre = url.substring(0, q)
    val datasetId = pre.substring(pre.lastIndexOf('/') + 1, pre.lastIndexOf('.'))
    val query = URLDecoder.decode(url.substring(q + 1), "UTF-8")

    val grid = GridNc.read(Files.readAllBytes(Path.of(dataDir, s"$datasetId.nc")))

    val varSpecs = query.split(",").toSeq
    val selRe = "\\[([^\\]]*)\\]".r
    def parseVar(spec: String): (String, Seq[String]) = {
      val b = spec.indexOf('[')
      if (b < 0) (spec, Nil)
      else (spec.substring(0, b),
        selRe.findAllMatchIn(spec.substring(b)).map(_.group(1)).toSeq)
    }
    val parsed = varSpecs.map(parseVar)
    val wantedVars = parsed.map(_._1)

    def toValue(s: String): Double = {
      val body = s.stripPrefix("(").stripSuffix(")").stripSuffix("Z")
      try body.toDouble
      catch {
        case _: NumberFormatException =>
          java.time.Instant.parse(if (body.endsWith("Z")) body else body + "Z")
            .getEpochSecond.toDouble
      }
    }

    // Index range per dimension of the first projected variable; the
    // grammar compiles identical selectors for every variable.
    val templateVar = grid.vars.find(_.name == parsed.head._1)
      .getOrElse(throw new IllegalArgumentException(
        s"unknown griddap variable ${parsed.head._1}"))
    val selectors = parsed.head._2
    require(selectors.isEmpty || selectors.length == templateVar.dims.length,
      s"selector count ${selectors.length} != rank ${templateVar.dims.length}")

    val keepIdx: Map[Int, Seq[Int]] = // dimId -> kept indices (in order)
      if (selectors.isEmpty) Map.empty
      else templateVar.dims.zip(selectors).map { case (dimId, sel) =>
        val (dimName, dimLen) = grid.dims(dimId)
        val kept: Seq[Int] =
          if (!sel.contains("(")) Seq(sel.trim.toInt) // bare index
          else {
            // value selectors are parenthesized (ISO times contain ':',
            // so never split the selector on ':')
            val bounds = "\\(([^)]*)\\)".r.findAllMatchIn(sel)
              .map(m => toValue(m.group(1))).toSeq
            val (lo, hi) =
              if (bounds.length == 1) (bounds(0), bounds(0))
              else (math.min(bounds(0), bounds.last), math.max(bounds(0), bounds.last))
            val coord = grid.coord(dimName)
            (0 until dimLen).filter(i => coord(i) >= lo - 1e-9 && coord(i) <= hi + 1e-9)
          }
        dimId -> kept
      }.toMap

    def sliceVar(v: GridNc.Var, newDimId: Int => Int): GridNc.Var = {
      val shape = v.dims.map(grid.dims(_)._2)
      val keeps = v.dims.map(d => keepIdx.getOrElse(d, 0 until grid.dims(d)._2))
      val outLen = keeps.map(_.length.toLong).product.toInt
      val out = new Array[Double](outLen)
      val rank = v.dims.length
      val idx = new Array[Int](rank)
      var o = 0
      while (o < outLen) {
        // decompose o into per-dim positions over the kept index lists
        var rem = o
        var d = rank - 1
        while (d >= 0) { idx(d) = rem % keeps(d).length; rem /= keeps(d).length; d -= 1 }
        var flat = 0L
        d = 0
        while (d < rank) { flat = flat * shape(d) + keeps(d)(idx(d)); d += 1 }
        out(o) = v.values(flat.toInt)
        o += 1
      }
      // copy() keeps storage type + scale/offset packing through the slice
      v.copy(dims = v.dims.map(newDimId), values = out)
    }

    // Dims referenced by the projection (plus their coords), re-lengthed.
    val usedDims = templateVar.dims
    val dimRemap = usedDims.zipWithIndex.toMap
    val newDims = usedDims.map { d =>
      val (n, len) = grid.dims(d)
      (n, keepIdx.get(d).map(_.length).getOrElse(len))
    }
    val coordVars = usedDims.flatMap(d => grid.vars.find(_.name == grid.dims(d)._1))
    val dataVars = wantedVars.map(n => grid.vars.find(_.name == n).get)
    val outVars = (coordVars ++ dataVars).map(sliceVar(_, dimRemap))
    GridNc.write(GridNc.Grid(newDims, outVars))
  }

  /** Griddap header probe: dims + variable names without data transfer
    * (the reference's DAS-driven sizing, `data_wrangler.py:238-266`). */
  override def griddapHeader(datasetId: String): graft.sources.griddap.GridNc.Grid = {
    import graft.sources.griddap.GridNc
    // Subset reader is cheap; a real endpoint would serve .das/.dds.
    GridNc.read(Files.readAllBytes(Path.of(dataDir, s"$datasetId.nc")))
  }

  /** The reference's ncHeader size probe (`data_wrangler.py:238-266`):
    * row count without data transfer. */
  override def rowCount(datasetId: String): Long =
    // RECORDS, not physical lines — quoted CR/LF cells span lines
    Csv.recordLines(Files.readString(Path.of(dataDir, s"$datasetId.csv")))
      .count(_.nonEmpty) - 1

  /** The CSV's file size; `rowCount` is not needed for it. */
  override def sizeInBytes(datasetId: String, rowCount: Long): Long =
    Files.size(Path.of(dataDir, s"$datasetId.csv"))
}
