package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII

/** Seeded input generation. Every value is a pure function of
  * (seed, dataset index, row or slice index), so the same seed gives
  * the same inputs however the run proceeds, and appended observations
  * never depend on what was generated before them. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1) keyed by (seed, a, b, c). */
  def uniform(seed: Long, a: Long, b: Long, c: Long): Double =
    (mix(mix(mix(seed ^ a) ^ b) ^ c) >>> 11) * (1.0 / (1L << 53))

  /** A seeded permutation of `0 until n` (Fisher-Yates). */
  def permutation(seed: Long, n: Int): Array[Int] = {
    val p = Array.range(0, n)
    val rnd = new java.util.SplittableRandom(seed)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  /** The positions in the NRT refresh order whose datasets the
    * generator changes before cycle `cycle`: with g = datasets /
    * perCycle groups, cycle c changes positions c mod g, c mod g + g,
    * c mod g + 2g, … So every dataset changes exactly once per g
    * cycles, and the changed datasets wait behind the same mix of
    * no-op and overwriting refreshes whatever the seed: the seed picks
    * which dataset sits at each position (the refresh order). */
  def changedPositions(datasets: Int, perCycle: Int, cycle: Int): Seq[Int] = {
    require(datasets % perCycle == 0, s"$datasets datasets do not split into groups of $perCycle")
    val groups = datasets / perCycle
    (0 until perCycle).map(j => cycle % groups + j * groups)
  }

  /** `x` rounded to `d` decimals, without going through String.format. */
  def fixed(x: Double, d: Int): String = {
    val scale = math.pow(10, d).toLong
    val v = math.round(x * scale)
    val a = math.abs(v)
    val sb = new java.lang.StringBuilder(16)
    if (v < 0) sb.append('-')
    sb.append(a / scale)
    if (d > 0) {
      sb.append('.')
      val frac = (a % scale).toString
      var pad = d - frac.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(frac)
    }
    sb.toString
  }

  /** 2025-01-01T00:00:00Z: far enough in the past that the connector's
    * clamp of DAS extents to "now" never cuts a generated row. */
  val Epoch0: Long = 1735689600L
}

/** One column of a generated tabledap dataset, with its DAS type and
  * the value range announced in `actual_range`. */
final case class Col(name: String, dasType: String, qc: Boolean,
    lo: Double, hi: Double, decimals: Int, units: String)

/** A generated tabledap station: one row every `cadence` seconds from
  * `start`. Row `i` is a pure function of (seed, index, i). */
final class TableSource(val id: String, val index: Int, seed: Long,
    val start: Long, val cadence: Int) {

  val latitude: Double = 24.0 + Gen.uniform(seed, index, -1, 1) * 6
  val longitude: Double = -97.0 + Gen.uniform(seed, index, -1, 2) * 10
  val depth: Double = 1.0 + index % 3

  /** DAS order. `depth` is announced after the position columns; the
    * URL grammar moves it to the front. */
  val columns: Seq[Col] = Seq(
    Col("time", "Float64", qc = false, 0, 0, 0, "seconds since 1970-01-01T00:00:00Z"),
    Col("latitude", "Float64", qc = false, latitude, latitude, 4, "degrees_north"),
    Col("longitude", "Float64", qc = false, longitude, longitude, 4, "degrees_east"),
    Col("depth", "Float64", qc = false, depth, depth, 1, "m"),
    Col("sea_water_temperature", "Float64", qc = false, 20.5, 27.5, 3, "degree_C"),
    Col("sea_water_temperature_qc_agg", "Byte", qc = true, 1, 4, 0, "1"),
    Col("salinity", "Float64", qc = false, 34.0, 36.0, 3, "PSU"),
    Col("salinity_qc_agg", "Byte", qc = true, 1, 4, 0, "1"),
    Col("wind_speed", "Float32", qc = false, 0.0, 12.0, 2, "m s-1"))

  /** The columns a reader keeps after QC pruning, in DAS order. */
  val nonQc: Seq[String] = columns.filterNot(_.qc).map(_.name)

  /** The attribute order of the connector's request URLs: time first,
    * then depth, then the rest in DAS order. */
  val urlOrder: Seq[String] =
    Seq("time") ++ nonQc.filter(_ == "depth") ++ nonQc.filterNot(n => n == "time" || n == "depth")

  def epoch(i: Long): Long = start + i * cadence

  def iso(i: Long): String = java.time.Instant.ofEpochSecond(epoch(i)).toString

  def value(c: Col, i: Long): String = c.name match {
    case "time" => iso(i)
    case "latitude" | "longitude" | "depth" => Gen.fixed(c.lo, c.decimals)
    case "sea_water_temperature" =>
      Gen.fixed(24.0 + 3.0 * math.sin(2 * math.Pi * (epoch(i) % 86400) / 86400.0) +
        (Gen.uniform(seed, index, i, 3) - 0.5), 3)
    case "salinity" => Gen.fixed(34.0 + 2.0 * Gen.uniform(seed, index, i, 4), 3)
    case "wind_speed" => Gen.fixed(12.0 * Gen.uniform(seed, index, i, 5), 2)
    case _ => (1 + (Gen.uniform(seed, index, i, c.name.hashCode) * 4).toInt).toString
  }

  private val byName = columns.map(c => c.name -> c).toMap

  /** One CSV record (with newline) for `attrs`. Values never contain a
    * comma or a quote, so no quoting is needed. */
  def line(attrs: Seq[String], i: Long): Array[Byte] =
    attrs.map(a => value(byName(a), i)).mkString("", ",", "\n").getBytes(US_ASCII)

  def hasColumn(name: String): Boolean = byName.contains(name)

  /** The DAS document in ERDDAP's own layout: variables nested in the
    * `s` sequence, one attribute per line, a multi-line license. */
  def das(first: Long, end: Long): String = {
    val sb = new StringBuilder("Attributes {\n s {\n")
    columns.foreach { c =>
      sb ++= s"  ${c.name} {\n"
      if (c.name == "time") {
        sb ++= "    String _CoordinateAxisType \"Time\";\n"
        sb ++= s"    Float64 actual_range ${epoch(first)}.0, ${epoch(end - 1)}.0;\n"
        sb ++= "    String axis \"T\";\n"
        sb ++= "    String ioos_category \"Time\";\n"
        sb ++= "    String long_name \"Time\";\n"
      } else {
        sb ++= s"    ${c.dasType} actual_range ${Gen.fixed(c.lo, c.decimals)}, ${Gen.fixed(c.hi, c.decimals)};\n"
        sb ++= s"    String ioos_category \"${if (c.qc) "Quality" else "Other"}\";\n"
        sb ++= s"    String long_name \"${c.name.replace('_', ' ')}\";\n"
      }
      sb ++= s"    String units \"${c.units}\";\n"
      sb ++= "  }\n"
    }
    sb ++= " }\n NC_GLOBAL {\n"
    sb ++= "    String cdm_data_type \"TimeSeries\";\n"
    sb ++= "    String institution \"GCOOS\";\n"
    sb ++= "    String license \"The data may be used and redistributed for free but is not intended\n"
    sb ++= "for legal use, since it may contain inaccuracies.\";\n"
    sb ++= s"    String title \"Generated station $id\";\n"
    sb ++= "  }\n}\n"
    sb.toString
  }

  /** The `.ncHeader` CDL the connector's row-count probe parses. */
  def ncHeader(rows: Long): String = {
    val vars = columns.map { c =>
      val t = c.dasType match { case "Float32" => "float"; case "Byte" => "byte"; case _ => "double" }
      s"\t$t ${c.name}(row) ;"
    }
    (Seq(s"netcdf $id.nc {", "dimensions:", s"\trow = $rows ;", "variables:") ++ vars ++
      Seq("", "// global attributes:", "\t\t:cdm_data_type = \"TimeSeries\" ;", "}")).mkString("\n") + "\n"
  }
}

/** A generated griddap dataset: hourly slices of `nLat x nLon` cells
  * for two Float32 variables. Slice `s` is a pure function of
  * (seed, index, s). */
final class GridSource(val id: String, val index: Int, seed: Long,
    val start: Long, val nLat: Int = 120, val nLon: Int = 120) {

  val cadence = 3600
  val vars: Seq[String] = Seq("sst", "wind")
  /** Ascending tenths of a degree, built from integers so each prints
    * exactly as the connector compiles it into selectors. */
  val lats: Array[Double] = Array.tabulate(nLat)(i => (240 + i) / 10.0)
  val lons: Array[Double] = Array.tabulate(nLon)(i => (-980 + i) / 10.0)
  def cells: Int = nLat * nLon

  def epoch(s: Long): Long = start + s * cadence

  def value(v: Int, s: Long, la: Int, lo: Int): Float = {
    val noise = Gen.uniform(seed, index * 8 + v, s, la * 4096L + lo) - 0.5
    if (v == 0) (26.0 + 0.02 * la - 0.01 * lo + 0.5 * math.sin(s / 6.0) + 0.2 * noise).toFloat
    else (6.0 + 4.0 * math.sin((la + s) / 9.0) + noise).toFloat
  }

  /** One variable's slice as big-endian Float32 cells, row-major over
    * (latitude, longitude): the NetCDF classic data layout. */
  def slab(v: Int, s: Long): Array[Byte] = {
    val bb = ByteBuffer.allocate(cells * 4).order(ByteOrder.BIG_ENDIAN)
    var la = 0
    while (la < nLat) {
      var lo = 0
      while (lo < nLon) { bb.putFloat(value(v, s, la, lo)); lo += 1 }
      la += 1
    }
    bb.array()
  }
}
