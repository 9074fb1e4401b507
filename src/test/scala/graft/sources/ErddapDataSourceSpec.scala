package graft.sources

import java.nio.file.{Files, Path}
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SparkTestSession

class ErddapDataSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  // Fixture dataset: 96 hourly observations 2024-06-01 → 2024-06-04.
  lazy val dir: Path = {
    val d = Files.createTempDirectory("erddap_src")
    val rows = (0 until 96).map { h =>
      val t = Instant.parse("2024-06-01T00:00:00Z").plusSeconds(h * 3600L)
      val iso = graft.erddap.ChunkPlanner.isoNoZone(t) + "Z"
      s"$iso,25.9,-89.7,${20.0 + h % 10},${h % 4}"
    }
    Files.writeString(d.resolve("buoy1.csv"),
      ("time,latitude,longitude,sea_surface_temperature_0,sea_surface_temperature_0_qc_agg" +:
        rows).mkString("\n"))
    Files.writeString(d.resolve("buoy1.das"),
      """Attributes {
        |  time {
        |    String ioos_category "Time";
        |    String units "seconds since 1970-01-01T00:00:00Z";
        |    Float64 actual_range 1717200000.0, 1717542000.0;
        |  }
        |  latitude {
        |    Float64 actual_range 25.9, 25.9;
        |  }
        |  longitude {
        |    Float64 actual_range -89.7, -89.7;
        |  }
        |  sea_surface_temperature_0 {
        |    Float64 actual_range 20.0, 29.0;
        |    String units "degree_C";
        |  }
        |  sea_surface_temperature_0_qc_agg {
        |    Byte actual_range 0, 3;
        |  }
        |  NC_GLOBAL {
        |    String title "Test buoy";
        |  }
        |}""".stripMargin)
    d
  }

  def read() = spark.read.format("erddap")
    .option("dataDir", dir.toString)
    .option("dataset", "buoy1")
    .option("das", dir.resolve("buoy1.das").toString)
    .option("chunkSize", "25")

  test("schema comes from DAS with QC pruning; time is timestamp") {
    val df = read().load()
    assert(df.columns.toSeq ==
      Seq("time", "latitude", "longitude", "sea_surface_temperature_0"))
    assert(df.schema("time").dataType.typeName == "timestamp")
  }

  test("returnAll mode keeps QC columns") {
    val df = read().option("returnAll", "true").load()
    assert(df.columns.contains("sea_surface_temperature_0_qc_agg"))
  }

  test("full scan returns all rows with correct values") {
    val df = read().load()
    assert(df.count() == 96)
    val first = df.orderBy("time").head()
    assert(first.getTimestamp(0).toInstant == Instant.parse("2024-06-01T00:00:00Z"))
    assert(first.getDouble(1) == 25.9)
    assert(first.getDouble(3) == 20.0)
  }

  test("chunk plan → one InputPartition per time chunk") {
    // 96 rows, chunkSize 25 → ceil(96/25) = 4 partitions
    val df = read().load()
    assert(df.rdd.getNumPartitions == 4)
  }

  test("time-range filter is pushed into the request URL") {
    val df = read().load()
      .filter(col("time") >= lit("2024-06-02 00:00:00").cast("timestamp") &&
        col("time") <= lit("2024-06-02 23:00:00").cast("timestamp"))
    assert(df.count() == 24)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("time=[") || plan.contains("PushedFilters"),
      s"expected pushdown evidence in plan:\n$plan")
    // pushed range narrows the partition count (24 rows / 25 chunk = 1)
    assert(df.rdd.getNumPartitions == 1)
  }

  test("column pruning reaches the scan (projection in URL)") {
    val df = read().load().select("time", "sea_surface_temperature_0")
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("cols=time,sea_surface_temperature_0"),
      s"expected pruned cols in scan description:\n$scanDesc")
    assert(df.count() == 96)
  }

  test("statistics report the ncHeader-style row count") {
    val df = read().load()
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.isEmpty || stats.rowCount.get == BigInt(96) ||
      stats.sizeInBytes > 0)
  }

  test("results match an equivalent plain-CSV read") {
    val direct = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(dir.resolve("buoy1.csv").toString)
      .filter(col("time") >= "2024-06-01T12:00:00Z" && col("time") <= "2024-06-02T12:00:00Z")
      .agg(round(sum("sea_surface_temperature_0"), 2)).head().getDouble(0)
    val viaSource = read().load()
      .filter(col("time") >= lit("2024-06-01 12:00:00").cast("timestamp") &&
        col("time") <= lit("2024-06-02 12:00:00").cast("timestamp"))
      .agg(round(sum("sea_surface_temperature_0"), 2)).head().getDouble(0)
    assert(viaSource == direct)
  }

  test("aggregate pushdown: COUNT/min/max answered from metadata only") {
    val df = read().load()
    val agg = df.agg(count(lit(1)).as("n"), min(col("time")).as("lo"),
      max(col("time")).as("hi"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("erddap-agg"), s"expected metadata-only agg scan:\n$plan")
    val r = agg.head()
    assert(r.getLong(0) == 96)
    assert(r.getTimestamp(1).toInstant == Instant.parse("2024-06-01T00:00:00Z"))
    assert(r.getTimestamp(2).toInstant == Instant.parse("2024-06-04T23:00:00Z"))
  }

  // Second-resolution fixture: 100 rows 1s apart, a quoted string
  // column, and NaN in both float widths. chunkSize 25 → chunk
  // boundaries land exactly on row timestamps, which under closed
  // bounds on both sides would double-fetch boundary rows.
  lazy val dir2: Path = {
    val d = Files.createTempDirectory("erddap_src2")
    val rows = (0 until 100).map { s =>
      val t = Instant.parse("2024-06-01T00:00:00Z").plusSeconds(s.toLong)
      val iso = graft.erddap.ChunkPlanner.isoNoZone(t) + "Z"
      val name = if (s % 10 == 0) "\"Buoy, West \"\"A\"\"\"" else "plain"
      val tf = if (s % 7 == 0) "NaN" else s"${s % 5}.5"
      val td = if (s % 11 == 0) "NaN" else s"${s % 3}.25"
      s"$iso,$name,$tf,$td"
    }
    Files.writeString(d.resolve("st1.csv"),
      ("time,station_name,temp_f,temp_d" +: rows).mkString("\n"))
    Files.writeString(d.resolve("st1.das"),
      """Attributes {
        |  time {
        |    String ioos_category "Time";
        |    Float64 actual_range 1717200000.0, 1717200099.0;
        |  }
        |  station_name {
        |    String ioos_category "Identifier";
        |  }
        |  temp_f {
        |    Float32 actual_range 0.5, 4.5;
        |  }
        |  temp_d {
        |    Float64 actual_range 0.25, 2.25;
        |  }
        |  NC_GLOBAL {
        |    String title "Station fixture";
        |  }
        |}""".stripMargin)
    d
  }

  def read2() = spark.read.format("erddap")
    .option("dataDir", dir2.toString)
    .option("dataset", "st1")
    .option("das", dir2.resolve("st1.das").toString)
    .option("chunkSize", "25")

  test("chunk-boundary rows are not duplicated across partitions") {
    val df = read2().load()
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 100) // closed-closed boundaries would give > 100
    assert(df.select("time").distinct().count() == 100)
  }

  test("quoted CSV fields with embedded commas and quotes parse intact") {
    val df = read2().load().filter(col("station_name") =!= "plain")
    assert(df.count() == 10)
    assert(df.select("station_name").distinct().head().getString(0) ==
      "Buoy, West \"A\"")
  }

  test("NaN markers become NaN for both float widths, not null") {
    val df = read2().load()
    assert(df.filter(isnan(col("temp_f"))).count() == 15) // s % 7 == 0
    assert(df.filter(isnan(col("temp_d"))).count() == 10) // s % 11 == 0
    assert(df.filter(col("temp_f").isNull || col("temp_d").isNull).count() == 0)
  }

  test("projection that excludes the time column still aligns cells") {
    // the URL grammar always prepends time; the reader must align by
    // response header, not by schema position
    val names = read2().load().select("station_name").distinct()
      .collect().map(_.getString(0)).toSet
    assert(names == Set("plain", "Buoy, West \"A\""))
    val sum = read2().load().agg(org.apache.spark.sql.functions.round(
      org.apache.spark.sql.functions.sum("temp_d"), 2)).head().getDouble(0)
    assert(sum.isNaN) // NaN rows participate: sum over a column with NaNs
  }

  test("stacked lower bounds intersect instead of overwrite") {
    // Catalyst pushes both conjuncts; the looser one must not win.
    val df = read2().load()
      .filter(col("time") >= lit("2024-06-01 00:00:30").cast("timestamp"))
      .filter(col("time") >= lit("2024-06-01 00:00:10").cast("timestamp"))
    assert(df.count() == 70)
    val reversed = read2().load()
      .filter(col("time") >= lit("2024-06-01 00:00:10").cast("timestamp"))
      .filter(col("time") >= lit("2024-06-01 00:00:30").cast("timestamp"))
    assert(reversed.count() == 70)
    val upper = read2().load()
      .filter(col("time") <= lit("2024-06-01 00:00:50").cast("timestamp"))
      .filter(col("time") <= lit("2024-06-01 00:00:20").cast("timestamp"))
    assert(upper.count() == 21)
  }

  test("strict time bounds compile into the URL and leave no Spark-side filter") {
    val df = read2().load()
      .filter(col("time") > lit("2024-06-01 00:00:10").cast("timestamp") &&
        col("time") < lit("2024-06-01 00:00:20").cast("timestamp"))
    assert(df.count() == 9) // rows 11..19
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains(") Filter") && !plan.contains("+- Filter"),
      s"second-aligned strict bounds should be fully pushed:\n$plan")
  }

  test("fractional-second bounds stay sound: floor lower, ceil upper, re-filter") {
    // bounds between the second marks — URL truncation must not leak
    // or drop rows; the exact predicate re-runs Spark-side
    val lo = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-06-01 00:00:10").getTime + 500)
    val hi = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-06-01 00:00:20").getTime + 500)
    val df = read2().load().filter(col("time") >= lit(lo) && col("time") <= lit(hi))
    assert(df.count() == 10) // rows 11..20
    val strict = read2().load().filter(col("time") > lit(lo) && col("time") < lit(hi))
    assert(strict.count() == 10) // same rows: none sit on the .5 marks
  }

  test("aggregate pushdown declines when a time filter is pushed") {
    val df = read().load()
      .filter(col("time") >= lit("2024-06-02 00:00:00").cast("timestamp"))
    val agg = df.agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("erddap-agg"))
    assert(agg.head().getLong(0) == 72)
  }

  // Fixture with quoted CR/LF INSIDE cells: the classic line-based CSV
  // reader bug — a record spanning physical lines must arrive intact
  // through the chunked InputPartition reader (multiple time-chunk
  // partitions, each re-fetching and record-splitting its window).
  lazy val dir3: java.nio.file.Path = {
    val d = Files.createTempDirectory("erddap_src3")
    import graft.sources.erddap.Csv
    val rows = (0 until 60).map { s =>
      val t = Instant.parse("2024-06-01T00:00:00Z").plusSeconds(s.toLong)
      val iso = graft.erddap.ChunkPlanner.isoNoZone(t) + "Z"
      val note = s % 4 match {
        case 0 => s"line1\nline2 #$s"     // bare LF inside the cell
        case 1 => s"crlf\r\ncell #$s"     // CRLF inside the cell
        case 2 => s"q\"q,\n comma #$s"    // quote + comma + LF
        case _ => s"plain #$s"
      }
      Csv.join(Seq(iso, note, s"$s.5"))
    }
    Files.writeString(d.resolve("mn1.csv"),
      ("time,note,depth_m" +: rows).mkString("\n"))
    Files.writeString(d.resolve("mn1.das"),
      """Attributes {
        |  time {
        |    String ioos_category "Time";
        |    Float64 actual_range 1717200000.0, 1717200059.0;
        |  }
        |  note {
        |    String ioos_category "Identifier";
        |  }
        |  depth_m {
        |    Float64 actual_range 0.5, 59.5;
        |  }
        |  NC_GLOBAL {
        |    String title "Multiline fixture";
        |  }
        |}""".stripMargin)
    d
  }

  test("quoted CR/LF cells survive the chunked partition reader intact") {
    val df = spark.read.format("erddap")
      .option("dataDir", dir3.toString)
      .option("dataset", "mn1")
      .option("das", dir3.resolve("mn1.das").toString)
      .option("chunkSize", "15")
      .load()
    assert(df.rdd.getNumPartitions == 4) // records DO cross chunk windows
    assert(df.count() == 60)             // no torn or doubled records
    val notes = df.select("note").collect().map(_.getString(0))
    assert(notes.count(_.contains("\n")) == 45)   // cases 0, 1, 2
    assert(notes.count(_.contains("\r\n")) == 15) // case 1: CR preserved
    assert(notes.toSet.contains("line1\nline2 #0"))
    assert(notes.toSet.contains("crlf\r\ncell #1"))
    assert(notes.toSet.contains("q\"q,\n comma #2"))
    // the numeric column after the multi-line cell still aligns
    assert(df.agg(round(sum("depth_m"), 1)).head().getDouble(0) == 1800.0)
  }

  test("fractional-second time cells round-trip to exact micros") {
    val d = Files.createTempDirectory("erddap_frac")
    val cells = Seq(
      "2024-06-01T00:00:00.123456Z" -> 1717200000123456L,
      "2024-06-01T00:00:01.5" -> 1717200001500000L, // no Z suffix
      "2024-06-01T00:00:02Z" -> 1717200002000000L,
      "1970-01-01T00:00:00.000001Z" -> 1L,
      "1969-12-31T23:59:59.999999Z" -> -1L)
    Files.writeString(d.resolve("frac.csv"),
      ("time,depth" +: cells.zipWithIndex.map { case ((c, _), i) => s"$c,$i" })
        .mkString("\n"))
    Files.writeString(d.resolve("frac.das"),
      """Attributes {
        |  time {
        |    String ioos_category "Time";
        |    String units "seconds since 1970-01-01T00:00:00Z";
        |    Float64 actual_range -1.0, 1717200003.0;
        |  }
        |  depth {
        |    Float64 actual_range 0.0, 4.0;
        |  }
        |  NC_GLOBAL {
        |    String title "Fractional-second fixture";
        |  }
        |}""".stripMargin)
    assert(spark.read.format("erddap").option("dataDir", d.toString)
      .option("dataset", "frac").load().schema.fieldNames.toSeq == Seq("time", "depth"))
    val got = spark.read.format("erddap")
      .option("dataDir", d.toString).option("dataset", "frac").load()
      .select(col("depth"), unix_micros(col("time"))).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).sortBy(_._1).map(_._2).toSeq
    assert(got == cells.map(_._2))
  }
}
