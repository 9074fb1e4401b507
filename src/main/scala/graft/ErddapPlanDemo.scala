package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, try_to_timestamp}

import graft.erddap._
import graft.operators.Relational

/** Runnable demo of the ERDDAP plan pipeline (SURVEY.md §3.1) against
  * bundled fixtures: catalog scan/search/recency → DAS parse → QC
  * pruning → time extent → chunk plan → request URLs. The live HTTP
  * surfaces of the reference are out of reach here; this is the
  * plan-time half the DataSource V2 connector builds on.
  *
  * Run: `sbt "runMain graft.ErddapPlanDemo"`.
  */
object ErddapPlanDemo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)

    // Materialize bundled fixtures so spark.read.json can reach them.
    def resourceToTmp(name: String): String = {
      val in = getClass.getResourceAsStream(s"/fixtures/$name")
      val out = Files.createTempFile("graft_fixture_", name)
      Files.copy(in, out, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      out.toString
    }

    val cat = Catalog.fromTableJson(spark, resourceToTmp("catalog.json"))
    def ids(df: DataFrame): String =
      df.select("datasetID").collect().map(_.getString(0)).sorted.mkString(",")
    println("scan tabledap: " + ids(Relational.catalogScan(cat, "datasetID", "tabledap")))
    println("search 'widget': " + ids(Relational.textSearch(cat, "title", "WIDGET")))
    // catalog maxTime may be an EMPTY string (FIXTURES.md §1): ANSI cast
    // would throw, try_to_timestamp maps it to null and the window drops it
    val timed = cat.withColumn("maxTs", try_to_timestamp(col("maxTime")))
    println("recent 7d: " + ids(Relational.recentWindow(timed, "maxTs", 7)))

    val das = Das.parse(Files.readString(Path.of(resourceToTmp("gcoos_42G01.das"))))
    val sel = AttributePolicy.actualAttributes(das)
    println("selected: " + sel.attributes.sorted.mkString(",") +
      " time=" + sel.timeCol.getOrElse("-"))
    val (s, e) = Das.timeExtent(das, sel.timeCol.get,
      java.time.Instant.parse("2024-07-01T00:00:00Z")).get
    val chunks = ChunkPlanner.timeSubsets(s, e, rowCount = 250000, chunkSize = 100000)
    println("chunks: " + chunks.map(c =>
      s"${c.label}[${c.startString}/${c.endString}]").mkString(" "))
    UrlCompiler.compile(UrlCompiler.Tabledap(
      "https://erddap2.gcoos.org/erddap/tabledap/", "gcoos_42G01", "csvp",
      sel.attributes, sel.timeCol, chunks = chunks))
      .foreach(u => println("url: " + u))

    // Full connector path: DataSource V2 scan with pushdown over the
    // local transport fake — synthesize a small dataset + DAS, read it
    // back through spark.read.format("erddap").
    val dataDir = Files.createTempDirectory("erddap_demo")
    val rows = (0 until 96).map { h =>
      val t = java.time.Instant.parse("2024-06-01T00:00:00Z").plusSeconds(h * 3600L)
      s"${ChunkPlanner.isoNoZone(t)}Z,25.9,-89.7,${20.0 + h % 10}"
    }
    Files.writeString(dataDir.resolve("buoy1.csv"),
      ("time,latitude,longitude,sea_surface_temperature_0" +: rows).mkString("\n"))
    Files.writeString(dataDir.resolve("buoy1.das"),
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
        |  }
        |  NC_GLOBAL {
        |    String title "Demo buoy";
        |  }
        |}""".stripMargin)
    val df = spark.read.format("erddap")
      .option("dataDir", dataDir.toString)
      .option("dataset", "buoy1")
      .option("das", dataDir.resolve("buoy1.das").toString)
      .option("chunkSize", "25")
      .load()
      .filter(col("time") >= lit("2024-06-02 00:00:00").cast("timestamp"))
      .select("time", "sea_surface_temperature_0")
    println("connector rows: " + df.count() +
      " partitions: " + df.rdd.getNumPartitions)
    println("connector plan: " + df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("erddap dataset")).mkString(" | "))

    spark.stop()
  }
}
