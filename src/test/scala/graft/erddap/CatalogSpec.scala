package graft.erddap

import java.nio.file.{Files, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, try_to_timestamp}

import graft.operators.{Relational, SparkTestSession}

/** The catalog path `ErddapPlanDemo` runs (S2-S4) over the bundled
  * `fixtures/catalog.json`: parse, then the gate-backed relational
  * scan, search and recency operators. */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val cat: DataFrame = {
    val tmp = Files.createTempFile("catalog_", ".json")
    tmp.toFile.deleteOnExit()
    Files.copy(getClass.getResourceAsStream("/fixtures/catalog.json"), tmp,
      StandardCopyOption.REPLACE_EXISTING)
    Catalog.fromTableJson(spark, tmp.toString)
  }

  private def ids(df: DataFrame): Seq[String] =
    df.select("datasetID").collect().map(_.getString(0)).sorted.toSeq

  test("S2 tabledap scan drops the self-row and rows without the protocol") {
    assert(ids(Relational.catalogScan(cat, "datasetID", "tabledap")) ==
      Seq("gcoos_42G01", "old_ds"))
  }

  test("S3 title search is case-insensitive") {
    assert(ids(Relational.textSearch(cat, "title", "WIDGET")) == Seq("sst_grid"))
  }

  test("S4 7-day recent window drops rows with an empty maxTime") {
    val timed = cat.withColumn("maxTs", try_to_timestamp(col("maxTime")))
    assert(timed.filter(col("maxTs").isNull).count() == 2)
    assert(ids(Relational.recentWindow(timed, "maxTs", 7)) ==
      Seq("gcoos_42G01", "sst_grid"))
  }
}
