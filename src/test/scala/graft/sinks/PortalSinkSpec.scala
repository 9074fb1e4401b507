package graft.sinks

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.SparkTestSession

class PortalSinkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def freshRoot(): String =
    Files.createTempDirectory("portal_sink").toString

  val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", DoubleType)))

  def df(rows: (Long, String, Double)*) =
    rows.toDF("id", "name", "v")

  /** The active slot of a published item, through the DSv2 reader. */
  def readBack(root: String, title: String) =
    spark.read.format("portal").option("root", root).option("item", title).load()

  test("commit publishes into a slot, restores props, and is readable back") {
    val root = freshRoot()
    val data = df((1L, "alpha", 1.5), (2L, "with, comma", 2.5), (3L, "q\"q", 3.5))
    data.write.format("portal").option("root", root).option("item", "SST buoys")
      .mode("append").save()

    val portal = Portal.forRoot(root)
    val item = portal.findByTitle("SST buoys").get
    assert(portal.itemById(item.id).serviceProps("activeSlot") == "a")
    assert(portal.itemById(item.id).serviceProps("rows") == "3")
    assert(portal.itemById(item.id).serviceProps("hasLiveData") == "false")
    assert(portal.itemById(item.id).lastTouched > 0)

    val back = readBack(root, "SST buoys")
    assert(back.count() == 3)
    assert(back.filter(col("id") === 2L).head().getString(1) == "with, comma")
    assert(back.filter(col("id") === 3L).head().getString(1) == "q\"q")
    // no staging residue
    assert(!Files.list(Path.of(root)).iterator().hasNext == false &&
      !Files.list(Path.of(root)).toArray.map(_.toString).exists(_.contains(".staging")))
  }

  test("unchanged republish is a no-op; changed data flips the A/B slot") {
    val root = freshRoot()
    val d1 = df((1L, "a", 1.0), (2L, "b", 2.0))
    def publish(d: org.apache.spark.sql.DataFrame) =
      d.write.format("portal").option("root", root).option("item", "NRT winds")
        .mode("append").save()

    publish(d1)
    val portal = Portal.forRoot(root)
    val id = portal.findByTitle("NRT winds").get.id
    assert(portal.itemById(id).serviceProps("activeSlot") == "a")
    val fp1 = portal.itemById(id).serviceProps("fingerprint")

    publish(d1) // identical content → no-op, slot unchanged
    assert(portal.itemById(id).serviceProps("activeSlot") == "a")
    assert(portal.itemById(id).serviceProps("fingerprint") == fp1)

    publish(df((1L, "a", 1.0), (2L, "b", 99.0))) // changed → flip to b
    assert(portal.itemById(id).serviceProps("activeSlot") == "b")
    assert(portal.itemById(id).serviceProps("fingerprint") != fp1)
    val back = readBack(root, "NRT winds")
    assert(back.filter(col("id") === 2L).head().getDouble(2) == 99.0)
  }

  test("failed write aborts: portal state untouched, staging cleaned") {
    val root = freshRoot()
    publishOk(root)
    val portal = Portal.forRoot(root)
    val id = portal.findByTitle("stable").get.id
    val before = portal.itemById(id)

    val poison = df((1L, "x", 1.0), (2L, "y", 0.0))
      .withColumn("v", expr("1.0 / v")) // ANSI division by zero → task failure
    intercept[Exception] {
      poison.write.format("portal").option("root", root)
        .option("item", "stable").mode("append").save()
    }
    // abort restored by construction: same slot, same fingerprint, no staging
    val after = portal.itemById(id)
    assert(after.serviceProps("activeSlot") == before.serviceProps("activeSlot"))
    assert(after.serviceProps("fingerprint") == before.serviceProps("fingerprint"))
    assert(!Files.list(Path.of(root)).toArray.map(_.toString)
      .exists(_.contains(".staging")))
    // published data still the pre-failure content
    val back = readBack(root, "stable")
    assert(back.count() == 1)
  }

  private def publishOk(root: String): Unit =
    df((7L, "ok", 7.0)).write.format("portal").option("root", root)
      .option("item", "stable").mode("append").save()

  test("commit refuses overwrite when WFS or change-tracking dependents exist") {
    val root = freshRoot()
    df((1L, "a", 1.0)).write.format("portal").option("root", root)
      .option("item", "guarded").mode("append").save()
    val portal = Portal.forRoot(root)
    val item = portal.findByTitle("guarded").get
    val slotBefore = portal.itemById(item.id).serviceProps("activeSlot")

    // tier 1: change-tracking-enabled dependent view
    portal.updateServiceProps(item, Map("hasChangeTrackingEnabledViews" -> "true"))
    val e1 = intercept[Exception] {
      df((2L, "b", 2.0)).write.format("portal").option("root", root)
        .option("item", "guarded").mode("append").save()
    }
    assert(e1.getMessage.contains("Change Tracking") ||
      e1.getCause != null && e1.getCause.getMessage.contains("Change Tracking"))
    portal.updateServiceProps(item, Map("hasChangeTrackingEnabledViews" -> "false"))

    // tier 2: dependent WFS service
    val wfs = portal.addOrRetry("guarded WFS", "WFS", Nil, Map())
    portal.relate(portal.itemById(item.id), Seq(wfs))
    val e2 = intercept[Exception] {
      df((3L, "c", 3.0)).write.format("portal").option("root", root)
        .option("item", "guarded").mode("append").save()
    }
    assert(e2.getMessage.contains("WFS") ||
      e2.getCause != null && e2.getCause.getMessage.contains("WFS"))

    // refusals left the portal state untouched: same slot, original rows
    assert(portal.itemById(item.id).serviceProps("activeSlot") == slotBefore)
    assert(portal.itemById(item.id).serviceProps("rows") == "1")
    assert(!Files.list(Path.of(root)).toArray.map(_.toString)
      .exists(_.contains(".staging")))

    // removing the dependency unblocks the publish
    portal.updateRelationships(portal.itemById(item.id), Seq(wfs), unRelate = true)
    df((4L, "d", 4.0), (5L, "e", 5.0)).write.format("portal").option("root", root)
      .option("item", "guarded").mode("append").save()
    assert(portal.itemById(item.id).serviceProps("rows") == "2")
  }

  test("overwrite mode routes through TRUNCATE capability") {
    val root = freshRoot()
    df((1L, "a", 1.0)).write.format("portal").option("root", root)
      .option("item", "ow").mode("overwrite").save()
    val portal = Portal.forRoot(root)
    assert(portal.findByTitle("ow").isDefined)
    val back = readBack(root, "ow")
    assert(back.count() == 1)
  }

  test("spark.read.format(portal) resolves the active slot with pruning") {
    val root = freshRoot()
    df((1L, "a", 1.5), (2L, "b", 2.5)).write.format("portal")
      .option("root", root).option("item", "readable").mode("append").save()

    val back = spark.read.format("portal")
      .option("root", root).option("item", "readable").load()
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq) // recorded at publish
    assert(back.count() == 2)
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))

    // pruning reaches the scan
    val pruned = back.select("v")
    assert(pruned.queryExecution.executedPlan.toString.contains("cols=v"))
    assert(pruned.as[Double].collect().sorted.toSeq == Seq(1.5, 2.5))

    // republish with changed data: reader follows the flipped slot
    df((1L, "a", 9.0), (2L, "b", 2.5)).write.format("portal")
      .option("root", root).option("item", "readable").mode("append").save()
    val after = spark.read.format("portal")
      .option("root", root).option("item", "readable").load()
    assert(after.filter(col("id") === 1L).head().getDouble(2) == 9.0)
  }

  test("timestamps round-trip at microsecond precision") {
    val root = freshRoot()
    val tsSchema = StructType(Seq(StructField("id", LongType),
      StructField("ts", TimestampType)))
    val d = Seq((1L, java.sql.Timestamp.valueOf("2024-06-01 12:34:56.123456")))
      .toDF("id", "ts")
    d.write.format("portal").option("root", root).option("item", "tsrt")
      .mode("append").save()
    val back = readBack(root, "tsrt")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      tsSchema.map(f => (f.name, f.dataType)))
    assert(back.head().getTimestamp(1) ==
      java.sql.Timestamp.valueOf("2024-06-01 12:34:56.123456"))
  }
}
