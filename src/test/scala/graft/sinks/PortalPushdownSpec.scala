package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._

import graft.operators.SparkTestSession

/** Filter pushdown on the portal READ table: publish-time per-part
  * min/max stats prune part handles at scan planning, on both transport
  * backends. Stats are advisory — every test also checks row-level
  * results, which Spark guarantees by re-evaluating residual filters. */
class PortalPushdownSpec extends AnyFunSuite with FakeAgolServers {
  lazy val spark = SparkTestSession.spark

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  private def publishRangeParts(root: String, item: String,
      portalUrl: Option[String] = None): Unit = {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2024-01-01T00:00:00Z"), "a"),
      (2L, ts("2024-01-02T00:00:00Z"), "b"),
      (10L, ts("2024-02-01T00:00:00Z"), "c"),
      (11L, ts("2024-02-02T00:00:00Z"), "d"),
      (20L, ts("2024-03-01T00:00:00Z"), "e"),
      (21L, ts("2024-03-02T00:00:00Z"), "f")
    ).toDF("id", "ts", "v")
      .repartitionByRange(3, col("id")) // 3 parts with disjoint id/ts ranges
    val w = df.write.format("portal")
      .option("root", root).option("item", item).mode("append")
    portalUrl.fold(w) { u =>
      w.option("portalUrl", u)
        .option("username", "gcoos").option("password", "fixture-pass")
    }.save()
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("ts", TimestampType), StructField("v", StringType)))

  private def planParts(root: String, item: String,
      portalUrl: Option[String],
      filters: Array[org.apache.spark.sql.sources.Filter],
      readSchema: StructType = schema): Int = {
    val b = new PortalScanBuilder(Some(root), item, readSchema, portalUrl,
      "gcoos", "fixture-pass")
    val residual = b.pushFilters(filters)
    assert(residual.toSeq == filters.toSeq, "all filters must stay residual")
    b.build().toBatch.planInputPartitions().length
  }

  test("[local] time-range and equality predicates prune non-overlapping parts") {
    val root = java.nio.file.Files.createTempDirectory("pp_local").toString
    publishRangeParts(root, "pruned")

    assert(planParts(root, "pruned", None, Array.empty) == 3)
    // only the March part overlaps ts >= 2024-02-15
    assert(planParts(root, "pruned", None,
      Array(GreaterThanOrEqual("ts", ts("2024-02-15T00:00:00Z")))) == 1)
    // window fully before the data → zero parts
    assert(planParts(root, "pruned", None,
      Array(LessThan("ts", ts("2023-01-01T00:00:00Z")))) == 0)
    // equality on the numeric column → the one containing part
    assert(planParts(root, "pruned", None, Array(EqualTo("id", 10L))) == 1)
    // conjunction that no single part satisfies
    assert(planParts(root, "pruned", None,
      Array(GreaterThan("id", 11L), LessThan("ts", ts("2024-02-28T00:00:00Z")))) == 0)

    // end-to-end: the pruned read returns exactly the right rows
    val out = spark.read.format("portal")
      .option("root", root).option("item", "pruned").load()
      .filter(col("ts") >= lit(ts("2024-02-15T00:00:00Z")))
    assert(out.collect().map(_.getString(2)).sorted.toSeq == Seq("e", "f"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("pruneFilters="), s"pushdown missing from plan:\n$plan")
  }

  test("[rest] whole-payload stats prune the single-handle read to zero when out of window") {
    val server = startServer("pp_rest_portal")
    val root = java.nio.file.Files.createTempDirectory("pp_rest_stage").toString
    publishRangeParts(root, "pruned-rest", Some(server.base))

    // REST read plane is one item-data handle; the merged `*` range covers it
    assert(planParts(root, "pruned-rest", Some(server.base), Array.empty) == 1)
    assert(planParts(root, "pruned-rest", Some(server.base),
      Array(GreaterThan("ts", ts("2024-01-15T00:00:00Z")))) == 1)
    assert(planParts(root, "pruned-rest", Some(server.base),
      Array(LessThan("ts", ts("2023-01-01T00:00:00Z")))) == 0)
    assert(planParts(root, "pruned-rest", Some(server.base),
      Array(EqualTo("id", 999L))) == 0)

    // end-to-end through the REST seam with an in-window filter
    val out = spark.read.format("portal")
      .option("root", root).option("item", "pruned-rest")
      .option("portalUrl", server.base)
      .option("username", "gcoos").option("password", "fixture-pass")
      .load().filter(col("id") === 10L)
    assert(out.collect().map(_.getString(2)).toSeq == Seq("c"))
  }

  test("quoted CR/LF cells round-trip the publish→read path on both backends") {
    import spark.implicits._
    val df = Seq(
      (1L, "line1\nline2"), (2L, "crlf\r\ncell"), (3L, "q\"q,\nmix"),
      (4L, "plain")).toDF("id", "v")

    val localRoot = java.nio.file.Files.createTempDirectory("ml_local").toString
    df.repartition(2).write.format("portal")
      .option("root", localRoot).option("item", "ml").mode("append").save()
    val localBack = spark.read.format("portal")
      .option("root", localRoot).option("item", "ml").load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(localBack == Map(1L -> "line1\nline2", 2L -> "crlf\r\ncell",
      3L -> "q\"q,\nmix", 4L -> "plain"))

    val server = startServer("ml_rest_p")
    val stageRoot = java.nio.file.Files.createTempDirectory("ml_rest_s").toString
    df.repartition(2).write.format("portal")
      .option("root", stageRoot).option("item", "ml-rest")
      .option("portalUrl", server.base)
      .option("username", "gcoos").option("password", "fixture-pass")
      .mode("append").save()
    val restBack = spark.read.format("portal")
      .option("root", stageRoot).option("item", "ml-rest")
      .option("portalUrl", server.base)
      .option("username", "gcoos").option("password", "fixture-pass")
      .load().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(restBack == localBack)
  }

  test("republish without stats tombstones the previous partStats — no stale pruning") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("pp_stale").toString
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.repartition(1).write.format("portal")
        .option("root", root).option("item", "stale").mode("append").save()
    // publish 1: January data, stats recorded
    write(Seq((1L, ts("2024-01-10T00:00:00Z"))).toDF("id", "t"))
    // publish 2: February data whose stats are too large to encode
    // (a multi-hundred-KB string cell) — the key must be TOMBSTONED,
    // not left pointing at January
    val big = "x" * 200000
    write(Seq((2L, ts("2024-02-10T00:00:00Z")), (3L, ts("2024-02-11T00:00:00Z")))
      .toDF("id", "t").withColumn("pad", lit(big)))
    // a February read must see its rows — stale January stats would
    // prune every part to zero
    val staleSchema = StructType(Seq(StructField("id", LongType),
      StructField("t", TimestampType), StructField("pad", StringType)))
    assert(planParts(root, "stale", None,
      Array(GreaterThanOrEqual("t", ts("2024-02-01T00:00:00Z"))),
      staleSchema) >= 1)
    val out = spark.read.format("portal")
      .option("root", root).option("item", "stale").load()
      .filter(col("t") >= lit(ts("2024-02-01T00:00:00Z")))
    assert(out.count() == 2)
  }

  test("NaN poisons a float column's part stat: the part never prunes on it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("pp_nan").toString
    Seq((1L, Double.NaN), (2L, 5.0), (3L, 7.0)).toDF("id", "d")
      .repartition(1).write.format("portal")
      .option("root", root).option("item", "nan").mode("append").save()
    // without poisoning, min/max would be (NaN, NaN) or (5, 7) —
    // either wrongly prunes: d = 5 under a NaN range, or d > 100
    // (which Spark's NaN-greatest ordering MATCHES for the NaN row)
    val nanSchema = StructType(Seq(StructField("id", LongType),
      StructField("d", DoubleType)))
    assert(planParts(root, "nan", None, Array(EqualTo("d", 5.0)), nanSchema) == 1)
    assert(planParts(root, "nan", None,
      Array(GreaterThan("d", 100.0)), nanSchema) == 1)
    val out = spark.read.format("portal")
      .option("root", root).option("item", "nan").load()
    assert(out.filter(col("d") === 5.0).count() == 1)
    assert(out.filter(col("d") > 100.0).count() == 1) // the NaN row
    // the id column still prunes normally
    assert(planParts(root, "nan", None,
      Array(GreaterThan("id", 99L)), nanSchema) == 0)
  }

  test("stats survive the encode/decode round trip; missing stats never prune") {
    val parts = Seq(
      "part-0.csv" -> Seq(Some(("1", "9")), Some(("100", "200")), None),
      "part-1.csv" -> Seq(Some(("10", "19")), None, Some(("a,b|x", "z\nq")))
    )
    val enc = PortalStats.encode(schema, parts).get
    val dec = PortalStats.decode(schema, enc)
    assert(dec("part-0.csv")("id") == ((1L, 9L)))
    assert(dec("part-0.csv")("ts") == ((100L, 200L)))
    assert(!dec("part-0.csv").contains("v"))
    assert(dec("part-1.csv")("v") == (("a,b|x", "z\nq"))) // framing survives
    // a column with a stat-less part must vanish from the merged `*`
    val merged = PortalStats.merge(schema, parts.map(_._2))
    assert(merged(0) == Some(("1", "19")))
    assert(merged(1).isEmpty && merged(2).isEmpty)
    // garbage property → no stats, no crash, no pruning
    assert(PortalStats.decode(schema, "not stats at all").isEmpty)
    assert(PortalStats.mayMatch(schema, Map.empty, EqualTo("id", 5L)))
  }
}
