package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeoutException}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.duration.DurationInt
import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.operators.SparkTestSession
import graft.sinks.PortalTransport

/** Source version read by [[NrtFingerprintSpec]]'s moving-source UDF —
  * one JVM in local mode, so executor threads see the driver's bump. */
object NrtSourceVersion {
  val v = new AtomicLong(1L)
}

/** The refresh decision's Spark work: the fingerprint is one job and
  * bit-identical to the values stored by earlier builds, a no-op
  * refresh runs one job, an overwrite two, and the slot is never read
  * back. */
class NrtFingerprintSpec extends AnyFunSuite with TimeLimits {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  implicit val signaler: Signaler = ThreadSignaler
  private val TagKey = "graft.spec.jobTag"

  /** `body`'s result, the jobs it started on this thread, and the root
    * paths of every file relation its queries planned. */
  private def traced[T](body: => T): (T, Int, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val paths = new ConcurrentLinkedQueue[String]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(TagKey) == tag)
          jobs.incrementAndGet()
    }
    val queryListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach {
          case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
            r.location.rootPaths.foreach(p => paths.add(p.toString))
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    SpecBus.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    sc.setLocalProperty(TagKey, tag)
    try {
      val out = body
      SpecBus.drain(sc)
      (out, jobs.get, paths.asScala.toSeq)
    } finally {
      sc.setLocalProperty(TagKey, null)
      spark.listenerManager.unregister(queryListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** `body` run while the shared listener queue, which delivers
    * observed metrics, is stuck in a listener until `body` returns. */
  private def withStalledBus[T](body: => T): T = {
    val sc = spark.sparkContext
    val release = new CountDownLatch(1)
    val stall = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = release.await()
    }
    SpecBus.drain(sc)
    sc.addSparkListener(stall)
    try body
    finally {
      release.countDown()
      SpecBus.drain(sc)
      sc.removeSparkListener(stall)
    }
  }

  private def fresh(v: Int): DataFrame = spark.range(0, 300, 1, 3)
    .select(col("id"), lit(v).as("ver"), (col("id") % 7).cast("string").as("grp"))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("fingerprint values are the ones stored by earlier builds") {
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:03:00")
    val fixed = Seq((1L, "a", 1.5, ts), (2L, "b", 2.5, ts), (3L, "c", -0.25, ts))
      .toDF("id", "s", "v", "time")
    val nulls = Seq((Some(1L), None: Option[String]), (None, Some("x")),
      (None, None)).toDF("id", "s")
    val empty = fixed.filter($"id" < 0)
    val zeroParts = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
    val emptyParts = spark.range(0, 8, 1, 2).filter($"id" > 100).toDF()
    val dupd = Seq((1, "A"), (1, "A"), (2, "B")).toDF("id", "v")
    val ranged = spark.range(0, 1000, 1, 3)
      .selectExpr("id", "cast(id * 7 % 13 as string) as s")
    assert(zeroParts.rdd.getNumPartitions == 0)
    assert(emptyParts.rdd.getNumPartitions == 2)
    // captured from the two-job aggregate this fingerprint replaced
    val golden = Seq(
      fixed -> -896995853836759806L,
      nulls -> -3129165692075472537L,
      empty -> -7160610219483255062L,
      zeroParts -> -7160610219483255062L,
      emptyParts -> -7160610219483255062L,
      dupd -> 7058598888152498669L,
      ranged -> 2069399542397742320L)
    golden.foreach { case (df, want) =>
      failAfter(Span(60, Seconds)) { assert(Nrt.tableFingerprint(df) == want) }
    }
  }

  test("fingerprint is one job") {
    val (_, jobs, _) = traced(Nrt.tableFingerprint(fresh(1)))
    assert(jobs == 1)
  }

  test("concurrent parMap fingerprints equal sequential ones") {
    val frames = (1 to 8).map(fresh)
    val sequential = frames.map(Nrt.tableFingerprint)
    assert(sequential.distinct.size == frames.size)
    (1 to 3).foreach { _ =>
      assert(Nrt.parMap(frames)(Nrt.tableFingerprint) == sequential)
    }
  }

  test("no-op refresh runs 1 job; overwrite runs 2 and never reads the slot") {
    val sink = tmp("nrt_jobs_sink")
    val t = PortalTransport(tmp("nrt_jobs_portal"))
    val (first, firstJobs, firstPaths) =
      traced(Nrt.refreshViaPortal(spark, "ds", fresh(1), t, sink))
    assert(first.changed && first.rows == 300)
    assert(firstJobs == 2)
    assert(!firstPaths.exists(_.contains(sink)), firstPaths)

    val (same, sameJobs, _) =
      traced(Nrt.refreshViaPortal(spark, "ds", fresh(1), t, sink))
    assert(!same.changed)
    assert(sameJobs == 1)

    val (next, nextJobs, nextPaths) =
      traced(Nrt.refreshViaPortal(spark, "ds", fresh(2), t, sink))
    assert(next.changed && next.rows == 300)
    assert(nextJobs == 2)
    assert(!nextPaths.exists(_.contains(sink)), nextPaths)
  }

  test("overwrite stores the slot's own fingerprint and row count") {
    val sink = tmp("nrt_slot_sink")
    val t = PortalTransport(tmp("nrt_slot_portal"))
    val out = Nrt.refreshViaPortal(spark, "ds", fresh(3).filter($"id" % 3 =!= 0), t, sink)
    val item = t.findByTitle("ds").get
    val props = t.props(item.id)
    val slot = spark.read.parquet(Nrt.activePath(sink, "ds", props("activeSlot")))
    assert(out.rows == slot.count() && out.rows == 200)
    assert(props("fingerprint") == Nrt.tableFingerprint(slot).toString)
    assert(out.newFingerprint == Nrt.tableFingerprint(slot))
  }

  test("source changing between the check and the write: stored fingerprint describes the slot") {
    val sink = tmp("nrt_moving_sink")
    val version = udf(() => NrtSourceVersion.v.get()).asNondeterministic()
    val moving = spark.range(0, 120, 1, 2).select(col("id"), version().as("ver"))
    NrtSourceVersion.v.set(1L)
    val checked = Nrt.tableFingerprint(moving)
    // the second props read sits between the fingerprint and the write
    val propsCalls = new AtomicInteger()
    val t = new CommitFaultTransport(PortalTransport(tmp("nrt_moving_portal"))) {
      override def props(itemId: String): Map[String, String] = {
        if (propsCalls.incrementAndGet() == 2) NrtSourceVersion.v.set(2L)
        super.props(itemId)
      }
    }
    val out = Nrt.refreshViaPortal(spark, "ds", moving, t, sink)
    assert(propsCalls.get == 2 && out.changed && out.rows == 120)
    val props = t.props(t.findByTitle("ds").get.id)
    val slot = spark.read.parquet(Nrt.activePath(sink, "ds", props("activeSlot")))
    assert(slot.filter($"ver" =!= 2L).isEmpty)
    val slotFp = Nrt.tableFingerprint(slot)
    assert(props("fingerprint") == slotFp.toString && slotFp != checked)
  }

  test("observed metrics that never arrive fail the refresh within the bound") {
    val never = failAfter(Span(30, Seconds)) {
      intercept[TimeoutException](Nrt.awaitObserved(Observation(), 200.millis))
    }
    assert(never.getMessage.contains("200 milliseconds"))

    val sink = tmp("nrt_stall_sink")
    val t = PortalTransport(tmp("nrt_stall_portal"))
    val stalled = failAfter(Span(30, Seconds)) {
      withStalledBus(Nrt.refreshCycleViaPortal(spark, Seq("ds"), _ => fresh(1),
        t, sink, observationTimeout = 500.millis))
    }
    assert(stalled.map(_.failed) == Seq(true))
    assert(!t.props(t.findByTitle("ds").get.id).contains("fingerprint"))
    // on a delivering bus the next cycle refreshes the dataset
    val healed = Nrt.refreshCycleViaPortal(spark, Seq("ds"), _ => fresh(1), t, sink)
    assert(healed.map(o => (o.failed, o.changed, o.rows)) == Seq((false, true, 300L)))
  }
}
