package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession
import graft.sinks.{FakeAgolServers, Portal, PortalTransport}

/** Shared across executor threads (local mode = one JVM): lets the
  * chaos UDF count row evaluations so the FINGERPRINT pass over a
  * dataset succeeds and the subsequent slot WRITE dies partway — a
  * genuine mid-commit kill, not a read-time failure. */
object NrtChaosCounter {
  val evals = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Chaos pass on the NRT lifecycle (the reference's operational core:
  * per-dataset retry isolation `core.py:869-880`, overwrite recovery
  * `OverwriteFS.py:2533-2560`) through the PORTAL seam — mid-commit
  * kill, read-death and commit-plane death against BOTH backends in
  * one parameterized spec: the in-JVM [[Portal]] model and the live
  * REST client over a localhost sharing-REST server with real sockets
  * (the reference's recovery surface is REST-quirk-laden). Composite
  * invariants per scenario: the victim's item properties (activeSlot,
  * fingerprint) are untouched so it STAYS DUE — on the local model its
  * touch time is unchanged too — its active slot keeps serving the old
  * data in full, the rest of the cycle proceeds, and the next healthy
  * cycle repairs the partial slot via the full overwrite. */
class NrtPortalChaosSpec extends AnyFunSuite with FakeAgolServers {
  lazy val spark = SparkTestSession.spark

  private val now1 = 1706745600000L // 2024-02-01T00:00:00Z
  private val now2 = now1 + 86400000L

  private def base(v: Int) = spark.range(200)
    .select(col("id"), lit(v).as("ver"), (col("id") % 7).as("grp"))
    .repartition(4)

  /** transport, armCommitFault, and the item's touch time where the
    * backend exposes it. The fault arms a ONE-SHOT failure of the next
    * item property update — a decorator throw for the local model, a
    * genuine wire-level AGOL error envelope for REST. */
  private case class Backend(t: PortalTransport, armCommitFault: () => Unit,
      lastTouched: Option[String => Long])

  private def localBackend(): Backend = {
    val root = java.nio.file.Files.createTempDirectory("nrt_pc_local").toString
    val t = new CommitFaultTransport(PortalTransport(root))
    Backend(t, () => t.armed = true,
      Some(id => Portal.forRoot(root).itemById(id).lastTouched))
  }

  private def restBackend(): Backend = {
    val server = startServer("nrt_pc_rest")
    Backend(PortalTransport(server.base, "gcoos", "fixture-pass"),
      () => server.failNextPropsUpdate = true, None)
  }

  private def scenarios(name: String, mk: () => Backend): Unit = {

    test(s"[$name] mid-commit kill: item props untouched, cycle survives, next cycle repairs") {
      val b = mk(); val t = b.t
      val sink = java.nio.file.Files.createTempDirectory(s"nrt_pc1_$name").toString
      val ids = Seq("ds_a", "ds_b", "ds_c")

      val out1 = Nrt.refreshCycleViaPortal(spark, ids, _ => base(1), t, sink, now1)
      assert(out1.forall(o => o.changed && !o.failed))
      val item = t.findByTitle("ds_b").get
      val slot1 = t.props(item.id)("activeSlot")
      val fp1 = t.props(item.id)("fingerprint")

      // ds_b's slot write dies partway: the chaos column passes the
      // 200-row fingerprint scan and throws during the write job
      NrtChaosCounter.evals.set(0L)
      val boom = udf { (id: Long) =>
        if (NrtChaosCounter.evals.incrementAndGet() > 300L)
          throw new RuntimeException("chaos: mid-commit kill")
        id
      }
      def read2(id: String) = id match {
        case "ds_a" => base(1) // unchanged → no-op touch
        case "ds_b" => base(2).withColumn("chaos", boom(col("id")))
        case _      => base(2)
      }
      val out2 = Nrt.refreshCycleViaPortal(spark, ids, read2, t, sink, now2)
      val byId = out2.map(o => o.datasetId -> o).toMap
      assert(!byId("ds_a").changed && !byId("ds_a").failed)
      assert(byId("ds_b").failed, "the killed refresh must report failed")
      assert(byId("ds_c").changed && !byId("ds_c").failed)

      // victim's control state COMPLETELY untouched → stays due
      assert(t.props(item.id)("activeSlot") == slot1)
      assert(t.props(item.id)("fingerprint") == fp1)
      b.lastTouched.foreach { touched =>
        assert(touched(item.id) == now1, "a failed refresh is not touched")
        // the no-op survivor is still touched
        assert(touched(t.findByTitle("ds_a").get.id) == now2)
      }
      // the no-op survivor kept its slot (cycle 1 flipped all alike)
      assert(t.props(t.findByTitle("ds_a").get.id)("activeSlot") == slot1)
      // its active slot still serves cycle-1 data in full
      val served = spark.read.parquet(Nrt.activePath(sink, "ds_b", slot1))
      assert(served.count() == 200)
      assert(served.agg(max(col("ver"))).head().getInt(0) == 1)
      // the survivor flipped
      assert(t.props(t.findByTitle("ds_c").get.id)("activeSlot") != slot1)

      // healthy cycle 3: full overwrite repairs the partial slot
      val now3 = now2 + 86400000L
      val out3 = Nrt.refreshCycleViaPortal(spark, ids, _ => base(2), t, sink, now3)
      val b3 = out3.find(_.datasetId == "ds_b").get
      assert(b3.changed && !b3.failed && b3.rows == 200)
      val slot3 = t.props(item.id)("activeSlot")
      assert(slot3 != slot1 && t.props(item.id)("fingerprint") != fp1)
      b.lastTouched.foreach(touched => assert(touched(item.id) == now3))
      val repaired = spark.read.parquet(Nrt.activePath(sink, "ds_b", slot3))
      assert(repaired.count() == 200)
      assert(repaired.agg(min(col("ver"))).head().getInt(0) == 2)
      // ds_c: same content as cycle 2 → no-op, slot stays
      assert(!out3.find(_.datasetId == "ds_c").get.changed)
      assert(t.props(t.findByTitle("ds_c").get.id)("activeSlot") != slot1)
    }

    test(s"[$name] read-time death is isolated; victim item untouched") {
      val b = mk(); val t = b.t
      val sink = java.nio.file.Files.createTempDirectory(s"nrt_pc2_$name").toString
      val ids = Seq("ok", "dead")
      val out1 = Nrt.refreshCycleViaPortal(spark, ids, _ => base(1), t, sink, now1)
      assert(out1.forall(o => o.changed && !o.failed))
      val deadItem = t.findByTitle("dead").get
      val slot1 = t.props(deadItem.id)("activeSlot")
      val fp1 = t.props(deadItem.id)("fingerprint")

      def read(id: String): org.apache.spark.sql.DataFrame =
        if (id == "dead") throw new java.io.IOException("connector timeout")
        else base(2)
      val out2 = Nrt.refreshCycleViaPortal(spark, ids, read, t, sink, now2)
      val byId = out2.map(o => o.datasetId -> o).toMap
      assert(byId("ok").changed && !byId("ok").failed)
      assert(byId("dead").failed)
      assert(t.props(t.findByTitle("ok").get.id)("activeSlot") != slot1)
      assert(t.props(deadItem.id)("activeSlot") == slot1)
      assert(t.props(deadItem.id)("fingerprint") == fp1)
      b.lastTouched.foreach(touched => assert(touched(deadItem.id) == now1,
        "a failed refresh is not touched"))
    }

    test(s"[$name] commit-plane death AFTER the data write: stays due, next cycle repairs") {
      val b = mk(); val t = b.t
      val sink = java.nio.file.Files.createTempDirectory(s"nrt_pc3_$name").toString
      // victim FIRST: the one-shot fault must hit its props update, not
      // a preceding dataset's no-op touch (REST touch is an empty update)
      val ids = Seq("victim", "ds_2")
      val out1 = Nrt.refreshCycleViaPortal(spark, ids, _ => base(1), t, sink, now1)
      assert(out1.forall(o => o.changed && !o.failed))
      val item = t.findByTitle("victim").get
      val slot1 = t.props(item.id)("activeSlot")
      val fp1 = t.props(item.id)("fingerprint")

      b.armCommitFault()
      val out2 = Nrt.refreshCycleViaPortal(spark, ids, _ => base(2), t, sink, now2)
      val byId = out2.map(o => o.datasetId -> o).toMap
      assert(byId("victim").failed,
        "a failed control-plane commit must report failed")
      assert(byId("ds_2").changed && !byId("ds_2").failed,
        "the one-shot fault must not leak to the next dataset")
      // data landed in the inactive slot but the COMMIT (props update)
      // died → the item still points at the old slot with the old
      // fingerprint: stays due, old data keeps serving
      assert(t.props(item.id)("activeSlot") == slot1)
      assert(t.props(item.id)("fingerprint") == fp1)
      b.lastTouched.foreach(touched => assert(touched(item.id) == now1,
        "a failed refresh is not touched"))
      val served = spark.read.parquet(Nrt.activePath(sink, "victim", slot1))
      assert(served.agg(max(col("ver"))).head().getInt(0) == 1)

      // next healthy cycle: fingerprint still differs → refresh retries
      // and completes end-to-end
      val out3 = Nrt.refreshCycleViaPortal(spark, ids, _ => base(2), t, sink)
      val v3 = out3.find(_.datasetId == "victim").get
      assert(v3.changed && !v3.failed && v3.rows == 200)
      val slot3 = t.props(item.id)("activeSlot")
      assert(slot3 != slot1)
      val repaired = spark.read.parquet(Nrt.activePath(sink, "victim", slot3))
      assert(repaired.agg(min(col("ver"))).head().getInt(0) == 2)
    }
  }

  scenarios("local", () => localBackend())
  scenarios("rest", () => restBackend())
}

/** Delegating transport whose next property update throws once — the
  * local twin of [[graft.sinks.FakeAgolServer.failNextPropsUpdate]]. */
private class CommitFaultTransport(inner: PortalTransport)
    extends PortalTransport {
  import PortalTransport.{PropertyBackup, Ref}
  @volatile var armed = false

  override def update(itemId: String, props: Map[String, String]): Unit = {
    if (armed) {
      armed = false
      throw new java.io.IOException("chaos: commit-plane update died")
    }
    inner.update(itemId, props)
  }

  override def findByTitle(title: String): Option[Ref] = inner.findByTitle(title)
  override def searchByTags(tags: Seq[String], maxItems: Int): Seq[Ref] =
    inner.searchByTags(tags, maxItems)
  override def addOrRetry(title: String, itemType: String, tags: Seq[String],
      maxAttempts: Int): Ref = inner.addOrRetry(title, itemType, tags, maxAttempts)
  override def props(itemId: String): Map[String, String] = inner.props(itemId)
  override def backupProperties(itemId: String): PropertyBackup =
    inner.backupProperties(itemId)
  override def restoreProperties(itemId: String, backup: PropertyBackup): Unit =
    inner.restoreProperties(itemId, backup)
  override def listParts(itemId: String, slot: String): Seq[String] =
    inner.listParts(itemId, slot)
  override def fetchPart(handle: String): Seq[String] = inner.fetchPart(handle)
  override def publish(itemId: String): String = inner.publish(itemId)
  override def relate(originId: String, destId: String, unRelate: Boolean): Unit =
    inner.relate(originId, destId, unRelate)
  override def related(itemId: String): Seq[Ref] = inner.related(itemId)
  override def touch(itemId: String, now: Long): Unit = inner.touch(itemId, now)
  override def replaceData(itemId: String, slot: String,
      files: Seq[java.nio.file.Path]): Unit =
    inner.replaceData(itemId, slot, files)
}
