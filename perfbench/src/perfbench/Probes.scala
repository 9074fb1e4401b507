package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sinks.PortalTransport

/** One portal call as seen by the client: method, item, nanoTime bounds. */
final case class PortalCall(method: String, item: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Thread-safe timing decorator over any [[PortalTransport]]: every
  * call is logged with its bounds, so the benchmark can end a refresh
  * unit at its item's `touch` and split the gaps between calls into
  * the refresh phases. */
final class TimedPortalTransport(inner: PortalTransport) extends PortalTransport {
  import PortalTransport.Ref
  private val log = new ConcurrentLinkedQueue[PortalCall]()

  /** Calls logged since the previous drain, in completion order. */
  def drain(): Seq[PortalCall] = Iterator.continually(log.poll()).takeWhile(_ != null).toSeq

  private def timed[A](method: String, item: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally log.add(PortalCall(method, item, t0, System.nanoTime()))
  }

  override def findByTitle(title: String): Option[Ref] = timed("findByTitle", title)(inner.findByTitle(title))
  override def searchByTags(tags: Seq[String], maxItems: Int): Seq[Ref] =
    timed("searchByTags", "")(inner.searchByTags(tags, maxItems))
  override def addOrRetry(title: String, itemType: String, tags: Seq[String], maxAttempts: Int): Ref =
    timed("addOrRetry", title)(inner.addOrRetry(title, itemType, tags, maxAttempts))
  override def props(itemId: String): Map[String, String] = timed("props", itemId)(inner.props(itemId))
  override def update(itemId: String, props: Map[String, String]): Unit =
    timed("update", itemId)(inner.update(itemId, props))
  override def backupProperties(itemId: String): PortalTransport.PropertyBackup =
    timed("backupProperties", itemId)(inner.backupProperties(itemId))
  override def restoreProperties(itemId: String, backup: PortalTransport.PropertyBackup): Unit =
    timed("restoreProperties", itemId)(inner.restoreProperties(itemId, backup))
  override def listParts(itemId: String, slot: String): Seq[String] =
    timed("listParts", itemId)(inner.listParts(itemId, slot))
  override def fetchPart(handle: String): Seq[String] = timed("fetchPart", handle)(inner.fetchPart(handle))
  override def publish(itemId: String): String = timed("publish", itemId)(inner.publish(itemId))
  override def relate(originId: String, destId: String, unRelate: Boolean): Unit =
    timed("relate", originId)(inner.relate(originId, destId, unRelate))
  override def related(itemId: String): Seq[Ref] = timed("related", itemId)(inner.related(itemId))
  override def touch(itemId: String, now: Long): Unit = timed("touch", itemId)(inner.touch(itemId, now))
  override def replaceData(itemId: String, slot: String, files: Seq[java.nio.file.Path]): Unit =
    timed("replaceData", itemId)(inner.replaceData(itemId, slot, files))
}

/** Spark-side counters for the traced run, from a SparkListener and a
  * QueryExecutionListener. Only events that start at or after [[from]]
  * (epoch ms) count. A stage "scans the source" when its lineage holds
  * the DSv2 `DataSourceRDD` (the ERDDAP and griddap scans); an
  * execution "writes" when its physical plan is a write command. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  @volatile var from: Long = Long.MaxValue

  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var scanTasks = 0L
  var scanTaskMs = 0L
  var writeTaskMs = 0L
  var commitMs = 0L
  var planMs = 0L

  private val stageScan = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val stageExec = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execWrite = new ConcurrentHashMap[Long, java.lang.Boolean]()
  private val execLastTask = new ConcurrentHashMap[Long, java.lang.Long]()

  private val writeNodes = Seq("AppendData", "OverwriteByExpression", "OverwritePartitionsDynamic",
    "InsertIntoHadoopFsRelationCommand", "WriteToDataSourceV2")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (e.time >= from) jobs += 1
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    e.stageInfos.foreach { s =>
      stageScan.put(s.stageId, s.rddInfos.exists(_.name == "DataSourceRDD"))
      exec.foreach(x => stageExec.put(s.stageId, x.toLong))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo.launchTime >= from && e.taskMetrics != null) {
      val run = e.taskMetrics.executorRunTime
      tasks += 1
      taskMs += run
      if (stageScan.getOrDefault(e.stageId, false)) { scanTasks += 1; scanTaskMs += run }
      Option(stageExec.get(e.stageId)).foreach { x =>
        if (execWrite.getOrDefault(x, false)) writeTaskMs += run
        execLastTask.merge(x, e.taskInfo.finishTime, (a, b) => math.max(a, b))
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execWrite.put(s.executionId, writeNodes.exists(s.physicalPlanDescription.contains))
      case x: SparkListenerSQLExecutionEnd if x.time >= from && execWrite.getOrDefault(x.executionId, false) =>
        Option(execLastTask.get(x.executionId)).foreach(last => commitMs += math.max(0L, x.time - last))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty && phases.map(_.startTimeMs).min >= from) planMs += phases.map(_.durationMs).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Heap in use after a full collection: the sum of every heap pool's
  * post-GC usage (`MemoryPoolMXBean.getCollectionUsage`), sampled at
  * step boundaries off the clock. Young-collection figures would also
  * count old-generation garbage that waits for the next marking cycle,
  * so their peak moves with GC timing rather than with what the
  * program holds. */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}

  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Force a full collection and return the heap it left in use, in MB.
    * Collects twice: the first collection hands weak references to
    * cleaners (such as Spark's ContextCleaner) that drop state on their
    * own threads, and the second frees what they dropped. After one
    * collection, the same NRT run point read 94 or 110 MB depending on
    * that timing; after two, it read 85.6 MB each time. */
  def afterFullGc(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }
}
