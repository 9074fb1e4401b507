package graft.streaming

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.PortalDataSource

/** NRT (near-real-time) incremental refresh (SURVEY.md §2.10, T1-T6)
  * re-expressed as Spark batch jobs driven through the ONE portal seam
  * ([[graft.sinks.PortalTransport]]) — the Spark-native replacement for
  * the reference's ProcessPoolExecutor(4) + per-dataset retry loop
  * (`core.py:806-880`).
  *
  * Cross-run state lives on the portal, as in the reference: each
  * published dataset is an item found by title (the reference's
  * tag-recovered AGOL items, `update_manager.py:30-84`) whose
  * properties carry `activeSlot` ("a"|"b") and `fingerprint`, and whose
  * touch time is the last refresh.
  *
  * Change detection (T2) tiers map as:
  *   1. HTTP Last-Modified vs stored          → [[duePlan]]
  *   2. CRC32 of downloaded bytes             → [[tableFingerprint]]
  *   3. converter publicationDate             → caller-side watermark
  * An unchanged dataset refresh is a NO-OP (the reference's
  * success=None outcome, `OverwriteFS.py:2182-2196`).
  *
  * Publishing is a blue-green A/B swap (K10, `OverwriteFS.py:1131-1744`):
  * each refresh writes the INACTIVE slot directory in full (the
  * reference's overwrite semantics — no merge, T3), then flips the
  * item's `activeSlot`; readers resolve through [[activePath]] so the
  * flip is atomic at the pointer level.
  *
  * Slots are parquet directories under a LOCAL `sinkRoot`, written by
  * [[SlotWrite]]: a DataSource V2 writer whose tasks write Spark's own
  * parquet files (Spark's `ParquetWriteSupport` over parquet-mr's
  * `LocalOutputFile`) into a hidden staging directory that the commit
  * renames onto the slot. It skips the FileFormat path's per-task
  * Hadoop `Configuration`, its output committer and the forked `chmod`
  * per file, and a failed write leaves the old slot as it was. Readers
  * are unchanged: `spark.read.parquet` on [[activePath]].
  */
object Nrt {

  /** A5 — order-independent content fingerprint of a DataFrame, in ONE
    * Spark job with no exchange: the moments ride on the scan as an
    * observation drained by a `noop` write (a global `agg(...).head()`
    * plans as two AQE jobs around a shuffle).
    *
    * A pure XOR fold cancels any even-multiplicity difference
    * ({A,A,B} and {B,C,C} XOR to the same value), so the fold combines
    * three commutative moments of the row-hash multiset — XOR, wrapping
    * SUM, and COUNT — each avalanche-mixed before combining
    * ([[graft.sinks.PortalDataSource.combineMoments]]). SUM is
    * multiplicity-sensitive where XOR is blind; COUNT catches
    * pure-duplication changes. Summed as decimal(38,0) so the wrapping
    * is ours (low 64 bits), not an ANSI overflow error. */
  def tableFingerprint(df: DataFrame): Long =
    fingerprint(df, ObservationTimeout)

  private def fingerprint(df: DataFrame, timeout: FiniteDuration): Long = {
    val (observed, moments) = observeMoments(df)
    observed.write.format("noop").mode(SaveMode.Overwrite).save()
    moments(timeout)._1
  }

  /** How long a refresh waits, after its action returned, for the
    * action's observed metrics. Spark delivers them from a listener on
    * the shared listener bus, which is asynchronous and drops events
    * when full; an unbounded wait would hang the whole sequential
    * cycle on one lost event. Normal delivery takes milliseconds. */
  val ObservationTimeout: FiniteDuration = 60.seconds

  /** `obs`'s metrics by name, or a [[TimeoutException]] once `timeout`
    * passes without them — a failure [[refreshCycleViaPortal]] records
    * as that dataset's FAILED outcome. */
  private[streaming] def awaitObserved(obs: Observation,
      timeout: FiniteDuration): Map[String, Any] = {
    val row = try Await.result(obs.future, timeout) catch {
      case _: TimeoutException => throw new TimeoutException(
        s"observed metrics '${obs.name}' not delivered within $timeout")
    }
    row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq)
  }

  /** `df` with the fingerprint moments attached as an observation, and
    * a reader of (fingerprint, row count) over the rows the FIRST action
    * on the returned frame saw, waiting at most the given bound. The
    * observation is unnamed (UUID-named), so concurrent fingerprints
    * ([[parMap]]) never share one. */
  private def observeMoments(
      df: DataFrame): (DataFrame, FiniteDuration => (Long, Long)) = {
    val h = xxhash64(to_json(struct(df.columns.toIndexedSeq.map(col): _*)))
    val obs = Observation()
    val observed = df.observe(obs,
      coalesce(bit_xor(h), lit(0L)).as("x"),
      count(lit(1)).as("n"),
      coalesce(sum(h.cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s"))
    (observed, timeout => {
      val m = awaitObserved(obs, timeout)
      val n = m("n").asInstanceOf[Long]
      val wrappedSum = m("s").asInstanceOf[java.math.BigDecimal]
        .toBigInteger.longValue() // low 64 bits
      (PortalDataSource.combineMoments(m("x").asInstanceOf[Long], wrappedSum, n), n)
    })
  }

  /** T1 — the trailing moving-window filter applied to a dataset read. */
  def movingWindow(df: DataFrame, tsCol: String, now: java.sql.Timestamp,
      windowDays: Int = 7): DataFrame =
    df.filter(col(tsCol) >= lit(new java.sql.Timestamp(
      now.getTime - windowDays * 86400000L)) && col(tsCol) <= lit(now))

  /** J3-style plan: which datasets are due for refresh — either
    * source `last_modified` advanced past the stored one, or it's been
    * ≥ `maxAgeHours` since the last refresh. Pure DataFrame filter. */
  def duePlan(control: DataFrame, sourceLastModified: DataFrame,
      maxAgeHours: Int = 24): DataFrame = {
    val src = sourceLastModified
      .withColumnRenamed("last_modified", "src_last_modified")
    control.join(broadcast(src), Seq("dataset_id"), "left")
      .filter(col("src_last_modified").isNull || // unknown → refresh
        col("src_last_modified") > col("last_modified") ||
        col("last_refresh") < current_timestamp() - expr(s"INTERVAL $maxAgeHours HOURS"))
  }

  case class RefreshOutcome(datasetId: String, changed: Boolean,
    newFingerprint: Long, rows: Long, failed: Boolean = false)

  /** Resolve the active data path for a dataset (reader side of K10). */
  def activePath(sinkRoot: String, datasetId: String, activeSlot: String): String =
    s"$sinkRoot/$datasetId/$activeSlot"

  /** One dataset's refresh: fingerprint the fresh window, skip when
    * unchanged (T2/T3), else full-replace the inactive slot (K8+K10)
    * and flip. The control state (fingerprint, active slot) lives in
    * the portal item's properties, so the SAME flow runs against the
    * local model or a live portal — the reference's tag-recovered item
    * state (`update_manager.py:30-84`) with Spark doing the data plane.
    * Unchanged data still touches the item (the reference touches
    * dependents even on no-op, `OverwriteFS.py:2670-2686`).
    *
    * Spark work per decision: a no-op runs ONE job (the fingerprint),
    * an overwrite TWO (the fingerprint, then the slot write, which
    * observes its own count and fingerprint — the slot is never read
    * back). `fresh` is deliberately not persisted: a no-op never reuses
    * it, and when measured, caching planned the source scan once more
    * (more ERDDAP requests and partitions per refresh) and made the
    * median refresh slower than re-reading the small window.
    *
    * The slot write is [[SlotWrite.overwrite]] into
    * `sinkRoot/<datasetId>/<slot>`. On a 4-vCPU host, one 3.4k-row
    * station window took ~85 ms to write this way, where the FileFormat
    * parquet write it replaced took ~170 ms, most of it Hadoop task
    * set-up, its committer and forked `chmod`s rather than data work.
    * `sinkRoot` must be a local path or a `file:` URI that the driver
    * and every executor see alike; any other scheme fails with an
    * IllegalArgumentException naming `sinkRoot`, before any portal call.
    *
    * Each job's answer is awaited at most `observationTimeout`
    * ([[ObservationTimeout]]); past it the refresh throws. */
  def refreshViaPortal(spark: SparkSession, datasetId: String, fresh: DataFrame,
      transport: graft.sinks.PortalTransport, sinkRoot: String,
      now: Long = System.currentTimeMillis(),
      observationTimeout: FiniteDuration = ObservationTimeout): RefreshOutcome = {
    val root = SlotWrite.localRoot(sinkRoot)
    val item = transport.findByTitle(datasetId).getOrElse(
      transport.addOrRetry(datasetId, "Feature Service",
        Seq("erddap2agol", s"did_$datasetId")))
    val stored = transport.props(item.id).get("fingerprint").map(_.toLong)
    val fp = fingerprint(fresh, observationTimeout)
    if (stored.contains(fp)) {
      transport.touch(item.id, now)
      RefreshOutcome(datasetId, changed = false, fp, -1L)
    } else {
      val active = transport.props(item.id).getOrElse("activeSlot", "b")
      val inactive = if (active == "a") "b" else "a"
      // the slot write observes its own rows: their count and
      // fingerprint come out of the write job, so the slot is never
      // read back, and the stored fingerprint describes what the slot
      // holds even if the source changed since the check above
      val (observed, written) = observeMoments(fresh)
      SlotWrite.overwrite(observed, root.resolve(datasetId).resolve(inactive))
      val (slotFp, n) = written(observationTimeout)
      transport.update(item.id, Map(
        "activeSlot" -> inactive, "fingerprint" -> slotFp.toString))
      transport.touch(item.id, now)
      RefreshOutcome(datasetId, changed = true, slotFp, n)
    }
  }

  /** [[refreshViaPortal]] over a set of datasets with the reference's
    * per-dataset fault isolation (`core.py:869-880`): one dataset dying
    * mid-read, mid-write or mid-commit reports a FAILED outcome while the rest proceed. The
    * item-property update is the LAST step of a refresh, so a victim's
    * control state (activeSlot, fingerprint) is untouched by
    * construction: it stays due, its active slot keeps serving the old
    * data in full, and the next healthy cycle's full slot overwrite
    * repairs any partial inactive data — invariants NrtPortalChaosSpec
    * proves against BOTH transports (in-JVM model and the live REST
    * client over real sockets; reference recovery:
    * `OverwriteFS.py:2533-2560`). */
  def refreshCycleViaPortal(spark: SparkSession, datasetIds: Seq[String],
      readFresh: String => DataFrame, transport: graft.sinks.PortalTransport,
      sinkRoot: String,
      now: Long = System.currentTimeMillis(),
      observationTimeout: FiniteDuration = ObservationTimeout): Seq[RefreshOutcome] = {
    // DELIBERATELY sequential, not on parMap: every refresh funnels
    // through the one PortalTransport; the REST client's token mint is
    // single-flight, but the local Portal model's maps are not
    // synchronized — parallelize only after the transport is.
    // A sinkRoot the slot writer cannot use fails the cycle, not each dataset.
    SlotWrite.localRoot(sinkRoot)
    datasetIds.map { id =>
      try refreshViaPortal(spark, id, readFresh(id), transport, sinkRoot, now,
        observationTimeout)
      catch { case scala.util.control.NonFatal(_) =>
        RefreshOutcome(id, changed = false, newFingerprint = 0L,
          rows = -1L, failed = true)
      }
    }
  }

  /** Order-preserving parallel map on a bounded thread pool — the
    * driver-side job-overlap harness of guide §2.6. Run-all-then-throw:
    * an exception in item k propagates only after every item has run —
    * acceptable for its callers, the lifecycle's read-only Last-Modified
    * probes and seed fingerprints. The short-lived non-daemon pool per
    * call is deliberate: 2 calls per pipeline run, and shutdown() in
    * finally means no thread leak and no daemon-thread teardown races
    * with spark.stop(). The pool is sized like the reference's
    * 4-process refresh pool — enough to fill stage tails, not enough
    * to thrash the scheduler. */
  private[graft] def parMap[A, B](xs: Seq[A], parallelism: Int = 4)(
      f: A => B): Seq[B] = {
    if (xs.size <= 1) return xs.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, xs.size))
    try {
      import scala.jdk.CollectionConverters._
      val tasks = xs.map { x =>
        new java.util.concurrent.Callable[B] { def call(): B = f(x) }
      }
      pool.invokeAll(tasks.asJava).asScala.toSeq.map(_.get())
    } finally pool.shutdown()
  }
}
