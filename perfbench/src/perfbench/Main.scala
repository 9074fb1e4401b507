package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, traceOut: Path)

/** Samples and counts of one run. While `recording` is off (warm-up)
  * units are still checked and counted, but add no samples. */
final class Measure(val recording: Boolean) {
  val latency = ArrayBuffer.empty[Double]
  val stale = ArrayBuffer.empty[Double]
  var rows = 0L
  var attempted = 0L
  var failed = 0L
  var steps = 0
  var checkNs = 0L
  private var nextUnit = 0
  val failures = ArrayBuffer.empty[String]

  def unitId(): Int = { nextUnit += 1; nextUnit }

  /** Run `f` off the clock: correctness checks and bookkeeping. */
  def offClock[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally checkNs += System.nanoTime() - t0
  }

  /** Count one attempted unit; `errors` empty means it was correct. */
  def check(what: String, errors: Seq[String]): Boolean = {
    attempted += 1
    if (errors.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures += s"$what: ${errors.mkString("; ")}"
    }
    errors.isEmpty
  }

  def sample(latencyNs: Long, rowsDelivered: Long, staleNs: Option[Long] = None): Unit =
    if (recording) {
      latency += latencyNs / 1e9
      rows += rowsDelivered
      staleNs.foreach(s => stale += s / 1e9)
    }
}

/** What a workload's loop drives: its inputs, servers and units. */
trait Part extends AutoCloseable {
  /** The benchmark's ERDDAP servers of the current set-up round. */
  def endpoints: Seq[ErddapEndpoint]
  /** One set-up round: fresh inputs and servers, and a cold first
    * publish, on a freshly started session. Closes the previous round. */
  def setUp(spark: SparkSession): Unit
  /** Publish what the measured loop assumes, and let lazy set-up finish. */
  def warmUp(m: Measure): Unit
  /** One step of the loop: a refresh cycle (NRT) or one unit. */
  def step(m: Measure): Unit
  /** Per-unit figures only this part's loop can observe:
    * (name, value, unit). */
  def layers(units: Int): Seq[(String, Double, String)]
}

/** One benchmark workload: a closed loop with one client. */
trait Workload extends Part {
  /** The loop ends on a step count that is a multiple of this… */
  def stepMultiple: Int = 1
  /** …and at least this many steps. */
  def minSteps: Int
  /** Unrecorded steps between warm-up and the measured loop, so the
    * JIT has compiled the loop's hot paths before timing starts. */
  def warmSteps: Int = 0
}

object Main {
  val SetupRounds = 3
  val User = "bench"
  val Pass = "bench-pass"

  /** A run that has not met its step minimum by then stops anyway and fails. */
  val HardCapSeconds = 140

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "unit_p50_s" -> "s", "unit_p90_s" -> "s", "rows_per_s" -> "1/s",
    "stale_p50_s" -> "s", "heap_peak_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "erddap.load_ms" -> "ms", "erddap.requests" -> "count", "erddap.conns" -> "count",
    "erddap.partitions" -> "count", "erddap.rows_read" -> "count", "griddap.cells_read" -> "count",
    "erddap.scan_task_ms" -> "ms", "erddap_server.busy_ms" -> "ms", "nrt.noop_ratio" -> "ratio",
    "portal.rest_calls" -> "count", "portal.bytes_uploaded" -> "bytes",
    "imagery.bytes_written" -> "bytes", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.plan_ms" -> "ms", "spark.gc_ms" -> "ms")

  def main(argv: Array[String]): Unit = {
    // before the first HttpServer of the JVM: the JDK server reads it
    // once, and without it each small request can stall ~40 ms
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val code =
      try {
        if (argv.headOption.contains("--selftest")) SelfTest.run()
        else run(parse(argv))
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Path.of(need("work")), Path.of(need("trace-out")))
  }

  def session(a: Args): SparkSession = {
    val slots = math.min(4, Runtime.getRuntime.availableProcessors())
    SparkSession.builder().master(s"local[$slots]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def run(a: Args): Int = {
    Files.createDirectories(a.work)
    val tracer = new Tracer(a.trace)
    val w: Workload = a.workload match {
      case "nrt_refresh" => new NrtRefresh(a, tracer)
      case "publish" => new Publish(a, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var spark: SparkSession = null
    try {
      val setups = (1 to SetupRounds).map { _ =>
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = session(a)
        w.setUp(spark)
        (System.nanoTime() - t0) / 1e9
      }
      val warm = new Measure(recording = false)
      w.warmUp(warm)
      (1 to w.warmSteps).foreach(_ => w.step(warm))

      val probe = new SparkProbe
      if (a.trace) {
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      def served: Seq[Long] = w.endpoints.map(ep => Seq(ep.requests.get, ep.connections.get,
        ep.rowsServed.get, ep.cellsServed.get, ep.busyNs.get, ep.reencoded.get)).transpose.map(_.sum)
      val served0 = served
      tracer.clear()
      val gc0 = gcMs()
      var forcedGcMs = 0L
      val heap = ArrayBuffer.empty[Double]
      probe.from = System.currentTimeMillis()

      val m = new Measure(recording = true)
      val t0 = System.nanoTime()
      val deadline = t0 + a.seconds * 1000000000L
      val cap = t0 + HardCapSeconds * 1000000000L
      def done = System.nanoTime() >= deadline && m.steps >= w.minSteps && m.steps % w.stepMultiple == 0
      while (!done && System.nanoTime() < cap) {
        w.step(m)
        m.steps += 1
        if (m.steps % w.stepMultiple == 0) m.offClock {
          // listener events still queued would count as live heap
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          val g = gcMs()
          heap += Heap.afterFullGc()
          forcedGcMs += gcMs() - g
        }
      }
      val wallS = (System.nanoTime() - t0 - m.checkNs) / 1e9
      val gcSpent = gcMs() - gc0 - forcedGcMs
      if (a.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

      val units = m.latency.size
      def pct(xs: Seq[Double], p: Double, what: String): Double =
        Stats.percentile(xs, p).getOrElse {
          m.check(s"$what p${(p * 100).round}", Seq(s"only ${xs.size} samples; " +
            s"${Stats.samplesNeeded(p)} needed for ${Stats.MinBeyond} beyond the percentile"))
          Double.NaN
        }
      val e2e = Seq(
        ("setup_s", Stats.median(setups), SetupRounds, "set-up rounds"),
        ("unit_p50_s", pct(m.latency.toSeq, 0.5, "unit"), units, "units"),
        ("unit_p90_s", pct(m.latency.toSeq, 0.9, "unit"), units, "units"),
        ("rows_per_s", m.rows / wallS, units, s"units, ${m.rows} rows in $wallS s"),
        ("stale_p50_s", pct(m.stale.toSeq, 0.5, "staleness"), m.stale.size, "staleness samples"),
        ("heap_peak_mb", heap.maxOption.getOrElse(Double.NaN), heap.size, "full collections"))

      println(s"perfbench ${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
      println(f"  steps=${m.steps} units=$units wall=$wallS%.3f s, gc=$gcSpent ms, set-up rounds: ${setups.mkString(", ")}")
      val unitOf = endToEnd.toMap
      e2e.foreach { case (n, v, c, what) => println(f"  $n%-14s = $v%.6f ${unitOf(n)} (n=$c $what)") }
      val sixths = m.latency.grouped(math.max(1, (units + 5) / 6)).map(g => f"${Stats.median(g.toSeq)}%.4f")
      println(s"  unit median by sixth of the run: ${sixths.mkString(" ")}")
      println(s"  heap after each forced collection, MB: ${heap.map(h => f"$h%.1f").mkString(" ")}")

      val attempted = warm.attempted + m.attempted
      val failed = warm.failed + m.failed
      (warm.failures ++ m.failures).foreach(f => println(s"  FAILED $f"))

      // tracing overhead: this run's end-to-end figures against those of
      // the other mode's last run of the same workload and seed
      def e2eFile(traced: Boolean) =
        a.traceOut.resolveSibling(s"${a.workload}-seed${a.seed}.e2e-trace${if (traced) 1 else 0}.txt")
      Files.createDirectories(a.traceOut.getParent)
      Files.writeString(e2eFile(a.trace), e2e.map(x => s"${x._1} ${x._2}").mkString("", "\n", "\n"))
      if (Files.exists(e2eFile(!a.trace))) {
        val other = Files.readAllLines(e2eFile(!a.trace)).toArray(Array.empty[String])
          .map(_.split(" ")).collect { case Array(k, v) => k -> v.toDouble }.toMap
        val (traced, plain) = if (a.trace) (e2e.map(x => x._1 -> x._2).toMap, other) else (other, e2e.map(x => x._1 -> x._2).toMap)
        println("  tracing overhead (traced vs untraced run of this seed): " + endToEnd.map(_._1)
          .filter(k => plain.get(k).exists(_ > 0) && traced.contains(k))
          .map(k => f"$k ${(traced(k) / plain(k) - 1) * 100}%+.1f%%").mkString(", "))
      }

      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) e2e.map { case (n, v, _, _) => (n, v, unitOf(n)) }
        else {
          val n = math.max(units, 1).toDouble
          val spans = tracer.spans
          val byName = Trace.byName(spans)
          def spanMs(name: String) = byName.get(name).map(_._2 / 1e6).getOrElse(0.0) / n
          val own = w.layers(units).map(x => x._1 -> x).toMap
          val ep = served.zip(served0).map { case (x, x0) => (x - x0).toDouble }
          val common = Map(
            "erddap.load_ms" -> spanMs("erddap.load"),
            "erddap.requests" -> ep(0) / n,
            "erddap.conns" -> ep(1) / n,
            "erddap.partitions" -> probe.scanTasks / n,
            "erddap.rows_read" -> ep(2) / n,
            "griddap.cells_read" -> ep(3) / n,
            "erddap.scan_task_ms" -> probe.scanTaskMs / n,
            "erddap_server.busy_ms" -> ep(4) / 1e6 / n,
            "spark.jobs" -> probe.jobs / n,
            "spark.tasks" -> probe.tasks / n,
            "spark.plan_ms" -> probe.planMs / n,
            "spark.gc_ms" -> gcSpent / n)
          val layer = perLayer.map { case (name, unit) =>
            (name, common.getOrElse(name, own.get(name).map(_._2).getOrElse(0.0)), unit)
          }
          val extra = Seq(
            ("spark.task_ms", probe.taskMs / n, "ms"),
            ("portal.write_task_ms", probe.writeTaskMs / n, "ms"),
            ("portal.commit_ms", probe.commitMs / n, "ms"),
            ("erddap_server.reencoded", ep(5), "count")) ++
            own.values.filterNot(x => perLayer.exists(_._1 == x._1))
          println("  per unit (traced):")
          (layer ++ extra).foreach { case (k, v, u) => println(f"    $k%-24s = $v%.4f $u") }
          println("  span totals and self time, per unit:")
          byName.toSeq.sortBy(-_._2._3).foreach { case (k, (c, tot, self)) =>
            println(f"    $k%-24s spans=$c%-6d total=${tot / 1e6 / n}%.3f ms self=${self / 1e6 / n}%.3f ms")
          }
          Files.writeString(a.traceOut, Trace.json(spans))
          println(s"  spans written to ${a.traceOut}")
          layer
        }

      val ok = failed == 0 && metrics.forall(x => !x._2.isNaN)
      val body = metrics.map { case (n, v, u) =>
        val num = if (v.isNaN || v.isInfinite) "null" else v.toString
        s""""$n":{"value":$num,"unit":"$u"}"""
      }.mkString(",")
      println(s"""{"correct":$ok,"attempted":${math.max(attempted, 1)},"failed":$failed,"metrics":{$body}}""")
      if (ok) 0 else 1
    } finally {
      try w.close() catch { case e: Exception => e.printStackTrace() }
      if (spark != null) spark.stop()
    }
  }
}
