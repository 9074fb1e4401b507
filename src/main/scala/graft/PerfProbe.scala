package graft

/** Round-15 optimization measurement harness (guide §1: measure first).
  *
  * Modes (first arg):
  *   explain <label> <gate>[,<gate>...] [exec] — write
  *       `.explain("formatted")` of each gate to
  *       plans/r16/<gate>_<label>.txt (the judge-facing plan artifacts)
  *       and print Exchange/Join/Sort counts. With `exec`, the gate runs
  *       first so the dump is the EXECUTED adaptive plan.
  *   time <iters> <gate>[,<gate>...]     — per-gate min/median over
  *       `iters` timed `.count()` runs (Bench methodology, one line per
  *       gate) after the standard Bench warmup.
  *   jobs <gate>[,<gate>...]             — driver job count and wall
  *       time of one run per gate.
  *   stream <tag>                        — run the t<tag> streaming gate
  *       once and print EVERY micro-batch progress JSON (durationMs
  *       breakdown: addBatch / getBatch / queryPlanning / walCommit /
  *       stateStore commit), so streaming wall time is attributable.
  *
  * The session is [[Harness.session]] at Bench's core count, so numbers
  * are comparable with the driver's harness. */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.envCores)

    // true median: average of the two middle elements for even n (the
    // upper-middle index alone biased even-iteration medians high)
    def median(sorted: Seq[Double]): Double =
      if (sorted.length % 2 == 1) sorted(sorted.length / 2)
      else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2

    args.headOption.getOrElse("") match {
      case "explain" =>
        val label = args(1)
        val gates = args(2).split(",").toSeq
        val executed = args.lift(3).contains("exec")
        new java.io.File("plans/r16").mkdirs()
        gates.foreach { g =>
          val df = SparkEntry.queries(g)(spark, sfDir)
          // EXECUTED adaptive plan (isFinalPlan=true): run the gate's own
          // physical plan via toRdd.count() (count()/collect() would wrap
          // it in a new agg plan) — ReusedExchange and AQE join rewrites
          // only appear after execution, not in the initial plan.
          if (executed) df.queryExecution.toRdd.count()
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Path.of(s"plans/r16/${g}_$label.txt"), txt)
          def c(p: String) = p.r.findAllIn(txt).size
          println(s"$g: Exchange=${c("Exchange")} Reused=${c("ReusedExchange")} " +
            s"SMJ=${c("SortMergeJoin")} BHJ=${c("BroadcastHashJoin")} " +
            s"Sort=${c("\\bSort\\b")} HashAgg=${c("HashAggregate")} " +
            s"SortAgg=${c("SortAggregate")} -> plans/r16/${g}_$label.txt")
          graft.operators.Snapshots.sweep(spark)
        }
      case "time" =>
        val iters = args(1).toInt
        val gates = args(2).split(",").toSeq
        Harness.warmup(spark, sfDir)
        gates.foreach { g =>
          val fn = SparkEntry.queries(g)
          val runs = (1 to iters).map(_ =>
            Harness.runGate(spark, g, "probe")(fn(spark, sfDir).count()))
          if (runs.contains(None)) println(f"$g%-32s FAILED")
          else {
            val times = runs.flatten.sorted
            println(f"$g%-32s min=${times.head}%.4f med=${median(times)}%.4f max=${times.last}%.4f iters=$iters")
          }
        }
      case "jobs" =>
        // per-gate DRIVER JOB COUNT (dispatch floor attribution): run
        // the gate once under a job group and count the jobs the group
        // accumulated — the direct evidence for checkpoint-cadence /
        // job-overlap changes whose final-frame plan looks identical.
        val gates = args(1).split(",").toSeq
        Harness.warmup(spark, sfDir)
        gates.foreach { g =>
          val grp = s"probe_jobs_$g"
          spark.sparkContext.setJobGroup(grp, g)
          val wall = Harness.runGate(spark, g, "probe")(
            SparkEntry.queries(g)(spark, sfDir).count())
          spark.sparkContext.clearJobGroup()
          val n = spark.sparkContext.statusTracker.getJobIdsForGroup(grp).length
          println(wall.fold(s"$g FAILED after $n jobs")(
            dt => f"$g%-32s jobs=$n%-4d wall=$dt%.4f"))
        }
      case "stream" =>
        val tag = args(1)
        Harness.warmup(spark, sfDir)
        // re-run the gate through SparkEntry (identical plan), then dump
        // the LAST query's progress via the session's active listener
        val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit =
            println("PROGRESS " + e.progress.json)
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        }
        spark.streams.addListener(listener)
        val gate = SparkEntry.queries.keys.find(_.startsWith(s"t${tag}_"))
          .getOrElse(sys.error(s"no streaming gate t$tag"))
        val t0 = System.nanoTime()
        SparkEntry.queries(gate)(spark, sfDir).count()
        println(f"WALL ${(System.nanoTime() - t0) / 1e9}%.3f s ($gate)")
        spark.streams.removeListener(listener)
      case other => sys.error(s"unknown mode '$other'")
    }
    spark.stop()
  }
}
