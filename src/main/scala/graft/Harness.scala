package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Snapshots

/** The one harness every gate main runs on (Bench, Verify, PerfProbe,
  * ExplainCheck, ScaleProbe, ErddapPlanDemo, AmplifyTestdata): one
  * session shape, one warm-up, one gate runner. */
object Harness {
  /** Cores for the gate-timing and correctness mains: `$SPARK_GRAFT_CPUS`,
    * default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cores]` with as many shuffle partitions, UI off, and the
    * session configs the synthetic tables need. */
  def session(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Touch every table and exercise the main physical operator families
    * once (scan, hash agg, broadcast + shuffle join, window), so
    * JIT/codegen/classloading cost isn't attributed to whichever gate
    * happens to run first; then drop whatever the warm-up pinned. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    val li = Tables.load(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag")).count().count()
    val o = Tables.load(spark, sfDir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey")).count()
    Tables.load(spark, sfDir, "events")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts")))).count()
    Snapshots.sweep(spark)
  }

  /** Run one gate's `action` and return its wall seconds, or None when it
    * threw (the error is logged as `[<harness>] <gate> failed: …`).
    *
    * Outside the timed window the session is drained BLOCKING, so
    * asynchronous block removal cannot bleed into the next timed run,
    * and the STORAGE-HYGIENE INVARIANT holds: a gate outside
    * [[SparkEntry.lazyPinGates]] that leaves pins behind fails the run
    * loudly (the round-10/12 unpersist-no-op bug class).
    * `SPARK_GRAFT_PIN_AUDIT=warn` is the allowlist-rediscovery mode
    * (print and continue). A gate that FAILED is exempt: an interrupted
    * operator is expected to strand its pins, so they are swept and
    * logged instead of aborting the remaining gates. */
  def runGate(spark: SparkSession, name: String, harness: String)(
      action: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    val ok =
      try { action; true }
      catch { case NonFatal(e) =>
        System.err.println(s"[$harness] $name failed: ${e.getMessage}")
        false
      }
    val dt = (System.nanoTime() - t0) / 1e9
    if (ok) {
      Snapshots.assertDrained(spark, name, SparkEntry.lazyPinGates, harness,
        warnOnly = sys.env.get("SPARK_GRAFT_PIN_AUDIT").contains("warn"))
      Some(dt)
    } else {
      val swept = Snapshots.sweep(spark, blocking = true)
      if (swept > 0) System.err.println(
        s"[$harness] $name failed mid-run; swept $swept stranded pin(s)")
      None
    }
  }
}
