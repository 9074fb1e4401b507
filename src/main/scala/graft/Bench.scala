package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints JSON lines — a compact
  * `{"metric":"summary",...}` line FIRST (truncation-proof), the
  * per-query detail maps (decode split, stream split, medians,
  * spreads), and the contract
  * `{"metric":"total","value":...,"queries":{...},...}` line as the
  * literal LAST line (per-query BEST-of-iterations — the controlled
  * signal).
  *
  * [[Harness.warmup]] runs first so JIT/codegen/classloading cost isn't
  * attributed to whichever query happens to run first; queries then
  * run in name order. A gate that throws on any iteration is not timed:
  * it is left out of `queries`, listed in `"failed"` on the summary and
  * contract lines, and the process exits 1 after printing them.
  */
object Bench {
  /** FROZEN round-over-round comparability subset — the full-set total
    * and throughput shift every round as the gate mix grows (r9 2.03 →
    * r10 1.45 q/s was mix shift, not drift), so regressions are
    * invisible in them. This 50-gate set (the `frozen` gates of
    * [[SparkEntry.gates]]) was frozen at round 11 and MUST NOT be
    * edited: comparability across rounds is its whole point. Feeds the
    * summary's `total_frozen`; `frozen_n` counts the names that ran, so
    * a missing or failed one shows instead of silently shrinking the
    * denominator. */
  lazy val frozenGates: Seq[String] =
    SparkEntry.gates.collect { case (n, g) if g.frozen => n }.toSeq.sorted

  type Gate = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.envCores
    val spark = Harness.session(cpus)

    // comma-separated gate filter for controlled single-query re-runs
    // (investigations + BENCH_REF backfills) — full set when unset.
    // Parsed up-front so the fixture warmups below can be skipped when
    // the filter excludes every gate they back.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    def anySelected(gates: String*): Boolean =
      only.forall(s => gates.exists(s.contains))

    Harness.warmup(spark, sfDir)
    // Fixture-backed gates write their (idempotent) fixtures on first
    // touch — do that here so gate iteration 1 times the OPERATOR, not
    // a one-off tmpdir write the min-stat then has to out-vote. Each
    // warmup runs only when the `only` filter admits a gate it backs —
    // a controlled single-gate re-run must not pay unrelated setup.
    if (anySelected("pipeline_nrt", "s6_size_probe"))
      graft.streaming.NrtPipeline.ensureFixture(spark, sfDir)
    // one untimed lifecycle run each: the first ERDDAP read and REST
    // round trips otherwise land in iteration 1 and flag the gate noisy
    Seq("pipeline_nrt", "pipeline_nrt_rest").filter(anySelected(_))
      .foreach(g => SparkEntry.queries(g)(spark, sfDir).count())
    if (anySelected("s10_rss_scan"))
      graft.sources.Rss.rssGate(spark, sfDir).count()
    if (anySelected("f22_publication_gate"))
      graft.sources.FeatureCollection.publicationGate(spark, sfDir).count()
    if (anySelected("semdedup_incremental", "t12_streaming_semdedup"))
      SparkEntry.queries("semdedup_incremental")(spark, sfDir).count()
    // warmups abandoned their pins too — start the timed runs clean
    graft.operators.Snapshots.sweep(spark)

    val gates = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val out = report(spark, sfDir, gates,
      iterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt,
      retryIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY", "3").toInt,
      ref = loadRef(sfDir), cpus = cpus)
    try {
      out.lines.foreach(println)
      // SPARK_GRAFT_BENCH_DETAIL=<path>: also write the per-query detail
      // (min/median/spread/noisy/retried) as ONE well-formed JSON file —
      // the committed round artifact (BENCH_DETAIL_rN.json) that does not
      // depend on any stdout capture surviving.
      sys.env.get("SPARK_GRAFT_BENCH_DETAIL").foreach { path =>
        val file = java.nio.file.Paths.get(path).toAbsolutePath
        java.nio.file.Files.createDirectories(file.getParent)
        java.nio.file.Files.writeString(file, out.detail)
      }
    } finally spark.stop()
    if (out.failed.nonEmpty) sys.exit(1)
  }

  /** A finished run: the stdout JSON lines (contract line last), the
    * `SPARK_GRAFT_BENCH_DETAIL` file body, and the gates that threw. */
  case class Report(lines: Seq[String], detail: String, failed: Seq[String])

  /** Times each gate `iters` times through [[Harness.runGate]], `drain`ing
    * its frame, and stops a gate at its first failure. Returns the gates
    * that ran clean on every iteration with their sorted times, and the
    * names of the rest. */
  private def timeGates(spark: SparkSession, sfDir: String, gates: Seq[(String, Gate)],
      iters: Int, drain: DataFrame => Unit = _.count()
  ): (Seq[(String, Gate, Seq[Double])], Seq[String]) = {
    val runs = gates.map { case (name, fn) =>
      val times = Iterator.fill(iters)(
        Harness.runGate(spark, name, "bench")(drain(fn(spark, sfDir))))
        .takeWhile(_.isDefined).flatten.toSeq.sorted
      (name, fn, times)
    }
    val (clean, broken) = runs.partition(_._3.length == iters)
    (clean, broken.map(_._1))
  }

  /** The committed reference times (BENCH_REF.json, a controlled
    * same-harness run), or none when the file is missing or was
    * recorded at another scale factor. */
  private def loadRef(sfDir: String): Map[String, Double] = {
    val p = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_REF.json")
    val f = new java.io.File(p)
    if (!f.isFile) Map.empty
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // the reference only means anything at ITS scale factor: a 10×
      // run legitimately exceeds 3× the sf0.1 times, so a recorded
      // `"sf"` that differs from this run's disables the heuristic
      val refSf = """"sf"\s*:\s*"([^"]+)"""".r
        .findFirstMatchIn(txt).map(_.group(1))
      if (refSf.exists(_ != sfDir)) Map.empty
      else {
        val inner = """"queries"\s*:\s*\{([^}]*)\}""".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(inner)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
  }

  /** Time `gates` and format the run: first pass, retry burst for noisy
    * gates, forced-materialization pass over the `mm_*` gates. */
  def report(spark: SparkSession, sfDir: String, gates: Seq[(String, Gate)],
      iterations: Int, retryIters: Int, ref: Map[String, Double],
      cpus: Int): Report = {
    // Median of 5 iterations per query: co-tenant noise spikes on up to
    // two iterations cannot flip the acceptance signal. Spread (max-min)
    // is emitted per query, and a query whose spread EXCEEDS its median
    // is flagged "noisy" — its median is environment-dominated and
    // should be read against a controlled re-run, not taken at face
    // value (round-4 verdict: driver medians ran up to 20× a controlled
    // re-run with spread > median as the tell).
    val (firstPass, failedFirst) = timeGates(spark, sfDir, gates, iterations)
    def r4(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    // Two independent noise tells, OR'd:
    //  (a) spread > median — an iteration SPIKED (transient co-tenant);
    //  (b) even the MIN iteration runs ≫ the committed reference time
    //      — a CONSISTENTLY slowed environment, which (a) is blind to
    //      (round-5 verdict: sample_balanced sat at 4× reference on
    //      every iteration and was never flagged).
    def isNoisy(times: Seq[Double], name: String): Boolean = {
      val median = times(times.length / 2)
      val spread = times.last - times.head
      spread > median ||
        ref.get(name).exists(r => times.head > 3 * r && times.head > r + 0.5)
    }
    // AUTO-RETRY: a gate flagged noisy on the first pass gets one more
    // burst of iterations AT THE END of the run (the transient that
    // spiked it has usually passed by then); the RETRY BURST's min is
    // the recorded headline. This is how a committed BENCH_rN stops
    // carrying phantom 6× regressions that a controlled re-run
    // contradicts (round-9: warc_records 0.758 s driver vs 0.150 s
    // controlled). The noisy flag is recomputed over the merged sample
    // — a genuinely unstable gate stays flagged; only its min calms.
    val retriedSet = firstPass.collect {
      case (name, _, times) if retryIters > 0 && isNoisy(times, name) => name
    }.toSet
    val (bursts, failedRetry) = timeGates(spark, sfDir,
      firstPass.collect { case (name, fn, _) if retriedSet(name) => (name, fn) },
      retryIters)
    val burstOf = bursts.map { case (name, _, times) => name -> times }.toMap
    // Pure-projection gates are under-measured by `.count()`: Catalyst
    // prunes columns the aggregate never reads, so a decode expression
    // costs ~nothing in the headline numbers (kept as-is for
    // round-over-round comparability). This SECOND pass times the mm_*
    // decode gates via queryExecution.toRdd.count(), which materializes
    // every output column — the cost a writer or downstream consumer
    // actually pays for the codec work.
    val (forced, failedForced) = timeGates(spark, sfDir,
      firstPass.collect {
        case (name, fn, _) if name.startsWith("mm_") && !failedRetry.contains(name) =>
          (name, fn)
      }, 3, _.queryExecution.toRdd.count())
    val failed = (failedFirst ++ failedRetry ++ failedForced).sorted
    // A retried gate's HEADLINE min comes from the retry burst ALONE —
    // a clean re-measurement after the transient passed — not from the
    // merged sample: min over iterations+retryIters samples would be
    // systematically lower than the min-of-`iterations` every stable
    // gate gets, quietly favoring exactly the gates that were retried
    // (and feeding that bias into BENCH_REF's running minimum). Median/
    // spread/noisy-flag still use the merged sample, which has the most
    // information about instability.
    val merged = firstPass.collect {
      case (name, _, times) if !failed.contains(name) =>
        val burst = burstOf.get(name)
        (name, burst.fold(times)(b => (times ++ b).sorted), burst)
    }
    val results = merged.map { case (name, times, burst) =>
      (name, times(times.length / 2), times.last - times.head,
        burst.map(_.head).getOrElse(times.head))
    }
    // Headline acceptance numbers are BEST-of-iterations: the median is
    // environment-dominated on a co-tenant machine (round-8 verdict:
    // driver medians ran 3-7× a controlled re-run; the min matched it),
    // while the min of 5 still rejects genuine regressions — a real
    // slowdown slows every iteration. Medians are still emitted for
    // spread analysis on their own line.
    val qs = results.map { case (k, _, _, mn) => s"\"" + k + "\":" + r4(mn) }
      .mkString("{", ",", "}")
    val medians = results.map { case (k, v, _, _) => s"\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, _, s, _) => s"\"" + k + "\":" + r4(s) }
      .mkString("{", ",", "}")
    val noisySet: Set[String] = merged.collect {
      case (name, times, _) if isNoisy(times, name) => name
    }.toSet
    def jsonList(names: Seq[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noisy = jsonList(results.collect { case (k, _, _, _) if noisySet(k) => k })
    val failedJson = jsonList(failed)
    val total = results.map(_._4).sum
    val totalMedian = results.map(_._2).sum
    val forcedTimes = forced.map { case (name, _, times) => (name, times(1)) }
    val forcedJson = forcedTimes.map { case (k, v) => "\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    // Output ordering (the driver parses this stream as one-line JSON;
    // build.sbt routes forked stdout through unprefixed and suppresses
    // sbt's "[success]" banner so these lines survive the wrapper):
    //   1. a COMPACT summary line (~200 bytes, parses standalone) FIRST
    //      — truncation-proof: even a head-bounded capture has the
    //      headline totals;
    //   2. the big per-query detail maps (decode_forced, stream_split,
    //      median, spread);
    //   3. the full contract line {"metric":"total","value":...,
    //      "unit":"sec","queries":{...},"sf":...} as the LITERAL LAST
    //      line — consumers parse the last line; the per-query maps
    //      additionally live in the BENCH_DETAIL file,
    //      independent of any stdout capture.
    // total_frozen: the same headline min summed over ONLY the frozen
    // 50-gate list — the round-comparable total (the full-set total
    // moves whenever gates are added).
    val frozenResults = results.filter(r => frozenGates.contains(r._1))
    val totalFrozen = frozenResults.map(_._4).sum
    val summaryLine = s"""{"metric":"summary","total":${r4(total)},"total_median":${r4(totalMedian)},"total_frozen":${r4(totalFrozen)},"frozen_n":${frozenResults.length},"stat":"min","n":${results.length},"noisy_n":${noisySet.size},"failed":$failedJson,"unit":"sec","sf":"$sfDir"}"""
    // Streaming gates: how much of each wall time was fixed micro-batch
    // choreography (setup) vs data work (sum of triggerExecution) —
    // captured from the LAST run of each t* gate this process.
    val split = {
      import scala.jdk.CollectionConverters._
      SparkEntry.streamGateTimings.asScala.toSeq.sortBy(_._1).map {
        case (tag, (setup, work)) =>
          s"\"" + tag + "\":{\"setup\":" + r4(setup) + ",\"work\":" + r4(work) + "}"
      }.mkString("{", ",", "}")
    }
    val retriedJson = jsonList(retriedSet.toSeq.sorted)
    val lines = Seq(
      summaryLine,
      s"""{"metric":"decode_forced","queries":$forcedJson,"total":${r4(forcedTimes.map(_._2).sum)},"iters":3,"sf":"$sfDir"}""",
      s"""{"metric":"stream_split","queries":$split,"unit":"sec"}""",
      s"""{"metric":"median","total":${r4(totalMedian)},"queries":$medians,"iters":$iterations}""",
      s"""{"metric":"spread","spread":$spreads,"noisy":$noisy,"retried":$retriedJson,"retry_iters":$retryIters,"iters":$iterations}""",
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$qs,"noisy":$noisy,"failed":$failedJson,"iters":$iterations,"sf":"$sfDir","stat":"min"}""")
    val detail = s"""{"summary":$summaryLine,"min":$qs,"median":$medians,"spread":$spreads,"noisy":$noisy,"retried":$retriedJson,"decode_forced":$forcedJson,"stream_split":$split,"iters":$iterations,"retry_iters":$retryIters,"cpus":"$cpus","sf":"$sfDir"}"""
    Report(lines, detail, failed)
  }
}
