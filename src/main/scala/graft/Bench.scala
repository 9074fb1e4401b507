package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints JSON lines — a compact
  * `{"metric":"summary",...}` line FIRST (truncation-proof), the
  * per-query detail maps (decode split, stream split, medians,
  * spreads), and the contract
  * `{"metric":"total","value":...,"queries":{...},...}` line as the
  * literal LAST line (per-query BEST-of-iterations — the controlled
  * signal).
  *
  * A warmup pass (table scans + one representative agg/join/window) runs
  * first so JIT/codegen/classloading cost isn't attributed to whichever
  * query happens to run first; queries then run in name order.
  */
object Bench {
  /** FROZEN round-over-round comparability subset — the full-set total
    * and throughput shift every round as the gate mix grows (r9 2.03 →
    * r10 1.45 q/s was mix shift, not drift), so regressions are
    * invisible in them. This 50-gate list was frozen at round 11 and
    * MUST NOT be edited: comparability across rounds is its whole
    * point. Names missing at runtime are skipped loudly rather than
    * silently shrinking the denominator. Feeds both the
    * `throughput_frozen` metric and the summary's `total_frozen`. */
  val frozenGates: Seq[String] = Seq(
    "a1_time_extent", "anchor_texts", "ann_ivf_topk", "ann_pq_topk",
    "attribution_last_click", "bm25_topk", "bpe_token_ids",
    "chunk_documents", "corpus_report", "decontam_fuzzy",
    "dedup_embedding_clusters", "dedup_keep_best",
    "dedup_minhash_oracle", "dedup_spans", "domain_cap",
    "e3_union_chunks", "f10_numeric_prefix", "f14_json_flatten",
    "f1_decode_datetime", "f2_epoch_clamp", "f6_extraction",
    "f8_truncate_pad", "funnel_users", "heavy_hitters",
    "j10_bloom_semi", "j4_semi_join", "j9_range_join", "kmv_distinct",
    "labelprop_stable", "mix_temperature", "mm_audio_g711",
    "mm_decode_image", "mm_image_dhash", "mm_image_resize",
    "mm_mjpeg_sample", "mm_png_palette", "mm_router", "mm_video_stats",
    "o4_latest", "p8_null_prune", "pack_windows", "pca_covariance",
    "q1_agg", "reciprocity_links", "robots_sitemaps", "s2_catalog_scan",
    "s8_griddap_scan_int16", "sample_token_budget", "session_paths",
    "span_corrupt")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // comma-separated gate filter for controlled single-query re-runs
    // (investigations + BENCH_REF backfills) — full set when unset.
    // Parsed up-front so the fixture warmups below can be skipped when
    // the filter excludes every gate they back.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    def anySelected(gates: String*): Boolean =
      only.forall(s => gates.exists(s.contains))

    // Warmup: touch every table and exercise the main physical operator
    // families once (scan, hash agg, broadcast + shuffle join, window).
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    val li = Tables.load(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag")).count().count()
    val o = Tables.load(spark, sfDir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey")).count()
    import org.apache.spark.sql.expressions.Window
    Tables.load(spark, sfDir, "events")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts")))).count()
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

    // Median of 5 iterations per query: co-tenant noise spikes on up to
    // two iterations cannot flip the acceptance signal. Spread (max-min)
    // is emitted per query, and a query whose spread EXCEEDS its median
    // is flagged "noisy" — its median is environment-dominated and
    // should be read against a controlled re-run, not taken at face
    // value (round-4 verdict: driver medians ran up to 20× a controlled
    // re-run with spread > median as the tell).
    val iterations = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    def timeIters(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        n: Int): Seq[Double] = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      val failed =
        try { fn(spark, sfDir).count(); false }
        catch { case _: Throwable => true }
      val dt = (System.nanoTime() - t0) / 1e9
      // OUTSIDE the timed window: drop the pins this run abandoned, so
      // iteration k of gate n isn't measured under k×n queries' worth
      // of accumulated snapshot blocks (heap-dependent drift). BLOCKING
      // so asynchronous block removal cannot bleed into the next
      // iteration's timed region — and the STORAGE-HYGIENE INVARIANT:
      // an undocumented residual pin fails the run loudly (the
      // round-10/12 unpersist-no-op bug class). A gate that FAILED
      // mid-execution is exempt: an interrupted operator is expected
      // to strand its pins, so sweep + log instead of aborting the
      // whole board on the hygiene assert.
      if (failed) {
        val swept = graft.operators.Snapshots.sweep(spark, blocking = true)
        if (swept > 0) System.err.println(
          s"[bench] $name failed mid-run; swept $swept stranded pin(s)")
      } else graft.operators.Snapshots.assertDrained(spark, name,
        SparkEntry.lazyPinGates, "bench")
      dt
    }
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val times = timeIters(name, fn, iterations).sorted
        (name, fn, times)
      }
    def r4(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    // Two independent noise tells, OR'd:
    //  (a) spread > median — an iteration SPIKED (transient co-tenant);
    //  (b) even the MIN iteration runs ≫ the committed reference time
    //      (BENCH_REF.json, a controlled same-harness run) — a
    //      CONSISTENTLY slowed environment, which (a) is blind to
    //      (round-5 verdict: sample_balanced sat at 4× reference on
    //      every iteration and was never flagged).
    val ref: Map[String, Double] = {
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
    def isNoisy(times: Seq[Double], name: String): Boolean = {
      val median = times(times.length / 2)
      val spread = times.last - times.head
      spread > median ||
        ref.get(name).exists(r => times.head > 3 * r && times.head > r + 0.5)
    }
    // AUTO-RETRY: a gate flagged noisy on the first pass gets one more
    // burst of iterations AT THE END of the run (the transient that
    // spiked it has usually passed by then); the RETRY BURST's min is
    // the recorded headline (see the bias note below — the merged
    // sample only feeds median/spread/noisy). This is how a committed
    // BENCH_rN stops
    // carrying phantom 6× regressions that a controlled re-run
    // contradicts (round-9: warc_records 0.758 s driver vs 0.150 s
    // controlled). The noisy flag is recomputed over the merged sample
    // — a genuinely unstable gate stays flagged; only its min calms.
    val retryIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY", "3").toInt
    val retriedSet = firstPass.collect {
      case (name, _, times) if retryIters > 0 && isNoisy(times, name) => name
    }.toSet
    // A retried gate's HEADLINE min comes from the retry burst ALONE —
    // a clean re-measurement after the transient passed — not from the
    // merged sample: min over iterations+retryIters samples would be
    // systematically lower than the min-of-`iterations` every stable
    // gate gets, quietly favoring exactly the gates that were retried
    // (and feeding that bias into BENCH_REF's running minimum). Median/
    // spread/noisy-flag still use the merged sample, which has the most
    // information about instability.
    val merged = firstPass.map { case (name, fn, times) =>
      if (retriedSet(name)) {
        val burst = timeIters(name, fn, retryIters).sorted
        (name, (times ++ burst).sorted, Some(burst))
      } else (name, times, None)
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
    val noisy = results.collect { case (k, _, _, _) if noisySet(k) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._4).sum else 0.0
    val totalMedian = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Optional THROUGHPUT experiment (`SPARK_GRAFT_THROUGHPUT=<rounds>`):
    // the whole query set issued back-to-back for N rounds in this one
    // long-lived session — amortized planning/codegen, the sustained-
    // load story against the reference's serial per-dataset loop. Its
    // line prints BEFORE the total line (driver contract: medians last).
    sys.env.get("SPARK_GRAFT_THROUGHPUT").map(_.toInt).filter(_ > 0).foreach { rounds =>
      // harness_version history for the frozen series (round-12 advisor:
      // record behavior changes next to the metric so a step change is
      // never misread as drift): v1 = pre-r12, NO sweep between queries
      // (later rounds ran under accumulated pins); v2 = r12, sweep
      // inside the wall clock, untimed; v3 = r13, sweep still inside
      // the wall clock (a long-lived service drops abandoned pins as it
      // goes) but its cost is measured and emitted as sweep_sec, so
      // gate-work vs hygiene-overhead attribution is in the artifact.
      val harnessVersion = 3
      def runSet(names: Seq[(String, (SparkSession, String) =>
          org.apache.spark.sql.DataFrame)], metric: String): Unit = {
        val t0 = System.nanoTime()
        var n = 0
        var sweepNs = 0L
        val failed = collection.mutable.Map.empty[String, Int]
        val perGateNs = collection.mutable.Map.empty[String, Long]
        (1 to rounds).foreach { _ =>
          names.foreach { case (name, fn) =>
            // NonFatal only — an OOM/fatal error must abort the run, not
            // silently depress the metric; per-query failures are counted
            // into the artifact so a degraded number explains itself
            val g0 = System.nanoTime()
            try { fn(spark, sfDir).count(); n += 1 }
            catch { case scala.util.control.NonFatal(_) =>
              failed(name) = failed.getOrElse(name, 0) + 1 }
            perGateNs(name) = perGateNs.getOrElse(name, 0L) +
              (System.nanoTime() - g0)
            // inside the wall clock deliberately: a well-behaved
            // long-lived service drops abandoned pins as it goes (~ms);
            // without it the later rounds run under GBs of dead blocks.
            // Timed separately so the artifact attributes hygiene
            // overhead vs gate work.
            val s0 = System.nanoTime()
            graft.operators.Snapshots.sweep(spark)
            sweepNs += System.nanoTime() - s0
          }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val failedJson = failed.toSeq.sortBy(_._1)
          .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
        // per-gate CUMULATIVE seconds across rounds — the attribution
        // artifact: a throughput drop explains itself by diffing this
        // map round-over-round instead of guessing at the aggregate
        val gatesJson = perGateNs.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"\"" + k + "\":" + r4(v / 1e9) }
          .mkString("{", ",", "}")
        println(s"""{"metric":"$metric","value":${r4(n / wall)},"unit":"queries/sec","queries_run":$n,"failed":$failedJson,"rounds":$rounds,"wall_sec":${r4(wall)},"sweep_sec":${r4(sweepNs / 1e9)},"harness_version":$harnessVersion,"gate_sec":$gatesJson,"sf":"$sfDir"}""")
      }
      val all = SparkEntry.queries.toSeq.sortBy(_._1)
      runSet(all, "throughput")
      // FROZEN round-over-round comparability subset — the full-set
      // number shifts every round as the gate mix grows (r9 2.03 →
      // r10 1.45 q/s was mix shift, not drift), so regressions are
      // invisible in it. This 50-gate list was frozen at round 11 and
      // MUST NOT be edited: comparability across rounds is its whole
      // point. Names missing at runtime are skipped loudly (counted in
      // "missing") rather than silently shrinking the denominator.
      val frozenPresent = all.filter { case (nm, _) => frozenGates.contains(nm) }
      val missing = frozenGates.filterNot(frozenPresent.map(_._1).toSet)
      if (missing.nonEmpty)
        println(s"""{"metric":"throughput_frozen_missing","missing":${
          missing.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
      runSet(frozenPresent, "throughput_frozen")
    }
    // Pure-projection gates are under-measured by `.count()`: Catalyst
    // prunes columns the aggregate never reads, so a decode expression
    // costs ~nothing in the headline numbers (kept as-is for
    // round-over-round comparability). This SECOND pass times the mm_*
    // decode gates via queryExecution.toRdd.count(), which materializes
    // every output column — the cost a writer or downstream consumer
    // actually pays for the codec work.
    val forced = SparkEntry.queries.toSeq
      .filter(_._1.startsWith("mm_"))
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1).map { case (name, fn) =>
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).queryExecution.toRdd.count() }
          catch { case scala.util.control.NonFatal(_) => }
          val dt = (System.nanoTime() - t0) / 1e9
          graft.operators.Snapshots.sweep(spark, blocking = true)
          dt
        }.sorted
        (name, times(1))
      }
    val forcedJson = forced.map { case (k, v) => "\"" + k + "\":" + r4(v) }
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
    //      additionally live in the BENCH_DETAIL file below,
    //      independent of any stdout capture.
    // total_frozen: the same headline min summed over ONLY the frozen
    // 50-gate list — the round-comparable total (the full-set total
    // moves whenever gates are added, exactly like throughput).
    val frozenResults = results.filter(r => frozenGates.contains(r._1))
    val totalFrozen = frozenResults.map(_._4).sum
    val summaryLine = s"""{"metric":"summary","total":${r4(total)},"total_median":${r4(totalMedian)},"total_frozen":${r4(totalFrozen)},"frozen_n":${frozenResults.length},"stat":"min","n":${results.length},"noisy_n":${noisySet.size},"unit":"sec","sf":"$sfDir"}"""
    println(summaryLine)
    println(s"""{"metric":"decode_forced","queries":$forcedJson,"total":${r4(forced.map(_._2).sum)},"iters":3,"sf":"$sfDir"}""")
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
    println(s"""{"metric":"stream_split","queries":$split,"unit":"sec"}""")
    println(s"""{"metric":"median","total":${r4(totalMedian)},"queries":$medians,"iters":$iterations}""")
    val retriedJson = retriedSet.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    println(s"""{"metric":"spread","spread":$spreads,"noisy":$noisy,"retried":$retriedJson,"retry_iters":$retryIters,"iters":$iterations}""")
    // SPARK_GRAFT_BENCH_DETAIL=<path>: also write the per-query detail
    // (min/median/spread/noisy/retried) as ONE well-formed JSON file —
    // the committed round artifact (BENCH_DETAIL_rN.json) that does not
    // depend on any stdout capture surviving.
    sys.env.get("SPARK_GRAFT_BENCH_DETAIL").foreach { path =>
      val detail = s"""{"summary":$summaryLine,"min":$qs,"median":$medians,"spread":$spreads,"noisy":$noisy,"retried":$retriedJson,"decode_forced":$forcedJson,"stream_split":$split,"iters":$iterations,"retry_iters":$retryIters,"cpus":"$cpus","sf":"$sfDir"}"""
      val out = java.nio.file.Paths.get(path).toAbsolutePath
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, detail)
    }
    println(s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$qs,"noisy":$noisy,"iters":$iterations,"sf":"$sfDir","stat":"min"}""")
    spark.stop()
  }
}
