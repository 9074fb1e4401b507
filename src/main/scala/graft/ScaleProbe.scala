package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical scaling AUDIT: runs the heavy operator families on 1× and
  * N× copies of the sf0.1 tables (ids remapped so the N× corpus is N×
  * distinct rows, not N× duplicates — and separately on an
  * all-duplicates corpus to exercise the skew caps) and FAILS (exit 1,
  * like ExplainCheck) when any family's time ratio exceeds the
  * N*(1+log2 N) budget. A healthy operator grows ≲ N*log N; anything
  * super-linear here is a 100-TB red flag long before a cluster run
  * surfaces it — a quadratic pattern at N=8 shows up as ~N² ≈ 64×,
  * far past the budget of ~32×.
  *
  * Run: `SPARK_GRAFT_SCALE=8 sbt "runMain graft.ScaleProbe"`.
  * `SPARK_GRAFT_SCALE_BUDGET` overrides the ratio budget (e.g. a tiny
  * value demonstrates the red path).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE", "8").toInt
    val budget = sys.env.get("SPARK_GRAFT_SCALE_BUDGET").map(_.toDouble)
      .getOrElse(n * (1 + math.log(n) / math.log(2)))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(32)

    // cap-drop accounting: the skew guards record drops as lazy
    // CollectMetrics observations (`<tag>_cap_<n>.dropped_members`);
    // surface every nonzero one so a superlinear-looking ratio can be
    // read against how much the caps actually sheared off
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.contains("_cap_")) {
              val d = row.getAs[Long]("dropped_members")
              if (d > 0) println(s"[probe]   cap-drop $name dropped_members=$d")
            }
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    def amplify(df: DataFrame, idCol: String, copies: Int): DataFrame = {
      val base = df
      val maxId = base.agg(max(col(idCol))).head().getLong(0) + 1
      (0 until copies).map { c =>
        base.withColumn(idCol, col(idCol) + lit(c * maxId))
          // perturb text so copies are DISTINCT documents, not dups
          .withColumn("text",
            when(lit(c) === 0, col("text"))
              .otherwise(concat(col("text"), lit(s" variant $c"))))
      }.reduce(_ unionByName _)
    }

    // Offsets are always DERIVED from the data — a hardcoded 1e6 would
    // silently collide copy ids at a larger SF and corrupt every
    // pair-count conclusion downstream.
    def maxIdOf(df: DataFrame, idCol: String): Long =
      df.agg(max(col(idCol))).head().getLong(0) + 1

    def amplifyEvents(df: DataFrame, copies: Int): DataFrame = {
      val maxId = maxIdOf(df, "event_id")
      val maxUid = maxIdOf(df, "user_id")
      (0 until copies).map { c =>
        df.withColumn("event_id", col("event_id") + lit(c * maxId))
          .withColumn("user_id", col("user_id") + lit(c * maxUid))
      }.reduce(_ unionByName _)
    }

    val docs1 = Tables.load(spark, sfDir, "documents").cache()
    docs1.count()
    val docsN = amplify(docs1, "doc_id", n).cache()
    docsN.count()
    val ev1 = Tables.load(spark, sfDir, "events").cache()
    ev1.count()
    val evN = amplifyEvents(ev1, n).cache()
    evN.count()

    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val failures = collection.mutable.ListBuffer.empty[String]
    // comma-separated family filter for single-family re-probes
    // (investigations after a fix) — full sweep when unset. Skipped
    // families return 0 so downstream ratio plumbing stays inert.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    def probe(name: String, one: => Long, many: => Long): Double = {
      if (!only.forall(_.contains(name))) return 0.0
      // r15: several operators now pin intermediate relations
      // (localCheckpoint) that their returned frame reads lazily —
      // release every pin THIS probe created once its runs are drained,
      // WITHOUT touching the cached amplified fixtures created above
      // (a blanket Snapshots.sweep would unpersist those too).
      val preExisting = spark.sparkContext.getPersistentRDDs.keySet
      // blocking: async removal would bleed into the NEXT timed window
      // (the Bench harness learned the same lesson in round 12)
      def dropNewPins(): Unit =
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!preExisting.contains(id)) rdd.unpersist(blocking = true) }
      one // warm
      dropNewPins()
      val t1 = time(one)
      dropNewPins()
      val tn = time(many)
      dropNewPins()
      // sub-300ms baselines are dominated by job-launch noise; the
      // ratio denominator is floored so a 0.05s → 0.4s jump (fixed
      // overhead, not data growth) cannot fail the audit
      val ratio = tn / math.max(t1, 0.3)
      val verdict = if (ratio <= budget) "ok" else "FAIL"
      println(f"[probe] $name%-28s 1x=${t1}%6.2fs  ${n}x=${tn}%7.2fs  ratio=${ratio}%5.1f (budget <= ${budget}%.0f) $verdict")
      if (ratio > budget)
        failures += f"$name: ratio $ratio%.1f exceeds N*(1+log2 N) budget $budget%.1f"
      t1
    }

    val tMinhash1 = probe("minhash_lsh_pairs",
      graft.operators.Dedup.minhashLshPairs(docs1, "text", "doc_id").count(),
      graft.operators.Dedup.minhashLshPairs(docsN, "text", "doc_id").count())
    val tPortable1 = probe("minhash_portable_pairs",
      graft.operators.Dedup.minhashLshPairsPortable(docs1, "text", "doc_id").count(),
      graft.operators.Dedup.minhashLshPairsPortable(docsN, "text", "doc_id").count())
    probe("simhash_pairs",
      graft.operators.Dedup.simhashPairs(docs1, "text", "doc_id").count(),
      graft.operators.Dedup.simhashPairs(docsN, "text", "doc_id").count())
    probe("exact_dedup",
      graft.operators.Dedup.exact(docs1, "text", "doc_id").count(),
      graft.operators.Dedup.exact(docsN, "text", "doc_id").count())
    probe("text_quality",
      graft.operators.TextAnalysis.qualitySignals(docs1, "text").count(),
      graft.operators.TextAnalysis.qualitySignals(docsN, "text").count())
    probe("dedup_spans",
      graft.operators.Dedup.dedupSpans(docs1, "text", "doc_id").count(),
      graft.operators.Dedup.dedupSpans(docsN, "text", "doc_id").count())
    probe("text_repetition",
      graft.operators.TextAnalysis.repetitionSignals(docs1, "text", "doc_id").count(),
      graft.operators.TextAnalysis.repetitionSignals(docsN, "text", "doc_id").count())
    // line dedup: boilerplate concentrates N× in the same lines — the
    // two-stage doc-frequency count must keep the hot keys combinable
    def withLines(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      concat_ws("\n", concat(lit("nav-"), (col("doc_id") % 7).cast("string")),
        col("text"), lit("shared footer line")))
    probe("dedup_lines",
      graft.operators.Dedup.dedupLines(withLines(docs1), "text", "doc_id").count(),
      graft.operators.Dedup.dedupLines(withLines(docsN), "text", "doc_id").count())
    // heavy hitters: summary-pass state is capacity-bounded regardless
    // of corpus size; the exact pass shuffles candidates only
    probe("heavy_hitters",
      graft.operators.TextAnalysis.heavyHitters(docs1, "text", 2000L).count(),
      graft.operators.TextAnalysis.heavyHitters(docsN, "text", 2000L).count())
    // inverted index: maxDf prunes the amplified stop-words BEFORE any
    // posting list aggregates — the duplicate-heavy N× corpus is the
    // adversarial case (every term's df inflates N×)
    probe("inverted_index",
      graft.operators.TextAnalysis.invertedIndex(docs1, "text", "doc_id",
        minDf = 3L, maxDf = 400L, maxPostings = 50).count(),
      graft.operators.TextAnalysis.invertedIndex(docsN, "text", "doc_id",
        minDf = 3L, maxDf = 400L, maxPostings = 50).count())
    probe("sessionize",
      graft.operators.Sessionize.assignSessions(ev1, "user_id", "ts", 1800L, Seq("event_id")).count(),
      graft.operators.Sessionize.assignSessions(evN, "user_id", "ts", 1800L, Seq("event_id")).count())
    probe("global_row_number",
      graft.operators.Relational.globalRowNumber(ev1,
        Seq(col("ts"), col("event_id"))).count(),
      graft.operators.Relational.globalRowNumber(evN,
        Seq(col("ts"), col("event_id"))).count())
    // decontamination: the eval slice grows with the corpus here, so
    // this also bounds the broadcast-build side as eval size scales
    probe("decontamination",
      graft.operators.Dedup.contaminationHits(docs1,
        docs1.filter(col("doc_id") % 97 === 0), "text", "doc_id").count(),
      graft.operators.Dedup.contaminationHits(docsN,
        docsN.filter(col("doc_id") % 97 === 0), "text", "doc_id").count())
    probe("pack_sequences",
      graft.operators.TextAnalysis.packSequences(docs1, "text", "doc_id").count(),
      graft.operators.TextAnalysis.packSequences(docsN, "text", "doc_id").count())
    // window packing: the bin explode is tokens/ctxLen + docs rows — must
    // track the corpus linearly, and no bin group may exceed ctxLen docs
    probe("pack_windows",
      graft.operators.TextAnalysis.packWindows(docs1, "text", "doc_id").count(),
      graft.operators.TextAnalysis.packWindows(docsN, "text", "doc_id").count())
    // stratified packing: the N× corpus concentrates N× rows into the
    // same strata — per-(stratum, partition) windows must stay parallel
    probe("pack_windows_by_source",
      graft.operators.TextAnalysis.packWindowsBySource(docs1, "text",
        "doc_id", "source").count(),
      graft.operators.TextAnalysis.packWindowsBySource(docsN, "text",
        "doc_id", "source").count())
    // keyed high-cardinality stratified packing: per-user-grade strata
    // through ONE keyed window — cost tracks the corpus, not the
    // stratum count (no totals table, no broadcast)
    probe("pack_windows_keyed",
      graft.operators.TextAnalysis.packWindowsBySource(
        docs1.withColumn("user_bucket", pmod(col("doc_id"), lit(97L))),
        "text", "doc_id", "user_bucket", ctxLen = 128,
        highCardinalityStrata = true).count(),
      graft.operators.TextAnalysis.packWindowsBySource(
        docsN.withColumn("user_bucket", pmod(col("doc_id"), lit(97L))),
        "text", "doc_id", "user_bucket", ctxLen = 128,
        highCardinalityStrata = true).count())
    probe("tfidf_topterms",
      graft.operators.TextAnalysis.tfidfTopTerms(docs1, "text", "doc_id").count(),
      graft.operators.TextAnalysis.tfidfTopTerms(docsN, "text", "doc_id").count())
    // BPE training: one corpus pass builds the word table, then the
    // merge rounds run on the VOCAB-sized state — cost must track the
    // corpus scan, not the merge loop
    probe("bpe_train",
      graft.operators.TextAnalysis.trainBpeMerges(docs1, "text",
        numMerges = 5, minPairCount = 1).count(),
      graft.operators.TextAnalysis.trainBpeMerges(docsN, "text",
        numMerges = 5, minPairCount = 1).count())
    // multimodal codecs: synth → full pixel/frame decode is a pure
    // narrow projection — time must track rows linearly (no shuffle,
    // no driver state, per-row cost independent of corpus size)
    def mmDecode(df: DataFrame) = df.select(
      graft.functions.ImageCodec.image_pixel_stats(
        graft.functions.ImageCodec.image_synth_jpeg420(
          col("doc_id"), col("text"))).as("j"),
      graft.functions.ImageCodec.image_pixel_stats(
        graft.functions.ImageCodec.image_synth_png(
          col("doc_id"), col("text"))).as("i"),
      graft.functions.AudioCodec.audio_pcm_stats(
        graft.functions.AudioCodec.audio_synth_wav(
          col("doc_id"), col("text"))).as("a"),
      graft.functions.VideoCodec.video_pixel_stats(
        graft.functions.VideoCodec.video_synth_avi(
          col("doc_id"), col("text"))).as("v"),
      graft.functions.ImageCodec.image_pixel_stats(
        graft.functions.GifCodec.gif_synth(
          col("doc_id"), col("text"))).as("g"),
      // perceptual hashes ride the same projection (decode + pool/DCT)
      graft.functions.ImageCodec.image_phash(
        graft.functions.ImageCodec.image_synth_png(
          col("doc_id"),
          org.apache.spark.sql.functions.expr(
            "repeat('x', CAST(doc_id % 4 + 24 AS INT))"))).as("p"))
      .filter(col("i").isNotNull && col("a").isNotNull &&
        col("v").isNotNull && col("g").isNotNull && col("p").isNotNull)
    probe("multimodal_decode",
      mmDecode(docs1).count(),
      mmDecode(docsN).count())
    probe("chunk_documents",
      graft.operators.TextAnalysis.chunkDocuments(docs1, "text", "doc_id",
        chunkTokens = 32, stride = 16).count(),
      graft.operators.TextAnalysis.chunkDocuments(docsN, "text", "doc_id",
        chunkTokens = 32, stride = 16).count())
    // BM25: hot query terms match N× more postings, but the heap
    // output stays partitions × queries × k — cost must track the
    // corpus scan, not the posting-list sort
    val bm25Qs = Seq(1L -> "spark window join", 2L -> "vector scan batch",
      3L -> "customer hash merge sort")
    probe("bm25_topk",
      graft.operators.TextAnalysis.bm25TopK(docs1, "text", "doc_id",
        bm25Qs, k = 10).count(),
      graft.operators.TextAnalysis.bm25TopK(docsN, "text", "doc_id",
        bm25Qs, k = 10).count())
    // balanced sampling: the two-phase selection must stay ~linear even
    // though the N× corpus concentrates N× rows into the same strata
    probe("balanced_sample",
      graft.operators.TextAnalysis.balancedSample(docs1, "doc_id", "lang",
        cap = 1000).count(),
      graft.operators.TextAnalysis.balancedSample(docsN, "doc_id", "lang",
        cap = 1000).count())
    // weighted exact-N (Efraimidis–Spirakis): priority projection +
    // TakeOrdered(n) — per-partition bounded heaps, never a global sort
    probe("sample_weighted",
      graft.operators.TextAnalysis.sampleWeighted(docs1, "doc_id",
        "n_chars", n = 50).count(),
      graft.operators.TextAnalysis.sampleWeighted(docsN, "doc_id",
        "n_chars", n = 50).count())
    // batch kNN: cost is queries × corpus scan work; the heap output
    // (partitions × queries × k rows) must not grow with the corpus
    val emb1 = Tables.load(spark, sfDir, "embeddings").cache(); emb1.count()
    val maxVid = maxIdOf(emb1, "vec_id")
    val embN = (0 until n).map { c =>
      emb1.withColumn("vec_id", col("vec_id") + lit(c * maxVid))
    }.reduce(_ unionByName _).cache(); embN.count()
    val knnQs = emb1.orderBy("vec_id").limit(8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    probe("knn_join",
      graft.operators.Similarity.knnJoin(emb1, "vec_id", "embedding",
        knnQs, k = 10).count(),
      graft.operators.Similarity.knnJoin(embN, "vec_id", "embedding",
        knnQs, k = 10).count())
    // PCA covariance: one typed aggregate pass, d²-bounded buffers —
    // must track the scan exactly
    probe("pca_covariance",
      graft.operators.Pca.covarianceDf(emb1, "embedding").count(),
      graft.operators.Pca.covarianceDf(embN, "embedding").count())
    // bigram LM scoring: explode + model aggregates + gram-keyed join —
    // everything keyed, must track the bigram stream size
    probe("bigram_lm_score",
      graft.operators.TextAnalysis.bigramLmScore(docs1, "text", "doc_id").count(),
      graft.operators.TextAnalysis.bigramLmScore(docsN, "text", "doc_id").count())
    // winnowing match: explode + keyed windows + doc-frequency-capped
    // fp-bucket join — the cap must keep pair fan-out bounded even
    // when the N× corpus multiplies shared-passage structure
    probe("winnow_matches",
      graft.operators.Dedup.winnowMatches(docs1, "text", "doc_id").count(),
      graft.operators.Dedup.winnowMatches(docsN, "text", "doc_id").count())
    // as-of join: union + carry-forward window — must track the keyed
    // sort, |L|+|R| per key, never a per-key cross product
    def asofSides(ev: DataFrame) = (
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id")),
      ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id")))
    probe("asof_join", {
      val (l, r) = asofSides(ev1)
      graft.operators.Relational.asofJoin(l, r, "user_id", "ts",
        Seq("click_id")).count()
    }, {
      val (l, r) = asofSides(evN)
      graft.operators.Relational.asofJoin(l, r, "user_id", "ts",
        Seq("click_id")).count()
    })
    // range join: N× points against FIXED intervals — bin equi-join
    // cost must track the point count, not |intervals|·|points|
    val ivRange = Tables.load(spark, sfDir, "nation").select(col("n_nationkey"),
      expr("TIMESTAMP '2024-01-01 00:00:00' + make_dt_interval(n_nationkey)").as("lo"),
      expr("TIMESTAMP '2024-01-01 00:00:00' + make_dt_interval(n_nationkey + 2)").as("hi"))
    probe("range_join",
      graft.operators.Relational.rangeJoin(ivRange, "lo", "hi",
        ev1.select("ts", "value"), "ts", 86400L).count(),
      graft.operators.Relational.rangeJoin(ivRange, "lo", "hi",
        evN.select("ts", "value"), "ts", 86400L).count())

    // spatial radius join: N× probe points against FIXED stations —
    // the grid-cell equi-join must track the probe count, never
    // |probes|·|stations| like the cross join it replaces
    def spatialPoints(df: DataFrame): DataFrame = df.select(
      (pmod(col("doc_id") * 37, lit(1200)) / 10.0 - 60.0).as("lat"),
      (pmod(col("doc_id") * 91, lit(3600)) / 10.0 - 180.0).as("lon"))
    val stationsFixed = docs1.select(
      (pmod(col("doc_id") * 53, lit(1200)) / 10.0 - 60.0).as("slat"),
      (pmod(col("doc_id") * 113, lit(3600)) / 10.0 - 180.0).as("slon")).cache()
    stationsFixed.count()
    probe("spatial_radius_join",
      graft.operators.Spatial.withinRadiusJoin(spatialPoints(docs1),
        stationsFixed, "lat", "lon", "slat", "slon", 300000.0).count(),
      graft.operators.Spatial.withinRadiusJoin(spatialPoints(docsN),
        stationsFixed, "lat", "lon", "slat", "slon", 300000.0).count())

    // PageRank: N× nodes and edges at a FIXED iteration count — each
    // round is one join + keyed agg, so time tracks the edge count
    def prRank(df: DataFrame): Long = {
      val cnt = df.count()
      val edges = df.select(col("doc_id").as("src"),
        explode(array(pmod(col("doc_id") * 3 + 1, lit(cnt)),
          pmod(col("doc_id") * 5 + 2, lit(cnt)))).as("dst"))
      graft.operators.LinkGraph.pageRank(edges, "src", "dst",
        iterations = 3).count()
    }
    probe("pagerank", prRank(docs1), prRank(docsN))

    // KMV sketch: N× rows through the bounded-state aggregate — O(k)
    // buffers mean time tracks the scan, not the distinct count
    probe("kmv_distinct",
      graft.operators.Sketches.kmvDistinct(ev1, "event_type",
        "user_id", 64).count(),
      graft.operators.Sketches.kmvDistinct(evN, "event_type",
        "user_id", 64).count())

    // Count-Min build + probe: the aggregate output is ≤ depth×width
    // rows at ANY input size, so time must track the scan
    def cmsRun(df: DataFrame): Long = {
      val sk = graft.operators.Sketches.cmsSketch(df, "user_id", 4, 2048)
      graft.operators.Sketches.cmsEstimate(sk,
        df.select(col("user_id")).limit(500), "user_id", 4, 2048).count()
    }
    probe("cms_freq", cmsRun(ev1), cmsRun(evN))

    // incremental index dedup: the N× corpus is INDEXED (one banding
    // pass), the fixed-size delta broadcast-joins it — growth must be
    // the index pass, never a pair explosion
    def incRun(corpus: DataFrame): Long = {
      val idx = graft.operators.Dedup.minhashIndexRows(corpus, "text", "doc_id")
      graft.operators.Dedup.incrementalNearDups(
        docs1.filter(col("doc_id") % 10 === 3), idx, "text", "doc_id").count()
    }
    probe("incremental_dedup", incRun(docs1), incRun(docsN))

    // feature hashing: explode + one map-side-combining aggregate —
    // output bounded by rows × min(tokens, dim), time tracks the scan
    probe("hashing_features",
      graft.operators.TextAnalysis.hashingFeatures(docs1, "text", "doc_id",
        512).count(),
      graft.operators.TextAnalysis.hashingFeatures(docsN, "text", "doc_id",
        512).count())

    // DSIR selection: dim-sized ratio broadcast onto the corpus
    // features — growth tracks the two feature scans, never a
    // bucket-keyed shuffle of the corpus
    def dsirRun(df: DataFrame): Long =
      graft.operators.TextAnalysis.dsirSelect(
        df.filter(col("doc_id") % 2 === 0),
        df.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", dim = 256, n = 50).count()
    probe("dsir_select", dsirRun(docs1), dsirRun(docsN))

    // logreg training: fixed rounds of two map-side-combining
    // aggregations — growth must track the feature scan, not the dim
    def lrTrain(df: DataFrame): Long = {
      val feats = graft.operators.TextAnalysis.hashingFeatures(
        df, "text", "doc_id", 64)
      val labels = df.select(col("doc_id"),
        (col("doc_id") % 2).cast("double").as("y"))
      graft.operators.TextAnalysis.trainLogreg(feats, labels,
        "doc_id", "y", dim = 64, iters = 2).length.toLong
    }
    probe("logreg_train", lrTrain(docs1), lrTrain(docsN))

    // label propagation: fixed rounds of keyed join + count aggregate —
    // the same per-round shuffles at any graph size
    def lpRun(df: DataFrame): Long = {
      val m = df.count()
      val edges = df.select(col("doc_id").as("src"),
        explode(array(pmod(col("doc_id") * 3 + 1, lit(m)),
          pmod(col("doc_id") * 5 + 2, lit(m)))).as("dst"))
      graft.operators.LinkGraph.labelPropagation(edges, "src", "dst",
        iterations = 3).count()
    }
    probe("label_propagation", lpRun(docs1), lpRun(docsN))

    // coreness: fixed h-index rounds — the same one-join-one-window
    // shape per round as PageRank/LP, so time tracks the edge count
    def coreRun(df: DataFrame): Long = {
      val m = df.count()
      val edges = df.select(col("doc_id").as("src"),
        explode(array(pmod(col("doc_id") * 3 + 1, lit(m)),
          pmod(col("doc_id") * 5 + 2, lit(m)))).as("dst"))
      graft.operators.LinkGraph.coreness(edges, "src", "dst",
        iterations = 3).count()
    }
    probe("coreness", coreRun(docs1), coreRun(docsN))

    // k-truss: triangle enumeration per round — on the bounded-degree
    // synthetic ring the triangle count is linear in nodes, so the
    // iterated support filter must track the edge count
    def trussRun(df: DataFrame): Long = {
      val m = df.count()
      val edges = df.select(col("doc_id").as("src"),
        explode(array(pmod(col("doc_id") + 1, lit(m)),
          pmod(col("doc_id") + 2, lit(m)),
          pmod(col("doc_id") + 3, lit(m)))).as("dst"))
      graft.operators.LinkGraph.kTrussEdges(edges, "src", "dst",
        k = 4, rounds = 2).count()
    }
    probe("ktruss", trussRun(docs1), trussRun(docsN))

    // personalized PageRank: pageRank's per-round shape plus one
    // up-front seed-flag join — must match the pagerank slope
    def pprRun(df: DataFrame): Long = {
      val m = df.count()
      val edges = df.select(col("doc_id").as("src"),
        explode(array(pmod(col("doc_id") * 3 + 1, lit(m)),
          pmod(col("doc_id") * 5 + 2, lit(m)))).as("dst"))
      graft.operators.LinkGraph.personalizedPageRank(edges, "src", "dst",
        df.filter(col("doc_id") % 10 === 0).select("doc_id"),
        iterations = 3).count()
    }
    probe("ppr", pprRun(docs1), pprRun(docsN))

    // funnel: k conditional-min aggregates over the type-pruned log —
    // per-user state never materializes, so time tracks the scan
    probe("funnel",
      graft.operators.EventAnalytics.funnelUsers(ev1, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), 7 * 86400L).count(),
      graft.operators.EventAnalytics.funnelUsers(evN, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), 7 * 86400L).count())

    // transitions + cohorts: per-user windows and the first-seen join —
    // both keyed on the user, never a global sort
    def journeyRun(df: DataFrame): Long =
      graft.operators.EventAnalytics.eventTransitions(df, "user_id",
        "ts", "event_type", Seq("event_id")).count() +
      graft.operators.EventAnalytics.cohortRetention(df, "user_id",
        "ts").count() +
      graft.operators.EventAnalytics.histogram(df, "event_type",
        "value", 10).count() +
      graft.operators.EventAnalytics.keySkewReport(df, "user_id").count()
    probe("event_journeys", journeyRun(ev1), journeyRun(evN))

    // harmonic centrality: frontier sizes are degree-bounded on the
    // synthetic graph — growth must track nodes, not neighborhood²
    def harmRun(df: DataFrame): Long = {
      val m = df.count()
      val edges = df.select(col("doc_id").as("src"),
        explode(array(pmod(col("doc_id") * 3 + 1, lit(m)),
          pmod(col("doc_id") * 5 + 2, lit(m)))).as("dst"))
      graft.operators.LinkGraph.harmonicCentrality(edges, "src", "dst",
        maxDist = 2).count()
    }
    probe("harmonic", harmRun(docs1), harmRun(docsN))

    // fuzzy decontamination: banded candidates + length-guarded
    // THRESHOLDED Levenshtein. The generic amplifier's copies differ
    // only by a ~10-char suffix — WITHIN maxDist 20, so they'd be
    // genuine matches and the output (and therefore time) would be
    // rightly quadratic; salt each doc with a 32-char md5 so copies
    // sit past the distance bound and growth measures the PLAN
    def fuzzDocs(df: DataFrame): DataFrame = df.withColumn("text",
      concat(col("text"), lit(" "), md5(col("doc_id").cast("string"))))
    def fuzzRun(df: DataFrame): Long =
      graft.operators.Dedup.fuzzyContamination(
        fuzzDocs(df.filter(col("doc_id") % 7 =!= 0)),
        fuzzDocs(df.filter(col("doc_id") % 7 === 0)),
        "text", "doc_id", maxDist = 20).count()
    probe("fuzzy_decontam", fuzzRun(docs1), fuzzRun(docsN))

    // keyness: (group, token) counts + a token-keyed join — vocabulary
    // growth is sublinear, so time must track the token scan
    probe("keyness",
      graft.operators.TextAnalysis.keynessTerms(docs1, "source", "text",
        k = 10).count(),
      graft.operators.TextAnalysis.keynessTerms(docsN, "source", "text",
        k = 10).count())

    // prefix-filtered exact Jaccard at the PRODUCTION cap: rare-token
    // prefixes + the bucket cap must keep candidate growth near-linear
    probe("jaccard_prefix",
      graft.operators.Dedup.jaccardPrefixJoin(docs1, "text", "doc_id",
        0.8).count(),
      graft.operators.Dedup.jaccardPrefixJoin(docsN, "text", "doc_id",
        0.8).count())

    // gear CDC: one table lookup + shift per byte — strictly linear in
    // corpus bytes, any other slope is a bug in the chunk assembly
    probe("cdc_chunks",
      docs1.select(explode(graft.functions.CdcOps.cdc_chunks(col("text"), 5))
        .as("c")).count(),
      docsN.select(explode(graft.functions.CdcOps.cdc_chunks(col("text"), 5))
        .as("c")).count())

    // stupid backoff: three count aggregates + gram-keyed joins of the
    // target — both sides grow with the corpus, budget is the guard
    def sbRun(df: DataFrame): Long =
      graft.operators.TextAnalysis.stupidBackoffScore(
        df.filter(col("doc_id") % 2 === 0),
        df.filter(col("doc_id") % 2 === 1), "text", "doc_id").count()
    probe("stupid_backoff", sbRun(docs1), sbRun(docsN))

    // INCREMENTAL SemDeDup: prebuilt IVF indexes (index build excluded —
    // it's the one-time cost), a FIXED arrival batch probed against the
    // 1x vs Nx corpus index. Touched clusters are batch-bounded; their
    // occupancy grows with the corpus, so candidate mass is ~linear.
    if (only.forall(s => s.contains("semdedup_incremental") ||
        s.contains("semdedup_incr_skew") || s.contains("ivf_maintenance_drift"))) {
      def buildIdx(df: DataFrame, tag: String): (String, Array[Array[Double]]) = {
        val cents = graft.operators.Similarity.trainCentroids(
          df, "embedding", 64, iters = 3, sampleN = 2000, orderBy = "vec_id")
        val p = java.nio.file.Path.of(System.getProperty("java.io.tmpdir"),
          s"graft_probe_sdi_$tag").toString
        graft.operators.Similarity.writeIvfIndex(df, "vec_id", "embedding",
          cents, p)
        (p, cents)
      }
      val batch = emb1.filter(col("vec_id") % 10 === 0)
      val (p1, c1) = buildIdx(emb1.filter(col("vec_id") % 10 =!= 0), "1x")
      val (pN, cN) = buildIdx(embN.filter(col("vec_id") % 10 =!= 0), s"${n}x")
      probe("semdedup_incremental",
        graft.operators.Similarity.semDedupIncremental(spark, p1, batch,
          "vec_id", "embedding", c1, 0.3).count(),
        graft.operators.Similarity.semDedupIncremental(spark, pN, batch,
          "vec_id", "embedding", cN, 0.3).count())
      // SKEWED arrivals: production batches are bursty and topic-
      // concentrated — every new row here lands in the Nx index's TWO
      // hottest clusters (one hot IVF partition). The default-on
      // per-cluster probe cap (`maxProbe`, riding the build-time
      // `_crank` rank as a pushed filter) must keep the hot-partition
      // probe bounded by cap × batch, not occupancy × batch.
      val hot2 = graft.operators.Similarity.ivfAssign(
          batch, "vec_id", "embedding", cN)
        .groupBy("cluster").count()
        .orderBy(desc("count"), asc("cluster")).limit(2)
        .select("cluster").collect().map(_.getInt(0)).toSeq
      val skewBatch = graft.operators.Similarity.ivfAssign(
          batch, "vec_id", "embedding", cN)
        .filter(col("cluster").isin(hot2: _*))
        .select("vec_id", "embedding").cache()
      skewBatch.count()
      probe("semdedup_incr_skew",
        graft.operators.Similarity.semDedupIncremental(spark, p1, skewBatch,
          "vec_id", "embedding", c1, 0.3).count(),
        graft.operators.Similarity.semDedupIncremental(spark, pN, skewBatch,
          "vec_id", "embedding", cN, 0.3).count())
      // MAINTENANCE-POLICY drift: the arrival DISTRIBUTION drifts (the
      // whole N× arrival log concentrates in the index's two hottest
      // clusters). The decision table must stay two map-side-combined
      // counts — occupancy skew shifts the DECISION (hot→split,
      // frac→reindex), never the plan shape, so cost tracks arrival
      // volume, not skew.
      val driftN = (0 until n).map(c => skewBatch
          .withColumn("vec_id", col("vec_id") + lit(c * maxVid)))
        .reduce(_ unionByName _)
      probe("ivf_maintenance_drift",
        graft.operators.Similarity.ivfMaintenancePlan(
          spark.read.parquet(p1),
          graft.operators.Similarity.ivfAssign(skewBatch,
            "vec_id", "embedding", c1)).count(),
        graft.operators.Similarity.ivfMaintenancePlan(
          spark.read.parquet(pN),
          graft.operators.Similarity.ivfAssign(driftN,
            "vec_id", "embedding", cN)).count())
      skewBatch.unpersist()
    }

    // SemDeDup at the production cap: assignment is a broadcast scan,
    // pair work is per-cluster and cap-bounded — near-linear in rows
    probe("semdedup",
      graft.operators.Similarity.semDedupPairs(emb1, "vec_id", "embedding",
        threshold = 0.3, k = 64, iters = 3, orderBy = "vec_id").count(),
      graft.operators.Similarity.semDedupPairs(embN, "vec_id", "embedding",
        threshold = 0.3, k = 64, iters = 3, orderBy = "vec_id").count())

    // ---- MUTATED amplification for the pair generators ----
    // The generic amplifier's copies differ only by a ~10-char suffix,
    // so a 16× corpus carries ~256× TRUE near-dup pairs and the
    // duplicate-amplified probes above conflate OUTPUT growth with
    // COMPUTE growth (round-9: jaccard_prefix 24.7×, semdedup 20.4× —
    // output-bound, not plan defects). These twins salt every 6th word
    // (kills ~half the 3-gram shingles: J ≈ 0.33 ≪ 0.8 across copies)
    // / drown each vector in per-(copy,row) pseudorandom noise
    // (cross-copy cosine ≈ 0 ≪ 0.3), so the true pair count stays
    // ~linear and the ratio measures the PLAN. The 1× side runs the
    // SAME mutation (copy 0) for a fair denominator.
    def mutateDocs(df: DataFrame, copies: Int): DataFrame = {
      val maxId = df.agg(max(col("doc_id"))).head().getLong(0) + 1
      (0 until copies).map { c =>
        df.withColumn("doc_id", col("doc_id") + lit(c * maxId))
          .withColumn("text", expr(
            "array_join(transform(split(text, ' '), (w, i) -> " +
            "IF(i % 6 = 5, concat('z', crc32(concat(w, '_', doc_id))), w)), ' ')"))
      }.reduce(_ unionByName _)
    }
    val mdocs1 = mutateDocs(docs1, 1).cache(); mdocs1.count()
    val mdocsN = mutateDocs(docs1, n).cache(); mdocsN.count()
    probe("jaccard_prefix_mutated",
      graft.operators.Dedup.jaccardPrefixJoin(mdocs1, "text", "doc_id",
        0.8).count(),
      graft.operators.Dedup.jaccardPrefixJoin(mdocsN, "text", "doc_id",
        0.8).count())
    // fuzzy decontam on MUTATED copies: the plain family's copies are
    // near-identical texts, so their minhash signatures band-collide
    // and candidates grow with copies² (Levenshtein then rightly
    // rejects them — output stays flat but TIME measures the verify
    // mass, 11.9× at N=16). Salting every 6th word per copy changes
    // the shingle sets, so banding yields corpus-proportional
    // candidates and the ratio measures the PLAN. The md5 suffix
    // (fuzzRun's fuzzDocs) still pushes surviving near-pairs past
    // maxDist, keeping output flat here too.
    probe("fuzzy_decontam_mutated", fuzzRun(mdocs1), fuzzRun(mdocsN))
    def mutateEmb(df: DataFrame, copies: Int): DataFrame =
      (0 until copies).map { c =>
        df.withColumn("vec_id", col("vec_id") + lit(c * maxVid))
          .withColumn("embedding", expr(
            "transform(embedding, (x, i) -> " +
            "CAST(x + 7.0 * (pmod(hash(vec_id, i), 1000) / 500.0 - 1.0) AS FLOAT))"))
      }.reduce(_ unionByName _)
    val memb1 = mutateEmb(emb1, 1).cache(); memb1.count()
    val membN = mutateEmb(emb1, n).cache(); membN.count()
    // RECIPE-FAITHFUL k: SemDeDup (Abbas et al. 2023) scales the
    // cluster count with the corpus so per-cluster size stays bounded
    // — that's what makes the within-cluster pair step tractable. A
    // fixed k at N× data grows clusters linearly and candidates
    // quadratically (measured 23× at N=16), which is an OPERATING
    // ERROR, not a plan defect; k ∝ n holds candidates linear.
    probe("semdedup_mutated",
      graft.operators.Similarity.semDedupPairs(memb1, "vec_id", "embedding",
        threshold = 0.3, k = 64, iters = 3, orderBy = "vec_id").count(),
      graft.operators.Similarity.semDedupPairs(membN, "vec_id", "embedding",
        threshold = 0.3, k = 64 * n, iters = 3, sampleN = 2000.max(8 * 64 * n),
        orderBy = "vec_id").count())
    // (fuzzy_decontam above already amplifies with mutated copies — the
    // md5 salt pushes copies past maxDist, same principle.)
    mdocs1.unpersist(); mdocsN.unpersist(); memb1.unpersist(); membN.unpersist()

    // duplicate-heavy corpus: every copy IS a duplicate — the skew cap
    // must keep the band join bounded instead of B²-exploding
    if (only.forall(s => s.contains("minhash_on_duplicates") ||
        s.contains("portable_on_duplicates"))) {
      val dupN = {
        val maxDid = maxIdOf(docs1, "doc_id")
        (0 until n).map { c =>
          docs1.withColumn("doc_id", col("doc_id") + lit(c * maxDid))
        }.reduce(_ unionByName _).cache()
      }
      dupN.count()
      // Under SPARK_GRAFT_SCALE_ONLY=minhash_on_duplicates the baseline
      // probes above were filtered out and returned 0.0 — inline-time
      // the 1x baseline here so the ratio keeps its real denominator
      // (otherwise the 0.3s floor inflates it and FAILs the re-probe
      // mode this filter exists for).
      def baselineOr(t: Double)(f: => Long): Double =
        if (t > 0.0) t else { f; time(f) }
      if (only.forall(_.contains("minhash_on_duplicates"))) {
        val base1 = baselineOr(tMinhash1)(
          graft.operators.Dedup.minhashLshPairs(docs1, "text", "doc_id").count())
        val tDup = time(graft.operators.Dedup.minhashLshPairs(
          dupN, "text", "doc_id").count())
        val dupRatio = tDup / math.max(base1, 0.3)
        val dupVerdict = if (dupRatio <= budget) "ok" else "FAIL"
        println(f"[probe] minhash_on_${n}x_duplicates    ${tDup}%6.2fs  ratio=${dupRatio}%5.1f (budget <= ${budget}%.0f, cap-bounded) $dupVerdict")
        if (dupRatio > budget)
          failures += f"minhash_on_duplicates: ratio $dupRatio%.1f exceeds budget $budget%.1f — is the skew cap off?"
      }
      // same duplicates corpus through the PORTABLE path — its default
      // cap (1000, round-5 change) must bound the band join identically
      if (only.forall(_.contains("portable_on_duplicates"))) {
        val baseP1 = baselineOr(tPortable1)(
          graft.operators.Dedup.minhashLshPairsPortable(docs1, "text", "doc_id").count())
        val tDupP = time(graft.operators.Dedup.minhashLshPairsPortable(
          dupN, "text", "doc_id").count())
        val dupPRatio = tDupP / math.max(baseP1, 0.3)
        val dupPVerdict = if (dupPRatio <= budget) "ok" else "FAIL"
        println(f"[probe] portable_on_${n}x_duplicates   ${tDupP}%6.2fs  ratio=${dupPRatio}%5.1f (budget <= ${budget}%.0f, cap-bounded) $dupPVerdict")
        if (dupPRatio > budget)
          failures += f"portable_on_duplicates: ratio $dupPRatio%.1f exceeds budget $budget%.1f — is the portable skew cap off?"
      }
    }

    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => println(s"[probe] FAILED: $f"))
      sys.exit(1)
    }
    println(s"[probe] ALL FAMILIES WITHIN THE N*(1+log2 N) BUDGET (N=$n, budget=${budget.round})")
  }
}
