package graft

/** Plan-audit main: prints executed plans for the headline queries AND
  * asserts the load-bearing physical properties (pushdown reached the
  * scan, broadcast where intended, no unpartitioned window, top-k via
  * TakeOrderedAndProject). Run after operator changes — a green test
  * suite with a silently-regressed plan is exactly what this catches. */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(8)
    val dir = "/root/testdata/sf0.01"

    var failures = List.empty[String]
    def auditDf(label: String, df: org.apache.spark.sql.DataFrame,
        mustContain: Seq[String], mustNotContain: Seq[String]): Unit = {
      println(s"===== $label =====")
      val plan = df.queryExecution.executedPlan.toString
      println(plan.linesIterator.take(40).mkString("\n"))
      mustContain.filterNot(plan.contains).foreach { m =>
        failures ::= s"$label: expected plan to contain '$m'" }
      mustNotContain.filter(plan.contains).foreach { m =>
        failures ::= s"$label: expected plan to NOT contain '$m'" }
    }
    def audit(q: String, mustContain: Seq[String] = Nil,
        mustNotContain: Seq[String] = Nil): Unit =
      auditDf(q, SparkEntry.queries(q)(spark, dir), mustContain, mustNotContain)

    audit("q1_agg", mustContain = Seq("HashAggregate"))
    audit("j1_broadcast_join", mustContain = Seq("BroadcastHashJoin"))
    audit("p2_time_range")
    audit("s4_recent_window")
    audit("dedup_minhash_lsh", mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    audit("ann_bruteforce", mustContain = Seq("TakeOrderedAndProject"))
    audit("o4_latest")
    audit("w1_glider_segments")
    audit("pipeline_corpus")
    audit("w6_sessionize")
    audit("ann_ivf_topk", mustContain = Seq("TakeOrderedAndProject"))
    // PQ ADC: codes + table lookups only — top-k must not global-sort,
    // and no join may appear (the lookup tables are plan literals)
    audit("ann_pq_topk", mustContain = Seq("TakeOrderedAndProject"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    audit("j7_salted_join")
    // as-of join is union + carry-forward window: NO join operator of
    // any kind may appear (an inequality-join formulation plans a BNLJ)
    audit("j8_asof_join", mustContain = Seq("Window"),
      mustNotContain = Seq("Join", "CartesianProduct"))
    // range join must be the bin EQUI-join — never a cross product
    audit("j9_range_join", mustNotContain =
      Seq("CartesianProduct", "BroadcastNestedLoop"))
    // griddap: hyperslab pushdown must reach the scan (bbox + pruned cols)
    audit("s8_griddap_scan", mustContain = Seq("griddap", "bbox-pushed"))
    // packed-int variant: same pushdown through the CF-unpacking codec
    audit("s8_griddap_scan_int16", mustContain = Seq("griddap", "bbox-pushed"))
    // SRP pairs: bucket equi-join only — a cross join here is the scale bug
    audit("ann_lsh_pairs", mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    audit("dedup_simhash", mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // winnowing match: fp-bucket equi-join over doc-frequency-capped
    // fingerprints — never an all-pairs shape
    audit("dedup_winnow", mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // multimodal decode is a pure projection — an RDD boundary here would
    // deserialize rows and sever column pruning below it
    audit("mm_decode_meta", mustNotContain = Seq("Scan ExistingRDD"))
    // real JPEG/PNG header decode: synth + parse is a pure projection —
    // no Exchange, no RDD boundary
    audit("mm_decode_image", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    // real BMP pixel path (synth → NN resize → exact channel sums): still
    // a pure projection — pixels never leave the expression pipeline
    audit("mm_image_resize", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_png_pixel_stats", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_png_palette", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_png_interlaced", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_png_tiny", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_png_deep", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_jpeg_pixel_stats", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_jpeg_420", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_png_resize", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_audio_stats", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_audio_g711", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_audio_sample", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_audio_deep", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_audio_adpcm", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_video_stats", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_video_sample", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_mjpeg_stats", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_mjpeg_sample", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_router", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_gif_pixel_stats", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    // perceptual hash is a pure projection (decode inside the kernel);
    // the near-dup pair path is a block-bucket EQUI-join, never all-pairs
    audit("mm_image_dhash", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_image_phash", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_image_neardup",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    audit("mm_audio_fingerprint", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    // scene deltas: decode + explode is a NARROW Generate pipeline
    audit("mm_video_scenes", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_audio_neardup",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    audit("mm_gif_frames", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("mm_tiff_pixel_stats", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    // span dedup is explode + hash-aggregate winners + reassemble —
    // never a pairwise join, and never a per-span-key window SORT (the
    // min(struct) winner combines map-side; a Window here would sort
    // every hot boilerplate key)
    audit("dedup_spans", mustNotContain =
      Seq("CartesianProduct", "BroadcastNestedLoop", "SortMergeJoin", "Window"))
    // repetition signals are ONE native kernel per row (round 5): a
    // pure filter+project plan — no shuffle may appear at all (the
    // explode → two-level-aggregate pipelines this replaced were two
    // full exchanges of every gram occurrence)
    audit("text_repetition", mustNotContain = Seq("Exchange"))
    // bigram LM scoring: model joins are keyed (gram key) — the only
    // nested-loop is the 1-row vocab-scalar broadcast, never a true
    // cross product over data
    audit("text_lm_score", mustNotContain = Seq("CartesianProduct"))
    audit("gopher_filter", mustNotContain = Seq("Exchange"))
    // hash sampling is a pure filter: no shuffle anywhere in the plan
    audit("sample_by_hash", mustNotContain = Seq("Exchange"))
    // WARC splitting is synth → parse → explode: a narrow Generate,
    // no shuffle, no RDD boundary
    audit("warc_records", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("warc_records_gz", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    // URL → domain is a pure codegen'd string projection: no shuffle
    audit("url_domains", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("robots_filter", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("robots_delay", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    // politeness schedule: ONE hash window per domain — never an
    // unpartitioned (single-partition) window over the frontier
    audit("crawl_schedule",
      mustContain = Seq("Exchange hashpartitioning(domain"),
      mustNotContain = Seq("Exchange SinglePartition"))
    audit("text_fix_mojibake", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("html_links", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("sitemap_urls", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    audit("robots_sitemaps", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    // KMV sketch: object-hash aggregate with a map-side partial
    // (bounded O(k) state travels the exchange, not raw hashes)
    audit("kmv_distinct", mustContain = Seq("ObjectHashAggregate",
      "partial_kmv_sketch"))
    // exact-N sampling: per-partition heaps, never a global sort
    audit("sample_exact_n", mustContain = Seq("TakeOrderedAndProject"),
      mustNotContain = Seq("Exchange rangepartitioning"))
    audit("sample_weighted", mustContain = Seq("TakeOrderedAndProject"),
      mustNotContain = Seq("Exchange rangepartitioning"))
    // spatial radius join: grid-cell EQUI-join, never a cross product
    // or nested-loop compare of every pair
    audit("j11_spatial_radius",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
    // bloom semi join: the codegen'd probe must sit in the plan as a
    // Filter BELOW the confirm join — non-members die before any
    // exchange; no cross product anywhere
    audit("j10_bloom_semi", mustContain = Seq("bloom_might_contain"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // BM25: query terms and per-term df join BROADCAST against the
    // matched postings — a sort-merge join here would shuffle the
    // corpus by term; the only nested-loop is the 1-row stats scalar
    audit("bm25_topk", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    // prefix-filtered exact Jaccard: candidates come from the prefix
    // token EQUI-join, never an all-pairs product
    audit("dedup_jaccard_prefix",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
    // SemDeDup: the k-row centroid table BROADCASTS onto the assignment
    // scan; pair generation is the cluster-bucket machinery — no
    // product join anywhere
    audit("semdedup_pairs", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
    // coreness: every h-index round is one edge equi-join + one keyed
    // aggregation (the window) — no product join
    audit("graph_coreness",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
    // pure-projection transforms: CDC chunking, phrase matching, and
    // span corruption must not shuffle — the scan IS the cost
    audit("cdc_chunks", mustNotContain = Seq("Exchange"))
    audit("blocklist_phrases", mustNotContain = Seq("Exchange"))
    audit("span_corrupt", mustNotContain = Seq("Exchange"))
    // interleave: one hash window per source, never a global sort
    audit("train_interleave",
      mustNotContain = Seq("Exchange rangepartitioning", "SinglePartition"))
    // stupid backoff: gram-keyed joins only — no product join anywhere
    audit("text_stupid_backoff",
      mustNotContain = Seq("CartesianProduct"))
    // decontamination: the eval-gram set must be BROADCAST against the
    // corpus scan — a sort-merge join here shuffles the whole corpus by
    // gram, the 100 TB killer this operator is designed to avoid
    audit("decontam_hits", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    // sequence packing: the global cumsum is the two-pass scheme — the
    // CORPUS window is partitioned by _pid (asserted via the hash
    // exchange) and the per-partition offsets never go through a BNLJ
    // (the O(P²) triangular join this replaced). The one legitimate
    // single-partition exchange is over the P-row totals aggregate —
    // metadata-sized by construction, not the data path.
    audit("pack_sequences",
      mustContain = Seq("Exchange hashpartitioning(_pk"),
      mustNotContain = Seq("BroadcastNestedLoop", "CartesianProduct",
        "Scan ExistingRDD"))
    // global row numbering: same two-pass shape, same assertions —
    // and NO pin: the deterministic-bin scaffold must not
    // localCheckpoint the corpus (r12's full-width pin, removed r13)
    audit("w5_row_number",
      mustContain = Seq("Exchange hashpartitioning(_pk"),
      mustNotContain = Seq("BroadcastNestedLoop", "CartesianProduct",
        "Scan ExistingRDD"))
    // EXECUTED adaptive-plan audit for the scaffold: AQE resolves stage
    // reuse only at runtime, so the shared-exchange property must be
    // read off the FINAL plan. Per `_pk` exchange INSTANCE (tree walk,
    // not whole-plan substrings — a legitimate SortAggregate elsewhere
    // in a gate, or a second scaffold, audits independently):
    // (a) both branches read ONE materialized exchange (ReusedExchange
    // edge present — losing reuse silently re-scans the corpus),
    // (b) the totals consumer aggregates SORTLESSLY (a SortAggregate is
    // the first()-style guard regression: string buffers demote the
    // hash aggregate and the second corpus sort comes back),
    // (c) exactly ONE sort consumer (the window's corpus sort).
    // ALL SIX scaffold call-site gates are covered — a caller (or a
    // Spark upgrade changing canonicalization) regressing any one of
    // them trips this audit, not just the two historical probes.
    def auditScaffoldExecuted(q: String): Unit = {
      val df = SparkEntry.queries(q)(spark, dir)
      val viol = graft.plans.ScaffoldPlanAudit.audit(df)
      println(s"===== $q (executed scaffold audit) " +
        (if (viol.isEmpty) "clean =====" else "VIOLATIONS ====="))
      viol.foreach(v => failures ::= s"$q: $v")
    }
    Seq("w5_row_number", "pack_sequences", "pack_windows",
      "pack_windows_by_source", "shard_assign", "sample_token_budget")
      .foreach(auditScaffoldExecuted)
    // vocabulary induction: top-k rides TakeOrderedAndProject, never a
    // global sort of the vocabulary
    audit("vocab_topk", mustContain = Seq("TakeOrderedAndProject"))
    // tf-idf: the idf join must be an equi-join on the term; the ONLY
    // nested-loop allowed is the 1-row broadcast of the corpus count N
    // (a scalar rider, O(rows) work) — a CartesianProduct would mean
    // the term join degenerated
    audit("tfidf_topterms", mustNotContain = Seq("CartesianProduct"))

    // quality score + blocklist: pure projections/filters over the
    // single-pass kernel — no shuffle anywhere
    audit("quality_score", mustNotContain = Seq("Exchange"))
    audit("blocklist_filter", mustNotContain = Seq("Exchange"))
    // BPE encode: once merges are trained, tokenizing the corpus is a
    // pure codegen'd string pipeline — merges in the plan, no HOF
    // lambda, no join, no shuffle (the true 100-TB encode path)
    audit("bpe_encode", mustNotContain = Seq("Exchange", "Join"))
    // token-budget sampling: the same two-pass cumsum contract as
    // pack_sequences — corpus window partitioned by _pid, offsets
    // broadcast, no triangular BNLJ
    audit("sample_token_budget",
      mustContain = Seq("Exchange hashpartitioning(_pk"),
      mustNotContain = Seq("BroadcastNestedLoop", "CartesianProduct",
        "Scan ExistingRDD"))
    // document chunking: a pure NARROW pipeline (stage tokens, explode
    // windows) — any exchange means the op stopped scaling linearly
    audit("chunk_documents", mustNotContain = Seq("Exchange"))
    // balanced sampling: two-phase windows only — no nested-loop join
    // and no UNPARTITIONED window over the corpus (phase-1 windows key
    // on (stratum, sub-bucket), phase 2 on stratum)
    audit("sample_balanced",
      mustContain = Seq("Exchange hashpartitioning(lang"),
      mustNotContain = Seq("BroadcastNestedLoop", "CartesianProduct"))
    // quantile filter: the per-stratum bounds table re-attaches via
    // BROADCAST — a sort-merge join would shuffle the corpus to meet a
    // stratum-sized table
    // IVF maintenance decision table: two hash aggregates + a 1-row
    // totals broadcast rider; no true cross product over data. (The
    // per-cluster FULL OUTER of the two ≤k-row count tables may SMJ —
    // metadata-sized by construction, so that's fine.)
    audit("ivf_maintenance", mustContain = Seq("HashAggregate"),
      mustNotContain = Seq("CartesianProduct"))
    audit("quantile_filter", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    // batch k-NN join: the scored corpus must never shuffle — the only
    // exchange is the window over the partitions×queries×k survivors
    // (hash on qid); no join of any kind appears
    audit("ann_knn_join", mustContain = Seq("Exchange hashpartitioning(qid"),
      mustNotContain = Seq("Join", "CartesianProduct"))
    // centroid classification: centroids ride in the plan — the scoring
    // pass is one projection, no join and no shuffle at any corpus size
    audit("ann_centroid_classify",
      mustNotContain = Seq("Exchange", "Join", "CartesianProduct"))

    // BPE token-id emission: like bpe_encode, a pure codegen'd string
    // pipeline — zero shuffle, no join at any corpus size
    audit("bpe_token_ids", mustNotContain = Seq("Exchange", "Join"))
    audit("bpe_roundtrip", mustNotContain = Seq("Exchange", "Join"))
    // window packing: two-pass cumsum (corpus window keyed on _pid) then
    // ONE bin aggregation — no nested-loop shape anywhere
    audit("pack_windows",
      mustContain = Seq("Exchange hashpartitioning(_pk"),
      mustNotContain = Seq("BroadcastNestedLoop", "CartesianProduct",
        "Scan ExistingRDD"))
    // stratified packing: every window keys on (source, _pid) or the
    // stratum — NO unpartitioned window may appear anywhere
    audit("pack_windows_by_source",
      mustNotContain = Seq("Exchange SinglePartition",
        "BroadcastNestedLoop", "CartesianProduct", "Scan ExistingRDD"))
    // z-order code: min/max inline as plan literals — the code itself
    // is a pure shift/mask projection, no join and no shuffle
    audit("zorder_cluster",
      mustNotContain = Seq("Exchange", "Join", "CartesianProduct"))
    // keyed high-cardinality stratified packing: ONE hash exchange on
    // the stratum key, no totals-table broadcast, no unpartitioned
    // window — each (small) stratum sorts inside a single task
    audit("pack_windows_keyed",
      mustNotContain = Seq("Exchange SinglePartition", "BroadcastExchange",
        "BroadcastNestedLoop", "CartesianProduct", "Join"))
    // hard-negative mining: the co-membership anti-join meets the tiny
    // candidate set — never a cross product over the corpus
    audit("ann_hard_negatives",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // upsampling is projection + generator only — no shuffle, no join
    audit("upsample_sources",
      mustNotContain = Seq("Exchange", "Join", "CartesianProduct"))
    // inverted index: the df-bounds join must be hash-based (the pruned
    // df table meets the pairs stream on the term key — no BNLJ/cross)
    audit("inverted_index",
      mustNotContain = Seq("BroadcastNestedLoop", "CartesianProduct"))
    // shard assignment: the same two-pass cumsum contract as
    // pack_sequences — corpus window partitioned by _pid, no BNLJ
    audit("shard_assign",
      mustContain = Seq("Exchange hashpartitioning(_pk"),
      mustNotContain = Seq("BroadcastNestedLoop", "CartesianProduct",
        "Scan ExistingRDD"))
    // unicode normalization is a codegen'd projection — zero Exchange
    audit("text_nfc", mustNotContain = Seq("Exchange"))
    // line-level boilerplate dedup: two-stage doc-frequency count plus a
    // HASH anti-join of surviving lines — never a nested-loop shape
    audit("dedup_lines",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // heavy hitters: the exact pass is filter + hash-aggregate over the
    // candidate-filtered stream — no join of any kind (candidates ride
    // the plan as an InSet literal)
    audit("heavy_hitters", mustContain = Seq("HashAggregate"),
      mustNotContain = Seq("Join", "CartesianProduct"))
    // HTML strip is a codegen'd projection chain — zero Exchange
    audit("text_strip_html", mustNotContain = Seq("Exchange"))
    // URL canonicalization is a codegen'd projection — zero Exchange
    audit("url_canonical", mustNotContain = Seq("Exchange", "Scan ExistingRDD"))
    // trained classifier scoring: per-doc windows/aggregates hash on
    // doc_id — never a single-partition stage, never a cross product
    // (training happens at plan-build; this audits the scoring query)
    audit("text_quality_logreg",
      mustNotContain = Seq("Exchange SinglePartition", "CartesianProduct"))
    // feature hashing: one explode + ONE hash aggregate — no join, no
    // vocabulary broadcast, nothing global
    audit("text_hash_features", mustContain = Seq("HashAggregate"),
      mustNotContain = Seq("Join", "CartesianProduct"))
    // KMV containment: the pairwise stage is a sketch-row join — the
    // corpus never joins anything
    audit("kmv_containment", mustNotContain = Seq("CartesianProduct"))
    // DSIR: the dim-sized ratio table BROADCASTS onto the corpus
    // features (the corpus never shuffles by bucket) and the top-n is
    // a TakeOrdered, never a global sort
    audit("dsir_select",
      mustContain = Seq("BroadcastHashJoin", "TakeOrderedAndProject"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    // temperature mix: the S-row rate table BROADCASTS onto the corpus
    // filter — a sort-merge join would shuffle the corpus to meet it
    audit("mix_temperature", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    // Count-Min: the (≤ depth×width row) sketch must BROADCAST to the
    // probe side — a sort-merge join would shuffle the probe stream to
    // meet a metadata-sized table; the build is one hash aggregation
    // whose partials combine map-side
    audit("cms_freq", mustContain = Seq("BroadcastHashJoin", "HashAggregate"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    // incremental index dedup: the delta's banded rows BROADCAST against
    // the index — the (corpus-sized) index is read, never shuffled, and
    // no nested-loop shape may appear
    audit("dedup_incremental", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct",
        "BroadcastNestedLoop"))
    // quantized top-k: same contract as ann_bruteforce — one scan, heap
    // top-k, no sort materialization, no join (query rides as literal)
    audit("ann_quantized_topk", mustContain = Seq("TakeOrderedAndProject"),
      mustNotContain = Seq("Join", "Exchange rangepartitioning"))

    // funnel: k conditional-min aggregates joined on the user key —
    // equi-joins only, never a nested-loop/cross shape, and no
    // single-partition stage over the log (the summary's step agg is a
    // hash exchange over ≤ k rows)
    audit("funnel_steps",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    audit("funnel_users",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // cohort retention: the per-week size table must BROADCAST back —
    // a sort-merge join would reshuffle the (cohort, offset) aggregate
    // to meet a calendar-sized table
    audit("cohort_retention", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // transitions: the lead window keys on the user (never a global
    // sort) and the |types|²-row totals table broadcasts
    audit("event_transitions",
      mustContain = Seq("Exchange hashpartitioning(user_id",
        "BroadcastHashJoin"),
      mustNotContain = Seq("Exchange SinglePartition", "CartesianProduct"))
    // hourly anomalies: the per-type stats table broadcasts onto the
    // hourly counts — no corpus reshuffle to meet |types| rows
    audit("anomaly_hours", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    // keyness: token-keyed equi-joins plus a group-partitioned top-k
    // window — no product join, no unpartitioned window over the vocab
    audit("keyness_terms",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop",
        "Exchange SinglePartition"))
    // retrieval metrics: rank-list-sized equi-joins; the k-row ideal-DCG
    // table broadcasts (its construction may single-partition k rows —
    // constant-sized by definition, not the data path)
    audit("retrieval_eval",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // k-truss: triangle enumeration is the canonical lo<hi EQUI-join
    // chain — a product join here is the quadratic bug
    audit("ktruss_edges",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // personalized PageRank: pageRank's per-round equi-join discipline
    audit("ppr_links",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // harmonic centrality: every BFS round is frontier ⋈ edges + a
    // visited anti-join — all equi-keyed, no product join
    audit("harmonic_links",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // funnel latency: the same user-keyed conditional-min chain
    audit("funnel_latency",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // histogram: the per-group bounds table must BROADCAST back onto
    // the value scan — bucketing is a projection, not a reshuffle
    audit("value_histogram", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    // rolling drift: type-keyed ROWS window + broadcast stats — the
    // hourly table never reshuffles to meet |types| rows
    audit("rolling_drift", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    // rank normalization: source-keyed window + broadcast sizes — no
    // unpartitioned window over the corpus
    audit("rank_normalize", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("Exchange SinglePartition", "CartesianProduct"))
    // OHLC: ONE hash aggregate (min/max over ordering structs) — no
    // window, no join anywhere
    audit("ohlc_bars",
      mustNotContain = Seq("Window", "Join", "CartesianProduct"))
    // TWA: user-keyed lead window, nothing global
    audit("time_weighted_avg",
      mustNotContain = Seq("Exchange SinglePartition", "CartesianProduct"))
    // assortativity: degree attach is two keyed equi-joins
    audit("assortativity_links",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // MMR: candidate generation is the knn scan; the greedy runs on
    // rank-list-sized groups — no product join anywhere
    audit("mmr_rerank",
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // streaming shape probed at plan level via its batch stats side:
    // the per-type stats broadcast; session paths ride the user window
    audit("session_paths",
      mustNotContain = Seq("CartesianProduct", "Exchange SinglePartition"))
    // PMI: pair generation self-joins the CAPPED per-doc token sets on
    // the doc key; df tables join on the token key — never a product
    audit("pmi_pairs", mustContain = Seq("TakeOrderedAndProject"),
      mustNotContain = Seq("CartesianProduct", "BroadcastNestedLoop"))
    // Zipf: one group-partitioned window + one fold — no global sort
    audit("zipf_slope",
      mustNotContain = Seq("CartesianProduct", "Exchange SinglePartition"))
    // round-11 gates: the KMV diversity path must plan as the object
    // hash aggregate (bounded bottom-k state, one grouped exchange) —
    // no Expand, no second distinct shuffle; the type-detection gate
    // is generate + pure projection, zero Exchange
    audit("distinct_ngrams_kmv", mustContain = Seq("ObjectHashAggregate"),
      mustNotContain = Seq("Expand", "CartesianProduct"))
    audit("f21_detect_type", mustNotContain = Seq("Exchange"))
    // incremental SemDeDup: the small arrival batch must BROADCAST
    // against the cluster-partitioned index — a sort-merge here would
    // shuffle the whole index on every arrival window
    audit("semdedup_incremental", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("SortMergeJoin", "CartesianProduct"))
    // round-10 function gates: all pure projections — zero Exchange
    audit("f11_unescape", mustNotContain = Seq("Exchange"))
    audit("f13_uniquify", mustNotContain = Seq("Exchange"))
    audit("f19_geometry_promote", mustNotContain = Seq("Exchange"))
    audit("p12_field_exclusion", mustNotContain = Seq("Exchange"))
    audit("f2_epoch_clamp", mustNotContain = Seq("Exchange"))
    audit("f24_key_path", mustNotContain = Seq("Exchange"))
    // abTest: the variant min/max table is 1 row — must broadcast, and
    // the user-keyed aggregate must be the only wide stage before it
    audit("ab_test", mustContain = Seq("BroadcastNestedLoopJoin"),
      mustNotContain = Seq("SortMergeJoin"))
    // whole-doc packing: per-class two-pass rank — the offsets join is
    // a broadcast, and NOTHING may run as a single-partition window
    audit("pack_whole_docs", mustContain = Seq("BroadcastHashJoin"),
      mustNotContain = Seq("Exchange SinglePartition", "SortMergeJoin",
        "Scan ExistingRDD"))

    // ERDDAP connector: COUNT/min/max(time) must be answered metadata-only
    // (complete aggregate pushdown → the erddap-agg scan) — a regression
    // here silently turns a zero-transfer probe into a full data fetch
    {
      import org.apache.spark.sql.functions._
      val fx = graft.sources.erddap.ErddapFixture.ensure()
      val erddap = spark.read.format("erddap")
        .option("dataDir", fx)
        .option("dataset", graft.sources.erddap.ErddapFixture.datasetId)
        .option("das", s"$fx/${graft.sources.erddap.ErddapFixture.datasetId}.das")
        .load()
      auditDf("erddap_agg_pushdown",
        erddap.agg(count(lit(1)).as("n"), min(col("time")).as("lo"),
          max(col("time")).as("hi")),
        mustContain = Seq("erddap-agg", "metadata only"), mustNotContain = Nil)
      // a pushed time filter must DISABLE the metadata path (answers change)
      auditDf("erddap_agg_declined_under_filter",
        erddap.filter(col("time") >= lit("2024-06-02 00:00:00").cast("timestamp"))
          .agg(count(lit(1)).as("n")),
        mustContain = Nil, mustNotContain = Seq("erddap-agg"))
      // NRT lifecycle window read: the 7-day moving window must compile
      // INTO the erddap scan (URL pushdown), not run as a post-scan
      // filter over a full fetch — the scan description prints the
      // pushed range as time=[lo,hi]
      auditDf("nrt_window_pushdown",
        graft.streaming.Nrt.movingWindow(erddap, "time",
          java.sql.Timestamp.valueOf("2024-06-04 00:00:00"), 7),
        mustContain = Seq("erddap", "time=["), mustNotContain = Nil)
    }

    if (failures.nonEmpty) {
      System.err.println("PLAN AUDIT FAILURES:\n" + failures.mkString("\n"))
      sys.exit(1)
    }
    println("plan audit: all assertions hold")
    spark.stop()
  }
}
