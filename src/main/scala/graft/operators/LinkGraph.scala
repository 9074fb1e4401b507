package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for web-crawl curation. Domain/page authority
  * is a standing quality signal in pretraining pipelines (crawl
  * frontier prioritization, per-domain quality weighting next to
  * [[TextAnalysis.capPerDomain]] and the robots/URL filters), and the
  * reference's catalog graph (dataset→item dependencies) asks the same
  * "who is pointed at by whom" question at small scale.
  *
  * PageRank here is the classic damped power iteration, Spark-shaped:
  * a FIXED number of iterations, each one distributed join + keyed
  * aggregation (shuffle keyed by destination — the same partitioning
  * every round, so AQE reuses the layout), with lineage truncated per
  * round via `localCheckpoint` so the plan never grows with the
  * iteration count — the same discipline as
  * [[Dedup.connectedComponents]]. Ranks and edges never visit the
  * driver; the only driver-side scalars are the node count and the
  * per-round dangling mass (one number each).
  */
object LinkGraph {

  /** Checkpoint CADENCE for the iterative loops: pin every k-th round
    * instead of every round (always pinning the final one). The
    * trajectory is identical — localCheckpoint only truncates lineage —
    * but each pin is a blocking materialization job, so cadence k cuts
    * the per-gate job count ~k× and lets k rounds' joins fuse into one
    * job, at the price of a k-deep plan between pins. Only loops with
    * NO per-round driver scalar defer (a scalar read forces the lazy
    * prefix per round — deferring would recompute it); pageRank/PPR
    * fall back to per-round pinning when the graph has dangling mass.
    * Parameterized (prop, then env, default 2 — the sf0.1 paired-A/B
    * winner, see OPTIMIZATION_r16.md; 1 restores round-15 behavior). */
  private def ckptCadence: Int =
    parseCadence(sys.props.getOrElse("graft.graph.ckptEvery",
      sys.env.getOrElse("SPARK_GRAFT_GRAPH_CKPT_EVERY", "2")))

  /** A cadence knob value raised to at least 1; a value that is not an
    * integer fails fast, naming the knob. */
  private[operators] def parseCadence(raw: String): Int =
    raw.trim.toIntOption match {
      case Some(k) => math.max(1, k)
      case None => throw new IllegalArgumentException(
        s"graft.graph.ckptEvery / SPARK_GRAFT_GRAPH_CKPT_EVERY must be an " +
          s"integer, got '$raw'")
    }

  /** Damped PageRank after exactly `iterations` rounds.
    *
    * Input `edges` is a directed edge list; duplicates are collapsed
    * (a page linking twice votes once — the convention crawl graphs
    * use). The node set is the union of sources, destinations, and
    * the optional `nodes` frame (isolated pages rank, they just
    * receive only the teleport share). Dangling nodes (no out-links)
    * spread their mass uniformly, so total rank stays 1 every round.
    *
    * rank_{t+1}(v) = (1−d)/N + d·( Σ_{(u,v)∈E} rank_t(u)/outdeg(u)
    *                               + dangling_t/N )
    *
    * Returns one row per node: (`idCol`, rank). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, damping: Double = 0.85,
      nodes: DataFrame = null, idCol: String = "id"): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    // pinned: e feeds the contribs join EVERY round, and each round is
    // its own job — without the pin the distinct's shuffle re-executes
    // per round (cross-job exchange reuse doesn't exist)
    val e = edges.select(col(srcCol).cast("long").as("_src"),
      col(dstCol).cast("long").as("_dst")).distinct().localCheckpoint(true)
    var all = e.select(col("_src").as("_id"))
      .unionByName(e.select(col("_dst").as("_id")))
    if (nodes != null)
      all = all.unionByName(nodes.select(col(nodes.columns.head)
        .cast("long").as("_id")))
    val nodeIds = all.distinct().localCheckpoint(true)
    val n = nodeIds.count()
    if (n == 0) {
      // empty graph: the returned frame reads only nodeIds, so the edge
      // snapshot has no remaining consumer — release it here or its
      // blocks outlive the call on a long-lived session
      Snapshots.release(e)
      return nodeIds.select(col("_id").as(idCol), lit(0.0).as("rank"))
    }
    // out-degrees once; nodes absent here are dangling
    val deg = e.groupBy("_src").agg(count(lit(1)).as("_deg"))
      .localCheckpoint(true)
    // whether dangling nodes exist at all is decided ONCE — when the
    // graph has none (the common case after crawl preprocessing), no
    // per-round pass computes a mass that is identically zero
    val hasDangling = nodeIds.join(deg,
      nodeIds("_id") === deg("_src"), "left_anti").limit(1).count() > 0
    var ranks = nodeIds.withColumn("_rank", lit(1.0 / n))
    // a dangling graph reads a driver scalar every round, which forces
    // the lazy prefix — deferring pins would recompute it, so the
    // cadence only applies to dangling-free graphs (one consumer per
    // round state: the next round's contribs join)
    val every = if (hasDangling) 1 else ckptCadence
    var lastPin: DataFrame = null
    var sincePin = 0
    var it = 0
    while (it < iterations) {
      val withDeg = ranks.join(deg,
        ranks("_id") === deg("_src"), "left")
        .select(col("_id"), col("_rank"), col("_deg"))
      // dangling mass: one scalar to the driver per round
      val dangling =
        if (!hasDangling) 0.0
        else withDeg.filter(col("_deg").isNull)
          .agg(coalesce(sum(col("_rank")), lit(0.0))).head().getDouble(0)
      val contribs = e
        .join(withDeg.filter(col("_deg").isNotNull),
          e("_src") === withDeg("_id"))
        .select(col("_dst").as("_id"),
          (col("_rank") / col("_deg")).as("_c"))
        .groupBy("_id").agg(sum(col("_c")).as("_c"))
      ranks = nodeIds.join(contribs, Seq("_id"), "left")
        .select(col("_id"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("_c"), lit(0.0)) + lit(dangling / n)))
            .as("_rank"))
      sincePin += 1
      if (sincePin >= every || it == iterations - 1) {
        ranks = ranks.localCheckpoint(true) // truncate lineage
        // superseded round state: free its blocks
        if (lastPin != null) Snapshots.release(lastPin)
        lastPin = ranks
        sincePin = 0
      }
      it += 1
    }
    // iterations >= 1 ⇒ the final ranks is its own pinned snapshot, so
    // the scaffolding pins have no remaining consumer
    Snapshots.release(e); Snapshots.release(deg); Snapshots.release(nodeIds)
    ranks.select(col("_id").as(idCol), col("_rank").as("rank"))
  }

  /** PERSONALIZED PageRank (topic-sensitive PageRank, Haveliwala 2002,
    * public): teleport lands on the `sources` set instead of uniformly —
    * the random surfer restarts at a source with probability 1−d, and
    * dangling mass likewise returns to the sources. Rank concentrates
    * around the seed neighborhood, which is the standard seed-expansion
    * primitive (related-page discovery, trust propagation, local
    * community scoring over a crawl graph).
    *
    * rank_{t+1}(v) = (1−d)·p(v) + d·( Σ_{(u,v)∈E} rank_t(u)/outdeg(u)
    *                                  + dangling_t·p(v) )
    * with p(v) = 1/|S| for v ∈ S, else 0; rank_0 = p.
    *
    * Same execution discipline as [[pageRank]]: out-degrees once,
    * dangling decided once, one keyed shuffle per round,
    * `localCheckpoint` truncating lineage; the personalization vector
    * is a 0/1 flag joined once up front, never re-derived per round.
    * Total mass stays 1 every round. Deterministic — an external SQL
    * engine can unroll the identical rounds. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, sources: DataFrame, iterations: Int = 5,
      damping: Double = 0.85, nodes: DataFrame = null,
      idCol: String = "id"): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    // pinned for the same reason as [[pageRank]]: consumed every round
    val e = edges.select(col(srcCol).cast("long").as("_src"),
      col(dstCol).cast("long").as("_dst")).distinct().localCheckpoint(true)
    var all = e.select(col("_src").as("_id"))
      .unionByName(e.select(col("_dst").as("_id")))
    if (nodes != null)
      all = all.unionByName(nodes.select(col(nodes.columns.head)
        .cast("long").as("_id")))
    val nodeIds = all.distinct().localCheckpoint(true)
    val src = sources.select(col(sources.columns.head).cast("long")
      .as("_id")).distinct()
    // sources outside the node universe carry no meaning — drop them so
    // p sums to 1 over actual nodes
    val inGraph = src.join(nodeIds, "_id").localCheckpoint(true)
    val nS = inGraph.count()
    require(nS > 0, "personalization set shares no node with the graph")
    val withP = nodeIds.join(inGraph.withColumn("_isS", lit(1)),
        Seq("_id"), "left")
      .select(col("_id"), when(col("_isS").isNotNull, lit(1.0 / nS))
        .otherwise(lit(0.0)).as("_p"))
      .localCheckpoint(true)
    val deg = e.groupBy("_src").agg(count(lit(1)).as("_deg"))
      .localCheckpoint(true)
    val hasDangling = nodeIds.join(deg,
      nodeIds("_id") === deg("_src"), "left_anti").limit(1).count() > 0
    var ranks = withP.withColumn("_rank", col("_p"))
    // same cadence rule as [[pageRank]]: defer pins only when no
    // per-round dangling scalar forces the lazy prefix
    val every = if (hasDangling) 1 else ckptCadence
    var lastPin: DataFrame = null
    var sincePin = 0
    var it = 0
    while (it < iterations) {
      val withDeg = ranks.join(deg,
        ranks("_id") === deg("_src"), "left")
        .select(col("_id"), col("_rank"), col("_deg"))
      val dangling =
        if (!hasDangling) 0.0
        else withDeg.filter(col("_deg").isNull)
          .agg(coalesce(sum(col("_rank")), lit(0.0))).head().getDouble(0)
      val contribs = e
        .join(withDeg.filter(col("_deg").isNotNull),
          e("_src") === withDeg("_id"))
        .select(col("_dst").as("_id"),
          (col("_rank") / col("_deg")).as("_c"))
        .groupBy("_id").agg(sum(col("_c")).as("_c"))
      ranks = withP.join(contribs, Seq("_id"), "left")
        .select(col("_id"), col("_p"),
          (lit(1.0 - damping) * col("_p") + lit(damping) *
            (coalesce(col("_c"), lit(0.0)) + lit(dangling) * col("_p")))
            .as("_rank"))
      sincePin += 1
      if (sincePin >= every || it == iterations - 1) {
        ranks = ranks.localCheckpoint(true)
        if (lastPin != null) Snapshots.release(lastPin)
        lastPin = ranks
        sincePin = 0
      }
      it += 1
    }
    Snapshots.release(e); Snapshots.release(deg); Snapshots.release(nodeIds)
    Snapshots.release(inGraph); Snapshots.release(withP)
    ranks.select(col("_id").as(idCol), col("_rank").as("rank"))
  }

  /** Synchronous LABEL PROPAGATION after exactly `iterations` rounds —
    * community detection over the UNDIRECTED form of the edge list
    * (mirror-dup steps 1-2): every node starts labeled with its own
    * id and each round adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label, keeping its current label
    * only when it has no neighbors. The node universe is the edge
    * endpoints plus the optional `nodes` frame (PageRank's
    * convention) — pass `nodes` to keep isolated documents in the
    * output with their own id as label. Fully deterministic (synchronous
    * update + min-tie-break — no randomized vertex order), so an
    * independent SQL engine replays the identical rounds; the known
    * trade is that bipartite structures can OSCILLATE under
    * synchronous updates (run an even/odd iteration pair when that
    * matters) — the price of reproducibility vs the classic
    * randomized-asynchronous formulation.
    *
    * Scale shape per round: one join keyed on the edge endpoint + one
    * (dst, label) count aggregate + one max_by — the PageRank
    * discipline (same keyed shuffles every round, `localCheckpoint`
    * truncating lineage so the plan never grows). Labels and edges
    * never visit the driver. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, idCol: String = "id",
      nodes: DataFrame = null): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val (und, nodeIds) = lpPrep(edges, srcCol, dstCol, nodes)
    val labels = lpRounds(und, nodeIds.withColumn("_lbl", col("_id")),
      iterations)
    // iterations >= 1 ⇒ labels is a pinned round output, so the lpPrep
    // scaffolding is dead
    Snapshots.release(und); Snapshots.release(nodeIds)
    labels.select(col("_id").as(idCol), col("_lbl").as("label"))
  }

  /** [[labelPropagation]] hardened against the synchronous-update
    * oscillation: bipartite structures (even cycles, two-tier
    * link graphs) can flip between two label states forever under
    * synchronous rounds, so a fixed iteration count reads whichever
    * phase it happened to stop in. This variant runs ONE extra round
    * and compares: `stable` = the two consecutive states agree, and
    * `label` = the smaller of the pair — a phase-independent, fully
    * deterministic resolution (both phases of a 2-cycle yield the same
    * min, so an oscillating even cycle resolves to one community
    * instead of a coin-flip on the iteration parity). Costs exactly
    * one additional round over [[labelPropagation]]; same per-round
    * scale shape. */
  def labelPropagationStable(edges: DataFrame, srcCol: String,
      dstCol: String, iterations: Int = 3, idCol: String = "id",
      nodes: DataFrame = null): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val (und, nodeIds) = lpPrep(edges, srcCol, dstCol, nodes)
    val even = lpRounds(und, nodeIds.withColumn("_lbl", col("_id")),
      iterations)
    val odd = lpRounds(und, even, 1)
    Snapshots.release(und); Snapshots.release(nodeIds)
    even.join(odd.select(col("_id"), col("_lbl").as("_lbl2")), Seq("_id"))
      .select(col("_id").as(idCol),
        least(col("_lbl"), col("_lbl2")).as("label"),
        (col("_lbl") === col("_lbl2")).as("stable"))
  }

  /** HITS hubs & authorities (Kleinberg) after exactly `iterations`
    * rounds — the complementary authority signal to [[pageRank]]: a
    * page is a good AUTHORITY when good hubs point at it, a good HUB
    * when it points at good authorities. Crawl curation uses both
    * (directory/index pages are hubs worth frontier priority; content
    * pages are authorities worth quality weight).
    *
    * Engine-portable determinism: each half-round normalizes by the
    * MAX score (a deterministic reduction — no cross-engine
    * summation-order noise, unlike an L1/L2 norm) and rounds to 6
    * decimals, so every round starts from bit-identical inputs in any
    * engine — the same per-round pinning discipline as the logreg
    * trainer. Per-node sums carry ~1e-16 relative ordering noise that
    * a 6-dp rounding absorbs with ten orders of margin.
    *
    * Scale shape per half-round: one equi-join keyed on the edge
    * endpoint + one keyed sum + one scalar max to the driver (the
    * PageRank dangling-mass discipline), lineage checkpoint-truncated
    * so the plan never grows with the iteration count. Scores and
    * edges never visit the driver.
    *
    * Returns one row per node: (`idCol`, hub, authority), each in
    * [0, 1] with at least one node at exactly 1.0 (when any edge
    * exists; an edgeless graph scores all zeros). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, nodes: DataFrame = null,
      idCol: String = "id"): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(col(srcCol).cast("long").as("_src"),
      col(dstCol).cast("long").as("_dst")).distinct().localCheckpoint(true)
    var all = e.select(col("_src").as("_id"))
      .unionByName(e.select(col("_dst").as("_id")))
    if (nodes != null)
      all = all.unionByName(nodes.select(col(nodes.columns.head)
        .cast("long").as("_id")))
    val nodeIds = all.distinct().localCheckpoint(true)
    var hubs = nodeIds.withColumn("_s", lit(1.0))
    var auths = nodeIds.withColumn("_s", lit(0.0))
    var it = 0
    while (it < iterations) {
      // auth(v) = Σ hub(u) over in-edges, max-normalized + 6-dp pinned
      val prevAuths = auths
      auths = hitsHalfRound(e, hubs, nodeIds, "_src", "_dst")
      Snapshots.release(prevAuths)
      // hub(u) = Σ auth(v) over out-edges
      val prevHubs = hubs
      hubs = hitsHalfRound(e, auths, nodeIds, "_dst", "_src")
      Snapshots.release(prevHubs)
      it += 1
    }
    // the final hubs/auths are pinned half-round outputs; the edge and
    // node scaffolding has no remaining consumer
    Snapshots.release(e); Snapshots.release(nodeIds)
    hubs.select(col("_id"), col("_s").as("hub"))
      .join(auths.select(col("_id"), col("_s").as("authority")), Seq("_id"))
      .select(col("_id").as(idCol), col("hub"), col("authority"))
  }

  /** One HITS half-round: propagate `scores` (columns `_id`, `_s`)
    * across the edge from `fromCol` to `toCol`, sum per target,
    * normalize by the max (scalar to the driver), round to 6 dp. */
  private def hitsHalfRound(e: DataFrame, scores: DataFrame,
      nodeIds: DataFrame, fromCol: String, toCol: String): DataFrame = {
    val sums = e.join(scores, e(fromCol) === scores("_id"))
      .groupBy(col(toCol).as("_id")).agg(sum(col("_s")).as("_sum"))
    // r15 (guide §2.4): `sums` — the half-round's real work (the
    // propagate join + keyed aggregate) — is PINNED before the scalar
    // max is read, where it used to be a lazy tree evaluated TWICE per
    // half-round: once by the `.head()` scalar job and once, in full,
    // by the checkpoint job (separate jobs share no exchanges). The
    // scalar read and the normalize+checkpoint now both scan the pin;
    // the pin is released as soon as the normalized state is pinned.
    val sumsPinned = sums.localCheckpoint(true)
    try {
      val m = sumsPinned.agg(coalesce(max(col("_sum")), lit(0.0)))
        .head().getDouble(0)
      val norm =
        if (m <= 0.0) lit(0.0)
        else round(coalesce(col("_sum"), lit(0.0)) / lit(m), 6)
      nodeIds.join(sumsPinned, Seq("_id"), "left")
        .select(col("_id"), norm.as("_s")).localCheckpoint(true)
    } finally Snapshots.release(sumsPinned)
  }

  /** Per-node TRIANGLE COUNTS, degree, and local clustering
    * coefficient over the undirected, de-duplicated form of the edge
    * list — the classic graph-quality signals (spam link farms show
    * abnormal clustering; community cores show high counts).
    *
    * Scale shape — degree-ordered orientation (the node-iterator++
    * bound): every canonical edge {a,b} is oriented from the
    * lower-(degree, id) endpoint to the higher, which caps every
    * out-neighborhood at O(√m), so the wedge self-join on the shared
    * source enumerates O(m^1.5) candidate wedges worst-case instead of
    * Σ deg² (a single celebrity node with 10M in-links would otherwise
    * explode one reduce task quadratically). Each triangle {a≺b≺c} is
    * found exactly once as wedge (a→b, a→c) closed by the oriented
    * edge b→c. Three equi-joins + two keyed aggregates; nothing
    * touches the driver.
    *
    * Returns one row per node: (`idCol`, triangles, degree, lcc) with
    * lcc = 2·T / (deg·(deg−1)) and 0.0 when degree < 2. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      idCol: String = "id", nodes: DataFrame = null): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("_a"),
      col(dstCol).cast("long").as("_b")).filter(col("_a") =!= col("_b"))
    val und = raw.select(least(col("_a"), col("_b")).as("_lo"),
      greatest(col("_a"), col("_b")).as("_hi")).distinct()
      .localCheckpoint(true)
    var all = und.select(col("_lo").as("_id"))
      .unionByName(und.select(col("_hi").as("_id")))
    if (nodes != null)
      all = all.unionByName(nodes.select(col(nodes.columns.head)
        .cast("long").as("_id")))
    val nodeIds = all.distinct()
    val deg = und.select(col("_lo").as("_id"))
      .unionByName(und.select(col("_hi").as("_id")))
      .groupBy("_id").agg(count(lit(1)).as("_deg")).localCheckpoint(true)
    // orient each edge from the (deg, id)-smaller endpoint; the target
    // keeps its degree so the wedge stage can order targets without a
    // second degree join
    val lower = struct(col("_dlo").as("d"), col("_lo").as("n"))
    val higher = struct(col("_dhi").as("d"), col("_hi").as("n"))
    val o = und
      .join(deg.select(col("_id").as("_lo"), col("_deg").as("_dlo")), "_lo")
      .join(deg.select(col("_id").as("_hi"), col("_deg").as("_dhi")), "_hi")
      .select(when(lower < higher, col("_lo")).otherwise(col("_hi")).as("_u"),
        when(lower < higher, higher).otherwise(lower).as("_v"))
      .localCheckpoint(true)
    // wedges (u→x, u→y) with x ≺ y, closed by the oriented edge x→y
    val tri = o.select(col("_u"), col("_v").as("_x"))
      .join(o.select(col("_u"), col("_v").as("_y")), Seq("_u"))
      .filter(col("_x") < col("_y"))
      .select(col("_u").as("_n1"), col("_x").getField("n").as("_xn"),
        col("_y").getField("n").as("_yn"))
      .join(o.select(col("_u").as("_xn"),
        col("_v").getField("n").as("_yn")), Seq("_xn", "_yn"))
    val perNode = tri
      .select(explode(array(col("_n1"), col("_xn"), col("_yn"))).as("_id"))
      .groupBy("_id").agg(count(lit(1)).as("_tri"))
    nodeIds.join(perNode, Seq("_id"), "left").join(deg, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("_tri"), lit(0L)).as("triangles"),
        coalesce(col("_deg"), lit(0L)).as("degree"),
        when(coalesce(col("_deg"), lit(0L)) >= 2,
          lit(2.0) * coalesce(col("_tri"), lit(0L)) /
            (col("_deg") * (col("_deg") - lit(1L))))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** Undirected mirrored edge set (self-loops dropped) + the node
    * universe — shared preamble of the LP variants. */
  /** K-core number (coreness) of every node via the H-INDEX FIXPOINT
    * (Lü/Zhou/Zhang/Stanley, PNAS 2016 — public result): start from
    * degree and repeatedly replace each node's value with the H-index
    * of its neighbors' values (the largest h such that ≥ h neighbors
    * hold value ≥ h). The sequence is monotone non-increasing and
    * converges to the classic peeling coreness — but unlike peeling
    * (inherently sequential: remove min-degree nodes one wave at a
    * time, O(max-core) dependent waves), every round here is ONE
    * distributed equi-join + ONE keyed aggregation, the same
    * shuffle key (`_dst`) every round so the layout is reused, and
    * rounds needed in practice ≈ graph diameter.
    *
    * Coreness is the standing crawl-graph spam/quality signal next to
    * [[pageRank]]: link farms inflate degree and even PageRank, but a
    * farm whose members all point at one page cannot inflate that
    * page's coreness past the farm's own internal density.
    *
    * The per-node H-index is computed with a row_number window over
    * neighbor values (`max(rn where nh ≥ rn)`) — no per-node array
    * collect, so a hot node's neighbor list spills instead of
    * living in one aggregation buffer. Lineage is checkpoint-
    * truncated per round like every iterative operator here.
    *
    * Runs EXACTLY `iterations` rounds (deterministic trajectory — an
    * external oracle can unroll the same rounds); init = degree means
    * values only move down, so extra rounds past convergence are
    * no-ops. Returns (`idCol`, coreness). */
  def coreness(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8, nodes: DataFrame = null,
      idCol: String = "id"): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val (und, allNodes) = lpPrep(edges, srcCol, dstCol, nodes)
    val deg = und.groupBy(col("_dst").as("_id")).agg(count(lit(1)).as("_h"))
    var h = allNodes.join(deg, Seq("_id"), "left")
      .select(col("_id"), coalesce(col("_h"), lit(0L)).as("_h"))
      .localCheckpoint(true)
    // no per-round driver scalar here, so rounds between pins stay
    // lazy and fuse into the next pin's job (cadence doc at the top)
    val every = ckptCadence
    var lastPin = h
    var sincePin = 0
    var it = 0
    while (it < iterations) {
      val nbr = und.join(h, und("_src") === h("_id"))
        .select(col("_dst").as("_id"), col("_h").as("_nh"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("_id").orderBy(col("_nh").desc)
      val hNew = nbr
        .withColumn("_rn", row_number().over(w).cast("long"))
        .groupBy("_id")
        .agg(max(when(col("_nh") >= col("_rn"), col("_rn"))
          .otherwise(0L)).as("_hn"))
      h = h.join(hNew, Seq("_id"), "left")
        .select(col("_id"), coalesce(col("_hn"), lit(0L)).as("_h"))
      sincePin += 1
      if (sincePin >= every || it == iterations - 1) {
        h = h.localCheckpoint(true)
        // the superseded pin fed only the lazy chain just materialized
        Snapshots.release(lastPin)
        lastPin = h
        sincePin = 0
      }
      it += 1
    }
    Snapshots.release(und); Snapshots.release(allNodes)
    h.select(col("_id").as(idCol), col("_h").as("coreness"))
  }

  /** K-TRUSS edge filter (Cohen 2008, public): keep edges supported by
    * at least `k−2` triangles among the SURVIVING edges — iterated, so
    * removing a weak edge can cascade its neighbors out. The edge-level
    * cohesion complement of [[coreness]]: a k-core can be held together
    * by one hub, a k-truss cannot — every edge must sit in dense
    * triangles, which is why truss filtering isolates genuinely
    * interlinked communities (and link farms, which fake degree but
    * rarely fake mutual triangles).
    *
    * Each round is the canonical lo<hi triangle enumeration (every
    * triangle found exactly once — the [[triangleCounts]] join shape)
    * → a 3-way union + keyed count for per-edge support → one filter;
    * lineage checkpoint-truncated per round. Runs EXACTLY `rounds`
    * rounds (deterministic trajectory — unrollable by an external
    * oracle); support only shrinks, so rounds past the fixpoint are
    * no-ops. Returns the surviving undirected edges (lo < hi). */
  def kTrussEdges(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 3, "k must be >= 3")
    require(rounds >= 1, "rounds must be >= 1")
    val dir = edges.select(col(srcCol).cast("long").as("_a"),
      col(dstCol).cast("long").as("_b"))
    var und = dir.select(least(col("_a"), col("_b")).as("lo"),
        greatest(col("_a"), col("_b")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct().localCheckpoint(true)
    // EXCLUDED from the checkpoint cadence: each round reads the
    // previous survivor set on FOUR sides under THREE different join
    // keys (b / (a,c) / (lo,hi)), so a deferred (lazy) previous round
    // would re-execute once per reference — exchange reuse only
    // dedupes identically-keyed exchanges. Per-round pinning keeps
    // each round's triangle enumeration single-evaluation.
    var it = 0
    while (it < rounds) {
      val e1 = und.select(col("lo").as("a"), col("hi").as("b"))
      val e2 = und.select(col("lo").as("b"), col("hi").as("c"))
      val e3 = und.select(col("lo").as("a"), col("hi").as("c"))
      val tri = e1.join(e2, "b").join(e3, Seq("a", "c"))
      val sup = tri.select(col("a").as("lo"), col("b").as("hi"))
        .unionAll(tri.select(col("b").as("lo"), col("c").as("hi")))
        .unionAll(tri.select(col("a").as("lo"), col("c").as("hi")))
        .groupBy("lo", "hi").agg(count(lit(1)).as("_s"))
      val prev = und
      und = und.join(sup, Seq("lo", "hi"), "left")
        .filter(coalesce(col("_s"), lit(0L)) >= k - 2)
        .select("lo", "hi").localCheckpoint(true)
      Snapshots.release(prev)
      it += 1
    }
    und
  }

  /** BOUNDED-RADIUS HARMONIC CENTRALITY (Boldi & Vigna 2014, "Axioms
    * for centrality" — public): Σ_{0 < d(u,v) ≤ maxDist} 1/d(u,v) over
    * the UNDIRECTED graph, the closeness variant that handles
    * disconnected graphs gracefully. The radius bound is the
    * production trade: exact all-pairs distances are Θ(n·m), while a
    * 2–4 hop horizon answers "how locally central is this page"
    * with a cost bounded by the frontier sizes — the same truncation
    * web-graph tooling applies before reaching for HyperBall sketches.
    *
    * Per round: one frontier ⋈ edges equi-join + a visited anti-join +
    * distinct, checkpoint-truncated — frontiers never visit the
    * driver. The final score is Σ_d count_d / d with count_d exact
    * integers, so any engine replaying the same expression lands on
    * identical doubles (6 dp emitted).
    *
    * Returns (`idCol`, harmonic) for every node (isolated nodes from
    * the optional `nodes` frame score 0). */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      maxDist: Int = 3, nodes: DataFrame = null,
      idCol: String = "id"): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val dir = edges.select(col(srcCol).cast("long").as("_a"),
      col(dstCol).cast("long").as("_b"))
    val und = dir.unionByName(dir.select(col("_b").as("_a"),
        col("_a").as("_b")))
      .filter(col("_a") =!= col("_b")).distinct().localCheckpoint(true)
    var all = und.select(col("_a").as("_id"))
    if (nodes != null)
      all = all.unionByName(nodes.select(col(nodes.columns.head)
        .cast("long").as("_id")))
    val nodeIds = all.distinct().localCheckpoint(true)
    var visited = und.select(col("_a").as("_u"), col("_b").as("_v"))
      .withColumn("_d", lit(1)).localCheckpoint(true)
    var frontier = visited.select("_u", "_v")
    var lastNext: DataFrame = null
    var d = 2
    while (d <= maxDist) {
      val next = frontier.join(und, frontier("_v") === und("_a"))
        .select(col("_u"), col("_b").as("_v"))
        .filter(col("_u") =!= col("_v")).distinct()
        .join(visited.select("_u", "_v"), Seq("_u", "_v"), "left_anti")
        .withColumn("_d", lit(d)).localCheckpoint(true)
      // the prior round's frontier pin fed this `next` (eager) and
      // nothing else — dead now; same for the superseded visited union
      if (lastNext != null) Snapshots.release(lastNext)
      val prevVisited = visited
      visited = visited.unionByName(next).localCheckpoint(true)
      Snapshots.release(prevVisited)
      lastNext = next
      frontier = next.select("_u", "_v")
      d += 1
    }
    if (lastNext != null) Snapshots.release(lastNext)
    Snapshots.release(und)
    // Σ_d n_d / d from exact per-distance counts, ascending d
    val distCounts = (1 to maxDist).map(dd =>
      sum(when(col("_d") === dd, 1L).otherwise(0L)).as(s"_n$dd"))
    val perDist = visited.groupBy(col("_u"))
      .agg(distCounts.head, distCounts.tail: _*)
    val score = (1 to maxDist).map(dd =>
      col(s"_n$dd").cast("double") / lit(dd.toDouble))
      .reduce(_ + _)
    nodeIds.join(perDist, nodeIds("_id") === perDist("_u"), "left")
      .select(col("_id").as(idCol),
        round(coalesce(score, lit(0.0)), 6).as("harmonic"))
  }

  /** DEGREE ASSORTATIVITY (Newman 2002, "Assortative mixing in
    * networks" — public): the Pearson correlation of endpoint degrees
    * over the undirected edge list (each edge counted in both
    * directions, the standard convention). Positive = hubs link hubs
    * (social graphs), negative = hubs link leaves (the web, most crawl
    * graphs) — a one-number structure diagnostic that distinguishes
    * organic link topology from farm-like regularity.
    *
    * All sums are exact integers (degrees × degrees), one keyed join to
    * attach degrees + one global fold — the correlation itself is three
    * final float operations with a pinned order, so engines agree at
    * 6 dp. Returns a single row (m_directed, r). */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val dir = edges.select(col(srcCol).cast("long").as("_a"),
      col(dstCol).cast("long").as("_b"))
    val und = dir.unionByName(dir.select(col("_b").as("_a"),
        col("_a").as("_b")))
      .filter(col("_a") =!= col("_b")).distinct()
    val deg = und.groupBy(col("_a").as("_id"))
      .agg(count(lit(1)).as("_deg"))
    val withDegs = und
      .join(deg.select(col("_id").as("_a"), col("_deg").as("_da")), "_a")
      .join(deg.select(col("_id").as("_b"), col("_deg").as("_db")), "_b")
    val agg = withDegs.agg(count(lit(1)).as("m"),
      sum(col("_da")).as("_sx"), sum(col("_db")).as("_sy"),
      sum(col("_da") * col("_db")).as("_sxy"),
      sum(col("_da") * col("_da")).as("_sxx"),
      sum(col("_db") * col("_db")).as("_syy"))
    val num = col("m").cast("double") * col("_sxy") - col("_sx") * col("_sy")
    val den = sqrt((col("m").cast("double") * col("_sxx") -
        col("_sx") * col("_sx")) *
      (col("m").cast("double") * col("_syy") - col("_sy") * col("_sy")))
    agg.select(col("m"),
      round(when(den === 0.0, 0.0).otherwise(num / den), 6).as("r"))
  }

  /** RECIPROCITY: the fraction of directed edges whose reverse edge
    * also exists (self-loops and duplicate edges dropped first) — the
    * classic directed-graph mutuality measure; crawl graphs sit low,
    * social/citation-ring structures high. One distinct + one
    * self-semi-join on the flipped key; exact integer counts. */
  def reciprocity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("_a"),
        col(dstCol).cast("long").as("_b"))
      .filter(col("_a") =!= col("_b")).distinct().localCheckpoint(true)
    val mutual = e.join(
      e.select(col("_b").as("_a"), col("_a").as("_b")),
      Seq("_a", "_b"), "left_semi")
    val m = e.count()
    val r = mutual.count()
    val spark = edges.sparkSession
    import spark.implicits._
    Seq((m, r)).toDF("m", "mutual")
      .select(col("m"), col("mutual"),
        round(when(col("m") === 0, 0.0)
          .otherwise(col("mutual").cast("double") / col("m")), 6)
          .as("reciprocity"))
  }

  /** Members of the k-core: nodes whose [[coreness]] ≥ `k`. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      iterations: Int = 8, nodes: DataFrame = null,
      idCol: String = "id"): DataFrame =
    coreness(edges, srcCol, dstCol, iterations, nodes, idCol)
      .filter(col("coreness") >= k)

  private def lpPrep(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame): (DataFrame, DataFrame) = {
    val dir = edges.select(col(srcCol).cast("long").as("_src"),
      col(dstCol).cast("long").as("_dst"))
    val und = dir.unionByName(dir.select(col("_dst").as("_src"),
      col("_src").as("_dst"))).distinct()
      .filter(col("_src") =!= col("_dst")).localCheckpoint(true)
    // the node universe: edge endpoints plus the optional `nodes`
    // frame (the PageRank convention) — an isolated node (no non-self
    // edges) keeps its own id as its label, it is not dropped
    var allNodes = und.select(col("_src").as("_id"))
    if (nodes != null)
      allNodes = allNodes.unionByName(nodes
        .select(col(nodes.columns.head).cast("long").as("_id")))
    (und, allNodes.distinct().localCheckpoint(true))
  }

  /** `rounds` synchronous vote rounds from `labels0` (columns `_id`,
    * `_lbl`); each round checkpoints to keep the plan flat. */
  private def lpRounds(und: DataFrame, labels0: DataFrame,
      rounds: Int): DataFrame = {
    var labels = labels0
    // scalar-free loop → rounds between pins stay lazy (cadence doc at
    // the top); the final round ALWAYS pins, so callers still receive
    // a snapshot they can keep after the scaffolding is released
    val every = ckptCadence
    var lastPin = labels0
    var sincePin = 0
    var it = 0
    while (it < rounds) {
      // neighbor labels: one equi-join on the edge source
      val votes = und.join(labels, und("_src") === labels("_id"))
        .groupBy(col("_dst").as("_id"), col("_lbl"))
        .agg(count(lit(1)).as("_n"))
      // most frequent label, ties to the smallest label value
      val winner = votes.groupBy("_id")
        .agg(min_by(col("_lbl"),
          struct((-col("_n")).as("a"), col("_lbl").as("b"))).as("_new"))
      labels = labels.join(winner, Seq("_id"), "left")
        .select(col("_id"), coalesce(col("_new"), col("_lbl")).as("_lbl"))
      sincePin += 1
      if (sincePin >= every || it == rounds - 1) {
        labels = labels.localCheckpoint(true)
        // superseded round state — but never the CALLER's labels0 (the
        // stable variant feeds one lpRounds output into another and
        // still reads the first afterwards)
        if (lastPin ne labels0) Snapshots.release(lastPin)
        lastPin = labels
        sincePin = 0
      }
      it += 1
    }
    labels
  }
}
