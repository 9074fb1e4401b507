package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** PageRank vs an independent in-test reference implementation, plus
  * the structural invariants (mass conservation, dangling handling,
  * duplicate collapse, isolated nodes). */
class LinkGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Dense reference PageRank over node ids 0..n-1. */
  private def reference(n: Int, edges: Seq[(Int, Int)], iters: Int,
      d: Double = 0.85): Array[Double] = {
    val uniq = edges.distinct
    val out = Array.fill(n)(0)
    uniq.foreach { case (s, _) => out(s) += 1 }
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val next = Array.fill(n)((1.0 - d) / n)
      val dangling = (0 until n).filter(out(_) == 0).map(r).sum
      for (v <- 0 until n) next(v) += d * dangling / n
      uniq.foreach { case (s, t) => next(t) += d * r(s) / out(s) }
      r = next
    }
    r
  }

  private def run(edges: Seq[(Int, Int)], iters: Int,
      nodes: Seq[Int] = Nil): Map[Long, Double] = {
    val e = edges.toDF("src", "dst")
    val nd = if (nodes.isEmpty) null else nodes.toDF("id")
    LinkGraph.pageRank(e, "src", "dst", iters, nodes = nd)
      .as[(Long, Double)].collect().toMap
  }

  test("checkpoint cadence knob: raised to at least 1; a malformed value fails naming the knob") {
    assert(LinkGraph.parseCadence("2") == 2)
    assert(LinkGraph.parseCadence(" 3 ") == 3)
    assert(LinkGraph.parseCadence("0") == 1)
    assert(LinkGraph.parseCadence("-5") == 1)
    Seq("", "two", "2.5", "99999999999").foreach { raw =>
      val e = intercept[IllegalArgumentException](LinkGraph.parseCadence(raw))
      assert(e.getMessage.contains("SPARK_GRAFT_GRAPH_CKPT_EVERY") &&
        e.getMessage.contains(s"'$raw'"), raw)
    }
  }

  test("matches the dense reference on a mixed graph with dangling nodes") {
    // 0→1, 0→2, 1→2, 2→0, 3 dangling, 4→0 ; node 5 isolated (via nodes)
    val edges = Seq((0, 1), (0, 2), (1, 2), (2, 0), (4, 0), (0, 1) /* dup */)
    for (iters <- Seq(1, 3, 10)) {
      val got = run(edges, iters, nodes = Seq(3, 5))
      val want = reference(6, edges, iters)
      assert(got.size == 6)
      for (v <- 0 until 6)
        assert(math.abs(got(v.toLong) - want(v)) < 1e-12, s"node $v iters $iters")
      assert(math.abs(got.values.sum - 1.0) < 1e-9, "mass conserved")
    }
  }

  test("symmetric cycle converges to uniform; star concentrates on the hub") {
    val cycle = run(Seq((0, 1), (1, 2), (2, 0)), 8)
    cycle.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
    val starEdges = Seq((1, 0), (2, 0), (3, 0), (0, 1))
    val star = run(starEdges, 10)
    val want = reference(4, starEdges, 10)
    for (v <- 0 until 4)
      assert(math.abs(star(v.toLong) - want(v)) < 1e-12, s"node $v")
    // the leaves tie and rank below both the hub and its sole target
    assert(math.abs(star(2L) - star(3L)) < 1e-12, "leaves tie")
    assert(star(2L) < star(0L) && star(2L) < star(1L))
  }

  test("all-dangling graph: teleport-only fixed point stays uniform") {
    // nodes exist only through the nodes frame; no edges at all
    val got = run(Seq.empty[(Int, Int)], 4, nodes = Seq(0, 1, 2, 3))
    got.values.foreach(v => assert(math.abs(v - 0.25) < 1e-12))
  }

  test("label propagation: two cliques joined by one bridge resolve to two labels") {
    import spark.implicits._
    // cliques {0,1,2} and {10,11,12}, one bridge 2-10
    val clique = (a: Seq[Long]) =>
      for (x <- a; y <- a if x < y) yield (x, y)
    val edges = (clique(Seq(0L, 1L, 2L)) ++ clique(Seq(10L, 11L, 12L)) ++
      Seq((2L, 10L))).toDF("src", "dst")
    val got = LinkGraph.labelPropagation(edges, "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique is internally uniform and the two communities stay
    // distinct (the bridge node's ORIGINAL id may be the label that
    // wins a clique — synchronous min-tie-break leaks it in round 1 —
    // so assert community structure, not specific label values)
    assert(Seq(0L, 1L, 2L).map(got).distinct.size == 1)
    assert(Seq(10L, 11L, 12L).map(got).distinct.size == 1)
    assert(got(0L) != got(10L))
  }

  test("label propagation is deterministic; odd cycles converge; self-loops drop") {
    import spark.implicits._
    // triangle (odd cycle — converges; even paths oscillate under
    // synchronous updates, the documented trade for determinism)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 5L)).toDF("src", "dst")
    val a = LinkGraph.labelPropagation(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = LinkGraph.labelPropagation(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(!a.contains(5L)) // pure self-loop node has no real edges
    assert(a.values.toSet.size == 1) // the triangle converges to one label
    // the nodes-universe form keeps isolates with their own label
    val withIso = LinkGraph.labelPropagation(edges, "src", "dst",
      iterations = 3, nodes = Seq(5L, 9L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withIso(5L) == 5L && withIso(9L) == 9L)
    assert(withIso.view.filterKeys(Set(1L, 2L, 3L)).toMap ==
      a.view.filterKeys(Set(1L, 2L, 3L)).toMap)
  }

  test("stable LP: 4-cycle oscillation is detected and min-resolved; " +
      "converged graphs read stable") {
    import spark.implicits._
    // even cycle 0-1-2-3: synchronous LP flips between [1,0,1,0] and
    // [0,1,0,1] forever — every node unstable, min of the pair = 0
    // everywhere (one community, which is the right answer)
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val got = LinkGraph.labelPropagationStable(cyc, "src", "dst",
      iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.forall(!_._3), s"expected all-oscillating: ${got.toSeq}")
    assert(got.forall(_._2 == 0L), s"min-resolve: ${got.toSeq}")
    // parity-independence: the plain variant reads opposite phases at
    // 3 vs 4 rounds; the stable variant reads the same answer
    val it4 = LinkGraph.labelPropagationStable(cyc, "src", "dst",
      iterations = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.sortBy(_._1).toSeq == it4.sortBy(_._1).toSeq)
    // a converged triangle reports stable and matches the plain variant
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val st = LinkGraph.labelPropagationStable(tri, "src", "dst",
      iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val plain = LinkGraph.labelPropagation(tri, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st.forall(_._3))
    assert(st.forall(t => plain(t._1) == t._2))
  }

  /** Dense HITS reference with the same max-normalize + 6-dp pinning. */
  private def hitsRef(n: Int, edges: Seq[(Int, Int)],
      iters: Int): (Array[Double], Array[Double]) = {
    val uniq = edges.distinct
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var h = Array.fill(n)(1.0)
    var a = Array.fill(n)(0.0)
    for (_ <- 1 to iters) {
      val as = Array.fill(n)(0.0)
      uniq.foreach { case (s, t) => as(t) += h(s) }
      val ma = if (as.isEmpty) 0.0 else as.max
      a = if (ma <= 0) Array.fill(n)(0.0) else as.map(x => r6(x / ma))
      val hs = Array.fill(n)(0.0)
      uniq.foreach { case (s, t) => hs(s) += a(t) }
      val mh = if (hs.isEmpty) 0.0 else hs.max
      h = if (mh <= 0) Array.fill(n)(0.0) else hs.map(x => r6(x / mh))
    }
    (h, a)
  }

  test("HITS: star separates hubs from authorities exactly; dense reference " +
      "matches on a mixed graph") {
    import spark.implicits._
    // leaves point at the center: center is the sole authority (1.0),
    // leaves are the hubs (1.0), dual scores exactly 0
    val star = Seq((1, 0), (2, 0), (3, 0)).toDF("src", "dst")
    val s = LinkGraph.hits(star, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(s(0L) == ((0.0, 1.0)))
    Seq(1L, 2L, 3L).foreach(v => assert(s(v) == ((1.0, 0.0))))
    // mixed graph incl. a dup edge and a node reachable only via nodes
    val edges = Seq((0, 1), (0, 2), (1, 2), (2, 0), (4, 0), (0, 1))
    val got = LinkGraph.hits(edges.toDF("src", "dst"), "src", "dst",
      iterations = 4, nodes = Seq(7).toDF("id"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val (h, a) = hitsRef(8, edges, 4)
    assert(got.size == 5)
    for (v <- Seq(0, 1, 2, 4, 7)) {
      assert(math.abs(got(v.toLong)._1 - h(v)) < 1e-6, s"hub $v")
      assert(math.abs(got(v.toLong)._2 - a(v)) < 1e-6, s"auth $v")
    }
    // the isolated node scores zero on both axes; scores stay in [0,1]
    assert(got(7L) == ((0.0, 0.0)))
    got.values.foreach { case (hb, au) =>
      assert(hb >= 0 && hb <= 1 && au >= 0 && au <= 1)
    }
    // an edgeless graph (nodes only) is all zeros, not NaN
    val none = LinkGraph.hits(Seq.empty[(Int, Int)].toDF("src", "dst"),
      "src", "dst", iterations = 2, nodes = Seq(1, 2).toDF("id"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(none.forall(_ == ((0.0, 0.0))))
  }

  test("triangles: K4 counts 3 per node at lcc 1; pendant dilutes; " +
      "paths and dups count zero") {
    import spark.implicits._
    val k4 = (for (x <- 0 to 3; y <- 0 to 3 if x < y) yield (x, y))
      .toDF("src", "dst")
    val got = LinkGraph.triangleCounts(k4, "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    (0 to 3).foreach(v => assert(got(v.toLong) == ((3L, 3L, 1.0)), s"node $v"))
    // triangle {0,1,2} + pendant 3 on node 2: node 2 sees 1 triangle of
    // its 3 possible neighbor pairs → lcc 1/3; mirror/dup/self edges
    // collapse into the same undirected edge set
    val tri = Seq((0, 1), (1, 0), (1, 2), (2, 0), (2, 3), (0, 1), (3, 3))
      .toDF("src", "dst")
    val g2 = LinkGraph.triangleCounts(tri, "src", "dst",
      nodes = Seq(9).toDF("id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(g2(0L) == ((1L, 2L, 1.0)) && g2(1L) == ((1L, 2L, 1.0)))
    assert(g2(2L)._1 == 1L && g2(2L)._2 == 3L)
    assert(math.abs(g2(2L)._3 - 1.0 / 3) < 1e-12)
    assert(g2(3L) == ((0L, 1L, 0.0)))
    assert(g2(9L) == ((0L, 0L, 0.0)), "isolated node present with zeros")
    // a pure path has no triangles anywhere
    val path = Seq((0, 1), (1, 2), (2, 3)).toDF("src", "dst")
    val g3 = LinkGraph.triangleCounts(path, "src", "dst").collect()
    assert(g3.forall(_.getLong(1) == 0L))
  }

  /** Exact peeling coreness (min-degree removal order) — the classic
    * sequential algorithm the h-index fixpoint must converge to. */
  private def corenessRef(n: Int, edges: Seq[(Int, Int)]): Array[Int] = {
    val adj = Array.fill(n)(scala.collection.mutable.Set[Int]())
    edges.foreach { case (a, b) =>
      if (a != b) { adj(a) += b; adj(b) += a } }
    val live = scala.collection.mutable.Set((0 until n): _*)
    val core = Array.fill(n)(0)
    var k = 0
    while (live.nonEmpty) {
      val v = live.minBy(x => adj(x).count(live.contains))
      k = math.max(k, adj(v).count(live.contains))
      core(v) = k
      live -= v
    }
    core
  }

  test("coreness: known shapes — clique 3, cycle 2, path/pendant 1, isolated 0") {
    import spark.implicits._
    // K4 (coreness 3 each) + pendant 4 hung off node 0 (coreness 1)
    // + a disjoint 3-cycle {5,6,7} (coreness 2) + path 8-9 (coreness 1);
    // mirror/dup/self edges collapse
    val edges = (for (x <- 0 to 3; y <- 0 to 3 if x < y) yield (x, y)) ++
      Seq((0, 4), (4, 0), (5, 6), (6, 7), (7, 5), (8, 9), (9, 9))
    val got = LinkGraph.coreness(edges.toDF("src", "dst"), "src", "dst",
      iterations = 8, nodes = Seq(11).toDF("id"))
      .as[(Long, Long)].collect().toMap
    val want = Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 1L, 9L -> 1L, 11L -> 0L)
    assert(got == want)
    val core2 = LinkGraph.kCore(edges.toDF("src", "dst"), "src", "dst", k = 2)
      .select("id").as[Long].collect().toSet
    assert(core2 == Set(0L, 1L, 2L, 3L, 5L, 6L, 7L))
  }

  test("coreness: h-index fixpoint equals exact peeling on a mixed graph") {
    import spark.implicits._
    // deterministic pseudo-random multigraph over 40 nodes (the gate's
    // edge rule) — includes dups after symmetrization and self-loops
    val n = 40
    val edges = (0 until n).flatMap(i =>
      Seq((i, (i * 3 + 1) % n), (i, (i * 5 + 2) % n), (i, (i * 7 + 3) % n)))
    val got = LinkGraph.coreness(edges.toDF("src", "dst"), "src", "dst",
      iterations = 16).as[(Long, Long)].collect().toMap
    val ref = corenessRef(n, edges)
    (0 until n).foreach(v =>
      assert(got(v.toLong) == ref(v).toLong, s"node $v"))
  }

  test("reciprocity: mutual pairs counted exactly; loops and dups drop") {
    import spark.implicits._
    // 1↔2 mutual, 1→3 one-way, 3→3 loop, duplicate 1→2
    val edges = Seq((1, 2), (2, 1), (1, 3), (3, 3), (1, 2))
      .toDF("src", "dst")
    val r = LinkGraph.reciprocity(edges, "src", "dst").collect().head
    assert(r.getAs[Long]("m") == 3L)
    assert(r.getAs[Long]("mutual") == 2L)
    assert(r.getAs[Double]("reciprocity") == BigDecimal(2.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("assortativity: star is disassortative, cycle-plus-clique mixes") {
    import spark.implicits._
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // star 0-{1,2,3}: every edge joins deg 3 to deg 1 → r = −1
    val star = Seq((0, 1), (0, 2), (0, 3)).toDF("src", "dst")
    val rs = LinkGraph.degreeAssortativity(star, "src", "dst")
      .as[(Long, Double)].collect().head
    assert(rs._1 == 6L && rs._2 == -1.0)
    // regular ring: all degrees equal → zero variance → r defined 0
    val ring = Seq((0, 1), (1, 2), (2, 3), (3, 0)).toDF("src", "dst")
    val rr = LinkGraph.degreeAssortativity(ring, "src", "dst")
      .as[(Long, Double)].collect().head
    assert(rr._2 == 0.0)
    // hand-computed mixed case: path 0-1-2-3 (degs 1,2,2,1)
    val path = Seq((0, 1), (1, 2), (2, 3)).toDF("src", "dst")
    val xs = Seq((1, 2), (2, 1), (2, 2), (2, 2), (2, 1), (1, 2))
    val m = xs.length.toDouble
    val (sx, sy) = (xs.map(_._1).sum.toDouble, xs.map(_._2).sum.toDouble)
    val sxy = xs.map(p => p._1 * p._2).sum.toDouble
    val sxx = xs.map(p => p._1 * p._1).sum.toDouble
    val syy = xs.map(p => p._2 * p._2).sum.toDouble
    val expect = (m * sxy - sx * sy) /
      math.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))
    val rp = LinkGraph.degreeAssortativity(path, "src", "dst")
      .as[(Long, Double)].collect().head
    assert(rp._2 == r6(expect))
  }

  test("harmonic: path graph distances, radius cutoff, isolated zero") {
    import spark.implicits._
    // path 0-1-2-3-4 plus isolated node 9 (via nodes frame)
    val edges = Seq((0, 1), (1, 2), (2, 3), (3, 4)).toDF("src", "dst")
    val nodes = Seq(0, 1, 2, 3, 4, 9).toDF("id")
    val got = LinkGraph.harmonicCentrality(edges, "src", "dst",
        maxDist = 3, nodes = nodes)
      .as[(Long, Double)].collect().toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // node 0: d=1 to 1, d=2 to 2, d=3 to 3; node 4 is at d=4 → cut
    assert(got(0L) == r6(1.0 + 1.0 / 2 + 1.0 / 3))
    // node 2 (center): two at d=1, two at d=2
    assert(got(2L) == r6(2.0 + 2.0 / 2))
    // node 1: 0 and 2 at d=1, 3 at d=2, 4 at d=3
    assert(got(1L) == r6(2.0 + 1.0 / 2 + 1.0 / 3))
    assert(got(9L) == 0.0)
  }

  test("ppr: matches a dense reference incl. dangling→seed return; mass = 1") {
    import spark.implicits._
    // 0→1, 0→2, 1→2, 2→0, 3→0 plus DANGLING node 4 (edge 2→4, no out)
    val edges = Seq((0, 1), (0, 2), (1, 2), (2, 0), (3, 0), (2, 4))
      .toDF("src", "dst")
    val seeds = Seq(0, 3).toDF("id")
    val d = 0.85
    val p = Map(0 -> 0.5, 3 -> 0.5).withDefaultValue(0.0)
    val out = Map(0 -> Seq(1, 2), 1 -> Seq(2), 2 -> Seq(0, 4), 3 -> Seq(0))
    var r = (0 to 4).map(v => v -> p(v)).toMap
    for (_ <- 1 to 4) {
      val dang = r(4)
      r = (0 to 4).map { v =>
        val in = out.collect { case (u, vs) if vs.contains(v) =>
          r(u) / vs.length }.sum
        v -> ((1 - d) * p(v) + d * (in + dang * p(v)))
      }.toMap
    }
    val got = LinkGraph.personalizedPageRank(edges, "src", "dst", seeds,
        iterations = 4)
      .as[(Long, Double)].collect().toMap
    (0 to 4).foreach(v =>
      assert(math.abs(got(v.toLong) - r(v)) < 1e-12, s"node $v"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "mass conserved")
  }

  test("ppr: rank localizes around the seed; off-graph seeds are dropped") {
    import spark.implicits._
    // two disjoint triangles; seed only in the first — the second
    // component must end at exactly zero rank
    val edges = Seq((0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10))
      .toDF("src", "dst")
    val seeds = Seq(0, 999).toDF("id") // 999 is not a node
    val got = LinkGraph.personalizedPageRank(edges, "src", "dst", seeds,
        iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(got(0L) > got(1L) && got(1L) > 0)
    Seq(10L, 11L, 12L).foreach(v => assert(got(v) == 0.0, s"node $v"))
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("k-truss: K4 survives k=4, pendant drops, removal cascades") {
    import spark.implicits._
    val k4p = ((for (x <- 0 to 3; y <- 0 to 3 if x < y) yield (x, y)) :+
      ((3, 9))).toDF("src", "dst")
    val kept = LinkGraph.kTrussEdges(k4p, "src", "dst", k = 4, rounds = 3)
      .as[(Long, Long)].collect().toSet
    assert(kept == (for (x <- 0 to 3; y <- 0 to 3 if x < y)
      yield (x.toLong, y.toLong)).toSet, "K4 intact, pendant gone")
    // k=5 exceeds K4's support everywhere → empty
    assert(LinkGraph.kTrussEdges(k4p, "src", "dst", k = 5, rounds = 2)
      .count() == 0)
    // two triangles sharing edge (2,3): every rim edge has support 1 →
    // dropped in round 1; the shared edge then loses both triangles →
    // dropped in round 2 — the cascade a single pass misses
    val twoTri = Seq((1, 2), (2, 3), (1, 3), (3, 4), (2, 4)).toDF("src", "dst")
    assert(LinkGraph.kTrussEdges(twoTri, "src", "dst", k = 4, rounds = 1)
      .count() == 1)
    assert(LinkGraph.kTrussEdges(twoTri, "src", "dst", k = 4, rounds = 2)
      .count() == 0)
  }

  test("k-truss: the gate's 3 rounds reach the fixpoint at sf0.001") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"))
    val n = docs.count()
    val edges = docs.select(col("doc_id").as("src"), explode(
      when(col("doc_id") < lit(n / 2), array(
        pmod(col("doc_id") + 1, lit(n)),
        pmod(col("doc_id") + 2, lit(n)),
        pmod(col("doc_id") + 3, lit(n))))
      .otherwise(array(pmod(col("doc_id") + 1, lit(n))))).as("dst"))
    val at3 = LinkGraph.kTrussEdges(edges, "src", "dst", k = 4, rounds = 3)
      .as[(Long, Long)].collect().toSet
    val at4 = LinkGraph.kTrussEdges(edges, "src", "dst", k = 4, rounds = 4)
      .as[(Long, Long)].collect().toSet
    assert(at3 == at4 && at3.nonEmpty, s"still moving after 3 rounds (${at3.size})")
  }

  test("coreness: the gate's 6 rounds reach the fixpoint at sf0.001") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"))
    val n = docs.count()
    import org.apache.spark.sql.functions._
    val edges = docs.select(col("doc_id").as("src"),
      explode(array(
        pmod(col("doc_id") * 3 + 1, lit(n)),
        pmod(col("doc_id") * 5 + 2, lit(n)),
        pmod(col("doc_id") * 7 + 3, lit(n)))).as("dst"))
    val at6 = LinkGraph.coreness(edges, "src", "dst", iterations = 6,
      nodes = docs, idCol = "doc_id").as[(Long, Long)].collect().toMap
    val at7 = LinkGraph.coreness(edges, "src", "dst", iterations = 7,
      nodes = docs, idCol = "doc_id").as[(Long, Long)].collect().toMap
    assert(at6 == at7, "values still moving after 6 rounds")
  }
}
