package perfbench

/** Self-tests of the benchmark's own code (not of the program):
  * `python3 perfbench/run.py --selftest`. Returns the exit code. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    if (try cond catch { case e: Throwable => println(s"  $name threw $e"); false }) passed += 1
    else { failures += 1; println(s"FAIL $name") }

  def run(): Int = {
    // percentile sample-count rule: >= 10 samples beyond the percentile
    check("p50 needs 20 samples")(Stats.samplesNeeded(0.5) == 20)
    check("p90 needs 100 samples")(Stats.samplesNeeded(0.9) == 100)
    check("p90 of 99 is withheld")(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    check("p90 of 100 is the 90th value")(Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    check("p50 of 19 is withheld")(Stats.percentile((1 to 19).map(_.toDouble), 0.5).isEmpty)
    check("p50 of 20 is the 10th value")(
      Stats.percentile((1 to 20).reverse.map(_.toDouble), 0.5).contains(10.0))
    check("beyond counts ranks above")(Stats.beyond(100, 0.9) == 10 && Stats.beyond(108, 0.9) == 10)
    check("median of even count")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // seeded change schedule: the seed orders the datasets, the
    // rotation picks positions in that order
    def schedule(seed: Long) = {
      val order = Gen.permutation(seed, 12)
      (0 until 9).map(c => Gen.changedPositions(12, 4, c).map(order(_)))
    }
    val a = schedule(42L)
    check("same seed, same schedule")(a == schedule(42L))
    check("another seed, another schedule")(schedule(43L) != a)
    check("4 datasets per cycle")(a.forall(_.size == 4))
    check("each dataset once per 3 cycles")(
      a.grouped(3).forall(block => block.flatten.sorted == (0 until 12)))
    check("rotation repeats every 3 cycles")(a(0) == a(3) && a(1) == a(7))
    check("changed positions interleave")(Gen.changedPositions(12, 4, 1) == Seq(1, 4, 7, 10))
    check("permutation is a permutation")(Gen.permutation(7L, 50).sorted.toSeq == (0 until 50))
    check("generated values repeat")(Gen.uniform(1, 2, 3, 4) == Gen.uniform(1, 2, 3, 4))
    check("fixed-point formatting")(
      Gen.fixed(-3.14159, 3) == "-3.142" && Gen.fixed(2.0, 2) == "2.00" && Gen.fixed(0.05, 1) == "0.1")

    // span self-time arithmetic
    val spans = Seq(
      Span(1, "unit", 0, 100, 0, 1),
      Span(2, "read", 10, 40, 1, 1),
      Span(3, "write", 30, 60, 1, 1), // overlaps read: 10..60 covered once
      Span(4, "fetch", 15, 25, 2, 1),
      Span(5, "late", 90, 120, 1, 1)) // clipped to its parent's end
    val self = Trace.selfTimes(spans)
    check("root self = duration - union of children")(self(1) == 100 - 50 - 10)
    check("child self")(self(2) == 30 - 10 && self(3) == 30 && self(4) == 10)
    check("self never counts outside the parent")(self(5) == 30)
    check("union of intervals")(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))) == 25)
    check("by name")(Trace.byName(spans)("read") == ((1, 30L, 20L)))

    // the endpoint's row arithmetic and advance() reuse
    val src = new TableSource("t", 0, 1L, Gen.Epoch0, 180)
    val snap = TableSnap.build(src, 0, 50).advance(5, 60)
    val direct = TableSnap.build(src, 5, 60)
    check("advance equals a fresh build")(
      snap.body.sameElements(direct.body) && snap.offs.sameElements(direct.offs))
    check("DAS keeps QC columns, reader drops them")(
      src.columns.exists(_.qc) && !src.nonQc.exists(_.endsWith("_qc_agg")))
    check("url order puts time then depth first")(src.urlOrder.take(2) == Seq("time", "depth"))

    println(s"selftest: $passed passed, $failures failed")
    if (failures == 0) 0 else 1
  }
}
