package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object SparkTestSession {
  lazy val spark: SparkSession = graft.Harness.session(4)
}

class OperatorsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"
  def docs: DataFrame = graft.Tables.load(spark, sfDir, "documents")

  test("exact dedup keeps lowest id per duplicate text") {
    val df = Seq((3L, "a b c"), (1L, "a b c"), (2L, "x y z"), (5L, "A  b   C!"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").select("doc_id")
      .as[Long].collect().sorted
    // "A  b   C!" normalizes to "a b c" → same group as ids 1,3
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("dedupReport: per-group docs/unique/dup-rate/max-group on known duplication") {
    val df = Seq(
      (1L, "a b c", "web"), (2L, "a b c", "web"), (3L, "A  b C!", "web"),
      (4L, "x y z", "web"),
      (5L, "p q", "books"), (6L, "r s", "books")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dedupReport(df, "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
         r.getDouble(4), r.getLong(5))).toMap
    // web: 4 docs, 2 distinct (ids 1-3 normalize identically), 2 dup
    // rows, rate 0.5, largest group 3; books: no duplication
    assert(out("web") == ((4L, 2L, 2L, 0.5, 3L)))
    assert(out("books") == ((2L, 2L, 0L, 0.0, 1L)))
  }

  test("shingles: distinct word 3-grams; short text falls back to whole text") {
    val df = Seq("one two three four", "hi there").toDF("text")
    val sh = df.select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(sh(0).toSet == Set("one two three", "two three four"))
    assert(sh(1) == Seq("hi there"))
  }

  test("minhash LSH finds near-duplicate and skips unrelated") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest tonight"
    val near = base.replace("tonight", "today")
    val far = "completely different content about spark query engines and " +
      "distributed columnar execution at scale"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "text", "doc_id")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH recovers the 28 planted near-dup pairs at sf0.001") {
    val n = Dedup.minhashLshPairs(docs, "text", "doc_id").count()
    assert(n == 28)
  }

  test("incremental near-dups equal the cross-parity slice of the batch pair set") {
    val d = docs.filter(col("doc_id") < 500)
    // ground truth: the full-batch portable LSH pair set, restricted to
    // (odd "new" id, even "corpus" id) pairs in either order
    val batch = Dedup.minhashLshPairsPortable(d, "text", "doc_id", maxBucket = 0)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val expected = batch.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (n, c) => n % 2 == 1 && c % 2 == 0 }
    val idx = Dedup.minhashIndexRows(d.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", maxBucket = 0)
    val got = Dedup.incrementalNearDups(d.filter(col("doc_id") % 2 === 1), idx,
      "text", "doc_id").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("minhash index round-trips through parquet; delta dedup never touches corpus text") {
    val d = docs.filter(col("doc_id") < 500)
    val corpus = d.filter(col("doc_id") % 2 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", dir, maxBucket = 0)
    val persisted = spark.read.parquet(dir)
    assert(persisted.columns.toSet == Set("id", "band"))
    val viaDisk = Dedup.incrementalNearDups(d.filter(col("doc_id") % 2 === 1),
      persisted, "text", "doc_id").as[(Long, Long)].collect().toSet
    val viaMem = Dedup.incrementalNearDups(d.filter(col("doc_id") % 2 === 1),
      Dedup.minhashIndexRows(corpus, "text", "doc_id", maxBucket = 0),
      "text", "doc_id").as[(Long, Long)].collect().toSet
    assert(viaDisk == viaMem && viaDisk.nonEmpty)
    // the plan over the persisted index must not carry a text column —
    // that's the whole point of the index
    val plan = Dedup.incrementalNearDups(d.filter(col("doc_id") % 2 === 1),
      persisted, "text", "doc_id").queryExecution.executedPlan.toString
    assert(!plan.contains("ReadSchema: struct<id:bigint,band:string,text"))
  }

  test("ngram jaccard over candidates: est vs exact agree on planted pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 0.8).count()
    assert(exact == 28)
  }

  test("jaccard prefix join (cap off) equals brute-force word Jaccard exactly") {
    val d = docs.filter(col("doc_id") < 400)
    val got = Dedup.jaccardPrefixJoin(d, "text", "doc_id", 0.6,
        maxBucket = 0, shingleN = 1)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    // brute force: all pairs over distinct word sets (the zero-pruning oracle)
    val sets = d.select(col("doc_id"),
        graft.functions.ShingleStrings.shingle_strings(col("text"), 1).as("t"))
      .as[(Long, Seq[String])].collect().map { case (i, t) => (i, t.toSet) }
    val want = (for {
      (a, ta) <- sets; (b, tb) <- sets if a < b
      j = (ta & tb).size.toDouble / (ta | tb).size if j >= 0.6
    } yield (a, b, BigDecimal(j).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("jaccard prefix join (3-gram) equals LSH+verify pair set at sf0.001") {
    // two independent algorithms, same exact semantics: the prefix-filter
    // equi-join must reproduce ngramJaccardPairs' verified pair set (the
    // planted near-dups sit far above LSH's recall floor at j >= 0.8)
    val viaPrefix = Dedup.jaccardPrefixJoin(docs, "text", "doc_id", 0.8,
        maxBucket = 0, shingleN = 3)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    val viaLsh = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 0.8)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    assert(viaPrefix == viaLsh && viaPrefix.size == 28)
  }

  test("jaccard prefix join prunes: no product join in the plan") {
    val out = Dedup.jaccardPrefixJoin(docs, "text", "doc_id", 0.9, maxBucket = 0)
    assert(out.filter(col("jaccard") < 0.9).isEmpty)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("fuzzy decontamination: rephrased copy caught, unrelated not; cut respected") {
    val evalSet = Seq((1L, "the quick brown fox jumps over the lazy dog " +
      "and runs far away into the deep green forest tonight")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog " +
        "and runs far away into the deep green forest today"), // 1 word off
      (11L, "completely different content about spark query engines and " +
        "distributed columnar execution at scale"),
      (12L, "the quick brown fox jumps over seventeen lazy dogs while " +
        "sprinting toward a completely different shoreline at dawn")
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyContamination(corpus, evalSet, "text", "doc_id",
        maxDist = 10, maxBucket = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.map(p => (p._1, p._2)) == Set((1L, 10L)))
    assert(got.head._3 > 0 && got.head._3 <= 10)
    // tighter cut excludes even the near copy
    val none = Dedup.fuzzyContamination(corpus, evalSet, "text", "doc_id",
      maxDist = 2, maxBucket = 0).count()
    assert(none == 0)
  }

  test("rrf fusion: hand-computed scores, one-list ids, ties to smallest id") {
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val b = Seq((3L, 1L), (2L, 2L), (9L, 3L)).toDF("id", "rank")
    val got = TextAnalysis.rrfFuse(Seq(a, b), "id", k = 60, topK = 4)
      .as[(Long, Double)].collect()
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Map(
      1L -> r6(1.0 / 61),
      2L -> r6(1.0 / 62 + 1.0 / 62),
      3L -> r6(1.0 / 63 + 1.0 / 61),
      9L -> r6(1.0 / 63))
    assert(got.toMap == want)
    // ordering: 2 (.0323) > 3 (.0323 slightly less?) — assert sorted desc
    assert(got.map(_._2).sameElements(got.map(_._2).sortBy(-_)))
    assert(got.head._1 == 2L || got.head._1 == 3L)
  }

  test("cv folds: co-clustered rows share a fold; folds cover 0..k-1") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id1", "id2")
    val df = (1L to 40L).map(i => Tuple1(i)).toDF("id")
    val got = Dedup.cvFoldsByCluster(df, "id", pairs, k = 5)
      .select("id", "fold").as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(7L) == got(8L))
    assert(got.values.forall(f => f >= 0 && f < 5))
    assert(got.values.toSet.size >= 3, "40 ids should spread over folds")
  }

  test("length buckets: power-of-two bucketing, batches bounded, no mixing") {
    val df = Seq(
      (1L, "one"), (2L, "a b"), (3L, "a b c"),          // 1→b0, 2..3→b1
      (4L, (1 to 8).map(_ => "w").mkString(" ")),        // 8 → b3
      (5L, (1 to 15).map(_ => "w").mkString(" ")),       // 15 → b3
      (6L, (1 to 16).map(_ => "w").mkString(" ")),       // 16 → b4 (exact)
      (7L, "")                                           // 0 → b0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lengthBuckets(df, "text", "doc_id", batchSize = 2)
      .select("doc_id", "n_tokens", "bucket", "batch")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._3 == 0 && got(7L)._3 == 0)
    assert(got(2L)._3 == 1 && got(3L)._3 == 1)
    assert(got(4L)._3 == 3 && got(5L)._3 == 3)
    assert(got(6L)._3 == 4, "exact power of two must not straddle buckets")
    // batches are bucket-local and bounded by batchSize
    val byBatch = got.values.groupBy(v => (v._3, v._4))
    assert(byBatch.values.forall(_.size <= 2))
  }

  test("interleave order: sources appear at weight ratios in every prefix") {
    val df = ((1 to 30).map(i => (i.toLong, "A")) ++
      (31 to 40).map(i => (i.toLong, "B")) ++
      Seq((99L, "C"))).toDF("doc_id", "source")
    val got = TextAnalysis.interleaveOrder(df, "doc_id", "source",
        Map("A" -> 3.0, "B" -> 1.0))
      .select("source", "vtime").as[(String, Double)].collect()
      .sortBy { case (s, v) => (v, s) }
    // stride property: in any prefix of the vtime stream, A's count
    // tracks 3x B's count within one stride
    var a = 0; var b = 0
    got.foreach { case (s, _) =>
      if (s == "A") a += 1 else if (s == "B") b += 1
      assert(math.abs(a - 3 * b) <= 3, s"prefix drifted: A=$a B=$b")
    }
    // unlisted source defaults to weight 1 (same stride as B)
    val c = got.collect { case ("C", v) => v }
    assert(c.toSeq == Seq(0.5))
    // deterministic
    val again = TextAnalysis.interleaveOrder(df, "doc_id", "source",
        Map("A" -> 3.0, "B" -> 1.0))
      .select("doc_id", "vtime").as[(Long, Double)].collect().toMap
    val first = TextAnalysis.interleaveOrder(df, "doc_id", "source",
        Map("A" -> 3.0, "B" -> 1.0))
      .select("doc_id", "vtime").as[(Long, Double)].collect().toMap
    assert(again == first)
  }

  test("stupid backoff: hand-computed trigram/bigram/unigram backoff chain + OOV") {
    // corpus: "a b c a b d" → uni a2 b2 c1 d1 (N=6); bi (a,b)2 (b,c)1
    // (c,a)1 (b,d)1; tri (a,b,c)1 (b,c,a)1 (c,a,b)1 (a,b,d)1
    val corpus = Seq((0L, "a b c a b d")).toDF("doc_id", "text")
    val target = Seq(
      (1L, "a b c x"),   // (a,b,c): tri hit 1/2; (b,c,x): x OOV → excluded
      (3L, "b c a b"),   // two tri hits at s = 1 → score 0
      (5L, "b b c"),     // bigram backoff: 0.4 * c(b,c)/c(b) = 0.4*0.5
      (7L, "c c d"),     // unigram backoff: 0.4 * 0.4 * c(d)/N
      (9L, "a b")        // no trigram → null score, zero counts
    ).toDF("doc_id", "text")
    val got = TextAnalysis.stupidBackoffScore(corpus, target, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1))),
          r.getLong(2), r.getLong(3))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((Some(r6(math.log(0.5))), 1L, 1L)))
    assert(got(3L) == ((Some(0.0), 2L, 0L)))
    assert(got(5L) == ((Some(r6(math.log(0.4 * 0.5))), 1L, 0L)))
    assert(got(7L) == ((Some(r6(math.log(0.4 * 0.4 * (1.0 / 6)))), 1L, 0L)))
    assert(got(9L) == ((None, 0L, 0L)))
  }

  test("dedupByClustersBest keeps the highest score per cluster, ties to smallest id") {
    // clusters: {1,2,3} (via 1-2, 2-3) and {7,8}; 5 unclustered
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id1", "id2")
    val df = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (5L, 0.1),
      (7L, 0.5), (8L, 0.5)).toDF("id", "score")
    val kept = Dedup.dedupByClustersBest(df, "id", pairs, "score")
      .select("id").as[Long].collect().toSet
    // {1,2,3}: 2 and 3 tie at 0.9 → 2 wins; {7,8}: tie → 7; 5 untouched
    assert(kept == Set(2L, 5L, 7L))
    // degenerate: empty pair graph keeps everything
    val none = Dedup.dedupByClustersBest(df, "id",
      Seq.empty[(Long, Long)].toDF("id1", "id2"), "score")
      .count()
    assert(none == 6)
  }

  test("simhash: identical text → distance 0; planted near-dups found") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest tonight"
    val df = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "text", "doc_id", maxHamming = 3)
      .select("id1", "id2", "hamming").collect()
    assert(pairs.length == 1 && pairs(0).getInt(2) == 0)
    // planted near-dups in the synthetic corpus surface within hamming 3
    val planted = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
    assert(planted.count() > 0)
  }

  test("glider segments: props from last point, nulls dropped, per-track") {
    val df = Seq(
      (1L, 1L, 10.0, 1.0, 1.0),
      (1L, 2L, 20.0, 2.0, 2.0),
      (1L, 3L, 30.0, Double.NaN, 3.0), // dropped point
      (1L, 4L, 40.0, 4.0, 4.0),
      (2L, 5L, 10.0, 9.0, 9.0)         // single point → no segment
    ).toDF("track", "pt", "ts", "lon", "lat")
    val segs = Glider.segments(df, "track", "ts", "lon", "lat")
      .select("track", "pt", "x1", "y1", "x2", "y2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    // after dropping NaN point: (1,2)→ pair(1: pt2), (2,4)→ pair(2: pt4)
    assert(segs.toSet == Set(
      (1L, 2L, 1.0, 1.0, 2.0, 2.0),
      (1L, 4L, 2.0, 2.0, 4.0, 4.0)))
  }

  test("brute-force topK cosine: self-similar vector ranks first") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("id", "vec")
    val top = Similarity.bruteForceTopK(df, "id", "vec", Seq(1.0, 0.0, 0.0), 2)
      .select("id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L))
  }

  test("int8 quantization: constant vectors exact, dequant error within half a step") {
    val df = Seq(
      (1L, Array(0.1f, 0.9f, -0.4f, 0.0f)),
      (2L, Array(0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeEmbeddings(df, "vec_id", "embedding")
    val rec = q.select(col("vec_id"),
        Similarity.dequantize(col("qvec"), col("q_min"), col("q_max")).as("dv"))
      .as[(Long, Seq[Double])].collect().toMap
    // constant vector: stored as -128s, dequantizes to the constant exactly
    assert(rec(2L) == Seq.fill(4)(0.5f.toDouble))
    val orig = Seq(0.1f, 0.9f, -0.4f, 0.0f).map(_.toDouble)
    val step = (0.9f.toDouble - (-0.4f).toDouble) / 255.0
    orig.zip(rec(1L)).foreach { case (o, r) =>
      assert(math.abs(o - r) <= step / 2 + 1e-12, s"$o vs $r")
    }
    // codes live in a byte column — the 4×-smaller storage claim
    val schema = q.schema("qvec").dataType
    assert(schema == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType))
  }

  test("quantized asymmetric top-k tracks full-precision ranking") {
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val rest = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val qd = Similarity.quantizeEmbeddings(rest, "vec_id", "embedding")
    val quant = Similarity.quantizedTopK(qd, "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    assert((exact & quant).size >= 8, s"overlap ${(exact & quant).size}")
  }

  test("lsh candidate pairs put identical-direction vectors in one bucket") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Array(2.0f, 4.0f, 6.0f, 8.0f)),   // same direction as 1
      (3L, Array(-1.0f, -2.0f, -3.0f, -4.0f))
    ).toDF("id", "vec")
    val pairs = Similarity.lshCandidatePairs(df, "id", "vec", planes = 6)
      .select("id1", "id2", "cosine").collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      math.abs(r.getDouble(2) - 1.0) < 1e-9))
  }

  test("text analysis: tokens, quality ratios, langid, fingerprint") {
    val df = Seq(
      (1L, "The quick brown fox, and the lazy dog!"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "")
    ).toDF("doc_id", "text")
    val toks = df.select(TextAnalysis.tokenCount(col("text")).as("n"))
      .as[Long].collect()
    assert(toks.toSeq == Seq(8L, 8L, 0L))
    val langs = TextAnalysis.languageId(df, "text")
      .select("doc_id", "lang_guess").as[(Long, String)].collect().toMap
    assert(langs(1L) == "en")
    assert(langs(2L) == "de")
    assert(langs(3L) == "und")
    val fps = df.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[String].collect()
    assert(fps.distinct.length == 3)
  }

  test("relational: recentWindow keeps trailing days only") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-20 00:00:00")),
      (3L, java.sql.Timestamp.valueOf("2024-01-25 00:00:00"))
    ).toDF("id", "ts")
    val kept = Relational.recentWindow(df, "ts", 7).select("id")
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
  }

  test("relational: positional join pairs nth rows under each order") {
    val l = Seq("b", "a", "c").toDF("ln")
    val r = Seq((10, "y"), (20, "x"), (30, "z")).toDF("k", "rn")
    val out = Relational.positionalJoin(l, Seq(col("ln")), r, Seq(col("rn")))
      .select("ln", "rn").as[(String, String)].collect().toSet
    assert(out == Set(("a", "x"), ("b", "y"), ("c", "z")))
  }
}

class IvfSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions._

  test("IVF: train, assign, probe — recall vs brute force on embeddings") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    val rest = emb.filter(col("vec_id") =!= 0)
    val cents = Similarity.trainCentroids(rest, "embedding", k = 8, iters = 4)
    assert(cents.length == 8 && cents.head.length == 64)
    val assigned = Similarity.ivfAssign(rest, "vec_id", "embedding", cents)
    assert(assigned.select("cluster").distinct().count() > 1)
    assert(assigned.count() == rest.count())

    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val approx = Similarity.ivfTopK(rest, "vec_id", "embedding", q, 10,
      cents, nProbe = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(approx.size == 10)
    // probing half the clusters should recover a decent share of true top-k
    assert((exact intersect approx).size >= 4,
      s"recall too low: ${(exact intersect approx).size}/10")
  }

  test("quantized IVF index: partition-pruned probe matches the in-memory quantized scan") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    val rest = emb.filter(col("vec_id") =!= 0)
    val cents = Similarity.trainCentroids(rest, "embedding", k = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_qivf").toString
    Similarity.writeIvfIndexQuantized(rest, "vec_id", "embedding", cents, dir)
    val fromIdx = Similarity.ivfTopKFromQuantizedIndex(spark, dir, "vec_id",
      q, 10, cents, nProbe = 4)
    // expected: quantize the same cluster subset in memory, same top-k
    val probes = Similarity.nearestCentroids(q, cents, 4).toSet
    val subset = Similarity.ivfAssign(rest, "vec_id", "embedding", cents)
      .filter(col("cluster").isin(probes.toSeq: _*))
    val expect = Similarity.quantizedTopK(
      Similarity.quantizeEmbeddings(subset, "vec_id", "embedding"), "vec_id", q, 10)
    assert(fromIdx.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      expect.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // the probe must prune partitions at planning time, and stored rows
    // carry byte codes, not float vectors
    val plan = fromIdx.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    val schema = spark.read.parquet(dir).schema("qvec").dataType
    assert(schema == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType))
  }

  test("semDedup: pair set equals within-cluster brute force at sf0.001") {
    import spark.implicits._
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val got = Similarity.semDedupPairs(emb, "vec_id", "embedding",
        threshold = 0.3, k = 64, iters = 3, maxBucket = 0, orderBy = "vec_id")
      .select(col("id1"), col("id2"), round(col("cosine"), 6).as("c"))
      .as[(Long, Long, Double)].collect().toSet
    // brute force: same deterministic training + assignment, then all
    // within-cluster pairs
    val cents = Similarity.trainCentroids(emb, "embedding", k = 64,
      iters = 3, sampleN = 2000, orderBy = "vec_id")
    val asg = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("embedding"), col("cluster"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) { d += a(j)*b(j); na += a(j)*a(j); nb += b(j)*b(j); j += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for {
      (i1, v1, c1) <- asg; (i2, v2, c2) <- asg
      if c1 == c2 && i1 < i2
      c = cos(v1, v2) if c >= 0.3
    } yield (i1, i2, BigDecimal(c).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("semDedup: annulus pruning is lossless at high threshold; keep-set drops dup groups") {
    import spark.implicits._
    // synthetic: 3 planted near-dup groups on distinct directions plus
    // spread-out singletons — cosines within a group ~0.999
    val dim = 8
    def unit(axis: Int, eps: Double, seed: Int): Seq[Float] = {
      val v = Array.fill(dim)(0.0)
      v(axis) = 1.0
      (0 until dim).foreach(j => v(j) += eps * (((seed * 31 + j * 17) % 7) - 3))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    val rows =
      (0 to 2).map(g => (g.toLong * 10, unit(g, 0.004, g))) ++
      (0 to 2).map(g => (g.toLong * 10 + 1, unit(g, 0.004, g + 100))) ++
      Seq((50L, unit(3, 0.3, 7)), (51L, unit(4, 0.3, 8)), (52L, unit(5, 0.3, 9)))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.semDedupPairs(df, "vec_id", "embedding",
        threshold = 0.95, k = 4, iters = 2, sampleN = 100, maxBucket = 0,
        orderBy = "vec_id")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // each planted pair must survive IF co-clustered — verify against a
    // pruning-free recompute (annulus must drop nothing)
    val cents = Similarity.trainCentroids(df, "embedding", k = 4, iters = 2,
      sampleN = 100, orderBy = "vec_id")
    val asg = Similarity.ivfAssign(df, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("embedding"), col("cluster"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) { d += a(j)*b(j); na += a(j)*a(j); nb += b(j)*b(j); j += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for {
      (i1, v1, c1) <- asg; (i2, v2, c2) <- asg
      if c1 == c2 && i1 < i2 && cos(v1, v2) >= 0.95
    } yield (i1, i2)).toSet
    assert(pairs == want && pairs.nonEmpty)
    // keep-set: min id per dup group survives, partner dropped
    val kept = Similarity.semDedupKeep(df, "vec_id", "embedding",
        threshold = 0.95, k = 4, iters = 2, sampleN = 100, maxBucket = 0,
        orderBy = "vec_id")
      .as[Long].collect().toSet
    val dropped = pairs.map(_._2) // id1 < id2 and groups are pairs here
    assert(kept == rows.map(_._1).toSet -- dropped)
  }

  test("semDedup: DEFAULT cap bounds a planted mega-cluster (quadratic-bomb guard)") {
    import spark.implicits._
    // 1,100 IDENTICAL unit vectors — one semantic-duplicate mega-cluster.
    // Uncapped this is C(1100,2) = 604,450 pairs and grows quadratically
    // with corpus duplication; the DEFAULT maxBucket=1000 road must emit
    // exactly C(1000,2) = 499,500 (first 1000 members by id) no matter
    // how hot the cluster is. No explicit maxBucket below — the point is
    // the caller who forgets the cap is still safe at 100 TB.
    val v: Seq[Float] = Seq(0.6f, 0.8f, 0f, 0f)
    val df = (0L until 1100L).map(i => (i, v)).toDF("vec_id", "embedding")
    val capped = Similarity.semDedupPairs(df, "vec_id", "embedding",
      threshold = 0.95, orderBy = "vec_id")
    assert(capped.count() == 1000L * 999 / 2)
    // and the exact road (cap pinned 0, the oracle-gate mode) still
    // produces the full quadratic set on the same input
    val exact = Similarity.semDedupPairs(df, "vec_id", "embedding",
      threshold = 0.95, maxBucket = 0, orderBy = "vec_id")
    assert(exact.count() == 1100L * 1099 / 2)
  }

  test("knnJoin: batch top-k equals per-query bruteForceTopK, any partitioning") {
    import spark.implicits._
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val corpus = emb.filter(col("vec_id") >= 3)
    val batch = Similarity.knnJoin(corpus, "vec_id", "embedding", qs, k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("rank")))
      .groupBy(_._1)
    qs.foreach { case (qid, qv) =>
      val solo = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", qv, 7)
        .select("vec_id").as[Long].collect().toSeq
      val got = batch(qid).sortBy(_._3).map(_._2).toSeq
      assert(got == solo, s"query $qid: $got vs $solo")
    }
    // partition-count independence: local heaps + global resolve must
    // not depend on how the corpus is split
    val repart = Similarity.knnJoin(corpus.repartition(13), "vec_id",
      "embedding", qs, k = 7)
      .select("qid", "vec_id", "rank").collect().toSet
    assert(repart ==
      batch.values.flatten.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3)).toSet)
  }

  test("winnowing: shared passages guarantee a common fingerprint; boilerplate fp dropped") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"alpha beta gamma $passage delta epsilon zeta eta theta"),
      (2L, s"one two three four five $passage six seven eight nine ten"),
      (3L, "completely unrelated text about oceanographic buoys and sensors"),
      (4L, "tiny"),
      (5L, "")
    ).toDF("doc_id", "text")
    // guarantee: a shared run of >= window+shingleN-1 = 6 tokens yields
    // at least one COMMON selected fingerprint — the 12-token passage
    // must connect docs 1 and 2 and nothing else
    val fps = Dedup.winnowFingerprints(docs, "text", "doc_id")
    val byDoc = fps.collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    assert(byDoc(4L).size == 1)     // short doc: single truncated window
    assert(!byDoc.contains(5L))     // blank selects nothing
    val pairs = Dedup.winnowMatches(docs, "text", "doc_id", minShared = 2)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
    // ubiquitous fingerprints rank no pair: 4 IDENTICAL docs select the
    // same fp set, so every fp has doc-frequency 4 > cap 3 → all dropped
    val boiler = (1L to 4L).map(i =>
      (i, "standard header boilerplate text repeated verbatim in every document"))
      .toDF("doc_id", "text")
    val capped = Dedup.winnowMatches(boiler, "text", "doc_id",
      minShared = 1, maxDocsPerFp = 3)
    assert(capped.count() == 0)
    // ...and at cap 4 the same corpus pairs everything
    assert(Dedup.winnowMatches(boiler, "text", "doc_id",
      minShared = 1, maxDocsPerFp = 4).count() == 6)
  }

  test("winnowing: native kernel is bit-identical to the explode+window formulation") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    for ((n, w) <- Seq((3, 4), (2, 5), (4, 1), (1, 3))) {
      val kernel = Dedup.winnowFingerprints(docs, "text", "doc_id", n, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val sql = Dedup.winnowFingerprintsSql(docs, "text", "doc_id", n, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(kernel == sql, s"shingleN=$n window=$w")
    }
    // hostile inputs: unicode, punctuation-only, single char, repeats
    val edge = Seq((1L, "Héllo, WORLD!! 123"), (2L, "... ---"), (3L, "x"),
      (4L, "a a a a a a a a"), (5L, "K elvin sign")).toDF("doc_id", "text")
    val k2 = Dedup.winnowFingerprints(edge, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val s2 = Dedup.winnowFingerprintsSql(edge, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(k2 == s2)
    // plan: the kernel path must be a pure generate/projection — the
    // per-doc window sort and its exchange are GONE
    val plan = Dedup.winnowFingerprints(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Exchange"), plan)
  }

  test("asofJoinForward: nearest future match, inclusive equal ts, tolerance") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"), // equal-ts right: inclusive
      (1L, ts("2024-01-01 10:30:00"), "p2"), // next is 11:00
      (1L, ts("2024-01-01 12:00:00"), "p3"), // nothing after → null
      (2L, ts("2024-01-01 07:00:00"), "p4")
    ).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 200.0),
      (2L, ts("2024-01-01 08:00:00"), 300.0)
    ).toDF("k", "ts", "price")
    def run(tol: Long) = Relational.asofJoinForward(left, right, "k", "ts",
        Seq("price"), toleranceSeconds = tol)
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(run(Long.MaxValue) == Map("p1" -> 100.0, "p2" -> 200.0,
      "p3" -> null, "p4" -> 300.0))
    // 30-minute window: p4's match is 1h ahead → nulled
    assert(run(1800) == Map("p1" -> 100.0, "p2" -> 200.0,
      "p3" -> null, "p4" -> null))
  }

  test("asofJoin: backward-inclusive match, unmatched nulls, tolerance window") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (1L, ts("2024-01-01 09:00:00"), "p0"), // before any right row
      (2L, ts("2024-01-01 10:30:00"), "p3")
    ).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 100.0),
      (1L, ts("2024-01-01 10:00:00"), 200.0), // equal ts: inclusive match
      (1L, ts("2024-01-01 11:00:00"), 300.0),
      (2L, ts("2024-01-01 08:00:00"), 400.0)
    ).toDF("k", "ts", "price")
    val out = Relational.asofJoin(left, right, "k", "ts", Seq("price"))
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(out == Map("p0" -> null, "p1" -> 200.0, "p2" -> 300.0, "p3" -> 400.0))
    // tolerance: p3's match is 2.5h old — a 1h window nulls it (and its ts)
    val tol = Relational.asofJoin(left, right, "k", "ts", Seq("price"),
      toleranceSeconds = 3600)
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(tol == Map("p0" -> null, "p1" -> 200.0, "p2" -> 300.0, "p3" -> null))
    // left row count is preserved exactly (left join semantics)
    assert(Relational.asofJoin(left, right, "k", "ts", Seq("price")).count() == 4)
    // null keys never match each other (SQL join semantics), and a
    // null-ts left row stays unmatched
    val lNull = Seq((Some(9L), Some(ts("2024-01-01 10:00:00")), "pk"),
      (None, Some(ts("2024-01-01 10:00:00")), "pn"),
      (Some(1L), None, "pt"))
      .toDF("k", "ts", "tag")
    val rNull = Seq((None.asInstanceOf[Option[Long]],
      Some(ts("2024-01-01 09:00:00")), 1.0),
      (Some(9L), Some(ts("2024-01-01 09:00:00")), 2.0))
      .toDF("k", "ts", "price")
    val nOut = Relational.asofJoin(lNull, rNull, "k", "ts", Seq("price"))
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(nOut == Map("pk" -> 2.0, "pn" -> null, "pt" -> null))
  }

  test("rangeJoin: bin bucketing finds exactly the [lo, hi] matches, no dups") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val intervals = Seq(
      ("a", ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00")), // spans 3 bins
      ("b", ts("2024-01-02 12:00:00"), ts("2024-01-02 18:00:00")), // inside one day
      ("c", ts("2024-06-01 00:00:00"), ts("2024-06-02 00:00:00"))  // no points
    ).toDF("name", "lo", "hi")
    val points = Seq(
      (1L, ts("2024-01-01 00:00:00")), // on a's lo boundary
      (2L, ts("2024-01-02 13:00:00")), // inside a AND b
      (3L, ts("2024-01-03 00:00:00")), // on a's hi boundary
      (4L, ts("2024-01-03 00:00:01")), // just past a
      (5L, ts("2024-02-01 00:00:00"))  // matches nothing
    ).toDF("pid", "pt")
    val out = Relational.rangeJoin(intervals, "lo", "hi", points, "pt", 86400L)
      .select("name", "pid").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSet == Set(("a", 1L), ("a", 2L), ("a", 3L), ("b", 2L)))
    assert(out.length == 4) // multi-bin intervals must not duplicate matches
    val plan = Relational.rangeJoin(intervals, "lo", "hi", points, "pt", 86400L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("knnJoin: null or mis-sized vectors fail with the offending id, not an opaque crash") {
    import spark.implicits._
    val qs = Seq(1L -> Seq(1.0, 0.0))
    val shortVec = Seq((10L, Seq(1.0)), (11L, Seq(0.5, 0.5)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[org.apache.spark.SparkException] {
      Similarity.knnJoin(shortVec, "vec_id", "embedding", qs, k = 2).collect()
    }
    assert(e1.getMessage.contains("id=10") && e1.getMessage.contains("dimension"))
    val nullVec = Seq((20L, Seq(1.0, 2.0)), (21L, null.asInstanceOf[Seq[Double]]))
      .toDF("vec_id", "embedding")
    val e2 = intercept[org.apache.spark.SparkException] {
      Similarity.knnJoin(nullVec, "vec_id", "embedding", qs, k = 2).collect()
    }
    assert(e2.getMessage.contains("null embedding for id=21"))
    // mixed-dimension queries refuse up front, before any Spark job
    val e3 = intercept[IllegalArgumentException] {
      Similarity.knnJoin(nullVec, "vec_id", "embedding",
        Seq(1L -> Seq(1.0), 2L -> Seq(1.0, 2.0)), k = 1)
    }
    assert(e3.getMessage.contains("dimension"))
  }

  test("nearest-centroid classify: separable clusters classify perfectly") {
    import spark.implicits._
    // two clean clusters on orthogonal axes + slight noise
    val rows = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 0f, 1f, 0f)
      base(1) = (i % 5) * 0.01f
      (i.toLong, base.toSeq, i % 2)
    }.toDF("id", "vec", "label")
    val cents = Similarity.labelCentroids(rows, "label", "vec")
    assert(cents.map(_._1) == Seq(0, 1))
    assert(cents.head._2.length == 4)
    val out = Similarity.classifyByCentroids(rows, "vec", cents)
    assert(out.columns.toSeq.takeRight(2) == Seq("pred", "score"))
    assert(out.filter(col("pred") =!= col("label")).count() == 0)
    // scores are the (rounded) cosine to the winning centroid: in (0, 1]
    val scores = out.select("score").as[Double].collect()
    assert(scores.forall(s => s > 0.9 && s <= 1.0))
    // tie-break: the zero vector scores 0 against every centroid → label 0
    val zero = Seq((99L, Seq(0f, 0f, 0f, 0f), 1)).toDF("id", "vec", "label")
    assert(Similarity.classifyByCentroids(zero, "vec", cents)
      .head().getAs[Int]("pred") == 0)
    // planning stays O(L): 48 labels must plan+run instantly (a
    // when-chain accumulator fold is O(2^L) Catalyst nodes — this
    // spec hangs if that regresses)
    val many = (0 until 48).map { l =>
      l -> Seq.tabulate(8)(j => if (j == l % 8) 1.0 else 0.001 * l)
    }
    val probe = Seq((1L, Seq.tabulate(8)(j => if (j == 3) 1f else 0f), 0))
      .toDF("id", "vec", "label")
    val out48 = Similarity.classifyByCentroids(probe, "vec", many)
    assert(out48.head().getAs[Int]("pred") % 8 == 3)
  }
}

class ClustersSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("connected components: chains and singleton pairs resolve to min id") {
    // components: {1,2,3,4} (chain), {10,11}, {20,21} via 21-20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L && cc(4L) == 1L)
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(cc(21L) == 20L)
    // both tiers produce identical labels on the same graph
    val dist = Dedup.connectedComponents(pairs, localEdgeCap = 0)
      .as[(Long, Long)].collect().toMap
    assert(dist == cc)
  }

  test("connected components: self-pairs survive both tiers identically") {
    // id 7 appears ONLY as a self-pair — it must label itself in BOTH
    // tiers (the local tier's old a<b half silently dropped it)
    val pairs = Seq((1L, 2L), (7L, 7L), (2L, 2L)).toDF("id1", "id2")
    val local = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, localEdgeCap = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    assert(dist == local)
  }

  test("connected components: null-partner pairs yield singleton labels, both-null pairs drop") {
    // a vertex whose ONLY pair partners a null id still gets its
    // singleton (id, id) row in BOTH tiers (the null-partner pair
    // normalizes to a self-loop of the non-null side); pairs that are
    // null on both sides name no vertex and vanish
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (7L, null), (null, 9L), (null, null), (2L, null))
      .toDF("id1", "id2")
    val local = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(local == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 9L -> 9L))
    val dist = Dedup.connectedComponents(pairs, localEdgeCap = 0)
      .as[(Long, Long)].collect().toMap
    assert(dist == local)
  }

  test("connected components: string ids take the local tier with UTF-8 min order") {
    val pairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x", "x"),
      ("z2", "z10")).toDF("id1", "id2")
    val local = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(local == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-c" -> "doc-a", "x" -> "x", "z10" -> "z10", "z2" -> "z10"))
    val dist = Dedup.connectedComponents(pairs, localEdgeCap = 0)
      .as[(String, String)].collect().toMap
    assert(dist == local)
    // non-ASCII: byte-wise UTF-8 order must agree with the distributed
    // tier's UTF8String min (é sorts after every ASCII id)
    val uni = Seq(("é", "e"), ("é", "ê")).toDF("id1", "id2")
    val uniLocal = Dedup.connectedComponents(uni)
      .as[(String, String)].collect().toMap
    val uniDist = Dedup.connectedComponents(uni, localEdgeCap = 0)
      .as[(String, String)].collect().toMap
    assert(uniLocal == uniDist)
    assert(uniLocal.values.toSet == Set("e"))
  }

  test("connected components: a 1000-link chain converges within log-rounds") {
    // a pure neighbor walk needs ~1000 rounds here and would silently
    // truncate at maxIter; pointer jumping converges in ~log2(1000)
    val chain = (0L until 1000L).map(i => (i, i + 1)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(chain, maxIter = 15, localEdgeCap = 0)
      .as[(Long, Long)].collect()
    assert(cc.length == 1001)
    assert(cc.forall(_._2 == 0L), s"unconverged labels: ${cc.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("splitByCluster: near-dup clusters never straddle the split; nested and salted") {
    val docs = (1L to 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 100 clusters of 3 (1-2-3 chains), 100 singletons
    val pairs = (0L until 100L).flatMap { c =>
      Seq((c * 3 + 1, c * 3 + 2), (c * 3 + 2, c * 3 + 3))
    }.toDF("id1", "id2")
    val out = Dedup.splitByCluster(docs, "doc_id", pairs, testPct = 30)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.size == 400)
    // every cluster is entirely on one side
    (0L until 100L).foreach { c =>
      val sides = Seq(c * 3 + 1, c * 3 + 2, c * 3 + 3).map(out).toSet
      assert(sides.size == 1, s"cluster $c split across sides: $sides")
    }
    val testFrac = out.values.count(_ == "test").toDouble / out.size
    assert(testFrac > 0.15 && testFrac < 0.45, s"testFrac=$testFrac")
    // nested: the 10% test set is a subset of the 30% one
    val t10 = Dedup.splitByCluster(docs, "doc_id", pairs, testPct = 10)
      .filter(col("split") === "test").select("doc_id").as[Long].collect().toSet
    val t30 = out.filter(_._2 == "test").keySet
    assert(t10.subsetOf(t30))
    // a different salt reshuffles
    val salted = Dedup.splitByCluster(docs, "doc_id", pairs, testPct = 30,
      salt = "v2").select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(salted != out)
  }

  test("dedupByClusters keeps one row per component plus untouched rows") {
    val docs = Seq((1L, "a"), (2L, "a2"), (3L, "a3"), (9L, "solo"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val kept = Dedup.dedupByClusters(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 9L))
  }

  test("end-to-end near-dup dedup: minhash pairs → clusters shrink the corpus") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id").select("id1", "id2")
    val kept = Dedup.dedupByClusters(docs, "doc_id", pairs)
    // 28 planted pairs; removing one per pair-component shrinks the corpus
    assert(kept.count() < docs.count())
    assert(kept.count() >= docs.count() - 28)
  }
}

class BucketedJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions._

  test("bucketed tables join without a shuffle exchange") {
    val sfDir = "/root/testdata/sf0.001"
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = graft.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Relational.writeBucketed(li, "li_bkt", "l_orderkey", 8)
    Relational.writeBucketed(o, "o_bkt", "l_orderkey", 8)
    val joined = spark.table("li_bkt").join(spark.table("o_bkt"), "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free co-located join:\n$plan")
    // same result as the plain join
    val expect = li.join(o, "l_orderkey").count()
    assert(joined.count() == expect)
  }

  test("salted join equals plain join") {
    val sfDir = "/root/testdata/sf0.001"
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_partkey", "l_quantity")
    val p = graft.Tables.load(spark, sfDir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val plain = li.join(p, "l_partkey").count()
    val salted = Relational.saltedJoin(li, p, "l_partkey", 4).count()
    assert(salted == plain)
  }
}

class GlobalRowNumberSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions._

  test("globalRowNumber matches single-partition row_number, without the bottleneck") {
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val order = Seq(col("ts"), col("event_id"))
    val naive = ev.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(order: _*))
        .cast("long"))
      .select("event_id", "rn")
    val scalable = Relational.globalRowNumber(ev, order)
      .select("event_id", "rn")
    assert(scalable.join(naive, Seq("event_id", "rn")).count() == ev.count())
    // The numbering window itself is partition-local, not
    // single-partition: rows carry a DETERMINISTIC order-aligned bin
    // (_pid, literal-inlined boundaries) remapped to a 1:1 shuffle key
    // (_pk), the local windows run per bin behind ONE hash exchange,
    // and the per-bin offsets come back through a broadcast join —
    // never a nested loop. Crucially there is NO pin: r12's
    // localCheckpoint of the full ranked corpus (a 100-TB storage
    // killer) is gone because deterministic bins make both consumers
    // agree by construction.
    val plan = Relational.globalRowNumber(ev, order)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan ExistingRDD"),
      s"scaffold must not pin the ranked corpus (localCheckpoint):\n$plan")
    assert(plan.contains("Exchange hashpartitioning(_pk"),
      s"expected the bin-keyed data exchange in plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin [_pid"),
      s"expected broadcast offsets join in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"offsets must never go through a nested loop:\n$plan")
  }

  test("binCache hits are exact: a planted entry under another key's plan never leaks") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, 101L - i)).toDF("a", "b").repartition(4)
    val parts = 4
    // plant a poisoned bin spec under key-expr a's EXACT cache key —
    // this simulates what a 32-bit semanticHash collision used to risk:
    // boundaries sketched from a different plan handed to this frame
    val keyA = Relational.binCacheKey(df, parts, Seq(col("a")))
    val poison = Relational.NumericBounds(IndexedSeq(-987654321L),
      org.apache.spark.sql.types.LongType)
    Relational.binCache.synchronized { Relational.binCache.put(keyA, poison) }
    try {
      // exact-plan hit builds its bin from the planted boundaries (the
      // planted key IS the key orderBinColumn computes for the same
      // frame + key list)
      val hitA = Relational.orderBinColumn(df, parts, Seq(col("a")))
      assert(hitA.toString.contains("-987654321"),
        "exact-plan hit must build from the cached boundaries")
      // a DIFFERENT key expression must MISS — under the old hash-only
      // key a collision here would hand b the planted boundaries, a bin
      // that is not monotone in b's order (silent wrong global ranks)
      val binB = Relational.orderBinColumn(df, parts, Seq(col("b")))
      assert(!binB.toString.contains("-987654321"),
        "different key expressions must not share entries")
      // and the scaffold over b still yields an exact permutation
      val rn = Relational.globalRowNumber(df, Seq(col("b")), numPartitions = parts)
        .select("rn").as[Long].collect().sorted
      assert(rn.toSeq == (1L to 100L))
    } finally Relational.binCache.synchronized { Relational.binCache.clear() }
  }

  test("binCache hits survive key-column renames: the cached spec is name-agnostic") {
    import spark.implicits._
    // two frames differing ONLY by the alias of a computed key column
    // canonicalize to the same cache key; the old Column-valued cache
    // handed the second frame a tree referencing the FIRST frame's
    // name (`k1`) — an analysis crash. The spec-valued cache rebuilds
    // the bin over the caller's own column on every call.
    val base = (1L to 200L).map(i => (i, i % 7)).toDF("a", "b")
    Relational.binCache.synchronized { Relational.binCache.clear() }
    try {
      val df1 = base.select((col("a") * 2).as("k1"), col("b"))
      val rn1 = Relational.globalRowNumber(df1, Seq(col("k1")), numPartitions = 4)
        .select("rn").as[Long].collect().sorted
      assert(rn1.toSeq == (1L to 200L))
      val entriesAfterFirst =
        Relational.binCache.synchronized { Relational.binCache.size }
      val df2 = base.select((col("a") * 2).as("k2"), col("b"))
      // same canonical key projection, different name — must not crash
      // and must still produce an exact permutation
      val rn2 = Relational.globalRowNumber(df2, Seq(col("k2")), numPartitions = 4)
        .select("rn").as[Long].collect().sorted
      assert(rn2.toSeq == (1L to 200L))
      // prove the second call HIT the first call's entry (same size) —
      // otherwise this spec wouldn't exercise the rename-hit path at all
      assert(Relational.binCache.synchronized { Relational.binCache.size }
        == entriesAfterFirst,
        "renamed frame must hit the cached spec, not add a new entry")
    } finally Relational.binCache.synchronized { Relational.binCache.clear() }
  }

  test("withGlobalPrefix retains null order keys in bin 0 under a caller-supplied bin") {
    import spark.implicits._
    // nulls sort first: with a caller-supplied hex bin (null id → null
    // hash → null bin) the rows must land in bin 0, not be dropped by
    // the offsets join
    val df = Seq(Some("b"), None, Some("a"), None, Some("c"))
      .toDF("id").withColumn("_bk", md5(col("id")))
    val out = Relational.withGlobalPrefix(df, 4,
        Seq(col("_bk"), col("id")), "_local_rn", lit(1L),
        bin = Some(Relational.hexPrefixBin(col("_bk"), 4)))
      .withColumn("rn", col("_offset") + col("_local_rn"))
    assert(out.count() == 5, "null-key rows must survive the offsets join")
    val rns = out.select("rn").as[Long].collect().sorted
    assert(rns.toSeq == (1L to 5L), "ranks must be a permutation")
    // null ids rank first (ascending nulls-first order)
    val nullRns = out.filter(col("id").isNull).select("rn").as[Long].collect().sorted
    assert(nullRns.toSeq == Seq(1L, 2L))
  }

  test("orderBinColumn falls back to a single bin for non-atomic key types") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), "x"), (Seq(3), "y")).toDF("arr", "s")
    val bin = Relational.orderBinColumn(df, 8, Seq(col("arr")))
    val got = df.select(bin.as("b")).distinct().as[Int].collect()
    assert(got.toSeq == Seq(0), "array keys must collapse to bin 0, not throw")
  }

  test("zorderColumn: exact Morton interleave, monotone per dimension, edge codes") {
    import spark.implicits._
    // a full 8×8 grid scaled over [0,7] with bits=3: the scale step is
    // the identity, so the code is the pure textbook interleave
    val grid = (for (x <- 0 to 7; y <- 0 to 7) yield (x, y)).toDF("x", "y")
    val out = grid.select(col("x"), col("y"),
        Relational.zorderColumn(grid, Seq("x", "y"), bits = 3))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    def morton(x: Int, y: Int): Long =
      (0 until 3).map(i => (((x >> i) & 1) << (2 * i)) |
        (((y >> i) & 1) << (2 * i + 1))).sum.toLong
    for (x <- 0 to 7; y <- 0 to 7)
      assert(out((x, y)) == morton(x, y), s"($x,$y)")
    assert(out((0, 0)) == 0L && out((7, 7)) == 63L)
    // monotone in each dimension with the other fixed
    for (y <- 0 to 7; x <- 0 to 6) assert(out((x, y)) < out((x + 1, y)))
    for (x <- 0 to 7; y <- 0 to 6) assert(out((x, y)) < out((x, y + 1)))
    // constant dimension contributes zero bits, never divides by zero
    val flat = Seq((1, 5), (2, 5), (3, 5)).toDF("a", "b")
    val fz = flat.select(Relational.zorderColumn(flat, Seq("a", "b"), 4))
      .collect().map(_.getLong(0))
    assert(fz.sameElements(fz.sorted) && fz.distinct.length == 3)
  }

  test("zorderBy: range-partitions on the code; locality beats single-column sort") {
    val li = graft.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val plan = Relational.zorderBy(li, Seq("l_partkey", "l_suppkey"),
      numPartitions = 8).queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning(_z"), plan)
    // the property z-order exists for: the TYPICAL partition's bounding
    // box covers a bounded fraction of EVERY clustered dimension (a
    // curve-discontinuity straddler can still be wide — hence mean, not
    // max) — a single-column sort leaves the other dimension at full
    // range in EVERY partition, so min/max stats never prune on it
    def meanFraction(df: org.apache.spark.sql.DataFrame): Double = {
      val whole = li.agg(
        (max("l_partkey") - min("l_partkey")).cast("double"),
        (max("l_suppkey") - min("l_suppkey")).cast("double")).head()
      val parts = df.withColumn("_p", spark_partition_id())
        .groupBy("_p").agg(
          (max("l_partkey") - min("l_partkey")).as("dx"),
          (max("l_suppkey") - min("l_suppkey")).as("dy"))
        .collect()
      val fr = parts.map(r => math.max(
        r.getAs[Number]("dx").doubleValue / whole.getDouble(0),
        r.getAs[Number]("dy").doubleValue / whole.getDouble(1)))
      fr.sum / fr.length
    }
    val zMean = meanFraction(
      Relational.zorderBy(li, Seq("l_partkey", "l_suppkey"), numPartitions = 8))
    val sortMean = meanFraction(
      li.repartitionByRange(8, col("l_partkey")))
    assert(zMean < sortMean,
      s"z-order mean dim fraction $zMean should beat single-column sort $sortMean")
  }

  test("bloomSemiJoin: exact despite forced false positives, long and string keys") {
    import spark.implicits._
    val big = (1L to 2000L).map(i => (i, s"row$i")).toDF("k", "payload")
    val keys = (1L to 2000L by 7).map(Tuple1(_)).toDF("kk")
    // fpp 0.5 guarantees plenty of bloom false positives — the confirm
    // join must still produce the exact semi-join result
    val got = Relational.bloomSemiJoin(big, "k", keys, "kk",
      expectedItems = 300L, fpp = 0.5)
      .select("k").as[Long].collect().toSet
    val want = big.join(keys, big("k") === keys("kk"), "left_semi")
      .select("k").as[Long].collect().toSet
    assert(got == want && want.nonEmpty)
    // string keys route through the UTF-8 binary probe
    val bigS = big.select(concat(lit("id-"), col("k")).as("k"), col("payload"))
    val keysS = keys.select(concat(lit("id-"), col("kk")).as("kk"))
    val gotS = Relational.bloomSemiJoin(bigS, "k", keysS, "kk",
      expectedItems = 300L, fpp = 0.3)
      .select("k").as[String].collect().toSet
    assert(gotS == want.map(i => s"id-$i"))
  }

  test("bloom filter: members always hit, non-members mostly pruned, bytes reusable") {
    import spark.implicits._
    val keys = (1L to 1000L).map(Tuple1(_)).toDF("k")
    val bytes = graft.functions.BloomOps.buildFilter(keys, "k",
      expectedItems = 1000L, fpp = 0.01)
    val probe = (1L to 5000L).map(Tuple1(_)).toDF("k")
      .filter(graft.functions.BloomOps.mightContain(col("k"), bytes))
      .as[Long].collect().toSet
    assert((1L to 1000L).forall(probe.contains), "no false negatives, ever")
    val fps = probe.count(_ > 1000L)
    assert(fps < 200, s"~1% fpp expected, got $fps/4000 false positives")
    // the serialized form round-trips through a file (the persisted
    // exclusion-list shape)
    val f = java.nio.file.Files.createTempFile("bloom", ".bin")
    java.nio.file.Files.write(f, bytes)
    val again = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.delete(f)
    val hits = probe.count(_ <= 1000L)
    val rehits = (1L to 1000L).map(Tuple1(_)).toDF("k")
      .filter(graft.functions.BloomOps.mightContain(col("k"), again))
      .as[Long].collect().length
    assert(rehits == hits && rehits == 1000)
  }
}
