package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Training-data curation additions: C4-style span dedup, Gopher-style
  * repetition signals, PII scrub, portable hash sampling. */
class TextPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("dedupSpans: repeated boilerplate span survives only its first occurrence") {
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler unique one tail"),
      (2L, s"$boiler other distinct ending"),
      (3L, "entirely fresh content with no shared prefix at all")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "text", "doc_id", span = 10)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    // doc 1 keeps both its spans
    assert(out(0).getString(1) == s"$boiler unique one tail")
    assert(out(0).getLong(2) == 2L)
    // doc 2 lost the boilerplate span, kept its unique tail
    assert(out(1).getString(1) == "other distinct ending")
    assert(out(1).getLong(2) == 1L)
    // doc 3 untouched
    assert(out(2).getString(1).startsWith("entirely fresh"))
  }

  test("dedupSpans: a fully-duplicated document vanishes") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "text", "doc_id", span = 10)
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("repetitionSignals: spammy repetition scores high, prose scores low") {
    val docs = Seq(
      (1L, "spam spam spam spam"),
      (2L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getDouble(1) == 1.0)       // all tokens are 'spam'
    assert(out(0).getDouble(2) == 0.666667)  // 3 bigrams, 1 distinct
    assert(out(1).getDouble(1) == 0.222222)  // 'the' twice in 9 tokens (round 6)
    assert(out(1).getDouble(2) == 0.0)       // all bigrams distinct
  }

  test("gopherFilter applies the composite quality rules") {
    val good = (1 to 40).map(i => s"w$i").mkString(" ") // 40 distinct tokens
    val docs = Seq(
      (1L, good),                                  // passes everything
      (2L, "too short"),                           // fails min tokens
      (3L, ("spam " * 40).trim),                   // fails unigram + bigram caps
      (4L, good + " " + good)                      // 80 toks but tuf=2/80 ok; dup bigrams high
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.gopherFilter(docs, "text", "doc_id")
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    val row = kept.head()
    assert(row.getAs[Long]("n_tokens") == 40)
    assert(row.getAs[Double]("top_unigram_frac") == 0.025)
  }

  test("scrubPii redacts emails and phone tails with counts") {
    val docs = Seq(
      (1L, "reach me at jane.doe+x@lab.example.org or 555-0147 thanks"),
      (2L, "no contact details here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(docs, "text").orderBy("doc_id").collect()
    assert(out(0).getAs[String]("text_clean") ==
      "reach me at [EMAIL] or [PHONE] thanks")
    assert(out(0).getAs[Long]("n_emails") == 1 && out(0).getAs[Long]("n_phones") == 1)
    assert(out(1).getAs[String]("text_clean") == "no contact details here")
    assert(out(1).getAs[Long]("n_emails") == 0 && out(1).getAs[Long]("n_phones") == 0)
  }

  test("mixSources: per-stratum rates, consistent with sampleByHash buckets") {
    val rows = (1L to 3000L).map(i =>
      (i, if (i % 3 == 0) "books" else if (i % 3 == 1) "web" else "logs"))
      .toDF("id", "source")
    val mixed = TextAnalysis.mixSources(rows, "id", "source",
      rates = Map("books" -> 100, "web" -> 30), defaultPct = 0)
    val bySource = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("books") == 1000)            // 100% stratum keeps everything
    assert(!bySource.contains("logs"))           // 0% stratum vanishes
    assert(bySource("web") > 200 && bySource("web") < 400) // ~30% of 1000
    // the kept web rows are EXACTLY the 30%-bucket rows of that stratum
    val webDirect = TextAnalysis.sampleByHash(
      rows.filter(col("source") === "web"), "id", 30)
      .select("id").as[Long].collect().toSet
    val webMixed = mixed.filter(col("source") === "web")
      .select("id").as[Long].collect().toSet
    assert(webMixed == webDirect)
  }

  test("feature hashing: tf weights, fixed width, dense form sums to token count") {
    val df = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"), (3L, ""))
      .toDF("doc_id", "text")
    val sparse = TextAnalysis.hashingFeatures(df, "text", "doc_id", dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sparse.filter(_._1 == 1L).map(_._3).sorted.toSeq == Seq(1L, 2L))
    assert(sparse.forall(t => t._2 >= 0 && t._2 < 64))
    assert(!sparse.exists(_._1 == 3L)) // empty doc → no features
    val dense = TextAnalysis.hashingVectors(df, "text", "doc_id", dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(dense(1L).length == 64 && dense(1L).sum == 3.0)
    assert(dense(2L).sum == 2.0)
    // token-less docs still get a row — the zero vector, not a dropout
    assert(dense(3L).length == 64 && dense(3L).sum == 0.0)
    // the shared-token bucket carries weight in BOTH vectors — the
    // no-vocabulary property: same token, same bucket, any corpus
    val shared = (0 until 64).filter(i => dense(1L)(i) > 0 && dense(2L)(i) > 0)
    assert(shared.nonEmpty)
  }

  test("logreg: separable vocabularies separate; training is deterministic") {
    val docs = (1L to 200L).map { i =>
      if (i % 2 == 0) (i, "alpha beta gamma delta", 1.0)
      else (i, "omega psi chi phi", 0.0)
    }.toDF("id", "text", "y")
    val feats = TextAnalysis.hashingFeatures(docs, "text", "id", 64)
    val labels = docs.select(col("id"), col("y"))
    val w = TextAnalysis.trainLogreg(feats, labels, "id", "y", dim = 64,
      iters = 20, lr = 4.0)
    val scores = TextAnalysis.scoreLogreg(feats, "id", w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pos = (2L to 200L by 2).map(scores).sum / 100
    val neg = (1L to 199L by 2).map(scores).sum / 100
    assert(pos > 0.8 && neg < 0.2, s"pos=$pos neg=$neg")
    // bit-identical retrain — the 6-dp round pins the trajectory
    val w2 = TextAnalysis.trainLogreg(feats, labels, "id", "y", dim = 64,
      iters = 20, lr = 4.0)
    assert(w.toSeq == w2.toSeq)
  }

  test("logreg L2+bias: intercept learns the base rate; decay shrinks weights") {
    // 90/10 label skew over a SHARED vocabulary: features carry no
    // signal, so the intercept is the only way to express the base rate
    val skew = (1L to 200L).map(i => (i, "same words every doc",
      if (i <= 180) 1.0 else 0.0)).toDF("id", "text", "y")
    val noFeats = Seq.empty[(Long, Long, Long)].toDF("id", "bucket", "tf")
    val (wS, bS) = TextAnalysis.trainLogregL2(noFeats,
      skew.select(col("id"), col("y")),
      "id", "y", dim = 64, iters = 30, lr = 2.0, l2 = 0.0)
    // featureless corpus: every doc scores σ(b); 30 rounds of lr=2 GD
    // on d = σ(b) − 0.9 pushes b positive toward logit(0.9)
    assert(bS > 1.0, s"bias=$bS")
    assert(wS.forall(_ == 0.0))

    // separable data: decay shrinks the solution norm, accuracy survives
    val docs = (1L to 200L).map { i =>
      if (i % 2 == 0) (i, "alpha beta gamma delta", 1.0)
      else (i, "omega psi chi phi", 0.0)
    }.toDF("id", "text", "y")
    val feats = TextAnalysis.hashingFeatures(docs, "text", "id", 64)
    val labels = docs.select(col("id"), col("y"))
    val (w0, _) = TextAnalysis.trainLogregL2(feats, labels, "id", "y",
      dim = 64, iters = 20, lr = 4.0, l2 = 0.0)
    // keep lr·l2 well under 1 — at 1 the decay wipes the weights each
    // round (the stationary point collapses toward 0)
    val (wL, bL) = TextAnalysis.trainLogregL2(feats, labels, "id", "y",
      dim = 64, iters = 20, lr = 4.0, l2 = 0.0625)
    assert(wL.map(x => x * x).sum < w0.map(x => x * x).sum)
    val scores = TextAnalysis.scoreLogreg(feats, "id", wL, bL)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pos = (2L to 200L by 2).map(scores).sum / 100
    val neg = (1L to 199L by 2).map(scores).sum / 100
    // decay pulls scores toward 1/2 by design — assert separation,
    // not the unregularized confidence
    assert(pos > 0.65 && neg < 0.35, s"pos=$pos neg=$neg")
    // determinism pin holds for the regularized trajectory too
    val (wL2, bL2) = TextAnalysis.trainLogregL2(feats, labels, "id", "y",
      dim = 64, iters = 20, lr = 4.0, l2 = 0.0625)
    assert(wL.toSeq == wL2.toSeq && bL == bL2)
  }

  test("dsir: bigram features hash pairs; target-like docs outrank the rest") {
    val bg = TextAnalysis.hashingBigramFeatures(
      Seq((1L, "a b a b"), (2L, "x"), (3L, "")).toDF("doc_id", "text"),
      "text", "doc_id", dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // "a b a b" → pairs (a b)(b a)(a b): two buckets, tfs {2, 1}
    assert(bg.filter(_._1 == 1L).map(_._3).sorted.toSeq == Seq(1L, 2L))
    assert(!bg.exists(_._1 == 2L)) // single token → no bigram
    assert(!bg.exists(_._1 == 3L))

    val target = (1L to 20L).map(i => (i + 1000L,
      "the cat sat on the mat and the cat purred")).toDF("doc_id", "text")
    val corpus = (1L to 40L).map { i =>
      if (i % 2 == 0) (i, "the cat sat on the mat near the cat")
      else (i, "stock market prices fell sharply on tuesday trading")
    }.toDF("doc_id", "text")
    val picked = TextAnalysis.dsirSelect(corpus, target, "text", "doc_id",
      dim = 256, n = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // exactly the cat-like half survives the n=20 cut
    assert(picked.keySet == (2L to 40L by 2).toSet, s"got ${picked.keySet}")
    // deterministic re-run
    val again = TextAnalysis.dsirSelect(corpus, target, "text", "doc_id",
      dim = 256, n = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(picked == again)
  }

  test("politenessSchedule: consecutive slots per domain, offsets honor the delay") {
    val rows = Seq(
      (1L, "https://a.com/x", java.lang.Long.valueOf(2000L)),
      (2L, "https://a.com/y", java.lang.Long.valueOf(2000L)),
      (3L, "https://a.com/z", java.lang.Long.valueOf(2000L)),
      (4L, "https://b.org/q", null.asInstanceOf[java.lang.Long]),
      (5L, "https://b.org/r", null.asInstanceOf[java.lang.Long])
    ).toDF("id", "url", "delay_ms")
    val out = TextAnalysis.politenessSchedule(rows, "url", "id", "delay_ms")
      .select("id", "domain", "slot", "offset_ms").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    // a.com rows get slots 1..3 with 2 s spacing, in the salted-md5 order
    val aSlots = Seq(1L, 2L, 3L).map(out(_)).sortBy(_._2)
    assert(aSlots.map(_._1).forall(_ == "a.com"))
    assert(aSlots.map(_._3) == Seq(0L, 2000L, 4000L))
    // b.org rows fall back to the 1000 ms default
    val bSlots = Seq(4L, 5L).map(out(_)).sortBy(_._2)
    assert(bSlots.map(_._3) == Seq(0L, 1000L))
    // deterministic across runs
    val again = TextAnalysis.politenessSchedule(rows, "url", "id", "delay_ms")
      .select("id", "slot").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(i => again(i) == out(i)._2))
  }

  test("temperatureMix: T=1 is a passthrough; larger T flattens toward uniform") {
    val rows = (1L to 3300L).map(i =>
      (i, if (i % 33 == 0) "rare" else "web")) // 100 rare vs 3200 web
      .toDF("id", "source")
    // T = 1: w = n^0 = 1 for every stratum → bp = grid → nothing drops
    assert(TextAnalysis.temperatureMix(rows, "id", "source", 1.0).count() == 3300)
    // T = 4: web's keep-rate falls to (3200/100)^(3/4) below rare's —
    // rare keeps everything, web thins toward it
    val mixed = TextAnalysis.temperatureMix(rows, "id", "source", 4.0)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mixed("rare") == 100) // most-lifted stratum keeps all rows
    val expectedWebRate = math.pow(100.0 / 3200.0, 1 - 1 / 4.0)
    val expectedWeb = 3200 * expectedWebRate
    assert(math.abs(mixed("web") - expectedWeb) < 0.2 * expectedWeb,
      s"web kept ${mixed("web")}, expected ~$expectedWeb")
    // deterministic: same call, same rows
    val again = TextAnalysis.temperatureMix(rows, "id", "source", 4.0).count()
    assert(again == mixed.values.sum)
  }

  test("sampleByHash: deterministic, nested, and roughly proportional") {
    val ids = (1L to 2000L).map(i => (i, s"doc $i")).toDF("id", "text")
    val s10 = TextAnalysis.sampleByHash(ids, "id", 10).select("id").as[Long].collect().toSet
    val s30 = TextAnalysis.sampleByHash(ids, "id", 30).select("id").as[Long].collect().toSet
    val s10again = TextAnalysis.sampleByHash(ids, "id", 10).select("id").as[Long].collect().toSet
    assert(s10 == s10again)            // reproducible
    assert(s10.subsetOf(s30))          // nested: growing never resamples
    assert(s10.size > 100 && s10.size < 300)  // ~10% of 2000
    assert(s30.size > 400 && s30.size < 800)  // ~30% of 2000
    // a different salt draws a different sample
    val salted = TextAnalysis.sampleByHash(ids, "id", 10, salt = "v2")
      .select("id").as[Long].collect().toSet
    assert(salted != s10)
  }

  test("contaminationHits/decontaminate: eval n-gram overlap flags docs") {
    val evalText = (1 to 13).map(i => s"e$i").mkString(" ")
    val docs = Seq(
      (1L, s"leading words then $evalText trailing here"), // carries eval 13-gram
      (2L, "completely unrelated content with plenty of distinct tokens " +
        (1 to 10).map(i => s"u$i").mkString(" ")),
      (3L, evalText)                                       // the eval doc itself
    ).toDF("doc_id", "text")
    val evalSet = Seq(Tuple1(evalText)).toDF("text")
    val hits = Dedup.contaminationHits(docs, evalSet, "text", "doc_id", n = 13)
      .orderBy("doc_id").collect()
    assert(hits.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(hits(0).getAs[Long]("n_eval_ngrams") == 1)
    val clean = Dedup.decontaminate(docs, evalSet, "text", "doc_id", n = 13)
    assert(clean.select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("contaminationHits: short docs fall back to whole-text grams") {
    val docs = Seq((1L, "tiny snippet"), (2L, "other words")).toDF("doc_id", "text")
    val evalSet = Seq(Tuple1("Tiny Snippet!")).toDF("text") // same normalized text
    val hits = Dedup.contaminationHits(docs, evalSet, "text", "doc_id")
    assert(hits.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("packSequences: offsets are a global cumsum, bins split on ctxLen") {
    val docs = Seq(
      (1L, (1 to 300).map(i => s"t$i").mkString(" ")), // 300 tokens → [0,300)
      (2L, (1 to 300).map(i => s"s$i").mkString(" ")), // [300,600) spans bin 0→1
      (3L, "   "),                                     // blank → 0 tokens at 600
      (4L, (1 to 100).map(i => s"r$i").mkString(" "))  // [600,700) inside bin 1
    ).toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(docs, "text", "doc_id", ctxLen = 512)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getAs[Long]("start_off"),
      r.getAs[Long]("bin_first"), r.getAs[Long]("bin_last"))).toSeq == Seq(
      (1L, 0L, 0L, 0L), (2L, 300L, 0L, 1L), (3L, 600L, 1L, 1L),
      (4L, 600L, 1L, 1L)))
    // partition-count independence: the two-pass cumsum must not depend
    // on how many range partitions the corpus lands in
    val one = TextAnalysis.packSequences(docs, "text", "doc_id",
      ctxLen = 512, numPartitions = 1).orderBy("doc_id").collect()
    assert(one.toSeq == out.toSeq)
  }

  test("packWholeDocs: pow2 classes, per-class (bin, slot), exclusions, bins never overflow") {
    def words(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    // ctxLen 8 → classes 1,2,4,8 with capacities 8,4,2,1
    val docs = Seq(
      (1L, "a"),            // 1 tok → class 1, rank 0 → bin 0 slot 0
      (2L, "a b"),          // 2 → class 2, rank 0 → bin 0 slot 0
      (3L, words(3, "x")),  // 3 → class 4, rank 0 → bin 0 slot 0
      (4L, words(4, "y")),  // 4 → class 4, rank 1 → bin 0 slot 1
      (5L, words(5, "z")),  // 5 → class 8, rank 0 → bin 0 slot 0
      (6L, words(8, "w")),  // 8 → class 8, rank 1 → bin 1 slot 0
      (7L, words(4, "v")),  // 4 → class 4, rank 2 → bin 1 slot 0
      (8L, words(9, "u")),  // 9 > ctxLen → EXCLUDED
      (9L, "   ")           // 0 tokens → EXCLUDED
    ).toDF("doc_id", "text")
    val out = TextAnalysis.packWholeDocs(docs, "text", "doc_id", ctxLen = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("len_class"),
        r.getAs[Long]("bin"), r.getAs[Long]("slot"))).toSeq
    assert(out == Seq(
      (1L, 1L, 0L, 0L), (2L, 2L, 0L, 0L), (3L, 4L, 0L, 0L),
      (4L, 4L, 0L, 1L), (5L, 8L, 0L, 0L), (6L, 8L, 1L, 0L),
      (7L, 4L, 1L, 0L)))
    // the no-overflow invariant: Σ class tokens per (class, bin) ≤ ctxLen
    val fills = TextAnalysis.packWholeDocs(docs, "text", "doc_id", ctxLen = 8)
      .groupBy("len_class", "bin").count().collect()
      .map(r => r.getLong(0) * r.getLong(2))
    assert(fills.forall(_ <= 8))
    // partition-count independence of the per-class two-pass rank
    val one = TextAnalysis.packWholeDocs(docs, "text", "doc_id",
      ctxLen = 8, numPartitions = 1).orderBy("doc_id").collect()
    val five = TextAnalysis.packWholeDocs(docs, "text", "doc_id",
      ctxLen = 8, numPartitions = 5).orderBy("doc_id").collect()
    assert(one.toSeq == five.toSeq)
  }

  test("topVocabulary: count-desc with lexicographic tie-break, normalized") {
    val docs = Seq(
      (1L, "Apple banana apple! CHERRY banana apple"),
      (2L, "banana date cherry")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topVocabulary(docs, "text", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("apple", 3L), ("banana", 3L), ("cherry", 2L)))
  }

  test("chunkDocuments: overlapping windows cover every token, final short") {
    val docs = Seq(
      (1L, (1 to 23).map(i => s"t$i").mkString(" ")), // 23 toks, stride 8, chunk 10
      (2L, "just three tokens"),
      (3L, "  ")                                      // blank → no chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, "text", "doc_id",
      chunkTokens = 10, stride = 8).orderBy("doc_id", "chunk_idx").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    // starts 0, 8, 16 → lengths 10, 10, 7
    assert(d1.map(_.getAs[Long]("chunk_idx")).toSeq == Seq(0L, 1L, 2L))
    assert(d1.map(_.getAs[Long]("n_chunk_tokens")).toSeq == Seq(10L, 10L, 7L))
    assert(d1(0).getAs[String]("chunk_text").startsWith("t1 t2 "))
    assert(d1(1).getAs[String]("chunk_text").startsWith("t9 t10 "))
    assert(d1(2).getAs[String]("chunk_text") == (17 to 23).map(i => s"t$i").mkString(" "))
    // overlap: token t9 appears in chunk 0 (pos 9) and opens chunk 1
    assert(d1(0).getAs[String]("chunk_text").split(" ").contains("t9"))
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2(0).getAs[Long]("n_chunk_tokens") == 3L)
    assert(!out.exists(_.getLong(0) == 3L))
    // non-overlapping default: stride = chunkTokens
    val plain = TextAnalysis.chunkDocuments(docs, "text", "doc_id",
      chunkTokens = 10).filter(col("doc_id") === 1L).collect()
    assert(plain.map(_.getAs[Long]("n_chunk_tokens")).sorted.toSeq == Seq(3L, 10L, 10L))
  }

  test("balancedSample: exact cap per stratum, equal to the single-window rank") {
    val rows = (1L to 900L).map(i => (i, s"s${i % 3}")).toDF("id", "stratum")
    val out = TextAnalysis.balancedSample(rows, "id", "stratum", cap = 25)
    val counts = out.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.toSet == Set(25L))
    // two-phase selection == the straight per-stratum top-cap by (md5, id)
    val direct = rows
      .withColumn("_k", md5(col("id").cast("string")))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("stratum").orderBy(col("_k"), col("id"))))
      .filter(col("_rn") <= 25).select("id").as[Long].collect().toSet
    assert(out.select("id").as[Long].collect().toSet == direct)
    // a stratum under the cap survives whole
    val tiny = (1L to 5L).map(i => (i, "only")).toDF("id", "stratum")
    assert(TextAnalysis.balancedSample(tiny, "id", "stratum", cap = 25)
      .count() == 5)
  }

  test("quantileFilter: per-stratum band, approx and exact agree here") {
    val rows = ((1 to 100).map(i => (i.toLong, "a", i.toLong)) ++
      (1 to 100).map(i => (100L + i, "b", 1000L + i)))
      .toDF("id", "stratum", "v")
    val kept = TextAnalysis.quantileFilter(rows, "v", "stratum",
      0.10, 0.90, exact = true)
    val byStratum = kept.groupBy("stratum").agg(
      min(col("v")).as("lo"), max(col("v")).as("hi"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact P10/P90 of 1..100 are 10.9 and 90.1 → kept 11..90
    assert(byStratum("a") == (11L, 90L))
    assert(byStratum("b") == (1011L, 1090L))
    // approx sketch path returns a similar band (not asserted equal)
    val approx = TextAnalysis.quantileFilter(rows, "v", "stratum", 0.10, 0.90)
    assert(math.abs(approx.count() - kept.count()) <= 10)
  }

  test("trainBpeMerges: frequency-ranked merges with greedy left-to-right overlap") {
    val docs = Seq(
      (1L, "low lower lowest low low"),
      (2L, "aaaa")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.trainBpeMerges(docs, "text", numMerges = 3,
      minPairCount = 1).orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("pair_count")))
    // (l,o) and (o,w) both occur 5x — lexicographic tie-break picks (a,a)?
    // no: (a,a) occurs 3x in "aaaa". (l,o)/(o,w) at 5 beat it; tie → (l,o)
    assert(m(0) == (1L, "l", "o", 5L))
    assert(m(1) == (2L, "lo", "w", 5L))
    // round 3: (a,a) at 3 beats (low,e) at 2
    assert(m(2) == (3L, "a", "a", 3L))

    // greedy overlap DECIDES a round: merging (a,a) in "aaaa" must
    // yield [aa, aa], so round 2 sees (aa,aa):2 — under the
    // boundary-sharing bug the state would be [aa, a, a] and round 2's
    // winner would be (a,a) again (lexicographic tie vs (aa,a))
    val aa = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val m2 = TextAnalysis.trainBpeMerges(aa, "text", numMerges = 2,
      minPairCount = 1).orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count")))
    assert(m2(0) == (1L, "a", "a", "aa", 6L))       // 3 adjacent x 2 words
    assert(m2(1) == (2L, "aa", "aa", "aaaa", 2L))   // both pairs merged
    // early stop: demanding pairs seen >= 100 times yields no merges
    assert(TextAnalysis.trainBpeMerges(docs, "text", numMerges = 3,
      minPairCount = 100).count() == 0)
  }

  test("bigramLmScore: hand-computed probabilities, repeat weighting, short docs null") {
    // corpus: "a b" x2 docs, "a b a c", a 1-token doc, a blank.
    // c(a,b)=3, c(b,a)=1, c(a,c)=1; c1: a=4, b=3, c=1, solo=1 → V=4
    // ("solo" forms no bigram but DOES count toward the vocabulary)
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b a c"),
      (4L, "solo"), (5L, " ")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs, "text", "doc_id", k = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getDouble(1)), r.getLong(2))).toMap
    val v = 4.0
    def p(c12: Double, c1: Double) = (c12 + 0.5) / (c1 + 0.5 * v)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((r6(math.log(p(3, 4))), 1L)))
    assert(out(2L) == out(1L))
    // doc 3: bigrams (a,b), (b,a), (a,c) — averaged over 3 occurrences
    val exp3 = r6((math.log(p(3, 4)) + math.log(p(1, 3)) + math.log(p(1, 4))) / 3)
    assert(out(3L) == ((exp3, 3L)))
    assert(out(4L) == ((null, 0L))) // single token: no bigram
    assert(out(5L) == ((null, 0L))) // blank
  }

  test("trainBpeMerges: driver-side loop is bit-identical to the Spark loop") {
    // tie-heavy corpus: equal pair counts force the lexicographic
    // tie-break every round; repeated chars force the greedy-overlap
    // rule; multi-merge chains force the incremental index to re-derive
    // affected words correctly
    val docs = Seq(
      (1L, "ab ab ba ba cd cd dc dc"),
      (2L, "aaaa bbbb abab baba"),
      (3L, "the theme there then"),
      (4L, "mississippi mississippi"),
      (5L, "x1y2 x1y2 y2x1"),
      (6L, "")
    ).toDF("doc_id", "text")
    for (nm <- Seq(1, 4, 12, 40); mpc <- Seq(1L, 2L, 3L)) {
      val local = TextAnalysis.trainBpeMerges(docs, "text", numMerges = nm,
        minPairCount = mpc).orderBy("rank").collect().map(_.toSeq).toSeq
      val sparkLoop = BpeSparkLoop.trainBpeMerges(docs, "text",
        numMerges = nm, minPairCount = mpc)
        .orderBy("rank").collect().map(_.toSeq).toSeq
      assert(local == sparkLoop, s"numMerges=$nm minPairCount=$mpc")
    }
  }

  test("trainBpeMerges: maxWords fail-fast names the knob") {
    val docs = Seq((1L, "one two three four five")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.trainBpeMerges(docs, "text", numMerges = 2,
        minPairCount = 1, maxWords = 3)
    }
    assert(e.getMessage.contains("maxWords"))
  }

  test("bpeSubwordCount: merges shrink counts; greedy overlap; blanks zero") {
    val docs = Seq(
      (1L, "low low lower"),
      (2L, "aaaa"),
      (3L, "  ")
    ).toDF("doc_id", "text")
    // no merges: every char is a subword
    val none = docs.select(col("doc_id"),
      TextAnalysis.bpeSubwordCount(col("text"), Nil).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(none == Map(1L -> 11L, 2L -> 4L, 3L -> 0L))
    // merges (l,o) then (lo,w): "low" → 1 subword, "lower" → 3 (low,e,r)
    val m = Seq("l" -> "o", "lo" -> "w")
    val merged = docs.select(col("doc_id"),
      TextAnalysis.bpeSubwordCount(col("text"), m).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged(1L) == 1L + 1L + 3L)
    // greedy overlap on the encode side too: (a,a) over "aaaa" → [aa, aa]
    assert(docs.select(TextAnalysis.bpeSubwordCount(col("text"),
      Seq("a" -> "a")).as("n")).collect()(1).getLong(0) == 2L)
  }

  test("qualityScore: prose scores above noise, threshold filters") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it was happy with that outcome"),
      (2L, "X9A2 77B KJQ3 9912 ZZTOP 4485 QQ 99 11 22 33 44"),
      (3L, "")
    ).toDF("doc_id", "text")
    val scored = TextAnalysis.qualityScore(docs, "text")
    val byId = scored.collect().map(r =>
      r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    assert(byId(1L) > byId(2L), s"prose ${byId(1L)} !> noise ${byId(2L)}")
    assert(byId.values.forall(s => s > 0.0 && s < 1.0))
    val kept = TextAnalysis.qualityScore(docs, "text", minScore = byId(1L) - 0.01)
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("blocklistFilter: normalized token match drops listed docs") {
    val docs = Seq(
      (1L, "perfectly clean prose here"),
      (2L, "contains the Forbidden! word"),
      (3L, "forbiddenword is fine (not a token match)")
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.blocklistFilter(docs, "text", Seq("forbidden"))
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L, 3L))
    // blocklist entries are normalized too: "FORBIDDEN!" matches the
    // same docs, and a multi-token entry blocks on ANY of its tokens
    assert(TextAnalysis.blocklistFilter(docs, "text", Seq("FORBIDDEN!"))
      .select("doc_id").as[Long].collect().toSeq == Seq(1L, 3L))
    // "clean-word" → tokens {clean, word}: doc 1 has "clean", doc 2 has
    // "word" — only doc 3 survives
    assert(TextAnalysis.blocklistFilter(docs, "text", Seq("clean-word"))
      .select("doc_id").as[Long].collect().toSeq == Seq(3L))
  }

  test("chunkDocuments properties: non-overlapping chunks reconstruct the text; overlap covers every start") {
    // deterministic corpus with varied lengths incl. exact-multiple sizes
    val docs = (1L to 60L).map { i =>
      (i, (1 to (i % 17 + 1).toInt).map(j => s"t${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val plain = TextAnalysis.chunkDocuments(docs, "text", "doc_id", chunkTokens = 5)
      .orderBy("doc_id", "chunk_idx").collect()
    val rebuilt = plain.groupBy(_.getLong(0)).map { case (id, rows) =>
      id -> rows.sortBy(_.getAs[Long]("chunk_idx"))
        .map(_.getAs[String]("chunk_text")).mkString(" ")
    }
    docs.collect().foreach { r =>
      assert(rebuilt(r.getLong(0)) == r.getString(1),
        s"doc ${r.getLong(0)} not reconstructed")
    }
    // overlapping: every chunk_idx start = idx*stride and token counts
    // never exceed the window
    val over = TextAnalysis.chunkDocuments(docs, "text", "doc_id",
      chunkTokens = 5, stride = 2).collect()
    assert(over.forall(_.getAs[Long]("n_chunk_tokens") <= 5))
    assert(over.forall(r => r.getAs[Long]("n_chunk_tokens") > 0))
  }

  test("balancedSample property: per-stratum counts are min(cap, stratum size)") {
    val rows = (1L to 500L).map { i =>
      (i, s"s${i % 7}") // strata of sizes 71-72
    }.toDF("id", "stratum")
    val sizes = rows.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(10, 71, 200).foreach { cap =>
      val got = TextAnalysis.balancedSample(rows, "id", "stratum", cap)
        .groupBy("stratum").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      sizes.foreach { case (s, n) =>
        assert(got(s) == math.min(cap.toLong, n), s"cap=$cap stratum=$s")
      }
    }
  }

  test("sampleToTokenBudget property: kept prefix is maximal in hash order") {
    val docs = (1L to 100L).map(i =>
      (i, (1 to (i % 9 + 1).toInt).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val budget = 150L
    val kept = TextAnalysis.sampleToTokenBudget(docs, "text", "doc_id", budget)
      .collect()
    val total = kept.map(_.getAs[Long]("n_tokens")).sum
    assert(total <= budget)
    assert(kept.map(_.getAs[Long]("cum_tokens")).max == total)
    // maximality: the first EXCLUDED doc in hash order would overflow
    val keptIds = kept.map(_.getLong(0)).toSet
    val ranked = docs.withColumn("_bk", md5(col("doc_id").cast("string")))
      .orderBy("_bk", "doc_id").collect()
    val firstExcluded = ranked.find(r => !keptIds.contains(r.getLong(0)))
    firstExcluded.foreach { r =>
      val n = r.getString(1).split(" ").length
      assert(total + n > budget, "a fitting doc was excluded")
    }
  }

  test("sampleToTokenBudget: greedy hash-order prefix, nested, partition-independent") {
    val docs = (1L to 200L).map(i => (i, (1 to 10).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text") // 10 tokens per doc → budget 95 keeps exactly 9 docs
    val s95 = TextAnalysis.sampleToTokenBudget(docs, "text", "doc_id", 95L)
    val rows = s95.orderBy("cum_tokens").collect()
    assert(rows.length == 9)
    assert(rows.map(_.getAs[Long]("cum_tokens")).toSeq == (1 to 9).map(_ * 10L))
    assert(rows.last.getAs[Long]("cum_tokens") <= 95L) // overflow doc excluded
    // nested: a larger budget keeps a superset
    val s150 = TextAnalysis.sampleToTokenBudget(docs, "text", "doc_id", 150L)
      .select("doc_id").as[Long].collect().toSet
    assert(s95.select("doc_id").as[Long].collect().toSet.subsetOf(s150))
    // partition-count independence of the two-pass cumsum
    val p1 = TextAnalysis.sampleToTokenBudget(docs, "text", "doc_id", 95L,
      numPartitions = 1).select("doc_id").as[Long].collect().toSet
    val p7 = TextAnalysis.sampleToTokenBudget(docs, "text", "doc_id", 95L,
      numPartitions = 7).select("doc_id").as[Long].collect().toSet
    assert(p1 == p7 && p1 == s95.select("doc_id").as[Long].collect().toSet)
    // a different salt fills the budget with a different prefix
    val salted = TextAnalysis.sampleToTokenBudget(docs, "text", "doc_id", 95L,
      salt = "v2").select("doc_id").as[Long].collect().toSet
    assert(salted != p1)
  }

  test("tfidfTopTerms: corpus-wide terms score zero, rare terms rank first") {
    val docs = Seq(
      (1L, "shared shared zebra"),
      (2L, "shared quux"),
      (3L, "shared other")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", k = 2)
    val byDoc = out.collect().groupBy(_.getLong(0))
    // "shared" appears in every doc → idf = ln(1) = 0; unique terms win
    val d1 = byDoc(1L).sortBy(_.getAs[Long]("rank"))
    assert(d1.head.getAs[String]("term") == "zebra")
    assert(math.abs(d1.head.getAs[Double]("tfidf") -
      math.rint(math.log(3.0) * 1e6) / 1e6) < 1e-9)
    assert(d1.last.getAs[String]("term") == "shared")
    assert(d1.last.getAs[Double]("tfidf") == 0.0)
  }

  test("dedupLines: boilerplate lines vanish everywhere, unique prose survives in order") {
    val docs = Seq(
      (1L, "COMMON NAV\nunique one\nfooter"),
      (2L, "COMMON NAV\nunique two\nfooter"),
      (3L, "COMMON NAV\nunique three\nfooter"),
      (4L, "standalone document")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "text", "doc_id", minDocs = 3)
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    assert(out(0).getString(1) == "unique one")
    assert(out(0).getLong(2) == 1L)
    assert(out(1).getString(1) == "unique two")
    assert(out(3).getString(1) == "standalone document")
  }

  test("dedupLines: minDocs counts DISTINCT docs; intra-doc repeats don't trip it") {
    val docs = Seq(
      (1L, "repeated\nrepeated\nrepeated\nkeep me"),
      (2L, "other content")
    ).toDF("doc_id", "text")
    // "repeated" occurs 3× but only in ONE doc → not boilerplate
    val out = Dedup.dedupLines(docs, "text", "doc_id", minDocs = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "repeated\nrepeated\nrepeated\nkeep me")
  }

  test("dedupLines: all-boilerplate doc vanishes; blank lines always survive") {
    val docs = Seq(
      (1L, "same\n\nmine"),
      (2L, "same"),
      (3L, "same")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "text", "doc_id", minDocs = 2)
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId.keySet == Set(1L)) // docs 2 and 3 were pure boilerplate
    assert(byId(1L).getString(1) == "\nmine") // blank line kept
    assert(byId(1L).getLong(2) == 2L)
  }

  test("dedupLines: trimmed matching — indentation variants count as one line") {
    val docs = Seq(
      (1L, "  footer  \nkeep a"),
      (2L, "footer\nkeep b")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "text", "doc_id", minDocs = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "keep a")
    assert(out(1).getString(1) == "keep b")
  }

  test("heavyHitters: exact result equals brute-force counts at the ppm threshold") {
    // 20 docs; "alpha" in all, "beta" in half, long tail of unique tokens
    val docs = (1 to 20).map { i =>
      val beta = if (i % 2 == 0) " beta" else ""
      (i.toLong, s"alpha$beta tail$i extra$i")
    }.toDF("doc_id", "text")
    // total = 20 + 10 + 40 = 70 tokens; alpha 20/70 = 285714 ppm,
    // beta 10/70 = 142857 ppm, tails 1/70 = 14285 ppm
    val out = TextAnalysis.heavyHitters(docs, "text", thresholdPpm = 100000L)
      .orderBy("tok").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("alpha", 20L), ("beta", 10L)))
  }

  test("heavyHitters: sketch churn across partitions never loses a true hitter") {
    // force tiny capacity (high ppm → capacity ~ 2e6/ppm) and many
    // partitions so both the decrement-all and merge paths execute
    val docs = (1 to 200).map { i =>
      (i.toLong, s"hot hot hot uniq${i}a uniq${i}b uniq${i}c")
    }.toDF("doc_id", "text").repartition(16)
    // total = 1200 tokens, hot = 600 → 500000 ppm; threshold 400000
    val out = TextAnalysis.heavyHitters(docs, "text", thresholdPpm = 400000L)
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("hot", 600L)))
  }

  test("heavyHitters: empty corpus yields empty result; knobs validated") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.heavyHitters(empty, "text", 1000L).count() == 0L)
    // null text must not crash the summary pass (null Seq after decode)
    val withNull = Seq((1L, "hot hot"), (2L, null: String)).toDF("doc_id", "text")
    assert(TextAnalysis.heavyHitters(withNull, "text", 500000L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("hot", 2L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.heavyHitters(empty, "text", 0L)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.heavyHitters(empty, "text", 1000L, safety = 1)
    }
  }

  test("stripHtml: script/style/comments/tags/entities out, whitespace collapsed") {
    val html = Seq((1L,
      "<html><head><script>if (a < b) { x(); }</script>" +
        "<style>p { color: red }</style></head>" +
        "<body><p class=\"x\">Tom &amp; Jerry</p><!-- note -->" +
        "<div>say &quot;hi&quot; &lt;now&gt;   &nbsp;ok</div></body></html>"
    )).toDF("doc_id", "text")
    val out = html.select(TextAnalysis.stripHtml(col("text"))).head().getString(0)
    assert(out == "Tom & Jerry say \"hi\" <now> ok")
  }

  test("stripHtml: double-escaped entity decodes once (&amp;lt; -> &lt;)") {
    val out = Seq((1L, "a &amp;lt; b")).toDF("doc_id", "text")
      .select(TextAnalysis.stripHtml(col("text"))).head().getString(0)
    assert(out == "a &lt; b")
  }

  test("stripHtml: plain text passes through with whitespace normalization only") {
    val out = Seq((1L, "  plain   text,  2 < 3 stays  ")).toDF("doc_id", "text")
      .select(TextAnalysis.stripHtml(col("text"))).head().getString(0)
    assert(out == "plain text, 2 < 3 stays")
  }

  test("shardByTokenBudget: shards fill in hash order, never split a doc, overflow <= 1 doc") {
    val docs = (1 to 60).map(i => (i.toLong, ("w " * 10).trim)).toDF("doc_id", "text")
    val out = TextAnalysis.shardByTokenBudget(docs, "text", "doc_id", shardTokens = 45L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.forall(_._2 == 10L))
    // 10-token docs into 45-token shards: starts 0,10,20,30,40 → shard 0
    // (5 docs, 50 tokens — overflow by one doc), next start 50 → shard 1
    val perShard = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(perShard.values.forall(_ <= 50L)) // budget + one doc
    assert(perShard.keySet == (0L until perShard.size).toSet) // consecutive
    // deterministic and partition-count independent
    val again = TextAnalysis.shardByTokenBudget(docs.repartition(7), "text",
      "doc_id", shardTokens = 45L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(out.map(t => (t._1, t._3)).toMap == again)
  }

  test("bpeTokenIds: hand-computed ids, count parity with subword count, dup-symbol rule") {
    // merges: ("t","h")->th id 36, ("th","e")->the id 37
    val merges = Seq("t" -> "h", "th" -> "e")
    val docs = Seq((1L, "the cat"), (2L, "   "), (3L, "ab ab")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.bpeTokenIds(col("text"), merges).as("ids"),
        TextAnalysis.bpeSubwordCount(col("text"), merges).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // "the" -> [the]=37; "cat" -> c(2) a(0) t(19)
    assert(out(1L) == (("37,2,0,19", 4L)))
    assert(out(2L) == (("", 0L)))              // blank: empty ids, count 0
    assert(out(3L) == (("0,1,0,1", 4L)))       // a=0 b=1 per word
    // id count == subword count on every real doc
    out.values.filter(_._1.nonEmpty).foreach { case (ids, n) =>
      assert(ids.split(",").length.toLong == n)
    }
    // duplicate merged product: ("a","bc") then ("ab","c") both yield "abc";
    // the EARLIER rank owns the id (38 never appears)
    val dup = Seq("b" -> "c", "a" -> "bc", "ab" -> "c")
    val r = Seq((1L, "abc")).toDF("doc_id", "text")
      .select(TextAnalysis.bpeTokenIds(col("text"), dup)).head().getString(0)
    assert(r == "37")
  }

  test("bpeDecodeIds: inverse of bpeTokenIds — round trip equals normalized-minus-spaces") {
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "n")
    val docs = Seq(
      (1L, "The Thinancient, MANTLE!"),
      (2L, "a1 b2 c3"),
      (3L, "...!!!")  // normalizes to nothing
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.bpeDecodeIds(
          TextAnalysis.bpeTokenIds(col("text"), merges), merges).as("d"),
        regexp_replace(trim(regexp_replace(lower(col("text")),
          "[^a-z0-9]+", " ")), " ", "").as("want"))
      .collect()
    out.foreach(r => assert(r.getString(1) == r.getString(2), r.getLong(0)))
    // id "<3>" must not decode inside "<37>": with 38 ids in play the
    // round trip above already covers multi-digit/single-digit overlap,
    // but pin one directly
    val one = Seq((1L, "the")).toDF("doc_id", "text")
      .select(TextAnalysis.bpeDecodeIds(
        TextAnalysis.bpeTokenIds(col("text"), merges), merges)).head().getString(0)
    assert(one == "the")
  }

  test("packWindows: docs tile windows exactly, cross boundaries, blanks vanish") {
    val docs = Seq(
      (1L, "a b c d"),                       // 4 tokens, start 0
      (2L, "e f g h i j k l"),               // 8 tokens, start 4 — crosses win0/win1
      (3L, (1 to 12).map(i => s"t$i").mkString(" ")), // 12 tokens, start 12
      (4L, "   ")                            // blank: contributes nothing
    ).toDF("doc_id", "text")
    val out = TextAnalysis.packWindows(docs, "text", "doc_id", ctxLen = 10)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (0L, 2L, 10L, "1:0:4,2:4:6"),
      (1L, 2L, 10L, "2:0:2,3:2:8"),
      (2L, 1L, 4L, "3:0:4")))
    // every window except the last is exactly full — the packing invariant
    assert(out.dropRight(1).forall(_._3 == 10L))
  }

  test("packWindowsBySource: hard stratum boundary — windows never mix sources") {
    val docs = Seq(
      (1L, "a", "w1 w2 w3 w4"),      // a: 4 + 8 = 12 tokens → bins 0,1 (ctx 10)
      (2L, "a", "x1 x2 x3 x4 x5 x6 x7 x8"),
      (3L, "b", "y1 y2 y3")          // b: 3 tokens → its own bin 0
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.packWindowsBySource(docs, "text", "doc_id",
      "source", ctxLen = 10)
      .orderBy("source", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq(
      ("a", 0L, 2L, 10L, "1:0:4,2:4:6"),
      ("a", 1L, 1L, 2L, "2:0:2"),
      ("b", 0L, 1L, 3L, "3:0:3")))
    // equivalence: per-source result == global packWindows run on each
    // source's slice alone
    val alone = TextAnalysis.packWindows(
      docs.filter(col("source") === "a").drop("source"), "text", "doc_id", 10)
      .orderBy("bin").collect().map(r => (r.getLong(0), r.getString(3)))
    assert(alone.toSeq == Seq((0L, "1:0:4,2:4:6"), (1L, "2:0:2")))
  }

  test("packWindowsBySource: keyed high-cardinality path is bit-identical to the two-pass path") {
    // many small strata — the shape the keyed path exists for
    val rnd = new scala.util.Random(41)
    val docs = (1 to 300).map { i =>
      val nTok = rnd.nextInt(9) // incl. blank docs
      (i.toLong, s"u${i % 53}", (1 to nTok).map(t => s"w$t").mkString(" "))
    }.toDF("doc_id", "source", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source", "bin").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSeq
    val twoPass = canon(TextAnalysis.packWindowsBySource(
      docs, "text", "doc_id", "source", ctxLen = 7))
    val keyed = canon(TextAnalysis.packWindowsBySource(
      docs, "text", "doc_id", "source", ctxLen = 7,
      highCardinalityStrata = true))
    assert(keyed == twoPass)
    // the keyed plan carries NO broadcast join and NO totals-table
    // aggregate — one hash exchange on the stratum key
    val plan = TextAnalysis.packWindowsBySource(
      docs, "text", "doc_id", "source", ctxLen = 7,
      highCardinalityStrata = true).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"), plan)
  }

  test("upsampleSources: whole epochs copy every row, fractional epochs hash-select, 0 drops") {
    val docs = (1 to 400).map(i =>
      (i.toLong, if (i <= 100) "books" else if (i <= 200) "web" else "junk"))
      .toDF("doc_id", "source")
    val out = TextAnalysis.upsampleSources(docs, "doc_id", "source",
      Map("books" -> 250, "junk" -> 0), defaultPct = 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val bySrc = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("web") == 100)          // 1 epoch exactly
    assert(!bySrc.contains("junk"))      // weight 0 drops the stratum
    // books: 100 docs x (2 + fractional 50%) — every doc appears 2 or 3
    // times, totals between 200 and 300, deterministic on repeat
    val books = out.filter(_._2 == "books")
    val perDoc = books.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perDoc.values.forall(n => n == 2 || n == 3))
    assert(books.length > 200 && books.length < 300)
    // epochs are 0-based consecutive per doc
    assert(books.groupBy(_._1).values.forall(rows =>
      rows.map(_._3).sorted.sameElements(0 until rows.length)))
    // nested: raising a weight only ADDS copies
    val more = TextAnalysis.upsampleSources(docs, "doc_id", "source",
      Map("books" -> 280, "junk" -> 0), defaultPct = 100)
      .collect().filter(_.getString(1) == "books")
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perDoc.forall { case (id, n) => more(id) >= n })
    intercept[IllegalArgumentException] {
      TextAnalysis.upsampleSources(docs, "doc_id", "source", Map("books" -> 10001))
    }
  }

  test("invertedIndex: df bounds prune, postings sorted numerically and capped") {
    val docs = Seq(
      (10L, "common alpha beta"),
      (2L, "common alpha"),
      (7L, "common alpha solo"),
      (1L, "common")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(docs, "text", "doc_id",
      minDf = 2L, maxDf = 3L, maxPostings = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // "common" df=4 > maxDf → pruned; "beta"/"solo" df=1 < minDf → pruned
    assert(out.keySet == Set("alpha"))
    // numeric sort (2 < 7 < 10, not "10" < "2") and cap keeps smallest 2
    assert(out("alpha") == ((3L, "2,7")))
    intercept[IllegalArgumentException] {
      TextAnalysis.invertedIndex(docs, "text", "doc_id", minDf = 5L, maxDf = 2L)
    }
  }

  test("shardByTokenBudget: salt reshuffles the layout; oversized doc gets its own shard start") {
    val tokens = Map(1L -> 3L, 2L -> 100L, 3L -> 2L)
    val docs = Seq((1L, "a b c"), (2L, ("x " * 100).trim), (3L, "d e")).toDF("doc_id", "text")
    val base = TextAnalysis.shardByTokenBudget(docs, "text", "doc_id", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val salted = TextAnalysis.shardByTokenBudget(docs, "text", "doc_id", 10L, salt = "s1")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(base.keySet == salted.keySet)
    // recompute the EXACT expected layout: md5 hash order, shard =
    // start offset div 10 — the 100-token doc advances the cursor by
    // 10 whole shard budgets for whatever follows it
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def expected(salt: String): Map[Long, Long] = {
      var off = 0L
      tokens.keys.toSeq.sortBy(id => (md5hex(salt + id), id)).map { id =>
        val shard = off / 10; off += tokens(id); id -> shard
      }.toMap
    }
    assert(base == expected(""))
    assert(salted == expected("s1"))
    intercept[IllegalArgumentException] {
      TextAnalysis.shardByTokenBudget(docs, "text", "doc_id", 0L)
    }
  }

  test("sampleExactN: exact size, deterministic, salt-sensitive, null-id-safe") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = ((1L to 100L).map(i => (i: java.lang.Long)) :+
      (null: java.lang.Long)).toDF("doc_id")
    val a = TextAnalysis.sampleExactN(docs, "doc_id", 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(a.length == 10 && a.distinct.length == 10)
    val b = TextAnalysis.sampleExactN(docs, "doc_id", 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(a == b, "deterministic")
    val expected = (1L to 100L).sortBy(i => (md5hex(i.toString), i)).take(10)
    assert(a.sorted == expected.sorted, "matches the portable md5 rank")
    val salted = TextAnalysis.sampleExactN(docs, "doc_id", 10, salt = "s")
      .select("doc_id").as[Long].collect().toSeq
    assert(salted.toSet != a.toSet)
    // n >= corpus: everything (minus null ids) survives
    assert(TextAnalysis.sampleExactN(docs, "doc_id", 500).count() == 100)
  }

  test("sampleWeighted: deterministic, weight-sensitive, excludes nonpositive") {
    val docs = ((1L to 200L).map(i =>
      (i, if (i <= 100) 1.0 else 10.0)) ++ Seq((300L, 0.0), (301L, -2.0)))
      .toDF("doc_id", "w")
    val a = TextAnalysis.sampleWeighted(docs, "doc_id", "w", 40)
      .select("doc_id").as[Long].collect().toSeq
    assert(a.length == 40 && a.distinct.length == 40)
    assert(!a.contains(300L) && !a.contains(301L), "w <= 0 excluded")
    val b = TextAnalysis.sampleWeighted(docs, "doc_id", "w", 40)
      .select("doc_id").as[Long].collect().toSeq
    assert(a == b, "deterministic")
    // 10x-weighted half dominates: across salts it wins ~10:1 odds
    val heavyShare = (0 until 8).map { s =>
      TextAnalysis.sampleWeighted(docs, "doc_id", "w", 40, salt = s.toString)
        .select("doc_id").as[Long].collect().count(_ > 100L)
    }.sum / 8.0
    assert(heavyShare > 28, s"heavy half won only $heavyShare of 40")
    // n >= population: everything positive-weighted survives
    assert(TextAnalysis.sampleWeighted(docs, "doc_id", "w", 500).count() == 200)
  }

  test("corpusDelta: added/removed/changed/unchanged all classify by fingerprint") {
    val v1 = Seq((1L, "alpha text"), (2L, "beta text"), (3L, "gamma text"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha text"),          // unchanged
      (2L, "beta text edited"),               // changed
      (4L, "fresh doc")                       // added; 3 removed
    ).toDF("doc_id", "text")
    val d = TextAnalysis.corpusDelta(v1, v2, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // normalization-invariant: punctuation/case shifts are NOT changes
    val v2b = Seq((1L, "ALPHA, text!"), (2L, "beta text"), (3L, "gamma text"))
      .toDF("doc_id", "text")
    val d2 = TextAnalysis.corpusDelta(v1, v2b, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d2(1L) == "unchanged")
  }

  test("registeredDomain: public-suffix awareness, deep subdomains, edge shapes") {
    val hosts = Seq(
      "www.example.com" -> "example.com",
      "a.b.c.example.co.uk" -> "example.co.uk",
      "example.co.uk" -> "example.co.uk",
      "co.uk" -> "co.uk",          // the suffix alone: nothing to its left
      "example.com" -> "example.com",
      "localhost" -> "localhost",  // single label passes through
      "cdn.shop.com.au" -> "shop.com.au",
      "deep.stack.gob.mx" -> "stack.gob.mx",
      "not.a.multi.org" -> "multi.org"
    ).toDF("host", "want")
    val out = hosts.withColumn("got",
      TextAnalysis.registeredDomain(col("host"))).collect()
    out.foreach(r => assert(r.getAs[String]("got") == r.getAs[String]("want"),
      r.getAs[String]("host")))
    // custom suffix list overrides the default
    val custom = Seq(Tuple1("x.y.internal")).toDF("host")
      .select(TextAnalysis.registeredDomain(col("host"),
        Seq("y.internal")).as("d")).head().getString(0)
    assert(custom == "x.y.internal")
  }

  test("urlDomains and capPerDomain: parse, group, cap; bad URLs yield null host") {
    val docs = Seq(
      (1L, "https://www.example.co.uk/a?b=1"),
      (2L, "https://cdn.example.co.uk/c"),
      (3L, "https://api.other.com/d"),
      (4L, "http://other.com/e"),
      (5L, "::not a url::")
    ).toDF("doc_id", "url")
    val d = TextAnalysis.urlDomains(docs, "url", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), Option(r.getString(2)))).toMap
    assert(d(1L) == (Some("www.example.co.uk"), Some("example.co.uk")))
    assert(d(2L)._2 == Some("example.co.uk"))
    assert(d(3L)._2 == Some("other.com"))
    assert(d(4L)._2 == Some("other.com"))
    assert(d(5L)._1.isEmpty)
    val capped = TextAnalysis.capPerDomain(docs.filter(col("doc_id") < 5),
      "url", "doc_id", cap = 1)
      .select("domain").as[String].collect().sorted
    assert(capped.toSeq == Seq("example.co.uk", "other.com"))
  }

  test("bm25TopK: hand-computed scores, idf and length normalization") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana banana"),
      (4L, "cherry date elderberry")
    ).toDF("doc_id", "text")
    // N=4, dl = 3/2/4/3, avgdl = 3; df(apple)=2 → idf = ln 2
    val out = TextAnalysis.bm25TopK(docs, "text", "doc_id",
      queries = Seq(1L -> "apple"), k = 10)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    val ln2 = math.log(2.0)
    // d1: tf=2 dl=3 → ln2 * 4.4 / (2 + 1.2·(0.25 + 0.75·3/3))
    val d1 = math.rint(ln2 * 4.4 / 3.2 * 1e6) / 1e6
    // d2: tf=1 dl=2 → ln2 * 2.2 / (1 + 1.2·(0.25 + 0.75·2/3))
    val d2 = math.rint(ln2 * 2.2 / 1.9 * 1e6) / 1e6
    assert(out(0).getAs[Double]("score") == d1)
    assert(out(1).getAs[Double]("score") == d2)
    assert(out.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L))
  }

  test("bm25TopK: multi-term sum, rare term outranks common, query dedup") {
    val docs = Seq(
      (1L, "common common common rare"),
      (2L, "common common common common"),
      (3L, "common filler filler filler"),
      (4L, "filler filler filler filler")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "text", "doc_id",
      queries = Seq(7L -> "Common, RARE rare!"), k = 2).collect()
    // doc 1 holds the only "rare" → its summed score must rank first
    val byRank = out.sortBy(_.getAs[Long]("rank"))
    assert(byRank.head.getLong(1) == 1L)
    assert(out.length == 2)
    // query-term dedup: "rare rare" scores once — identical to "rare"
    val once = TextAnalysis.bm25TopK(docs, "text", "doc_id",
      queries = Seq(7L -> "common rare"), k = 2).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(byRank.map(r => (r.getLong(1), r.getDouble(2))).toMap == once)
  }

  test("bm25TopK: k bound per query, unmatched query yields no rows, guards") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha gamma"), (3L, "alpha delta")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "text", "doc_id",
      queries = Seq(1L -> "alpha", 2L -> "zzz absent"), k = 2)
    val rows = out.collect()
    assert(rows.forall(_.getLong(0) == 1L), "query 2 matches nothing")
    assert(rows.length == 2, "k caps matches per query")
    // equal scores (identical tf/dl) tie-break by ascending doc_id
    assert(rows.sortBy(_.getAs[Long]("rank")).map(_.getLong(1)).toSeq ==
      Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(docs, "text", "doc_id", Seq(1L -> "a"), k = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(docs, "text", "doc_id",
        Seq(1L -> "a", 1L -> "b"), k = 1)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(docs, "text", "doc_id", Seq(1L -> "!!!"), k = 1)
    }
  }
}
