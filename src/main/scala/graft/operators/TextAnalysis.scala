package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * The heavy per-row statistics come from ONE native single-pass
  * expression ([[graft.functions.TextStats]]) staged in its own
  * projection (an expensive alias referenced many times is never
  * inlined by CollapseProject), so a 100 TB scan reads each document
  * once. Public semantics are unchanged from the Column formulations
  * and stay pinned by the DuckDB oracle gate.
  */
object TextAnalysis {

  private def stats(text: Column): Column =
    graft.functions.TextStats.text_stats(text)

  private def blank(text: Column): Column = length(trim(text)) === 0

  /** Whitespace token count. Empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(blank(text), lit(0L)).otherwise(stats(text).getField("n_tokens"))

  /** BPE-ish subword count: word chunks of ≤4 chars count 1, longer words
    * count ceil(len/4) — a deterministic proxy for tokenizer cost without
    * shipping a vocab. */
  /** BPE-ish token count: splits the way byte-pair tokenizers pre-split
    * — letter runs, digit runs, and individual punctuation marks each
    * count as one token (the GPT-2 pre-tokenizer's shape, ASCII-safe so
    * any RE2/Java regex engine agrees). One codegen'd regex pass. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  def subwordCount(text: Column): Column =
    when(blank(text), lit(0L)).otherwise(stats(text).getField("subwords"))

  /** Quality signals: char length, token count, mean word length,
    * punctuation ratio, uppercase ratio, digit ratio, stopword ratio. */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val staged = df.withColumn("_ts", stats(col(textCol)))
    val nChars = col("_ts").getField("n_chars")
    val toks = when(blank(col(textCol)), lit(0L))
      .otherwise(col("_ts").getField("n_tokens"))
    val punct = col("_ts").getField("punct")
    val uppers = col("_ts").getField("uppers")
    val digits = col("_ts").getField("digits")
    val stops = col("_ts").getField("stop_hits")
    staged
      .withColumn("n_chars_q", nChars.cast("long"))
      .withColumn("n_tokens", toks)
      .withColumn("mean_word_len",
        round(when(toks > 0, (nChars - (toks - 1)).cast("double") / toks)
          .otherwise(lit(0.0)), 4))
      .withColumn("punct_ratio",
        round(when(nChars > 0, punct.cast("double") / nChars).otherwise(0.0), 6))
      .withColumn("upper_ratio",
        round(when(nChars > 0, uppers.cast("double") / nChars).otherwise(0.0), 6))
      .withColumn("digit_ratio",
        round(when(nChars > 0, digits.cast("double") / nChars).otherwise(0.0), 6))
      .withColumn("stopword_ratio",
        round(when(toks > 0, stops.cast("double") / toks).otherwise(0.0), 6))
      .drop("_ts")
  }

  val englishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "was", "for", "on", "with", "as", "at", "by", "be")

  /** Count tokens that are in the stopword list (case-insensitive).
    * Generic-list fallback path (the default English list rides the
    * native TextStats pass via [[qualitySignals]]). */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column = {
    if (stopwords == englishStopwords) stats(text).getField("stop_hits")
    else {
      val toks = split(lower(trim(text)), "\\s+")
      val stopArr = array(stopwords.map(lit): _*)
      size(filter(toks, t => array_contains(stopArr, regexp_replace(t, "[^a-z]", ""))))
        .cast("long")
    }
  }

  /** Language-ID heuristic: score each candidate language by its stopword
    * hit count over the document tokens; argmax wins, ties broken by
    * language code order, zero hits → "und". */
  val languageStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "was", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "en", "que", "una", "por", "con"))

  def languageId(df: DataFrame, textCol: String,
      langs: Map[String, Seq[String]] = languageStopwords): DataFrame = {
    val codes = langs.keys.toSeq.sorted
    val staged =
      if (langs == languageStopwords) {
        // native path: scores come out of the single TextStats pass
        val withStats = df.withColumn("_ts", stats(col(textCol)))
        codes.foldLeft(withStats) { (d, code) =>
          d.withColumn(s"_score_$code", col("_ts").getField(s"s_$code"))
        }.drop("_ts")
      } else {
        langs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (code, stops)) =>
          d.withColumn(s"_score_$code", stopwordCount(col(textCol), stops).cast("int"))
        }
      }
    // argmax via ONE greatest() over (score, -index, code) structs —
    // O(L) expression nodes (an accumulator fold doubles the tree per
    // language); ties → highest -index = lexicographically FIRST code,
    // matching the fold semantics the oracle pins
    val scored = codes.zipWithIndex.map { case (code, i) =>
      struct(col(s"_score_$code").as("s"), lit(-i).as("ni"), lit(code).as("l"))
    }
    val best = if (scored.length == 1) scored.head else greatest(scored: _*)
    staged.withColumn("lang_guess",
      when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und")))
      .drop(codes.map(c => s"_score_$c"): _*)
  }

  /** Document fingerprint: normalized (lowercase, collapsed whitespace,
    * alnum-only) md5 — the exact-dup key that survives formatting noise. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** THE normalization that defines cross-engine token parity
    * (fingerprint, vocabulary, tf-idf, blocklist, shingles): lowercase
    * alnum runs. One definition so a future tweak lands everywhere at
    * once (the mirrored DuckDB SQL pins the same rule). */
  private[operators] def normalizedTokens(text: Column): Column =
    split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " ")

  /** The same rule for driver-side strings (blocklist entries). */
  private[operators] def normalizeTerm(s: String): Seq[String] =
    s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      .split(" ").toSeq.filter(_.nonEmpty)

  /** Repetition signals (the Gopher-style quality filters for
    * machine-generated/spammy text):
    *   - `top_unigram_frac`: share of tokens taken by the single most
    *     frequent token;
    *   - `dup_bigram_frac`: share of bigram OCCURRENCES that are
    *     repeats of an earlier bigram in the same document.
    * Distributed shape: ONE native single-pass kernel per row
    * ([[graft.functions.RepetitionStats]]) — no explode, no shuffle at
    * all (the two explode → two-level-aggregate pipelines this
    * replaces were two full shuffles of every gram occurrence; the
    * kernel's per-document hash map is the same state the reduce side
    * held per (doc, gram) group, without the exchange).
    * Blank documents are dropped (no tokens → no signal). */
  def repetitionSignals(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val staged = df.filter(length(trim(col(textCol))) > 0)
      .withColumn("_rs", graft.functions.RepetitionStats.repetition_stats(col(textCol)))
    staged.select(col(idCol),
      round(col("_rs").getField("top_count").cast("double") /
        col("_rs").getField("n_tokens"), 6).as("top_unigram_frac"),
      when(col("_rs").getField("n_bigrams") > 0,
        round(col("_rs").getField("dup_bigrams").cast("double") /
          col("_rs").getField("n_bigrams"), 6))
        .otherwise(lit(0.0)).as("dup_bigram_frac"))
  }

  /** Composite Gopher-style document filter — the end-user curation op
    * "keep documents passing the quality rules": token-count window,
    * top-unigram share cap, duplicate-bigram share cap. Signals are
    * computed UNROUNDED and compared to thresholds with the same
    * operation order on any engine; survivors come back with their
    * (rounded) signals for auditability. Same single-pass kernel as
    * [[repetitionSignals]] — a pure codegen'd filter, zero shuffles
    * at any corpus size. */
  def gopherFilter(df: DataFrame, textCol: String, idCol: String,
      minTokens: Long = 30, maxTokens: Long = 5000,
      maxTopUnigramFrac: Double = 0.10,
      maxDupBigramFrac: Double = 0.05): DataFrame = {
    val staged = df.filter(length(trim(col(textCol))) > 0)
      .withColumn("_rs", graft.functions.RepetitionStats.repetition_stats(col(textCol)))
    val nTokens = col("_rs").getField("n_tokens")
    val tuf = col("_rs").getField("top_count").cast("double") / nTokens
    val dbf = when(col("_rs").getField("n_bigrams") > 0,
      col("_rs").getField("dup_bigrams").cast("double") /
        col("_rs").getField("n_bigrams")).otherwise(lit(0.0))
    staged
      .filter(nTokens >= minTokens && nTokens <= maxTokens &&
        tuf <= maxTopUnigramFrac && dbf <= maxDupBigramFrac)
      .select(col(idCol), nTokens.as("n_tokens"),
        round(tuf, 6).as("top_unigram_frac"),
        round(dbf, 6).as("dup_bigram_frac"))
  }

  /** Fixed weights for [[qualityScore]] — a deterministic stand-in for
    * a learned quality classifier (the fastText-classifier stage of a
    * curation pipeline): the FEATURE extraction and score fusion are
    * the pipeline machinery under test; the weights are config a real
    * deployment would train. Chosen so prose-like text (stopwords
    * present, moderate words, few digits/caps) scores high. */
  val defaultQualityWeights: Seq[(String, Double)] = Seq(
    "stopword_ratio" -> 4.0, "mean_word_len" -> 0.3,
    "punct_ratio" -> -2.0, "upper_ratio" -> -3.0, "digit_ratio" -> -3.0)

  /** Logistic quality score in (0,1): `sigmoid(bias + Σ wᵢ·featureᵢ)`
    * over the [[qualitySignals]] features (which are themselves rounded
    * to 6 places, so the linear term is engine-exact; the sigmoid is
    * rounded to 6 as well). One projection over the single-pass stats
    * kernel — no shuffle, no UDF. `minScore` filters when ≥ 0. */
  /** Bigram language-model scoring — the perplexity-style quality
    * filter (KenLM's role in CCNet/RefinedWeb curation, self-trained):
    * fit add-k-smoothed bigram probabilities on the corpus's own
    * normalized tokens, then score every document by its mean bigram
    * log-probability. Low scores flag disfluent/boilerplate/generated
    * text relative to the corpus distribution.
    *
    *   p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V),  V = |vocabulary|
    *   lm_score(doc) = round(avg over doc bigram occurrences of ln p, 6)
    *
    * Distributed shape: one explode builds the corpus bigram stream;
    * model fitting is two two-level aggregates (map-side partials,
    * bigram- and vocab-sized results); scoring re-joins the stream to
    * the model BY GRAM KEY (model may exceed broadcast size at corpus
    * scale — AQE broadcasts when it doesn't) and averages per doc.
    * Everything is keyed — no cross product anywhere; the only
    * all-to-one value is the scalar V, which rides a 1-row broadcast.
    * Docs with fewer than 2 tokens keep a null score (n_bigrams 0). */
  def bigramLmScore(df: DataFrame, textCol: String, idCol: String,
      k: Double = 0.5): DataFrame = {
    require(k > 0, "smoothing k must be positive")
    val toks = normalizedTokens(col(textCol))
    val nPairs = greatest(size(toks) - 1, lit(0))
    val docPairs = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("_id"),
        explode(zip_with(slice(toks, lit(1), nPairs),
          slice(toks, lit(2), nPairs),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val bigrams = docPairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val unigrams = df.select(explode(toks).as("w1")).filter(col("w1") =!= "")
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = unigrams.select(count(lit(1)).as("_v"))
    val scored = docPairs
      .join(bigrams, Seq("w1", "w2"))
      .join(unigrams, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("_lp",
        log((col("c12") + lit(k)) /
          (col("c1") + lit(k) * col("_v").cast("double"))))
      .groupBy(col("_id"))
      .agg(round(avg(col("_lp")), 6).as("lm_score"),
        count(lit(1)).as("n_bigrams"))
    df.join(scored, df(idCol) === scored("_id"), "left")
      .select(col(idCol), col("lm_score"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
  }

  /** Trigram STUPID BACKOFF language-model scoring (Brants et al.,
    * EMNLP 2007 "Large Language Models in Machine Translation" —
    * public): score(w₃|w₁w₂) is the trigram relative frequency when the
    * trigram was seen, else α × the bigram relative frequency, else
    * α² × the unigram relative frequency. NO normalization — the
    * design choice that made the original distributed (the score needs
    * only count lookups, so count tables shard by gram and serving is
    * embarrassingly parallel; exactly the shape this implementation
    * keeps). The corpus-quality use is the CCNet-style perplexity
    * filter: score target documents against a clean reference corpus,
    * keep the well-modeled band.
    *
    * Distributed shape: three count aggregates over the reference
    * corpus (unigram / bigram / trigram, all map-side combining);
    * the target explodes to trigram rows and LEFT-joins the count
    * tables keyed by gram — shuffle-on-gram for the big tables (AQE
    * broadcasts when they fit), one total-count scalar broadcast.
    * Out-of-vocabulary trigrams (w₃ unseen) carry no evidence: they
    * are excluded from the average and reported as `n_oov`.
    *
    * Returns one row per target row: (idCol, sb_score = 6-dp mean
    * ln-score over scored trigrams, n_scored, n_oov). */
  def stupidBackoffScore(corpus: DataFrame, target: DataFrame,
      textCol: String, idCol: String, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    // Tokens are STAGED into a bound column before any HOF lambda
    // touches them: a lambda body referencing the raw normalizedTokens
    // expression re-evaluates the lower+regex+split PER ELEMENT
    // (interpreted HOFs get no subexpression elimination), turning a
    // linear scan into O(tokens²) per row — harmless on short rows,
    // fatal on long documents. Staged, each row tokenizes exactly once.
    val toks = col("_toks")
    def staged(df: DataFrame, keep: Seq[(Column, String)]): DataFrame =
      df.select(keep.map { case (c, n) => c.as(n) } :+
        normalizedTokens(col(textCol)).as("_toks"): _*)
    def triRows(df: DataFrame, keep: Seq[(Column, String)]): DataFrame =
      staged(df, keep).filter(size(toks) >= 3)
        .select(keep.map(_._2).map(col) :+
          explode(transform(sequence(lit(1), size(toks) - 2),
            i => struct(element_at(toks, i).as("w1"),
              element_at(toks, i + 1).as("w2"),
              element_at(toks, i + 2).as("w3")))).as("g"): _*)
        .select(keep.map(_._2).map(col) ++ Seq(col("g.w1").as("w1"),
          col("g.w2").as("w2"), col("g.w3").as("w3")): _*)
        .filter(col("w1") =!= "" && col("w2") =!= "" && col("w3") =!= "")
    val corpusStaged = staged(corpus.filter(
      length(trim(col(textCol))) > 0), Nil)
    val uni = corpusStaged
      .select(explode(toks).as("w")).filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).cast("double").as("_n"))
    val nPairs = greatest(size(toks) - 1, lit(0))
    val bi = corpusStaged
      .select(explode(zip_with(slice(toks, lit(1), nPairs),
        slice(toks, lit(2), nPairs),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val tri = triRows(corpus, Nil)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ct"))
    val tgtTris = triRows(target, Seq(col(idCol) -> "_id"))
    val s =
      when(col("ct").isNotNull, col("ct").cast("double") / col("cb12"))
        .otherwise(lit(alpha) *
          when(col("cb23").isNotNull,
            col("cb23").cast("double") / col("cu2"))
          .otherwise(lit(alpha) * col("cu3").cast("double") / col("_n")))
    val scored = tgtTris
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("cb").as("cb12")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cb").as("cb23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")),
        Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("cu").as("cu3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(total))
      .withColumn("_lp", when(col("cu3").isNotNull, log(s)))
      .groupBy(col("_id"))
      .agg(round(avg(col("_lp")), 6).as("sb_score"),
        count(col("_lp")).as("n_scored"),
        sum(when(col("cu3").isNull, 1L).otherwise(0L)).as("n_oov"))
    target.join(scored, target(idCol) === scored("_id"), "left")
      .select(col(idCol), col("sb_score"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
  }

  def qualityScore(df: DataFrame, textCol: String,
      weights: Seq[(String, Double)] = defaultQualityWeights,
      bias: Double = -1.0, minScore: Double = -1.0): DataFrame = {
    val z = weights.foldLeft(lit(bias): Column) { case (acc, (f, w)) =>
      acc + col(f) * w
    }
    val scored = qualitySignals(df, textCol)
      .withColumn("quality_score", round(lit(1.0) / (lit(1.0) + exp(-z)), 6))
    if (minScore >= 0) scored.filter(col("quality_score") >= minScore) else scored
  }

  /** Token BLOCKLIST filter — the "drop documents containing any listed
    * term" curation stage (profanity/spam/boilerplate lists). BOTH
    * sides are [[fingerprint]]-normalized (lowercase alnum runs), so
    * "Spark!" in a document matches a blocklisted "Spark"; an entry
    * that normalizes to several tokens blocks on ANY of them
    * (conservative). One codegen'd filter, no shuffle; the list rides
    * in the plan (these lists are thousands of words, not data-sized). */
  def blocklistFilter(df: DataFrame, textCol: String,
      blocked: Seq[String]): DataFrame = {
    val norm = blocked.flatMap(normalizeTerm).distinct
    require(norm.nonEmpty, "blocklist empty after normalization")
    df.filter(size(array_intersect(normalizedTokens(col(textCol)),
      array(norm.map(lit): _*))) === 0)
  }

  /** PII patterns chosen to mean the same thing in Java regex and RE2
    * (no lookaround): RFC-loose emails and NANP-style `ddd-dddd`
    * phone tails. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}-\\d{4}\\b"

  /** PII scrub: redact emails/phones with typed placeholders and count
    * what was removed (the audit trail a curation pipeline keeps).
    * Pure codegen'd regexp column work — no UDF, no shuffle. */
  def scrubPii(df: DataFrame, textCol: String): DataFrame =
    df
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailPattern), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(phonePattern), lit(0))).cast("long"))
      .withColumn("text_clean",
        regexp_replace(regexp_replace(col(textCol), emailPattern, "[EMAIL]"),
          phonePattern, "[PHONE]"))

  /** Deterministic ENGINE-PORTABLE sampling: keep a row iff the md5 of
    * (salt, id) lands in the first `pct` of 100 hash buckets. The same
    * (id, salt, pct) always picks the same rows on any engine — the
    * reproducible-corpus-subset primitive (and `pct1 < pct2` gives
    * NESTED samples, so growing a sample never resamples). A filter,
    * not a shuffle. */
  def sampleByHash(df: DataFrame, idCol: String, pct: Int,
      salt: String = ""): DataFrame =
    df.filter(
      conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 8),
        16, 10).cast("long") % 100 < pct)

  /** EXACT-N uniform sample: the `n` rows with the smallest portable
    * md5 rank — fixed-size eval/calibration set selection where a
    * percentage filter's size variance is unacceptable. Plans as
    * TakeOrderedAndProject (per-partition top-n heaps merged on the
    * driver, the corpus is never globally sorted), deterministic and
    * salt-nestable like every other sampler here. */
  def sampleExactN(df: DataFrame, idCol: String, n: Int,
      salt: String = ""): DataFrame = {
    require(n > 0, "n must be positive")
    df.filter(col(idCol).isNotNull)
      .withColumn("_bk", md5(concat(lit(salt), col(idCol).cast("string"))))
      .orderBy(col("_bk"), col(idCol))
      .limit(n)
      .drop("_bk")
  }

  /** WEIGHTED exact-N sample WITHOUT replacement (Efraimidis–Spirakis
    * A-ES, deterministic): each row draws u ∈ (0, 1] from its portable
    * 52-bit md5 rank and competes with priority ln(u)/weight — the n
    * LARGEST priorities win, which reproduces weighted sampling
    * without replacement exactly (higher weight → better odds). The
    * quality-weighted corpus-selection primitive ("sample 1M docs
    * proportional to quality score"), deterministic and salt-nestable
    * like every sampler here; rows with weight ≤ 0 or null id are
    * excluded. Plans as TakeOrderedAndProject — per-partition top-n
    * heaps, the corpus is never globally sorted. */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: String,
      n: Int, salt: String = ""): DataFrame = {
    require(n > 0, "n must be positive")
    // (h + 1) / (2^52 + 1) ∈ (0, 1]: never 0, so ln is finite
    val u = (conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))),
      1, 13), 16, 10).cast("double") + lit(1.0)) / lit(4503599627370497.0)
    df.filter(col(idCol).isNotNull && col(weightCol) > 0)
      .withColumn("_pri", log(u) / col(weightCol))
      .orderBy(col("_pri").desc, col(idCol))
      .limit(n)
      .drop("_pri")
  }

  /** Corpus snapshot DELTA: classify every id across two corpus
    * versions as added / removed / changed / unchanged by content
    * fingerprint — the CDC primitive for incremental re-processing
    * (only `added`+`changed` need re-embedding, re-dedup, re-scoring).
    * One full outer join on id; fingerprints are the engine-wide
    * [[fingerprint]] rule so deltas reproduce across engines. */
  def corpusDelta(oldDf: DataFrame, newDf: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("_id"),
      fingerprint(col(textCol)).as("_ofp"))
    val nw = newDf.select(col(idCol).as("_id"),
      fingerprint(col(textCol)).as("_nfp"))
    o.join(nw, Seq("_id"), "full_outer")
      .select(col("_id").as(idCol),
        when(col("_ofp").isNull, "added")
          .when(col("_nfp").isNull, "removed")
          .when(col("_ofp") =!= col("_nfp"), "changed")
          .otherwise("unchanged").as("delta"))
  }

  /** Corpus MIXING: per-stratum deterministic sampling rates — the
    * pretraining-mix primitive ("keep 100% of books, 30% of web, 5% of
    * logs"). Same md5-bucket rule as [[sampleByHash]], so mixes are
    * reproducible, salted, and nested per stratum; a stratum absent
    * from `rates` gets `defaultPct`. One codegen'd filter — no shuffle,
    * no per-stratum scan. */
  /** THE percent-bucket rule shared by [[mixSources]] (downsample) and
    * [[upsampleSources]] (repeat): first 8 md5 hex digits of
    * `salt || id`, mod 100. One definition — the nesting guarantee
    * between up- and down-sampling holds only while both read the SAME
    * bucket. */
  private def stratumBucket(idCol: String, salt: String): Column =
    conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long") % 100

  /** Per-stratum weight lookup as one when-chain (deterministic order). */
  private def stratumPct(stratumCol: String, rates: Map[String, Int],
      defaultPct: Int): Column =
    rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (stratum, p)) =>
        when(col(stratumCol) === stratum, lit(p)).otherwise(acc)
    }

  def mixSources(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Int], defaultPct: Int = 0,
      salt: String = ""): DataFrame =
    df.filter(stratumBucket(idCol, salt) <
      stratumPct(stratumCol, rates, defaultPct))

  /** FEATURE-HASHING vectorizer (the fastText/Vowpal hashing trick):
    * token t lands in bucket `md5₅₂(t) mod dim` with weight = term
    * frequency — a fixed-width feature space with NO vocabulary to
    * build, broadcast, or version, which is what makes it the
    * 100-TB featurizer: one narrow explode + one (id, bucket) hash
    * aggregate with map-side combine, nothing global. Returned as the
    * SPARSE (id, bucket, tf) relation; densify with
    * [[hashingVectors]] when a fixed-length array column is needed
    * (e.g. to feed [[Similarity.classifyByCentroids]] — text →
    * vectors → the whole ANN stack, no model required). The md5
    * bucket rule is the engine-wide portable hash, so an independent
    * SQL engine reproduces the exact feature space. */
  def hashingFeatures(df: DataFrame, textCol: String, idCol: String,
      dim: Int = 1024): DataFrame =
    df.select(col(idCol),
        explode(normalizedTokens(col(textCol))).as("_tok"))
      .filter(col("_tok") =!= "")
      .groupBy(col(idCol),
        pmod(conv(substring(md5(col("_tok")), 1, 13), 16, 10).cast("long"),
          lit(dim.toLong)).as("bucket"))
      .agg(count(lit(1)).as("tf"))

  /** Hashed BIGRAM features — the DSIR feature space: adjacent
    * normalized-token pairs land in `md5₅₂(w1 ⧺ " " ⧺ w2) mod dim`
    * buckets with tf weights. Same sparse (id, bucket, tf) contract
    * and scale shape as [[hashingFeatures]] (one narrow zip_with +
    * explode, one hash aggregate with map-side combine). */
  def hashingBigramFeatures(df: DataFrame, textCol: String, idCol: String,
      dim: Int = 1024): DataFrame = {
    val toks = normalizedTokens(col(textCol))
    val nPairs = greatest(size(toks) - 1, lit(0))
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        explode(zip_with(slice(toks, lit(1), nPairs),
          slice(toks, lit(2), nPairs),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("_p"))
      .filter(col("_p.w1") =!= "" && col("_p.w2") =!= "")
      .groupBy(col(idCol),
        pmod(conv(substring(md5(concat(col("_p.w1"), lit(" "),
          col("_p.w2"))), 1, 13), 16, 10).cast("long"),
          lit(dim.toLong)).as("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** DSIR-style data selection (importance resampling over hashed
    * n-gram features — the Pile/domain-targeting recipe): rank a RAW
    * corpus by how much each document's hashed-bigram distribution
    * looks like a small TARGET sample rather than the raw corpus
    * itself, and keep the top `n`. Importance weight per doc =
    * Σ_buckets tf_b · (ln p̂_target(b) − ln p̂_raw(b)) with add-one
    * smoothing over the `dim` buckets; log-ratios round to 6 dp per
    * bucket and scores to 6 dp per doc (ties at the cut break by id),
    * so an independent engine reproduces the exact selection.
    *
    * Scale shape: two feature passes (corpus + target), two dim-sized
    * count aggregates, a dim-sized ratio table BROADCAST onto the
    * corpus feature relation (the corpus never shuffles by bucket),
    * one per-doc aggregate, and a TakeOrdered top-n — no global sort,
    * no driver state beyond the dim-sized table. The target sample is
    * small by construction (it is the thing you curate toward); the
    * raw corpus is the 100-TB side and stays pipeline-shaped. */
  def dsirSelect(corpus: DataFrame, target: DataFrame, textCol: String,
      idCol: String, dim: Int = 1024, n: Int = 100): DataFrame = {
    require(dim > 0 && n > 0)
    // PINNED (r15, guide §2.4 "don't compute things twice"): the corpus
    // feature subtree appears three times in the lazy plan (per-bucket
    // counts, the Σtf total, and the per-doc score probe) and the
    // target's twice — and the consumers hash/aggregate by DIFFERENT
    // keys, so exchange reuse cannot dedupe them (measured: 1 reused of
    // 5 subtrees; the bigram explode+md5 pass ran 3× per call). One
    // localCheckpoint makes the expensive tokenize+md5 pass run once;
    // the pinned (id, bucket, tf) relation is far narrower than the
    // text it came from, so at scale materializing it costs less than
    // two extra corpus scans + hash passes. The returned frame reads
    // the pins lazily — callers' harnesses must treat this operator as
    // a lazy-pin gate (SparkEntry.lazyPinGates).
    val fC = hashingBigramFeatures(corpus, textCol, idCol, dim)
      .localCheckpoint(true)
    val fT = hashingBigramFeatures(target, textCol, idCol, dim)
      .localCheckpoint(true)
    val buckets = corpus.sparkSession.range(dim.toLong)
      .select(col("id").as("bucket"))
    val cT = fT.groupBy("bucket").agg(sum("tf").as("_ct"))
    val cC = fC.groupBy("bucket").agg(sum("tf").as("_cc"))
    // NOT folded from cT/cC (r16 A/B): deriving the totals from the
    // per-bucket tables reads the same pin but duplicates the bucket
    // aggregate (the two references canonicalize differently after
    // pruning, so the exchange is NOT reused — executed plan grew
    // 40→48 Exchange, 36→52 HashAgg, bench tie 3/7) — the direct
    // Σtf over the pin is the cheaper plan
    val tT = fT.agg(sum("tf").as("_tt"))
    val tC = fC.agg(sum("tf").as("_tc"))
    val ratio = buckets
      .join(cT, Seq("bucket"), "left")
      .join(cC, Seq("bucket"), "left")
      .crossJoin(broadcast(tT))
      .crossJoin(broadcast(tC))
      .select(col("bucket"),
        round(
          log((coalesce(col("_ct"), lit(0L)) + lit(1.0)) /
            (col("_tt") + lit(dim.toDouble))) -
          log((coalesce(col("_cc"), lit(0L)) + lit(1.0)) /
            (col("_tc") + lit(dim.toDouble))), 6).as("_r"))
    fC.join(broadcast(ratio), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(round(sum(col("tf") * col("_r")), 6).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col(idCol))
      .limit(n)
  }

  /** Dense `array<double>` form of [[hashingFeatures]] — one bounded
    * per-doc collect (≤ min(tokens, dim) entries), then a codegen'd
    * sequence fill. EVERY input doc gets a row: a token-less doc
    * (empty / all punctuation) yields the zero vector rather than
    * silently vanishing from the corpus (a classifier downstream must
    * see the same doc count it was handed). */
  def hashingVectors(df: DataFrame, textCol: String, idCol: String,
      dim: Int = 1024): DataFrame = {
    val sparse = hashingFeatures(df, textCol, idCol, dim)
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("tf"))))
        .as("_m"))
    df.select(col(idCol)).join(sparse, Seq(idCol), "left")
      .select(col(idCol),
        transform(sequence(lit(0L), lit(dim - 1L)),
          i => coalesce(element_at(col("_m"), i), lit(0L)).cast("double"))
          .as("features"))
  }

  private def round6(d: Double): Double = math.rint(d * 1e6) / 1e6

  /** Length-normalized feature weights: x = tf / Σtf(doc), so the
    * margin stays O(‖w‖) at any document length — the fastText input
    * convention, and what keeps full-batch GD off the saturation
    * plateau. One hash window per doc. */
  private def lrX(feats: DataFrame, idCol: String): DataFrame = {
    val perDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
    feats.select(col(idCol), col("bucket"),
      (col("tf").cast("double") /
        sum(col("tf")).over(perDoc).cast("double")).as("_x"))
  }

  /** Distributed LOGISTIC-REGRESSION training over the hashed feature
    * space — the fastText-style quality-classifier loop closed:
    * [[hashingFeatures]] → train → [[scoreLogreg]] labels a corpus
    * with nothing but seed labels (no vocabulary, no external model).
    * Features length-normalize per doc ([[lrX]]); full-batch gradient
    * descent for `iters` FIXED rounds; each round is two aggregations
    * of the sparse feature relation (per-doc margin, then per-bucket
    * gradient — both with map-side combine) plus a driver-side update
    * of `dim` doubles (the only driver state, bounded like the
    * centroid/BPE tables). Gradients and weights ROUND to 6 dp per
    * round — the same determinism pin the centroid tables use — so an
    * independent engine replays the exact float trajectory and scores
    * hash-match. Keep `lr` off the half-grid (the 0.4 default
    * multiplies 6-dp gradients into {0,.2,.4,.6,.8}·1e-6 endings, so
    * the weight round never sits ON a rounding boundary where
    * half-even and half-away engines disagree).
    *
    * `feats` is the (id, bucket, tf) relation; `labels` supplies a
    * 0/1 `labelCol` per id. Docs without features contribute nothing
    * to gradients (their margin is the bias-free 0 → σ = 0.5). */
  def trainLogreg(feats: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String, dim: Int, iters: Int = 3,
      lr: Double = 0.4): Array[Double] =
    trainLogregImpl(feats, labels, idCol, labelCol, dim, iters, lr,
      l2 = 0.0, bias = false)._1

  /** [[trainLogreg]] with an intercept and L2 weight decay — the
    * production shape (an unregularized bias-free fit both saturates on
    * hot hash buckets and can't express a base rate far from 1/2).
    * Returns `(weights, bias)`. The bias rides the SAME per-bucket
    * gradient aggregate as a synthetic bucket −1 with x = 1 on every
    * labeled doc (no extra job per round), so docs WITHOUT features do
    * shape the intercept here — with a bias they carry the real signal
    * σ(b) − y, where the bias-free variant had nothing to move. L2
    * adds `l2·w` inside the 6-dp gradient round (bias unregularized,
    * as usual); prefer binary-exact `l2` values (0.25, 0.125) so the
    * decay product introduces no cross-engine rounding noise. */
  def trainLogregL2(feats: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String, dim: Int, iters: Int = 3, lr: Double = 0.4,
      l2: Double = 0.25): (Array[Double], Double) =
    trainLogregImpl(feats, labels, idCol, labelCol, dim, iters, lr,
      l2 = l2, bias = true)

  private def trainLogregImpl(feats: DataFrame, labels: DataFrame,
      idCol: String, labelCol: String, dim: Int, iters: Int,
      lr: Double, l2: Double, bias: Boolean): (Array[Double], Double) = {
    require(dim > 0 && iters >= 1)
    val lab = labels.select(col(idCol), col(labelCol).cast("double").as("_y"))
    val n = labels.count().toDouble
    require(n > 0, "trainLogreg: empty label set (gradients would be 0/0)")
    val fx = lrX(feats, idCol).join(lab, idCol)
      .select(col(idCol), col("bucket"), col("_x"), col("_y"))
    val f = (if (bias) fx.unionByName(lab.select(col(idCol),
        lit(-1L).as("bucket"), lit(1.0).as("_x"), col("_y")))
      else fx)
      .localCheckpoint(true) // reused every round: evaluate once
    try {
      var w = Array.fill(dim)(0.0)
      var b = 0.0
      var it = 0
      while (it < iters) {
        val wLit = array(w.toSeq.map(lit): _*)
        val bucketW =
          if (bias) when(col("bucket") === -1L, lit(b))
            .otherwise(element_at(wLit, col("bucket").cast("int") + 1))
          else element_at(wLit, col("bucket").cast("int") + 1)
        val margins = f
          .withColumn("_w", bucketW)
          .groupBy(col(idCol))
          .agg(sum(col("_x") * col("_w")).as("_z"), first(col("_y")).as("_yy"))
          .select(col(idCol),
            (lit(1.0) / (lit(1.0) + exp(-col("_z"))) - col("_yy")).as("_d"))
        val grads = f.join(margins, idCol)
          .groupBy(col("bucket"))
          .agg(sum(col("_x") * col("_d")).as("_g"))
          .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
        w = Array.tabulate(dim) { j =>
          round6(w(j) - lr * round6(grads.getOrElse(j, 0.0) / n + l2 * w(j)))
        }
        if (bias) b = round6(b - lr * round6(grads.getOrElse(-1, 0.0) / n))
        it += 1
      }
      (w, b)
      // release the checkpoint blocks — a leaked pin here taxes every
      // query that runs after training in the same session
      // (Dataset.unpersist only clears CacheManager entries, not pins)
    } finally Snapshots.release(f)
  }

  /** Per-doc σ(w·x) over the sparse feature relation (same [[lrX]]
    * normalization as training), rounded to 6 dp — one aggregation;
    * weights ride the plan as a literal array. */
  def scoreLogreg(feats: DataFrame, idCol: String,
      weights: Array[Double], bias: Double = 0.0): DataFrame = {
    val wLit = array(weights.toSeq.map(lit): _*)
    lrX(feats, idCol)
      .withColumn("_w", element_at(wLit, col("bucket").cast("int") + 1))
      .groupBy(col(idCol))
      .agg(sum(col("_x") * col("_w")).as("_z"))
      .select(col(idCol),
        round(lit(1.0) / (lit(1.0) + exp(-(col("_z") + lit(bias)))), 6)
          .as("score"))
  }

  /** TEMPERATURE-flattened source mixing — the multilingual-pretraining
    * sampler (mBERT/XLM-R lineage): the output distribution follows
    * n_s^(1/T), so T = 1 keeps natural proportions and larger T lifts
    * low-resource strata. Per-stratum keep-rates derive from one
    * metadata-sized count aggregate: rate_s ∝ n_s^(1/T)/n_s,
    * normalized so the most-lifted stratum keeps everything (no
    * upsampling — compose with [[upsampleSources]] for repeats), then
    * discretized to `grid` basis points (ratio rounded to 6 dp first,
    * so an independent engine's pow/division lands on the identical
    * integer). Rows keep/drop by the same salted-md5 bucket rule as
    * [[mixSources]] on the finer grid — deterministic and nested.
    *
    * Scale shape: a groupBy-count (S rows), a 1-row max, and a
    * BROADCAST join of the S-row rate table onto the corpus filter —
    * no collect, no shuffle of the corpus. */
  def temperatureMix(df: DataFrame, idCol: String, stratumCol: String,
      temperature: Double, grid: Int = 10000, salt: String = ""): DataFrame = {
    require(temperature > 0, "temperature must be positive")
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
      .select(col(stratumCol),
        pow(col("_n").cast("double"), lit(1.0 / temperature - 1.0)).as("_w"))
    // max over the S aggregated rows via an unpartitioned window — the
    // window input is metadata-sized (one row per stratum), and keeping
    // it inside `counts`' plan means the CORPUS is scanned once, not
    // once per subtree (a separate .agg(max) re-evaluated the groupBy)
    val allRows = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val rates = counts
      .select(col(stratumCol), col("_w"), max(col("_w")).over(allRows).as("_mw"))
      .select(col(stratumCol),
        floor(round(col("_w") / col("_mw"), 6) * grid + 0.5)
          .cast("long").as("_bp"))
    val bucket = conv(substring(md5(concat(lit(salt),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("long") % grid
    df.join(broadcast(rates), stratumCol)
      .filter(bucket < col("_bp"))
      .drop("_bp")
  }

  /** Epoch-weighted source UPSAMPLING — the pretraining-mix REPEAT
    * primitive ("books ×2.5, web ×1"): every row of a stratum with
    * weight `w` (integer PERCENT of an epoch — 250 = 2.5 epochs) is
    * emitted `w div 100` times, plus one extra copy for the
    * md5-bucketed `w mod 100` percent of rows — deterministic, salted,
    * engine-portable, and NESTED (raising a weight only adds copies;
    * the bucket rule is [[mixSources]]', so upsample and downsample
    * share one hash layout). Output: the input columns plus `epoch`
    * (0-based copy index; (id, epoch) is unique).
    *
    * Scale shape: one codegen'd projection + `explode(sequence)` — no
    * shuffle, no join; output size is exactly the configured epoch
    * total. Downstream shuffles see the repeat factor, so keep
    * upsampling LAST in a pipeline (after filters/dedup). */
  def upsampleSources(df: DataFrame, idCol: String, stratumCol: String,
      epochsPct: Map[String, Int], defaultPct: Int = 100,
      salt: String = ""): DataFrame = {
    require((epochsPct.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 10000),
      "epoch weights are integer percent in [0, 10000] (10000 = 100 epochs)")
    val bucket = stratumBucket(idCol, salt)
    val pct = stratumPct(stratumCol, epochsPct, defaultPct)
    val copies = floor(pct / 100).cast("int") +
      when(bucket < pct % 100, 1).otherwise(0)
    df.withColumn("_n", copies)
      .filter(col("_n") > 0)
      .withColumn("epoch", explode(sequence(lit(0), col("_n") - 1)))
      .drop("_n")
  }

  /** Corpus REPORT: per-stratum (source/domain) health statistics — doc
    * count, token totals, mean/median tokens, and the fraction meeting
    * a minimum-length bar. The report a curation run prints before and
    * after each filter stage.
    *
    * The median defaults to `approx_percentile` (fixed-size sketch,
    * mergeable map-side — the only shape that survives billions of
    * rows per stratum); `medianExact = true` switches to the exact
    * interpolated `percentile` for small strata / oracle comparison,
    * which buffers each group's values and is NOT the 100 TB path. */
  def corpusReport(df: DataFrame, textCol: String, stratumCol: String,
      minTokens: Long = 30, medianExact: Boolean = false): DataFrame = {
    val median =
      if (medianExact) expr("percentile(n_tokens, 0.5)")
      else expr("approx_percentile(n_tokens, 0.5)").cast("double")
    df.select(col(stratumCol).as("stratum"),
        tokenCount(col(textCol)).as("n_tokens"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_tokens")), 4).as("mean_tokens"),
        round(median, 4).as("median_tokens"),
        round(avg(when(col("n_tokens") >= minTokens, 1.0).otherwise(0.0)), 6)
          .as("frac_min_tokens"))
  }

  /** Sequence PACKING (concat-and-chunk): lay the corpus out as one
    * deterministic token stream (ordered by `idCol`) and cut it into
    * fixed `ctxLen`-token training windows. Each document comes back
    * with its global start offset and the first/last window indices it
    * occupies — the doc↔sample attribution map a packed pretraining
    * run keeps.
    *
    * Scale shape: the global running sum NEVER runs as a single-
    * partition window (the 100 TB killer) — documents are range-
    * partitioned by id, summed within partitions in parallel, and the
    * tiny per-partition totals are broadcast back as offsets: the same
    * two-pass scheme as [[Relational.globalRowNumber]]. Integer
    * window math uses `div` (all offsets non-negative, so truncating
    * and flooring division agree on every engine). */
  /** WHOLE-DOCUMENT bin packing — the OTHER standard packing mode:
    * SFT-style batching where documents must stay intact (no
    * concat-and-chunk splitting; that mode is [[packSequences]]).
    * Deterministic and provably within 2× of the optimal bin count:
    * each document's token count rounds UP to its power-of-two LENGTH
    * CLASS, every bin holds exactly `ctxLen / class` same-class
    * documents (bins never mix classes, never overflow), and
    * assignment is a per-class running rank — the bucketed-shelf
    * approximation of first-fit-decreasing. True FFD's
    * reset-on-overflow state is inherently sequential (not
    * prefix-sum-decomposable), so it cannot run as a distributed
    * window; the ≤2× waste bound is the price of scale, and the
    * per-doc `slot`/`bin` output lets a dataloader pad only to the
    * class width, not to ctxLen.
    *
    * Docs with n_tokens == 0 or > ctxLen are EXCLUDED (oversized docs
    * belong to [[chunkDocuments]]/[[packSequences]]).
    *
    * Scale shape: one tokenCount projection, then ONE per-class global
    * prefix via the shared two-pass scaffold
    * ([[Relational.withStratumPrefix]]: range partition → parallel
    * local windows → broadcast class×partition offsets). At most
    * log2(ctxLen)+1 classes exist, so the offsets table is tiny and
    * NOTHING runs as a single-partition window. Returns
    * (id, n_tokens, len_class, bin, slot). */
  def packWholeDocs(df: DataFrame, textCol: String, idCol: String,
      ctxLen: Int = 512, numPartitions: Int = 0): DataFrame = {
    require(ctxLen >= 1, "ctxLen must be positive")
    val classes = Iterator.iterate(1L)(_ * 2).takeWhile(_ <= ctxLen).toSeq
    val cls = classes.tail
      .foldLeft(when(col("n_tokens") <= classes.head, classes.head)) {
        (acc, c) => acc.when(col("n_tokens") <= c, c)
      }.otherwise(lit(ctxLen.toLong))
    val tc = df
      .select(col(idCol), tokenCount(col(textCol)).as("n_tokens"))
      .filter(col("n_tokens") > 0 && col("n_tokens") <= ctxLen)
      .withColumn("len_class", cls)
    Relational.withStratumPrefix(tc,
        Relational.defaultParts(df, numPartitions),
        Seq("len_class"), Seq(col(idCol)), "_local_rn", lit(1L),
        // n_tokens is retained payload: guard it so the totals branch
        // prunes identically and reuses the exchange (the frame's
        // projection pays a tokenize — worth sharing)
        guardExtras = Seq("n_tokens"))
      .withColumn("_rank", col("_offset") + col("_local_rn") - 1)
      .withColumn("bin", expr(s"_rank div ($ctxLen div len_class)"))
      .withColumn("slot", expr(s"_rank % ($ctxLen div len_class)"))
      .select(col(idCol), col("n_tokens"), col("len_class"),
        col("bin").cast("long").as("bin"), col("slot").cast("long").as("slot"))
  }

  def packSequences(df: DataFrame, textCol: String, idCol: String,
      ctxLen: Int = 512, numPartitions: Int = 0): DataFrame = {
    val withCounts = df.select(col(idCol), tokenCount(col(textCol)).as("n_tokens"))
    Relational.withGlobalPrefix(withCounts,
        Relational.defaultParts(df, numPartitions), Seq(col(idCol)),
        "_local_cum", col("n_tokens"))
      .withColumn("start_off",
        (col("_offset") + col("_local_cum") - col("n_tokens")).cast("long"))
      .withColumn("bin_first", expr(s"start_off div $ctxLen"))
      .withColumn("bin_last",
        when(col("n_tokens") === 0, col("bin_first"))
          .otherwise(expr(s"(start_off + n_tokens - 1) div $ctxLen")))
      .select(col(idCol), col("n_tokens"), col("start_off"),
        col("bin_first"), col("bin_last"))
  }

  /** Training-SAMPLE construction — the step after [[packSequences]]:
    * materialize one row per `ctxLen`-token context WINDOW of the
    * packed token stream, listing the documents that fill it as
    * `id:offset_in_window:len` spans (sorted by window offset,
    * comma-joined — the provenance a dataloader or attention-mask
    * builder consumes). Documents cross window boundaries exactly as
    * GPT-style concat-and-chunk packing does; zero-token documents
    * contribute nothing and are dropped.
    *
    * Scale shape: [[packSequences]]' two-pass cumsum, then each doc
    * explodes into its covered windows (`sequence(bin_first,
    * bin_last)` — total explosion = tokens/ctxLen + docs, linear) and
    * ONE groupBy on the window id. A window holds at most `ctxLen`
    * non-empty docs, so every group — and the collect_list inside it —
    * is bounded by construction. Returns (bin, n_docs, n_tokens,
    * doc_spans). */
  def packWindows(df: DataFrame, textCol: String, idCol: String,
      ctxLen: Int = 512, numPartitions: Int = 0): DataFrame = {
    val packed = packSequences(df, textCol, idCol, ctxLen, numPartitions)
      .filter(col("n_tokens") > 0)
    val spans = packed
      .withColumn("bin", explode(sequence(col("bin_first"), col("bin_last"))))
      .withColumn("win_start", col("bin") * ctxLen)
      .withColumn("span_start",
        greatest(col("start_off"), col("win_start")) - col("win_start"))
      .withColumn("span_len",
        least(col("start_off") + col("n_tokens"), col("win_start") + ctxLen) -
          greatest(col("start_off"), col("win_start")))
    spans.groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("span_len")).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(
            struct(col("span_start"), col(idCol), col("span_len")))),
          s => concat_ws(":", s.getField(idCol).cast("string"),
            s.getField("span_start").cast("string"),
            s.getField("span_len").cast("string"))), ",").as("doc_spans"))
  }

  /** [[packWindows]] with a HARD STRATUM BOUNDARY — one independent
    * packed token stream per `stratumCol` value (source/domain), so a
    * context window NEVER mixes strata: the "don't cross document
    * collections in one training sample" constraint. Windows are
    * numbered per stratum; each stratum's final window may be short.
    *
    * Scale shape: [[Relational.withStratumPrefix]] — per-(stratum,
    * partition) local cumsum windows, offsets from the
    * stratum×partition totals table (broadcast-sized for
    * source/domain-grade strata). For HIGH-CARDINALITY strata
    * (per-user / per-session keys, where that totals table outgrows a
    * broadcast but every stratum is small), pass
    * `highCardinalityStrata = true` to switch to
    * [[Relational.withStratumPrefixKeyed]] — one keyed window, one
    * shuffle, each stratum sorted inside a single task. Both paths are
    * parity-spec'd identical. Returns (stratum, bin, n_docs,
    * n_tokens, doc_spans). */
  def packWindowsBySource(df: DataFrame, textCol: String, idCol: String,
      stratumCol: String, ctxLen: Int = 512, numPartitions: Int = 0,
      highCardinalityStrata: Boolean = false): DataFrame = {
    val withCounts = df.select(col(stratumCol), col(idCol),
      tokenCount(col(textCol)).as("n_tokens"))
    val packed = (if (highCardinalityStrata)
        Relational.withStratumPrefixKeyed(withCounts,
          Seq(stratumCol), Seq(col(idCol)), "_local_cum", col("n_tokens"))
      else
        Relational.withStratumPrefix(withCounts,
          Relational.defaultParts(df, numPartitions),
          Seq(stratumCol), Seq(col(idCol)), "_local_cum", col("n_tokens")))
      .withColumn("start_off",
        (col("_offset") + col("_local_cum") - col("n_tokens")).cast("long"))
      .filter(col("n_tokens") > 0)
    packed
      .withColumn("bin_first", expr(s"start_off div $ctxLen"))
      .withColumn("bin_last", expr(s"(start_off + n_tokens - 1) div $ctxLen"))
      .withColumn("bin", explode(sequence(col("bin_first"), col("bin_last"))))
      .withColumn("win_start", col("bin") * ctxLen)
      .withColumn("span_start",
        greatest(col("start_off"), col("win_start")) - col("win_start"))
      .withColumn("span_len",
        least(col("start_off") + col("n_tokens"), col("win_start") + ctxLen) -
          greatest(col("start_off"), col("win_start")))
      .groupBy(col(stratumCol), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("span_len")).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(
            struct(col("span_start"), col(idCol), col("span_len")))),
          s => concat_ws(":", s.getField(idCol).cast("string"),
            s.getField("span_start").cast("string"),
            s.getField("span_len").cast("string"))), ",").as("doc_spans"))
  }

  /** Document CHUNKING into fixed token windows — the RAG-ingest /
    * context-window prep primitive: cut each document into
    * `chunkTokens`-token windows starting every `stride` tokens
    * (`stride < chunkTokens` gives overlapping windows; `stride = 0`
    * means non-overlapping = `chunkTokens`). Output one row per
    * (document, window): `(idCol, chunk_idx, chunk_text,
    * n_chunk_tokens)`; the final window may be shorter. Blank
    * documents produce no chunks.
    *
    * Scale shape: a pure NARROW pipeline — tokenization is staged once
    * per row, windows come from `transform(sequence)` + `posexplode`.
    * Zero shuffles at any corpus size; output order is inherited from
    * the scan, and every window start is `chunk_idx * stride`, so
    * downstream processing can reconstruct provenance without a sort. */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 32, stride: Int = 0): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(stride >= 0, "stride must be >= 0 (0 = non-overlapping)")
    val step = if (stride > 0) stride else chunkTokens
    val staged = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("_t"))
    val lastStart = floor((size(col("_t")) - 1) / lit(step)).cast("int")
    staged
      .select(col(idCol), size(col("_t")).as("_n"),
        posexplode(transform(sequence(lit(0), lastStart),
          i => array_join(slice(col("_t"), i * step + 1, lit(chunkTokens)), " "))))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk_text"),
        least(lit(chunkTokens), col("_n") - col("pos") * step)
          .cast("long").as("n_chunk_tokens"))
  }

  /** BALANCED sampling: keep at most `cap` rows per stratum, chosen
    * deterministically as the `cap` smallest `md5(salt || id)` values
    * (ties by id) — the "equal share per source/language" primitive
    * that stops one giant stratum from dominating a corpus mix. The
    * hash ranking is engine-portable (same rule as [[sampleByHash]]),
    * so the selected set is reproducible anywhere and stable under
    * corpus growth everywhere the hash order is (a new row displaces
    * at most one old row of its stratum).
    *
    * Scale shape: a single window per stratum would sort a billion-row
    * stratum in ONE task, so selection is two-phase — phase 1 ranks
    * within (stratum, hash sub-bucket) and keeps `cap` per sub-bucket
    * (the global top-`cap` is a subset of the union by construction);
    * phase 2 ranks the ≤ `cap`·`subBuckets` survivors per stratum.
    * The big sort never happens: phase 1 partitions are 1/`subBuckets`
    * of a stratum, phase 2's input is cap-bounded metadata. */
  def balancedSample(df: DataFrame, idCol: String, stratumCol: String,
      cap: Int, salt: String = "", subBuckets: Int = 32): DataFrame = {
    require(cap > 0, "cap must be positive")
    // x % 0 is NULL in Spark SQL (no error): subBuckets = 0 would
    // silently collapse phase 1 into one whole-stratum sort — the
    // exact failure this design exists to prevent
    require(subBuckets > 0, "subBuckets must be positive")
    // null ids rank before every md5 under NULLS FIRST and would fill
    // the cap; drop them like sampleByHash's null-bucket filter does
    val staged = df.filter(col(idCol).isNotNull).withColumn("_bk",
      md5(concat(lit(salt), col(idCol).cast("string"))))
    val sub = conv(substring(col("_bk"), 1, 4), 16, 10).cast("int") % subBuckets
    val w1 = Window.partitionBy(col(stratumCol), col("_sb"))
      .orderBy(col("_bk"), col(idCol))
    val pre = staged.withColumn("_sb", sub)
      .withColumn("_r1", row_number().over(w1)).filter(col("_r1") <= cap)
    val w2 = Window.partitionBy(col(stratumCol)).orderBy(col("_bk"), col(idCol))
    pre.withColumn("_r2", row_number().over(w2)).filter(col("_r2") <= cap)
      .drop("_bk", "_sb", "_r1", "_r2")
  }

  /** QUANTILE band filter: keep rows whose `valueCol` lies within the
    * [`loQ`, `hiQ`] quantiles OF THEIR STRATUM — the distribution-aware
    * outlier trim ("drop the shortest 10% and longest 10% per source")
    * that a fixed global threshold gets wrong when strata differ.
    *
    * The bounds default to `approx_percentile` (fixed-size mergeable
    * sketch — the only shape that survives billions of rows per
    * stratum); `exact = true` switches to the interpolated exact
    * `percentile` for small strata / oracle comparison, which buffers
    * each group's values and is NOT the 100 TB path. Either way the
    * bounds table is stratum-sized, so re-attaching it is a broadcast
    * join — the corpus is never shuffled. Bounds are rounded to 6
    * places so the kept set is reproducible across engines. */
  def quantileFilter(df: DataFrame, valueCol: String, stratumCol: String,
      loQ: Double, hiQ: Double, exact: Boolean = false): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ <= hiQ, "need 0 <= loQ <= hiQ <= 1")
    val fn = if (exact) "percentile" else "approx_percentile"
    val bounds = df.groupBy(col(stratumCol))
      .agg(expr(s"$fn($valueCol, array($loQ, $hiQ))").as("_qb"))
      .select(col(stratumCol),
        round(element_at(col("_qb"), 1).cast("double"), 6).as("_lo"),
        round(element_at(col("_qb"), 2).cast("double"), 6).as("_hi"))
    df.join(broadcast(bounds), stratumCol)
      .filter(col(valueCol) >= col("_lo") && col(valueCol) <= col("_hi"))
      .drop("_lo", "_hi")
  }

  /** TOKEN-BUDGET subsampling: fill a fixed token budget with documents
    * chosen in portable md5-rank order — the "give me a reproducible
    * 1T-token subset" pretraining primitive. Documents are ranked by
    * `md5(salt || id)` (ties by id), token counts are summed
    * cumulatively in that order, and a document is kept iff its
    * INCLUSIVE cumulative count still fits the budget (the first
    * overflowing document is excluded, nothing after it ever
    * re-enters). Deterministic, salted, and engine-portable like
    * [[sampleByHash]] — and nested: a larger budget keeps a superset.
    *
    * Scale shape: the global cumulative sum uses the same two-pass
    * scheme as [[packSequences]] — range-partition by the hash rank,
    * sum within partitions in parallel, broadcast the P tiny
    * per-partition totals back as offsets. No single-partition window
    * ever sees the corpus. Returns (`idCol`, n_tokens, cum_tokens). */
  def sampleToTokenBudget(df: DataFrame, textCol: String, idCol: String,
      budgetTokens: Long, salt: String = "", numPartitions: Int = 0): DataFrame = {
    val withCounts = df.select(col(idCol), tokenCount(col(textCol)).as("n_tokens"),
      md5(concat(lit(salt), col(idCol).cast("string"))).as("_bk"))
    val parts = Relational.defaultParts(df, numPartitions)
    Relational.withGlobalPrefix(withCounts, parts,
        Seq(col("_bk"), col(idCol)), "_local_cum", col("n_tokens"),
        // md5 rank order → the hex prefix IS a uniform monotone bin:
        // no boundary sketch pass needed
        Some(Relational.hexPrefixBin(col("_bk"), parts)))
      .withColumn("cum_tokens", (col("_offset") + col("_local_cum")).cast("long"))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col(idCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Balanced output-SHARD assignment — the write-side counterpart of
    * [[packSequences]]: documents are laid out in portable
    * `md5(salt || id)` order (deterministic, engine-portable,
    * partition-count-independent) and cut into consecutive shards of
    * ~`shardTokens` tokens each; a document belongs to the shard its
    * START offset falls in, so shards never split a document and
    * overflow by at most one document. Feed the result to
    * `df.write.partitionBy("shard")` for size-balanced training-data
    * files — balanced by TOKENS, which is what a trainer consumes, not
    * by row count.
    *
    * Scale shape: the same two-pass global cumsum as [[packSequences]]
    * (range-partition by hash rank → parallel local windows →
    * broadcast P per-partition totals); no single-partition window
    * ever sees the corpus. Returns (`idCol`, n_tokens, shard). */
  def shardByTokenBudget(df: DataFrame, textCol: String, idCol: String,
      shardTokens: Long, salt: String = "", numPartitions: Int = 0): DataFrame = {
    require(shardTokens > 0, "shardTokens must be positive")
    val withCounts = df.select(col(idCol), tokenCount(col(textCol)).as("n_tokens"),
      md5(concat(lit(salt), col(idCol).cast("string"))).as("_bk"))
    val parts = Relational.defaultParts(df, numPartitions)
    Relational.withGlobalPrefix(withCounts, parts,
        Seq(col("_bk"), col(idCol)), "_local_cum", col("n_tokens"),
        Some(Relational.hexPrefixBin(col("_bk"), parts)))
      .withColumn("start_off",
        (col("_offset") + col("_local_cum") - col("n_tokens")).cast("long"))
      .withColumn("shard",
        expr(s"start_off div CAST($shardTokens AS BIGINT)").cast("long"))
      .select(col(idCol), col("n_tokens"), col("shard"))
  }

  /** INVERTED INDEX build — term → sorted posting list of document
    * ids, the retrieval-side primitive (BM25 candidates, contrastive
    * negatives mining, corpus search): distinct (term, doc) pairs,
    * document-frequency bounds, and a per-term posting cap.
    *
    * Scale shape: the df count runs FIRST (map-side combinable ints),
    * and terms outside [minDf, maxDf] are pruned BEFORE any posting
    * list materializes — the maxDf bound is the skew guard: without
    * it, a stop-word's posting list is a corpus-sized single-key
    * group. After pruning, every surviving group is ≤ maxDf rows by
    * construction, so the collect_list is bounded. Postings are
    * numerically sorted then capped at `maxPostings` (deterministic:
    * the smallest ids win) and emitted as a comma-joined string for
    * engine-portable comparison. */
  def invertedIndex(df: DataFrame, textCol: String, idCol: String,
      minDf: Long = 1L, maxDf: Long = Long.MaxValue,
      maxPostings: Int = 1000): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, "need 1 <= minDf <= maxDf")
    require(maxPostings >= 1, "maxPostings must be positive")
    val pairs = df.select(col(idCol).as("_id"),
        explode(normalizedTokens(col(textCol))).as("term"))
      .filter(col("term") =!= "").distinct()
    val dfCounts = pairs.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    pairs.join(dfCounts, "term")
      .groupBy(col("term"), col("df"))
      .agg(array_join(transform(
        slice(array_sort(collect_list(col("_id"))), 1, maxPostings),
        x => x.cast("string")), ",").as("postings"))
  }

  /** Corpus VOCABULARY induction: global token frequencies, top `k` by
    * count with lexicographic tie-break — the first pass of a
    * tokenizer build or a frequency-based filter. Tokens are
    * normalized like [[fingerprint]] (lowercase alnum runs). Two-level
    * aggregate with map-side combine, then top-k as a TakeOrdered —
    * the full vocabulary is never globally sorted. */
  def topVocabulary(df: DataFrame, textCol: String, k: Int = 100): DataFrame =
    df.select(explode(normalizedTokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)

  /** KEYNESS: the top-k most distinctive terms per group by Dunning's
    * log-likelihood ratio G² (Dunning 1993, "Accurate Methods for the
    * Statistics of Surprise and Coincidence" — public) — each group's
    * token counts tested against the REST of the corpus:
    *
    *   G² = 2·( a·ln(a/E1) + b·ln(b/E2) ),
    *   E1 = A·(a+b)/(A+B),  E2 = B·(a+b)/(A+B)
    *
    * with a/b the term's count in group/rest, A/B the group/rest token
    * totals; zero-count terms contribute nothing. Only POSITIVE keyness
    * survives (the term is overrepresented in the group: a/A > b/B) —
    * the standard "what characterizes this source" reading. Ranking is
    * on the 6-dp-rounded G² (ties to the smaller token), so an external
    * engine replaying the same integer counts lands on the same list.
    *
    * Scale shape: one (group, token) count aggregate, one token-total
    * aggregate joined back on the token key (corpus-sized, equi-join —
    * never a cross product), group totals broadcast (|groups| rows),
    * then a per-group window for top-k — partitioned by group, never a
    * global sort. All inputs to G² are exact integers. */
  def keynessTerms(df: DataFrame, groupCol: String, textCol: String,
      k: Int = 15): DataFrame = {
    require(k > 0, "k must be positive")
    val tok = df.select(col(groupCol).as("_g"),
        explode(normalizedTokens(col(textCol))).as("_tok"))
      .filter(col("_tok") =!= "")
    // NOTE: column names never differ only by case (_a vs _A would be
    // ambiguous under Spark's case-insensitive resolution)
    // byGroup PINNED (r15, guide §2.4): four consumers (byTok, groupTot,
    // the corpus-total scalar, and the scored probe) each re-planned the
    // tokenize+explode+aggregate pass — the `.head()` total alone forced
    // one full eager pass, then the final plan ran up to three more
    // (pruned copies canonicalize differently, so exchange reuse never
    // fired). The pinned (group, term, count) relation is
    // vocabulary-sized. Returned frame reads the pin lazily
    // (SparkEntry.lazyPinGates).
    val byGroup = tok.groupBy(col("_g"), col("_tok"))
      .agg(count(lit(1)).as("_cin"))
      .localCheckpoint(true)
    val byTok = byGroup.groupBy(col("_tok")).agg(sum(col("_cin")).as("_ctok"))
    val groupTot = byGroup.groupBy(col("_g")).agg(sum(col("_cin")).as("_gtot"))
    // one scalar to the driver: the corpus token total
    val totals = groupTot.agg(sum(col("_gtot")).as("_T")).head().getLong(0)
    // byTok/groupTot share byGroup's lineage — qualify through aliases
    // so the three-way self-derived join resolves unambiguously
    val joined = byGroup.as("bg")
      .join(byTok.as("bt"), col("bg._tok") === col("bt._tok"))
      .join(broadcast(groupTot.as("gt")), col("bg._g") === col("gt._g"))
      .select(col("bg._g").as("_g"), col("bg._tok").as("_tok"),
        col("bg._cin").as("_cin"), col("bt._ctok").as("_ctok"),
        col("gt._gtot").as("_gtot"))
      .withColumn("_cout", col("_ctok") - col("_cin"))
      .withColumn("_rtot", lit(totals) - col("_gtot"))
    val e1 = col("_gtot").cast("double") * col("_ctok") / totals
    val e2 = col("_rtot").cast("double") * col("_ctok") / totals
    val g2 = lit(2.0) * (
      when(col("_cin") > 0, col("_cin") * log(col("_cin") / e1))
        .otherwise(0.0) +
      when(col("_cout") > 0, col("_cout") * log(col("_cout") / e2))
        .otherwise(0.0))
    val scored = joined
      .filter(col("_cin").cast("double") * col("_rtot") >
        col("_cout").cast("double") * col("_gtot")) // positive keyness
      .withColumn("_g2", round(g2, 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_g"))
      .orderBy(col("_g2").desc, col("_tok"))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_g").as(groupCol), col("_tok").as("tok"),
        col("_cin").as("cnt"), col("_g2").as("g2"),
        col("_rn").cast("long").as("rank"))
  }

  /** PMI COLLOCATIONS (Church & Hanks 1990, public): top-k co-occurring
    * token pairs by pointwise mutual information over document-level
    * co-occurrence,
    *
    *   pmi(a,b) = ln( N·df(a,b) / (df(a)·df(b)) )
    *
    * with df() document frequencies and N the corpus document count.
    * Tokens outside [minDf, maxDf] drop first (PMI explodes on hapaxes
    * and saturates on stop words — the standard guard), then each doc
    * contributes at most `maxTokensPerDoc` surviving distinct tokens
    * (smallest-token-first, deterministic), and pairs below `minPair`
    * co-occurrences drop.
    *
    * Scale shape: the pair generator is a per-doc self-join of the
    * CAPPED distinct-token sets — O(docs · cap²) worst case, an explicit
    * constant bound, never corpus². df tables join on the token key;
    * the final top-k is TakeOrdered, never a global sort. */
  def pmiPairs(df: DataFrame, textCol: String, idCol: String,
      minDf: Long = 3L, maxDf: Long = 1000000L, maxTokensPerDoc: Int = 32,
      minPair: Long = 2L, k: Int = 50): DataFrame = {
    require(maxTokensPerDoc > 1 && k > 0, "bad caps")
    val nDocs = df.count()
    // docTok PINNED (r15, guide §2.4): the doc-frequency table and the
    // kept-probe both consume it with different prunings (no exchange
    // reuse), so the distinct-tokenize pass ran twice. The pinned
    // (id, token) relation is the standard inverted-index input, far
    // narrower than the text.
    val docTok = df.select(col(idCol).as("_id"),
        explode(array_distinct(normalizedTokens(col(textCol)))).as("_tok"))
      .filter(col("_tok") =!= "")
      .localCheckpoint(true)
    val dfTab = docTok.groupBy(col("_tok")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf && col("_df") <= maxDf)
    val kept = docTok.as("dt")
      .join(dfTab.as("ft"), col("dt._tok") === col("ft._tok"))
      .select(col("dt._id").as("_id"), col("dt._tok").as("_tok"),
        col("ft._df").as("_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("_tok"))
    // capped PINNED (r15): both sides of the per-doc pair self-join
    // read it; without the pin the join+window subtree evaluated twice
    // (only the bare exchange was shared). ≤ maxTokensPerDoc rows per
    // doc, so the pin is strictly smaller than docTok. docTok's pin is
    // released once capped is materialized — the pair join and both df
    // tables are behind it. Returned frame reads `capped` lazily
    // (SparkEntry.lazyPinGates).
    val capped = kept.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxTokensPerDoc)
      .select("_id", "_tok", "_df")
      .localCheckpoint(true)
    Snapshots.release(docTok)
    val pairs = capped.as("l")
      .join(capped.as("r"), col("l._id") === col("r._id") &&
        col("l._tok") < col("r._tok"))
      .groupBy(col("l._tok").as("t1"), col("r._tok").as("t2"),
        col("l._df").as("_df1"), col("r._df").as("_df2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPair)
    pairs.select(col("t1"), col("t2"), col("n_pair"),
        round(log(lit(nDocs.toDouble) * col("n_pair") /
          (col("_df1") * col("_df2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("t1"), col("t2"))
      .limit(k)
  }

  /** ZIPF DIAGNOSTIC per group: least-squares slope of ln(freq) against
    * ln(rank) over the group's top `topN` terms — healthy natural-
    * language corpora sit near −1 (Zipf 1949, public); templated or
    * machine-generated text drifts flat. All inputs are exact integer
    * counts and the ranking (count desc, token) is pinned; the ≤ topN
    * float sums differ across engines only at the few-ulp level, far
    * inside the 6-dp rounding.
    *
    * Scale shape: one (group, token) count, one group-partitioned
    * top-N window (never a global sort), one per-group fold of ≤ topN
    * rows. */
  def zipfSlope(df: DataFrame, groupCol: String, textCol: String,
      topN: Int = 50): DataFrame = {
    require(topN >= 2, "need at least two ranks to fit")
    val counts = df.select(col(groupCol).as("_g"),
        explode(normalizedTokens(col(textCol))).as("_tok"))
      .filter(col("_tok") =!= "")
      .groupBy(col("_g"), col("_tok")).agg(count(lit(1)).as("_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g")).orderBy(col("_c").desc, col("_tok"))
    val ranked = counts.withColumn("_r", row_number().over(w))
      .filter(col("_r") <= topN)
    val x = log(col("_r").cast("double"))
    val y = log(col("_c").cast("double"))
    ranked.groupBy(col("_g")).agg(
        count(lit(1)).cast("double").as("_n"),
        sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * y).as("_sxy"), sum(x * x).as("_sxx"))
      .filter(col("_n") >= 2)
      .select(col("_g").as(groupCol), col("_n").cast("long").as("n_terms"),
        round((col("_n") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_n") * col("_sxx") - col("_sx") * col("_sx")), 6)
          .as("slope"),
        round((col("_sy") - ((col("_n") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_n") * col("_sxx") - col("_sx") * col("_sx"))) * col("_sx")) /
          col("_n"), 6).as("intercept"))
  }

  /** WITHIN-GROUP RANK NORMALIZATION: map each row's score to its
    * group-relative quantile, q = (rank − 0.5)/n (the standard
    * mid-rank transform) — the cross-source calibration step before
    * global thresholding: per-source score scales stop mattering, only
    * within-source order does. One group-keyed window + a broadcast of
    * per-group counts. Ranking ties break on `idCol` so the transform
    * is deterministic. */
  def rankNormalize(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(scoreCol), col(idCol))
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
    df.withColumn("_r", row_number().over(w).cast("long"))
      .join(broadcast(sizes), groupCol)
      .select(col(groupCol), col(idCol), col(scoreCol),
        round((col("_r").cast("double") - 0.5) / col("_n"), 6)
          .as("q_norm"))
  }

  /** DISTINCT-N DIVERSITY (Li et al. 2016, "A Diversity-Promoting
    * Objective" — public): distinct n-grams over total n-grams per
    * group, the standard templated/generated-text collapse signal
    * (distinct-2 near 0 = the corpus keeps repeating itself).
    *
    * DEFAULT = KMV-SKETCHED distinct count (the [[quantileFilter]]
    * convention: approximate-by-default, exact opt-in). The exact
    * variant's `countDistinct` shuffles every (group, gram) pair — at
    * corpus scale that is a gram-cardinality-sized exchange for a
    * DIVERSITY SIGNAL that tolerates ±1/√k relative error. The sketch
    * path keeps the same single explode + one hash aggregate but
    * shuffles ≤ k longs per group per mapper
    * ([[graft.functions.KmvSketchAgg]]), is exact below k distinct
    * grams, and — md5-based — stays deterministic, so the estimate
    * itself hash-matches the DuckDB oracle. Sketch output column is
    * `distinct_est` (double); `exact = true` restores the integer
    * `distinct_ngrams` schema. */
  def distinctNgrams(df: DataFrame, groupCol: String, textCol: String,
      n: Int = 2, exact: Boolean = false, k: Int = 256): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // gram generation is a native JIT'd expression — the interpreted
    // transform+slice+concat_ws pipeline it replaces was 94% of this
    // operator's wall time (4.3 s of 4.6 s at sf0.1)
    val grams = df.select(col(groupCol).as("_g"),
        explode(graft.functions.NgramStrings.ngram_strings(
          col(textCol), n)).as("_gram"))
      .filter(col("_gram") =!= "")
    if (exact)
      grams.groupBy(col("_g"))
        .agg(count(lit(1)).as("total_ngrams"),
          countDistinct(col("_gram")).as("distinct_ngrams"))
        .select(col("_g").as(groupCol), col("total_ngrams"),
          col("distinct_ngrams"),
          round(col("distinct_ngrams").cast("double") / col("total_ngrams"), 6)
            .as("distinct_ratio"))
    else {
      val sk = org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.KmvSketchAgg(
          org.apache.spark.sql.GraftSqlBridge.expression(
            Sketches.kmvHash(col("_gram"))), k)
          .toAggregateExpression())
      grams.groupBy(col("_g"))
        .agg(count(lit(1)).as("total_ngrams"), sk.as("_sk"))
        .select(col("_g").as(groupCol), col("total_ngrams"),
          col("_sk.est").as("distinct_est"),
          round(col("_sk.est") / col("total_ngrams"), 6)
            .as("distinct_ratio"))
    }
  }

  /** LEXICAL RICHNESS per group: token count, type count, type-token
    * ratio, and the hapax-legomena share of the vocabulary (fraction of
    * types seen exactly once — the vocabulary-growth signal; templated
    * corpora run hapax-poor). Exact integer counts, two aggregates. */
  def lexicalRichness(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("_g"),
        explode(normalizedTokens(col(textCol))).as("_tok"))
      .filter(col("_tok") =!= "")
      .groupBy(col("_g"), col("_tok")).agg(count(lit(1)).as("_c"))
    counts.groupBy(col("_g"))
      .agg(sum(col("_c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("_g").as(groupCol), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"),
        round(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_share"))
  }

  /** Mergeable Misra-Gries frequent-items summary over normalized
    * tokens: at most `capacity` counters, every token with true count
    * > N/(capacity+1) guaranteed present (Agarwal et al., "Mergeable
    * Summaries", PODS '12 — merge sums counters then subtracts the
    * (capacity+1)-th largest, preserving the bound). Also carries the
    * exact total token count, so [[heavyHitters]] needs no separate
    * counting job. */
  /** Public only because Spark's generated encoder code must reach it. */
  case class MgState(counts: Map[String, Long], total: Long)

  private class MgAgg(capacity: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Seq[String], MgState, MgState] {
    override def zero: MgState = MgState(Map.empty, 0L)
    override def reduce(b: MgState, toks: Seq[String]): MgState = {
      if (toks == null) return b // null text decodes to a null Seq
      var m = b.counts
      var t = b.total
      toks.foreach { tok =>
        if (tok.nonEmpty) {
          t += 1
          m.get(tok) match {
            case Some(c) => m = m.updated(tok, c + 1)
            case None =>
              if (m.size < capacity) m = m.updated(tok, 1L)
              else m = m.iterator.collect { // decrement-all: amortized O(1)/token
                case (k, v) if v > 1 => k -> (v - 1)
              }.toMap
          }
        }
      }
      MgState(m, t)
    }
    override def merge(a: MgState, b: MgState): MgState = {
      var m = a.counts
      b.counts.foreach { case (k, v) => m = m.updated(k, m.getOrElse(k, 0L) + v) }
      if (m.size > capacity) {
        val d = m.values.toArray.sorted(Ordering[Long].reverse).apply(capacity)
        m = m.iterator.collect { case (k, v) if v - d > 0 => k -> (v - d) }.toMap
      }
      MgState(m, a.total + b.total)
    }
    override def finish(r: MgState): MgState = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[MgState] =
      org.apache.spark.sql.Encoders.product[MgState]
    override def outputEncoder: org.apache.spark.sql.Encoder[MgState] =
      org.apache.spark.sql.Encoders.product[MgState]
  }

  /** EXACT corpus heavy hitters — every normalized token whose global
    * frequency is at least `thresholdPpm` parts-per-million of the
    * total token count — WITHOUT ever shuffling the exploded corpus
    * tokens by token key:
    *
    *  1. one corpus scan folds a mergeable Misra-Gries summary
    *     (summary-sized state per partition, one tiny final merge) —
    *     its candidate set provably contains every true heavy hitter
    *     when `capacity > 1e6/thresholdPpm` (held with 2× slack);
    *  2. a second scan counts ONLY the ≤`capacity` candidate tokens
    *     exactly (the shuffle carries at most `capacity` distinct
    *     keys) and keeps those at/above the exact threshold.
    *
    * The summary pass can over-admit but never miss, and the exact
    * pass removes the false positives, so the result is EXACT and
    * deterministic regardless of partitioning or merge order — the
    * sketch only bounds the work. Threshold arithmetic is integer
    * (`cnt * 1e6 >= ppm * total` in decimal), engine-portable.
    * Returns (tok, cnt). */
  def heavyHitters(df: DataFrame, textCol: String, thresholdPpm: Long,
      safety: Int = 2): DataFrame = {
    require(thresholdPpm >= 1 && thresholdPpm <= 1000000L,
      "thresholdPpm must be in [1, 1e6]")
    require(safety >= 2, "safety must be >= 2 to preserve the MG no-miss bound")
    val spark = df.sparkSession
    import spark.implicits._
    val capacity = ((1000000L * safety) / thresholdPpm + 1).toInt
    val st = df.select(normalizedTokens(col(textCol)).as("toks"))
      .as[Seq[String]]
      .select(new MgAgg(capacity).toColumn)
      .head()
    val cands = st.counts.keys.toSeq.sorted
    if (cands.isEmpty || st.total == 0L)
      return Seq.empty[(String, Long)].toDF("tok", "cnt")
    // exact RHS in decimal: ppm * total can exceed Long at 100-TB counts
    val rhs = lit(new java.math.BigDecimal(
      (BigInt(thresholdPpm) * BigInt(st.total)).bigInteger))
    df.select(explode(normalizedTokens(col(textCol))).as("tok"))
      .filter(col("tok").isin(cands: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").cast("decimal(20,0)") * lit(1000000L) >= rhs)
  }

  /** HTML → text normalization, fully codegen'd and engine-portable:
    * strips `<script>`/`<style>` blocks (tag through matching close,
    * case-insensitive, dot-matches-newline), HTML comments, every
    * remaining tag, decodes the six ubiquitous entities (`&amp;` LAST,
    * so `&amp;lt;` yields the literal `&lt;`), and collapses
    * whitespace runs to single spaces. A deliberate regex chain — the
    * same RE2-compatible patterns run verbatim in the SQL oracle, and
    * each stage stays inside whole-stage codegen (no UDF, no native
    * kernel needed for a cold-path normalization). */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** BPE MERGE TRAINING — the pair-merge loop of a byte-pair-encoding
    * tokenizer build, distributed and ENGINE-PORTABLE:
    *
    *  1. one corpus pass aggregates the word-frequency table
    *     ([[normalizedTokens]] → (word, cnt)) — after this the working
    *     set is VOCABULARY-sized, never the corpus;
    *  2. each round: count adjacent symbol pairs (weighted by word
    *     frequency, all adjacent positions), pick the most frequent
    *     pair (ties → lexicographically smallest), and merge it in
    *     every word.
    *
    * Symbol state wraps EVERY symbol in its own markers
    * (`|h||e||l||l||o|`), so the merge is
    * `replace(state, "|l||r|", "|lr|")` — each token carries both its
    * boundaries, so adjacent matches share no delimiter and SQL's
    * left-to-right non-overlapping `replace` is exactly BPE's greedy
    * merge rule (`aaa` → `[aa, a]`; `abab` merges BOTH `ab`s) in every
    * engine, making each round reproducible bit-for-bit by an
    * independent SQL oracle. (A space-separated encoding is subtly
    * WRONG here: adjacent matches share the boundary space, so a
    * single replace pass skips every other occurrence.)
    *
    * Scale shape: ONE corpus-sized Spark job (step 1's word-frequency
    * aggregate, map-side partials); the merge loop then runs
    * DRIVER-SIDE over the collected vocabulary-sized table — a 32k-
    * merge vocab is 32k in-memory rounds with incremental pair-count
    * maintenance, not 32k sequential Spark jobs of scheduler latency.
    * `maxWords` fail-fasts (clear error, no OOM) if the distinct-word
    * table exceeds the driver budget; raise it, or pre-aggregate the
    * vocabulary. A parity spec pins it bit-identical to a one-Spark-job-
    * per-round twin kept in test sources (`BpeSparkLoop`). Returns
    * (rank, lhs, rhs, merged, pair_count), rank 1..numMerges (stops
    * early when no pair repeats `minPairCount` times). */
  def trainBpeMerges(df: DataFrame, textCol: String,
      numMerges: Int = 10, minPairCount: Long = 2,
      maxWords: Int = 5000000): DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(explode(normalizedTokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .limit(maxWords + 1) // bound the collect BEFORE it reaches the driver
      .as[(String, Long)].collect()
    require(words.length <= maxWords,
      s"trainBpeMerges: > $maxWords distinct normalized words; raise maxWords " +
        "or pre-aggregate the vocabulary before training")
    localMergeLoop(words, numMerges, minPairCount)
      .toDF("rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** The BPE merge loop over an in-memory (word, count) table.
    * Greedy left-to-right non-overlapping merge (`aaa` → `[aa, a]`;
    * `abab` merges BOTH `ab`s), most-frequent pair first, ties to the
    * lexicographically smallest (l, r) — exactly the semantics of the
    * marker-string `replace` of the test-source Spark-loop twin, pinned
    * by a parity spec. Pair counts are maintained INCREMENTALLY: each
    * round re-derives only the words that contain the winning pair
    * (via a pair→words index), so cost per round is the total length
    * of affected words, not the vocabulary. */
  private[graft] def localMergeLoop(words: Array[(String, Long)],
      numMerges: Int, minPairCount: Long): Seq[(Long, String, String, String, Long)] = {
    import scala.collection.mutable
    val cnts = words.map(_._2)
    val syms: Array[Array[String]] = words.map(_._1.map(_.toString).toArray)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addWord(i: Int, sign: Long): Unit = {
      val ss = syms(i); val c = cnts(i) * sign
      var j = 0
      while (j + 1 < ss.length) {
        val p = (ss(j), ss(j + 1))
        val nv = pairCount.getOrElse(p, 0L) + c
        if (nv == 0L) pairCount.remove(p) else pairCount.update(p, nv)
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.Set.empty) += i
        j += 1
      }
      if (sign < 0) { // drop the index entries the re-add won't restore
        var k = 0
        while (k + 1 < ss.length) {
          val p = (ss(k), ss(k + 1))
          pairWords.get(p).foreach { s =>
            s -= i; if (s.isEmpty) pairWords.remove(p)
          }
          k += 1
        }
      }
    }
    var i = 0
    while (i < syms.length) { addWord(i, 1L); i += 1 }
    val merges = mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      var best: (String, String) = null
      var bestPc = Long.MinValue
      pairCount.foreach { case (p, pc) =>
        if (pc > bestPc || (pc == bestPc &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestPc = pc
        }
      }
      if (best == null || bestPc < minPairCount) done = true
      else {
        val (l, r) = best
        merges += ((rank.toLong, l, r, l + r, bestPc))
        val affected = pairWords.getOrElse(best, mutable.Set.empty).toArray
        var a = 0
        while (a < affected.length) {
          val w = affected(a)
          addWord(w, -1L)
          val old = syms(w)
          val out = mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < old.length) {
            if (j + 1 < old.length && old(j) == l && old(j + 1) == r) {
              out += l + r; j += 2
            } else { out += old(j); j += 1 }
          }
          syms(w) = out.toArray
          addWord(w, 1L)
          a += 1
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** BPE ENCODE state for a whole document: the normalized text with
    * every character wrapped in its own markers and words separated by
    * `#` (`"low lo"` → `"|l||o||w|#|l||o|"`), then the trained merges
    * applied in rank order. Merge patterns contain only `|`-marks, so
    * they can never cross the `#` word boundary. Every step is a
    * codegen'd `regexp_replace`/`replace` — no higher-order function,
    * no join: the merges ride in the plan. */
  def bpeState(text: Column, merges: Seq[(String, String)]): Column = {
    val norm = trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))
    val init = replace(regexp_replace(norm, "(.)", "|$1|"), lit("| |"), lit("#"))
    merges.foldLeft(init) { case (st, (l, r)) =>
      replace(st, lit(s"|$l||$r|"), lit(s"|$l$r|"))
    }
  }

  /** Subword count under trained BPE merges — the encode-side token
    * counter (what a context-length budget actually consumes). A word
    * with s subwords contributes s-1 `||` separators, so
    * `total = count("||") + nWords`, computed with pure string ops
    * (`length` minus collapsed length). ZERO shuffle at any corpus
    * size; engine-portable (the oracle applies the identical chain).
    * Blank documents count 0. */
  def bpeSubwordCount(text: Column, merges: Seq[(String, String)]): Column = {
    val st = bpeState(text, merges)
    // guard on the STATE being empty, not trim(text): a document of
    // punctuation/whitespace only normalizes to nothing and must count
    // 0 (size(split("", "#")) is 1, which would off-by-one it)
    when(length(st) === 0, lit(0L)).otherwise(
      (length(st) - length(replace(st, lit("||"), lit("|"))) +
        size(split(st, "#"))).cast("long"))
  }

  /** The deterministic BPE vocabulary over normalized text: the 36
    * base symbols `a-z0-9` get ids 0–35, each merge's product gets
    * `36 + rank`. If two merges produce the same string (("a","bc")
    * and ("ab","c") both yield "abc"), the EARLIER rank owns the id —
    * the later entry can never match an already-replaced symbol, on
    * either engine. */
  def bpeVocab(merges: Seq[(String, String)]): Seq[(String, Int)] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString).zipWithIndex ++
      merges.zipWithIndex.map { case ((l, r), i) => (l + r) -> (36 + i) }

  /** TOKEN-ID emission under trained BPE merges — the actual
    * tokenize output a trainer consumes (ids in document order,
    * comma-joined for engine-portable comparison; word boundaries
    * dissolve exactly as [[bpeSubwordCount]] counts them).
    *
    * The symbol→id map is applied as a REPLACE CHAIN over the marker
    * state, not a join or HOF lookup: every symbol occurrence in the
    * state is exactly `|sym|` (both delimiters present, no `|` inside
    * a symbol), so wrapped replacements can never match inside one
    * another and ANY application order yields the same ids. Pure
    * codegen'd string pipeline — zero shuffle, no UDF, no join at any
    * corpus size. Blank documents emit the empty string. */
  def bpeTokenIds(text: Column, merges: Seq[(String, String)]): Column = {
    val st = bpeState(text, merges)
    val replaced = bpeVocab(merges).foldLeft(st) { case (c, (sym, id)) =>
      replace(c, lit(s"|$sym|"), lit(s"<$id>"))
    }
    replace(replace(replace(replace(replaced,
      lit("><"), lit(",")), lit("<"), lit("")), lit(">"), lit("")),
      lit("#"), lit(","))
  }

  /** Token-id DECODE — the inverse of [[bpeTokenIds]]: a comma-joined
    * id list becomes the concatenation of its symbols (word boundaries
    * dissolved during encode and are not recoverable — detokenized
    * text is the normalized text minus spaces, which is exactly what
    * the round-trip gate pins against an independent formula). Same
    * replace-chain shape as encode: each id is wrapped `<id>` first
    * (`<3>` can never match inside `<37>`), symbols contain no
    * `<>` so order is immaterial; duplicate merge products map ids to
    * the same symbol harmlessly. Pure codegen'd string pipeline. */
  def bpeDecodeIds(ids: Column, merges: Seq[(String, String)]): Column = {
    val wrapped = regexp_replace(ids, "(\\d+)", "<$1>")
    val replaced = bpeVocab(merges).foldLeft(wrapped) { case (c, (sym, id)) =>
      replace(c, lit(s"<$id>"), lit(sym))
    }
    replace(replaced, lit(","), lit(""))
  }

  /** TF-IDF keyword extraction: the `k` highest tf·idf terms per
    * document (idf = ln(N/df)); ranking compares the score ROUNDED to
    * 6 places with a lexicographic tie-break, so the chosen terms are
    * reproducible across engines to that precision. Distributed shape:
    * doc-term counts and doc frequencies are two-level aggregates; the
    * idf join shuffles by TERM (both sides vocabulary-sized after
    * aggregation, never the corpus); the per-doc top-k window
    * partitions by doc id. */
  def tfidfTopTerms(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    val toks = df.select(col(idCol).as("_id"),
      explode(normalizedTokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    // r15 (guide §2.4): doc frequency rides a WINDOW over one `tok`
    // exchange instead of an aggregate + self-join — the join road
    // evaluated the tokenize+explode subtree TWICE (column pruning
    // makes the two copies canonicalize differently, so exchange reuse
    // never fires; measured 14 Exchanges, 0 reused), while the window
    // attaches each term's doc count to its own rows in place. Same
    // pattern as Dedup.winnowMatches; values identical (the join gave
    // every (id, tok, tf) row exactly its term's df).
    val tf = toks.groupBy(col("_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val wTok = Window.partitionBy(col("tok"))
    val n = df.select(count(lit(1)).as("_n"))
    val scored = tf.withColumn("df", count(lit(1)).over(wTok))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("_n").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("_id")).orderBy(col("score").desc, col("tok"))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("_id").as(idCol), col("tok").as("term"),
        col("score").as("tfidf"), col("_rn").cast("long").as("rank"))
  }

  /** Two-label public suffixes the registered-domain rule keeps
    * together — a built-in subset of the Public Suffix List's most
    * common entries (the full PSL is a deployment input: pass your own
    * list). One definition, mirrored literally in oracle SQL. */
  val defaultMultiSuffixes: Seq[String] = Seq(
    "co.uk", "ac.uk", "gov.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "co.in", "net.in", "org.in", "gen.in", "firm.in",
    "co.kr", "or.kr", "ne.kr", "go.kr", "ac.kr",
    "com.mx", "org.mx", "gob.mx", "edu.mx",
    "com.sg", "org.sg", "edu.sg", "gov.sg",
    "com.tr", "org.tr", "gov.tr", "edu.tr",
    "co.za", "org.za", "gov.za", "ac.za",
    "com.ar", "org.ar", "gob.ar", "edu.ar")

  /** REGISTERED domain of a lowercase hostname: the label left of the
    * public suffix — `www.a.example.co.uk` → `example.co.uk`,
    * `cdn.example.com` → `example.com`. Domain-level grouping is how
    * web-corpus curation caps, scores, and blocklists crawl data (one
    * hot host must not dominate a training mix). Pure codegen'd string
    * ops; a single-label host passes through unchanged. */
  def registeredDomain(host: Column,
      multiSuffixes: Seq[String] = defaultMultiSuffixes): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val last2 = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val isMulti = last2.isin(multiSuffixes: _*)
    when(n >= 3 && isMulti,
        concat_ws(".", element_at(labels, -3), last2))
      .when(n >= 2, last2)
      .otherwise(host)
  }

  /** Host + registered domain per row from a URL column (null host for
    * unparseable URLs — crawled data's normal case, never a crash).
    * One narrow projection; `try_parse_url` is Spark's native null-on-malformed expression (ANSI `parse_url` throws). */
  def urlDomains(df: DataFrame, urlCol: String, idCol: String,
      multiSuffixes: Seq[String] = defaultMultiSuffixes): DataFrame =
    df.select(col(idCol),
        lower(try_parse_url(col(urlCol), lit("HOST"))).as("host"))
      .select(col(idCol), col("host"),
        registeredDomain(col("host"), multiSuffixes).as("domain"))

  /** At most `cap` rows per REGISTERED DOMAIN, selected by portable
    * md5 rank — the anti-boilerplate frequency cap of web-corpus
    * curation (RefinedWeb-style): no single domain may contribute more
    * than its share. Rides [[balancedSample]]'s two-phase windows, so
    * a million-page hot domain never sorts in one task. */
  def capPerDomain(df: DataFrame, urlCol: String, idCol: String,
      cap: Int, multiSuffixes: Seq[String] = defaultMultiSuffixes): DataFrame = {
    val withDomain = df.withColumn("domain",
      registeredDomain(lower(try_parse_url(col(urlCol), lit("HOST"))),
        multiSuffixes))
    balancedSample(withDomain, idCol, "domain", cap)
  }

  /** RECIPROCAL RANK FUSION (Cormack, Clarke & Buettcher, SIGIR 2009 —
    * public): combine several rankings of the same id space into one by
    * `score(d) = Σ_r 1/(k + rank_r(d))`, the standard way to fuse a
    * lexical (BM25) and a dense (ANN) retrieval list without score
    * calibration — ranks are comparable when raw scores aren't.
    *
    * Each input frame carries (`idCol`, `rank`); ids absent from a
    * ranking contribute nothing (the published convention). The fuse is
    * a chain of outer joins over the (top-k-sized, NOT corpus-sized)
    * rank lists plus one TakeOrdered — ties broken by id. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.size >= 2, "need at least two rankings to fuse")
    val sides = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), col("rank").cast("long").as(s"_r$i"))
    }
    val joined = sides.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = rankings.indices.map { i =>
      coalesce(lit(1.0) / (lit(k) + col(s"_r$i")), lit(0.0))
    }.reduce(_ + _)
    joined.withColumn("rrf", round(score, 6))
      .select(col(idCol), col("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(topK)
  }

  /** LENGTH-BUCKETED batching — the standard padding-waste fix for
    * variable-length training (bucketing by sequence length, public
    * practice since seq2seq toolkits): documents go to power-of-two
    * token-count buckets (`bucket = floor(log2(n_tokens))`, empty docs
    * to bucket 0), and within a bucket batches of `batchSize` form in
    * the engine-wide salted-md5 order — so a batch's members differ by
    * at most 2× in length, instead of a 10-token tweet padding out to a
    * 10k-token article.
    *
    * One hash window per bucket (a handful of partitions, each
    * corpus-sized/buckets — never SinglePartition); batch ids are
    * bucket-local. Returns the input plus (n_tokens, bucket, batch). */
  def lengthBuckets(df: DataFrame, textCol: String, idCol: String,
      batchSize: Int, salt: String = ""): DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    val n = tokenCount(col(textCol))
    // floor(log2(n)) via the binary-string length — exact integer math,
    // no float-log boundary risk at powers of two
    val bucket = when(n <= 1, 0L)
      .otherwise((length(bin(n)) - 1).cast("long"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(md5(concat(lit(salt), col(idCol).cast("string"))), col(idCol))
    df.withColumn("n_tokens", n)
      .withColumn("bucket", bucket)
      .withColumn("batch",
        floor((row_number().over(w) - 1) / lit(batchSize)).cast("long"))
  }

  /** Training-order INTERLEAVE by stride scheduling (the classic
    * weighted-fair-queueing / stride virtual-time rule — Waldspurger &
    * Weihl OSDI'94, public): source s with weight w emits its rank-r
    * document at virtual time `(r − ½)/w`, so sorting by vtime yields a
    * stream where sources appear at their mixture rates EVENLY — not
    * front-loaded the way per-source concatenation (or even random
    * shuffling of a skewed corpus) can be. The data-ORDERING
    * counterpart of [[mixSources]] (which filters): training consumes
    * every row, in a deterministic schedule.
    *
    * Within a source, rank order is the engine-wide salted-md5 rule
    * (reproducible shuffling; one hash window per source — hot sources
    * cost a bigger window partition, never a single-partition sort).
    * Unlisted sources default to weight 1. Downstream, a writer gets a
    * TOTAL order without a global sort via
    * `repartitionByRange($"vtime").sortWithinPartitions($"vtime")` —
    * range exchange + local sort, the scalable write shape.
    *
    * Returns the input plus (rank, vtime). */
  def interleaveOrder(df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double], salt: String = ""): DataFrame = {
    require(weights.values.forall(_ > 0), "weights must be positive")
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(md5(concat(lit(salt), col(idCol).cast("string"))), col(idCol))
    val wExpr = coalesce(weights.foldLeft(lit(null).cast("double")) {
      case (acc, (s, wt)) => when(col(sourceCol) === s, lit(wt)).otherwise(acc)
    }, lit(1.0))
    df.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("vtime", (col("rank").cast("double") - 0.5) / wExpr)
  }

  /** Anchor-text corpus: per TARGET url, how many anchors point at it
    * and the first `maxTexts` DISTINCT anchor texts in lexicographic
    * order — the aggregated "what do other pages call this URL" signal
    * (retrieval training pairs, crawl-time page descriptions; the
    * public MS MARCO / ORCAS line of work). `html`/`base` are column
    * expressions (raw page bytes and page URL); extraction is the
    * native [[graft.functions.HtmlAnchors]] scanner, targets are
    * RFC 3986-resolved and §6.2-canonicalized so phrasings of the same
    * resource aggregate together.
    *
    * Scale shape: one projection + explode, then (url, text) DISTINCT
    * (two-stage hash aggregate — map-side combine absorbs a page
    * repeating one anchor) and a per-url row_number window that BOUNDS
    * the text list to `maxTexts` BEFORE any collect — a hot URL (linked
    * by millions of pages under thousands of phrasings) carries at most
    * `maxTexts` rows into the final aggregation buffer. `n_anchors`
    * counts every anchor occurrence and is never capped. */
  def anchorTextCorpus(df: DataFrame, html: Column, base: Column,
      maxTexts: Int = 5): DataFrame = {
    val anchors = df
      .select(explode(graft.functions.HtmlOps.html_anchors(html, base)).as("a"))
      .select(graft.functions.HtmlOps.canonical_url(col("a.href")).as("url"),
        col("a.text").as("text"))
      .filter(col("url").isNotNull)
    val counts = anchors.groupBy("url").agg(count(lit(1)).as("n_anchors"))
    val w = Window.partitionBy("url").orderBy("text")
    val topTexts = anchors.filter(length(col("text")) > 0)
      .select("url", "text").distinct()
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= maxTexts)
      .groupBy("url")
      .agg(array_sort(collect_list(col("text"))).as("texts"))
    counts.join(topTexts, Seq("url"), "left")
      .select(col("url"), col("n_anchors"),
        coalesce(col("texts"), array().cast("array<string>")).as("texts"))
  }

  /** Per-host POLITENESS schedule — the frontier-ordering step between
    * robots compliance and fetching: URLs of one registered domain get
    * consecutive fetch slots (deterministic salted-md5 order, the
    * engine-wide rule) and `offset_ms = (slot − 1) × delay`, where
    * `delayCol` is the per-row crawl delay (typically
    * [[graft.functions.RobotsOps.robots_crawl_delay]] joined from a
    * domain-keyed robots table; null → `defaultDelayMs`). A fetcher
    * that dispatches URL u no earlier than `start + offset_ms` honors
    * every host's delay by construction.
    *
    * Scale shape: ONE hash window per domain (the capPerDomain /
    * balanced-sample exchange) — no collect, nothing global; hot hosts
    * cost a bigger window partition, never a single-partition sort. */
  def politenessSchedule(df: DataFrame, urlCol: String, idCol: String,
      delayCol: String, defaultDelayMs: Long = 1000L,
      multiSuffixes: Seq[String] = defaultMultiSuffixes,
      salt: String = ""): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("domain"))
      .orderBy(md5(concat(lit(salt), col(idCol).cast("string"))), col(idCol))
    df.withColumn("domain",
        registeredDomain(lower(try_parse_url(col(urlCol), lit("HOST"))),
          multiSuffixes))
      .withColumn("slot", row_number().over(w).cast("long"))
      .withColumn("offset_ms",
        (col("slot") - 1) * coalesce(col(delayCol), lit(defaultDelayMs)))
  }

  /** BM25 top-k retrieval: for each (query_id, query_text) pair, the
    * `k` highest-scoring documents under Okapi BM25 with the
    * Lucene-style non-negative idf
    * `ln(1 + (N - df + 0.5) / (df + 0.5))` — the candidate-fetch
    * primitive of every retrieval / RAG / decontamination-by-search
    * pipeline. Tokenization is [[normalizedTokens]] (the engine-wide
    * parity rule); query terms are deduplicated per query, so a
    * repeated query word scores once (the standard bag-of-QUERY-TERMS
    * form).
    *
    * Distributed shape, in corpus-pass order:
    *   1. ONE narrow projection computes per-doc token lists and
    *      doc length; one (doc, term) aggregate with map-side combine
    *      builds tf. The corpus is read once.
    *   2. Query terms are a driver-side handful — tf is filtered by an
    *      isin() on the distinct term set (a codegen'd hash probe, no
    *      join, no shuffle), so only postings of QUERY terms survive;
    *      df for those terms is a tiny aggregate, joined back
    *      broadcast. The corpus-sized tf table is never joined by term
    *      against anything non-broadcast.
    *   3. N and total doc length are one metadata-sized aggregate,
    *      broadcast into the scorer.
    *   4. Per-(query, doc) scores aggregate over matched terms (one
    *      shuffle of matched postings only), then top-k per query uses
    *      the [[graft.operators.Similarity.knnJoin]] heap shape: a
    *      bounded per-partition heap per query emits at most
    *      partitions×queries×k rows into the final metadata-sized
    *      rank window — the scored set is never globally sorted and
    *      the per-query window never sees more than P×k rows.
    *
    * Determinism: scores are rounded to 6 dp BEFORE ranking and ties
    * break by ascending doc id — heap admission, heap ordering, and
    * the final window all use exactly that ordering, so results are
    * reproducible across engines (the DuckDB oracle mirrors the same
    * formula and rounding).
    *
    * Output: (query_id, `idCol`, score, rank) with rank 1..k. */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
      queries: Seq[(Long, String)], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "no queries")
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids")
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    // (qid, term) pairs, terms deduped per query — driver-side tiny
    val qPairs: Seq[(Long, String)] = queries.flatMap { case (qid, qt) =>
      normalizeTerm(qt).distinct.map(t => (qid, t))
    }
    require(qPairs.nonEmpty, "queries normalize to zero terms")
    val qTerms: Seq[String] = qPairs.map(_._2).distinct
    val toks = normalizedTokens(col(textCol))
    // ONE corpus tokenize pass (r16, guide §2.4 — was 2: r15 pinned the
    // matched postings but the corpus-stats aggregate re-tokenized the
    // whole corpus): the pinned per-doc row carries (_id, _dl, matched
    // terms), so the stats fold, the df aggregate, and the score probe
    // all read the pin and the recurring plan holds ZERO corpus scans
    // (before: 3 — see plans/r16/bm25_topk_{before,after}.txt). Matched
    // arrays are ≤ |qTerms| entries, so the pin is docs × a few words —
    // tiny next to the text. Returned frame reads the pin lazily
    // (SparkEntry.lazyPinGates).
    val base = df.select(col(idCol).cast("long").as("_id"),
        filter(toks, t => t =!= "").as("_toks"))
      .select(col("_id"), size(col("_toks")).as("_dl"),
        filter(col("_toks"), t => t.isin(qTerms: _*)).as("_mt"))
      .localCheckpoint(true)
    val tf = base.select(col("_id"), col("_dl"),
        explode(col("_mt")).as("tok"))
      .groupBy(col("_id"), col("_dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // df per query term (tiny: ≤ |qTerms| rows) + corpus stats
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("_n"), sum(col("_dl")).as("_sdl"))
    val qdf = qPairs.toDF("qid", "tok")
    val scored = tf
      .join(broadcast(qdf), Seq("tok"))
      .join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("_avgdl", col("_sdl").cast("double") / col("_n"))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("_contrib",
        col("_idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("_dl") / col("_avgdl"))))
      .groupBy(col("qid"), col("_id"))
      .agg(round(sum(col("_contrib")), 6).as("score"))
    // bounded per-partition top-k heaps (knnJoin shape): emit ≤ q×k
    // rows per partition, then a metadata-sized rank window
    val qids: Array[Long] = queries.map(_._1).sorted.toArray
    val kk = k
    val local = scored.as[(Long, Long, Double)].mapPartitions { iter =>
      val idx = qids.zipWithIndex.toMap
      // min-heap: head = worst kept (lowest score, ties → HIGHEST id)
      val ord: Ordering[(Double, Long)] =
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long.reverse)
      val heaps = qids.map(_ =>
        new java.util.PriorityQueue[(Double, Long)](kk, ord))
      iter.foreach { case (qid, id, sc) =>
        val h = heaps(idx(qid))
        if (h.size < kk) h.add((sc, id))
        else {
          val w = h.peek()
          val c = java.lang.Double.compare(sc, w._1)
          if (c > 0 || (c == 0 && id < w._2)) { h.poll(); h.add((sc, id)) }
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        Iterator.continually(h.poll()).takeWhile(_ != null)
          .map { case (sc, id) => (qids(q), id, sc) }
      }
    }.toDF("query_id", "_did", "score")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("_did"))
    local.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("_did").as(idCol), col("score"),
        col("rank").cast("long").as("rank"))
  }
}
