package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator library re-expressing the reference's transforms
  * Spark-first (SURVEY.md §2). Each function is a pure
  * `DataFrame => DataFrame` combinator; Catalyst handles pushdown,
  * pruning and join strategy. Cites are into `/root/reference/`.
  */
object Relational {

  // --- §2.1 scans / catalog -------------------------------------------------

  /** S2/P11 — catalog scan semantics: drop the self-row and rows whose
    * protocol URL is empty (`erddap_wrangler.py:306-313`). Case-insensitive
    * column resolution is handled by the caller resolving names up front. */
  def catalogScan(catalog: DataFrame, idCol: String, protocolCol: String): DataFrame =
    catalog.filter(col(idCol) =!= "allDatasets" &&
      col(protocolCol).isNotNull && col(protocolCol) =!= "")

  /** S3 — full-text catalog search (`core.py:130-137`): case-insensitive
    * substring match on the title. Pushed to the parquet scan as a filter. */
  def textSearch(df: DataFrame, titleCol: String, term: String): DataFrame =
    df.filter(lower(col(titleCol)).contains(term.toLowerCase))

  /** S4 — advanced search with recency predicate (`core.py:114-127`):
    * keep datasets whose max time falls inside the trailing `days`-day
    * window ending at the table's own max — the deterministic analog of
    * ERDDAP's `minTime=now-7days`. Single extra scan for the max; the
    * scalar is broadcast into the filter. */
  def recentWindow(df: DataFrame, tsCol: String, days: Int): DataFrame = {
    val win = df.select(max(col(tsCol)).as("hi"))
      .select((col("hi") - expr(s"INTERVAL $days DAYS")).as("lo"))
    df.join(broadcast(win), col(tsCol) >= col("lo")).drop("lo")
  }

  // --- §2.3 projections / filters ------------------------------------------

  /** P1 — projection with `time` pulled to the front
    * (`data_wrangler.py:330-344`: depth forced forward, time prepended). */
  def projectTimeFirst(df: DataFrame, timeCol: String, attrs: Seq[String]): DataFrame =
    df.select((timeCol +: attrs.filterNot(_ == timeCol)).map(col): _*)

  /** P2 — time-range predicate (`data_wrangler.py:360-370`), inclusive
    * both ends like the URL grammar `time>=startZ&time<=endZ`. */
  def timeRange(df: DataFrame, tsCol: String, start: String, end: String): DataFrame =
    df.filter(col(tsCol) >= lit(start).cast("timestamp") &&
      col(tsCol) <= lit(end).cast("timestamp"))

  /** P8 — drop columns that are entirely null on a bounded probe sample
    * (`erddap_wrangler.py:380-410`). One aggregate job over the sample
    * computes all counts; no per-column jobs. */
  def dropAllNullColumns(df: DataFrame, sampleRows: Int = 10000): DataFrame = {
    val sample = df.limit(sampleRows)
    val counts = sample.select(df.columns.toIndexedSeq.map(c => count(col(c)).as(c)): _*)
      .head()
    val keep = df.columns.zipWithIndex.collect {
      case (c, i) if counts.getLong(i) > 0 => c
    }
    df.select(keep.toIndexedSeq.map(col): _*)
  }

  /** P9 — coordinate validity filter (`agol_wrangler.py:774-792`):
    * NaN→null then drop rows with null in any coordinate column. */
  def dropInvalidCoords(df: DataFrame, coordCols: Seq[String]): DataFrame = {
    val noNan = coordCols.foldLeft(df) { (d, c) =>
      if (d.schema(c).dataType.typeName == "double")
        d.withColumn(c, when(isnan(col(c)), lit(null)).otherwise(col(c)))
      else d
    }
    noNan.na.drop(coordCols)
  }

  /** P10/O3 — row-range / pagination (`Json2GeoJSON.py:941-957`,
    * `core.py:191-197`). Deterministic only under a total order, so the
    * caller supplies sort keys. */
  def pageSlice(df: DataFrame, order: Seq[Column], offset: Int, length: Int): DataFrame =
    df.orderBy(order: _*).offset(offset).limit(length)

  // --- §2.4 joins -----------------------------------------------------------

  /** J1 — search-result ↔ date-cache restore (`core.py:150-155`): left
    * broadcast join re-attaching authoritative (minTime,maxTime). The cache
    * is small (one row per dataset id) so it is always broadcast. */
  def dateCacheJoin(searched: DataFrame, cache: DataFrame, key: String): DataFrame =
    searched.join(broadcast(cache), Seq(key), "left")

  /** J2/E1 — anti join: candidates minus already-published
    * (`core.py:763-781`). */
  def newMinusExisting(candidates: DataFrame, existing: DataFrame, key: String): DataFrame =
    candidates.join(existing, Seq(key), "left_anti")

  /** J4 — existence check as semi join (`core.py:753-761`). */
  def existsIn(df: DataFrame, other: DataFrame, key: String): DataFrame =
    df.join(other, Seq(key), "left_semi")

  /** Bloom-pruned EXACT semi join — the membership pattern for key
    * sets too large to broadcast as an exact hash set but compact as a
    * Bloom filter (decontamination lists, opt-out registries: 10⁹ keys
    * ≈ 1.2 GB at 1% fpp vs ~16 GB exact). Two stages:
    *   1. build the filter over `keys` once (distributed sketch
    *      aggregate, driver holds bits only) and PREFILTER `big` with
    *      a codegen'd probe — definite non-members (99%+ of a 100 TB
    *      scan when the hit rate is low) never reach the join;
    *   2. the surviving candidates exact-join `keys`, so false
    *      positives drop out — the result equals a plain semi join
    *      bit-for-bit, the filter only sheds shuffle volume.
    * The filter bytes are reusable across runs ([[graft.functions
    * .BloomOps.buildFilter]] / `mightContain` take the serialized
    * form). `expectedItems` sizes the filter; pass the known key count
    * (an overestimate only wastes bits, an underestimate inflates fpp
    * and with it candidate shuffle volume — never correctness). */
  def bloomSemiJoin(big: DataFrame, bigKey: String,
      keys: DataFrame, keysKey: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bytes = graft.functions.BloomOps.buildFilter(keys, keysKey,
      expectedItems, fpp)
    big.filter(graft.functions.BloomOps.mightContain(col(bigKey), bytes))
      .join(keys.select(col(keysKey).as(bigKey)), Seq(bigKey), "left_semi")
  }

  /** J6 — positional (byLayerOrder) join (`OverwriteFS.py:1284`): match
    * nth row of `left` to nth row of `right` under each side's own order.
    * Both sides number through [[globalRowNumber]] — the naive
    * `row_number() OVER (ORDER BY …)` with no partition funnels every
    * row through one task, which dies at 100 TB scale. */
  def positionalJoin(left: DataFrame, leftOrder: Seq[Column],
      right: DataFrame, rightOrder: Seq[Column]): DataFrame = {
    val ln = globalRowNumber(left, leftOrder, outCol = "_pos")
    val rn = globalRowNumber(right, rightOrder, outCol = "_pos")
    ln.join(rn, "_pos").drop("_pos")
  }

  /** Skew-resistant equi-join: salt the skewed (big) side's key into
    * `saltFactor` sub-keys and explode the small side across all salts,
    * so one hot key spreads over `saltFactor` reduce tasks. AQE's
    * skew-join handles moderate skew automatically; explicit salting is
    * the tool for pathological keys at the 100 TB end. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltFactor: Int = 8): DataFrame = {
    val saltedBig = big.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor)).cast("int"))
    val saltedSmall = small.withColumn("_salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    saltedBig.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Write a table bucketed+sorted on the join key so repeated joins on
    * that key are CO-LOCATED: both sides read pre-hashed buckets and the
    * join plans with NO shuffle exchange. The write-once-shuffle-never
    * pattern for hot fact/dim keys at 100 TB. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", s"/tmp/graft-warehouse/$table")
      .saveAsTable(table)

  // --- §2.5 aggregations ----------------------------------------------------

  /** A1 — per-dataset time extent (`das_client.py:186-232`). */
  def timeExtent(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(tsCol)).as("min_time"), max(col(tsCol)).as("max_time"))

  /** A3 — chunk-plan derivation (`data_wrangler.py:283-314`): rows → number
    * of uniform time chunks of `chunkSize` expected rows. Runs as one
    * aggregate; the plan itself stays tiny (one row per dataset). */
  def chunkPlan(df: DataFrame, keyCol: String, tsCol: String,
      chunkSize: Long = 100000L): DataFrame =
    df.groupBy(col(keyCol)).agg(
      count(lit(1)).as("row_count"),
      min(col(tsCol)).as("start_time"),
      max(col(tsCol)).as("end_time"))
      .withColumn("chunks", ceil(col("row_count") / lit(chunkSize.toDouble)).cast("long"))

  // --- §2.6 windows ---------------------------------------------------------

  /** W2 — calendar bucketing (`data_wrangler.py:190-221`): day/week/month
    * division of the time axis with its label. */
  def calendarBucket(df: DataFrame, tsCol: String, unit: String): DataFrame = {
    val trunc = date_trunc(unit, col(tsCol))
    val label = unit.toLowerCase match {
      case "week"  => concat(lit("W"), lpad(weekofyear(trunc), 2, "0"),
        lit("-"), year(trunc))
      case "month" => date_format(trunc, "MMM-yyyy")
      case _       => date_format(trunc, "yyyy-MM-dd")
    }
    df.withColumn("bucket_start", trunc).withColumn("bucket_label", label)
  }

  // --- §2.7 sorts / top-k ---------------------------------------------------

  /** The SHARED two-pass global-prefix scaffold behind
    * [[globalRowNumber]], [[TextAnalysis.packSequences]] and
    * [[TextAnalysis.sampleToTokenBudget]]: a global running value
    * (`row_number`/cumulative sum `OVER (ORDER BY …)`) forces every
    * row through ONE partition (WindowExec warns exactly this), which
    * dies at 100 TB. Instead: assign each row a DETERMINISTIC,
    * order-aligned bin (`_pid` — [[orderBinColumn]]: binary search of
    * the order key against driver-sampled, literal-inlined
    * boundaries), evaluate the running `sum(summand)` per bin in
    * parallel (`summand = lit(1L)` gives `row_number`; integral
    * summands keep exact any-order parity between the window and the
    * totals aggregate — avoid floating-point summands), then add
    * per-bin offsets computed from the P-row totals table.
    *
    * NULL summands count as 0: the summand is coalesced before both
    * the window and the totals aggregate. A raw null-skipping
    * `sum(summand)` would break bin-placement invariance — a null
    * summand landing on the FIRST row of a bin > 0 makes the local
    * running sum NULL there while a single global window yields the
    * prior bins' total, so the combined `_offset + outLocal` would
    * depend on where the bin boundaries fell. Coalescing makes the
    * running value a pure prefix sum of `coalesce(summand, 0)` —
    * identical under any binning. (Difference vs a SQL null-skipping
    * running sum: rows BEFORE the first non-null summand read 0, not
    * NULL.)
    *
    * Why deterministic bins and not `repartitionByRange` +
    * `spark_partition_id()`: the totals aggregate and the final join
    * are two consumers of the same sub-plan, and a sampled range
    * partitioning is NOT guaranteed to re-evaluate identically — a
    * row near a boundary could take its local rank from one
    * partitioning and its offset from another (caught at the 10×
    * sweep SF: pack_whole_docs ranks stopped being a permutation).
    * Round 12 fixed that with an eager `localCheckpoint` pin —
    * correct, but it materialized the full ranked corpus in the block
    * manager: storage pressure that does not survive 100 TB. The bin
    * is a pure function of the row (boundaries are plan literals), so
    * every re-evaluation agrees BY CONSTRUCTION — no pin, nothing
    * corpus-sized held anywhere.
    *
    * Physical shape: a key-only boundary sketch pass, then ONE scan →
    * ONE hash exchange on `_pid` whose shuffle output BOTH branches
    * read — the data branch sorts + windows it, the totals branch is a
    * SORTLESS hash aggregate of the summand (r13 re-sorted and
    * re-windowed the bin to take `max(outLocal)`, paying the corpus
    * sort twice on the critical path). The branches reference the same
    * columns (first()-passthroughs pin the totals side's pruning), so
    * their exchange subtrees stay canonically identical and AQE stage
    * reuse materializes the scan+shuffle once.
    *
    * The offsets use an UNPARTITIONED window — fine HERE because the
    * totals table is at most `parts` rows (metadata-sized, not
    * data-sized). (A triangular broadcast self-join avoids that
    * exchange but generates O(P²) BNLJ pairs — 5×10⁹ comparisons at
    * P = 100k.) The DATA-path window stays partitioned by `_pid`.
    *
    * Returns the input plus `_pid`, `outLocal` (the within-bin running
    * value) and `_offset` (sum of earlier bins' totals); callers
    * combine and drop the temps. */
  private[operators] def withGlobalPrefix(df: DataFrame, parts: Int,
      order: Seq[Column], outLocal: String, summand: Column,
      bin: Option[Column] = None,
      guardExtras: Seq[String] = Nil): DataFrame = {
    // caller-supplied bins are null-guarded to bin 0: a null order key
    // (e.g. hexPrefixBin over a null id) sorts FIRST in the window
    // order, and a null _pid would otherwise null the _pk and make the
    // inner offsets join silently DROP the row ([[orderBinColumn]]'s
    // own paths already pin nulls to bin 0)
    val sd = coalesce(summand, lit(0L)) // null summands count as 0 (see doc)
    val binned = df
      .withColumn("_pid",
        bin.map(b => coalesce(b, lit(0)))
          .getOrElse(orderBinColumn(df, parts, order)))
      .withColumn("_pk", element_at(lit(binShuffleKeys(parts)), col("_pid") + 1))
      .repartition(parts, col("_pk"))
    val w = Window.partitionBy(col("_pk")).orderBy(order: _*)
    val localDf = binned.withColumn(outLocal,
      sum(sd).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // totals: a SORTLESS hash aggregate of the summand over the SAME
    // exchange both branches read (the local running value is a prefix
    // sum, so the bin total is just sum(summand) — no need to re-sort
    // and re-window the bin to take max(outLocal), which used to put
    // the corpus sort on the critical path twice). The totals subtree
    // naturally references exactly {order ∪ summand ∪ bin} columns, so
    // when the caller's frame IS that set (every pack/sample/shard
    // frame — the ones with an expensive projection worth sharing) the
    // two branches prune identically, the exchanges stay canonically
    // equal, and AQE stage reuse materializes the scan+shuffle once.
    // A caller whose frame carries extra payload either names the
    // retained extras in `guardExtras` (each rides as max(xxhash64(c))
    // — a long buffer, so the aggregate STAYS HashAggregate; first(c)
    // would demote it to SortAggregate and the sort would come back),
    // or simply loses the reuse: the totals branch then re-plans as a
    // column-pruned NARROW scan + map-side partial aggregate, which at
    // scale is cheaper than re-reading a wide shuffle anyway. The
    // order columns are always guarded — the data branch's exchange
    // must OUTPUT them for its window sort, while the aggregate alone
    // would reference them only inside the _pid expression and prune
    // them from its exchange output. Guards stay alive as extra
    // (semantically inert — _pid is unique per group) order keys of
    // the P-row offsets window below. Safe to re-evaluate ONLY because
    // _pid is deterministic (orderBinColumn).
    val guardNames =
      (orderColumnNames(order, df) ++ guardExtras).distinct
    val guards = guardNames.zipWithIndex.map { case (c, i) =>
      max(xxhash64(col(c))).as(s"_g$i") }
    val guardRefs = guardNames.indices.map(i => col(s"_g$i"))
    val sums = binned.groupBy(col("_pk"), col("_pid"))
      .agg(sum(sd).as("_sum"), guards: _*)
    val wOff = Window
      .orderBy(col("_pid") +: guardRefs: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums
      .withColumn("_offset", coalesce(sum(col("_sum")).over(wOff), lit(0L)))
      .select(col("_pid"), col("_offset"))
    localDf.join(broadcast(offsets), "_pid").drop("_pk")
  }

  /** Frame-column names an order-key list references — the columns the
    * data branch's exchange must output for its window sort, which the
    * totals branch guards to keep both branches' pruning identical. */
  private def orderColumnNames(order: Seq[Column], df: DataFrame): Seq[String] = {
    // analyze the order projection against the frame — Spark 4 wraps
    // Column expressions in lazy ColumnNodeExpressions, so references
    // are only extractable from the ANALYZED plan
    val analyzed = df.select(order: _*).queryExecution.analyzed
    val refs = analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.flatMap(_.references.toSeq).map(_.name)
      case other => other.references.toSeq.map(_.name)
    }
    val frameCols = df.columns.toSet
    refs.distinct.filter(frameCols.contains)
  }

  /** [[withGlobalPrefix]] generalized to PER-STRATUM running values
    * (one independent cumsum per source/domain): range-partition by
    * (stratum, order) so each stratum's rows are contiguous across
    * partitions, evaluate the local window per (stratum, partition),
    * then add offsets from the (stratum × partition)-row totals table —
    * the offsets window partitions by stratum over ≤P rows each, so no
    * task ever sees more than P totals. The totals table must stay
    * broadcast-sized: strata × partitions rows — fine for
    * sources/domains (10³×10³), NOT for per-user strata; use a keyed
    * window directly when the stratum key is high-cardinality (each
    * stratum is then small enough to sort in one task). */
  private[operators] def withStratumPrefix(df: DataFrame, parts: Int,
      stratumCols: Seq[String], order: Seq[Column], outLocal: String,
      summand: Column, guardExtras: Seq[String] = Nil): DataFrame = {
    val stratum = stratumCols.map(col)
    // deterministic bins over the ORDER keys alone — the offsets
    // combine only needs the bin id monotone in the order key WITHIN
    // each stratum, and a pure function of the order key is monotone
    // within every stratum at once; leaving the (often low-cardinality)
    // stratum out of the bin key keeps the percentile fast path open
    // and the bins balanced. No pin (see withGlobalPrefix).
    val sd = coalesce(summand, lit(0L)) // null summands count as 0 (see withGlobalPrefix)
    val binned = df
      .withColumn("_pid", orderBinColumn(df, parts, order))
      .withColumn("_pk", element_at(lit(binShuffleKeys(parts)), col("_pid") + 1))
      .repartition(parts, col("_pk"))
    val w = Window.partitionBy(stratum :+ col("_pk"): _*).orderBy(order: _*)
    val localDf = binned.withColumn(outLocal,
      sum(sd).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // totals: sortless summand aggregate over the shared exchange; the
    // subtree guards {order ∪ guardExtras} columns alongside the
    // stratum group keys — exchange-reuse and guard semantics as in
    // withGlobalPrefix. Within a stratum the (stratum×bin) groups have
    // one row per _pid, so the extra offsets-window order keys are
    // semantically inert.
    val guardNames =
      (orderColumnNames(order, df) ++ guardExtras).distinct
        .filterNot(stratumCols.contains)
    val guards = guardNames.zipWithIndex.map { case (c, i) =>
      max(xxhash64(col(c))).as(s"_g$i") }
    val guardRefs = guardNames.indices.map(i => col(s"_g$i"))
    val sums = binned.groupBy((stratum :+ col("_pk")) :+ col("_pid"): _*)
      .agg(sum(sd).as("_sum"), guards: _*)
    val wOff = Window.partitionBy(stratum: _*)
      .orderBy(col("_pid") +: guardRefs: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums
      .withColumn("_offset", coalesce(sum(col("_sum")).over(wOff), lit(0L)))
      .select(stratum :+ col("_pid") :+ col("_offset"): _*)
    localDf.join(broadcast(offsets), stratumCols :+ "_pid").drop("_pk")
  }

  /** HIGH-CARDINALITY twin of [[withStratumPrefix]]: when the stratum
    * key has too many distinct values for the stratum×partition totals
    * table to stay broadcast-sized (per-user / per-session strata), the
    * two-pass scaffold's broadcast join becomes the bottleneck — but by
    * the same token each stratum is SMALL, so the running value can be
    * computed in ONE keyed window: hash-partition by stratum, sort each
    * stratum inside its task. One shuffle, no totals table, no
    * broadcast; the opposite trade of the two-pass path (which exists
    * precisely because few-strata windows put whole strata in one
    * task). Emits the same `_pid`/`_offset`/`outLocal` columns
    * (constant 0 offsets) so callers' combine step is identical —
    * parity-spec'd against [[withStratumPrefix]]. */
  private[operators] def withStratumPrefixKeyed(df: DataFrame,
      stratumCols: Seq[String], order: Seq[Column], outLocal: String,
      summand: Column): DataFrame = {
    val w = Window.partitionBy(stratumCols.map(col): _*).orderBy(order: _*)
    df.withColumn(outLocal,
        // null summands count as 0 — parity with [[withStratumPrefix]]
        sum(coalesce(summand, lit(0L))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_pid", lit(0))
      .withColumn("_offset", lit(0L))
  }

  private[operators] def defaultParts(df: DataFrame, numPartitions: Int): Int =
    if (numPartitions > 0) numPartitions
    else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Bin→shuffle-key remap giving the scaffold's hash exchange a 1:1
    * bin→task layout: `hashpartitioning` sends key k to task
    * pmod(murmur3(k), parts), so raw bin ids collide (~1/e of tasks
    * idle, stragglers carry 2-3 bins — the window stage then runs at
    * the slowest task). Entry b is the smallest non-negative int whose
    * Murmur3 (seed 42, HashPartitioning's) lands in task b, so
    * distinct bins map to distinct tasks. Driver cost: O(parts·ln
    * parts) hash probes, no data pass. */
  private[operators] def binShuffleKeys(parts: Int): Array[Int] = {
    val m = Array.fill(parts)(Int.MinValue)
    var found = 0
    var c = 0
    while (found < parts) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(c, 42)
      val p = ((h % parts) + parts) % parts
      if (m(p) == Int.MinValue) { m(p) = c; found += 1 }
      c += 1
    }
    m
  }

  /** Deterministic order-aligned bin id in `[0, parts)` for the
    * two-pass scaffolds: binary search of `struct(keys)` against
    * sampled, literal-inlined boundary keys, built as a balanced
    * `when` tree — O(log parts) codegen'd struct comparisons per row,
    * no UDF, no shuffle. The bin is monotone in the lexicographic key
    * order (equal keys always share a bin) and a PURE FUNCTION of the
    * row, so independent re-evaluations of the plan agree by
    * construction — the property `spark_partition_id()` over a sampled
    * range exchange cannot give without pinning the whole relation.
    * Degenerate inputs (empty, single distinct key) collapse to one
    * bin — correct, just unparallel. */
  /** Name-agnostic cached result of a boundary-sketch job — what the
    * [[binCache]] stores. Caching the finished bin COLUMN was a latent
    * crash: the Column tree references the FIRST caller's column
    * names, but plan canonicalization erases alias names, so a second
    * frame differing only by a rename of a computed key column hits
    * the cache and receives a Column referencing a nonexistent name
    * (analysis failure). The spec holds only the boundary VALUES (plus
    * the numeric view's type); [[buildBinColumn]] rebuilds the `when`
    * tree from the CALLER's key columns on every call — driver-side
    * O(parts) Column construction, while the expensive part (the
    * boundary job) stays cached. Canonicalized-equal plans share
    * output datatypes by construction, so rebuilding against the
    * caller's schema is sound. */
  private[graft] sealed trait BinSpec
  private[graft] case object SingleBin extends BinSpec
  private[graft] case class NumericBounds(values: IndexedSeq[Any],
      dt: org.apache.spark.sql.types.DataType) extends BinSpec
  private[graft] case class StructBounds(
      rows: IndexedSeq[org.apache.spark.sql.Row]) extends BinSpec

  /** Bounded driver-side cache of computed bin BOUNDARIES, keyed by
    * the ANALYZED key-projection plan's CANONICALIZED form + the bin
    * count: a repeated identical query (five bench iterations, a
    * dashboard refresh, a retried stage) re-plans the same scaffold
    * and would otherwise pay the boundary job every time. The key is
    * the full canonicalized plan, not a hash of it — canonicalized
    * plans are case-class trees with structural equals/hashCode, so a
    * hit is EXACT by construction. (A 32-bit semanticHash key was not:
    * a birthday collision across different key expressions would hand
    * this frame boundaries sketched from another plan's data — the bin
    * would no longer be monotone in THIS plan's order, i.e. silent
    * wrong global ranks. Stale entries — files replaced under the same
    * path — remain harmless: boundaries are balance hints, any list is
    * correct.) Values are name-agnostic [[BinSpec]]s (see there), so a
    * hit is safe under any column naming. ~100 (plan, spec) pairs max:
    * metadata-sized (the retained canonicalized plans are expression
    * trees + relation identifiers, no data). `private[graft]` so the
    * exactness spec can plant entries. */
  private[graft] val binCache = new java.util.LinkedHashMap[
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
      BinSpec](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
        BinSpec]): Boolean = size > 100
  }

  /** The exact cache key [[orderBinColumn]] uses for a given frame +
    * key list — exposed `private[graft]` for the exactness spec. */
  private[graft] def binCacheKey(df: DataFrame, parts: Int,
      keys: Seq[Column]): (
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int) = {
    val named = keys.zipWithIndex.map { case (c, i) => c.as(s"_k$i") }
    (df.select(named: _*).queryExecution.analyzed.canonicalized, parts)
  }

  private[operators] def orderBinColumn(df: DataFrame, parts: Int,
      keys: Seq[Column]): Column = {
    require(keys.nonEmpty, "orderBinColumn: need at least one order key")
    val named = keys.zipWithIndex.map { case (c, i) => c.as(s"_k$i") }
    val keyDf = df.select(named: _*)
    if (parts <= 1) return lit(0)
    val cacheKey = (keyDf.queryExecution.analyzed.canonicalized, parts)
    val spec = binCache.synchronized { Option(binCache.get(cacheKey)) }
      .getOrElse {
        val computed = computeBinSpec(keyDf, parts)
        binCache.synchronized { binCache.put(cacheKey, computed) }
        computed
      }
    buildBinColumn(spec, keys, named, keyDf.schema)
  }

  /** Runs the boundary job(s) and returns the name-agnostic spec the
    * cache stores — no Column over the caller's frame is built here. */
  private def computeBinSpec(keyDf: DataFrame, parts: Int): BinSpec = {
    // FAST PATH — numeric/timestamp/date LEADING key: boundaries on a
    // PREFIX of the sort key are valid (equal-prefix rows share a bin,
    // monotone in the full lexicographic order), so one codegen'd
    // percentile_approx aggregate replaces the row-by-row sketch pass
    // — no external-Row conversion of the corpus. Falls through to the
    // full-key sketch when the leading key is low-cardinality (bins
    // would collapse) or non-numeric.
    val headName = keyDf.schema.head.name
    val headType = keyDf.schema.head.dataType
    numericOrderExpr(col(headName), headType).flatMap { nkAgg =>
      val numDf = keyDf.select(nkAgg.as("_nk"))
      val dt = numDf.schema.head.dataType
      val probs = array((1 until parts).map(i => lit(i.toDouble / parts)): _*)
      val row = numDf.agg(
        percentile_approx(col("_nk"), probs, lit(10000)).as("b")).head()
      val bs: IndexedSeq[Any] =
        if (row.isNullAt(0)) IndexedSeq.empty
        else row.getSeq[Any](0).filter(_ != null).distinct.toIndexedSeq
      if (bs.isEmpty) Some(SingleBin)
      else if (bs.length < math.max(1, parts / 2)) None // collapse → sketch
      else Some(NumericBounds(bs, dt))
    }.getOrElse {
      // the generic sketch compares EXTERNAL rows on the driver, which
      // supports atomic key types only (Comparable externals + binary).
      // Arrays/structs/maps as order keys fall back to a single bin —
      // correct (one window partition) but unparallel, so warn loudly
      // rather than throw at runtime mid-job.
      if (!keyDf.schema.fields.forall(f => atomicOrderable(f.dataType))) {
        System.err.println(
          "[graft] orderBinColumn: non-atomic order key type(s) " +
          keyDf.schema.fields.map(_.dataType.simpleString).mkString(", ") +
          " — falling back to a single bin (one window partition); " +
          "project the key to an atomic column for a parallel window")
        SingleBin
      } else {
        val bounds = sampleOrderBoundaries(keyDf, parts)
        if (bounds.isEmpty) SingleBin
        else StructBounds(bounds.toIndexedSeq)
      }
    }
  }

  /** Rebuilds the bin expression over the CALLER's key columns from a
    * (possibly cached) [[BinSpec]] — resolves in any frame whose key
    * projection canonicalizes to the spec's, regardless of column
    * names. Driver-side O(parts) Column construction, no jobs. */
  private def buildBinColumn(spec: BinSpec, keys: Seq[Column],
      named: Seq[Column],
      schema: org.apache.spark.sql.types.StructType): Column = spec match {
    case SingleBin => lit(0)
    case NumericBounds(bs, dt) =>
      val nk = numericOrderExpr(keys.head, schema.head.dataType).getOrElse(
        throw new IllegalStateException(
          "binCache: numeric spec for a non-numeric key projection"))
      val bnd = bs.map(v => org.apache.spark.sql.GraftSqlBridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt)))
      def tree(lo: Int, hi: Int): Column =
        if (lo == hi) lit(lo)
        else {
          val mid = (lo + hi) / 2
          when(nk < bnd(mid), tree(lo, mid)).otherwise(tree(mid + 1, hi))
        }
      // null keys sort FIRST in the window order, so they must land
      // in bin 0 (a null comparison would otherwise fall to the
      // highest bin and break monotonicity)
      when(nk.isNull, lit(0)).otherwise(tree(0, bs.length))
    case StructBounds(bounds) =>
      val keyStruct = struct(named: _*)
      val bndCols = bounds.map { r =>
        struct(schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
          org.apache.spark.sql.GraftSqlBridge.column(
            org.apache.spark.sql.catalyst.expressions.Literal.create(
              r.get(i), f.dataType)).as(f.name)
        }: _*).cast(schema)
      }
      // balanced upper-bound search: bin = #boundaries <= key
      def tree(lo: Int, hi: Int): Column =
        if (lo == hi) lit(lo)
        else {
          val mid = (lo + hi) / 2
          when(keyStruct < bndCols(mid), tree(lo, mid))
            .otherwise(tree(mid + 1, hi))
        }
      tree(0, bounds.length)
  }

  /** Monotone numeric view of an order column for the percentile fast
    * path of [[orderBinColumn]]; None → type needs the generic sketch. */
  private def numericOrderExpr(c: Column,
      dt: org.apache.spark.sql.types.DataType): Option[Column] = dt match {
    case _: org.apache.spark.sql.types.NumericType => Some(c)
    case org.apache.spark.sql.types.TimestampType => Some(unix_micros(c))
    case org.apache.spark.sql.types.DateType => Some(c.cast("int"))
    case _ => None
  }

  /** Key types the generic boundary sketch can order on the driver:
    * atomic externals are `Comparable` (strings, numerics, timestamps,
    * dates, booleans) and binary compares unsigned-lexicographic.
    * Arrays/structs/maps are NOT — [[orderBinColumn]] falls back to a
    * single bin for those rather than throwing mid-job. */
  private def atomicOrderable(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.ArrayType => false
    case _: org.apache.spark.sql.types.StructType => false
    case _: org.apache.spark.sql.types.MapType => false
    case _: org.apache.spark.sql.types.UserDefinedType[_] => false
    case _ => true
  }

  /** Zero-pass deterministic bin for UNIFORM fixed-width HEX-STRING
    * keys (the portable `md5(salt || id)` rank order several operators
    * lay data out in): the first 8 hex chars scale to `[0, parts)` —
    * monotone in the full-string order (fixed-width hex compares
    * lexicographically = numerically; equal prefixes share a bin) and
    * uniformly balanced by construction, so the boundary sketch pass
    * is unnecessary. */
  private[operators] def hexPrefixBin(key: Column, parts: Int): Column =
    shiftright(conv(substring(key, 1, 8), 16, 10).cast("long") * parts, 32)
      .cast("int")

  /** RangePartitioner-style boundary sketch: ONE pass over the key
    * projection — per-partition reservoir (bounded) plus exact row
    * count, merged on the driver with per-partition weights, then
    * walked in key order emitting a boundary every `total/parts` rows.
    * Driver state is O(parts·64) key tuples (hard-capped) regardless
    * of data size, and only the ORDER-KEY columns are ever read —
    * column pruning keeps this pass narrow at 100 TB. Reservoirs are
    * seeded by partition id (reproducible runs), but determinism of
    * the RESULT is not load-bearing: boundaries inline as plan
    * literals before execution, and ANY boundary list is correct —
    * sampling quality only affects balance. */
  private def sampleOrderBoundaries(keyDf: DataFrame,
      parts: Int): Seq[org.apache.spark.sql.Row] = {
    if (parts <= 1) return Nil
    val rdd = keyDf.rdd
    val nIn = math.max(rdd.getNumPartitions, 1)
    val targetTotal = math.min(math.max(parts * 64L, 4096L), 262144L)
    val perPart = math.max(16L, math.min(8192L, targetTotal / nIn + 1L)).toInt
    val sketch = rdd.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val rng = new java.util.Random(0x5DEECE66DL ^ pid)
      val buf = new Array[org.apache.spark.sql.Row](perPart)
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        if (n < perPart) buf(n.toInt) = r
        else {
          val j = (rng.nextDouble() * (n + 1)).toLong
          if (j < perPart) buf(j.toInt) = r
        }
        n += 1
      }
      Iterator.single((n, buf.take(math.min(n, perPart.toLong).toInt)))
    }.collect()
    val total = sketch.iterator.map(_._1).sum
    if (total == 0L) return Nil
    val ord = rowOrdering(keyDf.schema.length)
    // weight = rows the sample stands for; emit a boundary each time the
    // cumulative weight crosses the next step, skipping duplicate keys
    val weighted = sketch.iterator.flatMap { case (n, rows) =>
      val w = if (rows.isEmpty) 0.0 else n.toDouble / rows.length
      rows.iterator.map(r => (r, w))
    }.toArray.sortBy(_._1)(ord)
    val step = total.toDouble / parts
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var cum = 0.0
    var tgt = step
    var prev: org.apache.spark.sql.Row = null
    weighted.foreach { case (r, w) =>
      cum += w
      if (cum >= tgt && out.length < parts - 1 &&
          (prev == null || ord.compare(r, prev) > 0)) {
        out += r; prev = r; tgt += step
      }
    }
    out.toSeq
  }

  /** Driver-side ordering over collected key tuples, matching Spark's
    * ascending NULLS FIRST sort semantics field by field (external
    * row types: all atomic Spark types are `Comparable`; binary
    * compares unsigned-lexicographic like `BinaryType`). */
  private def rowOrdering(nFields: Int): Ordering[org.apache.spark.sql.Row] =
    new Ordering[org.apache.spark.sql.Row] {
      def compare(a: org.apache.spark.sql.Row,
          b: org.apache.spark.sql.Row): Int = {
        var i = 0
        while (i < nFields) {
          val c = compareAtomic(a.get(i), b.get(i))
          if (c != 0) return c
          i += 1
        }
        0
      }
    }

  private def compareAtomic(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Array[Byte], y: Array[Byte]) =>
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
    case (x: java.lang.Comparable[_], _) =>
      x.asInstanceOf[java.lang.Comparable[Any]].compareTo(b)
    case _ => throw new IllegalArgumentException(
      s"orderBinColumn: unorderable key type ${a.getClass.getName}")
  }

  /** Scalable global row numbering — [[withGlobalPrefix]] with a
    * per-partition `row_number`. Identical output to
    * `row_number() OVER (ORDER BY …)` at any partition count. */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
      numPartitions: Int = 0, outCol: String = "rn"): DataFrame =
    withGlobalPrefix(df, defaultParts(df, numPartitions), order, "_local_rn",
        lit(1L))
      .withColumn(outCol, (col("_offset") + col("_local_rn")).cast("long"))
      .drop("_pid", "_local_rn", "_offset")

  /** Morton (Z-ORDER) code over `cols` — the multi-dimensional data
    * CLUSTERING primitive: rows close in every dimension land close on
    * the one-dimensional curve, so range-partitioning by the code makes
    * a 100-TB table's min/max footer stats selective on EVERY clustered
    * column at once (multi-column scan pruning, not just the leading
    * sort key).
    *
    * Each dimension is scaled to a `bits`-bit integer against its
    * GLOBAL min/max — ONE tiny aggregate pass whose 2·d values inline
    * into the plan as literals (driver-held metadata, not data) — then
    * the bits interleave: bit i of dimension j lands at position
    * i·d + j. Pure integer arithmetic (`DIV`), so an external SQL
    * oracle reproduces the code bit-for-bit. Inputs must cast to
    * BIGINT; constant dimensions map to 0. `bits · cols.size` ≤ 63. */
  def zorderColumn(df: DataFrame, cols: Seq[String], bits: Int = 16): Column = {
    require(cols.nonEmpty && bits >= 1 && bits * cols.size <= 63,
      "need 1+ columns and bits*dims <= 63")
    val d = cols.size
    val m = (1L << bits) - 1
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val scaled = cols.zipWithIndex.map { case (c, j) =>
      val mn = stats.getLong(2 * j)
      val mx = stats.getLong(2 * j + 1)
      if (mx <= mn) lit(0L)
      else expr(s"CAST(((CAST(`$c` AS BIGINT) - $mn) * $m) DIV ${mx - mn} AS BIGINT)")
    }
    (for (i <- 0 until bits; j <- 0 until d) yield
      shiftleft(shiftright(scaled(j), i).bitwiseAND(lit(1L)), i * d + j))
      .reduce(_.bitwiseOR(_)).as("zval")
  }

  /** Cluster a table on the Z-curve: compute [[zorderColumn]], then
    * range-partition + sort by it — the write-side layout step before a
    * parquet sink, so every output file covers a small hyper-box of the
    * clustered dimensions and downstream scans prune on any of them.
    * One extra full-table pass (the min/max aggregate) plus the one
    * range shuffle any re-layout needs. */
  def zorderBy(df: DataFrame, cols: Seq[String], bits: Int = 16,
      numPartitions: Int = 0): DataFrame =
    df.withColumn("_z", zorderColumn(df, cols, bits))
      .repartitionByRange(defaultParts(df, numPartitions), col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")

  /** O4 — "latest" selector (`data_wrangler.py:443-446`): single most
    * recent row per key. Window top-1, shuffles once on the key. */
  def latestPerKey(df: DataFrame, keyCol: String, tsCol: String,
      tieBreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc +: tieBreak.map(_.desc): _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  // --- time-series joins (training-pipeline extensions) ---------------------

  /** BACKWARD AS-OF LEFT JOIN: for every left row, the single right row
    * with the greatest `tsCol` ≤ the left row's `tsCol` on the same
    * key (DuckDB's `ASOF LEFT JOIN`, pandas `merge_asof`). Left rows
    * with no prior right row keep null right columns; `toleranceSeconds`
    * additionally nulls matches older than the window.
    *
    * Spark-first shape — NO range/inequality join anywhere: both sides
    * union into one keyed stream, ONE shuffle on the key, and a
    * carry-forward window (`last(_, ignoreNulls)` over rows ≤ current)
    * threads the latest right payload to each left row. At equal
    * timestamps the right row sorts FIRST (side 0 < 1), so same-instant
    * matches are backward-INCLUSIVE like DuckDB's `>=` bound. Cost is
    * sort-within-partition of |L|+|R| — immune to the range-join blowup
    * (a BNLJ here is |L|·|R| comparisons per key).
    *
    * The right side must be unique per (key, ts) — pre-aggregate if it
    * isn't (ties would otherwise resolve by partition order, which no
    * oracle can reproduce). Output: every left column, then each
    * `rightCols` column plus `<tsCol>_right`, null when unmatched. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, rightCols: Seq[String],
      toleranceSeconds: Long = Long.MaxValue): DataFrame = {
    require(rightCols.nonEmpty, "asofJoin: rightCols must be non-empty")
    val rightTs = tsCol + "_right"
    val rStructCols = col(tsCol).as(rightTs) +: rightCols.map(col)
    val rStructType = right.select(rStructCols: _*).schema
    val lPart = left.select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
      lit(1).as("_side"),
      lit(null).cast(rStructType).as("_r"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("_l"))
    val rPart = right
      // SQL join semantics: a null key or null ts never matches — the
      // union trick would otherwise pair null-key rows with each other
      // (they land in the same window partition)
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
        lit(0).as("_side"),
        struct(rStructCols: _*).as("_r"),
        lit(null).cast(left.schema).as("_l"))
    val w = Window.partitionBy(col("_k")).orderBy(col("_ts"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val matched = lPart.unionByName(rPart)
      .withColumn("_m", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .withColumn("_m",
        when(col("_m").isNotNull &&
            col("_ts").cast("long") - col("_m").getField(rightTs).cast("long")
              <= toleranceSeconds,
          col("_m")))
    val outCols = left.columns.map(c => col("_l").getField(c).as(c)) ++
      (rightTs +: rightCols).map(c => col("_m").getField(c).as(c))
    matched.select(outCols.toSeq: _*)
  }

  /** FORWARD AS-OF LEFT JOIN: for every left row, the single right row
    * with the SMALLEST `tsCol` ≥ the left row's `tsCol` on the same key
    * (pandas `merge_asof(direction='forward')`) — "what happened next".
    * The exact mirror of [[asofJoin]]: one keyed shuffle, a
    * carry-forward window over the DESCENDING timestamp order (the
    * right row still sorts first at equal timestamps, so same-instant
    * matches are forward-inclusive), no range join anywhere.
    * `toleranceSeconds` nulls matches further than the window ahead.
    * Right side must be unique per (key, ts) — pre-aggregate ties. */
  def asofJoinForward(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, rightCols: Seq[String],
      toleranceSeconds: Long = Long.MaxValue): DataFrame = {
    require(rightCols.nonEmpty, "asofJoinForward: rightCols must be non-empty")
    val rightTs = tsCol + "_right"
    val rStructCols = col(tsCol).as(rightTs) +: rightCols.map(col)
    val rStructType = right.select(rStructCols: _*).schema
    val lPart = left.select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
      lit(1).as("_side"),
      lit(null).cast(rStructType).as("_r"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("_l"))
    val rPart = right
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
        lit(0).as("_side"),
        struct(rStructCols: _*).as("_r"),
        lit(null).cast(left.schema).as("_l"))
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_ts").desc, col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val matched = lPart.unionByName(rPart)
      .withColumn("_m", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .withColumn("_m",
        when(col("_m").isNotNull &&
            col("_m").getField(rightTs).cast("long") - col("_ts").cast("long")
              <= toleranceSeconds,
          col("_m")))
    val outCols = left.columns.map(c => col("_l").getField(c).as(c)) ++
      (rightTs +: rightCols).map(c => col("_m").getField(c).as(c))
    matched.select(outCols.toSeq: _*)
  }

  /** Point-in-interval RANGE JOIN via time-bin bucketing: pairs every
    * `points` row whose `ptCol` falls inside [`loCol`, `hiCol`] of an
    * `intervals` row — WITHOUT the CartesianProduct/BNLJ Spark plans
    * for a bare inequality join (the 100 TB killer: |I|·|P|
    * comparisons). Each interval explodes into its covered
    * `binSeconds`-wide bins (pick binSeconds ≈ typical interval length
    * so that's a handful of rows); each point maps to exactly ONE bin,
    * so the bin equi-join shuffles both sides once, emits no
    * duplicates, and the exact [lo, hi] predicate runs as a residual
    * filter. Output: all interval columns + all point columns. */
  def rangeJoin(intervals: DataFrame, loCol: String, hiCol: String,
      points: DataFrame, ptCol: String, binSeconds: Long): DataFrame = {
    require(binSeconds > 0, "binSeconds must be positive")
    val iv = intervals.withColumn("_bin",
      explode(sequence(floor(col(loCol).cast("long") / binSeconds),
        floor(col(hiCol).cast("long") / binSeconds))))
    val pt = points.withColumn("_bin",
      floor(col(ptCol).cast("long") / binSeconds))
    iv.join(pt, "_bin")
      .filter(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop("_bin")
  }
}
