package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-only twin of the BPE merge trainer. */
object BpeSparkLoop {

  /** The all-Spark twin of [[TextAnalysis.trainBpeMerges]]: one
    * driver-synchronized Spark job PER MERGE ROUND (two vocab-sized
    * aggregates + a codegen'd replace projection). The parity oracle
    * for the driver-side merge loop. */
  def trainBpeMerges(df: DataFrame, textCol: String,
      numMerges: Int = 10, minPairCount: Long = 2): DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(explode(TextAnalysis.normalizedTokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    // initial state: every character wrapped in its own |markers|
    var states = words.select(
      concat(lit("|"), array_join(split(col("w"), ""), "||"), lit("|")).as("state"),
      col("cnt"))
      .localCheckpoint() // each round builds on the last — cut lineage
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val syms = expr("split(trim(BOTH '|' FROM state), '\\\\|\\\\|')")
      val nPairs = greatest(size(syms) - 1, lit(0))
      val pairs = states.select(col("cnt"),
          explode(zip_with(slice(syms, lit(1), nPairs),
            slice(syms, lit(2), nPairs),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      if (pairs.isEmpty || pairs.head.getAs[Long]("pc") < minPairCount) done = true
      else {
        val (l, r, pc) = (pairs.head.getAs[String]("l"),
          pairs.head.getAs[String]("r"), pairs.head.getAs[Long]("pc"))
        merges += ((rank.toLong, l, r, l + r, pc))
        // tokens are alnum-only (normalizedTokens), so the interpolated
        // literals cannot contain quotes or markers
        val prev = states
        states = states.select(
          expr(s"replace(state, '|$l||$r|', '|$l$r|')").as("state"),
          col("cnt"))
          .localCheckpoint() // eager: materialized before prev is dropped
        Snapshots.release(prev)
        rank += 1
      }
    }
    Snapshots.release(states)
    merges.toSeq.toDF("rank", "lhs", "rhs", "merged", "pair_count")
  }
}
