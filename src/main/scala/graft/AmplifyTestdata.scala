package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Materialize an AMPLIFIED copy of the synthetic tables on disk —
  * `runMain graft.AmplifyTestdata <srcDir> <dstDir> <factor>` — so the
  * bench can run against a genuinely larger parquet fixture (real
  * scans, pushdown, shuffle sizes), not just ScaleProbe's in-memory
  * unions. Keys are REMAPPED per copy (shift by copy × (max+1)) with
  * foreign keys shifted by their parent table's base, so join
  * cardinalities scale linearly and copies stay referentially intact;
  * document text is perturbed per copy so the corpus is N× distinct
  * documents, not N× duplicates. Dimension tables (`region`,
  * `nation`) stay 1× — scaling a broadcast dim would change query
  * semantics, not data scale. */
object AmplifyTestdata {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: AmplifyTestdata <srcDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    val spark = Harness.session(32)

    def maxOf(table: String, key: String): Long =
      Tables.load(spark, src, table).agg(max(col(key))).head().getLong(0) + 1

    val bases = Map(
      "custkey" -> maxOf("customer", "c_custkey"),
      "suppkey" -> maxOf("supplier", "s_suppkey"),
      "partkey" -> maxOf("part", "p_partkey"),
      "orderkey" -> maxOf("orders", "o_orderkey"),
      "event_id" -> maxOf("events", "event_id"),
      "user_id" -> maxOf("events", "user_id"),
      "doc_id" -> maxOf("documents", "doc_id"),
      "vec_id" -> maxOf("embeddings", "vec_id"))

    /** Per-table (column → key-base) shift rules. */
    val shifts: Map[String, Seq[(String, String)]] = Map(
      "customer" -> Seq("c_custkey" -> "custkey"),
      "supplier" -> Seq("s_suppkey" -> "suppkey"),
      "part" -> Seq("p_partkey" -> "partkey"),
      "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
      "lineitem" -> Seq("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
        "l_suppkey" -> "suppkey"),
      "events" -> Seq("event_id" -> "event_id", "user_id" -> "user_id"),
      "documents" -> Seq("doc_id" -> "doc_id"),
      "embeddings" -> Seq("vec_id" -> "vec_id"))

    Tables.names.foreach { name =>
      val base = Tables.load(spark, src, name)
      val out = shifts.get(name) match {
        case None => base // dims: 1×
        case Some(rules) =>
          (0 until factor).map { c =>
            val shifted = rules.foldLeft(base) { case (df, (column, keyBase)) =>
              df.withColumn(column, col(column) + lit(c * bases(keyBase)))
            }
            if (name == "documents" && c > 0)
              shifted.withColumn("text", concat(col("text"), lit(s" variant $c")))
            else shifted
          }.reduce(_ unionByName _)
      }
      out.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
      // count from the WRITTEN parquet (footer metadata) — counting
      // `out` would recompute the whole amplified union a second time
      val rows = spark.read.parquet(s"$dst/$name.parquet").count()
      println(s"[amplify] $name: $rows rows -> $dst/$name.parquet")
    }
    spark.stop()
  }
}
