package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each [[SparkEntry.gates]] result →
  * parquet, plus its oracle SQL in oracle_sql.json (keys sorted, so two
  * dumps compare byte for byte), for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (developer iteration only — the driver passes
    // two): comma-separated gate names to dump, e.g. "bm25_topk"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session(Harness.envCores)
    new java.io.File(outDir).mkdirs()
    SparkEntry.gates
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, gate) =>
        Harness.runGate(spark, name, "verify") {
          gate.run(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.gates.toSeq.sortBy(_._1)
      .map { case (k, gate) => s"${q(k)}: ${q(gate.oracle)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
