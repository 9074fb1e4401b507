package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

import graft.operators.{SparkTestSession, Snapshots}

class BenchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("a gate that throws on any iteration is reported in failed, not timed") {
    // runGate drains the session after each clean run: start from an
    // empty block manager so a pin left by an earlier suite is not
    // blamed on the gates here
    Snapshots.sweep(spark, blocking = true)
    var boomCalls = 0
    val gates: Seq[(String, Bench.Gate)] = Seq(
      "boom" -> { (s: SparkSession, _: String) =>
        boomCalls += 1
        // clean on its first iteration, throws from the second on
        if (boomCalls > 1) throw new RuntimeException("boom")
        s.range(5).toDF(): DataFrame
      },
      "ok" -> ((s: SparkSession, _: String) => s.range(10).toDF()))
    val out = Bench.report(spark, "unused", gates, iterations = 3,
      retryIters = 0, ref = Map.empty, cpus = 4)
    assert(out.failed == Seq("boom"))

    val json = new ObjectMapper()
    val contract = json.readTree(out.lines.last)
    assert(contract.get("metric").asText == "total")
    assert(contract.get("queries").fieldNames.asScala.toSeq == Seq("ok"))
    assert(contract.get("failed").elements.asScala.map(_.asText).toSeq == Seq("boom"))
    val summary = json.readTree(out.lines.head)
    assert(summary.get("metric").asText == "summary")
    assert(summary.get("n").asInt == 1)
    assert(summary.get("failed").elements.asScala.map(_.asText).toSeq == Seq("boom"))
    assert(json.readTree(out.detail).get("min").fieldNames.asScala.toSeq == Seq("ok"))
  }

  test("gate tables agree: queries, oracles, lazy pins and the frozen list") {
    val names = SparkEntry.queries.keySet
    assert(names == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.lazyPinGates.subsetOf(names),
      SparkEntry.lazyPinGates -- names)
    assert(Bench.frozenGates.length == 50)
    assert(Bench.frozenGates.distinct.length == 50)
    assert(Bench.frozenGates.toSet.subsetOf(names),
      Bench.frozenGates.toSet -- names)
  }
}
