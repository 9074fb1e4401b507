package perfbench

import org.apache.spark.sql.SparkSession

/** `publish`: the data-plane workload. In every block of 5 units, 2
  * are bulk tabledap publishes through the DSv2 portal sink
  * ([[BulkPublish]]) and 3 are griddap imagery units ([[GridImagery]]),
  * which never touch the tabledap source or the portal sink. The loop
  * ends on whole blocks of 20 units, so every run holds the unit kinds
  * in the same proportions: 8 bulk publishes, 9 imagery refreshes and
  * 3 imagery publishes per 20. */
final class Publish(a: Args, tracer: Tracer) extends Workload {
  private val bulk = new BulkPublish(a, tracer)
  private val grid = new GridImagery(a, tracer)
  private var n = 0

  override def endpoints: Seq[ErddapEndpoint] = bulk.endpoints ++ grid.endpoints
  override def stepMultiple: Int = 20
  /** 100 units: enough for the p90 sample rule. */
  override def minSteps: Int = 100
  override def warmSteps: Int = stepMultiple

  override def setUp(spark: SparkSession): Unit = { bulk.setUp(spark); grid.setUp(spark) }
  override def warmUp(m: Measure): Unit = { bulk.warmUp(m); grid.warmUp(m) }

  override def step(m: Measure): Unit = {
    if (n % 5 == 0 || n % 5 == 2) bulk.step(m) else grid.step(m)
    n += 1
  }

  override def layers(units: Int): Seq[(String, Double, String)] = bulk.layers(units) ++ grid.layers(units)

  override def close(): Unit = try bulk.close() finally grid.close()
}
