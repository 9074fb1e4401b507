package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W1 — point→line segmentation for glider tracks
  * (`agol_wrangler.py:764-823`).
  *
  * The reference loops over consecutive row pairs building 2-point
  * LineStrings, taking feature properties from the segment's LAST point
  * and skipping segments with a null endpoint. Spark-first shape: a
  * `lead` window per track ordered by time — one shuffle on the track
  * key, no driver-side iteration; scales linearly with track count.
  */
object Glider {

  /** Emit one row per consecutive point pair: (x1,y1)→(x2,y2). Property
    * columns (everything except the coordinate pair) are taken from the
    * segment's LAST point (`agol_wrangler.py:797-806`), matching the
    * reference. All lead expressions are evaluated against the ORIGINAL
    * ordering columns in a single projection, so overwriting `tsCol`
    * with its lead value cannot perturb the window ordering. */
  def segments(df: DataFrame, trackCol: String, tsCol: String,
      lonCol: String, latCol: String, tieBreak: Seq[String] = Nil,
      propsFromLast: Boolean = true): DataFrame = {
    val w = Window.partitionBy(col(trackCol))
      .orderBy((tsCol +: tieBreak).map(col): _*)
    val clean = Relational.dropInvalidCoords(df, Seq(lonCol, latCol))
    val propCols = df.columns.filterNot(Set(lonCol, latCol).contains)
    val propExprs = propCols.map { c =>
      if (propsFromLast) lead(col(c), 1).over(w).as(c) else col(c).as(c)
    }
    val coordExprs = Seq(
      col(lonCol).as("x1"), col(latCol).as("y1"),
      lead(col(lonCol), 1).over(w).as("x2"),
      lead(col(latCol), 1).over(w).as("y2"))
    clean.select((propExprs ++ coordExprs).toIndexedSeq: _*)
      .filter(col("x2").isNotNull && col("y2").isNotNull)
  }

  /** Assemble the GeoJSON LineString geometry struct for each segment. */
  def segmentGeometry(segments: DataFrame): DataFrame =
    segments.withColumn("geometry", struct(
      lit("LineString").as("type"),
      array(array(col("x1"), col("y1")), array(col("x2"), col("y2")))
        .as("coordinates")))
}
