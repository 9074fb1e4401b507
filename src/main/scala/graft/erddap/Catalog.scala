package graft.erddap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Catalog layer (SURVEY.md §2.1): ERDDAP's `allDatasets.json` shape —
  * `{"table": {"columnNames": [...], "rows": [[...], ...]}}` — parsed
  * into a DataFrame, with the reference's case-insensitive column
  * resolution (`erddap_wrangler.py:275-281`). The S2-S4 scan, search and
  * recency filters are [[Relational.catalogScan]],
  * [[Relational.textSearch]] and [[Relational.recentWindow]].
  *
  * Scale note: catalogs are small (10³-10⁴ rows per server); they load
  * once, live broadcast, and join against control tables broadcast-side.
  */
object Catalog {

  /** Parse the ERDDAP table-JSON document into a DataFrame with one
    * column per `columnNames` entry (all strings — ERDDAP serves mixed
    * rows; callers cast). */
  def fromTableJson(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("multiLine", true).json(path)
      .select(col("table.columnNames").as("names"), col("table.rows").as("rows"))
    // columnNames are identical in every document; take the first.
    val names = raw.select("names").head().getSeq[String](0)
    val exploded = raw.select(explode(col("rows")).as("row"))
    exploded.select(names.zipWithIndex.map { case (n, i) =>
      col("row").getItem(i).cast("string").as(n)
    }: _*)
  }

  /** Case-insensitive column lookup: returns the actual column name. */
  def resolve(df: DataFrame, name: String): Option[String] =
    df.columns.find(_.equalsIgnoreCase(name))

  /** J1 date-cache restore: re-attach authoritative (minTime, maxTime)
    * per datasetID after a search narrowed the id list. */
  def withDateCache(searched: DataFrame, cache: DataFrame): DataFrame = {
    val idCol = resolve(searched, "datasetID").getOrElse("datasetID")
    Relational.dateCacheJoin(
      searched.drop("minTime", "maxTime"), cache, idCol)
  }
}
