package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query registry modules live under graft.queries; each module pairs every
  * Spark pipeline with its DuckDB oracle SQL (see graft.queries.Q).
  */
object SparkEntry {

  /** Every registered query, in registration order. */
  def all: Seq[Q] = Seq(
    Relational.queries, Advanced.queries, Advanced2.queries,
    TextQueries.queries, ExtensionQueries.queries,
    ExtensionQueries2.queries, ExtensionQueries3.queries,
    ExtensionQueries4.queries, ExtensionQueries5.queries,
    ExtensionQueries6.queries, ExtensionQueries7.queries,
    ExtensionQueries8.queries, ExtensionQueries9.queries,
    ExtensionQueries10.queries, ExtensionQueries11.queries,
    ExtensionQueries12.queries, ExtensionQueries13.queries,
    ExtensionQueries14.queries, ExtensionQueries15.queries,
    ExtensionQueries16.queries, ExtensionQueries17.queries,
    ExtensionQueries18.queries, ExtensionQueries19.queries,
    ExtensionQueries20.queries, ExtensionQueries21.queries,
    ExtensionQueries22.queries, ExtensionQueries23.queries,
    ExtensionQueries24.queries, ExtensionQueries25.queries,
    ExtensionQueries26.queries, ExtensionQueries27.queries,
    ExtensionQueries28.queries, ExtensionQueries29.queries,
    ExtensionQueries30.queries, ExtensionQueries31.queries,
    ExtensionQueries32.queries, ExtensionQueries33.queries,
    ExtensionQueries34.queries, ExtensionQueries35.queries,
    ExtensionQueries36.queries, ExtensionQueries37.queries,
    ExtensionQueries38.queries, ExtensionQueries39.queries,
    ExtensionQueries40.queries, ExtensionQueries41.queries,
    ExtensionQueries42.queries, ExtensionQueries43.queries,
    ExtensionQueries44.queries, ExtensionQueries45.queries,
    ExtensionQueries46.queries, ExtensionQueries47.queries,
    ExtensionQueries48.queries, ExtensionQueries49.queries,
    ExtensionQueries50.queries, ExtensionQueries51.queries,
    ExtensionQueries52.queries, ExtensionQueries53.queries,
    ExtensionQueries54.queries, ExtensionQueries55.queries,
    ExtensionQueries56.queries, ExtensionQueries57.queries,
    ExtensionQueries58.queries, ExtensionQueries59.queries,
    ExtensionQueries60.queries, ExtensionQueries61.queries,
    ExtensionQueries62.queries, ExtensionQueries63.queries,
    ExtensionQueries64.queries, ExtensionQueries65.queries,
    ExtensionQueries66.queries, ExtensionQueries67.queries,
    ExtensionQueries68.queries, ExtensionQueries69.queries,
    ExtensionQueries70.queries, ExtensionQueries71.queries,
    ExtensionQueries72.queries, ExtensionQueries73.queries,
    ExtensionQueries74.queries, ExtensionQueries75.queries,
    ExtensionQueries76.queries, ExtensionQueries77.queries,
    ExtensionQueries78.queries, ExtensionQueries79.queries,
    ExtensionQueries80.queries, ExtensionQueries81.queries,
    ExtensionQueries82.queries, ExtensionQueries83.queries,
    ExtensionQueries84.queries, ExtensionQueries85.queries,
    ExtensionQueries86.queries, ExtensionQueries87.queries,
    ExtensionQueries88.queries, ExtensionQueries89.queries,
    ExtensionQueries90.queries, ExtensionQueries91.queries,
    ExtensionQueries92.queries, ExtensionQueries93.queries,
    ExtensionQueries94.queries, ExtensionQueries95.queries,
    StreamingQueries.queries).flatten

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (driver
    * records a weaker rows-only check for those). */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
