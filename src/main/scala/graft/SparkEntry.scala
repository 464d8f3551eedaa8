package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Advanced, Advanced2, ExtensionQueries, ExtensionQueries2, ExtensionQueries3, ExtensionQueries4, ExtensionQueries5, ExtensionQueries6, ExtensionQueries7, ExtensionQueries8, ExtensionQueries9, ExtensionQueries10, ExtensionQueries11, ExtensionQueries12, ExtensionQueries13, ExtensionQueries14, ExtensionQueries15, ExtensionQueries16, ExtensionQueries17, ExtensionQueries18, ExtensionQueries19, ExtensionQueries20, ExtensionQueries21, ExtensionQueries22, ExtensionQueries23, ExtensionQueries24, ExtensionQueries25, ExtensionQueries26, ExtensionQueries27, ExtensionQueries28, ExtensionQueries29, ExtensionQueries30, ExtensionQueries31, ExtensionQueries32, ExtensionQueries33, ExtensionQueries34, ExtensionQueries35, ExtensionQueries36, ExtensionQueries37, ExtensionQueries38, ExtensionQueries39, ExtensionQueries40, ExtensionQueries41, ExtensionQueries42, ExtensionQueries43, ExtensionQueries44, ExtensionQueries45, ExtensionQueries46, ExtensionQueries47, ExtensionQueries48, ExtensionQueries49, ExtensionQueries50, ExtensionQueries51, ExtensionQueries52, ExtensionQueries53, ExtensionQueries54, ExtensionQueries55, ExtensionQueries56, ExtensionQueries57, ExtensionQueries58, ExtensionQueries59, ExtensionQueries60, ExtensionQueries61, ExtensionQueries62, ExtensionQueries63, ExtensionQueries64, ExtensionQueries65, ExtensionQueries66, ExtensionQueries67, ExtensionQueries68, ExtensionQueries69, ExtensionQueries70, ExtensionQueries71, ExtensionQueries72, ExtensionQueries73, ExtensionQueries74, ExtensionQueries75, ExtensionQueries76, ExtensionQueries77, ExtensionQueries78, ExtensionQueries79, ExtensionQueries80, ExtensionQueries81, ExtensionQueries82, ExtensionQueries83, ExtensionQueries84, ExtensionQueries85, ExtensionQueries86, ExtensionQueries87, ExtensionQueries88, ExtensionQueries89, ExtensionQueries90, ExtensionQueries91, ExtensionQueries92, ExtensionQueries93, ExtensionQueries94, ExtensionQueries95, Q, Relational, StreamingQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query registry modules live under graft.queries; each module pairs every
  * Spark pipeline with its DuckDB oracle SQL (see graft.queries.Q).
  */
object SparkEntry {

  /** Every registered query, in registration order. */
  def all: Seq[Q] =
    Relational.queries ++ Advanced.queries ++ Advanced2.queries ++
      TextQueries.queries ++ ExtensionQueries.queries ++
      ExtensionQueries2.queries ++ ExtensionQueries3.queries ++
      ExtensionQueries4.queries ++ ExtensionQueries5.queries ++
      ExtensionQueries6.queries ++ ExtensionQueries7.queries ++
      ExtensionQueries8.queries ++ ExtensionQueries9.queries ++
      ExtensionQueries10.queries ++ ExtensionQueries11.queries ++
      ExtensionQueries12.queries ++ ExtensionQueries13.queries ++
      ExtensionQueries14.queries ++ ExtensionQueries15.queries ++
      ExtensionQueries16.queries ++ ExtensionQueries17.queries ++
      ExtensionQueries18.queries ++ ExtensionQueries19.queries ++
      ExtensionQueries20.queries ++ ExtensionQueries21.queries ++
      ExtensionQueries22.queries ++ ExtensionQueries23.queries ++
      ExtensionQueries24.queries ++ ExtensionQueries25.queries ++
      ExtensionQueries26.queries ++ ExtensionQueries27.queries ++
      ExtensionQueries28.queries ++ ExtensionQueries29.queries ++
      ExtensionQueries30.queries ++ ExtensionQueries31.queries ++
      ExtensionQueries32.queries ++ ExtensionQueries33.queries ++
      ExtensionQueries34.queries ++ ExtensionQueries35.queries ++
      ExtensionQueries36.queries ++ ExtensionQueries37.queries ++
      ExtensionQueries38.queries ++ ExtensionQueries39.queries ++
      ExtensionQueries40.queries ++ ExtensionQueries41.queries ++
      ExtensionQueries42.queries ++ ExtensionQueries43.queries ++
      ExtensionQueries44.queries ++ ExtensionQueries45.queries ++
      ExtensionQueries46.queries ++ ExtensionQueries47.queries ++
      ExtensionQueries48.queries ++ ExtensionQueries49.queries ++
      ExtensionQueries50.queries ++ ExtensionQueries51.queries ++
      ExtensionQueries52.queries ++ ExtensionQueries53.queries ++
      ExtensionQueries54.queries ++ ExtensionQueries55.queries ++
      ExtensionQueries56.queries ++ ExtensionQueries57.queries ++
      ExtensionQueries58.queries ++ ExtensionQueries59.queries ++
      ExtensionQueries60.queries ++ ExtensionQueries61.queries ++
      ExtensionQueries62.queries ++ ExtensionQueries63.queries ++
      ExtensionQueries64.queries ++ ExtensionQueries65.queries ++
      ExtensionQueries66.queries ++ ExtensionQueries67.queries ++
      ExtensionQueries68.queries ++ ExtensionQueries69.queries ++
      ExtensionQueries70.queries ++ ExtensionQueries71.queries ++
      ExtensionQueries72.queries ++ ExtensionQueries73.queries ++
      ExtensionQueries74.queries ++ ExtensionQueries75.queries ++
      ExtensionQueries76.queries ++ ExtensionQueries77.queries ++
      ExtensionQueries78.queries ++ ExtensionQueries79.queries ++
      ExtensionQueries80.queries ++ ExtensionQueries81.queries ++
      ExtensionQueries82.queries ++ ExtensionQueries83.queries ++
      ExtensionQueries84.queries ++ ExtensionQueries85.queries ++
      ExtensionQueries86.queries ++ ExtensionQueries87.queries ++
      ExtensionQueries88.queries ++ ExtensionQueries89.queries ++
      ExtensionQueries90.queries ++ ExtensionQueries91.queries ++
      ExtensionQueries92.queries ++ ExtensionQueries93.queries ++
      ExtensionQueries94.queries ++ ExtensionQueries95.queries ++
      StreamingQueries.queries

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
