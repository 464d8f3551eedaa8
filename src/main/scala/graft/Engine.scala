package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * The reference's "cluster lifecycle" (`/root/reference/driver.py:86-154` —
  * GCP VM provisioning, scp code shipping, XML-RPC endpoints) is entirely
  * subsumed by Spark's cluster manager; the only engine-side concern left is
  * session configuration. Defaults are tuned for the local[32] test rig but
  * every choice is the one you'd make on a 1000-executor cluster too:
  *
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
  *  - shuffle.partitions sized to cores locally; on a real cluster this is
  *    overridden by AQE's target advisory size anyway.
  *  - UTC session timezone so timestamp semantics match the DuckDB oracle.
  */
object Engine {
  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerFunctions(spark)
    spark
  }

  /** Expose the engine's custom Catalyst expressions to SQL on an
    * already-built session (`GraftExtensions` installs the same table,
    * `GraftExtensions.functions`, into new ones):
    * `SELECT cosine_sim(a.embedding, b.embedding) FROM ...` etc. — the
    * same codegen'd expressions the Column API uses, so SQL users pay no
    * UDF penalty.
    */
  def registerFunctions(spark: SparkSession): Unit =
    GraftExtensions.functions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graftbridge.Bridge
        .registerFunction(spark, name, builder)
    }

  /** Register every fixture table as a temp view so plain
    * `spark.sql("SELECT ... FROM lineitem")` works — the engine's SQL
    * entry point over a scale-factor directory.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    graft.io.Tables.all.foreach { t =>
      graft.io.Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
}
