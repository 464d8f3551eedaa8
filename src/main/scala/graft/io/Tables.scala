package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Columnar parquet scans replace the reference's whole-file-in-driver-memory
  * text read (`/root/reference/master.py:34-36`): Spark's vectorized parquet
  * reader gives per-split streaming scans with predicate pushdown and column
  * pruning, so a 100 TB table is read as independent splits, never
  * materialized on one node.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Required on every session that reads an `events`-shaped table whose
    * `ts` is parquet TIMESTAMP(NANOS) or a raw INT64 of epoch nanos: Spark 4
    * rejects TIMESTAMP(NANOS) outright; with this legacy flag the column
    * arrives as LongType nanos and [[load]] converts it to timestamp_ntz
    * (microsecond truncation — the same thing DuckDB does on read, so the
    * oracle sees identical values). The generated fixtures themselves
    * carry TIMESTAMP(MICROS, isAdjustedToUTC=false) at every scale factor
    * and read as timestamp_ntz directly; the flag is for the raw-INT64
    * sentinel files and the nanos tables tests write.
    */
  val requiredConfs: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Epoch longs at or above this magnitude are nanoseconds; below,
    * microseconds. 3e17 nanos ≈ 1979-07; 3e17 micros ≈ year 11,476 — any
    * real event time lands unambiguously on one side. The guard exists
    * because the UNIT of an epoch long read from parquet is a property of
    * the reader path, not the file: the batch reader (nanosAsLong flag)
    * surfaces a TIMESTAMP(NANOS) column as nanos, while the streaming file
    * source under an explicit LongType schema surfaces the SAME column
    * already down-converted to micros (observed on Spark 4.1.2 — assuming
    * nanos there collapsed 2024 event times to 1970 and broke every
    * streaming gate in round 7). Deriving the unit per value makes both
    * paths, plus raw-INT64 sentinel files, converge on the same instant.
    */
  val NanosGuard: Long = 300000000000000000L

  /** Embedding dimensionality of the `embeddings` fixture. Spark-side
    * pipelines derive the dim at runtime (SimilaritySearch.deriveDim);
    * DuckDB oracle SQL is authored as a static string and cannot, so
    * oracles that unroll per-component expressions use THIS constant.
    * FixtureSpec pins it against the actual parquet, so a fixture dim
    * change fails loudly instead of silently diverging the oracles
    * (e.g. a 64-wide meanList over a 32-dim fixture computes NULL
    * centroid components).
    */
  val EmbeddingDim: Int = 64

  /** SQL for the shared unit-guarded epoch-long → TimestampType(micros)
    * conversion. Both the batch ([[load]]) and streaming
    * (graft.streaming.EventStreams.readStream) readers MUST route their
    * `ts` conversion through this one expression.
    */
  def epochLongToTsSql(colName: String): String =
    s"timestamp_micros(CASE WHEN abs($colName) >= ${NanosGuard}L " +
      s"THEN $colName div 1000 ELSE $colName END)"

  /** Reads `<sfDir>/<name>.parquet` with its schema supplied, so the read
    * launches no Spark job: a bare `spark.read.parquet` runs a
    * schema-inference job per call, which costs more than the rest of
    * the load (BENCH_NOTES.md).
    * The schema comes from the footer of [[Footers.firstDataFile]], the
    * file Spark's non-merging inference reads, so it is exactly what
    * inference would give, including for the tables tests write with
    * their own column sets.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = Footers.schema(spark, Seq(Footers.firstDataFile(spark, path)))
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr(epochLongToTsSql("ts")).cast("timestamp_ntz"))
    else df
  }

  /** High-cardinality key columns per fixture, the HASH repartition key
    * of [[loadParallel]]. Hash (not keyless round-robin) because a
    * keyless `repartition(n)` first LOCALLY SORTS its whole input
    * partition (sortBeforeRepartition, SPARK-23207 retry determinism) —
    * measured 5x on the single-split 600k-row lineitem scan — while
    * hash partitioning on a unique key is retry-deterministic with no
    * sort and spreads evenly over any partition count (guide §2.5).
    */
  private val RepartitionKeys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** [[load]] plus a conditional fan-out for COMPUTE-BOUND map sides
    * (r14 optimization, guide §2.5 "input skew: one huge unsplittable
    * file — repartition immediately after the read"): each fixture is
    * ONE parquet file with ONE row group, so the scan plans as ONE
    * split and the entire scan+map side of a query runs on a single
    * core of the machine (StageCountProbe measured 9 stages / 9 TASKS
    * for q270's whole pipeline). When the planned scan parallelism is
    * below the session's cores, hash-repartition on the table's unique
    * key right after the read so heavy per-row work (char-bigram
    * explodes, n-gram hashing, distance evaluation) fans out.
    * SCALE-ADAPTIVE by construction: a production table has >= cores
    * splits and the condition never fires, so no shuffle is added
    * where the scan is already parallel.
    *
    * Deliberately OPT-IN per pipeline, not the default in [[load]]: an
    * r14 A/B over the registry measured the blanket form a net LOSS —
    * scan-dominated and cheap-aggregation queries (the several-hundred
    * query tail) pay a full extra exchange for map work they don't
    * have (q02 filter+project 0.34s -> 1.76s, q12 0.37s -> 0.76s),
    * while only compute-bound map sides gain (q270 3.35s -> 2.65s).
    */
  def loadParallel(spark: SparkSession, sfDir: String,
                   name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    val keys = RepartitionKeys.getOrElse(name, Nil)
    if (keys.isEmpty) return df
    // probe planned scan parallelism from the ALREADY-loaded df (r14
    // advice: a second spark.read re-planned the scan and re-opened the
    // footer per call), and let fatal errors (OOM, interrupts)
    // propagate — only recoverable planning failures mean "don't know,
    // don't repartition"
    val parts =
      try df.rdd.getNumPartitions
      catch { case scala.util.control.NonFatal(_) => Int.MaxValue }
    val target = spark.sparkContext.defaultParallelism
    if (parts < target) df.repartition(target, keys.map(df.col): _*)
    else df
  }
}
