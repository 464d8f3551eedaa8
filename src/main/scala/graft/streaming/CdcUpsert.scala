package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.io.{Footers, FsUtil}

/** Streaming CDC upsert into a bucket-partitioned parquet snapshot —
  * the MERGE-INTO discipline without a table format: each micro-batch
  * folds to latest-per-key, and only the hash buckets CONTAINING
  * changed keys are read back, merged, and rewritten (dynamic partition
  * overwrite). At 100 TB the snapshot is thousands of buckets and a
  * batch touches the few its keys hash into — the rewrite cost scales
  * with the CHANGE set, not the table, which is exactly what a format
  * with file-level upsert (Delta/Iceberg) buys; this is the same shape
  * on plain hive-partitioned parquet. Batch q165 compacts a changelog
  * once; this maintains the compacted view continuously.
  */
object CdcUpsert {

  /** Latest row per key by (ts, event_id) — the lexicographic struct
    * max, one hash agg, no window/sort. */
  private def latestPerUser(df: DataFrame): DataFrame =
    df.groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("m"))
      .select(col("user_id"),
        (col("user_id") % 8).as("bucket"),
        col("m.ts").as("last_ts"), col("m.event_id").as("last_event_id"),
        col("m.event_type").as("last_type"), col("m.value").as("last_value"))

  /** The snapshot at `snapDir` with its schema supplied, so the read
    * launches no schema-inference job: the data columns from one part
    * file's footer (one writer wrote them all, so that is the file
    * inference would read) plus the `bucket` partition column as LONG.
    */
  private def snapshot(spark: SparkSession, snapDir: String): DataFrame =
    spark.read.schema(Footers.schema(spark,
        Seq(Footers.firstDataFile(spark, snapDir))).add("bucket", LongType))
      .parquet(snapDir)

  /** Merge one micro-batch of change events into the snapshot at
    * `snapDir`. Read-modify-write touches ONLY the buckets the batch's
    * keys fall in: the affected-bucket set (≤ 8 values — a bounded
    * driver collect) prunes the snapshot read via the hive partition
    * column, and `partitionOverwriteMode=dynamic` limits the overwrite
    * to the partitions present in the merged frame (= the affected
    * buckets). An empty batch has no affected bucket and writes nothing.
    */
  def mergeBatch(spark: SparkSession, batch: DataFrame,
                 snapDir: String): Unit = {
    val changes = latestPerUser(batch).localCheckpoint()
    val affected = changes.select("bucket").distinct()
      .collect().map(_.getLong(0))
    if (affected.isEmpty) return
    val exists = new java.io.File(snapDir).listFiles() != null &&
      new java.io.File(snapDir).listFiles().nonEmpty
    val merged =
      if (!exists) changes
      else {
        val existing = snapshot(spark, snapDir)
          .where(col("bucket").isin(affected.toSeq: _*))
          .select(col("user_id"), col("bucket"),
            col("last_ts"), col("last_event_id"), col("last_type"),
            col("last_value"))
        existing.unionByName(changes)
          .groupBy("user_id")
          .agg(max(struct(col("last_ts"), col("last_event_id"),
            col("last_type"), col("last_value"), col("bucket"))).as("m"))
          .select(col("user_id"), col("m.bucket").as("bucket"),
            col("m.last_ts").as("last_ts"),
            col("m.last_event_id").as("last_event_id"),
            col("m.last_type").as("last_type"),
            col("m.last_value").as("last_value"))
      }
    // the merge plan READS the same path the overwrite commits to —
    // materialize it first (Spark refuses an overwrite whose input plan
    // still scans the target, and rightly so)
    merged.localCheckpoint().write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(snapDir)
  }

  /** Physically drop soft-deleted rows — keys whose LATEST change is a
    * tombstone (`last_type = 'error'`, q165's CDC rule) stay in the
    * snapshot as markers until this runs, because dynamic partition
    * overwrite can only replace partitions PRESENT in the written frame
    * (an upsert batch can't "write an absence"). Compaction rewrites
    * ONLY the buckets that contain tombstones; a bucket left with no
    * survivors is removed at the directory level (the one case a
    * write-side overwrite cannot express). Tombstone-free buckets are
    * untouched — cost scales with the delete set, not the table.
    */
  def compact(spark: SparkSession, snapDir: String): Unit = {
    val snap = snapshot(spark, snapDir)
    val tomb = snap.where(col("last_type") === "error")
      .select(col("bucket")).distinct()
      .collect().map(_.getLong(0))
    if (tomb.isEmpty) return
    val kept = snap.where(col("bucket").isin(tomb.toSeq: _*))
      .where(col("last_type") =!= "error")
      .select(col("user_id"), col("bucket"),
        col("last_ts"), col("last_event_id"), col("last_type"),
        col("last_value"))
      .localCheckpoint()
    val keptBuckets = kept.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSet
    kept.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(snapDir)
    tomb.filterNot(keptBuckets).foreach(b =>
      FsUtil.deleteRecursively(s"$snapDir/bucket=$b"))
  }

  /** Read the maintained snapshot back in its serving column order. */
  def readSnapshot(spark: SparkSession, snapDir: String): DataFrame =
    snapshot(spark, snapDir)
      .select(col("user_id"), col("bucket"),
        col("last_event_id"), col("last_type"), col("last_value"),
        col("last_ts"))
}
