package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.Tables
import graft.streaming.{EventStreams, Milestones}

/** transformWithState (q466) behavior pins. The driver's oracle checks
  * the value; these pin the two things the oracle can't: (a) streaming
  * output equals the batch window formulation computed in-Spark, and
  * (b) the ListState reorder buffer really does repair ARRIVAL disorder
  * — a run where each user's LATER events arrive a whole micro-batch
  * before their earlier ones (disorder within the watermark delay, the
  * contract streaming pipelines actually rely on) must produce the
  * identical event-time-ordered milestones.
  */
class Milestone81Spec extends SparkSpec {

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))

  private def withRocksDb[T](body: => T): T = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("q466: streaming milestones equal the batch window formulation") {
    val got = SparkEntry.queries("q466_tws_milestones")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val want = Tables.load(spark, sf0001, "events")
      .withColumn("milestone", row_number().over(w).cast("long"))
      .withColumn("cum_cents",
        sum(floor(col("value") * 100 + 0.5).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(col("milestone") % 4 === 0)
      .select("user_id", "milestone", "cum_cents")
      .orderBy("user_id", "milestone")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("q466 reorder contract: later events arriving a full micro-batch " +
    "EARLIER still yield event-time-ordered milestones") {
    import spark.implicits._
    val t0 = 1704067200L * 1000000000L // 2024-01-01T00:00Z in epoch ns
    def ev(user: Long, minute: Int, id: Long, value: Double) =
      (id, t0 + minute * 60000000000L, user, "click", value, "{}")
    // 3 users x 8 events (minutes 0..7). Arrival: minutes 4..7 FIRST.
    val users = Seq(1L, 2L, 3L)
    val late = for { u <- users; m <- 4 to 7 }
      yield ev(u, m, u * 100 + m, (u * 10 + m) + 0.25)
    val early = for { u <- users; m <- 0 to 3 }
      yield ev(u, m, u * 100 + m, (u * 10 + m) + 0.25)
    val sentinel = Seq(
      (-1L, EventStreams.FlushSentinelNanos, -1L, "__flush", 0.0, "{}"))

    val streamDir = scratch("graft_tws_reorder")
    val ckpt = scratch("graft_tws_reorder_ckpt")
    def writeAs(rows: Seq[(Long, Long, Long, String, Double, String)],
                name: String, mtimeS: Long): Unit = {
      val stage = scratch(s"graft_tws_stage_$name")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(s"$name.parquet")
      Files.move(part, dest)
      // the file source processes oldest-mtime first: force the order
      Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeS * 1000))
      deleteRecursively(stage)
    }
    writeAs(late, "a_late", 1000)
    writeAs(early, "b_early", 2000)
    writeAs(sentinel, "c_flush", 3000)

    val name = "graft_tws_reorder_sink"
    try {
      val stream = spark.readStream.schema(EventStreams.rawSchema)
        .option("maxFilesPerTrigger", 1) // one file per micro-batch
        .parquet(streamDir.toString)
        .withColumn("ts", expr(Tables.epochLongToTsSql("ts")))
        .withWatermark("ts", "2 hours")
        .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
          "event_id", "value")
        .as[Milestones.MsEvent]
      val q = withRocksDb {
        Milestones.milestones(stream, 4L)
          .filter(col("user_id") >= 0)
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
      }
      try q.awaitTermination() finally q.stop()

      val got = spark.table(name).orderBy("user_id", "milestone")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      def cents(v: Double) = math.floor(v * 100 + 0.5).toLong
      // event-time truth: minutes 0..7 in order, milestones at 4 and 8
      val want = users.flatMap { u =>
        val vals = (0 to 7).map(m => cents((u * 10 + m) + 0.25))
        Seq((u, 4L, vals.take(4).sum), (u, 8L, vals.sum))
      }.toArray
      assert(got.sameElements(want),
        s"reorder repair failed: got ${got.toSeq} want ${want.toSeq}")
    } finally {
      spark.catalog.dropTempView(name)
      deleteRecursively(ckpt)
      deleteRecursively(streamDir)
    }
  }

  test("q466 multi-epoch flush: a stale timer flushes only the ripe " +
    "prefix, retains the beyond-watermark suffix, and the counter " +
    "carries across the epochs") {
    import spark.implicits._
    val t0 = 1704067200L * 1000000000L
    def ev(minute: Long, id: Long, value: Double) =
      (id, t0 + minute * 60000000000L, 1L, "click", value, "{}")
    // epoch 1: minutes 0..4 arrive; epoch 2: minute 190 (3h10m) arrives
    // NEXT batch — its watermark (3h10m - 2h = 1h10m) expires the
    // epoch-1 timer while the new event itself stays beyond it, so the
    // firing is exactly the stale-timer partial-flush path
    val epoch1 = (0L to 4L).map(m => ev(m, 100 + m, m + 1.00))
    val epoch2 = Seq(ev(190L, 200L, 50.00))
    val sentinel = Seq(
      (-1L, EventStreams.FlushSentinelNanos, -1L, "__flush", 0.0, "{}"))

    val streamDir = scratch("graft_tws_epoch")
    val ckpt = scratch("graft_tws_epoch_ckpt")
    def writeAs(rows: Seq[(Long, Long, Long, String, Double, String)],
                name: String, mtimeS: Long): Unit = {
      val stage = scratch(s"graft_tws_epoch_$name")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(s"$name.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeS * 1000))
      deleteRecursively(stage)
    }
    writeAs(epoch1, "a_epoch1", 1000)
    writeAs(epoch2, "b_epoch2", 2000)
    writeAs(sentinel, "c_flush", 3000)

    val name = "graft_tws_epoch_sink"
    try {
      val stream = spark.readStream.schema(EventStreams.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir.toString)
        .withColumn("ts", expr(Tables.epochLongToTsSql("ts")))
        .withWatermark("ts", "2 hours")
        .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
          "event_id", "value")
        .as[Milestones.MsEvent]
      val q = withRocksDb {
        Milestones.milestones(stream, 2L)
          .filter(col("user_id") >= 0)
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
      }
      try q.awaitTermination() finally q.stop()
      val got = spark.table(name).orderBy("milestone")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // event-time cents: 100,200,300,400,500 then 5000
      // k=2 milestones: n=2 cum 300; n=4 cum 1000; n=6 cum 6500 —
      // the n=6 row exists only if the retained suffix flushed AND the
      // counter resumed from the first epoch's (5, 1500)
      assert(got.toSeq ==
        Seq((1L, 2L, 300L), (1L, 4L, 1000L), (1L, 6L, 6500L)),
        s"got ${got.toSeq}")
    } finally {
      spark.catalog.dropTempView(name)
      deleteRecursively(ckpt)
      deleteRecursively(streamDir)
    }
  }
}
