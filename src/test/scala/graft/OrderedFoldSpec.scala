package graft

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.streaming.{EventStreams, SentinelFiles, StreamGate}
import graft.streaming.EventStreams._

/** The watermark-ordered fold under the per-key streaming operators:
  * scrambled multi-batch arrival folds in (ts, id) order, and the flush
  * operators leave no real key's state behind once the sentinel passes.
  */
class OrderedFoldSpec extends SparkSpec {

  import spark.implicits._

  // small grid constants so walks cross within a few observations
  private val (a9, b9, t9) = (2L, -1L, 5L)

  test("sprtWalk over scrambled multi-batch arrival == a local " +
    "(ts, id) replay, and a crossed walk keeps its frozen decision") {
    val t0 = 1704067200L // 2024-01-01T00:00Z, epoch seconds
    val rnd = new scala.util.Random(7L)
    // variant 0 crosses h1 at n = 3 (cum 6), then 27 failures drift it
    // to -21, past -t9: the decision must stay accept_h1 at n = 3.
    // variant 1 oscillates 2, 1, 0 and never crosses. Variant 2 is
    // random, with pairs of rows sharing a ts so the id breaks the tie.
    val walks = Seq(
      0L -> (0 until 30).map(j => (t0 + j * 700L, j < 3)),
      1L -> (0 until 30).map(j => (t0 + j * 700L, j % 3 == 0)),
      2L -> (0 until 30).map(j =>
        (t0 + (j / 2) * 1400L, rnd.nextDouble() < 0.35)))
    val ids = rnd.shuffle((1L to 90L).toList).iterator
    val rows = for ((v, walk) <- walks; (ts, succ) <- walk)
      yield (v, ts, ids.next(), succ)

    // each row lands in its ts hour's file or, at random, the next one;
    // rows are shuffled within a file. The watermark after file f stays
    // below hour f - 1, so a row one file late is never dropped.
    val byFile = rows.groupBy { case (_, ts, _, _) =>
      ((ts - t0) / 3600L + rnd.nextInt(2)).toInt }
    val streamDir = scratch("graft_sprt_stream")
    def place(name: String, mtimeS: Long,
              rs: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val stage = scratch(s"graft_sprt_$name")
      SentinelFiles.writeEvents(stage, rs)
      val dest = streamDir.resolve(s"$name.parquet")
      Files.move(stage.resolve("sentinel.parquet"), dest,
        StandardCopyOption.REPLACE_EXISTING)
      // the file source takes the oldest mtime first: pin the order
      Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeS * 1000L))
    }
    byFile.keys.toSeq.sorted.foreach { f =>
      place(f"f$f%02d", 1000L + f, rnd.shuffle(byFile(f)).map {
        case (v, ts, id, succ) => (id, ts * 1000000000L, v,
          if (succ) "purchase" else "view", 0.0, "{}")
      })
    }
    place("zz_flush", 2000L, Seq((-1L, EventStreams.FlushSentinelNanos,
      -1L, "__flush", 0.0, "{}")))

    val stream = spark.readStream.schema(EventStreams.rawSchema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch
      .parquet(streamDir.toString)
      .withColumn("ts", expr(Tables.epochLongToTsSql("ts")))
      .selectExpr("user_id AS variant", "ts", "unix_micros(ts) AS ts_us",
        "event_id", "event_type = 'purchase' AS success")
      .as[SprtEvent]
    val got = StreamGate.toMemory(spark, "sprt_fold_spec",
        sprtWalk(stream, a9, b9, t9).filter(col("variant") >= 0), "append")
      .as[SprtOut].collect().sortBy(_.variant).toSeq

    val replay = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, rs) =>
      var n = 0L; var k = 0L; var nDec = -1L; var cumDec = 0L
      rs.sortBy { case (_, ts, id, _) => (ts, id) }.foreach {
        case (_, _, _, succ) =>
          n += 1L
          if (succ) k += 1L
          val cum = k * a9 + (n - k) * b9
          if (nDec == -1L && math.abs(cum) >= t9) { nDec = n; cumDec = cum }
      }
      val dec =
        if (nDec == -1L) "continue"
        else if (cumDec >= t9) "accept_h1" else "accept_h0"
      SprtOut(v, n, k, nDec, dec, cumDec)
    }
    assert(byFile.size >= 5, s"only ${byFile.size} micro-batches")
    assert(got == replay)
    assert(got.head == SprtOut(0L, 30L, 3L, 3L, "accept_h1", 6L))
    assert(got(1) == SprtOut(1L, 30L, 10L, -1L, "continue", 0L))
  }

  /** Run `plan` over the sf0.001 events plus the flush sentinel and one
    * lone 2024 event of user 4242 (a key with a single row, which
    * [[EventStreams.cadenceMonitor]] folds to no output) to a memory
    * sink; return the most state rows any batch held, the state rows the
    * last batch left, and the rows emitted.
    */
  private def flushRun(name: String)(
      plan: DataFrame => Dataset[_]): (Long, Long, Long) =
    StreamGate.withScratch(s"graft_${name}_ckpt", s"graft_${name}_sentinel") {
      case Seq(ckpt, sentinelDir) =>
        SentinelFiles.writeEvents(sentinelDir, Seq(
          (-1L, EventStreams.FlushSentinelNanos, -1L, "__flush", 0.0, "{}"),
          (9000001L, 1704067200L * 1000000000L, 4242L, "view", 1.0, "{}")))
        val sink = s"graft_evict_$name"
        val q = StreamGate.run(
          plan(EventStreams.readFlushed(spark, sf0001, sentinelDir))
            .writeStream.format("memory").queryName(sink)
            .outputMode("append"), ckpt)
        val held = q.recentProgress.toSeq
          .map(_.stateOperators.map(_.numRowsTotal).sum)
        (held.max, held.last, spark.table(sink).count())
    }

  /** Only the sentinel's own key keeps state after the flush: its
    * 2100 row never falls below the watermark.
    */
  private def assertEvicted(run: (Long, Long, Long)): Unit = {
    val (maxHeld, lastHeld, emitted) = run
    assert(maxHeld > 1L, s"no real key ever held state: $run")
    assert(emitted > 0L, s"nothing emitted: $run")
    assert(lastHeld == 1L, s"state rows left after the flush: $run")
  }

  test("flush eviction: runningMoments keeps no real key after the flush") {
    assertEvicted(flushRun("moments")(events => runningMoments(events
      .selectExpr("event_type AS etype", "ts", "unix_micros(ts) AS ts_us",
        "event_id", "value").as[MomentsEvent])))
  }

  test("flush eviction: sprtWalk keeps no real key after the flush") {
    assertEvicted(flushRun("sprt")(events => sprtWalk(events
      .selectExpr(
        "CASE WHEN user_id < 0 THEN user_id ELSE user_id % 2 END AS variant",
        "ts", "unix_micros(ts) AS ts_us", "event_id",
        "event_type = 'purchase' AS success").as[SprtEvent], a9, b9, t9)))
  }

  test("flush eviction: latenessRouter keeps no real key after the flush") {
    assertEvicted(flushRun("late")(events => latenessRouter(events
      .selectExpr("user_id",
        "timestamp_micros(unix_micros(ts) + (event_id % 4) * 30000000) AS arr",
        "unix_micros(ts) + (event_id % 4) * 30000000 AS arr_us",
        "unix_micros(ts) AS ts_us", "event_id").as[LateEvent])))
  }

  test("flush eviction: cadenceMonitor keeps no real key after the " +
    "flush, single-event keys included") {
    assertEvicted(flushRun("cadence")(events => cadenceMonitor(events
      .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "event_id")
      .as[CadenceEvent])))
  }

  test("flush eviction: clampedBalance keeps no real key after the flush") {
    assertEvicted(flushRun("balance")(events => clampedBalance(events
      .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "event_id",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) * " +
          "CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS dx")
      .as[BalanceEvent])))
  }
}
