package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.io.FsUtil

/** The one lifecycle of a finite streaming gate: start an AvailableNow
  * query over everything its sources hold, await it, stop it, delete
  * its scratch directories. This is the engine's form of the reference
  * driver's dispatch / barrier / shutdown / cleanup sequence
  * (`master.py:128–134`). Every streaming and versioned-stream gate in
  * the query registry runs through these five entry points, so a gate
  * states only its plan, output mode, sink and oracle:
  *  - [[run]] starts, awaits and stops one query at a given checkpoint;
  *  - [[toMemory]] runs a plan to a memory sink under its own checkpoint;
  *  - [[withScratch]] owns the scratch directories of a hand-built run;
  *  - [[rocksDbState]] sets the keyed-state confs around a run;
  *  - [[flushed]] is the whole sentinel-flushed gate: fixture plus flush
  *    sentinel in, appended memory-sink table out.
  */
object StreamGate {

  /** The keyed-state confs for 100 TB streaming: RocksDB keeps keyed
    * state on local disk instead of the executor heap, so state capacity
    * scales with disk and snapshots upload incrementally. Changelog
    * checkpointing makes a commit upload the batch's delta instead of a
    * full SST snapshot (measured q74 4.16 s → 2.53 s). The state partition
    * count is fixed at a checkpoint's first batch; each partition is one
    * RocksDB instance paying a per-batch open/commit, so it is sized to
    * keyed-state volume, not to the session's batch shuffle width.
    * transformWithState (q466/q469/q471) refuses to start without the
    * RocksDB provider.
    */
  private val stateConfs = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    "spark.sql.shuffle.partitions" -> "8")

  /** Run `body` with [[stateConfs]] set on `s`, restoring in `finally`
    * each key's prior explicit value, or unsetting a key that was unset,
    * so co-resident queries keep their own settings. A stream clones its
    * session's conf in `start()`, so wrapping [[run]] or [[toMemory]] is
    * what the state operators see.
    */
  def rocksDbState[T](s: SparkSession)(body: => T): T = {
    val set = s.conf.getAll
    val prev = stateConfs.map { case (k, _) => k -> set.get(k) }
    try {
      stateConfs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Start `writer` at checkpoint `ckpt` under Trigger.AvailableNow (plan
    * the batches over what the sources hold now, then self-terminate),
    * await it and stop it in `finally`. A stream that fails rethrows its
    * StreamingQueryException from here. Returns the stopped query, whose
    * `recentProgress` stays readable.
    */
  def run(writer: DataStreamWriter[_], ckpt: Path): StreamingQuery = {
    val q = writer
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()
    q
  }

  private val memoryRuns = new ConcurrentHashMap[String, AtomicInteger]()

  /** Run `df` to a memory sink in `mode` under a fresh checkpoint and
    * return the sink table `graft_stream_<tag>_<n>`. The previous run's
    * view of the same tag is dropped first: a memory sink holds its whole
    * result in driver memory, and Bench and Verify call every query
    * repeatedly in one JVM.
    */
  def toMemory(s: SparkSession, tag: String, df: Dataset[_],
               mode: String): DataFrame = {
    val n = memoryRuns.computeIfAbsent(tag, _ => new AtomicInteger())
      .incrementAndGet()
    if (n > 1) s.catalog.dropTempView(s"graft_stream_${tag}_${n - 1}")
    val name = s"graft_stream_${tag}_$n"
    withScratch(s"graft_${tag}_ckpt") { case Seq(ckpt) =>
      run(df.writeStream.format("memory").queryName(name).outputMode(mode),
        ckpt)
    }
    s.table(name)
  }

  /** The finite gate whose stateful output only emits once the
    * watermark passes it: write the flush sentinel into a scratch dir,
    * hand `build` the events fixture under `dir` with the sentinel
    * unioned in ([[EventStreams.readFlushed]]), and run the plan it
    * returns to an append-mode memory sink under [[rocksDbState]].
    * Returns the sink table; the sentinel dir is deleted either way.
    */
  def flushed(s: SparkSession, dir: String, tag: String)(
      build: DataFrame => Dataset[_]): DataFrame =
    withScratch(s"graft_${tag}_sentinel") { case Seq(sentinelDir) =>
      SentinelFiles.writeFlushSentinel(sentinelDir)
      val plan = build(EventStreams.readFlushed(s, dir, sentinelDir))
      rocksDbState(s) { toMemory(s, tag, plan, "append") }
    }

  /** Create one temp directory per prefix (checkpoints, flush sentinels,
    * staged stream input), run `body` on them in order, and delete them
    * all in `finally`, whether `body` returns or throws.
    */
  def withScratch[T](prefixes: String*)(body: Seq[Path] => T): T = {
    val dirs = ArrayBuffer.empty[Path]
    try {
      prefixes.foreach(p => dirs += Files.createTempDirectory(p))
      body(dirs.toSeq)
    } finally dirs.foreach(d => FsUtil.deleteRecursively(d))
  }
}
