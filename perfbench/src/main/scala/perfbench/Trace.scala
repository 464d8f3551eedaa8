package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of a run. `op` is the id of the operation the span
  * belongs to (an operation's own span has `op == id`), `parent` the id
  * of the enclosing span (0 for none). Times are nanoseconds since the
  * run started.
  */
final case class Span(id: Long, op: Long, parent: Long, name: String,
                      start: Long, end: Long, attrs: Map[String, Any]) {
  def seconds: Double = (end - start) / 1e9
}

/** Times the benchmark's calls into the engine. Every operation runs
  * inside [[op]], and every engine layer call inside it through
  * [[layer]]. Untraced, both only run their body (the operation's wall
  * time is still measured by the caller). Traced, they keep a [[Span]]
  * in memory and tag the calling thread with the open span's id, so the
  * Spark jobs that the call launches can be attributed to it.
  */
final class Recorder(sc: SparkContext) {
  val t0: Long = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private var on = false
  private var opId = 0L
  private var parent = 0L

  def tracing: Boolean = on
  def setTracing(b: Boolean): Unit = on = b
  def nextId(): Long = ids.incrementAndGet()
  def recorded: Seq[Span] = spans.toSeq
  /** Nanoseconds since the run started, for an epoch-millisecond time. */
  def relNs(epochMs: Long): Long = (epochMs - epochMs0) * 1000000L

  private def timed[T](name: String, isOp: Boolean)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextId()
      val savedParent = parent
      val savedOp = opId
      if (isOp) opId = id
      parent = id
      sc.setLocalProperty(Recorder.SpanProp, id.toString)
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        spans += Span(id, opId, savedParent, name, s - t0, e - t0, Map.empty)
        parent = savedParent
        opId = savedOp
        sc.setLocalProperty(Recorder.SpanProp,
          if (savedParent == 0) null else savedParent.toString)
      }
    }

  def op[T](name: String)(body: => T): T = timed(name, isOp = true)(body)
  def layer[T](name: String)(body: => T): T = timed(name, isOp = false)(body)
}

object Recorder {
  val SpanProp = "perfbench.span"
}

/** A Spark job as the traced run saw it. `site` is the call site Spark
  * gives the job's final stage, e.g. `parquet at Tables.scala:64`. */
final case class JobRec(id: Int, span: Long, site: String, sqlExec: Option[String],
                        startMs: Long, endMs: Long, stages: Seq[Int])

/** Aggregated task metrics of one completed stage. */
final case class StageRec(id: Int, name: String, tasks: Int, runMs: Long,
                          shuffleWrite: Long, spill: Long,
                          startMs: Long, endMs: Long)

/** One streaming micro-batch progress report. */
final case class BatchRec(startMs: Long, durations: Map[String, Long])

/** Collects jobs, stages and micro-batches while registered on a session.
  * Events arrive on Spark's listener bus thread; [[drain]] waits for the
  * bus to deliver everything posted so far.
  */
final class Listeners extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Recorder.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val sqlExec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.put(e.jobId, JobRec(e.jobId, span, site, sqlExec, e.time, -1L,
      e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = Option(si.taskMetrics)
    stages.put(si.stageId, StageRec(si.stageId, si.name, si.numTasks,
      tm.map(_.executorRunTime).getOrElse(0L),
      tm.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      tm.map(_.diskBytesSpilled).getOrElse(0L),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L)))
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchAccess.drain(sc)
}

object Sites {
  private val pin = Seq("localCheckpoint at", "checkpoint at", "persist at", "cache at")
  private val collect = Seq("collect at", "count at", "take at", "first at",
    "head at", "collectAsList at", "toLocalIterator at", "isEmpty at",
    "show at", "reduce at", "treeAggregate at", "aggregate at", "max at",
    "min at", "sum at", "takeOrdered at", "top at", "foreach at",
    "foreachPartition at", "getNumPartitions at")
  private val write = Seq("save at", "parquet at", "json at", "csv at",
    "text at", "orc at", "insertInto at", "saveAsTable at", "saveAsTextFile at")

  /** Classifies a job by the call site of its final stage:
    * `parquet_infer` is a parquet read that runs outside any SQL execution
    * (the footer/schema job `spark.read.parquet` launches), `write` a
    * save of any kind, `pin` a checkpoint or cache, `collect` any other
    * action that returns rows to the caller. A job launched by the
    * benchmark's own execution step (`inExec`: the `noop` write that
    * stands in for fetching the result) is `collect`, not `write`. */
  def classify(j: JobRec, inExec: Boolean): String =
    if (j.site.startsWith("parquet at") && j.sqlExec.isEmpty) "parquet_infer"
    else if (pin.exists(j.site.startsWith)) "pin"
    else if (inExec) "collect"
    else if (write.exists(j.site.startsWith)) "write"
    else if (collect.exists(j.site.startsWith)) "collect"
    else "other"

  /** Adaptive execution runs each query stage as a job of its own, whose
    * call site is a thread-pool frame; such a job takes the class of the
    * other jobs of its SQL execution. `execSpans` are the ids of the
    * benchmark's `exec` spans. */
  def classifyAll(jobs: Seq[JobRec], execSpans: Set[Long]): Map[Int, String] = {
    val own = jobs.map(j => j.id -> classify(j, execSpans(j.span))).toMap
    val byExec = jobs.filter(j => j.sqlExec.isDefined && own(j.id) != "other")
      .groupBy(_.sqlExec.get).map { case (e, js) => e -> own(js.maxBy(_.id).id) }
    jobs.map { j =>
      j.id -> (if (own(j.id) == "other") j.sqlExec.flatMap(byExec.get).getOrElse("other")
               else own(j.id))
    }.toMap
  }

  val classes: Seq[String] = Seq("parquet_infer", "pin", "collect", "write", "other")
}
