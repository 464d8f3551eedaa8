package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The benchmark's JVM half: a single-threaded closed-loop client of the
  * engine. It starts the session once, in this fresh JVM (`setup_s`),
  * runs one untimed check pass, then timed passes of the workload's
  * operations until `--seconds` have gone by (at least three; when
  * traced, one unrecorded pass and then four). It
  * writes one JSON record (`--out`) and, when tracing, the spans
  * (`--spans`). `run.py` generates the inputs and starts this.
  *
  * A traced run (`--trace 1`) alternates untraced passes and passes with
  * the listeners registered, and reports the difference of the two median
  * pass times as its own overhead.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, inputs: String, root: String,
                        out: String, spans: Option[String]) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("inputs"), m("root"), m("out"),
      m.get("spans"))
  }

  /** A session with graft.Bench's confs on `local[cores]`; every scratch
    * location points inside the run's root. */
  def session(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    s.stop()
  }

  /** One result of one operation run. */
  final case class Sample(pass: Int, traced: Boolean, op: String, kind: String,
                          seconds: Double, ok: Boolean)

  private val jvmStart = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.2fs $what")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    phase("start")
    val failures = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

    // ---- setup: the first session start plus a warm-up job, in a fresh
    // JVM, so class loading and static initialisation count as users pay them
    val setupStart = System.nanoTime()
    val spark = session(a.cores, a.root)
    spark.range(0, 200000, 1, a.cores).selectExpr("id % 97 AS k", "id")
      .groupBy("k").count().collect()
    val setupSecs = (System.nanoTime() - setupStart) / 1e9
    phase("setup done")
    val sc = spark.sparkContext
    val rec = new Recorder(sc)
    val workload = Workloads(a.workload, spark, rec, a.inputs, a.root, a.seed)

    def runOp(op: Op, pass: Int, checked: Boolean): Sample = {
      attempted += 1
      val t = System.nanoTime()
      val result =
        try Right(rec.op(op.name)(op.body()))
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val secs = (System.nanoTime() - t) / 1e9
      val verdict = result.flatMap { out =>
        if (!checked) Right(())
        else (try op.check(out) catch {
          case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }).toLeft(())
      }
      verdict.left.foreach { why =>
        failed += 1
        failures.getOrElseUpdate(op.name, why.take(500))
        System.err.println(s"[perfbench] FAILED ${op.name} (pass $pass): $why")
      }
      Sample(pass, rec.tracing, op.name, op.kind, secs, verdict.isRight)
    }

    // ---- untimed check pass ------------------------------------------
    val calib = mutable.ArrayBuffer(Calibration.run())
    val checkStart = System.nanoTime()
    workload.ops(0).foreach(op => runOp(op, 0, checked = true))
    val checkSecs = (System.nanoTime() - checkStart) / 1e9
    phase("check pass done")

    // ---- timed passes --------------------------------------------------
    val samples = mutable.ArrayBuffer.empty[Sample]
    val commitStats = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val listeners = new Listeners
    var pass = 0
    var passGcMs = Map.empty[Int, Long]
    // Traced runs interleave untraced and traced passes in ABBA order, so a
    // drift over the run (JIT, caches) falls on both halves alike and their
    // difference is the tracing cost.
    def setTraced(on: Boolean): Unit = if (on != rec.tracing) {
      rec.setTracing(on)
      if (on) {
        sc.addSparkListener(listeners)
        spark.streams.addListener(listeners.streaming)
      } else {
        listeners.drain(sc)
        sc.removeSparkListener(listeners)
        spark.streams.removeListener(listeners.streaming)
      }
    }
    // The first timed pass still runs partly cold (JIT). Untraced, the
    // per-operation median of three or more passes leaves it out. Traced,
    // it is run but not recorded, as it would fall on the untraced half
    // alone.
    val warmPasses = if (a.trace) 1 else 0
    val minPasses = warmPasses + (if (a.trace) 4 else 3)
    val start = System.nanoTime()
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < a.seconds) {
      pass += 1
      val recorded = pass > warmPasses
      val traced = recorded && a.trace && (pass - warmPasses) % 4 >= 2 // U T T U ...
      setTraced(traced)
      val gc0 = gcMs
      workload.ops(pass).foreach { op =>
        val before = if (traced) op.table.map(Workloads.fileBytes).getOrElse(0L) else 0L
        val sample = runOp(op, pass, checked = false)
        if (recorded) samples += sample
        if (traced) op.table.foreach { t =>
          val v = graft.ops.VersionedTable.latestVersion(t)
          val acts = graft.ops.VersionedTable.commitActions(t, v)
          val files = acts.addedData.size + acts.addedDvs.size + acts.cdcFiles.size
          val written = Workloads.fileBytes(t) - before
          commitStats += ((files, written, op.userBytes))
        }
      }
      passGcMs += pass -> (gcMs - gc0)
      calib += Calibration.run()
    }
    setTraced(false)

    phase("timed passes done")
    val spans =
      if (a.trace) Metrics.spans(rec, listeners) else Nil
    val perLayer =
      if (a.trace) Metrics.perLayer(a.cores, samples.toSeq, spans,
        commitStats.toSeq, passGcMs)
      else Map.empty[String, (Double, String)]
    val endToEnd = Metrics.endToEnd(a.workload, samples.toSeq, setupSecs,
      workload.inputSizes)

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload,
      "seed" -> a.seed,
      "trace" -> a.trace,
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "failed_frac" -> failed.toDouble / attempted.max(1L),
      "failed_ops" -> failures.toSeq.map { case (k, v) => Map("op" -> k, "why" -> v) },
      "passes" -> samples.map(_.pass).distinct.size,
      "ops_per_pass" -> workload.ops(0).size,
      "check_pass_s" -> checkSecs,
      "pass_sums_s" -> samples.groupBy(_.pass).toSeq.sortBy(_._1)
        .map { case (_, v) => v.map(_.seconds).sum },
      "host_calib_s" -> calib.toSeq,
      "env" -> Map(
        "nproc" -> a.cores,
        "cores" -> sc.defaultParallelism,
        "master" -> sc.master,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(_.startsWith("-Xm")),
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version")),
      "inputs" -> workload.inputSizes,
      "workload_info" -> workload.extra,
      "metrics" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "op_seconds" -> samples.filter(_.ok).groupBy(_.op).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Stats.median(v.map(_.seconds).toSeq) }.toMap)
    Files.writeString(Paths.get(a.out), Json.write(record) + "\n")
    a.spans.foreach { p =>
      Files.writeString(Paths.get(p), Json.write(spans.map(s => mutable.LinkedHashMap(
        "id" -> s.id, "op" -> s.op, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end) ++ s.attrs)) + "\n")
    }
    phase("record written")
    stop(spark)
    phase("session stopped")
    sys.exit(0)
  }
}

/** A fixed single-threaded compute kernel (MD5 over a 64 KiB buffer),
  * timed between passes. It does not touch the engine; its times show how
  * fast the host ran during the run, to tell a slow host from a slow
  * engine when comparing records. */
object Calibration {
  def run(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = Array.tabulate[Byte](65536)(i => (i * 31).toByte)
    val t = System.nanoTime()
    var i = 0
    while (i < 600) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it, as
    * (value, percentile, samples). With 20 or fewer samples no percentile
    * above the median has 10 beyond it, so the maximum is reported, at
    * percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (Double.NaN, 100.0, 0)
    else if (n <= 20) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
