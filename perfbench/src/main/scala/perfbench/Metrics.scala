package perfbench

import scala.jdk.CollectionConverters._

import perfbench.Main.Sample

/** Turns samples and spans into named metrics, each a (value, unit). */
object Metrics {
  type Named = Map[String, (Double, String)]

  /** Peak resident set of this JVM, from /proc (Linux). */
  def peakRssMb: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Throwable => Double.NaN }

  /** The time of one pass: the sum over the pass's operations of each
    * operation's median time across passes. Only passes where every
    * operation succeeded count (a failed operation is never reported as a
    * time); NaN when there is none. */
  def passSeconds(samples: Seq[Sample]): Double = {
    val good = samples.groupBy(_.pass).values.filter(_.forall(_.ok)).flatten.toSeq
    if (good.isEmpty) Double.NaN
    else good.groupBy(_.op).values.map(v => Stats.median(v.map(_.seconds))).sum
  }

  private def okSecs(samples: Seq[Sample], kind: String): Seq[Double] =
    samples.filter(s => s.ok && s.kind == kind).map(_.seconds)

  private def tailOf(prefix: String, xs: Seq[Double]): Named = {
    val (v, pct, n) = Stats.tail(xs)
    Map(s"${prefix}_tail_s" -> (v, "s"), s"${prefix}_tail_pct" -> (pct, "%"),
      s"${prefix}_tail_n" -> (n.toDouble, "count"))
  }

  /** The end-to-end metrics of an untraced measurement. */
  def endToEnd(workload: String, all: Seq[Sample], setupS: Double,
               inputs: Map[String, Any]): Named = {
    val samples = all.filterNot(_.traced)
    val passS = passSeconds(samples)
    val common: Named = Map(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (passS, "s"),
      "op_p50_s" -> (Stats.median(samples.filter(_.ok).map(_.seconds)), "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"))
    val specific: Named = workload match {
      case "mapreduce_text" =>
        val mb = inputs("corpus_bytes").asInstanceOf[Long] / (1024.0 * 1024.0)
        def op(n: String) = Stats.median(samples.filter(s => s.ok && s.op == n).map(_.seconds))
        Map("text_mb_s" -> (3 * mb / passS, "MB/s"),
          "wordcount_s" -> (op("wordcount"), "s"),
          "invindex_s" -> (op("invindex"), "s"),
          "mapreduce_api_s" -> (op("mapreduce_api"), "s"))
      case "batch_queries" =>
        val q = okSecs(samples, "query")
        Map("query_p50_s" -> (Stats.median(q), "s"),
          "load_p50_s" -> (Stats.median(okSecs(samples, "load")), "s")) ++ tailOf("query", q)
      case "write_path" =>
        val c = okSecs(samples, "commit")
        val g = okSecs(samples, "gate")
        Map("commit_p50_s" -> (Stats.median(c), "s"),
          "read_p50_s" -> (Stats.median(okSecs(samples, "read")), "s"),
          "upsert_p50_s" -> (Stats.median(okSecs(samples, "upsert")), "s"),
          "gate_p50_s" -> (Stats.median(g), "s")) ++
          tailOf("commit", c) ++ tailOf("gate", g)
      case _ => Map.empty
    }
    common ++ specific
  }

  /** The benchmark's spans plus one span per Spark job (parent: the span
    * open on the thread that launched it), per completed stage (parent:
    * its job) and per streaming micro-batch (parent: the operation it ran
    * in). */
  def spans(rec: Recorder, l: Listeners): Seq[Span] = {
    val own = rec.recorded
    val opOf = own.map(s => s.id -> s.op).toMap
    val ops = own.filter(s => s.id == s.op)
    val jobs = l.jobs.values.asScala.toSeq.sortBy(_.id)
    val classes = Sites.classifyAll(jobs, own.filter(_.name == "exec").map(_.id).toSet)
    val stages = l.stages.asScala
    val jobSpans = jobs.map { j =>
      val id = rec.nextId()
      val js = Span(id, opOf.getOrElse(j.span, 0L), j.span, "spark.job",
        rec.relNs(j.startMs), rec.relNs(if (j.endMs < 0) j.startMs else j.endMs),
        Map("job_id" -> j.id, "site" -> j.site, "class" -> classes(j.id),
          "sql_execution" -> j.sqlExec,
          "tasks" -> j.stages.flatMap(stages.get).map(_.tasks).sum))
      val ss = j.stages.flatMap(stages.get).map { s =>
        Span(rec.nextId(), js.op, id, "spark.stage", rec.relNs(s.startMs),
          rec.relNs(s.endMs), Map("stage_id" -> s.id, "stage_name" -> s.name,
            "tasks" -> s.tasks, "run_ms" -> s.runMs,
            "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill))
      }
      js +: ss
    }.flatten
    val batchSpans = l.batches.asScala.toSeq.map { b =>
      val start = rec.relNs(b.startMs)
      val trigger = b.durations.getOrElse("triggerExecution", 0L)
      val op = ops.find(o => o.start <= start && start <= o.end).map(_.id).getOrElse(0L)
      Span(rec.nextId(), op, op, "stream.batch", start, start + trigger * 1000000L,
        b.durations.map { case (k, v) => s"${k}_ms" -> v })
    }
    (own ++ jobSpans ++ batchSpans).sortBy(s => (s.start, s.id))
  }

  /** The per-layer metrics of the traced half of a run. `*.s`, `*.jobs`
    * and `jobs.by_site.*` are per pass; `io.*` per call; `versioned.*`
    * per commit or read; `stream.*_s` per micro-batch, `stream.lifecycle_s`
    * per streaming gate. */
  def perLayer(cores: Int, samples: Seq[Sample], spans: Seq[Span],
               commits: Seq[(Int, Long, Long)], gcMsByPass: Map[Int, Long]): Named = {
    val traced = samples.filter(_.traced)
    val tracedPasses = traced.map(_.pass).distinct
    val p = tracedPasses.size.max(1).toDouble
    val byName = spans.groupBy(_.name)
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = byName.getOrElse("spark.job", Nil)
    val stagesOf = byName.getOrElse("spark.stage", Nil).groupBy(_.parent)
    def layerOf(j: Span): String = byId.get(j.parent).map(_.name).getOrElse("")
    def named(n: String) = byName.getOrElse(n, Nil)
    def meanSecs(n: String) = {
      val xs = named(n)
      if (xs.isEmpty) 0.0 else xs.map(_.seconds).sum / xs.size
    }
    def sumSecs(n: String) = named(n).map(_.seconds).sum
    def jobsIn(n: String) = jobs.filter(j => layerOf(j) == n)
    def perCall(count: Double, n: String) =
      if (named(n).isEmpty) 0.0 else count / named(n).size
    def tasks(js: Seq[Span]) = js.map(_.attrs("tasks").asInstanceOf[Int]).sum.toDouble
    def stageSum(js: Seq[Span], key: String) =
      js.flatMap(j => stagesOf.getOrElse(j.id, Nil))
        .map(_.attrs(key).asInstanceOf[Long]).sum.toDouble

    val exec = jobsIn("exec")
    val execSecs = sumSecs("exec")
    val batches = named("stream.batch")
    def batchMean(k: String) =
      if (batches.isEmpty) 0.0
      else batches.map(_.attrs.getOrElse(s"${k}_ms", 0L).asInstanceOf[Long]).sum / 1000.0 / batches.size
    val streamGates = named("stream.batch").groupBy(_.op).toSeq.flatMap { case (op, bs) =>
      byId.get(op).map(o => o.seconds - bs.map(_.seconds).sum)
    }
    val written = commits.filter(_._3 > 0)
    val untracedPass = passSeconds(samples.filterNot(_.traced))
    val tracedPass = passSeconds(traced)
    val bySite = jobs.groupBy(_.attrs("class").asInstanceOf[String])

    Map(
      "cores" -> (cores.toDouble, "count"),
      "io.tables_load_s" -> (meanSecs("io.tables_load"), "s"),
      "io.tables_load_jobs" -> (perCall(jobsIn("io.tables_load").size, "io.tables_load"), "count"),
      "io.text_read_s" -> (meanSecs("io.text_read"), "s"),
      "io.text_read_tasks" -> (perCall(tasks(jobsIn("io.text_read")), "io.text_read"), "count"),
      "build.s" -> (sumSecs("build") / p, "s"),
      "build.jobs" -> (jobsIn("build").size / p, "count"),
      "plan.s" -> (sumSecs("plan") / p, "s"),
      "exec.s" -> (execSecs / p, "s"),
      "exec.jobs" -> (exec.size / p, "count"),
      "exec.stages" -> (exec.map(j => stagesOf.getOrElse(j.id, Nil).size).sum / p, "count"),
      "exec.tasks" -> (tasks(exec) / p, "count"),
      "exec.task_busy_frac" ->
        (if (execSecs == 0) 0.0 else stageSum(exec, "run_ms") / 1000.0 / (execSecs * cores), "frac"),
      "exec.shuffle_write_mb" -> (stageSum(exec, "shuffle_write_bytes") / p / 1048576.0, "MB"),
      "exec.spill_mb" -> (stageSum(exec, "spill_bytes") / p / 1048576.0, "MB"),
      "versioned.commit_s" -> (meanSecs("versioned.commit"), "s"),
      "versioned.commit_jobs" ->
        (perCall(jobsIn("versioned.commit").size, "versioned.commit"), "count"),
      "versioned.files_per_commit" ->
        (if (commits.isEmpty) 0.0 else commits.map(_._1).sum.toDouble / commits.size, "count"),
      "versioned.bytes_written_per_user_byte" ->
        (if (written.isEmpty) 0.0 else written.map(_._2).sum.toDouble / written.map(_._3).sum, "ratio"),
      "versioned.read_s" -> (meanSecs("versioned.read"), "s"),
      "stream.batches" -> (batches.size / p, "count"),
      "stream.batch_s" -> (batchMean("triggerExecution"), "s"),
      "stream.addBatch_s" -> (batchMean("addBatch"), "s"),
      "stream.walCommit_s" -> (batchMean("walCommit"), "s"),
      "stream.latestOffset_s" -> (batchMean("latestOffset"), "s"),
      "stream.queryPlanning_s" -> (batchMean("queryPlanning"), "s"),
      "stream.lifecycle_s" ->
        (if (streamGates.isEmpty) 0.0 else streamGates.sum / streamGates.size, "s"),
      "jvm.gc_s" -> (tracedPasses.map(gcMsByPass.getOrElse(_, 0L)).sum / 1000.0 / p, "s"),
      "trace.untraced_pass_s" -> (untracedPass, "s"),
      "trace.traced_pass_s" -> (tracedPass, "s"),
      "trace.overhead_s" -> (tracedPass - untracedPass, "s"),
      "trace.spans" -> (spans.size / p, "count")
    ) ++ Sites.classes.map(c => s"jobs.by_site.$c" -> (bySite.getOrElse(c, Nil).size / p, "count"))
  }
}
