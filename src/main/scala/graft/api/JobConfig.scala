package graft.api

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Config-file job dispatch — the reference's `input_info.json` entry
  * point (`input_info.json:1-8` names the input file, the mapper/reducer
  * scripts, and the process counts; `master.py:178-198` reads it and
  * launches the job). Re-expressed Spark-first: the spec stays data (a
  * JSON object, field-compatible with the reference's), but the jobs it
  * can name are REGISTERED Scala pipelines. Arbitrary-code-by-filename
  * (the reference scp's Python scripts onto workers,
  * `master.py:63-81`) is an explicit non-goal — a named registry gives
  * the same "bring your own job" workflow without remote code loading,
  * and `MapReduceJob` covers the fully-general mapper/reducer shape for
  * jobs registered from Scala.
  *
  * Field mapping (reference → here):
  *  - `input_file_location` → the text corpus path, read through
  *    `TextRecords.read` (offset quirks and all); relative paths resolve
  *    against the config file's directory, so the reference's own
  *    `input_info.json` loads unmodified.
  *  - `mapper_file`/`reducer_file` → the job name:
  *    "mapper_word_count.py" / "mapper_inverted_index.py" resolve to the
  *    built-in jobs; a bare `job` field also works and wins when both
  *    are present. A mapper/reducer pair naming different jobs is a
  *    config error (the reference would just produce garbage).
  *  - `no_of_mappers` → `minPartitions` of the input read — the chunk
  *    split (`master.py:52-60`); results are partition-count-invariant
  *    by the engine's contract, so this is a parallelism floor, not a
  *    semantic. Absent means the read's default split count.
  *  - `no_of_reducers` → accepted, validated, and subsumed: reduce
  *    parallelism is `spark.sql.shuffle.partitions` + AQE coalescing,
  *    not a per-job process count (the SURVEY §2a ops 9/14 subsumption).
  *  - `project_id` → ignored (GCP provisioning is subsumed by the
  *    cluster manager).
  */
object JobConfig {

  final case class JobSpec(
      inputPath: String,
      job: String,
      mappers: Int,
      reducers: Int)

  /** A job: cleaned text records (TextRecords.read output) → result. */
  type Job = DataFrame => DataFrame

  private val builtins: Map[String, Job] = Map(
    "word_count" -> (records => graft.jobs.WordCount(records)),
    "inverted_index" -> (records => graft.jobs.InvertedIndex(records)))

  @volatile private var registry: Map[String, Job] = builtins

  /** Register a custom job under a spec-addressable name (the typed
    * replacement for the reference's bring-your-own-script slot; compose
    * with [[MapReduceJob]] for fully general mapper/reducer logic). */
  def register(name: String, job: Job): Unit = synchronized {
    registry += (name -> job)
  }

  def registeredJobs: Set[String] = registry.keySet

  /** "mapper_word_count.py" → "word_count" (same for reducer_*). */
  private def jobNameFromScript(script: String): String =
    script.stripPrefix("mapper_").stripPrefix("reducer_")
      .stripSuffix(".py")

  /** Parse a job-spec JSON file (driver-side: one small config object —
    * a plain-Java read, not a distributed scan). `no_of_mappers` and
    * `no_of_reducers` are optional; when present each must be a positive
    * integer, else an `IllegalArgumentException` names the field and the
    * config path. */
  def load(spark: SparkSession, configPath: String): JobSpec = {
    val text = new String(
      java.nio.file.Files.readAllBytes(Paths.get(configPath)), "UTF-8")
    // one tiny flat JSON object of string fields: parse with Spark's
    // bundled Jackson rather than hand-rolling or adding a dependency
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(text)
    def str(f: String): Option[String] =
      Option(node.get(f)).map(_.asText()).filter(_.nonEmpty)

    val mapperJob = str("mapper_file").map(jobNameFromScript)
    val reducerJob = str("reducer_file").map(jobNameFromScript)
    (mapperJob, reducerJob) match {
      case (Some(m), Some(r)) if m != r =>
        throw new IllegalArgumentException(
          s"mapper_file names job '$m' but reducer_file names '$r'")
      case _ =>
    }
    val job = str("job").orElse(mapperJob).getOrElse(
      throw new IllegalArgumentException(
        s"$configPath: no 'job' or 'mapper_file' field"))
    val rawInput = str("input_file_location").getOrElse(
      throw new IllegalArgumentException(
        s"$configPath: no 'input_file_location' field"))
    val input = {
      val p = Paths.get(rawInput)
      if (p.isAbsolute) rawInput
      else Paths.get(configPath).toAbsolutePath.getParent
        .resolve(rawInput).toString
    }
    // a JSON number or a numeric string (the reference writes "3")
    def count(f: String): Int =
      Option(node.get(f)).map(_.asText()).fold(0) { v =>
        v.toIntOption.filter(_ > 0).getOrElse(
          throw new IllegalArgumentException(
            s"$configPath: '$f' must be a positive integer, got '$v'"))
      }
    JobSpec(input, job, count("no_of_mappers"), count("no_of_reducers"))
  }

  def run(spark: SparkSession, spec: JobSpec): DataFrame = {
    val job = registry.getOrElse(spec.job,
      throw new IllegalArgumentException(
        s"unknown job '${spec.job}'; registered: " +
          registry.keySet.toSeq.sorted.mkString(", ")))
    job(graft.io.TextRecords.read(spark, spec.inputPath, spec.mappers))
  }

  /** Load + dispatch in one call — the `master.py main()` equivalent. */
  def run(spark: SparkSession, configPath: String): DataFrame =
    run(spark, load(spark, configPath))
}
