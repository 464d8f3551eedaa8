package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.MapReduceJob
import graft.io.{Tables, TextRecords}
import graft.jobs.{InvertedIndex, WordCount}
import graft.ops.VersionedTable
import graft.queries.Q
import graft.streaming.CdcUpsert

/** One benchmark operation: a closed-loop call into the engine.
  *
  * @param kind   groups operations for the end-to-end metrics (`text`,
  *               `load`, `query`, `commit`, `read`, `upsert`, `gate`)
  * @param body   the timed call; returns the operation's output frame
  *               when it has one, for [[check]]
  * @param check  run only in the untimed check pass: `Some(reason)` when
  *               the output is wrong
  * @param table  for commits, the versioned table the commit writes
  * @param userBytes for commits, the size of the change batch committed
  */
final case class Op(name: String, kind: String,
                    body: () => Option[DataFrame],
                    check: Option[DataFrame] => Option[String] = _ => None,
                    table: Option[String] = None,
                    userBytes: Long = 0L)

trait Workload {
  /** The operations of one pass. Each pass gets fresh output locations, so
    * nothing a pass writes is read by another. */
  def ops(pass: Int): Seq[Op]
  /** Sizes of the generated inputs, for the result record. */
  def inputSizes: Map[String, Any]
  /** Workload-specific numbers for the result record. */
  def extra: Map[String, Any] = Map.empty
}

object Workloads {
  def apply(name: String, spark: SparkSession, r: Recorder, inputs: String,
            root: String, seed: Long): Workload = name match {
    case "mapreduce_text" => new TextWorkload(spark, r, inputs)
    case "batch_queries" => new QueryWorkload(spark, r, inputs, seed)
    case "write_path" => new WriteWorkload(spark, r, inputs, root)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The registry's queries by name. */
  lazy val registry: Map[String, Q] = graft.SparkEntry.all.map(q => q.name -> q).toMap

  private val mapper = new ObjectMapper()
  def readJson(path: String): JsonNode = mapper.readTree(new File(path))

  /** Planning, then execution into Spark's `noop` sink: every output column
    * is computed and nothing is written. */
  def execute(r: Recorder, df: DataFrame): Unit = {
    r.layer("plan")(df.queryExecution.executedPlan)
    r.layer("exec")(df.write.format("noop").mode("overwrite").save())
  }

  def fileBytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(g => fileBytes(g.getPath)).sum
    else f.length()
  }

  def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  def firstFailure(checks: Option[String]*): Option[String] =
    checks.collectFirst { case Some(s) => s }
}

import Workloads._

/** Order-insensitive row hashes.
  *
  * [[multiset]] is the sum of the first 8 bytes of each canonical row
  * string's MD5, the same function the generator uses for its expected
  * values. [[observed]] hashes in Spark, and is only compared between runs
  * of the same operation.
  */
object RowHash {
  def md5Long(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes("UTF-8"))).getLong
  }

  def multiset(rows: Iterator[String]): Long = rows.foldLeft(0L)(_ + md5Long(_))

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** `df` with an observation of (rows, sum of row hashes mod 2^31-1,
    * xor of row hashes), computed while `df` executes. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = df.col(s"`${f.name.replace("`", "``")}`")
      if (hasMap(f.dataType)) to_json(struct(c.as(s"c$i"))) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)).as("hsum"),
      coalesce(bit_xor(h), lit(0L)).as("hxor")), obs)
  }
}

/** Thrown by an operation whose output does not match what it must be. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Row count and order-insensitive hash of each operation's output: the
  * first run (in the untimed check pass) records them, and every later
  * run must reproduce them, or it counts as failed. */
final class Fingerprints {
  private val seen = scala.collection.mutable.Map.empty[String, String]

  /** Executes `df` like [[Workloads.execute]], observing its output. */
  def execute(r: Recorder, name: String, df: DataFrame): Unit = {
    val (obs, o) = RowHash.observed(df)
    Workloads.execute(r, obs)
    val m = o.get
    val fp = s"${m("rows")}/${m("hsum")}/${m("hxor")}"
    seen.get(name) match {
      case None => seen(name) = fp
      case Some(first) if first != fp =>
        throw new CheckFailed(s"$name rows/hash: got $fp, expected $first")
      case _ =>
    }
  }
}

/** Word count typed through the engine's general mapper/reducer API. */
object TypedWordCount {
  val mapper: Iterator[String] => Iterator[(String, Long)] =
    _.flatMap(_.split(' ').iterator.filter(_.nonEmpty).map(w => (w, 1L)))
  val reducer: (String, Iterator[Long]) => Long = (_, vs) => vs.sum
}

// ------------------------------------------------------------------- //

/** The paper's own jobs over a seeded plain-text corpus: read the corpus
  * with the reference's record semantics, then word count, inverted index,
  * and a word count written against the typed MapReduce API. */
final class TextWorkload(spark: SparkSession, r: Recorder, inputs: String)
    extends Workload {
  private val path = s"$inputs/corpus.txt"
  private val expected = readJson(s"$inputs/corpus_expected.json")

  def inputSizes: Map[String, Any] = Map(
    "corpus_bytes" -> expected.get("bytes").asLong,
    "corpus_lines" -> expected.get("lines").asLong,
    "corpus_tokens" -> expected.get("total_tokens").asLong,
    "corpus_distinct_words" -> expected.get("distinct_words").asLong)

  private def records(): DataFrame =
    r.layer("io.text_read")(TextRecords.read(spark, path))

  private def job(build: DataFrame => DataFrame)(): Option[DataFrame] = {
    val recs = records()
    val df = r.layer("build")(build(recs))
    execute(r, df)
    Some(df)
  }

  private def typed(recs: DataFrame): DataFrame = {
    import spark.implicits._
    MapReduceJob(TypedWordCount.mapper, TypedWordCount.reducer)
      .run(recs.select("line").as[String]).toDF("word", "cnt")
  }

  /** Exact tallies: total tokens, distinct words, count per word. */
  private def checkCounts(out: Option[DataFrame]): Option[String] = {
    val rows = out.get.select(col("word"), col("cnt").cast("long")).collect()
    firstFailure(
      mismatch("distinct words", rows.length.toLong, expected.get("distinct_words").asLong),
      mismatch("total tokens", rows.map(_.getLong(1)).sum, expected.get("total_tokens").asLong),
      mismatch("per-word counts hash",
        RowHash.multiset(rows.iterator.map(x => s"${x.getString(0)}|${x.getLong(1)}")),
        expected.get("counts_hash").asLong))
  }

  /** Postings total equals the token total, every posting list strictly
    * increases, and a seeded sample of words matches the generator's
    * reference-semantics offsets exactly. */
  private def checkIndex(out: Option[DataFrame]): Option[String] = {
    val rows = out.get.select(col("word"), col("postings")).collect()
    val want = expected.get("sample_offsets")
    val got = rows.iterator.map(x => x.getString(0) -> x.getSeq[Long](1)).toMap
    val offsets = want.fieldNames.asScala.map { w =>
      mismatch(s"offsets of '$w'", got.getOrElse(w, Nil),
        want.get(w).elements.asScala.map(_.asLong).toSeq)
    }.collectFirst { case Some(s) => s }
    val unordered = got.collectFirst {
      case (w, p) if p.iterator.zip(p.iterator.drop(1)).exists { case (x, y) => x >= y } => w
    }
    firstFailure(
      mismatch("indexed words", got.size.toLong, expected.get("distinct_words").asLong),
      mismatch("total postings", got.valuesIterator.map(_.size.toLong).sum,
        expected.get("total_tokens").asLong),
      unordered.map(w => s"postings of '$w' not strictly increasing"),
      offsets)
  }

  def ops(pass: Int): Seq[Op] = Seq(
    Op("wordcount", "text", job(WordCount(_)), checkCounts),
    Op("invindex", "text", job(InvertedIndex(_)), checkIndex),
    Op("mapreduce_api", "text", job(typed), checkCounts))
}

// ------------------------------------------------------------------- //

/** A fixed sample of registry batch queries from two strata, run in a
  * seeded order over a seeded fixture, plus a `Tables.load` of every
  * fixture table. */
final class QueryWorkload(spark: SparkSession, r: Recorder, inputs: String,
                          seed: Long) extends Workload {
  private val fps = new Fingerprints

  val sample: Seq[Q] =
    new scala.util.Random(seed).shuffle(QueryWorkload.Floor ++ QueryWorkload.Pinned)
      .map(registry)

  def inputSizes: Map[String, Any] =
    Tables.all.map(t => s"$t.parquet" -> fileBytes(s"$inputs/$t.parquet")).toMap

  override def extra: Map[String, Any] = Map("queries" -> sample.map(_.name))

  def ops(pass: Int): Seq[Op] =
    Tables.all.map { t =>
      Op(s"load:$t", "load", () => {
        r.layer("io.tables_load")(Tables.load(spark, inputs, t)); None
      })
    } ++ sample.map { q =>
      Op(s"query:${q.name}", "query", () => {
        fps.execute(r, q.name, r.layer("build")(q.fn(spark, inputs)))
        None
      })
    }
}

object QueryWorkload {
  /** Relational and text queries whose cost is mostly the per-job floor. */
  val Floor: Seq[String] = Seq("q01_pricing_summary", "q30_wordcount")
  /** A pinned `graft.ext` operator that launches many jobs while it builds
    * its DataFrame. */
  val Pinned: Seq[String] = Seq("q59_dedup_clusters")
}

// ------------------------------------------------------------------- //

/** Writes beside reads: seeded change batches committed to a versioned
  * table, each followed by a read-after-write; two streaming CDC upsert
  * batches, the second merged into the snapshot the first wrote; and the
  * q54 streaming gate. */
final class WriteWorkload(spark: SparkSession, r: Recorder, inputs: String,
                          root: String) extends Workload {
  private val spec = readJson(s"$inputs/changes.json")
  private val steps = spec.get("steps").elements.asScala.toSeq
  private val fps = new Fingerprints
  private val acctSchema = StructType(Seq(
    StructField("id", LongType), StructField("grp", IntegerType),
    StructField("cents", LongType), StructField("name", StringType)))
  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  val gate: Q = registry("q54_streaming_hourly")

  def inputSizes: Map[String, Any] = Map(
    "acct_base_bytes" -> fileBytes(s"$inputs/acct_base.parquet"),
    "change_batches" -> (steps.size - 1),
    "events.parquet" -> fileBytes(s"$inputs/events.parquet"))

  private def batch(file: String): DataFrame =
    spark.read.schema(acctSchema).parquet(s"$inputs/$file")

  private def readOp(name: String, tbl: String, v: Int, expect: JsonNode): Op =
    Op(name, "read", () => {
      val df = r.layer("versioned.read")(VersionedTable.readVersion(spark, tbl, v))
      execute(r, df)
      Some(df)
    }, out => {
      val rows = out.get.select("id", "grp", "cents", "name").collect()
      firstFailure(
        mismatch(s"$name rows", rows.length.toLong, expect.get("rows").asLong),
        mismatch(s"$name hash", RowHash.multiset(rows.iterator.map(x =>
          s"${x.getLong(0)}|${x.getInt(1)}|${x.getLong(2)}|${x.getString(3)}")),
          expect.get("hash").asLong))
    })

  private def cdcOp(name: String, tbl: String, v: Int, step: JsonNode): Op =
    Op(name, "read", () => {
      val df = r.layer("versioned.read")(VersionedTable.readCdc(spark, tbl, v))
      execute(r, df)
      Some(df)
    }, out => {
      val byChange = out.get.groupBy("_change").count().collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      firstFailure(
        mismatch(s"$name removed", byChange.getOrElse("removed", 0L), step.get("cdc_removed").asLong),
        mismatch(s"$name added", byChange.getOrElse("added", 0L), step.get("cdc_added").asLong))
    })

  def ops(pass: Int): Seq[Op] = {
    val tbl = s"$root/tables/p$pass/acct"
    val snap = s"$root/tables/p$pass/cdc_snapshot"
    val commits = steps.zipWithIndex.flatMap { case (step, v) =>
      val kind = step.get("kind").asText
      val file = Option(step.get("file")).map(_.asText)
      val pred = if (file.isEmpty)
        col("id") >= step.get("lo").asLong && col("id") < step.get("hi").asLong
      else null
      val commit = Op(s"commit:v$v:$kind", "commit", () => {
        r.layer("versioned.commit") {
          kind match {
            case "init" =>
              VersionedTable.init(batch(file.get), tbl)
              VersionedTable.enableChangeDataFeed(tbl)
            case "append" => VersionedTable.append(batch(file.get), tbl)
            case "merge" => VersionedTable.merge(spark, tbl, batch(file.get), Seq("id"))
            case "dv_delete" => VersionedTable.deleteWhereDV(spark, tbl, pred)
          }
        }
        None
      }, table = Some(tbl), userBytes = file.map(f => fileBytes(s"$inputs/$f")).getOrElse(0L))
      val read = readOp(s"read:v$v", tbl, v, step.get("expect"))
      val cdc =
        if (kind == "merge") Seq(cdcOp(s"read_cdc:v$v", tbl, v, step))
        else Nil
      Seq(commit, read) ++ cdc
    }
    val cdcFiles = spec.get("cdc_files").elements.asScala.map(_.asText).toSeq
    val upserts = cdcFiles.zipWithIndex.map { case (f, i) =>
      Op(s"upsert:b$i", "upsert", () => {
        r.layer("stream.merge_batch")(CdcUpsert.mergeBatch(spark,
          spark.read.schema(eventSchema).parquet(s"$inputs/$f"), snap))
        None
      })
    }
    val expectSnap = spec.get("cdc_expect")
    val snapRead = Op("read:cdc_snapshot", "read", () => {
      val df = r.layer("versioned.read")(spark.read.parquet(snap))
      execute(r, df)
      Some(df)
    }, out => {
      val rows = out.get.select(col("user_id"), col("last_event_id")).collect()
      firstFailure(
        mismatch("snapshot rows", rows.length.toLong, expectSnap.get("rows").asLong),
        mismatch("snapshot hash", RowHash.multiset(rows.iterator.map(x =>
          s"${x.getLong(0)}|${x.getLong(1)}")), expectSnap.get("hash").asLong))
    })
    val gateOp = Op(s"gate:${gate.name}", "gate", () => {
      fps.execute(r, gate.name, r.layer("build")(gate.fn(spark, inputs)))
      None
    })
    commits ++ upserts ++ Seq(snapRead, gateOp)
  }
}
