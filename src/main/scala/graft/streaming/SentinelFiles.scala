package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

import scala.jdk.CollectionConverters._

/** Driver-side writer for the tiny sentinel parquet files the finite
  * streaming gates plant to flush their watermarks (round 15, guide §6).
  *
  * Before this existed every gate wrote its 1–2 constant sentinel rows
  * through a full Spark job (`Seq(..).toDF.coalesce(1).write.parquet`):
  * job scheduling, a task, the Hadoop commit protocol (temporary dir +
  * rename + _SUCCESS) — ~0.1–0.3s of pure overhead per gate, ~24 gates,
  * inside the timed region. A sentinel is a constant, driver-known row;
  * writing it with a bare ParquetWriter is the same file for the price
  * of a local file write. Still recomputed on every invocation — nothing
  * is cached across runs — only the Spark-job machinery is gone.
  *
  * The schema is the raw events layout ([[EventStreams.rawSchema]]):
  * int64 columns exactly as the Spark job produced them (ts carries
  * epoch NANOS, the unit the shared reader guard expects from sentinel
  * files), binary UTF8 for the strings. StreamingSpec pins read-back
  * equivalence of the two writers.
  */
object SentinelFiles {

  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 event_id;
      |  optional int64 ts;
      |  optional int64 user_id;
      |  optional binary event_type (UTF8);
      |  optional double value;
      |  optional binary props (UTF8);
      |}""".stripMargin)

  /** Write `rows` as one small parquet file (`sentinel.parquet`) under
    * `dir`, in the raw events schema, without launching a Spark job.
    * Replaces an earlier `sentinel.parquet` but never touches other files:
    * any other `*.parquet` in `dir` would match the gates' `*.parquet`
    * glob and count its sentinel rows twice, so it throws
    * IllegalStateException naming them instead.
    */
  def writeEvents(dir: java.nio.file.Path,
                  rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    val stray = {
      val ls = java.nio.file.Files.list(dir)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && n != "sentinel.parquet")
        .toSeq.sorted
      finally ls.close()
    }
    if (stray.nonEmpty)
      throw new IllegalStateException(
        s"sentinel dir $dir already holds ${stray.mkString(", ")}; the " +
          "*.parquet glob would read them with the sentinel")
    val file = dir.resolve("sentinel.parquet")
    java.nio.file.Files.deleteIfExists(file)
    val conf = new Configuration()
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val writer = ExampleParquetWriter.builder(out)
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts, uid, tpe, v, props) =>
      val g = factory.newGroup()
      g.add("event_id", id)
      g.add("ts", ts)
      g.add("user_id", uid)
      g.add("event_type", tpe)
      g.add("value", v)
      g.add("props", props)
      writer.write(g)
    } finally writer.close()
  }

  /** The standard single flush-sentinel row (user −1, far-future ts). */
  def writeFlushSentinel(dir: java.nio.file.Path): Unit =
    writeEvents(dir,
      Seq((-1L, EventStreams.FlushSentinelNanos, -1L, "__flush", 0.0, "{}")))
}
