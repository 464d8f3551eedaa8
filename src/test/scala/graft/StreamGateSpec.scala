package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.StreamGate

/** The streaming-gate lifecycle: scratch directories never outlive a
  * run, memory-sink views rotate, and the RocksDB state confs reach the
  * stream and nothing else.
  */
class StreamGateSpec extends SparkSpec {

  private val stateKeys = Seq(
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
    "spark.sql.shuffle.partitions")

  /** Ten ids written as one parquet file under `dir`. */
  private def stage(dir: Path): Unit =
    spark.range(10).coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("in").toString)

  private def idStream(s: SparkSession, dir: Path): DataFrame =
    s.readStream.schema("id LONG").parquet(dir.resolve("in").toString)

  /** Entries of the temp dir whose names start with `prefix`. */
  private def tmpEntries(prefix: String): Seq[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toSeq
    finally ls.close()
  }

  test("scratch and checkpoint dirs are deleted after a clean run") {
    var seen = Seq.empty[Path]
    var rows = 0L
    StreamGate.withScratch("graft_sgok_ckpt", "graft_sgok_stage") {
      case dirs @ Seq(ckpt, staged) =>
        seen = dirs
        stage(staged)
        StreamGate.run(idStream(spark, staged).writeStream
          .foreachBatch((b: DataFrame, _: Long) => rows += b.count()), ckpt)
        assert(Files.exists(ckpt.resolve("offsets")))
    }
    assert(rows == 10L)
    assert(seen.size == 2 && seen.forall(d => !Files.exists(d)))
  }

  test("scratch and checkpoint dirs are deleted when foreachBatch throws") {
    var seen = Seq.empty[Path]
    val e = intercept[StreamingQueryException] {
      StreamGate.withScratch("graft_sgfail_ckpt", "graft_sgfail_stage") {
        case dirs @ Seq(ckpt, staged) =>
          seen = dirs
          stage(staged)
          StreamGate.run(idStream(spark, staged).writeStream
            .foreachBatch((_: DataFrame, _: Long) =>
              throw new IllegalStateException("sink failed")), ckpt)
      }
    }
    assert(e.getMessage.contains("sink failed"))
    assert(seen.size == 2 && seen.forall(d => !Files.exists(d)))
  }

  test("toMemory keeps one view per tag and leaves no checkpoint behind") {
    StreamGate.withScratch("graft_sgmem_stage") { case Seq(staged) =>
      stage(staged)
      val first = StreamGate.toMemory(spark, "sgmem",
        idStream(spark, staged), "append")
      assert(first.count() == 10L)
      val second = StreamGate.toMemory(spark, "sgmem",
        idStream(spark, staged).where(col("id") < 4), "append")
      assert(second.count() == 4L)
    }
    val views = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_sgmem_"))
    assert(views.length == 1, views.mkString(", "))
    assert(tmpEntries("graft_sgmem_ckpt").isEmpty)
  }

  test("rocksDbState restores set confs, including when start() throws") {
    val s = spark.newSession()
    val before = Seq(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "false", "3")
    stateKeys.zip(before).foreach { case (k, v) => s.conf.set(k, v) }
    StreamGate.withScratch("graft_sgconf_ckpt", "graft_sgconf_stage") {
      case Seq(ckpt, staged) =>
        stage(staged)
        val noAgg = idStream(s, staged).writeStream.format("memory")
          .queryName("graft_sgconf_sink").outputMode("complete")
        intercept[org.apache.spark.sql.AnalysisException] {
          StreamGate.rocksDbState(s) {
            assert(s.conf.get(stateKeys(2)) == "8")
            StreamGate.run(noAgg, ckpt)
          }
        }
    }
    stateKeys.zip(before).foreach { case (k, v) =>
      assert(s.conf.getOption(k).contains(v), k)
    }
  }

  test("rocksDbState unsets confs that were unset") {
    val s = spark.newSession()
    stateKeys.foreach(s.conf.unset)
    StreamGate.rocksDbState(s) {
      assert(stateKeys.forall(s.conf.getAll.contains))
    }
    stateKeys.foreach(k => assert(!s.conf.getAll.contains(k), k))
  }

  test("a stateful run under rocksDbState reports RocksDB state metrics") {
    val q = StreamGate.withScratch("graft_sgrdb_ckpt", "graft_sgrdb_stage") {
      case Seq(ckpt, staged) =>
        stage(staged)
        StreamGate.rocksDbState(spark) {
          StreamGate.run(idStream(spark, staged)
            .groupBy((col("id") % 2).as("k")).count()
            .writeStream.format("memory").queryName("graft_sgrdb_sink")
            .outputMode("complete"), ckpt)
        }
    }
    val metrics = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq)
      .flatMap(_.customMetrics.keySet.asScala)
    assert(metrics.exists(_.startsWith("rocksdb")), metrics.mkString(", "))
    assert(spark.table("graft_sgrdb_sink").count() == 2L)
    assert(q.recentProgress.flatMap(_.stateOperators)
      .forall(_.numShufflePartitions == 8))
  }
}
