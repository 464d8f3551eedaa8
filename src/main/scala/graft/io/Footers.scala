package graft.io

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** Parquet schemas read from file footers on the driver, so a read of
  * known files launches no Spark job.
  *
  * Without a supplied schema every `spark.read.parquet` runs a
  * schema-inference job before it returns — a trivial local job costs
  * 34–46 ms, more than the footer reads it does (BENCH_NOTES.md). The
  * schemas here are what that job would return: each footer goes
  * through Spark's own conversion (`readSchemaFromFooter`, which prefers
  * the row schema a Spark writer stored, under the session's parquet
  * confs such as `nanosAsLong`), and several footers fold with
  * `StructType.merge` in the order given, as the `mergeSchema` job
  * folds them. The cost is one footer open per file, one after another
  * on the driver.
  */
object Footers {

  /** The schema `spark.read.option("mergeSchema", "true").parquet(files)`
    * reports, read from the footers of `files` (data files, not
    * directories): the merged footer schemas with every field nullable,
    * as a file relation makes them. Throws FileNotFoundException for a
    * missing file or an empty list.
    */
  def schema(spark: SparkSession, files: Seq[String]): StructType = {
    if (files.isEmpty)
      throw new FileNotFoundException("no parquet files to read a schema from")
    val conf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    Bridge.asNullable(files.map { f =>
      val in = HadoopInputFile.fromPath(new Path(f), conf)
      val reader = ParquetFileReader.open(in)
      val meta = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(in.getPath, meta), converter)
    }.reduceLeft(Bridge.mergeSchemas(_, _, caseSensitive)))
  }

  /** The data file whose footer Spark's non-merging inference reads for
    * `path`: the file itself or, for a directory, its first data file by
    * name, depth first (`_*` and `.*` entries skipped, as Spark's file
    * index skips them). Throws FileNotFoundException naming `path` when
    * there is none.
    */
  def firstDataFile(spark: SparkSession, path: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def first(p: Path): Option[FileStatus] =
      fs.listStatus(p).filter { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.getName).iterator
        .flatMap(s => if (s.isFile) Some(s) else first(s.getPath))
        .nextOption()
    (if (fs.exists(root)) first(root) else None)
      .map(_.getPath.toString)
      .getOrElse(throw new FileNotFoundException(
        s"no parquet data file at $path"))
  }
}
