package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Engine.session()
    // clear any previous run's outputs: a failing query must not leave
    // stale parquet behind for the oracle compare to "pass" against
    graft.io.FsUtil.deleteRecursively(outDir)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=q128,q42 — dump a subset (dev iteration;
    // the driver always runs the full registry)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter {
        case (n, _) => names.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // one summary line; the exit code stays 0 either way: where the
    // reference corpus is absent, q34/q35/q128 fail whatever the code,
    // and a non-zero exit would mark every such run as broken
    System.err.println(s"[verify] ${selected.size - failed.size} ok, " +
      s"${failed.size} failed: ${failed.mkString(",")}")
    spark.stop()
  }
}
