package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text ingestion with the reference's exact record semantics
  * (`/root/reference/master.py:31-47`, SURVEY.md §1):
  *
  *  - lines that are blank (`"\n"` in the reference; `""` after Spark's
  *    newline strip) are dropped but contribute exactly 1 to the running
  *    offset (the un-reassigned `"\n"`'s length);
  *  - every other line is cleaned (chars outside `[a-zA-Z0-9 ]` deleted)
  *    and contributes `len(cleaned)` — so offsets address the concatenated
  *    *cleaned* text, not raw file bytes.
  *
  * Per-line kernel: cleaning is a plain `char` loop over the line (no
  * regex). Every kept character is a single ASCII UTF-16 unit, so dropping
  * units one at a time deletes exactly what the reference's
  * `replaceAll("[^a-zA-Z0-9 ]", "")` deletes, surrogate pairs included.
  * Pass 1 only counts kept characters (no string is built); pass 2 cleans
  * each line once and advances the offset by the cleaned length.
  *
  * Scale design: the running offset is a global prefix sum over file order.
  * A `Window.orderBy` would force all data through one partition, so we do
  * the classic two-pass partition prefix sum instead — pass 1 computes each
  * partition's (line count, offset contribution) pair (tiny: one row per
  * partition, collected to the driver), pass 2 re-streams each partition
  * with its broadcast starting offset. Both passes are narrow per-partition
  * scans; at 100 TB this is 2 reads and zero shuffles. `sc.textFile` split
  * order is deterministic (partition index = split index), which is what
  * makes the prefix sum well-defined.
  *
  * Split count: `minPartitions` 0 (the default) asks for
  * `sc.defaultParallelism` splits, so a small input keeps every core busy
  * (`sc.textFile`'s own default is `min(defaultParallelism, 2)`). Large
  * inputs split by the filesystem block size either way.
  */
object TextRecords {

  private def kept(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == ' '

  /** Number of characters of `s` that cleaning keeps. */
  private def keptLength(s: String): Int = {
    var n = 0
    var i = 0
    while (i < s.length) { if (kept(s.charAt(i))) n += 1; i += 1 }
    n
  }

  /** Deletes every character outside `[a-zA-Z0-9 ]`. */
  private[graft] def cleanLine(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (kept(c)) sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Offset contribution of a raw (newline-stripped) line. */
  private[graft] def contribution(raw: String): Long =
    if (raw.isEmpty) 1L else keptLength(raw).toLong

  /** Read a text file as the reference's record list:
    * `(line_id LONG, line STRING, offset LONG)` for each non-blank line,
    * where `line` is already cleaned and `offset` is the cumulative cleaned
    * offset of the line start.
    */
  def read(spark: SparkSession, path: String, minPartitions: Int = 0): DataFrame = {
    val sc = spark.sparkContext
    // deliberately NOT persisted: the two passes cost two file scans
    // either way (pass 1 materializes on collect), and a persist here has
    // no safe unpersist point — the returned DataFrame is lazy — so it
    // would pin the corpus in block storage for the session's lifetime
    val raw = sc.textFile(path,
      if (minPartitions > 0) minPartitions else sc.defaultParallelism)

    // Pass 1: per-partition (lines, offset-contribution) totals.
    val partTotals: Array[(Long, Long)] = raw
      .mapPartitionsWithIndex { (pid, it) =>
        var lines = 0L
        var contrib = 0L
        it.foreach { l => lines += 1; contrib += contribution(l) }
        Iterator((pid, (lines, contrib)))
      }
      .collect()
      .sortBy(_._1)
      .map(_._2)

    val lineBases = partTotals.map(_._1).scanLeft(0L)(_ + _)
    val offsetBases = partTotals.map(_._2).scanLeft(0L)(_ + _)

    // Pass 2: stream each partition with its broadcast starting state.
    val lineBasesB = sc.broadcast(lineBases)
    val offsetBasesB = sc.broadcast(offsetBases)
    val records = raw.mapPartitionsWithIndex { (pid, it) =>
      var lineId = lineBasesB.value(pid)
      var offset = offsetBasesB.value(pid)
      it.flatMap { l =>
        val id = lineId
        val off = offset
        lineId += 1
        if (l.isEmpty) { offset += 1; None }
        else {
          val cleaned = cleanLine(l)
          offset += cleaned.length
          Some((id, cleaned, off))
        }
      }
    }

    val out = spark.createDataFrame(records).toDF("line_id", "line", "offset")
    out
  }

  /** The reference's result-sink shape (`database_server.py:88-102`): one
    * JSON object mapping each key to its value, keys sorted for determinism
    * (the reference's insertion order is arrival-order nondeterministic —
    * SURVEY.md §7 declares sorted as the contract).
    *
    * Scale note: a single JSON object is an inherently single-file format;
    * this collects and is only for reference-shaped golden outputs at demo
    * scale. Real pipelines use `df.write.json/parquet` (per-line, parallel).
    */
  def writeJsonObject(df: DataFrame, path: String, maxRows: Long = 1000000L): Unit = {
    val cols = df.columns
    require(cols.length == 2, s"expected (key, value) shape, got ${cols.toSeq}")
    // guard the unbounded collect: a single JSON object is a demo-scale
    // sink; count first (cheap aggregate) so an oversized input fails with
    // a pointer at the scale path instead of an executor->driver OOM
    val count = df.count()
    require(count <= maxRows,
      s"writeJsonObject collects to the driver and got $count rows (max $maxRows); " +
        "use graft.io.Sources.writeJsonLines for scale output")
    val rows = df.toJSON.collect() // per-row {"k":...,"v":...} objects
    val entries = rows.map { j =>
      // rewrap {"key":k,"value":v} rows into "k": v members
      val parsed = ujsonLite(j, cols(0), cols(1))
      parsed
    }.sorted
    val out = entries.mkString("{", ", ", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), out)
  }

  // Minimal row-JSON → object-member rewrite without a JSON dependency:
  // toJSON emits {"<kcol>":<k>,"<vcol>":<v>} with no extra whitespace.
  private def ujsonLite(rowJson: String, kcol: String, vcol: String): String = {
    val kPrefix = "{\"" + kcol + "\":"
    val vMarker = ",\"" + vcol + "\":"
    val i = rowJson.indexOf(vMarker)
    require(rowJson.startsWith(kPrefix) && i > 0, s"unexpected row json: $rowJson")
    val k = rowJson.substring(kPrefix.length, i)
    val v = rowJson.substring(i + vMarker.length, rowJson.length - 1)
    s"$k: $v"
  }
}
