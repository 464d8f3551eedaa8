package graft

import java.nio.file.{Files, Paths}

import scala.io.Source

import graft.io.TextRecords
import graft.jobs.{InvertedIndex, WordCount}

/** Golden-semantics tests (SURVEY.md §5.1) against the reference's own
  * corpus: an independent, deliberately-naive Scala replay of the Python
  * semantics (readlines keeps "\n"; blank-drop; regex clean; cumulative
  * cleaned offset with +1 per blank; per-word offset advancing len+1 for
  * non-empty tokens only) compared against the distributed pipelines.
  * The three corpus goldens are canceled, naming the path, where the
  * reference corpus is absent; the offset-quirk test needs no corpus.
  */
class TextGoldenSpec extends SparkSpec {

  private val inputPath = "/root/reference/input.txt"

  /** Python readlines(): split after every \n, keep the terminator. */
  private def readLinesLikePython(path: String): Seq[String] = {
    val src = Source.fromFile(path, "UTF-8")
    val text = try src.mkString finally src.close()
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    var i = 0
    while (i < text.length) {
      if (text.charAt(i) == '\n') { out += text.substring(start, i + 1); start = i + 1 }
      i += 1
    }
    if (start < text.length) out += text.substring(start)
    out.toSeq
  }

  /** master.py:31-47 replayed verbatim. Returns (cleanedLine, offset). */
  private def naiveRecords(path: String): Seq[(String, Long)] = {
    var offset = 0L
    readLinesLikePython(path).flatMap { raw =>
      if (raw == "\n") { offset += 1; None }
      else {
        val cleaned = raw.replaceAll("[^a-zA-Z0-9 ]", "")
        val rec = (cleaned, offset)
        offset += cleaned.length
        Some(rec)
      }
    }
  }

  /** mapper_word_count.py:11-22 replayed verbatim. */
  private def naiveTokens(records: Seq[(String, Long)]): Seq[(String, Long)] =
    records.flatMap { case (line, lineOff) =>
      var off = lineOff
      line.split(" ", -1).flatMap { w =>
        if (w.isEmpty) None
        else { val t = (w, off); off += w.length + 1; Some(t) }
      }
    }

  lazy val goldenRecords: Seq[(String, Long)] = naiveRecords(inputPath)
  lazy val goldenTokens: Seq[(String, Long)] = naiveTokens(goldenRecords)

  test("TextRecords.read reproduces the reference's (line, offset) records") {
    assume(Files.isRegularFile(Paths.get(inputPath)), s"$inputPath is absent")
    val got = TextRecords
      .read(spark, inputPath, minPartitions = 7)
      .orderBy("line_id")
      .collect()
      .map(r => (r.getString(1), r.getLong(2)))
      .toSeq
    assert(got.size == goldenRecords.size)
    assert(got == goldenRecords)
  }

  test("word count over input.txt matches the naive golden") {
    assume(Files.isRegularFile(Paths.get(inputPath)), s"$inputPath is absent")
    val golden = goldenTokens.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = WordCount(TextRecords.read(spark, inputPath, minPartitions = 7))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(got.size == golden.size)
    assert(got == golden)
  }

  test("inverted index over input.txt matches the naive golden (sorted postings)") {
    assume(Files.isRegularFile(Paths.get(inputPath)), s"$inputPath is absent")
    val golden = goldenTokens
      .groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted)
      .toMap
    val got = InvertedIndex(TextRecords.read(spark, inputPath, minPartitions = 7))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1))
      .toMap
    assert(got.size == golden.size)
    val bad = golden.keys.filter(k => got(k) != golden(k))
    assert(bad.isEmpty, s"mismatched postings for: ${bad.take(5)}")
  }

  test("offset quirks: blank lines advance by 1; multi-space runs do not advance") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".txt")
    // line0: "ab, c!"  → cleaned "ab c" (offset 0)
    // line1: "\n"      → dropped, contributes 1
    // line2: "x  y"    → two spaces: y's offset drifts left by 1
    java.nio.file.Files.writeString(tmp, "ab, c!\n\nx  y\n")
    val recs = TextRecords.read(spark, tmp.toString).orderBy("line_id").collect()
    assert(recs.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("ab c", 0L), ("x  y", 5L))) // 4 (cleaned len) + 1 (blank)
    val toks = InvertedIndex
      .postings(TextRecords.read(spark, tmp.toString))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // "ab"@0, "c"@3, "x"@5, "y"@7 (not 8 — empty token didn't advance)
    assert(toks == Set(("ab", 0L), ("c", 3L), ("x", 5L), ("y", 7L)))
    java.nio.file.Files.delete(tmp)
  }
}
