package graft

import java.nio.file.Files

import scala.util.Random

import graft.io.TextRecords
import graft.jobs.{InvertedIndex, WordCount}

/** `TextRecords`' per-line kernel against the reference's regex, and the
  * read's results against its split count (the default split count is
  * `sc.defaultParallelism`, so the same file is read under several layouts
  * depending on the session).
  */
class TextKernelSpec extends SparkSpec {

  private def regexClean(s: String): String = s.replaceAll("[^a-zA-Z0-9 ]", "")

  // Kept ASCII next to look-alikes the regex drops: non-ASCII letters and
  // digits, NBSP, tab, CR, an emoji surrogate pair, unpaired surrogates and
  // punctuation.
  private val pieces: IndexedSeq[String] = IndexedSeq(
    "a", "Z", "q", "0", "9", " ", "  ",
    "é", "ß", "٣", " ", "\t", "\r", "😀",
    "\uD83D", "\uDE00", "!", ",", ".", "'", "-", "_", "~", "\u0000")

  private def randomLine(rnd: Random): String =
    Seq.fill(rnd.nextInt(24))(pieces(rnd.nextInt(pieces.length))).mkString

  test("cleanLine and contribution match the reference regex on seeded lines") {
    val fixed = Seq("", "!!!", "...", "   ", "abc", "a  b", "😀",
      "x\uD83D", "\uDE00y", "é ß ٣", "a b\tc\rd")
    (1L to 5L).foreach { seed =>
      val rnd = new Random(seed)
      (fixed ++ Seq.fill(2000)(randomLine(rnd))).foreach { s =>
        val want = regexClean(s)
        assert(TextRecords.cleanLine(s) == want, s"seed $seed: ${s.map(_.toInt)}")
        assert(TextRecords.contribution(s) ==
          (if (s.isEmpty) 1L else want.length.toLong), s"seed $seed: ${s.map(_.toInt)}")
      }
    }
  }

  test("records, word counts and postings do not depend on the split count") {
    // blank lines, runs of 2+ spaces, punctuation-only lines, non-ASCII
    // text, and no trailing newline
    val rnd = new Random(42L)
    val words = IndexedSeq("spark", "map", "reduce", "word", "café", "x")
    val lines = (0 until 600).map { i =>
      i % 9 match {
        case 0 => ""
        case 1 => "!!! ,,, ..."
        case 2 => "  " + words(rnd.nextInt(words.length)) + "   end  "
        case _ => Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.length)))
          .mkString(if (rnd.nextBoolean()) " " else ", ")
      }
    } :+ "last line, no newline!"
    val p = Files.createTempFile("graft_splits", ".txt")
    Files.writeString(p, lines.mkString("\n"))
    try {
      val path = p.toString
      assert(Files.size(p) > 8 * 1024)

      // the reference's records, replayed line by line
      var offset = 0L
      val expected = lines.zipWithIndex.flatMap { case (l, id) =>
        if (l.isEmpty) { offset += 1; None }
        else {
          val c = regexClean(l)
          val rec = (id.toLong, c, offset)
          offset += c.length
          Some(rec)
        }
      }

      def results(minPartitions: Int) = {
        val recs = TextRecords.read(spark, path, minPartitions)
        (recs.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .sortBy(_._1).toSeq,
          WordCount(recs).collect().map(r => (r.getString(0), r.getLong(1)))
            .sorted.toSeq,
          InvertedIndex(recs).collect()
            .map(r => (r.getString(0), r.getSeq[Long](1).toList)).sortBy(_._1).toSeq)
      }
      val base = results(1)
      assert(base._1 == expected)
      Seq(0, 7, 13).foreach { n => assert(results(n) == base, s"minPartitions $n") }

      assert(TextRecords.read(spark, path).rdd.getNumPartitions >=
        spark.sparkContext.defaultParallelism)
    } finally Files.delete(p)
  }
}
