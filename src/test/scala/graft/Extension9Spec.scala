package graft

import org.apache.spark.sql.functions._

/** Round-7 third wave: padding waste, BPE pair counts, source entropy. */
class Extension9Spec extends SparkSpec {

  import spark.implicits._

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  private def writeDocs(rows: Seq[(Long, String, String, String, Long)]) = {
    val dir = scratch("graft_ext9")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("padding waste: per-bucket waste is n_docs*max - sum, bucket " +
    "boundary at exactly 16 tokens") {
    // 3-token, 15-token, 16-token, 18-token docs: buckets 0,0,1,1
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val dir = writeDocs(Seq(
      (0L, words(3), "en", "s1", 1L), (1L, words(15), "en", "s1", 1L),
      (2L, words(16), "en", "s1", 1L), (3L, words(18), "en", "s1", 1L)))
    val out = SparkEntry.queries("q161_padding_waste")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    assert(out(0L) == ((2L, 15L, 18L, 12L, r6(12.0 / 30.0))))
    assert(out(1L) == ((2L, 18L, 34L, 2L, r6(2.0 / 36.0))))
  }

  test("bpe pairs: corpus-weighted within-word pair counts, rank " +
    "tiebreak by pair string") {
    // "abab" x3 -> ab:6(=2*3), ba:3; "cd" x2 -> cd:2; 1-char words drop
    val dir = writeDocs(Seq(
      (0L, "abab abab cd", "en", "s1", 1L),
      (1L, "abab cd x y", "en", "s1", 1L)))
    val out = SparkEntry.queries("q162_bpe_pairs")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "ab", 6L), (2, "ba", 3L), (3, "cd", 2L)))
  }

  test("source entropy: uniform source hits ln(k), repeated-token " +
    "source hits 0, ttr exact") {
    // s1: 4 distinct tokens once each -> entropy ln(4), ttr 1;
    // s2: one token 5 times -> entropy 0, ttr 1/5
    val dir = writeDocs(Seq(
      (0L, "a b c d", "en", "s1", 1L),
      (1L, "z z z z z", "en", "s2", 1L)))
    val out = SparkEntry.queries("q163_source_entropy")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("s1") == ((4L, 4L, 1.0, r6(math.log(4.0)))))
    assert(out("s2") == ((5L, 1L, r6(0.2), 0.0)))
  }
}
