package graft.queries

import org.apache.spark.sql.functions._

import graft.api.MapReduceJob
import graft.io.Tables
import graft.jobs.WordCount
import graft.ops.Text

/** The reference's two jobs (word count, inverted index) re-expressed over
  * the `documents` fixture table, plus the generic MapReduceJob façade run
  * through the same oracle. The reference operates on lines of one file;
  * here each document plays the role of a line-set with per-document offset
  * base 0 — the offset *arithmetic* (the quirky part, SURVEY.md §1) is
  * identical and oracle-checked in q32. File-level semantics against
  * `/root/reference/input.txt` are pinned by the golden ScalaTest suite.
  */
object TextQueries {

  /** The reference's demo dataset (FIXTURES.md §A). Declared before
    * `queries` — the oracle SQL strings interpolate it at object init.
    */
  val ReferenceCorpus = "/root/reference/input.txt"

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q30: word count (reference job 1). clean → split → explode → count.
    // One shuffle; partial aggregation collapses repeats map-side.
    Q(
      "q30_wordcount",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        WordCount(docs.select(Text.clean(col("text")).as("line")))
          .orderBy("word")
      },
      Some("""SELECT word, count(*) AS cnt
             |FROM (SELECT unnest(string_split(
             |        regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'), ' ')) AS word
             |      FROM documents)
             |WHERE word <> ''
             |GROUP BY word
             |ORDER BY word""".stripMargin)),

    // ------------------------------------------------------------------
    // q31: inverted index, postings-with-term-frequency form
    // (word → which docs, how often).
    Q(
      "q31_tf_postings",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs
          .select(col("doc_id"),
            explode(Text.words(Text.clean(col("text")))).as("word"))
          .groupBy("word", "doc_id")
          .agg(count(lit(1)).as("tf"))
          .orderBy("word", "doc_id")
      },
      Some("""SELECT word, doc_id, count(*) AS tf
             |FROM (SELECT doc_id, unnest(string_split(
             |        regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'), ' ')) AS word
             |      FROM documents)
             |WHERE word <> ''
             |GROUP BY word, doc_id
             |ORDER BY word, doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q32: inverted index with the reference's character offsets
    // (reference job 2), flattened to (word, doc_id, off) rows so the
    // oracle can replay the offset arithmetic: offset advances by
    // len(word)+1 per NON-EMPTY token only (the multi-space drift quirk,
    // mapper_word_count.py:18-20). The DuckDB side replays it with a
    // lockstep unnest + windowed prefix sum.
    Q(
      "q32_inverted_offsets",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        docs
          .select(col("doc_id"),
            explode(Text.tokensWithOffsets(Text.clean(col("text")), lit(0L))).as("t"))
          .select(col("t.word").as("word"), col("doc_id"), col("t.off").as("off"))
          .orderBy("word", "doc_id", "off")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(arr) AS tok,
             |    unnest(range(len(arr))) AS pos
             |  FROM (SELECT doc_id, string_split(
             |          regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'), ' ') AS arr
             |        FROM documents)),
             |offs AS (
             |  SELECT doc_id, tok AS word,
             |    CAST(coalesce(sum(CASE WHEN tok <> '' THEN length(tok) + 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
             |  FROM toks)
             |SELECT word, doc_id, off
             |FROM offs
             |WHERE word <> ''
             |ORDER BY word, doc_id, off""".stripMargin)),

    // ------------------------------------------------------------------
    // q33: the pluggable MapReduceJob façade (the reference's real API)
    // run through the SAME oracle as q30 — proves the typed
    // mapPartitions/groupByKey path computes what the declarative one does.
    Q(
      "q33_wordcount_mapreduce",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val lines = docs.select(Text.clean(col("text")).as("line")).as[String]
        val job = MapReduceJob[String, String, Int, Long](
          mapper = _.flatMap(line => line.split(" ").filter(_.nonEmpty).map(w => (w, 1))),
          reducer = (_, vs) => vs.foldLeft(0L)((acc, v) => acc + v))
        job.run(lines).toDF("word", "cnt").orderBy("word")
      },
      Some("""SELECT word, count(*) AS cnt
             |FROM (SELECT unnest(string_split(
             |        regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'), ' ')) AS word
             |      FROM documents)
             |WHERE word <> ''
             |GROUP BY word
             |ORDER BY word""".stripMargin)),

    // ------------------------------------------------------------------
    // q34: word count over the REFERENCE'S OWN CORPUS (input.txt, the
    // exact workload the reference ships) — DuckDB replays the whole
    // clean+tokenize pipeline from read_text. sfDir is ignored by design.
    Q(
      "q34_wordcount_reference_corpus",
      (s, _) =>
        WordCount(graft.io.TextRecords.read(s, TextQueries.ReferenceCorpus))
          .orderBy("word"),
      Some(s"""SELECT word, count(*) AS cnt FROM (
             |  SELECT unnest(string_split_regex(
             |    regexp_replace(content, '[^a-zA-Z0-9 \\n]', '', 'g'), '[ \\n]')) AS word
             |  FROM read_text('${TextQueries.ReferenceCorpus}'))
             |WHERE word <> ''
             |GROUP BY word
             |ORDER BY word""".stripMargin)),

    // ------------------------------------------------------------------
    // q35: inverted index WITH the reference's quirky character offsets
    // over input.txt, flat (word, off) rows — the offset contract
    // (cleaned-length cumsum, +1 per blank line, multi-space drift)
    // replayed line-by-line in DuckDB SQL. The strongest parity evidence
    // in the gate: both engines independently reproduce master.py:31-47 +
    // mapper_word_count.py:11-22 and must agree on all ~31k offsets.
    Q(
      "q35_inverted_index_reference_corpus",
      (s, _) =>
        graft.jobs.InvertedIndex
          .postings(graft.io.TextRecords.read(s, TextQueries.ReferenceCorpus))
          .orderBy("word", "off"),
      Some(s"""WITH raw AS (SELECT content FROM read_text('${TextQueries.ReferenceCorpus}')),
             |arr AS (SELECT string_split(content, chr(10)) AS a FROM raw),
             |lines AS (
             |  SELECT unnest(a) AS line, unnest(range(len(a))) AS pos, len(a) AS n FROM arr),
             |kept AS (SELECT line, pos FROM lines WHERE pos < n - 1 OR line <> ''),
             |cleaned AS (
             |  SELECT pos, regexp_replace(line, '[^a-zA-Z0-9 ]', '', 'g') AS clean,
             |    CASE WHEN line = '' THEN 1
             |         ELSE length(regexp_replace(line, '[^a-zA-Z0-9 ]', '', 'g')) END AS contrib
             |  FROM kept),
             |offs AS (
             |  SELECT pos, clean,
             |    coalesce(sum(contrib) OVER (ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS line_off
             |  FROM cleaned),
             |toks AS (
             |  SELECT pos, line_off,
             |    unnest(string_split(clean, ' ')) AS tok,
             |    unnest(range(len(string_split(clean, ' ')))) AS tpos
             |  FROM offs WHERE clean <> '')
             |SELECT tok AS word,
             |  CAST(line_off + coalesce(sum(CASE WHEN tok <> '' THEN length(tok) + 1 ELSE 0 END)
             |    OVER (PARTITION BY pos ORDER BY tpos
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
             |FROM toks
             |WHERE tok <> ''
             |ORDER BY word, off""".stripMargin))
  )
}
