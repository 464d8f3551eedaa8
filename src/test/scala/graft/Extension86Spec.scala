package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Physical-contract tests for the band index's exactly-once streaming
  * append (q478): marker-gated visibility, replay no-ops, and the
  * compactor folding deltas while keeping the applied-batch record.
  */
class Extension86Spec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely unrelated text about distributed storage engines"),
      (4L, "the quick brown fox jumps over the lazy dog tonight"),
      (5L, "another entirely different document on spark physical plans"))
      .toDF("doc_id", "text")
  }

  test("idempotent append: committed deltas serve, replays refuse, " +
    "compaction folds deltas and keeps the applied-batch record") {
    import spark.implicits._
    val path = scratchPath("graft_bandsa_spec")
    graft.io.FsUtil.deleteRecursively(path)
    Dedup.writeBandIndex(docs.where(col("doc_id") <= 2), "text",
      "doc_id", path)
    val delta = docs.where(col("doc_id") > 2)
    assert(Dedup.appendToBandIndexIdempotent(delta, "text", "doc_id",
      path, 0L))
    assert(!Dedup.appendToBandIndexIdempotent(delta, "text", "doc_id",
      path, 0L), "replayed batch appended again")
    assert(Dedup.bandIndexAppliedBatches(path) == Set(0L))

    val batch = Seq((100L,
      "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    def serve() = Dedup
      .nearDupJoinIndexed(batch, spark, path, "text", "doc_id", 0.5)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val before = serve()
    // doc 4 (identical text, lives in the streamed delta) must be served
    assert(before.contains((100L, 4L)),
      s"committed delta invisible to serve: $before")

    // fold: same serve result, no delta data dirs, markers intact
    Dedup.compactBandIndex(spark, path)
    assert(!new java.io.File(s"$path/deltas").exists(),
      "compaction left folded delta directories")
    assert(Dedup.bandIndexAppliedBatches(path) == Set(0L),
      "compaction dropped the applied-batch record")
    assert(serve() == before, "serve changed across the fold")
    // a very late replay of the folded batch is still a no-op
    assert(!Dedup.appendToBandIndexIdempotent(delta, "text", "doc_id",
      path, 0L))
  }

  test("crash invisibility: a delta directory WITHOUT its commit " +
    "marker never reaches the serve path, and the replayed batch " +
    "commits cleanly over it") {
    import spark.implicits._
    val path = scratchPath("graft_bandsa_spec2")
    graft.io.FsUtil.deleteRecursively(path)
    Dedup.writeBandIndex(docs.where(col("doc_id") <= 2), "text",
      "doc_id", path)
    val delta = docs.where(col("doc_id") === 4)
    // simulate the crash: let the real append write its delta data,
    // then remove the marker — exactly the pre-marker crash state
    Dedup.appendToBandIndexIdempotent(delta, "text", "doc_id", path, 9L)
    val marker = new java.io.File(s"$path/_batches/batch-9")
    assert(marker.exists())
    marker.delete() // now it looks exactly like a pre-marker crash
    val batch = Seq((100L,
      "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val served = Dedup
      .nearDupJoinIndexed(batch, spark, path, "text", "doc_id", 0.5)
      .select("db").collect().map(_.getLong(0)).toSet
    assert(!served.contains(4L),
      "uncommitted (crashed) delta leaked into the serve path")
    // replay: same batch id re-commits (overwrite semantics), now visible
    assert(Dedup.appendToBandIndexIdempotent(delta, "text", "doc_id",
      path, 9L))
    val served2 = Dedup
      .nearDupJoinIndexed(batch, spark, path, "text", "doc_id", 0.5)
      .select("db").collect().map(_.getLong(0)).toSet
    assert(served2.contains(4L))
  }
}
