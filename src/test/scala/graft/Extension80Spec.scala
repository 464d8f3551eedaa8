package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Sampling}
import graft.io.Tables

/** Semantics tests for the round-10 storage wave: bucketed tables
  * (q458) and the persisted MinHash band index (q459). The plan-shape
  * halves (zero-exchange bucketed join; no corpus re-signature) live in
  * PlanSpec; these tests pin VALUE equality against the naive
  * formulations and the append-only maintenance contract.
  */
class Extension80Spec extends SparkSpec {

  test("q458: bucketed-join result is row-identical to the plain " +
    "unbucketed join (storage layout never changes semantics)") {
    val got = SparkEntry.queries("q458_bucketed_colocated_join")(
      spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        col("event_type"))
    val stats = ev.groupBy("user_id").agg(
      count(lit(1)).cast("long").as("n_events"),
      sum("cents").as("total_cents"))
    val purch = ev.where(col("event_type") === "purchase")
      .groupBy("user_id").agg(
        count(lit(1)).cast("long").as("n_purchases"),
        sum("cents").as("purchase_cents"))
    val want = stats.join(purch, "user_id")
      .orderBy(col("purchase_cents").desc, col("user_id")).limit(100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.sameElements(want))
  }

  private def filesUnder(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      .map(f => f.toString -> Files.size(f)).toMap
  }

  test("q459: index serve equals the direct cross-table nearDupJoin, " +
    "and appendToBandIndex writes delta-only (base files untouched)") {
    val path =
      scratchPath("graft_bandidx_spec")
    val d = Sampling.hashSplit(Tables.load(spark, sf0001, "documents"),
      "doc_id", "inc", Seq(("corpus", 0.8), ("incoming", 0.2)))
    val incoming = d.filter(col("split") === "incoming")
      .select("doc_id", "text")
    val corpus = d.filter(col("split") === "corpus")
      .select("doc_id", "text")

    Dedup.writeBandIndex(corpus.where(col("doc_id") % 7 =!= 0),
      "text", "doc_id", path)
    val baseFiles = filesUnder(path)
    assert(baseFiles.nonEmpty, "index write produced no parquet files")
    Dedup.appendToBandIndex(corpus.where(col("doc_id") % 7 === 0),
      "text", "doc_id", path)
    val afterFiles = filesUnder(path)
    // append-only maintenance: every base file survives byte-identical
    // in name and size; the delta arrives as NEW files
    baseFiles.foreach { case (f, sz) =>
      assert(afterFiles.get(f).contains(sz),
        s"base index file rewritten by append: $f")
    }
    assert(afterFiles.size > baseFiles.size,
      "append added no new files")

    val got = SparkEntry.queries("q459_persisted_band_index")(
      spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = Dedup.nearDupJoin(incoming, corpus, "text", "doc_id", 0.5)
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(want),
      s"index serve diverged: got ${got.length} vs ${want.length} rows")
  }

  test("q461: tombstone serve == compacted serve == recompute on the " +
    "filtered corpus; compaction removes tombstoned rows and clears " +
    "the tombstone log") {
    val path =
      scratchPath("graft_bandidxdc_spec")
    val d = Sampling.hashSplit(Tables.load(spark, sf0001, "documents"),
      "doc_id", "inc", Seq(("corpus", 0.8), ("incoming", 0.2)))
    val incoming = d.filter(col("split") === "incoming")
      .select("doc_id", "text")
    val corpus = d.filter(col("split") === "corpus")
      .select("doc_id", "text")
    Dedup.writeBandIndex(corpus, "text", "doc_id", path)
    Dedup.deleteFromBandIndex(
      corpus.where(col("doc_id") % 11 === 0).select("doc_id"),
      "doc_id", path)
    def serve() =
      Dedup.nearDupJoinIndexed(incoming, spark, path, "text", "doc_id",
        0.5).orderBy("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val beforeCompact = serve()
    Dedup.compactBandIndex(spark, path)
    val afterCompact = serve()
    assert(beforeCompact == afterCompact,
      "compaction changed the serve result")
    // the tombstone log is gone and the rewritten index holds no
    // tombstoned ids
    assert(!new java.io.File(s"$path/tombstones").exists())
    val leftover = spark.read.parquet(s"$path/bands")
      .where(col("id") % 11 === 0).count()
    assert(leftover == 0, s"$leftover tombstoned band rows survived")
    // and the whole path equals the direct recompute on the filtered
    // corpus
    val want = Dedup.nearDupJoin(incoming,
        corpus.where(col("doc_id") % 11 =!= 0), "text", "doc_id", 0.5)
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(afterCompact == want)
    // a compact with no tombstones is a no-op (and must not throw)
    Dedup.compactBandIndex(spark, path)
    assert(serve() == afterCompact)
  }

  test("band index: serving a batch against an appended index equals " +
    "serving against an index built in one shot") {
    val oneShot =
      scratchPath("graft_bandidx_oneshot")
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val probe = docs.where(col("doc_id") % 5 === 0)
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    Dedup.writeBandIndex(corpus, "text", "doc_id", oneShot)
    val incr =
      scratchPath("graft_bandidx_incr")
    Dedup.writeBandIndex(corpus.where(col("doc_id") % 3 =!= 0),
      "text", "doc_id", incr)
    Dedup.appendToBandIndex(corpus.where(col("doc_id") % 3 === 0),
      "text", "doc_id", incr)
    def serve(p: String) =
      Dedup.nearDupJoinIndexed(probe, spark, p, "text", "doc_id", 0.4)
        .orderBy("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(serve(incr).sameElements(serve(oneShot)))
  }
}
