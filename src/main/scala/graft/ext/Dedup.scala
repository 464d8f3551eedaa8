package graft.ext

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{PolyHash, Rounding}

/** Deduplication operators for a training-data pipeline (north-star ops):
  * exact (hash-groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - exact dedup is one shuffle on a 16-byte fingerprint — the canonical
  *    cheap pass run before anything fancy;
  *  - MinHash+LSH is the near-dup *scale path*: per-doc signatures are a
  *    single aggregation, and banding turns the O(n²) pair space into
  *    equi-joins on (band, signature) keys so only genuine candidates meet;
  *  - exact Jaccard via the shingle inverted index is the verify pass —
  *    at scale you run it only on LSH candidates ([[nearDupPairs]]), never
  *    on the full corpus;
  *  - SimHash gives a 16-bit locality-sensitive sketch whose hamming
  *    distance proxies similarity — one aggregation, join-free;
  *  - embedding near-dup is a cosine-threshold self-join; brute-force here,
  *    with the LSH-bucketed variant in [[SimilaritySearch]] as the scale
  *    path.
  *
  * All hashing is [[PolyHash]]-based so every operator has an exact DuckDB
  * replay (see ExtensionQueries oracles) — including the MinHash
  * permutations, which are plain `(a·h + b) mod p` integer arithmetic.
  */
object Dedup {

  final val Mod = PolyHash.Mod

  /** MinHash permutation constants (16 perms), deterministic. */
  val Perms: Seq[(Long, Long)] = {
    val rnd = new Random(42)
    Seq.fill(16)((rnd.nextInt(1000000000).toLong + 1, rnd.nextInt(1000000000).toLong))
  }
  final val Bands = 4
  final val RowsPerBand = 4 // Bands * RowsPerBand == Perms.size

  /** Exact dedup: md5-fingerprint groups; every row mapped to its group's
    * canonical (minimum) id. `group_size > 1` rows are duplicates.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprintMd5(col(textCol)).as("fp")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    df.select(col(idCol), fp)
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
  }

  /** Distinct word n-gram shingles of a (space-tokenized) text column.
    * Compiled ([[graft.functions.WordNgrams]]): the HOF formulation
    * (`transform(sequence, i -> concat_ws over n element_at)`) re-splits
    * the text per element after CollapseProject inlining — at n=8 that
    * was the whole cost of q78 (12.8s → 1s at sf0.1).
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.WordNgrams(text, n, distinct = true)

  /** PolyHash of each distinct shingle — the MinHash input set. Computed
    * by the compiled [[graft.functions.ShingleHashes]] expression (hash
    * values identical to `transform(shingles, PolyHash)`; see its scaladoc
    * for the measured win over the HOF formulation).
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    graft.functions.ShingleHashes(text, n)

  /** Per-doc MinHash signature: `m_i = min over shingle hashes h of
    * (a_i·h + b_i) mod p` — explode + one partial-aggregated groupBy.
    *
    * Formulation note (measured, sf0.1): the tempting "zero-shuffle"
    * per-row version (`array_min(transform(hs, ...))` × 16 over a
    * projected hash array) is ~2× SLOWER because CollapseProject inlines
    * the hash-array projection into all 16 permutation expressions —
    * shingle hashing runs 16×. The explode keeps hashing single-pass;
    * map-side partial min means the shuffle carries one row per
    * (doc, perm), not per shingle.
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val exploded = df
      .select(col(idCol), explode(shingleHashes(col(textCol))).as("h"))
    val mins = Perms.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % Mod).as(s"m$i")
    }
    exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** One exploded (id, band, key) relation per doc — the LSH join key
    * shared by the self-join ([[minhashCandidates]]) and cross-table
    * ([[nearDupJoin]]) candidate paths, so the banding layout can never
    * diverge between them (or from the DuckDB oracle replay).
    */
  private def bandKeys(df: DataFrame, textCol: String, idCol: String,
                       outId: String): DataFrame = {
    val sig = minhashSignatures(df, textCol, idCol)
    val keys = (0 until Bands).map { b =>
      val ks = (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws("|", ks: _*).as("key"))
    }
    sig.select(col(idCol).as(outId), explode(array(keys: _*)).as("bk"))
      .select(col(outId), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Exact-Jaccard verification of candidate (da, db) pairs on the two
    * sides' compiled shingle-hash arrays (computed once per side via a
    * projection, intersected as longs — not re-derived string shingles
    * through interpreted HOFs). Shared by every LSH→verify composition.
    */
  private def verifyJaccard(cand: DataFrame, left: DataFrame, right: DataFrame,
                            textCol: String, idCol: String,
                            threshold: Double): DataFrame = {
    // sorted projections so the verify can merge-walk (see
    // SortedIntersectCount — array_intersect builds a hash set AND the
    // intersection array per evaluation, and pushdown evaluates the
    // jaccard condition's intersect up to 3x per candidate row)
    val a = left.select(col(idCol).as("da"),
      sort_array(shingleHashes(col(textCol))).as("ha"))
    val b = right.select(col(idCol).as("db"),
      sort_array(shingleHashes(col(textCol))).as("hb"))
    verifyJaccardArrays(cand, a, b, threshold)
  }

  /** The verify kernel on PRE-HASHED sides: `aArr` = (da, ha sorted),
    * `bArr` = (db, hb sorted). Split out of [[verifyJaccard]] so the
    * persisted-index serve path ([[nearDupJoinIndexed]]) can feed the
    * corpus side from its stored sidecar instead of re-hashing text.
    */
  private def verifyJaccardArrays(cand: DataFrame, aArr: DataFrame,
                                  bArr: DataFrame,
                                  threshold: Double): DataFrame =
    cand.join(aArr, "da").join(bArr, "db")
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("ha"), col("hb")))
      .withColumn("jaccard",
        Rounding.stableRound6(col("inter").cast("double")
          / (size(col("ha")) + size(col("hb")) - col("inter"))))
      .where(col("jaccard") >= threshold)
      .select("da", "db", "jaccard")

  // --------------------------------------------------------------------
  // Persisted MinHash band index (r9 verdict item 4): the ANN-index
  // lifecycle (q207/q322 write-once + incremental append + serve)
  // applied to near-dup dedup, so a standing corpus is signatured ONCE
  // and every later crawl batch joins against the stored bands — not
  // re-signatured per run, which at 100 TB is the difference between a
  // batch-sized job and a corpus-sized one.

  /** Write the corpus's LSH index to `path`: `bands/` holds the exploded
    * (id, band, key) posting relation partitioned by band, `hashes/`
    * each doc's sorted shingle-hash array — everything the serve path
    * needs, so serving never touches corpus text again.
    */
  def writeBandIndex(df: DataFrame, textCol: String, idCol: String,
                     path: String): Unit = {
    bandKeys(df, textCol, idCol, "id")
      .write.mode(SaveMode.Overwrite).partitionBy("band")
      .parquet(s"$path/bands")
    df.select(col(idCol).as("id"),
        sort_array(shingleHashes(col(textCol))).as("hs"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/hashes")
  }

  /** Incrementally append a new batch's bands + hash arrays to an
    * existing index. Only the delta's rows are written (parquet append —
    * existing files are never rewritten; pinned in Extension80Spec), the
    * q322/CdcUpsert maintenance discipline. At-least-once: a redelivered
    * batch double-appends — streaming writers use
    * [[appendToBandIndexIdempotent]].
    */
  def appendToBandIndex(delta: DataFrame, textCol: String, idCol: String,
                        path: String): Unit = {
    bandKeys(delta, textCol, idCol, "id")
      .write.mode(SaveMode.Append).partitionBy("band")
      .parquet(s"$path/bands")
    delta.select(col(idCol).as("id"),
        sort_array(shingleHashes(col(textCol))).as("hs"))
      .write.mode(SaveMode.Append).parquet(s"$path/hashes")
  }

  /** EXACTLY-ONCE streaming append (`foreachBatch` discipline): each
    * batch lands in its OWN delta directory (`deltas/b<id>/`, written
    * with overwrite so a crashed attempt replays cleanly), made visible
    * by an atomic create-exclusive marker (`_batches/batch-<id>`) — the
    * same batch-id-in-commit-marker protocol as
    * `MaterializedView.applyDeltaIdempotent` / `VersionedTable
    * .appendIdempotent`. A redelivered committed batch id is a no-op
    * (returns false); an uncommitted crash leaves the delta INVISIBLE
    * to the serve path, which unions base + COMMITTED deltas only.
    * [[compactBandIndex]] folds committed deltas into the base (markers
    * are kept — they are the applied-batch record that keeps late
    * replays no-ops after the fold).
    */
  def appendToBandIndexIdempotent(delta: DataFrame, textCol: String,
                                  idCol: String, path: String,
                                  batchId: Long): Boolean = {
    if (bandIndexAppliedBatches(path).contains(batchId)) false
    else {
      val d = s"$path/deltas/b$batchId"
      bandKeys(delta, textCol, idCol, "id")
        .write.mode(SaveMode.Overwrite).partitionBy("band")
        .parquet(s"$d/bands")
      delta.select(col(idCol).as("id"),
          sort_array(shingleHashes(col(textCol))).as("hs"))
        .write.mode(SaveMode.Overwrite).parquet(s"$d/hashes")
      graft.io.TableFs.writeUtf8Exclusive(
        s"$path/_batches/batch-$batchId", "")
      true
    }
  }

  /** Streaming batch ids already committed into the band index. */
  def bandIndexAppliedBatches(path: String): Set[Long] =
    graft.io.TableFs.listNames(s"$path/_batches")
      .filter(_.startsWith("batch-"))
      .map(_.stripPrefix("batch-").toLong)
      .toSet

  /** Committed streaming-delta directories, oldest first. */
  private def committedDeltaDirs(path: String): Seq[String] =
    bandIndexAppliedBatches(path).toSeq.sorted
      .map(b => s"$path/deltas/b$b")
      .filter(d => new java.io.File(d).exists())

  /** The index's band postings: base + committed streaming deltas.
    * Each root is read separately and unioned — multiple parquet roots
    * in one read would confuse partition discovery across the
    * different directory depths.
    */
  private def allBands(spark: SparkSession, path: String): DataFrame =
    (s"$path/bands" +: committedDeltaDirs(path).map(_ + "/bands"))
      .map(spark.read.parquet(_)).reduce(_.unionByName(_))

  /** The index's per-doc hash arrays: base + committed deltas. */
  private def allHashes(spark: SparkSession, path: String): DataFrame =
    (s"$path/hashes" +: committedDeltaDirs(path).map(_ + "/hashes"))
      .map(spark.read.parquet(_)).reduce(_.unionByName(_))

  /** Near-dup join of a batch against a PERSISTED index: the batch
    * computes signatures fresh (work linear in the batch), corpus-side
    * candidates meet through the stored band postings and the exact
    * verify reads the stored hash arrays. Result is IDENTICAL to
    * [[nearDupJoin]](batch, corpus, …) — same band layout, same verify —
    * which is exactly what the q459 oracle (a from-scratch recompute)
    * asserts.
    */
  def nearDupJoinIndexed(batch: DataFrame, spark: SparkSession,
                         path: String, textCol: String, idCol: String,
                         threshold: Double): DataFrame = {
    val live = tombstones(spark, path) match {
      case Some(t) => allBands(spark, path)
        .join(broadcast(t), Seq("id"), "left_anti")
      case None => allBands(spark, path)
    }
    val corpusBands = live.select(col("id").as("db"), col("band"), col("key"))
    val cand = bandKeys(batch, textCol, idCol, "da")
      .join(corpusBands, Seq("band", "key"))
      .select("da", "db").distinct()
    val a = batch.select(col(idCol).as("da"),
      sort_array(shingleHashes(col(textCol))).as("ha"))
    val b = allHashes(spark, path)
      .select(col("id").as("db"), col("hs").as("hb"))
    verifyJaccardArrays(cand, a, b, threshold)
  }

  /** Tombstone-delete ids from a persisted band index — O(delta): one
    * appended tombstone row per id, no index rewrite (the q329 ANN
    * delete discipline). The serve path anti-joins live bands against
    * the (broadcast-sized) tombstone set until a [[compactBandIndex]]
    * folds them in.
    */
  def deleteFromBandIndex(ids: DataFrame, idCol: String,
                          path: String): Unit =
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode(SaveMode.Append).parquet(s"$path/tombstones")

  private def tombstones(spark: SparkSession,
                         path: String): Option[DataFrame] = {
    val p = new java.io.File(s"$path/tombstones")
    if (p.exists()) Some(spark.read.parquet(p.toString).distinct())
    else None
  }

  /** Fold accumulated tombstones AND committed streaming deltas into
    * the index: rewrite bands/ and hashes/ as (base ∪ committed deltas)
    * minus the deleted ids, then clear tombstones/ and the folded delta
    * directories. Batch MARKERS survive the fold — they are the
    * applied-batch record, so a batch replayed long after its delta was
    * compacted is still a no-op. The rewrite goes through a sibling tmp
    * dir + directory swap so the job never overwrites files it is
    * reading (at cluster scale the same write-then-swap runs against
    * the object store's atomic rename). No-op when there is nothing to
    * fold.
    */
  def compactBandIndex(spark: SparkSession, path: String): Unit = {
    val deltas = committedDeltaDirs(path)
    val t = tombstones(spark, path)
    if (t.isEmpty && deltas.isEmpty) return
    def clean(df: DataFrame): DataFrame = t match {
      case Some(ts) => df.join(broadcast(ts), Seq("id"), "left_anti")
      case None => df
    }
    def rewrite(cleaned: DataFrame, sub: String,
                partitioned: Boolean): Unit = {
      val w = cleaned.write.mode(SaveMode.Overwrite)
      (if (partitioned) w.partitionBy("band") else w)
        .parquet(s"$path/${sub}_compact")
      graft.io.FsUtil.deleteRecursively(s"$path/$sub")
      require(new java.io.File(s"$path/${sub}_compact")
        .renameTo(new java.io.File(s"$path/$sub")),
        s"compaction swap failed for $path/$sub")
    }
    rewrite(clean(allBands(spark, path)), "bands", partitioned = true)
    rewrite(clean(allHashes(spark, path)), "hashes", partitioned = false)
    graft.io.FsUtil.deleteRecursively(s"$path/deltas")
    graft.io.FsUtil.deleteRecursively(s"$path/tombstones")
  }

  /** LSH candidate pairs: docs agreeing on all rows of at least one band.
    * Implemented as ONE equi-self-join on the exploded composite
    * (band, key) — shuffle-partitioned by band key, no cross join
    * anywhere (and one shuffle instead of `Bands` separate join legs).
    */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val bands = bandKeys(df, textCol, idCol, "id")
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"))
      .distinct()
  }

  /** Exact n-gram Jaccard pairs via the shingle inverted index: pairs
    * sharing ≥1 shingle, scored |∩| / |∪|. O(docs-per-shingle²) — the
    * verify pass; feed it LSH candidates at scale.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Exact all-pairs Jaccard ≥ t via PREFIX FILTERING (AllPairs/PPJoin):
    // under any global total order on shingles, two docs with J ≥ t must
    // share an element inside their first |d| − ⌈t·|d|⌉ + 1 shingles — so
    // the candidate join runs on prefixes only, and ordering by ascending
    // document frequency puts the hottest shingles LAST (outside
    // prefixes), which is what kills the quadratic blowup on common
    // shingles. Joining 8-byte shingle hashes (oracle replays the same
    // hash, so results are identical to the brute formulation). Measured
    // at sf0.1: ~4× fewer candidate pairs than the naive
    // inverted-index join.
    // no cache: the compiled ShingleHashes pass is cheaper than pinning
    // the whole hashed corpus in block storage for the session's lifetime
    // (a .cache() here leaks — the returned DF stays lazy, so there is no
    // safe point inside this function to unpersist)
    val docs = df
      .select(col(idCol).as("id"), sort_array(shingleHashes(col(textCol))).as("hs"))
      .withColumn("n", size(col("hs")))
      .where(col("n") > 0)
    val cand = prefixFilterCandidates(docs, threshold, freqOrder = false)
    val docArrs = docs.select(col("id"), col("hs"), col("n"))
    cand
      .join(docArrs.select(col("id").as("da"), col("hs").as("ha"), col("n").as("na")), "da")
      .join(docArrs.select(col("id").as("db"), col("hs").as("hb"), col("n").as("nb")), "db")
      // hs is sort_array'd above — merge-walk count, no hash set or
      // materialized intersection per evaluation
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("ha"), col("hb")))
      .withColumn("jaccard",
        Rounding.stableRound6(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter"))))
      .where(col("jaccard") >= threshold)
      .select("da", "db", "jaccard")
  }

  /** AllPairs/PPJoin candidate pairs from `docs` = (id, hs sorted-by-hash,
    * n): two docs with J ≥ t must share an element inside their first
    * `|d| − ⌈t·|d|⌉ + 1` shingles under ANY global total order on
    * shingles, and the PPJoin length filter prunes size-mismatched pairs
    * inside the join.
    *
    * `freqOrder = false` (the shipped q44 path) uses ascending HASH
    * order — a per-row slice, no extra shuffles. `freqOrder = true` uses
    * the textbook PPJoin order — ascending corpus DOCUMENT FREQUENCY, so
    * the hottest shingles land outside every prefix — at the cost of two
    * extra shuffles (a frequency aggregation over exploded shingles and
    * a per-doc re-sort). Measured at sf0.1 on the documents fixture
    * (tools.NearDupProbe round 4): 429,655 candidates (hash, 1.22s) vs
    * 309,881 (freq, 2.76s) — a 1.39× candidate reduction that costs
    * 2.3× wall-clock, far under the ≥2× reduction that would pay for
    * the extra shuffles, so hash order stays the default; on a corpus
    * with power-law-hot shingles re-measure with the same probe.
    */
  private[graft] def prefixFilterCandidates(docs: DataFrame, threshold: Double,
                                            freqOrder: Boolean): DataFrame = {
    val ordered =
      if (!freqOrder) docs
      else {
        // order each doc's (distinct) shingles by (corpus df, hash):
        // deterministic global total order with the rarest first
        val ex = docs.select(col("id"), col("n"), explode(col("hs")).as("h"))
        val freq = ex.groupBy("h").agg(count(lit(1)).as("df"))
        ex.join(freq, "h")
          .groupBy("id", "n")
          .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ps"))
          .select(col("id"), expr("transform(ps, p -> p.h)").as("hs"), col("n"))
      }
    val prefix = ordered.select(col("id"), col("n"),
      posexplode(slice(col("hs"), lit(1),
        greatest((col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int"),
          lit(1)))).as(Seq("p", "h")))
    // PPJoin length filter: J(a,b) ≥ t forces t·|b| ≤ |a| ≤ |b|/t —
    // size-mismatched pairs are pruned inside the join, before distinct.
    // PPJoin POSITIONAL filter: for the pair's first prefix match (0-based
    // positions pa, pb), every other common element sorts after it in
    // both arrays, so overlap ≤ 1 + min(na−pa−1, nb−pb−1); J ≥ t needs
    // overlap ≥ t/(1+t)·(na+nb) — rows failing that bound can't be the
    // first match of a qualifying pair. The bound is compared directly
    // (ub ≥ t/(1+t)·(na+nb)) with an epsilon of slack rather than
    // through ⌈·⌉: float ceil over-rounds for many thresholds (e.g.
    // t=0.2, na+nb=18 → 3.0000000000000004 → ⌈⌉=4, wrongly pruning an
    // exactly-at-threshold pair), and a pruning filter may only ever be
    // LOOSE — extra candidates are killed by the exact verify. Per-row
    // filter + distinct is exact: the first-match row carries the
    // loosest (and valid) bound, so a qualifying pair always survives
    // through it. Measured at
    // sf0.1: candidates 429,655 → 209,474 (2.05×) for +0.3s of per-probe
    // arithmetic in the (broadcast-local) candidate join — a fixture-
    // scale cost, but the 100 TB win: candidate ROWS feed a distinct
    // shuffle plus two verify joins whose sides carry KB-sized shingle
    // arrays, and at cluster scale those are shuffle joins — halving the
    // rows halves the bytes through all three.
    prefix.as("a")
      .join(prefix.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id")
        && col("a.n") >= lit(threshold) * col("b.n")
        && col("b.n") >= lit(threshold) * col("a.n")
        && lit(1) + least(col("a.n") - col("a.p") - 1, col("b.n") - col("b.p") - 1)
          >= lit(threshold / (1 + threshold)) * (col("a.n") + col("b.n")) - lit(1e-9))
      .select(col("a.id").as("da"), col("b.id").as("db"))
      .distinct()
  }

  /** LSH candidates verified by exact Jaccard — the full near-dup
    * pipeline as you'd run it at scale.
    */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double): DataFrame =
    verifyJaccard(minhashCandidates(df, textCol, idCol), df, df,
      textCol, idCol, threshold)

  /** CROSS-TABLE near-dup join — the incremental-ingest form of
    * [[nearDupPairs]]: for each `left` (incoming) doc, find every `right`
    * (existing-corpus) doc with n-gram Jaccard ≥ threshold. This is how a
    * training pipeline dedups a new crawl batch against the corpus it
    * already holds WITHOUT re-pairing the corpus against itself: both
    * sides compute MinHash band keys, candidates meet through one
    * (band, key) equi-join — corpus-side work is linear in corpus size,
    * pair space is bucket-local, and the exact-Jaccard verify runs only
    * on candidates. Output: (da from left, db from right, jaccard).
    */
  def nearDupJoin(left: DataFrame, right: DataFrame,
                  textCol: String, idCol: String,
                  threshold: Double): DataFrame = {
    val cand = bandKeys(left, textCol, idCol, "da")
      .join(bandKeys(right, textCol, idCol, "db"), Seq("band", "key"))
      .select("da", "db").distinct()
    verifyJaccard(cand, left, right, textCol, idCol, threshold)
  }

  /** Eval-set DECONTAMINATION: flag every training doc sharing at least
    * one distinct word n-gram with any eval doc (the GPT-3/PaLM-style
    * contamination rule — n≈8..13 exact n-gram collision, not fuzzy
    * similarity). Output: (doc_id, n_shared) for contaminated training
    * docs, where `n_shared` counts the training doc's distinct shingles
    * that appear anywhere in the eval set.
    *
    * Scale shape: eval n-grams are dedup'd once (eval sets are tiny —
    * thousands of docs vs billions) and meet the training side through a
    * single equi-join the optimizer broadcasts; training-side work is
    * one scan + explode, never pairwise. Joining the shingle STRINGS
    * keeps the op exactly engine-replayable (the q78 oracle rebuilds the
    * same n-grams in SQL); at 100 TB swap the join key for the 8-byte
    * `shingleHashes` form — same plan, ~10× fewer shuffle bytes, and a
    * hash collision can only over-flag (a false contamination), never
    * leak an eval doc through.
    *
    * @param broadcastEval hint the (deduplicated) eval-shingle side for a
    *                      broadcast join — right for the typical tiny eval
    *                      set; pass false when the eval/blocklist side is
    *                      large (an unconditional broadcast would OOM
    *                      executors instead of degrading to a shuffle join)
    */
  def contaminationReport(train: DataFrame, eval: DataFrame,
                          textCol: String, idCol: String, n: Int = 8,
                          broadcastEval: Boolean = true): DataFrame = {
    val trainSh = train.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), n)).as("s"))
    val evalSh = eval.select(explode(shingles(col(textCol), n)).as("s")).distinct()
    val evalSide = if (broadcastEval) broadcast(evalSh) else evalSh
    trainSh.join(evalSide, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_shared"))
  }

  /** [[contaminationReport]] with a BLOOM-FILTER pre-filter on the
    * training side — the 100 TB shape: the exploded training-shingle
    * stream is pruned against a driver-built sketch of the eval set
    * BEFORE any join, so the join input shrinks from "every shingle of
    * the corpus" to "shingles that might be contaminated" (~fpp of the
    * corpus when contamination is rare). The exact equi-join after the
    * sketch removes bloom false positives, and a bloom filter has no
    * false negatives — so the result is IDENTICAL to the exact operator,
    * which is exactly what the q92 gate asserts.
    *
    * The per-row `mightContain` is a Scala UDF (the sketch lives in a
    * broadcast, outside codegen) — acceptable here because it REPLACES
    * shuffle volume rather than adding hot-path work; the 3-of-3 rule
    * (functions > Expression > UDF) is about computation, and this is a
    * data-movement trade.
    *
    * @param expectedEvalShingles sizes the sketch (bits ≈ -n·ln(fpp)/ln2²);
    *                             at the default 1M/1% the bloom is ~1.2 MB
    */
  def contaminationReportBloom(train: DataFrame, eval: DataFrame,
                               textCol: String, idCol: String, n: Int = 6,
                               fpp: Double = 0.01,
                               expectedEvalShingles: Long = 1000000L): DataFrame = {
    val evalSh = eval.select(explode(shingles(col(textCol), n)).as("s")).distinct()
    val bf = evalSh.stat.bloomFilter("s", expectedEvalShingles, fpp)
    val bfB = train.sparkSession.sparkContext.broadcast(bf)
    val mightContain =
      udf((s: String) => s != null && bfB.value.mightContainString(s))
    val trainSh = train
      .select(col(idCol).as("doc_id"), explode(shingles(col(textCol), n)).as("s"))
      .where(mightContain(col("s")))
    trainSh.join(broadcast(evalSh), "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_shared"))
  }

  /** Winnowed document fingerprints — the MOSS algorithm (Schleimer,
    * Wilkerson & Aiken, SIGMOD'03): hash every word k-gram, slide a
    * window of `w` consecutive hashes, select each window's MINIMUM hash
    * (rightmost position on ties), and keep the distinct selected
    * (hash, position) pairs. The guarantee: any shared run of at least
    * w+k−1 words between two documents shares at least one fingerprint,
    * at a stored density of ~2/(w+1) of the gram count — the robust
    * middle ground between exact n-gram decontamination
    * ([[contaminationReport]]: every gram) and MinHash (whole-doc
    * similarity only, no locality).
    *
    * Scale shape (r8, second iteration): winnowing state is DOC-LOCAL
    * by definition, so the first formulation's posexplode → hash
    * partition by doc → per-doc window min paid a full shuffle + sort
    * for what one compiled pass computes in O(#grams) per row —
    * [[graft.functions.WinnowedFingerprints]] (monotonic deque, same
    * rightmost tie rule) now emits each doc's fingerprint set as a
    * shuffle-free codegen projection (PlanSpec pins the no-Window,
    * no-pre-join-Exchange shape; the DuckDB oracle still replays the
    * window-min formulation with the arithmetic h·2²⁰+(2²⁰−1−pos) tie
    * encoding, so the q208 gate IS the equivalence proof — valid for
    * positions < 2²⁰, i.e. documents, not corpora; chunk longer inputs
    * upstream). Matching downstream is an equi-join on the winnowed
    * hash — posting lists ~2/(w+1) the full gram index's size, never
    * pairwise text comparison.
    */
  def winnowedFingerprints(docs: DataFrame, textCol: String, idCol: String,
                           k: Int = 5, w: Int = 4): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.WinnowedFingerprints(col(textCol), k, w))
          .as("fp"))
      .select(col("doc_id"), col("fp.h").as("h"),
        col("fp.fp_pos").as("fp_pos"))

  /** Connected components over a near-dup pair graph: every node gets its
    * component's minimum id as `label` — the cluster-canonical assignment
    * that turns pairwise near-dup evidence into "keep one per cluster".
    *
    * Min-label propagation with POINTER HALVING, the Pregel/GraphX-CC
    * recurrence expressed as DataFrame joins. Labels start at the least
    * of each node's own id and its neighbors' (one aggregate over the
    * edge list, not a round); then each round every node takes the min
    * over its own, its neighbors', and its label's label (the
    * path-compression step — label chains halve every round, so a chain
    * whose ids grow along it converges in O(log diameter) rounds, not
    * O(diameter): the 100-node chain in ExtensionSpec takes 7 rounds
    * (measured) where plain propagation needs 99; with the same chain's
    * ids shuffled, halving helps less, and it took 31). Each round is two
    * (id)-keyed shuffles and one pinned job — NOT a driver-side
    * union-find over collected edges. `localCheckpoint` truncates the
    * growing lineage each round (swap for `checkpoint` on a cluster with
    * a checkpoint dir). Convergence is read off that same job: each node
    * carries its previous label through the round, and an Observation on
    * the pin counts the labels that changed; a round that changes none
    * ends the loop, so no probe job runs.
    */
  def canonicalize(pairs: DataFrame, maxIter: Int = 64): DataFrame =
    canonicalizeGrouped(pairs, Nil, maxIter)

  /** [[canonicalize]] with the components computed INDEPENDENTLY per
    * group: every join/aggregation key gains `groupCols`, so one
    * iterative loop labels all groups at once. This exists for sweep
    * queries (q345: five Jaccard thresholds over nested edge subsets)
    * — per-group loops pay the per-iteration job/shuffle/checkpoint
    * overhead once PER GROUP, while the grouped loop pays it once
    * total and converges in max-over-groups iterations (r14
    * optimization, guide §2.4/§2.6: 5 iterative pipelines → 1).
    * Per-group labels are identical to per-group [[canonicalize]]
    * runs: min-label propagation never crosses a group boundary
    * because every key includes the group columns.
    *
    * @param pairs edge list with columns (groupCols..., da, db)
    * @return one row per (group, node): (groupCols..., id, label)
    */
  def canonicalizeGrouped(pairs: DataFrame, groupCols: Seq[String],
                          maxIter: Int = 64): DataFrame = {
    // r15 A/B (verdict item 5, measured and settled): swapping the
    // loop's lineage cut to persist(MEMORY_AND_DISK)+materialize was
    // measured at 32c and REJECTED — q118 2.34s -> 6.36s, q345 3.21s
    // -> 3.76s. persist does NOT truncate lineage, so every round's
    // plan nests the previous rounds' joins (analysis cost compounds)
    // and the eager count() adds a job per round. Fault-tolerance
    // note for a real cluster: localCheckpoint blocks die with their
    // executor — an unrecoverable loss mid-loop. There, swap the
    // localCheckpoint calls (here and in Pins) for RELIABLE
    // df.checkpoint() (needs sc.setCheckpointDir on durable storage),
    // which truncates lineage the same way; persist is the wrong tool
    // either way.
    val g = groupCols.map(col)
    val edges = pairs.select(g ++ Seq(
      col("da").cast("long").as("src"), col("db").cast("long").as("dst")): _*)
    // materialize the edge list ONCE: `und` feeds every iteration's join,
    // and without this the upstream pair pipeline (LSH + verify when fed
    // from nearDupPairs) would be recomputed per round
    val und = edges.union(edges.select(g ++ Seq(
      col("dst").as("src"), col("src").as("dst")): _*)).localCheckpoint()
    // seed: each node starts at the least of its own id and its
    // neighbours' — one aggregate over `und`, left unpinned because
    // round 1's plan reads it. A node's label is a node of its
    // component, never above its own id, and only falls from here, so
    // the fixpoint is still the component minimum
    var labels = und.groupBy(g :+ col("src"): _*).agg(min("dst").as("m"))
      .select(g ++ Seq(col("src").as("id"),
        least(col("src"), col("m")).as("label")): _*)
    // a disambiguated copy of the group columns for non-equi-named joins
    def gAlias(d: DataFrame, idAs: (String, String), valCol: String) =
      d.select(groupCols.map(c => col(c).as(s"__g_$c")) ++ Seq(
        col(idAs._1).as(idAs._2), col(valCol)): _*)
    // null-safe equality (r14 advice): with plain `===`, edges whose
    // group value is NULL would silently drop from every join (and
    // their nodes from the labeling). q345's thresholds are non-null,
    // but a future caller with a nullable group column must not get
    // silently wrong components. `<=>` plans the same BroadcastHash/
    // SortMergeJoin keys as `===` (EqualNullSafe is a valid equi-join
    // key), so no plan regression.
    def gCond(left: Column): Column =
      groupCols.foldLeft(left)((c, gc) => c && col(gc) <=> col(s"__g_$gc"))
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // `old` rides the min aggregate as the self row's label (neighbour
      // rows carry null), so the round's own pin job counts the changes
      val neighborMin = und
        .join(gAlias(labels, "id" -> "nid", "label"),
          gCond(col("dst") === col("nid")))
        .select(g ++ Seq(col("src").as("id"), col("label"),
          lit(null).cast("long").as("old")): _*)
      val merged = neighborMin.union(labels.select(g ++ Seq(
          col("id"), col("label"), col("label").as("old")): _*))
        .groupBy(g :+ col("id"): _*)
        .agg(min("label").as("label"), max("old").as("old"))
      // pointer halving: also adopt the label of my label (labels are
      // node ids and every node has a row, so the self-join resolves)
      val byLabel = gAlias(merged, "id" -> "lid", "label")
        .withColumnRenamed("label", "llabel")
      val next = merged
        .join(byLabel, gCond(col("label") === col("lid")), "left")
        .select(g ++ Seq(col("id"),
          least(col("label"), coalesce(col("llabel"), col("label")))
            .as("label"), col("old")): _*)
      val (nextP, changed) = Pins.pinCounted(next,
        sum((col("label") =!= col("old")).cast("long")), "old")
      // nextP is pinned, so nothing reads the old labels again (und and
      // the returned frame stay pinned)
      Pins.unpin(labels)
      labels = nextP
      done = changed == 0
      iter += 1
    }
    // silent non-convergence would hand one component several "canonical"
    // ids — dedup would keep duplicate clusters with no sign of trouble
    if (!done) throw new IllegalStateException(
      s"canonicalize did not converge in $maxIter rounds — the loop " +
        s"already halves label chains each round, so raise maxIter")
    labels
  }

  /** 16-bit SimHash over whitespace tokens (with multiplicity): bit b is
    * set iff the signed sum of token-hash bit-b values is positive.
    * Join-free: one explode + one aggregation.
    */
  def simhash16(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(graft.ops.Text.words(col(textCol))).as("w"))
      .withColumn("h", PolyHash(col("w")))
    val bitSums = (0 until 16).map { b =>
      sum(when((col("h") / math.pow(2, b).toLong).cast("long") % 2 === 1, 1)
        .otherwise(-1)).as(s"s$b")
    }
    toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 16).map(b =>
          when(col(s"s$b") > 0, math.pow(2, b).toLong).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Embedding-cosine near-dup pairs above a threshold — the scale path:
    * OR-amplified random-hyperplane LSH candidates verified by exact
    * cosine. Each vector gets one bucket id per hash table (`nTables`
    * independent plane sets); a pair is a candidate iff it collides in ANY
    * table. Candidate enumeration is a single equi-self-join on
    * (table, bucket) — never O(n²) — and the exact cosine runs only on
    * candidates. Recall < 1 by construction (hyperplane LSH misses a
    * θ-apart pair in one 8-bit table with prob 1−(1−θ/π)^8; tables are
    * OR-ed to push recall up); the brute form [[embeddingNearDupBrute]]
    * is the exact reference, and the spec pins bucketed ⊆ brute.
    *
    * Tuning rule: pick `nPlanes` from the threshold. A pair at angle θ
    * collides in one table with prob (1 − θ/π)^nPlanes, so tight
    * thresholds (cos ≥ 0.9, θ ≤ 26°) support 8 planes/table (0.29/table,
    * ~94% recall with 8 tables), while wide thresholds (cos ≈ 0.45,
    * θ ≈ 63°) need short codes — 4 planes (0.18/table) — at the cost of
    * coarser buckets. The q47 gate uses (nTables=8, nPlanes=4) for its
    * 0.45 threshold; production near-dup at 0.9+ should keep the 8-plane
    * default for 2^8 buckets of pruning.
    */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       threshold: Double, nTables: Int = 4,
                       nPlanes: Int = 8): DataFrame = {
    val dim = SimilaritySearch.deriveDim(df, vecCol)
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // (id, table, bucket) — vectors NOT carried through the explode; the
    // shuffle key is 3 small columns, vectors re-join only on candidates
    val tableBuckets = (0 until nTables).map { t =>
      struct(lit(t).as("t"),
        SimilaritySearch.bucket(col("v"), SimilaritySearch.planes(nPlanes, dim, seed = 7 + t)).as("bkt"))
    }
    val bucketed = v
      .select(col("id"), explode(array(tableBuckets: _*)).as("tb"))
      .select(col("id"), col("tb.t").as("t"), col("tb.bkt").as("bkt"))
    val cand = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.t") === col("b.t") && col("a.bkt") === col("b.bkt")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"))
      .distinct()
    cand
      .join(v.select(col("id").as("da"), col("v").as("va")), "da")
      .join(v.select(col("id").as("db"), col("v").as("vb")), "db")
      .withColumn("cos", Rounding.stableRound6(
        graft.functions.VectorFunctions.cosineSim(col("va"), col("vb"))))
      .where(col("cos") > threshold)
      .select("da", "db", "cos")
  }

  /** Brute-force exact embedding near-dup (O(n²) self-join) — the oracle
    * reference for [[embeddingNearDup]]; run it only at verify scale.
    */
  def embeddingNearDupBrute(df: DataFrame, vecCol: String, idCol: String,
                            threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("da"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("db"), col(vecCol).as("vb"))
    a.crossJoin(b)
      .where(col("da") < col("db"))
      .withColumn("cos", Rounding.stableRound6(
        graft.functions.VectorFunctions.cosineSim(col("va"), col("vb"))))
      .where(col("cos") > threshold)
      .select("da", "db", "cos")
  }
}
