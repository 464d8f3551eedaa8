package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.LongType

import graft.functions._

/** SparkSessionExtensions entry point — the standard way to install the
  * engine into ANY session, including spark-submit jobs that never touch
  * graft code directly:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * Installs the engine's custom Catalyst expressions as SQL functions via
  * `injectFunction` (the public API), plus ONE resolution rule:
  * [[graft.sources.GraftChangeFeedRule]], which substitutes the
  * change-feed plan for `readChangeFeed=true` graft-versioned relations
  * (a change feed is per-commit relational algebra, not a leaf scan —
  * the same extension-rule shape Delta uses for CDF). No planner
  * strategies: every operator still composes from built-ins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // readChangeFeed=true reads substitute the change-feed plan for
    // the relation during analysis (the Delta CDF shape) — see
    // graft.sources.GraftChangeFeed
    e.injectResolutionRule(session =>
      new graft.sources.GraftChangeFeedRule(session))
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
          usage, ""),
        builder))
    }
  }
}

object GraftExtensions {

  /** The engine's SQL function table, `(name, usage, builder)`, which
    * [[GraftExtensions]] injects into every session. Builders take
    * literal arguments where the usage says so.
    */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("poly_hash", "poly_hash(str) - oracle-replayable rolling hash",
      es => PolyHash(es.head)),
    ("cosine_sim",
      "cosine_sim(array<float>, array<float>) - cosine similarity",
      es => CosineSimilarity(es(0), es(1))),
    ("dot_product", "dot_product(array<float>, array<float>)",
      es => DotProduct(es(0), es(1))),
    ("shingle_hashes", "shingle_hashes(str) - distinct word-3gram hashes",
      es => ShingleHashes(es.head, 3)),
    // int literals welcome: cast the base offset to bigint for the user
    ("tokenize_with_offsets",
      "tokenize_with_offsets(str, base) - reference tokenizer",
      es => TokenizeWithOffsets(es(0), Cast(es(1), LongType))),
    ("lsh_bucket",
      "lsh_bucket(vec, nPlanes, dim, seed) - hyperplane LSH bucket id (literal int args)",
      graft.ext.SimilaritySearch.lshBucketBuilder),
    ("word_ngrams",
      "word_ngrams(str, n[, distinct]) - word n-grams, compiled (literal n/distinct)",
      WordNgrams.builder),
    ("nfc_normalize", "nfc_normalize(str) - Unicode NFC normalization",
      es => NfcNormalize(es.head)),
    ("winnowed_fingerprints",
      "winnowed_fingerprints(str, k, w) - MOSS winnowed (hash, pos) fingerprints (literal k/w)",
      WinnowedFingerprints.builder),
    ("jaro_winkler",
      "jaro_winkler(str, str) - byte-oriented Jaro-Winkler similarity" +
        " (DuckDB-pinned semantics)",
      es => JaroWinkler(es(0), es(1))),
    ("damerau_levenshtein",
      "damerau_levenshtein(str, str) - byte-oriented unrestricted" +
        " Damerau-Levenshtein distance",
      es => DamerauLevenshtein(es(0), es(1))),
    ("l2_distance",
      "l2_distance(array<float>, array<float>) - Euclidean distance",
      es => L2Distance(es(0), es(1))),
    ("hilbert_index",
      "hilbert_index(x, y, order) - Hilbert-curve cell index (literal order)",
      HilbertIndex.builder))
}
