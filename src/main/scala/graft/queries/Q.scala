package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: the Spark pipeline and (when expressible)
  * the equivalent ANSI SQL the driver runs in DuckDB as the correctness
  * oracle. Keeping both halves in one value keeps column aliases in sync —
  * the driver's compare sorts columns by name, so any alias drift between
  * the Spark output and the oracle output fails the hash match.
  *
  * Oracle-safety rules for float outputs (all fixture doubles are exact
  * 2-decimal or integral values — see FIXTURES.md):
  *  - sums of integral doubles (e.g. l_quantity) are exact and
  *    order-independent: emit raw.
  *  - sums of k-decimal-exact doubles/products: the true total is a
  *    k-decimal multiple, so `round(sum, k)` lands both engines on the same
  *    value despite order-dependent last-ulp drift. Never emit an unrounded
  *    non-integral sum.
  *  - averages/ratios: round at a resolution ≥ 1e6× the expected fp
  *    divergence (round(.,4) for ~1e4-magnitude values).
  *  - every query ends in a deterministic ORDER BY with a full tiebreak.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
