package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD

/** The lineage cut of the iterative `graft.ext` loops ([[Dedup]]'s
  * connected components, [[Graph]]'s PageRank and BFS): `localCheckpoint`
  * to pin a round, `unpin` to free the round it supersedes.
  */
private[ext] object Pins {

  /** `df` minus the `drop` columns, pinned with `localCheckpoint`, and
    * the aggregate `n` over `df`'s rows read from that same pin job
    * through an [[Observation]]: a loop that needs a count of what it
    * just pinned (a node count, a frontier size, a changed-label count)
    * starts no second job for it. `n` sees the `drop` columns, the pin
    * does not store them. A null aggregate (no rows) reads as 0. The
    * observation wraps the whole plan, so it runs in the pin job's
    * result stage, whose task updates Spark applies once per partition
    * even when a task is retried.
    */
  def pinCounted(df: DataFrame, n: Column, drop: String*): (DataFrame, Long) = {
    val obs = Observation()
    val pinned = df.observe(obs, n.as("n")).drop(drop: _*).localCheckpoint()
    obs.get("n") match {
      case null => (pinned, 0L)
      case v => (pinned, v.asInstanceOf[Number].longValue)
    }
  }

  /** Frees a pinned frame's blocks now rather than whenever GC lets
    * ContextCleaner find them. A no-op unless `df` is itself a pin (a
    * projection over one is left alone).
    */
  def unpin(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
