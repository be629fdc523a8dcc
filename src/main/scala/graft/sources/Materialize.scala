package graft.sources

import org.apache.spark.sql.DataFrame

/** The one materialization policy: every pin in the engine goes through
  * here, so the storage level and the release rule are decided once.
  * Lifetime: a pinned relation belongs to the query that built it —
  * [[graft.Harness.runQuery]] clears the cache when the query returns,
  * so nothing pinned here outlives it. Cross-query reuse is a
  * [[FingerprintMemo]]'s job, never the cache's. */
private[graft] object Materialize {
  private val Level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Persists `df` and runs one `count()`, returning the cached frame —
    * for a relation read more than once downstream. Unpinned, Catalyst
    * plans the producing subtree once per reference (lambda exprIds
    * defeat ReuseExchange); the count gives the optimizer real stats, so
    * joins against a small pin broadcast and a large one still shuffles
    * (the k5b/d5 discipline). The cost: building a DataFrame over an
    * `eager` relation RUNS one Spark job, so plan-only consumers
    * (explain, plan audits) execute the producing subtree too. */
  def eager(df: DataFrame): DataFrame = {
    val pinned = df.persist(Level)
    pinned.count()
    pinned
  }

  /** Persists `df` while `use` — a driver-side step that reads it several
    * times — runs, and releases it when `use` returns or throws. */
  def during[A](df: DataFrame)(use: DataFrame => A): A = {
    val pinned = df.persist(Level)
    try use(pinned) finally pinned.unpersist()
  }
}
