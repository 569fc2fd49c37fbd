package graft

import org.apache.spark.sql.SparkSession

/** Lifetime scoping for the engine's shared persisted frames.
  *
  * Query BUILDERS are lazy — [[graft.queries.DocQueries]]'s shingle/pair
  * frames and [[graft.operators.Similarity]]'s prepared/assignment frames
  * call `persist` inside a plan the CALLER later executes, so the builder
  * itself cannot try/finally-unpersist (the block would be dropped before
  * the caller's action reads it). Deliberately so: the CacheManager dedups
  * the identical sub-plans ACROSS queries (d2/d2c/d3 share one shingle
  * materialization; v3/v4/d9 one assignment), which a builder-scoped
  * persist would forfeit. The consequence is that in a long-lived session
  * those MEMORY_AND_DISK blocks outlive the queries that created them.
  *
  * [[scoped]] is the batch-level answer: snapshot the persistent-RDD set,
  * run a batch of queries (keeping every intra-batch sharing win), then
  * free precisely the storage the batch materialized — the caller's own
  * cached frames are untouched, unlike `spark.catalog.clearCache()`.
  * Verify wraps its gate run in it; Bench clears between workload phases.
  *
  * One subtlety: freeing the blocks does not remove the CacheManager's
  * plan-cache ENTRIES (that registry has no public per-plan API), so a
  * later identical query transparently re-materializes its cache — the
  * behavior of an evicted cache, correct and lazy, paying recompute once.
  *
  * Contract: execute every ACTION on the batch's results INSIDE the
  * scope. Cached plans re-materialize lazily after exit, but a frame
  * built on a [[Rounds]] checkpoint has truncated lineage — once its
  * blocks are freed it cannot be recomputed, so a DataFrame smuggled out
  * of the scope and collected later may fail.
  */
object CacheScope {

  /** Run `body`, then unpersist every RDD that became persistent during
    * it. Exception-safe: blocks are freed on the error path too.
    */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !before.contains(id) }
        .values
        .foreach(_.unpersist(blocking = false))
      ()
    }
  }
}
