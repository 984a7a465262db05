package graft.util

import org.apache.spark.sql.SparkSession

/** Long-session storage hygiene for multi-query drivers (Bench, Verify).
  *
  * A local-mode session that executes hundreds of query plans accumulates
  * state no single plan owns: persisted RDDs whose owning DataFrame was
  * dropped but not yet GC'd (ContextCleaner is weak-reference-driven, so
  * reclamation waits for a driver GC), cached plans (held STRONGLY by
  * CacheManager — never reclaimed automatically), and broadcast blocks
  * from every hash join. Round 6 measured the effect: untouched queries ran
  * 2-4× slower late in a 98-query session than standalone. On a real
  * cluster the same accumulation taxes a long-lived driver and its
  * executors' storage memory.
  *
  * `scrub` restores the session to its post-warm-up state between queries:
  * query N+1 should never pay for query N's scratch state.
  */
object SessionHygiene {

  /** RDD ids persisted right now — capture after warm-up to mark state
    * that should survive scrubs (none today; future memoized layouts). */
  def persistedIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drop scratch state the last query left behind. `gc` additionally runs
    * a driver GC so ContextCleaner's weak references are processed and
    * dead broadcast/RDD blocks actually leave the block manager — worth
    * ~0.1 s between timed queries, never inside a timed region. */
  def scrub(spark: SparkSession, keep: Set[Int] = Set.empty,
            gc: Boolean = false): Unit = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = false)
    }
    spark.catalog.clearCache()
    if (gc) System.gc()
  }
}
