package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Guarded persist for operators whose plans have multiple consumers.
  *
  * `Dataset.persist` on a plan the CacheManager already tracks logs an
  * `Asked to cache already cached data` warning and pays registry
  * bookkeeping without adding reuse — and several graft operators are
  * invoked repeatedly over the SAME logical plan (bench warm-up + two
  * timed passes; cluster_dedup and dedup_keep_best sharing one pair
  * graph; five-entity id-map chains). `Dataset.storageLevel` consults the
  * CacheManager by canonicalized plan, so the guard is cross-invocation
  * safe: the first caller persists, every later caller (even holding a
  * different Dataset object over an equal plan) reuses the entry silently.
  *
  * Cache ownership: entries registered here are deliberately LEFT for
  * Spark's LRU to manage — blocks evict under memory pressure with
  * recompute-on-eviction as the fallback (the lineage stays valid), so a
  * long-lived session holds at most one entry per distinct operator plan,
  * not one per invocation. For deterministic release there are two levels:
  *
  *   - [[acquire]] returns a release handle bound to its REGISTRATION
  *     (a monotone epoch, not object identity — the same Dataset object
  *     can be re-registered after an external unpersist, and its older
  *     handle must not evict the newer registration). The handle
  *     unpersists iff its registration is still the current one for both
  *     the wrapper and the plan; in every other case — the guard found an
  *     existing equal-plan entry, the entry was dropped externally, a
  *     newer registration owns the plan — it no-ops: another consumer's
  *     cache is never pulled out from under it.
  *   - [[releaseAll]] drops every entry the guard registered in this
  *     process — the session-teardown hook for a long-lived application
  *     embedding the engine (`SparkEntry.releaseSharedCaches`).
  *
  * Ownership refs are STRONG, held until release: Spark's own CacheManager
  * already holds every registered plan tree strongly until unpersist (a
  * weak registry here would unpin nothing — it would only let wrapper GC
  * silently disown entries, leaving them unreleasable by [[releaseAll]]
  * for the session's lifetime). So the registry's footprint tracks the
  * set of LIVE registrations — what the CacheManager pins anyway — and
  * wrappers orphaned by direct external unpersists (with or without a
  * later re-registration of the plan) are swept once the registry crosses
  * the size gate: an entry is stale exactly when its epoch is no longer
  * its plan's current one, or its plan is no longer cached at all.
  *
  * All registry transitions run under ONE monitor (acquire's
  * check-then-persist, release, releaseAll, the sweep), so two threads
  * acquiring equal canonical plans cannot both register, and a release
  * cannot interleave with a concurrent acquire's storageLevel check.
  * Spark's CacheManager locks nest INSIDE this monitor everywhere and
  * Spark never calls back into this object, so the ordering is acyclic.
  */
object Caching {

  // wrapper -> registration epoch, for releaseAll() and handle validity;
  // plan(canonicalized) -> current registration epoch, so handles and the
  // sweep can tell a live registration from a superseded one
  private val owned = new java.util.IdentityHashMap[DataFrame, java.lang.Long]()
  private val ownerByPlan =
    new java.util.HashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, java.lang.Long]()
  private var epoch = 0L
  private val monitor = new Object

  private def canon(df: DataFrame) = df.queryExecution.analyzed.canonicalized

  def ensurePersisted(df: DataFrame,
                      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    acquire(df, level)._1

  /** Guarded persist WITH an ownership-scoped release handle. The handle
    * unpersists iff this invocation's registration is still current;
    * otherwise it no-ops and cache lifetime stays with the current
    * owner / LRU.
    */
  def acquire(df: DataFrame,
              level: StorageLevel = StorageLevel.MEMORY_AND_DISK): (DataFrame, () => Unit) =
    monitor.synchronized {
      if (df.storageLevel == StorageLevel.NONE) {
        if (owned.size() >= PruneThreshold) prune()
        df.persist(level)
        epoch += 1
        val e = epoch
        owned.put(df, e)
        ownerByPlan.put(canon(df), e)
        (df, () => release(df, e))
      } else (df, () => ())
    }

  private def release(df: DataFrame, e: Long): Unit = monitor.synchronized {
    // valid only while this registration is current for the WRAPPER (the
    // same object may have been re-registered after an external unpersist
    // — identity alone cannot tell the two registrations apart)…
    val cur = owned.get(df)
    if (cur != null && cur.longValue == e) {
      owned.remove(df)
      val c = canon(df)
      // …and for the PLAN (a different wrapper over an equal plan may own
      // the current cache entry)
      val planCur = ownerByPlan.get(c)
      if (planCur != null && planCur.longValue == e) {
        ownerByPlan.remove(c)
        df.unpersist()
      }
      ()
    }
  }

  // Sweep registry entries whose registration is no longer live: the plan
  // is uncached (caller unpersisted directly, nothing re-registered), or a
  // newer registration superseded this epoch (re-registration after a
  // direct unpersist — storageLevel alone cannot detect this case, since
  // the by-plan lookup resolves to the NEW entry). Walks all entries
  // (each an O(#cached) CacheManager lookup), so it is gated behind a
  // registry-size cap rather than run per registration; correctness never
  // depends on it — stale handles are already neutralized by the epoch
  // checks — it only bounds strong-ref accumulation. Caller holds
  // `monitor`.
  private val PruneThreshold = 64

  private def prune(): Unit = {
    val stale = new java.util.ArrayList[DataFrame]()
    owned.forEach { (df, e) =>
      val current = ownerByPlan.get(canon(df))
      if (current == null || current.longValue != e.longValue ||
          df.storageLevel == StorageLevel.NONE)
        stale.add(df)
    }
    stale.forEach { df =>
      val e = owned.remove(df)
      val c = canon(df)
      val current = ownerByPlan.get(c)
      if (current != null && e != null && current.longValue == e.longValue) {
        ownerByPlan.remove(c); ()
      }
    }
  }

  /** Registry size, for the sweep's spec only — the count of live
    * registrations (including any stale ones not yet swept).
    */
  private[graft] def registeredCount: Int = monitor.synchronized(owned.size())

  /** Drop the block-store registration behind an eagerly
    * `localCheckpoint`ed frame. localCheckpoint persists at the RDD
    * level — it never enters the CacheManager, so neither the acquire
    * discipline nor [[releaseAll]] can reach it, and an iterative loop
    * (PageRank, pointer-doubling label propagation) would otherwise leak
    * one materialized frame per round for the session's lifetime. Safe
    * ONLY once a later checkpoint (or a collect) has severed every
    * consumer's need to re-read the blocks — LocalRDDCheckpointData
    * replaces the materialized round's dependencies at doCheckpoint
    * time, so nothing can recompute through a dropped round.
    */
  def dropLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Unpersist every entry this guard registered — the deterministic drop
    * for a long-lived session done with the engine's shared frames
    * (shingle bases, the LSH pair graph, id-map deltas). Safe to call at
    * any time: lineage stays valid, so later queries recompute (and
    * re-register) what they need.
    */
  def releaseAll(): Unit = monitor.synchronized {
    // unpersist inside the monitor: a concurrent acquire must not observe
    // an entry as cached after its registration has been cleared (it
    // would hand out a no-op handle over a cache about to vanish)
    owned.keySet().forEach { df =>
      try df.unpersist()
      catch { case _: Throwable => () } // session may already be stopped
    }
    owned.clear()
    ownerByPlan.clear()
  }
}
