package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Bounded lifecycle for operator-internal persisted tables.
  *
  * Operators like MinHash-LSH and sign-LSH ANN materialize an
  * intermediate (signatures, prepared corpus, trained centroids) that
  * several plans read. Bare `persist()` leaks: every invocation in a
  * long session registers another cached table, bounded only by the
  * cache manager's plan-dedup. Routing it through [[swapByInput]]
  * keeps at most ONE live table per (session, key), held together with
  * the untyped INPUT plan it was built from: re-invoking the operator
  * on a NEW input unpersists the previous table; re-invoking on the
  * SAME input (`sameResult`) hands the live table back without
  * building the new plan. [[swap]] is the common case where the input
  * IS the cached plan.
  *
  * Keying on the input, not the built plan, is what lets one rule
  * cover every operator: typed pipelines (mapPartitions closures),
  * udaf-bearing plans (freshly resolved encoders on every analysis)
  * and eager loops (localCheckpoint leaves) never compare `sameResult`
  * to their own re-construction, but their untyped source frame does.
  * The memo is sound only when the build is deterministic in its
  * input and in whatever the key encodes (geometry, call site) — the
  * same contract a shuffle-file reuse assumes.
  *
  * SINGLE-SLOT CONTRACT: a workload that ALTERNATES two inputs on one
  * key (corpus A, corpus B, corpus A, …) unpersists and recomputes on
  * every call while looking cached — a throughput hazard, never a
  * correctness one, since a hit requires `sameResult` against the
  * stored input. The declared query surface never alternates
  * (InvariantsSpec's "OpCache single-slot" test constructs the full
  * surface twice on a fresh session and asserts via `alternations`
  * that no key observed a second distinct input); a consumer that
  * genuinely alternates inputs should use per-input keys rather than
  * widening this cache to multi-slot.
  */
object OpCache {

  /** Join cache-key parameter segments UNAMBIGUOUSLY: NUL cannot occur
    * in a SQL identifier, so — unlike the '.'-joined convention it
    * replaces — ("a.b","c") and ("a","b.c") map to distinct keys. A
    * collision is only ever a throughput hazard (slot alternation;
    * the slot itself is plan-checked), but it would defeat
    * parameter-shaped keys for exactly the dotted column names they
    * exist to distinguish.
    */
  def paramKey(segments: String*): String = segments.mkString("\u0000")

  // Keyed by (session, call site): a plan-equal DataFrame from a
  // STOPPED session must never be handed back to a new one. The value
  // is the analyzed input plan the entry was built from, and the
  // persisted result.
  private val slots = scala.collection.mutable.Map
    .empty[(org.apache.spark.sql.SparkSession, String),
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame)]

  // ——— no-alternation observability (the r11 verdict's finding #3:
  // the single-slot contract's "never alternates" claim was verified
  // by hand each round) ———
  // Every call records the semanticHash of the input plan it carried
  // (the same equivalence `sameResult` decides hits on). A key is a
  // throughput hazard only if it sees MORE THAN ONE distinct
  // fingerprint in a session (every later call thrashes the slot); `alternations` surfaces
  // exactly those keys, and the InvariantsSpec single-slot test
  // asserts the set is empty over the full declared surface on a
  // fresh session. Deliberately NOT cleared by `clear()` (wiping it on
  // the teardown path would let the audit pass vacuously) — but WEAKLY
  // keyed by session: a strong (session, key) map would pin every
  // session that ever routed through the cache (SessionState, analyzer
  // caches and all) for the JVM's lifetime, so a per-job
  // `spark.newSession()` driver would leak one session per job. Dead
  // sessions take their audit rows with them; the audit only ever
  // queries live ones. All access is under OpCache.synchronized, so
  // the non-thread-safe WeakHashMap is fine here.
  private val observed = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    scala.collection.mutable.Map[
      String, scala.collection.mutable.LinkedHashSet[String]]]()

  private def record(
      session: org.apache.spark.sql.SparkSession, key: String, fp: String): Unit = {
    var perSession = observed.get(session)
    if (perSession == null) {
      perSession = scala.collection.mutable.Map.empty
      observed.put(session, perSession)
    }
    perSession.getOrElseUpdate(
      key, scala.collection.mutable.LinkedHashSet.empty) += fp
  }

  /** Keys of `spark`'s cache that observed ≥2 distinct input
    * fingerprints, with the fingerprints in first-seen order.
    */
  def alternations(
      spark: org.apache.spark.sql.SparkSession): Map[String, Seq[String]] = synchronized {
    Option(observed.get(spark)).fold(Map.empty[String, Seq[String]])(_.collect {
      case (k, fps) if fps.size > 1 => k -> fps.toSeq
    }.toMap)
  }

  /** Keys `spark`'s cache has observed at all (audit completeness:
    * the single-slot test also asserts the surface actually ROUTES
    * through the cache, so an accidental de-caching refactor can't
    * make the no-alternation assertion vacuous).
    */
  def observedKeys(spark: org.apache.spark.sql.SparkSession): Set[String] = synchronized {
    Option(observed.get(spark)).fold(Set.empty[String])(_.keySet.toSet)
  }

  /** Persist `df` in the `key` slot, or hand back the live entry when
    * it was built from a plan-equal frame (same plan, so identical
    * output attributes — both come from the same operator code).
    */
  def swap(key: String, df: DataFrame): DataFrame = swapByInput(key, df)(df)

  /** The memo primitive: the `key` slot's table when it was built from
    * an input `sameResult` to `input`, else `build` (by-name — a hit
    * never constructs it), persisted into the slot in place of the old
    * entry, which is unpersisted.
    */
  def swapByInput(key: String, input: DataFrame)(build: => DataFrame): DataFrame =
    synchronized {
      val spark = input.sparkSession
      val plan = input.queryExecution.analyzed
      record(spark, key, plan.semanticHash().toString)
      slots.get((spark, key)) match {
        case Some((stored, df)) if stored.sameResult(plan) =>
          // An external `spark.catalog.clearCache()` (or an unpersist
          // of a plan-equal frame — uncacheQuery matches by plan, not
          // by object) can strip the persistence out from under a live
          // entry; handing it back unrepaired makes EVERY subsequent
          // hit recompute the full lineage while looking cached.
          // Re-pin it.
          if (df.storageLevel == StorageLevel.NONE)
            df.persist(StorageLevel.MEMORY_AND_DISK)
          df
        case other =>
          other.foreach(_._2.unpersist(blocking = false))
          val fresh = build
          slots.put((spark, key), (plan, fresh))
          fresh.persist(StorageLevel.MEMORY_AND_DISK)
      }
    }

  // Operator state that doesn't route through a slot (the streaming
  // fold memos, broadcast bloom filters) registers an eviction hook so
  // clear() empties it too — one call tears down ALL operator state.
  private val clearHooks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  def registerClearHook(hook: () => Unit): Unit = synchronized {
    clearHooks += hook
  }

  /** Drop every live operator table (end-of-session / test teardown). */
  def clear(): Unit = synchronized {
    slots.values.foreach(_._2.unpersist(blocking = false))
    slots.clear()
    clearHooks.foreach(_.apply())
  }
}
