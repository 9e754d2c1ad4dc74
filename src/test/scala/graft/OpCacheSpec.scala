package graft

import org.apache.spark.storage.StorageLevel

import graft.operators.OpCache

/** Lifecycle tests for the operator-table cache: the swap contract
  * (one live table per call site) must survive an EXTERNAL unpersist —
  * `spark.catalog.clearCache()` (or an unpersist of any plan-equal
  * frame, since the cache manager matches by plan) strips persistence
  * out from under a live entry; handing it back unrepaired makes every
  * subsequent "cache hit" silently recompute the full lineage (the
  * r8 x91 isolated-retime anomaly class).
  */
class OpCacheSpec extends SparkSpec {

  private def plan() = {
    import sqlImplicits._
    (1 to 100).toDF("n").groupBy((org.apache.spark.sql.functions.col("n") % 7).as("k")).count()
  }

  test("swap re-pins a live entry after an external clearCache") {
    val a = OpCache.swap("opcachespec.swap", plan())
    a.count()
    assert(a.storageLevel != StorageLevel.NONE)
    spark.catalog.clearCache() // the external rug-pull
    assert(a.storageLevel == StorageLevel.NONE)
    val b = OpCache.swap("opcachespec.swap", plan())
    assert(b.storageLevel != StorageLevel.NONE,
      "a plan-equal swap hit must re-pin the unpersisted entry, not return a ghost")
    OpCache.clear()
  }

  test("swapByInput: an input-plan hit skips the typed build entirely; a new input swaps") {
    import sqlImplicits._
    val in1 = (1 to 50).toDF("n")
    val in2 = (1 to 60).toDF("n")
    var builds = 0
    def build(in: org.apache.spark.sql.DataFrame) = { builds += 1; in.groupBy().count() }
    val a = OpCache.swapByInput("opcachespec.byinput", in1)(build(in1))
    a.count()
    assert(builds == 1 && a.storageLevel != StorageLevel.NONE)
    // plan-equal input (a fresh but identical frame): the by-name
    // build must NOT be forced — that is the point of the variant
    // (udaf-bearing typed plans can't compare sameResult to their own
    // re-construction, so the hit decision can't involve them)
    val b = OpCache.swapByInput("opcachespec.byinput", (1 to 50).toDF("n"))(build(in1))
    assert(builds == 1, "an input-plan hit must not construct the typed plan")
    assert(b eq a)
    // external rug-pull: the hit must re-pin, like swap
    spark.catalog.clearCache()
    assert(a.storageLevel == StorageLevel.NONE)
    val c = OpCache.swapByInput("opcachespec.byinput", in1)(build(in1))
    assert(c.storageLevel != StorageLevel.NONE, "an input hit must re-pin the unpersisted entry")
    assert(builds == 1)
    // a DIFFERENT input swaps the slot and rebuilds
    val d = OpCache.swapByInput("opcachespec.byinput", in2)(build(in2))
    assert(builds == 2 && d.storageLevel != StorageLevel.NONE)
    OpCache.clear()
  }

  test("one slot per key across entry points: swap evicts a swapByInput entry on another input") {
    import sqlImplicits._
    val in1 = (1 to 30).toDF("n")
    val a = OpCache.swapByInput("opcachespec.shared", in1)(in1.groupBy().count())
    a.count()
    assert(a.storageLevel != StorageLevel.NONE)
    val b = OpCache.swap("opcachespec.shared", plan())
    assert(b.storageLevel != StorageLevel.NONE)
    assert(a.storageLevel == StorageLevel.NONE,
      "a swap on the same key must unpersist the entry swapByInput left there")
    OpCache.clear()
  }

  test("alternation audit: a key fed two distinct inputs is flagged, per session") {
    import sqlImplicits._
    val in1 = (1 to 10).toDF("n")
    val in2 = (1 to 20).toDF("n")
    OpCache.swapByInput("opcachespec.alt", in1)(in1.groupBy().count())
    OpCache.swapByInput("opcachespec.alt", in2)(in2.groupBy().count())
    val alts = OpCache.alternations(spark)
    assert(alts.contains("opcachespec.alt") && alts("opcachespec.alt").size == 2,
      s"two distinct inputs on one key must surface in alternations, got $alts")
    // session-scoped: a fresh session has its own (empty) audit row
    val s2 = spark.newSession()
    assert(OpCache.alternations(s2).isEmpty && OpCache.observedKeys(s2).isEmpty)
    OpCache.clear()
  }
}
