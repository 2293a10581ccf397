package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Staging

/** The structural form of the ordered-materialization discipline
  * (r16 verdict #4): a cached frame consumed by ≥2 branches of a plan
  * whose buffers are NOT materialized when the action starts is a
  * scheduler race — the final join runs its independent sides
  * concurrently, and every side that loses the cache-build race
  * recomputes the staged kernel (q84's r15/r16 regression: up to 94 s
  * of duplicated explode CPU, visible only as bimodal cpu_passes).
  *
  * The engine's resolution keeps query cores PURE at plan-build time
  * (the BandCapSpec/JaccardCapSpec zero-jobs contract) and pins the
  * race at the ACTION layer: Bench's execute, Verify's dump and
  * Staging.run all call [[Staging.pinCaches]], which builds each
  * unloaded multi-consumer cache with one sequential job before the
  * consuming action. This spec drives that machinery over EVERY
  * SparkEntry query at sf0.001 and asserts the post-pin plan is
  * race-free — the check the q84 regression would have failed.
  */
class RaceDisciplineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("after pinCaches, no query plan holds an unmaterialized multi-consumer cache") {
    val dir = "/root/testdata/sf0.001"
    val skipped = collection.mutable.ListBuffer[String]()
    val violations = collection.mutable.ListBuffer[String]()
    var pinnedSomewhere = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      spark.catalog.clearCache()
      val df =
        try Some(fn(spark, dir))
        catch { case e: Throwable => skipped += s"$name (${e.getClass.getSimpleName})"; None }
      df.foreach { d =>
        pinnedSomewhere += Staging.pinCaches(d)
        val v = Staging.unpinnedMultiUse(d)
        if (v.nonEmpty) violations += s"$name: ${v.mkString(", ")}"
      }
    }
    spark.catalog.clearCache()
    // every query must at least BUILD here — a skip means the spec
    // lost coverage, which must be loud, not silent
    assert(skipped.isEmpty, s"queries failed to build: ${skipped.mkString("; ")}")
    assert(violations.isEmpty,
      s"race-prone caches survived pinCaches:\n  ${violations.mkString("\n  ")}")
    // the machinery must be exercised for real: the pure staged cores
    // (q24/q25/q113/...) guarantee unloaded multi-use caches exist
    // pre-pin; if this hits zero the detector is broken, and a silent
    // no-op here would un-catch the whole q84 class
    assert(pinnedSomewhere > 0,
      "pinCaches materialized nothing across all queries — detector broken?")
  }

  test("pinCaches builds each multi-consumer cache exactly once, dependencies included") {
    import spark.implicits._
    spark.catalog.clearCache()
    // nested staging: child cache inside a parent cache, parent
    // consumed twice; the child is single-use (one scan node inside
    // the parent) so only the parent needs a build
    val child = Staging.staged(spark.range(100).select($"id", ($"id" * 2).as("y")))
    val parent = Staging.staged(child.filter($"id" % 2 === 0))
    val two = parent.select($"id").union(parent.select($"y"))
    assert(Staging.unpinnedMultiUse(two).nonEmpty)
    val built = Staging.pinCaches(two)
    assert(built == 1, s"expected to build the one multi-use cache, built $built")
    assert(Staging.unpinnedMultiUse(two).isEmpty)
    // idempotent: a second pin is a no-op
    assert(Staging.pinCaches(two) == 0)
    assert(two.count() == 100)
    spark.catalog.clearCache()
  }

  test("a multi-consumer cache NESTED inside another cache is found and pinned first") {
    import spark.implicits._
    spark.catalog.clearCache()
    // the q113 fp-inside-fpk shape that the first (top-level-only)
    // pinCaches missed: `fp` is consumed TWICE inside `fpk`'s cached
    // plan (directly and through the anti-join's aggregate side) and
    // never appears in the top-level plan — InMemoryRelation is a
    // LeafNode. The DAGScheduler runs the anti-join's independent
    // stages of fpk's ONE build job concurrently, so an unbuilt fp is
    // a real race even inside a single pin job; children must build
    // first.
    val fp = Staging.staged(
      spark.range(1000).select(($"id" % 97).as("k"), $"id".as("v")))
    val hot = fp.groupBy($"k").count().filter($"count" > 15).select($"k")
    val fpk = Staging.staged(fp.join(hot, Seq("k"), "left_anti"))
    val top = fpk.select($"v".as("i")).union(fpk.select($"v".as("j")))
    // detection: BOTH caches are unpinned multi-use (fpk twice at top
    // level; fp twice inside fpk's plan)
    assert(Staging.cacheUse(top).count { case (_, n, _) => n >= 2 } == 2,
      s"nested multi-use cache not detected: ${Staging.cacheUse(top)}")
    val built = Staging.pinCaches(top)
    assert(built == 2, s"expected child+parent builds, built $built")
    assert(Staging.unpinnedMultiUse(top).isEmpty)
    assert(top.count() > 0)
    spark.catalog.clearCache()
  }

  test("pin order follows TRANSITIVE deps through a non-pending intermediate") {
    import org.apache.spark.sql.graftshim.CacheShim
    import spark.implicits._
    spark.catalog.clearCache()
    // G (multi-use, pending) is reachable from P (multi-use, pending)
    // only THROUGH C — a single-use cache that is NOT in the pending
    // set. Direct-dependency readiness would see P's deps = {C},
    // C ∉ pending, and build P first; P's one job then computes C
    // inline, whose anti-join stages race the unbuilt G. Readiness
    // must follow the dependency CLOSURE, so G builds before P.
    val g = Staging.staged(
      spark.range(500).select(($"id" % 31).as("k"), $"id".as("v")))
    val hotG = g.groupBy($"k").count().filter($"count" > 20).select($"k")
    val c = Staging.staged(g.join(hotG, Seq("k"), "left_anti"))
    val p = Staging.staged(c.select(($"v" * 31337).as("w"), $"k"))
    val top = p.select($"w").union(p.select($"w" + $"k"))
    val multiUse = Staging.cacheUse(top).collect { case (n, occ, _) if occ >= 2 => n }
    assert(multiUse.size == 2, s"expected P and G multi-use, got: ${Staging.cacheUse(top)}")
    val Seq(pName, gName) = multiUse // discovery order: top-level P, then nested G
    // pinMultiUse reports 120-char truncated names; the indexOf order
    // comparison below is only meaningful if the two names differ —
    // guard against a future refactor giving P and G a shared prefix.
    assert(pName != gName,
      s"cache names must be distinct for the order assertion: $multiUse")
    val builtOrder = CacheShim.pinMultiUse(top)
    assert(builtOrder.size == 2, s"expected 2 builds, got $builtOrder")
    assert(builtOrder.distinct.size == builtOrder.size,
      s"built names must be unique for indexOf comparison: $builtOrder")
    assert(builtOrder.indexOf(gName) < builtOrder.indexOf(pName),
      s"grandchild must build before parent: built $builtOrder")
    assert(Staging.unpinnedMultiUse(top).isEmpty)
    assert(top.count() > 0)
    spark.catalog.clearCache()
  }
}
