package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Staging

/** A warm query compiles no generated classes (DESIGN.md
  * "Generated-class reuse"). Each op follows the `graft.Bench` run
  * path: build → `Staging.pinCaches` → noop write → `clearCache`.
  * q25 pins three caches, so its cache builds run under cloned
  * sessions (the artifact-isolation classloader miss), and its AQE
  * stages finish in varying order (the stage-id-in-class-name miss);
  * q58 is a plain relational control. The queries run interleaved, so
  * the class cache must hold both working sets at once.
  */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val names = Seq("q25_jaccard_pairs", "q58_rollup_revenue")

  /** One op; returns (caches pinned, classes compiled). */
  private def runOp(name: String): (Int, Long) = {
    val (c0, _) = BenchCore.codegenCounters()
    val df = SparkEntry.queries(name)(spark, dir)
    val pinned = Staging.pinCaches(df)
    df.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    (pinned, BenchCore.codegenCounters()._1 - c0)
  }

  test("warm runs of q25 and q58 compile no classes") {
    val first = names.map(runOp)
    assert(first.head._1 == 3, s"q25 should pin three caches: $first")
    // Two warm rounds. AQE re-plans from whichever stages have
    // finished, so on a loaded box one run can take a plan shape no
    // earlier run had and compile its new classes once. A class that
    // misses the cache on every run compiles in both rounds.
    val warm = Seq.fill(2)(names.map(runOp(_)._2))
    assert(names.indices.forall(i => warm.exists(_(i) == 0)),
      s"warm runs recompiled (first ${first.map(_._2)}, warm $warm)")
  }
}
