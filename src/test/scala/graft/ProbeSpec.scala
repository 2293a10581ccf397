package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Unit locks for [[Probe]]'s helpers — the parts that must be
  * correct for the fault attestations to mean anything. The fault
  * modes themselves need a forked-executor master (`GRAFT_MASTER=
  * local-cluster[...]`) and run as a main; CHAOS_r*.md records their
  * evidence.
  */
class ProbeSpec extends AnyFunSuite {

  test("canonicalHash is row-order independent and content sensitive") {
    val a = Array(Row(1L, "x"), Row(2L, "y"), Row(3L, "z"))
    val b = Array(Row(3L, "z"), Row(1L, "x"), Row(2L, "y"))
    assert(Probe.canonicalHash(a) == Probe.canonicalHash(b),
      "post-retry partition order must not affect the comparison")
    val c = Array(Row(1L, "x"), Row(2L, "y"), Row(3L, "Z"))
    assert(Probe.canonicalHash(a) != Probe.canonicalHash(c),
      "a single changed value must change the hash")
    // concatenation cannot blur row boundaries into a collision
    val d = Array(Row("ab"), Row("c"))
    val e = Array(Row("a"), Row("bc"))
    assert(Probe.canonicalHash(d) != Probe.canonicalHash(e))
  }

  test("executorPids never offers the driver JVM to the killer") {
    // on a plain test box there are no CoarseGrainedExecutorBackend
    // processes; the invariant that matters is self-exclusion
    assert(!Probe.executorPids().contains(ProcessHandle.current().pid()))
  }

  test("an unknown mode fails loudly and lists the valid modes") {
    val e = intercept[IllegalArgumentException](Probe.mode("chaos"))
    assert(e.getMessage.contains("'chaos'"))
    for (m <- Seq("kill", "decommission", "speculation", "dynalloc",
        "streamkill", "skew", "star", "bpe", "plans"))
      assert(e.getMessage.contains(m), m)
  }

  test("result lines keep a '.' decimal separator under a German default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(f"${2.5}%.2f" == "2,50", "the locale under test must use a comma")
      assert(BenchCore.json("query" -> "q1", "wall_s" -> 2.5,
        "wall_1dp" -> BenchCore.Fixed(2.5, 1), "walls" -> Seq(0.25, 1.0)) ==
        """{"query":"q1","wall_s":2.50,"wall_1dp":2.5,"walls":[0.25,1.00]}""")
    } finally java.util.Locale.setDefault(saved)
  }
}
