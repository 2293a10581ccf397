package graft

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

import graft.BenchCore.{ProbeResult, QueryResult, Run}

/** The bench harness's noise defenses, exercised with injected fake
  * runners — no Spark session needed.
  */
class BenchSpec extends AnyFunSuite {

  /** A runner that records only wall seconds. */
  private def walls(f: String => Double): String => Run = n => Run(f(n))

  private def seeds(ws: (String, Double)*): Map[String, Run] =
    ws.map { case (n, w) => n -> Run(w) }.toMap

  test("a synthetic spike is detected and re-measured; min survives") {
    // "spiky" hits a 50x load spike on pass 1 (the q70 pattern:
    // 52 s vs a 1.1 s min), then measures clean. BenchCore must flag
    // the spread, re-run, and confirm the clean min.
    val script = collection.mutable.Map(
      "spiky" -> List(5.0, 0.1, 0.1, 0.1), // 3 passes + 1 rerun
      "steady" -> List(0.2, 0.2, 0.2))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("spiky", "steady"), walls(run))
    val spiky = out("spiky")
    assert(spiky.spread > 3.0) // detected
    assert(spiky.reruns == 1) // first rerun was clean -> stopped
    assert(spiky.min == 0.1)
    assert(spiky.samples == Seq(5.0, 0.1, 0.1, 0.1))
    val steady = out("steady")
    assert(steady.spread == 1.0 && steady.reruns == 0 && steady.min == 0.2)
    assert(script.values.forall(_.isEmpty)) // exactly the scripted calls
  }

  test("reruns cap even when the noise never clears") {
    // Every sample disagrees wildly: rerun budget (2) must bound the
    // extra work, and the min still takes the best sample seen.
    var calls = 0
    def run(name: String): Double = {
      calls += 1
      Seq(9.0, 1.0, 8.0, 7.0, 6.0)(calls - 1)
    }
    val out = BenchCore.measure(Seq("wild"), walls(run))
    assert(calls == 5) // 3 passes + 2 reruns, no more
    assert(out("wild").reruns == 2)
    assert(out("wild").min == 1.0)
    assert(out("wild").spread == 9.0)
  }

  test("a rerun can improve the min") {
    val script = collection.mutable.Map(
      "late" -> List(10.0, 2.0, 9.0, 1.0, 1.2))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("late"), walls(run))
    // passes 10,2,9 -> spread 5 -> rerun 1.0 (better min, but 1.0 <=
    // 2.0*1.5 so it is itself the clean confirmation)
    assert(out("late").min == 1.0)
    assert(out("late").reruns == 1)
    assert(script("late") == List(1.2)) // second rerun never taken
  }

  test("failed passes don't poison the spread or the min") {
    val script = collection.mutable.Map("flaky" -> List(-1.0, 0.5, 0.6))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("flaky"), walls(run))
    assert(out("flaky").min == 0.5)
    assert(out("flaky").spread == 1.2)
    assert(out("flaky").reruns == 0)
  }

  test("a seeded query takes passes-1 timed runs; seed counts for min, not spread") {
    // Seed 0.05 (a cold warmup that happened to be fastest — rare but
    // possible on a loaded box): it must win the min, yet the spread
    // must come from the two timed passes only (0.5/0.25 = 2, NOT
    // 0.5/0.05 = 10, which would trigger a pointless rerun).
    // Exact binary fractions so the spread compare is exact.
    val script = collection.mutable.Map("s" -> List(0.25, 0.5))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("s"), walls(run), seed = seeds("s" -> 0.05))
    assert(script("s").isEmpty) // exactly 2 timed runs, not 3
    assert(out("s").min == 0.05)
    assert(out("s").spread == 2.0)
    assert(out("s").reruns == 0)
    assert(out("s").samples == Seq(0.05, 0.25, 0.5))
  }

  test("a failed warmup seed does not occupy a sample slot") {
    val script = collection.mutable.Map("f" -> List(0.5, 0.5, 0.5))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("f"), walls(run), seed = seeds("f" -> -1.0))
    assert(script("f").isEmpty) // full 3 timed passes despite the seed entry
    assert(out("f").min == 0.5)
    assert(out("f").samples == Seq(0.5, 0.5, 0.5))
  }

  test("budget trip mid-pass stops work and summarizes partial samples") {
    // Budget allows exactly 3 runs: pass 1 covers a+b, pass 2 reaches
    // only a. b keeps its single sample; nothing else runs.
    var calls = 0
    def run(name: String): Double = { calls += 1; 0.3 }
    val out = BenchCore.measure(Seq("a", "b"), walls(run),
      outOfBudget = () => calls >= 3)
    assert(calls == 3)
    assert(out("a").samples.size == 2 && out("a").min == 0.3)
    assert(out("b").samples.size == 1 && out("b").min == 0.3)
    assert(!out("a").truncated && !out("b").truncated)
  }

  test("budget trip before any sample marks the query truncated, not failed") {
    def run(name: String): Double = fail("must not run when out of budget")
    val out = BenchCore.measure(Seq("never"), walls(run), outOfBudget = () => true)
    assert(out("never").truncated)
    assert(out("never").min == -1.0 && out("never").samples.isEmpty)
  }

  test("budget trip mid-rerun keeps the samples already taken") {
    // Passes produce a dirty spread (rerun needed); budget dies right
    // after the passes, so zero reruns happen but the summary stands.
    var calls = 0
    def run(name: String): Double = { calls += 1; Seq(9.0, 1.0, 8.0)(calls - 1) }
    val out = BenchCore.measure(Seq("w"), walls(run), outOfBudget = () => calls >= 3)
    assert(calls == 3) // no rerun started
    assert(out("w").reruns == 0)
    assert(out("w").min == 1.0 && out("w").spread == 9.0)
  }

  /** Runs tagged by call order: run i carries cpu 10+i, task CPU
    * 20+i, i compiles and i/10 compile seconds, so the run a result
    * kept is identifiable by its numbers.
    */
  private def tagged(ws: Double*): (String => Run, () => Int) = {
    var calls = 0
    val run = (_: String) => {
      val i = calls
      calls += 1
      if (ws(i) < 0) Run(ws(i))
      else Run(ws(i), cpu = 10.0 + i, taskCpu = 20.0 + i, compiles = i, compileS = i / 10.0)
    }
    (run, () => calls)
  }

  test("the best run carries its own CPU and compile numbers when a rerun wins") {
    // passes 10, 2, 9 -> spread 5 -> one rerun at 1.0 takes the min
    val (run, _) = tagged(10.0, 2.0, 9.0, 1.0)
    val r = BenchCore.measure(Seq("late"), run)("late")
    assert(r.reruns == 1)
    assert(r.best.contains(Run(1.0, cpu = 13.0, taskCpu = 23.0, compiles = 3, compileS = 0.3)))
  }

  test("the best run carries its own CPU and compile numbers across a failed pass") {
    // seed 0.5 (call 0), a failed pass (call 1), then 0.25 (call 2)
    val (run, _) = tagged(0.5, -1.0, 0.25)
    val r = BenchCore.measure(Seq("f"), run, seed = Map("f" -> run("f")))("f")
    assert(r.seeded && r.runs.map(_.cpu) == Seq(10.0, -1.0, 12.0))
    assert(r.best.contains(Run(0.25, cpu = 12.0, taskCpu = 22.0, compiles = 2, compileS = 0.2)))
  }

  test("the best run carries its own CPU and compile numbers when the budget cuts a query short") {
    // 3 runs allowed: a=2.0 (call 0), b=3.0 (call 1), a=1.0 (call 2)
    val (run, calls) = tagged(2.0, 3.0, 1.0)
    val out = BenchCore.measure(Seq("a", "b"), run, outOfBudget = () => calls() >= 3)
    assert(out("a").best.contains(Run(1.0, cpu = 12.0, taskCpu = 22.0, compiles = 2, compileS = 0.2)))
    assert(out("b").runs.size == 1)
    assert(out("b").best.contains(Run(3.0, cpu = 11.0, taskCpu = 21.0, compiles = 1, compileS = 0.1)))
  }

  test("a quick seeded query takes one timed pass; slow and unseeded take full passes") {
    val script = collection.mutable.Map(
      "quick" -> List(0.1), // seed 0.2 < 0.3 -> exactly 1 timed pass
      "slow" -> List(1.0, 1.0), // seed 2.0 >= 0.3 -> 2 timed passes
      "unseeded" -> List(0.1, 0.1, 0.1)) // no seed -> full 3 passes
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("quick", "slow", "unseeded"), walls(run),
      seed = seeds("quick" -> 0.2, "slow" -> 2.0), quickThresholdS = 0.3)
    assert(script.values.forall(_.isEmpty)) // exactly the scripted calls
    assert(out("quick").min == 0.1 && out("quick").samples == Seq(0.2, 0.1))
    assert(out("slow").min == 1.0 && out("slow").samples.size == 3)
    assert(out("unseeded").samples.size == 3)
  }

  test("quickThresholdS=0 (the default) changes nothing") {
    val script = collection.mutable.Map("q" -> List(0.1, 0.1))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("q"), walls(run), seed = seeds("q" -> 0.1))
    assert(script("q").isEmpty) // passes - 1 = 2 timed runs
    assert(out("q").samples.size == 3)
  }

  test("probe: a clean ratio takes warmup + one timed pass, no confirms") {
    val script = collection.mutable.Map("lin" -> List(6.0))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.probeMeasure(Seq("lin"), walls(run),
      baseline = Map("lin" -> 1.0), seed = seeds("lin" -> 7.0))
    assert(script("lin").isEmpty)
    val r = out("lin")
    assert(r.min == 6.0 && r.ratio == 6.0 && r.samples == Seq(7.0, 6.0))
    assert(r.spread == 7.0 / 6.0)
  }

  test("probe: a suspicious ratio is re-measured until clean or capped") {
    // First samples say 40x (the r13 artifact); the confirm pass lands
    // at 6x -> the alarm clears and the clean min is the pin.
    val noisy = collection.mutable.Map("n" -> List(41.0, 6.0))
    def runNoisy(name: String): Double = {
      val t :: rest = noisy(name): @unchecked
      noisy(name) = rest
      t
    }
    val out = BenchCore.probeMeasure(Seq("n"), walls(runNoisy),
      baseline = Map("n" -> 1.0), seed = seeds("n" -> 40.0))
    assert(noisy("n").isEmpty)
    assert(out("n").min == 6.0 && out("n").ratio == 6.0)
    assert(out("n").samples == Seq(40.0, 41.0, 6.0))

    // Genuinely superlinear: every confirm agrees -> capped at
    // maxConfirm extra runs, and the pin keeps the (real) 40x with the
    // evidence trail in samples.
    var calls = 0
    def runReal(name: String): Double = { calls += 1; 40.0 }
    val real = BenchCore.probeMeasure(Seq("r"), walls(runReal),
      baseline = Map("r" -> 1.0), seed = seeds("r" -> 40.0))
    assert(calls == 3) // 1 timed + 2 confirms
    assert(real("r").ratio == 40.0 && real("r").samples.size == 4)
  }

  test("probe: no baseline means no alarm; budget trip marks truncated") {
    var calls = 0
    def run(name: String): Double = { calls += 1; 50.0 }
    val out = BenchCore.probeMeasure(Seq("nb"), walls(run), baseline = Map.empty)
    assert(calls == 1 && out("nb").ratio == -1.0)
    val t = BenchCore.probeMeasure(Seq("cut"), walls(run), baseline = Map.empty,
      outOfBudget = () => true)
    assert(t("cut").truncated && t("cut").min == -1.0)
  }

  test("the bench artifact renders every key in its fixed format") {
    val cache = Seq("cache \"a\"\tb")
    val measured = Map(
      "q1_fail" -> QueryResult(Seq(Run(-1.0), Run(-1.0)), -1.0, 0, seeded = false),
      "q2_cut" -> QueryResult(Nil, -1.0, 0, seeded = false),
      "q3_rerun" -> QueryResult(Seq(
        Run(0.5, cpu = 0.75, taskCpu = 0.5, compiles = 12, compileS = 0.25),
        Run(2.0, cpu = 1.0, taskCpu = 1.0, compiles = 0, compileS = 0.0),
        Run(0.5, cpu = 0.5, taskCpu = 0.5, compiles = 0, compileS = 0.0),
        Run(0.25, cpu = 0.375, taskCpu = 0.125, compiles = 0, compileS = 0.0)),
        4.0, 1, seeded = true),
      // warm CPU 2.0 vs 9.0 with a multi-consumer cache: race-flagged
      "q4_race" -> QueryResult(Seq(
        Run(3.0, 2.5, 2.5, 40, 1.5, multiUseCache = true, unpinned = cache),
        Run(2.0, 2.0, 2.0, 0, 0.0, multiUseCache = true, unpinned = cache),
        Run(4.0, 9.0, 8.0, 0, 0.0, multiUseCache = true, unpinned = cache)),
        2.0, 0, seeded = true))
    val sf1 = Bench.Sf1("/data/sf1", 812.5, Seq("q3_rerun", "q5_cut"),
      Map("q3_rerun" -> ProbeResult(
            Seq(Run(3.125, cpu = 5.0, taskCpu = 4.5), Run(2.5, cpu = 4.0, taskCpu = 3.5)),
            1.25, 10.0),
          "q5_cut" -> ProbeResult(Nil, -1.0, -1.0)),
      Map("q3_rerun" -> 42L, "q5_cut" -> 7L), 640.0)
    val json = Bench.artifact("local[4]", "/data/sf0.1",
      Seq("q1_fail", "q2_cut", "q3_rerun", "q4_race"), measured,
      TaskMetricsProbe.Snap(0.0, 0.0, 2L * 1048576, 524288L, 17L), Some(sf1))
    assert(json == Seq(
      """{"metric":"total","value":2.25,"unit":"sec","master":"local[4]",""",
      """"queries":{"q3_rerun":0.25,"q4_race":2.0},""",
      """"passes":{"q1_fail":[-1.0,-1.0],"q2_cut":[],"q3_rerun":[0.5,2.0,0.5,0.25],"q4_race":[3.0,2.0,4.0]},""",
      """"spread":{"q3_rerun":4.000,"q4_race":2.000},""",
      """"cpu":{"q3_rerun":0.375,"q4_race":2.000},""",
      """"cpu_passes":{"q1_fail":[-1.000,-1.000],"q2_cut":[],"q3_rerun":[0.750,1.000,0.500,0.375],"q4_race":[2.500,2.000,9.000]},""",
      """"cpu_task":{"q3_rerun":0.125,"q4_race":2.000},""",
      """"cpu_task_passes":{"q1_fail":[-1.000,-1.000],"q2_cut":[],"q3_rerun":[0.500,1.000,0.500,0.125],"q4_race":[2.500,2.000,8.000]},""",
      """"codegen_compiles":{"q1_fail":[-1,-1],"q2_cut":[],"q3_rerun":[12,0,0,0],"q4_race":[40,0,0]},""",
      """"codegen_compile_s":{"q1_fail":[-1.000,-1.000],"q2_cut":[],"q3_rerun":[0.250,0.000,0.000,0.000],"q4_race":[1.500,0.000,0.000]},""",
      """"reruns":{"q3_rerun":1},"truncated":["q2_cut"],"failed":["q1_fail"],""",
      """"cpu_race_flags":["q4_race"],"unpinned_caches":{"q4_race":["cache \"a\"\tb"]},""",
      """"shuffle":{"remote_mb":2.0,"local_mb":0.5,"tasks":17},"sf":"/data/sf0.1",""",
      """"sf1":{"dir":"/data/sf1","budget_left_start_s":812.5,"queries":{"q3_rerun":2.5},""",
      """"ratio":{"q3_rerun":10.00},"spread_all":{"q3_rerun":1.250},"passes":{"q3_rerun":2},""",
      """"samples":{"q3_rerun":[3.125,2.5]},"cpu":{"q3_rerun":4.000},"cpu_task":{"q3_rerun":3.500},""",
      """"rows_out":{"q3_rerun":42},"truncated":["q5_cut"],"failed":[],"budget_left_end_s":640.0}}"""
    ).mkString)
  }

  test("jnum renders fixed decimals independent of the default locale") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(BenchCore.jnum(1234.5678, 3) == "1234.568")
      assert(BenchCore.jnum(-1.0, 2) == "-1.00")
      // contrast: the f-interpolator under de_DE uses ',' — the bug
      // jnum exists to avoid
      assert(f"${1.5}%.1f" == "1,5")
    } finally java.util.Locale.setDefault(saved)
  }

  test("processCpuSeconds is monotonic and advances under compute") {
    val c0 = BenchCore.processCpuSeconds()
    assume(c0 >= 0, "JVM does not expose process CPU time")
    // burn a visible amount of CPU
    var x = 0L
    val t0 = System.nanoTime
    while (System.nanoTime - t0 < 50L * 1000 * 1000) { x += x * 31 + 1 }
    assert(x != Long.MinValue) // keep the loop observable
    val c1 = BenchCore.processCpuSeconds()
    assert(c1 >= c0)
    assert(c1 - c0 > 0.0) // the busy loop is attributed
  }

  test("every sf1 probe name resolves to a registered query") {
    val missing = Bench.probeNames.filterNot(SparkEntry.queries.keySet)
    assert(missing.isEmpty,
      s"probe names without a registered query: ${missing.mkString(", ")}")
  }
}
