package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.BenchCore.{Exact, Fixed, Measured, ProbeResult, QueryResult, Run}

/** Benchmark main (driver contract): one JSON line with total and
  * per-query wall seconds at SPARK_GRAFT_SF_DIR.
  *
  * Methodology: one warmup pass (JIT + codegen + shuffle-service warm)
  * whose times seed the measurement, two more timed passes (min-of-3
  * total; sub-0.3 s-warmup queries take one — they cannot move the 2×
  * bar), outlier re-measure via [[BenchCore]], a hard wall-clock
  * budget (SPARK_GRAFT_BENCH_BUDGET_S, default 1400 s), and
  * incremental JSON persistence after every sample. Every execution
  * is one [[BenchCore.Run]] with its own CPU and compile numbers: the
  * JSON carries per-query "cpu" (the CPU seconds of the pass that
  * produced the min) and
  * "cpu_passes", so a slow entry is attributable to plan compute vs
  * a loaded box without a rerun. The sf1 scale probe (warmup + 1
  * pass + ratio-alarm confirms, [[BenchCore.probeMeasure]]) persists
  * per-entry samples/spread_all/pass counts (spread_all includes the
  * seeded warmup, unlike the corpus "spread" — the probe seed runs
  * in a warm JVM), names all-runs-failed entries in "failed" and
  * budget-cut ones in "truncated" (value maps hold only measured
  * entries), and records the budget left at its start/end, so a
  * superlinear number in the artifact is re-measured evidence, never
  * a budget-truncated single sample. Each query is forced through the
  * noop sink so every column is materialized (a bare count() would
  * let Catalyst prune the computation being measured).
  */
object Bench {
  /** sf1 probe set: the most expensive queries AND the fastest-growing
    * ones from the full SCALE_PROBE audit (q88 9.2x, q26 8.5x on 10x
    * data) — a superlinear drift shows here first. BenchSpec asserts
    * every entry resolves against SparkEntry.queries so a rename can't
    * silently shrink the probe.
    */
  val probeNames: Seq[String] = Seq("q26_simhash_near_dup",
    "q80_ivf_multiprobe", "q81_option_data_to_save", "q82_dedup_clusters",
    "q83_semantic_dedup", "q86_bm25_topk", "q87_bloom_decontaminate",
    "q88_stream_stream_join", "q93_asof_forward", "q94_asof_tolerance",
    "q96_image_decode",
    // the q88 mitigation pair and the bucketized range join: cheap at
    // sf1, and a superlinear drift in any of them means the skew story
    // (SCALE_PROBE.md round-11 table) no longer holds
    "q99_error_window_join", "q100_bucketed_interval_count",
    "q103_capped_interval_join",
    // round 11: the substring-dedup gram index, the winnow-sketch
    // candidate self-join, and the DSIR double-scan are the newest
    // full-corpus-shuffle queries — the class whose sf1 ratio matters
    "q107_substring_dedup", "q113_winnow_near_dup", "q114_dsir_resample",
    // round 13: the hybrid-retrieval fusion (two bounded candidate
    // lists — its sf1 ratio should track the corpus scan, not the
    // fusion) and the PQ pipeline (training is sample-bound; encode +
    // ADC is the corpus-linear part)
    "q122_hybrid_rrf", "q123_pq_adc_search",
    // round 13 (late): retention composes the LSH pair + component
    // machinery end-to-end (the heaviest dedup chain), and the
    // edit-distance dedup's prefix blocks must stay capped — both
    // would show any quadratic drift here first
    "q128_dedup_retention", "q134_edit_distance_dedup",
    // round 14: the calibration audit was the costliest sf0.1 query
    // pre-slim; its sf1 ratio now guards both the band-bucket cap and
    // the candidate-bounded shingle refetch
    "q147_minhash_calibration",
    // round 15: the leakage-safe split is now the heaviest corpus
    // query and composes the newest machinery end-to-end (LSH pairs ∪
    // exact-md5 star edges → pointer-doubled components → fold hash) —
    // a superlinear drift in any of those parts shows here first
    "q102_leakage_safe_split",
    // round 16: chunk retrieval was the cluster-profile probe's worst
    // coalescing casualty (31.6 s serialized -> 4.7 s after the
    // spread + literal-df rework); its ratio now guards the chunker
    // spread and the bounded-collect scoring shape
    "q125_chunk_retrieval",
    // round 18: the streaming LSH gate's batch face — its ratio
    // guards the stream-static anti-join + windowed all-bands check
    // over the full band index (and the corpus-side kernel spread)
    "q159_neardup_gate",
    // round 19: the composed IVFADC index — assignment/encode must
    // stay one map-only corpus scan (both quantizers enter as
    // literals), so its sf1 ratio guards the whole literal-index
    // discipline; scoring is cell-restricted (~nprobe/nlist)
    "q160_ivfpq_search",
    // round 19: the global shuffle's per-shard rank is the newest
    // corpus-wide window — its ratio guards the derived-k shard
    // bound (k floors at 8 across probe scales, so the window
    // partition grows with the corpus here; sub-linear wall means
    // the 8-task sort is not yet the bottleneck, and past 8·100k
    // docs k itself grows)
    "q161_training_shuffle",
    // round 18 (driver): the two compute-densest crawl extractions —
    // the HTML strip is ~20 regex passes/row and the BPE apply an
    // O(word²·merges) worst-case loop; both must stay linear map-only
    // scans, so their sf1 ratio guards the kernel-spread shape (the
    // URL family rides the same scan and is strictly cheaper)
    "q162_html_extract", "q164_bpe_apply",
    // round 19 (driver): the tokenizer lifecycle — training's corpus
    // cost is ONE word-frequency aggregation (rounds are vocab-bound,
    // so the end-to-end q168 ratio should track the two corpus scans
    // and stay far below 10×), and the quality classifier must stay a
    // single codegen scan (the q110 class)
    "q167_quality_classifier", "q168_bpe_pipeline",
    // round 20: the two new corpus-wide compute shapes — embedding
    // inference × the broadcast-kNN candidate fan-out (corpus-linear
    // × |query set|, the q30 class with engine-produced vectors), and
    // the exact-substring gram index (the q107 shuffle class plus the
    // occurrence-level join-back and per-doc reassembly). q171's
    // bench cost is dominated by the fixture-writer scaffolding (not
    // the scan under test) and q172 is q168 + bounded catalog I/O —
    // both stay out, guarded by q162/q168's ratios
    "q170_embed_knn", "q173_exact_substring_remove")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = SessionDefaults.master(cpus)
    val spark = SessionDefaults.session(cpus, master)
    // Deployment-independent CPU attribution (and shuffle-transport
    // evidence) via task metrics — see TaskMetricsProbe for why the
    // process clock alone is blind under a forked-executor master.
    val taskMetrics = TaskMetricsProbe.install(spark)

    // Optional args: query names to bench (default: all). Unknown
    // names are a hard error — a misspelled filter would otherwise
    // silently bench nothing.
    val wanted = args.toSet
    val unknown = wanted -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }

    // One execution, recorded as one Run: the process-CPU delta (a slow
    // pass is attributable to plan vs box without a rerun), the
    // task-metric CPU, the generated classes compiled (a warm pass that
    // recompiles shows here, DESIGN.md "Generated-class reuse") and the
    // plan diagnostics behind cpu_race_flags / unpinned_caches.
    def execute(fn: Query, dir: String): Run = {
      // boundary snapshot: drain the async listener bus so the delta
      // holds exactly this run's tasks (drain cost sits OUTSIDE the
      // timed window on both ends)
      TaskMetricsProbe.drain(spark)
      val tm0 = taskMetrics.snapshot()
      val c0 = BenchCore.processCpuSeconds()
      val (cg0, cgNs0) = BenchCore.codegenCounters()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, dir)
        // checked BEFORE execution, when it is meaningful: the
        // multi-consumer caches unmaterialized at build time (the
        // q84-class race precondition)
        val unpinned = graft.operators.Staging.unpinnedMultiUse(df)
        // ordered materialization INSIDE the timed window (building
        // the staged tables is part of the query's cost): one
        // sequential job per multi-consumer cache pins the
        // deterministic low-CPU mode the per-core blocking-count
        // discipline achieved by hand — no concurrent stage can race
        // an unbuilt cache into a duplicate kernel recompute.
        // SPARK_GRAFT_PIN=0 disables it for A/B runs only.
        if (sys.env.getOrElse("SPARK_GRAFT_PIN", "1") != "0")
          graft.operators.Staging.pinCaches(df)
        df.write.format("noop").mode("overwrite").save()
        val c1 = BenchCore.processCpuSeconds()
        val wall = (System.nanoTime() - t0) / 1e9
        val (cg1, cgNs1) = BenchCore.codegenCounters()
        TaskMetricsProbe.drain(spark)
        Run(wall,
          cpu = if (c0 < 0 || c1 < 0) -1.0 else c1 - c0,
          taskCpu = (taskMetrics.snapshot() - tm0).cpuS,
          compiles = cg1 - cg0, compileS = (cgNs1 - cgNs0) / 1e9,
          // occurrence count is stable across execution; checked
          // outside the timed window
          multiUseCache = graft.operators.Staging.cacheUse(df).exists(_._2 >= 2),
          unpinned = unpinned)
      } catch { case _: Throwable => Run(-1.0) }
    }

    // Hard wall-clock budget (BENCH_r11 died rc=124 with NOTHING
    // written because the full corpus + probe overran the driver's
    // timeout and the JSON only landed at the end). The deadline is
    // consulted before every individual run; whatever samples exist
    // when it trips are summarized and persisted.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1400").toDouble
    val deadlineNanos = System.nanoTime() + (budgetS * 1e9).toLong
    val outOfBudget = () => System.nanoTime() > deadlineNanos
    def budgetLeftS: Double = (deadlineNanos - System.nanoTime()) / 1e9

    // Incremental persistence: after EVERY corpus run, rewrite the
    // output JSON with min-so-far per query (marked "partial":true), so
    // a driver-side kill costs only the tail, never the whole artifact.
    val out = java.nio.file.Paths.get("target", "bench_full.json")
    java.nio.file.Files.createDirectories(out.getParent)
    val log = collection.mutable.LinkedHashMap[String, Vector[Run]]()
    def persistPartial(name: String, run: Run): Unit = {
      log(name) = log.getOrElse(name, Vector.empty) :+ run
      val qs = log.toSeq.collect { case (n, rs) if rs.exists(_.ok) =>
        n -> Exact(rs.filter(_.ok).map(_.wall).min)
      }
      java.nio.file.Files.write(out, BenchCore.json("metric" -> "total", "value" -> -1,
        "unit" -> "sec", "partial" -> true, "queries" -> ListMap(qs: _*),
        "sf" -> sfDir).getBytes("UTF-8"))
    }

    // One warmup pass, then `measure` (BenchCore.measure or
    // probeMeasure) over runs at `dir`; the warmup runs seed it, and
    // every run clears the cache so persists don't accumulate. The
    // warmup is deadline-gated PER QUERY (a takeWhile over the strict
    // Seq would evaluate every predicate before any warmup ran and
    // then run them all ungated).
    def warmThenMeasure[R](qs: Seq[(String, Query)], dir: String,
        onRun: (String, Run) => Unit = (_, _) => ())(
        measure: (String => Run, Map[String, Run]) => Map[String, R]): Map[String, R] = {
      val fns = qs.toMap
      def run(name: String): Run = {
        val r = execute(fns(name), dir)
        spark.catalog.clearCache()
        onRun(name, r)
        r
      }
      val warm = qs.flatMap { case (name, _) =>
        if (outOfBudget()) None else Some(name -> run(name))
      }.toMap
      measure(run, warm)
    }

    // Warmup (JIT + codegen + shuffle-service warm) seeds min-of-3 at
    // the cost of two timed passes. Timed passes keep the per-query
    // minimum (robust against transient co-tenant load and GC pauses;
    // observed swings >40% between whole runs on this box), and
    // BenchCore re-measures any query whose pass spread exceeds 3x its
    // min — so a future regression flag must survive a clean
    // re-measure before anyone bisects it. quickThresholdS: a query
    // whose warmup came in sub-0.3 s takes one timed pass, not two — it
    // cannot move the 2x headline bar, and the saved wall time is
    // exactly the headroom the sf1 probe below needs to never again be
    // budget-truncated into a noisy artifact (r13).
    val corpus = warmThenMeasure(queries, sfDir, persistPartial) { (run, warm) =>
      BenchCore.measure(queries.map(_._1), run,
        seed = warm, outOfBudget = outOfBudget, quickThresholdS = 0.3)
    }

    // 10x scale-probe section: when the sf1 dataset exists (generated
    // by tools/gen_sf1.py into probe_data/sf1 — NOT under target/,
    // which sbt clean wipes) and this run isn't already at sf1,
    // re-bench the heavy subset there so every bench JSON carries a
    // second scale point — a superlinear plan shows up as a ratio far
    // above the 10x input growth instead of hiding until an audit.
    // Skipped for filtered (arg-driven A/B) runs.
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "probe_data/sf1")
    // A renamed/removed query must fail loudly, not silently shrink the
    // probe (BenchSpec enforces the same invariant at test time).
    val missingProbe = probeNames.filterNot(SparkEntry.queries.keySet)
    require(missingProbe.isEmpty,
      s"sf1 probe names not registered in SparkEntry.queries: " +
        missingProbe.mkString(", "))
    val sf1 =
      if (wanted.nonEmpty || outOfBudget() ||
          !new java.io.File(sf1Dir, "documents.parquet").exists() ||
          new java.io.File(sfDir).getCanonicalPath ==
            new java.io.File(sf1Dir).getCanonicalPath) None
      else {
        val probe = SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (n, _) => probeNames.contains(n) }
        val budgetAtStart = budgetLeftS
        // The SAME deadline governs every probe run — the probe is a
        // ratio check, so a budget-truncated probe (fewer entries) is
        // still useful where a blown driver timeout is not. Warmup + 1
        // timed pass per entry; any entry whose best still exceeds 10x
        // its same-run sf0.1 min gets confirmation passes
        // (BenchCore.probeMeasure) — a superlinear number in this
        // artifact has survived re-measurement, and every sample,
        // spread and pass count is persisted so a reader can tell box
        // noise from plan drift (the r13 40.5x lesson).
        val baseline = corpus.map { case (n, r) => n -> r.min }
        val measured = warmThenMeasure(probe, sf1Dir) { (run, warm) =>
          BenchCore.probeMeasure(probe.map(_._1), run, baseline = baseline,
            ratioAlarm = 10.0, outOfBudget = outOfBudget, seed = warm)
        }
        // Output-row count per entry (one count() job each, budget-
        // gated): a wall ratio alone cannot distinguish "superlinear
        // plan" from "the OUTPUT grew superlinearly" — q88's standing
        // 3.2x is pair-output growth, and cost-per-output-row is the
        // machine-readable way the artifact says so instead of a prose
        // re-explanation each round.
        val rowsOut = probe.flatMap { case (name, fn) =>
          if (outOfBudget()) None
          else {
            val n = try fn(spark, sf1Dir).count() catch { case _: Throwable => -1L }
            spark.catalog.clearCache()
            if (n >= 0) Some(name -> n) else None
          }
        }.toMap
        Some(Sf1(sf1Dir, budgetAtStart, probe.map(_._1), measured, rowsOut, budgetLeftS))
      }

    // Whole-run shuffle transport totals (all passes, warmups and the
    // probe included).
    TaskMetricsProbe.drain(spark)
    val json = artifact(master, sfDir, queries.map(_._1), corpus,
      taskMetrics.snapshot(), sf1)
    println(json)
    // The console line can be lost to log-tail truncation (one line per
    // 114 queries is long); persist the identical JSON where the driver
    // and later rounds can always read it.
    java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    SessionDefaults.stopAndReap(spark)
  }

  private type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** The sf1 section's record: probe entries in bench order, their
    * measurements and output-row counts, and the budget left at the
    * section's start and end.
    */
  final case class Sf1(dir: String, budgetLeftStartS: Double, names: Seq[String],
      measured: Map[String, ProbeResult], rowsOut: Map[String, Long],
      budgetLeftEndS: Double)

  /** The bench artifact: one JSON object over the corpus measurements
    * (`names` in bench order), the run's task-metric totals and the
    * optional sf1 section.
    *
    * Value maps (queries, spread, cpu, cpu_task; sf1 queries through
    * rows_out) carry only MEASURED entries: a query whose every run
    * failed is named in "failed", a budget-cut one in "truncated" —
    * neither leaks a -1 into a value map unmarked. The raw per-pass
    * logs (passes, cpu_passes, cpu_task_passes, codegen_*) keep every
    * run, failed (-1) ones included, on purpose: a reader sees
    * run-to-run noise directly — a loaded box shows one inflated slot,
    * a plan regression consistent slowness. "cpu"/"cpu_task" are the
    * CPU seconds of the run the min came from (cpu ≈ wall × busy-cores
    * → plan compute; cpu ≪ that → box/IO). On local[n] cpu_task ≈ cpu
    * minus harness threads; under a forked-executor master cpu_task is
    * the ONLY valid plan-CPU attribution (cpu collapses to driver
    * overhead). Nonzero codegen entries after the first pass are warm
    * passes recompiling.
    */
  def artifact(master: String, sfDir: String, names: Seq[String],
      measured: Map[String, QueryResult], shuffle: TaskMetricsProbe.Snap,
      sf1: Option[Sf1]): String = {
    val corpus = names.map(n => n -> measured(n))
    def optional(key: String, v: Iterable[_]): Seq[(String, Any)] =
      if (v.isEmpty) Nil else Seq(key -> v)
    val unpinned = corpus.flatMap { case (n, r) =>
      r.runs.filter(_.ok).map(_.unpinned).filter(_.nonEmpty).lastOption.map(n -> _)
    }
    BenchCore.json(Seq(
      "metric" -> "total",
      "value" -> Exact(corpus.map(_._2.min).filter(_ >= 0).sum),
      "unit" -> "sec", "master" -> master,
      "queries" -> valueMap(corpus)(r => Exact(r.min)),
      "passes" -> perQuery(corpus)(_.samples.map(Exact)),
      "spread" -> valueMap(corpus)(r => Fixed(r.spread, 3)),
      "cpu" -> valueMap(corpus)(r => Fixed(r.best.get.cpu, 3)),
      "cpu_passes" -> perQuery(corpus)(_.runs.map(x => Fixed(x.cpu, 3))),
      "cpu_task" -> valueMap(corpus)(r => Fixed(r.best.get.taskCpu, 3)),
      "cpu_task_passes" -> perQuery(corpus)(_.runs.map(x => Fixed(x.taskCpu, 3))),
      "codegen_compiles" -> perQuery(corpus)(_.runs.map(_.compiles)),
      "codegen_compile_s" -> perQuery(corpus)(_.runs.map(x => Fixed(x.compileS, 3)))) ++
      optional("reruns", perQuery(corpus.filter(_._2.reruns > 0))(_.reruns)) ++
      optional("truncated", corpus.collect { case (n, r) if r.truncated => n }) ++
      optional("failed", corpus.collect { case (n, r) if r.failed => n }) ++
      optional("cpu_race_flags", corpus.collect { case (n, r) if raced(r) => n }) ++
      optional("unpinned_caches", ListMap(unpinned: _*)) ++
      Seq(
        // remote vs local shuffle read bytes, split by the BlockManager
        // locality of the fetch: remote_mb > 0 attests that this run
        // moved shuffle blocks between executor JVMs over the wire —
        // impossible on local[n], expected under local-cluster
        "shuffle" -> ListMap(
          "remote_mb" -> Fixed(shuffle.remoteShuffleBytes / 1048576.0, 1),
          "local_mb" -> Fixed(shuffle.localShuffleBytes / 1048576.0, 1),
          "tasks" -> shuffle.tasks),
        "sf" -> sfDir) ++
      sf1.map(s => "sf1" -> sf1Section(s)): _*)
  }

  private def sf1Section(s: Sf1): ListMap[String, Any] = {
    val probe = s.names.map(n => n -> s.measured(n))
    ListMap(
      "dir" -> s.dir,
      "budget_left_start_s" -> Fixed(s.budgetLeftStartS, 1),
      "queries" -> valueMap(probe)(r => Exact(r.min)),
      "ratio" -> valueMap(probe)(r => Fixed(r.ratio, 2)),
      // "spread_all", not "spread": unlike the corpus section's spread
      // (timed passes only, seed excluded), the probe spread includes
      // the seeded warmup — the probe runs in a warm JVM, so its seed
      // is a real sample; the name records the difference.
      "spread_all" -> valueMap(probe)(r => Fixed(r.spread, 3)),
      "passes" -> valueMap(probe)(_.samples.size),
      "samples" -> valueMap(probe)(_.samples.map(Exact)),
      "cpu" -> valueMap(probe)(r => Fixed(r.best.get.cpu, 3)),
      "cpu_task" -> valueMap(probe)(r => Fixed(r.best.get.taskCpu, 3)),
      // a probe whose timed runs all failed or were truncated must not
      // surface a successful count() as if it had been measured
      "rows_out" -> ListMap(probe.collect {
        case (n, r) if r.measured && s.rowsOut.contains(n) => n -> s.rowsOut(n) }: _*),
      "truncated" -> probe.collect { case (n, r) if r.truncated => n },
      "failed" -> probe.collect { case (n, r) if r.failed => n },
      "budget_left_end_s" -> Fixed(s.budgetLeftEndS, 1))
  }

  private def perQuery[R](rs: Seq[(String, R)])(f: R => Any): ListMap[String, Any] =
    ListMap(rs.map { case (n, r) => n -> f(r) }: _*)

  /** A value map: measured entries only. */
  private def valueMap[R <: Measured](rs: Seq[(String, R)])(f: R => Any): ListMap[String, Any] =
    perQuery(rs.filter(_._2.measured))(f)

  /** The q84-class race, machine-visible (r16 verdict #4): a query
    * whose warm CPU runs spread >1.5x (gap >5s) WITH a multi-consumer
    * cache in the plan. Since pinCaches runs in every timed pass, a
    * firing here is box contention or a pinning gap — the shortlist
    * for an isolated re-measure. "unpinned_caches" records which query
    * plans REQUIRED pinning (pure cores whose caches pinCaches built);
    * RaceDisciplineSpec asserts the pinned plans are race-free for
    * every query. BOTH cpu series feed the flag: under a
    * forked-executor master the process clock collapses to driver
    * overhead (a race there would be invisible to it), so the
    * task-metric series carries the detection; in local mode the
    * process series additionally sees driver-side compute. The plan
    * diagnostics come from the last successful run.
    */
  private def raced(r: QueryResult): Boolean = {
    val multiUse = r.runs.filter(_.ok).lastOption.exists(_.multiUseCache)
    Seq(r.warm.map(_.cpu), r.warm.map(_.taskCpu))
      .exists(BenchCore.cpuRaceFlag(_, multiUse))
  }
}
