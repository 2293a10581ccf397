package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchCore.{Fixed, json}
import graft.operators.{BpeTrainer, Checkpoints, Components}

/** The engine's one tooling main: fault-injection attestations, scale
  * probes and plan dumps, one mode each, picked by the first argument:
  *
  *   sbt "runMain graft.Probe <mode> [args...]"
  *
  * Every mode builds its session through [[SessionDefaults.session]]
  * (`SPARK_GRAFT_CPUS` cores, default 32; `GRAFT_MASTER`), reads the
  * one [[TaskMetricsProbe]] listener, prints one JSON object per line
  * through [[BenchCore.json]], stops through
  * [[SessionDefaults.stopAndReap]] and exits 1 when its attestation
  * fails. The fault modes (kill,
  * decommission, speculation, dynalloc, streamkill) need forked
  * executor JVMs: `GRAFT_MASTER=local-cluster[workers,cores,memMB]`
  * with `SPARK_HOME=$(tools/mk_local_cluster_home.sh)
  * SPARK_SCALA_VERSION=2.13`. Measured runs are in CHAOS_r*.md and
  * SCALE_PROBE.md.
  */
object Probe {

  final case class Mode(usage: String, run: Seq[String] => Boolean)

  lazy val modes: ListMap[String, Mode] = ListMap(
    "kill" -> Mode("[sfDir] [query...]", attest(kill, _)),
    "decommission" -> Mode("[sfDir] [query...]", attest(decommission, _)),
    "speculation" -> Mode("[sfDir] [query...]", attest(speculation, _)),
    "dynalloc" -> Mode("[sfDir] [query]", dynalloc),
    "streamkill" -> Mode("", streamkill),
    "skew" -> Mode("[sfDir] [mod] [passes]", skew),
    "star" -> Mode("[n] [iters]", star),
    "bpe" -> Mode("[sfDir] [nMerges] [abMerges]", bpe),
    "plans" -> Mode("<outDir> <tag> [query...]", plans))

  def mode(name: String): Mode = modes.getOrElse(name,
    throw new IllegalArgumentException(s"unknown probe mode '$name'; valid modes: " +
      modes.map { case (n, m) => s"$n ${m.usage}".trim }.mkString("; ")))

  def main(args: Array[String]): Unit =
    if (!mode(args.headOption.getOrElse("")).run(args.toSeq.drop(1))) sys.exit(1)

  /** Canonical result hash: rows rendered, sorted, md5'd — order- and
    * partitioning-independent, so a healthy and a post-retry run
    * compare by content only.
    */
  def canonicalHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Live executor-backend JVMs — never this driver JVM. */
  def executorPids(): Seq[Long] = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => p.pid() != self && p.isAlive)
      .filter(_.info().commandLine().map[Boolean](
        _.contains("CoarseGrainedExecutorBackend")).orElse(false))
      .map(_.pid()).toSeq.sorted
  }

  private type Query = (SparkSession, String) => DataFrame

  private def query(name: String): Query =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def withSession[T](extra: Map[String, String])(body: SparkSession => T): T = {
    val spark = SessionDefaults.session(cpus, SessionDefaults.master(cpus), extra)
    try body(spark) finally SessionDefaults.stopAndReap(spark)
  }

  private def sigkill(pid: Long): Boolean = {
    val h = ProcessHandle.of(pid)
    h.isPresent && h.get.destroyForcibly()
  }

  private def sigpwr(pid: Long): Boolean =
    new ProcessBuilder("kill", "-PWR", pid.toString)
      .inheritIO().start().waitFor() == 0

  /** A local-cluster session and its executor JVMs: the backends born
    * after `preexisting` was snapshotted. Zombies of earlier sessions
    * are never offered to a fault (shooting one attests nothing).
    */
  private final class Fleet(val spark: SparkSession, val probe: TaskMetricsProbe,
      preexisting: Set[Long], val size: Int) {

    def pids: Seq[Long] = executorPids().filterNot(preexisting)

    /** Wait (2 min cap) for `size` executors outside `exclude`, then
      * REQUIRE them — a short fleet would stall or under-attest.
      */
    def await(exclude: Set[Long] = Set.empty): Unit = {
      def live = pids.filterNot(exclude)
      val deadline = System.nanoTime() + 120e9.toLong
      while (live.size < size && System.nanoTime() < deadline) Thread.sleep(250)
      require(live.size >= size, s"fleet never reached $size executors: $live")
    }

    /** Wait (30 s cap) until more than two tasks per executor are in
      * flight and `minEnded` tasks have finished: a victim chosen while
      * the fleet idles (a one-task training stage) holds nothing.
      */
    def awaitBusy(minEnded: Long): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      def ended = probe.tasksEnded.sum()
      while ((probe.tasksStarted.sum() - ended < 2 * size || ended < minEnded) &&
          System.nanoTime() < deadline)
        Thread.sleep(5)
    }
  }

  /** Run `body` on a fresh session over forked executors. The fleet is
    * not awaited here: dynalloc measures the session before it grows.
    */
  private def withFleet[T](extra: Map[String, String])(body: Fleet => T): T = {
    val master = SessionDefaults.master(cpus)
    require(master.startsWith("local-cluster"),
      s"this mode needs forked executors: GRAFT_MASTER=local-cluster[...], got $master")
    val preexisting = executorPids().toSet
    withSession(extra) { spark =>
      body(new Fleet(spark, TaskMetricsProbe.install(spark), preexisting,
        master.drop("local-cluster[".length).takeWhile(_ != ',').toInt))
    }
  }

  // ---- the fault-pass modes: kill, decommission, speculation ----

  /** A query's reference result: hash and wall seconds. */
  private final case class Ref(hash: String, wall: Double)

  /** One fault pass's evidence. `failed` and `reattempts` are read
    * right after the post-collect drain (in-run evidence); the rest
    * after the executor-removal grace wait.
    */
  private final case class Pass(ref: Ref, equal: Boolean, victim: Long,
      inFlight: Boolean, wall: Double, failed: Long, reattempts: Long,
      removed: Long, shuffleMigrated: Long, rddMigrated: Long,
      marked: Long, launched: Long, killed: Long)

  /** What a fault mode supplies to [[attest]]: the session confs that
    * arm it, whether its reference must come from a session without
    * them, the action a thread fires during the query (returning the
    * victim pid, or -1), the rule that the fault landed, and its JSON
    * fields (after `query` and `equal`; given the pass and its
    * attempt count).
    */
  private final case class Fault(metric: String, okKey: String,
      defaultQueries: Seq[String], confs: Map[String, String],
      sessionPerPass: Boolean, cleanReference: Boolean,
      strike: Option[Fleet => Long], landed: Pass => Boolean,
      fields: (Pass, Int) => Seq[(String, Any)],
      summary: Seq[Pass] => (Seq[(String, Any)], Boolean) = _ => (Nil, true))

  /** Executor loss: SIGKILL one executor JVM mid-query. Its shuffle
    * outputs vanish, fetch failures force stage retries, the master
    * re-provisions, and the result must not change. Landed is
    * two-factor: the removal registered AND the run shows failed
    * tasks or stage re-attempts (a kill after the job finished shows
    * a removal and nothing else).
    */
  private val kill: Fault = Fault("chaos_probe", "all_equal_and_landed",
    Seq("q113_winnow_near_dup", "q82_dedup_clusters",
      "q102_leakage_safe_split", "q160_ivfpq_search"),
    confs = Map.empty, sessionPerPass = false, cleanReference = false,
    strike = Some { (fleet: Fleet) =>
      fleet.awaitBusy(minEnded = 0)
      fleet.pids.headOption.fold(-1L)(pid => if (sigkill(pid)) pid else -1L)
    },
    landed = p => p.victim > 0 && p.removed > 0 && (p.failed > 0 || p.reattempts > 0),
    fields = (p, attempts) => Seq(
      "killed_pid" -> p.victim, "executors_removed" -> p.removed,
      "tasks_failed" -> p.failed, "stage_reattempts" -> p.reattempts,
      "landed" -> kill.landed(p), "attempts" -> attempts,
      "wall_healthy_s" -> p.ref.wall, "wall_chaos_s" -> p.wall))

  /** Graceful decommission: SIGPWR with storage migration on. The
    * executor drains, its shuffle outputs and RDD blocks migrate to
    * peers, and the job must finish with ZERO failed tasks and ZERO
    * stage re-attempts. Each pass gets a fresh session: a standalone
    * master will not reliably re-provision a decommissioned worker
    * for the same app. Landed: the signal delivered while the job was
    * in flight (the delivery stamp is taken after `kill` exits, an
    * upper bound, so a late signal can never pass), the removal
    * registered, migrated shuffle blocks were seen, and nothing was
    * recomputed.
    */
  private val decommission: Fault = Fault("decommission_probe", "all_landed_no_recompute",
    Seq("q113_winnow_near_dup", "q160_ivfpq_search"),
    confs = Map(
      "spark.decommission.enabled" -> "true",
      "spark.storage.decommission.enabled" -> "true",
      "spark.storage.decommission.rddBlocks.enabled" -> "true",
      "spark.storage.decommission.shuffleBlocks.enabled" -> "true"),
    sessionPerPass = true, cleanReference = false,
    strike = Some { (fleet: Fleet) =>
      // at least one finished wave: the victim must hold map outputs
      fleet.awaitBusy(minEnded = 2L * fleet.size)
      fleet.pids.headOption.fold(-1L) { pid =>
        fleet.probe.rddFenceNanos = System.nanoTime()
        if (sigpwr(pid)) pid
        else { fleet.probe.rddFenceNanos = Long.MaxValue; -1L }
      }
    },
    landed = p => p.victim > 0 && p.inFlight && p.removed > 0 &&
      p.shuffleMigrated > 0 && p.failed == 0 && p.reattempts == 0,
    fields = (p, attempts) => Seq(
      "decommissioned_pid" -> p.victim, "executors_removed" -> p.removed,
      "shuffle_blocks_migrated" -> p.shuffleMigrated,
      "rdd_blocks_migrated" -> p.rddMigrated, "tasks_failed" -> p.failed,
      "stage_reattempts" -> p.reattempts, "landed" -> decommission.landed(p),
      "attempts" -> attempts, "wall_healthy_s" -> p.ref.wall, "wall_decom_s" -> p.wall))

  /** Speculative execution: aggressive cloning confs, same hashes.
    * One host can attest only the decision half: the scheduler MARKS
    * stragglers speculatable, but launches a clone only on a host with
    * no attempt (`hasAttemptOnHost`), and every local-cluster executor
    * shares one host, so launches are reported, not guarded. Landed
    * is run-wide: some task was marked.
    */
  private val speculation: Fault = Fault("speculation_probe", "all_equal",
    Seq("q37_stratified_sample", "q97_ivf_kmeans",
      "q104_corpus_shuffle_split", "q161_training_shuffle"),
    confs = Map(
      "spark.speculation" -> "true",
      "spark.speculation.interval" -> "10ms",
      "spark.speculation.multiplier" -> "1.01",
      "spark.speculation.quantile" -> "0.4",
      // with the efficiency gate on, uniform healthy tasks never clone
      // on a quiet box; off is the classic runtime-quantile rule
      "spark.speculation.efficiency.enabled" -> "false"),
    sessionPerPass = false, cleanReference = true, strike = None,
    landed = _ => true,
    fields = (p, _) => Seq(
      "speculatable_marked" -> p.marked,
      "speculative_tasks_launched" -> p.launched, "killed_tasks" -> p.killed,
      "wall_ref_s" -> p.ref.wall, "wall_spec_s" -> p.wall),
    summary = passes => {
      val marked = passes.map(_.marked).sum
      (Seq("speculatable_marked_total" -> marked, "landed" -> (marked > 0)), marked > 0)
    })

  /** The shared loop, per query: a reference hash from a healthy run,
    * then a fault pass retried up to 2 times until it lands, one JSON
    * line, and at the end a summary line. The reference runs in the
    * first fault pass's session, just before its fault run (the same
    * fleet, warmed the same way), unless the mode's confs could change
    * the result (`cleanReference`): then every reference comes first,
    * from a session without them. True iff every query is equal and
    * landed and the mode's summary rule holds.
    */
  private def attest(f: Fault, args: Seq[String]): Boolean = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.size > 1) args.drop(1) else f.defaultQueries
    val fns = names.map(n => n -> query(n))
    val clean: Map[String, Ref] =
      if (!f.cleanReference) Map.empty
      else withFleet(Map.empty) { fleet =>
        fleet.await()
        fns.map { case (n, fn) => n -> reference(fleet.spark, fn, sfDir) }.toMap
      }
    def one(name: String, pass: Option[Ref] => Pass): (String, Pass) = {
      var attempts = 1
      var last = pass(clean.get(name))
      while (attempts < 3 && !f.landed(last)) {
        attempts += 1
        last = pass(Some(last.ref))
      }
      println(json(Seq("query" -> name, "equal" -> last.equal) ++
        f.fields(last, attempts): _*))
      name -> last
    }
    val results =
      if (f.sessionPerPass) fns.map { case (n, fn) =>
        one(n, ref => withFleet(f.confs)(faultPass(f, _, fn, sfDir, ref)))
      }
      else withFleet(f.confs) { fleet =>
        fns.map { case (n, fn) => one(n, faultPass(f, fleet, fn, sfDir, _)) }
      }
    val failed = results.collect { case (n, p) if !(p.equal && f.landed(p)) => n }
    val (extra, summaryOk) = f.summary(results.map(_._2))
    println(json(Seq("metric" -> f.metric, "queries" -> results.size,
      f.okKey -> failed.isEmpty) ++ extra :+ ("failed" -> failed): _*))
    failed.isEmpty && summaryOk
  }

  private def reference(spark: SparkSession, fn: Query, sfDir: String): Ref = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    Ref(canonicalHash(fn(spark, sfDir).collect()), seconds(t0))
  }

  private def faultPass(f: Fault, fleet: Fleet, fn: Query, sfDir: String,
      known: Option[Ref]): Pass = {
    val (spark, p) = (fleet.spark, fleet.probe)
    fleet.await() // a previous pass's victim is re-provisioned first
    val ref = known.getOrElse(reference(spark, fn, sfDir))
    spark.catalog.clearCache()
    p.reset(spark)
    val victim = new AtomicLong(-1L)
    val delivered = new AtomicLong(Long.MaxValue)
    val striker = f.strike.map { strike =>
      val t = new Thread(() => {
        val pid = strike(fleet)
        if (pid > 0) { delivered.set(System.nanoTime()); victim.set(pid) }
      }, s"probe-${f.metric}")
      t.setDaemon(true)
      t
    }
    val t0 = System.nanoTime()
    striker.foreach(_.start())
    val hash = canonicalHash(fn(spark, sfDir).collect())
    val collectEnd = System.nanoTime()
    striker.foreach(_.join(90000))
    val inFlight = victim.get() > 0 && delivered.get() < collectEnd
    // drain, THEN read the in-run evidence: failure events may still be
    // queued at collect return, and a post-job fault generates none
    TaskMetricsProbe.drain(spark)
    val (failed, reattempts) = (p.tasksFailed.sum(), p.stageReattempts.sum())
    // the executor-removed event is asynchronous; the block handoff
    // finishes before the executor exits, so the migration counts are
    // read only after it
    val grace = System.nanoTime() + 30e9.toLong
    while (victim.get() > 0 && p.executorsRemoved.sum() == 0 &&
        System.nanoTime() < grace)
      Thread.sleep(200)
    TaskMetricsProbe.drain(spark)
    spark.catalog.clearCache()
    Pass(ref, hash == ref.hash, victim.get(), inFlight, (collectEnd - t0) / 1e9,
      failed, reattempts, p.executorsRemoved.sum(),
      p.shuffleBlocksMigrated.sum(), p.rddBlocksMigrated.sum(),
      p.speculatableMarked.sum(), p.speculativeLaunched.sum(), p.tasksKilled.sum())
  }

  // ---- dynalloc ----

  /** Dynamic allocation from ONE initial executor. Attests that
    *  1. compute-dense spreads use [[SessionDefaults.computeWidth]] (a
    *     static conf), not the `defaultParallelism` of however few
    *     executors registered at plan time;
    *  2. a shuffle-heavy query hashes the same while executors are
    *     added mid-job as at steady state;
    *  3. after the idle timeout shrinks the fleet, the query still runs
    *     (shuffle tracking must not strand map outputs).
    * Both trajectories must actually happen (ramped, decayed), or the
    * hash checks attest nothing dynamic-allocation-specific.
    */
  private def dynalloc(args: Seq[String]): Boolean = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val fn = query(args.lift(1).getOrElse("q82_dedup_clusters"))
    withFleet(Map(
      "spark.dynamicAllocation.enabled" -> "true",
      "spark.dynamicAllocation.shuffleTracking.enabled" -> "true",
      "spark.dynamicAllocation.minExecutors" -> "1",
      "spark.dynamicAllocation.initialExecutors" -> "1",
      "spark.dynamicAllocation.maxExecutors" -> "4",
      "spark.dynamicAllocation.executorIdleTimeout" -> "4s",
      "spark.dynamicAllocation.shuffleTracking.timeout" -> "8s",
      "spark.dynamicAllocation.schedulerBacklogTimeout" -> "1s")) { fleet =>
      val (spark, p) = (fleet.spark, fleet.probe)
      val dp0 = spark.sparkContext.defaultParallelism
      val width = SessionDefaults.computeWidth(spark)
      val spreadParts = Tables.loadSpread(spark, sfDir, "documents").rdd.getNumPartitions
      val widthPinned = spreadParts == width

      val rampHash = canonicalHash(fn(spark, sfDir).collect())
      // snapshot the ramp HERE: later adds (the requery's own ramp)
      // must not satisfy "scaled up during the ramp query"
      TaskMetricsProbe.drain(spark)
      val addedDuringRamp = p.executorsAdded.sum()
      spark.catalog.clearCache()
      val steadyHash = canonicalHash(fn(spark, sfDir).collect())
      spark.catalog.clearCache()
      val hashEqual = rampHash == steadyHash

      val decayDeadline = System.nanoTime() + 45e9.toLong
      while (p.executorsRemoved.sum() == 0 && System.nanoTime() < decayDeadline)
        Thread.sleep(500)
      val requeryOk = canonicalHash(fn(spark, sfDir).collect()) == steadyHash

      TaskMetricsProbe.drain(spark)
      val ramped = addedDuringRamp >= 2 // beyond the single initial executor
      val decayed = p.executorsRemoved.sum() > 0
      println(json("metric" -> "dynalloc_probe", "dp_at_start" -> dp0,
        "compute_width" -> width, "spread_partitions" -> spreadParts,
        "width_pinned" -> widthPinned, "execs_added_ramp" -> addedDuringRamp,
        "execs_added" -> p.executorsAdded.sum(),
        "execs_removed" -> p.executorsRemoved.sum(), "ramped" -> ramped,
        "decayed" -> decayed, "hash_equal" -> hashEqual, "requery_ok" -> requeryOk))
      widthPinned && hashEqual && requeryOk && ramped && decayed
    }
  }

  // ---- streamkill ----

  final case class Tick(ts: Timestamp, contract: String, value: Double, seq: Long)

  /** State-store recovery across executor DEATH inside one running
    * streaming query. The WHOLE fleet is SIGKILLed between two
    * micro-batches of the watermark dedup, so no warm in-memory state
    * can survive anywhere and batch 2's dedup decisions can only come
    * from state reloaded from the checkpoint (killing one executor
    * would exercise the reload only when the victim owned the key's
    * state partition). Batch 2 replays a kept row from ahead of the
    * recovered watermark: lost state would emit it twice.
    */
  private def streamkill(args: Seq[String]): Boolean = withFleet(Map.empty) { fleet =>
    val spark = fleet.spark
    import spark.implicits._
    fleet.await()
    val src = Files.createTempDirectory("schaos_src")
    val ckpt = Files.createTempDirectory("schaos_ckpt")
    val out = Files.createTempDirectory("schaos_out")
    def ts(s: String) = Timestamp.valueOf(s)
    def addFile(name: String, rows: Seq[Tick]): Unit = {
      val tmp = Files.createTempDirectory("schaos_stage")
      rows.toDF().coalesce(1).write.mode("overwrite").json(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing.toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".json")).get
      finally listing.close()
      Files.move(part, src.resolve(name))
    }

    val stream = graft.streaming.StreamOps.dedupWithWatermark(
      spark.readStream.schema(Seq.empty[Tick].toDF().schema).json(src.toString),
      "ts", "10 minutes", Seq("contract"))
    val q = stream.writeStream
      .format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    var killed = 0
    try {
      // batch 1: two keys; watermark advances to 10:20 - 10min = 10:10
      addFile("b1.json", Seq(
        Tick(ts("2024-01-01 10:15:00"), "A", 1.0, 1),
        Tick(ts("2024-01-01 10:20:00"), "B", 2.0, 2)))
      q.processAllAvailable()

      val victims = fleet.pids
      killed = victims.count(sigkill)
      val grace = System.nanoTime() + 60e9.toLong
      while (fleet.probe.executorsRemoved.sum() < killed && System.nanoTime() < grace)
        Thread.sleep(200)
      // batch 2 runs on FRESH JVMs only
      fleet.await(exclude = victims.toSet)

      // batch 2 on the same running query: A's kept row replayed from
      // ahead of the watermark, plus two new keys
      addFile("b2.json", Seq(
        Tick(ts("2024-01-01 10:15:00"), "A", 1.0, 3),
        Tick(ts("2024-01-01 10:25:00"), "C", 3.0, 4),
        Tick(ts("2024-01-01 12:00:00"), "D", 4.0, 5)))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.read.parquet(out.toString)
      .select($"contract", $"seq").as[(String, Long)].collect().sorted.toSeq
    val keys = rows.map(_._1)
    val exactlyOnce = keys == keys.distinct && keys.sorted == Seq("A", "B", "C", "D")
    val dupDropped = rows.toMap.get("A").contains(1L)
    val removed = fleet.probe.executorsRemoved.sum()
    println(json("metric" -> "stream_chaos", "killed" -> killed,
      "executors_removed" -> removed, "keys" -> keys.size,
      "dup_dropped" -> dupDropped, "exactly_once" -> exactlyOnce))
    exactlyOnce && dupDropped && removed > 0 && killed == fleet.size
  }

  // ---- skew ----

  /** AQE skew-join vs the q25 hot-shingle df-cap, on a deterministic
    * 1-in-`mod` subsample of the corpus. A shingle of document
    * frequency df contributes df² candidate rows; AQE splits a skewed
    * shuffle PARTITION (parallelizing the df² work), the cap removes
    * it. Cells: `capped` (shipped maxDf, AQE defaults), `uncapped_aqe`
    * (skewJoin forced hot), `uncapped_noaqe` (skewJoin off). The two
    * uncapped cells must hash-equal. Capped output may lose pairs
    * whose every shared shingle is hot (the cap's documented
    * carve-out), reported as `pairs_lost_to_cap`. Per cell: min-of-N
    * wall and task CPU, rows, and whether the final plan carries an
    * AQE `skew=true` marker (reported, not guarded: AQE's detector is
    * byte-thresholded, the df² term is compute at small bytes).
    */
  private def skew(args: Seq[String]): Boolean = withSession(Map.empty) { spark =>
    import spark.implicits._
    val sfDir = args.headOption.getOrElse("probe_data/sf1skew")
    val mod = args.lift(1).fold(10)(_.toInt)
    val passes = args.lift(2).fold(3)(_.toInt)
    val taskMetrics = TaskMetricsProbe.install(spark)
    val docs = Tables.load(spark, sfDir, "documents").filter($"doc_id" % mod === 0)

    // each cell sets every conf an earlier cell touched: advisory size
    // is read by partition coalescing whatever skewJoin.enabled says
    val cells = Seq(
      ("capped", graft.queries.TextQueries.jaccardMaxDf, Map(
        "spark.sql.adaptive.skewJoin.enabled" -> "true")),
      ("uncapped_aqe", Int.MaxValue, Map(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m")),
      ("uncapped_noaqe", Int.MaxValue, Map(
        "spark.sql.adaptive.skewJoin.enabled" -> "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m")))

    val results = cells.map { case (name, maxDf, confs) =>
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      var rows = -1L
      var hash = ""
      var skewMarked = false
      val runs = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        TaskMetricsProbe.drain(spark)
        val tm0 = taskMetrics.snapshot()
        val t0 = System.nanoTime()
        val df = graft.queries.TextQueries.jaccardPairsCappedCore(docs, maxDf)
          .orderBy($"source", $"i", $"j")
        val out = df.collect()
        val wall = seconds(t0)
        TaskMetricsProbe.drain(spark)
        rows = out.length.toLong
        hash = canonicalHash(out)
        skewMarked ||= df.queryExecution.executedPlan.toString.contains("skew=true")
        (wall, (taskMetrics.snapshot() - tm0).cpuS)
      }
      val wall = runs.map(_._1).min
      println(json("cell" -> name, "wall_s" -> wall, "cpu_task_s" -> runs.map(_._2).min,
        "rows" -> rows, "hash" -> hash, "skew_marked" -> skewMarked,
        "walls" -> runs.map(_._1)))
      (name, wall, hash, skewMarked, rows)
    }

    val uncapped = results.filter(_._1.startsWith("uncapped"))
    val uncappedEqual = uncapped.map(_._3).distinct.size == 1
    println(json("metric" -> "skew_aqe_probe", "cells" -> results.size,
      "uncapped_hashes_equal" -> uncappedEqual,
      "aqe_skew_marked" -> results.find(_._1 == "uncapped_aqe").exists(_._4),
      "capped_wall_s" -> results.head._2,
      "pairs_lost_to_cap" -> (uncapped.head._5 - results.head._5)))
    uncappedEqual
  }

  // ---- star ----

  /** The star-escalation tier at 10⁵–10⁶ edges: a PATH whose node ids
    * alternate between the low and high half (position p → p/2 when
    * even, else n-1-(p-1)/2), so every second position is a local
    * minimum and min-label propagation advances O(1) positions per
    * round — unwinnable for any constant fast-path budget. Star rounds
    * are O(log² n) for any placement (Kiveris et al., SoCC 2014).
    * Records star rounds, wall, exactness (one component, label 0,
    * all n nodes) and the persistent-RDD high-water mark (the eager
    * checkpoint reclamation across tens of rounds). Also written to
    * `target/star_probe.json`.
    */
  private def star(args: Seq[String]): Boolean = withSession(Map.empty) { spark =>
    import spark.implicits._
    val n = args.headOption.fold(500000L)(_.toLong)
    val iters = args.lift(1).fold(4)(_.toInt)
    // halving stays exact in double up to 2^52, far beyond any probe n
    def place(c: org.apache.spark.sql.Column) =
      floor(when(c % 2 === 0, c / 2).otherwise(lit(n - 1) - (c - 1) / 2)).cast("long")
    val pos = spark.range(n - 1).select($"id".as("p"))
    val edges = pos.select(place($"p").as("i"), place($"p" + 1).as("j"))

    @volatile var maxRdds = 0
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        maxRdds = math.max(maxRdds, spark.sparkContext.getPersistentRDDs.size)
        Thread.sleep(100)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val t0 = System.nanoTime()
    val labels = Components.minLabelComponents(edges, iters = iters)
    val agg = labels.agg(countDistinct($"comp"), min($"comp"), count(lit(1))).collect()(0)
    val wallS = seconds(t0)
    sampling = false

    val line = json("n" -> n, "edges" -> (n - 1), "escalated" -> Components.lastEscalated,
      "star_rounds" -> Components.lastStarRounds, "wall_s" -> Fixed(wallS, 1),
      "distinct_comps" -> agg.getLong(0), "comp_min" -> agg.getLong(1),
      "labeled_nodes" -> agg.getLong(2), "max_persistent_rdds" -> maxRdds)
    println(line)
    val out = Paths.get("target", "star_probe.json")
    Files.createDirectories(out.getParent)
    Files.write(out, line.getBytes("UTF-8"))
    true
  }

  // ---- bpe ----

  /** The batched BPE trainer at `nMerges` far past the oracle fixtures:
    *  1. per-ROUND cost stays flat in round number (mean wall of the
    *     first vs last round quartile);
    *  2. per-MERGE cost drops by the batch factor: rounds vs merges,
    *     plus a min-of-2 interleaved A/B at `abMerges` of the
    *     sequential (`maxBatch=1, checkpointEvery=1`), cadence-only and
    *     batched structures, whose merge lists must be equal.
    * The documents corpus alone exhausts near 89 merges (a 31-word
    * vocabulary), so entity-name columns widen it deterministically.
    */
  private def bpe(args: Seq[String]): Boolean = withSession(Map.empty) { spark =>
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nMerges = args.lift(1).fold(256)(_.toInt)
    val abMerges = args.lift(2).fold(64)(_.toInt)
    val docs = Tables.load(spark, sfDir, "documents").select("text")
      .unionByName(Tables.load(spark, sfDir, "customer").selectExpr("c_name AS text"))
      .unionByName(Tables.load(spark, sfDir, "part").selectExpr("p_name AS text"))
      .unionByName(Tables.load(spark, sfDir, "supplier").selectExpr("s_name AS text"))

    val rounds = scala.collection.mutable.ListBuffer.empty[BpeTrainer.RoundStats]
    val t0 = System.nanoTime()
    val learned = BpeTrainer.learn(docs, "text", nMerges, onRound = rounds += _)
    val wallS = seconds(t0)
    Checkpoints.free(learned.vocab)
    val walls = rounds.map(_.wallMs).toSeq
    val q = math.max(walls.size / 4, 1)
    def mean(xs: Seq[Long]): Double = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size

    def run(maxBatch: Int, cadence: Int): (Double, Seq[(String, String, Long)]) = {
      val s = System.nanoTime()
      val l = BpeTrainer.learn(docs, "text", abMerges,
        maxBatch = maxBatch, checkpointEvery = cadence)
      Checkpoints.free(l.vocab)
      (seconds(s), l.merges)
    }
    val cells = (1 to 2).map(_ => (run(1, 1), run(1, 4), run(16, 4)))
    val (seqS, seqMerges) = cells.map(_._1).minBy(_._1)
    val (cadS, cadMerges) = cells.map(_._2).minBy(_._1)
    val (batS, batMerges) = cells.map(_._3).minBy(_._1)

    println(json("sf_dir" -> sfDir, "n_merges" -> nMerges,
      "merges_learned" -> learned.merges.size, "rounds" -> rounds.size,
      "merges_per_round" -> learned.merges.size.toDouble / math.max(rounds.size, 1),
      "wall_s" -> Fixed(wallS, 1),
      "round_ms_q1" -> Fixed(mean(walls.take(q)), 0),
      "round_ms_q4" -> Fixed(mean(walls.takeRight(q)), 0),
      "ab_merges" -> abMerges, "ab_seq_s" -> Fixed(seqS, 1),
      "ab_cadence_s" -> Fixed(cadS, 1), "ab_batched_s" -> Fixed(batS, 1),
      "ab_speedup" -> seqS / batS,
      "ab_equal" -> (seqMerges == batMerges && cadMerges == batMerges)))
    true
  }

  // ---- plans ----

  /** `.explain("formatted")` of the named queries (default: all) to
    * `<outDir>/<query>_<tag>.txt`, each frame built as Bench builds it
    * (same session, `SPARK_GRAFT_SF_DIR` data). Plan construction only:
    * collect-bearing cores run their bounded build-time jobs.
    */
  private def plans(args: Seq[String]): Boolean = {
    require(args.size >= 2, s"usage: Probe plans ${modes("plans").usage}")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val wanted = args.drop(2).toSet
    val unknown = wanted -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    withSession(Map.empty) { spark =>
      Files.createDirectories(outDir)
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => wanted.isEmpty || wanted(n) }
        .foreach { case (name, fn) =>
          val df = fn(spark, sfDir)
          val out = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
            df.explain("formatted")
          }
          val file = outDir.resolve(s"${name}_$tag.txt")
          Files.write(file, out.toByteArray)
          spark.catalog.clearCache()
          println(s"[plans] $name -> $file")
        }
      true
    }
  }
}
