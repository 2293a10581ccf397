package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SessionDefaults, SparkEntry, Tables}
import graft.operators.Staging
import graft.sources.Store

/** Benchmark harness: one JVM, one driver thread, a closed loop with
  * one client. It runs the op list it is given (query order or store
  * op log, both generated from the seed by `perfbench/run.py`) and
  * writes one JSON record per line; the Python side turns those into
  * metrics and checks them against DuckDB.
  *
  * Usage: Main <input file> <output file> [<store op log input file>]
  *
  * Input lines are tab-separated: `key value...`. Keys: workload,
  * data, cpus, seconds, trace, setups, work (run directory), check
  * <query>, init <root> <day> <days>, pass, and
  * op <query> | op read|upsert|patch|delete <args>.
  */
object Main {

  final case class Input(kv: Map[String, String], check: Seq[String],
      init: Seq[Seq[String]], passes: Seq[Seq[Seq[String]]])

  def readInput(path: String): Input = {
    val lines = scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split('\t').toSeq).toSeq
    val kv = lines.collect { case Seq(k, v) if k != "op" && k != "check" => k -> v }.toMap
    val passes = collection.mutable.ArrayBuffer(collection.mutable.ArrayBuffer.empty[Seq[String]])
    lines.foreach {
      case Seq("pass") => passes += collection.mutable.ArrayBuffer.empty
      case "op" +: args => passes.last += args
      case _ =>
    }
    Input(kv,
      lines.collect { case Seq("check", q) => q },
      lines.collect { case "init" +: args => args },
      passes.map(_.toSeq).filter(_.nonEmpty).toSeq)
  }

  def newSession(cpus: String, localDir: String): SparkSession = {
    val master = SessionDefaults.master(cpus)
    val s = SessionDefaults(SparkSession.builder().master(master))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val in = readInput(args(0))
    val out = new PrintWriter(args(1), "UTF-8")
    val emit: Seq[(String, Any)] => Unit = kv => { out.println(Json.obj(kv: _*)); out.flush() }
    val workload = in.kv("workload")
    val cpus = in.kv("cpus")
    val work = new File(in.kv("work")).getAbsolutePath
    val traced = in.kv("trace") == "1"
    val seconds = in.kv("seconds").toDouble
    val localDir = new File(work, "spark-local").getAbsolutePath
    val jvmStartS = (mainEntryMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    emit(Seq("k" -> "meta", "jvm_start_s" -> jvmStartS, "cpus" -> cpus.toInt))

    val wl: Workload =
      if (workload == "store_ingest") new StoreWorkload(in, work)
      else new QueryWorkload(in)

    // Set-up, repeated: a fresh session, then the schema check (or the
    // store's initial load). The first repetition also pays JVM start.
    var spark: SparkSession = null
    (0 until in.kv("setups").toInt).foreach { i =>
      val t0 = System.nanoTime()
      if (spark != null) { SessionDefaults.stopAndReap(spark); SparkSession.clearDefaultSession() }
      spark = newSession(cpus, localDir)
      val t1 = System.nanoTime()
      wl.setup(spark, i)
      val t2 = System.nanoTime()
      emit(Seq("k" -> "setup", "i" -> i,
        "s" -> ((t2 - t0) / 1e9 + (if (i == 0) jvmStartS else 0.0)),
        "session_s" -> (t1 - t0) / 1e9, "load_s" -> (t2 - t1) / 1e9))
    }

    // Output check, outside any timed window (for the query workloads
    // it doubles as the warm-up: each query's first, cold, execution).
    wl.check(spark, emit)

    val sc = spark.sparkContext
    val cpu = new CpuCounter
    sc.addSparkListener(cpu)
    val windows = new Windows(spark, emit, cpu, seconds)
    val passes = in.passes.iterator
    val layers = new LayerListener
    def traceOn(on: Boolean): Unit =
      if (on) { sc.addSparkListener(layers); spark.listenerManager.register(layers) }
      else { spark.listenerManager.unregister(layers); sc.removeSparkListener(layers) }

    // The store's first pass is its warm-up, run untimed.
    if (wl.warmupPass) windows.run("warmup", wl, passes, maxPasses = 1)
    if (!traced) windows.run("main", wl, passes)
    else {
      // One untraced pass on either side of the traced window: they give
      // the tracing overhead and the drift from one pass to the next
      // inside one process.
      windows.run("plain1", wl, passes, maxPasses = 1)
      val tracer = new Tracer(true)
      traceOn(true)
      windows.run("traced", wl, passes, tracer, Some(layers))
      traceOn(false)
      windows.run("plain2", wl, passes, maxPasses = 1)
      tracer.spans.foreach { s =>
        emit(Seq("k" -> "span", "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1))
      }
      Kernels.time(emit)
      // The store_ingest op log, run after a query workload's traced
      // window so that every traced run measures the store layer.
      args.lift(2).foreach { storeInput =>
        val sin = readInput(storeInput)
        val store = new StoreWorkload(sin, work)
        store.setup(spark, 0)
        val sp = sin.passes.iterator
        windows.run("store-warmup", store, sp, maxPasses = 1)
        traceOn(true)
        windows.run("store", store, sp, new Tracer(false), Some(layers), maxPasses = 1)
        traceOn(false)
        store.finish(spark, emit)
      }
    }
    wl.finish(spark, emit)
    out.close()
    SessionDefaults.stopAndReap(spark)
  }
}

/** Timed windows: a closed loop with one client over whole passes. */
final class Windows(spark: SparkSession, emit: Seq[(String, Any)] => Unit,
    cpu: CpuCounter, seconds: Double) {
  private val sc = spark.sparkContext
  private def drain(): Unit = org.apache.spark.graft.ListenerBusDrain.drain(sc)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  /** Whole passes, taken from `passes` (shared across windows, so an
    * op log never repeats), until `seconds` have elapsed or
    * `maxPasses` have run.
    */
  def run(label: String, wl: Workload, passes: Iterator[Seq[Seq[String]]],
      tracer: Tracer = new Tracer(false), layers: Option[LayerListener] = None,
      maxPasses: Int = Int.MaxValue): Unit = {
    drain()
    val cpu0 = cpu.cpuNs
    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val steal0 = Steal.read()
    val t0 = System.nanoTime()
    var opId = 0L
    var done = 0
    while (passes.hasNext && done < maxPasses &&
        (done == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val p0 = System.nanoTime()
      val pSteal0 = Steal.read()
      val pCpu0 = cpu.cpuNs
      passes.next().foreach { op =>
        opId += 1
        layers.foreach { l => drain(); l.take() }
        val cg0 = Codegen.snapshot()
        val s0 = Clock.us()
        val r = tracer.op(opId)(wl.run(spark, op, tracer))
        val s1 = Clock.us()
        val cg1 = Codegen.snapshot()
        val after = wl.afterOp(spark)
        val layerJson = layers.map { l =>
          drain()
          val (counts, jobs, phases) = l.take()
          jobs.foreach(j => tracer.attach(opId, "job", j.t0, j.t1))
          phases.foreach(p => tracer.attach(opId, "catalyst." + p.name, p.t0, p.t1))
          Json.Raw(counts.json)
        }
        emit(Seq("k" -> "op", "window" -> label, "i" -> opId, "pass" -> done,
          "name" -> op.head, "args" -> op.tail, "s" -> (s1 - s0) / 1e6,
          "t0" -> s0, "t1" -> s1,
          "compiles" -> (cg1._1 - cg0._1), "compile_s" -> (cg1._2 - cg0._2) / 1e9,
          "layers" -> layerJson) ++ r.fields ++ after)
      }
      val pWall = (System.nanoTime() - p0) / 1e9
      val pSteal = Steal.frac(pSteal0, Steal.read())
      drain()
      emit(Seq("k" -> "pass", "window" -> label, "pass" -> done, "s" -> pWall,
        "cpu_s" -> (cpu.cpuNs - pCpu0) / 1e9, "steal_frac" -> pSteal))
      done += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val steal = Steal.frac(steal0, Steal.read())
    drain()
    emit(Seq("k" -> "window", "window" -> label, "s" -> wall, "ops" -> opId,
      "passes" -> done, "cpu_s" -> (cpu.cpuNs - cpu0) / 1e9,
      "gc_s" -> (gcMs() - gc0) / 1e3,
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "steal_frac" -> steal))
  }
}

/** What one op reports besides its wall time. */
final case class OpResult(fields: Seq[(String, Any)])

trait Workload {
  def warmupPass: Boolean = false
  def setup(spark: SparkSession, i: Int): Unit
  def check(spark: SparkSession, emit: Seq[(String, Any)] => Unit): Unit
  def run(spark: SparkSession, op: Seq[String], tracer: Tracer): OpResult
  /** Work after an op's timed section; returns fields for its record. */
  def afterOp(spark: SparkSession): Seq[(String, Any)] = Nil
  def finish(spark: SparkSession, emit: Seq[(String, Any)] => Unit): Unit = ()

  protected def failure(e: Throwable): Seq[(String, Any)] =
    Seq("ok" -> false, "err_class" -> e.getClass.getName,
      "err" -> String.valueOf(e.getMessage).take(500))
}

/** fin_surface / corpus_curation: the graft.Bench run path per op. */
final class QueryWorkload(in: Main.Input) extends Workload {
  private val queries = SparkEntry.queries
  private val dir = in.kv("data")
  private val checkDir = new File(in.kv("work"), "check").getAbsolutePath

  def setup(spark: SparkSession, i: Int): Unit = Tables.assertSchemas(spark, dir)

  /** Each query once, dumped as graft.Verify dumps it, for the DuckDB
    * comparison that `run.py` makes.
    */
  def check(spark: SparkSession, emit: Seq[(String, Any)] => Unit): Unit =
    in.check.foreach { q =>
      val t0 = System.nanoTime()
      val r = try {
        val df = queries(q)(spark, dir)
        Staging.pinCaches(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q")
        Seq("ok" -> true)
      } catch { case scala.util.control.NonFatal(e) => failure(e) }
      spark.catalog.clearCache()
      emit(Seq("k" -> "check", "name" -> q, "s" -> (System.nanoTime() - t0) / 1e9) ++ r)
    }

  def run(spark: SparkSession, op: Seq[String], tracer: Tracer): OpResult =
    try {
      val df = tracer.span("build")(queries(op.head)(spark, dir))
      val pinned = tracer.span("pin")(Staging.pinCaches(df))
      tracer.span("execute")(df.write.format("noop").mode("overwrite").save())
      OpResult(Seq("ok" -> true, "pinned" -> pinned))
    } catch { case scala.util.control.NonFatal(e) => OpResult(failure(e)) }

  override def afterOp(spark: SparkSession): Seq[(String, Any)] = {
    spark.catalog.clearCache()
    Nil
  }

  override def finish(spark: SparkSession, emit: Seq[(String, Any)] => Unit): Unit = {
    def q(s: String): String = Json.str(s)
    val sql = SparkEntry.oracleSql.filter { case (k, _) => in.check.contains(k) }
    new File(checkDir).mkdirs()
    val w = new PrintWriter(new File(checkDir, "oracle_sql.json"), "UTF-8")
    w.write(sql.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",\n", "}"))
    w.close()
  }
}

/** store_ingest: versioned option-bar table keyed (root, ts), one
  * partition directory per (root, date). Every write op reads the
  * current version and writes the next one in full, as
  * `Store.writePartitionedBars` does.
  */
final class StoreWorkload(in: Main.Input, work: String) extends Workload {
  override def warmupPass: Boolean = true
  private val bars = Seq("day", "ts", "root", "open", "high", "low", "close", "volume")
  private val stored = StructType(Seq(
    StructField("day", DateType), StructField("ts", TimestampType),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", LongType), StructField("root", StringType),
    StructField("date", DateType)))
  private val base = new File(work, "store").getAbsolutePath
  private var version = 0
  // the last version whose files afterOp listed
  private var listed = 0
  private def path(v: Int): String = f"$base/v$v%05d"

  private def day(n: String): String = java.time.LocalDate.ofEpochDay(n.toLong).toString

  private def fetch(spark: SparkSession, root: String, start: String, days: String): DataFrame =
    spark.read.format("graft.sources.dsv2.ThetaCsvSource")
      .option("root", root).option("start", day(start)).option("days", days).load()

  private def current(spark: SparkSession): DataFrame =
    spark.read.schema(stored).option("basePath", path(version))
      .parquet(path(version)).select(bars.map(col): _*)

  /** `root` over the days d0..d1 of date column `c`. */
  private def rows(root: String, c: String, d0: String, d1: String): Column =
    col("root") === root && col(c).between(lit(day(d0)).cast("date"), lit(day(d1)).cast("date"))

  def setup(spark: SparkSession, i: Int): Unit = {
    version = 0
    listed = 0
    deleteTree(new File(base))
    val initial = in.init.map { case Seq(r, d, n) => fetch(spark, r, d, n) }.reduce(_ unionByName _)
    Store.writePartitionedBars(initial, path(0), "root", "ts")
  }

  def check(spark: SparkSession, emit: Seq[(String, Any)] => Unit): Unit = ()

  /** Every op runs as a query op does: build the frame, pin its
    * caches, then act — a partition-pruned collect for a read, the
    * next version's full write for the others.
    */
  def run(spark: SparkSession, op: Seq[String], tracer: Tracer): OpResult = {
    val kind = op.head
    try {
      val df = tracer.span("build") {
        val cur = current(spark)
        kind match {
          case "read" =>
            // on the partition column, so whole directories are pruned
            val Seq(r, d0, d1) = op.tail
            cur.filter(rows(r, "date", d0, d1))
          case "upsert" =>
            val Seq(r, d0, n) = op.tail
            Store.insertIgnore(cur, fetch(spark, r, d0, n), Seq("root", "ts"))
          case "patch" =>
            val Seq(r, d0, d1, delta) = op.tail
            Store.batchUpdate(cur, rows(r, "day", d0, d1),
              Map("close" -> (col("close") + lit(delta.toDouble))))
          case "delete" =>
            val Seq(r, d0, d1) = op.tail
            Store.filteredDelete(cur, rows(r, "day", d0, d1))
        }
      }
      val pinned = tracer.span("pin")(Staging.pinCaches(df))
      tracer.span("execute") {
        if (kind == "read")
          OpResult(Seq("ok" -> true, "pinned" -> pinned, "rows" -> df.collect().length))
        else {
          Store.writePartitionedBars(df, path(version + 1), "root", "ts")
          version += 1
          OpResult(Seq("ok" -> true, "pinned" -> pinned, "version" -> version))
        }
      }
    } catch { case scala.util.control.NonFatal(e) => OpResult(failure(e)) }
  }

  /** Files and bytes of the version a write op produced, listed
    * outside the timed op; the version before it is dropped.
    */
  override def afterOp(spark: SparkSession): Seq[(String, Any)] =
    if (listed == version) Nil
    else {
      listed = version
      deleteTree(new File(path(version - 1)))
      val files = listFiles(new File(path(version))).filter(_.getName.endsWith(".parquet"))
      Seq("files_written" -> files.size, "bytes_written" -> files.map(_.length).sum)
    }

  override def finish(spark: SparkSession, emit: Seq[(String, Any)] => Unit): Unit = {
    val files = listFiles(new File(path(version))).filter(_.getName.endsWith(".parquet"))
    emit(Seq("k" -> "store", "version" -> version, "path" -> path(version),
      "files" -> files.size, "bytes" -> files.map(_.length).sum))
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(listFiles) else Seq(f)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Spark's codegen counters: classes compiled and compile nanoseconds. */
object Codegen {
  def snapshot(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

/** Host CPU steal from /proc/stat (0 where the file is absent). */
object Steal {
  def read(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
        .getOrElse(Array.empty[Long])
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Array.empty[Long] }

  def frac(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val total = (0 until math.min(a.length, b.length)).map(i => b(i) - a(i)).sum
      if (total <= 0) 0.0 else (b(7) - a(7)).toDouble / total
    }
}

/** Single-thread timing of the option-analytics kernels over a fixed
  * grid, reported in microseconds per call.
  */
object Kernels {
  import graft.analytics.BlackScholes

  /** (call?, spot, strike, years, vol) */
  private type Point = (Boolean, Double, Double, Double, Double)
  private val r = 0.03
  private val q = 0.01

  private val grid: Seq[Point] = for {
    call <- Seq(true, false)
    k <- Seq(80.0, 95.0, 100.0, 105.0, 120.0)
    t <- Seq(0.05, 0.25, 1.0)
    sigma <- Seq(0.15, 0.3, 0.6)
  } yield (call, 100.0, k, t, sigma)

  private def price(g: Point): Double = BlackScholes.bsPrice(g._1, g._2, g._3, g._4, r, q, g._5)

  private def usPerCall(reps: Int)(f: Point => Double): Double = {
    // the results feed a sink the JIT cannot prove unused
    var sink = 0.0
    grid.foreach(g => sink += f(g)) // warm
    val t0 = System.nanoTime()
    var i = 0
    while (i < reps) { grid.foreach(g => sink += f(g)); i += 1 }
    val us = (System.nanoTime() - t0) / 1e3 / (reps * grid.size)
    if (sink == 42.4242) println(sink)
    us
  }

  def time(emit: Seq[(String, Any)] => Unit): Unit = {
    val bsIv = usPerCall(200)(g =>
      BlackScholes.bsImpliedVol(g._1, price(g), g._2, g._3, g._4, r, q))
    val binIv = usPerCall(2)(g =>
      BlackScholes.binomialImpliedVol(g._1, price(g), g._2, g._3, g._4, r, q))
    val greeks = usPerCall(2000)(g =>
      BlackScholes.bsGreeks(g._1, g._2, g._3, g._4, r, q, g._5).delta)
    emit(Seq("k" -> "kernels", "bs_iv_us" -> bsIv, "binomial_iv_us" -> binIv,
      "greeks_us" -> greeks))
  }
}
