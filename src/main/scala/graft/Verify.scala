package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only the named queries (local iteration;
    // the driver always passes exactly two args → full dump)
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GRAFT_MASTER support (SessionDefaults.master): the multi-executor
    // attestation reruns this SAME dump under local-cluster, proving
    // the oracle-green results hold across real executor boundaries.
    // NOTE: default INT96 parquet timestamps are intentional — they
    // read back as tz-naive values matching the DuckDB oracle's naive
    // timestamps; TIMESTAMP_MICROS would add a UTC tz annotation and
    // break value comparison.
    val spark = SessionDefaults.session(cpus, SessionDefaults.master(cpus))
    // Fail LOUDLY before any query runs if the driver regenerated the
    // testdata with different column types (the Aug-13 drift cost 39
    // queries one silent analysis error at a time).
    Tables.assertSchemas(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // structural guard: an oracle without a query would silently earn
    // zero correctness rows (the round-2 OlapQueries wiring bug)
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    if (orphaned.nonEmpty) {
      System.err.println(
        s"[verify] oracles without queries: ${orphaned.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // ordered materialization (see Staging.pinCaches): build each
        // multi-consumer cache once, sequentially, so no concurrent
        // stage of the dump races an unbuilt cache
        graft.operators.Staging.pinCaches(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop per-query persists (q24/q25 signature staging) so cached
      // blocks don't accumulate across the 50+ query dumps
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      BenchCore.json(SparkEntry.oracleSql.toSeq: _*))
    SessionDefaults.stopAndReap(spark)
  }
}
