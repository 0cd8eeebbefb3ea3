package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Durability: a run killed mid-way must leave a PARTIAL correctness
  * record, never an empty one. Therefore:
  *   1. oracle_sql.json is written BEFORE the first query runs — it
  *      depends only on SparkEntry.oracleSql, not on execution;
  *   2. per-query completion status is appended to results.jsonl as each
  *      query lands (one JSON object per line: name, ok, secs);
  *   3. queries run on a small thread pool (Spark schedules concurrent
  *      jobs fine in local mode) so the dump finishes well inside any
  *      plausible time budget;
  *   4. failures follow [[FailurePolicy]]: a failed query's line carries
  *      `err` and the run goes on; a VirtualMachineError writes its line,
  *      then ends the run with exit status 1.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (dev loops)]
    val sfDir = args(0); val outDir = args(1)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = GraftSession.builder(sfDir = sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    import FailurePolicy.jsonString
    // Oracle manifest FIRST: if the dump is killed mid-run the driver can
    // still compare every query whose parquet landed.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val statusPath = Paths.get(s"$outDir/results.jsonl")
    Files.deleteIfExists(statusPath)
    def logStatus(name: String, ok: Boolean, secs: Double, err: String): Unit =
      synchronized {
        val e = if (err.isEmpty) "" else s""","err":${jsonString(err)}"""
        Files.writeString(statusPath,
          s"""{"name":${jsonString(name)},"ok":$ok,"secs":${f"$secs%.2f"}$e}""" + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }

    val todo = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1)
    // Small pool of concurrent dump workers: each query at sf0.01 uses a
    // handful of tasks, so 4 in flight keeps local[N] cores busy without
    // thrashing the scheduler. FIFO pool keeps failures attributable.
    // FailurePolicy rethrows a VirtualMachineError after its status line
    // is written; the pool would swallow it, so the worker thread's
    // uncaught-exception handler ends the run with a non-zero exit.
    val workers = math.max(1, math.min(4, spark.sparkContext.defaultParallelism / 4))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workers, { (r: Runnable) =>
      val t = new Thread(r)
      t.setUncaughtExceptionHandler { (_, e) =>
        System.err.println(s"[verify] run ended: ${FailurePolicy.describe(e)}")
        sys.exit(1)
      }
      t
    })
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    todo.foreach { case (name, fn) =>
      pool.execute { () =>
        val t0 = System.nanoTime()
        FailurePolicy {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          logStatus(name, ok = true, (System.nanoTime() - t0) / 1e9, "")
        } { reason =>
          failures.incrementAndGet()
          System.err.println(s"[verify] $name failed: $reason")
          logStatus(name, ok = false, (System.nanoTime() - t0) / 1e9, reason)
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
    System.err.println(
      s"[verify] done: ${todo.size - failures.get}/${todo.size} ok")
    spark.stop()
  }
}
