package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Gate-durability contract (r10): a driver wall-clock kill mid-run must
  * yield a PARTIAL correctness file, never an empty one. Therefore:
  *   1. oracle_sql.json is written BEFORE the first query runs — it
  *      depends only on SparkEntry.oracleSql, not on execution;
  *   2. per-query completion status is appended to results.jsonl as each
  *      query lands (one JSON object per line: name, ok, secs);
  *   3. queries run on a small thread pool (Spark schedules concurrent
  *      jobs fine in local mode) so the dump finishes well inside any
  *      plausible driver budget.
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

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracle manifest FIRST: if the dump is killed mid-run the driver can
    // still compare every query whose parquet landed.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val statusPath = Paths.get(s"$outDir/results.jsonl")
    Files.deleteIfExists(statusPath)
    def logStatus(name: String, ok: Boolean, secs: Double, err: String): Unit =
      synchronized {
        val e = if (err.isEmpty) "" else s""","err":${q(err.take(300))}"""
        Files.writeString(statusPath,
          s"""{"name":${q(name)},"ok":$ok,"secs":${f"$secs%.2f"}$e}""" + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }

    val todo = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1)
    // Small pool of concurrent dump workers: each query at sf0.01 uses a
    // handful of tasks, so 4 in flight keeps local[N] cores busy without
    // thrashing the scheduler. FIFO pool keeps failures attributable.
    val workers = math.max(1, math.min(4, spark.sparkContext.defaultParallelism / 4))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    todo.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            logStatus(name, ok = true, (System.nanoTime() - t0) / 1e9, "")
          } catch { case e: Throwable =>
            failures.incrementAndGet()
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            System.err.println(s"[verify] $name failed: $msg")
            logStatus(name, ok = false, (System.nanoTime() - t0) / 1e9, msg)
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
    System.err.println(
      s"[verify] done: ${todo.size - failures.get}/${todo.size} ok")
    spark.stop()
  }
}
