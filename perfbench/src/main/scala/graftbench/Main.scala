package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.time.Instant

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.sources.Ingest
import graft.warehouse.{Statements, Warehouse}

/** One benchmark run in a fresh JVM, driven by run.py.
  *
  *  1. Set-up: the session from `GraftSession.builder`, the statements csv
  *     landing (workloads with the ingest leg), and untimed warm passes.
  *     The first writes every query's output as parquet for the oracle
  *     check; staged tables are written during it, on first construction.
  *     The `--warm-passes` after it use the timed passes' `noop` sink, as
  *     the JIT keeps speeding passes up for a few passes.
  *  2. Timed passes: one client, one query at a time, in an order shuffled
  *     from the seed, the same in every pass of the run (warm ones too). A
  *     query's latency is its registry call (build) plus a full `noop`
  *     write (exec). The run makes `--passes` of them. Each pass records
  *     the JVM's CPU, JIT and GC time and the CPU time the hypervisor took
  *     from the machine meanwhile. Full GCs (`HeapWatch.liveBytes`) after
  *     the timed passes give the live-heap reading.
  *  3. With `--trace 1`, every second pass is traced: a SparkListener and a
  *     QueryExecutionListener are attached and each query phase runs under
  *     its own job group. The untraced passes in between give the tracing
  *     overhead. The codegen counters are read around every query run, the
  *     warm ones included. After the passes the warehouse pipeline is
  *     timed step by step.
  *
  * Everything lands in `<out>/jvm.json`; a fatal JVM error still writes
  * the record gathered so far and exits with code 3.
  */
object Main {
  val IngestLeg = "ingest_fact_from_csv"
  private val MB = 1024.0 * 1024.0

  final case class Opts(workload: String, data: String, out: String, passes: Int,
                        seed: Long, trace: Boolean, queries: Seq[String], ingest: Boolean,
                        warmPasses: Int, cores: Int, launchedUs: Long)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("data"), kv("out"), kv("passes").toInt, kv("seed").toLong,
      kv("trace") == "1", kv("queries").split(",").toSeq.filter(_.nonEmpty),
      kv("ingest") == "1", kv("warm-passes").toInt, kv("cores").toInt, kv("launched-us").toLong)
  }

  private def nowUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** CPU time of this JVM, all threads. */
  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  /** JIT compile time and collector time of this JVM so far. */
  private def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  /** CPU time the hypervisor took from this machine's vCPUs, summed over
    * them (the `steal` column of /proc/stat, in USER_HZ = 100 ticks per
    * second; 0 where it is absent). */
  private def stealS(): Double = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    finally f.close()
  } catch { case NonFatal(_) => 0.0 }

  /** One execution of one query. */
  final class Run(val name: String) {
    var buildS = 0.0
    var execS = 0.0
    var error: Option[String] = None
    /** Codegen compile time and count during the run, read on every run,
      * the warm ones included: the first run compiles the most. */
    var compileS = 0.0
    var compiles = 0L
    var layers: ListMap[String, Double] = ListMap.empty
    var stagedDirs: Seq[String] = Nil
    def toJson: ListMap[String, Any] =
      ListMap("name" -> name, "build_s" -> buildS, "exec_s" -> execS, "error" -> error,
        "codegen.compile_s" -> compileS, "codegen.compiles" -> compiles.toDouble) ++
        (if (stagedDirs.nonEmpty) ListMap("staged_dirs" -> stagedDirs) else ListMap.empty) ++
        layers
  }

  /** The listeners of a traced pass. */
  final class Tracer(spark: SparkSession) {
    val sched = new SchedulerTrace
    val phases = new PhaseTrace
    /** Analysis time of the frame the registry call returned. */
    var builtAnalysisMs = 0L
    def drain(): Unit = ListenerBusAccess.drain(spark.sparkContext)
    def attach(): Unit = {
      spark.sparkContext.addSparkListener(sched)
      spark.listenerManager.register(phases)
    }
    def detach(): Unit = {
      drain()
      spark.sparkContext.removeSparkListener(sched)
      spark.listenerManager.unregister(phases)
    }
  }

  /** Runs `build` then `sink` on its frame. Under a tracer the build and the
    * sink run in job groups `<tag>/build` and `<tag>/exec`, and the listener
    * bus is drained between them, outside both timed spans. Catalyst phases
    * are the returned frame's analysis plus the phases of the sink's SQL
    * executions. */
  def runQuery(spark: SparkSession, name: String, build: () => DataFrame,
               sink: DataFrame => Unit, tracer: Option[Tracer], tag: String): Run = {
    val r = new Run(name)
    val sc = spark.sparkContext
    val before = CodegenCounters.read()
    tracer.foreach { t => t.drain(); t.phases.take(); sc.setJobGroup(s"$tag/build", name) }
    try {
      val t0 = System.nanoTime()
      val df = build()
      r.buildS = since(t0)
      tracer.foreach { t =>
        t.drain(); t.phases.take()
        t.builtAnalysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        sc.setJobGroup(s"$tag/exec", name)
      }
      val t1 = System.nanoTime()
      sink(df)
      r.execS = since(t1)
    } catch {
      case e: VirtualMachineError => throw e
      case NonFatal(e) => r.error = Some(errorText(e))
    } finally {
      val after = CodegenCounters.read()
      r.compileS = (after.compileNs - before.compileNs) / 1e9
      r.compiles = after.compiles - before.compiles
      tracer.foreach { t =>
        sc.clearJobGroup()
        t.drain()
        r.layers = layers(t, tag)
      }
    }
    r
  }

  private def layers(t: Tracer, tag: String): ListMap[String, Double] = {
    val b = t.sched.take(s"$tag/build")
    val x = t.sched.take(s"$tag/exec")
    val ph = t.phases.take()
    def phase(p: String): Double = ph.map(_.getOrElse(p, 0L)).sum / 1e3
    val builtAnalysis = t.builtAnalysisMs / 1e3
    t.builtAnalysisMs = 0L
    ListMap(
      "build.jobs" -> b.jobs.toDouble,
      "build.tasks" -> b.tasks.toDouble,
      "catalyst.analysis_s" -> (builtAnalysis + phase("analysis")),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "exec.jobs" -> x.jobs.toDouble,
      "exec.stages" -> x.stages.toDouble,
      "exec.tasks" -> x.tasks.toDouble,
      "exec.task_run_s" -> x.runMs / 1e3,
      "exec.task_cpu_s" -> x.cpuNs / 1e9,
      "exec.gc_s" -> x.gcMs / 1e3,
      "exec.failed_tasks" -> (b.failedTasks + x.failedTasks).toDouble,
      "shuffle.write_mb" -> (b.shuffleWriteBytes + x.shuffleWriteBytes) / MB,
      "shuffle.read_mb" -> (b.shuffleReadBytes + x.shuffleReadBytes) / MB,
      "shuffle.records_written" -> (b.shuffleRecordsWritten + x.shuffleRecordsWritten).toDouble,
      "spill.mb" -> (b.spillBytes + x.spillBytes) / MB,
      "mem.peak_exec_mb" -> math.max(b.peakExecBytes, x.peakExecBytes) / MB,
      "sources.input_mb" -> (b.inputBytes + x.inputBytes) / MB,
      "sources.input_rows" -> (b.inputRecords + x.inputRecords).toDouble)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Staged-table dirs (`graft-<name>-*`, not per-query `graft-ephem-*`)
    * under the JVM temp dir: a new one means a first-construction write. */
  private def stagedDirs(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.startsWith("graft-") && !n.startsWith("graft-ephem-")).toSet

  /** The in-memory scan+window+join+agg probe of `graft.Bench`: a box-speed
    * reading recorded next to the metrics, never gated. */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val fact = spark.range(2000000L).select(col("id"),
      pmod(col("id") * 2654435761L, lit(1000L)).as("k"),
      (col("id") % 97).as("v"))
    val dim = spark.range(1000L).select(col("id").as("k"), (col("id") % 7).as("grp"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k")).orderBy(col("id"))
    noop(fact.join(dim, "k")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("grp")).agg(sum(col("v") * col("rn")).as("s")))
    since(t0)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val rec = mutable.LinkedHashMap.empty[String, Any]
    def writeRecord(): Unit = new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(opts.out, "jvm.json"), rec)
    try {
      run(opts, rec)
      writeRecord()
    } catch {
      case e: VirtualMachineError =>
        rec("fatal") = errorText(e)
        writeRecord()
        log(s"fatal: ${errorText(e)}")
        sys.exit(3)
    }
    sys.exit(0)
  }

  private def run(opts: Opts, rec: mutable.LinkedHashMap[String, Any]): Unit = {
    val dir = opts.data
    val spark = GraftSession.builder(master = s"local[${opts.cores}]", sfDir = dir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionUs = nowUs()
    val runtime = ManagementFactory.getRuntimeMXBean
    rec("context") = ListMap(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "cores" -> opts.cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / MB,
      "jvm_args" -> runtime.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "sql_conf" -> ListMap(spark.conf.getAll.toSeq.sortBy(_._1): _*))

    val registry = SparkEntry.queries
    val csvPath = new File(opts.out, "statements_csv").getPath
    def landCsv(): Double = {
      val t0 = System.nanoTime()
      Statements.income(spark, dir).write.mode("overwrite").option("header", "true").csv(csvPath)
      since(t0)
    }
    val ingestLeg: () => DataFrame = () => Warehouse.factFrom(Ingest.statementsCsv(spark, csvPath))
    val items: Seq[(String, () => DataFrame)] =
      opts.queries.map(n => n -> (() => registry(n)(spark, dir))) ++
        (if (opts.ingest) Seq(IngestLeg -> ingestLeg) else Nil)
    rec("oracle_sql") = ListMap(opts.queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)): _*)
    // One order, shuffled from the seed, for every pass of the run. Spark
    // keeps the last 100 generated classes, fewer than a fixed_overhead
    // pass compiles, so whether a query finds its own classes still cached
    // depends on what ran since its previous run. With a new order per
    // pass, a query that ends one pass and starts the next ran with no
    // compile at all (fin_missing_qa 0.8 s instead of 1.5 s), a number of
    // times that depended on the seed; with one order, the same four
    // queries run between two runs of any query, whatever the seed.
    val order = new Random(opts.seed).shuffle(items)
    rec("order") = order.map(_._1)

    // ---- set-up: csv landing, then the warm pass that dumps every output
    val setup = mutable.LinkedHashMap.empty[String, Any]
    setup("session_s") = (sessionUs - opts.launchedUs) / 1e6
    if (opts.ingest) setup("csv_land_s") = landCsv()
    val warmT0 = System.nanoTime()
    val warm = order.map { case (name, build) =>
      val dirsBefore = stagedDirs()
      val r = runQuery(spark, name, build,
        df => df.write.mode("overwrite").parquet(new File(opts.out, s"check/$name").getPath),
        None, "warm")
      r.stagedDirs = (stagedDirs() -- dirsBefore).toSeq.sorted
      r
    }
    setup("warm_pass_s") = since(warmT0)
    log(f"warm pass ${since(warmT0)}%.2f s, ${warm.count(_.error.nonEmpty)} errors")
    rec("warm") = warm.map(_.toJson)
    // the JIT keeps speeding passes up for a few passes; noop-sink warm
    // passes bring the timed passes to their plateau
    val noopWarmT0 = System.nanoTime()
    rec("warm_noop") = (1 to opts.warmPasses).map { i =>
      order.map { case (name, build) =>
        runQuery(spark, name, build, noop, None, s"warm$i").toJson
      }
    }
    setup("warm_noop_s") = since(noopWarmT0)

    // ---- timed passes
    val firstTimedUs = nowUs()
    setup("setup_s") = (firstTimedUs - opts.launchedUs) / 1e6
    rec("setup") = setup
    val tracer = if (opts.trace) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    // a fixed count, so that a faster machine does not also run more,
    // warmer passes (see run.py)
    for (pass <- 0 until opts.passes) {
      val traced = opts.trace && pass % 2 == 1
      val t = if (traced) tracer else None
      t.foreach(_.attach())
      val (cpu0, steal0, jit0, gc0) = (processCpuS(), stealS(), jitS(), gcS())
      val p0 = System.nanoTime()
      val runs = order.map { case (name, build) =>
        runQuery(spark, name, build, noop, t, s"p$pass/$name")
      }
      val wall = since(p0)
      t.foreach(_.detach())
      passes += ListMap("pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> (processCpuS() - cpu0), "steal_s" -> (stealS() - steal0),
        "jit_s" -> (jitS() - jit0), "jvm_gc_s" -> (gcS() - gc0),
        "queries" -> runs.map(_.toJson))
      log(f"pass $pass${if (traced) " (traced)" else ""} $wall%.2f s")
    }
    rec("live_heap_peak_mb") = HeapWatch.liveBytes(spark.sparkContext) / MB
    rec("passes") = passes
    rec("ungrouped_jobs") = tracer.map(_.sched.ungroupedJobs)

    // ---- after the passes: context probe, expected ingest output, pipeline steps
    rec("calib_s") = calibrate(spark)
    if (opts.ingest)
      Warehouse.fact(spark, dir).write.mode("overwrite")
        .parquet(new File(opts.out, s"expected/$IngestLeg").getPath)
    if (opts.trace) {
      if (!opts.ingest) landCsv()
      rec("warehouse") = warehouseSteps(spark, dir, ingestLeg)
    }
    spark.stop()
  }

  /** Self time of each statements-pipeline step: the public prefix chain
    * income → sectionFilledFrom → factFrom → upserted → finWarehouseBuild,
    * each prefix materialized in full (best of two), minus the previous
    * prefix. The ingest parse is factFrom over the landed csv. */
  private def warehouseSteps(spark: SparkSession, dir: String,
                             ingestLeg: () => DataFrame): ListMap[String, Double] = {
    def best(f: () => DataFrame): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); noop(f()); since(t0)
    }.min
    val format = best(() => Statements.income(spark, dir))
    val ffill = best(() => Warehouse.sectionFilledFrom(Statements.income(spark, dir)))
    val parse = best(() => Warehouse.factFrom(Statements.income(spark, dir)))
    val upsert = best(() => Warehouse.upserted(spark, dir))
    val enrich = best(() => Warehouse.finWarehouseBuild(spark, dir))
    ListMap(
      "warehouse.format_s" -> format,
      "warehouse.ffill_s" -> (ffill - format),
      "warehouse.parse_s" -> (parse - ffill),
      "warehouse.upsert_s" -> (upsert - parse),
      "warehouse.enrich_s" -> (enrich - upsert),
      "warehouse.ingest_parse_s" -> best(ingestLeg))
  }
}
