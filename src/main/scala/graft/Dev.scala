package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev loop over registered queries (see `Usage`), in the session Bench
  * builds: `dev/run.sh graft.Dev <sfDir> <command> <query>...`.
  * `plan` and `codegen` build the query with the stage barriers off
  * (GraftColumnBridge.stageBarrier), so the plan reaches the scans;
  * generating a broadcast join's code still runs its build side.
  * `final-plan` builds it as registered. `time` is `Bench.time`, with
  * SPARK_GRAFT_BENCH_PASSES passes. Per-layer times come from
  * `perfbench/run.py --trace 1`. */
object Dev {
  val Usage: String =
    """usage: graft.Dev <sfDir> <command> <query>...
      |  plan        formatted physical plan, built without running the query
      |  codegen     generated code of the static plan's codegen subtrees, built the same way
      |  final-plan  run the query, then print its final adaptive plan
      |  time        Bench's warm-up and round-robin passes: min and median seconds per query""".stripMargin

  private val Commands = Set("plan", "codegen", "final-plan", "time")

  private val Bypass = "graft.barrier.bypass"

  def main(args: Array[String]): Unit = {
    val (sfDir, _, _) = parse(args.toSeq)
    val spark = GraftSession.builder(sfDir = sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Runs one command in `spark`; `args` as for `main`. */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val (sfDir, command, names) = parse(args)
    command match {
      case "plan" => names.foreach { n =>
        println(s"==== $n")
        planOnly(spark, sfDir, n).explain("formatted")
      }
      case "codegen" => names.foreach { n =>
        import org.apache.spark.sql.execution.debug._
        println(s"==== $n")
        // AQE inserts codegen stages only as it runs them, so the code
        // shown is the static plan's, planned here with AQE off
        val df = planOnly(spark, sfDir, n)
        val aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try df.debugCodegen() finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      }
      case "final-plan" => names.foreach { n =>
        // run THIS QueryExecution: a noop write would plan a second one
        // and leave this plan un-executed
        val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
        qe.toRdd.foreachPartition(_ => ())
        println(s"==== $n")
        println(qe.executedPlan)
      }
      case "time" =>
        val t = Bench.time(spark, sfDir, names, Bench.passes)
        t.mins.zip(t.medians).foreach { case ((n, min), (_, med)) =>
          println(f"$n%-24s min=$min%.3f med=$med%.3f")
        }
        t.errors.toSeq.sorted.foreach { case (n, e) => println(f"$n%-24s error: $e") }
        println(t.calibs.map(c => f"$c%.3f").mkString("calib_s ", " ", "") +
          t.calibError.fold("")(e => s" (error: $e)"))
    }
  }

  private def parse(args: Seq[String]): (String, String, Seq[String]) = args match {
    case Seq(sfDir, command, names @ _*) if Commands(command) && names.nonEmpty =>
      val registered = SparkEntry.queries.keySet
      names.find(n => !registered(n)).foreach { n =>
        throw new IllegalArgumentException(s"no registered query '$n'\n$Usage")
      }
      (sfDir, command, names)
    case _ => throw new IllegalArgumentException(Usage)
  }

  /** `name`'s frame built with the stage barriers off. The property is
    * JVM-wide, so it is set only while the frame is built and restored
    * after. */
  private def planOnly(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val prev = sys.props.get(Bypass)
    sys.props(Bypass) = "1"
    try SparkEntry.queries(name)(spark, sfDir)
    finally prev match {
      case Some(v) => sys.props(Bypass) = v
      case None => sys.props.remove(Bypass): Unit
    }
  }
}
