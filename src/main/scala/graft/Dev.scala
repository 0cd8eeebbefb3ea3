package graft

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Dev loop over registered queries (see `Usage`), in the session Bench
  * builds: `dev/run.sh graft.Dev <sfDir> <command> <query>...`.
  * `plan`, `codegen` and `final-plan` print the query's plan, then the
  * plan of each stage barrier's input (GraftColumnBridge.stageBarrier)
  * below it, so the output reaches the scans. `plan` and `codegen` run
  * nothing, except that generating a broadcast join's code runs its
  * build side. `time` is `Bench.time`, with SPARK_GRAFT_BENCH_PASSES
  * passes. Per-layer times come from `perfbench/run.py --trace 1`. */
object Dev {
  val Usage: String =
    """usage: graft.Dev <sfDir> <command> <query>...
      |  plan        formatted physical plans, per stage barrier, without running the query
      |  codegen     generated code of the static plans' codegen subtrees, per stage barrier
      |  final-plan  run the query, then print its final adaptive plans, per stage barrier
      |  time        Bench's warm-up and round-robin passes: min and median seconds per query""".stripMargin

  private val Commands = Set("plan", "codegen", "final-plan", "time")

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
        stages(n, SparkEntry.queries(n)(spark, sfDir)).foreach { case (label, df) =>
          println(label)
          df.explain("formatted")
        }
      }
      case "codegen" => names.foreach { n =>
        import org.apache.spark.sql.execution.debug._
        // AQE inserts codegen stages only as it runs them, so the code
        // shown is the static plans', planned here with AQE off
        val frames = stages(n, SparkEntry.queries(n)(spark, sfDir))
        val aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try frames.foreach { case (label, df) =>
          println(label)
          df.debugCodegen()
        } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      }
      case "final-plan" => names.foreach { n =>
        // run THIS QueryExecution: a noop write would plan a second one
        // and leave this plan un-executed
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.queryExecution.toRdd.foreachPartition(_ => ())
        stages(n, df).foreach { case (label, d) =>
          println(label)
          println(d.queryExecution.executedPlan)
        }
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

  /** `df` under the header `==== name`, then the input of each stage
    * barrier below it, at any depth, each once, under a header naming
    * the barrier's RDD as the leaf's `Scan ExistingRDD` shows it. */
  private[graft] def stages(name: String, df: DataFrame): Seq[(String, DataFrame)] = {
    val seen = mutable.Set.empty[Int]
    def from(label: String, d: DataFrame): Seq[(String, DataFrame)] = {
      val inputs = for {
        r <- d.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r }
        in <- GraftColumnBridge.barrierInput(r.rdd) if seen.add(r.rdd.id)
      } yield (s"---- $name ${r.rdd}", in)
      (label, d) +: inputs.flatMap { case (l, in) => from(l, in) }
    }
    from(s"==== $name", df)
  }
}
