package graft

/** Dev tool: print the formatted physical plan of registered queries —
  * `dev/run.sh graft.ExplainQueries <sfDir> <name> [<name>...]`.
  * The plan-audit loop the scale discipline runs after an operator
  * lands (exchange count, pushed filters, codegen spans). */
object ExplainQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { n =>
      println(s"==== $n")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
