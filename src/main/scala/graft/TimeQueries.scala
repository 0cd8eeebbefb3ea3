package graft

/** Dev tool: time a subset of registered queries against one sf dir —
  * `dev/run.sh graft.TimeQueries <sfDir> <passes> <name> [<name>...]`.
  * Same session config and noop-write materialization as Bench, without
  * the full 62-query sweep; prints per-query min/median in seconds. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    for (w <- Seq("q1_agg", "topk_window", "q3_join_agg"))
      try materialize(w) catch { case _: Throwable => () }

    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    for (_ <- 1 to passes; name <- names) {
      val t0 = System.nanoTime()
      materialize(name)
      samples(name) = (System.nanoTime() - t0) / 1e9 :: samples.getOrElse(name, Nil)
    }
    names.foreach { n =>
      val xs = samples(n).sorted
      val med = if (xs.size % 2 == 1) xs(xs.size / 2) else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2
      println(f"$n%-24s min=${xs.min}%.3f med=$med%.3f")
    }
    spark.stop()
  }
}
