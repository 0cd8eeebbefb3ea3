package graft
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Partition count derives from the dataset's on-disk bytes (the r12
    // sf100 lesson: AQE coalesces a too-fine map side but cannot split a
    // too-coarse one); SPARK_GRAFT_SHUFFLE still overrides for probes.
    val spark = GraftSession.builder(master = "local[32]", sfDir = sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.queries("q1_agg")(spark, sfDir).write.format("noop").mode("overwrite").save() catch { case _: Throwable => }
    args.foreach { n =>
      for (i <- 1 to 2) {
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"$n run$i: ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
