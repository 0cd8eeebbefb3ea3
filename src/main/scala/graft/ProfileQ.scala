package graft

/** r15 dev tool: TimeQ with the UI enabled so the REST API
  * (localhost:4040/api/v1) can attribute wall time to stages while a
  * query runs — the guide §7.1 loop without a browser. */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(master = "local[32]", sfDir = sfDir)
      .config("spark.ui.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { n =>
      spark.sparkContext.setJobDescription(n)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"$n: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
