package graft

/** r15 dev probe: time the fin statements-derivation STAGES in
  * isolation (noop sink, 2 runs each) so the in-query fin wall can be
  * attributed to format/ffill/parse/upsert rather than guessed.
  * Usage: SPARK_GRAFT_SF_DIR=... dev/run.sh graft.DevProbeR15 [stage ...]
  * Stages: income ffill fact upserted monthly
  */
object DevProbeR15 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(master = "local[32]", sfDir = sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    def frames: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "income" -> (() => graft.warehouse.Statements.income(spark, sfDir)),
      "ffill" -> (() => graft.warehouse.Warehouse.sectionFilled(spark, sfDir)),
      "fact" -> (() => graft.warehouse.Warehouse.fact(spark, sfDir)),
      "upserted" -> (() => graft.warehouse.Warehouse.upserted(spark, sfDir)),
      "monthly" -> (() => graft.warehouse.Warehouse.upserted(spark, sfDir)
        .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
        .agg(sum(round(col("amount") * 100).cast("long")).as("tc"))),
      "fact_narrow" -> (() => graft.warehouse.Warehouse.factNarrow(spark, sfDir)),
      "upserted_narrow" -> (() => graft.warehouse.Warehouse.upsertedFrom(
        graft.warehouse.Warehouse.factNarrow(spark, sfDir))),
      "monthly_narrow" -> (() => graft.warehouse.Warehouse.upsertedFrom(
        graft.warehouse.Warehouse.factNarrow(spark, sfDir))
        .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
        .agg(sum(round(col("amount") * 100).cast("long")).as("tc"))))
    val (modes, names0) = args.toSeq.partition(a => a == "codegen" || a == "explain")
    val names = if (names0.nonEmpty) names0 else Seq("income", "ffill", "fact", "upserted", "monthly")
    names.foreach { n =>
      if (modes.contains("codegen")) {
        import org.apache.spark.sql.execution.debug._
        println(s"========== $n codegen ==========")
        frames(n)().debugCodegen()
      } else if (modes.contains("explain")) {
        println(s"========== $n ==========")
        frames(n)().explain("formatted")
      } else for (i <- 1 to 2) {
        val t0 = System.nanoTime()
        frames(n)().write.format("noop").mode("overwrite").save()
        println(f"$n run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
