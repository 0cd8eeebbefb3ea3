package graft

/** `graft.Dev` through its `run` entry point, on the shared session. */
class DevSpec extends SparkSpec {

  private def output(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Dev.run(spark, sf +: args))
    out.toString("UTF-8")
  }

  test("plan prints each barrier's input plan down to the parquet scans and runs nothing") {
    val (plan, planJobs) = jobsDuring(output("plan", "q15_top_supplier"))
    assert(planJobs == 0)
    assert(plan.contains("---- q15_top_supplier StageBarrierRDD["), plan)
    assert(plan.contains("Scan parquet"), plan)
  }

  test("codegen prints the static plan's generated code and leaves AQE on") {
    val code = output("codegen", "q1_agg")
    assert(!code.contains("Found 0 WholeStageCodegen subtrees"), code)
    assert(code.contains("== Subtree 1 /"), code)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("final-plan runs the query and prints the final adaptive plan") {
    assert(output("final-plan", "q1_agg").contains("isFinalPlan=true"))
  }

  test("an unknown command is rejected with the usage text") {
    val e = intercept[IllegalArgumentException](Dev.run(spark, Seq(sf, "explain", "q1_agg")))
    assert(e.getMessage.contains(Dev.Usage))
  }
}
