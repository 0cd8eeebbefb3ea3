package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `graft.Dev` through its `run` entry point, on the shared session. */
class DevSpec extends SparkSpec {

  private def output(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Dev.run(spark, sf +: args))
    out.toString("UTF-8")
  }

  /** Jobs started while `f` runs, leaving out the job Spark runs to
    * read a parquet file's schema whenever a frame reads one. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!e.stageInfos.exists(_.details.contains("DataFrameReader.parquet")))
          jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      ListenerBusAccess.drain(spark.sparkContext)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("plan builds a barrier-staged query without running it, reaches its parquet scans, and unsets the bypass") {
    // built as registered, q15's stage barrier runs jobs
    val (_, registeredJobs) = jobsDuring(SparkEntry.queries("q15_top_supplier")(spark, sf))
    assert(registeredJobs > 0)
    val (plan, planJobs) = jobsDuring(output("plan", "q15_top_supplier"))
    assert(planJobs == 0)
    assert(plan.contains("Scan parquet"), plan)
    assert(!plan.contains("ExistingRDD"), plan)
    assert(!sys.props.contains("graft.barrier.bypass"))
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
