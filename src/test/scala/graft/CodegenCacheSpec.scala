package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Generated-class cache of the shared session: a query re-run after other
  * queries compiled more than Spark's default 100 classes compiles nothing.
  *
  * The cache size is fixed when `CodeGenerator` first initializes in the
  * JVM, so the spec does not assume it runs first: the classes in between
  * are compiled fresh here (their literals are unique to this run), and it
  * counts them instead of trusting that earlier specs left the cache cold.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def runNoop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("the session's static conf carries the codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a registry query re-run after 100+ other compiles compiles nothing") {
    val query = "q1_agg"
    runNoop(SparkEntry.queries(query)(spark, sf))

    val nonce = System.nanoTime()
    val before = compiles()
    (1 to 110).foreach(i => runNoop(spark.range(4).select((col("id") * lit(nonce + i)).as("v"))))
    val between = compiles() - before
    assert(between > 100, s"only $between classes compiled between the two runs")

    val again = compiles()
    runNoop(SparkEntry.queries(query)(spark, sf))
    assert(compiles() - again == 0, s"$query re-compiled after $between other classes")
  }
}
