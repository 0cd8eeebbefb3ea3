package graft

/** Whole-stage-codegen gate: every registered query must execute with
  * `spark.sql.codegen.fallback=false`, so a stage whose generated code
  * fails to compile (e.g. Janino's "Code grows beyond 64 KB") THROWS
  * instead of silently falling back to interpreted execution. Guards the
  * regression class where a big scalar derivation gets inlined into a
  * fused aggregate function: correctness survives the fallback, but at
  * scale the hottest stage runs interpreted and nothing fails loudly.
  */
class CodegenGateSpec extends SparkSpec {

  test("every registered query compiles under whole-stage codegen (no interpreted fallback)") {
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        FailurePolicy[Option[String]] {
          SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
          None
        }(reason => Some(s"$name: $reason"))
      }
      assert(failures.isEmpty, s"codegen fallback (or failure) in:\n${failures.mkString("\n")}")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }
}
