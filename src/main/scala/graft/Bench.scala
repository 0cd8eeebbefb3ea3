package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR.
  *
  * Method: a warm-up (q1_agg, topk_window, q3_join_agg), then
  * SPARK_GRAFT_BENCH_PASSES (3) round-robin passes over the registry, each
  * opened by a fixed in-memory calibration probe (`calib_s`, a box-speed
  * reading independent of the data). A query is timed by materializing
  * its full result through a noop write and reports its MIN over passes:
  * co-tenant contention only ever adds time. A failed query is listed
  * under `errors` and skipped in later passes (see [[FailurePolicy]]).
  *
  * Output: two stdout lines. First `#diag {...}` with the per-pass
  * totals and both per-query maps (medians, then mins); last the
  * headline, a JSON object of aggregates only (`value` = sum of the
  * minima, `value_median`, `pass_totals`, `n_queries`, `errors`,
  * `calib_s`), so a bounded tail capture of stdout keeps it whole. The
  * full result, headline and both maps, is also written to
  * BENCH_PERQUERY.json (SPARK_GRAFT_BENCH_JSON overrides the path).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = passes
    // bytes-derived partitions (floors at the core count for sf<=1, so
    // bench numbers at sf0.1 are unchanged; scales up for sf10/sf100)
    val spark = GraftSession.builder(sfDir = sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    report(sfDir, time(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted, n))
    spark.stop()
  }

  /** Round-robin passes per query, given the value of
    * SPARK_GRAFT_BENCH_PASSES: that value when set (a positive integer,
    * else it fails here), else 3. */
  private[graft] def passesFrom(env: Option[String]): Int =
    env.map(GraftSession.positiveInt("SPARK_GRAFT_BENCH_PASSES", _)).getOrElse(3)

  private[graft] def passes: Int = passesFrom(sys.env.get("SPARK_GRAFT_BENCH_PASSES"))

  /** What one run of [[time]] measured: each query's min and median
    * seconds (failed queries left out, with their first error), each
    * pass's summed seconds and each pass's calibration reading (-1 when
    * it failed, `calibError` holding the first reason). */
  private[graft] final case class Timings(
      mins: Seq[(String, Double)],
      medians: Seq[(String, Double)],
      errors: Map[String, String],
      passTotals: Seq[Double],
      calibs: Seq[Double],
      calibError: Option[String])

  /** The timing loop of Bench and `graft.Dev time`: a warm-up, then
    * `passes` round-robin passes over `names`, each opened by the
    * calibration probe, materializing every query with a noop write. */
  private[graft] def time(spark: SparkSession, sfDir: String, names: Seq[String],
                          passes: Int): Timings = {
    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Warmup: representative codepaths (scan+agg, window, join).
    for (w <- Seq("q1_agg", "topk_window", "q3_join_agg"))
      FailurePolicy(materialize(w))(reason =>
        System.err.println(s"[bench] warm-up $w failed: $reason"))

    // Fixed calibration workload: one synthetic in-memory
    // scan+window+join+agg, independent of SF and registry, timed at the
    // START of each pass. Its reading is a pure box-speed probe — when a
    // round's totals drift vs BASELINE, compare calib_s first: a shifted
    // calibration is co-tenant contention, a flat one is a real plan
    // regression. BASELINE rows record their calib_s alongside.
    import org.apache.spark.sql.functions._
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      val fact = spark.range(2000000L).select(col("id"),
        pmod(col("id") * 2654435761L, lit(1000L)).as("k"),
        (col("id") % 97).as("v"))
      val dim = spark.range(1000L).select(col("id").as("k"), (col("id") % 7).as("grp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("id"))
      fact.join(dim, "k")
        .withColumn("rn", row_number().over(w))
        .groupBy(col("grp")).agg(sum(col("v") * col("rn")).as("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // A failed probe reads -1 and its first reason lands in the headline
    // as calib_error.
    val calibGuard = new CalibGuard
    def tryCalibrate(): Double = calibGuard.run(() => calibrate())
    def calibError: Option[String] = calibGuard.firstError
    tryCalibrate() // calib's own warmup

    var errors = Map.empty[String, String]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val calibs = scala.collection.mutable.ListBuffer.empty[Double]
    val passTotals = (1 to passes).map { _ =>
      calibs += tryCalibrate()
      var passSum = 0.0
      names.foreach { name =>
        if (!errors.contains(name)) {
          val t0 = System.nanoTime()
          FailurePolicy {
            materialize(name)
            val dt = (System.nanoTime() - t0) / 1e9
            samples(name) = dt :: samples.getOrElse(name, Nil)
            passSum += dt
          } { reason =>
            System.err.println(s"[bench] $name failed: $reason")
            errors += name -> reason
            samples -= name
          }
        }
      }
      passSum
    }

    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    val ok = names.filterNot(errors.contains)
    Timings(ok.map(n => n -> samples(n).min), ok.map(n => n -> median(samples(n))),
      errors, passTotals, calibs.toSeq, calibError)
  }

  /** Prints the `#diag` line and the headline, then writes the sidecar. */
  private def report(sfDir: String, t: Timings): Unit = {
    import FailurePolicy.jsonString
    val Timings(mins, meds, errors, passTotals, calibs, calibError) = t
    def ms(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"${jsonString(k)}:${ms(v)}" }.mkString("{", ",", "}")
    val es = errors.toSeq.sorted.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }
      .mkString("{", ",", "}")
    val total = mins.map(_._2).sum
    val pts = passTotals.map(ms).mkString("[", ",", "]")
    // Diagnostics first (may be tail-clipped; that's fine), headline LAST.
    // The '#diag ' prefix keeps this line from json-parsing, so no driver
    // heuristic (first-parseable-line or last-parseable-line) can mistake
    // it for the result.
    val totalMed = meds.map(_._2).sum
    val calibOk = calibs.filter(_ >= 0)
    val calibS = if (calibOk.nonEmpty) ms(calibOk.min) else "null"
    val calibArr = calibs.map(ms).mkString("[", ",", "]")
    // Mins ride last inside the diag object: a tail-clipped capture keeps
    // (a suffix of) the map per-query comparisons pair.
    println(s"""#diag {"pass_totals":$pts,"passes":$passes,"calib_passes":$calibArr,"queries_median":${jmap(meds)},"queries":${jmap(mins)}}""")
    val calibErr = calibError.map(e => s""","calib_error":${jsonString(e)}""").getOrElse("")
    val headline = s"""{"metric":"total","value":${ms(total)},"value_median":${ms(totalMed)},"pass_totals":$pts,"unit":"sec","n_queries":${mins.size},"errors":$es,"passes":$passes,"calib_s":$calibS$calibErr,"calib_passes":$calibArr,"sf":"$sfDir"}"""
    println(headline)
    try {
      val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "BENCH_PERQUERY.json")
      val full = s"""{"headline":$headline,"queries":${jmap(mins)},"queries_median":${jmap(meds)}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
        (full + "\n").getBytes("UTF-8")): Unit
    } catch { case NonFatal(_) => () } // sidecar is best-effort
  }
}

/** How Bench, Verify and CodegenGateSpec treat a failure: one policy.
  *
  * `FailurePolicy(f)(recover)` returns `f`'s value. A NonFatal error is
  * handed to `recover` as "<class>: <message>", whose value stands in
  * for `f`'s: the failure is recorded and the run goes on. A
  * VirtualMachineError (out of memory, stack overflow, internal error)
  * is handed to `recover` the same way and then rethrown: the record is
  * written, and the run ends instead of carrying on in a damaged JVM.
  * Any other throwable (an interrupt, a linkage error) passes through
  * unrecorded. A throw inside a thread pool's task does not stop the
  * pool, so a pool's owner has to end the run itself (see Verify). */
private[graft] object FailurePolicy {
  def apply[A](f: => A)(recover: String => A): A =
    try f catch {
      case NonFatal(e) => recover(describe(e))
      case e: VirtualMachineError => recover(describe(e)); throw e
    }

  def describe(e: Throwable): String =
    (e.getClass.getName + Option(e.getMessage).fold("")(": " + _)).take(300)

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped (a raw tab in a record breaks `json.load`). */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Bench's calibration probe under [[FailurePolicy]]: a failure reads
  * -1.0, and the FIRST reason is kept for the headline's `calib_error`
  * (later failures don't overwrite the root cause). */
private[graft] final class CalibGuard {
  @volatile private[graft] var firstError: Option[String] = None
  def run(f: () => Double): Double =
    FailurePolicy(f()) { reason =>
      if (firstError.isEmpty) firstError = Some(reason)
      -1.0
    }
}
