package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Staged

/** Shared session + helpers: one SparkSession for the whole JVM test run. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = "/root/testdata/sf0.001"

  def temp(prefix: String, fileSuffix: Option[String] = None): String =
    SparkSpec.temp(prefix, fileSuffix)

  /** Query jobs started while `f` runs: leaves out the job Spark runs to
    * infer a parquet path's schema, which Tables.parquet runs on a
    * session's first read of a path (or of its new content) only. */
  def jobsDuring[A](f: => A): (A, Int) = countDuring(f) { n =>
    new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!e.stageInfos.exists(_.details.contains("DataFrameReader.parquet")))
          n.incrementAndGet(): Unit
    }
  }

  /** Every job started while `f` runs, schema inference included. */
  def allJobsDuring[A](f: => A): (A, Int) = countDuring(f) { n =>
    new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
  }

  /** Shuffle-map stages submitted while `f` runs (a stage whose shuffle
    * output already exists is skipped, not submitted). */
  def mapStagesDuring[A](f: => A): (A, Int) = countDuring(f) { n =>
    new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ListenerBusAccess.isShuffleMap(e.stageInfo)) n.incrementAndGet(): Unit
    }
  }

  private def countDuring[A](f: => A)(listener: AtomicInteger => SparkListener): (A, Int) = {
    val n = new AtomicInteger
    val l = listener(n)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      ListenerBusAccess.drain(spark.sparkContext)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]")
      // static conf: saveAsTable targets (ScaleSpec buckets) land in /tmp
      .config("spark.sql.warehouse.dir", temp("graft-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A new temp dir under java.io.tmpdir, or an empty temp file when
    * `fileSuffix` is given, registered with Staged so it is removed at
    * JVM exit. */
  def temp(prefix: String, fileSuffix: Option[String] = None): String = {
    val p = fileSuffix.fold(Files.createTempDirectory(prefix))(Files.createTempFile(prefix, _))
    Staged.register(p.toString)
  }
}
