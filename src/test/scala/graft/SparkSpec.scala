package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + helpers: one SparkSession for the whole JVM test run. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Query jobs started while `f` runs: leaves out the job Spark runs to
    * read a parquet file's schema whenever a frame reads one. */
  def jobsDuring[A](f: => A): (A, Int) = countDuring(f) { n =>
    new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!e.stageInfos.exists(_.details.contains("DataFrameReader.parquet")))
          n.incrementAndGet(): Unit
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
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      // static conf: saveAsTable targets (ScaleSpec buckets) land in /tmp
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
