package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge

/** Dev probe: cardinalities of dedup_containment's intermediate frames
  * at a given SF dir — pinpoints which stage owns the sf100 spill.
  * Usage: SPARK_GRAFT_SF_DIR=... dev/run.sh graft.DebugContainment */
object DebugContainment {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The partition floor is SPARK_GRAFT_CPUS (4 unset), not the master's 32
    // cores: the probe's readings were taken with that floor.
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)
    val spark = GraftSession.builder(master = "local[32]",
      shufflePartitions = GraftSession.partitionsFor(sfDir, cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.Text

    val docs = graft.sources.Tables.documents(spark, sfDir)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[dbg] $label: $r (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      r
    }

    val sh = GraftColumnBridge.stageBarrier(
      docs.select(col("doc_id"),
          array_distinct(Text.shingleHashes60(col("text"), 3)).as("shl"))
        .filter(size(col("shl")) > 0)
        .repartition(col("doc_id")))
    t("docs")(docs.count())
    t("sh rows")(sh.count())
    t("sh total shingles")(sh.agg(sum(size(col("shl")))).first().getLong(0))

    val cls = GraftColumnBridge.stageBarrier(
      sh.select(col("doc_id"), array_sort(col("shl")).as("ssh"))
        .groupBy(xxhash64(col("ssh"), lit(42)).as("ck"), size(col("ssh")).as("csz"))
        .agg(min(col("doc_id")).as("rep"),
          collect_list(col("doc_id")).as("members"),
          first(col("ssh")).as("ssh")))
    t("classes")(cls.count())

    val probe = cls.select(col("rep").as("id_a"),
      least(lit(2), col("csz")).as("need"),
      explode(slice(col("ssh"), 1, 4)).as("m"))
    val nProbe = t("probe rows")(probe.count())
    val bloom = probe.stat.bloomFilter("m", math.max(64L, nProbe), 0.01)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    import org.apache.spark.sql.GraftColumnBridge.{column => kcol, expression => kexp}
    val post = cls.select(col("rep").as("id_b"), explode(col("ssh")).as("m"))
    t("post rows (unpruned)")(post.count())
    val postPruned = post
      .filter(kcol(graft.expressions.BroadcastBloomMightContain(bloomBc, kexp(col("m")))))
    t("post rows (bloom-pruned)")(postPruned.count())
    t("join output pre-agg")(
      probe.join(postPruned, Seq("m")).filter(col("id_a") =!= col("id_b")).count())
    t("cands (>=2-hit)")(
      probe.join(postPruned, Seq("m")).filter(col("id_a") =!= col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("hits"), max(col("need")).as("need"))
        .filter(col("hits") >= col("need")).count())
    // the registered query's explain stops at the pre-sort stage
    // barrier, so print the candidate stage's plan here — this is
    // where the r14 bloom prune (Filter broadcastbloommightcontain
    // above the posting Generate) must be visible
    if (args.contains("explain")) {
      println("==== candidate stage (pre-barrier) plan")
      probe.join(postPruned, Seq("m")).filter(col("id_a") =!= col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("hits"), max(col("need")).as("need"))
        .filter(col("hits") >= col("need"))
        .explain("formatted")
    }
    spark.stop()
  }
}
