package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for graft.
  *
  * Local mode here is a stand-in for a multi-executor cluster: every conf
  * below is one we would also set (with cluster-sized values) at 100 TB.
  * AQE handles runtime coalescing and skew-join splitting; the INITIAL
  * shuffle partition count is sized from the dataset's on-disk bytes
  * (see shufflePartitionsFor) because AQE can coalesce a too-fine map
  * side but cannot split a too-coarse one once a single stage's
  * rows-per-task explode — the r12 sf100 probe OOM'd the graph family at
  * 32 partitions on the same heap where 512 completed.
  */
object GraftSession {

  /** Target on-disk (compressed parquet) bytes per shuffle partition.
    * Parquet expands ~5-10x decoded, so 32 MB on disk keeps a task's
    * working set in the low hundreds of MB even through a pair-expanding
    * join — the sf100 reading: 15.6 GB / 32 MB ≈ 487 partitions, the
    * regime where the whole registry completes on an 8 GB heap (512 did;
    * 32 OOM'd graph_similar_parts). */
  private[graft] val TargetPartitionBytes: Long = 32L * 1024 * 1024

  /** Upper rail: beyond this, per-task scheduling overhead dominates on
    * any plausible single-box probe; a real cluster would raise it with
    * its core count. */
  private[graft] val MaxShufflePartitions: Int = 4096

  /** Recursive on-disk byte count of a dataset directory (0 when the
    * path is missing — callers fall back to the cpu floor). Counts
    * DATA files only (.parquet/.orc/.csv/.json and Spark part- files):
    * stray logs or checkpoints dropped next to a dataset must not
    * inflate the partition count (r13 advisory). */
  private[graft] def inputBytes(dir: String): Long = {
    def isData(name: String): Boolean =
      name.endsWith(".parquet") || name.endsWith(".orc") ||
        name.endsWith(".csv") || name.endsWith(".json") ||
        name.startsWith("part-")
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (isData(f.getName)) f.length()
      else 0L
    val f = new java.io.File(dir)
    if (f.exists()) walk(f) else 0L
  }

  /** The sizing rule (ScaleSpec pins it): bytes-derived, floored at the
    * core count so small SFs keep one wave of full-width tasks, railed
    * at MaxShufflePartitions. */
  private[graft] def shufflePartitionsFor(bytes: Long, cpus: Int): Int = {
    val fromBytes = math.ceil(bytes.toDouble / TargetPartitionBytes).toInt
    math.min(MaxShufflePartitions, math.max(cpus, fromBytes))
  }

  /** The value `v` of env var `name` as a positive integer; anything
    * else fails here, naming the variable, rather than later in Spark. */
  private[graft] def positiveInt(name: String, v: String): Int =
    v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$name must be a positive integer, got '$v'"))

  /** The core count of a session that names no master, given the value
    * of SPARK_GRAFT_CPUS: that value when set, else min(32, nproc), the
    * core count the sf0.1 bench is specified at. */
  private[graft] def defaultCpus(env: Option[String]): Int =
    env.map(positiveInt("SPARK_GRAFT_CPUS", _))
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** Generated classes Spark keeps per JVM (`spark.sql.codegen.cache.maxEntries`,
    * a static conf read once, when `CodeGenerator` first initializes).
    * Spark's default of 100 is smaller than the working set of a session
    * that re-runs a handful of reports: five small registry queries
    * compile about 190 classes on their first runs, so an LRU of 100
    * evicts every class before its query runs again and each re-run pays
    * the full compile (43% of such a pass). 1000 holds that working set
    * five times over.
    *
    * Cost, measured on JDK 17 after one pass over the whole registry at
    * sf0.001: 3146 cached classes held 67 MB of heap (21.9 KB each: the
    * source text that keys the entry, the class and its stats) and 26 MB
    * of metaspace, so a full cache of 1000 costs about 22 MB of heap.
    * The cap does not cover a registry-wide pass, whose 3146 classes
    * (1952 distinct sources; query planning and tasks run under
    * different class loaders, each keying its own copy) still cycle
    * through it, so each of `Bench`'s passes compiles every query again;
    * covering those would take a cap near 3500 and about 75 MB of heap. */
  private[graft] val CodegenCacheEntries: Int = 1000

  private val LocalMaster = """local\[(\d+|\*)\]""".r

  /** Core count of a `local[N]` or `local[*]` master: the shuffle-partition
    * floor of every session. */
  private[graft] def coresOf(master: String): Int = master match {
    case LocalMaster("*") => Runtime.getRuntime.availableProcessors()
    case LocalMaster(n) => n.toInt
    case _ => throw new IllegalArgumentException(
      s"no core count in master '$master': use local[N] or local[*]")
  }

  /** The one session factory: every graft main and spec builds its
    * session here, so all of them run under the same confs. */
  def builder(master: String = s"local[${defaultCpus(sys.env.get("SPARK_GRAFT_CPUS"))}]",
              sfDir: String = ""): SparkSession.Builder = {
    val parts = shufflePartitionsFor(inputBytes(sfDir), coresOf(master))
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read as Long (ns since epoch) and normalize in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Under AQE a stage's codegen id follows the order its sibling
      // stages finished in, so with the id in the class name the same
      // stage code re-compiled whenever that order changed.
      .config("spark.sql.codegen.useIdInClassName", "false")
  }
}
