package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-JVM staged signal tables: compute a per-doc (or per-row) signal
  * projection ONCE per source dir, write it as one flat parquet table,
  * and hand every downstream query a plain integer/array scan (read
  * through Tables.parquet, so no query build infers its schema) — the
  * warehouse stagedUpserted convention generalized for the _staged
  * query twins (text_pack_ffd_staged, dedup_minhash_lsh_staged, …).
  * At 100 TB this is the production shape: tokenize/hash once per
  * ingest, not once per query.
  *
  * Cache key = source dir + a cheap content fingerprint (file count,
  * total bytes, max mtime — the same walk GraftSession.inputBytes
  * does), so a dataset REPLACED in-session re-stages instead of
  * silently serving stale signals; the usual per-round gate runs see
  * immutable inputs and hit the cache. Temp dirs are removed by a JVM
  * shutdown hook (they live under java.io.tmpdir and held gigabytes at
  * sf100 before r14's cleanup).
  */
object Staged {
  /** Cache key -> staged dir of every build that completed. */
  private val paths = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Every dir created, a failed build's included; removed at JVM exit. */
  private[graft] val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.forEach(p => deleteRecursively(new java.io.File(p)))))

  /** Registers dir `p` for removal at JVM exit; callers register before
    * anything is written to it, so a build that throws leaves nothing
    * behind. */
  private[graft] def register(p: String): String = {
    created.add(p)
    p
  }

  private def tempDir(prefix: String): String =
    register(java.nio.file.Files.createTempDirectory(prefix).toString)

  /** (n_files, total_bytes, max_mtime) walk — cheap relative to any
    * staging job, and enough to catch replace/append within a JVM. */
  private[sources] def fingerprint(dir: String): String = {
    var n = 0L; var bytes = 0L; var mtime = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else { n += 1; bytes += f.length(); mtime = math.max(mtime, f.lastModified()) }
    val f = new java.io.File(dir)
    if (f.exists()) walk(f)
    s"$n:$bytes:$mtime"
  }

  /** One-query ephemeral materialization: write `df` to a temp parquet
    * dir (cleaned at JVM exit) and hand back the scan. For iterative
    * plans that re-consume a big intermediate many times (the
    * graph_part_rank rank rounds): a stage barrier re-RUNS the final
    * stage per consuming job and a block checkpoint stores fat
    * row-format blocks (the sf100 edge frame serialized ~4× its
    * columnar size and squatted on memory/disk), while parquet's
    * delta/dictionary encodings make each re-scan a cheap columnar
    * read through the OS page cache. NOT cached across calls — each
    * call writes its own dir, so it is read without the schema cache. */
  def ephemeral(df: DataFrame): DataFrame = {
    val p = tempDir("graft-ephem-")
    df.write.mode("overwrite").parquet(p)
    df.sparkSession.read.parquet(p)
  }

  /** The staged table for (`name`, `dir`): built by `build` on first
    * use this JVM (or after the dir's content changes), then read back
    * as plain, unpartitioned parquet. Stage NARROW signal tables (ints,
    * hashes, short arrays) — staging wide string-array columns both OOMs
    * the default-128MB-row-group writers at scale and reads back SLOWER
    * than recomputing from text (the r14 gram-array experiment: 237 s vs
    * 127 s at sf100). */
  def table(spark: SparkSession, name: String, dir: String)(build: => DataFrame): DataFrame = {
    val key = s"$name|$dir|${fingerprint(dir)}"
    val path = paths.computeIfAbsent(key, _ => {
      val p = tempDir(s"graft-$name-")
      build.write.mode("overwrite").parquet(p)
      p
    })
    Tables.parquet(spark, path)
  }

  /** Two staged tables produced by ONE build (an index and its sidecar
    * state — e.g. the IVF inverted file + its centroid table): the
    * closure runs once per (name, dir, content); BOTH frames persist
    * under the same key, so a cache hit re-reads parquet without
    * re-running the build that derived either. `partitionBy1` keys the
    * FIRST frame's directory layout (the probe-pruned read path). */
  def tablePair(spark: SparkSession, name: String, dir: String,
                partitionBy1: Seq[String])
               (build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val key = s"$name|$dir|${fingerprint(dir)}"
    val path = paths.computeIfAbsent(key, _ => {
      val p = tempDir(s"graft-$name-")
      val (a, b) = build
      Ingest.writePartitioned(a, s"$p/a", partitionBy1)
      b.write.mode("overwrite").parquet(s"$p/b")
      p
    })
    (Tables.parquet(spark, s"$path/a"), Tables.parquet(spark, s"$path/b"))
  }
}
