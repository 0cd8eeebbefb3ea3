package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.operators.UpsertDedupe
import graft.warehouse.Warehouse

/** Continuous warehouse ingestion — the reference's operating trigger
  * ("a monthly workbook lands in the folder": Code.gs:87-109 folder
  * loop, build_warehouse.py:193-203 newest-file pick) re-expressed as a
  * Structured Streaming FILE SOURCE driving the same keep-last upsert
  * the batch registry uses.
  *
  * The batch form (fin_multi_load) folds N files in one shuffle; this is
  * the continuous form of the SAME fold: each arriving file becomes a
  * micro-batch merged into the stored table under the identical
  * (batch desc, pos desc) precedence. Because keep-last under a total
  * precedence order is an associative per-key selection, the stored
  * table after any sequence of micro-batches equals the one-shot batch
  * fold over every file seen so far — arrival order never matters, and
  * re-delivering a file is a no-op (WarehouseStreamSpec asserts all
  * three properties).
  *
  * Scale: the file source lists incrementally against its checkpointed
  * seen-files log — a 10-year inbox costs the delta, not a re-listing;
  * each merge shuffles only (current table ∪ new batch) on the natural
  * key. The local-FS atomic-rename commit in `replaceTable` stands in
  * for a transactional table format on a real deployment; the
  * read-modify-replace stays correct because `merged` is fully
  * materialized before the swap. */
object WarehouseStream {

  /** Streaming source over an inbox directory of batch-stamped parquet
    * files (multiLoadBatches schema). maxFilesPerTrigger=1 makes each
    * arriving file its own micro-batch — the reference's one-workbook-
    * at-a-time loop. */
  def inboxStream(spark: SparkSession, inboxDir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inboxDir)

  /** The stored warehouse table, if it exists yet. */
  def currentTable(spark: SparkSession, tableDir: String): Option[DataFrame] =
    if (Files.exists(Paths.get(tableDir))) Some(spark.read.parquet(tableDir)) else None

  /** Merge one micro-batch into the stored table (keep-last fold on the
    * warehouse's natural key and precedence), then commit via write-new +
    * atomic rename swap. The stored table keeps `pos`/`batch` for the
    * next merge, so this is `keepLast` itself, not
    * `Warehouse.multiLoadFold`, which drops them. */
  def mergeIntoTable(spark: SparkSession, incoming: DataFrame, tableDir: String): Unit = {
    val foldKeys = Warehouse.NaturalKey.map(col)
    val merged = currentTable(spark, tableDir) match {
      case Some(existing) =>
        UpsertDedupe.keepLast(existing, incoming, foldKeys, Warehouse.Precedence)
      case None =>
        UpsertDedupe.keepLastWithin(incoming, foldKeys, Warehouse.Precedence)
    }
    replaceTable(merged, tableDir)
  }

  /** Write `df` beside `tableDir` then swap directories atomically —
    * `df` may READ from the current `tableDir`, so it must be fully
    * materialized into the new directory before the old one moves. */
  private def replaceTable(df: DataFrame, tableDir: String): Unit = {
    val dir = Paths.get(tableDir)
    val fresh = Paths.get(tableDir + ".new")
    val old = Paths.get(tableDir + ".old")
    df.write.mode("overwrite").parquet(fresh.toString)
    if (Files.exists(dir)) {
      Files.move(dir, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(fresh, dir, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(old)
    } else Files.move(fresh, dir, StandardCopyOption.ATOMIC_MOVE)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Drain everything currently in the inbox that the checkpoint hasn't
    * seen, folding each new file into the stored table, then stop (the
    * month-end cron shape; a production deployment would leave the same
    * query running with a processing-time trigger). */
  def ingestAvailableNow(spark: SparkSession, inboxDir: String, schema: StructType,
                         tableDir: String, checkpointDir: String): Unit = {
    val q = inboxStream(spark, inboxDir, schema).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeIntoTable(spark, batch, tableDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
