package graft

import org.apache.spark.sql.functions._
import graft.streaming.WarehouseStream
import graft.warehouse.Warehouse

/** Continuous ingestion must equal the batch fold at every point:
  * after ANY prefix of files the stored table is fin_multi_load over
  * that prefix, the checkpoint picks up only new files, and an empty
  * pass changes nothing. */
class WarehouseStreamSpec extends SparkSpec {

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("gl_code"), col("year"), col("month"), col("department"),
        col("category"), col("amount"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("streamed per-file upsert converges to the batch fold, incrementally and idempotently") {
    val batches = Warehouse.multiLoadBatches(spark, sf)
    val schema = batches.schema
    val ids = batches.select(col("batch")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(ids.length >= 3, "need several batches to split into arrivals")

    val inbox = temp("graft-inbox")
    val table = temp("graft-wtab") + "/warehouse"
    val ckpt = temp("graft-ckpt")
    def arrive(batchIds: Seq[Long]): Unit = batchIds.foreach { b =>
      batches.filter(col("batch") === b).coalesce(1)
        .write.mode("append").parquet(inbox)
    }
    def ingest(): Unit =
      WarehouseStream.ingestAvailableNow(spark, inbox, schema, table, ckpt)

    // OUT-OF-ORDER arrival: the newest period lands first — precedence,
    // not arrival order, must decide the fold
    val (late, early) = (Seq(ids.last, ids.head), ids.drop(1).dropRight(1))
    arrive(late)
    ingest()
    val afterFirst = sortedRows(spark.read.parquet(table))
    val foldFirst = sortedRows(Warehouse.multiLoadFold(
      batches.filter(col("batch").isin(late: _*))))
    assert(afterFirst == foldFirst, "prefix table != batch fold over the same files")

    // remaining files arrive; the SAME checkpoint processes only them
    arrive(early)
    ingest()
    val afterAll = sortedRows(spark.read.parquet(table))
    val foldAll = sortedRows(Warehouse.multiLoadFold(batches))
    assert(afterAll == foldAll, "final table != one-shot batch fold")
    assert(afterAll == sortedRows(
      SparkEntry.queries("fin_multi_load")(spark, sf)),
      "final table != registered fin_multi_load")

    // empty pass: no new files → byte-identical table
    ingest()
    assert(sortedRows(spark.read.parquet(table)) == afterAll,
      "empty AvailableNow pass mutated the table")
  }
}
