package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Ingest, Staged, Tables}
import graft.warehouse.{Statements, Warehouse}
import scala.jdk.CollectionConverters._

/** Round-trip specs for the non-parquet sources and partitioned sink. */
class SourcesSpec extends SparkSpec {

  test("csv round-trip: statements -> csv -> factFrom matches the direct path") {
    val out = temp("graft-stmt-csv")
    val direct = Statements.income(spark, sf)
    direct.coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    val viaCsv = Ingest.statementsCsv(spark, out)
    // markers' empty amount_str becomes null through csv — the pipeline
    // treats both as unparseable, so the facts must be identical
    val a = Warehouse.factFrom(direct).orderBy("file", "sheet", "pos").collect()
    val b = Warehouse.factFrom(viaCsv).orderBy("file", "sheet", "pos").collect()
    assert(a.length == b.length && a.sameElements(b))
  }

  test("json round-trip with explicit schema preserves values and types") {
    val out = temp("graft-events-json")
    val src = Tables.eventsUs(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_us", "value")
    src.coalesce(1).write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts_us", LongType),
      StructField("value", DoubleType)))
    val back = Ingest.json(spark, out, schema)
    assert(back.schema == schema)
    assert(back.count() == src.count())
    val a = src.orderBy("event_id").collect()
    val b = back.select(src.columns.map(col): _*).orderBy("event_id").collect()
    assert(a.sameElements(b))
  }

  test("orc round-trip preserves values (columnar alternative to parquet)") {
    val out = temp("graft-orders-orc")
    val src = Tables.orders(spark, sf)
    src.coalesce(1).write.mode("overwrite").orc(out)
    val back = spark.read.schema(src.schema).orc(out)
    assert(back.schema == src.schema)
    val a = src.orderBy("o_orderkey").collect()
    val b = back.select(src.columns.map(col): _*).orderBy("o_orderkey").collect()
    assert(a.sameElements(b))
  }

  test("partitioned parquet write prunes partitions on filtered read") {
    val out = temp("graft-wh-part")
    val wh = SparkEntry.queries("fin_warehouse_build")(spark, sf)
    Ingest.writePartitioned(wh, out, Seq("year", "department"))
    val back = spark.read.parquet(out)
    assert(back.count() == wh.count())
    val years = wh.select("year").distinct().collect().map(_.getInt(0))
    assert(years.length > 1, "need multiple partitions to prove pruning")
    val one = back.filter(col("year") === years.max && col("department") === "100")
    // values survive the round trip
    assert(one.count() ==
      wh.filter(col("year") === years.max && col("department") === "100").count())
    // partition pruning reaches the scan (PartitionFilters on both keys)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains(s"(year") &&
      scan.contains("(department"), s"expected partition filters in scan:\n$scan")
  }

  test("a staged build that throws still leaves its temp dir registered for removal") {
    val name = s"failing${System.nanoTime()}"
    intercept[IllegalStateException](
      Staged.table(spark, name, sf)(throw new IllegalStateException("build failed")))
    assert(Staged.created.asScala.exists(_.contains(s"graft-$name-")))
  }
}
