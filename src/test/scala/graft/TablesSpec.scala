package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.LongType
import graft.sources.Tables

/** Tables.parquet infers a path's schema once per session and content. */
class TablesSpec extends SparkSpec {

  test("a second read of a source in the same session starts no job, schema inference included") {
    Tables.orders(spark, sf)
    val (orders, jobs) = allJobsDuring(Tables.orders(spark, sf))
    assert(jobs == 0)
    assert(orders.schema == spark.read.parquet(Tables.path(sf, "orders")).schema)
  }

  test("a path rewritten in the same session is read with its new schema") {
    val dir = temp("graft-rewrite")
    spark.range(3).toDF("a").write.mode("overwrite").parquet(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.mode("overwrite").parquet(dir)
    val back = Tables.parquet(spark, dir)
    assert(back.columns.toSeq == Seq("a", "b"))
    assert(back.orderBy("a").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 0L), (1L, 2L), (2L, 4L)))
  }

  test("a session with another nanosAsLong does not get the first session's schema") {
    val dir = temp("graft-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1000L)) finally w.close()
    // GraftSession reads nanosecond timestamps as Long
    assert(Tables.parquet(spark, dir).schema("ts").dataType == LongType)
    // without it the type is illegal; the first session's Long schema
    // would hand back a frame instead
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[AnalysisException](Tables.parquet(other, dir))
    assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
  }
}
