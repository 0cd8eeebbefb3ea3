package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema'd loaders for the test star schema.
  *
  * Parquet scans are the engine's ingestion path: Catalyst pushes filters
  * and prunes columns into these scans, so *callers must select/filter on
  * the loaded frame directly* (never cache a fully-materialized table
  * first) — at 100 TB the difference is reading 2 columns vs 40.
  *
  * Every read of a source or staged table goes through [[parquet]]: Spark
  * infers a parquet path's schema with a job that reads a footer, so the
  * schema is inferred once per session and per path content, and each
  * later query reads with it given.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Session -> (path | content fingerprint) -> inferred schema. Sessions
    * are held weakly (a WeakHashMap compares keys by reference here, as
    * SparkSession keeps Object's equals); the session is in the key
    * because its conf (e.g. `spark.sql.legacy.parquet.nanosAsLong`)
    * decides the inferred types. */
  private val schemas =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, StructType]]())

  /** `spark.read.parquet(path)`, with the schema inferred on the session's
    * first read of `path` and again only after its content changes
    * (`Staged.fingerprint`: a rewrite in place is read with its new
    * schema). */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val bySession = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, StructType]())
    val schema = bySession.computeIfAbsent(s"$path|${Staged.fingerprint(path)}",
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, path(dir, name))

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")

  /** events with `ts` normalized to `ts_us` (µs-since-epoch Long, matches
    * DuckDB `epoch_us(ts)`), whichever way the parquet encodes it: the
    * r1-r6 testdata stored ns-as-Long (read via GraftSession's
    * nanosAsLong), the r7 regeneration stores TIMESTAMP(µs) NTZ. Long →
    * integer division (ts/1000 through Double would lose precision above
    * 2^53); NTZ → cast through session-tz TIMESTAMP (sessions pin UTC, so
    * the wall-clock reading matches DuckDB's naive epoch_us exactly). */
  def eventsUs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val e = events(s, d)
    val tsUs = e.schema("ts").dataType match {
      case LongType => expr("ts DIV 1000")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case TimestampType => unix_micros(col("ts"))
      case t => throw new IllegalArgumentException(s"unsupported events.ts type: $t")
    }
    e.withColumn("ts_us", tsUs)
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
