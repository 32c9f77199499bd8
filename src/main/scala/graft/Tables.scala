package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet fixture loaders (see TESTDATA.md, FIXTURES.md).
  *
  * All engine queries take an `sfDir` so the same plan runs at any scale
  * factor; at cluster scale these would be external tables (ideally
  * bucketed on their join keys) — here they are plain parquet paths.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved once per (session, path) via [[graft.sources.Relations]]
    * — re-resolving a fixture on every query fires a one-task
    * footer/schema job per call (227 queries x 2 bench runs of pure
    * scheduler waves); the fixtures are read-only input, so the memo
    * never invalidates in practice. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Relations.parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across fixture
    * generations — TIMESTAMP(NANOS) (unreadable natively: read nanos
    * as long, `DIV 1000` to micros) and plain `timestamp[us]` with no
    * UTC-adjustment flag (Spark: TIMESTAMP_NTZ; DuckDB: naive
    * TIMESTAMP). Normalize every variant to a session-UTC TIMESTAMP
    * carrying the same wall-clock values DuckDB reads from the same
    * file, so `unix_micros`/watermarks/window() downstream see one
    * type regardless of fixture vintage (the session timezone is
    * pinned to UTC by Sessions.local, making the NTZ→LTZ cast an
    * identical-instant relabeling). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
