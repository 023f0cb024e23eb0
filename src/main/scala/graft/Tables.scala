package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the graft engine.
  *
  * All operators are pure plan builders over these tables; every filter /
  * projection stays declarative so Catalyst pushes it into the parquet scan
  * (verify with `.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.ts comes in one of two parquet encodings, both normalized to
    * the engine's instant-micros TIMESTAMP by FeedSources.normalize:
    *   - INT64 TIMESTAMP(MICROS, not UTC-adjusted), which Spark reads as
    *     TIMESTAMP_NTZ — the sf0.001/0.01/0.1 test datasets (TESTDATA.md)
    *     and the gen_scale.py replicas;
    *   - INT64 TIMESTAMP(NANOS), which Spark's vectorized reader rejects;
    *     the session posture (GraftSession.prepare) reads it as raw long
    *     nanos, truncated to micros by integer division (a double
    *     round-trip would lose precision above 2^53 ns). */
  def events(s: SparkSession, d: String): DataFrame =
    graft.sources.FeedSources.normalize(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
