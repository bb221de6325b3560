package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the driver's synthetic corpus (TESTDATA.md).
  *
  * All engine queries read through here so scans stay uniform: plain
  * `spark.read.parquet` gives Catalyst full pushdown/pruning; at cluster
  * scale the same call reads a partitioned directory tree unchanged.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  /** `events.parquet` ingestion is infer-then-contract (the reference's
    * ingest philosophy, SURVEY §1.3): probe the loaded type of `ts` and
    * adapt, because a real lake has mixed physical encodings across
    * files. Two encodings are known:
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it unless
    *    `nanosAsLong` is set, so `ts` arrives as a raw long — truncate
    *    to micros with integer division (`div`, not `/` — double
    *    division would lose precision above 2^53), matching DuckDB's
    *    ns→us truncation.
    *  - TIMESTAMP(MICROS) (adjusted or NTZ): read natively; normalize
    *    to TimestampType (identity under the engine's UTC session tz)
    *    so every downstream plan sees one stable type.
    *
    * `spark.sql.legacy.parquet.nanosAsLong` is set on the caller's
    * session and never restored: it is session-wide from the first
    * call on. It cannot be scoped to this read, because the parquet
    * scan reads it lazily, when the returned frame executes.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // harmless when the file is already micros; required for nanos files
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy nanos-as-long encoding
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // native timestamp (micros, tz'd or NTZ)
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    apply(s, d, "embeddings")
}
