package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * Parquet scans get Catalyst's predicate pushdown + column pruning for
  * free; callers select only what they need so ReadSchema stays narrow.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize any TIMESTAMP_NTZ column to µs TimestampType — the events
    * lesson applied to EVERY timestamp the generator writes: the session
    * TZ is pinned UTC, so the cast is value-identical to DuckDB's naive
    * read, and downstream `unix_micros`/interval arithmetic can never hit
    * the r11 DATATYPE_MISMATCH class on a regenerated table again.
    */
  private def normTs(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d0, f) =>
      if (f.dataType == TimestampNTZType)
        d0.withColumn(f.name, col(f.name).cast(TimestampType))
      else d0
    }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = normTs(load(s, d, "orders"))
  def lineitem(s: SparkSession, d: String): DataFrame = normTs(load(s, d, "lineitem"))
  /** `events.ts` has shipped in three physical parquet encodings over the
    * life of the generator; normalize all of them to a µs `TimestampType`
    * so every consumer (incl. `unix_micros`) sees one logical type:
    *
    *   1. TIMESTAMP(NANOS)                   — Spark 4 rejects by default;
    *      read nanos as long via the legacy conf (set by [[GraftSession]]),
    *      then `DIV 1000` → µs timestamp (exact: the generator's values
    *      have zero sub-µs residue).
    *   2. TIMESTAMP_MICROS isAdjustedToUTC=0 — Spark 4 reads TIMESTAMP_NTZ;
    *      cast to TimestampType. The session TZ is pinned UTC, so the cast
    *      is value-identical to DuckDB's naive read of the same micros.
    *   3. TIMESTAMP_MICROS isAdjustedToUTC=1 — already TimestampType;
    *      pass through.
    *
    * DuckDB surfaces all three as a µs TIMESTAMP, so oracles agree.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else normTs(raw) // cases 2 and 3
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
