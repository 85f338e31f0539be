package graft

import scala.util.{Try, Using}

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * Parquet scans get Catalyst's predicate pushdown + column pruning for
  * free; callers select only what they need so ReadSchema stays narrow.
  *
  * Schema: a table stored as one file is read with the schema its own
  * footer declares, read here on the driver and handed to
  * `spark.read.schema(...)`. `spark.read.parquet` infers the same schema
  * but reads that footer in a one-task Spark job (warm, on 4 local
  * cores: ~70 ms per table, against ~7 ms for this whole load). The
  * footer becomes a schema the way inference does it: a Spark row schema
  * stored in the file's key-value metadata wins, otherwise the parquet
  * types are converted under the live session conf (`nanosAsLong`,
  * INT96, binary-as-string), so a conf change reaches the next load.
  *
  * No cache: every load reads the footer again. A table regenerated at
  * the same path, even with an unchanged mtime, must load with its new
  * columns, and a key that could tell the two files apart costs the
  * same footer read.
  *
  * A table stored as a directory (Spark writer output, e.g. Stretch's
  * copies) keeps `spark.read.parquet`'s inference, which chooses the
  * file (or summary file) whose footer stands for the directory.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val status = path.getFileSystem(conf).getFileStatus(path)
    if (status.isDirectory) spark.read.parquet(path.toString)
    else spark.read.schema(footerSchema(spark, HadoopInputFile.fromStatus(status, conf)))
      .parquet(path.toString)
  }

  /** The schema Spark's inference reads from this file's footer. */
  private def footerSchema(spark: SparkSession, file: HadoopInputFile): StructType = {
    val opts = HadoopReadOptions.builder(file.getConfiguration)
      .withMetadataFilter(SKIP_ROW_GROUPS).build()
    val meta = Using.resource(ParquetFileReader.open(file, opts))(_.getFooter.getFileMetaData)
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => Try(DataType.fromJson(json)).toOption.collect { case st: StructType => st })
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
  }

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
