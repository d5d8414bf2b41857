package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.PipelineConfig
import graft.types.{CHType, ColumnMeta}

/** Test-table readers. The only special case is `events`, whose `ts`
  * column has shipped in two encodings across driver testdata
  * generations: parquet TIMESTAMP(NANOS) — a type Spark's vectorized
  * reader rejects outright ([PARQUET_TYPE_ILLEGAL]), read as raw Long
  * via the legacy conf and rebuilt as a microsecond timestamp — and
  * plain TIMESTAMP(MICROS), which reads directly. The loader sniffs
  * the materialized type and normalizes both to the same µs-precision
  * timestamp DuckDB sees for the same file, so queries and oracles are
  * generation-independent.
  */
object Tables {

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // TIMESTAMP(NANOS) generation, surfaced as Long by nanosAsLong.
        // Truncate ns→µs in integer arithmetic (`div`, not `/`: the ns
        // values are ~2^60, beyond double's exact range, so float
        // division is off by up to ±256 ns). Truncation matches
        // DuckDB's ns→µs conversion of the same file.
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        // TIMESTAMP(MICROS) generation. The parquet field carries no
        // isAdjustedToUTC flag, so Spark surfaces TIMESTAMP_NTZ; cast
        // to TimestampType so downstream code sees the exact type the
        // nanos rebuild produced (value-identical: every session in
        // this repo pins spark.sql.session.timeZone=UTC).
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** The ingest fixture over [[events]] shared by the flagship
    * (`SparkEntry.entry`), `IngestBench` and q35: one sink column per
    * events column, its ClickHouse type read back from the Spark type.
    */
  def eventsMetas(events: DataFrame): Seq[ColumnMeta] =
    events.schema.fields.toSeq.map(f => CHType.columnMeta(f.name, CHType.fromSpark(f.dataType)))

  /** The config those three validate and coerce [[eventsMetas]] with.
    * `ts` has a Timestamp sink and there is no string-enum column, so
    * no column needs batch presence.
    */
  val eventsIngestCfg: PipelineConfig = PipelineConfig(
    required = Seq("event_id", "ts"),
    datetimeCols = Set("ts"),
    stringEnumCols = Set.empty)
}
