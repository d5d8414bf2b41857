package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Pipeline

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship (SURVEY §7.3): the reference's full ingest pipeline
    * (S2→S6, main.py:394-466) run end-to-end over the events table.
    * Rows are re-serialized to JSON strings (simulating Kafka message
    * payloads, main.py:516-520), dirty payloads are injected, the sink
    * schema is discovered from the parquet footer (S3 analogue), and
    * the batch is validated → split → coerced. Returns the valid,
    * sink-ready side; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val events = sources.Tables.events(spark, dir)
    val asJson = events.select(to_json(struct(events.columns.map(col): _*)).as(Pipeline.ValueCol))
    val dirty = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row("""{"event_id": "not an int", "user_id": 1}"""),
        org.apache.spark.sql.Row("""{"user_id": 2, "event_type": "click"}"""),
        org.apache.spark.sql.Row("{malformed"),
        org.apache.spark.sql.Row("   ")),
      asJson.schema)
    Pipeline.process(asJson.union(dirty), sources.Tables.eventsMetas(events),
      sources.Tables.eventsIngestCfg).valid
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracle
}
