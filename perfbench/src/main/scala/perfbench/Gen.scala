package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, column salt, row id) through `xxhash64`, so the same seed
  * writes the same files whatever the partitioning, and each generator
  * also returns the counts its workload's output check needs.
  */
object Gen {

  private def h(seed: Long, salt: String, ids: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: ids): _*)

  /** Uniform integer in [0, n). */
  private def uint(seed: Long, salt: String, n: Long, ids: Column*): Column =
    pmod(h(seed, salt, ids: _*), lit(n))

  /** Uniform double in [0, 1). */
  private def unit(seed: Long, salt: String, ids: Column*): Column =
    uint(seed, salt, 1000000000L, ids: _*) / lit(1e9)

  private def pick(values: Seq[String], i: Column): Column =
    element_at(array(values.map(lit): _*), (i + 1).cast("int"))

  private def money(u: Column, lo: Double, hi: Double): Column =
    round(u * (hi - lo) + lo, 2)

  private def day(base: String, offsetDays: Column): Column =
    (to_timestamp(lit(base)) + make_interval(lit(0), lit(0), lit(0), offsetDays.cast("int")))
      .cast("timestamp_ntz")

  // ---------------------------------------------------------------- tables

  /** Row counts of the engine's judged tables at sf0.1. */
  val TableRows: Seq[(String, Long)] = Seq(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L, "supplier" -> 1000L,
    "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L,
    "events" -> 100000L, "documents" -> 5000L, "embeddings" -> 2000L)

  private val Words = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** A day in [1995-01-01, 2001-08-01]. */
  private def orderDate(seed: Long, salt: String, id: Column): Column =
    day("1995-01-01", uint(seed, salt, 2405L, id))

  /** One judged table with the column names, types and value shapes of
    * the judged sf0.1 test tables (row counts, key ranges, value
    * domains, rounding, duplicate structure), so the queries and their
    * DuckDB oracles read data of the same shape; timestamps are
    * TIMESTAMP_NTZ, which both engines read as a zone-less timestamp.
    */
  def table(spark: SparkSession, seed: Long, name: String, rows: Long): DataFrame = {
    val id = col("id")
    val r = spark.range(rows)
    def u(salt: String) = unit(seed, salt, id)
    def n(salt: String, k: Long) = uint(seed, salt, k, id)
    name match {
      case "region" => r.select(id.cast("int").as("r_regionkey"),
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id).as("r_name"))
      case "nation" => r.select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
      case "customer" => r.select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        n("c_nationkey", 25).cast("int").as("c_nationkey"),
        money(u("c_acctbal"), -999.99, 9999.99).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
          n("c_mktsegment", 5)).as("c_mktsegment"))
      case "supplier" => r.select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        n("s_nationkey", 25).cast("int").as("s_nationkey"),
        money(u("s_acctbal"), -999.99, 9999.99).as("s_acctbal"))
      case "part" => r.select(id.as("p_partkey"),
        concat_ws(" ",
          pick(Seq("blue", "old", "small", "new", "large", "hot", "cold", "red"), n("p_adj", 8)),
          pick(Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"),
            n("p_noun", 8))).as("p_name"),
        concat(lit("Brand#"), n("p_brand", 25) + 1).as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
          n("p_type", 6)).as("p_type"),
        (n("p_size", 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice"))
      case "orders" => r.select(id.as("o_orderkey"),
        n("o_custkey", 15000).as("o_custkey"),
        pick(Seq("F", "O", "P"), n("o_orderstatus", 3)).as("o_orderstatus"),
        money(u("o_totalprice"), 1000.0, 500000.0).as("o_totalprice"),
        orderDate(seed, "o_orderdate", id).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          n("o_orderpriority", 5)).as("o_orderpriority"))
      case "lineitem" =>
        r.select(n("l_orderkey", 150000).as("l_orderkey"),
          n("l_partkey", 20000).as("l_partkey"),
          n("l_suppkey", 1000).as("l_suppkey"),
          (n("l_linenumber", 7) + 1).cast("int").as("l_linenumber"),
          (n("l_quantity", 50) + 1).cast("double").as("l_quantity"),
          money(u("l_extendedprice"), 900.0, 105000.0).as("l_extendedprice"),
          // Rounded uniforms: the end values have half the weight.
          round(u("l_discount") * 0.10, 2).as("l_discount"),
          round(u("l_tax") * 0.08, 2).as("l_tax"),
          pick(Seq("A", "N", "R"), n("l_returnflag", 3)).as("l_returnflag"),
          pick(Seq("F", "O"), n("l_linestatus", 2)).as("l_linestatus"),
          // Not tied to the line's order date.
          (orderDate(seed, "l_date", id) + make_interval(lit(0), lit(0), lit(0),
            (n("l_shipdate", 95) + 1).cast("int"))).as("l_shipdate"))
      case "events" =>
        val stepUs = 30L * 86400L * 1000000L / rows
        r.select(id.as("event_id"),
          timestamp_micros(lit(1704067200000000L) + id * stepUs + n("ts", stepUs))
            .cast("timestamp_ntz").as("ts"),
          n("user_id", 1500).as("user_id"),
          pick(Seq("click", "error", "purchase", "signup", "view"), n("event_type", 5))
            .as("event_type"),
          round(-log(lit(1.0) - u("value")) * 50.0, 2).as("value"),
          format_string("{\"k\": %d}", n("props", 100)).as("props"))
      case "documents" =>
        // One document in twenty repeats the words of a random other
        // document plus a marker token: the near-duplicate structure the
        // dedup queries find. Two copies of one document are exact
        // duplicates of each other.
        val dup = n("dup", 20) === 0
        val base = when(dup, n("dup_of", rows)).otherwise(id)
        val nWords = (uint(seed, "n_words", 91, base) + 10).cast("int")
        val words = transform(sequence(lit(0), nWords - 1), i =>
          pick(Words, uint(seed, "word", Words.size, base, i)))
        val text = concat(array_join(words, " "), when(dup, lit(" dup")).otherwise(lit("")))
        val lang = n("lang", 20)
        r.select(id.as("doc_id"), text.as("text"),
          when(lang < 8, "en").when(lang < 11, "de").when(lang < 14, "es")
            .when(lang < 17, "fr").otherwise("zh").as("lang"),
          concat(lit("src"), id % 20).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // Built on the driver: 2k rows, and a per-element hash over the
        // 64-wide arrays makes the generated plan far slower than the data.
        // Unit vectors in uniformly random directions with a label drawn
        // independently of them, so labels form no clusters.
        val rnd = (salt: Long, i: Long) => new java.util.SplittableRandom(seed * 1000003L + salt * 7919L + i)
        val rowsSeq = (0L until rows).map { i =>
          val label = rnd(1, i).nextInt(10)
          val g = rnd(3, i)
          val raw = Array.fill(64)(g.nextGaussian())
          val norm = math.sqrt(raw.map(x => x * x).sum)
          org.apache.spark.sql.Row(i, raw.map(x => (x / norm).toFloat).toSeq, label)
        }
        spark.createDataFrame(java.util.Arrays.asList(rowsSeq: _*),
          org.apache.spark.sql.types.StructType.fromDDL(
            "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
    }
  }

  /** Writes the judged tables named in `names` under `dir`, one parquet
    * dataset each.
    */
  def tables(spark: SparkSession, seed: Long, dir: String, names: Set[String]): Unit =
    TableRows.filter(t => names(t._1)).foreach { case (name, rows) =>
      table(spark, seed, name, rows).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  /** The judged tables a query's oracle statement reads, which are the
    * tables its Spark plan reads.
    */
  def tablesOf(oracleSql: String): Set[String] =
    TableRows.map(_._1).filter(t => s"(?i)\\b$t\\b".r.findFirstIn(oracleSql).isDefined).toSet

  // ---------------------------------------------------------------- ingest

  /** The A.1 telemetry schema as ClickHouse `DESCRIBE` rows. */
  val TelemetrySchema: Seq[(String, String)] = Seq(
    "device_id" -> "UInt32",
    "trip_id" -> "UUID",
    "speed_kmh" -> "Float32",
    "odometer_m" -> "UInt64",
    "satellites" -> "Int8",
    "event_time" -> "DateTime",
    "trip_date" -> "Date",
    "gps_validity" -> "Enum8('valid'=1,'invalid'=2)",
    "incognito_mode" -> "Enum8('on'=1,'off'=2)",
    "note" -> "String",
    "db_insert_time" -> "DateTime")

  /** Payload cases per mille: (name, share, DLQ error or null for a
    * valid row, or "blank" for a payload the pipeline drops).
    */
  val PayloadCases: Seq[(String, Int, String)] = Seq(
    ("blank", 8, "blank"),
    ("malformed_json", 10, "malformed JSON"),
    ("missing_required", 10, "data must contain ['trip_id'] properties"),
    ("wrong_type_required", 10, "data.device_id must be integer"),
    ("null_typed", 10, "data.satellites must be integer"),
    ("missing_optional", 50, null),
    ("int_enum", 50, null),
    ("empty_datetime", 50, null),
    ("garbage_datetime", 50, null),
    ("overflow_int8", 50, null),
    ("extra_keys", 50, null),
    ("missing_enum", 50, null),
    ("uint64_edge", 50, null),
    ("clean", 552, null))
  require(PayloadCases.map(_._2).sum == 1000)

  final case class IngestExpect(messages: Long, blank: Long, valid: Long,
      dlqByReason: Map[String, Long])

  /** Writes `triggers` × `filesPerTrigger` line-delimited JSON files of
    * exactly `batch / filesPerTrigger` payloads each (`batch` must be a
    * multiple of `filesPerTrigger`), so any `filesPerTrigger` files the
    * file source groups form one full batch, and returns the counts a
    * correct pipeline must produce.
    */
  def payloads(spark: SparkSession, seed: Long, dir: String, triggers: Int,
      filesPerTrigger: Int, batch: Int): IngestExpect = {
    require(batch % filesPerTrigger == 0)
    val n = triggers.toLong * batch
    val id = col("id")
    val caseIdx = {
      val c = uint(seed, "case", 1000, id)
      val bounds = PayloadCases.scanLeft(0)(_ + _._2).tail
      PayloadCases.indices.foldRight(lit(PayloadCases.size - 1)) { (i, acc) =>
        when(c < bounds(i), lit(i)).otherwise(acc)
      }
    }
    def is(name: String): Column = col("c") === PayloadCases.indexWhere(_._1 == name)
    def s(v: Column) = concat(lit("\""), v, lit("\""))
    val secs = uint(seed, "t", 365L * 86400, id) + 1704067200L
    val fields: Seq[(String, Column)] = Seq(
      "device_id" -> when(is("wrong_type_required"), s(concat(lit("x"), id)))
        .otherwise(uint(seed, "device", 4294967295L, id).cast("string")),
      "trip_id" -> s(concat(lit("t-"), hex(h(seed, "trip", id)))),
      "speed_kmh" -> round(unit(seed, "speed", id) * 200, 2).cast("string"),
      "odometer_m" -> when(is("uint64_edge"), lit("18446744073709551615"))
        .otherwise(uint(seed, "odo", 1000000000000L, id).cast("string")),
      "satellites" -> when(is("null_typed"), lit("null"))
        .when(is("overflow_int8"), lit("300"))
        .otherwise(uint(seed, "sat", 30, id).cast("string")),
      "event_time" -> when(is("empty_datetime"), s(lit("")))
        .when(is("garbage_datetime"), s(lit("not a date")))
        .otherwise(s(date_format(timestamp_seconds(secs), "yyyy-MM-dd HH:mm:ss"))),
      "trip_date" -> s(date_format(timestamp_seconds(secs), "yyyy-MM-dd")),
      "gps_validity" -> when(is("int_enum"), lit("2"))
        .otherwise(s(pick(Seq("valid", "invalid"), uint(seed, "gps", 2, id)))),
      "incognito_mode" -> s(pick(Seq("on", "off"), uint(seed, "inc", 2, id))),
      "note" -> s(pick(Seq("ok", "stop", "idle", "moving"), uint(seed, "note", 4, id))),
      "unknown_field" -> lit("1"))
    val omitted: Map[String, Column] = Map(
      "trip_id" -> is("missing_required"),
      "speed_kmh" -> is("missing_optional"),
      "note" -> is("missing_optional"),
      "incognito_mode" -> is("missing_enum"),
      "unknown_field" -> !is("extra_keys"))
    val members = fields.map { case (k, v) =>
      val m = concat(lit(s""""$k": """), v)
      omitted.get(k).fold(m)(o => when(!o, m))
    }
    val json = concat(lit("{"), concat_ws(", ", members: _*), lit("}"))
    val value = when(is("blank"), pick(Seq("", "   ", "\t"), uint(seed, "blank", 3, id)))
      .when(is("malformed_json"), concat(lit("{not json "), id))
      .otherwise(json)
    val df = spark.range(0L, n, 1L, triggers * filesPerTrigger)
      .select(id, caseIdx.as("c")).select(value.as("value"), col("c"))
    df.select("value").write.mode("overwrite").text(dir)
    val counts = df.groupBy("c").count().collect()
      .map(r => PayloadCases(r.getInt(0))._1 -> r.getLong(1)).toMap.withDefaultValue(0L)
    val kinds = PayloadCases.map(c => (c._1, c._3))
    IngestExpect(n, counts("blank"),
      kinds.collect { case (k, null) => counts(k) }.sum,
      kinds.collect { case (k, e) if e != null && e != "blank" => e -> counts(k) }
        .groupBy(_._1).map { case (e, xs) => e -> xs.map(_._2).sum })
  }

  // ---------------------------------------------------------- stream_state

  final case class StreamExpect(events: Long, keys: Long, files: Int)

  /** Session gap of the stateful workload (q324's six hours). */
  val SessionGapUs: Long = 6L * 3600 * 1000000

  /** Writes `files` parquet files of (key, seq, ts, value) events into
    * `dir`, whose event time strictly increases with `seq` and so across
    * files, with keys skewed towards low ids (cubed uniform), then one
    * file of per-key sentinels seven hours past the last event so that
    * every real session closes before the drain ends. File modification
    * times are set in event-time order, which is the order the file
    * source reads them in.
    */
  def sessionEvents(spark: SparkSession, seed: Long, dir: String, files: Int,
      perFile: Int, keys: Long): StreamExpect = {
    val n = files.toLong * perFile
    val id = col("id")
    val stepUs = 20L * 86400L * 1000000L / n
    val u = unit(seed, "key", id)
    val ev = spark.range(0L, n, 1L, files).select(
      floor(u * u * u * keys).cast("long").as("key"),
      id.as("seq"),
      timestamp_micros(lit(1704067200000000L) + id * stepUs + uint(seed, "ts", stepUs, id))
        .as("ts"),
      round(unit(seed, "v", id) * 100, 2).as("value"))
    ev.write.mode("overwrite").parquet(dir)
    val maxUs = 1704067200000000L + n * stepUs
    val sentinelDir = s"$dir.sentinels"
    val distinctKeys = ev.select("key").distinct().select(col("key"),
      (lit(Long.MaxValue / 2) + col("key")).as("seq"),
      timestamp_micros(lit(maxUs + 7L * 3600 * 1000000)).as("ts"),
      lit(0.0).as("value"))
    distinctKeys.coalesce(1).write.mode("overwrite").parquet(sentinelDir)
    val keyCount = spark.read.parquet(sentinelDir).count()
    val sentinel = parquetFiles(sentinelDir).head
    java.nio.file.Files.move(sentinel.toPath,
      new java.io.File(dir, "part-99999-sentinels.parquet").toPath)
    val ordered = parquetFiles(dir)
    require(ordered.length == files + 1, s"expected ${files + 1} files, found ${ordered.length}")
    val t0 = System.currentTimeMillis() - 3600000L
    ordered.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 1000L) }
    Files.delete(sentinelDir)
    StreamExpect(n, keyCount, files + 1)
  }

  def parquetFiles(dir: String): Seq[java.io.File] = dataFiles(dir, ".parquet")
  def textFiles(dir: String): Seq[java.io.File] = dataFiles(dir, ".txt")

  private def dataFiles(dir: String, suffix: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(suffix))
      .sortBy(_.getName)
}
