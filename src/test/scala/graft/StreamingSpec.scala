package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.expr.PipelineConfig
import graft.io.{FlakySink, ParquetDlqSink, ParquetSink, RecordSink}
import graft.pipeline.BatchOrchestrator
import graft.schema.SchemaProvider
import graft.streaming.StreamJob

/** End-to-end streaming tests (SURVEY §5.2.4): MemoryStream[String] →
  * StreamJob → foreachBatch orchestrator → parquet sinks, including the
  * schema-drift retry path (main.py:431-456).
  */
class StreamingSpec extends SparkSpec {

  private val provider = SchemaProvider.fromDescribeRows(Seq(
    "device_id" -> "UInt32",
    "note"      -> "String",
    "event_time" -> "DateTime"))
  private val cfg = PipelineConfig(
    required = Seq("device_id"),
    datetimeCols = Set("event_time"),
    stringEnumCols = Set.empty)

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  private def runStream(
      payloads: Seq[String],
      validSink: RecordSink,
      dlqSink: RecordSink,
      orchestrator: BatchOrchestrator => BatchOrchestrator = identity)
      : BatchOrchestrator = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val orch = orchestrator(new BatchOrchestrator(provider, cfg, validSink, dlqSink))
    // Data must be present BEFORE start: AvailableNow snapshots the end
    // offset when the query starts, so later addData is silently skipped.
    mem.addData(payloads: _*)
    val q = StreamJob.start(
      mem.toDF().withColumnRenamed("value", graft.pipeline.Pipeline.ValueCol),
      orch, tmp(), Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()
    orch
  }

  test("happy path: valid rows land in the sink, invalid in the DLQ, offsets commit") {
    val validDir = tmp(); val dlqDir = tmp()
    val orch = runStream(
      Seq(
        """{"device_id": 7, "note": "a", "event_time": "2024-05-01 10:00:00"}""",
        """{"device_id": 8}""",
        """{"note": "missing required"}""",
        "{broken"),
      new ParquetSink(validDir), new ParquetDlqSink(dlqDir))
    val valid = spark.read.parquet(validDir).collect()
    val dlq = spark.read.parquet(dlqDir).collect()
    assert(valid.length == 2)
    val r7 = valid.find(_.getLong(0) == 7L).get
    assert(r7.getString(1) == "a")
    assert(r7.getTimestamp(2) == java.sql.Timestamp.valueOf("2024-05-01 10:00:00"))
    val r8 = valid.find(_.getLong(0) == 8L).get
    assert(r8.getString(1) == "" // missing note → sentinel ''
      && r8.getTimestamp(2) == java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))
    assert(dlq.length == 2)
    assert(dlq.map(_.getString(1)).toSet ==
      Set("data must contain ['device_id'] properties", "malformed JSON"))
    assert(orch.schemaFetches == 1 && orch.insertAttempts == 1)
  }

  test("drift retry: first insert fails → schema re-resolved, retry succeeds, no duplicates") {
    val validDir = tmp(); val dlqDir = tmp()
    val parquet = new ParquetSink(validDir)
    val flaky = new FlakySink(parquet, failures = 1)
    val orch = runStream(
      Seq("""{"device_id": 1, "note": "x"}""", """{"bad": true}"""),
      flaky, new ParquetDlqSink(dlqDir))
    val valid = spark.read.parquet(validDir).collect()
    val dlq = spark.read.parquet(dlqDir).collect()
    assert(valid.length == 1 && valid(0).getLong(0) == 1L)
    assert(dlq.length == 1) // invalid row exactly once, via the retry path
    assert(orch.insertAttempts == 2)
    assert(orch.schemaFetches == 2) // initial + drift re-resolve (main.py:434-437)
  }

  test("live JDBC provider: '_' in the table name is escaped, not a LIKE wildcard (decoy table ignored)") {
    // getColumns takes LIKE patterns: unescaped, sink_t matches the
    // decoy SINKXT too and the two tables' columns would silently
    // concatenate into one "schema". The provider escapes the pattern
    // and tries exact case first, then the upper/lower foldings.
    val db = s"graftdecoy${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db;create=true"
    val setup = java.sql.DriverManager.getConnection(url)
    try {
      val st = setup.createStatement()
      st.execute("CREATE TABLE sink_t (device_id BIGINT, note VARCHAR(64))")
      st.execute("CREATE TABLE sinkXt (bogus_a BIGINT, bogus_b BIGINT, bogus_c BIGINT)")
    } finally setup.close()
    try {
      val cols = SchemaProvider.fromJdbc(url, "sink_t").resolve().map(_.name)
      assert(cols == Seq("device_id", "note"),
        s"decoy columns leaked into the schema: $cols")
    } finally {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("live JDBC provider: drift retry re-DESCRIBEs a real ALTERed Derby table") {
    // A real (embedded, in-memory) JDBC store plays the sink: the
    // provider resolves the schema through DatabaseMetaData — the live
    // DESCRIBE path (main.py:51-60) — and the drift scenario ALTERs
    // the actual table mid-batch, so the re-resolve must see the new
    // column from the DATABASE, not from any cached fixture.
    // Unique db name per invocation + drop on exit: in-memory Derby
    // databases live for the JVM, so a fixed name would fail CREATE
    // TABLE on any re-run of the suite in the same JVM.
    val db = s"graftdrift${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db;create=true"
    val setup = java.sql.DriverManager.getConnection(url)
    try setup.createStatement().execute(
      "CREATE TABLE sink_t (device_id BIGINT, note VARCHAR(64), " +
        "event_time TIMESTAMP, db_insert_time TIMESTAMP)")
    finally setup.close()
    try {

    val live = SchemaProvider.fromJdbc(url, "sink_t")
    // The server-side-filled column is excluded exactly like the
    // reference's db_insert_time (main.py:168).
    assert(live.structType().fieldNames.toSeq ==
      Seq("device_id", "note", "event_time"))

    // Sink that ALTERs the live table and THEN fails its first write —
    // a server-side schema change landing mid-batch.
    val validDir = tmp(); val dlqDir = tmp()
    val inner = new ParquetSink(validDir)
    val sink = new RecordSink {
      private var altered = false
      def write(df: org.apache.spark.sql.DataFrame): Boolean = {
        if (!altered) {
          altered = true
          df.count() // real sinks fail mid-insert, after the plan ran
          val c = java.sql.DriverManager.getConnection(url)
          try c.createStatement().execute(
            "ALTER TABLE sink_t ADD COLUMN region VARCHAR(32)")
          finally c.close()
          throw new RuntimeException("simulated drift: sink DDL changed")
        }
        inner.write(df)
      }
    }

    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val orch = new BatchOrchestrator(live, cfg, sink, new ParquetDlqSink(dlqDir))
    mem.addData("""{"device_id": 9, "note": "n", "region": "eu"}""")
    val q = StreamJob.start(
      mem.toDF().withColumnRenamed("value", graft.pipeline.Pipeline.ValueCol),
      orch, tmp(), Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()

    // The retry ran against the re-DESCRIBEd LIVE schema: the ALTERed
    // column materialized in the output, filled from the payload.
    val valid = spark.read.parquet(validDir)
    assert(valid.columns.toSeq == Seq("device_id", "note", "event_time", "region"))
    val row = valid.collect().head
    assert(row.getLong(0) == 9L && row.getString(3) == "eu")
    assert(orch.schemaFetches == 2 && orch.insertAttempts == 2)
    } finally {
      // A successful in-memory drop "fails" with connection-state 08006.
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("live JDBC SINK: batched inserts land in Derby; drift retry survives a server-side DROP COLUMN") {
    // The full S8+S10 loop against a real store: schema discovered over
    // JDBC, rows INSERTed over JDBC in batches, and the drift signal is
    // a REAL statement-compile failure (the projected `region` column
    // is dropped server-side before the first insert), so the
    // orchestrator's re-resolve must read the post-ALTER schema from
    // the database and the retry insert must succeed against it.
    val db = s"graftsink${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db;create=true"
    val setup = java.sql.DriverManager.getConnection(url)
    try setup.createStatement().execute(
      "CREATE TABLE sink_live (device_id BIGINT, note VARCHAR(64), " +
        "event_time TIMESTAMP, region VARCHAR(32), db_insert_time TIMESTAMP)")
    finally setup.close()
    try {
      val live = SchemaProvider.fromJdbc(url, "sink_live")
      assert(live.structType().fieldNames.toSeq ==
        Seq("device_id", "note", "event_time", "region"))

      // batchSize 3 over 10 rows → multiple executeBatch flushes per
      // partition path, plus the tail flush.
      val jdbc = new graft.io.JdbcRowSink(url, "sink_live", batchSize = 3)
      val sink = new RecordSink {
        private var dropped = false
        def write(df: org.apache.spark.sql.DataFrame): Boolean = {
          if (!dropped) {
            dropped = true
            val c = java.sql.DriverManager.getConnection(url)
            try c.createStatement().execute(
              "ALTER TABLE sink_live DROP COLUMN region RESTRICT")
            finally c.close()
          }
          jdbc.write(df) // 1st call: df still projects region → real SQLException
        }
      }

      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[String]
      val dlqDir = tmp()
      val orch = new BatchOrchestrator(live, cfg, sink, new ParquetDlqSink(dlqDir))
      val payloads = (1 to 10).map(i =>
        s"""{"device_id": $i, "note": "n$i", "region": "eu", "event_time": "2024-05-01 10:00:0$i"}""") :+
        """{"note": "missing required"}"""
      mem.addData(payloads: _*)
      val q = StreamJob.start(
        mem.toDF().withColumnRenamed("value", graft.pipeline.Pipeline.ValueCol),
        orch, tmp(), Trigger.AvailableNow())
      q.processAllAvailable()
      q.stop()

      assert(orch.schemaFetches == 2 && orch.insertAttempts == 2)
      // the retry wrote through the post-ALTER 3-column schema
      val check = java.sql.DriverManager.getConnection(url)
      try {
        val rs = check.createStatement().executeQuery(
          "SELECT device_id, note FROM sink_live ORDER BY device_id")
        val got = Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2))).toSeq
        assert(got == (1 to 10).map(i => (i.toLong, s"n$i")))
      } finally check.close()
      assert(spark.read.parquet(dlqDir).count() == 1) // the invalid row
    } finally {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("exactly-once JDBC sink: the ledger transaction makes redelivered epochs no-ops in the database") {
    // JdbcRowSink's at-least-once contract upgraded transactionally:
    // the (batch, partition) ledger claim commits atomically WITH the
    // data rows, so the at-least-once redelivery window (crash between
    // sink write and checkpoint commit) cannot double-land a partition.
    val db = s"graftexact${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db;create=true"
    val setup = java.sql.DriverManager.getConnection(url)
    try setup.createStatement().execute(
      "CREATE TABLE sink_x (device_id BIGINT, note VARCHAR(64), event_time TIMESTAMP)")
    finally setup.close()
    try {
      graft.io.IdempotentJdbcSink.ensureLedger(url, "sink_ledger")
      graft.io.IdempotentJdbcSink.ensureLedger(url, "sink_ledger") // idempotent
      val sink = new graft.io.IdempotentJdbcSink(url, "sink_x", "sink_ledger", batchSize = 3)
      val orch = new BatchOrchestrator(provider, cfg, sink, new ParquetDlqSink(tmp()))
      import spark.implicits._
      val raw = (1 to 8).map(i =>
          s"""{"device_id": $i, "note": "n$i", "event_time": "2024-05-01 10:00:0$i"}""")
        .toDF(graft.pipeline.Pipeline.ValueCol)
        .repartition(3) // multiple partitions → multiple ledger claims per epoch
      orch.processBatch(raw, 0L)
      orch.processBatch(raw, 0L) // at-least-once redelivery of epoch 0
      orch.processBatch(raw, 1L) // a genuinely new epoch must append
      val check = java.sql.DriverManager.getConnection(url)
      try {
        val rs = check.createStatement().executeQuery(
          "SELECT device_id, count(*) FROM sink_x GROUP BY device_id ORDER BY device_id")
        val got = Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getLong(1), r.getLong(2))).toSeq
        // every device exactly twice: epochs 0 and 1, never the redelivery
        assert(got == (1 to 8).map(i => (i.toLong, 2L)),
          s"redelivered epoch must not duplicate: $got")
        val lr = check.createStatement().executeQuery(
          "SELECT batch_id, count(*) FROM sink_ledger GROUP BY batch_id ORDER BY batch_id")
        val ledger = Iterator.continually(lr)
          .takeWhile(_.next()).map(r => (r.getLong(1), r.getLong(2))).toMap
        assert(ledger.keySet == Set(0L, 1L) && ledger.values.forall(_ >= 1),
          s"one claim set per epoch: $ledger")
      } finally check.close()
    } finally {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("second failure: still-valid rows land in DLQ as {row, error} envelopes") {
    val validDir = tmp(); val dlqDir = tmp()
    val alwaysFails = new FlakySink(new ParquetSink(validDir), failures = 99)
    val valid = Seq(
      """{"device_id": 5, "note": "doomed"}""",
      """{"device_id": 6}""",
      """{"device_id": 7, "event_time": "2024-05-01 10:00:00", "note": " spaced "}""")
    runStream(
      valid ++ Seq("""{"note": "missing required"}""", "{junk", " \t "),
      alwaysFails, new ParquetDlqSink(dlqDir))
    assert(!Files.exists(java.nio.file.Paths.get(validDir, "_SUCCESS")))
    val dlq = spark.read.parquet(dlqDir).collect()
    assert(dlq.length == 5, "3 still-valid + 2 invalid; the blank payload is dropped")
    // The envelopes carry the original payloads, byte for byte.
    val doomed = dlq.filter(_.getString(1).contains("simulated insert failure"))
    assert(doomed.length == 3)
    assert(doomed.map(_.getString(0)).sorted.toSeq == valid.sorted)
    assert(dlq.map(_.getString(1)).count(_ == "malformed JSON") == 1)
    assert(dlq.map(_.getString(1)).count(_ == "data must contain ['device_id'] properties") == 1)
  }

  test("idempotent sink: a redelivered batch is a no-op (exactly-once output)") {
    import spark.implicits._
    val dir = tmp()
    val sink = new graft.io.IdempotentParquetSink(dir)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    sink.write(df, 7L)
    sink.write(df, 7L) // redelivery: crash fell between sink write and checkpoint commit
    assert(graft.io.IdempotentParquetSink.readCommitted(spark, dir).count() == 2)
    sink.write(Seq((3L, "c")).toDF("id", "v"), 8L)
    assert(graft.io.IdempotentParquetSink.readCommitted(spark, dir).count() == 3)
  }

  test("idempotent sink: an uncommitted partial write is invisible and overwritten on retry") {
    import spark.implicits._
    val dir = tmp()
    val sink = new graft.io.IdempotentParquetSink(dir)
    // simulate crash mid-write: batch dir with data but no marker
    Seq((9L, "stale"), (10L, "stale")).toDF("id", "v").write.parquet(s"$dir/batch=3")
    assert(graft.io.IdempotentParquetSink.readCommitted(spark, dir).count() == 0)
    sink.write(Seq((9L, "fresh")).toDF("id", "v"), 3L)
    val rows = graft.io.IdempotentParquetSink.readCommitted(spark, dir).collect()
    assert(rows.length == 1 && rows(0).getString(1) == "fresh")
  }

  test("observe telemetry: per-batch valid/DLQ counts ride the sink writes (no extra pass)") {
    import spark.implicits._
    val validDir = tmp(); val dlqDir = tmp()
    var seen = List.empty[graft.pipeline.BatchStats]
    val orch = new BatchOrchestrator(provider, cfg,
      new ParquetSink(validDir), new ParquetDlqSink(dlqDir),
      onBatchComplete = s => seen ::= s)
    val raw = Seq(
      """{"device_id": 7, "note": "a"}""",
      """{"device_id": 8, "note": "b"}""",
      """{"note": "missing required"}""",
      "{broken").toDF(graft.pipeline.Pipeline.ValueCol)
    orch.processBatch(raw, 5L)
    val s = orch.lastStats.get
    assert(seen == List(s))
    assert(s.batchId == 5L && !s.retried)
    assert(s.validRows.contains(2L), s"valid count: ${s.validRows}")
    assert(s.dlqRows.contains(2L), s"dlq count: ${s.dlqRows}")
    // the observed counts agree with what actually landed on disk
    assert(spark.read.parquet(validDir).count() == 2)
    assert(spark.read.parquet(dlqDir).count() == 2)
  }

  test("observe telemetry: a multi-partition 5k-row batch reports the FULL count") {
    // Regression: sinks used to probe emptiness with df.isEmpty — a
    // Dataset action whose limit-1 scan LATCHED the Observation first,
    // capping every reported batch count at 1 row (invisible to the
    // tiny-batch tests above; found by IngestBench's 25k batches).
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val validDir = tmp(); val dlqDir = tmp()
    val orch = new BatchOrchestrator(provider, cfg,
      new ParquetSink(validDir), new ParquetDlqSink(dlqDir),
      onBatchComplete = _ => ())
    val raw = spark.range(0, 5000, 1, 8)
      .select(concat(lit("""{"device_id": """), col("id"), lit(""", "note": "x"}"""))
        .as(graft.pipeline.Pipeline.ValueCol))
    orch.processBatch(raw, 0L)
    val s = orch.lastStats.get
    assert(s.validRows.contains(5000L),
      s"observed count must be the written rows, not an emptiness probe's: ${s.validRows}")
    assert(s.dlqRows.isEmpty, s"empty DLQ batch skips its write -> None: ${s.dlqRows}")
    assert(spark.read.parquet(validDir).count() == 5000L)
  }

  test("observe telemetry: drift retry is flagged; a skipped idempotent rewrite reports None") {
    import spark.implicits._
    val validDir = tmp(); val dlqDir = tmp()
    val flaky = new FlakySink(new ParquetSink(validDir), failures = 1)
    val orchRetry = new BatchOrchestrator(provider, cfg, flaky,
      new ParquetDlqSink(dlqDir), onBatchComplete = _ => ())
    val raw = Seq("""{"device_id": 7, "note": "a"}""")
      .toDF(graft.pipeline.Pipeline.ValueCol)
    orchRetry.processBatch(raw, 0L)
    assert(orchRetry.lastStats.get.retried)
    assert(orchRetry.lastStats.get.validRows.contains(1L))

    // Redelivered epoch under the idempotent sink: the write is a
    // no-op, no job runs, and the count must be None — NOT zero.
    val idemDir = tmp()
    val orchIdem = new BatchOrchestrator(provider, cfg,
      new graft.io.IdempotentParquetSink(idemDir),
      new ParquetDlqSink(tmp()), onBatchComplete = _ => ())
    orchIdem.processBatch(raw, 3L)
    assert(orchIdem.lastStats.get.validRows.contains(1L))
    orchIdem.processBatch(raw, 3L)
    assert(orchIdem.lastStats.get.validRows.isEmpty,
      s"skipped write must report None: ${orchIdem.lastStats}")
  }

  test("idempotent sink through the orchestrator: reprocessed batch does not duplicate") {
    import spark.implicits._
    val validDir = tmp(); val dlqDir = tmp()
    val orch = new BatchOrchestrator(provider, cfg,
      new graft.io.IdempotentParquetSink(validDir), new ParquetDlqSink(dlqDir))
    val raw = Seq("""{"device_id": 7, "note": "a"}""")
      .toDF(graft.pipeline.Pipeline.ValueCol)
    orch.processBatch(raw, 0L)
    orch.processBatch(raw, 0L) // at-least-once redelivery of the same epoch
    assert(graft.io.IdempotentParquetSink.readCommitted(spark, validDir).count() == 1)
  }

  test("idempotent sink end-to-end: StreamJob epochs land once each, readable only when committed") {
    val validDir = tmp(); val dlqDir = tmp()
    runStream(
      Seq(
        """{"device_id": 1, "note": "a"}""",
        """{"device_id": 2, "note": "b"}"""),
      new graft.io.IdempotentParquetSink(validDir), new ParquetDlqSink(dlqDir))
    val out = graft.io.IdempotentParquetSink.readCommitted(spark, validDir)
    assert(out.count() == 2)
    assert(out.select("device_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("FileJsonSource: payload files stream through the full pipeline (S1 file impl)") {
    import graft.io.FileJsonSource
    val inDir = tmp(); val validDir = tmp(); val dlqDir = tmp()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "batch1.jsonl"),
      """{"device_id": 11, "note": "from-file"}
        |{"bad": "row"}
        |""".stripMargin)
    val orch = new BatchOrchestrator(provider, cfg,
      new ParquetSink(validDir), new ParquetDlqSink(dlqDir))
    val q = StreamJob.start(
      new FileJsonSource(inDir).load(spark), orch, tmp(), Trigger.AvailableNow())
    q.processAllAvailable()
    q.stop()
    val valid = spark.read.parquet(validDir).collect()
    assert(valid.length == 1 && valid(0).getLong(0) == 11L
      && valid(0).getString(1) == "from-file")
    assert(spark.read.parquet(dlqDir).count() == 1)
  }

  test("checkpoint restart: a resumed query processes only NEW files, no reprocessing (S11)") {
    import graft.io.FileJsonSource
    val inDir = tmp(); val validDir = tmp(); val dlqDir = tmp()
    val checkpoint = tmp()
    def orch() = new BatchOrchestrator(provider, cfg,
      new ParquetSink(validDir), new ParquetDlqSink(dlqDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "b1.jsonl"),
      """{"device_id": 1, "note": "first"}""" + "\n")
    val q1 = StreamJob.start(
      new FileJsonSource(inDir).load(spark), orch(), checkpoint, Trigger.AvailableNow())
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(validDir).count() == 1)

    // New file after shutdown; SAME checkpoint → WAL replays offsets,
    // batch 0 must not re-run (the reference's commit-after-process
    // contract, main.py:525-526, upgraded to exactly-once by the WAL).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "b2.jsonl"),
      """{"device_id": 2, "note": "second"}""" + "\n")
    val q2 = StreamJob.start(
      new FileJsonSource(inDir).load(spark), orch(), checkpoint, Trigger.AvailableNow())
    q2.processAllAvailable(); q2.stop()

    val rows = spark.read.parquet(validDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "first"), (2L, "second")),
      s"restart must process exactly the new file once: ${rows.toSeq}")
  }

  test("batch/stream parity: same input through streaming equals batch-mode output") {
    import spark.implicits._
    val payloads = Seq(
      """{"device_id": 1, "note": "p", "event_time": "2024-01-01 00:00:01"}""",
      """{"device_id": 2, "event_time": ""}""",
      """{"device_id": 3, "note": "q"}""")
    val validDir = tmp(); val dlqDir = tmp()
    runStream(payloads, new ParquetSink(validDir), new ParquetDlqSink(dlqDir))
    val streamed = spark.read.parquet(validDir).collect().map(_.toString).sorted
    val batchRes = graft.pipeline.Pipeline.process(
      payloads.toDF(graft.pipeline.Pipeline.ValueCol),
      provider.resolveFiltered(), cfg)
    val batch = batchRes.valid.collect().map(_.toString).sorted
    batchRes.release()
    assert(streamed.toSeq == batch.toSeq)
  }
}
