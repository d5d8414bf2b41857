package graft.io

import org.apache.spark.sql.DataFrame

/** Sink abstraction (reference S8/S9, main.py:305-384). The reference
  * writes valid rows to ClickHouse via `insert_arrow` with async-insert
  * settings and DLQ envelopes to a second Kafka topic; neither service
  * exists in this environment, so sinks are a trait with parquet
  * implementations for the offline harness. A ClickHouse JDBC sink
  * would implement the same trait with `df.write.jdbc` + the
  * async_insert session settings (main.py:329-335) in the connection
  * properties; a Kafka DLQ sink with
  * `df.select(to_json(struct("*")).as("value")).write.format("kafka")`.
  */
trait RecordSink {
  /** Append one micro-batch. Must be idempotent-friendly: Structured
    * Streaming redelivers the whole batch on retry (at-least-once,
    * main.py:525-526 commit-after-process contract).
    *
    * Returns whether the write ran — the telemetry contract: the
    * orchestrator reports its counted rows only for a write that ran,
    * and a skipped one (a redelivered epoch) as None. The orchestrator
    * has already counted `df` and never hands a sink an empty side, so
    * a sink needs no emptiness probe of its own: a probe would be one
    * more Spark job per write, planning `df` a second time.
    */
  def write(df: DataFrame): Boolean

  /** Batch-aware overload: sinks that key their writes on the epoch id
    * (see [[IdempotentParquetSink]]) override this to make redelivered
    * batches no-ops — upgrading Structured Streaming's at-least-once
    * redelivery to effective exactly-once output. Default ignores the
    * id (plain append, the reference's own contract).
    */
  def write(df: DataFrame, batchId: Long): Boolean = write(df)
}

/** Parquet append sink — the harness stand-in for ClickHouse (S8).
  * Empty batches never reach it: the orchestrator skips them, matching
  * the reference's empty-batch no-op (main.py:337-339).
  */
final class ParquetSink(path: String) extends RecordSink {
  def write(df: DataFrame): Boolean = { df.write.mode("append").parquet(path); true }
}

/** DLQ sink (S9): persists `{row, error}` envelopes (main.py:358-384). */
final class ParquetDlqSink(path: String) extends RecordSink {
  def write(df: DataFrame): Boolean = { df.write.mode("append").parquet(path); true }
}

/** Exactly-once parquet sink: each micro-batch lands in its own
  * `batch=<id>` directory, committed by an atomic `_GRAFT_COMMITTED`
  * marker written AFTER the data. Redelivery of a committed batch
  * (crash between sink write and checkpoint commit — the at-least-once
  * window) is a no-op; a partial write with no marker (crash mid-write)
  * is overwritten cleanly on retry. Readers must use [[readCommitted]],
  * which lists only marked directories.
  *
  * This is the idempotent-sink half of Spark's exactly-once recipe
  * (checkpoint WAL = replayable source offsets; epoch-keyed writes =
  * idempotent sink) and the principled upgrade of the reference's
  * `wait_for_async_insert=1` at-least-once contract (main.py:329-335).
  * The marker protocol is the same shape as Hadoop's `_SUCCESS` /
  * commit-protocol v2 rename and ClickHouse's `insert_deduplication`
  * block hashing: dedup keyed on a deterministic batch identity.
  */
final class IdempotentParquetSink(path: String) extends RecordSink {
  import org.apache.hadoop.fs.{FileSystem, Path}

  private def batchDir(batchId: Long) = new Path(s"$path/batch=$batchId")
  private def marker(batchId: Long) = new Path(batchDir(batchId), "_GRAFT_COMMITTED")

  /** Batches already made durable (visible for tests). */
  def isCommitted(fs: FileSystem, batchId: Long): Boolean = fs.exists(marker(batchId))

  def write(df: DataFrame): Boolean = write(df, -1L)

  override def write(df: DataFrame, batchId: Long): Boolean = {
    val fs = new Path(path).getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    if (isCommitted(fs, batchId)) return false // redelivered → no-op
    // Overwrite clears any uncommitted partial attempt.
    df.write.mode("overwrite").parquet(batchDir(batchId).toString)
    fs.create(marker(batchId), true).close() // commit point
    true
  }
}

object IdempotentParquetSink {
  import org.apache.hadoop.fs.Path

  /** Read the sink's durable output: only batch dirs with markers. */
  def readCommitted(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val root = new Path(path)
    val dirs =
      if (!fs.exists(root)) Array.empty[String]
      else fs.listStatus(root)
        .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "_GRAFT_COMMITTED")))
        .filter(s => fs.listStatus(s.getPath).exists(_.getPath.getName.endsWith(".parquet")))
        .map(_.getPath.toString)
    if (dirs.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(dirs.toIndexedSeq: _*)
  }
}

/** The insert path both JDBC sinks share: one INSERT naming every
  * column, rows bound positionally and flushed every `batchSize`. The
  * caller owns the connection and its transaction.
  */
private object JdbcInsert {
  def sql(table: String, cols: Seq[String]): String =
    s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"

  def batched(conn: java.sql.Connection, sql: String,
      rows: Iterator[org.apache.spark.sql.Row], batchSize: Int): Unit = {
    val st = conn.prepareStatement(sql)
    var pending = 0
    rows.foreach { r =>
      var i = 0
      while (i < r.length) { st.setObject(i + 1, r.get(i)); i += 1 }
      st.addBatch()
      pending += 1
      if (pending >= batchSize) { st.executeBatch(); pending = 0 }
    }
    if (pending > 0) st.executeBatch()
  }
}

/** LIVE JDBC insert sink — S8's executable form (main.py:305-356): the
  * reference pushes each batch into ClickHouse with `insert_arrow` in
  * 25k-row batches; here the same contract runs as per-partition
  * batched `PreparedStatement` inserts over plain JDBC, exercised
  * end-to-end against embedded Derby (the engine already in-process
  * for schema discovery) — a ClickHouse JDBC URL plugs in unchanged,
  * with the async-insert session settings riding the URL
  * (ServiceConfig.clickhouseSinkOptions).
  *
  * Scale/semantics notes:
  *   - executors write in parallel, one connection per partition, rows
  *     batched every `batchSize` (the reference's NUM_MESSAGES cap);
  *     nothing is collected to the driver;
  *   - the column LIST is named explicitly, so a server-side `ALTER`
  *     that drops/renames a projected column fails the insert at
  *     statement compile — exactly the drift signal the orchestrator's
  *     re-resolve path consumes (main.py:434-445; StreamingSpec);
  *   - per-partition transactions make redelivery at-least-once, like
  *     the reference's `wait_for_async_insert=1` contract; pair with
  *     server-side insert dedup or the epoch-keyed sink pattern
  *     (IdempotentParquetSink) where exactly-once is required.
  */
final class JdbcRowSink(url: String, table: String, batchSize: Int = 25000)
    extends RecordSink {
  def write(df: DataFrame): Boolean = {
    // locals only: the task closure must not drag `this` across
    // serialization.
    val (u, bs) = (url, batchSize)
    val insertSql = JdbcInsert.sql(table, df.columns.toSeq)
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val conn = java.sql.DriverManager.getConnection(u)
        try {
          conn.setAutoCommit(false)
          JdbcInsert.batched(conn, insertSql, rows, bs)
          conn.commit()
        } finally conn.close()
      }
    }
    true
  }
}

/** Transactional EXACTLY-ONCE JDBC sink: [[JdbcRowSink]]'s insert path
  * plus a ledger table keyed (batch_id, partition_id) whose claim
  * INSERT rides the SAME transaction as the data rows. A redelivered
  * (batch, partition) — Structured Streaming's at-least-once window:
  * crash between sink write and checkpoint commit, or a task retry —
  * hits the ledger's primary-key violation and skips before any row
  * lands; a partial write that died before commit left NEITHER ledger
  * row nor data (single transaction), so the retry starts clean. This
  * is the standard transactional upgrade of the reference's
  * `wait_for_async_insert=1` at-least-once contract (main.py:329-335)
  * for stores with real transactions; on ClickHouse the equivalent is
  * server-side `insert_deduplication` block hashing.
  *
  * Partition granularity (not whole-batch) keeps the claim
  * executor-local: no driver coordination, each task transacts its own
  * slice, and a partially-delivered batch (some tasks committed, some
  * not) redelivers only the missing partitions. Requires the batch's
  * partitioning to be deterministic across redeliveries — true for
  * Structured Streaming's replayed micro-batches (same offsets, same
  * plan).
  */
final class IdempotentJdbcSink(url: String, table: String,
    ledgerTable: String, batchSize: Int = 25000) extends RecordSink {

  def write(df: DataFrame): Boolean = write(df, -1L)

  override def write(df: DataFrame, batchId: Long): Boolean = {
    val (u, lt, bs, bid) = (url, ledgerTable, batchSize, batchId)
    val insertSql = JdbcInsert.sql(table, df.columns.toSeq)
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val conn = java.sql.DriverManager.getConnection(u)
        try {
          conn.setAutoCommit(false)
          val claimed =
            try {
              val claim = conn.prepareStatement(
                s"INSERT INTO $lt (batch_id, part_id) VALUES (?, ?)")
              claim.setLong(1, bid); claim.setInt(2, pid)
              claim.executeUpdate()
              true
            } catch {
              // SQLState 23505 = unique-constraint violation (SQL
              // standard; Derby, Postgres, H2 all use it): this
              // (batch, partition) already committed — skip silently.
              case e: java.sql.SQLException if e.getSQLState == "23505" =>
                conn.rollback(); false
            }
          if (claimed) {
            JdbcInsert.batched(conn, insertSql, rows, bs)
            conn.commit() // ledger claim + data rows land atomically
          }
        } finally conn.close() // uncommitted work rolls back
      }
    }
    true
  }
}

object IdempotentJdbcSink {
  /** Create the ledger if absent (idempotent; SQLState X0Y32 = Derby
    * "already exists", 42P07 Postgres, 42S01 MySQL/H2).
    */
  def ensureLedger(url: String, ledgerTable: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      try {
        conn.createStatement().executeUpdate(
          s"CREATE TABLE $ledgerTable (batch_id BIGINT NOT NULL, " +
            "part_id INT NOT NULL, PRIMARY KEY (batch_id, part_id))")
      } catch {
        case e: java.sql.SQLException
            if Set("X0Y32", "42P07", "42S01").contains(e.getSQLState) => ()
      }
    } finally conn.close()
  }
}

/** Test double: fails the first `failures` writes (simulating schema
  * drift / sink unavailability, main.py:431-434), then delegates.
  */
final class FlakySink(inner: RecordSink, failures: Int) extends RecordSink {
  private var remaining = failures
  var attempts: Int = 0
  def write(df: DataFrame): Boolean = {
    attempts += 1
    if (remaining > 0) {
      remaining -= 1
      // Force evaluation first — a real sink fails mid-insert, after
      // the plan has run (Table has no columns matching the insert).
      df.count()
      throw new RuntimeException(s"simulated insert failure ($attempts)")
    }
    inner.write(df)
  }
}
