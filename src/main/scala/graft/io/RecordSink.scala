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
    * Returns whether a Spark ACTION ran over `df` — the telemetry
    * contract: the orchestrator attaches `Dataset.observe` metrics to
    * `df`, and the Observation latches onto the FIRST action's counts.
    * A sink must therefore (a) never run a probing Dataset action
    * (like `df.isEmpty`, whose limit-1 scan would latch the
    * observation at 1 row — use [[RecordSink.probeEmpty]], which runs
    * at the RDD level below the listener's sight) and (b) report
    * honestly whether its real action ran, so a skipped write reads as
    * None, never a blocking wait for metrics that will not come.
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

object RecordSink {
  /** Emptiness probe that is INVISIBLE to `Dataset.observe`: runs the
    * physical plan as an RDD take(1) (no SQL-execution listener event,
    * so a pending Observation still latches the real write's counts —
    * `df.isEmpty` here silently capped every observed batch count at
    * the probe's 1 row). The probe's own CollectMetrics accumulators
    * belong to this QueryExecution instance and never mix with the
    * write's.
    */
  private[io] def probeEmpty(df: DataFrame): Boolean =
    df.queryExecution.toRdd.isEmpty()
}

/** Parquet append sink — the harness stand-in for ClickHouse (S8).
  * Empty batches are skipped with no write, matching the reference's
  * empty-batch no-op (main.py:337-339).
  */
final class ParquetSink(path: String) extends RecordSink {
  def write(df: DataFrame): Boolean =
    if (RecordSink.probeEmpty(df)) false
    else { df.write.mode("append").parquet(path); true }
}

/** DLQ sink (S9): persists `{row, error}` envelopes (main.py:358-384). */
final class ParquetDlqSink(path: String) extends RecordSink {
  def write(df: DataFrame): Boolean =
    if (RecordSink.probeEmpty(df)) false
    else { df.write.mode("append").parquet(path); true }
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
    val ran =
      if (RecordSink.probeEmpty(df)) { fs.mkdirs(batchDir(batchId)); false }
      else {
        df.write.mode("overwrite").parquet(batchDir(batchId).toString); true
      }
    fs.create(marker(batchId), true).close() // commit point
    ran
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
    val (u, t, bs) = (url, table, batchSize)
    val cols = df.columns.toSeq
    val insertSql = s"INSERT INTO $t (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val conn = java.sql.DriverManager.getConnection(u)
        try {
          conn.setAutoCommit(false)
          val st = conn.prepareStatement(insertSql)
          var pending = 0
          rows.foreach { r =>
            var i = 0
            while (i < cols.length) { st.setObject(i + 1, r.get(i)); i += 1 }
            st.addBatch()
            pending += 1
            if (pending >= bs) { st.executeBatch(); pending = 0 }
          }
          if (pending > 0) st.executeBatch()
          conn.commit()
        } finally conn.close()
      }
    }
    true // foreachPartition is a Dataset action — metrics rode it
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
  * plan). Behind `BatchOrchestrator`, a batch with fewer partitions
  * than `spark.sql.shuffle.partitions` reaches this sink hash-spread
  * over exactly that many partitions by its payload, so the claims
  * repeat only while that setting does: a restart of one checkpoint
  * under a different `spark.sql.shuffle.partitions` re-keys the
  * claims of a redelivered batch (the `foreachBatch` frame reads the
  * session's current value, not the one the offset log recorded).
  */
final class IdempotentJdbcSink(url: String, table: String,
    ledgerTable: String, batchSize: Int = 25000) extends RecordSink {

  def write(df: DataFrame): Boolean = write(df, -1L)

  override def write(df: DataFrame, batchId: Long): Boolean = {
    val (u, t, lt, bs, bid) = (url, table, ledgerTable, batchSize, batchId)
    val cols = df.columns.toSeq
    val insertSql = s"INSERT INTO $t (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
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
            val st = conn.prepareStatement(insertSql)
            var pending = 0
            rows.foreach { r =>
              var i = 0
              while (i < cols.length) { st.setObject(i + 1, r.get(i)); i += 1 }
              st.addBatch()
              pending += 1
              if (pending >= bs) { st.executeBatch(); pending = 0 }
            }
            if (pending > 0) st.executeBatch()
            conn.commit() // ledger claim + data rows land atomically
          }
        } finally conn.close() // uncommitted work rolls back
      }
    }
    true // foreachPartition is a Dataset action — metrics rode it
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
