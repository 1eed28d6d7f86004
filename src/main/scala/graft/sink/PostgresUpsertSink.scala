package graft.sink

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-partition write statistics, one row per Spark partition; summed on the
  * driver (reference O14, `/root/reference/psycopg2_database_helper.py:337-357`).
  */
final case class PartitionStats(loaded: Long, rejected: Long, errors: Seq[String])

final case class LoadStats(loaded: Long, rejected: Long, errors: Seq[String]) {
  def report: String =
    s"Total rows loaded: $loaded\nTotal rows rejected: $rejected" +
      (if (errors.isEmpty) "" else errors.mkString("\n", "\n", ""))
}

/** Distributed, fault-tolerant batched upsert sink — the reference's flagship
  * operator (O10–O14) re-expressed on `Dataset.mapPartitions`:
  *
  *  - partitioning policy: `partitionCols` set → hash-`repartition` so rows
  *    sharing an upsert key land on one connection (avoids cross-connection
  *    conflict/deadlock on the same key); otherwise a round-robin
  *    `repartition(parallelism)` — a shuffle barrier, so capping connections
  *    does NOT narrow the upstream scan/conform stage the way the
  *    reference's `coalesce` does
  *    (`/root/reference/psycopg2_database_helper.py:321-325`): `coalesce(1)`
  *    there collapses the whole pipeline to one task.
  *  - one lazily-opened connection per partition
  *    (`/root/reference/psycopg2_database_helper.py:152-154`).
  *  - rows grouped into `batchSize` transactions, committed per batch so an
  *    executor failure loses at most one uncommitted batch
  *    (`/root/reference/psycopg2_database_helper.py:156-169`).
  *  - each batch runs under a savepoint; on failure it is rolled back and
  *    recursively binary-split so bad rows are isolated in O(log batchSize)
  *    extra round trips while good rows still land
  *    (`/root/reference/psycopg2_database_helper.py:11-39,70-120`).
  *  - every savepointed slice goes out as multi-row statements, the shape
  *    psycopg2's `execute_values` pages into (reference
  *    `psycopg2_database_helper.py:89-90`):
  *    `INSERT … VALUES (?, …), (?, …), … ON CONFLICT …`
  *    ([[UpsertSqlGen.Statement]]). The slice is first cut into maximal runs
  *    in which no conflict key repeats, since Postgres refuses a
  *    `DO UPDATE` statement that would touch one row twice (SQLSTATE
  *    21000); cutting instead of dropping earlier duplicates keeps arrival
  *    order and reject semantics exact. Each run is then sent in statements
  *    of at most `min(batchSize, 32767 / columns)` rows, 32767 being the
  *    bind-parameter count every driver accepts. The cut is only an
  *    optimisation: the split still works over rows, so keys Postgres calls
  *    equal and the JVM does not (`char(n)` padding, numeric scale) end in
  *    a failed statement that the split resolves.
  *  - poison-partition circuit breaker: when an entire batch's rows all
  *    reject, the partition aborts instead of grinding through a doomed feed
  *    (`/root/reference/psycopg2_database_helper.py:168-169`), upgraded here
  *    to a configurable `maxRejects` threshold.
  *
  * Scale posture: the driver only ever sees O(#partitions) stats rows — no
  * data is collected. At 1000 executors the binding constraint is the Postgres
  * side (connections = `parallelism`), which is exactly the knob the reference
  * exposes.
  */
object PostgresUpsertSink {

  /** Reconnect-and-resume recoveries per partition (see [[writePartition]]). */
  private val ReconnectAttempts = 1

  /** Error MESSAGES kept per partition; `rejected` still counts every bad
    * row. Uncapped, a systematically bad feed at 10⁵ partitions would ship
    * an unbounded string list through the stats collect to the driver — the
    * one place this sink could re-grow a driver-side data path. The
    * reference caps nothing (psycopg2_database_helper.py:337-357).
    */
  private val MaxErrors = 100

  /** Bind parameters per statement: the Postgres wire protocol counts them
    * in 16 bits and pgjdbc stops at 32767, so every driver accepts this many.
    */
  private val MaxParams = 32767

  def upsert(
      df: DataFrame,
      tableName: String,
      uniqueKey: Option[Seq[String]],
      factory: ConnectionFactory,
      batchSize: Int = 1000,
      parallelism: Int = 1,
      partitionCols: Seq[String] = Nil,
      colsNotForUpdate: Seq[String] = Nil,
      maxRejects: Option[Long] = None): LoadStats = {

    val stmt = UpsertSqlGen.statement(
      df.schema.fieldNames.toIndexedSeq, tableName,
      uniqueKey.getOrElse(Nil), colsNotForUpdate)

    val routed =
      if (partitionCols.nonEmpty) df.repartition(parallelism, partitionCols.map(col): _*)
      else df.repartition(parallelism)

    val stats = routed
      .mapPartitions { rows: Iterator[Row] =>
        Iterator.single(writePartition(rows, stmt, factory, batchSize, maxRejects))
      }(Encoders.product[PartitionStats])
      .collect()

    LoadStats(
      stats.map(_.loaded).sum,
      stats.map(_.rejected).sum,
      stats.flatMap(_.errors).toIndexedSeq)
  }

  /** Body of one executor task. Package-private for direct unit testing.
    *
    * Transient-fault posture: a [[SinkConnectionLostException]] (network
    * drop, server restart) between/within batches triggers up to
    * [[ReconnectAttempts]] reconnect-and-resume recoveries per partition —
    * committed batches are durable by design, and the in-flight batch is
    * re-run in full on the fresh connection. If the loss struck during
    * `commit()` the transaction's fate is in doubt; re-running is still
    * correct because the statement is a keyed upsert (idempotent) or an
    * insert whose duplicate would surface as a constraint reject, never as
    * silent data loss. Statement-level failures are NOT retried here — they
    * flow to [[executeIsolated]]'s binary split as before.
    */
  private[graft] def writePartition(
      rows: Iterator[Row],
      stmt: UpsertSqlGen.Statement,
      factory: ConnectionFactory,
      batchSize: Int,
      maxRejects: Option[Long]): PartitionStats = {
    require(batchSize > 0, "batchSize must be positive")
    var conn: SinkConnection = null
    var seen = 0L
    var rejected = 0L
    var reconnectsLeft = ReconnectAttempts
    var suppressed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    def recordErrors(errs: Seq[String]): Unit = {
      val room = MaxErrors - errors.size
      errors ++= errs.take(room)
      suppressed += math.max(0, errs.size - room)
    }
    val batch = mutable.ArrayBuffer.empty[Seq[Any]]
    var poisoned = false
    val maxRows = math.max(1, math.min(batchSize, MaxParams / stmt.columns))
    // Clean batches all send the batchSize-row text: build it once, and hand
    // the backend the same String so its statement cache hits by reference.
    var lastRows = 0
    var lastSql = ""
    val sql = (rows: Int) => {
      if (rows != lastRows) { lastRows = rows; lastSql = stmt.sql(rows) }
      lastSql
    }

    def flush(): Unit = if (batch.nonEmpty) {
      val inFlight = batch.toIndexedSeq
      def attempt(): (Long, Seq[String]) = {
        val res = executeIsolated(conn, sql, maxRows, stmt.keyIdx, inFlight)
        conn.commit()
        res
      }
      // First-attempt reject counts are discarded on retry — the re-run
      // re-adjudicates the whole batch, so nothing double-counts.
      val (r, errs) =
        try attempt()
        catch {
          case e: SinkConnectionLostException if reconnectsLeft > 0 =>
            reconnectsLeft -= 1
            try conn.close() catch { case NonFatal(_) => () }
            conn = factory.connect()
            attempt()
        }
      rejected += r
      recordErrors(errs)
      // Circuit breaker: an entire batch rejecting (or crossing the caller's
      // reject budget) means the feed is systematically bad for this
      // partition — stop consuming instead of paying the split cost forever.
      if (r == batch.size.toLong || maxRejects.exists(rejected > _)) poisoned = true
      batch.clear()
    }

    try {
      while (rows.hasNext && !poisoned) {
        val row = rows.next()
        if (conn == null) conn = factory.connect() // lazy: empty partitions never connect
        batch += row.toSeq
        seen += 1
        if (batch.size >= batchSize) flush()
      }
      if (!poisoned) flush()
      if (suppressed > 0)
        errors += s"($suppressed further error messages suppressed by maxErrors=$MaxErrors)"
      PartitionStats(seen - rejected, rejected, errors.toIndexedSeq)
    } finally if (conn != null) conn.close()
  }

  /** Savepoint-scoped execution with recursive binary-split isolation: a
    * failing slice of n > 1 rows is rolled back to its savepoint, split in
    * half, and both halves re-queued (LIFO, so isolation stays depth-first
    * and memory stays O(batch)); a failing singleton is counted as one reject
    * with its error message. Good rows always land; each bad row costs at
    * most O(log₂ n) extra round trips.
    *
    * This form sends `sql` once per row, all of a slice's rows in one
    * `executeBatch`: the one-row statement through the same loop as the
    * sink's multi-row one.
    */
  private[graft] def executeIsolated(
      conn: SinkConnection,
      sql: String,
      batch: Seq[Seq[Any]]): (Long, Seq[String]) =
    executeIsolated(conn, _ => sql, 1, IndexedSeq.empty, batch)

  /** As above, each slice sent by [[send]] as statements of at most
    * `maxRows` rows, `sql(k)` being the text for `k` rows.
    */
  private def executeIsolated(
      conn: SinkConnection,
      sql: Int => String,
      maxRows: Int,
      keyIdx: IndexedSeq[Int],
      batch: Seq[Seq[Any]]): (Long, Seq[String]) = {
    var rejected = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    var stack = List(batch.toIndexedSeq)
    var n = 0
    while (stack.nonEmpty) {
      val b = stack.head
      stack = stack.tail
      n += 1
      val sp = s"graft_sp_$n"
      conn.savepoint(sp)
      try {
        send(conn, sql, maxRows, keyIdx, b)
        conn.release(sp)
      } catch {
        // A dead connection is not a bad row: no rollback attempt (the
        // transaction died with the socket), no split — the partition-level
        // reconnect in writePartition re-runs the whole in-flight batch.
        case e: SinkConnectionLostException => throw e
        case NonFatal(e) =>
          conn.rollbackTo(sp)
          if (b.size == 1) {
            rejected += 1
            errors += String.valueOf(e.getMessage)
          } else {
            val half = b.size / 2
            stack = b.take(half) :: b.drop(half) :: stack
          }
      }
    }
    (rejected, errors.toIndexedSeq)
  }

  /** Sends `rows` in order as statements of at most `maxRows` rows, cut
    * wherever the key at `keyIdx` repeats (never, when `keyIdx` is empty).
    * One statement is one `executeBatch` element holding its rows' values
    * flattened; consecutive statements of one size share a call.
    */
  private def send(
      conn: SinkConnection,
      sql: Int => String,
      maxRows: Int,
      keyIdx: IndexedSeq[Int],
      rows: IndexedSeq[Seq[Any]]): Unit = {
    val pieces = mutable.ArrayBuffer.empty[IndexedSeq[Seq[Any]]]
    var start = 0
    def cut(end: Int): Unit = rows.slice(start, end).grouped(maxRows).foreach(pieces += _)
    if (keyIdx.nonEmpty) {
      val seen = mutable.HashSet.empty[Any]
      var i = 0
      while (i < rows.size) {
        val r = rows(i)
        val key = if (keyIdx.size == 1) r(keyIdx(0)) else keyIdx.map(r)
        if (!seen.add(key)) { cut(i); start = i; seen.clear(); seen += key }
        i += 1
      }
    }
    cut(rows.size)
    var i = 0
    while (i < pieces.size) {
      val k = pieces(i).size
      var j = i + 1
      while (j < pieces.size && pieces(j).size == k) j += 1
      conn.executeBatch(sql(k), pieces.slice(i, j).map(_.flatten).toIndexedSeq)
      i = j
    }
  }
}
