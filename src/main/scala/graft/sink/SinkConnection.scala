package graft.sink

import java.sql.{Connection, DriverManager, PreparedStatement, Savepoint}

/** Raised by backends when the CONNECTION itself is gone (network drop,
  * server restart) rather than a statement-level failure. The distinction
  * drives two different recoveries: statement failures binary-split to
  * isolate bad rows ([[PostgresUpsertSink.executeIsolated]]), connection
  * loss reconnects once and re-runs the in-flight batch
  * ([[PostgresUpsertSink.writePartition]]) — at 1000-executor scale
  * transient drops are the common case, and without the distinction a
  * single drop poisons the whole remaining feed via the reject breaker.
  * The reference has no retry at all
  * (`/root/reference/psycopg2_database_helper.py:152-169`).
  */
class SinkConnectionLostException(message: String, cause: Throwable = null)
  extends RuntimeException(message, cause)

/** Minimal transactional-connection surface the sink needs. Isolating it
  * behind a trait (instead of raw `java.sql.Connection`) keeps the
  * savepoint + binary-split logic unit-testable against an in-memory fake —
  * the harness has no live Postgres (SURVEY.md §7.5 risk 2).
  */
trait SinkConnection extends AutoCloseable {
  /** Execute `sql` once per element of `batch` inside the current
    * transaction. One element binds all of the statement's placeholders in
    * order: one row for a one-row statement, `k` rows' values flattened for
    * the sink's `k`-row statement. Throws on any failure (the whole batch is
    * then considered failed).
    */
  def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit
  def savepoint(name: String): Unit
  def rollbackTo(name: String): Unit
  def release(name: String): Unit
  def commit(): Unit
  def close(): Unit
}

/** Serializable factory shipped inside the executor closure — one connection
  * per partition, opened lazily on the first row (reference
  * `/root/reference/psycopg2_database_helper.py:152-154`).
  */
trait ConnectionFactory extends Serializable {
  def connect(): SinkConnection
}

/** Real JDBC backend. The sink builds the multi-row statements itself (see
  * [[PostgresUpsertSink]]), so no driver flag such as pgjdbc's
  * `reWriteBatchedInserts` is needed for that shape; `properties` pass
  * through to the driver as given.
  */
final case class JdbcConnectionFactory(
    url: String,
    user: String,
    password: String,
    properties: Map[String, String] = Map.empty)
  extends ConnectionFactory {

  def connect(): SinkConnection = new JdbcSinkConnection(rawConnection())

  /** Plain JDBC connection with the same credentials — shared with
    * [[graft.meta.JdbcPgCatalog]] so catalog reads and the sink configure
    * one set of credentials (reference `database_credentials`,
    * `/root/reference/load_postgres_from_spark_df.py:67-70`).
    */
  def rawConnection(): Connection = {
    val props = new java.util.Properties()
    properties.foreach { case (k, v) => props.setProperty(k, v) }
    props.setProperty("user", user)
    props.setProperty("password", password)
    DriverManager.getConnection(url, props)
  }
}

final class JdbcSinkConnection(conn: Connection) extends SinkConnection {
  import java.sql.SQLException
  conn.setAutoCommit(false)
  private var savepoints = Map.empty[String, Savepoint]
  // The most recently used PreparedStatements, one per SQL text: a clean
  // feed sends the same batchSize-row upsert thousands of times per
  // partition, and re-preparing it would re-plan it server-side every round
  // trip. The texts vary with the row count, and the runs of a dirty batch
  // come in many sizes, each statement holding up to 32767 parameters, so
  // beyond MaxStatements the least recently used one is closed.
  private val statements =
    new java.util.LinkedHashMap[String, PreparedStatement](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, PreparedStatement]): Boolean =
        size > JdbcSinkConnection.MaxStatements && {
          try e.getValue.close() catch { case _: Throwable => () }
          true
        }
    }

  private def statementFor(sql: String): PreparedStatement = {
    val cached = statements.get(sql)
    if (cached != null) cached
    else {
      val ps = conn.prepareStatement(sql)
      statements.put(sql, ps)
      ps
    }
  }

  /** SQLState class 08 is the standard "connection exception" family; the
    * transient/non-transient connection subclasses and a closed underlying
    * connection cover drivers that report loss without an 08 state. A
    * statement-level failure (e.g. 23505 unique violation) never matches —
    * it must keep flowing to the binary split.
    */
  private def isConnectionLoss(e: SQLException): Boolean = {
    val st = e.getSQLState
    (st != null && st.startsWith("08")) ||
      e.isInstanceOf[java.sql.SQLNonTransientConnectionException] ||
      e.isInstanceOf[java.sql.SQLTransientConnectionException] ||
      e.isInstanceOf[java.sql.SQLRecoverableException] ||
      (try conn.isClosed catch { case _: Throwable => true })
  }

  private def translating[A](body: => A): A =
    try body catch {
      case e: SQLException if isConnectionLoss(e) =>
        throw new SinkConnectionLostException(String.valueOf(e.getMessage), e)
    }

  def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = translating {
    val ps = statementFor(sql)
    // The statement is shared across batches, so ANY failure — including a
    // setObject/addBatch throw mid-build — must clear partially-added rows,
    // or the binary-split retry would re-execute them alongside its halves.
    try {
      batch.foreach { row =>
        var i = 0
        while (i < row.length) { ps.setObject(i + 1, row(i)); i += 1 }
        ps.addBatch()
      }
      ps.executeBatch()
      ()
    } catch { case e: Throwable =>
      try ps.clearBatch() catch { case _: Throwable => () }
      throw e
    }
  }

  def savepoint(name: String): Unit =
    translating { savepoints += name -> conn.setSavepoint(name) }
  def rollbackTo(name: String): Unit =
    translating { savepoints.get(name).foreach(conn.rollback) }
  def release(name: String): Unit = translating {
    savepoints.get(name).foreach(conn.releaseSavepoint)
    savepoints -= name
  }
  def commit(): Unit = translating { conn.commit() }
  def close(): Unit = {
    statements.values.forEach { ps =>
      try ps.close() catch { case _: Throwable => () }
    }
    conn.close()
  }
}

object JdbcSinkConnection {
  /** Prepared statements kept open per connection. */
  private[graft] val MaxStatements = 4
}
