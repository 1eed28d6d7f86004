package graft.perfbench

import graft.meta.PgCatalog
import graft.sink.{ConnectionFactory, SinkConnection}

/** Forwarding [[ConnectionFactory]] for the traced run: every connection it
  * hands out is a [[CountingConnection]] around `inner`'s.
  */
final case class CountingConnectionFactory(inner: ConnectionFactory) extends ConnectionFactory {
  def connect(): SinkConnection = {
    val t0 = System.nanoTime()
    val c = inner.connect()
    val ns = System.nanoTime() - t0
    SinkMeter.connects.incrementAndGet()
    SinkMeter.connNs.addAndGet(ns)
    new CountingConnection(c)
  }
}

/** Passes every call through to `inner` unchanged (arguments, results and
  * exceptions) and counts it in [[SinkMeter]].
  *
  * A "batch" is everything between two commits: the first `executeBatch`
  * after a commit carries the whole batch as the sink routed it (the split
  * path only ever re-sends parts of it), so its size counts as rows routed
  * and every later resend only as rows sent.
  */
final class CountingConnection(inner: SinkConnection) extends SinkConnection {
  private val openedNs = System.nanoTime()
  private var inCallNs = 0L
  private var batchNs = 0L
  private var batchOpen = false
  private var routed = 0L

  private def timed[A](into: java.util.concurrent.atomic.AtomicLong)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - t0
      inCallNs += ns
      batchNs += ns
      into.addAndGet(ns)
      SinkMeter.connNs.addAndGet(ns)
    }
  }

  def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = {
    if (!batchOpen) {
      batchOpen = true
      routed += batch.size
      SinkMeter.rowsRouted.addAndGet(batch.size)
    }
    SinkMeter.executeCalls.incrementAndGet()
    SinkMeter.rowsSent.addAndGet(batch.size)
    timed(SinkMeter.executeNs)(inner.executeBatch(sql, batch))
  }

  def savepoint(name: String): Unit = timed(SinkMeter.savepointNs)(inner.savepoint(name))

  def rollbackTo(name: String): Unit = {
    SinkMeter.rollbacks.incrementAndGet()
    timed(SinkMeter.savepointNs)(inner.rollbackTo(name))
  }

  def release(name: String): Unit = timed(SinkMeter.savepointNs)(inner.release(name))

  def commit(): Unit = {
    timed(SinkMeter.commitNs)(inner.commit())
    SinkMeter.batches.incrementAndGet()
    SinkMeter.recordBatch(batchNs)
    batchNs = 0L
    batchOpen = false
  }

  def close(): Unit = {
    val lifeNs = System.nanoTime() - openedNs
    SinkMeter.pullNs.addAndGet(lifeNs - inCallNs)
    SinkMeter.recordConnection(routed)
    val t0 = System.nanoTime()
    try inner.close()
    finally SinkMeter.connNs.addAndGet(System.nanoTime() - t0)
  }
}

/** Hands `inner`'s connections at most `maxRows` rows per `executeBatch`.
  *
  * The psql backend writes a whole batch to psql's stdin before it reads
  * the replies. After a failing row, every later statement of the batch
  * echoes an "aborted transaction" error, and a 1000-row batch echoes more
  * than a pipe buffer holds: psql then blocks on its output while the
  * writer blocks on psql's input, and the load hangs. Splitting the write
  * keeps each echo small. The sink sees the same outcome, since the first
  * failing piece throws and the transaction is aborted from there on.
  */
final case class ChunkedConnectionFactory(inner: ConnectionFactory, maxRows: Int)
  extends ConnectionFactory {
  def connect(): SinkConnection = {
    val c = inner.connect()
    new SinkConnection {
      def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit =
        batch.grouped(maxRows).foreach(c.executeBatch(sql, _))
      def savepoint(name: String): Unit = c.savepoint(name)
      def rollbackTo(name: String): Unit = c.rollbackTo(name)
      def release(name: String): Unit = c.release(name)
      def commit(): Unit = c.commit()
      def close(): Unit = c.close()
    }
  }
}

/** Forwarding [[PgCatalog]] that records a `meta.catalog` span per call. */
final class TracedCatalog(inner: PgCatalog) extends PgCatalog {
  def columnTypes(schema: String, table: String) =
    Trace.span("meta.catalog")(inner.columnTypes(schema, table))
  def uniqueKey(schema: String, table: String) =
    Trace.span("meta.catalog")(inner.uniqueKey(schema, table))
}
