package graft.perfbench

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.{FakeConnectionFactory, FakeSinkConnection, FakeSinkState}
import graft.sink.{PostgresUpsertSink, SinkConnection}

/** The benchmark's connection decorators change nothing the sink sees and
  * count exactly what it does.
  */
class CountingConnectionSpec extends AnyFunSuite with BeforeAndAfterEach {

  override def beforeEach(): Unit = SinkMeter.reset()

  private val sql = "INSERT INTO t (k, v) VALUES (?, ?)"
  private def rows(n: Int): Seq[Seq[Any]] = (0 until n).map(i => Seq(i.toLong, s"v$i"))

  /** Runs one batch through the sink's split path and commits it. */
  private def load(conn: SinkConnection, batch: Seq[Seq[Any]]): Long = {
    val (rejected, _) = PostgresUpsertSink.executeIsolated(conn, sql, batch)
    conn.commit()
    rejected
  }

  test("clean batch: rows pass through unchanged and are counted once") {
    val fake = new FakeSinkConnection("", _ => false)
    val batch = rows(8)
    assert(load(new CountingConnection(fake), batch) === 0)
    assert(fake.committed === batch)
    assert(SinkMeter.executeCalls.get === 1)
    assert(SinkMeter.rowsSent.get === 8)
    assert(SinkMeter.rowsRouted.get === 8)
    assert(SinkMeter.rollbacks.get === 0)
    assert(SinkMeter.batches.get === 1)
    assert(SinkMeter.batchConnMs.size === 1)
  }

  test("one bad row: the split's rollbacks and resends are counted exactly") {
    val fake = new FakeSinkConnection("", r => r.head == 5L)
    val batch = rows(8)
    assert(load(new CountingConnection(fake), batch) === 1)
    assert(fake.committed === batch.filterNot(_.head == 5L))
    // 8 fails; 0-3 lands; 4-7 fails; 4-5 fails; 4 lands; 5 fails; 6-7 lands.
    assert(SinkMeter.executeCalls.get === 7)
    assert(SinkMeter.rowsSent.get === 8 + 4 + 4 + 2 + 1 + 1 + 2)
    assert(SinkMeter.rowsRouted.get === 8)
    assert(SinkMeter.rollbacks.get === 4)
    assert(SinkMeter.batches.get === 1)
  }

  test("failures reach the sink as the very exception the backend threw") {
    val boom = new RuntimeException("ERROR: boom")
    val inner = new FakeSinkConnection("", _ => false) {
      override def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = throw boom
    }
    val thrown = intercept[RuntimeException](new CountingConnection(inner).executeBatch(sql, rows(2)))
    assert(thrown eq boom)
    assert(SinkMeter.executeCalls.get === 1)
  }

  test("factory: connections and per-connection rows are counted at close") {
    FakeSinkState.init("counting-factory")
    val f = CountingConnectionFactory(new FakeConnectionFactory("counting-factory", Set.empty))
    val c = f.connect()
    load(c, rows(3))
    load(c, rows(2))
    c.close()
    assert(FakeSinkState.committed("counting-factory").size === 5)
    assert(SinkMeter.connects.get === 1)
    assert(SinkMeter.batches.get === 2)
    assert(SinkMeter.connectionRows === Seq(5L))
  }

  test("chunked writes: at most maxRows per call, stopping at the first failure") {
    FakeSinkState.init("chunked")
    val sizes = Seq.newBuilder[Int]
    val inner = new graft.sink.ConnectionFactory {
      def connect(): SinkConnection = new FakeSinkConnection("chunked", r => r.head == 5L) {
        override def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = {
          sizes += batch.size
          super.executeBatch(sql, batch)
        }
      }
    }
    val c = ChunkedConnectionFactory(inner, maxRows = 4).connect()
    c.executeBatch(sql, rows(3))
    intercept[RuntimeException](c.executeBatch(sql, rows(10)))
    // 3 rows in one write; then 0-3 lands, 4-7 fails on row 5, 8-9 is never sent.
    assert(sizes.result() === Seq(3, 4, 4))
  }
}
