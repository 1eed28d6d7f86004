package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sink.{ConnectionFactory, PostgresUpsertSink, UpsertSqlGen}

class PostgresUpsertSinkSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** The sink's statement for (k, v) rows keyed on k. */
  private val kv = UpsertSqlGen.statement(Seq("k", "v"), "t", Seq("k"))

  private def run(
      id: String,
      rows: Seq[(Long, String)],
      badKeys: Set[Long],
      batchSize: Int = 10,
      parallelism: Int = 2) = {
    val factory = new FakeConnectionFactory(id, badKeys)
    val df = rows.toDF("k", "v")
    PostgresUpsertSink.upsert(
      df, "t", Some(Seq("k")), factory, batchSize = batchSize, parallelism = parallelism)
  }

  test("happy path: all rows land, batched, stats correct") {
    val stats = run("happy", (1L to 95L).map(i => (i, s"v$i")), Set.empty)
    assert(stats.loaded == 95 && stats.rejected == 0 && stats.errors.isEmpty)
    val landed = FakeSinkState.committed("happy").map(_.head.asInstanceOf[Long]).sorted
    assert(landed == (1L to 95L))
  }

  test("bad rows isolated by binary split; good rows still land") {
    val bad = Set(7L, 23L, 24L, 60L)
    val stats = run("split", (1L to 100L).map(i => (i, s"v$i")), bad, batchSize = 25)
    assert(stats.rejected == 4)
    assert(stats.loaded == 96)
    assert(stats.errors.size == 4)
    val landed = FakeSinkState.committed("split").map(_.head.asInstanceOf[Long]).toSet
    assert(landed == (1L to 100L).toSet -- bad)
  }

  test("empty partitions never open a connection (lazy acquisition)") {
    val factory = new FakeConnectionFactory("lazy", Set.empty)
    val df = Seq((1L, "a")).toDF("k", "v")
    // parallelism 4 with hash partitioning → ≥3 empty partitions
    val stats = PostgresUpsertSink.upsert(
      df, "t", Some(Seq("k")), factory, batchSize = 10, parallelism = 4, partitionCols = Seq("k"))
    assert(stats.loaded == 1)
    assert(FakeSinkState.connectionCount("lazy") == 1)
  }

  test("poison partition circuit-breaks after a fully-rejected batch") {
    // Every row fails → first batch fully rejects → partition aborts without
    // consuming the rest (reference psycopg2_database_helper.py:168-169).
    val stats = run("poison", (1L to 100L).map(i => (i, "x")), (1L to 100L).toSet,
      batchSize = 10, parallelism = 1)
    assert(stats.rejected == 10) // exactly one batch consumed
    assert(FakeSinkState.committed("poison").isEmpty)
  }

  test("error messages cap at maxErrors; rejects still fully counted") {
    // 143 bad rows spread so no batch fully rejects (poison breaker stays
    // cold): the reject COUNT must stay exact while the message list caps
    // at the sink's 100 plus one suppression summary — the stats collect
    // to the driver stays bounded on a systematically bad feed.
    val bad: Set[Long] = (1L to 286L).filter(_ % 2 == 1).toSet
    val factory = new FakeConnectionFactory("cap", bad)
    val rows = (1L to 286L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    val stats = PostgresUpsertSink.writePartition(
      rows.iterator, kv, factory, batchSize = 10, maxRejects = None)
    assert(stats.loaded == 143 && stats.rejected == 143)
    assert(stats.errors.size == 101)
    assert(stats.errors.last ==
      "(43 further error messages suppressed by maxErrors=100)")
  }

  test("property: every good row lands exactly once, every bad row rejected once") {
    val rng = new scala.util.Random(42) // deterministic
    for (_ <- 1 to 200) {
      val n = 1 + rng.nextInt(120)
      val bad: Set[Long] = (1L to n.toLong).filter(_ => rng.nextDouble() < 0.15).toSet
      val conn = new FakeSinkConnection("", r => bad(r.head.asInstanceOf[Long]))
      val (rejected, errors) = PostgresUpsertSink.executeIsolated(
        conn, "sql", (1L to n.toLong).map(i => Seq[Any](i, s"v$i")))
      conn.commit()
      assert(rejected == bad.size)
      assert(errors.size == bad.size)
      val landed = conn.committed.map(_.head.asInstanceOf[Long])
      assert(landed.toSet == (1L to n.toLong).toSet -- bad)
      assert(landed.size == landed.toSet.size, "each good row lands exactly once")
    }
  }

  test("split cost is bounded: one bad row in batch of 64 costs ≤ 2·log₂(64) extra calls") {
    val conn = new FakeSinkConnection("", r => r.head == 13L)
    val (rejected, _) = PostgresUpsertSink.executeIsolated(
      conn, "sql", (1L to 64L).map(i => Seq[Any](i)))
    assert(rejected == 1)
    // 1 initial + at most 2 per split level (log2(64)=6) → ≤ 13
    assert(conn.batchCalls <= 13, s"batchCalls=${conn.batchCalls}")
  }

  test("shuffle barrier keeps upstream task count independent of sink parallelism") {
    import org.apache.spark.TaskContext
    val acc = spark.sparkContext.collectionAccumulator[Long]("tids_barrier")
    val base = spark.createDataset(1L to 200L)
      .repartition(8) // a genuinely 8-wide upstream stage
      .mapPartitions { it => acc.add(TaskContext.get().taskAttemptId()); it }
      .map(i => (i, s"v$i")).toDF("k", "v")
    val factory = new FakeConnectionFactory("barrier", Set.empty)
    val stats = PostgresUpsertSink.upsert(base, "t", Some(Seq("k")), factory,
      batchSize = 50, parallelism = 1)
    assert(stats.loaded == 200)
    // repartition(1) is a shuffle barrier: the 8-task upstream stage still
    // runs 8-wide even though only 1 connection writes (the reference's
    // coalesce(1) would collapse it to 1 task).
    assert(acc.value.toArray.distinct.length == 8)
  }

  test("connection dying once mid-partition: reconnect resumes with zero spurious rejects") {
    // Connection #1 serves three executeBatch calls, then the socket "drops"
    // at the start of call #4 (uncommitted — the in-flight batch is lost with
    // the transaction). The sink must reconnect once and re-run that batch;
    // every row lands exactly once, nothing is rejected.
    class DieOnceConnection(id: String) extends FakeSinkConnection(id, _ => false) {
      private var calls = 0
      override def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = {
        calls += 1
        if (calls == 4 && !FlakyState.died(id)) {
          FlakyState.markDied(id)
          throw new graft.sink.SinkConnectionLostException("connection reset by peer")
        }
        super.executeBatch(sql, batch)
      }
    }
    val id = "die_once"
    FakeSinkState.init(id); FlakyState.init(id)
    val factory = new graft.sink.ConnectionFactory {
      def connect() = { FakeSinkState.countConnection(id); new DieOnceConnection(id) }
    }
    val rows = (1L to 100L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    val stats = graft.sink.PostgresUpsertSink.writePartition(
      rows.iterator, kv, factory, batchSize = 10, maxRejects = None)
    assert(stats.loaded == 100 && stats.rejected == 0 && stats.errors.isEmpty)
    val landed = FakeSinkState.committed(id).map(_.head.asInstanceOf[Long]).sorted
    assert(landed == (1L to 100L), "every row exactly once despite the drop")
    assert(FakeSinkState.connectionCount(id) == 2, "exactly one reconnect")
  }

  test("connection lost during commit (in doubt): keyed re-run stays exactly-once") {
    // The drop strikes AFTER the commit applied — the worst case: the retry
    // re-runs a batch that already landed. With the keyed upsert executed by
    // the parsing fake, the re-run is idempotent and final state matches the
    // single-application expectation.
    class CommitDropConnection(id: String) extends KeyedUpsertFakeConnection(id, _ => false) {
      override def commit(): Unit = {
        super.commit() // durable...
        if (!FlakyState.died(id)) { // ...but the ack never arrives, once
          FlakyState.markDied(id)
          throw new graft.sink.SinkConnectionLostException("broken pipe during commit")
        }
      }
    }
    val id = "commit_drop"
    KeyedSinkState.init(id); FlakyState.init(id)
    val factory = new graft.sink.ConnectionFactory {
      def connect() = new CommitDropConnection(id)
    }
    val rows = (1L to 30L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    val stats = graft.sink.PostgresUpsertSink.writePartition(
      rows.iterator, kv, factory, batchSize = 10, maxRejects = None)
    assert(stats.loaded == 30 && stats.rejected == 0)
    assert(KeyedSinkState.rows(id).map(_.head.asInstanceOf[Long]).sorted == (1L to 30L),
      "idempotent upsert: the in-doubt batch lands exactly once")
  }

  test("reconnect budget exhausted: the connection loss propagates (task retry territory)") {
    class AlwaysDeadConnection extends FakeSinkConnection("", _ => false) {
      override def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit =
        throw new graft.sink.SinkConnectionLostException("network partition")
    }
    val factory = new graft.sink.ConnectionFactory {
      def connect() = new AlwaysDeadConnection
    }
    val rows = (1L to 10L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    intercept[graft.sink.SinkConnectionLostException] {
      graft.sink.PostgresUpsertSink.writePartition(
        rows.iterator, kv, factory, batchSize = 10, maxRejects = None)
    }
  }

  test("constraint violations still binary-split after a reconnect consumed the budget") {
    // A drop on call #2 eats the reconnect budget; a genuinely bad row later
    // in the feed must STILL be isolated by the split machinery, proving the
    // retry path and the reject path stay orthogonal.
    class DieOnceThenStrict(id: String) extends FakeSinkConnection(id, r => r.head == 17L) {
      private var calls = 0
      override def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = {
        calls += 1
        if (calls == 2 && !FlakyState.died(id)) {
          FlakyState.markDied(id)
          throw new graft.sink.SinkConnectionLostException("connection reset")
        }
        super.executeBatch(sql, batch)
      }
    }
    val id = "die_then_reject"
    FakeSinkState.init(id); FlakyState.init(id)
    val factory = new graft.sink.ConnectionFactory {
      def connect() = new DieOnceThenStrict(id)
    }
    val rows = (1L to 40L).map(i => org.apache.spark.sql.Row(i, s"v$i"))
    val stats = graft.sink.PostgresUpsertSink.writePartition(
      rows.iterator, kv, factory, batchSize = 10, maxRejects = None)
    assert(stats.rejected == 1 && stats.loaded == 39)
    val landed = FakeSinkState.committed(id).map(_.head.asInstanceOf[Long]).toSet
    assert(landed == (1L to 40L).toSet - 17L)
  }

  /** One partition written in arrival order through `conn`. */
  private def writeVia(conn: graft.sink.SinkConnection, rows: Seq[org.apache.spark.sql.Row],
      stmt: UpsertSqlGen.Statement, batchSize: Int) =
    PostgresUpsertSink.writePartition(rows.iterator, stmt,
      new ConnectionFactory { def connect() = conn }, batchSize, maxRejects = None)

  test("multi-row shape: a clean 1000-row batch is one call holding one statement") {
    val conn = new FakeSinkConnection("", _ => false)
    val stats = writeVia(conn, (1L to 1000L).map(i => org.apache.spark.sql.Row(i, s"v$i")),
      kv, batchSize = 1000)
    assert(stats.loaded == 1000 && stats.rejected == 0)
    assert(conn.batchCalls == 1 && conn.statementRows == Seq(1000))
    assert(conn.rollbacks == 0)
    assert(conn.committed.map(_.head) == (1L to 1000L))
  }

  test("multi-row shape: one repeated key cuts the batch into two statements, no rollback") {
    // Row 71 repeats key 40: Postgres would refuse one DO UPDATE statement
    // holding both (SQLSTATE 21000), and so does the keyed fake.
    val id = "cut_once"
    KeyedSinkState.init(id)
    val conn = new KeyedUpsertFakeConnection(id, _ => false)
    val rows = (1L to 100L).map { i =>
      if (i == 71L) org.apache.spark.sql.Row(40L, "late") else org.apache.spark.sql.Row(i, s"v$i")
    }
    val stats = writeVia(conn, rows, kv, batchSize = 1000)
    assert(stats.loaded == 100 && stats.rejected == 0)
    assert(conn.batchCalls == 2 && conn.statementRows == Seq(70, 30))
    assert(conn.rollbacks == 0)
    val byKey = KeyedSinkState.rows(id).map(r => r(0) -> r(1)).toMap
    assert(byKey.size == 99 && byKey(40L) == "late", "the later row wins")
  }

  test("multi-row shape: statements stay within 32767 bind parameters") {
    val cols = (0 until 40).map(i => s"c$i")
    val stmt = UpsertSqlGen.statement(cols, "t", Seq("c0"))
    val conn = new FakeSinkConnection("", _ => false)
    val rows = (1L to 1000L).map(i => org.apache.spark.sql.Row.fromSeq(i +: Seq.fill(39)(0L)))
    val stats = writeVia(conn, rows, stmt, batchSize = 1000)
    assert(stats.loaded == 1000)
    assert(conn.statementRows == Seq(819, 181), "32767 / 40 = 819 rows at most")
    assert(stmt.sql(819).count(_ == '?') == 819 * 40)
    assert(conn.committed.map(_.head) == (1L to 1000L))
  }

  test("multi-row shape: a bad row splits over rows, with the cut applied to each half") {
    // Key 3 repeats inside the first half; key 13 is bad. The split must
    // reject exactly row 13, land everything else once, and never send a
    // statement that repeats a key.
    val id = "cut_split"
    KeyedSinkState.init(id)
    val conn = new KeyedUpsertFakeConnection(id, r => r.head == 13L)
    val rows = (1L to 16L).map { i =>
      if (i == 6L) org.apache.spark.sql.Row(3L, "late") else org.apache.spark.sql.Row(i, s"v$i")
    }
    val stats = writeVia(conn, rows, kv, batchSize = 16)
    assert(stats.loaded == 15 && stats.rejected == 1)
    assert(stats.errors.size == 1 && stats.errors.head.contains("constraint violation"))
    val byKey = KeyedSinkState.rows(id).map(r => r(0) -> r(1)).toMap
    assert(byKey.keySet == (1L to 16L).toSet - 6L - 13L)
    assert(byKey(3L) == "late")
  }

  test("insert-only mode (no unique key) uses plain INSERT") {
    val factory = new FakeConnectionFactory("insertonly", Set.empty)
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val stats = PostgresUpsertSink.upsert(df, "t", None, factory, batchSize = 10, parallelism = 1)
    assert(stats.loaded == 2 && stats.rejected == 0)
    assert(FakeSinkState.committed("insertonly").size == 2)
  }
}
