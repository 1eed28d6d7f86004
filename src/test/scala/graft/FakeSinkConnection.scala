package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import graft.sink.{ConnectionFactory, SinkConnection}

/** In-memory transactional fake for sink tests (SURVEY.md §7.5 risk 2: no
  * live Postgres in the harness). Rows failing `failOn` raise, emulating a
  * constraint violation; savepoint/rollback semantics are modeled so the
  * binary-split isolation path is genuinely exercised.
  *
  * The factory is serialized into the executor closure (even in local mode
  * each task gets a deserialized copy), so observable state lives in the
  * JVM-global [[FakeSinkState]], keyed per test.
  */
object FakeSinkState {
  private val state = mutable.Map.empty[String, (mutable.ArrayBuffer[Seq[Any]], AtomicInteger)]

  def init(id: String): Unit = synchronized { state(id) = (mutable.ArrayBuffer.empty, new AtomicInteger) }
  def committed(id: String): Seq[Seq[Any]] = synchronized { state(id)._1.toIndexedSeq }
  def connectionCount(id: String): Int = synchronized { state(id)._2.get }

  private[graft] def record(id: String, rows: Seq[Seq[Any]]): Unit =
    synchronized { state(id)._1 ++= rows }
  private[graft] def countConnection(id: String): Unit = synchronized { state(id)._2.incrementAndGet() }
}

/** The transaction model both fakes share. Each `executeBatch` element is
  * one statement; it is split back into rows by the statement's tuple count
  * ([[UpsertSqlParser.tuples]]), so the one-row and the multi-row shape
  * land the same rows. Rows failing `failOn` raise, emulating a constraint
  * violation.
  */
abstract class FakeTransaction(failOn: Seq[Any] => Boolean) extends SinkConnection {
  private var pending = Vector.empty[Seq[Any]] // current transaction
  private var marks = Map.empty[String, Int]   // savepoint name → pending size
  var batchCalls = 0
  var rollbacks = 0
  /** Rows of every statement, in the order they were sent. */
  val statementRows = mutable.ArrayBuffer.empty[Int]

  /** Called with each statement's rows before any of them runs; throws to
    * fail the statement.
    */
  protected def checkStatement(sql: String, rows: Seq[Seq[Any]]): Unit = ()
  /** Receives the rows of each commit, in arrival order. */
  protected def onCommit(rows: Seq[Seq[Any]]): Unit

  def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = {
    batchCalls += 1
    val k = UpsertSqlParser.tuples(sql)
    // Harsh mode: rows before the failing one DO land in the transaction,
    // like a real driver mid-batch failure — only rollback-to-savepoint can
    // undo them. Catches implementations that skip the rollback.
    batch.foreach { element =>
      require(element.size % k == 0, s"${element.size} values for $k tuples")
      val rows = element.grouped(element.size / k).toIndexedSeq
      statementRows += rows.size
      checkStatement(sql, rows)
      rows.foreach { row =>
        if (failOn(row)) throw new RuntimeException(s"constraint violation on $row")
        pending :+= row
      }
    }
  }
  def savepoint(name: String): Unit = marks += name -> pending.size
  def rollbackTo(name: String): Unit = {
    rollbacks += 1
    marks.get(name).foreach(n => pending = pending.take(n))
  }
  def release(name: String): Unit = marks -= name
  def commit(): Unit = {
    onCommit(pending)
    pending = Vector.empty
  }
  def close(): Unit = ()
}

class FakeSinkConnection(id: String, failOn: Seq[Any] => Boolean) extends FakeTransaction(failOn) {
  val committed = mutable.ArrayBuffer.empty[Seq[Any]] // for direct (driver-side) use

  protected def onCommit(rows: Seq[Seq[Any]]): Unit = {
    committed ++= rows
    if (id.nonEmpty) FakeSinkState.record(id, rows)
  }
}

/** `failOnKeys` marks bad rows by their first column value (must be
  * serializable data, not a closure over driver state).
  */
class FakeConnectionFactory(id: String, failOnKeys: Set[Long]) extends ConnectionFactory {
  FakeSinkState.init(id)
  def connect(): SinkConnection = {
    FakeSinkState.countConnection(id)
    new FakeSinkConnection(id, r => failOnKeys(r.head.asInstanceOf[Long]))
  }
}

/** Once-per-test-id "the connection already died" latch for flaky-connection
  * fakes: the death must happen exactly once per scenario even though the
  * reconnect hands out a fresh connection instance.
  */
object FlakyState {
  private val dead = mutable.Set.empty[String]
  def init(id: String): Unit = synchronized { dead -= id }
  def died(id: String): Boolean = synchronized { dead(id) }
  def markDied(id: String): Unit = synchronized { dead += id }
}

/** Parses the exact SQL text [[graft.sink.UpsertSqlGen]] emits, one row or
  * `k` (the VALUES tuple count, [[parseRows]]), so the keyed
  * fake EXECUTES the generated statement rather than re-assuming its
  * semantics: if the codegen put the wrong columns in the conflict target or
  * the SET list, the fake's final table state diverges from the
  * `MergeOps.merge` oracle and the reconciliation spec fails. Malformed SQL
  * fails the parse loudly (MatchError) rather than being silently skipped.
  */
object UpsertSqlParser {
  sealed trait Mode
  case object InsertOnly extends Mode
  case object DoNothing extends Mode
  final case class DoUpdate(updateCols: Vector[String]) extends Mode
  final case class UpsertSpec(
      table: String, columns: Vector[String], key: Vector[String], mode: Mode)

  private val InsertRe = """(?s)INSERT INTO (\S+) \(([^)]*)\) VALUES (.*)""".r
  private val ConflictRe = """ ON CONFLICT \(([^)]*)\)(.*)""".r

  /** Strip the generator's Postgres double-quoting back to the raw name
    * (per dotted part for the table), un-doubling embedded quotes.
    */
  private def unq(ident: String): String =
    if (ident.startsWith("\"") && ident.endsWith("\"") && ident.length >= 2)
      ident.substring(1, ident.length - 1).replace("\"\"", "\"")
    else ident
  private def unqTable(t: String): String = t.split('.').map(unq).mkString(".")

  def parse(sql: String): UpsertSpec = parseRows(sql)._1

  /** Rows one execution of `sql` binds: its VALUES tuple count, or 1 for a
    * text that is no INSERT (tests pass placeholders such as "sql").
    */
  def tuples(sql: String): Int = if (InsertRe.matches(sql)) parseRows(sql)._2 else 1

  /** The spec and the VALUES tuple count; every tuple must have one `?`
    * per column.
    */
  def parseRows(sql: String): (UpsertSpec, Int) = {
    val InsertRe(rawTable, colList, values) = sql: @unchecked
    val table = unqTable(rawTable)
    val columns = colList.split(", ", -1).toVector.map(unq)
    val tuple = Seq.fill(columns.size)("?").mkString("(", ", ", ")")
    assert(values.startsWith(tuple), s"VALUES tuple arity != ${columns.size} in: $sql")
    val next = ", " + tuple
    var rows = 1
    var pos = tuple.length
    while (values.startsWith(next, pos)) { rows += 1; pos += next.length }
    (spec(sql, table, columns, values.substring(pos)), rows)
  }

  private def spec(sql: String, table: String, columns: Vector[String], rest: String): UpsertSpec = {
    if (rest.isEmpty) UpsertSpec(table, columns, Vector.empty, InsertOnly)
    else {
      val ConflictRe(keyList, action) = rest: @unchecked
      val key = keyList.split(", ", -1).toVector.map(unq)
      val mode = action match {
        case " DO NOTHING" => DoNothing
        case upd if upd.startsWith(" DO UPDATE SET ") =>
          val set = upd.stripPrefix(" DO UPDATE SET ")
          val updateCols =
            if (set.startsWith("(")) {
              val Array(lhs, rhs) = set.split(""" = """, 2)
              val cols = lhs.stripPrefix("(").stripSuffix(")").split(", ", -1).toVector
              val excl = rhs.stripPrefix("(").stripSuffix(")").split(", ", -1).toVector
              assert(excl == cols.map("EXCLUDED." + _), s"SET list mismatch in: $sql")
              cols.map(unq)
            } else {
              val Array(lhs, rhs) = set.split(""" = """, 2)
              assert(rhs == s"EXCLUDED.$lhs", s"SET list mismatch in: $sql")
              Vector(unq(lhs))
            }
          DoUpdate(updateCols)
      }
      UpsertSpec(table, columns, key, mode)
    }
  }
}

/** Keyed table state for [[KeyedUpsertFakeConnection]]s — one logical table
  * per test id, shared across connections/partitions like [[FakeSinkState]].
  * Committed transactions are applied row-by-row with Postgres ON CONFLICT
  * semantics: per arrival order, insert when the key is absent, else DO
  * NOTHING / DO UPDATE of exactly the parsed SET columns (key and excluded
  * columns keep their stored values).
  */
object KeyedSinkState {
  import UpsertSqlParser._
  private val tables =
    mutable.Map.empty[String, mutable.LinkedHashMap[Vector[Any], Vector[Any]]]

  def init(id: String): Unit = synchronized { tables(id) = mutable.LinkedHashMap.empty }
  def rows(id: String): Seq[Vector[Any]] = synchronized { tables(id).values.toIndexedSeq }

  private[graft] def applyCommit(
      id: String, spec: UpsertSpec, committed: Seq[Seq[Any]]): Unit = synchronized {
    val table = tables(id)
    val keyIdx = spec.key.map(spec.columns.indexOf)
    require(keyIdx.forall(_ >= 0), s"conflict key ${spec.key} not in ${spec.columns}")
    require(spec.mode != InsertOnly || spec.key.isEmpty)
    committed.foreach { row =>
      if (spec.key.isEmpty) {
        // Plain INSERT: no uniqueness constraint modeled — append-only.
        table(Vector("__row__", table.size)) = row.toVector
      } else {
        val key = keyIdx.map(row(_)).toVector
        (table.get(key), spec.mode) match {
          case (None, _)              => table(key) = row.toVector
          case (Some(_), DoNothing)   => ()
          case (Some(old), DoUpdate(cols)) =>
            val colSet = cols.toSet
            table(key) = spec.columns.indices.iterator.map { i =>
              if (colSet(spec.columns(i))) row(i) else old(i)
            }.toVector
          case (Some(_), InsertOnly) => throw new IllegalStateException("unreachable")
        }
      }
    }
  }
}

/** Transactional fake with KEYED upsert semantics: the same pending/savepoint
  * model as [[FakeSinkConnection]], but `commit()` applies the transaction to
  * a keyed table by executing the parsed upsert SQL per row. This is the
  * closed loop for the sink's flagship output — the ON CONFLICT text is
  * finally executed by an engine (this one) and reconciled against
  * [[graft.operators.MergeOps.merge]].
  *
  * Like Postgres, it refuses a `DO UPDATE` statement that carries one key
  * twice (SQLSTATE 21000), so a sink that does not cut its statements at
  * repeated keys pays rollbacks here as it would against the server.
  */
class KeyedUpsertFakeConnection(id: String, failOn: Seq[Any] => Boolean)
    extends FakeTransaction(failOn) {
  private var spec: Option[UpsertSqlParser.UpsertSpec] = None

  override protected def checkStatement(sql: String, rows: Seq[Seq[Any]]): Unit = {
    val parsed = UpsertSqlParser.parse(sql)
    spec.foreach(s => assert(s == parsed, "one upsert spec per sink run expected"))
    spec = Some(parsed)
    if (parsed.mode.isInstanceOf[UpsertSqlParser.DoUpdate]) {
      val keyIdx = parsed.key.map(parsed.columns.indexOf)
      val keys = rows.map(r => keyIdx.map(r(_)))
      if (keys.distinct.size != keys.size)
        throw new RuntimeException(
          "ERROR: ON CONFLICT DO UPDATE command cannot affect row a second time")
    }
  }
  protected def onCommit(rows: Seq[Seq[Any]]): Unit =
    spec.foreach(s => KeyedSinkState.applyCommit(id, s, rows))
}

class KeyedUpsertFakeFactory(id: String, failOnKeys: Set[Long]) extends ConnectionFactory {
  def connect(): SinkConnection =
    new KeyedUpsertFakeConnection(id, r => failOnKeys(r.head.asInstanceOf[Long]))
}
