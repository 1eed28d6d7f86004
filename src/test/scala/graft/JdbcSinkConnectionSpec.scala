package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.sink.JdbcSinkConnection

/** JdbcSinkConnection statement reuse: the sink sends one SQL text thousands
  * of times per partition — it must be prepared once per connection, not per
  * batch, and closed with the connection.
  */
class JdbcSinkConnectionSpec extends AnyFunSuite {

  private class StubJdbc {
    val prepares = new AtomicInteger
    val addBatches = new AtomicInteger
    val executeBatches = new AtomicInteger
    val stmtCloses = new AtomicInteger
    var connClosed = false

    private def proxy[T](cls: Class[T])(handle: PartialFunction[String, AnyRef]): T =
      cls.cast(Proxy.newProxyInstance(cls.getClassLoader, Array(cls),
        new InvocationHandler {
          def invoke(p: Any, m: Method, a: Array[AnyRef]): AnyRef =
            handle.applyOrElse(m.getName, { (_: String) =>
              m.getReturnType match {
                case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
                case java.lang.Integer.TYPE => Integer.valueOf(0)
                case _                      => null
              }
            })
        }))

    val connection: Connection = proxy(classOf[Connection]) {
      case "prepareStatement" =>
        prepares.incrementAndGet()
        proxy(classOf[PreparedStatement]) {
          case "addBatch"     => addBatches.incrementAndGet(); null
          case "executeBatch" => executeBatches.incrementAndGet(); Array.empty[Int]
          case "close"        => stmtCloses.incrementAndGet(); null
        }
      case "close" => connClosed = true; null
    }
  }

  test("same SQL prepared once across many batches; distinct SQL gets its own") {
    val db = new StubJdbc
    val conn = new JdbcSinkConnection(db.connection)
    (1 to 50).foreach(i => conn.executeBatch("INSERT A", Seq(Seq[Any](i))))
    conn.executeBatch("INSERT B", Seq(Seq[Any](0)))
    assert(db.prepares.get == 2, s"prepared ${db.prepares.get} times for 2 SQL texts")
    assert(db.addBatches.get == 51 && db.executeBatches.get == 51)
  }

  test("statements per connection stay bounded when every text differs") {
    // A dirty batch's runs come in many sizes, so the multi-row texts vary;
    // only the most recently used few may stay open.
    val db = new StubJdbc
    val conn = new JdbcSinkConnection(db.connection)
    (1 to 1000).foreach(i => conn.executeBatch(s"INSERT $i", Seq(Seq[Any](i))))
    val open = db.prepares.get - db.stmtCloses.get
    assert(db.prepares.get == 1000)
    assert(open <= JdbcSinkConnection.MaxStatements, s"$open statements left open")
    conn.close()
    assert(db.stmtCloses.get == 1000 && db.connClosed)
  }

  test("close() closes cached statements then the connection") {
    val db = new StubJdbc
    val conn = new JdbcSinkConnection(db.connection)
    conn.executeBatch("INSERT A", Seq(Seq[Any](1)))
    conn.executeBatch("INSERT B", Seq(Seq[Any](2)))
    conn.close()
    assert(db.stmtCloses.get == 2 && db.connClosed)
  }
}
