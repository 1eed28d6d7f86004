package graft

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.sys.process._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.JdbcPgCatalog
import graft.sink.{ConnectionFactory, PostgresUpsertSink, SinkConnection, UpsertSqlGen}

/** LIVE-POSTGRES end-to-end for the sink — the one reference code path the
  * unit suite can only fake (`/root/reference/psycopg2_database_helper.py:
  * 123-187`): the generated `INSERT … ON CONFLICT` executed inside a real
  * transaction, savepoint scoping, ROLLBACK TO in an ABORTED transaction
  * (real server-side abort semantics, which the parsing fake imitates),
  * binary-split isolation against genuine constraint errors, and final
  * table state read back from the server.
  *
  * The environment has a PostgreSQL server package but NO JDBC driver jar
  * (zero egress), so the [[SinkConnection]] trait is implemented over a
  * long-lived `psql` process per connection: `?` placeholders are rendered
  * to SQL literals and every logical operation is fenced by an `\echo`
  * sentinel with `ERROR:` lines collected in between — statement failures
  * throw exactly where JDBC would. A throwaway cluster (initdb + pg_ctl on
  * a private unix socket, `su postgres` since root cannot run the server)
  * lives for the suite; machines without the binaries cancel the suite
  * instead of failing it.
  */
class PostgresLiveSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val haveBinaries =
    Seq("initdb", "pg_ctl", "psql", "su").forall(b => s"which $b".! == 0)

  private var baseDir: Path = _
  private def sockDir = baseDir.resolve("sock").toString
  private var serverUp = false

  private def su(cmd: String): Int =
    Process(Seq("su", "postgres", "-s", "/bin/bash", "-c", cmd),
      new java.io.File("/tmp")).!(ProcessLogger(_ => (), _ => ()))

  override def beforeAll(): Unit = {
    if (haveBinaries) {
      baseDir = Files.createTempDirectory("graft-pg")
      Files.createDirectories(baseDir.resolve("data"))
      Files.createDirectories(baseDir.resolve("sock"))
      s"chown -R postgres:postgres $baseDir".!
      val data = baseDir.resolve("data").toString
      if (su(s"initdb -D $data -A trust") == 0) {
        serverUp = su(s"pg_ctl -D $data -o '-k $sockDir -c listen_addresses=' " +
          s"-w -l $baseDir/server.log start") == 0
      }
    }
  }

  override def afterAll(): Unit = {
    if (serverUp) su(s"pg_ctl -D ${baseDir.resolve("data")} stop -m immediate")
    if (baseDir != null)
      s"rm -rf $baseDir".!
  }

  private def live(): Unit = assume(haveBinaries && serverUp,
    "no usable PostgreSQL server environment on this machine")

  /** One-shot psql for DDL/queries outside the sink's transaction. */
  private def psql(sql: String): Seq[String] = {
    val out = Process(Seq("psql", "-X", "-A", "-t", "-h", sockDir,
      "-U", "postgres", "-d", "postgres", "-c", sql)).!!
    out.split("\n").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
  }

  // ---------------------------------------------------------------------
  // The tests (the psql-backed SinkConnection lives top-level below the
  // spec: an inner class would capture the non-serializable suite as its
  // $outer and the factory ships inside the executor closure)
  // ---------------------------------------------------------------------

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("qty", IntegerType)))

  private def writeRows(rows: Seq[Row], table: String, batchSize: Int = 4,
      uniqueKey: Option[Seq[String]] = Some(Seq("id"))) = {
    val spark = SparkSpec.session
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    PostgresUpsertSink.upsert(df, table, uniqueKey = uniqueKey,
      factory = PsqlConnectionFactory(sockDir),
      batchSize = batchSize, parallelism = 2, partitionCols = Seq("id"))
  }

  private def tableState(table: String): Map[Int, (String, Int)] =
    psql(s"SELECT id, name, qty FROM $table ORDER BY id").map { l =>
      val Array(id, name, qty) = l.split("\\|")
      id.toInt -> (name, qty.toInt)
    }.toMap

  test("end-to-end upsert: inserts then keyed updates, real ON CONFLICT") {
    live()
    psql("CREATE TABLE live_upsert (id int PRIMARY KEY, name varchar(10), qty int NOT NULL)")
    val first = writeRows((1 to 10).map(i => Row(i, s"n$i", i * 10)), "live_upsert")
    assert(first.loaded === 10 && first.rejected === 0)

    // 5 updates + 5 fresh inserts; the conflict arm must fire for 1–5.
    val second = writeRows(
      (1 to 5).map(i => Row(i, s"u$i", i * 100)) ++
        (11 to 15).map(i => Row(i, s"n$i", i * 10)), "live_upsert")
    assert(second.loaded === 10 && second.rejected === 0)

    val state = tableState("live_upsert")
    assert(state.size === 15)
    (1 to 5).foreach(i => assert(state(i) === ((s"u$i", i * 100))))
    (6 to 10).foreach(i => assert(state(i) === ((s"n$i", i * 10))))
    (11 to 15).foreach(i => assert(state(i) === ((s"n$i", i * 10))))
  }

  test("binary split against real constraint errors: good rows land, bad rows named") {
    live()
    psql("CREATE TABLE live_split (id int PRIMARY KEY, name varchar(10), qty int NOT NULL)")
    // Two poison flavors inside otherwise-good batches: a NOT NULL
    // violation and a varchar(10) overflow — both real server-side errors
    // the fake can only approximate.
    val rows = (1 to 16).map {
      case 6 => Row(6, "n6", null)
      case 11 => Row(11, "this name is far too long", 110)
      case i => Row(i, s"n$i", i * 10)
    }
    val stats = writeRows(rows, "live_split")
    assert(stats.loaded === 14 && stats.rejected === 2)
    assert(stats.errors.exists(_.contains("null value")), stats.errors.mkString("; "))
    assert(stats.errors.exists(_.contains("too long")), stats.errors.mkString("; "))
    val state = tableState("live_split")
    assert(state.size === 14 && !state.contains(6) && !state.contains(11))
  }

  test("per-batch commit durability: committed batches survive a poisoned feed") {
    live()
    psql("CREATE TABLE live_poison (id int PRIMARY KEY, name varchar(10), qty int NOT NULL)")
    // One partition fed in arrival order (a shuffle would not keep the
    // order, so the partition body runs directly): first batch all good,
    // second batch entirely poison → circuit breaker trips, but batch 1 is
    // already committed on the server.
    val good = (1 to 4).map(i => Row(i, s"n$i", i))
    val poison = (5 to 8).map(i => Row(i, null, null))
    val stmt = UpsertSqlGen.statement(schema.fieldNames.toIndexedSeq, "live_poison", Seq("id"))
    val stats = PostgresUpsertSink.writePartition((good ++ poison).iterator, stmt,
      PsqlConnectionFactory(sockDir), batchSize = 4, maxRejects = None)
    assert(stats.rejected === 4)
    assert(tableState("live_poison").keySet === (1 to 4).toSet)
  }

  test("a failing first row in a 1000-row batch: the split finishes, 999 land") {
    live()
    psql("CREATE TABLE live_echo (id int PRIMARY KEY, name text, qty int NOT NULL)")
    // Row 1 breaks NOT NULL, so the other 999 statements of the first
    // attempt each echo an "aborted transaction" error — more than a pipe
    // buffer holds. Wide rows keep the unsent statements larger than a pipe
    // buffer too, so a backend that stops reading blocks its writer; the
    // timeout turns that into a failure instead of a hung suite.
    val pad = "x" * 500
    val rows = Row(1, pad, null) +: (2 to 1000).map(i => Row(i, pad, i))
    val stmt = UpsertSqlGen.statement(schema.fieldNames.toIndexedSeq, "live_echo", Seq("id"))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val stats = Await.result(Future(PostgresUpsertSink.writePartition(rows.iterator, stmt,
      PsqlConnectionFactory(sockDir), batchSize = 1000, maxRejects = None))(
      ExecutionContext.global), 120.seconds)
    assert(stats.loaded === 999 && stats.rejected === 1)
    assert(stats.errors.size === 1 && stats.errors.head.contains("null value"),
      stats.errors.mkString("; "))
    assert(psql("SELECT count(*), min(id) FROM live_echo") === Seq("999|2"))
  }

  test("multi-row statements live: far-apart repeated keys and a bad row in one run") {
    live()
    psql("CREATE TABLE live_runs (id int PRIMARY KEY, name varchar(10), qty int NOT NULL)")
    // One 300-row batch in arrival order. Row 250 repeats key 7, so the
    // first statement ends before it; row 100 breaks NOT NULL inside that
    // first statement. Row 299 repeats key 150 across statements.
    val rows = (1 to 300).map {
      case 100 => Row(100, "bad", null)
      case 250 => Row(7, "late7", 7000)
      case 299 => Row(150, "late150", 1500)
      case i => Row(i, s"n$i", i)
    }
    val stmt = UpsertSqlGen.statement(schema.fieldNames.toIndexedSeq, "live_runs", Seq("id"))
    val stats = PostgresUpsertSink.writePartition(rows.iterator, stmt,
      PsqlConnectionFactory(sockDir), batchSize = 1000, maxRejects = None)
    assert(stats.loaded === 299 && stats.rejected === 1)
    assert(stats.errors.size === 1 && stats.errors.head.contains("null value"),
      stats.errors.mkString("; "))
    assert(!stats.errors.exists(_.contains("cannot affect row a second time")))
    val state = tableState("live_runs")
    assert(state.keySet === (1 to 300).toSet -- Set(100, 250, 299))
    assert(state(7) === (("late7", 7000)) && state(150) === (("late150", 1500)),
      "the later row of a key wins")
  }

  test("multi-row statements live: char(3) keys equal only in Postgres, the split resolves them") {
    live()
    psql("CREATE TABLE live_char (code char(3) PRIMARY KEY, qty int)")
    // 'ab' and 'ab ' differ on the JVM, so the cut keeps them in one
    // statement; Postgres pads char(3) and refuses it (SQLSTATE 21000). The
    // split then sends them apart, in arrival order.
    val rows = Seq(Row("aa", 1), Row("ab", 2), Row("ac", 3), Row("ab ", 20), Row("ad", 4))
    val stmt = UpsertSqlGen.statement(Seq("code", "qty"), "live_char", Seq("code"))
    val stats = PostgresUpsertSink.writePartition(rows.iterator, stmt,
      PsqlConnectionFactory(sockDir), batchSize = 1000, maxRejects = None)
    assert(stats.loaded === 5 && stats.rejected === 0 && stats.errors.isEmpty)
    assert(psql("SELECT rtrim(code), qty FROM live_char ORDER BY code") ===
      Seq("aa|1", "ab|20", "ac|3", "ad|4"))
  }

  test("pg_catalog introspection SQL (O7/O8) validated against the live server") {
    live()
    // The three catalog texts have only ever faced stubs (Derby has no
    // pg_catalog): run them verbatim on real PostgreSQL 15 with the JDBC
    // `?` placeholders rendered to literals. The fixture is adversarial
    // for the unique-index fallback: a PARTIAL unique index and an
    // EXPRESSION unique index are created FIRST (lowest oids — the LIMIT 1
    // would return one of them if the exclusions were wrong), then the
    // plain composite index that must win.
    psql("CREATE TABLE cat_t (e bigint, a serial, b numeric(10,2), c varchar(17), " +
      "d timestamp, f date, g int NOT NULL, PRIMARY KEY (e, a))")
    psql("CREATE UNIQUE INDEX cat_part ON cat_t (g) WHERE g > 0")
    psql("CREATE UNIQUE INDEX cat_expr ON cat_t ((lower(c)))")
    psql("CREATE UNIQUE INDEX cat_plain ON cat_t (c, f)")
    val cat = new JdbcPgCatalog(() => sys.error("SQL text access only"))
    def run(sql: String, table: String) =
      psql(sql.replaceFirst("\\?", "'public'").replaceFirst("\\?", s"'$table'"))

    assert(run(cat.columnSql, "cat_t") === Seq(
      "e|bigint", "a|integer", "b|numeric(10,2)", "c|character varying(17)",
      "d|timestamp without time zone", "f|date", "g|integer"),
      "column names + format_type typmods in attnum order")
    assert(run(cat.pkSql, "cat_t") === Seq("e,a"),
      "composite PK columns in INDEX order, not attnum order")
    assert(run(cat.uniqueIdxSql, "cat_t") === Seq("c,f"),
      "partial + expression indexes excluded; first eligible unique index wins")

    // No PK: the unique-index fallback is the key; no constraints at all:
    // both queries return zero rows (insert-only mode upstream).
    psql("CREATE TABLE cat_u (x int, y int)")
    psql("CREATE UNIQUE INDEX cat_u_ux ON cat_u (y, x)")
    assert(run(cat.pkSql, "cat_u").isEmpty)
    assert(run(cat.uniqueIdxSql, "cat_u") === Seq("y,x"))
    psql("CREATE TABLE cat_none (x int)")
    assert(run(cat.pkSql, "cat_none").isEmpty)
    assert(run(cat.uniqueIdxSql, "cat_none").isEmpty)
  }

  test("Loader.loadPostgres end-to-end live: CSV -> live catalog conform -> keyed upsert") {
    live()
    // The FULL flagship reference path against its real target
    // (load_postgres_from_spark_df.py:72-105): the catalog metadata comes
    // from the live server's pg_catalog (psql-backed PgCatalog below), the
    // key is DISCOVERED (not passed), the source CSV has an extra column,
    // mixed-case headers, and string-typed numerics — conform must
    // lowercase, intersect, and cast to the catalog's types.
    psql("CREATE TABLE live_load (id bigint PRIMARY KEY, name varchar(20), " +
      "qty numeric(10,2), created date)")
    val csvDir = Files.createTempDirectory("graft-csv")
    Files.writeString(csvDir.resolve("part1.csv"),
      """ID,Name,QTY,created,junk_col
        |1,alpha,10.50,2024-01-02,x
        |2,beta,20.25,2024-01-03,y
        |3,gamma,0.75,2024-01-04,z
        |""".stripMargin)
    val cat = new PsqlCatalog(psql)
    val cfg = Loader.LoadConfig(source = "csv", path = csvDir.toString,
      targetTable = "public.live_load",
      sourceOptions = Map("header" -> "true"), batchSize = 2, parallelism = 2)
    val stats = Loader.loadPostgres(SparkSpec.session, cfg, cat,
      PsqlConnectionFactory(sockDir))
    assert(stats.loaded === 3 && stats.rejected === 0)

    // Second load updates key 2 and inserts key 4 — the discovered PK must
    // have routed the sink into ON CONFLICT DO UPDATE.
    Files.writeString(csvDir.resolve("part1.csv"),
      """ID,Name,QTY,created,junk_col
        |2,beta2,99.99,2024-02-01,y
        |4,delta,4.00,2024-01-05,w
        |""".stripMargin)
    val stats2 = Loader.loadPostgres(SparkSpec.session, cfg, cat,
      PsqlConnectionFactory(sockDir))
    assert(stats2.loaded === 2 && stats2.rejected === 0)
    assert(psql("SELECT id, name, qty, created FROM live_load ORDER BY id") === Seq(
      "1|alpha|10.50|2024-01-02",
      "2|beta2|99.99|2024-02-01",
      "3|gamma|0.75|2024-01-04",
      "4|delta|4.00|2024-01-05"))
    s"rm -rf $csvDir".!
  }

  test("Loader.loadPostgres live: two rows with one key in a batch, the later wins") {
    live()
    psql("CREATE TABLE live_dupkey (id bigint PRIMARY KEY, name varchar(20), qty int)")
    // One CSV file is one input partition, and hash routing on the key
    // keeps each map task's rows in order, so both key-2 rows reach one
    // batch in file order.
    val csvDir = Files.createTempDirectory("graft-csv")
    Files.writeString(csvDir.resolve("part1.csv"),
      """id,name,qty
        |1,alpha,1
        |2,first,2
        |3,gamma,3
        |2,second,20
        |""".stripMargin)
    val cfg = Loader.LoadConfig(source = "csv", path = csvDir.toString,
      targetTable = "public.live_dupkey", sourceOptions = Map("header" -> "true"),
      batchSize = 1000, parallelism = 1, partitionCols = Seq("id"))
    val stats = Loader.loadPostgres(SparkSpec.session, cfg, new PsqlCatalog(psql),
      PsqlConnectionFactory(sockDir))
    // Loaded + rejected equals the 4 rows routed; nothing is unread.
    assert(stats.loaded === 4 && stats.rejected === 0)
    assert(psql("SELECT id, name, qty FROM live_dupkey ORDER BY id") === Seq(
      "1|alpha|1", "2|second|20", "3|gamma|3"))
    s"rm -rf $csvDir".!
  }

  /** [[graft.meta.PgCatalog]] over the live server through psql — the same
    * three SQL texts [[JdbcPgCatalog]] issues over JDBC, placeholders
    * rendered to literals. Driver-side only, like every catalog read.
    */
  final class PsqlCatalog(run: String => Seq[String]) extends graft.meta.PgCatalog {
    private val texts = new JdbcPgCatalog(() => sys.error("SQL text access only"))
    private def q(sql: String, schema: String, table: String): Seq[String] =
      run(sql.replaceFirst("\\?", s"'$schema'").replaceFirst("\\?", s"'$table'"))
    def columnTypes(schema: String, table: String) =
      scala.collection.immutable.ListMap(q(texts.columnSql, schema, table).map { l =>
        val Array(c, t) = l.split("\\|", 2); c -> t
      }: _*)
    def uniqueKey(schema: String, table: String) =
      q(texts.pkSql, schema, table).headOption
        .orElse(q(texts.uniqueIdxSql, schema, table).headOption)
        .map(_.split(',').toIndexedSeq)
  }

  test("quoted identifiers live: mixed-case table/columns and a reserved word") {
    live()
    // Unquoted, "Live_Mixed"/"Id"/"Name" would fold to lower case (wrong
    // target) and `order` is a reserved word (syntax error) — exactly the
    // reference's verbatim-splice defect (r12 VERDICT item 5). The sink must
    // quote its way to the real table.
    psql("""CREATE TABLE "Live_Mixed" ("Id" int PRIMARY KEY, "Name" varchar(10), "order" int NOT NULL)""")
    val spark = SparkSpec.session
    val st = StructType(Seq(
      StructField("Id", IntegerType),
      StructField("Name", StringType),
      StructField("order", IntegerType)))
    def mkDf(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), st)
    // Mixed-case relations are addressed PRE-QUOTED (unquoted parts fold to
    // lower case, matching what the verbatim splice always did — r13 ADVICE).
    val first = PostgresUpsertSink.upsert(
      mkDf((1 to 6).map(i => Row(i, s"n$i", i))), "\"Live_Mixed\"",
      uniqueKey = Some(Seq("Id")), factory = PsqlConnectionFactory(sockDir),
      batchSize = 3, parallelism = 2, partitionCols = Seq("Id"))
    assert(first.loaded === 6 && first.rejected === 0)
    // Conflict arm: one keyed update + one fresh insert through the same SQL.
    val second = PostgresUpsertSink.upsert(
      mkDf(Seq(Row(1, "upd", 100), Row(7, "n7", 7))), "\"Live_Mixed\"",
      uniqueKey = Some(Seq("Id")), factory = PsqlConnectionFactory(sockDir),
      batchSize = 3, parallelism = 2, partitionCols = Seq("Id"))
    assert(second.loaded === 2 && second.rejected === 0)
    val state = psql("""SELECT "Id", "Name", "order" FROM "Live_Mixed" ORDER BY "Id"""")
      .map { l => val Array(i, n, o) = l.split("\\|"); i.toInt -> ((n, o.toInt)) }.toMap
    assert(state.size === 7)
    assert(state(1) === (("upd", 100)))
    assert(state(7) === (("n7", 7)))
    (2 to 6).foreach(i => assert(state(i) === ((s"n$i", i))))
  }

  test("insert-only mode (no unique key) against the live server") {
    live()
    psql("CREATE TABLE live_insert (id int, name varchar(10), qty int NOT NULL)")
    val sql = UpsertSqlGen.build(Seq("id", "name", "qty"), "live_insert")
    assert(!sql.contains("ON CONFLICT"))
    val stats = writeRows((1 to 6).map(i => Row(i, s"n$i", i)), "live_insert",
      uniqueKey = None)
    assert(stats.loaded === 6)
    assert(psql("SELECT count(*) FROM live_insert").head === "6")
  }
}

/** Serializable factory for [[PsqlSinkConnection]] — top-level so the
  * executor closure ships only the socket path.
  */
final case class PsqlConnectionFactory(sock: String) extends ConnectionFactory {
  def connect(): SinkConnection = new PsqlSinkConnection(sock)
}

/** `psql` pipe as a transactional [[SinkConnection]]. ON_ERROR_STOP stays
  * off so an aborted transaction keeps accepting ROLLBACK TO — the same
  * contract a JDBC connection gives the binary split.
  *
  * A daemon thread drains psql's output into a queue while statements are
  * written. After a failing row every later statement of the batch echoes
  * an "aborted transaction" error; with nobody reading, a batch's worth of
  * echoes fills the pipe, psql stops reading its input, and the writer
  * blocks with it.
  */
final class PsqlSinkConnection(sock: String) extends SinkConnection {
  private val proc = {
    // qualified: scala.sys.process._ shadows java.lang.ProcessBuilder
    val pb = new java.lang.ProcessBuilder("psql", "-X", "--quiet", "-v", "ON_ERROR_STOP=0",
      "-h", sock, "-U", "postgres", "-d", "postgres")
    pb.redirectErrorStream(true)
    pb.start()
  }
  private val in = new BufferedWriter(new OutputStreamWriter(proc.getOutputStream))
  // Every output line in arrival order; None marks end of stream.
  private val lines = new java.util.concurrent.LinkedBlockingQueue[Option[String]]
  private val drain = new Thread(() => {
    val out = new BufferedReader(new InputStreamReader(proc.getInputStream))
    try Iterator.continually(out.readLine()).takeWhile(_ != null)
      .foreach(l => lines.put(Some(l)))
    catch { case _: java.io.IOException => () }
    finally lines.put(None)
  }, "psql-drain")
  drain.setDaemon(true)
  drain.start()
  private var fence = 0

  /** Next output line; throws once psql's output has ended. */
  private def nextLine(): String = lines.take() match {
    case Some(l) => l
    case None =>
      lines.put(None) // every later call sees the end too
      throw new IllegalStateException("psql died mid-conversation")
  }

  /** Run statements, return every ERROR line seen before the fence. */
  private def exec(stmts: Seq[String]): Seq[String] = {
    fence += 1
    val mark = s"GRAFT_FENCE_$fence"
    stmts.foreach { s => in.write(s); in.write(";\n") }
    in.write(s"\\echo $mark\n")
    in.flush()
    val errs = mutable.ArrayBuffer.empty[String]
    var line = nextLine()
    while (line != mark) {
      if (line.startsWith("ERROR:")) errs += line
      line = nextLine()
    }
    errs.toIndexedSeq
  }

  private def execOrThrow(stmt: String): Unit = {
    val errs = exec(Seq(stmt))
    if (errs.nonEmpty) throw new RuntimeException(errs.head)
  }

  exec(Seq("BEGIN")) // JDBC autoCommit=false equivalent

  private def literal(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Double | _: Float) => n.toString
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    // Both the legacy java.sql and the java8API datetime externals render
    // as ISO strings Postgres parses directly.
    case d @ (_: java.sql.Date | _: java.time.LocalDate) => s"'$d'"
    case t @ (_: java.sql.Timestamp | _: java.time.Instant) => s"'$t'"
    case other => throw new IllegalArgumentException(
      s"PsqlSinkConnection literal rendering does not cover ${other.getClass}")
  }

  /** Substitute the JDBC `?` placeholders (UpsertSqlGen emits no string
    * literals, so every `?` in the text is a placeholder).
    */
  private def render(sql: String, row: Seq[Any]): String = {
    val parts = sql.split("\\?", -1)
    require(parts.length == row.size + 1,
      s"placeholder arity ${parts.length - 1} != row arity ${row.size}")
    parts.zipAll(row.map(literal), "", "").map { case (a, b) => a + b }.mkString
  }

  def executeBatch(sql: String, batch: Seq[Seq[Any]]): Unit = {
    val errs = exec(batch.map(r => render(sql, r)))
    if (errs.nonEmpty)
      // First error is the root cause; the rest are the aborted-tx echo.
      throw new RuntimeException(errs.head)
  }
  def savepoint(name: String): Unit = execOrThrow(s"SAVEPOINT $name")
  def rollbackTo(name: String): Unit = execOrThrow(s"ROLLBACK TO SAVEPOINT $name")
  def release(name: String): Unit = execOrThrow(s"RELEASE SAVEPOINT $name")
  def commit(): Unit = { execOrThrow("COMMIT"); exec(Seq("BEGIN")); () }
  def close(): Unit = {
    try { in.write("ROLLBACK;\n\\q\n"); in.flush() } catch { case _: Throwable => () }
    if (!proc.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)) proc.destroyForcibly()
    ()
  }
}
