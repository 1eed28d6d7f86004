package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import scala.sys.process._

import graft.meta.{JdbcPgCatalog, PgCatalog}

/** A private, throwaway PostgreSQL cluster: `initdb` + `pg_ctl` on a unix
  * socket inside `dir`, run as the `postgres` user because the server refuses
  * to run as root. Flush policy is the server default (`fsync` and
  * `synchronous_commit` on); bench tables turn autovacuum off per table so
  * the space numbers repeat. Only fatal errors reach the server log.
  */
final class PgCluster(val dir: Path) {
  val data: Path = dir.resolve("data")
  val sock: String = dir.resolve("sock").toString
  @volatile private var running = false

  private def su(cmd: String): Unit = {
    val log = new StringBuilder
    val rc = Process(Seq("su", "postgres", "-s", "/bin/bash", "-c", cmd))
      .!(ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    if (rc != 0) throw new IllegalStateException(s"'$cmd' exited $rc:\n$log")
  }

  def start(): Unit = {
    Files.createDirectories(data)
    Files.createDirectories(dir.resolve("sock"))
    Seq("chown", "-R", "postgres:postgres", dir.toString).!!
    su(s"initdb -D $data -A trust --no-sync > $dir/initdb.log 2>&1")
    running = true
    // Errors stay out of the server log: through the psql backend every
    // statement after a failing row echoes an "aborted transaction" error,
    // and logging each one with its statement text writes megabytes a round.
    su(s"pg_ctl -D $data -o \"-k $sock -c listen_addresses='' " +
      s"-c log_min_messages=fatal -c log_min_error_statement=panic\" -w -l $dir/server.log start")
  }

  /** Immediate stop: the cluster is thrown away, so there is nothing to
    * flush. Safe to call twice and from a shutdown hook.
    */
  def stop(): Unit = synchronized {
    if (running) {
      running = false
      Process(Seq("su", "postgres", "-s", "/bin/bash", "-c",
        s"pg_ctl -D $data stop -m immediate -w")).!(ProcessLogger(_ => (), _ => ()))
    }
    Seq("rm", "-rf", dir.toString).!
  }

  /** One psql round trip outside any sink transaction; rows as `|`-joined
    * strings. Fails loudly on any SQL error.
    */
  def psql(sql: String): Seq[String] = {
    val out = new StringBuilder
    val err = new StringBuilder
    val rc = Process(Seq("psql", "-X", "-A", "-t", "-q", "-v", "ON_ERROR_STOP=1",
      "-h", sock, "-U", "postgres", "-d", "postgres", "-c", sql))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    if (rc != 0) throw new IllegalStateException(s"psql failed ($rc) on: $sql\n$err")
    out.toString.split("\n").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
  }

  def one(sql: String): String = psql(sql).headOption.getOrElse(
    throw new IllegalStateException(s"no row from: $sql"))

  def serverVersion: String = one("SHOW server_version")
  def setting(name: String): String = one(s"SHOW $name")
}

/** [[graft.meta.PgCatalog]] over psql: the library's own catalog SQL texts
  * with the two `?` placeholders rendered as literals (there is no JDBC
  * connection to bind them).
  */
final class PsqlPgCatalog(pg: PgCluster) extends PgCatalog {
  private val texts = new JdbcPgCatalog(() => sys.error("SQL text access only"))
  private def q(sql: String, schema: String, table: String): Seq[String] =
    pg.psql(sql.replaceFirst("\\?", s"'$schema'").replaceFirst("\\?", s"'$table'"))

  def columnTypes(schema: String, table: String): ListMap[String, String] =
    ListMap(q(texts.columnSql, schema, table).map { l =>
      val Array(c, t) = l.split("\\|", 2); c -> t
    }: _*)

  def uniqueKey(schema: String, table: String): Option[Seq[String]] =
    q(texts.pkSql, schema, table).headOption
      .orElse(q(texts.uniqueIdxSql, schema, table).headOption)
      .map(_.split(',').toIndexedSeq)
}

/** Server-side counters read around a measured region. */
final case class PgCounters(walLsnBytes: BigDecimal, xactCommit: Long,
    tupInserted: Long, tupUpdated: Long)

object PgCounters {
  def read(pg: PgCluster): PgCounters = {
    // Shared-memory stats are flushed lazily by each backend; forcing the
    // flush of this session and waiting out the others' idle flush makes
    // the deltas complete. Sink backends have exited by the time this runs.
    pg.psql("SELECT pg_stat_force_next_flush()")
    val Array(lsn, xc, ti, tu) = pg.one(
      "SELECT pg_wal_lsn_diff(pg_current_wal_lsn(), '0/0'), xact_commit, " +
        "tup_inserted, tup_updated FROM pg_stat_database WHERE datname = 'postgres'")
      .split("\\|")
    PgCounters(BigDecimal(lsn), xc.toLong, ti.toLong, tu.toLong)
  }
}
