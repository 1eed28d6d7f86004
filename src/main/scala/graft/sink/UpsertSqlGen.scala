package graft.sink

/** Upsert-SQL codegen — builds the `INSERT … ON CONFLICT … DO UPDATE` text the
  * sink executes against Postgres, for one row ([[build]]) or for `k` rows
  * in one multi-row `VALUES` list ([[Statement.sql]]). This is codegen *for
  * the remote engine* (the reference's O9, `psycopg2_database_helper.py:190-251`),
  * not Catalyst codegen. Differences from the reference, by design:
  *
  *  - JDBC `?` placeholders instead of psycopg2 `%s` / asyncpg `\$n`.
  *  - `uniqueKey = Nil` produces a plain INSERT (documented insert-only
  *    fallback the psycopg2 path crashes on,
  *    `/root/reference/psycopg2_database_helper.py:226` vs the working asyncpg
  *    short-circuit at `/root/reference/asyncpg_database_helper.py:229-230`).
  *  - when every non-key column is excluded from update we emit
  *    `DO NOTHING` instead of an invalid empty SET list.
  *
  * The single-update-column form is non-parenthesized (`SET c = EXCLUDED.c`),
  * matching Postgres syntax rules and the reference's special case
  * (`/root/reference/psycopg2_database_helper.py:239-246`).
  *
  * Every identifier is emitted double-quoted (embedded `"` doubled, the
  * table name quoted per dotted part so `schema.table` stays qualified):
  * the reference splices names verbatim, so a reserved-word column
  * ("order", "group") produces invalid SQL there. Column names come from
  * the PG catalog canonically and quote as-is; TABLE names come from user
  * config, so unquoted parts fold to lower case before quoting (the
  * semantics the verbatim splice always had) and genuinely mixed-case
  * relations are addressed pre-quoted — see [[quoteTable]].
  */
object UpsertSqlGen {

  /** `"name"` with embedded double quotes doubled — Postgres ident quoting. */
  def quoteIdent(name: String): String = {
    require(name.nonEmpty, "cannot quote an empty identifier")
    "\"" + name.replace("\"", "\"\"") + "\""
  }

  /** Quote a possibly schema-qualified table name part-by-part. A part that
    * is already double-quoted passes through untouched, so callers holding
    * pre-quoted names (e.g. from a config file) don't get double-wrapped;
    * dots INSIDE quoted parts are part of the identifier, not separators
    * (`"my.table"` is one relation). Unquoted parts are lower-cased before
    * quoting: Postgres folds unquoted identifiers to lower case, so this
    * preserves the semantics a verbatim splice (the reference's behavior)
    * would have had — a caller passing `MyTable` keeps targeting `mytable`,
    * and a genuinely mixed-case relation is addressed by pre-quoting.
    */
  def quoteTable(name: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    name.foreach {
      case '"' => inQ = !inQ; cur += '"'
      case '.' if !inQ => parts += cur.result(); cur.clear()
      case c => cur += c
    }
    parts += cur.result()
    parts.map { p =>
      if (p.startsWith("\"") && p.endsWith("\"") && p.length >= 2) p
      else quoteIdent(p.toLowerCase(java.util.Locale.ROOT))
    }.mkString(".")
  }

  /** The upsert for any number of rows at a time, built once from the
    * column list: [[sql]]`(k)` is `INSERT … VALUES (?, …), (?, …), …` with
    * `k` tuples, one per row, then the ON CONFLICT tail every `k` shares.
    * `keyIdx` holds the positions of the conflict key's columns among the
    * row's; it is empty for a plain INSERT.
    */
  final case class Statement(columns: Int, keyIdx: IndexedSeq[Int], head: String, tail: String) {
    private val tuple = Seq.fill(columns)("?").mkString("(", ", ", ")")
    def sql(rows: Int): String = {
      require(rows > 0, "a statement carries at least one row")
      Iterator.fill(rows)(tuple).mkString(head, ", ", tail)
    }
  }

  def statement(
      columns: Seq[String],
      tableName: String,
      uniqueKey: Seq[String] = Nil,
      colsNotForUpdate: Seq[String] = Nil): Statement = {
    require(columns.nonEmpty, "cannot build an INSERT with no columns")
    val qCols = columns.map(quoteIdent)
    val head = s"INSERT INTO ${quoteTable(tableName)} (${qCols.mkString(", ")}) VALUES "
    // A key column the rows do not carry takes its default server-side, so
    // only the carried ones can tell rows apart before sending.
    val keyIdx = uniqueKey.map(columns.indexOf).filter(_ >= 0).toIndexedSeq
    val tail =
      if (uniqueKey.isEmpty) ""
      else {
        val excluded = (uniqueKey ++ colsNotForUpdate).toSet
        val updateCols = columns.filterNot(excluded.contains).map(quoteIdent)
        val conflict = s" ON CONFLICT (${uniqueKey.map(quoteIdent).mkString(", ")})"
        if (updateCols.isEmpty) conflict + " DO NOTHING"
        else {
          val set =
            if (updateCols.size == 1) s"${updateCols.head} = EXCLUDED.${updateCols.head}"
            else
              s"(${updateCols.mkString(", ")}) = " +
                s"(${updateCols.map("EXCLUDED." + _).mkString(", ")})"
          conflict + s" DO UPDATE SET $set"
        }
      }
    Statement(columns.size, keyIdx, head, tail)
  }

  /** The one-row statement: [[statement]]`(…).sql(1)`. */
  def build(
      columns: Seq[String],
      tableName: String,
      uniqueKey: Seq[String] = Nil,
      colsNotForUpdate: Seq[String] = Nil): String =
    statement(columns, tableName, uniqueKey, colsNotForUpdate).sql(1)
}
