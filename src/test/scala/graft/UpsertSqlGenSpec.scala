package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sink.UpsertSqlGen

/** Golden strings mirroring the documented codegen contract of the reference
  * (`/root/reference/psycopg2_database_helper.py:198-205`), with JDBC `?`
  * placeholders. Identifiers are double-quoted (r12 VERDICT item 5): the
  * reference splices names verbatim, so mixed-case / reserved-word names
  * break there; quoting a lower-case name is semantically identical to the
  * bare form in Postgres.
  */
class UpsertSqlGenSpec extends AnyFunSuite {

  test("insert-only when no unique key (documented fallback)") {
    assert(UpsertSqlGen.build(Seq("a", "b"), "s.t") ==
      """INSERT INTO "s"."t" ("a", "b") VALUES (?, ?)""")
  }

  test("multi-column update uses parenthesized SET") {
    assert(UpsertSqlGen.build(Seq("k", "x", "y"), "t", uniqueKey = Seq("k")) ==
      """INSERT INTO "t" ("k", "x", "y") VALUES (?, ?, ?) ON CONFLICT ("k") """ +
        """DO UPDATE SET ("x", "y") = (EXCLUDED."x", EXCLUDED."y")""")
  }

  test("single-column update uses non-parenthesized SET") {
    assert(UpsertSqlGen.build(Seq("k", "x"), "t", uniqueKey = Seq("k")) ==
      """INSERT INTO "t" ("k", "x") VALUES (?, ?) ON CONFLICT ("k") """ +
        """DO UPDATE SET "x" = EXCLUDED."x"""")
  }

  test("composite key") {
    assert(UpsertSqlGen.build(Seq("k1", "k2", "x"), "t", uniqueKey = Seq("k1", "k2")) ==
      """INSERT INTO "t" ("k1", "k2", "x") VALUES (?, ?, ?) ON CONFLICT ("k1", "k2") """ +
        """DO UPDATE SET "x" = EXCLUDED."x"""")
  }

  test("cols_not_for_update excluded from SET") {
    assert(UpsertSqlGen.build(Seq("k", "x", "created_at"), "t",
      uniqueKey = Seq("k"), colsNotForUpdate = Seq("created_at")) ==
      """INSERT INTO "t" ("k", "x", "created_at") VALUES (?, ?, ?) ON CONFLICT ("k") """ +
        """DO UPDATE SET "x" = EXCLUDED."x"""")
  }

  test("all non-key columns excluded → DO NOTHING") {
    assert(UpsertSqlGen.build(Seq("k", "x"), "t",
      uniqueKey = Seq("k"), colsNotForUpdate = Seq("x")) ==
      """INSERT INTO "t" ("k", "x") VALUES (?, ?) ON CONFLICT ("k") DO NOTHING""")
  }

  test("mixed-case and reserved-word identifiers are quoted, not folded") {
    // COLUMN names come from the PG catalog canonically, so they quote
    // as-is ("Id" stays "Id", reserved `order` becomes safe); the TABLE
    // name comes from user config, where Postgres semantics fold unquoted
    // parts — a genuinely mixed-case relation is addressed by pre-quoting.
    assert(UpsertSqlGen.build(Seq("Id", "order", "Group"), """public."User"""",
      uniqueKey = Seq("Id")) ==
      """INSERT INTO "public"."User" ("Id", "order", "Group") VALUES (?, ?, ?) """ +
        """ON CONFLICT ("Id") DO UPDATE SET ("order", "Group") = """ +
        """(EXCLUDED."order", EXCLUDED."Group")""")
  }

  test("unquoted table parts fold to lower case (Postgres splice semantics)") {
    // The reference splices the table name verbatim and Postgres folds it:
    // a caller passing MyTable has always targeted mytable. Quoting WITHOUT
    // folding would silently retarget such callers to a different relation
    // (r13 ADVICE); folding first preserves their behavior.
    assert(UpsertSqlGen.quoteTable("public.MyTable") == """"public"."mytable"""")
    assert(UpsertSqlGen.quoteTable("""PUBLIC."Keep.Case"""") == """"public"."Keep.Case"""")
  }

  test("dots inside quoted table parts are not separators") {
    assert(UpsertSqlGen.quoteTable(""""my.table"""") == """"my.table"""")
    assert(UpsertSqlGen.quoteTable(""""S.x".t""") == """"S.x"."t"""")
  }

  test("embedded double quotes are doubled") {
    assert(UpsertSqlGen.quoteIdent("""we"ird""") == "\"we\"\"ird\"")
    assert(UpsertSqlGen.build(Seq("""a"b"""), """t"x""") ==
      "INSERT INTO \"t\"\"x\" (\"a\"\"b\") VALUES (?)")
  }

  test("pre-quoted table parts pass through unwrapped") {
    assert(UpsertSqlGen.quoteTable("\"Schema\".table") == "\"Schema\".\"table\"")
  }

  test("k-row statement: k placeholder tuples, then the one-row statement's tail") {
    val stmt = UpsertSqlGen.statement(Seq("k", "x"), "t", uniqueKey = Seq("k"))
    assert(stmt.sql(3) ==
      """INSERT INTO "t" ("k", "x") VALUES (?, ?), (?, ?), (?, ?) ON CONFLICT ("k") """ +
        """DO UPDATE SET "x" = EXCLUDED."x"""")
    assert(stmt.sql(1) == UpsertSqlGen.build(Seq("k", "x"), "t", uniqueKey = Seq("k")))
    assert(stmt.keyIdx == Seq(0))
    assert(UpsertSqlGen.statement(Seq("a", "b"), "t").sql(2) ==
      """INSERT INTO "t" ("a", "b") VALUES (?, ?), (?, ?)""")
  }

  test("key positions: composite keys in key order; no key, no positions") {
    assert(UpsertSqlGen.statement(Seq("x", "k2", "k1"), "t", Seq("k1", "k2")).keyIdx == Seq(2, 1))
    assert(UpsertSqlGen.statement(Seq("a", "b"), "t").keyIdx.isEmpty)
  }

  test("empty column list rejected") {
    intercept[IllegalArgumentException](UpsertSqlGen.build(Nil, "t"))
  }

  test("empty identifier rejected") {
    intercept[IllegalArgumentException](UpsertSqlGen.quoteIdent(""))
  }
}
