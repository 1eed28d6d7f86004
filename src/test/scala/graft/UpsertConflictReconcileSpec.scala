package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MergeOps
import graft.sink.{PostgresUpsertSink, UpsertSqlGen}

/** Closes the loop on the sink's flagship output: the generated
  * `ON CONFLICT` SQL is EXECUTED (by the parsing [[KeyedUpsertFakeConnection]])
  * and the resulting table state is reconciled against
  * [[MergeOps.merge]] — the documented relational twin (SURVEY.md §7.3) —
  * on the same input, conflicts, intra-source duplicates, binary-split
  * rejects and DO NOTHING included. Until this spec, the conflict path of
  * the SQL text was only golden-string-tested; a divergence between the
  * text's semantics and the merge twin would have been invisible.
  */
class UpsertConflictReconcileSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val cols = Seq("k", "v", "seq")

  /** Rows as (key, payload, arrival-order) triples. */
  private type R = (Long, String, Long)
  private def asBatch(rows: Seq[R]): Seq[Seq[Any]] =
    rows.map(r => Seq[Any](r._1, r._2, r._3))

  private def tableState(id: String): Set[R] =
    KeyedSinkState.rows(id).map { r =>
      (r(0).asInstanceOf[Long], r(1).asInstanceOf[String], r(2).asInstanceOf[Long])
    }.toSet

  private def mergeOracle(target: Seq[R], source: Seq[R]): Set[R] =
    MergeOps.merge(target.toDF(cols: _*), source.toDF(cols: _*), Seq("k"), Seq(col("seq")))
      .as[R].collect().toSet

  test("DO UPDATE conflict path == MergeOps.merge, splits and intra-source dups included") {
    val stmt = UpsertSqlGen.statement(cols, "t", Seq("k"))
    assert(stmt.sql(1).contains("DO UPDATE SET"), stmt.sql(1))

    val target = Seq[R]((1L, "t1", 10L), (2L, "t2", 11L), (3L, "t3", 12L))
    // k=2 updated twice in-source (last wins), k=5 bad (binary-split reject),
    // k=4 inserted then updated, k=3 conflicts with target, k=6 fresh insert.
    val source = Seq[R](
      (2L, "s2a", 101L), (4L, "s4a", 102L), (2L, "s2b", 103L), (5L, "bad", 104L),
      (3L, "s3", 105L), (6L, "s6", 106L), (4L, "s4b", 107L))
    val bad = Set(5L)

    KeyedSinkState.init("reconcile_upd")
    val factory = new KeyedUpsertFakeFactory("reconcile_upd", bad)
    // Seed the target through the same sink path (all keys fresh ⇒ inserts),
    // then feed the source with batchSize 3 so conflicts cross batch
    // boundaries and the bad row forces a rollback + binary split mid-feed.
    val seed = PostgresUpsertSink.writePartition(
      asBatch(target).iterator.map(org.apache.spark.sql.Row.fromSeq(_)),
      stmt, factory, batchSize = 2, maxRejects = None)
    assert(seed.loaded == 3 && seed.rejected == 0)
    val stats = PostgresUpsertSink.writePartition(
      asBatch(source).iterator.map(org.apache.spark.sql.Row.fromSeq(_)),
      stmt, factory, batchSize = 3, maxRejects = None)
    assert(stats.rejected == 1 && stats.loaded == source.size - 1)

    val expected = mergeOracle(target, source.filterNot(r => bad(r._1)))
    assert(tableState("reconcile_upd") === expected)
    // Spot-check the interesting keys so a vacuous oracle can't hide drift.
    val byKey = tableState("reconcile_upd").map(r => r._1 -> r).toMap
    assert(byKey(2L) == ((2L, "s2b", 103L)), "last in-source write wins")
    assert(!byKey.contains(5L), "the binary-split-rejected row must not land")
    assert(byKey(1L) == ((1L, "t1", 10L)), "unconflicted target row untouched")
  }

  test("multi-row statements over a feed dense in repeated keys == MergeOps.merge") {
    // 600 rows over 90 keys in batches of 64: most batches are cut into
    // several runs, and the bad keys force splits whose halves are cut
    // again. Every row is its own arrival (seq), so the merge is exact.
    val stmt = UpsertSqlGen.statement(cols, "t", Seq("k"))
    val rng = new scala.util.Random(7)
    val target = (1L to 30L).map(i => (i, s"t$i", i): R)
    val source = (1 to 600).map(i => (1L + rng.nextInt(90), s"s$i", 1000L + i): R)
    val bad = Set(41L, 47L, 83L) // none in the target, which the same factory writes

    KeyedSinkState.init("reconcile_dense")
    val factory = new KeyedUpsertFakeFactory("reconcile_dense", bad)
    Seq(target, source).foreach { rows =>
      PostgresUpsertSink.writePartition(
        asBatch(rows).iterator.map(org.apache.spark.sql.Row.fromSeq(_)),
        stmt, factory, batchSize = 64, maxRejects = None)
    }
    assert(tableState("reconcile_dense") ===
      mergeOracle(target, source.filterNot(r => bad(r._1))))
  }

  test("distributed sink run (parallelism 2, key-routed) == MergeOps.merge") {
    val stmt = UpsertSqlGen.statement(cols, "t", Seq("k"))
    val target = (1L to 40L).map(i => (i, s"t$i", i): R)
    // Unique keys per source row: half conflict with target, half are new —
    // cross-partition arrival order is then irrelevant, which is exactly why
    // partitionCols routing makes the distributed result deterministic.
    val source = (21L to 60L).map(i => (i, s"s$i", 1000L + i): R)

    KeyedSinkState.init("reconcile_dist")
    val seedStats = PostgresUpsertSink.upsert(
      target.toDF(cols: _*), "t", Some(Seq("k")),
      new KeyedUpsertFakeFactory("reconcile_dist", Set.empty),
      batchSize = 7, parallelism = 2, partitionCols = Seq("k"))
    assert(seedStats.loaded == 40)
    val stats = PostgresUpsertSink.upsert(
      source.toDF(cols: _*), "t", Some(Seq("k")),
      new KeyedUpsertFakeFactory("reconcile_dist", Set.empty),
      batchSize = 7, parallelism = 2, partitionCols = Seq("k"))
    assert(stats.loaded == 40 && stats.rejected == 0)

    assert(tableState("reconcile_dist") === mergeOracle(target, source))
  }

  test("DO NOTHING conflict path: target untouched, first in-source write wins") {
    // Every non-key column excluded from update ⇒ the generator emits
    // DO NOTHING; expected state = target ∪ firstWins(source)[keys ∉ target].
    val stmt = UpsertSqlGen.statement(cols, "t", Seq("k"), colsNotForUpdate = Seq("v", "seq"))
    assert(stmt.sql(1).endsWith("DO NOTHING"), stmt.sql(1))

    val target = Seq[R]((1L, "t1", 10L), (2L, "t2", 11L))
    val source = Seq[R](
      (2L, "s2", 101L), (4L, "s4a", 102L), (4L, "s4b", 103L), (5L, "s5", 104L))

    KeyedSinkState.init("reconcile_nothing")
    val factory = new KeyedUpsertFakeFactory("reconcile_nothing", Set.empty)
    Seq(target, source).foreach { rows =>
      PostgresUpsertSink.writePartition(
        asBatch(rows).iterator.map(org.apache.spark.sql.Row.fromSeq(_)),
        stmt, factory, batchSize = 3, maxRejects = None)
    }

    // DO NOTHING == merge with the roles FLIPPED: stored rows always beat
    // incoming ones, and among incoming duplicates the FIRST arrival sticks
    // (negated seq turns lastWriteWins into firstWriteWins).
    val firstWins = MergeOps.lastWriteWins(
      source.toDF(cols: _*), Seq("k"), Seq(-col("seq")))
    val expected = MergeOps.merge(
      firstWins, target.toDF(cols: _*), Seq("k"), Seq(col("seq")))
      .as[R].collect().toSet
    assert(tableState("reconcile_nothing") === expected)
    val byKey = tableState("reconcile_nothing").map(r => r._1 -> r).toMap
    assert(byKey(2L) == ((2L, "t2", 11L)), "conflicting insert must not update")
    assert(byKey(4L) == ((4L, "s4a", 102L)), "first in-source write wins under DO NOTHING")
  }

  test("partial colsNotForUpdate: SET columns update, excluded column keeps stored value") {
    // (k, v, seq) with seq excluded ⇒ SET touches only v; a conflicting row
    // updates the payload but keeps the originally-stored seq.
    val stmt = UpsertSqlGen.statement(cols, "t", Seq("k"), colsNotForUpdate = Seq("seq"))
    assert(stmt.sql(1).contains("""DO UPDATE SET "v" = EXCLUDED."v""""), stmt.sql(1))

    KeyedSinkState.init("reconcile_partial")
    val factory = new KeyedUpsertFakeFactory("reconcile_partial", Set.empty)
    Seq(Seq[R]((1L, "old", 10L)), Seq[R]((1L, "new", 99L), (2L, "fresh", 100L)))
      .foreach { rows =>
        PostgresUpsertSink.writePartition(
          asBatch(rows).iterator.map(org.apache.spark.sql.Row.fromSeq(_)),
          stmt, factory, batchSize = 10, maxRejects = None)
      }
    assert(tableState("reconcile_partial") ===
      Set[R]((1L, "new", 10L), (2L, "fresh", 100L)))
  }

  test("parser round-trips every UpsertSqlGen shape") {
    import UpsertSqlParser._
    assert(parse(UpsertSqlGen.build(Seq("a", "b"), "t")) ==
      UpsertSpec("t", Vector("a", "b"), Vector.empty, InsertOnly))
    assert(parse(UpsertSqlGen.build(Seq("a", "b", "c"), "t", Seq("a"))) ==
      UpsertSpec("t", Vector("a", "b", "c"), Vector("a"), DoUpdate(Vector("b", "c"))))
    assert(parse(UpsertSqlGen.build(Seq("a", "b"), "t", Seq("a"))) ==
      UpsertSpec("t", Vector("a", "b"), Vector("a"), DoUpdate(Vector("b"))))
    assert(parse(UpsertSqlGen.build(Seq("a", "b"), "t", Seq("a"), Seq("b"))) ==
      UpsertSpec("t", Vector("a", "b"), Vector("a"), DoNothing))
    assert(parse(UpsertSqlGen.build(Seq("a", "b", "c"), "t", Seq("a", "b"))) ==
      UpsertSpec("t", Vector("a", "b", "c"), Vector("a", "b"), DoUpdate(Vector("c"))))
    assert(parseRows(UpsertSqlGen.statement(Seq("a", "b", "c"), "t", Seq("a")).sql(3)) ==
      ((UpsertSpec("t", Vector("a", "b", "c"), Vector("a"), DoUpdate(Vector("b", "c"))), 3)))
    assert(parseRows(UpsertSqlGen.statement(Seq("a", "b"), "t").sql(2)) ==
      ((UpsertSpec("t", Vector("a", "b"), Vector.empty, InsertOnly), 2)))
  }
}
