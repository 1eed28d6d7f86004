package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input staging. Every value is a hash of (seed, column
  * salt, row id), so the same seed gives the same rows whatever the
  * partitioning, and the program under test only ever sees the parquet files
  * written here.
  */
object Stager {
  private val Grain = 1L << 40

  /** Uniform double in [0, 1) drawn from row column `idCol`. */
  private def u(seed: Long, salt: Int, idCol: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), idCol), lit(Grain)).cast("double") / Grain.toDouble

  /** Uniform integer in [lo, hi]. */
  private def ui(seed: Long, salt: Int, lo: Long, hi: Long, idCol: Column = col("id")): Column =
    (floor(u(seed, salt, idCol) * (hi - lo + 1)) + lo).cast("long")

  private def pick(seed: Long, salt: Int, values: Seq[String], idCol: Column = col("id")): Column =
    element_at(array(values.map(lit): _*), ui(seed, salt, 1, values.length, idCol).cast("int"))

  private def money(seed: Long, salt: Int, lo: Double, hi: Double, idCol: Column = col("id")): Column =
    round(u(seed, salt, idCol) * (hi - lo) + lo, 2)

  /** Day-granular timestamp between `fromDay` and `fromDay + days` (epoch days). */
  private def day(seed: Long, salt: Int, fromDay: Long, days: Long, idCol: Column = col("id")): Column =
    timestamp_seconds((ui(seed, salt, 0, days, idCol) + fromDay) * 86400L)

  private val Day1995 = 9131L // 1995-01-01

  /** First key of the run's seeded key range. */
  def keyBase(seed: Long): Long = Math.floorMod(seed, 1000L) * 1000000L

  // ---- load_upsert: lineitem with a unique (l_orderkey, l_linenumber) ----

  /** `rows` lineitem rows, four lines per order. `variant` 0 is the insert
    * pass; any other variant keeps every key and redraws every non-key
    * value, so each row of it takes the ON CONFLICT … DO UPDATE arm.
    */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, variant: Int): DataFrame = {
    val s = seed * 31 + variant
    spark.range(0, rows, 1, 4).select(
      (lit(keyBase(seed)) + floor(col("id") / 4)).as("l_orderkey"),
      ui(s, 1, 0, 19999).as("l_partkey"),
      ui(s, 2, 0, 999).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      ui(s, 3, 1, 50).cast("double").as("l_quantity"),
      money(s, 4, 900, 105000).as("l_extendedprice"),
      (ui(s, 5, 0, 10) / 100.0).as("l_discount"),
      (ui(s, 6, 0, 8) / 100.0).as("l_tax"),
      pick(s, 7, Seq("A", "N", "R")).as("l_returnflag"),
      pick(s, 8, Seq("O", "F")).as("l_linestatus"),
      day(s, 9, Day1995, 2500).as("l_shipdate"))
  }

  val LineitemDdl: String =
    """CREATE TABLE bench_lineitem (
      |  l_orderkey bigint NOT NULL, l_partkey bigint, l_suppkey bigint,
      |  l_linenumber integer NOT NULL, l_quantity numeric(12,2),
      |  l_extendedprice numeric(12,2), l_discount numeric(12,2), l_tax numeric(12,2),
      |  l_returnflag char(1), l_linestatus char(1), l_shipdate date,
      |  PRIMARY KEY (l_orderkey, l_linenumber)) WITH (autovacuum_enabled = false)""".stripMargin

  // ---- load_dirty: orders with seeded bad rows and repeated keys ----

  /** Where the seeded defects sit. Row `i` is bad when `i % 1000 == bad`,
    * so every 1000-row stretch has exactly one; it alternates between a
    * NULL `o_custkey` (NOT NULL) and a 20-character priority
    * (`varchar(15)`). Row `i` repeats row `i - 1` exactly when
    * `i % 100 == dup`, so repeats sit next to their original. The two
    * residues never make a repeat of, or at, a bad row.
    */
  final case class DirtyLayout(bad: Int, dup: Int) {
    require(bad >= 0 && bad < 1000 && dup >= 1 && dup < 100)
    require(dup != bad % 100 && dup != (bad + 1) % 100, "repeat would touch a bad row")
    def isBad(i: Long): Boolean = i % 1000 == bad
    def isDup(i: Long): Boolean = i % 100 == dup
    def badCount(rows: Long): Long = countResidue(rows, 1000, bad)
    def dupCount(rows: Long): Long = countResidue(rows, 100, dup)
  }

  private def countResidue(rows: Long, m: Long, r: Long): Long =
    if (rows > r) (rows - 1 - r) / m + 1 else 0

  def dirtyLayout(seed: Long): DirtyLayout = {
    val bad = Math.floorMod(seed * 7919L, 1000L).toInt
    var dup = 1 + Math.floorMod(seed * 104729L, 99L).toInt
    while (dup == bad % 100 || dup == (bad + 1) % 100) dup = 1 + dup % 99
    DirtyLayout(bad, dup)
  }

  def dirtyOrders(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    val lay = dirtyLayout(seed)
    val id = col("id")
    // A repeat draws every value from its original's row id.
    val src = when(id % 100 === lay.dup, id - 1).otherwise(id)
    val bad = id % 1000 === lay.bad
    val badKind = pmod(floor(id / 1000), lit(2L))
    spark.range(0, rows, 1, 4).select(
      (lit(keyBase(seed)) + src).as("o_orderkey"),
      when(bad && badKind === 0, lit(null).cast("long"))
        .otherwise(ui(seed, 11, 0, 14999, src)).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P"), src).as("o_orderstatus"),
      money(seed, 13, 1000, 500000, src).as("o_totalprice"),
      day(seed, 14, Day1995, 2400, src).as("o_orderdate"),
      when(bad && badKind === 1, lit("5-PRIORITY-TOO-LONG"))
        .otherwise(pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"), src)).as("o_orderpriority"))
  }

  val OrdersDdl: String =
    """CREATE TABLE bench_orders (
      |  o_orderkey bigint PRIMARY KEY, o_custkey bigint NOT NULL,
      |  o_orderstatus char(1), o_totalprice numeric(12,2), o_orderdate date,
      |  o_orderpriority varchar(15)) WITH (autovacuum_enabled = false)""".stripMargin
}
