package graft.perfbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The stager gives the same rows for the same seed and exactly the seeded
  * defects, which is what the benchmark's correctness checks rely on.
  */
class StagerSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("dirty orders are deterministic per seed and differ across seeds") {
    val a = rowsOf(Stager.dirtyOrders(spark, 7, 5000))
    assert(a === rowsOf(Stager.dirtyOrders(spark, 7, 5000)))
    assert(a !== rowsOf(Stager.dirtyOrders(spark, 8, 5000)))
  }

  test("dirty orders carry exactly the seeded bad rows and repeated keys") {
    for (seed <- Seq(1L, 2L, 42L, 999L); rows <- Seq(999L, 10000L, 12345L)) {
      val lay = Stager.dirtyLayout(seed)
      val df = Stager.dirtyOrders(spark, seed, rows)
      val nulls = df.filter(col("o_custkey").isNull).count()
      val long = df.filter(length(col("o_orderpriority")) > 15).count()
      assert(nulls + long === lay.badCount(rows), s"seed $seed rows $rows")
      assert(nulls > 0 || rows < 2000, "both defect kinds appear")
      assert(long > 0 || rows < 2000)
      val keys = df.select("o_orderkey").distinct().count()
      assert(rows - keys === lay.dupCount(rows), s"seed $seed rows $rows")
      // A repeat is an exact copy of its original, so the final table state
      // does not depend on which of the two lands last.
      assert(df.distinct().count() === keys)
      assert((0L until rows).count(lay.isBad) === lay.badCount(rows))
      assert((0L until rows).count(lay.isDup) === lay.dupCount(rows))
    }
  }

  test("no seed places a repeat at, or of, a bad row") {
    (0L until 3000L).foreach { seed =>
      val lay = Stager.dirtyLayout(seed) // the layout's own requires hold
      assert(!(0L until 2000L).exists(i => lay.isDup(i) && (lay.isBad(i) || lay.isBad(i - 1))))
    }
  }

  test("lineitem: unique keys, and the update variant keeps every key") {
    val ins = Stager.lineitem(spark, 3, 4000, variant = 0)
    val upd = Stager.lineitem(spark, 3, 4000, variant = 1)
    val key = Seq("l_orderkey", "l_linenumber")
    assert(ins.select(key.map(col): _*).distinct().count() === 4000)
    assert(ins.select(key.map(col): _*).exceptAll(upd.select(key.map(col): _*)).count() === 0)
    assert(ins.join(upd, key).filter(ins("l_extendedprice") =!= upd("l_extendedprice")).count() > 3900)
    assert(rowsOf(ins) === rowsOf(Stager.lineitem(spark, 3, 4000, variant = 0)))
  }
}
