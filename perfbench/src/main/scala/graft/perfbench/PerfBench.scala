package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Loader, PsqlConnectionFactory}
import graft.sink.{ConnectionFactory, LoadStats}
import graft.sources.SourceRegistry

/** One benchmark run of one workload, in one JVM. `perfbench/run.py` builds
  * the classpath, owns the run directories and prints the result; this main
  * sets up, measures, checks and writes `<work>/result.json`.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --pg <dir> --cpus <n>`.
  */
object PerfBench {

  /** Rows per load pass. The sf0.1 sizes (600k lineitem, 150k
    * orders) take longer through the psql backend than one run may last,
    * so each load uses a seeded key range of this size.
    */
  val UpsertRows = 50000L
  val DirtyRows = 50000L
  /** How many times a run sets up from scratch; `setup_s` is the median. */
  val Setups = 3
  val BatchSize = 1000
  val PsqlWriteRows = 250

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, pgBase: Path, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("pg")), need("cpus").toInt)
  }

  /** A run's outcome: end-to-end or per-layer metrics (value, unit), the
    * failed checks, and the labels that say what box and backend it ran on.
    */
  final case class Result(metrics: Seq[(String, Double, String)], attempted: Long,
      failed: Long, problems: Seq[String], labels: Seq[(String, String)])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val res = a.workload match {
      case "load_upsert" | "load_dirty" => new LoadRun(a).run()
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    Files.writeString(a.work.resolve("result.json"), toJson(res))
    System.exit(0)
  }

  // ---- shared pieces -------------------------------------------------------

  /** The session settings of `graft.Bench`; heap comes from the launcher. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `graft.Bench`'s contention sentinel: a constant plan with one exchange
    * and no table input, so its time measures the box, not the code.
    */
  def sentinelS(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 10000000L, 1, 32).selectExpr("id % 97 AS k", "id")
      .groupBy("k").sum("id").write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def boxLabels(a: Args): Seq[(String, String)] = Seq(
    "nproc" -> a.cpus.toString,
    "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
    "pgjdbc" -> (try { Class.forName("org.postgresql.Driver"); "present" }
      catch { case _: ClassNotFoundException => "absent" }))

  def note(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def toJson(r: Result): String = {
    val metrics = r.metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s"${jsonStr(n)}: {\"value\": $v, \"unit\": ${jsonStr(u)}}"
    }.mkString("{", ", ", "}")
    val labels = r.labels.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ", ", "}")
    s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": $metrics, """ +
      s""""problems": ${r.problems.map(jsonStr).mkString("[", ", ", "]")}, "labels": $labels}"""
  }

  /** The per-layer metrics of the traced run (`per_layer` in
    * BENCHMARK.json). A metric a workload has no layer for reads 0 (ratios
    * 1), as `load.update_rows_per_s` on `load_dirty`.
    */
  val LayerNames: Seq[(String, String)] = Seq(
    "load.insert_rows_per_s" -> "1/s", "load.update_rows_per_s" -> "1/s",
    "load.failed_share" -> "ratio", "load.rows_routed" -> "count",
    "trace.overhead_s" -> "s",
    "sources.scan_s" -> "s", "schema.conform_s" -> "s", "sink.route_s" -> "s",
    "meta.catalog_s" -> "s",
    "sink.upsert_s" -> "s", "sink.conn_s" -> "s", "sink.execute_s" -> "s",
    "sink.commit_s" -> "s", "sink.execute_calls" -> "count", "sink.rows_sent" -> "count",
    "sink.batches" -> "count", "sink.connects" -> "count", "sink.pull_s" -> "s",
    "sink.savepoint_s" -> "s", "sink.rollbacks" -> "count", "sink.useful_ratio" -> "ratio",
    "sink.batch_conn_ms_p50" -> "ms", "sink.batch_conn_ms_tail" -> "ms",
    "sink.batch_conn_tail_pct" -> "%", "sink.partition_skew" -> "ratio",
    "pg.wal_bytes_per_row" -> "B", "pg.xact_commits" -> "count",
    "pg.tup_inserted" -> "count", "pg.tup_updated" -> "count",
    "queries.plan_s" -> "s", "queries.exec_s" -> "s", "queries.shuffle_bytes" -> "B",
    "queries.spill_bytes" -> "B", "queries.stages" -> "count", "queries.gc_s" -> "s")

  /** Fills the per-layer set: `got` wins, the rest read 0 (ratios 1). */
  def layerMetrics(got: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = got.keySet -- LayerNames.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    LayerNames.map { case (n, u) =>
      (n, got.getOrElse(n, if (u == "ratio" && n != "load.failed_share") 1.0 else 0.0), u)
    }
  }

  /** Engine counters as per-layer metrics. */
  def engineMetrics(e: EngineMeter): Map[String, Double] = Map(
    "queries.plan_s" -> e.planNs.get / 1e9, "queries.exec_s" -> e.execNs.get / 1e9,
    "queries.shuffle_bytes" -> e.shuffleBytes.get.toDouble,
    "queries.spill_bytes" -> e.spillBytes.get.toDouble,
    "queries.stages" -> e.stages.get.toDouble, "queries.gc_s" -> e.gcMs.get / 1e3)

  /** Runs rounds of a workload until `--seconds` have gone, at least one,
    * and returns the untraced and the traced rounds' results. The traced run
    * alternates traced and untraced rounds, at least one of each, so that it
    * can report its own overhead. Callers run one warm round first.
    */
  def schedule[A](a: Args)(one: Boolean => A): (Seq[A], Seq[A]) = {
    val untraced, traced = Seq.newBuilder[A]
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || secondsSince(t0) < a.seconds || (a.trace && n < 2)) {
      val traceIt = a.trace && n % 2 == 0
      (if (traceIt) traced else untraced) += one(traceIt)
      n += 1
    }
    (untraced.result(), traced.result())
  }

  /** Runs `body` with the engine meter attached, the span recorder on and the
    * sink counters cleared.
    */
  def traced[A](spark: SparkSession, e: EngineMeter)(body: => A): A = {
    SinkMeter.reset(); Trace.reset(); e.reset()
    spark.sparkContext.addSparkListener(e)
    spark.listenerManager.register(e)
    Trace.enabled = true
    try body
    finally {
      Trace.enabled = false
      // Listener events are delivered asynchronously; wait for the bus.
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(e)
      spark.sparkContext.removeSparkListener(e)
    }
  }

  // ---- loads ---------------------------------------------------------------

  /** `load_upsert` and `load_dirty`: each round truncates the target and
    * times `Loader.loadPostgres` pass by pass, until `--seconds` have gone.
    */
  final class LoadRun(a: Args) {
    private val upsert = a.workload == "load_upsert"
    private val table = if (upsert) "bench_lineitem" else "bench_orders"
    private val key = if (upsert) Seq("l_orderkey", "l_linenumber") else Seq("o_orderkey")
    private val rows = if (upsert) UpsertRows else DirtyRows
    private val layout = Stager.dirtyLayout(a.seed)
    private val expectedRejects = if (upsert) 0L else layout.badCount(rows)
    private val src = a.work.resolve("staged")
    private def passPath(p: Int) = src.resolve(s"pass$p.parquet").toString
    private val passes = if (upsert) Seq(1, 2) else Seq(1)

    private def stage(spark: SparkSession): Unit = passes.foreach { p =>
      val df =
        if (upsert) Stager.lineitem(spark, a.seed, rows, variant = p - 1)
        else Stager.dirtyOrders(spark, a.seed, rows)
      df.write.mode("overwrite").parquet(passPath(p))
    }

    private def cfg(p: Int, tableName: String = table) = Loader.LoadConfig(
      source = "parquet", path = passPath(p), targetTable = s"public.$tableName",
      batchSize = BatchSize, parallelism = a.cpus, partitionCols = key)

    /** Cluster up, DDL, staging, session and a warm-up load, from nothing. */
    private def setUp(i: Int): (PgCluster, SparkSession, Double) = {
      val t0 = System.nanoTime()
      val spark = session(a)
      val pg = new PgCluster(a.pgBase.resolve(s"c$i"))
      clusters = pg :: clusters
      pg.start()
      val ddl = if (upsert) Stager.LineitemDdl else Stager.OrdersDdl
      pg.psql(ddl)
      pg.psql(ddl.replace(s"CREATE TABLE $table", s"CREATE TABLE ${table}_warm"))
      stage(spark)
      // Warm-up: the same load path on the first rows, into a side table.
      val warm = spark.read.parquet(passPath(1)).limit(2 * BatchSize)
      warm.write.mode("overwrite").parquet(a.work.resolve("warm.parquet").toString)
      Loader.loadPostgres(spark, cfg(1, s"${table}_warm").copy(
        path = a.work.resolve("warm.parquet").toString),
        new PsqlPgCatalog(pg), backend(pg))
      (pg, spark, secondsSince(t0))
    }

    @volatile private var clusters: List[PgCluster] = Nil

    /** The library's psql-pipe backend, fed at most `PsqlWriteRows` rows per
      * write (see [[ChunkedConnectionFactory]]).
      */
    private def backend(pg: PgCluster): ConnectionFactory =
      ChunkedConnectionFactory(PsqlConnectionFactory(pg.sock), PsqlWriteRows)

    def run(): Result = {
      sys.addShutdownHook(clusters.foreach(_.stop()))
      val setups = (1 to Setups).map { i =>
        val s = setUp(i)
        note(f"setup $i%d ${s._3}%.3f s")
        if (i < Setups) { s._1.stop(); s._2.stop() }
        s
      }
      val (pg, spark, _) = setups.last
      val setupS = Stats.median(setups.map(_._3))
      val catalog = new PsqlPgCatalog(pg)
      val plain = backend(pg)
      val sentinelStart = sentinelS(spark)

      val routedPerPass = passes.map(p => spark.read.parquet(passPath(p)).count())
      val want = passes.map(p => p -> expectedAggs(spark, catalog, p)).toMap
      val problems = Seq.newBuilder[String]
      var attempted = 0L
      var failed = 0L
      var layer = Map.empty[String, Double]
      var roundBad = 0L

      /** One round: truncate, then every pass; returns (round wall, pass walls).
        * An untraced round checks the table after each pass, outside the pass
        * walls: the insert pass must leave exactly its own rows, whatever the
        * update pass would later fill in. A traced round skips the check, so
        * that its queries stay out of the server counters.
        */
      def round(traceIt: Boolean): (Double, Seq[Double]) = {
        // Every round starts from the same server state: an empty table, no
        // dirty buffers, and WAL segments that recycle instead of being
        // created and zero-filled mid-round.
        pg.psql(s"TRUNCATE $table")
        pg.psql("CHECKPOINT")
        roundBad = 0L
        val before = if (traceIt) Some(PgCounters.read(pg)) else None
        val (factory, cat): (ConnectionFactory, graft.meta.PgCatalog) =
          if (traceIt) (CountingConnectionFactory(plain), new TracedCatalog(catalog))
          else (plain, catalog)
        def passes_(): Seq[Double] = passes.zip(routedPerPass).map { case (p, routed) =>
          val t0 = System.nanoTime()
          val st: LoadStats = Trace.span(s"load.pass$p") {
            Loader.loadPostgres(spark, cfg(p), cat, factory)
          }
          val wall = secondsSince(t0)
          val unread = routed - st.loaded - st.rejected
          attempted += routed
          roundBad += unread + st.rejected
          failed += unread + math.abs(st.rejected - expectedRejects)
          if (unread != 0) problems += s"pass $p: $unread rows neither loaded nor rejected"
          if (st.rejected != expectedRejects)
            problems += s"pass $p: rejected ${st.rejected}, seeded $expectedRejects"
          if (!traceIt) problems ++= checkTable(pg, p, want(p))
          wall
        }
        val walls =
          if (traceIt) traced(spark, engine)(passes_()) else passes_()
        if (traceIt) {
          Thread.sleep(200) // let exited sink backends' stats land
          val after = PgCounters.read(pg)
          layer = traceLayer(routedPerPass, walls, roundBad, before.get, after)
        }
        (walls.sum, walls)
      }

      // The first round after set-up runs cold; it is checked like the
      // others but not reported.
      round(traceIt = false)
      val (untraced, tracedRounds) = schedule(a) { traceIt =>
        val r = round(traceIt)
        note(f"round traced=$traceIt%s passes ${r._2.map(w => f"$w%.3f").mkString(" ")} s")
        r
      }
      val sentinelEnd = sentinelS(spark)

      problems ++= checkTable(pg, passes.last, want(passes.last))
      val sizeBytes = pg.one(s"SELECT pg_total_relation_size('$table')").toDouble
      val liveRows = pg.one(s"SELECT count(*) FROM $table").toDouble
      val routedRound = routedPerPass.sum.toDouble

      val metrics =
        if (!a.trace) Seq(
          ("setup_s", setupS, "s"),
          ("insert_rows_per_s", Stats.median(untraced.map(r => routedPerPass.head / r._2.head)), "1/s"),
          ("rows_per_s", Stats.median(untraced.map(r => routedRound / r._1)), "1/s"),
          ("pg_bytes_per_row", sizeBytes / liveRows, "B"))
        else {
          val overhead = Stats.median(tracedRounds.map(_._1)) - Stats.median(untraced.map(_._1))
          layerMetrics(layer ++ layerProbes(spark, catalog) + ("trace.overhead_s" -> overhead))
        }
      val flush = Seq("fsync", "synchronous_commit", "full_page_writes", "log_min_messages")
        .map(k => s"$k=${pg.setting(k)}").mkString(" ")
      val version = pg.serverVersion
      spark.stop()
      clusters.foreach(_.stop())
      Result(metrics, attempted, failed, problems.result(),
        boxLabels(a) ++ Seq(
          "backend" -> ("psql pipe (PsqlConnectionFactory, one rendered statement per row), " +
            s"fed at most $PsqlWriteRows rows per write (ChunkedConnectionFactory)"),
          "postgres" -> version,
          "flush" -> s"$flush; autovacuum off on the bench tables",
          "rows_per_pass" -> rows.toString,
          "rounds" -> (untraced.size + tracedRounds.size).toString,
          "seeded_rejects" -> expectedRejects.toString,
          "seeded_repeats" -> (if (upsert) "0" else layout.dupCount(rows).toString),
          "sentinel_start_s" -> f"$sentinelStart%.3f",
          "sentinel_end_s" -> f"$sentinelEnd%.3f"))
    }

    /** Sink, server and engine numbers of one traced round. */
    private def traceLayer(routed: Seq[Long], walls: Seq[Double], bad: Long,
        b: PgCounters, e: PgCounters): Map[String, Double] = {
      val rowsRound = routed.sum.toDouble
      val ms = SinkMeter.batchConnMs
      val tailPct = Stats.tailPercentile(ms.length)
      val perConn = SinkMeter.connectionRows
      val insertWall = walls.head
      Map(
        "load.insert_rows_per_s" -> routed.head / insertWall,
        "load.update_rows_per_s" -> (if (upsert) routed(1) / walls(1) else 0.0),
        "load.failed_share" -> bad / rowsRound,
        "load.rows_routed" -> rowsRound,
        "meta.catalog_s" -> Trace.totalS("meta.catalog"),
        "sink.upsert_s" -> passes.map(p => Trace.selfS(s"load.pass$p")).sum,
        "sink.conn_s" -> SinkMeter.connNs.get / 1e9,
        "sink.execute_s" -> SinkMeter.executeNs.get / 1e9,
        "sink.commit_s" -> SinkMeter.commitNs.get / 1e9,
        "sink.savepoint_s" -> SinkMeter.savepointNs.get / 1e9,
        "sink.pull_s" -> SinkMeter.pullNs.get / 1e9,
        "sink.execute_calls" -> SinkMeter.executeCalls.get.toDouble,
        "sink.rows_sent" -> SinkMeter.rowsSent.get.toDouble,
        "sink.batches" -> SinkMeter.batches.get.toDouble,
        "sink.connects" -> SinkMeter.connects.get.toDouble,
        "sink.rollbacks" -> SinkMeter.rollbacks.get.toDouble,
        "sink.useful_ratio" -> SinkMeter.rowsRouted.get / SinkMeter.rowsSent.get.toDouble,
        "sink.batch_conn_ms_p50" -> Stats.percentile(ms, 50),
        "sink.batch_conn_ms_tail" -> Stats.percentile(ms, tailPct),
        "sink.batch_conn_tail_pct" -> tailPct,
        "sink.partition_skew" -> (if (perConn.isEmpty) 1.0
          else perConn.max / (perConn.sum.toDouble / perConn.size)),
        "pg.wal_bytes_per_row" -> ((e.walLsnBytes - b.walLsnBytes) / rowsRound).toDouble,
        "pg.xact_commits" -> (e.xactCommit - b.xactCommit).toDouble,
        "pg.tup_inserted" -> (e.tupInserted - b.tupInserted).toDouble,
        "pg.tup_updated" -> (e.tupUpdated - b.tupUpdated).toDouble) ++
        engineMetrics(engine)
    }

    private val engine = new EngineMeter

    /** The load's Spark side split by layer, from outside: noop-sink walls of
      * the scanned source, the conformed frame, and the conformed frame
      * after the sink's key repartition. Each layer's figure is its wall
      * minus the one below it.
      */
    private def layerProbes(spark: SparkSession, catalog: graft.meta.PgCatalog): Map[String, Double] = {
      def noopS(df: => DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        secondsSince(t0)
      }
      val c = cfg(1)
      def source = SourceRegistry(c.source).load(spark, c.path, c.sourceOptions)
      def conformed = Loader.conformToTable(source, catalog, c)
      def routed = conformed.repartition(c.parallelism, key.map(col): _*)
      noopS(routed) // warm the probe plans once
      // Interleaved draws, medians: a difference below the probes' noise can
      // read negative, which says the layer costs less than that noise.
      val draws = (1 to 3).map(_ => (noopS(source), noopS(conformed), noopS(routed)))
      val scan = Stats.median(draws.map(_._1))
      val conform = Stats.median(draws.map(_._2))
      val route = Stats.median(draws.map(_._3))
      Map("sources.scan_s" -> scan, "schema.conform_s" -> (conform - scan),
        "sink.route_s" -> (route - conform))
    }

    /** The table check's aggregates (row count, column sums, flag counts),
      * as Spark columns and as the same SQL over the table.
      */
    private val aggs: (Seq[Column], String) =
      if (upsert) (
        Seq(count(lit(1)), sum("l_orderkey"), sum("l_linenumber"), sum("l_partkey"),
          sum("l_suppkey"), sum("l_quantity"), sum("l_extendedprice"), sum("l_discount"),
          sum("l_tax"), sum(when(col("l_returnflag") === "R", 1).otherwise(0)),
          sum(when(col("l_linestatus") === "O", 1).otherwise(0)),
          sum(datediff(col("l_shipdate"), lit("1970-01-01").cast("date")))),
        "count(*), sum(l_orderkey), sum(l_linenumber), sum(l_partkey), sum(l_suppkey), " +
          "sum(l_quantity), sum(l_extendedprice), sum(l_discount), sum(l_tax), " +
          "sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END), " +
          "sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END), " +
          "sum(l_shipdate - date '1970-01-01')")
      else (
        Seq(count(lit(1)), sum("o_orderkey"), sum("o_custkey"), sum("o_totalprice"),
          sum(when(col("o_orderstatus") === "P", 1).otherwise(0)),
          sum(length(col("o_orderpriority"))),
          sum(datediff(col("o_orderdate"), lit("1970-01-01").cast("date")))),
        "count(*), sum(o_orderkey), sum(o_custkey), sum(o_totalprice), " +
          "sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END), " +
          "sum(length(o_orderpriority)), sum(o_orderdate - date '1970-01-01')")

    /** What the table must hold after pass `p`, as Spark computes it from the
      * staged source after the same casts: that pass's rows, minus the
      * seeded bad rows, one row per key.
      */
    private def expectedAggs(spark: SparkSession, catalog: graft.meta.PgCatalog,
        p: Int): Seq[BigDecimal] = {
      val c = cfg(p)
      var expected = Loader.conformToTable(
        SourceRegistry(c.source).load(spark, c.path, Map.empty), catalog, c)
      if (!upsert)
        expected = expected.filter(col("o_custkey").isNotNull && length(col("o_orderpriority")) <= 15)
      expected.dropDuplicates(key).agg(aggs._1.head, aggs._1.tail: _*).head().toSeq
        .map(v => BigDecimal(String.valueOf(v)))
    }

    private def checkTable(pg: PgCluster, p: Int, want: Seq[BigDecimal]): Seq[String] = {
      val got = pg.one(s"SELECT ${aggs._2} FROM $table").split("\\|").toSeq.map(BigDecimal(_))
      if (want == got) Nil
      else Seq(s"$table state after pass $p differs from the staged source: postgres $got, spark $want")
    }
  }
}
