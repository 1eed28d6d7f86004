package graft.queries

import java.nio.file.{Files, Paths}

/** Shared tmpdir staging for fixture-backed queries (CSV/JSON round-trips,
  * file-stream sources): one materialization per (kind, sfDir, table) per
  * JVM under a pid-unique path, recursively deleted at JVM exit. The pid
  * component keeps concurrent harness runs from racing on a shared tmpdir.
  */
private[queries] object Staging {

  private val staged = scala.collection.concurrent.TrieMap.empty[(String, String, String), String]
  private val memoized = scala.collection.concurrent.TrieMap.empty[(String, String), Any]
  private val sinkIds = new java.util.concurrent.atomic.AtomicLong()
  // previous memory sink PER SESSION — dropping is catalog-scoped, so a
  // global "last" would no-op across sessions and leak the other's result.
  // Weak keys: a strong Map would pin every session that ever ran a stream
  // gate for the JVM lifetime (slow leak in long-lived multi-session
  // harnesses). Accessed only under `synchronized` (WeakHashMap is unsafe
  // to share otherwise).
  private val lastStreamSink =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]

  /** Stage once per (kind, dir, table); `write(path)` materializes on first
    * use. Returns the staged path. First-use creation is serialized (two
    * concurrent first callers would otherwise both run `write` against the
    * same deterministic path); the cleanup hook registers BEFORE the write
    * so an interrupted materialization cannot leak a partial directory.
    */
  def dir(kind: String, sfDir: String, table: String)(write: String => Unit): String = {
    val key = (kind, sfDir, table)
    staged.getOrElse(key, synchronized {
      staged.getOrElseUpdate(key, {
        val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
        val p = s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
          s"${ProcessHandle.current().pid()}_${tag}_$table"
        cleanupOnExit(p)
        write(p)
        p
      })
    })
  }

  /** Memoize a small driver-side value per (kind, sfDir) per JVM — the
    * value analogue of [[dir]], for gate inputs that are LEARNED from a
    * fixture by a bounded driver computation (e.g. the BPE merge rules:
    * 6 rows, deterministic for a given fixture). A gate that re-learns
    * such a value on every invocation bills the trainer's cost to every
    * bench rep of the CONSUMER gate; staging it once per (sf, JVM) makes
    * the consumer gate measure the consumer (the trainer keeps its own
    * gate, which still learns live). Values must be small (driver-held
    * for the JVM lifetime) and a pure function of the fixture.
    */
  def memo[T](kind: String, sfDir: String)(compute: => T): T =
    memoized.getOrElseUpdate((kind, sfDir), compute).asInstanceOf[T]

  /** Events fixture + ONE far-future sentinel file for the append-mode
    * stream gates (`q_stream_sessionize`, `q_stream_windows`): the sentinel
    * advances the watermark past every real session's `end + gap` deadline
    * (and, a fortiori, past every real window's close + delay) so event-time
    * timeouts close ALL real sessions and append mode finalizes ALL real
    * windows. Emission fires in a batch AFTER the watermark advances; that
    * batch is the engine's watermark-driven NO-DATA batch, which
    * [[streamSession]] pins on (`noDataMicroBatches.enabled`) — so the
    * guaranteed-data second sentinel the protocol used through r21 bought
    * nothing but one extra micro-batch's full state-store commit cycle per
    * gate per rep (r22: the protocol floor was the sweep's largest cost
    * block; `processAllAvailable` provably waits for the no-data
    * finalization batch — the r21 gates ALREADY emitted through it, because
    * their file-count packing also counted parquet-java's hidden `.crc`
    * artifacts and so put both sentinels into the data batch, oracle green
    * both rounds).
    * Modification times order the replay events-first. Sentinel rows carry
    * `user_id = -1` / `event_type = 'sentinel'`; callers filter them back
    * out of their sink.
    */
  def streamSessionizeDir(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      gapSec: Long): String =
    dir("streamsess", sfDir, "events") { p =>
      Files.createDirectories(Paths.get(p))
      // The replay is the NORMALIZED events frame ([[graft.Tables.events]]:
      // ts as a nanosecond BIGINT whatever the fixture's physical type), so
      // the int64-ts sentinel files below always share its schema — staging
      // a raw fixture copy broke every stream gate when the fixture flipped
      // to timestamp[us] (round 10).
      writeOneParquet(graft.Tables.events(spark, sfDir), p, "a_events.parquet")
      val maxTs = spark.read.parquet(s"$p/a_events.parquet")
        .agg(org.apache.spark.sql.functions.max("ts")).head().getLong(0)
      val gapNs = gapSec * 1000000000L
      // One-row sentinel files written directly with parquet-java — a Spark
      // job per sentinel (write + part-file move) was machinery for a single
      // row that an in-process writer produces in microseconds.
      writeSentinel(Paths.get(p, "b_sentinel.parquet"), maxTs + 10 * gapNs)
      val now = System.currentTimeMillis()
      Seq("a_events.parquet" -> (now - 30000), "b_sentinel.parquet" -> (now - 20000))
        .foreach { case (n, t) =>
          Paths.get(p, n).toFile.setLastModified(t); ()
        }
    }

  /** A single sentinel row (`user_id = -1`, `event_type = 'sentinel'`)
    * written as a standalone parquet file, schema-compatible with the events
    * fixture (the stream gates read by the pinned fixture schema, so only
    * names/types must line up — column order is irrelevant).
    */
  private def writeSentinel(path: java.nio.file.Path, ts: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message sentinel {
        |  optional int64 event_id;
        |  optional int64 user_id;
        |  optional binary event_type (UTF8);
        |  optional double value;
        |  optional int64 ts;
        |}""".stripMargin)
    val writer = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(path.toString),
        new org.apache.hadoop.conf.Configuration()))
      .withType(schema)
      .build()
    val g = new SimpleGroupFactory(schema).newGroup()
    g.add("event_id", -1L)
    g.add("user_id", -1L)
    g.add("event_type", "sentinel")
    g.add("value", 0.0)
    g.add("ts", ts)
    try writer.write(g) finally writer.close()
  }

  /** Documents replay for the streaming document gates: the documents
    * fixture with a synthetic event time (`ts` = (1.6e9 + doc_id) seconds,
    * as a nanosecond BIGINT like the events replay) split into TWO parquet
    * files on doc_id parity, modification-time ordered — so near-dup pairs
    * / sketch state must cross a micro-batch boundary and the keyed STATE
    * is exercised, not just the in-batch path. ONE far-future NULL-text
    * sentinel file follows (`doc_id = -1`), the [[streamSessionizeDir]]
    * sentinel + pinned-no-data-batch protocol, for gates whose emission is
    * TIMEOUT-driven (q_stream_topk): null text vanishes in every downstream
    * filter/explode, but the rows pass the pre-filter watermark node, so
    * they advance event time without entering any operator state.
    * (q_stream_neardup emits inline and simply never sees them.)
    */
  def streamDocsDir(spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    dir("streamdocs", sfDir, "documents") { p =>
      Files.createDirectories(Paths.get(p))
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.t(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"),
          ((col("doc_id") + 1600000000L) * 1000000000L).cast("long").as("ts"))
      val now = System.currentTimeMillis()
      Seq(0, 1).foreach { parity =>
        val name = if (parity == 0) "a_docs.parquet" else "b_docs.parquet"
        writeOneParquet(docs.filter(col("doc_id") % 2 === parity), p, name)
        Paths.get(p, name).toFile.setLastModified(now - 30000 + parity * 10000); ()
      }
      val maxTs = spark.read.parquet(s"$p/b_docs.parquet")
        .agg(org.apache.spark.sql.functions.max("ts")).head().getLong(0)
      val monthNs = 30L * 86400 * 1000000000L
      writeDocSentinel(Paths.get(p, "c_sentinel.parquet"), maxTs + 10 * monthNs)
      Paths.get(p, "c_sentinel.parquet").toFile.setLastModified(now - 15000); ()
    }

  /** Documents-with-metadata replay for the corpus-health stream gates
    * (q_stream_simpson, q_stream_gini): like [[streamDocsDir]] but also
    * carrying `source` and `lang`, split on doc_id parity into two
    * micro-batch files so per-source count-map STATE must merge across a
    * batch boundary. ONE far-future sentinel file follows (`source =
    * 'sentinel'`, NULL text) — the [[streamSessionizeDir]] sentinel +
    * pinned-no-data-batch protocol; callers filter the sentinel KEY's rows
    * from the sink (a NULL text contributes no tokens to the gini state).
    */
  def streamDocMetaDir(spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    dir("streamdocmeta", sfDir, "documents") { p =>
      Files.createDirectories(Paths.get(p))
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.t(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          ((col("doc_id") + 1600000000L) * 1000000000L).cast("long").as("ts"))
      val now = System.currentTimeMillis()
      Seq(0, 1).foreach { parity =>
        val name = if (parity == 0) "a_docs.parquet" else "b_docs.parquet"
        writeOneParquet(docs.filter(col("doc_id") % 2 === parity), p, name)
        Paths.get(p, name).toFile.setLastModified(now - 30000 + parity * 5000L); ()
      }
      val maxTs = spark.read.parquet(s"$p/b_docs.parquet")
        .agg(org.apache.spark.sql.functions.max("ts")).head().getLong(0)
      val monthNs = 30L * 86400 * 1000000000L
      writeDocMetaSentinel(Paths.get(p, "c_sentinel.parquet"), maxTs + 10 * monthNs)
      Paths.get(p, "c_sentinel.parquet").toFile.setLastModified(now - 15000); ()
    }

  /** A single `source = 'sentinel'` NULL-text row for the documents-with-
    * metadata replay (see [[streamDocMetaDir]]).
    */
  private def writeDocMetaSentinel(path: java.nio.file.Path, ts: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message doc_meta_sentinel {
        |  optional int64 doc_id;
        |  optional binary source (UTF8);
        |  optional binary lang (UTF8);
        |  optional binary text (UTF8);
        |  optional int64 ts;
        |}""".stripMargin)
    val writer = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(path.toString),
        new org.apache.hadoop.conf.Configuration()))
      .withType(schema)
      .build()
    val g = new SimpleGroupFactory(schema).newGroup()
    g.add("doc_id", -1L)
    g.add("source", "sentinel")
    g.add("lang", "sentinel")
    // `text` deliberately unset: NULL contributes no tokens but the row
    // still drives the watermark and times the sentinel key out.
    g.add("ts", ts)
    try writer.write(g) finally writer.close()
  }

  /** Schema of the staged documents-with-metadata replay. */
  def replayDocMetaSchema(spark: org.apache.spark.sql.SparkSession, staged: String)
      : org.apache.spark.sql.types.StructType =
    stagedSchema(spark, s"$staged/a_docs.parquet")

  /** Embeddings replay for the streaming SRP near-dup gate: batch 1 is the
    * base corpus, batch 2 the planted near-dup twins (q_embed_neardup's
    * construction: id + 1e6, first coordinate exactly doubled) — so every
    * planted pair crosses the micro-batch boundary through bucket state,
    * the new-batch-vs-corpus framing. Event time `ts` =
    * (1.6e9 + vec_id % 1e6) seconds as nanosecond BIGINT (twins
    * co-temporal with their base). No sentinels: emission is inline.
    */
  def streamEmbDir(spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    dir("streamemb", sfDir, "embeddings") { p =>
      Files.createDirectories(Paths.get(p))
      import org.apache.spark.sql.functions._
      val e = graft.Tables.t(spark, sfDir, "embeddings")
      val ts = ((col("vec_id") % 1000000L + 1600000000L) * 1000000000L).cast("long")
      val base = e.select(col("vec_id"), col("embedding"), ts.as("ts"))
      val planted = e.select((col("vec_id") + 1000000L).as("vec_id"),
        concat(array(element_at(col("embedding"), 1) * lit(2.0f)),
          slice(col("embedding"), 2, 63)).as("embedding"))
        .select(col("vec_id"), col("embedding"), ts.as("ts"))
      val now = System.currentTimeMillis()
      Seq("a_base.parquet" -> base, "b_planted.parquet" -> planted)
        .zipWithIndex.foreach { case ((name, df), i) =>
          writeOneParquet(df, p, name)
          Paths.get(p, name).toFile.setLastModified(now - 30000 + i * 10000L)
          ()
        }
    }

  /** Query vectors 100–109 as a TWO-file replay (one micro-batch each
    * under maxFilesPerTrigger = 1) for the stateless ANN probe stream
    * gate. No sentinel files: the probe holds no state and waits on no
    * watermark — every emission lands in its own batch.
    */
  def streamQueryVecDir(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): String =
    dir("streamqvec", sfDir, "embeddings") { p =>
      Files.createDirectories(Paths.get(p))
      import org.apache.spark.sql.functions._
      val e = graft.Tables.t(spark, sfDir, "embeddings")
        .filter(col("vec_id").between(100, 109))
        .select(col("vec_id"), col("embedding"))
      val now = System.currentTimeMillis()
      Seq(("a_q.parquet", col("vec_id") < 105),
          ("b_q.parquet", col("vec_id") >= 105))
        .zipWithIndex.foreach { case ((name, pred), i) =>
          writeOneParquet(e.filter(pred), p, name)
          Paths.get(p, name).toFile.setLastModified(now - 30000 + i * 10000L)
          ()
        }
    }

  /** Write `df` as ONE parquet file named `name` directly under `destDir`.
    * Spark writes to a side dir and only the part file moves in: the
    * file-stream source reads every visible file in the directory, so a
    * `_SUCCESS` marker or a second part file would enter the replay.
    */
  private[queries] def writeOneParquet(
      df: org.apache.spark.sql.DataFrame, destDir: String, name: String): Unit = {
    val tmp = s"${destDir}_stage_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Option(new java.io.File(tmp).listFiles()).toSeq.flatten
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written under $tmp"))
    Files.move(part.toPath, Paths.get(destDir, name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    rmTree(new java.io.File(tmp))
  }

  /** Delete `f` and, if it is a directory, everything under it. */
  private[queries] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** A single NULL-text sentinel row for the documents replay (see
    * [[streamDocsDir]]), written directly with parquet-java.
    */
  private def writeDocSentinel(path: java.nio.file.Path, ts: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message doc_sentinel {
        |  optional int64 doc_id;
        |  optional binary text (UTF8);
        |  optional int64 ts;
        |}""".stripMargin)
    val writer = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(path.toString),
        new org.apache.hadoop.conf.Configuration()))
      .withType(schema)
      .build()
    val g = new SimpleGroupFactory(schema).newGroup()
    g.add("doc_id", -1L)
    // `text` deliberately unset: a NULL payload vanishes in every
    // downstream filter/explode while the row still drives the watermark.
    g.add("ts", ts)
    try writer.write(g) finally writer.close()
  }

  /** Schema of the staged documents replay (see [[replaySchema]]). */
  def replayDocsSchema(spark: org.apache.spark.sql.SparkSession, staged: String)
      : org.apache.spark.sql.types.StructType =
    stagedSchema(spark, s"$staged/a_docs.parquet")

  // One stream-tuned clone per parent session (weak keys, same rationale as
  // lastStreamSink). Accessed only under `synchronized`.
  private val streamSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.SparkSession]

  /** A clone of `spark` (shared SparkContext, separate SQL conf) with few
    * shuffle partitions, for the finite-fixture stream gates. Stateful
    * micro-batches pay one state-store open/commit cycle PER shuffle
    * partition PER batch regardless of data volume, so a 32-partition conf
    * spends its wall-clock on empty store commits for a fixture with a few
    * thousand keys. Partition count changes no results (per-key
    * aggregation/sessionization/join output is partitioning-independent).
    *
    * 2 partitions, not the r18–r21 8 (r22, engine-reported
    * `stateOperators.commitTimeMs` per micro-batch, same box, same gates):
    * commit wall-clock scales with partition count even when state is tiny
    * and the files land on tmpfs — a 1-row ks-drift micro-batch summed
    * 0.6–3.4 s of commit across 8 partitions vs 0.08–0.13 s across 2, and
    * the probed gate minima moved windows 2.54→1.91 s, cusum 2.48→1.64 s,
    * ksdrift 3.20→2.44 s (parts=1 measured within noise of 2; 2 keeps the
    * update fold parallel for the token-heavy gates).
    * SPARK_GRAFT_STREAM_PARTS overrides for A/Bs. Production streams on
    * real volume keep their session's own partitioning — this clone exists
    * only behind the fixture gates.
    *
    * `noDataMicroBatches.enabled = true` (the engine default) is PINNED
    * because the staged-replay sentinel protocol now depends on it: a
    * single far-future sentinel advances the watermark at its batch's end,
    * and the emission batch that follows is the engine's watermark-driven
    * no-data batch (`processAllAvailable` waits for it — measured, and the
    * r21 sweep already emitted through it, see [[streamSessionizeDir]]).
    */
  def streamSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = synchronized {
    Option(streamSessions.get(spark)).getOrElse {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "2"))
      s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      streamSessions.put(spark, s2)
      s2
    }
  }

  // The compute-heavy clone (weak keys, same rationale as streamSessions).
  private val heavyStreamSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.SparkSession]

  /** [[streamSession]]'s sibling for the TWO stream gates whose per-batch
    * work is a real distributed fold rather than a keyed state update —
    * q_stream_components (a connected-components contraction per
    * micro-batch inside foreachBatch) and q_stream_embed_neardup (a 64-dim
    * SRP signature + bucket self-join per batch). For those the
    * state-store-commit floor is NOT the binding cost, per-batch shuffle
    * parallelism is: at 2 partitions both regressed (components 3.8→4.4 s,
    * embed_neardup 2.2→3.4 s isolated minima) while every
    * state-floor-bound gate improved. 8 partitions is the r18–r21 measured
    * balance for them. SPARK_GRAFT_STREAM_PARTS_HEAVY overrides.
    */
  def streamSessionHeavy(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = synchronized {
    Option(heavyStreamSessions.get(spark)).getOrElse {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS_HEAVY", "8"))
      s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      heavyStreamSessions.put(spark, s2)
      s2
    }
  }

  /** Schema of the staged replay — the NORMALIZED events file, where `ts`
    * is a nanosecond BIGINT regardless of the fixture's physical type.
    * Stream gates pin THIS schema; pinning the raw fixture's schema would
    * re-import the physical-type drift the normalization exists to absorb.
    */
  def replaySchema(spark: org.apache.spark.sql.SparkSession, staged: String)
      : org.apache.spark.sql.types.StructType =
    stagedSchema(spark, s"$staged/a_events.parquet")

  /** Schema of one staged parquet file, memoized per (path, JVM): a staged
    * file is immutable once written (the [[dir]] contract), so its schema
    * is a pure function of the path — without the memo every stream-gate
    * invocation pays a driver-side footer read + Spark-session round trip
    * just to re-learn the pinned schema (36 gates × reps per bench sweep).
    */
  def stagedSchema(spark: org.apache.spark.sql.SparkSession, file: String)
      : org.apache.spark.sql.types.StructType =
    memo[org.apache.spark.sql.types.StructType]("schema", file) {
      spark.read.parquet(file).schema
    }

  /** Unique memory-sink name; the calling session's PREVIOUS streaming sink
    * is dropped so each session holds at most one materialized result.
    */
  def nextStreamSink(spark: org.apache.spark.sql.SparkSession): String = synchronized {
    Option(lastStreamSink.get(spark)).foreach(spark.catalog.dropTempView(_))
    val name = s"graft_stream_windows_${sinkIds.incrementAndGet()}"
    lastStreamSink.put(spark, name)
    name
  }

  private def cleanupOnExit(path: String): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      rmTree(new java.io.File(path))))
}
