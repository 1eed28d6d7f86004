package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.operators._
import graft.queries.QueryShared._

/** Event gates: sessionization, time windows, funnels, and the
  * streaming (`q_stream_*`) twins over the replayed events fixture —
  * with their DuckDB oracles. One family file of [[PipelineQueries]]
  * (split r18; determinism conventions documented there).
  */
object EventQueries extends QueryDomain {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- events: sessionization + time windows ----------------------------
    // Every reader goes through [[graft.Tables.events]], which normalizes
    // `ts` to a nanosecond BIGINT whatever the fixture's physical type
    // (TIMESTAMP(NANOS)-as-long or timestamp[us]); epoch math stays in
    // exact integers either way.
    "q_sessionize" -> { (s, dir) =>
      import s.implicits._
      Sessionize.sessions(events(s, dir), "user_id",
        epochSec = expr("ts div 1000000000"),
        gapSec = 21600L, orderCols = Seq($"ts", $"event_id"),
        aggs = Seq(
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          dsum($"value").as("total_value")))
        .orderBy($"user_id", $"session_idx")
    },

    "q_event_windows" -> { (s, dir) =>
      import s.implicits._
      // Streaming-style tumbling windows on a batch frame. The watermarked
      // readStream twin is [[graft.streaming.EventStreams.hourlyEventWindows]]
      // (same groupBy(window(...)); MemoryStream-tested in EventStreamsSpec).
      events(s, dir)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
        .groupBy(window($"tsm", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          dsum($"value").as("total_value"))
        .select(unix_timestamp($"w.start").as("window_start"), $"event_type",
          $"n_events", $"n_users", $"total_value")
        .orderBy($"window_start", $"event_type")
    },

    "q_gap_fill" -> { (s, dir) =>
      import s.implicits._
      // Gap-fill + forward-fill ([[TimeSeriesOps.gapFill]]): each user's
      // irregular daily activity densifies to a calendar spine between
      // first and last active day, missing days carrying the most recent
      // (count, exact-decimal value sum) forward — the resample().ffill()
      // primitive. One keyed aggregate, a shuffle-free spine explode, one
      // equi-join, one per-user window.
      val obs = events(s, dir)
        .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
        .groupBy($"user_id", $"day")
        .agg(count(lit(1)).as("n_events"), dsum($"value").as("day_value"))
      TimeSeriesOps.gapFill(obs, Seq("user_id"), "day", Seq("n_events", "day_value"))
        .orderBy($"user_id", $"day")
    },

    "q_asof_join" -> { (s, dir) =>
      import s.implicits._
      // As-of join ([[TemporalJoins.asofJoin]]): each purchase event picks
      // the same user's most recent click at-or-before it — the attribution
      // primitive kdb/pandas/DuckDB ship natively and Spark lacks. Join-free
      // union+window plan (one shuffle on user_id). Clicks are deduped per
      // (user, second) first so tie choice is well-defined on BOTH engines
      // (ASOF tie order is otherwise unspecified).
      val e = events(s, dir)
        .select($"event_id", $"user_id", $"event_type", expr("ts div 1000000000").as("ep"))
      val purchases = e.filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id", $"ep".as("purchase_ep"))
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ep".as("click_ep"), $"event_id")
        .groupBy($"user_id", $"click_ep").agg(max($"event_id").as("click_id"))
      TemporalJoins.asofJoin(purchases, clicks, Seq("user_id"), "purchase_ep", "click_ep")
        .select($"purchase_id", $"user_id", $"purchase_ep", $"click_id",
          ($"purchase_ep" - $"click_ep").as("gap_sec"))
        .orderBy($"purchase_id")
    },

    "q_range_join" -> { (s, dir) =>
      import s.implicits._
      // Point-in-interval range join ([[TemporalJoins.rangeJoin]]): count
      // the same user's clicks inside each purchase's trailing 1-hour
      // attribution window. Intervals bucket at the window span, so each
      // explodes to ≤ 2 index rows and the match is a plain equi-join on
      // (user_id, bucket) — never |clicks|·|purchases|. Left join back so
      // zero-click purchases keep their row.
      val e = events(s, dir)
        .select($"event_id", $"user_id", $"event_type", expr("ts div 1000000000").as("ep"))
      val purchases = e.filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id", $"ep".as("purchase_ep"))
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ep".as("click_ep"))
      val hits = TemporalJoins.rangeJoin(clicks,
          purchases.withColumn("w_start", $"purchase_ep" - 3600L),
          Seq("user_id"), "click_ep", "w_start", "purchase_ep", bucketWidth = 3600L)
        .groupBy($"purchase_id").agg(count(lit(1)).as("n_clicks_1h"))
      purchases.join(hits, Seq("purchase_id"), "left_outer")
        .select($"purchase_id", $"user_id", $"purchase_ep",
          coalesce($"n_clicks_1h", lit(0L)).as("n_clicks_1h"))
        .orderBy($"purchase_id")
    },

    "q_interval_join" -> { (s, dir) =>
      import s.implicits._
      // Interval×interval overlap join ([[TemporalJoins.intervalJoin]]):
      // each purchase opens a 30-minute window, each click a 15-minute
      // window; per purchase, count same-user overlapping click windows and
      // total overlap seconds. Both sides bucket at the larger span, the
      // pair survives only in its overlap-start bucket (no dedup stage),
      // and the oracle is the plain inequality join DuckDB can afford at
      // fixture scale. Left join back keeps zero-overlap purchases.
      val e = events(s, dir)
        .select($"event_id", $"user_id", $"event_type", expr("ts div 1000000000").as("ep"))
      val purchases = e.filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id",
          $"ep".as("p_start"), ($"ep" + 1800L).as("p_end"))
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ep".as("c_start"), ($"ep" + 900L).as("c_end"))
      val hits = TemporalJoins.intervalJoin(purchases, clicks, Seq("user_id"),
          "p_start", "p_end", "c_start", "c_end", bucketWidth = 1800L)
        .groupBy($"purchase_id").agg(count(lit(1)).as("n_overlap"),
          sum(least($"p_end", $"c_end") - greatest($"p_start", $"c_start")).as("overlap_sec"))
      purchases.join(hits, Seq("purchase_id"), "left_outer")
        .select($"purchase_id", $"user_id", $"p_start",
          coalesce($"n_overlap", lit(0L)).as("n_overlap"),
          coalesce($"overlap_sec", lit(0L)).as("overlap_sec"))
        .orderBy($"purchase_id")
    },

    "q_stream_windows" -> { (s, dir) =>
      import s.implicits._
      // The STREAMING path under the oracle gate: the events fixture played
      // through readStream → watermarked tumbling windows in APPEND mode —
      // the production shape (complete mode would hold every window ever
      // seen in state forever) — must hash-match the DuckDB batch
      // aggregation. Append emits a window only once the watermark passes
      // its close, so the finite fixture rides the same sentinel protocol as
      // `q_stream_sessionize`: one far-future sentinel file pushes the
      // watermark past every real window's close + the 2-hour
      // production-default delay at its batch's end, and emission happens
      // in the engine's watermark-driven NO-DATA batch that follows --
      // pinned on in the clone session ([[Staging.streamSession]]; this is
      // how the r18-r21 gates already emitted in practice, see
      // [[Staging.streamSessionizeDir]]). Sentinel windows are filtered
      // back out of the sink. n_users is approximate (HLL) in streaming and
      // is not part of the gated output.
      //
      // Micro-batch economy (r22): ONE data batch -- no maxFilesPerTrigger,
      // so the source takes every staged file at the first trigger -- plus
      // the no-data finalization batch. Every extra micro-batch pays a full
      // state-store commit cycle per state partition plus offset/commit-log
      // writes for nothing; the cross-batch state path is exercised by the
      // mFPT=1 doc-replay gates and EventStreamsSpec, not here. The stream
      // runs in a low-state-partition clone session -- see
      // [[Staging.streamSession]].
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
        .select($"tsm", $"event_type", $"user_id", $"value")
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams.hourlyEventWindows(stream)
        .drop("n_users_approx")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"event_type" =!= "sentinel")
        .orderBy($"window_start", $"event_type")
    },

    "q_hopping_windows" -> { (s, dir) =>
      import s.implicits._
      // HOPPING (sliding) windows — 1-hour windows advancing every 30
      // minutes, so each event lands in exactly two epoch-aligned windows
      // (Spark's multi-window explode under `window(ts, dur, slide)`). The
      // oracle replicates the assignment arithmetically: wstart =
      // (sec div 1800 − o)·1800 for o ∈ {0,1}. Same decimal-sum convention
      // as q_event_windows.
      events(s, dir)
        .withColumn("tsm", timestamp_seconds(expr("ts div 1000000000")))
        .groupBy(window($"tsm", "1 hour", "30 minutes").as("w"), $"event_type")
        .agg(count(lit(1)).as("n_events"), dsum($"value").as("total_value"))
        .select(unix_timestamp($"w.start").as("window_start"), $"event_type",
          $"n_events", $"total_value")
        .orderBy($"window_start", $"event_type")
    },

    "q_stream_enrich" -> { (s, dir) =>
      import s.implicits._
      // STREAM-STATIC enrichment — the dimension-join class of Structured
      // Streaming (no watermark needed: the static side is bounded and the
      // join is stateless per micro-batch): streamed purchases enriched
      // with each user's corpus-wide event count and first-seen second,
      // both computed batch-side. Gate = the batch twin of the same join.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val profile = events(ss, dir)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_user_events"),
          min(expr("ts div 1000000000")).as("first_seen_sec"))
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", expr("ts div 1000000000").as("sec"), $"value")
      val sink = Staging.nextStreamSink(ss)
      val q = stream.join(profile, Seq("user_id"))
        .select($"event_id", $"user_id", $"n_user_events",
          ($"sec" - $"first_seen_sec").as("user_age_sec"))
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).orderBy($"event_id")
    },

    "q_stream_join" -> { (s, dir) =>
      import s.implicits._
      // STREAM-STREAM inner join with an event-time range under the gate —
      // the attribution shape (each purchase matched to the same user's
      // views in the preceding hour), the last major Structured Streaming
      // capability class ([[graft.streaming.EventStreams.attributeTo]]
      // would be overkill — the join IS the operator). Watermarks bound
      // the two sides' STATE (a view older than the watermark minus the
      // range can never match a future purchase and is evicted); inner-join
      // EMISSION is immediate as both sides arrive, so the finite replay
      // needs no sentinel protocol — the staged sentinels filter out by
      // type. Timestamps join at microsecond resolution; `ts div 1000` is
      // floor division of non-negative nanos, mirrored exactly by the
      // oracle's `epoch_ns // 1000`, and the gated `lag_us` is an integer
      // difference of those exact values.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      def src = ss.readStream.schema(schema)
        .parquet(staged)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      val buys = src.filter($"event_type" === "purchase")
        .select($"event_id".as("buy_id"), $"user_id", $"tsm".as("b_ts"),
          expr("ts div 1000").as("b_us"))
        .withWatermark("b_ts", "2 hours")
      val views = src.filter($"event_type" === "view")
        .select($"event_id".as("view_id"), $"user_id".as("v_user"),
          $"tsm".as("v_ts"), expr("ts div 1000").as("v_us"))
        .withWatermark("v_ts", "2 hours")
      val sink = Staging.nextStreamSink(ss)
      val q = buys.join(views,
          $"user_id" === $"v_user" &&
            $"v_ts" >= $"b_ts" - expr("INTERVAL 1 HOUR") && $"v_ts" <= $"b_ts")
        .select($"buy_id", $"view_id", $"user_id", ($"b_us" - $"v_us").as("lag_us"))
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).orderBy($"buy_id", $"view_id")
    },

    "q_stream_outer_join" -> { (s, dir) =>
      import s.implicits._
      // STREAM-STREAM LEFT OUTER join — the one join class q_stream_join's
      // inner form doesn't exercise: a purchase with NO view in its
      // preceding hour must still emit, with null view columns, and that
      // emission is WATERMARK-DRIVEN (only once both sides' watermarks
      // prove no matching view can still arrive is the null row safe).
      // Consequently the far-future sentinels must reach the watermark:
      // unlike the inner gate, each side keeps `event_type = 'sentinel'`
      // rows through `withWatermark` and the sentinel artifacts (user_id =
      // -1) are filtered AFTER the sink — the documented Staging protocol.
      // The oracle is the plain batch LEFT JOIN; null sort order is pinned
      // NULLS FIRST on both engines.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      def src = ss.readStream.schema(schema)
        .parquet(staged)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      val buys = src.filter($"event_type".isin("purchase", "sentinel"))
        .select($"event_id".as("buy_id"), $"user_id", $"tsm".as("b_ts"),
          expr("ts div 1000").as("b_us"))
        .withWatermark("b_ts", "2 hours")
      val views = src.filter($"event_type".isin("view", "sentinel"))
        .select($"event_id".as("view_id"), $"user_id".as("v_user"),
          $"tsm".as("v_ts"), expr("ts div 1000").as("v_us"))
        .withWatermark("v_ts", "2 hours")
      val sink = Staging.nextStreamSink(ss)
      val q = buys.join(views,
          $"user_id" === $"v_user" &&
            $"v_ts" >= $"b_ts" - expr("INTERVAL 1 HOUR") && $"v_ts" <= $"b_ts",
          "left_outer")
        .select($"buy_id", $"view_id", $"user_id", ($"b_us" - $"v_us").as("lag_us"))
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"user_id" =!= -1L)
        .orderBy($"buy_id", $"view_id".asc_nulls_first)
    },

    "q_stream_dedup" -> { (s, dir) =>
      import s.implicits._
      // Streaming exact dedup under the gate
      // ([[graft.streaming.EventStreams.dedupEvents]]): the events fixture
      // replayed through TWO readStream sources unioned — every event
      // delivered twice, the at-least-once failure mode — must reproduce
      // the batch DISTINCT on event_id exactly. First-seen rows emit
      // immediately in append mode, so no sentinel protocol is needed (the
      // staged dir's sentinels just ride along and are filtered with the
      // usual predicate); the watermark bounds dedup-key state by the
      // horizon — the unbounded-stream posture. `value` is an untouched
      // passthrough (no accumulation → bit-exact vs the oracle).
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      def src = ss.readStream.schema(schema).parquet(staged)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
        .select($"tsm", $"event_id", $"user_id", $"event_type",
          expr("ts div 1000000000").as("ep"), $"value")
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .dedupEvents(src.unionByName(src), Seq("event_id"))
        .drop("tsm")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"event_type" =!= "sentinel").orderBy($"event_id")
    },

    "q_stream_neardup" -> { (s, dir) =>
      import s.implicits._
      // Streaming banded-SimHash near-dup under the gate
      // ([[graft.streaming.EventStreams.simhashNearDup]] — signatures from
      // the SAME compiled fold as the batch operator, band buckets as keyed
      // state): the documents fixture replayed as TWO micro-batches (parity
      // split, so pairs must cross the batch boundary through bucket state)
      // must reproduce q_simhash_neardup's brute-force-equal answer exactly
      // — same pigeonhole recall-1 contract, horizon spanning the replay.
      // Cross-band duplicate emissions collapse under the same final
      // distinct the batch operator ends in.
      val staged = Staging.streamDocsDir(s, dir)
      val ss = Staging.streamSession(s)
      val schema = Staging.replayDocsSchema(ss, staged)
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .simhashNearDup(src, "doc_id", "text", "tsm",
          horizonSec = 100000000000L, bits = 60, bandBits = 15, maxHamming = 3)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).distinct().orderBy($"doc_i", $"doc_j")
    },

    "q_stream_topk" -> { (s, dir) =>
      import s.implicits._
      // Streaming heavy hitters — the streaming-ingest version of
      // q_heavy_hitters' two-pass pipeline: pass 1 folds the replayed
      // bigram stream into sharded Misra–Gries keyed state
      // ([[graft.streaming.EventStreams.mgCandidatesStream]], O(shards ×
      // capacity) state, emitted at the watermark horizon via the doc
      // replay's null-text sentinels); pass 2 exact-counts JUST the
      // emitted candidates over the fixture — identical output to the
      // full GROUP BY + HAVING oracle because every true heavy hitter
      // survives its shard's summary after any arrival order.
      //
      // Deliberately single-batch: no maxFilesPerTrigger, so both parity
      // files and the sentinel land in ONE data batch and the shard state
      // never merges across a micro-batch boundary here. EventStreamsSpec
      // covers that merge for this operator; the mFPT=1 doc-replay gates
      // (q_stream_neardup and kin) cover the replay's batch boundary.
      val staged = Staging.streamDocsDir(s, dir)
      val ss = Staging.streamSession(s)
      val schema = Staging.replayDocsSchema(ss, staged)
      val src = ss.readStream.schema(schema)
        .parquet(staged)
        .withColumn("tsm", timestamp_micros(expr("ts div 1000")))
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .mgCandidatesStream(src, CorpusOps.wordNgramsAll($"text", 2), "tsm",
          capacity = 800, nShards = 8, horizonSec = 3600L)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val cands = ss.table(sink).select($"item").distinct()
      val it = graft.Tables.docs(ss, dir)
        .select(explode(CorpusOps.wordNgramsAll(col("text"), 2)).as("item"))
      val totals = it.agg(count(lit(1)).as("total"))
      it.join(broadcast(cands), "item")
        .groupBy($"item").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(totals))
        .filter($"cnt" * 800 >= $"total")
        .select($"item", $"cnt", $"total")
        .orderBy($"item")
    },

    "q_stream_sessionize" -> { (s, dir) =>
      import s.implicits._
      // The STATEFUL streaming path under the oracle gate: the events fixture
      // played through [[graft.streaming.EventStreams.sessionize]]
      // (flatMapGroupsWithState, append mode, event-time timeouts) must
      // reproduce the batch q_sessionize result exactly. Sentinel files from
      // [[Staging.streamSessionizeDir]] (filtered back out below) drive the
      // watermark past every real deadline so timeouts close all sessions —
      // a finite-fixture necessity; a production stream just keeps running.
      // `value` rides as exact integer ten-thousandths (decimal(18,4)·10⁴ as
      // double): per-session double accumulation of integers is exact and
      // order-independent, so totalValue/10⁴ equals the batch dsum twin
      // bit-for-bit.
      //
      // Micro-batch economy: same two-batch packing and low-state-partition
      // clone session as q_stream_windows (see the comment there).
      val gapSec = 21600L
      val staged = Staging.streamSessionizeDir(s, dir, gapSec)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .select($"user_id".as("userId"),
          expr("ts div 1000000000").as("epochSec"),
          ($"event_type" === "purchase").as("isPurchase"),
          ($"value".cast("decimal(18,4)") * 10000).cast("double").as("value"))
        .as[graft.streaming.EventStreams.SessionEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams.sessionize(stream, gapSec = gapSec)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val w = Window.partitionBy($"userId").orderBy($"startEpoch")
      ss.table(sink).filter($"userId" >= 0L)
        .withColumn("session_idx", row_number().over(w).cast("long"))
        .select($"userId".as("user_id"), $"session_idx",
          $"startEpoch".as("start_epoch"), $"endEpoch".as("end_epoch"),
          $"nEvents".as("n_events"), $"nPurchases".as("n_purchases"),
          ($"totalValue" / 10000.0).as("total_value"))
        .orderBy($"user_id", $"session_idx")
    },

    "q_stream_cusum" -> { (s, dir) =>
      import s.implicits._
      // The STREAMING CUSUM under the batch oracle
      // ([[graft.streaming.EventStreams.cusumExact]]): values quantize to
      // e4 BIGINTs at the source (sentinel NULLs → 0; the sentinel user
      // −1 filters out of the sink), each user buffers until the
      // watermark passes its horizon, and the timeout fold must land on
      // q_cusum's exact integers. Sentinel files drive the watermark past
      // every real user's deadline.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .select($"user_id".as("key"),
          expr("ts div 1000").as("ts"),
          $"event_id".as("tie"),
          expr("CAST(CAST(COALESCE(value, 0.0) AS DECIMAL(18,4)) * 10000 AS LONG)")
            .as("v"))
        .as[graft.streaming.EventStreams.CusumEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .cusumExact(stream, refValueE4 = 600000L, thresholdE4 = 2000000L,
          horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= -1L)
        .select($"key".as("user_id"), $"n",
          $"cusumFinal".as("cusum_final"), $"nOver".as("n_over"))
        .orderBy($"user_id")
    },

    "q_stream_fano" -> { (s, dir) =>
      import s.implicits._
      // STREAMING burstiness ([[graft.streaming.EventStreams.fanoExact]]):
      // q_burstiness' Fano factor per event type with O(#observed
      // windows) keyed state — counts are increment-commutative, so no
      // event buffering, no order sensitivity; the closing BigInt
      // integers land bit-identically on the batch division via the
      // digit-string route. The 20th stream gate; shares q_burstiness'
      // hour windows and oracle arithmetic.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .select($"event_type".as("key"),
          expr("ts div 1000").as("ts"),
          $"event_id".as("tie"), lit(0L).as("v"))
        .as[graft.streaming.EventStreams.BudgetEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .fanoExact(stream, windowSec = 3600L, horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("event_type"), $"nWindows".as("n_windows"),
          $"nEvents".as("n_events"), $"fano")
        .orderBy($"event_type")
    },

    "q_stream_trimmed" -> { (s, dir) =>
      import s.implicits._
      // STREAMING exact trimmed mean
      // ([[graft.streaming.EventStreams.trimmedMeanExact]]):
      // q_trimmed_mean's level-range rank-interval arithmetic off a
      // value→count keyed map — the fourth statistic of the mergeable
      // count-map state class. Levels sort ONCE, at emission; the BigInt
      // trimmed sum lands on the batch division via the digit-string
      // route (shared-arithmetic oracle).
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .filter($"value".isNotNull)
        .select($"event_type".as("key"), expr("ts div 1000").as("ts"),
          expr("CAST(floor(value * 10000.0 + 0.5) AS LONG)").as("v"))
        .as[graft.streaming.EventStreams.ValueEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .trimmedMeanExact(stream, trimNum = 1, trimDen = 10, unitScale = 4,
          horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("event_type"), $"n", $"nKept".as("n_kept"),
          $"trimmedMean".as("trimmed_mean"))
        .orderBy($"event_type")
    },

    "q_stream_median" -> { (s, dir) =>
      import s.implicits._
      // STREAMING exact lower median
      // ([[graft.streaming.EventStreams.countingMedianExact]]): the
      // rank-⌈n/2⌉ walk over the same value→count state map — one state
      // class, many rank statistics. The med double is the exact integer
      // level over the unit, identical on both engines.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .filter($"value".isNotNull)
        .select($"event_type".as("key"), expr("ts div 1000").as("ts"),
          expr("CAST(floor(value * 10000.0 + 0.5) AS LONG)").as("v"))
        .as[graft.streaming.EventStreams.ValueEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .countingMedianExact(stream, unitScale = 4, horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("event_type"), $"n", $"med")
        .orderBy($"event_type")
    },

    "q_stream_t_closeness" -> { (s, dir) =>
      import s.implicits._
      // STREAMING t-closeness monitor ([[graft.streaming.EventStreams
      // .valueCountsExact]] + [[GovernanceOps.tClosenessFromCounts]]):
      // q_t_closeness' per-(event_type, day) sensitive-bucket
      // distributions accumulate as the mergeable count-map state (the
      // proven cheap class — increments commute, state bounded by the
      // 50-bucket domain), emit RAW at the watermark timeout, and the
      // cross-group normalization — the global distribution no keyed
      // state can see — runs batch-side over the emitted counts through
      // the SAME formula the batch operator uses, so the batch oracle
      // gates the whole chain. QI pair rides one composite stream key
      // ('|'-joined), split back at emission.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .select(concat($"event_type", lit("|"),
            expr("ts div 86400000000000").cast("string")).as("key"),
          expr("ts div 1000").as("ts"),
          expr("user_id % 50").as("v"))
        .as[graft.streaming.EventStreams.ValueEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .valueCountsExact(stream, horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val counts = ss.table(sink)
        .filter(!$"key".startsWith("sentinel|"))
        .select(substring_index($"key", "|", 1).as("event_type"),
          substring_index($"key", "|", -1).cast("long").as("day"),
          $"v".as("sv_bucket"), $"c")
      GovernanceOps.tClosenessFromCounts(counts, Seq("event_type", "day"),
          "sv_bucket", "c", tNum = 1, tDen = 4)
        .orderBy($"event_type", $"day")
    },

    "q_stream_ks_drift" -> { (s, dir) =>
      import s.implicits._
      // STREAMING KS drift monitor ([[graft.streaming.EventStreams
      // .valueCountsExact]] + [[StatOps.ksDriftFromCounts]]): q_ks_drift's
      // per-lang doc-length distributions accumulate as the SAME mergeable
      // count-map state the t-closeness/trimmed/median twins ride (one
      // state shape, five statistics), emit raw at the watermark, and the
      // rest-of-corpus CDF comparison — a cross-group quantity no keyed
      // state can see — runs batch-side over the emitted counts through
      // the formula the batch operator composes, so the batch oracle gates
      // the chain. Doc length = code-point length(text), which the fixture
      // pins equal to n_chars (checked: 0 mismatches at both SFs).
      val staged = Staging.streamDocMetaDir(s, dir)
      val ss = Staging.streamSession(s)
      val schema = Staging.replayDocMetaSchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select(coalesce($"lang", lit("sentinel")).as("key"),
          expr("ts div 1000").as("ts"),
          coalesce(length($"text").cast("long"), lit(0L)).as("v"))
        .as[graft.streaming.EventStreams.ValueEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .valueCountsExact(stream, horizonSec = 21600L, lateSec = 2592000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val counts = ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("lang"), $"v", $"c")
      StatOps.ksDriftFromCounts(counts, "lang", "v", "c")
        .orderBy($"lang")
    },

    "q_stream_chi_square" -> { (s, dir) =>
      import s.implicits._
      // STREAMING χ² independence monitor ([[graft.streaming.EventStreams
      // .valueCountsExact]] + [[StatOps.chiSquareFromCounts]]): the
      // lang × source contingency cells accumulate as per-lang count-map
      // state (source rides as its numeric index — the fixture's
      // source = 'src' + doc_id % 20 bijection), emit raw at the
      // watermark, and the cross-cell statistic runs batch-side with the
      // EXACT 'src<idx>' strings reconstructed so the sorted fold's IEEE
      // sum order matches the batch operator bit-for-bit — the batch
      // oracle gates the chain. Sixth statistic of the count-map class.
      val staged = Staging.streamDocMetaDir(s, dir)
      val ss = Staging.streamSession(s)
      val schema = Staging.replayDocMetaSchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select(coalesce($"lang", lit("sentinel")).as("key"),
          expr("ts div 1000").as("ts"),
          coalesce(expr("try_cast(substring(source, 4) AS LONG)"), lit(-1L))
            .as("v"))
        .as[graft.streaming.EventStreams.ValueEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .valueCountsExact(stream, horizonSec = 21600L, lateSec = 2592000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val cells = ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("lang"),
          concat(lit("src"), $"v".cast("string")).as("source"), $"c")
      StatOps.chiSquareFromCounts(cells, "lang", "source", "c")
    },

    "q_stream_cohens_kappa" -> { (s, dir) =>
      import s.implicits._
      // STREAMING labeler-agreement monitor
      // ([[graft.streaming.EventStreams.valueCountsExact]] +
      // [[graft.operators.EvalOps.cohensKappaFromCounts]]): the weak
      // labeler (the q_lang_id marker argmax, computed STATELESSLY on
      // each arriving doc) is scored against the gold lang label as
      // per-source joint-label count-map state — key = source⊕gold (the
      // gold label rides in the key so the state value stays one long:
      // the predicted-profile INDEX), emit raw at the watermark, and κ
      // closes batch-side from the exact reconstructed label strings.
      // Seventh statistic of the count-map class; the batch
      // q_cohens_kappa oracle gates the chain.
      val langs = graft.operators.TextStats.LangProfiles.map(_._1)
      val langsArr = array(langs.map(lit): _*)
      val staged = Staging.streamDocMetaDir(s, dir)
      val ss = Staging.streamSession(s)
      val schema = Staging.replayDocMetaSchema(ss, staged)
      // The null-source marker is IN-BAND (a separator-bearing out-of-band
      // marker would break the arity-2 decode below — the separator IS the
      // out-of-band character), so the fixture-convention assumption "no
      // real source is literally named 'sentinel'" is ENFORCED where the
      // key is built, loudly, instead of silently folding such a source
      // into the NULL group (r19 ADVICE): a colliding row raises at
      // stream time. The staging protocol's own watermark rows
      // (writeDocMetaSentinel: doc_id = −1, source = lang = 'sentinel')
      // are exempt — their key is the intended sentinel; the hazard is
      // only a REAL doc (doc_id ≥ 0) whose arity-2 key would decode to
      // the NULL source group.
      val srcChecked = when($"source" === "sentinel" && $"doc_id" >= 0L,
        raise_error(lit("q_stream_cohens_kappa: a real source literally " +
          "named 'sentinel' collides with the null-source key marker — " +
          "rename the marker for this corpus"))).otherwise($"source")
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select(
          concat_ws("\u0001",
            coalesce(srcChecked, lit("sentinel")), $"lang").as("key"),
          expr("ts div 1000").as("ts"),
          (array_position(langsArr,
            graft.operators.TextStats.predictedLang($"text")) - 1L).as("v"))
        .as[graft.streaming.EventStreams.ValueEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .valueCountsExact(stream, horizonSec = 21600L, lateSec = 2592000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      // Sentinel rows carry a NULL gold lang: concat_ws skips nulls, so
      // their key collapses to exactly "sentinel" — arity 1 under split.
      // A REAL doc with NULL source but non-null lang keys as
      // "sentinel\u0001<lang>" (arity 2): the arity filter below KEEPS it
      // and the when() maps its source back to the NULL group the batch
      // operator and oracle carry — the previous key =!= "sentinel" filter
      // alone grouped such rows under the literal string "sentinel" (r18
      // ADVICE). The no-real-source-named-"sentinel" assumption is no
      // longer a fixture convention: srcChecked above raises loudly on a
      // colliding row before it can reach this decode.
      val kp = split($"key", "\u0001")
      val cells = ss.table(sink).filter(size(kp) === 2)
        .select(
          when(kp.getItem(0) === "sentinel", lit(null).cast("string"))
            .otherwise(kp.getItem(0)).as("source"),
          element_at(langsArr, ($"v" + 1L).cast("int")).as("ra"),
          kp.getItem(1).as("rb"), $"c")
      graft.operators.EvalOps
        .cohensKappaFromCounts(cells, "source", "ra", "rb", "c")
        .orderBy($"source")
    },

    "q_stream_k_anonymity" -> { (s, dir) =>
      import s.implicits._
      // STREAMING k-anonymity / l-diversity release monitor
      // ([[graft.streaming.EventStreams.valueCountsExact]] +
      // [[graft.operators.GovernanceOps.anonymityRiskFromCounts]]): the
      // quasi-identifier group (event_type, day, value-bucket) rides as
      // the state KEY and the sensitive user_id as the count-map value,
      // so group size AND distinct-sensitive both close batch-side from
      // the emitted cells through the same FromCounts formula the batch
      // operator composes — the release gate becomes a continuously
      // maintainable monitor with state bounded by users per QI group.
      // Eighth statistic of the count-map class; the batch q_k_anonymity
      // oracle gates the chain.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select(
          concat_ws("\u0001", $"event_type",
            expr("ts div 86400000000000"),
            floor($"value" / 100.0).cast("long")).as("key"),
          expr("ts div 1000").as("ts"),
          coalesce($"user_id", lit(-1L)).as("v"))
        .as[graft.streaming.EventStreams.ValueEvent]
      val sink = Staging.nextStreamSink(ss)
      // lateSec = 0 (default): the events replay is ONE real file (every
      // real row enters at watermark 0), and the sessionize sentinels sit
      // only 10/20 gaps out -- a doc-replay-sized lateness allowance would
      // hold the watermark short of recent groups' timeouts forever (the
      // doc replays need it because real docs split across two files).
      val q = graft.streaming.EventStreams
        .valueCountsExact(stream, horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val kf = split($"key", "\u0001")
      val cells = ss.table(sink)
        .filter(split($"key", "\u0001").getItem(0) =!= "sentinel")
        .select(kf.getItem(0).as("event_type"),
          kf.getItem(1).cast("long").as("day"),
          kf.getItem(2).cast("long").as("vb"),
          // The -1 the stream side coalesced NULL user_id into
          // (ValueEvent's value slot is a non-null long; -1 sits OUTSIDE
          // the legal user_id domain, which is >= 0) maps BACK to NULL
          // here, before the FromCounts closure: anonymityRiskFromCounts
          // counts only non-null value cells toward n_sensitive, matching
          // the batch operator's countDistinct null-skip — left as -1 the
          // sentinel cell would silently inflate l-diversity on a fixture
          // with null user_ids (r18 ADVICE).
          when($"v" === -1L, lit(null).cast("long")).otherwise($"v").as("v"),
          $"c")
      graft.operators.GovernanceOps
        .anonymityRiskFromCounts(cells, Seq("event_type", "day", "vb"),
          "v", "c", k = 5, l = 3)
        .select($"event_type", $"day", $"vb", $"group_size", $"n_sensitive",
          $"k_risk".cast("int").as("k_risk"), $"l_risk".cast("int").as("l_risk"))
        .orderBy($"event_type", $"day", $"vb")
    },

    "q_stream_class_prf" -> { (s, dir) =>
      import s.implicits._
      // STREAMING per-class P/R/F1 monitor
      // ([[graft.streaming.EventStreams.valueCountsExact]] +
      // [[graft.operators.EvalOps.classPrfFromCounts]]): the same
      // joint-label count map that feeds the kappa twin — gold lang as
      // the state KEY, predicted-profile index as the value — closed
      // batch-side into the per-class confusion view (and the macro-F1
      // sorted fold) the single agreement number hides. Ninth statistic
      // of the count-map class; the batch q_class_prf oracle gates it.
      val langs = graft.operators.TextStats.LangProfiles.map(_._1)
      val langsArr = array(langs.map(lit): _*)
      val staged = Staging.streamDocMetaDir(s, dir)
      val ss = Staging.streamSession(s)
      val schema = Staging.replayDocMetaSchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select(coalesce($"lang", lit("sentinel")).as("key"),
          expr("ts div 1000").as("ts"),
          (array_position(langsArr,
            graft.operators.TextStats.predictedLang($"text")) - 1L).as("v"))
        .as[graft.streaming.EventStreams.ValueEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .valueCountsExact(stream, horizonSec = 21600L, lateSec = 2592000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val cells = ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("gold"),
          element_at(langsArr, ($"v" + 1L).cast("int")).as("pred"), $"c")
      graft.operators.EvalOps
        .classPrfFromCounts(cells, "gold", "pred", "c")
        .orderBy($"cls")
    },

    "q_stream_simpson" -> { (s, dir) =>
      import s.implicits._
      // STREAMING class balance
      // ([[graft.streaming.EventStreams.classBalanceExact]]): q_simpson's
      // Simpson/ENC per source with O(#classes) mergeable count-map keyed
      // state — the measured-cheap state class. The documents replay
      // splits on doc_id parity at one file per trigger, so every
      // source's class map MERGES across a real micro-batch boundary;
      // the closing BigInt integers land bit-identically on the batch
      // divisions via the digit-string route (shared-arithmetic oracle).
      val staged = Staging.streamDocMetaDir(s, dir)
      val ss = Staging.streamSession(s)
      val schema = Staging.replayDocMetaSchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select($"source".as("key"), expr("ts div 1000").as("ts"),
          $"lang".as("cls"))
        .as[graft.streaming.EventStreams.ClassEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .classBalanceExact(stream, horizonSec = 21600L, lateSec = 2592000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("source"), $"n", $"nClasses".as("n_classes"),
          $"simpson", $"enc")
        .orderBy($"source")
    },

    "q_stream_gini" -> { (s, dir) =>
      import s.implicits._
      // STREAMING vocabulary-Gini concentration
      // ([[graft.streaming.EventStreams.vocabGiniExact]]): q_gini's
      // rank-identity coefficient per source with VOCABULARY-bounded
      // token count-map state (mergeable class; the per-key sort is paid
      // once, at emission). Same parity-split replay as q_stream_simpson
      // so the token maps merge across a micro-batch boundary; NULL-text
      // sentinels drive the watermark without contributing tokens.
      val staged = Staging.streamDocMetaDir(s, dir)
      val ss = Staging.streamSession(s)
      val schema = Staging.replayDocMetaSchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select($"source".as("key"), expr("ts div 1000").as("ts"), $"text")
        .as[graft.streaming.EventStreams.DocEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .vocabGiniExact(stream, horizonSec = 21600L, lateSec = 2592000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("source"), $"mTokens".as("m_tokens"),
          $"totalTokens".as("total_tokens"), $"gini")
        .orderBy($"source")
    },

    "q_stream_richness" -> { (s, dir) =>
      import s.implicits._
      // STREAMING vocabulary richness
      // ([[graft.streaming.EventStreams.vocabRichnessExact]]): q_vocab_
      // richness' TTR + hapax/dis fractions from the SAME token count-map
      // state shape as q_stream_gini — one state class, two statistics.
      // Same parity-split replay; shared batch oracle.
      val staged = Staging.streamDocMetaDir(s, dir)
      val ss = Staging.streamSession(s)
      val schema = Staging.replayDocMetaSchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select($"source".as("key"), expr("ts div 1000").as("ts"), $"text")
        .as[graft.streaming.EventStreams.DocEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .vocabRichnessExact(stream, horizonSec = 21600L, lateSec = 2592000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("source"), $"totalTokens".as("total_tokens"),
          $"mTokens".as("m_tokens"), $"nHapax".as("n_hapax"),
          $"nDis".as("n_dis"), $"ttr", $"hapaxRate".as("hapax_rate"),
          $"disRate".as("dis_rate"))
        .orderBy($"source")
    },

    "q_stream_lang_ngram" -> { (s, dir) =>
      import s.implicits._
      // ONLINE language ID ([[graft.operators.LangId.classifyEmissions]]):
      // q_lang_ngram's profiles train offline on the labeled three-quarters,
      // collect driver-side (|langs|·topK bounded), and the probe quarter
      // replays as two micro-batches classifying ROW-LOCALLY — zero
      // stream state, zero shuffle, the q_stream_lsh_probe stateless
      // tier. Emissions are bit-identical to the batch classifier, so the
      // SAME oracle gates both; lang_true joins batch-side at the sink.
      val staged = Staging.streamDocsDir(s, dir)
      val ss = Staging.streamSession(s)
      val prof = graft.operators.LangId.profiles(
        docs(s, dir).filter(pmod($"doc_id", lit(4L)) =!= 3),
        "text", "lang", gramLen = 3, topK = 64)
      val schema = Staging.replayDocsSchema(ss, staged)
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .filter($"doc_id" % 4 === 3)
      val sink = Staging.nextStreamSink(ss)
      val q = graft.operators.LangId.classifyEmissions(
          src, "doc_id", "text", prof, gramLen = 3, topK = 64)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink)
        .join(graft.Tables.docs(ss, dir)
          .filter(pmod($"doc_id", lit(4L)) === 3)
          .select($"doc_id", $"lang".as("lang_true")), Seq("doc_id"))
        .select($"doc_id", $"lang_true", $"lang_pred", $"dist",
          ($"lang_true" === $"lang_pred").as("correct"))
        .orderBy($"doc_id")
    },

    "q_stream_token_shift" -> { (s, dir) =>
      import s.implicits._
      // STREAMING token movers ([[graft.streaming.EventStreams
      // .tokenShiftExact]]): per source, q_token_shift's exact
      // cross-multiplied top-10 between the (doc_id div 20) even ("a")
      // and odd ("b") corpus versions arriving interleaved on ONE stream
      // (the div-20 split varies WITHIN each source key — source itself
      // is doc_id%20, so any mod-4 split would degenerate to one side) —
      // two vocabulary-bounded count maps in one mergeable state value
      // (the one-state-shape-many-statistics discipline). Parity-split
      // replay makes both sides span a micro-batch boundary; sentinels
      // drive the watermark. Emissions share the batch arithmetic
      // (BigInt cross-products, digit-string→double), so the oracle is
      // the batch formula in SQL.
      val staged = Staging.streamDocMetaDir(s, dir)
      val ss = Staging.streamSession(s)
      val schema = Staging.replayDocMetaSchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select($"source".as("key"), expr("ts div 1000").as("ts"),
          expr("CASE WHEN pmod(doc_id div 20, 2) = 0 THEN 'a' ELSE 'b' END")
            .as("side"),
          $"text")
        .as[graft.streaming.EventStreams.DocSideEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .tokenShiftExact(stream, k = 10, horizonSec = 21600L,
          lateSec = 2592000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("source"), $"rnk", $"token",
          $"cA".as("c_a"), $"cB".as("c_b"),
          $"shiftNum".as("shift_num"), $"shift")
        .orderBy($"source", $"rnk")
    },

    "q_stream_acf" -> { (s, dir) =>
      import s.implicits._
      // STREAMING exact autocorrelation
      // ([[graft.streaming.EventStreams.acfExact]]): the order-sensitive
      // r₁..r₃ of q_autocorr computed per event type at the event-time
      // timeout over the buffered horizon — BigInt integer centering, the
      // same digit-string→double route as the batch decimals, so the
      // emitted doubles land bit-identical on the batch oracle's r
      // columns. Sentinel files drive the watermark; the sentinel key
      // filters from the sink.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .select($"event_type".as("key"),
          expr("ts div 1000").as("ts"),
          $"event_id".as("tie"),
          expr("CAST(CAST(COALESCE(value, 0.0) AS DECIMAL(18,4)) * 10000 " +
            "AS LONG)").as("v"))
        .as[graft.streaming.EventStreams.BudgetEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .acfExact(stream, horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("event_type"), $"n", $"r1", $"r2", $"r3")
        .orderBy($"event_type")
    },

    "q_stream_budget" -> { (s, dir) =>
      import s.implicits._
      // ONLINE token-budget admission
      // ([[graft.streaming.EventStreams.budgetAdmitExact]]): per event
      // type, events admit in (ts, tie) order while the running token
      // total stays within the budget — the maximal admissible prefix,
      // i.e. the per-source ingest quota enforced online. Values clamp
      // non-negative and quantize to e4 BIGINTs at the source, so the
      // prefix rule is a monotone integer cumsum and the
      // buffer-until-watermark fold lands exactly on the batch window
      // cumsum the oracle computes. Budget 3000e4 cuts mid-stream at
      // both SFs. Sentinel files drive the watermark past every real
      // key's deadline; the sentinel key filters from the sink.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .select($"event_type".as("key"),
          expr("ts div 1000").as("ts"),
          $"event_id".as("tie"),
          expr("CAST(CAST(GREATEST(COALESCE(value, 0.0), 0.0) " +
            "AS DECIMAL(18,4)) * 10000 AS LONG)").as("v"))
        .as[graft.streaming.EventStreams.BudgetEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .budgetAdmitExact(stream, budget = 30000000L, horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("event_type"), $"n",
          $"nAdmit".as("n_admit"), $"tokAdmit".as("tok_admit"))
        .orderBy($"event_type")
    },

    "q_stream_funnel" -> { (s, dir) =>
      import s.implicits._
      // The STREAMING funnel under the batch oracle: the events fixture
      // replayed through [[graft.streaming.EventStreams.funnelExact]]
      // (buffer-until-watermark keyed state — the funnel's strictly-
      // ordered chain is NOT incrementally foldable with O(1) state under
      // out-of-order delivery, so the exact twin buffers its horizon and
      // folds once at timeout) must reproduce q_funnel's answer exactly.
      // Sentinel files drive the watermark past every user's deadline;
      // sentinel rows ride as step -1 (they advance the watermark but
      // never enter a fold) and their user filters out of the sink.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .select($"user_id".as("userId"),
          expr("ts div 1000").as("ts"),
          $"event_id".as("tie"),
          when($"event_type" === "view", 0)
            .when($"event_type" === "click", 1)
            .when($"event_type" === "purchase", 2)
            .otherwise(-1).as("step"))
        .as[graft.streaming.EventStreams.FunnelEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .funnelExact(stream, numSteps = 3, horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"userId" >= 0L)
        .select($"userId".as("user_id"),
          element_at($"times", 1).as("t_view"),
          element_at($"times", 2).as("t_click"),
          element_at($"times", 3).as("t_purchase"),
          $"stepsCompleted".as("steps_completed"))
        .orderBy($"user_id")
    },

    "q_stream_kmv" -> { (s, dir) =>
      import s.implicits._
      // STREAMING SKETCH STATE — the KMV bottom-k distinct-user sketch per
      // event type ([[graft.streaming.EventStreams.kmvDistinctExact]]),
      // the mergeable-sketch class of stateful streaming: unlike the
      // funnel's ordered chain the sketch is a commutative function of the
      // value SET, so state is O(k) longs per key BY CONSTRUCTION (not
      // bounded-by-horizon) and any micro-batch slicing of the replay
      // lands on the identical sketch. Inserts and readout share the batch
      // aggregate's KmvBuffer, and the gate faces the same KMV SQL oracle
      // shape as q_kmv_distinct — over events, keyed by type.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .filter($"user_id".isNotNull) // sentinels are -1: they pass, then filter from the sink
        .select($"event_type".as("key"),
          TextOps.polyHash($"user_id".cast("string")).as("h"),
          expr("ts div 1000").as("ts"))
        .as[graft.streaming.EventStreams.KmvEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .kmvDistinctExact(stream, k = 64, range = TextOps.Prime,
          horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("event_type"), $"nMin".as("n_min"),
          $"kthHash".as("kth_hash"), $"estDistinct".as("est_distinct"))
        .orderBy($"event_type")
    },

    "q_stream_quantiles" -> { (s, dir) =>
      import s.implicits._
      // STREAMING SAMPLE QUANTILES — the stream twin of q_sample_quantiles
      // ([[graft.streaming.EventStreams.hashSampleExact]]): per event type,
      // the bottom-64-by-hash sample of the event VALUES (exact integer
      // ten-thousandths), with positional nearest-rank quantile reads over
      // the emitted sample. Second member of the mergeable-sketch class
      // q_stream_kmv anchors — O(k) pair state per key by construction,
      // slicing/disorder invariant, inserts shared with the batch
      // aggregate's HashSampleBuffer. The hash key is the UNIQUE event id,
      // so the sample is a uniform row sample; the oracle replays the same
      // bottom-64 selection over the events table.
      val staged = Staging.streamSessionizeDir(s, dir, gapSec = 21600L)
      val ss = Staging.streamSession(s)
      val schema = Staging.replaySchema(ss, staged)
      val stream = ss.readStream.schema(schema)
        .parquet(staged)
        .filter($"user_id".isNotNull) // sentinels are -1: they pass, then filter from the sink
        .select($"event_type".as("key"),
          TextOps.polyHash($"event_id".cast("string")).as("h"),
          ($"value".cast("decimal(18,4)") * 10000).cast("long").as("v"),
          expr("ts div 1000").as("ts"))
        .as[graft.streaming.EventStreams.SampleEvent]
      val sink = Staging.nextStreamSink(ss)
      val q = graft.streaming.EventStreams
        .hashSampleExact(stream, k = 64, horizonSec = 21600L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      // Positional reads via the shared helper — the rank convention has
      // ONE home (Sketches.sampleQuantileCols), so this gate cannot drift
      // from the batch q_sample_quantiles.
      ss.table(sink).filter($"key" =!= "sentinel")
        .select($"key".as("event_type") +: $"nSample".as("n_sample") +:
          Sketches.sampleQuantileCols($"values", Seq(25, 50, 75, 90)): _*)
        .orderBy($"event_type")
    },
  )

  val oracleSql: Map[String, String] = Map(

    // the streaming replay must land on the identical batch KMV sketch
    "q_stream_kmv" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    ${duckHash("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nd
         |  FROM h)
         |SELECT event_type,
         |  CAST(LEAST(nd, 64) AS INTEGER) AS n_min,
         |  MAX(CASE WHEN rk = LEAST(nd, 64) THEN h END) AS kth_hash,
         |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
         |       ELSE 63.0 * 1000000007.0
         |            / CAST(MAX(CASE WHEN rk = 64 THEN h END) AS DOUBLE)
         |       END AS est_distinct
         |FROM r GROUP BY event_type, nd ORDER BY event_type""".stripMargin,

    "q_stream_quantiles" ->
      s"""WITH h AS (SELECT event_type,
         |    ${duckHash("CAST(event_id AS VARCHAR)")} AS h,
         |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
         |  FROM events WHERE user_id IS NOT NULL),
         |hd AS (SELECT event_type, h, MIN(v) AS v FROM h GROUP BY event_type, h),
         |r AS (SELECT event_type, v,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM hd),
         |s AS (SELECT event_type, v FROM r WHERE rk <= 64),
         |o AS (SELECT event_type, v,
         |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS vrk,
         |    COUNT(*) OVER (PARTITION BY event_type) AS ns FROM s)
         |SELECT event_type, CAST(MAX(ns) AS INT) AS n_sample,
         |  MAX(CASE WHEN vrk = (ns-1)*25//100 + 1 THEN v END) AS p25,
         |  MAX(CASE WHEN vrk = (ns-1)*50//100 + 1 THEN v END) AS p50,
         |  MAX(CASE WHEN vrk = (ns-1)*75//100 + 1 THEN v END) AS p75,
         |  MAX(CASE WHEN vrk = (ns-1)*90//100 + 1 THEN v END) AS p90
         |FROM o GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The buffered streaming replay must land on the batch detector's
    // exact integers — same oracle (the sentinel user never reaches the
    // compared sink).
    "q_stream_cusum" -> cusumOracle,

    // Streaming Fano twin: q_burstiness' arithmetic with only the
    // double exposed (the decimal pins are the batch gate's) and the
    // window count as INT (the stream state's map size).
    "q_stream_fano" ->
      """WITH e AS (SELECT event_type,
        |    epoch_ns(ts) // 1000 // 3600000000 AS w FROM events),
        |c AS (SELECT event_type, w, CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY event_type, w),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS cc
        |  FROM c GROUP BY event_type)
        |SELECT event_type, CAST(n AS INT) AS n_windows,
        |  s AS n_events,
        |  CASE WHEN n * s = 0 THEN NULL
        |    ELSE CAST(CAST(CAST(CAST(n AS DECIMAL(18,0)) * CAST(cc AS DECIMAL(19,0))
        |      - CAST(s AS DECIMAL(18,0)) * CAST(s AS DECIMAL(19,0))
        |      AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(CAST(n AS DECIMAL(18,0))
        |      * CAST(s AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS VARCHAR)
        |      AS DOUBLE) END AS fano
        |FROM a ORDER BY event_type""".stripMargin,

    // Streaming trimmed-mean twin: q_trimmed_mean's chain with only the
    // BIGINTs and the double exposed (the digit-string pin is the batch
    // gate's).
    "q_stream_trimmed" ->
      """WITH v AS (SELECT event_type AS grp,
        |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v FROM events),
        |lv AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS m
        |  FROM v WHERE v IS NOT NULL GROUP BY grp, v),
        |c AS (SELECT grp, v, m,
        |    COALESCE(SUM(m) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
        |    SUM(m) OVER (PARTITION BY grp) AS n
        |  FROM lv),
        |k AS (SELECT grp, v, n,
        |    greatest(0, least(cum + m, n - (n * 1 // 10))
        |      - greatest(cum, n * 1 // 10)) AS keep
        |  FROM c),
        |a AS (SELECT grp, CAST(max(n) AS BIGINT) AS n,
        |    CAST(sum(keep) AS BIGINT) AS n_kept,
        |    CAST(SUM(CAST(keep AS DECIMAL(18,0)) * CAST(v AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS trim_sum
        |  FROM k GROUP BY grp)
        |SELECT grp AS event_type, n, n_kept,
        |  CASE WHEN n_kept = 0 THEN NULL
        |    ELSE CAST(CAST(trim_sum AS VARCHAR) AS DOUBLE)
        |      / (CAST(n_kept AS DOUBLE) * 10000.0) END AS trimmed_mean
        |FROM a ORDER BY event_type""".stripMargin,

    // Streaming median twin: exact lower median over the e4 levels; the
    // med double is the exact integer level over the unit.
    "q_stream_median" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM v)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(v AS DOUBLE) / 10000.0 AS med
        |FROM r WHERE rn = (n + 1) // 2 ORDER BY event_type""".stripMargin,

    // Streaming Simpson twin: q_simpson's arithmetic with only the
    // doubles exposed (the pinned Σc² digit string is the batch gate's)
    // and the class count as INT (the stream state's map size).
    "q_stream_simpson" ->
      """WITH c AS (SELECT source AS g, lang,
        |    CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY g, lang),
        |a AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS INT) AS n_classes,
        |    CAST(SUM(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS sq
        |  FROM c GROUP BY g)
        |SELECT g AS source, n, n_classes,
        |  CAST(CAST(sq AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(19,0))
        |        AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS simpson,
        |  CAST(CAST(CAST(CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(19,0))
        |        AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS enc
        |FROM a ORDER BY source""".stripMargin,

    // Streaming Gini twin: q_gini's rank identity with only the double
    // exposed (the pinned rank-sum digit string is the batch gate's).
    "q_stream_gini" ->
      """WITH tk AS (SELECT source AS src,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tk GROUP BY src, tok),
        |r AS (SELECT src, c,
        |    CAST(row_number() OVER (PARTITION BY src ORDER BY c, tok)
        |      AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS m
        |  FROM c),
        |a AS (SELECT src, CAST(max(m) AS BIGINT) AS m_tokens,
        |    CAST(sum(c) AS BIGINT) AS total_tokens,
        |    CAST(SUM(CAST(2*i - m - 1 AS DECIMAL(19,0))
        |      * CAST(c AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS gini_num
        |  FROM r GROUP BY src)
        |SELECT src AS source, m_tokens, total_tokens,
        |  CAST(CAST(gini_num AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(CAST(m_tokens AS DECIMAL(18,0))
        |        * CAST(total_tokens AS DECIMAL(19,0)) AS DECIMAL(38,0))
        |        AS VARCHAR) AS DOUBLE) AS gini
        |FROM a ORDER BY source""".stripMargin,

    // Streaming ACF twin: q_autocorr's CTE chain with only the doubles
    // exposed (the pinned decimal sums are the batch gate's job; the
    // stream's fold must land on identical r's) and n as INT (the stream
    // row's buffer size).
    "q_stream_acf" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS o,
        |    event_id AS t0,
        |    CAST(CAST(COALESCE(value, 0.0) AS DECIMAL(18,4)) * 10000
        |      AS BIGINT) AS v
        |  FROM events),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s FROM e GROUP BY event_type),
        |u AS (SELECT e.event_type, o, t0, n, n * v - s AS u
        |  FROM e JOIN st USING (event_type)),
        |l AS (SELECT event_type, n, u,
        |    lead(u, 1) OVER w AS u1, lead(u, 2) OVER w AS u2,
        |    lead(u, 3) OVER w AS u3
        |  FROM u WINDOW w AS (PARTITION BY event_type ORDER BY o, t0)),
        |a AS (SELECT event_type, MAX(n) AS n,
        |    SUM(CAST(u AS DECIMAL(18,0)) * CAST(u AS DECIMAL(19,0))) AS den,
        |    COALESCE(SUM(CAST(u AS DECIMAL(18,0)) * CAST(u1 AS DECIMAL(19,0))), 0) AS c1,
        |    COALESCE(SUM(CAST(u AS DECIMAL(18,0)) * CAST(u2 AS DECIMAL(19,0))), 0) AS c2,
        |    COALESCE(SUM(CAST(u AS DECIMAL(18,0)) * CAST(u3 AS DECIMAL(19,0))), 0) AS c3
        |  FROM l GROUP BY event_type)
        |SELECT event_type, CAST(n AS INT) AS n,
        |  CASE WHEN den = 0 OR n <= 1 THEN NULL
        |    ELSE CAST(CAST(c1 AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(den AS VARCHAR) AS DOUBLE) END AS r1,
        |  CASE WHEN den = 0 OR n <= 2 THEN NULL
        |    ELSE CAST(CAST(c2 AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(den AS VARCHAR) AS DOUBLE) END AS r2,
        |  CASE WHEN den = 0 OR n <= 3 THEN NULL
        |    ELSE CAST(CAST(c3 AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(den AS VARCHAR) AS DOUBLE) END AS r3
        |FROM a ORDER BY event_type""".stripMargin,

    // Online budget admission: the batch window-cumsum prefix rule the
    // stream's buffer-until-watermark fold must land on exactly.
    "q_stream_budget" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS o,
        |    event_id AS t0,
        |    CAST(CAST(GREATEST(COALESCE(value, 0.0), 0.0)
        |      AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
        |  FROM events),
        |c AS (SELECT event_type, v,
        |    CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY o, t0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS INT) AS n,
        |  CAST(count(*) FILTER (cum <= 30000000) AS BIGINT) AS n_admit,
        |  CAST(COALESCE(sum(v) FILTER (cum <= 30000000), 0) AS BIGINT)
        |    AS tok_admit
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the streaming replay must land on the identical batch answer
    "q_stream_funnel" -> funnelOracle,

    // The streaming twin replays the same corpus with a horizon spanning
    // it, so its exact answer is the IDENTICAL brute-force scan.
    "q_stream_neardup" -> simhashNearDupOracle,

    "q_hopping_windows" ->
      """WITH e AS (SELECT event_type,
        |    epoch_ns(ts) // 1000000000 AS sec,
        |    CAST(value AS DECIMAL(18,4)) AS v FROM events),
        |w AS (SELECT event_type, v,
        |    (sec // 1800 - o) * 1800 AS window_start
        |  FROM e, (VALUES (0), (1)) AS t(o))
        |SELECT CAST(window_start AS BIGINT) AS window_start, event_type,
        |  count(*) AS n_events, CAST(sum(v) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // Batch twin of the stream-static enrichment join.
    "q_stream_enrich" ->
      """WITH p AS (SELECT user_id, count(*) AS n_user_events,
        |    min(epoch_ns(ts) // 1000000000) AS first_seen_sec
        |  FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, CAST(p.n_user_events AS BIGINT) AS n_user_events,
        |  CAST(epoch_ns(e.ts) // 1000000000 - p.first_seen_sec AS BIGINT) AS user_age_sec
        |FROM events e JOIN p USING (user_id)
        |WHERE e.event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    // Batch twin of the stream-stream range join: same user-key equi-join,
    // same microsecond floor arithmetic, same 1-hour window.
    "q_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events)
        |SELECT b.event_id AS buy_id, c.event_id AS view_id, b.user_id,
        |  CAST(b.us - c.us AS BIGINT) AS lag_us
        |FROM e b JOIN e c ON b.user_id = c.user_id
        |WHERE b.event_type = 'purchase' AND c.event_type = 'view'
        |  AND c.us BETWEEN b.us - 3600000000 AND b.us
        |ORDER BY buy_id, view_id""".stripMargin,

    "q_stream_outer_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |b AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT * FROM e WHERE event_type = 'view')
        |SELECT b.event_id AS buy_id, v.event_id AS view_id, b.user_id,
        |  CAST(b.us - v.us AS BIGINT) AS lag_us
        |FROM b LEFT JOIN v ON b.user_id = v.user_id
        |  AND v.us BETWEEN b.us - 3600000000 AND b.us
        |ORDER BY buy_id, view_id NULLS FIRST""".stripMargin,

    "q_stream_dedup" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ep, value
        |FROM events ORDER BY event_id""".stripMargin,

    "q_stream_richness" -> vocabRichnessOracle,
    "q_stream_t_closeness" -> tClosenessOracle,

    // Streamed value-count maps through the identical KS formula — the
    // batch q_ks_drift oracle gates the whole chain.
    "q_stream_ks_drift" -> ksDriftOracle,

        // Streaming token-shift twin: the batch q_token_shift formula per
    // source over the parity-defined corpus versions.
    "q_stream_token_shift" ->
      """WITH ca AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_a
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE (doc_id // 20) % 2 = 0) GROUP BY 1, 2),
        |cb AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_b
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE (doc_id // 20) % 2 = 1) GROUP BY 1, 2),
        |na AS (SELECT source, CAST(sum(c_a) AS BIGINT) AS na FROM ca GROUP BY source),
        |nb AS (SELECT source, CAST(sum(c_b) AS BIGINT) AS nb FROM cb GROUP BY source),
        |j AS (SELECT COALESCE(ca.source, cb.source) AS source,
        |    COALESCE(ca.tok, cb.tok) AS token,
        |    COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
        |  FROM ca FULL OUTER JOIN cb
        |    ON ca.source = cb.source AND ca.tok = cb.tok),
        |sh AS (SELECT j.source, token, c_a, c_b,
        |    CAST(abs(CAST(c_a AS DECIMAL(18,0)) * CAST(nb AS DECIMAL(19,0))
        |      - CAST(c_b AS DECIMAL(18,0)) * CAST(na AS DECIMAL(19,0)))
        |      AS DECIMAL(38,0)) AS num, na, nb
        |  FROM j JOIN na ON j.source = na.source
        |  JOIN nb ON j.source = nb.source)
        |SELECT source, CAST(rnk AS INT) AS rnk, token, c_a, c_b,
        |  CAST(num AS VARCHAR) AS shift_num,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(CAST(na AS DECIMAL(18,0))
        |        * CAST(nb AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS VARCHAR)
        |        AS DOUBLE) AS shift
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY num DESC, token) AS rnk FROM sh)
        |WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin,

    "q_stream_lang_ngram" -> langIdOracle,

    // Streamed contingency cells through the identical sorted-fold χ²
    // formula — the batch q_chi_square oracle gates the chain.
    "q_stream_chi_square" -> chiSquareOracle,

    // Streamed joint-label cells through the identical integer-exact κ
    // formula — the batch q_cohens_kappa oracle gates the chain.
    "q_stream_cohens_kappa" -> cohensKappaOracle,

    // Streamed per-QI-group sensitive count maps through the identical
    // size/distinct formula — the batch q_k_anonymity oracle gates it.
    "q_stream_k_anonymity" -> kAnonymityOracle,

    // Streamed joint-label cells through the identical confusion-matrix
    // formulas — the batch q_class_prf oracle gates the chain.
    "q_stream_class_prf" -> classPrfOracle,

    "q_sessionize" -> sessionizeOracle,

    // The streaming sessionizer is gated against the SAME batch oracle —
    // that equality is the entire point of the gate.
    "q_stream_sessionize" -> sessionizeOracle,

    "q_event_windows" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
        |  event_type, count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q_gap_fill" ->
      """WITH obs AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(CAST(min(day) AS TIMESTAMP),
        |      CAST(max(day) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM obs GROUP BY user_id),
        |j AS (
        |  SELECT s.user_id, s.day, o.n_events, o.day_value,
        |    (o.user_id IS NOT NULL) AS is_observed
        |  FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day)
        |SELECT user_id, day,
        |  last_value(n_events IGNORE NULLS) OVER w AS n_events,
        |  last_value(day_value IGNORE NULLS) OVER w AS day_value,
        |  is_observed
        |FROM j
        |WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING)
        |ORDER BY user_id, day""".stripMargin,

    "q_stream_windows" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // The streaming twin's exact second pass yields the identical GROUP BY
    // + HAVING answer (candidates ⊇ true heavy hitters after any order).
    "q_stream_topk" -> heavyHittersOracle,

    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, ep AS purchase_ep
        |  FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ep AS click_ep, max(event_id) AS click_id
        |  FROM e WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.purchase_id, p.user_id, p.purchase_ep, c.click_id,
        |  p.purchase_ep - c.click_ep AS gap_sec
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.purchase_ep >= c.click_ep
        |ORDER BY p.purchase_id""".stripMargin,

    "q_range_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, ep AS purchase_ep
        |  FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ep AS click_ep FROM e WHERE event_type = 'click'),
        |h AS (SELECT p.purchase_id, count(*) AS n FROM p JOIN c
        |  ON p.user_id = c.user_id
        |  AND c.click_ep BETWEEN p.purchase_ep - 3600 AND p.purchase_ep
        |  GROUP BY 1)
        |SELECT p.purchase_id, p.user_id, p.purchase_ep,
        |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_clicks_1h
        |FROM p LEFT JOIN h ON p.purchase_id = h.purchase_id
        |ORDER BY p.purchase_id""".stripMargin,

    "q_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, ep AS p_start,
        |  ep + 1800 AS p_end FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ep AS c_start, ep + 900 AS c_end
        |  FROM e WHERE event_type = 'click'),
        |h AS (SELECT p.purchase_id, count(*) AS n,
        |  SUM(LEAST(p.p_end, c.c_end) - GREATEST(p.p_start, c.c_start)) AS sec
        |  FROM p JOIN c ON p.user_id = c.user_id
        |  AND p.p_start <= c.c_end AND c.c_start <= p.p_end
        |  GROUP BY 1)
        |SELECT p.purchase_id, p.user_id, p.p_start,
        |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_overlap,
        |  CAST(coalesce(h.sec, 0) AS BIGINT) AS overlap_sec
        |FROM p LEFT JOIN h ON p.purchase_id = h.purchase_id
        |ORDER BY p.purchase_id""".stripMargin,
  )
}
