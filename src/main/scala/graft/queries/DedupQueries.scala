package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.operators._
import graft.queries.QueryShared._
import graft.meta.Ckpt.Syntax

/** Deduplication + sketch gates: exact/fingerprint dedup, MinHash-LSH,
  * SimHash, blocked n-gram Jaccard (exact and df-capped), containment,
  * dup clusters, substring spans, KMV/CMS/Misra-Gries sketches — with
  * their DuckDB oracles. One family file of [[PipelineQueries]] (split
  * r18; determinism conventions documented there).
  */
object DedupQueries extends QueryDomain {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- deduplication ----------------------------------------------------
    "q_dedup_exact" -> { (s, dir) =>
      import s.implicits._
      // Exact dedup by content hash-group: the fixture's texts are unique, so
      // duplicates are synthesized by unioning an id-shifted copy; the dedup
      // must keep exactly the minimum-id instance of every text.
      // t(), not docs(): the first real operation is the window's shuffle on
      // `text`, which provides the parallelism itself — docs()'s round-robin
      // repartition would just shuffle the full text column an extra time
      // for zero pre-shuffle work (it exists for per-row-expression-heavy
      // pipelines that would otherwise run on the fixture's single split).
      val d = t(s, dir, "documents").select($"doc_id", $"text", $"lang", $"source")
      val dup = d.unionByName(d.withColumn("doc_id", $"doc_id" + 1000000L))
      val w = Window.partitionBy($"text").orderBy($"doc_id")
      dup.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id")
    },

    "q_dedup_fingerprint" -> { (s, dir) =>
      import s.implicits._
      // Normalization-key dedup: documents sharing a sorted bag-of-words
      // collapse to one group (min id kept), fingerprinted with the rolling
      // hash. GroupBy on the key — scales as a standard hash aggregate.
      val d = docs(s, dir)
        .select($"doc_id", TextOps.bagOfWordsKey($"text").as("bk"))
      d.groupBy($"bk")
        .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("group_size"))
        .select($"keep_doc_id", $"group_size", TextOps.polyHash($"bk").as("bag_fp"))
        .orderBy($"keep_doc_id")
    },

    "q_dedup_minhash" -> { (s, dir) =>
      import s.implicits._
      // MinHash-banded LSH near-dup pairs (word 3-gram shingles, 32 hashes,
      // 8 bands × 4) with exact-Jaccard verification at J >= 1/2. The
      // oracle brute-forces all pairs — at the fixture's similarity gap
      // (planted near-dups at J≈0.97, background < 0.2) banded recall is
      // 1 - ~3e-8, so LSH+verify equals brute force exactly. 32×8 rather
      // than 64×16 halves the signature work at no observable recall cost
      // for that gap; re-derive bands before tightening the J threshold.
      orderedSmall(
        MinHashLsh.nearDupPairs(docs(s, dir), "doc_id", "text",
          numHashes = 32, numBands = 8, shingleN = 3, threshNum = 1, threshDen = 2)
          .select($"doc_i", $"doc_j",
            $"n_common".cast("long").as("n_common"), $"n_union".cast("long").as("n_union")),
        $"doc_i", $"doc_j")
    },

    "q_dedup_simhash" -> { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir)
        .select($"doc_id", SimHash.tokenHashes($"text").as("th"))
      d.select($"doc_id", SimHash.simhashFast($"th", 32).as("simhash32"),
        size($"th").cast("long").as("n_tokens"))
        .orderBy($"doc_id")
    },

    "q_simhash_neardup" -> { (s, dir) =>
      import s.implicits._
      // Banded SimHash near-dup search (60-bit signatures, 4 bands × 15).
      // maxHamming=3 <= bands-1, so banded recall is exactly 1 and the
      // output equals the oracle's brute-force all-pairs scan by pigeonhole,
      // independent of the fixture's similarity distribution.
      orderedSmall(
        SimHash.nearDupPairs(docs(s, dir), "doc_id", "text",
          bits = 60, bandBits = 15, maxHamming = 3),
        $"doc_i", $"doc_j")
    },

    "q_dedup_eval" -> { (s, dir) =>
      import s.implicits._
      // The dedup family judged by its own judge ([[EvalOps.pairSetPrf]]):
      // pair-level precision/recall/F1 of the lossy 60-bit SimHash@3
      // detector against the exact-Jaccard ≥ ½ ground truth (MinHash-LSH
      // + exact verify — brute-force-equal on this fixture, its own gate
      // pins that). Different near-dup DEFINITIONS, so the counts are a
      // real measurement, not a tautology; one full-outer join on the
      // canonical pair key, both sides candidate-bounded by their
      // banding.
      EvalOps.pairSetPrf(
        SimHash.nearDupPairs(docs(s, dir), "doc_id", "text",
          bits = 60, bandBits = 15, maxHamming = 3)
          .select($"doc_i", $"doc_j"),
        MinHashLsh.nearDupPairs(docs(s, dir), "doc_id", "text",
          numHashes = 32, numBands = 8, shingleN = 3,
          threshNum = 1, threshDen = 2)
          .select($"doc_i", $"doc_j"))
    },

    "q_dedup_clusters" -> { (s, dir) =>
      import s.implicits._
      // Cluster RESOLUTION — the step downstream of every pairwise near-dup
      // generator: pairs (here the banded 60-bit SimHash generator of
      // q_simhash_neardup, Hamming <= 3, recall exactly 1 by pigeonhole)
      // form a graph whose connected components are the duplicate clusters.
      // [[GraphOps.connectedComponents]] (alternating large-star/small-star,
      // O(log n) rounds of node-keyed shuffles, no driver-side graph) labels
      // each member with the component-minimum doc_id — the canonical
      // keep-one representative — and a window sizes the clusters.
      val pairs = SimHash.nearDupPairs(docs(s, dir), "doc_id", "text",
        bits = 60, bandBits = 15, maxHamming = 3)
      val comp = GraphOps.connectedComponents(pairs, "doc_i", "doc_j")
      comp.select($"node".as("doc_id"), $"component".as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy($"cluster_id")).cast("long"))
        .orderBy($"doc_id")
    },

    "q_cc_incremental" -> { (s, dir) =>
      import s.implicits._
      // Incremental component maintenance
      // ([[GraphOps.incrementalComponents]]): the duplicate graph ACCRETES
      // — each ingest batch adds near-dup pairs — and recomputing
      // components over the full history per batch is the scale trap the
      // quotient-contraction path avoids (only the new batch's edges are
      // traversed). Pairs split deterministically into "history"
      // ((doc_i+doc_j)%3 != 0) and "today" (== 0); yesterday's labeling
      // plus today's edges must equal a from-scratch run over the union,
      // which is exactly how the gate is oracled — the same recursive-CTE
      // SQL as q_dedup_clusters.
      // Lazy localCheckpoint: the pair set feeds BOTH the history CC and
      // the today filter — without it the banded generator runs twice.
      val pairs = SimHash.nearDupPairs(docs(s, dir), "doc_id", "text",
        bits = 60, bandBits = 15, maxHamming = 3)
        .ckptLazy
      val history = pairs.filter(($"doc_i" + $"doc_j") % 3 =!= 0)
      val today = pairs.filter(($"doc_i" + $"doc_j") % 3 === 0)
      val labels = GraphOps.connectedComponents(history, "doc_i", "doc_j")
      GraphOps.incrementalComponents(labels, "node", "component",
          today, "doc_i", "doc_j")
        .select($"node".as("doc_id"), $"component".as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy($"cluster_id")).cast("long"))
        .orderBy($"doc_id")
    },

    "q_stream_components" -> { (s, dir) =>
      import s.implicits._
      // ONLINE duplicate-cluster maintenance
      // ([[GraphOps.streamComponents]]) — the streaming twin of
      // q_cc_incremental: the SimHash near-dup pair set replays as three
      // micro-batches, each folding through incrementalComponents inside
      // foreachBatch (the labels frame IS the state, eagerly
      // localCheckpointed so lineage stays O(1) in batch count). The final
      // labeling must equal from-scratch components over every pair seen —
      // the same recursive-CTE oracle gates batch, incremental, and stream.
      // Flat part-files, not a nested dataset dir: the file-stream source
      // lists FILES under the path (the Staging.streamDocsDir layout).
      val staged = Staging.dir("streamcc", dir, "pairs") { p =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
        val tmp = s"${p}_stage"
        SimHash.nearDupPairs(docs(s, dir), "doc_id", "text",
            bits = 60, bandBits = 15, maxHamming = 3)
          .select($"doc_i", $"doc_j")
          .repartition(3).write.mode("overwrite").parquet(tmp)
        val parts = Option(new java.io.File(tmp).listFiles()).toSeq.flatten
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .sortBy(_.getName)
        require(parts.nonEmpty, s"no part files under $tmp")
        parts.zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(p, f"batch_$i%02d.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
        }
        Staging.rmTree(new java.io.File(tmp))
      }
      // Heavy clone: each micro-batch runs a full connected-components
      // contraction inside foreachBatch — per-batch shuffle parallelism,
      // not the state-store floor, binds ([[Staging.streamSessionHeavy]]).
      val ss = Staging.streamSessionHeavy(s)
      val src = ss.readStream.schema(Staging.stagedSchema(ss, staged))
        .option("maxFilesPerTrigger", 1).parquet(staged)
      val (q, labels) = GraphOps.streamComponents(src, "doc_i", "doc_j")
      try q.processAllAvailable() finally q.stop()
      labels()
        .select($"node".as("doc_id"), $"component".as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy($"cluster_id")).cast("long"))
        .orderBy($"doc_id")
    },

    "q_entity_resolution" -> { (s, dir) =>
      import s.implicits._
      // END-TO-END entity resolution — the composition the blocking
      // family exists for: (1) BLOCK by sorted-neighborhood over the
      // bag-of-words wide-hash order ([[RankOps.sortedNeighborhoodPairs]],
      // window 4 — identical records hash identically so copies sit
      // adjacent); (2) VERIFY each candidate pair by 60-bit SimHash
      // Hamming ≤ 3 ([[SimHash.textSignatures]] — candidates only, never
      // all pairs); (3) CLUSTER verified matches by connected components
      // ([[GraphOps.connectedComponents]]); (4) size each cluster.
      // Duplicates planted as TWO id-shifted copies per doc, so true
      // clusters have size ≥ 3 and transitivity does real work (copies
      // chain a→a'→a'' through adjacent pairs even when the ends sit
      // outside one window). The fixture's natural bag-collisions add
      // verify-stage decisions AND exhibit windowed blocking's honest
      // recall trade: in a bag-group of g ≥ window docs, a doc's copies
      // sit g ranks apart and unrelated in-between docs fail the verify,
      // so those copies stay unclustered — the documented SNM contract
      // (widen the window or add a second blocking pass for recall).
      val b0 = t(s, dir, "documents").select($"doc_id", $"text")
      val base = b0
        .unionByName(b0.withColumn("doc_id", $"doc_id" + 1000000L))
        .unionByName(b0.withColumn("doc_id", $"doc_id" + 2000000L))
      val keyed = base.select($"doc_id",
        TextOps.wideHash(TextOps.bagOfWordsKey($"text")).as("bh"))
      val cand = RankOps
        .sortedNeighborhoodPairs(keyed, Seq($"bh", $"doc_id"), window = 4)
        .select($"doc_id_i", $"doc_id_j")
      val sigs = SimHash.textSignatures(base, "doc_id", "text", bits = 60)
      val edges = cand
        .join(sigs.select($"doc_id".as("doc_id_i"), $"sig".as("sig_i")), "doc_id_i")
        .join(sigs.select($"doc_id".as("doc_id_j"), $"sig".as("sig_j")), "doc_id_j")
        .filter(bit_count($"sig_i".bitwiseXOR($"sig_j")) <= 3)
      GraphOps.connectedComponents(edges, "doc_id_i", "doc_id_j")
        .select($"node".as("doc_id"), $"component".as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy($"cluster_id")).cast("long"))
        .orderBy($"doc_id")
    },

    "q_co_occur" -> { (s, dir) =>
      import s.implicits._
      // Capped co-occurrence projection ([[ScaleJoins.cappedCoOccurrence]]):
      // co-supplier pairs per part with each part contributing only its 8
      // smallest suppliers — the EXPLICIT, deterministic truncation that
      // keeps the projection |keys|·cap² instead of a hub key's Σdeg²
      // blow-up (the failure mode the first q_triangles gate measured).
      orderedSmall(
        ScaleJoins.cappedCoOccurrence(t(s, dir, "lineitem"),
          "l_partkey", "l_suppkey", maxPerKey = 8),
        $"it_i", $"it_j")
    },

    "q_triangles" -> { (s, dir) =>
      import s.implicits._
      // Exact triangle counting ([[GraphOps.triangleCount]]) over a SPARSE
      // deterministic graph: customers linked when their orders have
      // consecutive order keys (an equi-join on o_orderkey+1 — average
      // degree ~2·orders-per-customer, a realistic social-graph density).
      // A co-occurrence projection (e.g. co-suppliers per part) is the
      // WRONG gate graph here: on this uniform fixture it converges to a
      // near-complete clique whose Θ(n³) triangles measure the input, not
      // the operator. Degree ordering bounds wedge work at O(m^1.5).
      val o = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val edges = o.as("a")
        .join(o.as("b"), col("a.o_orderkey") + 1 === col("b.o_orderkey"))
        .select(col("a.o_custkey").as("c1"), col("b.o_custkey").as("c2"))
      GraphOps.triangleCount(edges, "c1", "c2")
    },

    "q_epoch_shuffle" -> { (s, dir) =>
      import s.implicits._
      // Deterministic epoch shuffle + shard/position assignment — the
      // training-export step: each epoch permutes the corpus by a seeded
      // content-independent hash (epoch in the hash = a fresh permutation
      // per epoch, reproducible across runs/engines), shards by hash mod
      // N, and positions within each shard by a shard-keyed window (the
      // per-shard sort is the bounded one — never a global sort).
      val seed = 3 // epoch number
      val h = TextOps.wideHash(concat(lit(s"e$seed:"), $"doc_id".cast("string")))
      val w = Window.partitionBy($"shard").orderBy($"h", $"doc_id")
      t(s, dir, "documents")
        .select($"doc_id", h.as("h"))
        .withColumn("shard", pmod($"h", lit(4L)).cast("int"))
        .withColumn("pos", row_number().over(w))
        .select($"doc_id", $"shard", $"pos")
        .orderBy($"shard", $"pos")
    },

    "q_pca_top" -> { (s, dir) =>
      import s.implicits._
      // Dominant principal component ([[VectorOps.topComponentInt]], 8
      // integer-scaled power-iteration rounds): ONE distributed pass
      // builds the exact scaled scatter matrix n·Σxxᵀ − (Σx)(Σx)ᵀ
      // (combiner-reduced (i,j)-keyed aggregate, d² cells of state), the
      // 64×64 matrix eigensolves on the driver in pure BIGINT
      // multiply-then-floor-shift — the pageRankInt discipline, so the
      // direction hash-gates against the oracle's unrolled recurrence.
      VectorOps.topComponentInt(t(s, dir, "embeddings"), "embedding",
        iterations = 8)
    },

    "q_cusum" -> { (s, dir) =>
      import s.implicits._
      // One-sided CUSUM drift detector per user ([[TimeSeriesOps.cusum]],
      // Page 1954): reference 60.0, alarm threshold 200.0 (ten-thousandth
      // units) over the (ts_µs, event_id)-ordered value series — the
      // telemetry changepoint screen. Exact BIGINT fold (values quantized
      // once to DECIMAL(18,4)·10⁴), so the recursion hash-gates where a
      // float running sum could not; the fixture yields a non-trivial
      // alarm spread (some users spend time above threshold, most don't).
      TimeSeriesOps.cusum(events(s, dir),
          Seq("user_id"), expr("ts div 1000"), Seq($"event_id"),
          $"value", refValueE4 = 600000L, thresholdE4 = 2000000L)
        .orderBy($"user_id")
    },

    "q_burstiness" -> { (s, dir) =>
      import s.implicits._
      // Per-type traffic burstiness ([[TimeSeriesOps.fanoFactor]]): the
      // Fano factor (variance/mean of per-hour event counts, 1 = Poisson)
      // — the rogue-crawler/collapsed-source early warning next to
      // q_autocorr's temporal correlation. Exact integer moments over
      // observed hour windows; two hash aggregates, no window function.
      TimeSeriesOps.fanoFactor(events(s, dir),
          Seq("event_type"), expr("ts div 1000"), windowSec = 3600L)
        .orderBy($"event_type")
    },

    "q_trimmed_mean" -> { (s, dir) =>
      import s.implicits._
      // Per-type 10%-trimmed mean of the event value
      // ([[StatOps.trimmedMean]]): the robust location between
      // q_robust_outliers' median and the plain mean. Values quantize
      // once to e4 BIGINTs; each value LEVEL contributes the exact
      // integer overlap of its rank interval with the trimmed window —
      // no data-row sort anywhere, windows over LEVEL rows only.
      StatOps.trimmedMean(events(s, dir), "event_type", "value",
        trimNum = 1, trimDen = 10)
        .orderBy($"event_type")
    },

    "q_autocorr" -> { (s, dir) =>
      import s.implicits._
      // Exact sample autocorrelation at lags 1–3 per event type
      // ([[TimeSeriesOps.acf]]): the seasonality/trend fingerprint of each
      // metric stream over (ts_µs, event_id) order. Integer centering
      // (uᵢ = n·vᵢ − S) turns the mean-centered ratio into exact
      // (18,0)×(19,0) decimal sums — the pinned c/den integers gate the
      // statistic beyond double printing; one window sort serves all
      // three leads.
      TimeSeriesOps.acf(events(s, dir),
          Seq("event_type"), expr("ts div 1000"), Seq($"event_id"),
          $"value", maxLag = 3)
        .orderBy($"event_type")
    },

    "q_k_anonymity" -> { (s, dir) =>
      import s.implicits._
      // k-anonymity / l-diversity release gate
      // ([[GovernanceOps.anonymityRisk]], k = 5, l = 3): events under the
      // quasi-identifier (event_type, day, value-bucket) with user_id as
      // the sensitive attribute — every group small enough to link or
      // uniform enough to disclose is reported with both metrics. The
      // parameters bite at BOTH SFs without flagging everything (140/241
      // and 138/417 groups risky), so the filter's both sides are under
      // the gate. floor(value/100), never CAST (DuckDB's BIGINT cast
      // rounds where Spark's truncates — the Tables.events hazard).
      val e = events(s, dir).select($"event_type",
        expr("ts div 86400000000000").as("day"),
        floor($"value" / 100.0).cast("long").as("vb"),
        $"user_id")
      GovernanceOps.anonymityRisk(e, Seq("event_type", "day", "vb"),
          "user_id", k = 5, l = 3)
        .select($"event_type", $"day", $"vb", $"group_size", $"n_sensitive",
          $"k_risk".cast("int").as("k_risk"), $"l_risk".cast("int").as("l_risk"))
        .orderBy($"event_type", $"day", $"vb")
    },

    "q_ewma" -> { (s, dir) =>
      import s.implicits._
      // Final EWMA per user ([[TimeSeriesOps.ewmaLast]], α = 1/4 — an
      // exact binary fraction, so the literals are bit-identical in both
      // engines): the recursive smoothing fold over (ts_µs, event_id)
      // order. One strict left fold per key — the float-op sequence is
      // fixed by the data, so the double output hash-gates directly.
      TimeSeriesOps.ewmaLast(events(s, dir),
          Seq("user_id"), expr("ts div 1000"), Seq($"event_id"),
          $"value", alpha = 0.25)
        .orderBy($"user_id")
    },

    "q_cohort_retention" -> { (s, dir) =>
      import s.implicits._
      // Cohort retention matrix — the warehouse classic: users cohorted
      // by first-seen week, counted per (cohort_week, weeks_since) cell.
      // Week index is pure integer µs arithmetic (epoch_µs div week), so
      // both engines bucket identically with no calendar functions; two
      // aggregates (per-user min, then cell counts), both user-keyed
      // until the bounded cell aggregate.
      val weekUs = 7L * 86400L * 1000000L
      val e = events(s, dir)
        .select($"user_id", expr(s"(ts div 1000) div $weekUs").as("wk"))
      val first = e.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
      e.join(first, "user_id")
        .groupBy($"cohort_wk", ($"wk" - $"cohort_wk").as("weeks_since"))
        .agg(countDistinct($"user_id").as("n_active"))
        .orderBy($"cohort_wk", $"weeks_since")
    },

    "q_funnel" -> { (s, dir) =>
      import s.implicits._
      // Ordered-step funnel ([[FunnelOps.funnel]]): earliest
      // view → click → purchase completion per user, each step strictly
      // after the row completing the previous one (total order
      // (ts_µs, event_id) — simultaneous events resolve
      // deterministically). Microseconds on BOTH sides: the fixture's
      // TIMESTAMP(NANOS) reads as µs in DuckDB, so ordering by raw nanos
      // here could break ties the oracle cannot see. One user-keyed
      // shuffle and one sort serve all three chained running-min windows
      // AND the final aggregate (plan-guarded).
      FunnelOps.funnel(events(s, dir), "user_id",
          orderTs = expr("ts div 1000"), tieCols = Seq($"event_id"),
          steps = Seq(
            "view" -> ($"event_type" === "view"),
            "click" -> ($"event_type" === "click"),
            "purchase" -> ($"event_type" === "purchase")))
        .orderBy($"user_id")
    },

    "q_neg_sample" -> { (s, dir) =>
      import s.implicits._
      // Deterministic in-batch negative sampling
      // ([[CorpusOps.inBatchNegatives]]): every 10th doc is a query with
      // its successor as the positive; negatives come from the query's
      // own hash bucket, ranked by the pair hash — stable across
      // runs/engines/partitionings where rand() sampling is not.
      //
      // nBuckets is the operator's scale knob (bucket-join fan-out =
      // |q|·|c|/nBuckets): hardcoded 8 made the sf1 sweep quadratic
      // (0.87 → 56 s at 10× data). It now grows with the corpus by
      // integer arithmetic BOTH engines compute identically —
      // 8·(1 + (n−1) div 5000) caps per-bucket candidates at ~625 and
      // turns the 10×-data cost into ~10×. The count stages per (sf, JVM)
      // so bench reps measure the sampler, not a count job.
      val d = t(s, dir, "documents")
      val nDocs = Staging.memo[Long]("negsample_n", dir)(d.count())
      val nBuckets = (8L * (1L + (nDocs - 1L) / 5000L)).toInt
      val pairs = d.filter(pmod($"doc_id", lit(10L)) === 0)
        .select($"doc_id".as("query_id"), ($"doc_id" + 1).as("pos_id"))
      CorpusOps.inBatchNegatives(pairs, "query_id", "pos_id",
          d.select($"doc_id"), "doc_id", k = 4, nBuckets = nBuckets)
        .orderBy($"query_id", $"rank")
    },

    "q_token_classes" -> { (s, dir) =>
      import s.implicits._
      // GPT-2-style regex pre-tokenization, class-counted. The classes of
      // the combined pattern '[a-z]+|[0-9]+|[^a-z0-9 ]' are DISJOINT and
      // each alternative matches maximal runs, so per-class counts sum
      // exactly to the combined scan's token count; the compiled
      // [[graft.functions.TokenClassCounts]] computes all three in ONE
      // pass with zero allocation — replacing the old regexp_extract_all
      // + two rlike array filters, which materialized every token as a
      // heap string ×3 just to count them (r20 VERDICT item 2's
      // allocation profile; r21 rewrite, values unchanged — equivalence
      // vs the regex forms pinned in DeGcEquivalenceSpec). The oracle
      // keeps the regex formulation (DuckDB's RE2 interprets these
      // classes identically). The fixture text is pure lowercase+space,
      // so digits/punctuation are planted deterministically by suffixing
      // each doc with its own id and a bang — same construction in the
      // oracle.
      val txt = concat($"text", lit(" v"), $"doc_id".cast("string"), lit("!"))
      val cls = org.apache.spark.sql.graft.bridge.column(
        graft.functions.TokenClassCounts(
          org.apache.spark.sql.graft.bridge.expression(txt)))
      docs(s, dir)
        .select($"doc_id", cls.as("graft_tc"))
        .select($"doc_id",
          ($"graft_tc.n_word" + $"graft_tc.n_digit" + $"graft_tc.n_punct")
            .as("n_tokens"),
          $"graft_tc.n_digit".as("n_digit"),
          $"graft_tc.n_word".as("n_word"),
          $"graft_tc.n_punct".as("n_punct"))
        .orderBy($"doc_id")
    },

    "q_dq_checks" -> { (s, dir) =>
      import s.implicits._
      // Declarative data-quality report ([[DqChecks.check]]): not-null +
      // range checks fused into ONE scan, uniqueness as a keyed
      // aggregate, referential integrity as an anti-join against the
      // distinct dimension keys. Violations planted the suite's standard
      // way (a deterministic union of broken copies: null custkeys +
      // duplicate orderkeys for every orderkey % 100 == 0) on top of the
      // fixture's natural ones (2978 prices above 400k; the FK orphans
      // come from excluding custkey % 7 == 0 from the reference side).
      val o = t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      val broken = o.filter(pmod($"o_orderkey", lit(100L)) === 0)
        .select($"o_orderkey", lit(null).cast("long").as("o_custkey"),
          $"o_totalprice")
      val target = o.unionByName(broken)
      val refCust = t(s, dir, "customer")
        .filter(pmod($"c_custkey", lit(7L)) =!= 0)
      DqChecks.check(target,
        rowChecks = Seq(
          DqChecks.notNull("custkey_not_null", $"o_custkey"),
          DqChecks.satisfies("price_in_range",
            $"o_totalprice".between(0.0, 400000.0)),
          DqChecks.satisfies("orderkey_positive", $"o_orderkey" >= 0)),
        uniques = Seq(DqChecks.UniqueCheck("orderkey_unique",
          Seq("o_orderkey"))),
        fks = Seq(DqChecks.FkCheck("custkey_in_customer",
          Seq("o_custkey"), refCust, Seq("c_custkey"))))
    },

    "q_bfs_reach" -> { (s, dir) =>
      import s.implicits._
      // Multi-source bounded BFS ([[GraphOps.bfsDistances]]) over the
      // q_triangles consecutive-order customer graph: every customer
      // within 3 undirected hops of a seed set (custkey % 50 == 0) gets
      // its minimum hop count — the "everything near a known-bad seed"
      // triage query. k rounds of edge join + node-keyed min aggregate;
      // pure integer mins, so the oracle is the same relaxation unrolled
      // as k CTEs.
      val o = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val edges = o.as("a")
        .join(o.as("b"), col("a.o_orderkey") + 1 === col("b.o_orderkey"))
        .select(col("a.o_custkey").as("c1"), col("b.o_custkey").as("c2"))
      val seeds = o.select($"o_custkey")
        .filter(pmod($"o_custkey", lit(50L)) === 0).distinct()
      GraphOps.bfsDistances(edges, "c1", "c2", seeds, "o_custkey", maxHops = 3)
        .orderBy($"node")
    },

    "q_pagerank" -> { (s, dir) =>
      import s.implicits._
      // Integer-scaled PageRank ([[GraphOps.pageRankInt]], 5 damped
      // rounds at d = 17/20) on the same graph. Every arithmetic step is
      // BIGINT multiply-then-floor-divide, so the iteration is
      // bit-reproducible across engines and partitionings — float
      // PageRank's order-sensitive Σ could never face a hash gate. The
      // oracle unrolls the recurrence as 5 CTEs over the symmetrized
      // edge list.
      val o = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val edges = o.as("a")
        .join(o.as("b"), col("a.o_orderkey") + 1 === col("b.o_orderkey"))
        .select(col("a.o_custkey").as("c1"), col("b.o_custkey").as("c2"))
      GraphOps.pageRankInt(edges, "c1", "c2", iterations = 5)
        .orderBy($"node")
    },

    "q_ppr" -> { (s, dir) =>
      import s.implicits._
      // Personalized PageRank ([[GraphOps.personalizedPageRankInt]], 5
      // damped rounds) from the q_bfs_reach seed set (custkey % 50 == 0)
      // on the same consecutive-order customer graph — seed-expansion
      // relevance ("score everyone by closeness to the labeled handful"),
      // complementing BFS hop counts with a degree-weighted diffusion
      // score. Same exact-BIGINT recurrence as q_pagerank, so the oracle
      // unrolls it with the restart mass gated on the seed predicate.
      val o = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val edges = o.as("a")
        .join(o.as("b"), col("a.o_orderkey") + 1 === col("b.o_orderkey"))
        .select(col("a.o_custkey").as("c1"), col("b.o_custkey").as("c2"))
      val seeds = o.select($"o_custkey")
        .filter(pmod($"o_custkey", lit(50L)) === 0).distinct()
      GraphOps.personalizedPageRankInt(
          edges, "c1", "c2", seeds, "o_custkey", iterations = 5)
        .orderBy($"node")
    },

    "q_label_prop" -> { (s, dir) =>
      import s.implicits._
      // Majority-vote label propagation ([[GraphOps.labelPropagation]],
      // 3 synchronous rounds, ties to the min label) on the same
      // consecutive-order customer graph — community detection without
      // PageRank's arithmetic. Fixed rounds + deterministic tie rule
      // make it hash-gateable; the oracle unrolls the rounds as CTEs
      // with a rank window playing the argmax.
      val o = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val edges = o.as("a")
        .join(o.as("b"), col("a.o_orderkey") + 1 === col("b.o_orderkey"))
        .select(col("a.o_custkey").as("c1"), col("b.o_custkey").as("c2"))
      GraphOps.labelPropagation(edges, "c1", "c2", iterations = 3)
        .withColumn("community_size",
          count(lit(1)).over(Window.partitionBy($"community")))
        .orderBy($"node")
    },

    "q_skyline" -> { (s, dir) =>
      import s.implicits._
      // Pareto frontier (minimize price, minimize size) over distinct
      // part price/size points via [[Skyline.skyline2dMin]] — the
      // grid-pruned two-phase plan, NOT an all-pairs dominance join.
      // Price is quantized to integer cents with the IEEE chain
      // floor(v·100 + 0.5) on both engines (the q_embed_centroid
      // playbook) so every gated column is BIGINT; the oracle states
      // dominance as NOT EXISTS, which the grid plan must reproduce
      // exactly.
      val pts = t(s, dir, "part")
        .select(
          expr("CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT)")
            .as("price_c"),
          $"p_size".cast("long").as("size"))
        .groupBy($"price_c", $"size").agg(count(lit(1)).as("n_parts"))
      Skyline.skyline2dMin(pts, "price_c", "size")
        .orderBy($"price_c", $"size")
    },

    "q_skyline_brand" -> { (s, dir) =>
      import s.implicits._
      // Per-brand Pareto frontier ([[Skyline.skyline2dMinPerGroup]]) —
      // the partitioned variant: one exchange on the brand key, the
      // lexicographic running-min window doing all the dominance work, NO
      // join anywhere (plan-guarded). Same integer-cents quantization as
      // q_skyline.
      val pts = t(s, dir, "part")
        .select($"p_brand",
          expr("CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT)")
            .as("price_c"),
          $"p_size".cast("long").as("size"))
        .groupBy($"p_brand", $"price_c", $"size")
        .agg(count(lit(1)).as("n_parts"))
      Skyline.skyline2dMinPerGroup(pts, Seq("p_brand"), "price_c", "size")
        .orderBy($"p_brand", $"price_c", $"size")
    },

    "q_skyline3d" -> { (s, dir) =>
      import s.implicits._
      // Three-dimensional Pareto frontier ([[Skyline.skylineGridMin]] —
      // the cell-grid plan: driver-bounded cell prune + broadcast
      // cell-pair table + LEFT ANTI dominance verify; the 2D running-min
      // window does NOT generalize past two dimensions) over one ship
      // month of lineitem: minimize (price, quantity, discount). All
      // three dims quantized to BIGINTs with the IEEE ⌊v·s+0.5⌋ chain.
      val pts = t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1995-03-01").cast("timestamp") &&
          $"l_shipdate" < lit("1995-04-01").cast("timestamp"))
        .select(
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("price_c"),
          expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("qty"),
          expr("CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)").as("disc_pct"))
        .groupBy($"price_c", $"qty", $"disc_pct")
        .agg(count(lit(1)).as("n_rows"))
      Skyline.skylineGridMin(pts, Seq("price_c", "qty", "disc_pct"))
        .orderBy($"price_c", $"qty", $"disc_pct")
    },

    "q_skyline_group3d" -> { (s, dir) =>
      import s.implicits._
      // PER-GROUP three-dimensional Pareto frontier
      // ([[Skyline.skylineMinPerGroup]]): per return flag, minimize
      // (price, quantity, discount) over one ship month — the composition
      // q_skyline_brand (per-group, 2D window) and q_skyline3d (3D grid,
      // global) leave uncovered. MR-skyline two-phase: partition-local
      // frontier folds (complete candidate filter, no repartition), then
      // one group-keyed dominance LEFT ANTI join over frontier-sized
      // candidates. Same IEEE quantization as q_skyline3d.
      val pts = t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1995-03-01").cast("timestamp") &&
          $"l_shipdate" < lit("1995-04-01").cast("timestamp"))
        .select($"l_returnflag",
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("price_c"),
          expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("qty"),
          expr("CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)").as("disc_pct"))
        .groupBy($"l_returnflag", $"price_c", $"qty", $"disc_pct")
        .agg(count(lit(1)).as("n_rows"))
      Skyline.skylineMinPerGroup(pts, Seq("l_returnflag"),
          Seq("price_c", "qty", "disc_pct"))
        .orderBy($"l_returnflag", $"price_c", $"qty", $"disc_pct")
    },

    "q_dedup_incremental" -> { (s, dir) =>
      import s.implicits._
      // INCREMENTAL dedup — the steady-state shape of every production
      // pipeline (a new crawl batch arrives; the corpus is already clean):
      // batch docs (doc_id % 5 = 0, ~20%) are dropped iff some CORPUS doc
      // sits within Hamming <= 3 of their 60-bit SimHash
      // ([[SimHash.crossNearDupPairs]], recall exactly 1 by pigeonhole, so
      // the anti-join equals the oracle's brute-force batch×corpus scan).
      // Batch-internal duplicates are NOT dropped — that is the contract:
      // dedup the batch against the corpus, then self-dedup separately.
      val d = docs(s, dir)
      val batch = d.filter(pmod($"doc_id", lit(5L)) === 0)
      val corpus = d.filter(pmod($"doc_id", lit(5L)) =!= 0)
      val hits = SimHash.crossNearDupPairs(
        batch, "doc_id", "text", corpus, "doc_id", "text",
        bits = 60, bandBits = 15, maxHamming = 3)
      batch.join(hits.select($"doc_a".as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .select($"doc_id", $"source", $"n_chars")
        .orderBy($"doc_id")
    },

    "q_cluster_canonical" -> { (s, dir) =>
      import s.implicits._
      // The KEEP decision that closes the near-dup loop: every document
      // labeled with its duplicate cluster (q_dedup_clusters' components;
      // docs in no pair are their own singleton cluster), then ONE canonical
      // row survives per cluster — the longest text, doc_id as total
      // tiebreak. Output is the deduplicated corpus manifest: one row per
      // cluster with its representative and the cluster's size.
      val d = docs(s, dir)
      val pairs = SimHash.nearDupPairs(d, "doc_id", "text",
        bits = 60, bandBits = 15, maxHamming = 3)
      val comp = GraphOps.connectedComponents(pairs, "doc_i", "doc_j")
      val labeled = d.join(comp, d("doc_id") === comp("node"), "left_outer")
        .select(d("doc_id"), coalesce($"component", d("doc_id")).as("cluster_id"),
          d("n_chars"))
      val byCluster = Window.partitionBy($"cluster_id")
      labeled
        .withColumn("rn",
          row_number().over(byCluster.orderBy($"n_chars".desc, $"doc_id".asc)))
        .withColumn("cluster_size", count(lit(1)).over(byCluster).cast("long"))
        .filter($"rn" === 1)
        .select($"doc_id", $"cluster_id", $"cluster_size")
        .orderBy($"doc_id")
    },

    "q_curation_e2e" -> { (s, dir) =>
      import s.implicits._
      // THE CURATION FUNNEL END-TO-END — the composition a real
      // training-data pipeline runs, under ONE oracle: quality screen
      // ([[CorpusOps.qualityRules]], the Gopher/C4 keep flag) → exact
      // dedup (min-id per text; clones planted on the doc_id%10 slice —
      // enough to prove the stage bites without doubling the quality
      // scan) → decontamination against the src0
      // benchmark ([[CorpusOps.sharedWindowOverlap]], 24-char windows,
      // boilerplate df <= 3) → the per-language doc/token census a mix
      // planner consumes. Interop is the point: each stage's output
      // frame feeds the next operator unchanged, and the DuckDB twin
      // replays the whole funnel (the quality CTE chain parameterized
      // over the clone-unioned corpus). Every count is an exact integer;
      // n_tokens reuses the quality stage's whitespace-word count.
      // Deliberately NOT q_curation_funnel's shape (that gate pins the
      // per-doc FLAG-product survivor counts of the screen rules in one
      // aggregate): this one pins frame-to-frame OPERATOR handoff —
      // qualityRules' output joined back as a filter, the dedup window
      // over its survivors, sharedWindowOverlap consuming the deduped
      // frame as its probe side — plus the decontamination stage and the
      // per-language census the flag funnel has no analog of.
      val raw = docs(s, dir).select($"doc_id", $"lang", $"source",
        regexp_replace($"text", " line ", "\n").as("text"))
      val dup = raw.unionByName(raw.filter($"doc_id" % 10 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000L))
      val q = CorpusOps.qualityRules(dup, "doc_id", "text", minWords = 30)
        .select($"doc_id", $"n_words", $"keep")
      val kept = dup.join(q.filter($"keep").drop("keep"), Seq("doc_id"))
      val w = Window.partitionBy($"text").orderBy($"doc_id")
      val deduped = kept.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).drop("rn")
      // The funnel prefix (quality fold + dedup window) feeds THREE
      // consumers whose exchanges all differ (overlap's window explode,
      // the anti-join's left side, the census) — ReuseExchange cannot
      // dedupe them, so without materialization the expensive quality
      // fold re-runs per consumer (measured 7.3 s vs 4.4 s). The
      // post-funnel frame is corpus-row-sized and column-pruned; an
      // eager local checkpoint is the cheap cut (blocks free with the
      // frame — the Quarantine local-path contract).
      val train = deduped.filter($"source" =!= "src0")
        .select($"doc_id", $"lang", $"text", $"n_words")
        .localCheckpoint()
      val bench = raw.filter($"source" === "src0")
      val contaminated = CorpusOps.sharedWindowOverlap(
          train, "doc_id", "text", bench, "doc_id", "text",
          n = 24, maxWindowDf = Some(3))
        .select($"doc_a".as("doc_id")).distinct()
      train.join(contaminated, Seq("doc_id"), "left_anti")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("n_tokens"))
        .orderBy($"lang")
    },

    "q_decontaminate" -> { (s, dir) =>
      import s.implicits._
      // Train-test overlap detection ([[CorpusOps.sharedWindowOverlap]]):
      // treat source 'src0' as the held-out benchmark and report every
      // training document sharing a 24-char contiguous window with it,
      // ranked by distinct shared windows. Windows join on their 60-bit
      // wideHash (primitive keys); boilerplate windows occurring in more
      // than 3 documents across both sides are dropped — the cap BITES at
      // this SF (shared-window df reaches 4), so the guard's semantics are
      // under the gate, not just its happy path.
      val d = docs(s, dir)
      orderedSmall(
        CorpusOps.sharedWindowOverlap(
          d.filter($"source" =!= "src0"), "doc_id", "text",
          d.filter($"source" === "src0"), "doc_id", "text",
          n = 24, maxWindowDf = Some(3)),
        $"doc_a", $"doc_b")
    },

    "q_window_probe" -> { (s, dir) =>
      import s.implicits._
      // Persisted decontamination index ([[CorpusOps.saveWindowIndex]] +
      // [[CorpusOps.windowProbe]]): the src0 benchmark's 24-char windows
      // bucketed once (ref-side boilerplate df ≤ 3 excluded at build), the
      // training side probed against it — q_decontaminate's recurring
      // form: the benchmark freezes once, every future training batch
      // probes without recomputing reference windows.
      val name = windowIndex(s, dir)
      orderedSmall(
        CorpusOps.windowProbe(s, docs(s, dir).filter($"source" =!= "src0"),
          "doc_id", "text", name),
        $"doc_a", $"doc_b")
    },

    "q_stream_decontam" -> { (s, dir) =>
      import s.implicits._
      // ONLINE decontamination — the streaming twin of q_window_probe
      // (same staged index, same oracle): each micro-batch of training
      // docs probes the bucketed windows table through a stateless
      // stream-static equi-join emitting (doc_a, doc_b, w) triples; the
      // per-pair count folds at the SINK (windows are distinct per doc, so
      // the fold is exact), never in stream state.
      val staged = Staging.streamDocsDir(s, dir)
      val ss = Staging.streamSession(s)
      val name = windowIndex(s, dir) // catalog shared across sessions
      val schema = Staging.replayDocsSchema(ss, staged)
      // The staged stream schema is (doc_id, text, ts) — no source column;
      // the fixture's identity source = 'src' || doc_id % 20 (every gate
      // SF) makes doc_id % 20 =!= 0 the exact training-side filter. A
      // fixture change breaks this LOUDLY (hash mismatch vs the shared
      // oracle), not silently.
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .filter($"doc_id" % 20 =!= 0)
      val sink = Staging.nextStreamSink(ss)
      val q = CorpusOps.windowProbeEmissions(ss, src, "doc_id", "text", name)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      orderedSmall(
        ss.table(sink).groupBy($"doc_a", $"doc_b")
          .agg(count(lit(1)).as("n_shared_windows")),
        $"doc_a", $"doc_b")
    },

    "q_blocklist_filter" -> { (s, dir) =>
      import s.implicits._
      // Keyword-blocklist screening ([[TextOps.blocklistHits]]) — the
      // cheap first curation gate (C4/RefinedWeb-style word filters):
      // documents carrying any blocklisted token are surfaced with their
      // distinct-hit count; 'degenerate' never occurs in the fixture, so
      // the no-match path is exercised inside the same literal array.
      // Mixed-case TERMS exercise the default normalization (r14 ADVICE:
      // the raw-token form missed case variants the cited filters fold) —
      // without term lower-casing this gate would return zero rows.
      val terms = Seq("Dup", "SLOW", "degenerate")
      docs(s, dir)
        .select($"doc_id",
          TextOps.blocklistHits($"text", terms).cast("long").as("n_hits"))
        .filter($"n_hits" > 0)
        .orderBy($"doc_id")
    },

    "q_pseudonymize" -> { (s, dir) =>
      import s.implicits._
      // Deterministic pseudonymization ([[GovernanceOps.pseudonymize]]):
      // the share-with-analysts rewrite between raw identifiers and full
      // deletion — user ids replaced by salted polyHash tokens, per-row
      // codegen'd expression, no lookup table to govern. The gate pins
      // the property the rewrite exists for: per-ENTITY analytics still
      // work — grouping by token reproduces exactly the per-user
      // aggregate (counts + exact decimal value sums) under new names.
      val p = GovernanceOps.pseudonymize(
        events(s, dir).select($"user_id", $"value"),
        Seq("user_id"), salt = "graft-r15")
      p.groupBy($"user_id".as("user_token"))
        .agg(count(lit(1)).as("n_events"),
          graft.Tables.dsum($"value").as("total_value"))
        .orderBy($"user_token")
    },

    "q_rtbf_forget" -> { (s, dir) =>
      import s.implicits._
      // Retention / right-to-be-forgotten ([[GovernanceOps.forgetDocs]] +
      // the [[MergeOps.snapshotDiff]] audit) — the data-governance stage of
      // a production corpus pipeline: tombstones = every 37th doc (the
      // deletion-request key-set), the corpus rewritten through the
      // broadcast tombstone anti-join (corpus side never shuffles), then
      // the before/after snapshot diff folded to per-status totals.
      // `removed` must be exactly the tombstone set and `unchanged`
      // everything else — any `changed`/`added` row (a purge that did more
      // than delete) breaks the oracle's 2-row shape. Index-side purge
      // ([[GovernanceOps.forgetFromLshIndex]]) is pinned in
      // GovernanceOpsSpec against a from-scratch rebuild.
      val d = docs(s, dir)
      val tomb = d.filter($"doc_id" % 37 === 0).select($"doc_id")
      val retained = GovernanceOps.forgetDocs(d, "doc_id", tomb, "doc_id")
      MergeOps.snapshotDiff(d, retained, Seq("doc_id"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("sum_ids"))
        .orderBy($"status")
    },

    "q_auc" -> { (s, dir) =>
      import s.implicits._
      // Per-source ROC-AUC ([[EvalOps.rocAuc]]) of a toy "is English"
      // classifier whose score is document length — the eval step every
      // corpus-curation classifier runs before it is trusted to gate
      // documents. Exact integer Mann–Whitney rank-sum with midrank tie
      // handling; the gate pins the exact integer numerator/denominator
      // alongside the single IEEE-divided auc, so a tie-handling slip
      // cannot hide in double printing. The window runs over score-LEVEL
      // aggregate rows (combiner-reduced), never data rows.
      EvalOps.rocAuc(
        t(s, dir, "documents")
          .select($"source", $"n_chars",
            when($"lang" === "en", 1L).otherwise(0L).as("lab")),
        "source", "n_chars", "lab")
        .orderBy($"source")
    },

    "q_cohens_kappa" -> { (s, dir) =>
      import s.implicits._
      // Per-source Cohen's kappa ([[EvalOps.cohensKappa]]) between the
      // n-gram language-ID heuristic (the same argmax q_lang_id gates) and
      // the gold lang label — the chance-corrected agreement check every
      // weak labeler passes before its output becomes training signal.
      // Exact integer marginal cross-products; kappa is one IEEE division
      // of pinned integer operands, so the statistic itself hash-gates.
      EvalOps.cohensKappa(
        docs(s, dir).select($"source",
          TextStats.predictedLang($"text").as("pred"), $"lang"),
        "source", "pred", "lang")
        .orderBy($"source")
    },

    "q_class_prf" -> { (s, dir) =>
      import s.implicits._
      // Per-class precision/recall/F1 + macro-F1 ([[EvalOps.classPrf]])
      // of the lang-ID heuristic against gold — the per-class breakdown
      // q_cohens_kappa's single agreement number hides. Exact longs from
      // three label-marginal aggregates; macro-F1 sums doubles in the
      // SORTED-FOLD order (q_chi_square's construction) so even the
      // averaged double hash-gates.
      EvalOps.classPrf(
        docs(s, dir).select($"lang",
          TextStats.predictedLang($"text").as("pred")),
        "lang", "pred")
        .orderBy($"cls")
    },

    "q_span_dedup" -> { (s, dir) =>
      import s.implicits._
      // Substring-level dedup profile ([[CorpusOps.duplicatedSpans]],
      // Lee et al. 2022): 8-token windows hashed corpus-wide; windows
      // occurring ≥ 2× mark their positions duplicated and overlapping
      // marks merge into maximal spans (gaps-and-islands over the running
      // interval max). Catches the duplicated-passage-inside-a-unique-doc
      // shape whole-doc dedup misses — the fixture's planted near-dups
      // surface as long spans, the background stays mostly clean.
      CorpusOps.duplicatedSpans(docs(s, dir), "doc_id", "text", w = 8)
        .orderBy($"doc_id")
    },

    "q_stream_dsir" -> { (s, dir) =>
      import s.implicits._
      // ONLINE DSIR quality scoring — the streaming half of q_dsir_select:
      // the bucket→term model ([[CorpusOps.dsirModelTerms]], built once
      // from the full static corpus, 512 longs) embeds as a literal in a
      // row-local fold ([[CorpusOps.dsirScore]]), so each micro-batch
      // scores its documents with NO join, NO shuffle and NO state — the
      // probe quarter replays as two micro-batches and must carry exactly
      // the batch operator's integers (same-oracle equality, minus the
      // normalizer rearrangement proven in CorpusOpsSpec).
      val staged = Staging.streamDocsDir(s, dir)
      val ss = Staging.streamSession(s)
      val terms = CorpusOps.dsirModelTerms(docs(s, dir), "text",
        isTarget = $"lang" === "en", buckets = 512)
      val schema = Staging.replayDocsSchema(ss, staged)
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .filter($"doc_id" % 4 === 3 && $"text".isNotNull && $"text" =!= "")
      val sink = Staging.nextStreamSink(ss)
      val q = src.select($"doc_id",
          size(TextOps.tokens($"text")).cast("long").as("n_tokens"),
          CorpusOps.dsirScore($"text", terms).as("weight"))
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).orderBy($"doc_id")
    },

    "q_threshold_pick" -> { (s, dir) =>
      import s.implicits._
      // Operating-point selection ([[EvalOps.operatingPoint]]): per source,
      // the maximum-recall threshold still meeting precision ≥ 1/2 for the
      // same toy classifier — the deployment decision after q_auc's
      // ranking quality check. Integer cross-multiplied precision test on
      // score-level cumulative counts; at this target 15–16 of the 20
      // sources qualify, so BOTH the emit and the no-qualifying-threshold
      // paths are exercised in one gate.
      EvalOps.operatingPoint(
        t(s, dir, "documents")
          .select($"source", $"n_chars",
            when($"lang" === "en", 1L).otherwise(0L).as("lab")),
        "source", "n_chars", "lab", precNum = 1, precDen = 2)
        .orderBy($"source")
    },

    "q_kcore" -> { (s, dir) =>
      import s.implicits._
      // k-core density screen ([[GraphOps.kCore]], k = 10) on the
      // consecutive-order customer graph — the peeling fixpoint that keeps
      // only structurally-embedded nodes (2 rounds / 10 nodes peeled at
      // sf0.001, 4 rounds / 64 at sf0.01). maxRounds = 8 is the oracle's
      // unrolling depth: deeper convergence throws loudly rather than
      // silently diverging from the unrolled-CTE oracle (extra unrolled
      // rounds past the fixpoint are no-ops, so depth-8 is exact whenever
      // the operator converges within 8).
      val o = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val edges = o.as("a")
        .join(o.as("b"), col("a.o_orderkey") + 1 === col("b.o_orderkey"))
        .select(col("a.o_custkey").as("c1"), col("b.o_custkey").as("c2"))
      GraphOps.kCore(edges, "c1", "c2", kMin = 10, maxRounds = 8)
        .orderBy($"node")
    },

    "q_calibration" -> { (s, dir) =>
      import s.implicits._
      // Reliability diagram ([[EvalOps.calibrationBins]]): the same toy
      // classifier cut into 8 equi-depth score bins, each reporting size,
      // positives, exact mean score and positive rate. Binning rides the
      // zipWithIndex two-phase global rank ([[RankOps.equidepthBins]]) —
      // the corpus-scale shape — not ntile's single-partition window; ties
      // broken by doc_id so the cut is engine-independent.
      EvalOps.calibrationBins(
        t(s, dir, "documents")
          .select($"doc_id", $"n_chars",
            when($"lang" === "en", 1L).otherwise(0L).as("lab")),
        "n_chars", "lab", Seq($"doc_id"), k = 8)
    },

    "q_dsir_select" -> { (s, dir) =>
      import s.implicits._
      // DSIR data selection ([[CorpusOps.dsirWeights]], Xie et al. 2023):
      // every document scored by the log-likelihood ratio of its
      // hashed-unigram bag under the English-subset target LM vs the
      // raw-corpus LM (512 buckets, add-1 smoothing, integer-log₂ bits —
      // the [[CorpusOps.surprisal]] formulation both engines compute
      // bit-identically), then the 40 most target-like docs kept by
      // (weight desc, doc_id) — a TakeOrdered, never a full sort. Two
      // combiner-reduced aggregates + a ≤512-row broadcast: the 100 TB
      // shape of "select raw data distributed like the trusted corpus".
      CorpusOps.dsirWeights(docs(s, dir), "doc_id", "text",
        isTarget = $"lang" === "en", buckets = 512)
        .orderBy($"weight".desc, $"doc_id")
        .limit(40)
    },

    "q_pii_redact" -> { (s, dir) =>
      import s.implicits._
      // Rule-based PII scrubbing ([[TextOps.redact]] + [[CorpusOps.PiiRules]])
      // — the release-gate curation pass. The synthetic fixture carries no
      // PII, so the gate PLANTS it deterministically per doc (two emails, a
      // dashed phone, a dotted IPv4), counts the hits, and scrubs; the
      // DuckDB twin runs the same rules — the patterns live in ONE place
      // (PiiRules) and are interpolated into the oracle SQL, and they stay
      // inside the Java∩RE2 common dialect so both engines agree exactly.
      val planted = concat($"text", lit(" contact a"), $"doc_id",
        lit("@example.com or b"), $"doc_id", lit("@mail.example.org call 555-"),
        lpad(($"doc_id" % 1000).cast("string"), 3, "0"), lit("-1234 from 10.0."),
        ($"doc_id" % 256).cast("string"), lit(".1"))
      docs(s, dir).select($"doc_id", planted.as("t"))
        .select($"doc_id",
          regexp_count($"t", lit(CorpusOps.PiiRules(0)._1)).cast("long").as("n_emails"),
          regexp_count($"t", lit(CorpusOps.PiiRules(1)._1)).cast("long").as("n_phones"),
          regexp_count($"t", lit(CorpusOps.PiiRules(2)._1)).cast("long").as("n_ips"),
          TextOps.redact($"t", CorpusOps.PiiRules).as("clean_text"))
        .orderBy($"doc_id")
    },

    "q_dup_fraction" -> { (s, dir) =>
      import s.implicits._
      // Corpus-health duplication profile ([[CorpusOps.windowDuplication]]):
      // per document, the fraction of its distinct 16-char windows that
      // occur in other documents too (corpus df >= 2) — high values flag
      // boilerplate and near-duplicates for curation.
      CorpusOps.windowDuplication(docs(s, dir), "doc_id", "text", n = 16)
        .orderBy($"doc_id")
    },

    "q_ngram_jaccard" -> { (s, dir) =>
      import s.implicits._
      // Exact character-trigram Jaccard >= 3/5 within (lang, source) blocks,
      // via [[SetSimJoin]]'s inverted index + prefix filtering: candidate
      // pairs come from rare-token prefix collisions, never an all-pairs
      // block scan, so work stays near-linear as blocks grow. Character
      // trigrams are a BOUNDED vocabulary, so document frequency uses the
      // PACKED strategy: the combiner-reduced df table is packed driver-side
      // and the prefix is selected row-locally by the codegen'd
      // [[graft.functions.PrefixTokens]] — no (block, token) index shuffle
      // AND no per-doc rank window shuffle (the full-inverted-index exchange
      // the window form pays on both self-join sides) — see
      // [[SetSimJoin.DfStrategy]].
      // Shingling is the codegen'd [[graft.functions.PackedShingles]] — one
      // compiled O(len) pass per row, each trigram packed LOSSLESSLY into a
      // long (21 bits per code point), so every downstream stage — explode,
      // df aggregate, prefix equi-join, verify array_intersect — runs on
      // primitive 8-byte keys instead of variable-length strings (~1.8× on
      // the whole query). The packing is a bijection for valid UTF-8, so
      // pair and count results are identical to the string form (proved in
      // PackedShinglesSpec) and the string-trigram oracle still hash-matches.
      val g = docs(s, dir).select($"doc_id", $"lang", $"source",
        TextOps.charShinglesPacked($"text", 3).as("gr"))
        .filter(length($"text") >= 3)
      orderedSmall(
        SetSimJoin.jaccardJoin(g, "doc_id", "gr", Seq("lang", "source"),
            threshNum = 3, threshDen = 5,
            dfStrategy = SetSimJoin.DfStrategy.Packed)
          .select($"doc_i", $"doc_j", $"n_common", $"n_union"),
        $"doc_i", $"doc_j")
    },

    "q_ngram_jaccard_capped" -> { (s, dir) =>
      import s.implicits._
      // The DF-CAP guarded form of q_ngram_jaccard ([[SetSimJoin
      // .capTokenDf]], r17 VERDICT: the suite's one unguarded quadratic):
      // trigrams in more than 4 docs of a (lang, source) block are removed
      // from every set BEFORE the exact join, bounding each posting list at
      // 4 and the candidate mass at |vocab|·C(4,2) — linear in vocabulary
      // where the uncapped exact join follows the quadratic Σ C(df,2) law
      // (sf10 DNF, BASELINE.md r15). Similarity carried only by those
      // boilerplate-grade trigrams is deliberately not reported
      // (stop-token-removal semantics — deterministic, so the DuckDB twin
      // reproduces the SAME filtered universe; at this SF the cap drops
      // ~4.7k (block, gram) keys and real rare-gram pairs survive).
      val g = docs(s, dir).select($"doc_id", $"lang", $"source",
        TextOps.charShinglesPacked($"text", 3).as("gr"))
        .filter(length($"text") >= 3)
      // maxDf = Some(4) IS capTokenDf — since r19 the cap is jaccardJoin's
      // own knob (the r18-VERDICT default-loud wiring), so the oracle now
      // gates the knob itself, not just a hand-rolled pre-step.
      orderedSmall(
        SetSimJoin.jaccardJoin(g, "doc_id", "gr", Seq("lang", "source"),
            threshNum = 3, threshDen = 5,
            dfStrategy = SetSimJoin.DfStrategy.Packed, maxDf = Some(4L))
          .select($"doc_i", $"doc_j", $"n_common", $"n_union"),
        $"doc_i", $"doc_j")
    },

    "q_lsh_probe" -> { (s, dir) =>
      import s.implicits._
      // Persisted banded-MinHash corpus index + incremental append + probe
      // ([[MinHashLsh.saveLshIndex]]/[[appendToLshIndex]]/[[lshProbe]]) —
      // the production dedup-against-corpus pattern: corpus signatures are
      // computed once (bucketed bands + sets tables), a later ingest batch
      // appends its own signatures only, and the probe finds which corpus
      // docs each incoming doc duplicates with ZERO corpus-side shuffle.
      // Staged: corpus = doc_id%4 ∈ {0,1}, appended ingest = %4 == 2,
      // probe batch = %4 == 3. The oracle brute-forces the cross pairs over
      // the UNION (build ∪ append) — equality also pins that the appended
      // index state matches a from-scratch build. Recall is exactly 1 at
      // the fixture's similarity gap (same 32×8 argument as
      // q_dedup_minhash). Build+append stage once per (sf, JVM)
      // ([[Staging.memo]]): a second append would duplicate band rows, and
      // bench reps must measure the PROBE, not the build.
      val d = docs(s, dir)
      val name = lshProbeIndex(s, dir)
      orderedSmall(
        MinHashLsh.lshProbe(s, d.filter($"doc_id" % 4 === 3), "doc_id", "text", name,
            threshNum = 1, threshDen = 2)
          .select($"new_id", $"corpus_id", $"n_common".cast("long").as("n_common"),
            $"n_union".cast("long").as("n_union")),
        $"new_id", $"corpus_id")
    },

    "q_stream_lsh_probe" -> { (s, dir) =>
      import s.implicits._
      // ONLINE dedup against the persisted corpus index — the streaming
      // twin of q_lsh_probe (whose staged index tables it shares): each
      // micro-batch of incoming documents signs itself row-locally and
      // probes the static bucketed bands/sets tables through a STATELESS
      // stream-static join — zero stream state, zero corpus-side shuffle,
      // arbitrarily long uptime. Per-band collision duplicates collapse
      // under the batch-side distinct at the sink
      // ([[MinHashLsh.lshProbeEmissions]] — a stream-side distinct would
      // hold every pair ever emitted as unbounded state). The probe
      // quarter replays as two micro-batches; output must equal the batch
      // probe — the same oracle gates both.
      val staged = Staging.streamDocsDir(s, dir)
      val ss = Staging.streamSession(s)
      val name = lshProbeIndex(s, dir) // catalog is shared across sessions
      val schema = Staging.replayDocsSchema(ss, staged)
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .filter($"doc_id" % 4 === 3)
      val sink = Staging.nextStreamSink(ss)
      val q = MinHashLsh.lshProbeEmissions(ss, src, "doc_id", "text", name,
          threshNum = 1, threshDen = 2)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      ss.table(sink).distinct()
        .select($"new_id", $"corpus_id", $"n_common".cast("long").as("n_common"),
          $"n_union".cast("long").as("n_union"))
        .orderBy($"new_id", $"corpus_id")
    },

    "q_containment" -> { (s, dir) =>
      import s.implicits._
      // Asymmetric word-3-gram CONTAINMENT >= 9/10 — the sub-document
      // duplication shape symmetric Jaccard misses (a quote / syndicated
      // passage / boilerplate absorbed into a much larger page has
      // containment ~1 but Jaccard ~|small|/|big|). Candidates come from
      // the contained side's rare-first prefix probing the FULL inverted
      // index ([[SetSimJoin.containmentJoin]], one-sided prefix filtering
      // — never an all-pairs scan); word shingles are an unbounded
      // vocabulary, so df uses the Window strategy (one index exchange).
      // Shingling is the compiled [[TextOps.wordShingles]] — the same
      // split-on-space 3-gram contract as the q_dedup_minhash oracle twin.
      val g = docs(s, dir)
        .select($"doc_id", TextOps.wordShingles($"text", 3).as("sh"))
        .filter(size($"sh") > 0)
      orderedSmall(
        SetSimJoin.containmentJoin(g, "doc_id", "sh", Nil,
          threshNum = 9, threshDen = 10),
        $"doc_small", $"doc_big")
    },

    "q_containment_capped" -> { (s, dir) =>
      import s.implicits._
      // The DF-CAP guarded containment join ([[SetSimJoin.capTokenDf]],
      // maxDf = 3, corpus-wide — no blocks, so this also exercises the
      // blockless census): word trigrams in more than 3 documents are
      // removed from every set before the one-sided prefix join, bounding
      // each posting list at 3 where the uncapped q_containment's index
      // side follows the same saturated-vocabulary candidate law as the
      // exact Jaccard join. Stop-token-removal semantics (containment is
      // then measured over each doc's RARE shingles — the sub-document
      // duplication signal boilerplate was drowning anyway); the oracle
      // re-derives the identical filtered universe. idCol enables the
      // explode/anti-join path when a low cap saturates (not at these
      // SFs — the broadcast path census decides, loudly).
      val g = docs(s, dir)
        .select($"doc_id", TextOps.wordShingles($"text", 3).as("sh"))
        .filter(size($"sh") > 0)
      // maxDf = Some(3) IS capTokenDf — since r19 the cap is
      // containmentJoin's own knob (the r18-VERDICT default-loud wiring),
      // so the oracle gates the knob itself, not a hand-rolled pre-step.
      orderedSmall(
        SetSimJoin.containmentJoin(g, "doc_id", "sh", Nil,
          threshNum = 9, threshDen = 10, maxDf = Some(3L)),
        $"doc_small", $"doc_big")
    },

    "q_edit_join" -> { (s, dir) =>
      import s.implicits._
      // Edit-distance similarity join ([[StringJoins.editDistanceJoin]]):
      // all name pairs within Levenshtein distance 2, candidates from the
      // positional q-gram COUNT filter (equi-join on hashed grams + length/
      // position pruning) with the bucketed short-string path — never
      // all-pairs. The fixture's names have no planted typos, so a
      // one-character-appended copy is unioned in (ed = 1 to its original);
      // the oracle brute-forces with the same length prefilter.
      val p = t(s, dir, "part").filter($"p_partkey" <= 600)
        .select($"p_partkey".as("id"), $"p_name".as("s"))
      val planted = p.select(($"id" + 100000L).as("id"),
        concat($"s", lit("x")).as("s"))
      orderedSmall(
        StringJoins.editDistanceJoin(p.unionByName(planted), "id", "s", maxDist = 2),
        $"id_i", $"id_j")
    },

    "q_jaro_winkler" -> { (s, dir) =>
      import s.implicits._
      // Compiled Jaro–Winkler scores ([[TextOps.jaroWinkler]] /
      // [[graft.functions.JaroWinkler]]): each name against its successor
      // (background distribution) and against a prefix-typo'd copy (high
      // similarity) — the record-linkage scalar, bit-matched to the
      // oracle's jaro_winkler_similarity.
      val p = t(s, dir, "part").filter($"p_partkey" <= 500)
        .select($"p_partkey".as("id"), $"p_name".as("str"))
      val nxt = p.select(($"id" - 1).as("id"), $"str".as("str_next"))
      p.join(nxt, "id")
        .select($"id", TextOps.jaroWinkler($"str", $"str_next").as("jw_next"),
          TextOps.jaroWinkler($"str", concat(lit("x"), $"str")).as("jw_typo"))
        .orderBy($"id")
    },

    // ---- sketches ---------------------------------------------------------
    "q_kmv_distinct" -> { (s, dir) =>
      import s.implicits._
      // Distinct-document cardinality per language via the KMV bottom-k
      // sketch ([[graft.operators.Sketches.kmvDistinct]]): O(k) state per
      // group, map-side-merged partials — the scale shape for distinct
      // counting — and, unlike approx_count_distinct's HLL, a DETERMINISTIC
      // function of the value set, so the kth hash and the estimate itself
      // hash-match the DuckDB oracle. The exact distinct count rides along
      // for error inspection.
      val d = docs(s, dir).filter($"text".isNotNull)
        .select($"lang", TextOps.polyHash($"text").as("h"))
      orderedSmall(
        d.groupBy($"lang")
          .agg(Sketches.kmvDistinct($"h", 64).as("s"),
            countDistinct($"h").as("n_exact_hashes"))
          .select($"lang", $"s.n_min".as("n_min"), $"s.kth_hash".as("kth_hash"),
            $"s.estimate".as("est_distinct"), $"n_exact_hashes"),
        $"lang")
    },

    "q_sample_quantiles" -> { (s, dir) =>
      import s.implicits._
      // Approximate per-language document-length quantiles from the
      // DETERMINISTIC bottom-k-by-hash row sample
      // ([[Sketches.sampleQuantiles]], [[graft.functions.HashSampleValues]])
      // — the oracle-gateable counterpart of approx_percentile, whose
      // engine-defined summary could never hash-match. The sample is a
      // pure function of the (hash, value) set, so the positional
      // nearest-rank reads agree bit-for-bit with DuckDB replaying the
      // same bottom-64 selection. Exact count and median ride along for
      // error inspection; at sf0.01 groups exceed k (real eviction), at
      // sf0.001 they sit under it (exact path) — both paths gated.
      // The hash key is the UNIQUE doc_id — the estimator's contract
      // (HashSampleValues scaladoc): hashing the VALUE-bearing text would
      // collapse duplicate texts to one competitor and silently sample
      // distinct texts instead of rows.
      val d = docs(s, dir).filter($"text".isNotNull)
        .select($"lang", TextOps.polyHash($"doc_id".cast("string")).as("h"),
          length($"text").cast("long").as("v"))
      orderedSmall(
        d.groupBy($"lang")
          .agg(Sketches.sampleQuantiles($"h", $"v", 64, Seq(25, 50, 75, 90)).as("sq"),
            count(lit(1)).as("n_rows"))
          .select($"lang", $"sq.n_sample".as("n_sample"), $"sq.p25".as("p25"),
            $"sq.p50".as("p50"), $"sq.p75".as("p75"), $"sq.p90".as("p90"),
            $"n_rows"),
        $"lang")
    },

    "q_cms_freq" -> { (s, dir) =>
      import s.implicits._
      // Count-Min frequency sketch (Cormode & Muthukrishnan '05),
      // expressed RELATIONALLY — the Spark-first shape: the d×w counter
      // matrix per language is just a hash aggregate over (lang, row,
      // bucket) keys (bounded output: langs × 4 × 512 rows — the sketch
      // IS a small table, no custom aggregate needed), and point
      // frequency estimates are a broadcast probe join + min over the d
      // rows. Completes the sketch quartet (KMV distinct, MG heavy
      // hitters, sample quantiles, CMS frequency); deterministic by
      // construction — counters are pure sums keyed by polyHash buckets,
      // so the whole sketch hash-matches the DuckDB replay. Exact counts
      // ride along; est ≥ exact always (one-sided CMS error, spec-pinned).
      val W = 512L
      val bases = Seq(31L, 131L, 137L, 139L)
      val probes = Seq("the", "of", "and", "data", "model", "training",
        "x", "language", "q", "zz")
      val toks = docs(s, dir).filter($"text".isNotNull)
        .select($"lang", explode(TextOps.tokens($"text")).as("tok"))
        .filter(length($"tok") > 0)
      def keys(c: Column) = array(bases.zipWithIndex.map { case (b, i) =>
        struct(lit(i).as("i"), pmod(TextOps.polyHash(c, b), lit(W)).as("bkt"))
      }: _*)
      val counters = toks.select($"lang", explode(keys($"tok")).as("rb"))
        .groupBy($"lang", $"rb.i".as("i"), $"rb.bkt".as("bkt"))
        .agg(count(lit(1)).as("cnt"))
      val probeKeys = probes.toDF("token")
        .select($"token", explode(keys($"token")).as("rb"))
        .select($"token", $"rb.i".as("i"), $"rb.bkt".as("bkt"))
      val langs = toks.select($"lang").distinct()
      val est = langs.crossJoin(broadcast(probeKeys))
        .join(counters, Seq("lang", "i", "bkt"), "left")
        .groupBy($"lang", $"token")
        .agg(min(coalesce($"cnt", lit(0L))).as("est_count"))
      val exact = toks.filter($"tok".isin(probes: _*))
        .groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt_exact"))
        .withColumnRenamed("tok", "token")
      orderedSmall(
        est.join(exact, Seq("lang", "token"), "left")
          .select($"lang", $"token", $"est_count",
            coalesce($"cnt_exact", lit(0L)).as("exact_count")),
        $"lang", $"token")
    },
  )

  val oracleSql: Map[String, String] = Map(
    "q_label_prop" -> labelPropOracle(3),
    "q_ppr" -> pprOracle(5),

    "q_cms_freq" -> {
      val probesIn = "'the','of','and','data','model','training','x','language','q','zz'"
      val probeRows = Seq("the", "of", "and", "data", "model", "training",
        "x", "language", "q", "zz").map(t => s"('$t')").mkString(", ")
      def keyRows(src: String, tokCol: String, carry: String) =
        Seq((31, 0), (131, 1), (137, 2), (139, 3)).map { case (b, i) =>
          s"SELECT $carry, $i AS i, ${duckHash(tokCol, b)} % 512 AS bkt FROM $src"
        }.mkString("\n  UNION ALL ")
      s"""WITH toks0 AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |toks AS (SELECT lang, tok FROM toks0 WHERE length(tok) > 0),
         |keys AS (${keyRows("toks", "tok", "lang")}),
         |counters AS (SELECT lang, i, bkt, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM keys GROUP BY lang, i, bkt),
         |probes(token) AS (VALUES $probeRows),
         |pk AS (${keyRows("probes", "token", "token")}),
         |langs AS (SELECT DISTINCT lang FROM toks),
         |grid AS (SELECT l.lang, p.token, p.i, p.bkt FROM langs l, pk p),
         |est AS (SELECT g.lang, g.token, MIN(COALESCE(c.cnt, 0)) AS est_count
         |  FROM grid g LEFT JOIN counters c
         |    ON c.lang = g.lang AND c.i = g.i AND c.bkt = g.bkt
         |  GROUP BY g.lang, g.token),
         |ex AS (SELECT lang, tok AS token, CAST(COUNT(*) AS BIGINT) AS exact_count
         |  FROM toks WHERE tok IN ($probesIn) GROUP BY lang, tok)
         |SELECT e.lang, e.token, e.est_count,
         |  COALESCE(x.exact_count, 0) AS exact_count
         |FROM est e LEFT JOIN ex x ON x.lang = e.lang AND x.token = e.token
         |ORDER BY e.lang, e.token""".stripMargin
    },

    "q_skyline" ->
      """WITH pts AS (
        |  SELECT CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_c,
        |    CAST(p_size AS BIGINT) AS size,
        |    CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY 1, 2)
        |SELECT price_c, size, n_parts FROM pts a
        |WHERE NOT EXISTS (SELECT 1 FROM pts b
        |  WHERE b.price_c <= a.price_c AND b.size <= a.size
        |    AND (b.price_c < a.price_c OR b.size < a.size))
        |ORDER BY price_c, size""".stripMargin,

    "q_skyline_brand" ->
      """WITH pts AS (
        |  SELECT p_brand,
        |    CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_c,
        |    CAST(p_size AS BIGINT) AS size,
        |    CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY 1, 2, 3)
        |SELECT p_brand, price_c, size, n_parts FROM pts a
        |WHERE NOT EXISTS (SELECT 1 FROM pts b
        |  WHERE b.p_brand = a.p_brand
        |    AND b.price_c <= a.price_c AND b.size <= a.size
        |    AND (b.price_c < a.price_c OR b.size < a.size))
        |ORDER BY p_brand, price_c, size""".stripMargin,

    "q_skyline3d" ->
      """WITH pts AS (
        |  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS price_c,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
        |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS disc_pct,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-03-01'
        |    AND l_shipdate < TIMESTAMP '1995-04-01'
        |  GROUP BY 1, 2, 3)
        |SELECT price_c, qty, disc_pct, n_rows FROM pts a
        |WHERE NOT EXISTS (SELECT 1 FROM pts b
        |  WHERE b.price_c <= a.price_c AND b.qty <= a.qty
        |    AND b.disc_pct <= a.disc_pct
        |    AND (b.price_c < a.price_c OR b.qty < a.qty
        |         OR b.disc_pct < a.disc_pct))
        |ORDER BY price_c, qty, disc_pct""".stripMargin,

    // Per-group 3D skyline twin: the unpruned NOT EXISTS dominance
    // definition, group-scoped.
    "q_skyline_group3d" ->
      """WITH pts AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS price_c,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
        |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS disc_pct,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-03-01'
        |    AND l_shipdate < TIMESTAMP '1995-04-01'
        |  GROUP BY 1, 2, 3, 4)
        |SELECT flag AS l_returnflag, price_c, qty, disc_pct, n_rows
        |FROM pts a
        |WHERE NOT EXISTS (SELECT 1 FROM pts b
        |  WHERE b.flag = a.flag
        |    AND b.price_c <= a.price_c AND b.qty <= a.qty
        |    AND b.disc_pct <= a.disc_pct
        |    AND (b.price_c < a.price_c OR b.qty < a.qty
        |         OR b.disc_pct < a.disc_pct))
        |ORDER BY l_returnflag, price_c, qty, disc_pct""".stripMargin,

    // The prefix-sum identity s_i = c_i − min(0, min_{j≤i} c_j) — two
    // cumulative windows, NOT a list_reduce fold: DuckDB 1.0's
    // list_reduce mis-evaluates struct accumulators whose lambda reads a
    // field twice (observed alarming below the threshold with
    // prefix-length-dependent answers), and the window form is the
    // operator's own scale shape anyway.
    // 8 unrolled integer power-iteration rounds over the exact scatter
    // matrix — bit-identical to the driver-side BIGINT recurrence.
    "q_pca_top" -> pcaTopOracle(8),

    "q_cusum" -> cusumOracle,

    // Trimmed-mean twin: level counts + predecessor cumulatives, the
    // integer rank-interval overlap with [n·p, n−n·p), decimal product
    // sum, one digit-string division.
    "q_trimmed_mean" ->
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
        |  CAST(trim_sum AS VARCHAR) AS trim_sum,
        |  CASE WHEN n_kept = 0 THEN NULL
        |    ELSE CAST(CAST(trim_sum AS VARCHAR) AS DOUBLE)
        |      / (CAST(n_kept AS DOUBLE) * 10000.0) END AS trimmed_mean
        |FROM a ORDER BY event_type""".stripMargin,

    // Fano twin: per-hour counts (floor-div on the µs clock), integer
    // moments, (18,0)×(19,0) decimal cross-products, digit-string double.
    // Pins exposed as VARCHAR digit strings (the r15 DECIMAL(38,0)
    // driver-drift fix); zero denominator guarded like the stream twin.
    "q_burstiness" ->
      """WITH e AS (SELECT event_type,
        |    epoch_ns(ts) // 1000 // 3600000000 AS w FROM events),
        |c AS (SELECT event_type, w, CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY event_type, w),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(c) AS BIGINT) AS n_events,
        |    CAST(sum(c * c) AS BIGINT) AS cc
        |  FROM c GROUP BY event_type),
        |p AS (SELECT event_type, n_windows, n_events,
        |    CAST(CAST(n_windows AS DECIMAL(18,0)) * CAST(cc AS DECIMAL(19,0))
        |      - CAST(n_events AS DECIMAL(18,0)) * CAST(n_events AS DECIMAL(19,0))
        |      AS DECIMAL(38,0)) AS num,
        |    CAST(CAST(n_windows AS DECIMAL(18,0))
        |      * CAST(n_events AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS den
        |  FROM a)
        |SELECT event_type, n_windows, n_events,
        |  CAST(num AS VARCHAR) AS fano_num,
        |  CAST(den AS VARCHAR) AS fano_den,
        |  CASE WHEN den = 0 THEN NULL
        |    ELSE CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(den AS VARCHAR) AS DOUBLE) END AS fano
        |FROM p ORDER BY event_type""".stripMargin,

    // ACF twin: same integer centering u = n·v − S, same (18,0)×(19,0)
    // decimal products (int128 in DuckDB), doubles via digit strings.
    "q_autocorr" ->
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
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(den AS DECIMAL(38,0)) AS VARCHAR) AS acf_den,
        |  CAST(CAST(c1 AS DECIMAL(38,0)) AS VARCHAR) AS c1,
        |  CAST(CAST(c2 AS DECIMAL(38,0)) AS VARCHAR) AS c2,
        |  CAST(CAST(c3 AS DECIMAL(38,0)) AS VARCHAR) AS c3,
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

    "q_k_anonymity" -> kAnonymityOracle,

    "q_ewma" ->
      """WITH e AS (SELECT user_id,
        |    {'o': epoch_ns(ts) // 1000, 't0': event_id,
        |     'v': CAST(value AS DOUBLE)} AS ob FROM events),
        |g AS (SELECT user_id, list_sort(list(ob)) AS os FROM e GROUP BY user_id)
        |SELECT user_id, CAST(len(os) AS INT) AS n,
        |  list_reduce(list_transform(os, s -> s.v),
        |    (acc, x) -> CAST(0.25 AS DOUBLE) * x
        |      + CAST(0.75 AS DOUBLE) * acc) AS ewma
        |FROM g ORDER BY user_id""".stripMargin,

    "q_epoch_shuffle" -> {
      val h = duckWideHash("'e3:' || CAST(doc_id AS VARCHAR)")
      s"""WITH t AS (SELECT doc_id, $h AS h FROM documents),
         |s AS (SELECT doc_id, h, CAST(h % 4 AS INT) AS shard FROM t)
         |SELECT doc_id, shard, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
         |FROM s ORDER BY shard, pos""".stripMargin
    },

    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id,
        |    (epoch_ns(ts) // 1000) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id)
        |SELECT f.cohort_wk, e.wk - f.cohort_wk AS weeks_since,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_wk, weeks_since""".stripMargin,

    "q_funnel" -> funnelOracle,

    "q_neg_sample" -> {
      val qh = duckHash("CAST(qid AS VARCHAR)")
      val ch = duckHash("CAST(cid AS VARCHAR)")
      val pairH = duckHash("CAST(qid AS VARCHAR) || ':' || CAST(cid AS VARCHAR)")
      s"""WITH nb AS (SELECT 8 * (1 + (COUNT(*) - 1) // 5000) AS v FROM documents),
         |p AS (SELECT doc_id AS qid, doc_id + 1 AS pid FROM documents
         |  WHERE doc_id % 10 = 0),
         |q AS (SELECT DISTINCT qid, $qh % (SELECT v FROM nb) AS bkt FROM p),
         |c AS (SELECT doc_id AS cid, $ch % (SELECT v FROM nb) AS bkt
         |  FROM (SELECT CAST(doc_id AS BIGINT) AS cid, doc_id FROM documents)),
         |j AS (SELECT q.qid, c.cid FROM q JOIN c ON c.bkt = q.bkt
         |  WHERE c.cid <> q.qid AND NOT EXISTS (
         |    SELECT 1 FROM p WHERE p.qid = q.qid AND p.pid = c.cid)),
         |r AS (SELECT qid, cid, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY $pairH, cid) AS INT) AS rank FROM j)
         |SELECT qid AS query_id, cid AS neg_id, rank FROM r
         |WHERE rank <= 4 ORDER BY query_id, rank""".stripMargin
    },

    "q_token_classes" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_extract_all(text || ' v' || CAST(doc_id AS VARCHAR) || '!',
        |    '[a-z]+|[0-9]+|[^a-z0-9 ]') AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(tk) AS INT) AS n_tokens,
        |  CAST(len(list_filter(tk, x -> regexp_matches(x, '^[0-9]+$')))
        |    AS INT) AS n_digit,
        |  CAST(len(list_filter(tk, x -> regexp_matches(x, '^[a-z]+$')))
        |    AS INT) AS n_word,
        |  CAST(len(tk) - len(list_filter(tk, x -> regexp_matches(x, '^[0-9]+$')))
        |    - len(list_filter(tk, x -> regexp_matches(x, '^[a-z]+$')))
        |    AS INT) AS n_punct
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_dq_checks" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, NULL, o_totalprice FROM orders
        |  WHERE o_orderkey % 100 = 0),
        |ref AS (SELECT DISTINCT c_custkey FROM customer
        |  WHERE c_custkey % 7 <> 0)
        |SELECT check_name, violations FROM (
        |  SELECT 'custkey_not_null' AS check_name,
        |    CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
        |      AS violations FROM t
        |  UNION ALL
        |  SELECT 'price_in_range',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      o_totalprice BETWEEN 0.0 AND 400000.0, FALSE)) AS BIGINT)
        |    FROM t
        |  UNION ALL
        |  SELECT 'orderkey_positive',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      o_orderkey >= 0, FALSE)) AS BIGINT) FROM t
        |  UNION ALL
        |  SELECT 'orderkey_unique', CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS n FROM t GROUP BY o_orderkey) WHERE n > 1
        |  UNION ALL
        |  SELECT 'custkey_in_customer', CAST(COUNT(*) AS BIGINT) FROM t
        |  WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM ref))
        |ORDER BY check_name""".stripMargin,

    "q_bfs_reach" -> bfsOracle(3),

    "q_pagerank" -> pageRankOracle(5),

    "q_dedup_exact" ->
      """WITH dup AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source FROM documents)
        |SELECT doc_id, lang, source FROM dup
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_fingerprint" ->
      s"""WITH k AS (SELECT doc_id,
         |  array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS bk
         |  FROM documents)
         |SELECT min(doc_id) AS keep_doc_id, count(*) AS group_size,
         |  ${duckHash("bk")} AS bag_fp
         |FROM k GROUP BY bk ORDER BY keep_doc_id""".stripMargin,

    "q_dedup_minhash" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS sh
        |  FROM t WHERE len(w) >= 3)
        |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
        |  CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS n_union
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
        |  AND 2 * len(list_intersect(a.sh, b.sh)) >= len(list_distinct(list_concat(a.sh, b.sh)))
        |ORDER BY doc_i, doc_j""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), tok -> ${duckHash("tok")}) AS th
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 32), b ->
         |    CASE WHEN list_sum(list_transform(th, h ->
         |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash32,
         |  CAST(len(th) AS BIGINT) AS n_tokens
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_simhash_neardup" -> simhashNearDupOracle,

    // Dedup-judge twin: the SimHash pair CTE (q_simhash_neardup's) FULL
    // JOINed against the exact-Jaccard pair CTE (q_dedup_minhash's
    // brute-force), counts + single divisions.
    "q_dedup_eval" ->
      s"""WITH tk AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), tok -> ${duckWideHash("tok")}) AS th
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
         |t AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 60), b ->
         |    CASE WHEN list_sum(list_transform(th, h ->
         |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
         |  FROM tk),
         |sh AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.s, b.s)) <= 3),
         |jt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |js AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(w)-1),
         |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS sh
         |  FROM jt WHERE len(w) >= 3),
         |tr AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
         |  FROM js a JOIN js b ON a.doc_id < b.doc_id
         |  WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
         |    AND 2 * len(list_intersect(a.sh, b.sh))
         |        >= len(list_distinct(list_concat(a.sh, b.sh)))),
         |j AS (SELECT
         |    CASE WHEN sh.doc_i IS NOT NULL THEN 1 ELSE 0 END AS inp,
         |    CASE WHEN tr.doc_i IS NOT NULL THEN 1 ELSE 0 END AS intr
         |  FROM sh FULL JOIN tr
         |    ON sh.doc_i = tr.doc_i AND sh.doc_j = tr.doc_j),
         |c AS (SELECT CAST(SUM(inp * intr) AS BIGINT) AS tp,
         |    CAST(SUM(inp * (1 - intr)) AS BIGINT) AS fp,
         |    CAST(SUM((1 - inp) * intr) AS BIGINT) AS fn
         |  FROM j)
         |SELECT COALESCE(tp, 0) AS tp, COALESCE(fp, 0) AS fp,
         |  COALESCE(fn, 0) AS fn,
         |  CASE WHEN COALESCE(tp,0) + COALESCE(fp,0) = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
         |  CASE WHEN COALESCE(tp,0) + COALESCE(fn,0) = 0 THEN NULL
         |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
         |  CASE WHEN 2*COALESCE(tp,0) + COALESCE(fp,0) + COALESCE(fn,0) = 0
         |    THEN NULL
         |    ELSE CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)
         |    END AS f1
         |FROM c""".stripMargin,

    // Shared with q_cc_incremental AND q_stream_components: batch-fold and
    // stream-fold labelings must both equal the from-scratch run over the
    // union graph, so ONE from-scratch SQL gates all three shapes (the
    // annIvfOracle precedent).
    "q_cc_incremental" -> ccFromScratchOracle,
    "q_stream_components" -> ccFromScratchOracle,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE tk AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), tok -> ${duckWideHash("tok")}) AS th
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
         |t AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 60), b ->
         |    CASE WHEN list_sum(list_transform(th, h ->
         |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
         |  FROM tk),
         |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.s, b.s)) <= 3),
         |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v),
         |comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
         |SELECT node AS doc_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |FROM comp ORDER BY doc_id""".stripMargin,

    "q_entity_resolution" ->
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents
         |  UNION ALL SELECT doc_id + 2000000, text FROM documents),
         |bk AS (SELECT doc_id, ${duckWideHash(
             "array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')")} AS bh
         |  FROM base),
         |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bh, doc_id) AS rnk
         |  FROM bk),
         |cand AS (SELECT a.doc_id AS u, b.doc_id AS v
         |  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 4),
         |tk AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), tok -> ${duckWideHash("tok")}) AS th
         |  FROM base
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
         |sh AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 60), b ->
         |    CASE WHEN list_sum(list_transform(th, h ->
         |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
         |  FROM tk),
         |pairs AS (SELECT u, v FROM cand
         |  JOIN sh sa ON sa.doc_id = cand.u
         |  JOIN sh sb ON sb.doc_id = cand.v
         |  WHERE bit_count(xor(sa.s, sb.s)) <= 3),
         |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT e.u, r2.lbl FROM edges e JOIN reach r2 ON r2.node = e.v),
         |comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
         |SELECT node AS doc_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |FROM comp ORDER BY doc_id""".stripMargin,

    "q_co_occur" ->
      """WITH ki AS (SELECT DISTINCT l_partkey AS k, l_suppkey AS it FROM lineitem),
        |capped AS (SELECT k, it FROM (
        |    SELECT k, it, row_number() OVER (PARTITION BY k ORDER BY it) AS rk
        |    FROM ki) WHERE rk <= 8)
        |SELECT a.it AS it_i, b.it AS it_j, CAST(count(*) AS BIGINT) AS n_shared_keys
        |FROM capped a JOIN capped b ON a.k = b.k AND a.it < b.it
        |GROUP BY 1, 2
        |ORDER BY it_i, it_j""".stripMargin,

    "q_triangles" ->
      """WITH raw AS (SELECT a.o_custkey AS s, b.o_custkey AS d
        |  FROM orders a JOIN orders b ON a.o_orderkey + 1 = b.o_orderkey),
        |e AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
        |  FROM raw WHERE s <> d),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM (
        |  SELECT u AS node FROM e UNION SELECT v FROM e)),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT n_nodes, n_edges, n_triangles FROM n, m, t""".stripMargin,

    // Brute-force batch×corpus Hamming scan — equals the banded cross-join
    // by the recall-1 pigeonhole (crossNearDupPairs' contract).
    "q_dedup_incremental" ->
      s"""WITH tk AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), tok -> ${duckWideHash("tok")}) AS th
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
         |t AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 60), b ->
         |    CASE WHEN list_sum(list_transform(th, h ->
         |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
         |  FROM tk),
         |hit AS (SELECT DISTINCT a.doc_id
         |  FROM t a JOIN t c ON a.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
         |    AND bit_count(xor(a.s, c.s)) <= 3)
         |SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |WHERE d.doc_id % 5 = 0
         |  AND d.doc_id NOT IN (SELECT doc_id FROM hit)
         |ORDER BY doc_id""".stripMargin,

    // q_dedup_clusters' recursive-CTE components + the canonical argmax:
    // singletons label themselves; longest text wins, doc_id breaks ties.
    "q_cluster_canonical" ->
      s"""WITH RECURSIVE tk AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '), tok -> ${duckWideHash("tok")}) AS th
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0),
         |t AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 60), b ->
         |    CASE WHEN list_sum(list_transform(th, h ->
         |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS s
         |  FROM tk),
         |pairs AS (SELECT a.doc_id AS u, b.doc_id AS v
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.s, b.s)) <= 3),
         |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
         |reach(node, lbl) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v),
         |comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
         |lab AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         |    d.n_chars
         |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
         |SELECT doc_id, cluster_id, CAST(sz AS BIGINT) AS cluster_size FROM (
         |  SELECT doc_id, cluster_id,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS sz
         |  FROM lab) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // The funnel twin: the quality CTE chain (QueryShared.qualityCtes)
    // over the clone-unioned corpus, min-id text dedup, the
    // q_decontaminate window-overlap shape against src0, then the
    // per-lang census. One oracle pins four operators' interop.
    "q_curation_e2e" ->
      s"""WITH d0 AS (SELECT doc_id, lang, source,
         |    replace(text, ' line ', chr(10)) AS text FROM documents),
         |dup AS (SELECT doc_id, lang, source, text FROM d0
         |  UNION ALL
         |  SELECT doc_id + 1000000, lang, source, text FROM d0
         |  WHERE doc_id % 10 = 0),
         |${qualityCtes("dup")},
         |kept AS (SELECT dup.doc_id, lang, source, dup.text, qf.n_words
         |  FROM dup JOIN qf ON qf.doc_id = dup.doc_id WHERE qf.keep),
         |ded AS (SELECT doc_id, lang, source, text, n_words FROM (
         |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |  FROM kept) WHERE rn = 1),
         |train AS (SELECT doc_id, lang, text, n_words FROM ded
         |  WHERE source <> 'src0'),
         |bench AS (SELECT doc_id, text FROM d0 WHERE source = 'src0'),
         |ta AS (SELECT doc_id, unnest(list_transform(
         |    list_distinct(list_transform(range(1, length(text)-22),
         |      i -> substr(text, i, 24))), w -> ${duckWideHash("w")})) AS w
         |  FROM train WHERE length(text) >= 24),
         |tb AS (SELECT doc_id, unnest(list_transform(
         |    list_distinct(list_transform(range(1, length(text)-22),
         |      i -> substr(text, i, 24))), w -> ${duckWideHash("w")})) AS w
         |  FROM bench WHERE length(text) >= 24),
         |wdf AS (SELECT w, count(*) AS wdf
         |  FROM (SELECT w FROM ta UNION ALL SELECT w FROM tb) u GROUP BY w),
         |contaminated AS (SELECT DISTINCT ta.doc_id
         |  FROM ta JOIN tb ON ta.w = tb.w JOIN wdf ON wdf.w = ta.w
         |  WHERE wdf.wdf <= 3),
         |clean AS (SELECT * FROM train
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_tokens
         |FROM clean GROUP BY lang ORDER BY lang""".stripMargin,

    "q_decontaminate" ->
      s"""WITH wa AS (SELECT doc_id,
         |  list_transform(list_distinct(list_transform(range(1, length(text)-22),
         |    i -> substr(text, i, 24))), w -> ${duckWideHash("w")}) AS ws
         |  FROM documents WHERE length(text) >= 24 AND source <> 'src0'),
         |wb AS (SELECT doc_id,
         |  list_transform(list_distinct(list_transform(range(1, length(text)-22),
         |    i -> substr(text, i, 24))), w -> ${duckWideHash("w")}) AS ws
         |  FROM documents WHERE length(text) >= 24 AND source = 'src0'),
         |ea AS (SELECT doc_id AS doc_a, unnest(ws) AS w FROM wa),
         |eb AS (SELECT doc_id AS doc_b, unnest(ws) AS w FROM wb),
         |wdf AS (SELECT w, count(*) AS wdf
         |  FROM (SELECT w FROM ea UNION ALL SELECT w FROM eb) u GROUP BY w)
         |SELECT a.doc_a, b.doc_b, CAST(count(*) AS BIGINT) AS n_shared_windows
         |FROM ea a JOIN eb b ON a.w = b.w JOIN wdf ON wdf.w = a.w
         |WHERE wdf.wdf <= 3 AND a.doc_a <> b.doc_b
         |GROUP BY a.doc_a, b.doc_b ORDER BY doc_a, doc_b""".stripMargin,

    // Shared by q_window_probe AND its streaming twin q_stream_decontam:
    // the index build caps boilerplate on the REFERENCE side only (wdf over
    // benchmark docs ≤ 3 — an index cannot depend on future probes), then
    // every (training, benchmark) window match counts once.
    "q_window_probe" -> windowProbeOracle,
    "q_stream_decontam" -> windowProbeOracle,

    // The trim char set is TextOps.EdgePunct verbatim (single quote doubled
    // for the SQL literal) — both engines strip the same edge characters.
    "q_blocklist_filter" -> {
      val punct = graft.operators.TextOps.EdgePunct.replace("'", "''")
      s"""WITH n AS (SELECT doc_id,
         |  list_distinct(list_transform(string_split(text, ' '),
         |    t -> trim(lower(t), '$punct'))) AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_intersect(toks, ['dup', 'slow', 'degenerate']))
         |    AS BIGINT) AS n_hits
         |FROM n
         |WHERE len(list_intersect(toks, ['dup', 'slow', 'degenerate'])) > 0
         |ORDER BY doc_id""".stripMargin
    },

    "q_rtbf_forget" ->
      """SELECT CASE WHEN doc_id % 37 = 0 THEN 'removed'
        |  ELSE 'unchanged' END AS status,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY 1 ORDER BY status""".stripMargin,

    // Pseudonymize twin: the same salted polyHash over
    // 'salt:id-as-string', then the per-token aggregate — grouping by
    // token must reproduce the per-user aggregate exactly.
    "q_pseudonymize" -> {
      val tok = duckHash("'graft-r15:' || CAST(user_id AS VARCHAR)")
      s"""SELECT $tok AS user_token,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         |FROM events GROUP BY 1 ORDER BY user_token""".stripMargin
    },

    // Mann–Whitney with midranks, all-integer until the one final division:
    // a score level of m rows (p positive) preceded by cum rows contributes
    // p·(2·cum + m + 1) to 2·Σ R_pos; then 2U = r2 − P(P+1), den = 2PN.
    "q_auc" ->
      """WITH d AS (SELECT source, n_chars AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lab FROM documents),
        |s AS (SELECT source, score, CAST(count(*) AS BIGINT) AS m,
        |    CAST(SUM(lab) AS BIGINT) AS p FROM d GROUP BY source, score),
        |c AS (SELECT source, m, p,
        |    CAST(COALESCE(SUM(m) OVER (PARTITION BY source ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum
        |  FROM s),
        |a AS (SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos,
        |    CAST(SUM(m) - SUM(p) AS BIGINT) AS n_neg,
        |    CAST(SUM(p * (2*cum + m + 1)) AS BIGINT) AS r2
        |  FROM c GROUP BY source)
        |SELECT source, n_pos, n_neg,
        |  CAST(r2 - n_pos*(n_pos+1) AS BIGINT) AS auc_num,
        |  CAST(2*n_pos*n_neg AS BIGINT) AS auc_den,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |    ELSE CAST(r2 - n_pos*(n_pos+1) AS DOUBLE)
        |      / CAST(2*n_pos*n_neg AS DOUBLE) END AS auc
        |FROM a ORDER BY source""".stripMargin,

    // Cohen's kappa twin: the SAME argmax case chain q_lang_id gates
    // builds the predicted label, then exact integer marginal
    // cross-products — kappa as one division of pinned BIGINTs.
    "q_cohens_kappa" -> cohensKappaOracle,

    // Per-class PRF twin: the same argmax case chain, three marginal
    // CTEs with a FULL JOIN union of classes, macro-F1 as the sorted
    // list_reduce fold (q_chi_square's construction).
    "q_class_prf" -> classPrfOracle,

    // Positional 8-token windows wide-hashed; df ≥ 2 marks positions;
    // gaps-and-islands (running interval max) merges marks into maximal
    // spans. MATERIALIZED-free: each CTE is referenced once except g (2×).
    "q_span_dedup" -> {
      val h = duckWideHash("gram")
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
         |  FROM documents WHERE text IS NOT NULL AND text <> ''),
         |g AS (SELECT doc_id, i - 1 AS pos, $h AS h
         |  FROM (SELECT doc_id, i, array_to_string(tk[i:i+7], ' ') AS gram
         |        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
         |              FROM tk))),
         |d AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
         |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (h)),
         |i1 AS (SELECT doc_id, pos,
         |    MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax
         |  FROM p),
         |i2 AS (SELECT doc_id, pos,
         |    SUM(CASE WHEN rmax IS NULL OR pos > rmax THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM i1),
         |sp AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 8 AS e
         |  FROM i2 GROUP BY doc_id, island),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(SUM(e - s) AS BIGINT) AS dup_tokens
         |  FROM sp GROUP BY doc_id),
         |n AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tk)
         |SELECT n.doc_id, n_tokens,
         |  COALESCE(n_spans, CAST(0 AS BIGINT)) AS n_spans,
         |  COALESCE(dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
         |  CAST(n_tokens - COALESCE(dup_tokens, 0) AS BIGINT) AS kept_tokens
         |FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
         |ORDER BY n.doc_id""".stripMargin
    },

    // Cumulative-from-the-top tp/pp per distinct score; qualify by the
    // integer cross-multiply tp·2 ≥ pp·1; min qualifying score per source.
    "q_threshold_pick" ->
      """WITH d AS (SELECT source, n_chars AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lab FROM documents),
        |s AS (SELECT source, score, CAST(count(*) AS BIGINT) AS m,
        |    CAST(SUM(lab) AS BIGINT) AS p FROM d GROUP BY source, score),
        |c AS (SELECT source, score,
        |    CAST(SUM(p) OVER (PARTITION BY source ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |    CAST(SUM(m) OVER (PARTITION BY source ORDER BY score DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp,
        |    CAST(SUM(p) OVER (PARTITION BY source) AS BIGINT) AS pos
        |  FROM s),
        |q AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY score ASC) AS rn
        |  FROM c WHERE tp * 2 >= pp * 1 AND tp > 0)
        |SELECT source, score AS threshold, tp,
        |  CAST(pp - tp AS BIGINT) AS fp, CAST(pos - tp AS BIGINT) AS fn,
        |  CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE) AS precision,
        |  CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE) AS recall
        |FROM q WHERE rn = 1 ORDER BY source""".stripMargin,

    // 8 unrolled peeling rounds (fixture converges in ≤ 4; extra rounds
    // are fixpoint no-ops, and the Spark side's maxRounds = 8 throws if
    // convergence ever needs more — the unrolling depth is load-bearing).
    "q_kcore" -> kCoreOracle(10, 8),

    // Mirrors equidepthBins(k = 8) over the total order (n_chars, doc_id):
    // bin = (rank−1)·8 div n; exact integer sums, one division per double.
    "q_calibration" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lab,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rnk,
        |    COUNT(*) OVER () AS nn
        |  FROM documents)
        |SELECT CAST((rnk - 1) * 8 // nn AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(lab) AS BIGINT) AS n_pos,
        |  CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS mean_score,
        |  CAST(CAST(SUM(lab) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS pos_rate
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin,

    // Mirrors dsirWeights(buckets = 512) + the top-40 cut: bucket-hashed
    // unigram LMs with add-1 smoothing at integer-log₂ (bit-length)
    // resolution, per-token ratio summed per doc with the model-size
    // normalizers carried via n_tokens.
    "q_dsir_select" -> dsirOracle("",
      "SELECT doc_id, n_tokens, weight FROM w ORDER BY weight DESC, doc_id LIMIT 40"),

    // The streaming scorer must reproduce the batch integers exactly for
    // the probe quarter, with the LMs still built from the FULL corpus
    // (the model is static; only the scored docs stream).
    "q_stream_dsir" -> dsirOracle("WHERE doc_id % 4 = 3",
      "SELECT doc_id, n_tokens, weight FROM w ORDER BY doc_id"),

    "q_pii_redact" -> {
      val Seq((email, er), (phone, pr), (ip, ir)) = CorpusOps.PiiRules
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact a' || CAST(doc_id AS VARCHAR) || '@example.com or b'
         |    || CAST(doc_id AS VARCHAR) || '@mail.example.org call 555-'
         |    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234 from 10.0.'
         |    || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$email', '$er', 'g'), '$phone', '$pr', 'g'), '$ip', '$ir', 'g')
         |    AS clean_text
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "q_dup_fraction" ->
      s"""WITH w AS (SELECT doc_id,
         |  unnest(list_transform(list_distinct(list_transform(range(1, length(text)-14),
         |    i -> substr(text, i, 16))), s -> ${duckWideHash("s")})) AS w
         |  FROM documents WHERE length(text) >= 16),
         |wdf AS (SELECT w, count(*) AS wdf FROM w GROUP BY w)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN wdf.wdf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
         |  CAST(sum(CASE WHEN wdf.wdf > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS dup_fraction
         |FROM w JOIN wdf ON w.w = wdf.w
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH g AS (SELECT doc_id, lang, source,
        |  list_distinct(list_transform(range(1, length(text)-1), i -> substr(text, i, 3))) AS gr
        |  FROM documents WHERE length(text) >= 3)
        |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
        |  CAST(len(list_intersect(a.gr, b.gr)) AS BIGINT) AS n_common,
        |  CAST(len(list_distinct(list_concat(a.gr, b.gr))) AS BIGINT) AS n_union
        |FROM g a JOIN g b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_distinct(list_concat(a.gr, b.gr))) > 0
        |  AND 5 * len(list_intersect(a.gr, b.gr)) >= 3 * len(list_distinct(list_concat(a.gr, b.gr)))
        |ORDER BY doc_i, doc_j""".stripMargin,

    // The capped twin re-derives the SAME filtered universe (per-block
    // trigram df <= 4) and brute-forces Jaccard over it via shared-token
    // counts — the cap's stop-token-removal semantics are engine-neutral
    // by construction.
    "q_ngram_jaccard_capped" ->
      """WITH g AS (SELECT doc_id, lang, source,
        |  list_distinct(list_transform(range(1, length(text)-1), i -> substr(text, i, 3))) AS gr
        |  FROM documents WHERE length(text) >= 3),
        |e AS (SELECT doc_id, lang, source, unnest(gr) AS tok FROM g),
        |dfc AS (SELECT lang, source, tok, count(*) AS df FROM e GROUP BY 1, 2, 3),
        |k AS (SELECT e.doc_id, e.lang, e.source, e.tok
        |  FROM e JOIN dfc USING (lang, source, tok) WHERE dfc.df <= 4),
        |sz AS (SELECT doc_id, lang, source, count(*) AS n FROM k GROUP BY 1, 2, 3),
        |p AS (SELECT a.lang, a.source, a.doc_id AS doc_i, b.doc_id AS doc_j,
        |    count(*) AS n_common
        |  FROM k a JOIN k b ON a.lang = b.lang AND a.source = b.source
        |    AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_i, doc_j, CAST(n_common AS BIGINT) AS n_common,
        |  CAST(sa.n + sb.n - n_common AS BIGINT) AS n_union
        |FROM p JOIN sz sa ON sa.doc_id = p.doc_i AND sa.lang = p.lang AND sa.source = p.source
        |  JOIN sz sb ON sb.doc_id = p.doc_j AND sb.lang = p.lang AND sb.source = p.source
        |WHERE 5 * n_common >= 3 * (sa.n + sb.n - n_common)
        |ORDER BY doc_i, doc_j""".stripMargin,

    // Shared with q_stream_lsh_probe: the stream-static probe must equal
    // the batch probe over the same replayed quarter — one oracle gates
    // both (the annIvfOracle / q_cc_incremental precedent).
    "q_stream_lsh_probe" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS sh
        |  FROM t WHERE len(w) >= 3)
        |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
        |  CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS n_union
        |FROM s a JOIN s b ON a.doc_id % 4 = 3 AND b.doc_id % 4 <= 2 AND a.doc_id <> b.doc_id
        |WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
        |  AND 2 * len(list_intersect(a.sh, b.sh)) >= len(list_distinct(list_concat(a.sh, b.sh)))
        |ORDER BY new_id, corpus_id""".stripMargin,

    "q_lsh_probe" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS sh
        |  FROM t WHERE len(w) >= 3)
        |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
        |  CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS n_union
        |FROM s a JOIN s b ON a.doc_id % 4 = 3 AND b.doc_id % 4 <= 2 AND a.doc_id <> b.doc_id
        |WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
        |  AND 2 * len(list_intersect(a.sh, b.sh)) >= len(list_distinct(list_concat(a.sh, b.sh)))
        |ORDER BY new_id, corpus_id""".stripMargin,

    // The capped twin re-derives the SAME filtered universe (corpus-wide
    // word-trigram df <= 3) and brute-forces containment over it via
    // shared-token counts.
    "q_containment_capped" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS sh
        |  FROM t WHERE len(w) >= 3),
        |e AS (SELECT doc_id, unnest(sh) AS tok FROM s),
        |dfc AS (SELECT tok, count(*) AS df FROM e GROUP BY tok),
        |k AS (SELECT e.doc_id, e.tok FROM e JOIN dfc USING (tok) WHERE dfc.df <= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM k GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_small, b.doc_id AS doc_big, count(*) AS n_common
        |  FROM k a JOIN k b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.doc_small, p.doc_big,
        |  CAST(p.n_common AS BIGINT) AS n_common,
        |  CAST(sa.n AS BIGINT) AS n_small
        |FROM p JOIN sz sa ON sa.doc_id = p.doc_small
        |WHERE sa.n > 0 AND 10 * p.n_common >= 9 * sa.n
        |ORDER BY doc_small, doc_big""".stripMargin,

    "q_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |  list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS sh
        |  FROM t WHERE len(w) >= 3)
        |SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
        |  CAST(len(a.sh) AS BIGINT) AS n_small
        |FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |WHERE len(a.sh) > 0 AND 10 * len(list_intersect(a.sh, b.sh)) >= 9 * len(a.sh)
        |ORDER BY doc_small, doc_big""".stripMargin,

    "q_edit_join" ->
      """WITH s AS (
        |  SELECT p_partkey AS id, p_name AS str FROM part WHERE p_partkey <= 600
        |  UNION ALL
        |  SELECT p_partkey + 100000, p_name || 'x' FROM part WHERE p_partkey <= 600)
        |SELECT a.id AS id_i, b.id AS id_j,
        |  CAST(levenshtein(a.str, b.str) AS BIGINT) AS dist
        |FROM s a JOIN s b
        |  ON a.id < b.id AND abs(length(a.str) - length(b.str)) <= 2
        |WHERE levenshtein(a.str, b.str) <= 2
        |ORDER BY id_i, id_j""".stripMargin,

    "q_jaro_winkler" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS str
        |  FROM part WHERE p_partkey <= 500)
        |SELECT a.id, jaro_winkler_similarity(a.str, b.str) AS jw_next,
        |  jaro_winkler_similarity(a.str, 'x' || a.str) AS jw_typo
        |FROM p a JOIN p b ON b.id = a.id + 1
        |ORDER BY a.id""".stripMargin,

    "q_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT lang, ${duckHash("text")} AS h
         |  FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT lang, h,
         |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rk,
         |    COUNT(*) OVER (PARTITION BY lang) AS nd
         |  FROM h)
         |SELECT lang,
         |  CAST(LEAST(nd, 64) AS INTEGER) AS n_min,
         |  MAX(CASE WHEN rk = LEAST(nd, 64) THEN h END) AS kth_hash,
         |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
         |       ELSE 63.0 * 1000000007.0
         |            / CAST(MAX(CASE WHEN rk = 64 THEN h END) AS DOUBLE) END AS est_distinct,
         |  CAST(nd AS BIGINT) AS n_exact_hashes
         |FROM r GROUP BY lang, nd ORDER BY lang""".stripMargin,

    "q_sample_quantiles" ->
      // n_rows rides a window over the raw rows instead of a joined CTE:
      // a join ON lang would silently drop a NULL-lang group that the
      // Spark side's groupBy keeps.
      s"""WITH h AS (SELECT lang, ${duckHash("CAST(doc_id AS VARCHAR)")} AS h,
         |    CAST(length(text) AS BIGINT) AS v,
         |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_rows
         |  FROM documents WHERE text IS NOT NULL),
         |hd AS (SELECT lang, h, MIN(v) AS v, MAX(n_rows) AS n_rows
         |  FROM h GROUP BY lang, h),
         |r AS (SELECT lang, v, n_rows,
         |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM hd),
         |s AS (SELECT lang, v, n_rows FROM r WHERE rk <= 64),
         |o AS (SELECT lang, v, n_rows,
         |    row_number() OVER (PARTITION BY lang ORDER BY v) AS vrk,
         |    COUNT(*) OVER (PARTITION BY lang) AS ns FROM s)
         |SELECT lang, CAST(MAX(ns) AS INT) AS n_sample,
         |  MAX(CASE WHEN vrk = (ns-1)*25//100 + 1 THEN v END) AS p25,
         |  MAX(CASE WHEN vrk = (ns-1)*50//100 + 1 THEN v END) AS p50,
         |  MAX(CASE WHEN vrk = (ns-1)*75//100 + 1 THEN v END) AS p75,
         |  MAX(CASE WHEN vrk = (ns-1)*90//100 + 1 THEN v END) AS p90,
         |  MAX(n_rows) AS n_rows
         |FROM o GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
