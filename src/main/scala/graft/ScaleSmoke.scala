package graft

import graft.operators.{IhcAttribution, Journeys, Reporting}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Scale smoke: the full attribution pipeline (journeys → IHC → channel
  * reporting) over N synthetic events across 100k users, generated
  * distributed via `spark.range` — no testdata involved. Usage:
  * `runMain graft.ScaleSmoke [nEvents]` (default 10M ≈ 100× the sf0.1
  * events table). Prints one timing line per stage. */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = Sessions.local()

    val events = spark.range(n).selectExpr(
      "id AS event_id",
      "CAST(pmod(hash(id + 3), 100000) AS BIGINT) AS user_id",
      "CAST(pmod(hash(id), 2592000) AS BIGINT) * 1000000 AS ts_us",
      """CASE pmod(hash(id + 7), 5) WHEN 0 THEN 'purchase' WHEN 1 THEN 'click'
         WHEN 2 THEN 'view' WHEN 3 THEN 'signup' ELSE 'error' END AS event_type""",
      "CAST(pmod(hash(id + 13), 10000) AS DOUBLE) / 100.0 AS value")
      .withColumn("event_date", expr("CAST(timestamp_micros(ts_us) AS DATE)"))

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }

    val sessions = Tables.deriveSessions(events)
    val conversions = Tables.deriveConversions(events)
    val costs = Tables.deriveSessionCosts(events)

    // Each stage is cached before timing the next, so a stage's printed
    // time covers only its own work, not recomputation of upstream stages.
    val assigned = Journeys.assign(sessions, conversions).cache()
    time(s"journey_assign n=$n")(println(s"[scale] assigned rows = ${assigned.count()}"))
    val attributed = IhcAttribution.attribute(Journeys.flagConversion(assigned)).cache()
    time("ihc_attribution")(println(s"[scale] credit rows = ${attributed.count()}"))
    val report = Reporting.channelReporting(attributed, sessions, costs, conversions)
    time("channel_reporting")(println(s"[scale] report rows = ${report.count()}"))
    time("asof_last_session")(println(s"[scale] asof rows = " +
      graft.operators.Temporal.asofLastSession(sessions, conversions).count()))
    assigned.unpersist(); attributed.unpersist()

    // Bucketed deployment path: write both sides bucketed by user_id once,
    // then the BucketUnion-based assignment runs with zero exchanges.
    val wh = java.nio.file.Files.createTempDirectory("graft_scale_wh").toString
    time("bucketed write (one-time)") {
      sessions.write.mode("overwrite").bucketBy(32, "user_id").sortBy("user_id")
        .option("path", s"$wh/sess_b").saveAsTable("scale_sess_b")
      conversions.write.mode("overwrite").bucketBy(32, "user_id").sortBy("user_id")
        .option("path", s"$wh/conv_b").saveAsTable("scale_conv_b")
    }
    time("journey_assign bucketed (zero-exchange)")(println(s"[scale] bucketed rows = " +
      Journeys.assignBucketed(
        spark.table("scale_sess_b"), spark.table("scale_conv_b")).count()))
    spark.sql("DROP TABLE IF EXISTS scale_sess_b")
    spark.sql("DROP TABLE IF EXISTS scale_conv_b")

    // Dedup stage: nDocs synthetic ~60-word docs, 1% planted near-dups
    // (doc 100k+1 repeats doc 100k's words plus one extra token).
    val nDocs = if (args.length > 1) args(1).toLong else 200000L
    val docs = spark.range(nDocs).selectExpr(
      "id AS doc_id",
      """array_join(transform(sequence(1, 60),
           i -> concat('w', pmod(hash((CASE WHEN pmod(id, 100) = 1 THEN id - 1 ELSE id END) * 61 + i), 1000))),
         ' ') AS text""")
      .selectExpr("doc_id",
        "CASE WHEN pmod(doc_id, 100) = 1 THEN concat(text, ' extra') ELSE text END AS text")
    time(s"minhash_lsh nDocs=$nDocs")(
      println(s"[scale] near-dup candidates = " +
        graft.operators.Dedup.minhashLsh(docs).filter(col("est_jaccard") >= 0.5).count()))
    time(s"winnow nDocs=$nDocs")(
      println(s"[scale] winnow fingerprints = " +
        graft.operators.Corpus.winnowFingerprints(docs).count()))

    // Markov removal-effect attribution end-to-end at n events: the
    // distributed transition count is the data-sized part; the absorption
    // solve touches only the K×K collected matrix.
    time(s"markov_attribution n=$n")(println(s"[scale] markov channels = " +
      graft.operators.Markov.attribution(
        spark, sessions, Journeys.assign(sessions, conversions)).count()))

    // Repetition metrics over the synthetic docs (groupBys + one window).
    time(s"text_repetition nDocs=$nDocs")(println(s"[scale] repetition rows = " +
      graft.operators.Corpus.repetitionMetrics(docs).count()))

    // Star CC on a planted chain FOREST — 1000 chains of 1000 nodes with
    // permuted ids: maximum-diameter worst case at 1M nodes, where
    // diameter-proportional propagation would need ~500 rounds and the
    // alternating-star rounds stay logarithmic.
    val nCC = 1000000L
    val chainEdges = spark.range(nCC - 1)
      .filter(expr("pmod(id + 1, 1000) != 0"))
      .selectExpr("id * 2654435761 AS doc_a", "(id + 1) * 2654435761 AS doc_b")
    time(s"star_cc chain-forest nodes=$nCC")(println(s"[scale] components = " +
      graft.operators.Dedup.clustersStar(chainEdges)
        .select("cluster_id").distinct().count()))

    // ANN stage: brute-force top-10 cosine for 8 queries over nVecs vectors.
    val nVecs = if (args.length > 2) args(2).toLong else 500000L
    val vecs = spark.range(nVecs).selectExpr(
      "id AS vec_id",
      """transform(sequence(0, 63),
           i -> CAST(CAST(pmod(hash(id * 67 + i), 1999) - 999 AS DOUBLE) / 1000.0 AS FLOAT)) AS embedding""")
    time(s"ann_bruteforce nVecs=$nVecs")(
      println(s"[scale] ann rows = " +
        graft.operators.Similarity.bruteForceTopK(vecs, nQueries = 8, k = 10).count()))

    // IVF training cost is FLAT in corpus size: the md5-bucket sample
    // keeps the Lloyd set ≈4096 vectors at 50k and at 500k (10× corpus,
    // ~same training time — the full-corpus scans are gone).
    Seq(nVecs / 10, nVecs).foreach { nv =>
      val v = vecs.filter(col("vec_id") < nv)
      time(s"ivf_train nVecs=$nv")(println(s"[scale] trained centroids = " +
        graft.operators.Similarity.trainCentroids(v, nCentroids = 16, iters = 2).length))
    }

    // Skewed-user journey worst case: one user owns ~10% of all events
    // (≈1M sessions at the 10M default) while the rest spread over 100k
    // users. The as-of assignment must stay near the uniform case — the
    // union+window form sorts within the heavy partition instead of
    // fanning out sessions×conversions (which would be ~10^10 rows for
    // this user), and AQE handles the skewed shuffle partition.
    val skewEvents = spark.range(n).selectExpr(
      "id AS event_id",
      """CAST(CASE WHEN pmod(id, 10) = 0 THEN 42424242
              ELSE pmod(hash(id + 3), 100000) END AS BIGINT) AS user_id""",
      "CAST(pmod(hash(id), 2592000) AS BIGINT) * 1000000 AS ts_us",
      """CASE pmod(hash(id + 7), 5) WHEN 0 THEN 'purchase' WHEN 1 THEN 'click'
         WHEN 2 THEN 'view' WHEN 3 THEN 'signup' ELSE 'error' END AS event_type""",
      "CAST(pmod(hash(id + 13), 10000) AS DOUBLE) / 100.0 AS value")
      .withColumn("event_date", expr("CAST(timestamp_micros(ts_us) AS DATE)"))
    time(s"journey_assign SKEWED n=$n (one user holds ~10%)")(
      println(s"[scale] skewed assigned rows = " +
        Journeys.assign(
          Tables.deriveSessions(skewEvents), Tables.deriveConversions(skewEvents)).count()))

    // Incremental pipeline O(delta) at scale: a CHURNING population (each
    // user active in a ~3-day window, the realistic 100 TB shape — daily
    // actives are a small fraction of all-time users). Run 1 processes
    // days ≤ 24; run 2 attributes only the remaining tail. The r4 design
    // re-assigned EVERY user per run; the missing-user semi-join restricts
    // run 2 to the ~15% of users with a new conversion, so its cost tracks
    // the delta, not the history.
    val churn = spark.range(n).selectExpr(
      "id AS event_id",
      "CAST(pmod(hash(id + 3), 100000) AS BIGINT) AS user_id",
      """CAST((pmod(hash(pmod(hash(id + 3), 100000)), 27) * 86400
            + pmod(hash(id), 259200)) AS BIGINT) * 1000000 AS ts""",
      """CASE pmod(hash(id + 7), 5) WHEN 0 THEN 'purchase' WHEN 1 THEN 'click'
         WHEN 2 THEN 'view' WHEN 3 THEN 'signup' ELSE 'error' END AS event_type""",
      "CAST(pmod(hash(id + 13), 10000) AS DOUBLE) / 100.0 AS value")
    val pipeRoot = java.nio.file.Files.createTempDirectory("graft_scale_pipe").toString
    // ts is written as BIGINT ns — Tables.events reads the nanos column
    // numerically (the same path the TIMESTAMP(NANOS) testdata takes)
    churn.selectExpr("event_id", "ts * 1000 AS ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$pipeRoot/sf/events.parquet")
    val pipeState = s"$pipeRoot/state"
    time(s"pipeline INITIAL run n=$n (days <= 24)") {
      val s = Pipeline.run(spark, s"$pipeRoot/sf", pipeState, endDate = Some("1970-01-25"))
      println(s"[scale] initial: conv=${s.newConversions} rows=${s.newRows}")
    }
    time(s"pipeline DELTA run n=$n (remaining tail)") {
      val s = Pipeline.run(spark, s"$pipeRoot/sf", pipeState, endDate = None)
      println(s"[scale] delta: conv=${s.newConversions} rows=${s.newRows} " +
        s"total=${s.totalRows}")
    }

    // Round-5 curation stages over the synthetic docs: chunking and
    // packing are map-bound (chunking has ZERO pre-order shuffles, packing
    // one cumulative window per (lang, shard)), so both should track the
    // doc count, not blow up on it. The docs get a synthetic lang so the
    // packing shards spread.
    val cDocs = docs.selectExpr("doc_id", "text",
      "CASE pmod(doc_id, 5) WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'es' WHEN 3 THEN 'fr' ELSE 'zh' END AS lang")
    time(s"doc_chunking nDocs=$nDocs")(println(s"[scale] chunks = " +
      graft.operators.Corpus.chunkDocuments(cDocs).count()))
    time(s"sequence_packing nDocs=$nDocs")(println(s"[scale] packed bins = " +
      graft.operators.Corpus.sequencePacking(cDocs)
        .select("lang", "shard", "bin").distinct().count()))

    // Anomaly detection over the full event stream: the window input is
    // the PRE-AGGREGATED |types|x|days| frame, so this is one rollup over
    // n events + a window over a few hundred rows.
    time(s"events_anomaly n=$n")(println(s"[scale] anomalies = " +
      graft.operators.Analytics.eventsAnomaly(events)
        .filter(col("is_anomaly")).count()))

    // Distributed Markov solve: all removal variants in one (removal,
    // state) grid — transition counting is the n-sized part; the 16
    // Jacobi joins run on the K^2 x (K+1) grid.
    time(s"markov_distributed_solve n=$n")(println(s"[scale] channels = " +
      graft.operators.Markov.attributionDistributed(
        spark, sessions, Journeys.assign(sessions, conversions)).count()))

    // Sketch suite over the full event stream: each sketch is one scan
    // plus a constant-size aggregate (d·w counters, m registers, k kept
    // hashes per channel) — cost tracks n, output stays bytes.
    time(s"sketch_kmv n=$n")(println(s"[scale] kmv rows = " +
      graft.operators.Sketches.kmvDistinct(events).count()))
    time(s"sketch_hll n=$n")(println(s"[scale] hll rows = " +
      graft.operators.Sketches.hllDistinct(events).count()))
    time(s"sketch_cms n=$n")(println(s"[scale] cms probes = " +
      graft.operators.Sketches.cmsFrequency(events).count()))

    // SemDeDup at bounded cell size: the operator's scale contract is
    // that CLUSTER COUNT grows with the corpus so cells stay
    // bounded-size — 32 cells over 20k vectors keeps the within-cell
    // pair stage at ~6M exact-decimal dot products.
    val nSem = 20000L
    time(s"dedup_semantic nVecs=$nSem K=32")(println(s"[scale] dup-group members = " +
      graft.operators.Dedup.semanticDedup(
        vecs.filter(col("vec_id") < nSem), nCentroids = 32).count()))

    // SemDeDup SELF-SCALING cells (r6): with the auto cell count the
    // candidate bound Σ cell² stays near-linear — candidates/VECTOR stays
    // pinned at ≈ the target cell size (1024) across a 10× corpus growth,
    // where a fixed k would grow it ~10×. Both sizes sit past the 16-cell
    // clamp knee so the flatness signal is real. Assignment reuses the
    // operator's own trained quantizer + cellRank chain.
    Seq(nSem, nSem * 10).foreach { nv =>
      val v = spark.range(nv).selectExpr(
        "id AS vec_id",
        """transform(sequence(0, 63),
             i -> CAST(CAST(pmod(hash(id * 67 + i), 1999) - 999 AS DOUBLE) / 1000.0 AS FLOAT)) AS embedding""")
      val k = graft.operators.Similarity.autoCellCount(nv)
      time(s"semdedup_cells nVecs=$nv autoK=$k") {
        val cents = graft.operators.Similarity.trainCentroids(v, k, iters = 2)
        val feat = v.select(col("vec_id"), col("embedding"),
          graft.functions.VectorFunctions.normExact(col("embedding")).as("nrm"))
        val cellCounts = feat.select(element_at(
          graft.operators.Similarity.cellRank(cents, col("embedding"), col("nrm")), 1)
          .getField("cid").as("cell"))
          .groupBy("cell").count().collect()
        val pairs = cellCounts.map(r => { val c = r.getAs[Long]("count"); c * c }).sum
        println(f"[scale] semdedup nVecs=$nv cells=$k sum_cell_sq=$pairs " +
          f"candidates_per_vec=${pairs.toDouble / nv}%.1f")
      }
    }

    // r11: dedup_embedding END-TO-END at self-scaling cell counts — the
    // r10 weak grade was its fixed-1024-bucket sign-band LSH (candidates
    // n²/64, cap-drops past 1000/bucket); the operator now rides the
    // SAME self-scaling quantizer as semanticDedup, so candidates/vector
    // stay pinned and wall clock must grow ~10x across a 10x corpus
    // (the old shape grew ~100x and then silently dropped buckets).
    // 1% planted exact dups (identical vectors always share the argmax
    // cell) at threshold 0.9 — random 64-dim cosines (σ = 1/8) never
    // reach it, so the pair count must track ~n/100 at both sizes.
    Seq(nSem, nSem * 10).foreach { nv =>
      val v = spark.range(nv).selectExpr(
        "id AS vec_id",
        """transform(sequence(0, 63),
             i -> CAST(CAST(pmod(hash((CASE WHEN pmod(id, 100) = 1 THEN id - 1 ELSE id END) * 67 + i), 1999) - 999 AS DOUBLE) / 1000.0 AS FLOAT)) AS embedding""")
      time(s"dedup_embedding nVecs=$nv (linearity check)")(
        println(s"[scale] embedding near-dup pairs = " +
          graft.operators.Dedup.embeddingNearDup(v, threshold = 0.9).count()))
    }

    // Distributed exact order statistics (r6): the three former
    // single-task plans at ≥10× the sf0.1 cardinalities — 100k users
    // (RFM), 200k docs (curriculum), 2M orders (exact percentiles). The
    // Quantiles rank partitions every sort by its range bucket, so these
    // must track input size, not die in one task.
    time(s"rfm_segments users=100k from n=$n events")(
      println(s"[scale] rfm rows = " +
        graft.operators.Analytics.rfmSegments(events).count()))
    time(s"quality_curriculum nDocs=$nDocs")(
      println(s"[scale] curriculum rows = " +
        graft.operators.Corpus.qualityCurriculum(cDocs).count()))
    val nOrd = 2000000L
    val sOrders = spark.range(nOrd).selectExpr(
      "id AS o_orderkey",
      "CAST(pmod(hash(id * 31), 1000000) AS DOUBLE) / 100.0 AS o_totalprice")
    time(s"order_value_percentiles nOrders=$nOrd")(
      println(s"[scale] percentile rows = " +
        graft.operators.Analytics.orderValuePercentiles(sOrders).count()))

    // Generic PageRank at 1M nodes / 4M edges (r6): the channel plan's
    // claim is billion-node shape — edges⋈ranks + one partial-agg per
    // iteration. Timed at 400k and 4M edges: near-linear, never
    // quadratic (4 iterations keep the smoke bounded; per-iteration cost
    // is what scales).
    Seq(400000L, 4000000L).foreach { ne =>
      val gEdges = spark.range(ne).selectExpr(
        "CAST(pmod(hash(id), 1000000) AS BIGINT) AS src",
        "CAST(pmod(hash(id * 7 + 1), 1000000) AS BIGINT) AS dst",
        "CAST(1 AS BIGINT) AS weight")
      time(s"pagerank edges=$ne iters=4")(
        println(s"[scale] pagerank nodes = " +
          graft.operators.Markov.pagerank(gEdges, iters = 4).count()))
    }

    // r9 stages for the wave-7 additions.

    // kNN graph / contrastive mining: the Σcell² candidate bound must
    // stay near-linear under 10× corpus growth (the auto cell count
    // scales with n, pinning candidates/vector at ≈ the target cell
    // size) — timed at 20k and 200k vectors so superlinear pair blowup
    // shows as a >>10× wall-clock jump.
    Seq(20000L, 200000L).foreach { nv =>
      val v = spark.range(nv).selectExpr(
        "id AS vec_id",
        """transform(sequence(0, 63),
             i -> CAST(CAST(pmod(hash(id * 67 + i), 1999) - 999 AS DOUBLE) / 1000.0 AS FLOAT)) AS embedding""")
      time(s"knn_graph nVecs=$nv")(println(s"[scale] knn edges = " +
        graft.operators.Similarity.knnGraph(v, k = 5).count()))
      time(s"contrastive_pairs nVecs=$nv")(println(s"[scale] triplets = " +
        graft.operators.Similarity.contrastivePairs(v).count()))
    }

    // Distributed exact prefix sum / token-budget selection at 10× the
    // dedup-stage doc count: the running sum must come from the
    // range-bucketed Quantiles machinery (every sort partition ~n/buckets
    // rows), so 10× docs must scale the wall clock ~linearly, never die
    // in a single-task global sort.
    Seq(nDocs, nDocs * 10).foreach { nd =>
      val bDocs = spark.range(nd).selectExpr(
        "id AS doc_id",
        """array_join(transform(sequence(1, 30),
             i -> concat('w', pmod(hash(id * 61 + i), 1000))), ' ') AS text""")
      time(s"budget_select nDocs=$nd")(println(s"[scale] selected docs = " +
        graft.operators.Corpus.budgetSelect(bDocs, tokenBudget = nd * 3)
          .filter(col("selected")).count()))
    }

    // Edit-distance-verified dedup: candidates come only from LSH
    // buckets, each verified at fixed prefixLen² cost — wall clock must
    // track the candidate count (≈ the planted 1% near-dups), not the
    // doc-pair square.
    time(s"edit_verified nDocs=$nDocs")(println(s"[scale] verified dups = " +
      graft.operators.Dedup.editVerified(docs).count()))

    // Label propagation at 1M nodes / 4M edges: per-round cost is one
    // labels⋈edges shuffle + one groupBy — linear per round, like
    // pagerank above.
    val lpaEdges = spark.range(4000000L).selectExpr(
      "CAST(pmod(hash(id), 1000000) AS BIGINT) AS src",
      "CAST(pmod(hash(id * 7 + 1), 1000000) AS BIGINT) AS dst",
      "CAST(1 AS BIGINT) AS weight")
    time("label_propagation nodes=1M edges=4M iters=4")(
      println(s"[scale] communities = " +
        graft.operators.Markov.labelPropagation(lpaEdges, iters = 4)
          .select("community").distinct().count()))

    // Degree-oriented triangle counting: wedges enumerate at the
    // lowest-degree apex (Σ out-deg² bounded ~O(m^1.5)); a hub-skewed
    // graph (one node on 10% of edges) must NOT blow up the wedge count
    // the way an id-ordered orientation would.
    val triEdges = spark.range(400000L).selectExpr(
      """CAST(CASE WHEN pmod(id, 10) = 0 THEN 0
              ELSE pmod(hash(id), 100000) END AS BIGINT) AS src""",
      "CAST(pmod(hash(id * 7 + 1), 100000) AS BIGINT) AS dst")
    time("triangles nodes=100k edges=400k (hub holds 10%)")(
      println(s"[scale] triangle rows = " +
        graft.operators.Markov.triangleCount(triEdges).count()))

    // Interval-join enrichment at n events: SCD2 derivation + the
    // union+window pick are all per-user window passes — linear, no
    // range fan-out.
    time(s"interval_join n=$n")(println(s"[scale] enriched rows = " + {
      val ev = events.select("event_id", "user_id", "ts_us", "event_type")
      graft.operators.Temporal.intervalJoin(
        ev, graft.operators.Analytics.scd2UserState(ev),
        keyCol = "user_id", tsCol = "ts_us", dimTieBreak = Seq("version")).count()
    }))

    // r9 wave-8 stages.

    // Block-combination SimHash near-dup (Manku tables): 20 combo keys of
    // 32-33 bits each, so random-collision candidates ~ 20*n^2/2^32 stay
    // near-LINEAR. Measured at nDocs and 10*nDocs: pair counts must track
    // the planted 1% near-dup rate (~n/100) at both points and wall clock
    // must grow ~10x, not ~100x (the r9 8-bit-band shape was n^2/64 and
    // would blow up ~100x on this very step).
    time(s"simhash_near nDocs=$nDocs")(println(s"[scale] near pairs = " +
      graft.operators.Dedup.simhashNear(docs).count()))
    val docs10x = spark.range(nDocs * 10).selectExpr(
      "id AS doc_id",
      """array_join(transform(sequence(1, 60),
           i -> concat('w', pmod(hash((CASE WHEN pmod(id, 100) = 1 THEN id - 1 ELSE id END) * 61 + i), 1000))),
         ' ') AS text""")
      .selectExpr("doc_id",
        "CASE WHEN pmod(doc_id, 100) = 1 THEN concat(text, ' extra') ELSE text END AS text")
    time(s"simhash_near nDocs=${nDocs * 10} (linearity check)")(
      println(s"[scale] near pairs at 10x = " +
        graft.operators.Dedup.simhashNear(docs10x).count()))

    // r10: exact substring spans — corpus-sized work is the gram map +
    // one gram-keyed min + a linear join-back (each position meets ONE
    // gram row, no self-join, no df cap needed), then doc-partitioned
    // windows. The 1% shifted near-dups (same 60 tokens, one appended)
    // plant full-doc spans; wall clock must track positions, not pairs,
    // even with hot boilerplate grams.
    time(s"exact_substring nDocs=$nDocs")(println(s"[scale] substring spans = " +
      graft.operators.Dedup.exactSubstringSpans(docs).count()))
    time(s"exact_substring nDocs=${nDocs * 10} (linearity check)")(
      println(s"[scale] substring spans at 10x = " +
        graft.operators.Dedup.exactSubstringSpans(docs10x).count()))

    // r11: per-source run recovery shares the span shape exactly — the
    // only deltas are a wider first-occurrence struct and the extra
    // (src_doc, diag) window keys, both per-position-linear.
    time(s"substring_runs nDocs=$nDocs")(println(s"[scale] substring runs = " +
      graft.operators.Dedup.exactSubstringRuns(docs).count()))
    time(s"substring_runs nDocs=${nDocs * 10} (linearity check)")(
      println(s"[scale] substring runs at 10x = " +
        graft.operators.Dedup.exactSubstringRuns(docs10x).count()))

    // r11: incremental batch-vs-corpus admission — the banded join is
    // ASYMMETRIC (20% batch probes 80% corpus band rows), so candidate
    // volume is bounded by batch-side collisions; verdict rows = batch
    // size exactly, and wall clock must track the batch+corpus scan.
    time(s"minhash_incremental nDocs=$nDocs")(
      println(s"[scale] incremental verdicts = " +
        graft.operators.Dedup.minhashIncremental(
          docs.filter("pmod(doc_id, 5) = 0"),
          docs.filter("pmod(doc_id, 5) != 0")).count()))
    time(s"minhash_incremental nDocs=${nDocs * 10} (linearity check)")(
      println(s"[scale] incremental verdicts at 10x = " +
        graft.operators.Dedup.minhashIncremental(
          docs10x.filter("pmod(doc_id, 5) = 0"),
          docs10x.filter("pmod(doc_id, 5) != 0")).count()))

    // Containment shares ngramJaccard's df-capped blocking, so its pair
    // volume is the same near-linear bound; the planted contained docs
    // (1% verbatim + extra token) must surface.
    time(s"ngram_containment nDocs=$nDocs")(println(s"[scale] contained pairs = " +
      graft.operators.Dedup.ngramContainment(docs).count()))

    // Char-entropy is one explode + partial-agg count + a per-doc fold
    // over ≤|alphabet| terms — scan-bound, linear in corpus bytes.
    time(s"text_entropy nDocs=$nDocs")(println(s"[scale] entropy rows = " +
      graft.operators.Corpus.textEntropy(docs).count()))

    // Stickiness: the trailing-distinct shape — one (user, day) dedup of
    // n events, a 7× date-offset explode of THAT (never of raw events),
    // and a per-day distinct count.
    time(s"user_stickiness n=$n")(println(s"[scale] stickiness days = " +
      graft.operators.Analytics.userStickiness(events).count()))

    // Basket mining: the collapsed-basket shape — one groupBy over the
    // synthetic lineitem-shaped frame, pairs row-local (bounded basket
    // size), so wall clock tracks lines, not line-pairs.
    val sLines = spark.range(n / 2).selectExpr(
      "CAST(pmod(hash(id), 500000) AS BIGINT) AS l_orderkey",
      "CAST(pmod(hash(id * 13 + 1), 20000) AS BIGINT) AS l_partkey")
    time(s"basket_lift lines=${n / 2}")(println(s"[scale] basket pairs = " +
      graft.operators.Analytics.basketLift(sLines).count()))

    // Winnow overlap: df-capped fingerprint pair join over the planted
    // near-dup corpus — candidate volume must stay near-linear like the
    // jaccard stage.
    time(s"winnow_overlap nDocs=$nDocs")(println(s"[scale] overlap pairs = " +
      graft.operators.Corpus.winnowOverlap(docs).count()))

    // Vocabulary growth: one token min-agg (the novelty pass) + decile
    // rollup — scan-bound.
    time(s"vocab_growth nDocs=$nDocs")(println(s"[scale] vocab deciles = " +
      graft.operators.Corpus.vocabGrowth(docs).count()))

    // Model comparison: the checkpointed journey frame feeds five
    // one-window rollups — cost ≈ one assignment pass + 5 cheap aggs,
    // not 5 assignment passes.
    time(s"attribution_model_compare n=$n")(println(s"[scale] compare rows = " +
      graft.operators.Reporting.modelCompare(
        Journeys.assign(sessions, conversions)).count()))

    // LTV deciles at 2M synthetic orders: the global rank must come from
    // the range-bucketed machinery — near-linear, never one sort task.
    val ltvOrders = spark.range(2000000L).selectExpr(
      "id AS o_orderkey",
      "CAST(pmod(hash(id * 7), 200000) AS BIGINT) AS o_custkey",
      "CAST(pmod(hash(id * 31), 1000000) AS DOUBLE) / 100.0 AS o_totalprice")
    time("customer_ltv_deciles orders=2M customers=200k")(
      println(s"[scale] ltv deciles = " +
        graft.operators.Analytics.customerLtvDeciles(ltvOrders).count()))

    // r12 stages.

    // NB classification: training is two partial-agg groupBys, scoring
    // an inverted-index (class, term) equi-join — both linear in corpus
    // tokens, so 10× docs must scale wall clock ~10×, never pair-square.
    Seq(nDocs / 4, nDocs * 10 / 4).foreach { nd =>
      val cDocs = spark.range(nd).selectExpr(
        "id AS doc_id",
        "concat('l', pmod(id, 5)) AS lang",
        """array_join(transform(sequence(1, 30),
             i -> concat('w', pmod(hash(id * 61 + i) + pmod(id, 5) * 7, 1000))), ' ') AS text""")
      time(s"nb_classify nDocs=$nd")(println(s"[scale] nb predictions = " +
        graft.operators.Search.nbClassify(cDocs).count()))
    }

    // Full-corpus distributed Lloyd (the kmeansDistributed escape hatch):
    // each iteration is one assignment map pass + one K×dims agg, so 10×
    // vectors must scale ~10× — and the only collect stays K×dims rows.
    Seq(20000L, 200000L).foreach { nv =>
      val v = spark.range(nv).selectExpr(
        "id AS vec_id",
        """transform(sequence(0, 63),
             i -> CAST(CAST(pmod(hash(id * 67 + i), 1999) - 999 AS DOUBLE) / 1000.0 AS FLOAT)) AS embedding""")
      time(s"kmeans_distributed nVecs=$nv iters=2")(println(s"[scale] centroids = " +
        graft.operators.Similarity.kmeansDistributed(v, nCentroids = 16, iters = 2).length))
    }

    // Perceptual near-dup over binary payloads: banded-Hamming blocking
    // must keep pair work at the planted-dup rate (1% brightness-shifted
    // copies — aHash-invariant), never the frame-pair square.
    Seq(nDocs / 4, nDocs * 10 / 4).foreach { nd =>
      val frames = spark.range(nd).selectExpr(
        "id AS doc_id",
        // 64-byte pseudo-pixel payload (single-byte code points); every
        // 100th doc is the previous doc's payload with a uniform +16
        // brightness shift — invisible to aHash, so it MUST pair up
        """array_join(transform(sequence(1, 64),
             i -> chr(32 + pmod(hash((CASE WHEN pmod(id, 100) = 1 THEN id - 1 ELSE id END) * 53 + i), 64)
                         + (CASE WHEN pmod(id, 100) = 1 THEN 16 ELSE 0 END))),
           '') AS text""")
      time(s"phash_neardup nDocs=$nd")(println(s"[scale] perceptual pairs = " +
        graft.operators.Multimodal.imageNearDup(frames).count()))
    }

    // r16 stages: the corpus embedding index AT REST — the encode-at-rest
    // cadence and the code-served/filtered serving paths at 20k → 200k
    // docs. Contracts measured (not just asserted by spec):
    //  - full refresh+encode scales ~linearly in the corpus (cell
    //    assignment and code encoding are one map pass each; quantizer
    //    and codebook training read a BOUNDED sample — flat);
    //  - after a small delta ingest, the incremental refresh+encode
    //    passes cost O(batch): they touch only the new batch's dirs, so
    //    the delta (m/10 docs) must cost well under the full pass at m;
    //  - batched serving (ADC + occupancy-filtered) is one scan of the
    //    codes/cells dirs filtered by the probe join — linear in corpus,
    //    amortized over the query batch, codes not floats.
    {
      def corpusDocs(m: Long, off: Long): org.apache.spark.sql.DataFrame =
        spark.range(m).selectExpr(
          s"id + $off AS doc_id",
          s"concat('scale doc ', id + $off) AS text",
          "'en' AS lang", "'s' AS source", "CAST(12 AS BIGINT) AS n_chars",
          s"""transform(sequence(1, 64),
               i -> CAST(CAST(pmod(hash((id + $off) * 67 + i), 1000) AS DOUBLE) / 1000.0 AS FLOAT)) AS embedding""",
          s"CAST(pmod(id + $off, 4) AS INT) AS label")
      val queries = spark.range(8).selectExpr(
        "id AS query_id",
        """transform(sequence(1, 64),
             i -> CAST(CAST(pmod(hash(id * 71 + i), 1000) AS DOUBLE) / 1000.0 AS FLOAT)) AS embedding""")
      val costs = Seq(20000L, 200000L).map { m =>
        val state = java.nio.file.Files
          .createTempDirectory(s"graft_scale_embidx_$m").toString
        graft.operators.Corpus.ingestIncremental(spark, corpusDocs(m, 0L), state)
        // full pass: quantizer train + assign + occ for every batch,
        // codebook train, encode every cells dir — the from-scratch cost
        val t0 = System.nanoTime()
        graft.operators.Corpus.refreshEmbeddingIndex(spark, state)
        graft.operators.Corpus.initEmbeddingCodebooks(spark, state)
        graft.operators.Corpus.encodeEmbeddingIndex(spark, state)
        val fullT = (System.nanoTime() - t0) / 1e9
        println(f"[scale] embidx_build_full m=$m t=$fullT%.1f s")
        // delta: a m/10 batch; refresh+encode must touch ONLY its dirs
        // (assign/occ/encode of the batch + a corpus count for the
        // retrain trigger + fixed publish overhead — never a corpus
        // re-assignment or re-encode)
        graft.operators.Corpus.ingestIncremental(spark, corpusDocs(m / 10, m), state)
        val t1 = System.nanoTime()
        graft.operators.Corpus.refreshEmbeddingIndex(spark, state)
        graft.operators.Corpus.encodeEmbeddingIndex(spark, state)
        val encDelta = (System.nanoTime() - t1) / 1e9
        println(f"[scale] embidx_delta m=${m / 10} on corpus=$m t=$encDelta%.1f s")
        require(encDelta < math.max(3.0, 0.8 * fullT),
          f"delta refresh+encode ($encDelta%.1f s for ${m / 10} docs) must stay " +
            f"well under the full build at m=$m ($fullT%.1f s) - the cadence is O(batch)")
        time(s"embidx_adc_serve m=$m")(println(s"[scale] adc rows = " +
          graft.operators.Corpus.semanticTopKAdc(spark, queries, state).count()))
        time(s"embidx_filtered_serve m=$m")(println(s"[scale] filtered rows = " +
          graft.operators.Corpus.semanticTopKFiltered(
            spark, queries, state, targetLabel = 1).count()))
        fullT
      }
      val slopeEnc = {
        // the 20k build can be seconds-noisy; guard the ratio floor
        costs.last / math.max(costs.head, 2.0)
      }
      println(f"[scale] SLOPE embidx_build: 10x docs -> $slopeEnc%.1f x time")
      require(slopeEnc < 30.0,
        f"index build+encode is superlinear: $slopeEnc%.1f x time for 10x docs")
    }

    // r13: SECOND-DECADE slope ASSERTIONS (not just printed timings) for
    // the flagship and one dedup family. The 10× stages above can hide a
    // Σ-occupancy²/bucket effect that only bites at the next decade (a
    // fixed bucket space keeps per-bucket occupancy² growth quadratic);
    // these stages measure decade-over-decade wall clock and REQUIRE the
    // slope near-linear — <30× time for 10× data, far under the ~100× a
    // quadratic term would show, with 3× headroom for shuffle constants
    // and shared-box noise. Skipped below 1M events, where absolute
    // times are noise-dominated.
    def slope(name: String, sizes: Seq[Long])(run: Long => Long): Unit = {
      // One UNTIMED warm-up at the smaller size first: without it the
      // first timed run absorbs residual JIT/shuffle-service warm-up,
      // inflating ts(0) and partially masking a quadratic term. load_avg
      // is recorded per measurement so a require() trip on a noisy
      // shared box is distinguishable from real superlinearity.
      run(sizes.head)
      def loadAvg: Double = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      val ts = sizes.map { m =>
        val t0 = System.nanoTime()
        val rows = run(m)
        val dt = (System.nanoTime() - t0) / 1e9
        println(
          f"[scale] $name 2nd-decade size=$m rows=$rows t=$dt%.1f s load_avg=$loadAvg%.2f")
        dt
      }
      val ratio = ts(1) / ts(0)
      println(f"[scale] SLOPE $name: 10x data -> $ratio%.1f x time")
      require(ratio < 30.0,
        f"$name second decade is superlinear: $ratio%.1f x time for 10x data " +
          f"(end load_avg=$loadAvg%.2f - rule out box noise before blaming the plan)")
    }
    if (n >= 1000000L) {
      // flagship journey assignment: 10M → 100M events (100M fits the
      // 128 GiB box; the union+running-window as-of join shuffles each
      // row once, so the decade must cost ~a decade)
      def eventsOf(m: Long) = spark.range(m).selectExpr(
        "id AS event_id",
        "CAST(pmod(hash(id + 3), 100000) AS BIGINT) AS user_id",
        "CAST(pmod(hash(id), 2592000) AS BIGINT) * 1000000 AS ts_us",
        """CASE pmod(hash(id + 7), 5) WHEN 0 THEN 'purchase' WHEN 1 THEN 'click'
           WHEN 2 THEN 'view' WHEN 3 THEN 'signup' ELSE 'error' END AS event_type""",
        "CAST(pmod(hash(id + 13), 10000) AS DOUBLE) / 100.0 AS value")
        .withColumn("event_date", expr("CAST(timestamp_micros(ts_us) AS DATE)"))
      slope("journey_assign", Seq(n, n * 10)) { m =>
        val ev = eventsOf(m)
        Journeys.assign(
          Tables.deriveSessions(ev), Tables.deriveConversions(ev)).count()
      }
      // simhash near-dup: 2M → 20M docs. The Manku band keys are 32-bit
      // (3-block combos of the 64-bit simhash), so random-hash bucket
      // occupancy stays <<1 through this decade and pair work must keep
      // tracking the planted-dup rate, with the maxBucket cap as the
      // pathological backstop.
      slope("simhash_near", Seq(nDocs * 10, nDocs * 100)) { m =>
        val d = spark.range(m).selectExpr(
          "id AS doc_id",
          """array_join(transform(sequence(1, 60),
               i -> concat('w', pmod(hash((CASE WHEN pmod(id, 100) = 1 THEN id - 1 ELSE id END) * 61 + i), 1000))),
             ' ') AS text""")
          .selectExpr("doc_id",
            "CASE WHEN pmod(doc_id, 100) = 1 THEN concat(text, ' extra') ELSE text END AS text")
        graft.operators.Dedup.simhashNear(d).count()
      }
      // r14 stage: the graph-ANN family — knnGraph build + medoid-seeded
      // beam search (ann_graph_search's whole path). Pair volume in the
      // cell-blocked build is Σ cell² ≈ n·TargetCellSize while
      // autoCellCount scales cells with n (20k → 20 cells, 200k → 196,
      // both under its 256 cap — the decade exercises the SELF-SCALING
      // regime, which is what keeps the build near-linear); the beam's
      // per-query work is corpus-size-independent by construction, so
      // build cost dominates and the decade must cost ~a decade.
      def vecsOf(m: Long) = spark.range(m).selectExpr(
        "id AS vec_id",
        """transform(sequence(1, 64),
             i -> CAST(CAST(pmod(hash(id * 67 + i), 1000) AS DOUBLE) / 1000.0 AS FLOAT)) AS embedding""")
      slope("graph_ann", Seq(20000L, 200000L)) { m =>
        graft.operators.Similarity.graphSearch(vecsOf(m)).count()
      }
    }
    spark.stop()
  }
}
