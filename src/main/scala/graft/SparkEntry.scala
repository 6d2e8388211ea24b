package graft

import graft.functions.Exact.dsum
import graft.functions.TextFunctions
import graft.operators.{Analytics, Corpus, Dedup, IhcAttribution, Journeys, Multimodal, Reporting, Search, Similarity, Temporal}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §2 for the operator inventory. */
object SparkEntry {

  /** Flagship: the reference's end artifact — channel reporting with
    * CPO/ROAS over the full journey→IHC pipeline (sf0.001); driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    reportingMetrics(spark, "/root/testdata/sf0.001")

  // ---- attribution pipeline wiring (SURVEY §2.A) ----

  private def assigned(s: SparkSession, dir: String): DataFrame =
    Journeys.assign(Tables.sessions(s, dir), Tables.conversions(s, dir))

  private def flagged(s: SparkSession, dir: String): DataFrame =
    Journeys.flagConversion(assigned(s, dir))

  private def attributed(s: SparkSession, dir: String): DataFrame =
    IhcAttribution.attribute(flagged(s, dir))

  private def report(s: SparkSession, dir: String): DataFrame =
    Reporting.channelReporting(
      attributed(s, dir),
      Tables.sessions(s, dir),
      Tables.sessionCosts(s, dir),
      Tables.conversions(s, dir))

  private def reportingMetrics(s: SparkSession, dir: String): DataFrame =
    Reporting.withMetrics(report(s, dir)).orderBy("channel_name", "date")

  /** One committed corpus-embedding-index state per (JVM, sf dir,
    * residual flag): the embeddings table ingested as documents (texts
    * unique per id, so the exact-fingerprint gate admits everything)
    * with TWO declared predicate columns — `label` from the table and
    * `src` = vec_id mod 3, the two-column occupancy surface — the
    * embedding index refreshed (quantizer trained at autoCellCount,
    * every batch's cells assigned), codebooks trained (plain or
    * residual) and all cells dirs PQ-encoded at rest. Every build step
    * is deterministic in the table values — the cache only saves
    * Verify/Bench from rebuilding identical state per gated key, it
    * never changes a served result.
    *
    * The minutes-of-Spark build runs OUTSIDE the map's bin lock (the
    * memo holder is cheap to create; its lazy val synchronizes build on
    * the holder, not the map), and each temp state registers a
    * shutdown-hook cleanup so repeated JVMs don't leak tmpdirs. */
  private final class CorpusStateMemo(build: () => String) {
    lazy val value: String = build()
  }
  private val corpusIdxStates =
    new java.util.concurrent.ConcurrentHashMap[String, CorpusStateMemo]()
  private def corpusIndexState(s: SparkSession, dir: String,
      residual: Boolean = false): String =
    corpusIdxStates.computeIfAbsent(s"$dir#res=$residual",
      _ => new CorpusStateMemo(() => {
        val state = java.nio.file.Files.createTempDirectory("graft_embidx")
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(state).iterator().asScala.toSeq
              .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
          } catch { case _: Throwable => () }))
        val docs = Tables.embeddings(s, dir).select(
          col("vec_id").as("doc_id"),
          concat(lit("embedding doc "), col("vec_id").cast("string")).as("text"),
          lit("en").as("lang"), lit("synthetic").as("source"),
          lit(24L).as("n_chars"), col("embedding"), col("label"),
          pmod(col("vec_id"), lit(3)).cast("int").as("src"))
        Corpus.ingestIncremental(s, docs, state.toString)
        Corpus.refreshEmbeddingIndex(s, state.toString,
          predicateCols = Seq("label", "src"))
        Corpus.initEmbeddingCodebooks(s, state.toString, byResidual = residual)
        Corpus.encodeEmbeddingIndex(s, state.toString)
        state.toString
      })).value

  /** The corpus-index keys' queries: the first 8 embeddings. */
  private def corpusQueries(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))

  /** Per query over the served top-k: agreement of the PQ-codes ADC read
    * with exact re-rank (semanticTopKAdc) with the raw-float exact probe
    * (semanticTopK) on one committed corpus-index state. */
  private def adcAgreement(s: SparkSession, dir: String, residual: Boolean): DataFrame = {
    val state = corpusIndexState(s, dir, residual)
    val q = corpusQueries(s, dir)
    val served = Corpus.semanticTopKAdc(s, q, state)
      .select(col("query_id"), col("doc_id"), lit(1).as("hit"))
    Corpus.semanticTopK(s, q, state)
      .select("query_id", "doc_id")
      .join(served, Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_hits"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1)).cast("double")).as("agreement"))
      .orderBy("query_id")
  }

  /** One gated key: its run function, the independent DuckDB SQL over
    * the same parquet tables that its result must hash-equal, and its
    * non-vacuity floor at the sf0.01 gate. A hash gate that compares two
    * EMPTY results proves nothing — a filter bug that eats every row on
    * both sides would stay green — so the floor is 1 row unless the key's
    * sf0.01 result is GENUINELY empty on the driver-owned testdata (then
    * its entry says why; each such key has real rows at sf0.1 and a golden
    * spec covering the non-empty semantics). `Verify` records a floor
    * violation in errors.json, so "correct empty" and "silently emptied"
    * stay apart. */
  private final case class Query(oracle: String, minRows: Long = 1L)(
      val run: (SparkSession, String) => DataFrame)

  /** The driver contract's three views of [[registry]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (k, q) => k -> q.run }
  def oracleSql: Map[String, String] = byName.map { case (k, q) => k -> q.oracle }
  def minRows(name: String): Long = byName.get(name).fold(1L)(_.minRows)

  private lazy val byName: Map[String, Query] = {
    val m = registry.toMap
    require(m.size == registry.size, "a SparkEntry key is registered twice")
    m
  }

  /** Every gated key, registered once: one entry per implemented operator
    * from SURVEY.md §2. */
  private val registry: Seq[(String, Query)] = Seq(
    "conversions_extract" -> Query(Oracles.conversionsExtract)((s, dir) =>
      // raw-ts window (pushes into the parquet scan) + the redundant
      // derived-date filter (exactness guard against encoding drift)
      Tables.deriveConversions(
          Tables.eventsWindowed(s, dir, Some("2024-01-05"), None))
        .filter(col("conv_date") >= lit("2024-01-05").cast("date"))
        .orderBy("conv_id")),

    "sessions_extract" -> Query(Oracles.sessionsExtract)((s, dir) =>
      Tables.sessions(s, dir)
        .join(Tables.sessionCosts(s, dir), Seq("session_id"), "left")
        .orderBy("session_id")),

    "journey_build" -> Query(Oracles.journeyBuild)((s, dir) =>
      assigned(s, dir)
        .select("conv_id", "session_id", "user_id", "ts_us", "channel_name")
        .orderBy("conv_id", "session_id")),

    "journey_flag" -> Query(Oracles.journeyFlag)((s, dir) =>
      flagged(s, dir)
        .select("conv_id", "session_id", "conversion")
        .orderBy("conv_id", "session_id")),

    "ihc_attribution" -> Query(Oracles.ihcAttribution)((s, dir) =>
      attributed(s, dir)
        .select("conv_id", "session_id", "channel_name", "ihc")
        .orderBy("conv_id", "session_id")),

    "ihc_redistributed" -> Query(Oracles.ihcRedistributed)((s, dir) =>
      // 'error' is this schema's untracked/no-engagement channel — the
      // stand-in for the reference's 'Direct' label (api_utils.py:322)
      IhcAttribution.attributeRedistributed(flagged(s, dir), directChannels = Seq("error"))
        .select("conv_id", "session_id", "channel_name", "ihc", "ihc_redist")
        .orderBy("conv_id", "session_id")),

    "attribution_sum_check" -> Query(Oracles.attributionSumCheck)((s, dir) =>
      IhcAttribution.sumCheck(attributed(s, dir)).orderBy("conv_id")),

    "ihc_lookback" -> Query(Oracles.ihcLookback)((s, dir) =>
      // 2-day lookback window (172800000000 µs), matching the oracle
      IhcAttribution.attribute(Journeys.flagConversion(
          Journeys.lookbackFilter(assigned(s, dir), 172800000000L)))
        .select("conv_id", "session_id", "channel_name", "ihc")
        .orderBy("conv_id", "session_id")),

    "channel_overlap" -> Query(Oracles.channelOverlap)((s, dir) =>
      Journeys.channelOverlap(assigned(s, dir))),

    "attribution_model_compare" -> Query(Oracles.attributionModelCompare)((s, dir) =>
      Reporting.modelCompare(assigned(s, dir))),

    "journey_length_distribution" -> Query(Oracles.journeyLengthDistribution)((s, dir) =>
      Journeys.lengthDistribution(assigned(s, dir))),

    "channel_position_bias" -> Query(Oracles.channelPositionBias)((s, dir) =>
      Journeys.channelPositionBias(assigned(s, dir))),

    "journey_lag_by_opener" -> Query(Oracles.journeyLagByOpener)((s, dir) =>
      Journeys.lagByOpener(assigned(s, dir))),

    "touch_gap_quantiles" -> Query(Oracles.touchGapQuantiles)((s, dir) =>
      Analytics.touchGapQuantiles(assigned(s, dir))),

    "supplier_hhi" -> Query(Oracles.supplierHhi)((s, dir) =>
      Analytics.supplierHhi(
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.lineitem(s, dir))),

    "events_hour_profile" -> Query(Oracles.eventsHourProfile)((s, dir) =>
      Analytics.eventsHourProfile(Tables.events(s, dir))),

    "events_quality_audit" -> Query(Oracles.eventsQualityAudit)((s, dir) =>
      Analytics.eventsQualityAudit(Tables.events(s, dir))),

    "journey_stats" -> Query(Oracles.journeyStats)((s, dir) =>
      Journeys.statistics(assigned(s, dir))),

    "journey_validate" -> Query(Oracles.journeyValidate)((s, dir) =>
      Journeys.validate(flagged(s, dir)).orderBy("conv_id")),

    "channel_reporting" -> Query(Oracles.channelReporting)((s, dir) =>
      report(s, dir).orderBy("channel_name", "date")),

    "channel_reporting_metrics" -> Query(Oracles.channelReportingMetrics)(reportingMetrics),

    "channel_reporting_window" -> Query(Oracles.channelReportingWindow) { (s, dir) =>
      // raw-ts window (pushes into the parquet scan) + the redundant
      // derived-date filter (exactness guard against encoding drift)
      val sessions = Tables.deriveSessions(
          Tables.eventsWindowed(s, dir, Some("2024-01-05"), Some("2024-01-20")))
        .filter(col("event_date") >= lit("2024-01-05").cast("date") &&
          col("event_date") <= lit("2024-01-20").cast("date"))
      Reporting.channelReporting(
        attributed(s, dir), sessions,
        Tables.sessionCosts(s, dir), Tables.conversions(s, dir))
        .orderBy("channel_name", "date")
    },

    "journey_paths" -> Query(Oracles.journeyPaths)((s, dir) => Journeys.paths(assigned(s, dir))),

    "channel_communities" -> Query(Oracles.channelCommunities)((s, dir) =>
      graft.operators.Markov.labelPropagation(
        Journeys.channelTransitions(assigned(s, dir))
          .selectExpr("from_channel AS src", "to_channel AS dst", "n AS weight"))
        .orderBy("node")),

    "basket_lift" -> Query(Oracles.basketLift)((s, dir) =>
      Analytics.basketLift(Tables.lineitem(s, dir))),

    "channel_triangles" -> Query(Oracles.channelTriangles)((s, dir) =>
      graft.operators.Markov.triangleCount(
        Journeys.channelTransitions(assigned(s, dir))
          .selectExpr("from_channel AS src", "to_channel AS dst"))
        .orderBy("node")),

    "scd2_enrich" -> Query(Oracles.scd2Enrich) { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "user_id", "ts_us", "event_type")
      Temporal.intervalJoin(ev, Analytics.scd2UserState(ev),
        keyCol = "user_id", tsCol = "ts_us", dimTieBreak = Seq("version"))
        .select("event_id", "user_id", "ts_us", "version", "state")
        .orderBy("event_id")
    },

    "orders_ewma" -> Query(Oracles.ordersEwma)((s, dir) =>
      Analytics.ordersEwma(Tables.orders(s, dir))),

    "orders_seasonality" -> Query(Oracles.ordersSeasonality)((s, dir) =>
      Analytics.ordersSeasonality(Tables.orders(s, dir))),

    "orders_autocorrelation" -> Query(Oracles.ordersAutocorrelation)((s, dir) =>
      Analytics.ordersAutocorrelation(Tables.orders(s, dir))),

    "channel_conversion_rate" -> Query(Oracles.channelConversionRate)((s, dir) =>
      Reporting.channelConversionRate(Tables.sessions(s, dir), assigned(s, dir))),

    "user_purchase_histogram" -> Query(Oracles.userPurchaseHistogram)((s, dir) =>
      Analytics.userPurchaseHistogram(Tables.events(s, dir))),

    "nation_trade_balance" -> Query(Oracles.nationTradeBalance)((s, dir) =>
      Analytics.nationTradeBalance(
        Tables.supplier(s, dir), Tables.customer(s, dir), Tables.nation(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))),

    "integrity_audit" -> Query(Oracles.integrityAudit)((s, dir) =>
      Analytics.integrityAudit(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.part(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),

    "user_stickiness" -> Query(Oracles.userStickiness)((s, dir) =>
      Analytics.userStickiness(Tables.events(s, dir))),

    "token_zipf" -> Query(Oracles.tokenZipf)((s, dir) =>
      Corpus.tokenZipf(Tables.documents(s, dir))),

    "time_to_convert" -> Query(Oracles.timeToConvert)((s, dir) =>
      Analytics.timeToConvertQuantiles(assigned(s, dir))),

    "ab_test_welch" -> Query(Oracles.abTestWelch)((s, dir) =>
      Analytics.abTestWelch(Tables.events(s, dir))),

    "embed_outliers" -> Query(Oracles.embedOutliers)((s, dir) =>
      Similarity.embedOutliers(Tables.embeddings(s, dir))),

    "bpe_coverage" -> Query(Oracles.bpeCoverage) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Search.bpeCoverage(docs, Search.bpeLearn(docs))
    },

    "channel_transitions" -> Query(Oracles.channelTransitions)((s, dir) =>
      Journeys.channelTransitions(assigned(s, dir))),

    "attribution_incremental" -> Query(Oracles.attributionIncremental) { (s, dir) =>
      // Simulated prior state: conversions with conv_id % 3 == 0 already
      // attributed (mirrors db_utils.py:260-302's incremental skip).
      val conv = Tables.conversions(s, dir)
      val existing = conv.filter(col("conv_id") % 3 === 0).select("conv_id")
      val missing = Reporting.missingConversions(conv, existing)
      assigned(s, dir)
        .join(missing.select("conv_id"), Seq("conv_id"), "left_semi")
        .select("conv_id", "session_id")
        .orderBy("conv_id", "session_id")
    },

    "first_touch_attribution" -> Query(Oracles.firstTouchAttribution)((s, dir) =>
      Reporting.firstTouch(assigned(s, dir))),

    "last_touch_attribution" -> Query(Oracles.lastTouchAttribution)((s, dir) =>
      Reporting.lastTouch(flagged(s, dir))),

    "linear_attribution" -> Query(Oracles.linearAttribution)((s, dir) =>
      Reporting.linearAttribution(assigned(s, dir))),

    "time_decay_attribution" -> Query(Oracles.timeDecayAttribution)((s, dir) =>
      Reporting.timeDecayAttribution(assigned(s, dir))),

    "position_attribution" -> Query(Oracles.positionAttribution)((s, dir) =>
      Reporting.positionBasedAttribution(assigned(s, dir))),

    "shapley_attribution" -> Query(Oracles.shapleyAttribution)((s, dir) =>
      Reporting.shapleyAttribution(assigned(s, dir))),

    "markov_attribution" -> Query(Oracles.markovAttribution)((s, dir) =>
      graft.operators.Markov.attribution(s, Tables.sessions(s, dir), assigned(s, dir))),

    "channel_pagerank" -> Query(Oracles.channelPagerank)((s, dir) =>
      graft.operators.Markov.channelPagerank(assigned(s, dir))),

    "channel_hits" -> Query(Oracles.channelHits)((s, dir) =>
      graft.operators.Markov.channelHits(assigned(s, dir))),

    "events_anomaly" -> Query(Oracles.eventsAnomaly)((s, dir) =>
      Analytics.eventsAnomaly(Tables.events(s, dir))),

    "data_profile" -> Query(Oracles.dataProfile)((s, dir) =>
      Analytics.dataProfile(Tables.orders(s, dir))),

    "markov2_attribution" -> Query(Oracles.markov2Attribution)((s, dir) =>
      graft.operators.Markov.attribution2(s, Tables.sessions(s, dir), assigned(s, dir))),

    "journey_hashed_features" -> Query(Oracles.journeyHashedFeatures)((s, dir) =>
      Journeys.hashedFeatures(assigned(s, dir))),

    "training_data_export" -> Query(Oracles.trainingDataExport)((s, dir) =>
      Journeys.trainingExport(Tables.sessions(s, dir), Tables.conversions(s, dir))),

    "asof_last_session" -> Query(Oracles.asofLastSession)((s, dir) =>
      Temporal.asofLastSession(Tables.sessions(s, dir), Tables.conversions(s, dir))),

    "asof_next_session" -> Query(Oracles.asofNextSession)((s, dir) =>
      Temporal.asofNextSession(Tables.sessions(s, dir), Tables.conversions(s, dir))),

    "user_rfm_segments" -> Query(Oracles.rfmSegments)((s, dir) =>
      Analytics.rfmSegments(Tables.events(s, dir))),

    "range_session_count" -> Query(Oracles.rangeSessionCount)((s, dir) =>
      Temporal.sessionCountWindow(Tables.sessions(s, dir), Tables.conversions(s, dir))),

    "winnow_fingerprints" -> Query(Oracles.winnowFingerprints)((s, dir) =>
      Corpus.winnowFingerprints(Tables.documents(s, dir))),

    "contamination_semantic" -> Query(Oracles.contaminationSemantic)((s, dir) =>
      Dedup.semanticContamination(Tables.embeddings(s, dir))),

    "contamination_check" -> Query(Oracles.contaminationCheck)((s, dir) =>
      Corpus.contaminationCheck(Tables.documents(s, dir))),

    "text_pii_scrub" -> Query(Oracles.textPiiScrub)((s, dir) =>
      Corpus.piiScrub(Tables.documents(s, dir))),

    "doc_chunking" -> Query(Oracles.docChunking)((s, dir) =>
      Corpus.chunkDocuments(Tables.documents(s, dir))),

    "sequence_packing" -> Query(Oracles.sequencePacking)((s, dir) =>
      Corpus.sequencePacking(Tables.documents(s, dir))),

    "packing_efficiency" -> Query(Oracles.packingEfficiency)((s, dir) =>
      Corpus.packingEfficiency(Tables.documents(s, dir))),

    "shard_skew" -> Query(Oracles.shardSkew)((s, dir) =>
      Corpus.shardSkew(Tables.documents(s, dir))),

    "doc_len_histogram" -> Query(Oracles.docLenHistogram)((s, dir) =>
      Corpus.docLenHistogram(Tables.documents(s, dir))),

    "dup_rate_by_source" -> Query(Oracles.dupRateBySource)((s, dir) =>
      Corpus.dupRateBySource(Tables.documents(s, dir))),

    "winnow_overlap" -> Query(Oracles.winnowOverlap)((s, dir) =>
      Corpus.winnowOverlap(Tables.documents(s, dir))),

    "quality_length_grid" -> Query(Oracles.qualityLengthGrid)((s, dir) =>
      Corpus.qualityLengthGrid(Tables.documents(s, dir))),

    "vocab_growth" -> Query(Oracles.vocabGrowth)((s, dir) =>
      Corpus.vocabGrowth(Tables.documents(s, dir))),

    "lang_confusion" -> Query(Oracles.langConfusion)((s, dir) =>
      Corpus.langConfusion(Tables.documents(s, dir))),

    "corpus_mixture_entropy" -> Query(Oracles.corpusMixtureEntropy)((s, dir) =>
      Corpus.mixtureEntropy(Tables.documents(s, dir))),

    "dedup_threshold_sweep" -> Query(Oracles.dedupThresholdSweep)((s, dir) =>
      Corpus.dedupThresholdSweep(Tables.documents(s, dir))),

    "mixture_temperature" -> Query(Oracles.mixtureTemperature)((s, dir) =>
      Corpus.mixtureTemperature(Tables.documents(s, dir))),

    "quality_dup_grid" -> Query(Oracles.qualityDupGrid)((s, dir) =>
      Corpus.qualityDupGrid(Tables.documents(s, dir))),

    "source_quality_profile" -> Query(Oracles.sourceQualityProfile)((s, dir) =>
      Corpus.sourceQualityProfile(Tables.documents(s, dir))),

    "sessionize_gap_sweep" -> Query(Oracles.sessionizeGapSweep)((s, dir) =>
      Analytics.sessionizeGapSweep(Tables.events(s, dir))),

    "training_shards_balanced" -> Query(Oracles.trainingShardsBalanced)((s, dir) =>
      Corpus.trainingShardsBalanced(Tables.documents(s, dir))),

    "minhash_s_curve" -> Query(Oracles.minhashSCurve)((s, _) => Dedup.minhashSCurve(s)),

    "lm_heldout_score" -> Query(Oracles.lmHeldoutScore)((s, dir) =>
      Search.lmHeldoutScore(Tables.documents(s, dir))),

    "domain_cap_sample" -> Query(Oracles.domainCapSample)((s, dir) =>
      Corpus.domainCapSample(Tables.documents(s, dir))),

    "quality_ablation" -> Query(Oracles.qualityAblation)((s, dir) =>
      Corpus.qualityAblation(Tables.documents(s, dir))),

    "nb_lang_classify" -> Query(Oracles.nbClassify)((s, dir) =>
      Search.nbClassify(Tables.documents(s, dir))),

    "quality_classifier_score" -> Query(Oracles.qualityClassifierScore)((s, dir) =>
      Corpus.qualityClassifier(Tables.documents(s, dir))),

    "quality_classifier_eval" -> Query(Oracles.qualityClassifierEval)((s, dir) =>
      Corpus.qualityClassifierEval(Tables.documents(s, dir))),

    "classifier_budget_select" -> Query(Oracles.classifierBudgetSelect)((s, dir) =>
      Corpus.classifierBudgetSelect(Tables.documents(s, dir))),

    "classifier_threshold_select" -> Query(Oracles.classifierThresholdSelect)((s, dir) =>
      Corpus.classifierThresholdSelect(Tables.documents(s, dir))),

    "customer_ltv_deciles" -> Query(Oracles.customerLtvDeciles)((s, dir) =>
      Analytics.customerLtvDeciles(Tables.orders(s, dir))),

    "data_mixture_sample" -> Query(Oracles.dataMixtureSample)((s, dir) =>
      Corpus.mixtureSample(Tables.documents(s, dir))),

    "corpus_budget_select" -> Query(Oracles.corpusBudgetSelect)((s, dir) =>
      Corpus.budgetSelect(Tables.documents(s, dir))),

    "corpus_budget_by_lang" -> Query(Oracles.corpusBudgetByLang)((s, dir) =>
      Corpus.budgetSelectPerLang(Tables.documents(s, dir))),

    "quality_curriculum" -> Query(Oracles.qualityCurriculum)((s, dir) =>
      Corpus.qualityCurriculum(Tables.documents(s, dir))),

    "lm_doc_score" -> Query(Oracles.lmDocScore)((s, dir) =>
      Search.lmScore(Tables.documents(s, dir))),

    "sample_stratified" -> Query(Oracles.sampleStratified)((s, dir) =>
      Corpus.stratifiedSample(Tables.documents(s, dir))),

    "sample_priority" -> Query(Oracles.samplePriority)((s, dir) =>
      Corpus.prioritySample(Tables.documents(s, dir))),

    "corpus_curation" -> Query(Oracles.corpusCuration)((s, dir) =>
      Corpus.curation(Tables.documents(s, dir))),

    "salted_channel_agg" -> Query(Oracles.saltedChannelAgg)((s, dir) =>
      Analytics.saltedChannelAgg(Tables.events(s, dir))),

    "sketch_kmv_distinct" -> Query(Oracles.sketchKmvDistinct)((s, dir) =>
      graft.operators.Sketches.kmvDistinct(Tables.events(s, dir))),

    "sketch_cms_frequency" -> Query(Oracles.sketchCmsFrequency)((s, dir) =>
      graft.operators.Sketches.cmsFrequency(Tables.events(s, dir))),

    "sketch_hll_distinct" -> Query(Oracles.sketchHllDistinct)((s, dir) =>
      graft.operators.Sketches.hllDistinct(Tables.events(s, dir))),

    "sketch_kmv_intersection" -> Query(Oracles.sketchKmvIntersection)((s, dir) =>
      graft.operators.Sketches.kmvIntersection(Tables.events(s, dir))),

    "sketch_kmv_merged" -> Query(Oracles.sketchKmvMerged)((s, dir) =>
      graft.operators.Sketches.kmvMerged(Tables.events(s, dir))),

    // deliberately the FULL-data CMS oracle: cell-wise-sum merging must
    // reproduce the full grid exactly, so the hash match IS the proof
    "sketch_cms_merged" -> Query(Oracles.sketchCmsFrequency)((s, dir) =>
      graft.operators.Sketches.cmsMerged(Tables.events(s, dir))),

    "sketch_hll_merged" -> Query(Oracles.sketchHllMerged)((s, dir) =>
      graft.operators.Sketches.hllMerged(Tables.events(s, dir))),

    // counts-only replay of the deterministic md5 position sets: the
    // false-positive overshoot is part of the checked row
    "sketch_bloom_prune" -> Query(Oracles.sketchBloomPrune)((s, dir) =>
      graft.operators.Sketches.bloomSemiPrune(
        Tables.lineitem(s, dir), Tables.orders(s, dir))),

    "sketch_join_size" -> Query(Oracles.sketchJoinSize)((s, dir) =>
      graft.operators.Sketches.amsJoinSize(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),

    // the FULL-data Bloom oracle: position-set union (bitwise OR) must
    // reproduce the full filter exactly, so the hash match IS the proof
    "sketch_bloom_merged" -> Query(Oracles.sketchBloomPrune)((s, dir) =>
      graft.operators.Sketches.bloomSemiPruneMerged(
        Tables.lineitem(s, dir), Tables.orders(s, dir))),

    "sketch_hist_quantiles" -> Query(Oracles.sketchHistQuantiles)((s, dir) =>
      graft.operators.Sketches.histQuantiles(Tables.events(s, dir))),

    // the FULL-data histogram oracle: cell-wise-sum merging must
    // reproduce the full grid exactly, so the hash match IS the proof
    "sketch_hist_merged" -> Query(Oracles.sketchHistMerged)((s, dir) =>
      graft.operators.Sketches.histMerged(Tables.events(s, dir))),

    "q4_order_priority" -> Query(Oracles.q4OrderPriority)((s, dir) =>
      Analytics.q4OrderPriority(Tables.orders(s, dir), Tables.lineitem(s, dir))),

    "q13_custdist" -> Query(Oracles.q13CustDist)((s, dir) =>
      Analytics.q13CustDist(Tables.customer(s, dir), Tables.orders(s, dir))),

    "q17_small_quantity_revenue" -> Query(Oracles.q17SmallQuantityRevenue)((s, dir) =>
      Analytics.q17SmallQuantityRevenue(Tables.lineitem(s, dir))),

    "q14_promo_revenue" -> Query(Oracles.q14PromoRevenue)((s, dir) =>
      Analytics.q14PromoRevenue(Tables.lineitem(s, dir), Tables.part(s, dir))),

    "events_latest_per_user" -> Query(Oracles.eventsLatestPerUser)((s, dir) =>
      Analytics.latestEventPerUser(Tables.events(s, dir))),

    "q3_top_unshipped" -> Query(Oracles.q3TopUnshipped)((s, dir) =>
      Analytics.q3TopUnshipped(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),

    "q5_region_revenue" -> Query(Oracles.q5RegionRevenue)((s, dir) =>
      Analytics.q5RegionRevenue(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),

    "q7_volume_shipping" -> Query(Oracles.q7VolumeShipping)((s, dir) =>
      Analytics.q7VolumeShipping(
        Tables.supplier(s, dir), Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir))),

    "q8_market_share" -> Query(Oracles.q8MarketShare)((s, dir) =>
      Analytics.q8MarketShare(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir))),

    "q10_returned_items" -> Query(Oracles.q10ReturnedItems)((s, dir) =>
      Analytics.q10ReturnedItems(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.nation(s, dir))),

    "q9_profit_by_nation" -> Query(Oracles.q9ProfitByNation)((s, dir) =>
      Analytics.q9ProfitByNation(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.nation(s, dir))),

    "q2_min_price_supplier" -> Query(Oracles.q2MinPriceSupplier)((s, dir) =>
      Analytics.q2MinPriceSupplier(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir))),

    "q11_important_parts" -> Query(Oracles.q11ImportantParts)((s, dir) =>
      Analytics.q11ImportantParts(
        Tables.supplier(s, dir), Tables.lineitem(s, dir), Tables.nation(s, dir))),

    "q12_shipping_priority" -> Query(Oracles.q12ShippingPriority)((s, dir) =>
      Analytics.q12ShippingPriority(Tables.orders(s, dir), Tables.lineitem(s, dir))),

    "q16_supplier_counts" -> Query(Oracles.q16SupplierCounts)((s, dir) =>
      Analytics.q16SupplierCounts(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir))),

    "q21_waiting_suppliers" -> Query(Oracles.q21WaitingSuppliers)((s, dir) =>
      Analytics.q21WaitingSuppliers(
        Tables.supplier(s, dir), Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.nation(s, dir))),

    "q20_promo_suppliers" -> Query(Oracles.q20PromoSuppliers)((s, dir) =>
      Analytics.q20PromoSuppliers(
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
        Tables.nation(s, dir))),

    "revenue_trend_ols" -> Query(Oracles.revenueTrendOls)((s, dir) =>
      Analytics.revenueTrendOls(Tables.orders(s, dir))),

    "q15_top_supplier" -> Query(Oracles.q15TopSupplier)((s, dir) =>
      Analytics.q15TopSupplier(Tables.supplier(s, dir), Tables.lineitem(s, dir))),

    "q18_large_volume" -> Query(Oracles.q18LargeVolume)((s, dir) =>
      Analytics.q18LargeVolume(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),

    "q19_discounted_revenue" -> Query(Oracles.q19DiscountedRevenue)((s, dir) =>
      Analytics.q19DiscountedRevenue(Tables.lineitem(s, dir), Tables.part(s, dir))),

    "q22_global_sales" -> Query(Oracles.q22GlobalSales)((s, dir) =>
      Analytics.q22GlobalSales(Tables.customer(s, dir), Tables.orders(s, dir))),

    "top_customers_window" -> Query(Oracles.topCustomersWindow)((s, dir) =>
      Analytics.topCustomers(Tables.customer(s, dir), Tables.orders(s, dir), 25)),

    "running_total_window" -> Query(Oracles.runningTotalWindow)((s, dir) =>
      Analytics.runningTotal(Tables.orders(s, dir))),

    "events_sessionize" -> Query(Oracles.eventsSessionize)((s, dir) =>
      Analytics.sessionize(Tables.events(s, dir))),

    "events_json_extract" -> Query(Oracles.eventsJsonExtract)((s, dir) =>
      Analytics.jsonExtractAgg(Tables.events(s, dir))),

    "orders_enrich_denorm" -> Query(Oracles.ordersEnrichDenorm)((s, dir) =>
      Analytics.ordersEnrich(
        Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir))),

    "dedup_exact" -> Query(Oracles.dedupExact)((s, dir) => Dedup.exact(Tables.documents(s, dir))),

    "dedup_exact_substring" -> Query(Oracles.dedupExactSubstring)((s, dir) =>
      Dedup.exactSubstringSpans(Tables.documents(s, dir))),

    "dedup_substring_runs" -> Query(Oracles.dedupSubstringRuns)((s, dir) =>
      Dedup.exactSubstringRuns(Tables.documents(s, dir))),

    "dedup_substring_scrub" -> Query(Oracles.dedupSubstringScrub)((s, dir) =>
      Dedup.exactSubstringScrub(Tables.documents(s, dir))),

    "dedup_minhash_lsh" -> Query(Oracles.dedupMinhashLsh)((s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir))),

    "dedup_minhash_incremental" -> Query(Oracles.dedupMinhashIncremental) { (s, dir) =>
      val d = Tables.documents(s, dir)
      Dedup.minhashIncremental(
        d.filter(pmod(col("doc_id"), lit(5)) === 0),
        d.filter(pmod(col("doc_id"), lit(5)) =!= 0))
    },

    "split_leakage_free" -> Query(Oracles.splitLeakageFree)((s, dir) =>
      Dedup.leakageFreeSplit(Tables.documents(s, dir))),

    "dedup_clusters" -> Query(Oracles.dedupClusters)((s, dir) =>
      Dedup.clustersStar(Dedup.minhashLsh(Tables.documents(s, dir)).select("doc_a", "doc_b"))),

    "dedup_hybrid_clusters" -> Query(Oracles.dedupHybridClusters)((s, dir) =>
      Dedup.hybridClusters(Tables.documents(s, dir), Tables.embeddings(s, dir))),

    "dedup_semantic" -> Query(Oracles.dedupSemantic)((s, dir) =>
      Dedup.semanticDedup(Tables.embeddings(s, dir))),

    "dedup_embedding_incremental" -> Query(Oracles.dedupEmbeddingIncremental)((s, dir) =>
      Dedup.embeddingIncremental(Tables.embeddings(s, dir))),

    "dedup_embedding_eval" -> Query(Oracles.dedupEmbeddingEval)((s, dir) =>
      Dedup.embeddingIncrementalEval(Tables.embeddings(s, dir))),

    "dedup_gate_probe_sweep" -> Query(Oracles.dedupGateProbeSweep)((s, dir) =>
      Dedup.embeddingGateProbeSweep(Tables.embeddings(s, dir))),

    "dedup_edit_verified" -> Query(Oracles.dedupEditVerified)((s, dir) =>
      Dedup.editVerified(Tables.documents(s, dir))),

    "dedup_minhash_eval" -> Query(Oracles.dedupMinhashEval)((s, dir) =>
      Dedup.minhashEval(Tables.documents(s, dir))),

    "ngram_novelty" -> Query(Oracles.ngramNovelty)((s, dir) =>
      Dedup.ngramNovelty(Tables.documents(s, dir))),

    "bpe_encode" -> Query(Oracles.bpeEncode) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Search.bpeEncode(docs, Search.bpeLearn(docs))
    },

    "dedup_chunks_exact" -> Query(Oracles.dedupChunks)((s, dir) =>
      Dedup.chunkDedup(Tables.documents(s, dir))),

    "chunk_dup_stats" -> Query(Oracles.chunkDupStats)((s, dir) =>
      Dedup.chunkDupStats(Tables.documents(s, dir))),

    "dedup_cluster_sizes" -> Query(Oracles.dedupClusterSizes)((s, dir) =>
      Dedup.clusterSizeHistogram(Tables.documents(s, dir))),

    "shingle_df_histogram" -> Query(Oracles.shingleDfHistogram)((s, dir) =>
      Dedup.shingleDfHistogram(Tables.documents(s, dir))),

    "training_shards" -> Query(Oracles.trainingShards)((s, dir) =>
      Corpus.trainingShards(Tables.documents(s, dir))),

    "shard_checksums" -> Query(Oracles.shardChecksums)((s, dir) =>
      Corpus.shardChecksums(Tables.documents(s, dir))),

    "corpus_drift" -> Query(Oracles.corpusDrift)((s, dir) =>
      Corpus.corpusDrift(Tables.documents(s, dir))),

    "corpus_drift_summary" -> Query(Oracles.corpusDriftSummary)((s, dir) =>
      Corpus.corpusDriftSummary(Tables.documents(s, dir))),

    "dedup_keep_best" -> Query(Oracles.dedupKeepBest)((s, dir) =>
      Dedup.clusterRepresentatives(Tables.documents(s, dir))),

    "corpus_datasheet" -> Query(Oracles.corpusDatasheet)((s, dir) =>
      Corpus.corpusDatasheet(Tables.documents(s, dir))),

    "embed_rp_project" -> Query(Oracles.embedRpProject)((s, dir) =>
      Similarity.rpProject(Tables.embeddings(s, dir))),

    "embed_center_norm" -> Query(Oracles.embedCenterNorm)((s, dir) =>
      Similarity.centerNormalize(Tables.embeddings(s, dir))),

    "embed_dim_stats" -> Query(Oracles.embedDimStats)((s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir))),

    "embed_whiten" -> Query(Oracles.embedWhiten)((s, dir) =>
      Similarity.whiten(Tables.embeddings(s, dir))),

    "q6_forecast_revenue" -> Query(Oracles.q6ForecastRevenue)((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(
          dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))),

    "dedup_simhash" -> Query(Oracles.dedupSimhash)((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir))),

    "dedup_simhash_near" -> Query(Oracles.dedupSimhashNear)((s, dir) =>
      Dedup.simhashNear(Tables.documents(s, dir))),

    "dedup_containment" -> Query(Oracles.dedupNgramContainment)((s, dir) =>
      Dedup.ngramContainment(Tables.documents(s, dir))),

    "dedup_hot_spans" -> Query(Oracles.dedupHotSpans)((s, dir) =>
      Dedup.hotSpanRemoval(Tables.documents(s, dir))),

    "dsir_select" -> Query(Oracles.dsirSelect)((s, dir) =>
      Corpus.dsirSelect(Tables.documents(s, dir))),

    "scd2_user_state" -> Query(Oracles.scd2UserState)((s, dir) =>
      Analytics.scd2UserState(Tables.events(s, dir))),

    "dedup_ngram_jaccard" -> Query(Oracles.dedupNgramJaccard)((s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir))),

    "dedup_embedding" -> Query(Oracles.dedupEmbedding)((s, dir) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, dir))),

    "ann_bruteforce_topk" -> Query(Oracles.annBruteforceTopK)((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir))),

    "ann_filtered_topk" -> Query(Oracles.annFilteredTopK)((s, dir) =>
      Similarity.filteredTopK(Tables.embeddings(s, dir))),

    "ann_filtered_ivf_topk" -> Query(Oracles.annFilteredIvfTopK)((s, dir) =>
      Similarity.filteredIvfTopK(Tables.embeddings(s, dir))),

    "ann_recall_filtered" -> Query(Oracles.annRecallFiltered)((s, dir) =>
      Similarity.filteredIvfRecall(Tables.embeddings(s, dir))),

    "ann_adaptive_probe" -> Query(Oracles.annAdaptiveProbe)((s, dir) =>
      Similarity.adaptiveProbeBudget(Tables.embeddings(s, dir))),

    "ann_graph_search" -> Query(Oracles.annGraphSearch)((s, dir) =>
      Similarity.graphSearch(Tables.embeddings(s, dir))),

    "ann_beam_sweep" -> Query(Oracles.annBeamSweep)((s, dir) =>
      Similarity.graphBeamSweep(Tables.embeddings(s, dir))),

    "ann_ivfpq_residual_topk" -> Query(Oracles.annIvfPqResidualTopK)((s, dir) =>
      Similarity.ivfPqResidualTopK(Tables.embeddings(s, dir))),

    "ann_recall_ivfpq_residual" -> Query(Oracles.annRecallIvfpqResidual)((s, dir) =>
      Similarity.ivfPqResidualRecall(Tables.embeddings(s, dir))),

    "ann_recall_graph" -> Query(Oracles.annRecallGraph)((s, dir) =>
      Similarity.graphRecall(Tables.embeddings(s, dir))),

    "ann_filtered_graph" -> Query(Oracles.annFilteredGraph)((s, dir) =>
      Similarity.filteredGraphSearch(Tables.embeddings(s, dir))),

    "ann_recall_filtered_graph" -> Query(Oracles.annRecallFilteredGraph)((s, dir) =>
      Similarity.filteredGraphRecall(Tables.embeddings(s, dir))),

    "lm_ppl_buckets" -> Query(Oracles.lmPplBuckets)((s, dir) =>
      Search.lmPplBuckets(Tables.documents(s, dir))),

    "ann_lsh_topk" -> Query(Oracles.annLshTopK)((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir))),

    "ann_recall_lsh" -> Query(Oracles.annRecallLsh)((s, dir) =>
      Similarity.lshRecall(Tables.embeddings(s, dir))),

    "search_rrf_fusion" -> Query(Oracles.searchRrfFusion)((s, dir) =>
      Search.rrfFusion(Tables.documents(s, dir), Tables.embeddings(s, dir))),

    "search_mmr_rerank" -> Query(Oracles.searchMmrRerank)((s, dir) =>
      Similarity.mmrRerank(Tables.embeddings(s, dir))),

    "ann_ivf_topk" -> Query(Oracles.annIvfTopK)((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir))),

    "ann_ivf_trained_topk" -> Query(Oracles.annIvfTrainedTopK)((s, dir) =>
      Similarity.ivfTopKTrained(Tables.embeddings(s, dir))),

    "ann_recall_ivf" -> Query(Oracles.annRecallIvfTrained)((s, dir) =>
      Similarity.ivfTrainedRecall(Tables.embeddings(s, dir))),

    "ann_ndcg_ivf" -> Query(Oracles.annNdcgIvf)((s, dir) =>
      Similarity.ivfTrainedNdcg(Tables.embeddings(s, dir))),

    "ann_nprobe_sweep" -> Query(Oracles.annNprobeSweep)((s, dir) =>
      Similarity.ivfNprobeSweep(Tables.embeddings(s, dir))),

    "ann_nprobe_sweep_ivfpq" -> Query(Oracles.annNprobeSweepIvfPq)((s, dir) =>
      Similarity.ivfPqNprobeSweep(Tables.embeddings(s, dir))),

    "ann_ndcg_lsh" -> Query(Oracles.annNdcgLsh)((s, dir) =>
      Similarity.lshNdcg(Tables.embeddings(s, dir))),

    "search_ndcg_rrf" -> Query(Oracles.searchNdcgRrf)((s, dir) =>
      Search.rrfNdcg(Tables.documents(s, dir), Tables.embeddings(s, dir))),

    "ann_knn_graph" -> Query(Oracles.annKnnGraph)((s, dir) =>
      Similarity.knnGraph(Tables.embeddings(s, dir))),

    "contrastive_pairs" -> Query(Oracles.contrastivePairs)((s, dir) =>
      Similarity.contrastivePairs(Tables.embeddings(s, dir))),

    "embed_matryoshka_recall" -> Query(Oracles.annMatryoshkaRecall)((s, dir) =>
      Similarity.matryoshkaRecall(Tables.embeddings(s, dir))),

    "ann_recall_pq" -> Query(Oracles.annRecallPq)((s, dir) =>
      Similarity.pqRecall(Tables.embeddings(s, dir))),

    "ann_range_search" -> Query(Oracles.annRangeSearch)((s, dir) =>
      Similarity.rangeSearch(Tables.embeddings(s, dir))),

    "ann_pq_topk" -> Query(Oracles.annPqTopK)((s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir))),

    "ann_ivfpq_topk" -> Query(Oracles.annIvfPqTopK)((s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir))),

    "ann_sq_topk" -> Query(Oracles.annSqTopK)((s, dir) =>
      Similarity.sqTopK(Tables.embeddings(s, dir))),

    "ann_recall_sq" -> Query(Oracles.annRecallSq)((s, dir) =>
      Similarity.sqRecall(Tables.embeddings(s, dir))),

    "ann_recall_ivfpq" -> Query(Oracles.annRecallIvfPq)((s, dir) =>
      Similarity.ivfPqRecall(Tables.embeddings(s, dir))),

    "ann_index_compare" -> Query(Oracles.annIndexCompare)((s, dir) =>
      Similarity.indexCompare(Tables.embeddings(s, dir))),

    // ADC-vs-exact agreement of the CORPUS embedding index's two serving
    // paths on the SAME committed state
    "corpus_semantic_adc" -> Query(Oracles.corpusSemanticAdc)((s, dir) =>
      adcAgreement(s, dir, residual = false)),

    // metadata-filtered serving on the SAME at-rest index: per-query
    // adaptive probe budget from the persisted occupancy sidecars,
    // predicate-first candidate scan, exact cosine rank
    "corpus_filtered_topk" -> Query(Oracles.corpusFilteredTopK)((s, dir) =>
      Corpus.semanticTopKFiltered(s, corpusQueries(s, dir), corpusIndexState(s, dir))),

    // filtered AND code-served in one path: occupancy-budgeted probe,
    // candidates from the PQ codes (predicate via a column-pruned
    // cells read — no raw floats), exact re-rank on the shortlist only
    "corpus_filtered_adc" -> Query(Oracles.corpusFilteredAdc)((s, dir) =>
      Corpus.semanticTopKFilteredAdc(s, corpusQueries(s, dir), corpusIndexState(s, dir))),

    // two-column predicate conjunction on the declared (label, src)
    // occupancy — the multi-attribute filter real corpora serve
    "corpus_filtered_two_col" -> Query(Oracles.corpusFilteredTwoCol)((s, dir) =>
      Corpus.semanticTopKFilteredOn(s, corpusQueries(s, dir), corpusIndexState(s, dir),
        Map("label" -> 0, "src" -> 1))),

    // the residual-codebook twin of corpus_semantic_adc on its own
    // at-rest state: read next to corpus_semantic_adc's row, the
    // agreement delta IS the residual gain at the same code budget
    "corpus_adc_residual" -> Query(Oracles.corpusAdcResidual)((s, dir) =>
      adcAgreement(s, dir, residual = true)),

    "knn_classify" -> Query(Oracles.knnClassify)((s, dir) =>
      Similarity.knnClassify(Tables.embeddings(s, dir))),

    "label_centroids" -> Query(Oracles.labelCentroids)((s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir))),

    "topic_assign" -> Query(Oracles.topicAssign)((s, dir) =>
      Similarity.topicAssign(Tables.embeddings(s, dir))),

    "tfidf_top_terms" -> Query(Oracles.tfidfTopTerms)((s, dir) =>
      Search.tfidfTopTerms(Tables.documents(s, dir))),

    "bm25_search" -> Query(Oracles.bm25Search)((s, dir) =>
      Search.bm25Search(Tables.documents(s, dir))),

    // the in-memory BM25 oracle: the on-disk index must serve exactly the
    // scores of the in-memory search, so the hash match IS the proof
    "bm25_search_indexed" -> Query(Oracles.bm25Search) { (s, dir) =>
      // key by data dir AND index-format version: a layout change must
      // never silently serve an index built by older code
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_idx_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$dir#v1".getBytes("UTF-8")).map("%02x".format(_)).mkString
      // build-if-absent: testdata is immutable, so an existing index for
      // this dir is current — repeat invocations measure the QUERY path
      if (!new java.io.File(s"$idx/stats").exists())
        Search.buildIndex(Tables.documents(s, dir), idx)
      Search.searchIndexed(s, idx)
    },

    "bigram_lm" -> Query(Oracles.bigramLm)((s, dir) => Search.bigramLm(Tables.documents(s, dir))),

    "token_pmi" -> Query(Oracles.tokenPmi)((s, dir) => Search.tokenPmi(Tables.documents(s, dir))),

    "text_entropy" -> Query(Oracles.textEntropy)((s, dir) =>
      Corpus.textEntropy(Tables.documents(s, dir))),

    "bigram_kn_lm" -> Query(Oracles.bigramKnLm)((s, dir) =>
      Search.bigramKnLm(Tables.documents(s, dir))),

    "bpe_top_merges" -> Query(Oracles.bpeTopMerges)((s, dir) =>
      Search.bpeTopMerges(Tables.documents(s, dir))),

    "unigram_pieces" -> Query(Oracles.unigramPieces)((s, dir) =>
      Search.unigramPieces(s, Search.unigramLearn(Tables.documents(s, dir)))),

    "unigram_encode" -> Query(Oracles.unigramEncode) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Search.unigramEncode(docs, Search.unigramLearn(docs))
    },

    "unigram_fertility" -> Query(Oracles.unigramFertility) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Search.unigramFertility(docs, Search.unigramLearn(docs))
    },

    "text_normalize" -> Query(Oracles.textNormalize)((s, dir) =>
      Search.normalize(Tables.documents(s, dir))),

    "top_ngrams" -> Query(Oracles.topNgrams)((s, dir) =>
      Dedup.topShingles(Tables.documents(s, dir))),

    "events_funnel" -> Query(Oracles.eventsFunnel)((s, dir) =>
      Analytics.funnel(Tables.events(s, dir))),

    "events_window_funnel" -> Query(Oracles.eventsWindowFunnel)((s, dir) =>
      Analytics.windowFunnel(Tables.events(s, dir))),

    "cohort_retention" -> Query(Oracles.cohortRetention)((s, dir) =>
      Analytics.cohortRetention(Tables.events(s, dir))),

    "order_value_percentiles" -> Query(Oracles.orderValuePercentiles)((s, dir) =>
      Analytics.orderValuePercentiles(Tables.orders(s, dir))),

    // floor 0: the 30-day click window vs purchase set — no sf0.01 user
    // clicks without purchasing inside the window (4 real rows at sf0.1)
    "clickers_no_purchase" -> Query(Oracles.clickersNoPurchase, minRows = 0)((s, dir) =>
      Analytics.clickersWhoNeverPurchased(Tables.events(s, dir))),

    "user_channel_profile" -> Query(Oracles.userChannelProfile)((s, dir) =>
      Analytics.userChannelProfile(Tables.events(s, dir))),

    "events_rollup" -> Query(Oracles.eventsRollup)((s, dir) =>
      Analytics.eventsRollup(Tables.events(s, dir))),

    "events_pivot" -> Query(Oracles.eventsPivot)((s, dir) =>
      Analytics.eventsPivot(Tables.events(s, dir))),

    "events_cube" -> Query(Oracles.eventsCube)((s, dir) =>
      Analytics.eventsCube(Tables.events(s, dir))),

    "events_grouping_sets" -> Query(Oracles.eventsGroupingSets)((s, dir) =>
      Analytics.eventsGroupingSets(Tables.events(s, dir))),

    "clickers_who_purchased" -> Query(Oracles.clickersWhoPurchased)((s, dir) =>
      Analytics.clickersWhoPurchased(Tables.events(s, dir))),

    "events_dow_hour_heatmap" -> Query(Oracles.eventsDowHourHeatmap)((s, dir) =>
      Analytics.eventsDowHourHeatmap(Tables.events(s, dir))),

    "events_daily_dense" -> Query(Oracles.eventsDailyDense)((s, dir) =>
      Analytics.eventsDailyDense(Tables.events(s, dir))),

    "orders_moving_avg" -> Query(Oracles.ordersMovingAvg)((s, dir) =>
      Analytics.ordersMovingAvg(Tables.orders(s, dir))),

    "orders_yoy_growth" -> Query(Oracles.ordersYoyGrowth)((s, dir) =>
      Analytics.yoyGrowth(Tables.orders(s, dir))),

    "orders_abc_pareto" -> Query(Oracles.ordersAbcPareto)((s, dir) =>
      Analytics.abcClassification(Tables.orders(s, dir))),

    "text_langid" -> Query(Oracles.textLangid)((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        col("lang").as("declared_lang"),
        TextFunctions.stopwordHits(col("text")).as("stop_hits"),
        TextFunctions.langId(col("text")).as("predicted_lang"))
        .orderBy("doc_id")),

    "text_quality" -> Query(Oracles.textQuality)((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.uniqueRatio(col("text")).as("unique_ratio"),
        TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality_score"))
        .orderBy("doc_id")),

    "token_count" -> Query(Oracles.tokenCount)((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("ws_tokens"),
        TextFunctions.bpeTokenCount(col("text")).as("bpe_tokens"),
        TextFunctions.subwordEstimate(col("text")).as("subword_estimate"))
        .orderBy("doc_id")),

    "doc_fingerprint" -> Query(Oracles.docFingerprint)((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fingerprint"),
        substring(TextFunctions.fingerprint(col("text")), 1, 8).as("fp_bucket"))
        .orderBy("doc_id")),

    "text_repetition" -> Query(Oracles.textRepetition)((s, dir) =>
      Corpus.repetitionMetrics(Tables.documents(s, dir))),

    "multimodal_meta" -> Query(Oracles.multimodalMeta)((s, dir) =>
      Multimodal.metadata(Tables.documents(s, dir))),

    "multimodal_ahash" -> Query(Oracles.multimodalAhash)((s, dir) =>
      Multimodal.aHashes(Tables.documents(s, dir))),

    "multimodal_dhash" -> Query(Oracles.multimodalDhash)((s, dir) =>
      Multimodal.dHashes(Tables.documents(s, dir))),

    // floor 0: 64-bit perceptual-hash near-dup pairs — the sf0.01 image
    // slice has no pair within the Hamming radius (7 real pairs at sf0.1);
    // the brightness-perturbed golden spec pins the matching semantics
    "multimodal_phash_neardup" -> Query(Oracles.multimodalPhashNeardup, minRows = 0)((s, dir) =>
      Multimodal.imageNearDup(Tables.documents(s, dir))),

    "multimodal_frame_sample" -> Query(Oracles.multimodalFrameSample)((s, dir) =>
      Multimodal.frameSample(Tables.documents(s, dir))),

    "multimodal_features" -> Query(Oracles.multimodalFeatures) { (s, dir) =>
      // Scalar-only projection (f0..f15 instead of the array column): the
      // driver's compare harness sorts/hashes every column, and array
      // cells are unhashable there.
      val feat = Multimodal.features(s, Tables.documents(s, dir)).toDF()
      val featCols = (0 until 16).map(i => col("features")(i).as(s"f$i"))
      feat.select(
        Seq(col("doc_id"), col("byte_len"), col("format"),
          col("width"), col("height"), col("sample_rate"), col("n_channels"),
          col("bit_depth"), col("pcm_peak")) ++ featCols: _*)
        .orderBy("doc_id")
    },

    "events_session_window" -> Query(Oracles.eventsSessionWindow)((s, dir) =>
      Analytics.sessionWindow(Tables.events(s, dir))),

    "stream_windowed_counts" -> Query(Oracles.streamWindowedCounts)((s, dir) =>
      Tables.events(s, dir)
        .withColumn("event_ts", timestamp_micros(col("ts_us")))
        .groupBy(window(col("event_ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")),

    "q1_pricing_summary" -> Query(Oracles.q1PricingSummary)((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          (dsum(col("l_quantity")) / count(lit(1)).cast("double")).as("avg_qty"),
          (dsum(col("l_extendedprice")) / count(lit(1)).cast("double")).as("avg_price"),
          (dsum(col("l_discount")) / count(lit(1)).cast("double")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"))
  )
}
