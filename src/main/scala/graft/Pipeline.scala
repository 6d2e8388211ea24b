package graft

import graft.operators.{IhcAttribution, Journeys, Reporting}
import graft.sources.{Layout, Manifest, Tables}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** End-to-end pipeline runner with persisted, idempotent, CRASH-CONSISTENT
  * write-back — the Spark analog of the reference's orchestration
  * (`main.py:299-378`), incremental re-run contract (`db_utils.py:260-302`)
  * and transactional storage (`db_utils.py:185-225`: SQLite runs the
  * multi-row insert under one transaction; a crashed run publishes
  * nothing). Each run attributes ONLY conversions not yet present in the
  * persisted attribution state, stages the delta, and publishes
  * atomically; a re-run with no new data is a no-op, and a run after new
  * days of events attributes exactly the delta, bit-identical to a
  * from-scratch run (spec-tested in PipelineSpec, including an
  * aborted-between-writes crash run).
  *
  * Why the delta is consistent with from-scratch: a user's journeys
  * depend on nothing outside the user, and greedy assignment gives each
  * session to the EARLIEST later conversion, so conversions arriving
  * later can never steal sessions from already-attributed journeys — the
  * restriction to missing conversions commutes with assignment. (The
  * reference gets the same property from its chronological processing
  * order, `journey_builder.py:45-105`.)
  *
  * What a run costs: the attribution and its writes are O(delta), the
  * report fold O(|channels|·|dates| + delta); the extract scans are
  * O(history). On the default layout each
  * run scans the whole events history three times — once in the
  * missing-set collect and twice in the assignment job (with the
  * benchmark's 50,000 events: 50,000 rows and 100,000 rows).
  *   - assignment input is restricted to the users owning a missing
  *     conversion BEFORE the journey window runs (exact, by per-user
  *     independence) — a daily run attributes the day's users, not every
  *     user ever seen;
  *   - the channel report is maintained incrementally: the run folds only
  *     its staged delta rows, which carry their own date, cost and
  *     revenue, into the committed exact-decimal `report_base` state by
  *     (channel, date) in one aggregate — bit-identical to re-aggregating
  *     all history, at O(|channels|·|dates| + delta) cost;
  *   - the committed row total rides in manifest METADATA, so no run ever
  *     re-scans prior attribution dirs (spec-proven: PipelineSpec hides
  *     run 1's attribution data and run 2 still succeeds).
  *
  * Crash consistency (write–audit–publish): run N stages FRESH uniquely
  * tagged directories
  *   - `attribution/<tag>/` — the delta rows (conv_id, session_id,
  *     channel_name, ihc); the analog of the reference's
  *     `attribution_customer_journey` table (`challenge_db_create.sql`).
  *     Each row also carries its report inputs (event_date, cost,
  *     revenue); the public readers project the four attribution columns.
  *   - `processed_conversions/<tag>/` — the manifest of conv_ids this run
  *     attributed (tracked for ALL conversions incl. journeyless ones).
  *   - `report_base/<tag>/` — the folded exact-decimal report state, one
  *     file sorted by (channel, date). The channel report
  *     (`reporting.py:105-168`) is a pure render of it, done on read by
  *     [[report]]; `graft.Main --output_path` writes it as the reference's
  *     single CSV.
  * and then publishes all three in ONE atomic [[graft.sources.Manifest]]
  * version (attribution/processed accumulate across runs; the report
  * base replaces the previous run's). Readers resolve the live set from
  * the manifest, so a crash at ANY point before the publish leaves the
  * observable state bit-identical to "run never happened"; the next run
  * deletes the orphan staged dirs and recomputes the same delta. This is
  * the same run-level atomicity SQLite gives the reference, on top of
  * plain parquet directories. A run with NOTHING to attribute publishes
  * nothing at all, so idempotent re-runs do not grow the live-dir list.
  *
  * Concurrency: the publish is a manifest CAS — two racing runs cannot
  * corrupt state; the loser fails cleanly with its competitor's commit
  * intact (re-running attributes whatever remains). Each run holds a
  * [[graft.sources.Manifest.Lease]] across staging+publish, so one run's
  * recovery vacuum never deletes a concurrent run's in-flight staging
  * with the DEFAULT configuration (no grace-period tuning required).
  *
  * Scale notes: the manifest is driver-side metadata (bytes per run, never
  * row data). The delta's (conv_id, user_id) pairs are held on the driver:
  * delta-sized, as a broadcast of them would be. Everything else is the
  * same shuffle-minimal plans as the query surface.
  *
  * Job budget: at daily-delta size a run's latency is set by per-job
  * scheduling and planning, not by compute, so a delta run launches at
  * most 7 Spark jobs and a no-op re-run at most 2, none of them a schema
  * inference (asserted in PipelineSpec). On the default layout a delta
  * run takes 7:
  *   - 0 to resolve schemas: the `events` footer is read on the driver
  *     and state dirs are read with their known DDLs;
  *   - 2 to select the missing conversions: the broadcast of the processed
  *     ids and the collect of the missing (conv_id, user_id) pairs, which
  *     also observes the candidate count (the first run, with no processed
  *     ids, skips the broadcast);
  *   - 2 for the staged delta: the per-user assignment shuffle and the
  *     write, which observes the row count that enters the committed
  *     total — the flag and IHC windows key on (user_id, conv_id), so they
  *     run in the assignment's partitions, and the delta's users and
  *     conversions restrict it as literal filters, with no broadcast job
  *     (on the bucketed layout the staged delta has no exchange at all);
  *   - 1 for the processed-conversions write, from the driver-held ids;
  *   - 2 for the report base: the shuffle of the one aggregate that folds
  *     the staged delta into the committed base, and the write.
  * The first run, with no processed ids, takes 6. A no-op re-run is the
  * missing-conversion selection's two jobs. An OCC retry adds a read of
  * the race winner's ids among this run's, the two re-staging writes if
  * they overlap, and the report base's two re-fold jobs.
  */
object Pipeline {

  final case class RunSummary(
      candidateConversions: Long,
      newConversions: Long,
      newRows: Long,
      totalRows: Long)

  // the vacuum sweeps also name `report` and `channel_reporting_csv`: state
  // published when the report was staged beside its base still has them,
  // and the first run after it deletes them once it publishes
  private val StateTables =
    Seq("attribution", "processed_conversions", "report_base", "report",
      "channel_reporting_csv")

  /** Manifest metadata key: committed attribution row count. Carried in
    * the manifest so re-runs learn the persisted total without scanning
    * any attribution data. */
  private val RowsKey = "attribution_rows"

  /** Test-only failpoints: throw at a specific point inside [[run]] to
    * simulate a crash between state writes (PipelineSpec proves reads see
    * only complete runs and the re-run converges). */
  private[graft] final case class InjectedCrash(point: String)
    extends RuntimeException(s"injected crash at $point")

  private def dirsOf(live: Seq[String], stateDir: String, table: String): Seq[String] =
    live.filter(_.startsWith(table + "/")).map(rel => s"$stateDir/$rel")

  /** State dirs are read with the schema the pipeline wrote them with, so
    * no read runs a footer-inference job; no dirs gives an empty frame of
    * that schema. */
  private def readDirsOrEmpty(
      spark: SparkSession, dirs: Seq[String], ddl: String): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    if (dirs.nonEmpty) spark.read.schema(schema).parquet(dirs: _*)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  private def readLiveOrEmpty(
      spark: SparkSession, stateDir: String, table: String, ddl: String): DataFrame =
    readDirsOrEmpty(spark, dirsOf(Manifest.live(spark, stateDir), stateDir, table), ddl)

  // the schemas of the state tables, as the pipeline writes them
  private val AttributionDdl =
    "conv_id BIGINT, session_id BIGINT, channel_name STRING, ihc DOUBLE"
  // a run stages its delta with the row's report inputs beside the
  // attribution columns; readers of the persisted table project the DDL
  // above, and compaction writes it
  private val StagedAttributionDdl =
    AttributionDdl + ", event_date DATE, cost DOUBLE, revenue DOUBLE"
  private val StagedColumns = StructType.fromDDL(StagedAttributionDdl).fieldNames.toSeq
  private val ProcessedDdl = "conv_id BIGINT"
  private val ReportBaseDdl =
    "channel_name STRING, date DATE, cost DECIMAL(38,6), ihc DECIMAL(38,6), " +
      "ihc_revenue DECIMAL(38,6)"

  /** The persisted attribution table (union of all committed run deltas),
    * or an empty frame with the right schema before the first publish. */
  def persistedAttribution(spark: SparkSession, stateDir: String): DataFrame =
    readLiveOrEmpty(spark, stateDir, "attribution", AttributionDdl)

  /** The processed-conversions manifest. The reference re-derives "already
    * attributed" from the attribution table itself (`db_utils.py:260-302`),
    * which re-submits journeyless conversions on every run — harmless there,
    * but at warehouse scale "processed" must be tracked for ALL conversions,
    * including those that produced zero journey rows, or the daily delta
    * never shrinks to zero. */
  def processedConversions(spark: SparkSession, stateDir: String): DataFrame =
    readLiveOrEmpty(spark, stateDir, "processed_conversions", ProcessedDdl)

  /** The committed channel report (CPO/ROAS) of the latest successful run,
    * rendered from its `report_base` state: one partition sorted by
    * (channel, date). */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    Reporting.withMetrics(Reporting.fromReportBase(
      readLiveOrEmpty(spark, stateDir, "report_base", ReportBaseDdl)))
      .coalesce(1).sortWithinPartitions("channel_name", "date")

  // ---- bucketed extract: the 100 TB deployment layout ----
  // Journey assignment is the pipeline's one big shuffle (every session +
  // every conversion re-hashed by user_id per run). Persisting both
  // extracts bucketed by user_id once makes that shuffle disappear from
  // EVERY subsequent run: the bucket-aligned union (BucketUnion) preserves
  // the scan partitioning so the per-user window needs only a sort — the
  // production runner plans the assign subtree with zero exchanges
  // (asserted in PipelineSpec). Bucket metadata needs a catalog entry, so
  // the tables get session-scoped names derived from the state dir.

  // full-width md5 of the path, not String.hashCode: a 32-bit collision
  // between two state dirs would silently serve the other pipeline's
  // extracts from the catalog
  private[graft] def bucketedName(stateDir: String, table: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(stateDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"graft_pipe_${table}_$digest"
  }

  /** Persist the sessions/conversions extracts PARTITIONED BY DATE and
    * bucketed by user_id under `stateDir/bucketed/` (one-time layout cost;
    * re-run to refresh after new raw data lands).
    *
    * The two dimensions serve the two access patterns: date partitioning
    * means a date-windowed run (`endDate`, reporting windows) PRUNES
    * FILES — a 1-day window reads one day's directories, not all of
    * history (asserted by scanned-file count in PipelineSpec) — while
    * user bucketing keeps journey assignment shuffle-free (the bucketed
    * scan merges each bucket's files across date partitions, so the scan
    * still reports user_id hash partitioning). At 100 TB this is the
    * difference between a daily run scanning a day and scanning years.
    * Sessions are persisted with their cost
    * ([[graft.sources.Tables.deriveCostedSessions]]), so a run over this
    * layout never reads the raw events. */
  def prepareBucketed(
      spark: SparkSession, sfDir: String, stateDir: String, nBuckets: Int = 8): Unit = {
    Tables.deriveCostedSessions(Tables.events(spark, sfDir)).write.mode("overwrite")
      .partitionBy("event_date")
      .bucketBy(nBuckets, "user_id").sortBy("user_id")
      .option("path", s"$stateDir/bucketed/sessions")
      .saveAsTable(bucketedName(stateDir, "sessions"))
    Tables.conversions(spark, sfDir).write.mode("overwrite")
      .partitionBy("conv_date")
      .bucketBy(nBuckets, "user_id").sortBy("user_id")
      .option("path", s"$stateDir/bucketed/conversions")
      .saveAsTable(bucketedName(stateDir, "conversions"))
  }

  private def hasBucketed(spark: SparkSession, stateDir: String): Boolean =
    spark.catalog.tableExists(bucketedName(stateDir, "sessions")) &&
      spark.catalog.tableExists(bucketedName(stateDir, "conversions"))

  /** The extract a run reads. The SAME extract feeds candidate selection
    * and assignment — if the bucketed layout exists, both use it (mixing a
    * stale bucketed extract with a fresh raw one could mark conversions
    * processed without attributing them). Events are read once:
    * conversions and sessions are projections of that one read. Sessions
    * carry their own `cost`, so an assigned row holds every input of its
    * report row (`event_date`, `cost`, `revenue`).
    *
    * `[startDate, endDate]` mirrors the reference's conversion extract
    * window (db_utils.py:67-103); the filters keep the bucketed scan's
    * bucketing AND prune its date partitions at the file level. Sessions
    * intentionally stay UNwindowed: journeys need the full pre-conversion
    * touch history, and the reference's session-window truncation silently
    * drops pre-window touches from journeys — a shape A3's semantics
    * reject. */
  private final class Extract(
      spark: SparkSession, sfDir: String, stateDir: String,
      startDate: Option[String], endDate: Option[String]) {
    private val bucketed = hasBucketed(spark, stateDir)
    private lazy val events = Tables.events(spark, sfDir)
    val conversions: DataFrame = Seq(
      startDate.map(d => col("conv_date") >= lit(d).cast("date")),
      endDate.map(d => col("conv_date") <= lit(d).cast("date"))
    ).flatten.foldLeft(
      if (bucketed) spark.table(bucketedName(stateDir, "conversions"))
      else Tables.deriveConversions(events))(_ filter _)
    private val sessions: DataFrame =
      if (bucketed) spark.table(bucketedName(stateDir, "sessions"))
      else Tables.deriveCostedSessions(events)

    /** Flagged journeys of the windowed conversions, optionally restricted
      * to the users `onlyUsers` lists. The restriction is a literal `IN`
      * filter on both inputs: it reaches the scans (and prunes a bucketed
      * scan's buckets) and adds no exchange and no broadcast job. */
    def assigned(onlyUsers: Option[Seq[Long]]): DataFrame = {
      def scoped(df: DataFrame) =
        onlyUsers.fold(df)(u => df.filter(col("user_id").isInCollection(u)))
      Journeys.flagConversion(
        if (bucketed) Journeys.assignBucketed(scoped(sessions), scoped(conversions))
        else Journeys.assign(scoped(sessions), scoped(conversions)))
    }
  }

  /** The flagged journey assignment exactly as [[run]] computes it —
    * bucketed (exchange-free assign) when [[prepareBucketed]] has run,
    * standard otherwise — with each session's `cost`. Exposed so
    * callers/specs can audit the plan. */
  def assignedJourneys(
      spark: SparkSession, sfDir: String, stateDir: String,
      endDate: Option[String],
      startDate: Option[String] = None): DataFrame =
    new Extract(spark, sfDir, stateDir, startDate, endDate).assigned(None)

  /** One incremental run: extract (optionally bounded by `endDate`, the
    * reference's date-range re-run; from the bucketed layout when
    * [[prepareBucketed]] has built it), attribute the not-yet-persisted
    * conversions, stage, publish atomically, and report.
    *
    * @param staleGraceMs extra orphan-retention window for the recovery
    *                     sweep. Concurrent runs need NO tuning — every run
    *                     holds a vacuum [[graft.sources.Manifest.Lease]]
    *                     shielding its in-flight staging; a positive grace
    *                     additionally protects dirs staged outside this
    *                     API (defense-in-depth) */
  def run(
      spark: SparkSession,
      sfDir: String,
      stateDir: String,
      endDate: Option[String] = None,
      staleGraceMs: Long = 0L,
      startDate: Option[String] = None): RunSummary =
    runImpl(spark, sfDir, stateDir, endDate, crashPoint = None,
      staleGraceMs = staleGraceMs, startDate = startDate)

  /** The vacuum lease's time to live; a run renews it at its stage
    * boundaries once half of it has passed. */
  private val LeaseTtlMs = 15 * 60 * 1000L

  /** @param atBoundary test hook called at each stage boundary (with its
    *                   name), before the boundary's failpoint and lease
    *                   heartbeat */
  private[graft] def runImpl(
      spark: SparkSession,
      sfDir: String,
      stateDir: String,
      endDate: Option[String],
      crashPoint: Option[String],
      staleGraceMs: Long = 0L,
      beforePublish: () => Unit = () => (),
      startDate: Option[String] = None,
      atBoundary: String => Unit = _ => (),
      leaseTtlMs: Long = LeaseTtlMs): RunSummary = {
    // Vacuum lease held for the whole run: acquired BEFORE any staging, so
    // a concurrent run's recovery sweep skips every dir this run stages
    // (no grace-period tuning); released however the run exits. A hard
    // kill leaves the lease to expire on its TTL, after which the
    // leftovers become vacuumable.
    val lease = Manifest.acquireLease(spark, stateDir,
      s"run_${java.util.UUID.randomUUID().toString.take(12)}", leaseTtlMs)
    try runLeased(spark, sfDir, stateDir, lease, leaseTtlMs, endDate, staleGraceMs,
      beforePublish, startDate, boundary = p => {
        atBoundary(p)
        if (crashPoint.contains(p)) throw InjectedCrash(p)
      })
    finally Manifest.releaseLease(spark, stateDir, lease)
  }

  /** `action` run on `df` with the frame's row count observed by the same
    * Spark job, so the count costs no job of its own. The observation sits
    * at the top of the plan, in the action's result stage, whose
    * accumulator updates Spark applies once per partition even when tasks
    * are retried: the count is exact. */
  private def counted[T](df: DataFrame)(action: DataFrame => T): (T, Long) = {
    val rows = Observation()
    val out = action(df.observe(rows, count(lit(1)).as("rows")))
    (out, rows.get("rows").asInstanceOf[Long])
  }

  private def runLeased(
      spark: SparkSession,
      sfDir: String,
      stateDir: String,
      acquired: Manifest.Lease,
      leaseTtlMs: Long,
      endDate: Option[String],
      staleGraceMs: Long,
      beforePublish: () => Unit,
      startDate: Option[String],
      boundary: String => Unit): RunSummary = {
    // Stage boundary: the failpoint, then the lease heartbeat. The lease is
    // renewed only once more than half its TTL has passed, so a short run
    // does no lease I/O, and never once it has expired or is no longer
    // held: renewing would re-create a reaped lease's file and let the
    // pre-publish fence pass over vacuumed staging.
    var lease = acquired
    def stageDone(p: String): Unit = {
      boundary(p)
      val now = System.currentTimeMillis()
      if (lease.expiresMs - now < leaseTtlMs / 2 && now < lease.expiresMs &&
        Manifest.holdsLease(spark, stateDir, lease))
        lease = Manifest.renewLease(spark, stateDir, lease, leaseTtlMs)
    }
    def staged(table: String, tag: String, ddl: String): DataFrame =
      readDirsOrEmpty(spark, Seq(s"$stateDir/$table/$tag"), ddl)
    // the processed-conversions stage: one file of the ids, in their order
    def processed(convIds: Seq[Long]): DataFrame =
      spark.createDataFrame(convIds.map(Row(_)).asJava, StructType.fromDDL(ProcessedDdl))
        .coalesce(1)

    val extract = new Extract(spark, sfDir, stateDir, startDate, endDate)

    // crash recovery: staged dirs no manifest references are leftovers of
    // an aborted run — readers never saw them; delete and re-stage.
    Manifest.cleanStale(spark, stateDir, StateTables, staleGraceMs)
    val snap = Manifest.snapshot(spark, stateDir)
    // committed total from manifest METADATA — not a scan of history
    val previousTotal = snap.meta.get(RowsKey).map(_.toLong).getOrElse(0L)

    // One job selects the missing conversions onto the driver and observes
    // the candidates' count: no count() job. The (conv_id, user_id) pairs
    // are delta-sized — a broadcast of them would be collected to the
    // driver all the same — and, held here, they restrict the assignment
    // and the delta as literal filters, with no broadcast job. (The
    // candidate count is observed below the anti-join, where the plan may
    // put it in a shuffle stage: it is informational and never enters the
    // committed total.)
    val candidates = Observation()
    val missing = Reporting
      .missingConversions(extract.conversions.observe(candidates, count(lit(1)).as("rows")),
        readDirsOrEmpty(spark, dirsOf(snap.live, stateDir, "processed_conversions"),
          ProcessedDdl))
      .select("conv_id", "user_id").collect()
    val candidateConversions = candidates.get("rows").asInstanceOf[Long]
    if (missing.isEmpty)
      // idempotent no-op: publish NOTHING — re-runs must not grow the
      // live-dir list (and the committed report already covers this state)
      return RunSummary(candidateConversions, 0L, 0L, previousTotal)
    var convIds: Seq[Long] = missing.map(_.getLong(0)).toSeq
    stageDone("after_missing_selection")

    // ---- O(delta) assignment ----
    // Only users owning a missing conversion can contribute delta rows, and
    // a user's assignment depends on nothing outside the user — so restrict
    // BOTH inputs to those users (keeping ALL their conversions: earlier,
    // already-attributed ones must still claim their sessions) and compute
    // journeys for delta users only; then keep the missing conversions'
    // rows. Both filters keep the bucketed layout's exchange-free plan.
    val assignedDelta = extract.assigned(Some(missing.map(_.getLong(1)).distinct.toSeq))

    def freshTag(v: Long) = s"r${v}_${java.util.UUID.randomUUID().toString.take(8)}"
    var tag = freshTag(snap.alloc + 1)
    // the staged rows carry their report inputs beside the attribution
    // columns; every public reader projects the attribution DDL
    val delta = IhcAttribution
      .attribute(assignedDelta)
      .filter(col("conv_id").isInCollection(convIds))
      .select(StagedColumns.map(col): _*)

    // ---- stage (fresh uniquely-tagged dirs; nothing live is touched) ----
    // the write counts its own rows for the committed total
    var newRows = counted(delta)(_.write.parquet(s"$stateDir/attribution/$tag"))._2
    stageDone("after_attribution_stage")
    processed(convIds).write.parquet(s"$stateDir/processed_conversions/$tag")
    stageDone("after_processed_stage")

    // ---- O(delta) report ----
    // ONE aggregate folds the staged delta into the committed decimal
    // report state by (channel, date): O(|channels|·|dates| + delta),
    // bit-identical to re-aggregating all history (exact decimal sums). It
    // reads what was actually staged — no double evaluation of the delta
    // DAG, and NO read of any prior run's attribution data. The base gets
    // its own tag so an OCC retry can re-fold against a race winner's base
    // without re-staging the delta.
    var reportTag: String = null
    def stageReport(v: Long, committedBase: DataFrame): Unit = {
      reportTag = freshTag(v)
      // (channel, date) keys are unique, so one partition sorted by them is
      // the state in the report's final order
      Reporting.foldReportBase(committedBase,
        staged("attribution", tag, StagedAttributionDdl))
        .coalesce(1).sortWithinPartitions("channel_name", "date")
        .write.parquet(s"$stateDir/report_base/$reportTag")
    }
    stageReport(snap.alloc + 1,
      readDirsOrEmpty(spark, dirsOf(snap.live, stateDir, "report_base"), ReportBaseDdl))
    stageDone("before_publish")
    beforePublish()

    // ---- publish: one atomic manifest CAS makes all three dirs live ----
    // (attribution/processed accumulate; report_base replaces).
    // Racing runs SERIALIZE: the loser re-reads the winner's snapshot,
    // drops any conversions the winner already attributed from its staged
    // delta, re-folds the report on the winner's base, and retries — so
    // both commits land and no conversion is attributed twice, matching
    // SQLite's serialized-writers contract in the reference.
    var snapNow = snap
    var attempts = 0
    var committedTotal = -1L
    while (committedTotal < 0) {
      // FENCE before every publish attempt: a run that outlived its lease
      // may have had its staged dirs vacuumed by a concurrent run's sweep,
      // and publishing would then name deleted directories. Abort instead;
      // the next run recomputes the same delta.
      if (!Manifest.holdsLease(spark, stateDir, lease))
        throw new java.io.IOException(
          s"pipeline run lease ${lease.owner} at $stateDir was reaped before " +
            "publish (its staged dirs may have been vacuumed); aborting without publishing")
      val total = snapNow.meta.get(RowsKey).map(_.toLong).getOrElse(0L) + newRows
      val accumulated = snapNow.live.filter(e =>
        e.startsWith("attribution/") || e.startsWith("processed_conversions/"))
      Manifest.tryPublish(spark, stateDir, snapNow,
        accumulated ++ Seq(
          s"attribution/$tag", s"processed_conversions/$tag",
          s"report_base/$reportTag"),
        snapNow.meta + (RowsKey -> total.toString)) match {
        case Some(_) => committedTotal = total
        case None =>
          attempts += 1
          if (attempts >= 8)
            throw new java.io.IOException(
              s"pipeline run lost $attempts consecutive publish races at $stateDir")
          val next = Manifest.snapshot(spark, stateDir)
          val winnersProcessed = dirsOf(next.live, stateDir, "processed_conversions")
            .diff(dirsOf(snapNow.live, stateDir, "processed_conversions"))
          if (winnersProcessed.nonEmpty) {
            // the winner's conversions among ours (read on this path only)
            val taken = readDirsOrEmpty(spark, winnersProcessed, ProcessedDdl)
              .filter(col("conv_id").isInCollection(convIds))
              .collect().map(_.getLong(0)).toSet
            if (taken.nonEmpty) {
              val still = convIds.filterNot(taken)
              if (still.isEmpty)
                // the winner attributed our whole delta: this run is a no-op
                return RunSummary(candidateConversions, 0L, 0L,
                  next.meta.get(RowsKey).map(_.toLong).getOrElse(0L))
              // drop the overlap; the remaining rows are exact (assignment
              // was computed per-user over the full conversion set)
              val stagedDelta = staged("attribution", tag, StagedAttributionDdl)
              tag = freshTag(next.alloc + 1)
              newRows = counted(stagedDelta.filter(col("conv_id").isInCollection(still)))(
                _.write.parquet(s"$stateDir/attribution/$tag"))._2
              processed(still).write.parquet(s"$stateDir/processed_conversions/$tag")
              convIds = still
            }
          }
          // the winner replaced report_base: re-fold our delta onto it
          stageReport(next.alloc + 1,
            readDirsOrEmpty(spark, dirsOf(next.live, stateDir, "report_base"), ReportBaseDdl))
          stageDone("retry_staged")
          snapNow = next
      }
    }
    // post-publish vacuum: the previous run's report base (and any
    // superseded retry staging) just became unreferenced — delete them now
    // rather than leaving garbage for the next run's recovery sweep.
    Manifest.cleanStale(spark, stateDir, StateTables, staleGraceMs)

    // self-compaction: attribution/processed dirs accumulate one per run;
    // past the bound, fold them into one clustered batch each so the read
    // fan-out (and manifest size) stays flat across unlimited daily runs
    if (Manifest.live(spark, stateDir).count(_.startsWith("attribution/")) > MaxLiveRuns)
      compactState(spark, stateDir)

    RunSummary(candidateConversions, convIds.size, newRows, committedTotal)
  }

  /** Live accumulated-dir bound before [[runImpl]] self-compacts. */
  private val MaxLiveRuns = 16

  /** Compact the accumulated per-run `attribution/` and
    * `processed_conversions/` dirs into ONE clustered batch each —
    * the pipeline twin of [[graft.operators.Corpus.compactCorpus]].
    * Readers only ever see manifest-committed state: the compacted dirs
    * are staged first, then one OCC merge swaps them for the inputs, so
    * a racing run's concurrently published delta survives (the merge
    * keeps any live entry that was not a compaction input). Clustering by
    * conv_id keeps the processed-conversion anti-join and incremental
    * reads key-local after compaction. */
  def compactState(spark: SparkSession, stateDir: String, nFiles: Int = 4): Unit = {
    val snap = Manifest.snapshot(spark, stateDir)
    val attDirs = snap.live.filter(_.startsWith("attribution/"))
    val prcDirs = snap.live.filter(_.startsWith("processed_conversions/"))
    if (attDirs.length <= 1 && prcDirs.length <= 1) return
    val tag = s"c${snap.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
    if (attDirs.nonEmpty)
      Layout.writeClustered(
        readDirsOrEmpty(spark, attDirs.map(d => s"$stateDir/$d"), AttributionDdl),
        s"$stateDir/attribution/$tag", Seq("conv_id"), nFiles)
    if (prcDirs.nonEmpty)
      Layout.writeClustered(
        readDirsOrEmpty(spark, prcDirs.map(d => s"$stateDir/$d"), ProcessedDdl),
        s"$stateDir/processed_conversions/$tag", Seq("conv_id"), nFiles)
    val inputs = (attDirs ++ prcDirs).toSet
    Manifest.publishMerge(spark, stateDir) { cur =>
      (cur.live.filterNot(inputs) ++
        (if (attDirs.nonEmpty) Seq(s"attribution/$tag") else Nil) ++
        (if (prcDirs.nonEmpty) Seq(s"processed_conversions/$tag") else Nil),
        cur.meta)
    }
  }
}
