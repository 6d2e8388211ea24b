package graft

import java.nio.file.Files

import graft.operators.{IhcAttribution, Journeys}
import graft.sources.{Manifest, Tables}
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** End-to-end pipeline runner: persisted write-back, idempotent re-runs,
  * incremental delta bit-identical to from-scratch (reference
  * `main.py:299-378`, `db_utils.py:260-302`), and run-level crash
  * consistency (the SQLite-transaction analog, `db_utils.py:185-225`). */
class PipelineSpec extends SparkSpec with SparkJobs {

  private val stateTables =
    Seq("attribution", "processed_conversions", "report_base", "report",
      "channel_reporting_csv")

  private def rows(df: DataFrame): Seq[(Long, Long, String, Double)] =
    df.select("conv_id", "session_id", "channel_name", "ihc")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
      .toSeq

  /** A job outside any SQL execution: in a pipeline run, only a parquet
    * read without a schema (footer inference) launches one. */
  private def isInference(j: SparkListenerJobStart): Boolean =
    Option(j.properties).forall(_.getProperty("spark.sql.execution.id") == null)

  /** Per-run job budget: a delta run launches at most 7 jobs, the first
    * run at most 6 and a no-op run at most 2, and no read infers its
    * schema (events' is read from its footer on the driver, state dirs are
    * read with their known schemas). */
  private def assertJobBudget(jobs: Seq[SparkListenerJobStart], budget: Int): Unit = {
    info(s"${jobs.size} jobs (budget $budget)")
    assert(jobs.size <= budget, s"${jobs.size} jobs, budget $budget")
    val inferred = jobs.filter(isInference)
    assert(inferred.isEmpty, "a read inferred its schema:\n" +
      inferred.flatMap(_.stageInfos.map(_.details)))
  }

  private def conversionsUpTo(endDate: Option[String]): DataFrame =
    endDate.foldLeft(Tables.conversions(spark, sfDir))((c, d) =>
      c.filter(col("conv_date") <= lit(d).cast("date")))

  private def fromScratch: DataFrame =
    IhcAttribution.attribute(
      Journeys.flagConversion(
        Journeys.assign(Tables.sessions(spark, sfDir), Tables.conversions(spark, sfDir))))

  test("pipeline: first run persists, re-run is a no-op, delta run matches from-scratch") {
    val stateDir = Files.createTempDirectory("graft-pipeline").toString

    // run 1: only conversions up to Jan 15
    val (s1, jobs1) = jobsOf(Pipeline.run(spark, sfDir, stateDir, endDate = Some("2024-01-15")))
    assert(s1.newConversions > 0)
    assert(s1.newRows > 0)
    assert(s1.totalRows === s1.newRows)
    assertJobBudget(jobs1, 6)
    // the observed counts equal direct counts of the same inputs
    assert(s1.candidateConversions === conversionsUpTo(Some("2024-01-15")).count())
    assert(s1.newConversions === s1.candidateConversions)
    assert(s1.totalRows === Pipeline.persistedAttribution(spark, stateDir).count())

    // run 2, same window: idempotent no-op — nothing new attributed
    val (s2, jobs2) = jobsOf(Pipeline.run(spark, sfDir, stateDir, endDate = Some("2024-01-15")))
    assert(s2.newConversions === 0)
    assert(s2.newRows === 0)
    assert(s2.totalRows === s1.totalRows)
    assert(s2.candidateConversions === s1.candidateConversions)
    assertJobBudget(jobs2, 2)

    // run 3, full window: attributes ONLY the delta…
    val (s3, jobs3) = jobsOf(Pipeline.run(spark, sfDir, stateDir, endDate = None))
    assert(s3.newConversions > 0)
    assert(s3.candidateConversions === s1.candidateConversions + s3.newConversions)
    assertJobBudget(jobs3, 7)
    assert(s3.candidateConversions === conversionsUpTo(None).count())
    assert(s3.newConversions + s1.newConversions ===
      Pipeline.processedConversions(spark, stateDir).count())

    // …and the persisted table is bit-identical to a from-scratch run
    val persisted = Pipeline.persistedAttribution(spark, stateDir)
    assert(rows(persisted) === rows(fromScratch))
    assert(s3.totalRows === persisted.count())
    assert(s3.newRows === s3.totalRows - s1.totalRows)

    // the state is three tables: the report base is ONE parquet file, and
    // the report is rendered from it on read, sorted by (channel, date)
    val live = Manifest.live(spark, stateDir)
    assert(live.map(_.takeWhile(_ != '/')).distinct.sorted ===
      Seq("attribution", "processed_conversions", "report_base"))
    val baseDirs = live.filter(_.startsWith("report_base/"))
    assert(baseDirs.size === 1)
    assert(sources.Layout.dataFiles(spark, s"$stateDir/${baseDirs.head}") === 1)
    val report = Pipeline.report(spark, stateDir)
    assert(report.columns.toSeq ===
      Seq("channel_name", "date", "cost", "ihc", "ihc_revenue", "CPO", "ROAS"))
    val rendered = report.collect().toSeq
    assert(rendered.nonEmpty)
    val keys = rendered.map(r => (r.getString(0), r.getDate(1).toLocalDate))
    assert(keys === keys.sorted)
    assert(keys.distinct.size === keys.size)
  }

  /** The live `report_base` rows, in file order. */
  private def reportBase(s: org.apache.spark.sql.SparkSession, stateDir: String) =
    Manifest.live(s, stateDir).filter(_.startsWith("report_base/"))
      .flatMap(d => s.read.parquet(s"$stateDir/$d").collect().toSeq)

  test("a state published with the staged report and CSV reads the same report; " +
    "the next run's sweep deletes both") {
    val stateDir = Files.createTempDirectory("graft-pipeline-legacy").toString
    Pipeline.run(spark, sfDir, stateDir, endDate = Some("2024-01-15"))
    // the five-table layout: the report rendered from the live base and
    // staged as parquet and as the CSV artifact, all published together
    val snap = Manifest.snapshot(spark, stateDir)
    val base = snap.live.filter(_.startsWith("report_base/")).head
    val tag = base.stripPrefix("report_base/")
    val staged = operators.Reporting.withMetrics(operators.Reporting.fromReportBase(
      spark.read.parquet(s"$stateDir/$base")))
      .coalesce(1).sortWithinPartitions("channel_name", "date")
    staged.write.parquet(s"$stateDir/report/$tag")
    operators.Reporting.exportCsv(staged, s"$stateDir/channel_reporting_csv/$tag")
    val legacy = Seq(s"report/$tag", s"channel_reporting_csv/$tag")
    assert(Manifest.tryPublish(spark, stateDir, snap, snap.live ++ legacy, snap.meta).isDefined)

    // before the next run, the report reads the same rows in the same order
    val stagedRows = spark.read.parquet(s"$stateDir/report/$tag").collect().toSeq
    assert(stagedRows.nonEmpty)
    assert(Pipeline.report(spark, stateDir).collect().toSeq === stagedRows)

    // the next run publishes three tables and its sweep deletes the legacy dirs
    assert(Pipeline.run(spark, sfDir, stateDir, endDate = None).newConversions > 0)
    val live = Manifest.live(spark, stateDir)
    assert(!live.exists(e => e.startsWith("report/") || e.startsWith("channel_reporting_csv/")))
    legacy.foreach(d => assert(!new java.io.File(s"$stateDir/$d").exists(), d))
    assert(Manifest.stale(spark, stateDir, stateTables).isEmpty)
    assert(rows(Pipeline.persistedAttribution(spark, stateDir)) === rows(fromScratch))
  }

  test("parallelism invariance: a three-run cadence publishes the default " +
    "session's state at 7 shuffle partitions, AQE off and no broadcast joins") {
    val hostile = spark.newSession()
    hostile.conf.set("spark.sql.shuffle.partitions", "7")
    hostile.conf.set("spark.sql.adaptive.enabled", "false")
    hostile.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def cadence(s: org.apache.spark.sql.SparkSession) = {
      val stateDir = Files.createTempDirectory("graft-pipeline-invariance").toString
      Seq(Some("2024-01-10"), Some("2024-01-15"), None).foreach(d =>
        assert(Pipeline.run(s, sfDir, stateDir, endDate = d).newConversions > 0))
      (rows(Pipeline.persistedAttribution(s, stateDir)), reportBase(s, stateDir),
        Pipeline.report(s, stateDir).collect().toSeq)
    }
    val (attr, base, report) = cadence(spark)
    assert(attr.nonEmpty && base.nonEmpty && report.nonEmpty)
    val (hAttr, hBase, hReport) = cadence(hostile)
    assert(hAttr === attr, "attribution rows differ")
    assert(hBase === base, "report_base rows differ")
    assert(hReport === report, "report rows differ")
  }

  test("pipeline O(delta): a delta run never reads prior runs' attribution data") {
    val stateDir = Files.createTempDirectory("graft-pipeline-odelta").toString
    val s1 = Pipeline.run(spark, sfDir, stateDir, endDate = Some("2024-01-15"))
    assert(s1.newRows > 0)

    // Black-box proof of the O(delta) contract: physically remove run 1's
    // attribution data. If the next run read ANY prior attribution dir —
    // for the assignment, the counts, or the report — it would fail with
    // path-not-found; succeeding proves the run touched only its own delta
    // (plus the tiny merged report state).
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val attrDirs = sources.Manifest.live(spark, stateDir).filter(_.startsWith("attribution/"))
    assert(attrDirs.size === 1)
    val livePath = new org.apache.hadoop.fs.Path(s"$stateDir/${attrDirs.head}")
    val hidden = new org.apache.hadoop.fs.Path(s"$stateDir/hidden_r1_backup")
    assert(fs.rename(livePath, hidden))

    val s2 = Pipeline.run(spark, sfDir, stateDir, endDate = None)
    assert(s2.newConversions > 0)
    // the committed total came from manifest metadata, not a history scan
    assert(s2.totalRows === s1.totalRows + s2.newRows)

    // restore run 1's data: the accumulated state AND the incrementally
    // merged report must be bit-identical to a from-scratch computation
    assert(fs.rename(hidden, livePath))
    assert(rows(Pipeline.persistedAttribution(spark, stateDir)) === rows(fromScratch))
    val scratchReport = operators.Reporting.withMetrics(
      operators.Reporting.channelReporting(
        fromScratch, Tables.sessions(spark, sfDir),
        Tables.sessionCosts(spark, sfDir), Tables.conversions(spark, sfDir)))
      .orderBy("channel_name", "date")
    val merged = Pipeline.report(spark, stateDir).orderBy("channel_name", "date")
    assert(merged.collect().map(_.toSeq).toSeq ===
      scratchReport.collect().map(_.toSeq).toSeq)
  }

  test("pipeline: a crash between state writes publishes nothing; the re-run converges") {
    val stateDir = Files.createTempDirectory("graft-pipeline-crash").toString

    // committed baseline: run 1 over the partial window
    Pipeline.run(spark, sfDir, stateDir, endDate = Some("2024-01-15"))
    val committedAttr = rows(Pipeline.persistedAttribution(spark, stateDir))
    val committedProcessed = Pipeline.processedConversions(spark, stateDir).count()
    val committedReport = Pipeline.report(spark, stateDir).count()
    val committedVersion = Manifest.version(spark, stateDir)

    // crash 1: between the attribution and processed-conversions writes
    intercept[Pipeline.InjectedCrash] {
      Pipeline.runImpl(spark, sfDir, stateDir, None, Some("after_attribution_stage"))
    }
    // crash 2: after all four dirs are staged, before the manifest publish
    intercept[Pipeline.InjectedCrash] {
      Pipeline.runImpl(spark, sfDir, stateDir, None, Some("before_publish"))
    }
    // abort 3: the run's vacuum lease is reaped before its publish (as a
    // concurrent sweep does once a run outlives the lease TTL): the fence
    // refuses to publish a manifest that may name vacuumed dirs
    val fenced = intercept[java.io.IOException] {
      Pipeline.runImpl(spark, sfDir, stateDir, None, None, beforePublish = () =>
        Manifest.activeLeases(spark, stateDir)
          .foreach(Manifest.releaseLease(spark, stateDir, _)))
    }
    assert(fenced.getMessage.contains("reaped"))

    // (a) reads see ONLY the complete run — the aborted runs are invisible
    assert(Manifest.version(spark, stateDir) === committedVersion)
    assert(rows(Pipeline.persistedAttribution(spark, stateDir)) === committedAttr)
    assert(Pipeline.processedConversions(spark, stateDir).count() === committedProcessed)
    assert(Pipeline.report(spark, stateDir).count() === committedReport)
    // …while orphan staged dirs from the aborts do exist on disk
    assert(Manifest.stale(spark, stateDir, stateTables).nonEmpty)

    // (b) the re-run recovers (cleans orphans, recomputes the same delta)
    // and converges to bit-identical from-scratch state
    val s = Pipeline.run(spark, sfDir, stateDir, endDate = None)
    assert(s.newConversions > 0)
    assert(rows(Pipeline.persistedAttribution(spark, stateDir)) === rows(fromScratch))
    assert(Manifest.stale(spark, stateDir, stateTables).isEmpty)

    // and a further re-run is still the idempotent no-op
    val s2 = Pipeline.run(spark, sfDir, stateDir, endDate = None)
    assert(s2.newConversions === 0)
    assert(rows(Pipeline.persistedAttribution(spark, stateDir)) === rows(fromScratch))
  }

  test("racing pipeline runs serialize: both commit, overlap attributed exactly once") {
    val stateDir = Files.createTempDirectory("graft-pipeline-race").toString
    // DEFAULT configuration: no grace tuning — the outer run's vacuum
    // lease shields its in-flight staging from the inner run's sweep
    var inner: Pipeline.RunSummary = null
    // the outer run (full window) stages everything, then a competing run
    // over the PARTIAL window commits before the outer publish — the outer
    // run must lose the CAS, drop the winner's conversions from its staged
    // delta, re-merge the report on the winner's base, and retry
    val outer = Pipeline.runImpl(spark, sfDir, stateDir, None, None,
      beforePublish = () => {
        inner = Pipeline.run(spark, sfDir, stateDir,
          endDate = Some("2024-01-15"))
      })
    assert(inner.newConversions > 0)
    assert(outer.newConversions > 0)
    assert(outer.totalRows === inner.totalRows + outer.newRows)

    // no conversion attributed twice; state bit-identical to from-scratch
    val persisted = Pipeline.persistedAttribution(spark, stateDir)
    assert(persisted.select("conv_id", "session_id").distinct().count() === persisted.count())
    assert(rows(persisted) === rows(fromScratch))

    // the counts the retry re-observed equal direct counts of the state
    assert(outer.totalRows === persisted.count())
    assert(inner.newConversions + outer.newConversions ===
      Pipeline.processedConversions(spark, stateDir).count())
    assert(inner.candidateConversions === conversionsUpTo(Some("2024-01-15")).count())
    assert(outer.candidateConversions === conversionsUpTo(None).count())

    // the serialized report covers BOTH commits, bit-equal to from-scratch
    val scratchReport = operators.Reporting.withMetrics(
      operators.Reporting.channelReporting(
        fromScratch, Tables.sessions(spark, sfDir),
        Tables.sessionCosts(spark, sfDir), Tables.conversions(spark, sfDir)))
      .orderBy("channel_name", "date")
    assert(Pipeline.report(spark, stateDir).orderBy("channel_name", "date")
      .collect().map(_.toSeq).toSeq === scratchReport.collect().map(_.toSeq).toSeq)

    // a follow-up run is the idempotent no-op and vacuums superseded staging
    val s3 = Pipeline.run(spark, sfDir, stateDir)
    assert(s3.newConversions === 0)
    assert(Manifest.stale(spark, stateDir, stateTables).isEmpty)
  }

  test("pipeline over the bucketed layout: exchange-free assign, bit-identical output") {
    val stateDir = Files.createTempDirectory("graft-pipeline-bucketed").toString
    val sessionsTable = Pipeline.bucketedName(stateDir, "sessions")
    val conversionsTable = Pipeline.bucketedName(stateDir, "conversions")
    try {
      Pipeline.prepareBucketed(spark, sfDir, stateDir, nBuckets = 8)

      // the production runner's whole staged delta — assign, conversion
      // flag, IHC and the conv_id filter — plans with ZERO exchanges: the
      // flag and IHC windows key on (user_id, conv_id), which the bucketed
      // user_id partitioning already satisfies
      def stagedDelta(assigned: DataFrame, convIds: Seq[Long]) =
        IhcAttribution.attribute(assigned).filter(col("conv_id").isInCollection(convIds))
      def assertExchangeFree(df: DataFrame, what: String): Unit = {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"$what should be exchange-free:\n$plan")
      }
      val convIds = 1L to 40L
      val full = Pipeline.assignedJourneys(spark, sfDir, stateDir, endDate = None)
      assert(full.queryExecution.optimizedPlan.toString.contains("BucketUnion"),
        "assignedJourneys should plan via BucketUnion once prepareBucketed has run")
      assertExchangeFree(stagedDelta(full, convIds), "bucketed staged delta")

      // …and the incremental runner's restriction to the delta's users must
      // not cost the property: literal IN filters on both bucketed inputs
      // keep the plan free of any exchange, shuffle or broadcast
      val users = 1L to 40L
      val restricted = Journeys.flagConversion(Journeys.assignBucketed(
        spark.table(sessionsTable).filter(col("user_id").isInCollection(users)),
        spark.table(conversionsTable).filter(col("user_id").isInCollection(users))))
      assertExchangeFree(stagedDelta(restricted, convIds), "restricted bucketed staged delta")

      // the date-partitioned layout prunes FILES, not just row groups: a
      // 1-day window must read exactly that day's files
      val day = Tables.sessions(spark, sfDir)
        .groupBy("event_date").count().orderBy("event_date").head().getDate(0)
      val oneDay = spark.table(sessionsTable)
        .filter(org.apache.spark.sql.functions.col("event_date") === day)
      oneDay.collect() // metrics populate on execution
      val scan = oneDay.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      val filesRead = scan.metrics("numFiles").value
      val allFiles = sources.Layout.dataFiles(spark, s"$stateDir/bucketed/sessions")
      val dayFiles = sources.Layout.dataFiles(
        spark, s"$stateDir/bucketed/sessions/event_date=$day")
      assert(dayFiles > 0 && filesRead === dayFiles && filesRead < allFiles,
        s"1-day window read $filesRead files; day has $dayFiles of $allFiles total")

      // incremental runs through the bucketed path converge to the same
      // persisted state as the standard path, bit for bit
      val s1 = Pipeline.run(spark, sfDir, stateDir, endDate = Some("2024-01-15"))
      assert(s1.newConversions > 0)
      val s2 = Pipeline.run(spark, sfDir, stateDir, endDate = None)
      assert(s2.newConversions > 0)
      assert(rows(Pipeline.persistedAttribution(spark, stateDir)) === rows(fromScratch))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $sessionsTable")
      spark.sql(s"DROP TABLE IF EXISTS $conversionsTable")
    }
  }

  test("staged delta rows carry their report inputs; the public readers and " +
    "compaction keep exactly their DDL columns") {
    val stateDir = Files.createTempDirectory("graft-pipeline-cols").toString
    Pipeline.run(spark, sfDir, stateDir, endDate = Some("2024-01-15"))
    Pipeline.run(spark, sfDir, stateDir, endDate = None)
    val attrCols = Seq("conv_id", "session_id", "channel_name", "ihc")
    def liveAttribution = Manifest.live(spark, stateDir).filter(_.startsWith("attribution/"))
    def columnsOf(rel: String) = spark.read.parquet(s"$stateDir/$rel").columns.toSeq
    // the staged files carry the report inputs beside the attribution…
    assert(liveAttribution.size === 2)
    liveAttribution.foreach(d =>
      assert(columnsOf(d) === attrCols ++ Seq("event_date", "cost", "revenue")))
    // …which no public reader exposes
    assert(Pipeline.persistedAttribution(spark, stateDir).columns.toSeq === attrCols)
    assert(Pipeline.processedConversions(spark, stateDir).columns.toSeq === Seq("conv_id"))
    val before = rows(Pipeline.persistedAttribution(spark, stateDir))

    Pipeline.compactState(spark, stateDir)
    assert(liveAttribution.size === 1)
    assert(columnsOf(liveAttribution.head) === attrCols)
    assert(Pipeline.persistedAttribution(spark, stateDir).columns.toSeq === attrCols)
    assert(Pipeline.processedConversions(spark, stateDir).columns.toSeq === Seq("conv_id"))
    assert(rows(Pipeline.persistedAttribution(spark, stateDir)) === before)
  }

  test("pipeline lease: renewed at stage boundaries once half its TTL has passed; " +
    "an expired lease is reaped and never renewed") {
    val stateDir = Files.createTempDirectory("graft-pipeline-lease").toString
    // a concurrent sweep: activeLeases deletes every lease past its expiry
    @volatile var sweeping = true
    val sweeper = new Thread(() =>
      while (sweeping) { Manifest.activeLeases(spark, stateDir); Thread.sleep(20) })
    sweeper.start()
    try {
      // each stage boundary waits until the lease is past half its TTL, so
      // the stages together outlive the TTL and every boundary must renew
      val ttl = 2000L
      val expiries = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t0 = System.currentTimeMillis()
      val s = Pipeline.runImpl(spark, sfDir, stateDir, Some("2024-01-15"), None,
        atBoundary = _ => {
          val held = Manifest.activeLeases(spark, stateDir)
          assert(held.size === 1, "the run's lease was reaped")
          expiries += held.head.expiresMs
          Thread.sleep(math.max(0L, held.head.expiresMs - ttl / 2 + 50 - System.currentTimeMillis()))
        },
        leaseTtlMs = ttl)
      assert(System.currentTimeMillis() - t0 > ttl)
      assert(s.newConversions > 0)
      assert(Manifest.live(spark, stateDir).count(_.startsWith("attribution/")) === 1)
      assert(expiries.size >= 3 && expiries.distinct.size === expiries.size &&
        expiries === expiries.sorted, s"the lease was not renewed: $expiries")

      // a run stalled past its TTL at a boundary is reaped by the sweep; the
      // boundary must not renew (re-create) it, so the fence aborts
      val version = Manifest.version(spark, stateDir)
      val reaped = intercept[java.io.IOException] {
        Pipeline.runImpl(spark, sfDir, stateDir, None, None,
          atBoundary = p => if (p == "after_missing_selection") {
            val deadline = System.currentTimeMillis() + 10000L
            while (Manifest.activeLeases(spark, stateDir).nonEmpty &&
              System.currentTimeMillis() < deadline) Thread.sleep(20)
          },
          leaseTtlMs = 300L)
      }
      assert(reaped.getMessage.contains("reaped"))
      assert(Manifest.version(spark, stateDir) === version)
    } finally {
      sweeping = false
      sweeper.join()
    }
  }

  test("state compaction folds accumulated run dirs without changing content") {
    val stateDir = Files.createTempDirectory("graft-pipeline").toString
    Pipeline.run(spark, sfDir, stateDir, endDate = Some("2024-01-10"))
    Pipeline.run(spark, sfDir, stateDir, endDate = Some("2024-01-15"))
    Pipeline.run(spark, sfDir, stateDir, endDate = Some("2024-01-20"))
    val liveBefore = graft.sources.Manifest.live(spark, stateDir)
    assert(liveBefore.count(_.startsWith("attribution/")) === 3)
    val attBefore = rows(Pipeline.persistedAttribution(spark, stateDir))
    val prcBefore = Pipeline.processedConversions(spark, stateDir)
      .collect().map(_.getLong(0)).sorted.toSeq

    Pipeline.compactState(spark, stateDir)

    val liveAfter = graft.sources.Manifest.live(spark, stateDir)
    assert(liveAfter.count(_.startsWith("attribution/")) === 1)
    assert(liveAfter.count(_.startsWith("processed_conversions/")) === 1)
    assert(rows(Pipeline.persistedAttribution(spark, stateDir)) === attBefore)
    assert(Pipeline.processedConversions(spark, stateDir)
      .collect().map(_.getLong(0)).sorted.toSeq === prcBefore)
    // the report artifacts are untouched by compaction
    assert(Pipeline.report(spark, stateDir).count() > 0)

    // a post-compaction delta run still attributes exactly the remainder
    val s = Pipeline.run(spark, sfDir, stateDir, endDate = None)
    assert(s.newConversions > 0)
    assert(rows(Pipeline.persistedAttribution(spark, stateDir)) === rows(fromScratch))
    // idempotence on the compacted state
    val s2 = Pipeline.run(spark, sfDir, stateDir, endDate = None)
    assert(s2.newConversions === 0L)
  }
}
