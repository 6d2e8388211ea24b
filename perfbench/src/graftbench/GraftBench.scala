package graftbench

import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Pipeline, SparkEntry}
import graft.operators.{IhcAttribution, Journeys, Reporting}
import graft.sources.{Manifest, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM side. `perfbench/run.py` builds this, generates the
  * inputs, starts one JVM per run and reads the record it writes:
  *
  *   --mode daily   the attribution cadence (`Pipeline.run` + reader)
  *   --mode suite   `SparkEntry.queries` keys, `.count()` + `clearCache()`
  *   --mode split   classify every key by the parquet files its plans scan
  *   --mode oracles dump `SparkEntry.oracleSql` and `SparkEntry.minRows`
  *
  * One client, closed loop: the next operation starts when the previous one
  * has returned. With `--trace 1` a [[Tracer]] is attached and the record
  * carries per-layer metrics instead of samples for the end-to-end ones. */
object GraftBench {

  final case class Op(kind: String, name: String, wallS: Double, ok: Boolean,
      note: String = "", items: Long = 0L, traced: Boolean = false, id: Long = -1L)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    o("mode") match {
      case "oracles" => dumpOracles(Paths.get(o("out")))
      case mode =>
        val spark = session(o("work"), o("cpus").toInt)
        try mode match {
          case "daily" => new Daily(spark, o).run()
          case "suite" => new Suite(spark, o).run()
          case "split" => split(spark, o)
        } finally spark.stop()
    }
  }

  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val it = Files.walk(p)
      try {
        var n = 0L
        it.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally it.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val it = Files.walk(p)
    try it.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally it.close()
  }

  /** Records are Scala maps and sequences of values and [[Op]]s; case-class
    * fields are written in snake case (`wallS` as `wall_s`). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), json.writeValueAsString(v) + "\n")

  def dumpOracles(out: Path): Unit = write(out.toString, Map(
    "oracle_sql" -> SparkEntry.oracleSql,
    "min_rows" -> SparkEntry.queries.keys.map(k => k -> SparkEntry.minRows(k)).toMap))

  /** Suite split: a key belongs to the corpus suite when any plan it runs —
    * the final executed plan or an eager job while the frame is built —
    * scans `documents` or `embeddings`. */
  def split(spark: SparkSession, o: Map[String, String]): Unit = {
    val dir = o("data")
    val tracer = new Tracer(spark)
    tracer.attach()
    val out = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map { case (k, i) =>
      tracer.beginOp(i.toLong)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(k)(spark, dir)
      val plan = df.queryExecution.executedPlan
      val n = df.count()
      val t1 = System.nanoTime()
      spark.catalog.clearCache()
      tracer.endOp()
      val paths = tracer.scans.getOrElse(i.toLong, mutable.Set.empty[String]) ++
        plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString) }.flatten
      val tables = paths.map(p => p.split('/').last.stripSuffix(".parquet")).toSeq.sorted.distinct
      val corpus = tables.exists(t => t == "documents" || t == "embeddings")
      System.err.println(f"[split] $k%-40s ${(t1 - t0) / 1e9}%.2fs ${tracer.jobsOf(i.toLong).size}%4d jobs ${tables.mkString(",")}")
      k -> Map("suite" -> (if (corpus) "corpus_suite" else "olap_suite"), "tables" -> tables,
        "rows" -> n, "seconds" -> (t1 - t0) / 1e9, "jobs" -> tracer.jobsOf(i.toLong).size,
        "corpus_index" -> tracer.jobsOf(i.toLong).exists(_.callSite.contains("corpusIndexState")))
    }
    write(o("out"), out.toMap)
  }

  /** Shared run skeleton: set-up, the closed loop, the record. */
  abstract class Workload(val spark: SparkSession, val o: Map[String, String]) {
    val seconds: Double = o("seconds").toDouble
    val traced: Boolean = o("trace") == "1"
    val cpus: Int = o("cpus").toInt
    val work: String = o("work")
    val tracer = new Tracer(spark)
    val ops = mutable.ArrayBuffer.empty[Op]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    private var nextOp = 0L
    var firstTimedMs: Double = Double.NaN

    def setup(): Unit
    /** Runs until `seconds` have passed, finishing the unit it started. */
    def loop(deadline: Long): Unit
    def check(): Unit
    def perLayer(): Unit

    /** One timed operation. Under tracing, `withTrace = false` runs it with
      * the listener detached, for the overhead comparison. */
    def timed(kind: String, name: String, withTrace: Boolean = traced)(
        body: => (Boolean, String, Long)): Op = {
      val id = { nextOp += 1; nextOp }
      if (firstTimedMs.isNaN && kind != "warmup" && kind != "backfill") firstTimedMs = tracer.nowMs
      if (traced && !withTrace) tracer.detach()
      if (withTrace) tracer.beginOp(id)
      val t0 = System.nanoTime()
      val (ok, note, items) =
        try { if (withTrace) tracer.span(kind)(body) else body }
        catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400), 0L) }
      val wall = (System.nanoTime() - t0) / 1e9
      if (withTrace) tracer.endOp()
      if (traced && !withTrace) tracer.attach()
      val op = Op(kind, name, wall, ok, note, items, withTrace, id)
      ops += op
      op
    }

    def run(): Unit = {
      info("session_ready_s") = (tracer.nowMs - jvmStartMs) / 1e3
      if (traced) tracer.attach()
      setup()
      loop(System.nanoTime() + (seconds * 1e9).toLong)
      check()
      if (traced) {
        tracer.drain()
        perLayer()
        tracer.write(Paths.get(work, "trace.jsonl"))
      }
      write(o("out"), Map(
        "setup_s" -> (firstTimedMs - jvmStartMs) / 1e3,
        "peak_rss_mb" -> peakRssMb,
        "ops" -> ops.toSeq,
        "info" -> info,
        "layers" -> layers))
    }

    // ---- per-layer helpers over traced operations ----
    def tracedOps(kind: String): Seq[Op] = ops.filter(o => o.kind == kind && o.traced).toSeq
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
    def spansOf(op: Op, name: String): Seq[Span] = tracer.spans.filter(s => s.op == op.id && s.name == name).toSeq

    /** `exec.*` and `sources.scan_bytes` over the given operations. */
    def execLayer(main: Seq[Op]): Unit = {
      val js = main.map(op => op -> tracer.jobsOf(op.id))
      def per(f: JobRec => Double) = mean(js.map(_._2.map(f).sum))
      layers("exec.jobs") = mean(js.map(_._2.size.toDouble))
      layers("exec.driver_gap_s") = mean(js.map { case (op, jobs) =>
        val root = spansOf(op, op.kind).head
        (root.end - root.start - tracer.covered(jobs.map(j => (j.start, j.end)))) / 1e3 })
      layers("exec.tasks") = per(_.tasks.toDouble)
      layers("exec.task_s") = per(_.taskS)
      layers("exec.core_util") =
        if (main.isEmpty) 0.0 else js.flatMap(_._2.map(_.taskS)).sum / (main.map(_.wallS).sum * cpus)
      layers("exec.shuffle_write_bytes") = per(_.shuffleWrite.toDouble)
      layers("exec.shuffle_read_bytes") = per(_.shuffleRead.toDouble)
      layers("exec.spill_bytes") = per(_.spill.toDouble)
      layers("exec.result_bytes") = per(_.resultBytes.toDouble)
      layers("exec.gc_s") = per(_.gcS)
      layers("plans.plan_s") = mean(main.map(op => tracer.planS(op.id)))
      layers("plans.exchanges") = mean(main.map(op => tracer.exchanges(op.id).toDouble))
      layers("sources.scan_bytes") = per(_.inputBytes.toDouble)
    }

    /** Tracing overhead: traced minus untraced median of the paired ops. */
    def overhead(kind: String): Unit = {
      val on = ops.filter(o => o.kind == kind && o.traced).map(_.wallS).toSeq
      val off = ops.filter(o => o.kind == kind && !o.traced).map(_.wallS).toSeq
      layers("trace.overhead_s") = median(on) - median(off)
      layers("trace.overhead_frac") = if (off.isEmpty) 0.0 else (median(on) - median(off)) / median(off)
    }
  }

  // The layers every workload reports, so each traced record has them all;
  // a layer a workload never enters reads 0.
  val EagerModules: Seq[String] = Seq("Corpus", "Dedup", "Similarity", "other")
  val PipelineMethods: Seq[String] = Seq("Pipeline.runLeased", "Pipeline.readDirsOrEmpty",
    "Pipeline.stageReport", "sources.Tables.eventsWindowed", "operators.Reporting.exportCsv", "other")

  def zeroLayers(l: mutable.LinkedHashMap[String, Double]): Unit = {
    Seq("SparkEntry.build_s", "SparkEntry.eager_jobs", "sources.scan_rows_per_new_conv",
      "Pipeline.jobs_per_run", "Pipeline.jobs_noop", "sources.Manifest.snapshot_s", "sources.Manifest.live_entries",
      "sources.Manifest.versions_per_run", "sources.Layout.compactions",
      "sources.Layout.compaction_s", "sources.Layout.compaction_jobs", "sources.bytes_written_per_run",
      "sources.space_amp", "operators.Corpus.index_build_s").foreach(l(_) = 0.0)
    EagerModules.foreach(m => l(s"operators.eager_task_s.$m") = 0.0)
    PipelineMethods.foreach(m => l(s"Pipeline.job_s.$m") = 0.0)
  }

  /** `attribution_daily`: set-up backfills a base state to day
    * `first_day - 1`. Then cadences of daily `Pipeline.run`s, each on a fresh
    * copy of the base state: one daily run per day up to `last_day`, each
    * followed by a reader operation. The first is an untimed warm-up; at
    * least `min_cadences` more are timed, so each day's latency is a median
    * over cadences. The last cadence ends with an idempotent re-run of the
    * last day and one `Pipeline.compactState`. */
  final class Daily(spark0: SparkSession, o0: Map[String, String]) extends Workload(spark0, o0) {
    val events: String = o("events")
    val firstDay: Int = o("first_day").toInt
    val lastDay: Int = o("last_day").toInt
    val minCadences: Int = o("min_cadences").toInt
    def day(d: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(d - 1L).toString
    val base: Path = Paths.get(work, "state_base")
    var cadences = 0
    var lastState: String = ""
    val versionsPerRun = mutable.ArrayBuffer.empty[Double]
    val liveEntries = mutable.ArrayBuffer.empty[Double]
    val bytesPerRun = mutable.ArrayBuffer.empty[Double]
    var compactions = 0
    var spaceAmp = 0.0

    def setup(): Unit = {
      zeroLayers(layers)
      deleteTree(base)
      timed("backfill", day(firstDay - 1)) {
        val s = Pipeline.run(spark, events, base.toString, endDate = Some(day(firstDay - 1)))
        (s.newConversions > 0, "", s.newConversions)
      }
    }

    /** A fresh copy of the base state. */
    def fresh(name: String): String = {
      val st = Paths.get(work, name)
      deleteTree(st)
      copyTree(base, st)
      st.toString
    }

    def copyTree(from: Path, to: Path): Unit = {
      val it = Files.walk(from)
      try it.forEach(f => Files.copy(f, to.resolve(from.relativize(f))))
      finally it.close()
    }

    /** The reader operation: resolve the manifest, collect the report and
      * aggregate the persisted attribution by channel. */
    def read(state: String, d: Int, total: Long, withTrace: Boolean, kind: String = "read"): Unit =
      timed(kind, day(d), withTrace) {
        def call[T](n: String)(b: => T): T = if (withTrace) tracer.span(n)(b) else b
        val snap = call("sources.Manifest.snapshot")(Manifest.snapshot(spark, state))
        val rep = call("Pipeline.report")(Pipeline.report(spark, state).collect())
        val byChannel = call("Pipeline.persistedAttribution")(
          Pipeline.persistedAttribution(spark, state).groupBy("channel_name")
            .agg(count(lit(1)).as("n"), sum("ihc")).collect())
        if (withTrace) liveEntries += snap.live.size.toDouble
        val rows = byChannel.map(_.getLong(1)).sum
        (rep.nonEmpty && rows == total,
          if (rows == total) "" else s"attribution rows $rows != committed total $total", rows)
      }

    /** One cadence on `state`, a fresh copy of the base state. Under tracing
      * every pipeline call is traced, and each timed reader operation runs
      * twice back to back, traced and untraced, the traced one first on even
      * days, for the overhead comparison. */
    def cadence(state: String, warmup: Boolean): Unit = {
      val layered = traced && !warmup
      for (d <- firstDay to lastDay) {
        val v0 = if (layered) Manifest.version(spark, state) else 0L
        val b0 = if (layered) dirBytes(Paths.get(state)) else 0L
        var total = -1L
        timed(if (warmup) "warmup" else "daily", day(d)) {
          val s = Pipeline.run(spark, events, state, endDate = Some(day(d)))
          total = s.totalRows
          (s.newConversions > 0, "", s.newConversions)
        }
        if (layered) {
          versionsPerRun += (Manifest.version(spark, state) - v0).toDouble
          bytesPerRun += (dirBytes(Paths.get(state)) - b0).toDouble
          read(state, d, total, d % 2 == 0)
          read(state, d, total, d % 2 != 0)
        } else read(state, d, total, traced, if (warmup) "warmup" else "read")
      }
    }

    /** Ends the last cadence: an idempotent re-run of the last day and one
      * compaction. A run self-compacts only past 16 live runs, more than a
      * cadence makes, so the compaction goes through the public call. The
      * final check then reads compacted state. */
    def close(state: String): Unit = {
      val v0 = Manifest.version(spark, state)
      timed("noop", day(lastDay)) {
        val s = Pipeline.run(spark, events, state, endDate = Some(day(lastDay)))
        (s.newConversions == 0L, s"re-run attributed ${s.newConversions}", 0L)
      }
      val v1 = Manifest.version(spark, state)
      if (v1 != v0) ops += Op("noop_version", day(lastDay), 0.0, ok = false,
        s"manifest version moved $v0 -> $v1 on the idempotent re-run")
      timed("compact", day(lastDay)) {
        Pipeline.compactState(spark, state)
        val dirs = Manifest.live(spark, state).count(_.startsWith("attribution/"))
        (dirs == 1, s"$dirs live attribution dirs after compaction", 0L)
      }
      if (Manifest.version(spark, state) > v1) compactions += 1
      if (traced) {
        val st = Paths.get(state)
        val live = Manifest.live(spark, state).map(e => dirBytes(st.resolve(e))).sum
        spaceAmp = dirBytes(st).toDouble / math.max(1L, live)
      }
    }

    def loop(deadline: Long): Unit = {
      // the first daily runs after the backfill still pay for JIT warm-up:
      // one untimed cadence first, within the run's seconds
      cadence(fresh("state_warmup"), warmup = true)
      do {
        cadences += 1
        lastState = fresh(s"state_$cadences")
        cadence(lastState, warmup = false)
      } while (cadences < minCadences || System.nanoTime() < deadline)
      close(lastState)
      info("cadences") = cadences
      info("state_mb") = dirBytes(Paths.get(lastState)) / 1e6
    }

    /** The last cadence's state against a one-shot computation over the
      * same history. */
    def check(): Unit = {
      val t0 = tracer.nowMs
      val sessions = Tables.sessions(spark, events)
      val convs = Tables.conversions(spark, events)
      // each side feeds three comparisons: evaluate it once
      val oneShot = IhcAttribution.attribute(Journeys.flagConversion(
        Journeys.assign(sessions, convs))).select("conv_id", "session_id", "channel_name", "ihc")
        .localCheckpoint()
      val persisted = Pipeline.persistedAttribution(spark, lastState)
        .select("conv_id", "session_id", "channel_name", "ihc").localCheckpoint()
      def same(a: DataFrame, b: DataFrame): Boolean = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      val report = Reporting.withMetrics(Reporting.channelReporting(
        oneShot, sessions, Tables.sessionCosts(spark, events), convs))
      val cols = report.columns.toSeq.map(col)
      val checks = Seq(
        "persisted attribution equals one-shot" -> same(persisted, oneShot),
        "report equals one-shot" -> same(Pipeline.report(spark, lastState).select(cols: _*), report.select(cols: _*)),
        "IhcAttribution.sumCheck" ->
          IhcAttribution.sumCheck(persisted).filter(!col("within_tolerance")).isEmpty)
      checks.foreach { case (n, ok) => ops += Op("check", n, 0.0, ok, if (ok) "" else "mismatch") }
      info("check_s") = (tracer.nowMs - t0) / 1e3
    }

    def perLayer(): Unit = {
      val daily = tracedOps("daily")
      execLayer(daily)
      val jobs = daily.map(op => tracer.jobsOf(op.id))
      val conv = daily.map(_.items).sum
      layers("sources.scan_rows_per_new_conv") = jobs.flatten.map(_.inputRows).sum.toDouble / math.max(1L, conv)
      layers("Pipeline.jobs_per_run") = mean(jobs.map(_.size.toDouble))
      layers("Pipeline.jobs_noop") = mean(tracedOps("noop").map(op => tracer.jobsOf(op.id).size.toDouble))
      jobs.flatten.groupBy { j =>
        val m = s"${j.frame._1}.${j.frame._2}"
        if (PipelineMethods.contains(m)) m else "other"
      }.foreach { case (m, js) => layers(s"Pipeline.job_s.$m") = js.map(j => (j.end - j.start) / 1e3).sum / daily.size }
      layers("sources.Manifest.snapshot_s") = mean(tracedOps("read").flatMap(spansOf(_, "sources.Manifest.snapshot"))
        .map(s => (s.end - s.start) / 1e3))
      layers("sources.Manifest.live_entries") = mean(liveEntries)
      layers("sources.Manifest.versions_per_run") = mean(versionsPerRun)
      // per cadence: the closing compaction plus any self-compaction inside
      // a daily run
      val selfCompacting = jobs.count(_.exists(j => j.frame._2 == "compactState" || j.frame._1 == "sources.Layout"))
      layers("sources.Layout.compactions") = compactions + selfCompacting.toDouble / cadences
      val compacts = tracedOps("compact")
      layers("sources.Layout.compaction_s") = mean(compacts.map(_.wallS))
      layers("sources.Layout.compaction_jobs") = mean(compacts.map(op => tracer.jobsOf(op.id).size.toDouble))
      layers("sources.bytes_written_per_run") = mean(bytesPerRun)
      layers("sources.space_amp") = spaceAmp
      overhead("read")
      info("conversions_traced") = conv
    }
  }

  /** `olap_suite` / `corpus_suite`: a warm-up pass that writes every key's
    * result for the fingerprint check, then timed passes over the keys in
    * a seeded order. */
  final class Suite(spark0: SparkSession, o0: Map[String, String]) extends Workload(spark0, o0) {
    val data: String = o("data")
    val keys: Seq[String] = o("keys").split(",").toSeq
    val rng = new scala.util.Random(o("seed").toLong)
    val warmed = mutable.Set.empty[String]

    def setup(): Unit = {
      zeroLayers(layers)
      info("all_keys") = SparkEntry.queries.keys.toSeq.sorted
      val missing = keys.filterNot(SparkEntry.queries.contains)
      missing.foreach(k => ops += Op("query", k, 0.0, ok = false, "key not in SparkEntry.queries"))
      keys.filter(SparkEntry.queries.contains).foreach { k =>
        val op = timed("warmup", k) {
          SparkEntry.queries(k)(spark, data).write.parquet(Paths.get(work, "results", k).toString)
          spark.catalog.clearCache()
          (true, "", 0L)
        }
        if (op.ok) warmed += k
      }
    }

    def once(k: String, withTrace: Boolean): Op = timed("query", k, withTrace) {
      def call[T](n: String)(b: => T): T = if (withTrace) tracer.span(n)(b) else b
      val df = call("SparkEntry.build")(SparkEntry.queries(k)(spark, data))
      val n = try call("count")(df.count()) finally call("clearCache")(spark.catalog.clearCache())
      (true, "", n)
    }

    def loop(deadline: Long): Unit = {
      val live = keys.filter(warmed)
      var passes = 0
      while (live.nonEmpty && (passes == 0 || System.nanoTime() < deadline)) {
        passes += 1
        for (k <- rng.shuffle(live)) {
          if (traced) {
            // each key runs untraced and traced back to back, alternating
            // which goes first, for the overhead comparison
            val first = rng.nextBoolean()
            once(k, first); once(k, !first)
          } else once(k, withTrace = false)
        }
      }
      info("passes") = passes
    }

    def check(): Unit = ()

    def perLayer(): Unit = {
      val qs = tracedOps("query")
      execLayer(qs)
      layers("SparkEntry.build_s") = mean(qs.flatMap(spansOf(_, "SparkEntry.build")).map(s => (s.end - s.start) / 1e3))
      val buildJobs = qs.map { op =>
        val b = spansOf(op, "SparkEntry.build").head
        tracer.jobsOf(op.id).filter(_.span == b.id)
      }
      layers("SparkEntry.eager_jobs") = mean(buildJobs.map(_.size.toDouble))
      buildJobs.flatten.groupBy { j =>
        val m = j.frame._1.stripPrefix("operators.")
        if (EagerModules.contains(m)) m else "other"
      }.foreach { case (m, js) => layers(s"operators.eager_task_s.$m") = js.map(_.taskS).sum / qs.size }
      val build = tracer.jobs.filter(_.callSite.contains("corpusIndexState"))
      // first to last job of the lazily built corpus-index state
      layers("operators.Corpus.index_build_s") =
        if (build.isEmpty) 0.0 else (build.map(_.end).filterNot(_.isNaN).max - build.map(_.start).min) / 1e3
      overhead("query")
    }
  }
}
