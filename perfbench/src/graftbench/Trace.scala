package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One Spark job as the listener saw it, with the task counters summed over
  * all of its stages. Times are epoch milliseconds. */
final class JobRec(val id: Int, val op: Long, val span: Int, val callSite: String,
    val start: Double) {
  var end: Double = Double.NaN
  var tasks = 0L
  var taskS = 0.0
  var gcS = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var resultBytes = 0L
  var outputBytes = 0L

  /** Module and method the job is attributed to (see `Tracer.onJobStart`). */
  var frame: (String, String) = ("other", "other")
}

object JobRec {
  /** Innermost `graft.*` frame of a call site, as (module, method):
    * `graft.operators.Corpus$.$anonfun$foo$1(..)` gives
    * ("operators.Corpus", "foo"). `Materialize` is the shared checkpoint
    * door, not an operator, so the frame that called it is used instead. */
  def graftFrame(callSite: String): Option[(String, String)] = callSite.split("\n").iterator
    .map(_.trim)
    .filter(l => l.startsWith("graft.") && !l.startsWith("graft.operators.Materialize"))
    .map { l =>
      val call = l.takeWhile(_ != '(')
      val cls = call.substring(0, call.lastIndexOf('.'))
      val method = call.substring(call.lastIndexOf('.') + 1)
        .split("\\$").filter(p => p.nonEmpty && p != "anonfun" && !p.forall(_.isDigit))
        .headOption.getOrElse("apply")
      (cls.stripPrefix("graft.").takeWhile(_ != '$'), method)
    }
    .nextOption()
}

object Tracer {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.Exchange

  /** Exchanges in a physical plan, looking through adaptive wrappers. */
  def exchanges(p: SparkPlan): Int = {
    val self = p match { case _: Exchange => 1; case _ => 0 }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    self + kids.map(exchanges).sum
  }
}

/** A timed call made by the benchmark. `op` groups the spans of one
  * operation; `parent` is -1 for the operation's root span. */
final case class Span(id: Int, parent: Int, op: Long, name: String, start: Double, end: Double)

/** Spans around the benchmark's calls into graft plus a listener that adds
  * Spark jobs (with task, shuffle, spill, input, result and GC counters) as
  * children of the span that was open when each job started. Everything is
  * kept in memory and written out when the run ends. */
final class Tracer(spark: org.apache.spark.sql.SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Parquet paths scanned by SQL executions, per operation id. */
  val scans = mutable.Map.empty[Long, mutable.Set[String]]
  private val byStage = mutable.Map.empty[Int, JobRec]
  private val execSites = mutable.Map.empty[Long, String]
  private var nextSpan = 0
  private val open = mutable.Stack.empty[(Int, String, Double)]
  @volatile private var opId = -1L

  private val OpKey = "graftbench.op"
  private val SpanKey = "graftbench.span"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String, d: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse(d)
    val j = new JobRec(e.jobId, prop(OpKey, "-1").toLong, prop(SpanKey, "-1").toInt,
      // the long call site travels as the stage details
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""), e.time.toDouble)
    // Stages that AQE or a broadcast starts run on Spark's own threads and
    // carry no graft frame: they take the frame of their SQL execution.
    val execId = prop("spark.sql.execution.id", "-1").toLong
    j.frame = JobRec.graftFrame(j.callSite)
      .orElse(execSites.get(execId).flatMap(JobRec.graftFrame))
      .getOrElse(("other", "other"))
    jobs += j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskS += m.executorRunTime / 1e3
      j.gcS += m.jvmGCTime / 1e3
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRows += m.inputMetrics.recordsRead
      j.resultBytes += m.resultSize
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSites(s.executionId) = s.details
      val paths = scans.getOrElseUpdate(opId, mutable.Set.empty)
      def walk(n: SparkPlanInfo): Unit = {
        n.metadata.get("Location").foreach(loc =>
          "[^\\[, ]+\\.parquet".r.findAllIn(loc).foreach(paths += _))
        n.children.foreach(walk)
      }
      walk(s.sparkPlanInfo)
    }
    case _ =>
  }

  /** Per operation: planning seconds (analysis, optimization and physical
    * planning of every action) and exchanges in the executed plans. */
  val planS = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
  val exchanges = mutable.Map.empty[Long, Int].withDefaultValue(0)
  private val plans = new org.apache.spark.sql.util.QueryExecutionListener {
    def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized {
        planS(opId) += qe.tracker.phases.values.map(_.durationMs).sum / 1e3
        exchanges(opId) += Tracer.exchanges(qe.executedPlan)
      }
    def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(plans) }
  def detach(): Unit = {
    drain(); sc.removeSparkListener(this); spark.listenerManager.unregister(plans)
  }
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Opens an operation: later spans and jobs carry its id until `endOp`. */
  def beginOp(id: Long): Unit = { opId = id; sc.setLocalProperty(OpKey, id.toString) }
  def endOp(): Unit = { drain(); sc.setLocalProperty(OpKey, null); sc.setLocalProperty(SpanKey, null) }

  /** Times `body` as a span named `name`, nested in the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextSpan += 1; nextSpan }
    val parent = if (open.isEmpty) -1 else open.top._1
    val t0 = nowMs
    open.push((id, name, t0))
    sc.setLocalProperty(SpanKey, id.toString)
    try body
    finally {
      open.pop()
      sc.setLocalProperty(SpanKey, if (open.isEmpty) null else open.top._1.toString)
      val t1 = nowMs
      synchronized { spans += Span(id, parent, opId, name, t0, t1) }
    }
  }

  /** Total length of the union of the intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    val done = iv.filter(x => !x._2.isNaN).sortBy(_._1)
    if (done.isEmpty) return 0.0
    var total = 0.0
    var curS = done.head._1
    var curE = done.head._1
    done.foreach { case (s, e) =>
      if (s > curE) { total += math.max(0.0, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0.0, curE - curS)
  }

  /** Self time of a span in ms: its duration minus the part its child spans
    * and its own jobs cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.start, c.end)) ++
      jobs.filter(_.span == s.id).map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
    (s.end - s.start) - covered(kids.toSeq)
  }

  def jobsOf(op: Long): Seq[JobRec] = synchronized(jobs.filter(_.op == op).toSeq)

  /** Spans and jobs as JSON lines, for reading a run after the fact. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    import scala.collection.immutable.ListMap
    val lines = spans.map { s =>
      ListMap("span" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> selfMs(s))
    } ++ jobs.map { j =>
      ListMap("job" -> j.id, "op" -> j.op, "parent" -> j.span, "module" -> j.frame._1,
        "method" -> j.frame._2, "site" -> (if (j.frame._1 == "other") j.callSite.take(240) else ""),
        "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks, "task_s" -> j.taskS,
        "gc_s" -> j.gcS, "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "spill" -> j.spill, "input_bytes" -> j.inputBytes, "input_rows" -> j.inputRows,
        "result_bytes" -> j.resultBytes, "output_bytes" -> j.outputBytes)
    }
    java.nio.file.Files.writeString(path, lines.map(GraftBench.json.writeValueAsString(_) + "\n").mkString)
  }
}
