package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Optional arg: comma-separated query names (default: all).
    val selected: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      if (args.nonEmpty) {
        val keep = args(0).split(",").toSet
        SparkEntry.queries.filter { case (k, _) => keep(k) }
      } else SparkEntry.queries
    warmup(spark)
    // Best-of-N per query (default 2): a shared box's load spikes inflate
    // single-shot timings up to ~10×; the minimum over the runs is a far
    // better estimate of the plan's actual cost. SUB-SECOND queries get
    // extra reps (4 total): their absolute timings are small enough that
    // host noise produces ≥1.6× round-over-round swings at 2 reps, which
    // would eventually mask a real regression — min AND median over more
    // samples are both recorded so a reader can separate plan cost (min)
    // from the noise floor (median − min).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val subSecondReps = math.max(4, reps)
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    final case class Timing(min: Double, median: Double, n: Int, load: Double)
    val results = selected.map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
          }
          finally spark.catalog.clearCache() // per-query caches must not skew later queries
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      var times = (1 to reps).map(_ => once()).toVector
      while (!times.contains(-1.0) && times.min < 1.0 && times.size < subSecondReps)
        times :+= once()
      val timing =
        if (times.contains(-1.0)) Timing(-1.0, -1.0, times.size, loadAvg)
        else {
          val s = times.sorted
          val med =
            if (s.size % 2 == 1) s(s.size / 2)
            else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
          Timing(s.head, med, s.size, loadAvg)
        }
      name -> timing
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    val detail = results.map { case (k, v) =>
      s"\"" + k + s"""":{"min":${v.min},"median":${v.median},"reps":${v.n},"load_avg":${v.load}}"""
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_.min).sum else 0.0
    // Incremental-cadence stage (full runs only): N successive daily
    // Pipeline.run deltas against a fresh state dir. The O(extract+delta)
    // claim is that per-run wall time stays FLAT as committed history
    // grows — these numbers are the measured proof (earlier runs carry
    // one-time costs; the flatness signal is runs 2..N-1 vs the final).
    val pipelineDaily: String =
      if (args.nonEmpty) "null"
      else {
        val stateDir = java.nio.file.Files.createTempDirectory("graft_bench_pipe").toString
        val cuts = Seq(Some("2024-01-05"), Some("2024-01-10"), Some("2024-01-15"),
          Some("2024-01-20"), Some("2024-01-25"), None)
        val runs = cuts.map { c =>
          val t0 = System.nanoTime()
          val s = Pipeline.run(spark, sfDir, stateDir, endDate = c)
          ((System.nanoTime() - t0) / 1e9, s.newConversions)
        }
        val secs = runs.map(_._1)
        // flatness over the UNIFORM-cadence delta runs (2..N-1): run 1
        // pays one-time setup, the final unbounded run is a different
        // shape (full-window extract + possible self-compaction)
        val mid = secs.slice(1, secs.size - 1)
        val flat = if (mid.size > 1 && mid.min > 0) mid.max / mid.min else 1.0
        s"""{"sec":[${secs.map(t => f"$t%.3f").mkString(",")}],""" +
          s""""new_conversions":[${runs.map(_._2).mkString(",")}],""" +
          f""""delta_max_over_min":$flat%.3f}"""
      }
    // system load average: timings on a shared box carry noise proportional
    // to this — recorded overall AND per query group (in `detail`)
    val load = loadAvg
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"detail":$detail,"pipeline_daily":$pipelineDaily,"sf":"$sfDir","load_avg":$load,"reps":$reps}"""
    println(json)
    // Self-describing trailer: the full JSON line above has outgrown the
    // driver's ~2 KB stdout-tail capture three rounds running (BENCH_r10/
    // r11/r12 all record "parsed": null), so a reader of the official
    // artifact lost the headline total. This compact LAST line always fits
    // in the tail; the BENCH_SUMMARY prefix keeps strict one-JSON-line
    // parsers from seeing two candidate lines.
    val bareSummary =
      f"""{"total_sec":$total%.3f,"n":${results.size},"sf":"$sfDir","load_avg":$load%.2f,"reps":$reps}"""
    println("BENCH_SUMMARY " + bareSummary)
    // BENCH_r10-r13 all record "parsed": null: sbt's in-process run
    // redirects System.out through its logger, so every println above
    // reaches the driver prefixed with "[info] " and never parses as
    // bare JSON. FileDescriptor.out is the real process fd 1, untouched
    // by System.setOut — writing the summary there lands it as a bare
    // final JSON line in the driver's stdout tail. Deliberately not
    // closed (it IS the process stdout); autoflush instead.
    new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true)
      .println(bareSummary)
    // also persisted to a file — the driver's stdout tail truncated 9 of 67
    // per-query timings in round 2. ONLY the full (unfiltered) run may
    // write a file, and only SPARK_GRAFT_BENCH_COMMIT=1 may touch the
    // committed BENCH_LOCAL.json snapshot: an unflagged full run (the
    // driver's per-round run, smoke runs) has clobbered the committed
    // min-merge three times now (3fc9cf8, 8013df5, r11's driver run) —
    // those land in a run-stamped side file instead.
    if (args.isEmpty) {
      val out =
        if (sys.env.get("SPARK_GRAFT_BENCH_COMMIT").contains("1")) "BENCH_LOCAL.json"
        else s"target/bench_run_${System.currentTimeMillis()}.json"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(out).toAbsolutePath.getParent)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    }
    spark.stop()
  }

  /** JIT/codegen warmup on tiny in-memory data so measured queries aren't
    * charged for one-time JVM compilation of the shared expression paths
    * (md5/conv, windows, higher-order functions, hash joins, explode).
    * Touches no benchmark input. */
  private def warmup(spark: SparkSession): Unit = {
      val w = spark.range(200000).selectExpr(
        "id", "CAST(id % 97 AS INT) AS g", "md5(CAST(id AS STRING)) AS h",
        "array(CAST(id AS FLOAT), CAST(id+1 AS FLOAT)) AS v")
      w.selectExpr(
        "CAST(conv(substring(h, 1, 15), 16, 10) AS BIGINT) % 2147483647 AS hw",
        "aggregate(zip_with(v, v, (x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))), CAST(0 AS DECIMAL(20,12)), (a, b) -> CAST(a + b AS DECIMAL(20,12))) AS d",
        "g").groupBy("g").agg(org.apache.spark.sql.functions.expr("min(hw)")).count()
      w.selectExpr("g", "id", "h").createOrReplaceTempView("warm__")
      spark.sql(
        """SELECT g, sum(r) FROM (
           SELECT g, row_number() OVER (PARTITION BY g ORDER BY id DESC) AS r,
                  lead(id, 1) OVER (PARTITION BY g ORDER BY id) AS nxt
           FROM warm__) t GROUP BY g""").count()
      spark.sql(
        """SELECT count(*) FROM warm__ a JOIN warm__ b ON a.id = b.id
           WHERE a.g < 3""").count()
      spark.range(1000).selectExpr("explode(sequence(0, 15)) AS j").count()
      // Warm the parquet datasource path (footer reader, vectorized column
      // readers, write committers) on a throwaway file so the first
      // measured query isn't charged for it. Touches no benchmark input.
      val warmDir = java.nio.file.Files.createTempDirectory("graft_warm").toString
      spark.range(10000)
        .selectExpr("id", "CAST(id AS STRING) AS s", "CAST(id AS DOUBLE) AS d",
          "array(CAST(id AS FLOAT)) AS v", "timestamp_micros(id) AS ts")
        .write.mode("overwrite").parquet(s"$warmDir/t")
      spark.read.parquet(s"$warmDir/t").filter("id > 100").select("s", "d").count()
      spark.catalog.dropTempView("warm__")
  }
}
