package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional third arg: comma-separated query names (default: all) —
    // local iteration aid; the driver always runs the full set.
    val keep: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_: String) => true
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // Failed queries must cost a visible `err` row in the driver's
    // correctness artifact, not silently vanish from the scoreboard (the
    // r7 events-ts regression surfaced as 56 *missing* rows instead of 56
    // recorded failures). Collect per-query errors and always write
    // errors.json — empty `{}` when everything dumped — so missing vs
    // failed is machine-distinguishable.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Non-vacuity floor: an empty-vs-empty hash match is a vacuous
        // gate. Count the WRITTEN parquet (footer-metadata count — no
        // recompute) against the declared floor; a shortfall is a
        // recorded error, not a silent green.
        val n = spark.read.parquet(s"$outDir/$name").count()
        val floor = SparkEntry.minRows(name)
        if (n < floor)
          errors(name) = s"vacuous: $n rows < declared min_rows floor $floor"
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(2000)}"
      }
      finally spark.catalog.clearCache() // per-query caches must not leak across queries
    }
    OracleDump.writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    OracleDump.writeJson(s"$outDir/errors.json", errors.toMap)
    spark.stop()
  }
}
