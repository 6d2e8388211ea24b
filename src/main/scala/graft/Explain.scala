package graft

/** Plan inspector: `runMain graft.Explain <query>[,<query>...] [sfDir]`
  * prints each query's formatted physical plan (pushdown, broadcast,
  * codegen spans) — the review loop for SURVEY §5's scale claims. */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args(0).split(",").toSeq else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.local(4)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
