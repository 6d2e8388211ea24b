package graft

import org.apache.spark.sql.SparkSession

/** The one local Spark session the mains and the specs run on. */
object Sessions {

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * no UI and WARN logging. `cpus` defaults to `SPARK_GRAFT_CPUS`, else 32.
    * A session that already runs in the JVM is reused, with these SQL
    * settings applied to it. */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
