package graft

import java.nio.file.Files

import graft.sources.Tables
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** `Tables` reads each parquet schema from its footer on the driver: the
  * schema must be the one Spark's own inference gives, and a load must
  * launch no Spark job. */
class FooterSchemaSpec extends SparkSpec with SparkJobs {

  private def inferred(path: String) = spark.read.parquet(path).schema

  test("the footer schema equals Spark's inferred schema for every sf0.001 table") {
    // events' ts may be TIMESTAMP(NANOS): both reads need the flag Tables sets
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tables = new java.io.File(sfDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(tables.contains("events.parquet") && tables.contains("embeddings.parquet"))
    tables.foreach { t =>
      val p = s"$sfDir/$t"
      assert(FooterSchema.read(spark, p) === Some(inferred(p)), t)
    }
  }

  test("a Spark-written directory: the first part file's schema, summaries and " +
    "hidden files skipped; a path with no parquet file falls back to Spark") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-footer").toString
    val p = s"$dir/t.parquet"
    Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "s", "x")
      .repartition(2).write.parquet(p)
    assert(new java.io.File(p).listFiles().exists(_.getName == "_SUCCESS"))
    assert(FooterSchema.read(spark, p) === Some(inferred(p)))
    assert(Tables.parquet(spark, p).collect().length === 2)
    // several roots: their files sort together, so the first file in path
    // order gives the schema, not the first root's
    val q = s"$dir/u.parquet"
    Seq((3L, "c", 4.5, 7)).toDF("id", "s", "x", "extra").write.parquet(q)
    assert(FooterSchema.read(spark, q, p) === Some(spark.read.parquet(q, p).schema))
    assert(FooterSchema.read(spark, q, p) === Some(inferred(p)))
    assert(Tables.parquet(spark, q, p).collect().length === 3)
    assert(FooterSchema.read(spark, s"$dir/absent.parquet").isEmpty)
    assert(FooterSchema.read(spark, p, s"$dir/absent.parquet").isEmpty)
    intercept[org.apache.spark.sql.AnalysisException] {
      Tables.parquet(spark, s"$dir/absent.parquet")
    }
  }

  test("loading a table launches no Spark job") {
    val (emb, jobs) = jobsOf(Tables.embeddings(spark, sfDir))
    assert(jobs.isEmpty, s"${jobs.size} jobs")
    val (events, eventJobs) = jobsOf(Tables.events(spark, sfDir))
    assert(eventJobs.isEmpty, s"${eventJobs.size} jobs")
    assert(emb.schema === inferred(s"$sfDir/embeddings.parquet"))
    assert(events.columns.contains("ts_us"))
  }
}
