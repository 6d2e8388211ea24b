package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Pins `Tables.events` against every physical encoding the driver-owned
  * test-data generator has shipped for `events.ts` — BIGINT nanos (what a
  * TIMESTAMP(NANOS) file resolves to under the legacy `nanosAsLong` flag),
  * TIMESTAMP_NTZ(µs), and TIMESTAMP(µs) — asserting all three derive the
  * identical `ts_us` / `event_date`. The r7 regression (generator moved
  * ns → µs under the repo, 56 correctness rows + 64 specs went red) can
  * never silently recur: a new encoding fails HERE, in seconds, by name.
  */
class EventsEncodingSpec extends SparkSpec {

  // Two instants that straddle a UTC date boundary so event_date is a real
  // derivation, not a constant: 2024-03-10 23:59:59.123456 / +1s.
  private val usA = 1710115199123456L
  private val usB = 1710115200123456L

  private def base = Seq(
    (1L, usA, 10L, "click", 5.0, """{"k":1}"""),
    (2L, usB, 11L, "purchase", 7.5, """{"k":2}"""))

  private def writeFixture(encode: (Long, Long, Long, String, Double, String) => Row,
                           tsType: DataType): String = {
    val dir = Files.createTempDirectory("graft_events_enc").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val rows = base.map { case (id, us, uid, typ, v, p) => encode(id, us, uid, typ, v, p) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def derived(dir: String): Seq[(Long, Long, String)] =
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts_us"), col("event_date").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sortBy(_._1)

  private val expected = Seq(
    (1L, usA, "2024-03-10"),
    (2L, usB, "2024-03-11"))

  test("long-nanos ts derives exact ts_us and event_date") {
    val dir = writeFixture((id, us, uid, typ, v, p) =>
      // nanos with sub-µs residue: DIV 1000 must truncate it away
      Row(id, us * 1000L + 789L, uid, typ, v, p), LongType)
    assert(derived(dir) == expected)
  }

  test("TIMESTAMP_NTZ(us) ts derives exact ts_us and event_date") {
    val dir = writeFixture((id, us, uid, typ, v, p) =>
      Row(id, java.time.LocalDateTime.ofEpochSecond(
        us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
        uid, typ, v, p), TimestampNTZType)
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampNTZType)
    assert(derived(dir) == expected)
  }

  test("TIMESTAMP(us, ltz) ts derives exact ts_us and event_date") {
    val dir = writeFixture((id, us, uid, typ, v, p) =>
      Row(id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        us / 1000000L, (us % 1000000L) * 1000L)), uid, typ, v, p), TimestampType)
    assert(derived(dir) == expected)
  }

  test("driver testdata loads and derives a valid ts_us whatever its encoding") {
    val df = Tables.events(spark, sfDir)
    val r = df.agg(
      count(lit(1)),
      count(when(col("ts_us").isNull, 1)),
      count(when(col("event_date").isNull, 1))).collect()(0)
    assert(r.getLong(0) > 0, "events table empty")
    assert(r.getLong(1) == 0L, "null ts_us rows")
    assert(r.getLong(2) == 0L, "null event_date rows")
  }

  /** One fixture dir per `ts` encoding, by name. */
  private def fixtures: Seq[(String, String)] = Seq(
    "nanos" -> writeFixture((id, us, uid, typ, v, p) =>
      Row(id, us * 1000L + 789L, uid, typ, v, p), LongType),
    "ntz" -> writeFixture((id, us, uid, typ, v, p) =>
      Row(id, java.time.LocalDateTime.ofEpochSecond(
        us / 1000000L, (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
        uid, typ, v, p), TimestampNTZType),
    "ltz" -> writeFixture((id, us, uid, typ, v, p) =>
      Row(id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        us / 1000000L, (us % 1000000L) * 1000L)), uid, typ, v, p), TimestampType))

  test("the events footer schema Tables reads equals Spark's inferred one, " +
    "under every encoding") {
    import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
    Tables.events(spark, sfDir) // sets the nanosAsLong flag both reads need
    fixtures.foreach { case (name, dir) =>
      val p = s"$dir/events.parquet"
      assert(FooterSchema.read(spark, p) === Some(spark.read.parquet(p).schema), name)
    }
  }

  test("eventsWindowed: raw-ts bounds are exact AND pushed, under every encoding") {
    fixtures.foreach { case (name, dir) =>
      // [2024-03-11, 2024-03-11] keeps exactly event 2 (the +1s row)
      val win = Tables.eventsWindowed(spark, dir, Some("2024-03-11"), Some("2024-03-11"))
      assert(win.select("event_id").collect().map(_.getLong(0)).toSeq === Seq(2L),
        s"$name: wrong rows in window")
      // no-bounds form stays identical to Tables.events
      assert(Tables.eventsWindowed(spark, dir, None, None).count() === 2L)
      // BOTH raw-ts bounds reach the parquet scan
      val pushed = win.queryExecution.sparkPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metadata("PushedFilters")
      }.mkString(";")
      assert(pushed.contains("GreaterThanOrEqual(ts") && pushed.contains("LessThan(ts"),
        s"$name: ts bounds not pushed: $pushed")
    }
  }
}
