package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._

/** Parquet table loaders plus the attribution-schema derivations.
  *
  * Mirrors the reference data model (`challenge_db_create.sql:1-27`) by
  * deriving `conversions` / `session_sources` / `session_costs`
  * deterministically from the `events` table — see SURVEY.md §3. The same
  * derivations appear verbatim in the DuckDB oracle SQL
  * ([[graft.Oracles]]), so both engines compute from identical inputs.
  *
  * Scale note: these are thin projections/filters over columnar scans —
  * Catalyst pushes the `event_type` predicates and column pruning into the
  * parquet reader, so each derivation reads only the columns it needs.
  */
object Tables {

  /** The `events.ts` physical encoding is owned by the test-data generator
    * and has shipped as BOTH parquet TIMESTAMP(NANOS) and TIMESTAMP_NTZ(µs)
    * across rounds, so the loader must survive either. The legacy
    * `nanosAsLong` flag makes a NANOS column load as raw LongType (Spark
    * cannot read NANOS as a timestamp — [PARQUET_TYPE_ILLEGAL]) and is a
    * no-op for µs-encoded columns, so it is always safe to set.
    */
  private def withNanosFlag(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** A parquet read whose schema comes from the footer Spark's own
    * inference would read, read on the driver
    * ([[org.apache.spark.sql.execution.datasources.parquet.FooterSchema]]):
    * the same schema without Spark's inference job. A path with no parquet
    * file falls back to the plain read and its error. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    FooterSchema.read(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    parquet(spark, s"$dir/$name.parquet")
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Raw events with derived `ts_us` (epoch µs) and `event_date` (UTC),
    * branching on the `ts` dtype the parquet footer actually resolved to:
    *
    *   - LongType (NANOS file + legacy flag)   → `ts DIV 1000` — integer
    *     division truncates toward zero for positive epochs, bit-identical
    *     to DuckDB's µs-truncating read of the same column.
    *   - TIMESTAMP_NTZ (µs, isAdjustedToUTC=false) → wall-clock equals UTC
    *     instant for this generator; every session here pins
    *     `spark.sql.session.timeZone=UTC`, making the NTZ→LTZ cast exact,
    *     so `unix_micros(cast(ts as timestamp))` lands on the identical
    *     values DuckDB's `epoch_us(ts)` produces.
    *   - TIMESTAMP (LTZ µs) → `unix_micros(ts)` directly.
    *
    * `event_date` is derived from the same µs value in UTC so all three
    * encodings agree byte-for-byte downstream. */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsWindowed(spark, dir, None, None)

  /** Events restricted to an optional `[startDate, endDateInclusive]` UTC
    * date window — the reference's windowed re-run shape (`main.py:323`,
    * `db_utils.py:67-103`).
    *
    * The window is applied directly on the RAW `ts` column, phrased per
    * physical encoding (ns-long literal for the legacy LongType branch,
    * `LocalDateTime` literal for NTZ, `Instant` literal for LTZ), so the
    * bound lands in the parquet scan's `PushedFilters` and row-group
    * statistics prune — a filter on the DERIVED `event_date`
    * (`timestamp_micros(ts_us)`) can never push, which at 100 TB means a
    * full-table read for a one-week extract. The raw bound is exact, not
    * just a prune: for positive epochs, `date(ts) >= d ⟺ ts >=
    * d 00:00 UTC` under every branch's µs/ns truncation, so callers that
    * keep a redundant derived-column filter do so for drift-safety, not
    * correctness. */
  def eventsWindowed(
      spark: SparkSession,
      dir: String,
      startDate: Option[String],
      endDateInclusive: Option[String]): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val raw = parquet(withNanosFlag(spark), s"$dir/events.parquet")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val NanosPerDay = 86400L * 1000000000L
    def bound(day: java.time.LocalDate, lowerInclusive: Boolean): Column = {
      val c = raw.schema("ts").dataType match {
        case LongType               => lit(day.toEpochDay * NanosPerDay)
        case _: TimestampNTZType    => lit(day.atStartOfDay())
        case _                      => lit(java.time.Instant.parse(s"${day}T00:00:00Z"))
      }
      if (lowerInclusive) col("ts") >= c else col("ts") < c
    }
    val lo = startDate.map(d => bound(java.time.LocalDate.parse(d), lowerInclusive = true))
    val hi = endDateInclusive.map(d =>
      bound(java.time.LocalDate.parse(d).plusDays(1), lowerInclusive = false))
    val bounded = (lo.toSeq ++ hi.toSeq).foldLeft(raw)(_ filter _)
    val tsUs = raw.schema("ts").dataType match {
      case LongType => expr("ts DIV 1000")
      case _: TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts"))
    }
    bounded
      .withColumn("ts_us", tsUs)
      .withColumn("event_date", timestamp_micros(col("ts_us")).cast("date"))
  }

  /** conversions(conv_id, user_id, conv_ts_us, conv_date, revenue) —
    * reference `conversions` table (`challenge_db_create.sql:1-8`). */
  def deriveConversions(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("conv_id"),
        col("user_id"),
        col("ts_us").as("conv_ts_us"),
        col("event_date").as("conv_date"),
        col("value").as("revenue"))

  def conversions(spark: SparkSession, dir: String): DataFrame =
    deriveConversions(events(spark, dir))

  /** session_sources analog (`challenge_db_create.sql:17-27`): every
    * non-purchase event is a session; its event_type is the marketing
    * channel; engagement flags are deterministic functions of the type. */
  def deriveSessions(events: DataFrame): DataFrame = sessionsWith(events)

  /** [[deriveSessions]] plus each session's `cost`: its
    * [[deriveSessionCosts]] cost, null on an unpaid channel — the
    * reference's sessions ⟕ session_costs (`reporting.py:15-103`) done row
    * by row, exact because event ids are unique. */
  def deriveCostedSessions(events: DataFrame): DataFrame =
    sessionsWith(events, when(col("event_type").isin(PaidChannels: _*), paidCost).as("cost"))

  private def sessionsWith(events: DataFrame, extra: Column*): DataFrame =
    events
      .filter(col("event_type") =!= "purchase")
      .select(Seq(
        col("event_id").as("session_id"),
        col("user_id"),
        col("ts_us"),
        col("event_date"),
        col("event_type").as("channel_name"),
        when(col("event_type").isin("click", "view"), 1).otherwise(0).as("holder_engagement"),
        when(col("event_type").isin("click", "signup"), 1).otherwise(0).as("closer_engagement"),
        when(col("event_type") === "view", 1).otherwise(0).as("impression_interaction")) ++
        extra: _*)

  def sessions(spark: SparkSession, dir: String): DataFrame =
    deriveSessions(events(spark, dir))

  private val PaidChannels = Seq("click", "view")
  private def paidCost: Column = col("value") / 20.0

  /** session_costs analog (`challenge_db_create.sql:11-15`): only paid
    * channels (click/view) carry a cost row, so downstream LEFT JOINs see
    * genuine misses (reference `db_utils.py:121-125`). */
  def deriveSessionCosts(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin(PaidChannels: _*))
      .select(col("event_id").as("session_id"), paidCost.as("cost"))

  def sessionCosts(spark: SparkSession, dir: String): DataFrame =
    deriveSessionCosts(events(spark, dir))
}
