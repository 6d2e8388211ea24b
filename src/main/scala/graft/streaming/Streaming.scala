package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event row for the streaming surface (matches the events table after
  * [[graft.sources.Tables.events]] derivation). */
final case class Event(
    event_id: Long,
    ts_us: Long,
    user_id: Long,
    event_type: String,
    value: Double)

/** Per-user open-session accumulator carried in GroupState. */
final case class SessionState(
    sessionIdx: Long,
    startUs: Long,
    lastTsUs: Long,
    nEvents: Long)

/** A closed session emitted downstream. */
final case class SessionOut(
    user_id: Long,
    session_idx: Long,
    n_events: Long,
    session_start_us: Long,
    session_end_us: Long)

/** A pending (not yet attributed) session in per-user state. */
final case class PendingSession(
    session_id: Long,
    ts_us: Long,
    holder: Int,
    closer: Int)

/** Per-user state for the hardened streaming IHC ([[Streaming.attributeIhcOrdered]]):
  * events buffered until the watermark finalizes their order, plus the
  * unassigned sessions of the open journey. */
final case class IhcBufState(
    buffered: Vector[Event],
    pending: Vector[PendingSession])

/** One attributed (conversion, session) credit row. */
final case class IhcRow(conv_id: Long, session_id: Long, ihc: Double)

/** A channel touch in the streaming transition-count input (the session
  * extract's shape, minus the engagement flags). */
final case class SessionTouch(
    user_id: Long,
    session_id: Long,
    ts_us: Long,
    channel_name: String)

/** Per-user state for [[Streaming.transitionCounts]]: the last touch seen. */
final case class LastTouch(ts_us: Long, session_id: Long, channel_name: String)

/** Per-user state for [[Streaming.transitionCounts2]]: the last SECOND-
  * ORDER composite state plus the last raw channel — two strings per
  * user, however long the stream. */
final case class LastTouch2(lastComposite: String, lastChannel: String)

/** One transition-count increment emitted by [[Streaming.transitionCounts]]. */
final case class TransitionInc(from_channel: String, to_channel: String, n: Long)

/** Per-user open SCD2 interval carried in GroupState by
  * [[Streaming.scd2State]] — one fixed-size record per user, forever. */
final case class Scd2OpenState(
    version: Long, state: String, validFromUs: Long, nEvents: Long)

/** A CLOSED SCD2 version emitted by [[Streaming.scd2State]]; the open
  * version lives only in state (it has no valid_to yet). */
final case class Scd2Closed(
    user_id: Long, version: Long, state: String,
    valid_from_us: Long, valid_to_us: Long, n_events: Long)

/** Per-event-type trailing-window state carried by [[Streaming.anomalyZ]]:
  * up to 7 closed (day, count) observations plus the one open day —
  * bounded at 8 pairs per event type, forever. */
final case class AnomalyState(
    days: Seq[Long], ns: Seq[Long], openDay: Long, openN: Long)

/** One completed-day anomaly verdict emitted by [[Streaming.anomalyZ]]. */
final case class AnomalyOut(
    event_type: String, epoch_day: Long, n: Long,
    mean7: Double, std7: Double, zscore: Double, is_anomaly: Boolean)

/** Open-day accumulator for [[Streaming.ewmaSmooth]]: the day's exact
  * micro-scaled sum plus the running smoothed value. */
final case class EwmaState(openDay: Long, sumMicros: Long, ewma: Double, hasPrev: Boolean)

/** One closed day emitted by [[Streaming.ewmaSmooth]]. */
final case class EwmaOut(key: String, epoch_day: Long, revenue: Double, ewma: Double)

/** Per-user open-journey state for [[Streaming.timeToConvert]]: the event
  * times of the first and last sessions not yet consumed by a conversion
  * — two longs per user, forever (the greedy-assignment invariant means
  * nothing else about the journey is needed to produce its latency; the
  * last-ts field exists only to keep an exactly-at-conversion-time
  * session pending for the next journey, the batch "strictly before"
  * rule). */
final case class TtcState(firstSessionUs: Long, lastSessionUs: Long, hasPending: Boolean)

/** One converted journey's latency emitted by [[Streaming.timeToConvert]]. */
final case class TtcOut(
    conv_id: Long, user_id: Long, conv_ts_us: Long,
    journey_start_us: Long, lag_us: Long)

/** Per-user open-journey touch buffer for [[Streaming.channelOverlapIncs]]:
  * the (ts, channel) touches not yet consumed by a conversion — bounded
  * by journey length, the [[IhcBufState]] growth profile. */
final case class OverlapState(pending: Vector[(Long, String)])

/** One per-journey channel-pair increment emitted by
  * [[Streaming.channelOverlapIncs]]. */
final case class OverlapInc(conv_id: Long, ch_a: String, ch_b: String, n: Long)

/** One closed journey's touch count emitted by
  * [[Streaming.journeyLengths]]. */
final case class JourneyLen(conv_id: Long, n_touches: Long, revenue: Double)

/** A document in the streaming ingest surface (the documents table's
  * shape plus the ingest event time that drives the dedup watermark). */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, ts_us: Long)

/** A streamed embedding row for [[Streaming.semanticNearMarks]]. */
final case class Vec(vec_id: Long, ts_us: Long, embedding: Seq[Float])

/** Per-text-hash dedup state carried by [[Streaming.dedupExact]] —
  * BOUNDED per group: one long. Group count is distinct-text
  * cardinality, the same growth the batch fingerprint store pays. */
final case class DedupSeen(doc_id: Long)

/** Reorder-buffer states for the watermark-hardened twins ([[Streaming.scd2StateOrdered]],
  * [[Streaming.dedupExactOrdered]], [[Streaming.noveltyMarksOrdered]],
  * [[Streaming.timeToConvertOrdered]], [[Streaming.channelOverlapIncsOrdered]],
  * [[Streaming.journeyLengthsOrdered]]):
  * rows wait in `buffered` until the watermark passes their event time. */
final case class Scd2BufState(buffered: Vector[Event], open: Option[Scd2OpenState])
final case class TtcBufState(buffered: Vector[Event], inner: TtcState)
final case class OverlapBufState(buffered: Vector[Event], pending: Vector[(Long, String)])
final case class DedupBufState(buffered: Vector[(Long, Long)], admitted: Boolean)
final case class NoveltyBufState(buffered: Vector[(Long, Long)], taken: Boolean)

/** One admission emitted by [[Streaming.dedupExact]] for the FIRST
  * occurrence of each distinct text. */
final case class DedupAdmit(doc_id: Long, text_hash: String)

/** One doc exploded to one of its 20 Manku band keys — the unit of the
  * [[Streaming.simhashNearMarks]] admission stream. */
final case class BandedSim(band: Int, band_key: Long, doc_id: Long, ts_us: Long, simhash: Long)

/** Per-(band, band_key) membership carried by
  * [[Streaming.simhashNearMarks]]: every (doc_id, simhash) this bucket
  * has seen. Bucket populations are bounded by the 32–33-bit Manku keys
  * (~20·n/2³² expected members per bucket), the same argument that keeps
  * the batch candidate join linear. */
final case class BandMembers(members: Vector[(Long, Long)])

/** Reorder-buffer state for [[Streaming.simhashNearMarksOrdered]]:
  * (ts_us, doc_id, simhash) triples wait until the watermark passes. */
final case class BandBufState(
    buffered: Vector[(Long, Long, Long)], members: Vector[(Long, Long)])

/** One near-dup discovery emitted by [[Streaming.simhashNearMarks]]:
  * the arriving doc collided with an already-seen member of one of its
  * Manku band buckets within `hamming` ≤ 3. Distinct over
  * (doc_a, doc_b, hamming) ≡ the batch `simhashNear` pair set. */
final case class NearDupMark(doc_a: Long, doc_b: Long, band: Int, hamming: Int)

/** Per-shingle novelty state carried by [[Streaming.noveltyMarks]]:
  * the first doc that introduced this shingle — one long per distinct
  * shingle, the fingerprint-store growth profile. */
final case class NoveltySeen(first_doc: Long)

/** One (doc, shingle) novelty mark emitted by
  * [[Streaming.noveltyMarks]]: `novel` iff this doc introduced the
  * shingle to the stream. */
final case class NoveltyMark(doc_id: Long, sid: Long, novel: Boolean)

/** Per-user windowed-funnel progress carried in GroupState: the reached
  * step times of the view→click→signup→purchase chain — 4 optional
  * longs per user, forever. */
final case class FunnelState(
    t1: Option[Long], t2: Option[Long], t3: Option[Long], t4: Option[Long])

/** The current funnel row emitted per user each micro-batch. */
final case class FunnelOut(
    user_id: Long,
    t1: Option[Long], t2: Option[Long], t3: Option[Long], t4: Option[Long],
    funnel_depth: Long)

/** One hashed observation feeding [[Streaming.kmvCounts]]. */
final case class KmvObs(channel: String, h: Long)

/** One AMS sign-grid cell observation / state row: the per-(channel,
  * row, bucket) running sign sum of [[Streaming.amsGrid]]. */
final case class AmsCell(channel: String, r: Int, bucket: Long, s: Long)

/** Per-channel bottom-k hash state — BOUNDED: at most k longs per
  * channel forever. */
final case class KmvState(hashes: Vector[Long])

/** A per-channel KMV estimate emitted each micro-batch. */
final case class KmvEstimate(channel: String, n_kept: Long, est_distinct: Double)

/** One hashed register observation feeding [[Streaming.hllCounts]]. */
final case class HllReg(channel: String, idx: Int, rnk: Int)

/** Per-channel HLL register state (m = 64) — BOUNDED: 64 ints per
  * channel forever, whatever the stream volume. */
final case class HllState(ranks: Array[Int])

/** A per-channel HLL estimate emitted each micro-batch. */
final case class HllEstimate(channel: String, n_registers_hit: Long, est_hll: Double)

/** One item observation feeding [[Streaming.topHitters]]. */
final case class HitterObs(channel: String, item: String)

/** Per-channel SpaceSaving counter table — BOUNDED: at most m
  * (item, count) entries per channel forever, whatever the stream
  * volume or item cardinality. */
final case class HitterState(counts: Map[String, Long])

/** One current heavy-hitter row emitted per channel each micro-batch. */
final case class HitterTop(channel: String, item: String, est_count: Long, rank: Int)

/** One histogram-bin observation feeding [[Streaming.histQuantiles]]. */
final case class HistObs(channel: String, b: Int)

/** Per-channel histogram state — BOUNDED: 4096 longs per channel
  * forever, whatever the stream volume. */
final case class HistQState(counts: Array[Long])

/** Per-channel quantile-threshold estimates emitted each micro-batch. */
final case class HistQEstimate(
    channel: String, n: Long,
    p50_cents_est: Long, p90_cents_est: Long, p99_cents_est: Long)

/** One state-store operator's health snapshot from a streaming query's
  * last progress — the observability surface for stateful streams.
  * `num_rows_dropped_by_watermark` counts arrivals whose event time was
  * already below the watermark (disorder beyond the declared `delay`):
  * the exec discards those BEFORE the stateful function sees them, so
  * any `...Ordered` twin's bit-equality guarantee degrades exactly when
  * this counter moves — a monitoring sink alerting on it is the
  * required production signal, not an optional nicety. */
final case class StateMetrics(
    operator: String,
    num_rows_total: Long,
    num_rows_updated: Long,
    memory_used_bytes: Long,
    num_rows_dropped_by_watermark: Long)

/** Listener-accumulated cumulative watermark-drop counter — the
  * production form of [[Streaming.droppedLateRows]]. That helper sums
  * `recentProgress`, a BOUNDED ring buffer (default 100 entries), so a
  * long-running query's drop total silently loses everything older than
  * the retention window — the degraded-mode alert the `Ordered` twins
  * rely on could read 0 after real drops aged out. This listener
  * receives every completed micro-batch's progress event EXACTLY ONCE
  * (delivery is per-event, independent of the ring's retention) and
  * accumulates per query id, so the total is exact for the lifetime of
  * the attachment however long the query runs.
  *
  * Attach via [[Streaming.dropCounter]] BEFORE the first micro-batch
  * (events before attachment are not replayed). Events arrive on the
  * async listener bus — readers needing batch-exact totals should poll.
  * Totals survive query restarts that keep the same query id
  * (checkpoint resume) and are keyed apart for distinct queries. */
final class DropCounter
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  private val drops = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val d = event.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum
    if (d > 0)
      drops.merge(event.progress.id, java.lang.Long.valueOf(d),
        (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  /** Exact cumulative drops observed for `query` since attachment. */
  def dropped(query: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(drops.get(query.id)).map(_.longValue()).getOrElse(0L)

  /** Remove this listener from `spark`'s streams bus. */
  def detach(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.streams.removeListener(this)
}

/** Structured Streaming surface (SURVEY §2.D).
  *
  * The same logical operators as the batch twins (`stream_windowed_counts`,
  * `events_sessionize`) expressed over unbounded input: watermarked window
  * aggregation, and custom session state via `flatMapGroupsWithState`.
  * State is keyed by `user_id` — at cluster scale the state store shards
  * across executors with the shuffle partitioning, and the watermark bounds
  * state size for the window aggregate.
  */
object Streaming {

  /** Watermarked tumbling-window counts — the streaming twin of the D1
    * batch query (same output schema). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", "2 hours")
      .groupBy(window(col("event_ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Stream-stream INTERVAL JOIN — view→click attribution joined live:
    * every click pairs with the same user's views from the preceding
    * `maxLagUs` microseconds. Both sides are watermarked and the join
    * condition bounds click time to `[view_ts, view_ts + lag]`, which is
    * what lets Structured Streaming EVICT state: a buffered view can
    * stop matching once the click watermark passes `view_ts + lag`, so
    * per-executor join state is (arrival rate × lag), never the stream
    * history. This is the canonical two-stream correlation at cluster
    * scale — the join keys shard the state store, and the batch twin is
    * the A17-style range join (spec-proven equal on replayed input). */
  def viewClickJoin(
      views: DataFrame, clicks: DataFrame,
      maxLagUs: Long = 3600000000L): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        timestamp_micros(col("ts_us")).as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        timestamp_micros(col("ts_us")).as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    v.join(c,
      col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $maxLagUs MICROSECONDS"))
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
  }

  /** Streaming-native IHC attribution: the reference's greedy journey
    * assignment (`journey_builder.py:45-105`) is intrinsically a streaming
    * computation — each conversion claims the user's pending earlier
    * sessions, exactly once. Per-user state holds unassigned sessions; a
    * purchase event closes the journey and emits one [[IhcRow]] per
    * session with the SURVEY §4 IHC spec, bit-identical to the batch
    * `ihc_attribution` query (spec-tested).
    *
    * At scale this is the append-only production path: state is sharded
    * by user across the cluster's state store, output is incremental, and
    * no history is recomputed (vs the batch re-run).
    *
    * Assumptions, stated: (1) per-user event-time order across
    * micro-batches — sources that can deliver late data need a
    * watermark-driven reorder buffer in front (within a micro-batch,
    * order is handled here); (2) state is bounded by pending-session
    * volume per user — a production deployment should add an idle-state
    * timeout to drop abandoned journeys (kept NoTimeout here so the spec
    * comparison against the batch result stays deterministic). */
  def attributeIhc(events: Dataset[Event]): Dataset[IhcRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Vector[PendingSession], IhcRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[Event], state: GroupState[Vector[PendingSession]]) =>
          // Process in event-time order; at equal timestamps purchases come
          // first (strict `<` journey semantics), earlier event_id first.
          val evs = it.toVector.sortBy(e =>
            (e.ts_us, if (e.event_type == "purchase") 0 else 1, e.event_id))
          val (out, pending) =
            processJourneys(evs, state.getOption.getOrElse(Vector.empty), Long.MaxValue)
          state.update(pending)
          out.iterator
      }
  }

  /** The shared greedy-journey core: fold events (already in event-time
    * order) over the user's pending sessions; each purchase claims the
    * pending sessions strictly before it — restricted to those within
    * `ttlUs` of the purchase — and emits one [[IhcRow]] per claimed session
    * per the SURVEY §4 IHC spec. Returns the emitted rows and the remaining
    * pending sessions. */
  private def processJourneys(
      evs: Seq[Event],
      pending0: Vector[PendingSession],
      ttlUs: Long): (Vector[IhcRow], Vector[PendingSession]) = {
    var pending = pending0
    val out = Vector.newBuilder[IhcRow]
    evs.foreach { e =>
      if (e.event_type == "purchase") {
        val claim = (s: PendingSession) =>
          s.ts_us < e.ts_us && e.ts_us - s.ts_us <= ttlUs
        val journey = pending.filter(claim)
        if (journey.nonEmpty) {
          val ordered = journey.sortBy(s => (s.ts_us, s.session_id))
          val n = ordered.size
          val holderSum = ordered.map(_.holder.toLong).sum
          val closerSum = ordered.map(_.closer.toLong).sum
          // conversion-flagged session: latest ts, tie -> min session_id
          val flagged = ordered.minBy(s => (-s.ts_us, s.session_id))
          ordered.zipWithIndex.foreach { case (s, i) =>
            val ini = if (i == 0) 1.0 else 0.0
            val hold =
              if (holderSum > 0) s.holder.toDouble / holderSum.toDouble
              else 1.0 / n.toDouble
            val close =
              if (closerSum > 0) s.closer.toDouble / closerSum.toDouble
              else (if (s.session_id == flagged.session_id) 1.0 else 0.0)
            out += IhcRow(e.event_id, s.session_id, (ini + hold + close) / 3.0)
          }
          pending = pending.filterNot(claim)
        }
      } else {
        pending = pending :+ PendingSession(
          e.event_id, e.ts_us,
          if (e.event_type == "click" || e.event_type == "view") 1 else 0,
          if (e.event_type == "click" || e.event_type == "signup") 1 else 0)
      }
    }
    (out.result(), pending)
  }

  /** Production streaming IHC: [[attributeIhc]] hardened with a
    * watermark-driven reorder buffer and a journey TTL.
    *
    * Reordering: incoming events are BUFFERED in state and only processed
    * once the watermark passes their event time — at that point no earlier
    * event can still arrive (late rows beyond `delay` are dropped, the
    * standard watermark contract), so events are folded into journeys in
    * exact event-time order regardless of how micro-batches interleave.
    * The result is bit-identical to the batch pipeline under ANY
    * cross-batch arrival order (spec-tested with shuffled batches).
    *
    * State TTL: a purchase only claims sessions within `pendingTtlUs` of
    * its event time — an EVENT-TIME rule, so results stay independent of
    * batch boundaries — and the physical state sweep drops pending
    * sessions once the watermark guarantees no future purchase could claim
    * them (`ts < watermark − ttl` implies age > ttl for every future
    * purchase). Abandoned journeys therefore leave state instead of
    * accumulating forever; groups with nothing buffered and nothing
    * pending are removed entirely.
    *
    * Wake-up: an event-time timeout is registered at the earliest buffered
    * event (to flush it when the watermark arrives) or the next TTL expiry
    * (to evict), so a user whose traffic stops still gets flushed/cleaned
    * by watermark progress alone. */
  def attributeIhcOrdered(
      events: Dataset[Event],
      delay: String = "2 hours",
      pendingTtlUs: Long = 30L * 24 * 3600 * 1000000L): Dataset[IhcRow] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", delay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[IhcBufState, IhcRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[Event], state: GroupState[IhcBufState]) =>
          val st = state.getOption.getOrElse(IhcBufState(Vector.empty, Vector.empty))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // arrivals already behind the watermark are late data — dropped
          // (defensively; the operator's input filter does this when the
          // watermark is defined)
          val buf = st.buffered ++ it.filter(_.ts_us >= wmUs)
          // only events strictly before the watermark have a final order;
          // everything else waits for the next watermark advance
          val (ready, keep) = buf.partition(_.ts_us < wmUs)
          val ordered = ready.sortBy(e =>
            (e.ts_us, if (e.event_type == "purchase") 0 else 1, e.event_id))
          val (out, pending1) = processJourneys(ordered, st.pending, pendingTtlUs)
          // unclaimable by any future purchase once ts < watermark − ttl
          // (saturating: a TTL larger than the clock range never evicts)
          val horizon = if (pendingTtlUs > wmUs) Long.MinValue else wmUs - pendingTtlUs
          val pending = pending1.filter(_.ts_us >= horizon)
          if (keep.isEmpty && pending.isEmpty) state.remove()
          else {
            state.update(IhcBufState(keep, pending))
            val nextUs =
              if (keep.nonEmpty) keep.map(_.ts_us).min
              else {
                val oldest = pending.map(_.ts_us).min
                if (Long.MaxValue - pendingTtlUs < oldest) Long.MaxValue
                else oldest + pendingTtlUs
              }
            state.setTimeoutTimestamp(
              math.max(nextUs / 1000L + 1L, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** End-to-end streaming channel reporting: the attributed credit stream
    * ([[attributeIhc]]) joined stream-static against the session/cost/
    * conversion dimensions and aggregated to (channel, date) with the same
    * decimal-exact sums as the batch [[graft.operators.Reporting]] — so in
    * Complete mode the result table converges to the batch report
    * bit-for-bit (spec-tested). */
  def channelReporting(
      events: Dataset[Event],
      sessions: DataFrame,
      sessionCosts: DataFrame,
      conversions: DataFrame): DataFrame = {
    import graft.functions.Exact.dsum
    val credits = attributeIhc(events).toDF()
    credits
      .join(sessions.select("session_id", "channel_name", "event_date"), "session_id")
      .join(sessionCosts, Seq("session_id"), "left")
      .join(conversions.select("conv_id", "revenue"), "conv_id")
      .groupBy(col("channel_name"), col("event_date"))
      .agg(
        dsum(coalesce(col("cost"), lit(0.0))).as("cost"),
        dsum(col("ihc")).as("ihc"),
        dsum(col("ihc") * col("revenue")).as("ihc_revenue"))
      .withColumnRenamed("event_date", "date")
  }

  /** Streaming Markov transition counts — the incremental twin of the
    * per-user lead-window pass inside
    * [[graft.operators.Markov.transitionCounts]]: per-user state holds the
    * LAST touch seen; each arriving touch emits one (prev → current)
    * increment, with `START → current` opening every user's path. Summing
    * the emitted increments at any point equals the batch lead-window
    * counts over the touches processed so far, REGARDLESS of micro-batch
    * boundaries (spec-checked against the batch window across splits) —
    * so the Markov chain's transition matrix can be maintained as a
    * running aggregate instead of recounted from history. Downstream, a
    * `groupBy(from, to).sum(n)` (complete mode, or a watermarked window)
    * turns increments into the matrix the driver-side absorption solve
    * collects; the CONV/NULL terminal edges remain a journey-close
    * concern ([[attributeIhc]]'s purchase events mark those boundaries).
    *
    * Same arrival assumption as [[attributeIhc]], stated: per-user
    * event-time order ACROSS micro-batches (within a batch, order is
    * handled here); reorder-buffer hardening composes exactly as in
    * [[attributeIhcOrdered]]. State is one [[LastTouch]] per user — O(1)
    * per key, sharded across the cluster's state store. */
  def transitionCounts(touches: Dataset[SessionTouch]): Dataset[TransitionInc] = {
    import touches.sparkSession.implicits._
    touches
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTouch, TransitionInc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[SessionTouch], state: GroupState[LastTouch]) =>
          val ordered = it.toVector.sortBy(t => (t.ts_us, t.session_id))
          var last = state.getOption
          val out = Vector.newBuilder[TransitionInc]
          ordered.foreach { t =>
            out += TransitionInc(
              last.map(_.channel_name).getOrElse(graft.operators.Markov.Start),
              t.channel_name, 1L)
            last = Some(LastTouch(t.ts_us, t.session_id, t.channel_name))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** SECOND-ORDER streaming transition counts (SURVEY §2.D14) — the
    * composite-state twin of [[transitionCounts]], feeding the
    * second-order Markov model (A24b): each arrival moves the user from
    * composite state (prev₂, prev₁) to (prev₁, cur), joined with the
    * same 0x1F separator the batch model uses, and emits one increment.
    * State is TWO strings per user regardless of stream length; summed
    * increments converge to the batch composite lead-window counts
    * (spec, across micro-batch splits with scrambled in-batch order). */
  def transitionCounts2(touches: Dataset[SessionTouch]): Dataset[TransitionInc] = {
    import touches.sparkSession.implicits._
    val sep = graft.operators.Markov.StateSep
    val start = graft.operators.Markov.Start
    touches
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTouch2, TransitionInc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[SessionTouch], state: GroupState[LastTouch2]) =>
          val ordered = it.toVector.sortBy(t => (t.ts_us, t.session_id))
          var st = state.getOption.getOrElse(LastTouch2(start, start))
          val out = Vector.newBuilder[TransitionInc]
          ordered.foreach { t =>
            val composite = st.lastChannel + sep + t.channel_name
            out += TransitionInc(st.lastComposite, composite, 1L)
            st = LastTouch2(composite, t.channel_name)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming conversion-latency extraction (SURVEY §2.D23) — the
    * per-journey input of the batch time-to-convert quantiles (B64): on
    * each purchase, emit `conv_ts − first unassigned session ts`, the
    * journey span `Analytics.timeToConvertQuantiles` aggregates. The
    * greedy journey semantics of [[graft.operators.Journeys.assign]]
    * collapse to ONE long of state per user: a conversion consumes every
    * strictly-prior unassigned session, so only the FIRST pending
    * session's event time matters; a session at exactly the conversion's
    * timestamp is NOT strictly prior and stays pending for the next
    * journey, and a sessionless conversion emits nothing (it has no
    * journey row in the batch frame either).
    *
    * Same arrival contract as [[transitionCounts]]/[[scd2State]]:
    * per-user event-time order ACROSS micro-batches, in-batch disorder
    * sorted here with the batch `(ts_us, event_id)` tiebreak; the
    * [[attributeIhcOrdered]] reorder buffer composes for shuffled
    * replay. Downstream, the emitted lags feed any quantile consumer —
    * e.g. [[histQuantiles]] for a bounded-state streaming percentile. */
  def timeToConvert(events: Dataset[Event]): Dataset[TtcOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TtcState, TtcOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[TtcState]) =>
          val ordered = it.toVector.sortBy(e => (e.ts_us, e.event_id))
          val st0 = state.getOption.getOrElse(TtcState(0L, 0L, hasPending = false))
          val (out, st) = ttcFold(uid, ordered, st0)
          state.update(st)
          out.iterator
      }
  }

  /** The greedy journey-latency fold shared by [[timeToConvert]] and
    * [[timeToConvertOrdered]]: events MUST already be in event-time
    * order. */
  private def ttcFold(
      uid: Long, ordered: Seq[Event], st0: TtcState): (Vector[TtcOut], TtcState) = {
    var st = st0
    val out = Vector.newBuilder[TtcOut]
    ordered.foreach { e =>
      if (e.event_type == "purchase") {
        if (st.hasPending && st.firstSessionUs < e.ts_us) {
          out += TtcOut(e.event_id, uid, e.ts_us,
            st.firstSessionUs, e.ts_us - st.firstSessionUs)
          // sessions at EXACTLY conv_ts are not strictly prior:
          // they open the next journey (in-order arrival means a
          // pending ts can never exceed conv_ts)
          st = if (st.lastSessionUs >= e.ts_us)
            TtcState(e.ts_us, st.lastSessionUs, hasPending = true)
          else TtcState(0L, 0L, hasPending = false)
        }
      } else if (!st.hasPending) {
        st = TtcState(e.ts_us, e.ts_us, hasPending = true)
      } else {
        st = st.copy(lastSessionUs = e.ts_us)
      }
    }
    (out.result(), st)
  }

  /** [[timeToConvert]] hardened with the [[attributeIhcOrdered]] reorder
    * buffer: events wait in state until the watermark passes their event
    * time, then fold in exact `(ts_us, event_id)` order — journey
    * latencies bit-equal to batch under ANY cross-batch arrival order.
    * An event-time timeout at the earliest buffered event flushes users
    * whose traffic stops. */
  def timeToConvertOrdered(
      events: Dataset[Event], delay: String = "2 hours"): Dataset[TtcOut] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", delay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TtcBufState, TtcOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[TtcBufState]) =>
          val st = state.getOption.getOrElse(
            TtcBufState(Vector.empty, TtcState(0L, 0L, hasPending = false)))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val buf = st.buffered ++ it.filter(_.ts_us >= wmUs)
          val (ready, keep) = buf.partition(_.ts_us < wmUs)
          val (out, inner) = ttcFold(uid, ready.sortBy(e => (e.ts_us, e.event_id)), st.inner)
          if (keep.isEmpty && !inner.hasPending) state.remove()
          else {
            state.update(TtcBufState(keep, inner))
            if (keep.nonEmpty) state.setTimeoutTimestamp(math.max(
              keep.map(_.ts_us).min / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** Streaming channel co-occurrence increments (SURVEY §2.D24) — the
    * live twin of A30: when a journey CLOSES (its purchase arrives), emit
    * one increment per unordered channel pair among the journey's
    * distinct touched channels; summed increments equal the batch
    * [[graft.operators.Journeys.channelOverlap]] pair counts exactly.
    * The greedy-assignment rules are [[timeToConvert]]'s: a conversion
    * consumes every strictly-prior unassigned touch; exactly-at-
    * conversion-time touches stay pending for the next journey;
    * sessionless conversions emit nothing.
    *
    * State is the open journey's (ts, channel) touch buffer — bounded by
    * journey length, the [[attributeIhc]] growth profile (channel SET
    * alone would lose the equal-ts retention rule). Same D7 arrival
    * contract; the D4b reorder buffer composes for shuffled replay. */
  def channelOverlapIncs(events: Dataset[Event]): Dataset[OverlapInc] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OverlapState, OverlapInc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[Event], state: GroupState[OverlapState]) =>
          val ordered = it.toVector.sortBy(e => (e.ts_us, e.event_id))
          val st0 = state.getOption.getOrElse(OverlapState(Vector.empty)).pending
          val (out, pending) = overlapFold(ordered, st0)
          state.update(OverlapState(pending))
          out.iterator
      }
  }

  /** The greedy journey pair-emit fold shared by [[channelOverlapIncs]]
    * and [[channelOverlapIncsOrdered]]: events MUST already be in
    * event-time order. */
  private def overlapFold(
      ordered: Seq[Event],
      pending0: Vector[(Long, String)]): (Vector[OverlapInc], Vector[(Long, String)]) = {
    var pending = pending0
    val out = Vector.newBuilder[OverlapInc]
    ordered.foreach { e =>
      if (e.event_type == "purchase") {
        val (consumed, kept) = pending.partition(_._1 < e.ts_us)
        if (consumed.nonEmpty) {
          val chs = consumed.map(_._2).distinct.sorted
          for (i <- chs.indices; j <- (i + 1) until chs.length)
            out += OverlapInc(e.event_id, chs(i), chs(j), 1L)
          pending = kept
        }
      } else {
        pending = pending :+ ((e.ts_us, e.event_type))
      }
    }
    (out.result(), pending)
  }

  /** [[channelOverlapIncs]] hardened with the watermark reorder buffer —
    * pair increments bit-equal to batch under ANY cross-batch arrival
    * order (the [[timeToConvertOrdered]] contract). */
  def channelOverlapIncsOrdered(
      events: Dataset[Event], delay: String = "2 hours"): Dataset[OverlapInc] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", delay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OverlapBufState, OverlapInc](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[Event], state: GroupState[OverlapBufState]) =>
          val st = state.getOption.getOrElse(OverlapBufState(Vector.empty, Vector.empty))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val buf = st.buffered ++ it.filter(_.ts_us >= wmUs)
          val (ready, keep) = buf.partition(_.ts_us < wmUs)
          val (out, pending) =
            overlapFold(ready.sortBy(e => (e.ts_us, e.event_id)), st.pending)
          if (keep.isEmpty && pending.isEmpty) state.remove()
          else {
            state.update(OverlapBufState(keep, pending))
            if (keep.nonEmpty) state.setTimeoutTimestamp(math.max(
              keep.map(_.ts_us).min / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** Streaming journey lengths (SURVEY §2.D25) — the live twin of A32's
    * input: each closing journey (purchase arrival) emits its touch
    * count and revenue; histogramming the emissions reproduces the batch
    * length distribution exactly. Shares [[channelOverlapIncs]]'s
    * greedy-consumption state machine and touch buffer (the equal-ts
    * retention rule needs the (ts, channel) vector, not a counter). */
  def journeyLengths(events: Dataset[Event]): Dataset[JourneyLen] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OverlapState, JourneyLen](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[Event], state: GroupState[OverlapState]) =>
          val ordered = it.toVector.sortBy(e => (e.ts_us, e.event_id))
          val st0 = state.getOption.getOrElse(OverlapState(Vector.empty)).pending
          val (out, pending) = lengthsFold(ordered, st0)
          state.update(OverlapState(pending))
          out.iterator
      }
  }

  /** The greedy journey length-emit fold shared by [[journeyLengths]] and
    * [[journeyLengthsOrdered]]: events MUST already be in event-time
    * order. */
  private def lengthsFold(
      ordered: Seq[Event],
      pending0: Vector[(Long, String)]): (Vector[JourneyLen], Vector[(Long, String)]) = {
    var pending = pending0
    val out = Vector.newBuilder[JourneyLen]
    ordered.foreach { e =>
      if (e.event_type == "purchase") {
        val (consumed, kept) = pending.partition(_._1 < e.ts_us)
        if (consumed.nonEmpty) {
          out += JourneyLen(e.event_id, consumed.length.toLong, e.value)
          pending = kept
        }
      } else {
        pending = pending :+ ((e.ts_us, e.event_type))
      }
    }
    (out.result(), pending)
  }

  /** [[journeyLengths]] hardened with the watermark reorder buffer —
    * journey lengths bit-equal to batch under ANY cross-batch arrival
    * order (the [[timeToConvertOrdered]] contract). */
  def journeyLengthsOrdered(
      events: Dataset[Event], delay: String = "2 hours"): Dataset[JourneyLen] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", delay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OverlapBufState, JourneyLen](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[Event], state: GroupState[OverlapBufState]) =>
          val st = state.getOption.getOrElse(OverlapBufState(Vector.empty, Vector.empty))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val buf = st.buffered ++ it.filter(_.ts_us >= wmUs)
          val (ready, keep) = buf.partition(_.ts_us < wmUs)
          val (out, pending) =
            lengthsFold(ready.sortBy(e => (e.ts_us, e.event_id)), st.pending)
          if (keep.isEmpty && pending.isEmpty) state.remove()
          else {
            state.update(OverlapBufState(keep, pending))
            if (keep.nonEmpty) state.setTimeoutTimestamp(math.max(
              keep.map(_.ts_us).min / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** Streaming SCD2 dimension maintenance (SURVEY §2.D17) — the CDC twin
    * of [[graft.operators.Analytics.scd2UserState]]: each user's arriving
    * events extend the open state interval while the type repeats, and a
    * type change CLOSES the open version (emitted downstream with its
    * `[valid_from, valid_to)` bounds) and opens the next. Append-mode
    * emits exactly the batch twin's closed (`is_current = false`) rows;
    * the one open version per user lives in GroupState — a fixed-size
    * record per user however long the stream, sharded across the state
    * store — and is the row the batch twin reports with NULL `valid_to`.
    *
    * Same arrival assumption as [[transitionCounts]]: per-user event-time
    * order ACROSS micro-batches (in-batch disorder is sorted here, with
    * the batch twin's `(ts_us, event_id)` tiebreak); reorder-buffer
    * hardening composes as in [[attributeIhcOrdered]]. */
  def scd2State(events: Dataset[Event]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2OpenState, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[Scd2OpenState]) =>
          val ordered = it.toVector.sortBy(e => (e.ts_us, e.event_id))
          val (out, cur) = scd2Fold(uid, ordered, state.getOption)
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** The SCD2 version fold shared by [[scd2State]] and
    * [[scd2StateOrdered]]: events MUST already be in event-time order. */
  private def scd2Fold(
      uid: Long,
      ordered: Seq[Event],
      open: Option[Scd2OpenState]): (Vector[Scd2Closed], Option[Scd2OpenState]) = {
    var cur = open
    val out = Vector.newBuilder[Scd2Closed]
    ordered.foreach { e =>
      cur match {
        case Some(c) if c.state == e.event_type =>
          cur = Some(c.copy(nEvents = c.nEvents + 1))
        case Some(c) =>
          out += Scd2Closed(
            uid, c.version, c.state, c.validFromUs, e.ts_us, c.nEvents)
          cur = Some(Scd2OpenState(c.version + 1, e.event_type, e.ts_us, 1L))
        case None =>
          cur = Some(Scd2OpenState(1L, e.event_type, e.ts_us, 1L))
      }
    }
    (out.result(), cur)
  }

  /** [[scd2State]] hardened with the [[attributeIhcOrdered]] reorder
    * buffer: arriving events wait in state until the watermark passes
    * their event time, then fold into versions in exact `(ts_us,
    * event_id)` order — so the closed-version stream is bit-equal to the
    * batch twin under ANY cross-batch arrival order (late rows beyond
    * `delay` drop, the standard watermark contract). An event-time
    * timeout at the earliest buffered event flushes users whose traffic
    * stops. */
  def scd2StateOrdered(
      events: Dataset[Event], delay: String = "2 hours"): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", delay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2BufState, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[Scd2BufState]) =>
          val st = state.getOption.getOrElse(Scd2BufState(Vector.empty, None))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val buf = st.buffered ++ it.filter(_.ts_us >= wmUs)
          val (ready, keep) = buf.partition(_.ts_us < wmUs)
          val ordered = ready.sortBy(e => (e.ts_us, e.event_id))
          val (out, cur) = scd2Fold(uid, ordered, st.open)
          if (keep.isEmpty && cur.isEmpty) state.remove()
          else {
            state.update(Scd2BufState(keep, cur))
            if (keep.nonEmpty) state.setTimeoutTimestamp(math.max(
              keep.map(_.ts_us).min / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** Streaming volume-anomaly detection (SURVEY §2.D18) — the live twin of
    * [[graft.operators.Analytics.eventsAnomaly]]: per event type, each
    * day's event count is z-scored against the trailing window of up to 7
    * previously OBSERVED days (row window, not calendar), and a completed
    * day is emitted as soon as a later day's first event arrives. The
    * arithmetic replays the batch plan's IEEE chain step for step
    * (long sums → one double division each for mean and E[x²], variance by
    * subtraction, √, z), so emitted rows are bit-equal to the batch twin;
    * a day needs ≥3 trailing observations to be judged, exactly like the
    * batch `w_n >= 3` gate. Each event type's current OPEN day is the one
    * row the batch sees that the stream hasn't closed yet (spec filters
    * it, the same convention as [[scd2State]]'s open versions).
    *
    * State is hard-bounded: 8 (day, count) pairs per event type, however
    * long the stream runs — the anomaly cousin of the [[hllCounts]] /
    * [[kmvCounts]] / [[histQuantiles]] bounded-state family. Same arrival
    * assumption as [[transitionCounts]]: per-key event-time order ACROSS
    * micro-batches, in-batch disorder sorted here. */
  def anomalyZ(events: Dataset[Event]): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    val DayUs = 86400000000L
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, AnomalyOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (etype: String, it: Iterator[Event], state: GroupState[AnomalyState]) =>
          val ordered = it.toVector.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption
          val out = Vector.newBuilder[AnomalyOut]
          def close(s: AnomalyState): AnomalyState = {
            val wn = s.days.length
            if (wn >= 3) {
              val mean = s.ns.sum.toDouble / wn.toDouble
              val v = s.ns.map(n => n * n).sum.toDouble / wn.toDouble - mean * mean
              val std = math.sqrt(math.max(v, 0.0))
              val z = if (std > 0.0) (s.openN.toDouble - mean) / std else 0.0
              out += AnomalyOut(
                etype, s.openDay, s.openN, mean, std, z, math.abs(z) > 2.0)
            }
            AnomalyState((s.days :+ s.openDay).takeRight(7),
              (s.ns :+ s.openN).takeRight(7), -1L, 0L)
          }
          ordered.foreach { e =>
            val d = Math.floorDiv(e.ts_us, DayUs)
            st = st match {
              case None => Some(AnomalyState(Nil, Nil, d, 1L))
              case Some(s) if s.openDay == d => Some(s.copy(openN = s.openN + 1L))
              case Some(s) =>
                Some(close(s).copy(openDay = d, openN = 1L))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming exact dedup: `dropDuplicatesWithinWatermark` on the event
    * id — duplicates arriving across micro-batches (at-least-once sources,
    * replayed offsets) are suppressed while the watermark bounds the
    * dedup state instead of letting it grow with the stream. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming corpus admission — the quality-gate stage of a streaming
    * training-data ingest: score each arriving document with the SAME
    * codegen'd batch expressions ([[graft.functions.TextFunctions]] —
    * quality composite, language ID, token count, normalized
    * fingerprint), drop below-threshold docs map-side, then suppress
    * re-deliveries and content duplicates within the watermark via
    * `dropDuplicatesWithinWatermark` on the content fingerprint.
    *
    * Stateless except the bounded dedup state: at cluster scale the
    * score+filter runs at source parallelism with zero shuffles, and the
    * fingerprint dedup shards its state store by fingerprint hash while
    * the watermark keeps it from growing with the stream. The batch twin
    * is `curation`/`dedup_exact` — StreamingSpec proves the admitted set
    * matches the batch filter exactly on the same rows. */
  def admitDocuments(docs: DataFrame, minQuality: Double = 0.64): DataFrame = {
    import graft.functions.TextFunctions
    docs
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withColumn("quality_score", TextFunctions.qualityScore(col("text")))
      .withColumn("pred_lang", TextFunctions.langId(col("text")))
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
      .withColumn("fingerprint", TextFunctions.fingerprint(col("text")))
      .filter(col("quality_score") >= minQuality)
      .withWatermark("event_ts", "2 hours")
      .dropDuplicatesWithinWatermark("fingerprint")
      .select("doc_id", "lang", "source", "quality_score", "pred_lang",
        "n_tokens", "fingerprint")
  }

  /** Streaming EMBEDDING near-dup marks (SURVEY §2.D31) — the
    * filter-before-land form of the incremental embedding gate
    * ([[graft.operators.Dedup.embeddingIncremental]] /
    * [[graft.operators.Corpus.ingestSemanticNearDup]]): each arriving
    * vector probes its `nProbe` nearest cells of the embedding index AT
    * REST and emits its best match + admit verdict once the watermark
    * passes its event time.
    *
    * The index is a STATIC frame (the committed `embcells` dirs of the
    * corpus state — re-read per run, exactly how Structured Streaming
    * ships dimension data), so the candidate join is a STREAM-STATIC
    * equi-join on `cell`: no stream state, no broadcast of the corpus;
    * at 100 TB each micro-batch joins against only the probed cells'
    * partitions. The per-vector verdict is one watermarked
    * (vec_id, event_ts) aggregate — bounded state, append output.
    *
    * Determinism: same quantizer literals ([[graft.operators.Similarity
    * .probeCells]]), same ordered-fold cosine, and the argmax is a
    * struct-MIN over (−cosine, dup_of) — value-identical to the batch
    * probe's (cosine DESC, dup_of ASC) rank (TwinSweep pins marks equal
    * to `dedup_embedding_incremental` on the shared split). */
  def semanticNearMarks(
      vecs: DataFrame,
      cents: Array[(Long, Array[Float], Double)],
      index: DataFrame,
      nProbe: Int = 2, threshold: Double = 0.3,
      delay: String = "1 hour"): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    import graft.functions.VectorFunctions
    val feat = vecs.select(
      col("vec_id"), timestamp_micros(col("ts_us")).as("event_ts"),
      col("embedding"),
      VectorFunctions.normExact(col("embedding")).as("nrm"))
    val probes = feat.select(
      col("vec_id").as("new_vec"), col("event_ts"),
      col("embedding").as("be"), col("nrm").as("b_nrm"),
      explode(graft.operators.Similarity.probeCells(
        cents, col("embedding"), col("nrm"), nProbe)).as("cell"))
    val idx = index.select(col("cell"), col("doc_id").as("dup_of"),
      col("embedding").as("ie"), col("nrm").as("i_nrm"))
    val scored = probes.join(idx, Seq("cell"), "left_outer")
      .withColumn("cosine",
        when(col("ie").isNotNull,
          VectorFunctions.dotFold(col("ie"), col("be")) /
            (col("i_nrm") * col("b_nrm"))))
    scored
      .withWatermark("event_ts", delay)
      .groupBy(col("new_vec"), col("event_ts"))
      .agg(min(when(col("cosine").isNotNull,
        struct((-col("cosine")).as("nc"), col("dup_of").as("d")))).as("best"))
      .select(col("new_vec"),
        col("best.d").as("dup_of"),
        (-col("best.nc")).as("max_cosine"),
        (col("best").isNull || (-col("best.nc")) < threshold).as("admit"))
  }

  /** [[semanticNearMarks]] wired to the CORPUS STATE it gates for — the
    * production entry point of the D31 streaming gate: quantizer and
    * cell assignments come from ONE committed manifest snapshot of
    * `stateDir` ([[graft.operators.Corpus.refreshEmbeddingIndex]]'s
    * output, read via [[graft.operators.Corpus.embeddingIndexAtRest]]),
    * so the streaming gate and the batch ingest gate
    * ([[graft.operators.Corpus.ingestSemanticNearDup]]) provably consume
    * the SAME committed generation — no caller-assembled frames that
    * could mix an old quantizer with new cells. The quantizer is bounded
    * metadata (collected as literals); the cells stay a static DataFrame,
    * the stream-static dimension-read shape. A stream started before a
    * generation swap keeps serving its pinned snapshot (like any static
    * dimension side); restarting picks up the new generation — the spec
    * pins both halves against the frame-fed twin. */
  def semanticNearMarksFromState(
      vecs: DataFrame, stateDir: String,
      nProbe: Int = 2, threshold: Double = 0.3,
      delay: String = "1 hour"): DataFrame = {
    val (cents, index) =
      graft.operators.Corpus.embeddingIndexAtRest(vecs.sparkSession, stateDir)
    semanticNearMarks(vecs, cents, index, nProbe, threshold, delay)
  }

  /** Streaming TRAINED-classifier scoring (SURVEY §2.D30) — the
    * filter-before-land stage of a production curation pipeline: the
    * logistic probe trained batch-side on the committed corpus
    * ([[graft.operators.Corpus.classifierWeights]]) scores every
    * arriving document AT INGEST as one broadcast-weights map — no
    * state, no watermark, no shuffle; at cluster scale it runs at
    * source parallelism, and a threshold filter composes behind it
    * (the C110 cut).
    *
    * BIT-EQUAL to the batch scorer by construction, not approximately:
    * the per-bucket counts are computed map-side (`filter`+`size` over
    * the split words instead of the batch explode+groupBy — identical
    * exact integers), the length normalization is the same single
    * division, and the logit folds the B+1 products in the identical
    * bucket order with the identical `aggregate` left fold
    * (TwinSweepSpec pins stream scores == `qualityClassifier` scores
    * under scrambled replay). */
  def qualityScores(docs: DataFrame, weights: Array[Double],
      buckets: Int = 32): DataFrame = {
    require(weights.length == buckets + 1,
      s"weights must be buckets+1 long (got ${weights.length} for $buckets buckets)")
    val ws = split(col("text"), " ")
    def bucketOf(w: org.apache.spark.sql.Column) =
      (conv(substring(md5(w), 1, 15), 16, 10).cast("long") % buckets).cast("int")
    // hash each word ONCE (|words| md5 calls, not buckets·|words|): the
    // bucket array materializes in its own projection so the 32 per-bucket
    // counts read a bound column instead of re-inlining the md5 transform —
    // identical exact integers, ~32× less hashing on the ingest path
    val wLit = array(weights.map(lit(_)): _*)
    docs.select(col("doc_id"), transform(ws, w => bucketOf(w)).as("bs"))
      .select(col("doc_id"),
        concat(
          transform(sequence(lit(0), lit(buckets - 1)),
            j => size(filter(col("bs"), b => b === j)).cast("double") /
              size(col("bs")).cast("double")),
          array(lit(1.0))).as("x"))
      .select(col("doc_id"),
        aggregate(zip_with(col("x"), wLit, (a, b) => a * b),
          lit(0.0), (acc, v) => acc + v).as("score"))
  }

  /** Streaming windowed ordered funnel (SURVEY §2.D12) — the live-
    * dashboard twin of [[graft.operators.Analytics.windowFunnel]]: per
    * user, the greedy view→click→signup→purchase chain (each later step
    * strictly after the previous one and within `windowUs` of step 1),
    * held as FOUR optional timestamps of state per user and emitted as
    * the user's current funnel row each micro-batch.
    *
    * In per-user event-time order the greedy fold is EXACTLY the batch
    * chain (the batch `t_i` are chained minima, and a greedy in-order
    * scan takes each first-qualifying event = that minimum) — spec-
    * proven equal to the batch operator across in-order micro-batch
    * splits. Same stated assumption as [[attributeIhc]]: sources that
    * deliver late data across micro-batches need a watermark-driven
    * reorder buffer in front; order within a batch is handled here.
    *
    * Output contract, BY DESIGN wider than the batch twin: every user
    * seen so far emits a row each micro-batch, including users whose
    * events never contained a 'view' — those carry `funnel_depth = 0`
    * and a null `t1` (mapGroupsWithState emits exactly one row per
    * touched group; progress dashboards want the not-yet-entered
    * population). `Analytics.windowFunnel` filters non-entrants out, so
    * consumers comparing stream to batch must drop the depth-0 rows
    * first (as the equivalence spec does). */
  def funnelProgress(
      events: Dataset[Event], windowUs: Long = 86400000000L): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    def step(st: FunnelState, e: Event): FunnelState = e.event_type match {
      case "view" if st.t1.isEmpty => st.copy(t1 = Some(e.ts_us))
      case "click" if st.t2.isEmpty &&
        st.t1.exists(t1 => e.ts_us > t1 && e.ts_us <= t1 + windowUs) =>
        st.copy(t2 = Some(e.ts_us))
      case "signup" if st.t3.isEmpty && st.t2.exists(e.ts_us > _) &&
        st.t1.exists(e.ts_us <= _ + windowUs) =>
        st.copy(t3 = Some(e.ts_us))
      case "purchase" if st.t4.isEmpty && st.t3.exists(e.ts_us > _) &&
        st.t1.exists(e.ts_us <= _ + windowUs) =>
        st.copy(t4 = Some(e.ts_us))
      case _ => st
    }
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None, None))
          it.toVector.sortBy(e => (e.ts_us, e.event_id)).foreach(e => st = step(st, e))
          state.update(st)
          val depth =
            if (st.t4.isDefined) 4L else if (st.t3.isDefined) 3L
            else if (st.t2.isDefined) 2L else if (st.t1.isDefined) 1L else 0L
          FunnelOut(uid, st.t1, st.t2, st.t3, st.t4, depth)
      }
  }

  /** Streaming KMV (bottom-k) distinct-count sketch (SURVEY §2.D13) —
    * the bottom-k twin of [[hllCounts]]: per channel, the k smallest
    * distinct (user, day) hashes held as state (at most k longs per
    * channel forever) and the current estimate emitted each
    * micro-batch. Bottom-k of a union is the bottom-k of the merged
    * bottom-ks, so replays and arrival order cannot change the
    * converged state, and the hash/estimate arithmetic is the shared
    * [[graft.operators.Sketches]] path — the stream converges BIT-EQUAL
    * to the batch sketch (spec-proven across scrambled micro-batches). */
  def kmvCounts(events: DataFrame, k: Int = 64): Dataset[KmvEstimate] = {
    import events.sparkSession.implicits._
    val hashed = graft.operators.Sketches.hashedUserDay(
      events.withColumn("event_date", timestamp_micros(col("ts_us")).cast("date")))
      .as[KmvObs]
    hashed.groupByKey(_.channel)
      .mapGroupsWithState[KmvState, KmvEstimate](GroupStateTimeout.NoTimeout) {
        (channel: String, it: Iterator[KmvObs], state: GroupState[KmvState]) =>
          val prev = state.getOption.map(_.hashes).getOrElse(Vector.empty)
          val merged = (prev ++ it.map(_.h)).distinct.sorted.take(k)
          state.update(KmvState(merged))
          val est =
            if (merged.length < k) merged.length.toDouble
            // the same two-op IEEE tree as Sketches.kmvEstimate:
            // division first, (k−1) scaling second
            else (k - 1).toDouble * (1152921504606846976.0 / merged.last.toDouble)
          KmvEstimate(channel, merged.length.toLong, est)
      }
  }

  /** Streaming AMS sign grid — the live accumulation half of the B76
    * join-size estimator: per channel, the d×w grid of ±1-sign sums
    * over arriving user_ids, maintained as ONE long per touched cell
    * (state ≤ channels·d·w longs FOREVER — the D11/D13/D15 bounded-
    * state family). Two live grids (or a live grid against a committed
    * batch grid — sign sums are plain integers, so merging is addition)
    * estimate the size of the join between their key streams without
    * storing either stream: the continuously-maintained input a planner
    * consults before scheduling a join against a live feed.
    *
    * Sign/bucket derive from the SAME md5 form as the batch side
    * (`conv(substring(md5('r:key'),1,15),16,10)`, bucket `h % w`, sign
    * bit `h & w`), computed JVM-side per row; increments are integer
    * addition — commutative and replay-order-free, so the grid is
    * bit-equal to the batch grid under ANY arrival order (the twin
    * sweep pins this against a Spark-expression recomputation, which
    * also proves the JVM md5 path ≡ the SQL conv path). */
  def amsGrid(events: DataFrame, d: Int = 5, w: Int = 256): Dataset[AmsCell] = {
    import events.sparkSession.implicits._
    events.select(col("event_type").cast("string"), col("user_id").cast("long"))
      .as[(String, Long)]
      .flatMap { case (ch, uid) =>
        (0 until d).map { r =>
          val h = java.lang.Long.parseLong(md5Hex(s"$r:$uid").substring(0, 15), 16)
          AmsCell(ch, r, h % w, if ((h & w) == 0L) 1L else -1L)
        }
      }
      .groupByKey(c => (c.channel, c.r, c.bucket))
      .mapGroupsWithState[Long, AmsCell](GroupStateTimeout.NoTimeout) {
        (key: (String, Int, Long), it: Iterator[AmsCell], state: GroupState[Long]) =>
          val s = state.getOption.getOrElse(0L) + it.map(_.s).sum
          state.update(s)
          AmsCell(key._1, key._2, key._3, s)
      }
  }

  /** Streaming heavy hitters — per-channel top items over an unbounded
    * stream via SpaceSaving (Metwally et al. 2005) with `m` counters:
    * a tracked item increments its counter; an untracked item, arriving
    * with the table full, REPLACES the minimum-count entry and inherits
    * min+1 (the overestimate bound: est − true ≤ min at eviction time).
    * The top-`k` of the table is emitted per channel each micro-batch.
    *
    * The top-k member of the D11/D13/D15 bounded-state family: exact
    * top-k over a stream needs unbounded state, but the SpaceSaving
    * table is m (item, count) pairs per channel FOREVER, any true item
    * with frequency > N/m is guaranteed tracked, and while distinct
    * items per channel stay ≤ m the table IS the exact count table —
    * order/replay-free (count merge is addition), which the spec pins
    * against the batch groupBy across scrambled micro-batches. In the
    * eviction regime estimates stay ≥ true counts (one-sided error,
    * documented SpaceSaving semantics); ties break on item string so
    * emitted ranks stay deterministic for a given arrival history. */
  def topHitters(obs: Dataset[HitterObs], m: Int = 8, k: Int = 5): Dataset[HitterTop] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.channel)
      .flatMapGroupsWithState[HitterState, HitterTop](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (channel: String, it: Iterator[HitterObs], state: GroupState[HitterState]) =>
          var counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
          it.foreach { o =>
            counts.get(o.item) match {
              case Some(c) => counts = counts.updated(o.item, c + 1L)
              case None if counts.size < m => counts = counts.updated(o.item, 1L)
              case None =>
                // evict the (min count, min item) entry: the item tiebreak
                // makes the whole fold deterministic per arrival sequence
                val (evict, minC) = counts.minBy { case (i, c) => (c, i) }
                counts = (counts - evict).updated(o.item, minC + 1L)
            }
          }
          state.update(HitterState(counts))
          counts.toSeq.sortBy { case (i, c) => (-c, i) }.take(k).zipWithIndex.iterator
            .map { case ((item, c), r) => HitterTop(channel, item, c, r + 1) }
      }
  }

  /** Streaming HyperLogLog distinct-count sketch (SURVEY §2.D11): the
    * per-channel register state of [[graft.operators.Sketches
    * .hllDistinct]] maintained incrementally — each arriving event folds
    * its (register index, rank) observation into the register max, and
    * the current raw estimate is emitted per channel each micro-batch.
    *
    * This is the canonical answer to "distinct users per channel, live,
    * over an unbounded stream": exact distinct needs unbounded state,
    * but the HLL state is 64 ints per channel FOREVER — and because
    * register max is idempotent and commutative, replays and arrival
    * order cannot change the converged registers. The hash/register
    * arithmetic is the shared [[graft.operators.Sketches]] path and the
    * estimate arithmetic is the identical IEEE tree, so the stream
    * converges BIT-EQUAL to the batch sketch (spec-proven across
    * scrambled micro-batches). */
  def hllCounts(events: DataFrame): Dataset[HllEstimate] = {
    import events.sparkSession.implicits._
    val hashed = graft.operators.Sketches.hashedUserDay(
      events.withColumn("event_date", timestamp_micros(col("ts_us")).cast("date")))
    val w = shiftright(col("h"), 6)
    val regs = hashed.select(
      col("channel"),
      (col("h") % 64).cast("int").as("idx"),
      when(w > 0, lit(55) - length(bin(w))).otherwise(lit(55)).cast("int").as("rnk"))
      .as[HllReg]
    regs.groupByKey(_.channel)
      .mapGroupsWithState[HllState, HllEstimate](GroupStateTimeout.NoTimeout) {
        (channel: String, it: Iterator[HllReg], state: GroupState[HllState]) =>
          val ranks = state.getOption.map(_.ranks.clone()).getOrElse(Array.fill(64)(0))
          it.foreach(r => if (r.rnk > ranks(r.idx)) ranks(r.idx) = r.rnk)
          state.update(HllState(ranks))
          val s = ranks.map(m => 1L << (55 - m)).sum
          // the same left-to-right IEEE product/divide tree as the batch
          // estimator (Sketches.hllEstimate)
          HllEstimate(channel, ranks.count(_ > 0).toLong,
            0.709 * 4096.0 * 36028797018963968.0 / s.toDouble)
      }
  }

  /** Streaming quantile-threshold sketch (the quantile member of the
    * D11/D13 sketch-twin family): the per-channel equi-width histogram of
    * [[graft.operators.Sketches.histQuantiles]] maintained incrementally
    * — each arriving event's value folds into its bin counter, and the
    * current p50/p90/p99 threshold estimates are emitted per channel each
    * micro-batch.
    *
    * This is the streaming answer to "value percentiles per channel,
    * live": exact streaming quantiles need unbounded state, but the
    * histogram is 4096 longs per channel FOREVER — and bin counts being
    * plain sums (count linearity, the [[graft.operators.Sketches
    * .histMerged]] property), replays-free arrival order cannot change
    * the converged counts. The binning expression and the integer
    * threshold arithmetic are the shared batch path, so the stream
    * converges BIT-EQUAL to the batch sketch's estimate columns
    * (spec-proven across scrambled micro-batches). */
  def histQuantiles(events: DataFrame, bins: Int = 4096): Dataset[HistQEstimate] = {
    import events.sparkSession.implicits._
    val obs = graft.operators.Sketches.binnedValues(events).as[HistObs]
    obs.groupByKey(_.channel)
      .mapGroupsWithState[HistQState, HistQEstimate](GroupStateTimeout.NoTimeout) {
        (channel: String, it: Iterator[HistObs], state: GroupState[HistQState]) =>
          val counts = state.getOption.map(_.counts.clone())
            .getOrElse(Array.fill(bins)(0L))
          it.foreach(o => counts(math.min(o.b, bins - 1)) += 1L)
          state.update(HistQState(counts))
          val n = counts.sum
          // first bin whose cumulative count reaches ceil(q·n); upper
          // boundary in integer cents — the identical arithmetic as the
          // batch histEstimate, so estimates are bit-equal
          def est(q: Double): Long = {
            val target = math.ceil(q * n).toLong
            var cum = 0L
            var b = 0
            while (b < bins) {
              cum += counts(b)
              if (cum >= target) return (b + 1) * 16L
              b += 1
            }
            bins * 16L
          }
          HistQEstimate(channel, n, est(0.5), est(0.9), est(0.99))
      }
  }

  /** Streaming LM-quality filter — the model-apply stage of a streaming
    * training-data ingest (SURVEY §2.D10): documents arriving on the
    * stream are scored under a FROZEN bigram LM trained offline from the
    * committed corpus ([[graft.operators.Search.lmModel]]), and docs
    * clearing the likelihood floor are appended to the sink.
    *
    * `foreachBatch` is the right harness here — deliberately, not as a
    * fallback: the scorer is a corpus-level MODEL apply (per-doc mean
    * over a broadcast probability table, [[graft.operators.Search
    * .lmScoreAgainst]]), which is a batch join+agg per micro-batch, not
    * a per-row expression or a running stateful aggregate. This is
    * exactly how a production ingest applies an offline-trained filter
    * model: train on the committed corpus, broadcast the frozen
    * artifact, score each arriving batch at source parallelism, keep
    * what clears the bar. Scores are bit-identical to the batch path on
    * the same rows (spec-proven) because they ARE the batch path.
    *
    * @param docs   streaming frame with (doc_id, text, ...)
    * @param model  frozen (w1, w2, p) table from [[Search.lmModel]]
    * @param minAvgLik admission floor on the mean bigram likelihood
    * @param outDir parquet sink for admitted (doc_id, n_bigrams, avg_lik)
    * @param checkpointDir streaming checkpoint location */
  def lmFilteredIngest(
      docs: DataFrame, model: DataFrame, minAvgLik: Double,
      outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Search.lmScoreAgainst(batch, model)
          .filter(col("avg_lik") >= minAvgLik)
          .write.mode("append").parquet(outDir)
      }
      .start()

  /** Manifest metadata key holding the highest committed micro-batch id
    * of [[corpusIngestSink]] — the stream↔storage exactly-once watermark. */
  private[graft] val StreamBatchKey = "stream_batch_id"

  /** One micro-batch of the exactly-once streaming→manifest corpus sink.
    *
    * The batch id is committed ATOMICALLY with the batch's document and
    * fingerprint dirs — it rides the same manifest CAS inside
    * [[graft.operators.Corpus.ingestIncremental]] — so "data visible" and
    * "batch recorded" are one state change. Replays (foreachBatch reruns
    * a batch whenever the sink committed but the checkpoint advance was
    * lost in a crash) are absorbed twice over: a batch id at or below the
    * committed watermark returns without reading the data at all, and a
    * replay racing ahead of its own watermark (or arriving with a fresh
    * checkpoint) is content-deduplicated by the fingerprint anti-join —
    * each document is admitted exactly once either way.
    *
    * @return newly admitted documents (0 for a skipped replay) */
  def ingestMicroBatch(batch: DataFrame, stateDir: String, batchId: Long): Long = {
    val spark = batch.sparkSession
    val committed = graft.sources.Manifest.meta(spark, stateDir)
      .get(StreamBatchKey).map(_.toLong)
    if (committed.exists(_ >= batchId)) 0L
    else graft.operators.Corpus.ingestIncremental(spark, batch, stateDir,
      extraMeta = Map(StreamBatchKey -> batchId.toString))
  }

  /** Exactly-once streaming corpus admission into a manifest-backed store
    * (SURVEY §2.D8 composed with §2.C20): `foreachBatch` feeds each
    * micro-batch through [[ingestMicroBatch]], so every commit is one
    * transactional manifest publish carrying data, dedup fingerprints,
    * AND the micro-batch watermark. Kill + restart replays are admitted
    * exactly once (spec-proven with a forced replay). One streaming
    * writer per store: concurrent BATCH ingests still serialize through
    * the manifest CAS, but a second stream would interleave watermarks.
    *
    * `docs` must carry the corpus schema
    * (doc_id, text, lang, source, n_chars). */
  def corpusIngestSink(
      docs: DataFrame, stateDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestMicroBatch(batch, stateDir, batchId); ()
      }
      .start()

  /** The state-store health of a running stateful query: one row per
    * stateful operator from the LAST completed micro-batch's progress —
    * rows held, rows updated, and store memory. The monitoring hook a
    * production ingest wires to its metrics sink; returns empty before
    * the first progress. */
  def stateMetrics(query: org.apache.spark.sql.streaming.StreamingQuery): Seq[StateMetrics] =
    Option(query.lastProgress).toSeq.flatMap(_.stateOperators.toSeq).map { op =>
      StateMetrics(op.operatorName, op.numRowsTotal, op.numRowsUpdated,
        op.memoryUsedBytes, op.numRowsDroppedByWatermark)
    }

  /** Total arrivals discarded as late (event time below the watermark)
    * across the RETAINED progress entries of `query` — the cumulative
    * form of [[StateMetrics.num_rows_dropped_by_watermark]], which only
    * reflects the last micro-batch. Nonzero means some input exceeded
    * the declared disorder bound, and every `...Ordered` operator's
    * batch-equality guarantee is void for the dropped rows: a dropped
    * doc never enters band membership / journey state, so its marks are
    * suppressed, not merely reordered.
    *
    * RETENTION BOUND: `recentProgress` is a ring buffer
    * (`spark.sql.streaming.numRecentProgressUpdates`, default 100
    * entries), so on a long-running query this sum silently FORGETS
    * drops older than the retention window — it can read 0 after real
    * drops have aged out. It stays exact only for short-lived queries
    * (tests, bounded replays). A production deployment must count drops
    * as they happen: attach a [[dropCounter]] listener at query start
    * and read its total instead. */
  def droppedLateRows(query: org.apache.spark.sql.streaming.StreamingQuery): Long =
    query.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum

  /** Attach a [[DropCounter]] to `spark`'s streams bus and return it —
    * the UNBOUNDED cumulative watermark-drop counter. Every completed
    * micro-batch's progress event is delivered to the listener exactly
    * once regardless of the `recentProgress` ring-buffer retention, so
    * the total never under-counts on a long-running query (the
    * [[droppedLateRows]] caveat). Call `counter.detach(spark)` when the
    * consuming monitor shuts down. Progress events arrive on the async
    * listener bus: a reader that needs up-to-the-batch exactness (tests)
    * should poll until the counter catches up with the last progress. */
  def dropCounter(spark: org.apache.spark.sql.SparkSession): DropCounter = {
    val c = new DropCounter
    spark.streams.addListener(c)
    c
  }

  /** Streaming exact dedup — the continuous twin of
    * [[graft.operators.Dedup.exact]]: each distinct text is admitted
    * exactly once, on its first arrival, keyed by the md5 the batch
    * operator groups on. Within a micro-batch the min doc_id wins (batch
    * arrival order is nondeterministic; the batch twin's keep rule is min
    * doc_id), across micro-batches first-batch-wins — the streaming
    * prefix invariant: after any prefix of batches, the admitted set
    * equals the batch operator's keepers over a corpus where the earliest
    * batch holds each text's minimum doc_id.
    *
    * State is ONE long per distinct text — identical growth to the
    * manifest fingerprint store the batch ingest maintains; a production
    * deployment bounds it the same way (compaction or TTL by content
    * age). The md5 is computed driver-free per row (the same
    * lowercase-hex value Spark's `md5()` yields), so admissions join
    * directly against batch-side `text_hash` columns. */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def dedupExact(docs: Dataset[Doc]): Dataset[DedupAdmit] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(d => md5Hex(d.text))
      .flatMapGroupsWithState[DedupSeen, DedupAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (hash: String, it: Iterator[Doc], state: GroupState[DedupSeen]) =>
          if (state.exists) Iterator.empty
          else {
            val first = it.minBy(_.doc_id)
            state.update(DedupSeen(first.doc_id))
            Iterator.single(DedupAdmit(first.doc_id, hash))
          }
      }
  }

  /** [[dedupExact]] hardened with the [[attributeIhcOrdered]] reorder
    * buffer: per content hash, arriving docs wait in state until the
    * watermark passes their event time; the admitted doc is then the
    * `(ts_us, doc_id)`-least arrival — so when ingestion assigns doc ids
    * in event-time order (the batch corpus invariant), the admission set
    * is bit-equal to the batch min-doc_id rule under ANY cross-batch
    * arrival order. The admitted marker stays in state forever, exactly
    * like [[dedupExact]]'s fingerprint store. */
  def dedupExactOrdered(
      docs: Dataset[Doc], delay: String = "2 hours"): Dataset[DedupAdmit] = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", delay)
      .as[Doc]
      .groupByKey(d => md5Hex(d.text))
      .flatMapGroupsWithState[DedupBufState, DedupAdmit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (hash: String, it: Iterator[Doc], state: GroupState[DedupBufState]) =>
          val st = state.getOption.getOrElse(DedupBufState(Vector.empty, admitted = false))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val buf = st.buffered ++
            it.filter(_.ts_us >= wmUs).map(d => (d.ts_us, d.doc_id))
          val (ready, keep) = buf.partition(_._1 < wmUs)
          val out =
            if (!st.admitted && ready.nonEmpty)
              Iterator.single(DedupAdmit(ready.min._2, hash))
            else Iterator.empty
          state.update(DedupBufState(keep, st.admitted || ready.nonEmpty))
          if (keep.nonEmpty) state.setTimeoutTimestamp(math.max(
            keep.map(_._1).min / 1000L + 1L,
            state.getCurrentWatermarkMs() + 1L))
          out
      }
  }

  /** Streaming n-gram novelty marks — the continuous twin of
    * [[graft.operators.Dedup.ngramNovelty]]: each (doc, shingle) row is
    * marked `novel` iff the doc is the FIRST to carry that shingle
    * (within a micro-batch the min doc_id wins, matching the batch
    * twin's min-doc_id rule; across batches first-batch-wins — the D19
    * prefix invariant). Consumers fold the marks into per-doc novelty
    * ratios with one ordinary aggregation; over doc_id-ordered arrival
    * the ratios are bit-equal to the batch operator (spec-pinned).
    *
    * Shingles and 60-bit md5-prefix sids replicate the batch
    * [[graft.functions.ShingleSet]] walk exactly (split-on-space keeping
    * empties, distinct first-occurrence 3-grams). State is one long per
    * distinct shingle — the fingerprint-store growth the batch manifest
    * pays; bound it in production the same way (TTL by content age). */
  /** Streaming per-key daily EWMA — the live twin of
    * [[graft.operators.Analytics.ordersEwma]], keyed by event type: each
    * key's open day accumulates its value sum EXACTLY (micro-scaled
    * longs ≡ the batch DECIMAL(·,6) rollup, including the Spark
    * double→decimal shortest-string rounding), and a later day's first
    * event CLOSES the open day, emitting `(key, day, revenue, ewma)`
    * with `s_t = (α·x_t) + ((1−α)·s_{t−1})` — the identical IEEE tree
    * the batch fold applies, so emitted rows are bit-equal to the batch
    * twin over the closed prefix (spec-pinned).
    *
    * State is ONE fixed-size record per key forever — the
    * [[anomalyZ]]/[[hllCounts]] bounded-state family. Same arrival
    * assumption as [[transitionCounts]] (per-key event-time order across
    * micro-batches; in-batch disorder sorted here); the open day is the
    * one row the batch sees that the stream hasn't closed yet. */
  def ewmaSmooth(events: Dataset[Event], alpha: Double = 0.3): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    val DayUs = 86400000000L
    val beta = 1.0 - alpha
    def micros(v: Double): Long =
      // shortest-string decimal of the double, scaled to 6 — Spark's own
      // double→Decimal(·,6) cast semantics (HALF_UP past 6 dp)
      java.math.BigDecimal.valueOf(v).movePointRight(6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Event], state: GroupState[EwmaState]) =>
          val ordered = it.toVector.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption.orNull
          val out = Vector.newBuilder[EwmaOut]
          ordered.foreach { e =>
            val day = e.ts_us / DayUs
            if (st == null) st = EwmaState(day, micros(e.value), 0.0, hasPrev = false)
            else if (day == st.openDay)
              st = st.copy(sumMicros = st.sumMicros + micros(e.value))
            else {
              val x = st.sumMicros.toDouble / 1e6
              val s = if (st.hasPrev) (alpha * x) + (beta * st.ewma) else x
              out += EwmaOut(key, st.openDay, x, s)
              st = EwmaState(day, micros(e.value), s, hasPrev = true)
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** Distinct 60-bit shingle sids of one document — the
    * [[graft.functions.ShingleSet]] walk (split-on-space keeping empties,
    * first-occurrence 3-grams), shared by both novelty twins. */
  private def docShingleSids(text: String): Seq[Long] = {
    val toks = text.split(" ", -1)
    val n = math.max(0, toks.length - 2)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < n) { seen.add(s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}"); i += 1 }
    val dig = java.security.MessageDigest.getInstance("MD5")
    val it = seen.iterator()
    val out = Seq.newBuilder[Long]
    while (it.hasNext) {
      val hex = dig.digest(it.next().getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      out += java.lang.Long.parseLong(hex, 16)
    }
    out.result()
  }

  def noveltyMarks(docs: Dataset[Doc]): Dataset[NoveltyMark] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap(d => docShingleSids(d.text).map(sid => (d.doc_id, sid)))
      .groupByKey(_._2)
      .flatMapGroupsWithState[NoveltySeen, NoveltyMark](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sid: Long, it: Iterator[(Long, Long)], state: GroupState[NoveltySeen]) =>
          val docs = it.map(_._1).toVector
          if (state.exists) docs.iterator.map(NoveltyMark(_, sid, novel = false))
          else {
            val first = docs.min
            state.update(NoveltySeen(first))
            docs.iterator.map(d => NoveltyMark(d, sid, novel = d == first))
          }
      }
  }

  /** [[noveltyMarks]] hardened with the [[attributeIhcOrdered]] reorder
    * buffer: per shingle, (doc, ts) rows wait in state until the
    * watermark passes their event time; the first owner is then the
    * `(ts_us, doc_id)`-least arrival, so with event-time-ordered doc ids
    * (the batch corpus invariant) the mark stream is bit-equal to the
    * batch min-doc_id rule under ANY cross-batch arrival order. The
    * taken marker persists like the batch fingerprint store; buffered
    * rows flush via event-time timeout when a shingle's traffic stops. */
  def noveltyMarksOrdered(
      docs: Dataset[Doc], delay: String = "2 hours"): Dataset[NoveltyMark] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap(d => docShingleSids(d.text).map(sid => (d.doc_id, d.ts_us, sid)))
      .toDF("doc_id", "ts_us", "sid")
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", delay)
      // event_ts must SURVIVE into the stateful operator's input — the
      // analyzer requires the watermarked column for EventTimeTimeout
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[NoveltyBufState, NoveltyMark](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (sid: Long, it: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[NoveltyBufState]) =>
          val st = state.getOption.getOrElse(NoveltyBufState(Vector.empty, taken = false))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val buf = st.buffered ++
            it.filter(_._2 >= wmUs).map(r => (r._2, r._1)) // (ts, doc)
          val (ready, keep) = buf.partition(_._1 < wmUs)
          val ordered = ready.sorted
          val out =
            if (ordered.isEmpty) Iterator.empty
            else if (st.taken) ordered.iterator.map(r => NoveltyMark(r._2, sid, novel = false))
            else ordered.iterator.zipWithIndex.map { case (r, i) =>
              NoveltyMark(r._2, sid, novel = i == 0)
            }
          state.update(NoveltyBufState(keep, st.taken || ready.nonEmpty))
          if (keep.nonEmpty) state.setTimeoutTimestamp(math.max(
            keep.map(_._1).min / 1000L + 1L,
            state.getCurrentWatermarkMs() + 1L))
          out
      }
  }

  /** The batch Manku C(6,3) block tables, replicated for the streaming
    * gate: 6 blocks of widths 11/11/11/11/10/10 over the 64-bit simhash,
    * every 3-subset packed into one ≤33-bit key — identical arithmetic
    * to `Dedup.simhashNear`'s banding (`>>` then mask ≡ the Spark expr on
    * BIGINT, sign bits masked away). */
  private val mankuWidths = Vector(11, 11, 11, 11, 10, 10)
  private val mankuOffsets = mankuWidths.scanLeft(0)(_ + _).init
  private val mankuCombos: IndexedSeq[(Int, Int, Int)] =
    for { i <- 0 until 6; j <- (i + 1) until 6; k <- (j + 1) until 6 } yield (i, j, k)

  private def mankuBandKeys(sim: Long): IndexedSeq[(Int, Long)] = {
    def blk(i: Int): Long = (sim >> mankuOffsets(i)) & ((1L << mankuWidths(i)) - 1)
    mankuCombos.zipWithIndex.map { case ((i, j, k), ci) =>
      (ci, blk(i) * (1L << 22) + blk(j) * (1L << 11) + blk(k))
    }
  }

  private def bandedSim(d: Doc): IndexedSeq[BandedSim] = {
    val sim = graft.functions.SimHashImpl.simhash64(
      org.apache.spark.unsafe.types.UTF8String.fromString(d.text))
    mankuBandKeys(sim).map { case (band, key) =>
      BandedSim(band, key, d.doc_id, d.ts_us, sim)
    }
  }

  /** Streaming BANDED near-dup admission gate — the continuous twin of
    * [[graft.operators.Dedup.simhashNear]] (the r9 verdict's missing
    * D-surface capability): each arriving doc fans out to its 20 Manku
    * band buckets; a bucket whose membership already holds a simhash
    * within Hamming ≤ `maxHamming` emits a [[NearDupMark]] for the
    * collision (the exact `bit_count(a ^ b)` verify the batch join
    * runs). Distinct marks over (doc_a, doc_b, hamming) equal the batch
    * pair set over any doc_id-ordered arrival (spec-pinned); a mark's
    * presence is the REJECT signal an ingest admission gate consumes.
    *
    * Scale shape: keyed by (band, band_key) — 20·n state rows total, but
    * per-BUCKET membership is bounded by the 32–33-bit keys exactly as
    * in batch (~20·n²/2³² expected collisions), so no group concentrates;
    * the simhash itself is the shared one-pass [[graft.functions
    * .SimHashImpl]] (no shuffle before the keyed exchange). State is the
    * D19 fingerprint-store growth profile — production bounds it the
    * same way (TTL/compaction by content age). Unlike batch there is NO
    * `capBuckets` drop: an online gate cannot know a bucket's final
    * size, so a pathological hot bucket degrades to more comparisons,
    * never to silently lost recall. */
  def simhashNearMarks(docs: Dataset[Doc], maxHamming: Int = 3): Dataset[NearDupMark] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap(bandedSim _)
      .groupByKey(r => (r.band, r.band_key))
      .flatMapGroupsWithState[BandMembers, NearDupMark](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), it: Iterator[BandedSim], state: GroupState[BandMembers]) =>
          var members = state.getOption.map(_.members).getOrElse(Vector.empty)
          val out = Vector.newBuilder[NearDupMark]
          // within-batch arrivals in doc_id order — the batch corpus order
          it.toVector.sortBy(_.doc_id).foreach { r =>
            members.foreach { case (mid, msim) =>
              if (mid != r.doc_id) {
                val h = java.lang.Long.bitCount(msim ^ r.simhash)
                if (h <= maxHamming)
                  out += NearDupMark(
                    math.min(mid, r.doc_id), math.max(mid, r.doc_id), key._1, h)
              }
            }
            members = members :+ ((r.doc_id, r.simhash))
          }
          state.update(BandMembers(members))
          out.result().iterator
      }
  }

  /** [[simhashNearMarks]] hardened with the [[attributeIhcOrdered]]
    * reorder buffer (the D4b discipline): per band bucket, arrivals wait
    * in state until the watermark passes their event time and are then
    * compared/admitted in `(ts_us, doc_id)` order — so with event-time-
    * ordered doc ids (the batch corpus invariant) the distinct mark set
    * is bit-equal to batch [[graft.operators.Dedup.simhashNear]] under
    * ANY cross-batch arrival order (spec-pinned with scrambled replay).
    * Membership persists forever like the D19 fingerprint store;
    * buffered rows flush via event-time timeout when a bucket's traffic
    * stops.
    *
    * DEGRADED MODE, stated: an arrival whose event time is already
    * below the watermark (disorder beyond `delay`) is discarded by the
    * exec before this function runs — the doc never joins band
    * membership, so ALL its future near-dup marks are suppressed, not
    * reordered. That is the standard watermark contract, but it must
    * never be silent: [[stateMetrics]] /
    * [[StateMetrics.num_rows_dropped_by_watermark]] and the cumulative
    * [[droppedLateRows]] count exactly these rows (spec-pinned), and a
    * production gate alerts on them / re-feeds the stragglers through a
    * batch `simhashNear` pass over the affected window. */
  def simhashNearMarksOrdered(
      docs: Dataset[Doc], maxHamming: Int = 3,
      delay: String = "2 hours"): Dataset[NearDupMark] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap(bandedSim _)
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", delay)
      // event_ts must SURVIVE into the stateful operator's input — the
      // analyzer requires the watermarked column for EventTimeTimeout
      .as[(Int, Long, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[BandBufState, NearDupMark](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), it: Iterator[(Int, Long, Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[BandBufState]) =>
          val st = state.getOption.getOrElse(BandBufState(Vector.empty, Vector.empty))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val buf = st.buffered ++
            it.filter(_._4 >= wmUs).map(r => (r._4, r._3, r._5)) // (ts, doc, sim)
          val (ready, keep) = buf.partition(_._1 < wmUs)
          var members = st.members
          val out = Vector.newBuilder[NearDupMark]
          ready.sortBy(r => (r._1, r._2)).foreach { case (_, docId, sim) =>
            members.foreach { case (mid, msim) =>
              if (mid != docId) {
                val h = java.lang.Long.bitCount(msim ^ sim)
                if (h <= maxHamming)
                  out += NearDupMark(
                    math.min(mid, docId), math.max(mid, docId), key._1, h)
              }
            }
            members = members :+ ((docId, sim))
          }
          state.update(BandBufState(keep, members))
          if (keep.nonEmpty) state.setTimeoutTimestamp(math.max(
            keep.map(_._1).min / 1000L + 1L,
            state.getCurrentWatermarkMs() + 1L))
          out.result().iterator
      }
  }

  /** Stateful gap sessionization (2 h default): emits a session when the
    * user's inactivity gap exceeds `gapUs`. The open session stays in
    * state until a later event closes it. */
  def sessionize(events: Dataset[Event], gapUs: Long = 7200000000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          // Micro-batch arrival order is not guaranteed — order within the
          // batch explicitly, exactly like the batch twin's window sort.
          val evs = it.toVector.sortBy(e => (e.ts_us, e.event_id))
          val closed = Vector.newBuilder[SessionOut]
          var st = state.getOption
          evs.foreach { e =>
            st match {
              case Some(s) if e.ts_us - s.lastTsUs > gapUs =>
                closed += SessionOut(userId, s.sessionIdx, s.nEvents, s.startUs, s.lastTsUs)
                st = Some(SessionState(s.sessionIdx + 1, e.ts_us, e.ts_us, 1))
              case Some(s) =>
                st = Some(s.copy(lastTsUs = e.ts_us, nEvents = s.nEvents + 1))
              case None =>
                st = Some(SessionState(0, e.ts_us, e.ts_us, 1))
            }
          }
          st.foreach(state.update)
          closed.result().iterator
      }
  }
}
