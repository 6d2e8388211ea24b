package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Customer-journey construction.
  *
  * Re-expresses the reference's driver-side greedy loop
  * (`journey_builder.py:26-115`: conversions processed chronologically,
  * each claiming the user's still-unassigned earlier sessions) as a
  * declarative equivalent: a session belongs to the EARLIEST conversion of
  * the same user that happens strictly after it. That is a join plus a
  * min-per-session window — no mutable `assigned_session_ids` set, no
  * iteration, fully distributed.
  *
  * Scale: the join shuffles both sides on `user_id` (sort-merge); at
  * warehouse scale both tables would be bucketed by user_id making this
  * shuffle-free. Fan-out is bounded per user, and AQE skew-join splits
  * heavy users. The window partitions by `session_id` — Spark reuses the
  * sort within the merge-join partitioning where possible.
  */
object Journeys {

  /** Assign each session to its journey — as-of style.
    *
    * Instead of `sessions ⨝ conversions ON user AND s.ts < c.ts` (whose
    * intermediate size is Σ_user sessions×conversions — quadratic in
    * per-user activity, deadly for heavy users at warehouse scale), union
    * both event kinds into one frame sorted per user by
    * (ts DESC, kind, conv_id DESC) and carry the nearest FOLLOWING
    * conversion with a running `last(marker, ignoreNulls)` window. One
    * shuffle + one sort, strictly O(n log n) per user, zero fan-out;
    * result is identical to the join formulation (the oracle keeps the
    * join form in SQL).
    *
    * Ordering guarantees the reference semantics
    * (`journey_builder.py:45-105`): a session goes to the conversion with
    * minimal (conv_ts, conv_id) among those strictly later — at equal
    * timestamps the session precedes the conversion in the DESC traversal,
    * so an equal-time conversion is NOT eligible (strict `<`).
    *
    * @param sessions    [[graft.sources.Tables.sessions]] shape
    * @param conversions [[graft.sources.Tables.conversions]] shape
    * @return sessions columns + (conv_id, conv_ts_us, revenue)
    */
  def assign(sessions: DataFrame, conversions: DataFrame): DataFrame = {
    val (sessSide, convSide) = unionSides(sessions, conversions)
    assignOver(sessSide.unionByName(convSide), sessions.columns)
  }

  /** The shuffle-free deployment path: `sessions` and `conversions` read
    * from tables bucketed identically on `user_id`, unioned with the
    * custom bucket-aligned [[graft.plans.BucketUnion]] operator — which,
    * unlike built-in UNION, preserves the bucketed hash partitioning — so
    * the per-user window needs only a sort. Zero shuffles end-to-end
    * (asserted in BucketingSpec). */
  def assignBucketed(sessions: DataFrame, conversions: DataFrame): DataFrame = {
    val (sessSide, convSide) = unionSides(sessions, conversions)
    assignOver(graft.plans.BucketUnionApi.union(sessSide, convSide), sessions.columns)
  }

  /** The two sides of the per-user union: every sessions column other
    * than `user_id`/`ts_us` rides along as payload, null on the conversion
    * side, so a caller's extra session columns reach the output. */
  private def unionSides(
      sessions: DataFrame, conversions: DataFrame): (DataFrame, DataFrame) = {
    val mark = struct(col("conv_ts_us"), col("conv_id"), col("revenue"))
    val payload = sessions.schema.filterNot(f => f.name == "user_id" || f.name == "ts_us")
    val convSide = conversions.select(Seq(
      col("user_id"), col("conv_ts_us").as("ts_us"), lit(1).as("kind"),
      mark.as("cmark")) ++
      payload.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    val sessSide = sessions.select(Seq(
      col("user_id"), col("ts_us"), lit(0).as("kind"),
      lit(null).cast(convSide.schema("cmark").dataType).as("cmark")) ++
      payload.map(f => col(f.name)): _*)
    (sessSide, convSide)
  }

  private def assignOver(
      unioned: DataFrame, sessCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("kind").asc,
        coalesce(col("cmark.conv_id"), lit(-1L)).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("m", last(col("cmark"), ignoreNulls = true).over(w))
      .filter(col("kind") === 0 && col("m").isNotNull)
      .select(
        sessCols.map(col) :+
          col("m.conv_id").as("conv_id") :+
          col("m.conv_ts_us").as("conv_ts_us") :+
          col("m.revenue").as("revenue"): _*)
  }

  /** Mark the conversion session: the journey's latest session (it is
    * already strictly before the conversion), ties broken by smallest
    * session_id — reference `journey_builder.py:139-156`. */
  def flagConversion(assigned: DataFrame): DataFrame = {
    val latest =
      Window.partitionBy("conv_id").orderBy(col("ts_us").desc, col("session_id").asc)
    assigned.withColumn(
      "conversion",
      when(row_number().over(latest) === 1, 1).otherwise(0))
  }

  /** Journey path analysis: the ordered channel sequence per journey,
    * counted and revenue-weighted — "which touch sequences convert".
    * Path string via sorted collect_list (≡ ordered string_agg in the
    * oracle). */
  def paths(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("conv_id")
      .agg(
        array_join(
          transform(
            sort_array(collect_list(struct(col("ts_us"), col("session_id"), col("channel_name")))),
            s => s.getField("channel_name")),
          ">").as("path"),
        min(col("revenue")).as("revenue")) // constant per journey; min = deterministic pick
      .groupBy("path")
      .agg(
        count(lit(1)).as("n_journeys"),
        graft.functions.Exact.dsum(col("revenue")).as("revenue"))
      .orderBy(col("n_journeys").desc, col("path"))

  /** First-order channel transition counts within journeys (the input to
    * Markov-chain attribution): consecutive (from → to) channel pairs by
    * journey order. */
  /** Hashed-bag journey features — the ML-training-data form of a
    * journey: per conversion, a fixed-`dims` feature-hashed channel-count
    * vector (md5-bucketed, the portable hash used everywhere else), the
    * touch count, and the revenue label. The row an attribution-model
    * trainer consumes directly.
    *
    * One partial-agg groupBy per conversion; the vector assembles as
    * `dims` conditional sums inside the aggregate (no pivot, no second
    * shuffle), so the plan is a single exchange at any journey volume.
    * Emitted as flat `f0..f{dims-1}` columns — the layout a feature
    * table feeds a trainer, and the shape the driver gate hashes. */
  def hashedFeatures(assigned: DataFrame, dims: Int = 16): DataFrame = {
    val bucket = conv(substring(md5(col("channel_name")), 1, 15), 16, 10)
      .cast("long") % dims
    assigned
      .select(col("conv_id"), col("revenue"), bucket.as("__b"))
      .groupBy("conv_id")
      .agg(
        max("revenue").as("revenue"),
        count(lit(1)).as("n_touches") +: (0 until dims).map(i =>
          sum(when(col("__b") === i, 1L).otherwise(0L)).as(s"f$i")): _*)
      .orderBy("conv_id")
  }

  /** Lookback-window restriction over the assignment: sessions older than
    * `lookbackUs` before their conversion carry no credit and drop out of
    * the journey (they are NOT reassigned — the industry lookback
    * semantics every ad platform applies, and the windowed complement of
    * the reference's date-window extracts). Downstream IHC renormalizes
    * over the surviving touches, so a journey whose opener ages out
    * promotes the next-oldest touch to initializer. Pure filter on the
    * already-assigned frame — no new shuffle, the window predicate is a
    * codegen'd comparison. */
  def lookbackFilter(assigned: DataFrame, lookbackUs: Long): DataFrame =
    assigned.filter(col("conv_ts_us") - col("ts_us") <= lookbackUs)

  /** Channel co-occurrence across journeys — which channels appear
    * TOGETHER in converting paths (support + lift per unordered channel
    * pair): the assist-analysis readout that tells a budget owner whether
    * two channels reach the same conversions (lift > 1) or independent
    * audiences, complementing [[channelTransitions]]' sequential view.
    *
    * Scale shape: journeys collapse to one sorted-distinct-channels
    * basket row per conversion (one groupBy over assigned — the only
    * journey-sized pass), localCheckpointed once; pairs generate
    * ROW-LOCALLY inside each basket (≤ C(|channels|,2) per journey —
    * channel cardinality is schema-bounded), per-channel counts and the
    * journey total are partial aggs over the same checkpoint, the total
    * a one-row broadcast. The [[Analytics.basketLift]] plan shape. */
  def channelOverlap(assigned: DataFrame): DataFrame = {
    val baskets = assigned
      .groupBy("conv_id").agg(sort_array(collect_set(col("channel_name"))).as("chs"))
      .localCheckpoint()
    val nConvs = baskets.agg(count(lit(1)).as("n_convs"))
    val chCounts = baskets.select(explode(col("chs")).as("channel"))
      .groupBy("channel").agg(count(lit(1)).as("n"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(chs, (x, i) ->
          |  transform(slice(chs, i + 2, size(chs)),
          |            y -> struct(x AS ch_a, y AS ch_b))))""".stripMargin)).as("p"))
      .select(col("p.ch_a"), col("p.ch_b"))
      .groupBy("ch_a", "ch_b")
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(chCounts.select(col("channel").as("ch_a"), col("n").as("n_a")), "ch_a")
      .join(chCounts.select(col("channel").as("ch_b"), col("n").as("n_b")), "ch_b")
      .crossJoin(broadcast(nConvs))
      .withColumn("support", col("n_ab").cast("double") / col("n_convs").cast("double"))
      // double-domain products: n_ab·n_convs overflows int64 at web-scale
      // journey volumes (the DSIR overflow class); double products of
      // exact longs round identically cross-engine at any magnitude
      .withColumn("lift",
        (col("n_ab").cast("double") * col("n_convs").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
      .select("ch_a", "ch_b", "n_ab", "n_a", "n_b", "n_convs", "support", "lift")
      .orderBy("ch_a", "ch_b")
  }

  /** Journey-length distribution: journeys and revenue by touch count —
    * the shape report behind every attribution-model argument (position
    * weights only matter where multi-touch journeys actually carry
    * revenue; a corpus of 1-touch journeys makes every model agree).
    *
    * One per-journey count agg (revenue rides along as a max — constant
    * within the journey), one histogram agg over journey-sized rows.
    * Output ≤ max-journey-length rows. */
  def lengthDistribution(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_touches"), max("revenue").as("revenue"))
      .groupBy("n_touches")
      .agg(
        count(lit(1)).as("n_journeys"),
        graft.functions.Exact.dsum(col("revenue")).as("total_revenue"))
      .withColumn("avg_revenue",
        col("total_revenue") / col("n_journeys").cast("double"))
      .orderBy("n_touches")

  /** Channel position bias: each channel's share of appearances as the
    * journey OPENER, CLOSER, or a middle touch — the diagnostic that
    * explains model disagreement (A31): a channel that mostly opens
    * journeys is favored by first-touch and the I phase; one that mostly
    * closes, by last-touch and the C phase. A single-touch journey's
    * channel counts as both opener and closer (it is both).
    *
    * One journey-partitioned window pass + one channel rollup. */
  def channelPositionBias(assigned: DataFrame): DataFrame = {
    val asc = Window.partitionBy("conv_id").orderBy(col("ts_us").asc, col("session_id").asc)
    val byConv = Window.partitionBy("conv_id")
    assigned
      .withColumn("rn", row_number().over(asc))
      .withColumn("n", count(lit(1)).over(byConv))
      .groupBy("channel_name")
      .agg(
        count(lit(1)).as("n_touches"),
        count(when(col("rn") === 1, 1)).as("n_opener"),
        count(when(col("rn") === col("n"), 1)).as("n_closer"),
        count(when(col("rn") =!= 1 && col("rn") =!= col("n"), 1)).as("n_middle"))
      .withColumn("opener_share",
        col("n_opener").cast("double") / col("n_touches").cast("double"))
      .withColumn("closer_share",
        col("n_closer").cast("double") / col("n_touches").cast("double"))
      .orderBy("channel_name")
  }

  /** Mean conversion lag by OPENER channel — which acquisition channel
    * starts the fastest-converting journeys: per journey, the span from
    * first touch to conversion, attributed to the journey's opening
    * channel (the A35 opener role) and averaged per channel.
    *
    * One journey-partitioned window pass (opener pick + span in the same
    * aggregate), one K-row channel rollup. The lags are INTEGRAL µs, so
    * the mean sums them as exact BIGINTs and divides once — a decimal
    * sum here would hit the past-2^53 decimal→double cast (measured: 1
    * ulp off on one channel at sf0.01, the supplierHhi trap). */
  def lagByOpener(assigned: DataFrame): DataFrame = {
    val asc = Window.partitionBy("conv_id").orderBy(col("ts_us").asc, col("session_id").asc)
    assigned
      .withColumn("rn", row_number().over(asc))
      .filter(col("rn") === 1)
      .select(col("channel_name"), (col("conv_ts_us") - col("ts_us")).as("lag_us"))
      .groupBy("channel_name")
      .agg(
        count(lit(1)).as("n_journeys"),
        (sum(col("lag_us")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_lag_us"))
      .orderBy("channel_name")
  }

  def channelTransitions(assigned: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy(col("ts_us"), col("session_id"))
    assigned
      .withColumn("next_channel", lead("channel_name", 1).over(w))
      .filter(col("next_channel").isNotNull)
      .groupBy(col("channel_name").as("from_channel"), col("next_channel").as("to_channel"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_channel", "to_channel")
  }

  /** IHC training-data export — reference `extracted_training_data.py`:
    * a sample of conversions, each with ALL of the user's strictly-prior
    * sessions (no greedy claiming here, unlike [[assign]]), the latest
    * session flagged as the conversion touch, emitted flat with the IHC
    * API's field names. Determinized where the reference leans on SQLite
    * row order: the sample is the `nSample` smallest conv_ids
    * (`LIMIT 20` without ORDER BY there), and the `iloc[-1]` flag tie
    * resolves by (ts, session_id) max. The sampled conversions broadcast;
    * the session side streams. */
  def trainingExport(
      sessions: DataFrame, conversions: DataFrame, nSample: Int = 20): DataFrame = {
    val sample = conversions.orderBy("conv_id").limit(nSample)
      .select(col("conv_id"), col("user_id").as("c_user_id"), col("conv_ts_us"))
    val latest = Window.partitionBy("conv_id")
      .orderBy(col("ts_us").desc, col("session_id").desc)
    sessions
      .join(broadcast(sample),
        col("user_id") === col("c_user_id") && col("ts_us") < col("conv_ts_us"))
      .withColumn("conversion",
        when(row_number().over(latest) === 1, 1).otherwise(0))
      .select(
        col("conv_id").as("conversion_id"), col("session_id"), col("ts_us"),
        col("channel_name").as("channel_label"),
        col("holder_engagement"), col("closer_engagement"),
        col("conversion"), col("impression_interaction"))
      .orderBy("conversion_id", "session_id")
  }

  /** Journey statistics — reference `journey_builder.py:298-337`. */
  def statistics(assigned: DataFrame): DataFrame = {
    val per = assigned.groupBy("conv_id").agg(count(lit(1)).as("n"))
    per.agg(
      count(lit(1)).as("total_journeys"),
      sum("n").as("total_sessions"),
      (sum("n").cast("double") / count(lit(1)).cast("double"))
        .as("avg_sessions_per_journey"),
      min("n").as("min_sessions"),
      max("n").as("max_sessions"))
  }

  /** Journey shape validation — reference `journey_builder.py:241-296`:
    * every journey must contain exactly one conversion-flagged session and
    * only 0/1 engagement flags. */
  def validate(flagged: DataFrame): DataFrame = {
    val flagOk =
      col("holder_engagement").isin(0, 1) &&
        col("closer_engagement").isin(0, 1) &&
        col("impression_interaction").isin(0, 1) &&
        col("conversion").isin(0, 1)
    flagged
      .groupBy("conv_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        (sum("conversion") === 1).as("has_one_conversion"),
        (min(when(flagOk, 1).otherwise(0)) === 1).as("flags_valid"))
  }
}
