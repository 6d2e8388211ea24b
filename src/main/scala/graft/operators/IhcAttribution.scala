package graft.operators

import graft.functions.Exact.dsum9
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Native IHC (Initializer / Holder / Closer) attribution.
  *
  * The reference outsources this to a remote API (`api_utils.py:68-167`);
  * this is a deterministic, window-function re-implementation preserving
  * the API's contract (`api_utils.py:246-280`): `ihc ∈ [0,1]` per
  * (conversion, session) and Σ ihc = 1 per conversion. Spec in SURVEY.md §4:
  *
  *  - I: 1.0 on the journey's first session (by ts, tie → session_id)
  *  - H: holder_engagement share; uniform 1/n if the journey has none
  *  - C: closer_engagement share; conversion-flagged session if none
  *  - ihc = (I + H + C) / 3
  *
  * Pure window computation over journey partitions — linear in sessions,
  * no state, no iteration; scales with the number of journeys. The
  * windows key on (user_id, conv_id), which groups exactly as `conv_id`
  * (a conversion belongs to one user), so they run in the partitions of
  * the per-user assignment with no exchange of their own.
  */
object IhcAttribution {

  /** Per-session per-phase weights: input columns + `w_i`, `w_h`, `w_c`
    * (each summing to 1 per conversion) + the combined `ihc`. `flagged`
    * carries `user_id`, as [[Journeys.flagConversion]] requires. */
  def withPhaseWeights(flagged: DataFrame): DataFrame = {
    val byConv  = Window.partitionBy("user_id", "conv_id")
    val ordered = byConv.orderBy(col("ts_us").asc, col("session_id").asc)

    val initializer: Column =
      when(row_number().over(ordered) === 1, 1.0).otherwise(0.0)

    val holderSum = sum("holder_engagement").over(byConv)
    val holder: Column =
      when(holderSum > 0,
        col("holder_engagement").cast("double") / holderSum.cast("double"))
        .otherwise(lit(1.0) / count(lit(1)).over(byConv).cast("double"))

    val closerSum = sum("closer_engagement").over(byConv)
    val closer: Column =
      when(closerSum > 0,
        col("closer_engagement").cast("double") / closerSum.cast("double"))
        .otherwise(col("conversion").cast("double"))

    flagged
      .withColumn("w_i", initializer)
      .withColumn("w_h", holder)
      .withColumn("w_c", closer)
      .withColumn("ihc", (col("w_i") + col("w_h") + col("w_c")) / 3.0)
  }

  /** @param flagged output of [[Journeys.flagConversion]]
    * @return input columns + `ihc`
    */
  def attribute(flagged: DataFrame): DataFrame =
    withPhaseWeights(flagged).drop("w_i", "w_h", "w_c")

  /** IHC with the reference API's REDISTRIBUTION PARAMETER
    * (`api_utils.py:304-340`, request wiring `api_utils.py:94-96`):
    * sessions on a "direct" channel give their per-phase credit away to
    * the surrounding tracked touchpoints. Contract per phase, mirroring
    * `create_redistribution_parameter`'s fields:
    *
    *  - `redistribution_channel_labels` → [[directChannels]]: the donor
    *    channels (reference default `['Direct']`).
    *  - `direction`: which sessions may receive a donor's credit —
    *    initializer `earlier_sessions_only`, holder `any_session`,
    *    closer `later_sessions_only` (strict (ts, session_id) order).
    *  - `receive_threshold`: a session is an eligible receiver only when
    *    its BASE combined ihc ≥ the phase's threshold (reference defaults
    *    0 / 0 / 0.1).
    *
    * A donor's phase weight `w_p` moves proportionally to the eligible
    * receivers' base ihc; a donor with no eligible receiver (or all-zero
    * eligible ihc) keeps its credit, so Σ ihc = 1 per conversion is
    * preserved exactly — [[sumCheck]] holds on the output.
    *
    * Determinism: every multi-term sum (receiver denominators, per-session
    * transfer-in, per-donor donated total) is an ORDERED DOUBLE FOLD over
    * a sorted collect_list (≡ the oracle's `list_reduce(list(x ORDER BY
    * k))`) — no float→decimal bridge (SURVEY §3 discipline 3).
    *
    * Scale shape: every join/aggregate keys on `conv_id` (+ phase /
    * session), so all work is journey-partitioned; the donor×receiver
    * pair join is journey-bounded (|direct touches|·|sessions| within one
    * conversion), the same cost class as journey assembly itself. No
    * driver state, no iteration.
    *
    * @return input columns + `ihc` (base) + `ihc_redist`
    */
  def attributeRedistributed(
      flagged: DataFrame,
      directChannels: Seq[String] = Seq("Direct"),
      initThreshold: Double = 0.0,
      holderThreshold: Double = 0.0,
      closerThreshold: Double = 0.1): DataFrame = {
    val base = withPhaseWeights(flagged)
    val slim = base.select("conv_id", "session_id", "ts_us", "channel_name",
      "w_i", "w_h", "w_c", "ihc")

    // one row per (direct-channel session, phase) still holding credit
    val donors = Seq(("i", "w_i"), ("h", "w_h"), ("c", "w_c")).map { case (p, wc) =>
      slim
        .filter(col("channel_name").isin(directChannels: _*) && col(wc) > 0.0)
        .select(col("conv_id"), lit(p).as("phase"), col("session_id").as("d_sid"),
          col("ts_us").as("d_ts"), col(wc).as("d_w"))
    }.reduce(_ unionAll _)

    val receivers = slim
      .filter(!col("channel_name").isin(directChannels: _*))
      .select(col("conv_id").as("r_conv"), col("session_id").as("r_sid"),
        col("ts_us").as("r_ts"), col("ihc").as("r_ihc"))

    val thr: Column = when(col("phase") === "i", initThreshold)
      .when(col("phase") === "h", holderThreshold)
      .otherwise(closerThreshold)
    val earlier = col("r_ts") < col("d_ts") ||
      (col("r_ts") === col("d_ts") && col("r_sid") < col("d_sid"))
    val later = col("r_ts") > col("d_ts") ||
      (col("r_ts") === col("d_ts") && col("r_sid") > col("d_sid"))
    val pairs = donors
      .join(receivers, col("conv_id") === col("r_conv") && col("r_ihc") >= thr &&
        (col("phase") === "h" ||
          (col("phase") === "i" && earlier) || (col("phase") === "c" && later)))
      .select("conv_id", "phase", "d_sid", "d_w", "r_sid", "r_ihc")

    // Σ eligible receiver ihc per donor — ordered fold by receiver id
    val denom = pairs
      .groupBy("conv_id", "phase", "d_sid")
      .agg(
        max(col("d_w")).as("d_w"),
        aggregate(
          array_sort(collect_list(struct(col("r_sid"), col("r_ihc")))),
          lit(0.0),
          (acc, x) => acc + x.getField("r_ihc")).as("denom"))

    val live = denom.filter(col("denom") > 0.0)

    // credit received per session — ordered fold over (phase, donor)
    val transfers = pairs
      .join(live.select(col("conv_id").as("dn_conv"), col("phase").as("dn_phase"),
        col("d_sid").as("dn_sid"), col("denom")),
        col("conv_id") === col("dn_conv") && col("phase") === col("dn_phase") &&
          col("d_sid") === col("dn_sid"))
      .select(col("conv_id"), col("r_sid"), col("phase"), col("d_sid"),
        (((col("d_w") * col("r_ihc")) / col("denom")) / 3.0).as("term"))
      .groupBy("conv_id", "r_sid")
      .agg(aggregate(
        array_sort(collect_list(struct(col("phase"), col("d_sid"), col("term")))),
        lit(0.0),
        (acc, x) => acc + x.getField("term")).as("t_in"))

    // credit donated per session — ordered fold over its donated phases
    val donated = live
      .select(col("conv_id"), col("d_sid"), col("phase"), (col("d_w") / 3.0).as("out"))
      .groupBy("conv_id", "d_sid")
      .agg(aggregate(
        array_sort(collect_list(struct(col("phase"), col("out")))),
        lit(0.0),
        (acc, x) => acc + x.getField("out")).as("t_out"))

    base
      .join(donated.select(col("conv_id").as("o_conv"), col("d_sid"), col("t_out")),
        col("conv_id") === col("o_conv") && col("session_id") === col("d_sid"), "left")
      .join(transfers.select(col("conv_id").as("i_conv"), col("r_sid"), col("t_in")),
        col("conv_id") === col("i_conv") && col("session_id") === col("r_sid"), "left")
      .withColumn("ihc_redist",
        (col("ihc") - coalesce(col("t_out"), lit(0.0))) + coalesce(col("t_in"), lit(0.0)))
      .drop("o_conv", "d_sid", "t_out", "i_conv", "r_sid", "t_in", "w_i", "w_h", "w_c")
  }

  /** Σ ihc = 1 validation — reference `db_utils.py:227-258` (0.001
    * tolerance). Exact decimal summation makes the check independent of
    * partitioning/order. */
  def sumCheck(attributed: DataFrame): DataFrame =
    attributed
      .groupBy("conv_id")
      .agg(dsum9(col("ihc")).as("total_ihc"))
      .withColumn("within_tolerance", abs(col("total_ihc") - 1.0) <= 0.001)
}
