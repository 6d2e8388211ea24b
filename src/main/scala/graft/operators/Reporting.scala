package graft.operators

import graft.functions.Exact.dsum
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Channel reporting — reference `reporting.py:15-189`.
  *
  * `channel_reporting(channel_name, date, cost, ihc, ihc_revenue)` =
  * `session_sources ⟕ session_costs ⨝ attribution ⨝ conversions`
  * grouped by (channel, event_date), then CPO/ROAS metrics with
  * divide-by-zero → NULL (the reference maps ±inf → NaN,
  * `reporting.py:154-161`; NULL is the relational equivalent).
  *
  * Scale: the only wide side is the attribution table; conversions is
  * conversions-sized (broadcastable at moderate SF), and the aggregate
  * output is |channels| × |dates| — tiny. Partial (map-side) aggregation
  * does the reduction before the final shuffle.
  */
object Reporting {

  /** Fixed decimal type of the MERGEABLE report state: wide enough that
    * partial-sum addition never changes type or rounds, so incremental
    * merges are exact and a merged base is bit-identical to a
    * from-scratch one. */
  private val BaseDec = org.apache.spark.sql.types.DecimalType(38, 6)

  /** @param attributed output of [[IhcAttribution.attribute]] (only
    *                   conv_id/session_id/ihc are used)
    */
  def channelReporting(
      attributed: DataFrame,
      sessions: DataFrame,
      sessionCosts: DataFrame,
      conversions: DataFrame): DataFrame =
    fromReportBase(channelReportingBase(attributed, sessions, sessionCosts, conversions))

  /** [[channelReporting]] with the sums kept in EXACT decimal — the
    * internal, merge-able form [[graft.Pipeline]] persists so each
    * incremental run aggregates only its delta and folds it into the
    * committed state with [[foldReportBase]] (decimal addition is
    * associative, so partial sums merge without drift; one double cast
    * happens at the very end, in [[fromReportBase]]). */
  def channelReportingBase(
      attributed: DataFrame,
      sessions: DataFrame,
      sessionCosts: DataFrame,
      conversions: DataFrame): DataFrame =
    baseSums(contributions(sessions
      .join(attributed.select("conv_id", "session_id", "ihc"), "session_id")
      .join(sessionCosts, Seq("session_id"), "left")
      .join(conversions.select("conv_id", "revenue"), "conv_id")),
      sum(_).cast(BaseDec))

  /** Fold attribution rows that carry their own report inputs
    * (`channel_name`, `event_date`, `cost`, `ihc`, `revenue`) into a
    * committed [[channelReportingBase]] state with ONE aggregate over
    * `committed ∪ rows`. Each row is rounded to decimal exactly as
    * [[channelReportingBase]] rounds it and decimal sums are exact, so
    * `fold(base(A), B) == base(A ∪ B)` bit-for-bit when A and B partition
    * the attribution rows: the incremental-report primitive, at
    * O(|channels|·|dates| + |rows|). */
  def foldReportBase(committed: DataFrame, rows: DataFrame): DataFrame =
    baseSums(committed.unionByName(contributions(rows).select(
      col("channel_name"), col("date"),
      col("cost").cast(BaseDec).as("cost"),
      col("ihc").cast(BaseDec).as("ihc"),
      col("ihc_revenue").cast(BaseDec).as("ihc_revenue"))),
      // every group has a row, so no sum is null: the state's columns are
      // NOT NULL, as the committed state has always been written
      c => coalesce(sum(c), lit(0).cast(BaseDec)))

  /** A report row's decimal contributions, each double rounded once to
    * scale 6; a session without a cost row costs 0. */
  private def contributions(rows: DataFrame): DataFrame = {
    val rowDec = org.apache.spark.sql.types.DecimalType(27, 6)
    rows.select(
      col("channel_name"), col("event_date").as("date"),
      coalesce(col("cost"), lit(0.0)).cast(rowDec).as("cost"),
      col("ihc").cast(rowDec).as("ihc"),
      (col("ihc") * col("revenue")).cast(rowDec).as("ihc_revenue"))
  }

  private def baseSums(contributions: DataFrame, total: Column => Column): DataFrame =
    contributions
      .groupBy(col("channel_name"), col("date"))
      .agg(
        total(col("cost")).as("cost"),
        total(col("ihc")).as("ihc"),
        total(col("ihc_revenue")).as("ihc_revenue"))

  /** The public (double) report from a decimal [[channelReportingBase]]
    * state — the same values [[graft.functions.Exact.dsum]] produces,
    * since widening the exact decimal before the one double cast changes
    * nothing. */
  def fromReportBase(base: DataFrame): DataFrame =
    base.select(
      col("channel_name"), col("date"),
      col("cost").cast("double").as("cost"),
      col("ihc").cast("double").as("ihc"),
      col("ihc_revenue").cast("double").as("ihc_revenue"))

  /** CPO = cost/ihc, ROAS = ihc_revenue/cost — `reporting.py:154-158`. */
  def withMetrics(report: DataFrame): DataFrame =
    report
      .withColumn("CPO", when(col("ihc") > 0.0, col("cost") / col("ihc")))
      .withColumn("ROAS", when(col("cost") > 0.0, col("ihc_revenue") / col("cost")))

  /** Incremental re-run support — reference `db_utils.py:260-302` /
    * `main.py:332-353`: only conversions NOT already attributed are
    * (re)processed. A left-anti join replaces the driver-side
    * set-difference; at scale this is the difference between an
    * append-only daily run and recomputing history. An anti-join ignores
    * duplicate keys, so the existing side needs no `distinct`. */
  def missingConversions(conversions: DataFrame, existingAttribution: DataFrame): DataFrame =
    conversions.join(existingAttribution.select("conv_id"), Seq("conv_id"), "left_anti")

  /** First-touch attribution: full credit to the journey's opening
    * session — the classic baseline the IHC model refines. One window
    * pick per journey, then a channel rollup. */
  def firstTouch(assigned: DataFrame): DataFrame = {
    val first = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy(col("ts_us").asc, col("session_id").asc)
    assigned
      .withColumn("rn", row_number().over(first))
      .filter(col("rn") === 1)
      .groupBy("channel_name")
      .agg(count(lit(1)).as("n_conversions"), dsum(col("revenue")).as("revenue"))
      .orderBy("channel_name")
  }

  /** Last-touch attribution: full credit to the conversion-flagged
    * session (A4's flag IS the last touch). */
  def lastTouch(flagged: DataFrame): DataFrame =
    flagged
      .filter(col("conversion") === 1)
      .groupBy("channel_name")
      .agg(count(lit(1)).as("n_conversions"), dsum(col("revenue")).as("revenue"))
      .orderBy("channel_name")

  /** Revenue share for the fractional-credit models, summed EXACTLY:
    * each factor is rounded to decimal separately — credit at scale 9
    * (within [0,1]; only a 10-decimal-exact dyadic credit could sit on a
    * rounding boundary), revenue at scale 6 (the money data carries ≤2
    * decimals, so this cast is lossless) — then multiplied and summed in
    * decimal, which is exact, with ONE final cast to double.
    *
    * Rounding the double PRODUCT instead (the plain dsum pattern) is
    * subtly non-portable here: a dyadic credit (e.g. 7/16) times a
    * 3-decimal revenue lands exactly on the product-cast half-boundary
    * while not being binary-representable, and Spark (shortest-decimal
    * HALF_UP) and other engines (binary-value rounding) legitimately
    * disagree on which side it falls — observed as 1e-6 mismatches at
    * sf0.1 before this factoring. */
  private def modelRevenue: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.DecimalType
    // the sum is rescaled 15 → 9 BEFORE the double cast: a scale-15 total
    // has an unscaled value past 2^53, where decimal→double conversion is
    // engine-specific in the last ulp (one engine double-rounds through
    // int128/10^15); at scale 9 the conversion is a single exact division
    sum(col("credit").cast(DecimalType(10, 9)) * col("revenue").cast(DecimalType(12, 6)))
      .cast(DecimalType(38, 9)).cast("double").as("revenue")
  }

  /** Linear attribution: uniform credit 1/n across the journey's sessions —
    * fractional conversions and revenue shares per channel. Completes the
    * classic model ladder next to first/last-touch and IHC. */
  def linearAttribution(assigned: DataFrame): DataFrame = {
    val byConv = org.apache.spark.sql.expressions.Window.partitionBy("conv_id")
    assigned
      .withColumn("credit", lit(1.0) / count(lit(1)).over(byConv).cast("double"))
      .groupBy("channel_name")
      .agg(
        graft.functions.Exact.dsum9(col("credit")).as("conversions"),
        modelRevenue)
      .orderBy("channel_name")
  }

  /** Time-decay attribution with RECIPROCAL-day decay w = 1/(1+age_days),
    * normalized per journey. Reciprocal decay (not exponential) is a
    * deliberate choice: credit must be bit-reproducible across engines, and
    * `exp()` is not correctly rounded in either JVM intrinsics or libm —
    * 1/(1+k) over an integer day age uses only correctly-rounded IEEE ops,
    * so Spark and the SQL oracle agree exactly while keeping the
    * recency-weighting shape. */
  def timeDecayAttribution(assigned: DataFrame): DataFrame = {
    val byConv = org.apache.spark.sql.expressions.Window.partitionBy("conv_id")
    assigned
      .withColumn("age_days", expr("(conv_ts_us - ts_us) DIV 86400000000"))
      .withColumn("w", lit(1.0) / (lit(1.0) + col("age_days").cast("double")))
      .withColumn("wsum",
        sum(col("w").cast(org.apache.spark.sql.types.DecimalType(27, 9)))
          .over(byConv).cast("double"))
      .withColumn("credit", col("w") / col("wsum"))
      .groupBy("channel_name")
      .agg(
        graft.functions.Exact.dsum9(col("credit")).as("conversions"),
        modelRevenue)
      .orderBy("channel_name")
  }

  /** Position-based (U-shaped) attribution: 40% to the opening touch, 40%
    * to the closing touch, the middle 20% split evenly; degenerate
    * journeys get 1.0 (single touch) or 0.5/0.5 (two touches). */
  def positionBasedAttribution(assigned: DataFrame): DataFrame = {
    val byConv = org.apache.spark.sql.expressions.Window.partitionBy("conv_id")
    val asc = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy(col("ts_us").asc, col("session_id").asc)
    assigned
      .withColumn("rn", row_number().over(asc))
      .withColumn("n", count(lit(1)).over(byConv))
      .withColumn("credit",
        when(col("n") === 1, 1.0)
          .when(col("n") === 2, 0.5)
          .when(col("rn") === 1 || col("rn") === col("n"), 0.4)
          .otherwise(lit(0.2) / (col("n") - 2).cast("double")))
      .groupBy("channel_name")
      .agg(
        graft.functions.Exact.dsum9(col("credit")).as("conversions"),
        modelRevenue)
      .orderBy("channel_name")
  }

  /** Side-by-side model comparison: every channel's revenue credit under
    * the five closed-form models (first/last/linear/time-decay/position)
    * plus the cross-model spread — the disagreement readout an
    * attribution review starts from (a channel whose credit swings with
    * the model choice is exactly where the model choice matters; a flat
    * row is settled no matter the methodology debate).
    *
    * Scale shape: the journey frame is localCheckpointed ONCE (narrow
    * projection, keeping `user_id` for the last-touch flag window) and
    * feeds all five rollups — without it each model
    * re-runs the upstream assignment DAG; each model is its existing
    * audited one-window plan; the compare joins five |channels|-row
    * aggregates to the distinct-channel list (metadata-sized). Missing
    * channels coalesce to 0.0 credit; spread = greatest − least of five
    * identical-tree doubles. */
  def modelCompare(assigned: DataFrame): DataFrame = {
    val a = assigned
      .select("user_id", "conv_id", "session_id", "ts_us", "conv_ts_us", "channel_name",
        "revenue")
      .localCheckpoint()
    def rev(df: DataFrame, tag: String) =
      df.select(col("channel_name"), col("revenue").as(s"rev_$tag"))
    val models = Seq(
      rev(firstTouch(a), "first"),
      rev(lastTouch(graft.operators.Journeys.flagConversion(a)), "last"),
      rev(linearAttribution(a), "linear"),
      rev(timeDecayAttribution(a), "decay"),
      rev(positionBasedAttribution(a), "position"))
    val channels = a.select("channel_name").distinct()
    val joined = models.foldLeft(channels)((acc, m) => acc.join(m, Seq("channel_name"), "left"))
    val tags = Seq("first", "last", "linear", "decay", "position")
    val revCols = tags.map(t => coalesce(col(s"rev_$t"), lit(0.0)).as(s"rev_$t"))
    joined
      .select(col("channel_name") +: revCols: _*)
      .withColumn("spread",
        greatest(tags.map(t => col(s"rev_$t")): _*) -
          least(tags.map(t => col(s"rev_$t")): _*))
      .orderBy("channel_name")
  }

  /** Per-channel journey-participation rate: of each channel's sessions,
    * the share that landed inside a converting journey — the top-of-model
    * efficiency number (a channel whose touches rarely reach any journey
    * is spending on users who never convert, regardless of how the
    * credit models split the converters).
    *
    * Two partial-agg rollups joined on the |channels|-row key; absent
    * channels coalesce to 0. */
  def channelConversionRate(sessions: DataFrame, assigned: DataFrame): DataFrame = {
    val all = sessions.groupBy("channel_name").agg(count(lit(1)).as("n_sessions"))
    val inJ = assigned.groupBy("channel_name").agg(count(lit(1)).as("n_in_journeys"))
    all.join(inJ, Seq("channel_name"), "left")
      .withColumn("n_in_journeys", coalesce(col("n_in_journeys"), lit(0L)))
      .withColumn("journey_rate",
        col("n_in_journeys").cast("double") / col("n_sessions").cast("double"))
      .select("channel_name", "n_sessions", "n_in_journeys", "journey_rate")
      .orderBy("channel_name")
  }

  /** Export the reporting table as a single CSV with header — reference
    * `reporting.py:105-168` (`channel_reporting.csv`). Coalesced to one
    * file to match the reference's single-artifact contract; the parquet
    * path is the scale-appropriate sink. */
  def exportCsv(report: DataFrame, path: String): Unit =
    report.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** SHAPLEY-VALUE attribution (Shapley '53 via the simplified
    * conversion-game of Dalessandro et al. / Zhao et al.): the
    * characteristic function `v(S)` = number of conversions whose
    * distinct channel set is CONTAINED in coalition `S`, and each
    * channel's credit is its exact Shapley value
    * `φ(c) = Σ_{S ⊆ U\\{c}} |S|!(K−|S|−1)!/K! · (v(S∪{c}) − v(S))` —
    * the fourth classic data-driven model beside Markov removal
    * (A24), completing the family. Σφ = v(U) = total conversions.
    *
    * Scale shape: the corpus-sized work is ONE distinct + groupBy pass
    * producing per-journey channel SETS and their counts — at most
    * 2^K rows of schema-cardinality metadata (K = |channels|, guarded
    * ≤ 12); the subset-sum table and the exact Shapley loop run
    * driver-side like the Markov/PageRank solves. Determinism:
    * factorials ≤ 12! are exact in double, every weight is the fixed
    * `(s!·(K−s−1)!)/K!` IEEE tree, per-channel terms fold in ascending
    * coalition-mask order (≡ the oracle's `list_reduce(list(term ORDER
    * BY S))`), counts are exact longs. */
  def shapleyAttribution(assigned: DataFrame): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val setCounts: Array[(Seq[String], Long)] = assigned
      .select(col("conv_id"), col("channel_name")).distinct()
      .groupBy("conv_id").agg(sort_array(collect_set("channel_name")).as("chset"))
      .groupBy("chset").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getSeq[String](0), r.getLong(1)))
    val universe: Array[String] =
      setCounts.flatMap(_._1).distinct.sorted
    val k = universe.length
    if (k == 0)
      return Seq.empty[(String, Double)].toDF("channel", "shapley")
    require(k <= 12,
      s"shapleyAttribution: $k channels — the 2^K coalition game is for " +
        "schema-cardinality channel alphabets (≤ 12); use markov for more")
    val idx = universe.zipWithIndex.toMap
    val maskCounts = new Array[Long](1 << k)
    setCounts.foreach { case (chs, n) =>
      maskCounts(chs.map(c => 1 << idx(c)).sum) += n
    }
    // v(S) = Σ_{T ⊆ S} cnt(T) — subset-sum (SOS) DP, K·2^K
    val v = maskCounts.clone()
    for (i <- 0 until k; s <- 0 until (1 << k))
      if ((s & (1 << i)) != 0) v(s) += v(s ^ (1 << i))
    def factD(n: Int): Double = { var r = 1.0; var i = 2; while (i <= n) { r *= i; i += 1 }; r }
    val rows = universe.zipWithIndex.map { case (ch, i) =>
      val bit = 1 << i
      var phi = 0.0
      var s = 0
      while (s < (1 << k)) { // ascending-mask fold, mirrored by the oracle
        if ((s & bit) == 0) {
          val w = (factD(java.lang.Integer.bitCount(s)) *
            factD(k - java.lang.Integer.bitCount(s) - 1)) / factD(k)
          phi += w * (v(s | bit) - v(s)).toDouble
        }
        s += 1
      }
      (ch, phi)
    }
    rows.toSeq.toDF("channel", "shapley").orderBy("channel")
  }
}
