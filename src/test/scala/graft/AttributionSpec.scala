package graft

import graft.operators.{IhcAttribution, Journeys, Reporting}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

class AttributionSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val sessions    = Tables.sessions(spark, sfDir)
  private lazy val conversions = Tables.conversions(spark, sfDir)
  private lazy val assigned    = Journeys.assign(sessions, conversions).cache()
  private lazy val attributed  = IhcAttribution.attribute(Journeys.flagConversion(assigned)).cache()

  // the suites share one session: release the pins so no later suite
  // starts with cached frames in its CacheManager
  override def afterAll(): Unit =
    try { attributed.unpersist(); assigned.unpersist() } finally super.afterAll()

  test("markov removal effect: a channel on every converting path gets full credit") {
    import spark.implicits._
    // user 1 converts through channel a; user 2 touches only channel b and
    // never converts — removing a kills every conversion (effect 1.0),
    // removing b changes nothing (effect 0.0)
    val sess = Seq(
      (100L, 1L, 1000L, "a"),
      (200L, 2L, 1000L, "b"))
      .toDF("session_id", "user_id", "ts_us", "channel_name")
    val asg = Seq((100L, 1L, 1000L, "a", 10L, 2000L, 50.0))
      .toDF("session_id", "user_id", "ts_us", "channel_name", "conv_id", "conv_ts_us", "revenue")
    val out = graft.operators.Markov.attribution(spark, sess, asg).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq === Seq(("a", 1.0, 1.0, 50.0), ("b", 0.0, 0.0, 0.0)))
  }

  test("markov weights sum to 1 and revenue to the journey total on real data") {
    import graft.operators.Markov
    val m = Markov.attribution(spark, sessions, assigned)
    val w = m.agg(sum("weight")).head().getDouble(0)
    assert(math.abs(w - 1.0) < 1e-9)
    val rev = m.agg(sum("revenue")).head().getDouble(0)
    val total = assigned.select("conv_id", "revenue").distinct()
      .agg(sum("revenue")).head().getDouble(0)
    assert(math.abs(rev - total) < 1e-3)
  }

  test("second-order markov: context-dependent channels separate; weights conserve") {
    import spark.implicits._
    // b converts ONLY when reached via a (a>b→CONV); via c it never
    // converts (c>b→NULL). A first-order chain averages b's two contexts;
    // the second-order chain keeps them apart: removing a is as fatal as
    // removing b (both 1.0), removing c changes nothing.
    val sess = Seq(
      (100L, 1L, 1000L, "a"), (101L, 1L, 2000L, "b"),
      (200L, 2L, 1000L, "c"), (201L, 2L, 2000L, "b"))
      .toDF("session_id", "user_id", "ts_us", "channel_name")
    val asg = Seq(
      (100L, 1L, 1000L, "a", 10L, 3000L, 80.0),
      (101L, 1L, 2000L, "b", 10L, 3000L, 80.0))
      .toDF("session_id", "user_id", "ts_us", "channel_name", "conv_id", "conv_ts_us", "revenue")
    val out = graft.operators.Markov.attribution2(spark, sess, asg).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(out("a") === 1.0)
    assert(out("b") === 1.0)
    assert(out("c") === 0.0)
    // and on real data: weights sum to 1, revenue to the journey total
    val m = graft.operators.Markov.attribution2(spark, sessions, assigned)
    assert(math.abs(m.agg(sum("weight")).head().getDouble(0) - 1.0) < 1e-9)
  }

  test("markov degenerate inputs return empty, not NaN rows") {
    import spark.implicits._
    // no converting journeys at all: pFull = 0 → empty result (the
    // unguarded division would emit NaN removal effects)
    val sess = Seq((100L, 1L, 1000L, "a"), (101L, 1L, 2000L, "b"))
      .toDF("session_id", "user_id", "ts_us", "channel_name")
    val emptyAsg = Seq.empty[(Long, Long, Long, String, Long, Long, Double)]
      .toDF("session_id", "user_id", "ts_us", "channel_name", "conv_id", "conv_ts_us", "revenue")
    assert(graft.operators.Markov.attribution(spark, sess, emptyAsg).count() === 0)
    assert(graft.operators.Markov.attribution2(spark, sess, emptyAsg).count() === 0)
  }

  test("linear / time-decay / position models conserve total credit") {
    // each model distributes exactly 1.0 fractional conversion per journey,
    // so the channel rollup must sum back to the journey count
    import graft.operators.Reporting
    val journeys = assigned.select("conv_id").distinct().count().toDouble
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      Reporting.linearAttribution,
      Reporting.timeDecayAttribution,
      Reporting.positionBasedAttribution
    ).foreach { model =>
      val s = model(assigned).agg(sum("conversions")).head().getDouble(0)
      assert(math.abs(s - journeys) < 1e-6, s"credit sum $s != journeys $journeys")
    }
  }

  test("each session is assigned to at most one conversion") {
    val dup = assigned.groupBy("session_id").count().filter(col("count") > 1).count()
    assert(dup === 0)
  }

  test("assigned conversion is the user's earliest conversion after the session") {
    val viol = assigned.alias("a")
      .join(conversions.alias("c"), col("a.user_id") === col("c.user_id"))
      .filter(col("a.ts_us") < col("c.conv_ts_us") &&
        col("c.conv_ts_us") < col("a.conv_ts_us"))
      .count()
    assert(viol === 0)
  }

  test("every journey has exactly one conversion-flagged session") {
    val bad = Journeys.flagConversion(assigned)
      .groupBy("conv_id").agg(sum("conversion").as("n"))
      .filter(col("n") =!= 1).count()
    assert(bad === 0)
  }

  test("ihc values are in [0,1] and sum to 1 per conversion") {
    assert(attributed.filter(col("ihc") < 0 || col("ihc") > 1).count() === 0)
    val offSum = IhcAttribution.sumCheck(attributed)
      .filter(!col("within_tolerance")).count()
    assert(offSum === 0)
  }

  test("channel reporting conserves total attributed revenue") {
    val report = Reporting.channelReporting(
      attributed, sessions, Tables.sessionCosts(spark, sfDir), conversions)
    val reported = report.agg(sum("ihc")).head.getDouble(0)
    val journeys = attributed.select("conv_id").distinct().count()
    val sessions_n = attributed.count()
    // Σ channel ihc == number of journeys (each journey contributes 1.0),
    // up to the by-design 6-decimal rounding of each session's ihc term
    assert(math.abs(reported - journeys) <= sessions_n * 5e-7)
  }

  test("CPO and ROAS are null only when the denominator is zero") {
    val m = Reporting.withMetrics(
      Reporting.channelReporting(
        attributed, sessions, Tables.sessionCosts(spark, sfDir), conversions))
    assert(m.filter(col("CPO").isNull && col("ihc") > 0).count() === 0)
    assert(m.filter(col("ROAS").isNull && col("cost") > 0).count() === 0)
  }

  test("distributed Markov removal-effect solve agrees with the driver-side solve") {
    val assigned = Journeys.assign(sessions, conversions)
    val driver = graft.operators.Markov.attribution(spark, sessions, assigned)
      .collect()
      .map(r => r.getAs[String]("channel_name") ->
        (r.getAs[Double]("removal_effect"), r.getAs[Double]("weight"), r.getAs[Double]("revenue")))
      .toMap
    val dist = graft.operators.Markov.attributionDistributed(spark, sessions, assigned)
      .collect()
      .map(r => r.getAs[String]("channel_name") ->
        (r.getAs[Double]("removal_effect"), r.getAs[Double]("weight"), r.getAs[Double]("revenue")))
      .toMap
    assert(dist.keySet === driver.keySet)
    // the distributed solve runs in plain IEEE double (no per-step decimal
    // rounding), so agreement is to solver tolerance, not bit-equality
    driver.foreach { case (c, (e, w, rev)) =>
      val (de, dw, drev) = dist(c)
      assert(math.abs(de - e) < 1e-8, s"$c effect: $de vs $e")
      assert(math.abs(dw - w) < 1e-8, s"$c weight: $dw vs $w")
      assert(math.abs(drev - rev) < 1e-3 * math.max(1.0, math.abs(rev)), s"$c revenue")
    }
  }

  test("second-order distributed solve agrees with the second-order driver solve") {
    val assigned = Journeys.assign(sessions, conversions)
    val driver = graft.operators.Markov.attribution2(spark, sessions, assigned)
      .collect()
      .map(r => r.getAs[String]("channel_name") -> r.getAs[Double]("removal_effect"))
      .toMap
    val dist = graft.operators.Markov.attributionDistributed2(spark, sessions, assigned)
      .collect()
      .map(r => r.getAs[String]("channel_name") -> r.getAs[Double]("removal_effect"))
      .toMap
    assert(dist.keySet === driver.keySet)
    driver.foreach { case (c, e) =>
      assert(math.abs(dist(c) - e) < 1e-8, s"$c: ${dist(c)} vs $e")
    }
  }

  test("shapleyAttribution golden: hand-computed coalition game; efficiency on real data") {
    import spark.implicits._
    // journeys: {A} x2, {A,B} x1. v(A)=2, v(B)=0, v(AB)=3.
    // phi(A) = 1/2*(2-0) + 1/2*(3-0) = 2.5 ; phi(B) = 0 + 1/2*(3-2) = 0.5
    val assigned = Seq(
      (1L, "A"), (1L, "A"), // duplicate touch on the same channel collapses
      (2L, "A"),
      (3L, "A"), (3L, "B"))
      .toDF("conv_id", "channel_name")
    val out = Reporting.shapleyAttribution(assigned).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("A" -> 2.5, "B" -> 0.5))
    // efficiency: credits sum to the total number of conversions
    val real = Journeys.assign(
      Tables.sessions(spark, sfDir), Tables.conversions(spark, sfDir))
    val phi = Reporting.shapleyAttribution(real).collect().map(_.getDouble(1))
    val nConv = real.select("conv_id").distinct().count()
    assert(math.abs(phi.sum - nConv.toDouble) < 1e-6, s"sum ${phi.sum} vs $nConv")
    assert(phi.forall(_ >= 0.0), "v is monotone, so every Shapley credit is >= 0")
  }

  test("lookback filter ages out the opener and credit renormalizes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one user: an old 'view' touch 10 days before conversion, a fresh
    // 'click' 1 hour before — a 2-day lookback drops the view, the click
    // becomes initializer AND closer, sum(ihc) stays 1
    val day = 86400000000L
    val sess = Seq(
      (10L, 1L, 100L * day, java.sql.Date.valueOf("2024-01-01"), "view", 1, 0, 1),
      (11L, 1L, 110L * day - 3600000000L, java.sql.Date.valueOf("2024-01-10"), "click", 1, 1, 0))
      .toDF("session_id", "user_id", "ts_us", "event_date", "channel_name",
        "holder_engagement", "closer_engagement", "impression_interaction")
    val conv = Seq((1000L, 1L, 110L * day, java.sql.Date.valueOf("2024-01-10"), 50.0))
      .toDF("conv_id", "user_id", "conv_ts_us", "conv_date", "revenue")
    val full = IhcAttribution.attribute(
      Journeys.flagConversion(Journeys.assign(sess, conv)))
    assert(full.count() === 2)
    val lb = IhcAttribution.attribute(Journeys.flagConversion(
      Journeys.lookbackFilter(Journeys.assign(sess, conv), 2L * day)))
      .collect()
    assert(lb.length === 1)
    assert(lb.head.getAs[Long]("session_id") === 11L)
    assert(math.abs(lb.head.getAs[Double]("ihc") - 1.0) < 1e-12)
  }

  test("channelOverlap: planted co-occurrence yields exact support and lift") {
    import spark.implicits._
    // conv 1: {a,b}; conv 2: {a,b}; conv 3: {a}; conv 4: {c}
    val a = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"), (4L, "c"))
      .toDF("conv_id", "channel_name")
    val out = Journeys.channelOverlap(a).collect()
    val ab = out.find(r => r.getAs[String]("ch_a") == "a" && r.getAs[String]("ch_b") == "b").get
    assert(ab.getAs[Long]("n_ab") === 2L)
    assert(ab.getAs[Long]("n_a") === 3L)
    assert(ab.getAs[Long]("n_b") === 2L)
    assert(ab.getAs[Long]("n_convs") === 4L)
    assert(ab.getAs[Double]("support") === 0.5)
    assert(ab.getAs[Double]("lift") === (2.0 * 4.0) / (3.0 * 2.0))
    assert(!out.exists(r => r.getAs[String]("ch_b") == "c"), "c co-occurs with nothing")
  }

  test("modelCompare: every model conserves total journey revenue") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Reporting.modelCompare(assigned)
    val total = assigned.select("conv_id", "revenue").distinct()
      .agg(graft.functions.Exact.dsum(col("revenue"))).head().getDouble(0)
    val sums = out.agg(
      sum("rev_first"), sum("rev_last"), sum("rev_linear"),
      sum("rev_decay"), sum("rev_position")).head()
    // fractional models round each journey's credit at decimal scale 9,
    // so conservation holds to ~5e-9 per journey, not machine epsilon
    val nJourneys = assigned.select("conv_id").distinct().count()
    val tol = 1e-8 * nJourneys.toDouble + 1e-9
    (0 until 5).foreach { i =>
      assert(math.abs(sums.getDouble(i) - total) < tol,
        s"model $i leaks revenue: ${sums.getDouble(i)} vs $total (tol $tol)")
    }
    out.collect().foreach { r =>
      assert(r.getAs[Double]("spread") >= 0.0)
    }
  }

  test("lengthDistribution partitions journeys and conserves revenue") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Journeys.lengthDistribution(assigned)
    val nJourneys = assigned.select("conv_id").distinct().count()
    assert(out.agg(sum("n_journeys")).head().getLong(0) === nJourneys)
    val total = assigned.select("conv_id", "revenue").distinct()
      .agg(graft.functions.Exact.dsum(col("revenue"))).head().getDouble(0)
    val sumRev = out.agg(sum("total_revenue")).head().getDouble(0)
    assert(math.abs(sumRev - total) < 1e-6)
  }

  test("channelConversionRate: rates in [0,1], counts consistent with assignment") {
    val out = Reporting.channelConversionRate(sessions, assigned).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val rate = r.getAs[Double]("journey_rate")
      assert(rate >= 0.0 && rate <= 1.0, r.toString)
      assert(r.getAs[Long]("n_in_journeys") <= r.getAs[Long]("n_sessions"))
    }
    val sumJ = out.map(_.getAs[Long]("n_in_journeys")).sum
    assert(sumJ === assigned.count())
  }

  test("channelPositionBias: roles partition touches; single-touch counts as both ends") {
    import spark.implicits._
    // journey 10: a -> b -> c; journey 20: d alone
    val asg = Seq(
      (1L, 1L, 1000L, "a", 10L, 9000L, 5.0),
      (2L, 1L, 2000L, "b", 10L, 9000L, 5.0),
      (3L, 1L, 3000L, "c", 10L, 9000L, 5.0),
      (4L, 2L, 1000L, "d", 20L, 9000L, 7.0))
      .toDF("session_id", "user_id", "ts_us", "channel_name", "conv_id", "conv_ts_us", "revenue")
    val out = Journeys.channelPositionBias(asg).collect()
      .map(r => r.getAs[String]("channel_name") ->
        (r.getAs[Long]("n_opener"), r.getAs[Long]("n_closer"), r.getAs[Long]("n_middle"))).toMap
    assert(out("a") === ((1L, 0L, 0L)))
    assert(out("b") === ((0L, 0L, 1L)))
    assert(out("c") === ((0L, 1L, 0L)))
    assert(out("d") === ((1L, 1L, 0L))) // single touch = opener AND closer
  }

  test("lagByOpener partitions journeys across opener channels") {
    val out = Journeys.lagByOpener(assigned).collect()
    val nJourneys = assigned.select("conv_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_journeys")).sum === nJourneys)
    out.foreach(r => assert(r.getAs[Double]("avg_lag_us") > 0.0))
  }
}
