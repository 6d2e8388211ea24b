package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec with SparkJobs {
  import spark.implicits._

  // vec 0 == vec 20 (identical), others random-ish but deterministic
  private lazy val emb = {
    val rows = (0 until 30).map { i =>
      val arr =
        if (i == 20) Array.tabulate(64)(d => (d + 1).toFloat)
        else Array.tabulate(64)(d => ((d * 31 + i * 17) % 13 - 6).toFloat + (if (d == 0) i else 0))
      (i.toLong, if (i == 0) Array.tabulate(64)(d => (d + 1).toFloat) else arr)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("trained IVF quantizer beats the untrained stand-in on recall@10 at sf0.1") {
    // ground truth = brute force; same nProbe for both, so the comparison
    // is at equal probe budget. On the sf0.1 embeddings the two Lloyd
    // iterations lift recall to 1.0 (untrained: 0.975) while also probing
    // FEWER candidates (tighter cell balance) — measured 2026-08, pinned
    // here as a regression floor rather than exact values.
    val embTable = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(embTable))
    val untrained = pairs(Similarity.ivfTopK(embTable))
    val trained = pairs(Similarity.ivfTopKTrained(embTable))
    val rU = (truth & untrained).size.toDouble / truth.size
    val rT = (truth & trained).size.toDouble / truth.size
    assert(rT > rU, s"trained recall $rT should beat untrained $rU")
    assert(rT >= 0.99)
  }

  test("PQ-ADC recall@10: perfect on clustered data; training lifts the random floor") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Structured corpus (the case PQ exists for): 400 vectors around 20
    // prototypes + small deterministic noise — 8 codes/vector (32x
    // compression) recover the TRUE top-10 exactly.
    val structured = (0 until 400).map { i =>
      val proto = i % 20
      (i.toLong, Array.tabulate(64)(d =>
        ((proto * 37 + d * 13) % 21 - 10).toFloat + ((i * 7 + d) % 5 - 2) * 0.05f))
    }.toDF("vec_id", "embedding")
    val truthS = pairs(Similarity.bruteForceTopK(structured))
    val pqS = pairs(Similarity.pqTopK(structured))
    assert((truthS & pqS).size === truthS.size, "clustered-data recall should be 1.0")
    // Hash-random sf0.01 embeddings are PQ's WORST case (no cluster
    // structure to quantize) — recall is honestly modest there; pin that
    // training still lifts it and it stays above a floor (measured
    // 2026-08: 0.325 untrained -> 0.375 trained).
    val embTable = graft.sources.Tables.embeddings(spark, sfDir)
    val truth = pairs(Similarity.bruteForceTopK(embTable))
    val rU = (truth & pairs(Similarity.pqTopK(embTable, iters = 0))).size.toDouble / truth.size
    val rT = (truth & pairs(Similarity.pqTopK(embTable))).size.toDouble / truth.size
    assert(rT > rU, s"training should lift random-data recall ($rU -> $rT)")
    assert(rT >= 0.3, s"PQ recall@10 $rT below the random-data floor")
  }

  test("IVF+PQ composition: perfect recall on clustered data; candidates respect the probe set") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the same structured corpus as the PQ spec: composition must not
    // lose what each index finds alone when cells are well-separated
    val structured = (0 until 400).map { i =>
      val proto = i % 20
      (i.toLong, Array.tabulate(64)(d =>
        ((proto * 37 + d * 13) % 21 - 10).toFloat + ((i * 7 + d) % 5 - 2) * 0.05f))
    }.toDF("vec_id", "embedding")
    val truth = pairs(Similarity.bruteForceTopK(structured))
    val ivfpq = pairs(Similarity.ivfPqTopK(structured))
    assert((truth & ivfpq).size.toDouble / truth.size >= 0.9,
      "IVF+PQ recall collapsed on clustered data")
    // every IVF+PQ result must also be an IVF candidate at the same
    // probe budget: PQ only re-scores, it can never widen the cell scan
    val ivfCand = pairs(Similarity.ivfTopKTrained(structured, k = 400))
    assert(ivfpq.subsetOf(ivfCand), "IVF+PQ surfaced a neighbor outside the probed cells")
  }

  test("PQ encodes the codebook vectors to themselves (self-reconstruction)") {
    // a vector that IS codebook entry c must pick code c in every
    // subspace: its reconstruction is itself, so its ADC cosine vs the
    // identical query is exactly 1
    val out = Similarity.pqTopK(emb, nQueries = 1, k = 5).collect()
    val top = out.minBy(_.getAs[Int]("rank"))
    // vec 20 is identical to query vec 0; vec 0's codes reconstruct vec 0
    // exactly (it is a codebook vector), so the duplicate pair stays rank 1
    assert(top.getAs[Long]("neighbor_id") === 20L)
  }

  test("brute-force top-k ranks the identical vector first with cosine 1") {
    val out = Similarity.bruteForceTopK(emb, nQueries = 1, k = 5).collect()
    assert(out.length === 5)
    val top = out.minBy(_.getAs[Int]("rank"))
    assert(top.getAs[Long]("neighbor_id") === 20L)
    assert(math.abs(top.getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("ranks are dense per query and cosines non-increasing") {
    val out = Similarity.bruteForceTopK(emb, nQueries = 2, k = 10)
      .collect().groupBy(_.getAs[Long]("query_id"))
    out.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to sorted.length))
      val cos = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH top-k finds the identical vector (same sign bucket)") {
    val out = Similarity.lshTopK(emb, nQueries = 1, k = 5).collect()
    assert(out.exists(r => r.getAs[Long]("neighbor_id") == 20L
      && math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-9))
  }

  test("multi-probe recovers a neighbor one sign flip away; single-probe misses it") {
    // q = all +1; near = q with dim 0 nudged negative → Hamming-1 bucket;
    // same = q doubled → exact bucket. Cosines: same 1.0 > near ≈ 0.984.
    val q = Array.fill(64)(1f)
    val near = Array.tabulate(64)(d => if (d == 0) -0.05f else 1f)
    val same = Array.fill(64)(2f)
    val emb = Seq((0L, q), (5L, same), (9L, near)).toDF("vec_id", "embedding")
    val single = Similarity.lshTopK(emb, nQueries = 1, k = 10, multiProbe = false).collect()
    assert(single.map(_.getAs[Long]("neighbor_id")).toSet === Set(5L))
    val multi = Similarity.lshTopK(emb, nQueries = 1, k = 10).collect()
    assert(multi.map(_.getAs[Long]("neighbor_id")).toSet === Set(5L, 9L))
    // ranking preserved: exact-bucket match (cosine 1) above the recovered one
    assert(multi.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      === Seq(5L, 9L))
  }

  test("multi-probe recall vs brute force is a superset of single-probe recall") {
    val bf = Similarity.bruteForceTopK(emb, nQueries = 4, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recalled(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
        .intersect(bf)
    val single = recalled(Similarity.lshTopK(emb, nQueries = 4, k = 10, multiProbe = false).collect())
    val multi = recalled(Similarity.lshTopK(emb, nQueries = 4, k = 10).collect())
    assert(single.subsetOf(multi))
  }

  test("LSH results are a subset of brute-force candidates' scores") {
    val bf = Similarity.bruteForceTopK(emb, nQueries = 1, k = 29).collect()
      .map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cosine")).toMap
    val lsh = Similarity.lshTopK(emb, nQueries = 1, k = 29).collect()
    lsh.foreach { r =>
      val nid = r.getAs[Long]("neighbor_id")
      assert(math.abs(bf(nid) - r.getAs[Double]("cosine")) < 1e-12)
    }
  }

  test("SQ quantization: near-lossless cosines and high recall vs brute force") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val bf = Similarity.bruteForceTopK(emb, nQueries = 4, k = 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
    val bfScores = bf.values.flatten
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine"))
      .toMap
    val sq = Similarity.sqTopK(emb, nQueries = 4, k = 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
    assert(sq.keySet === bf.keySet)
    // 8-bit-per-dim reconstruction keeps cosine within ~1e-2 of exact
    sq.values.flatten.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      bfScores.get(key).foreach { exact =>
        assert(math.abs(exact - r.getAs[Double]("sq_cosine")) < 1e-2)
      }
    }
    // recall@10 >= 0.8 per query against the exact top-10
    sq.foreach { case (qid, rows) =>
      val got = rows.map(_.getAs[Long]("neighbor_id")).toSet
      val want = bf(qid).map(_.getAs[Long]("neighbor_id")).toSet
      assert(got.intersect(want).size >= 8, s"query $qid recall too low")
    }
  }

  test("topic assignment routes each vector to its own cluster's prototype") {
    import spark.implicits._
    // Two well-separated clusters: label 0 lives on the first 32 dims,
    // label 1 on the last 32. A slightly-perturbed member of each cluster
    // must come back assigned to its own label with high cosine.
    def vec(hi: Range, bump: Int): Array[Float] =
      Array.tabulate(64)(i => (if (hi.contains(i)) 1f else 0f) + (if (i == bump) 0.05f else 0f))
    val rows = Seq(
      (1L, vec(0 until 32, 0), 0), (2L, vec(0 until 32, 5), 0),
      (3L, vec(0 until 32, 9), 0),
      (11L, vec(32 until 64, 40), 1), (12L, vec(32 until 64, 50), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.topicAssign(rows).collect()
    assert(out.length === 5)
    out.foreach { r =>
      assert(r.getAs[Long]("assigned_label") === r.getAs[Long]("true_label"))
      assert(r.getAs[Boolean]("is_correct"))
      assert(r.getAs[Double]("cosine") > 0.95)
    }
  }

  test("recall@k: self-recall is exactly 1; LSH recall bounded and consistent with hits") {
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val truth = Similarity.bruteForceTopK(emb)
    // an index evaluated against itself recovers everything
    Similarity.recallAtK(truth, truth).collect().foreach { r =>
      assert(r.getAs[Long]("n_hits") === 10L)
      assert(r.getAs[Double]("recall") === 1.0)
    }
    val lsh = Similarity.lshRecall(emb).collect()
    assert(lsh.length === 8) // one row per query, none dropped
    lsh.foreach { r =>
      val (h, rec) = (r.getAs[Long]("n_hits"), r.getAs[Double]("recall"))
      assert(h >= 0L && h <= 10L)
      assert(rec === h.toDouble / 10.0)
    }
    // on the near-random synthetic embeddings sign-LSH top-10 recall is
    // honestly low (that is WHY the evaluation operator exists — it's the
    // number that tells you to pick IVF here); assert it is measured,
    // non-zero, and strictly below the self-recall ceiling
    val mean = lsh.map(_.getAs[Double]("recall")).sum / 8.0
    assert(mean > 0.0 && mean < 1.0, s"mean LSH recall $mean")
  }

  test("random projection is deterministic, linear, and JL-preserves relative distances") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.{col, transform}
    val emb = Tables.embeddings(spark, sfDir)
    val p1 = Similarity.rpProject(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // seedless determinism: a second run is bit-identical
    val p2 = Similarity.rpProject(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(p1 === p2)
    assert(p1.keys.map(_._2).toSet === (0L until 16L).toSet)
    // linearity over the ±1 matrix: projecting 2x doubles every coordinate
    // (up to the scale-12 shortest-repr term rounding, which doesn't
    // commute exactly with the doubling — hence the 1e-6 band, ~1e6×
    // looser than the observed drift and ~1e6× tighter than the signal)
    val doubled = Similarity.rpProject(
      emb.select(col("vec_id"),
        transform(col("embedding"), x => (x * 2f)).as("embedding"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    doubled.foreach { case (k, v) => assert(math.abs(v - 2.0 * p1(k)) < 1e-6) }
    // JL property on real vectors: squared-distance ratios survive within
    // a loose (1±ε) band for the 64→16 reduction on sampled pairs
    val vecs = emb.filter(col("vec_id") < 40)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = vecs.keys.toSeq.sorted
    val ratios = for {
      i <- ids; j <- ids if i < j
      orig = d2(vecs(i), vecs(j)) if orig > 1e-9
      proj = d2(
        (0L until 16L).map(d => p1((i, d))).toArray,
        (0L until 16L).map(d => p1((j, d))).toArray)
    } yield proj / orig
    // ±1/√k projections concentrate around 1; 64→16 is a coarse sketch so
    // allow a wide band, but the MEDIAN must sit near 1
    val sortedR = ratios.sorted
    val median = sortedR(sortedR.length / 2)
    assert(median > 0.7 && median < 1.3, s"median distance ratio $median")
    assert(ratios.count(r => r > 0.2 && r < 2.5).toDouble / ratios.size > 0.95,
      s"too many pairs outside the JL band")
  }

  test("sqRecall: 8-bit scalar quantization keeps high recall@10") {
    val embTable = graft.sources.Tables.embeddings(spark, sfDir)
    val out = Similarity.sqRecall(embTable).collect()
    assert(out.length === 8)
    out.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.8 && rec <= 1.0, s"sq recall out of band: $r")
    }
  }

  test("knnClassify predicts the planted cluster label by majority vote") {
    // two tight clusters: label 1 around +e_d pattern, label 2 around its
    // negation; queries 0 and 1 sit inside cluster 1 and 2 respectively
    val rows = (0 until 24).map { i =>
      val inC1 = i % 2 == 0
      val base = Array.tabulate(64)(d => ((d % 7) + 1).toFloat)
      val v = if (inC1) base.map(x => x + (i % 5) * 0.01f) else base.map(x => -x - (i % 5) * 0.01f)
      (i.toLong, v, if (inC1) 1 else 2)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(emb, nQueries = 2, k = 5).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Int]("predicted_label")).toMap
    assert(out === Map(0L -> 1, 1L -> 2))
  }

  test("ivfPqRecall: composition loses real recall vs PQ alone — the metric's point") {
    // Measured 2026-08 on the synthetic embeddings: mean IVF+PQ recall
    // ≈ 0.35 at sf0.01 AND sf0.1, and PQ alone ALSO ≈ 0.35 — the ADC
    // quantization loss dominates and the cell probe costs nothing
    // extra at this scale (oracle-hash-confirmed, a true index
    // property, not a bug). Pinned as a regression band; the probe can
    // only ever REMOVE candidates, so composition recall can never
    // exceed plain PQ.
    val embTable = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val comp = Similarity.ivfPqRecall(embTable).collect()
    assert(comp.length === 8)
    comp.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0, s"invalid recall: $r")
    }
    val meanComp = comp.map(_.getAs[Double]("recall")).sum / comp.length
    assert(meanComp >= 0.2 && meanComp <= 0.7, s"ivf+pq recall band drifted: $meanComp")
    val meanPq = Similarity.pqRecall(embTable).collect()
      .map(_.getAs[Double]("recall")).sum / 8.0
    assert(meanPq >= meanComp,
      s"the probe only removes candidates: pq ($meanPq) >= ivf+pq ($meanComp)")
  }

  test("rankedEval golden: perfect, reversed, and missing rankings hand-computed") {
    import spark.implicits._
    val lni = graft.functions.LnIntImpl.ln _
    // truth@k=3 for one query: A > B > C ⇒ gains 3, 2, 1
    val truth = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val idcg = 0.0 + 3.0 / lni(2) + 2.0 / lni(3) + 1.0 / lni(4)

    // perfect ranking: ndcg 1, mrr 1, all hits
    val perfect = Similarity.rankedEval(truth, truth, k = 3).collect().head
    assert(perfect.getAs[Long]("n_hits") === 3L)
    assert(perfect.getAs[Double]("idcg") === idcg)
    assert(perfect.getAs[Double]("ndcg") === 1.0)
    assert(perfect.getAs[Double]("mrr") === 1.0)

    // reversed ranking C, B, A: dcg folds gains 1, 2, 3 in position order
    val reversed = Seq((1L, 30L, 1), (1L, 20L, 2), (1L, 10L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val rev = Similarity.rankedEval(truth, reversed, k = 3).collect().head
    val revDcg = 0.0 + 1.0 / lni(2) + 2.0 / lni(3) + 3.0 / lni(4)
    assert(rev.getAs[Double]("dcg") === revDcg)
    assert(rev.getAs[Double]("ndcg") === revDcg / idcg)
    assert(rev.getAs[Double]("mrr") === 1.0 / 3.0, "true top-1 sits at position 3")

    // ranking with an off-list intruder at p=1 and the true top-1 at p=2
    val missing = Seq((1L, 99L, 1), (1L, 10L, 2))
      .toDF("query_id", "neighbor_id", "rank")
    val mis = Similarity.rankedEval(truth, missing, k = 3).collect().head
    assert(mis.getAs[Long]("n_hits") === 1L)
    assert(mis.getAs[Double]("dcg") === 0.0 + 0.0 / lni(2) + 3.0 / lni(3))
    assert(mis.getAs[Double]("mrr") === 0.5)

    // a ranking that never finds the true top-1 has mrr 0
    val noTop = Seq((1L, 20L, 1), (1L, 30L, 2))
      .toDF("query_id", "neighbor_id", "rank")
    assert(Similarity.rankedEval(truth, noTop, k = 3)
      .collect().head.getAs[Double]("mrr") === 0.0)

    // a query whose approximate list is EMPTY must still appear, scoring
    // all-zero — driven from the truth side's query_ids. Dropping it (the
    // pre-r12 inner join) made a downstream mean silently overstate index
    // quality.
    val truth2 = truth.union(
      Seq((2L, 40L, 1), (2L, 50L, 2)).toDF("query_id", "neighbor_id", "rank"))
    val out = Similarity.rankedEval(truth2, noTop, k = 3).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Double]("ndcg"), r.getAs[Double]("mrr")))).toMap
    assert(out.keySet === Set(1L, 2L), "empty-approx query must not vanish")
    assert(out(2L) === ((0L, 0.0, 0.0)))
  }

  test("nprobe sweep: recall is monotone in the probe budget and the " +
    "nprobe=2 slice equals the single-point recall query") {
    val embTable = graft.sources.Tables.embeddings(spark, sfDir)
    val sweep = Similarity.ivfNprobeSweep(embTable).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("query_id")) ->
        r.getAs[Double]("recall")).toMap
    val queries = sweep.keys.map(_._2).toSet
    assert(sweep.size === 3 * queries.size)
    // more probes can only add candidates -> per-query recall monotone
    queries.foreach { q =>
      assert(sweep((1, q)) <= sweep((2, q)) && sweep((2, q)) <= sweep((4, q)),
        s"query $q: recall must not drop as nprobe grows")
    }
    // the table's nprobe=2 column IS ivfTrainedRecall
    val single = Similarity.ivfTrainedRecall(embTable).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap
    queries.foreach(q => assert(sweep((2, q)) === single(q)))
  }

  test("IVF+PQ nprobe sweep: nprobe=2 slice equals the single-point recall " +
    "query; the full-probe budget converges to the exhaustive PQ scan") {
    val embTable = graft.sources.Tables.embeddings(spark, sfDir)
    val sweep = Similarity.ivfPqNprobeSweep(embTable).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("query_id")) ->
        r.getAs[Double]("recall")).toMap
    val queries = sweep.keys.map(_._2).toSet
    assert(sweep.size === 3 * queries.size)
    sweep.values.foreach(r => assert(r >= 0.0 && r <= 1.0))
    // Unlike the trained-IVF sweep, per-query recall is NOT monotone in
    // the probe budget here and the spec must not pretend it is: ADC
    // scores rank by RECONSTRUCTION cosine, so a newly-probed candidate
    // can out-score a true neighbor without being one, displacing a real
    // hit from the approx top-k (on this fixture total hits actually
    // DECREASE 40→35→33 across 1/2/4 probes — the sweep exists precisely
    // because the trade-off must be measured, not assumed).
    // The structural guarantees that DO hold:
    // 1. the table's nprobe=2 column IS ivfPqRecall (shared trained state)
    val single = Similarity.ivfPqRecall(embTable).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap
    queries.foreach(q => assert(sweep((2, q)) === single(q)))
    // 2. probing EVERY cell is exactly the exhaustive PQ scan: same ADC
    //    scoring, same tiebreak, candidate pruning gone
    val full = Similarity.ivfPqNprobeSweep(embTable, probes = Seq(16)).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap
    val exhaustive = Similarity.pqRecall(embTable).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap
    queries.foreach(q => assert(full(q) === exhaustive(q),
      s"query $q: all-cells probe must equal the exhaustive PQ scan"))
  }

  test("filteredTopK: predicate prunes before distance, exact top-k of the filtered set") {
    // query 0 = [1,0,0,...]; vec 1 (label 0) identical direction,
    // vec 2 (label 1) nearly identical but FILTERED OUT,
    // vec 3 (label 0) orthogonal
    def v(xs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f); xs.foreach { case (i, x) => a(i) = x }; a
    }
    val emb = Seq(
      (0L, v(0 -> 1.0f), 5),
      (1L, v(0 -> 2.0f), 0),
      (2L, v(0 -> 1.0f, 1 -> 0.01f), 1),
      (3L, v(1 -> 1.0f), 0),
      (4L, v(0 -> -1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.filteredTopK(emb, nQueries = 1, k = 10).collect()
    assert(out.forall(_.getAs[Int]("label") === 0), "every neighbor honors the filter")
    val order = out.sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSeq
    // vec 2 (cosine ~0.99995) would be rank 2 unfiltered — it must be absent
    assert(order.map(_._1) === Seq(1L, 3L, 4L))
    assert(order(0)._2 === 1.0 && order(1)._2 === 0.0 && order(2)._2 === -1.0)
    // a filtered-label query still gets neighbors (the filter is on
    // candidates, not on who may ask)
    val q2 = Similarity.filteredTopK(emb, nQueries = 3, k = 10).collect()
      .filter(_.getAs[Long]("query_id") === 2L)
    assert(q2.nonEmpty && q2.forall(_.getAs[Int]("label") === 0))
  }

  test("filteredIvfTopK: honors the predicate, recall bounded, all-cells probe = exact filtered search") {
    val embTable = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ivf = Similarity.filteredIvfTopK(embTable).collect()
    assert(ivf.nonEmpty && ivf.forall(_.getAs[Int]("label") === 0))
    val rec = Similarity.filteredIvfRecall(embTable).collect()
    assert(rec.length === 8)
    rec.foreach { r =>
      val v = r.getAs[Double]("recall")
      assert(v >= 0.0 && v <= 1.0)
    }
    // probing EVERY cell scans the whole filtered corpus: the probe path
    // must collapse to the exact filtered search, same tiebreaks
    val full = Similarity.filteredIvfTopK(embTable, nCentroids = 16, nProbe = 16)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    val exact = Similarity.filteredTopK(embTable)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    assert(full === exact)
  }

  test("adaptiveProbeBudget: chosen budget restores filtered recall to at least " +
    "the unfiltered level the fixed nProbe was tuned for") {
    val embTable = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.adaptiveProbeBudget(embTable).collect()
    assert(rows.nonEmpty)
    // the C97 collapse this operator exists to fix: fixed nProbe=2 under
    // the label-0 predicate
    val fixedFiltered = Similarity.filteredIvfRecall(embTable).collect()
      .map(_.getAs[Double]("recall"))
    val fixedFilteredMean = fixedFiltered.sum / fixedFiltered.length
    // the unfiltered level the budget must restore (same untrained
    // quantizer, default nProbe=2 — the C47-style baseline)
    val unfiltered = Similarity.recallAtK(
        Similarity.bruteForceTopK(embTable), Similarity.ivfTopK(embTable))
      .collect().map(_.getAs[Double]("recall"))
    val unfilteredMean = unfiltered.sum / unfiltered.length
    rows.foreach { r =>
      val chosen = r.getAs[Int]("chosen_nprobe")
      val achieved = r.getAs[Double]("achieved_recall")
      assert(chosen > 2, s"budget must adapt beyond the fixed default: $chosen")
      assert(achieved >= unfilteredMean,
        s"label ${r.getAs[Int]("label")}: achieved $achieved < unfiltered $unfilteredMean")
      assert(achieved > fixedFilteredMean,
        s"label ${r.getAs[Int]("label")}: no improvement over the fixed budget")
      // the predicted mass that justified the choice must clear the target
      // whenever a budget under the K fallback existed
      if (chosen < 16) assert(r.getAs[Double]("predicted_mass") >= 0.9)
    }
  }

  test("graphSearch: beam navigation on a 1-D manifold reaches each query's true neighbors") {
    import spark.implicits._
    // 40 unit vectors on a circle arc (θ_i = 0.05·i): the kNN graph links
    // arc-adjacent nodes, so the beam must WALK to each query's true
    // nearest neighbors rather than scan the corpus.
    val rows = (0L until 40L).map { i =>
      val th = 0.05 * i
      (i, Array.tabulate(64)(d =>
        if (d == 0) math.cos(th).toFloat
        else if (d == 1) math.sin(th).toFloat else 0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.graphSearch(df, nCentroids = 4, hops = 6, k = 3).collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === (0L until 8L).toSet)
    byQuery.foreach { case (q, rs) =>
      val top1 = rs.minBy(_.getAs[Int]("rank")).getAs[Long]("neighbor_id")
      assert(top1 == q - 1 || top1 == q + 1,
        s"query $q: top-1 must be arc-adjacent, got $top1")
      assert(rs.forall(_.getAs[Long]("neighbor_id") != q), "never self")
    }
    // and the recall eval agrees the navigation works on this manifold
    val rec = Similarity.recallAtK(
      Similarity.bruteForceTopK(df, nQueries = 8, k = 3),
      Similarity.graphSearch(df, nCentroids = 4, hops = 6, k = 3))
      .collect().map(_.getAs[Double]("recall"))
    assert(rec.sum / rec.length >= 0.8, s"manifold recall too low: ${rec.mkString(",")}")
  }

  test("filteredGraphSearch: ACORN beam clears the adaptive-IVF recall bar, " +
    "honors the predicate, and navigates through non-matching nodes") {
    val embTable = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.filteredGraphSearch(embTable).collect()
    assert(out.nonEmpty && out.forall(_.getAs[Int]("label") === 0),
      "every result must satisfy the predicate")
    assert(out.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    // the r13 verdict bar: achieved filtered recall >= the adaptive-IVF
    // level (C104) for the same predicate on the same fixture
    val graphRec = Similarity.filteredGraphRecall(embTable).collect()
      .map(_.getAs[Double]("recall"))
    val graphMean = graphRec.sum / graphRec.length
    val adaptive = Similarity.adaptiveProbeBudget(embTable).collect()
      .filter(_.getAs[Int]("label") === 0)
      .map(_.getAs[Double]("achieved_recall")).head
    assert(graphMean >= adaptive,
      s"filtered graph recall $graphMean below the adaptive-IVF level $adaptive")
    // navigation THROUGH non-matching nodes: a matching island reachable
    // only via a non-matching bridge must still be found. 1-D arc as in
    // the graphSearch manifold spec, labels alternating so arc-adjacent
    // nodes are mostly non-matching; with graphK=2 each node links only
    // to its arc neighbors, so reaching the next matching node REQUIRES
    // the 2-hop expansion through the non-matching one between them.
    import spark.implicits._
    val rows = (0L until 24L).map { i =>
      val th = 0.12 * i
      (i, Array.tabulate(64)(d =>
        if (d == 0) math.cos(th).toFloat
        else if (d == 1) math.sin(th).toFloat else 0f),
        if (i % 2 == 0) 0 else 1)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val found = Similarity.filteredGraphSearch(df, graphK = 2, nCentroids = 4,
      nQueries = 2, beam = 4, hops = 8, k = 5, entriesPerCell = 1).collect()
      .filter(_.getAs[Long]("query_id") === 0L)
      .map(_.getAs[Long]("neighbor_id")).toSet
    // query 0's nearest matching nodes on the arc are 2, 4, 6, ... —
    // every one sits behind an odd (non-matching) bridge node
    assert(Set(2L, 4L).subsetOf(found),
      s"beam failed to bridge non-matching nodes: found $found")
    assert(found.forall(_ % 2 == 0), "predicate violated on the manifold")
  }

  test("residual IVF+PQ: reconstruction is centroid + codebook entry, and a " +
    "vector sitting exactly on its centroid round-trips through a zero residual") {
    import spark.implicits._
    // 16 well-separated one-hot "centroid seeds" (ids 0..15 → the
    // first-16 Lloyd init), then duplicates of seed 3 — after training,
    // dup vectors sit ON their cell centroid, so their residual is ~0
    // and the reconstruction must match the raw vector closely
    val seeds = (0L until 16L).map(id =>
      (id, Array.tabulate(64)(i => if (i == id.toInt * 4) 1f else 0f)))
    val dups = (16L until 24L).map(id =>
      (id, Array.tabulate(64)(i => if (i == 12) 1f else 0f))) // = seed 3
    val emb = (seeds ++ dups).toDF("vec_id", "embedding")
    val out = Similarity.ivfPqResidualTopK(emb, nQueries = 4, k = 5).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rows.length),
        s"query $q ranks must be contiguous from 1")
    }
    // query 3 (a centroid seed with 8 exact copies in its cell): every
    // copy reconstructs through a ~zero residual → ADC cosine ≈ 1 and
    // the copies fill the top ranks
    val q3 = out.filter(_.getAs[Long]("query_id") === 3L)
      .sortBy(_.getAs[Int]("rank"))
    assert(q3.take(5).forall(_.getAs[Double]("adc_cosine") > 0.99),
      s"exact-copy neighbors must reconstruct near-exactly: ${q3.toSeq}")
    assert(q3.take(5).forall(r => dups.map(_._1).contains(
      r.getAs[Long]("neighbor_id"))))
  }

  test("beam sweep: beam=4 slice equals the single-point graph recall; " +
    "a wider beam does not lose aggregate recall") {
    val embTable = graft.sources.Tables.embeddings(spark, sfDir)
    val sweep = Similarity.graphBeamSweep(embTable).collect()
      .map(r => (r.getAs[Int]("beam"), r.getAs[Long]("query_id")) ->
        r.getAs[Long]("n_hits")).toMap
    val queries = sweep.keys.map(_._2).toSet
    assert(sweep.size === 3 * queries.size)
    // the table's beam=4 column IS graphRecall (same build, same beam)
    val single = Similarity.graphRecall(embTable).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hits")).toMap
    queries.foreach(q => assert(sweep((4, q)) === single(q), s"query $q"))
    // per-query beam monotonicity is NOT guaranteed (a wider beam can
    // expand different nodes and miss a narrow run's lucky neighbor),
    // but the AGGREGATE must not lose recall across a 4x budget
    def total(b: Int) = queries.toSeq.map(q => sweep((b, q))).sum
    assert(total(8) >= total(2),
      s"beam 8 aggregate ${total(8)} < beam 2 ${total(2)}")
  }

  test("indexCompare: each dashboard row aggregates its standalone recall query exactly") {
    val embTable = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.indexCompare(embTable).collect()
      .map(r => r.getAs[String]("index") -> r).toMap
    assert(out.keySet ===
      Set("graph", "lsh", "ivf", "pq", "sq", "ivf_pq", "ivf_pq_res"))
    val slices = Map(
      "graph" -> Similarity.graphRecall(embTable),
      "lsh" -> Similarity.lshRecall(embTable),
      "ivf" -> Similarity.ivfTrainedRecall(embTable),
      "pq" -> Similarity.pqRecall(embTable),
      "sq" -> Similarity.sqRecall(embTable),
      "ivf_pq" -> Similarity.ivfPqRecall(embTable),
      "ivf_pq_res" -> Similarity.ivfPqResidualRecall(embTable))
    slices.foreach { case (name, df) =>
      val hits = df.agg(org.apache.spark.sql.functions.sum("n_hits")).head.getLong(0)
      assert(out(name).getAs[Long]("n_hits") === hits, s"index $name")
      assert(out(name).getAs[Long]("n_queries") === 8L)
      assert(out(name).getAs[Double]("recall_at_k") === hits.toDouble / 80.0)
    }
    // the COST column prices each family's scan against the fixture:
    // pq/sq re-rank everything but self; the three IVF paths share one
    // probe set (strictly less than the full scan); graph touches its
    // 16 per-cell entries plus at most hops*beam*graphK expansions
    val n = embTable.count()
    val full = 8L * (n - 1)
    assert(out("pq").getAs[Long]("candidates") === full)
    assert(out("sq").getAs[Long]("candidates") === full)
    val ivfCand = out("ivf").getAs[Long]("candidates")
    assert(ivfCand > 0L && ivfCand < full,
      s"probing must scan less than the full corpus ($ivfCand vs $full)")
    assert(out("ivf_pq").getAs[Long]("candidates") === ivfCand)
    assert(out("ivf_pq_res").getAs[Long]("candidates") === ivfCand)
    val g = out("graph").getAs[Long]("candidates")
    assert(g >= 8L * 16L && g <= 8L * (16L + 3L * 4L * 5L),
      s"graph visited count $g outside [entries, entries+hops*beam*graphK]")
    val lsh = out("lsh").getAs[Long]("candidates")
    assert(lsh > 0L && lsh < full, s"capped multi-probe LSH scan $lsh")
    out.values.foreach { r =>
      assert(r.getAs[Double]("cand_per_query") ===
        r.getAs[Long]("candidates").toDouble / 8.0)
    }
  }

  test("kmeansDistributed: full-corpus Lloyd is bit-equal to the sampled driver Lloyd when the sample is the corpus") {
    // sf0.001: 500 vectors < the 4096 sample target, so trainCentroids's
    // md5 threshold clamps and BOTH paths train on the whole corpus —
    // identical algorithm, so identical floats, or one of the two
    // arithmetic chains is lying.
    val embTable = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(embTable.count() <= 4096L)
    val driver = Similarity.trainCentroids(embTable, nCentroids = 8, iters = 2)
    val dist = Similarity.kmeansDistributed(embTable, nCentroids = 8, iters = 2)
    assert(dist.map(_._1).toSeq === driver.map(_._1).toSeq)
    driver.zip(dist).foreach { case ((cid, dv, dn), (_, xv, xn)) =>
      assert(java.util.Arrays.equals(dv, xv), s"cell $cid centroid differs")
      assert(dn === xn, s"cell $cid norm differs")
    }
    // and the refinement actually moved the init (this is training, not a copy)
    val init = Similarity.initialCentroids(embTable, 8)
    assert(init.zip(dist).exists { case ((_, iv, _), (_, xv, _)) =>
      !java.util.Arrays.equals(iv, xv) })
  }

  test("job budgets: each ANN operator builds and collects within its Spark job budget") {
    // each budget is the operator's measured job count on this fixture;
    // ivfPqNprobeSweep's trainings must share one corpus count (a second
    // count is two more jobs, past its budget), and the graph searches
    // hold their search state on the driver (a distributed frontier
    // costs each hop its own checkpoint, broadcast and shuffle jobs)
    val embTable = graft.sources.Tables.embeddings(spark, sfDir)
    val budgets = Seq[(String, () => org.apache.spark.sql.DataFrame, Int)](
      ("graphSearch", () => Similarity.graphSearch(embTable), 19),
      ("graphBeamSweep", () => Similarity.graphBeamSweep(embTable), 26),
      ("filteredGraphSearch", () => Similarity.filteredGraphSearch(embTable), 27),
      ("indexCompare", () => Similarity.indexCompare(embTable), 67),
      ("ivfTopKTrained", () => Similarity.ivfTopKTrained(embTable), 8),
      ("ivfNprobeSweep", () => Similarity.ivfNprobeSweep(embTable), 15),
      ("ivfPqTopK", () => Similarity.ivfPqTopK(embTable), 9),
      ("ivfPqResidualTopK", () => Similarity.ivfPqResidualTopK(embTable), 9),
      ("ivfPqNprobeSweep", () => Similarity.ivfPqNprobeSweep(embTable), 17))
    val over = budgets.flatMap { case (name, build, budget) =>
      val (_, jobs) = jobsOf(build().collect())
      info(s"$name: ${jobs.size} jobs (budget $budget)")
      if (jobs.size > budget) Some(s"$name: ${jobs.size} jobs, budget $budget") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("parallelism invariance: the driver-held searches return the default " +
    "session's rows at 7 shuffle partitions, AQE off and no broadcast joins") {
    import graft.operators.{Corpus, Dedup}
    import graft.sources.Tables
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val hostile = spark.newSession()
    hostile.conf.set("spark.sql.shuffle.partitions", "7")
    hostile.conf.set("spark.sql.adaptive.enabled", "false")
    hostile.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // one corpus embedding index at rest (codebooks, codes), served from
    // both sessions
    val state = java.nio.file.Files.createTempDirectory("graft-invariance").toString
    val docs = Tables.embeddings(spark, sfDir).select(
      col("vec_id").as("doc_id"), col("vec_id").cast("string").as("text"),
      lit("en").as("lang"), lit("synthetic").as("source"), lit(24L).as("n_chars"),
      col("embedding"), col("label"))
    Corpus.ingestIncremental(spark, docs, state)
    Corpus.refreshEmbeddingIndex(spark, state)
    Corpus.initEmbeddingCodebooks(spark, state)
    Corpus.encodeEmbeddingIndex(spark, state)
    def emb(s: SparkSession): DataFrame = Tables.embeddings(s, sfDir)
    def queries(s: SparkSession): DataFrame = emb(s).filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cases = Seq[(String, SparkSession => DataFrame)](
      ("graphSearch", s => Similarity.graphSearch(emb(s))),
      ("graphBeamSweep", s => Similarity.graphBeamSweep(emb(s))),
      ("filteredGraphSearch", s => Similarity.filteredGraphSearch(emb(s), broadcastCap = 0)),
      ("indexCompare", s => Similarity.indexCompare(emb(s))),
      ("semanticTopKAdc", s => Corpus.semanticTopKAdc(s, queries(s), state)),
      // the cell assignments and probe sides outside Similarity
      ("semanticContamination", s => Dedup.semanticContamination(emb(s))),
      ("embeddingIncremental", s => Dedup.embeddingIncremental(emb(s), broadcastCap = 0)),
      ("embeddingGateProbeSweep", s => Dedup.embeddingGateProbeSweep(emb(s))),
      ("semanticTopK", s => Corpus.semanticTopK(s, queries(s), state)),
      ("semanticTopKFiltered", s => Corpus.semanticTopKFiltered(s, queries(s), state)),
      ("semanticTopKFilteredAdc", s => Corpus.semanticTopKFilteredAdc(s, queries(s), state)))
    info(f"index build: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    cases.foreach { case (name, run) =>
      val t = System.nanoTime()
      val base = run(spark).collect().toSeq
      assert(base.nonEmpty, name)
      assert(run(hostile).collect().toSeq === base, s"$name: rows differ")
      info(f"$name: ${(System.nanoTime() - t) / 1e9}%.1f s")
    }
    info(f"total: ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
