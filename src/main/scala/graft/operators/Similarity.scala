package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY §2.C6-C7).
  *
  * Baseline: brute-force cosine top-k — the QUERY side is small and
  * broadcast, so the corpus streams through one codegen'd stage
  * (zip_with/aggregate dot product, no explode, no shuffle of the corpus
  * beyond the final per-query top-k). Scale path: sign-LSH bucketing —
  * candidates come from one hash-partitioned bucket join, turning
  * O(|Q|·|corpus|) into O(|Q|·bucket_size).
  */
object Similarity {

  private def withFeat(embeddings: DataFrame, nBits: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(
      col("vec_id"), col("embedding"),
      VectorFunctions.signBucket(col("embedding"), nBits).as("bucket"),
      VectorFunctions.normExact(col("embedding")).as("nrm"))
  }

  /** (vec_id, embedding, extra…, nrm): the corpus with its exact norm. */
  private def normed(embeddings: DataFrame, extra: String*): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(Seq(col("vec_id"), col("embedding")) ++ extra.map(col) :+
      VectorFunctions.normExact(col("embedding")).as("nrm"): _*)
  }

  private def queryCols: Seq[Column] =
    Seq(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("q_nrm"))

  /** The query side (query_id, qe, q_nrm) of a [[normed]]-shaped frame. */
  private def queriesOf(feat: DataFrame, nQueries: Int): DataFrame =
    feat.filter(col("vec_id") < nQueries).select(queryCols: _*)

  /** Exact cosine of the query vector against `vec` with norm `nrm`. */
  private def cosineOf(vec: String, nrm: String): Column =
    VectorFunctions.dotExact(col("qe"), col(vec)) / (col("q_nrm") * col(nrm))

  /** The keyed top-k rank tail every ANN ranking ends in: per `keys`,
    * `rank` by (`score` DESC, `tiebreak` ASC), ranks ≤ k kept. */
  private def topK(
      df: DataFrame, keys: Seq[String], score: String, tiebreak: String, k: Int): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(score).desc, col(tiebreak))))
      .filter(col("rank") <= k)

  /** [[topK]] per query into the (query_id, neighbor_id, extra…, score,
    * rank) contract, ordered by (query_id, rank). */
  private def neighbors(df: DataFrame, score: String, k: Int, extra: String*): DataFrame =
    topK(df, Seq("query_id"), score, "neighbor_id", k)
      .select((Seq("query_id", "neighbor_id") ++ extra ++ Seq(score, "rank")).map(col): _*)
      .orderBy("query_id", "rank")

  /** Exact top-k cosine neighbors for queries `vec_id < nQueries`. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val feat = withFeat(embeddings)
    val c = feat.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("nrm").as("c_nrm"))
    neighbors(broadcast(queriesOf(feat, nQueries)).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", VectorFunctions.dotExact(col("qe"), col("ce")))
      .withColumn("cosine", col("dot") / (col("q_nrm") * col("c_nrm"))), "cosine", k)
  }

  /** FILTERED exact top-k — vector search under a metadata predicate
    * (here `label = targetLabel`), the serving shape every production
    * vector store needs (tenant/language/licence filters): candidates
    * are pruned by the predicate BEFORE any distance arithmetic runs,
    * so the scan cost is the filtered corpus, not the full one. This is
    * the post-filter-free formulation: results are exactly the top-k of
    * the filtered set (no recall loss from filtering an unfiltered
    * top-k' downstream).
    *
    * At scale the predicate reaches the parquet scan as a pushed filter
    * (and with label/tenant-partitioned layout, partition pruning skips
    * whole directories); the query side stays a broadcast. The IVF
    * composition (probe cells, then apply the predicate inside each
    * cell) keeps the same plan shape — this exact form is its oracle. */
  def filteredTopK(
      embeddings: DataFrame, nQueries: Int = 8, k: Int = 10,
      targetLabel: Int = 0): DataFrame = {
    val feat = normed(embeddings, "label")
    val c = feat.filter(col("label") === targetLabel)
      .select(col("vec_id").as("neighbor_id"), col("label"),
        col("embedding").as("ce"), col("nrm").as("c_nrm"))
    neighbors(broadcast(queriesOf(feat, nQueries)).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", VectorFunctions.dotExact(col("qe"), col("ce")))
      .withColumn("cosine", col("dot") / (col("q_nrm") * col("c_nrm"))), "cosine", k, "label")
  }

  /** FILTERED IVF search — [[filteredTopK]]'s predicate composed into
    * the [[ivfTopK]] probe path: the candidate side applies the metadata
    * predicate BEFORE the probe join (cell assignment depends only on
    * the vector itself, so filtering first cannot change a survivor's
    * cell), then the usual cell-pruned exact re-rank runs over the
    * filtered cells. This is how a production store serves a tenant/
    * language/licence filter without post-filter recall loss beyond the
    * probe budget itself; [[filteredTopK]] is its exact oracle and
    * `ann_recall_filtered` measures the gap.
    *
    * Scale shape identical to the probe path: literal centroids, pure
    * map assignment, a broadcast |Q|·nProbe probe side, one per-query
    * rank — plus the pushed predicate shrinking the candidate scan. */
  def filteredIvfTopK(
      embeddings: DataFrame, nCentroids: Int = 16, nQueries: Int = 8,
      nProbe: Int = 2, k: Int = 10, targetLabel: Int = 0): DataFrame = {
    val cents = initialCentroids(embeddings, nCentroids)
    val feat = normed(embeddings, "label")
    val assigned = feat
      .filter(col("label") === targetLabel) // predicate before the probe join
      .select(col("vec_id").as("neighbor_id"), col("label"),
        col("embedding").as("ce"), col("nrm").as("c_nrm"), cellOf(cents).as("cell"))
    neighbors(probeCandidates(feat, cents, nQueries, Left(nProbe), assigned)
      .withColumn("cosine", cosineOf("ce", "c_nrm")), "cosine", k, "label")
  }

  /** The index-selection dashboard: every approximate index's
    * corpus-wide recall@k against the same brute-force truth, one row
    * per index — the table that answers "which index do we deploy"
    * before the per-index nprobe tuning (C47b/C47c) answers "at what
    * setting". Overall recall is Σ n_hits / (|Q|·k) over the per-query
    * recall frames the gated C43/C47/C52/C62/C78 rows already compute,
    * so this is pure composition: every index trains/scans exactly as
    * its own gated query does, and the final agg is |Q| metadata rows
    * per index. The division is a single IEEE op on exact ints. */
  def indexCompare(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    // ONE brute-force truth, materialized and shared by all six recall
    // frames — the standalone recall rows each build their own truth
    // (their cost is their honest standalone price), but inside the
    // dashboard six identical |Q|·n exact scans would be pure recompute
    // (measured ~1.5 s of the dashboard's 4.3 s). Same truth values, so
    // every row still equals its standalone query's aggregate
    // (spec-pinned).
    val truth = Materialize(bruteForceTopK(embeddings, nQueries, k))
    // ONE coarse-quantizer training, shared by every family whose
    // standalone row trains with IDENTICAL hyperparameters: ivf and
    // ivf_pq both run Lloyd at (K=16, iters=2); graph runs it at
    // (autoCellCount(n), iters=2), which coincides at K=16 until the
    // corpus passes 16·1024 vectors — share only when it does, so each
    // dashboard row stays bit-equal to its standalone query
    // (spec-pinned). Likewise ONE PQ-codebook training feeds both pq
    // and ivf_pq (both train at nSub=8, cbSize=16, iters=2). Training
    // is deterministic, so sharing changes cost, never values.
    val n = embeddings.count()
    val cents16 = trainCentroids(embeddings, 16, 2, nPre = Some(n))
    val kcGraph = autoCellCount(n)
    val centsGraph =
      if (kcGraph == 16) cents16 else trainCentroids(embeddings, kcGraph, 2, nPre = Some(n))
    val cb = trainPqCodebooks(embeddings, 8, 16, 2, nPre = Some(n))
    // ---- CANDIDATES SCANNED per family: the work column that prices
    // recall (a 0.06-recall index that scans 40 vectors/query and a
    // 0.95-recall one that scans 600 are different deploy decisions).
    // Each count is the EXACT number of (query, candidate) pairs the
    // family's own scoring stage evaluates, from the same structures:
    //  - pq/sq re-rank the WHOLE corpus minus self (full ADC/SQ scan);
    //  - the three IVF paths share one probe set (same quantizer, same
    //    nProbe), so their scan is the same probed-cells join;
    //  - lsh scans its capped multi-probe buckets;
    //  - graph counts every node the beam navigation ever scored, from
    //    the SAME navigation that serves the top-k (navigate runs once,
    //    ranked AND counted).
    val fullScan = nQueries.toLong * (n - 1)
    val (gq, gEdges, gEntries, gNodes) =
      graphSearchParts(embeddings, 5, 0, 2, nQueries, Some(centsGraph))
    // navigate returns its eval set as a local frame (the driver already
    // holds it), so ranking and counting it re-run no navigation; the
    // three candidate counts (probe join, LSH buckets, graph eval set)
    // run as ONE action with three parallel aggregate subtrees instead
    // of three sequential driver actions.
    val gEval = navigate(gq, gEdges, gEntries, gNodes, Seq("query_id"), lit(4), 3)
    def counted(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("c")).select(lit(name).as("f"), col("c"))
    val candBy = counted("ivf", ivfScan(embeddings, cents16, nQueries, Left(2)))
      .unionByName(counted("lsh", lshCandidates(embeddings, nQueries)))
      .unionByName(counted("graph", gEval))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val candIvf = candBy("ivf")
    val candLsh = candBy("lsh")
    val candGraph = candBy("graph")
    val frames: Seq[(String, DataFrame, Long)] = Seq(
      ("graph",  recallAtK(truth, rankBeamEval(gEval, k)), candGraph),
      ("lsh",    recallAtK(truth, lshTopK(embeddings, nQueries, k)), candLsh),
      ("ivf",    recallAtK(truth,
        ivfTopKTrained(embeddings, nQueries = nQueries, k = k,
          centsPre = Some(cents16))), candIvf),
      ("pq",     recallAtK(truth,
        pqTopK(embeddings, nQueries = nQueries, k = k, cbPre = Some(cb))), fullScan),
      ("sq",     recallAtK(truth, sqTopK(embeddings, nQueries, k)), fullScan),
      ("ivf_pq", recallAtK(truth, ivfPqTopK(embeddings, nQueries = nQueries, k = k,
        centsPre = Some(cents16), cbPre = Some(cb))), candIvf),
      // the residual family trains RESIDUAL-space codebooks (not the raw
      // cb) but shares the coarse quantizer — and therefore the probe
      // set, so its scan cost equals ivf_pq's (same cells, better codes)
      ("ivf_pq_res", recallAtK(truth,
        ivfPqResidualTopK(embeddings, nQueries = nQueries, k = k,
          centsPre = Some(cents16), nPre = Some(n))), candIvf))
    frames.map { case (name, df, cand) =>
      df.agg(
        lit(name).as("index"),
        count(lit(1)).as("n_queries"),
        sum("n_hits").as("n_hits"),
        (sum("n_hits").cast("double") /
          (count(lit(1)) * k).cast("double")).as("recall_at_k"),
        lit(cand).as("candidates"),
        (lit(cand).cast("double") /
          count(lit(1)).cast("double")).as("cand_per_query"))
    }.reduce(_ unionByName _)
      .select("index", "n_queries", "n_hits", "recall_at_k",
        "candidates", "cand_per_query")
      .orderBy("index")
  }

  /** Recall@k of [[filteredIvfTopK]] against the exact [[filteredTopK]]
    * — what the probe budget costs UNDER the predicate (filtered cells
    * are sparser, so fixed nProbe can miss more than unfiltered recall
    * suggests). The |Q|·k bounded evaluation shape of `recallAtK`. */
  def filteredIvfRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    recallAtK(
      filteredTopK(embeddings, nQueries, k),
      filteredIvfTopK(embeddings, nQueries = nQueries, k = k))

  /** PER-FILTER ADAPTIVE PROBE BUDGET — closes the loop that
    * `ann_recall_filtered` measured: a fixed nProbe tuned on unfiltered
    * traffic collapses under a selective predicate (filtered cells are
    * sparser, measured 0.22–0.80 at nProbe=2 vs 0.975 unfiltered). Per
    * label predicate this picks the MINIMUM probe budget whose PREDICTED
    * covered mass clears `targetPct`, from metadata alone:
    *
    *  - occupancy o(label, cell) — one agg over the assignment frame,
    *    K·|labels| rows;
    *  - covered mass of budget p for query q = Σ occupancy of q's first
    *    p cells; predicted mass of p = the mean over queries, compared
    *    against the target IN EXACT INTEGERS
    *    (100·Σ_q covered ≥ targetPct·|Q|·n_label);
    *  - chosen_nprobe = min qualifying p (else K), then the ACHIEVED
    *    recall of the probe path at that budget vs the exact filtered
    *    truth — so the output row is (predicate, predicted, achieved),
    *    auditable end to end.
    *
    * Scale shape: assignment is the usual one-map pass; everything that
    * decides the budget is K·|labels|·|Q| metadata; the recall audit is
    * the same |Q|·k bounded evaluation every recall row uses. At 100 TB
    * the budget table is computed once per index build and consulted at
    * query time — this operator IS that table's builder. */
  def adaptiveProbeBudget(
      embeddings: DataFrame, nCentroids: Int = 16, nQueries: Int = 8,
      k: Int = 10, targetPct: Int = 90): DataFrame = {
    val cents = initialCentroids(embeddings, nCentroids)
    val feat = normed(embeddings, "label")
    val assigned = feat.select(col("vec_id").as("neighbor_id"), col("label"),
      col("embedding").as("ce"), col("nrm").as("c_nrm"), cellOf(cents).as("cell"))
    val occ = assigned.groupBy("label", "cell").agg(count(lit(1)).as("o"))
    val nl = assigned.groupBy("label").agg(count(lit(1)).as("n_vectors"))
    // every query's FULL cell ranking p = 1..K (the probe order)
    val qcells = feat.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        posexplode(rankedCells(cents)).as(Seq("p0", "cell")))
      .select(col("query_id"), col("cell"), (col("p0") + 1).as("p"))
    // dense (query × label × p) grid so the per-p sums see EVERY query's
    // cumulative mass, including queries whose p-th cell holds no
    // label-matching vectors
    val cum = qcells
      .join(broadcast(nl.select("label")))
      .join(occ, Seq("cell", "label"), "left")
      .withColumn("cum_o",
        sum(coalesce(col("o"), lit(0L))).over(
          Window.partitionBy("query_id", "label").orderBy("p")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val mass = cum.groupBy("label", "p").agg(sum("cum_o").as("s"))
    val chosen = nl.join(mass, Seq("label"), "left")
      .groupBy("label", "n_vectors")
      .agg(coalesce(
        min(when(lit(100L) * col("s") >=
          lit(targetPct.toLong) * lit(nQueries.toLong) * col("n_vectors"), col("p"))),
        lit(nCentroids.toLong)).as("chosen_nprobe"))
    val pmass = chosen.join(mass,
        chosen("label") === mass("label") && mass("p") === chosen("chosen_nprobe"))
      .select(chosen("label"), col("n_vectors"), col("chosen_nprobe"),
        (col("s").cast("double") /
          (lit(nQueries.toLong) * col("n_vectors")).cast("double")).as("predicted_mass"))
    // exact filtered truth for EVERY label at once (one per-(query,label)
    // window over the |Q|·n candidate frame)
    val q = queriesOf(feat, nQueries)
    val byLabel = Seq("query_id", "label")
    val truth = topK(broadcast(q).join(assigned, col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", cosineOf("ce", "c_nrm")), byLabel, "cosine", "neighbor_id", k)
      .select("query_id", "label", "neighbor_id")
    // the probe path at each label's chosen budget
    val probes = qcells
      .join(broadcast(chosen.select("label", "chosen_nprobe")),
        col("p") <= col("chosen_nprobe"))
      .select("query_id", "label", "cell")
    val approx = topK(broadcast(q).join(probes, Seq("query_id"))
        .join(assigned, Seq("cell", "label"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", cosineOf("ce", "c_nrm")), byLabel, "cosine", "neighbor_id", k)
      .select(col("query_id"), col("label"), col("neighbor_id").as("a_neighbor"))
    val recall = truth
      .join(approx,
        truth("query_id") === approx("query_id") && truth("label") === approx("label") &&
          col("neighbor_id") === col("a_neighbor"), "left")
      .groupBy(truth("label").as("label"))
      .agg(count(lit(1)).as("n_truth"), count(col("a_neighbor")).as("n_hits"),
        (count(col("a_neighbor")).cast("double") /
          count(lit(1)).cast("double")).as("achieved_recall"))
    pmass.join(recall, Seq("label"))
      .select(col("label"), col("n_vectors"), col("chosen_nprobe").cast("int").as("chosen_nprobe"),
        col("predicted_mass"), col("n_truth"), col("n_hits"), col("achieved_recall"))
      .orderBy("label")
  }

  /** IVF-style approximate top-k: corpus vectors are assigned to their
    * nearest coarse centroid (the "inverted file" cells); a query probes
    * its `nProbe` nearest cells and ranks only those candidates. Centroids
    * here are the first `nCentroids` vectors (deterministic stand-in for
    * offline k-means — the index structure and probe path are the real
    * thing).
    *
    * The coarse quantizer IS index metadata: collected to the driver once
    * (K centroid vectors + norms — bytes, not data) and inlined as
    * literals, so cell assignment and probe selection are PURE MAP stages
    * — a greatest/least argmax over K codegen'd dot products per row, no
    * crossJoin, no window shuffle. The only shuffles left are the
    * candidate join (probe side is |Q|·nProbe rows — broadcast) and the
    * final per-query top-k rank. Tie rules match the relational oracle:
    * max cosine, then min centroid id. */
  def ivfTopK(
      embeddings: DataFrame,
      nCentroids: Int = 16, nQueries: Int = 8, nProbe: Int = 2, k: Int = 10): DataFrame =
    neighbors(ivfScan(embeddings, initialCentroids(embeddings, nCentroids), nQueries,
      Left(nProbe)), "cosine", k)

  /** IVF with a TRAINED coarse quantizer: [[trainCentroids]]' deterministic
    * Lloyd iterations replace the first-K stand-in, same probe machinery.
    * Every training step is decimal-exact and mirrored in the DuckDB oracle
    * (`ann_ivf_trained_topk`), so the trained index is hash-checked
    * end-to-end, not just spec-sampled. */
  def ivfTopKTrained(
      embeddings: DataFrame,
      nCentroids: Int = 16, iters: Int = 2,
      nQueries: Int = 8, nProbe: Int = 2, k: Int = 10,
      centsPre: Option[Array[(Long, Array[Float], Double)]] = None): DataFrame =
    neighbors(ivfScan(embeddings,
      centsPre.getOrElse(trainCentroids(embeddings, nCentroids, iters)),
      nQueries, Left(nProbe)), "cosine", k)

  /** Target vectors per coarse-quantizer cell when the cell count is
    * auto-derived ([[autoCellCount]]). */
  private[graft] val TargetCellSize = 1024L

  /** Cell count for an n-vector corpus: ⌈n / [[TargetCellSize]]⌉ clamped
    * to [16, 256] — cells GROW with the corpus, keeping per-cell candidate
    * blocks (and the Σ cell² pair bound) near-linear in n instead of
    * quadratic at a fixed k. The cap keeps the trained-sample budget
    * (≈4096 rows) at ≥16 points per cell; corpora past 256·1024 vectors
    * should raise `sampleTarget` alongside an explicit k. Mirrored
    * verbatim in the DuckDB oracle (`Oracles.trainedQuantBase`). */
  private[graft] def autoCellCount(n: Long): Int =
    math.min(256L, math.max(16L, (n + TargetCellSize - 1) / TargetCellSize)).toInt

  /** Train the coarse quantizer at `nCentroids` when given, else at the
    * corpus-derived [[autoCellCount]] — sharing ONE count job between the
    * cell-count decision and [[trainCentroids]]'s sample threshold (the
    * auto-sized call previously paid two identical counts). A caller that
    * already counted the corpus passes it as `nPre` and pays none. */
  private[graft] def trainAtAutoCellCount(
      embeddings: DataFrame, nCentroids: Int, iters: Int,
      nPre: Option[Long] = None): Array[(Long, Array[Float], Double)] =
    if (nCentroids > 0) trainCentroids(embeddings, nCentroids, iters, nPre = nPre)
    else {
      val n = nPre.getOrElse(embeddings.count())
      trainCentroids(embeddings, autoCellCount(n), iters, nPre = Some(n))
    }

  /** The untrained quantizer: the first `nCentroids` vectors, with
    * decimal-exact norms evaluated driver-side on the same float values
    * (same arithmetic as normExact). */
  private[graft] def initialCentroids(
      embeddings: DataFrame, nCentroids: Int): Array[(Long, Array[Float], Double)] =
    embeddings
      .filter(col("vec_id") < nCentroids)
      .select("vec_id", "embedding").collect()
      .map { r => withNorm(r.getLong(0), r.getSeq[Float](1).toArray) }
      .sortBy(_._1)

  private[graft] def withNorm(cid: Long, vec: Array[Float]): (Long, Array[Float], Double) = {
    val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      vec.map(java.lang.Float.valueOf))
    (cid, vec, math.sqrt(graft.functions.DotDecimalImpl.dot(ad, ad).doubleValue()))
  }

  /** Cells ranked by (cosine DESC, cid ASC) as one sorted struct array —
    * struct ascending order on (−cosine, cid) is exactly that rule, and
    * every centroid dot product appears ONCE in the expression tree
    * (a greatest/least argmax cascade duplicates subtrees
    * combinatorially — ~100k dot nodes at K=16, nProbe=2). */
  private[graft] def cellRank(
      cents: Array[(Long, Array[Float], Double)], emb: Column, nrm: Column): Column =
    sort_array(array(cents.toSeq.map { case (cid, vec, cnrm) =>
      struct(
        (-(VectorFunctions.dotExact(emb, typedlit(vec)) / (nrm * lit(cnrm)))).as("negcos"),
        lit(cid).as("cid"))
    }: _*))

  /** The IVF probe vocabulary every cell-assigning or probing operator
    * speaks, all over one [[cellRank]] of `emb` (norm `nrm`) against the
    * literal quantizer `cents`. The nearest cell as its (negcos, cid)
    * struct — `cid` is the assignment, `−negcos` the centroid cosine. */
  private[graft] def nearestCell(
      cents: Array[(Long, Array[Float], Double)],
      emb: Column = col("embedding"), nrm: Column = col("nrm")): Column =
    element_at(cellRank(cents, emb, nrm), 1)

  /** The nearest cell's id: the one map-stage cell assignment. */
  private[graft] def cellOf(
      cents: Array[(Long, Array[Float], Double)],
      emb: Column = col("embedding"), nrm: Column = col("nrm")): Column =
    nearestCell(cents, emb, nrm).getField("cid")

  /** The ids of the first `nProbe` cells: a query's probe set. */
  private[graft] def probeCells(
      cents: Array[(Long, Array[Float], Double)], emb: Column, nrm: Column,
      nProbe: Int): Column =
    transform(slice(cellRank(cents, emb, nrm), 1, nProbe), s => s.getField("cid"))

  /** The ids of every cell in probe order: the prefix a per-row or
    * per-budget probe cut reads. */
  private[graft] def rankedCells(
      cents: Array[(Long, Array[Float], Double)],
      emb: Column = col("embedding"), nrm: Column = col("nrm")): Column =
    transform(cellRank(cents, emb, nrm), s => s.getField("cid"))

  /** Deterministically TRAINED coarse quantizer: `iters` Lloyd iterations
    * from the fixed first-K init, over a deterministic md5-bucket SAMPLE
    * of the corpus. Assignment is the same decimal-exact cosine argmax as
    * the probe path; the update is the per-dimension mean — an exact
    * decimal sum over the cell divided by the cell count, rounded back to
    * float — and empty cells keep their previous centroid. Every step is
    * therefore reproducible in ANSI SQL over the same parquet, which is
    * what keeps the trained index oracle-checkable.
    *
    * Sampling ([[graft.operators.Corpus.stratifiedSample]]'s hash-bucket
    * pattern, no RNG): a vector trains iff
    * `md5bucket(vec_id) < ceil(10000·sampleTarget/N)` — the training set
    * stays ≈`sampleTarget` rows however large the corpus grows, so Lloyd
    * cost is FLAT in corpus size (a coarse quantizer only needs a sketch
    * of the distribution; the full-corpus work — cell assignment — lives
    * in the probe path, once, not per training iteration). Corpora at or
    * under the target train on everything (threshold clamps to 10000).
    *
    * Scale shape: per iteration one codegen'd map stage over the sample
    * and one (cell, dim) aggregation whose output is K×dims rows — the
    * only thing collected. float→decimal sums go through the float's
    * shortest decimal repr (string cast), the one float→decimal bridge
    * both engines round identically (see [[labelCentroids]]). */
  private[graft] def trainCentroids(
      embeddings: DataFrame, nCentroids: Int = 16,
      iters: Int = 2, sampleTarget: Long = 4096,
      nPre: Option[Long] = None): Array[(Long, Array[Float], Double)] = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val (isInit, isSamp) =
      trainingRows(nCentroids, nPre.getOrElse(embeddings.count()), sampleTarget)
    // ONE distributed pass collects BOTH the ≈sampleTarget-row training
    // sample (bounded whatever the corpus size — index-training metadata)
    // and the first-K init rows — formerly two separate collect jobs over
    // the same scan; callers that already know the corpus count pass it
    // via `nPre` so a training call costs ONE job, not three. The Lloyd
    // iterations then run in the driver with the IDENTICAL arithmetic the
    // Spark expressions evaluate — DotDecimalImpl dots,
    // Float.toString-string decimal(12) term rounding, exact decimal
    // sums, one double division, float narrowing — so the trained
    // centroids are bit-equal to the former per-iteration-job form (and
    // to the unrolled oracle). Sample order is irrelevant: the per-cell
    // sums are same-scale exact decimal adds (associative and
    // commutative), counts are counts.
    val rows = embeddings
      .filter(isInit || isSamp)
      .select(col("vec_id"), col("embedding"), isInit.as("is_init"), isSamp.as("is_samp"))
      .collect()
    val sample: Array[Array[Float]] =
      rows.filter(_.getBoolean(3)).map(_.getSeq[Float](1).toArray)
    var cents = rows.filter(_.getBoolean(2))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
      .map { case (cid, v) => withNorm(cid, v) }
    (1 to iters).foreach { _ =>
      val sums = scala.collection.mutable.HashMap
        .empty[(Long, Int), java.math.BigDecimal]
      val counts = scala.collection.mutable.HashMap.empty[Long, Long]
      sample.foreach { v =>
        val nv = driverNorm(v)
        // max cosine, tie min cid — the cellRank struct-sort rule, with
        // Spark's NaN-greatest double ordering
        val cell = cents.map { case (cid, cv, cn) =>
          (-(driverDot(v, cv) / (nv * cn)), cid)
        }.min(Ordering.fromLessThan[(Double, Long)] { (p, q) =>
          val c = java.lang.Double.compare(p._1, q._1)
          c < 0 || (c == 0 && p._2 < q._2)
        })._2
        counts(cell) = counts.getOrElse(cell, 0L) + 1L
        var i = 0
        while (i < v.length) {
          val key = (cell, i)
          sums(key) = sums.getOrElse(key, java.math.BigDecimal.ZERO)
            .add(dec12OfFloat(v(i)))
          i += 1
        }
      }
      cents = cents.map { case (cid, prev, _) =>
        val c = counts.getOrElse(cid, 0L)
        if (c == 0L) withNorm(cid, prev)
        else withNorm(cid, Array.tabulate(prev.length)(i =>
          (sums((cid, i)).doubleValue() / c.toDouble).toFloat))
      }
    }
    cents
  }

  /** The row flags of every sampled Lloyd trainer: the first-`nInit`
    * init rows, and the md5-bucket sample `md5bucket(vec_id) <
    * ceil(10000·sampleTarget/n)` (clamped to 10000, so a corpus at or
    * under the target trains on everything). */
  private def trainingRows(nInit: Int, n: Long, sampleTarget: Long): (Column, Column) = {
    val threshold = math.min(10000L, math.ceil(10000.0 * sampleTarget / n).toLong)
    (col("vec_id") < nInit,
      conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10).cast("long")
        .%(10000).<(threshold))
  }

  /** Spark's FLOAT→STRING→DECIMAL(38,12) term cast, driver-side:
    * Float.toString (the float's shortest repr — what Spark's string cast
    * emits) parsed and HALF_UP-rounded to scale 12. */
  private def dec12OfFloat(x: Float): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Float.toString(x))
      .setScale(12, java.math.RoundingMode.HALF_UP)

  /** FULL-CORPUS distributed Lloyd — the scale escape hatch for
    * [[trainCentroids]] (the `Markov.attributionDistributed` move): when
    * the bounded md5 sample is NOT a sufficient sketch of the
    * distribution (pathological multimodality, adversarial skew), train
    * on everything. Per iteration: one codegen'd map pass assigns every
    * vector to its argmax-cosine cell (the probe path's `cellRank`
    * literal-centroid expression — no crossJoin), then ONE (cell, dim)
    * aggregation reduces the corpus to K·dims rows (the only collect —
    * index metadata, not data). Cost is `iters` linear passes instead of
    * the sampled path's flat cost; the output feeds the same probe/PQ
    * machinery unchanged.
    *
    * Arithmetic is bit-identical to [[trainCentroids]]: the same
    * float→string→DECIMAL(38,12) term bridge, exact decimal sums, one
    * double division, float narrowing, empty cells keeping their
    * previous centroid — spec-pinned equal to the driver Lloyd on a
    * corpus small enough that the sample IS the corpus. */
  def kmeansDistributed(
      embeddings: DataFrame, nCentroids: Int = 16,
      iters: Int = 2): Array[(Long, Array[Float], Double)] = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val feat = embeddings.select(
      col("embedding"), VectorFunctions.normExact(col("embedding")).as("nrm"))
    var cents = initialCentroids(embeddings, nCentroids)
    (1 to iters).foreach { _ =>
      val rows = feat
        .withColumn("cell", cellOf(cents))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(
          count(lit(1)).as("n"),
          sum(col("x").cast("string")
            .cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("s"))
        .collect() // K×dims rows — index metadata, not data
      val sums = rows.map(r => (r.getAs[Long]("cell"), r.getAs[Int]("pos")) ->
        r.getAs[java.math.BigDecimal]("s")).toMap
      val counts = rows.map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n")).toMap
      cents = cents.map { case (cid, prev, _) =>
        counts.get(cid) match {
          case None => withNorm(cid, prev) // empty cell keeps its centroid
          case Some(c) => withNorm(cid, Array.tabulate(prev.length)(i =>
            (sums((cid, i)).doubleValue() / c.toDouble).toFloat))
        }
      }
    }
    cents
  }

  private def driverDot(a: Array[Float], b: Array[Float]): Double =
    graft.functions.DotDecimalImpl.dot(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(a),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(b)).doubleValue()

  private def driverNorm(v: Array[Float]): Double = math.sqrt(driverDot(v, v))

  /** The shared IVF probe path: corpus rows are assigned to their nearest
    * cell; a query probes its nearest cells and only those candidates are
    * scored. The probe side is each query's cell ranking cut to its first
    * `nProbe` cells (`Left`), or, for a sweep (`Right`), to a prefix per
    * budget keyed by an `nprobe` column: a budget's probe set is a PREFIX
    * of the ranking, so one posexplode filtered to p ≤ nprobe serves every
    * budget in one frame, each budget's candidate set exactly its
    * standalone scan's. `corpus` is the caller's (neighbor_id, cell, …)
    * assigned or encoded frame. Returned: the (query, candidate) pairs a
    * probe query scores, before any distance arithmetic — which is also
    * what [[indexCompare]] counts as the IVF family's scan.
    *
    * The coarse quantizer IS index metadata: K centroid vectors + norms —
    * bytes, not data — inlined as literals, so cell assignment and probe
    * selection are PURE MAP stages, no crossJoin, no window shuffle. The
    * only shuffles left are the candidate join (probe side is |Q|·nProbe
    * rows — broadcast) and the final per-query top-k rank ([[topK]], keyed
    * (nprobe, query_id) in a sweep). Tie rules match the relational
    * oracle: max cosine, then min centroid id. */
  private def probeCandidates(
      feat: DataFrame, cents: Array[(Long, Array[Float], Double)], nQueries: Int,
      budget: Either[Int, Seq[Int]], corpus: DataFrame): DataFrame = {
    val q = feat.filter(col("vec_id") < nQueries)
    val probes = budget match {
      case Left(nProbe) =>
        q.select(queryCols :+
          explode(probeCells(cents, col("embedding"), col("nrm"), nProbe)).as("cell"): _*)
      case Right(budgets) =>
        q.select(queryCols :+ posexplode(rankedCells(cents)).as(Seq("p0", "cell")): _*)
          .withColumn("nprobe", explode(typedlit(budgets)))
          .filter(col("p0") + 1 <= col("nprobe"))
          .drop("p0")
    }
    broadcast(probes).join(corpus, "cell").filter(col("query_id") =!= col("neighbor_id"))
  }

  /** The raw-vector IVF scan: [[probeCandidates]] against the
    * cell-assigned corpus, exact cosine per pair. */
  private def ivfScan(
      embeddings: DataFrame, cents: Array[(Long, Array[Float], Double)], nQueries: Int,
      budget: Either[Int, Seq[Int]]): DataFrame = {
    val feat = normed(embeddings)
    val assigned = feat.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      col("nrm").as("c_nrm"), cellOf(cents).as("cell"))
    probeCandidates(feat, cents, nQueries, budget, assigned)
      .withColumn("cosine", cosineOf("ce", "c_nrm"))
  }

  private def sumsqOf(v: Array[Float]): Double = {
    val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      v.map(java.lang.Float.valueOf))
    graft.functions.DotDecimalImpl.dot(ad, ad).doubleValue()
  }

  /** Per-subspace code pick over an embedding column: argmin
    * reconstruction distance over the codebook via one sorted struct
    * array (each 8-dim dot appears once; `|x_j|²` is constant per (row,
    * subspace) so the comparison is `−2·x_j·c + |c|²`, ties → min code).
    * Shared with [[VectorStore]]'s encode-at-rest path. */
  private[graft] def pqCodeFor(
      j: Int, sub: Int,
      cb: Array[Array[Array[Float]]], cbSumsq: Array[Array[Double]],
      emb: org.apache.spark.sql.Column) = {
    val subv = slice(emb, j * sub + 1, sub)
    element_at(sort_array(array(cb(j).indices.map { c =>
      struct(
        (lit(-2.0) * VectorFunctions.dotExact(subv, typedlit(cb(j)(c)))
          + lit(cbSumsq(j)(c))).as("dist"),
        lit(c).as("code"))
    }: _*)), 1).getField("code")
  }

  /** Deterministically TRAINED product-quantizer codebooks: `iters` Lloyd
    * iterations per subspace — run JOINTLY (one assignment map + one
    * (subspace, code, dim) aggregation per iteration covers all
    * subspaces) — over the same deterministic md5-bucket sample as
    * [[trainCentroids]], from the same first-K slices init. Assignment
    * uses the ENCODE metric (reconstruction distance), updates are
    * string-cast-decimal-exact means rounded to float, empty cells keep
    * their previous entry — every step reproducible in ANSI SQL, so the
    * trained PQ index is oracle-checkable end-to-end like the trained
    * IVF one. Returns (codebooks, decimal-exact |entry|² per entry). */
  private[graft] def trainPqCodebooks(
      embeddings: DataFrame, nSub: Int, codebookSize: Int,
      iters: Int, sampleTarget: Long = 4096, nPre: Option[Long] = None)
      : (Array[Array[Array[Float]]], Array[Array[Double]]) = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    if (iters > 0) {
      // one combined collect for init slices + Lloyd sample (the
      // trainCentroids job-fusion pattern); nPre skips the count job when
      // the caller already holds the corpus count
      val (isInit, isSamp) =
        trainingRows(codebookSize, nPre.getOrElse(embeddings.count()), sampleTarget)
      val rows = embeddings
        .filter(isInit || isSamp)
        .select(col("vec_id"), col("embedding"), isInit.as("is_init"), isSamp.as("is_samp"))
        .collect()
      val cbVecs = rows.filter(_.getBoolean(2))
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      val sample: Array[Array[Float]] =
        rows.filter(_.getBoolean(3)).map(_.getSeq[Float](1).toArray)
      pqLloyd(cbVecs.map(_._2), sample, nSub, codebookSize, iters)
    } else {
      val cbVecs = embeddings.filter(col("vec_id") < codebookSize)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      pqLloyd(cbVecs.map(_._2), Array.empty, nSub, codebookSize, iters)
    }
  }

  /** RESIDUAL-space PQ codebooks (the FAISS `by_residual=true` training):
    * every training vector is replaced by r = x − centroid(cell(x)) —
    * assignment via the SAME driver argmax-cosine the Lloyd trainer uses
    * (bit-equal to the executor cellRank), subtraction in float32 (exact
    * in double, one rounding — the labelCentroids bridge) — then the
    * identical per-subspace Lloyd runs on residual slices. Residuals
    * cluster far tighter than raw vectors (they lose the cell's coarse
    * direction), which is why residual coding beats plain PQ at the same
    * code budget. */
  private[graft] def trainPqCodebooksResidual(
      embeddings: DataFrame, cents: Array[(Long, Array[Float], Double)],
      nSub: Int, codebookSize: Int, iters: Int, sampleTarget: Long = 4096,
      nPre: Option[Long] = None)
      : (Array[Array[Array[Float]]], Array[Array[Double]]) = {
    val centOf = cents.map { case (cid, v, _) => cid -> v }.toMap
    // cell assignment rides the SAME collect jobs as the vectors, via
    // the executor cellRank expression (bit-equal to the driver argmax —
    // the kmeansDistributed-pinned arithmetic equivalence), so training
    // collects bounded metadata without 10⁶-scale driver decimal ops
    val withCell = normed(embeddings).withColumn("cell", cellOf(cents))
    def residualOf(r: org.apache.spark.sql.Row): Array[Float] = {
      val v = r.getSeq[Float](r.fieldIndex("embedding")).toArray
      val cv = centOf(r.getAs[Long]("cell"))
      Array.tabulate(v.length)(i => v(i) - cv(i))
    }
    // init slices + Lloyd sample in ONE collect job (the trainCentroids
    // fusion pattern); nPre skips the count job when the caller holds it
    if (iters > 0) {
      val (isInit, isSamp) =
        trainingRows(codebookSize, nPre.getOrElse(embeddings.count()), sampleTarget)
      val rows = withCell
        .filter(isInit || isSamp)
        .select(col("vec_id"), col("embedding"), col("cell"),
          isInit.as("is_init"), isSamp.as("is_samp"))
        .collect()
      val init = rows.filter(_.getAs[Boolean]("is_init"))
        .sortBy(_.getAs[Long]("vec_id")).map(residualOf)
      val sample = rows.filter(_.getAs[Boolean]("is_samp")).map(residualOf)
      pqLloyd(init, sample, nSub, codebookSize, iters)
    } else {
      val init = withCell.filter(col("vec_id") < codebookSize)
        .select("vec_id", "embedding", "cell").collect()
        .sortBy(_.getAs[Long]("vec_id")).map(residualOf)
      pqLloyd(init, Array.empty, nSub, codebookSize, iters)
    }
  }

  /** The per-subspace Lloyd core shared by raw and residual codebook
    * training: init from the given vectors' slices, then `iters`
    * in-driver iterations with the oracle-replayable arithmetic (encode
    * metric −2·x·c + |c|² over DotDecimalImpl dots, min-dist/min-code
    * ties, string-cast decimal means). */
  private def pqLloyd(
      initVecs: Array[Array[Float]], sample: Array[Array[Float]],
      nSub: Int, codebookSize: Int, iters: Int)
      : (Array[Array[Array[Float]]], Array[Array[Double]]) = {
    val dims = initVecs.head.length
    require(dims % nSub == 0, s"dims=$dims not divisible by nSub=$nSub")
    val sub = dims / nSub
    var cb: Array[Array[Array[Float]]] =
      Array.tabulate(nSub)(j => initVecs.map(_.slice(j * sub, (j + 1) * sub)))
    var cbSumsq: Array[Array[Double]] = cb.map(_.map(sumsqOf))
    if (iters > 0) {
      (1 to iters).foreach { _ =>
        val sums = scala.collection.mutable.HashMap
          .empty[(Int, Int, Int), java.math.BigDecimal]
        val counts = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
        sample.foreach { v =>
          var j = 0
          while (j < nSub) {
            val subv = v.slice(j * sub, (j + 1) * sub)
            val code = (0 until codebookSize).map { c =>
              (-2.0 * driverDot(subv, cb(j)(c)) + cbSumsq(j)(c), c)
            }.min(Ordering.fromLessThan[(Double, Int)] { (p, q) =>
              val cmp = java.lang.Double.compare(p._1, q._1)
              cmp < 0 || (cmp == 0 && p._2 < q._2)
            })._2
            counts((j, code)) = counts.getOrElse((j, code), 0L) + 1L
            var i = 0
            while (i < sub) {
              val key = (j, code, i)
              sums(key) = sums.getOrElse(key, java.math.BigDecimal.ZERO)
                .add(dec12OfFloat(subv(i)))
              i += 1
            }
            j += 1
          }
        }
        cb = Array.tabulate(nSub)(j => Array.tabulate(codebookSize) { c =>
          counts.get((j, c)) match {
            case Some(cnt) => Array.tabulate(sub)(i =>
              (sums((j, c, i)).doubleValue() / cnt.toDouble).toFloat)
            case None => cb(j)(c)
          }
        })
        cbSumsq = cb.map(_.map(sumsqOf))
      }
    }
    (cb, cbSumsq)
  }

  /** The PQ encode every ADC scan shares: `keep` plus one code per
    * subspace of `emb` (`code_j`), and the reconstruction `recon` — the
    * chosen codebook entries concatenated back into a full vector (array
    * lookups into literal codebooks, still a map stage), passed through
    * `rebuild` (the residual path adds the cell centroid back) — with its
    * exact norm `recon_nrm`. The raw embedding is NOT carried past
    * encoding. */
  private def pqEncode(
      src: DataFrame, cb: Array[Array[Array[Float]]], cbSumsq: Array[Array[Double]],
      emb: Column, keep: Seq[Column], rebuild: Column => Column = identity): DataFrame = {
    val nSub = cb.length
    val sub = cb.head.head.length
    src.select(keep ++ (0 until nSub).map(j =>
        pqCodeFor(j, sub, cb, cbSumsq, emb).as(s"code_$j")): _*)
      .withColumn("recon", rebuild(concat((0 until nSub).map { j =>
        element_at(typedlit(cb(j)), col(s"code_$j") + 1)
      }: _*)))
      .withColumn("recon_nrm", sqrt(VectorFunctions.dotExact(col("recon"), col("recon"))))
  }

  /** Product-quantization (PQ) approximate top-k — the MEMORY-scale ANN
    * path: each corpus vector is encoded as `nSub` small codes (64 floats
    * → 8 bytes at these defaults, a 32× compression), and queries score
    * against the RECONSTRUCTION — the classic asymmetric-distance
    * computation (ADC), here expressed as one exact cosine against the
    * code-rebuilt vector so the scoring reuses the same decimal-exact dot
    * machinery as every other ANN operator (and stays hash-checkable).
    *
    * Codebooks are index metadata, TRAINED by default
    * ([[trainPqCodebooks]]: sampled per-subspace Lloyd — flat cost in
    * corpus size, like the IVF quantizer; `iters = 0` falls back to the
    * first-K-slices stand-in). Encoding is a PURE MAP stage ([[pqEncode]]).
    * At 100 TB the encoded corpus (codes only) is what a scoring pass
    * reads — the raw vectors are touched once at index build.
    *
    * @return (query_id, neighbor_id, adc_cosine, rank) */
  def pqTopK(
      embeddings: DataFrame,
      nQueries: Int = 8, k: Int = 10,
      nSub: Int = 8, codebookSize: Int = 16, iters: Int = 2,
      cbPre: Option[(Array[Array[Array[Float]]], Array[Array[Double]])] = None): DataFrame = {
    val (cb, cbSumsq) =
      cbPre.getOrElse(trainPqCodebooks(embeddings, nSub, codebookSize, iters))
    val feat = normed(embeddings)
    val encoded =
      pqEncode(feat, cb, cbSumsq, col("embedding"), Seq(col("vec_id").as("neighbor_id")))
    neighbors(broadcast(queriesOf(feat, nQueries))
      .join(encoded, col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_cosine", cosineOf("recon", "recon_nrm")), "adc_cosine", k)
  }

  /** IVF+PQ approximate top-k — the two trained index structures
    * COMPOSED the way a production vector index ships them (FAISS
    * IVFPQ, here the `by_residual=false` variant): the trained coarse
    * quantizer ([[trainCentroids]]) routes vectors to cells and queries
    * to their `nProbe` nearest cells, and candidates in probed cells are
    * scored by PQ asymmetric distance against the code reconstruction
    * ([[trainPqCodebooks]]) instead of the raw vector. The scan a query
    * pays touches nProbe/K of the corpus AND reads only codes (8 bytes
    * a vector at these defaults) — the two savings multiply, which is
    * exactly why the composition is the at-scale default.
    *
    * Both trainings are the sampled deterministic Lloyd paths already
    * proven by their standalone oracles; encoding and cell assignment
    * are pure map stages over inlined literal metadata; the only
    * shuffles are the broadcast probe join and the final top-k rank.
    *
    * @return (query_id, neighbor_id, adc_cosine, rank) */
  def ivfPqTopK(
      embeddings: DataFrame,
      nCentroids: Int = 16, nQueries: Int = 8, nProbe: Int = 2, k: Int = 10,
      nSub: Int = 8, codebookSize: Int = 16, iters: Int = 2,
      centsPre: Option[Array[(Long, Array[Float], Double)]] = None,
      cbPre: Option[(Array[Array[Array[Float]]], Array[Array[Double]])] = None): DataFrame = {
    val (cents, (cb, cbSumsq)) =
      trainIvfPq(embeddings, nCentroids, nSub, codebookSize, iters, centsPre, cbPre)
    neighbors(ivfPqScan(embeddings, cents, cb, cbSumsq, nQueries, Left(nProbe)),
      "adc_cosine", k)
  }

  /** The trained quantizer + codebooks of [[ivfPqTopK]] and
    * [[ivfPqNprobeSweep]]: ONE corpus count serves both training stages
    * when neither is pre-trained (the [[ivfPqResidualTopK]] discipline);
    * lazy, so fully pre-trained calls pay no count job at all. Training is
    * deterministic in n, so sharing the count changes cost, never values. */
  private def trainIvfPq(
      embeddings: DataFrame, nCentroids: Int, nSub: Int, codebookSize: Int, iters: Int,
      centsPre: Option[Array[(Long, Array[Float], Double)]],
      cbPre: Option[(Array[Array[Array[Float]]], Array[Array[Double]])])
      : (Array[(Long, Array[Float], Double)], (Array[Array[Array[Float]]], Array[Array[Double]])) = {
    lazy val nShared = Some(embeddings.count())
    (centsPre.getOrElse(trainCentroids(embeddings, nCentroids, iters, nPre = nShared)),
      cbPre.getOrElse(trainPqCodebooks(embeddings, nSub, codebookSize, iters, nPre = nShared)))
  }

  /** The IVF+PQ ADC scan against an already-trained quantizer + codebooks:
    * [[probeCandidates]] over the cell-assigned PQ-encoded corpus, ADC
    * cosine per pair. */
  private def ivfPqScan(
      embeddings: DataFrame, cents: Array[(Long, Array[Float], Double)],
      cb: Array[Array[Array[Float]]], cbSumsq: Array[Array[Double]],
      nQueries: Int, budget: Either[Int, Seq[Int]]): DataFrame = {
    val feat = normed(embeddings)
    val encoded = pqEncode(feat.withColumn("cell", cellOf(cents)), cb, cbSumsq,
      col("embedding"), Seq(col("vec_id").as("neighbor_id"), col("cell")))
    probeCandidates(feat, cents, nQueries, budget, encoded)
      .withColumn("adc_cosine", cosineOf("recon", "recon_nrm"))
  }

  /** RESIDUAL-encoded IVF+PQ top-k — [[ivfPqTopK]] with the FAISS
    * `by_residual=true` encoding that production IVFPQ actually ships:
    * each vector's PQ codes quantize the RESIDUAL r = x − centroid(cell)
    * instead of x itself, and ADC scores against centroid + r̂. Residuals
    * lose the cell's coarse direction, so the same 8-byte code budget
    * spends on within-cell detail. Measured honestly
    * (`ann_recall_ivfpq_residual` vs `ann_recall_ivfpq`, identical
    * budget): recall 0.41 vs 0.35 at sf0.01, 0.325 vs 0.3375 at sf0.1 —
    * the residual advantage tracks how tight cells are relative to the
    * corpus (it's the at-scale encoding, where cells ≫ 16 make
    * |r| ≪ |x|; at 2000 vectors/16 cells it's a wash, and the honest
    * table says so).
    *
    * Determinism: codebooks train on driver-computed residuals whose
    * cell assignment replays the executor `cellRank` argmax bit-for-bit
    * and whose subtraction is float32 (exact in double, one rounding —
    * the labelCentroids bridge, same on both engines); encoding,
    * reconstruction (centroid + codebook entry, float add) and the ADC
    * cosine are the existing decimal-exact expressions. Scale shape
    * identical to [[ivfPqTopK]]: training touches bounded samples,
    * encoding and cell assignment are pure map stages over inlined
    * metadata, the probe join is broadcast, candidates are cell-pruned.
    *
    * @return (query_id, neighbor_id, adc_cosine, rank) */
  def ivfPqResidualTopK(
      embeddings: DataFrame,
      nCentroids: Int = 16, nQueries: Int = 8, nProbe: Int = 2, k: Int = 10,
      nSub: Int = 8, codebookSize: Int = 16, iters: Int = 2,
      centsPre: Option[Array[(Long, Array[Float], Double)]] = None,
      nPre: Option[Long] = None): DataFrame = {
    // ONE corpus count serves both training stages (r16 ADVICE: the
    // centsPre-absent fallback previously paid its own count job)
    val nEff = Some(nPre.getOrElse(embeddings.count()))
    val cents = centsPre.getOrElse(
      trainCentroids(embeddings, nCentroids, iters, nPre = nEff))
    val (cb, cbSumsq) =
      trainPqCodebooksResidual(embeddings, cents, nSub, codebookSize, iters, nPre = nEff)
    val centMap = typedlit(cents.map { case (cid, v, _) => cid -> v.toSeq }.toMap)
    val feat = normed(embeddings)
    val assigned = feat
      .withColumn("cell", cellOf(cents))
      .withColumn("cvec", element_at(centMap, col("cell")))
      .withColumn("res", zip_with(col("embedding"), col("cvec"), (a, b) => a - b))
    // reconstruction = centroid + the decoded residual r̂ (float add)
    val encoded = pqEncode(assigned, cb, cbSumsq, col("res"),
        Seq(col("vec_id").as("neighbor_id"), col("cell"), col("cvec")),
        rhat => zip_with(col("cvec"), rhat, (a, b) => a + b))
      .select("neighbor_id", "cell", "recon", "recon_nrm")
    neighbors(probeCandidates(feat, cents, nQueries, Left(nProbe), encoded)
      .withColumn("adc_cosine", cosineOf("recon", "recon_nrm")), "adc_cosine", k)
  }

  /** Recall@k of the residual-encoded IVF+PQ vs brute force — the honest
    * number that justifies the residual encoding next to
    * `ann_recall_ivfpq`'s plain-PQ baseline at the identical code
    * budget. */
  def ivfPqResidualRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    recallAtK(
      bruteForceTopK(embeddings, nQueries, k),
      ivfPqResidualTopK(embeddings, nQueries = nQueries, k = k))

  /** The (query, candidate) pairs the LSH multi-probe bucket join feeds
    * to scoring — split out so [[indexCompare]] prices the LSH scan. */
  private def lshCandidates(
      embeddings: DataFrame, nQueries: Int, nBits: Int = 8,
      multiProbe: Boolean = true, maxBucket: Long = 1000L): DataFrame = {
    val feat = withFeat(embeddings, nBits)
    val masks = if (multiProbe) 0L +: (0 until nBits).map(1L << _).toSeq else Seq(0L)
    val q = feat.filter(col("vec_id") < nQueries).select(queryCols :+
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"): _*)
    // hot-bucket guard (Dedup.capBuckets): one overloaded sign bucket
    // would funnel nQueries·width candidate rows through a single join
    // task; wider-than-cap buckets are dropped (documented recall cost)
    val c = Dedup.capBuckets(
      feat.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("nrm").as("c_nrm"), col("bucket")),
      Seq("bucket"), maxBucket)
    broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
  }

  /** Multi-probe LSH top-k: candidates come from the query's sign bucket
    * PLUS every Hamming-distance-1 bucket (nBits single-bit flips) — the
    * standard multi-probe trick, recovering most of the recall lost to an
    * unlucky sign flip at ~(nBits+1)× the candidate volume of exact-bucket
    * probing, still a vanishing fraction of the corpus.
    *
    * Scale shape: the probe side is |Q|·(nBits+1) rows (tiny, broadcast);
    * the corpus is hashed ONCE on its bucket — one map stage + one bucket
    * join, never all-pairs. Probe buckets of one query are pairwise
    * distinct (XOR with distinct masks), so a (query, neighbor) pair can
    * match at most one probe and needs no distinct. */
  def lshTopK(
      embeddings: DataFrame,
      nQueries: Int = 8, k: Int = 10, nBits: Int = 8, multiProbe: Boolean = true,
      maxBucket: Long = 1000L): DataFrame = {
    neighbors(lshCandidates(embeddings, nQueries, nBits, multiProbe, maxBucket)
      .withColumn("dot", VectorFunctions.dotExact(col("qe"), col("ce")))
      .withColumn("cosine", col("dot") / (col("q_nrm") * col("c_nrm"))), "cosine", k)
  }

  /** Range search (the ANN dual of top-k): every corpus vector whose
    * cosine to a query clears the threshold. Same broadcast-query /
    * streaming-corpus shape as [[bruteForceTopK]] but with NO window
    * stage at all — threshold filtering is map-side, so the only shuffle
    * is the final output sort. At 100 TB this is the cheapest exact-ANN
    * form: one codegen'd pass over the corpus. */
  def rangeSearch(
      embeddings: DataFrame, nQueries: Int = 8, minCosine: Double = 0.3): DataFrame = {
    val feat = withFeat(embeddings)
    val c = feat.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      col("nrm").as("c_nrm"))
    broadcast(queriesOf(feat, nQueries)).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineOf("ce", "c_nrm"))
      .filter(col("cosine") >= minCosine)
      .select("query_id", "neighbor_id", "cosine")
      .orderBy("query_id", "neighbor_id")
  }

  /** Per-label centroids — the class-prototype aggregation behind
    * centroid classifiers, cluster summaries, and IVF training itself:
    * element-wise mean of every label's vectors plus the member count.
    * One posexplode + one (label, pos) partial-agg groupBy — output is
    * |labels|·dims rows regardless of corpus size. The mean divides the
    * DECIMAL(38,12)-exact sum by the exact count in ONE double division,
    * so it is bit-reproducible under any shuffle order.
    *
    * float→decimal goes through the float's SHORTEST decimal repr (the
    * string cast) in both engines: ≤9 significant digits, so the
    * decimal(38,12) term is exact and no engine-specific rounding of the
    * full binary expansion (HALF_UP-on-string vs round-on-exact-value)
    * can leak into the sum. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(
        count(lit(1)).as("n_vectors"),
        (sum(col("x").cast("string").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .cast("double") / count(lit(1)).cast("double")).as("centroid"))
      .select(col("label"), col("pos").cast("long").as("pos"),
        col("n_vectors"), col("centroid"))
      .orderBy("label", "pos")

  /** Nearest-class-prototype assignment — the distributed inference half
    * of centroid classification (auto-labeling / topic routing at corpus
    * scale): every vector is assigned to the label whose
    * [[labelCentroids]] prototype it is most cosine-similar to, with the
    * vector's own label kept beside the assignment so the output doubles
    * as a confusion/self-consistency report.
    *
    * Scale shape: the prototype matrix is |labels|·dims floats — index
    * metadata, collected and inlined as a literal exactly like the IVF
    * centroids and SQ min/max tables (a real prototype index stores
    * float32 rows; the one `collect()` is bounded by L·d, not corpus
    * size). Each vector then scores ALL L prototypes in one codegen'd map
    * pass over the scan — the native [[graft.functions.DotDecimal]] dot
    * per label, argmax-with-min-label-tiebreak via `array_position` of
    * the max cosine — so NOTHING shuffles before the output sort. The
    * earlier posexplode ⋈ broadcast-on-pos form carried n·d·L rows into
    * its partial agg; this pass carries n.
    *
    * Determinism: centroid means are decimal-exact ([[labelCentroids]]),
    * the double→float prototype narrowing is IEEE round-nearest-even in
    * both engines, dots/norms go through the exact-decimal
    * [[graft.functions.DotDecimal]], and the first-index-of-max argmax
    * equals the oracle's (cosine DESC, label ASC) rank because labels are
    * inlined in ascending order. */
  def topicAssign(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val cents = labelCentroids(embeddings).collect() // L·d rows: index metadata
    val labels: Seq[Long] =
      cents.map(_.getAs[Number]("label").longValue()).distinct.sorted.toSeq
    val mat: Seq[Seq[Float]] = labels.map { l =>
      cents.filter(_.getAs[Number]("label").longValue() == l)
        .sortBy(_.getAs[Long]("pos"))
        .map(_.getAs[Double]("centroid").toFloat).toSeq
    }
    // prototype norms, driver-side over the same DotDecimal runtime the
    // executors run — bit-identical to the oracle's decimal-exact norm
    val cnorms: Seq[Double] = mat.map { cf =>
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(cf.toArray)
      math.sqrt(graft.functions.DotDecimalImpl.dot(ad, ad).doubleValue())
    }
    val matLit = typedlit(mat)
    val labelsLit = typedlit(labels)
    val cnormLit = typedlit(cnorms)
    val best = col("__best").cast("int")
    embeddings
      .select(col("vec_id"), col("label").cast("long").as("true_label"),
        VectorFunctions.normExact(col("embedding")).as("v_nrm"), col("embedding"))
      .withColumn("__cos", transform(matLit, (cv, i) =>
        VectorFunctions.dotExact(col("embedding"), cv) /
          (col("v_nrm") * element_at(cnormLit, i + 1))))
      .withColumn("__best", array_position(col("__cos"), array_max(col("__cos"))))
      .select(
        col("vec_id"), col("true_label"),
        element_at(labelsLit, best).as("assigned_label"),
        element_at(col("__cos"), best).as("cosine"),
        (element_at(labelsLit, best) === col("true_label")).as("is_correct"))
      .orderBy("vec_id")
  }

  /** Recall@k of an approximate neighbor ranking against a ground-truth
    * ranking — the evaluation operator every ANN deployment runs before
    * trusting an index: per query, the fraction of true top-k neighbors
    * the approximate result recovered. Both inputs are (query_id,
    * neighbor_id[, ...]) frames; the truth side defines the denominator,
    * so an approximate result that returns fewer than k rows is
    * penalized, not excused.
    *
    * Scale shape: one equi-join on (query_id, neighbor_id) + one
    * per-query partial agg — both sides are |Q|·k rows (evaluation
    * slices, not the corpus), so this costs nothing at any corpus size;
    * the expensive part is producing the rankings, which the caller
    * already has. */
  def recallAtK(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id").withColumn("__hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        count(col("__hit")).as("n_hits"),
        (count(col("__hit")).cast("double") / count(lit(1)).cast("double")).as("recall"))
      .orderBy("query_id")

  /** nDCG@k + MRR of an approximate ranking against a ground-truth
    * ranking — the RANK-AWARE eval pair beside [[recallAtK]] (recall
    * prices set overlap only; the number a retrieval stack actually
    * tunes on is nDCG, and MRR is the first-hit latency a RAG answerer
    * feels). Both inputs are (query_id, neighbor_id, rank) frames.
    *
    * Graded relevance comes from the EXACT ranking: a truth-rank-r
    * neighbor carries gain `k − r + 1` (linear gain; items outside the
    * true top-k carry 0), so DCG@k = Σ_p gain(approx_p) / ln(p+1) and
    * nDCG = DCG / IDCG with IDCG the truth list's own DCG. The log base
    * cancels in the ratio, so the discount uses `graft_lni(p+1)` — the
    * cross-engine integer-ln tree — and NO platform log enters the
    * gate. MRR = 1/position of the TRUE nearest neighbor in the
    * approximate list (0 when absent).
    *
    * Determinism: per query the DCG is an ordered left-to-right double
    * fold over positions (Spark `aggregate` over the position-sorted
    * list ≡ the oracle's `list_reduce(... ORDER BY p)`), each term one
    * IEEE division — the §3 ordered-fold discipline, no decimal bridge.
    *
    * Scale shape: identical to [[recallAtK]] — both sides are |Q|·k
    * evaluation slices, one equi-join + one per-query agg; cost is flat
    * in corpus size. */
  def rankedEval(truth: DataFrame, approx: DataFrame, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(truth.sparkSession)
    val lniOf = (p: Column) => call_function("graft_lni", p.cast("long"))
    val t = truth
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int").as("t_rank"))
      .filter(col("t_rank") <= k)
    val a = approx
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int").as("p"))
      .filter(col("p") <= k)
    val d = a.join(t, Seq("query_id", "neighbor_id"), "left")
      .withColumn("rel", coalesce(lit(k) - col("t_rank") + 1, lit(0)))
      .groupBy("query_id")
      .agg(
        count(col("t_rank")).as("n_hits"),
        aggregate(
          array_sort(collect_list(struct(col("p"), col("rel")))),
          lit(0.0),
          (acc, x) => acc +
            x.getField("rel").cast("double") / lniOf(x.getField("p") + 1)).as("dcg"),
        max(when(col("t_rank") === 1, lit(1.0) / col("p").cast("double"))).as("mrr0"))
    val i = t.groupBy("query_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("t_rank"), (lit(k) - col("t_rank") + 1).as("rel")))),
        lit(0.0),
        (acc, x) => acc +
          x.getField("rel").cast("double") / lniOf(x.getField("t_rank") + 1)).as("idcg"))
    // Drive the output from the TRUTH side's query_ids (left join): a
    // query whose approximate list comes back empty must score
    // n_hits=0 / dcg=0 / ndcg=0 / mrr=0, not vanish from the output —
    // an inner join here made a downstream mean over the returned rows
    // silently overstate index quality. Broadcast the approx aggregate:
    // it is ≤|Q| rows by construction, and when a caller pins query_id
    // to a literal (the single-query RRF eval) the equi-condition
    // constant-folds away — without the hint that degenerate 1×1 join
    // plans as a CartesianProduct.
    i.join(broadcast(d), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"), col("idcg"),
        coalesce(col("dcg") / col("idcg"), lit(0.0)).as("ndcg"),
        coalesce(col("mrr0"), lit(0.0)).as("mrr"))
      .orderBy("query_id")
  }

  /** nDCG@k + MRR of the trained-IVF index vs exact brute force — the
    * oracle-gated rank-aware twin of [[ivfTrainedRecall]]. */
  def ivfTrainedNdcg(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    rankedEval(
      bruteForceTopK(embeddings, nQueries, k),
      ivfTopKTrained(embeddings, nQueries = nQueries, k = k), k)

  /** nDCG@k + MRR of the sign-LSH index vs exact brute force — the
    * rank-aware twin of [[lshRecall]]. */
  def lshNdcg(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    rankedEval(
      bruteForceTopK(embeddings, nQueries, k),
      lshTopK(embeddings, nQueries, k), k)

  /** Recall@k of the sign-LSH index vs exact brute force on the same
    * table — the oracle-gated instance of [[recallAtK]] (the spec-level
    * recall checks sample; this one is hash-exact per query). */
  def lshRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    recallAtK(
      bruteForceTopK(embeddings, nQueries, k),
      lshTopK(embeddings, nQueries, k))

  /** Recall@k vs nProbe SWEEP for the trained-IVF index — the tuning
    * TABLE behind [[ivfTrainedRecall]]'s single point (the ANN analogue
    * of `dedup_threshold_sweep`): one row per (nprobe, query), so the
    * operator that ships at 100 TB picks its probe budget from measured
    * recall, not folklore. The quantizer trains ONCE (driver-side over
    * the bounded sample, bit-equal across probes); every probe setting
    * shares one cell-pruned scan keyed by budget, and every side stays
    * the same |Q|·k bounded evaluation shape as [[recallAtK]]. */
  def ivfNprobeSweep(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10,
      probes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    // ALL probe budgets scan in ONE frame keyed (nprobe, query_id)
    // ([[probeCandidates]]' sweep form): the sweep pays one corpus
    // assignment, one probe join, one rank window and ONE brute-force
    // truth instead of |probes| of each.
    val approx = topK(ivfScan(embeddings, trainCentroids(embeddings), nQueries, Right(probes)),
        Seq("nprobe", "query_id"), "cosine", "neighbor_id", k)
      .select("nprobe", "query_id", "neighbor_id")
    sweepRecall(bruteForceTopK(embeddings, nQueries, k), approx, "nprobe", probes)
  }

  /** recallAtK per sweep setting, one job: dense truth × settings on the
    * left (the denominator stays the truth list), approx keyed by the
    * sweep column — the multi-setting generalization every sweep shares. */
  private def sweepRecall(
      truth: DataFrame, approx: DataFrame, sweepCol: String,
      settings: Seq[Int]): DataFrame =
    truth.select("query_id", "neighbor_id")
      .withColumn(sweepCol, explode(typedlit(settings)))
      .join(approx.withColumn("__hit", lit(1)),
        Seq("query_id", sweepCol, "neighbor_id"), "left")
      .groupBy(sweepCol, "query_id")
      .agg(
        count(col("__hit")).as("n_hits"),
        (count(col("__hit")).cast("double") / count(lit(1)).cast("double")).as("recall"))
      .select(col(sweepCol), col("query_id"), col("n_hits"), col("recall"))
      .orderBy(sweepCol, "query_id")

  /** Recall@k of the TRAINED-quantizer IVF index ([[ivfTopKTrained]]) vs
    * exact brute force — the quality gate for the index family that
    * actually ships at 100 TB (brute force is the small-corpus baseline;
    * trained IVF is the scale path, and this is the query that tells you
    * what its nProbe setting costs in recall). Same bounded shape as
    * [[lshRecall]]: both sides are |Q|·k ranked lists, the recall join is
    * metadata-sized. */
  def ivfTrainedRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    recallAtK(
      bruteForceTopK(embeddings, nQueries, k),
      ivfTopKTrained(embeddings, nQueries = nQueries, k = k))

  /** Johnson–Lindenstrauss random projection of the embedding column to
    * `k` dimensions with a DETERMINISTIC ±1 sign matrix — the classic
    * Achlioptas construction that preserves pairwise distances within
    * (1±ε) while cutting vector storage 4× here (64→16 dims): the cheap
    * preprocessing step before sketch-heavy similarity passes, and a
    * seedless one both engines can re-derive forever.
    *
    * sign(i,j) = −1 iff the first hex digit of md5("i_j") is odd (the
    * [[Dedup.simhash]] parity discipline), so the matrix is pure function
    * of the dimension indices — no RNG, no stored state; the k×dims
    * literal is inlined like the IVF/SQ/prototype metadata. One map pass
    * over the scan: zero shuffles before the output ordering at any
    * corpus size. Output is exploded to (vec_id, out_dim, y) rows for
    * the oracle hash-compare.
    *
    * Determinism: because the matrix is ±1, each term is ±x EXACTLY, so
    * the sum goes through the [[labelCentroids]] float-string discipline
    * — the float's ≤9-significant-digit shortest repr cast to decimal in
    * BOTH engines, making the scale-12 term exact with no
    * binary-expansion rounding anywhere (the double-product DotDecimal
    * path has a ~0.002% half-up ambiguity band vs DuckDB's
    * exact-binary rounding; measured 16/8000 divergent rows — the
    * string path has zero). */
  def rpProject(embeddings: DataFrame, k: Int = 16, dims: Int = 64): DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Float = {
      val h = md.digest(s"${i}_${j}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) % 2 == 1) -1f else 1f
    }
    val mat: Seq[Seq[Float]] = (0 until k).map(j => (0 until dims).map(i => sign(i, j)))
    val matLit = typedlit(mat)
    val scale = math.sqrt(k.toDouble)
    // (20,12), NOT (38,12): Spark's decimal Add widens precision per step
    // and, at the 38 cap, REDUCES SCALE — rounding every accumulation at
    // 1e-11 (the VectorFunctions.decSum pitfall). At (20,12) the Add
    // result is (21,12) — exact, cast back lossless.
    val dec = org.apache.spark.sql.types.DecimalType(20, 12)
    val proj = transform(matLit, sv =>
      aggregate(
        zip_with(col("embedding"), sv, (x, s) => {
          val xd = x.cast("string").cast(dec)
          when(s < 0f, -xd).otherwise(xd)
        }),
        lit(0).cast(dec), (acc, v) => (acc + v).cast(dec))
        .cast("double") / lit(scale))
    embeddings
      .select(col("vec_id"), posexplode(proj).as(Seq("out_dim", "y")))
      .select(col("vec_id"), col("out_dim").cast("long").as("out_dim"), col("y"))
      .orderBy("vec_id", "out_dim")
  }

  /** Recall@k of the PQ-ADC index ([[pqTopK]]) vs exact brute force —
    * completing the per-index recall family (C43 LSH, C47 trained IVF):
    * PQ's 32× compression trades recall for memory, and this is the
    * query that prices that trade on the actual corpus. */
  def pqRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    recallAtK(
      bruteForceTopK(embeddings, nQueries, k),
      pqTopK(embeddings, nQueries = nQueries, k = k))

  /** Recall@k of PREFIX-TRUNCATED embeddings vs the full vectors — the
    * Matryoshka-style evaluation (Kusupati et al., NeurIPS'22) run before
    * shipping a shortened representation: rank with only the first
    * `dims` of 64 dimensions (renormalized — cosine does that
    * implicitly) and measure how much of the exact full-dimension top-k
    * survives. Complements [[rpProject]] (which mixes all dims): prefix
    * truncation is free at query time when the index stores prefixes.
    * Same bounded eval shape as [[lshRecall]]/[[ivfTrainedRecall]]. */
  def matryoshkaRecall(
      embeddings: DataFrame,
      dims: Int = 16,
      nQueries: Int = 8,
      k: Int = 10): DataFrame = {
    val trunc = embeddings.select(
      col("vec_id"), slice(col("embedding"), 1, dims).as("embedding"))
    recallAtK(
      bruteForceTopK(embeddings, nQueries, k),
      bruteForceTopK(trunc, nQueries, k))
  }

  /** All-corpus k-NN graph: every vector's top-k cosine neighbors WITHIN
    * its trained-quantizer cell — the blocked construction graph-based
    * dedup, clustering, and label-propagation passes consume (an exact
    * all-pairs kNN is O(n²) and never ships; cell-blocking is the same
    * candidate-bounding discipline as [[graft.operators.Dedup.semanticDedup]]).
    * Vectors in cells smaller than k+1 get fewer neighbors — the honest
    * semantics of a blocked graph, refined by raising nProbe-style
    * spill only if a consumer needs it.
    *
    * Scale shape: the self-scaling cell count ([[autoCellCount]]) keeps
    * Σ cell² near-linear in n; cell assignment is a pure map against the
    * inlined centroid literals; the candidate join shuffles on `cell` and
    * the per-source top-k is one rank window partitioned by source. */
  def knnGraph(
      embeddings: DataFrame,
      k: Int = 5,
      nCentroids: Int = 0,
      iters: Int = 2,
      centsPre: Option[Array[(Long, Array[Float], Double)]] = None): DataFrame = {
    topK(cellScoredPairs(embeddings, nCentroids, iters, centsPre), Seq("src"), "cosine", "dst", k)
      .select(col("src").as("vec_id"), col("dst").as("neighbor_id"),
        col("cosine"), col("rank").cast("int").as("rank"))
      .orderBy("vec_id", "rank")
  }

  /** The materialized (src, dst) adjacency of [[knnGraph]] the graph
    * searches navigate — unordered, as navigation reads it by `src`. */
  private def knnEdges(
      embeddings: DataFrame, k: Int, nCentroids: Int, iters: Int,
      cents: Array[(Long, Array[Float], Double)]): DataFrame =
    Materialize(topK(cellScoredPairs(embeddings, nCentroids, iters, Some(cents)),
      Seq("src"), "cosine", "dst", k).select("src", "dst"))

  /** GRAPH-BASED approximate search (the DiskANN/NSG/HNSW-layer-0 search
    * shape) — greedy BEAM SEARCH over the [[knnGraph]] proximity graph:
    * start at a fixed entry node, repeatedly expand the current beam's
    * out-neighbors, score only the newly visited nodes against the
    * query, and keep the `beam` best; after `hops` rounds the answer is
    * the top-k of everything evaluated. This is the one index family the
    * C102 dashboard lacks (LSH/IVF/PQ/SQ are all partition-or-quantize;
    * graph search navigates), and like every approximate row its recall
    * is measured honestly against brute force (`ann_recall_graph`).
    *
    * Determinism: the graph is the deterministic [[knnGraph]]; per hop
    * the beam rank ties on (cosine DESC, node ASC); query–node cosines
    * are the ordered double fold. The DuckDB oracle unrolls the hops as
    * CTEs over the same edge set, so the whole navigation is
    * hash-checked, not just sampled.
    *
    * Entry points are the PER-CELL MEDOID STAND-INS (each cell's min
    * vec_id): the cell-blocked graph has no cross-cell edges, so a
    * single global entry would trap the beam inside one cell (measured:
    * recall 0.075); seeding one representative per cell lets the beam
    * pick the right neighborhoods and then navigate within them — the
    * same coarse-then-navigate split DiskANN's medoid entry plays.
    *
    * Scale shape: evaluation volume is bounded by construction —
    * ≤ K + hops·beam·graphK nodes per query are ever scored (the whole
    * point of graph ANN: per-query work independent of corpus size once
    * the graph exists); that state is held on the driver, and each hop
    * reads only the frontier's adjacency rows and the fresh nodes' vectors
    * ([[navigate]]), ranking ≤ that many rows per query locally.
    * The graph build is [[knnGraph]]'s near-linear cell-blocked pass;
    * a deployment persists graph + entry table once per index build. */
  def graphSearch(
      embeddings: DataFrame, graphK: Int = 5, nCentroids: Int = 0,
      iters: Int = 2, nQueries: Int = 8, beam: Int = 4, hops: Int = 3,
      k: Int = 10,
      centsPre: Option[Array[(Long, Array[Float], Double)]] = None): DataFrame = {
    val (q, edges, entries, nodes) =
      graphSearchParts(embeddings, graphK, nCentroids, iters, nQueries, centsPre)
    rankBeamEval(navigate(q, edges, entries, nodes, Seq("query_id"), lit(beam), hops), k)
  }

  /** The shared index-at-rest of [[graphSearch]] — (queries, edge list,
    * entry nodes with their vectors, scored-node side), built ONCE per
    * call and then only navigated ([[graphBeamSweep]] navigates every
    * beam width over it). */
  private def graphSearchParts(
      embeddings: DataFrame, graphK: Int, nCentroids: Int, iters: Int,
      nQueries: Int, centsPre: Option[Array[(Long, Array[Float], Double)]])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cents = centsPre.getOrElse(trainAtAutoCellCount(embeddings, nCentroids, iters))
    val feat = normed(embeddings)
    val q = queriesOf(feat, nQueries)
    // the graph build reuses THIS training run's centroids (the same
    // deterministic Lloyd result — passing them just skips a second
    // training pass per query)
    val edges = knnEdges(embeddings, graphK, nCentroids, iters, cents)
    // per-cell entry representatives, from the SAME deterministic
    // quantizer the graph build assigns with
    val entries = feat
      .withColumn("cell", cellOf(cents))
      .groupBy("cell").agg(min(col("vec_id")).as("node"),
        min_by(col("embedding"), col("vec_id")).as("ne"))
      .select("node", "ne")
    // no precomputed norm on the node side: the navigations score only
    // their bounded visited sets, so the norm is evaluated on those rows
    // instead of on every corpus row
    val nodes = embeddings.select(col("vec_id").as("node"), col("embedding").as("ne"))
    (q, edges, entries, nodes)
  }

  /** The beam navigation every graph search shares, against an
    * already-built adjacency (`src`, `dst`): every `q` row (keys…, qe,
    * q_nrm) is seeded with every `entries` node (node, ne) and scored,
    * then `hops` rounds of frontier expansion — each hop keeps the
    * `width` best-scored nodes per `keys` group (ties on node), expands
    * them through `adjacency`, drops nodes the group has already seen,
    * and scores only the fresh ones. Returns the full SCORED eval set,
    * every (keys…, node, cosine) the search ever touched, so a caller
    * derives top-k AND the candidates-scanned count ([[indexCompare]])
    * from ONE navigation.
    *
    * The keys carry the setting: unfiltered search is `keys = query_id`
    * over the kNN `edges`; the filtered search navigates its expanded
    * `fedges`; a beam sweep keys (query_id, beam) with `width = beam`
    * (evaluated per `q` row), so every width's eval set is exactly what
    * its standalone navigation computes.
    *
    * The search state is query-sized (≤ |q|·(entries + hops·width·degree)
    * rows), so it lives on the driver: `q` is collected once, and the eval
    * set, the frontier and the seen set are local rows. The beam rank runs
    * there in Spark's order — cosine DESC (NaN largest, −0.0 = 0.0, nulls
    * last), then node ASC. Spark jobs only scan the distributed sides: per
    * hop one `src IN (frontier)` read of the adjacency and one
    * `node IN (fresh)` read of the node vectors. The cosine is the same
    * `dotFold / (q_nrm · normExact)` expression, projected by Spark over
    * the local rows (a projection of a local relation is evaluated on the
    * driver by the expressions' `nullSafeEval`, which shares its
    * implementation with their generated code), so the values are
    * bit-equal. The eval set comes back as a local frame. */
  private def navigate(
      q: DataFrame, adjacency: DataFrame, entries: DataFrame, nodes: DataFrame,
      keys: Seq[String], width: Column, hops: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = q.sparkSession
    val nk = keys.size
    val seen = (keys :+ "node").map(col)
    // the local pair rows (keys…, node, qe, q_nrm, ne) the cosine projects
    val pairSchema = StructType(keys.map(q.schema(_)) ++ Seq(nodes.schema("node"),
      q.schema("qe"), q.schema("q_nrm"), nodes.schema("ne")))
    def scored(pairs: Seq[Row]): DataFrame =
      spark.createDataFrame(pairs.asJava, pairSchema).select(seen :+
        (VectorFunctions.dotFold(col("qe"), col("ne")) /
          (col("q_nrm") * VectorFunctions.normExact(col("ne")))).as("cosine"): _*)
    // (keys…, qe, q_nrm, width) per query row
    val qRows = q.select(keys.map(col) ++ Seq(col("qe"), col("q_nrm"),
      width.cast("int").as("width")): _*).collect().toSeq
    def keyOf(r: Row): Seq[Any] = r.toSeq.take(nk)
    val qBy = qRows.map(r => keyOf(r) -> r).toMap
    def pair(qr: Row, node: Any, ne: Any): Row =
      Row.fromSeq(keyOf(qr) ++ Seq(node, qr.get(nk), qr.get(nk + 1), ne))
    // `ids` → their `value`s in the distributed `df`: one `key IN (ids)` scan
    def lookup(df: DataFrame, key: String, value: String, ids: Seq[Any]): Map[Any, Seq[Any]] =
      if (ids.isEmpty) Map.empty
      else df.filter(col(key).isInCollection(ids)).select(key, value).collect().toSeq
        .groupBy(_.get(0)).map { case (k, rs) => k -> rs.map(_.get(1)) }
    // cosine DESC NULLS LAST in Spark's double order, then node ASC
    val beamOrder: Ordering[Row] = (a, b) => {
      val c = (a.isNullAt(nk + 1), b.isNullAt(nk + 1)) match {
        case (false, false) =>
          SQLOrderingUtil.compareDoubles(b.getDouble(nk + 1), a.getDouble(nk + 1))
        case (an, bn) => java.lang.Boolean.compare(an, bn)
      }
      if (c != 0) c else a.get(nk).asInstanceOf[Comparable[Any]].compareTo(b.get(nk))
    }
    val seeds = entries.select("node", "ne").collect()
    var eval: Seq[Row] =
      scored(qRows.flatMap(qr => seeds.map(e => pair(qr, e.get(0), e.get(1))))).collect().toSeq
    (1 to hops).foreach { _ =>
      val byKey = eval.groupBy(keyOf)
      val frontier = qRows.flatMap(qr =>
        byKey.getOrElse(keyOf(qr), Nil).sorted(beamOrder).take(qr.getInt(nk + 2)))
      val adj = lookup(adjacency, "src", "dst", frontier.map(_.get(nk)).distinct)
      val visited = eval.map(_.toSeq.take(nk + 1)).toSet
      val fresh = frontier.flatMap(f => adj.getOrElse(f.get(nk), Nil).map(keyOf(f) :+ _))
        .distinct.filterNot(visited)
      val vecs = lookup(nodes, "node", "ne", fresh.map(_.last).distinct)
      eval = eval ++ scored(fresh.flatMap(kn =>
        vecs.getOrElse(kn.last, Nil).map(pair(qBy(kn.init), kn.last, _)))).collect()
    }
    spark.createDataFrame(eval.asJava, scored(Nil).schema)
  }

  /** Rank a [[navigate]] eval set to the final (query_id, neighbor_id,
    * extra…, cosine, rank) top-k contract. */
  private def rankBeamEval(eval: DataFrame, k: Int, extra: Column*): DataFrame =
    topK(eval.filter(col("node") =!= col("query_id")), Seq("query_id"), "cosine", "node", k)
      .select(Seq(col("query_id"), col("node").as("neighbor_id")) ++ extra ++
        Seq(col("cosine"), col("rank").cast("int").as("rank")): _*)
      .orderBy("query_id", "rank")

  /** Recall@k per BEAM WIDTH for the graph search — the graph family's
    * tuning table, completing the symmetry with the IVF family's nprobe
    * sweeps (C47b/C47c): beam width is graph ANN's recall-vs-work knob
    * exactly as nProbe is IVF's, and a deployment reads this table to
    * pick it. The quantizer, kNN graph, entry nodes, and brute-force
    * truth are all built ONCE, and every beam width navigates in one
    * frame keyed (query_id, beam) ([[navigate]]; per-query work ≤ K +
    * hops·beam·graphK by construction), so the sweep's total cost is the
    * build plus one set of hop jobs, not three index builds. */
  def graphBeamSweep(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10,
      beams: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    val (q, edges, entries, nodes) =
      graphSearchParts(embeddings, 5, 0, 2, nQueries, None)
    // ALL beam widths navigate in ONE frame keyed (query_id, beam) — and
    // the brute-force truth appears once in the final plan instead of
    // being recomputed per beam width
    val keys = Seq("query_id", "beam")
    val eval = navigate(q.withColumn("beam", explode(typedlit(beams))), edges, entries, nodes,
      keys, col("beam"), 3)
    val approx = topK(eval.filter(col("node") =!= col("query_id")), keys, "cosine", "node", k)
      .select(col("query_id"), col("beam"), col("node").as("neighbor_id"))
    sweepRecall(bruteForceTopK(embeddings, nQueries, k), approx, "beam", beams)
  }

  /** Recall@k of [[graphSearch]] against brute force — the honest number
    * beside every other index family's recall row. */
  def graphRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    recallAtK(
      bruteForceTopK(embeddings, nQueries, k),
      graphSearch(embeddings, nQueries = nQueries, k = k))

  /** FILTERED graph search — [[graphSearch]] under a metadata predicate,
    * the ACORN-1 navigation shape: the beam holds ONLY predicate-matching
    * nodes (they are the only ones ever scored against the query), and
    * non-matching nodes are navigated THROUGH — a frontier node's
    * neighbor that fails the predicate contributes its own out-neighbors
    * (filtered to matching) to the candidate set instead of itself. This
    * keeps the effective degree of the matching subgraph high under a
    * selective filter, where naive post-filtering of the unfiltered beam
    * would strand whole matching regions behind non-matching hubs.
    *
    * Entry points are the per-(cell × label-present) medoid stand-ins:
    * the `entriesPerCell` smallest matching vec_ids of every quantizer
    * cell that holds any matching node — the filtered twin of
    * [[graphSearch]]'s per-cell medoids, built from the same
    * deterministic assignment (this is the occupancy metadata
    * [[adaptiveProbeBudget]] aggregates, used as a seed table instead of
    * a probe budget).
    *
    * Defaults are deliberately WIDER than [[graphSearch]]'s
    * (graphK 16, beam 32, 2 entries/cell): a selective predicate thins
    * the matching subgraph, so the filtered beam needs the denser graph
    * and broader frontier to clear the adaptive-IVF recall bar
    * (measured: graphK=5/beam=4 → 0.26–0.54 filtered recall vs
    * C104's 0.975+; these defaults reach 1.0 at both test SFs, where
    * the bounded budget covers the whole label slice — the honest
    * caveat being that recall saturates on small fixtures and the
    * per-query bound is what holds at 100 TB).
    *
    * Determinism: the graph is the deterministic [[knnGraph]]; per hop
    * the candidate set is an exact relational expansion (1-hop matching
    * union 2-hop-through-non-matching matching), the beam ranks on
    * (cosine DESC, node), and query–node cosines are the ordered double
    * fold — the DuckDB oracle unrolls the identical hops.
    *
    * Scale shape: per query ≤ entries + hops·beam·graphK·(1 + graphK)
    * nodes are ever touched and only the matching subset scored — per-
    * query work independent of corpus size once graph + entry table
    * exist (both persist per index build in a deployment; the entry
    * table is K·|labels| rows of metadata). */
  def filteredGraphSearch(
      embeddings: DataFrame, graphK: Int = 16, nCentroids: Int = 0,
      iters: Int = 2, nQueries: Int = 8, beam: Int = 32, hops: Int = 3,
      k: Int = 10, targetLabel: Int = 0, entriesPerCell: Int = 2,
      broadcastCap: Long = Broadcasts.DefaultCap): DataFrame = {
    val cents = trainAtAutoCellCount(embeddings, nCentroids, iters)
    val feat = normed(embeddings, "label")
    val q = queriesOf(feat, nQueries)
    val edges = knnEdges(embeddings, graphK, nCentroids, iters, cents)
    // the matching-node set: one filtered id column, joined into the
    // expanded edge list below (at scale: the predicate's posting list /
    // id index). GUARDED broadcast: a selective predicate broadcasts (the
    // fast path); a non-selective one is corpus-sized — past
    // `broadcastCap` those semi/anti joins fall back to shuffle joins instead of shipping the
    // whole slice to the driver (row-equal either way, spec-pinned)
    val matching0 = feat.filter(col("label") === targetLabel)
      .select(col("vec_id").as("node")).transform(Materialize(_))
    val matching = Broadcasts.upTo(matching0, matching0.count(), broadcastCap)
    // per-(cell × label-present) entry medoids, from the SAME
    // deterministic quantizer the graph build assigns with
    val wEntry = Window.partitionBy("cell").orderBy(col("vec_id").asc)
    val entries = feat.filter(col("label") === targetLabel)
      .withColumn("cell", cellOf(cents))
      .withColumn("__er", row_number().over(wEntry))
      .filter(col("__er") <= entriesPerCell)
      .select(col("vec_id").as("node"), col("embedding").as("ne"))
    // node payloads carry NO precomputed norm: the norm is evaluated on
    // the ≤|Q|·beam·graphK·(1+graphK) rows the navigation actually
    // scores, not on every corpus row (normExact is a deterministic
    // function of the float array, so the cosine values are unchanged)
    val nodes = embeddings.select(col("vec_id").as("node"), col("embedding").as("ne"))
    // ACORN-1 expansion HOISTED out of the hop loop: a node's filtered
    // expansion set depends only on (edges, matching) — never on the
    // query, the beam, or the hop — so the per-hop
    // "distinct + semi/anti + second edge join + semi" cascade is a
    // loop-invariant computation paid `hops` times. Build the expanded
    // edge list ONCE: fedges(src) = {matching direct neighbors of src}
    //   ∪ {matching out-neighbors of src's NON-matching neighbors}.
    // Per hop the candidate set is then ∪_{s∈frontier} fedges(s) —
    // set-identical to the former oneHop ∪ through (both are deduped
    // relational images of the same relation), and one adjacency read
    // per hop instead of two distincts, two edge joins and three
    // matching joins. In a deployment fedges persists per
    // (index build, predicate) beside the graph itself — it is the
    // predicate's posting list composed into the adjacency, the same
    // at-rest discipline as the entry table. Cost: one |E|-bounded
    // self-join per build, the same order as the knnGraph construction.
    val mDst = matching.select(col("node").as("dst"))
    val eMatch = edges.join(mDst, Seq("dst"), "left_semi").select("src", "dst")
    val eThrough = edges.join(mDst, Seq("dst"), "left_anti")
      .select(col("src"), col("dst").as("mid"))
      .join(edges.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .select("src", "dst")
      .join(mDst, Seq("dst"), "left_semi")
    val fedges = Materialize(eMatch.unionByName(eThrough).distinct())
    val eval = navigate(q, fedges, entries, nodes, Seq("query_id"), lit(beam), hops)
    rankBeamEval(eval, k, lit(targetLabel).as("label"))
  }

  /** Recall@k of [[filteredGraphSearch]] against the exact filtered
    * truth ([[filteredTopK]]) — completes the filtered family's honest
    * measurement symmetry (C97 measures the IVF probe path, this the
    * graph path). */
  def filteredGraphRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    recallAtK(
      filteredTopK(embeddings, nQueries, k),
      filteredGraphSearch(embeddings, nQueries = nQueries, k = k))

  /** The cell-blocked (src, dst, cosine) pair frame [[knnGraph]] and
    * [[contrastivePairs]] rank over: trained-quantizer cell assignment
    * (pure map vs inlined centroid literals), within-cell directed pairs
    * via one `cell` equi-join, ordered-fold cosine per pair. */
  private def cellScoredPairs(
      embeddings: DataFrame, nCentroids: Int, iters: Int,
      centsPre: Option[Array[(Long, Array[Float], Double)]] = None): DataFrame = {
    val cents = centsPre.getOrElse(trainAtAutoCellCount(embeddings, nCentroids, iters))
    // localCheckpoint, NOT cache(): both join sides reuse the assignment
    // without recompute, and the pinned blocks release via ContextCleaner
    // once the frame is unreachable — a cache() entry would pin partitions
    // in the shared CacheManager for the session lifetime on every
    // knnGraph/contrastivePairs call (r8 ADVICE).
    val assigned = normed(embeddings)
      .select(col("vec_id"), col("embedding"), col("nrm"), cellOf(cents).as("cell"))
      .transform(Materialize(_))
    val a = assigned.select(col("cell"), col("vec_id").as("src"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("dst"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("cell")).filter(col("src") =!= col("dst"))
      .withColumn("cosine",
        VectorFunctions.dotFold(col("ea"), col("eb")) / (col("na") * col("nb")))
      .select("src", "dst", "cosine")
  }

  /** Contrastive-triplet mining over the cell-blocked pair frame: per
    * anchor, positive = its nearest within-cell neighbor (cosine ≥ `tau`
    * — a near-duplicate-grade match), negative = its FARTHEST
    * within-cell neighbor — the classic SEMI-HARD negative (same coarse
    * region as the anchor, low similarity), which trains embedding
    * models far better than uniform negatives. Anchors whose cell offers
    * no τ-grade positive, or only one neighbor, emit nothing.
    *
    * Scale shape: identical to [[knnGraph]] — Σ cell² bounded pairs, two
    * rank windows partitioned by anchor, no new shuffles. */
  def contrastivePairs(
      embeddings: DataFrame,
      tau: Double = 0.3,
      nCentroids: Int = 0,
      iters: Int = 2): DataFrame = {
    val scored = cellScoredPairs(embeddings, nCentroids, iters)
    val wPos = Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))
    val wNeg = Window.partitionBy("src").orderBy(col("cosine").asc, col("dst"))
    val ranked = scored
      .withColumn("rp", row_number().over(wPos))
      .withColumn("rn", row_number().over(wNeg))
    val pos = ranked.filter(col("rp") === 1 && col("cosine") >= tau)
      .select(col("src").as("anchor"), col("dst").as("positive_id"),
        col("cosine").as("pos_cos"))
    val neg = ranked.filter(col("rn") === 1)
      .select(col("src").as("anchor"), col("dst").as("negative_id"),
        col("cosine").as("neg_cos"))
    pos.join(neg, "anchor")
      .filter(col("positive_id") =!= col("negative_id"))
      .orderBy("anchor")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * '98): PER QUERY (`vec_id < nQueries`), from the exact top-`k` cosine
    * candidates, greedily select `nSelect` results maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s)` — the diversity-aware
    * retrieval pass a training-data pipeline runs so near-duplicate
    * passages don't crowd a retrieved context set.
    *
    * Scale shape: the CORPUS-sized work (candidate top-k, pairwise sims
    * among candidates) is distributed — one broadcast-query scan plus a
    * k×k bounded self-join; the greedy itself is inherently sequential
    * over a k×k double matrix (≤ 3 KB here), so it runs driver-side like
    * the Markov/PageRank solves — metadata-sized, independent of corpus
    * size. Determinism: rel and sim go through the exact-decimal dot
    * discipline; λ-blend is two correctly-rounded IEEE ops on literals
    * both engines parse identically; ties break (score desc, vec_id asc),
    * mirrored by the oracle's unrolled greedy CTE chain. */
  def mmrRerank(
      embeddings: DataFrame,
      nQueries: Int = 4,
      k: Int = 20,
      nSelect: Int = 10,
      lambda: Double = 0.7): DataFrame = {
    val spark = embeddings.sparkSession
    val cands = bruteForceTopK(embeddings, nQueries = nQueries, k = k)
      .select(col("query_id"), col("neighbor_id").as("vec_id"), col("cosine").as("rel"))
    val feat = withFeat(embeddings)
    val cf = feat.join(broadcast(cands.select("query_id", "vec_id")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("embedding"), col("nrm"))
    val a = cf.select(col("query_id"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = cf.select(col("query_id"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val psim = broadcast(a).join(b, Seq("query_id")).filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        (VectorFunctions.dotExact(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim"))
    // |Q|·k rel rows + |Q|·k·(k−1) sim rows: bounded index metadata
    val rel: Map[Long, Seq[(Long, Double)]] =
      cands.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(x => (x._2, x._3)) }
    val sim: Map[(Long, Long, Long), Double] =
      psim.collect().map(r =>
        ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    val mu = 1.0 - lambda // 0.3 for the default: same literal the oracle casts
    val out = rel.keys.toSeq.sorted.flatMap { q =>
      val qRel = rel(q)
      var selected = Vector.empty[(Long, Long, Int, Double, Double)]
      var remaining = qRel
      while (selected.size < math.min(nSelect, qRel.size)) {
        val scored = remaining.map { case (v, r) =>
          val penalty =
            if (selected.isEmpty) 0.0
            else mu * selected.map(s => sim((q, v, s._2))).max
          val score = if (selected.isEmpty) lambda * r else lambda * r - penalty
          (v, r, score)
        }
        val best = scored.reduceLeft { (x, y) =>
          if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x
        }
        selected :+= ((q, best._1, selected.size + 1, best._2, best._3))
        remaining = remaining.filterNot(_._1 == best._1)
      }
      selected
    }
    import spark.implicits._
    out.toDF("query_id", "vec_id", "mmr_rank", "rel", "score")
      .orderBy("query_id", "mmr_rank")
  }

  /** Per-DIMENSION embedding statistics — the health check run before
    * trusting (or whitening) an embedding column: mean, variance,
    * min/max per dimension expose dead dimensions (zero variance),
    * scale drift between dimensions, and the hub offset
    * ([[centerNormalize]]'s input). One posexplode partial-agg — d
    * output rows at scan speed whatever the corpus size.
    *
    * Determinism: both moment sums ride the float-string scale-12
    * decimal discipline ([[labelCentroids]]): the second moment squares
    * each component as FLOAT32 first (one exact double multiply + one
    * IEEE narrowing, identical in both engines), because an exact
    * scale-24 x² decimal would need a decimal→double conversion through
    * 1e24 — NOT an exact double — where the engines' conversions differ
    * in the last ulp (measured 18/64 dims); scale 12's 1e12 is exact and
    * proven green across every mean-style oracle. Variance =
    * E[x²] − mean², one multiply + one subtract in double. */
  def dimStats(embeddings: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xsq",
        (col("x").cast("double") * col("x").cast("double")).cast("float"))
      .groupBy("pos")
      .agg(
        count(lit(1)).as("n"),
        (sum(col("x").cast("string").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("mean"),
        sum(col("xsq").cast("string").cast(dec)).as("__ss"),
        min(col("x")).cast("double").as("min_x"),
        max(col("x")).cast("double").as("max_x"))
      .withColumn("variance",
        col("__ss").cast("double") / col("n").cast("double")
          - col("mean") * col("mean"))
      .select(col("pos").cast("long").as("pos"), col("n"), col("mean"),
        col("variance"), col("min_x"), col("max_x"))
      .orderBy("pos")
  }

  /** Embedding OUTLIER detection against the corpus per-dimension
    * statistics: each vector's score is its max per-dimension |z|
    * (z = (x − μ_d)/√(σ²_d + ε)), plus the offending dimension — the
    * screen that catches corrupt/degenerate embeddings (NaN-adjacent
    * encoder output, wrong-model rows, truncated floats) before they
    * poison ANN/dedup stages.
    *
    * Scale shape: the [[whiten]] two-pass design — d (μ, σ) pairs are
    * INDEX METADATA (collected once, inlined as literal arrays), so
    * scoring is a shuffle-free codegen'd map + one vec_id-partial
    * max-aggregate. Determinism: the same decimal moment bridges as
    * [[dimStats]], √ and |·| are correctly-rounded IEEE ops, and the
    * worst dimension tie-breaks to the largest index via the max
    * aggregate over (z-equal) rows. */
  def embedOutliers(
      embeddings: DataFrame, eps: Double = 1e-6, threshold: Double = 4.0): DataFrame = {
    val stats = dimStats(embeddings)
      .select("pos", "mean", "variance").collect()
      .sortBy(_.getLong(0))
    val meanLit = array(stats.map(r => lit(r.getDouble(1))).toSeq: _*)
    val stdLit = array(stats.map(r =>
      lit(math.sqrt(r.getDouble(2) + eps))).toSeq: _*)
    val scored = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        abs((col("x").cast("double") -
          element_at(meanLit, (col("pos") + 1).cast("int"))) /
          element_at(stdLit, (col("pos") + 1).cast("int"))).as("z"))
    val wMax = Window.partitionBy("vec_id")
    scored
      .withColumn("max_z", max("z").over(wMax))
      .filter(col("z") === col("max_z"))
      .groupBy("vec_id")
      .agg(max("pos").as("worst_pos"), max("z").as("max_z"))
      .withColumn("is_outlier", col("max_z") > threshold)
      .select("vec_id", "worst_pos", "max_z", "is_outlier")
      .orderBy("vec_id")
  }

  /** Per-dimension WHITENING (standardization): y_i = (x_i − μ_i) /
    * √(σ²_i + ε) — the preprocessing that equalizes dimension scales
    * before distance-based passes when [[dimStats]] shows drift (full
    * ZCA needs the covariance; diagonal whitening is the production
    * default). Same two-pass shape as [[centerNormalize]]: the d
    * (μ, σ²) pairs are INDEX METADATA — computed by [[dimStats]]'
    * aggregation, collected once, inlined as literal arrays — so the
    * transform is a shuffle-free codegen'd map over the scan.
    *
    * Determinism: μ/σ² come from dimStats' proven bridges; √(σ²+ε) and
    * the per-element subtract/divide are single IEEE ops with identical
    * trees in the oracle. */
  def whiten(embeddings: DataFrame, eps: Double = 1e-6): DataFrame = {
    val stats = dimStats(embeddings)
      .select("pos", "mean", "variance").collect()
      .sortBy(_.getLong(0))
    val meanLit = array(stats.map(r => lit(r.getDouble(1))).toSeq: _*)
    val stdLit = array(stats.map(r =>
      lit(math.sqrt(r.getDouble(2) + eps))).toSeq: _*)
    embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        ((col("x").cast("double") - element_at(meanLit, (col("pos") + 1).cast("int"))) /
          element_at(stdLit, (col("pos") + 1).cast("int"))).as("y"))
      .orderBy("vec_id", "pos")
  }

  /** Mean-center + L2-renormalize the embedding column — the standard
    * retrieval preprocessing (centering removes the corpus-wide "hub"
    * direction that inflates cosine similarity between unrelated
    * vectors; renormalizing restores unit sphere geometry for the
    * ANN/dedup passes downstream).
    *
    * Scale shape: pass 1 is a d-group partial aggregate (posexplode feeds
    * map-side combine, shuffle volume = partitions·d rows, NOT n·d); the
    * d per-dimension means are INDEX METADATA — collected once and inlined
    * as a literal array — so pass 2 is a pure shuffle-free codegen'd map
    * over the scan: center, narrow to float32 (what a production pipeline
    * materializes), exact-decimal norm, divide. Works for any corpus size
    * at scan speed.
    *
    * Determinism: means go through the [[labelCentroids]] float-string
    * decimal discipline (exact sum, one correctly-rounded divide); the
    * center-subtract and float narrowing are single IEEE ops mirrored in
    * the oracle; the norm is a SEQUENTIAL double fold over the centered
    * floats (Spark `aggregate` ≡ DuckDB `list_reduce`, same left-to-right
    * order → bit-identical), deliberately NOT the double→decimal cast
    * path: full-mantissa centered floats land in its half-up ambiguity
    * band at ~0.2% per vector (measured here: 1 vector in 500), where
    * the ordered fold has zero. */
  def centerNormalize(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val means: Array[Double] = embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg((sum(col("x").cast("string").cast(dec)).cast("double") /
        count(lit(1)).cast("double")).as("mean"))
      .orderBy("pos")
      .collect().map(_.getDouble(1))
    val meanLit = array(means.map(lit(_)): _*)
    val centered = transform(col("embedding"),
      (x, i) => (x.cast("double") - element_at(meanLit, (i + 1).cast("int"))).cast("float"))
    // dotFold(c, c) ≡ aggregate(cvec, 0.0, acc + c²): same products in the
    // same left-to-right order, so the native codegen fold is bit-identical
    embeddings
      .withColumn("cvec", centered)
      .withColumn("nrm", sqrt(VectorFunctions.dotFold(col("cvec"), col("cvec"))))
      .select(col("vec_id"), col("nrm"), posexplode(col("cvec")).as(Seq("pos", "c")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        (col("c").cast("double") / col("nrm")).as("y"))
      .orderBy("vec_id", "pos")
  }

  /** Scalar-quantized (int8-per-dimension) ADC top-k — the memory-lean
    * sibling of [[pqTopK]]: each dimension is affinely mapped to a 0..255
    * code against corpus-wide per-dimension min/max, queries stay float,
    * and candidates are scored against the DEQUANTIZED vector
    * (asymmetric distance computation). 64 dims × 1 byte = 16× smaller
    * than float32 vectors with near-lossless cosine.
    *
    * Scale shape: training is ONE 64-row min/max aggregate (collected as
    * index metadata — bytes, like the PQ codebooks and IVF centroids);
    * quantize+dequantize is a pure map over the corpus against two
    * 64-element literal arrays; scoring is the same broadcast-query
    * streaming-corpus pass as [[bruteForceTopK]]. Nothing here grows
    * with corpus size except the one scan.
    *
    * Determinism: code = floor((x−lo)/((hi−lo)/255) + 0.5) clamps to
    * [0,255] by construction (min/max bound every x); all arithmetic is
    * the identical IEEE tree in the DuckDB oracle, and dots/norms go
    * through the exact-decimal [[graft.functions.DotDecimal]]. */
  def sqTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val mm = embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
      .orderBy("dim")
      .collect()
    val mnLit = typedlit(mm.map(_.getAs[Double]("mn")).toSeq)
    val mxLit = typedlit(mm.map(_.getAs[Double]("mx")).toSeq)
    val deq = transform(col("embedding"), (x, i) => {
      val lo = element_at(mnLit, i + 1)
      val hi = element_at(mxLit, i + 1)
      val scale = (hi - lo) / 255.0
      val code = when(hi > lo,
        floor((x.cast("double") - lo) / scale + 0.5)).otherwise(lit(0.0))
      // float reconstruction — the storage type a real SQ index serves,
      // and the element type the native graft_dot expression takes
      (lo + code * scale).cast("float")
    })
    val cand = embeddings
      .select(col("vec_id").as("neighbor_id"), deq.as("deq"))
      .withColumn("deq_nrm", VectorFunctions.normExact(col("deq")))
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        VectorFunctions.normExact(col("embedding")).as("q_nrm"))
    neighbors(broadcast(q).join(cand, col("query_id") =!= col("neighbor_id"))
      .withColumn("sq_cosine", cosineOf("deq", "deq_nrm")), "sq_cosine", k)
  }

  /** Recall@k of the scalar-quantized index ([[sqTopK]]) vs exact brute
    * force — closing the per-index recall family (C43 LSH, C47 trained
    * IVF, C52 PQ): SQ is the cheapest compression (4× at 8 bits, no
    * codebook training), and this query prices its ranking loss on the
    * actual corpus. Same bounded shape as the siblings: both inputs are
    * |Q|·k ranked lists, the recall join is metadata-sized. */
  def sqRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    recallAtK(
      bruteForceTopK(embeddings, nQueries, k),
      sqTopK(embeddings, nQueries, k))

  /** Recall@k vs nProbe SWEEP for the COMPOSED IVF+PQ index — C47b's
    * tuning table for the index a deployment actually serves (trained
    * IVF routes, PQ codes score; this is the configuration whose probe
    * budget gets picked from measured recall). Quantizer and codebooks
    * train ONCE (driver-side over the bounded sample, bit-equal across
    * probes); every probe setting shares one cell-pruned ADC scan keyed
    * by budget, and every side stays the same |Q|·k bounded evaluation
    * shape as [[recallAtK]]. */
  def ivfPqNprobeSweep(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10,
      probes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    // the ivfNprobeSweep single-frame fusion over the COMPOSED index:
    // one PQ-encode of the corpus and one probe join serve every budget,
    // and the two trainings share one corpus count ([[trainIvfPq]])
    val (cents, (cb, cbSumsq)) = trainIvfPq(embeddings, 16, 8, 16, 2, None, None)
    val approx = topK(ivfPqScan(embeddings, cents, cb, cbSumsq, nQueries, Right(probes)),
        Seq("nprobe", "query_id"), "adc_cosine", "neighbor_id", k)
      .select("nprobe", "query_id", "neighbor_id")
    sweepRecall(bruteForceTopK(embeddings, nQueries, k), approx, "nprobe", probes)
  }

  /** Recall@k of the composed IVF+PQ index ([[ivfPqTopK]]) vs exact brute
    * force — the recall family now covers EVERY shipped index variant
    * (C43 LSH, C47 trained IVF, C51 prefix, C52 PQ, C62 SQ, and this):
    * IVF+PQ stacks the cell-probe loss on the ADC loss, so neither
    * component's recall alone prices the composition a 100 TB deployment
    * actually runs. Same bounded |Q|·k eval shape as the siblings. */
  def ivfPqRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    recallAtK(
      bruteForceTopK(embeddings, nQueries, k),
      ivfPqTopK(embeddings, nQueries = nQueries, k = k))

  /** kNN majority-vote label prediction — the serve-side shape of a
    * nearest-neighbor classifier over the labeled embedding corpus: each
    * query's `k` exact nearest neighbors vote with their `label`, the
    * modal label wins (ties broken toward the smaller label id, the
    * deterministic convention every vote-count oracle here uses).
    *
    * Scale shape: the expensive part is neighbor retrieval, which is the
    * existing top-k machinery (swap [[bruteForceTopK]] for
    * [[ivfTopKTrained]] at corpus scale — the vote aggregation is
    * identical); the label join is |Q|·k rows against a broadcastable
    * (vec_id, label) projection, and the vote groupBy is |Q|·k rows —
    * both free at any corpus size. */
  def knnClassify(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val neighbors = bruteForceTopK(embeddings, nQueries, k)
      .select("query_id", "neighbor_id")
    val labels = embeddings.select(col("vec_id").as("neighbor_id"), col("label"))
    val votes = neighbors
      .join(broadcast(labels), "neighbor_id")
      .groupBy("query_id", "label")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id").orderBy(col("votes").desc, col("label"))
    votes
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("label").as("predicted_label"),
        col("votes"), lit(k.toLong).as("k"))
      .orderBy("query_id")
  }
}
