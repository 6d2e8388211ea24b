package graft.operators

import graft.functions.VectorFunctions
import graft.sources.{Layout, Manifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF vector store with incremental ingest — the vector-search
  * ingestion path of a training-data platform, on the same Manifest/Layout
  * transactional storage the corpus store and pipeline state use.
  *
  * Layout under `stateDir`:
  *  - `centroids/<tag>/` — the trained coarse quantizer (K rows:
  *    cell, embedding, nrm), FROZEN at [[init]] so every batch —
  *    whenever ingested — assigns against the same quantizer and a
  *    vector's cell never depends on ingest order.
  *  - `vectors/<tag>/` — one dir per committed ingest batch
  *    (cell, vec_id, embedding, nrm), cell-clustered so a probe reads
  *    contiguous ranges.
  *
  * Scale shape: ingest is a map-side cell assignment against K broadcast
  * centroid literals + one anti-join on vec_id for exactly-once
  * admission; probes read only the probed cells' ranges; compaction folds
  * committed batches cell-clustered so read fan-out stays bounded across
  * unlimited ingests. All state transitions go through the Manifest CAS,
  * so racing ingests serialize (the loser re-filters against the winner's
  * committed ids and retries) and readers only ever see whole batches —
  * the same protocol spec-proven for [[Corpus.ingestIncremental]].
  */
object VectorStore {

  private val Tables = Seq("centroids", "vectors")

  /** Train the coarse quantizer on `corpus` (sample-based, flat cost in
    * corpus size) and commit it as the store's frozen index metadata. */
  def init(
      spark: SparkSession, stateDir: String, corpus: DataFrame,
      nCells: Int = 16, iters: Int = 2): Unit = {
    import spark.implicits._
    val cents = Similarity.trainCentroids(corpus, nCells, iters)
    val tag = s"c0_${java.util.UUID.randomUUID().toString.take(8)}"
    cents.toSeq.map { case (cid, vec, nrm) => (cid, vec.toSeq, nrm) }
      .toDF("cell", "embedding", "nrm")
      .coalesce(1)
      .write.parquet(s"$stateDir/centroids/$tag")
    val snap = Manifest.snapshot(spark, stateDir)
    require(!snap.live.exists(_.startsWith("centroids/")),
      s"vector store at $stateDir is already initialized")
    Manifest.tryPublish(spark, stateDir, snap,
      snap.live :+ s"centroids/$tag", snap.meta).getOrElse(
      throw new java.io.IOException(s"lost init race at $stateDir"))
  }

  private def centroids(
      spark: SparkSession, stateDir: String): Array[(Long, Array[Float], Double)] = {
    val dirs = Manifest.live(spark, stateDir).filter(_.startsWith("centroids/"))
    require(dirs.nonEmpty, s"vector store at $stateDir is not initialized")
    spark.read.parquet(dirs.map(d => s"$stateDir/$d"): _*)
      .orderBy("cell").collect()
      .map(r => (r.getAs[Long]("cell"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
        r.getAs[Double]("nrm")))
  }

  private def liveVectorDirs(spark: SparkSession, stateDir: String): Seq[String] =
    Manifest.live(spark, stateDir).filter(_.startsWith("vectors/"))

  /** The committed vector set (cell, vec_id, embedding, nrm). */
  def vectors(spark: SparkSession, stateDir: String): DataFrame = {
    val dirs = liveVectorDirs(spark, stateDir)
    if (dirs.nonEmpty) spark.read.parquet(dirs.map(d => s"$stateDir/$d"): _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "cell BIGINT, vec_id BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE"))
  }

  /** Ingest a batch (vec_id, embedding): assign cells against the frozen
    * quantizer, admit ids not yet committed exactly once, publish via the
    * CAS (re-filtering against a race winner's commits on a lost race).
    * Returns the number of vectors admitted.
    *
    * @param beforePublish test seam, called between staging and the first
    *                      publish attempt (injects a competing committed
    *                      ingest in the race spec) */
  def ingest(
      spark: SparkSession, stateDir: String, batch: DataFrame,
      beforePublish: () => Unit = () => ()): Long = {
    graft.functions.GraftFunctions.register(spark)
    val cents = centroids(spark, stateDir)
    var snap = Manifest.snapshot(spark, stateDir)
    def committedIds(live: Seq[String]): DataFrame = {
      val dirs = live.filter(_.startsWith("vectors/")).map(d => s"$stateDir/$d")
      if (dirs.nonEmpty) spark.read.parquet(dirs: _*).select("vec_id")
      else spark.range(0).select(col("id").as("vec_id"))
    }
    val feat = batch
      .dropDuplicates("vec_id") // in-batch replays collapse before admission
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.normExact(col("embedding")).as("nrm"))
      .withColumn("cell", Similarity.cellOf(cents))
      .select("cell", "vec_id", "embedding", "nrm")
    var admitted = feat
      .join(committedIds(snap.live), Seq("vec_id"), "left_anti")
      .localCheckpoint()
    def stage(tag: String): Unit =
      Layout.writeClustered(admitted, s"$stateDir/vectors/$tag", Seq("cell"), 4)
    var tag = s"b${snap.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
    if (admitted.isEmpty) return 0L
    stage(tag)
    beforePublish()
    var attempts = 0
    var done = false
    while (!done) {
      Manifest.tryPublish(spark, stateDir, snap,
        snap.live :+ s"vectors/$tag", snap.meta) match {
        case Some(_) => done = true
        case None =>
          attempts += 1
          if (attempts >= 16)
            throw new java.io.IOException(
              s"vector ingest lost $attempts consecutive publish races at $stateDir")
          val next = Manifest.snapshot(spark, stateDir)
          val refiltered = admitted
            .join(committedIds(next.live), Seq("vec_id"), "left_anti")
            .localCheckpoint()
          if (refiltered.count() != admitted.count()) {
            admitted = refiltered
            if (admitted.isEmpty) return 0L
            tag = s"b${next.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
            stage(tag)
          }
          snap = next
      }
    }
    admitted.count()
  }

  /** Probe top-k against the committed store: nearest `nProbe` cells per
    * query, exact decimal-cosine rerank inside the probed ranges. */
  def query(
      spark: SparkSession, stateDir: String, queries: DataFrame,
      nProbe: Int = 2, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cents = centroids(spark, stateDir)
    val cand = vectors(spark, stateDir)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"), col("nrm").as("c_nrm"))
    probeTopK(queries, cents, nProbe, k, cand, "ce", "c_nrm", "cosine")
  }

  /** The probe frame and rank tail of [[query]] and [[queryAdc]]: each
    * query probes its `nProbe` nearest cells of `cand` (cell,
    * neighbor_id, `vec`, `nrm`), scores the decimal-exact cosine against
    * `vec` as `score`, and keeps its top `k`. */
  private def probeTopK(
      queries: DataFrame, cents: Array[(Long, Array[Float], Double)], nProbe: Int,
      k: Int, cand: DataFrame, vec: String, nrm: String, score: String): DataFrame = {
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        VectorFunctions.normExact(col("embedding")).as("q_nrm"))
      .select(col("query_id"), col("qe"), col("q_nrm"),
        explode(Similarity.probeCells(cents, col("qe"), col("q_nrm"), nProbe)).as("cell"))
    val rk = Window.partitionBy("query_id").orderBy(col(score).desc, col("neighbor_id"))
    broadcast(probes)
      .join(cand, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn(score,
        VectorFunctions.dotExact(col("qe"), col(vec)) / (col("q_nrm") * col(nrm)))
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", score, "rank")
      .orderBy("query_id", "rank")
  }

  /** Train PQ codebooks on `corpus` (sampled joint-subspace Lloyd, flat
    * cost in corpus size) and commit them as frozen index metadata under
    * `pq/<tag>` — the second index structure of a FAISS-style IVF+PQ
    * store. Frozen for the same reason the coarse quantizer is: every
    * vector, whenever encoded, gets codes from the same codebooks.
    *
    * `byResidual = true` trains the codebooks on RESIDUALS
    * r = x − centroid(cell(x)) against the store's frozen quantizer —
    * FAISS `by_residual=true`, the encoding production IVFPQ actually
    * ships ([[graft.operators.Similarity.ivfPqResidualTopK]] is the
    * ephemeral twin; the store's ADC serving is spec-pinned equal to
    * it, so the `ann_recall_ivfpq_residual` row measures THIS store's
    * serving recall). The flag persists in manifest metadata
    * (`pq_residual`), so every later encode/serve pass — including ones
    * from a different process — reconstructs the same way. Requires
    * [[init]] first: residuals are defined by the frozen quantizer. */
  def initPq(
      spark: SparkSession, stateDir: String, corpus: DataFrame,
      nSub: Int = 8, codebookSize: Int = 16, iters: Int = 2,
      byResidual: Boolean = false): Unit = {
    import spark.implicits._
    val (cb, cbSumsq) =
      if (byResidual)
        Similarity.trainPqCodebooksResidual(
          corpus, centroids(spark, stateDir), nSub, codebookSize, iters)
      else Similarity.trainPqCodebooks(corpus, nSub, codebookSize, iters)
    val rows = for {
      j <- cb.indices; c <- cb(j).indices
    } yield (j, c, cb(j)(c).toSeq, cbSumsq(j)(c))
    val tag = s"pq0_${java.util.UUID.randomUUID().toString.take(8)}"
    rows.toDF("j", "code", "sub", "sumsq")
      .coalesce(1)
      .write.parquet(s"$stateDir/pq/$tag")
    // OCC merge, not a single CAS attempt: an unrelated concurrent commit
    // (e.g. an ingest) must be retried, and only a REAL duplicate-pq
    // conflict (checked inside the closure, against the current snapshot)
    // aborts; either failure path removes the staged orphan dir.
    try Manifest.publishMerge(spark, stateDir) { cur =>
      require(!cur.live.exists(_.startsWith("pq/")),
        s"vector store at $stateDir already has PQ codebooks")
      (cur.live :+ s"pq/$tag",
        cur.meta + (ResidualKey -> (if (byResidual) "1" else "0")))
    }
    catch {
      case e: Throwable =>
        new org.apache.hadoop.fs.Path(s"$stateDir/pq/$tag")
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(s"$stateDir/pq/$tag"), true)
        throw e
    }
  }

  /** Whether the committed codebooks quantize residuals ([[initPq]]'s
    * `byResidual` flag) — persisted metadata, so every encode/serve pass
    * agrees on the reconstruction arithmetic. */
  private val ResidualKey = "pq_residual"

  /** The committed PQ index: codebooks + the residual flag + (when
    * residual) the frozen quantizer the residuals are defined against. */
  private final case class PqIndex(
      cb: Array[Array[Array[Float]]], cbSumsq: Array[Array[Double]],
      residualCents: Option[Array[(Long, Array[Float], Double)]]) {
    def residual: Boolean = residualCents.isDefined
  }

  private def pqIndex(spark: SparkSession, stateDir: String): PqIndex = {
    val snap = Manifest.snapshot(spark, stateDir)
    val dirs = snap.live.filter(_.startsWith("pq/"))
    require(dirs.nonEmpty, s"vector store at $stateDir has no PQ codebooks (run initPq)")
    val rows = spark.read.parquet(dirs.map(d => s"$stateDir/$d"): _*)
      .orderBy("j", "code").collect()
    val bySub = rows.groupBy(_.getAs[Int]("j"))
    val cb = Array.tabulate(bySub.size)(j =>
      bySub(j).sortBy(_.getAs[Int]("code"))
        .map(_.getAs[scala.collection.Seq[Float]]("sub").toArray))
    val sumsq = Array.tabulate(bySub.size)(j =>
      bySub(j).sortBy(_.getAs[Int]("code")).map(_.getAs[Double]("sumsq")))
    val residual = snap.meta.get(ResidualKey).contains("1")
    PqIndex(cb, sumsq,
      if (residual) Some(centroids(spark, stateDir)) else None)
  }

  /** The markers separating encoded history from not-yet-encoded raw
    * batches: the comma-joined vectors/<tag> dirs whose codes are
    * committed ([[encodeCompact]] resets it to its one folded tag;
    * [[encodeFresh]] appends). */
  private val CoveredKey = "pq_covered"

  private def coveredTags(meta: Map[String, String]): Set[String] =
    meta.get(CoveredKey).toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet

  /** Encode-at-rest compaction: fold every committed vector batch into
    * ONE cell-clustered raw batch AND its PQ CODES twin (`codes/<tag>`:
    * cell, vec_id, codes), replacing both prior generations in one
    * atomic publish (OCC merge — a racing ingest's concurrent commit
    * survives and simply stays un-encoded until the next pass).
    *
    * After this, an ADC read serves the encoded majority from the codes
    * table — 8 ints a vector instead of 64 floats — and only batches
    * ingested SINCE the encode pass are encoded on the fly
    * ([[queryAdc]]), which is exactly the hot/cold split a production
    * IVF+PQ store runs: encode in the background, serve codes, let the
    * write path stay raw. */
  def encodeCompact(spark: SparkSession, stateDir: String, nFiles: Int = 4): Unit = {
    graft.functions.GraftFunctions.register(spark)
    val pq = pqIndex(spark, stateDir)
    val snap = Manifest.snapshot(spark, stateDir)
    val dirs = snap.live.filter(_.startsWith("vectors/"))
    if (dirs.isEmpty) return
    val all = spark.read.parquet(dirs.map(d => s"$stateDir/$d"): _*)
    val tag = s"e${snap.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
    Layout.writeClustered(all, s"$stateDir/vectors/$tag", Seq("cell"), nFiles)
    Layout.writeClustered(
      encodeFrame(all, pq), s"$stateDir/codes/$tag", Seq("cell"), nFiles)
    val inputs = dirs.toSet
    Manifest.publishMerge(spark, stateDir) { cur =>
      val keptCodes = cur.live.filterNot(_.startsWith("codes/"))
      (keptCodes.filterNot(inputs) :+ s"vectors/$tag" :+ s"codes/$tag",
        cur.meta + (CoveredKey -> tag))
    }
  }

  /** INCREMENTAL encode pass: encode only the raw batches ingested since
    * the last encode (no refold of history — the committed codes and raw
    * batches are untouched), committing one additional codes dir and
    * extending the covered set. This is the background cadence a
    * production store actually runs between full [[encodeCompact]]s:
    * each pass costs O(new data), and [[queryAdc]]'s on-the-fly path
    * shrinks back to empty. Returns the number of batches encoded. */
  def encodeFresh(spark: SparkSession, stateDir: String, nFiles: Int = 4,
      beforePublish: () => Unit = () => ()): Int = {
    graft.functions.GraftFunctions.register(spark)
    val pq = pqIndex(spark, stateDir)
    val f = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // OCC loop pinned to the SNAPSHOT the codes were encoded from — a
    // blind publishMerge here would break the store's own contract: if a
    // concurrent encodeCompact folded some of the same raw batches, our
    // staged codes would duplicate rows already inside the compacted
    // codes/<tag> and queryAdc would serve those vectors twice. So the
    // staged dir is committed only when the current snapshot's fresh set
    // still matches the one it encodes; any other interleaving deletes
    // the staged orphan and re-derives (or returns 0 if the race winner
    // covered everything).
    var staged: Option[(String, Set[String])] = None // (tag, fresh tags)
    var attempts = 0
    while (true) {
      val snap = Manifest.snapshot(spark, stateDir)
      val covered = coveredTags(snap.meta)
      val fresh = snap.live.filter(d => d.startsWith("vectors/") &&
        !covered.contains(d.stripPrefix("vectors/")))
      val freshTags = fresh.map(_.stripPrefix("vectors/")).toSet
      if (fresh.isEmpty) {
        staged.foreach { case (t, _) =>
          f.delete(new org.apache.hadoop.fs.Path(s"$stateDir/codes/$t"), true)
        }
        return 0
      }
      val tag = staged match {
        case Some((t, set)) if set == freshTags => t // re-CAS the same codes
        case other =>
          other.foreach { case (t, _) =>
            f.delete(new org.apache.hadoop.fs.Path(s"$stateDir/codes/$t"), true)
          }
          val t = s"f${snap.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
          Layout.writeClustered(
            encodeFrame(spark.read.parquet(fresh.map(d => s"$stateDir/$d"): _*), pq),
            s"$stateDir/codes/$t", Seq("cell"), nFiles)
          staged = Some((t, freshTags))
          t
      }
      beforePublish() // test seam: specs inject a racing encodeCompact here
      Manifest.tryPublish(spark, stateDir, snap,
        snap.live :+ s"codes/$tag",
        snap.meta + (CoveredKey ->
          (covered ++ freshTags).toSeq.sorted.mkString(","))) match {
        case Some(_) => return fresh.length
        case None =>
          attempts += 1
          if (attempts >= 16)
            throw new java.io.IOException(
              s"encodeFresh lost $attempts consecutive publish races at $stateDir")
      }
    }
    0 // unreachable
  }

  /** INCREMENTAL encode-compaction: fold the committed codes dirs and the
    * codes of raw batches ingested since the last encode into ONE
    * cell-clustered codes dir — WITHOUT re-encoding covered history and
    * WITHOUT touching the raw vectors layout. Covered batches move as
    * 8-int codes (a ~30× smaller read than their 64-float raw form), so a
    * pass costs O(new raw data + total codes bytes) — the steady-state
    * background cadence of a production IVF+PQ store, where the full
    * refold ([[encodeCompact]]) is the rare rebuild and [[compact]]
    * handles raw-file fan-in independently.
    *
    * OCC: the staged merged dir is pinned to the snapshot it was derived
    * from. A concurrent commit fails the CAS; the staged codes are then
    * re-CASed only when they still account for exactly the store's
    * current encoded state — the codes dirs and covered set are unchanged
    * and every tag the staged dir covers is still a live raw batch (a
    * racing [[compact]] folds raw tags away, which would otherwise leave
    * the same vectors both encoded AND on the fresh on-the-fly path —
    * served twice). Any other interleaving deletes the staged orphan and
    * re-derives. Raw batches ingested DURING the pass simply stay
    * uncovered until the next pass.
    *
    * @param beforePublish test seam, called between staging and each
    *                      publish attempt
    * @return number of fresh (previously un-encoded) batches encoded */
  def encodeCompactIncremental(spark: SparkSession, stateDir: String,
      nFiles: Int = 4, beforePublish: () => Unit = () => ()): Int = {
    graft.functions.GraftFunctions.register(spark)
    val pq = pqIndex(spark, stateDir)
    val f = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // staged merged dir + the snapshot facts it was derived from
    case class Staged(tag: String, inputCodes: Set[String],
      inputCovered: Set[String], fresh: Set[String])
    var staged: Option[Staged] = None
    def dropStaged(): Unit = staged.foreach { s =>
      f.delete(new org.apache.hadoop.fs.Path(s"$stateDir/codes/${s.tag}"), true)
      staged = None
    }
    var attempts = 0
    while (true) {
      val snap = Manifest.snapshot(spark, stateDir)
      val rawTags = snap.live.filter(_.startsWith("vectors/"))
        .map(_.stripPrefix("vectors/")).toSet
      val codeDirs = snap.live.filter(_.startsWith("codes/")).toSet
      // covered tags no longer live (folded away by compact) are dead
      // markers — treat them as gone so the accounting below is exact
      val covered = coveredTags(snap.meta).intersect(rawTags)
      val fresh = rawTags -- covered
      if (codeDirs.size <= 1 && fresh.isEmpty) { dropStaged(); return 0 }
      val st = staged match {
        case Some(s) if s.inputCodes == codeDirs && s.inputCovered == covered &&
          (s.inputCovered ++ s.fresh).subsetOf(rawTags) => s // re-CAS as-is
        case _ =>
          dropStaged()
          val t = s"i${snap.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
          val freshCodes =
            if (fresh.isEmpty) None
            else Some(encodeFrame(spark.read.parquet(
              fresh.toSeq.sorted.map(g => s"$stateDir/vectors/$g"): _*), pq))
          val oldCodes =
            if (codeDirs.isEmpty) None
            else Some(spark.read.parquet(codeDirs.toSeq.sorted.map(d => s"$stateDir/$d"): _*))
          val merged = (oldCodes, freshCodes) match {
            case (Some(a), Some(b)) => a.unionByName(b)
            case (Some(a), None) => a
            case (None, Some(b)) => b
            case (None, None) => throw new IllegalStateException("unreachable")
          }
          Layout.writeClustered(merged, s"$stateDir/codes/$t", Seq("cell"), nFiles)
          val s = Staged(t, codeDirs, covered, fresh)
          staged = Some(s)
          s
      }
      beforePublish()
      Manifest.tryPublish(spark, stateDir, snap,
        (snap.live.filterNot(st.inputCodes) :+ s"codes/${st.tag}"),
        snap.meta + (CoveredKey ->
          (st.inputCovered ++ st.fresh).toSeq.sorted.mkString(","))) match {
        case Some(_) => return st.fresh.size
        case None =>
          attempts += 1
          if (attempts >= 16)
            throw new java.io.IOException(
              s"encodeCompactIncremental lost $attempts consecutive publish races at $stateDir")
      }
    }
    0 // unreachable
  }

  /** (cell, vec_id, codes) for a raw vectors frame — a pure map against
    * the literal codebooks. Residual stores code r = x − centroid(cell)
    * (the cell column is already assigned, so the subtraction is one
    * literal-map lookup — still a pure map stage). */
  private def encodeFrame(vecs: DataFrame, pq: PqIndex): DataFrame = {
    val nSub = pq.cb.length
    val sub = pq.cb.head.head.length
    val target = pq.residualCents match {
      case Some(cents) =>
        val centMap = typedlit(cents.map { case (cid, v, _) => cid -> v.toSeq }.toMap)
        zip_with(col("embedding"), element_at(centMap, col("cell")), (a, b) => a - b)
      case None => col("embedding")
    }
    vecs.select(col("cell"), col("vec_id"),
      array((0 until nSub).map(j =>
        Similarity.pqCodeFor(j, sub, pq.cb, pq.cbSumsq, target)): _*).as("codes"))
  }

  /** Reconstruction columns for a codes frame: `recon` is the ordered
    * concat of the chosen codebook entries (plain PQ) or
    * centroid + r̂ (residual), `recon_nrm` its exact norm — the shared
    * ADC candidate shape. */
  private def withRecon(codes: DataFrame, pq: PqIndex): DataFrame = {
    val rhat = concat((0 until pq.cb.length).map { j =>
      element_at(typedlit(pq.cb(j)), element_at(col("codes"), j + 1) + 1)
    }: _*)
    val recon = pq.residualCents match {
      case Some(cents) =>
        val centMap = typedlit(cents.map { case (cid, v, _) => cid -> v.toSeq }.toMap)
        zip_with(element_at(centMap, col("cell")), rhat, (a, b) => a + b)
      case None => rhat
    }
    codes
      .withColumn("recon", recon)
      .withColumn("recon_nrm",
        sqrt(VectorFunctions.dotExact(col("recon"), col("recon"))))
  }

  /** ADC top-k against the committed store: probe `nProbe` cells, score
    * candidates against the PQ RECONSTRUCTION. Encoded batches (the
    * [[encodeCompact]] snapshot) are served from the codes table — the
    * raw 64-float vectors never load; batches ingested since the encode
    * pass are encoded on the fly from their raw form. Both paths build
    * the same (cell, vec_id, recon) shape, so the scoring expression —
    * the standard decimal-exact ADC cosine — is shared. */
  def queryAdc(
      spark: SparkSession, stateDir: String, queries: DataFrame,
      nProbe: Int = 2, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cents = centroids(spark, stateDir)
    val pq = pqIndex(spark, stateDir)
    val snap = Manifest.snapshot(spark, stateDir)
    val covered = coveredTags(snap.meta)
    val codeDirs = snap.live.filter(_.startsWith("codes/"))
    val rawDirs = snap.live.filter(d => d.startsWith("vectors/") &&
      !covered.contains(d.stripPrefix("vectors/")))
    val encoded =
      if (codeDirs.nonEmpty)
        Some(spark.read.parquet(codeDirs.map(d => s"$stateDir/$d"): _*))
      else None
    val fresh =
      if (rawDirs.nonEmpty)
        Some(encodeFrame(
          spark.read.parquet(rawDirs.map(d => s"$stateDir/$d"): _*), pq))
      else None
    val codes = (encoded, fresh) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => return spark.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0.0).as("adc_cosine"), lit(0).as("rank")).limit(0)
    }
    val cand = withRecon(codes, pq)
      .select(col("cell"), col("vec_id").as("neighbor_id"),
        col("recon"), col("recon_nrm"))
    probeTopK(queries, cents, nProbe, k, cand, "recon", "recon_nrm", "adc_cosine")
  }

  /** Takedown parity for the vector side — the [[Corpus.deleteDocs]]
    * twin: purge `vecIds` from BOTH the raw vectors layout and the
    * committed PQ codes in ONE atomic publish, so neither [[query]]
    * (raw rerank) nor [[queryAdc]] (codes + on-the-fly) can return a
    * deleted id afterwards. Before this, right-to-be-forgotten purged
    * the text ([[Corpus.deleteDocs]]) but left its embedding queryable.
    *
    * Covered-set bookkeeping is the subtle part: survivors of a touched
    * raw batch that was already ENCODED are rewritten as a batch that is
    * itself marked covered (their rewritten codes stay authoritative),
    * while survivors of a not-yet-encoded batch stay uncovered.
    * Collapsing the two would either serve the covered survivors twice
    * (codes + on-the-fly) or drop the fresh ones from ADC reads.
    *
    * OCC: the [[Corpus.deleteDocs]] protocol — touch detection is a
    * vec_id-only In-filter scan (pushed to parquet) naming the hit
    * FILES, only touched dirs are rewritten, the publish is a snapshot
    * CAS under a vacuum-shield lease, and any concurrent commit (a
    * racing ingest or encode pass) drops the staged dirs and re-derives
    * from the winner's snapshot. Cost is O(touched dirs), not O(store);
    * superseded dirs are physically erased by the next
    * [[graft.sources.Manifest.cleanStale]] sweep.
    *
    * @param beforePublish test seam, called between staging and each
    *                      publish attempt
    * @return number of raw vectors actually deleted */
  def deleteVectors(spark: SparkSession, stateDir: String, vecIds: Seq[Long],
      nFiles: Int = 4, beforePublish: () => Unit = () => ()): Long = {
    if (vecIds.isEmpty) return 0L
    val f = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = Manifest.acquireLease(spark, stateDir,
      s"vdelete_${java.util.UUID.randomUUID().toString.take(12)}")
    try {
      var staged: Seq[String] = Nil
      def dropStaged(): Unit = {
        staged.foreach(rel =>
          f.delete(new org.apache.hadoop.fs.Path(s"$stateDir/$rel"), true))
        staged = Nil
      }
      var attempts = 0
      while (true) {
        val snap = Manifest.snapshot(spark, stateDir)
        def hitDirs(dirs: Seq[String]): Seq[String] =
          if (dirs.isEmpty) Nil
          else {
            val hits = spark.read.parquet(dirs.map(d => s"$stateDir/$d"): _*)
              .filter(col("vec_id").isInCollection(vecIds))
              .select(input_file_name().as("fname"))
              .distinct().collect().map(_.getString(0))
            dirs.filter(d => hits.exists(_.contains(s"/$d/")))
          }
        val covered = coveredTags(snap.meta)
        val touchedRaw = hitDirs(snap.live.filter(_.startsWith("vectors/")))
        val touchedCodes = hitDirs(snap.live.filter(_.startsWith("codes/")))
        if (touchedRaw.isEmpty && touchedCodes.isEmpty) return 0L
        val (tCov, tFresh) = touchedRaw.partition(d =>
          covered.contains(d.stripPrefix("vectors/")))
        var newLive = snap.live.filterNot((touchedRaw ++ touchedCodes).toSet)
        var newCovered = covered -- tCov.map(_.stripPrefix("vectors/"))
        var nDeleted = 0L
        val tag = s"d${snap.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
        Seq((tCov, s"${tag}c", true), (tFresh, s"${tag}f", false)).foreach {
          case (dirs, outTag, markCovered) =>
            if (dirs.nonEmpty) {
              val all = spark.read.parquet(dirs.map(d => s"$stateDir/$d"): _*)
              nDeleted += all.filter(col("vec_id").isInCollection(vecIds)).count()
              val surv = all.filter(!col("vec_id").isInCollection(vecIds))
              if (surv.limit(1).count() > 0) {
                val rel = s"vectors/$outTag"
                Layout.writeClustered(surv, s"$stateDir/$rel", Seq("cell"), nFiles)
                staged = staged :+ rel
                newLive = newLive :+ rel
                if (markCovered) newCovered = newCovered + outTag
              }
            }
        }
        if (touchedCodes.nonEmpty) {
          val surv = spark.read.parquet(touchedCodes.map(d => s"$stateDir/$d"): _*)
            .filter(!col("vec_id").isInCollection(vecIds))
          if (surv.limit(1).count() > 0) {
            val rel = s"codes/$tag"
            Layout.writeClustered(surv, s"$stateDir/$rel", Seq("cell"), nFiles)
            staged = staged :+ rel
            newLive = newLive :+ rel
          }
        }
        beforePublish()
        Manifest.tryPublish(spark, stateDir, snap, newLive,
          snap.meta + (CoveredKey -> newCovered.toSeq.sorted.mkString(","))) match {
          case Some(_) => return nDeleted
          case None =>
            dropStaged() // any concurrent commit → full re-derive
            attempts += 1
            if (attempts >= 16)
              throw new java.io.IOException(
                s"deleteVectors lost $attempts consecutive publish races at $stateDir")
        }
      }
      0L // unreachable
    } finally Manifest.releaseLease(spark, stateDir, lease)
  }

  /** Fold all committed vector batches into ONE cell-clustered batch via
    * an OCC merge (a racing ingest's concurrent commit survives). */
  def compact(spark: SparkSession, stateDir: String, nFiles: Int = 4): Unit = {
    val snap = Manifest.snapshot(spark, stateDir)
    val dirs = snap.live.filter(_.startsWith("vectors/"))
    if (dirs.length <= 1) return
    val tag = s"c${snap.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
    Layout.writeClustered(
      spark.read.parquet(dirs.map(d => s"$stateDir/$d"): _*),
      s"$stateDir/vectors/$tag", Seq("cell"), nFiles)
    val inputs = dirs.toSet
    Manifest.publishMerge(spark, stateDir) { cur =>
      (cur.live.filterNot(inputs) :+ s"vectors/$tag", cur.meta)
    }
  }
}
