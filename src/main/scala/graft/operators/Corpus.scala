package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Corpus-curation operators for training-data pipelines: winnowing
  * fingerprints (MOSS-style robust near-dup/overlap detection) and
  * deterministic stratified sampling.
  *
  * Both are pure map stages — no shuffle before the output ordering — so
  * at 100 TB they run at scan speed across however many executors hold
  * the corpus. */
object Corpus {

  /** Winnowing fingerprint rows (doc_id, fingerprint): the distinct
    * sliding-window minima of positioned 3-gram shingle hashes (window
    * [[graft.functions.ShingleImpl.WinnowW]]). Guarantees of the scheme:
    * any shingle run of ≥ w+k−1 tokens shared by two documents yields at
    * least one common fingerprint. Runs the native
    * [[graft.functions.Winnow]] expression — one codegen-resident pass per
    * document vs the SQL form's four shuffled stages (positioned explode,
    * window sort, frame min, DISTINCT). */
  def winnowFingerprints(documents: DataFrame): DataFrame =
    winnowFp(documents).orderBy("doc_id", "fingerprint")

  /** [[winnowFingerprints]] without the output ordering — the join-input
    * form ([[contaminationCheck]] keys on it; an inner sort would just be
    * wasted work under the join). */
  private def winnowFp(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents
      .select(col("doc_id"),
        explode(call_function("graft_winnow", col("text"))).as("fingerprint"))
  }

  /** Benchmark-contamination check — the decontamination pass a
    * training-data pipeline runs before export: a training document is
    * flagged if it shares ANY winnowing fingerprint with the held-out
    * benchmark stratum (here the deterministic `doc_id % holdoutMod == 0`
    * slice, standing in for an external benchmark table). Winnowing
    * guarantees any shared token run of ≥ w+k−1 tokens yields at least
    * one shared fingerprint, so detection is position-robust — not just
    * exact n-grams at fixed offsets.
    *
    * Scale shape: fingerprints come from the native one-pass expression;
    * both sides hash-partition on the fingerprint for the join, so work
    * is proportional to actual collisions — never |train|·|benchmark| —
    * and the per-doc rollup is a partial-agg groupBy. */
  def contaminationCheck(documents: DataFrame, holdoutMod: Long = 97): DataFrame = {
    val fp = winnowFp(documents)
    val bench = fp.filter(col("doc_id") % holdoutMod === 0)
      .select(col("fingerprint"), col("doc_id").as("bench_doc"))
    fp.filter(col("doc_id") % holdoutMod =!= 0)
      .join(bench, "fingerprint")
      .groupBy("doc_id")
      .agg(
        countDistinct("fingerprint").as("n_shared_fingerprints"),
        countDistinct("bench_doc").as("n_bench_docs"))
      .orderBy("doc_id")
  }

  /** PII scrubbing pass — the privacy filter before export: count and
    * redact emails, IPv4s, and long digit runs (phone-shaped), and
    * fingerprint the scrubbed text. Counts are over the ORIGINAL text;
    * redaction applies email → ip → digit-run in a fixed order. Patterns
    * deliberately stay in the RE2 ∩ Java-regex common subset (character
    * classes and bounded quantifiers only — no backreferences, no
    * lookaround, no word boundaries) so both engines match byte-for-byte
    * with leftmost-non-overlapping semantics. Pure map stage: runs at
    * scan speed, shuffles nothing. */
  def piiScrub(documents: DataFrame): DataFrame = {
    import Pii._
    documents.select(
      col("doc_id"),
      regexp_count(col("text"), lit(Email)).as("n_emails"),
      regexp_count(col("text"), lit(Ipv4)).as("n_ipv4"),
      regexp_count(col("text"), lit(DigitRun)).as("n_digit_runs"),
      md5(regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), Email, "<EMAIL>"),
          Ipv4, "<IP>"),
        DigitRun, "<NUM>")).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** The PII patterns, shared verbatim with the DuckDB oracle. */
  private[graft] object Pii {
    val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val Ipv4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val DigitRun = "\\+?[0-9]{7,15}"
  }

  private val IngestTables = Seq("documents", "fingerprints")

  private def emptyFp(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("fingerprint STRING"))

  private def liveDirs(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, table: String): Seq[String] =
    graft.sources.Manifest.live(spark, stateDir)
      .filter(_.startsWith(table + "/")).map(rel => s"$stateDir/$rel")

  /** The committed corpus: union of all published document batches.
    * (Directories staged by a crashed ingest are invisible — they are not
    * in the manifest.) */
  def documents(spark: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame = {
    val dirs = liveDirs(spark, stateDir, "documents")
    require(dirs.nonEmpty, s"no committed corpus batches under $stateDir")
    spark.read.parquet(dirs: _*)
  }

  /** The committed fingerprint store (exact-dedup state across runs). */
  def fingerprints(spark: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame = {
    val dirs = liveDirs(spark, stateDir, "fingerprints")
    if (dirs.nonEmpty) spark.read.parquet(dirs: _*) else emptyFp(spark)
  }

  /** TIME TRAVEL: the corpus exactly as committed at manifest `version`
    * ([[graft.sources.Manifest.history]] lists committed versions) —
    * reproduce any historical training set as long as its batches have
    * not been folded by a compaction. Throws if the version is unknown
    * or torn. */
  def documentsAt(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, version: Long): DataFrame = {
    val snap = graft.sources.Manifest.snapshotAt(spark, stateDir, version)
      .getOrElse(throw new IllegalArgumentException(
        s"no committed manifest version $version under $stateDir"))
    val dirs = snap.live.filter(_.startsWith("documents/")).map(rel => s"$stateDir/$rel")
    if (dirs.nonEmpty) spark.read.parquet(dirs: _*)
    else documents(spark, stateDir).limit(0)
  }

  /** Incremental corpus ingestion with a persisted dedup state — the
    * LLM-pipeline twin of [[graft.Pipeline]]'s idempotent attribution
    * write-back: each batch admits only documents whose normalized text
    * fingerprint has never been seen (exact dedup ACROSS runs, not just
    * within one), appends the admitted docs and their fingerprints, and
    * re-running the same batch is a no-op. One left-anti join against the
    * fingerprint store (hash-joinable at any scale; at 100 TB the store
    * would be bucketed by fingerprint so the anti-join co-locates), plus
    * the usual within-batch min-doc_id representative pick.
    *
    * Crash consistency: the batch's document and fingerprint directories
    * are STAGED first, then published together in one atomic
    * [[graft.sources.Manifest]] version. A crash between the two parquet
    * writes (or before the publish) leaves orphan staged dirs that no
    * reader sees and the next ingest deletes — so the "re-running the same
    * batch is a no-op" contract and the docs↔fingerprints invariant hold
    * across failures, matching run-level SQLite atomicity. (The earlier
    * append-in-place design could strand admitted docs without their
    * fingerprints and re-admit duplicates after a crash.)
    *
    * Concurrent writers SERIALIZE (the contract SQLite's writer lock gives
    * the reference, here as optimistic concurrency): staged dirs carry a
    * unique run tag so racing ingests never collide on a path, the publish
    * is a manifest CAS, and a writer that loses the race re-checks its
    * admitted set against the fingerprints the winner just committed —
    * re-staging only if a duplicate crept in — before retrying on top of
    * the winner's live set. Both commits land; a document admitted by one
    * writer is never re-admitted by the other, even when their batches
    * overlap (spec-tested with an injected competing ingest). Each ingest
    * holds a [[graft.sources.Manifest.Lease]] across staging+publish, so
    * one writer's recovery sweep never vacuums another's in-flight staging
    * with the DEFAULT configuration; `staleGraceMs` remains as
    * defense-in-depth for writers staging outside this API.
    *
    * Maintenance: ingestion composes with [[graft.sources.Layout]] — once
    * the live batch count exceeds `maxLiveBatches`, the whole corpus is
    * compacted into one clustered batch ([[compactCorpus]]), bounding the
    * small-file count regardless of how many increments arrive.
    *
    * @param beforePublish test seam, called between staging and the first
    *                      publish attempt (specs inject a competing
    *                      committed ingest here)
    * @return number of newly admitted documents */
  def ingestIncremental(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, stateDir: String, maxLiveBatches: Int = 64,
      staleGraceMs: Long = 0L,
      beforePublish: () => Unit = () => (),
      extraMeta: Map[String, String] = Map.empty,
      admissionGate: graft.sources.Manifest.Snapshot => Unit = _ => ()): Long = {
    import graft.sources.Manifest
    // vacuum lease held across staging+publish: a concurrent writer's
    // recovery sweep skips everything this ingest stages (acquired BEFORE
    // the first staged dir, released however the ingest exits)
    val lease = Manifest.acquireLease(spark, stateDir,
      s"ingest_${java.util.UUID.randomUUID().toString.take(12)}")
    try ingestLeased(spark, batch, stateDir, maxLiveBatches, staleGraceMs,
      beforePublish, extraMeta, admissionGate)
    finally Manifest.releaseLease(spark, stateDir, lease)
  }

  /** Drop the cached blocks behind a `localCheckpoint()`ed frame. Spark's
    * `Dataset.unpersist` only releases CacheManager entries, not the RDD a
    * local checkpoint pinned — reach through the LogicalRDD node instead.
    * Non-blocking: readers that already planned over the RDD recompute. */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  private def ingestLeased(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, stateDir: String, maxLiveBatches: Int,
      staleGraceMs: Long,
      beforePublish: () => Unit,
      extraMeta: Map[String, String],
      admissionGate: graft.sources.Manifest.Snapshot => Unit = _ => ()): Long = {
    import graft.sources.Manifest
    // crash recovery: delete staged dirs no manifest version references
    Manifest.cleanStale(spark, stateDir, IngestTables, staleGraceMs)
    var snap = Manifest.snapshot(spark, stateDir)
    // admission judged against the SAME snapshot the publish CAS is based
    // on — and re-judged on every retry against the race winner's
    // snapshot (below) — so a batch can never be admitted on the
    // strength of a reference corpus that a concurrent commit replaced
    // (the drift-gate TOCTOU). Throwing here aborts before staging; the
    // staged dirs of a retry-path abort are reaped by the next
    // cleanStale.
    admissionGate(snap)
    val seenDirs = snap.live.filter(_.startsWith("fingerprints/"))
    val seen =
      if (seenDirs.nonEmpty) spark.read.parquet(seenDirs.map(d => s"$stateDir/$d"): _*)
      else emptyFp(spark)
    // within-batch representative (min doc_id per fingerprint), then
    // cross-run novelty via one anti-join against the persisted store
    val withFp = batch.withColumn(
      "fingerprint", graft.functions.TextFunctions.fingerprint(col("text")))
    val reps = withFp
      .groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
      .join(withFp.drop("fingerprint"), "doc_id")
    var admitted = reps
      .join(seen, Seq("fingerprint"), "left_anti")
      .localCheckpoint() // both writes + the count read one materialization
    def uniqueTag(v: Long): String =
      s"b${v}_${java.util.UUID.randomUUID().toString.take(8)}"
    def stage(tag: String): Unit = {
      admitted.drop("fingerprint").write.parquet(s"$stateDir/documents/$tag")
      admitted.select("fingerprint").write.parquet(s"$stateDir/fingerprints/$tag")
    }
    var tag = uniqueTag(snap.alloc + 1)
    stage(tag)
    beforePublish()
    // publish: one atomic manifest CAS makes both dirs live together;
    // on a lost race, refresh the snapshot, re-filter against the winner's
    // newly committed fingerprints, and retry on top of its live set
    var attempts = 0
    var published = false
    while (!published) {
      Manifest.tryPublish(spark, stateDir, snap,
        snap.live ++ Seq(s"documents/$tag", s"fingerprints/$tag"),
        snap.meta ++ extraMeta) match {
        case Some(_) => published = true
        case None =>
          attempts += 1
          if (attempts >= 16)
            throw new java.io.IOException(
              s"ingest lost $attempts consecutive publish races at $stateDir")
          val next = Manifest.snapshot(spark, stateDir)
          // the reference corpus just changed under us: re-run the
          // admission gate against the snapshot this retry will CAS on
          admissionGate(next)
          val prior = snap.live.toSet
          val newFpDirs = next.live.filter(e => e.startsWith("fingerprints/") && !prior(e))
          if (newFpDirs.nonEmpty) {
            val winners = spark.read.parquet(newFpDirs.map(d => s"$stateDir/$d"): _*)
            val refiltered =
              admitted.join(winners, Seq("fingerprint"), "left_anti").localCheckpoint()
            if (refiltered.count() != admitted.count()) {
              releaseLocalCheckpoint(admitted) // superseded copy, drop its blocks
              admitted = refiltered
              tag = uniqueTag(next.alloc + 1) // old staged dirs become orphans
              stage(tag)
            } else releaseLocalCheckpoint(refiltered)
          }
          snap = next
      }
    }
    val n = admitted.count()
    releaseLocalCheckpoint(admitted) // writes + count done; drop the blocks
    if (Manifest.live(spark, stateDir).count(_.startsWith("documents/")) > maxLiveBatches)
      compactCorpus(spark, stateDir)
    n
  }

  /** Compact the committed corpus into ONE clustered batch (docs
    * range-clustered by doc_id via [[graft.sources.Layout.writeClustered]],
    * fingerprints likewise by fingerprint — the bucketing that co-locates
    * the ingest anti-join at scale), published as a manifest version that
    * replaces every batch it READ — a concurrent ingest's freshly
    * committed batch survives, because the publish re-merges against the
    * latest live set and only drops the compaction's own inputs. Old batch
    * dirs become unreferenced and are vacuumed by the next ingest's
    * stale-cleanup; a crash mid-compaction leaves the previous manifest
    * version live and loses nothing. */
  def compactCorpus(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, nFiles: Int = 4): Unit = {
    import graft.sources.{Layout, Manifest}
    val snap = Manifest.snapshot(spark, stateDir)
    val docDirs = snap.live.filter(_.startsWith("documents/"))
    if (docDirs.isEmpty) return
    val fpDirs = snap.live.filter(_.startsWith("fingerprints/"))
    val tag = s"c${snap.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
    Layout.writeClustered(
      spark.read.parquet(docDirs.map(d => s"$stateDir/$d"): _*),
      s"$stateDir/documents/$tag", Seq("doc_id"), nFiles)
    val fpData = // the SAME snapshot as the docs read, not a re-resolved one
      if (fpDirs.nonEmpty) spark.read.parquet(fpDirs.map(d => s"$stateDir/$d"): _*)
      else emptyFp(spark)
    Layout.writeClustered(
      fpData, s"$stateDir/fingerprints/$tag", Seq("fingerprint"), nFiles)
    val inputs = (docDirs ++ fpDirs).toSet
    Manifest.publishMerge(spark, stateDir) { cur =>
      (cur.live.filterNot(inputs) ++ Seq(s"documents/$tag", s"fingerprints/$tag"),
        cur.meta)
    }
  }

  /** Bring the persisted SIGNATURE INDEX in line with the committed
    * corpus: one `signatures/<tag>` dir of 16-lane MinHash signatures per
    * live `documents/<tag>` batch. Signatures are DERIVED state — this
    * refresh (idempotent, incremental) computes them only for batches
    * that lack one (O(new batches), not O(corpus)) and unlinks dirs
    * whose document batch is gone (compaction/deletion rewrote it), so
    * the index heals itself after any corpus rewrite and a deleted
    * document's signature stops gating re-admission. Returns the number
    * of batches (re)indexed.
    *
    * Scale shape: per new batch one codegen hash pass + one parquet
    * write; the publish is manifest metadata. The full-corpus case is
    * only ever paid right after a compaction — which already rewrote
    * the corpus wholesale. */
  /** FIXED-owner exclusive-create lease as the signature-refresh MUTEX,
    * not just a vacuum shield: signature batches publish at
    * DETERMINISTIC paths (`signatures/<docTag>`), so two concurrent
    * refreshers that both see the same missing tag would interleave
    * `mode("overwrite")`'s delete/write on the same directory, and
    * publishMerge would then register a mixed or torn dir as live —
    * corrupting the persisted index (an index-integrity hazard, beyond
    * the documented advisory admission semantics). The exclusive create
    * makes refreshers serialize; expired/crashed holders are reaped by
    * the activeLeases sweep inside the retry loop, and a live holder
    * past `mutexWaitMs` fails loudly rather than proceeding
    * unserialized. */
  private def acquireRefreshMutex(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, mutexWaitMs: Long,
      name: String = "sigidx_refresh"): graft.sources.Manifest.Lease = {
    import graft.sources.Manifest
    val deadline = System.currentTimeMillis() + mutexWaitMs
    while (true) {
      try return Manifest.acquireLease(spark, stateDir, name,
        ttlMs = 5 * 60 * 1000L)
      catch {
        case _: java.io.IOException =>
          Manifest.activeLeases(spark, stateDir) // reaps expired lease files
          if (System.currentTimeMillis() > deadline)
            throw new java.io.IOException(
              s"timed out after ${mutexWaitMs}ms waiting for the " +
                s"$name lease at $stateDir (held by a live refresher)")
          Thread.sleep(50L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def refreshSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, mutexWaitMs: Long = 60 * 1000L): Long = {
    import graft.sources.Manifest
    val ttlMs = 5 * 60 * 1000L
    var lease = acquireRefreshMutex(spark, stateDir, mutexWaitMs)
    try {
      Manifest.cleanStale(spark, stateDir, Seq("signatures"))
      val snap = Manifest.snapshot(spark, stateDir)
      val docTags = snap.live
        .collect { case d if d.startsWith("documents/") => d.stripPrefix("documents/") }
        .toSet
      val sigTags = snap.live
        .collect { case s if s.startsWith("signatures/") => s.stripPrefix("signatures/") }
        .toSet
      val missing = docTags -- sigTags
      val orphaned = sigTags -- docTags
      if (missing.isEmpty && orphaned.isEmpty) return 0L
      missing.foreach { t =>
        // HEARTBEAT per batch: a refresh spanning many batches can outlive
        // the fixed TTL, after which a waiting refresher's activeLeases
        // sweep would reap this lease and both would interleave
        // mode(overwrite) on the same deterministic paths — the exact
        // corruption the mutex exists to prevent. Renewing before each
        // write keeps the lease live for however long the refresh runs.
        lease = Manifest.renewLease(spark, stateDir, lease, ttlMs)
        Dedup.minhashSignature(spark.read.parquet(s"$stateDir/documents/$t"))
          .write.mode("overwrite").parquet(s"$stateDir/signatures/$t")
      }
      // FENCE before publish: if the lease file no longer records this
      // acquisition (it expired anyway and a waiting refresher reaped +
      // re-acquired), a second refresher may already be rewriting the
      // same signature dirs — publishing now could register a torn dir
      // as live. Abort; the usurper owns the refresh.
      if (!Manifest.holdsLease(spark, stateDir, lease))
        throw new java.io.IOException(
          s"sigidx_refresh lease at $stateDir was reaped mid-refresh " +
            "(holder overran its TTL and a waiting refresher took over); " +
            "aborting without publishing")
      Manifest.publishMerge(spark, stateDir) { cur =>
        // re-derive against the CURRENT live set: only add signatures
        // whose document batch is still live, drop any orphaned entry
        val curDocs = cur.live
          .collect { case d if d.startsWith("documents/") => d.stripPrefix("documents/") }
          .toSet
        val keep = cur.live.filterNot(e =>
          e.startsWith("signatures/") && !curDocs(e.stripPrefix("signatures/")))
        val adds = missing.intersect(curDocs).toSeq.sorted.map(t => s"signatures/$t")
        ((keep ++ adds).distinct, cur.meta)
      }
      missing.size.toLong
    } finally {
      // never delete a usurper's lease file: release only what is still
      // OUR acquisition
      if (Manifest.holdsLease(spark, stateDir, lease))
        Manifest.releaseLease(spark, stateDir, lease)
    }
  }

  /** Incremental ingest with a NEAR-DUP admission gate in front of
    * [[ingestIncremental]]'s exact-fingerprint transaction: batch docs
    * whose best band-collision match against the persisted signature
    * index reaches `threshold` are rejected before staging — the
    * recurring-crawl admission shape ([[Dedup.minhashIncremental]])
    * composed with the versioned store. The near-dup gate reads the
    * lease-time index, so it is ADVISORY at race boundaries (two
    * concurrent ingests can each admit the other's near-twin — the same
    * eventual-consistency every production near-dup store accepts);
    * EXACT duplicates stay transactional through the fingerprint CAS.
    * Within-batch near-dups are deliberately not examined (run
    * [[Dedup.minhashLsh]] on the batch first if that matters).
    *
    * Scale shape: the index probe is the asymmetric band join — batch
    * band rows against the persisted index, candidates bounded by
    * batch-side collisions; the corpus is re-hashed NEVER (signatures
    * persist per batch and refresh incrementally). */
  /** Loud rejection from [[ingestNearDup]]'s drift gate. Thrown BEFORE
    * anything stages, so the manifest never sees a partial commit: the
    * caller catches it and routes the whole batch to quarantine. */
  final case class DriftRejected(ks: Double, psi: Double, maxKs: Double, maxPsi: Double)
    extends RuntimeException(
      f"batch rejected by drift gate: ks=$ks%.4f (max $maxKs%.4f), " +
        f"psi=$psi%.4f (max $maxPsi%.4f); nothing was committed")

  def ingestNearDup(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, stateDir: String, threshold: Double = 0.5,
      maxLiveBatches: Int = 64,
      maxKs: Double = Double.PositiveInfinity,
      maxPsi: Double = Double.PositiveInfinity): Long = {
    import graft.sources.Manifest
    // DRIFT GATE (optional; off at the +Inf defaults): compare the whole
    // batch's token-length profile against the committed corpus with the
    // C88b KS/PSI verdict and REJECT the batch — atomically, before any
    // staging — when either statistic exceeds its threshold. This turns
    // the drift monitor into an admission control: a crawler that started
    // truncating documents or keeping nav pages fails loudly instead of
    // silently polluting the corpus. Per-doc near-dup/exact gates below
    // still apply to an admitted batch.
    //
    // The gate is SNAPSHOT-COUPLED, not check-then-act: it evaluates
    // against the exact snapshot the ingest's publish CAS is based on
    // (and re-evaluates on every lost race inside ingestIncremental's
    // retry loop), so a concurrent ingest committing between "gate
    // passed" and "this batch published" can no longer let two
    // simultaneously drifting batches each pass against the pre-drift
    // corpus. The call here is the same gate run once against the
    // current snapshot — a fast-fail before the signature refresh does
    // any derived-state work.
    val driftGate: Manifest.Snapshot => Unit =
      if (maxKs.isInfinite && maxPsi.isInfinite) _ => ()
      else snap => {
        val docDirs = snap.live.filter(_.startsWith("documents/"))
        if (docDirs.nonEmpty) {
          val ref = spark.read.parquet(docDirs.map(d => s"$stateDir/$d"): _*)
          corpusDriftSummaryBetween(batch, ref)
            .collect().headOption.foreach { r =>
              // ks NULL = one side empty after tokenization → nothing to compare
              val ks = Option(r.getAs[java.lang.Double]("ks")).map(_.toDouble)
              val psi = r.getAs[Double]("psi")
              if (ks.exists(_ > maxKs) || psi > maxPsi)
                throw DriftRejected(ks.getOrElse(0.0), psi, maxKs, maxPsi)
            }
        }
      }
    driftGate(Manifest.snapshot(spark, stateDir))
    refreshSignatureIndex(spark, stateDir)
    val sigDirs = Manifest.live(spark, stateDir).filter(_.startsWith("signatures/"))
    val keep =
      if (sigDirs.isEmpty) batch
      else {
        val sigC = spark.read.parquet(sigDirs.map(d => s"$stateDir/$d"): _*)
        val rejects = Dedup
          .minhashIncrementalVerdicts(Dedup.minhashSignature(batch), sigC)
          .filter(col("est_jaccard") >= threshold)
          .select(col("new_doc").as("doc_id"))
        batch.join(rejects, Seq("doc_id"), "left_anti")
      }
    val n = ingestIncremental(spark, keep, stateDir, maxLiveBatches,
      admissionGate = driftGate)
    refreshSignatureIndex(spark, stateDir) // index what just committed
    n
  }

  /** One embedding-index generation of a manifest snapshot's `live`
    * entries: the quantizer tag `qTag` (`quantizer/<gen>`) and the index
    * dirs built against it. An index dir is `<kind>/<docTag>__<gen>` —
    * kind `embcells` (cell assignments), `embocc` (occupancy sidecar) or
    * `embcodes` (PQ codes), docTag the document batch it covers — and
    * [[dir]] is the one place that name is built. */
  private final case class IndexGen(qTag: String, live: Seq[String]) {
    private val suffix = "__" + qTag.stripPrefix("quantizer/")

    /** The `kind` dir of document batch `docTag` in this generation. */
    def dir(kind: String, docTag: String): String = s"$kind/$docTag$suffix"

    /** This generation's live `kind` dirs, in manifest order. */
    def dirs(kind: String): Seq[String] =
      live.filter(c => c.startsWith(s"$kind/") && c.endsWith(suffix))

    lazy val cellDirs: Seq[String] = dirs("embcells")

    /** The document batches this generation's live `kind` dirs cover. */
    def docTags(kind: String): Set[String] =
      dirs(kind).map(_.stripPrefix(s"$kind/").stripSuffix(suffix)).toSet

    /** Whether `e` is a cells or occupancy dir of another generation, or
      * of a batch not in `docs`: what a refresh drops. */
    def dead(docs: Set[String])(e: String): Boolean =
      Seq("embcells/", "embocc/").exists(p => e.startsWith(p) &&
        (!e.endsWith(suffix) || !docs(e.stripPrefix(p).stripSuffix(suffix))))
  }

  /** The same batch and generation's index dir of another `kind`. */
  private def twin(e: String, kind: String): String = kind + e.substring(e.indexOf('/'))

  /** The document batch index dir `e` covers, in any generation. */
  private def indexedDoc(e: String): Option[String] =
    Seq("embcells/", "embocc/", "embcodes/").find(e.startsWith)
      .map(p => e.stripPrefix(p).split("__", 2)(0))

  /** The live embedding-index generation of `snap`, when a quantizer is
    * live. Pure: no snapshot of its own, no I/O. */
  private def liveGen(snap: graft.sources.Manifest.Snapshot): Option[IndexGen] =
    snap.live.find(_.startsWith("quantizer/")).map(IndexGen(_, snap.live))

  /** [[liveGen]], or the refusal of the paths that need an index. */
  private def indexGen(snap: graft.sources.Manifest.Snapshot, stateDir: String): IndexGen =
    liveGen(snap).getOrElse(throw new java.io.IOException(
      s"no embedding index at $stateDir — run refreshEmbeddingIndex first"))

  /** `gen`, refused by the serving paths when it has no cells: a
    * quantizer live with zero cell dirs (e.g. every doc deleted, then
    * refreshed) would otherwise hand the reader an empty parquet path
    * list and an opaque schema-inference error. */
  private def withCells(gen: IndexGen, stateDir: String): IndexGen =
    if (gen.cellDirs.nonEmpty) gen
    else throw new java.io.IOException(
      s"no embedding index cells at $stateDir — run refreshEmbeddingIndex first")

  /** The live codebook tag, or the refusal of the paths that need one. */
  private def codebookTag(snap: graft.sources.Manifest.Snapshot, stateDir: String): String =
    snap.live.find(_.startsWith("embpq/")).getOrElse(
      throw new java.io.IOException(
        s"no embedding codebooks at $stateDir — run initEmbeddingCodebooks first"))

  /** Read the persisted coarse quantizer back as the in-memory centroid
    * array the probe vocabulary ([[graft.operators.Similarity.cellOf]],
    * [[graft.operators.Similarity.probeCells]]) consumes. Norms are
    * recomputed from the stored floats with the identical decimal
    * arithmetic training used — floats round-trip parquet exactly, so
    * the read-back quantizer is bit-equal to the trained one. */
  private def readQuantizer(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, qTag: String): Array[(Long, Array[Float], Double)] =
    readIndex(spark, QuantizerSchema, stateDir, Seq(qTag)).collect()
      .map(r => Similarity.withNorm(
        r.getAs[Long]("cid"), r.getSeq[Float](r.fieldIndex("embedding")).toArray))
      .sortBy(_._1)

  /** The schemas the embedding-index writers produce: the quantizer
    * ([[refreshEmbeddingIndex]]), the codebooks ([[initEmbeddingCodebooks]]),
    * the PQ codes ([[encodeCellCodes]]) and the base columns of the cells
    * dirs ([[assignCells]]). Reads that pass them run no parquet
    * footer-inference job. The cells dirs also carry the declared
    * predicate columns, typed as ingested, so reads that need those infer. */
  private val QuantizerSchema = StructType.fromDDL("cid BIGINT, embedding ARRAY<FLOAT>")
  private val CodebookSchema =
    StructType.fromDDL("j INT, code INT, sub ARRAY<FLOAT>, sumsq DOUBLE")
  private val CodesSchema = StructType.fromDDL("doc_id BIGINT, cell BIGINT, codes ARRAY<INT>")
  private val CellsSchema =
    StructType.fromDDL("doc_id BIGINT, cell BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE")

  /** The index dirs `tags` under `stateDir`, read with their writer's `schema`. */
  private def readIndex(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      stateDir: String, tags: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(tags.map(t => s"$stateDir/$t"): _*)

  /** The DECLARED predicate columns of a corpus embedding index — the
    * set the occupancy sidecars are keyed by and the only columns
    * [[semanticTopKFilteredOn]] may filter on. Persisted as manifest
    * metadata (`embocc_cols`) at refresh publish; absent on states built
    * before multi-column occupancy → the historical single `label`. */
  private[graft] def declaredPredCols(meta: Map[String, String]): Seq[String] =
    meta.get("embocc_cols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq("label"))

  /** Cell assignment for one document batch against a fixed quantizer —
    * the persisted IVF index shape: (doc_id, cell, embedding, nrm), one
    * codegen'd map pass, no shuffle. Declared predicate columns present
    * on the batch ride along (the metadata-filtered serving of
    * [[semanticTopKFilteredOn]] needs them inside the cells AND
    * aggregated into the per-batch occupancy table). */
  private def assignCells(docs: org.apache.spark.sql.DataFrame,
      cents: Array[(Long, Array[Float], Double)],
      predCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val ride = predCols.filter(docs.columns.contains).map(col)
    val feat = docs.select(
      (Seq(col("doc_id"), col("embedding"),
        graft.functions.VectorFunctions.normExact(col("embedding")).as("nrm")) ++
        ride): _*)
    feat.withColumn("cell", Similarity.cellOf(cents))
      .select((Seq(col("doc_id"), col("cell"), col("embedding"), col("nrm")) ++
        ride): _*)
  }

  /** Aggregate one cells dir into its occupancy sidecar: (predCols…,
    * cell, n) — K·Π|col-cardinalities| metadata rows. Shared by the
    * refresh write path and the missing-twin backfill. */
  private def writeOccFromCells(spark: org.apache.spark.sql.SparkSession,
      cellPath: String, occPath: String, predCols: Seq[String]): Unit =
    spark.read.parquet(cellPath)
      .groupBy(predCols.map(col) :+ col("cell"): _*).agg(count(lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(occPath)

  /** Write one batch's cell assignments and, when the batch carries ALL
    * declared predicate columns, its OCCUPANCY sidecar (predCols…, cell,
    * n) — bounded metadata rows aggregated from the just-written cells,
    * so a refresh costs O(batch) however large the at-rest corpus is.
    * Returns whether the sidecar was written. */
  private def writeCellsAndOcc(spark: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      cents: Array[(Long, Array[Float], Double)],
      cellPath: String, occPath: String,
      predCols: Seq[String]): Boolean = {
    // CLUSTERED BY CELL: serving pushes the probed cells into the scan
    // as an In filter ([[probedCells]]), so row-group min/max stats on a
    // cell-clustered dir skip everything outside the probed cells — at
    // 100 TB the scan reads the probed slice, not the corpus
    graft.sources.Layout.writeClustered(
      assignCells(docs, cents, predCols), cellPath, Seq("cell"), nFiles = 4)
    val covered = predCols.forall(docs.columns.contains)
    if (covered) writeOccFromCells(spark, cellPath, occPath, predCols)
    covered
  }

  /** The DISTINCT probed cells of a probe frame — bounded by the
    * quantizer size K (index metadata), collected (|Q|·nProbe rows, made
    * distinct on the driver: no shuffle) so every cells/codes parquet
    * read takes `cell IN (…)` PUSHED to the scan: on the
    * cell-clustered dirs [[writeCellsAndOcc]] writes, row-group stats
    * prune the read to the probed cells. The probes JOIN still does the
    * per-query pairing; the pushed filter is what keeps a 100 TB index
    * from being fully scanned per query batch. Every probe of the index
    * at rest takes it: [[semanticTopK]], [[semanticTopKAdc]],
    * [[semanticTopKFilteredOn]], [[semanticTopKFilteredAdc]] and
    * [[ingestSemanticNearDup]]. */
  private def probedCells(probes: DataFrame): Seq[Long] =
    probes.select("cell").collect().map(_.getLong(0)).distinct.toSeq

  /** Bring the persisted EMBEDDING index (coarse quantizer + per-batch
    * cell assignments) up to date with the committed corpus — the
    * embedding twin of [[refreshSignatureIndex]], and the maintenance
    * pass behind [[ingestSemanticNearDup]]. Two regimes:
    *
    *  - **Assign** (steady state): batches committed since the last
    *    refresh get their cells computed against the quantizer AT REST
    *    (one map pass per batch — the corpus is never re-assigned), each
    *    written to a fresh `embcells/<docTag>__<qTag>` dir, made live by
    *    one manifest merge.
    *  - **Retrain** (when the corpus has grown past `retrainFactor` ×
    *    the count the current quantizer was trained on, or no quantizer
    *    exists yet): a new quantizer trains on the committed corpus
    *    ([[graft.operators.Similarity.trainCentroids]] — bounded sample,
    *    flat cost in corpus size, self-scaling cell count), EVERY live
    *    batch is re-assigned against it into new generation-suffixed
    *    dirs, and one merge swaps quantizer + all cells atomically.
    *    Readers never see a torn index: old dirs stay live until the
    *    swap and are reaped by the next recovery sweep.
    *
    * Concurrency mirrors the signature refresh: an `embidx_refresh`
    * lease serializes refreshers (per-batch heartbeat with the
    * anti-usurpation fence; abort unpublished if the lease was reaped
    * mid-refresh), and the publish is a [[graft.sources.Manifest
    * .publishMerge]] that re-derives against the winner's live set.
    *
    * `predicateCols` DECLARES the occupancy key for metadata-filtered
    * serving ([[semanticTopKFilteredOn]]): sidecars aggregate (predCols…,
    * cell, n). The declaration is persisted (`embocc_cols` meta) on the
    * retrain/first-index publish; later assign-only refreshes follow the
    * PERSISTED declaration (a different param is ignored until the next
    * retrain, so one index never mixes sidecar schemas). Existing states
    * without the meta key keep the historical single-`label` key.
    *
    * @return number of batch dirs (re)assigned */
  def refreshEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, mutexWaitMs: Long = 60 * 1000L,
      retrainFactor: Double = 2.0,
      predicateCols: Seq[String] = Seq("label")): Long = {
    import graft.sources.Manifest
    val ttlMs = 5 * 60 * 1000L
    var lease = acquireRefreshMutex(spark, stateDir, mutexWaitMs, "embidx_refresh")
    def docsOf(live: Seq[String]): Set[String] =
      live.collect { case d if d.startsWith("documents/") => d.stripPrefix("documents/") }.toSet
    try {
      Manifest.cleanStale(spark, stateDir, Seq("embcells", "embocc", "quantizer"))
      val snap = Manifest.snapshot(spark, stateDir)
      val docTags = docsOf(snap.live)
      if (docTags.isEmpty) return 0L
      val live = liveGen(snap)
      val trainedN = snap.meta.get("emb_quantizer_n").map(_.toLong)
      val corpus = spark.read
        .parquet(docTags.toSeq.sorted.map(t => s"$stateDir/documents/$t"): _*)
      val n = corpus.count()
      val retrain = live.isEmpty ||
        trainedN.forall(q => n.toDouble >= retrainFactor * q)
      // a retrain assigns every batch into a new generation; otherwise
      // batches join the live one, and assign-only refreshes follow the
      // PERSISTED declaration — a caller passing a different
      // predicateCols set cannot mix sidecar schemas inside one index
      // generation
      val gen = if (retrain) IndexGen(
        s"quantizer/q${snap.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}", Nil)
        else live.get
      val declared = if (retrain) predicateCols else declaredPredCols(snap.meta)
      val celled = gen.docTags("embcells")
      val missing = (docTags -- celled).toSeq.sorted
      // a cells dir that predates occupancy sidecars (or whose sidecar
      // was lost) would otherwise never be backfilled, permanently
      // refusing filtered serving on a fully-covered corpus — treat
      // covered cell dirs lacking an occ twin as work too, aggregating
      // the sidecar from the existing cells (no re-assignment)
      val occMissing = (celled -- gen.docTags("embocc") -- missing).toSeq.sorted.filter { t =>
        val cols = spark.read.parquet(s"$stateDir/${gen.dir("embcells", t)}").columns
        declared.forall(cols.contains)
      }
      if (missing.isEmpty && occMissing.isEmpty && !snap.live.exists(gen.dead(docTags)))
        return 0L
      val cents =
        if (retrain) {
          val trained = Similarity.trainAtAutoCellCount(
            corpus.select(col("doc_id").as("vec_id"), col("embedding")), 0, 2,
            nPre = Some(n)) // `n` already counted for the retrain decision
          import spark.implicits._
          trained.toSeq.map { case (cid, vec, _) => (cid, vec.toSeq) }
            .toDF("cid", "embedding").coalesce(1).write.parquet(s"$stateDir/${gen.qTag}")
          trained
        } else readQuantizer(spark, stateDir, gen.qTag)
      val occd = missing.filter { t =>
        lease = Manifest.renewLease(spark, stateDir, lease, ttlMs)
        writeCellsAndOcc(spark, spark.read.parquet(s"$stateDir/documents/$t"), cents,
          s"$stateDir/${gen.dir("embcells", t)}", s"$stateDir/${gen.dir("embocc", t)}",
          declared)
      }.toSet
      occMissing.foreach { t =>
        lease = Manifest.renewLease(spark, stateDir, lease, ttlMs)
        writeOccFromCells(spark, s"$stateDir/${gen.dir("embcells", t)}",
          s"$stateDir/${gen.dir("embocc", t)}", declared)
      }
      if (!Manifest.holdsLease(spark, stateDir, lease))
        throw new java.io.IOException(
          s"embidx_refresh lease at $stateDir was reaped mid-refresh; " +
            "aborting without publishing")
      Manifest.publishMerge(spark, stateDir) { cur =>
        // a retrain swaps the whole embedding index to the new
        // generation; cells exist only for the doc tags assigned above —
        // a batch a concurrent ingest committed meanwhile is picked up by
        // the next refresh (same eventual shape as the signature index)
        val curDocs = docsOf(cur.live)
        val keep = cur.live.filterNot(e =>
          gen.dead(curDocs)(e) || (retrain && e.startsWith("quantizer/")))
        val adds = (if (retrain) Seq(gen.qTag) else Nil) ++
          missing.filter(curDocs).flatMap(t =>
            gen.dir("embcells", t) +: (if (occd(t)) Seq(gen.dir("embocc", t)) else Nil)) ++
          occMissing.filter(curDocs).map(gen.dir("embocc", _))
        ((keep ++ adds).distinct,
          if (retrain) cur.meta + ("emb_quantizer_n" -> n.toString) +
            ("embocc_cols" -> predicateCols.mkString(","))
          else cur.meta)
      }
      missing.size.toLong + occMissing.size.toLong
    } finally {
      if (Manifest.holdsLease(spark, stateDir, lease))
        Manifest.releaseLease(spark, stateDir, lease)
    }
  }

  /** The committed embedding index AT REST, pinned to ONE manifest
    * snapshot: the live quantizer (bounded metadata, collected as
    * literals) and its generation's cell assignments as one DataFrame
    * (doc_id, cell, embedding, nrm). The read behind [[semanticTopK]]
    * and [[graft.streaming.Streaming.semanticNearMarksFromState]]; the
    * other index paths resolve the same generation through [[liveGen]]
    * on their own snapshot. Reading quantizer and cells from the same
    * snapshot is what makes a concurrent generation swap (quantizer
    * retrain) invisible mid-query: readers see either the old index
    * whole or the new one whole, never a torn mix. */
  private[graft] def embeddingIndexAtRest(
      spark: org.apache.spark.sql.SparkSession, stateDir: String)
    : (Array[(Long, Array[Float], Double)], DataFrame) = {
    val snap = graft.sources.Manifest.snapshot(spark, stateDir)
    val gen = withCells(indexGen(snap, stateDir), stateDir)
    (readQuantizer(spark, stateDir, gen.qTag),
      readIndex(spark, CellsSchema, stateDir, gen.cellDirs))
  }

  /** The query-probe frame (query_id, qe, q_nrm, cell) of the corpus
    * serving paths: each query over its `nProbe` nearest cells. */
  private def queryProbes(queries: DataFrame, cents: Array[(Long, Array[Float], Double)],
      nProbe: Int): DataFrame =
    queries.select(
      col("query_id"), col("embedding"),
      graft.functions.VectorFunctions.normExact(col("embedding")).as("nrm"))
      .select(
        col("query_id"), col("embedding").as("qe"), col("nrm").as("q_nrm"),
        explode(Similarity.probeCells(cents, col("embedding"), col("nrm"), nProbe))
          .as("cell"))

  /** Top-k SEMANTIC SEARCH against the committed corpus's embedding
    * index AT REST — the query path that makes the [[refreshEmbeddingIndex]]
    * state a serving surface, not just an admission gate: each query
    * vector probes its `nProbe` nearest cells of the persisted index
    * (quantizer + embcells dirs) and ranks candidates by exact cosine.
    * The IVF serving shape on manifest state: a query touches
    * nProbe/K of the corpus, the quantizer is bounded metadata, nothing
    * retrains or re-assigns at query time.
    *
    * @param queries (query_id, embedding) — typically a small batch;
    *                broadcast against the probed cells
    * @return (query_id, doc_id, cosine, rank), top `k` per query */
  def semanticTopK(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, stateDir: String,
      nProbe: Int = 2, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (cents, index) = embeddingIndexAtRest(spark, stateDir)
    val probes = queryProbes(queries, cents, nProbe)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id"))
    broadcast(probes)
      .join(index.filter(col("cell").isInCollection(probedCells(probes))), "cell")
      .withColumn("cosine",
        graft.functions.VectorFunctions.dotFold(col("embedding"), col("qe")) /
          (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        col("cosine"), col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Train PQ codebooks on the COMMITTED corpus and freeze them as index
    * metadata under `embpq/<tag>` — the [[graft.operators.VectorStore
    * .initPq]] move applied to the corpus's embedding index: codebooks
    * train once (sampled joint-subspace Lloyd,
    * [[graft.operators.Similarity.trainPqCodebooks]] — flat cost in
    * corpus size) and every later encode pass, whichever process runs
    * it, produces codes from the same entries. PLAIN PQ deliberately,
    * not residual: the corpus index's coarse quantizer SWAPS generations
    * on retrain ([[refreshEmbeddingIndex]]), and residual codes are
    * defined against a specific quantizer — plain codes survive a
    * generation swap unchanged (only the cell routing moves), so a
    * retrain re-assigns cells without invalidating the code arithmetic.
    *
    * `byResidual = true` trains the codebooks on RESIDUALS r = x −
    * centroid(cell(x)) against the LIVE quantizer generation
    * ([[graft.operators.Similarity.trainPqCodebooksResidual]] — the
    * FAISS `by_residual=true` move the persisted [[VectorStore]]
    * already offers): residuals cluster far tighter than raw vectors,
    * so the same 8-byte code budget reconstructs closer and ADC serving
    * recalls more. The flag persists as manifest metadata
    * (`embpq_residual`), so every encode/serve pass agrees. Residual
    * codes are defined against the CURRENT generation's centroids — a
    * quantizer retrain swaps the cell dirs to a new generation whose
    * codes twins are simply missing, and the next
    * [[encodeEmbeddingIndex]] cadence RE-ENCODES them against the new
    * centroids (the frozen residual codebooks stay the quantization
    * lattice; only the per-vector anchor moves). Requires a live index:
    * run [[refreshEmbeddingIndex]] first.
    *
    * OCC mirrors `initPq`: stage the codebook dir, publish via merge, a
    * REAL duplicate aborts (and removes the staged orphan); an unrelated
    * concurrent commit is retried by the merge. */
  def initEmbeddingCodebooks(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, nSub: Int = 8, codebookSize: Int = 16,
      iters: Int = 2, byResidual: Boolean = false): Unit = {
    import graft.sources.Manifest
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val snap0 = Manifest.snapshot(spark, stateDir)
    val docTags = snap0.live.filter(_.startsWith("documents/"))
    require(docTags.nonEmpty,
      s"no committed corpus at $stateDir — ingest before training codebooks")
    val corpus = spark.read
      .parquet(docTags.sorted.map(t => s"$stateDir/$t"): _*)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    // the deterministic Lloyd init is the first `codebookSize` ids —
    // fail descriptively instead of an index error inside the trainer
    val nInit = corpus.filter(col("vec_id") < codebookSize).count()
    require(nInit == codebookSize,
      s"codebook init needs doc_ids 0..${codebookSize - 1} committed " +
        s"(found $nInit of $codebookSize at $stateDir)")
    val (cb, cbSumsq) =
      if (byResidual) {
        val gen = liveGen(snap0).getOrElse(
          throw new java.io.IOException(
            s"residual codebooks need a live quantizer at $stateDir — " +
              "run refreshEmbeddingIndex first"))
        Similarity.trainPqCodebooksResidual(
          corpus, readQuantizer(spark, stateDir, gen.qTag), nSub, codebookSize, iters)
      } else Similarity.trainPqCodebooks(corpus, nSub, codebookSize, iters)
    val rows = for { j <- cb.indices; c <- cb(j).indices }
      yield (j, c, cb(j)(c).toSeq, cbSumsq(j)(c))
    val tag = s"embpq/p${snap0.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
    rows.toDF("j", "code", "sub", "sumsq")
      .coalesce(1).write.parquet(s"$stateDir/$tag")
    try Manifest.publishMerge(spark, stateDir) { cur =>
      require(!cur.live.exists(_.startsWith("embpq/")),
        s"corpus at $stateDir already has embedding codebooks")
      (cur.live :+ tag,
        cur.meta + (EmbResidualKey -> (if (byResidual) "1" else "0")))
    }
    catch {
      case e: Throwable =>
        new org.apache.hadoop.fs.Path(s"$stateDir/$tag")
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(s"$stateDir/$tag"), true)
        throw e
    }
  }

  /** Whether the committed embedding-index codebooks quantize residuals
    * ([[initEmbeddingCodebooks]]'s `byResidual`) — persisted metadata,
    * mirroring [[VectorStore]]'s `pq_residual`. */
  private val EmbResidualKey = "embpq_residual"

  private def embResidual(meta: Map[String, String]): Boolean =
    meta.get(EmbResidualKey).contains("1")

  /** The frozen embedding-index codebooks ([[initEmbeddingCodebooks]]):
    * (codebooks, decimal-exact |entry|² per entry) — bounded metadata,
    * grouped by subspace and sorted by code on the driver. */
  private def readEmbCodebooks(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, pqTag: String)
    : (Array[Array[Array[Float]]], Array[Array[Double]]) = {
    val rows = readIndex(spark, CodebookSchema, stateDir, Seq(pqTag)).collect()
    val bySub = rows.groupBy(_.getAs[Int]("j"))
    val cb = Array.tabulate(bySub.size)(j =>
      bySub(j).sortBy(_.getAs[Int]("code"))
        .map(_.getAs[scala.collection.Seq[Float]]("sub").toArray))
    val sumsq = Array.tabulate(bySub.size)(j =>
      bySub(j).sortBy(_.getAs[Int]("code")).map(_.getAs[Double]("sumsq")))
    (cb, sumsq)
  }

  /** (doc_id, cell, codes) for one embcells frame — a pure map against
    * the literal codebooks, the encode arithmetic shared by the at-rest
    * pass and [[semanticTopKAdc]]'s on-the-fly path. Residual indexes
    * encode r = x − centroid(cell) — the cell column is already
    * assigned, so the subtraction is one literal-map lookup, still a
    * pure map stage (the [[VectorStore]] encodeFrame shape). */
  private def encodeCellCodes(cells: DataFrame,
      cb: Array[Array[Array[Float]]], cbSumsq: Array[Array[Double]],
      residualCents: Option[Array[(Long, Array[Float], Double)]]): DataFrame = {
    val sub = cb.head.head.length
    val target = residualCents match {
      case Some(cents) =>
        val centMap = typedlit(cents.map { case (cid, v, _) => cid -> v.toSeq }.toMap)
        zip_with(col("embedding"), element_at(centMap, col("cell")), (a, b) => a - b)
      case None => col("embedding")
    }
    cells.select(col("doc_id"), col("cell"),
      array(cb.indices.map(j =>
        Similarity.pqCodeFor(j, sub, cb, cbSumsq, target)): _*).as("codes"))
  }

  /** `recon` + `recon_nrm` for a codes frame: the ordered concat of the
    * chosen codebook entries (plain PQ) or centroid + r̂ (residual) —
    * the shared ADC candidate shape ([[VectorStore]].withRecon). */
  private def withEmbRecon(codes: DataFrame,
      cb: Array[Array[Array[Float]]],
      residualCents: Option[Array[(Long, Array[Float], Double)]]): DataFrame = {
    val rhat = concat(cb.indices.map { j =>
      element_at(typedlit(cb(j)), element_at(col("codes"), j + 1) + 1)
    }: _*)
    val recon = residualCents match {
      case Some(cents) =>
        val centMap = typedlit(cents.map { case (cid, v, _) => cid -> v.toSeq }.toMap)
        zip_with(element_at(centMap, col("cell")), rhat, (a, b) => a + b)
      case None => rhat
    }
    codes
      .withColumn("recon", recon)
      .withColumn("recon_nrm", sqrt(
        graft.functions.VectorFunctions.dotExact(col("recon"), col("recon"))))
  }

  /** ENCODE-AT-REST pass for the corpus embedding index — the background
    * cadence that turns the raw-float `embcells` dirs into PQ CODES
    * twins (`embcodes/<docTag>__<qTag>`, generation-suffixed like the
    * cells they encode), so [[semanticTopKAdc]] serves the encoded
    * majority from 8-int codes instead of 64-float vectors — at 100 TB
    * the memory bill the PQ family exists to cut. Each pass encodes only
    * live cells dirs LACKING a codes twin (O(new data), the
    * [[graft.operators.VectorStore.encodeFresh]] cadence); a quantizer
    * retrain swaps cell dirs to a new generation whose codes twins are
    * simply missing until the next pass (the frozen PLAIN-PQ codebooks
    * stay valid across the swap — see [[initEmbeddingCodebooks]]).
    *
    * Concurrency: runs under the same `embidx_refresh` mutex as
    * [[refreshEmbeddingIndex]] (so encode and refresh serialize), and
    * publishes via OCC merge — a concurrent ingest's commit survives
    * (its batch just stays un-encoded and is served from the hot path);
    * codes twins whose cells died are pruned at publish.
    *
    * @param beforePublish test seam, called between staging and publish
    * @return number of cells dirs encoded this pass */
  def encodeEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, mutexWaitMs: Long = 60 * 1000L,
      beforePublish: () => Unit = () => ()): Long = {
    import graft.sources.Manifest
    graft.functions.GraftFunctions.register(spark)
    val ttlMs = 5 * 60 * 1000L
    var lease = acquireRefreshMutex(spark, stateDir, mutexWaitMs, "embidx_refresh")
    try {
      Manifest.cleanStale(spark, stateDir, Seq("embcodes"))
      val snap = Manifest.snapshot(spark, stateDir)
      val gen = indexGen(snap, stateDir)
      val pqTag = codebookTag(snap, stateDir)
      val missing =
        gen.cellDirs.filterNot(c => snap.live.contains(twin(c, "embcodes"))).sorted
      val orphaned = snap.live.exists(e => e.startsWith("embcodes/") &&
        !gen.cellDirs.contains(twin(e, "embcells")))
      if (missing.isEmpty && !orphaned) return 0L
      val (cb, cbSumsq) = readEmbCodebooks(spark, stateDir, pqTag)
      val residCents =
        if (embResidual(snap.meta)) Some(readQuantizer(spark, stateDir, gen.qTag))
        else None
      missing.foreach { c =>
        lease = Manifest.renewLease(spark, stateDir, lease, ttlMs)
        // clustered by cell like the cells dirs — the ADC serve path's
        // probed-cells In filter row-group-prunes the codes scan too
        graft.sources.Layout.writeClustered(
          encodeCellCodes(spark.read.parquet(s"$stateDir/$c"), cb, cbSumsq,
            residCents),
          s"$stateDir/${twin(c, "embcodes")}", Seq("cell"), nFiles = 4)
      }
      if (!Manifest.holdsLease(spark, stateDir, lease))
        throw new java.io.IOException(
          s"embidx_refresh lease at $stateDir was reaped mid-encode; " +
            "aborting without publishing")
      beforePublish()
      Manifest.publishMerge(spark, stateDir) { cur =>
        // prune codes whose cells died (old generation / deleted docs);
        // add codes only for cells still live in the winner's snapshot
        val curCells = cur.live.filter(_.startsWith("embcells/")).toSet
        val keep = cur.live.filterNot(e => e.startsWith("embcodes/") &&
          !curCells.contains(twin(e, "embcells")))
        val adds = missing.filter(curCells.contains).map(twin(_, "embcodes"))
        ((keep ++ adds).distinct, cur.meta)
      }
      missing.size.toLong
    } finally {
      if (Manifest.holdsLease(spark, stateDir, lease))
        Manifest.releaseLease(spark, stateDir, lease)
    }
  }

  /** The committed corpus's PQ codes, cold/hot split: encoded cells
    * dirs serve from their `embcodes` twin (8-int codes — the raw
    * floats never load), cells ingested since the last encode pass
    * encode on the fly. The shared candidate source behind
    * [[semanticTopKAdc]] and [[semanticTopKFilteredAdc]], whose
    * shortlists both end in [[adcRerank]]. */
  private def atRestCodes(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, gen: IndexGen,
      cb: Array[Array[Array[Float]]], cbSumsq: Array[Array[Double]],
      residCents: Option[Array[(Long, Array[Float], Double)]]): DataFrame = {
    val (cold, hot) = gen.cellDirs.partition(c => gen.live.contains(twin(c, "embcodes")))
    val coldCodes =
      if (cold.nonEmpty)
        Some(readIndex(spark, CodesSchema, stateDir, cold.map(twin(_, "embcodes"))))
      else None
    val hotCodes =
      if (hot.nonEmpty)
        Some(encodeCellCodes(readIndex(spark, CellsSchema, stateDir, hot), cb, cbSumsq,
          residCents))
      else None
    (coldCodes, hotCodes) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalStateException("unreachable")
    }
  }

  /** ADC top-k SEMANTIC SEARCH against the corpus embedding index AT
    * REST — [[semanticTopK]]'s serving shape with the candidate scan
    * moved onto the PQ codes ([[encodeEmbeddingIndex]]'s output): probed
    * candidates are scored against their PQ RECONSTRUCTION (decimal-
    * exact ADC cosine, the [[graft.operators.VectorStore.queryAdc]]
    * arithmetic), the per-query top `rerank` survivors are re-ranked by
    * the EXACT ordered-fold cosine on their raw vectors, and the final
    * top `k` ships. Encoded cells dirs are served from their codes twin
    * — the raw 64-float embeddings never load for candidate scoring;
    * cells ingested since the last encode pass encode on the fly (the
    * hot/cold split every production IVF+PQ store runs).
    *
    * The exact re-rank reads raw vectors for ONLY the shortlist: the
    * |Q|·rerank doc_ids (bounded serving metadata — the collect is the
    * boundary-table class) push into the parquet scan as an In filter,
    * so on a [[graft.sources.Layout]]-clustered store row-group stats
    * skip everything outside the shortlist's key ranges.
    *
    * @param queries (query_id, embedding) — a small batch, broadcast
    * @return (query_id, doc_id, adc_cosine, cosine, rank), top `k` per
    *         query by exact cosine */
  def semanticTopKAdc(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, stateDir: String,
      nProbe: Int = 2, k: Int = 10, rerank: Int = 32): DataFrame = {
    import graft.sources.Manifest
    graft.functions.GraftFunctions.register(spark)
    val snap = Manifest.snapshot(spark, stateDir)
    val gen = indexGen(snap, stateDir)
    val pqTag = codebookTag(snap, stateDir)
    withCells(gen, stateDir) // a state lacking codebooks and cells names the codebooks
    val cents = readQuantizer(spark, stateDir, gen.qTag)
    val (cb, cbSumsq) = readEmbCodebooks(spark, stateDir, pqTag)
    val residCents = if (embResidual(snap.meta)) Some(cents) else None
    val codes = atRestCodes(spark, stateDir, gen, cb, cbSumsq, residCents)
    val probes = queryProbes(queries, cents, nProbe)
    // probed-cells pushdown BEFORE the reconstruction map: fewer rows
    // reconstructed AND the clustered codes scan row-group-prunes
    val cand = withEmbRecon(
      codes.filter(col("cell").isInCollection(probedCells(probes))),
      cb, residCents)
      .select("cell", "doc_id", "recon", "recon_nrm")
    adcRerank(spark, stateDir, gen, broadcast(probes).join(cand, "cell"),
      Seq(col("query_id"), col("doc_id")), rerank, k)
  }

  /** The ADC serving tail shared by [[semanticTopKAdc]] and
    * [[semanticTopKFilteredAdc]]: over the probed (query, candidate)
    * `pairs` (qe, q_nrm, recon, recon_nrm, `keys`…), the decimal-exact
    * ADC cosine keeps each query's top `rerank` as a materialized
    * shortlist; its |Q|·rerank doc_ids (bounded serving metadata — the
    * collect is the boundary-table class) push into the raw read of
    * `gen`'s cells as an In filter, and the exact ordered-fold cosine
    * re-ranks them to the top `k`: (keys…, adc_cosine, cosine, rank). */
  private def adcRerank(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      gen: IndexGen, pairs: DataFrame, keys: Seq[Column], rerank: Int, k: Int): DataFrame = {
    val aw = Window.partitionBy("query_id")
      .orderBy(col("adc_cosine").desc, col("doc_id"))
    val short = Materialize(pairs
      .withColumn("adc_cosine",
        graft.functions.VectorFunctions.dotExact(col("recon"), col("qe")) /
          (col("recon_nrm") * col("q_nrm")))
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") <= rerank)
      .select(keys ++ Seq(col("qe"), col("q_nrm"), col("adc_cosine")): _*))
    val ids = short.select("doc_id").collect().map(_.getLong(0)).distinct.toSeq
    val raw = readIndex(spark, CellsSchema, stateDir, gen.cellDirs)
      .filter(col("doc_id").isInCollection(ids))
      .select("doc_id", "embedding", "nrm")
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id"))
    broadcast(short).join(raw, "doc_id")
      .withColumn("cosine",
        graft.functions.VectorFunctions.dotFold(col("embedding"), col("qe")) /
          (col("nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(keys ++ Seq(col("adc_cosine"), col("cosine"),
        col("rank").cast("int").as("rank")): _*)
      .orderBy("query_id", "rank")
  }

  /** METADATA-FILTERED top-k semantic search on the corpus embedding
    * index AT REST, with a PER-QUERY ADAPTIVE probe budget from the
    * PERSISTED occupancy table — the ephemeral filtered probe
    * ([[graft.operators.Similarity.filteredIvfTopK]]) and adaptive
    * budget ([[graft.operators.Similarity.adaptiveProbeBudget]])
    * composed onto manifest state: [[refreshEmbeddingIndex]] persists a
    * (label, cell, n) occupancy sidecar per labeled batch (`embocc/…`,
    * K·|labels| metadata rows each, generation-suffixed with its
    * cells), and at query time the merged occupancy — bounded index
    * metadata, collected as literals — prices each query's ranked
    * cells: the probe budget is the smallest prefix whose covered
    * label mass clears `targetPct` percent (exact integer comparison;
    * all K cells when none does). Candidates apply `label ===
    * targetLabel` BEFORE any distance arithmetic (predicate-first — the
    * scan is the filtered slice of the probed cells), then the exact
    * ordered-fold cosine ranks the top `k`.
    *
    * At `targetPct = 100` the budget covers EVERY cell holding the
    * label, so the result EQUALS the exact filtered search over the
    * committed corpus (spec-pinned) — no post-filter recall loss.
    *
    * @return (query_id, chosen_nprobe, doc_id, label, cosine, rank) */
  def semanticTopKFiltered(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, stateDir: String, targetLabel: Int = 0,
      k: Int = 10, targetPct: Int = 90): DataFrame =
    semanticTopKFilteredOn(spark, queries, stateDir,
      Map("label" -> targetLabel), k, targetPct)

  /** The filtered index at rest, validated: quantizer + current-
    * generation cell dirs + full occupancy coverage + the predicate
    * columns checked against the DECLARED set ([[declaredPredCols]]) —
    * shared by the raw and ADC filtered serving paths. Refuses loudly
    * on every missing piece (an undeclared predicate column would
    * silently budget over a sidecar that never counted it). */
  private case class FilteredIndex(
      snap: graft.sources.Manifest.Snapshot, gen: IndexGen, occDirs: Seq[String],
      cents: Array[(Long, Array[Float], Double)], predCols: Seq[String],
      predFilter: Column)

  private def filteredIndexAtRest(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, predicates: Map[String, Int]): FilteredIndex = {
    val snap = graft.sources.Manifest.snapshot(spark, stateDir)
    val gen = withCells(indexGen(snap, stateDir), stateDir)
    val occDirs = gen.dirs("embocc")
    if (occDirs.isEmpty)
      throw new java.io.IOException(
        s"no occupancy table at $stateDir — ingest labeled documents and " +
          "refreshEmbeddingIndex first")
    // a partially-labeled corpus has cells with no label column at all —
    // the predicate would silently misread them; refuse instead
    if (occDirs.size != gen.cellDirs.size)
      throw new java.io.IOException(
        s"only ${occDirs.size} of ${gen.cellDirs.size} batches at $stateDir carry " +
          "labels — filtered serving needs every ingested batch labeled")
    val declared = declaredPredCols(snap.meta)
    val undeclared = predicates.keySet -- declared.toSet
    if (undeclared.nonEmpty)
      throw new java.io.IOException(
        s"predicate column(s) ${undeclared.toSeq.sorted.mkString(", ")} are not " +
          s"declared on the index at $stateDir (declared: " +
          s"${declared.mkString(", ")}) — re-declare via refreshEmbeddingIndex's " +
          "predicateCols at the next retrain")
    require(predicates.nonEmpty, "filtered serving needs at least one predicate")
    val predCols = declared.filter(predicates.contains)
    FilteredIndex(snap, gen, occDirs, readQuantizer(spark, stateDir, gen.qTag), predCols,
      predCols.map(c => col(c) === lit(predicates(c))).reduce(_ && _))
  }

  /** The occupancy-budgeted probe frame (query_id, chosen_nprobe, qe,
    * q_nrm, cell): merged predicate-sliced occupancy — bounded index
    * metadata, collected as literals — prices each query's ranked
    * cells, and the budget is the smallest prefix whose covered mass
    * clears `targetPct` percent (exact integer comparison; all K cells
    * when none does). Shared by both filtered serving paths. */
  private def budgetedProbes(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, idx: FilteredIndex, queries: DataFrame,
      targetPct: Int): DataFrame = {
    // merged predicate-slice occupancy: ≤K rows of index metadata
    val occRows = graft.sources.Tables.parquet(spark, idx.occDirs.map(d => s"$stateDir/$d"): _*)
      .filter(idx.predFilter)
      .groupBy("cell").agg(sum("n").as("o"))
      .collect().map(r => (r.getAs[Long]("cell"), r.getAs[Long]("o")))
    val nMatch = occRows.map(_._2).sum
    val occL = typedlit(occRows.toMap)
    val featQ = queries.select(
      col("query_id"), col("embedding"),
      graft.functions.VectorFunctions.normExact(col("embedding")).as("nrm"))
    val ranked = featQ.select(
      col("query_id"), col("embedding").as("qe"), col("nrm").as("q_nrm"),
      posexplode(Similarity.rankedCells(idx.cents)).as(Seq("p0", "cell")))
      .withColumn("p", (col("p0") + 1).cast("int"))
    val cw = Window.partitionBy("query_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ranked.withColumn("cum_o",
      sum(coalesce(element_at(occL, col("cell")), lit(0L))).over(cw))
    val chosen = cum.groupBy("query_id").agg(
      coalesce(
        min(when(lit(100L) * col("cum_o") >=
          lit(targetPct.toLong) * lit(nMatch), col("p"))),
        lit(idx.cents.length)).cast("int").as("chosen_nprobe"))
    cum.join(chosen, "query_id")
      .filter(col("p") <= col("chosen_nprobe"))
      .select("query_id", "chosen_nprobe", "qe", "q_nrm", "cell")
  }

  /** [[semanticTopKFiltered]] generalized to a CONJUNCTION of declared
    * predicate columns — real corpora filter on (lang, source, license)
    * tuples, not one int. `predicates` maps declared column names
    * ([[refreshEmbeddingIndex]]'s `predicateCols`) to required values;
    * a subset of the declared columns is fine (the occupancy sidecar
    * sums over the unconstrained ones — exact, since the sidecar is
    * keyed by the full declared tuple), an UNDECLARED column refuses
    * loudly. Budget math and serving shape are [[semanticTopKFiltered]]
    * verbatim; the output carries the queried predicate columns in
    * declared order.
    *
    * @return (query_id, chosen_nprobe, doc_id, predCols…, cosine, rank) */
  def semanticTopKFilteredOn(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, stateDir: String, predicates: Map[String, Int],
      k: Int = 10, targetPct: Int = 90): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val idx = filteredIndexAtRest(spark, stateDir, predicates)
    val probes = budgetedProbes(spark, stateDir, idx, queries, targetPct)
    val index = graft.sources.Tables.parquet(spark, idx.gen.cellDirs.map(d => s"$stateDir/$d"): _*)
      .filter(col("cell").isInCollection(probedCells(probes)))
    val cand = index.filter(idx.predFilter)
      .select(Seq(col("cell"), col("doc_id")) ++ idx.predCols.map(col) ++
        Seq(col("embedding").as("ce"), col("nrm").as("c_nrm")): _*)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id"))
    broadcast(probes).join(cand, "cell")
      .withColumn("cosine",
        graft.functions.VectorFunctions.dotFold(col("ce"), col("qe")) /
          (col("c_nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("query_id"), col("chosen_nprobe"), col("doc_id")) ++
        idx.predCols.map(col) ++
        Seq(col("cosine"), col("rank").cast("int").as("rank")): _*)
      .orderBy("query_id", "rank")
  }

  /** FILTERED + ENCODED serving in ONE path — the production query at
    * 100 TB is both predicate-filtered AND code-served, and neither
    * [[semanticTopKFilteredOn]] (raw floats) nor [[semanticTopKAdc]]
    * (unfiltered) alone is that query. Composition: the occupancy-
    * budgeted probe prices each query's cells on the predicate slice
    * ([[budgetedProbes]]), candidates inside the budgeted cells come
    * from the PQ CODES ([[atRestCodes]] — encoded dirs from their
    * `embcodes` twin, fresh dirs encoded on the fly), the predicate
    * applies through a COLUMN-PRUNED (cell, doc_id, predCols…) read of
    * the cells dirs joined on (cell, doc_id) — the 64-float embedding
    * column is never read for candidate scoring — ADC ranks the per-
    * query top `rerank` survivors, and ONLY that |Q|·rerank shortlist
    * loads raw vectors (In-pushed parquet read) for the exact re-rank.
    *
    * At `targetPct = 100` with `rerank` ≥ the candidate count, the
    * result EQUALS [[semanticTopKFilteredOn]]'s exact filtered search
    * (spec-pinned): the budget covers every cell holding the predicate
    * slice and the exact re-rank sees every candidate.
    *
    * @return (query_id, chosen_nprobe, doc_id, predCols…, adc_cosine,
    *         cosine, rank) */
  def semanticTopKFilteredAdc(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, stateDir: String,
      predicates: Map[String, Int] = Map("label" -> 0),
      k: Int = 10, targetPct: Int = 90, rerank: Int = 32): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val idx = filteredIndexAtRest(spark, stateDir, predicates)
    val (cb, cbSumsq) = readEmbCodebooks(spark, stateDir, codebookTag(idx.snap, stateDir))
    val residCents = if (embResidual(idx.snap.meta)) Some(idx.cents) else None
    val probes = budgetedProbes(spark, stateDir, idx, queries, targetPct)
    val cells = probedCells(probes)
    val codes = atRestCodes(spark, stateDir, idx.gen, cb, cbSumsq, residCents)
    // probed-cells pushdown before the reconstruction map (see
    // semanticTopKAdc) — row-group pruning on the clustered codes dirs
    val cand = withEmbRecon(
      codes.filter(col("cell").isInCollection(cells)), cb, residCents)
      .select("cell", "doc_id", "recon", "recon_nrm")
    // predicate metadata: a column-pruned slice of the cells dirs —
    // ints only, the embedding floats stay unread
    val metaSlice = graft.sources.Tables
      .parquet(spark, idx.gen.cellDirs.map(d => s"$stateDir/$d"): _*)
      .filter(col("cell").isInCollection(cells))
      .filter(idx.predFilter)
      .select(Seq(col("cell"), col("doc_id")) ++ idx.predCols.map(col): _*)
    adcRerank(spark, stateDir, idx.gen,
      broadcast(probes).join(cand, "cell").join(metaSlice, Seq("cell", "doc_id")),
      Seq(col("query_id"), col("chosen_nprobe"), col("doc_id")) ++ idx.predCols.map(col),
      rerank, k)
  }

  /** Incremental ingest with a SEMANTIC (embedding) near-dup admission
    * gate in front of [[ingestIncremental]]'s exact-fingerprint
    * transaction — the embedding twin of [[ingestNearDup]], and the
    * stateful production form of [[graft.operators.Dedup
    * .embeddingIncremental]] (the equivalence is spec-pinned): batch
    * docs whose best cosine match against the PERSISTED embedding index
    * reaches `threshold` are rejected before staging. The batch probes
    * its `nProbe` nearest cells of the index at rest asymmetrically —
    * candidate volume |batch|·nProbe·cell-size, the corpus is never
    * re-assigned, and quantizer retraining happens only on the
    * [[refreshEmbeddingIndex]] growth trigger (bounded-sample Lloyd).
    * That is the shape a daily-ingest 100 TB corpus needs: per-day cost
    * scales with the day's batch, not the corpus.
    *
    * Like the MinHash gate, the semantic verdict is ADVISORY at race
    * boundaries (two concurrent ingests can each admit the other's
    * near-twin — the eventual consistency every production near-dup
    * store accepts; spec-pinned); EXACT duplicates stay transactional
    * through the fingerprint CAS. Batch docs must carry an `embedding`
    * column alongside doc_id/text; it persists with the documents, so
    * the trailing refresh indexes what just committed.
    *
    * @return number of newly admitted documents */
  def ingestSemanticNearDup(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, stateDir: String, threshold: Double = 0.3,
      nProbe: Int = 2, maxLiveBatches: Int = 64,
      beforePublish: () => Unit = () => ()): Long = {
    import graft.sources.Manifest
    graft.functions.GraftFunctions.register(spark)
    refreshEmbeddingIndex(spark, stateDir)
    val snap = Manifest.snapshot(spark, stateDir)
    val keep = liveGen(snap).filter(_.cellDirs.nonEmpty) match {
      case None => batch // empty corpus: nothing to probe
      case Some(gen) =>
        val cents = readQuantizer(spark, stateDir, gen.qTag)
        val index = readIndex(spark, CellsSchema, stateDir, gen.cellDirs)
        val featB = batch.select(
          col("doc_id"), col("embedding"),
          graft.functions.VectorFunctions.normExact(col("embedding")).as("nrm"))
        val probes = featB.select(
          col("doc_id").as("new_doc"), col("embedding").as("be"),
          col("nrm").as("b_nrm"),
          explode(Similarity.probeCells(cents, col("embedding"), col("nrm"), nProbe))
            .as("cell"))
        val rejects = broadcast(probes)
          .join(index.filter(col("cell").isInCollection(probedCells(probes))),
            "cell")
          .filter(
            graft.functions.VectorFunctions.dotFold(col("embedding"), col("be")) /
              (col("nrm") * col("b_nrm")) >= threshold)
          .select(col("new_doc").as("doc_id")).distinct()
        batch.join(rejects, Seq("doc_id"), "left_anti")
    }
    val n = ingestIncremental(spark, keep, stateDir, maxLiveBatches,
      beforePublish = beforePublish)
    refreshEmbeddingIndex(spark, stateDir) // index what just committed
    n
  }

  /** TARGETED DELETION (right-to-be-forgotten / takedown): remove the
    * given doc_ids from the committed corpus, rewriting ONLY the batches
    * that actually contain a target and purging the deleted documents'
    * text fingerprints so the same content can be legitimately
    * re-admitted later. The Delta/Iceberg `DELETE WHERE` shape on the
    * manifest store.
    *
    * Scale shape: touch detection is one COLUMN-PRUNED scan of `doc_id`
    * with the target list pushed into the parquet reader as an In filter
    * — on a [[compactCorpus]]-clustered corpus, row-group min/max stats
    * skip everything outside the targets' key ranges, so the scan reads
    * metadata for most of a 100 TB corpus. Untouched batch dirs are NOT
    * rewritten, not even re-listed into new files: their live entries
    * carry over byte-identical. The touched batches rewrite through
    * [[graft.sources.Layout.writeClustered]] (clustering invariant
    * preserved); deletion volume, not corpus volume, drives the cost.
    *
    * Concurrency: the rewrite is pinned to the snapshot it read — the
    * publish is a [[graft.sources.Manifest]] CAS, and ANY concurrent
    * commit (ingest, compaction, another delete) fails it, discards the
    * staged dirs, and re-derives from the winner's snapshot (deletes are
    * rare; full re-derivation is the simplest interleaving-proof answer —
    * in particular a racing [[compactCorpus]] that folded a touched batch
    * can never leave deleted rows resurrected or surviving rows
    * duplicated). A [[graft.sources.Manifest.Lease]] held across
    * staging+publish keeps a concurrent writer's recovery sweep off the
    * staged dirs.
    *
    * Physical erasure: this PUBLISH removes the targets from every read
    * via [[documents]]; the superseded batch dirs become unreferenced and
    * are deleted by the next recovery sweep ([[graft.sources.Manifest
    * .cleanStale]] — e.g. the next ingest), at which point pre-delete
    * [[documentsAt]] versions stop resolving. That is the standard
    * right-to-be-forgotten vs time-travel tradeoff, decided here in favor
    * of erasure.
    *
    * @param beforePublish test seam, called between staging and each
    *                      publish attempt
    * @return number of documents actually deleted */
  def deleteDocs(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, docIds: Seq[Long], nFiles: Int = 4,
      beforePublish: () => Unit = () => ()): Long = {
    import graft.sources.{Layout, Manifest}
    if (docIds.isEmpty) return 0L
    val f = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = Manifest.acquireLease(spark, stateDir,
      s"delete_${java.util.UUID.randomUUID().toString.take(12)}")
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
        val docDirs = snap.live.filter(_.startsWith("documents/"))
        if (docDirs.isEmpty) return 0L
        // touch detection: doc_id-only scan, In-filter pushed to parquet
        val hitFiles = spark.read.parquet(docDirs.map(d => s"$stateDir/$d"): _*)
          .filter(col("doc_id").isInCollection(docIds))
          .select(input_file_name().as("fname"))
          .distinct().collect().map(_.getString(0))
        val touchedDocs = docDirs.filter(d => hitFiles.exists(_.contains(s"/$d/")))
        if (touchedDocs.isEmpty) return 0L // nothing to delete, publish nothing
        val touched = spark.read
          .parquet(touchedDocs.map(d => s"$stateDir/$d"): _*)
          .localCheckpoint() // one read serves survivors, deleted, and counts
        // release the checkpointed blocks on every exit from this attempt —
        // without it, 16 CAS-race retries pin 16 copies of the touched
        // batches in block storage for the life of the session
        def releaseTouched(): Unit = releaseLocalCheckpoint(touched)
        try {
          val deleted = touched.filter(col("doc_id").isInCollection(docIds))
          val survivors = touched.filter(!col("doc_id").isInCollection(docIds))
          // Fingerprint batches shrink by the deleted docs' fingerprints so
          // the same content can be legitimately re-admitted. INVARIANT: the
          // store holds at most one live doc per fingerprint ([[ingestLeased]]
          // admits only the min-doc_id representative per fingerprint and
          // anti-joins the persisted set), so a deleted doc's fingerprint
          // cannot be load-bearing for any other doc. Guarded anyway: a
          // fingerprint still carried by a surviving doc in the touched
          // batches is NOT purged (anti-join below, bounded by touched-batch
          // volume) — purging it would re-open ingest to a duplicate of
          // content that is still live.
          val delFps = deleted
            .select(graft.functions.TextFunctions.fingerprint(col("text"))
              .as("fingerprint")).distinct()
            .join(
              survivors.select(graft.functions.TextFunctions.fingerprint(col("text"))
                .as("fingerprint")).distinct(),
              Seq("fingerprint"), "left_anti")
          val fpDirs = snap.live.filter(_.startsWith("fingerprints/"))
          val touchedFps =
            if (fpDirs.isEmpty) Nil
            else {
              val hitFp = spark.read.parquet(fpDirs.map(d => s"$stateDir/$d"): _*)
                .join(broadcast(delFps), Seq("fingerprint"), "left_semi")
                .select(input_file_name().as("fname"))
                .distinct().collect().map(_.getString(0))
              fpDirs.filter(d => hitFp.exists(_.contains(s"/$d/")))
            }
          val nDeleted = deleted.count()
          val tag = s"d${snap.alloc + 1}_${java.util.UUID.randomUUID().toString.take(8)}"
          // EMBEDDING-INDEX PURGE IN THE SAME PUBLISH: a touched batch's
          // cells/codes/occupancy dirs still carry the deleted docs'
          // vectors — left live, semanticTopK/Adc/Filtered and the
          // streaming gate would serve a taken-down doc until the next
          // refresh heals the orphans. Mirror [[VectorStore
          // .deleteVectors]]: drop every index dir keyed by a touched
          // docTag (any generation) here, and re-index the survivor
          // batch below once it's written, so takedown is atomic on the
          // WHOLE serving surface and survivors stay searchable.
          val touchedTags = touchedDocs.map(_.stripPrefix("documents/")).toSet
          var newLive = snap.live.filterNot(touchedDocs.toSet)
            .filterNot(touchedFps.toSet)
            .filterNot(e => indexedDoc(e).exists(touchedTags))
          val anySurvivors = survivors.limit(1).count() > 0
          if (anySurvivors) {
            Layout.writeClustered(survivors, s"$stateDir/documents/$tag",
              Seq("doc_id"), nFiles)
            staged = staged :+ s"documents/$tag"
            newLive = newLive :+ s"documents/$tag"
          }
          liveGen(snap).foreach { gen =>
            if (anySurvivors && survivors.columns.contains("embedding")) {
              // survivors re-index against the LIVE quantizer (same
              // deterministic assignment their old cells had), read back
              // from the clustered write so one frame serves both dirs
              val cents = readQuantizer(spark, stateDir, gen.qTag)
              val declared = declaredPredCols(snap.meta)
              val written = spark.read.parquet(s"$stateDir/documents/$tag")
              val cellRel = gen.dir("embcells", tag)
              val occRel = gen.dir("embocc", tag)
              val gotOcc = writeCellsAndOcc(spark, written, cents,
                s"$stateDir/$cellRel", s"$stateDir/$occRel", declared)
              staged = staged :+ cellRel
              newLive = newLive :+ cellRel
              if (gotOcc) { staged = staged :+ occRel; newLive = newLive :+ occRel }
              // codes twin, when the store encodes at rest — so the ADC
              // path's cold/hot split stays where it was before the delete
              snap.live.find(_.startsWith("embpq/")).foreach { pqTag =>
                val (cb, cbSumsq) = readEmbCodebooks(spark, stateDir, pqTag)
                val residCents =
                  if (embResidual(snap.meta)) Some(cents) else None
                val codeRel = gen.dir("embcodes", tag)
                Layout.writeClustered(
                  encodeCellCodes(spark.read.parquet(s"$stateDir/$cellRel"),
                    cb, cbSumsq, residCents),
                  s"$stateDir/$codeRel", Seq("cell"), nFiles)
                staged = staged :+ codeRel
                newLive = newLive :+ codeRel
              }
            }
          }
          if (touchedFps.nonEmpty) {
            val fpSurvivors = spark.read
              .parquet(touchedFps.map(d => s"$stateDir/$d"): _*)
              .join(broadcast(delFps), Seq("fingerprint"), "left_anti")
            if (fpSurvivors.limit(1).count() > 0) {
              Layout.writeClustered(fpSurvivors, s"$stateDir/fingerprints/$tag",
                Seq("fingerprint"), nFiles)
              staged = staged :+ s"fingerprints/$tag"
              newLive = newLive :+ s"fingerprints/$tag"
            }
          }
          beforePublish()
          Manifest.tryPublish(spark, stateDir, snap, newLive, snap.meta) match {
            case Some(_) => return nDeleted
            case None =>
              dropStaged() // any concurrent commit → full re-derive
              attempts += 1
              if (attempts >= 16)
                throw new java.io.IOException(
                  s"deleteDocs lost $attempts consecutive publish races at $stateDir")
          }
        } finally releaseTouched()
      }
      0L // unreachable
    } finally Manifest.releaseLease(spark, stateDir, lease)
  }

  /** Per-document repetition metrics — the Gopher-style quality signals
    * (Rae et al. 2021 §A1.1: repetitious documents are low-quality
    * training data and slip past stopword/length filters):
    *
    *  - `top_word_frac`: share of the most frequent token
    *  - `top_bigram_frac`: share of the most frequent bigram
    *  - `dup_trigram_frac`: fraction of trigram occurrences that are
    *    repeats (1 − distinct/total)
    *
    * All-relational: token counts and argmax-by-count are partial-agg
    * groupBys keyed by (doc_id[, gram]), the bigram forms with one lead()
    * window inside the doc partition, and the distinct-trigram count
    * reuses the native one-pass [[Dedup.shingleArrays]] expression — no
    * per-row HOFs, no UDFs, scan-speed at corpus scale. */
  def repetitionMetrics(documents: DataFrame): DataFrame = {
    val toks = Dedup.tokens(documents)
    val n = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val topWord = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_word_n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks
      .withColumn("w2", lead("w", 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("w2")).as("bg"))
    val nBi = bi.groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"))
    val topBi = bi.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram_n"))
    val triDistinct = Dedup.shingleArrays(documents)
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n_tri_distinct"))
    n.join(topWord, "doc_id").join(nBi, "doc_id").join(topBi, "doc_id")
      .join(triDistinct, "doc_id")
      .select(
        col("doc_id"), col("n_tokens"),
        (col("top_word_n").cast("double") / col("n_tokens").cast("double"))
          .as("top_word_frac"),
        (col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"))
          .as("top_bigram_frac"),
        when(col("n_tokens") > 2,
          lit(1.0) - col("n_tri_distinct").cast("double") /
            (col("n_tokens") - 2).cast("double"))
          .as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** Per-document character-level Shannon entropy — the quality signal
    * that separates natural prose (≈4.1 bits/char in English) from
    * low-entropy boilerplate/repetition and high-entropy encoded blobs
    * (base64, minified JS), both of which a training-data filter wants
    * flagged; complements [[repetitionMetrics]] (token-level) with a
    * sub-token view.
    *
    * Determinism (the transcendental discipline, SURVEY §3): rewrite
    * H = −Σ (c/n)·ln(c/n) = ln n − (Σ c·ln c)/n so ln is only ever
    * applied to the INTEGER counts, through the deterministic
    * [[graft.functions.LnInt]] tree — no platform ln is engine-stable
    * (Math.log vs libm: 54 divergent integers in the first 2M; see
    * LnInt's scaladoc), so the oracle replicates the identical IEEE ops
    * instead of calling DuckDB's `ln`. Each c·ln c product is one
    * correctly-rounded multiply; the per-document sum is an ORDERED fold
    * over the char-sorted term list (`aggregate(sort_array(...))` ≡
    * DuckDB `list_reduce(list(term ORDER BY ch))`) — no decimal bridge,
    * no order nondeterminism; bits = nats / the LN2 literal.
    *
    * Scale shape: one char-explode pass (output ∝ corpus bytes, the same
    * cost class as tokenization), a (doc_id, ch) partial-agg count, a
    * per-doc fold over ≤|alphabet| terms. Linear; no windows, no joins. */
  def textEntropy(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val chars = documents
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
    val counts = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val terms = counts
      .withColumn("n", sum("c").over(Window.partitionBy("doc_id")))
      .withColumn("term", col("c").cast("double") * expr("graft_lni(c)"))
    terms
      .groupBy("doc_id")
      .agg(
        max("n").as("n_chars_counted"),
        count(lit(1)).as("n_distinct_chars"),
        aggregate(
          transform(sort_array(collect_list(struct(col("ch"), col("term")))),
            s => s.getField("term")),
          lit(0.0), (acc, v) => acc + v).as("__s"))
      .withColumn("entropy_nats",
        expr("graft_lni(n_chars_counted)") -
          col("__s") / col("n_chars_counted").cast("double"))
      .select(
        col("doc_id"), col("n_chars_counted"), col("n_distinct_chars"),
        col("entropy_nats"),
        (col("entropy_nats") / lit(graft.functions.LnIntImpl.Ln2)).as("entropy_bits"))
      .orderBy("doc_id")
  }

  /** End-to-end curation filter — the query a training-data pipeline runs
    * last: keep a document iff it is its exact-dedup cluster's
    * representative (min doc_id per text md5) AND its composite quality
    * score clears the threshold. One semi-join against the tiny
    * representative set + a map-side quality expression; every heavy
    * component (dedup groupBy) aggregates before joining. */
  def curation(documents: DataFrame, minQuality: Double = 0.64): DataFrame = {
    val reps = Dedup.exact(documents).select(col("keep_doc_id").as("doc_id"))
    documents
      .join(reps, Seq("doc_id"), "left_semi")
      .select(
        col("doc_id"), col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality_score"))
      .filter(col("quality_score") >= minQuality)
      .orderBy("doc_id")
  }

  /** Deterministic stratified hash sampling: keep a document iff its
    * 60-bit md5 text-hash mod 1000 falls under the stratum's rate —
    * 10% for English, 30% for every other language (down-sample the
    * dominant stratum, keep the tail). Reproducible across runs/engines
    * (no RNG), filter-only (no shuffle), and consistent: a document's
    * fate never depends on partitioning. */
  def stratifiedSample(documents: DataFrame): DataFrame =
    documents
      .withColumn("bucket",
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long") % 1000)
      .filter(col("bucket") < when(col("lang") === "en", 100).otherwise(300))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** Weighted PRIORITY sampling (Duffield–Lund–Thorup) per language:
    * each document draws priority `q = w · 2⁶⁰/(h+1)` — weight `w` =
    * `n_chars`, `h` the 60-bit md5 hash standing in for the uniform
    * draw, so the sample is deterministic and bit-identical
    * cross-engine (only a division and a multiply, no transcendentals).
    * The k highest-priority documents per language form the sample;
    * `τ` = the (k+1)-th priority, and each sampled document carries the
    * Horvitz–Thompson estimate `ŵ = max(w, τ)`, making `Σŵ` over the
    * sample an unbiased estimator of the stratum's total weight — THE
    * way to take a budgeted, length-weighted corpus sample at 100 TB
    * and still report calibrated totals.
    *
    * Scale shape: the per-language top-(k+1) rank plans as
    * WindowGroupLimit (each map partition forwards k+1 rows, the same
    * pruning as the KMV sketch), τ is a ≤|langs|-row broadcast, and the
    * exact stratum totals reuse one partial agg — nothing concentrates
    * more than (k+1)·|langs| rows anywhere. */
  def prioritySample(documents: DataFrame, k: Int = 20): DataFrame = {
    val hashSpace = 1152921504606846976.0 // 2^60, exact in binary
    val h = conv(substring(md5(concat(lit("ps:"), col("doc_id").cast("string"))),
      1, 15), 16, 10).cast("long")
    // w · (2^60/(h+1)): division FIRST, one IEEE tree on both engines
    val q = col("n_chars").cast("double") *
      (lit(hashSpace) / (h + lit(1L)).cast("double"))
    val ranked = documents
      .select(col("doc_id"), col("lang"), col("n_chars"), q.as("q"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("q").desc, col("doc_id"))))
      .filter(col("rnk") <= k + 1)
    val tau = ranked.groupBy("lang")
      .agg(max(when(col("rnk") === k + 1, col("q"))).as("tau"))
    val totals = documents.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"))
    ranked.filter(col("rnk") <= k)
      .join(broadcast(tau), Seq("lang"))
      .join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("rnk"), col("doc_id"), col("n_chars"),
        greatest(col("n_chars").cast("double"), coalesce(col("tau"), lit(0.0)))
          .as("w_est"),
        col("n_docs"), col("total_chars"))
      .orderBy("lang", "rnk")
  }

  /** RAG-style document chunking: overlapping `chunkSize`-token windows
    * advancing by `chunkSize − overlap` tokens. Pure map stage — the
    * split/sequence/posexplode pipeline never shuffles (each document's
    * chunks are produced where the document lives), so chunking 100 TB is
    * a scan, and downstream embedding jobs inherit the corpus
    * partitioning. Chunk starts come from `sequence(0, lastStart, step)`
    * so a document always yields ≥1 chunk (even shorter than one window). */
  def chunkDocuments(documents: DataFrame, chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap < chunkSize, s"overlap $overlap must be < chunkSize $chunkSize")
    val step = chunkSize - overlap
    documents
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("__words"))
      .withColumn("__n", size(col("__words")))
      .filter(col("__n") >= 1)
      .select(col("doc_id"), col("lang"), col("__words"), col("__n"),
        posexplode(sequence(lit(0), expr(s"((__n - 1) div $step) * $step"), lit(step)))
          .as(Seq("chunk_id", "__start")))
      .select(
        col("doc_id"), col("chunk_id"), col("lang"),
        least(lit(chunkSize), col("__n") - col("__start")).as("n_tokens"),
        array_join(slice(col("__words"), col("__start") + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Training-sequence packing: assign documents (in deterministic doc_id
    * order) to fixed token-budget bins, documents allowed to straddle bin
    * boundaries (offset packing, the GPT-style "concat then cut" layout).
    * A doc's bin is `floor(tokens-before-it / budget)`.
    *
    * Packing is sequential by construction, so the scale unit is the
    * (lang, shard) group: doc_id is md5-sharded into `nShards` streams
    * per language and each stream packs independently — at 100 TB that is
    * `langs × nShards` parallel cumulative windows instead of one global
    * sort, and bins are keyed (lang, shard, bin) so no cross-shard
    * coordination exists at read time either. */
  def sequencePacking(documents: DataFrame, budget: Int = 2048, nShards: Int = 8): DataFrame = {
    val shard = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % nShards
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("shard", shard)
      .withColumn("__cum", sum("n_tokens").over(w))
      .select(
        col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        expr(s"(__cum - n_tokens) div $budget").as("bin"),
        expr(s"(__cum - n_tokens) % $budget").as("bin_offset"))
      .orderBy("doc_id")
  }

  /** Corpus datasheet — the per-(lang, source) data card a training-data
    * governance process publishes with every corpus release: volume
    * (docs, chars, whitespace tokens) and quality profile (min/max/mean
    * C9 score) for every stratum, so mixture decisions and drift checks
    * read one small table instead of re-scanning the corpus.
    *
    * One partial-agg groupBy over a pure map — scan speed at any corpus
    * size, output rows = |langs|·|sources|. The mean divides the
    * decimal-exact score sum by the exact count in one double division
    * (the C29 discipline), so every cell is bit-reproducible. */
  def corpusDatasheet(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), col("source"), col("n_chars"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("__q"))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_tokens").as("total_tokens"),
        min("__q").as("min_quality"),
        max("__q").as("max_quality"),
        (sum(col("__q").cast(DecimalType(27, 9))).cast("double") /
          count(lit(1)).cast("double")).as("avg_quality"))
      .orderBy("lang", "source")

  /** Zipf-law fit over the corpus token-frequency distribution: OLS of
    * `ln(freq)` against `ln(rank)` over the top-`topN` tokens — the
    * corpus-health slope (natural text ≈ −1; heavily templated or
    * boilerplate-ridden corpora flatten or steepen it) a data-mixture
    * report tracks next to [[corpusDatasheet]].
    *
    * Scale shape: the corpus-sized work is ONE (token, freq) partial-agg
    * groupBy; the top-`topN` cut is TakeOrdered (never a global sort).
    * The fit itself runs DRIVER-SIDE over the collected ≤ `topN`
    * (rank, freq) table — bounded model metadata, the Markov/MMR collect
    * class. The logs go through [[graft.functions.LnIntImpl.ln]] (both
    * rank and freq are positive integers ≤ 2^53), the explicit IEEE tree
    * the oracle rebuilds op-for-op via `lniSql` — NO platform ln is
    * hash-gateable: StrictMath (Spark `log()`), `Math.log` (HotSpot
    * intrinsic), and DuckDB's glibc `ln` disagree pairwise in the last
    * ulp on real inputs (Math.log vs libm: 54 of the first 2M integers,
    * e.g. ln(9170) — token frequencies land in exactly that range).
    * Determinism: sums accumulate left-to-right in rank order (≡ the
    * oracle's `list_reduce(list(x ORDER BY rank))`), slope/intercept are
    * the same fixed IEEE trees the oracle builds. */
  def tokenZipf(documents: DataFrame, topN: Int = 1000): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ranked: Array[(Long, Long)] = Dedup.tokens(documents)
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(topN)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i + 1L, r.getLong(1)) }
    val n = ranked.length.toLong
    var sx = 0.0; var sy = 0.0; var sxx = 0.0; var sxy = 0.0
    ranked.foreach { case (rank, freq) =>
      val lr = graft.functions.LnIntImpl.ln(rank)
      val lf = graft.functions.LnIntImpl.ln(freq)
      sx += lr; sy += lf; sxx += lr * lr; sxy += lr * lf
    }
    val nD = n.toDouble
    val slope = ((nD * sxy) - (sx * sy)) / ((nD * sxx) - (sx * sx))
    val intercept = (sy - (slope * sx)) / nD
    Seq((n, slope, intercept)).toDF("n", "slope", "intercept")
  }

  /** Deterministic epoch shuffle + shard assignment — the reproducible
    * global permutation every training dataloader needs: document order
    * within an epoch must look random, be IDENTICAL on every re-run and
    * every worker (resumable training, bitwise-reproducible data order),
    * and change across epochs. Key = md5(epoch || doc_id): shard =
    * key mod nShards, position = rank of key within the shard.
    *
    * Scale shape: shard assignment is a pure map; the within-shard
    * position is ONE rank window PARTITIONED by shard — `nShards`
    * independent sorts of corpus/nShards rows each, never a global
    * single-partition sort, and the shard count is the parallelism knob
    * (pick shards so corpus/nShards fits an executor's sort budget).
    * Changing `epoch` re-keys every hash, so epochs are independent
    * permutations with zero stored state. */
  def trainingShards(documents: DataFrame, nShards: Int = 8, epoch: Long = 0L): DataFrame = {
    val key = md5(concat_ws("_", lit(epoch), col("doc_id")))
    val w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    documents
      .select(col("doc_id"), key.as("shuffle_key"))
      .withColumn("shard",
        conv(substring(col("shuffle_key"), 1, 15), 16, 10).cast("long") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos", "shuffle_key")
      .orderBy("shard", "pos")
  }

  /** TOKEN-balanced epoch shards — the fix for what C69 `shard_skew`
    * measures: hash sharding (C40) balances DOC counts, but a training
    * step's cost is TOKEN mass, so a long-doc-heavy shard straggles
    * every epoch. Here docs stream in the same md5 shuffle order and a
    * shard boundary falls every `total/nShards` tokens
    * (`shard = (tokens_before · n) div total` — exclusive prefix sum,
    * integer arithmetic end to end), so each shard's token mass is
    * within one document of the ideal — the provable bound the spec
    * pins. Output: per shard, doc and token mass.
    *
    * Scale shape: the exclusive running sum comes from the
    * range-bucketed `Quantiles.withExactPrefixSum` machinery (every
    * sort partition ~n/buckets rows — no single-task global sort, the
    * C56 path), then one partial agg to nShards rows. The
    * `tokens_before · n` product stays under 2^63 up to ~10^18/n
    * corpus tokens. */
  def trainingShardsBalanced(
      documents: DataFrame, nShards: Int = 8, epoch: Long = 0L): DataFrame = {
    val key = md5(concat_ws("_", lit(epoch), col("doc_id")))
    val base = documents.select(
      col("doc_id"), key.as("__sk"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("__t"))
    Quantiles.withExactPrefixSum(base, Nil,
        Seq(("__sk", true), ("doc_id", true)), "__t", "__cum", "__tot")
      .withColumn("__cum_ex", col("__cum").cast("long") - col("__t"))
      .withColumn("shard",
        expr(s"(__cum_ex * ${nShards}L) div CAST(__tot AS BIGINT)"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("__t").as("n_tokens"))
      .orderBy("shard")
  }

  /** Shard INTEGRITY manifest over [[trainingShards]]' assignment: per
    * shard, the doc count and two mod-(2^61−1) checksums over each doc's
    * 60-bit md5(text) prefix — `content_checksum` (order-independent
    * sum: do two exports hold the same documents?) and `order_checksum`
    * (position-weighted: did the shuffle order reproduce too? — training
    * runs replay shards sequentially, so order IS part of the contract).
    *
    * Scale shape: both checksums are plain distributive aggregates —
    * per-term mod keeps every addend under 2^61, the running sums ride
    * exact DECIMAL(38,0) (room for ~10^16 docs per shard), state is one
    * number per shard per partition (map-side combined), and two 100 TB
    * exports compare by diffing 8 rows. No giant string concat, no
    * order-sensitive fold to serialize. */
  def shardChecksums(documents: DataFrame, nShards: Int = 8, epoch: Long = 0L): DataFrame = {
    val M = "2305843009213693951BD" // 2^61 − 1, prime; addends stay < 2^61
    trainingShards(documents, nShards, epoch)
      .join(documents.select(col("doc_id"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h")), "doc_id")
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        expr(s"CAST(pmod(sum(CAST(h AS DECIMAL(38,0))), $M) AS BIGINT)")
          .as("content_checksum"),
        expr(s"CAST(pmod(sum(pmod(CAST(pos AS DECIMAL(19,0)) * CAST(h AS DECIMAL(19,0)), $M)), $M) AS BIGINT)")
          .as("order_checksum"))
      .orderBy("shard")
  }

  /** Packing-efficiency report over [[sequencePacking]]'s bins: per
    * (lang, shard), bin count, packed tokens, capacity, and fill rate —
    * the utilization readout that tells a training pipeline how much GPU
    * time the greedy packer wastes on padding (and which language shards
    * pack badly, e.g. many over-budget documents each forcing a bin
    * spill).
    *
    * Scale shape: one groupBy over the packing assignment (itself one
    * cumulative window per (lang, shard)); output is |langs|·|shards|
    * rows of metadata. fill_rate is one division of exact longs. */
  def packingEfficiency(
      documents: DataFrame, budget: Int = 2048, nShards: Int = 8): DataFrame =
    sequencePacking(documents, budget, nShards)
      .groupBy("lang", "shard")
      .agg(
        (max("bin") + 1L).as("n_bins"),
        sum("n_tokens").as("total_tokens"))
      .withColumn("capacity", col("n_bins") * budget.toLong)
      .withColumn("fill_rate",
        col("total_tokens").cast("double") / col("capacity").cast("double"))
      .orderBy("lang", "shard")

  /** Shard-balance report over [[trainingShards]]' epoch assignment: per
    * shard, document and token counts plus each shard's token load
    * relative to the mean (`token_skew` = share × nShards; 1.0 =
    * perfectly balanced) — the dataloader-balance check run before an
    * epoch ships, since one heavy shard gates every data-parallel step.
    *
    * Scale shape: the shard hash is a pure map over documents, the
    * per-shard rollup one partial agg; the corpus total rides in as a
    * one-row broadcast. Output is nShards rows. */
  def shardSkew(documents: DataFrame, nShards: Int = 8, epoch: Long = 0L): DataFrame = {
    val perDoc = documents.select(
      (conv(substring(md5(concat_ws("_", lit(epoch), col("doc_id"))), 1, 15), 16, 10)
        .cast("long") % nShards).as("shard"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    val perShard = perDoc.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    val total = perShard.agg(sum("n_tokens").as("total_tokens"))
    perShard.crossJoin(broadcast(total))
      .withColumn("token_share",
        col("n_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("token_skew", col("token_share") * nShards.toDouble)
      .select("shard", "n_docs", "n_tokens", "token_share", "token_skew")
      .orderBy("shard")
  }

  /** Token-length histogram per language on power-of-two buckets —
    * the length profile that tunes the packing budget (C27) and the
    * chunk size (C26): bucket b covers [2^b, 2^(b+1)) whitespace tokens.
    *
    * The bucket is the INTEGER bit length of the token count (binary
    * string length − 1) — no log2 anywhere, because floor(log2(n))
    * through a transcendental log is off-by-one exactly at the powers of
    * two where a libm ulp lands below the integer (the graft_lni
    * finding, dodged with integer arithmetic instead of solved with it).
    * One map + one partial-agg groupBy; output |langs|·~12 rows. */
  def docLenHistogram(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("bucket", (length(conv(col("n_tokens"), 10, 2)) - 1).cast("long"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .withColumn("bucket_lo", expr("CAST(1 AS BIGINT) << bucket"))
      .withColumn("bucket_hi", expr("(CAST(1 AS BIGINT) << (bucket + 1)) - 1"))
      .select("lang", "bucket", "bucket_lo", "bucket_hi", "n_docs", "total_tokens")
      .orderBy("lang", "bucket")

  /** Distribution DRIFT between an incoming batch and the standing
    * corpus (batch = doc_id ≡ 0 mod 5, the C86 admission split): per
    * power-of-two token-length bucket, both sides' counts and shares,
    * the cumulative-share gap (the KS component) and the PSI term
    * (p_new − p_ref)·ln(p_new/p_ref) — the monitoring readout a
    * recurring-crawl pipeline checks before admitting a batch whose
    * length profile silently shifted (truncation bugs, a new boilerplate
    * family, a crawler that started keeping nav pages).
    *
    * Determinism: shares and KS gaps are single IEEE divisions/
    * subtractions of exactly-representable integer counts (< 2^53);
    * the PSI log is `graft_lni(n_new·t_ref) − graft_lni(n_ref·t_new)` —
    * the §3 integer-ln tree over integer PRODUCTS (the token-PMI move),
    * valid while each product stays under 2^63 (≈3·10^9 docs per side;
    * past that, rescale counts by their gcd or fold the ≤64-row frame
    * driver-side). The limit is ENFORCED, not just documented: each
    * product is pre-checked in DECIMAL(38,0) and overflow raises — a
    * raw long multiply would wrap silently and feed a negative product
    * into the ln, turning the drift gate into a silent wrong answer
    * (DuckDB's HUGEINT side raises natively; now both engines fail
    * loudly). Zero-sided buckets carry psi_term = 0 and are
    * reported via the summary's `n_skipped` (the standard PSI
    * convention made explicit rather than epsilon-fudged).
    *
    * Scale shape: one map + one ≤64-row groupBy; the cumulative window
    * is unpartitioned BY CONSTRUCTION over ≤64 bucket rows (whitelisted
    * in the plan sweep); totals are a one-row broadcast. */
  /** `graft_lni(a*b)` with an int64-overflow guard: the product is
    * pre-checked in DECIMAL (exact for any pair of longs — max product
    * ~8.5e37 < 10^38) and raises loudly instead of wrapping. ≤64 bucket
    * rows pay the decimal compare — free. */
  private[graft] def lniCheckedProduct(a: String, b: String): Column = expr(
    s"""graft_lni(CASE
       WHEN CAST($a AS DECIMAL(20,0)) * CAST($b AS DECIMAL(20,0)) >
            CAST(9223372036854775807 AS DECIMAL(38,0))
       THEN CAST(raise_error('corpusDrift: $a*$b overflows int64 (>~3e9 docs per side); rescale bucket counts by their gcd or fold the <=64-row frame driver-side') AS BIGINT)
       ELSE $a * $b END)""")

  def corpusDrift(documents: DataFrame): DataFrame =
    corpusDriftTagged(documents.select(
      (pmod(col("doc_id"), lit(5)) === 0).as("is_new"), col("text")))

  /** [[corpusDrift]] between an EXPLICIT batch and reference frame — the
    * admission-gate form: the candidate batch is the `new` side, the
    * committed corpus the reference. Same buckets, same KS/PSI terms. */
  def corpusDriftBetween(newDocs: DataFrame, refDocs: DataFrame): DataFrame =
    corpusDriftTagged(
      newDocs.select(lit(true).as("is_new"), col("text"))
        .unionByName(refDocs.select(lit(false).as("is_new"), col("text"))))

  private def corpusDriftTagged(tagged: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(tagged.sparkSession)
    val b = tagged
      .select(col("is_new"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("bucket", (length(conv(col("n_tokens"), 10, 2)) - 1).cast("long"))
      .groupBy("bucket")
      .agg(sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_ref"))
    val tot = b.agg(sum("n_new").as("t_new"), sum("n_ref").as("t_ref"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.crossJoin(broadcast(tot))
      // a zero-doc side means there is nothing to compare — empty
      // output, never NaN shares (degenerate-input contract)
      .filter(col("t_new") > 0 && col("t_ref") > 0)
      .withColumn("cum_new", sum("n_new").over(w))
      .withColumn("cum_ref", sum("n_ref").over(w))
      .withColumn("p_new", col("n_new").cast("double") / col("t_new").cast("double"))
      .withColumn("p_ref", col("n_ref").cast("double") / col("t_ref").cast("double"))
      .withColumn("ks_diff", abs(
        col("cum_new").cast("double") / col("t_new").cast("double") -
          col("cum_ref").cast("double") / col("t_ref").cast("double")))
      .withColumn("psi_term",
        when(col("n_new") > 0 && col("n_ref") > 0,
          (col("p_new") - col("p_ref")) *
            (lniCheckedProduct("n_new", "t_ref") - lniCheckedProduct("n_ref", "t_new")))
          .otherwise(lit(0.0)))
      .select("bucket", "n_new", "n_ref", "p_new", "p_ref",
        "cum_new", "cum_ref", "ks_diff", "psi_term")
      .orderBy("bucket")
  }

  /** The scalar gate over [[corpusDrift]]: KS statistic (max cumulative
    * gap), total PSI (position-ordered double fold over bucket terms —
    * the §3 ordered-fold discipline), bucket count and how many buckets
    * were zero-sided (PSI-undefined, skipped). One row; the number pair
    * an ingest SLO alerts on (PSI > 0.2 = investigate, > 0.25 = block,
    * the standard credit-scoring thresholds). */
  def corpusDriftSummary(documents: DataFrame): DataFrame =
    driftSummaryOf(corpusDrift(documents))

  /** [[corpusDriftSummary]] over the explicit batch-vs-corpus form. */
  def corpusDriftSummaryBetween(newDocs: DataFrame, refDocs: DataFrame): DataFrame =
    driftSummaryOf(corpusDriftBetween(newDocs, refDocs))

  private def driftSummaryOf(drift: DataFrame): DataFrame =
    drift.agg(
      max("ks_diff").as("ks"),
      aggregate(
        array_sort(collect_list(struct(col("bucket"), col("psi_term")))),
        lit(0.0),
        (acc, x) => acc + x.getField("psi_term")).as("psi"),
      count(lit(1)).as("n_buckets"),
      sum(when(col("n_new") === 0 || col("n_ref") === 0, 1L).otherwise(0L))
        .as("n_skipped"))

  /** Per-source exact-duplication rate: documents vs distinct texts per
    * source — the one-line provenance health check (a crawl source whose
    * dup rate jumps is re-serving cached pages) that decides where the
    * heavier near-dup passes (C2/C64) spend their budget.
    *
    * One groupBy with a partial-aggregable distinct count over md5(text)
    * — no pairwise anything; output |sources| rows. */
  def dupRateBySource(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("h")).as("n_distinct_texts"))
      .withColumn("dup_rate",
        lit(1.0) - col("n_distinct_texts").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")

  /** Winnow-fingerprint OVERLAP pairs (the MOSS report shape): document
    * pairs sharing ≥ `minCommon` discriminative winnowing fingerprints,
    * scored by containment against the smaller side — the structural
    * plagiarism/overlap detector that survives token insertion where
    * plain shingle Jaccard (C4) degrades, since winnowing guarantees a
    * fingerprint match for any shared run of ≥ w+k−1 tokens.
    *
    * Same near-linear discipline as [[graft.operators.Dedup
    * .ngramJaccard]]: a df cap drops corpus-wide boilerplate fingerprints
    * (they dominate the pair join quadratically and carry no pair
    * signal), the support floor keeps pair cardinality bounded by genuine
    * overlap. */
  def winnowOverlap(
      documents: DataFrame, minCommon: Long = 2L, maxDf: Long = 1000L): DataFrame = {
    val fp = winnowFp(documents).localCheckpoint(true) // releasable, not a CacheManager pin
    val keep = fp.groupBy("fingerprint").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fingerprint")
    val f = fp.join(keep, "fingerprint").localCheckpoint(true)
    val counts = f.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = f.select(col("doc_id").as("doc_a"), col("fingerprint"))
      .join(f.select(col("doc_id").as("doc_b"), col("fingerprint")), "fingerprint")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("overlap",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .select("doc_a", "doc_b", "n_common", "overlap")
      .orderBy("doc_a", "doc_b")
  }

  /** Quality × length calibration grid: document counts and exact mean
    * quality per (quality decile, power-of-two length bucket) — the 2-D
    * diagnostic that shows whether the C9 quality score is just a length
    * proxy (mass hugging the diagonal) and which length bands a quality
    * threshold would actually cut.
    *
    * One map + one partial-agg groupBy to ≤ 11·~12 cells; the decile is
    * floor(q·10) on the identical IEEE score both engines already
    * hash-agree on, the length bucket the C70 integer bit length. */
  def qualityLengthGrid(documents: DataFrame): DataFrame = {
    val q = graft.functions.TextFunctions.qualityScore(col("text"))
    val nTok = graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
    documents
      .select(q.as("q"), nTok.as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("q_decile", floor(col("q") * 10.0).cast("long"))
      .withColumn("len_bucket", (length(conv(col("n_tokens"), 10, 2)) - 1).cast("long"))
      .groupBy("q_decile", "len_bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        (graft.functions.Exact.dsum9(col("q")) / count(lit(1)).cast("double"))
          .as("mean_quality"))
      .orderBy("q_decile", "len_bucket")
  }

  /** Vocabulary-growth curve (the Heaps'-law readout): distinct tokens
    * accumulated by each doc-id decile of the corpus — sublinear growth
    * is healthy natural text; a curve that keeps climbing linearly means
    * unbounded entity/noise vocabulary (OCR junk, serial numbers), and
    * the asymptote calibrates tokenizer vocab size.
    *
    * Each token's FIRST document (one min-agg over the token explode —
    * the C53 novelty pass) lands in a decile via integer arithmetic
    * ((first_doc·10) div (max_doc+1) — no doubles); the cumulative sum
    * runs over the 10-row decile frame. Output: 10 metadata rows. */
  def vocabGrowth(documents: DataFrame): DataFrame = {
    val toks = Dedup.tokens(documents).filter(col("w") =!= "")
    val nDocs = documents.agg((max("doc_id") + 1L).as("n"))
    val firsts = toks.groupBy("w").agg(min("doc_id").as("first_doc"))
    val byDecile = firsts.crossJoin(broadcast(nDocs))
      .withColumn("decile", expr("(first_doc * 10) div n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("new_tokens"))
    val docsPerDecile = documents.crossJoin(broadcast(nDocs))
      .withColumn("decile", expr("(doc_id * 10) div n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPerDecile
      .join(byDecile, Seq("decile"), "left")
      .withColumn("new_tokens", coalesce(col("new_tokens"), lit(0L)))
      // 10-row frame: the unpartitioned running sum is metadata-sized
      .withColumn("docs_cum", sum("n_docs").over(w))
      .withColumn("vocab_cum", sum("new_tokens").over(w))
      .select("decile", "n_docs", "docs_cum", "new_tokens", "vocab_cum")
      .orderBy("decile")
  }

  /** Language-ID confusion matrix: declared label × predicted label with
    * per-declared-language recall — the evaluation readout for the C8
    * heuristic (and the template for evaluating any classifier column
    * against a labeled corpus).
    *
    * One map + one partial agg to |langs|² cells; the per-declared total
    * attaches via a window over the tiny cell frame. */
  def langConfusion(documents: DataFrame): DataFrame = {
    val cells = documents
      .select(col("lang").as("declared_lang"),
        graft.functions.TextFunctions.langId(col("text")).as("predicted_lang"))
      .groupBy("declared_lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_declared", sum("n").over(Window.partitionBy("declared_lang")))
      .withColumn("rate", col("n").cast("double") / col("n_declared").cast("double"))
      .select("declared_lang", "predicted_lang", "n", "n_declared", "rate")
      .orderBy("declared_lang", "predicted_lang")
  }

  /** Near-dup threshold sweep: pair counts per Jaccard decile with the
    * at-or-above cumulative — the one-pass tuning table for choosing a
    * dedup threshold (how many pairs each candidate threshold removes)
    * instead of re-running the pipeline per candidate.
    *
    * Reuses the C4 pair frame; the rollup and the descending cumulative
    * run over ≤11 metadata rows. */
  def dedupThresholdSweep(documents: DataFrame): DataFrame = {
    val pairs = Dedup.ngramJaccard(documents)
    val byBucket = pairs
      .withColumn("bucket", floor(col("jaccard") * 10.0).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byBucket
      // ≤11-row frame: the unpartitioned cumulative is metadata-sized
      .withColumn("n_pairs_at_or_above", sum("n_pairs").over(w))
      .withColumn("threshold_lo", col("bucket").cast("double") / 10.0)
      .select("bucket", "threshold_lo", "n_pairs", "n_pairs_at_or_above")
      .orderBy("bucket")
  }

  /** One-row corpus mixture entropy: Shannon entropy of the language
    * shares — the single number tracked per corpus release to catch
    * mixture drift (a release whose entropy drops is collapsing toward
    * one language; the datasheet C42 gives the detail, this gives the
    * trend line).
    *
    * The C67 integer-ln form over per-language counts (H = ln N −
    * (Σ c·ln c)/N via graft_lni, ordered fold by lang), so the one-row
    * transcendental output is deterministic by construction. */
  def mixtureEntropy(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val counts = documents.groupBy("lang").agg(count(lit(1)).as("c"))
      .withColumn("term", col("c").cast("double") * expr("graft_lni(c)"))
    counts
      .agg(
        sum("c").as("n_docs"),
        count(lit(1)).as("n_langs"),
        aggregate(
          transform(sort_array(collect_list(struct(col("lang"), col("term")))),
            s => s.getField("term")),
          lit(0.0), (acc, v) => acc + v).as("__s"))
      .withColumn("entropy_nats",
        expr("graft_lni(n_docs)") - col("__s") / col("n_docs").cast("double"))
      .select(
        col("n_docs"), col("n_langs"), col("entropy_nats"),
        (col("entropy_nats") / lit(graft.functions.LnIntImpl.Ln2)).as("entropy_bits"))
  }

  /** Deterministic data-mixture sampling: admit documents so the surviving
    * corpus approaches target language proportions (en-heavy here), at the
    * largest total size the corpus can support. The feasible total is
    * `T = min_l(n_l / w_l)`; each language then admits at rate
    * `w_l · T / n_l` (the binding language keeps everything) via the
    * md5-bucket coin — rate-based, so admission is a pure map over the
    * corpus guided by a broadcast 5-row rate table: no per-group top-k, no
    * global sort, nothing that concentrates data at 100 TB. */
  def mixtureSample(documents: DataFrame): DataFrame = {
    val weights = when(col("lang") === "en", 0.4).otherwise(0.15)
    val counts = documents.groupBy("lang")
      .agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__w", weights)
      .withColumn("__cap", col("__n") / col("__w"))
    val feasible = counts.agg(min("__cap").as("__t"))
    val rates = counts.crossJoin(broadcast(feasible))
      .select(col("lang"), (col("__w") * col("__t") / col("__n")).as("__rate"))
    documents
      .join(broadcast(rates), "lang")
      .withColumn("__bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 1000000)
      .filter(col("__bucket").cast("double") < col("__rate") * 1000000.0)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Curriculum staging: split each language's documents into `stages`
    * quality quartiles (exact ntile over the composite quality score,
    * doc_id tie-break so the cut is deterministic) and report each stage's
    * boundaries and exact mean quality.
    *
    * A `PARTITION BY lang` ntile window concentrates each language's full
    * corpus in one task (~5 partitions however many executors exist). Here
    * the exact per-lang rank comes from [[Quantiles.withExactRank]] with
    * `lang` as the group: range buckets subdivide every language, offsets
    * broadcast, and each sort partition holds ~n/buckets rows — the stage
    * cut is bit-identical, the plan is not single-task-per-language.
    * [[qualityCurriculumSingleTask]] pins the semantics. */
  def qualityCurriculum(documents: DataFrame, stages: Int = 4): DataFrame = {
    val scored = documents.select(
      col("doc_id"), col("lang"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("__q"))
    Quantiles
      .withExactRank(scored, Seq("lang"), Seq(("__q", true), ("doc_id", true)),
        "__rk", "__nn")
      .withColumn("stage",
        Quantiles.ntileFromRank(col("__rk"), col("__nn"), stages).cast("int"))
      .groupBy("lang", "stage")
      .agg(
        count(lit(1)).as("n_docs"),
        min("__q").as("min_quality"),
        max("__q").as("max_quality"),
        (sum(col("__q").cast(DecimalType(27, 9))).cast("double") /
          count(lit(1)).cast("double")).as("avg_quality"))
      .orderBy("lang", "stage")
  }

  /** Importance-resampling data selection (the hashed-n-gram DSIR
    * pattern: score every raw document by how target-like its n-gram
    * profile is, then keep the top of the ranking). The target
    * distribution is defined by a predicate over the corpus itself
    * (default: `lang = 'en'`); features are word bigrams hashed into
    * `buckets` buckets (collision-lossy on purpose — the feature space
    * stays fixed no matter how large the corpus grows).
    *
    * Scoring is the transcendental-free rational form: with add-one
    * smoothed bucket counts `ct` (target) and `cr` (raw), a document's
    * importance is
    * `((Σ ct+1) / (Nt+B)) / ((Σ cr+1) / (Nr+B))` — the ratio of the mean
    * smoothed target mass to the mean smoothed raw mass over the
    * document's bigram occurrences. Sums are exact integers (order-proof),
    * the normalizers are global constants, and the only floating op is
    * one final long-ratio division — bit-identical cross-engine, unlike a
    * log-likelihood formulation whose `ln` differs in the last ulp.
    *
    * Scale shape: both count tables are ≤`buckets` rows and broadcast;
    * the global totals are one-row broadcast frames; scoring is a pure
    * map + one per-doc partial agg; selection is a global top-k that
    * plans as TakeOrderedAndProject (each partition forwards k rows).
    * No stage depends on corpus size except linearly. */
  def dsirSelect(
      documents: DataFrame,
      targetLang: String = "en",
      buckets: Int = 256,
      k: Int = 100): DataFrame = {
    // bigram hash buckets via the native positioned gram-id expression:
    // a word bigram joined with ' ' IS the k=2 gram of graft_gram_ids,
    // and the DSIR bucket is its 60-bit md5 prefix (gid_hi) mod buckets —
    // the former interpreted transform/concat_ws/md5/conv chain per
    // position, twice per query (count pass + scoring pass), now one
    // codegen'd map each
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val grams = documents
      .select(col("doc_id"), col("lang"),
        explode(call_function("graft_gram_ids", col("text"), lit(2))).as("g"))
      .withColumn("bucket", col("g.gid_hi") % buckets)
      .drop("g")
    // ONE partial-agg pass produces both count tables (raw + target) as a
    // `buckets`-row frame, and the corpus totals fold from THAT frame —
    // not from a rescan; the exploded gram frame is evaluated exactly
    // twice (this pass + the scoring pass), each at scan speed, instead
    // of the 4 passes the separate raw/tgt/totals jobs cost (measured
    // 2.4 s → 1.8 s at sf0.1).
    val bucketCounts = grams.groupBy("bucket").agg(
      count(lit(1)).as("cr"),
      count(when(col("lang") === targetLang, 1)).as("ct"))
    val totals = bucketCounts.agg(
      sum("cr").cast("long").as("nr"),
      sum("ct").cast("long").as("nt"))
    val scored = grams
      .join(broadcast(bucketCounts), Seq("bucket"), "left")
      .groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("ct"), lit(0L)) + 1L).as("sum_t"),
        sum(coalesce(col("cr"), lit(0L)) + 1L).as("sum_r"))
      .crossJoin(broadcast(totals))
      .select(
        col("doc_id"), col("lang"), col("n_grams"),
        dsirScore(col("sum_t"), col("sum_r"), col("nr"), col("nt"), buckets)
          .as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** DSIR importance ratio `(sum_t·(Nr+B)) / (sum_r·(Nt+B))` with
    * Decimal(38,0) intermediates. At real corpus scale the numerator is
    * ~1e16·1e12 ≈ 1e28 — a long×long product wraps silently under
    * non-ANSI Spark and corrupts the top-k ranking exactly when the data
    * is big enough to matter, while the DuckDB oracle errors in BIGINT.
    * 38-digit decimals hold products to 1e38; only the final ratio drops
    * to double (one rounding, order-proof — the `bigramKnLm` discipline).
    * The oracle computes the same products in HUGEINT (int128). */
  private[graft] def dsirScore(
      sumT: Column, sumR: Column, nr: Column, nt: Column, buckets: Int): Column = {
    val d38 = DecimalType(38, 0)
    (sumT.cast(d38) * (nr + buckets).cast(d38)).cast("double") /
      (sumR.cast(d38) * (nt + buckets).cast(d38)).cast("double")
  }

  /** Quality-ordered TOKEN-BUDGET selection: rank documents by quality
    * score descending and keep exactly the prefix whose cumulative token
    * count fits `tokenBudget` — the curation primitive behind "take the
    * best N-billion tokens" dataset cuts (quality threshold picking is
    * the wrong tool: the threshold that hits a byte/token budget moves
    * with every corpus refresh; the budget is the actual constraint).
    *
    * The running total is [[Quantiles.withExactPrefixSum]] — the
    * distributed prefix sum, so no single task sorts the corpus. Every
    * row is emitted with its cumulative position and `selected` flag so
    * the same frame answers "what got cut and how close was it". */
  def budgetSelect(documents: DataFrame, tokenBudget: Long = 20000L): DataFrame = {
    val scored = documents.select(
      col("doc_id"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("quality"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    Quantiles.withExactPrefixSum(scored, Nil,
        Seq(("quality", false), ("doc_id", true)), "n_tokens", "__cum", "__tot")
      .withColumn("cum_tokens", col("__cum").cast("long"))
      .withColumn("selected", col("cum_tokens") <= tokenBudget)
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("cum_tokens"), col("selected"))
      .orderBy(col("quality").desc, col("doc_id"))
  }

  /** PER-LANGUAGE token-budget selection — [[budgetSelect]] with the
    * prefix sum GROUPED by `lang`: each language independently keeps its
    * best-quality prefix under the same budget, which is how real
    * mixtures are cut (a global budget lets one dominant language crowd
    * out the rest; per-language budgets ARE the mixture weights
    * expressed in tokens). Exercises the grouped path of
    * [[Quantiles.withExactPrefixSum]]: every shuffle keys on
    * (lang, bucket), offsets are per-language. */
  def budgetSelectPerLang(documents: DataFrame, tokenBudget: Long = 5000L): DataFrame = {
    val scored = documents.select(
      col("doc_id"), col("lang"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("quality"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    Quantiles.withExactPrefixSum(scored, Seq("lang"),
        Seq(("quality", false), ("doc_id", true)), "n_tokens", "__cum", "__tot")
      .withColumn("cum_tokens", col("__cum").cast("long"))
      .withColumn("selected", col("cum_tokens") <= tokenBudget)
      .select(col("lang"), col("doc_id"), col("quality"), col("n_tokens"),
        col("cum_tokens"), col("selected"))
      .orderBy(col("lang"), col("quality").desc, col("doc_id"))
  }

  /** Temperature-scaled source sampling weights — the data-mixing table
    * a multi-source training run is configured from (the T-sampling of
    * multilingual/multi-corpus recipes: raising small sources, damping
    * the giant ones). Per source: doc/token mass, and the sampling
    * weight at temperature T ∈ {2, 4}, `w_i = n_i^(1/T) / Σ_j n_j^(1/T)`,
    * plus the T=2 boost over the natural share (>1 ⇒ upsampled).
    *
    * Cross-engine determinism: n^(1/2) and n^(1/4) are one and two IEEE
    * `sqrt` steps — correctly rounded BY STANDARD in every engine, so no
    * `pow`/`exp` enters the gate; the weight denominators are ordered
    * folds over the per-source rows (§3 discipline), and every remaining
    * step is a single IEEE op on identical operands.
    *
    * Scale shape: one partial-agg groupBy to ≤|sources| metadata rows;
    * the folds and the broadcast join run on that bounded frame. */
  def mixtureTemperature(documents: DataFrame): DataFrame = {
    val nTok = graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
    val per = documents.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(nTok).as("n_tokens"))
      .withColumn("__s2", sqrt(col("n_tokens").cast("double")))
      .withColumn("__s4", sqrt(sqrt(col("n_tokens").cast("double"))))
    def foldBySource(c: String): Column =
      aggregate(
        transform(sort_array(collect_list(struct(col("source"), col(c)))),
          s => s.getField(c)),
        lit(0.0), (acc, v) => acc + v)
    val tot = per.agg(
      foldBySource("__s2").as("__t2"),
      foldBySource("__s4").as("__t4"),
      sum("n_tokens").as("__n_total"))
    per.crossJoin(broadcast(tot))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        (col("__s2") / col("__t2")).as("w_t2"),
        (col("__s4") / col("__t4")).as("w_t4"),
        (col("__s2") / col("__t2") * col("__n_total").cast("double") /
          col("n_tokens").cast("double")).as("boost_t2"))
      .orderBy("source")
  }

  /** Per-source document cap — the web-curation rule that no single
    * domain dominates the corpus (crawl dumps are power-law by host):
    * keep each source's top `cap` documents by the C9 quality score
    * (ties by doc_id), emitting the kept rows with their rank. The
    * inverse of C15's proportional sampling: an ABSOLUTE per-group
    * ceiling, insensitive to how big the source is.
    *
    * Scale shape: one window partitioned BY SOURCE (the natural shuffle
    * key; no global ordering anywhere) and an early `rk ≤ cap` filter —
    * rank state never exceeds the partition, output is ≤ cap·|sources|.
    * A pathologically hot source is one partition's sort, the usual
    * skew-salting candidates apply. */
  def domainCapSample(documents: DataFrame, cap: Int = 5): DataFrame = {
    val q = graft.functions.TextFunctions.qualityScore(col("text"))
    val w = Window.partitionBy("source").orderBy(col("q").desc, col("doc_id"))
    documents
      .select(col("source"), col("doc_id"), q.as("q"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .orderBy("source", "rk")
  }

  /** Quality-threshold ablation table — what each candidate C9 cutoff
    * KEEPS (docs, tokens, shares), in one pass: the tuning readout for
    * picking a filter threshold without re-running the filter per
    * candidate (the C76 sweep idea applied to the quality gate; C73
    * shows the quality×length joint, this shows the retention curve).
    * One row per OCCUPIED quality decile: keeping every doc with
    * `floor(q·10) ≥ d` retains `docs_kept`/`tokens_kept`.
    *
    * Determinism: counts/token sums are exact integers; the shares are
    * single IEEE divisions of exact-integer doubles. Scale shape: one
    * map + partial agg to ≤11 rows; the descending cumulative runs on
    * that metadata frame (sweep-whitelisted, row-bounded). */
  def qualityAblation(documents: DataFrame): DataFrame = {
    val q = graft.functions.TextFunctions.qualityScore(col("text"))
    val nTok = graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
    val byDecile = documents
      .select(floor(q * 10.0).cast("long").as("q_decile"), nTok.as("__t"))
      .groupBy("q_decile")
      .agg(count(lit(1)).as("__docs"), sum("__t").as("__toks"))
    val w = Window.orderBy(col("q_decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byDecile.agg(
      sum("__docs").as("__t_docs"), sum("__toks").as("__t_toks"))
    byDecile
      // ≤11-row frame: the unpartitioned cumulative is metadata-sized
      .withColumn("docs_kept", sum("__docs").over(w))
      .withColumn("tokens_kept", sum("__toks").over(w))
      .crossJoin(broadcast(tot))
      .select(
        col("q_decile"),
        (col("q_decile").cast("double") / 10.0).as("threshold"),
        col("docs_kept"), col("tokens_kept"),
        (col("docs_kept").cast("double") / col("__t_docs").cast("double"))
          .as("doc_share"),
        (col("tokens_kept").cast("double") / col("__t_toks").cast("double"))
          .as("token_share"))
      .orderBy("q_decile")
  }

  /** Per-source curation dashboard: doc/token mass and the quality
    * range+mean of every source — the table a curation run ranks
    * domains with before setting C90 caps or C56 budgets (C71 gives
    * each source's dup rate, this its quality profile; together they
    * are the drop/keep/cap decision inputs). One partial-agg groupBy to
    * ≤|sources| rows; the mean is the C73 decimal-exact pattern. */
  def sourceQualityProfile(documents: DataFrame): DataFrame = {
    val q = graft.functions.TextFunctions.qualityScore(col("text"))
    val nTok = graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
    documents
      .select(col("source"), q.as("__q"), nTok.as("__t"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("__t").as("n_tokens"),
        min("__q").as("min_quality"),
        max("__q").as("max_quality"),
        (graft.functions.Exact.dsum9(col("__q")) / count(lit(1)).cast("double"))
          .as("mean_quality"))
      .orderBy("source")
  }

  /** Quality × duplication joint — do exact duplicates concentrate in a
    * quality band? Each doc lands in its C9 quality decile and is
    * flagged `is_dup` iff its md5 text group (the C1 identity) has more
    * than one member; output cells carry counts plus each cell's share
    * WITHIN its decile. Boilerplate dups clustering in low deciles means
    * the quality gate already removes most of what dedup would; dups in
    * the top deciles mean dedup must run regardless — the grid is the
    * evidence either way (the C73 move applied to the dedup axis).
    *
    * Scale shape: one md5-group count (C1's own agg), a linear
    * join-back, one partial agg to ≤22 cells; the share window runs
    * partitioned by decile over that metadata frame. Shares are single
    * IEEE divisions of exact ints. */
  def qualityDupGrid(documents: DataFrame): DataFrame = {
    val scored = documents.select(
      col("doc_id"), md5(col("text")).as("__h"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("__q"))
    val groups = scored.groupBy("__h").agg(count(lit(1)).as("__n"))
    val cells = scored.join(groups, "__h")
      .select(
        floor(col("__q") * 10.0).cast("long").as("q_decile"),
        (col("__n") > 1L).as("is_dup"))
      .groupBy("q_decile", "is_dup")
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("q_decile")
    cells
      .withColumn("decile_share",
        col("n_docs").cast("double") / sum("n_docs").over(w).cast("double"))
      .orderBy("q_decile", "is_dup")
  }

  /** Single-task reference form of [[qualityCurriculum]] (per-lang ntile
    * window) — spec-pinned semantic oracle, not the scale path. */
  def qualityCurriculumSingleTask(documents: DataFrame, stages: Int = 4): DataFrame = {
    val scored = documents.select(
      col("doc_id"), col("lang"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("__q"))
    val w = Window.partitionBy("lang").orderBy(col("__q"), col("doc_id"))
    scored
      .withColumn("stage", ntile(stages).over(w))
      .groupBy("lang", "stage")
      .agg(
        count(lit(1)).as("n_docs"),
        min("__q").as("min_quality"),
        max("__q").as("max_quality"),
        (sum(col("__q").cast(DecimalType(27, 9))).cast("double") /
          count(lit(1)).cast("double")).as("avg_quality"))
      .orderBy("lang", "stage")
  }

  /** The hashed-unigram feature frame behind [[qualityClassifier]]:
    * (doc_id, y, x) with x = length-normalized bucket counts + bias. */
  private def classifierFeats(
      documents: DataFrame, positiveSources: Seq[String], buckets: Int): DataFrame = {
    val base = documents.select(
      col("doc_id"),
      when(col("source").isin(positiveSources: _*), 1.0).otherwise(0.0).as("y"),
      split(col("text"), " ").as("ws"))
    val cnts = base
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .select(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long") % buckets)
          .cast("int").as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).cast("double").as("cnt"))
    val bucketMap = cnts.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("cnt")))).as("m"))
    base
      .select(col("doc_id"), col("y"), size(col("ws")).cast("double").as("len"))
      .join(bucketMap, Seq("doc_id"))
      .select(col("doc_id"), col("y"),
        concat(
          transform(sequence(lit(0), lit(buckets - 1)),
            j => coalesce(try_element_at(col("m"), j), lit(0.0)) / col("len")),
          array(lit(1.0))).as("x"))
  }

  /** Train the logistic probe on an already-built feature frame — the
    * deterministic unrolled-GD steps of [[qualityClassifier]], factored
    * so training happens once per frame. */
  private def weightsFrom(
      feats: DataFrame, dims: Int, iters: Int, sampleCap: Int): Array[Double] = {
    // deterministic bounded training sample, then doc_id fold order
    val sample = feats
      .withColumn("__h", md5(concat(lit("qc:"), col("doc_id").cast("string"))))
      .orderBy(col("__h"), col("doc_id")).limit(sampleCap)
      .select("doc_id", "y", "x").orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Double]("y"), r.getSeq[Double](r.fieldIndex("x")).toArray))
    val n = sample.length.toDouble
    val w = new Array[Double](dims)
    var t = 0
    while (t < iters) {
      val g = new Array[Double](dims)
      sample.foreach { case (y, x) =>
        var z = 0.0
        var j = 0
        while (j < dims) { z += w(j) * x(j); j += 1 }
        val p = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
        val r = y - p
        var k = 0
        while (k < dims) { g(k) += r * x(k); k += 1 }
      }
      var j = 0
      while (j < dims) { w(j) += 0.25 * (g(j) / n); j += 1 }
      t += 1
    }
    w
  }

  /** The trained probe's weights as a deployable artifact (B bucket
    * weights + bias) — what [[graft.streaming.Streaming.qualityScores]]
    * broadcasts to score documents AT INGEST with the exact same
    * arithmetic [[qualityClassifier]] scores batches with (bit-equality
    * spec-pinned): train once on the committed corpus, filter the
    * stream before it lands. */
  def classifierWeights(
      documents: DataFrame,
      positiveSources: Seq[String] = Seq("src0", "src1", "src2", "src3"),
      buckets: Int = 32,
      iters: Int = 3,
      sampleCap: Int = 2048): Array[Double] =
    weightsFrom(
      classifierFeats(documents, positiveSources, buckets),
      buckets + 1, iters, sampleCap)

  /** TRAINED quality filter — the fastText-class binary classifier every
    * production curation pipeline gates on (GPT-3/CCNet/RefinedWeb style:
    * positives = a curated reference slice, negatives = the rest of the
    * crawl), as opposed to the HEURISTIC scores of `text_quality` and the
    * class-conditional language model of `nb_lang_classify`.
    *
    * Model: a logistic probe over hashed word-unigram features —
    * x_j = (count of words hashing to bucket j) / doc_len for j < B,
    * plus a bias feature x_B = 1 — trained by `iters` UNROLLED full-batch
    * gradient steps on a deterministic md5-ranked sample of at most
    * `sampleCap` docs, then scored over EVERY document as the logit
    * z = w·x.
    *
    * Cross-engine determinism (the DuckDB oracle REPLAYS the training,
    * not just the scoring): no transcendentals anywhere — the sigmoid is
    * the rational  p = 1/2 + z / (2(1+|z|))  (abs/add/mul/div are all
    * IEEE correctly-rounded in both engines), the learning rate 0.25 is
    * a power of two (exact scaling), and every sum is an ORDERED LEFT
    * FOLD pinned on both sides: z folds the B+1 products in bucket
    * order, each gradient component folds r·x_j in doc_id order
    * (`aggregate`/`list_reduce(list_prepend(0.0, …))` — the SURVEY §3
    * ordered-double-fold discipline), so Spark and DuckDB execute the
    * same IEEE op sequence bit-for-bit.
    *
    * Scale shape: feature extraction is a map + one (doc,bucket) partial
    * agg; training touches only the bounded sample (collected driver-side
    * like the ANN quantizer samples — B·sampleCap doubles); scoring is a
    * broadcast-weights map over the corpus at scan speed. At 100 TB only
    * the scoring pass sees the full corpus, and it is embarrassingly
    * parallel. */
  def qualityClassifier(
      documents: DataFrame,
      positiveSources: Seq[String] = Seq("src0", "src1", "src2", "src3"),
      buckets: Int = 32,
      iters: Int = 3,
      sampleCap: Int = 2048): DataFrame = {
    // the feature frame is read TWICE in one operator — the bounded
    // training-sample TakeOrdered inside weightsFrom, then the full
    // scoring pass — and feature extraction is the expensive part
    // (token explode + two aggs + a join). Checkpoint it once; the
    // scoring consumers (and the rank machinery's own checkpoint in the
    // eval/select operators) read the stored frame instead of
    // re-tokenizing the corpus. classifierWeights (the streaming
    // artifact) deliberately does NOT materialize: it reads feats once.
    val feats = Materialize(classifierFeats(documents, positiveSources, buckets))
    val w = weightsFrom(feats, buckets + 1, iters, sampleCap)
    val wLit = array(w.map(lit(_)): _*)
    feats
      .select(col("doc_id"), col("y").cast("int").as("is_positive"),
        aggregate(zip_with(col("x"), wLit, (a, b) => a * b),
          lit(0.0), (acc, v) => acc + v).as("score"))
      .orderBy("doc_id")
  }

  /** Calibration table for [[qualityClassifier]] — the reading a curation
    * pipeline actually thresholds on: score deciles (exact distributed
    * rank, the C29 NTILE discipline) × the curated-slice label, with per
    * decile positive rate and, reading from the TOP decile down, the
    * cumulative precision of "keep everything above this cut". On a
    * separable corpus the positive rate must climb with the decile —
    * the monotonicity IS the calibration check, and a flat table says
    * the probe learned nothing (spec-pinned on the golden fixture).
    *
    * Determinism: deciles come from exact integer ranks over
    * (score, doc_id) — score is the already-deterministic logit, the
    * rank is the range-bucketed `Quantiles` machinery (no single-task
    * sort); every output number is integer counts plus one IEEE
    * division. Scale shape: scoring is the classifier's own map pass;
    * the rollup is one partial agg to 10 rows plus a 10-row window. */
  def qualityClassifierEval(
      documents: DataFrame,
      positiveSources: Seq[String] = Seq("src0", "src1", "src2", "src3"),
      buckets: Int = 32,
      iters: Int = 3,
      sampleCap: Int = 2048,
      deciles: Int = 10): DataFrame = {
    val scored = qualityClassifier(documents, positiveSources, buckets, iters, sampleCap)
    val ranked = Quantiles
      .withExactRank(scored, Nil, Seq(("score", true), ("doc_id", true)), "__rk", "__nn")
      .withColumn("decile",
        Quantiles.ntileFromRank(col("__rk"), col("__nn"), deciles).cast("int"))
    val cells = ranked.groupBy("decile").agg(
      count(lit(1)).as("n_docs"),
      sum(col("is_positive").cast("long")).as("n_positive"),
      min("score").as("min_score"),
      max("score").as("max_score"))
    val wTop = Window.orderBy(col("decile").desc)
    cells
      .withColumn("positive_rate",
        col("n_positive").cast("double") / col("n_docs").cast("double"))
      .withColumn("cum_positive", sum(col("n_positive")).over(wTop))
      .withColumn("cum_docs", sum(col("n_docs")).over(wTop))
      .withColumn("cum_precision",
        sum(col("n_positive")).over(wTop).cast("double") /
          sum(col("n_docs")).over(wTop).cast("double"))
      .select("decile", "n_docs", "n_positive", "positive_rate",
        "min_score", "max_score", "cum_positive", "cum_docs", "cum_precision")
      .orderBy("decile")
  }

  /** Token-budget selection ordered by the TRAINED classifier score —
    * [[budgetSelect]]'s "take the best N tokens" cut with
    * [[qualityClassifier]]'s learned logit replacing the fixed heuristic
    * (the GPT-3/FineWeb shape: the trained filter IS the ranking the
    * budget is spent along, not a side scoreboard). Same distributed
    * exact prefix sum, so no single task sorts the corpus; scoring is
    * the classifier's broadcast-weights map pass. */
  def classifierBudgetSelect(
      documents: DataFrame,
      tokenBudget: Long = 20000L,
      positiveSources: Seq[String] = Seq("src0", "src1", "src2", "src3"),
      buckets: Int = 32,
      iters: Int = 3,
      sampleCap: Int = 2048): DataFrame = {
    val scored = qualityClassifier(documents, positiveSources, buckets, iters, sampleCap)
      .select("doc_id", "score")
    val toks = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    Quantiles.withExactPrefixSum(scored.join(toks, Seq("doc_id")), Nil,
        Seq(("score", false), ("doc_id", true)), "n_tokens", "__cum", "__tot")
      .withColumn("cum_tokens", col("__cum").cast("long"))
      .withColumn("selected", col("cum_tokens") <= tokenBudget)
      .select(col("doc_id"), col("score"), col("n_tokens"),
        col("cum_tokens"), col("selected"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Deployable THRESHOLD selection over [[qualityClassifier]]'s scores —
    * the step that turns the trained filter plus its calibration table
    * ([[qualityClassifierEval]]) into a shippable cut. Every scored doc
    * is a candidate threshold ("keep everything at-or-above me" in
    * (score DESC, doc_id) order); its confusion counts come from EXACT
    * integer machinery — distributed rank for the kept-set size,
    * distributed prefix sum of the label for true positives — and two
    * deployment criteria are read off the candidate table:
    *
    *  - `max_f1`: the cut maximizing F1 = 2·TP/(kept + totalPos). The
    *    argmax compares doubles, but each is ONE IEEE division of exact
    *    integers (< 2^53), so the comparison is engine-exact; ties break
    *    on the smaller kept set.
    *  - `precision_floor_<pct>`: the LARGEST kept set whose cumulative
    *    precision still clears pct% — decided by the exact integer
    *    compare TP·100 ≥ kept·pct, no rounding anywhere in the decision.
    *
    * Scale shape: scoring is the classifier's broadcast-weights map;
    * rank/prefix are the range-bucketed exact machinery (no single-task
    * sort); each criterion is a TakeOrdered top-1 over the candidate
    * frame, never a full global sort. */
  def classifierThresholdSelect(
      documents: DataFrame,
      precisionFloorPct: Int = 90,
      positiveSources: Seq[String] = Seq("src0", "src1", "src2", "src3"),
      buckets: Int = 32,
      iters: Int = 3,
      sampleCap: Int = 2048): DataFrame = {
    val scored = qualityClassifier(documents, positiveSources, buckets, iters, sampleCap)
    // rank and label-prefix share ONE pass of the range-bucket machinery
    // (same ordering key) — formerly two full three-pass invocations
    val pre = Quantiles.withExactRankAndPrefixSum(
      scored, Nil, Seq(("score", false), ("doc_id", true)),
      "is_positive", "__rk", "__nn", "__cp", "__tp")
    val cand = pre
      .select(
        col("score").as("threshold_score"),
        col("doc_id").as("cut_doc_id"),
        col("__rk").as("kept_docs"),
        col("__cp").cast("long").as("tp"),
        (col("__rk") - col("__cp").cast("long")).as("fp"),
        (col("__tp") - col("__cp")).cast("long").as("fn"),
        col("__tp").cast("long").as("__totpos"))
      .withColumn("precision",
        col("tp").cast("double") / col("kept_docs").cast("double"))
      .withColumn("recall",
        col("tp").cast("double") / col("__totpos").cast("double"))
      .withColumn("f1",
        lit(2.0) * col("tp").cast("double") /
          (col("kept_docs") + col("__totpos")).cast("double"))
    val outCols = Seq("threshold_score", "cut_doc_id", "kept_docs",
      "tp", "fp", "fn", "precision", "recall", "f1").map(col)
    val maxF1 = cand
      .orderBy(col("f1").desc, col("kept_docs").asc)
      .limit(1)
      .select(lit("max_f1").as("criterion") +: outCols: _*)
    val floor = cand
      .filter(col("tp") * lit(100L) >= col("kept_docs") * lit(precisionFloorPct.toLong))
      .orderBy(col("kept_docs").desc)
      .limit(1)
      .select(lit(s"precision_floor_$precisionFloorPct").as("criterion") +: outCols: _*)
    maxF1.unionAll(floor).orderBy("criterion")
  }
}
