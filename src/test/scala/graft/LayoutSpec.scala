package graft

import java.nio.file.Files

import graft.sources.{Layout, Tables}
import org.apache.spark.sql.functions._

/** Data-layout + incremental-ingest pipeline plumbing. */
class LayoutSpec extends SparkSpec with SparkJobs {

  test("clustered write produces contiguous sorted key ranges and bounded files") {
    val dir = Files.createTempDirectory("graft-layout").toString + "/orders"
    val orders = Tables.orders(spark, sfDir)
    Layout.writeClustered(orders, dir, Seq("o_custkey"), nFiles = 4)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 4)
    // file key ranges must not overlap: collect (min,max) per file and sort
    val ranges = files.map { f =>
      val d = spark.read.parquet(f.getAbsolutePath)
        .agg(min("o_custkey"), max("o_custkey")).head()
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping ranges: ${ranges.toSeq}")
      case _ =>
    }
    // nothing lost
    assert(spark.read.parquet(dir).count() === orders.count())
  }

  test("compact merges a fragmented table without changing its contents") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/orders"
    val orders = Tables.orders(spark, sfDir)
    orders.repartition(37).write.parquet(dir) // fragmented: 37 small files
    val before = orders.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val (nBefore, nAfter) = Layout.compact(spark, dir, Seq("o_orderdate"), nFiles = 3)
    assert(nBefore === 37)
    assert(nAfter === 3)
    val after = spark.read.parquet(dir).select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(after.toSeq === before.toSeq)
  }

  test("incremental ingest admits each distinct document exactly once across runs") {
    import graft.operators.Corpus
    val state = Files.createTempDirectory("graft-ingest").toString
    val docs = Tables.documents(spark, sfDir)
    val n1 = Corpus.ingestIncremental(spark, docs, state)
    val distinctTexts = docs
      .select(graft.functions.TextFunctions.fingerprint(col("text"))).distinct().count()
    assert(n1 === distinctTexts)
    // re-running the identical batch admits nothing
    val n2 = Corpus.ingestIncremental(spark, docs, state)
    assert(n2 === 0)
    assert(Corpus.documents(spark, state).count() === distinctTexts)
    // a genuinely new document is admitted; a rephrased duplicate is not
    import spark.implicits._
    val batch2 = Seq(
      (900001L, "a genuinely new document about spark layout", "en", "t", 40L),
      (900002L, docs.select("text").head().getString(0), "en", "t", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val n3 = Corpus.ingestIncremental(spark, batch2, state)
    assert(n3 === 1)
  }

  test("ingest: staged-but-unpublished dirs are invisible and vacuumed") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-ingest-crash").toString
    val b1 = Seq((1L, "first committed doc", "en", "t", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Corpus.ingestIncremental(spark, b1, state)
    // simulate a crash between staging and publish: a doc dir with NO
    // manifest entry (exactly the on-disk state an aborted ingest leaves)
    Seq((99L, "orphaned uncommitted doc", "en", "t", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$state/documents/b999")
    assert(Corpus.documents(spark, state).count() === 1) // reader: committed only
    assert(Manifest.stale(spark, state, Seq("documents", "fingerprints")).nonEmpty)
    // next ingest vacuums the orphan and admission semantics are unchanged
    val n = Corpus.ingestIncremental(spark, b1, state)
    assert(n === 0)
    assert(Manifest.stale(spark, state, Seq("documents", "fingerprints")).isEmpty)
    assert(Corpus.documents(spark, state).count() === 1)
  }

  test("racing ingest writers serialize: both commit, overlap admitted exactly once") {
    import graft.operators.Corpus
    import spark.implicits._
    val state = Files.createTempDirectory("graft-ingest-race").toString
    val shared = "the same duplicated document text carried by both writers"
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batchA = mk((0L until 10L).map(i => i -> s"writer A document $i") :+ (90L -> shared))
    val batchB = mk((20L until 30L).map(i => i -> s"writer B document $i") :+ (91L -> shared))
    // DEFAULT configuration: no grace tuning — writer A's vacuum lease
    // shields its in-flight staged dirs from B's recovery sweep
    var nB = -1L
    val nA = Corpus.ingestIncremental(spark, batchA, state,
      beforePublish = () => {
        // a competing writer lands a FULL committed ingest between A's
        // staging and A's first publish attempt — A must lose the CAS,
        // re-check novelty against B's fingerprints, and retry on top
        nB = Corpus.ingestIncremental(spark, batchB, state)
      })
    assert(nB === 11) // B commits first: its 10 docs + the shared one
    assert(nA === 10) // A serializes after B and re-filters the shared doc
    val docs = Corpus.documents(spark, state)
    assert(docs.count() === 21)
    assert(docs.filter(col("text") === shared).count() === 1) // exactly-once
    assert(Corpus.fingerprints(spark, state).distinct().count() === 21)
    // both writers' batches are idempotent on re-run (and the default
    // grace-0 sweep vacuums A's superseded first staging)
    assert(Corpus.ingestIncremental(spark, batchA, state) === 0)
    assert(Corpus.ingestIncremental(spark, batchB, state) === 0)
    assert(graft.sources.Manifest.stale(
      spark, state, Seq("documents", "fingerprints")).isEmpty)
  }

  test("vacuum lease: in-flight staging survives another writer's DEFAULT sweep") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-lease").toString
    val b1 = Seq((1L, "committed base doc", "en", "t", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Corpus.ingestIncremental(spark, b1, state)
    // an in-flight writer: lease acquired BEFORE staging (the protocol)
    val lease = Manifest.acquireLease(spark, state, "writer-inflight")
    Seq((50L, "in-flight staged doc", "en", "t", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$state/documents/b_inflight")
    // another run's recovery sweep, DEFAULT config: the staged dir is
    // lease-shielded — reported by neither stale() nor deleted
    assert(Manifest.stale(spark, state, Seq("documents", "fingerprints")).isEmpty)
    Manifest.cleanStale(spark, state, Seq("documents", "fingerprints"))
    assert(spark.read.parquet(s"$state/documents/b_inflight").count() === 1)
    // a full competing ingest (which runs its own recovery sweep) must
    // also leave the shielded dir alone
    val b2 = Seq((2L, "competing committed doc", "en", "t", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Corpus.ingestIncremental(spark, b2, state)
    assert(spark.read.parquet(s"$state/documents/b_inflight").count() === 1)
    // writer aborts (releases without publishing): leftovers vacuumable
    Manifest.releaseLease(spark, state, lease)
    assert(Manifest.stale(spark, state, Seq("documents", "fingerprints"))
      .contains("documents/b_inflight"))
    Manifest.cleanStale(spark, state, Seq("documents", "fingerprints"))
    assert(!new java.io.File(s"$state/documents/b_inflight").exists())
    // a crashed writer's lease expires on its TTL and stops shielding
    val crashed = Manifest.acquireLease(spark, state, "writer-crashed", ttlMs = -1L)
    assert(Manifest.activeLeases(spark, state).isEmpty)
    Seq((60L, "crash leftover", "en", "t", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$state/documents/b_crashed")
    assert(Manifest.stale(spark, state, Seq("documents", "fingerprints"))
      .contains("documents/b_crashed"))
    // heartbeat: renewing the expired lease re-shields the dir and keeps
    // the ORIGINAL acquisition time (the vacuum cutoff must not slide)
    val renewed = Manifest.renewLease(spark, state, crashed, ttlMs = 15 * 60 * 1000L)
    assert(renewed.acquiredMs === crashed.acquiredMs,
      "renew must preserve the acquisition time")
    assert(renewed.expiresMs > crashed.expiresMs)
    assert(Manifest.activeLeases(spark, state).map(_.owner) === Seq("writer-crashed"))
    assert(Manifest.stale(spark, state, Seq("documents", "fingerprints")).isEmpty)
    Manifest.releaseLease(spark, state, renewed)
    assert(Manifest.stale(spark, state, Seq("documents", "fingerprints"))
      .contains("documents/b_crashed"))
  }

  test("near-dup ingest: persisted signature index gates admission; " +
    "targeted delete heals the gate") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-neardup").toString
    def doc(id: Long, text: String) = (id, text, "en", "t", text.length.toLong)
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 40) "zz" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val third = (300 to 340).map(i => s"p$i").mkString(" ")

    val b1 = Seq(doc(1L, base), doc(2L, other))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Corpus.ingestNearDup(spark, b1, state) === 2L)
    // the index is live: one signatures/ dir per documents/ batch
    val live1 = Manifest.live(spark, state)
    assert(live1.count(_.startsWith("signatures/")) ===
      live1.count(_.startsWith("documents/")))

    // near-twin of committed doc 1 rejected, genuinely new doc admitted
    val b2 = Seq(doc(10L, near), doc(11L, third))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Corpus.ingestNearDup(spark, b2, state) === 1L)
    assert(Corpus.documents(spark, state).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 11L))

    // right-to-be-forgotten: after deleting doc 1, its signature no
    // longer gates — the near-twin is legitimately re-admittable
    Corpus.deleteDocs(spark, state, Seq(1L))
    val b3 = Seq(doc(20L, near)).toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Corpus.ingestNearDup(spark, b3, state) === 1L)
    assert(Corpus.documents(spark, state).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 11L, 20L))
    // index realigned after the delete rewrite too
    val live2 = Manifest.live(spark, state)
    assert(live2.count(_.startsWith("signatures/")) ===
      live2.count(_.startsWith("documents/")))
  }

  test("drift-gated admission: a drifted batch is rejected atomically, " +
    "a same-profile batch admits; refresh mutex serializes loudly") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-driftgate").toString
    def doc(id: Long, text: String) = (id, text, "en", "t", text.length.toLong)
    // committed corpus: docs of ~40 tokens (length bucket ~5)
    val corpus = (1 to 8).map(d =>
      doc(d.toLong, (1 to 40).map(i => s"c${d}_$i").mkString(" ")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Corpus.ingestNearDup(spark, corpus, state) === 8L)
    val versionsBefore = Manifest.history(spark, state).size
    val liveBefore = Manifest.live(spark, state).toSet

    // drifted batch: 2-token docs — every length lands in a bucket the
    // corpus doesn't occupy → KS gap and PSI skip both move hard
    val drifted = (100 to 107).map(d => doc(d.toLong, s"a$d b$d"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ex = intercept[Corpus.DriftRejected] {
      Corpus.ingestNearDup(spark, drifted, state, maxKs = 0.5, maxPsi = 0.25)
    }
    assert(ex.ks > 0.5)
    // ATOMIC rejection: no partial commit, no version bump, live set
    // byte-identical (the gate fires before anything stages)
    assert(Manifest.history(spark, state).size === versionsBefore)
    assert(Manifest.live(spark, state).toSet === liveBefore)

    // a batch with the corpus's own length profile admits under the
    // same thresholds
    val normal = (200 to 203).map(d =>
      doc(d.toLong, (1 to 40).map(i => s"n${d}_$i").mkString(" ")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Corpus.ingestNearDup(spark, normal, state,
      maxKs = 0.5, maxPsi = 0.25) === 4L)

    // refresh mutex: while a live refresher holds the fixed-owner lease,
    // a second refresher must wait — and past its deadline fail loudly
    // instead of proceeding unserialized
    val held = Manifest.acquireLease(spark, state, "sigidx_refresh")
    val ex2 = intercept[java.io.IOException] {
      Corpus.refreshSignatureIndex(spark, state, mutexWaitMs = 300L)
    }
    assert(ex2.getMessage.contains("sigidx_refresh"))
    Manifest.releaseLease(spark, state, held)
    // released → the refresher proceeds (idempotent no-op here)
    assert(Corpus.refreshSignatureIndex(spark, state) === 0L)
  }

  test("lease fencing: holdsLease tracks the acquisition, not just the owner tag") {
    import graft.sources.Manifest
    val state = Files.createTempDirectory("graft-fence").toString
    val l1 = Manifest.acquireLease(spark, state, "sigidx_refresh", ttlMs = 60000L)
    assert(Manifest.holdsLease(spark, state, l1))
    // heartbeats preserve the acquisition token: still held after renew
    val l1r = Manifest.renewLease(spark, state, l1, 60000L)
    assert(Manifest.holdsLease(spark, state, l1))
    assert(Manifest.holdsLease(spark, state, l1r))
    // USURPATION: the lease is reaped (expiry path) and the same fixed
    // owner tag re-acquired by a waiting refresher — a DIFFERENT
    // acquisition. The overrun holder must read not-held and abort
    // before publishing; holdsLease is exactly that fence.
    Manifest.releaseLease(spark, state, l1r)
    Thread.sleep(2L) // acquiredMs is the token: force a distinct tick
    val l2 = Manifest.acquireLease(spark, state, "sigidx_refresh", ttlMs = 60000L)
    assert(l2.acquiredMs != l1.acquiredMs)
    assert(!Manifest.holdsLease(spark, state, l1),
      "the usurped holder must see its lease gone")
    assert(Manifest.holdsLease(spark, state, l2))
    Manifest.releaseLease(spark, state, l2)
    assert(!Manifest.holdsLease(spark, state, l2))
  }

  test("heartbeat fencing: renewLease refuses to steal back a usurped lease; " +
    "torn lease files read as not-held") {
    import graft.sources.Manifest
    val state = Files.createTempDirectory("graft-renew-fence").toString
    // Usurpation mid-run: holder l1's file is reaped (expiry path) and the
    // owner tag re-acquired by a waiting peer. l1's next heartbeat used to
    // writeLease(exclusive=false) unconditionally — silently rewriting its
    // own acquiredMs token over the usurper's, re-arming l1's holdsLease
    // fence while BOTH publish into the same deterministic dirs. The renew
    // itself must now abort instead.
    val l1 = Manifest.acquireLease(spark, state, "sigidx_refresh", ttlMs = 60000L)
    Manifest.releaseLease(spark, state, l1)
    Thread.sleep(2L)
    val l2 = Manifest.acquireLease(spark, state, "sigidx_refresh", ttlMs = 60000L)
    val ex = intercept[java.io.IOException](
      Manifest.renewLease(spark, state, l1, 60000L))
    assert(ex.getMessage.contains("re-acquired"))
    // ...and the usurper's acquisition must be untouched by the attempt
    assert(Manifest.holdsLease(spark, state, l2))
    assert(!Manifest.holdsLease(spark, state, l1))
    // The usurper itself renews fine (same token)
    val l2r = Manifest.renewLease(spark, state, l2, 60000L)
    assert(l2r.acquiredMs === l2.acquiredMs)
    // Torn-file contract: a #end-terminated file with a non-numeric
    // #acquired must read as not-held (NumberFormatException swallowed),
    // not propagate out of a finally block and mask the original failure.
    val leaseFile = new java.io.File(s"$state/_manifest/leases/sigidx_refresh.txt")
    java.nio.file.Files.writeString(leaseFile.toPath,
      "#acquired=corrupt\n#expires=also-corrupt\n#end\n")
    assert(!Manifest.holdsLease(spark, state, l2))
    // activeLeases takes the torn branch (recent file => active-for-an-hour
    // stand-in), not a NumberFormatException
    val active = Manifest.activeLeases(spark, state)
    assert(active.map(_.owner) === Seq("sigidx_refresh"))
    // and a renew against the torn file aborts (not provably ours)
    intercept[java.io.IOException](Manifest.renewLease(spark, state, l2r, 60000L))
    leaseFile.delete()
  }

  test("admission gate re-judges against the race winner's snapshot (drift TOCTOU closed)") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-toctou").toString
    def doc(id: Long, text: String) = (id, text, "en", "t", text.length.toLong)
    def docs(ids: Range) = ids.map(d =>
      doc(d.toLong, (1 to 40).map(i => s"c${d}_$i").mkString(" ")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Corpus.ingestIncremental(spark, docs(1 to 4), state) === 4L)
    // a gate that passes against the 1-batch corpus and rejects once a
    // second batch is live — the check-then-act shape of the drift gate,
    // reduced to its observable: WHICH snapshot is it judged against?
    val gate: Manifest.Snapshot => Unit = snap =>
      if (snap.live.count(_.startsWith("documents/")) > 1)
        throw Corpus.DriftRejected(1.0, 1.0, 0.5, 0.25)
    // competing ingest commits BETWEEN this batch's gate check and its
    // publish: pre-fix, the stale gate verdict would let the batch land
    var injected = false
    val ex = intercept[Corpus.DriftRejected] {
      Corpus.ingestIncremental(spark, docs(100 to 103), state,
        beforePublish = () => if (!injected) {
          injected = true
          assert(Corpus.ingestIncremental(spark, docs(50 to 53), state) === 4L)
        },
        admissionGate = gate)
    }
    assert(ex.ks === 1.0)
    // the rejected batch is fully absent; the race winner survives
    val ids = Corpus.documents(spark, state).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert((100 to 103).forall(d => !ids(d.toLong)), "rejected batch must not land")
    assert((50 to 53).forall(d => ids(d.toLong)))
    // and the same call without the race admits cleanly (the gate only
    // fires when the reference corpus actually changed)
    val state2 = Files.createTempDirectory("graft-toctou2").toString
    assert(Corpus.ingestIncremental(spark, docs(1 to 4), state2) === 4L)
    val gate2: Manifest.Snapshot => Unit = snap =>
      if (snap.live.count(_.startsWith("documents/")) > 1)
        throw Corpus.DriftRejected(1.0, 1.0, 0.5, 0.25)
    assert(Corpus.ingestIncremental(spark, docs(100 to 103), state2,
      admissionGate = gate2) === 4L)
  }

  test("manifest: torn version files are invisible to readers and skipped by allocation") {
    import graft.sources.Manifest
    val state = Files.createTempDirectory("graft-manifest-torn").toString
    Manifest.publish(spark, state, Seq("documents/b1"), Map("k" -> "1"))
    // a writer crashed mid-write: v2 exists but carries no #end trailer
    Files.createDirectories(java.nio.file.Paths.get(s"$state/_manifest"))
    Files.writeString(
      java.nio.file.Paths.get(s"$state/_manifest/v2.txt"), "documents/torn\n")
    // readers resolve the last COMMITTED version…
    assert(Manifest.live(spark, state) === Seq("documents/b1"))
    assert(Manifest.meta(spark, state) === Map("k" -> "1"))
    // …while allocation moves PAST the torn slot instead of deadlocking
    assert(Manifest.version(spark, state) === 2)
    val v = Manifest.publish(spark, state, Seq("documents/b2"))
    assert(v === 3)
    assert(Manifest.live(spark, state) === Seq("documents/b2"))
  }

  test("compaction-aware ingest bounds live batches without changing admission") {
    import graft.operators.Corpus
    import graft.sources.{Layout, Manifest}
    import spark.implicits._
    val state = Files.createTempDirectory("graft-ingest-compact").toString
    def batch(ids: Range) =
      ids.map(i => (i.toLong, s"distinct document number $i", "en", "t", 20L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // 6 batches with a 2-batch bound: compaction keeps live dirs ≤ 2
    val admitted = (0 until 6).map { k =>
      val n = Corpus.ingestIncremental(spark, batch(k * 10 until k * 10 + 10), state,
        maxLiveBatches = 2)
      val liveDocDirs = Manifest.live(spark, state).count(_.startsWith("documents/"))
      assert(liveDocDirs <= 2, s"live batch dirs not bounded: $liveDocDirs")
      n
    }.sum
    assert(admitted === 60)
    assert(Corpus.documents(spark, state).count() === 60)
    assert(Layout.dataFiles(spark, s"$state/documents") >= 1)
    // admission is exactly-once across compactions: old batches still dedup
    assert(Corpus.ingestIncremental(spark, batch(0 until 60), state, maxLiveBatches = 2) === 0)
    // and a genuinely new doc after many compactions is still admitted
    assert(Corpus.ingestIncremental(spark, batch(100 until 101), state, maxLiveBatches = 2) === 1)
  }

  test("time travel: every committed version reproduces its exact corpus") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-timetravel").toString
    def batch(r: Range) = r.map(i =>
      (i.toLong, s"time travel document number $i with unique text", "en", "t", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Corpus.ingestIncremental(spark, batch(0 until 10), state)
    Corpus.ingestIncremental(spark, batch(10 until 25), state)
    Corpus.ingestIncremental(spark, batch(25 until 30), state)
    val hist = Manifest.history(spark, state)
    assert(hist.length === 3)
    // each historical version is the exact prefix corpus it committed
    val expect = Seq(10L, 25L, 30L)
    hist.zip(expect).foreach { case (v, n) =>
      val docs = Corpus.documentsAt(spark, state, v)
      assert(docs.count() === n, s"version $v")
      assert(docs.select(max("doc_id")).head.getLong(0) === n - 1)
    }
    // latest == head accessor; unknown version refuses
    assert(Corpus.documentsAt(spark, state, hist.last).count() ===
      Corpus.documents(spark, state).count())
    intercept[IllegalArgumentException] {
      Corpus.documentsAt(spark, state, 999L)
    }
  }

  test("targeted delete rewrites only touched batches, purges fingerprints, " +
      "and re-admits the deleted text") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-delete").toString
    def batch(r: Range) = r.map(i =>
      (i.toLong, s"deletable corpus document number $i with unique text", "en", "t", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Corpus.ingestIncremental(spark, batch(0 until 10), state)
    Corpus.ingestIncremental(spark, batch(10 until 20), state)
    Corpus.ingestIncremental(spark, batch(20 until 30), state)
    val before = Manifest.live(spark, state)
    // targets live entirely in the second batch
    val n = Corpus.deleteDocs(spark, state, Seq(12L, 17L))
    assert(n === 2)
    val after = Manifest.live(spark, state)
    // untouched batch dirs carry over byte-identical (same live entries);
    // exactly one documents/ and one fingerprints/ entry were replaced
    assert(before.toSet.intersect(after.toSet).size === before.size - 2)
    assert(after.count(_.startsWith("documents/")) === 3)
    val docs = Corpus.documents(spark, state)
    assert(docs.count() === 28)
    assert(docs.filter(col("doc_id").isin(12L, 17L)).isEmpty)
    assert(Corpus.fingerprints(spark, state).count() === 28)
    // the purge is semantic, not cosmetic: the deleted TEXT is novel again
    assert(Corpus.ingestIncremental(spark, batch(12 until 13), state) === 1)
    // deleting ids that don't exist publishes nothing
    val v = Manifest.history(spark, state).last
    assert(Corpus.deleteDocs(spark, state, Seq(9999L)) === 0)
    assert(Manifest.history(spark, state).last === v)
  }

  test("targeted delete survives a racing ingest: full re-derive after lost CAS") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-delete-race").toString
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    Corpus.ingestIncremental(spark,
      mk((0L until 10L).map(i => i -> s"delete race base document $i")), state)
    var raced = false
    val n = Corpus.deleteDocs(spark, state, Seq(3L, 7L),
      beforePublish = () => if (!raced) {
        raced = true // one competing committed ingest between stage and publish
        Corpus.ingestIncremental(spark,
          mk(Seq(50L -> "racing ingest document landing mid-delete")), state)
      })
    assert(n === 2)
    val docs = Corpus.documents(spark, state)
    assert(docs.count() === 9) // 10 − 2 deleted + 1 raced-in
    assert(docs.filter(col("doc_id").isin(3L, 7L)).isEmpty)
    assert(docs.filter(col("doc_id") === 50L).count() === 1) // winner survived
    assert(Corpus.fingerprints(spark, state).count() === 9)
    // staged dirs from the lost first attempt are orphans, swept clean
    Manifest.cleanStale(spark, state, Seq("documents", "fingerprints"))
    assert(Manifest.stale(spark, state, Seq("documents", "fingerprints")).isEmpty)
    // post-race store is fully consistent: deleted text re-admits once
    assert(Corpus.ingestIncremental(spark,
      mk(Seq(60L -> "delete race base document 3")), state) === 1)
  }

  test("ingest and delete release their localCheckpoint blocks, even across " +
      "repeated lost CAS races") {
    import graft.operators.Corpus
    import spark.implicits._
    val state = Files.createTempDirectory("graft-ckpt-leak").toString
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    Corpus.ingestIncremental(spark,
      mk((0L until 20L).map(i => i -> s"checkpoint leak probe document $i")), state)
    val baseline = spark.sparkContext.getPersistentRDDs.size
    // every delete attempt localCheckpoints the touched batches; five lost
    // races must not pin five extra copies in block storage
    var races = 0
    val n = Corpus.deleteDocs(spark, state, Seq(2L, 11L),
      beforePublish = () => if (races < 5) {
        races += 1
        Corpus.ingestIncremental(spark,
          mk(Seq((100L + races) -> s"racing ingest number $races")), state)
      })
    assert(n === 2)
    assert(races === 5)
    assert(spark.sparkContext.getPersistentRDDs.size === baseline,
      s"leaked cached RDDs: ${spark.sparkContext.getPersistentRDDs.size - baseline}")
  }

  test("z-ordered write: every file covers a small (user, time) rectangle") {
    val events = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts_us", "event_type", "value")
    val plain = Files.createTempDirectory("graft_z_plain").toString + "/t"
    val zdir = Files.createTempDirectory("graft_z_cluster").toString + "/t"
    events.repartition(8).write.parquet(plain) // typical unclustered ingest
    Layout.writeZOrdered(events, zdir, "user_id", "ts_us", nFiles = 8)
    val g = events.agg(
      min("user_id"), max("user_id"), min("ts_us"), max("ts_us")).collect().head
    val (uLo, uHi, tLo, tHi) = (g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3))
    def meanArea(path: String): Double = {
      val per = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("user_id").as("ul"), max("user_id").as("uh"),
          min("ts_us").as("tl"), max("ts_us").as("th"))
        .collect()
      per.map { r =>
        ((r.getLong(2) - r.getLong(1)).toDouble / (uHi - uLo).toDouble) *
          ((r.getLong(4) - r.getLong(3)).toDouble / (tHi - tLo).toDouble)
      }.sum / per.length
    }
    val (pa, za) = (meanArea(plain), meanArea(zdir))
    // the z-curve gives every file a LOCAL rectangle; round-robin files
    // span the full plane (area ~= 1)
    assert(za < 0.5 * pa, s"z-order area $za not smaller than plain $pa")
    // data round-trips, the internal code column does not leak
    val back = spark.read.parquet(zdir)
    assert(back.count() === events.count())
    assert(!back.columns.contains("__z"))
    // a point-ish predicate touches FEWER files than the round-robin
    // layout (which spreads every user over all files); with only 8
    // z-files a single user still spans several curve segments, so the
    // contract is strictly-fewer, not a fixed count
    val mid = (uLo + uHi) / 2
    def touched(path: String): Long = spark.read.parquet(path)
      .filter(col("user_id") === mid)
      .select(input_file_name()).distinct().count()
    assert(touched(zdir) < touched(plain),
      s"z point lookup ${touched(zdir)} files vs plain ${touched(plain)}")
  }

  test("semantic ingest: persisted embedding index gates admission; marks equal " +
    "the pure embeddingIncremental probe on the same split") {
    import graft.operators.{Corpus, Dedup}
    import spark.implicits._
    val state = Files.createTempDirectory("graft-semingest").toString
    // the Dedup.embeddingIncremental fixture, as documents: index side =
    // ids % 10 != 0 (one-hot directions e_id), batch side = {0, 10, 20}
    // with 0 a near-paraphrase of index 7, 20 an exact twin of index 5,
    // 10 a novel direction
    def onehot(d: Int, extra: (Int, Float)*) =
      Array.tabulate(64)(i => extra.toMap.getOrElse(i, if (i == d) 1f else 0f))
    def doc(id: Long, vec: Array[Float]) =
      (id, s"unique text $id", "en", "t", 14L, vec.toSeq)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "embedding")
    val idxRows = ((1L to 9L) ++ (11L to 19L)).map(id => doc(id, onehot(id.toInt)))
    val batchRows = Seq(
      doc(0L, onehot(7, 50 -> 0.1f)), // near-dup of index 7
      doc(10L, onehot(40)),           // novel
      doc(20L, onehot(5)))            // exact embedding twin of index 5
    val b1 = idxRows.toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, b1, state) === idxRows.size.toLong)
    // index live: quantizer + one embcells dir per documents batch
    val live1 = graft.sources.Manifest.live(spark, state)
    assert(live1.count(_.startsWith("quantizer/")) === 1)
    assert(live1.count(_.startsWith("embcells/")) ===
      live1.count(_.startsWith("documents/")))

    // the stateful gate must mark exactly what the pure probe marks on
    // the equivalent split (same vectors, same quantizer training side)
    val probe = Dedup.embeddingIncremental(
      (idxRows ++ batchRows).map(r => (r._1, r._6)).toDF("vec_id", "embedding"))
      .collect()
    val expectReject = probe.filter(!_.getAs[Boolean]("admit"))
      .map(_.getAs[Long]("new_vec")).toSet
    val expectAdmit = probe.filter(_.getAs[Boolean]("admit"))
      .map(_.getAs[Long]("new_vec")).toSet
    assert(expectReject === Set(0L, 20L) && expectAdmit === Set(10L),
      s"fixture sanity: got reject=$expectReject admit=$expectAdmit")
    val b2 = batchRows.toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, b2, state) === expectAdmit.size.toLong)
    val docsAfter = Corpus.documents(spark, state).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(docsAfter === idxRows.map(_._1).toSet ++ expectAdmit)

    // refresh mutex fails loudly under a held lease, like the sig index
    val held = graft.sources.Manifest.acquireLease(spark, state, "embidx_refresh")
    val ex = intercept[java.io.IOException] {
      Corpus.refreshEmbeddingIndex(spark, state, mutexWaitMs = 300L)
    }
    assert(ex.getMessage.contains("embidx_refresh"))
    graft.sources.Manifest.releaseLease(spark, state, held)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 0L)
  }

  test("semantic ingest: quantizer retrains when the corpus doubles and the " +
    "whole index swaps generations atomically") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-semretrain").toString
    def doc(id: Long, vec: Seq[Float]) =
      (id, s"text $id", "en", "t", 7L, vec)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "embedding")
    // one-hot directions must stay DISTINCT across batches (64 dims) or
    // the gate correctly rejects the "novel" docs as exact twins
    def vec(dim: Int) = Array.tabulate(64)(i => if (i == dim) 1f else 0f).toSeq
    val b1 = (1L to 10L).map(id => doc(id, vec(id.toInt))).toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, b1, state) === 10L)
    val q1 = Manifest.live(spark, state).find(_.startsWith("quantizer/")).get
    assert(Manifest.meta(spark, state)("emb_quantizer_n") === "10")

    // +5 novel docs: corpus 15 < 2×10 → same quantizer generation, the
    // new batch's cells simply append
    val b2 = (21L to 25L).map(id => doc(id, vec(id.toInt))).toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, b2, state) === 5L)
    assert(Manifest.live(spark, state).find(_.startsWith("quantizer/")).get === q1)
    assert(Manifest.meta(spark, state)("emb_quantizer_n") === "10",
      "no retrain below the growth factor: trained-count records the TRAINING corpus")

    // +15 novel docs: corpus 30 ≥ 2×10 → the trailing refresh retrains;
    // quantizer swaps, trained-count updates, and EVERY live batch's
    // cells carry the new generation suffix
    val b3 = (30L to 44L).map(id => doc(id, vec(id.toInt))).toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, b3, state) === 15L)
    val live = Manifest.live(spark, state)
    val q2 = live.find(_.startsWith("quantizer/")).get
    assert(q2 !== q1, "quantizer generation must swap on the growth trigger")
    assert(Manifest.meta(spark, state)("emb_quantizer_n") === "30")
    val suffix = "__" + q2.stripPrefix("quantizer/")
    val cellDirs = live.filter(_.startsWith("embcells/"))
    assert(cellDirs.nonEmpty && cellDirs.forall(_.endsWith(suffix)),
      s"stale-generation cells must not stay live: $cellDirs")
    assert(cellDirs.size === live.count(_.startsWith("documents/")))
    // the swapped index covers the whole corpus exactly once
    val indexed = spark.read
      .parquet(cellDirs.map(d => s"$state/$d"): _*)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(indexed === Corpus.documents(spark, state).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("semantic ingest: targeted delete heals the embedding gate") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-semdelete").toString
    def onehot(d: Int, extra: (Int, Float)*) =
      Array.tabulate(64)(i => extra.toMap.getOrElse(i, if (i == d) 1f else 0f)).toSeq
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "embedding")
    val base = (1L to 8L).map(id =>
      (id, s"base text $id", "en", "t", 11L, onehot(id.toInt))).toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, base, state) === 8L)
    // a near-twin of doc 3 is gated out
    val twin = Seq((20L, "twin text", "en", "t", 9L, onehot(3, 50 -> 0.1f)))
      .toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, twin, state) === 0L)
    // right-to-be-forgotten: delete doc 3 → its vector leaves the index
    // (the delete rewrites the touched batch under a new tag; the next
    // refresh drops the orphaned cells and assigns the rewrite), so the
    // same twin legitimately re-admits
    Corpus.deleteDocs(spark, state, Seq(3L))
    val twin2 = Seq((21L, "twin text again", "en", "t", 15L, onehot(3, 50 -> 0.1f)))
      .toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, twin2, state) === 1L)
    // index realigned: one embcells dir per documents dir, all on the
    // live quantizer generation, covering exactly the live corpus
    val live = Manifest.live(spark, state)
    val suffix = "__" + live.find(_.startsWith("quantizer/")).get
      .stripPrefix("quantizer/")
    val cellDirs = live.filter(_.startsWith("embcells/"))
    assert(cellDirs.forall(_.endsWith(suffix)))
    assert(cellDirs.size === live.count(_.startsWith("documents/")))
    val indexed = spark.read.parquet(cellDirs.map(d => s"$state/$d"): _*)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(indexed === Corpus.documents(spark, state).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq)
    assert(!indexed.contains(3L))
  }

  test("semanticTopK: the at-rest index serves queries — planted neighbor " +
    "first, results bounded to probed cells, missing index fails loudly") {
    import graft.operators.Corpus
    import spark.implicits._
    val state = Files.createTempDirectory("graft-semtopk").toString
    def onehot(d: Int, extra: (Int, Float)*) =
      Array.tabulate(64)(i => extra.toMap.getOrElse(i, if (i == d) 1f else 0f)).toSeq
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "embedding")
    // no index yet → loud failure, not silent empty
    intercept[java.io.IOException] {
      Corpus.semanticTopK(spark,
        Seq((0L, onehot(1))).toDF("query_id", "embedding"), state)
    }
    val corpus = (1L to 12L).map(id =>
      (id, s"text $id", "en", "t", 7L, onehot(id.toInt))).toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, corpus, state) === 12L)
    val queries = Seq(
      (100L, onehot(7, 50 -> 0.1f)), // near doc 7
      (101L, onehot(3))              // exactly doc 3
    ).toDF("query_id", "embedding")
    val out = Corpus.semanticTopK(spark, queries, state, k = 3).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ(100L).minBy(_.getAs[Int]("rank")).getAs[Long]("doc_id") === 7L)
    assert(byQ(101L).minBy(_.getAs[Int]("rank")).getAs[Long]("doc_id") === 3L)
    assert(byQ(101L).maxBy(_.getAs[Int]("rank")).getAs[Double]("cosine") <=
      byQ(101L).minBy(_.getAs[Int]("rank")).getAs[Double]("cosine"))
    out.groupBy(r => r.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rows.length),
        s"query $q ranks contiguous")
    }
  }

  test("encode-at-rest embedding index: mixed encoded/hot ADC serving equals " +
    "the never-encoded twin and the fully-encoded state") {
    import graft.operators.Corpus
    import spark.implicits._
    // dense direction vectors (0.05 floor): an all-zero subspace slice
    // would train a zero codebook entry and a zero-norm reconstruction —
    // ADC cosine is undefined there, as in the ephemeral pqTopK
    def onehot(d: Int, extra: (Int, Float)*) =
      Array.tabulate(64)(i =>
        extra.toMap.getOrElse(i, if (i == d) 1f else 0f) + 0.05f).toSeq
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "embedding")
    def doc(id: Long) = (id, s"text $id", "en", "t", 7L, onehot(id.toInt))
    // ids 0..15 present: the deterministic codebook init is the first 16
    val b1 = (0L to 15L).map(doc).toDF(cols: _*)
    val b2 = (20L to 27L).map(doc).toDF(cols: _*)
    val queries = Seq(
      (100L, onehot(7, 50 -> 0.1f)), (101L, onehot(22))).toDF("query_id", "embedding")

    def build(name: String, encodeAfterB1: Boolean): String = {
      val state = Files.createTempDirectory(name).toString
      assert(Corpus.ingestIncremental(spark, b1, state) === 16L)
      assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
      // serving before codebooks exist fails loudly, not silently raw
      intercept[java.io.IOException] {
        Corpus.semanticTopKAdc(spark, queries, state).collect()
      }
      Corpus.initEmbeddingCodebooks(spark, state)
      if (encodeAfterB1) assert(Corpus.encodeEmbeddingIndex(spark, state) === 1L)
      assert(Corpus.ingestIncremental(spark, b2, state) === 8L)
      assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
      state
    }
    // mixed: b1 served from its codes twin, b2 encoded on the fly
    val mixed = build("graft-adcmixed", encodeAfterB1 = true)
    // never-encoded: identical corpus and codebooks (both train on b1),
    // every cell encoded on the fly
    val never = build("graft-adcnever", encodeAfterB1 = false)
    def serve(state: String) =
      Corpus.semanticTopKAdc(spark, queries, state).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("adc_cosine"), r.getAs[Double]("cosine"),
          r.getAs[Int]("rank"))).toSeq
    val gotMixed = serve(mixed)
    assert(gotMixed.nonEmpty && gotMixed === serve(never),
      "mixed encoded/hot ADC serving must equal the never-encoded twin")
    // fully encoded: the second pass covers b2's cells; served bits equal
    assert(Corpus.encodeEmbeddingIndex(spark, mixed) === 1L)
    assert(serve(mixed) === gotMixed,
      "fully-encoded serving must equal the mixed state's")
    assert(Corpus.encodeEmbeddingIndex(spark, mixed) === 0L, "idempotent")
    // with the shortlist wider than every candidate set, the exact
    // re-rank makes ADC serving EQUAL the raw exact probe
    val exact = Corpus.semanticTopK(spark, queries, mixed).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"))).toSeq
    val wide = Corpus.semanticTopKAdc(spark, queries, mixed, rerank = 1000)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"))).toSeq
    assert(wide === exact,
      "rerank >= candidates: ADC serving must equal the exact probe")
  }

  test("encode-at-rest embedding index: a racing ingest survives the encode " +
    "publish and stays served from the hot path until the next pass") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    // dense (0.05 floor) — see the mixed encoded/hot spec
    def onehot(d: Int) =
      Array.tabulate(64)(i => (if (i == d) 1f else 0f) + 0.05f).toSeq
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "embedding")
    def doc(id: Long) = (id, s"text $id", "en", "t", 7L, onehot(id.toInt))
    val state = Files.createTempDirectory("graft-adcrace").toString
    assert(Corpus.ingestIncremental(spark, (0L to 15L).map(doc).toDF(cols: _*),
      state) === 16L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    Corpus.initEmbeddingCodebooks(spark, state)
    // the seam commits a whole ingest between staging and publish — the
    // OCC merge must keep the raced commit AND the staged codes
    val b3 = (30L to 34L).map(doc).toDF(cols: _*)
    assert(Corpus.encodeEmbeddingIndex(spark, state,
      beforePublish = () =>
        assert(Corpus.ingestIncremental(spark, b3, state) === 5L)) === 1L)
    val live = Manifest.live(spark, state)
    assert(live.count(_.startsWith("documents/")) === 2, "raced ingest survives")
    assert(live.count(_.startsWith("embcodes/")) === 1)
    // the raced batch has no cells yet; refresh + encode cover it
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    assert(Corpus.encodeEmbeddingIndex(spark, state) === 1L)
    val served = Corpus.semanticTopKAdc(spark,
      Seq((200L, onehot(32))).toDF("query_id", "embedding"), state, k = 1)
      .collect()
    assert(served.head.getAs[Long]("doc_id") === 32L,
      "the raced batch's docs must be served once covered")
  }

  test("filtered at-rest serving: refresh persists occupancy sidecars, the " +
    "all-cells budget equals exact filtered search, neighbors honor the " +
    "predicate, and unlabeled states fail loudly") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    def onehot(d: Int, extra: (Int, Float)*) =
      Array.tabulate(64)(i => extra.toMap.getOrElse(i, if (i == d) 1f else 0f)).toSeq
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "embedding", "label")
    def doc(id: Long) = (id, s"text $id", "en", "t", 7L, onehot(id.toInt), (id % 2).toInt)
    val state = Files.createTempDirectory("graft-filtsrv").toString
    val b1 = (1L to 16L).map(doc).toDF(cols: _*)
    assert(Corpus.ingestIncremental(spark, b1, state) === 16L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    // one occupancy sidecar per labeled batch, counts = the corpus truth
    def mergedOcc(): Map[(Int, Long), Long] = {
      val live = Manifest.live(spark, state)
      val occDirs = live.filter(_.startsWith("embocc/"))
      assert(occDirs.size === live.count(_.startsWith("documents/")),
        "every labeled batch carries an occupancy sidecar")
      spark.read.parquet(occDirs.map(d => s"$state/$d"): _*)
        .groupBy("label", "cell").agg(sum("n").as("n")).collect()
        .map(r => (r.getAs[Int]("label"), r.getAs[Long]("cell")) ->
          r.getAs[Long]("n")).toMap
    }
    def truthOcc(): Map[(Int, Long), Long] = {
      val live = Manifest.live(spark, state)
      val cellDirs = live.filter(_.startsWith("embcells/"))
      spark.read.parquet(cellDirs.map(d => s"$state/$d"): _*)
        .groupBy("label", "cell").agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getAs[Int]("label"), r.getAs[Long]("cell")) ->
          r.getAs[Long]("n")).toMap
    }
    assert(mergedOcc() === truthOcc())
    // a second labeled ingest + refresh UPDATES the occupancy table
    val b2 = (20L to 29L).map(doc).toDF(cols: _*)
    assert(Corpus.ingestIncremental(spark, b2, state) === 10L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    assert(mergedOcc() === truthOcc())
    assert(mergedOcc().map(_._2).sum === 26L)

    val queries = Seq(
      (100L, onehot(7, 50 -> 0.1f)), (101L, onehot(22))).toDF("query_id", "embedding")
    // targetPct=100 probes every cell holding the label → EXACT filtered
    // search over the committed corpus
    val got = Corpus.semanticTopKFiltered(
      spark, queries, state, targetLabel = 1, k = 5, targetPct = 100).collect()
    assert(got.nonEmpty && got.forall(_.getAs[Int]("label") === 1),
      "every served neighbor must honor the predicate")
    val corpus = Corpus.documents(spark, state)
    val featC = corpus.filter(col("label") === 1).select(
      col("doc_id"), col("label"), col("embedding").as("ce"),
      graft.functions.VectorFunctions.normExact(col("embedding")).as("c_nrm"))
    val featQ = queries.select(col("query_id"), col("embedding").as("qe"),
      graft.functions.VectorFunctions.normExact(col("embedding")).as("q_nrm"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("doc_id"))
    val want = featQ.crossJoin(featC)
      .withColumn("cosine",
        graft.functions.VectorFunctions.dotFold(col("ce"), col("qe")) /
          (col("c_nrm") * col("q_nrm")))
      .withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= 5)
      .select("query_id", "doc_id", "cosine", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    assert(got.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
      r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet === want,
      "all-cells budget must equal the exact filtered search")
    // a tighter budget still never leaks the predicate and stays within
    // the chosen prefix's candidates (subset of the exact result's pool)
    val tight = Corpus.semanticTopKFiltered(
      spark, queries, state, targetLabel = 1, k = 5, targetPct = 50).collect()
    assert(tight.forall(_.getAs[Int]("label") === 1))
    assert(tight.forall(r => r.getAs[Int]("chosen_nprobe") >= 1))

    // unlabeled corpus → descriptive failure, not an opaque plan error
    val plain = Files.createTempDirectory("graft-filtplain").toString
    val cols0 = Seq("doc_id", "text", "lang", "source", "n_chars", "embedding")
    val u = (1L to 8L).map(id => (id, s"t $id", "en", "t", 4L, onehot(id.toInt)))
      .toDF(cols0: _*)
    assert(Corpus.ingestIncremental(spark, u, plain) === 8L)
    assert(Corpus.refreshEmbeddingIndex(spark, plain) === 1L)
    val ex = intercept[java.io.IOException] {
      Corpus.semanticTopKFiltered(spark, queries, plain).collect()
    }
    assert(ex.getMessage.contains("occupancy"))
  }

  test("semantic ingest: the embedding index survives corpus compaction") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-semcompact").toString
    def vec(dim: Int) = Array.tabulate(64)(i => if (i == dim) 1f else 0f).toSeq
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "embedding")
    (0 until 3).foreach { b =>
      val batch = (1L to 4L).map(i => b * 10L + i)
        .map(id => (id, s"text $id", "en", "t", 7L, vec(id.toInt)))
        .toDF(cols: _*)
      assert(Corpus.ingestSemanticNearDup(spark, batch, state) === 4L)
    }
    assert(Manifest.live(spark, state).count(_.startsWith("embcells/")) === 3)
    // compaction folds the three batches into one clustered dir; the
    // per-batch cell dirs orphan and the next refresh re-derives the
    // index from the folded corpus under the SAME quantizer
    Corpus.compactCorpus(spark, state)
    assert(Corpus.refreshEmbeddingIndex(spark, state) >= 1L)
    val live = Manifest.live(spark, state)
    val cellDirs = live.filter(_.startsWith("embcells/"))
    assert(cellDirs.size === live.count(_.startsWith("documents/")))
    val indexed = spark.read.parquet(cellDirs.map(d => s"$state/$d"): _*)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(indexed === Corpus.documents(spark, state).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq)
    // and the healed index still gates: a twin of a compacted doc rejects
    val twin = Seq((99L, "twin", "en", "t", 4L, vec(21)))
      .toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, twin, state) === 0L)
  }

  test("semantic ingest race: exact duplicates stay transactional through the " +
    "fingerprint CAS; the semantic verdict is advisory at the race boundary") {
    import graft.operators.Corpus
    import spark.implicits._
    val state = Files.createTempDirectory("graft-semrace").toString
    def onehot(d: Int, extra: (Int, Float)*) =
      Array.tabulate(64)(i => extra.toMap.getOrElse(i, if (i == d) 1f else 0f)).toSeq
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars", "embedding")
    val base = (1L to 9L).map(id =>
      (id, s"base text $id", "en", "t", 11L, onehot(id.toInt))).toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, base, state) === 9L)

    // competing writer commits BETWEEN this ingest's staging and publish:
    // doc 100 shares doc 31's exact TEXT; doc 101 is an embedding
    // near-twin of doc 32 (different text)
    val competing = Seq(
      (100L, "torn text", "en", "t", 9L, onehot(45)),
      (101L, "competitor twin", "en", "t", 15L, onehot(33, 50 -> 0.1f)))
      .toDF(cols: _*)
    val b = Seq(
      (31L, "torn text", "en", "t", 9L, onehot(40)),
      (32L, "victim twin", "en", "t", 11L, onehot(33)))
      .toDF(cols: _*)
    var fired = false
    val n = Corpus.ingestSemanticNearDup(spark, b, state, beforePublish = () => {
      if (!fired) { // the seam re-fires on retry; inject exactly once
        fired = true
        assert(Corpus.ingestSemanticNearDup(spark, competing, state) === 2L)
      }
    })
    // doc 31 lost the exact-fingerprint race to doc 100 (transactional);
    // doc 32 still landed: its semantic verdict predates the competitor's
    // near-twin 101 — the documented advisory admission semantics
    assert(n === 1L)
    val ids = Corpus.documents(spark, state).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(ids === (1L to 9L).toSet ++ Set(100L, 101L, 32L))
    // both near-twins coexist (eventual consistency); a FOLLOWING ingest
    // of another twin of the same direction is rejected by the now-live
    // index
    val late = Seq((200L, "late twin", "en", "t", 9L, onehot(33, 51 -> 0.1f)))
      .toDF(cols: _*)
    assert(Corpus.ingestSemanticNearDup(spark, late, state) === 0L)
  }

  test("mortonCode interleaves bits exactly") {
    import spark.implicits._
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L)).toDF("a", "b")
      .select(Layout.mortonCode(col("a"), col("b"), bits = 4).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // (3,5): a=0011 -> bits 0,2 ; b=0101 -> bits 1,5 => 1+4+2+32 = 39
    assert(out === Seq(0L, 1L, 2L, 39L))
  }

  // dense direction vectors (0.05 floor — see the encode-at-rest spec)
  // shared by the takedown / filtered-ADC / residual suites below
  private def denseHot(d: Int, extra: (Int, Float)*) =
    Array.tabulate(64)(i =>
      extra.toMap.getOrElse(i, if (i == d) 1f else 0f) + 0.05f).toSeq
  private val labeledCols =
    Seq("doc_id", "text", "lang", "source", "n_chars", "embedding", "label")
  private def labeledDoc(id: Long) =
    (id, s"text $id", "en", "t", 7L, denseHot(id.toInt), (id % 2).toInt)

  test("takedown purge: deleteDocs removes the doc from every at-rest " +
    "serving path and the streaming gate IN THE SAME PUBLISH, no refresh " +
    "needed, and survivors stay searchable") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-takedown").toString
    // two batches, labels declared, codebooks + codes at rest
    assert(Corpus.ingestIncremental(spark,
      (0L to 15L).map(labeledDoc).toDF(labeledCols: _*), state) === 16L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    Corpus.initEmbeddingCodebooks(spark, state)
    assert(Corpus.encodeEmbeddingIndex(spark, state) === 1L)
    assert(Corpus.ingestIncremental(spark,
      (20L to 27L).map(labeledDoc).toDF(labeledCols: _*), state) === 8L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    assert(Corpus.encodeEmbeddingIndex(spark, state) === 1L)
    val q = Seq((500L, denseHot(22))).toDF("query_id", "embedding")
    // sanity: doc 22 is the top hit on every serving path before delete
    assert(Corpus.semanticTopK(spark, q, state, k = 3).collect()
      .minBy(_.getAs[Int]("rank")).getAs[Long]("doc_id") === 22L)
    assert(Corpus.semanticTopKAdc(spark, q, state, k = 3).collect()
      .minBy(_.getAs[Int]("rank")).getAs[Long]("doc_id") === 22L)

    assert(Corpus.deleteDocs(spark, state, Seq(22L)) === 1L)
    // NO refresh, no encode between here and the assertions — the
    // takedown window the same-publish purge closes
    val topk = Corpus.semanticTopK(spark, q, state, k = 5).collect()
    assert(topk.nonEmpty && !topk.exists(_.getAs[Long]("doc_id") == 22L),
      "raw probe must not serve the deleted doc")
    val adc = Corpus.semanticTopKAdc(spark, q, state, k = 5).collect()
    assert(adc.nonEmpty && !adc.exists(_.getAs[Long]("doc_id") == 22L),
      "ADC serving must not serve the deleted doc")
    val filt = Corpus.semanticTopKFiltered(
      spark, q, state, targetLabel = 0, k = 5, targetPct = 100).collect()
    assert(filt.nonEmpty && !filt.exists(_.getAs[Long]("doc_id") == 22L),
      "filtered serving must not serve the deleted doc")
    val filtAdc = Corpus.semanticTopKFilteredAdc(
      spark, q, state, Map("label" -> 0), k = 5, targetPct = 100).collect()
    assert(filtAdc.nonEmpty && !filtAdc.exists(_.getAs[Long]("doc_id") == 22L),
      "filtered-ADC serving must not serve the deleted doc")
    // the D31 streaming gate reads the same snapshot: a twin of the
    // deleted vector re-admits immediately (its only match is gone)
    val gate = graft.streaming.Streaming.semanticNearMarksFromState(
      Seq((600L, 1000000L, denseHot(22))).toDF("vec_id", "ts_us", "embedding"),
      state, threshold = 0.9).collect()
    assert(gate.length === 1 && gate.head.getAs[Boolean]("admit"),
      "the streaming gate must not match the deleted doc")
    // survivors of the touched batch stay searchable without a refresh
    val q23 = Seq((501L, denseHot(23))).toDF("query_id", "embedding")
    assert(Corpus.semanticTopKAdc(spark, q23, state, k = 1).collect()
      .head.getAs[Long]("doc_id") === 23L)
    // index invariants hold: one cells dir (+occ twin +codes twin) per
    // documents dir, all on the live generation
    val live = Manifest.live(spark, state)
    val nDocs = live.count(_.startsWith("documents/"))
    assert(live.count(_.startsWith("embcells/")) === nDocs)
    assert(live.count(_.startsWith("embocc/")) === nDocs)
    assert(live.count(_.startsWith("embcodes/")) === nDocs)
    // and the existing heal path still applies on the next refresh
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 0L,
      "the same-publish purge leaves nothing for the refresh to heal")
  }

  test("filtered+ADC serving: full budget and wide rerank equal the exact " +
    "filtered search; the default budget honors the predicate") {
    import graft.operators.Corpus
    import spark.implicits._
    val state = Files.createTempDirectory("graft-filtadc").toString
    assert(Corpus.ingestIncremental(spark,
      (0L to 25L).map(labeledDoc).toDF(labeledCols: _*), state) === 26L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    Corpus.initEmbeddingCodebooks(spark, state)
    assert(Corpus.encodeEmbeddingIndex(spark, state) === 1L)
    val queries = Seq(
      (100L, denseHot(7, 50 -> 0.1f)), (101L, denseHot(22))).toDF("query_id", "embedding")
    def shape(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("chosen_nprobe"),
        r.getAs[Long]("doc_id"), r.getAs[Int]("label"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSeq
    val exact = shape(Corpus.semanticTopKFilteredOn(
      spark, queries, state, Map("label" -> 1), k = 5, targetPct = 100).collect())
    val adc = shape(Corpus.semanticTopKFilteredAdc(
      spark, queries, state, Map("label" -> 1), k = 5, targetPct = 100,
      rerank = 1000).collect())
    assert(adc.nonEmpty && adc === exact,
      "targetPct=100 + rerank >= candidates must equal the exact filtered search")
    // default budget: every served row honors the predicate and ranks
    // are contiguous per query
    val deft = Corpus.semanticTopKFilteredAdc(
      spark, queries, state, Map("label" -> 1), k = 5).collect()
    assert(deft.nonEmpty && deft.forall(_.getAs[Int]("label") === 1))
    deft.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rows.length),
        s"query $qid ranks contiguous")
    }
    // ADC codes-path plumbing is real: adc_cosine present and bounded
    assert(deft.forall(r => math.abs(r.getAs[Double]("adc_cosine")) <= 1.0001))
  }

  test("multi-column predicates: two-column conjunction serves exactly, a " +
    "single declared column still works, an undeclared column refuses loudly") {
    import graft.operators.Corpus
    import spark.implicits._
    val state = Files.createTempDirectory("graft-twocol").toString
    val cols = labeledCols :+ "src"
    def doc2(id: Long) = (id, s"text $id", "en", "t", 7L, denseHot(id.toInt),
      (id % 2).toInt, (id % 3).toInt)
    assert(Corpus.ingestIncremental(spark,
      (0L to 23L).map(doc2).toDF(cols: _*), state) === 24L)
    assert(Corpus.refreshEmbeddingIndex(spark, state,
      predicateCols = Seq("label", "src")) === 1L)
    assert(graft.sources.Manifest.meta(spark, state)("embocc_cols") === "label,src")
    val queries = Seq((100L, denseHot(5))).toDF("query_id", "embedding")
    val got = Corpus.semanticTopKFilteredOn(
      spark, queries, state, Map("label" -> 1, "src" -> 2), k = 5,
      targetPct = 100).collect()
    assert(got.nonEmpty &&
      got.forall(r => r.getAs[Int]("label") == 1 && r.getAs[Int]("src") == 2))
    // exact truth: brute-force filtered top-k over the committed corpus
    val want = Corpus.documents(spark, state)
      .filter(col("label") === 1 && col("src") === 2)
      .crossJoin(queries.select(col("embedding").as("qe")))
      .withColumn("cosine",
        graft.functions.VectorFunctions.dotFold(col("embedding"), col("qe")) /
          (graft.functions.VectorFunctions.normExact(col("embedding")) *
            graft.functions.VectorFunctions.normExact(col("qe"))))
      .orderBy(col("cosine").desc, col("doc_id")).limit(5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("doc_id")).toSeq
      === want, "two-column conjunction must equal the exact filtered search")
    // a SUBSET of the declared columns works (occupancy sums over src)
    val single = Corpus.semanticTopKFilteredOn(
      spark, queries, state, Map("label" -> 0), k = 5, targetPct = 100).collect()
    assert(single.nonEmpty && single.forall(_.getAs[Int]("label") === 0))
    // an undeclared predicate column refuses loudly, naming the declared set
    val ex = intercept[java.io.IOException] {
      Corpus.semanticTopKFilteredOn(
        spark, queries, state, Map("lang" -> 1)).collect()
    }
    assert(ex.getMessage.contains("lang") && ex.getMessage.contains("label,src")
      || ex.getMessage.contains("label, src"))
  }

  test("residual corpus codes: residual ADC with wide rerank equals the exact " +
    "probe, codes differ from the plain twin, and a quantizer retrain " +
    "re-encodes against the new generation") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    def build(residual: Boolean): String = {
      val state = Files.createTempDirectory(
        if (residual) "graft-rescorp" else "graft-plaincorp").toString
      assert(Corpus.ingestIncremental(spark,
        (0L to 19L).map(labeledDoc).toDF(labeledCols: _*), state) === 20L)
      assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
      Corpus.initEmbeddingCodebooks(spark, state, byResidual = residual)
      assert(Corpus.encodeEmbeddingIndex(spark, state) === 1L)
      state
    }
    val res = build(residual = true)
    val plain = build(residual = false)
    assert(Manifest.meta(spark, res)("embpq_residual") === "1")
    assert(Manifest.meta(spark, plain)("embpq_residual") === "0")
    // the persisted code words actually differ (residual vs raw target)
    def codesOf(state: String): Map[Long, Seq[Int]] = {
      val dirs = Manifest.live(spark, state).filter(_.startsWith("embcodes/"))
      spark.read.parquet(dirs.map(d => s"$state/$d"): _*).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getSeq[Int](r.fieldIndex("codes")).toSeq).toMap
    }
    assert(codesOf(res) !== codesOf(plain),
      "residual encoding must produce different code words")
    // wide rerank: BOTH states equal the exact probe (the re-rank
    // guarantee is encoding-independent)
    val queries = Seq(
      (100L, denseHot(7, 50 -> 0.1f)), (101L, denseHot(13))).toDF("query_id", "embedding")
    def served(state: String) = Corpus.semanticTopKAdc(
      spark, queries, state, rerank = 1000).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"))).toSeq
    def exact(state: String) = Corpus.semanticTopK(spark, queries, state).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"))).toSeq
    assert(served(res) === exact(res))
    assert(served(plain) === exact(plain))
    // growth past the retrain factor swaps the quantizer generation; the
    // residual codes twins go missing and the next encode pass
    // RE-ENCODES them against the new generation's centroids
    val q1 = Manifest.live(spark, res).find(_.startsWith("quantizer/")).get
    assert(Corpus.ingestIncremental(spark,
      (30L to 59L).map(labeledDoc).toDF(labeledCols: _*), res) === 30L)
    assert(Corpus.refreshEmbeddingIndex(spark, res) === 2L, "retrain re-assigns both batches")
    assert(Manifest.live(spark, res).find(_.startsWith("quantizer/")).get !== q1)
    assert(Corpus.encodeEmbeddingIndex(spark, res) === 2L,
      "the new generation's cells re-encode in the standard cadence")
    assert(served(res) === exact(res),
      "post-retrain residual serving must still equal the exact probe")
  }

  test("serving pushes the probed cells into the cells/codes parquet scans " +
    "as an In filter (row-group pruning on the clustered dirs)") {
    import graft.operators.Corpus
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val state = Files.createTempDirectory("graft-cellpush").toString
    assert(Corpus.ingestIncremental(spark,
      (0L to 19L).map(labeledDoc).toDF(labeledCols: _*), state) === 20L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    Corpus.initEmbeddingCodebooks(spark, state)
    assert(Corpus.encodeEmbeddingIndex(spark, state) === 1L)
    val queries = Seq((100L, denseHot(7))).toDF("query_id", "embedding")
    def pushed(df: org.apache.spark.sql.DataFrame, expect: String): Unit = {
      val got = df.queryExecution.sparkPlan
        .collect { case s: FileSourceScanExec => s.metadata("PushedFilters") }
      assert(got.exists(p => p.contains(expect)),
        s"no $expect… pushdown in any scan: $got")
    }
    // raw serving paths: the probed-cells In filter reaches the cells scan
    pushed(Corpus.semanticTopK(spark, queries, state), "In(cell")
    pushed(Corpus.semanticTopKFiltered(spark, queries, state), "In(cell")
    // ADC paths MATERIALIZE the shortlist stage (the probed-cells-pushed
    // codes scan executes there, invisible in the final plan); the final
    // plan's visible scan is the exact re-rank's In-pushed raw read
    pushed(Corpus.semanticTopKAdc(spark, queries, state), "In(doc_id")
    pushed(Corpus.semanticTopKFilteredAdc(spark, queries, state), "In(doc_id")
  }

  test("job budget: semanticTopKAdc serves encoded and hot cells within its " +
    "Spark job budget") {
    // the budget is the measured count: the index reads pass their
    // writer's schema (no footer-inference job), the codebooks are sorted
    // on the driver, and the probed cells and shortlist ids are made
    // distinct on the driver (no shuffle)
    import graft.operators.Corpus
    import spark.implicits._
    val state = Files.createTempDirectory("graft-adcjobs").toString
    assert(Corpus.ingestIncremental(spark,
      (0L to 19L).map(labeledDoc).toDF(labeledCols: _*), state) === 20L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    Corpus.initEmbeddingCodebooks(spark, state)
    assert(Corpus.encodeEmbeddingIndex(spark, state) === 1L)
    // ingested after the encode pass: served hot, encoded on the fly
    assert(Corpus.ingestIncremental(spark,
      (20L to 27L).map(labeledDoc).toDF(labeledCols: _*), state) === 8L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    val queries = Seq((100L, denseHot(7)), (101L, denseHot(22))).toDF("query_id", "embedding")
    val (rows, jobs) = jobsOf(Corpus.semanticTopKAdc(spark, queries, state).collect())
    assert(rows.nonEmpty)
    info(s"semanticTopKAdc: ${jobs.size} jobs (budget 12)")
    assert(jobs.size <= 12, s"semanticTopKAdc: ${jobs.size} jobs, budget 12")
  }

  test("job budget: both filtered serving paths read the occupancy and " +
    "cells dirs without a footer-inference job") {
    import graft.operators.Corpus
    import spark.implicits._
    val state = Files.createTempDirectory("graft-filtjobs").toString
    assert(Corpus.ingestIncremental(spark,
      (0L to 19L).map(labeledDoc).toDF(labeledCols: _*), state) === 20L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    Corpus.initEmbeddingCodebooks(spark, state)
    assert(Corpus.encodeEmbeddingIndex(spark, state) === 1L)
    val queries = Seq((100L, denseHot(7)), (101L, denseHot(22))).toDF("query_id", "embedding")
    val (exact, exactJobs) = jobsOf(Corpus.semanticTopKFilteredOn(
      spark, queries, state, Map("label" -> 1)).collect())
    val (adc, adcJobs) = jobsOf(Corpus.semanticTopKFilteredAdc(
      spark, queries, state, Map("label" -> 1)).collect())
    assert(exact.nonEmpty && adc.nonEmpty)
    info(s"semanticTopKFilteredOn: ${exactJobs.size} jobs (budget 13), " +
      s"semanticTopKFilteredAdc: ${adcJobs.size} jobs (budget 19)")
    assert(exactJobs.size <= 13, s"semanticTopKFilteredOn: ${exactJobs.size} jobs, budget 13")
    assert(adcJobs.size <= 19, s"semanticTopKFilteredAdc: ${adcJobs.size} jobs, budget 19")
  }

  test("occupancy backfill: a labeled index whose sidecars are lost is " +
    "backfilled by the next refresh without re-assignment") {
    import graft.operators.Corpus
    import graft.sources.Manifest
    import spark.implicits._
    val state = Files.createTempDirectory("graft-occback").toString
    assert(Corpus.ingestIncremental(spark,
      (0L to 15L).map(labeledDoc).toDF(labeledCols: _*), state) === 16L)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    // simulate an index built before occupancy sidecars existed (or a
    // lost sidecar): drop every embocc entry from the manifest
    Manifest.publishMerge(spark, state) { cur =>
      (cur.live.filterNot(_.startsWith("embocc/")), cur.meta)
    }
    val queries = Seq((100L, denseHot(5))).toDF("query_id", "embedding")
    intercept[java.io.IOException] {
      Corpus.semanticTopKFiltered(spark, queries, state).collect()
    }
    // the refresh treats the missing twin as work: occ aggregates from
    // the EXISTING cells dir (no re-assignment of the batch)
    val cellsBefore = Manifest.live(spark, state).filter(_.startsWith("embcells/"))
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 1L)
    assert(Manifest.live(spark, state).filter(_.startsWith("embcells/"))
      === cellsBefore, "backfill must not rewrite the cells")
    val occDirs = Manifest.live(spark, state).filter(_.startsWith("embocc/"))
    assert(occDirs.size === 1)
    // sidecar counts equal the cells-dir truth, and filtered serving works
    val occ = spark.read.parquet(occDirs.map(d => s"$state/$d"): _*)
      .groupBy("label", "cell").agg(sum("n").as("n")).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("cell")) -> r.getAs[Long]("n"))
      .toMap
    val truth = spark.read.parquet(cellsBefore.map(d => s"$state/$d"): _*)
      .groupBy("label", "cell").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("cell")) -> r.getAs[Long]("n"))
      .toMap
    assert(occ === truth)
    assert(Corpus.semanticTopKFiltered(
      spark, queries, state, targetLabel = 1, targetPct = 100).collect().nonEmpty)
    assert(Corpus.refreshEmbeddingIndex(spark, state) === 0L, "backfill is idempotent")
  }
}
