package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets

/** A minimal committed-files manifest — the transactional-publish protocol
  * the reference gets for free from SQLite (`db_utils.py:185-225` runs its
  * multi-row insert under one connection/transaction) and that parquet
  * directories lack: a multi-directory state change becomes visible to
  * readers in ONE atomic step, or not at all.
  *
  * Layout under a state dir:
  * {{{
  *   <base>/_manifest/v1.txt   #k=v metadata lines, one live data-dir path
  *   <base>/_manifest/v2.txt   (relative) per line, then the `#end` trailer;
  *   ...                       each version fully lists the live set
  * }}}
  *
  * Writers stage data into fresh directories (never touching live ones),
  * then [[publish]] the next manifest version. Publication is an EXCLUSIVE
  * CREATE of `v<N+1>.txt` (`FileSystem.create(overwrite = false)`, atomic
  * on HDFS and create-if-absent on local/object stores): of two racing
  * writers exactly one wins the version slot, the loser gets a clean
  * failure instead of silently overwriting — the compare-and-swap that
  * lets [[publishMerge]] serialize concurrent writers the way SQLite's
  * file lock serializes the reference's (`db_utils.py:8-66`). A file is
  * only COMMITTED once its `#end` trailer is on disk: readers walk
  * versions downward past any trailer-less file, so a writer that crashed
  * mid-write (or a read racing the create) resolves to the previous
  * version — never a torn list. A crash at any earlier point leaves
  * orphan staged directories that no manifest references; [[stale]] finds
  * them for cleanup and readers never see them.
  *
  * Scale notes: the manifest is O(#live dirs) bytes of driver-side metadata
  * — never row data — and one `listStatus` per read; at warehouse scale
  * this is the same shape as a table-format snapshot file (log-structured
  * commits, latest-wins), deliberately without compaction of the version
  * history (old versions are an audit trail and cost bytes).
  */
object Manifest {

  private val DirName = "_manifest"
  private val VersionRe = raw"v(\d+)\.txt".r
  private val End = "#end"

  /** One consistent read of the manifest: `alloc` is the highest version
    * file PRESENT (committed or torn — the next publish goes to
    * `alloc + 1`); `live`/`meta` come from the highest COMMITTED
    * (trailer-terminated) version at or below it. */
  final case class Snapshot(alloc: Long, live: Seq[String], meta: Map[String, String])

  private def fs(spark: SparkSession, base: String): FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(base: String): Path = new Path(base, DirName)

  private def readFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      Iterator
        .continually(in.read(buf))
        .takeWhile(_ > 0)
        .foreach(n => bytes.write(buf, 0, n))
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Parse one version file; None if it lacks the `#end` trailer (torn —
    * its writer crashed mid-write or is still writing). */
  private def parse(text: String): Option[(Seq[String], Map[String, String])] = {
    val lines = text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    if (!lines.lastOption.contains(End)) None
    else {
      val body = lines.dropRight(1)
      val (metaLines, dirLines) = body.partition(_.startsWith("#"))
      val meta = metaLines.map(_.drop(1)).collect {
        case kv if kv.contains('=') =>
          val i = kv.indexOf('=')
          kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap
      Some((dirLines, meta))
    }
  }

  /** Read a consistent [[Snapshot]] of the manifest at `base`. */
  def snapshot(spark: SparkSession, base: String): Snapshot = {
    val f = fs(spark, base)
    val dir = manifestDir(base)
    if (!f.exists(dir)) return Snapshot(0L, Seq.empty, Map.empty)
    val versions = f.listStatus(dir)
      .iterator
      .map(_.getPath.getName)
      .collect { case VersionRe(n) => n.toLong }
      .toSeq
      .sorted(Ordering[Long].reverse)
    val alloc = versions.headOption.getOrElse(0L)
    versions.iterator
      .flatMap(v =>
        try parse(readFile(f, new Path(dir, s"v$v.txt")))
        catch { case _: java.io.FileNotFoundException => None })
      .nextOption() match {
      case Some((dirs, meta)) => Snapshot(alloc, dirs, meta)
      case None               => Snapshot(alloc, Seq.empty, Map.empty)
    }
  }

  /** Highest version file present at `base` (committed or torn), 0 if
    * none — the slot allocator; [[live]] reflects committed versions
    * only. */
  def version(spark: SparkSession, base: String): Long = snapshot(spark, base).alloc

  /** TIME TRAVEL: the snapshot as of a specific committed version.
    * None if that version's file is absent or torn. Version files are
    * never deleted, so the manifest history is complete; the DATA dirs a
    * historical snapshot references remain readable until a compaction
    * or stale-vacuum supersedes them — the standard time-travel vs
    * VACUUM retention tradeoff, and append-only stores (corpus ingest)
    * keep every version readable until their first compaction. */
  def snapshotAt(spark: SparkSession, base: String, version: Long): Option[Snapshot] = {
    val f = fs(spark, base)
    val p = new Path(manifestDir(base), s"v$version.txt")
    if (!f.exists(p)) None
    else
      try parse(readFile(f, p)).map { case (dirs, meta) => Snapshot(version, dirs, meta) }
      catch { case _: java.io.FileNotFoundException => None }
  }

  /** All COMMITTED version numbers at `base`, ascending (torn slots
    * excluded) — the time-travel index. */
  def history(spark: SparkSession, base: String): Seq[Long] = {
    val f = fs(spark, base)
    val dir = manifestDir(base)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir)
      .iterator
      .map(_.getPath.getName)
      .collect { case VersionRe(n) => n.toLong }
      .toSeq
      .sorted
      .filter(v => snapshotAt(spark, base, v).isDefined)
  }

  /** The live data-dir list (paths relative to `base`) of the highest
    * committed version; empty before the first publish. */
  def live(spark: SparkSession, base: String): Seq[String] = snapshot(spark, base).live

  /** The metadata map of the highest committed version. */
  def meta(spark: SparkSession, base: String): Map[String, String] =
    snapshot(spark, base).meta

  /** Compare-and-swap publish: write `liveDirs` (+ `meta`) as version
    * `snap.alloc + 1` via exclusive create. Returns the new version, or
    * None if another writer took the slot first (the caller should
    * re-snapshot, re-merge, and retry — see [[publishMerge]]). */
  def tryPublish(
      spark: SparkSession,
      base: String,
      snap: Snapshot,
      liveDirs: Seq[String],
      meta: Map[String, String] = Map.empty): Option[Long] = {
    require(
      liveDirs.forall(d => !d.contains('\n') && !d.startsWith("#")) &&
        meta.forall { case (k, v) =>
          !(k + v).exists(c => c == '\n' || c == '\r') && !k.contains('=')
        },
      "manifest entries must be newline-free; meta keys must not contain '='")
    val f = fs(spark, base)
    val dir = manifestDir(base)
    if (!f.exists(dir)) f.mkdirs(dir)
    val next = snap.alloc + 1
    val target = new Path(dir, s"v$next.txt")
    val content =
      (meta.toSeq.sorted.map { case (k, v) => s"#$k=$v" } ++ liveDirs :+ End)
        .mkString("", "\n", "\n")
    val out =
      try f.create(target, false) // exclusive: fails if the slot is taken
      catch {
        case e: java.io.IOException =>
          if (f.exists(target)) return None // lost the slot race
          else throw e
      }
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    Some(next)
  }

  /** Atomically publish `liveDirs` as the next manifest version; returns
    * the new version number. This is the ONLY visibility point: everything
    * written before this call is invisible to [[live]]-based readers until
    * the trailer-terminated version file lands, and a crash before (or
    * during) the write leaves committed state unchanged. Throws if a
    * concurrent writer takes the version slot — single-writer callers
    * treat that as corruption; concurrent writers use [[publishMerge]]. */
  def publish(
      spark: SparkSession,
      base: String,
      liveDirs: Seq[String],
      meta: Map[String, String] = Map.empty): Long =
    tryPublish(spark, base, snapshot(spark, base), liveDirs, meta).getOrElse(
      throw new java.io.IOException(
        s"manifest publish lost the version race at $base — " +
          "concurrent writers must publish via publishMerge"))

  /** Optimistic-concurrency publish: re-reads the manifest, applies
    * `merge` to the current snapshot, and CAS-publishes — retrying the
    * whole read-merge-write cycle when another writer wins the slot, so N
    * concurrent writers serialize (each commit lands exactly once, built
    * on its predecessor's live set) instead of failing or overwriting.
    * `merge` must be pure (it re-runs on every attempt). */
  def publishMerge(spark: SparkSession, base: String, maxAttempts: Int = 16)(
      merge: Snapshot => (Seq[String], Map[String, String])): Long = {
    var attempt = 0
    while (true) {
      val snap = snapshot(spark, base)
      val (dirs, meta) = merge(snap)
      tryPublish(spark, base, snap, dirs, meta) match {
        case Some(v) => return v
        case None =>
          attempt += 1
          if (attempt >= maxAttempts)
            throw new java.io.IOException(
              s"manifest publishMerge lost $maxAttempts consecutive races at $base")
      }
    }
    0L // unreachable
  }

  // ---------------------------------------------------------------- leases

  private val LeaseDirName = "leases"
  private val LeaseRe = raw"(.+)\.txt".r

  /** A writer's vacuum shield. While a lease is unexpired, [[stale]]
    * refuses to report any orphan directory modified at or after its
    * `acquiredMs` — so one run's recovery sweep can never delete another
    * run's in-flight staging, with NO grace-period tuning. The protocol:
    * acquire BEFORE creating the first staged directory (every staged dir
    * then has modTime ≥ acquiredMs on the store's clock), renew if staging
    * may outlive `ttlMs`, release after publish (or abort). A crashed
    * writer's lease simply expires, after which its leftovers become
    * vacuumable — the role SQLite's connection lifetime plays for the
    * reference (`db_utils.py:8-66`). */
  final case class Lease(owner: String, acquiredMs: Long, expiresMs: Long)

  private def leaseDir(base: String): Path = new Path(manifestDir(base), LeaseDirName)

  /** Lease files are written and read through the raw file system: no
    * `.crc` sidecar, whose separate rename under a checksummed store would
    * let a reader pair a new lease with the old checksum. The `#end`
    * trailer is the lease's own integrity check. Deletes go through the
    * checksummed store, which also drops a sidecar an older writer left. */
  private def leaseFs(spark: SparkSession, base: String): FileSystem =
    fs(spark, base) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** Acquisition is an exclusive create. A renewal writes a sibling that
    * [[LeaseRe]] does not match and renames it over the lease, so a
    * concurrent reader sees the old lease or the new one whole, never a
    * truncated file (where the store's rename replaces atomically: POSIX
    * local, HDFS). */
  private def writeLease(f: FileSystem, base: String, l: Lease, exclusive: Boolean): Unit = {
    val p = new Path(leaseDir(base), s"${l.owner}.txt")
    val target =
      if (exclusive) p
      else new Path(leaseDir(base), s".${l.owner}.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(target, false)
    try out.write(
      s"#acquired=${l.acquiredMs}\n#expires=${l.expiresMs}\n$End\n"
        .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // FileSystem.rename refuses an existing target on HDFS; FileContext's
    // OVERWRITE rename is that store's atomic replace
    if (!exclusive && !f.rename(target, p))
      org.apache.hadoop.fs.FileContext.getFileContext(f.getUri, f.getConf)
        .rename(target, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Acquire a vacuum lease for `owner` (a unique writer tag) lasting
    * `ttlMs`. Exclusive-create: a duplicate owner tag fails fast. Callers
    * acquire BEFORE staging their first directory and [[releaseLease]] in
    * a finally block after publishing. */
  def acquireLease(
      spark: SparkSession,
      base: String,
      owner: String,
      ttlMs: Long = 15 * 60 * 1000L): Lease = {
    require(!owner.contains('/') && !owner.contains('\n'), s"bad lease owner: $owner")
    val f = leaseFs(spark, base)
    if (!f.exists(leaseDir(base))) f.mkdirs(leaseDir(base))
    val now = System.currentTimeMillis()
    val l = Lease(owner, now, now + ttlMs)
    writeLease(f, base, l, exclusive = true)
    l
  }

  /** Heartbeat: extend the lease's expiry by `ttlMs` from now, keeping the
    * original acquisition time (the vacuum cutoff).
    *
    * HEARTBEAT FENCING: the write replaces whatever file is there, so an
    * overrunning holder whose expired lease was already reaped and
    * re-acquired by a waiting peer would otherwise write its own
    * `acquiredMs` token back over the usurper's — re-arming its own
    * [[holdsLease]] fence while both interleave writes on the same staged
    * dirs. The renew therefore refuses to overwrite a DIFFERENT
    * acquisition (throws `IOException`; the caller aborts like a failed
    * pre-publish fence). A missing file — reaped on expiry but not yet
    * re-acquired — is safely re-created with the original token: there is
    * no competing acquisition to steal from. A torn/unparseable file is
    * not provably ours, so it also aborts (safe side). */
  def renewLease(spark: SparkSession, base: String, lease: Lease, ttlMs: Long): Lease = {
    val f = leaseFs(spark, base)
    val p = new Path(leaseDir(base), s"${lease.owner}.txt")
    val usurped =
      try f.exists(p) && !parse(readFile(f, p)).exists { case (_, meta) =>
        meta.get("acquired").map(_.toLong).contains(lease.acquiredMs)
      }
      catch { case scala.util.control.NonFatal(_) => true }
    if (usurped)
      throw new java.io.IOException(
        s"lease ${lease.owner} at $base was reaped and re-acquired by " +
          "another holder mid-run; aborting heartbeat instead of stealing " +
          "the lease back")
    val renewed = lease.copy(expiresMs = System.currentTimeMillis() + ttlMs)
    writeLease(f, base, renewed, exclusive = false)
    renewed
  }

  /** Release (delete) the lease — its staged dirs are either published
    * (live, vacuum-proof) or abandoned (vacuumable immediately). */
  def releaseLease(spark: SparkSession, base: String, lease: Lease): Unit =
    fs(spark, base).delete(new Path(leaseDir(base), s"${lease.owner}.txt"), false)

  /** FENCING check: does the lease file at `base` still record THIS
    * acquisition? `acquiredMs` is the fencing token — [[renewLease]]
    * preserves it, while a usurper that reaped an expired file and
    * re-acquired the same owner tag writes its OWN acquisition time — so
    * a holder that may have overrun its TTL calls this immediately
    * before its commit/publish and ABORTS on false instead of
    * interleaving writes with the new holder. A torn/unparseable file
    * reads as not-held (abort is the safe side of that race). */
  def holdsLease(spark: SparkSession, base: String, lease: Lease): Boolean = {
    val f = leaseFs(spark, base)
    val p = new Path(leaseDir(base), s"${lease.owner}.txt")
    if (!f.exists(p)) return false
    try parse(readFile(f, p)).exists { case (_, meta) =>
      meta.get("acquired").map(_.toLong).contains(lease.acquiredMs)
    }
    // NonFatal, not just IOException: a #end-terminated file with a
    // non-numeric #acquired throws NumberFormatException from .toLong —
    // the documented torn-file contract (reads as not-held) must cover it
    // too, or the throw masks the caller's original failure when
    // holdsLease runs inside a finally block.
    catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Unexpired leases at `base`; expired lease files are deleted lazily
    * here (torn/unparseable ones — a crash mid-acquisition, a damaged
    * file — count as active until their file ages past an hour: an
    * unreadable lease must not unshield a live writer). */
  def activeLeases(spark: SparkSession, base: String): Seq[Lease] = {
    val f = leaseFs(spark, base)
    def reap(p: Path): Unit = fs(spark, base).delete(p, false)
    val dir = leaseDir(base)
    if (!f.exists(dir)) return Seq.empty
    val now = System.currentTimeMillis()
    f.listStatus(dir).iterator.flatMap { s =>
      s.getPath.getName match {
        case LeaseRe(owner) =>
          val parsed =
            try parse(readFile(f, s.getPath)).map { case (_, meta) =>
              Lease(owner,
                meta.get("acquired").map(_.toLong).getOrElse(s.getModificationTime),
                meta.get("expires").map(_.toLong).getOrElse(Long.MaxValue))
            }
            // NonFatal: a non-numeric #acquired/#expires value must take
            // the torn-file branch below, not propagate from .toLong
            catch { case scala.util.control.NonFatal(_) => None }
          parsed match {
            case Some(l) if l.expiresMs > now => Some(l)
            case Some(_)                      => reap(s.getPath); None
            case None => // torn: treat as active for an hour
              if (s.getModificationTime < now - 60 * 60 * 1000L) {
                reap(s.getPath); None
              } else Some(Lease(owner, s.getModificationTime, now + 1))
          }
        case _ => None
      }
    }.toSeq
  }

  /** Staged-but-unpublished (orphan) directories: subdirectories of
    * `base/<table>` for the given tables that no live manifest entry
    * references — crash leftovers, safe to delete before re-staging.
    *
    * Two shields keep a CONCURRENT writer's in-flight staging out of the
    * report: any orphan modified at or after the earliest active
    * [[Lease]]'s acquisition is skipped (the default protection — writers
    * that follow the acquire-before-stage protocol need no tuning), and
    * `graceMs` > 0 additionally keeps recently-modified orphans
    * (defense-in-depth for writers that stage without a lease). */
  def stale(
      spark: SparkSession,
      base: String,
      tables: Seq[String],
      graceMs: Long = 0L): Seq[String] = {
    val f = fs(spark, base)
    val liveSet = live(spark, base).toSet
    val now = System.currentTimeMillis()
    val graceCutoff = now - graceMs
    val leaseCutoff = activeLeases(spark, base)
      .map(_.acquiredMs).minOption.getOrElse(Long.MaxValue)
    val cutoff = math.min(leaseCutoff, if (graceMs > 0L) graceCutoff else Long.MaxValue)
    tables.flatMap { t =>
      val tDir = new Path(base, t)
      if (!f.exists(tDir)) Seq.empty
      else
        f.listStatus(tDir)
          .iterator
          .filter(s => s.isDirectory && s.getModificationTime < cutoff)
          .map(s => s"$t/${s.getPath.getName}")
          .filterNot(liveSet.contains)
          .toSeq
    }
  }

  /** Delete all [[stale]] staged directories (crash recovery at the start
    * of a writer run). Lease-shielded and grace-shielded dirs survive. */
  def cleanStale(
      spark: SparkSession,
      base: String,
      tables: Seq[String],
      graceMs: Long = 0L): Unit = {
    val f = fs(spark, base)
    stale(spark, base, tables, graceMs).foreach(rel => f.delete(new Path(base, rel), true))
  }
}
