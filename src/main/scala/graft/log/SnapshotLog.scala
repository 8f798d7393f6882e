package graft.log

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.JsonMethods.parse
import org.json4s.jackson.Serialization

/**
 * One committed version of a table.
 *
 * Mirrors the snapshot fields the reference exposes from Iceberg's
 * `$snapshots` metadata relation (`api_poc.py:426-429,490-492`:
 * snapshot_id / parent_id / committed_at / operation), re-expressed as a
 * native JSON manifest so no lakehouse connector is needed.
 *
 * `dataDirs` is the FULL set of data directories (relative to the table
 * root) that make up this version — append commits carry the parent's dirs
 * plus one new dir; overwrite / merge / delete commits carry only the
 * newly written dir (copy-on-write). Storing the full set keeps time-travel
 * reads O(1): no chain walking, one manifest read resolves the file list,
 * which matters when the log is long and the table has thousands of files.
 */
case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    committedAt: String, // ISO-8601 UTC instant
    operation: String, // create | overwrite | append | upsert | delete | update
    schemaJson: String, // StructType.json of this version's schema
    dataDirs: Seq[String],
    summary: Map[String, String] = Map.empty,
    // Idempotence token for streaming foreachBatch retries (SURVEY §7
    // hard part (a)): a commit with an already-seen batchKey is a no-op.
    batchKey: Option[String] = None,
    // Per-dir record counts (bucketed tables): lets a partial rewrite
    // carry forward untouched dirs' counts without rescanning them.
    dirRecords: Map[String, Long] = Map.empty,
    // Merge-on-read delta dirs, oldest first: unresolved keyed upsert/delete
    // batches appended by `upsertDeferred`; folded into dataDirs by compact().
    deltaDirs: Seq[String] = Seq.empty,
    // Rolling window of the batchKeys of the last `retainVersions` commits
    // (this commit's included), carried forward so the idempotence check is
    // ONE manifest read instead of re-reading every retained manifest per
    // commit — 100 small JSON reads per commit is fine on local disk but
    // chatty on object storage. The window equals manifest retention, so
    // the dedupe horizon is unchanged from the scan-them-all behavior.
    recentBatchKeys: Seq[String] = Seq.empty,
    // Per-dir column min/max statistics ("<col>:min" / "<col>:max" →
    // stringified value; types recovered from schemaJson), harvested from
    // the parquet footers the writer already opens. Powers manifest-level
    // data skipping: a range read intersects [min, max] per dir BEFORE
    // listing any files — on an append-heavy table whose commits are
    // time-correlated, a time-window query plans against a handful of dirs
    // instead of thousands. Dirs absent from the map are always read.
    // ON DISK this field (with dataDirs/deltaDirs/dirRecords) lives in a
    // SIDE detail file ([[SnapshotDetail]], Iceberg's manifest-list move):
    // the manifest document itself stays O(1) no matter how many dirs the
    // table accumulates. This case class remains the one in-memory view.
    dirStats: Map[String, Map[String, String]] = Map.empty) {

  /**
   * Bucket-keyed index over [[dataDirs]], built lazily ONCE per parsed
   * snapshot and cached with the instance (the head cache in
   * [[SnapshotLog.latest]] keeps the same Snapshot across serving calls).
   * A point lookup selects its bucket's dirs in O(dirs-in-bucket) instead
   * of re-walking (and re-regex-matching) the full dir list per call —
   * the linear filter was the last per-lookup O(dirs) term after the head
   * cache landed (~110 ms warm at 100k dirs; ~1 s at the 10^6-dir
   * regime). Dirs without a bucket marker are NOT indexed (same contract
   * as the filters this replaces: bucket-pruned paths read marked leaves
   * only). @transient: lazy state never rides serialization, and json4s
   * sees constructor params only, so the on-disk format is unchanged.
   */
  @transient lazy val dataDirsByBucket: Map[Int, Seq[String]] = {
    val pre = bucketIndexCarry
    if (pre != null) pre
    else {
      val m = scala.collection.mutable.HashMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[String]]
      dataDirs.foreach { d =>
        Snapshot.bucketOfDir(d).foreach(b =>
          m.getOrElseUpdate(b,
            scala.collection.mutable.ArrayBuffer.empty[String]) += d)
      }
      val out = m.view.mapValues(_.toSeq).toMap
      bucketIndexCarry = out
      out
    }
  }

  /** Pre-built (or post-built) form of [[dataDirsByBucket]]: the
    * incremental head-change compose in [[SnapshotLog.readManifest]]
    * CARRIES the parent's materialized index forward with the O(delta)
    * adjustments, so a serving instance's first lookup after a commit
    * skips the O(dirs) rebuild too. Set before first access when carried;
    * set by the lazy build otherwise (which is how the compose learns the
    * parent's index was ever materialized). @transient var: never rides
    * serialization or the on-disk format. */
  @transient @volatile private[graft] var bucketIndexCarry: Map[Int, Seq[String]] = null

  /** [[dataDirsByBucket]] union over a bucket set, in bucket order —
    * the serving paths' replacement for `dataDirs.filter(bucket ∈ set)`. */
  def dataDirsInBuckets(buckets: Set[Int]): Seq[String] =
    buckets.toSeq.sorted.flatMap(b => dataDirsByBucket.getOrElse(b, Nil))

  /** Per-column parsed min/max stat arrays, aligned to [[dataDirs]] order
    * (null = no stats for that dir+column), built once per snapshot
    * instance by the first range/point plan touching the column and
    * reused by every later plan — see `GraftTable.statPrunedDirs`.
    * @transient like the bucket index: never rides serialization. */
  @transient private lazy val statArraysCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Array[AnyRef], Array[AnyRef])]
  private[graft] def statArrays(col: String,
      build: => (Array[AnyRef], Array[AnyRef])): (Array[AnyRef], Array[AnyRef]) =
    statArraysCache.computeIfAbsent(col, _ => build)
}

object Snapshot {
  /** Anchored bucket-leaf parse, shared with the index above: the dir's
    * trailing `__bucket=<n>` segment, None for any other shape (regex-free
    * — at index-build time this runs once per dir, and a million regex
    * matches were most of the build). */
  def bucketOfDir(dir: String): Option[Int] = {
    val i = dir.lastIndexOf("__bucket=")
    if (i < 0) None
    else {
      val digits = dir.substring(i + 9)
      if (digits.nonEmpty && digits.forall(c => c >= '0' && c <= '9'))
        digits.toIntOption
      else None
    }
  }
}

/** A committed write lost the optimistic-concurrency race; the caller must
  * re-derive its commit content against the new head and retry. */
final class CommitConflictException(msg: String) extends RuntimeException(msg) {
  CommitConflictException.total.incrementAndGet()
}

object CommitConflictException {
  /** Process-wide conflict counter (diagnostics: the CAS-contention scale
    * probe prices retry cost under concurrent writers with it). */
  val total = new java.util.concurrent.atomic.AtomicLong
}

object SnapshotLog {
  /** Segment-chain cap: a commit whose detail chain would exceed this
    * folds back to one self-contained document. Bounds the manifest
    * core's segment list (~30 B/name) and a cold reader's segment fetch
    * fan-out; at one fold per 64 commits the amortized write stays
    * O(delta). */
  val maxDetailSegments = 64

  /** Fold-shard threshold: a self-contained (fold) detail covering at
    * least this many dirs is written as parallel-parsable shard segments
    * instead of one document. 64k dirs ≈ a ~10 MB detail — below that the
    * single-document parse is already sub-second and extra files would be
    * pure overhead; above it, shard count scales up to 16 (≈62k dirs per
    * shard at the 10⁶-dir regime). */
  val foldShardDirs = 65536

  // Per-tableRoot maintenance mutex: serializes storage-RECLAIM passes
  // (expire, orphan sweep) against the one commit type that re-references
  // OLD dirs (rollback). Ordinary commits never take it — they only
  // reference dirs they just wrote plus the current head's, both immune to
  // reclaim. Deletion can't ride the optimistic CAS protocol (a delete has
  // no claimable manifest), and maintenance verbs all flow through the one
  // catalog process (driver / HTTP server), so a process-local mutex IS the
  // coordination point; a multi-catalog deployment would hoist this to a
  // catalog lock exactly as Iceberg's expire_snapshots does.
  private val maintenanceLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def lockFor(tableRoot: Path): Object =
    maintenanceLocks.computeIfAbsent(
      tableRoot.toAbsolutePath.normalize.toString, _ => new Object)

  /** Process-wide parsed-detail cache, keyed by `path@mtime` (see
    * `detailKey`): detail files are claim-once immutable, so parses are
    * shareable across every SnapshotLog instance — the v2 catalog creates
    * one per loadTable (per SQL statement), and without sharing each
    * statement against a 10⁶-dir table re-parsed the whole chain. Bounded
    * by TOTAL CACHED DIR ENTRIES (not file count — one fold shard can
    * carry 62k dirs) with a clear-all overflow, the same crude-but-bounded
    * policy the per-instance cache used. */
  // var: test hook — the eviction spec lowers the cap to exercise the
  // clear-all path with small tables, then restores it.
  private[graft] var maxSharedSegmentDirs = 4000000L
  private[log] val sharedSegments =
    new java.util.concurrent.ConcurrentHashMap[String, SnapshotDetail]()
  private val sharedSegmentDirs = new java.util.concurrent.atomic.AtomicLong()

  /** Serializes cache MUTATION + accounting (cacheSegment/cacheHead/
    * clearSharedCaches): each is a check-then-act over (map, counter), and
    * a clear landing between another thread's put and its counter update
    * would leave the two permanently disagreeing — cacheHead SUBTRACTS a
    * replaced entry's size, so unrepaired drift can go negative and
    * silently un-bound the cache. Mutations are cold (once per parse /
    * compose, never per-row); lookups stay lock-free on the concurrent
    * maps. */
  private val cacheLock = new Object

  private[log] def cacheSegment(key: String, d: SnapshotDetail): Unit =
    cacheLock.synchronized {
      if (sharedSegmentDirs.get() > maxSharedSegmentDirs) {
        sharedSegments.clear()
        sharedSegmentDirs.set(0L)
      }
      if (sharedSegments.putIfAbsent(key, d) == null)
        sharedSegmentDirs.addAndGet(math.max(1, d.dataDirs.size).toLong)
    }

  /** One composed-head slot per log (table root + branch), (manifest
    * path, mtime)-guarded
    * — see the `latest()` comment. Bounded like [[sharedSegments]]: a
    * composed Snapshot is O(dirs) memory AND pins its parsed segment maps
    * (so the segment cache's own bound alone would not bound the process),
    * and slots are keyed by table root for the JVM lifetime — a long-lived
    * multi-table process (the HTTP server, a bench loop over ephemeral
    * tables) would otherwise accrete one full head per table ever touched.
    * Same crude-but-bounded clear-all policy; per-slot replacement
    * (the common single-table commit cadence) adjusts the count instead
    * of growing it. */
  private[graft] var maxSharedHeadDirs = 4000000L
  private[graft] val sharedHeads = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Option[Long], Snapshot)]()
  private[graft] val sharedHeadDirs = new java.util.concurrent.atomic.AtomicLong()
  private[log] def cacheHead(
      slot: String, entry: (String, Option[Long], Snapshot)): Unit =
    cacheLock.synchronized {
      val add = math.max(1, entry._3.dataDirs.size).toLong
      if (sharedHeadDirs.get() + add > maxSharedHeadDirs) {
        sharedHeads.clear()
        sharedHeadDirs.set(0L)
      }
      val prev = sharedHeads.put(slot, entry)
      val rem = if (prev == null) 0L else math.max(1, prev._3.dataDirs.size).toLong
      sharedHeadDirs.addAndGet(add - rem)
    }

  /** Last orphan-sweep wall millis per log dir — the throttle state for
    * [[SnapshotLog.expireOldManifests]]'s grace-gated GC. Process-wide for
    * the same reason the parse/head caches are: per-statement instances
    * would each sweep "for the first time". One (string, long) entry per
    * log past retention; the crude size guard only exists for processes
    * churning unbounded ephemeral tables. */
  private[log] val lastSweeps =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Process-wide count of WON commits (any table). Purpose: lets an
    * in-process observer (the bench's under-ingest probe) detect "a commit
    * landed since I last checked" without touching the store — its
    * previous per-sample log-dir listing added steady metadata I/O to the
    * very path it was measuring, and its post-lookup placement could flag
    * the pre-commit sample. Monotonic, never read for correctness. */
  private[graft] val commitTick = new java.util.concurrent.atomic.AtomicLong()

  /** Test/probe hook: forget every shared parse so a "cold open" measures
    * the real fresh-process path instead of another instance's work. */
  private[graft] def clearSharedCaches(): Unit = cacheLock.synchronized {
    sharedSegments.clear()
    sharedSegmentDirs.set(0L)
    sharedHeads.clear()
    sharedHeadDirs.set(0L)
  }

  /** Shared daemon pool for metadata fan-out (segment parses, shard
    * claims). ONE pool per JVM — per-call `newFixedThreadPool`s churned
    * ~100 short-lived pools per `snapshots()` scan (thread create/
    * teardown, non-daemon threads briefly pinning JVM shutdown), and a
    * per-log-instance pool would leak 32 idle threads per table in
    * instance-heavy workloads (benches, multi-table pipelines). Daemon
    * threads + never shut down. CONSTRAINT: a task submitted here must
    * never block on another task submitted here (all current uses are
    * flat fan-outs awaited from caller threads). */
  private[log] lazy val metaPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, Runtime.getRuntime.availableProcessors()),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-log-meta-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** The detail-format revision this build reads and writes. History:
    * revision 1 = JSON details (pre-r17); revision 2 = binary `GDT1`
    * details (r17); revision 3 = `GDT2` details (r18): the `GDT1` body
    * plus a mandatory trailing CRC32, so corruption is detected
    * deterministically instead of relying on structural guards to trip.
    * Only revision 3 is read or written; an older document is refused by
    * name (see [[parseDetailBytes]]). Every manifest core stamps
    * `minReader = ReaderRevision`; [[SnapshotLog#parseManifest]] refuses
    * any core demanding more than this constant, so a future revision 4
    * fails THIS build with "log requires reader revision ≥ 4" instead of a
    * byte-level parse error. */
  private[graft] val ReaderRevision = 3

  /** Binary detail documents start with this magic (`GDT2`, revision 3,
    * trailing CRC32). The older encodings — `GDT1` (revision 2) and JSON
    * (revision 1, a leading '{') — are recognized only to be refused. */
  private val DetailMagic1 = Array[Byte]('G', 'D', 'T', '1')
  private val DetailMagic2 = Array[Byte]('G', 'D', 'T', '2')

  /** Parse a `GDT2` SnapshotDetail document — the format
    * [[writeDetailBytes]] emits: each dir is stated
    * ONCE with its record count and stats inline (the JSON form repeated
    * every dir name three times — dataDirs array, dirRecords key, dirStats
    * key — which tripled both bytes and string allocations), stat KEYS are
    * dictionary-coded (a 10⁶-dir table carries the same handful of
    * "col:min"/"col:max" keys a million times each), and the result's
    * dirRecords/dirStats are [[ArrayDirMap]]s — parallel arrays, ZERO hash
    * building at parse time; `get` forces a one-time index, iteration
    * never does. Measured (r17, 10⁶ dirs): 147 MB JSON →
    * 56 MB binary; parse 3.5-5 s → sub-second, and the remaining cost is
    * the inner per-dir stats Maps, not tokenization or top-level maps. */
  private def magicIs(bytes: Array[Byte], m: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == m(0) && bytes(1) == m(1) &&
      bytes(2) == m(2) && bytes(3) == m(3)

  private[graft] def parseDetailBytes(bytes: Array[Byte]): SnapshotDetail = {
    if (!magicIs(bytes, DetailMagic2)) {
      val era =
        if (magicIs(bytes, DetailMagic1)) "a GDT1 (revision 2) document"
        else if (bytes.nonEmpty && bytes(0) == '{') "a JSON (revision 1) document"
        else "not a GDT2 document"
      throw new IllegalStateException(
        s"detail document is $era; this build reads only detail revision " +
          s"$ReaderRevision (GDT2). Logs written before revision " +
          s"$ReaderRevision are not readable; rebuild the table.")
    }
    parseBinaryDetail(bytes)
  }

  private def parseBinaryDetail(bytes: Array[Byte]): SnapshotDetail = {
    // Verify the trailing CRC32 over everything before it FIRST — any
    // flipped bit or truncation fails here with one deterministic message,
    // before body decoding can act on damaged lengths.
    require(bytes.length >= 8,
      s"detail document corrupt: ${bytes.length} bytes is shorter than " +
        "the GDT2 magic + checksum")
    val bodyEnd = bytes.length - 4
    val crc = new java.util.zip.CRC32()
    crc.update(bytes, 0, bodyEnd)
    val stored = ((bytes(bodyEnd) & 0xffL) << 24) |
      ((bytes(bodyEnd + 1) & 0xffL) << 16) |
      ((bytes(bodyEnd + 2) & 0xffL) << 8) |
      (bytes(bodyEnd + 3) & 0xffL)
    require(crc.getValue == stored,
      f"detail document corrupt: CRC32 mismatch (stored $stored%08x, " +
        f"computed ${crc.getValue}%08x over $bodyEnd bytes)")
    var pos = 4
    def vint(): Long = {
      var shift = 0; var r = 0L
      while (true) {
        val b = bytes(pos); pos += 1
        r |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return r
        shift += 7
      }
      r
    }
    def zig(): Long = { val n = vint(); (n >>> 1) ^ -(n & 1L) }
    // Corruption guard: a count/length exceeding the document itself can
    // only be a damaged file — fail the parse loudly instead of attempting
    // a multi-GB allocation (every counted element occupies >= 1 byte).
    def cnt(): Int = {
      val n = vint()
      require(n >= 0 && n <= bodyEnd - pos,
        s"detail document corrupt: count/length $n at offset $pos " +
          s"exceeds remaining ${bodyEnd - pos} bytes")
      n.toInt
    }
    def str(): String = {
      val len = cnt()
      val s = new String(bytes, pos, len, StandardCharsets.UTF_8)
      pos += len
      s
    }
    val dict = Array.fill(cnt())(str())
    // Per-dir stats decode to [[PackedStatsMap]]s (r18): dict-index keys +
    // value strings in two arrays, ZERO map building — at 10⁶ dirs the
    // eager inner Maps were the dominant remaining parse cost, and the
    // packed form is what lets the range planner read one column by int
    // comparison (GraftTable.statPrunedDirs' fast path).
    def statsMap(): Map[String, String] = {
      val n = cnt()
      val ki = new Array[Int](n)
      val va = new Array[String](n)
      var j = 0
      while (j < n) {
        val k = vint().toInt
        require(k >= 0 && k < dict.length,
          s"detail document corrupt: stat key index $k outside " +
            s"dictionary of ${dict.length}")
        ki(j) = k
        va(j) = str()
        j += 1
      }
      new PackedStatsMap(dict, ki, va)
    }
    val nDirs = cnt()
    val dirs = new Array[String](nDirs)
    val recK = scala.collection.mutable.ArrayBuilder.make[String]
    val recV = scala.collection.mutable.ArrayBuilder.make[AnyRef]
    val stK = scala.collection.mutable.ArrayBuilder.make[String]
    val stV = scala.collection.mutable.ArrayBuilder.make[AnyRef]
    recK.sizeHint(nDirs); recV.sizeHint(nDirs)
    stK.sizeHint(nDirs); stV.sizeHint(nDirs)
    var i = 0
    while (i < nDirs) {
      val dir = str()
      dirs(i) = dir
      val flags = bytes(pos); pos += 1
      if ((flags & 1) != 0) { recK += dir; recV += java.lang.Long.valueOf(zig()) }
      if ((flags & 2) != 0) { stK += dir; stV += statsMap() }
      i += 1
    }
    var nx = cnt()
    while (nx > 0) { recK += str(); recV += java.lang.Long.valueOf(zig()); nx -= 1 }
    nx = cnt()
    while (nx > 0) { stK += str(); stV += statsMap(); nx -= 1 }
    def strings(): Seq[String] = {
      val n = cnt()
      if (n == 0) Seq.empty
      else {
        val a = new Array[String](n)
        var j = 0
        while (j < n) { a(j) = str(); j += 1 }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
      }
    }
    val deltaDirs = strings()
    val removedDirs = strings()
    // The body must account for every byte before the trailer — leftover
    // bytes mean a damaged document whose structural fields happened to
    // stay self-consistent.
    require(pos == bodyEnd,
      s"detail document corrupt: ${bodyEnd - pos} undecoded bytes after " +
        "the last section")
    val rk = recK.result(); val sk = stK.result()
    SnapshotDetail(
      dataDirs = scala.collection.immutable.ArraySeq.unsafeWrapArray(dirs),
      deltaDirs = deltaDirs,
      removedDirs = removedDirs,
      dirRecords =
        if (rk.isEmpty) Map.empty
        else new ArrayDirMap[Long](rk, recV.result()),
      dirStats =
        if (sk.isEmpty) Map.empty
        else new ArrayDirMap[Map[String, String]](sk, stV.result()))
  }

  /** Binary detail WRITE — see [[parseDetailBytes]] for the layout
    * rationale. Layout (all counts/lengths unsigned LEB128 varints,
    * record values zigzag varints, strings length-prefixed UTF-8):
    *
    *   magic "GDT2"
    *   nStatKeys, statKey*                    — dictionary, first-seen order
    *   nDirs, then per dir:
    *     dir, flags(bit0 record, bit1 stats),
    *     [record], [nStats, (keyIdx, value)*]
    *   nExtraRecords, (key, record)*          — records for non-data dirs
    *   nExtraStats, (key, nStats, (keyIdx, value)*)*
    *   nDeltaDirs, dir* ; nRemovedDirs, dir*
    *   CRC32 (4 bytes big-endian) of everything above
    *
    * The extras sections carry dirRecords/dirStats keys outside dataDirs
    * (delta dirs get record counts); a dir is otherwise stated exactly
    * once. vs the JSON writer this replaced (DetailCodecBench, 10⁶ dirs):
    * 147 MB → 56 MB, write 0.85 s → ~0.3 s; the fold commit every
    * `maxDetailSegments` writes the full document, so the fold's amortized
    * metadata cost drops with it. */
  private[graft] def writeDetailBytes(d: SnapshotDetail): Array[Byte] = {
    // Unsynchronized growable buffer: ByteArrayOutputStream synchronizes
    // every write, and varint encoding writes byte-at-a-time — at 10⁶ dirs
    // that is tens of millions of monitor acquisitions on the fold path.
    var buf = new Array[Byte](64 + d.dataDirs.size * 40 + d.dirStats.size * 24)
    var len = 0
    def ensure(k: Int): Unit =
      if (len + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + k))
    def byte1(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
    def uvint(n0: Long): Unit = { // value treated as UNSIGNED 64-bit
      var n = n0
      ensure(10)
      while ((n & ~0x7fL) != 0) {
        buf(len) = ((n & 0x7f) | 0x80).toByte; len += 1; n >>>= 7
      }
      buf(len) = n.toByte; len += 1
    }
    def vint(n0: Long): Unit = {
      require(n0 >= 0, s"detail count/length must be non-negative: $n0")
      uvint(n0)
    }
    def zig(n: Long): Unit = uvint((n << 1) ^ (n >> 63))
    def str(s: String): Unit = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      vint(b.length.toLong)
      ensure(b.length)
      System.arraycopy(b, 0, buf, len, b.length)
      len += b.length
    }
    ensure(4)
    System.arraycopy(DetailMagic2, 0, buf, 0, 4)
    len = 4
    val dict = new java.util.LinkedHashMap[String, Integer]()
    d.dirStats.foreachEntry((_, m) => m.keysIterator.foreach { k =>
      if (!dict.containsKey(k)) dict.put(k, dict.size)
    })
    vint(dict.size.toLong)
    dict.keySet.forEach(k => str(k))
    def stats(m: Map[String, String]): Unit = {
      vint(m.size.toLong)
      m.foreachEntry((k, v) => { vint(dict.get(k).toLong); str(v) })
    }
    vint(d.dataDirs.size.toLong)
    d.dataDirs.foreach { dir =>
      str(dir)
      val rec = d.dirRecords.get(dir)
      val st = d.dirStats.get(dir)
      byte1((if (rec.isDefined) 1 else 0) | (if (st.isDefined) 2 else 0))
      rec.foreach(zig)
      st.foreach(stats)
    }
    val inline = d.dataDirs.toSet
    val xr = d.dirRecords.iterator.filter(kv => !inline(kv._1)).toSeq
    vint(xr.size.toLong)
    xr.foreach { case (k, v) => str(k); zig(v) }
    val xs = d.dirStats.iterator.filter(kv => !inline(kv._1)).toSeq
    vint(xs.size.toLong)
    xs.foreach { case (k, m) => str(k); stats(m) }
    def strs(vs: Seq[String]): Unit = { vint(vs.size.toLong); vs.foreach(str) }
    strs(d.deltaDirs)
    strs(d.removedDirs)
    // Integrity trailer: CRC32 (big-endian) over everything above, magic
    // included. One JDK-intrinsic pass over the buffer (~GB/s) buys
    // deterministic corruption detection on every future read.
    val crc = new java.util.zip.CRC32()
    crc.update(buf, 0, len)
    val c = crc.getValue
    ensure(4)
    buf(len) = (c >>> 24).toByte; buf(len + 1) = (c >>> 16).toByte
    buf(len + 2) = (c >>> 8).toByte; buf(len + 3) = c.toByte
    len += 4
    java.util.Arrays.copyOf(buf, len)
  }
}

/**
 * The O(dirs)-sized half of a commit, stored in a SIDE FILE next to the
 * manifest (Iceberg's manifest-list move): dir list, per-dir rows, per-dir
 * column statistics. The manifest itself stays O(1) regardless of how many
 * data dirs a long append history accumulates — at 10^5 dirs the inline
 * form made every commit rewrite megabytes of manifest.
 */
private[graft] case class SnapshotDetail(
    dataDirs: Seq[String],
    deltaDirs: Seq[String] = Seq.empty,
    // SEGMENTED form (round 16, Iceberg's reused-manifest move): when the
    // owning ManifestCore carries `detailSegments`, this document holds
    // only the dirs THIS commit ADDED (dataDirs/dirRecords/dirStats are
    // restricted to them), `removedDirs` is the cumulative set of
    // segment-contributed dirs no longer live, and `deltaDirs` stays the
    // FULL authoritative chain (bounded by compactEvery — never worth
    // segmenting). An append to a 10^6-dir table then writes KILOBYTES
    // where the self-contained form rewrote the full ~147 MB detail per
    // commit, and a warm reader re-parses only the new segment on a head
    // change (prior segments are immutable and cached by name).
    removedDirs: Seq[String] = Seq.empty,
    dirRecords: Map[String, Long] = Map.empty,
    dirStats: Map[String, Map[String, String]] = Map.empty)

/** A commit's base-dir delta, stated by a caller that KNOWS it (the
  * append family writes freshly-named dirs and removes none): lets the
  * segmented-detail encoder skip its O(live-dirs) set derivation and work
  * in O(delta) CPU. Always cross-checked against segment totals before
  * use — see [[SnapshotLog.commitExpecting]]'s `deltaHint`. */
private[graft] case class DirDelta(
    added: Seq[String], removed: Seq[String] = Seq.empty)

/** The O(1) half: identity, schema, summary, idempotence window, and the
  * side-file reference. Everything a `contains`/`history` call needs
  * without touching the detail file. */
private[graft] case class ManifestCore(
    snapshotId: Long,
    parentId: Option[Long],
    committedAt: String,
    operation: String,
    schemaJson: String,
    summary: Map[String, String] = Map.empty,
    batchKey: Option[String] = None,
    recentBatchKeys: Seq[String] = Seq.empty,
    detailFile: String,
    // Prior commits' detail files whose ADDED dirs still contribute to
    // this snapshot (oldest first; `detailFile` holds this commit's own
    // additions + the cumulative removed set). Lives in the CORE — not the
    // detail — so expiry/GC builds the full protection set from O(retained)
    // small manifest reads, never an O(dirs) detail parse. Bounded: a
    // commit whose chain would exceed the segment cap (or whose delta
    // rivals the live set) folds back to one self-contained detail.
    detailSegments: Seq[String] = Seq.empty,
    // Minimum reader revision able to parse this commit's detail documents
    // — the table-format evolution contract (Iceberg's `format-version`):
    // it lives in the JSON core, which EVERY reader era parses, so a
    // too-old reader refuses with a versioned message instead of choking
    // on bytes it cannot decode. See [[SnapshotLog.ReaderRevision]].
    minReader: Option[Int] = None)

/**
 * Append-only snapshot log for one table: `<tableRoot>/_log/v%016d.json`.
 *
 * Commit protocol: an atomic create-if-absent claim of the next manifest
 * path ([[LogStore.tryClaim]] — same idea as Iceberg's metadata-file swap
 * and Delta's _delta_log), so a crashed writer never leaves a torn manifest
 * and readers never see a partial commit. All storage I/O for the log goes
 * through the pluggable [[LogStore]]: the default [[LocalLogStore]] claims
 * via hard link (POSIX/HDFS); an object-store deployment swaps in a
 * conditional-put implementation (see [[LogStore]] scaladoc for the exact
 * S3/GCS/Azure mapping) with no change to this protocol.
 *
 * Retention mirrors the reference's `write.metadata.previous-versions-max=100`
 * (`cdc_merger_optimized.py:108,200`): at most `retainVersions` manifests are
 * kept; older ones are deleted after a successful commit.
 */
final class SnapshotLog(tableRoot: Path, retainVersions: Int = 100,
    gcGraceMs: Long = 60L * 60 * 1000, store: LogStore = LocalLogStore,
    val branch: Option[String] = None) {
  private implicit val fmts: Formats = DefaultFormats

  // A branch is a SEPARATE append-only log under the same table root
  // (`_log/branches/<name>/`), versioned from 1 independently of main.
  // Main's hot path (latest(), commit CAS) never sees branch manifests —
  // the branch head is a self-contained snapshot (full dir list), so
  // publishing a branch is ONE ordinary CAS commit on main carrying the
  // branch head's content (the Iceberg refs / WAP shape, without a
  // branch filter on every main read). Data dirs from all logs share
  // `data/` (names carry a uuid, so ids can't collide); every reclaim
  // pass below therefore unions referenced dirs across main AND all
  // branch logs before deleting anything.
  private val mainLogDir: Path = tableRoot.resolve("_log")
  private val logDir: Path =
    branch.fold(mainLogDir)(b => mainLogDir.resolve("branches").resolve(b))

  /** Run `body` holding this table's maintenance mutex (reentrant — see
    * [[SnapshotLog.lockFor]]). Reclaim passes hold it for their whole
    * list→compute→delete span; [[graft.table.GraftTable.rollback]] holds it
    * across re-reading its target and the CAS, so a rollback never publishes
    * references to dirs a concurrent expiry is deleting. */
  def withMaintenanceLock[T](body: => T): T =
    SnapshotLog.lockFor(tableRoot).synchronized(body)

  private def manifestPath(id: Long): Path = logDir.resolve(f"v$id%016d.json")

  private def listManifests(): Seq[Path] =
    store.list(logDir)
      .filter(p => p.getFileName.toString.matches("v\\d{16}\\.json"))
      .sortBy(_.getFileName.toString)

  def versions(): Seq[Long] =
    listManifests().map(_.getFileName.toString.stripPrefix("v").stripSuffix(".json").toLong)

  // ---- branches & tags (stored under the MAIN log dir regardless of which
  // log instance is asked — they are table-level, not per-branch, state) ----

  /** Names of branches that currently have at least one committed snapshot. */
  def branches(): Seq[String] = {
    val d = mainLogDir.resolve("branches")
    if (!store.exists(d)) Seq.empty
    // No raw Files.isDirectory here: entries go through the LogStore
    // abstraction only, so a non-POSIX store (conditional-put object
    // store) still enumerates its branches — reclaim subtracts
    // branch-referenced dirs via externalRefs(), and a store whose Paths
    // fail java.nio checks would otherwise see ZERO branches and delete
    // data their snapshots still reference. A stray non-directory entry
    // (crash leftover) yields an empty log below and filters out.
    else store.list(d).map(_.getFileName.toString)
      .filterNot(_.startsWith("."))
      .filter(b => new SnapshotLog(tableRoot, retainVersions, gcGraceMs, store,
        Some(b)).latest().isDefined)
      .sorted
  }

  /** Open the log of a named branch of this table. */
  def branchLog(name: String): SnapshotLog =
    new SnapshotLog(tableRoot, retainVersions, gcGraceMs, store, Some(name))

  /** Drop a branch: delete its whole log dir. Its data dirs become
    * unreferenced and are reclaimed by the normal grace-gated orphan sweep
    * (never inline — a reader mid-scan on the branch keeps its files). */
  def dropBranch(name: String): Unit = withMaintenanceLock {
    deleteRecursively(mainLogDir.resolve("branches").resolve(name))
  }

  /** The MAIN snapshot id a branch was created from: recorded in the branch's
    * v1 ("branch") commit summary. None once branch retention has expired v1
    * (a branch long-lived enough to cross retention has left the
    * write-audit-publish window — publish then requires force). */
  def branchBase(name: String): Option[Long] =
    branchLog(name).snapshotsCore()
      .flatMap(_.summary.get("branch_base")).headOption.map(_.toLong)

  // Table-level properties (CHECK constraint, etc.) in a sidecar document:
  // snapshot summaries would need every write path to carry them forward,
  // and the create manifest expires under retention — a table-lifetime fact
  // needs table-lifetime storage. Writes are DDL-time (create/alter), so the
  // non-atomic delete+claim replace below is acceptable: two concurrent
  // ALTERs race, concurrent READERS at worst see the pre-DDL document.
  private def propsPath: Path = mainLogDir.resolve("props.json")

  def props(): Map[String, String] =
    if (!store.exists(propsPath)) Map.empty
    else try {
      parse(new String(store.read(propsPath), StandardCharsets.UTF_8))
        .extract[Map[String, String]]
    } catch { case e if isMissing(e) => Map.empty }

  def putProp(key: String, value: String): Unit = {
    store.mkdirs(mainLogDir)
    val next = props() + (key -> value)
    store.delete(propsPath)
    store.tryClaim(propsPath,
      Serialization.write(next).getBytes(StandardCharsets.UTF_8))
  }

  private def tagPath(name: String): Path =
    mainLogDir.resolve("tags").resolve(s"$name.json")

  /** Immutable named pointer to a MAIN snapshot id (Iceberg tag): pins the
    * manifest against retention and expiry, so `readAsOf(tags()(name))`
    * keeps working no matter how far the log advances. Create-if-absent by
    * construction — retargeting a tag is dropTag + addTag, never a silent
    * overwrite. Returns false if the tag already exists. */
  def addTag(name: String, snapshotId: Long): Boolean = withMaintenanceLock {
    // Under the maintenance lock: expire()/expireOlderThan read taggedIds()
    // and then delete un-pinned manifests under the same lock, so without
    // it a tag could pass the existence check here, lose the CPU to a
    // concurrent expiry that read the tag listing pre-claim, and land on a
    // just-deleted manifest — durably published but forever unreadable.
    require(get(snapshotId).isDefined,
      s"cannot tag snapshot $snapshotId: not in the retained log")
    store.mkdirs(mainLogDir.resolve("tags"))
    store.tryClaim(tagPath(name),
      s"""{"snapshotId":$snapshotId}""".getBytes(StandardCharsets.UTF_8))
  }

  def dropTag(name: String): Unit = store.delete(tagPath(name))

  def tags(): Map[String, Long] = {
    val d = mainLogDir.resolve("tags")
    if (!store.exists(d)) Map.empty
    else store.list(d).filter(_.getFileName.toString.endsWith(".json")).flatMap { p =>
      try {
        val id = (parse(new String(store.read(p), StandardCharsets.UTF_8))
          \ "snapshotId").extract[Long]
        Some(p.getFileName.toString.stripSuffix(".json") -> id)
      } catch { case e if isMissing(e) => None } // raced a dropTag
    }.toMap
  }

  /** Main-log snapshot ids pinned by tags — exempt from retention/expiry.
    * Branch logs have no tags (tags name main snapshots only). */
  private def taggedIds(): Set[Long] =
    if (branch.isDefined) Set.empty else tags().values.toSet

  /** Data dirs referenced by every OTHER log of this table (for the main
    * log: all branches; for a branch: main + sibling branches). Reclaim
    * passes subtract these so one log's expiry can never delete dirs
    * another log's snapshots still read — branch creation copies the base
    * snapshot's dir list verbatim, so shared references are the norm. */
  private def externalRefs(): Set[String] = {
    val others =
      (None +: branches().map(Some(_))).filterNot(_ == branch)
        .map(b => new SnapshotLog(tableRoot, retainVersions, gcGraceMs, store, b))
    others.flatMap(_.snapshots().flatMap(s => s.dataDirs ++ s.deltaDirs)).toSet
  }

  /** A file that vanished between listing and reading was expired by a
    * concurrent committer's retention pass — the snapshot is gone, not the
    * log corrupt. Readers treat it exactly like a manifest that was never
    * listed. (Expiry deletes the manifest BEFORE its detail file, so a
    * VISIBLE manifest always has its detail; only this list-then-read race
    * can observe a missing file.) */
  private def isMissing(e: Throwable): Boolean = e match {
    case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => true
    case _ => false
  }

  def snapshots(): Seq[Snapshot] =
    listManifests().flatMap { p =>
      try Some(readManifest(p))
      catch { case e if isMissing(e) => None } // expired mid-read
    }

  /** Core fields of every retained manifest WITHOUT inflating split detail
    * files. Metadata callers ($snapshots, history, batch-key scans,
    * timestamp cutoff selection) need only these; reading the O(dirs)
    * detail for each would double the log reads per call and re-introduce
    * on the read side the per-operation cost the manifest split removed. */
  def snapshotsCore(): Seq[ManifestCore] =
    listManifests().flatMap { p =>
      try Some(readCore(p))
      catch { case e if isMissing(e) => None } // expired mid-read
    }

  private def readCore(p: Path): ManifestCore =
    parseManifest(new String(store.read(p), StandardCharsets.UTF_8))

  /** The ONE place a manifest core is parsed and its format gated.
    * Core-only and full readers both layer on this — a format revision has
    * a single home. */
  private def parseManifest(s: String): ManifestCore = {
    import org.json4s._
    val ast = parse(s)
    // Format-version gate (the Iceberg `format-version` contract): refuse
    // a future detail revision HERE, on the always-JSON core and before
    // any other field is interpreted, with a versioned message — never a
    // downstream byte-parse error.
    ast \ "minReader" match {
      case JInt(mr) if mr > SnapshotLog.ReaderRevision =>
        throw new IllegalStateException(
          s"log $logDir requires reader revision >= $mr; this build " +
            s"supports <= ${SnapshotLog.ReaderRevision} — upgrade the " +
            "graft library to read this table")
      case _ =>
    }
    // An inline manifest (dir sets in the manifest itself, no side-file
    // reference) predates the split detail and thus every revision this
    // build reads: refuse it by name rather than surface a snapshot
    // without its dirs.
    if (!(ast \ "detailFile").isInstanceOf[JString])
      throw new IllegalStateException(
        s"log $logDir holds an inline manifest (no detailFile); this build " +
          s"reads only detail revision ${SnapshotLog.ReaderRevision} (GDT2). " +
          "Logs written before that revision are not readable; rebuild the table.")
    ast.extract[ManifestCore]
  }

  // Head cache keyed by (manifest path, store mtime): a manifest is
  // claimed atomically (tryClaim) and never rewritten in place, so path
  // identity alone is content identity IN CONTRACT — the mtime guard
  // additionally catches out-of-band edits (tests, external tooling).
  // Without this cache, every serving call re-parses the O(dirs) detail
  // JSON: measured 360 ms PER LOOKUP on a 100k-dir table (manifest_scale
  // probe, r15) for what is otherwise a ~5 ms read. The dir listing
  // itself stays — that's what detects concurrent commits. SHARED across
  // instances (round 17, one slot per LOG): the v2 catalog builds
  // a fresh GraftTable/SnapshotLog per loadTable, i.e. per SQL query —
  // without sharing, every statement against a big table re-composed the
  // head AND rebuilt the bucket/stat indexes that ride the Snapshot
  // instance. Keyed by logDir, NOT table root: a branch log is a distinct
  // log over the same root (branches/<name>), and a shared root key made
  // main and each branch EVICT one another's composed head — every
  // branch-touching maintenance call (externalRefs, publish) then cost
  // the next serving read a full O(dirs) head recompose. The (path,
  // mtime) guard kept that correct, but never cheap.
  private val headSlot = logDir.toAbsolutePath.normalize.toString

  def latest(): Option[Snapshot] = {
    // The newest retained manifest is never expired, so a missing-file read
    // here means the LISTING was stale — re-list and retry.
    var attempts = 0
    while (attempts < 8) {
      attempts += 1
      listManifests().lastOption match {
        case None => return None
        case Some(p) =>
          val key = p.toString
          val mt = store.modifiedAtMs(p)
          val c = SnapshotLog.sharedHeads.get(headSlot)
          if (c != null && c._1 == key && c._2 == mt) return Some(c._3)
          try {
            val s = readManifest(p)
            SnapshotLog.cacheHead(headSlot, (key, mt, s))
            return Some(s)
          }
          catch { case e if isMissing(e) => } // stale listing — re-list
      }
    }
    throw new IllegalStateException(s"latest() raced expiry $attempts times in $tableRoot")
  }

  def get(id: Long): Option[Snapshot] = {
    val p = manifestPath(id)
    if (!store.exists(p)) None
    else
      try Some(readManifest(p))
      catch { case e if isMissing(e) => None } // expired between check and read
  }

  /** One manifest's core fields without inflating its detail — the single
    * -id companion of [[snapshotsCore]], for callers that need operation/
    * schema/summary but not the O(dirs) dir sets. */
  private[graft] def getCore(id: Long): Option[ManifestCore] = {
    val p = manifestPath(id)
    if (!store.exists(p)) None
    else
      try Some(readCore(p))
      catch { case e if isMissing(e) => None }
  }

  /** One commit's (added base dirs, removed base dirs, new delta dirs) in
    * O(delta) metadata reads — two small manifest cores + two own details
    * (cached), NEVER a composed snapshot or an O(live-dirs) set diff. This
    * is what keeps a change-feed tick O(changes) on a 10⁶-dir table.
    * Provable only when the child EXTENDS the parent's detail chain (same
    * segments, no fold) with no re-add (the cumulative removed set only
    * grew): then the composed diff is exactly (own adds, newly removed).
    * None otherwise — callers fall back to the full set diff. */
  private[graft] def commitDirDelta(
      childId: Long): Option[(Seq[String], Seq[String], Seq[String])] =
    try {
      val cCore = readCore(manifestPath(childId))
      val pid = cCore.parentId.getOrElse(return None)
      val pCore = readCore(manifestPath(pid))
      if (cCore.detailSegments !=
          pCore.detailSegments :+ pCore.detailFile) return None
      val cOwn = loadDetail(cCore.detailFile)
      val pOwn = loadDetail(pCore.detailFile)
      val pRem = pOwn.removedDirs.toSet
      val cRem = cOwn.removedDirs.toSet
      if (!pRem.subsetOf(cRem)) return None // re-add (rollback): full diff
      val newDeltas = cOwn.deltaDirs.filterNot(pOwn.deltaDirs.toSet)
      Some((cOwn.dataDirs, (cRem -- pRem).toSeq, newDeltas))
    } catch { case e if isMissing(e) => None } // expired mid-read

  def contains(batchKey: String): Boolean = containsIn(latest(), batchKey)

  /** [[contains]] evaluated against an ALREADY-READ head. The commit paths
    * use this (never the re-reading `contains`) so the replay check and
    * the head they return/extend are ONE consistent view: with an
    * independent re-read, a same-batchKey commit landing between the two
    * reads made `contains` true while `head` was still the PRE-commit
    * value — `head.get` then crashed on an initially-empty log, and on a
    * non-empty one the replay returned the wrong (stale) snapshot. Under
    * the consistent view that race instead falls through to the claim,
    * loses it, and resolves on the caller's ordinary conflict/retry path. */
  private[graft] def containsIn(head: Option[Snapshot], batchKey: String): Boolean =
    head.exists { h =>
      h.recentBatchKeys.contains(batchKey) ||
        // Migration fallback: manifests written before recentBatchKeys
        // existed carry only their own per-commit batchKey. Until a
        // new-format commit rebuilds the window, fall back to the full
        // retained-log scan the field replaced — otherwise a checkpointed
        // stream replaying its last pre-upgrade batch would apply it twice.
        (h.recentBatchKeys.isEmpty && snapshotsCore().exists(_.batchKey.contains(batchKey)))
    }

  // (Segment-parse caching lives process-wide in the companion —
  // SnapshotLog.sharedSegments / cacheSegment — since round 17.)
  private def metaPool = SnapshotLog.metaPool

  /** Cache key of a detail document: absolute path + mtime. Detail files
    * are claim-once immutable, so the PATH is content identity in
    * contract; the mtime term additionally catches out-of-band edits
    * (tests, external tooling) — same guard the head cache carries. The
    * stat syscall is noise next to the parse it saves. */
  private def detailKey(name: String): String = {
    val p = logDir.resolve(name)
    p.toAbsolutePath.toString + "@" + store.modifiedAtMs(p).getOrElse(-1L)
  }

  private def loadDetail(name: String): SnapshotDetail = {
    val key = detailKey(name)
    val c = SnapshotLog.sharedSegments.get(key)
    if (c != null) c
    else {
      val d = SnapshotLog.parseDetailBytes(store.read(logDir.resolve(name)))
      SnapshotLog.cacheSegment(key, d)
      d
    }
  }

  /** Batch form of [[loadDetail]]: cache misses parse CONCURRENTLY, order
    * preserved. This is the cold-open lever the sharded fold exists for —
    * one 147 MB fold document parses on one core no matter how many are
    * idle, while 16 shards parse on 16. Warm instances never enter the
    * parallel branch (everything is in the immutable-segment cache).
    * Exceptions rethrow with their original type so callers' missing-file
    * handling (expiry races) keeps working. */
  private def loadDetails(names: Seq[String]): Seq[SnapshotDetail] = {
    // ONE detailKey per distinct name: the key costs a store metadata call
    // (modifiedAtMs — a remote round-trip on an object store), and
    // computing it in the miss probe, again inside each parallel
    // loadDetail, and once more in the final assembly tripled the stat
    // traffic of a warm chain read. Compute once, reuse everywhere.
    val distinct = names.distinct
    val keyed = new java.util.HashMap[String, String](distinct.size * 2)
    distinct.foreach(n => keyed.put(n, detailKey(n)))
    def load(n: String): SnapshotDetail = {
      val key = keyed.get(n)
      val c = SnapshotLog.sharedSegments.get(key)
      if (c != null) c
      else {
        val d = SnapshotLog.parseDetailBytes(store.read(logDir.resolve(n)))
        SnapshotLog.cacheSegment(key, d)
        d
      }
    }
    val misses = distinct
      .filter(n => SnapshotLog.sharedSegments.get(keyed.get(n)) == null)
    if (misses.size > 1) {
      val fs = misses.map(n => metaPool.submit(
        new java.util.concurrent.Callable[SnapshotDetail] {
          override def call(): SnapshotDetail = load(n)
        }))
      fs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    }
    names.map(load)
  }

  /** Parse a manifest: the SEGMENTED form (core + own detail + prior
    * segments) or the plain SPLIT form (core + one self-contained detail).
    * Segmented compose order is CANONICAL (segments oldest first, then
    * this commit's additions, removed dirs filtered) — dataDirs is a set
    * in contract; nothing orders on it (delta ordering lives in
    * `deltaDirs`, which is always inline and authoritative). */
  private def readManifest(p: Path): Snapshot = {
    val core = readCore(p)
    val own = loadDetail(core.detailFile)
    var carriedIndex: Map[Int, Seq[String]] = null
    val (dataDirs, dirRecords, dirStats) =
      if (core.detailSegments.isEmpty)
        (own.dataDirs, own.dirRecords, own.dirStats)
      else composeIncremental(core, own) match {
        case Some((dirs, recs, stats, idx)) =>
          carriedIndex = idx
          (dirs, recs, stats)
        case None =>
          val segs = loadDetails(core.detailSegments)
          val removed = own.removedDirs.toSet
          // O(1) map composition (round 17; replaces the single-pass
          // HashMap rebuild that dominated the cold open together with
          // the shard parses — ComposeBench: ~0.5-1.2 s of merges at
          // 10⁶ dirs, gone): segment maps' key sets are pairwise
          // DISJOINT by the encoder's contract (a commit adds only
          // dirs absent from every prior segment; a re-added dir stays
          // in its original segment), so the union is a ConcatDirMap
          // view and this commit's own adds + the cumulative removed
          // set ride an OverlayDirMap. No million-entry hash map
          // exists unless a point `get` asks for one — and then it is
          // built once and shared via the instance.
          def layered[V](parts: Seq[Map[String, V]],
              ownM: Map[String, V]): Map[String, V] = {
            val ne = parts.filter(_.nonEmpty).toIndexedSeq
            val base: Map[String, V] =
              if (ne.isEmpty) Map.empty
              else if (ne.size == 1) ne.head
              else new ConcatDirMap(ne)
            if (ownM.isEmpty && removed.isEmpty) base
            else new OverlayDirMap(base, ownM, removed)
          }
          val dirs: Seq[String] = {
            val partsD = segs.map(_.dataDirs) :+ own.dataDirs
            if (removed.isEmpty) {
              // Pure-append chain (incl. every fresh fold): one
              // arraycopy pass instead of a Vector rebuild.
              val total = partsD.iterator.map(_.size).sum
              val arr = new Array[String](total)
              var off = 0
              partsD.foreach { s => s.copyToArray(arr, off); off += s.size }
              scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
            } else
              segs.flatMap(_.dataDirs).filterNot(removed) ++ own.dataDirs
          }
          (dirs, layered(segs.map(_.dirRecords), own.dirRecords),
            layered(segs.map(_.dirStats), own.dirStats))
      }
    val snap = Snapshot(core.snapshotId, core.parentId, core.committedAt,
      core.operation, core.schemaJson, dataDirs, core.summary,
      core.batchKey, dirRecords, own.deltaDirs,
      core.recentBatchKeys, dirStats)
    if (carriedIndex != null) snap.bucketIndexCarry = carriedIndex
    composedTip = ComposedTip(core.snapshotId,
      core.detailSegments :+ core.detailFile, snap, own.removedDirs.toSet)
    snap
  }

  /** One-slot cache of the last composed SPLIT-format snapshot: id, its
    * full detail chain (segments + own detail, in order), the composed
    * snapshot, and its cumulative removed set. Lets a CHILD manifest whose
    * segment list is exactly this chain compose in O(delta) — see
    * [[composeIncremental]]. Volatile single slot: concurrent readers at
    * worst lose the cache, never correctness (the incremental path's
    * preconditions are exact identities, and details are claim-once
    * immutable, same contract the segment cache rests on). */
  private case class ComposedTip(snapId: Long, chain: Seq[String],
      snap: Snapshot, removed: Set[String])
  @volatile private var composedTip: ComposedTip = null

  /** Diagnostics: count of reads served by the O(delta) incremental
    * compose (tests assert the fast path actually ran — an equality-only
    * test would pass on a silent fallback too). */
  private[graft] val incrementalComposes =
    new java.util.concurrent.atomic.AtomicLong

  /** O(delta) compose of a segmented manifest against the cached parent
    * composition. Sound by the segment-format algebra: a child whose
    * `detailSegments` EQUALS the parent's chain (segments :+ own detail)
    * reads, in full form, `concat(chain dirs) filterNot R_c ++ own_c` —
    * and the cached parent is `concat(parent segments) filterNot R_p ++
    * own_p`. With no re-adds (R_p ⊆ R_c), filtering the parent's composed
    * sequence by (R_c − R_p) and appending own_c yields the identical
    * sequence (own_c's dirs are disjoint from the chain by construction:
    * both encoder paths add only dirs absent from every segment). Re-adds
    * (a rollback pulling a dir back OUT of the removed set — R_p ⊄ R_c)
    * fall back to the full compose, as does any chain mismatch. On a
    * 10⁶-dir table this turns the serving instance's post-commit head
    * re-read from an O(dirs) recompose (~600 ms) into O(delta), and
    * carries the materialized bucket index the same way. */
  private def composeIncremental(core: ManifestCore, own: SnapshotDetail):
      Option[(Seq[String], Map[String, Long],
        Map[String, Map[String, String]], Map[Int, Seq[String]])] = {
    val tip = composedTip
    if (tip == null || !core.parentId.contains(tip.snapId) ||
        core.detailSegments != tip.chain) return None
    val removedNow = own.removedDirs.toSet
    if (!tip.removed.subsetOf(removedNow)) return None // re-add: full path
    val newly = removedNow -- tip.removed
    val p = tip.snap
    val dirs =
      (if (newly.isEmpty) p.dataDirs else p.dataDirs.filterNot(newly)) ++
        own.dataDirs
    val recs = (if (newly.isEmpty) p.dirRecords else p.dirRecords -- newly) ++
      own.dirRecords
    val stats = (if (newly.isEmpty) p.dirStats else p.dirStats -- newly) ++
      own.dirStats
    // Carry the bucket index only if the parent ever materialized it
    // (serving instances do; batch jobs often don't — then the child's
    // stays lazy as before).
    val idx: Map[Int, Seq[String]] = p.bucketIndexCarry match {
      case null => null
      case parentIdx =>
        var m = parentIdx
        newly.foreach(d => Snapshot.bucketOfDir(d).foreach { b =>
          m.get(b).foreach { seq =>
            val left = seq.filterNot(_ == d)
            m = if (left.isEmpty) m - b else m.updated(b, left)
          }
        })
        own.dataDirs.foreach(d => Snapshot.bucketOfDir(d).foreach(b =>
          m = m.updated(b, m.getOrElse(b, Vector.empty[String]) :+ d)))
        m
    }
    incrementalComposes.incrementAndGet()
    Some((dirs, recs, stats, idx))
  }

  /** ALL detail files a manifest references: its own plus any prior
    * segments (segmented form). DELIBERATELY bare AST field extraction,
    * not [[parseManifest]] — both are CORE fields, so the protection set
    * for GC/expiry builds from O(retained) small reads, and a manifest
    * written by a NEWER format revision (or an older one this build
    * refuses to read) must still yield its references so the orphan sweep
    * never mistakes its live details for garbage. */
  private def detailRefsOf(p: Path): Seq[String] = {
    import org.json4s._
    val ast = org.json4s.jackson.JsonMethods.parse(
      new String(store.read(p), StandardCharsets.UTF_8))
    val own = ast \ "detailFile" match {
      case JString(df) => Seq(df)
      case _ => Seq.empty
    }
    val segs = ast \ "detailSegments" match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _ => Seq.empty
    }
    own ++ segs
  }

  /**
   * The two-file commit write: the O(dirs) detail lands FIRST under a
   * unique uncontended name, then the O(1) manifest referencing it is
   * claimed atomically — the commit point is unchanged (one tryClaim of the
   * manifest path), readers never see a detail file except through a
   * committed manifest, and a crash between the writes leaves only an
   * orphan detail file that [[gcOrphanDetailFiles]] collects after the
   * grace period. A lost race deletes the loser's detail file immediately.
   */
  private def claimSplit(
      snap: Snapshot, deltaHint: Option[DirDelta] = None): Boolean = {
    // Resurrection guard: claim-once stores FORGET deleted paths, so a
    // writer whose head read is stale by a full retention cycle could
    // re-claim an EXPIRED manifest path (observed under an 8-writer race
    // with retainVersions=4: two commits both "won" v2 — one claimed the
    // path after retention deleted it, resurrecting a dead version id).
    // Re-list immediately before claiming and refuse any id that is not
    // strictly beyond the current newest; this also fails a lost race fast
    // BEFORE paying the detail/shard encode+writes. The residual window —
    // a stall between this check and the claim spanning an entire
    // retention cycle of other writers' commits — is bounded by
    // retainVersions (default 100 commits), the same stall tolerance
    // Iceberg's and Delta's claim-once metadata protocols carry.
    if (listManifests().lastOption.exists(p =>
        p.getFileName.toString.stripPrefix("v").stripSuffix(".json").toLong
          >= snap.snapshotId))
      return false
    def freshName() =
      f"d${snap.snapshotId}%016d-${java.util.UUID.randomUUID().toString.take(8)}.json"
    // A FOLD (self-contained detail) past the shard threshold splits into
    // k disjoint slices written as this commit's OWN detailSegments plus an
    // empty own detail carrying the delta chain: the composed read is
    // identical by the segment contract (shards add, nothing removes), a
    // cold reader parses the shards in PARALLEL (loadDetails) instead of
    // one ~147 MB document on one core, and the shard writes themselves
    // fan out. Shards use the ordinary detail naming, so GC/expiry
    // lifecycle (detailRefsOf, the orphan-sweep regex) needs no new case.
    val (detail, segments, ownShards) =
      segmentedDetail(snap, deltaHint) match {
      case Some((d, segs)) =>
        (d, segs, Seq.empty[(String, SnapshotDetail)])
      case None =>
        val n = snap.dataDirs.size
        val k = math.min(16, 1 + (n - 1).max(0) / SnapshotLog.foldShardDirs)
        if (k < 2)
          (SnapshotDetail(
            dataDirs = snap.dataDirs, deltaDirs = snap.deltaDirs,
            dirRecords = snap.dirRecords, dirStats = snap.dirStats),
            Seq.empty[String], Seq.empty[(String, SnapshotDetail)])
        else {
          val per = (n + k - 1) / k
          val shards = snap.dataDirs.grouped(per).map { slice =>
            freshName() -> SnapshotDetail(
              dataDirs = slice,
              dirRecords = slice.iterator
                .flatMap(d => snap.dirRecords.get(d).map(d -> _)).toMap,
              dirStats = slice.iterator
                .flatMap(d => snap.dirStats.get(d).map(d -> _)).toMap)
          }.toSeq
          // Entries keyed OUTSIDE dataDirs belong to no shard slice — a
          // pending MOR delta dir's record count rides dirRecords while
          // the dir itself lives in deltaDirs (GraftTable.commitAppendDirs)
          // — so they must ride the commit's OWN detail via the codec's
          // extras section, exactly as the unsharded (k < 2) fold has
          // always carried them. Dropping them made a cold compose of a
          // sharded fold diverge from what the committer (and any warm
          // reader) held.
          val sliced = snap.dataDirs.toSet
          (SnapshotDetail(dataDirs = Seq.empty, deltaDirs = snap.deltaDirs,
            dirRecords = snap.dirRecords.filter(kv => !sliced(kv._1)),
            dirStats = snap.dirStats.filter(kv => !sliced(kv._1))),
            shards.map(_._1), shards)
        }
    }
    val detailName = freshName()
    // The detail claims must gate the manifest claim: committing a manifest
    // whose referenced detail never landed (uuid collision with a crashed
    // process's leftover, transient store failure) would make every read of
    // this snapshot throw — and as the NEWEST manifest it is not covered by
    // the benign expiry-race retry. Failing the commit lets the caller's
    // conflict/retry path handle it like any lost race. A lost race deletes
    // only this commit's OWN files (its detail + any fold shards it just
    // wrote) — segments referenced from the PARENT belong to
    // already-committed manifests and are never touched here.
    def cleanupOwn(): Unit = {
      store.delete(logDir.resolve(detailName))
      ownShards.foreach { case (nm, _) => store.delete(logDir.resolve(nm)) }
    }
    val shardsOk = ownShards.size match {
      case 0 => true
      case _ => // encode+claim shards concurrently: the fold's write fan.
        val fs = ownShards.map { case (nm, d) =>
          metaPool.submit(new java.util.concurrent.Callable[Boolean] {
            override def call(): Boolean =
              store.tryClaim(logDir.resolve(nm),
                SnapshotLog.writeDetailBytes(d))
          })
        }
        // Await ALL claims before judging success: short-circuiting on the
        // first false would let a still-racing shard land its claim AFTER
        // cleanupOwn() deleted the path, leaving a claimed-but-unreferenced
        // shard until the orphan sweep. A store exception unwraps to its
        // cause (matching loadDetails) and still runs cleanupOwn so no
        // already-claimed sibling shard is stranded.
        val outcomes = fs.map { f =>
          try Right(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException => Left(e.getCause)
          }
        }
        outcomes.collectFirst { case Left(t) => t }.foreach { t =>
          cleanupOwn(); throw t
        }
        outcomes.forall(_ == Right(true))
    }
    val detailOk = shardsOk && store.tryClaim(logDir.resolve(detailName),
      SnapshotLog.writeDetailBytes(detail))
    if (!detailOk) { cleanupOwn(); return false }
    // minReader states what a reader of THIS manifest must parse: every
    // document of the chain is written at ReaderRevision.
    val core = ManifestCore(snap.snapshotId, snap.parentId, snap.committedAt,
      snap.operation, snap.schemaJson, snap.summary, snap.batchKey,
      snap.recentBatchKeys, detailName, segments,
      minReader = Some(SnapshotLog.ReaderRevision))
    val won = store.tryClaim(manifestPath(snap.snapshotId),
      Serialization.write(core).getBytes(StandardCharsets.UTF_8))
    if (!won) cleanupOwn() else SnapshotLog.commitTick.incrementAndGet()
    won
  }

  /**
   * Segmented (delta) encoding of `snap` against its parent's committed
   * detail chain, or None when self-contained is the right shape. A child
   * references the parent's segments + the parent's own detail and records
   * only what changed: added dirs (with their records/stats), the
   * cumulative removed set, and the full delta chain. Self-contained is
   * chosen — folding the chain back to one document — when the parent
   * expired mid-read, when the chain would exceed the
   * segment cap, or when the encoded delta rivals the live set (a full
   * rewrite like compact/overwrite resets the chain naturally; a small
   * table's churn isn't worth the indirection). Correct for ANY commit
   * shape by construction: the composed read is (segment dirs − removed)
   * ++ added, and both sides are derived from the very snapshot being
   * committed. A dir re-added after removal (rollback) is already present
   * in a segment, so it simply leaves the removed set rather than being
   * written twice.
   */
  private def segmentedDetail(
      snap: Snapshot,
      deltaHint: Option[DirDelta] = None)
      : Option[(SnapshotDetail, Seq[String])] =
    try {
      val pid = snap.parentId.getOrElse(return None)
      val pcore = readCore(manifestPath(pid))
      val segments = pcore.detailSegments :+ pcore.detailFile
      if (segments.size > SnapshotLog.maxDetailSegments) return None
      // Hinted path: the caller states the commit's (added, removed) dirs
      // outright — the append family, which writes freshly-named dirs and
      // removes none (or, with a pending MOR chain, changes no base dir at
      // all). The cumulative removed set then derives from the PARENT's own
      // detail (its cumulative removed, minus any hinted re-add, plus the
      // hinted removals), and nothing here touches the O(dirs) segment
      // union: per-commit metadata CPU is O(delta) hash-set work plus one
      // O(live)-but-constant-cheap membership sweep, never the O(live)
      // set/map DERIVATION below — at 10^6 dirs that is the difference
      // between a ~7 s and a sub-second append. Two cross-checks gate the
      // hint, falling back to the full derivation on ANY failure:
      //   1. the size equation against segment totals (O(#segments) given
      //      the immutable-segment cache);
      //   2. a membership sweep over snap.dataDirs — every hinted add must
      //      be live and no hinted/cumulative removed dir may be live. A
      //      size-consistent but membership-wrong hint (removed=[A] when
      //      the commit really dropped B) would otherwise compose a dir set
      //      that silently diverges from the committed snapshot: durable
      //      metadata corruption, not just wasted time.
      // Residual trust (documented, not checked): a hint claiming "no
      // change" when dirs actually churned symmetrically passes both
      // checks; full validation would require rebuilding the segment set,
      // i.e. the exact O(live-dirs) derivation the hint exists to skip.
      // Callers stating a hint must know the commit's true base-dir delta.
      val hinted = deltaHint.flatMap { h =>
        val segDetails = loadDetails(segments)
        val parentOwn = segDetails.last
        val hintAdded = h.added.toSet
        val removed = (parentOwn.removedDirs.filterNot(hintAdded) ++
          h.removed).distinct
        val segDirsCount = segDetails.iterator.map(_.dataDirs.size).sum
        val consistent =
          snap.dataDirs.size.toLong == segDirsCount.toLong - removed.size + h.added.size
        def membershipOk: Boolean = {
          val remSet = removed.toSet
          var liveAdds = 0
          val it = snap.dataDirs.iterator
          while (it.hasNext) {
            val d = it.next()
            if (remSet.contains(d)) return false // "removed" dir still live
            if (hintAdded.contains(d)) liveAdds += 1
          }
          liveAdds == hintAdded.size // every hinted add is actually live
        }
        if (!consistent || !membershipOk) None
        else if (h.added.size + removed.size >
            math.max(8, snap.dataDirs.size / 2)) Some(None)
        else if (removed.size >= segDirsCount) Some(None)
        else Some(Some((SnapshotDetail(
          dataDirs = h.added,
          deltaDirs = snap.deltaDirs,
          removedDirs = removed,
          dirRecords = h.added.iterator
            .flatMap(a => snap.dirRecords.get(a).map(a -> _)).toMap,
          dirStats = h.added.iterator
            .flatMap(a => snap.dirStats.get(a).map(a -> _)).toMap),
          segments)))
      }
      hinted match {
        case Some(out) => return out // verified hint: segment form or fold
        case None => // no hint / inconsistent hint: derive from segments
      }
      val segDirs = loadDetails(segments).flatMap(_.dataDirs)
      val segSet = segDirs.toSet
      val live = snap.dataDirs.toSet
      val added = snap.dataDirs.filterNot(segSet)
      val removed = segDirs.filterNot(live)
      // Fold when the encoded delta rivals the live set (full rewrites),
      // or when the segments contribute NO live dir (an overwrite chain
      // would otherwise drag every ancestor's dead detail along as pure
      // reference overhead, pinning it against GC).
      if (added.size + removed.size > math.max(8, snap.dataDirs.size / 2))
        return None
      if (removed.size >= segDirs.size) return None
      val addedSet = added.toSet
      Some((SnapshotDetail(
        dataDirs = added,
        deltaDirs = snap.deltaDirs,
        removedDirs = removed,
        dirRecords = snap.dirRecords.view.filterKeys(addedSet).toMap,
        dirStats = snap.dirStats.view.filterKeys(addedSet).toMap),
        segments))
    } catch { case e if isMissing(e) => None } // parent expired — fold

  /**
   * The batchKey window for a commit extending `head`. Migration seed
   * (upgrade from the scan-every-manifest format): the first post-upgrade
   * commit that CARRIES a batchKey rebuilds the window from the retained
   * manifests' own per-commit batchKeys — starting from the head's empty
   * window instead would permanently hide pre-upgrade batchKeys from
   * [[contains]], and a checkpointed stream replaying its last pre-upgrade
   * batch after such a commit would apply it twice. Commits without a
   * batchKey skip the seed scan (their window stays empty and [[contains]]
   * keeps its own full-scan fallback).
   */
  private def nextBatchKeyWindow(
      head: Option[Snapshot], batchKey: Option[String]): Seq[String] = {
    val window = head.map(_.recentBatchKeys).getOrElse(Seq.empty)
    val seeded =
      if (window.isEmpty && batchKey.nonEmpty && head.nonEmpty)
        snapshotsCore().flatMap(_.batchKey)
      else window
    (seeded ++ batchKey).takeRight(retainVersions)
  }

  /**
   * Single-attempt commit that REQUIRES the current head to be
   * `expectedParent`: the compare-and-swap primitive for commits whose
   * content was derived FROM that head (appends carrying the parent's dir
   * list, bucketed merges carrying untouched dirs). Throws
   * [[CommitConflictException]] if the head moved or the manifest claim is
   * lost — the caller must re-derive its state against the new head and
   * retry (the log cannot, because the dataDirs it was handed are stale).
   */
  def commitExpecting(
      expectedParent: Option[Long],
      operation: String,
      schemaJson: String,
      dataDirs: Seq[String],
      summary: Map[String, String] = Map.empty,
      batchKey: Option[String] = None,
      dirRecords: Map[String, Long] = Map.empty,
      deltaDirs: Seq[String] = Seq.empty,
      dirStats: Map[String, Map[String, String]] = Map.empty,
      deltaHint: Option[DirDelta] = None): Snapshot = {
    store.mkdirs(logDir)
    val head = latest()
    if (batchKey.exists(containsIn(head, _))) return head.get
    if (head.map(_.snapshotId) != expectedParent) {
      throw new CommitConflictException(
        s"head is ${head.map(_.snapshotId)}, expected $expectedParent")
    }
    val snap = Snapshot(
      snapshotId = expectedParent.map(_ + 1).getOrElse(1L),
      parentId = expectedParent,
      committedAt = Instant.now().toString,
      operation = operation,
      schemaJson = schemaJson,
      dataDirs = dataDirs,
      summary = summary,
      batchKey = batchKey,
      dirRecords = dirRecords,
      deltaDirs = deltaDirs,
      recentBatchKeys = nextBatchKeyWindow(head, batchKey),
      dirStats = dirStats)
    if (claimSplit(snap, deltaHint)) {
      expireOldManifests()
      snap
    } else
      throw new CommitConflictException(s"lost claim for snapshot ${snap.snapshotId}")
  }

  /**
   * Atomically commit the next snapshot. The caller supplies everything but
   * the id / parent / timestamp, which the log assigns under its own view of
   * the current head. Internally retries on a lost race — ONLY safe for
   * commits whose dataDirs don't depend on the head (full replaces); use
   * [[commitExpecting]] otherwise.
   */
  def commit(
      operation: String,
      schemaJson: String,
      dataDirs: Seq[String],
      summary: Map[String, String] = Map.empty,
      batchKey: Option[String] = None,
      dirRecords: Map[String, Long] = Map.empty,
      dirStats: Map[String, Map[String, String]] = Map.empty): Snapshot = {
    store.mkdirs(logDir)
    // Optimistic-concurrency commit loop (Iceberg/Delta style): assign the
    // next id under the current head, then claim the manifest path via
    // LogStore.tryClaim (create-if-absent — a plain rename would silently
    // replace a committed write when two writers race to the same id). On
    // a lost claim, re-read the head and retry with the next id.
    var attempts = 0
    while (attempts < 64) {
      attempts += 1
      val head = latest()
      if (batchKey.exists(containsIn(head, _))) {
        return head.get // idempotent replay: this batch already committed
      }
      val snap = Snapshot(
        snapshotId = head.map(_.snapshotId + 1).getOrElse(1L),
        parentId = head.map(_.snapshotId),
        committedAt = Instant.now().toString,
        operation = operation,
        schemaJson = schemaJson,
        dataDirs = dataDirs,
        summary = summary,
        batchKey = batchKey,
        dirRecords = dirRecords,
        recentBatchKeys = nextBatchKeyWindow(head, batchKey),
        dirStats = dirStats)
      if (claimSplit(snap)) {
        expireOldManifests()
        return snap
      } // else: lost the race — retry under new head
    }
    throw new IllegalStateException(
      s"snapshot commit for $tableRoot lost $attempts consecutive races")
  }

  /**
   * Explicit user-invoked retention (Iceberg's `expire_snapshots` /
   * Delta `VACUUM` in one call): drop every manifest except the newest
   * `keepLast`, then delete the data dirs those manifests referenced that
   * no RETAINED manifest still references. Unlike the background orphan
   * sweep, the reclaim here is IMMEDIATE — no GC grace: a dir referenced by
   * an expired manifest was, by construction, committed (an in-flight
   * writer's dir is referenced by NO manifest yet, so it stays protected by
   * the grace-gated sweep as before). Returns the number of snapshots
   * expired. A rollback snapshot carries its target's full dir set, so
   * expiry after a COMMITTED rollback never reclaims dirs the rolled-back
   * head reads; a rollback IN FLIGHT is ordered against this pass by the
   * maintenance mutex (the listing below and the deletes happen under it,
   * and rollback re-reads its target under it), so neither can a rollback
   * publish references to dirs this pass is about to delete.
   */
  def expire(keepLast: Int): Int = withMaintenanceLock {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val ms = listManifests()
    if (ms.size <= keepLast) return 0
    // Tagged snapshots are exempt: a tag is a durable promise that
    // `readAsOf` keeps working, so expiry counts "newest keepLast" over the
    // untagged manifests and never drops a tagged one.
    val tagged = taggedIds()
    def idOf(p: Path): Long =
      p.getFileName.toString.stripPrefix("v").stripSuffix(".json").toLong
    val (pinned, expirable) = ms.partition(p => tagged.contains(idOf(p)))
    if (expirable.size <= keepLast) return 0
    val (dropPs, keepPs) =
      (expirable.dropRight(keepLast), expirable.takeRight(keepLast) ++ pinned)
    // Resolve both reference sets BEFORE deleting anything: the retained
    // set defines what must survive; the dropped set minus it is garbage.
    def refsOf(ps: Seq[Path]): Set[String] = ps.flatMap { p =>
      try { val s = readManifest(p); s.dataDirs ++ s.deltaDirs }
      catch { case e if isMissing(e) => Seq.empty } // raced another expiry
    }.toSet
    // Dirs live in OTHER logs of this table (branches, or main when this is
    // a branch log) must survive this log's expiry: branch creation copies
    // the base snapshot's dir list, so cross-log sharing is the common case.
    val keptRefs = refsOf(keepPs) ++ externalRefs()
    val deadRefs = refsOf(dropPs) -- keptRefs
    // Detail files can be SHARED (a retained segmented manifest references
    // its ancestors' details): a dropped manifest's details die only when
    // no retained manifest still lists them. Manifest before detail, same
    // ordering rule as the background expiry.
    val keptDetails = keepPs.flatMap(p =>
      scala.util.Try(detailRefsOf(p)).getOrElse(Seq.empty)).toSet
    dropPs.foreach { p =>
      val refs = scala.util.Try(detailRefsOf(p)).getOrElse(Seq.empty)
      store.delete(p)
      refs.filterNot(keptDetails).foreach { d =>
        // The shared cache self-invalidates through the mtime-keyed
        // detailKey (a deleted path never resolves to its old key again);
        // dead entries age out via the size bound.
        store.delete(logDir.resolve(d))
      }
    }
    deadRefs.foreach(rel => deleteRecursively(tableRoot.resolve(rel)))
    // Leaf-granular deletes (bucketed layouts) can leave an empty commit-top
    // shell behind — remove tops that now hold nothing. Scope: ONLY the
    // parent tops of leaves THIS pass deleted, and best-effort. Ordinary
    // writers don't take the maintenance lock, so a freshly-created commit
    // dir elsewhere under data/ may be momentarily empty (about to receive
    // its first file) — sweeping all of data/ could delete an in-flight
    // writer's dir, or throw DirectoryNotEmptyException when the dir gains
    // a file between the emptiness check and the delete, failing an expire
    // whose reclaim already completed. A top this pass emptied can't be
    // racing: its manifest references were dead in every retained snapshot.
    val sweptTops = deadRefs.flatMap { rel =>
      val p = tableRoot.resolve(rel).getParent
      if (p != null && p.getFileName != null &&
          p.getFileName.toString != "data" && p.startsWith(tableRoot)) Some(p)
      else None
    }
    sweptTops.foreach { p =>
      try {
        if (Files.isDirectory(p) &&
            Using.resource(Files.list(p))(!_.iterator().hasNext))
          Files.deleteIfExists(p)
      } catch {
        // Best-effort: a race that refilled or removed the dir is fine.
        case _: java.nio.file.DirectoryNotEmptyException |
             _: java.nio.file.NoSuchFileException => ()
      }
    }
    dropPs.size
  }

  /**
   * Age-based form of [[expire]]: drop snapshots committed strictly BEFORE
   * `cutoff` (an ISO-8601 instant), always retaining at least the newest
   * one — the head must survive any retention policy. Same immediate
   * storage-reclaim semantics as [[expire]]. Instants are PARSED before
   * comparing (variable fractional-second precision breaks lexicographic
   * order, same pitfall as readAsOfTimestamp).
   */
  def expireOlderThan(cutoff: String): Int = withMaintenanceLock {
    // Counted under the same (reentrant) lock expire() deletes under, so a
    // commit landing between the count and the delete can't shift which
    // snapshots "newest keep" denotes.
    val cut = Instant.parse(cutoff)
    val keep = snapshotsCore()
      .count(s => !Instant.parse(s.committedAt).isBefore(cut))
    expire(math.max(1, keep))
  }

  private def expireOldManifests(): Unit = {
    val ms = listManifests()
    if (ms.size > retainVersions) withMaintenanceLock {
      // A concurrent committer may be expiring the same manifests — a read
      // of an already-deleted file is a benign race, not an error. The
      // MANIFEST is deleted FIRST: readers resolve detail files only
      // through a manifest they just read, so deleting the detail first
      // would leave a visible manifest pointing at nothing.
      // Tagged manifests are exempt (same rule as expire()); the tag
      // listing is only paid on the commits that actually cross retention —
      // and it must happen under the maintenance lock addTag holds, or a
      // tag claimed between this read and the deletes below would land on
      // a manifest this pass is deleting.
      val tagged = taggedIds()
      // Manifests delete eagerly; their DETAIL files do not — a detail may
      // be a live segment of a retained manifest, and proving otherwise
      // costs O(retained) reads this per-commit path must not pay. The
      // grace-gated orphan sweep below reclaims unreferenced details with
      // the same (grace + interval) lifetime bound data-dir orphans get;
      // an expired detail's mtime is its old commit time, so the very next
      // sweep collects it.
      ms.dropRight(retainVersions)
        .filterNot(p => tagged.contains(
          p.getFileName.toString.stripPrefix("v").stripSuffix(".json").toLong))
        .foreach(store.delete)
      // The orphan sweep re-reads every retained manifest (+detail) to build
      // the referenced set — ~200 small reads. Running it on EVERY commit
      // past retention bought nothing: the GC grace makes any orphan
      // younger than `gcGraceMs` immune anyway, so a sweep per grace
      // quarter-hour keeps the same orphan-lifetime bound (grace + interval)
      // at 1/N the steady-state commit cost of a long-running CDC stream.
      // Tests that force immediate GC use gcGraceMs = 0 → interval 0 →
      // every expiry sweeps, as before.
      // The throttle timestamp is PROCESS-WIDE per log (companion map),
      // not per instance: the v2 catalog builds a fresh SnapshotLog per
      // SQL statement, and a per-instance field (always 0 on a fresh
      // instance) made EVERY statement against a past-retention table pay
      // the full orphan sweep — ~retained manifest composes plus a data/
      // listing — the exact steady-state cost this throttle exists to
      // amortize.
      val now = System.currentTimeMillis()
      val last = SnapshotLog.lastSweeps.get(headSlot)
      if (last == null ||
          now - last >= math.min(gcGraceMs / 4, 15L * 60 * 1000)) {
        if (SnapshotLog.lastSweeps.size > 8192) SnapshotLog.lastSweeps.clear()
        SnapshotLog.lastSweeps.put(headSlot, now)
        gcOrphanDataDirs()
        gcOrphanDetailFiles()
      }
    }
  }

  /** Detail files referenced by NO retained manifest (a crashed writer that
    * never claimed its manifest, or a file missed at expiry) are deleted
    * once older than the GC grace — the same protection window in-flight
    * writers get for data dirs. */
  private def gcOrphanDetailFiles(): Unit = {
    val referenced = listManifests()
      .flatMap(p => scala.util.Try(detailRefsOf(p)).getOrElse(Seq.empty)).toSet
    val cutoff = System.currentTimeMillis() - gcGraceMs
    val entries = store.list(logDir)
    entries
      .filter(p => p.getFileName.toString.matches("d\\d{16}-[0-9a-f]{8}\\.json"))
      .filterNot(p => referenced.contains(p.getFileName.toString))
      .filter(p => store.modifiedAtMs(p).exists(_ < cutoff))
      .foreach(store.delete)
    // Crash leftovers of LocalLogStore.tryClaim (write-temp-then-link): a
    // process killed between the temp write and its finally-delete leaves
    // `.commit-*.tmp` in this log dir. Nothing ever references a temp, so
    // age them out with the same grace (an in-flight claim's temp lives
    // milliseconds); without this they accreted over a table's
    // crash-restart history, matched by no other sweep pattern.
    entries
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".commit-") && n.endsWith(".tmp")
      }
      .filter(p => store.modifiedAtMs(p).exists(_ < cutoff))
      .foreach(store.delete)
  }

  /**
   * Delete data directories referenced by NO retained manifest (expired
   * manifests used to be deleted while their data dirs leaked — unbounded
   * storage growth). Granularity matches the layout: whole `data/s*` dirs
   * for unbucketed commits, individual `__bucket=k` leaf dirs for bucketed
   * ones (a later partial rewrite may still reference some leaves of an
   * otherwise-superseded commit dir).
   */
  // gcGraceMs: dirs younger than this are never GC'd — an in-flight writer
  // writes its data dir BEFORE committing the manifest that references it,
  // so a freshly written dir is unreferenced-but-live. The default hour
  // dwarfs any write-to-commit window while bounding orphan lifetime.

  def gcOrphanDataDirs(): Unit = withMaintenanceLock {
    // Under the maintenance mutex: the referenced-set listing and the
    // deletes below must not interleave with a rollback re-referencing a
    // dir that is old enough to be past grace yet currently unreferenced.
    val referenced: Set[String] =
      snapshots().flatMap(s => s.dataDirs ++ s.deltaDirs).toSet ++
        externalRefs() // branch logs share data/ — see externalRefs scaladoc
    val dataRoot = tableRoot.resolve("data")
    if (!Files.isDirectory(dataRoot)) return
    val cutoff = System.currentTimeMillis() - gcGraceMs
    val tops = Using.resource(Files.list(dataRoot))(_.iterator().asScala.toSeq)
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
    tops.foreach { top =>
      val topRel = s"data/${top.getFileName}"
      if (!referenced.contains(topRel)) {
        val leaves =
          if (Files.isDirectory(top))
            Using.resource(Files.list(top))(_.iterator().asScala.toSeq)
          else Seq.empty
        val keep = leaves.filter(l => referenced.contains(s"$topRel/${l.getFileName}"))
        if (keep.isEmpty) deleteRecursively(top)
        else leaves.filterNot(keep.contains)
          .filter(l => l.getFileName.toString.startsWith("__bucket="))
          .foreach(deleteRecursively)
      }
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Using.resource(Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
          .foreach(Files.deleteIfExists(_))
      }
    }
}
