package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftTable

/** Split-manifest format: O(1) manifest documents + O(dirs) side detail
  * files, legacy inline manifests refused by revision, side files expired
  * with their manifests. */
class LogSplitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def orders = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")

  private def manifestSizes(t: GraftTable): Seq[Long] = {
    val paths = Files.list(t.root.resolve("_log"))
    try {
      import scala.jdk.CollectionConverters._
      paths.iterator().asScala.toSeq
        .filter(_.getFileName.toString.matches("v\\d{16}\\.json"))
        .map(Files.size(_))
    } finally paths.close()
  }

  test("manifest stays O(segment cap); append details are O(added), not O(dirs)") {
    val t = new GraftTable(spark, TestSpark.tmpDir("split-").resolve("t"), "t")
    t.overwrite(orders.filter(col("o_orderkey") < 100))
    (1 to 30).foreach(i => t.append(orders
      .filter(col("o_orderkey") >= i * 100 && col("o_orderkey") < (i + 1) * 100)))
    val head = t.log.latest().get
    assert(head.dataDirs.size == 31, s"expected 31 dirs, got ${head.dataDirs.size}")
    // The manifest document grows with the SEGMENT LIST (one ~45-byte name
    // per commit since the last fold, capped at maxDetailSegments), never
    // with dir count: 31 dirs must fit well under base + cap * name.
    val late = manifestSizes(t).max
    assert(late <= 1200 + graft.log.SnapshotLog.maxDetailSegments * 60L,
      s"manifest grew beyond the segment-list cap: $late bytes")
    // The SEGMENTED detail write is the point: the newest commit's own
    // detail holds one added dir, not all 31 — an append to a million-dir
    // table writes kilobytes, not the full O(dirs) document.
    val details = {
      val paths = Files.list(t.root.resolve("_log"))
      try {
        import scala.jdk.CollectionConverters._
        paths.iterator().asScala.toSeq
          .filter(_.getFileName.toString.matches("d\\d{16}-[0-9a-f]{8}\\.json"))
          .sortBy(_.getFileName.toString)
      } finally paths.close()
    }
    val newest = Files.size(details.last)
    val first = Files.size(details.head)
    assert(newest <= first * 3,
      s"append detail grew with table dirs: first=$first newest=$newest bytes")
    // and the detail content is still fully served through the manifest
    // (empty appends legitimately carry no stats entry)
    assert(head.dirStats.nonEmpty &&
      head.dirStats.keySet.subsetOf(head.dataDirs.toSet))
    assert(head.dirRecords.keySet == head.dataDirs.toSet)
    assert(t.read().count() == orders.filter(col("o_orderkey") < 3100).count())
  }

  test("legacy inline manifests (pre-split) are refused, naming the revision") {
    val t = new GraftTable(spark, TestSpark.tmpDir("legacy-").resolve("t"), "t")
    t.overwrite(orders.filter(col("o_orderkey") < 500))
    val head = t.log.latest().get
    // rewrite the split manifest as the old single-document format
    import org.json4s.DefaultFormats
    import org.json4s.jackson.Serialization
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val logDir = t.root.resolve("_log")
    val paths = Files.list(logDir)
    val (manifest, detail) =
      try {
        import scala.jdk.CollectionConverters._
        val all = paths.iterator().asScala.toSeq
        (all.find(_.getFileName.toString.matches("v\\d{16}\\.json")).get,
          all.find(_.getFileName.toString.startsWith("d")).get)
      } finally paths.close()
    Files.write(manifest, Serialization.write(head).getBytes("UTF-8"))
    Files.delete(detail)
    graft.log.SnapshotLog.clearSharedCaches() // drop the cached split head
    // Every reader refuses loudly — the full head, the core-only listing,
    // and a table read — never a snapshot without its dirs.
    val refusals = Seq(
      intercept[IllegalStateException](t.log.latest()),
      intercept[IllegalStateException](t.log.snapshotsCore()),
      intercept[IllegalStateException](t.read().count()))
    refusals.foreach { e =>
      assert(e.getMessage.contains("inline manifest") &&
        e.getMessage.contains(
          s"detail revision ${graft.log.SnapshotLog.ReaderRevision}"),
        e.getMessage)
    }
  }

  test("segmented details: partial rewrites remove, rollbacks re-add, reads exact") {
    import spark.implicits._
    val t = new GraftTable(spark, TestSpark.tmpDir("seg-rw-").resolve("t"), "t")
    t.overwriteBucketed((0L until 400L).map(k => (k, s"v$k")).toDF("id", "v"), "id", 4)
    (1 to 6).foreach(i => t.append(
      (1000L * i until 1000L * i + 50L).map(k => (k, "a")).toDF("id", "v")))
    val preRewrite = t.log.latest().get
    // Partial bucket rewrite: the touched buckets' dirs leave the live set
    // (segmented form records them in removedDirs), untouched carry.
    t.upsert((0L until 10L).map(k => (k, "UP")).toDF("id", "v"), "id")
    val afterUp = t.log.latest().get
    assert(afterUp.dataDirs.toSet != preRewrite.dataDirs.toSet)
    val reread = new GraftTable(spark, t.root, "t").log.latest().get
    assert(reread.dataDirs.toSet == afterUp.dataDirs.toSet)
    assert(reread.dirRecords == afterUp.dirRecords,
      "records must compose exactly through segments minus removed")
    assert(t.read().count() == 700L)
    assert(t.read().filter(col("id") < 10L).select("v").collect()
      .forall(_.getString(0) == "UP"))
    // Rollback re-references dirs a later commit removed: they are already
    // present in segments, so the rollback commit only shrinks the removed
    // set — and the read serves the pre-rewrite image exactly.
    t.rollback(preRewrite.snapshotId)
    val rolled = new GraftTable(spark, t.root, "t")
    assert(rolled.read().count() == 700L)
    assert(rolled.read().filter(col("id") < 10L).select("v").collect()
      .forall(_.getString(0).startsWith("v")))
    assert(rolled.log.latest().get.dataDirs.toSet == preRewrite.dataDirs.toSet)
  }

  test("a shared segment survives its own manifest's expiry until unreferenced") {
    import spark.implicits._
    val t = new GraftTable(spark, TestSpark.tmpDir("seg-exp-").resolve("t"),
      "t", retainVersions = 3, gcGraceMs = 0L)
    t.overwrite((0L until 100L).map(k => (k, "x")).toDF("id", "v")) // v1
    (2 to 8).foreach(i =>
      t.append(Seq((1000L + i, "a")).toDF("id", "v"))) // v2..v8 segmented
    // Retention keeps v6..v8; v1's detail is a SEGMENT of every retained
    // manifest (it holds the base 100 rows) and must survive the expiry of
    // manifest v1 itself.
    val names = {
      val paths = java.nio.file.Files.list(t.root.resolve("_log"))
      try {
        import scala.jdk.CollectionConverters._
        paths.iterator().asScala.toSeq.map(_.getFileName.toString)
      } finally paths.close()
    }
    assert(names.count(_.matches("v\\d{16}\\.json")) == 3, s"retention: $names")
    assert(names.exists(_.startsWith("d0000000000000001-")),
      s"v1's detail is a live segment and must survive: $names")
    // The full content still reads through the retained heads.
    val fresh = new GraftTable(spark, t.root, "t")
    assert(fresh.read().count() == 107L)
    assert(fresh.log.latest().get.dataDirs.size == 8)
    // expire(1): only the head remains; it still references the shared
    // segments, which therefore survive — content intact.
    fresh.expireSnapshots(1)
    val fresh2 = new GraftTable(spark, t.root, "t")
    assert(fresh2.read().count() == 107L)
  }

  test("expired manifests take their detail files with them") {
    val t = new GraftTable(spark, TestSpark.tmpDir("split-gc-").resolve("t"),
      "t", retainVersions = 3, gcGraceMs = 0L)
    (0 to 7).foreach(i => t.overwrite(orders.filter(col("o_orderkey") % 8 === i)))
    val paths = Files.list(t.root.resolve("_log"))
    val names =
      try {
        import scala.jdk.CollectionConverters._
        paths.iterator().asScala.toSeq.map(_.getFileName.toString)
      } finally paths.close()
    val manifests = names.filter(_.matches("v\\d{16}\\.json"))
    val details = names.filter(_.matches("d\\d{16}-[0-9a-f]{8}\\.json"))
    assert(manifests.size == 3, s"retention: $manifests")
    assert(details.size == 3, s"side files must expire with manifests: $details")
  }

  test("an inconsistent delta hint falls back to derivation, never corrupts") {
    import spark.implicits._
    val t = new GraftTable(spark, TestSpark.tmpDir("hint-bad-").resolve("t"), "t")
    t.overwrite((0L until 100L).map(k => (k, "x")).toDF("id", "v"))
    t.append(Seq((200L, "a")).toDF("id", "v"))
    val head = t.log.latest().get
    // A metadata-only commit whose hint CLAIMS an added dir that does not
    // exist: the size equation (live == Σ segment-added − removed + added)
    // fails, so the encoder must ignore the hint and derive the true delta
    // — the committed snapshot reads back exactly, bogus dir nowhere.
    val s1 = t.log.commitExpecting(Some(head.snapshotId), "noop",
      head.schemaJson, head.dataDirs, head.summary, None, head.dirRecords,
      head.deltaDirs, head.dirStats,
      Some(graft.log.DirDelta(Seq("data/bogus-hint-dir"))))
    assert(s1.dataDirs.toSet == head.dataDirs.toSet)
    val fresh = new GraftTable(spark, t.root, "t")
    val reread = fresh.log.latest().get
    assert(reread.dataDirs.toSet == head.dataDirs.toSet,
      "bogus hinted dir must not leak into the composed read")
    assert(reread.dirRecords == head.dirRecords)
    assert(fresh.read().count() == 101L)
    // The mirror inconsistency — a hint OMITTING a genuinely added dir —
    // must also fall back (equation fails low) and still serve the new dir.
    val rel = "data/hint-extra"
    Seq((300L, "b")).toDF("id", "v").write.parquet(t.root.resolve(rel).toString)
    val h2 = fresh.log.latest().get
    fresh.log.commitExpecting(Some(h2.snapshotId), "append", h2.schemaJson,
      h2.dataDirs :+ rel, h2.summary, None,
      h2.dirRecords + (rel -> 1L), h2.deltaDirs, h2.dirStats,
      Some(graft.log.DirDelta(Seq.empty)))
    val fresh2 = new GraftTable(spark, t.root, "t")
    assert(fresh2.log.latest().get.dataDirs.contains(rel))
    assert(fresh2.read().count() == 102L)
  }

  test("hinted commits (append, MOR delta, schema verb) read back exactly") {
    import spark.implicits._
    val t = new GraftTable(spark, TestSpark.tmpDir("hint-ok-").resolve("t"), "t")
    t.overwriteBucketed((0L until 200L).map(k => (k, s"v$k")).toDF("id", "v"),
      "id", 4)
    t.append((1000L until 1050L).map(k => (k, "a")).toDF("id", "v"))
    // MOR delta: base dirs unchanged, batch joins the chain (empty hint).
    t.upsertDeferred((0L until 5L).map(k => (k, "MOR")).toDF("id", "v"), "id")
    // Metadata-only verb on the same chain (empty hint, schema changes).
    t.renameColumn("v", "val")
    val live = t.log.latest().get
    val fresh = new GraftTable(spark, t.root, "t")
    val reread = fresh.log.latest().get
    assert(reread.dataDirs.toSet == live.dataDirs.toSet)
    assert(reread.deltaDirs == live.deltaDirs,
      "delta chain must stay inline and exact through hinted commits")
    assert(reread.dirRecords == live.dirRecords)
    assert(fresh.read().count() == 250L)
    assert(fresh.read().filter(col("id") < 5L).select("val").collect()
      .forall(_.getString(0) == "MOR"))
  }

  // --- detail codec: GDT2 only; older encodings refused by revision ---

  private val codecFixture = graft.log.SnapshotDetail(
    dataDirs = Seq("d1__bucket=0", "d2__bucket=1", "quote\"back\\slash",
      "unicode-é中文", "ctrl-\t\n"),
    deltaDirs = Seq("delta-000001", "delta-000002"),
    removedDirs = Seq("gone-1"),
    dirRecords = Map("d1__bucket=0" -> 42L, "d2__bucket=1" -> 0L,
      "big" -> Long.MaxValue),
    dirStats = Map(
      "d1__bucket=0" -> Map("ts:min" -> "2024-01-01", "ts:max" -> "2024-06-30"),
      "d2__bucket=1" -> Map.empty[String, String]))

  /** GDT2 bytes with a VALID CRC32 trailer over `body` (magic included). */
  private def withCrc(body: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    crc.update(body)
    val c = crc.getValue
    body ++ Array((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte,
      c.toByte)
  }

  test("detail codec round-trips GDT2 and refuses JSON and GDT1 documents") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    import graft.log.SnapshotLog.{parseDetailBytes, writeDetailBytes}
    // The writer emits GDT2 — magic, then a CRC32 trailer over everything
    // before it — and its maps parse back as array-backed views, so
    // equality here also exercises ArrayDirMap vs plain Map.
    val binary = writeDetailBytes(codecFixture)
    assert(binary.take(4).toSeq == Seq[Byte]('G', 'D', 'T', '2'))
    assert(withCrc(binary.dropRight(4)).toSeq == binary.toSeq,
      "the trailer must be the CRC32 of the document body")
    assert(parseDetailBytes(binary) == codecFixture)
    // Pre-revision-3 documents are refused by name, never parsed: an r17
    // GDT1 file (the GDT2 body with the old magic and no trailer), a
    // json4s-written detail (the pre-r17 form) and a minimal JSON document.
    val gdt1 = binary.dropRight(4)
    gdt1(3) = '1'
    val json = org.json4s.jackson.Serialization.write(codecFixture)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Seq("GDT1" -> gdt1, "JSON" -> json,
        "JSON" -> """{"dataDirs":["only"]}""".getBytes).foreach {
      case (era, bytes) =>
        val e = intercept[IllegalStateException](parseDetailBytes(bytes))
        assert(e.getMessage.contains(era) &&
          e.getMessage.contains("detail revision 3"), e.getMessage)
    }
    // Arbitrary bytes are refused as well, not silently parsed.
    intercept[IllegalStateException](parseDetailBytes("not json".getBytes))
    // Empty detail round-trips (a fold of an empty table).
    val empty = graft.log.SnapshotDetail(Seq.empty)
    assert(parseDetailBytes(writeDetailBytes(empty)) == empty)
    // Corrupt binary fails LOUDLY: truncation mid-document is a parse
    // failure, never a silent wrong/partial detail.
    intercept[Exception](parseDetailBytes(binary.take(binary.length / 2)))
    // magic + varint(2^20) dictionary count with nothing behind it, under
    // a VALID CRC so the checksum passes: the count guard itself must
    // refuse before any allocation is attempted.
    val bigCount = withCrc(Array[Byte]('G', 'D', 'T', '2',
      0x80.toByte, 0x80.toByte, 0x40))
    val guard = intercept[IllegalArgumentException](parseDetailBytes(bigCount))
    assert(guard.getMessage.contains("count/length 1048576"), guard.getMessage)
    // The CRC trailer names corruption deterministically: any flipped
    // body byte fails with the checksum message BEFORE body decoding can
    // act on the damaged bytes.
    val flipped = binary.clone()
    flipped(binary.length / 2) = (flipped(binary.length / 2) ^ 0x10).toByte
    val crcErr = intercept[IllegalArgumentException](parseDetailBytes(flipped))
    assert(crcErr.getMessage.contains("CRC32 mismatch"))
  }

  test("a future-revision manifest refuses loudly, naming the revision") {
    // The table-format evolution contract (r18): the minReader field lives
    // in the always-JSON core, so a reader too old for the DETAIL encoding
    // fails with a versioned upgrade message, never a byte-parse error —
    // the marker the r17 GDT1 one-way door lacked.
    val root = TestSpark.tmpDir("minreader-").resolve("t")
    val logDir = root.resolve("_log")
    java.nio.file.Files.createDirectories(logDir)
    val core = """{"snapshotId":1,"committedAt":"2026-01-01T00:00:00Z",""" +
      """"operation":"create","schemaJson":"{}","summary":{},""" +
      """"recentBatchKeys":[],"detailFile":"d0000000000000001-deadbeef.json",""" +
      """"detailSegments":[],"minReader":99}"""
    java.nio.file.Files.write(logDir.resolve("v0000000000000001.json"),
      core.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException](
      new graft.log.SnapshotLog(root).latest())
    assert(e.getMessage.contains("requires reader revision >= 99"))
    assert(e.getMessage.contains("upgrade"))
  }

  test("new manifests stamp the reader revision they require") {
    import graft.log.SnapshotLog
    val root = TestSpark.tmpDir("stamp-").resolve("t")
    val log = new SnapshotLog(root)
    val snap = log.commit("create", "{}", Seq("data/x"))
    val raw = new String(java.nio.file.Files.readAllBytes(
      root.resolve("_log").resolve(f"v${snap.snapshotId}%016d.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(raw.contains(s""""minReader":${SnapshotLog.ReaderRevision}"""))
    // And this build reads its own stamp back, of course.
    assert(new SnapshotLog(root).latest().get.dataDirs == Seq("data/x"))
  }

  test("segmented, folded and markerless-parent commits all stamp the " +
      "reader revision") {
    import graft.log.SnapshotLog
    val root = TestSpark.tmpDir("wrev-").resolve("t")
    def rawCore(id: Long): String = new String(
      java.nio.file.Files.readAllBytes(
        root.resolve("_log").resolve(f"v$id%016d.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val log = new SnapshotLog(root)
    val s1 = log.commit("create", "{}",
      Seq("data/a"), dirRecords = Map("data/a" -> 1L),
      dirStats = Map("data/a" -> Map("id:min" -> "1", "id:max" -> "9")))
    assert(rawCore(s1.snapshotId).contains(""""minReader":3"""))
    // Segmented child: stamped 3 and readable through the chain.
    val s2 = log.commit("append", "{}", Seq("data/a", "data/b"),
      dirRecords = Map("data/b" -> 2L))
    assert(rawCore(s2.snapshotId).contains(""""minReader":3"""))
    val got = new SnapshotLog(root).latest().get
    assert(got.dataDirs.sorted == Seq("data/a", "data/b"))
    assert(got.dirStats("data/a")("id:max") == "9")
    // A wide overwrite FOLDS self-contained, and is stamped the same.
    val wide = (0 until 20).map(i => s"data/x$i")
    val s3 = log.commit("overwrite", "{}", wide,
      dirRecords = wide.map(_ -> 1L).toMap)
    assert(rawCore(s3.snapshotId).contains(""""minReader":3"""))
    // A parent manifest WITHOUT the marker does not lower a child's stamp:
    // the stamp is the revision this build writes, never inherited.
    val mPath = root.resolve("_log").resolve(f"v${s3.snapshotId}%016d.json")
    val stripped = rawCore(s3.snapshotId).replaceAll(""","minReader":\d+""", "")
    assert(!stripped.contains("minReader"))
    java.nio.file.Files.write(mPath, stripped.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    SnapshotLog.clearSharedCaches() // drop the cached (path,mtime) head
    val s4 = log.commit("append", "{}", wide :+ "data/d",
      dirRecords = Map("data/d" -> 4L))
    assert(rawCore(s4.snapshotId).contains(""""minReader":3"""),
      rawCore(s4.snapshotId))
    assert(new SnapshotLog(root).latest().get.dataDirs.toSet ==
      (wide :+ "data/d").toSet)
  }

  test("a fold past the shard threshold writes parallel shards, reads exact") {
    import graft.log.SnapshotLog
    val root = TestSpark.tmpDir("shard-").resolve("t")
    val log = new SnapshotLog(root)
    val n = SnapshotLog.foldShardDirs + 5000 // k = 2 shards
    val dirs = (0 until n).map(i => f"data/s$i%07d/__bucket=${i % 32}")
    // Extras: entries keyed OUTSIDE dataDirs (a pending MOR delta dir's
    // record count) must survive the sharded encode — they belong to no
    // shard slice, so they ride the commit's own detail.
    val recs = dirs.map(d => d -> 7L).toMap + ("data/zdelta" -> 42L)
    val stats = dirs.take(100).map(d => d -> Map("k:min" -> "0")).toMap
    val snap = log.commit("create", "{}", dirs,
      dirRecords = recs, dirStats = stats)
    // The manifest core references >1 segment (the shards) — raw check so
    // the assertion can't be satisfied by a single self-contained detail.
    val core = new String(java.nio.file.Files.readAllBytes(
      root.resolve("_log").resolve(f"v${snap.snapshotId}%016d.json")))
    val segCount = "\"detailSegments\":\\[[^\\]]+\\]".r.findFirstIn(core)
      .map(_.count(_ == ',') + 1).getOrElse(0)
    assert(segCount >= 2, s"expected sharded fold, core: ${core.take(400)}")
    // A fresh instance (cold segment cache) composes the exact snapshot.
    SnapshotLog.clearSharedCaches()
    val cold = new SnapshotLog(root).latest().get
    assert(cold.dataDirs.size == n && cold.dataDirs.toSet == dirs.toSet)
    assert(cold.dirRecords == recs && cold.dirStats == stats)
    // A child append stays segmented O(delta) on top of the shards and
    // reads back exactly through the composed chain.
    val extra = Seq("data/extra/__bucket=0")
    log.commitExpecting(Some(snap.snapshotId), "append", "{}", dirs ++ extra,
      dirRecords = recs ++ extra.map(_ -> 1L),
      deltaHint = Some(graft.log.DirDelta(extra)))
    val cold2 = new SnapshotLog(root).latest().get
    assert(cold2.dataDirs.size == n + 1)
    assert(cold2.dirRecords("data/extra/__bucket=0") == 1L)
    // Lifecycle: a later fold (overwrite resets the chain) leaves the
    // shards referenced only by expired manifests; expire() must reclaim
    // the shard files like any other detail.
    log.commit("overwrite", "{}", Seq("data/tiny"))
    assert(log.expire(1) >= 2)
    val detailFiles = {
      val s = java.nio.file.Files.list(root.resolve("_log"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.matches("d\\d{16}-[0-9a-f]{8}\\.json")).toSeq
      } finally s.close()
    }
    assert(detailFiles.size == 1,
      s"only the live head's detail should remain, got $detailFiles")
  }

  test("incremental head-change compose equals full compose, carries the index") {
    import graft.log.{DirDelta, Snapshot, SnapshotLog}
    val root = TestSpark.tmpDir("incr-").resolve("t")
    val warm = new SnapshotLog(root)
    val dirs0 = (0 until 300).map(i => f"data/s$i%04d/__bucket=${i % 8}")
    val s1 = warm.commit("create", "{}", dirs0,
      dirRecords = dirs0.map(_ -> 3L).toMap,
      dirStats = dirs0.map(d => d -> Map("k:min" -> "1", "k:max" -> "9")).toMap)
    warm.latest().get.dataDirsByBucket // materialize the index on the warm log
    def freshEquals(w: Snapshot): Unit = {
      SnapshotLog.clearSharedCaches() // "fresh" must mean a real re-compose
      val f = new SnapshotLog(root).latest().get
      assert(w.dataDirs == f.dataDirs)
      assert(w.dirRecords == f.dirRecords && w.dirStats == f.dirStats)
      assert(w.deltaDirs == f.deltaDirs)
      assert(w.dataDirsByBucket == f.dataDirsByBucket)
    }
    // Append (pure add): the warm re-read must match a fresh full compose —
    // and must have gone through the O(delta) fast path, not a fallback.
    def countingIncremental[T](expect: Boolean)(body: => T): T = {
      val before = warm.incrementalComposes.get()
      val out = body
      assert((warm.incrementalComposes.get() > before) == expect,
        s"incremental-compose fast path: expected used=$expect")
      out
    }
    val add = Seq("data/added/__bucket=3")
    warm.commitExpecting(Some(s1.snapshotId), "append", "{}", dirs0 ++ add,
      dirRecords = s1.dirRecords ++ add.map(_ -> 11L),
      deltaHint = Some(DirDelta(add)))
    freshEquals(countingIncremental(expect = true)(warm.latest().get))
    // Partial rewrite (remove some, add one): removed set grows.
    val gone = dirs0.take(5)
    val kept = dirs0.drop(5) ++ add
    val repl = Seq("data/repl/__bucket=0")
    warm.commitExpecting(Some(s1.snapshotId + 1), "upsert", "{}", kept ++ repl,
      dirRecords = (s1.dirRecords -- gone) ++ add.map(_ -> 11L) + (repl.head -> 15L))
    val afterRw = countingIncremental(expect = true)(warm.latest().get)
    assert(afterRw.dataDirs.size == kept.size + 1 &&
      !afterRw.dataDirs.exists(gone.contains))
    freshEquals(afterRw)
    // MOR delta join (base dirs unchanged): delta chain from own, inline.
    warm.commitExpecting(Some(s1.snapshotId + 2), "upsert-deferred", "{}",
      afterRw.dataDirs, dirRecords = afterRw.dirRecords,
      deltaDirs = Seq("data/delta1"), deltaHint = Some(DirDelta(Seq.empty)))
    freshEquals(countingIncremental(expect = true)(warm.latest().get))
    // Rollback shape (re-add a removed dir): incremental must fall back to
    // the full compose and still be exact.
    val reAdd = warm.latest().get
    warm.commitExpecting(Some(reAdd.snapshotId), "rollback", "{}",
      reAdd.dataDirs ++ Seq(gone.head),
      dirRecords = reAdd.dirRecords + (gone.head -> 3L),
      deltaDirs = reAdd.deltaDirs)
    val rolled = countingIncremental(expect = false)(warm.latest().get)
    assert(rolled.dataDirs.contains(gone.head))
    freshEquals(rolled)
  }

  test("shared-cache accounting stays exact under racing reads and clears") {
    // r18 review fix: cacheHead's put and counter update were a
    // check-then-act racing clearSharedCaches — a clear landing between
    // them left counter and map permanently disagreeing (cacheHead
    // SUBTRACTS a replaced entry's size, so drift could go negative and
    // silently un-bound the cache). Mutations now serialize on one
    // monitor; this hammers reads against clears and asserts the exact
    // quiescent invariant the race used to break.
    import graft.log.SnapshotLog
    SnapshotLog.clearSharedCaches()
    val base = TestSpark.tmpDir("cacherace-")
    val logs = (0 until 4).map { t =>
      val l = new SnapshotLog(base.resolve(s"t$t"))
      val dirs = (0 to t + 3).map(i => s"data/d$i")
      l.commit("create", "{}", dirs, dirRecords = dirs.map(_ -> 1L).toMap)
      l.commit("append", "{}", dirs :+ s"data/extra$t",
        dirRecords = (dirs :+ s"data/extra$t").map(_ -> 1L).toMap)
      l
    }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { ti =>
      new Thread(() => try {
        val rnd = new scala.util.Random(ti)
        while (!stop.get) {
          if (rnd.nextInt(10) == 0) SnapshotLog.clearSharedCaches()
          else assert(logs(rnd.nextInt(logs.size)).latest().isDefined)
        }
      } catch { case t: Throwable => errs.add(t) }, s"cache-race-$ti")
    }
    threads.foreach(_.start())
    Thread.sleep(2000L)
    stop.set(true)
    threads.foreach(_.join(20000L))
    assert(errs.isEmpty, s"racing readers threw: ${errs.peek()}")
    // Quiescent invariant: each counter equals the exact sum over its
    // map's resident entries — no drift in either direction.
    import scala.jdk.CollectionConverters._
    val headSum = SnapshotLog.sharedHeads.values.asScala
      .map(e => math.max(1, e._3.dataDirs.size).toLong).sum
    assert(SnapshotLog.sharedHeadDirs.get == headSum,
      s"head counter ${SnapshotLog.sharedHeadDirs.get} != resident $headSum")
    SnapshotLog.clearSharedCaches()
    assert(SnapshotLog.sharedHeadDirs.get == 0L)
  }

  test("shared head cache is bounded at its cap and never thrashes to zero") {
    // r18 (ADVICE): sharedHeads previously retained one O(dirs) Snapshot
    // per table root for the JVM lifetime — a long-lived multi-table
    // process accreted unbounded heads, each pinning its parsed segment
    // maps past sharedSegments' own bound. Now total cached head dirs are
    // capped (clear-all at overflow, like the segment cache), a same-slot
    // replacement ADJUSTS the count instead of growing it, and the
    // freshly composed head is always cached AFTER an eviction (the
    // next read stays warm — no thrash-to-zero).
    import graft.log.{DirDelta, SnapshotLog}
    SnapshotLog.clearSharedCaches()
    val savedCap = SnapshotLog.maxSharedHeadDirs
    try {
      val base = TestSpark.tmpDir("headcap-")
      val logA = new SnapshotLog(base.resolve("a"))
      val logB = new SnapshotLog(base.resolve("b"))
      val dirsA = (0 until 8).map(i => s"data/a$i/__bucket=$i")
      val dirsB = (0 until 8).map(i => s"data/b$i/__bucket=$i")
      val sA = logA.commit("create", "{}", dirsA,
        dirRecords = dirsA.map(_ -> 1L).toMap)
      logB.commit("create", "{}", dirsB,
        dirRecords = dirsB.map(_ -> 1L).toMap)
      SnapshotLog.maxSharedHeadDirs = 10L // holds one 8-dir head, not two
      logA.latest()
      assert(SnapshotLog.sharedHeads.size == 1 &&
        SnapshotLog.sharedHeadDirs.get == 8L)
      // B would overflow the cap: clear-all, then B ITSELF is cached.
      logB.latest()
      assert(SnapshotLog.sharedHeads.size == 1 &&
        SnapshotLog.sharedHeadDirs.get == 8L)
      // Alternating the two big tables stays bounded every step (steady
      // state = one resident head, not zero, not both).
      (0 until 6).foreach { i =>
        (if (i % 2 == 0) logA else logB).latest()
        assert(SnapshotLog.sharedHeadDirs.get <= SnapshotLog.maxSharedHeadDirs)
        assert(SnapshotLog.sharedHeads.size == 1)
      }
      // Same-slot replacement adjusts the count (9 dirs replace 8), never
      // accretes per-commit.
      SnapshotLog.clearSharedCaches()
      SnapshotLog.maxSharedHeadDirs = 100L
      logA.latest()
      val add = Seq("data/extra/__bucket=0")
      logA.commitExpecting(Some(sA.snapshotId), "append", "{}", dirsA ++ add,
        dirRecords = (dirsA ++ add).map(_ -> 1L).toMap,
        deltaHint = Some(DirDelta(add)))
      logA.latest()
      logA.latest()
      assert(SnapshotLog.sharedHeads.size == 1 &&
        SnapshotLog.sharedHeadDirs.get == 9L)
      // And the slot really serves: two reads of an unchanged head return
      // the same composed instance.
      assert(logA.latest().get eq logA.latest().get)
    } finally {
      SnapshotLog.maxSharedHeadDirs = savedCap
      SnapshotLog.clearSharedCaches()
    }
  }

  test("replay check is evaluated against the commit's own head read") {
    import graft.log.SnapshotLog
    val root = TestSpark.tmpDir("replaych-").resolve("t")
    val log = new SnapshotLog(root)
    // Another writer (a second instance over the same root) lands batch B1.
    new SnapshotLog(root).commit("append", "{}", Seq("data/a"),
      batchKey = Some("B1"))
    // The commit paths must judge replay against the head THEY read — a
    // head read of None (a racing writer committed B1 after it) must NOT
    // report B1 as contained, or the replay return `head.get` would crash
    // on an initially-empty log (and return a stale snapshot otherwise).
    assert(!log.containsIn(None, "B1"))
    assert(log.contains("B1")) // the re-reading public form still sees it
    // Behavioral: a replayed commitExpecting against the CURRENT head is a
    // no-op returning that head, never a duplicate commit.
    val head = log.latest().get
    val replay = log.commitExpecting(Some(head.snapshotId), "append", "{}",
      Seq("data/a", "data/b"), batchKey = Some("B1"))
    assert(replay.snapshotId == head.snapshotId)
    assert(log.latest().get.dataDirs == Seq("data/a"))
  }

  test("main and branch heads occupy distinct shared-cache slots") {
    import graft.log.SnapshotLog
    val root = TestSpark.tmpDir("branchslot-").resolve("t")
    val main = new SnapshotLog(root)
    main.commit("create", "{}", Seq("data/m"))
    val br = main.branchLog("audit")
    br.commit("branch", "{}", Seq("data/m"),
      summary = Map("branch_base" -> "1"))
    SnapshotLog.clearSharedCaches()
    val mainHead = main.latest().get
    br.latest()
    // A branch read must not evict main's composed head (they are distinct
    // logs over one root): the root-keyed slot made every branch-touching
    // maintenance call cost the next serving read a full head recompose.
    assert(SnapshotLog.sharedHeads.size == 2,
      s"expected two head slots, got ${SnapshotLog.sharedHeads.size}")
    assert(main.latest().get eq mainHead)
  }

  test("branches() ignores stray files and orphan sweep collects claim temps") {
    import graft.log.SnapshotLog
    val root = TestSpark.tmpDir("braystray-").resolve("t")
    val log = new SnapshotLog(root, retainVersions = 2, gcGraceMs = 0L)
    log.commit("create", "{}", Seq("data/a"))
    log.branchLog("real").commit("branch", "{}", Seq("data/a"))
    // A stray FILE under branches/ (crash leftover) is not a branch; the
    // listing filters through latest() rather than raw directory checks,
    // so it must simply drop out (and never crash a non-POSIX store).
    val bdir = root.resolve("_log").resolve("branches")
    Files.write(bdir.resolve("junk"), "not a branch".getBytes)
    assert(log.branches() == Seq("real"))
    // A crashed tryClaim's temp file is swept once past grace (grace 0
    // here): previously no GC pattern matched it and leftovers accreted.
    val tmp = root.resolve("_log").resolve(".commit-crashed.tmp")
    Files.write(tmp, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(tmp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000L))
    (1 to 3).foreach(i => log.commit("append", "{}", Seq(s"data/a$i")))
    assert(!Files.exists(tmp), "stale .commit-*.tmp must be swept")
  }

  test("orphan sweep is throttled process-wide across fresh instances") {
    import graft.log.SnapshotLog
    val root = TestSpark.tmpDir("sweepthrottle-").resolve("t")
    // Non-zero grace → a 15 s minimum sweep interval (gcGraceMs / 4).
    def fresh() = new SnapshotLog(root, retainVersions = 1, gcGraceMs = 60_000L)
    def plantOrphan(name: String): java.nio.file.Path = {
      val p = root.resolve("_log").resolve(name)
      Files.write(p, "{}".getBytes)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 600_000L)) // past grace
      p
    }
    val a = fresh()
    a.commit("create", "{}", Seq("data/a"))
    val orphan1 = plantOrphan(f"d${900L}%016d-deadbeef.json")
    a.commit("append", "{}", Seq("data/b")) // crosses retention → sweeps
    assert(!Files.exists(orphan1), "first cross-retention commit sweeps")
    // A FRESH instance within the interval must NOT sweep again: the
    // throttle timestamp is process-wide, not per instance — per-instance
    // state made every per-statement SnapshotLog pay the full sweep.
    val orphan2 = plantOrphan(f"d${901L}%016d-deadbeef.json")
    fresh().commit("append", "{}", Seq("data/c"))
    assert(Files.exists(orphan2),
      "fresh instance within the sweep interval must be throttled")
  }
}
