package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftTable

/** Merge-on-read: deferred upserts append deltas (no base rewrite), readers
  * resolve latest-per-key + tombstones, compaction folds the chain. */
class MorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def orders = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")

  test("deltaPartitions sizes the delta to N files; results identical") {
    // The small-files control: a long stream writing one delta per trigger
    // must not leave total-cores files per batch for every read/compaction
    // to open. Same rows either way — only the file layout changes.
    val t = new GraftTable(spark, TestSpark.tmpDir("mor-dp-").resolve("t"), "t")
    t.overwrite(orders)
    val upd = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 500)
      .repartition(8) // a wide-arriving batch, as a real micro-batch would
    assert(upd.rdd.getNumPartitions > 2, "fixture must arrive wider than the target")
    val v = t.upsertDeferred(upd, "o_orderkey", deltaPartitions = 2)
    val deltaDir = t.root.resolve(v.deltaDirs.last)
    val files = {
      val s = java.nio.file.Files.list(deltaDir)
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    assert(files == 2, s"delta must land as exactly 2 parquet files, got $files")
    // Resolution unchanged: updated rows show the bumped price.
    val dsum = sum(col("o_totalprice").cast("decimal(18,2)"))
    val got = t.read().filter(col("o_orderkey") % 3 === 0).agg(dsum).head.getDecimal(0)
    val want = upd.agg(dsum).head.getDecimal(0)
    assert(got == want)
  }

  test("bucketed compaction rewrites only touched buckets; tombstones apply") {
    import spark.implicits._
    val t = new GraftTable(spark, TestSpark.tmpDir("mor-pc-").resolve("t"), "t")
    t.overwriteBucketed(orders, "o_orderkey", 8)
    val before = t.log.latest().get.dataDirs.toSet
    // A handful of keys → at most that many touched buckets; one delete.
    val hot = Seq(1L, 2L, 3L)
    val upd = orders.filter(col("o_orderkey").isin(hot: _*))
      .withColumn("o_totalprice", col("o_totalprice") + 111)
    t.upsertDeferred(upd, "o_orderkey")
    t.upsertDeferred(orders.filter(col("o_orderkey") === 7L)
      .withColumn("op", lit("d")), "o_orderkey", opCol = Some("op"))
    assert(t.log.latest().get.deltaDirs.size == 2)

    val c = t.compact()
    assert(c.operation == "compact" && c.deltaDirs.isEmpty)
    val after = c.dataDirs.toSet
    val carried = before.intersect(after)
    val rewritten = after -- before
    // 4 distinct keys hash into at most 4 of 8 buckets; the rest carry
    // forward verbatim — dir names unchanged, no rewrite.
    assert(rewritten.size <= 4,
      s"at most 4 buckets may be rewritten, got ${rewritten.size}")
    assert(carried.nonEmpty, "untouched buckets must carry forward as-is")
    assert(carried.size + rewritten.size == after.size)

    // Values: updates applied, tombstone deleted, row count consistent.
    val res = t.read()
    assert(res.count() == orders.count() - 1)
    assert(res.filter(col("o_orderkey") === 7L).isEmpty)
    val bumped = res.filter(col("o_orderkey").isin(hot: _*))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head.getDecimal(0)
    val want = upd.agg(sum(col("o_totalprice").cast("decimal(18,2)"))).head.getDecimal(0)
    assert(bumped == want)
    // Manifest bookkeeping: records match, MOR markers cleared.
    assert(c.summary("records").toLong == orders.count() - 1)
    assert(!c.summary.contains("mor_key"))
  }

  test("deferred upserts leave base dirs untouched; reads resolve; compact folds") {
    val t = new GraftTable(spark, TestSpark.tmpDir("mor-").resolve("t"), "t")
    val v1 = t.overwrite(orders)
    val baseDirs = v1.dataDirs

    val v2 = t.upsertDeferred(orders.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000), "o_orderkey")
    assert(v2.dataDirs == baseDirs, "deferred upsert must not rewrite base data")
    assert(v2.deltaDirs.size == 1)

    val v3 = t.upsertDeferred(orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("op", lit("d")), "o_orderkey", opCol = Some("op"))
    assert(v3.dataDirs == baseDirs && v3.deltaDirs.size == 2)

    val total = orders.count()
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      assert(df.count() == orders.filter(col("o_orderkey") % 5 =!= 0).count())
      val bumped = df.filter(col("o_orderkey") % 2 === 0).select("o_totalprice")
      val expect = orders.filter(col("o_orderkey") % 2 === 0 && col("o_orderkey") % 5 =!= 0)
      assert(bumped.count() == expect.count())
      assert(df.columns.toSeq == orders.columns.toSeq, "meta columns must not leak")
    }
    check(t.read())

    // time travel into the middle of the delta chain resolves that prefix
    assert(t.readAsOf(v2.snapshotId).count() == total)

    val c = t.compact()
    assert(c.deltaDirs.isEmpty)
    check(t.read())

    // idempotent deferred replay
    val n = t.log.versions().size
    t.upsertDeferred(orders.limit(1), "o_orderkey", batchKey = Some("mor-b1"))
    t.upsertDeferred(orders.limit(1), "o_orderkey", batchKey = Some("mor-b1"))
    assert(t.log.versions().size == n + 1)
  }

  test("COW upsert on a table with pending deltas resolves them first") {
    val t = new GraftTable(spark, TestSpark.tmpDir("mor2-").resolve("t"), "t")
    t.overwriteBucketed(orders.filter(col("o_orderkey") < 1000), "o_orderkey", 4)
    t.upsertDeferred(orders.filter(col("o_orderkey") === 3)
      .withColumn("o_orderpriority", lit("DELTA")), "o_orderkey")
    // bucketed fast path must not run while deltas pend — full path resolves
    t.upsert(orders.filter(col("o_orderkey") === 5)
      .withColumn("o_orderpriority", lit("COW")), "o_orderkey")
    val got = t.read().filter(col("o_orderkey").isin(3L, 5L))
      .select("o_orderkey", "o_orderpriority").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(3L -> "DELTA", 5L -> "COW"))
    assert(t.log.latest().get.deltaDirs.isEmpty, "COW merge resolves the chain")
  }

  test("a row appended AFTER a delta wins resolution (commit order respected)") {
    import spark.implicits._
    val t = new GraftTable(spark, TestSpark.tmpDir("mor4-").resolve("t"), "t")
    t.overwrite(Seq((1L, "base")).toDF("id", "v"))
    t.upsertDeferred(Seq((1L, "delta")).toDF("id", "v"), "id")
    t.append(Seq((1L, "appended")).toDF("id", "v"))
    val got = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "appended")),
      s"append after delta must shadow the older delta, got $got")
    // and the appended dir joined the delta chain, not the base
    assert(t.log.latest().get.deltaDirs.size == 2)
  }

  test("interleaved bucketed appends keep their own sequence (leaf dir names repeat)") {
    import spark.implicits._
    // Bucketed appends land as `__bucket=k` LEAF dirs in the delta chain —
    // the leaf NAME repeats across commits (forced here with one bucket), so
    // sequencing by dir name would hand append #1 the sequence of append #2
    // and resurrect a row the deferred update in between had replaced.
    val t = new GraftTable(spark, TestSpark.tmpDir("mor5-").resolve("t"), "t")
    t.overwriteBucketed(Seq((1L, "base")).toDF("id", "v"), "id", 1)
    t.upsertDeferred(Seq((2L, "d1")).toDF("id", "v"), "id")
    t.append(Seq((3L, "a1")).toDF("id", "v"))            // append #1 → leaf __bucket=0
    t.upsertDeferred(Seq((3L, "d2")).toDF("id", "v"), "id") // replaces append #1's row
    t.append(Seq((4L, "a2")).toDF("id", "v"))            // append #2 → leaf __bucket=0 again
    val got = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "base", 2L -> "d1", 3L -> "d2", 4L -> "a2"),
      s"append #1 must not outrank the later deferred update, got $got")
  }

  test("lookupKey sees pending deltas (no stale bucket shortcut)") {
    val t = new GraftTable(spark, TestSpark.tmpDir("mor3-").resolve("t"), "t")
    t.overwriteBucketed(orders.filter(col("o_orderkey") < 1000), "o_orderkey", 4)
    t.upsertDeferred(orders.filter(col("o_orderkey") === 7)
      .withColumn("o_orderpriority", lit("NEW")), "o_orderkey")
    val hit = t.lookupKey(7L).select("o_orderpriority").collect()
    assert(hit.length == 1 && hit(0).getString(0) == "NEW")

    // With the driver-side MOR serving path ON (the default), lookupKey
    // under pending deltas returns a LocalRelation — zero Spark jobs, so
    // there is no file-scan plan to inspect. Assert THAT shape, then
    // disable the local path and assert the distributed plan stays
    // bucket-pruned on BOTH sides of the chain (a serving lookup must not
    // go O(table) the moment one delta batch pends).
    assert(t.lookupKey(7L).inputFiles.isEmpty,
      "pending-delta lookup must serve from the driver-side MOR path")
    sys.props(graft.table.LocalPointRead.MaxBytesProp) = "0"
    try {
      val plan = t.lookupKey(7L)
      assert(plan.collect().map(_.getAs[String]("o_orderpriority")).toSeq ==
        Seq("NEW"))
      val bucket = "__bucket=" + graft.plans.BucketHash.bucketId(7L,
        org.apache.spark.sql.types.LongType, 4,
        spark.sessionState.conf.sessionLocalTimeZone)
      // Base files must come from key 7's bucket leaf only; delta dirs from
      // upsertDeferred are flat (no bucket segment) and are conservatively
      // read in full — they are the bounded small side of the resolution.
      val (baseFiles, deltaFiles) = plan.inputFiles.partition(_.contains("__bucket="))
      assert(baseFiles.nonEmpty && baseFiles.forall(_.contains(bucket + "/")),
        s"base side must scan only $bucket: " +
          plan.inputFiles.map(_.split("/data/").last).toSeq)
      assert(deltaFiles.nonEmpty, "the pending delta must be read")
    } finally sys.props.remove(graft.table.LocalPointRead.MaxBytesProp)
    // rows-shaped serving call agrees
    val rows = t.lookupKeyRows(7L)
    assert(rows.length == 1 &&
      rows(0).getAs[String]("o_orderpriority") == "NEW")
    // a delete tombstone in the chain removes the key from the lookup
    t.upsertDeferred(orders.filter(col("o_orderkey") === 7)
      .withColumn("op", lit("d")), "o_orderkey", opCol = Some("op"))
    assert(t.lookupKey(7L).collect().isEmpty)
    assert(t.lookupKeyRows(7L).isEmpty)
  }

  test("delta leaf dirs are NOT pruned when mor_key differs from the bucket key") {
    // Resolution dedups per mor_key; when the table is bucketed by a
    // DIFFERENT column, a bucketed append in the delta chain can carry the
    // winning image for a key whose old image sits in another bucket —
    // pruning that leaf would resurrect the stale base row.
    import spark.implicits._
    val t = new GraftTable(spark, TestSpark.tmpDir("mor4-").resolve("t"), "t")
    t.overwriteBucketed(
      Seq((1L, "A", "v1"), (2L, "B", "v1")).toDF("id", "region", "payload"),
      "region", 4)
    t.upsertDeferred(Seq((2L, "B", "v2")).toDF("id", "region", "payload"), "id")
    // append under pending deltas: id=1 MOVES to region B; the row lands as
    // a bucket leaf (hash of B) in the delta chain, sequenced last
    t.append(Seq((1L, "B", "v3")).toDF("id", "region", "payload"))
    val stale = t.lookupKeys(Seq("A")).collect()
    assert(stale.isEmpty,
      s"stale base row must lose to the delta-chain image: ${stale.toSeq}")
    val b = t.lookupKeys(Seq("B")).collect().map(r => (r.getLong(0), r.getString(2)))
    assert(b.toSet == Set((1L, "v3"), (2L, "v2")), s"got ${b.toSeq}")
  }

  test("compaction preserves tied duplicate-key rows a pending-delta append landed") {
    // A plain append landing while deltas pend joins the delta chain as ONE
    // dir — duplicate keys included, all at the same sequence. Read-time
    // resolution is a rank cut (latestAll): every tied row survives. The
    // invariant under test: compact() resolves the chain with the SAME cut,
    // so a read before compaction equals the read after it — compaction
    // must never change query results (a row_number resolution silently
    // dropped all but one arbitrary tied row).
    import spark.implicits._
    val t = new GraftTable(spark, TestSpark.tmpDir("mor5-").resolve("t"), "t")
    t.overwriteBucketed(Seq((1L, "base1"), (2L, "base2")).toDF("id", "v"), "id", 4)
    t.upsertDeferred(Seq((2L, "upd2")).toDF("id", "v"), "id") // opens the chain
    // duplicate-key append: two distinct images of id=3 in one chain dir
    t.append(Seq((3L, "dupA"), (3L, "dupB"), (4L, "solo")).toDF("id", "v"))
    val before = t.read().collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(before.count(_._1 == 3L) == 2,
      s"pre-compact read must keep both tied images of id=3, got $before")
    val c = t.compact()
    assert(c.deltaDirs.isEmpty)
    val after = t.read().collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(after == before,
      s"compaction changed query results: before=$before after=$after")
    // and a pruned serving lookup agrees with the full read post-compact
    val served = t.lookupKeys(Seq(3L)).collect().map(_.getString(1)).sorted.toSeq
    assert(served == Seq("dupA", "dupB"), s"got $served")
  }
}
