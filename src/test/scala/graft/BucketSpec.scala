package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftTable

/** Bucketed copy-on-write: partial rewrites, layout preservation, data GC. */
class BucketSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def orders = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")

  test("upsert on a bucketed table rewrites only touched buckets; untouched dirs carry forward") {
    val t = new GraftTable(spark, TestSpark.tmpDir("bkt-").resolve("t"), "t")
    val v1 = t.overwriteBucketed(orders, "o_orderkey", numBuckets = 8)
    assert(v1.dataDirs.size == 8)
    assert(t.bucketSpec.contains(("o_orderkey", 8)))

    // a handful of keys → far fewer than 8 buckets touched
    val updates = orders.filter(col("o_orderkey").isin(1L, 2L, 3L))
      .withColumn("o_orderpriority", lit("X"))
    val v2 = t.upsert(updates, "o_orderkey")

    val reused = v2.dataDirs.toSet.intersect(v1.dataDirs.toSet)
    assert(reused.nonEmpty, "untouched bucket dirs must be reused verbatim")
    assert(v2.dataDirs.toSet != v1.dataDirs.toSet)
    val replaced = v1.dataDirs.toSet -- v2.dataDirs.toSet
    assert(replaced.size < 8, s"only touched buckets replaced, got $replaced")

    // content correctness
    val got = t.read().filter(col("o_orderkey").isin(1L, 2L, 3L))
      .select("o_orderpriority").distinct().collect().map(_.getString(0)).toSeq
    assert(got == Seq("X"))
    assert(t.read().count() == orders.count())
    // records bookkeeping survives the partial rewrite
    assert(v2.summary("records").toLong == orders.count())
  }

  test("deleteKeys is a partial rewrite; append lands in bucket leaves; spec survives") {
    val t = new GraftTable(spark, TestSpark.tmpDir("bkt-").resolve("t"), "t")
    val v1 = t.overwriteBucketed(orders.filter(col("o_orderkey") < 1000), "o_orderkey", 4)
    val v2 = t.append(orders.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 1100))
    assert(t.bucketSpec.contains(("o_orderkey", 4)), "append must keep the bucket spec")
    assert(v2.dataDirs.forall(_.contains("__bucket=")), "appended rows live in bucket leaves")

    val v3 = t.deleteKeys(orders.filter(col("o_orderkey") === 7).select("o_orderkey"), "o_orderkey")
    assert(v3.dataDirs.toSet.intersect(v2.dataDirs.toSet).nonEmpty,
      "deleting one key must leave other buckets' dirs untouched")
    assert(t.read().count() == orders.filter(col("o_orderkey") =!= 7 && col("o_orderkey") < 1100).count())
  }

  test("compact collapses append accumulation; timestamp cutoff time-travels") {
    val t = new GraftTable(spark, TestSpark.tmpDir("cpt-").resolve("t"), "t")
    t.overwrite(orders.filter(col("o_orderkey") < 100))
    (1 to 4).foreach { i =>
      t.append(orders.filter(col("o_orderkey") >= i * 100 && col("o_orderkey") < (i + 1) * 100))
    }
    val before = t.log.latest().get
    assert(before.dataDirs.size == 5)
    val preCompactTs = before.committedAt
    val rows = t.read().count()
    val c = t.compact()
    assert(c.dataDirs.size == 1 && c.operation == "compact")
    assert(t.read().count() == rows)
    // P6: cutoff at the pre-compact commit time resolves to that version
    assert(t.readAsOfTimestamp(preCompactTs).count() == rows)
    assert(t.readAsOfTimestamp("1970-01-01T00:00:00Z").count() == 0)
  }

  test("auto-compaction bounds dir accumulation on append-heavy tables") {
    val t = new GraftTable(spark, TestSpark.tmpDir("ac-").resolve("t"), "t",
      autoCompactAfter = 3)
    t.overwrite(orders.filter(col("o_orderkey") < 100))
    (1 to 6).foreach { i =>
      t.append(orders.filter(col("o_orderkey") >= i * 100 && col("o_orderkey") < (i + 1) * 100))
    }
    val head = t.log.latest().get
    assert(head.dataDirs.size <= 4, s"auto-compact must bound dirs, got ${head.dataDirs.size}")
    assert(t.read().count() == orders.filter(col("o_orderkey") < 700).count())
  }

  test("expired snapshots' orphaned data dirs are GC'd; live dirs survive") {
    val root = TestSpark.tmpDir("gc-").resolve("t")
    val t = new GraftTable(spark, root, "t", retainVersions = 1, gcGraceMs = 0L)
    t.overwrite(orders.filter(col("o_orderkey") < 100))
    val v1Dirs = t.log.latest().get.dataDirs
    t.overwrite(orders.filter(col("o_orderkey") < 200))
    t.overwrite(orders.filter(col("o_orderkey") < 300))
    val liveDirs = t.log.latest().get.dataDirs
    assert(t.log.versions().size == 1, "only the last manifest retained")
    v1Dirs.foreach { d =>
      assert(!java.nio.file.Files.exists(root.resolve(d)), s"orphan dir $d must be deleted")
    }
    liveDirs.foreach { d =>
      assert(java.nio.file.Files.exists(root.resolve(d)), s"live dir $d must survive")
    }
    assert(t.read().count() == orders.filter(col("o_orderkey") < 300).count())
  }

  test("GC grace protects in-flight readers pinned to an expired snapshot") {
    val root = TestSpark.tmpDir("gcgrace-").resolve("t")
    // grace = 1h: dirs younger than that are never deleted, even when every
    // manifest referencing them has expired — the snapshot-isolation window
    // a long-running reader relies on.
    val t = new GraftTable(spark, root, "t", retainVersions = 1,
      gcGraceMs = 60L * 60 * 1000)
    val a = orders.filter(col("o_orderkey") < 100)
    t.overwrite(a)
    val v1 = t.latestVersion
    val inflight = t.readAsOf(v1) // lazy plan pinned to v1's files
    t.overwrite(orders.filter(col("o_orderkey") < 200))
    t.overwrite(orders.filter(col("o_orderkey") < 300))
    assert(t.log.get(v1).isEmpty, "v1's manifest must have expired")
    // the pinned plan still evaluates: its files sit inside the grace window
    assert(inflight.count() == a.count())
  }

  test("floating-point bucket keys are refused at layout creation") {
    import spark.implicits._
    // xxhash64 hashes IEEE bits, so -0.0/0.0 — equal under SQL '=' — would
    // land in different buckets and pruned lookups would miss rows.
    val t = new GraftTable(spark, TestSpark.tmpDir("bk-f-").resolve("t"), "t")
    val df = Seq((0.0, "a"), (-0.0, "b")).toDF("score", "v")
    val e = intercept[IllegalArgumentException] {
      t.overwriteBucketed(df, "score", 4)
    }
    assert(e.getMessage.contains("floating-point"), e.getMessage)
  }
}
