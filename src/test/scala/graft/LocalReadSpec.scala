package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.{GraftTable, LocalPointRead}

/** Driver-side serving lookup ([[LocalPointRead]]) vs the distributed scan:
  * both paths must return identical rows for every column type the corpus
  * exercises (long/int/double/string/date/timestamp), across schema
  * evolution, and the fallback must engage when the local path is off. */
class LocalReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def orders = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")

  private def distributed(t: GraftTable, key: Long) = {
    sys.props(LocalPointRead.MaxBytesProp) = "0"
    try t.lookupKey(key).collect().map(_.toSeq).toSet
    finally sys.props.remove(LocalPointRead.MaxBytesProp)
  }

  test("local lookup equals the distributed scan on orders (incl. date col)") {
    val t = new GraftTable(spark, TestSpark.tmpDir("lkp-").resolve("t"), "t")
    t.overwriteBucketed(orders, "o_orderkey", 8)
    val keys = orders.select("o_orderkey").limit(20).collect().map(_.getLong(0))
    keys.foreach { k =>
      val local = t.lookupKey(k).collect().map(_.toSeq).toSet
      assert(local.nonEmpty, s"key $k must exist")
      assert(local == distributed(t, k), s"paths disagree for key $k")
      assert(t.lookupKeyRows(k).map(_.toSeq).toSet == local,
        s"serving rows call disagrees for key $k")
    }
    // a missing key returns empty on both paths
    assert(t.lookupKey(-1L).collect().isEmpty)
    assert(t.lookupKeyRows(-1L).isEmpty)
  }

  test("local lookup handles timestamp columns and schema evolution") {
    // Both timestamp kinds through the serving path: `ts` is NTZ (what
    // Q.events now emits), `ts_ltz` the session-TZ flavor.
    val ev = graft.queries.Q.events(spark, TestSpark.sf0001)
      .withColumn("ts_ltz", col("ts").cast("timestamp"))
    val t = new GraftTable(spark, TestSpark.tmpDir("lkp-ev-").resolve("t"), "t")
    t.overwriteBucketed(ev, "event_id", 4)
    // evolve: new column appears only in post-evolution files
    t.append(ev.limit(5).withColumn("event_id", col("event_id") + 1000000)
      .withColumn("extra", lit(7L)))
    // Regression: the evolved column must be NULLABLE in the table schema —
    // with the incoming batch's nullable=false carried into the union, the
    // serving path's LocalRelation read the null padding back as 0.
    assert(t.schema("extra").nullable, "evolved columns are nullable by construction")
    val preEvo = t.lookupKey(3L).collect()
    assert(preEvo.length == 1 && preEvo.head.isNullAt(preEvo.head.fieldIndex("extra")),
      "pre-evolution file rows must be padded with a typed null")
    assert(preEvo.head.getAs[java.time.LocalDateTime]("ts") != null)
    assert(preEvo.head.getAs[java.sql.Timestamp]("ts_ltz") != null)
    val postEvo = t.lookupKey(1000003L).collect()
    assert(postEvo.length == 1 && postEvo.head.getAs[Long]("extra") == 7L)
    assert(t.lookupKey(3L).collect().map(_.toSeq).toSet == distributed(t, 3L))
  }

  test("mixed pre/post-evolution files in one bucket with sanitized names: bit-equal to distributed") {
    import spark.implicits._
    import graft.functions.Identifiers
    // Column names as CSV ingest sanitization produces them — mixed case
    // with underscores ("Customer Id" → "Customer_Id"): the serving read
    // remaps file→table columns BY NAME, so sanitized spellings must round
    // trip exactly.
    val custCol = Identifiers.sanitize("Customer Id")
    val valCol = Identifiers.sanitize("Order Value")
    val extraCol = Identifiers.sanitize("Extra Col")
    assert(custCol == "Customer_Id" && extraCol == "Extra_Col")
    val t = new GraftTable(spark, TestSpark.tmpDir("lkp-mix-").resolve("t"), "t")
    val v1 = (0L until 40L).map(k => (k, s"name$k", k * 2.5))
      .toDF("id", custCol, valCol)
    t.overwriteBucketed(v1, "id", 4)
    // Post-evolution append DUPLICATING existing ids: every bucket now
    // mixes a 3-column pre-evolution file with a 4-column appended file,
    // and the duplicated keys have one row in EACH file shape.
    val v2 = Seq(3L, 17L, 30L).map(k => (k, s"name$k-new", k * 3.5, s"x$k"))
      .toDF("id", custCol, valCol, extraCol)
    t.append(v2)
    assert(t.schema.fieldNames.toSeq == Seq("id", custCol, valCol, extraCol))
    for (k <- 0L until 40L) {
      val local = t.lookupKeyRows(k).map(_.toSeq)
      val dist = {
        sys.props(LocalPointRead.MaxBytesProp) = "0"
        try t.lookupKeyRows(k).map(_.toSeq)
        finally sys.props.remove(LocalPointRead.MaxBytesProp)
      }
      // Multiset bit-equality: same rows, same values, same null padding.
      assert(local.map(_.toString).sorted == dist.map(_.toString).sorted,
        s"paths disagree for key $k: local=$local dist=$dist")
      val expected = if (Seq(3L, 17L, 30L).contains(k)) 2 else 1
      assert(local.size == expected, s"key $k expected $expected rows, got $local")
      // The pre-evolution row of a duplicated key must be null-padded.
      if (expected == 2)
        assert(local.exists(_.last == null) && local.exists(_.last == s"x$k"),
          s"key $k rows: $local")
    }
  }

  test("footer-stats row-group pruning bounds the serving decode") {
    // Tiny row groups force a multi-group bucket file even at test scale;
    // buckets are key-sorted at write, so groups hold disjoint key ranges
    // and the eq(key) predicate must let the reader SKIP most of them.
    sys.props("graft.bucket.rowGroupBytes") = "8192"
    val t = new GraftTable(spark, TestSpark.tmpDir("lkp-rg-").resolve("t"), "t")
    try t.overwriteBucketed(orders, "o_orderkey", 2)
    finally sys.props.remove("graft.bucket.rowGroupBytes")
    val bucketRows = orders.count() / 2 // ~rows per bucket (2 buckets)
    val keys = orders.select("o_orderkey").orderBy("o_orderkey")
      .collect().map(_.getLong(0))
    Seq(keys(10), keys(keys.length / 2), keys(keys.length - 10)).foreach { k =>
      val rows = t.lookupKeyRows(k)
      assert(rows.nonEmpty, s"key $k must exist")
      val decoded = LocalPointRead.lastRowsDecoded.get()
      assert(decoded >= 0, "serving path must have been taken")
      assert(decoded < bucketRows / 2,
        s"key $k decoded $decoded rows of a ~$bucketRows-row bucket — " +
          "row-group stats pruning is not engaging")
    }
    // Pruning must never change the answer: compare against distributed.
    val k = keys(keys.length / 3)
    assert(t.lookupKeyRows(k).map(_.toSeq).toSet == distributed(t, k))
  }

  test("multi-key serving lookup equals the distributed scan (hits + misses)") {
    import spark.implicits._
    val t = new GraftTable(spark, TestSpark.tmpDir("lkp-multi-").resolve("t"), "t")
    t.overwriteBucketed(orders, "o_orderkey", 8)
    val present = orders.select("o_orderkey").limit(6).collect().map(_.getLong(0)).toSeq
    val keys = present ++ Seq(-1L, -2L) // two guaranteed misses
    val viaLocal = t.lookupKeys(keys)
    assert(viaLocal.inputFiles.isEmpty,
      "no-delta multi-key lookup must serve from the driver-side read")
    val localRows = viaLocal.collect().map(_.toSeq.toString).sorted.toSeq
    val distRows = {
      sys.props(LocalPointRead.MaxBytesProp) = "0"
      try t.lookupKeys(keys).collect().map(_.toSeq.toString).sorted.toSeq
      finally sys.props.remove(LocalPointRead.MaxBytesProp)
    }
    assert(localRows == distRows && localRows.size == present.size)
  }

  test("binary bucket keys match by value, not array reference") {
    import spark.implicits._
    val t = new GraftTable(spark, TestSpark.tmpDir("lkp-bin-").resolve("t"), "t")
    val rows = (0 until 40).map(i => (Array(i.toByte, (i + 1).toByte), s"v$i"))
    t.overwriteBucketed(rows.toDF("bkey", "payload"), "bkey", 4)
    // A FRESH array instance with the same bytes: reference equality would
    // silently return empty where the distributed filter returns the row.
    val got = t.lookupKeyRows(Array(7.toByte, 8.toByte))
    assert(got.map(_.getAs[String]("payload")) == Seq("v7"), s"got $got")
    assert(t.lookupKeyRows(Array(99.toByte, 100.toByte)).isEmpty)
  }

  test("byte cap forces the distributed fallback; results identical") {
    val t = new GraftTable(spark, TestSpark.tmpDir("lkp-cap-").resolve("t"), "t")
    t.overwriteBucketed(orders, "o_orderkey", 4)
    val k = orders.select("o_orderkey").head().getLong(0)
    val viaLocal = t.lookupKeyRows(k).map(_.toSeq).toSet
    sys.props(LocalPointRead.MaxBytesProp) = "1" // every bucket exceeds 1 byte
    try {
      val viaSpark = t.lookupKeyRows(k).map(_.toSeq).toSet
      assert(viaSpark == viaLocal && viaSpark.nonEmpty)
    } finally sys.props.remove(LocalPointRead.MaxBytesProp)
  }

  test("float semantics: signed zeros and NaN agree with the distributed scan") {
    import spark.implicits._
    // Spark's EqualTo on double compares primitives (-0.0 == 0.0 TRUE,
    // NaN = NaN TRUE via genEqual); the local path's boxed key set and
    // parquet's stats comparator both distinguish the zero signs — the
    // signed-zero expansion and the NaN stats-predicate decline keep the
    // two paths row-identical.
    val dir = TestSpark.tmpDir("lkp-f0-").resolve("d0")
    val df = Seq((1L, 0.0), (2L, -0.0), (3L, Double.NaN), (4L, 1.5))
      .toDF("id", "d")
    df.coalesce(1).write.parquet(dir.toString)
    val back = spark.read.parquet(dir.toString)
    val conf = spark.sessionState.newHadoopConf()
    def local(v: Double): Set[Long] = {
      val got = LocalPointRead.lookupRowsIn(
        spark, conf, Seq(dir.toString), back.schema, "d", Seq(v))
      assert(got.isDefined, "local path must engage for a flat double schema")
      got.get.map(_.getLong(0)).toSet
    }
    def dist(v: Double): Set[Long] =
      back.filter(col("d") === lit(v)).collect().map(_.getLong(0)).toSet
    for (v <- Seq(0.0, -0.0, Double.NaN, 1.5, 2.5)) {
      assert(local(v) == dist(v), s"paths disagree for double key $v")
    }
    assert(local(0.0) == Set(1L, 2L), "0.0 must match the stored -0.0 row")
    assert(local(-0.0) == Set(1L, 2L), "-0.0 must match the stored 0.0 row")
    assert(local(Double.NaN) == Set(3L), "NaN must match the stored NaN row")
  }

  test("nested schemas fall back to the distributed path") {
    import org.apache.spark.sql.types._
    val st = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(FloatType))))
    assert(!LocalPointRead.supports(st))
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val t = new GraftTable(spark, TestSpark.tmpDir("lkp-emb-").resolve("t"), "t")
    t.overwriteBucketed(emb, "vec_id", 4)
    val got = t.lookupKey(1L).collect() // must not throw; distributed path
    assert(got.length == 1 &&
      got.head.getSeq[Float](got.head.fieldIndex("embedding")).nonEmpty)
  }
}
