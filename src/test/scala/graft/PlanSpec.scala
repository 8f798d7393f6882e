package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftTable

/**
 * Physical-plan guards — the 100 TB lens as executable assertions: filters
 * and projections must reach the parquet scan, small dims must broadcast,
 * top-k must not global-sort, point lookups on bucketed tables must scan
 * one bucket, and the merge must not shuffle the target side.
 */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val sf = TestSpark.sf0001

  test("filter + projection push into the parquet scan") {
    val df = graft.queries.Relational.queries("q6_filter_project")(spark, sf)
    val p = plan(df)
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      s"shipdate filter must reach the scan:\n$p")
    assert(p.contains("ReadSchema") &&
      !p.substring(p.indexOf("ReadSchema")).contains("l_returnflag"),
      "untouched columns must be pruned from the scan")
  }

  test("dim sides of the star join broadcast; no shuffle of dims") {
    val df = graft.queries.Relational.queries("q9_region_rollup")(spark, sf)
    assert(plan(df).contains("BroadcastHashJoin"))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val df = graft.queries.Relational.queries("q4_topk_orders")(spark, sf)
    assert(plan(df).contains("TakeOrderedAndProject"))
  }

  test("bucketed point lookup reads exactly one bucket's files") {
    val t = new GraftTable(spark, TestSpark.tmpDir("plan-").resolve("t"), "t")
    t.overwriteBucketed(spark.read.parquet(s"$sf/orders.parquet"), "o_orderkey", 8)
    // Default (serving) path: the ENTIRE lookup — including the read — must
    // launch ZERO Spark jobs; the driver answers from the pruned bucket's
    // files directly (LocalPointRead).
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val localRows =
      try { val d = t.lookupKey(777L).collect(); Thread.sleep(500); d }
      finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"serving lookup must not launch jobs, saw ${jobs.get()}")
    assert(localRows.length == 1)
    // Distributed fallback (big buckets at scale): the scan plan itself
    // must be pruned to the key's single bucket dir.
    sys.props(graft.table.LocalPointRead.MaxBytesProp) = "0"
    val lk =
      try t.lookupKey(777L)
      finally sys.props.remove(graft.table.LocalPointRead.MaxBytesProp)
    val buckets = lk.inputFiles.flatMap(f =>
      "__bucket=(\\d+)".r.findFirstMatchIn(f).map(_.group(1))).toSet
    assert(buckets.size == 1, s"lookup must prune to one bucket, scanned: $buckets")
    assert(lk.count() == 1)
  }

  test("optimizer rule prunes a literal key filter on a plain read to one bucket") {
    val t = new GraftTable(spark, TestSpark.tmpDir("rule-").resolve("t"), "t")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    t.overwriteBucketed(orders, "o_orderkey", 8)
    // No lookupKey here — a PLAIN read with a DataFrame filter; the
    // BucketPruneRule must rewrite the scan to the key's single bucket dir.
    val df = t.read().filter(col("o_orderkey") === 777L)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val buckets = scans.flatMap(_.relation.location.rootPaths)
      .flatMap(p => "__bucket=(\\d+)".r.findFirstMatchIn(p.toString).map(_.group(1))).toSet
    assert(buckets.size == 1, s"filter must prune to one bucket dir, kept: $buckets")
    assert(df.count() == orders.filter(col("o_orderkey") === 777L).count())
    // IN-list prunes to the union of the keys' buckets; other predicates don't prune
    val in = t.read().filter(col("o_orderkey").isin(777L, 7777L))
    assert(in.count() == orders.filter(col("o_orderkey").isin(777L, 7777L)).count())
    val unpruned = t.read().filter(col("o_totalprice") > 0)
    val upBuckets = unpruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.flatMap(_.relation.location.rootPaths)
      .flatMap(p => "__bucket=(\\d+)".r.findFirstMatchIn(p.toString).map(_.group(1))).toSet
    assert(upBuckets.size == 8, "non-key predicates must not prune")
  }

  test("decontamination broadcasts the benchmark side; only 64-bit hashes shuffle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hits = graft.ops.Curation.contaminationHits(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text")
    val p = plan(hits)
    assert(p.contains("BroadcastHashJoin"), s"benchmark side must broadcast:\n$p")
    // No shuffle carries the text column — only (id, shingle-hash) pairs.
    // Under AQE exchanges only exist inside the adaptive plan, so read them
    // from the formatted explain, which lists each node with its inputs.
    val fmt = hits.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val lines = fmt.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.nonEmpty, s"expected shuffles in:\n$fmt")
    exchangeInputs.foreach(in =>
      assert(!in.contains("text#"), s"text must never shuffle: $in"))
  }

  test("duplicate-span detection shuffles window hashes, never document text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val spans = graft.ops.Dedup.dupSpans(docs, "doc_id", "text", n = 8)
    val fmt = spans.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val lines = fmt.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.nonEmpty, s"expected shuffles in:\n$fmt")
    exchangeInputs.foreach(in =>
      assert(!in.contains("text#"), s"text must never shuffle: $in"))
  }

  test("DSIR selection hashes features before any shuffle and top-ks without a global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val top = graft.ops.Importance.dsirTopK(
      docs, docs.filter(col("lang") === "en"), "doc_id", "text", k = 10)
    val fmt = top.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val lines = fmt.linesIterator.toVector
    val exchangeInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange.*""") =>
        lines.drop(i + 1).find(_.startsWith("Input")).getOrElse("")
    }
    assert(exchangeInputs.nonEmpty, s"expected shuffles in:\n$fmt")
    // Feature strings are replaced by their xxhash64 before the count
    // aggregations, so no exchange carries the raw feature or the text —
    // every shuffled key is 8 bytes.
    exchangeInputs.foreach { in =>
      assert(!in.contains("text#"), s"text must never shuffle: $in")
      assert(!in.contains("__fs#"), s"raw feature strings must never shuffle: $in")
    }
    assert(fmt.contains("TakeOrderedAndProject"),
      s"the k-selection must be TakeOrderedAndProject, not a global sort:\n$fmt")
  }

  test("chunking and splitting are map-side only until their terminal agg") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val chunks = fmt(graft.ops.Curation.chunkTokens(docs, "doc_id", "text"))
    assert(!chunks.contains("Exchange"), s"chunking must not shuffle:\n$chunks")
    val split = fmt(graft.ops.Curation.withSplit(docs, "text"))
    assert(!split.contains("Exchange"), s"splitting must not shuffle:\n$split")
  }

  test("quality and repetition metrics are pure map-side (no Exchange)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val rep = fmt(graft.ops.TextAnalysis.repetitionMetrics(docs, "doc_id", "text"))
    assert(!rep.contains("Exchange"), s"repetition metrics must not shuffle:\n$rep")
    val qual = fmt(graft.ops.TextAnalysis.qualityMetrics(docs, "doc_id", "text"))
    assert(!qual.contains("Exchange"), s"quality metrics must not shuffle:\n$qual")
  }

  test("stratified sample plans ONE shuffle — both windows share the group partitioning") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Curation.stratifiedSample(docs, "lang", "doc_id", "text", 0.25))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1,
      s"row_number and the group count must reuse one hashpartitioning, saw $exchanges:\n$p")
  }

  test("sequence packing plans ONE shuffle on the shard key; text never leaves the map side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.ops.Curation.packSequences(docs, "doc_id", "text", budget = 256, shards = 8)
    val p = plan(df)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"packing is one repartition + in-partition fold, saw $exchanges:\n$p")
    assert(p.contains("Exchange hashpartitioning(__shard"),
      s"the one shuffle must be on the shard key:\n$p")
    // The shuffled row is the (id, shard, n_tokens) triple — the greedy
    // fold deserializes a Tuple3 of longs, proving text was projected away
    // before the exchange rather than carried through it.
    assert(p.contains("newInstance(class scala.Tuple3)"),
      s"only the 3-long triple may reach the packing fold:\n$p")
  }

  test("salted join equals the plain join and spreads a hot key across salts") {
    import spark.implicits._
    // 2000 rows of one hot key + a long tail; dim has one row per key.
    val big = ((0 until 2000).map(i => (7L, s"payload-$i")) ++
      (0 until 100).map(i => (100L + i, s"tail-$i"))).toDF("k", "payload")
    val dim = ((7L +: (0 until 100).map(i => 100L + i)).map(k => (k, s"dim-$k")))
      .toDF("k", "dimval")
    val plain = big.join(dim, Seq("k")).select("k", "payload", "dimval")
      .as[(Long, String, String)].collect().toSet
    val salted = graft.ops.SkewJoin.saltedJoin(big, dim, "k", salts = 16)
      .select("k", "payload", "dimval")
      .as[(Long, String, String)].collect().toSet
    assert(salted == plain)
    // Left rows without a match survive exactly once.
    val lonely = Seq((999L, "orphan")).toDF("k", "payload")
    val left = graft.ops.SkewJoin.saltedJoin(big.union(lonely), dim, "k",
      salts = 16, joinType = "left")
    assert(left.count() == plain.size + 1)
    // The hot key's rows really do carry many distinct salts (content-hash
    // salting distributes varying payloads).
    val hotSalts = big.filter($"k" === 7L)
      .withColumn("__salt", pmod(xxhash64(col("k"), col("payload")), lit(16L)))
      .select("__salt").distinct().count()
    assert(hotSalts == 16L, s"hot key spread over only $hotSalts salts")
  }

  test("merge broadcasts the update keys — target side has no shuffle") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val updates = orders.filter(col("o_orderkey") < 10)
    val merged = graft.dml.Merge.merge(orders, updates, "o_orderkey",
      broadcastUpdates = true, updatesRowsHint = Some(10L))
    val p = plan(merged)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"anti join must be broadcast:\n$p")
  }

  test("wallMicros/microsToNtz are zone-free identities in every session zone") {
    import graft.plans.TimestampMicrosExprs._
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      // 2024-01-01T00:00:00 wall-clock plus offsets; values must not move
      // with the session zone (America/New_York also exercises DST rules).
      for (tz <- Seq("UTC", "Asia/Tokyo", "America/New_York")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        val df = spark.range(3)
          .select((col("id") * 977L + 1704067200000000L).as("us"))
        assert(df.select(wallMicros(microsToNtz(col("us"))).as("rt"), col("us"))
          .filter(col("rt") =!= col("us")).count() == 0, s"round trip in $tz")
        val rendered = df.select(microsToNtz(col("us")).cast("string"))
          .orderBy("us").collect().map(_.getString(0)).head
        assert(rendered == "2024-01-01 00:00:00", s"zone $tz rendered $rendered")
      }
      // Gap sessionization over NTZ events gives identical sessions in any
      // zone (the r6 DST-correctness claim, asserted not just commented).
      import spark.implicits._
      def sessions(tz: String): Seq[(Long, Long)] = {
        spark.conf.set("spark.sql.session.timeZone", tz)
        val ev = Seq(1704067200000000L, 1704067260000000L, 1704200000000000L)
          .map(us => (1L, us)).toDF("user_id", "us")
          .select(col("user_id"), microsToNtz(col("us")).as("ts"))
        graft.streaming.EventWindows
          .sessionizeBatch(ev, "ts", "user_id", gapSeconds = 3600L)
          .select(col("user_id"), col("n_events"))
          .as[(Long, Long)].collect().toSeq.sorted
      }
      assert(sessions("UTC") == sessions("America/New_York"))
      assert(sessions("UTC") == Seq((1L, 1L), (1L, 2L)))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}
