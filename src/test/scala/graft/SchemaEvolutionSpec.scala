package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftCatalog
import graft.table.ColumnIds

/** Metadata-only column RENAME / DROP (stable field ids): the Iceberg
  * schema-evolution verbs as zero-data-dir commits, mapped at the API
  * boundary by [[graft.table.ColumnIds]]. */
class SchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshCat() = new GraftCatalog(spark, TestSpark.tmpDir("sev-"))

  private def orders = spark.read
    .parquet(s"${TestSpark.sf0001}/orders.parquet")
    .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")

  test("rename is metadata-only; reads, writes, time travel all map") {
    val cat = freshCat()
    val t = cat.saveTable("t", orders.filter(col("o_orderkey") <= 400))
    val v1 = t.latestVersion
    val dirsBefore = t.log.latest().get.dataDirs
    t.renameColumn("o_totalprice", "price")
    // Metadata-only: the exact same data dirs, one new manifest.
    assert(t.log.latest().get.dataDirs == dirsBefore)
    assert(t.log.latest().get.operation == "rename-column")
    // The user-visible schema serves the new name; the old is gone.
    assert(t.logicalSchema.fieldNames.contains("price"))
    assert(!t.logicalSchema.fieldNames.contains("o_totalprice"))
    val df = t.read()
    assert(df.columns.contains("price") && !df.columns.contains("o_totalprice"))
    // Values unchanged — same column, new name.
    val sum0 = orders.filter(col("o_orderkey") <= 400)
      .agg(sum("o_totalprice")).head.getDouble(0)
    assert(math.abs(df.agg(sum("price")).head.getDouble(0) - sum0) < 1e-6)
    // Time travel serves the PRE-rename name from the old snapshot.
    assert(t.readAsOf(v1).columns.contains("o_totalprice"))
    // Writes after the rename use the new name; old files still resolve.
    t.append(orders.filter(col("o_orderkey").between(401, 500))
      .withColumnRenamed("o_totalprice", "price"))
    assert(t.read().count() ==
      orders.filter(col("o_orderkey") <= 500).count())
    assert(t.read().filter(col("price").isNull).count() == 0)
    // The renamed field carries a stable id.
    val st = t.schema
    val f = st.fields.find(_.name == "o_totalprice").get
    assert(ColumnIds.logicalName(f) == "price")
    assert(ColumnIds.fieldId(f).isDefined)
  }

  test("rename on a bucketed table keeps keyed DML partial and lookups pruned") {
    val cat = freshCat()
    val t = cat.saveTable("t", orders.limit(0))
    t.overwriteBucketed(orders, "o_orderkey", 8)
    t.renameColumn("o_orderkey", "id")
    t.renameColumn("o_totalprice", "price")
    // Keyed upsert under the NEW key name stays a partial bucket rewrite.
    val before = t.log.latest().get.dataDirs.toSet
    t.upsert(orders.filter(col("o_orderkey").isin(1L, 2L, 3L))
      .withColumnRenamed("o_orderkey", "id")
      .withColumnRenamed("o_totalprice", "price")
      .withColumn("price", lit(1.0)), "id")
    val after = t.log.latest().get.dataDirs.toSet
    assert((before intersect after).nonEmpty, "untouched buckets must carry over")
    val r = t.read()
    // upsert dedupes per key, so compare against DISTINCT source keys.
    assert(r.filter(col("id").isin(1L, 2L, 3L) && col("price") === 1.0).count() ==
      orders.filter(col("o_orderkey").isin(1L, 2L, 3L))
        .select("o_orderkey").distinct().count())
    // Pruned lookup under the new name.
    assert(t.lookupKeys(Seq(42L)).columns.contains("id"))
    assert(t.lookupKeys(Seq(42L)).count() ==
      orders.filter(col("o_orderkey") === 42).count())
    // defaultPk reports the logical name.
    assert(t.defaultPk == "id")
    // Range read on the renamed key maps to physical stats.
    assert(t.readRange("id", 1L, 100L).count() ==
      orders.filter(col("o_orderkey").between(1, 100)).count())
  }

  test("lookupKeys of no keys answers logical names after a rename, with and without deltas") {
    val cat = freshCat()
    val t = cat.saveTable("t", orders.limit(0))
    t.overwriteBucketed(orders.filter(col("o_orderkey") <= 300), "o_orderkey", 4)
    t.renameColumn("o_totalprice", "price")
    val want = t.logicalSchema.fieldNames.toSeq
    assert(want.contains("price") && !want.contains("o_totalprice"))
    def check(): Unit = {
      val none = t.lookupKeys(Seq.empty)
      assert(none.columns.toSeq == want, s"empty key set: ${none.columns.toSeq}")
      assert(none.collect().isEmpty)
      assert(t.lookupKeys(Seq(1L)).columns.toSeq == want)
      assert(t.lookupKey(1L).columns.toSeq == want)
    }
    check()
    t.upsertDeferred(orders.filter(col("o_orderkey") <= 40)
      .withColumnRenamed("o_totalprice", "price"), "o_orderkey")
    assert(t.log.latest().get.deltaDirs.nonEmpty)
    check()
  }

  test("drop is metadata-only; time travel still sees the column") {
    val cat = freshCat()
    val t = cat.saveTable("t", orders.filter(col("o_orderkey") <= 300))
    val v1 = t.latestVersion
    val dirsBefore = t.log.latest().get.dataDirs
    t.dropColumn("o_orderstatus")
    assert(t.log.latest().get.dataDirs == dirsBefore)
    assert(!t.read().columns.contains("o_orderstatus"))
    assert(t.readAsOf(v1).columns.contains("o_orderstatus"))
    // Appends after the drop don't resurrect it.
    t.append(orders.filter(col("o_orderkey").between(301, 350))
      .drop("o_orderstatus"))
    assert(!t.read().columns.contains("o_orderstatus"))
  }

  test("re-adding a dropped column's name gets a fresh physical identity") {
    val cat = freshCat()
    val t = cat.saveTable("t", orders.filter(col("o_orderkey") <= 100))
    t.dropColumn("o_orderstatus")
    t.addColumns(Seq(org.apache.spark.sql.types.StructField("o_orderstatus",
      org.apache.spark.sql.types.StringType, nullable = true)))
    // The new column must NOT leak the dropped column's file bytes.
    val r = t.read()
    assert(r.columns.contains("o_orderstatus"))
    assert(r.filter(col("o_orderstatus").isNotNull).count() == 0,
      "re-added column must read as NULL, not the dropped column's values")
    // Physically it lives under a uniquified name with a stable id.
    val f = t.schema.fields.find(f => ColumnIds.logicalName(f) == "o_orderstatus").get
    assert(f.name != "o_orderstatus" && f.name.contains("__fid"))
  }

  test("rename guards: unknown column, duplicate target, drop guards") {
    val cat = freshCat()
    val t = cat.saveTable("t", orders.limit(0))
    t.overwriteBucketed(orders.limit(100), "o_orderkey", 4)
    intercept[IllegalArgumentException](t.renameColumn("nope", "x"))
    intercept[IllegalArgumentException](
      t.renameColumn("o_totalprice", "o_custkey"))
    intercept[IllegalArgumentException](t.dropColumn("o_orderkey")) // bucket key
    intercept[IllegalArgumentException](t.dropColumn("nope"))
    // Rename chain: a -> b -> c keeps serving the latest name only.
    t.renameColumn("o_totalprice", "p1")
    t.renameColumn("p1", "p2")
    assert(t.read().columns.contains("p2"))
    assert(!t.read().columns.contains("p1"))
    assert(!t.read().columns.contains("o_totalprice"))
    // Renaming BACK to the physical name clears the mapping entirely.
    t.renameColumn("p2", "o_totalprice")
    assert(!ColumnIds.hasMapping(t.schema))
  }

  test("updateWhere / deleteWhere / insertRow speak the renamed names") {
    val cat = freshCat()
    val t = cat.saveTable("t", orders.filter(col("o_orderkey") <= 200))
    t.renameColumn("o_totalprice", "price")
    t.updateWhere(col("o_orderkey") <= 10, Map("price" -> lit(0.5)))
    assert(t.read()
      .filter(col("o_orderkey") <= 10 && col("price") =!= 0.5).count() == 0)
    assert(t.read().filter(col("o_orderkey") <= 10).count() > 0)
    t.deleteWhere(col("price") === 0.5)
    assert(t.read().filter(col("o_orderkey") <= 10).count() == 0)
    t.insertRow(Map("o_orderkey" -> "999999", "price" -> "42.5"))
    val got = t.read().filter(col("o_orderkey") === 999999)
    assert(got.count() == 1 && got.head.getAs[Double]("price") == 42.5)
    // The change feed across the DML speaks logical names too.
    val ch = t.changesBetween(t.latestVersion - 1, t.latestVersion, "o_orderkey")
    assert(ch.columns.contains("price"))
  }

  test("column pruning and bucket pruning push through the rename projection") {
    val cat = freshCat()
    val t = cat.saveTable("t", orders.limit(0))
    t.overwriteBucketed(orders, "o_orderkey", 8)
    t.renameColumn("o_totalprice", "price")
    t.renameColumn("o_orderkey", "id")
    // Projection of ONE logical column must reach the parquet scan as its
    // physical twin — at 100 TB, reading all columns for a 1-column
    // projection is the difference between a scan and a disaster.
    val proj = t.read().select("price")
    val p = proj.queryExecution.executedPlan.toString
    val rs = p.indexOf("ReadSchema")
    assert(rs >= 0 && p.substring(rs, math.min(p.length, rs + 300))
      .contains("o_totalprice"), p.substring(math.max(0, rs), math.min(p.length, rs + 300)))
    assert(!p.substring(rs, math.min(p.length, rs + 300)).contains("o_custkey"))
    // A literal filter on the RENAMED bucket key over the plain read()
    // must still prune to one bucket (BucketPruneRule sees the physical
    // attribute after Catalyst pushes the filter through the alias).
    val lk = t.read().filter(col("id") === 42L)
    val buckets = lk.inputFiles.flatMap(f =>
      "__bucket=(\\d+)".r.findFirstMatchIn(f).map(_.group(1))).distinct
    assert(buckets.length == 1, s"expected 1 bucket, got ${buckets.mkString(",")}")
    assert(lk.count() == orders.filter(col("o_orderkey") === 42).count())
  }

  test("type widening is metadata-only; old files promote, guards refuse") {
    val cat = freshCat()
    val narrow = orders.select(
      col("o_orderkey"),
      col("o_custkey").cast("int").as("o_custkey"),
      col("o_totalprice").cast("float").as("o_totalprice"))
    val t = cat.saveTable("t", narrow.limit(0))
    t.overwriteBucketed(narrow.filter(col("o_orderkey") <= 400), "o_orderkey", 4)
    val dirsBefore = t.log.latest().get.dataDirs
    t.widenColumn("o_custkey", org.apache.spark.sql.types.LongType)
    t.widenColumn("o_totalprice", org.apache.spark.sql.types.DoubleType)
    assert(t.log.latest().get.dataDirs == dirsBefore) // zero data moved
    val r = t.read()
    assert(r.schema("o_custkey").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(r.schema("o_totalprice").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // Values survive the promotion (int32 files read as long).
    val expect = narrow.filter(col("o_orderkey") <= 400)
      .agg(sum(col("o_custkey").cast("long"))).head.getLong(0)
    assert(r.agg(sum("o_custkey")).head.getLong(0) == expect)
    // Filter on the widened column over OLD files stays correct (the
    // parquet row-group predicate is skipped, re-filtering is not).
    val one = narrow.filter(col("o_orderkey") === 42)
      .select(col("o_custkey").cast("long")).head.getLong(0)
    assert(r.filter(col("o_custkey") === one).count() ==
      narrow.filter(col("o_orderkey") <= 400)
        .filter(col("o_custkey").cast("long") === one).count())
    // Writes after the widen land wide; mixed-era read stays exact.
    t.append(narrow.filter(col("o_orderkey").between(401, 500))
      .withColumn("o_custkey", col("o_custkey").cast("long"))
      .withColumn("o_totalprice", col("o_totalprice").cast("double")))
    assert(t.read().count() == narrow.filter(col("o_orderkey") <= 500).count())
    // Guards: narrowing, unknown, bucket key.
    intercept[IllegalArgumentException](
      t.widenColumn("o_custkey", org.apache.spark.sql.types.IntegerType))
    intercept[IllegalArgumentException](
      t.widenColumn("nope", org.apache.spark.sql.types.LongType))
    intercept[IllegalArgumentException](
      t.widenColumn("o_orderkey", org.apache.spark.sql.types.DoubleType))
    // Bloom-indexed column refuses until the sidecar is dropped.
    val t2 = cat.saveTable("t2", narrow.filter(col("o_orderkey") <= 100))
    t2.buildBloomIndex("o_custkey")
    intercept[IllegalArgumentException](
      t2.widenColumn("o_custkey", org.apache.spark.sql.types.LongType))
    t2.dropBloomIndex("o_custkey")
    t2.widenColumn("o_custkey", org.apache.spark.sql.types.LongType)
    assert(t2.read().schema("o_custkey").dataType ==
      org.apache.spark.sql.types.LongType)
    // Serving point read on the widened column: the narrow-file parquet
    // predicate can't push, the answer must still be exact.
    val pv = narrow.filter(col("o_orderkey") <= 100)
      .select(col("o_custkey").cast("long")).head.getLong(0)
    assert(t2.readPointRows("o_custkey", pv).size ==
      narrow.filter(col("o_orderkey") <= 100)
        .filter(col("o_custkey").cast("long") === pv).count())
  }

  test("decimal and date widenings promote across physical encodings; LTZ refuses") {
    import org.apache.spark.sql.types._
    val cat = freshCat()
    val narrow = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet").select(
      col("o_orderkey"),
      col("o_totalprice").cast("decimal(9,2)").as("price"),   // int32-encoded
      col("o_totalprice").cast("decimal(18,2)").as("price18"), // int64-encoded
      col("o_orderdate").cast("date").as("od"))
    val t = cat.saveTable("t", narrow.limit(0))
    t.overwriteBucketed(narrow.filter(col("o_orderkey") <= 400), "o_orderkey", 4)
    val dirsBefore = t.log.latest().get.dataDirs
    // Precision growth crossing the int32 -> int64 physical boundary, the
    // int64 -> binary boundary, scale growth with integer-part headroom,
    // and date -> TIMESTAMP_NTZ — all probed parquet-promotable (r16).
    // The local-TZ timestamp is not parquet-promotable — refused BEFORE
    // any widening, with the NTZ fix named in the message.
    val e = intercept[IllegalArgumentException](
      t.widenColumn("od", TimestampType))
    assert(e.getMessage.contains("TIMESTAMP_NTZ"))
    t.widenColumn("price", DecimalType(12, 2))
    t.widenColumn("price18", DecimalType(22, 3))
    t.widenColumn("od", TimestampNTZType)
    assert(t.log.latest().get.dataDirs == dirsBefore) // zero data moved
    val r = t.read()
    assert(r.schema("price").dataType == DecimalType(12, 2))
    assert(r.schema("price18").dataType == DecimalType(22, 3))
    assert(r.schema("od").dataType == TimestampNTZType)
    // Values survive: sum of the widened decimal equals the cast of the
    // narrow originals; dates read as midnight NTZ (no zone shift).
    val expect = narrow.filter(col("o_orderkey") <= 400)
      .agg(sum(col("price").cast(DecimalType(12, 2)))).head.getDecimal(0)
    assert(r.agg(sum("price")).head.getDecimal(0).compareTo(expect) == 0)
    val wantOd = narrow.filter(col("o_orderkey") === 42)
      .select(col("od").cast(TimestampNTZType)).head.get(0)
    assert(r.filter(col("o_orderkey") === 42).select("od").head.get(0) == wantOd)
    // Mixed era: a post-widen append carries a value the narrow precision
    // could not hold.
    t.append(spark.sql(
      "SELECT 99999999L AS o_orderkey, CAST(7777777777.55 AS DECIMAL(12,2)) AS price, " +
        "CAST(1.5 AS DECIMAL(22,3)) AS price18, TIMESTAMP_NTZ '2031-01-02 03:04:05' AS od"))
    assert(t.read().filter(col("price") > 1000000000L).count() == 1)
    // Refusal: scale growth without integer headroom loses digits.
    intercept[IllegalArgumentException](t.widenColumn("price", DecimalType(12, 4)))
  }

  test("widening a non-key column with pending MOR deltas resolves and compacts") {
    val cat = freshCat()
    val narrow = orders.select(col("o_orderkey"),
      col("o_custkey").cast("int").as("o_custkey"))
    val t = cat.saveTable("t", narrow.limit(0))
    t.overwriteBucketed(narrow.filter(col("o_orderkey") <= 300), "o_orderkey", 4)
    t.upsertDeferred(narrow.filter(col("o_orderkey") <= 30)
      .withColumn("o_custkey", lit(7).cast("int")), "o_orderkey")
    assert(t.log.latest().get.deltaDirs.nonEmpty)
    // Widen the NON-key column mid-chain: base and delta files both carry
    // int32; the resolving read and compaction promote both.
    t.widenColumn("o_custkey", org.apache.spark.sql.types.LongType)
    val r = t.read()
    assert(r.schema("o_custkey").dataType == org.apache.spark.sql.types.LongType)
    assert(r.filter(col("o_orderkey") <= 30 && col("o_custkey") === 7L).count() ==
      narrow.filter(col("o_orderkey") <= 30)
        .select("o_orderkey").distinct().count())
    t.compact()
    assert(t.log.latest().get.deltaDirs.isEmpty)
    assert(t.read().filter(col("o_orderkey") <= 30 && col("o_custkey") === 7L)
      .count() == narrow.filter(col("o_orderkey") <= 30)
        .select("o_orderkey").distinct().count())
  }

  test("widened column goes dark for stats pruning and metadata MIN/MAX") {
    // Narrow-era dir stats live in the OLD type's domain (DATE = epoch
    // DAYS). After a DATE -> TIMESTAMP_NTZ widen, query bounds enter the
    // stats domain as MICROS; comparing micros bounds against days stats
    // would prune EVERY narrow-era dir (days max << micros lo) and
    // silently drop all matching rows — dir skipping is not recoverable
    // by re-filtering. Regression for the r18 fix: statPrunedDirs,
    // the v2 statKept set, and statsFromMetadataAt all decline widened
    // columns while narrow files are live.
    import org.apache.spark.sql.types._
    val vcat = graft.queries.ConnectorQueries.tempCatalog(spark)
    val wh = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$vcat.warehouse"))
    val narrow = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
    graft.queries.ConnectorQueries.ingestBucketed(
      spark, vcat, "t", narrow, "o_orderkey", 4)
    val t = new graft.table.GraftTable(spark, wh.resolve("t"), "t")
    // Precondition: the narrow era really recorded days-domain stats.
    assert(t.log.latest().get.dirStats.values.exists(_.contains("od:min")))
    t.widenColumn("od", TimestampNTZType)
    val lo = java.time.LocalDateTime.of(1994, 1, 1, 0, 0)
    val hi = java.time.LocalDateTime.of(1996, 12, 31, 23, 59)
    val want = t.read()
      .filter(col("od") >= lit(lo) && col("od") <= lit(hi)).count()
    assert(want > 0) // the window must actually hit narrow-era rows
    // (1) Session range read: statPrunedDirs must keep narrow-era dirs.
    assert(t.readRange("od", lo, hi).count() == want)
    // (2) v2 SQL range scan: the manifest statKept set must not compare
    // micros bounds against days stats.
    val sqlGot = spark.sql(
      s"SELECT count(*) AS c FROM $vcat.t WHERE " +
        "od >= TIMESTAMP_NTZ '1994-01-01 00:00:00' AND " +
        "od <= TIMESTAMP_NTZ '1996-12-31 23:59:00'").head.getLong(0)
    assert(sqlGot == want)
    // (3) Metadata MIN/MAX pushdown must decline (days folded as micros
    // would answer ~1970) and compute from real rows instead.
    val aggDf = spark.sql(s"SELECT min(od) AS mn, max(od) AS mx FROM $vcat.t")
    assert(!aggDf.queryExecution.executedPlan.toString
      .contains("metadata-aggregate"))
    val r = aggDf.head
    val wantMn = t.read().agg(min("od"), max("od")).head
    assert(r.get(0) == wantMn.get(0) && r.get(1) == wantMn.get(1))
    // COUNT-only pushdown is still metadata-answerable (no stat domain).
    val cntDf = spark.sql(s"SELECT count(*) AS c FROM $vcat.t")
    assert(cntDf.head.getLong(0) == narrow.count())
  }

  test("MOR deltas and compaction survive a rename") {
    val cat = freshCat()
    val t = cat.saveTable("t", orders.limit(0))
    t.overwriteBucketed(orders.filter(col("o_orderkey") <= 300), "o_orderkey", 4)
    t.renameColumn("o_totalprice", "price")
    t.upsertDeferred(orders.filter(col("o_orderkey") <= 40)
      .withColumnRenamed("o_totalprice", "price")
      .withColumn("price", lit(2.0)), "o_orderkey")
    assert(t.log.latest().get.deltaDirs.nonEmpty)
    val r = t.read()
    assert(r.columns.contains("price"))
    assert(r.count() == orders.filter(col("o_orderkey") <= 300).count())
    t.compact()
    assert(t.log.latest().get.deltaDirs.isEmpty)
    assert(t.read().columns.contains("price"))
  }
}
