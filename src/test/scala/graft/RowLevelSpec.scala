package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ConnectorQueries
import graft.table.GraftTable

/**
 * SQL row-level operations through the v2 catalog
 * ([[graft.connector.GraftRowLevelOperation]] — group-based copy-on-write,
 * group = bucket dir): UPDATE, the reference's literal 3-clause conditional
 * CDC MERGE (`cdc_merger_optimized.py:176-183`), and DELETE with a
 * predicate `canDeleteWhere` cannot translate. Value checks against plain
 * DataFrame recomputation plus the PARTIAL-REWRITE guarantee the gates
 * cannot see: untouched buckets' dirs must be carried forward verbatim.
 */
class RowLevelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def freshCat(): (String, java.nio.file.Path) = {
    val cat = ConnectorQueries.tempCatalog(spark)
    (cat, java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse")))
  }

  private def orders: DataFrame = spark.read.parquet(s"$sf/orders.parquet")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).toIndexedSeq

  test("SQL UPDATE through the catalog rewrites only the matched rows") {
    val (cat, wh) = freshCat()
    ConnectorQueries.ingestBucketed(spark, cat, "orders", orders, "o_orderkey", 4)
    spark.sql(s"UPDATE $cat.orders SET o_totalprice = o_totalprice * 2.0, " +
      "o_orderstatus = 'U' WHERE o_orderkey <= 200")
    val got = spark.table(s"$cat.orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val want = orders.select(col("o_orderkey"),
      when(col("o_orderkey") <= 200, col("o_totalprice") * 2.0)
        .otherwise(col("o_totalprice")).as("o_totalprice"),
      when(col("o_orderkey") <= 200, lit("U"))
        .otherwise(col("o_orderstatus")).as("o_orderstatus"))
    assert(sortedRows(got) == sortedRows(want))
    val t = new GraftTable(spark, wh.resolve("orders"), "orders")
    assert(t.log.latest().get.operation == "update")
  }

  test("UPDATE pinned by a bucket-key equality rewrites ONE bucket") {
    val (cat, wh) = freshCat()
    ConnectorQueries.ingestBucketed(spark, cat, "orders", orders, "o_orderkey", 8)
    val t = new GraftTable(spark, wh.resolve("orders"), "orders")
    val before = t.log.latest().get.dataDirs.toSet
    spark.sql(s"UPDATE $cat.orders SET o_totalprice = 0.0 WHERE o_orderkey = 7")
    val after = t.log.latest().get
    val carried = after.dataDirs.toSet.intersect(before)
    // 7 of 8 bucket dirs carried verbatim; exactly one replaced.
    assert(carried.size == before.size - 1,
      s"expected a single-bucket rewrite; before=$before after=${after.dataDirs}")
    assert(t.read().filter(col("o_orderkey") === 7)
      .select("o_totalprice").collect().forall(_.getDouble(0) == 0.0))
    assert(t.read().count() == orders.count())
  }

  test("the reference's literal 3-clause conditional CDC MERGE runs via SQL") {
    val (cat, _) = freshCat()
    ConnectorQueries.ingestBucketed(spark, cat, "orders", orders, "o_orderkey", 8)
    val o = orders
    // CDC batch: updates (price 1.0), deletes, inserts (shifted keys), and
    // a delete of ABSENT keys that the conditional INSERT must ignore.
    val src = o.filter(col("o_orderkey") <= 50)
      .withColumn("o_totalprice", lit(1.0)).withColumn("op", lit("u"))
      .unionByName(o.filter(col("o_orderkey").between(51, 80))
        .withColumn("op", lit("d")))
      .unionByName(o.filter(col("o_orderkey").between(81, 110))
        .withColumn("o_orderkey", col("o_orderkey") + 10000000)
        .withColumn("op", lit("c")))
      .unionByName(o.filter(col("o_orderkey").between(111, 130))
        .withColumn("o_orderkey", col("o_orderkey") + 20000000)
        .withColumn("op", lit("d")))
    src.createOrReplaceTempView("updates")
    // The statement shape of cdc_merger_optimized.py:172-183, SET/INSERT
    // lists generated from the column list exactly as the reference does.
    val dataCols = o.columns.toSeq
    val updateSet =
      dataCols.filter(_ != "o_orderkey").map(c => s"t.$c = s.$c").mkString(", ")
    val insertCols = dataCols.mkString(", ")
    val insertVals = dataCols.map(c => s"s.$c").mkString(", ")
    spark.sql(s"""
      MERGE INTO $cat.orders t
      USING updates s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET $updateSet
      WHEN NOT MATCHED AND s.op != 'd' THEN INSERT ($insertCols) VALUES ($insertVals)
    """)
    val got = spark.table(s"$cat.orders").select("o_orderkey", "o_totalprice")
    val want = o.select(col("o_orderkey"),
        when(col("o_orderkey") <= 50, lit(1.0))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .filter(!col("o_orderkey").between(51, 80))
      .unionByName(o.filter(col("o_orderkey").between(81, 110))
        .select((col("o_orderkey") + 10000000).as("o_orderkey"),
          col("o_totalprice")))
    assert(sortedRows(got) == sortedRows(want))
  }

  test("plain MERGE derives the batch key set: matching-rows subquery is bucket-pruned") {
    val (cat, wh) = freshCat()
    ConnectorQueries.ingestBucketed(spark, cat, "orders", orders, "o_orderkey", 8)
    orders.filter(col("o_orderkey") <= 40)
      .withColumn("o_totalprice", lit(1.0))
      .createOrReplaceTempView("mkp_src")
    val stmt = s"""MERGE INTO $cat.orders t USING mkp_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
      WHEN NOT MATCHED THEN INSERT *"""
    // The reference's plain CDC MERGE shape (cdc_merger_optimized.py:176)
    // carries no static predicate, so the matching-rows subquery used to
    // scan O(table). MergeKeyPruneRule derives the batch's key literals
    // into the group filter; the subquery scan must show a static bucket
    // set alongside (not instead of) its runtime filters.
    val plan = spark.sql("EXPLAIN FORMATTED " + stmt).collect()(0).getString(0)
    assert(plan.contains(" buckets={"),
      s"matching-rows subquery scan not statically pruned:\n$plan")
    spark.sql(stmt)
    val got = spark.table(s"$cat.orders")
      .filter(col("o_orderkey") <= 40).select("o_totalprice").collect()
    assert(got.nonEmpty && got.forall(_.getDouble(0) == 1.0))
    assert(spark.table(s"$cat.orders").count() == orders.count())
  }

  test("MERGE with an unrelated static bound still derives the key set") {
    // "Already keyed" is per-attribute (r18): a static range conjunct on a
    // DIFFERENT target column (the `t.ts >= X AND t.k = s.k` shape) must
    // not cost the merge its bucket-key IN derivation — only a static
    // In/bound on the DERIVED attribute itself declines (idempotence).
    // In the current optimizer phase ordering the static bound stays
    // inside the Exists' join condition (verified by printing the
    // conjuncts MergeKeyPrune.keyedCondition receives), so this freezes
    // the wanted behavior for any future phase that pulls outer-only
    // predicates to the top level.
    val (cat, _) = freshCat()
    ConnectorQueries.ingestBucketed(spark, cat, "orders", orders, "o_orderkey", 8)
    orders.filter(col("o_orderkey") <= 40)
      .withColumn("o_totalprice", lit(3.0))
      .createOrReplaceTempView("mkp_bound_src")
    val stmt = s"""MERGE INTO $cat.orders t USING mkp_bound_src s
      ON t.o_orderkey = s.o_orderkey AND t.o_custkey >= 0
      WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice"""
    val plan = spark.sql("EXPLAIN FORMATTED " + stmt).collect()(0).getString(0)
    assert(plan.contains(" buckets={"),
      s"unrelated static bound must not block key derivation:\n$plan")
    spark.sql(stmt)
    val got = spark.table(s"$cat.orders")
      .filter(col("o_orderkey") <= 40).select("o_totalprice").collect()
    assert(got.nonEmpty && got.forall(_.getDouble(0) == 3.0))
    assert(spark.table(s"$cat.orders").count() == orders.count())
  }

  test("range-layout MERGE derives min/max: matching-rows subquery is stats-pruned") {
    val (cat, wh) = freshCat()
    // Bucketed by o_custkey, APPEND-ORDERED on o_orderkey: each ingest
    // batch covers a disjoint o_orderkey window, so every bucket leaf dir
    // carries a tight o_orderkey min/max (the natural shape of an ordered
    // ingest — and what cluster() produces deliberately). The MERGE joins
    // on o_orderkey, NOT the bucket key, so the key-IN variant cannot
    // apply — the rule must emit the min/max conjunct, and the v2 scan's
    // manifest skipping must drop the out-of-window dirs from the
    // matching-rows subquery. (Group runtime filtering only exists on
    // grouped — bucketed — tables, hence the bucket layout here.)
    val base = orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"))
    ConnectorQueries.ingestBucketed(spark, cat, "rt",
      base.filter(col("o_orderkey") <= 1000), "o_custkey", 4)
    base.filter(col("o_orderkey").between(1001, 2000))
      .createOrReplaceTempView("rlo_b2")
    spark.sql(s"INSERT INTO $cat.rt SELECT * FROM rlo_b2")
    base.filter(col("o_orderkey") > 2000).createOrReplaceTempView("rlo_b3")
    spark.sql(s"INSERT INTO $cat.rt SELECT * FROM rlo_b3")
    val t = new GraftTable(spark, wh.resolve("rt"), "rt")
    val nDirs = t.log.latest().get.dataDirs.size
    // Small batches may leave a bucket empty; what matters is that several
    // leaves exist across the three disjoint windows.
    assert(nDirs >= 6, s"expected >=3 batches x buckets, got $nDirs dirs")
    base.filter(col("o_orderkey") <= 40)
      .withColumn("o_totalprice", lit(5.0))
      .createOrReplaceTempView("rlo_src")
    val stmt = s"""MERGE INTO $cat.rt t USING rlo_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
      WHEN NOT MATCHED THEN INSERT *"""
    val plan = spark.sql("EXPLAIN FORMATTED " + stmt).collect()(0).getString(0)
    assert(plan.contains("statsPruned="),
      s"matching-rows subquery scan not stats-pruned:\n$plan")
    spark.sql(stmt)
    val got = spark.table(s"$cat.rt")
      .filter(col("o_orderkey") <= 40).select("o_totalprice").collect()
    assert(got.nonEmpty && got.forall(_.getDouble(0) == 5.0))
    assert(spark.table(s"$cat.rt").count() == orders.count())
  }

  test("v2 SELECT range predicates skip dirs via manifest min/max") {
    val (cat, wh) = freshCat()
    orders.createOrReplaceTempView("rlo_orders_src2")
    spark.sql(s"""CREATE TABLE $cat.st AS
      SELECT o_orderkey, o_totalprice FROM rlo_orders_src2
      WHERE o_orderkey <= 1000""")
    spark.sql(s"""INSERT INTO $cat.st SELECT o_orderkey, o_totalprice
      FROM rlo_orders_src2 WHERE o_orderkey > 1000""")
    val q = s"SELECT sum(o_totalprice) AS s FROM $cat.st " +
      "WHERE o_orderkey >= 10 AND o_orderkey <= 60"
    val plan = spark.sql("EXPLAIN FORMATTED " + q).collect()(0).getString(0)
    assert(plan.contains("statsPruned=1/2"),
      s"range scan must skip the out-of-window dir:\n$plan")
    val want = orders.filter(col("o_orderkey").between(10, 60))
      .agg(sum(col("o_totalprice"))).collect()(0).getDouble(0)
    assert(math.abs(spark.sql(q).collect()(0).getDouble(0) - want) < 1e-6)
  }

  test("MERGE key derivation declines above the key cap; result stays correct") {
    val (cat, _) = freshCat()
    ConnectorQueries.ingestBucketed(spark, cat, "orders", orders, "o_orderkey", 8)
    orders.filter(col("o_orderkey") <= 40)
      .withColumn("o_totalprice", lit(2.0)).createOrReplaceTempView("mkp_big")
    val stmt = s"""MERGE INTO $cat.orders t USING mkp_big s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice"""
    spark.conf.set("spark.graft.merge.keyPrune.maxKeys", "3")
    try {
      val plan = spark.sql("EXPLAIN FORMATTED " + stmt).collect()(0).getString(0)
      assert(!plan.contains(" buckets={"),
        "over-cap source must decline the driver-side key collect")
      spark.sql(stmt)
      val got = spark.table(s"$cat.orders")
        .filter(col("o_orderkey") <= 40).select("o_totalprice").collect()
      assert(got.nonEmpty && got.forall(_.getDouble(0) == 2.0))
    } finally spark.conf.unset("spark.graft.merge.keyPrune.maxKeys")
  }

  test("DELETE with an untranslatable predicate falls back to the rewrite") {
    val (cat, wh) = freshCat()
    ConnectorQueries.ingestBucketed(spark, cat, "orders", orders, "o_orderkey", 4)
    // Modulo is not a sources.Filter shape: canDeleteWhere refuses it, so
    // this must route through the copy-on-write rewrite instead of failing
    // the statement.
    spark.sql(s"DELETE FROM $cat.orders WHERE o_orderkey % 2 = 0")
    val got = spark.table(s"$cat.orders").select("o_orderkey")
    val want = orders.filter(!(col("o_orderkey") % 2 === 0))
      .select("o_orderkey")
    assert(sortedRows(got) == sortedRows(want))
    val t = new GraftTable(spark, wh.resolve("orders"), "orders")
    assert(t.log.latest().get.operation == "delete")
  }

  test("DELETE everything via rewrite leaves an empty readable table") {
    val (cat, _) = freshCat()
    ConnectorQueries.ingestBucketed(spark, cat, "orders",
      orders.limit(100), "o_orderkey", 4)
    spark.sql(s"DELETE FROM $cat.orders WHERE o_orderkey % 1 = 0")
    assert(spark.table(s"$cat.orders").count() == 0)
  }

  test("row-level ops on an UNBUCKETED table rewrite the whole table") {
    val (cat, wh) = freshCat()
    val t = new graft.catalog.GraftCatalog(spark, wh).materialized("plain")
    t.overwrite(orders.limit(500))
    spark.sql(s"UPDATE $cat.plain SET o_totalprice = 9.0 WHERE o_orderkey <= 10")
    val got = spark.table(s"$cat.plain")
      .select("o_orderkey", "o_totalprice")
    val want = orders.limit(500).select(col("o_orderkey"),
      when(col("o_orderkey") <= 10, lit(9.0))
        .otherwise(col("o_totalprice")).as("o_totalprice"))
    assert(sortedRows(got) == sortedRows(want))
  }

  test("MERGE with NOT MATCHED BY SOURCE clauses runs through the rewrite") {
    val (cat, _) = freshCat()
    val base = orders.filter(col("o_orderkey") <= 400)
    ConnectorQueries.ingestBucketed(spark, cat, "orders", base, "o_orderkey", 4)
    // Source covers keys <= 200; target rows the source does NOT cover are
    // deleted — the syncing-merge shape (reconcile a table to a feed).
    base.filter(col("o_orderkey") <= 200).withColumn("o_totalprice", lit(5.0))
      .createOrReplaceTempView("sync_src")
    val cols = orders.columns.toSeq
    spark.sql(s"""MERGE INTO $cat.orders t USING sync_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET ${cols.filterNot(_ == "o_orderkey")
        .map(c => s"t.$c = s.$c").mkString(", ")}
      WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
        VALUES (${cols.map(c => s"s.$c").mkString(", ")})
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val got = spark.table(s"$cat.orders")
    assert(sortedRows(got.select("o_orderkey", "o_totalprice")) ==
      sortedRows(base.filter(col("o_orderkey") <= 200)
        .select(col("o_orderkey"), lit(5.0).as("o_totalprice"))))
  }

  test("a NULL-key source row inserts through MERGE (hashes to the null bucket)") {
    val (cat, wh) = freshCat()
    val base = orders.filter(col("o_orderkey") <= 100)
    ConnectorQueries.ingestBucketed(spark, cat, "orders", base, "o_orderkey", 4)
    val cols = orders.columns.toSeq
    // ON t.k = s.k never matches a NULL key (SQL equality), so the row is
    // NOT MATCHED and must INSERT — landing in the null hash bucket, not
    // crashing the writer's bucket assignment.
    base.limit(1).withColumn("o_orderkey", lit(null).cast("bigint"))
      .withColumn("op", lit("c")).createOrReplaceTempView("null_src")
    spark.sql(s"""MERGE INTO $cat.orders t USING null_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET ${cols.filterNot(_ == "o_orderkey")
        .map(c => s"t.$c = s.$c").mkString(", ")}
      WHEN NOT MATCHED AND s.op != 'd' THEN INSERT (${cols.mkString(", ")})
        VALUES (${cols.map(c => s"s.$c").mkString(", ")})""")
    val t = new GraftTable(spark, wh.resolve("orders"), "orders")
    assert(t.read().filter(col("o_orderkey").isNull).count() == 1)
    assert(t.read().count() == base.count() + 1)
  }

  test("a commit landing between plan and write fails the replace (CAS)") {
    val (cat, wh) = freshCat()
    ConnectorQueries.ingestBucketed(spark, cat, "orders",
      orders.limit(100), "o_orderkey", 4)
    val t = new GraftTable(spark, wh.resolve("orders"), "orders")
    val plannedHead = t.latestVersion
    // A concurrent writer moves the head after the COW scan planned.
    t.append(orders.limit(10))
    val e = intercept[graft.log.CommitConflictException] {
      t.replaceGroups(plannedHead, "update", "data/nonexistent", Some(Set(0)))
    }
    assert(e.getMessage.contains("expected"), e.getMessage)
    // Nothing replaced: the append's state is intact.
    assert(t.read().count() == 110)
  }

  test("row-level ops refuse a pending MOR delta chain loudly") {
    val (cat, wh) = freshCat()
    val t = new graft.catalog.GraftCatalog(spark, wh).materialized("orders")
    t.overwriteBucketed(orders, "o_orderkey", 4)
    t.upsertDeferred(orders.filter(col("o_orderkey") <= 10)
      .withColumn("o_totalprice", lit(1.0)), "o_orderkey")
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $cat.orders SET o_totalprice = 0.0 WHERE o_orderkey = 7")
    }
    assert(e.getMessage.contains("compact"),
      s"expected the compact-first refusal, got: ${e.getMessage}")
  }

  test("MERGE-inserted rows land in buckets the scan never read") {
    val (cat, wh) = freshCat()
    val base = orders.filter(col("o_orderkey") <= 800) // deterministic subset
    val baseN = base.count()
    ConnectorQueries.ingestBucketed(spark, cat, "orders", base, "o_orderkey", 8)
    val t = new GraftTable(spark, wh.resolve("orders"), "orders")
    val inserts = base
      .withColumn("o_orderkey", col("o_orderkey") + 10000000)
      .withColumn("op", lit("c"))
    inserts.createOrReplaceTempView("updates")
    val dataCols = orders.columns.toSeq
    spark.sql(s"""
      MERGE INTO $cat.orders t USING updates s ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET ${dataCols.filter(_ != "o_orderkey")
        .map(c => s"t.$c = s.$c").mkString(", ")}
      WHEN NOT MATCHED AND s.op != 'd' THEN INSERT (${dataCols.mkString(", ")})
        VALUES (${dataCols.map(c => s"s.$c").mkString(", ")})
    """)
    assert(spark.table(s"$cat.orders").count() == 2 * baseN)
    assert(t.read().filter(col("o_orderkey") >= 10000000).count() == baseN)
    assert(t.read().filter(col("o_orderkey") <= 800).count() == baseN)
    // The write's clustered distribution collapses the post-join fan-out:
    // every staged bucket dir holds ONE key-sorted file, not one per task.
    val staged = t.log.latest().get.dataDirs.filter(_.contains("-rl"))
    assert(staged.nonEmpty)
    staged.foreach { rel =>
      val files = Option(wh.resolve("orders").resolve(rel).toFile.listFiles())
        .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
      assert(files == 1, s"$rel has $files files, want 1")
    }
  }
}
