package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.table.{GraftTable, LocalPointRead}

/**
 * Property-based lookup algebra: for ANY random sequence of deferred
 * upserts / tombstones / appends over a bucketed table, the bucket-pruned
 * `lookupKeys` must equal the full resolving `read().filter` — pruning
 * (base side always; delta leaves only when mor_key == bucket key) is an
 * optimization, never a semantics change. Covers both key regimes:
 * bucketed BY the merge key, and bucketed by a different column whose
 * value the chain may rewrite (the case where delta-leaf pruning would be
 * unsound and must stay off). Every lookup is also read through the
 * forced fallback (a zero byte cap), so the driver-side read and the lazy
 * fallback frame answer to the same oracle on every case.
 */
object LookupProps extends Properties("Lookup") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5) // each case commits a real delta chain

  // an op: (kind, id, region, payload) — kind 0 upsert, 1 tombstone, 2 append
  private val opGen = for {
    kind <- Gen.chooseNum(0, 2)
    id <- Gen.chooseNum(0L, 7L)
    region <- Gen.oneOf("A", "B", "C")
    pay <- Gen.alphaLowerStr.map(_.take(3))
  } yield (kind, id, region, pay)

  private val chainGen = Gen.listOfN(5, opGen)

  private def buildTable(bucketBy: String, ops: List[(Int, Long, String, String)]): GraftTable = {
    val t = new GraftTable(spark,
      TestSpark.tmpDir(s"lkp-prop-$bucketBy-").resolve("t"), "t")
    val init = (0L until 8L).map(k => (k, if (k % 2 == 0) "A" else "B", "init"))
      .toDF("id", "region", "payload")
    t.overwriteBucketed(init, bucketBy, 4)
    ops.foreach {
      case (0, id, region, pay) =>
        t.upsertDeferred(Seq((id, region, pay)).toDF("id", "region", "payload"), "id")
      case (1, id, region, _) =>
        t.upsertDeferred(Seq((id, region, "x"))
          .toDF("id", "region", "payload").withColumn("op", lit("d")),
          "id", opCol = Some("op"))
      case (_, id, region, pay) =>
        t.append(Seq((id, region, pay)).toDF("id", "region", "payload"))
    }
    t
  }

  // Multiset comparison (sorted Seq, not Set): a pruning bug that drops one
  // of two identical rows must fail the property, not hide in set collapse.
  private def canon(d: org.apache.spark.sql.DataFrame): Seq[(Long, String, String)] =
    rowsOf(d.select("id", "region", "payload").collect().toSeq)

  private def rowsOf(rs: Seq[org.apache.spark.sql.Row]): Seq[(Long, String, String)] =
    rs.map(r => (r.getAs[Long]("id"), r.getAs[String]("region"),
      r.getAs[String]("payload"))).sorted

  /** `body` with the driver-side read declined: every lookup answers
    * from the lazy fallback frame. */
  private def fallback[T](body: => T): T = {
    sys.props(LocalPointRead.MaxBytesProp) = "0"
    try body finally sys.props.remove(LocalPointRead.MaxBytesProp)
  }

  property("bucketed by the merge key: pruned lookup == resolving filter") =
    Prop.forAll(chainGen, Gen.listOfN(3, Gen.chooseNum(0L, 9L))) { (ops, keys) =>
      val t = buildTable("id", ops)
      val want = canon(t.read().filter(col("id").isin(keys: _*)))
      (canon(t.lookupKeys(keys)) == want) &&
        (fallback(canon(t.lookupKeys(keys))) == want)
    }

  property("bucketed by a rewritten column: pruned lookup == resolving filter") =
    Prop.forAll(chainGen, Gen.listOfN(2, Gen.oneOf("A", "B", "C"))) { (ops, regs) =>
      val t = buildTable("region", ops)
      val want = canon(t.read().filter(col("region").isin(regs: _*)))
      (canon(t.lookupKeys(regs)) == want) &&
        (fallback(canon(t.lookupKeys(regs))) == want)
    }

  /** Every single-key serving call routes through the driver-side MOR
    * resolution (base bucket + pruned delta chain, latest-seq-wins,
    * tombstones) when the table is bucketed by the merge key and deltas
    * pend — for ANY random chain each must return exactly the resolving
    * filter's rows, in both bucket regimes (the rewritten-column regime
    * exercises the fallback), and so must the forced fallback. */
  property("serving lookupKeyRows == resolving filter under any delta chain") =
    Prop.forAll(chainGen, Gen.listOfN(3, Gen.chooseNum(0L, 9L))) { (ops, keys) =>
      val byKey = buildTable("id", ops)
      val byRegion = buildTable("region", ops)
      def agree(t: GraftTable, k: Any, want: Seq[(Long, String, String)],
          label: String): Prop = {
        val got = Seq(
          "lookupKeyRows" -> rowsOf(t.lookupKeyRows(k)),
          "lookupKey" -> rowsOf(t.lookupKey(k).collect().toSeq),
          "lookupPk" -> rowsOf(t.lookupPk(k.toString, 100).rows),
          "fallback" -> fallback(rowsOf(t.lookupKeyRows(k))))
        Prop.all(got.map { case (call, rows) =>
          (rows == want) :| s"$label $call got=$rows want=$want ops=$ops"
        }: _*)
      }
      val perKey = keys.distinct.map { k =>
        agree(byKey, k, canon(byKey.read().filter(col("id") === k)), s"byKey k=$k")
      }
      // byRegion regime: mor_key (id) differs from the bucket key, so the
      // driver MOR path must decline and the fallback still resolve right.
      val perRegion = Seq("A", "B", "C").map { r =>
        agree(byRegion, r, canon(byRegion.read().filter(col("region") === r)),
          s"byRegion r=$r")
      }
      Prop.all(perKey ++ perRegion: _*)
    }

  /** Compaction must never change query results: for ANY random chain —
    * with a duplicate-key append forced on top, so tied rows at one chain
    * sequence are always present — the resolved read before compact()
    * equals the read after, as a MULTISET. Guards compact()'s rank-cut
    * chain resolution (latestAll): a row_number pick keeps one arbitrary
    * tied survivor where every pre-compaction read returned all of them
    * (the r11-flagged divergence), and this property fails on exactly
    * that. Covers both compaction paths: chains with pending deltas take
    * the bucketed partial merge, delta-free runs take the full rewrite. */
  property("compact() is read-invariant under any delta chain") =
    Prop.forAll(chainGen) { ops =>
      val t = buildTable("id", ops)
      t.append(Seq((3L, "A", "dupA"), (3L, "B", "dupB"))
        .toDF("id", "region", "payload"))
      val before = canon(t.read())
      t.compact()
      val after = canon(t.read())
      (after == before) :| s"before=$before after=$after ops=$ops"
    }
}
