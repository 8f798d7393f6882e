package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.dml.Merge

/**
 * Property-based merge algebra (SURVEY §5): idempotence, last-writer-wins
 * per precombine, delete∘insert = absent — over randomized keyed batches.
 */
object MergeProps extends Properties("Merge") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each case runs real Spark jobs

  private val rowGen = for {
    k <- Gen.chooseNum(0L, 12L)
    v <- Gen.chooseNum(1L, 5L)
    s <- Gen.alphaLowerStr.map(_.take(4))
  } yield (k, v, s)

  private val batchGen = Gen.listOfN(15, rowGen)

  private def df(rows: List[(Long, Long, String)]) =
    rows.toDF("id", "ver", "payload")

  private def canon(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, String)] =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  property("idempotent: applying the same batch twice equals once") =
    Prop.forAll(batchGen, batchGen) { (t, u) =>
      val target = df(t).dropDuplicates(Seq("id"))
      val once = Merge.merge(target, df(u), "id", precombine = Some("ver"))
      val twice = Merge.merge(once, df(u), "id", precombine = Some("ver"))
      canon(once) == canon(twice)
    }

  property("last-writer-wins: merged row carries the max precombine per key") =
    Prop.forAll(batchGen) { u =>
      val target = spark.emptyDataset[(Long, Long, String)].toDF("id", "ver", "payload")
      val merged = Merge.merge(target, df(u), "id", precombine = Some("ver"))
      val got = merged.select("id", "ver").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = u.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).max }
      got == want
    }

  property("dedupLatestUnique == window dedupLatest under a unique tie-break") =
    Prop.forAll(batchGen) { u =>
      // Unique per-row sequence (the Envelope.SeqCol contract) + a
      // deliberately ty-heavy precombine (ver in 1..5 over ~13 keys) so the
      // tie-break actually decides winners. Include NULL precombines: the
      // window's desc NULLS LAST and struct ordering's null-lowest must
      // agree.
      val rows = u.zipWithIndex.map { case ((k, v, s), i) =>
        (k, if (i % 7 == 3) None else Some(v), s, i.toLong)
      }
      val d = rows.toDF("id", "ver", "payload", "seq")
      val viaWindow = Merge.dedupLatest(d, "id", "ver", tieBreak = Some("seq"))
      val viaMaxBy = Merge.dedupLatestUnique(d, "id", "ver", "seq")
      def canon4(x: org.apache.spark.sql.DataFrame) =
        x.collect().map(r => (r.getLong(0), Option(r.get(1)), r.getString(2), r.getLong(3))).toSet
      viaMaxBy.columns.toSeq == d.columns.toSeq &&
        canon4(viaWindow) == canon4(viaMaxBy)
    }

  property("delete then re-check: deleted keys are absent, others untouched") =
    Prop.forAll(batchGen, Gen.someOf(0L to 12L)) { (t, dels) =>
      val target = df(t).dropDuplicates(Seq("id"))
      val after = Merge.deleteKeys(target, dels.toList.toDF("id"), "id")
      val expected = canon(target).filterNot(r => dels.contains(r._1))
      canon(after) == expected
    }

  property("envelope fold: latest op per key wins; NULLing updates land as NULL; deletes remove") =
    Prop.forAll(Gen.listOfN(12, for {
      k <- Gen.chooseNum(0L, 6L)
      op <- Gen.oneOf("c", "u", "d")
      v <- Gen.option(Gen.alphaLowerStr.map(_.take(3)))
    } yield (k, op, v))) { evs =>
      import org.apache.spark.sql.types._
      val lines = evs.zipWithIndex.map { case ((k, op, v), i) =>
        val img = s"""{"id":$k,"payload":${v.map("\"" + _ + "\"").getOrElse("null")}}"""
        val (b, a) = if (op == "d") (img, "null") else ("null", img)
        s"""{"payload":{"before":$b,"after":$a,"op":"$op","ts_ms":$i}}"""
      }
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("payload", StringType)))
      val batch = graft.cdc.Envelope
        .transformBatch(lines.toDF("value"), schema, "id").drop("ts_ms")
      val target = spark.emptyDataset[(Long, String)].toDF("id", "payload")
      val merged = Merge.merge(target, batch, "id", opCol = Some("op"))
      val got = merged.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      // Reference fold in plain Scala: the event with the greatest ts wins
      // its key; a winning delete removes the key; a winning upsert's
      // payload lands EXACTLY as its after image says — including NULL.
      val want = evs.zipWithIndex.groupBy(_._1._1)
        .map { case (k, es) => k -> es.maxBy(_._2)._1 }
        .collect { case (k, (_, op, v)) if op != "d" => k -> v }
      got == want
    }

  property("op='d' rows delete AND never insert") =
    Prop.forAll(batchGen) { t =>
      val target = df(t).dropDuplicates(Seq("id"))
      val updates = df(t.take(5)).withColumn("op", lit("d"))
        .unionByName(Seq((99L, 1L, "new")).toDF("id", "ver", "payload")
          .withColumn("op", lit("c")))
      val merged = Merge.merge(target, updates, "id", precombine = Some("ver"),
        opCol = Some("op"))
      val got = canon(merged)
      val delKeys = t.take(5).map(_._1).toSet
      got.forall(r => !delKeys.contains(r._1)) && got.exists(_._1 == 99L)
    }
}
