package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.log.{ArrayDirMap, ConcatDirMap, OverlayDirMap}

/** The array-backed / layered maps under Snapshot.dirRecords/dirStats must
  * be indistinguishable from plain immutable Maps under every operation the
  * table and log layers use: get/contains/apply, iteration (values.sum,
  * foreachEntry), size, ++, --, updated, removed, filterKeys views, and
  * structural equality — checked here against a plain-Map oracle over
  * random disjoint part sets and random op sequences. */
object DirMapsProps extends Properties("DirMaps") {

  private val keyGen = Gen.alphaNumStr.map(s => "d/" + s.take(12))

  /** Disjoint key slices for ConcatDirMap parts. */
  private val partsGen: Gen[Seq[Map[String, Long]]] = for {
    keys <- Gen.listOfN(60, keyGen).map(_.distinct)
    nParts <- Gen.choose(1, 5)
  } yield keys.grouped(math.max(1, keys.size / nParts)).toSeq
    .map(_.map(k => k -> k.length.toLong).toMap)

  private def arrayOf(m: Map[String, Long]): Map[String, Long] = {
    val ks = m.keys.toArray
    new ArrayDirMap[Long](ks,
      ks.map(k => java.lang.Long.valueOf(m(k)): AnyRef))
  }

  private def same(a: Map[String, Long], b: Map[String, Long]): Prop = {
    val props = Seq(
      Prop(a == b) :| "equality",
      Prop(b == a) :| "reverse equality",
      Prop(a.size == b.size) :| s"size ${a.size} vs ${b.size}",
      Prop(a.toList.sorted == b.toList.sorted) :| "iteration",
      Prop(a.keysIterator.forall(k => b.get(k) == a.get(k))) :| "gets",
      Prop(a.values.sum == b.values.sum) :| "values.sum",
      Prop(a.isEmpty == b.isEmpty) :| "isEmpty")
    props.reduce(_ && _)
  }

  property("ArrayDirMap behaves as the plain map it was built from") =
    forAll(partsGen) { parts =>
      val plain = parts.flatten.toMap
      same(arrayOf(plain), plain)
    }

  property("ConcatDirMap over disjoint parts equals the merged plain map") =
    forAll(partsGen) { parts =>
      val concat = new ConcatDirMap[Long](parts.map(arrayOf).toIndexedSeq)
      same(concat, parts.flatten.toMap)
    }

  property("random update/remove/++/-- sequences match a plain-map oracle") =
    forAll(partsGen, Gen.listOfN(30, Gen.zip(Gen.choose(0, 3), keyGen)),
      Gen.listOfN(5, keyGen)) { (parts, ops, fresh) =>
      val keys = (parts.flatMap(_.keys) ++ fresh).distinct.toIndexedSeq
      var subject: Map[String, Long] =
        new ConcatDirMap[Long](parts.map(arrayOf).toIndexedSeq)
      var oracle: Map[String, Long] = parts.flatten.toMap
      ops.foreach { case (op, seed) =>
        val k = keys(math.abs(seed.hashCode) % keys.size)
        op match {
          case 0 => subject = subject.updated(k, 99L)
                    oracle = oracle.updated(k, 99L)
          case 1 => subject = subject - k
                    oracle = oracle - k
          case 2 => subject = subject ++ Map(k -> 7L, k + "x" -> 8L)
                    oracle = oracle ++ Map(k -> 7L, k + "x" -> 8L)
          case _ => subject = subject -- Seq(k, k + "x")
                    oracle = oracle -- Seq(k, k + "x")
        }
      }
      same(subject, oracle) && {
        val keep = oracle.keySet.take(oracle.size / 2)
        Prop(subject.view.filterKeys(keep).toMap ==
          oracle.view.filterKeys(keep).toMap) :| "filterKeys view"
      }
    }

  property("OverlayDirMap built directly (compose shape) matches the merge") =
    forAll(partsGen, Gen.choose(0, 10), Gen.listOfN(4, keyGen)) {
      (parts, nDrop, addKeys) =>
        val base = new ConcatDirMap[Long](parts.map(arrayOf).toIndexedSeq)
        val plainBase = parts.flatten.toMap
        val dropped = plainBase.keys.take(nDrop).toSet
        val over = addKeys.distinct.filterNot(plainBase.contains)
          .map(k => k -> -1L).toMap
        val overlay = new OverlayDirMap[Long](base, over, dropped)
        same(overlay, (plainBase -- dropped) ++ over)
    }

  property("maps survive Java serialization (Spark closure capture)") =
    forAll(partsGen, Gen.listOfN(3, keyGen)) { (parts, adds) =>
      val concat = new ConcatDirMap[Long](parts.map(arrayOf).toIndexedSeq)
      val overlay = adds.foldLeft(concat: Map[String, Long])(
        (m, k) => m.updated(k, 7L))
      def roundTrip(m: Map[String, Long]): Map[String, Long] = {
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(m); oos.close()
        new java.io.ObjectInputStream(
          new java.io.ByteArrayInputStream(bos.toByteArray))
          .readObject().asInstanceOf[Map[String, Long]]
      }
      // The @transient lazy indexes must rebuild on the far side.
      val back = roundTrip(overlay)
      same(back, overlay) &&
        Prop(overlay.keysIterator.forall(k => back.get(k) == overlay.get(k))) :|
          "post-deserialization gets"
    }

  // ---- binary detail codec fuzz (r18, VERDICT #7) -------------------

  private val statsGen: Gen[Map[String, String]] = Gen.mapOf(Gen.zip(
    Gen.oneOf("k:min", "k:max", "ts:min", "ts:max", "weird ✓ key"),
    Gen.alphaNumStr.map(_.take(16))))

  private val detailGen: Gen[graft.log.SnapshotDetail] = for {
    dirs <- Gen.listOfN(12, keyGen).map(_.distinct)
    delta <- Gen.listOfN(3, keyGen).map(_.distinct)
    removed <- Gen.listOfN(3, keyGen).map(_.distinct)
    recSubset <- Gen.someOf(dirs ++ delta)
    statSubset <- Gen.someOf(dirs)
    stats <- Gen.listOfN(statSubset.size, statsGen)
  } yield graft.log.SnapshotDetail(
    dataDirs = dirs,
    deltaDirs = delta,
    removedDirs = removed,
    dirRecords = recSubset.zipWithIndex
      .map { case (d, i) => d -> (i.toLong - 2) }.toMap,
    dirStats = statSubset.zip(stats).toMap)

  property("binary detail codec round-trips arbitrary details") =
    forAll(detailGen) { d =>
      import graft.log.SnapshotLog.{parseDetailBytes, writeDetailBytes}
      Prop(parseDetailBytes(writeDetailBytes(d)) == d)
    }

  /** The writer round-trips already-parsed inputs too: table paths hand
    * commit the head's parsed maps verbatim (ArrayDirMap values,
    * PackedStatsMap stats), so the GDT2 writer must serialize those custom
    * Map implementations exactly as it does plain maps. */
  property("GDT2 writer round-trips over parsed packed maps") =
    forAll(detailGen) { d =>
      import graft.log.SnapshotLog.{parseDetailBytes, writeDetailBytes}
      val parsed = parseDetailBytes(writeDetailBytes(d)) // packed-map forms
      val bytes = writeDetailBytes(parsed)
      Prop(new String(bytes, 0, 4, "US-ASCII") == "GDT2") :| "magic" &&
        Prop(parseDetailBytes(bytes) == d) :| "round-trip"
    }

  /** Corrupted GDT2 buffers must fail LOUDLY — a structural guard or the
    * CRC32 trailer — never an attempted multi-GB allocation from a bogus
    * varint length, and never a silently different parse. Bit flips,
    * truncations, and appended garbage all dirty either the magic
    * (refused as not GDT2) or the CRC window (deterministic mismatch), so
    * every mutation must throw. */
  property("corrupted GDT2 buffers fail loudly, never parse silently") =
    forAll(detailGen, Gen.choose(0, Int.MaxValue - 1),
      Gen.choose(0, 7)) { (d, posSeed, bit) =>
      import graft.log.SnapshotLog.{parseDetailBytes, writeDetailBytes}
      val bytes = writeDetailBytes(d)
      // 12 mutations per generated buffer (100 ScalaCheck runs → 1200
      // corrupt cases): bit flips spread across the document including
      // the magic, the length-prefix region, and the CRC trailer itself;
      // truncations at a random point, mid-document, and inside the
      // trailer; one appended garbage byte.
      def flip(p: Int, bt: Int): Array[Byte] = {
        val b = bytes.clone(); b(p) = (b(p) ^ (1 << bt)).toByte; b
      }
      val n = bytes.length
      val mutations: Seq[(String, Array[Byte])] = Seq(
        "flip-magic" -> flip(posSeed % 4, bit),
        "flip-early" -> flip(4 + posSeed % math.max(1, n / 4), bit),
        "flip-mid" -> flip(n / 2, bit),
        "flip-late" -> flip(n - 5 - posSeed % math.max(1, n / 4), bit),
        "flip-crc" -> flip(n - 1 - posSeed % 4, bit),
        "trunc-rand" -> bytes.take(posSeed % n),
        "trunc-mid" -> bytes.take(n / 2),
        "trunc-header" -> bytes.take(4 + posSeed % 4),
        "trunc-in-crc" -> bytes.take(n - 1 - posSeed % 4),
        "trunc-empty" -> Array.empty[Byte],
        "append-garbage" -> (bytes :+ (posSeed % 256).toByte),
        "flip-bit0-everywhere" -> flip(posSeed % n, 0))
      Prop.all(mutations.map { case (label, m) =>
        try {
          parseDetailBytes(m)
          Prop(false) :| s"$label parsed without error"
        } catch {
          case _: OutOfMemoryError => Prop(false) :| s"$label drove an OOM"
          case _: Throwable => Prop.passed
        }
      }: _*)
    }

  property("overlay collapse keeps semantics when the delta rivals the base") =
    forAll(Gen.listOfN(20, keyGen).map(_.distinct)) { keys0 =>
      val keys = keys0.toIndexedSeq
      var subject: Map[String, Long] =
        arrayOf(keys.map(k => k -> 1L).toMap)
      var oracle: Map[String, Long] = keys.map(k => k -> 1L).toMap
      // Far past the max(1024, size/2) threshold relative to a tiny base:
      // exercises maybeCollapsed's flat-HashMap path deterministically is
      // impossible at n=20 (threshold floor is 1024), so instead drive
      // thousands of updates to prove overlay chains never nest or drift.
      (0 until 1500).foreach { i =>
        val k = if (keys.nonEmpty) keys(i % keys.size) + (i % 7) else s"k$i"
        subject = subject.updated(k, i.toLong)
        oracle = oracle.updated(k, i.toLong)
      }
      same(subject, oracle)
    }
}
