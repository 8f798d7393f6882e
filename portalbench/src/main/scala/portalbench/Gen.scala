package portalbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/**
 * Seeded input generation. Every input the system sees — base tables,
 * Debezium-style envelope batches, lookup keys — is a pure function of the
 * seed, so one seed reproduces one run's inputs in any process.
 *
 * The row of the keyed tables (`acct`) is `(id, ver, amount, name, note)`:
 * `ver` counts the updates a key has seen and every other column is a
 * function of `(seed, id, ver)`, so a reader can check any returned row
 * against the model from its `id` and `ver` alone.
 */
final class Gen(val seed: Long) extends Serializable {
  import Gen._

  def amount(id: Long, ver: Int): Long = math.floorMod(mix(seed ^ (id * 0x9E3779B97F4A7C15L) ^ ver), 1000000L)
  def name(id: Long, ver: Int): String = s"n${id}_$ver"
  def note(id: Long, ver: Int): String = {
    val h = mix(seed + id * 31 + ver)
    Seq(0, 1, 2, 3, 4).map(i => Words(math.floorMod(h >>> (i * 6), Words.length.toLong).toInt)).mkString(" ")
  }

  /** The row as the envelope's after image (JSON object). */
  def rowJson(id: Long, ver: Int): String =
    s"""{"id":$id,"ver":$ver,"amount":${amount(id, ver)},"name":"${name(id, ver)}","note":"${note(id, ver)}"}"""

  /** The row as `concat_ws('|', ...)` renders it: the checksum's input and
    * the unit of "live bytes". */
  def rowLine(id: Long, ver: Int): String =
    s"$id|$ver|${amount(id, ver)}|${name(id, ver)}|${note(id, ver)}"

  /** An independent random stream for one named purpose. */
  def rng(purpose: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(seed ^ purpose.hashCode.toLong * 0x632BE59BD9B4E019L))
}

object Gen {
  val Words: Array[String] = Array(
    "alpha", "bravo", "cedar", "delta", "ember", "fjord", "garnet", "harbor",
    "indigo", "juniper", "kelp", "lumen", "maple", "nectar", "onyx", "prairie",
    "quartz", "raven", "sable", "tundra", "umber", "violet", "willow", "xenon",
    "yarrow", "zephyr", "amber", "basalt", "cobalt", "dune", "ermine", "flint",
    "glacier", "heron", "iris", "jade", "kestrel", "lagoon", "mesa", "nimbus",
    "orchid", "pebble", "quill", "reef", "sierra", "thistle", "umbra", "vale",
    "wren", "yucca", "zinc", "acorn", "birch", "coral", "drift", "elm",
    "fern", "grove", "hazel", "ivy", "jasper", "knoll", "lark", "moss")

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  val AcctDdl = "id BIGINT, ver INT, amount BIGINT, name STRING, note STRING"

  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }

  def envelope(before: Option[Long], after: Option[String], op: String, tsMs: Long): String =
    s"""{"payload":{"before":${before.map(k => s"""{"id":$k}""").getOrElse("null")},"after":${after.getOrElse("null")},"op":"$op","ts_ms":$tsMs}}"""
}

/**
 * The generator's model of a keyed table: live key → version, with O(1)
 * insert and delete and a seeded order of the live keys. It applies exactly the events it emits, so
 * after any prefix of batches it is the table the system must hold.
 */
final class KeyModel(gen: Gen, initial: Int) {
  private val ids = new scala.collection.mutable.ArrayBuffer[Long](initial * 2)
  private val pos = new java.util.HashMap[Long, Int](initial * 4)
  private val vers = new java.util.HashMap[Long, Int](initial * 4)
  var nextId: Long = 1L
  (0 until initial).foreach(_ => insert())

  /** The live keys in a seeded random order (Fisher-Yates). */
  def shuffledLive(r: java.util.SplittableRandom): Array[Long] = {
    val a = ids.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def insert(): Long = {
    val id = nextId; nextId += 1
    pos.put(id, ids.size); ids += id; vers.put(id, 0); id
  }
  def update(id: Long): Int = { val v = vers.get(id) + 1; vers.put(id, v); v }
  def delete(id: Long): Unit = {
    val i = pos.remove(id); val lastIdx = ids.size - 1
    if (i != lastIdx) { val last = ids(lastIdx); ids(i) = last; pos.put(last, i) }
    ids.remove(lastIdx); vers.remove(id)
  }

  /** (row count, sum of crc32 over live rows, live bytes). */
  def checksum: (Long, Long, Long) = {
    var h = 0L; var b = 0L
    ids.foreach { id =>
      val l = gen.rowLine(id, vers.get(id))
      h += Gen.crc(l); b += l.getBytes(StandardCharsets.UTF_8).length
    }
    (ids.size.toLong, h, b)
  }
}
