package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** The hand-run probe on the shared test session: wave timings, the
  * last-wave stage table, plan files, and a loud refusal of unknown names. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val entry = "q9_region_rollup"

  private def probe(args: String*): Seq[String] = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Probe.run(spark, TestSpark.sf0001, args))
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("cold waves: one timing per wave") {
    val line = probe(entry, "2", "cold").filter(_.startsWith(s"[probe] $entry cold waves="))
    assert(line.size == 1, line)
    val waves = line.head.split("waves=\\[")(1).stripSuffix("]")
      .split(",").map(_.trim.toDouble)
    assert(waves.length == 2 && waves.forall(_ > 0), waves.toSeq)
  }

  test("profile prints the last wave's stages; plan= writes the entry's plans") {
    val dir = TestSpark.tmpDir("probe-plan-")
    val out = probe(entry, "1", "profile", s"plan=$dir")
    assert(out.exists(_.startsWith("[stage] ")), out)
    val plan = Files.readString(dir.resolve(s"$entry.txt"))
    assert(plan.contains("== Physical Plan ==") &&
      plan.contains("== Executed plan of the last wave =="), plan)
    assert(spark.sparkContext.getLocalProperty("graft.probe.wave") == null)
  }

  test("an unknown entry name fails loudly, naming itself") {
    val e = intercept[IllegalArgumentException](probe(entry, "no_such_entry"))
    assert(e.getMessage.contains("no_such_entry"), e.getMessage)
  }
}
