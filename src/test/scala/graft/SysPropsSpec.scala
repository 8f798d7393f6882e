package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `-Dgraft.*` switches, environment variables and entry points of
  * the main tree, each pinned to an explicit list: adding a knob or a main
  * (or dropping one) fails here until the list is edited on purpose. */
class SysPropsSpec extends AnyFunSuite {
  private val expected = Set(
    "cdc.trace", "cdc.timing",
    "lookup.local.maxBytes", "v2.morDeltaMaxBytes",
    "bucket.rowGroupBytes").map("graft." + _)

  private lazy val sources: List[(java.nio.file.Path, String)] = {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  test("the main tree reads exactly the listed graft.* system properties") {
    val call = """(?:sys\.props(?:\.\w+)?|System\.getProperty)\(\s*"""
    val literal = (call + "\"(graft\\.[^\"]+)\"").r
    val constant = """val\s+\w+Prop\s*=\s*"(graft\.[^"]+)"""".r
    // A call naming its property through an identifier must use one of the
    // `...Prop` constants the scan above collects.
    val indirect = (call + """([\w.]+)\s*\)""").r
    val found = sources.flatMap { case (_, s) =>
      (literal.findAllMatchIn(s) ++ constant.findAllMatchIn(s)).map(_.group(1))
    }.toSet
    val unnamed = sources.flatMap { case (p, s) =>
      indirect.findAllMatchIn(s).map(_.group(1))
        .filterNot(_.endsWith("Prop")).map(id => s"$p: $id")
    }
    assert(unnamed.isEmpty, s"sys.props read through a non-Prop identifier: $unnamed")
    assert(found == expected,
      s"new: ${(found -- expected).toSeq.sorted}; gone: ${(expected -- found).toSeq.sorted}")
  }

  test("the main tree's entry points are exactly Bench, Verify, Serve, Shell and Probe") {
    val obj = """\bobject\s+(\w+)""".r
    val mains = sources.flatMap { case (_, s) =>
      """\bdef\s+main\s*\(""".r.findAllMatchIn(s).map { m =>
        obj.findAllMatchIn(s.take(m.start)).map(_.group(1)).toSeq.last
      }
    }
    assert(mains.sorted == Seq("Bench", "Probe", "Serve", "Shell", "Verify"), mains)
  }

  test("the main tree reads exactly the listed environment variables") {
    val literal = """(?:sys\.env(?:\.\w+)?|System\.getenv)\(\s*"([^"]+)"""".r
    val any = """sys\.env\b|System\.getenv""".r
    val found = sources.flatMap { case (_, s) =>
      literal.findAllMatchIn(s).map(_.group(1)) }.toSet
    val reads = sources.map { case (_, s) => any.findAllMatchIn(s).size }.sum
    val named = sources.map { case (_, s) => literal.findAllMatchIn(s).size }.sum
    assert(reads == named, "an environment read that names no literal variable")
    assert(found == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY",
      "SPARK_GRAFT_BENCH_OUT", "GRAFT_PORT", "GRAFT_WAREHOUSE"), found)
  }
}
