package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `-Dgraft.*` switches the main tree reads, pinned to an explicit
  * list: adding a knob (or dropping one) fails here until the list is
  * edited on purpose. */
class SysPropsSpec extends AnyFunSuite {
  private val expected = Set(
    "cdc.trace", "cdc.timing", "mor.diag", "morprobe.pollute",
    "lookup.local.maxBytes", "v2.morDeltaMaxBytes",
    "bucket.rowGroupBytes").map("graft." + _)

  test("the main tree reads exactly the listed graft.* system properties") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p -> Files.readString(p)).toList
      finally walk.close()
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
}
