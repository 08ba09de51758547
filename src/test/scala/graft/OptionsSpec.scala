package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.sys.process._

/** Guards for the Options rule. `tools/param_values.py` lists every
  * parameter under `src/main/scala/graft` that takes one literal at every
  * main call while no test passes another value (or passes only a
  * differently named fixture column). Such a parameter is a constant in
  * the operator body, so the script's "constant" section must be empty.
  * An environment setting is the same kind of knob: `src/main` reads only
  * the settings a caller sets. */
class OptionsSpec extends AnyFunSuite {

  test("src/main reads exactly the kept environment settings") {
    val kept = Set(
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", // the bench contract
      "SPARK_GRAFT_SF_LARGE_DIR", "SPARK_GRAFT_BENCH_FILTER",
      "SPARK_GRAFT_BENCH_VERBOSE", // dev runs of graft.Bench
      "SPARK_GRAFT_SCALEUP_SRC", "SPARK_GRAFT_SCALEUP_DEST",
      "FS_API_TOKEN") // the reference connector's token fallback
    val read = """\bsys\.env\b|\bSystem\.getenv\b""".r
    // a read and the literal name it passes, across line breaks
    val keyed = ("""(?:\bsys\.env\s*""" +
      """(?:\.\s*(?:get|getOrElse|contains|apply)\s*)?""" +
      """|\bSystem\.getenv\s*)\(\s*"([A-Za-z0-9_]+)"""").r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val files =
      try walk.iterator.asScala
        .filter(_.toString.matches(".*\\.(scala|java)")).toList
      finally walk.close()
    val keys = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val named = keyed.findAllMatchIn(text).map(_.group(1)).toSeq
      assert(read.findAllIn(text).size == named.size,
        s"$f reads an environment setting whose name is not a literal")
      named
    }.toSet
    assert(keys == kept, s"added: ${keys -- kept}, gone: ${kept -- keys}")
  }

  test("param_values.py finds no parameter that should be a constant") {
    val out = new StringBuilder
    val err = new StringBuilder
    val exit = Seq("python3", "tools/param_values.py", "src/main/scala/graft")
      .!(ProcessLogger(l => out.append(l).append('\n'),
        l => err.append(l).append('\n')))
    assert(exit == 0, err.toString)
    val lines = out.toString.linesIterator.toSeq
    val header = lines.find(_.startsWith("constant ("))
    val rows = lines.dropWhile(l => !l.startsWith("constant ("))
      .drop(1).takeWhile(_.startsWith("  "))
    assert(header.contains("constant (0)") && rows.isEmpty,
      "parameters to turn into constants:\n" + rows.mkString("\n"))
  }
}
