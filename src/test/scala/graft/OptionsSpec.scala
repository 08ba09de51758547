package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** Guard for the Options rule: `tools/param_values.py` lists every
  * parameter under `src/main/scala/graft` that takes one literal at every
  * main call while no test passes another value (or passes only a
  * differently named fixture column). Such a parameter is a constant in
  * the operator body, so the script's "constant" section must be empty. */
class OptionsSpec extends AnyFunSuite {

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
