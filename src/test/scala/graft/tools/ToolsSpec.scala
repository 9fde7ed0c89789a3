package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ToolsSpec extends AnyFunSuite {
  test("plan dumps renumber session ids by first appearance") {
    def dump(a: Int, b: Int, p: Int, r: Int, l: Int) =
      s"Project [x#$a, y#${b}L, transform(z, lambda x_$l#$b)]\n+- Filter (x#$a > 0)\n" +
        s"   +- Exchange [plan_id=$p]\n      +- MapPartitionsRDD[$r] at localCheckpoint\n"
    val renumbered = Tools.renumbered(dump(812, 77, 40, 49, 4))
    assert(renumbered === "Project [x#0, y#1L, transform(z, lambda x_0#1)]\n+- Filter (x#0 > 0)\n" +
      "   +- Exchange [plan_id=0]\n      +- MapPartitionsRDD[0] at localCheckpoint\n")
    assert(Tools.renumbered(dump(9, 1503, 123, 45, 3)) === renumbered)
  }
}
