package graft

import org.scalatest.funsuite.AnyFunSuite

class ShuffleAuditSpec extends AnyFunSuite {

  test("--write-expected: a key subset keeps every other key's " +
      "ceiling; a full board replaces them all; a subset at another " +
      "sf is refused") {
    val committed = Map("a" -> 10L, "b" -> 20L, "c" -> 30L)
    val sf = Some("sf0.1")
    val subset = ShuffleAudit.composeCeilings(committed, sf, "sf0.1",
      Map("b" -> 25L), fullBoard = false)
    assert(subset == Right(Map("a" -> 10L, "b" -> 25L, "c" -> 30L)))
    val full = ShuffleAudit.composeCeilings(committed, sf, "sf0.1",
      Map("a" -> 11L, "d" -> 40L), fullBoard = true)
    assert(full == Right(Map("a" -> 11L, "d" -> 40L)))
    assert(ShuffleAudit.composeCeilings(committed, sf, "sf0.01",
      Map("b" -> 25L), fullBoard = false).isLeft)
  }
}
