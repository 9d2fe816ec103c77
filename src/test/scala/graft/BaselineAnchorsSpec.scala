package graft

import org.scalatest.funsuite.AnyFunSuite

class BaselineAnchorsSpec extends AnyFunSuite {

  test("same-numbered anchor sections: anchorsFor picks each env's, " +
      "latestKeys unions their keys") {
    val text =
      """# Baseline
        |
        |## r16 per-query seconds (local[4], sf0.1, run 2026-09-01)
        |
        || key | seconds |
        ||---|---|
        || `old_key` | 9.0 |
        |
        |## r17 per-query seconds (local[32], sf0.1, run 2026-10-01)
        |
        || key | seconds |
        ||---|---|
        || `scan_a` | 1.5 |
        || `join_b` | 2.0 |
        |
        |## r17 per-query seconds (local[8], sf0.1, run 2026-10-02)
        |
        || key | seconds |
        ||---|---|
        || `scan_a` | 2.5 |
        || `agg_c` | 0.7 |
        |""".stripMargin
    val sf = "/data/sf0.1/"
    assert(BaselineAnchors.anchorsFor(text, "32", sf) ==
      Some(17 -> Map("scan_a" -> 1.5, "join_b" -> 2.0)))
    assert(BaselineAnchors.anchorsFor(text, "8", sf) ==
      Some(17 -> Map("scan_a" -> 2.5, "agg_c" -> 0.7)))
    // an env anchored only in an older round still matches its table;
    // Bench warns because that round is older than the newest
    assert(BaselineAnchors.anchorsFor(text, "4", sf) ==
      Some(16 -> Map("old_key" -> 9.0)))
    assert(BaselineAnchors.latestRound(text) == Some(17))
    assert(BaselineAnchors.anchorsFor(text, "32", "/data/sf0.01") == None)
    assert(BaselineAnchors.latestKeys(text) ==
      Some(Set("scan_a", "join_b", "agg_c")))
    assert(BaselineAnchors.latestKeys("# no tables") == None)
  }
}
