#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

1. The median and geomean helpers against hand-computed values.
2. The reduction on a hand-made record: a key that throws is failed and
   is not timed into pass_s.
3. The DuckDB gate on a hand-made fixture: a wrong result, an empty-on-
   both-sides result and a key that threw each fail; a right one passes.
4. A real run of the `read` workload with the planted keys planted_wrong
   and planted_throw: both are reported failed, and pass_s is the sum of
   the other keys' medians only.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import check  # noqa: E402
import reduce  # noqa: E402
from build import BUILD, ROOT  # noqa: E402


def close(a, b):
    return abs(a - b) < 1e-9


def test_helpers():
    assert reduce.median([3.0, 1.0, 2.0]) == 2.0
    assert reduce.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert close(reduce.geomean([1.0, 4.0, 16.0]), 4.0)
    assert close(reduce.geomean([2.0, 8.0]), 4.0)


def _pass(kind, a, b, cpu):
    return {"kind": kind, "traced": False, "wall_s": a + b, "cpu_s": cpu,
            "keys": {"a": {"construct_s": a / 2, "action_s": a / 2, "rows": 5},
                     "b": {"construct_s": 0.0, "action_s": b, "rows": 7},
                     "planted_throw": {"error": "IllegalStateException: planted"}}}


def test_reduce():
    raw = {"setup_s": 9.5, "heap_live_mb": 120.0,
           "passes": [_pass("warm", 9.0, 9.0, 99.0), _pass("timed", 1.0, 4.0, 3.0),
                      _pass("timed", 3.0, 1.0, 5.0), _pass("timed", 2.0, 2.0, 4.0)]}
    m = reduce.end_to_end(raw, {"planted_throw": "threw"})
    # medians over timed passes: a = 2, b = 2; warm pass ignored
    assert close(m["pass_s"]["value"], 4.0), m
    assert close(m["key_geomean_s"]["value"], 2.0), m
    assert close(m["cpu_s"]["value"], 4.0), m
    assert m["setup_s"]["value"] == 9.5 and m["heap_live_mb"]["unit"] == "MB"


def test_gate():
    work = BUILD / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    (work / "sf").mkdir(parents=True)
    con = duckdb.connect()
    con.execute(f"COPY (SELECT range::INTEGER AS r_regionkey, 'R' || range AS r_name "
                f"FROM range(5)) TO '{work}/sf/region.parquet' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW region AS SELECT * FROM '{work}/sf/region.parquet'")
    oracle = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
    dumps = {"right": oracle,
             "wrong": "SELECT r_regionkey, CASE WHEN r_regionkey = 3 THEN 'X' "
                      "ELSE r_name END AS r_name FROM region ORDER BY r_regionkey",
             "empty": oracle.replace("ORDER", "WHERE false ORDER")}
    for key, sql in dumps.items():
        (work / "dump" / key).mkdir(parents=True)
        con.execute(f"COPY ({sql}) TO '{work}/dump/{key}/part-0.parquet' (FORMAT PARQUET)")
    rows = {"right": 5, "wrong": 5, "empty": 0}
    runs = {k: {"construct_s": 0.1, "action_s": 0.1, "rows": n} for k, n in rows.items()}
    runs["thrower"] = {"error": "IllegalStateException: planted"}
    raw = {"oracles": {"right": oracle, "wrong": oracle, "thrower": oracle,
                       "empty": dumps["empty"]},
           "passes": [{"keys": {k: {"dumped": True} for k in runs}},
                      {"keys": runs}, {"keys": runs}]}
    failures, wrong = check.check(raw, work / "dump", str(work / "sf"))
    assert set(failures) == {"wrong", "empty", "thrower"}, failures
    assert wrong == {"wrong", "empty"}, wrong
    # a row count that changes between passes fails too
    raw["passes"][2] = {"keys": dict(runs, right=dict(runs["right"], rows=4))}
    failures, wrong = check.check(raw, work / "dump", str(work / "sf"))
    assert "right" in failures and "right" in wrong, failures
    shutil.rmtree(work)


def test_planted_run():
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", "read",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--plant"],
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    summary, result = lines[1], lines[-1]
    assert set(summary["failures"]) == {"planted_wrong", "planted_throw"}, summary
    assert result["correct"] is False and result["failed"] == 2 * summary["timed_passes"]
    raw = json.loads((BUILD / "run" / "harness.json").read_text())
    timed = reduce.timed_passes(raw)
    assert all("error" in p["keys"]["planted_throw"] for p in raw["passes"])
    real = [k for k in timed[0]["keys"] if not k.startswith("planted_")]
    expect = sum(reduce.median(p["keys"][k]["construct_s"] + p["keys"][k]["action_s"]
                               for p in timed) for k in real)
    assert close(result["metrics"]["pass_s"]["value"], expect), (result, expect)


if __name__ == "__main__":
    for test in (test_helpers, test_reduce, test_gate, test_planted_run):
        test()
        print(f"ok   {test.__name__}")
    print("selftest: ok")
