#!/usr/bin/env python3
"""Benchmark of the graft operator board: one workload per run.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Builds the program (perfbench/build.py), starts one JVM (harness/Harness.scala)
that runs the workload's keys one after another for a fixed number of warm-up
passes and timed passes, checks every key's result against DuckDB's evaluation
of the key's oracle SQL (check.py), and prints the metrics (reduce.py). The
last line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics of
a run whose timed passes alternate between traced and untraced. --seed sets
only the key order of each pass. --seconds sets the number of timed passes
through the workload's reference pass time (see README.md), so every run of a
workload does the same work.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import check  # noqa: E402
import reduce  # noqa: E402

ROOT, BUILD = build.ROOT, build.BUILD
JVM_TIMEOUT_S = 150

# Each workload is a fixed sample of board keys; README.md says how each was
# drawn. pass_s is the timed pass wall measured on the reference box, which
# turns --seconds into a pass count; warm is the number of untimed passes, the
# first of which writes the result dumps.
WORKLOADS = {
    "ingest": {"warm": 2, "pass_s": 3.2, "keys": [
        "stream_stateful_counter", "stage_time_travel"]},
    "read": {"warm": 2, "pass_s": 3.1, "keys": [
        "join_theta_range", "agg_histogram", "sim_cosine_topk",
        "graph_degree_distribution"]},
}

# What spark-submit adds for JDK 17 (Spark's JavaModuleOptions); build.sbt
# passes the same list to forked runs.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap_size() -> str:
    """The tier-1 test heap: SPARK_DRIVER_MEM, else half of RAM in GiB,
    clamped to 2..8."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(8, max(2, total // 2**31))}g"


def fixture_dir() -> str:
    """SPARK_GRAFT_SF_DIR, as for graft.Bench; else the sf 0.1 directory
    that TESTDATA.md declares."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    doc = ROOT / "TESTDATA.md"
    m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text(), re.M) \
        if doc.is_file() else None
    if not m:
        sys.exit("run: no sf 0.1 fixture directory in TESTDATA.md; "
                 "set SPARK_GRAFT_SF_DIR")
    return m.group(1).rstrip("/")


def git_commit() -> str:
    if not (ROOT / ".git").exists():
        return "none"
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def cpu_jiffies():
    """(stolen, total) CPU time of the whole machine so far, in jiffies:
    time the hypervisor gave to other guests shows as stolen."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def launch(cp: str, cfg: dict, rundir: Path) -> dict:
    """Run the harness JVM in a fresh working directory; return its record."""
    shutil.rmtree(rundir, ignore_errors=True)
    (rundir / "tmp").mkdir(parents=True)
    cfg = dict(cfg, out=str(rundir))
    (rundir / "config.json").write_text(json.dumps(cfg))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(rundir / "tmp"))
    cmd = ([build.java(), f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={rundir / 'tmp'}"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Harness", str(rundir / "config.json")])
    with open(rundir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=rundir, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    out = rundir / "harness.json"
    if code != 0 or not out.is_file():
        tail = (rundir / "jvm.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"run: harness JVM exited {code}")
    return json.loads(out.read_text())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", action="store_true",
                    help="add the harness self-test keys planted_wrong and "
                         "planted_throw (selftest.py)")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    keys = wl["keys"] + (["planted_wrong", "planted_throw"] if args.plant else [])
    timed = max(3, round(args.seconds / wl["pass_s"]))
    if args.trace:
        timed += timed % 2  # traced and untraced passes in equal number
    sf = fixture_dir()
    cp = build.build()
    steal0, total0 = cpu_jiffies()
    raw = launch(cp, {"keys": keys, "seed": args.seed, "warm": wl["warm"],
                      "timed": timed, "trace": bool(args.trace), "sfDir": sf,
                      "nproc": nproc(), "plant": args.plant},
                 BUILD / "run")
    steal1, total1 = cpu_jiffies()
    raw["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    failures, wrong = check.check(raw, BUILD / "run" / "dump", sf)
    env = dict(raw["env"], heap=heap_size(), commit=git_commit(),
               sources=(BUILD / "classes.sha256").read_text()[:16],
               fixtures=sf, workload=args.workload, seed=args.seed)
    env["host.calib_s"] = reduce.median(raw["calib_s"])
    env["host.steal_pct"] = raw["steal_pct"]
    print(json.dumps({"env": env}))
    print(json.dumps({"keys_attempted": len(keys), "keys_failed": len(failures),
                      "failures": failures, "timed_passes": timed,
                      "warm_passes": wl["warm"]}))
    metrics = (reduce.per_layer(raw, failures, env["nproc"]) if args.trace
               else reduce.end_to_end(raw, failures))
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    attempted = len(keys) * timed
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": len(failures) * timed, "metrics": metrics}))


if __name__ == "__main__":
    main()
