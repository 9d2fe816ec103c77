"""Reduce the harness record (harness/Harness.scala) to the benchmark's metrics.

Per-key times are medians over the run's timed passes; no percentile is
taken, since a run has far fewer than 100 passes. A key in `failures` is
left out of every timing.
"""
import math
import statistics


def median(xs) -> float:
    return statistics.median(list(xs))


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def timed_passes(raw: dict) -> list:
    return [p for p in raw["passes"] if p["kind"] == "timed"]


def key_medians(passes: list, failures, parts=("construct_s", "action_s")) -> dict:
    """Each non-failed key's median over `passes` of the summed `parts`."""
    keys = [k for k in passes[0]["keys"] if k not in failures]
    if not keys:
        raise ValueError("every key failed: nothing to time")
    return {k: median(sum(p["keys"][k][x] for x in parts) for p in passes)
            for k in keys}


def end_to_end(raw: dict, failures) -> dict:
    timed = timed_passes(raw)
    med = key_medians(timed, failures)
    return {
        "setup_s": _m(raw["setup_s"], "s"),
        "pass_s": _m(sum(med.values()), "s"),
        "key_geomean_s": _m(geomean(med.values()), "s"),
        "cpu_s": _m(median(p["cpu_s"] for p in timed), "s"),
        "heap_live_mb": _m(raw["heap_live_mb"], "MB"),
    }


# unit of each listener counter (harness/Layers.scala); an absent one is 0
LAYER_UNITS = {
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s",
    "scan.input_mb": "MB", "scan.input_rows": "rows",
    "write.output_mb": "MB", "write.output_rows": "rows",
    "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.write_mb": "MB", "shuffle.spill_mb": "MB",
    "sql.executions": "count", "plan.scans": "count", "plan.exchanges": "count",
    "stream.queries": "count", "stream.batches": "count",
    "stream.trigger_s": "s", "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s", "stream.commit_offsets_s": "s",
    "stream.planning_s": "s", "stream.state_commit_s": "s",
    "stream.state_rows": "rows", "stream.state_mem_mb": "MB",
}


def per_layer(raw: dict, failures, nproc: int) -> dict:
    """Per-layer metrics: listener counters are medians over the traced
    passes; JVM counters are medians over all timed passes."""
    timed = timed_passes(raw)
    traced = [p for p in timed if p["traced"]]
    untraced = [p for p in timed if not p["traced"]]
    out = {
        "session.build_s": _m(raw["session_build_s"], "s"),
        "session.warmup_s": _m(raw["warmup_s"], "s"),
        "key.construct_s": _m(sum(key_medians(timed, failures, ("construct_s",)).values()), "s"),
        "key.action_s": _m(sum(key_medians(timed, failures, ("action_s",)).values()), "s"),
    }
    for name, unit in LAYER_UNITS.items():
        out[name] = _m(median(p["layers"].get(name, 0.0) for p in traced), unit)
    out["sched.idle_core_s"] = _m(median(
        nproc * p["wall_s"] - p["layers"].get("task.run_s", 0.0) for p in traced), "s")
    out["task.offcpu_s"] = _m(median(
        p["layers"].get("task.run_s", 0.0) - p["layers"].get("task.cpu_s", 0.0) for p in traced), "s")
    out["codegen.compiles"] = _m(median(p["compiles"] for p in timed), "count")
    out["jvm.jit_s"] = _m(median(p["jit_s"] for p in timed), "s")
    out["jvm.gc_s"] = _m(median(p["gc_s"] for p in timed), "s")
    out["ckpt.persisted_rdds"] = _m(raw["ckpt"]["persisted_rdds"], "count")
    out["ckpt.storage_mb"] = _m(raw["ckpt"]["storage_mb"], "MB")
    out["residue.conf_keys"] = _m(len(raw["residue"]["conf_changed"]), "count")
    out["residue.temp_views"] = _m(len(raw["residue"]["views_added"]), "count")
    out["host.calib_s"] = _m(median(raw["calib_s"]), "s")
    out["host.steal_pct"] = _m(raw["steal_pct"], "%")
    out["trace.overhead_s"] = _m(median(p["wall_s"] for p in traced)
                                 - median(p["wall_s"] for p in untraced), "s")
    return out
