"""Correctness gate: every key's result against DuckDB.

Each key's result dump (written in the harness's first warm-up pass) is
compared with DuckDB running the key's `SparkEntry.oracleSql` over the same
fixtures, by tools/preflight.py's rules: columns sorted by name, exact
values, and a result empty in both engines fails. A key's row count must
also be the same in every pass of the run and in its dump.
"""
import importlib.util
import os

import duckdb

from build import ROOT


def _preflight():
    spec = importlib.util.spec_from_file_location(
        "preflight", ROOT / "tools" / "preflight.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(raw: dict, dump_dir, sf_dir: str):
    """Return ({key: reason} for every failed key, set of keys whose result
    was wrong). A key that threw fails without being wrong."""
    pf = _preflight()
    con = duckdb.connect()
    for t in pf.TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures, wrong = {}, set()
    for key, sql in sorted(raw["oracles"].items()):
        runs = [p["keys"][key] for p in raw["passes"]]
        errors = [r["error"] for r in runs if "error" in r]
        if errors:
            failures[key] = f"threw in {len(errors)}/{len(runs)} passes: {errors[0]}"
            continue
        counts = sorted({r["rows"] for r in runs if "rows" in r})
        found = []
        try:
            spark_rel = con.sql(f"SELECT * FROM '{dump_dir}/{key}/*.parquet'")
            ora_rel = con.sql(sql)
            sdf, odf = spark_rel.df(), ora_rel.df()
            if pf.compare_types(key, spark_rel, ora_rel, found, []):
                pf.compare(key, sdf, odf, found)
            if len(sdf) == 0 and len(odf) == 0 and \
                    (key, os.path.basename(sf_dir)) not in pf.ZERO_ROW_EXEMPT:
                found.append((key, "vacuous: 0 rows in both engines"))
            if len(counts) > 1 or counts[0] != len(sdf):
                found.append((key, f"row counts differ: passes {counts}, "
                                   f"dump {len(sdf)}"))
        except duckdb.Error as e:
            found.append((key, f"DuckDB: {e}"))
        if found:
            failures[key] = found[0][1]
            wrong.add(key)
    return failures, wrong
