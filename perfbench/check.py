"""Correctness checks run after the timed region.

Query workloads: each pool query's result on the check tables is compared
with the DuckDB oracle SQL the registry declares for it, by the
repository's `tools/compare.py`. Daily job: every day's output has the
universe's rows, exactly the planned blank rows, a dated copy equal to the
latest CSV and the same digest as any earlier run with the same seed.
"""
import contextlib
import io
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def queries(checks, tables_dir):
    """[(name, error or None)] for every pool query of a query workload.

    The harness wrote each result as parquet under `checks["dir"]`; the
    repository's own oracle compare, `tools/compare.py` (same views,
    canonical row order, dtype gate and exact values), decides each one."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import compare
    out, sqls = {}, {}
    for name, err in checks["outputs"].items():
        sql = checks["oracle_sql"].get(name)
        if err or not sql:
            out[name] = err or "no oracle SQL"
        else:
            sqls[name] = sql
    with open(os.path.join(checks["dir"], "oracle_sql.json"), "w") as f:
        json.dump(sqls, f)
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        compare.main(checks["dir"], tables_dir)
    for line in report.getvalue().splitlines():
        verdict, _, rest = line.partition(" ")
        name = rest.split(" ", 1)[0].rstrip(":")
        if name in sqls and verdict in ("PASS", "FAIL", "ERROR"):
            out[name] = None if verdict == "PASS" else line[:300]
    for name in sqls:
        out.setdefault(name, "not compared")
    return sorted(out.items())


def daily(checks, manifest, store_path):
    """[(what, error or None)] for the daily job; records day digests."""
    store = {}
    if os.path.exists(store_path):
        with open(store_path) as f:
            store = json.load(f)
    out = []
    for d in checks["days"]:
        errs = []
        if d["rows"] != manifest["universe"]:
            errs.append(f"{d['rows']} rows, universe {manifest['universe']}")
        if d["blank"] != d["planned_failures"]:
            errs.append(f"{d['blank']} blank rows, {d['planned_failures']} planned")
        if not d["dated_equals_latest"]:
            errs.append("dated copy differs from latest")
        if store.setdefault(d["date"], d["sha256"]) != d["sha256"]:
            errs.append("digest differs from an earlier run with this seed")
        out.append((d["date"], "; ".join(errs) or None))
    out.append(("drive", None if checks["drive_ok"] and checks["drive_entries"] == 1
                else f"drive entries {checks['drive_entries']}, payload ok "
                     f"{checks['drive_ok']}"))
    os.makedirs(os.path.dirname(store_path), exist_ok=True)
    with open(store_path, "w") as f:
        json.dump(store, f, indent=0, sort_keys=True)
    return out
