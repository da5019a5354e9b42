#!/usr/bin/env python3
"""Seeded benchmark for graft: CDC backfill, open-loop CDC tail, query mix.

    python3 perfbench/run.py --workload <cdc_backfill|cdc_tail|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source if needed (perfbench/build.py), runs the
workload in a fresh JVM (perfbench.Main), checks its outputs (the warehouse
against the expected-state model for the CDC workloads; the query results
against the DuckDB oracle for query_mix), prints the full run record, and
ends with one JSON line: correct, attempted, failed and the metrics named in
BENCHMARK.json (end-to-end ones untraced, per-layer ones traced). Exits
non-zero when any check fails. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cdc_backfill", "cdc_tail", "query_mix")
# The corpus query_mix reads: the fixed seed-42 sf0.01 tables.
SF_DIR = os.environ.get("GRAFT_SF_DIR") or str(Path.home() / "testdata" / "sf0.01")
JVM_TIMEOUT_S = 165


def normalize(df):
    """As tools/check_oracle.py: columns by name, objects as str, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_check(results: Path, sf_dir: str) -> dict:
    """{query: error} for every warm-pass result that differs from DuckDB."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for name, sql in json.loads((results / "oracle_sql.json").read_text()).items():
        try:
            got = pd.concat([pd.read_parquet(f) for f in
                             sorted(glob.glob(str(results / name / "*.parquet")))],
                            ignore_index=True)
            g, w = normalize(got), normalize(con.execute(sql).fetchdf())
        except Exception as e:  # a missing or unreadable result is a failure
            bad[name] = str(e)[:200]
            continue
        if list(g.columns) != list(w.columns):
            bad[name] = f"columns {list(g.columns)} vs {list(w.columns)}"
        elif len(g) != len(w):
            bad[name] = f"rows {len(g)} vs {len(w)}"
        elif not g.equals(w):
            bad[name] = "values differ"
    return bad


def trace_overhead(a, res, rec) -> None:
    """Tracing overhead: a traced run's unit_s minus the untraced run's for
    the same workload and seed. An untraced run leaves its unit_s in the
    build dir; a traced run that finds one records the difference."""
    unit = res["end_to_end"].get("unit_s", {}).get("value")
    if unit is None or res["failed"]:
        return
    keep = build.build_dir() / "results" / f"{a.workload}-seed{a.seed}.json"
    if not a.trace:
        keep.parent.mkdir(parents=True, exist_ok=True)
        keep.write_text(json.dumps({"unit_s": unit}))
    elif keep.exists():
        base = json.loads(keep.read_text())["unit_s"]
        rec["trace.overhead_s"] = unit - base
        rec["trace.overhead_frac"] = (unit - base) / base


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    classpath = build.ensure_built()
    work = build.build_dir() / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = [build.java(), "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + \
        build.JVM_OPENS + ["-cp", classpath, "perfbench.Main",
                           "--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--work", str(work / "run"), "--out", str(out),
                           "--sf", SF_DIR]
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"[perfbench] {a.workload} did not finish within {JVM_TIMEOUT_S} s",
              file=sys.stderr)
        return 3
    if proc.returncode != 0 or not out.exists():
        sys.stderr.write(stdout[-4000:])
        print(f"[perfbench] JVM exited with {proc.returncode}", file=sys.stderr)
        return 3
    res = json.loads(out.read_text())
    rec = res["record"]
    if a.workload == "query_mix":
        results = work / "run" / "results"
        if not (results / "oracle_sql.json").exists():
            res["errors"].append("no query results to check against the oracle")
            (results).mkdir(parents=True, exist_ok=True)
            (results / "oracle_sql.json").write_text("{}")
        bad = oracle_check(results, SF_DIR)
        rec["oracle_checked"] = len(json.loads((results / "oracle_sql.json").read_text()))
        rec["oracle_failed"] = sorted(bad)
        for name, why in sorted(bad.items()):
            res["errors"].append(f"{name} differs from the DuckDB oracle: {why}")
            res["failed"] += int(rec.get("executions_per_query", 1))
    if a.trace:
        traces = work / "traces"
        keep = build.build_dir() / "traces"
        keep.mkdir(parents=True, exist_ok=True)
        for f in traces.glob("*.jsonl"):
            shutil.move(str(f), keep / f.name)
            rec["trace.file"] = str((keep / f.name).relative_to(build.ROOT))
    rec["failed_frac"] = res["failed"] / max(1, res["attempted"])
    rec["wall_s"] = time.time() - t0
    shutil.rmtree(work, ignore_errors=True)
    trace_overhead(a, res, rec)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["per_layer"] if a.trace else res["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        res["errors"].append(f"metrics not measured: {missing}")
    zero = [m["name"] for m in wanted if m["name"] in got and
            not (isinstance(got[m["name"]]["value"], (int, float)) and got[m["name"]]["value"] > 0)]
    if zero:
        res["errors"].append(f"metrics not positive: {zero}")
    correct = not res["errors"] and res["failed"] == 0
    metrics = {m["name"]: got[m["name"]] for m in wanted if m["name"] in got}

    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "errors": res["errors"], "end_to_end": res["end_to_end"],
                      "per_layer": res["per_layer"], "record": rec}, sort_keys=True))
    for e in res["errors"]:
        print(f"[perfbench] FAILED: {e}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
