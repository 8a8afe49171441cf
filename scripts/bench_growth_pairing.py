"""Same-pass growth pairing: how much does a query's wall grow from
SF_A to SF_B? (round-7 task #2 — re-bound q42p's sf10 growth band).

The round-6 campaign read q42p's sf1→sf10 growth as "13–20×", but the
three sf10 samples spanned the host's 1.5× weather band (88.5–134 s),
so the band was instrument, not growth. The fix is the same one the
full-headline pairing uses for Spark-vs-DuckDB: measure BOTH scales in
the SAME minutes. Each pass runs one fresh-JVM sample at SF_A and
immediately one at SF_B; the per-pass ratio cancels the slow-varying
host weather that dominates cross-window comparisons, and the spread
of the per-pass ratios is the honest uncertainty on the growth.

Each child mirrors scripts/bench_scaling_fresh.py exactly (fresh JVM,
session-default confs via get_session's _RUNTIME_CONFS, noop sink,
warm-second-run rule for samples < 60 s) and writes a Spark event log;
the log's task_cpu_s_total rides along per cell (n_runs recorded — a
warm sample's log covers two runs) as the scheduling-noise-free
cross-check on where the growth lives.

Usage:
  python scripts/bench_growth_pairing.py QUERY SF_A SF_B [passes] [out.json]
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import os, sys, time
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
from ipes_data_pipeline_spark.session import _RUNTIME_CONFS, cpu_count

cpus = cpu_count()
builder = (
    SparkSession.builder.master(f"local[{{cpus}}]")
    .appName("growth-pairing")
    .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.dir", {evdir!r})
    .config("spark.eventLog.compress", "false")
)
for k, v in _RUNTIME_CONFS.items():
    builder = builder.config(k, v)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from ipes_data_pipeline_spark.queries import REGISTRY, load_all
load_all()
spark.read.parquet({sf_dir!r} + "/nation.parquet").count()
t0 = time.perf_counter()
df = REGISTRY[{name!r}].spark(spark, {sf_dir!r})
df.write.mode("overwrite").format("noop").save()
t1 = time.perf_counter() - t0
if t1 < 60.0:
    t0 = time.perf_counter()
    df = REGISTRY[{name!r}].spark(spark, {sf_dir!r})
    df.write.mode("overwrite").format("noop").save()
    print("SAMPLE_SEC=%.3f N_RUNS=2 FIRST=%.3f" % (time.perf_counter() - t0, t1))
else:
    print("SAMPLE_SEC=%.3f N_RUNS=1" % t1)
print("APP_ID=" + spark.sparkContext.applicationId)
spark.stop()
"""


def _run_cell(name: str, sf_dir: str, evdir: str) -> dict | None:
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            CHILD.format(root=ROOT, sf_dir=sf_dir, name=name, evdir=evdir),
        ],
        capture_output=True,
        text=True,
    )
    hit = re.search(r"SAMPLE_SEC=([0-9.]+) N_RUNS=(\d)", proc.stdout)
    if not hit:
        print(f"FAILED {name} @ {sf_dir}\n{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    cell = {
        "wall_s": float(hit.group(1)),
        "n_runs": int(hit.group(2)),
    }
    first = re.search(r"FIRST=([0-9.]+)", proc.stdout)
    if first:
        cell["first_run_s"] = float(first.group(1))
    logs = [
        os.path.join(evdir, f)
        for f in os.listdir(evdir)
        if not f.endswith(".inprogress")
    ] or [os.path.join(evdir, f) for f in os.listdir(evdir)]
    if logs:
        from audit_aqe_stages import parse_event_log

        audit = parse_event_log(max(logs, key=os.path.getmtime))
        cell["task_cpu_s_total"] = audit["task_cpu_s_total"]
        cell["task_run_s_total"] = audit["task_run_s_total"]
        cell["n_tasks"] = audit["n_tasks"]
    return cell


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    name, sf_a, sf_b = sys.argv[1], sys.argv[2], sys.argv[3]
    passes = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    out_path = sys.argv[5] if len(sys.argv) > 5 else "/tmp/growth_pairing.json"
    cells: list[dict] = []
    for p in range(passes):
        with tempfile.TemporaryDirectory(prefix="growthev_a_") as ev_a, \
                tempfile.TemporaryDirectory(prefix="growthev_b_") as ev_b:
            a = _run_cell(name, sf_a, ev_a)
            b = _run_cell(name, sf_b, ev_b)
        if not a or not b:
            continue
        growth = round(b["wall_s"] / a["wall_s"], 2)
        row = {"pass": p, "a": a, "b": b, "wall_growth": growth}
        if "task_cpu_s_total" in a and "task_cpu_s_total" in b:
            # per-run CPU: a warm cell's log covers n_runs executions
            cpu_a = a["task_cpu_s_total"] / a["n_runs"]
            cpu_b = b["task_cpu_s_total"] / b["n_runs"]
            row["cpu_growth"] = round(cpu_b / cpu_a, 2) if cpu_a else None
        cells.append(row)
        print(
            f"pass {p}: {sf_a}={a['wall_s']:.1f}s {sf_b}={b['wall_s']:.1f}s "
            f"growth={growth}x cpu_growth={row.get('cpu_growth')}",
            file=sys.stderr,
        )
        _flush(out_path, name, sf_a, sf_b, passes, cells)
    _flush(out_path, name, sf_a, sf_b, passes, cells)
    with open(out_path) as f:
        print(f.read())


def _flush(out_path, name, sf_a, sf_b, passes, cells) -> None:
    growths = [c["wall_growth"] for c in cells]
    payload = {
        "metric": "same_pass_growth_pairing",
        "query": name,
        "sf_a": sf_a,
        "sf_b": sf_b,
        "passes": passes,
        "method": (
            "per pass: one fresh-JVM sample at sf_a immediately followed "
            "by one at sf_b (same minutes); growth = wall_b/wall_a per "
            "pass, weather cancels inside a pass; walls <60s are warm "
            "2nd runs; task CPU totals from per-cell event logs"
        ),
        "wall_growth_median": round(statistics.median(growths), 2) if growths else None,
        "wall_growth_samples": growths,
        "wall_growth_spread": round(max(growths) - min(growths), 2) if growths else None,
        "cpu_growth_samples": [c.get("cpu_growth") for c in cells],
        "cells": cells,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
