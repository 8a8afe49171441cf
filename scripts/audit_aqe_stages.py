"""Stage-timeline audit of the AQE/init256 local-mode tax (round-7 task #1).

Round 6 committed the A/B (``BENCH_AQE_AB_r6.json``): the session
default (AQE on + ``initialPartitionNum=256``) costs the banded MinHash
family up to 3.6x at sf10 in local mode (q42p 178.9 s vs 50.3 s
AQE-off), but the MECHANISM was only suspected, not confirmed. Three
named suspects:

  A. per-stage scheduling floor x 256 partitions x ~15 stages — shows
     as task-count blowup with per-task work far below the scheduling
     overhead (stage wall >> task work / 32 cores).
  B. AQE stage barriers vs pipelining — AQE materializes every query
     stage before planning the next; shows as DEAD TIME between stages
     (total wall minus the union of stage intervals) and as more,
     shorter jobs.
  C. skew-join probing — OptimizeSkewedJoin splitting the band join;
     shows as one join stage whose task count balloons vs the aqe_off
     plan.

Method: one fresh JVM per conf cell (the round-6 instrument), Spark
event log enabled (static conf, hence the child builds its own session
mirroring ``session.get_session``), query executed to a noop sink,
then the event log is parsed into per-stage rows:

  stage_id, name (truncated), n_tasks, wall (completion - submission),
  task_run_ms (sum executorRunTime), task_cpu_ms, sched_overhead
  (wall x 32 cores - task_run, the idle core-time the stage paid).

Cell summary: total wall, n_jobs, n_stages, n_tasks, sum task run/cpu,
stage-interval coverage vs wall (the gap = inter-stage dead time,
suspect B's signature), top stages by wall.

Usage:
  python scripts/audit_aqe_stages.py SF_DIR QUERY CONF_MODE [OUT.json]
  CONF_MODE: aqe_on_init256 | aqe_on_init32 | aqe_off
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ipes_data_pipeline_spark.session import cpu_count  # noqa: E402

CONF_MODES = {
    # the session default (session.py _RUNTIME_CONFS)
    "aqe_on_init256": {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    },
    "aqe_on_init32": {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "32",
    },
    "aqe_off": {
        "spark.sql.adaptive.enabled": "false",
    },
    # mechanism isolators (round-7): default conf minus ONE feature
    "aqe_on_noskew": {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
        "spark.sql.adaptive.skewJoin.enabled": "false",
    },
    "aqe_on_nocoalesce": {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    },
}

CHILD = r"""
import os, sys, time
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
from ipes_data_pipeline_spark.session import _RUNTIME_CONFS, cpu_count

cpus = cpu_count()
builder = (
    SparkSession.builder.master(f"local[{{cpus}}]")
    .appName("aqe-audit")
    .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.dir", {evdir!r})
    .config("spark.eventLog.compress", "false")
)
confs = dict(_RUNTIME_CONFS)
confs.update({overrides!r})
for k, v in confs.items():
    builder = builder.config(k, v)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from ipes_data_pipeline_spark.queries import REGISTRY, load_all
load_all()
spark.read.parquet({sf_dir!r} + "/nation.parquet").count()
t0 = time.perf_counter()
df = REGISTRY[{name!r}].spark(spark, {sf_dir!r})
df.write.mode("overwrite").format("noop").save()
print("WALL_SEC=%.3f" % (time.perf_counter() - t0))
print("APP_ID=" + spark.sparkContext.applicationId)
spark.stop()
"""


def _event_lines(path: str):
    # Spark 4 default is the v2 rolling layout: a directory holding
    # events_1_<app>, events_2_<app>, ... plus an appstatus marker.
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.startswith("events")
        )
        for p in parts:
            yield from open(os.path.join(path, p))
    else:
        yield from open(path)


def parse_event_log(path: str) -> dict:
    stages: dict[int, dict] = {}
    task_run: dict[int, float] = {}
    task_cpu: dict[int, float] = {}
    task_n: dict[int, int] = {}
    n_jobs = 0
    for line in _event_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event", "")
        if e == "SparkListenerJobStart":
            n_jobs += 1
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            stages[sid] = {
                "stage_id": sid,
                "name": si.get("Stage Name", "")[:80],
                "n_tasks": si.get("Number of Tasks", 0),
                "submit_ms": sub,
                "complete_ms": comp,
                "wall_s": round((comp - sub) / 1000.0, 3) if sub and comp else None,
            }
        elif e == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            tm = ev.get("Task Metrics") or {}
            task_run[sid] = task_run.get(sid, 0.0) + tm.get("Executor Run Time", 0)
            task_cpu[sid] = task_cpu.get(sid, 0.0) + tm.get(
                "Executor CPU Time", 0
            ) / 1e6  # ns -> ms
            task_n[sid] = task_n.get(sid, 0) + 1
    cores = cpu_count()
    rows = []
    for sid, s in sorted(stages.items()):
        run_ms = task_run.get(sid, 0.0)
        s["task_run_s"] = round(run_ms / 1000.0, 3)
        s["task_cpu_s"] = round(task_cpu.get(sid, 0.0) / 1000.0, 3)
        # idle core-seconds this stage paid: wall x cores - actual run
        if s["wall_s"] is not None:
            s["idle_core_s"] = round(s["wall_s"] * cores - run_ms / 1000.0, 1)
        rows.append(s)
    # dead time: union of [submit, complete] intervals vs total span
    ivs = sorted(
        (s["submit_ms"], s["complete_ms"])
        for s in stages.values()
        if s.get("submit_ms") and s.get("complete_ms")
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in ivs:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    span = (ivs[-1][1] - ivs[0][0]) if ivs else 0
    return {
        "n_jobs": n_jobs,
        "n_stages": len(stages),
        "n_tasks": sum(s["n_tasks"] for s in stages.values()),
        "task_run_s_total": round(sum(task_run.values()) / 1000.0, 2),
        "task_cpu_s_total": round(sum(task_cpu.values()) / 1000.0, 2),
        "stage_span_s": round(span / 1000.0, 2),
        "stage_covered_s": round(covered / 1000.0, 2),
        "interstage_dead_s": round((span - covered) / 1000.0, 2),
        "stages": rows,
    }


def main() -> None:
    sf_dir, name, mode = sys.argv[1], sys.argv[2], sys.argv[3]
    out_path = sys.argv[4] if len(sys.argv) > 4 else f"/tmp/aqe_audit_{name}_{mode}.json"
    overrides = CONF_MODES[mode]
    evdir = tempfile.mkdtemp(prefix=f"evlog_{mode}_")
    code = CHILD.format(
        root=ROOT, sf_dir=sf_dir, name=name, overrides=overrides, evdir=evdir
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=ROOT
    )
    wall = None
    for ln in r.stdout.splitlines():
        if ln.startswith("WALL_SEC="):
            wall = float(ln.split("=")[1])
    if wall is None:
        print(r.stdout[-3000:], file=sys.stderr)
        print(r.stderr[-3000:], file=sys.stderr)
        sys.exit(1)
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir) if not f.endswith(".inprogress")]
    if not logs:  # app crashed before stop(); take the inprogress log
        logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
    parsed = parse_event_log(max(logs, key=os.path.getmtime))
    parsed.update({"query": name, "conf": mode, "sf_dir": sf_dir, "wall_s": wall})
    # keep the full stage table but order a top-10 view first for reading
    parsed["top_stages_by_wall"] = sorted(
        (s for s in parsed["stages"] if s.get("wall_s")),
        key=lambda s: -s["wall_s"],
    )[:10]
    with open(out_path, "w") as f:
        json.dump(parsed, f, indent=1)
    print(
        f"{name} {mode}: wall={wall:.1f}s jobs={parsed['n_jobs']} "
        f"stages={parsed['n_stages']} tasks={parsed['n_tasks']} "
        f"task_run={parsed['task_run_s_total']}s "
        f"dead={parsed['interstage_dead_s']}s -> {out_path}"
    )


if __name__ == "__main__":
    main()
