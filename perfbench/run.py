"""The repository benchmark: one workload, one seed, one fresh process.

Usage (from the repository root)::

    python3 perfbench/run.py --workload lake_analytics --seed 1 --seconds 10 --trace 0

Workloads are defined in ``perfbench/workloads.py``. A run

1. generates the timed input and a separate, smaller warm-up input from
   the seed (``perfbench/datagen.py``);
2. sets up once, timed from process start: interpreter, imports, JVM
   launch, session and the warm-up on the warm-up input (input
   generation excluded);
3. runs whole passes over the workload's operations, one at a time
   (a closed loop with one client), until ``--seconds`` have passed;
4. checks every operation's output outside the timed region: queries
   against their DuckDB oracle, pipeline runs against the ground truth
   planted in the raw filings;
5. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``, with Spark's event log on and one job group per
   operation and phase).

The full result, with host facts, every sample and, when traced, the
per-layer table and the spans, is written under ``.perfbench/out/``.
The exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: per-call delay of the enrichment backend, standing in for the
#: reference's LLM call. The reference sleeps 21 s per call and enriches
#: 178 companies from a cold cache, about 62 min (SURVEY.md, "Enrichment
#: rate"). Compressed into one 10 s measurement window that is 10/178 s,
#: about 56 ms, per call.
BACKEND_DELAY_S = 10 / 178


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``. Below 21 samples that percentile is not
    above the median, so the maximum is returned as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def error_rate(attempted: int, failed: int) -> float:
    return failed / attempted


def process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def proc_mb(pid: int, field: str) -> float:
    """A memory field of ``/proc/<pid>/status`` (``VmRSS``, ``VmHWM``) in MB."""
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith(field + ":"))
    return kb / 1024.0


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return kb / (1 << 20)


def _git_sha() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def _configure_env(work: str, trace: bool) -> int:
    """Run hygiene: all cores, a driver heap that fits the host, the
    package importable by Python workers, every scratch path inside
    ``work``. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_gb = int(max(1, min(4, _mem_total_gb() // 4)))
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", f"spark.hadoop.hadoop.tmp.dir={tmp}",
    ]
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{evdir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        TMPDIR=tmp,
    )
    import tempfile

    tempfile.tempdir = tmp
    return cpus


class Spans:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.rows.append(
            {"id": len(self.rows), "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id, **attrs}
        )
        return len(self.rows) - 1

    def self_times(self) -> list[float]:
        """Each span's duration minus what its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.rows:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        from perfbench.eventlog import covered_ms

        return [
            (s["end"] - s["start"])
            - covered_ms(
                [(int(a * 1e6), int(b * 1e6)) for a, b in kids.get(s["id"], [])],
                int(s["start"] * 1e6), int(s["end"] * 1e6),
            ) / 1e6
            for s in self.rows
        ]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


# --- operations -------------------------------------------------------------


class QueryRunner:
    """A query workload: each operation is one registered query plus its
    sink, a collect to the driver as a dashboard or notebook does."""

    def __init__(self, wl, data_dir: str, warm_dir: str):
        from ipes_data_pipeline_spark.queries import REGISTRY, TABLES, load_all

        load_all()
        self.registry = REGISTRY
        self.data_dir, self.warm_dir = data_dir, warm_dir
        by_prefix = {n.split("_")[0]: n for n in REGISTRY}
        self.ops = [(by_prefix[p], mod) for p, mod in wl.queries]
        no_oracle = [n for n, _m in self.ops if not REGISTRY[n].oracle]
        if no_oracle:
            raise ValueError(f"queries without a DuckDB oracle: {no_oracle}")
        self.warm = [by_prefix[p] for p in wl.warm_queries]
        self.tables = TABLES
        self.results: dict[str, object] = {}

    def input_rows(self, counts: dict[str, int]) -> dict[str, int]:
        """Rows each query reads: the tables its oracle SQL names."""
        import re

        return {
            name: sum(counts[t] for t in self.tables if re.search(rf"\b{t}\b", self.registry[name].oracle))
            for name, _mod in self.ops
        }

    def warm_up(self, spark) -> None:
        for name in self.warm:
            self.registry[name].spark(spark, self.warm_dir).toPandas()

    def run_op(self, spark, index: int, pass_no: int, set_group, spans: Spans, parent: int) -> dict:
        name, module = self.ops[index]
        label = f"{name}#{pass_no}"
        rec = {"pass": pass_no, "name": name, "module": module, "label": label,
               "build_s": 0.0, "sink_s": 0.0, "rows": None, "error": None}
        t0 = time.time()
        op_span = spans.add(name, t0, t0, parent, kind="op", module=module)
        try:
            set_group(f"{label}:build")
            df = self.registry[name].spark(spark, self.data_dir)
            t1 = time.time()
            set_group(f"{label}:sink")
            pdf = df.toPandas()
            t2 = time.time()
            rec.update(build_s=t1 - t0, sink_s=t2 - t1, rows=len(pdf))
            spans.add("build", t0, t1, op_span, kind="phase", module=module)
            spans.add("sink", t1, t2, op_span, kind="phase", module=module)
            if pass_no == 0:
                self.results[name] = pdf
            del df, pdf
        except Exception as e:  # an operation that raises counts as failed
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        end = time.time()
        spans.rows[op_span]["end"] = end
        rec.update(start=t0, end=end, latency_s=end - t0)
        return rec

    def check(self, spark, ops: list[dict]) -> list[str]:
        """Mark each op ``ok``: no error, and the oracle's rows (full
        comparison for the first pass, row count for later passes).
        Returns the problems found."""
        from ipes_data_pipeline_spark.oracle import compare, run_oracle

        problems: list[str] = []
        for name in dict.fromkeys(n for n, _m in self.ops):
            mine = [op for op in ops if op["name"] == name]
            first = self.results.get(name)
            expected = run_oracle(self.registry[name].oracle, self.data_dir)
            want_rows = len(expected)
            diff = compare(first, expected) if first is not None else ["no result"]
            for op in mine:
                bad = op["error"] or (
                    f"rows {op['rows']} != {want_rows}" if op["rows"] != want_rows else None
                ) or (diff[0] if diff and op["pass"] == 0 else None)
                op["ok"] = bad is None
                if bad:
                    problems.append(f"{op['label']}: {bad}"[:300])
        return problems


class PipelineRunner:
    """The medallion workload: each operation is one ``run_pipeline``
    over the generated raw filings into a fresh lake whose enrichment
    cache is pre-seeded with part of the entities."""

    def __init__(self, work: str, truth, raw_dir: str, warm_raw: str):
        from perfbench.backend import DelayedBackend

        self.work, self.truth = work, truth
        self.seed_cache = os.path.join(work, "seed_cache")
        self.raw_dir, self.warm_raw = raw_dir, warm_raw
        self.backend = DelayedBackend(BACKEND_DELAY_S)
        self.ops = [("run_pipeline", "pipeline")]

    def write_seed_cache(self) -> None:
        """The pre-seeded enrichment cache: one row per seeded entity,
        answered as the backend would (input preparation, untimed)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from ipes_data_pipeline_spark.operators.enrich import DeterministicMockBackend
        from ipes_data_pipeline_spark.schemas import ENRICHMENT_CACHE

        answer = DeterministicMockBackend()
        rows = [
            {"normalized_name": name, **answer(name, [])} for name in self.truth.seeded_names
        ]
        os.makedirs(self.seed_cache)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=to_arrow_schema(ENRICHMENT_CACHE)),
            os.path.join(self.seed_cache, "part-00000.parquet"),
        )

    def warm_up(self, spark) -> None:
        """The bronze read of the warm-up filings. A whole warm-up run
        would cost as much as the timed one."""
        from ipes_data_pipeline_spark.pipeline.bronze import flatten_filings
        from ipes_data_pipeline_spark.schemas import RAW_FILING_NESTED

        raw = spark.read.schema(RAW_FILING_NESTED).json(self.warm_raw)
        flatten_filings(raw).write.mode("overwrite").format("noop").save()

    def run_op(self, spark, index: int, pass_no: int, set_group, spans: Spans, parent: int) -> dict:
        label = f"pipeline#{pass_no}"
        lake = os.path.join(self.work, "lakes", str(pass_no))
        os.makedirs(lake)
        shutil.copytree(self.seed_cache, os.path.join(lake, "enrichment_cache"))
        rec = {"pass": pass_no, "name": "run_pipeline", "module": "pipeline", "label": label,
               "lake": lake, "steps": {}, "error": None}
        set_group(label)
        t0 = time.time()
        op_span = spans.add("run_pipeline", t0, t0, parent, kind="op", module="pipeline")
        try:
            from ipes_data_pipeline_spark.pipeline.run import run_pipeline

            res = run_pipeline(spark, self.raw_dir, lake, backend=self.backend)
            rec["steps"] = dict(res.step_durations)
        except Exception as e:  # an operation that raises counts as failed
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        end = time.time()
        spans.rows[op_span]["end"] = end
        at = t0
        for step, dur in rec["steps"].items():
            spans.add(step, at, at + dur, op_span, kind="phase", module=f"pipeline.{step}")
            at += dur
        rec.update(start=t0, end=end, latency_s=end - t0)
        return rec

    def check(self, spark, ops: list[dict]) -> list[str]:
        """Ground truth per lake: canonical entity count, filings→companies
        foreign keys, one gold row per eligible company, cache growth
        equal to the cache misses."""
        from pyspark.sql import functions as F

        ops = [op for op in ops if op["module"] == "pipeline"]
        if not ops:
            return []
        t = self.truth
        seeded = len(t.seeded_names)
        problems = []
        for op in ops:
            op["ok"] = False
            if op["error"]:
                problems.append(f"{op['label']}: {op['error']}")
                continue
            lake = op["lake"]
            companies = spark.read.parquet(os.path.join(lake, "silver", "companies"))
            filings = spark.read.parquet(os.path.join(lake, "silver", "filings"))
            n_comp = companies.count()
            orphans = filings.join(
                companies.select(F.col("id").alias("company_id")), "company_id", "left_anti"
            ).count()
            gold = spark.read.parquet(os.path.join(lake, "gold")).count()
            calls = spark.read.parquet(os.path.join(lake, "enrichment_cache")).count() - seeded
            op.update(
                backend_calls=calls,
                backend_sleep_s=calls * self.backend.delay_s,
                eligible=gold,
                lake_bytes=_dir_bytes(lake),
            )
            bad = [
                f"{what}: {got} != {want}"
                for what, got, want in (
                    ("entities", n_comp, t.entities),
                    ("orphan filings", orphans, 0),
                    ("gold rows", gold, t.entities),
                    ("cache growth", calls, t.entities - seeded),
                )
                if got != want
            ]
            op["ok"] = not bad
            problems += [f"{op['label']}: {b}" for b in bad]
        return problems


class Runners:
    """The operations of every part of a workload, in order, as one list."""

    def __init__(self, parts: list):
        self.parts = parts
        self.ops = [(part, i) for part in parts for i in range(len(part.ops))]

    def warm_up(self, spark) -> None:
        for part in self.parts:
            part.warm_up(spark)

    def run_op(self, spark, index: int, *args) -> dict:
        part, i = self.ops[index]
        return part.run_op(spark, i, *args)

    def check(self, spark, ops: list[dict]) -> list[str]:
        return [msg for part in self.parts for msg in part.check(spark, ops)]


# --- per-layer report -------------------------------------------------------

QUERY_COUNTERS = ("build_s", "sink_s")
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "dead_s",
)


def per_layer_metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    from perfbench.workloads import PIPELINE_MODULES, QUERY_MODULES

    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
    out = []
    for mod in QUERY_MODULES:
        for c in QUERY_COUNTERS + SPARK_COUNTERS:
            out.append((f"{mod}.{c}", units.get(c, "s")))
    for mod in PIPELINE_MODULES:
        for c in ("step_s",) + SPARK_COUNTERS:
            out.append((f"{mod}.{c}", units.get(c, "s")))
    out += [
        ("operators.enrich.backend_calls", "count"),
        ("operators.enrich.cache_hit_ratio", "ratio"),
        ("pipeline.lake_bytes_per_input_byte", "ratio"),
        ("spark.failed_tasks", "count"),
        ("memory.rss_p50_mb", "MB"),
        ("memory.peak_rss_mb", "MB"),
        ("trace.wall_s", "s"),
        ("trace.unattributed_s", "s"),
    ]
    return out


def layer_table(ops: list[dict], groups: dict, passes: int) -> dict[str, dict[str, float]]:
    """Per module, per pass: call times from the harness, job/stage/task
    counters from the event log, and dead time (operation or step wall
    during which no stage of it ran)."""
    from perfbench.eventlog import COUNTERS, covered_ms

    table: dict[str, dict[str, float]] = {}

    def row(mod: str) -> dict[str, float]:
        return table.setdefault(mod, dict.fromkeys(("step_s", "build_s", "sink_s", "dead_s") + COUNTERS, 0.0))

    def charge(r: dict[str, float], keys: list[str], lo: float, hi: float) -> None:
        ivs = []
        for k in keys:
            g = groups.get(k)
            if g is None:
                continue
            for c, v in g.counters.items():
                r[c] += v
            ivs += g.intervals
        lo_ms, hi_ms = int(lo * 1000), int(hi * 1000)
        r["dead_s"] += max(0, (hi_ms - lo_ms) - covered_ms(ivs, lo_ms, hi_ms)) / 1000.0

    for op in ops:
        if op["module"] == "pipeline":
            at = op["start"]
            for step, dur in op["steps"].items():
                r = row(f"pipeline.{step}")
                r["step_s"] += dur
                charge(r, [f"{op['label']}|{step}"], at, at + dur)
                at += dur
        else:
            r = row(op["module"])
            r["build_s"] += op["build_s"]
            r["sink_s"] += op["sink_s"]
            charge(r, [f"{op['label']}:build", f"{op['label']}:sink"], op["start"], op["end"])
    return {m: {k: v / passes for k, v in r.items()} for m, r in table.items()}


def pipeline_step_classifier(ops: list[dict]):
    """Re-key a pipeline op's jobs by the last step started before their
    submission time. Steps are taken to run back to back from the call's
    start; a job in a gap between steps, or after the last one, goes to
    the step before it."""
    starts = {}
    for op in ops:
        if op["module"] == "pipeline":
            at, ss = op["start"] * 1000, []
            for step, dur in op["steps"].items():
                ss.append((at, step))
                at += dur * 1000
            starts[op["label"]] = ss

    def classify(gid: str, submit_ms: int) -> str:
        last = None
        for lo, step in starts.get(gid, ()):
            if submit_ms >= lo:
                last = step
        return f"{gid}|{last}" if last else gid

    return classify


def traced_metrics(ops, groups, spans: Spans, pass_walls: list[float], raw_bytes: int, peak_rss: float):
    """The per-layer metrics of a traced run, and the report's layer
    table: per module counters, span self times and untimed jobs."""
    passes = len(pass_walls)
    table = layer_table(ops, groups, passes)
    labels = {op["label"] for op in ops}
    timed = {k for k in groups if k.split("|")[0].split(":")[0] in labels}
    runs = [op for op in ops if "backend_calls" in op]

    def mean(values):
        values = list(values)
        return statistics.mean(values) if values else 0

    extra = {
        "operators.enrich.backend_calls": mean(op["backend_calls"] for op in runs),
        "operators.enrich.cache_hit_ratio": mean(
            (op["eligible"] - op["backend_calls"]) / op["eligible"] for op in runs if op["eligible"]
        ),
        "pipeline.lake_bytes_per_input_byte": mean(op["lake_bytes"] / raw_bytes for op in runs),
        "spark.failed_tasks": sum(groups[k].counters["failed_tasks"] for k in timed),
        "memory.rss_p50_mb": statistics.median(op["rss_mb"] for op in ops),
        "memory.peak_rss_mb": peak_rss,
        "trace.wall_s": statistics.median(pass_walls),
        "trace.unattributed_s": statistics.median(
            w - sum(op["latency_s"] for op in ops if op["pass"] == n) for n, w in enumerate(pass_walls)
        ),
    }
    metrics = {}
    for name, unit in per_layer_metric_names():
        mod, counter = name.rsplit(".", 1)
        metrics[name] = (extra[name] if name in extra else table.get(mod, {}).get(counter, 0), unit)
    self_s: dict[str, float] = {}
    for span, st in zip(spans.rows, spans.self_times()):
        key = f"{span['kind']}:{span.get('module', span['name'])}"
        self_s[key] = self_s.get(key, 0.0) + st / passes
    layers = {
        "table": table,
        "self_s": self_s,
        "untimed_jobs": {k: g.counters["jobs"] for k, g in groups.items() if k not in timed},
    }
    return metrics, layers


# --- entry point ------------------------------------------------------------


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_proc = process_start_epoch()
    for need in ("ipes_data_pipeline_spark/__init__.py", "scripts/gen_scale_data.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import datagen
    from perfbench.workloads import WARM_SIZE, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    run_id = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{run_id}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    cpus = _configure_env(work, trace)

    import numpy as np

    # -- inputs (not part of set-up) --
    t_gen = time.time()
    data_dir, warm_dir = os.path.join(work, "data"), os.path.join(work, "warm")
    counts: dict[str, int] = {}
    if wl.queries:
        counts = datagen.write_tables(data_dir, wl.size, np.random.default_rng([args.seed, 0]))
        datagen.write_tables(warm_dir, WARM_SIZE, np.random.default_rng([args.seed, 1]))
    truth, raw_bytes = None, 0
    if wl.pipeline_entities:
        records, truth = datagen.raw_filings(np.random.default_rng([args.seed, 2]), wl.pipeline_entities)
        warm_records, _truth = datagen.raw_filings(np.random.default_rng([args.seed, 3]), 10)
        raw_bytes = datagen.write_jsonl(os.path.join(data_dir, "raw", "filings.jsonl"), records)
        datagen.write_jsonl(os.path.join(warm_dir, "raw", "filings.jsonl"), warm_records)
        counts["raw_filings"] = truth.records
    gen_s = time.time() - t_gen

    spark = None
    try:
        # -- set-up, timed from process start --
        from ipes_data_pipeline_spark.session import get_session

        parts: list = []
        if wl.queries:
            parts.append(QueryRunner(wl, data_dir, warm_dir))
        if wl.pipeline_entities:
            pipeline = PipelineRunner(
                work, truth, os.path.join(data_dir, "raw"), os.path.join(warm_dir, "raw")
            )
            parts.append(pipeline)
        runner = Runners(parts)
        os.environ["SPARK_GRAFT_SF_DIR"] = warm_dir
        spark = get_session("perfbench")
        runner.warm_up(spark)
        setup_s = time.time() - t_proc - gen_s

        sc = spark.sparkContext
        java_version = sc._jvm.System.getProperty("java.version")
        jvm_pid = sc._gateway.proc.pid
        t_seed = time.time()
        if wl.pipeline_entities:
            pipeline.write_seed_cache()
        os.environ["SPARK_GRAFT_SF_DIR"] = data_dir
        seed_s = time.time() - t_seed
        # start the timed region from collected heaps on both sides
        gc.collect()
        sc._jvm.System.gc()

        def set_group(label: str) -> None:
            if trace:
                sc.setJobGroup(label, label)

        # -- timed region: whole passes, one operation at a time --
        spans = Spans(run_id)
        run_span = spans.add("run", time.time(), 0.0, None, kind="run")
        ops: list[dict] = []
        pass_walls: list[float] = []
        t_begin = time.perf_counter()
        while True:
            pass_no = len(pass_walls)
            p0 = time.time()
            pass_span = spans.add(f"pass{pass_no}", p0, p0, run_span, kind="pass")
            for i in range(len(runner.ops)):
                ops.append(runner.run_op(spark, i, pass_no, set_group, spans, pass_span))
                ops[-1]["rss_mb"] = proc_mb(os.getpid(), "VmRSS") + proc_mb(jvm_pid, "VmRSS")
            p1 = time.time()
            spans.rows[pass_span]["end"] = p1
            pass_walls.append(p1 - p0)
            if time.perf_counter() - t_begin >= args.seconds:
                break
        spans.rows[run_span]["end"] = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)

        # -- output checks, outside the timed region --
        t_check = time.time()
        problems = runner.check(spark, ops)
        check_s = time.time() - t_check
        peak_rss = proc_mb(os.getpid(), "VmHWM") + proc_mb(jvm_pid, "VmHWM")
        _stop_jvm(spark)
        spark = None

        attempted = len(ops)
        failed = sum(1 for op in ops if not op.get("ok"))
        latencies = [op["latency_s"] for op in ops]
        tail, tail_pct = tail_percentile(latencies)
        op_rows = {"run_pipeline": truth.records} if truth else {}
        if wl.queries:
            op_rows.update(parts[0].input_rows(counts))
        pass_rows = [
            sum(op_rows[op["name"]] for op in ops if op["pass"] == n) for n in range(len(pass_walls))
        ]
        e2e = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(pass_walls), "s"),
            "rows_per_s": (statistics.median(r / w for r, w in zip(pass_rows, pass_walls)), "rows/s"),
            "op_p50_s": (statistics.median(latencies), "s"),
            "op_tail_s": (tail, "s"),
        }

        layers = None
        metrics = e2e
        if trace:
            from perfbench.eventlog import event_lines, parse_event_log

            groups = parse_event_log(
                event_lines(os.path.join(work, "eventlog")), pipeline_step_classifier(ops)
            )
            metrics, layers = traced_metrics(ops, groups, spans, pass_walls, raw_bytes, peak_rss)

        result = {
            "correct": not problems and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        report = {
            "run": run_id,
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": trace,
            "host": {
                "nproc": cpus,
                "mem_total_gb": round(_mem_total_gb(), 1),
                "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
                "java": java_version,
                "pyspark": __import__("pyspark").__version__,
                "python": sys.version.split()[0],
                "git_sha": _git_sha(),
            },
            "input": {"size": wl.size, "pipeline_entities": wl.pipeline_entities, "rows": counts},
            "phases_s": {"generate": gen_s, "seed_cache": seed_s, "check": check_s},
            "loop": "closed, one client",
            "pass_walls_s": pass_walls,
            "samples": {
                "setup_s": 1, "wall_s": len(pass_walls), "rows_per_s": len(pass_walls),
                "op_p50_s": attempted, "op_tail_s": attempted,
            },
            "op_tail_percentile": tail_pct,
            "peak_rss_mb": peak_rss,
            "error_rate": error_rate(attempted, failed),
            "problems": problems[:50],
            "ops": [{k: v for k, v in op.items() if k != "lake"} for op in ops],
            "result": result,
        }
        if layers is not None:
            report["layers"] = layers
            untraced = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base_wall = json.load(f)["result"]["metrics"]["wall_s"]["value"]
                report["trace_overhead_s"] = e2e["wall_s"][0] - base_wall
            else:
                report["trace_overhead_s"] = None
            with open(os.path.join(out_dir, f"{run_id}-spans.jsonl"), "w") as f:
                for s in spans.rows:
                    f.write(json.dumps(s) + "\n")
        with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)

    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(
        f"perfbench: {wl.name} seed={args.seed} samples={report['samples']} "
        f"failed={failed} error_rate={report['error_rate']:.4f} "
        f"op_tail=p{tail_pct:.1f} setup_s={setup_s:.3f} report={os.path.relpath(out_dir, ROOT)}"
    )
    for msg in problems[:10]:
        print(f"perfbench: FAIL {msg}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
