"""Time the headline queries' oracle SQL in DuckDB (32 threads) at sf0.1.

The honest single-node comparison for BASELINE.md: identical algorithms,
identical parquet inputs, DuckDB's vectorized engine vs our Spark plans.
Queries without oracle SQL (streaming, learned-centroid ANN) are skipped.

Usage: python scripts/bench_duckdb.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bench import HEADLINE
from ipes_data_pipeline_spark.queries import REGISTRY, TABLES, load_all
from ipes_data_pipeline_spark.session import cpu_count


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    load_all()
    con = duckdb.connect()
    con.execute(f"SET threads={cpu_count()}")
    for name in TABLES:
        # partial fixtures (e.g. the embeddings-only sf100 dir) register
        # only the tables present; queries touching absent ones error out
        # per-query below instead of killing the whole run
        if os.path.exists(f"{sf_dir}/{name}.parquet"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
            )
    subset_env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    headline = (
        [q for q in subset_env.split(",") if q] if subset_env else HEADLINE
    )
    # Per-query cap (seconds): a watchdog thread interrupts the
    # connection so ONE quadratic oracle (q39's levenshtein self-join
    # at sf1) can't eat the whole-run timeout and lose every timing.
    cap = float(os.environ.get("SPARK_GRAFT_DUCK_QUERY_CAP", "0") or 0)
    partial = os.environ.get("SPARK_GRAFT_DUCK_PARTIAL", "")
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    def _flush() -> None:
        payload = {
            "metric": "duckdb_headline_total_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
        }
        if errors:
            payload["errors"] = errors
        if partial:
            with open(partial, "w") as f:
                json.dump(payload, f)
        return payload

    import threading

    for name in headline:
        sql = REGISTRY[name].oracle
        if sql is None:
            continue
        timer = None
        if cap:
            timer = threading.Timer(cap, con.interrupt)
            timer.start()
        t0 = time.perf_counter()
        try:
            con.execute(sql).fetchall()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001 — record, keep benching
            errors[name] = f"{type(e).__name__}: {e}"[:200]
        finally:
            if timer:
                timer.cancel()
        _flush()
    print(json.dumps(_flush()))


if __name__ == "__main__":
    main()
