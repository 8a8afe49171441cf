"""Enrichment operator under overlapped backend calls: values, per-name
failure isolation, the token bucket's rate and the in-flight overlap."""

from __future__ import annotations

import sys
import time

import numpy as np
import pandas as pd

from ipes_data_pipeline_spark.operators.enrich import (
    ENRICH_COLS,
    MAX_IN_FLIGHT,
    DeterministicMockBackend,
    enrich_misses,
    enrich_partition,
)

MISS_DDL = "normalized_name string, dockets array<string>"


def _misses(spark, rows):
    return spark.createDataFrame(rows, MISS_DDL)


def test_rows_equal_direct_backend_calls(spark):
    rows = [
        ("null dockets co", None),
        ("empty dockets co", []),
        ("one docket co", ["WC 06-122"]),
        ("two dockets co", ["WC 06-122", "CC 01-92"]),
        ("three dockets co", ["a", "b", "c"]),
    ]
    got = {
        r["normalized_name"]: r.asDict()
        for r in enrich_misses(_misses(spark, rows), n_partitions=1).collect()
    }
    mock = DeterministicMockBackend()
    assert got == {
        name: {"normalized_name": name, **mock(name, list(d or []))}
        for name, d in rows
    }


def test_failing_call_nulls_only_its_row(spark):
    def flaky(name, dockets):
        if name == "bad co":
            raise RuntimeError("backend down for this name")
        return DeterministicMockBackend()(name, dockets)

    rows = [(f"co {i}", [f"d{i}"]) for i in range(20)] + [("bad co", ["x", "y"])]
    got = {
        r["normalized_name"]: r
        for r in enrich_misses(_misses(spark, rows), flaky, n_partitions=1).collect()
    }
    assert len(got) == 21
    assert all(got["bad co"][c] is None for c in ENRICH_COLS)
    assert all(
        got[name][c] is not None for name, _ in rows if name != "bad co" for c in ENRICH_COLS
    )


def test_token_bucket_bounds_the_rate(spark):
    n, rate = 11, 5.0
    rows = [(f"co {i}", None) for i in range(n)]
    t0 = time.monotonic()
    out = enrich_misses(
        _misses(spark, rows), calls_per_second=rate, n_partitions=1
    ).collect()
    assert len(out) == n
    assert time.monotonic() - t0 >= (n - 1) / rate


def test_calls_overlap_inside_the_worker(spark):
    class InFlightCounter:
        """Reports, per call, how many calls were in flight at its start."""

        def __init__(self):
            self.active = []

        def __call__(self, name, dockets):
            self.active.append(name)
            seen = len(self.active)
            time.sleep(0.05)
            self.active.remove(name)
            return {"activity_signal": str(seen)}

    rows = [(f"co {i}", None) for i in range(40)]
    out = enrich_misses(_misses(spark, rows), InFlightCounter(), n_partitions=1).collect()
    peak = max(int(r["activity_signal"]) for r in out)
    assert 1 < peak <= MAX_IN_FLIGHT


def test_partition_rows_keep_input_order():
    # within each group of 7 the later names answer first, and threads
    # switch often: every row must still carry its own answer (dockets
    # included), in input order
    def answer(name, dockets):
        time.sleep(0.001 * (7 - int(name) % 7))
        return {"product_summary": f"{name}|{','.join(dockets)}"}

    names = [str(i) for i in range(200)]
    dockets = [None, [], np.array(["a"]), np.array(["a", "b"])]
    pdf = pd.DataFrame(
        {"normalized_name": names, "dockets": [dockets[i % 4] for i in range(200)]}
    )
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = pd.concat(enrich_partition(iter([pdf[:120], pdf[120:]]), answer))
    finally:
        sys.setswitchinterval(interval)
    assert list(out["normalized_name"]) == names
    joined = ["", "", "a", "a,b"]
    assert list(out["product_summary"]) == [f"{i}|{joined[i % 4]}" for i in range(200)]
