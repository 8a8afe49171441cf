"""Declared testdata table schemas.

``t()`` and the events file stream read with the schemas declared in
``schemas.TABLE_SCHEMAS`` instead of inferring them, so these tests hold
each declaration equal to what Spark infers from the files, and check
that both physical encodings of ``events.ts`` load to the same values.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ipes_data_pipeline_spark.queries import TABLES, events_schema, t
from ipes_data_pipeline_spark.queries.tpch_shapes import (
    _events_stream,
    _run_available_now,
)
from ipes_data_pipeline_spark.schemas import TABLE_SCHEMAS
from ipes_data_pipeline_spark.session import tune
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("name", TABLES)
def test_declared_schema_equals_inferred(spark, name):
    tune(spark)
    inferred = spark.read.parquet(f"{SF_SMOKE}/{name}.parquet").schema
    declared = (
        events_schema(spark, SF_SMOKE) if name == "events" else TABLE_SCHEMAS[name]
    )
    # names, types, order and nullability
    assert declared == inferred, (declared.simpleString(), inferred.simpleString())


def test_declared_events_ts_is_micros_ntz():
    # the comparison above swaps in the footer's ts encoding for events
    assert TABLE_SCHEMAS["events"]["ts"].dataType.typeName() == "timestamp_ntz"


def test_table_loads_launch_no_job(spark):
    tune(spark)
    sc = spark.sparkContext
    sc.setJobGroup("t_loads", "declared-schema loads")
    try:
        frames = [t(spark, SF_SMOKE, name) for name in TABLES]
        sc.setJobGroup("t_control", "inferring read")
        spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    tracker = sc.statusTracker()
    # the listener bus is FIFO: once the control's inference job is
    # visible, any job the loads had launched would be visible too
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("t_control") and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("t_control")
    assert list(tracker.getJobIdsForGroup("t_loads")) == []
    assert [f.columns for f in frames] == [
        TABLE_SCHEMAS[n].fieldNames() for n in TABLES
    ]


_EVENT_ROWS = 40


def _write_events(d, unit: str) -> None:
    """One events table, ``ts`` stored as TIMESTAMP(``unit``) without
    UTC adjustment, from the same micro-aligned instants."""
    rng = np.random.default_rng(11)
    us = np.sort(
        rng.integers(1_577_836_800_000_000, 1_609_459_200_000_000, _EVENT_ROWS)
    )
    ts = us.astype("datetime64[us]").astype(f"datetime64[{unit}]")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(_EVENT_ROWS), pa.int64()),
                "ts": pa.array(ts, pa.timestamp(unit)),
                "user_id": pa.array(rng.integers(0, 5, _EVENT_ROWS), pa.int64()),
                "event_type": pa.array(["click", "view"] * (_EVENT_ROWS // 2)),
                "value": pa.array(rng.random(_EVENT_ROWS), pa.float64()),
                "props": pa.array(["{}"] * _EVENT_ROWS),
            }
        ),
        d / "events.parquet",
    )


def test_events_ts_encodings_load_identically(spark, tmp_path):
    tune(spark)
    loaded = {}
    for unit in ("us", "ns"):
        d = tmp_path / unit
        d.mkdir()
        _write_events(d, unit)
        assert str(pq.read_schema(d / "events.parquet").field("ts").type) == (
            f"timestamp[{unit}]"
        )
        batch = t(spark, str(d), "events")
        assert dict(batch.dtypes)["ts"] == "timestamp"
        stream = _run_available_now(_events_stream(spark, str(d)), mode="append")
        assert stream.columns == batch.columns
        loaded[unit] = (
            sorted(tuple(r) for r in batch.collect()),
            sorted(tuple(r) for r in stream.collect()),
        )
    assert len(loaded["us"][0]) == _EVENT_ROWS
    assert loaded["us"][0] == loaded["us"][1] == loaded["ns"][0] == loaded["ns"][1]
