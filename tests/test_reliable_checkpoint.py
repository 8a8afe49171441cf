"""Reliable lineage cuts: operators that materialize through
operators.util.cut must produce ROW-IDENTICAL output when the session
conf spark.ipes.reliableCuts sends every cut through a reliable
checkpoint (spark.sparkContext.setCheckpointDir) instead of
executor-local blocks.

Why this exists: localCheckpoint blocks live on executor local store —
lose one executor on a multi-hour 100 TB job and the lineage is
unrecoverable. The reliable regime is what such a run must use; these
tests pin that flipping the switch changes durability only, never
values (including the spark_partition_id-derived shard assignment
inside grouped_running_sum).
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def ckdir(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    return str(tmp_path / "ck")


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


@contextmanager
def _reliable(spark):
    """Every cut made inside the block is a reliable checkpoint."""
    spark.conf.set("spark.ipes.reliableCuts", "true")
    try:
        yield
    finally:
        spark.conf.unset("spark.ipes.reliableCuts")


def test_grouped_running_sum_reliable_matches_local(spark, ckdir):
    from ipes_data_pipeline_spark.operators.prefix import grouped_running_sum

    df = spark.range(2000).select(
        (F.col("id") % 3).alias("g"),
        F.col("id").alias("o"),
        (F.col("id") % 7).alias("v"),
    )
    local = grouped_running_sum(df, "g", "o", "v", num_shards=8)
    with _reliable(spark):
        reli = grouped_running_sum(df, "g", "o", "v", num_shards=8)
    assert _rows(local, "g", "o") == _rows(reli, "g", "o")


def test_minhash_pairs_reliable_matches_local(spark, ckdir):
    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        minhash_neardup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    local = minhash_neardup_pairs(docs, "doc_id", "text", bucket_cap=50)
    with _reliable(spark):
        reli = minhash_neardup_pairs(docs, "doc_id", "text", bucket_cap=50)
    assert _rows(local, "id_a", "id_b") == _rows(reli, "id_a", "id_b")


def test_pagerank_reliable_matches_local(spark, ckdir):
    from ipes_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 1, 1), (1, 3, 3)], "src long, dst long, w long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "node long")
    local = pagerank(nodes, edges, iterations=3)
    with _reliable(spark):
        reli = pagerank(nodes, edges, iterations=3)
    assert _rows(local, "node") == _rows(reli, "node")


def _ck_files(ckdir):
    import os

    return sum(len(fs) for _, _, fs in os.walk(ckdir))


def test_cut_honors_session_conf(spark, ckdir):
    """spark.ipes.reliableCuts=true promotes a default cut() to a REAL
    checkpoint (files land in the checkpoint dir); off → local blocks
    only."""
    from ipes_data_pipeline_spark.operators.util import cut

    df = spark.range(100)
    before = _ck_files(ckdir)
    cut(df)
    assert _ck_files(ckdir) == before  # default: localCheckpoint, no files
    with _reliable(spark):
        cut(df)
    assert _ck_files(ckdir) > before  # conf promoted the cut


def test_cut_via_parquet_preserves_values_off_heap(spark, ckdir):
    """cut(via_parquet=True): columnar scratch spill — values and schema
    survive the round trip. With a checkpoint dir set the spill root
    resolves to it (the shared-FS rule: executors can reach it on a real
    cluster), and the scratch dir is registered for cleanup."""
    import os

    from ipes_data_pipeline_spark.operators.util import _SPILL_DIRS, cut

    df = spark.range(50).selectExpr(
        "id", "CAST(id AS DOUBLE) / 7 AS x", "CAST(id AS STRING) AS s"
    )
    before_spills = len(_SPILL_DIRS)
    out = cut(df, via_parquet=True)
    # names + types survive; nullability loosens to nullable (parquet
    # round-trip property, documented in the cut docstring)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))
    assert len(_SPILL_DIRS) == before_spills + 1
    # spill root resolved to the session checkpoint dir (rule 2);
    # getCheckpointDir reports a file:-scheme URI in local mode
    assert _SPILL_DIRS[-1].removeprefix("file:").startswith(ckdir)
    assert "ipes_cut_" in _SPILL_DIRS[-1]
    assert os.path.isdir(_SPILL_DIRS[-1].removeprefix("file:"))  # alive until released


def test_cut_via_parquet_spill_dir_conf_and_release(spark, tmp_path):
    """spark.ipes.spillDir wins over the checkpoint dir as the spill
    root, and release_spills() frees every registered scratch dir
    through the owning filesystem."""
    import os

    from ipes_data_pipeline_spark.operators.util import (
        _SPILL_DIRS,
        cut,
        release_spills,
    )

    root = str(tmp_path / "scratch")
    os.makedirs(root)
    spark.conf.set("spark.ipes.spillDir", root)
    try:
        out = cut(spark.range(20), via_parquet=True)
        assert out.count() == 20
        assert _SPILL_DIRS[-1].startswith(root)
        spilled = list(_SPILL_DIRS)
        freed = release_spills(spark)
        assert freed >= 1 and not _SPILL_DIRS
        assert all(not os.path.exists(d) for d in spilled)
    finally:
        spark.conf.unset("spark.ipes.spillDir")


def test_cut_via_parquet_honors_reliable_without_shared_root(spark, tmp_path):
    """reliableCuts + via_parquet with NO shared spill root must not
    write a non-durable local spill: the call degrades to the checkpoint
    regime (files in the checkpoint dir, none in a temp scratch)."""
    from ipes_data_pipeline_spark.operators.util import _SPILL_DIRS, cut

    # fresh checkpoint dir, set AFTER resolution order matters: unset
    # spillDir + a checkpoint dir means root = ckdir, which IS shared;
    # to exercise the local fallback we must clear the checkpoint dir —
    # not possible on a live context — so drive the seam directly:
    # resolution rule 3 applies only when getCheckpointDir() is None.
    if spark.sparkContext.getCheckpointDir() is None:
        before = len(_SPILL_DIRS)
        with _reliable(spark), pytest.raises(Exception):
            # no checkpoint dir set either -> checkpoint(eager) raises
            # its own clear error instead of spilling non-durably
            cut(spark.range(5), via_parquet=True)
        assert len(_SPILL_DIRS) == before
    else:
        ck = spark.sparkContext.getCheckpointDir()
        with _reliable(spark):
            out = cut(spark.range(5), via_parquet=True)
        assert out.count() == 5
        assert _SPILL_DIRS[-1].removeprefix("file:").startswith(
            ck.removeprefix("file:")
        )


def test_session_conf_runs_queries_reliably_with_identical_values(spark, ckdir):
    """The 100 TB story: ONE cluster-side conf flips every cut site in
    an operator chain assembled from library defaults — no call-site
    threading. q131 (prefix-sum shards) and q140 (pagerank rounds) run
    UNMODIFIED under the conf, write real checkpoint files, and produce
    row-identical values. q39 (fuzzy dedup) cuts nothing — its
    components resolve inside each block — and rides along as the
    control whose values the conf must not touch either."""
    from ipes_data_pipeline_spark.queries import REGISTRY, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    names = [
        "q131_source_token_budget",
        "q39_fuzzy_dedup",
        "q140_pagerank",
    ]
    baseline = {}
    for n in names:
        df = REGISTRY[n].spark(spark, sf)
        baseline[n] = [tuple(r) for r in df.orderBy(*df.columns).collect()]
    before = _ck_files(ckdir)
    with _reliable(spark):
        for n in names:
            df = REGISTRY[n].spark(spark, sf)
            rows = [tuple(r) for r in df.orderBy(*df.columns).collect()]
            assert rows == baseline[n], n
    assert _ck_files(ckdir) > before  # the cuts really checkpointed
