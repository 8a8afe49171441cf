"""The ``spark.ipes.*`` conf table: every adaptive regime returns the
rows of its default twin, and every malformed value fails loudly at the
site that reads it. Also the one reader of ``$SPARK_GRAFT_CPUS``."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

#: (byte threshold, queries whose regime it picks). Forcing the
#: threshold to 0 selects the large-input regime at fixture scale.
REGIME_MATRIX = [
    ("spark.ipes.pqDriverTrainMaxBytes", q)
    for q in (
        "q72_ann_ivf_kmeans",
        "q130a_semdedup_autocells",
        "q159_pq_ann",
        "q160_ivfpq_ann",
        "q161_ivfpq_residual_ann",
    )
] + [
    # the shingle table of minhash_neardup_pairs is this threshold's one user
    ("spark.ipes.spillMinInputBytes", "q42p_dedup_minhash_deployed"),
] + [
    ("spark.ipes.edgeSpillMinInputBytes", q)
    for q in ("q92_neardup_resolution", "q125_clusterwise_split")
]


@pytest.mark.parametrize("key,name", REGIME_MATRIX)
def test_forced_regime_returns_default_rows(spark, monkeypatch, key, name):
    """The large-input regime (threshold 0) returns exactly the rows of
    the default small-input regime, and the switch really happened: the
    PQ/Lloyd trainers stop collecting their training matrix to the
    driver, and the spill thresholds write parquet scratch dirs."""
    from ipes_data_pipeline_spark.operators import similarity, util
    from ipes_data_pipeline_spark.queries import REGISTRY, load_all

    load_all()
    collects = []
    collect_matrix = similarity._collect_matrix

    def spy(emb):
        collects.append(1)
        return collect_matrix(emb)

    monkeypatch.setattr(similarity, "_collect_matrix", spy)

    def run():
        rows = sorted(map(tuple, REGISTRY[name].spark(spark, SF).collect()))
        return rows, len(collects), len(util._SPILL_DIRS)

    spills = len(util._SPILL_DIRS)
    default, d_collects, d_spills = run()
    spark.conf.set(key, "0")
    try:
        forced, f_collects, f_spills = run()
    finally:
        spark.conf.unset(key)
    assert forced == default
    if key == "spark.ipes.pqDriverTrainMaxBytes":
        assert d_collects > 0 and f_collects == d_collects
    else:
        assert d_spills == spills and f_spills > d_spills


#: (table name, malformed value). "abc" for every entry, a negative
#: count for the byte thresholds, 0 for the positive count, and the
#: truthy spellings Spark's own boolean confs reject.
MALFORMED = [
    ("reliableCuts", "abc"),
    ("reliableCuts", "1"),
    ("reliableCuts", "yes"),
    ("spillDir", "abc"),
    ("spillMinInputBytes", "abc"),
    ("spillMinInputBytes", "-1"),
    ("edgeSpillMinInputBytes", "abc"),
    ("edgeSpillMinInputBytes", "-1"),
    ("pqDriverTrainMaxBytes", "abc"),
    ("pqDriverTrainMaxBytes", "-1"),
    ("initialPartitionsPerBytes", "abc"),
    ("initialPartitionsPerBytes", "0"),
]


def test_malformed_cases_cover_every_entry():
    from ipes_data_pipeline_spark import conf

    assert {n for n, _ in MALFORMED} == set(conf.TABLE)


def _read_sites(spark, name):
    """The package calls that read ``name``."""
    from ipes_data_pipeline_spark.operators.similarity import (
        _lloyd_train,
        ivfpq_topk,
    )
    from ipes_data_pipeline_spark.operators.util import (
        cut,
        pin_pairs,
        spill_worthwhile,
    )
    from ipes_data_pipeline_spark.session import tune

    df = spark.range(3)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, v array<double>"
    )
    return {
        "reliableCuts": [lambda: cut(df)],
        "spillDir": [lambda: cut(df, via_parquet=True)],
        "spillMinInputBytes": [lambda: spill_worthwhile(df)],
        "edgeSpillMinInputBytes": [lambda: pin_pairs(df, df)],
        "pqDriverTrainMaxBytes": [
            lambda: _lloyd_train(emb, 1, n_cells=1),
            lambda: ivfpq_topk(
                emb, "id", "v", emb.limit(1), n_cells=None, m=1, ksub=1,
                n_iter=1,
            ),
        ],
        "initialPartitionsPerBytes": [lambda: tune(spark)],
    }[name]


@pytest.mark.parametrize("name,value", MALFORMED)
def test_malformed_value_raises_at_read_site(spark, name, value):
    key = f"spark.ipes.{name}"
    sites = _read_sites(spark, name)
    spark.conf.set(key, value)
    try:
        for site in sites:
            with pytest.raises(ValueError) as err:
                site()
            assert key in str(err.value)
            assert repr(value) in str(err.value)
    finally:
        spark.conf.unset(key)


def test_cpu_count_unset_set_and_malformed(monkeypatch):
    import os

    from ipes_data_pipeline_spark.session import cpu_count

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert cpu_count() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert cpu_count() == 4
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "abc")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS.*'abc'"):
        cpu_count()
