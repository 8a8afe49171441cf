"""dedupe_fuzzy resolves exact components inside each block.

Components are solved per ``(blk, sub)`` group, so there is no round
bound to outrun and no fixpoint to probe: a long chain, a null name and
string ids all have one right answer, the component minimum in Spark's
own ``min`` order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.dedup_fuzzy import dedupe_fuzzy


def _labels(df, **kw):
    return {
        r["id"]: r["canonical_id"]
        for r in dedupe_fuzzy(df, "id", "name", **kw).collect()
    }


def test_chain_longer_than_any_round_bound_maps_to_min(spark):
    # name k = "acme " + b^k a^(9-k): names j, k are exactly |j-k| edits
    # apart, so max_edits=1 links only neighbours — a path of diameter 9,
    # past the old default bound of 8 rounds. The minimum id sits at the
    # far end, so its label must cross every hop.
    chain = [(10 - k, "acme " + "b" * k + "a" * (9 - k)) for k in range(10)]
    rows = chain + [(50, "zorp inc")]
    df = spark.createDataFrame(rows, "id int, name string")
    got = _labels(df, max_edits=1)
    assert got == {**{i: 1 for i in range(1, 11)}, 50: 50}


def test_null_name_stays_singleton(spark):
    rows = [(1, "acme corp"), (2, "acme corpx"), (3, None), (4, None)]
    df = spark.createDataFrame(rows, "id int, name string")
    want = {1: 1, 2: 1, 3: 3, 4: 4}
    # default block: a null name has a null block, shared by both nulls
    assert _labels(df) == want
    # one shared block: the null name joins no levenshtein edge
    assert _labels(df, block_expr=F.lit("all")) == want


def test_string_ids_take_spark_min_order(spark):
    # byte order puts "Zulu" < "alpha" < "éclair"; a case-folding or
    # locale collation would pick "alpha"
    rows = [
        ("éclair", "café münchen"),
        ("alpha", "cafe münchen"),
        ("Zulu", "café müncheñ"),
        ("omega", "other name"),
    ]
    df = spark.createDataFrame(rows, "id string, name string")
    got = _labels(df, block_expr=F.lit(0))
    spark_min = df.where(F.col("id") != "omega").agg(F.min("id")).first()[0]
    assert spark_min == "Zulu"
    assert got == {
        "éclair": "Zulu", "alpha": "Zulu", "Zulu": "Zulu", "omega": "omega"
    }


def test_block_components_match_bfs_reference():
    """The per-block numpy resolver against a plain BFS on random
    graphs: sparse ones (long paths, many singletons) and dense ones."""
    import random

    import pyarrow as pa

    from ipes_data_pipeline_spark.operators.dedup_fuzzy import _block_components

    rng = random.Random(7)
    for _ in range(50):
        ids = rng.sample(range(1000), rng.randint(1, 60))
        p = rng.choice([0.01, 0.05, 0.3])
        half = [(a, b) for a in ids for b in ids if a < b and rng.random() < p]
        adj = {i: set() for i in ids}
        for a, b in half:
            adj[a].add(b)
            adj[b].add(a)
        want = {}
        for i in ids:
            if i in want:
                continue
            comp, todo = {i}, [i]
            while todo:
                for j in adj[todo.pop()] - comp:
                    comp.add(j)
                    todo.append(j)
            want.update({j: min(comp) for j in comp})
        edges = half + [(i, i) for i in ids]
        rng.shuffle(edges)
        out = _block_components(
            pa.table({"src": [a for a, _ in edges], "dst": [b for _, b in edges]})
        )
        got = dict(zip(out["node"].to_pylist(), out["canonical_id"].to_pylist()))
        assert got == want
