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
    # a NULL block joins nothing, even between near-duplicate names
    null_blk = F.lit(None).cast("string")
    assert _labels(df, block_expr=null_blk) == {i: i for i in range(1, 5)}
    # rows of a NULL block survive the block_cap valve as singletons
    # (util.sub_salt attaches block sizes with a left join)
    some_blk = F.when(F.col("id") <= 2, "a")
    for cap in (None, 8):
        assert _labels(df, block_expr=some_blk, block_cap=cap) == want


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

    import numpy as np

    from ipes_data_pipeline_spark.operators.dedup_fuzzy import _min_labels

    rng = random.Random(7)
    for _ in range(50):
        n = rng.randint(1, 60)
        p = rng.choice([0.01, 0.05, 0.3])
        half = [(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < p]
        adj = {i: set() for i in range(n)}
        for a, b in half:
            adj[a].add(b)
            adj[b].add(a)
        want = {}
        for i in range(n):
            if i in want:
                continue
            comp, todo = {i}, [i]
            while todo:
                for j in adj[todo.pop()] - comp:
                    comp.add(j)
                    todo.append(j)
            want.update({j: min(comp) for j in comp})
        rng.shuffle(half)
        s, d = np.array(half, np.int64).reshape(-1, 2).T
        assert dict(enumerate(_min_labels(n, s, d).tolist())) == want


#: BMP letters of 1-3 UTF-8 bytes and astral (4-byte, surrogate-pair in
#: UTF-16) characters: distances must count code points
ALPHABET = "abzé߀漢字😀𝔘"


def test_banded_kernel_matches_spark_levenshtein(spark, monkeypatch):
    """``min(levenshtein, k + 1)`` of the banded kernel equals Spark's
    ``levenshtein`` on random Unicode pairs: lengths 0, 1, 63-65 and
    past 128, length gaps of 0, k and k + 1, ``max_edits`` 0-3. Pairs
    also go through ``_close_pairs``, and a whole list of names through
    it in chunks of a few pairs, against Spark's pair set."""
    import random

    import numpy as np

    from ipes_data_pipeline_spark.operators import dedup_fuzzy as fz

    rng = random.Random(11)

    def word(n):
        return "".join(rng.choice(ALPHABET) for _ in range(n))

    def edit(s, inserts, subs):
        s = list(s)
        for _ in range(inserts):
            s.insert(rng.randint(0, len(s)), rng.choice(ALPHABET))
        for _ in range(subs if s else 0):
            s[rng.randrange(len(s))] = rng.choice(ALPHABET)
        return "".join(s)

    cases = []
    for k in range(4):
        for n in (0, 1, 63, 64, 65, 130):
            for gap in (0, k, k + 1):
                a = word(n)
                for subs in (0, k, k + 1):
                    b = edit(a, gap, subs)
                    cases += [(k, a, b), (k, b, a)]
                cases.append((k, a, word(n + gap)))
    rows = (
        spark.createDataFrame(cases, "k int, a string, b string")
        .select("k", "a", "b", F.levenshtein("a", "b").alias("d"))
        .collect()
    )
    for k in range(4):
        of_k = [r for r in rows if r.k == k]
        for r in of_k:
            s, _ = fz._close_pairs([r.a, r.b], k)
            assert len(s) == (r.d <= k), (r.a, r.b, k, r.d)
        near = [r for r in of_k if abs(len(r.a) - len(r.b)) <= k]
        codes, lens = fz._code_points([r.a for r in near] + [r.b for r in near], k)
        a, b = np.split(np.arange(2 * len(near)), 2)
        dist = fz._banded_edit_distance(codes[:, a], lens[a], codes[:, b], lens[b], k)
        assert dist.tolist() == [min(r.d, k + 1) for r in near]

    names = sorted({c for k, a, b in cases if k == 2 and len(a) < 70 for c in (a, b)})
    df = spark.createDataFrame([(i, n) for i, n in enumerate(names)], "i int, s string")
    k = 2
    want = {
        (r.i, r.j)
        for r in df.alias("x")
        .join(df.alias("y"), F.col("x.i") < F.col("y.i"))
        .where(F.levenshtein("x.s", "y.s") <= k)
        .select(F.col("x.i").alias("i"), F.col("y.i").alias("j"))
        .collect()
    }
    assert want
    monkeypatch.setattr(fz, "_CHUNK_CELLS", 700)  # ~8 pairs per chunk
    assert set(zip(*map(np.ndarray.tolist, fz._close_pairs(names, k)))) == want
