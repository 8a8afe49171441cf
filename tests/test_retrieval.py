"""Retrieval-stack operator units: SQ8 quantized ANN, RRF fusion, MMR
diversity re-rank (queries q162–q164 own the cross-engine value checks;
these pin the operator contracts and the paths the synthetic corpus
never exercises — overlapping rank lists, forced-diversity picks,
degenerate corpora)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.similarity import mmr_rerank, sq8_topk
from ipes_data_pipeline_spark.operators.topk import rrf_fuse


def _vec_df(spark, rows, name="emb"):
    return spark.createDataFrame(rows, "id bigint, v array<double>")


# ------------------------------------------------------------------ SQ8


def test_sq8_query_is_own_nearest(spark):
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [1.1, 2.1, 3.1, 4.1]),
        (2, [9.0, -3.0, 0.5, 2.0]),
        (3, [-5.0, 7.0, 1.0, 0.0]),
    ]
    df = _vec_df(spark, rows)
    out = sq8_topk(df, "id", "v", df.filter(F.col("id") == 0), k=4).collect()
    # full deterministic ordering for this fixture: the query, its near
    # twin, then by true (and quantized) distance 3 (~81) before 2 (~99)
    assert [r["id"] for r in out] == [0, 1, 3, 2]
    # quantization error on the query itself is bounded by the grid step
    assert out[0]["adc_d2"] < out[1]["adc_d2"]


def test_sq8_constant_dimension_codes_zero(spark):
    # a dimension with mx == mn must not divide by zero: code 0, recon=mn
    rows = [(0, [1.0, 5.0]), (1, [2.0, 5.0]), (2, [3.0, 5.0])]
    df = _vec_df(spark, rows)
    out = sq8_topk(df, "id", "v", df.filter(F.col("id") == 1), k=3).collect()
    assert out[0]["id"] == 1  # constant dim contributes exactly 0 error
    assert out[0]["adc_d2"] == pytest.approx(0.0, abs=1e-4)


def test_sq8_empty_corpus_and_query_contract(spark):
    empty = _vec_df(spark, []).where(F.lit(False))
    one = _vec_df(spark, [(0, [1.0, 2.0])])
    assert sq8_topk(empty, "id", "v", one, k=3).count() == 0
    with pytest.raises(ValueError, match="one query row"):
        sq8_topk(one, "id", "v", one.unionAll(one), k=3).collect()


def test_sq8_null_vector_rows_dropped(spark):
    rows = [(0, [1.0, 2.0]), (1, None), (2, [1.5, 2.5])]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    out = sq8_topk(df, "id", "v", df.filter(F.col("id") == 0), k=5).collect()
    assert sorted(r["id"] for r in out) == [0, 2]


def test_sq8_scan_plan_shape(spark):
    # bounds are collected before the scan, so the final action is one
    # corpus pass: ONE Python map node (the Arrow ADC kernel with its
    # per-task top-k), TakeOrderedAndProject over the k-per-task digest,
    # no join of any kind, and nothing re-aggregates min/max
    rows = [(i, [float(i), float(i * 2)]) for i in range(20)]
    df = _vec_df(spark, rows)
    plan = sq8_topk(
        df, "id", "v", df.filter(F.col("id") == 0), k=3
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "partial_min" not in plan
    assert "partial_max" not in plan


# ------------------------------------------------------------------ RRF


def test_rrf_overlapping_lists_sum_both_contributions(spark):
    lex = spark.createDataFrame([(10, 1), (20, 2)], "id bigint, rank int")
    sem = spark.createDataFrame([(10, 2), (30, 1)], "id bigint, rank int")
    out = {r["id"]: r for r in rrf_fuse({"lex": lex, "sem": sem}).collect()}
    assert out[10]["lex_rank"] == 1 and out[10]["sem_rank"] == 2
    assert out[10]["rrf_score"] == pytest.approx(
        round(1.0 / 61 + 1.0 / 62, 6), abs=1e-9
    )
    # absent from one list contributes exactly 0 from that list
    assert out[20]["sem_rank"] is None
    assert out[20]["rrf_score"] == pytest.approx(round(1.0 / 62, 6), abs=1e-9)
    # the doubly-ranked doc outranks every singleton here
    ordered = [r["id"] for r in rrf_fuse({"lex": lex, "sem": sem}).collect()]
    assert ordered[0] == 10


def test_rrf_requires_input(spark):
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse({})


# ------------------------------------------------------------------ MMR


def test_mmr_skips_near_duplicate_of_first_pick(spark):
    # id 1 and 2 are near-identical and most relevant; pure relevance
    # would pick both first — MMR must interleave the diverse id 3.
    q = _vec_df(spark, [(99, [1.0, 0.0, 0.0])])
    corpus = _vec_df(
        spark,
        [
            (1, [0.99, 0.1, 0.0]),
            (2, [0.98, 0.11, 0.0]),
            (3, [0.5, -0.8, 0.1]),
            (4, [0.4, 0.9, 0.0]),
        ],
    )
    out = mmr_rerank(corpus, "id", "v", q, n_candidates=4, k=3, lam=0.5)
    picks = [r["id"] for r in out.collect()]
    assert picks[0] == 1  # highest relevance seeds
    assert picks[1] != 2  # its near-twin is deferred by the sim penalty
    assert len(picks) == len(set(picks)) == 3


def test_mmr_k_capped_by_candidates_and_single_candidate(spark):
    q = _vec_df(spark, [(99, [1.0, 0.0])])
    corpus = _vec_df(spark, [(1, [0.9, 0.1])])
    out = mmr_rerank(corpus, "id", "v", q, n_candidates=4, k=5).collect()
    assert [(r["step"], r["id"]) for r in out] == [(1, 1)]


def test_mmr_steps_are_sequential_and_scores_monotone_start(spark):
    q = _vec_df(spark, [(99, [1.0, 0.0, 0.0])])
    corpus = _vec_df(
        spark,
        [(i, [1.0 - 0.1 * i, 0.1 * i, 0.05 * i]) for i in range(1, 6)],
    )
    out = mmr_rerank(corpus, "id", "v", q, n_candidates=5, k=4).collect()
    assert [r["step"] for r in out] == [1, 2, 3, 4]
    # step 1 is pure relevance — no later MMR score can beat it (lam<=1)
    assert all(out[0]["mmr_score"] >= r["mmr_score"] for r in out[1:])


def test_mmr_null_query_vector_or_element_raises_named_error(spark):
    corpus = _vec_df(spark, [(1, [0.9, 0.1]), (2, [0.1, 0.9])])
    for qv in (None, [1.0, None]):
        q = _vec_df(spark, [(99, qv)])
        with pytest.raises(ValueError, match="mmr_rerank.*null"):
            mmr_rerank(corpus, "id", "v", q, n_candidates=2, k=1)


# ------------------------------------------------------------ batch ANN


def test_ann_topk_batch_orders_per_query(spark):
    from ipes_data_pipeline_spark.operators.similarity import ann_topk_batch

    corpus = _vec_df(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [0.1, 0.9]),
        ],
    )
    queries = _vec_df(spark, [(1, [1.0, 0.0]), (3, [0.0, 1.0])])
    out = ann_topk_batch(corpus, "id", "v", queries, "id", k=2).collect()
    got = [(r["qid"], r["rank"], r["id"]) for r in out]
    # self-pairs excluded; nearest remaining neighbor first
    assert got == [(1, 1, 2), (1, 2, 4), (3, 1, 4), (3, 2, 2)]
    sims = {(r["qid"], r["id"]): r["cos_sim"] for r in out}
    assert sims[(1, 2)] > sims[(1, 4)]


def test_ann_topk_batch_drops_zero_norm_and_null(spark):
    from ipes_data_pipeline_spark.operators.similarity import ann_topk_batch

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 0.0]),  # zero-norm corpus row: never a neighbor
            (3, None),  # NULL vector: never a neighbor
            (4, [0.5, 0.5]),
        ],
        "id bigint, v array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0]), (9, [0.0, 0.0])],  # zero-norm query: dropped
        "id bigint, v array<double>",
    )
    out = ann_topk_batch(corpus, "id", "v", queries, "id", k=5).collect()
    assert {r["qid"] for r in out} == {1}
    assert [r["id"] for r in out] == [4]  # 2 and 3 filtered, self dropped


def test_ann_topk_batch_query_byte_cap(spark):
    from ipes_data_pipeline_spark.operators.similarity import ann_topk_batch

    df = _vec_df(spark, [(i, [float(i), 1.0]) for i in range(8)])
    with pytest.raises(ValueError, match="max_query_bytes"):
        ann_topk_batch(df, "id", "v", df, "id", k=2, max_query_bytes=64)


def test_ann_topk_batch_empty_returns_match_normal_column_order(spark):
    # both empty paths (no queries at all / all queries zero-norm) must
    # return the SAME column order as the normal path — (qid, id, rank,
    # cos_sim) — so positional unions with a non-empty shape are safe
    from ipes_data_pipeline_spark.operators.similarity import ann_topk_batch

    corpus = _vec_df(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    normal = ann_topk_batch(
        corpus, "id", "v", _vec_df(spark, [(9, [1.0, 1.0])]), "id", k=1
    )
    no_queries = ann_topk_batch(
        corpus, "id", "v", _vec_df(spark, []), "id", k=1
    )
    zero_norm = ann_topk_batch(
        corpus, "id", "v", _vec_df(spark, [(9, [0.0, 0.0])]), "id", k=1
    )
    assert no_queries.columns == normal.columns
    assert zero_norm.columns == normal.columns
    assert no_queries.count() == 0 and zero_norm.count() == 0
    # positional union with the non-empty shape does not swap columns
    u = normal.union(no_queries).collect()
    assert [(r["qid"], r["rank"]) for r in u] == [(9, 1)]


def test_ann_topk_batch_compaction_is_lossless(spark):
    # force many Arrow batches per task so the per-task accumulator's
    # periodic merge-and-truncate (the O(Q x k) memory bound) actually
    # fires, and pin that it changes nothing vs default batching
    import numpy as np

    from ipes_data_pipeline_spark.operators.similarity import ann_topk_batch

    rng = np.random.default_rng(42)
    corpus = _vec_df(
        spark, [(i, rng.standard_normal(4).tolist()) for i in range(600)]
    )
    queries = _vec_df(spark, [(1000, rng.standard_normal(4).tolist())])
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    want = [
        (r["qid"], r["rank"], r["id"], r["cos_sim"])
        for r in ann_topk_batch(corpus, "id", "v", queries, "id", k=3).collect()
    ]
    try:
        spark.conf.set(key, "2")  # ~10 batches/task at 600 rows / 32 tasks
        got = [
            (r["qid"], r["rank"], r["id"], r["cos_sim"])
            for r in ann_topk_batch(
                corpus, "id", "v", queries, "id", k=3
            ).collect()
        ]
    finally:
        spark.conf.set(key, old)
    assert got == want and len(got) == 3


def test_sq8_matches_oracle_on_random_corpus(spark):
    # the kernel's micro-unit distances are bit-identical to q162's SQL
    # oracle run in DuckDB over the same corpus: same top-k ids, same
    # doubles. Two constant dimensions (code 0) and a copy of the query
    # (a distance tie at the top, broken by id) ride along.
    import duckdb
    import numpy as np
    import pyarrow as pa

    from ipes_data_pipeline_spark.queries.retrieval import _q162_oracle

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((200, 8))
    mat[:, 2] = 0.25
    mat[:, 5] = -3.0
    mat[17] = mat[0]
    ids = list(range(200))
    df = _vec_df(spark, list(zip(ids, mat.tolist())))
    got = [
        (r["id"], r["adc_d2"])
        for r in sq8_topk(df, "id", "v", df.filter(F.col("id") == 0), k=10)
        .collect()
    ]
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(mat.tolist(), pa.list_(pa.float64())),
        }
    )
    with duckdb.connect() as con:
        con.register("embeddings", table)
        want = con.execute(_q162_oracle(dim=8, k=10, qid=0)).fetchall()
    assert got == [(int(i), float(d)) for i, d in want]
    assert [i for i, _ in got[:2]] == [0, 17] and len(got) == 10


def test_sq8_compaction_is_lossless(spark):
    # force many Arrow batches per task so the running per-task top-k
    # truncation fires; results must match default batching exactly
    import numpy as np

    rng = np.random.default_rng(11)
    df = _vec_df(
        spark, [(i, rng.standard_normal(4).tolist()) for i in range(600)]
    )
    q = df.filter(F.col("id") == 0)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    want = [(r["id"], r["adc_d2"]) for r in sq8_topk(df, "id", "v", q, k=5).collect()]
    try:
        spark.conf.set(key, "2")
        got = [(r["id"], r["adc_d2"]) for r in sq8_topk(df, "id", "v", q, k=5).collect()]
    finally:
        spark.conf.set(key, old)
    assert got == want and len(got) == 5


def test_sq8_contract_paths(spark):
    # q162's contract: null-element rows are out of the scan (but not
    # the bounds); a wrong-dim corpus fails loudly; multi-row query
    # rejected; ids must be integral (they travel as int64)
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [1.1, 2.1, 3.1, 4.1]),
        (2, [9.0, None, 0.5, 2.0]),  # null element: excluded from scan
        (3, None),  # null vector: dropped everywhere
    ]
    df = _vec_df(spark, rows)
    out = sq8_topk(df, "id", "v", df.filter(F.col("id") == 0), k=4).collect()
    assert [r["id"] for r in out] == [0, 1]
    with pytest.raises(ValueError, match="exactly one query row"):
        sq8_topk(df, "id", "v", df.filter(F.col("id") < 2), k=2)
    bad_dim = _vec_df(spark, [(9, [1.0, 2.0])])
    with pytest.raises(ValueError, match="query dim"):
        sq8_topk(df, "id", "v", bad_dim, k=2)
    str_ids = df.select(F.col("id").cast("string").alias("id"), "v")
    with pytest.raises(ValueError, match="integral id"):
        sq8_topk(str_ids, "id", "v", str_ids.limit(1), k=2)


def test_ann_topk_batch_agrees_with_knn_graph(spark):
    # the flipped regime must produce exactly the broadcast-corpus
    # regime's neighbors when both fit: same ids, same ranks
    import numpy as np

    from ipes_data_pipeline_spark.operators.similarity import (
        ann_topk_batch,
        knn_graph,
    )

    rng = np.random.default_rng(8)
    corpus = _vec_df(
        spark, [(i, rng.standard_normal(8).tolist()) for i in range(40)]
    )
    queries = corpus.filter(F.col("id") < 5)
    batch = ann_topk_batch(corpus, "id", "v", queries, "id", k=3).collect()
    graph = knn_graph(queries, "id", "v", k=3, corpus_df=corpus).collect()
    b = {(r["qid"], r["rank"]): r["id"] for r in batch}
    g = {}
    for r in sorted(graph, key=lambda r: (r["id"], -r["cos_sim"], r["neighbor_id"])):
        ranks = [kk for (q, kk) in g if q == r["id"]]
        g[(r["id"], len(ranks) + 1)] = r["neighbor_id"]
    assert b == g


# -------------------------------------------------------------- triplets


def test_triplet_mining_picks_hardest_and_applies_margin(spark):
    from ipes_data_pipeline_spark.operators.similarity import mine_triplets

    # one sign bucket (all dims positive); anchor 1: positives 2 (near)
    # and 3 (far -> hardest), negatives 4 (near -> hardest) and 5 (far)
    rows = [
        (1, [1.0, 0.1, 0.1, 0.1], 0),
        (2, [0.9, 0.2, 0.1, 0.1], 0),
        (3, [0.1, 1.0, 0.9, 0.1], 0),
        (4, [0.95, 0.15, 0.1, 0.1], 1),
        (5, [0.1, 0.2, 1.0, 0.9], 1),
    ]
    df = spark.createDataFrame(rows, "id bigint, v array<double>, lab int")
    out = {
        r["anchor_id"]: r
        for r in mine_triplets(
            df, "id", "v", "lab", dims=(1, 2, 3, 4), margin=0.2
        ).collect()
    }
    assert out[1]["pos_id"] == 3  # farthest same-label, not the near twin
    assert out[1]["neg_id"] == 4  # nearest other-label
    assert out[1]["violation"] > 0  # neg closer than pos -> violating

    # margin gate: with a huge margin nothing violates... (inverted: the
    # predicate keeps neg_sim > pos_sim - margin, so margin=-2 keeps none)
    none = mine_triplets(
        df, "id", "v", "lab", dims=(1, 2, 3, 4), margin=-2.0
    )
    assert none.count() == 0


def test_triplet_mining_drops_zero_norm_and_null_vectors(spark):
    # zero-norm / NULL vectors are ENFORCED out of contract (nrm > 0
    # before bucket sizing): without the filter DuckDB's DESC window
    # would rank their NaN cosine first and hijack the hardest negative.
    from ipes_data_pipeline_spark.operators.similarity import mine_triplets

    rows = [
        (1, [1.0, 0.1], 0),
        (2, [0.9, 0.2], 0),
        (5, [0.8, 0.3], 1),
        (6, [0.0, 0.0], 1),  # zero-norm: must not appear anywhere
        (7, None, 1),  # NULL vector: must not appear anywhere
    ]
    df = spark.createDataFrame(rows, "id bigint, v array<double>, lab int")
    out = mine_triplets(df, "id", "v", "lab", dims=(1, 2), margin=2.0).collect()
    ids_seen = {r["anchor_id"] for r in out} | {r["pos_id"] for r in out} | {
        r["neg_id"] for r in out
    }
    assert {1, 2} <= ids_seen and not {6, 7} & ids_seen


def test_triplet_mining_needs_both_classes_in_bucket(spark):
    from ipes_data_pipeline_spark.operators.similarity import mine_triplets

    # two buckets split by sign of dim 1. Bucket A: 1,2 (label 0) + 5
    # (label 1) -> anchors 1,2 have pos+neg; 5 has no same-label -> no
    # triplet. Bucket B: 3 (label 0), 4 (label 1) -> neither has a
    # positive -> no triplet. Blocking bounds mining to the bucket.
    rows = [
        (1, [1.0, 0.1], 0),
        (2, [0.9, 0.2], 0),
        (5, [0.8, 0.3], 1),
        (3, [-1.0, 0.1], 0),
        (4, [-0.9, 0.2], 1),
    ]
    df = spark.createDataFrame(rows, "id bigint, v array<double>, lab int")
    out = mine_triplets(df, "id", "v", "lab", dims=(1, 2), margin=2.0)
    got = {r["anchor_id"] for r in out.collect()}
    assert got == {1, 2}


# ------------------------------------------------------------ binary ANN


def test_binary_sign_ann_hamming_prefilter_and_rerank(spark):
    from ipes_data_pipeline_spark.operators.similarity import binary_sign_ann

    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal(64)
    rows = [(0, base.tolist())]
    # 1: same signs as the query (hamming 0); 2: all signs flipped
    rows.append((1, (base * 0.5).tolist()))
    rows.append((2, (-base).tolist()))
    for i in range(3, 10):
        rows.append((i, rng.standard_normal(64).tolist()))
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    out = binary_sign_ann(
        df, "id", "v", df.filter(F.col("id") == 0), k=3, rerank=5
    ).collect()
    got = {r["id"]: r for r in out}
    assert out[0]["id"] == 0 and out[0]["hamming"] == 0
    assert got[1]["hamming"] == 0  # sign-identical vector survives
    assert got[1]["cos_sim"] == pytest.approx(1.0, abs=1e-6)
    assert 2 not in got  # the antipode is hamming-64, cut by rerank=5


def test_binary_sign_ann_dim_contract(spark):
    from ipes_data_pipeline_spark.operators.similarity import binary_sign_ann

    df = spark.createDataFrame([(0, [1.0, -1.0])], "id bigint, v array<double>")
    with pytest.raises(ValueError, match="dim=64"):
        binary_sign_ann(df, "id", "v", df, k=1).collect()
