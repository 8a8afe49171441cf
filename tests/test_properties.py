"""Property-based tests (hypothesis, seeded/deterministic profile):

- name normalization is idempotent for arbitrary printable names;
- fuzzy-dedup canonical assignment is invariant under row order;
- nest→unnest round-trips the filing set exactly (Q35 semantics).

Batched: hypothesis generates the corpus driver-side, ONE Spark job per
property checks all examples at once (per-example Spark jobs would take
minutes)."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.dedup_fuzzy import dedupe_fuzzy
from ipes_data_pipeline_spark.operators.normalize import normalize_name

#: printable-ish company-name alphabet incl. the characters the
#: normalizer manipulates (punctuation, suffixes, whitespace runs)
NAME_ALPHABET = st.sampled_from(
    list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")
    + list(" .,&-/()'\"")
)
NAMES = st.lists(
    st.text(NAME_ALPHABET, min_size=0, max_size=40), min_size=1, max_size=60
)


@settings(max_examples=10, deadline=None)
@given(NAMES)
# regressions: punctuation collapse MANUFACTURES a suffix / dba tail,
# and suffix stacks deeper than any bounded per-pattern repeat
@example(["acme/co"])
@example(["x&dba y"])
@example(["a co co co co"])
@example(["beta, inc., llc, ltd, co"])
@example(["g, llc8dba"])
def test_normalize_idempotent(spark, names):
    df = spark.createDataFrame([(n,) for n in names], "raw string")
    out = df.select(
        normalize_name("raw").alias("n1")
    ).select("n1", normalize_name(F.col("n1")).alias("n2"))
    assert all(r["n1"] == r["n2"] for r in out.collect())


@settings(max_examples=5, deadline=None)
@given(st.permutations(list(range(8))))
def test_dedup_canonical_order_invariant(spark, perm):
    base = [
        (i, n)
        for i, n in enumerate(
            ["acme corp", "acme corpx", "acme co", "globex", "globexx",
             "initech", "initceh", "umbrella"]
        )
    ]
    rows = [base[i] for i in perm]
    df = spark.createDataFrame(rows, "id int, name string")
    got = {
        r["id"]: r["canonical_id"]
        for r in dedupe_fuzzy(df, "id", "name", max_edits=2).collect()
    }
    df0 = spark.createDataFrame(base, "id int, name string")
    want = {
        r["id"]: r["canonical_id"]
        for r in dedupe_fuzzy(df0, "id", "name", max_edits=2).collect()
    }
    assert got == want


def test_dedup_block_cap_valve(spark):
    """The block_cap skew valve (q39p), checked on labels: capping only
    splits lossless components (recall traded inside the oversized
    block), a block under the cap keeps its pair, and a cap larger than
    every block is a no-op (bit-identical labels)."""
    # one giant block of 40 near-identical names + a small distinct block
    rows = [(i, f"acme corp {i:03d}") for i in range(40)] + [
        (100, "zorp inc"), (101, "zorp incx")
    ]
    df = spark.createDataFrame(rows, "id int, name string")

    def labels(cap):
        return {
            r["id"]: r["canonical_id"]
            for r in dedupe_fuzzy(
                df, "id", "name", max_edits=2, block_cap=cap
            ).collect()
        }

    lossless, capped = labels(None), labels(8)
    assert set(lossless) == set(capped) == {i for i, _ in rows}
    # canonical ids are component members (a partition, not dangling labels)
    assert all(capped[c] == c for c in capped.values())
    # every capped component lies inside one lossless component
    assert all(lossless[i] == lossless[c] for i, c in capped.items())
    # the 40-name block is one component, split by the sub-salt
    acme = range(40)
    assert len({lossless[i] for i in acme}) == 1
    assert len({capped[i] for i in acme}) > 1
    # the small block is under every cap: its pair survives intact
    assert capped[100] == capped[101] == 100
    # cap >= max block size => valve provably inert
    assert labels(64) == lossless


def test_nest_unnest_roundtrip(spark):
    orders = spark.createDataFrame(
        [(c, d, k) for c in range(5) for d, k in [(1, 10), (2, 20), (3, 30)]],
        "custkey int, odate int, okey int",
    )
    nested = orders.groupBy("custkey").agg(
        F.sort_array(F.collect_list(F.struct("odate", "okey"))).alias("os")
    )
    back = nested.select("custkey", F.explode("os").alias("o")).select(
        "custkey", F.col("o.odate").alias("odate"), F.col("o.okey").alias("okey")
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orders.collect()))


def test_weighted_sample_layout_invariant(spark, sf_dir):
    """q105's sample is content-addressed: identical under any physical
    layout (repartition, coalesce, sort) of the input scan."""
    from ipes_data_pipeline_spark.queries import REGISTRY, load_all

    load_all()
    base = {
        r["doc_id"]
        for r in REGISTRY["q105_weighted_sample"].spark(spark, sf_dir).collect()
    }
    # same computation over a shuffled/derived copy of the table
    from ipes_data_pipeline_spark.queries import t
    from ipes_data_pipeline_spark.queries.mixing import _uniform

    d = t(spark, sf_dir, "documents").repartition(7).sortWithinPartitions("lang")
    key = F.log(_uniform(F.col("doc_id"))) / F.col("n_chars")
    got = {
        r["doc_id"]
        for r in d.select("doc_id", key.alias("key"))
        .orderBy(F.desc("key"), F.asc("doc_id"))
        .limit(50)
        .collect()
    }
    assert got == base


def test_zscore_no_flags_on_constant_series(spark):
    """Zero variance ⇒ no event can be 3 sigma out (and no div-zero crash)."""
    from pyspark.sql.window import Window as W

    ev = spark.createDataFrame(
        [(i, 1, 5.0) for i in range(40)], "event_id int, user_id int, value double"
    )
    w = W.partitionBy("user_id")
    dv = F.col("value").cast("decimal(18,6)")
    s = F.sum(dv).over(w).cast("double")
    q = F.sum(dv * dv).over(w).cast("double")
    c = F.count("value").over(w)
    flagged = (F.col("value") - s / c) * (F.col("value") - s / c) > F.lit(9.0) * (
        (q - s * s / c) / c
    )
    out = ev.withColumn("f", flagged & (c >= 30)).where("f")
    assert out.count() == 0


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", None]),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=60,
    ),
    nparts=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=12, deadline=None)
def test_grouped_topk_equals_window_reference(spark, rows, nparts):
    """grouped_topk == the plain window formulation for arbitrary data
    and ANY physical partitioning (the pre-reduce must never change the
    answer, only the shuffle volume). Values are drawn with heavy
    collisions so boundary ties exercise the tiebreak path, and the key
    domain includes NULL: the window form keeps the NULL group's top-k,
    so the pandas pre-reduce must too (dropna=False)."""
    from pyspark.sql.window import Window as W

    from ipes_data_pipeline_spark.operators.topk import grouped_topk

    data = [(g, i, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "grp string, id long, v double").repartition(
        nparts
    )
    got = {
        (r["grp"], r["id"])
        for r in grouped_topk(
            df, group_cols=["grp"], order_col="v", k=3, tiebreak_col="id"
        ).collect()
    }
    w = W.partitionBy("grp").orderBy(F.col("v").desc(), F.col("id").asc())
    expect = {
        (r["grp"], r["id"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .where("rn <= 3")
        .collect()
    }
    assert got == expect


def test_pagerank_fixed_point_hand_values(spark):
    """Two rounds over a 3-node star (+1 isolated node) match the
    hand-computed fixed-point recurrence exactly — integer division,
    so the values are exact, not approximately close."""
    from ipes_data_pipeline_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], "node long")
    edges = spark.createDataFrame(
        [(1, 2, 1), (1, 3, 1), (2, 1, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(nodes, edges, iterations=2).collect()
    }
    assert got == {1: 1.1275, 2: 0.93625, 3: 0.93625, 4: 0.15}


def test_grouped_running_sum_equals_window_form(spark):
    """Two-pass prefix sum == the single-window form row for row, on a
    skewed input where one group holds 90% of rows (the case the
    two-pass form exists for: that group would serialize the naive
    window into one task)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from ipes_data_pipeline_spark.operators.prefix import grouped_running_sum

    rows = [("big", i, i % 7 + 1) for i in range(900)]
    rows += [(f"s{j}", i, i + j) for j in range(10) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, o long, v long").repartition(8)

    got = {
        (r["g"], r["o"]): r["rs"]
        for r in grouped_running_sum(
            df, "g", "o", "v", out_col="rs", num_shards=6
        ).collect()
    }
    w = W.partitionBy("g").orderBy("o").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        (r["g"], r["o"]): r["rs"]
        for r in df.withColumn("rs", F.sum("v").over(w)).collect()
    }
    assert got == want and len(got) == 1000


def test_grouped_running_sum_with_payload_columns(spark):
    """Regression: extra columns on the input caused Catalyst to compile
    two column-pruned copies of the range exchange whose sampled
    boundaries disagreed — pass 1 and pass 2 then attached offsets to
    the wrong slices (44k/60k wrong rows before the materialization
    fix). A payload column plus many shards exercises exactly that."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from ipes_data_pipeline_spark.operators.prefix import grouped_running_sum

    rows = [("g", i, i % 5 + 1, f"payload-{i}" * 3) for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, o long, v long, p string").repartition(16)
    got = {
        r["o"]: r["rs"]
        for r in grouped_running_sum(
            df, "g", "o", "v", out_col="rs", num_shards=12
        ).collect()
    }
    w = W.partitionBy("g").orderBy("o").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {r["o"]: r["rs"] for r in df.withColumn("rs", F.sum("v").over(w)).collect()}
    assert got == want


def test_asof_join_null_timestamps_drop(spark):
    """NULL right_ts never matches (the inner-<= contract: a NULL
    comparison qualifies nothing) and a NULL left_ts row drops —
    regression for the union-stream rewrite, where NULLS-FIRST ordering
    would otherwise make a NULL-ts right row everyone's 'earliest'
    candidate."""
    from ipes_data_pipeline_spark.operators.sessionize import asof_join_latest

    left = spark.createDataFrame(
        [(1, "2024-01-05", 100), (2, None, 101)],
        "lk long, lts string, event long",
    ).selectExpr("lk", "CAST(lts AS TIMESTAMP) AS lts", "event")
    right = spark.createDataFrame(
        [(1, None, 7), (1, "2024-01-02", 8), (2, "2024-01-01", 9)],
        "rk long, rts string, rid long",
    ).selectExpr("rk", "CAST(rts AS TIMESTAMP) AS rts", "rid")
    out = asof_join_latest(
        left, right, "lk", "rk", "lts", "rts", "rid", "event"
    ).collect()
    # left row 1 matches the non-NULL right row; NULL-ts rows never pair
    assert [(r["event"], r["rid"]) for r in out] == [(100, 8)]


def test_asof_join_numeric_epoch_timestamps(spark):
    """Numeric (epoch) ts columns keep working — the rewrite must not
    force a numeric→timestamp_ntz cast (unsupported in Spark)."""
    from ipes_data_pipeline_spark.operators.sessionize import asof_join_latest

    left = spark.createDataFrame(
        [(1, 100.0, 11), (1, 5.0, 12)], "lk long, lts double, event long"
    )
    right = spark.createDataFrame(
        [(1, 50, 7), (1, 99, 8), (1, 101, 9)], "rk long, rts long, rid long"
    )
    out = {
        r["event"]: r["rid"]
        for r in asof_join_latest(
            left, right, "lk", "rk", "lts", "rts", "rid", "event"
        ).collect()
    }
    assert out == {11: 8}  # event at t=100 -> latest right at 99; t=5 -> none


def test_gram_chunking_is_value_identical(spark, monkeypatch):
    """Every operator scoring through the one Gram kernel must return
    bit-identical rows when the kernel is forced into many tiny row
    blocks — chunking bounds memory, never changes values (the
    per-dim accumulation order is per PAIR, independent of the cut)."""
    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 7 == 0)

    def run_all():
        calls = [
            S.cosine_pairs_bucketed(
                emb, "vec_id", "embedding", (1, 9, 17, 25), 0.3
            ),
            S.semdedup(emb, "vec_id", "embedding", threshold=0.3),
            S.cosine_topk_pairs_lsh(emb, "vec_id", "embedding", k=50),
            S.knn_graph_bucketed(emb, "vec_id", "embedding", k=5),
            S.mine_triplets(emb, "vec_id", "embedding", "label"),
            S.ann_topk_batch(emb, "vec_id", "embedding", queries, "vec_id", k=5),
        ]
        return [sorted(tuple(r) for r in df.collect()) for df in calls]

    full = run_all()
    monkeypatch.setattr(S, "_GRAM_CHUNK_CELLS", 64)  # force many chunks
    chunked = run_all()
    assert all(full)  # every operator returned rows
    assert chunked == full


def test_snapshot_diff_classifies_with_null_safety(spark):
    """added/removed/changed/unchanged, with NULL-SAFE compares: NULL vs
    NULL is unchanged, NULL vs value is a change (plain = would call
    both 'unchanged' through three-valued logic)."""
    from ipes_data_pipeline_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, None), (5, "e")],
        "k long, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None), (4, "d"), (6, "f")],
        "k long, v string",
    )
    out = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert out == {
        1: "unchanged",
        2: "changed",
        3: "unchanged",  # NULL vs NULL
        4: "changed",  # NULL vs value
        5: "removed",
        6: "added",
    }


def test_asof_join_matches_naive_reference_on_random_data(spark):
    """The union-stream as-of plan must equal the naive range-join +
    argmax reference on seeded random data with duplicate timestamps,
    NULLs, keys with no matches, and ties — the full semantic surface."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W2

    from ipes_data_pipeline_spark.operators.sessionize import asof_join_latest

    rng = random.Random(1234)
    left_rows = [
        (
            rng.randint(1, 8),  # key
            rng.choice([None] + list(range(0, 50))),  # ts (epoch-style)
            i,  # event id
        )
        for i in range(200)
    ]
    right_rows = [
        (
            rng.randint(1, 10),
            rng.choice([None] + list(range(0, 50))),
            1000 + i,
        )
        for i in range(150)
    ]
    left = spark.createDataFrame(left_rows, "lk long, lts long, event long")
    right = spark.createDataFrame(right_rows, "rk long, rts long, rid long")

    got = {
        (r["event"], r["rid"])
        for r in asof_join_latest(
            left, right, "lk", "rk", "lts", "rts", "rid", "event"
        ).collect()
    }

    # naive reference: range join + per-left-row argmax
    j = left.join(
        right,
        (F.col("lk") == F.col("rk")) & (F.col("rts") <= F.col("lts")),
        "inner",
    )
    w = W2.partitionBy("event").orderBy(F.desc("rts"), F.desc("rid"))
    expected = {
        (r["event"], r["rid"])
        for r in j.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    assert got == expected


def test_grouped_topk_null_ordering_matches_window(spark):
    """The pandas pre-reduce must use Spark's null ordering (desc =
    NULLS LAST, asc = NULLS FIRST; tiebreak asc = NULLS FIRST) — a
    NaN-always-last combiner would drop a NULL row the exact window
    ranks first."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W2

    from ipes_data_pipeline_spark.operators.topk import grouped_topk

    rows = [
        ("g", None, 5, 1),
        ("g", 10, None, 2),
        ("g", 10, 5, 3),
        ("g", None, None, 4),
        ("h", 1, 1, 5),
    ]
    df = spark.createDataFrame(rows, "g string, v long, t long, id long")
    for descending in (True, False):
        got = {
            tuple(r)
            for r in grouped_topk(df, ["g"], "v", 2, "t", descending=descending)
            .collect()
        }
        order = [
            F.col("v").desc() if descending else F.col("v").asc(),
            F.col("t").asc(),
        ]
        w = W2.partitionBy("g").orderBy(*order)
        expected = {
            tuple(r)
            for r in df.withColumn("rn", F.row_number().over(w))
            .where("rn <= 2")
            .drop("rn")
            .collect()
        }
        assert got == expected, (descending, got, expected)


def test_pq_topk_contract_and_recall(spark):
    """Flat PQ ADC top-k (``ivfpq_topk(n_cells=None)``): the one-row
    query contract is enforced, distances are non-negative and
    ascending, and the quantized top-1 for a query that IS a corpus
    vector must place that vector first (its own reconstruction error
    is minimal by construction on this separated fixture). A residual
    codec needs a coarse stage: ``residual=True, n_cells=None`` is a
    ValueError."""
    import pytest

    from ipes_data_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q7 = emb.filter("vec_id = 7")
    top = S.ivfpq_topk(
        emb, "vec_id", "embedding", q7, k=5, n_cells=None
    ).collect()
    assert len(top) == 5
    dists = [r["adc_d2"] for r in top]
    assert dists == sorted(dists) and all(d >= 0.0 for d in dists)
    assert top[0]["id"] == 7

    with pytest.raises(ValueError, match="exactly one query row"):
        S.ivfpq_topk(
            emb, "vec_id", "embedding", emb.limit(2), k=5, n_cells=None
        )
    with pytest.raises(ValueError, match="residual"):
        S.ivfpq_topk(
            emb, "vec_id", "embedding", q7, k=5, n_cells=None, residual=True
        )


def test_pq_prep_null_vectors_and_null_query_elements(spark):
    """PQ prologue edge contracts (round-6 advice): an all-null-vector
    corpus is an EMPTY corpus (zero-row frame back) even under the
    legacy sizeOfNull conf where size(null) = -1; a query vector with
    null elements raises a contract ValueError naming the op, not an
    opaque float(None) TypeError."""
    import pytest
    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.operators import similarity as S

    null_corpus = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.lit(None).cast("array<double>").alias("embedding"),
    )
    q = spark.createDataFrame(
        [(99, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    legacy = spark.conf.get("spark.sql.legacy.sizeOfNull", None)
    try:
        for conf in ("true", "false"):
            spark.conf.set("spark.sql.legacy.sizeOfNull", conf)
            assert (
                S.ivfpq_topk(
                    null_corpus, "vec_id", "embedding", q, n_cells=None
                ).count()
                == 0
            )
            assert (
                S.ivfpq_topk(null_corpus, "vec_id", "embedding", q).count()
                == 0
            )
    finally:
        if legacy is None:
            spark.conf.unset("spark.sql.legacy.sizeOfNull")
        else:
            spark.conf.set("spark.sql.legacy.sizeOfNull", legacy)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    bad_q = spark.createDataFrame(
        [(99, [0.0] * (dim - 1) + [None])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="pq_topk.*null"):
        S.ivfpq_topk(emb, "vec_id", "embedding", bad_q, k=5, n_cells=None)


def test_ivfpq_probe_all_equals_pq(spark):
    """IVFPQ with n_probe = n_cells degenerates to the plain PQ ADC
    scan (the coarse stage prunes nothing): outputs must be identical
    row for row. With n_probe=1 the result is a subset of the corpus
    scored by the same tables and the self-query still lands first
    (its own cell is by definition the nearest probe)."""
    from ipes_data_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q7 = emb.filter("vec_id = 7")
    full = [
        tuple(r)
        for r in S.ivfpq_topk(
            emb, "vec_id", "embedding", q7, k=8, n_cells=None
        ).collect()
    ]
    all_probe = [
        tuple(r)
        for r in S.ivfpq_topk(
            emb, "vec_id", "embedding", q7, k=8, n_cells=8, n_probe=8
        ).collect()
    ]
    assert full == all_probe
    one = S.ivfpq_topk(
        emb, "vec_id", "embedding", q7, k=8, n_cells=8, n_probe=1
    ).collect()
    assert one and one[0]["id"] == 7
