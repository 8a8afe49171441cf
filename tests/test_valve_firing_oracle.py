"""Cross-engine value checks of the scale valves IN their firing regime.

The registered queries (q39p, q42p, q121p, q133a) run their valves with
production parameters (block_cap/bucket_cap=256, target_bucket=256) that
are inert at the sf0.001 scale the test suite runs (q39p's valve first
fires at sf0.01, where the 1000-row name blocks sub-salt into 4
buckets). These tests force the valves with tiny parameters on small
skewed corpora and check Spark's output against the SAME-parameterized
DuckDB oracle SQL — a salt or plane-count mismatch between the Python
and SQL constructions surfaces here, at pytest speed, instead of as a
gate failure at larger scales.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.dedup_fuzzy import dedupe_fuzzy
from ipes_data_pipeline_spark.operators.dedup_minhash import minhash_lsh_pairs
from ipes_data_pipeline_spark.operators.similarity import (
    auto_plane_count,
    cosine_pairs_bucketed,
)
from ipes_data_pipeline_spark.oracle import run_oracle
from ipes_data_pipeline_spark.queries.dataops import _q42_oracle, _sql_cosine
from ipes_data_pipeline_spark.queries.relational import _q39_oracle
from ipes_data_pipeline_spark.operators.similarity import _AUTO_PLANES


# a band bucket of 8 identical docs (the boilerplate skew the valve
# exists for) + two distinct near-dup pairs that must survive capping
BOILER = "terms of service apply to all users of this web site in full"
DOCS = (
    [(i, BOILER) for i in range(8)]
    + [
        (20, "the quick brown fox jumps over the lazy dog again today"),
        (21, "the quick brown fox jumps over the lazy dog again tonight"),
        (30, "maritime navigation rules concern every vessel at open sea"),
    ]
)


def _capped_q42_pairs_sql(cap: int) -> str:
    """q42's md5 band construction + the SAME sub-salt the Spark valve
    computes (util.sub_salt): n_sub = ceil(bsz / cap), salt =
    first-8-hex of md5(id) mod n_sub, pairs require sub equality."""
    base = _q42_oracle().strip().removeprefix("WITH").rsplit("SELECT DISTINCT", 1)[0]
    salt = "('0x' || substr(md5(CAST(b.id AS VARCHAR)), 1, 8))::BIGINT"
    return f"""
WITH {base.strip().rstrip(',')},
szt AS (SELECT band_idx, band_key, COUNT(*) AS bsz
        FROM bands GROUP BY band_idx, band_key),
subt AS (SELECT b.id, b.band_idx, b.band_key,
                {salt}
                % GREATEST(1, CAST(CEIL(bsz / {cap}.0) AS BIGINT)) AS sub
         FROM bands b JOIN szt
           ON szt.band_idx = b.band_idx AND szt.band_key = b.band_key)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM subt a JOIN subt b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
 AND a.sub = b.sub AND a.id < b.id
"""


def test_minhash_bucket_cap_fires_and_matches_oracle(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", hash_fn="md5", bucket_cap=2
        ).collect()
    }
    lossless = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", hash_fn="md5", bucket_cap=None
        ).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    want = {tuple(r) for r in con.execute(_capped_q42_pairs_sql(2)).fetchall()}
    con.close()
    # the valve FIRED: the 8-row boilerplate band bucket (> cap=2) lost
    # cross-sub pairs, so capped is a strict subset of lossless
    assert got < lossless
    # ... and the same-parameterized SQL reproduces the capped set exactly
    assert got == want
    # the under-cap near-dup pair is untouched (recall traded only
    # inside oversized buckets)
    assert (20, 21) in got


def test_fuzzy_block_cap_fires_and_matches_oracle(spark, sf_dir):
    """q39p's valve in its firing regime: sf0.001 customer is one
    150-row name block, so block_cap=32 sub-salts it into 5 buckets.
    Spark's capped components must differ from the lossless ones (the
    valve FIRED) and equal the same-parameterized DuckDB oracle."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    def run(cap):
        return {
            (r["c_custkey"], r["canonical_id"])
            for r in dedupe_fuzzy(
                cust, "c_custkey", "c_name",
                block_expr=F.substring("c_name", 1, 15), max_edits=2,
                block_cap=cap,
            ).collect()
        }

    capped, lossless = run(32), run(None)
    assert capped != lossless  # the valve fired
    want = run_oracle(_q39_oracle(block_cap=32, n_rounds=4), sf_dir)
    assert capped == set(zip(want["c_custkey"], want["canonical_id"]))


def test_adaptive_plane_count_fires_and_matches_oracle(spark):
    """dims=None with a small target_bucket forces p > 4 (the q133a/
    q118a adaptive regime the gate never reaches): N=200, target 8 →
    p = ceil(log2(25)) = 5 planes. The Spark sign-bucket prefix and the
    oracle's truncated 20-bit string must agree, and the per-bucket
    Gram cosine must match DuckDB's list_reduce fold at 6 decimals."""
    n, target = 200, 8
    p = auto_plane_count(n, target)
    assert p == 5  # the regime this test exists for: past the clamp
    rng = np.random.default_rng(42)
    vecs = rng.standard_normal((n, 64)).round(3)  # dim 64 covers plane 61
    rows = [(i, vecs[i].tolist()) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"], f"{r['cos_sim']:.6f}")
        for r in cosine_pairs_bucketed(
            emb, "vec_id", "embedding", dims=None, threshold=0.3,
            target_bucket=target,
        ).collect()
    }
    bits = " || ".join(
        f"CASE WHEN v[{d}] > 0 THEN '1' ELSE '0' END" for d in _AUTO_PLANES
    )
    sql = f"""
WITH nn AS (SELECT LEAST({len(_AUTO_PLANES)}, GREATEST(4,
       CAST(ceil(log2(GREATEST(count(*), 1) / {target}.0)) AS INT))) AS p
     FROM embeddings),
ev AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
eb AS (SELECT id, v, substring(({bits}), 1, nn.p) AS bkt FROM ev, nn)
SELECT a.id AS id_a, b.id AS id_b, {_sql_cosine('a.v', 'b.v')} AS cos_sim
FROM eb a JOIN eb b ON a.bkt = b.bkt AND a.id < b.id
WHERE {_sql_cosine('a.v', 'b.v')} >= 0.3
"""
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame({"vec_id": range(n), "embedding": list(vecs)}),
    )
    want = {(a, b, f"{c:.6f}") for a, b, c in con.execute(sql).fetchall()}
    con.close()
    assert got, "fixture produced no qualifying pairs — weaken threshold"
    assert got == want

def test_triplet_bucket_cap_fires_and_matches_oracle(spark):
    """q165's valve in its firing regime: 12 vectors share one sign
    bucket (> cap=2 -> 6 sub-buckets), labels alternate so positives
    and negatives exist inside sub-buckets. Spark's capped mining must
    (a) differ from lossless mining (the valve FIRED) and (b) equal the
    SAME-parameterized DuckDB oracle exactly."""
    from ipes_data_pipeline_spark.operators.similarity import mine_triplets
    from ipes_data_pipeline_spark.queries.retrieval import _q165_oracle

    rng = np.random.default_rng(7)
    rows = []
    for i in range(12):
        # all-positive dims 1/9/17/25 -> one shared bucket
        v = rng.standard_normal(32).round(3)
        for d in (0, 8, 16, 24):
            v[d] = abs(v[d]) + 0.1
        rows.append((i, v.tolist(), i % 3))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )

    def run(cap):
        return {
            (r["anchor_id"], r["pos_id"], r["neg_id"])
            for r in mine_triplets(
                emb, "vec_id", "embedding", "label", margin=2.0,
                bucket_cap=cap,
            ).collect()
        }

    capped, lossless = run(2), run(None)
    assert capped != lossless  # the valve fired
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]),
    )
    want = {
        (r[0], r[1], r[2])
        for r in con.execute(
            _q165_oracle(margin=2.0, bucket_cap=2)
        ).fetchall()
    }
    con.close()
    assert capped == want
