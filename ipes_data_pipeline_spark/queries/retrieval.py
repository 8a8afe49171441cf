"""The retrieval/RAG stack on top of the engine's scorers: quantized
ANN (scalar quantization — the FAISS SQ8 gear between full-precision
and PQ), hybrid lexical+semantic rank fusion (RRF), and
diversity-aware re-ranking (MMR).

These are the three stages a retrieval-backed training-data assembler
runs after the index builders this repo already ships (BM25 q134,
brute/IVF/PQ/IVFPQ q46/q72/q159–q161): compress the index, fuse the
retrievers, diversify the final context. Reference anchor: the
reference ranks and filters per-query candidate sets before its
per-row enrichment (code/structure_data.py relevance gates,
code/enrich_data.py) — these queries are that stage re-expressed at
corpus scale.

Determinism rules as in queries/__init__: per-part rounding to
DECIMAL(18,6) before any sum whose order an engine could choose;
double arithmetic written with identical association on both sides;
ties always broken by id.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ipes_data_pipeline_spark.queries import register, t

_DIM = 64  # testdata embedding width (TESTDATA.md)

# --------------------------------------------- q162: scalar-quantized ANN

_SQ8_K, _SQ8_QID = 10, 0


def _q162_oracle(dim: int = _DIM, k: int = _SQ8_K, qid: int = _SQ8_QID) -> str:
    """SQ8 ADC scan: per-dimension uniform byte quantization between the
    corpus min/max, query kept full-precision. Expression association
    mirrors operators/similarity.sq8_topk token for token, and the
    per-part rounding is ``FLOOR(err² × 1e6 + 0.5)`` cast to BIGINT —
    pure IEEE-double ops plus an exact int64 sum, the one formulation
    numpy, Spark, and DuckDB all evaluate bit-identically (no
    decimal-string rounding seam). NULL vectors are dropped; bounds
    skip null ELEMENTS (MIN/MAX-skip-null); rows containing a null
    element are excluded from the scan — the engine masks them
    vectorized in the kernel. The q CTE takes the query from the
    null-element-free ``live`` set, mirroring the engine's precondition
    (sq8_topk raises on a null-element query): a bad query row yields
    zero oracle rows — a visible gate divergence — instead of SUM
    silently skipping the null parts into a skewed distance."""
    code = (
        "LEAST(GREATEST(CAST(FLOOR((CAST(e.embedding[b.i] AS DOUBLE) - b.mn)"
        " * 255.0 / (b.mx - b.mn) + 0.5) AS INT), 0), 255)"
    )
    recon = "(c.mn + CAST(c.code AS DOUBLE) * (c.mx - c.mn) / 255.0)"
    err = f"(CAST(q.v[c.i] AS DOUBLE) - {recon})"
    return f"""
WITH nn AS (SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL),
bounds AS (
  SELECT i,
         MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
         MAX(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM nn, range(1, {dim + 1}) t(i)
  GROUP BY i),
live AS (SELECT vec_id, embedding FROM nn
         WHERE len(list_filter(embedding, x -> x IS NULL)) = 0),
codes AS (
  SELECT e.vec_id AS id, b.i, b.mn, b.mx,
         CASE WHEN b.mx > b.mn THEN {code} ELSE 0 END AS code
  FROM live e CROSS JOIN bounds b),
q AS (SELECT embedding AS v FROM live WHERE vec_id = {qid}),
parts AS (
  SELECT c.id, CAST(FLOOR({err} * {err} * 1000000.0 + 0.5) AS BIGINT) AS part
  FROM codes c CROSS JOIN q)
SELECT id, CAST(SUM(part) AS DOUBLE) / 1000000.0 AS adc_d2
FROM parts GROUP BY id ORDER BY adc_d2 ASC, id ASC LIMIT {k}"""


def q162(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import sq8_topk

    emb = t(spark, sf, "embeddings")
    return sq8_topk(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == _SQ8_QID),
        k=_SQ8_K,
    )


register(
    "q162_sq8_ann",
    "similarity search: scalar-quantized ANN (FAISS IndexScalarQuantizer "
    "QT_8bit) — per-dimension byte codes between corpus min/max, "
    "asymmetric-distance scan as ONE Arrow-batched corpus pass with a "
    "running per-task top-k; the 8x-compression gear between "
    "full-precision brute force (q46) and PQ's 128x (q159)",
    _q162_oracle(),
)(q162)
# the name the vector_retrieval benchmark workload and
# scripts/ann_recall.py look up: the same query under its old gear name
register(
    "q162p_sq8_ann_scalable",
    "similarity search: q162 registered under its former scalable-gear "
    "name — same function, same oracle",
    _q162_oracle(),
)(q162)


# ------------------------------------------------ q163: RRF hybrid fusion

_RRF_K, _RRF_C, _RRF_QID = 20, 60, 0


def _q163_oracle(k: int = _RRF_K, c: int = _RRF_C, qid: int = _RRF_QID) -> str:
    from ipes_data_pipeline_spark.queries.curation import _q134_oracle
    from ipes_data_pipeline_spark.queries.dataops import _sql_cosine

    cos = _sql_cosine("e.embedding", "q.q_vec")
    contrib = (
        "COALESCE(CAST(1 AS DOUBLE) / ({c} + CAST({r} AS DOUBLE)), "
        "CAST(0 AS DOUBLE))"
    )
    lex_part = contrib.format(c=c, r="lex_rank")
    sem_part = contrib.format(c=c, r="sem_rank")
    return f"""
WITH lexq AS ({_q134_oracle(topk=k).strip()}),
lex AS (SELECT doc_id AS id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT)
                 AS lex_rank
        FROM lexq),
semq AS (SELECT e.vec_id AS id, {cos} AS cos_sim
         FROM embeddings e CROSS JOIN
              (SELECT embedding AS q_vec FROM embeddings
               WHERE vec_id = {qid}) q
         ORDER BY cos_sim DESC, id ASC LIMIT {k}),
sem AS (SELECT id,
               CAST(row_number() OVER (ORDER BY cos_sim DESC, id ASC) AS INT)
                 AS sem_rank
        FROM semq),
f AS (SELECT COALESCE(lex.id, sem.id) AS id, lex.lex_rank, sem.sem_rank
      FROM lex FULL JOIN sem ON lex.id = sem.id)
SELECT id, lex_rank, sem_rank,
       CAST(ROUND({lex_part} + {sem_part}, 6) AS DOUBLE) AS rrf_score
FROM f ORDER BY rrf_score DESC, id ASC"""


@register(
    "q163_rrf_hybrid_retrieval",
    "retrieval: hybrid lexical+semantic search via Reciprocal-Rank "
    "Fusion — BM25 top-k (q134's scorer) and embedding-cosine top-k "
    "(q46's scorer) fused rank-wise (SIGIR'09 RRF, c=60); the standard "
    "hybrid-search combiner of a RAG stack",
    _q163_oracle(),
)
def q163(spark, sf):
    # Both retriever legs end in their own TakeOrderedAndProject, so the
    # fusion's outer join sees 2 × k rows regardless of corpus size —
    # rank columns are windows over k-row frames, not corpus windows.
    from ipes_data_pipeline_spark.operators.similarity import (
        ann_topk_bruteforce,
    )
    from ipes_data_pipeline_spark.operators.topk import rrf_fuse
    from ipes_data_pipeline_spark.queries.curation import bm25_topk

    lex = bm25_topk(spark, sf, topk=_RRF_K).select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rank"),
    )
    emb = t(spark, sf, "embeddings")
    sem = ann_topk_bruteforce(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == _RRF_QID),
        k=_RRF_K,
    ).select(
        "id",
        F.row_number()
        .over(W.orderBy(F.desc("cos_sim"), F.asc("id")))
        .alias("rank"),
    )
    return rrf_fuse({"lex": lex, "sem": sem}, c=_RRF_C)


# ----------------------------------- q163p: hybrid fusion, ANN semantic leg


def _q163p_oracle(k: int = _RRF_K, c: int = _RRF_C, qid: int = _RRF_QID) -> str:
    """q163's fusion with the semantic leg served by the SQ8 ADC scan
    (q162's micro-unit oracle, nested as a derived table) instead of
    brute-force cosine. SQ8's ranking is fully deterministic, so this
    production gear is EXACTLY oracle-checkable — no agreement-regime
    caveat."""
    from ipes_data_pipeline_spark.queries.curation import _q134_oracle

    contrib = (
        "COALESCE(CAST(1 AS DOUBLE) / ({c} + CAST({r} AS DOUBLE)), "
        "CAST(0 AS DOUBLE))"
    )
    lex_part = contrib.format(c=c, r="lex_rank")
    sem_part = contrib.format(c=c, r="sem_rank")
    sq8 = _q162_oracle(k=k, qid=qid).strip()
    return f"""
WITH lexq AS ({_q134_oracle(topk=k).strip()}),
lex AS (SELECT doc_id AS id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT)
                 AS lex_rank
        FROM lexq),
semq AS (SELECT * FROM ({sq8}) s),
sem AS (SELECT id,
               CAST(row_number() OVER (ORDER BY adc_d2 ASC, id ASC) AS INT)
                 AS sem_rank
        FROM semq),
f AS (SELECT COALESCE(lex.id, sem.id) AS id, lex.lex_rank, sem.sem_rank
      FROM lex FULL JOIN sem ON lex.id = sem.id)
SELECT id, lex_rank, sem_rank,
       CAST(ROUND({lex_part} + {sem_part}, 6) AS DOUBLE) AS rrf_score
FROM f ORDER BY rrf_score DESC, id ASC"""


@register(
    "q163p_rrf_hybrid_ann",
    "retrieval: the PRODUCTION gear of q163 — RRF hybrid fusion whose "
    "semantic leg is served by the SQ8 quantized-ANN scan (q162's "
    "scorer, 8x-compressed codes) instead of full-precision brute "
    "force; at 100 TB the ANN index is what a RAG service actually "
    "queries, and SQ8's deterministic ADC ranking keeps the twin "
    "exactly oracle-checkable end-to-end",
    _q163p_oracle(),
)
def q163p(spark, sf):
    # same fusion shape as q163: both legs end in their own top-k, so
    # the outer join sees 2 x k rows and every window is a k-row frame
    from ipes_data_pipeline_spark.operators.similarity import sq8_topk
    from ipes_data_pipeline_spark.operators.topk import rrf_fuse
    from ipes_data_pipeline_spark.queries.curation import bm25_topk

    lex = bm25_topk(spark, sf, topk=_RRF_K).select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rank"),
    )
    emb = t(spark, sf, "embeddings")
    sem = sq8_topk(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == _RRF_QID),
        k=_RRF_K,
    ).select(
        "id",
        F.row_number()
        .over(W.orderBy(F.asc("adc_d2"), F.asc("id")))
        .alias("rank"),
    )
    return rrf_fuse({"lex": lex, "sem": sem}, c=_RRF_C)


# -------------------------------------------- q164: MMR diversity re-rank

_MMR_N, _MMR_K, _MMR_LAM, _MMR_QID = 8, 5, 0.7, 0


def _q164_oracle(
    n_cand: int = _MMR_N, k: int = _MMR_K, lam: float = _MMR_LAM,
    qid: int = _MMR_QID,
) -> str:
    """The greedy loop unrolled into k argmax CTE layers (each picks the
    best not-yet-selected candidate against all prior layers) — bounded
    constants make unrolling exact, no recursion needed. Argmax compares
    RAW doubles (identical in both engines); only output is rounded."""
    from ipes_data_pipeline_spark.queries.dataops import _sql_cosine

    lam_sql = f"CAST({lam} AS DOUBLE)"
    rel = _sql_cosine("e.embedding", "q.v")
    sim = _sql_cosine("a.v", "b.v")
    ctes = [
        f"q AS (SELECT embedding AS v FROM embeddings WHERE vec_id = {qid})",
        f"cand AS (SELECT e.vec_id AS id, e.embedding AS v, {rel} AS rel "
        f"FROM embeddings e CROSS JOIN q WHERE e.vec_id <> {qid} "
        f"ORDER BY rel DESC, id ASC LIMIT {n_cand})",
        f"sims AS (SELECT a.id AS id_a, b.id AS id_b, {sim} AS sim "
        f"FROM cand a JOIN cand b ON a.id <> b.id)",
        "p1 AS (SELECT id, rel AS score FROM cand "
        "ORDER BY rel DESC, id ASC LIMIT 1)",
    ]
    prev = "SELECT id FROM p1"
    for step in range(2, k + 1):
        ctes.append(
            f"p{step} AS (SELECT c.id, {lam_sql} * c.rel - "
            f"(CAST(1 AS DOUBLE) - {lam_sql}) * "
            f"(SELECT MAX(s.sim) FROM sims s WHERE s.id_a = c.id "
            f"AND s.id_b IN ({prev})) AS score "
            f"FROM cand c WHERE c.id NOT IN ({prev}) "
            f"ORDER BY score DESC, c.id ASC LIMIT 1)"
        )
        prev += f" UNION ALL SELECT id FROM p{step}"
    union = " UNION ALL ".join(
        f"SELECT {i} AS step, id, score FROM p{i}" for i in range(1, k + 1)
    )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT CAST(step AS INT) AS step, id, "
        f"CAST(ROUND(score, 6) AS DOUBLE) AS mmr_score "
        f"FROM ({union}) u ORDER BY step"
    )


@register(
    "q164_mmr_rerank",
    "retrieval: Maximal-Marginal-Relevance diversity re-rank (SIGIR'98, "
    "lambda=0.7) — greedy selection of k diverse candidates from the "
    "cosine top-n; the context-diversification stage after retrieval, "
    "executor-side over a bounded candidate set",
    _q164_oracle(),
)
def q164(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import mmr_rerank

    emb = t(spark, sf, "embeddings")
    return mmr_rerank(
        emb.filter(F.col("vec_id") != _MMR_QID),
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id") == _MMR_QID),
        n_candidates=_MMR_N,
        k=_MMR_K,
        lam=_MMR_LAM,
    )


# ------------------------------------------- q165: hard-triplet mining

_TRIPLET_MARGIN = 0.2
_TRIPLET_DIMS = (1, 9, 17, 25)


def _q165_oracle(
    margin: float = _TRIPLET_MARGIN, bucket_cap: int | None = 256
) -> str:
    """Parameterizes the SAME sub-salt as mine_triplets(bucket_cap=...)
    (md5 of the id, first 8 hex chars as unsigned 32-bit, mod
    ceil(bucket_size / cap)) so the valve is value-checkable in its
    firing regime (tests/test_valve_firing_oracle.py); at gate scale
    the cap is inert (max bucket ≈ 31 rows at sf0.01)."""
    from ipes_data_pipeline_spark.queries.dataops import _sql_cosine

    bkt = " || ".join(
        f"CASE WHEN embedding[{d}] > 0 THEN '1' ELSE '0' END"
        for d in _TRIPLET_DIMS
    )
    cos = _sql_cosine("a.v", "b.v")
    if bucket_cap is None:
        cap_ctes = ""
        pair_src = "e"
        sub_pred = ""
    else:
        cap_ctes = f""",
sz AS (SELECT bkt, count(*) AS bsz FROM e GROUP BY bkt),
es AS (SELECT e.id, e.v, e.label, e.bkt,
              ('0x' || substr(md5(CAST(e.id AS VARCHAR)), 1, 8))::BIGINT
                % GREATEST(1, CAST(CEIL(bsz / {bucket_cap}.0) AS BIGINT)) AS sub
       FROM e JOIN sz USING (bkt))"""
        pair_src = "es"
        sub_pred = "AND a.sub = b.sub "
    # zero-norm / NULL vectors filtered BEFORE bucket sizing, exactly
    # where mine_triplets filters them (nrm > 0) — a NaN cosine would
    # sort FIRST in DuckDB's DESC window and hijack the hardest-negative
    # pick, while the engine kernel excludes NaN from argmin/argmax.
    from ipes_data_pipeline_spark.queries.dataops import SQL_DDOT

    dd = SQL_DDOT.format(a="embedding", b="embedding")
    return f"""
WITH e AS (SELECT vec_id AS id, embedding AS v, label, ({bkt}) AS bkt
           FROM embeddings WHERE {dd} > 0){cap_ctes},
p AS (SELECT a.id AS id_a, a.label AS lab_a, b.id AS id_b,
             b.label AS lab_b, {cos} AS sim
      FROM {pair_src} a JOIN {pair_src} b
        ON a.bkt = b.bkt {sub_pred}AND a.id <> b.id),
pos AS (SELECT id_a, id_b AS pos_id, sim AS pos_sim,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY sim ASC, id_b ASC) AS rn
        FROM p WHERE lab_a = lab_b),
neg AS (SELECT id_a, id_b AS neg_id, sim AS neg_sim,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY sim DESC, id_b ASC) AS rn
        FROM p WHERE lab_a <> lab_b)
SELECT pos.id_a AS anchor_id, pos_id, neg_id,
       CAST(ROUND(pos_sim, 6) AS DOUBLE) AS pos_sim,
       CAST(ROUND(neg_sim, 6) AS DOUBLE) AS neg_sim,
       CAST(ROUND(neg_sim - pos_sim, 6) AS DOUBLE) AS violation
FROM pos JOIN neg ON pos.id_a = neg.id_a
WHERE pos.rn = 1 AND neg.rn = 1 AND neg_sim > pos_sim - {margin}
ORDER BY anchor_id"""


@register(
    "q165_triplet_mining",
    "training data: hard-triplet mining for contrastive/metric learning "
    "(FaceNet batch-hard shape) — per anchor the hardest same-label "
    "positive and hardest other-label negative inside sign-LSH buckets, "
    "kept when the margin is violated; the op an embedding trainer runs "
    "per corpus refresh. bucket_cap=256 sub-salt valve ON (q39p pattern, "
    "SQL-expressible salt, inert at gate scale, fires at sf1+)",
    _q165_oracle(bucket_cap=256),
)
def q165(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import mine_triplets

    return mine_triplets(
        t(spark, sf, "embeddings"),
        "vec_id",
        "embedding",
        "label",
        dims=_TRIPLET_DIMS,
        margin=_TRIPLET_MARGIN,
        bucket_cap=256,
    )


# ---------------------------------------- q169: RAG context assembly

_CTX_BUDGET = 400  # tokens; ~half the fused list at testdata lengths


def _q169_oracle(
    k: int = _RRF_K, c: int = _RRF_C, qid: int = _RRF_QID,
    budget: int = _CTX_BUDGET,
) -> str:
    from ipes_data_pipeline_spark.queries.dataops import SQL_TOKENS

    toks = SQL_TOKENS.format(c="text")
    return f"""
WITH fused AS ({_q163_oracle(k, c, qid).strip()}),
d AS (SELECT f.id, f.rrf_score, CAST(len({toks}) AS BIGINT) AS n_tokens
      FROM fused f JOIN documents ON doc_id = f.id),
r AS (SELECT id, rrf_score, n_tokens,
             CAST(row_number() OVER w AS INT) AS position,
             CAST(SUM(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM d WINDOW w AS (ORDER BY rrf_score DESC, id ASC))
SELECT position, id, n_tokens, cum_tokens, rrf_score
FROM r WHERE cum_tokens <= {budget} ORDER BY position"""


@register(
    "q169_context_assembly",
    "retrieval: RAG context assembly — the fused hybrid ranking (q163's "
    "RRF) joined to document text, token-counted with the BM25 "
    "tokenizer, and greedily packed into a fixed context budget "
    "(prefix of the ranking whose running token total fits); the final "
    "stage between retrieval and the prompt. Windows run over the "
    "k-row fused list, never the corpus",
    _q169_oracle(),
)
def q169(spark, sf):
    from pyspark.sql.window import Window

    from ipes_data_pipeline_spark.functions.text import tokens

    fused = q163(spark, sf)  # id, lex_rank, sem_rank, rrf_score (k-row)
    docs = t(spark, sf, "documents").select(
        F.col("doc_id").alias("id"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    # inner join: fused ids that are documents (the id spaces coincide
    # in the testdata; a retrieval hit with no document can't be packed).
    # The per-id aggregate after the join does two jobs: it collapses a
    # hypothetical duplicate document row deterministically (min), and
    # it is the REDUCING node that proves to the plan invariant
    # (tests/test_plan_shapes.py global-window sweep) that the packing
    # windows below run over an id-bounded frame, not raw corpus rows —
    # the join alone is k-row-bounded only because doc_id is unique,
    # which a plan walker cannot see.
    j = (
        fused.join(docs, "id")
        .groupBy("id", "rrf_score")
        .agg(F.min("n_tokens").alias("n_tokens"))
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("id"))
    cum = (
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
    )
    out = j.select(
        F.row_number().over(w).cast("int").alias("position"),
        "id",
        "n_tokens",
        cum.alias("cum_tokens"),
        "rrf_score",
    )
    return out.where(F.col("cum_tokens") <= _CTX_BUDGET).orderBy("position")


# ------------------------------------------- q168: batched-query ANN

_BATCH_QIDS = (0, 7, 13, 21)
_BATCH_K = 10


def _q168_oracle(qids: tuple[int, ...] = _BATCH_QIDS, k: int = _BATCH_K) -> str:
    from ipes_data_pipeline_spark.queries.dataops import SQL_DDOT, _sql_cosine

    cos = _sql_cosine("c.v", "q.qv")
    dd = SQL_DDOT.format(a="embedding", b="embedding")
    in_list = ", ".join(str(q) for q in qids)
    # zero-norm / NULL vectors out of contract on both sides (the
    # mine_triplets rule), self-pairs dropped, rank on RAW doubles,
    # round only the emitted similarity
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id IN ({in_list}) AND {dd} > 0),
c AS (SELECT vec_id AS id, embedding AS v FROM embeddings
      WHERE {dd} > 0),
p AS (SELECT q.qid, c.id, {cos} AS sim
      FROM c CROSS JOIN q WHERE c.id <> q.qid),
r AS (SELECT qid, id, sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, id ASC) AS rank
      FROM p)
SELECT qid, id, CAST(rank AS INT) AS rank,
       CAST(ROUND(sim, 6) AS DOUBLE) AS cos_sim
FROM r WHERE rank <= {k} ORDER BY qid, rank"""


@register(
    "q168_ann_topk_batch",
    "similarity search: BATCHED exact ANN — top-k cosine for a query "
    "SET in one corpus pass (the production retrieval shape: services "
    "and trainers score query batches, not one query per job). The "
    "flipped broadcast regime of the kNN graph: the tiny query matrix "
    "broadcasts, the 100 TB corpus streams, each task emits a Q x k "
    "digest, a per-query window merges — corpus never collected",
    _q168_oracle(),
)
def q168(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import ann_topk_batch

    emb = t(spark, sf, "embeddings")
    return ann_topk_batch(
        emb,
        "vec_id",
        "embedding",
        emb.filter(F.col("vec_id").isin(*_BATCH_QIDS)),
        "vec_id",
        k=_BATCH_K,
    )


# --------------------------------------- q166: binary sign-bit ANN

_BIN_K, _BIN_RERANK, _BIN_QID = 10, 40, 0


def _q166_oracle(
    dim: int = _DIM, k: int = _BIN_K, rerank: int = _BIN_RERANK,
    qid: int = _BIN_QID,
) -> str:
    from ipes_data_pipeline_spark.queries.dataops import _sql_cosine

    def pack(half: int) -> str:
        terms = " + ".join(
            f"CASE WHEN CAST(embedding[{i}] AS DOUBLE) > 0 "
            f"THEN CAST({1 << (i - 1 - 32 * half)} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
            for i in range(1 + 32 * half, 33 + 32 * half)
        )
        return f"({terms})"

    cos = _sql_cosine("e.embedding", "q.v")
    # NULL vectors dropped to mirror the engine (binary_sign_ann filters
    # them); without this a NULL row packs to lo=hi=0 oracle-side (every
    # CASE falls to ELSE) and gets a real Hamming distance.
    return f"""
WITH c AS (SELECT vec_id AS id, {pack(0)} AS lo, {pack(1)} AS hi
           FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT id, lo, hi FROM c WHERE id = {qid}),
h AS (SELECT c.id,
             CAST(bit_count(xor(c.lo, q.lo))
                + bit_count(xor(c.hi, q.hi)) AS INT) AS hamming
      FROM c CROSS JOIN q),
cand AS (SELECT id, hamming FROM h ORDER BY hamming ASC, id ASC
         LIMIT {rerank})
SELECT e.vec_id AS id, cand.hamming,
       CAST(ROUND({cos}, 6) AS DOUBLE) AS cos_sim
FROM cand JOIN embeddings e ON e.vec_id = cand.id
CROSS JOIN (SELECT embedding AS v FROM embeddings
            WHERE vec_id = {qid}) q
ORDER BY cos_sim DESC, id ASC LIMIT {k}"""


@register(
    "q166_binary_sign_ann",
    "similarity search: binary-quantization ANN (FAISS IndexBinaryFlat "
    "gear) — 1 sign bit per dimension packed into two BIGINTs (512x "
    "compression), Hamming scan via XOR+popcount, exact-cosine rerank "
    "of the 40 nearest; completes the quantization ladder "
    "float64 -> SQ8 (q162) -> PQ (q159) -> binary",
    _q166_oracle(),
)
def q166(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import binary_sign_ann

    emb = t(spark, sf, "embeddings")
    return binary_sign_ann(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == _BIN_QID),
        k=_BIN_K, rerank=_BIN_RERANK,
    )
