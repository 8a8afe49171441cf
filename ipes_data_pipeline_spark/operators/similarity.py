"""Similarity search and embedding-pair operators.

Exact scoring:

- :func:`ann_topk_bruteforce` — cosine top-k against one query vector;
  one scan + TakeOrderedAndProject, the correctness baseline.
- :func:`knn_graph` — exact k-NN graph; the corpus is collected,
  normalized and broadcast, the query side streams through one numpy
  matmul per Arrow batch.
- :func:`ann_topk_batch` — exact top-k for a set of queries; the query
  matrix is broadcast and the corpus streams.

Sign-bucket and cell pair family — candidates form only inside a
sign-LSH bucket (:func:`auto_plane_count` sizes the plane count) or a
Lloyd cell, and every operator scores one bucket per Arrow task through
the one in-order Gram fold :func:`_cos_blocks`:

- :func:`knn_graph_bucketed` — approximate k-NN graph (top-k per row);
- :func:`cosine_topk_pairs_lsh` — the k most similar pairs overall;
- :func:`cosine_pairs_bucketed` — every pair at or above a threshold;
- :func:`semdedup` — SemDeDup's per-cell first dominator;
- :func:`mine_triplets` — batch-hard positive and negative per anchor.

Indexed ANN gears:

- :func:`ann_topk_ivf` — flat IVF whose cells are sign buckets;
- :func:`ann_topk_ivf_kmeans_lloyd` — flat IVF over deterministic Lloyd
  cells;
- :func:`ivfpq_topk` — product quantization, optionally behind an IVF
  coarse stage;
- :func:`sq8_topk` — 8-bit scalar quantization;
- :func:`binary_sign_ann` — one sign bit per dimension, Hamming scan
  plus exact rerank;
- :func:`mmr_rerank` — maximal-marginal-relevance re-rank of cosine
  candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ipes_data_pipeline_spark import conf
from ipes_data_pipeline_spark.functions.vectors import cosine, norm, sign_bucket
from ipes_data_pipeline_spark.operators.util import cut, local_frame, sub_salt


def ann_topk_bruteforce(
    df: DataFrame, id_col: str, vec_col: str, query_df: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine against a (broadcast) 1-row query vector."""
    q = F.broadcast(query_df.select(F.col(vec_col).alias("q_vec")))
    scored = df.crossJoin(q).select(
        F.col(id_col).alias("id"),
        cosine(F.col(vec_col), F.col("q_vec")).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("id")).limit(k)


def knn_graph(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    corpus_df: DataFrame | None = None,
    max_corpus_bytes: int = 2 << 30,
) -> DataFrame:
    """Exact cosine k-NN graph: for every vector, its top-k neighbors.

    The batch similarity join behind embedding-level corpus dedup,
    clustering, and retrieval eval — the all-pairs generalization of
    :func:`ann_topk_bruteforce` (one query) to every row at once.

    Physical shape (the broadcast-join regime, not a cross join): the
    corpus side is collected once, L2-normalized into one float64
    matrix, and broadcast to every executor — the same memory contract
    as a broadcast hash join (corpus fits per-executor; when it does
    not, shard the corpus by sign-LSH bucket — see
    :func:`knn_graph_bucketed`).
    The query side streams through ``mapInPandas`` in Arrow batches:
    one numpy matmul scores the whole batch against the corpus
    (vectorized — orders of magnitude over a per-pair fold),
    ``argpartition``+lexsort takes top-k per row, ties break on
    ascending neighbor id. The plan is scan → mapInPandas: zero
    shuffles, and the query side scales out linearly with executors.

    Self-pairs (same id on both sides) are excluded. Null vectors are
    out of contract: the sizing job counts the corpus's, and a null
    query vector fails its task, both with a ``ValueError`` naming
    ``knn_graph``.

    GUARD: the broadcast regime collects the corpus to the driver, so
    the corpus size is bounded BEFORE any row moves — one distributed
    ``count`` plus a 1-row ``head`` estimate the matrix at
    ``rows × dim × 8`` bytes (float64), and anything above
    ``max_corpus_bytes`` (default 2 GiB) raises with a pointer to
    :func:`knn_graph_bucketed` instead of OOM-ing the driver. The
    switch is NOT automatic because the bucketed form is approximate —
    silently trading exactness for scale is the caller's call, not
    this function's.
    """
    import numpy as np

    out_schema = "id bigint, neighbor_id bigint, cos_sim double"
    corpus = (corpus_df if corpus_df is not None else df).select(
        F.col(id_col), F.col(vec_col)
    )
    # one distributed job sizes the corpus (count + dim together) and
    # counts its null vectors — a separate count-then-head pair
    # re-executed the corpus lineage twice before the collect even
    # started. dim is read over non-null vectors only: size(null) is -1
    # with ANSI off, so a leading null vector would otherwise size the
    # corpus at one dimension.
    stats = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col(vec_col).isNull(), 1)).alias("n_null"),
        F.max(
            F.when(F.col(vec_col).isNotNull(), F.size(F.col(vec_col)))
        ).alias("dim"),
    ).first()
    n_corpus = stats["n"]
    if n_corpus == 0:
        return local_frame(df.sparkSession, [], out_schema)
    dim = stats["dim"] or 0
    est_bytes = n_corpus * max(dim, 1) * 8
    if est_bytes > max_corpus_bytes:
        raise ValueError(
            f"knn_graph broadcast-regime corpus is ~{est_bytes / 2**30:.1f} GiB "
            f"({n_corpus} rows x {dim} dims x 8 B) > max_corpus_bytes="
            f"{max_corpus_bytes / 2**30:.1f} GiB. The corpus no longer fits "
            "the per-executor broadcast contract - use knn_graph_bucketed "
            "(sign-LSH sharded, per-task memory = one bucket, approximate) "
            "or raise max_corpus_bytes if executors have the headroom."
        )
    if stats["n_null"]:
        raise ValueError(
            f"knn_graph: {stats['n_null']} of {n_corpus} corpus vectors "
            "are null; filter them out (v IS NOT NULL) first"
        )
    rows = corpus.collect()
    c_ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    nrm[nrm == 0.0] = 1.0
    mat /= nrm
    col_of = {int(i): j for j, i in enumerate(c_ids)}
    bc = df.sparkSession.sparkContext.broadcast((c_ids, mat, col_of))

    def score(batches):
        import pandas as pd

        ids_c, m, idx = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            n_null = int(pdf[vec_col].isna().sum())
            if n_null:
                raise ValueError(
                    f"knn_graph: {n_null} query vectors are null; filter "
                    "them out (v IS NOT NULL) first"
                )
            q = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            qn[qn == 0.0] = 1.0
            sims = (q / qn) @ m.T
            q_ids = pdf[id_col].to_numpy()
            for r, qid in enumerate(q_ids):
                j = idx.get(int(qid))
                if j is not None:
                    sims[r, j] = -np.inf
            # top-k per row, ranked by (-sim, neighbor_id). np.partition
            # finds the kth-largest sim; every candidate >= that value is
            # kept (so exact-tie groups at the boundary survive), then
            # lexsort breaks ties by ascending neighbor id — matching
            # the oracle's ORDER BY cos_sim DESC, neighbor_id.
            # The self slot is subtracted per row: only a query id that
            # actually appears in the corpus loses one candidate (its
            # masked self-pair); disjoint query/corpus keeps all columns.
            out_id, out_nb, out_cs = [], [], []
            for r in range(sims.shape[0]):
                self_slot = 1 if idx.get(int(q_ids[r])) is not None else 0
                kk = min(k, sims.shape[1] - self_slot)
                if kk <= 0:
                    continue
                kth = np.partition(-sims[r], kk - 1)[kk - 1]
                cand = np.nonzero(-sims[r] <= kth)[0]
                order = np.lexsort((ids_c[cand], -sims[r, cand]))[:kk]
                top = cand[order]
                out_id.extend([int(q_ids[r])] * len(top))
                out_nb.extend(ids_c[top].tolist())
                out_cs.extend(sims[r, top].tolist())
            yield pd.DataFrame(
                {"id": out_id, "neighbor_id": out_nb, "cos_sim": out_cs}
            )

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, out_schema
    )


def ann_topk_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    qid_col: str,
    k: int = 10,
    max_query_bytes: int = 1 << 28,
) -> DataFrame:
    """Batched exact ANN: top-k cosine neighbors for a SET of query
    vectors in one corpus pass — the production shape of retrieval
    scoring (a trainer or RAG service scores query batches, not one
    query per job; q46/q162/q166 are the single-query oracles).

    Physical shape — the FLIPPED broadcast regime of :func:`knn_graph`:
    there the corpus is collected and broadcast and the query side
    streams (right when queries outnumber a corpus that fits per
    executor); here the QUERY matrix is collected and broadcast
    (bounded by ``max_query_bytes`` — a query batch is KiBs-to-MBs) and
    the CORPUS streams through ``mapInPandas`` in Arrow batches, so the
    100 TB corpus is never collected anywhere. Each task keeps a
    running per-query top-k across its batches and emits at most
    ``n_queries x k`` rows; the only exchange is that per-task digest
    (parts x Q x k rows), merged by a window PARTITIONED BY query id —
    a k-row-per-group frame, never a global window over raw rows.
    Within-task truncation to k is lossless: a dropped candidate has k
    same-or-better (sim, id)-ranked rows above it in its own task, so
    it can never enter the global top-k.

    Determinism (q168 value-check): dots accumulate per-dimension IN
    ORDER (:func:`_cos_blocks`' fold — bit-identical to the oracle's
    ``list_reduce``), norms via :func:`_bucket_norms` (same fold as
    ``sqrt(dot(v,v))``), ranks compare RAW doubles, ties break on
    ascending corpus id, only the emitted cos_sim is rounded.
    Zero-norm / NULL vectors are out of contract on BOTH sides
    (filtered; a NaN cosine would hijack DuckDB's DESC ordering —
    the mine_triplets rule). Self-pairs (qid == corpus id) drop.
    """
    import numpy as np

    from ipes_data_pipeline_spark.operators.util import spread

    out_schema = "qid bigint, id bigint, cos_sim double"
    # One shared final schema for BOTH empty returns and the normal
    # path, so column ORDER matches (positional unions with the
    # non-empty shape would silently swap rank/cos_sim otherwise).
    final_schema = "qid bigint, id bigint, rank int, cos_sim double"
    q = query_df.select(F.col(qid_col), F.col(vec_col)).where(
        F.col(vec_col).isNotNull()
    )
    stats = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col)), ignorenulls=True).alias("dim"),
    ).first()
    n_q, dim = stats["n"], max(stats["dim"] or 0, 0)
    if n_q == 0:
        return local_frame(df.sparkSession, [], final_schema)
    est = n_q * max(dim, 1) * 8
    if est > max_query_bytes:
        raise ValueError(
            f"ann_topk_batch query batch is ~{est / 2**20:.0f} MiB "
            f"({n_q} queries x {dim} dims x 8 B) > max_query_bytes="
            f"{max_query_bytes / 2**20:.0f} MiB. Split the batch into "
            "broadcastable chunks and union the results, or flip to "
            "knn_graph (stream the queries, broadcast the corpus) if "
            "the corpus is the smaller side."
        )
    rows = q.collect()
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    Qm = np.array([r[1] for r in rows], dtype=np.float64)
    qn = _bucket_norms(Qm)
    ok = qn > 0.0  # zero-norm queries: out of contract, dropped
    q_ids, Qm, qn = q_ids[ok], Qm[ok], qn[ok]
    if len(q_ids) == 0:
        return local_frame(df.sparkSession, [], final_schema)
    bc = df.sparkSession.sparkContext.broadcast((q_ids, Qm, qn))
    chunk_cells = _GRAM_CHUNK_CELLS  # closure-captured (worker re-imports)

    def score(batches):
        import pandas as pd

        ids_q, Q, nq_ = bc.value
        acc_sims = [[] for _ in ids_q]
        acc_ids = [[] for _ in ids_q]
        acc_len = [0] * len(ids_q)

        def _compact(j):
            # merge-and-truncate a query's accumulator back to its
            # best k — keeps per-task memory O(Q x k) instead of
            # O(batches x Q x k). Lossless: a row dropped here has k
            # same-or-better (sim, id)-ranked rows above it in this
            # task, so it can never enter the global top-k. Same
            # lexsort tie-break as the final emit.
            sims = np.concatenate(acc_sims[j])
            cids = np.concatenate(acc_ids[j])
            order = np.lexsort((cids, -sims))[:k]
            acc_sims[j] = [sims[order]]
            acc_ids[j] = [cids[order]]
            acc_len[j] = len(order)

        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = _bucket_norms(V)
            live = vn > 0.0  # zero-norm corpus rows: out of contract
            if not live.all():
                c_ids, V, vn = c_ids[live], V[live], vn[live]
            if len(c_ids) == 0:
                continue
            # |batch| x |queries| cosines; queries are few, so this is
            # one block unless the batch is huge
            cos = np.concatenate(
                [c for _, _, c in _cos_blocks(V, Q, vn, nq_, chunk_cells)]
            )
            for j in range(len(ids_q)):
                col = cos[:, j]
                keep = c_ids != ids_q[j]  # self-pair drops
                cand_ids, cand = c_ids[keep], col[keep]
                if len(cand) > k:
                    kth = np.partition(-cand, k - 1)[k - 1]
                    sel = np.nonzero(-cand <= kth)[0]
                    order = np.lexsort((cand_ids[sel], -cand[sel]))[:k]
                    sel = sel[order]
                    cand_ids, cand = cand_ids[sel], cand[sel]
                acc_sims[j].append(cand)
                acc_ids[j].append(cand_ids)
                acc_len[j] += len(cand)
                if acc_len[j] > 8 * k:
                    _compact(j)
        out_q, out_id, out_cs = [], [], []
        for j in range(len(ids_q)):
            if not acc_sims[j]:
                continue
            sims = np.concatenate(acc_sims[j])
            cids = np.concatenate(acc_ids[j])
            order = np.lexsort((cids, -sims))[:k]
            out_q.extend([int(ids_q[j])] * len(order))
            out_id.extend(cids[order].tolist())
            out_cs.extend(sims[order].tolist())
        yield pd.DataFrame({"qid": out_q, "id": out_id, "cos_sim": out_cs})

    corpus = spread(
        df.select(F.col(id_col), F.col(vec_col)).where(
            F.col(vec_col).isNotNull()
        )
    )
    from pyspark.sql.window import Window

    local = corpus.mapInPandas(score, out_schema)
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            "id",
            F.col("rank").cast("int").alias("rank"),
            F.round("cos_sim", 6).cast("double").alias("cos_sim"),
        )
        .orderBy("qid", "rank")
    )


# Plane pool for count-adaptive bucketing (dims=None). The first four
# ARE the historical fixed default, so auto mode at small N (P clamps
# to 4) produces bit-identical buckets to the oracle-pinned q118. 20
# planes cap the bucket space at ~1M buckets; past that (N ≈ 256·2^20
# ≈ 268M vectors per partition-group) shard the corpus first.
_AUTO_PLANES: tuple[int, ...] = (
    1, 9, 17, 25, 5, 13, 21, 29, 33, 41, 49, 57, 37, 45, 53, 61, 3, 11, 19, 27,
)


def auto_plane_count(n: int, target_bucket: int = 256) -> int:
    """ceil(log2(N / target_bucket)) clamped to [4, len(_AUTO_PLANES)].

    Keeps E[bucket size] ≈ target_bucket as the corpus grows, so the
    per-bucket Gram work in :func:`knn_graph_bucketed` stays constant
    per row instead of growing linearly with N (quadratic total). The
    formula is SQL-expressible (the q118a oracle computes the same P
    with LEAST/GREATEST/ceil/log2 and truncates the sign string), which
    is what keeps the adaptive path value-checkable.
    """
    import math

    if n <= 0:
        return 4
    return min(len(_AUTO_PLANES), max(4, math.ceil(math.log2(n / float(target_bucket)))))


#: row-block budget of :func:`_cos_blocks`: a block is chunk × |bucket|
#: doubles, capped at 2^25 cells (256 MB) so a hot bucket bounds task
#: memory instead of allocating |bucket|² at once
_GRAM_CHUNK_CELLS = 1 << 25


def _bucket_norms(mat):
    """Per-vector L2 norms with the same per-dimension accumulation
    order as ``dot(v, v)`` (and the Gram diagonal)."""
    import numpy as np

    nrm2 = np.zeros(mat.shape[0])
    for d in range(mat.shape[1]):
        nrm2 += mat[:, d] * mat[:, d]
    return np.sqrt(nrm2)


def _cos_blocks(P, C, p_nrm, c_nrm, chunk_cells):
    """Yield ``(a, b, cos)``: row blocks of the ``P[a:b] × C`` cosine
    matrix — the one scoring kernel of the bucketed pair family.

    Dots accumulate per dimension IN ORDER, ``block += outer(P[:, d],
    C[:, d])``: the exact IEEE fold of :func:`dot`'s ``zip_with`` +
    ``aggregate`` (and of the SQL oracles' ``list_reduce``), vectorized
    across pairs, so values stay bit-identical cross-engine while
    running ~100× faster than an interpreted per-pair fold. The divisor
    is ``p_nrm[i] · c_nrm[j]`` (:func:`_bucket_norms`, the fold of
    ``sqrt(dot(v, v))``); a zero-norm pair is 0/0 = NaN, where Spark's
    division yields NULL. Products commute, so over ``C = P`` a row
    block holds the same bits as the matching column block (the Gram is
    exactly symmetric). A block holds at most ``chunk_cells`` cells —
    a hot bucket costs more blocks, never more memory; callers capture
    ``_GRAM_CHUNK_CELLS`` on the driver, because workers re-import this
    module and would not see a test's override.
    """
    import numpy as np

    n_c = C.shape[0]
    step = max(1, chunk_cells // max(n_c, 1))
    for a in range(0, P.shape[0], step):
        b = min(a + step, P.shape[0])
        block = np.zeros((b - a, n_c))
        for d in range(P.shape[1]):
            block += np.outer(P[a:b, d], C[:, d])
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = block / np.outer(p_nrm[a:b], c_nrm)
        yield a, b, cos


def _by_id(pdf):
    """``(order, ids, V)``: one bucket's rows in ascending-id order (so
    a first-hit argmax or a stable sort breaks ties toward the lower
    id) and its ``v`` column as a float64 matrix. A NULL vector becomes
    a zero row: it scores NaN against every row, as Spark's NULL dot
    does."""
    import numpy as np

    ids = pdf["id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    vs = pdf["v"].to_numpy()[order]
    dim = max((len(v) for v in vs if v is not None), default=0)
    V = np.stack([np.zeros(dim) if v is None else v for v in vs])
    return order, ids[order], V.astype(np.float64)


def _sign_keyed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: tuple[int, ...] | None,
    target_bucket: int = 256,
) -> DataFrame:
    """``(id, v: array<double>, bkt)``: the keying step of the sign-bucket
    operators. ``dims=None`` takes the first :func:`auto_plane_count`
    planes of ``_AUTO_PLANES`` (one count job); the count only picks a
    PLAN, the way AQE sizes shuffles at runtime."""
    if dims is None:
        dims = _AUTO_PLANES[: auto_plane_count(df.count(), target_bucket)]
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        sign_bucket(F.col(vec_col), dims).alias("bkt"),
    )


def knn_graph_bucketed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dims: tuple[int, ...] | None = (1, 9, 17, 25),
    target_bucket: int = 256,
) -> DataFrame:
    """Approximate k-NN graph with a sign-LSH-sharded corpus — the
    scale path for :func:`knn_graph` when the corpus does NOT fit
    per-executor.

    Candidates form only inside a bucket, so the shuffle key is the
    bucket id and each task scores one bucket through
    :func:`_cos_blocks` — corpus memory per task is |bucket|, not
    |corpus|. Recall is traded for that bound (neighbors straddling a
    sign plane are missed). Each task pre-reduces to k candidates per
    row with Spark's ordering (desc cos with NULL last, asc neighbor id), so
    the shuffle carries ≤ k rows per row, not the pair set, and the
    final window's verdicts match a per-pair JVM join bit for bit —
    which is why this approximate index still carries a value-level
    SQL oracle (q118). The join form it replaced paid an interpreted
    fold per pair: 136 s at 20k vectors in 16 buckets, 4× slower than
    brute force.

    ``dims=None`` (the production setting, q118a) picks the plane count
    from the corpus: P = :func:`auto_plane_count` planes taken as a
    prefix of ``_AUTO_PLANES``. Fixed plane counts are the measured
    sf10 failure mode — 16 buckets over 200k vectors put ~12.5k rows
    per bucket and the in-bucket Gram grew exactly N²/16 (149× wall for
    10× rows, BENCH_sf10.json); adaptive P holds bucket size at
    ~target_bucket so total pair work is ~N·target_bucket — linear.
    """
    import numpy as np
    import pandas as pd

    chunk_cells = _GRAM_CHUNK_CELLS

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        _, ids, V = _by_id(pdf)
        nrm = _bucket_norms(V)
        out_id, out_nb, out_cos = [], [], []
        for a, b, cos in _cos_blocks(V, V, nrm, nrm, chunk_cells):
            # a NaN cosine reaches Spark as NULL, which the final window
            # ranks after every real cosine: rank it below them but
            # above the self mask; ascending-id columns make the stable
            # sort break ties toward the LOWER neighbor id, like the window
            rank = np.where(np.isnan(cos), np.finfo(cos.dtype).min, cos)
            rank[ids[a:b, None] == ids[None, :]] = -np.inf  # self
            top = np.argsort(-rank, axis=1, kind="stable")[:, :k]
            rows = np.arange(b - a)[:, None]
            valid = rank[rows, top] > -np.inf
            out_id.append(np.repeat(ids[a:b], valid.sum(axis=1)))
            out_nb.append(ids[top][valid])
            out_cos.append(cos[rows, top][valid])
        return pd.DataFrame(
            {
                "id": np.concatenate(out_id),
                "neighbor_id": np.concatenate(out_nb),
                "cos_sim": np.concatenate(out_cos),
            }
        )

    candidates = (
        _sign_keyed(df, id_col, vec_col, dims, target_bucket)
        .groupBy("bkt")
        .applyInPandas(bucket_topk, "id long, neighbor_id long, cos_sim double")
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def cosine_topk_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: tuple[int, ...] = (1, 9, 17, 25),
    k: int = 50,
) -> DataFrame:
    """Top-k most-similar pairs ``(id_a, id_b, cos_sim)``, ``id_a <
    id_b``, among sign-LSH bucket candidates, ranked by ``cos_sim``
    DESC, then ``id_a``, ``id_b``.

    One ``applyInPandas`` task per bucket scores its pairs through
    :func:`_cos_blocks` and keeps only its own top k — lossless, since
    a dropped pair has k better pairs in its own bucket — and one global
    ``orderBy(...).limit(k)`` merges the buckets. The values are the
    bits of the per-pair JVM fold ``dot(a, b) / (nrm_a · nrm_b)`` (same
    fold order, same norm product). A pair with a zero-norm or NULL
    vector is NULL, as Spark's division by zero is, and ranks after
    every value.
    """
    import numpy as np
    import pandas as pd

    chunk_cells = _GRAM_CHUNK_CELLS

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        _, ids, V = _by_id(pdf)
        nrm = _bucket_norms(V)
        top_a, top_b, top_c, top_key = ids[:0], ids[:0], np.zeros(0), np.zeros(0)
        for a, b, cos in _cos_blocks(V, V, nrm, nrm, chunk_cells):
            # ascending key = Spark's DESC order with NULL (NaN) last;
            # NaN key = not a pair (needs id_a < id_b)
            key = np.where(np.isnan(cos), np.inf, -cos)
            key[ids[a:b, None] >= ids[None, :]] = np.nan
            if key.size > k:
                # the k-th best key bounds the survivors (ties kept);
                # np.partition sorts NaN last, so a NaN k-th key means
                # the block holds fewer than k pairs
                kth = np.partition(key.ravel(), k - 1)[k - 1]
                if not np.isnan(kth):
                    key[key > kth] = np.nan
            ii, jj = np.nonzero(~np.isnan(key))
            id_a = np.concatenate([top_a, ids[a + ii]])
            id_b = np.concatenate([top_b, ids[jj]])
            c = np.concatenate([top_c, cos[ii, jj]])
            kk = np.concatenate([top_key, key[ii, jj]])
            sel = np.lexsort((id_b, id_a, kk))[:k]
            top_a, top_b, top_c, top_key = id_a[sel], id_b[sel], c[sel], kk[sel]
        return pd.DataFrame({"id_a": top_a, "id_b": top_b, "cos_sim": top_c})

    pairs = (
        _sign_keyed(df, id_col, vec_col, dims)
        .groupBy("bkt")
        .applyInPandas(bucket_topk, "id_a long, id_b long, cos_sim double")
    )
    return pairs.orderBy(F.desc("cos_sim"), F.asc("id_a"), F.asc("id_b")).limit(k)


def cosine_pairs_bucketed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: tuple[int, ...] | None = (1, 9, 17, 25),
    threshold: float = 0.3,
    target_bucket: int = 256,
) -> DataFrame:
    """All same-sign-bucket pairs with cosine ≥ ``threshold``:
    ``(id_a, id_b, cos_sim)`` with ``id_a < id_b``.

    q133's building block as ONE ``applyInPandas`` task per bucket
    scoring through :func:`_cos_blocks`, so the output value-checks
    cross-engine. Shuffle key = bucket; per-task memory = one capped
    block (``_GRAM_CHUNK_CELLS``) — qualifying PAIRS stream out per
    block, so only the ≥ threshold survivors are ever held.

    ``dims=None`` picks the plane count from the corpus exactly like
    :func:`knn_graph_bucketed`: fixed plane counts are the measured
    sf10 failure mode for this family too — 16 buckets over 200k
    vectors made q133's embedding stage the round-6 scaling campaign's
    heaviest remaining quadratic. At small N (P clamps to 4) auto mode
    is bit-identical to the fixed default.
    """
    import numpy as np
    import pandas as pd

    chunk_cells = _GRAM_CHUNK_CELLS

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        _, ids, mat = _by_id(pdf)
        nrm = _bucket_norms(mat)
        out_a, out_b, out_c = [], [], []
        for a, b, cos in _cos_blocks(mat, mat, nrm, nrm, chunk_cells):
            # zero-norm vectors: NaN >= threshold is False — the same
            # exclusion the SQL fold produces (NULL-div in Spark, NaN
            # in DuckDB); strict i < j only
            hit = cos >= threshold
            hit &= np.arange(a, b)[:, None] < np.arange(len(ids))[None, :]
            ii, jj = np.nonzero(hit)
            out_a.append(ids[a + ii])
            out_b.append(ids[jj])
            out_c.append(cos[ii, jj])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_c),
            }
        )

    return (
        _sign_keyed(df, id_col, vec_col, dims, target_bucket)
        .groupBy("bkt")
        .applyInPandas(pairs, "id_a long, id_b long, cos_sim double")
    )


def _lloyd_train(
    emb: DataFrame,
    n_iter: int,
    n_cells: int | None = None,
    m: int = 0,
    ksub: int = 0,
    residual: bool = False,
    train_limit: int | None = None,
    stats: tuple[int, int] | None = None,
) -> tuple[list | None, list[list]]:
    """DETERMINISTIC Lloyd k-means, the one trainer behind every index:
    ``emb(id, v: array<double>)`` → ``(coarse, books)``.

    - ``coarse``: ``n_cells`` cells over the full vector as
      ``[(c_id, centroid)]`` ascending by c_id (None when ``n_cells`` is
      None) — what q72 and :func:`semdedup` ask for;
    - ``books``: ``m`` codebooks of ``ksub`` codewords, codebook j
      trained on columns ``[j·dsub, (j+1)·dsub)`` (``dsub = dim // m``)
      of ``v``, or of ``v - coarse_centroid(cell(v))`` when
      ``residual`` — the :func:`ivfpq_topk` index. The coarse rounds run
      first, then all m codebooks train together, ``n_iter`` rounds
      each.

    Every source of nondeterminism in library k-means is pinned, so the
    result is bit-stable in ANY engine (what lets q72, q130 and the PQ
    family carry cross-engine value oracles, which ``pyspark.ml``'s
    sampled init cannot):

    - init = the smallest ids' vectors (content-fixed, no sampling);
      centroid labels stay those seed ids across rounds;
    - assignment = argmin squared-L2 with ties broken on ascending
      centroid id, the fold over dimensions sequential in IEEE double
      (:func:`_argmin_cells_blocked`, bit-identical to DuckDB's
      ``list_reduce`` — the q91 pattern); a NaN distance ranks +inf;
    - update = element-wise mean via DECIMAL(18,6) sums — exact
      arithmetic, so summation ORDER cannot change the centroid;
    - empty cells simply drop their centroid row (identically in both
      engines — the group is absent).

    ``train_limit`` bounds the TRAINING set to the ``train_limit``
    smallest-id rows (deterministic, SQL-expressible as ``ORDER BY id
    LIMIT n`` — a TakeOrderedAndProject, no full sort): the FAISS
    ``max_points_per_centroid`` practice. Without it, per-round Lloyd
    work is O(N × cells × dim), which the round-5 sf10 campaign
    measured turning the count-adaptive q130a twin QUADRATIC overall
    (632 s — worse than the fixed-cell form it was meant to fix) the
    moment cells grew with N. The seeds are a prefix of the training
    sample, so fixture-scale corpora under the limit are bit-identical
    with or without it.

    Every round in either regime is one call of the round kernel
    :func:`_lloyd_partials` (count + exact micro-unit sums per
    ``(sub_j, c_id)``) followed by :func:`_lloyd_update` (the means), so
    the regimes agree by construction. The regime is chosen here, once,
    by training bytes (rows × dim × 8) against ``pqDriverTrainMaxBytes``
    (:data:`conf.TABLE`):

    - **driver**: ONE Arrow collect of the training set; each round is
      one kernel call over the matrix. This is how production ANN
      indexes train anyway (a bounded sample, not the full 100 TB), and
      an iterative algorithm over 8 × 64 doubles has no business paying
      a Spark job per round;
    - **distributed**: the training set is cut once and its smallest
      ``max(n_cells, ksub)`` rows collected as seeds; each round is one
      ``mapInPandas`` of the kernel (map-side partials), one
      ``groupBy(sub_j, c_id)`` sum and one collect — for every codebook
      at once, so the job count does not grow with ``m``. Nothing larger
      than the codebooks reaches the driver.

    ``stats`` is the caller's ``(rows, dim)`` from :func:`_vector_stats`
    when it already ran that job; otherwise the training set's stats job
    runs here. Null vectors are out of contract: a null among non-null
    vectors raises ``ValueError`` before either regime starts (an
    all-null set trains nothing, like an empty one).
    """
    import numpy as np

    tr = emb if train_limit is None else emb.orderBy("id").limit(train_limit)
    n_rows, dim = stats or _vector_stats(tr, "_lloyd_train")
    n_train = n_rows if train_limit is None else min(n_rows, train_limit)
    if not dim or not n_train:  # no rows, or no non-null vector to train on
        return (None if n_cells is None else []), []
    n_seeds = max(n_cells or 0, ksub)
    if n_train * dim * 8 <= conf.get(tr.sparkSession, "pqDriverTrainMaxBytes"):
        ids, mat = _collect_matrix(tr)
        seed_ids, seed_mat = ids[:n_seeds], mat[:n_seeds]

        def rounds(books, res):
            x = mat if res is None else _residuals(mat, res)
            units = _micro_units(x)
            for _ in range(n_iter):
                books = _lloyd_update(books, _lloyd_partials(x, units, books))
            return books

    else:
        # the seed collect and every round read the training set: cut it
        # once or its lineage (the ORDER BY id LIMIT, a caller's filter
        # or join) re-executes n_iter + 1 times per stage
        tr = cut(tr)
        rows = tr.orderBy("id").limit(n_seeds).collect()
        seed_ids = np.array([r["id"] for r in rows], dtype=np.int64)
        seed_mat = np.array([r["v"] for r in rows], dtype=np.float64)

        def rounds(books, res):
            for _ in range(n_iter):
                books = _lloyd_update(books, _lloyd_partials_spark(tr, books, res))
            return books

    coarse = books = None
    if n_cells is not None:
        (coarse,) = rounds([(0, seed_ids[:n_cells], seed_mat[:n_cells])], None)
    if m:
        res = coarse[2] if residual else None
        seeds = seed_mat[:ksub] if res is None else _residuals(seed_mat[:ksub], res)
        dsub = dim // m
        books = rounds(
            [
                (j * dsub, seed_ids[:ksub], seeds[:, j * dsub : (j + 1) * dsub])
                for j in range(m)
            ],
            res,
        )

    def pairs(book):
        _, c_ids, cmat = book
        return [(int(c), [float(x) for x in row]) for c, row in zip(c_ids, cmat)]

    return (
        None if coarse is None else pairs(coarse),
        [pairs(b) for b in books or []],
    )


def _micro_units(mat):
    """``mat`` as exact DECIMAL(18,6) micro-units (int64): Spark's
    double→decimal cast (shortest repr, then HALF_UP — Java
    ``BigDecimal.valueOf``) × 1e6. Each element is quantized ONCE, so
    per-cell sums are exact integer adds (order-free) and the mean
    reproduces ``CAST(SUM(DECIMAL) AS DOUBLE) / COUNT(*)`` to the bit.

    Vectorized half-up: ``floor(x·1e6 + 0.5)`` matches the exact
    quantize everywhere except within float error of a .5 tie (and at
    exact ties, where floor-based rounding disagrees with HALF_UP for
    negatives); those rare elements are recomputed exactly. (The
    all-Python Decimal loop was ~50 s at the training cap's 32M
    elements; this is the same result in ~ms.)"""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    micro = Decimal("0.000001")
    flt = mat * 1e6
    units = np.floor(flt + 0.5).astype(np.int64)
    # the suspect window must scale with magnitude: fl(x·1e6) carries
    # relative error up to |x·1e6|·2⁻⁵³, which exceeds a fixed 1e-7 for
    # |x| ≳ 900 — elements within the magnitude-aware window of a .5
    # boundary (and exact ties) fall back to the exact Decimal quantize
    near = np.abs(flt - np.floor(flt) - 0.5) <= np.maximum(
        1e-7, np.abs(flt) * 4e-16
    )
    for idx in zip(*np.nonzero(near)):
        units[idx] = int(
            Decimal(repr(float(mat[idx])))
            .quantize(micro, rounding=ROUND_HALF_UP)
            .scaleb(6)
        )
    return units


def _residuals(mat, cmat):
    """``mat`` minus each row's nearest centroid of ``cmat`` (rows
    ascending by c_id): the :func:`_argmin_cells_blocked` assignment,
    then the elementwise IEEE subtraction :func:`_pq_encode_arrow`
    applies to the encoded rows."""
    return mat - cmat[_argmin_cells_blocked(mat, cmat)]


def _lloyd_partials(mat, units, books):
    """The Lloyd round kernel, shared by both training regimes.

    ``books`` holds every codebook being trained as ``(col0, c_ids,
    cmat)``: centroids ascending by id over columns ``col0 ..
    col0 + width`` of ``mat``; ``units`` is :func:`_micro_units` of
    ``mat``. Returns ``[(sub_j, c_id, n, sums)]`` for every non-empty
    cell — ``sub_j`` the codebook's position in ``books``, ``sums`` the
    exact int64 micro-unit sums of its rows — ready to be summed across
    batches in any order."""
    import numpy as np

    out = []
    for j, (c0, c_ids, cmat) in enumerate(books):
        w = cmat.shape[1]
        cell = _argmin_cells_blocked(mat[:, c0 : c0 + w], cmat)
        n = np.bincount(cell, minlength=len(c_ids))
        live = np.nonzero(n)[0]
        order = np.argsort(cell, kind="stable")
        starts = np.cumsum(n)[live] - n[live]
        sums = np.add.reduceat(units[order, c0 : c0 + w], starts, axis=0)
        out.extend(
            (j, int(c_ids[i]), int(n[i]), s) for i, s in zip(live, sums)
        )
    return out


def _lloyd_partials_spark(tr: DataFrame, books: list, res) -> list:
    """One distributed round of :func:`_lloyd_partials` over ``tr(id,
    v)``: the kernel per Arrow batch (after subtracting each row's
    ``res`` centroid, when given), map-side partial sums, then ONE
    ``groupBy(sub_j, c_id)`` and ONE collect for every codebook at once
    (the codebooks of one call share a width: the full vector, or
    ``dsub``). The sums travel as DECIMAL(38,0): a ``long`` sum wraps
    silently with ANSI off."""
    import numpy as np
    import pandas as pd

    cols = [f"s{i}" for i in range(books[0][2].shape[1])]

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            if res is not None:
                mat = _residuals(mat, res)
            sub_j, c_id, n, sums = zip(
                *_lloyd_partials(mat, _micro_units(mat), books)
            )
            out = pd.DataFrame(np.array(sums, dtype=np.int64), columns=cols)
            out.insert(0, "sub_j", np.array(sub_j, dtype=np.int32))
            out.insert(1, "c_id", np.array(c_id, dtype=np.int64))
            out.insert(2, "n", np.array(n, dtype=np.int64))
            yield out

    schema = "sub_j int, c_id long, n long, " + ", ".join(
        f"{c} long" for c in cols
    )
    agg = (
        tr.mapInPandas(part, schema)
        .groupBy("sub_j", "c_id")
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(F.col(c).cast("decimal(38,0)")).alias(c) for c in cols],
        )
    )
    return [
        (r["sub_j"], r["c_id"], r["n"], [r[c] for c in cols])
        for r in agg.collect()
    ]


def _lloyd_update(books: list, partials) -> list:
    """The next centroids of every codebook from one round's
    ``(sub_j, c_id, n, sums)`` partials — the one mean line of both
    regimes, ``CAST(SUM(DECIMAL(18,6)) AS DOUBLE) / COUNT(*)``. A cell
    with no partial (no rows) drops."""
    from decimal import Decimal

    import numpy as np

    means: list[dict] = [{} for _ in books]
    for j, c_id, n, sums in partials:
        means[j][int(c_id)] = [
            float(Decimal(int(s)).scaleb(-6)) / n for s in sums
        ]
    return [
        (
            c0,
            np.array(sorted(got), dtype=np.int64),
            np.array([got[c] for c in sorted(got)], dtype=np.float64),
        )
        for (c0, _, _), got in zip(books, means)
    ]


def _vector_stats(emb: DataFrame, op: str) -> tuple[int, int]:
    """``(rows, dim)`` of an ``(id, v)`` frame in ONE job. ``dim`` is
    the largest size over non-null vectors, 0 when there are none:
    ``size(null)`` is -1 with ANSI off, so a plain ``first(size(v))``
    reads a leading null vector as a dimension. Null vectors are out of
    contract for the Lloyd trainer and the PQ encode, so a frame mixing
    null and non-null vectors raises ``ValueError`` naming ``op``, the
    same error whichever regime would have run."""
    stats = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("v").isNull(), 1)).alias("n_null"),
        F.max(F.when(F.col("v").isNotNull(), F.size("v"))).alias("dim"),
    ).first()
    n_rows, n_null, dim = stats["n"], stats["n_null"], stats["dim"] or 0
    if n_null and dim:
        raise ValueError(
            f"{op}: {n_null} of {n_rows} vectors are null; filter them "
            "out (v IS NOT NULL) first"
        )
    return n_rows, dim


def _collect_matrix(emb: DataFrame):
    """Collect an ``(id, v)`` frame to an id-sorted ``(ids, mat)`` numpy
    pair via ONE Arrow ``toPandas`` transfer. Value-identical to the
    row-``collect`` it replaces — Arrow carries IEEE doubles and int64
    ids bit-exactly — but columnar: at the driver-regime byte cap the
    pickled-row path spent more wall on deserialization than the Lloyd
    rounds themselves (round-10 measurement, this host: ~3× on the
    50k×64 bench corpus)."""
    import numpy as np

    pdf = emb.select("id", "v").toPandas()
    ids = pdf["id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    return ids[order], mat[order]


def _with_cells(emb: DataFrame, cent: list) -> DataFrame:
    """``(id, c_id, v)``: nearest-cell assignment of ``emb(id, v)``
    against ``cent = [(c_id, centroid)]``, one Arrow batch at a time.
    Centroids ride in the task closure (cells × dim doubles, driver-
    sized like every centroid table here); ``mapInPandas`` is a map
    stage, so there is no shuffle at any corpus scale, and ids pass
    through with the caller's type.

    The argmin is :func:`_argmin_cells_blocked` — the fold the Lloyd
    kernel and the PQ encode share — over centroids sorted ascending by
    c_id:

    - d2 accumulates per-dimension IN ORDER (``acc += diff²`` for d =
      0..dim-1) — the exact left-to-right double fold of the SQL
      oracle's ``list_reduce``;
    - ``argmin``'s first-minimum rule is the (d2, c_id) lexicographic
      tie-break;
    - a NaN d2 (NaN vector component) ranks +inf — Spark and DuckDB
      order NaN above every double, so such a centroid loses to any
      finite one and an all-NaN row falls to the lowest c_id.
    """
    import numpy as np
    import pandas as pd

    order = sorted(range(len(cent)), key=lambda i: cent[i][0])
    c_ids = np.array([cent[i][0] for i in order], dtype=np.int64)
    cmat = np.array([cent[i][1] for i in order], dtype=np.float64)
    id_dt = emb.schema["id"].dataType.simpleString()

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "c_id": c_ids[_argmin_cells_blocked(mat, cmat)],
                    "v": pdf["v"],
                }
            )

    return emb.mapInPandas(assign, f"id {id_dt}, c_id long, v array<double>")


def ann_topk_ivf_kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    n_cells: int = 8,
    n_iter: int = 3,
    k: int = 10,
) -> DataFrame:
    """IVF ANN over deterministic Lloyd cells
    (:func:`_lloyd_train`), value-checkable cross-engine (q72).
    Same scale shape as :func:`ann_topk_ivf`: assignment is an
    equi-join on the cell id, the probe touches one cell, no cross
    join of the corpus."""
    emb = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    rows, _ = _lloyd_train(emb, n_iter, n_cells=n_cells)
    if not rows:
        return local_frame(df.sparkSession, [], "id long, cos_sim double")
    q = query_df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # cell and vector stay PAIRED in one broadcast row per query — two
    # separate broadcasts would cartesian query A's cell with query B's
    # vector when query_df has more than one row
    q_info = F.broadcast(
        _with_cells(q, rows).select(
            F.col("c_id").alias("q_cell"), F.col("v").alias("q_vec")
        )
    )
    return (
        # _with_cells carries v through assignment — no emb re-join
        _with_cells(emb, rows)
        .join(q_info, F.col("c_id") == F.col("q_cell"))
        .select(F.col("id"), cosine(F.col("v"), F.col("q_vec")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("id"))
        .limit(k)
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    n_iter: int = 3,
    threshold: float = 0.4,
    centroids: list[tuple[int, list[float]]] | None = None,
    train_limit: int | None = None,
) -> DataFrame:
    """Semantic dedup, SemDeDup-shaped (Abbas et al. 2023, arXiv
    2303.09540): cluster embeddings, then prune within clusters only —
    a vector is dropped iff some SAME-CLUSTER vector with a smaller id
    is ``threshold``-cosine-similar to it.

    Returns one row per input vector:
    ``(id, c_id, dominator, keep)`` where ``dominator`` is the smallest
    such similar neighbor (NULL for survivors) and ``keep = dominator
    IS NULL``. The drop rule is a single anti-join pass (no iteration):
    deterministic, order-free, and exactly expressible in SQL — which
    is what lets the operator carry a cross-engine value oracle (q130)
    on top of the :func:`_lloyd_train` cells q72 already value-checks.

    Scale shape: clustering is the Lloyd loop (driver regime under the
    training cap, one (cell × dim)-bounded aggregate per round above
    it); the prune shuffles on the CLUSTER id only — one
    ``applyInPandas`` task per cell, so candidate pairs are Σ|cell|²,
    never |n|², and ``n_cells`` is the lever that caps per-task work
    (the paper's √n-clusters regime). Inside a cell the pairwise
    cosines come from :func:`_cos_blocks` — the Arrow-batched form of
    the same left-to-right double fold the SQL oracle runs (an
    interpreted per-pair ``aggregate`` fold was measured 100× slower at
    250k pairs), so the verdicts stay bit-identical cross-engine while
    task memory stays one capped block, never |cell|².

    ``train_limit`` bounds Lloyd training to the smallest-id sample
    (see :func:`_lloyd_train`) — mandatory once ``n_cells``
    grows with the corpus, or training itself goes quadratic.
    """
    import numpy as np
    import pandas as pd

    emb = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # callers that already ran the Lloyd loop (or hold stored centroids)
    # pass them in and skip the n_iter round-trip entirely
    rows = (
        centroids
        if centroids is not None
        else _lloyd_train(emb, n_iter, n_cells=n_cells, train_limit=train_limit)[0]
    )
    if not rows:  # empty input: one verdict row per input vector = none
        return local_frame(
            df.sparkSession,
            [], "id long, c_id long, dominator long, keep boolean"
        )

    chunk_cells = _GRAM_CHUNK_CELLS  # closure-captured (worker re-imports)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        order, ids, mat = _by_id(pdf)
        n = len(ids)
        nrm = _bucket_norms(mat)
        has = np.zeros(n, dtype=bool)
        first = np.zeros(n, dtype=np.int64)
        for a, b, cos in _cos_blocks(mat, mat, nrm, nrm, chunk_cells):
            # dominator[j] = smallest-id i < j with cos >= threshold; the
            # Gram is symmetric and ids ascend with the index, so it is
            # row j's first qualifying column left of the diagonal.
            # Zero-norm vectors: NaN >= threshold is False, the same
            # never-dominates verdict the SQL fold produces.
            hit = cos >= threshold
            hit &= np.arange(n)[None, :] < np.arange(a, b)[:, None]
            has[a:b] = hit.any(axis=1)
            first[a:b] = hit.argmax(axis=1)  # first True column (0 if none)
        dom = np.where(has, ids[first], 0)
        return pd.DataFrame(
            {
                "id": ids,
                "c_id": pdf["c_id"].to_numpy()[order],
                "dominator": pd.array(
                    np.where(has, dom, None), dtype="Int64"
                ),
                "keep": ~has,
            }
        )

    return (
        _with_cells(emb, rows)
        .groupBy("c_id")
        .applyInPandas(prune, "id long, c_id long, dominator long, keep boolean")
    )


def ann_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    probe_dims: tuple[int, ...] = (1, 9, 17),
    k: int = 10,
) -> DataFrame:
    """IVF-shaped ANN: coarse-quantize by sign bucket on ``probe_dims``
    (a deterministic stand-in for k-means cells), search only the query's
    cell. Recall < 1 by design; the exactness baseline is
    :func:`ann_topk_bruteforce`.
    """
    cell = sign_bucket(F.col(vec_col), probe_dims)
    keyed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), cell.alias("cell"))
    q = F.broadcast(
        query_df.select(F.col(vec_col).alias("q_vec"), cell.alias("q_cell"))
    )
    return (
        keyed.join(q, keyed.cell == F.col("q_cell"))
        .select(F.col("id"), cosine(F.col("v"), F.col("q_vec")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("id"))
        .limit(k)
    )


def _d2_fold(v, cv):
    """Sequential squared-L2 fold over paired arrays — the exact IEEE
    op order of the SQL oracle's ``list_reduce`` (and of every numpy d2
    in this module: see :func:`_argmin_cells_blocked`)."""
    diff2 = F.zip_with(
        v,
        cv,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)


def _query_vector(query_df: DataFrame, vec_col: str, op: str) -> list[float]:
    """The query vector of a single-query gear, collected ONCE to the
    driver: ``query_df`` must hold exactly one row whose vector is
    non-null with no null elements, else a ``ValueError`` naming ``op``
    (instead of an opaque ``float(None)`` TypeError further down).
    Collecting once both pins the contract and keeps the query plan
    from re-executing per subspace or per use; batch queries compose by
    looping, or by carrying a q_id through the scoring join."""
    qrows = query_df.select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if len(qrows) != 1:
        raise ValueError(
            f"{op} expects exactly one query row, got {len(qrows)}"
        )
    qraw = qrows[0]["v"]
    if qraw is None or any(x is None for x in qraw):
        raise ValueError(
            f"{op} query vector must be non-null with no null elements"
        )
    return [float(x) for x in qraw]


def _argmin_cells_blocked(mat, cmat):
    """Blocked argmin-squared-L2 of ``mat`` rows against ``cmat`` rows:
    per-dimension in-order accumulation, NaN→+inf, first-minimum
    tie-break over centroids the CALLER keeps ascending by id. The one
    assignment fold behind :func:`_with_cells`, the Lloyd round kernel
    (:func:`_lloyd_partials`), the training residuals and the PQ
    encode, so they cannot drift.

    Row-blocked with preallocated buffers: arithmetic is
    element-for-element identical to the naive ``d2 += diff * diff``
    loop (same per-element op order, so IEEE results — and oracle
    verdicts — cannot move), but a 512-row block keeps diff/d2 resident
    in cache instead of streaming an N × cells temporary through DRAM
    per dimension (3× less memory traffic; this fold is the dominant
    cost of count-adaptive cell assignment at sf10)."""
    import numpy as np

    best = np.empty(len(mat), dtype=np.int64)
    blk = 512
    for s in range(0, len(mat), blk):
        m_ = mat[s : s + blk]
        d2 = np.zeros((len(m_), len(cmat)))
        diff = np.empty_like(d2)
        for d in range(cmat.shape[1]):
            np.subtract(m_[:, d, None], cmat[None, :, d], out=diff)
            np.multiply(diff, diff, out=diff)
            np.add(d2, diff, out=d2)
        np.copyto(d2, np.inf, where=np.isnan(d2))
        best[s : s + blk] = np.argmin(d2, axis=1)
    return best


def _pq_encode_arrow(
    src: DataFrame,
    cents_by_sub: list,
    dsub: int,
    coarse: list | None = None,
    probes: list | None = None,
    residual: bool = False,
) -> DataFrame:
    """ONE Arrow pass over ``src(id, v)`` emitting the PQ code stream
    for all ``m`` subspaces — ``(id, sub_j, code)``, plus a ``cell``
    column when a ``coarse`` stage is fused in. The only PQ encoder:
    :func:`ivfpq_topk` calls it once, after either training regime
    (the distributed regime is training only).

    One scan replaces the m per-subspace :func:`_with_cells` map passes
    (and, with ``coarse``, a separate coarse-assignment pass + candidate
    ``cut``) that each re-read the corpus: the round-10 plan audit had
    q159/q160/q161 paying 4–6 scans and 2–3 localCheckpoint
    materializations per query where one scan suffices (guide §1.2:
    fix the pass count before the per-task work).

    Value identity with training and :func:`_with_cells`, term by term:

    - per-subspace assignment is :func:`_argmin_cells_blocked` over the
      subspace's column range — the identical per-dimension IEEE fold,
      NaN and tie semantics of :func:`_with_cells` and of the Lloyd
      kernel;
    - the fused coarse stage assigns on the FULL vector with the same
      fold, filters ``cell ∈ probes``, and (``residual=True``) subtracts
      the own-cell centroid elementwise in IEEE double — the
      subtraction :func:`_residuals` applies to the training rows,
      applied after the probe filter (same surviving rows, same
      values);
    - ids pass through untouched (any Spark type), so downstream joins
      and the final top-k see exactly the rows a per-subspace plan
      would.

    At 100 TB this is still a pure map stage: codebooks + coarse
    centroids ride in the task closure (m × ksub × dsub + cells × dim
    doubles — driver-sized forever, whichever regime trained them), and
    the emitted stream is m rows of (id, two small ints) per surviving
    vector — the only exchange downstream carries one decimal per
    vector after the map-side partial SUM.
    """
    import numpy as np
    import pandas as pd

    m = len(cents_by_sub)
    sub_ids, sub_mats = [], []
    for cent in cents_by_sub:
        order = sorted(range(len(cent)), key=lambda i: cent[i][0])
        sub_ids.append(np.array([cent[i][0] for i in order], dtype=np.int64))
        sub_mats.append(
            np.array([cent[i][1] for i in order], dtype=np.float64)
        )
    with_cell = coarse is not None
    if with_cell:
        corder = sorted(range(len(coarse)), key=lambda i: coarse[i][0])
        c_ids = np.array([coarse[i][0] for i in corder], dtype=np.int64)
        c_mat = np.array([coarse[i][1] for i in corder], dtype=np.float64)
        probe_arr = np.array(sorted(probes), dtype=np.int64)
    id_dt = src.schema["id"].dataType.simpleString()
    schema = (
        f"id {id_dt}, cell long, sub_j int, code long"
        if with_cell
        else f"id {id_dt}, sub_j int, code long"
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy()
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            cells = None
            if with_cell:
                cells = c_ids[_argmin_cells_blocked(mat, c_mat)]
                keep = np.isin(cells, probe_arr)
                ids, mat, cells = ids[keep], mat[keep], cells[keep]
                if len(ids) == 0:
                    continue
                if residual:
                    pos = np.searchsorted(c_ids, cells)
                    mat = mat - c_mat[pos]
            codes = [
                sub_ids[j][
                    _argmin_cells_blocked(
                        mat[:, j * dsub : (j + 1) * dsub], sub_mats[j]
                    )
                ]
                for j in range(m)
            ]
            data = {"id": np.concatenate([ids] * m)}
            if with_cell:
                data["cell"] = np.concatenate([cells] * m)
            data["sub_j"] = np.repeat(np.arange(m, dtype=np.int32), len(ids))
            data["code"] = np.concatenate(codes)
            yield pd.DataFrame(data)

    return src.mapInPandas(encode, schema)


def _pq_query_dtab(
    spark, qv_rows: list, cents_by_sub: list, dsub: int, with_cell: bool
) -> DataFrame:
    """The query's ADC distance tables as ONE small engine-side frame:
    ``(sub_j, code, d2)`` (plus ``cell`` for the residual family, where
    each probed cell owns its own tables). ``qv_rows`` is
    ``[(cell_or_None, query_vector)]``. Each entry is computed ENGINE-
    side (``F.round(...).cast(decimal)``) so the decimal rounding
    matches the SQL oracle's ROUND exactly. All m codebooks and all
    query slices are one frame each, joined on ``sub_j``, so the table
    costs one broadcast whatever ``m`` is."""
    m = len(cents_by_sub)
    books = local_frame(
        spark,
        [(j, c, v) for j, cent in enumerate(cents_by_sub) for c, v in cent],
        "sub_j int, code long, c_vec array<double>",
    )
    q_df = local_frame(
        spark,
        [
            (cell, j, v[j * dsub : (j + 1) * dsub])
            for cell, v in qv_rows
            for j in range(m)
        ],
        "cell long, sub_j int, qv array<double>",
    )
    return books.join(F.broadcast(q_df), "sub_j").select(
        *(["cell"] if with_cell else []),
        "sub_j",
        "code",
        F.round(_d2_fold(F.col("qv"), F.col("c_vec")), 6)
        .cast("decimal(18,6)")
        .alias("d2"),
    )


def _probe_cells(qv: list[float], coarse: list, n_probe: int) -> list[int]:
    """Rank cells driver-side with the pinned sequential fold (the SQL
    oracle's list_reduce order), ties to the lower c_id — the probe
    list is a pure function of (query, centroids). A NaN d2 ranks
    +inf (the _argmin_cells_blocked rule and DuckDB's NULLS-LAST-like
    NaN ordering); Python tuple sort would otherwise place it
    arbitrarily because every NaN comparison is False."""

    def _d2(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc if acc == acc else float("inf")

    return [
        cid
        for _, cid in sorted((_d2(qv, cv), cid) for cid, cv in coarse)[:n_probe]
    ]


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 10,
    n_cells: int | None = 8,
    n_probe: int = 2,
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 3,
    train_limit: int | None = None,
    residual: bool = False,
) -> DataFrame:
    """Product-quantization ANN with an asymmetric-distance (ADC) scan
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011), optionally behind a learned IVF coarse stage — the
    FAISS index-factory composition of one coarse quantizer plus one
    codec (``PQ{m}`` / ``IVF{n_cells},PQ{m}``):

    - ``n_cells=None``: flat PQ (q159) — no coarse stage, every vector
      is scanned;
    - ``n_cells=c``: IVFPQ (q160) — the query's ``n_probe`` nearest of
      ``c`` learned cells bound the scan ROWS (~n_probe/n_cells of the
      corpus) while the codes bound the scan BYTES; ``n_probe=c`` is
      flat PQ row for row;
    - ``residual=True``: IVFPQ by_residual (q161), the faithful
      ``IndexIVFPQ`` — codebooks train on, and codes encode,
      ``v - coarse_centroid(cell(v))``; residuals cluster around the
      origin whatever the cell, so the ksub codewords model a far
      tighter distribution (Jégou 2011 §IV-B). The query's residual
      differs per probed cell, so each probed cell owns its own m
      distance tables (an n_probe × m × ksub-row broadcast) and codes
      join their OWN cell's table. Needs the coarse stage:
      ``n_cells=None`` raises ``ValueError``.

    Index build: the coarse centroids and the m per-subspace codebooks
    of ``ksub`` codewords are the deterministic Lloyd chain of
    :func:`_lloyd_train`, trained on the ``train_limit``
    smallest-id rows (``ORDER BY id LIMIT train_limit``); every scanned
    vector is encoded as its m per-subspace nearest-codeword ids — 4
    small ints instead of 64 doubles, which is what makes a 100 TB
    corpus scannable at all.

    Query (ADC): the query is NOT encoded; per subspace a ksub-row table
    d2(q_sub, codeword) rounded to DECIMAL(18,6) is computed engine-side
    (:func:`_pq_query_dtab`), and a vector's distance is the exact
    decimal sum of its m table lookups: a broadcast join against the
    code stream, one map-side-combined SUM per id, TakeOrderedAndProject.
    The only exchange carries one decimal per scanned vector.

    Cross-engine value oracles (q159–q161) hold because every step is
    pinned: bit-stable Lloyd chains, the argmin fold of
    :func:`_with_cells` for every assignment, probe ranking by
    :func:`_probe_cells`, exact IEEE residual subtraction, and ADC sums
    in exact decimal (summation order cannot move them).

    Training is :func:`_lloyd_train` — one call for the coarse cells,
    the residuals and all m codebooks, in whichever regime
    ``pqDriverTrainMaxBytes`` picks there (tests/test_conf.py pins
    q159–q161 row-identical under both). Both regimes then encode
    through the same :func:`_pq_encode_arrow` scan, which assigns cells,
    filters to the probes, subtracts residuals and encodes all m
    subspaces in ONE Arrow pass: codebooks and coarse centroids are
    driver-sized in either regime, so its task-closure contract holds
    at any corpus size.

    ``query_df`` must hold exactly one row (:func:`_query_vector`).
    Returns ``(id, adc_d2)`` ascending by distance then id, at most
    ``k`` rows, ids passed through with the caller's type; an empty or
    all-null corpus returns zero rows, and a corpus mixing null and
    non-null vectors raises ``ValueError`` (:func:`_vector_stats`,
    checked before either regime starts).
    """
    if residual and n_cells is None:
        raise ValueError(
            "ivfpq_topk residual=True encodes v - coarse_centroid and "
            "needs a coarse stage; got n_cells=None"
        )
    emb = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    empty = emb.select(
        "id", F.lit(None).cast("double").alias("adc_d2")
    ).where(F.lit(False))
    # Validate BEFORE any eager materialization (a corpus-scale cut must
    # not be spent on an argument error); the row count that picks the
    # regime rides in the same job.
    n_rows, dim = _vector_stats(emb, "ivfpq_topk")
    if not dim:
        return empty
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into m={m} subspaces")
    qv = _query_vector(query_df, vec_col, "ivfpq_topk")
    if len(qv) != dim:
        raise ValueError(f"query dim {len(qv)} != corpus dim {dim}")
    dsub = dim // m
    coarse, cents_by_sub = _lloyd_train(
        emb, n_iter, n_cells=n_cells, m=m, ksub=ksub, residual=residual,
        train_limit=train_limit, stats=(n_rows, dim),
    )
    if not cents_by_sub:  # train_limit=0: nothing to train codebooks on
        return empty
    probes = None if coarse is None else _probe_cells(qv, coarse, n_probe)
    codes = _pq_encode_arrow(
        emb, cents_by_sub, dsub, coarse=coarse, probes=probes,
        residual=residual,
    )
    if residual:
        # per-probed-cell query residuals as DATA (driver float
        # subtraction is the IEEE double op of the oracle's SQL)
        q_rows = [
            (cid, [q - c for q, c in zip(qv, cv)])
            for cid, cv in coarse
            if cid in probes
        ]
    else:
        q_rows = [(None, qv)]
    dtab = _pq_query_dtab(
        emb.sparkSession, q_rows, cents_by_sub, dsub, with_cell=residual
    )
    keys = ["cell", "sub_j", "code"] if residual else ["sub_j", "code"]
    return (
        codes.join(F.broadcast(dtab), keys)
        .groupBy("id")
        .agg(F.sum("d2").cast("double").alias("adc_d2"))
        .orderBy(F.asc("adc_d2"), F.asc("id"))
        .limit(k)
    )


def sq8_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Scalar-quantization ANN (the FAISS ``IndexScalarQuantizer``
    QT_8bit shape): every dimension is uniformly quantized to one byte
    between the corpus's per-dimension min and max, and the scan ranks
    by asymmetric distance (full-precision query vs reconstructed
    codes). The middle gear of the quantized-ANN family — 8× smaller
    than float64 (PQ here is 128×) but per-DIMENSION resolution, so
    recall degrades far more gently than PQ's per-subspace codes.

    Physical shape: "train" is ONE bounds pass (posexplode +
    groupBy(dim index), map-side combined — at most ``dim`` rows leave
    any task), collected to 2 × dim doubles and broadcast into the
    kernel. The ADC scan is ONE Arrow-batched corpus pass: numpy
    quantizes and scores a whole batch, keeps a running per-task top-k
    by (distance, id) — lossless truncation: a dropped row has k
    same-or-better rows above it in its own task — and emits at most k
    rows per task, so the only exchange is the parts × k digest the
    other ANN kernels ship (:func:`binary_sign_ann`). A posexplode +
    per-id decimal hash aggregate over the same codes was the first
    form; its dim× row blowup went superlinear past sf10 (80.8 s vs
    10.0 s for this kernel at sf100) and it was slower at every
    measured scale, so it was retired.

    Cross-engine determinism WITHOUT decimals: every per-dimension term
    is pure IEEE-double arithmetic with fixed association (codes
    ``floor((v - mn) * 255 / (mx - mn) + 0.5)`` clamped to [0, 255],
    reconstruction ``mn + code * (mx - mn) / 255``), and the per-part
    rounding is ``floor(err² × 1e6 + 0.5)`` cast to int64 — micro-unit
    integers, summed exactly in int64 — so numpy, Spark SQL, and DuckDB
    produce bit-identical distances with no decimal-string-rounding
    seam anywhere (Spark's ``round(double, 6)`` goes through Java's
    ``BigDecimal.valueOf``/``Double.toString``, which numpy cannot
    reproduce vectorized; ``floor`` it can). The emitted ``adc_d2`` is
    ``units / 1e6`` — exact, the sum is far below 2^53.

    Contract (mirrored in the q162 oracle): corpus rows with a NULL
    vector are dropped before bounds; rows with a null ELEMENT are
    excluded from the scan (they arrive in Arrow as NaN and are masked
    vectorized — no interpreted per-element HOF predicate on the hot
    path), while the bounds aggregates skip null elements individually
    (MIN/MAX-skip-null — identical semantics in Spark and SQL). A true
    NaN element is indistinguishable from a null here and equally out
    of contract (the repo-wide zero-norm/NaN rule). A constant
    dimension (mx == mn) codes 0 and contributes its exact error.
    ``query_df`` must hold exactly one non-null row
    (:func:`_query_vector`). Ids travel as int64 through the Arrow
    digest, so an integral ``id_col`` is required and validated up
    front; string or decimal ids need a surrogate key.
    """
    import numpy as np
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"sq8_topk carries ids as int64 through its Arrow top-k "
            f"digest; id_col {id_col!r} is {id_type.simpleString()} — use "
            "an integral id (e.g. a deterministic surrogate key, "
            "operators.normalize.surrogate_key)"
        )
    emb = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    qv = np.array(
        _query_vector(query_df, vec_col, "sq8_topk"), dtype=np.float64
    )
    dim = len(qv)
    live = emb.where(F.col("v").isNotNull())
    # bounds: ONE map-side-combined pass (at most `dim` rows leave any
    # task at any corpus size), collected to 2×dim doubles and broadcast
    # into the kernel
    brows = (
        live.select(F.posexplode("v").alias("i0", "vi"))
        .groupBy("i0")
        .agg(F.min("vi").alias("mn"), F.max("vi").alias("mx"))
        .collect()
    )
    if not brows:
        return local_frame(
            emb.sparkSession,
            [], "id bigint, adc_d2 double"
        )
    cdim = max(r["i0"] for r in brows) + 1
    if cdim != dim:
        raise ValueError(f"query dim {dim} != corpus dim {cdim}")
    bmap = {r["i0"]: r for r in brows}
    mn = np.array([bmap[i]["mn"] for i in range(dim)], dtype=np.float64)
    mx = np.array([bmap[i]["mx"] for i in range(dim)], dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast((mn, mx, qv))

    def scan(batches):
        import pandas as pd

        mn_, mx_, q_ = bc.value
        flat = mx_ <= mn_  # constant dimensions quantize to code 0
        acc_d = np.empty(0, dtype=np.int64)
        acc_id = np.empty(0, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf["v"].to_numpy())
            if V.shape[1] != len(q_):
                raise ValueError(
                    f"sq8_topk expects dim={len(q_)} corpus "
                    f"vectors, got {V.shape[1]}"
                )
            ids = pdf["id"].to_numpy(dtype=np.int64)
            # null elements arrive as NaN: those rows are out of the
            # scan (oracle: len(list_filter(v, x -> x IS NULL)) = 0)
            ok = ~np.isnan(V).any(axis=1)
            if not ok.all():
                V, ids = V[ok], ids[ok]
                if len(ids) == 0:
                    continue
            # token-for-token the oracle expression, per element:
            # floor((v - mn) * 255.0 / (mx - mn) + 0.5), clamped to
            # [0, 255]; constant dims -> code 0
            with np.errstate(divide="ignore", invalid="ignore"):
                code = np.floor((V - mn_) * 255.0 / (mx_ - mn_) + 0.5)
            code = np.clip(code, 0.0, 255.0)
            code[:, flat] = 0.0
            recon = mn_ + code * (mx_ - mn_) / 255.0
            err = q_ - recon
            # micro-unit parts: exact int64, identical in every engine
            part = np.floor(err * err * 1e6 + 0.5).astype(np.int64)
            d = part.sum(axis=1)
            acc_d = np.concatenate([acc_d, d])
            acc_id = np.concatenate([acc_id, ids])
            if len(acc_d) > 4 * k:
                keep = np.lexsort((acc_id, acc_d))[:k]
                acc_d, acc_id = acc_d[keep], acc_id[keep]
        keep = np.lexsort((acc_id, acc_d))[:k]
        if len(keep) == 0:
            return
        yield pd.DataFrame(
            {"id": acc_id[keep], "d2_units": acc_d[keep]}
        )

    return (
        live.mapInPandas(scan, "id bigint, d2_units bigint")
        .orderBy(F.asc("d2_units"), F.asc("id"))
        .limit(k)
        .select(
            "id",
            (F.col("d2_units").cast("double") / F.lit(1e6)).alias("adc_d2"),
        )
    )


def mmr_rerank(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    n_candidates: int = 8,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein, SIGIR
    1998): fetch ``n_candidates`` by pure cosine relevance, then
    greedily select ``k`` of them maximizing
    ``lam * rel(c) - (1 - lam) * max_sim(c, selected)`` — the
    diversity-aware final stage of a retrieval stack (dedups
    near-identical passages a training-example assembler or RAG prompt
    would otherwise waste context on).

    Physical shape — two distributed stages and one bounded greedy:
    relevance scoring is the brute-force scan (zero shuffle +
    TakeOrderedAndProject, same as :func:`ann_topk_bruteforce`);
    candidate↔candidate similarities are an n²-bounded self-join of the
    n_candidates survivors (n defaults to 8 — 56 rows); the greedy
    itself is inherently sequential (step t depends on all prior picks)
    over ≤ n_candidates rows, so it runs as ONE ``applyInPandas`` group
    executor-side. Nothing unbounded ever leaves the cluster; corpus
    scale only touches the first stage. The greedy compares RAW doubles
    (both engines produce bit-identical rel/sim via the shared decimal
    dot-product rule, and Python floats are the same IEEE doubles), and
    only the emitted score is rounded — the oracle (q164) mirrors the
    loop as k unrolled argmax CTE layers.
    """
    emb = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    qv = _query_vector(query_df, vec_col, "mmr_rerank")
    q_arr = F.array(*[F.lit(x) for x in qv])
    cand = (
        emb.withColumn("q_vec", q_arr)
        .select("id", "v", cosine(F.col("v"), F.col("q_vec")).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("id"))
        .limit(n_candidates)
    )
    cand = cut(cand)  # consumed by the self-join's both sides + the fuse
    # LEFT join keeps a lone candidate (no pairs) in the greedy's input
    a, b = cand.alias("a"), cand.alias("b")
    sims = a.join(b, F.col("a.id") != F.col("b.id"), "left").select(
        F.col("a.id").alias("id"),
        F.col("a.rel").alias("rel"),
        F.col("b.id").alias("id_b"),
        cosine(F.col("a.v"), F.col("b.v")).alias("sim"),
    )

    def greedy(pdf):
        import pandas as pd

        rel = {}
        sim = {}
        for r in pdf.itertuples(index=False):
            rel[r.id] = r.rel
            if r.id_b is not None and not pd.isna(r.id_b):
                sim[(r.id, int(r.id_b))] = r.sim
        ids = sorted(rel)
        picked, rows = [], []
        for step in range(1, min(k, len(ids)) + 1):
            best = None
            for c in ids:
                if c in picked:
                    continue
                if picked:
                    score = lam * rel[c] - (1.0 - lam) * max(
                        sim[(c, p)] for p in picked
                    )
                else:
                    score = rel[c]
                # strict > : ties keep the lowest id (ids scan ascending)
                if best is None or score > best[1]:
                    best = (c, score)
            picked.append(best[0])
            rows.append((step, best[0], best[1]))
        return pd.DataFrame(rows, columns=["step", "id", "score"])

    out = sims.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda _key, pdf: greedy(pdf), "step int, id bigint, score double"
    )
    return out.select(
        "step", "id", F.round("score", 6).cast("double").alias("mmr_score")
    ).orderBy("step")


def mine_triplets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dims: tuple[int, ...] = (1, 9, 17, 25),
    margin: float = 0.2,
    bucket_cap: int | None = 256,
) -> DataFrame:
    """Hard-triplet mining for contrastive/metric training (FaceNet,
    Schroff et al., CVPR 2015; batch-hard variant of Hermans et al.,
    2017): per anchor, the HARDEST positive (lowest-cosine same-label
    neighbor) and HARDEST negative (highest-cosine other-label
    neighbor), kept only when the triplet violates the margin
    (``neg_sim > pos_sim - margin`` — the semi-hard band that actually
    produces gradient). The training-data op embedding trainers run
    over every corpus refresh.

    Physical shape: candidate pairs form INSIDE sign-LSH buckets (the
    q45 blocking key — never all-pairs), and ``bucket_cap`` is the
    oversized-bucket sub-salt valve (default ON at 256, the
    q42p/q39p pattern: md5(id) % ceil(bsz/cap), pairs only within a
    sub-bucket — in-bucket pair work drops from O(b²) to O(b·cap);
    mining inside a sub-bucket is still batch-hard mining, just over a
    deterministic sub-batch). Every salt term is ANSI-SQL-expressible,
    so the q165 oracle parameterizes the SAME cap and the firing regime
    is value-checked in tests. Each (bucket, sub) group scores in ONE
    Arrow task scoring through :func:`_cos_blocks` (values stay
    bit-identical to the SQL oracle's ``list_reduce``), hardest positive/negative reduced in-kernel to
    ≤1 output row per anchor. The first cut formed pairs with a JVM
    self-join + per-pair ``cosine()`` fold + two windows: at sf10 that
    paid ~51M interpreted HOF folds — 289 s vs this kernel (the q162
    HOF lesson at pair cardinality). The shuffle carries each group's
    vectors once (not the pair set), per-task memory is one capped
    block (``_GRAM_CHUNK_CELLS``), and the exchange out is
    one row per anchor. Mining is blocked-approximate by design
    (exactly like production batch-hard mining, which only sees its
    own batch): anchors whose group holds no same-label or no
    other-label row yield no triplet.

    Determinism: the Gram fold is bit-identical to the decimal-rule
    cosine in both engines; argmin/argmax ties break on ascending
    candidate id (ascending-id column order + first-hit argmax);
    the margin compares RAW doubles and only emitted columns round.
    Zero-norm / NULL vectors (NaN cosine) are ENFORCED out of contract:
    filtered before bucket sizing, mirrored in the q165 oracle's e CTE
    (DuckDB would otherwise rank a NaN sim first in the DESC window).
    """
    import numpy as np
    import pandas as pd

    e = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(label_col).alias("lab"),
        sign_bucket(F.col(vec_col), dims).alias("bkt"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    # zero-norm / NULL vectors are enforced out of contract (not just
    # documented): their cosine is NaN, and DuckDB ranks NaN GREATEST in
    # a DESC window while the kernel excludes it — filter before bucket
    # sizing so both engines see identical buckets (q165 oracle mirrors
    # this predicate in its e CTE).
    e = sub_salt(e.where(F.col("nrm") > 0), ["bkt"], bucket_cap, "id")
    chunk_cells = _GRAM_CHUNK_CELLS

    def hardest(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "id_a": pd.array([], dtype="int64"),
                "pos_id": pd.array([], dtype="int64"),
                "pos_sim": pd.array([], dtype="float64"),
                "neg_id": pd.array([], dtype="int64"),
                "neg_sim": pd.array([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        ordr, ids, V = _by_id(pdf)
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)[ordr]
        labs = pdf["lab"].to_numpy()[ordr]
        out = []
        for a0, b0, cos in _cos_blocks(V, V, nrm, nrm, chunk_cells):
            same = labs[a0:b0, None] == labs[None, :]
            selfm = ids[a0:b0, None] == ids[None, :]
            # hardest positive: ORDER BY sim ASC, id ASC over same-label
            pos_ok = same & ~selfm
            pos_rank = np.where(pos_ok & ~np.isnan(cos), cos, np.inf)
            has_pos = np.isfinite(pos_rank).any(axis=1)
            # hardest negative: ORDER BY sim DESC, id ASC over other-label
            neg_ok = ~same
            neg_rank = np.where(neg_ok & ~np.isnan(cos), cos, -np.inf)
            has_neg = np.isfinite(neg_rank).any(axis=1)
            keep = has_pos & has_neg
            if not keep.any():
                continue
            pr, nr = pos_rank[keep], neg_rank[keep]
            # ascending-id column order: first hit of the extremum = lowest id
            pos_idx = np.argmax(pr == pr.min(axis=1, keepdims=True), axis=1)
            neg_idx = np.argmax(nr == nr.max(axis=1, keepdims=True), axis=1)
            rows = np.arange(len(pr))
            out.append(
                pd.DataFrame(
                    {
                        "id_a": ids[a0:b0][keep],
                        "pos_id": ids[pos_idx],
                        "pos_sim": cos[keep][rows, pos_idx],
                        "neg_id": ids[neg_idx],
                        "neg_sim": cos[keep][rows, neg_idx],
                    }
                )
            )
        return pd.concat(out, ignore_index=True) if out else empty

    hard = e.groupBy("bkt", "sub").applyInPandas(
        lambda _key, pdf: hardest(pdf),
        "id_a bigint, pos_id bigint, pos_sim double, "
        "neg_id bigint, neg_sim double",
    )
    return (
        hard.where(F.col("neg_sim") > F.col("pos_sim") - F.lit(margin))
        .select(
            F.col("id_a").alias("anchor_id"),
            "pos_id",
            "neg_id",
            F.round("pos_sim", 6).cast("double").alias("pos_sim"),
            F.round("neg_sim", 6).cast("double").alias("neg_sim"),
            F.round(F.col("neg_sim") - F.col("pos_sim"), 6)
            .cast("double")
            .alias("violation"),
        )
        .orderBy("anchor_id")
    )


def binary_sign_ann(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 10,
    rerank: int = 40,
    dim: int = 64,
) -> DataFrame:
    """Binary-quantization ANN (the FAISS ``IndexBinaryFlat`` /
    sign-LSH-at-full-width gear): every vector compresses to ONE sign
    bit per dimension — 64 dims → two packed BIGINTs = 512× smaller
    than float64 — and candidates rank by Hamming distance
    (XOR + popcount, the cheapest similarity primitive that exists),
    then the ``rerank`` nearest re-score with exact cosine. The
    completion of the quantized-ANN ladder: float64 (q46) → SQ8 8×
    (q162) → PQ 128× (q159) → binary 512× (this).

    Physical shape: the Hamming scan is ONE Arrow-batched corpus pass
    (numpy: sign bits, mismatch count against the broadcast query
    bits) in which each task keeps a running top-``rerank`` by
    (hamming, id) and emits at most ``rerank`` rows CARRYING their
    vector — so the exact-cosine rerank runs on the survivor set with
    no second corpus scan and no join, and the global merge orders
    parts x ``rerank`` rows. Round-9 floor cut: the first cut packed
    bits via 64 CASE terms per BIGINT half — "whole-stage codegen" on
    paper, but the generated single method is ~15 KB of bytecode,
    over the JVM JIT's 8 KB huge-method limit, so it actually ran as
    INTERPRETED bytecode (~18 us/row); it also re-joined a broadcast
    candidate list back to the corpus and paid a dedicated
    dim-validation aggregate — three corpus scans total. Corpus dim
    is now validated inside the one scan (np.stack raises on ragged
    input; an explicit shape check names the operator). At 100 TB the
    scan reads each vector once, shuffles nothing, and the expensive
    float math touches ``rerank`` rows total. Recall is the sign-bit
    trade: Hamming(a,q) approximates angle; the rerank stage restores
    exact ordering among survivors.

    Cross-engine determinism (q166): packed codes are exact integers
    (identical CASE/shift arithmetic), Hamming is exact, candidate ties
    break on id, rerank cosine is the shared decimal fold, output
    rounds to 6 dp. ``query_df`` must hold exactly one row (enforced
    like the other gears).
    """
    emb = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    qv = _query_vector(query_df, vec_col, "binary_sign_ann")
    if len(qv) != dim:
        raise ValueError(f"binary_sign_ann expects dim={dim}, got {len(qv)}")
    emb = emb.where(F.col("v").isNotNull())

    import numpy as np

    q_arr = F.array(*[F.lit(float(x)) for x in qv])
    qbits = np.array([1 if x > 0 else 0 for x in qv], dtype=np.int32)
    bc = df.sparkSession.sparkContext.broadcast(qbits)

    def scan(batches):
        import pandas as pd

        qb = bc.value
        acc_h = np.empty(0, dtype=np.int64)
        acc_id = np.empty(0, dtype=np.int64)
        acc_v: list = []
        for pdf in batches:
            if pdf.empty:
                continue
            # np.stack raises on ragged input — a wrong-dim corpus row
            # fails the task loudly instead of mis-scoring silently
            V = np.stack(pdf["v"].to_numpy())
            if V.shape[1] != len(qb):
                raise ValueError(
                    f"binary_sign_ann expects dim={len(qb)} corpus "
                    f"vectors, got {V.shape[1]}"
                )
            # sign bit: strictly-positive elements (NaN/None compare
            # False -> bit 0, matching the packed-BIGINT CASE form the
            # oracle evaluates); hamming = count of mismatched bits ==
            # popcount(pack(v) XOR pack(q)) exactly
            bits = (V > 0).astype(np.int32)
            h = np.abs(bits - qb[None, :]).sum(axis=1).astype(np.int64)
            ids = pdf["id"].to_numpy(dtype=np.int64)
            vs = pdf["v"].to_numpy()
            # running per-task top-rerank by (hamming, id) — lossless
            # truncation: a dropped row has `rerank` same-or-better
            # rows above it in this task
            acc_h = np.concatenate([acc_h, h])
            acc_id = np.concatenate([acc_id, ids])
            acc_v.extend(vs)
            if len(acc_h) > 4 * rerank:
                keep = np.lexsort((acc_id, acc_h))[:rerank]
                acc_h, acc_id = acc_h[keep], acc_id[keep]
                acc_v = [acc_v[j] for j in keep]
        keep = np.lexsort((acc_id, acc_h))[:rerank]
        if len(keep) == 0:
            return  # empty partition: emit nothing
        yield pd.DataFrame(
            {
                "id": acc_id[keep],
                "hamming": acc_h[keep].astype(np.int32),
                "v": pd.Series(
                    [list(map(float, acc_v[j])) for j in keep], dtype=object
                ),
            }
        )

    # one Arrow pass: each task emits at most `rerank` candidate rows
    # CARRYING their vector, so the exact-cosine rerank needs no second
    # corpus scan and no join; the global merge orders parts x rerank
    # rows. (A pure-expression pack was built first and MEASURED OUT:
    # 64 CASE terms generate a ~15 KB single method — over the JVM
    # JIT's 8 KB huge-method limit — so the scan ran as INTERPRETED
    # bytecode at ~18 us/row; the Arrow kernel is 1.9 s vs 3.6 s at
    # 200k rows and stays vectorized per batch at any scale.)
    cand = (
        emb.mapInPandas(
            scan, "id bigint, hamming int, v array<double>"
        )
        .orderBy(F.asc("hamming"), F.asc("id"))
        .limit(rerank)
    )
    return (
        cand.withColumn("q_vec", q_arr)
        .select(
            "id",
            "hamming",
            F.round(cosine(F.col("v"), F.col("q_vec")), 6)
            .cast("double")
            .alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("id"))
        .limit(k)
    )
