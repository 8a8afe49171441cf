"""Named TPC-H query shapes (adapted to the testdata's column subset)
plus declared *streaming* queries.

The TPC-H shapes exercise the multi-join + filtered-aggregate + top-k
compositions a warehouse engine lives on; each has a DuckDB oracle with
decimal-exact revenue sums.

The streaming queries (q70+) each run a bounded Structured-Streaming
query (AvailableNow over the parquet file) and return the materialized
result. Under AvailableNow the whole file arrives in one micro-batch,
so no row is late relative to the watermark and the result equals the
batch semantics — which makes most of them VALUE-checkable against the
same DuckDB SQL as their batch twins (q40/q55/q56). Only genuinely
nondeterministic streaming ops stay rows-only.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from ipes_data_pipeline_spark.queries import (
    events_schema,
    normalize_ts,
    register,
    sql_davg,
    sql_dsum,
    t,
)
from ipes_data_pipeline_spark.queries import davg, dec, dsum


@register(
    "q66_tpch_q3_shape",
    "TPC-H Q3 shape: segment revenue top-10 (3-way join, filtered agg)",
    f"""SELECT l.l_orderkey, o.o_orderdate,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-03-15'
          AND l.l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 10""",
)
def q66(spark, sf):
    c = t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q67_tpch_q10_shape",
    "TPC-H Q10 shape: returned-item revenue loss per customer+nation, top-20",
    f"""SELECT c.c_custkey, c.c_name, n.n_name,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def q67(spark, sf):
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q68_tpch_q18_shape",
    "TPC-H Q18 shape: large-volume orders via HAVING subquery",
    f"""WITH big AS (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 150)
        SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice,
               {sql_dsum('l.l_quantity')} AS total_qty
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
        GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice""",
)
def q68(spark, sf):
    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
    )


@register(
    "q69_tpch_q7_shape",
    "TPC-H Q7 shape: supplier-nation x customer-nation revenue matrix",
    f"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        WHERE ns.n_nationkey < 3 AND nc.n_nationkey < 3
        GROUP BY ns.n_name, nc.n_name""",
)
def q69(spark, sf):
    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier")
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    ns = F.broadcast(n.filter(F.col("n_nationkey") < 3)).alias("ns")
    nc = F.broadcast(n.filter(F.col("n_nationkey") < 3)).alias("nc")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(ns, s.s_nationkey == F.col("ns.n_nationkey"))
        .join(nc, c.c_nationkey == F.col("nc.n_nationkey"))
        .groupBy(
            F.col("ns.n_name").alias("supp_nation"),
            F.col("nc.n_name").alias("cust_nation"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ------------------------------------------------- streaming (value-checked)


#: Shuffle (= state store) partitions for the bounded demo runs of
#: :func:`_run_available_now`. A stateful streaming query creates one
#: state store per shuffle partition (FOUR per partition for a
#: stream-stream join: keyed + watermark index on each side), and every
#: micro-batch pays a per-store snapshot/commit regardless of row
#: volume. At fixture scale that fixed cost dominates — q115 measured
#: 9.4 s at 4 state partitions vs 84 s at 32 on the same input. Values
#: are partition-count independent; only wall clock moves. Production
#: streams (``streaming/``) size state through Spark's own
#: ``spark.sql.shuffle.partitions``, frozen into the checkpoint at first
#: start (e.g. 2-4x executor cores for a 100 TB keyed stream).
STREAM_STATE_PARTITIONS = 8


def _run_available_now(stream_df, mode: str = "complete"):
    """Run a bounded streaming query to a memory sink, return the result,
    planned with :data:`STREAM_STATE_PARTITIONS` state partitions."""
    import uuid

    spark = stream_df.sparkSession
    name = f"srq_{uuid.uuid4().hex[:10]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            # Timed out: stop the orphan (or the memory table keeps
            # mutating under the caller) and fail loudly — a partial
            # table would surface as a baffling oracle value diff.
            q.stop()
            raise TimeoutError(f"bounded streaming query {name} exceeded 120s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def _events_stream(spark, sf):
    # The batch table's declared schema, with ts in the encoding its
    # footer names, normalized exactly as t() does. Glob, not a bare file
    # path: FileStreamSource requires a directory base (the glob's parent
    # becomes basePath).
    events = spark.readStream.schema(events_schema(spark, sf)).parquet(
        f"{sf}/events*.parquet"
    )
    return normalize_ts(events)


@register(
    "q70_streaming_tumbling",
    "STREAMING: watermarked tumbling counts over the events file stream "
    "(value-checked - AvailableNow sees all events, decimal-exact sums)",
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
              date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
                AS window_end,
              event_type,
              COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1, 2, 3""",
)
def q70(spark, sf):
    from ipes_data_pipeline_spark.streaming.windows import tumbling_counts

    return _run_available_now(tumbling_counts(_events_stream(spark, sf)))


def _sql_lloyd_assign(src: str, cent: str, alias: str) -> str:
    """One deterministic assignment CTE: argmin squared-L2, ties to the
    lower centroid id (q91's proven fold)."""
    from ipes_data_pipeline_spark.queries.prep import _SQL_L2

    d2 = _SQL_L2.format(a="e.v", b="c.c_vec")
    return f"""{alias} AS (
  SELECT id, c_id FROM (
    SELECT e.id, c.c_id,
           row_number() OVER (PARTITION BY e.id
                              ORDER BY {d2} ASC, c.c_id ASC) AS rn
    FROM {src} e CROSS JOIN {cent} c) WHERE rn = 1)"""


def _sql_lloyd_rounds(
    src: str, n_iter: int, dim: int = 64, prefix: str = ""
) -> list[str]:
    """The per-round assign/mean/rebuild CTE triple, shared by every
    Lloyd-trained oracle (q72/q130 full-vector chains via
    :func:`_sql_lloyd_cells`, q159's per-subspace codebooks).
    ``prefix`` namespaces the CTEs so several chains coexist in one
    WITH; defaults reproduce the historical q72/q130 text byte-for-byte."""
    rounds = []
    for r in range(n_iter):
        rounds.append(
            _sql_lloyd_assign(src, f"{prefix}c{r}", f"{prefix}a{r + 1}")
        )
        rounds.append(f"""{prefix}m{r + 1} AS (
  SELECT a.c_id, t.i AS pos,
         CAST(SUM(CAST(e.v[t.i] AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m
  FROM {prefix}a{r + 1} a JOIN {src} e USING (id) CROSS JOIN range(1, {dim + 1}) t(i)
  GROUP BY a.c_id, t.i)""")
        rounds.append(
            f"{prefix}c{r + 1} AS (SELECT c_id, list(m ORDER BY pos) AS c_vec "
            f"FROM {prefix}m{r + 1} GROUP BY c_id)"
        )
    return rounds


def _sql_lloyd_cells(
    n_cells: int | str = 8, n_iter: int = 3, train_limit: int | None = None
) -> str:
    """Unrolled deterministic Lloyd rounds (the q42c unroll trick applied
    to k-means): init = n_cells smallest ids, assignment = argmin
    squared-L2 with centroid-id tie-break, update = per-dimension
    DECIMAL(18,6) means (order-independent), so every round is
    bit-stable cross-engine. Returns the CTE chain from ``emb`` through
    ``cells(id, c_id)`` — the shared prefix of every query over learned
    cells (q72 ANN, q130 semdedup)."""
    # train_limit bounds the TRAINING rows to the smallest ids (the
    # operator's FAISS-style sampling rule); the final assignment still
    # covers the full corpus. trn == emb when unbounded, so existing
    # oracle texts are unchanged.
    src = "emb" if train_limit is None else "trn"
    chain = ",\n".join(_sql_lloyd_rounds(src, n_iter))
    trn = (
        ""
        if train_limit is None
        else f"trn AS (SELECT id, v FROM emb ORDER BY id LIMIT {train_limit}),\n"
    )
    return f"""emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{trn}c0 AS (SELECT id AS c_id, v AS c_vec FROM {src} ORDER BY id LIMIT {n_cells}),
{chain},
{_sql_lloyd_assign("emb", f"c{n_iter}", "cells")}"""


def _q72_oracle(n_cells: int = 8, n_iter: int = 3, k: int = 10) -> str:
    """Learned-cell IVF ANN over the :func:`_sql_lloyd_cells` chain —
    value-checkable precisely because every Lloyd round is bit-stable
    (pyspark.ml's sampled init could not be)."""
    from ipes_data_pipeline_spark.queries.dataops import _sql_cosine

    cos = _sql_cosine(a="e.v", b="q.v")
    return f"""
WITH {_sql_lloyd_cells(n_cells, n_iter)},
qv AS (SELECT id, v FROM emb WHERE id = 7),
{_sql_lloyd_assign("qv", f"c{n_iter}", "qc")}
SELECT e.id, {cos} AS cos_sim
FROM cells s JOIN emb e USING (id)
JOIN qc ON s.c_id = qc.c_id
CROSS JOIN qv q
ORDER BY cos_sim DESC, e.id ASC LIMIT {k}
"""


@register(
    "q72_ann_ivf_kmeans",
    "similarity search: IVF ANN with learned k-means cells — "
    "deterministic DataFrame-native Lloyd (fixed min-id seeds, decimal-"
    "stable centroid means), so the learned cells VALUE-CHECK cross-"
    "engine; exactness baseline = q46 brute force",
    _q72_oracle(),
)
def q72(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import (
        ann_topk_ivf_kmeans_lloyd,
    )

    emb = t(spark, sf, "embeddings")
    return ann_topk_ivf_kmeans_lloyd(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == 7), k=10
    )


def _q130_oracle(
    n_cells: int | str = 8,
    n_iter: int = 3,
    tau: float = 0.3,
    train_limit: int | None = None,
) -> str:
    from ipes_data_pipeline_spark.queries.dataops import _sql_cosine

    cos = _sql_cosine(a="a.v", b="b.v")
    return f"""
WITH {_sql_lloyd_cells(n_cells, n_iter, train_limit)},
v AS (SELECT e.id, e.v, s.c_id FROM cells s JOIN emb e USING (id)),
p AS (SELECT a.id AS id_a, b.id AS id_b
      FROM v a JOIN v b ON a.c_id = b.c_id AND a.id < b.id
      WHERE {cos} >= {tau}),
d AS (SELECT id_b AS id, MIN(id_a) AS dominator FROM p GROUP BY id_b)
SELECT v.id AS id, v.c_id AS c_id, d.dominator AS dominator,
       (d.dominator IS NULL) AS keep
FROM v LEFT JOIN d ON v.id = d.id
"""


@register(
    "q130_semdedup",
    "dedup: semantic dedup over learned k-means cells (SemDeDup shape, "
    "arXiv 2303.09540) — within-cluster cosine prune, pairs bounded by "
    "Σ|cell|² with n_cells the per-task cap; value-checks because the "
    "Lloyd rounds are bit-stable cross-engine (same chain as q72)",
    _q130_oracle(),
)
def q130(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import semdedup

    return semdedup(
        t(spark, sf, "embeddings"), "vec_id", "embedding", threshold=0.3
    )


# √N cell count as a SQL scalar — the same IVF sizing rule the Spark
# twin computes (one COUNT job); GREATEST(8, ·) keeps tiny fixtures on
# the q130 cell floor. DuckDB accepts a scalar subquery in LIMIT, which
# is the only place _sql_lloyd_cells uses the count.
_SQL_SQRTN_CELLS = (
    "(SELECT GREATEST(8, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) "
    "FROM embeddings)"
)


#: FAISS-style bounded Lloyd training for the production twins: train
#: centroids on the 16384 smallest-id vectors, assign the full corpus.
#: Without it the round-5 sf10 campaign measured Lloyd itself going
#: quadratic once cells grow with N (q130a full-training: 632 s —
#: worse than the fixed-cell form it was meant to fix); with it,
#: training is O(train_limit × cells × dim) regardless of corpus size.
#: Fixture corpora are under the limit, so verdicts there are
#: bit-identical with or without it.
_TRAIN_LIMIT = 16384


@register(
    "q130p_semdedup_sqrtn",
    "dedup: q130 production twin — SemDeDup with n_cells = ceil(sqrt(N)) "
    "(the IVF sizing rule) instead of the oracle-pinned 8, Lloyd trained "
    "on the 16384 smallest-id vectors (FAISS max_points_per_centroid "
    "practice; fixture scale is under the limit, so verdicts are "
    "unchanged there). sqrt(N) cells bound the assignment work "
    "(N*sqrt(N)) and the in-cell Gram pairs (N^1.5); bounded training "
    "keeps the Lloyd rounds corpus-size-free. q130 stays as the fixed-"
    "cell full-training oracle anchor. Still value-checked: the Lloyd "
    "chain is bit-stable for ANY cell count and training subset, and "
    "the SQL twin applies the same ORDER BY id LIMIT sampling",
    _q130_oracle(
        n_cells=_SQL_SQRTN_CELLS, train_limit=_TRAIN_LIMIT
    ),  # type: ignore[arg-type]
)
def q130p(spark, sf):
    import math

    from ipes_data_pipeline_spark.operators.similarity import semdedup

    emb = t(spark, sf, "embeddings")
    n_cells = max(8, math.ceil(math.sqrt(emb.count())))
    return semdedup(
        emb,
        "vec_id",
        "embedding",
        n_cells=n_cells,
        threshold=0.3,
        train_limit=_TRAIN_LIMIT,
    )


# Count-adaptive cell count: cells = N / target keeps the AVERAGE cell
# size — and with it the per-task Gram work — constant as the corpus
# grows, turning Σ|cell|² ≈ N·target into LINEAR pair growth (the sf10
# decade measured q130's fixed-8-cells at 62× wall for 10× rows and
# q130p's √N cells at 54×; constant cell size is the gear the operator
# docstring says to shift into). GREATEST(8, ·) keeps tiny fixtures on
# the q130 cell floor, which pins the twin bit-identical to the
# already-verified oracle at sf≤0.1 (the q118a pattern).
_SQL_LINEAR_CELLS = (
    "(SELECT GREATEST(8, CAST(ceil(COUNT(*) / 256.0) AS BIGINT)) "
    "FROM embeddings)"
)


@register(
    "q130a_semdedup_autocells",
    "dedup: q130 production twin #2 — SemDeDup with n_cells = "
    "ceil(N/256) (constant ~256-row cells as the corpus grows) and "
    "Lloyd trained on the 16384 smallest-id vectors. Constant cell "
    "size makes in-cell pairs Sigma|cell|^2 ~ 256*N grow LINEARLY and "
    "per-task Gram blocks constant-size; bounded training is REQUIRED "
    "here — with cells ~ N, full-corpus Lloyd is O(N^2/256) per round "
    "and the sf10 campaign measured it at 632 s, worse than the fixed-"
    "cell form (SCALING.md). Assignment remains O(N x cells) per pass "
    "(distributed, Arrow kernel) — the flat-index cost every IVF pays; "
    "past the scale where that dominates, the sublinear cell-finder "
    "(hierarchical quantizer) or q130p's sqrt(N) sizing is the gear. "
    "Value-checked at any N: the Lloyd chain is bit-stable for ANY "
    "cell count and training subset; the SQL twin applies the same "
    "ceil(COUNT(*)/256.0) scalar and ORDER BY id LIMIT sampling",
    _q130_oracle(
        n_cells=_SQL_LINEAR_CELLS, train_limit=_TRAIN_LIMIT
    ),  # type: ignore[arg-type]
)
def q130a(spark, sf):
    import math

    from ipes_data_pipeline_spark.operators.similarity import semdedup

    emb = t(spark, sf, "embeddings")
    n_cells = max(8, math.ceil(emb.count() / 256.0))
    return semdedup(
        emb,
        "vec_id",
        "embedding",
        n_cells=n_cells,
        threshold=0.3,
        train_limit=_TRAIN_LIMIT,
    )


def _q71_oracle() -> str:
    # Identical gap (30 min) to the batch twin q55, so the streaming
    # result under AvailableNow is value-checkable against the same
    # gaps-and-islands SQL: one micro-batch sees all events, and
    # session_window start/end semantics (last event + gap) match.
    from ipes_data_pipeline_spark.queries.windows_batch import _q55_oracle

    return _q55_oracle()


@register(
    "q71_streaming_session_window",
    "STREAMING: watermarked session windows per user (value-checked — "
    "same 30 min gap as batch twin q55, AvailableNow sees all events)",
    _q71_oracle(),
)
def q71(spark, sf):
    from ipes_data_pipeline_spark.streaming.windows import session_counts

    return _run_available_now(session_counts(_events_stream(spark, sf)))


@register(
    "q111_streaming_dedup_watermark",
    "STREAMING: dropDuplicatesWithinWatermark on the events file stream "
    "(value-checked: key-only projection makes the survivor irrelevant)",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def q111(spark, sf):
    # Exactly-once duplicate drop with watermark-bounded state — the
    # streaming form of F3/q29. Projecting the output to the dedup keys
    # themselves makes the result value-checkable: whichever duplicate
    # survives, the key set is the distinct set. AvailableNow over one
    # file is a single micro-batch, so state covers the whole input and
    # the answer is the exact batch DISTINCT (with live late data the
    # guarantee weakens to at-least-once beyond the watermark horizon —
    # that is the declared semantics of the operator, not a bug).
    from ipes_data_pipeline_spark.streaming.windows import dedup_within_watermark

    deduped = dedup_within_watermark(
        _events_stream(spark, sf), keys=["user_id", "event_type"]
    )
    return _run_available_now(
        deduped.select("user_id", "event_type"), mode="append"
    )


@register(
    "q113_stream_static_join",
    "STREAMING: stream-static enrichment join (events stream x batch "
    "per-user profile; value-checked - the static side is deterministic)",
    """WITH prof AS (SELECT user_id, COUNT(*) AS n_events
                     FROM events GROUP BY user_id)
       SELECT e.event_id, e.user_id, p.n_events
       FROM events e JOIN prof p ON e.user_id = p.user_id""",
)
def q113(spark, sf):
    # The stream-static join surface (F5's streaming form): each
    # arriving event is enriched against a batch profile table. The
    # static side is re-planned per micro-batch, so a small profile
    # broadcasts - no stateful join, no watermark needed. Value-checked
    # because the profile is a pure function of the same input table.
    profile = (
        t(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    enriched = (
        _events_stream(spark, sf)
        .select("event_id", "user_id")
        .join(F.broadcast(profile), "user_id")
        .select("event_id", "user_id", "n_events")
    )
    return _run_available_now(enriched, mode="append")


@register(
    "q115_stream_stream_join",
    "STREAMING: stream-stream watermarked interval join (view -> purchase "
    "attribution within 1 h; value-checked - AvailableNow over one file "
    "delivers both sides in the same micro-batch, so no match is dropped)",
    """SELECT v.event_id AS view_id, p.event_id AS purchase_id, p.user_id,
              (epoch_us(p.ts) - epoch_us(v.ts)) AS gap_us
       FROM events v JOIN events p
         ON v.user_id = p.user_id
        AND v.event_type = 'view' AND p.event_type = 'purchase'
        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""",
)
def q115(spark, sf):
    # Both sides carry a watermark and the join condition bounds event
    # time on both sides - exactly what Spark requires to evict join
    # state (a view older than purchase-watermark minus 1 h can never
    # match again and is dropped). At 100 TB the state store holds only
    # the 1 h frontier per side instead of the whole history.
    views = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("interval 1 hour")),
        "inner",
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )
    return _run_available_now(joined, mode="append")


@register(
    "q127_tpch_q21_shape",
    "TPC-H Q21 shape: multi-EXISTS decorrelation - suppliers solely "
    "responsible for a returned item in multi-supplier orders",
    """WITH r AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
                  WHERE l_returnflag = 'R'),
        multi AS (SELECT l_orderkey FROM lineitem
                  GROUP BY l_orderkey
                  HAVING COUNT(DISTINCT l_suppkey) > 1),
        sole AS (
          SELECT r.l_orderkey, r.l_suppkey FROM r
          JOIN multi ON multi.l_orderkey = r.l_orderkey
          WHERE NOT EXISTS (
            SELECT 1 FROM r r2
            WHERE r2.l_orderkey = r.l_orderkey
              AND r2.l_suppkey <> r.l_suppkey))
       SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
       FROM sole JOIN supplier s ON s.s_suppkey = sole.l_suppkey
       GROUP BY s.s_name
       ORDER BY numwait DESC, s_name LIMIT 20""",
)
def q127(spark, sf):
    # Q21's plan problem is decorrelating EXISTS + NOT EXISTS on the
    # same table: both collapse to one aggregate over the returned-item
    # set - an order qualifies when it is multi-supplier overall and
    # single-supplier among returns. No correlated re-scan survives:
    # lineitem is read twice (full + returns), each aggregated once.
    li = t(spark, sf, "lineitem")
    returns = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("ns"))
        .where(F.col("ns") > 1)
        .select("l_orderkey")
    )
    sole = (
        returns.groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("nrs"),
            # nrs == 1 below => every row carries the same supplier;
            # max() is the deterministic way to pick it
            F.max("l_suppkey").alias("the_supp"),
        )
        .where(F.col("nrs") == 1)
        .join(multi, "l_orderkey", "left_semi")
    )
    s = t(spark, sf, "supplier")
    return (
        sole.join(F.broadcast(s), sole.the_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "q128_tpch_q22_shape",
    "TPC-H Q22 shape: scalar-avg subquery + anti join - wealthy "
    "order-less customers per nation",
    f"""WITH cutoff AS (
          SELECT {sql_davg('c_acctbal')} AS m FROM customer
          WHERE c_acctbal > 0.0)
        SELECT c.c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               {sql_dsum('c.c_acctbal')} AS totacctbal
        FROM customer c, cutoff
        WHERE c.c_acctbal > cutoff.m
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
        GROUP BY c.c_nationkey""",
)
def q128(spark, sf):
    # Q22's two decorrelations: the scalar average becomes a 1-row
    # broadcast cross join (no per-row re-evaluation), and NOT EXISTS
    # becomes a left-anti hash join on the customer key.
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    cutoff = c.where(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal", "m")
    )
    return (
        c.crossJoin(F.broadcast(cutoff))
        .where(F.col("c_acctbal") > F.col("m"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
    )


def _q129_oracle() -> str:
    from ipes_data_pipeline_spark.queries.windows_batch import _q56_oracle

    return _q56_oracle()


@register(
    "q129_streaming_sliding",
    "STREAMING: watermarked sliding windows (1 h / 30 min) over the "
    "events file stream (value-checked - same grid-expansion oracle as "
    "batch twin q56; AvailableNow sees all events)",
    _q129_oracle(),
)
def q129(spark, sf):
    from ipes_data_pipeline_spark.streaming.windows import sliding_counts

    return _run_available_now(sliding_counts(_events_stream(spark, sf)))


def _q140_oracle(n_iter: int = 3) -> str:
    rounds = []
    for i in range(1, n_iter + 1):
        rounds.append(f"""c{i} AS (
  SELECT ew.dst, (r{i - 1}.rank_u * ew.w) // ew.out_w AS c_u
  FROM ew JOIN r{i - 1} ON ew.src = r{i - 1}.node),
a{i} AS (
  SELECT dst, CAST(150000 + (85 * SUM(c_u)) // 100 AS BIGINT) AS new_rank_u
  FROM c{i} GROUP BY dst),
r{i} AS (
  SELECT n.node, COALESCE(a{i}.new_rank_u, 150000) AS rank_u
  FROM nodes n LEFT JOIN a{i} ON n.node = a{i}.dst)""")
    chain = ",\n".join(rounds)
    return f"""
WITH e0 AS (
  SELECT o.o_custkey AS c, -(l.l_suppkey + 1) AS s, COUNT(*) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2),
edges AS (SELECT c AS src, s AS dst, w FROM e0
          UNION ALL SELECT s AS src, c AS dst, w FROM e0),
nodes AS (SELECT c_custkey AS node FROM customer
          UNION SELECT -(s_suppkey + 1) FROM supplier),
ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
ew AS (SELECT e.src, e.dst, CAST(e.w AS BIGINT) AS w, ow.out_w
       FROM edges e JOIN ow ON e.src = ow.src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_u FROM nodes),
{chain}
SELECT node, CAST(rank_u AS DOUBLE) / 1000000 AS rank FROM r{n_iter}
"""


@register(
    "q140_pagerank",
    "graph: weighted PageRank over the customer↔supplier interaction "
    "graph (suppliers carry -(key+1) node ids — a fixed-offset scheme would "
    "collide with customer keys at large SF), 3 unrolled rounds — per round one |nodes|-vs-edges join + "
    "one dst-keyed aggregate; the WHOLE recurrence runs in fixed-point "
    "BIGINT micro-units (integer division, no doubles), so the rounds "
    "are bit-exact cross-engine with no rounding mode to disagree on",
    _q140_oracle(),
)
def q140(spark, sf):
    from ipes_data_pipeline_spark.operators.graph import pagerank

    li = t(spark, sf, "lineitem")
    o = t(spark, sf, "orders")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"),
            (-(F.col("l_suppkey") + 1)).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = e0.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionAll(e0.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w"))
    nodes = (
        t(spark, sf, "customer")
        .select(F.col("c_custkey").alias("node"))
        .union(
            t(spark, sf, "supplier").select(
                (-(F.col("s_suppkey") + 1)).alias("node")
            )
        )
        .distinct()
    )
    return pagerank(nodes, edges, iterations=3, damping_pct=85)


# ------------------------------------------------- round-5 TPC-H shapes
# The remaining canonical decorrelation/pushdown patterns expressible
# over the testdata's table subset (no partsupp, so Q2/Q11/Q16/Q20 are
# out of reach). Reference parity: these widen the warehouse surface the
# reference's query layer exercises via its SQL frontend; each shape is
# the textbook plan problem, solved the way Catalyst wants it solved.


@register(
    "q151_tpch_q4_shape",
    "TPC-H Q4 shape: EXISTS decorrelation - order-priority distribution "
    "for orders with a returned line, one quarter",
    """SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
       FROM orders o
       WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
         AND o.o_orderdate < TIMESTAMP '1996-04-01'
         AND EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND l.l_returnflag = 'R')
       GROUP BY o.o_orderpriority""",
)
def q151(spark, sf):
    # Q4's plan problem: EXISTS must become a left-semi hash join (one
    # probe per order, no per-row re-scan) with BOTH filters pushed to
    # their scans. lineitem keeps only (l_orderkey) past the filter, so
    # the semi-join build side is one pruned column.
    o = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey"
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q152_tpch_q5_shape",
    "TPC-H Q5 shape: local-supplier volume - 6-way join closed by the "
    "customer-nation = supplier-nation equality, per-nation revenue",
    f"""SELECT n.n_name,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
                       AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name""",
)
def q152(spark, sf):
    # Q5's signature is the cycle-closing predicate s_nationkey =
    # c_nationkey: it rides the supplier hash join as a second equi-key
    # instead of becoming a post-join filter. nation+region broadcast;
    # the fact-side join order (orders before lineitem) keeps the
    # largest build side at |orders|, never |lineitem|.
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier")
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@register(
    "q153_tpch_q13_shape",
    "TPC-H Q13 shape: customer order-count distribution - filtered LEFT "
    "join (predicate inside the join condition) + two-level aggregate",
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
       FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
             FROM customer c
             LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                               AND o.o_orderstatus <> 'F'
             GROUP BY c.c_custkey) per_cust
       GROUP BY c_count""",
)
def q153(spark, sf):
    # Q13's trap: the status predicate must live IN the left-join
    # condition (filtering afterwards would delete the zero-order
    # customers the query exists to count). COUNT(o_orderkey) counts
    # only matched rows - null-aware for free. The outer aggregate is a
    # few-hundred-group hash agg over the first one's output.
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").filter(F.col("o_orderstatus") != "F")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q154_tpch_q15_shape",
    "TPC-H Q15 shape: top supplier by quarterly revenue - reused agg "
    "view + global-max scalar subquery, decimal-exact so ties are exact",
    f"""WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)""",
)
def q154(spark, sf):
    # Q15's decorrelation: the scalar MAX over the same view becomes a
    # 1-row broadcast joined back. The rev view feeds two plan subtrees
    # (the max and the join), and exchange reuse does NOT dedupe them
    # (verified: the adaptive final plan scanned lineitem twice), so the
    # supplier-level aggregate - |suppliers| rows, the natural barrier -
    # is cut once and both consumers read the materialized blocks.
    # Revenue is a decimal-exact sum, so "equal to the max" is
    # well-defined cross-engine - with doubles this query would be
    # flaky by design.
    from ipes_data_pipeline_spark.operators.util import cut

    li = t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    ).transform(cut)
    top = rev.agg(F.max("total_revenue").alias("m"))
    s = t(spark, sf, "supplier")
    return (
        rev.crossJoin(F.broadcast(top))
        .where(F.col("total_revenue") == F.col("m"))
        .join(s, s.s_suppkey == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q155_tpch_q17_shape",
    "TPC-H Q17 shape: correlated per-group average decorrelated to a "
    "grouped join - small-quantity-order revenue for one brand",
    f"""WITH lim AS (
          SELECT l_partkey, 0.2 * {sql_davg('l_quantity')} AS qlim
          FROM lineitem GROUP BY l_partkey)
        SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                 / 7.0 AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN lim ON lim.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23' AND l.l_quantity < lim.qlim""",
)
def q155(spark, sf):
    # Q17's correlated scalar subquery (avg quantity of THIS part)
    # decorrelates as a per-part WINDOW average over the brand-pruned
    # rows: the broadcast semi-join on the brand's part keys runs as a
    # map stage at the scan, and the one shuffle in the plan carries
    # only that ~1/|brands| slice, keyed by l_partkey (groups are
    # lines-per-part sized - no skew). The first cut of this query
    # computed the avg for EVERY part and joined back; at sf10 that
    # aggregated 60M rows to 2M groups and broadcast a 2.4M-row hash
    # side - 205 s vs 9 s for this form, values identical (the per-part
    # average over a part's lineitems is unchanged by dropping other
    # parts' rows). The average is decimal-sum / count (identical IEEE
    # division operands in both engines), so the < comparison is
    # deterministic cross-engine.
    from pyspark.sql.window import Window as W

    li = t(spark, sf, "lineitem")
    p = t(spark, sf, "part").filter(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    li_b = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    w = W.partitionBy("l_partkey")
    qlim = F.lit(0.2) * (
        F.sum(dec("l_quantity")).over(w).cast("double")
        / F.count("l_quantity").over(w)
    )
    return (
        li_b.withColumn("qlim", qlim)
        .where(F.col("l_quantity") < F.col("qlim"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q156_tpch_q19_shape",
    "TPC-H Q19 shape: disjunctive OR-of-ANDs predicate - brand/size/"
    "quantity bands, revenue over the union of three windows",
    f"""SELECT {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)""",
)
def q156(spark, sf):
    # Q19's optimizer test: from the OR-of-ANDs Catalyst must derive the
    # table-local residuals - part rows outside brand {12,23,34} x size
    # 1..15 and lineitem rows outside quantity 1..30 can't satisfy ANY
    # disjunct, so each scan is pre-filtered before the join and the
    # full disjunction evaluates only on join survivors. Expressed as
    # one declarative filter; the derived predicates show up in the
    # scan's PushedFilters, not in hand-written plumbing.
    li = t(spark, sf, "lineitem")
    p = t(spark, sf, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(band).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )


# ------------------------------------------- product-quantization ANN


def _sql_pq_subspace(
    j: int, dsub: int, ksub: int, n_iter: int, qid: int
) -> tuple[list[str], str]:
    """One PQ subspace's CTE family (slice → codebook rounds → codes →
    query distance table) and its ADC part-select — shared verbatim by
    the q159 and q160 oracles so the two chains cannot drift."""
    from ipes_data_pipeline_spark.queries.prep import _SQL_L2

    lo, hi = j * dsub + 1, (j + 1) * dsub
    s = f"s{j}"
    ctes = [f"{s} AS (SELECT id, v[{lo}:{hi}] AS v FROM emb)"]
    ctes.append(
        f"{s}c0 AS (SELECT id AS c_id, v AS c_vec FROM {s} "
        f"ORDER BY id LIMIT {ksub})"
    )
    ctes.extend(_sql_lloyd_rounds(s, n_iter, dim=dsub, prefix=s))
    ctes.append(_sql_lloyd_assign(s, f"{s}c{n_iter}", f"{s}codes"))
    d2 = _SQL_L2.format(a="q.v", b="c.c_vec")
    ctes.append(f"{s}q AS (SELECT v[{lo}:{hi}] AS v FROM emb WHERE id = {qid})")
    ctes.append(
        f"{s}dt AS (SELECT c.c_id, CAST(ROUND({d2}, 6) AS DECIMAL(18,6)) AS d2 "
        f"FROM {s}c{n_iter} c CROSS JOIN {s}q q)"
    )
    part = (
        f"SELECT sc.id, dt.d2 FROM {s}codes sc "
        f"JOIN {s}dt dt ON sc.c_id = dt.c_id"
    )
    return ctes, part


def _q159_oracle(
    m: int = 4, dsub: int = 16, ksub: int = 16, n_iter: int = 3,
    qid: int = 7, k: int = 10,
) -> str:
    """Per-subspace deterministic Lloyd codebooks + ADC sum — the PQ
    twin of the q72 chain: one `_sql_pq_subspace` family per subspace
    over the sliced vectors."""
    ctes = [
        "emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)"
    ]
    parts = []
    for j in range(m):
        sub_ctes, part = _sql_pq_subspace(j, dsub, ksub, n_iter, qid)
        ctes.extend(sub_ctes)
        parts.append(part)
    union = " UNION ALL ".join(parts)
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT id, CAST(SUM(d2) AS DOUBLE) AS adc_d2
FROM ({union}) u
GROUP BY id ORDER BY adc_d2 ASC, id ASC LIMIT {k}"""


@register(
    "q159_pq_ann",
    "similarity search: product-quantization ANN with ADC scan (Jegou "
    "2011) - per-subspace deterministic Lloyd codebooks, vectors live "
    "as m=4 codes, distance = sum of m table lookups; value-checks "
    "cross-engine like q72",
    _q159_oracle(),
)
def q159(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import ivfpq_topk

    emb = t(spark, sf, "embeddings")
    return ivfpq_topk(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == 7), k=10,
        n_cells=None,
    )


def _q160_oracle(
    n_cells: int = 8, n_probe: int = 2, m: int = 4, dsub: int = 16,
    ksub: int = 16, n_iter: int = 3, qid: int = 7, k: int = 10,
) -> str:
    """IVFPQ = the q72 coarse chain + the q159 subspace chains, composed:
    probe cells ranked by centroid distance, codes semi-joined to the
    probed candidates, ADC sum over the survivors."""
    from ipes_data_pipeline_spark.queries.prep import _SQL_L2

    ctes = [_sql_lloyd_cells(n_cells, n_iter)]
    qd2 = _SQL_L2.format(a="q.v", b="c.c_vec")
    ctes.append(f"qv AS (SELECT id, v FROM emb WHERE id = {qid})")
    ctes.append(
        f"qcells AS (SELECT c.c_id FROM c{n_iter} c CROSS JOIN qv q "
        f"ORDER BY {qd2} ASC, c.c_id ASC LIMIT {n_probe})"
    )
    ctes.append("cand AS (SELECT s.id FROM cells s JOIN qcells USING (c_id))")
    parts = []
    for j in range(m):
        sub_ctes, part = _sql_pq_subspace(j, dsub, ksub, n_iter, qid)
        ctes.extend(sub_ctes)
        parts.append(part)
    union = " UNION ALL ".join(parts)
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT u.id AS id, CAST(SUM(u.d2) AS DOUBLE) AS adc_d2
FROM ({union}) u JOIN cand ON u.id = cand.id
GROUP BY u.id ORDER BY adc_d2 ASC, u.id ASC LIMIT {k}"""


@register(
    "q160_ivfpq_ann",
    "similarity search: IVFPQ ANN (FAISS IndexIVFPQ shape) - coarse "
    "learned cells prune the scan to n_probe=2 of 8 cells, PQ codes "
    "bound scan bytes, ADC sum scores survivors; q72's coarse chain "
    "composed with q159's subspace chains, value-checked cross-engine",
    _q160_oracle(),
)
def q160(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import ivfpq_topk

    emb = t(spark, sf, "embeddings")
    return ivfpq_topk(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == 7), k=10
    )


def _sql_pq_res_subspace(
    j: int, dsub: int, ksub: int, n_iter: int
) -> tuple[list[str], str]:
    """One RESIDUAL PQ subspace's CTE family: slices come from ``resv``
    (per-cell residuals) instead of ``emb``, and the query distance
    table is per probed CELL (from ``qres``) — the residual twin of
    :func:`_sql_pq_subspace`, sharing the Lloyd-round builders so the
    chains cannot drift. The ADC part-select keys the table lookup by
    (cell, code): rows in unprobed cells find no table row and drop."""
    from ipes_data_pipeline_spark.queries.prep import _SQL_L2

    lo, hi = j * dsub + 1, (j + 1) * dsub
    s = f"s{j}"
    ctes = [f"{s} AS (SELECT id, v[{lo}:{hi}] AS v FROM resv)"]
    ctes.append(
        f"{s}c0 AS (SELECT id AS c_id, v AS c_vec FROM {s} "
        f"ORDER BY id LIMIT {ksub})"
    )
    ctes.extend(_sql_lloyd_rounds(s, n_iter, dim=dsub, prefix=s))
    ctes.append(_sql_lloyd_assign(s, f"{s}c{n_iter}", f"{s}codes"))
    d2 = _SQL_L2.format(a="q.v", b="c.c_vec")
    ctes.append(f"{s}q AS (SELECT cell, v[{lo}:{hi}] AS v FROM qres)")
    ctes.append(
        f"{s}dt AS (SELECT q.cell, c.c_id, "
        f"CAST(ROUND({d2}, 6) AS DECIMAL(18,6)) AS d2 "
        f"FROM {s}c{n_iter} c CROSS JOIN {s}q q)"
    )
    part = (
        f"SELECT sc.id, dt.d2 FROM {s}codes sc "
        f"JOIN cells cl ON cl.id = sc.id "
        f"JOIN {s}dt dt ON dt.c_id = sc.c_id AND dt.cell = cl.c_id"
    )
    return ctes, part


def _q161_oracle(
    n_cells: int = 8, n_probe: int = 2, m: int = 4, dsub: int = 16,
    ksub: int = 16, n_iter: int = 3, qid: int = 7, k: int = 10,
) -> str:
    """Residual IVFPQ = the q160 chain with a residual stage spliced in:
    ``resv`` holds v - coarse_centroid(cell(v)) (exact IEEE elementwise
    subtraction), subspace codebooks train on those residuals, and each
    probed cell owns its own query distance tables built from the
    query's residual against THAT cell's centroid."""
    from ipes_data_pipeline_spark.queries.prep import _SQL_L2

    dim = m * dsub
    ctes = [_sql_lloyd_cells(n_cells, n_iter)]
    ctes.append(
        f"resv AS (SELECT s.id, cl.c_id, "
        f"list_transform(range(1, {dim + 1}), i -> s.v[i] - c.c_vec[i]) AS v "
        f"FROM emb s JOIN cells cl ON cl.id = s.id "
        f"JOIN c{n_iter} c ON c.c_id = cl.c_id)"
    )
    qd2 = _SQL_L2.format(a="q.v", b="c.c_vec")
    ctes.append(f"qv AS (SELECT id, v FROM emb WHERE id = {qid})")
    ctes.append(
        f"qcells AS (SELECT c.c_id FROM c{n_iter} c CROSS JOIN qv q "
        f"ORDER BY {qd2} ASC, c.c_id ASC LIMIT {n_probe})"
    )
    ctes.append(
        f"qres AS (SELECT qc.c_id AS cell, "
        f"list_transform(range(1, {dim + 1}), i -> q.v[i] - c.c_vec[i]) AS v "
        f"FROM qcells qc JOIN c{n_iter} c ON c.c_id = qc.c_id "
        f"CROSS JOIN qv q)"
    )
    parts = []
    for j in range(m):
        sub_ctes, part = _sql_pq_res_subspace(j, dsub, ksub, n_iter)
        ctes.extend(sub_ctes)
        parts.append(part)
    union = " UNION ALL ".join(parts)
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT u.id AS id, CAST(SUM(u.d2) AS DOUBLE) AS adc_d2
FROM ({union}) u
GROUP BY u.id ORDER BY adc_d2 ASC, u.id ASC LIMIT {k}"""


def _materialize_ctes(sql: str) -> str:
    """Rewrite every CTE to ``name AS MATERIALIZED (...)`` — a DuckDB
    planner hint with identical semantics. DuckDB inlines a CTE at every
    reference site; q161's ``resv`` (which embeds the whole coarse Lloyd
    chain) is referenced by all m subspace chains, so the plain text
    re-trains the coarse chain 4x per subspace stage — 41 s at sf0.01
    and past the 180 s pairing cap at sf0.1. Materialized: 0.6 s /
    0.9 s, byte-identical results (measured round 8). Applied only
    where the blowup is real so the other oracle texts stay plain SQL.
    """
    import re

    # The rewrite matches every "<word> AS (" — valid ONLY for SQL
    # whose sole such sites are CTE heads. A "WINDOW w AS (...)"
    # clause would be silently mangled into invalid SQL, so assert
    # that shape out up front instead of emitting garbage.
    if re.search(r"\bWINDOW\s+\w+\s+AS\s*\(", sql, flags=re.IGNORECASE):
        raise ValueError(
            "_materialize_ctes cannot rewrite SQL containing a WINDOW "
            "clause: its '<name> AS (' head would become invalid "
            "'AS MATERIALIZED' syntax. Materialize the CTEs by hand."
        )
    return re.sub(r"(\b\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


@register(
    "q161_ivfpq_residual_ann",
    "similarity search: RESIDUAL IVFPQ ANN (FAISS IndexIVFPQ "
    "by_residual, the faithful form) - PQ codebooks train on and codes "
    "encode v - coarse_centroid, each probed cell owns its own query "
    "distance tables; drains the 'next gear' deferral named in "
    "ivfpq_topk's docs, value-checked cross-engine like q159/q160",
    _materialize_ctes(_q161_oracle()),
)
def q161(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import ivfpq_topk

    emb = t(spark, sf, "embeddings")
    return ivfpq_topk(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == 7), k=10,
        residual=True,
    )
