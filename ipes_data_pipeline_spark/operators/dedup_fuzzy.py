"""Blocked fuzzy deduplication → canonical entity ids (SURVEY.md F4 / Q39).

The reference implements fuzzy dedup as an O(n²) all-pairs Python loop with
order-dependent merging (reference ``code/structure_data.py:155-211``). That
caps out around 10³ entities. The scalable re-expression is the classic
three-stage shape, run as one grouped pass with one shuffle:

1. **Block**: a cheap deterministic key (first token, prefix, soundex,
   MinHash band) so candidate pairs only form within a block. Turns the
   O(n²) cross join into Σ O(b²) over blocks — with well-sized blocks this
   is linear-ish. The block key and its ``util.sub_salt`` sub-block are
   the shuffle key: each ``(blk, sub)`` group reaches one
   ``util.group_apply`` call whole.
2. **Refine**: inside the call, one numpy kernel scores every ``i < j``
   pair of the group's rows — Ukkonen's banded edit-distance DP,
   vectorized across pairs (:func:`_banded_edit_distance`). Only the cells
   within ``max_edits`` of the diagonal are computed, pairs go through in
   chunks so a block's memory stays bounded, and distances count code
   points, as Spark's ``levenshtein`` does.
3. **Resolve**: connected components of the group's close pairs by numpy
   min-label propagation with pointer jumping (:func:`_min_labels`).
   Pairs form only within one group and every node has exactly one group,
   so every component lies inside one group: exact components of any
   diameter, no edge row in Spark, no driver collect, no lineage to cut.

Canonical id = component minimum ⇒ order-independent, unlike the
reference's scan-order merge (SURVEY.md §2.3.5 documents the divergence).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.util import (
    CHUNK_CELLS as _CHUNK_CELLS,
    group_apply,
    group_ends,
    pair_chunks,
    sub_salt,
)


def _code_points(names: list[str], k: int) -> tuple[np.ndarray, np.ndarray]:
    """``(codes, lens)``: column ``r`` of the ``uint32`` matrix holds
    name ``r``'s code points in rows ``k + 1 .. k + lens[r]``, zero
    elsewhere, in ``max(lens) + 2k + 1`` rows. Names lie along columns
    so that a kernel row (one position, every pair) is contiguous."""
    lens = np.fromiter(map(len, names), np.int64, len(names))
    rows = np.arange(lens.max(initial=0) + 2 * k + 1)
    codes = np.zeros((len(names), len(rows)), np.uint32)
    codes[(rows > k) & (rows <= k + lens[:, None])] = np.frombuffer(
        "".join(names).encode("utf-32-le"), np.uint32
    )
    return codes.T.copy(), lens


def _banded_edit_distance(
    a: np.ndarray, la: np.ndarray, b: np.ndarray, lb: np.ndarray, k: int
) -> np.ndarray:
    """``min(levenshtein, k + 1)`` of each pair: Ukkonen's banded DP
    (1985), vectorized across pairs. Every pair needs ``|la − lb| ≤ k``.

    Column ``p`` of ``a`` and of ``b`` holds pair ``p``'s two names as
    :func:`_code_points` lays them out, so DP row ``i`` compares
    ``a[k + i]`` with the band ``b[i : i + 2k + 1]``. Band row ``t`` of
    DP row ``i`` is ``D[i][i + t − k]``; a cell off the matrix, or
    farther than ``k``, reads ``k + 1``. Cells past a name's end hold
    garbage, whatever the padding, because no cell ``D[i][j]`` with
    ``i ≤ la, j ≤ lb`` reads them; a pair's answer ``D[la][lb]`` is read
    when the sweep reaches DP row ``la``.
    """
    cap, band = k + 1, 2 * k + 1
    dt = np.min_scalar_type(k + 3)  # holds cap + 2, the largest sum
    t = np.arange(band)
    row0 = np.where(t >= k, t - k, cap).astype(dt)  # D[0][j] = j
    prev = np.repeat(row0[:, None], len(la), 1)
    at = lb - la + k
    out = np.full(len(la), cap, dt)
    for i in range(int(la.max(initial=0)) + 1):
        if i:
            cur = prev + (a[k + i] != b[i : i + band])
            np.minimum(cur[:-1], prev[1:] + 1, out=cur[:-1])
            if i <= k:  # D[i][0] = i, and j < 0 is off the matrix
                cur[: k - i] = cap
                cur[k - i] = i
            for c in range(1, band):
                np.minimum(cur[c], cur[c - 1] + 1, out=cur[c])
            prev = np.minimum(cur, cap, out=cur)
        done = np.flatnonzero(la == i)
        out[done] = prev[at[done], done]
    return out


def _close_pairs(names: list[str], k: int) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs ``i < j`` of ``names`` at most ``k`` edits apart. The
    ``i < j`` pairs are enumerated a chunk at a time, never as one
    triangle, and pairs whose lengths differ by more than ``k`` are
    dropped before the kernel."""
    n = len(names)
    if k < 0 or n < 2:  # Spark's levenshtein links nothing below 0
        return np.empty(0, np.int64), np.empty(0, np.int64)
    codes, lens = _code_points(names, k)
    src, dst = [], []
    for i, j in pair_chunks(np.full(n, n), _CHUNK_CELLS // len(codes)):
        near = np.abs(lens[i] - lens[j]) <= k
        i, j = i[near], j[near]
        d = _banded_edit_distance(codes[:, i], lens[i], codes[:, j], lens[j], k)
        src.append(i[d <= k])
        dst.append(j[d <= k])
    return np.concatenate(src), np.concatenate(dst)


def _min_labels(n: int, s: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Each node's component minimum, for nodes ``0..n-1`` joined by the
    edges ``s[e] – d[e]``. Each round takes the min label over every edge
    in both directions, then pointer-jumps labels to their own labels (a
    label never exceeds its node, so jumping only lowers it)."""
    lab = np.arange(n)
    while True:
        new = lab.copy()
        np.minimum.at(new, s, lab[d])
        np.minimum.at(new, d, lab[s])
        jumped = new[new]
        while not np.array_equal(jumped, new):
            new, jumped = jumped, jumped[jumped]
        if np.array_equal(new, lab):
            return lab
        lab = new


def _block_labels(tbl: pa.Table, max_edits: int) -> pa.Table:
    """``(node, canonical_id)`` for whole ``(blk, sub)`` groups. Rows are
    sorted by Arrow's order — on strings the UTF-8 byte order Spark's
    ``min`` uses — so within a group the minimum index is the minimum id."""
    order = [(c, "ascending") for c in ("blk", "sub", "node")]
    tbl = tbl.take(pc.sort_indices(tbl, order))
    ends = group_ends(tbl, ["blk", "sub"])
    name = tbl.column("name")
    # a null name pairs with nothing, nor does a row of a NULL block
    # (SQL's a.blk = b.blk never matches NULL)
    paired = name.is_valid().to_numpy() & tbl.column("blk").is_valid().to_numpy()
    src, dst, lo = [np.empty(0, np.int64)], [np.empty(0, np.int64)], 0
    while lo < tbl.num_rows:
        named = lo + np.flatnonzero(paired[lo : ends[lo]])
        s, d = _close_pairs(name.take(named).to_pylist(), max_edits)
        src.append(named[s])
        dst.append(named[d])
        lo = ends[lo]
    lab = _min_labels(tbl.num_rows, np.concatenate(src), np.concatenate(dst))
    ids = tbl.column("node")
    return pa.table({"node": ids, "canonical_id": ids.take(lab)})


def min_label_components(
    nodes: DataFrame, edges: DataFrame, iterations: int
) -> DataFrame:
    """Connected components by min-label propagation, for graphs whose
    edges cross any partitioning key (LSH band graphs).

    ``nodes``: one column ``node``; ``edges``: ``src``/``dst`` (directed
    both ways). Returns ``(node, canonical_id)``. After *k* rounds each
    label is the minimum over the k-hop neighborhood, so ``iterations``
    must be ≥ the component diameter; the fixed unroll is what the
    oracles reproduce.
    """
    # The edge set is referenced every round: callers pin it first
    # (util.pin_pairs / cut) — an un-materialized producing join would
    # re-execute once per round.
    e_self = edges.unionAll(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    # Round 1 fused: the initial label of a node IS the node, so the first
    # propagation is plain groupBy(src).min(dst) — one shuffle, no join.
    labels = e_self.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("lab")
    )
    for _ in range(iterations - 1):
        labels = (
            e_self.join(labels, e_self.dst == labels.node)
            .groupBy(e_self.src.alias("node"))
            .agg(F.min("lab").alias("lab"))
        )
    return labels.select("node", F.col("lab").alias("canonical_id"))


def dedupe_fuzzy(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_expr: Column | None = None,
    max_edits: int = 2,
    block_cap: int | None = None,
) -> DataFrame:
    """Full blocked fuzzy dedup: returns ``(<id_col>, canonical_id)``,
    where ``canonical_id`` is the minimum id of the row's connected
    component of names at most ``max_edits`` code-point edits apart
    (exact, any diameter).

    ``id_col`` must be a key: one row per id. ``block_expr`` is evaluated
    per row, and pairs form only within equal non-null blocks. Default
    block = first whitespace token of the name (the reference's implicit
    blocking is none at all; first-token blocking is the cheapest key
    that keeps true duplicates together for entity-name data). A null
    name joins no pair and stays a singleton. At 100 TB the block key is
    the shuffle key, and a block's pairs are scored in its one task —
    choose the key so the largest block fits one task.

    ``block_cap`` is the skew valve (``util.sub_salt``, the q42p
    pattern): a block larger than the cap is deterministically
    sub-salted by ``md5(node) % ceil(bsz / cap)`` and pairs form only
    within a sub-block — in-block pair work drops from O(b²) to O(b·cap)
    at the price of recall for pairs the salt separates, in exactly the
    oversized blocks. Every term (md5, ceil, mod) is ANSI-SQL-expressible,
    so unlike the MinHash valve this one is value-checked by the q39p
    oracle IN the regime where it fires. ``None`` ⇒ lossless blocking
    (``sub`` is 0 everywhere).
    """
    if block_expr is None:
        block_expr = F.element_at(F.split(F.col(name_col), r"\s+"), 1)
    keyed = df.select(
        F.col(id_col).alias("node"),
        F.col(name_col).alias("name"),
        block_expr.alias("blk"),
    )
    t = df.schema[id_col].dataType.simpleString()
    return group_apply(
        sub_salt(keyed, ["blk"], block_cap, "node"),
        ["blk", "sub"],
        lambda tbl: _block_labels(tbl, max_edits),
        f"node {t}, canonical_id {t}",
    ).select(F.col("node").alias(id_col), "canonical_id")
