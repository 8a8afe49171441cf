"""Blocked fuzzy deduplication → canonical entity ids (SURVEY.md F4 / Q39).

The reference implements fuzzy dedup as an O(n²) all-pairs Python loop with
order-dependent merging (reference ``code/structure_data.py:155-211``). That
caps out around 10³ entities. The scalable re-expression is the classic
three-stage shape:

1. **Block**: a cheap deterministic key (first token, prefix, soundex,
   MinHash band) so candidate pairs only form within a block. Turns the
   O(n²) cross join into Σ O(b²) over blocks — with well-sized blocks this
   is linear-ish and each block's pairs co-locate on one shuffle partition.
2. **Refine**: `levenshtein(a, b) <= max_edits` on candidate pairs
   (JVM-side built-in, whole-stage codegen).
3. **Resolve**: connected components inside each block. Edges form only
   within one ``(blk, sub)`` group and every node has exactly one group,
   so every component lies inside one group: a single grouped
   ``applyInArrow`` over ``(blk, sub)`` runs numpy min-label propagation
   with pointer jumping on each group's edge list — one shuffle, exact
   components of any diameter, no driver collect, no lineage to cut.

Canonical id = component minimum ⇒ order-independent, unlike the
reference's scan-order merge (SURVEY.md §2.3.5 documents the divergence).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ipes_data_pipeline_spark.operators.util import sub_salt


def _keyed(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_expr: Column,
    block_cap: int | None,
) -> DataFrame:
    """``(node, name, blk, sub)``: every row with its block and sub-block."""
    keyed = df.select(
        F.col(id_col).alias("node"),
        F.col(name_col).alias("name"),
        block_expr.alias("blk"),
    )
    return sub_salt(keyed, ["blk"], block_cap, "node")


def candidate_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_expr: Column,
    max_edits: int = 2,
    block_cap: int | None = None,
) -> DataFrame:
    """Blocked levenshtein half edges ``(blk, sub, src, dst)``, ``src < dst``.

    ``block_expr`` is evaluated per-row; pairs form only within equal
    blocks. At 100 TB the block key is the shuffle key — choose it so the
    largest block fits one task (salt or refine the key if skewed).

    ``block_cap`` is the skew valve (``util.sub_salt``, the q42p
    pattern): a block larger than the cap is deterministically
    sub-salted by ``md5(node) % ceil(bsz / cap)`` and pairs form only
    within a sub-block — in-block levenshtein work drops from O(b²) to
    O(b·cap) at the price of recall for pairs the salt separates, in
    exactly the oversized blocks. Every term (md5, ceil, mod) is
    ANSI-SQL-expressible, so unlike the MinHash valve this one is
    value-checked by the q39p oracle IN the regime where it fires.
    ``None`` ⇒ lossless blocking (``sub`` is 0 everywhere).
    """
    keyed = _keyed(df, id_col, name_col, block_expr, block_cap)
    # Round-robin the probe side: under a broadcast-hash join the probe
    # inherits the scan's partitioning (often 1 file = 1 task), which
    # serializes the whole O(Σb²) levenshtein work. With a shuffled probe
    # side every core gets a slice regardless of block skew.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    a = keyed.repartition(n_parts).alias("a")
    b = keyed.alias("b")
    # 3-arg levenshtein early-exits the DP once the distance exceeds the
    # threshold (returns -1 then) — ~2× cheaper on the refine hot path
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"), max_edits)
    return (
        a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.sub") == F.col("b.sub"),
                F.col("a.node") < F.col("b.node"),
            ],
        )
        .where((lev >= 0) & (lev <= max_edits))
        .select(
            F.col("a.blk").alias("blk"),
            F.col("a.sub").alias("sub"),
            F.col("a.node").alias("src"),
            F.col("b.node").alias("dst"),
        )
    )


def _block_components(tbl: pa.Table) -> pa.Table:
    """``(node, canonical_id)`` for one block's edge list, which holds a
    self edge per node. Nodes are ranked by Arrow's sort — on strings
    the UTF-8 byte order Spark's ``min`` uses — so the minimum rank is
    the minimum id. Each round takes the min label over every edge in
    both directions, then pointer-jumps labels to their own labels
    (a label never exceeds its node, so jumping only lowers it)."""
    src, dst = tbl.column("src"), tbl.column("dst")
    ids = pc.unique(src)
    ids = ids.take(pc.sort_indices(ids))
    s = pc.index_in(src, value_set=ids).to_numpy()
    d = pc.index_in(dst, value_set=ids).to_numpy()
    lab = np.arange(len(ids))
    while True:
        new = lab.copy()
        np.minimum.at(new, s, lab[d])
        np.minimum.at(new, d, lab[s])
        jumped = new[new]
        while not np.array_equal(jumped, new):
            new, jumped = jumped, jumped[jumped]
        if np.array_equal(new, lab):
            break
        lab = new
    return pa.table({"node": ids, "canonical_id": ids.take(pa.array(lab))})


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
    component of near-duplicate names (exact, any diameter).

    ``id_col`` must be a key: one row per id. Default block = first
    whitespace token of the name (the reference's implicit blocking is
    none at all; first-token blocking is the cheapest key that keeps true
    duplicates together for entity-name data). A null name joins no edge
    and stays a singleton. ``block_cap``: the oversized-block skew valve
    — see :func:`candidate_pairs`.
    """
    block = (
        block_expr
        if block_expr is not None
        else F.element_at(F.split(F.col(name_col), r"\s+"), 1)
    )
    selfs = _keyed(df, id_col, name_col, block, block_cap).select(
        "blk", "sub", F.col("node").alias("src"), F.col("node").alias("dst")
    )
    # Group on a 64-bit hash of (blk, sub): one long per edge crosses to
    # Python instead of the block string (q39 at a generated sf1 on 4
    # cores: resolve-stage task time ~60 → ~37 s), and a collision only
    # hands two blocks' edge lists to one call — no edge joins them, so
    # their components stay apart.
    edges = (
        candidate_pairs(df, id_col, name_col, block, max_edits, block_cap)
        .unionByName(selfs)
        .select(F.xxhash64("blk", "sub").alias("grp"), "src", "dst")
    )
    id_type = df.schema[id_col].dataType
    schema = StructType(
        [StructField("node", id_type), StructField("canonical_id", id_type)]
    )
    return (
        edges.groupBy("grp")
        .applyInArrow(_block_components, schema)
        .select(F.col("node").alias(id_col), "canonical_id")
    )
