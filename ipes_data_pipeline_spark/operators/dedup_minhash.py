"""Near-duplicate detection: MinHash-LSH, SimHash, n-gram Jaccard.

Scale design: every pair operator is *blocked* and runs as one grouped
pass (``util.group_apply``, the shape :mod:`.dedup_fuzzy` uses). Rows
shuffle once on their bucket key — an LSH band value ``(band_idx,
band_key, sub)`` or the n-gram block — and each Arrow call takes whole
buckets, enumerates every bucket's ``i < j`` pairs in chunks
(``util.pair_chunks``) and scores them in numpy (:func:`_bucket_pairs`).
No O(n²) cross join and no band self-join ever materializes.

Each band row carries its document's whole band vector: the integer
band components (``bk``) and, when capped, every band's ``sub``. A pair
leaves only the lowest band where both rows share key and ``sub``, so
the pair set is duplicate-free without a ``.distinct()``. A refine whose
payload is one small value per row runs in the same call: hamming over
SimHash's 48-bit chunks, token-set Jaccard over per-bucket bitsets.
MinHash's exact shingle Jaccard stays two id-keyed joins. Signatures are
JVM-side (min aggregates, array folds); oracle twins in
queries/dataops.py.

Skew valves default ON: every pair API ships with ``bucket_cap=256``,
so a boilerplate-heavy corpus (many documents sharing one band value)
gets its oversized buckets deterministically sub-salted instead of
walking into quadratic per-bucket pair growth (measured 3.6×-wall /
24×-pairs on a skewed corpus at sf0.1 — SCALING.md). The cap trades
recall ONLY inside the buckets it touches; unskewed buckets are
byte-identical. Pass ``bucket_cap=None`` for lossless blocking — the
oracle-pinned queries do, explicitly, so their value hashes are
cap-independent.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.functions.text import (
    distinct_tokens,
    shingles,
    simhash_bits_from_hashes,
    simhash_bits_from_masks,
    simhash_masks,
    token_hashes,
    tokens,
)
from ipes_data_pipeline_spark.operators.util import (
    CHUNK_CELLS,
    cut,
    group_apply,
    group_ends,
    pair_chunks,
    spill_worthwhile,
    spread,
    sub_salt,
)


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(id, band_idx, band_key, bk) — one row per LSH band per document;
    ``bk`` holds the document's banded MinHash components as integers
    (the pair kernel's band vector).

    Tokens → shingles → salted shingle hashes → signatures are *staged
    projections* so each array computes once per row. Pass
    ``shingles_df`` — a precomputed ``(id, sh: array<string>)`` frame
    (same ``shingle_n``!) — to skip the tokenize+shingle stages; the
    refine step of :func:`minhash_neardup_pairs` shares one
    materialized shingle frame with the banding this way instead of
    tokenizing the corpus twice.

    ``hash_fn`` picks the MinHash family:

    - ``"xxhash64"`` (default — the production path): one JVM xxHash64
      pass per salt, sliced into TWO 32-bit components per pass. ~10×
      cheaper per shingle than md5, which dominates this operator.
    - ``"md5"`` (the oracle-portable path): md5 digests sliced into FOUR
      8-hex-char components per pass — the only hash both Spark and
      DuckDB compute identically, so every value-checked query pins it.

    Both families are uniform 32-bit MinHashes; candidate QUALITY is
    statistically identical (same S-curve), only the per-shingle hash
    cost and the engine-portability differ.
    """
    if shingles_df is not None:
        sh_df = shingles_df
    else:
        toks_df = spread(df).select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
        )
        sh_df = toks_df.select(
            "id", shingles(F.col("toks"), shingle_n).alias("sh")
        )
    if hash_fn == "md5":
        per_pass = 4

        def hash_col(salt):
            return F.md5(F.concat(F.lit(f"{salt}|"), F.col("s")))

        def piece(salt, k):
            return F.substring(F.col(f"h{salt}"), k * 8 + 1, 8)

        def as_long(c):
            return F.conv(c, 16, 10).cast("long")

    elif hash_fn == "xxhash64":
        per_pass = 2

        def hash_col(salt):
            return F.xxhash64(F.concat(F.lit(f"{salt}|"), F.col("s")))

        def piece(salt, k):
            if k == 0:
                return F.shiftrightunsigned(F.col(f"h{salt}"), 32)
            return F.col(f"h{salt}").bitwiseAND(F.lit(0xFFFFFFFF))

        def as_long(c):
            return c

    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    n_salts = -(-n_hashes // per_pass)  # ceil: components per hash pass
    # Signatures via explode + min AGGREGATES, not array higher-order
    # functions: HOFs run interpreted (no whole-stage codegen), and at
    # 24 array traversals per document the interpreter overhead WAS the
    # operator (measured ~2.3 s of q42f's 2.9 at sf0.1). Exploded rows
    # hash in codegen and the mins partial-aggregate map-side, so the
    # shuffle carries |docs| × n_hashes minima, not shingles.
    # explode_outer + the null-guarded hash keep empty shingle sets on
    # a NULL-component signature (Spark's xxhash64(NULL) would
    # otherwise yield the seed, a REAL minimum) — so such documents
    # still band on the same concat_ws('') key as the HOF form did.
    ex = sh_df.select("id", F.explode_outer("sh").alias("s"))
    staged = ex.select(
        "id",
        *[
            F.when(F.col("s").isNotNull(), hash_col(salt)).alias(f"h{salt}")
            for salt in range(n_salts)
        ],
    )
    with_sig = staged.groupBy("id").agg(
        *[
            F.min(piece(i // per_pass, i % per_pass)).alias(f"mh{i}")
            for i in range(n_hashes)
        ]
    )
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * band_size + k}").cast("string")
                        for k in range(band_size)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    # bk: the banded components as integers, NULL (an empty shingle
    # set) as -1, so the pair kernel compares band keys without strings
    bk = F.array(
        *[
            F.coalesce(as_long(F.col(f"mh{i}")), F.lit(-1))
            for i in range(n_bands * band_size)
        ]
    )
    return with_sig.select("id", bk.alias("bk"), F.explode(bands).alias("b")).select(
        "id",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_key").alias("band_key"),
        "bk",
    )


def _set_bits(x: np.ndarray) -> np.ndarray:
    """Set bits in each row of an integer matrix."""
    return np.unpackbits(x.view(np.uint8), axis=1).sum(1, dtype=np.int64)


def _longs(tbl: pa.Table, col: str) -> np.ndarray:
    """A fixed-length ``array<bigint>`` column as an ``(n, width)`` matrix."""
    return pc.list_flatten(tbl.column(col)).to_numpy().reshape(tbl.num_rows, -1)


def _hamming(max_hamming: int):
    """Refine: bits differing between the rows' 48-bit ``sim`` chunks,
    kept at most ``max_hamming``."""

    def prep(tbl):
        x = _longs(tbl, "sim")

        def score(i, j):
            h = _set_bits(x[i] ^ x[j]).astype(np.int32)
            return h <= max_hamming, h

        return x.shape[1], score

    return prep


def _jaccard(threshold: float):
    """Refine: token-set Jaccard of the rows' ``toks``, kept at or above
    ``threshold``. Each row's set is a bitset over the call's distinct
    tokens, so a chunk of pairs scores with one AND and bit count."""

    def prep(tbl):
        toks = tbl.column("toks").combine_chunks()
        size = pc.list_value_length(toks).fill_null(0).to_numpy()
        code = pc.dictionary_encode(pc.list_flatten(toks)).indices.to_numpy()
        bits = np.zeros((len(size), code.max(initial=0) // 8 + 1), np.uint8)
        rows = np.repeat(np.arange(len(size)), size)
        bit = (1 << code % 8).astype(np.uint8)
        np.bitwise_or.at(bits, (rows, code // 8), bit)
        # a NULL set pairs with nothing, nor do two empty sets (0 / 0)
        valid = toks.is_valid().to_numpy(zero_copy_only=False)

        def score(i, j):
            inter = _set_bits(bits[i] & bits[j])
            union = size[i] + size[j] - inter
            ok = valid[i] & valid[j] & (union > 0)
            jac = inter / np.where(ok, union, 1).astype(np.float64)
            return ok & (jac >= threshold), jac

        return bits.shape[1], score

    return prep


def _bucket_pairs(
    tbl: pa.Table, keys: list[str], band_w: int, refine, score_name: str
) -> pa.Table:
    """``(id_a, id_b[, score])`` of whole bucket groups: each group's
    ``i < j`` rows in id order, enumerated a chunk at a time
    (``util.pair_chunks``).

    - A group with a NULL key pairs nothing (SQL's ``a.k = b.k``).
    - Rows flagged ``is_new`` are probes: they sort first in their group
      and pair with each later row, so ``id_a`` is the probe and no two
      other rows pair.
    - Banded rows carry ``bk`` (every band's integer components,
      ``band_w`` per band) and, when capped, ``subs`` (every band's
      sub). A pair is kept only if no lower band puts both rows in one
      bucket, so each pair leaves exactly one group: the lowest it shares.
    - ``refine(tbl)`` gives ``(cells per pair, score)``; ``score(i, j)``
      gives the keep mask and the pair scores, output as ``score_name``.
    """
    cols = tbl.column_names
    probe = "is_new" in cols
    order = [(k, "ascending") for k in keys] + [("is_new", "descending")] * probe
    tbl = tbl.take(pc.sort_indices(tbl, order + [("id", "ascending")]))
    ids, n = tbl.column("id"), tbl.num_rows
    rank = pc.rank(ids, tiebreaker="dense").to_numpy()
    alone = np.any([tbl.column(k).is_null().to_numpy() for k in keys], 0)
    if probe:  # a row that is not new starts no pair
        alone |= ~tbl.column("is_new").to_numpy()
    ends = np.where(alone, np.arange(1, n + 1), group_ends(tbl, keys))
    n_bands = 0
    if "bk" in cols:
        bk = _longs(tbl, "bk")
        subs = _longs(tbl, "subs") if "subs" in cols else None
        n_bands = bk.shape[1] // band_w
        below = np.arange(n_bands) < tbl.column("band_idx").to_numpy()[:, None]
    width, score = refine(tbl) if refine else (0, None)
    e = np.empty(0, np.int64)
    out_i, out_j, out_s = [e], [e], [score(e, e)[1]] if score else []
    for i, j in pair_chunks(ends, CHUNK_CELLS // (1 + n_bands * band_w + width)):
        if score:  # first: the refine keeps few of a skewed bucket's pairs
            keep, s = score(i, j)
            i, j, s = i[keep], j[keep], s[keep]
        keep = rank[i] != rank[j]
        if n_bands:  # drop the pairs that a lower band shares
            same = (bk[i] == bk[j]).reshape(len(i), n_bands, band_w).all(2)
            if subs is not None:
                same &= subs[i] == subs[j]
            keep &= ~(same & below[i]).any(1)
        out_i.append(i[keep])
        out_j.append(j[keep])
        if score:
            out_s.append(s[keep])
    out = {
        "id_a": ids.take(np.concatenate(out_i)),
        "id_b": ids.take(np.concatenate(out_j)),
    }
    if score:
        out[score_name] = np.concatenate(out_s)
    return pa.table(out)


def _pairs(
    rows: DataFrame, keys: list[str], band_w: int = 0, refine=None, score: str = ""
) -> DataFrame:
    """The grouped pair pass over ``rows`` (``id`` plus the payload
    :func:`_bucket_pairs` reads): ``(id_a, id_b[, <score>])``, where
    ``score`` is the refine's output column as DDL (``"hamming int"``)."""
    t = rows.schema["id"].dataType.simpleString()
    name = score.split(" ")[0]
    kernel = partial(
        _bucket_pairs, keys=keys, band_w=band_w, refine=refine, score_name=name
    )
    schema = f"id_a {t}, id_b {t}" + (f", {score}" if score else "")
    return group_apply(rows, keys, kernel, schema)


def _salted(bands: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """``util.sub_salt`` over one-row-per-band rows. When capped, each row
    also carries ``subs``, the sub of every band of its document in band
    order, for :func:`_bucket_pairs`' lowest-band rule. The window runs
    inside the partitions of the signature rows, already hashed by id."""
    salted = sub_salt(bands, keys, cap, "id")
    if cap is None:
        return salted
    doc = Window.partitionBy(*[c for c in ("id", "is_new") if c in bands.columns])
    by_band = F.sort_array(F.collect_list(F.struct("band_idx", "sub")).over(doc))
    return salted.withColumn("subs", by_band.getField("sub"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    bucket_cap: int | None = 256,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing any LSH band.

    One grouped pass: band rows shuffle once on ``(band_idx, band_key,
    sub)``, each bucket enumerates its own pairs, and a pair leaves only
    the lowest band its documents share, so the set is duplicate-free.
    Callers typically refine with exact Jaccard on the candidates.
    ``hash_fn`` / ``bucket_cap``: see :func:`minhash_bands` /
    :func:`~ipes_data_pipeline_spark.operators.util.sub_salt`
    (production default xxhash64; oracle queries pin md5; the cap — ON
    by default at 256 — bounds quadratic buckets on boilerplate-heavy
    corpora; pass ``None`` for lossless blocking).
    """
    bands = minhash_bands(
        df, id_col, text_col, n_hashes, band_size, shingle_n, hash_fn, shingles_df
    )
    keys = ["band_idx", "band_key", "sub"]
    return _pairs(_salted(bands, keys[:2], bucket_cap), keys, band_size)


def minhash_lsh_pairs_delta(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    corpus_bands: DataFrame | None = None,
    hash_fn: str = "xxhash64",
    bucket_cap: int | None = 256,
) -> DataFrame:
    """Incremental dedup: candidate pairs of a NEW batch against an
    existing corpus plus the batch itself — without ever re-pairing the
    corpus against the corpus.

    The production shape for continuously-ingested corpora: the corpus
    band index is a stored artifact (pass ``corpus_bands``, a stored
    :func:`minhash_bands` output — it MUST have been built with the same
    ``hash_fn`` and ``band_size``; then only the new batch pays
    tokenize+hash). Inside each bucket the batch's rows pair with every
    other row once, so the candidate count scales with |new|, not
    |corpus|. Pairs: (new_id, other_id) where other is any corpus doc
    sharing a band, or a LATER new doc (new-new pairs ordered once,
    corpus-new pairs in new→corpus direction only).

    ``bucket_cap`` caps the COMBINED (corpus ∪ new) band buckets: sizes
    are counted over the union so a boilerplate band key that is huge in
    the corpus gets sub-salted even when the new batch's share is small.
    """
    new_bands = minhash_bands(
        new_df, id_col, text_col, n_hashes, band_size, shingle_n, hash_fn
    )
    if corpus_bands is None:
        corpus_bands = minhash_bands(
            corpus_df, id_col, text_col, n_hashes, band_size, shingle_n, hash_fn
        )
    rows = corpus_bands.withColumn("is_new", F.lit(False)).unionByName(
        new_bands.withColumn("is_new", F.lit(True))
    )
    keys = ["band_idx", "band_key", "sub"]
    return _pairs(_salted(rows, keys[:2], bucket_cap), keys, band_size).select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("other_id")
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 16,
    band_size: int = 2,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    bucket_cap: int | None = 256,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates refined by EXACT shingle-set
    Jaccard ≥ ``threshold``. Returns (id_a, id_b, jaccard).

    This is the shipped dedup decision (candidates alone over-report):
    the LSH stage bounds pair generation (:func:`minhash_lsh_pairs`' one
    bucket-keyed pass, no O(n²)), the refine touches only candidates —
    two joins keyed on the pair ids against the shingle projection. The
    refine granularity deliberately MATCHES the blocking granularity (the
    same ``shingle_n`` sets MinHash sketches): a threshold on a different
    similarity (e.g. token Jaccard) would admit pairs the sketch cannot
    see — scrambled-word documents share ~all tokens but ~no 3-shingles — making output
    depend on band-collision luck. On the same granularity the refine
    verdict is hash-independent and both hash families converge on the
    same output wherever both catch the ≥θ pairs (the property the
    fast-path oracle q42f checks); family recall at θ follows the same
    S-curve 1-(1-θ^band_size)^(n_hashes/band_size) either way — 16
    hashes / 8 bands put a j=0.89 miss at ~4e-6.
    """
    # ONE shingle frame feeds both the banding and the refine — the
    # tokenize+shingle projection is the operator's single heaviest map
    # stage, and the naive form paid it twice (once under the bands'
    # checkpoint, once per refine side). Eager cut, via the columnar
    # parquet spill ONCE THE INPUT IS BIG: the per-doc shingle STRING
    # ARRAYS are exactly the deserialized-row-block shape that thrashed
    # the heap in the r9 q39 edge-store A/B (this frame was SCALING.md's
    # remaining q42p suspect — "the sf10 shingle-array cut()
    # materialization breathing with memory pressure"); below the
    # threshold localCheckpoint skips the spill's write job (round-10
    # sf0.1 A/B: the spill's extra write job cost ~0.4 s/query).
    # Referenced by the band stage and both refine joins; no
    # spark_partition_id consumer.
    sh_df = cut(
        spread(df)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
        .select("id", shingles(F.col("toks"), shingle_n).alias("sh")),
        via_parquet=spill_worthwhile(df),
    )
    # The refine stays two id-keyed joins: carrying the shingle sets
    # through the bucket exchange would ship each set once per band.
    pairs = minhash_lsh_pairs(
        df,
        id_col,
        text_col,
        n_hashes,
        band_size,
        shingle_n,
        hash_fn,
        bucket_cap,
        shingles_df=sh_df,
    )
    tokd = sh_df.select("id", F.col("sh").alias("dt"))
    a = tokd.select(F.col("id").alias("id_a"), F.col("dt").alias("dt_a"))
    b = tokd.select(F.col("id").alias("id_b"), F.col("dt").alias("dt_b"))
    inter = F.size(F.array_intersect(F.col("dt_a"), F.col("dt_b")))
    union = F.size(F.col("dt_a")) + F.size(F.col("dt_b")) - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .where(union > 0)
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = 32
) -> DataFrame:
    """(id, simhash) — bit-string signature per document.

    Tokens AND their md5s are staged in their own projections; the 32
    per-bit aggregates then reference the hash array attribute instead
    of re-tokenizing and re-hashing 32× (md5 is the dominant cost).

    Round-5 measurement, recorded so the next tuning pass doesn't
    re-walk it: the q42f trick (explode + conditional-SUM aggregates
    instead of array HOFs) does NOT transfer here — at sf1 (50k docs)
    the exploded form measured ~2× SLOWER end-to-end through
    simhash_neardup_pairs (35.2 s vs 14.8 s) and slower on signatures
    alone (7.6 s vs 4.6 s cold / 1.5 s warm). The difference from
    minhash: there each shingle pays N_SALTS hash passes and hashing
    dominated, so moving it into codegen won; here md5 runs once per
    token either way, token arrays are short (~54), and the explode's
    row blowup + aggregate shuffle costs more than 32 interpreted
    folds over a 54-element array. HOF-interpreter cost scales with
    array length — the rework is right for long arrays, wrong here.

    Round-11 fix: the round-10 mask rewrite inlined the translate+conv
    mask transform into all ``n_bits`` per-bit folds — Catalyst does no
    CSE across expressions, so every fold re-parsed every token's mask
    (q43 tripled on the driver bench). The masks now get their OWN
    projection (computed once per row, like ``th``); the folds are pure
    shift-and-mask over the staged array
    (OPTIMIZATION_r11.md §1: inline 6.0 s / staged 1.65 s /
    r9 substring-compare 1.95 s medians at sf0.1, identical outputs).
    """
    toks_df = spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    hashed = toks_df.select("id", token_hashes(F.col("toks")).alias("th"))
    if n_bits > 32:  # legacy wide-signature path (no md5 digits left)
        return hashed.select(
            "id", simhash_bits_from_hashes(F.col("th"), n_bits).alias("simhash")
        )
    staged = hashed.select(
        "id",
        F.size(F.col("th")).alias("__n"),
        simhash_masks(F.col("th"), n_bits).alias("__mk"),
    )
    return staged.select(
        "id",
        simhash_bits_from_masks(
            F.col("__mk"), F.col("__n"), n_bits
        ).alias("simhash"),
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    bucket_cap: int | None = 256,
) -> DataFrame:
    """Near-duplicate pairs by banded SimHash + hamming refine.

    The pigeonhole block: two signatures within ``max_hamming`` bits of
    each other agree exactly on at least one of ``n_bands`` bands
    whenever ``max_hamming < n_bands`` — so banding is a LOSSLESS
    blocking key at that radius, unlike MinHash bands (probabilistic).
    The default (3, 4) satisfies that bound; passing
    ``max_hamming >= n_bands`` still runs but the blocking becomes
    probabilistic (a pair differing in one bit per band shares no band)
    — a warning is emitted rather than silently advertising losslessness.
    Candidates join on (band_idx, band_bits); the refine counts
    differing bits. Shuffle key = band value; no cross join.

    ``bucket_cap`` is the skew valve (ON by default at 256; pass
    ``None`` for lossless blocking — q121's oracle does): on a
    near-homogeneous corpus the
    signatures concentrate into few band values and candidate pairs
    grow quadratically in bucket size (measured 4.4× superlinear at
    sf0.1 — SCALING.md). With a cap, any bucket larger than it is
    deterministically sub-partitioned by a hash of the id so each
    sub-bucket holds ≤ ~cap rows; pairs then only form within a
    sub-bucket. This bounds per-task work at the price of recall
    (cross-sub-bucket pairs are lost — only in the giant buckets the
    cap touched; unskewed buckets are unaffected). Same trade as the
    salted skew join in ``operators.skew``.
    """

    if max_hamming >= n_bands:
        import warnings

        warnings.warn(
            f"simhash_neardup_pairs: max_hamming={max_hamming} >= "
            f"n_bands={n_bands}; the pigeonhole losslessness guarantee "
            "requires max_hamming < n_bands — blocking is probabilistic "
            "at these parameters.",
            stacklevel=2,
        )
    band_w = n_bits // n_bands
    # sim: the '0'/'1' signature parsed ONCE per row into 48-bit integer
    # chunks (48 < 63 so conv->long never overflows), so the refine is
    # one popcount(a XOR b) per chunk per candidate pair — differing
    # chars == differing bits. bk holds each band's bits the same way:
    # the pair kernel's band vector.
    sigs = simhash_signatures(df, id_col, text_col, n_bits)
    sig = F.col("simhash")
    sim = _bit_chunks(sig, 0, n_bits)
    bk = [c for b in range(n_bands) for c in _bit_chunks(sig, b * band_w, band_w)]
    sigs = sigs.select("id", sig, F.array(*sim).alias("sim"), F.array(*bk).alias("bk"))
    if bucket_cap is not None:
        # one row per document hashed by id, MinHash's signature
        # aggregate exchange: sub_salt's two reads (sizes + join) share
        # it, so the folds run once, and the subs window needs no shuffle
        sigs = sigs.repartition("id")
    bits = [F.substring(sig, b * band_w + 1, band_w) for b in range(n_bands)]
    band = F.posexplode(F.array(*bits)).alias("band_idx", "band_bits")
    bands = sigs.select("id", "sim", "bk", band)
    keys = ["band_idx", "band_bits", "sub"]
    return _pairs(
        _salted(bands, keys[:2], bucket_cap),
        keys,
        len(bk) // n_bands,
        _hamming(max_hamming),
        "hamming int",
    )


def _bit_chunks(bits: Column, start: int, width: int) -> list[Column]:
    """Bits ``start .. start + width`` of a '0'/'1' string as 48-bit longs."""
    return [
        F.conv(F.substring(bits, start + k + 1, min(48, width - k)), 2, 10).cast("long")
        for k in range(0, width, 48)
    ]


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard over blocked pairs (id_a < id_b, jac ≥ θ).

    One grouped pass: rows shuffle once on ``block_cols``, and each block
    scores all its pairs in its one call, so the largest block must fit
    one task. A NULL block pairs with nothing."""
    rows = df.select(
        F.col(id_col).alias("id"),
        distinct_tokens(F.col(text_col)).alias("toks"),
        *block_cols,
    )
    return _pairs(rows, block_cols, refine=_jaccard(threshold), score="jaccard double")


def dedupe_exact_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-content dedup: md5 grouping, keeper = min id (deterministic)."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )
