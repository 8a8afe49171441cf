"""Near-duplicate detection: MinHash-LSH, SimHash, n-gram Jaccard.

Scale design: every variant is *blocked* — candidate pairs only form
inside an LSH bucket (band or signature equality), so the shuffle key is
the bucket id and no O(n²) cross join ever materializes. The refine step
(exact Jaccard / hamming) touches only candidates. All expressions are
JVM-side higher-order functions; oracle twins in queries/dataops.py.

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

from pyspark.sql import DataFrame
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
    cut,
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
    """(id, band_idx, band_key) — one row per LSH band per document.

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

    elif hash_fn == "xxhash64":
        per_pass = 2

        def hash_col(salt):
            return F.xxhash64(F.concat(F.lit(f"{salt}|"), F.col("s")))

        def piece(salt, k):
            if k == 0:
                return F.shiftrightunsigned(F.col(f"h{salt}"), 32)
            return F.col(f"h{salt}").bitwiseAND(F.lit(0xFFFFFFFF))

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
    return with_sig.select("id", F.explode(bands).alias("b")).select(
        "id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")
    )


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
    materialize: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing any LSH band.

    The band join shuffles on (band_idx, band_key) — bucket-local work
    only. Callers typically refine with exact Jaccard on the candidates.
    ``hash_fn`` / ``bucket_cap``: see :func:`minhash_bands` /
    :func:`~ipes_data_pipeline_spark.operators.util.sub_salt`
    (production default xxhash64; oracle queries pin md5; the cap — ON
    by default at 256 — bounds quadratic buckets on boilerplate-heavy
    corpora; pass ``None`` for lossless blocking).
    """
    # Eager checkpoint: `bands` sits on BOTH sides of the self-join, and
    # without materialization the hash-heavy signature pipeline executes
    # twice (once per alias). The band table is tiny (n_docs × n_bands
    # short rows) — always worth pinning. With a bucket_cap the RAW
    # bands are pinned FIRST: sub_salt references its input
    # twice (sizes aggregate + join), and capping an un-materialized
    # plan would run tokenize+shingle+hash twice — exactly the cost
    # this checkpoint exists to avoid.
    # Band tables are data-proportional (n_docs × n_bands string-keyed
    # rows): store them via the columnar parquet spill ONCE THE INPUT IS
    # BIG — the r9 q39 edge-store lesson (SCALING.md: +182 s heap
    # thrash vs +26 s spill at 213M rows) — but the spill's extra write
    # job costs ~0.4 s/query where localCheckpoint is free (round-10
    # sf0.1 A/B), so the store regime follows the input-size estimate
    # (util.spill_worthwhile; spark.ipes.spillMinInputBytes). No
    # spark_partition_id consumer anywhere downstream.
    spill = spill_worthwhile(df)
    raw = minhash_bands(
        df, id_col, text_col, n_hashes, band_size, shingle_n, hash_fn, shingles_df
    )
    if bucket_cap is not None:
        raw = cut(raw, via_parquet=spill)
    bands = sub_salt(raw, ["band_idx", "band_key"], bucket_cap, "id")
    if materialize:
        bands = cut(bands, via_parquet=spill)
    # materialize=False relies on exchange reuse instead: the signature
    # aggregate's exchange is the identical subtree on both sides of the
    # self-join, so the hash pipeline still runs once — and the pair
    # join lands in the CALLER's job, overlapping with sibling subtrees
    # (q133 runs both pair families inside one union job this way).
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.sub") == F.col("b.sub"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


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
    band index is a stored artifact (pass ``corpus_bands`` to reuse a
    previously materialized/banded table — it MUST have been built with
    the same ``hash_fn``; then only the new batch pays tokenize+hash),
    the join probes it with the new batch's bands, and the candidate
    count scales with |new|, not |corpus|. Pairs: (new_id, other_id)
    where other is any corpus doc sharing a band, or a LATER new doc
    (new-new pairs ordered once, corpus-new pairs in new→corpus
    direction only).

    ``bucket_cap`` caps the COMBINED (corpus ∪ new) band buckets: sizes
    are counted over the union so a boilerplate band key that is huge in
    the corpus gets sub-salted even when the new batch's share is small.
    """
    # corpus/batch-proportional band tables: parquet-spill store once
    # the input is big (the r9 edge-store rule, input-adaptive — see
    # minhash_lsh_pairs)
    spill_new = spill_worthwhile(new_df)
    # corpus_df may be None when a stored corpus_bands is passed; size
    # the corpus side from whichever frame actually exists
    spill_corpus = spill_worthwhile(
        corpus_df if corpus_bands is None else corpus_bands
    )
    new_bands = cut(
        minhash_bands(
            new_df, id_col, text_col, n_hashes, band_size, shingle_n, hash_fn
        ),
        via_parquet=spill_new,
    )
    if corpus_bands is None:
        corpus_bands = minhash_bands(
            corpus_df, id_col, text_col, n_hashes, band_size, shingle_n, hash_fn
        )
        if bucket_cap is not None:
            # same rule as the batch form: sub_salt reads the
            # union twice (sizes + join) — pin the hash-heavy corpus
            # lineage before capping, or it tokenizes twice
            corpus_bands = cut(corpus_bands, via_parquet=spill_corpus)
    others = sub_salt(
        corpus_bands.withColumn("is_new", F.lit(False)).unionByName(
            new_bands.withColumn("is_new", F.lit(True))
        ),
        ["band_idx", "band_key"],
        bucket_cap,
        "id",
    )
    if bucket_cap is None:
        probe = new_bands.withColumn("sub", F.lit(0))
    else:
        # pin the salted union once; the probe side is its is_new slice,
        # so both sides of the join carry the SAME sub-salt.
        others = cut(others, via_parquet=spill_new or spill_corpus)
        probe = others.where(F.col("is_new")).drop("is_new")
    n, o = probe.alias("n"), others.alias("o")
    return (
        n.join(
            o,
            on=[
                F.col("n.band_idx") == F.col("o.band_idx"),
                F.col("n.band_key") == F.col("o.band_key"),
                F.col("n.sub") == F.col("o.sub"),
                F.col("n.id") != F.col("o.id"),
            ],
        )
        .where(~F.col("o.is_new") | (F.col("o.id") > F.col("n.id")))
        .select(F.col("n.id").alias("new_id"), F.col("o.id").alias("other_id"))
        .distinct()
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
    the LSH stage bounds pair generation (bucket-keyed shuffle, no
    O(n²)), the refine touches only candidates — two joins keyed on the
    pair ids against the shingle projection. The refine granularity
    deliberately MATCHES the blocking granularity (the same ``shingle_n``
    sets MinHash sketches): a threshold on a different similarity (e.g.
    token Jaccard) would admit pairs the sketch cannot see — scrambled-
    word documents share ~all tokens but ~no 3-shingles — making output
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
    # sf0.1 A/B — see minhash_lsh_pairs). Referenced by the band stage
    # and both refine joins; no spark_partition_id consumer.
    sh_df = cut(
        spread(df)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
        .select("id", shingles(F.col("toks"), shingle_n).alias("sh")),
        via_parquet=spill_worthwhile(df),
    )
    # materialize=False: the candidate set feeds exactly one consumer
    # chain (the refine), so the band self-join can land in the final
    # job — exchange reuse still computes the signature aggregate once,
    # and the refine joins overlap with the pair join instead of
    # waiting behind a band-table barrier. (bucket_cap still pins the
    # raw bands inside minhash_lsh_pairs when set.)
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
        materialize=False,
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
    # sim0..simK: the '0'/'1' signature parsed ONCE per row into 48-bit
    # integer chunks (48 < 63 so conv->long never overflows), so the
    # refine below is one bit_count(a XOR b) per chunk per candidate
    # pair instead of 2 x n_bits interpreted substring compares (the
    # BHJ evaluates the hamming expression in the join condition AND
    # the projection). Same integer by construction: differing chars ==
    # differing bits. Bands also shuffle/broadcast 8-byte longs instead
    # of the n_bits-char string (guide: narrower types through the
    # exchange).
    chunk_w = 48
    n_chunks = (n_bits + chunk_w - 1) // chunk_w
    sim_cols = [f"sim{k}" for k in range(n_chunks)]
    sigs = simhash_signatures(df, id_col, text_col, n_bits)
    for k, c in enumerate(sim_cols):
        piece = F.substring(
            "simhash", k * chunk_w + 1, min(chunk_w, n_bits - k * chunk_w)
        )
        sigs = sigs.withColumn(c, F.conv(piece, 2, 10).cast("long"))
    sigs = cut(sigs)
    bands = sigs.select(
        "id",
        *sim_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.substring("simhash", b * band_w + 1, band_w).alias(
                            "band_bits"
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("id", *sim_cols, F.col("b.band_idx"), F.col("b.band_bits"))
    bands = sub_salt(bands, ["band_idx", "band_bits"], bucket_cap, "id")
    if bucket_cap is not None:
        # pin: the salted band table sits on BOTH sides of the
        # self-join — materialize once instead of per alias.
        bands = cut(bands)
    a, b = bands.alias("a"), bands.alias("b")
    hamming = sum(
        F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}")))
        for c in sim_cols
    ).cast("int")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_bits") == F.col("b.band_bits"),
                F.col("a.sub") == F.col("b.sub"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard over blocked pairs (id_a < id_b, jac ≥ θ)."""
    keyed = df.select(
        F.col(id_col).alias("id"),
        distinct_tokens(F.col(text_col)).alias("toks"),
        *block_cols,
    ).transform(cut)  # both sides of the self-join
    a, b = keyed.alias("a"), keyed.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols] + [
        F.col("a.id") < F.col("b.id")
    ]
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, on=cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedupe_exact_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-content dedup: md5 grouping, keeper = min id (deterministic)."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )
