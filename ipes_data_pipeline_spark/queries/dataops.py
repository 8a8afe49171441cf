"""Training-data pipeline operators as declared, oracle-checked queries:
dedup (exact / MinHash-LSH / SimHash / Jaccard), similarity search,
text analysis, JSON extraction, sessionization, as-of join, multimodal
metadata — over the ``documents`` / ``embeddings`` / ``events`` tables.

Each oracle reproduces the *same algorithm* in DuckDB SQL (same hash
construction, same fold order for floats), so value-hashes match.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ipes_data_pipeline_spark.functions.text import (
    STOPWORDS,
    fingerprint_md5,
    langid_struct,
    normalized_text,
    rolling_hash_expr,
    tokens,
)
from ipes_data_pipeline_spark.functions.vectors import cosine
from ipes_data_pipeline_spark.operators.dedup_minhash import (
    dedupe_exact_text,
    minhash_lsh_pairs,
    minhash_lsh_pairs_delta,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    simhash_signatures,
)
from ipes_data_pipeline_spark.operators.sessionize import asof_join_latest, sessionize
from ipes_data_pipeline_spark.operators.util import cut, local_frame, pin_pairs, spread
from ipes_data_pipeline_spark.operators.similarity import (
    _AUTO_PLANES,
    ann_topk_bruteforce,
    cosine_topk_pairs_lsh,
    knn_graph,
    knn_graph_bucketed,
)
from ipes_data_pipeline_spark.queries import register, sql_dsum, t

# SQL fragments shared by the oracles -----------------------------------------

SQL_TOKENS = (
    "list_filter(string_split_regex(lower({c}), '\\W+'), x -> x <> '')"
)
SQL_DDOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), "
    "(x, y) -> x + y)"
)


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"({SQL_DDOT.format(a=a, b=b)} / "
        f"(sqrt({SQL_DDOT.format(a=a, b=a)}) * sqrt({SQL_DDOT.format(a=b, b=b)})))"
    )


# --------------------------------------------------------------- dedup family


@register(
    "q41_dedup_exact",
    "dedup: exact content hash (F3 at document scale)",
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
       FROM documents GROUP BY md5(text)""",
)
def q41(spark, sf):
    return dedupe_exact_text(t(spark, sf, "documents"), "doc_id", "text").select(
        "text_hash", F.col("keeper_id"), "n_copies"
    )


def _q42_oracle() -> str:
    toks = SQL_TOKENS.format(c="text")
    # same staged construction as the engine: one md5 pass per salt,
    # four 32-bit (8-hex-char) MinHash slices per pass
    mh = ", ".join(
        f"list_aggregate(list_transform(h{i // 4}, x -> substr(x, {(i % 4) * 8 + 1}, 8)), 'min') AS mh{i}"
        for i in range(8)
    )
    bands = " UNION ALL ".join(
        f"SELECT id, {b} AS band_idx, mh{2 * b} || '|' || mh{2 * b + 1} AS band_key FROM sigs"
        for b in range(4)
    )
    return f"""
WITH toks AS (SELECT doc_id AS id, {toks} AS w FROM documents),
sh AS (SELECT id, CASE WHEN len(w) >= 3
         THEN list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))
         ELSE [] END AS shingles FROM toks),
hashed AS (SELECT id,
         list_transform(shingles, s -> md5('0|' || s)) AS h0,
         list_transform(shingles, s -> md5('1|' || s)) AS h1
         FROM sh),
sigs AS (SELECT id, {mh} FROM hashed),
bands AS ({bands})
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
"""


@register(
    "q42_dedup_minhash_lsh",
    "dedup: MinHash-LSH candidate pairs (blocked, no cross join)",
    _q42_oracle(),
)
def q42(spark, sf):
    # bucket_cap=None: oracle-pinned lossless form (API default is 256)
    return minhash_lsh_pairs(
        t(spark, sf, "documents"), "doc_id", "text", n_hashes=8, band_size=2,
        hash_fn="md5", bucket_cap=None,
    )


def _q42f_oracle(n_hashes: int = 16, band_size: int = 2) -> str:
    """Fast-path oracle: md5-banded candidates + the SAME exact-Jaccard
    refine the engine runs. The engine side hashes with xxhash64 (not
    expressible in DuckDB), so the value check asserts the refined
    OUTPUT is hash-family-independent on this corpus: every ≥θ pair is
    caught by both families, and the refine verdict is exact either
    way.

    The refine granularity MATCHES the blocking granularity: exact
    Jaccard over the SAME 3-shingle sets MinHash sketches. (A refine on
    a different similarity — e.g. token Jaccard — would admit scrambled-
    word pairs with 3-shingle-J ≈ 0.01 that the sketch catches only by
    band-collision luck, i.e. hash-family-DEPENDENT output, exactly
    what this oracle must exclude. Token-level blocking isn't viable
    either: stopword overlap makes background token-J high enough that
    candidates explode toward all-pairs.) Both sides run 16 hashes / 8
    bands at θ=0.8; the gate corpora have NO pairs with shingle-J in
    [0.55, 0.889), so every qualifying pair sits at j ≥ 0.889 where a
    per-family miss costs (1-0.889²)⁸ ≈ 4e-6 — verified zero misses.
    The fast path affords the doubled band set because 8 xxhash64
    passes still cost less than md5's 2."""
    toks = SQL_TOKENS.format(c="text")
    n_salts = -(-n_hashes // 4)
    hashes = ",\n         ".join(
        f"list_transform(shingles, s -> md5('{salt}|' || s)) AS h{salt}"
        for salt in range(n_salts)
    )
    mh = ", ".join(
        f"list_aggregate(list_transform(h{i // 4}, x -> substr(x, {(i % 4) * 8 + 1}, 8)), 'min') AS mh{i}"
        for i in range(n_hashes)
    )
    bands = " UNION ALL ".join(
        f"SELECT id, {b} AS band_idx, mh{band_size * b} || '|' || mh{band_size * b + 1} AS band_key FROM sigs"
        for b in range(n_hashes // band_size)
    )
    return f"""
WITH toks AS (SELECT doc_id AS id, {toks} AS w FROM documents),
sh AS (SELECT id, CASE WHEN len(w) >= 3
         THEN list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))
         ELSE [] END AS shingles FROM toks),
hashed AS (SELECT id,
         {hashes}
         FROM sh),
sigs AS (SELECT id, {mh} FROM hashed),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id),
scored AS (
  SELECT cand.id_a, cand.id_b,
         len(list_intersect(x.shingles, y.shingles)) AS inter,
         len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles)) AS uni
  FROM cand JOIN sh x ON x.id = cand.id_a JOIN sh y ON y.id = cand.id_b)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
FROM scored WHERE uni > 0 AND CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.8
"""


@register(
    "q42f_dedup_minhash_fast",
    "dedup: PRODUCTION MinHash path — xxhash64 LSH candidates + exact "
    "Jaccard refine (md5 is only for oracle portability; xxhash64 is one "
    "cheap JVM pass per salt)",
    _q42f_oracle(),
)
def q42f(spark, sf):
    # bucket_cap=None: oracle-pinned lossless form (API default is 256)
    return minhash_neardup_pairs(
        t(spark, sf, "documents"), "doc_id", "text", bucket_cap=None
    )


@register(
    "q42p_dedup_minhash_deployed",
    "dedup: DEPLOYABLE MinHash path — q42f's xxhash64 LSH + exact-"
    "Jaccard refine with the bucket_cap=256 skew valve ON (the API "
    "default, previously exercised by no registered query). Oracle = "
    "q42f's md5 twin: the refined output is hash-family-independent "
    "(q42f's argument) and the cap is provably inert at gate scale "
    "(max 16-hash band bucket there is 4 rows — measured, round 6), "
    "so the capped xxhash64 output value-checks against the uncapped "
    "md5 SQL exactly",
    _q42f_oracle(),
)
def q42p(spark, sf):
    return minhash_neardup_pairs(t(spark, sf, "documents"), "doc_id", "text")


def _q42c_oracle() -> str:
    """End-to-end doc dedup: q42's candidate pairs → 3-round min-label
    components → (doc, keeper). Both engines unroll the same rounds."""
    base = _q42_oracle().strip().removeprefix("WITH").rsplit("SELECT DISTINCT", 1)[0]
    rounds = "".join(
        f""",
  l{i + 1} AS (
    SELECT e.src AS node, MIN(l.lab) AS lab
    FROM e_self e JOIN l{i} l ON l.node = e.dst
    GROUP BY e.src)"""
        for i in range(3)
    )
    return f"""
WITH {base.strip().rstrip(',')},
half AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id),
e0 AS (SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half),
e_self AS (SELECT src, dst FROM e0
           UNION ALL SELECT doc_id, doc_id FROM documents),
l0 AS (SELECT doc_id AS node, doc_id AS lab FROM documents){rounds}
SELECT node AS doc_id, lab AS keeper_id FROM l3
"""


@register(
    "q42c_dedup_minhash_components",
    "dedup: END-TO-END near-dup doc dedup (LSH pairs -> components -> keeper)",
    _q42c_oracle(),
)
def q42c(spark, sf):
    return _doc_neardup_components(t(spark, sf, "documents")).select(
        "doc_id", F.col("cluster_id").alias("keeper_id")
    )


def _doc_neardup_components(docs, extra_pairs=None, bucket_cap=None):
    """The shared md5-banded near-dup component chain (q42c's recipe,
    also the backbone of q92/q126/q133/q147/q148): LSH candidate pairs
    (md5 family, 8 hashes, band size 2 — the oracle-portable
    parameters every consumer's SQL twin splices from _q42_oracle),
    optionally unioned with ``extra_pairs`` (id_a, id_b), pinned by
    ``util.pin_pairs`` BEFORE the propagation rounds (the component loop
    references its edge set once per round, and an un-materialized
    pair family re-runs per round), then 3 min-label rounds. Returns
    ``(doc_id, cluster_id)`` with cluster_id = the min doc id reachable
    in 3 hops. ``bucket_cap``: None = the oracle-pinned lossless
    blocking (q42c and the consumers whose SQL twins splice
    _q42_oracle); 256 = the production skew valve (q133a, whose twin
    splices the capped sz/sub CTEs instead)."""
    from ipes_data_pipeline_spark.operators.dedup_fuzzy import min_label_components

    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=8, band_size=2, hash_fn="md5",
        bucket_cap=bucket_cap,
    )
    if extra_pairs is not None:
        pairs = pairs.union(extra_pairs).distinct()
    pairs = pin_pairs(docs, pairs)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    comp = min_label_components(
        docs.select(F.col("doc_id").alias("node")), edges, iterations=3
    )
    return comp.select(
        F.col("node").alias("doc_id"), F.col("canonical_id").alias("cluster_id")
    )


def _q147_oracle() -> str:
    """q42c's component chain + per-cluster keeper by QUALITY (longest
    doc wins, id breaks ties) instead of min-id."""
    base = _q42c_oracle().strip().removeprefix("WITH").rsplit("SELECT node", 1)[0]
    toks = SQL_TOKENS.format(c="text")
    return f"""
WITH {base.strip().rstrip(',')},
comp AS (SELECT node AS doc_id, lab AS cluster_id FROM l3),
q AS (SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens FROM documents),
r AS (SELECT c.doc_id, c.cluster_id, q.n_tokens,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.n_tokens DESC, c.doc_id ASC) AS rn
      FROM comp c JOIN q USING (doc_id))
SELECT doc_id, cluster_id, n_tokens, (rn = 1) AS is_keeper FROM r
"""


@register(
    "q147_cluster_keeper_quality",
    "dedup: QUALITY-aware keeper selection — near-dup clusters (q42c's "
    "component chain) keep their LONGEST member (token count, id "
    "tie-break) instead of the smallest id; the curation decision "
    "production dedup actually ships (min-id keeps whichever shard "
    "arrived first; quality-keeper keeps the best copy)",
    _q147_oracle(),
)
def q147(spark, sf):
    # Components reuse the shared md5 chain; keeper selection is one
    # bounded window per cluster — cluster sizes are bounded by the
    # band bucket_cap at scale, so no single task inherits a mega-
    # cluster.
    from pyspark.sql.window import Window as W2

    docs = t(spark, sf, "documents")
    comp = _doc_neardup_components(docs)
    quality = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    w = W2.partitionBy("cluster_id").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    return (
        comp.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id", "cluster_id", "n_tokens", (F.col("rn") == 1).alias("is_keeper")
        )
    )


def _q148_oracle() -> str:
    base = _q42c_oracle().strip().removeprefix("WITH").rsplit("SELECT node", 1)[0]
    return f"""
WITH {base.strip().rstrip(',')},
comp AS (SELECT node AS doc_id, lab AS keeper_id FROM l3),
j AS (SELECT c.doc_id, d.source,
             k.source AS keeper_source,
             (c.doc_id <> c.keeper_id) AS is_dup
      FROM comp c
      JOIN documents d ON d.doc_id = c.doc_id
      JOIN documents k ON k.doc_id = c.keeper_id)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(SUM(CASE WHEN is_dup AND keeper_source <> source
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dups_cross_source
FROM j GROUP BY source
"""


@register(
    "q148_dedup_impact_by_source",
    "dedup: governance rollup — per-source duplication rate and CROSS-"
    "source duplication (docs whose near-dup keeper lives in a different "
    "source): the report that tells a data team which feeds are "
    "re-scraping which (components = q42c's chain, keeper = min-id)",
    _q148_oracle(),
)
def q148(spark, sf):
    # One component pass, then two broadcast-able joins against the
    # (doc_id, source) projection — the keeper side joins the SAME tiny
    # projection, so at 100 TB this is component chain + two hash joins
    # keyed on doc id, and the final rollup is |sources| rows.
    docs = t(spark, sf, "documents")
    comp = _doc_neardup_components(docs)
    src = docs.select("doc_id", "source").transform(cut)
    j = (
        comp.select("doc_id", F.col("cluster_id").alias("keeper_id"))
        .join(src, "doc_id")
        .join(
            src.select(
                F.col("doc_id").alias("keeper_id"),
                F.col("source").alias("keeper_source"),
            ),
            "keeper_id",
        )
        .withColumn("is_dup", F.col("doc_id") != F.col("keeper_id"))
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_dup").cast("int")).cast("bigint").alias("n_dups"),
        F.sum(
            (F.col("is_dup") & (F.col("keeper_source") != F.col("source"))).cast(
                "int"
            )
        )
        .cast("bigint")
        .alias("n_dups_cross_source"),
    )


@register(
    "q149_snapshot_diff",
    "governance: row-level snapshot diff — every doc key classified "
    "added/removed/changed/unchanged between two table versions (old = "
    "docs minus the %7 slice; new = docs with the %11 slice's text "
    "rewritten): ONE full-outer key join + null-safe column compare, "
    "the primitive behind incremental publishing audits",
    """WITH old AS (
         SELECT doc_id, source, text FROM documents WHERE doc_id % 7 <> 0),
       new AS (
         SELECT doc_id, source,
                CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
         FROM documents)
       SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.doc_id IS NULL THEN 'added'
                   WHEN n.doc_id IS NULL THEN 'removed'
                   WHEN o.source IS NOT DISTINCT FROM n.source
                        AND o.text IS NOT DISTINCT FROM n.text
                   THEN 'unchanged'
                   ELSE 'changed' END AS change_type
       FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id""",
)
def q149(spark, sf):
    from ipes_data_pipeline_spark.operators.diff import snapshot_diff

    docs = t(spark, sf, "documents")
    old = docs.where(F.col("doc_id") % 7 != 0).select("doc_id", "source", "text")
    new = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 11 == 0, F.upper("text")
        ).otherwise(F.col("text")).alias("text"),
    )
    return snapshot_diff(old, new, ["doc_id"])


@register(
    "q150_scd2_merge",
    "governance: SCD type-2 history-keeping merge — v1 = every customer "
    "at ts 10; the update batch moves the %10 slice to segment 'MOVED' "
    "at ts 20 and adds -(key+1) customers for the %97 slice (strictly negative ids cannot collide with real keys at ANY scale factor); changed "
    "keys close their open version and append, identical payloads "
    "no-op, history is never rewritten (one current-vs-batch key join, "
    "cost scales with |current|+|batch|, not history depth)",
    """WITH v1 AS (
         SELECT c_custkey AS k, c_mktsegment AS seg,
                CAST(10 AS BIGINT) AS valid_from,
                CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
         FROM customer),
       upd AS (
         SELECT c_custkey AS k, 'MOVED' AS seg, CAST(20 AS BIGINT) AS ts
         FROM customer WHERE c_custkey % 10 = 0
         UNION ALL
         SELECT -(c_custkey + 1) AS k, c_mktsegment AS seg,
                CAST(20 AS BIGINT) AS ts
         FROM customer WHERE c_custkey % 97 = 0),
       changed AS (
         SELECT v1.k FROM v1 JOIN upd ON v1.k = upd.k
         WHERE v1.seg IS DISTINCT FROM upd.seg)
       SELECT v1.k, v1.seg, v1.valid_from,
              CASE WHEN changed.k IS NOT NULL THEN CAST(20 AS BIGINT) END
                AS valid_to,
              changed.k IS NULL AS is_current
       FROM v1 LEFT JOIN changed ON v1.k = changed.k
       UNION ALL
       SELECT upd.k, upd.seg, upd.ts AS valid_from,
              CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
       FROM upd LEFT JOIN v1 ON v1.k = upd.k
       WHERE v1.k IS NULL OR v1.seg IS DISTINCT FROM upd.seg""",
)
def q150(spark, sf):
    from ipes_data_pipeline_spark.operators.upsert import scd2_merge

    cust = t(spark, sf, "customer")
    v1 = scd2_merge(
        None,
        cust.select(
            F.col("c_custkey").alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.lit(10).cast("bigint").alias("ts"),
        ),
        ["k"],
        "ts",
    )
    upd = (
        cust.where(F.col("c_custkey") % 10 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.lit("MOVED").alias("seg"),
            F.lit(20).cast("bigint").alias("ts"),
        )
        .unionAll(
            cust.where(F.col("c_custkey") % 97 == 0).select(
                (-(F.col("c_custkey") + 1)).alias("k"),
                F.col("c_mktsegment").alias("seg"),
                F.lit(20).cast("bigint").alias("ts"),
            )
        )
    )
    return scd2_merge(v1, upd, ["k"], "ts")


def _q43_oracle() -> str:
    toks = SQL_TOKENS.format(c="text")
    bits = " || ".join(
        "CASE WHEN list_reduce(list_prepend(0, list_transform(w, "
        f"t -> CASE WHEN substr(md5(t), {d + 1}, 1) >= '8' THEN 1 ELSE -1 END)), "
        "(a, b) -> a + b) >= 0 THEN '1' ELSE '0' END"
        for d in range(32)
    )
    return f"""
WITH toks AS (SELECT doc_id AS id, {toks} AS w FROM documents)
SELECT id, {bits} AS simhash FROM toks
"""


def _q120_oracle() -> str:
    # reuse q42's band CTEs verbatim; only the pairing rule changes
    base = _q42_oracle().strip().rsplit("SELECT DISTINCT", 1)[0]
    return f"""{base}
SELECT DISTINCT n.id AS new_id, o.id AS other_id
FROM bands n JOIN bands o
  ON n.band_idx = o.band_idx AND n.band_key = o.band_key AND n.id <> o.id
WHERE n.id % 10 = 0
  AND (o.id % 10 <> 0 OR o.id > n.id)
"""


@register(
    "q120_dedup_incremental",
    "dedup: incremental MinHash-LSH — new batch probed against the stored "
    "corpus band index (candidates scale with |new|, corpus never self-pairs)",
    _q120_oracle(),
)
def q120(spark, sf):
    docs = t(spark, sf, "documents")
    # bucket_cap=None: oracle-pinned lossless form (API default is 256)
    return minhash_lsh_pairs_delta(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
        "doc_id",
        "text",
        hash_fn="md5",
        bucket_cap=None,
    )


def _q121_oracle() -> str:
    # reuse q43's signature construction; band + refine on top
    base = _q43_oracle().strip()
    head, tail = base.rsplit("SELECT id,", 1)
    bands = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS band_idx, "
        f"substr(simhash, {b * 8 + 1}, 8) AS band_bits FROM sigs"
        for b in range(4)
    )
    ham = " + ".join(
        f"CASE WHEN substr(a.simhash, {i + 1}, 1) <> substr(b.simhash, {i + 1}, 1) "
        "THEN 1 ELSE 0 END"
        for i in range(32)
    )
    return f"""{head.rstrip().removesuffix(')')}),
sigs AS (SELECT id,{tail.strip()}),
bands AS ({bands}),
p AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, CAST({ham} AS INT) AS hamming
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits AND a.id < b.id)
SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
"""


@register(
    "q121_simhash_neardup",
    "dedup: banded SimHash near-dup pairs (pigeonhole-lossless blocking: "
    "hamming <= 3 < 4 bands guarantees a shared band; shuffle key = band)",
    _q121_oracle(),
)
def q121(spark, sf):
    # max_hamming=3 with 4 bands: any pair within radius 3 shares at
    # least one untouched band (pigeonhole), so the blocking drops
    # NOTHING — unlike MinHash bands, recall here is exactly 1.
    # bucket_cap=None: the LOSSLESS oracle-pinned form — this query IS
    # the recall guarantee; the deployable capped twin is q121p below.
    return simhash_neardup_pairs(
        t(spark, sf, "documents"), "doc_id", "text", n_bits=32, n_bands=4,
        max_hamming=3, bucket_cap=None,
    )


def _q121p_oracle(cap: int = 64) -> str:
    """q121's banding + hamming refine with the bucket_cap skew valve ON,
    replicated value-exactly in SQL: per-band bucket sizes, n_sub =
    ceil(bsz/cap), sub-salt = first-8-hex of md5(id) mod n_sub (the
    '0x'||hex→BIGINT cast matches Spark's conv(...,16,10)), and the
    pair join additionally requires sub equality — so cross-sub pairs
    inside oversized buckets are dropped by BOTH engines identically."""
    base = _q43_oracle().strip()
    head, tail = base.rsplit("SELECT id,", 1)
    bands = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS band_idx, "
        f"substr(simhash, {b * 8 + 1}, 8) AS band_bits FROM sigs"
        for b in range(4)
    )
    ham = " + ".join(
        f"CASE WHEN substr(a.simhash, {i + 1}, 1) <> substr(b.simhash, {i + 1}, 1) "
        "THEN 1 ELSE 0 END"
        for i in range(32)
    )
    salt = "('0x' || substr(md5(CAST(b.id AS VARCHAR)), 1, 8))::BIGINT"
    return f"""{head.rstrip().removesuffix(')')}),
sigs AS (SELECT id,{tail.strip()}),
bands AS ({bands}),
sz AS (SELECT band_idx, band_bits, COUNT(*) AS bsz
       FROM bands GROUP BY band_idx, band_bits),
sub AS (SELECT b.id, b.simhash, b.band_idx, b.band_bits,
               {salt}
               % GREATEST(1, CAST(CEIL(bsz / {cap}.0) AS BIGINT)) AS sub
        FROM bands b JOIN sz
          ON sz.band_idx = b.band_idx AND sz.band_bits = b.band_bits),
p AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, CAST({ham} AS INT) AS hamming
  FROM sub a JOIN sub b
    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
   AND a.sub = b.sub AND a.id < b.id)
SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
"""


@register(
    "q121p_simhash_neardup_capped",
    "dedup: PRODUCTION SimHash twin of q121 — identical banding + hamming "
    "refine with the bucket_cap=64 skew valve ON: oversized band buckets "
    "are sub-salted so per-task pair work stays bounded on boilerplate-"
    "heavy corpora (q121 keeps the lossless recall guarantee; this is the "
    "shape you deploy)",
    _q121p_oracle(),
)
def q121p(spark, sf):
    return simhash_neardup_pairs(
        t(spark, sf, "documents"), "doc_id", "text", n_bits=32, n_bands=4,
        max_hamming=3, bucket_cap=64,
    )


@register(
    "q43_dedup_simhash",
    "dedup: SimHash signatures (32-bit, majority-vote bits)",
    _q43_oracle(),
)
def q43(spark, sf):
    return simhash_signatures(t(spark, sf, "documents"), "doc_id", "text", n_bits=32)


def _q44_oracle() -> str:
    toks = SQL_TOKENS.format(c="text")
    return f"""
WITH d AS (SELECT doc_id AS id, lang, source, list_distinct({toks}) AS toks FROM documents),
p AS (
  SELECT a.id AS id_a, b.id AS id_b,
         len(list_intersect(a.toks, b.toks)) AS ni,
         len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS nu
  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source AND a.id < b.id)
SELECT id_a, id_b, CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE) AS jaccard
FROM p WHERE CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE) >= 0.5
"""


@register(
    "q44_dedup_ngram_jaccard",
    "dedup: blocked exact token-set Jaccard refine",
    _q44_oracle(),
)
def q44(spark, sf):
    return ngram_jaccard_pairs(
        t(spark, sf, "documents"), "doc_id", "text", ["lang", "source"], threshold=0.5
    )


def _q45_oracle() -> str:
    bkt = (
        "(CASE WHEN embedding[1] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN embedding[9] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN embedding[17] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN embedding[25] > 0 THEN '1' ELSE '0' END)"
    )
    return f"""
WITH e AS (SELECT vec_id AS id, embedding AS v, {bkt} AS bkt FROM embeddings),
p AS (
  SELECT a.id AS id_a, b.id AS id_b, {_sql_cosine('a.v', 'b.v')} AS cos_sim
  FROM e a JOIN e b ON a.bkt = b.bkt AND a.id < b.id)
SELECT id_a, id_b, cos_sim FROM p ORDER BY cos_sim DESC, id_a, id_b LIMIT 50
"""


@register(
    "q45_embedding_neardup_lsh",
    "dedup/similarity: sign-LSH bucketed top-k most-similar embedding pairs",
    _q45_oracle(),
)
def q45(spark, sf):
    return cosine_topk_pairs_lsh(
        t(spark, sf, "embeddings"), "vec_id", "embedding", dims=(1, 9, 17, 25), k=50
    )


@register(
    "q46_ann_topk",
    "similarity search: brute-force cosine top-k vs query vector",
    f"""WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id AS id, {_sql_cosine('e.embedding', 'q.q_vec')} AS cos_sim
        FROM embeddings e CROSS JOIN q
        ORDER BY cos_sim DESC, id LIMIT 10""",
)
def q46(spark, sf):
    emb = t(spark, sf, "embeddings")
    return ann_topk_bruteforce(
        emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == 0), k=10
    )


@register(
    "q114_knn_graph",
    "similarity search: exact cosine k-NN graph (batch similarity join — "
    "broadcast corpus matrix, Arrow-batched matmul, zero shuffles)",
    """WITH p AS (
         SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
                list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])) AS cos_sim
         FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       r AS (SELECT *, row_number() OVER (
               PARTITION BY id ORDER BY cos_sim DESC, neighbor_id) AS rn
             FROM p)
       SELECT id, neighbor_id, cos_sim FROM r WHERE rn <= 5""",
)
def q114(spark, sf):
    # numpy float64 matmul vs DuckDB's double cosine agree to ~1e-16 —
    # far inside the comparator's 6-decimal rounding; the k-boundary is
    # tie-exact (see knn_graph's kth-value candidate selection).
    return knn_graph(t(spark, sf, "embeddings"), "vec_id", "embedding", k=5)


def _q118_oracle() -> str:
    bkt = (
        "(CASE WHEN embedding[1] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN embedding[9] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN embedding[17] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN embedding[25] > 0 THEN '1' ELSE '0' END)"
    )
    return f"""
WITH e AS (SELECT vec_id AS id, embedding AS v, {bkt} AS bkt FROM embeddings),
p AS (
  SELECT a.id AS id, b.id AS neighbor_id, {_sql_cosine('a.v', 'b.v')} AS cos_sim
  FROM e a JOIN e b ON a.bkt = b.bkt AND a.id <> b.id),
r AS (
  SELECT *, row_number() OVER (
      PARTITION BY id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM p)
SELECT id, neighbor_id, cos_sim FROM r WHERE rn <= 5
"""


@register(
    "q118_knn_graph_bucketed",
    "similarity search: sign-LSH-sharded approximate k-NN graph (the "
    "corpus-doesn't-fit scale path for q114; per-task memory = bucket size)",
    _q118_oracle(),
)
def q118(spark, sf):
    return knn_graph_bucketed(
        t(spark, sf, "embeddings"), "vec_id", "embedding", k=5
    )


def _q118a_oracle() -> str:
    # Replicates auto_plane_count in SQL: the full 20-plane sign string
    # is truncated to P = clamp(ceil(log2(N/256)), 4, 20) chars, so the
    # adaptive bucketing stays value-checkable at ANY corpus size. The
    # first 4 planes are q118's fixed dims — at fixture scale (P clamps
    # to 4) q118a is bit-identical to q118, which pins the twin's
    # semantics to the already-verified oracle.
    bits = " || ".join(
        f"CASE WHEN embedding[{d}] > 0 THEN '1' ELSE '0' END"
        for d in _AUTO_PLANES
    )
    return f"""
WITH nn AS (SELECT LEAST({len(_AUTO_PLANES)}, GREATEST(4,
              CAST(ceil(log2(GREATEST(count(*), 1) / 256.0)) AS INT))) AS p
            FROM embeddings),
e AS (SELECT vec_id AS id, embedding AS v,
             substring(({bits}), 1, nn.p) AS bkt
      FROM embeddings, nn),
p AS (
  SELECT a.id AS id, b.id AS neighbor_id, {_sql_cosine('a.v', 'b.v')} AS cos_sim
  FROM e a JOIN e b ON a.bkt = b.bkt AND a.id <> b.id),
r AS (
  SELECT *, row_number() OVER (
      PARTITION BY id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM p)
SELECT id, neighbor_id, cos_sim FROM r WHERE rn <= 5
"""


@register(
    "q118a_knn_graph_autoplanes",
    "similarity search: q118 production twin — sign-LSH k-NN graph with "
    "count-adaptive plane count (bucket size pinned at ~256 rows as the "
    "corpus grows; the sf10-measured fix for fixed-bucket quadratic work)",
    _q118a_oracle(),
)
def q118a(spark, sf):
    return knn_graph_bucketed(
        t(spark, sf, "embeddings"), "vec_id", "embedding", k=5, dims=None
    )


# --------------------------------------------------------------- text analysis


@register(
    "q47_token_count",
    "text: token counting (whitespace + BPE-ish regex)",
    f"""SELECT doc_id,
               CAST(len({SQL_TOKENS.format(c='text')}) AS INT) AS n_tokens,
               CAST(len(list_distinct({SQL_TOKENS.format(c='text')})) AS INT) AS n_uniq_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_pieces,
               CAST(length(text) AS INT) AS n_chars_computed
        FROM documents""",
)
def q47(spark, sf):
    toks = tokens(F.col("text"))
    return t(spark, sf, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
            )
        ).alias("n_bpe_pieces"),
        F.length("text").alias("n_chars_computed"),
    )


def _q48_oracle() -> str:
    toks = SQL_TOKENS.format(c="text")
    stop_en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH d AS (SELECT doc_id, text, {toks} AS w FROM documents)
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars_q,
       (CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
          / CAST(length(text) AS DOUBLE)) AS punct_ratio,
       (CAST(len(list_intersect(list_distinct(w), [{stop_en}])) AS DOUBLE)
          / CAST(len(list_distinct(w)) AS DOUBLE)) AS stopword_ratio,
       (CAST(list_reduce(list_prepend(0, list_transform(w, x -> length(x))), (a, b) -> a + b) AS DOUBLE)
          / CAST(len(w) AS DOUBLE)) AS avg_token_len
FROM d
"""


@register(
    "q48_quality_score",
    "text: quality signals (length / punctuation / stopword ratios)",
    _q48_oracle(),
)
def q48(spark, sf):
    toks = tokens(F.col("text"))
    distinct = F.array_distinct(toks)
    stop_en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, b: a + b
    )
    n_chars = F.length("text")
    return t(spark, sf, "documents").select(
        "doc_id",
        n_chars.alias("n_chars_q"),
        (
            (n_chars - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))).cast(
                "double"
            )
            / n_chars.cast("double")
        ).alias("punct_ratio"),
        (
            F.size(F.array_intersect(distinct, stop_en)).cast("double")
            / F.size(distinct).cast("double")
        ).alias("stopword_ratio"),
        (tok_len_sum.cast("double") / F.size(toks).cast("double")).alias(
            "avg_token_len"
        ),
    )


def _q49_oracle() -> str:
    toks = SQL_TOKENS.format(c="text")
    langs = sorted(STOPWORDS)
    score_exprs = ", ".join(
        "CAST(len(list_intersect(dw, [{}])) AS INT) AS score_{}".format(
            ", ".join(f"'{w}'" for w in STOPWORDS[lang]), lang
        )
        for lang in langs
    )
    # argmax with alphabetical tie-break (mirrors functions/text.py).
    cases = []
    for i, lang in enumerate(langs):
        rest = [f"score_{other}" for other in langs[i + 1 :]]
        guard = f"score_{lang} > 0"
        if rest:
            greatest = rest[0] if len(rest) == 1 else f"greatest({', '.join(rest)})"
            guard += f" AND score_{lang} >= {greatest}"
        cases.append(f"WHEN {guard} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
WITH d AS (SELECT doc_id, list_distinct({toks}) AS dw FROM documents),
s AS (SELECT doc_id, {score_exprs} FROM d)
SELECT doc_id, score_de, score_en, score_es, score_fr, {case_sql} AS pred_lang FROM s
"""


@register(
    "q49_lang_id",
    "text: stopword-overlap language heuristic with argmax",
    _q49_oracle(),
)
def q49(spark, sf):
    return t(spark, sf, "documents").select("doc_id", *langid_struct(tokens(F.col("text"))))


@register(
    "q50_fingerprint",
    "text: document fingerprint (md5 of normalized text + rolling hash)",
    """WITH n AS (SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text), '[^\\x20-\\x7e]', '', 'g'), '\\s+', ' ', 'g')) AS norm
         FROM documents)
       SELECT doc_id, md5(norm) AS fp_md5,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, length(norm) + 1), i -> CAST(unicode(substr(norm, i, 1)) AS BIGINT))),
                (a, c) -> (a * 31 + c) % 1000000007) AS fp_rolling
       FROM n""",
)
def q50(spark, sf):
    from ipes_data_pipeline_spark.operators.util import spread

    # the rolling hash is a ~300-step interpreted fold per row — spread
    # an under-parallel scan before it (no-op at real scale)
    return (
        spread(t(spark, sf, "documents"))
        .select("doc_id", normalized_text("text").alias("norm"))
        .select(
            "doc_id",
            F.md5("norm").alias("fp_md5"),
            rolling_hash_expr("norm").alias("fp_rolling"),
        )
    )


# --------------------------------------------------------------- events family


@register(
    "q51_json_extract",
    "B1 semi-structured access: JSON path extraction + agg",
    """SELECT event_type,
              COUNT(*) AS n,
              CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
              MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
              MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
       FROM events GROUP BY event_type""",
)
def q51(spark, sf):
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
    )


@register(
    "q52_sessionize",
    "time-series: gap-based sessionization (batch twin of session_window)",
    """WITH o AS (
         SELECT user_id, epoch(CAST(ts AS TIMESTAMP)) AS sec, event_id FROM events),
       f AS (
         SELECT user_id,
                CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800.0
                     THEN 1 ELSE 0 END AS boundary
         FROM o WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id))
       SELECT user_id, CAST(SUM(boundary) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
       FROM f GROUP BY user_id""",
)
def q52(spark, sf):
    sess = sessionize(t(spark, sf, "events"), "user_id", "ts", "event_id", 1800.0)
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q53_asof_join",
    "time-series: as-of join (latest order at or before each event)",
    """SELECT event_id, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate FROM (
         SELECT e.event_id, o.o_orderkey, o.o_orderdate,
                row_number() OVER (PARTITION BY e.event_id
                                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
         FROM events e JOIN orders o
           ON o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP))
       WHERE rn = 1""",
)
def q53(spark, sf):
    ev = t(spark, sf, "events")
    o = t(spark, sf, "orders")
    joined = asof_join_latest(
        ev,
        o,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_tiebreak="o_orderkey",
        left_id="event_id",
    )
    return joined.select(
        "event_id",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.col("o_orderdate").alias("asof_orderdate"),
    )


@register(
    "q54_multimodal_meta",
    "multimodal: opaque binary column + typed metadata (sniff/size)",
    """SELECT doc_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              hex(encode(substr(text, 1, 4))) AS magic_hex,
              CASE WHEN substr(text, 1, 4) = 'the ' THEN 'type_a'
                   WHEN substr(text, 1, 1) IN ('a', 'b', 'c') THEN 'type_b'
                   ELSE 'other' END AS sniffed_type
       FROM documents""",
)
def q54(spark, sf):
    # Binary plumbing: encode → BinaryType column; magic-byte sniff on the
    # leading bytes (the real decoder stubs live in operators/multimodal.py).
    d = t(spark, sf, "documents").withColumn("payload", F.encode(F.col("text"), "UTF-8"))
    return d.select(
        "doc_id",
        F.octet_length(F.col("payload")).cast("long").alias("n_bytes"),
        F.hex(F.encode(F.substring(F.col("text"), 1, 4), "UTF-8")).alias("magic_hex"),
        F.when(F.substring("text", 1, 4) == "the ", "type_a")
        .when(F.substring("text", 1, 1).isin("a", "b", "c"), "type_b")
        .otherwise("other")
        .alias("sniffed_type"),
    )


# ----------------------------------------------------------------- range join


@register(
    "q73_range_join_bucketed",
    "range join: per-order shipments inside [orderdate, orderdate+7d)",
    """SELECT o_orderkey, COUNT(*) AS n_shipped
       FROM orders o JOIN lineitem l
         ON l.l_shipdate >= o.o_orderdate
        AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
       GROUP BY o_orderkey""",
)
def q73(spark, sf):
    # Cross-key range-containment join; the bucketed rewrite keeps the
    # plan a shuffle equi-join (no BroadcastNestedLoopJoin) — see
    # operators/rangejoin.py for the scale argument.
    from ipes_data_pipeline_spark.operators.rangejoin import bucketed_range_join

    week = 7 * 86400.0
    # NTZ → timestamp → double = epoch seconds (session tz is UTC, so the
    # +7d in seconds is exactly DuckDB's INTERVAL 7 DAY on these dates).
    epoch = lambda c: F.col(c).cast("timestamp").cast("double")  # noqa: E731
    orders = t(spark, sf, "orders").select(
        "o_orderkey",
        epoch("o_orderdate").alias("w_start"),
        (epoch("o_orderdate") + F.lit(week)).alias("w_end"),
    )
    ships = t(spark, sf, "lineitem").select(
        epoch("l_shipdate").alias("ship_ts")
    )
    hits = bucketed_range_join(
        ships, orders, "ship_ts", "w_start", "w_end", bucket_width=week
    )
    return hits.groupBy("o_orderkey").agg(F.count("*").alias("n_shipped"))


# -------------------------------------------------------- distinct sketches


def _q74_oracle() -> str:
    from ipes_data_pipeline_spark.functions.sketches import sql_hll_estimate

    est = sql_hll_estimate("events", ["event_type"], "user_id")
    return f"""
WITH est AS ({est}),
exact AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
          FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
SELECT e.event_type, e.n_exact, s.hll_est
FROM exact e JOIN est s ON e.event_type = s.event_type
"""


@register(
    "q74_hll_distinct",
    "sketch: HyperLogLog distinct users per event_type (exact-int registers)",
    _q74_oracle(),
)
def q74(spark, sf):
    from ipes_data_pipeline_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
    )

    ev = t(spark, sf, "events")
    est = hll_estimate(hll_registers(ev, ["event_type"], "user_id"), ["event_type"])
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return exact.join(F.broadcast(est), "event_type")


def _q75_oracle() -> str:
    from ipes_data_pipeline_spark.functions.sketches import sql_hll_estimate

    src = (
        "(SELECT event_type, date_trunc('month', CAST(ts AS TIMESTAMP)) AS month,"
        " user_id FROM events)"
    )
    return sql_hll_estimate(src, ["event_type", "month"], "user_id")


@register(
    "q75_hll_rollup",
    "sketch: daily HLL registers merged to monthly estimates (continuous agg)",
    _q75_oracle(),
)
def q75(spark, sf):
    # Genuine two-stage rollup: day-level register tables (the storable
    # sketch) re-maxed to month — max is associative, so this equals the
    # oracle's direct month-level sketch while never rescanning raw rows.
    from ipes_data_pipeline_spark.functions.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    ev = t(spark, sf, "events").withColumn("day", F.date_trunc("day", "ts"))
    daily = hll_registers(ev, ["event_type", "day"], "user_id")
    monthly = hll_merge(
        daily.withColumn("month", F.date_trunc("month", "day")),
        ["event_type", "month"],
    )
    return hll_estimate(monthly, ["event_type", "month"])


# ------------------------------------------------- range count via prefix sum


@register(
    "q76_range_count_prefix",
    "range count: shipments per order window via cumulative histogram (no pair join)",
    """SELECT o_orderkey, COUNT(*) AS n_shipped
       FROM orders o JOIN lineitem l
         ON l.l_shipdate >= o.o_orderdate
        AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
       GROUP BY o_orderkey""",
)
def q76(spark, sf):
    # Same semantics as q73 (the oracle is identical), but the aggregate-
    # only form: prefix(end-1) - prefix(start-1) over a dense daily
    # histogram. q73's bucketed pair join materializes ~260M candidate
    # pairs at sf0.1 just to count them (70 s); this plan is two broadcast
    # lookups per order (<2 s) and stays linear at any scale.
    from ipes_data_pipeline_spark.operators.rangejoin import range_count

    day = lambda c: F.datediff(F.to_date(c), F.lit("1970-01-01").cast("date"))  # noqa: E731
    orders = t(spark, sf, "orders").select(
        "o_orderkey",
        day("o_orderdate").alias("w_start"),
        (day("o_orderdate") + F.lit(7)).alias("w_end"),
    )
    ships = t(spark, sf, "lineitem").select(day("l_shipdate").alias("ship_day"))
    res = range_count(ships, orders, "ship_day", "w_start", "w_end", out_col="n_cnt")
    return res.where(F.col("n_cnt") > 0).select(
        "o_orderkey", F.col("n_cnt").alias("n_shipped")
    )


# ----------------------------------------- deterministic train/val/test split


def _split_of(c):
    """q77's content-addressed split of an id: md5(id) % 100 below 80 is
    train, below 90 val, the rest test."""
    hexed = F.substring(F.md5(c.cast("string")), 1, 15)
    bucket = F.conv(hexed, 16, 10).cast("long") % 100
    return F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")


@register(
    "q77_hash_split",
    "curation: deterministic hash-bucketed train/val/test split (80/10/10)",
    """WITH b AS (
         SELECT lang, n_chars,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
         FROM documents)
       SELECT lang,
              CASE WHEN bucket < 80 THEN 'train'
                   WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
              COUNT(*) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars
       FROM b GROUP BY lang, split""",
)
def q77(spark, sf):
    # Content-addressed split: bucket = md5(id) % 100, so membership is
    # stable under reshuffles, re-partitions, and incremental appends —
    # the property a training pipeline needs (a random() split is neither
    # reproducible nor append-stable). Pure column ops, no shuffle beyond
    # the final small agg.
    return (
        t(spark, sf, "documents")
        .withColumn("split", _split_of(F.col("doc_id")))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ------------------------------------------------ sequence packing (concat+chunk)


@register(
    "q78_pack_sequences",
    "curation: concat-and-chunk packing of documents into 2048-token windows",
    f"""WITH tk AS (
         SELECT source, doc_id,
                CAST(len({SQL_TOKENS.format(c='text')}) AS BIGINT) AS tok
         FROM documents),
       o AS (
         SELECT source, tok,
                COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         FROM tk)
       SELECT source, CAST(off // 2048 AS BIGINT) AS chunk_id,
              COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS chunk_tokens
       FROM o GROUP BY source, chunk_id""",
)
def q78(spark, sf):
    # LLM-training packing: concatenate a shard's documents in stable
    # doc_id order, split the token stream into fixed 2048-token context
    # windows, report docs/tokens per window. One window per shard
    # (source) — shards are the parallel unit, exactly how a packing job
    # partitions at scale.
    from pyspark.sql.window import Window as W

    toks = tokens(F.col("text"))
    tk = t(spark, sf, "documents").select(
        "source", "doc_id", F.size(toks).cast("long").alias("tok")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        tk.withColumn("off", F.coalesce(F.sum("tok").over(w), F.lit(0)))
        .withColumn("chunk_id", F.expr("off div 2048"))
        .groupBy("source", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("chunk_tokens"),
        )
    )


# -------------------------------------------- per-language quality percentile


@register(
    "q79_quality_percentile_gate",
    "curation: drop the bottom quartile by length within each language",
    """SELECT doc_id, lang, n_chars, pr FROM (
         SELECT doc_id, lang, n_chars,
                percent_rank() OVER (PARTITION BY lang
                                     ORDER BY n_chars, doc_id) AS pr
         FROM documents)
       WHERE pr >= 0.25""",
)
def q79(spark, sf):
    # Percentile gates must be computed within-language — an absolute
    # threshold keeps verbose languages and guts terse ones. percent_rank
    # with a doc_id tiebreak is deterministic in both engines.
    from pyspark.sql.window import Window as W

    w = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        t(spark, sf, "documents")
        .select("doc_id", "lang", "n_chars", F.percent_rank().over(w).alias("pr"))
        .where(F.col("pr") >= 0.25)
    )


# ------------------------------------------------------------- vocabulary top-k


@register(
    "q80_vocab_topk",
    "curation: corpus vocabulary — top 200 tokens by frequency",
    f"""WITH tk AS (
         SELECT unnest({SQL_TOKENS.format(c='text')}) AS tok FROM documents)
       SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok
       ORDER BY cnt DESC, tok ASC LIMIT 200""",
)
def q80(spark, sf):
    # explode → partial-agg → shuffle on token → TakeOrderedAndProject:
    # the map-side combine collapses each partition's token stream before
    # the shuffle, so the exchange carries vocabulary-sized data, not
    # corpus-sized. Ties broken by token text for cross-engine stability.
    return (
        t(spark, sf, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(200)
    )


# ------------------------------------------------ ordered conversion funnel

_Q100_SQL_ORACLE = """
WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
w1 AS (SELECT *, MIN(CASE WHEN event_type = 'signup' THEN ts END)
                   OVER (PARTITION BY user_id) AS t1 FROM e),
w2 AS (SELECT *, MIN(CASE WHEN event_type = 'view' AND ts >= t1 THEN ts END)
                   OVER (PARTITION BY user_id) AS t2 FROM w1),
w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
                   OVER (PARTITION BY user_id) AS t3 FROM w2)
SELECT user_id,
       MIN(t1) AS signup_ts,
       MIN(t2) AS view_ts,
       MIN(t3) AS purchase_ts,
       CASE WHEN MIN(t3) IS NOT NULL THEN 'purchase'
            WHEN MIN(t2) IS NOT NULL THEN 'view'
            ELSE 'signup' END AS stage
FROM w3 WHERE t1 IS NOT NULL GROUP BY user_id
"""


@register(
    "q100_event_funnel",
    "time-series: ordered conversion funnel (signup -> view -> purchase)",
    _Q100_SQL_ORACLE,
)
def q100(spark, sf):
    # Product-analytics staple Spark has no primitive for: per user, the
    # earliest signup, the earliest view AT OR AFTER that signup, and the
    # earliest purchase at or after THAT view — order matters, so three
    # pivoted MINs would be wrong. Three stacked whole-partition window
    # aggregates resolve the chain with ONE exchange: each window uses
    # the same partitionBy(user_id), so Catalyst plans a single hash
    # exchange and the final groupBy (already distributed by user_id)
    # adds none. State per user is three timestamps — no sort, no
    # collect_list, skew-safe for any per-user event volume.
    w = W.partitionBy("user_id")
    step = lambda typ, after: F.min(  # noqa: E731
        F.when(
            (F.col("event_type") == typ)
            & (F.col("ts") >= F.col(after) if after else F.lit(True)),
            F.col("ts"),
        )
    ).over(w)
    staged = (
        t(spark, sf, "events")
        .select("user_id", "event_type", "ts")
        .withColumn("t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w))
        .withColumn("t2", step("view", "t1"))
        .withColumn("t3", step("purchase", "t2"))
    )
    stage = (
        F.when(F.col("purchase_ts").isNotNull(), "purchase")
        .when(F.col("view_ts").isNotNull(), "view")
        .otherwise("signup")
    )
    return (
        staged.where(F.col("t1").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("t1").alias("signup_ts"),
            F.min("t2").alias("view_ts"),
            F.min("t3").alias("purchase_ts"),
        )
        .select("user_id", "signup_ts", "view_ts", "purchase_ts", stage.alias("stage"))
    )


# ----------------------------------------- Count-Min heavy-hitter estimates


def _q102_oracle() -> str:
    from ipes_data_pipeline_spark.functions.sketches import sql_cms_estimate

    toks = SQL_TOKENS.format(c="text")
    stream = f"(SELECT unnest({toks}) AS tok FROM documents)"
    probes = (
        f"(SELECT tok, COUNT(*) AS n_exact FROM (SELECT unnest({toks}) AS tok "
        "FROM documents) GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 20)"
    )
    return sql_cms_estimate(stream, probes, "tok")


@register(
    "q102_cms_heavy_hitters",
    "sketch: Count-Min frequency estimates for the top-20 tokens",
    _q102_oracle(),
)
def q102(spark, sf):
    # The frequency twin of the HLL family (q74/q75): a fixed
    # CMS_D × CMS_W register table answers point-frequency queries with
    # one-sided error — cms_est >= n_exact always, and the top-20 probe
    # set shows the calibration the way q94 does for MinHash Jaccard.
    # The token stream is checkpointed once and feeds both the exact
    # top-k (the evaluation yardstick) and the sketch build; the sketch
    # itself shuffles only its 2048 register rows (map-side combine),
    # and estimation broadcasts the sketch — the probe side never moves.
    # At 100 TB: per-partition/day sketches roll up by SUM (cms_merge),
    # so heavy-hitter monitoring reads sketch tables, not the corpus.
    from ipes_data_pipeline_spark.functions.sketches import (
        cms_estimate,
        cms_table,
    )

    tok_stream = (
        spread(t(spark, sf, "documents"))
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
    ).transform(cut)
    top = (
        tok_stream.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("tok"))
        .limit(20)
    )
    cms = cms_table(tok_stream, [], "tok")
    return cms_estimate(cms, top, "tok")


# ------------------------------------- histogram quantile sketch (mergeable)

_QH_W = 1000.0  # bucket width in price units


def _q103_oracle() -> str:
    # Same algorithm, same arithmetic: integer counts until one double
    # division from exact integers, then one fused interpolation
    # expression written identically on both sides. ``unnest`` happens
    # in a sub-select because DuckDB ignores a CAST wrapped directly
    # around ``unnest`` (queries/__init__ determinism notes).
    return """
WITH h AS (
  SELECT l_returnflag,
         CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) / 1000.0) AS BIGINT) AS b,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, b),
c AS (
  SELECT l_returnflag, b, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY b) AS BIGINT) AS cum
  FROM h),
tot AS (SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS total
        FROM h GROUP BY l_returnflag),
qs AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (SELECT unnest([0.5, 0.9, 0.99]) AS q)),
tgt AS (SELECT l_returnflag, q, CAST(CEIL(q * total) AS BIGINT) AS target
        FROM tot CROSS JOIN qs),
pick AS (
  SELECT t.l_returnflag, t.q, t.target, MIN(c.b) AS b
  FROM tgt t JOIN c ON c.l_returnflag = t.l_returnflag AND c.cum >= t.target
  GROUP BY t.l_returnflag, t.q, t.target)
SELECT p.l_returnflag, p.q,
       p.b * 1000.0 + 1000.0 * ((p.target - (c.cum - c.cnt)) / c.cnt) AS est_price
FROM pick p
JOIN c ON c.l_returnflag = p.l_returnflag AND c.b = p.b
"""


@register(
    "q103_quantile_sketch",
    "sketch: mergeable equi-width histogram quantiles (p50/p90/p99 per flag)",
    _q103_oracle(),
)
def q103(spark, sf):
    # The quantile member of the sketch family (HLL q74/q75 distinct,
    # CMS q102 frequency): a fixed-width histogram is built in ONE pass
    # with map-side combine, merges by SUM (store per partition/day,
    # roll up any range without rescanning), and answers p50/p90/p99 by
    # cumulative interpolation over sketch-sized data. Spark's own
    # percentile_approx is an opaque KLL twin no other engine
    # reproduces, hence the from-first-principles build (as q74's HLL).
    # Everything stays integer until one double division from exact
    # integers, so Spark's partial aggregation and DuckDB's
    # single-threaded fold agree bit-for-bit.
    # At 100 TB: the corpus scan is the only wide stage; the histogram
    # is ~buckets x groups rows and every downstream join is
    # broadcast-sized.
    h = (
        t(spark, sf, "lineitem")
        .select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice").cast("double") / F.lit(1000.0))
            .cast("long")
            .alias("b"),
        )
        .groupBy("l_returnflag", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = h.withColumn(
        "cum",
        F.sum("cnt")
        .over(W.partitionBy("l_returnflag").orderBy("b"))
        .cast("long"),
    )
    tot = h.groupBy("l_returnflag").agg(F.sum("cnt").cast("long").alias("total"))
    qs = local_frame(spark, [(0.5,), (0.9,), (0.99,)], "q double")
    tgt = tot.crossJoin(F.broadcast(qs)).select(
        "l_returnflag",
        "q",
        F.ceil(F.col("q") * F.col("total")).cast("long").alias("target"),
    )
    pick = (
        tgt.alias("t")
        .join(
            c.alias("c"),
            (F.col("c.l_returnflag") == F.col("t.l_returnflag"))
            & (F.col("c.cum") >= F.col("t.target")),
        )
        .groupBy("t.l_returnflag", "t.q", "t.target")
        .agg(F.min("c.b").alias("b"))
    )
    return (
        pick.alias("p")
        .join(
            c.alias("c"),
            (F.col("c.l_returnflag") == F.col("p.l_returnflag"))
            & (F.col("c.b") == F.col("p.b")),
        )
        .select(
            F.col("p.l_returnflag").alias("l_returnflag"),
            F.col("p.q").alias("q"),
            (
                F.col("p.b") * F.lit(1000.0)
                + F.lit(1000.0)
                * (
                    (F.col("p.target") - (F.col("c.cum") - F.col("c.cnt")))
                    / F.col("c.cnt")
                )
            ).alias("est_price"),
        )
    )


@register(
    "q112_frame_sample_plan",
    "multimodal: duration-scaled frame-sampling work units (explode plan)",
    """WITH v AS (
         SELECT doc_id AS media_id, n_chars,
                LEAST(8, GREATEST(1, n_chars // 64)) AS n_frames
         FROM documents)
       SELECT media_id,
              CAST(unnest(range(0, n_frames)) AS INT) AS frame_idx,
              CAST(unnest(list_transform(range(0, n_frames),
                                         i -> i * n_chars // n_frames)) AS BIGINT)
                AS frame_offset
       FROM v""",
)
def q112(spark, sf):
    # The scheduling half of video ingestion (operators/multimodal.py
    # owns the stubbed decode): each media item explodes into its frame
    # work units, count scaled by duration (n_chars proxies runtime) and
    # offsets spaced uniformly by integer division — deterministic, no
    # floats. The explode is the parallelism lever at 100 TB: work units
    # shuffle to wherever capacity is, independent of how many bytes any
    # single video holds. Two unnests zip positionally in DuckDB; Spark
    # gets the same zip from arrays_zip + one explode.
    d = t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), "n_chars"
    )
    n = F.least(F.lit(8), F.greatest(F.lit(1), (F.col("n_chars") / 64).cast("int")))
    idx = F.sequence(F.lit(0), n - 1)
    offs = F.transform(idx, lambda i: (i * F.col("n_chars") / n).cast("long"))
    return (
        d.select("media_id", F.explode(F.arrays_zip(idx.alias("i"), offs.alias("o"))).alias("z"))
        .select(
            "media_id",
            F.col("z.i").cast("int").alias("frame_idx"),
            F.col("z.o").alias("frame_offset"),
        )
    )


def _q124_oracle() -> str:
    # q42's band CTEs + q77's split rule, composed into the leakage audit
    base = _q42_oracle().strip().rsplit("SELECT DISTINCT", 1)[0]
    split = (
        "CASE WHEN ('0x' || substr(md5(CAST({id} AS VARCHAR)), 1, 15))::BIGINT"
        " % 100 < 80 THEN 'train'"
        " WHEN ('0x' || substr(md5(CAST({id} AS VARCHAR)), 1, 15))::BIGINT"
        " % 100 < 90 THEN 'val' ELSE 'test' END"
    )
    return f"""{base}
, pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id)
SELECT {split.format(id='id_a')} AS split_a,
       {split.format(id='id_b')} AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_leaky_pairs
FROM pairs
WHERE {split.format(id='id_a')} <> {split.format(id='id_b')}
GROUP BY split_a, split_b
"""


@register(
    "q124_split_leakage",
    "curation: train/test leakage audit — near-dup pairs (MinHash-LSH) "
    "straddling the hash split; nonzero rows mean the held-out splits "
    "are contaminated and need near-dup-aware splitting",
    _q124_oracle(),
)
def q124(spark, sf):
    # Composition of q42 (near-dup candidate pairs) and q77 (content-
    # addressed split): a pair in different splits leaks training text
    # into eval. The fix in a real pipeline is splitting by CLUSTER
    # (q42c's component id) instead of by doc — this query is the audit
    # that proves whether that is needed. Pair generation is the grouped
    # bucket pass (bucket-local); the split tag is pure column math on top.
    pairs = minhash_lsh_pairs(
        t(spark, sf, "documents"), "doc_id", "text", n_hashes=8, band_size=2,
        hash_fn="md5", bucket_cap=None,
    )
    tagged = pairs.select(
        _split_of(F.col("id_a")).alias("split_a"),
        _split_of(F.col("id_b")).alias("split_b"),
    )
    return (
        tagged.where(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_leaky_pairs"))
    )


def _q125_oracle() -> str:
    # q42c's component resolution + q77's split rule applied to the
    # component KEEPER rather than the doc: whole clusters move together.
    comp = _q42c_oracle().strip().rsplit("SELECT node", 1)[0]
    split = (
        "CASE WHEN ('0x' || substr(md5(CAST(lab AS VARCHAR)), 1, 15))::BIGINT"
        " % 100 < 80 THEN 'train'"
        " WHEN ('0x' || substr(md5(CAST(lab AS VARCHAR)), 1, 15))::BIGINT"
        " % 100 < 90 THEN 'val' ELSE 'test' END"
    )
    return f"""{comp}
SELECT {split} AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lab) AS BIGINT) AS n_clusters
FROM l3 GROUP BY split
"""


@register(
    "q125_clusterwise_split",
    "curation: near-dup-aware train/val/test split — the q124 remedy: "
    "hash the component KEEPER so whole near-dup clusters land in one "
    "split (leakage across splits is structurally zero)",
    _q125_oracle(),
)
def q125(spark, sf):
    comp = _doc_neardup_components(t(spark, sf, "documents"))
    return comp.groupBy(_split_of(F.col("cluster_id")).alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )


def _q126_oracle() -> str:
    comp = _q42c_oracle().strip().rsplit("SELECT node", 1)[0]
    return f"""{comp}
SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_raw,
       CAST((SELECT COUNT(DISTINCT md5(text)) FROM documents) AS BIGINT)
         AS n_exact_unique,
       CAST(COUNT(DISTINCT lab) AS BIGINT) AS n_neardup_clusters
FROM l3
"""


@register(
    "q126_reduction_funnel",
    "curation: data-reduction funnel — raw -> exact-unique -> near-dup "
    "clusters (the reference's published 848->297->294->178 funnel shape, "
    "README.md:154-160, re-expressed over the document corpus)",
    _q126_oracle(),
)
def q126(spark, sf):
    docs = t(spark, sf, "documents").transform(cut)
    comp = _doc_neardup_components(docs)
    counts = docs.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.countDistinct(F.md5("text")).alias("n_exact_unique"),
    )
    clusters = comp.agg(
        F.countDistinct("cluster_id").alias("n_neardup_clusters")
    )
    return counts.crossJoin(clusters)


def _q133_oracle(tau: float = 0.3) -> str:
    """Hybrid near-dup graph: MinHash-LSH text pairs UNION sign-LSH
    embedding pairs (cos >= tau), components over the union. Reuses
    q42's band CTEs and q45's bucket construction verbatim."""
    base = _q42_oracle().strip().removeprefix("WITH").rsplit("SELECT DISTINCT", 1)[0]
    bkt = (
        "(CASE WHEN v[1] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN v[9] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN v[17] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN v[25] > 0 THEN '1' ELSE '0' END)"
    )
    rounds = "".join(
        f""",
  l{i + 1} AS (
    SELECT e.src AS node, MIN(l.lab) AS lab
    FROM e_self e JOIN l{i} l ON l.node = e.dst
    GROUP BY e.src)"""
        for i in range(3)
    )
    return f"""
WITH {base.strip().rstrip(',')},
half_t AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id),
ev AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
eb AS (SELECT id, v, {bkt} AS bkt FROM ev),
half_e AS (
  SELECT a.id AS src, b.id AS dst
  FROM eb a JOIN eb b ON a.bkt = b.bkt AND a.id < b.id
  WHERE {_sql_cosine('a.v', 'b.v')} >= {tau}),
half AS (SELECT src, dst FROM half_t UNION SELECT src, dst FROM half_e),
e0 AS (SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half),
e_self AS (SELECT src, dst FROM e0
           UNION ALL SELECT doc_id, doc_id FROM documents),
l0 AS (SELECT doc_id AS node, doc_id AS lab FROM documents){rounds}
SELECT node AS doc_id, lab AS cluster_id FROM l3
"""


@register(
    "q133_hybrid_neardup",
    "dedup: hybrid lexical+semantic near-dup clusters — MinHash-LSH text "
    "pairs UNION thresholded sign-LSH embedding pairs, components over "
    "the union graph (docs a paraphraser rewrites share embeddings, not "
    "shingles; docs a template stamps share shingles, not meaning — the "
    "union catches both)",
    _q133_oracle(),
)
def q133(spark, sf):
    # Both pair families are blocked (band-key / sign-bucket shuffles,
    # no all-pairs); the union graph feeds the shared component chain
    # (which eagerly cuts the union before the propagation rounds — an
    # un-materialized union re-ran BOTH pair families once per round,
    # measured ~2× of q133's runtime). Embeddings are keyed by the
    # document id (vec_id == doc_id in the testdata contract); the
    # embedding family runs as the numpy-per-bucket operator (same fold
    # order as the oracle — see cosine_pairs_bucketed).
    from ipes_data_pipeline_spark.operators.similarity import cosine_pairs_bucketed

    emb_pairs = cosine_pairs_bucketed(
        t(spark, sf, "embeddings"),
        "vec_id",
        "embedding",
        dims=(1, 9, 17, 25),
        threshold=0.3,
    ).select("id_a", "id_b")
    return _doc_neardup_components(
        t(spark, sf, "documents"), extra_pairs=emb_pairs
    )


def _q133a_oracle(tau: float = 0.3, cap: int = 256) -> str:
    """q133's union graph with BOTH scale valves replicated in SQL:
    the text side's band buckets are sub-salted past ``cap`` rows
    (q121p's construction: n_sub = ceil(bsz/cap), salt = first-8-hex
    of md5(id), pair join requires sub equality) and the embedding
    side's plane count adapts to the corpus (q118a's construction:
    the 20-plane sign string truncated to p = clamp(ceil(log2(N/256)),
    4, 20) chars). At gate scale no bucket exceeds cap and p clamps to
    4, so this is value-identical to q133 — which pins the twin to the
    already-verified oracle while keeping the capped/adaptive SQL
    semantics exact at any scale."""
    base = _q42_oracle().strip().removeprefix("WITH").rsplit("SELECT DISTINCT", 1)[0]
    bits = " || ".join(
        f"CASE WHEN v[{d}] > 0 THEN '1' ELSE '0' END" for d in _AUTO_PLANES
    )
    salt = "('0x' || substr(md5(CAST(b.id AS VARCHAR)), 1, 8))::BIGINT"
    rounds = "".join(
        f""",
  l{i + 1} AS (
    SELECT e.src AS node, MIN(l.lab) AS lab
    FROM e_self e JOIN l{i} l ON l.node = e.dst
    GROUP BY e.src)"""
        for i in range(3)
    )
    return f"""
WITH {base.strip().rstrip(',')},
szt AS (SELECT band_idx, band_key, COUNT(*) AS bsz
        FROM bands GROUP BY band_idx, band_key),
subt AS (SELECT b.id, b.band_idx, b.band_key,
                {salt}
                % GREATEST(1, CAST(CEIL(bsz / {cap}.0) AS BIGINT)) AS sub
         FROM bands b JOIN szt
           ON szt.band_idx = b.band_idx AND szt.band_key = b.band_key),
half_t AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM subt a JOIN subt b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.sub = b.sub AND a.id < b.id),
nn AS (SELECT LEAST({len(_AUTO_PLANES)}, GREATEST(4,
          CAST(ceil(log2(GREATEST(count(*), 1) / 256.0)) AS INT))) AS p
       FROM embeddings),
ev AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
eb AS (SELECT id, v, substring(({bits}), 1, nn.p) AS bkt FROM ev, nn),
half_e AS (
  SELECT a.id AS src, b.id AS dst
  FROM eb a JOIN eb b ON a.bkt = b.bkt AND a.id < b.id
  WHERE {_sql_cosine('a.v', 'b.v')} >= {tau}),
half AS (SELECT src, dst FROM half_t UNION SELECT src, dst FROM half_e),
e0 AS (SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half),
e_self AS (SELECT src, dst FROM e0
           UNION ALL SELECT doc_id, doc_id FROM documents),
l0 AS (SELECT doc_id AS node, doc_id AS lab FROM documents){rounds}
SELECT node AS doc_id, lab AS cluster_id FROM l3
"""


@register(
    "q133a_hybrid_neardup_adaptive",
    "dedup: q133 production twin — hybrid near-dup with BOTH scale "
    "valves on: text band buckets capped at 256 (sub-salted past that) "
    "and the embedding sign-LSH plane count adapting to the corpus "
    "(bucket size pinned ~256). The round-6 sf10 campaign measured "
    "q133's fixed 16-bucket embedding stage as the engine's heaviest "
    "remaining quadratic; q133 stays registered as the lossless oracle "
    "anchor (the q118/q118a, q121/q121p pattern)",
    _q133a_oracle(),
)
def q133a(spark, sf):
    from ipes_data_pipeline_spark.operators.similarity import cosine_pairs_bucketed

    emb_pairs = cosine_pairs_bucketed(
        t(spark, sf, "embeddings"),
        "vec_id",
        "embedding",
        dims=None,
        threshold=0.3,
    ).select("id_a", "id_b")
    return _doc_neardup_components(
        t(spark, sf, "documents"), extra_pairs=emb_pairs, bucket_cap=256
    )


def _q138_oracle(tau: float = 0.3) -> str:
    bkt = (
        "(CASE WHEN v[1] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN v[9] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN v[17] > 0 THEN '1' ELSE '0' END || "
        "CASE WHEN v[25] > 0 THEN '1' ELSE '0' END)"
    )
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
eb AS (SELECT id, v, {bkt} AS bkt FROM e),
cand AS (
  SELECT n.id AS new_id, o.id AS corpus_id,
         {_sql_cosine('n.v', 'o.v')} AS cos_sim
  FROM eb n JOIN eb o ON n.bkt = o.bkt AND n.id % 10 = 0 AND o.id % 10 <> 0),
r AS (
  SELECT new_id, corpus_id, cos_sim,
         row_number() OVER (PARTITION BY new_id
                            ORDER BY cos_sim DESC, corpus_id ASC) AS rn
  FROM cand WHERE cos_sim >= {tau})
SELECT new_id, corpus_id AS dup_of, cos_sim FROM r WHERE rn = 1
"""


@register(
    "q138_embedding_dedup_delta",
    "dedup: incremental SEMANTIC dedup — a new embedding batch probes "
    "the stored corpus through shared sign-LSH buckets (the q120 "
    "incremental contract at the embedding level: candidates scale "
    "with |new|, the corpus never self-pairs)",
    _q138_oracle(),
)
def q138(spark, sf):
    # New batch vs corpus only (no corpus x corpus re-pairing): the
    # bucket equi-join keys the shuffle, the per-new best match is one
    # bounded window over candidates. At 100 TB the corpus side is the
    # stored (bucket -> vector) index; each ingest batch joins against
    # it and only the batch's buckets are touched.
    from pyspark.sql.window import Window as W2

    from ipes_data_pipeline_spark.functions.vectors import dot, norm, sign_bucket

    emb = t(spark, sf, "embeddings")
    keyed = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
        sign_bucket(F.col("embedding"), (1, 9, 17, 25)).alias("bkt"),
        norm(F.col("embedding").cast("array<double>")).alias("nrm"),
    )
    new = keyed.where(F.col("id") % 10 == 0).alias("n")
    corpus = keyed.where(F.col("id") % 10 != 0).alias("o")
    cos = dot(F.col("n.v"), F.col("o.v")) / (F.col("n.nrm") * F.col("o.nrm"))
    cand = (
        new.join(corpus, F.col("n.bkt") == F.col("o.bkt"))
        .select(
            F.col("n.id").alias("new_id"),
            F.col("o.id").alias("corpus_id"),
            cos.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.3)
    )
    w = W2.partitionBy("new_id").orderBy(F.desc("cos_sim"), F.asc("corpus_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("new_id", F.col("corpus_id").alias("dup_of"), "cos_sim")
    )
