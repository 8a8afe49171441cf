"""Data-preparation / governance operators rounding out the curation
family: PII redaction, deterministic k-means assignment over embeddings,
and end-to-end near-duplicate resolution (cluster -> representative).

Reference anchors: the reference normalizes + dedups entity names before
its expensive per-row enrichment (structure_data.py:125-211,
enrich_data.py:155); these queries are the corpus-scale analogues a
training-data pipeline needs — scrub before publish, cluster before
sample, resolve duplicates before training.

Determinism rules as in queries/__init__: regex patterns restricted to
the Java-regex ∩ RE2 common subset; float folds are sequential
left-to-right in double (both engines); every computed column aliased
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ipes_data_pipeline_spark.functions.text import PII_PATTERNS, redact_pii
from ipes_data_pipeline_spark.queries import register, t

# ------------------------------------------------------------ PII redaction

#: Deterministic synthetic contact line appended to each document. The
#: testdata corpus contains no digits (TESTDATA.md), so the query
#: manufactures realistic PII spans from doc_id — both engines build the
#: byte-identical string, then redact it; counts prove the spans matched.
_SQL_PII_TEXT = (
    "substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@corp-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com or +1-555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ref 903-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
    " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _q90_oracle() -> str:
    redacted = _SQL_PII_TEXT
    for pat, repl in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all({_SQL_PII_TEXT}, '{pat}')) AS INT) AS {alias}"
        for (pat, _), alias in zip(PII_PATTERNS, ("n_emails", "n_ids", "n_phones"))
    )
    return f"""SELECT doc_id, {counts}, md5({redacted}) AS redacted_md5
FROM documents"""


@register(
    "q90_pii_redact",
    "curation: PII scrub (email/id/phone regex redaction + match counts)",
    _q90_oracle(),
)
def q90(spark, sf):
    # Scrub-before-publish: chained global regexp_replace entirely inside
    # whole-stage codegen — a pure map stage, no shuffle, inherits the
    # scan's partitioning at any scale.
    pii_text = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@corp-"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ref 903-"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    counts = [
        F.regexp_count(F.col("pii_text"), F.lit(pat)).cast("int").alias(alias)
        for (pat, _), alias in zip(PII_PATTERNS, ("n_emails", "n_ids", "n_phones"))
    ]
    return (
        t(spark, sf, "documents")
        .select("doc_id", pii_text.alias("pii_text"))
        .select(
            "doc_id",
            *counts,
            F.md5(redact_pii(F.col("pii_text"))).alias("redacted_md5"),
        )
    )


# ------------------------------------------- k-means assignment (fixed seeds)

_SQL_L2 = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
    "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), (x, y) -> x + y)"
)


@register(
    "q91_kmeans_assign",
    "similarity: nearest-centroid assignment (fixed seed centroids, L2)",
    f"""WITH c AS (SELECT vec_id AS c_id, embedding AS c_vec
                   FROM embeddings WHERE vec_id < 8),
         s AS (SELECT e.vec_id, c.c_id,
                      {_SQL_L2.format(a='e.embedding', b='c.c_vec')} AS d2
               FROM embeddings e CROSS JOIN c),
         a AS (SELECT vec_id, c_id, d2,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2 ASC, c_id ASC) AS rn
               FROM s)
       SELECT c_id AS cluster_id, COUNT(*) AS n_vecs,
              (CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(d2))
                AS mean_d2
       FROM a WHERE rn = 1 GROUP BY c_id""",
)
def q91(spark, sf):
    # One Lloyd assignment step with content-fixed centroids (the 8
    # lowest vec_ids): centroids broadcast, so scoring is a map-side
    # nested loop — the fact table never shuffles until the tiny
    # per-cluster aggregate. Squared L2 folds sequentially in double
    # (zip_with + aggregate), bit-identical to the oracle's list_reduce;
    # ties break on centroid id. The full iterative k-means (q72) keeps
    # this exact shape per round.
    emb = t(spark, sf, "embeddings")
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    diff2 = F.zip_with(
        "embedding",
        "c_vec",
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    d2 = F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v)
    w = W.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("c_id"))
    return (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "c_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy(F.col("c_id").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (F.sum(F.col("d2").cast("decimal(18,6)")).cast("double") / F.count("d2"))
            .alias("mean_d2"),
        )
    )


# ------------------------------------- near-dup resolution (keep best doc)


def _q92_oracle() -> str:
    from ipes_data_pipeline_spark.queries.dataops import _q42c_oracle

    base = _q42c_oracle()
    head, tail = base.rsplit("SELECT node AS doc_id, lab AS keeper_id FROM l3", 1)
    assert not tail.strip()
    return f"""{head.rstrip().rstrip(',')},
comp AS (SELECT node AS doc_id, lab AS cluster_id FROM l3),
m AS (SELECT c.cluster_id, d.doc_id, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
r AS (SELECT cluster_id, doc_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM m),
a AS (SELECT cluster_id, COUNT(*) AS n_members,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM m GROUP BY cluster_id)
SELECT a.cluster_id, a.n_members, a.total_chars, r.doc_id AS rep_doc_id
FROM a JOIN r ON r.cluster_id = a.cluster_id AND r.rn = 1"""


@register(
    "q92_neardup_resolution",
    "dedup: resolve near-dup clusters to one representative doc (keep-best)",
    _q92_oracle(),
)
def q92(spark, sf):
    # The step after q42c's clustering: each near-dup cluster keeps its
    # best member (longest text, id tie-break) — the keep/drop decision a
    # dedup pass actually ships. Cluster ids come from the shared LSH ->
    # min-label-components chain; the resolution itself is one
    # cluster-keyed window + aggregate (clusters are tiny, so no skew).
    from ipes_data_pipeline_spark.queries.dataops import _doc_neardup_components

    docs = t(spark, sf, "documents")
    comp = _doc_neardup_components(docs)
    m = comp.join(docs, "doc_id").select("cluster_id", "doc_id", "n_chars")
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    reps = (
        m.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("rep_doc_id"))
    )
    agg = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_chars").alias("total_chars"),
    )
    return agg.join(reps, "cluster_id").select(
        "cluster_id", "n_members", "total_chars", "rep_doc_id"
    )


# -------------------------------- sketch quality: minhash est vs exact


def _q94_oracle() -> str:
    from ipes_data_pipeline_spark.queries.dataops import _q42_oracle

    base = _q42_oracle().strip().removeprefix("WITH").rsplit("SELECT DISTINCT", 1)[0]
    est = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(8)
    )
    return f"""
WITH {base.strip().rstrip(',')},
p AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id)
SELECT p.id_a, p.id_b,
       CAST(({est}) AS DOUBLE) / 8.0 AS est_jaccard,
       CAST(len(list_intersect(ha.shingles, hb.shingles)) AS DOUBLE)
         / CAST(len(list_distinct(ha.shingles || hb.shingles)) AS DOUBLE)
         AS exact_jaccard
FROM p JOIN sigs sa ON sa.id = p.id_a
       JOIN sigs sb ON sb.id = p.id_b
       JOIN sh ha ON ha.id = p.id_a
       JOIN sh hb ON hb.id = p.id_b
"""


@register(
    "q94_minhash_quality",
    "dedup: sketch quality — MinHash-estimated vs exact Jaccard per candidate",
    _q94_oracle(),
)
def q94(spark, sf):
    # The calibration query behind every MinHash threshold choice: for
    # each LSH candidate pair, the signature-agreement estimate next to
    # the exact shingle Jaccard. Signatures and shingle sets are staged
    # projections (computed once per doc, checkpointed band table feeds
    # the pair join); the per-pair math is array intersect/union on
    # already-distinct shingle arrays. At scale the pair set is LSH-
    # bounded, so the exact refine touches candidates only — never n².
    from ipes_data_pipeline_spark.functions.text import (
        minhash_slice,
        shingle_hashes,
        shingles,
        tokens,
    )
    from ipes_data_pipeline_spark.operators.dedup_minhash import minhash_lsh_pairs
    from ipes_data_pipeline_spark.operators.util import spread

    docs = t(spark, sf, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=8, band_size=2, hash_fn="md5",
        bucket_cap=None,
    )
    sh_df = (
        spread(docs)
        .select(F.col("doc_id").alias("id"), tokens(F.col("text")).alias("toks"))
        .select("id", shingles(F.col("toks"), 3).alias("sh"))
    )
    side = sh_df.select(
        "id",
        "sh",
        shingle_hashes(F.col("sh"), "0").alias("h0"),
        shingle_hashes(F.col("sh"), "1").alias("h1"),
    ).select(
        "id",
        "sh",
        *[minhash_slice(F.col(f"h{i // 4}"), i % 4).alias(f"mh{i}") for i in range(8)],
    )
    a = side.alias("a")
    b = side.alias("b")
    est = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(8)
    )
    exact = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast(
        "double"
    ) / F.size(F.array_union(F.col("a.sh"), F.col("b.sh"))).cast("double")
    return (
        pairs.join(a, pairs.id_a == F.col("a.id"))
        .join(b, pairs.id_b == F.col("b.id"))
        .select(
            "id_a",
            "id_b",
            (est.cast("double") / F.lit(8.0)).alias("est_jaccard"),
            exact.alias("exact_jaccard"),
        )
    )


# ----------------------------------------------- explicit grouping sets


@register(
    "q95_grouping_sets",
    "E-family: GROUPING SETS with grouping() indicator columns",
    f"""SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
              CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
              COUNT(*) AS n,
              {{dsum}} AS total
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".format(
        dsum="CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)"
    ),
)
def q95(spark, sf):
    # Arbitrary grouping sets (not the rollup/cube lattices q34/q58
    # already declare): each attribute's marginal plus the grand total in
    # ONE pass — Spark expands the sets and aggregates once; grouping()
    # disambiguates a NULL group value from a rolled-up dimension.
    t(spark, sf, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )
