"""SURVEY.md §2.2 Q01–Q40: the relational core, each with a DuckDB oracle.

Operator families cite the reference implementation they re-express
(e.g. C1 relevance filter = ``code/structure_data.py:136-146``); the
queries themselves run on the driver's TPC-H-ish testdata.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ipes_data_pipeline_spark.operators.dedup_fuzzy import dedupe_fuzzy
from ipes_data_pipeline_spark.operators.util import spread
from ipes_data_pipeline_spark.queries import (
    davg,
    dec,
    dsum,
    register,
    sql_davg,
    sql_dsum,
    t,
)

# --------------------------------------------------------------- A/B: scans & projections


@register(
    "q01_scan_project",
    "A6/B2 scan+project",
    "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
)
def q01(spark, sf):
    return t(spark, sf, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")


@register(
    "q02_filter_eq",
    "C1 equality filter",
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
)
def q02(spark, sf):
    return (
        t(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "q03_filter_range",
    "C1 range+AND filter",
    """SELECT l_orderkey, l_linenumber, l_shipdate, l_discount, l_extendedprice
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07""",
)
def q03(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "l_discount", "l_extendedprice")


@register(
    "q04_like_contains",
    "C1 LIKE-contains",
    "SELECT p_partkey, p_name FROM part WHERE lower(p_name) LIKE '%widget%'",
)
def q04(spark, sf):
    return (
        t(spark, sf, "part")
        .filter(F.lower(F.col("p_name")).contains("widget"))
        .select("p_partkey", "p_name")
    )


@register(
    "q05_rlike_anti",
    "C2 regex anti-filter",
    "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE NOT regexp_matches(c_mktsegment, 'FURN|MACH')",
)
def q05(spark, sf):
    return (
        t(spark, sf, "customer")
        .filter(~F.col("c_mktsegment").rlike("FURN|MACH"))
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@register(
    "q06_in_list",
    "C3/C5 IN-list + AND",
    """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
       WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_totalprice > 1000""",
)
def q06(spark, sf):
    return (
        t(spark, sf, "orders")
        .filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_totalprice") > 1000)
        )
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


@register(
    "q07_null_handling",
    "B1 null-safe access / null-skipping count",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
              CAST(COUNT(NULLIF(event_type, 'error')) AS BIGINT) AS n_not_error,
              CAST(SUM(CASE WHEN NULLIF(event_type, 'error') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_error
       FROM events""",
)
def q07(spark, sf):
    ev = t(spark, sf, "events").withColumn(
        "masked", F.nullif(F.col("event_type"), F.lit("error"))
    )
    return ev.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("masked").alias("n_not_error"),
        F.sum(F.when(F.col("masked").isNull(), 1).otherwise(0)).alias("n_error"),
    )


@register(
    "q08_normalize_string",
    "D1–D3 casefold/trim/regex normalize (ref structure_data.py:71-85)",
    """SELECT c_custkey,
              trim(regexp_replace(regexp_replace(lower(trim(c_name)), '[^\\w\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_name
       FROM customer""",
)
def q08(spark, sf):
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.trim(F.col("c_name"))), r"[^\w\s]", " "),
            r"\s+",
            " ",
        )
    )
    return t(spark, sf, "customer").select("c_custkey", norm.alias("norm_name"))


@register(
    "q09_split_join_element",
    "D5/D6/B5 split / array_join / element_at",
    """SELECT p_partkey,
              string_split(p_name, ' ')[1] AS first_tok,
              array_to_string(string_split(p_name, ' '), ';') AS joined
       FROM part""",
)
def q09(spark, sf):
    toks = F.split(F.col("p_name"), " ")
    return t(spark, sf, "part").select(
        "p_partkey",
        F.element_at(toks, 1).alias("first_tok"),
        F.array_join(toks, ";").alias("joined"),
    )


@register(
    "q10_substr_concat",
    "B3/B4 substring / computed column",
    """SELECT n_nationkey, concat('N-', n_name) AS tagged, substr(n_name, 1, 3) AS prefix3
       FROM nation""",
)
def q10(spark, sf):
    return t(spark, sf, "nation").select(
        "n_nationkey",
        F.concat(F.lit("N-"), F.col("n_name")).alias("tagged"),
        F.substring(F.col("n_name"), 1, 3).alias("prefix3"),
    )


@register(
    "q11_deterministic_key",
    "D7 deterministic surrogate key (ref structure_data.py:118-122)",
    "SELECT c_custkey, sha256(lower(trim(c_name))) AS name_key FROM customer",
)
def q11(spark, sf):
    return t(spark, sf, "customer").select(
        "c_custkey", F.sha2(F.lower(F.trim(F.col("c_name"))), 256).alias("name_key")
    )


@register(
    "q12_levenshtein_pairs",
    "D8 similarity predicate (ref structure_data.py:178-186)",
    """SELECT a.n_name AS name_a, b.n_name AS name_b,
              CAST(levenshtein(a.n_name, b.n_name) AS INT) AS dist
       FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
       WHERE levenshtein(a.n_name, b.n_name) <= 4""",
)
def q12(spark, sf):
    n = t(spark, sf, "nation")
    a, b = n.alias("a"), n.alias("b")
    lev = F.levenshtein(F.col("a.n_name"), F.col("b.n_name"))
    return (
        a.join(b, F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .where(lev <= 4)
        .select(
            F.col("a.n_name").alias("name_a"),
            F.col("b.n_name").alias("name_b"),
            lev.alias("dist"),
        )
    )


# --------------------------------------------------------------- E: aggregation


@register(
    "q13_group_count",
    "E1/E3 hash aggregate",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
       FROM lineitem GROUP BY l_returnflag, l_linestatus""",
)
def q13(spark, sf):
    return (
        t(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q14_tpch_q1",
    "E3/E11 multi-aggregate (TPC-H Q1 shape)",
    f"""SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_base_price,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {sql_dsum('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')} AS sum_charge,
               {sql_davg('l_quantity')} AS avg_qty,
               {sql_davg('l_extendedprice')} AS avg_price,
               {sql_davg('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus""",
)
def q14(spark, sf):
    from ipes_data_pipeline_spark.operators.util import spread

    # 7 decimal aggregates over every row: map-side agg is the CPU cost,
    # so spread an under-parallel scan before it (no-op at real scale) —
    # and PROJECT first, so the parallelizing shuffle carries the 7
    # referenced columns instead of the full 16-column row.
    li = spread(
        t(spark, sf, "lineitem").select(
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
        )
    ).filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        dsum(disc_price, "sum_disc_price"),
        dsum(charge, "sum_charge"),
        davg("l_quantity", "avg_qty"),
        davg("l_extendedprice", "avg_price"),
        davg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q15_count_distinct",
    "E10 countDistinct",
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs
       FROM orders GROUP BY o_orderpriority""",
)
def q15(spark, sf):
    return (
        t(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_custs"))
    )


@register(
    "q16_max_by",
    "E4 arg-max representative (ref structure_data.py:217-219)",
    """SELECT o_custkey, arg_max(o_orderdate, o_orderkey) AS date_of_max_order
       FROM orders GROUP BY o_custkey""",
)
def q16(spark, sf):
    # arg key o_orderkey is unique ⇒ deterministic winner in both engines.
    return (
        t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.max_by("o_orderdate", "o_orderkey").alias("date_of_max_order"))
    )


@register(
    "q17_bool_any",
    "E6 boolean ANY aggregate (ref structure_data.py:223)",
    """SELECT o_custkey, MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS has_final
       FROM orders GROUP BY o_custkey""",
)
def q17(spark, sf):
    return (
        t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
                "has_final"
            )
        )
    )


@register(
    "q18_collect_set_sorted",
    "E7 collect_set + array_sort (ref enrich_data.py:170-173)",
    """SELECT l_orderkey, array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS flags
       FROM lineitem GROUP BY l_orderkey""",
)
def q18(spark, sf):
    # String-joined at the edge: the driver's comparator cannot hash
    # array cells (pandas sort_values). collect_set/array_sort still run.
    return (
        t(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("l_returnflag")), ","
            ).alias("flags")
        )
    )


@register(
    "q19_mode_per_group",
    "E9 mode with deterministic tie-break",
    """WITH counted AS (
         SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                row_number() OVER (PARTITION BY o_orderstatus ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
         FROM orders GROUP BY o_orderstatus, o_orderpriority)
       SELECT o_orderstatus, o_orderpriority AS mode_priority FROM counted WHERE rn = 1""",
)
def q19(spark, sf):
    counted = (
        t(spark, sf, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("n"), F.asc("o_orderpriority"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )


@register(
    "q20_time_bucket",
    "E12 calendar tumbling bucket (ref Data_Insights.py:63-66)",
    """SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n
       FROM orders GROUP BY 1""",
)
def q20(spark, sf):
    return (
        t(spark, sf, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q21_value_counts_topk",
    "E8/G3 value_counts + top-k",
    """SELECT p_brand, COUNT(*) AS n FROM part
       GROUP BY p_brand ORDER BY n DESC, p_brand LIMIT 5""",
)
def q21(spark, sf):
    return (
        t(spark, sf, "part")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("p_brand"))
        .limit(5)
    )


@register(
    "q22_having",
    "C5 filter on aggregate (HAVING)",
    """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
       GROUP BY o_custkey HAVING COUNT(*) >= 10""",
)
def q22(spark, sf):
    return (
        t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 10)
    )


# --------------------------------------------------------------- F: joins & set ops


@register(
    "q23_inner_join_agg",
    "F1 fact⋈dim inner join (ref Data_Insights.py:25-32)",
    f"""SELECT c.c_mktsegment, COUNT(*) AS n_orders, {sql_dsum('o.o_totalprice')} AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment""",
)
def q23(spark, sf):
    o, c = t(spark, sf, "orders"), t(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue"))
    )


@register(
    "q24_broadcast_join",
    "F1 broadcast dim join (plan: BroadcastHashJoin, asserted in tests)",
    f"""SELECT p.p_brand, COUNT(*) AS n_lines, {sql_dsum('l.l_extendedprice')} AS total_price
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand""",
)
def q24(spark, sf):
    li, p = t(spark, sf, "lineitem"), t(spark, sf, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum("l_extendedprice", "total_price"))
    )


@register(
    "q25_star_join",
    "F1 multi-way star join (TPC-H Q5 shape)",
    f"""SELECT n.n_name, {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n.n_name""",
)
def q25(spark, sf):
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf, "lineitem")
    s, n, r = (t(spark, sf, x) for x in ("supplier", "nation", "region"))
    joined = (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("n_name").agg(dsum(rev, "revenue"))


@register(
    "q26_left_join_nullside",
    "F5 left outer join + null-side agg",
    """SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders, MAX(o.o_orderdate) AS last_order
       FROM customer c LEFT JOIN orders o
         ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
       GROUP BY c.c_custkey""",
)
def q26(spark, sf):
    c, o = t(spark, sf, "customer"), t(spark, sf, "orders")
    return (
        c.join(o, (o.o_custkey == c.c_custkey) & (o.o_orderstatus == "P"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


@register(
    "q27_semi_join",
    "F5 left-semi join (EXISTS)",
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""",
)
def q27(spark, sf):
    c, o = t(spark, sf, "customer"), t(spark, sf, "orders")
    return c.join(
        o.filter(F.col("o_orderstatus") == "P"),
        c.c_custkey == o.o_custkey,
        "left_semi",
    ).select("c_custkey", "c_name")


@register(
    "q28_anti_join",
    "A9 left-anti join (resume/miss detection, ref download_pdfs_robust.py:268)",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""",
)
def q28(spark, sf):
    c, o = t(spark, sf, "customer"), t(spark, sf, "orders")
    return c.join(
        o.filter(F.col("o_orderstatus") == "P"),
        c.c_custkey == o.o_custkey,
        "left_anti",
    ).select("c_custkey", "c_name")


@register(
    "q29_drop_duplicates",
    "F3 exact dedup (ref fetch.py:292-299)",
    "SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem",
)
def q29(spark, sf):
    return t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey").dropDuplicates()


_Q167_HOST = "https://example.org"  # synthetic; no fetch happens
_PDF_MAGIC = "%PDF-"
_ZIP_MAGIC = "PK" + chr(3) + chr(4)
_OLE_MAGIC = "".join(map(chr, (0xD0, 0xCF, 0x11, 0xE0)))  # latin-1 of OLE2


def _q167_oracle() -> str:
    """The A8/A9 relational skeleton in ANSI SQL: rebuild the queue and
    prior-run manifest from ``documents``, anti-join (resume), classify
    each pending row's deterministic payload prefix with the SAME
    startswith magic rules as sniff_extension, roll up per extension.
    chr() builds the control-character magics DuckDB can't take as
    literals; latin-1 codepoints mirror sniff_extension_col exactly.
    The synthetic payload is the magic prefix + the UTF-32 body of the
    text (4 bytes/char), so n_bytes = length(prefix) + 4*n_chars spans
    192-2212 on the testdata — both sides of the 1000-byte validity
    gate and a non-empty resume anti-join actually fire at every sf."""
    zip_m = "'PK' || chr(3) || chr(4)"
    ole_m = "chr(208) || chr(207) || chr(17) || chr(224)"
    return f"""
WITH queue AS (
  SELECT regexp_replace('{_Q167_HOST}/document/' || CAST(doc_id AS VARCHAR),
                        '/document/', '/documents/') AS url,
         doc_id, n_chars
  FROM documents),
done AS (
  SELECT '{_Q167_HOST}/documents/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id % 3 = 0 AND 4 * n_chars >= 1000),
pending AS (
  SELECT q.doc_id, q.n_chars,
         CASE WHEN q.doc_id % 5 = 0 THEN '{_PDF_MAGIC}'
              WHEN q.doc_id % 5 = 1 THEN {zip_m}
              WHEN q.doc_id % 5 = 2 THEN {ole_m}
              ELSE '' END AS prefix,
         q.doc_id % 5 = 4 AS failed
  FROM queue q WHERE NOT EXISTS (SELECT 1 FROM done d WHERE d.url = q.url)),
fetched AS (
  SELECT CASE WHEN failed THEN 'error:Timeout'
              WHEN starts_with(prefix, '%PDF') THEN 'pdf'
              WHEN starts_with(prefix, 'PK') THEN 'docx'
              WHEN starts_with(prefix, {ole_m}) THEN 'doc'
              ELSE 'bin' END AS content_type,
         CASE WHEN failed THEN 0
              ELSE length(prefix) + 4 * n_chars END AS n_bytes,
         NOT failed AND (length(prefix) + 4 * n_chars) >= 1000 AS ok
  FROM pending)
SELECT content_type, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
FROM fetched GROUP BY content_type ORDER BY content_type"""


@register(
    "q167_download_manifest_rollup",
    "A8/A9 binary-sink relational skeleton (ref download_pdfs_robust.py:"
    "82-121,268): queue rebuilt from documents, /document/->/documents/ "
    "URL rewrite, resume anti-join against the prior-run manifest "
    "(pending_work, the A9 op), magic-byte extension sniff on a "
    "deterministic payload prefix (sniff_extension_col, the column twin "
    "of the sink's byte sniffer), >=1000-byte validity gate, rollup per "
    "sniffed extension — the gate entry for the last pytest-only family",
    _q167_oracle(),
)
def q167(spark, sf):
    from ipes_data_pipeline_spark.sources.binary_sink import (
        MIN_VALID_BYTES,
        pending_work,
        rewrite_doc_url,
        sniff_extension_col,
    )

    docs = t(spark, sf, "documents")
    queue = docs.select(
        rewrite_doc_url(
            F.concat(
                F.lit(f"{_Q167_HOST}/document/"),
                F.col("doc_id").cast("string"),
            )
        ).alias("url"),
        "doc_id",
        "n_chars",
    )
    # prior-run manifest: every third doc already fetched with a UTF-32
    # body (4 bytes/char) — pending_work drops only the ok ones over the
    # size gate, so the anti-join removes a real, sf-stable fraction
    manifest = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(
            F.lit(f"{_Q167_HOST}/documents/"), F.col("doc_id").cast("string")
        ).alias("url"),
        (4 * F.col("n_chars")).alias("n_bytes"),
        (4 * F.col("n_chars") >= MIN_VALID_BYTES).alias("ok"),
    )
    pending = pending_work(queue, manifest)
    cls = F.pmod(F.col("doc_id"), F.lit(5))
    prefix = (
        F.when(cls == 0, F.lit(_PDF_MAGIC))
        .when(cls == 1, F.lit(_ZIP_MAGIC))
        .when(cls == 2, F.lit(_OLE_MAGIC))
        .otherwise(F.lit(""))
    )
    fetched = pending.select(
        F.when(cls == 4, F.lit("error:Timeout"))
        .otherwise(sniff_extension_col(prefix))
        .alias("content_type"),
        F.when(cls == 4, F.lit(0))
        .otherwise(F.length(prefix) + 4 * F.col("n_chars"))
        .cast("long")
        .alias("n_bytes"),
        (
            (cls != 4)
            & ((F.length(prefix) + 4 * F.col("n_chars")) >= MIN_VALID_BYTES)
        ).alias("ok"),
    )
    return (
        fetched.groupBy("content_type")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("ok").cast("int")).cast("bigint").alias("n_ok"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        )
        .orderBy("content_type")
    )


@register(
    "q30_union_distinct",
    "A3/F3 union + distinct (ref fetch.py:276-301)",
    """SELECT DISTINCT o_custkey FROM (
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""",
)
def q30(spark, sf):
    o = t(spark, sf, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .union(o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"))
        .distinct()
    )


@register(
    "q31_intersect",
    "set op INTERSECT",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
)
def q31(spark, sf):
    o = t(spark, sf, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .intersect(o.filter(F.col("o_orderstatus") == "O").select("o_custkey"))
    )


@register(
    "q31b_except",
    "set op EXCEPT (distinct)",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
       EXCEPT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""",
)
def q31b(spark, sf):
    o = t(spark, sf, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .subtract(o.filter(F.col("o_orderstatus") == "P").select("o_custkey"))
    )


# --------------------------------------------------------------- G: windows, sort, top-k


@register(
    "q32_window_rownumber",
    "G1/G6 latest-per-group window (ref structure_data.py:244)",
    """SELECT o_custkey, o_orderkey, o_orderdate FROM (
         SELECT o_custkey, o_orderkey, o_orderdate,
                row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         FROM orders) WHERE rn = 1""",
)
def q32(spark, sf):
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


@register(
    "q33_window_rank_lag_running",
    "G window: rank / lag / running sum",
    """SELECT o_custkey, o_orderkey,
              CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS BIGINT) AS rnk,
              lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
       FROM orders""",
)
def q33(spark, sf):
    wd = W.partitionBy("o_custkey").orderBy("o_orderdate")
    wdk = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = wdk.rowsBetween(W.unboundedPreceding, W.currentRow)
    return t(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(wd).cast("long").alias("rnk"),
        F.lag("o_totalprice").over(wdk).alias("prev_price"),
        F.sum(dec("o_totalprice")).over(wrun).cast("double").alias("running_total"),
    )


@register(
    "q34_rollup",
    "grouping sets / rollup",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
       FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
)
def q34(spark, sf):
    return (
        t(spark, sf, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q35_nest_unnest_roundtrip",
    "E2/F2 collect_list(struct) → explode round-trip (ref structure_data.py:226-241,354-364)",
    "SELECT o_custkey, o_orderdate, o_orderkey FROM orders",
)
def q35(spark, sf):
    nested = (
        t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(
            F.array_sort(F.collect_list(F.struct("o_orderdate", "o_orderkey"))).alias(
                "orders_nested"
            )
        )
    )
    return nested.select(
        "o_custkey", F.explode("orders_nested").alias("o")
    ).select("o_custkey", F.col("o.o_orderdate").alias("o_orderdate"), F.col("o.o_orderkey").alias("o_orderkey"))


@register(
    "q36_conditional_validity",
    "C4/H4 when/otherwise validity split (ref structure_data.py:263-271)",
    """SELECT l_returnflag,
              CAST(SUM(CASE WHEN l_quantity >= 0 AND l_discount BETWEEN 0 AND 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
              CAST(SUM(CASE WHEN l_quantity >= 0 AND l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid,
              CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk
       FROM lineitem GROUP BY l_returnflag""",
)
def q36(spark, sf):
    valid = (F.col("l_quantity") >= 0) & F.col("l_discount").between(0, 1)
    return (
        t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(valid, 1).otherwise(0)).alias("n_valid"),
            F.sum(F.when(valid, 0).otherwise(1)).alias("n_invalid"),
            F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0)).alias("n_bulk"),
        )
    )


@register(
    "q37_global_topk",
    "G3 global top-k with tie-break",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def q37(spark, sf):
    return (
        t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "q38_date_functions",
    "E5/E12 date functions + null-on-failure coercion (ref Data_Insights.py:36)",
    """SELECT o_orderkey,
              CAST(year(o_orderdate) AS INT) AS yr,
              CAST(month(o_orderdate) AS INT) AS mo,
              CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
              strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS odate,
              strftime(TRY_CAST(o_orderpriority AS DATE), '%Y-%m-%d') AS bad_date
       FROM orders""",
)
def q38(spark, sf):
    return t(spark, sf, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias("odate"),
        F.date_format(F.to_date("o_orderpriority"), "yyyy-MM-dd").alias("bad_date"),
    )


def _q39_oracle(block_cap: int | None = None, n_rounds: int = 3) -> str:
    rounds = "".join(
        f""",
  l{i + 1} AS (
    SELECT e.src AS node, MIN(l.lab) AS lab
    FROM e_self e JOIN l{i} l ON l.node = e.dst
    GROUP BY e.src)"""
        for i in range(n_rounds)
    )
    if block_cap is None:
        pair_src = "c"
        sub_pred = ""
        cap_ctes = ""
    else:
        # The SAME deterministic sub-salt the Spark valve computes
        # (util.sub_salt): md5 of the node id, first 8 hex chars as an
        # unsigned 32-bit int, mod ceil(block_size / cap).
        cap_ctes = f""",
sz AS (SELECT blk, count(*) AS bsz FROM c GROUP BY blk),
cs AS (
  SELECT c.node, c.name, c.blk,
         ('0x' || substr(md5(CAST(c.node AS VARCHAR)), 1, 8))::BIGINT
           % GREATEST(1, CAST(CEIL(bsz / {block_cap}.0) AS BIGINT)) AS sub
  FROM c JOIN sz USING (blk))"""
        pair_src = "cs"
        sub_pred = "AND a.sub = b.sub "
    return f"""
WITH c AS (
  SELECT c_custkey AS node, c_name AS name, substr(c_name, 1, 15) AS blk FROM customer){cap_ctes},
half AS (
  SELECT a.node AS src, b.node AS dst
  FROM {pair_src} a JOIN {pair_src} b ON a.blk = b.blk {sub_pred}AND a.node < b.node
  WHERE levenshtein(a.name, b.name) <= 2),
e0 AS (SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half),
e_self AS (SELECT src, dst FROM e0 UNION ALL SELECT node, node FROM c),
l0 AS (SELECT node, node AS lab FROM c){rounds}
SELECT node AS c_custkey, lab AS canonical_id FROM l{n_rounds}
"""


@register(
    "q39_fuzzy_dedup",
    "F4 blocked fuzzy dedup + connected components (ref structure_data.py:155-211)",
    _q39_oracle(),
)
def q39(spark, sf):
    # Block on the 15-char name prefix (first-token blocking degenerates on
    # this dataset: names contain no whitespace). Within a block, names
    # differ only in their last 3 digits, so every node reaches the block
    # minimum in <= 2 hops (change two digits, then one): the oracle's
    # fixed 3-round unroll equals dedupe_fuzzy's exact components.
    cust = t(spark, sf, "customer")
    return dedupe_fuzzy(
        cust,
        "c_custkey",
        "c_name",
        block_expr=F.substring("c_name", 1, 15),
        max_edits=2,
    )


@register(
    "q39p_fuzzy_dedup_capped",
    "F4 DEPLOYABLE fuzzy dedup — q39's blocked levenshtein + components "
    "with the block_cap=256 skew valve ON (the q42p pattern applied to "
    "the last valve-less near-dup family). Unlike the MinHash valves, "
    "this valve's salt (md5 % ceil(bsz/cap)) is ANSI-SQL-expressible, so "
    "the oracle parameterizes the SAME cap and the value check runs in "
    "the regime where the valve FIRES: the gate corpus's 1000-row name "
    "blocks sub-salt into 4 buckets at sf0.01. Recall is traded only "
    "inside capped blocks — in-block pair work drops from O(b^2) to "
    "O(b*cap)",
    _q39_oracle(block_cap=256, n_rounds=4),
)
def q39p(spark, sf):
    # exact components of the CAPPED edge graph; the oracle unrolls 4
    # rounds (measured fixpoint at gate scales is 3 — one round of
    # margin, trivial at oracle scale)
    cust = t(spark, sf, "customer")
    return dedupe_fuzzy(
        cust,
        "c_custkey",
        "c_name",
        block_expr=F.substring("c_name", 1, 15),
        max_edits=2,
        block_cap=256,
    )


@register(
    "q40_tumbling_window_batch",
    "I2/I3 tumbling window, batch ≡ streaming (ref run_scheduler.py:58-93)",
    f"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, COUNT(*) AS n, {sql_dsum('value')} AS sum_value
        FROM events GROUP BY 1""",
)
def q40(spark, sf):
    return (
        t(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


# --------------------------------- Bloom-filter runtime semi-join pruning


_BF_BITS = 65536  # 2048 words x 32 bits; ~0.1% fp at sf0.1 dim cardinality
_BF_WORDS = _BF_BITS // 32
# 4 independent 32-bit hashes = the four non-overlapping md5 hex slices
_BF_SLICES = (1, 9, 17, 25)


def _bf_positions_sql(h: str) -> str:
    slices = ", ".join(
        f"('0x' || substr({h}, {s}, 8))::BIGINT % {_BF_BITS}" for s in _BF_SLICES
    )
    return f"[{slices}]"


def _q104_oracle() -> str:
    return f"""
WITH dim AS (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v FROM customer
  WHERE c_mktsegment = 'BUILDING'),
dpos AS (
  SELECT unnest({_bf_positions_sql("md5(v)")}) AS p FROM dim),
bloom AS (
  SELECT p // 32 AS word, bit_or((1::BIGINT) << CAST(p % 32 AS INTEGER)) AS mask
  FROM dpos GROUP BY word),
oh AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         md5(CAST(o_custkey AS VARCHAR)) AS h
  FROM orders),
op AS (
  SELECT o_orderkey, o_orderstatus, o_custkey, unnest({_bf_positions_sql("h")}) AS p
  FROM oh),
hits AS (
  SELECT op.o_orderkey, op.o_orderstatus, op.o_custkey,
         CAST(COUNT(b.word) AS BIGINT) AS nhit
  FROM op LEFT JOIN bloom b
    ON b.word = op.p // 32
   AND ((b.mask >> CAST(op.p % 32 AS INTEGER)) & 1) = 1
  GROUP BY op.o_orderkey, op.o_orderstatus, op.o_custkey),
flags AS (
  SELECT o_orderstatus,
         (nhit = 4) AS pass,
         EXISTS (SELECT 1 FROM customer c
                 WHERE c.c_custkey = hits.o_custkey
                   AND c.c_mktsegment = 'BUILDING') AS ex
  FROM hits)
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(SUM(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN pass AND NOT ex THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos
FROM flags GROUP BY o_orderstatus
"""


def _bf_positions(col):
    h = F.md5(col.cast("string"))
    return F.array(
        *[
            F.conv(F.substring(h, s, 8), 16, 10).cast("long") % _BF_BITS
            for s in _BF_SLICES
        ]
    )


@register(
    "q104_bloom_semi_filter",
    "F-family: Bloom-filter runtime semi-join pruning (deterministic md5 bloom)",
    _q104_oracle(),
)
def q104(spark, sf):
    # The runtime-filter pattern behind big-join pruning at 100 TB: build
    # a 65536-bit Bloom filter over the dim keys (one tiny aggregate;
    # registers merge by bit_or, so per-shard blooms roll up), ship it to
    # every probe task as ONE broadcast row holding a 2048-word array,
    # and pre-filter the fact side with pure column math — the fact
    # table never shuffles and non-matching rows die before the real
    # join would run. Spark's own runtime bloom (opaque, engine-private)
    # can't sit behind a cross-engine oracle; this md5 build is
    # bit-reproducible in DuckDB, and the query reports its calibration:
    # n_bloom_pass >= n_exact always (no false negatives), with
    # n_false_pos showing the fp rate at this fill ratio.
    # The filter builds INSIDE the plan, like Spark's own runtime
    # BloomFilterAggregate: explode the 4 bit positions per distinct
    # key, bit_or per word, then fold the words into the one dense row
    # the probe cross-joins. Nothing is collected to the driver at any
    # scale; the exact leg broadcast-joins the distinct dim keys.
    dim = (
        t(spark, sf, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").cast("string").alias("v"))
        .distinct()
    )
    words = (
        dim.select(F.explode(_bf_positions(F.col("v"))).alias("p"))
        .select(
            F.shiftright("p", 5).cast("int").alias("word"),
            (F.col("p") % 32).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(1L, bit))").alias("mask"))
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias("m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_BF_WORDS - 1)),
            lambda w: F.coalesce(F.try_element_at("m", w), F.lit(0).cast("long")),
        ).alias("arr")
    )
    dim_keys = F.broadcast(dim.select(F.col("v").cast("long").alias("c_custkey")))
    # spread: the md5×4 probe math inherits the scan's partitioning and
    # sf0.1 orders is one row-group — one task would hog one core.
    probe = (
        spread(t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderstatus"))
        .crossJoin(F.broadcast(bloom))
        .withColumn("ps", _bf_positions(F.col("o_custkey")))
        .withColumn(
            "pass",
            F.expr(
                "forall(ps, p -> (element_at(arr, cast(shiftright(p, 5) as int) + 1)"
                " & shiftleft(1L, cast(p % 32 as int))) != 0)"
            ),
        )
    )
    exact = probe.join(
        dim_keys,
        probe.o_custkey == F.col("c_custkey"),
        "left_outer",
    ).withColumn("ex", F.col("c_custkey").isNotNull())
    return exact.groupBy("o_orderstatus").agg(
        F.sum(F.col("pass").cast("long")).alias("n_bloom_pass"),
        F.sum(F.col("ex").cast("long")).alias("n_exact"),
        F.sum((F.col("pass") & ~F.col("ex")).cast("long")).alias("n_false_pos"),
    )


@register(
    "q117_cdc_apply",
    "I-family: CDC / MERGE apply — latest-op-wins snapshot with delete "
    "markers (the read-side twin of operators/upsert.upsert_partitioned)",
    """WITH log AS (
         SELECT user_id, ts, event_id, value,
                CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn,
                COUNT(*) OVER (PARTITION BY user_id) AS n_changes
         FROM events)
       SELECT user_id, event_id AS last_event_id, value AS last_value,
              n_changes
       FROM log WHERE rn = 1 AND op = 'U'""",
)
def q117(spark, sf):
    # The MERGE semantics every incremental pipeline needs: a change log
    # keyed by entity, ordered by (ts, event_id), where 'error' rows are
    # delete markers. The surviving snapshot keeps each key's LATEST row
    # iff that row is an upsert — a key whose newest change is a delete
    # vanishes even though older upserts exist. One window over the key:
    # a single shuffle; at 100 TB this is the same plan shape AQE picks
    # for foreachBatch merge (streaming form: medallion.stream_gold_upsert).
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    log = t(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .withColumn("n_changes", F.count(F.lit(1)).over(W.partitionBy("user_id")))
        .where((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
            "n_changes",
        )
    )


@register(
    "q119_grouped_topk",
    "G3-family: grouped top-k with map-side pre-reduction (combiner "
    "before the window shuffle; exchange carries <= k rows/group/partition)",
    """WITH r AS (
         SELECT o_orderpriority, o_orderkey, o_custkey, o_totalprice,
                row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders)
       SELECT o_orderpriority, o_orderkey, o_custkey, o_totalprice
       FROM r WHERE rn <= 5""",
)
def q119(spark, sf):
    from ipes_data_pipeline_spark.operators.topk import grouped_topk

    return grouped_topk(
        t(spark, sf, "orders").select(
            "o_orderpriority", "o_orderkey", "o_custkey", "o_totalprice"
        ),
        group_cols=["o_orderpriority"],
        order_col="o_totalprice",
        k=5,
        tiebreak_col="o_orderkey",
    )
