"""Typed layer contracts for the medallion pipeline.

The reference keeps everything stringly-typed in CSV/JSON and validates
only at one boundary with Pydantic (reference ``code/schemas.py:5-29``,
``code/structure_data.py:263-271``). Here every layer boundary has an
explicit StructType; multi-valued fields are real arrays end-to-end
(the reference's `"; "`-joined strings corrupt values — SURVEY §2.3.4),
and dates are DateType, not strings.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- bronze: nested ingest record (reference fetch.py:112-170) --------------

RAW_FILING_NESTED = T.StructType(
    [
        T.StructField("id_submission", T.StringType(), False),
        T.StructField("date_received", T.StringType(), True),  # ISO ts string
        T.StructField("date_disseminated", T.StringType(), True),
        T.StructField(
            "submissiontype",
            T.StructType([T.StructField("description", T.StringType(), True)]),
            True,
        ),
        T.StructField(
            "filingstatus",
            T.StructType([T.StructField("description", T.StringType(), True)]),
            True,
        ),
        T.StructField(
            "proceedings",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType(), True),
                        T.StructField("description", T.StringType(), True),
                        T.StructField("bureau_name", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "filers",
            T.ArrayType(T.StructType([T.StructField("name", T.StringType(), True)])),
            True,
        ),
        T.StructField(
            "authors",
            T.ArrayType(T.StructType([T.StructField("name", T.StringType(), True)])),
            True,
        ),
        T.StructField(
            "lawfirms",
            T.ArrayType(T.StructType([T.StructField("name", T.StringType(), True)])),
            True,
        ),
        T.StructField(
            "documents",
            T.ArrayType(T.StructType([T.StructField("src", T.StringType(), True)])),
            True,
        ),
    ]
)

# --- bronze flat: contract of the flatten step (reference fetch.py:178-191) --
# Arrays stay arrays (divergence from the reference's "; "-joins, by design).

RAW_FILING_FLAT = T.StructType(
    [
        T.StructField("submission_id", T.StringType(), False),
        T.StructField("company_name", T.StringType(), True),
        T.StructField("date_received", T.DateType(), True),
        T.StructField("submission_type", T.StringType(), True),
        T.StructField("docket_numbers", T.ArrayType(T.StringType()), True),
        T.StructField("proceeding_description", T.StringType(), True),
        T.StructField("bureaus", T.ArrayType(T.StringType()), True),
        T.StructField("filing_status", T.StringType(), True),
        T.StructField("contact_attorneys", T.ArrayType(T.StringType()), True),
        T.StructField("law_firms", T.ArrayType(T.StringType()), True),
        T.StructField("document_urls", T.ArrayType(T.StringType()), True),
        T.StructField("detail_url", T.StringType(), True),
    ]
)

# --- silver: star schema (reference structure_data.py:343-378) ---------------

COMPANY_DIM = T.StructType(
    [
        T.StructField("id", T.StringType(), False),  # sha2(normalized_name)
        T.StructField("entity_name", T.StringType(), False),
        T.StructField("normalized_name", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),  # Company|Individual
        T.StructField("filing_count", T.IntegerType(), False),  # CHECK >= 0
        T.StructField("latest_filing_date", T.DateType(), True),
    ]
)

FILING_FACT = T.StructType(
    [
        T.StructField("company_id", T.StringType(), False),  # FK -> COMPANY_DIM.id
        T.StructField("filing_id", T.StringType(), False),
        T.StructField("date_received", T.DateType(), True),
        T.StructField("docket_number", T.StringType(), True),
        T.StructField("submission_type", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("primary_doc_url", T.StringType(), True),
    ]
)

# --- gold: enrichment (reference enrich_data.py:215-235) ---------------------

ENRICHMENT = T.StructType(
    [
        T.StructField("is_active", T.BooleanType(), True),
        T.StructField("activity_signal", T.StringType(), True),
        T.StructField("industry_segment", T.StringType(), True),
        T.StructField("product_summary", T.StringType(), True),
        T.StructField("market_position", T.StringType(), True),
    ]
)

#: the gold table: company identity + count, then the enrichment fields
GOLD = T.StructType(
    [COMPANY_DIM[c] for c in ("id", "entity_name", "filing_count")]
    + ENRICHMENT.fields
)

INDUSTRY_SEGMENTS = [
    "UCaaS", "CCaaS", "CPaaS", "Carrier", "Reseller", "Enterprise IT",
    "Healthcare", "Financial Services", "Government", "Consulting/Legal",
    "Unknown",
]  # closed enum, reference enrich_data.py:71

MARKET_POSITIONS = ["Enterprise", "Mid-Market", "SMB", "Startup", "Unknown"]
# closed enum, reference enrich_data.py:75

ENRICHMENT_CACHE = T.StructType(
    [T.StructField("normalized_name", T.StringType(), False)] + ENRICHMENT.fields
)

# --- testdata tables: the star schema and corpora every query loads ----------
# Declared, never inferred: an inferring read launches one Spark job per
# load to merge parquet footers. Each schema is exactly what Spark infers
# from the testdata files (names, types, order; parquet columns read back
# nullable), and a test holds them equal. ``events.ts`` is declared in
# its micros encoding; the loader swaps in the nanos encoding when the
# file footer says so (``queries.events_schema``).

_I, _L, _D, _S = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()
_TS = T.TimestampNTZType()


def _table(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, dt, True) for n, dt in cols])


TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _table(("r_regionkey", _I), ("r_name", _S)),
    "nation": _table(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "customer": _table(
        ("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I),
        ("c_acctbal", _D), ("c_mktsegment", _S),
    ),
    "supplier": _table(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D)
    ),
    "part": _table(
        ("p_partkey", _L), ("p_name", _S), ("p_brand", _S), ("p_type", _S),
        ("p_size", _I), ("p_retailprice", _D),
    ),
    "orders": _table(
        ("o_orderkey", _L), ("o_custkey", _L), ("o_orderstatus", _S),
        ("o_totalprice", _D), ("o_orderdate", _TS), ("o_orderpriority", _S),
    ),
    "lineitem": _table(
        ("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
        ("l_linenumber", _I), ("l_quantity", _D), ("l_extendedprice", _D),
        ("l_discount", _D), ("l_tax", _D), ("l_returnflag", _S),
        ("l_linestatus", _S), ("l_shipdate", _TS),
    ),
    "events": _table(
        ("event_id", _L), ("ts", _TS), ("user_id", _L), ("event_type", _S),
        ("value", _D), ("props", _S),
    ),
    "documents": _table(
        ("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S), ("n_chars", _L)
    ),
    "embeddings": _table(
        ("vec_id", _L), ("embedding", T.ArrayType(T.FloatType())), ("label", _I)
    ),
}
