"""The benchmark's workloads and the layer each operation is charged to.

A query operation is one registered query (``REGISTRY[name].spark``)
plus its sink; a pipeline operation is one ``run_pipeline`` call over a
fresh lake. Every query is charged to the module whose operator it
calls, which names its per-layer counters (``<module>.<counter>``).
"""

from __future__ import annotations

from dataclasses import dataclass

REL = "queries.relational"
TPCH = "queries.tpch_shapes"
WIN = "queries.windows_batch"
FUZZY = "operators.dedup_fuzzy"
MINHASH = "operators.dedup_minhash"
TEXT = "functions.text"
GRAPH = "operators.graph"
SIM = "operators.similarity"

#: scale of the separately generated warm-up tables
WARM_SIZE = 0.01

QUERY_MODULES = (REL, TPCH, WIN, FUZZY, MINHASH, TEXT, GRAPH, SIM)
PIPELINE_STEPS = ("bronze", "silver", "gold")
PIPELINE_MODULES = tuple(f"pipeline.{s}" for s in PIPELINE_STEPS)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: scale of the timed tables (1.0 = the sf0.1 row counts)
    size: float = 0.0
    #: (query-name prefix, module) per operation, in run order
    queries: tuple[tuple[str, str], ...] = ()
    #: queries run once per set-up on the warm-up tables
    warm_queries: tuple[str, ...] = ()
    #: relevant entities planted in the raw filings of the pipeline
    #: operation that ends each pass; 0 = no pipeline operation
    pipeline_entities: int = 0


LAKE = Workload(
    name="lake_analytics",
    why=(
        "sub-second joins, aggregations, top-k and time series over the star "
        "schema: fixed per-query cost dominates; bypasses dedup and ANN"
    ),
    size=0.02,
    queries=(
        ("q01", REL), ("q13", REL), ("q14", REL), ("q23", REL), ("q24", REL),
        ("q25", REL), ("q29", REL), ("q32", WIN), ("q33", WIN), ("q40", WIN),
        ("q41", REL), ("q52", WIN), ("q53", WIN), ("q74", REL), ("q75", REL),
        ("q76", REL), ("q100", WIN), ("q103", REL), ("q104", REL), ("q108", WIN),
        ("q136", REL), ("q141", WIN), ("q143", WIN), ("q149", REL), ("q150", REL),
        ("q151", TPCH), ("q152", TPCH), ("q153", TPCH), ("q154", TPCH),
        ("q155", TPCH), ("q156", TPCH), ("q167", REL),
    ),
    warm_queries=("q25",),
)

CURATION = Workload(
    name="llm_curation",
    why=(
        "dedup, quality and graph queries, then the medallion pipeline over "
        "generated raw filings: compute, shuffle, spill and Parquet writes"
    ),
    size=0.05,
    # q39p and q121p, the capped variants of q39 and q43, are left out:
    # they run the same operators and would add about 11 s to a run
    # (9 s of the pass, 2 s of oracle checks), more than the time budget
    # of a run allows.
    queries=(
        ("q39", FUZZY), ("q42p", MINHASH), ("q43", MINHASH), ("q45", SIM),
        ("q92", GRAPH), ("q130a", SIM), ("q133a", SIM), ("q157", TEXT),
        ("q140", GRAPH), ("q146", TEXT), ("q148", GRAPH),
    ),
    warm_queries=("q157",),
    pipeline_entities=150,
)

RETRIEVAL = Workload(
    name="vector_retrieval",
    why=(
        "ANN, lexical and hybrid retrieval plus RAG assembly: exercises "
        "operators/similarity.py apart from the dedup families"
    ),
    size=0.1,
    queries=(
        ("q46", SIM), ("q114", SIM), ("q134", SIM), ("q159", SIM), ("q160", SIM),
        ("q161", SIM), ("q162p", SIM), ("q163p", SIM), ("q164", SIM),
        ("q166", SIM), ("q168", SIM), ("q169", SIM),
    ),
    warm_queries=("q46",),
)

PIPELINE = Workload(
    name="medallion_pipeline",
    why=(
        "run_pipeline over generated raw filings into a fresh lake: JSON read, "
        "Parquet writes, small-block fuzzy dedup, cached enrichment"
    ),
    pipeline_entities=150,
)

WORKLOADS = {w.name: w for w in (LAKE, CURATION, RETRIEVAL, PIPELINE)}

