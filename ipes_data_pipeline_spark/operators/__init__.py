"""Operator library: reusable, scale-aware DataFrame transformations."""

from ipes_data_pipeline_spark.operators.classify import (  # noqa: F401
    entity_type,
    is_applicant_filing,
    is_excluded_entity,
    is_individual,
)
from ipes_data_pipeline_spark.operators.dedup_fuzzy import (  # noqa: F401
    dedupe_fuzzy,
    min_label_components,
)
from ipes_data_pipeline_spark.operators.dedup_minhash import (  # noqa: F401
    dedupe_exact_text,
    minhash_bands,
    minhash_lsh_pairs,
    minhash_lsh_pairs_delta,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    simhash_signatures,
)
from ipes_data_pipeline_spark.operators.enrich import (  # noqa: F401
    DeterministicMockBackend,
    enrich_misses,
    enrich_with_cache,
)
from ipes_data_pipeline_spark.operators.multimodal import (  # noqa: F401
    extract_features,
    frame_sample_plan,
    media_metadata,
)
from ipes_data_pipeline_spark.operators.normalize import (  # noqa: F401
    deterministic_key,
    normalize_name,
    sanitize_filename,
)
from ipes_data_pipeline_spark.operators.diff import snapshot_diff  # noqa: F401
from ipes_data_pipeline_spark.operators.sessionize import (  # noqa: F401
    asof_join_latest,
    sessionize,
)
from ipes_data_pipeline_spark.operators.similarity import (  # noqa: F401
    ann_topk_bruteforce,
    ann_topk_ivf,
    ann_topk_ivf_kmeans_lloyd,
    cosine_topk_pairs_lsh,
    ivfpq_topk,
    knn_graph,
    knn_graph_bucketed,
    semdedup,
)
from ipes_data_pipeline_spark.operators.graph import pagerank  # noqa: F401
from ipes_data_pipeline_spark.operators.prefix import (  # noqa: F401
    grouped_running_sum,
)
from ipes_data_pipeline_spark.operators.layout import zorder_by  # noqa: F401
from ipes_data_pipeline_spark.operators.rangejoin import (  # noqa: F401
    bucketed_range_join,
    range_count,
)
from ipes_data_pipeline_spark.operators.topk import grouped_topk  # noqa: F401
from ipes_data_pipeline_spark.operators.upsert import (  # noqa: F401
    scd2_merge,
    upsert_partitioned,
)
from ipes_data_pipeline_spark.operators.skew import (  # noqa: F401
    salted_broadcast_join,
    salted_count,
    salted_sum,
)
from ipes_data_pipeline_spark.operators.util import spread  # noqa: F401
from ipes_data_pipeline_spark.operators.validate import (  # noqa: F401
    validate,
    validation_report,
)
