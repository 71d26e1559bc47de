"""Relational operators (SURVEY.md §2.4–§2.8) plus the large-scale
training-data extension operators (dedup, similarity, text, multimodal)."""

from telecom_competitor_analysis_spark.operators.asof import asof_join  # noqa: F401
from telecom_competitor_analysis_spark.operators.curate import (  # noqa: F401
    curate_corpus,
    curate_incremental,
    hash_split,
)
from telecom_competitor_analysis_spark.operators.dedup import (  # noqa: F401
    dedup_clusters,
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signature,
    shingle_jaccard_pairs,
    simhash,
)
from telecom_competitor_analysis_spark.operators.merge import (  # noqa: F401
    anti_join_new,
    changed_records,
    first_per_key,
    latest_per_key,
    lookup_join,
    null_safe_diff,
)
from telecom_competitor_analysis_spark.operators.multimodal import (  # noqa: F401
    as_media_table,
    decode_media,
    frame_sample,
)
from telecom_competitor_analysis_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    incremental_topk,
    ivf_topk,
    lsh_bucketed_topk,
)
from telecom_competitor_analysis_spark.operators.skew import salted_join  # noqa: F401
from telecom_competitor_analysis_spark.operators.star import (  # noqa: F401
    pack_cross_join,
    star_split,
)
