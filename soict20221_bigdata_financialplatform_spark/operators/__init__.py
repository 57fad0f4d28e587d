from soict20221_bigdata_financialplatform_spark.operators.serving import (
    latest_n_per_key,
    range_query,
    summary_stats,
)
from soict20221_bigdata_financialplatform_spark.operators.asof import asof_join, range_join
from soict20221_bigdata_financialplatform_spark.operators.corpus import clean_corpus
from soict20221_bigdata_financialplatform_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from soict20221_bigdata_financialplatform_spark.operators.similarity import (
    brute_force_topk_blocked,
    embedding_near_dup_pairs,
    lsh_topk,
)
from soict20221_bigdata_financialplatform_spark.operators.skew import (
    salted_agg_count,
    salted_join,
)
from soict20221_bigdata_financialplatform_spark.operators.multimodal import (
    extract_image_features,
    frame_sample_plan,
    resize_metadata,
)

__all__ = [
    "latest_n_per_key",
    "range_query",
    "summary_stats",
    "asof_join",
    "range_join",
    "clean_corpus",
    "exact_dedup",
    "minhash_near_dup_pairs",
    "ngram_jaccard_pairs",
    "simhash_near_dup_pairs",
    "brute_force_topk_blocked",
    "embedding_near_dup_pairs",
    "lsh_topk",
    "salted_agg_count",
    "salted_join",
    "extract_image_features",
    "frame_sample_plan",
    "resize_metadata",
]
