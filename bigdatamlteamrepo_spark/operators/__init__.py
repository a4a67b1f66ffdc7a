"""Operator library: sampling/balancing, dedup, similarity, as-of join,
bucketing, skew mitigation."""

from bigdatamlteamrepo_spark.operators.asof import asof_join
from bigdatamlteamrepo_spark.operators.bucketing import (
    bucket_star_tables,
    bucketed_order_revenue,
    write_bucketed,
)
from bigdatamlteamrepo_spark.operators.dedup import (
    embedding_neardup_pairs,
    simhash_fingerprints,
    simhash_neardup_pairs,
)
from bigdatamlteamrepo_spark.operators.sampling import (
    class_weights,
    random_split,
    sample_exact_n,
    train_val_test_split,
    undersample_to_balance,
)
from bigdatamlteamrepo_spark.operators.similarity import rp_lsh_topk
from bigdatamlteamrepo_spark.operators.skew import salted_join

__all__ = [
    "asof_join",
    "bucket_star_tables",
    "bucketed_order_revenue",
    "write_bucketed",
    "embedding_neardup_pairs",
    "simhash_fingerprints",
    "simhash_neardup_pairs",
    "class_weights",
    "random_split",
    "sample_exact_n",
    "train_val_test_split",
    "undersample_to_balance",
    "rp_lsh_topk",
    "salted_join",
]
