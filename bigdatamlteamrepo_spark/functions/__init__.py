"""Expression-level function library (JVM-side, codegen-friendly).

Everything here returns ``pyspark.sql.Column`` built from built-in
functions — no Python UDFs — so whole plans stay inside whole-stage
codegen (SURVEY.md §4).
"""

from bigdatamlteamrepo_spark.functions.numeric import dsum, davg, dsum_expr, davg_expr
from bigdatamlteamrepo_spark.functions.text import (
    tokenize,
    shingles,
)
from bigdatamlteamrepo_spark.functions.vectors import dot, l2_norm, cosine_similarity
from bigdatamlteamrepo_spark.functions.arrays import (
    lower_array,
    has_any_keyword,
    first_match_category,
    multi_hot_columns,
)

__all__ = [
    "dsum",
    "davg",
    "dsum_expr",
    "davg_expr",
    "tokenize",
    "shingles",
    "dot",
    "l2_norm",
    "cosine_similarity",
    "lower_array",
    "has_any_keyword",
    "first_match_category",
    "multi_hot_columns",
]
