"""Array-membership labeling expressions — the heart of the reference's
allergen pipeline re-expressed as pure columns.

Reference semantics reproduced here:
  * keyword labeling via ``size(array_intersect(arr, lit(keys))) > 0``
    (MLP.ipynb:c0:26-29) — emitted directly as ``arrays_overlap`` (the
    cleaner equivalent noted in SURVEY.md F2);
  * 5-way first-match-wins CASE chain → category string
    (MLP.ipynb:c5:31-38, and its UDF twin c6:29-37 whose match order is
    dict insertion order — preserved by the ordered dict here);
  * per-category 0/1 multi-hot columns (MLP.ipynb:c7:27-39).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def lower_array(col: Column | str) -> Column:
    """Lowercase every element (MLP.ipynb:c0:23 ``transform(..., lower)``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, F.lower)


def has_any_keyword(arr: Column, keywords: Sequence[str]) -> Column:
    """1/0 label: does the array share any element with ``keywords``?"""
    kw = F.array(*[F.lit(k) for k in keywords])
    return F.when(F.arrays_overlap(arr, kw), F.lit(1)).otherwise(F.lit(0))


def has_any_keyword_substr(arr: Column, keywords: Sequence[str]) -> Column:
    """1/0 label: does ANY array element CONTAIN any keyword as a
    substring?  The labeling mode of real free-form corpora ("2 cups
    whole milk" is a dairy hit) — used by the substring-labeled metric
    fixture, where allergen evidence is embedded in varied composite
    phrases instead of appearing as exact keyword phrases."""
    from functools import reduce

    def any_kw(x: Column) -> Column:
        return reduce(lambda a, b: a | b, [x.contains(k) for k in keywords])

    return F.when(F.exists(arr, any_kw), F.lit(1)).otherwise(F.lit(0))


def first_match_category(
    arr: Column, categories: Mapping[str, Sequence[str]], default: str = "none"
) -> Column:
    """First-match-wins category chain; iteration order of ``categories``
    is the match order (dict insertion order, like the reference UDF)."""
    expr: Column | None = None
    for name, kws in categories.items():
        kw = F.array(*[F.lit(k) for k in kws])
        cond = F.arrays_overlap(arr, kw)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    assert expr is not None, "categories must be non-empty"
    return expr.otherwise(F.lit(default))


def multi_hot_columns(
    arr: Column, categories: Mapping[str, Sequence[str]], prefix: str = "is_"
) -> dict[str, Column]:
    """One 0/1 column per category (``is_{cat}``), MLP.ipynb:c7:27-39."""
    return {f"{prefix}{name}": has_any_keyword(arr, kws) for name, kws in categories.items()}
