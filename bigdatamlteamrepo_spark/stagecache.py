"""Stub of the removed session stage cache.

The engine no longer caches query prefixes across queries: every query
face runs its one plan.  The repo benchmark (``perfbench/run.py``)
still calls :func:`enabled` and :func:`build_secs` to check that no
cache ran; these two functions stay only until the next benchmark
change drops those calls.  No engine module imports this one.
"""

from __future__ import annotations


def enabled() -> bool:
    return False


def build_secs() -> dict[tuple, float]:
    return {}
