"""Output checks, run outside the timed region.

Query outputs are compared the way the DuckDB oracle parity is judged:
row count, column names (sorted) and an order-insensitive hash of the
normalized values.  Corpus builds are checked for a repeatable report
and shard content, a non-increasing funnel, shard rows that sum to the
selected count and no two shipped documents with the same
``(lang, md5(text))``.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import hashlib
import math
import os

FUNNEL = ["n_input", "n_gopher", "n_exact", "n_neardup", "n_decontam", "n_selected"]


def _norm(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9) + 0.0
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v.normalize()))
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in sorted(v.items()))
    if hasattr(v, "asDict"):  # nested Row
        return _norm(v.asDict())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def result_digest(columns: list[str], rows) -> tuple[int, tuple[str, ...], str]:
    """``(row count, sorted column names, value hash)`` of a result;
    the hash ignores row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.md5("\n".join(normed).encode()).hexdigest()
    return len(normed), tuple(sorted(columns)), h


def oracle_digests(sf_dir: str, tables: list[str], sql: dict[str, str]) -> dict:
    """Digest of each DuckDB oracle query over the parquet tables of
    ``sf_dir``; a query that raises maps to its error text."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, q in sql.items():
            try:
                rel = con.execute(q)
                cols = [d[0] for d in rel.description]
                out[name] = result_digest(cols, rel.fetchall())
            except duckdb.Error as ex:
                out[name] = f"oracle error: {ex}"
        return out
    finally:
        con.close()


def shard_summary(out_dir: str) -> dict:
    """Files, bytes, rows and content hash of the written shards, plus
    the ``(lang, md5(text))`` keys that occur more than once."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(out_dir, "shard=*", "*.parquet")))
    rows = []
    for path in files:
        shard = os.path.basename(os.path.dirname(path))
        t = pq.read_table(path, columns=["doc_id", "lang", "text"])
        for doc_id, lang, text in zip(
            t["doc_id"].to_pylist(), t["lang"].to_pylist(), t["text"].to_pylist()
        ):
            rows.append((shard, doc_id, lang, hashlib.md5(text.encode()).hexdigest()))
    rows.sort()
    keys: dict[tuple, int] = {}
    for _, _, lang, h in rows:
        keys[(lang, h)] = keys.get((lang, h), 0) + 1
    return {
        "files": len(files),
        "bytes": sum(os.path.getsize(p) for p in files),
        "rows": len(rows),
        "hash": hashlib.md5(repr(rows).encode()).hexdigest(),
        "dup_keys": sorted(k for k, c in keys.items() if c > 1),
    }


def corpus_problems(report: list[dict], shards: dict, expected: dict | None) -> list[str]:
    """What is wrong with one corpus build's report and shards."""
    problems = []
    for r in report:
        counts = [r[c] for c in FUNNEL]
        if any(a < b for a, b in zip(counts, counts[1:])):
            problems.append(f"funnel increases for {r['source']}: {counts}")
    totals = {c: sum(r[c] for r in report) for c in FUNNEL}
    if shards["rows"] != totals["n_selected"]:
        problems.append(
            f"shards hold {shards['rows']} rows, report selects {totals['n_selected']}"
        )
    if shards["dup_keys"]:
        problems.append(f"{len(shards['dup_keys'])} (lang, md5(text)) keys shipped twice")
    for key, want in (expected or {}).items():
        got = shards["hash"] if key == "shard_hash" else totals[key]
        if got != want:
            problems.append(f"{key} = {got}, expected {want}")
    return problems
