"""Seeded synthetic ``documents`` table for the corpus-build workloads.

The recipe is the distribution-matched one the sf1 scaling fixture
uses: the sf0.1 corpus's own closed vocabulary and Zipf word weights,
its empirical words-per-document and language shares, documents
composed from a shared phrase pool sized so repeated 15-token windows
occur at the sf0.1 rate, and exact duplicate documents planted at the
sf0.1 rate.  It is kept here, not imported from ``tools/``, so the
benchmark's inputs cannot change when the tools do.  Unlike the sf1
fixture, the statistics queries order ties explicitly, so the word order
(and with it every generated document) is the same on every run.

Documents are drawn from ``np.random.default_rng(seed)``; phrase ``pid``
is drawn from its own generator seeded from ``seed`` and ``pid``.  The
phrase draw inverts the word CDF once per phrase instead of calling
``Generator.choice(p=...)``, which rebuilds the CDF on every call; the
two consume the same uniforms and give the same words
(``tests/test_bench_docgen.py`` pins that).
"""

from __future__ import annotations

import os

import numpy as np

PHRASE_LEN = 30
N_SOURCES = 20


def corpus_stats(con, base_docs: str) -> dict:
    """Vocabulary, length, language and duplication statistics of the
    parquet ``base_docs``, read with the DuckDB connection ``con``."""
    src = f"'{base_docs}'"
    vocab = con.execute(
        f"""SELECT w, COUNT(*) AS c FROM (
             SELECT UNNEST(string_split(text, ' ')) AS w FROM {src})
            GROUP BY 1 ORDER BY c DESC, w"""
    ).fetchall()
    lens = con.execute(
        f"SELECT LEN(string_split(text, ' ')) AS n, COUNT(*) FROM {src} GROUP BY 1 ORDER BY 1"
    ).fetchall()
    langs = con.execute(
        f"SELECT lang, COUNT(*) FROM {src} GROUP BY 1 ORDER BY 1"
    ).fetchall()
    n_total, n_distinct = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT text) FROM {src}"
    ).fetchone()
    # share of 15-token windows that occur in more than one place
    dup_window_rate = con.execute(
        f"""
        WITH t AS (SELECT string_split(text,' ') AS toks FROM {src}),
        w AS (SELECT list_aggregate(toks[i:i+14], 'string_agg', ' ') AS g
              FROM t, UNNEST(range(1, len(toks)-13)) AS u(i)
              WHERE len(toks) >= 15)
        SELECT SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / SUM(c)
        FROM (SELECT g, COUNT(*) AS c FROM w GROUP BY g)
        """
    ).fetchone()[0]

    def probs(rows):
        p = np.array([c for _, c in rows], dtype=float)
        return p / p.sum()

    return {
        "words": np.array([w for w, _ in vocab]),
        "wprobs": probs(vocab),
        "wcs": np.array([n for n, _ in lens]),
        "wcp": probs(lens),
        "langs": [lang for lang, _ in langs],
        "lprobs": probs(langs),
        "dup_rate": 1.0 - n_distinct / n_total,
        "dup_window_rate": float(dup_window_rate),
    }


def _phrase_seed(seed: int, pid: int) -> int:
    return seed ^ (0x9E3779B9 * (pid + 1) % 2**63)


def generate_documents(stats: dict, n_docs: int, seed: int):
    """The generated table as a ``pyarrow.Table`` with the engine's
    ``documents`` schema; the same ``(stats, n_docs, seed)`` gives the
    same rows."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    words = stats["words"]
    cdf = stats["wprobs"].cumsum()
    cdf /= cdf[-1]
    counts = rng.choice(stats["wcs"], size=n_docs, p=stats["wcp"])
    n_draws = int(counts.sum() / PHRASE_LEN)
    lam = -np.log(max(1e-6, 1.0 - stats["dup_window_rate"]))
    pool = max(1, int(n_draws / lam))
    phrases: dict[int, str] = {}

    def phrase(pid: int) -> str:
        if pid not in phrases:
            u = np.random.default_rng(_phrase_seed(seed, pid)).random(PHRASE_LEN)
            phrases[pid] = " ".join(words[cdf.searchsorted(u, side="right")])
        return phrases[pid]

    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < stats["dup_rate"]:
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        n_phr = max(1, int(round(counts[i] / PHRASE_LEN)))
        ids = rng.integers(0, pool, size=n_phr)
        texts.append(" ".join(phrase(int(p)) for p in ids))
    lidx = rng.choice(len(stats["langs"]), size=n_docs, p=stats["lprobs"])
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([stats["langs"][i] for i in lidx], type=pa.string()),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in range(n_docs)], type=pa.string()
            ),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_documents(table, sf_dir: str, n_files: int) -> None:
    """Write ``table`` as ``<sf_dir>/documents.parquet/`` holding
    ``n_files`` parquet files of contiguous doc_id ranges, one row
    group each.  Written under a temporary name and renamed, so a
    directory that exists is complete."""
    import pyarrow.parquet as pq

    final = os.path.join(sf_dir, "documents.parquet")
    tmp = final + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        pq.write_table(
            part,
            os.path.join(tmp, f"part-{k:05d}.parquet"),
            row_group_size=max(1, part.num_rows),
        )
    os.rename(tmp, final)


def ensure_documents(
    base_docs: str, sf_dir: str, n_docs: int, n_files: int, seed: int
) -> bool:
    """Generate the corpus into ``sf_dir`` unless it is already there;
    return True when it was generated."""
    import shutil

    import duckdb

    if os.path.isdir(os.path.join(sf_dir, "documents.parquet")):
        return False
    os.makedirs(sf_dir, exist_ok=True)
    shutil.rmtree(os.path.join(sf_dir, "documents.parquet.tmp"), ignore_errors=True)
    con = duckdb.connect()
    try:
        stats = corpus_stats(con, base_docs)
    finally:
        con.close()
    write_documents(generate_documents(stats, n_docs, seed), sf_dir, n_files)
    return True
