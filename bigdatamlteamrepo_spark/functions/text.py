"""Text-analysis expressions: tokenization, shingling, and the MinHash
universal-hash constants and band keys.  All pure ``Column`` expressions
(no UDFs) so they vectorize in whole-stage codegen and scale linearly
with input partitions.

MinHash design (dedup at 100 TB): each shingle is digested once with
md5, and the digest's first two 32-bit words feed per-seed universal
hashes (:func:`uh_constants`); the signature is the per-seed minimum
(``text_dedup.uh_signature_frame``).  md5 and BIGINT arithmetic are
available (and identical) in Spark, DuckDB, and virtually every engine,
so signatures are portable and the whole pipeline — signature → band
key → bucket self-join — is expressible as plain SQL (and therefore
oracle-checkable), while remaining a pure shuffle-join workload on a
cluster: no driver state, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize(col: Column | str) -> Column:
    """Lowercased whitespace tokenization → array<string>.

    Whitespace splitting (rather than the reference's ``[a-zA-Z]+`` word
    regex, model.py:71) so the DuckDB oracle (``string_split(text,' ')``)
    matches token-for-token; see :func:`tokenize_words` for the strict
    regex analogue.
    """
    return F.split(F.lower(_c(col)), r"\s+")


#: StructField metadata marking a ``toks`` column as THE whitespace
#: tokenize prefix (``text_dedup._with_tokens``).  Reuse keys on this
#: provenance marker, never on the column NAME alone: a caller frame
#: carrying a differently-derived ``toks`` (tokenize_words output, a
#: stale projection) must not silently change query semantics.
WS_TOKENS_META = {"ws_tokens": True}


def ws_tokens(col: Column | str) -> Column:
    """:func:`tokenize` aliased to ``toks`` with the provenance marker."""
    return tokenize(col).alias("toks", metadata=WS_TOKENS_META)


def has_ws_tokens(docs) -> bool:
    """True iff *docs* carries a provenance-tagged ``toks`` column."""
    return "toks" in docs.columns and bool(
        docs.schema["toks"].metadata.get("ws_tokens")
    )


def ensure_tokens(docs, *keep: str):
    """``(keep..., toks)`` projection of a documents frame, REUSING an
    existing provenance-tagged ``toks`` column when present (the
    tokenize prefix ``text_dedup._with_tokens`` adds) and computing
    :func:`tokenize` from ``text`` otherwise.  A ``toks`` column WITHOUT
    the :data:`WS_TOKENS_META` marker is never reused — recompute (or an
    analysis error when ``text`` is also absent) beats silently adopting
    a differently-derived tokenization.  Either way the plan is
    identical to inlining tokenize at the call site (Catalyst prunes the
    projection)."""
    if has_ws_tokens(docs):
        return docs.select(*keep, "toks")
    return docs.select(*keep, ws_tokens("text"))


def tokenize_words(col: Column | str) -> Column:
    """Strict analogue of the reference's word extraction
    ``re.findall(r"\\b[a-zA-Z]+\\b", text.lower())`` (model.py:71):
    lowercase, split on non-letter runs, drop empties."""
    parts = F.split(F.lower(_c(col)), "[^a-z]+")
    return F.filter(parts, lambda x: x != F.lit(""))


def shingles(tokens: Column, w: int = 3) -> Column:
    """w-token shingles joined by single spaces → array<string>.

    ``sequence(0, size-w)`` enumerates start offsets (``F.get`` is
    0-based); empty array when the document has fewer than *w* tokens.
    """
    idx = F.sequence(F.lit(0), F.size(tokens) - F.lit(w))
    make = lambda i: F.concat_ws(" ", *[F.get(tokens, i + F.lit(j)) for j in range(w)])
    return F.when(F.size(tokens) >= w, F.transform(idx, make)).otherwise(
        F.array().cast("array<string>")
    )


#: modulus for word-derived minhash values (32-bit universal hashing)
UH_MOD = 2**32


def uh_constants(n_seeds: int, seed: int = 1337) -> list[tuple[int, int, int]]:
    """Deterministic (a, b, c) universal-hash constants per seed.

    ``h_i(w1, w2) = (a_i*w1 + b_i*w2 + c_i) mod 2^32`` with odd 20-bit
    multipliers: a*w1 < 2^52, the whole sum < 2^54 — exact in BIGINT
    arithmetic in every engine (no unsigned-overflow semantics to
    match).  Generated from a fixed PRNG seed so the Spark plan and the
    DuckDB oracle embed identical literals (same pattern as the ANN
    hyperplanes, operators/similarity.py).  A non-default *seed* yields
    a family statistically INDEPENDENT of the LSH banding family — the
    requirement for the b-bit prefilter to read fresh evidence
    (text_dedup.bbit_sketch_frame)."""
    import random

    rng = random.Random(seed)
    return [
        (
            rng.randrange(1, 2**20) | 1,
            rng.randrange(1, 2**20) | 1,
            rng.randrange(2**32),
        )
        for _ in range(n_seeds)
    ]


def band_keys(mh_col: Column, n_hashes: int, n_bands: int) -> Column:
    """LSH band keys from a MinHash signature array → array<string>[n_bands].

    Band *b* hashes rows ``b*r .. b*r+r-1`` of the signature (r =
    n_hashes / n_bands) together with the band index, so keys can only
    collide within the same band.  Docs sharing ≥1 band key become
    near-dup candidates via an equi-join — the banding step that makes
    near-dedup a linear-shuffle workload instead of an O(n²) compare.
    md5 keeps the key derivation portable to the DuckDB oracle.
    """
    if n_hashes % n_bands:
        raise ValueError(f"n_hashes={n_hashes} not divisible by n_bands={n_bands}")
    r = n_hashes // n_bands
    return F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"{b}#"),
                    # explicit string cast so long-valued signatures
                    # (text_dedup.uh_signature_frame) key identically to
                    # the oracle's CAST(... AS VARCHAR) concatenation
                    *[F.get(mh_col, b * r + j).cast("string") for j in range(r)],
                )
            )
            for b in range(n_bands)
        ]
    )
