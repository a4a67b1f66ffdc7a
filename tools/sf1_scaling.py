#!/usr/bin/env python
"""sf1 (10× bench-SF) scaling evidence for the top bench headliners
(VERDICT_r9 #2).

SCALING.md's per-query walls top out at the driver's sf0.1 tables
(600 k lineitem rows / 5 k docs); the "linear by construction" claims
for the most expensive headliners deserve a measured 10×-growth point.
The driver ships no sf1 fixture, so this tool GENERATES one — seeded,
distribution-matched to the sf0.1 tables it extrapolates (never
modifying /root/testdata):

* ``lineitem`` — 1.5 M orders with zero-truncated-Poisson basket sizes
  fitted to the sf0.1 empirical histogram, part keys uniform over a
  10×-wider key space (the part-count-per-SF rule of the driver
  tables), dates/numerics/flags matched to the sf0.1 marginals.  Only
  the (l_orderkey, l_partkey) structure matters to the co-purchase
  graph headliner; the rest keeps the table honest for scans.
* ``documents`` — 50 k docs over the sf0.1 corpus's OWN closed
  vocabulary + Zipf weights (empirical words-per-doc distribution,
  per-source/lang shares), composed from a shared PHRASE POOL sized so
  the repeated-15-token-window rate matches the measured sf0.1 value
  (~9.5% — the statistic the substring/near-dup headliners actually
  work against; independently-sampled words starve them at ~0.3%),
  with exact duplicate docs planted at the measured sf0.1 rate.
  Naively replicating rows 10× would instead plant a 10-clique of
  artificial near-dups on every doc and turn the candidate-verify
  stage into a different workload.

Then each headliner runs COLD (fresh session) at
sf0.1 and sf1, wall time and the physical plan's Exchange count are
recorded, and a SCALING.md section is appended.  Pass/fail lens:
wall growth ≤ ~10× at 10× data and an UNCHANGED exchange count (a new
Exchange at scale = a plan that re-shapes with data volume — the
100 TB red flag the verdict asks this evidence to rule out).

Run: python tools/sf1_scaling.py            (~10 min)
     python tools/sf1_scaling.py --gen-only (just build /tmp fixture)
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
SF1_DIR = "/tmp/spark-graft-sf1"
SEED = 20260816
#: row-count multiplier over the sf0.1 base tables.  tools/sf10_walls.py
#: overrides SCALE (=100) and SF1_DIR at import time to build the 100×
#: fixture with the same distribution-matched recipe.
SCALE = 10

#: headliners to measure (the 5 most expensive per VERDICT_r9) and the
#: tables each needs in the generated dir
HEADLINERS = [
    "substring_dedup_summary",
    "neardup_dedup_summary",
    "part_copurchase_communities",
    "source_distinct_ngrams",
    "doc_lm_perplexity",
]


# ---------------------------------------------------------------- generate
def _gen_lineitem(con, rng) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    hist = dict(
        con.execute(
            f"""SELECT c, COUNT(*) FROM (
                 SELECT COUNT(*) AS c FROM '{SF01}/lineitem.parquet'
                 GROUP BY l_orderkey) GROUP BY 1"""
        ).fetchall()
    )
    sizes = np.array(sorted(hist))
    probs = np.array([hist[s] for s in sizes], dtype=float)
    probs /= probs.sum()
    n_orders = 150_000 * SCALE
    n_parts = 20_000 * SCALE
    basket = rng.choice(sizes, size=n_orders, p=probs)
    n_rows = int(basket.sum())
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), basket)
    linenumber = np.concatenate([np.arange(1, b + 1) for b in basket]).astype(
        np.int32
    )
    lo, hi = con.execute(
        f"SELECT MIN(l_shipdate), MAX(l_shipdate) FROM '{SF01}/lineitem.parquet'"
    ).fetchone()
    span_days = (hi - lo).days
    flags = con.execute(
        f"""SELECT l_returnflag, l_linestatus, COUNT(*)
            FROM '{SF01}/lineitem.parquet' GROUP BY 1, 2"""
    ).fetchall()
    fprobs = np.array([c for _, _, c in flags], dtype=float)
    fprobs /= fprobs.sum()
    fidx = rng.choice(len(flags), size=n_rows, p=fprobs)
    qty = rng.integers(1, 51, size=n_rows).astype(float)
    price = np.round(900.0 + rng.random(n_rows) * 104100.0, 2)
    tbl = pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_parts, size=n_rows),
            "l_suppkey": rng.integers(0, 10_000, size=n_rows),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, size=n_rows) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n_rows) / 100.0, 2),
            "l_returnflag": pa.array(
                np.array([f[0] for f in flags])[fidx], type=pa.string()
            ),
            "l_linestatus": pa.array(
                np.array([f[1] for f in flags])[fidx], type=pa.string()
            ),
            "l_shipdate": pa.array(
                np.datetime64(lo, "D")
                + rng.integers(0, span_days + 1, size=n_rows).astype(
                    "timedelta64[D]"
                ),
                type=pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(tbl, os.path.join(SF1_DIR, "lineitem.parquet"))
    print(f"  lineitem: {n_rows:,} rows / {n_orders:,} orders")


def _gen_documents(con, rng) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab_rows = con.execute(
        f"""SELECT w, COUNT(*) AS c FROM (
             SELECT UNNEST(string_split(text, ' ')) AS w
             FROM '{SF01}/documents.parquet') GROUP BY 1 ORDER BY c DESC"""
    ).fetchall()
    words = np.array([w for w, _ in vocab_rows])
    wprobs = np.array([c for _, c in vocab_rows], dtype=float)
    wprobs /= wprobs.sum()
    wc_rows = con.execute(
        f"""SELECT LEN(string_split(text, ' ')) AS n, COUNT(*)
            FROM '{SF01}/documents.parquet' GROUP BY 1"""
    ).fetchall()
    wcs = np.array([n for n, _ in wc_rows])
    wcp = np.array([c for _, c in wc_rows], dtype=float)
    wcp /= wcp.sum()
    langs = con.execute(
        f"SELECT lang, COUNT(*) FROM '{SF01}/documents.parquet' GROUP BY 1"
    ).fetchall()
    lprobs = np.array([c for _, c in langs], dtype=float)
    lprobs /= lprobs.sum()
    n_total, n_distinct = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT text) FROM '{SF01}/documents.parquet'"
    ).fetchone()
    dup_rate = 1.0 - n_distinct / n_total
    # the substring/near-dup headliners are sensitive to REPEATED-SPAN
    # density, not just vocabulary: 9.5% of sf0.1's 15-token windows sit
    # in a duplicated group (measured below, re-measured here so the
    # fixture tracks the source corpus).  Independent word sampling
    # yields ~0.3% and starves those queries of work, so docs are built
    # from a shared PHRASE POOL: each doc concatenates phrases drawn
    # uniformly from a pool sized so a draw collides with another at
    # the measured rate (Poisson: P[group ≥ 2] ≈ 1 − e^{−λ}); phrase
    # content is deterministic per pool id (seeded RNG), so two draws
    # of the same id are an exact repeated span.
    dup_window_rate = con.execute(
        f"""
        WITH t AS (SELECT string_split(text,' ') AS toks
                   FROM '{SF01}/documents.parquet'),
        w AS (SELECT list_aggregate(toks[i:i+14], 'string_agg', ' ') AS g
              FROM t, UNNEST(range(1, len(toks)-13)) AS u(i)
              WHERE len(toks) >= 15)
        SELECT SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / SUM(c)
        FROM (SELECT g, COUNT(*) AS c FROM w GROUP BY g)
        """
    ).fetchone()[0]

    n_docs = 5_000 * SCALE
    n_sources = 20
    counts = rng.choice(wcs, size=n_docs, p=wcp)
    phrase_len = 30
    n_draws = int(counts.sum() / phrase_len)
    lam = -np.log(max(1e-6, 1.0 - float(dup_window_rate)))
    pool = max(1, int(n_draws / lam))

    def _phrase(pid: int) -> str:
        prng = np.random.default_rng(SEED ^ (0x9E3779B9 * (pid + 1) % 2**63))
        return " ".join(prng.choice(words, size=phrase_len, p=wprobs))

    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < dup_rate:
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        n_phr = max(1, int(round(counts[i] / phrase_len)))
        ids = rng.integers(0, pool, size=n_phr)
        texts.append(" ".join(_phrase(int(p)) for p in ids))
    lidx = rng.choice(len(langs), size=n_docs, p=lprobs)
    tbl = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([langs[i][0] for i in lidx], type=pa.string()),
            "source": pa.array(
                [f"src{int(i) % n_sources}" for i in np.arange(n_docs)],
                type=pa.string(),
            ),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(tbl, os.path.join(SF1_DIR, "documents.parquet"))
    print(
        f"  documents: {n_docs:,} docs, planted doc-dup rate "
        f"{dup_rate:.4f}, target window-dup rate {dup_window_rate:.3f} "
        f"(pool {pool:,} phrases × {phrase_len} tokens)"
    )


def _gen_support_tables(con, rng) -> None:
    """orders/part/customer/supplier/events/embeddings at 10×, plus
    nation/region copied verbatim (dimension tables don't scale) — so
    the FULL bench headliner set can run against the sf1 dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name, table):
        pq.write_table(table, os.path.join(SF1_DIR, f"{name}.parquet"))

    # nation / region: verbatim
    for t in ("nation", "region"):
        con.execute(
            f"COPY (SELECT * FROM '{SF01}/{t}.parquet') TO "
            f"'{os.path.join(SF1_DIR, t + '.parquet')}' (FORMAT PARQUET)"
        )

    n_orders, n_cust, n_supp, n_parts = (
        150_000 * SCALE, 15_000 * SCALE, 1_000 * SCALE, 20_000 * SCALE
    )
    lo = np.datetime64("1995-01-01")
    span = int(
        (np.datetime64("2001-08-01") - lo) / np.timedelta64(1, "D")
    )
    write(
        "orders",
        pa.table(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, size=n_orders),
                "o_orderstatus": pa.array(
                    np.array(["O", "P", "F"])[
                        rng.integers(0, 3, size=n_orders)
                    ]
                ),
                "o_totalprice": np.round(
                    1000.0 + rng.random(n_orders) * 499000.0, 2
                ),
                "o_orderdate": pa.array(
                    lo
                    + rng.integers(0, span + 1, size=n_orders).astype(
                        "timedelta64[D]"
                    ),
                    type=pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array(
                    np.array(
                        [
                            "1-URGENT",
                            "2-HIGH",
                            "3-MEDIUM",
                            "4-NOT SPECIFIED",
                            "5-LOW",
                        ]
                    )[rng.integers(0, 5, size=n_orders)]
                ),
            }
        ),
    )
    names = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT p_name FROM '{SF01}/part.parquet'"
        ).fetchall()
    ]
    types = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT p_type FROM '{SF01}/part.parquet'"
        ).fetchall()
    ]
    pk = np.arange(n_parts, dtype=np.int64)
    write(
        "part",
        pa.table(
            {
                "p_partkey": pk,
                "p_name": pa.array(
                    np.array(names)[rng.integers(0, len(names), n_parts)]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(0, 25, n_parts)]
                ),
                "p_type": pa.array(
                    np.array(types)[rng.integers(0, len(types), n_parts)]
                ),
                "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
                "p_retailprice": np.round(900.0 + (pk % 20_000) * 0.1, 2),
            }
        ),
    )
    segs = np.array(
        ["AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE", "BUILDING"]
    )
    write(
        "customer",
        pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": pa.array(
                    [f"Customer#{k:09d}" for k in range(n_cust)]
                ),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(
                    -1000.0 + rng.random(n_cust) * 11000.0, 2
                ),
                "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
            }
        ),
    )
    write(
        "supplier",
        pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": pa.array(
                    [f"Supplier#{k:09d}" for k in range(n_supp)]
                ),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.random(n_supp) * 10000.0, 2),
            }
        ),
    )
    n_events, n_users = 100_000 * SCALE, 1_500 * SCALE
    ev_lo = np.datetime64("2024-01-01T00:00:00")
    ev_span_s = 30 * 24 * 3600
    etypes = np.array(["view", "click", "purchase", "signup", "error"])
    write(
        "events",
        pa.table(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": pa.array(
                    ev_lo
                    + rng.integers(0, ev_span_s, n_events).astype(
                        "timedelta64[s]"
                    ),
                    type=pa.timestamp("us"),
                ),
                "user_id": rng.integers(0, n_users, n_events),
                "event_type": pa.array(etypes[rng.integers(0, 5, n_events)]),
                "value": np.round(rng.random(n_events) * 560.0, 2),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
                ),
            }
        ),
    )
    # embeddings: per-label Gaussians fitted to the sf0.1 clusters so
    # ANN/centroid queries keep their geometry at 10× the vectors
    emb = con.execute(
        f"SELECT label, embedding FROM '{SF01}/embeddings.parquet'"
    ).fetchall()
    by_label: dict[int, list] = {}
    for lbl, vec in emb:
        by_label.setdefault(lbl, []).append(vec)
    n_emb = 2_000 * SCALE
    labels = sorted(by_label)
    share = np.array([len(by_label[l]) for l in labels], dtype=float)
    share /= share.sum()
    counts = rng.multinomial(n_emb, share)
    vecs, out_labels = [], []
    for lbl, c in zip(labels, counts):
        m = np.asarray(by_label[lbl], dtype=np.float32)
        mu, sd = m.mean(axis=0), m.std(axis=0) + 1e-6
        vecs.append(rng.normal(mu, sd, size=(c, m.shape[1])).astype(np.float32))
        out_labels.extend([lbl] * c)
    allv = np.vstack(vecs)
    perm = rng.permutation(n_emb)
    write(
        "embeddings",
        pa.table(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.array(
                    [allv[i].tolist() for i in perm],
                    type=pa.list_(pa.float32()),
                ),
                "label": np.array(out_labels, dtype=np.int32)[perm],
            }
        ),
    )
    print(
        f"  support tables: orders {n_orders:,}, part {n_parts:,}, "
        f"customer {n_cust:,}, supplier {n_supp:,}, events {n_events:,}, "
        f"embeddings {n_emb:,}, nation/region verbatim"
    )


def generate() -> None:
    import duckdb

    os.makedirs(SF1_DIR, exist_ok=True)
    con = duckdb.connect()
    marker = os.path.join(SF1_DIR, "_DONE")
    if not os.path.exists(marker):
        rng = np.random.default_rng(SEED)
        print(f"generating sf1 fixture at {SF1_DIR} (seed {SEED})")
        _gen_lineitem(con, rng)
        _gen_documents(con, rng)
        with open(marker, "w") as f:
            f.write(f"seed={SEED}\n")
    else:
        print(f"sf1 core fixture already at {SF1_DIR}")
    marker2 = os.path.join(SF1_DIR, "_DONE_SUPPORT")
    if not os.path.exists(marker2):
        rng = np.random.default_rng(SEED + 1)
        _gen_support_tables(con, rng)
        with open(marker2, "w") as f:
            f.write(f"seed={SEED + 1}\n")


# ----------------------------------------------------------------- measure
def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange ")


def measure() -> list[dict]:
    from bigdatamlteamrepo_spark import get_spark
    from bigdatamlteamrepo_spark.queries.registry import QUERIES

    rows = []
    for name in HEADLINERS:
        fn = QUERIES[name]
        rec = {"query": name}
        for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1_DIR)):
            spark = get_spark(app_name=f"sf1-scaling-{name}-{label}")
            spark.sparkContext.setLogLevel("ERROR")
            # JVM/session warmup outside the timed region, and time a
            # full collect() like bench.py does — count() lets Catalyst
            # PRUNE the work (a left-joined subtree that can't change
            # cardinality is eliminated wholesale: the first cut of
            # this harness "measured" substring dedup at 0.7 s because
            # the entire dup-span computation was optimized away)
            spark.range(1_000_000).selectExpr("sum(id)").collect()
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = len(df.collect())
            wall = time.time() - t0
            rec[label] = wall
            rec[f"{label}_rows"] = n
            rec[f"{label}_exchanges"] = _exchanges(fn(spark, sf_dir))
            spark.stop()
            print(
                f"  {name} @ {label}: {wall:6.1f}s, {n} rows, "
                f"{rec[f'{label}_exchanges']} exchanges"
            )
        rec["growth"] = rec["sf1"] / rec["sf0.1"]
        rows.append(rec)
    return rows


def append_scaling_md(rows: list[dict]) -> None:
    lines = [
        "",
        "## sf1 (10× bench SF) walls for the top-5 headliners (round 10)",
        "",
        "Generated sf1 fixture (`tools/sf1_scaling.py`: 6 M lineitem rows /",
        "1.5 M orders / 50 k docs, distribution-matched to sf0.1 — fitted",
        "basket-size histogram, same closed vocabulary + Zipf weights, docs",
        "composed from a phrase pool sized to match the measured",
        "repeated-15-token-window rate, exact dups planted at the measured",
        "rate).  Each cell is a COLD full-collect() in its own warmed",
        "session (count() is NOT a valid timing action:",
        "Catalyst eliminates cardinality-neutral left-join subtrees under",
        "it, which 'measured' substring dedup at 0.7 s by skipping the",
        "entire dup-span computation).  `Δexch` compares the physical",
        "plan's Exchange count at the two SFs — 0 means the plan shape is",
        "data-size-invariant (no re-shaping at scale).",
        "",
        "| query | sf0.1 wall | sf1 wall | growth at 10× data | Δexch |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['query']} | {r['sf0.1']:.1f} s | {r['sf1']:.1f} s "
            f"| {r['growth']:.1f}× | "
            f"{r['sf1_exchanges'] - r['sf0.1_exchanges']:+d} |"
        )
    lines.append("")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    with open(path, "a") as f:
        f.write("\n".join(lines))
    print("appended sf1 section to SCALING.md")


def main() -> None:
    generate()
    if "--gen-only" in sys.argv:
        return
    rows = measure()
    append_scaling_md(rows)


if __name__ == "__main__":
    main()
