"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical files, under the fixed names the harness reads
(series.csv, panel.parquet, day1.parquet, day2.parquet). The program under
test only ever sees these files. make() returns the input sizes.
"""
import csv
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BAR_SECONDS = 4 * 3600
EPOCH0 = int(dt.datetime(2010, 1, 1, tzinfo=dt.timezone.utc).timestamp())

# Reference d1 length: the series the reference's own loop trains on.
SERIES_BARS = 7376
PANEL_SERIES = 60
PANEL_BARS = 2000
DUP_SHARE = 0.20
# docs taken from each of the corpus's 20 sources (of 250 each)
DOCS_PER_SOURCE = 100


def regime_walk(rng, n, p0=1.3):
    """Regime-switching random walk of log returns: a 3-state Markov chain
    picks the drift and volatility of each bar, so the generators that
    fit regimes (HMM, GARCH, regime bootstrap) have structure to find."""
    mu = np.array([2e-5, -1e-5, 0.0])
    sigma = np.array([6e-4, 1.8e-3, 3.5e-3])
    stay = 0.985
    states = np.empty(n, dtype=np.int64)
    s = 0
    u = rng.random(n)
    jump = rng.integers(1, 3, n)
    for i in range(n):
        if u[i] > stay:
            s = (s + jump[i]) % 3
        states[i] = s
    rets = mu[states] + sigma[states] * rng.standard_normal(n)
    return p0 * np.exp(np.cumsum(rets))


def _write_series_csv(path, prices):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["DATE_TIME", "typical_price"])
        for i, p in enumerate(prices):
            ts = dt.datetime.fromtimestamp(EPOCH0 + i * BAR_SECONDS, dt.timezone.utc)
            w.writerow([ts.strftime("%Y-%m-%d %H:%M:%S"), repr(float(p))])


def series_loop(out_dir, seed):
    rng = np.random.default_rng([seed, 1])
    path = os.path.join(out_dir, "series.csv")
    _write_series_csv(path, regime_walk(rng, SERIES_BARS))
    return {"bars": SERIES_BARS}


def _panel(path, rng, n_series, n_bars):
    ids, ts, px = [], [], []
    for sid in range(n_series):
        ids.append(np.full(n_bars, sid, dtype=np.int64))
        ts.append(EPOCH0 + np.arange(n_bars, dtype=np.int64) * BAR_SECONDS)
        px.append(regime_walk(rng, n_bars, p0=float(rng.uniform(0.5, 200.0))))
    t = pa.table({"series_id": np.concatenate(ids), "epoch_s": np.concatenate(ts),
                  "typical_price": np.concatenate(px)})
    pq.write_table(t, path)


def panel_scale(out_dir, seed):
    path = os.path.join(out_dir, "panel.parquet")
    _panel(path, np.random.default_rng([seed, 3]), PANEL_SERIES, PANEL_BARS)
    return {"series": PANEL_SERIES, "bars": PANEL_BARS,
            "rows": PANEL_SERIES * PANEL_BARS}


# The curate corpus: the 5,000 documents of the repo's sf0.1 test data
# (doc_id, text, lang, source, n_chars; 250 docs from each of 20 sources).
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents_sf0.1.parquet")


def _near_copy(rng, words):
    """A copy with about one word in 25 replaced by another word of the
    same document."""
    words = list(words)
    for _ in range(max(1, len(words) // 25)):
        words[int(rng.integers(0, len(words)))] = words[int(rng.integers(0, len(words)))]
    return words


def _docs_table(rows):
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })


def _corpus(rng):
    """A seeded subset of the documents, DOCS_PER_SOURCE from each source,
    plus DUP_SHARE of seeded duplicates, half exact and half near, shuffled
    and renumbered. A duplicate keeps its original's lang and source."""
    every = pq.read_table(DOCUMENTS, columns=["text", "lang", "source"]).to_pylist()
    docs = []
    for src in sorted({d["source"] for d in every}):
        pool = [d for d in every if d["source"] == src]
        docs += [pool[i] for i in sorted(rng.choice(len(pool), DOCS_PER_SOURCE, replace=False))]
    n_dup = int(len(docs) * DUP_SHARE)
    rows = [(d["text"], d["lang"], d["source"]) for d in docs]
    for _ in range(n_dup):
        d = docs[int(rng.integers(0, len(docs)))]
        text = d["text"]
        if rng.random() >= 0.5:
            text = " ".join(_near_copy(rng, text.split(" ")))
        rows.append((text, d["lang"], d["source"]))
    order = rng.permutation(len(rows))
    return [(i, *rows[j]) for i, j in enumerate(order)]


def curate(out_dir, seed):
    rng = np.random.default_rng([seed, 5])
    rows = _corpus(rng)
    # the split is stratified by source: the curate mixture weights every
    # source, so each one needs new docs on day 2 as well
    day1, new = [], []
    for src in sorted({r[3] for r in rows}):
        docs = [r for r in rows if r[3] == src]
        perm = rng.permutation(len(docs))
        cut = int(len(docs) * 0.8)
        day1 += [docs[i] for i in perm[:cut]]
        new += [docs[i] for i in perm[cut:]]
    day1.sort()
    resend = [day1[i] for i in sorted(rng.choice(len(day1), int(len(day1) * 0.2), replace=False))]
    day2 = sorted(new + resend)
    p1 = os.path.join(out_dir, "day1.parquet")
    p2 = os.path.join(out_dir, "day2.parquet")
    pq.write_table(_docs_table(day1), p1)
    pq.write_table(_docs_table(day2), p2)
    return {"day1_docs": len(day1), "day2_docs": len(day2)}


WORKLOADS = {"series_loop": series_loop, "panel_scale": panel_scale, "curate": curate}


def digest(out_dir):
    """SHA-256 of the input files make() wrote, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def make(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    return WORKLOADS[workload](out_dir, seed)
