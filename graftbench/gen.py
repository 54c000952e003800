"""Seeded input generator for the graft benchmark.

Writes parquet tables in the engine's test-data schemas (see TESTDATA.md at
the repository root) from nothing but a seed, so the parent and the changed
commit of any later comparison read byte-identical inputs, whatever the
engine's own mock-data generator does.

  events.parquet     event_id, ts (timestamp[us]), user_id, event_type,
                     value, props -- the raw tick feed (symbol := event_type,
                     price := value) over a 30-day window
  stream.parquet     the same schema over a one-day window, sorted by ts
                     with strictly increasing timestamps, for the streaming
                     lane's micro-batches
  documents.parquet  doc_id, text, lang, source, n_chars, with exact and
                     near duplicates planted at fixed rates

Every table also gets a row hash (sha256 over its column values in row
order); `python3 gen.py --selfcheck` generates each table twice per seed and
checks that the hashes agree.
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86400 * 1_000_000
EVENT_TYPES = np.array(["signup", "view", "click", "purchase", "error"])
LANGS = np.array(["en", "en", "en", "en", "de", "es", "fr", "zh"])
VOCAB = np.array((
    "key agg row scan slow fast table value part hash merge batch window "
    "spark order data column join small line customer query a the filter "
    "group sort index page block cache read write plan cost stat null type "
    "string int float date time zone shard split skew salt probe build "
    "spill disk wide deep tree leaf root node edge graph rank score top "
    "limit").split())
EXACT_DUP_RATE = 0.03
NEAR_DUP_RATE = 0.05
DUP_WINDOW = 1000


def _rng(seed, table):
    # one independent stream per (seed, table): adding a table never shifts
    # the draws of another
    tag = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def events(n, seed, window_us=30 * DAY_US, table="events", ordered=False):
    """The events feed: uniform timestamps over the window, 5 event types,
    exponential values (mean 50, 2 decimals, at least 0.01)."""
    r = _rng(seed, table)
    ts = EPOCH_US + r.integers(0, window_us, n)
    if ordered:
        ts = np.sort(ts)
        # strictly increasing, so first/last-by-time ties cannot arise
        ts = np.maximum.accumulate(ts - np.arange(n)) + np.arange(n)
    users = max(1, round(n * 0.015))
    value = np.maximum(np.round(r.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, n), type=pa.int64()),
        "event_type": pa.array(EVENT_TYPES[r.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(value),
        "props": pa.array(['{"k": %d}' % k for k in r.integers(0, 100, n)]),
    })


def documents(n, seed):
    """Documents of 10-99 Zipf-ish vocabulary tokens. A row rolls an exact
    duplicate (3%) or a near duplicate (5%: the copy plus a 3-8 token
    suffix) of an earlier row at most DUP_WINDOW rows back."""
    r = _rng(seed, "documents")
    lens = r.integers(10, 100, n)
    tok = (r.random(lens.sum()) ** 2 * len(VOCAB)).astype(np.int64)
    words = VOCAB[tok]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    roll = r.random(n)
    back = r.integers(1, DUP_WINDOW + 1, n)
    sfx_len = r.integers(3, 9, n)
    sfx_tok = (r.random((n, 8)) ** 2 * len(VOCAB)).astype(np.int64)
    for i in range(1, n):
        if roll[i] < EXACT_DUP_RATE + NEAR_DUP_RATE:
            base = texts[max(i - back[i], 0)]
            if roll[i] < EXACT_DUP_RATE:
                texts[i] = base
            else:
                texts[i] = base + " " + " ".join(VOCAB[sfx_tok[i, :sfx_len[i]]])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[r.integers(0, len(LANGS), n)]),
        "source": pa.array(["src%d" % k for k in r.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def row_hash(t):
    h = hashlib.sha256()
    for name in t.column_names:
        h.update(name.encode())
        col = t.column(name).combine_chunks()
        if pa.types.is_string(col.type):
            h.update("\x1f".join(col.to_pylist()).encode())
        else:
            h.update(col.cast(pa.int64() if pa.types.is_timestamp(col.type)
                              else col.type).to_numpy().tobytes())
    return h.hexdigest()


def tables(workload, seed, sizes):
    """The tables a workload reads, by file name."""
    if workload == "tick_stream":
        return {"stream": events(sizes["stream_ticks"], seed, DAY_US,
                                 table="stream", ordered=True)}
    # the documents feed the corpus run of market_cold's traced ops
    return {"events": events(sizes["market_events"], seed),
            "documents": documents(sizes["docs"], seed)}


def write(workload, seed, sizes, out_dir):
    """Writes the workload's tables into out_dir; returns {name: row hash}."""
    os.makedirs(out_dir, exist_ok=True)
    hashes = {}
    for name, t in tables(workload, seed, sizes).items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
        hashes[name] = row_hash(t)
    return hashes


def selfcheck(seeds=(42, 7)):
    small = {"market_events": 5000, "docs": 500, "stream_ticks": 5000}
    ok = True
    for seed in seeds:
        for w in ("market_cold", "tick_stream"):
            a = {k: row_hash(t) for k, t in tables(w, seed, small).items()}
            b = {k: row_hash(t) for k, t in tables(w, seed, small).items()}
            print(f"seed {seed} {w}: {a}")
            ok &= a == b
    print("selfcheck", "ok" if ok else "FAILED")
    return ok


if __name__ == "__main__":
    if sys.argv[1:] == ["--selfcheck"]:
        sys.exit(0 if selfcheck() else 1)
    sys.exit("usage: python3 gen.py --selfcheck")
