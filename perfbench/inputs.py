"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed always gives
byte-identical parquet files. The tables have the schema and value shapes
of graft's synthetic testdata:

- events: five event types spread over January 2024, `{"k": N}` props;
- documents: 10-100 words drawn from a 30-word vocabulary, 20 sources,
  5 languages, with planted structure the corpus pipeline acts on: 5 %
  near-duplicates (an earlier document's words plus "dup"), 0.2 % exact
  duplicates, and 2 % documents that quote the first 20 words of an
  earlier one, so the span cut has work to do.

Inputs are cached under <root>/<VERSION>-s<seed>/<table>-<size>/; each is
written under a temporary name and renamed into place when complete.
"""
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "p2"

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]
EVENT_TYPES = ["view", "click", "signup", "error", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
JAN_START_US = 1704067200000000  # 2024-01-01T00:00:00Z
MONTH_US = 30 * 86400 * 1000000


def events(seed, n):
    rng = np.random.default_rng([seed, 1])
    step = max(1, MONTH_US // n)
    i = np.arange(n, dtype=np.int64)
    ts = JAN_START_US + i * step + rng.integers(0, step, n)
    kind = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(i),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1000, n)),
        "event_type": pa.array([EVENT_TYPES[t] for t in kind]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {v}}}' for v in k]),
    })


def documents(seed, n):
    """Documents in doc_id order; `idx` is the row index."""
    rng = np.random.default_rng([seed, 2])
    nw = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(nw.sum()))
    starts = np.concatenate([[0], np.cumsum(nw)[:-1]])
    own = [[VOCAB[w] for w in words[s:s + c]] for s, c in zip(starts, nw)]
    # exact planted shares, at random positions: the per-mille rank of
    # each row in a seeded permutation
    kind = rng.permutation(n) * 1000 // n
    back = rng.integers(0, 1 << 30, n)
    quote_len = rng.integers(10, 50, n)
    texts = []
    for i in range(n):
        j = i - 1 - back[i] % max(1, min(i, 1000))
        if i == 0 or kind[i] >= 72:
            t = own[i]
        elif kind[i] < 50:
            t = own[j] + ["dup"]
        elif kind[i] < 52:
            t = own[j]
        else:
            t = own[i][:quote_len[i]] + own[j][:20]
        texts.append(" ".join(t))
    doc_id = np.arange(n, dtype=np.int64) * 4 + rng.integers(0, 4, n)
    return pa.table({
        "doc_id": pa.array(doc_id),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[v] for v in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        "idx": pa.array(np.arange(n, dtype=np.int64)),
    })


def _write_parts(table, path, parts):
    """`parts` row-contiguous files, the layout of a scaled fact table."""
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for p in range(parts):
        pq.write_table(table.slice(bounds[p], bounds[p + 1] - bounds[p]),
                       os.path.join(path, f"part-{p:05d}.parquet"))


def _cached(path, write):
    if os.path.exists(path):
        return 0.0
    t0 = time.time()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    os.rename(tmp, path)
    return time.time() - t0


def events_dir(root, seed, n, parts=1):
    """<dir>/events.parquet/ with `n` events; returns (dir, seconds)."""
    d = os.path.join(root, f"{VERSION}-s{seed}", f"events-{n}")
    return d, _cached(d, lambda t: _write_parts(
        events(seed, n), os.path.join(t, "events.parquet"), parts))


def documents_dir(root, seed, n, parts=1):
    """<dir>/documents.parquet/ with `n` documents; returns (dir, seconds)."""
    d = os.path.join(root, f"{VERSION}-s{seed}", f"docs-{n}")
    return d, _cached(d, lambda t: _write_parts(
        documents(seed, n).drop(["idx"]), os.path.join(t, "documents.parquet"), parts))


def arrivals_dir(root, seed, n, per):
    """<dir>/chunk-<k>.parquet: `n` documents in doc_id order, `per` a file."""
    d = os.path.join(root, f"{VERSION}-s{seed}", f"arrivals-{n}-by-{per}")

    def write(t):
        docs = documents(seed, n).drop(["idx"])
        for k in range(0, n, per):
            pq.write_table(docs.slice(k, per), os.path.join(t, f"chunk-{k // per:05d}.parquet"))
    return d, _cached(d, write)


def prune(root, keep, current):
    """Keep the inputs of the `keep` most recently used seeds."""
    dirs = [os.path.join(root, d) for d in os.listdir(root) if not d.endswith(".tmp")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        if os.path.basename(d) != current:
            shutil.rmtree(d, ignore_errors=True)
