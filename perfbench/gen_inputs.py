"""Seeded input generators for the benchmark.

Both tables follow the schema of the repo's test data (TESTDATA.md), so
graft reads them through the same `Tables` entry points and the DuckDB
oracles run over them unchanged:

* events(event_id, ts, user_id, event_type, value, props): `n_series`
  series of exactly `series_len` rows each. Timestamps are strictly
  increasing inside a series, so (user_id, ts) is unique, which the
  streaming twins and the oracles' `svOver` ordering rely on. event_id
  numbers the rows in global (ts, user_id) order, the order the file is
  written in.
* documents(doc_id, text, lang, source, n_chars): the shape of the
  sf0.1 documents table: 10-100 words drawn uniformly from a
  30-word vocabulary, about 5% near-duplicates (another document's text
  plus " dup"), lang skewed towards "en", source = src<doc_id % 20>.

The same (seed, shape) always gives byte-identical parquet files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
PROPS = np.array(['{"k": %d}' % k for k in range(100)], dtype=object)
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split())
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SPAN_US = 30 * 86400 * 1_000_000  # thirty days, like the test data
T0_US = 1_704_067_200_000_000     # 2024-01-01T00:00:00Z


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def events(path, seed, n_series, series_len):
    rng = np.random.default_rng([seed, 1])
    n = n_series * series_len
    # strictly increasing per-series timestamps: positive gaps whose sum
    # stays inside the thirty-day span
    gaps = rng.integers(1, 2 * SPAN_US // (series_len + 1), size=(n_series, series_len))
    ts = T0_US + np.cumsum(gaps, axis=1).reshape(-1)
    user = np.repeat(np.arange(n_series, dtype=np.int64), series_len)
    order = np.lexsort((user, ts))
    ts, user = ts[order], user[order]
    value = np.round(rng.exponential(50.0, size=n), 2)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    props = PROPS[rng.integers(0, len(PROPS), size=n)]
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(etype, type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props, type=pa.string()),
    })
    _write(table, path)
    return n


def documents(path, seed, n_docs, dup_frac=0.05):
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, size=n_docs)
    words = VOCAB[rng.integers(0, len(VOCAB), size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    dups = rng.random(n_docs) < dup_frac
    srcs = rng.integers(0, n_docs, size=n_docs)
    base = list(texts)
    for i in np.flatnonzero(dups):
        texts[i] = base[srcs[i]] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]),
        "source": pa.array(np.char.add("src", (ids % 20).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    _write(table, path)
    return n_docs
