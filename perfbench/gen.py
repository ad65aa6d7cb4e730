"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size parameters): the same
seed writes byte-identical parquet. The engine only ever sees the written
files. Each table is written twice:

  <dir>/<table>.parquet/part-NNNNN.parquet   the engine's input, split into
                                             several files so scans split
  <dir>/check/<table>.parquet                one file with the same rows,
                                             for the DuckDB oracle check

`props` returns the input properties the engine's cost depends on; they
are printed by every run. perfbench/METRICS.md states where each
distribution parameter below comes from; perfbench/derive.py measures the
ones taken from the sf0.1 test fixture.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The paper's reference input (airline tweets, SURVEY.md) has 13,173
# distinct words in 151,715 tokens, and its five most frequent words occur
# 4667, 4020, 3001, 2960 and 2459 times (the golden word-count test).
REF_TOKENS, REF_DISTINCT = 151715, 13173
REF_TOP5 = (4667, 4020, 3001, 2960, 2459)
# Heaps' law V(n) = K * n ** HEAPS_BETA: b = 0.49 for Reuters-RCV1, and
# "roughly 0.5" in general (Manning, Raghavan, Schuetze, Introduction to
# Information Retrieval, 2008, section 5.1.1). The vocabulary grows from
# the reference's point, so K = 13173 / 151715 ** 0.5 = 33.8, inside the
# 30..100 range that book gives for K.
HEAPS_BETA = 0.5
# The fixture's documents hold 10..100 words each, uniformly spread.
DOC_WORDS = (10, 100)
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
# Fixture events: event types uniform over these five, values exponential
# with mean 50 rounded to cents, props {"k": 0..99}, Poisson arrivals over
# 30 days from 2024-01-01, ts non-decreasing in event_id order.
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_VALUE_MEAN, EVENT_DAYS = 50.0, 30
WATERMARK_MINUTES = 10


def _write(dir_, name, table, files):
    """Write `table` as `files` engine parts plus one oracle-check file."""
    engine = os.path.join(dir_, f"{name}.parquet")
    os.makedirs(engine, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(engine, f"part-{i:05d}.parquet"))
    check = os.path.join(dir_, "check")
    os.makedirs(check, exist_ok=True)
    pq.write_table(table, os.path.join(check, f"{name}.parquet"))


def _vocabulary(rng, size):
    """`size` distinct lowercase words of 2..12 letters, in random order."""
    words = np.empty(0, dtype="S12")
    while len(words) < size:
        m = int((size - len(words)) * 1.2) + 64
        lens = rng.integers(2, 13, m)
        letters = rng.integers(ord("a"), ord("z") + 1, (m, 12), dtype=np.uint8)
        letters[np.arange(12)[None, :] >= lens[:, None]] = 0
        fresh = np.unique(letters.view("S12").ravel())
        words = np.unique(np.concatenate([words, fresh]))
    return rng.permutation(words)[:size]


def _zipf_cdf(vocab, s):
    """CDF of a Zipf(s) law truncated to `vocab` ranks."""
    cdf = np.cumsum(1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s)
    return cdf / cdf[-1]


def fit_zipf_s():
    """The Zipf exponent under which the reference's five most frequent
    words take the share of its tokens they take in the reference
    (11.28 %), over the reference's own vocabulary (bisection)."""
    share = sum(REF_TOP5) / REF_TOKENS
    lo, hi = 0.1, 2.0
    for _ in range(50):
        s = (lo + hi) / 2
        cdf = _zipf_cdf(REF_DISTINCT, s)
        lo, hi = (s, hi) if cdf[len(REF_TOP5) - 1] < share else (lo, s)
    return round((lo + hi) / 2, 4)


ZIPF_S = fit_zipf_s()


def _docs_table(rng, texts):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)],
                         pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _join_docs(words, lengths):
    """Concatenate consecutive runs of `words` into space-separated docs."""
    ends = np.cumsum(lengths)
    flat = words.tolist()
    out, lo = [], 0
    for hi in ends.tolist():
        out.append(b" ".join(flat[lo:hi]).decode("ascii"))
        lo = hi
    return out


def zipf_corpus(dir_, seed, tokens, files):
    """Word-count corpus: Zipf(ZIPF_S) tokens over a Heaps'-law
    vocabulary, in documents of DOC_WORDS words."""
    rng = np.random.default_rng([seed, 1])
    vocab = int(REF_DISTINCT * (tokens / REF_TOKENS) ** HEAPS_BETA)
    words = _vocabulary(rng, vocab)
    cdf = _zipf_cdf(vocab, ZIPF_S)
    ranks = np.minimum(np.searchsorted(cdf, rng.random(tokens)), vocab - 1)
    lo, hi = DOC_WORDS
    lengths = rng.integers(lo, hi + 1, 2 * tokens // (lo + hi) + 1)
    lengths = lengths[np.cumsum(lengths) <= tokens]
    ranks = ranks[:int(lengths.sum())]
    table = _docs_table(rng, _join_docs(words[ranks], lengths))
    _write(dir_, "documents", table, files)
    top5 = np.sort(np.bincount(ranks, minlength=vocab))[::-1][:5].sum()
    return {"table": "documents", "rows": table.num_rows,
            "tokens": int(lengths.sum()), "vocabulary": vocab,
            "distinct_words": int(len(np.unique(ranks))),
            "top5_share": round(float(top5 / len(ranks)), 4),
            "zipf_s": ZIPF_S, "heaps_beta": HEAPS_BETA, "files": files}


def events(dir_, seed, rows, users, files):
    """Event stream in the fixture's schema and ts encoding (naive
    TIMESTAMP(MICROS)). Rows are in event_id order with ts non-decreasing,
    as in the fixture, so no row arrives behind the drains' 10-minute
    watermark; `late_share` in the returned properties measures that."""
    rng = np.random.default_rng([seed, 3])
    start_us = 1704067200 * 1_000_000
    span_us = EVENT_DAYS * 86400 * 1_000_000
    ts = start_us + np.sort(rng.integers(0, span_us, rows))
    behind = np.maximum.accumulate(ts) - ts
    table = pa.table({
        "event_id": pa.array(np.arange(rows), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, rows), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), rows)],
            pa.string()),
        "value": pa.array(
            np.round(rng.exponential(EVENT_VALUE_MEAN, rows), 2), pa.float64()),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
            pa.string()),
    })
    _write(dir_, "events", table, files)
    late = behind > WATERMARK_MINUTES * 60_000_000
    return {"table": "events", "rows": rows, "users": users,
            "late_share": round(float(late.mean()), 4),
            "days": EVENT_DAYS, "files": files}


GENERATORS = {"zipf_corpus": zipf_corpus, "events": events}


def materialize(dir_, kind, seed, params):
    """Generate into `dir_` unless a finished copy is there; return the
    input properties plus the on-disk byte count."""
    done = os.path.join(dir_, "props.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    tmp = dir_ + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    props = GENERATORS[kind](tmp, seed, **params)
    props["seed"] = seed
    engine = os.path.join(tmp, f"{props['table']}.parquet")
    props["bytes"] = sum(os.path.getsize(os.path.join(engine, f))
                         for f in os.listdir(engine))
    with open(os.path.join(tmp, "props.json"), "w") as f:
        json.dump(props, f)
    os.rename(tmp, dir_)
    return props
