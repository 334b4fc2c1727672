"""Seeded input generators for the benchmark.

Every table uses the physical schema of graft's test corpora:

- events:     event_id int64, ts timestamp[us] (naive, UTC wall clock),
              user_id int64, event_type string, value double, props string
- documents:  doc_id int64, text string, lang string, source string,
              n_chars int64
- embeddings: vec_id int64, embedding list<float32> (64-d), label int32

`ts` is a naive microsecond timestamp, so Spark reads it as
TIMESTAMP_NTZ and DuckDB reads the same instants. The same seed always
gives the same bytes of data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
COUNTERS = {"click", "view", "purchase"}   # monotone with rare resets
JAN_2024_US = 1704067200 * 1_000_000       # 2024-01-01T00:00:00Z
HOUR_US = 3600 * 1_000_000

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def scrape_samples(rng, users, interval_s, start_us, end_us):
    """Scrape-like samples: every (user_id, event_type) series is read
    every `interval_s` seconds from its own phase, with up to 50 ms of
    jitter. Counters grow by small whole steps and reset rarely; gauges
    walk in cents. Returns columns sorted by (ts, user_id, event_type)."""
    step_us = interval_s * 1_000_000
    n = (end_us - start_us) // step_us
    cols = {"ts": [], "user_id": [], "event_type": [], "value": []}
    for u in range(users):
        for t in EVENT_TYPES:
            phase = int(rng.integers(0, step_us - 100_000))
            ts = start_us + phase + np.arange(n, dtype=np.int64) * step_us \
                + rng.integers(0, 50_000, n)
            if t in COUNTERS:
                inc = rng.poisson(3.0, n).astype(np.float64)
                v = np.cumsum(inc)
                resets = np.flatnonzero(rng.random(n) < 1e-3)
                for r in resets:           # a restart drops the counter to 0
                    v[r:] -= v[r]
            else:
                v = np.round(np.abs(np.cumsum(rng.normal(0, 2.0, n))) + 10.0, 2)
            cols["ts"].append(ts)
            cols["user_id"].append(np.full(n, u, dtype=np.int64))
            cols["event_type"].append(np.full(n, EVENT_TYPES.index(t), dtype=np.int8))
            cols["value"].append(v)
    ts = np.concatenate(cols["ts"])
    uid = np.concatenate(cols["user_id"])
    et = np.concatenate(cols["event_type"])
    val = np.concatenate(cols["value"])
    order = np.lexsort((et, uid, ts))
    return ts[order], uid[order], et[order], val[order]


def events_table(rng, ts, uid, et, val):
    props = pa.array([f'{{"k": {x}}}' for x in range(100)], pa.string()) \
        .take(pa.array(rng.integers(0, 100, len(ts))))
    types = pa.array(EVENT_TYPES, pa.string())
    return pa.table([
        pa.array(np.arange(len(ts), dtype=np.int64)),
        pa.array(ts, pa.timestamp("us")),
        pa.array(uid, pa.int64()),
        types.take(pa.array(et.astype(np.int32))),
        pa.array(val, pa.float64()),
        props,
    ], schema=EVENTS_SCHEMA)


def write_events(out_dir, seed, users, interval_s, files, row_group,
                 days=31):
    """Time-sorted events split by time into `files` files of
    `row_group`-row groups under `out_dir/events.parquet/`. Returns the
    sample count."""
    rng = np.random.default_rng(seed)
    ts, uid, et, val = scrape_samples(
        rng, users, interval_s, JAN_2024_US, JAN_2024_US + days * 24 * HOUR_US)
    table = events_table(rng, ts, uid, et, val)
    d = os.path.join(out_dir, "events.parquet")
    os.makedirs(d, exist_ok=True)
    per = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(d, f"part-{i:05d}.parquet"),
                       row_group_size=row_group)
    return table.num_rows


def write_ingest_batches(out_dir, seed, users, interval_s, batches,
                         batch_hours):
    """`batches` consecutive time slices of scrape data, each
    `batch_hours` long, as one parquet file per batch under
    `out_dir/batch-NNNNN.parquet`. Returns the samples per batch."""
    rng = np.random.default_rng(seed)
    span = batches * batch_hours * HOUR_US
    ts, uid, et, val = scrape_samples(rng, users, interval_s, JAN_2024_US,
                                      JAN_2024_US + span)
    table = events_table(rng, ts, uid, et, val)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.searchsorted(
        ts, JAN_2024_US + np.arange(batches + 1) * batch_hours * HOUR_US)
    out = []
    for b in range(batches):
        lo, hi = int(bounds[b]), int(bounds[b + 1])
        p = os.path.join(out_dir, f"batch-{b:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), p)
        out.append(hi - lo)
    return out


WORDS = ("a the data spark table stream batch line column order small sort "
         "fast value scan hash slow group agg filter query big key window "
         "row part merge join vector customer index chunk series metric "
         "label sample rollup cache store shard token text model train "
         "eval split dedup near exact score rank").split()
LANGS = ["en", "en", "en", "en", "de", "fr", "zh", "es"]


def write_corpus(out_dir, seed, docs, vecs, exact_share, near_share,
                 clusters=10, dim=64):
    """A curation shard: `docs` documents of which `exact_share` are exact
    copies of an earlier document and `near_share` are near copies (a
    few words replaced), plus `vecs` clustered `dim`-d embeddings with
    their cluster as the label."""
    rng = np.random.default_rng(seed)
    texts = []
    n_exact = int(docs * exact_share)
    n_near = int(docs * near_share)
    kinds = np.array([0] * (docs - n_exact - n_near) + [1] * n_exact + [2] * n_near)
    rng.shuffle(kinds[8:])                 # the first docs stay originals
    for i in range(docs):
        if kinds[i] == 0:
            n = int(rng.integers(12, 80))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
        else:
            src = texts[int(rng.integers(0, i))]
            if kinds[i] == 1:
                texts.append(src)
            else:
                toks = src.split()
                for _ in range(max(1, len(toks) // 20)):
                    toks[int(rng.integers(0, len(toks)))] = \
                        WORDS[int(rng.integers(0, len(WORDS)))]
                texts.append(" ".join(toks))
    documents = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), docs)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0, 0.2, (clusters, dim))
    labels = rng.integers(0, clusters, vecs)
    emb = (centers[labels] + rng.normal(0, 0.05, (vecs, dim))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return docs
