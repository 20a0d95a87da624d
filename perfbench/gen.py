"""Seeded corpus inputs for the corpus_dedup and corpus_search workloads.

Mirrors the shapes of the repo's fixture generators so the contract
queries and their DuckDB oracle SQL read them unchanged:

- documents.parquet: the Heaps/Zipf text law of gen_docs_fixture.py's
  `heaps` mode (type inventory K*T^beta, Zipf(s) type frequencies),
  with the 30-word English vocabulary as the most frequent types so the
  language, BM25 and curation queries see real words. Two duplicate
  tiers: exact copies (doc i+1 = doc i for i % 500 == 0) and planted
  near-duplicates (doc i+1 = doc i with one word changed, i % 100 == 50,
  trigram Jaccard ~0.9). Every 40th doc carries an e-mail address and a
  long number for the PII redactor.
- embeddings.parquet: gen_docs_fixture.py's `emb` mode (64-dim
  N(0, 0.13) float32, labels 0..9) with planted near-neighbour pairs
  (vec[i+1] = vec[i] + small noise for i % 200 == 0).
- events.parquet: gen_testdata.py's events (monotone microsecond ts over
  January 2024, user ids, event types, values, json props).

The same seed writes byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream part scan slow agg key window table merge join "
         "the line small group batch data sort value hash filter big column "
         "order a vector spark fast customer").split()
LANGS = ["en", "de", "zh", "fr", "es"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
DAY_US = 86_400_000_000
BETA, K_HEAPS, ZIPF_S = 0.5, 10.0, 1.07


def documents(rng, n_doc):
    lens = rng.integers(8, 111, n_doc)
    total = int(lens.sum())
    n_types = max(1000, int(np.ceil(K_HEAPS * total ** BETA)))
    p = np.arange(1, n_types + 1, dtype=np.float64) ** -ZIPF_S
    p /= p.sum()
    toks = rng.choice(n_types, total, p=p)
    words = np.array(VOCAB + [f"w{i}" for i in range(len(VOCAB), n_types)])
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[toks[offs[i]:offs[i + 1]]]) for i in range(n_doc)]
    for i in range(0, n_doc - 1):
        if i % 500 == 0:
            texts[i + 1] = texts[i]
        elif i % 100 == 50:
            ws = texts[i].split(" ")
            ws[len(ws) // 2] = f"edit{i}"
            texts[i + 1] = " ".join(ws)
    for i in range(3, n_doc, 40):
        texts[i] += f" mail user{i}@example.org phone 555 01{i % 100:02d} {i:04d}"
    return pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n_vec):
    emb = np.round(rng.normal(0, 0.13, (n_vec, 64)), 8).astype(np.float32)
    planted = np.arange(0, n_vec - 1, 200)
    emb[planted + 1] = np.round(
        emb[planted] + rng.normal(0, 0.05 * 0.13, (len(planted), 64)),
        8).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array([e.tolist() for e in emb], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})


def events(rng, n_ev):
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    return pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 20), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 560, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})


def write(out_dir, seed, sizes):
    """Write the tables named in `sizes` ({table: rows}) under `out_dir`.
    Each table draws from its own stream, so resizing one leaves the
    others unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"documents": documents, "embeddings": embeddings, "events": events}
    for name, n in sizes.items():
        rng = np.random.default_rng([seed, list(makers).index(name)])
        pq.write_table(makers[name](rng, n), os.path.join(out_dir, f"{name}.parquet"))
