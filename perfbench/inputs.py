"""Seed-derived inputs for the benchmark workloads.

Everything a workload feeds the engine is generated here from the run's
seed, under the run's own directory: the same seed gives byte-identical
inputs, and the engine never sees the seed itself.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: corpus vocabulary: uniform draws over a small closed word set, like
#: the testdata documents table (30 words, 10..100 words per document)
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64
EMB_CLASSES = 10
#: candidates per synthetic host, on average: 1M candidates over
#: synthetic_candidates' default 10,000 hosts, kept at smaller batches
URLS_PER_HOST = 100
#: robots crawl delays of the synthetic hosts and their shares; the
#: budget floor(60 s / delay) is 400, 60, 12 or 2 URLs per round
CRAWL_DELAYS = [0.15, 1.0, 5.0, 30.0]
CRAWL_DELAY_P = [0.4, 0.3, 0.2, 0.1]


def candidate_offset(seed: int) -> int:
    """Start id for `benchflow.synthetic_candidates`: each seed selects a
    distinct, non-overlapping id range of the synthetic URL space."""
    return (seed % 1_000_003) * 10_000_000


def round_start(seed: int, r: int, batch: int) -> int:
    """Id range start of crawl round r: consecutive batches overlap by
    half, so about half of every batch after the first is already seen."""
    return candidate_offset(seed) + r * (batch // 2)


def n_hosts(batch: int) -> int:
    """Synthetic host count for a batch size: URLS_PER_HOST per host, so
    the per-host load, and with it which budgets bind, stays the same
    at smaller batches."""
    return max(10, batch // URLS_PER_HOST)


def make_robots(path: str, seed: int, hosts: int) -> str:
    """robots.parquet for the synthetic hosts h<rank>.example.com, rank
    in [0, hosts): one row per host, a seed-drawn crawl delay from
    CRAWL_DELAYS, no allow/disallow rules; returns path."""
    rng = np.random.default_rng(seed)
    delays = rng.choice(CRAWL_DELAYS, size=hosts, p=CRAWL_DELAY_P)
    empty = pa.array([[]] * hosts, pa.list_(pa.string()))
    fetched = datetime.datetime(2026, 1, 1)
    pq.write_table(pa.table({
        "host": pa.array([f"h{k}.example.com" for k in range(hosts)]),
        "crawl_delay": pa.array(delays, pa.float64()),
        "disallow": empty,
        "allow": empty,
        "fetched_at": pa.array([fetched] * hosts, pa.timestamp("ms")),
    }), path)
    return path


def make_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """documents.parquet + embeddings.parquet with the schemas the
    registry's corpus queries read; returns out_dir.

    About 5% of documents are near-duplicates of an earlier document
    (one word replaced by 'dup'), so the dedup queries have clusters to
    find; embeddings are Gaussian blobs around EMB_CLASSES centroids."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(vocab),
                                            int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    centroids = rng.normal(0.0, 1.0, (EMB_CLASSES, EMB_DIM))
    labels = rng.integers(0, EMB_CLASSES, n_vecs)
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
