"""Seeded inputs, generated before any timed window.

The chain is derived from a seeded ``events`` table (the testdata
schema) by the program's own seven-class recipe,
``plans.chain.derive_chain``, so the registry's DuckDB oracles, which
read the same events table, know every expected output. The corpus
follows ``tools/gen_stress.py`` (Zipf vocabulary, planted near
duplicates, clustered embeddings) at a size a few-core box finishes
in one job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_events(sf_dir: str, seed: int, n_events: int, n_users: int) -> None:
    """Events in the testdata schema; event e becomes a tx in block
    12_600_000 + e // 10, so every event block holds 10 tx."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    base_us = 1_600_000_000 * 10**6
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(base_us + rng.integers(0, 90 * 86400, n_events) * 10**6, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": pa.array(
                rng.choice(
                    ["click", "purchase", "view", "signup", "error"],
                    n_events,
                    p=[0.5, 0.2, 0.2, 0.05, 0.05],
                ).tolist()
            ),
            "value": pa.array(np.round(rng.uniform(1, 500, n_events), 2)),
            "props": pa.array(["{}"] * n_events),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))


def chain_feed(spark, sf_dir: str):
    """The derived chain as FEED_SCHEMA rows (pandas), ordered by block
    and tx index."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from blockchain_indexer_spark.plans.chain import derive_chain
    from blockchain_indexer_spark.streaming.runner import FEED_SCHEMA

    chain = derive_chain(spark, sf_dir)
    feed = chain.select(
        "block_number",
        "block_hash",
        F.col("timestamp").cast("long").alias("block_timestamp"),
        F.count("*").over(Window.partitionBy("block_number")).cast("int").alias("total_transaction_count"),
        *FEED_SCHEMA.fieldNames()[4:],
    )
    return feed.toPandas().sort_values(["block_number", "index"], ignore_index=True)


def write_corpus(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """documents + embeddings in the testdata schema (dim 64, the
    width the IVF-PQ oracle's 16 x 4 sub-vectors assume)."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    vocab = [f"w{i:04d}" for i in range(2_000)]
    lens = rng.integers(30, 90, n_docs)
    words = rng.zipf(1.3, size=int(lens.sum())) % len(vocab)
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(vocab[t] for t in words[pos : pos + n]))
        pos += n
    # plant ~3% near duplicates: an earlier document plus one word
    for i in rng.integers(1, n_docs, n_docs // 30):
        texts[int(i)] = texts[int(i) // 2] + " w0001"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(rng.choice(["en", "de", "fr", "es"], n_docs).tolist()),
                "source": pa.array(rng.choice(["web", "wiki", "books", "code", "news"], n_docs).tolist()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    dim, k = 64, 16
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n_vecs)
    emb = (centers[label] + rng.normal(0, 0.35, (n_vecs, dim))).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
                "label": pa.array(label.astype(np.int32)),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
