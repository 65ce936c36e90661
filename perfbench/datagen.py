"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: numpy's PCG64 stream
drives all draws, so the same seed writes byte-identical parquet. The
shapes follow the engine's testdata (same column names and physical
types, a 31-word corpus vocabulary with planted near-duplicates, orders
spanning 1995-2001), so registry queries and their DuckDB oracles run
unchanged over the generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a the join hash row batch scan customer column filter small slow "
    "merge order vector line data table agg value key stream window "
    "spark group part big sort query fast"
).split()
# a few marker words per language so lang_id has signal beyond "en"
LANG_WORDS = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "los", "que"],
    "fr": ["le", "les", "des", "une"],
    "de": ["der", "und", "die", "das"],
    "zh": [],
}
LANGS = list(LANG_WORDS)
EMBEDDING_DIM = 64
EPOCH_1995 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - EPOCH_1995).astype(int))


def corpus_tables(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """documents (with planted near- and exact duplicates) and clustered
    embeddings.

    The seed draws the words. Which documents duplicate which, which
    words a near-duplicate replaces, document lengths and languages come
    from a fixed stream, so every seed plants the same duplicate
    structure and a pass does the same work: over 20 seeds the near-dup
    graph had 204-208 edges and the k-core peeled in 3 rounds on 19.
    """
    rng = np.random.default_rng([seed, 2])
    shape = np.random.default_rng([0, 2])
    texts: list[str] = []
    langs = shape.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    for i in range(n_docs):
        r = shape.random()
        base_i = int(shape.integers(0, max(i, 1)))
        n = int(shape.integers(8, 90))
        if i >= 10 and r < 0.04:
            # exact duplicate of an earlier document
            texts.append(texts[base_i])
            continue
        if i >= 10 and r < 0.25:
            # near-duplicate: an earlier document with ~10% of its words
            # replaced, tagged the way the testdata tags them
            base = texts[base_i].split(" ")
            for j in np.nonzero(shape.random(len(base)) < 0.1)[0]:
                base[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(base + ["dup"]))
            continue
        words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), n)]
        markers = LANG_WORDS[str(langs[i])]
        for j in rng.integers(0, n, 3 if markers else 0):
            words[j] = markers[int(rng.integers(0, len(markers)))]
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n_labels = 10
    centers = rng.normal(size=(n_labels, EMBEDDING_DIM))
    labels = rng.integers(0, n_labels, n_docs)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_docs, EMBEDDING_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype("float32")), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def order_batches(
    seed: int, n_seed_rows: int, n_batches: int, batch_rows: int
) -> list[pa.Table]:
    """Lakehouse inputs: a seed batch then ``n_batches`` append batches of
    order rows with globally unique keys (okey, priority, status,
    total_cents, odate)."""
    rng = np.random.default_rng([seed, 3])
    out = []
    start = 0
    for n in [n_seed_rows] + [batch_rows] * n_batches:
        out.append(
            pa.table(
                {
                    "okey": pa.array(np.arange(start, start + n), pa.int64()),
                    "priority": rng.choice(PRIORITIES, n),
                    "status": rng.choice(["F", "O", "P"], n),
                    "total_cents": pa.array(
                        rng.integers(100_000, 50_000_000, n), pa.int64()
                    ),
                    "odate": pa.array(
                        EPOCH_1995 + rng.integers(0, ORDER_DAYS + 1, n).astype(
                            "timedelta64[D]"
                        ),
                        pa.date32(),
                    ),
                }
            )
        )
        start += n
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
