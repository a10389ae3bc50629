"""Seeded input generator for the benchmark workloads.

Everything here is pure NumPy/PyArrow in the calling process: no Spark,
no threads, no writes outside the directory it is given. The same
``(seed, size)`` always yields byte-identical parquet files.

The shapes are those of the engine's sf0.1 test tables (``documents``,
``embeddings``, ``events``): the same columns, types, vocabulary,
distributions and near-duplicate share. ``shape.py`` measures the
properties the lanes depend on, for a generated input and for an sf
table directory side by side; perfbench/README.md records both.

- ``documents`` / ``embeddings`` (corpus_dedup): the corpus is ``blocks``
  seeded copies of a block shaped like sf0.1's (which holds 5,000
  documents and 2,000 vectors; see ``vocab_size`` for a smaller block).
  Block k > 0 suffixes every token with ``zz<k>``, as
  tools/bench_heavy_sfx.py does, so the blocks' shingle vocabularies are
  disjoint and candidate-pair counts grow linearly with the corpus
  instead of quadratically. A document has 10–100 tokens drawn from the
  sf tables' 30-word vocabulary (its first ``vocab_size`` words for a
  smaller block); 5% are near-duplicates (an earlier
  document of the block plus a trailing ``dup`` token). Vectors are
  random 64-d unit vectors with ten labels and no planted near-dups.
- ``events`` (stream_ingest): sf0.1's event feed (100,000 time-ordered
  events over 30 days and 1,500 users, exponential gaps) split into
  ``files`` parquet parts at seeded cut points (sizes within ±2% of even).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf tables' document vocabulary.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SOURCES = 20
SF01_DOCS = 5000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DIM = 64

# Named input sizes. "default" is one block of 40% of sf0.1's size, the
# largest that keeps a full measurement inside its time budget (README,
# "Why this size"); "tiny" exists for the smoke test only.
SIZES = {
    "default": {"doc_blocks": 1, "docs_per_block": 2000, "vectors_per_block": 800,
                "events": 100_000, "users": 1500, "files": 24, "per_pass": 2,
                "cold_parts": 4},
    "tiny": {"doc_blocks": 2, "docs_per_block": 60, "vectors_per_block": 60,
             "events": 2000, "users": 20, "files": 10, "per_pass": 2,
             "cold_parts": 2},
}


def vocab_size(per_block: int) -> int:
    """Words per block: sf0.1's 30 words for its 5,000 documents, scaled
    with the cube root of the block size so that a 3-gram occurs in as
    many documents as in sf0.1 (about ten). That keeps the 3-gram
    pair-join rows per document, and so d02's candidate work per
    document, at sf0.1's level for any block size."""
    return max(3, round(len(VOCAB) * (per_block / SF01_DOCS) ** (1 / 3)))


def _documents(rng: np.random.Generator, blocks: int, per_block: int) -> pa.Table:
    texts: list[str] = []
    words = VOCAB[:vocab_size(per_block)]
    for k in range(blocks):
        suffix = f"zz{k}" if k else ""
        vocab = np.array([w + suffix for w in words])
        block: list[str] = []
        for i in range(per_block):
            if i > 0 and rng.random() < 0.05:
                block.append(f"{block[int(rng.integers(0, i))]} dup{suffix}")
            else:
                n = int(rng.integers(10, 101))
                block.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
        texts.extend(block)
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{j % SOURCES}" for j in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM), pa.int32()), flat
        ),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span_us = 30 * 86400 * 10**6
    gaps = rng.exponential(span_us / n, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("int64")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _split_points(rng: np.random.Generator, n: int, files: int) -> list[int]:
    """Seeded cut points: part sizes vary between 0.98x and 1.02x of
    even. A landing's latency follows its part's size, so a wider jitter
    would make seeds differ in work, not only in content."""
    w = 0.98 + 0.04 * rng.random(files)
    cuts = np.round(np.cumsum(w / w.sum()) * n).astype(int)
    return [0, *cuts[:-1].tolist(), n]


def _write(table: pa.Table, path: str) -> None:
    # One file, one row group: the sf test tables' unsplittable shape.
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def generate(workload: str, seed: int, out_dir: str, size: str = "default") -> dict:
    """Write ``workload``'s inputs under ``out_dir``; return their manifest
    (row count and bytes per file, seed, size) for the run record."""
    cfg = SIZES[size]
    rng = np.random.default_rng([seed, 0x5EED])
    os.makedirs(out_dir, exist_ok=True)
    files: dict[str, dict] = {}

    def put(name: str, table: pa.Table) -> None:
        path = os.path.join(out_dir, name)
        _write(table, path)
        files[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}

    if workload == "corpus_dedup":
        put("documents.parquet", _documents(rng, cfg["doc_blocks"], cfg["docs_per_block"]))
        put("embeddings.parquet",
            _embeddings(rng, cfg["doc_blocks"] * cfg["vectors_per_block"]))
    elif workload == "stream_ingest":
        events = _events(rng, cfg["events"], cfg["users"])
        cuts = _split_points(rng, events.num_rows, cfg["files"])
        os.makedirs(os.path.join(out_dir, "parts"), exist_ok=True)
        for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
            put(f"parts/part-{i:03d}.parquet", events.slice(lo, hi - lo))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return {
        "seed": seed,
        "size": size,
        "dir": out_dir,
        "files": files,
    }
