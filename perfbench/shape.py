"""Compare the generated inputs with an sf test table directory on the
properties the lanes' work depends on.

    python3 perfbench/shape.py --seed 1 --reference <sf dir>

Generates both workloads' default inputs for ``--seed`` under
``.perfbench/shape/`` and prints one JSON object per source: document
tokens and 3-gram statistics (d02/d03's candidate work), the nearest
neighbour cosine of the vectors (d08/d11), the event feed's density
(st01–st04), and each dedup lane's output rows from its DuckDB twin.
``perfbench/README.md`` records the figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import workloads  # noqa: E402


def documents(path: str) -> dict:
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    toks = [t.split() for t in texts]
    lens = np.array([len(t) for t in toks])
    grams = [set(zip(t, t[1:], t[2:])) for t in toks]
    df = Counter(g for s in grams for g in s)
    return {
        "documents": len(texts),
        "tokens_per_doc_p10_p50_p90": np.percentile(lens, [10, 50, 90]).tolist(),
        "words": len({w for t in toks for w in t}),
        "near_dup_share": sum(t[-1].startswith("dup") for t in toks) / len(toks),
        "distinct_3grams": len(df),
        "docs_per_3gram": round(float(np.mean(list(df.values()))), 2),
        "pair_join_rows_per_doc": round(sum(v * (v - 1) // 2 for v in df.values()) / len(toks), 1),
    }


def embeddings(path: str) -> dict:
    col = pq.read_table(path, columns=["embedding"]).column("embedding").combine_chunks()
    x = col.flatten().to_numpy().astype(np.float64).reshape(len(col), -1)
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    sim = u @ u.T
    np.fill_diagonal(sim, -1.0)
    return {"vectors": len(x), "dims": x.shape[1],
            "nearest_cosine_p50_p99": np.round(np.percentile(sim.max(1), [50, 99]), 3).tolist()}


def events(paths: list[str]) -> dict:
    ev = pa.concat_tables(pq.read_table(p) for p in paths).to_pandas()
    per_user = ev.user_id.value_counts()
    gaps = np.diff(ev.ts.values.astype("int64")) / 1e6
    return {"events": len(ev), "users": int(ev.user_id.nunique()),
            "events_per_user_p50": float(per_user.median()),
            "gap_s_mean": round(float(gaps.mean()), 2),
            "span_days": round(float((ev.ts.max() - ev.ts.min()).total_seconds()) / 86400, 2),
            "repeated_events": int(ev.duplicated(["event_id", "ts"]).sum())}


def profile(docs_dir: str, event_files: list[str]) -> dict:
    out = {"documents": documents(os.path.join(docs_dir, "documents.parquet")),
           "embeddings": embeddings(os.path.join(docs_dir, "embeddings.parquet")),
           "events": events(event_files)}
    out["lane_output_rows"] = {k: len(rows) for k, (_, rows) in workloads.dedup_oracles(ROOT, docs_dir).items()}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reference", help="an sf test table directory")
    args = ap.parse_args()
    out = os.path.join(ROOT, ".perfbench", "shape")
    shutil.rmtree(out, ignore_errors=True)
    gen.generate("corpus_dedup", args.seed, out)
    manifest = gen.generate("stream_ingest", args.seed, out)
    parts = [os.path.join(out, k) for k in sorted(manifest["files"])]
    print(json.dumps({"generated": profile(out, parts)}))
    if args.reference:
        ref = args.reference
        print(json.dumps({"reference": profile(ref, [os.path.join(ref, "events.parquet")])}))
    shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
