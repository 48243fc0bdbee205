"""Seeded inputs for the benchmark workloads.

Tables follow the schemas and marginals of the sf0.1 fixtures through
`tools/gen_sf.py`'s generators (its documents model included), drawn
from `numpy.random.default_rng(seed)`, and are written as multi-part
parquet directories (a single-file table scans on one core). The same
seed gives byte-identical files.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import gen_sf  # noqa: E402

PARTS = 4

# rows per table, per workload
SIZES = {
    "batch_telemetry": {"events": 100_000, "documents": 5_000},
    "stream_detect": {"events": 60_000},
    "index_serve": {"documents": 2_000, "feed_documents": 1_000,
                    "embeddings": 1_000, "feed_embeddings": 500},
}


def write(table, path):
    rows = -(-table.num_rows // PARTS)
    gen_sf.write_parts(table, path, rows)


def generate(workload, seed, out):
    """Write the workload's tables under `out`; return {table: rows}."""
    rng = np.random.default_rng(seed)
    size = SIZES[workload]
    rows = {}
    if "events" in size:
        n = size["events"]
        write(gen_sf.gen_events(rng, n, max(10, n // 67)),
              f"{out}/events.parquet")
        rows["events"] = n
    if workload == "batch_telemetry":
        write(gen_sf.gen_documents(rng, size["documents"]),
              f"{out}/documents.parquet")
        rows["documents"] = size["documents"]
    if workload == "index_serve":
        nd, fd = size["documents"], size["feed_documents"]
        docs = gen_sf.gen_documents(rng, nd + fd)
        write(docs.slice(0, nd), f"{out}/base/documents.parquet")
        write(docs.slice(nd), f"{out}/feed/documents.parquet")
        ne, fe = size["embeddings"], size["feed_embeddings"]
        emb = gen_sf.gen_embeddings(rng, ne + fe)
        write(emb.slice(0, ne), f"{out}/base/embeddings.parquet")
        write(emb.slice(ne), f"{out}/feed/embeddings.parquet")
        rows.update({"base/documents": nd, "feed/documents": fd,
                     "base/embeddings": ne, "feed/embeddings": fe})
    return rows


def census(out):
    """Files, bytes and a content digest of everything under `out`."""
    files, size = 0, 0
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(out)):
        for name in sorted(names):
            p = os.path.join(d, name)
            files += 1
            size += os.path.getsize(p)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return {"files": files, "bytes": size, "sha256": h.hexdigest()}


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(generate(w, s, o), census(o))
