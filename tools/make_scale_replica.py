"""Generate a larger scale factor by k-fold replication of an existing
testdata directory — a third point for a per-query scaling curve.

Each copy i offsets every entity-key column by ``(max(key)+1) * i``,
with one shared offset per key DOMAIN (custkey/orderkey/partkey/
suppkey/user_id/...) so foreign keys keep referencing the copy they
came from: copy-2 orders point at copy-2 customers, and per-key
cardinalities (orders per customer, lineitems per order, events per
user) match the source distribution exactly. Fixed-size dimensions
(nation, region) are copied once — they do not scale with SF in TPC-H
either.

Usage:  python tools/make_scale_replica.py SRC_DIR DST_DIR K
        (idempotent: skips when DST_DIR already has a lineitem file)
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MANIFEST = "replica_manifest.json"

# key-domain → (table that owns the domain, column holding it there)
KEY_DOMAINS = {
    "custkey": ("customer", "c_custkey"),
    "orderkey": ("orders", "o_orderkey"),
    "partkey": ("part", "p_partkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "user": ("events", "user_id"),
    "event": ("events", "event_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}

# table → {column: key-domain}; every listed column is offset per copy
OFFSET_COLUMNS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}

COPY_ONCE = ("nation", "region")


def _domain_bases(src: str) -> dict[str, int]:
    bases: dict[str, int] = {}
    for dom, (table, col) in KEY_DOMAINS.items():
        path = os.path.join(src, f"{table}.parquet")
        t = pq.read_table(path, columns=[col])
        bases[dom] = int(pc.max(t[col]).as_py()) + 1
    return bases


def _perturb_text(col: pa.ChunkedArray, copy_idx: int) -> pa.Array:
    """Deterministically decorrelate copy ``copy_idx`` text from the
    source: insert a per-copy marker token after every 4th word, so
    every word-5-gram shingle (functions/hashing.py SHINGLE_W=5)
    contains a marker and shares NOTHING with the original's shingle
    set. Without this, k-fold replication makes every document a k-way
    exact clone and the dedup/similarity scaling point measures a
    duplicate-pathology workload (k² pairs per LSH bucket) instead of
    genuine SF growth."""
    marker = f"cp{copy_idx}x"
    out = []
    for chunk in col.chunks:
        vals = []
        for v in chunk.to_pylist():
            if v is None:
                vals.append(None)
                continue
            w = v.split(" ")
            vals.append(
                " ".join(
                    tok
                    for j, word in enumerate(w)
                    for tok in ((word, marker) if j % 4 == 3 else (word,))
                )
            )
        out.append(pa.array(vals, type=pa.string()))
    return pa.chunked_array(out)


def _perturb_embedding(col: pa.ChunkedArray, copy_idx: int) -> pa.ChunkedArray:
    """np.roll each vector by ``copy_idx`` positions — norm-preserving,
    deterministic, and (for i.i.d.-ish components) decorrelates the
    copy from its source so cosine top-k is not saturated by exact
    clone vectors at similarity 1.0."""
    out = []
    for chunk in col.chunks:
        mat = np.array(chunk.to_pylist(), dtype=np.float32)
        rolled = np.roll(mat, copy_idx, axis=1)
        out.append(pa.array(rolled.tolist(), type=col.type))
    return pa.chunked_array(out)


def _manifest(src: str, k: int) -> dict:
    li = os.path.join(src, "lineitem.parquet")
    try:
        st = os.stat(li)
        tok = [int(st.st_mtime), st.st_size]
    except OSError:
        tok = None
    return {"source": os.path.realpath(src), "k": k, "source_lineitem": tok}


def manifest_matches(src: str, dst: str, k: int) -> bool:
    """True iff ``dst`` holds a replica of exactly this (src, k) and
    the source file has not been regenerated since."""
    try:
        with open(os.path.join(dst, MANIFEST)) as fh:
            return json.load(fh) == _manifest(src, k)
    except (OSError, ValueError):
        return False


def replicate(src: str, dst: str, k: int, force: bool = False) -> None:
    if not force and manifest_matches(src, dst, k):
        return
    os.makedirs(dst, exist_ok=True)
    bases = _domain_bases(src)
    for name in COPY_ONCE:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        pq.write_table(t, os.path.join(dst, f"{name}.parquet"))
    for name, cols in OFFSET_COLUMNS.items():
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        copies = [t]
        for i in range(1, k):
            arrays = []
            for field in t.schema:
                col = t[field.name]
                if field.name in cols:
                    off = bases[cols[field.name]] * i
                    col = pc.add(col, pa.scalar(off, type=field.type))
                elif name == "documents" and field.name == "text":
                    col = _perturb_text(col, i)
                elif name == "embeddings" and field.name == "embedding":
                    col = _perturb_embedding(col, i)
                arrays.append(col)
            copies.append(pa.table(arrays, schema=t.schema))
        pq.write_table(
            pa.concat_tables(copies), os.path.join(dst, f"{name}.parquet")
        )
    with open(os.path.join(dst, MANIFEST), "w") as fh:
        json.dump(_manifest(src, k), fh)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_data",
        "sf0.5",
    )
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    replicate(src, dst, k)
    print(dst)


if __name__ == "__main__":
    main()
