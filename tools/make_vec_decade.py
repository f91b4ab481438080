"""Generate the /tmp/sf100vec VECTOR-decade replica: embeddings only,
``replicas`` seeded copies of /root/testdata/sf0.1/embeddings.parquet
(default 1000 -> 2,000,000 vectors) — the decade PAST the flat coarse
quantizer's k=1024 cap (N > 1,048,576), where adaptive_coarse_shape
switches the kmeans family to the IMI grid (VERDICT r8 #3).

Same recipe as tools/make_sf1.py's embeddings leg: replica 0 verbatim,
replicas 1..R-1 fresh seeded unit-norm gaussian directions (float32) with
key-shifted vec_ids — the ANN corpus grows without planted structure.
Written in chunks via pyarrow so the builder never holds the full frame.

Usage: python tools/make_vec_decade.py [dst_dir] [replicas] [src_dir]
       python tools/make_vec_decade.py dst --clustered N [K] [SIGMA]

--clustered (r11, VERDICT r10 #4): a mixture-of-Gaussians corpus —
the REALISTIC embedding shape (real corpora cluster; uniform vectors
are the structureless worst case the r10 recall numbers were read
on). N total vectors over K seeded unit-norm centers; each vector is
normalize(center + sigma·gauss). sigma=0.09 at dim 64 puts
within-cluster cosine ≈ 0.8 — the ballpark of same-topic sentence
embeddings. The recall curves in RECALL_CURVES_r11.json were measured
on it, backing the adaptive_imi_nprobe docstring claim ("clustered
corpora reach the same recall at far smaller probed fractions").
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DST = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100vec"
REPLICAS = int(sys.argv[2]) if len(sys.argv) > 2 and sys.argv[2] != "--clustered" else 1000
SRC = sys.argv[3] if len(sys.argv) > 3 and "--clustered" not in sys.argv else "/root/testdata/sf0.1"


def make_clustered(dst: str, n: int, k: int, sigma: float, dim: int = 64,
                   seed: int = 77, chunk: int = 200_000) -> None:
    """Mixture-of-Gaussians embeddings.parquet: ids 0..n-1 (queries are
    vec_id < 5 by the registry convention), cluster of each vector drawn
    uniformly, all float32 like the testdata corpus."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    writer = None
    try:
        for s in range(0, n, chunk):
            m = min(chunk, n - s)
            cid = rng.integers(0, k, size=m)
            x = centers[cid] + sigma * rng.standard_normal((m, dim))
            x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
            pdf = pd.DataFrame(
                {
                    "vec_id": np.arange(s, s + m, dtype=np.int64),
                    "embedding": list(x),
                    "label": cid.astype(np.int64),
                }
            )
            tbl = pa.Table.from_pandas(pdf, preserve_index=False)
            if writer is None:
                writer = pq.ParquetWriter(f"{dst}/embeddings.parquet", tbl.schema)
            writer.write_table(tbl)
    finally:
        if writer is not None:
            writer.close()
    print(f"clustered embeddings: {n} rows, {k} centers, sigma={sigma}, dim={dim}")


def main() -> None:
    if "--clustered" in sys.argv:
        i = sys.argv.index("--clustered")
        n = int(sys.argv[i + 1])
        k = int(sys.argv[i + 2]) if len(sys.argv) > i + 2 else 1000
        sigma = float(sys.argv[i + 3]) if len(sys.argv) > i + 3 else 0.09
        make_clustered(DST, n, k, sigma)
        return
    os.makedirs(DST, exist_ok=True)
    emb = pd.read_parquet(f"{SRC}/embeddings.parquet")
    v_span = int(emb["vec_id"].max()) + 1
    dim = len(emb["embedding"].iloc[0])
    writer = None
    try:
        for i in range(REPLICAS):
            rep = emb.copy()
            rep["vec_id"] = rep["vec_id"] + i * v_span
            if i > 0:
                rng = np.random.default_rng(1000 + i)
                mat = rng.standard_normal(size=(len(emb), dim))
                mat = (mat / np.linalg.norm(mat, axis=1, keepdims=True)).astype(
                    np.float32
                )
                rep["embedding"] = list(mat)
            tbl = pa.Table.from_pandas(rep, preserve_index=False)
            if writer is None:
                writer = pq.ParquetWriter(f"{DST}/embeddings.parquet", tbl.schema)
            writer.write_table(tbl)
    finally:
        if writer is not None:
            writer.close()
    n = pq.read_metadata(f"{DST}/embeddings.parquet").num_rows
    print(f"embeddings: {n} rows ({REPLICAS} replicas x {len(emb)}, dim {dim})")


if __name__ == "__main__":
    main()
