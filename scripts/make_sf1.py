#!/usr/bin/env python
"""Materialize an sf1.0 dataset (~10x sf0.1) for the absolute scale
curve (VERDICT r13 next-round #3).

/root/testdata is read-only and the driver's generator is not
available, so sf1 is derived deterministically from sf0.1 the way the
weak-scaling probes grow (scripts/scale_probe.py): TEN replicas with
SHIFTED KEY SPACES — more customers/orders/signals/docs, never hotter
ones — with every foreign key shifted consistently so replica k's
orders reference replica k's customers and join semantics scale
instead of skewing. Replica 0 is byte-identical to sf0.1.

Two columns are perturbed per replica (k > 0) so corpus semantics
scale honestly rather than becoming 10x literal duplicates:
- documents.text: words PERMUTED by a per-replica stride coprime to
  the word count (unigram stats, token counts and lengths preserved;
  n_chars recomputed). The first cut used a plain rotation, which
  preserves every interior 3-shingle — each replica was a
  shingle-space near-copy of its source doc. Stride permutation
  places consecutive output words stride-s apart in the original, so
  each replica carries a fresh shingle set. NOTE the measured limit:
  the driver corpus has a 31-word vocabulary, so the trigram universe
  (31^3 ~ 29.8k) is already 91% saturated at sf0.1 (27,213 distinct
  shingles) and 99% at sf1 (29,437). Shingle DF therefore grows
  ~linearly with the corpus (median 9 -> 95, postings exactly 10.0x)
  under ANY permutation scheme — and the ngram-overlap pair count
  grows ~quadratically as a property of the corpus itself, not of the
  generator. See SCALING.md's sf1 section for the output-bound
  adjudication of q_ngram_containment/q_ngram_jaccard.
- embeddings.embedding[0]: += k/1024 (exact in float32) — distinct
  vectors, no rank ties from 10 identical copies.

Pure pyarrow/pandas — no RNG, no Spark, bit-reproducible. Output
parquet row groups are 256k rows so Spark splits the single files
into parallel scan tasks.

Usage: python scripts/make_sf1.py  (writes testdata_sf1 at the repo root)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = os.environ.get("SPARK_TSDB_SF1_SRC", "/root/testdata/sf0.1")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST = os.environ.get("SPARK_TSDB_SF1_DST", os.path.join(ROOT, "testdata_sf1"))
FACTOR = int(os.environ.get("SPARK_TSDB_SF1_FACTOR", "10"))
ROW_GROUP = 262_144

# key column -> stride (max+1 in sf0.1, verified by the __main__ guard)
STRIDES = {
    "c_custkey": 15_000,
    "s_suppkey": 1_000,
    "p_partkey": 20_000,
    "o_orderkey": 150_000,
    "user_id": 1_500,
    "event_id": 100_000,
    "doc_id": 5_000,
    "vec_id": 2_000,
}
TABLES = {
    # table -> columns to shift (FKs use the referenced key's stride)
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "c_custkey"},
    "supplier": {"s_suppkey": "s_suppkey"},
    "part": {"p_partkey": "p_partkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {
        "l_orderkey": "o_orderkey",
        "l_partkey": "p_partkey",
        "l_suppkey": "s_suppkey",
    },
    "events": {"user_id": "user_id", "event_id": "event_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}


_STRIDES = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41]


def _doc_transform(tk: pa.Table, k: int) -> pa.Table:
    from math import gcd

    pdf = tk.to_pandas()
    base = _STRIDES[(k - 1) % len(_STRIDES)]

    def perm(s: str) -> str:
        w = s.split(" ")
        n = len(w)
        if n < 2:
            return s
        stride = base
        while gcd(stride, n) != 1:  # bijection needs gcd(stride, n) == 1
            stride += 1
        return " ".join(w[(j * stride + k) % n] for j in range(n))

    pdf["text"] = pdf["text"].map(perm)
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    return pa.Table.from_pandas(pdf, preserve_index=False)


def _emb_transform(tk: pa.Table, k: int) -> pa.Table:
    pdf = tk.to_pandas()
    d = np.float32(k) / np.float32(1024.0)

    def pert(a):
        b = np.asarray(a, dtype=np.float32).copy()
        b[0] = b[0] + d
        return b

    pdf["embedding"] = pdf["embedding"].map(pert)
    return pa.Table.from_pandas(pdf, preserve_index=False)


TRANSFORMS = {"documents": _doc_transform, "embeddings": _emb_transform}


def replicate(name: str) -> None:
    t = pq.read_table(f"{SRC}/{name}.parquet")
    schema = t.schema
    shifts = TABLES[name]
    parts = [t]
    reps = FACTOR if shifts else 1  # fixed dims stay single-copy
    for k in range(1, reps):
        cols = {}
        for field in schema.names:
            col = t.column(field)
            if field in shifts:
                col = pc.add(col, k * STRIDES[shifts[field]])
            cols[field] = col
        tk = pa.table(cols)
        if name in TRANSFORMS:
            tk = TRANSFORMS[name](tk, k)
        parts.append(tk.cast(schema))
    out = pa.concat_tables(parts)
    pq.write_table(out, f"{DST}/{name}.parquet", row_group_size=ROW_GROUP)
    print(f"{name}: {t.num_rows} -> {out.num_rows} rows")


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    # verify the strides really clear the source key spaces — a key
    # collision would silently fuse replicas
    import duckdb

    for key, stride in STRIDES.items():
        table = next(
            n for n, s in TABLES.items() if key in s.values() and key in s
        )
        mx = duckdb.sql(
            f"SELECT max({key}) FROM '{SRC}/{table}.parquet'"
        ).fetchone()[0]
        assert mx < stride, (key, mx, stride)
    for name in TABLES:
        replicate(name)


if __name__ == "__main__":
    main()
