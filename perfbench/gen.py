#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Usage: python3 perfbench/gen.py OUT_DIR --seed N --copies F

Reads the base corpus under perfbench/base (the ten tables of the
engine's smallest input size, one parquet file each) and writes an
F-fold replica to OUT_DIR/<table>.parquet. The same seed and copy count
give byte-identical files.

The seed sets:
  - the row order of every table (a seeded permutation per table);
  - the per-copy transforms: which third of each document's tokens gets
    the copy tag, and the sign mask each embedding copy is multiplied by.

Replication keeps every copy looking like more corpus rather than more
duplicates:
  - key columns get a per-copy offset, so joins stay inside one copy;
  - nation and region are fixed dimensions and are written once;
  - in copies after the first, every third token of a document is tagged
    with the copy number. The other two thirds stay shared across copies,
    so a common token's document frequency grows with the corpus, while
    within-copy duplicate structure is preserved exactly;
  - embedding copies after the first are multiplied by a seeded +-1 sign
    mask, which keeps within-copy cosines exact and makes cross-copy
    vectors unrelated.
"""
import argparse
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "base")
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "dev"))
# key offsets and single-copy tables as in the repository's scale corpus
from make_scale_corpus import KEY_COLS, OFF, SINGLE_COPY  # noqa: E402

TABLES = SINGLE_COPY + list(KEY_COLS)


def table_rng(seed: int, name: str) -> np.random.Generator:
    digest = hashlib.md5(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def tag_text(text: str, copy: int, phase: int) -> str:
    toks = text.split(" ")
    tag = "~" + str(copy)
    if len(toks) < 3:
        return " ".join(t + tag for t in toks)
    return " ".join(t + tag if i % 3 == phase else t
                    for i, t in enumerate(toks))


def sign_mask(seed: int, copy: int, dim: int) -> np.ndarray:
    bits = [hashlib.md5(f"{seed}:{copy}:{i}".encode()).digest()[0] & 1
            for i in range(dim)]
    return np.where(np.array(bits) == 1, -1.0, 1.0).astype(np.float32)


def replace(tbl: pa.Table, name: str, values: pa.Array) -> pa.Table:
    i = tbl.schema.get_field_index(name)
    return tbl.set_column(i, tbl.schema.field(i), values)


def copy_table(name: str, tbl: pa.Table, copy: int, seed: int) -> pa.Table:
    out = tbl
    for c in KEY_COLS[name]:
        out = replace(out, c, pc.add(out.column(c),
                                     pa.scalar(copy * OFF, pa.int64())))
    if copy == 0:
        return out
    if name == "documents":
        phase = (seed + copy) % 3
        texts = [tag_text(t, copy, phase)
                 for t in out.column("text").to_pylist()]
        out = replace(out, "text", pa.array(texts, pa.string()))
        out = replace(out, "n_chars",
                      pa.array([len(t) for t in texts], pa.int64()))
    if name == "embeddings":
        embs = out.column("embedding").to_pylist()
        mask = sign_mask(seed, copy, len(embs[0]))
        flipped = [(np.asarray(e, np.float32) * mask).tolist() for e in embs]
        field = out.schema.field("embedding")
        out = replace(out, "embedding", pa.array(flipped, field.type))
    return out


def generate(out_dir: str, seed: int, copies: int) -> dict:
    """Write the replica; return {table: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in TABLES:
        base = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
        n = 1 if name in SINGLE_COPY else copies
        tbl = pa.concat_tables([copy_table(name, base, k, seed)
                                if name in KEY_COLS else base
                                for k in range(n)])
        perm = table_rng(seed, name).permutation(tbl.num_rows)
        tbl = tbl.take(pa.array(perm)).replace_schema_metadata(None)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = (tbl.num_rows, os.path.getsize(path))
    return sizes


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--copies", type=int, required=True)
    a = ap.parse_args()
    for name, (rows, size) in generate(a.out_dir, a.seed, a.copies).items():
        print(f"{name}\t{rows}\t{size}")


if __name__ == "__main__":
    main()
